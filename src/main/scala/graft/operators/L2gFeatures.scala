package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** L2G feature factory: colocalisation-derived features
  * (reference: dataset/l2g_features/colocalisation.py, dataset/
  * colocalisation.py:37-205). Each feature is max colocalisation evidence
  * per (credible set, gene) for one QTL type and one method metric; the
  * neighbourhood variants normalise by the regional maximum across genes.
  *
  * Scale notes: everything is equi-join, aggregation or window — shuffles
  * on (studyLocusId, geneId) keys only; the coloc features share one
  * aggregation; the matrix pivot takes an explicit feature-name list (no
  * driver-side value enumeration).
  */
object L2gFeatures {

  /** The 6 local coloc features: (featureName, method, metric, qtlType). */
  val ColocFeatureDefs: Seq[(String, String, String, String)] = Seq(
    ("eQtlColocClppMaximum", "ECaviar", "clpp", "eqtl"),
    ("pQtlColocClppMaximum", "ECaviar", "clpp", "pqtl"),
    ("sQtlColocClppMaximum", "ECaviar", "clpp", "sqtl"),
    ("eQtlColocH4Maximum", "Coloc", "h4", "eqtl"),
    ("pQtlColocH4Maximum", "Coloc", "h4", "pqtl"),
    ("sQtlColocH4Maximum", "Coloc", "h4", "sqtl")
  )

  /** Keep only cis-QTL colocalisations: the right study locus must not be a
    * trans QTL (dataset/colocalisation.py:183-205). Left-semi join — never
    * collects, streams the 100 TB coloc side.
    */
  def dropTransEffects(coloc: DataFrame, studyLoci: DataFrame): DataFrame =
    coloc.join(
      studyLoci
        .filter(!coalesce(col("isTransQtl"), lit(false)))
        .select(col("studyLocusId").as("rightStudyLocusId")),
      Seq("rightStudyLocusId"),
      "left_semi"
    )

  /** Coloc features in long format (studyLocusId, geneId, featureName,
    * featureValue) (l2g_features/colocalisation.py:23-75,
    * dataset/colocalisation.py:37-129): per feature, the maximum evidence
    * per (credible set, gene) over the colocalisations of its method and QTL
    * type. The combined method "coloc_pip_ecaviar" carries both CLPP and H4,
    * so it is admitted alongside every method.
    *
    * One pass for any number of features: the coloc side is filtered to the
    * union of the admitted methods and QTL types and semi-joined once, one
    * aggregation per (credible set, gene) takes every feature's
    * `max(when(admitted, metric))` and whether any row was admitted, and
    * one explode emits the admitted features. A gene whose admitted rows all
    * have a null metric gets a null value; NaN is the largest value, as in
    * a descending sort.
    *
    * @param defs (featureName, method, metric, qtlType), as in
    *             [[ColocFeatureDefs]]
    */
  def colocFeatures(
      coloc: DataFrame,
      studyLoci: DataFrame,
      defs: Seq[(String, String, String, String)]
  ): DataFrame = {
    val method = lower(col("colocalisationMethod"))
    val qtlType = lower(col("rightStudyType"))
    def methods(m: String) = Seq(m.toLowerCase, "coloc_pip_ecaviar")
    val admits = defs.map { case (_, m, _, q) =>
      method.isin(methods(m): _*) && qtlType === q.toLowerCase
    }
    val aggs = defs.indices.flatMap { k =>
      Seq(
        max(when(admits(k), col(defs(k)._3))).cast("double").as(s"_value$k"),
        max(admits(k)).as(s"_present$k"))
    }
    coloc
      .filter(
        col("rightGeneId").isNotNull &&
          method.isin(defs.flatMap(d => methods(d._2)).distinct: _*) &&
          qtlType.isin(defs.map(_._4.toLowerCase).distinct: _*))
      .join(
        studyLoci.select(col("studyLocusId").as("leftStudyLocusId")),
        Seq("leftStudyLocusId"),
        "left_semi")
      .groupBy(col("leftStudyLocusId").as("studyLocusId"), col("rightGeneId").as("geneId"))
      .agg(aggs.head, aggs.tail: _*)
      .select(
        col("studyLocusId"),
        col("geneId"),
        inline(array(defs.indices.map { k =>
          struct(
            lit(defs(k)._1).as("featureName"),
            col(s"_value$k").as("featureValue"),
            col(s"_present$k").as("present"))
        }: _*)))
      .filter(col("present"))
      .drop("present")
  }

  /** One coloc feature in long format; see [[colocFeatures]]. */
  def colocFeature(
      coloc: DataFrame,
      studyLoci: DataFrame,
      method: String,
      metric: String,
      qtlType: String,
      featureName: String
  ): DataFrame =
    colocFeatures(coloc, studyLoci, Seq((featureName, method, metric, qtlType)))

  /** All six local coloc features in long format, from one pass. */
  def allColocFeatures(coloc: DataFrame, studyLoci: DataFrame): DataFrame =
    colocFeatures(coloc, studyLoci, ColocFeatureDefs)

  /** Neighbourhood variant: feature value relative to the regional maximum
    * across genes at the same study locus; 0 when the region has no signal
    * (l2g_features/colocalisation.py:129-205).
    */
  def neighbourhoodFeature(
      localLong: DataFrame,
      featureName: String,
      clamp: Boolean = false
  ): DataFrame = {
    val regionalMax = max(col("featureValue")).over(Window.partitionBy(col("studyLocusId")))
    val ratioed = localLong
      .withColumn("regional_max", regionalMax)
      .withColumn(
        "featureValue",
        when(
          col("regional_max").isNotNull && col("regional_max") =!= 0.0,
          col("featureValue") / coalesce(col("regional_max"), lit(0.0))
        ).otherwise(lit(0.0)))
      .withColumn("featureName", lit(featureName))
      .drop("regional_max")
    // The distance family clamps the ratio into [0, 1]
    // (l2g_features/distance.py:133-139); coloc features do not.
    if (clamp)
      ratioed.withColumn(
        "featureValue",
        when(col("featureValue") < 0.0, 0.0)
          .when(col("featureValue") > 1.0, 1.0)
          .otherwise(col("featureValue")))
    else ratioed
  }

  /** Artificial zero-valued features for protein-coding genes in the locus
    * footprint that have no colocalisation evidence
    * (l2g_features/colocalisation.py:77-127): these genes must participate
    * in the neighbourhood normalisation.
    *
    * @param codingVariantGeneLut (variantId, geneId) pairs for
    *                             protein-coding genes (from VariantIndex
    *                             transcript consequences × TargetIndex)
    * @param studyLocusVariant    (studyLocusId, variantId)
    */
  def extendMissingColocToNeighbourhoodGenes(
      localFeatures: DataFrame,
      codingVariantGeneLut: DataFrame,
      studyLocusVariant: DataFrame
  ): DataFrame = {
    val withVariant = localFeatures.join(studyLocusVariant, Seq("studyLocusId"))
    codingVariantGeneLut
      .join(withVariant, Seq("variantId", "geneId"), "left_anti")
      .join(withVariant.select("studyLocusId", "variantId").distinct(), Seq("variantId"))
      .drop("variantId")
      .withColumn("featureValue", lit(0.0))
  }

  /** Long features → wide matrix with an explicit, caller-bounded feature
    * list (no collect-based pivot value discovery).
    */
  def featureMatrix(featuresLong: DataFrame, featureNames: Seq[String]): DataFrame =
    featuresLong
      .groupBy(col("studyLocusId"), col("geneId"))
      .pivot("featureName", featureNames)
      .agg(first(col("featureValue")))

  /** Distance feature between credible-set variants and genes
    * (l2g_features/distance.py:21-84): score = W − |distance| + 1, Mean
    * features weight by posterior probability and sum, Sentinel features
    * take the lead variant's unweighted score; the aggregate is
    * log10-normalised to (0, 1].
    *
    * @param credsetVariants (studyLocusId, variantId, posteriorProbability)
    *                        — exploded locus for Mean features, lead rows
    *                        (pp ignored) for Sentinel features
    * @param distances       (variantId, geneId, distance)
    */
  def distanceFeature(
      credsetVariants: DataFrame,
      distances: DataFrame,
      featureName: String,
      genomicWindow: Long = 500000L
  ): DataFrame = {
    val scoreExpr =
      if (featureName.contains("Mean"))
        (lit(genomicWindow) - abs(col("distance")) + lit(1)) * col("posteriorProbability")
      else
        (lit(genomicWindow) - abs(col("distance")) + lit(1)).cast("double")
    val aggExpr =
      if (featureName.contains("Mean")) sum(col("distance_score"))
      else first(col("distance_score"))
    credsetVariants
      .join(distances, Seq("variantId"), "inner")
      .withColumn("distance_score", scoreExpr)
      .groupBy(col("studyLocusId"), col("geneId"))
      .agg(aggExpr.as("distance_score_agg"))
      .select(
        col("studyLocusId"),
        col("geneId"),
        lit(featureName).as("featureName"),
        (log10(col("distance_score_agg")) / log10(lit(genomicWindow + 1.0)))
          .as("featureValue"))
  }

  /** VEP severity feature (l2g_features/vep.py:21-75): per (credible set,
    * gene), either the maximum transcript-consequence severity score or the
    * posterior-probability-weighted mean.
    *
    * @param credsetVariants (studyLocusId, variantId, posteriorProbability)
    * @param consequences    (variantId, geneId, severityScore)
    */
  def vepFeature(
      credsetVariants: DataFrame,
      consequences: DataFrame,
      featureName: String
  ): DataFrame = {
    val joined = credsetVariants.join(consequences, Seq("variantId"), "inner")
    val agg =
      if (featureName.contains("Maximum")) max(col("severityScore"))
      else avg(col("severityScore") * col("posteriorProbability"))
    joined
      .groupBy(col("studyLocusId"), col("geneId"))
      .agg(agg.cast("double").as("featureValue"))
      .select(
        col("studyLocusId"), col("geneId"),
        lit(featureName).as("featureName"), col("featureValue"))
  }

  /** Gene-count feature (l2g_features/other.py:20-83): number of (optionally
    * protein-coding) genes whose TSS falls in a window around the lead, the
    * same count attached to every gene in the window. Exact countDistinct —
    * at a few hundred genes per 500 kb window the exact count is as cheap as
    * the reference's approx_count_distinct and keeps the feature
    * deterministic.
    *
    * @param studyLoci (studyLocusId, chromosome, position)
    * @param genes     (geneId, chromosome, tss, biotype)
    */
  def geneCountFeature(
      studyLoci: DataFrame,
      genes: DataFrame,
      featureName: String,
      genomicWindow: Long = 500000L,
      proteinCodingOnly: Boolean = false
  ): DataFrame = {
    val filtered =
      if (proteinCodingOnly) genes.filter(col("biotype") === "protein_coding") else genes
    val windowed = studyLoci
      .select(
        col("studyLocusId"),
        col("chromosome").as("SL_chromosome"),
        (col("position") - genomicWindow / 2).as("window_start"),
        (col("position") + genomicWindow / 2).as("window_end"))
    val inWindow = windowed.join(
      broadcast(filtered),
      col("SL_chromosome") === filtered("chromosome") &&
        filtered("tss") >= col("window_start") && filtered("tss") <= col("window_end"),
      "inner")
    val counts = inWindow
      .groupBy(col("studyLocusId"))
      .agg(countDistinct(col("geneId")).cast("double").as("featureValue"))
    inWindow
      .select(col("studyLocusId"), col("geneId"))
      .distinct()
      .join(counts, Seq("studyLocusId"))
      .select(
        col("studyLocusId"), col("geneId"),
        lit(featureName).as("featureName"), col("featureValue"))
  }

  /** E2G enhancer→gene interval feature, bin-accelerated
    * (l2g_features/intervals.py:53-209). A naive variant-in-interval overlap
    * is a range join — O(variants × intervals) per chromosome. The reference
    * (and this port) turns it into an equi join: bucket both sides into
    * fixed-width genomic bins, explode each interval over the bins it spans
    * (capped at [[maxBinsPerInterval]] so one pathological interval cannot
    * fan out unboundedly), join on (chromosome, bin), then apply the exact
    * positional filter. Shuffles on (chromosome, bin) — thousands of keys
    * per chromosome, so parallelism is not capped at 24 and skew follows
    * variant density, not chromosome count.
    *
    * Per (variant, gene): max interval score. Per (locus, gene): sum of
    * max-scores weighted by posterior probability → `baseName`; the
    * neighbourhood column is the ratio to the locus-wide maximum.
    *
    * @param credsetVariants (studyLocusId, chromosome, position,
    *                        posteriorProbability) — exploded credible sets
    * @param intervals       (chromosome, start, end, geneId, score)
    */
  def e2gFeature(
      credsetVariants: DataFrame,
      intervals: DataFrame,
      baseName: String = "e2gMean",
      ppMin: Double = 0.001,
      binSize: Int = 50000,
      maxBinsPerInterval: Int = 1000
  ): DataFrame = {
    val slx = credsetVariants
      .filter(
        col("posteriorProbability") >= ppMin &&
          col("chromosome").isNotNull && col("position").isNotNull)
      .select(
        col("studyLocusId"),
        col("chromosome").as("sl_chromosome"),
        col("position"),
        col("posteriorProbability").as("pp"))
      .withColumn("bin", (col("position") / binSize).cast("long"))
    val startBin = (col("start") / binSize).cast("long")
    val endBin = (col("end") / binSize).cast("long")
    val ivf = intervals
      .filter(col("score").isNotNull)
      .select(
        col("chromosome").as("iv_chromosome"),
        col("start"), col("end"), col("geneId"),
        col("score").cast("double").as("score"))
      .withColumn("start_bin", startBin)
      .withColumn("end_bin", endBin)
      .filter(
        col("end_bin") - col("start_bin") + 1 > 0 &&
          col("end_bin") - col("start_bin") + 1 <= maxBinsPerInterval)
      .withColumn("bin", explode(sequence(col("start_bin"), col("end_bin"))))
      .drop("start_bin", "end_bin")
    val joined = slx
      .join(
        ivf,
        col("sl_chromosome") === col("iv_chromosome") && slx("bin") === ivf("bin"),
        "inner")
      .filter(col("position") >= col("start") && col("position") <= col("end"))
    val perVariantGene = joined
      .groupBy(col("studyLocusId"), col("sl_chromosome"), col("position"), col("geneId"))
      .agg(
        max(col("score")).as("maxScore"),
        first(col("pp"), ignoreNulls = true).as("pp"))
    val base = perVariantGene
      .groupBy(col("studyLocusId"), col("geneId"))
      .agg(sum(col("maxScore") * col("pp")).as(baseName))
    val regionalMax = max(col(baseName)).over(Window.partitionBy(col("studyLocusId")))
    base
      .withColumn("regional_max", regionalMax)
      .select(
        col("studyLocusId"),
        col("geneId"),
        col(baseName),
        when(col("regional_max") =!= 0.0, col(baseName) / col("regional_max"))
          .otherwise(lit(0.0))
          .as(s"${baseName}Neighbourhood"))
  }

  /** Protein-coding flag feature (l2g_features/other.py:86-144, 228-268):
    * 1.0 when a gene reachable from any credible-set variant (within
    * `genomicWindow` of the footprint) is protein-coding, else 0.0. The
    * reference emits `.distinct()` rows, which can keep both flags when a
    * gene carries transcripts of mixed biotypes; this port aggregates with
    * `max` so the feature is single-valued and deterministic.
    *
    * @param credsetVariants (studyLocusId, variantId)
    * @param genesInWindow   (variantId, geneId, biotype,
    *                        distanceFromFootprint) — from the VariantIndex
    *                        transcript consequences
    */
  def proteinCodingFeature(
      credsetVariants: DataFrame,
      genesInWindow: DataFrame,
      featureName: String = "isProteinCoding",
      genomicWindow: Long = 500000L
  ): DataFrame =
    credsetVariants
      .select(col("studyLocusId"), col("variantId"))
      .join(
        genesInWindow.filter(col("distanceFromFootprint") <= genomicWindow),
        Seq("variantId"),
        "inner")
      .groupBy(col("studyLocusId"), col("geneId"))
      .agg(
        max(when(col("biotype") === "protein_coding", 1.0).otherwise(0.0))
          .as("featureValue"))
      .select(
        col("studyLocusId"), col("geneId"),
        lit(featureName).as("featureName"), col("featureValue"))

  /** Credible-set finemapping confidence → numeric score
    * (l2g_features/other.py:325-364, classes from study_locus.py:40-60).
    */
  def credibleSetConfidenceScore(confidence: Column): Column =
    when(confidence === "SuSiE fine-mapped credible set with in-sample LD", 1.0)
      .when(confidence === "SuSiE fine-mapped credible set with out-of-sample LD", 0.75)
      .when(confidence === "PICS fine-mapped credible set extracted from summary statistics", 0.5)
      .when(confidence === "PICS fine-mapped credible set based on reported top hit", 0.25)
      .otherwise(0.0)
}
