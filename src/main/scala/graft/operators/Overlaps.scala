package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Credible-set overlap computation: which pairs of study-loci share tag
  * variants (reference: dataset/study_locus.py:493-625).
  *
  * Scale design: the self-join is an equi sort-merge/shuffle join on
  * (chromosome, tagVariantId) with the asymmetry predicates left as residual
  * filters; the reference repartitions the distinct pair set by chromosome
  * afterwards, which we keep for downstream chromosome-local processing.
  */
object Overlaps {

  val StatsCols: Seq[String] =
    Seq("logBF", "posteriorProbability", "beta", "pValueMantissa", "pValueExponent")

  /** Pairs of (left GWAS) × (right any-type) study-loci sharing a tag variant
    * on the same chromosome (dataset/study_locus.py:493-563).
    */
  def overlappingPeaks(credsetToOverlap: DataFrame): DataFrame = {
    val minimal = credsetToOverlap.select(
      "studyLocusId", "studyId", "studyType", "chromosome", "region", "tagVariantId")
    val joinCondition =
      col("left.chromosome") === col("right.chromosome") &&
        col("left.tagVariantId") === col("right.tagVariantId") &&
        (col("right.studyType") =!= "gwas" ||
          col("left.studyLocusId") > col("right.studyLocusId")) &&
        col("left.studyType") === lit("gwas")
    minimal.alias("left")
      .join(minimal.alias("right"), joinCondition, "inner")
      .select(
        col("left.studyLocusId").as("leftStudyLocusId"),
        col("right.studyLocusId").as("rightStudyLocusId"),
        col("right.studyType").as("rightStudyType"),
        col("left.chromosome").as("chromosome")
      )
      .distinct()
      // The reference repartitions by chromosome alone (study_locus.py:561),
      // which caps downstream parallelism at 24 partitions and concentrates
      // chr1/chr2 skew into single tasks at scale. A composite key keeps
      // chromosome locality while fanning each chromosome over 64 sub-splits.
      .repartition(col("chromosome"), pmod(hash(col("leftStudyLocusId")), lit(64)))
  }

  /** Align tags of overlapping pairs via a full outer join, packing left/right
    * statistics into one struct (dataset/study_locus.py:565-625).
    */
  def alignOverlappingTags(lociToOverlap: DataFrame, peakOverlaps: DataFrame): DataFrame = {
    val overlappingLeft = lociToOverlap.select(
      col("chromosome") +: col("tagVariantId") +:
        col("studyLocusId").as("leftStudyLocusId") +:
        StatsCols.map(c => col(c).as(s"left_$c")): _*
    ).join(peakOverlaps, Seq("chromosome", "leftStudyLocusId"), "inner")

    val overlappingRight = lociToOverlap.select(
      col("chromosome") +: col("tagVariantId") +:
        col("studyLocusId").as("rightStudyLocusId") +:
        StatsCols.map(c => col(c).as(s"right_$c")): _*
    ).join(peakOverlaps, Seq("chromosome", "rightStudyLocusId"), "inner")

    overlappingLeft
      .join(
        overlappingRight,
        Seq("chromosome", "rightStudyLocusId", "leftStudyLocusId", "tagVariantId", "rightStudyType"),
        "outer"
      )
      .select(
        col("leftStudyLocusId"),
        col("rightStudyLocusId"),
        col("rightStudyType"),
        col("chromosome"),
        col("tagVariantId"),
        struct(
          StatsCols.map(c => col(s"left_$c")) ++ StatsCols.map(c => col(s"right_$c")): _*
        ).as("statistics")
      )
  }

  /** Explode credible sets and produce the aligned overlap table
    * (dataset/study_locus.py:845-890).
    *
    * The exploded tag table feeds three joins but is deliberately NOT
    * persisted: at scale, caching it writes the full exploded credible-set
    * table (tags × statistics) to executor storage, which costs more than
    * re-running the explode projection per join. The result is not
    * persisted either; a caller that reuses it across several actions
    * persists it and owns the unpersist. The coloc harness queries
    * (harness/ColocQueries.alignedOverlaps) each read it once and build it
    * fresh per query.
    */
  def findOverlaps(studyLocusWithLocus: DataFrame): DataFrame = {
    val exploded = studyLocusWithLocus
      .withColumn("tag", explode(col("locus")))
      .select(
        col("studyLocusId"), col("studyId"), col("studyType"), col("chromosome"),
        col("region"),
        col("tag.variantId").as("tagVariantId"),
        col("tag.logBF").as("logBF"),
        col("tag.posteriorProbability").as("posteriorProbability"),
        col("tag.beta").as("beta"),
        col("tag.pValueMantissa").as("pValueMantissa"),
        col("tag.pValueExponent").as("pValueExponent")
      )
    alignOverlappingTags(exploded, overlappingPeaks(exploded))
    // Deliberately NO repartition here: the full-outer align reports
    // UnknownPartitioning, so a downstream per-pair aggregation re-shuffles
    // regardless — and an explicit pair-key repartition measured as pure
    // extra cost (an InMemoryRelation over an AQE plan does not propagate
    // partitioning, so even a persisted copy re-exchanges; round-10
    // measurement: q_coloc 5.2 s without vs 10.4 s with the repartition).
  }

  /** Average sign of the left/right beta ratio per overlap pair
    * (dataset/study_locus_overlap.py:55-83).
    */
  def calculateBetaRatio(overlaps: DataFrame): DataFrame =
    overlaps
      .select(
        col("leftStudyLocusId"), col("rightStudyLocusId"), col("chromosome"),
        col("statistics.left_beta").as("left_beta"),
        col("statistics.right_beta").as("right_beta")
      )
      .filter(
        col("left_beta").isNotNull && col("right_beta").isNotNull &&
          col("left_beta") =!= 0 && col("right_beta") =!= 0
      )
      .withColumn("betaRatioSign", signum(col("left_beta") / col("right_beta")))
      .groupBy("leftStudyLocusId", "rightStudyLocusId", "chromosome")
      .agg(avg("betaRatioSign").as("betaRatioSignAverage"))

  /** Which side a tag variant came from in an aligned overlap row
    * (method/colocalisation.py:26-57 get_tag_variant_source): "both" when
    * both posteriors are present, else "left"/"right".
    */
  def tagVariantSource(statistics: Column): Column =
    when(
      statistics.getField("left_posteriorProbability").isNotNull &&
        statistics.getField("right_posteriorProbability").isNotNull,
      lit("both"))
      .when(statistics.getField("left_posteriorProbability").isNotNull, lit("left"))
      .when(statistics.getField("right_posteriorProbability").isNotNull, lit("right"))
}
