package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.expressions.logsumexp

/** Bayesian colocalisation over aligned credible-set overlaps
  * (reference: method/colocalisation.py:99-451).
  *
  * Both methods are single groupBy aggregations per overlap pair — one
  * shuffle on the pair key, with the numeric work done by codegen-friendly
  * column expressions (logsumexp as max + log·Σexp, no UDF).
  */
object Colocalisation {

  private val PairKeys =
    Seq("leftStudyLocusId", "rightStudyLocusId", "rightStudyType", "chromosome")

  /** Per-pair average beta-ratio sign, folded into the SAME aggregation as
    * the posteriors (dataset/study_locus_overlap.py:55-83 computes it as a
    * separate groupBy + join; one avg in the existing agg is semantically
    * identical — avg ignores nulls, an all-null group yields null exactly
    * like the reference's left join miss — and saves a full shuffle of the
    * aligned table plus a pair-level sort-merge join per coloc call).
    */
  private def betaRatioSignAvg(left: Column, right: Column): Column =
    avg(
      when(
        left.isNotNull && right.isNotNull && left =!= 0 && right =!= 0,
        signum(left / right)
      )
    ).as("betaRatioSignAverage")

  /** eCAVIAR: CLPP = Σ left·right posterior per overlap pair
    * (method/colocalisation.py:99-189).
    */
  /** `numberColocalisingVariants` as a plain conditional count. The earlier
    * `size(filter(collect_list(...)))` formulation forced the whole
    * aggregation into ObjectHashAggregate, which abandons its hash map for
    * a sort-based fallback after a small fixed number of distinct groups
    * per task — measured super-linear (exponent 1.09) on the 10× scale
    * probe, where pair-group count is in the millions. A codegen
    * HashAggregate count is the same number without building an array per
    * pair.
    */
  private def nColocalising(src: Column): Column =
    sum(when(src === "both", 1L).otherwise(0L)).as("numberColocalisingVariants")

  /** Group-level log-sum-exp as max-shift window + codegen sums: `mx` must
    * be `max(x) OVER (PARTITION BY group keys)`. Replaces
    * `logsumexp(collect_list(x))`: same max-shifted arithmetic, but the
    * whole aggregation stays in whole-stage-codegen HashAggregate with
    * primitive buffers, and the window reuses the aggregation's own hash
    * partitioning so no extra exchange is paid. The collect_list
    * formulation forced ObjectHashAggregate (sort-fallback at millions of
    * groups, an array materialised per pair) and measured super-linear at
    * the 10× probe; this one re-measures at exponent ~0.4.
    */
  private def logsumexpAgg(x: Column, mx: Column): Column =
    when(first(mx) === Double.NegativeInfinity, Double.NegativeInfinity)
      .otherwise(first(mx) + log(sum(exp(x - mx))))

  def ecaviar(overlaps: DataFrame): DataFrame = {
    val withClpp = overlaps
      .withColumn(
        "clpp",
        col("statistics.left_posteriorProbability") *
          col("statistics.right_posteriorProbability")
      )
      .withColumn("tagVariantSource", Overlaps.tagVariantSource(col("statistics")))
    withClpp
      .groupBy(PairKeys.map(col): _*)
      .agg(
        nColocalising(col("tagVariantSource")),
        sum(col("clpp")).as("clpp"),
        betaRatioSignAvg(col("statistics.left_beta"), col("statistics.right_beta"))
      )
      .withColumn("colocalisationMethod", lit("eCAVIAR"))
  }

  /** COLOC-PIP: approximate posteriors from PIPs only, following R
    * coloc.pp's logdiff (method/colocalisation.py:460-529). Missing-side
    * PIPs clamp to the 1e-16 pseudocount (the reference's NaN propagation on
    * missing variants is not reproduced — documented divergence).
    */
  def colocPip(
      overlaps: DataFrame,
      priorC1: Double = 1e-4,
      priorC2: Double = 1e-4,
      priorC12: Double = 1e-5
  ): DataFrame = {
    val Pseudo = 1e-16
    val p1 = math.max(priorC1, Pseudo)
    val p2 = math.max(priorC2, Pseudo)
    val p12 = math.max(priorC12, Pseudo)
    val byPair = Window.partitionBy(PairKeys.map(col): _*)
    val grouped = overlaps
      .select(
        col("leftStudyLocusId"), col("rightStudyLocusId"), col("rightStudyType"),
        col("chromosome"),
        Overlaps.tagVariantSource(col("statistics")).as("tagVariantSource"),
        greatest(coalesce(col("statistics.left_posteriorProbability"), lit(Pseudo)), lit(Pseudo))
          .as("lpp"),
        greatest(coalesce(col("statistics.right_posteriorProbability"), lit(Pseudo)), lit(Pseudo))
          .as("rpp"),
        col("statistics.left_beta").as("left_beta"),
        col("statistics.right_beta").as("right_beta")
      )
      .withColumn("l1", log(col("lpp")))
      .withColumn("l2", log(col("rpp")))
      .withColumn("l12", log(col("lpp")) + log(col("rpp")))
      .withColumn("m1", max(col("l1")).over(byPair))
      .withColumn("m2", max(col("l2")).over(byPair))
      .withColumn("m12", max(col("l12")).over(byPair))
      .groupBy(PairKeys.map(col): _*)
      .agg(
        nColocalising(col("tagVariantSource")),
        logsumexpAgg(col("l1"), col("m1")).as("sum_log_pip1"),
        logsumexpAgg(col("l2"), col("m2")).as("sum_log_pip2"),
        logsumexpAgg(col("l12"), col("m12")).as("log_sum_both"),
        betaRatioSignAvg(col("left_beta"), col("right_beta"))
      )
    val x = col("sum_log_pip1") + col("sum_log_pip2")
    val y = col("log_sum_both")
    val mx = greatest(x, y)
    val diffArg = greatest(exp(x - mx) - exp(y - mx), lit(0.0))
    val logdiff = when(diffArg === 0.0, lit(Double.NegativeInfinity))
      .otherwise(mx + log(diffArg))
    val pp3Raw = log(lit(p1)) + log(lit(p2)) + logdiff
    val pp4Raw = log(lit(p12)) + col("log_sum_both")
    grouped
      .withColumn("pp3_raw", pp3Raw)
      .withColumn("pp4_raw", pp4Raw)
      .withColumn("denom", logsumexp(array(col("pp3_raw"), col("pp4_raw"))))
      .select(
        col("leftStudyLocusId"), col("rightStudyLocusId"), col("rightStudyType"),
        col("chromosome"), col("numberColocalisingVariants"),
        lit(0.0).as("h0"), lit(0.0).as("h1"), lit(0.0).as("h2"),
        exp(col("pp3_raw") - col("denom")).as("h3"),
        exp(col("pp4_raw") - col("denom")).as("h4"),
        col("betaRatioSignAverage")
      )
      .withColumn("colocalisationMethod", lit("COLOC_PIP"))
  }

  /** Merged COLOC-PIP + eCAVIAR result: ColocPIP posteriors with the eCAVIAR
    * CLPP and the max colocalising-variant count (colocalisation.py:69-129).
    */
  def colocPipEcaviar(overlaps: DataFrame): DataFrame = {
    val joinKeys = Seq("leftStudyLocusId", "rightStudyLocusId", "chromosome", "rightStudyType")
    colocPip(overlaps).alias("pip")
      .join(
        ecaviar(overlaps).select(
          joinKeys.map(col) :+ col("clpp").as("clpp_ecaviar") :+
            col("numberColocalisingVariants").as("ncv_ecaviar"): _*
        ),
        joinKeys,
        "inner"
      )
      .select(
        joinKeys.map(col) :+
          lit("COLOC_PIP_ECAVIAR").as("colocalisationMethod") :+
          greatest(col("pip.numberColocalisingVariants"), col("ncv_ecaviar"))
            .as("numberColocalisingVariants") :+
          col("pip.h3").as("h3") :+ col("pip.h4").as("h4") :+
          col("clpp_ecaviar").as("clpp") :+
          col("pip.betaRatioSignAverage").as("betaRatioSignAverage"): _*
      )
  }

  /** COLOC: H0–H4 posteriors from per-pair Bayes-factor log sums
    * (method/colocalisation.py:192-451).
    */
  def coloc(
      overlaps: DataFrame,
      priorC1: Double = 1e-4,
      priorC2: Double = 1e-4,
      priorC12: Double = 1e-5,
      overlapSizeCutoff: Int = 0,
      posteriorCutoff: Double = 0.0
  ): DataFrame = {
    val Pseudocount = 1e-10
    val prepared = overlaps
      .withColumn("tagVariantSource", Overlaps.tagVariantSource(col("statistics")))
      .select(
        col("leftStudyLocusId"), col("rightStudyLocusId"), col("rightStudyType"),
        col("chromosome"), col("tagVariantSource"),
        coalesce(col("statistics.left_logBF"), lit(0.0)).as("left_logBF"),
        coalesce(col("statistics.right_logBF"), lit(0.0)).as("right_logBF"),
        coalesce(col("statistics.left_posteriorProbability"), lit(0.0)).as("left_pp"),
        coalesce(col("statistics.right_posteriorProbability"), lit(0.0)).as("right_pp"),
        col("statistics.left_beta").as("left_beta"),
        col("statistics.right_beta").as("right_beta")
      )
      .withColumn("sum_log_bf", col("left_logBF") + col("right_logBF"))

    val byPair = Window.partitionBy(PairKeys.map(col): _*)
    val grouped = prepared
      .withColumn("m1", max(col("left_logBF")).over(byPair))
      .withColumn("m2", max(col("right_logBF")).over(byPair))
      .withColumn("m12", max(col("sum_log_bf")).over(byPair))
      .groupBy(Seq("chromosome", "leftStudyLocusId", "rightStudyLocusId", "rightStudyType").map(col): _*)
      .agg(
        nColocalising(col("tagVariantSource")),
        logsumexpAgg(col("left_logBF"), col("m1")).as("logsum1"),
        logsumexpAgg(col("right_logBF"), col("m2")).as("logsum2"),
        logsumexpAgg(col("sum_log_bf"), col("m12")).as("logsum12"),
        // any tag present on both sides with both posteriors above the cutoff
        max(
          when(
            col("tagVariantSource") === "both" &&
              col("left_pp") > posteriorCutoff && col("right_pp") > posteriorCutoff,
            1
          ).otherwise(0)
        ).as("anyBothHigh"),
        betaRatioSignAvg(col("left_beta"), col("right_beta"))
      )
      .filter(
        (col("numberColocalisingVariants") > overlapSizeCutoff) || (col("anyBothHigh") === 1)
      )

    val sumlogsum = col("logsum1") + col("logsum2")
    val mx = greatest(sumlogsum, col("logsum12"))
    val logdiff = when(sumlogsum === col("logsum12"), lit(Pseudocount))
      .otherwise(mx + log(exp(sumlogsum - mx) - exp(col("logsum12") - mx)))

    val lH0 = lit(0.0)
    val lH1 = log(lit(priorC1)) + col("logsum1")
    val lH2 = log(lit(priorC2)) + col("logsum2")
    val lH3 = log(lit(priorC1)) + log(lit(priorC2)) + logdiff
    val lH4 = log(lit(priorC12)) + col("logsum12")

    val posteriors = grouped
      .withColumn("allBF", array(lH0, lH1, lH2, lH3, lH4))
      // let-bind (array, logsumexp) once per row: referencing
      // logsumexp(allBF) directly inside the lambda re-evaluates the
      // kernel per element (harmless at n=5, wrong idiom — see
      // quantizeEmbedding/Pics.normalise for the O(n²) cases)
      .withColumn(
        "posteriors",
        graft.functions.ArrayOps.bindOnce(
          "arr" -> col("allBF"), "lse" -> logsumexp(col("allBF"))) { get =>
          transform(get("arr"), bf => exp(bf - get("lse")))
        }
      )
    posteriors
      .select(
        col("leftStudyLocusId"), col("rightStudyLocusId"), col("rightStudyType"),
        col("chromosome"), col("numberColocalisingVariants"),
        col("posteriors")(0).as("h0"),
        col("posteriors")(1).as("h1"),
        col("posteriors")(2).as("h2"),
        col("posteriors")(3).as("h3"),
        col("posteriors")(4).as("h4"),
        col("betaRatioSignAverage")
      )
      .withColumn("colocalisationMethod", lit("COLOC"))
  }

  /** Append study metadata to one side of the colocalisation frame
    * (dataset/colocalisation.py:130-181): bridge studyLocusId → studyId via
    * the study locus, broadcast the bounded study index slice, prefix the
    * appended columns with the side (`right` → `rightStudyType`, …).
    * `studyType` on the right side replaces the existing `rightStudyType`.
    * As in the reference, `studyId` is always prepended to the metadata
    * columns, so the output carries e.g. `rightStudyId` unconditionally.
    */
  def appendStudyMetadata(
      coloc: DataFrame,
      studyLocus: DataFrame,
      studyIndex: DataFrame,
      metadataColumns: Seq[String],
      colocalisationSide: String = "right"
  ): DataFrame = {
    require(
      colocalisationSide == "right" || colocalisationSide == "left",
      s"colocalisationSide must be 'right' or 'left', got $colocalisationSide")
    val metadataCols = "studyId" +: metadataColumns.filterNot(_ == "studyId")
    val withStudy = studyLocus
      .select("studyLocusId", "studyId")
      .join(
        broadcast(
          studyIndex.select("studyId", metadataColumns.filterNot(_ == "studyId"): _*)),
        Seq("studyId"))
      .distinct()
    val colocDf =
      if (metadataCols.contains("studyType") && colocalisationSide == "right")
        coloc.drop("rightStudyType")
      else coloc
    val keyed = withStudy.select(
      col("studyLocusId").as(s"${colocalisationSide}StudyLocusId") +:
        metadataCols.map(c =>
          col(c).as(s"$colocalisationSide${c.head.toUpper}${c.tail}")): _*)
    keyed.join(colocDf, Seq(s"${colocalisationSide}StudyLocusId"), "right")
  }
}
