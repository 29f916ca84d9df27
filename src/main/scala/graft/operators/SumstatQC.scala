package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{SpecialMath, Stats}

/** Per-study QC aggregates over summary statistics
  * (reference: method/sumstat_quality_controls.py:97-414).
  */
object SumstatQC {

  /** chi² ppf(0.5, df=1): expected median of z² under the null. */
  val Chi2MedianNull: Double = SpecialMath.chi2Isf(0.5)

  // Each statistic's aggregate is defined once and shared by its standalone
  // check and by the fused fromSummaryStatistics composite.
  private val z2: Column = pow(col("beta") / col("standardError"), 2)

  private val gcLambdaAgg: Column =
    (percentile_approx(z2, lit(0.5), lit(1000000)) / Chi2MedianNull).as("gc_lambda")

  // Rows with z² > 100 aggregate as null, which mean/stddev skip; the χ²
  // kernel runs only for the admitted rows.
  private val pzAdmitted: Column = z2 <= 100

  private val pzDiff: Column = when(
    pzAdmitted,
    Stats.neglogpvalFromPvalue(col("pValueMantissa"), col("pValueExponent")) -
      Stats.neglogpvalFromZ2(z2))

  private val pzAggs: Seq[Column] =
    Seq(mean(pzDiff).as("mean_diff_pz"), stddev(pzDiff).as("se_diff_pz"))

  private val meanBetaAgg: Column = avg("beta").as("mean_beta")

  private def variantCountAggs(pValueThreshold: Double): Seq[Column] = Seq(
    count(lit(1)).as("n_variants"),
    sum(
      Stats
        .pvalueFilterCondition(col("pValueMantissa"), col("pValueExponent"), pValueThreshold)
        .cast("long")
    ).as("n_variants_sig"))

  private def perStudy(gwas: DataFrame, aggs: Seq[Column]): DataFrame =
    gwas.groupBy("studyId").agg(aggs.head, aggs.tail: _*)

  /** Genomic-control lambda: median(z²) / chi²_ppf(0.5)
    * (sumstat_quality_controls.py:97-154).
    *
    * Like the reference, uses `percentile_approx`, which selects the lower
    * existing element rather than interpolating (the doctest value 0.55 for
    * a 2-element study depends on this); at default accuracy it is exact for
    * per-study groups under 10k rows, and matches DuckDB's `quantile_disc`.
    */
  def gcLambda(gwas: DataFrame): DataFrame = perStudy(gwas, Seq(gcLambdaAgg))

  /** P-Z test: mean and stddev of (reported − z-derived) neglog p-value per
    * study; rows with z² > 100 are excluded, so a study with no admitted row
    * is absent (sumstat_quality_controls.py:157-227).
    */
  def pzTest(gwas: DataFrame): DataFrame = perStudy(gwas.filter(pzAdmitted), pzAggs)

  /** Mean beta per study (sumstat_quality_controls.py:230-274). */
  def meanBeta(gwas: DataFrame): DataFrame = perStudy(gwas, Seq(meanBetaAgg))

  /** Effective-sample-size ratio spread per study: stddev of N̂/N where N̂
    * derives from the windowed median phenotypic variance
    * (sumstat_quality_controls.py:277-364). Requires allele frequencies.
    */
  def nEffCheck(
      gwas: DataFrame,
      nTotal: Int = 100000,
      limit: Int = 10000000,
      minCount: Int = 100
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val af = col("effectAlleleFrequencyFromSource")
    val se = col("standardError")
    val beta = col("beta")
    // genotypic variance 2f(1-f) (sumstat_quality_controls.py:29-94)
    val varG = lit(2.0) * af * (lit(1.0) - af)
    val phenoVar = pow(se, 2) * nTotal * varG + pow(beta, 2) * varG
    // orderBy on the partition key → RANGE frame spans the whole partition,
    // so this windowed percentile is the full per-study median (same trick
    // as the reference).
    val window = Window.partitionBy("studyId").orderBy("studyId")
    // accuracy 1e5 → rank error ≤ rows/1e5 per study: exact at the sf0.01
    // correctness gate (~6k rows/study) with a 10× smaller sketch than the
    // 1e6 it replaced (the reference runs Spark's default 1e4 and tolerates
    // an approximate median; we keep the oracle hash-exact).
    val phenoMedian = percentile_approx(phenoVar, lit(0.5), lit(100000)).over(window)
    val nHatRatio = (phenoMedian - pow(beta, 2) * varG) / (pow(se, 2) * varG * nTotal)

    gwas
      .na.drop(Seq("effectAlleleFrequencyFromSource"))
      .withColumn("count", count(lit(1)).over(window))
      .filter(col("count") >= minCount)
      .drop("count")
      .withColumn("row_num", row_number().over(window))
      .filter(col("row_num") <= limit)
      .drop("row_num")
      .withColumn("N_hat_ratio", nHatRatio)
      .groupBy("studyId")
      .agg(stddev(col("N_hat_ratio")).as("se_N"))
  }

  /** The SummaryStatisticsQC wide frame (dataset/summary_statistics_qc.py:
    * 76-139 from_summary_statistics): mean beta, PZ test, GC lambda and
    * variant counts per study. The reference outer-joins the four checks on
    * studyId; here they are one aggregation over the same aggregate
    * expressions, so the sumstats are scanned and shuffled once. A study
    * with no row admitted to the PZ test gets null PZ columns, as under the
    * outer join.
    */
  def fromSummaryStatistics(gwas: DataFrame, pValueThreshold: Double = 1e-8): DataFrame =
    perStudy(
      gwas,
      Seq(meanBetaAgg) ++ pzAggs ++ Seq(gcLambdaAgg) ++ variantCountAggs(pValueThreshold))

  /** Total and genome-wide-significant variant counts per study
    * (sumstat_quality_controls.py:367-414).
    */
  def variantCounts(gwas: DataFrame, pValueThreshold: Double = 5e-8): DataFrame =
    perStudy(gwas, variantCountAggs(pValueThreshold))
}
