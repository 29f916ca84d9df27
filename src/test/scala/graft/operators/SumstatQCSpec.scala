package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Golden values from the reference doctests
  * (method/sumstat_quality_controls.py:114-226).
  */
class SumstatQCSpec extends SparkSpec {

  test("gcLambda matches the reference doctest") {
    import spark.implicits._
    val df = Seq(
      ("S1", 1.81, 0.2), ("S1", -0.1, 0.2),
      ("S2", 1.0, 0.1), ("S2", 1.0, 0.1)
    ).toDF("studyId", "beta", "standardError")
    val got = SumstatQC.gcLambda(df)
      .select(col("studyId"), round(col("gc_lambda"), 2).as("l"))
      .as[(String, Double)].collect().toMap
    assert(got("S1") === 0.55)
    assert(got("S2") === 219.81)
  }

  test("pzTest matches the reference doctest") {
    import spark.implicits._
    val df = Seq(
      ("S1", 1.81, 0.2, 9.9f, -20), ("S1", -0.1, 0.2, 1.0f, -1),
      ("S2", 101.0, 10.0, 1.0f, -1), ("S2", 1.0, 0.1, 1.0f, -1), ("S2", 1.0, 0.1, 2.0f, -2)
    ).toDF("studyId", "beta", "standardError", "pValueMantissa", "pValueExponent")
    val got = SumstatQC.pzTest(df)
      .select(
        col("studyId"),
        round(col("mean_diff_pz"), 2).as("m"),
        round(col("se_diff_pz"), 2).as("s")
      )
      .as[(String, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("S1") === ((0.47, 0.45)))
    assert(got("S2") === ((-21.47, 0.49)))
  }

  test("fromSummaryStatistics composes the wide QC frame (reference doctest)") {
    // dataset/summary_statistics_qc.py:90-129 doctest golden values
    import spark.implicits._
    val df = Seq(
      ("S1", "1_10000_A_T", "1", 10000, 1.0, 0.2, 9.9f, -20),
      ("S1", "X_10001_C_T", "X", 10001, -0.1, 0.2, 1.0f, -1),
      ("S2", "1_10001_C_T", "1", 10001, 0.028, 0.2, 1.0f, -1),
      ("S2", "1_10002_G_C", "1", 10002, 0.5, 0.1, 1.0f, -1),
      // every row has z² > 100: no row is admitted to the PZ test
      ("S3", "2_100_A_T", "2", 100, 5.0, 0.2, 1.0f, -100),
      ("S3", "2_200_C_G", "2", 200, -3.0, 0.1, 2.0f, -50),
      // a single row: the PZ stddev is undefined
      ("S4", "3_100_A_T", "3", 100, 0.3, 0.1, 3.0f, -3)
    ).toDF(
      "studyId", "variantId", "chromosome", "position", "beta",
      "standardError", "pValueMantissa", "pValueExponent")
    val composite = SumstatQC.fromSummaryStatistics(df)
    val got = composite
      .filter(col("studyId").isin("S1", "S2"))
      .select(
        col("studyId"),
        round(col("mean_beta"), 2), round(col("mean_diff_pz"), 2),
        round(col("se_diff_pz"), 2), round(col("gc_lambda"), 2),
        col("n_variants"), col("n_variants_sig"))
      .as[(String, Double, Double, Double, Double, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("S1") === (("S1", 0.45, 6.78, 8.47, 0.55, 2L, 1L)))
    assert(got("S2") === (("S2", 0.26, -2.15, 4.38, 0.04, 2L, 0L)))

    // the fused aggregation equals the four standalone checks outer-joined
    // on studyId, value for value and bit for bit
    val joined = Seq(
      SumstatQC.meanBeta(df),
      SumstatQC.pzTest(df),
      SumstatQC.gcLambda(df),
      SumstatQC.variantCounts(df, 1e-8))
      .reduce((a, b) => a.join(b, Seq("studyId"), "outer"))
    assert(composite.columns.toSeq === joined.columns.toSeq)
    def bits(frame: org.apache.spark.sql.DataFrame) =
      frame.orderBy("studyId").collect().toSeq.map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case v => v
      })
    assert(bits(composite) === bits(joined))
    val byStudy = composite.collect().map(r => r.getString(0) -> r).toMap
    assert(byStudy.keySet === Set("S1", "S2", "S3", "S4"))
    assert(byStudy("S3").isNullAt(2) && byStudy("S3").isNullAt(3))
    assert(!byStudy("S3").isNullAt(1) && byStudy("S3").getLong(5) === 2L)
    assert(!byStudy("S4").isNullAt(2) && byStudy("S4").isNullAt(3))
  }
}
