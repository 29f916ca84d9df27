package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.expressions.logsumexp

class ColocalisationSpec extends SparkSpec {

  test("posterior softmax matches the Coloc._get_posteriors doctest") {
    import spark.implicits._
    // reference doctest (method/colocalisation.py:228-231):
    // np.array([0.2, 0.1, 0.05, 0]) -> [0.279, 0.2524, 0.2401, 0.2284]
    val df = Seq(Seq(0.2, 0.1, 0.05, 0.0)).toDF("allBF")
    val got = df
      .select(
        transform(col("allBF"), bf => round(exp(bf - logsumexp(col("allBF"))), 4)).as("p")
      )
      .as[Seq[Double]].head()
    assert(got === Seq(0.279, 0.2524, 0.2401, 0.2284))
  }

  test("logsumexp returns -Inf on all -Inf input (degenerate BFs)") {
    import spark.implicits._
    val df = Seq(Seq(Double.NegativeInfinity, Double.NegativeInfinity)).toDF("a")
    val got = df.select(logsumexp(col("a")).as("l")).as[Double].head()
    assert(got.isNegInfinity)
  }

  test("eCAVIAR CLPP is the product-sum of posteriors") {
    import spark.implicits._
    val overlaps = Seq(
      ("l1", "r1", "eqtl", "1", "v1", Some(0.5), Some(0.5), Some(1.0), Some(1.0)),
      ("l1", "r1", "eqtl", "1", "v2", Some(0.25), Some(0.75), Some(1.0), Some(-1.0))
    ).toDF("leftStudyLocusId", "rightStudyLocusId", "rightStudyType", "chromosome",
      "tagVariantId", "lpp", "rpp", "lb", "rb")
      .select(
        col("leftStudyLocusId"), col("rightStudyLocusId"), col("rightStudyType"),
        col("chromosome"), col("tagVariantId"),
        struct(
          lit(null).cast("double").as("left_logBF"),
          col("lpp").as("left_posteriorProbability"),
          col("lb").as("left_beta"),
          lit(null).cast("float").as("left_pValueMantissa"),
          lit(null).cast("int").as("left_pValueExponent"),
          lit(null).cast("double").as("right_logBF"),
          col("rpp").as("right_posteriorProbability"),
          col("rb").as("right_beta"),
          lit(null).cast("float").as("right_pValueMantissa"),
          lit(null).cast("int").as("right_pValueExponent")
        ).as("statistics")
      )
    val got = Colocalisation.ecaviar(overlaps)
      .select("numberColocalisingVariants", "clpp", "betaRatioSignAverage")
      .as[(Long, Double, Double)].head()
    // clpp = 0.5*0.5 + 0.25*0.75 = 0.4375 (doctest values :123-131)
    assert(got._1 === 2L)
    assert(math.abs(got._2 - 0.4375) < 1e-12)
    assert(got._3 === 0.0) // signs +1 and -1 average to 0
  }
}
