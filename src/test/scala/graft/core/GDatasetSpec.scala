package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

class GDatasetSpec extends SparkSpec {

  /** Minimal concrete dataset for the trait machinery. */
  final case class TestDs(df: DataFrame) extends GDataset[TestDs] {
    override def schemaName: String = "summary_statistics"
    override protected def withDf(newDf: DataFrame): TestDs = copy(df = newDf)
    override def qcColumnName: Option[String] = Some("qualityControls")
    override def qcMappings: Map[String, String] = Map("DUP" -> "duplicated", "BAD" -> "bad row")
  }

  test("updateQualityFlag doctest (dataset/dataset.py:372-422)") {
    val df = spark
      .createDataFrame(Seq(("S1", Seq("qc1"), true), ("S2", Seq("qc3"), false)))
      .toDF("study", "qualityControls", "condition")
    val out = df
      .withColumn(
        "qualityControls",
        GDataset.updateQualityFlag(col("qualityControls"), col("condition"), "qc2")
      )
      .collect()
    assert(out(0).getSeq[String](1) == Seq("qc1", "qc2"))
    assert(out(1).getSeq[String](1) == Seq("qc3"))
  }

  test("updateQualityFlag: null qc treated as empty") {
    val df = spark
      .createDataFrame(Seq(("S1", true), ("S2", false)))
      .toDF("study", "condition")
      .withColumn("qc", lit(null).cast("array<string>"))
    val out =
      df.withColumn("qc", GDataset.updateQualityFlag(col("qc"), col("condition"), "flag")).collect()
    assert(out(0).getSeq[String](2) == Seq("flag"))
    assert(out(1).getSeq[String](2) == Seq())
  }

  test("generateIdentifier is md5 of concat with None sentinel (dataset/dataset.py:440-456)") {
    val df = spark
      .createDataFrame(Seq(("s1", Some("v1")), ("s1", None)))
      .toDF("studyId", "variantId")
    val out = df.select(GDataset.generateIdentifier(Seq("studyId", "variantId"))).collect()
    def md5hex(s: String) =
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    assert(out(0).getString(0) == md5hex("s1v1"))
    assert(out(1).getString(0) == md5hex("s1None"))
  }

  test("validRows splits by QC flags; null QC counts as valid (dataset/dataset.py:252-299)") {
    val df = spark
      .createDataFrame(Seq(("a", Some(Seq("duplicated"))), ("b", Some(Seq.empty[String])), ("c", None)))
      .toDF("id", "qualityControls")
    val ds = TestDs(df)
    val (valid, invalid) = ds.validRows(Seq("DUP"))
    assert(valid.df.select("id").collect().map(_.getString(0)).toSet == Set("b", "c"))
    assert(invalid.df.select("id").collect().map(_.getString(0)).toSet == Set("a"))
    intercept[IllegalArgumentException](ds.validRows(Seq("NOPE")))
  }

  test("dropInfinityValues (dataset/dataset.py:301-322)") {
    val df = spark
      .createDataFrame(Seq(("a", 1.0), ("b", Double.PositiveInfinity), ("c", Double.NegativeInfinity)))
      .toDF("id", "beta")
    val out = TestDs(df).dropInfinityValues("beta").df.collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a"))
  }

  test("flagDuplicates keeps exactly one occurrence (dataset/dataset.py:424-438)") {
    val df = spark
      .createDataFrame(Seq(("k1", 1), ("k1", 2), ("k2", 3)))
      .toDF("key", "v")
    val flags = df.withColumn("dup", GDataset.flagDuplicates(col("key")))
    val byKey = flags.collect().groupBy(_.getString(0))
    assert(byKey("k1").count(!_.getBoolean(2)) == 1)
    assert(byKey("k1").count(_.getBoolean(2)) == 1)
    assert(byKey("k2").count(!_.getBoolean(2)) == 1)
  }

  test("schema validation catches type drift on a real schema") {
    val bad = spark
      .createDataFrame(Seq(("s", "v", "1", "1", 0.1, 1.0f, -8)))
      .toDF("studyId", "variantId", "chromosome", "position", "beta", "pValueMantissa", "pValueExponent")
    intercept[SchemaValidation.SchemaValidationError](TestDs(bad).validate())
  }

  test("readParquet throws on empty input and reads a directory with any non-empty file") {
    import spark.implicits._
    val dir = graft.core.TempRoot.jvm.dir("graft-read").toString
    val rows = Seq(("L1", "G1", "f", 0.5f))
      .toDF("studyLocusId", "geneId", "featureName", "featureValue")
    rows.limit(0).write.parquet(s"$dir/empty")
    rows.write.parquet(s"$dir/full")
    rows.limit(0).write.parquet(s"$dir/mixed")
    rows.write.mode("append").parquet(s"$dir/mixed")

    def read(sub: String) = GDataset.readParquet(spark, "l2g_feature", s"$dir/$sub")
    intercept[IllegalArgumentException](read("empty"))
    assert(read("full").count() === 1)
    val mixed = read("mixed")
    assert(mixed.inputFiles.length === 2)
    assert(mixed.count() === 1)
  }
}
