package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

class BgzfCodecSpec extends SparkSpec {

  import spark.implicits._

  private def writeBgzf(name: String, text: String, blockSize: Int): String = {
    val dir = graft.core.TempRoot.jvm.dir("graft-bgzf")
    val p = dir.resolve(name)
    Files.write(p, BgzfCodec.compress(text.getBytes("UTF-8"), blockSize))
    p.toString
  }

  test("BGZF compress/decompress round-trips through a plain gzip reader") {
    val text = (1 to 5000).map(i => s"row$i").mkString("\n")
    val bytes = BgzfCodec.compress(text.getBytes("UTF-8"), blockSize = 4096)
    // BGZF is valid multi-member gzip
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
    assert(new String(out.toByteArray, "UTF-8") === text)
  }

  test("splittable read: a multi-block .bgz CSV reads in parallel with exact content") {
    val rows = (1 to 20000).map(i => s"$i,val$i")
    val path = writeBgzf("data.csv.bgz", "id,v\n" + rows.mkString("\n"), blockSize = 2048)
    spark.sparkContext.hadoopConfiguration
      .set("io.compression.codecs", "graft.sources.BgzfCodec")
    // force many splits: the compressed file is ~100+ blocks of ~2 KB input
    val df = spark.read
      .option("header", "true")
      .option("inferSchema", "false")
      .csv(path)
    val partitions = df.rdd.getNumPartitions
    val got = df.select(col("id").cast("int")).as[Int].collect()
    assert(got.length === 20000, s"row count with $partitions partitions")
    assert(got.toSet === (1 to 20000).toSet)
  }

  test("splittable read with small maxPartitionBytes produces multiple splits") {
    val rows = (1 to 50000).map(i => s"$i,${"x" * 20}$i")
    val path = writeBgzf("big.csv.bgz", "id,v\n" + rows.mkString("\n"), blockSize = 4096)
    spark.sparkContext.hadoopConfiguration
      .set("io.compression.codecs", "graft.sources.BgzfCodec")
    val prev = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
      val df = spark.read.option("header", "true").csv(path)
      val partitions = df.rdd.getNumPartitions
      assert(partitions > 1, s"expected parallel read, got $partitions partition(s)")
      val ids = df.select(col("id").cast("long")).as[Long].collect()
      assert(ids.length === 50000, s"row count across $partitions splits")
      assert(ids.toSet === (1L to 50000L).toSet, "no rows lost or duplicated at split boundaries")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
        case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
      }
    }
  }

  test("EPIraction parse: assay structs, TSS distance, interval typing") {
    val raw = Seq(
      ("chr1", "1000", "2000", "ENSG1", "K562", "0.8", "enhancer", "1.0", "2.0", "3.0", "4.0", "5.0", "6.0"),
      ("chr1", "5000", "6000", "ENSG2", "K562", "0.5", "Promoter", "1.0", "2.0", "3.0", "4.0", "5.0", "6.0")
    ).toDF("#chr", "start", "end", "TargetGeneEnsemblID", "CellType", "Score", "class",
      "H3K27ac", "Open", "Cofactor", "CTCF", "HiC_contacts", "abc_tissue")
    val tss = Seq(("ENSG1", 2500L), ("ENSG2", 100L)).toDF("geneId", "tss")
    val out = Intervals.parseEpiraction(raw, tss)
    val got = out.select(
      col("geneId"), col("chromosome"), col("start"), col("end"),
      col("intervalType"), col("distanceToTss").cast("int"),
      col("resourceScore").getItem(0).getField("name"),
      col("resourceScore").getItem(0).getField("value").cast("double"),
      col("datasourceId"), col("pmid")
    ).as[(String, String, Long, Long, String, Int, String, Double, String, String)]
      .collect().sortBy(_._1)
    // enhancer 1000-2000 vs tss 2500 → min(|2500-1000|,|2500-2000|) = 500
    assert(got(0) === (("ENSG1", "1", 1000L, 2000L, "enhancer", 500, "H3K27ac", 1.0,
      "epiraction", "40027634")))
    // promoter → distance 0 regardless of tss
    assert(got(1)._5 === "promoter" && got(1)._6 === 0)
  }

  test("distanceToTss matches the reference doctest") {
    val df = Seq(
      (100, 200, "enhancer", Some(150)),
      (300, 400, "promoter", Some(350)),
      (500, 600, "enhancer", Some(400)),
      (700, 800, "enhancer", Option.empty[Int])
    ).toDF("istart", "iend", "itype", "tss")
    val got = df.select(
      Intervals.distanceToTss(col("istart"), col("iend"), col("itype"), col("tss")).as("d"))
      .as[Option[Int]].collect().toSeq
    assert(got === Seq(Some(0), Some(0), Some(100), None))
  }

  test("interval validators match the reference doctests (intervals.py:165-496)") {
    import spark.implicits._
    val iv = Seq(
      ("1", 100L, 200L, "ENSG1", "UNKNOWN_ID", "promoter", Some(0.5), "BS1", "interval1"),
      ("1", 150L, 250L, "ENSG2", "E2G", "enhancer", Some(-1.0), "BS_UNKNOWN", "interval2"),
      ("2", 300L, 400L, "ENSG3", "epiraction", "intragenic", Some(2.0), "BS1", "interval3"),
      ("2", 300L, 400L, "ENSG3", "E2G", "intergenic", None, "BS1", "interval4"),
      ("UNKNOWN_CHR", 400L, 500L, "ENSGX", "E2G", "other", Some(0.1), "BS1", "interval5"),
      ("2", 100L, 9999L, "ENSG3", "E2G", "genic", Some(0.9), "BS1", "interval6")
    ).toDF("chromosome", "start", "end", "geneId", "datasourceId",
      "intervalType", "score", "biosampleFromSourceId", "intervalId")
    val contigs = Seq(("1", 0L, 1000L), ("2", 0L, 1000L)).toDF("id", "start", "end")
    val genes = Seq("ENSG1", "ENSG2", "ENSG3").toDF("id")
    val biosamples = Seq("BS1").toDF("biosampleId")
    val out = Intervals.validateScore(
      Intervals.validateIntervalType(
        Intervals.validateBiosample(
          Intervals.validateTarget(
            Intervals.validateIntervalRange(
              Intervals.validateDatasourceId(iv), contigs),
            genes),
          biosamples)),
      0.0, 1.0)
      .select("intervalId", "qualityControls")
      .as[(String, Seq[String])].collect().toMap
    assert(out("interval1") === Seq(Intervals.UnknownProjectIdFlag))
    assert(out("interval2").toSet === Set(
      Intervals.UnknownBiosampleFlag, Intervals.ScoreOutsideBoundsFlag))
    assert(out("interval3").toSet === Set(
      Intervals.AmbiguousIntervalTypeFlag, Intervals.ScoreOutsideBoundsFlag))
    assert(out("interval4").toSet === Set(
      Intervals.AmbiguousIntervalTypeFlag, Intervals.ScoreOutsideBoundsFlag))
    assert(out("interval5").toSet === Set(
      Intervals.InvalidChromosomeFlag, Intervals.UnresolvedTargetFlag,
      Intervals.UnknownIntervalTypeFlag))
    assert(out("interval6") === Seq(Intervals.InvalidRangeFlag))
  }
}
