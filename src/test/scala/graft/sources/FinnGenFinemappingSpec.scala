package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSpec

/** Behavioural pins for the FinnGen SuSiE fine-mapping ingestion, mirroring
  * the reference's expectations (datasource/finngen/finemapping.py:208-532 +
  * tests/gentropy/datasource/finngen/test_finngen_finemapping.py): filters,
  * index-selected statistics, LBF thresholding, lead choice, locus bounds,
  * id assignment and credible-set flags.
  */
class FinnGenFinemappingSpec extends SparkSpec {

  import spark.implicits._

  /** A raw SNP row with every rawSchema column the transform touches;
    * alpha/lbf/mean families default to index-encoded values so the
    * cs-index selection is observable.
    */
  private def snpRow(
      trait0: String = "T1",
      region: String = "chr1:1000-1999",
      v: String = "1:1500:A:G",
      chromosome: String = "chr1",
      position: String = "1500",
      p: String = "1.5E-9",
      cs: String = "1",
      maf: String = "0.25",
      se: String = "0.05",
      alphas: Seq[Double] = (1 to 10).map(_ / 100.0),
      lbfs: Seq[Double] = (1 to 10).map(_ * 1.0),
      means: Seq[String] = (1 to 10).map(i => s"0.$i")
  ): Row =
    Row.fromSeq(
      Seq(trait0, region, v, chromosome, position, "A", "G", maf, se, p, cs) ++
        alphas ++ lbfs ++ means)

  private val snpCols = Seq(
    "trait", "region", "v", "chromosome", "position", "allele1", "allele2",
    "maf", "se", "p", "cs") ++
    (1 to 10).map(i => s"alpha$i") ++
    (1 to 10).map(i => s"lbf_variable$i") ++
    (1 to 10).map(i => s"mean$i")

  private def snpDf(rows: Row*): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(
      snpCols.map { c =>
        val dt =
          if (c.startsWith("alpha") || c.startsWith("lbf"))
            org.apache.spark.sql.types.DoubleType
          else org.apache.spark.sql.types.StringType
        org.apache.spark.sql.types.StructField(c, dt)
      })
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
  }

  private def summaryDf(rows: (String, String, String, Double)*): DataFrame =
    rows.toSeq
      .toDF("trait", "region", "cs", "cs_log10bf")
      .withColumn("cs_avg_r2", lit(0.9))
      .withColumn("cs_min_r2", lit(0.8))

  test("position/cs filters, chr strip, index-selected statistics (finemapping.py:297-410)") {
    val snps = snpDf(
      snpRow(v = "1:1500:A:G", position = "1500", cs = "2"),
      snpRow(v = "1:bad:A:G", position = "NA"), // dropped: no integer position
      snpRow(v = "1:1501:A:G", position = "1501", cs = "-1"), // dropped: cs <= 0
      snpRow(v = "1:1502:A:G", position = "1502", cs = "0") // dropped: cs <= 0
    )
    val got = FinnGenFinemapping.processSnps(snps, "FINNGEN_R11")
    val r = got.collect()
    assert(r.length === 1)
    val row = got.head()
    assert(row.getAs[String]("studyId") === "FINNGEN_R11_T1")
    assert(row.getAs[String]("variantId") === "1_1500_A_G")
    assert(row.getAs[String]("chromosome") === "1") // "chr" stripped
    assert(row.getAs[Int]("position") === 1500)
    // cs = 2 selects alpha2 / lbf_variable2 / mean2
    assert(row.getAs[Double]("posteriorProbability") === 0.02)
    assert(row.getAs[Double]("logBF") === 2.0)
    assert(row.getAs[Double]("beta") === 0.2)
    assert(row.getAs[Float]("pValueMantissa") === 1.5f)
    assert(row.getAs[Int]("pValueExponent") === -9)
    assert(row.getAs[String]("finemappingMethod") === "SuSiE")
  }

  test("'NA'/malformed maf, se and p null out instead of failing the ingestion (ANSI try_cast)") {
    // the reference's non-ANSI casts null malformed cells (finemapping.py:
    // 297-410); under Spark 4 ANSI a plain cast would throw on the first
    // 'NA' in a row that PASSES the position/cs filters
    val snps = snpDf(
      snpRow(v = "1:1500:A:G", position = "1500", maf = "NA", se = "NA", p = "NA"),
      snpRow(v = "1:1501:A:G", position = "1501", maf = "0.1", se = "0.2", p = "1E-10"))
    val got = FinnGenFinemapping.processSnps(snps, "FINNGEN_R11")
      .orderBy("position").collect()
    assert(got.length === 2)
    assert(got(0).isNullAt(got(0).fieldIndex("effectAlleleFrequencyFromSource")))
    assert(got(0).isNullAt(got(0).fieldIndex("standardError")))
    assert(got(0).isNullAt(got(0).fieldIndex("pValueMantissa")))
    assert(got(0).isNullAt(got(0).fieldIndex("pValueExponent")))
    assert(got(1).getAs[Float]("effectAlleleFrequencyFromSource") === 0.1f)
    assert(got(1).getAs[Double]("standardError") === 0.2)
    assert(got(1).getAs[Int]("pValueExponent") === -10)
  }

  test("LBF threshold keeps sets above log10(e^2) and always the first set (finemapping.py:433-453)") {
    val got = FinnGenFinemapping
      .processSummaries(
        summaryDf(
          ("T1", "chr1:0-1", "1", 0.1), // below threshold but cs=1 → kept
          ("T1", "chr1:0-1", "2", 0.1), // below threshold → dropped
          ("T1", "chr1:0-1", "3", 2.0) // above threshold → kept
        ),
        "FINNGEN_R11")
      .select("credibleSetIndex")
      .as[Int].collect().sorted
    assert(got.toSeq === Seq(1, 3))
  }

  test("credibleSets: lead by max posterior, locus bounds, id, credible-set flags (finemapping.py:455-532)") {
    val snps = snpDf(
      // one credible set, three variants; alpha1 picks the posterior
      snpRow(v = "1:10:A:G", position = "10",
        alphas = 0.6 +: (2 to 10).map(_ / 100.0)),
      snpRow(v = "1:20:A:G", position = "20",
        alphas = 0.3 +: (2 to 10).map(_ / 100.0)),
      snpRow(v = "1:30:A:G", position = "30",
        alphas = 0.1 +: (2 to 10).map(_ / 100.0))
    )
    val sl = FinnGenFinemapping
      .credibleSets(snps, summaryDf(("T1", "chr1:1000-1999", "1", 3.0)), "FINNGEN_R11")
      .df
    val row = sl.head()
    assert(row.getAs[String]("variantId") === "1_10_A_G") // max posterior leads
    assert(row.getAs[Int]("locusStart") === 1000)
    assert(row.getAs[Int]("locusEnd") === 1999)
    assert(row.getAs[Double]("credibleSetlog10BF") === 3.0)
    assert(row.getAs[Double]("purityMeanR2") === 0.9)
    assert(row.getAs[Double]("purityMinR2") === 0.8)
    // md5(studyId || variantId || finemappingMethod), no-null path
    val expectedId = java.security.MessageDigest
      .getInstance("MD5")
      .digest("FINNGEN_R11_T11_10_A_GSuSiE".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(row.getAs[String]("studyLocusId") === expectedId)
    // locus sorted desc by posterior; 0.6+0.3 < 0.95 so all three in the 95%
    // set (the crossing variant stays in-set), cum-prev rule
    val locus = row.getSeq[Row](row.fieldIndex("locus"))
    assert(locus.map(_.getAs[String]("variantId")) ===
      Seq("1_10_A_G", "1_20_A_G", "1_30_A_G"))
    assert(locus.map(_.getAs[Boolean]("is95CredibleSet")) === Seq(true, true, true))
    // summary rows without snp rows (or vice versa) inner-join away
    val empty = FinnGenFinemapping
      .credibleSets(snps, summaryDf(("T9", "chrX:0-1", "1", 3.0)), "FINNGEN_R11")
      .df
    assert(empty.count() === 0)
  }

  test("fromSusieFinemapping reads schema-declared TSVs end to end (finemapping.py:275-295)") {
    val dir = graft.core.TempRoot.jvm.dir("graft-fgfm")
    val alphaHdr =
      (1 to 10).map(i => s"alpha$i").mkString("\t") + "\t" +
        (1 to 10).map(i => s"mean$i").mkString("\t") + "\t" +
        (1 to 10).map(i => s"sd$i").mkString("\t") + "\t" +
        (1 to 10).map(i => s"lbf_variable$i").mkString("\t")
    val snpHeader =
      "trait\tregion\tv\trsid\tchromosome\tposition\tallele1\tallele2\tmaf\t" +
        "beta\tse\tp\tmean\tsd\tprob\tcs\tcs_specific_prob\tlow_purity\t" +
        "lead_r2\tmean_99\tsd_99\tprob_99\tcs_99\tcs_specific_prob_99\t" +
        "low_purity_99\tlead_r2_99\t" + alphaHdr
    val alphaVals =
      (1 to 10).map(i => (i / 100.0).toString).mkString("\t") + "\t" +
        (1 to 10).map(i => s"0.$i").mkString("\t") + "\t" +
        (1 to 10).map(_ => "0.01").mkString("\t") + "\t" +
        (1 to 10).map(i => (i * 1.0).toString).mkString("\t")
    val snpRowTxt =
      "T1\tchr2:5000-5999\t2:5500:C:T\trs1\tchr2\t5500\tC\tT\t0.12\t0.3\t" +
        "0.05\t2.5E-8\t0.3\t0.1\t0.9\t1\t0.9\tFALSE\t0.95\t0.3\t0.1\t0.9\t" +
        "1\t0.9\tFALSE\t0.95\t" + alphaVals
    Files.writeString(dir.resolve("x.snp.tsv"), snpHeader + "\n" + snpRowTxt + "\n")
    Files.writeString(
      dir.resolve("x.cred.summary.tsv"),
      "trait\tregion\tcs\tcs_log10bf\tcs_avg_r2\tcs_min_r2\n" +
        "T1\tchr2:5000-5999\t1\t4.5\t0.99\t0.97\n")
    val sl = FinnGenFinemapping.fromSusieFinemapping(
      spark,
      Seq(dir.resolve("x.snp.tsv").toString),
      Seq(dir.resolve("x.cred.summary.tsv").toString),
      "FINNGEN_R11")
    val row = sl.df.head()
    assert(row.getAs[String]("studyId") === "FINNGEN_R11_T1")
    assert(row.getAs[String]("variantId") === "2_5500_C_T")
    val locus = row.getSeq[Row](row.fieldIndex("locus"))
    assert(locus.length === 1)
    assert(locus.head.getAs[Double]("posteriorProbability") === 0.01) // alpha1
    assert(row.getAs[Double]("credibleSetlog10BF") === 4.5)
  }
}
