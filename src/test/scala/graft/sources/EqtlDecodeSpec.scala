package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class EqtlDecodeSpec extends SparkSpec {

  test("eQTL Catalogue credible sets: dataset id, cs index, rsid dedup") {
    import spark.implicits._
    val dir = graft.core.TempRoot.jvm.dir("eqtl")
    val p = dir.resolve("QTD000584.credible_sets.tsv")
    Files.writeString(
      p,
      """molecular_trait_id	gene_id	cs_id	variant	rsid	cs_size	pip	pvalue	beta	se	z	cs_min_r2	region
        |T1	ENSG1	T1_L1	chr1_100_A_T	rs1	2	0.8	1e-9	0.5	0.1	5.0	0.9	chr1:1-1000
        |T1	ENSG1	T1_L1	chr1_100_A_T	rs1b	2	0.8	1e-9	0.5	0.1	5.0	0.9	chr1:1-1000
        |T1	ENSG1	T1_L2	chr1_200_C_G	rs2	1	0.99	1e-12	0.7	0.1	7.0	1.0	chr1:1-1000
        |""".stripMargin
    )
    val df = EqtlCatalogue.readCredibleSets(spark, p.toString)
    // rsid explosion collapsed: 2 distinct rows remain
    assert(df.count() === 2)
    val row = df.filter(col("cs_id") === "T1_L2")
      .select("dataset_id", "credibleSetIndex").as[(String, Int)].head()
    assert(row === (("QTD000584", 2)))
  }

  test("eQTL Catalogue raw summary stats: URI study id, p-value split, position/beta filters") {
    import spark.implicits._
    val dir = graft.core.TempRoot.jvm.dir("eqtl-ss")
    val sub = dir.resolve("imported/GTEx_V8/ge")
    Files.createDirectories(sub)
    val header = EqtlCatalogue.rawSummaryStatsSchema.fieldNames.mkString("\t")
    val rows = Seq(
      // kept: full row
      Seq("T1", "1", "100", "A", "G", "chr1_100_A_G", "10", "0.25", "2.5E-8",
        "0.5", "0.05", "SNP", "5", "20", "0.9", "O1", "ENSG1", "1.5", "rs1"),
      // dropped: zero beta
      Seq("T1", "1", "200", "A", "G", "chr1_200_A_G", "10", "0.25", "1E-4",
        "0.0", "0.05", "SNP", "5", "20", "0.9", "O1", "ENSG1", "1.5", "rs2"),
      // dropped: unparseable position
      Seq("T1", "1", "", "A", "G", "chr1_x_A_G", "10", "0.25", "1E-4",
        "0.3", "0.05", "SNP", "5", "20", "0.9", "O1", "ENSG1", "1.5", "rs3"),
      // kept: plain decimal p-value takes the log10 branch
      Seq("T2", "2", "300", "C", "T", "chr2_300_C_T", "10", "0.1", "0.0004",
        "-0.2", "0.02", "SNP", "5", "20", "0.9", "O2", "ENSG2", "1.5", "rs4")
    ).map(_.mkString("\t"))
    val gz = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(sub.resolve("Adipose_Subcutaneous.tsv.gz")))
    gz.write((header +: rows).mkString("\n").getBytes("UTF-8"))
    gz.close()
    val out = EqtlCatalogue.summaryStatsFromSource(
        EqtlCatalogue.readSummaryStats(spark, sub.resolve("*.tsv.gz").toString))
      .select($"studyId", $"variantId", $"position", $"pValueMantissa",
        $"pValueExponent", $"beta", $"effectAlleleFrequencyFromSource")
      .as[(String, String, Int, Float, Int, Double, Float)]
      .collect().sortBy(_._3)
    assert(out.length === 2)
    assert(out(0) === ((
      "GTEx_V8_Adipose_Subcutaneous_ENSG1", "1_100_A_G", 100, 2.5f, -8, 0.5, 0.25f)))
    // 0.0004 → mantissa 4.0, exponent -4 via the floor(log10) branch
    assert(out(1)._1 === "GTEx_V8_Adipose_Subcutaneous_ENSG2")
    assert(out(1)._4 === 4.0f && out(1)._5 === -4)
  }

  test("eQTL Catalogue study index from SuSiE results keeps schema columns, distinct") {
    import spark.implicits._
    val processed = Seq(
      ("s1", "GTEx", "eqtl", "T1", "ENSG1", "UBERON_1", "123", 500,
        "loc1", true, "naive", "1_100_A_C", 0.8),
      // same study, second variant row → one study row after distinct
      ("s1", "GTEx", "eqtl", "T1", "ENSG1", "UBERON_1", "123", 500,
        "loc1", true, "naive", "1_200_A_G", 0.2),
      ("s2", "GTEx", "sqtl", "T2", "ENSG2", "UBERON_1", "123", 500,
        "loc2", true, "naive", "1_300_A_T", 1.0)
    ).toDF("studyId", "projectId", "studyType", "traitFromSource", "geneId",
      "biosampleFromSourceId", "pubmedId", "nSamples", "summarystatsLocation",
      "hasSumstats", "condition", "variantId", "pip")
    val si = EqtlCatalogue.studyIndexFromSusieResults(processed)
    // non-StudyIndex columns dropped; schema order preserved
    assert(!si.columns.contains("variantId") && !si.columns.contains("pip"))
    assert(si.columns.head === "studyId")
    assert(si.count() === 2)
  }

  test("studies metadata reader filters blacklisted quantification methods") {
    val dir = graft.core.TempRoot.jvm.dir("eqtl-meta")
    val p = dir.resolve("metadata.tsv")
    Files.writeString(
      p,
      Seq(
        EqtlCatalogue.rawStudiesMetadataSchema.fieldNames.mkString("\t"),
        Seq("QTS1", "QTD1", "Sun_2018", "plasma", "UBERON_1", "plasma",
          "naive", "3301", "aptamer", "123", "bulk").mkString("\t"),
        Seq("QTS2", "QTD2", "GTEx", "adipose", "UBERON_2", "adipose",
          "naive", "500", "ge", "456", "bulk").mkString("\t")
      ).mkString("\n"))
    val kept = EqtlCatalogue
      .readStudiesMetadata(spark, p.toString, quantMethodsBlacklist = Seq("aptamer"))
    assert(kept.count() === 1)
    assert(kept.select("dataset_id").collect().head.getString(0) === "QTD2")
    intercept[IllegalArgumentException] {
      EqtlCatalogue.readStudiesMetadata(spark, p.toString, Seq("not-a-method"))
    }
  }

  test("deCODE allele-frequency inference matches the reference doctest") {
    import spark.implicits._
    val got = Seq((0.01, Some(0.02)), (0.01, Some(0.6)), (0.01, None: Option[Double]))
      .toDF("impMAF", "EUR_AF")
      .select(round(Decode.inferAlleleFrequency(col("impMAF"), col("EUR_AF")), 2).as("eaf"))
      .as[Double].collect().toSeq
    assert(got === Seq(0.01, 0.99, 0.01))
    val sid = Seq("x").toDF("d")
      .select(Decode.studyIdFromFile(lit("DECODE"), lit("/a/b/Proteomics_SomaScan_1.txt.gz")))
      .as[String].head()
    assert(sid === "DECODE_Proteomics_SomaScan_1")
  }

  test("study type identification matches the reference doctest (study_index.py:60-87)") {
    import spark.implicits._
    val got = Seq(("ge", "bulk"), ("leafcutter", "bulk"), ("tx", "single-cell"))
      .toDF("quant_method", "study_type")
      .select(EqtlCatalogue.identifyStudyType(col("quant_method"), col("study_type")))
      .as[String].collect().toSeq
    assert(got === Seq("eqtl", "sqtl", "sceqtl"))
  }

  test("SuSiE results parse + collapse into credible-set StudyLocus rows") {
    import spark.implicits._
    val cs = Seq(
      // two variants in credible set L1 of trait T1; chr-prefixed variant ids
      ("T1", "r1", "chr1_100_A_C", "D1", 1, 0.8, 1e-9, 0.5, 0.05, "ENSG1"),
      ("T1", "r1", "chr1_200_G_T", "D1", 1, 0.2, 1e-7, 0.4, 0.04, "ENSG1"),
      // single-variant credible set 2
      ("T1", "r1", "chr1_300_A_G", "D1", 2, 1.0, 1e-12, 0.3, 0.03, "ENSG1")
    ).toDF("molecular_trait_id", "region", "variant", "dataset_id",
      "credibleSetIndex", "pip", "pvalue", "beta", "se", "gene_id")
    val lbf = Seq(
      ("T1", "r1", "chr1_100_A_C", "D1", "1", 100, 3.0, 0.1),
      ("T1", "r1", "chr1_200_G_T", "D1", "1", 200, 2.0, 0.2),
      ("T1", "r1", "chr1_300_A_G", "D1", "1", 300, 0.5, 4.0)
    ).toDF("molecular_trait_id", "region", "variant", "dataset_id",
      "chromosome", "position", "lbf_variable1", "lbf_variable2")
      .withColumns((3 to 10).map(i => s"lbf_variable$i" -> lit(0.0)).toMap)
    val meta = Seq(
      ("D1", "S1", "GTEx", "adipose", "UBERON_0001", "naive", 500, "ge", "123", "bulk")
    ).toDF("dataset_id", "study_id", "study_label", "sample_group", "tissue_id",
      "condition_label", "sample_size", "quant_method", "pmid", "study_type")
    val parsed = EqtlCatalogue.parseSusieResults(cs, lbf, meta)
    val out = EqtlCatalogue.fromSusieResults(parsed)
      .selectExpr(
        "variantId", "credibleSetIndex", "studyType", "studyId",
        "size(locus) AS n", "round(credibleSetlog10BF, 4) AS bf",
        "round(locus[0].logBF, 2) AS leadBF")
      .as[(String, Int, String, String, Int, Double, Double)]
      .collect().sortBy(_._2)
    assert(out.length === 2)
    val l1 = out(0)
    assert(l1._1 === "1_100_A_C") // lead by pip, chr prefix stripped
    assert(l1._3 === "eqtl")
    assert(l1._4 === "gtex_ge_adipose_t1")
    assert(l1._5 === 2)
    // credible set 1: logBFs [3.0, 2.0] (lbf_variable1)
    assert(l1._7 === 3.0)
    val expectedBf = (math.log(math.exp(3.0) + math.exp(2.0)) - math.log(500.0)) / math.log(10.0)
    assert(math.abs(l1._6 - math.round(expectedBf * 10000) / 10000.0) < 1e-9)
    // credible set 2 picks lbf_variable2
    assert(out(1)._1 === "1_300_A_G" && out(1)._5 === 1)
  }

  test("fromSusieResults: NaN pip is the lead AND locus[0] (desc-window NaN-largest semantics)") {
    import spark.implicits._
    // Spark orders NaN as the largest double, so under the former
    // (pip desc) window a NaN-pip row was the lead; the min_by key and the
    // locus comparator must both agree (lead == locus[0] invariant).
    val processed = Seq(
      ("D1", "T1", "r1", 1, "1_100_A_C", Double.NaN, 9.0, -9, 3.0, 0.5, 0.05, "S1", "SuSie"),
      ("D1", "T1", "r1", 1, "1_200_G_T", 0.9, 8.0, -8, 2.0, 0.4, 0.04, "S1", "SuSie"),
      ("D1", "T1", "r1", 1, "1_300_A_G", 0.1, 7.0, -7, 1.0, 0.3, 0.03, "S1", "SuSie")
    ).toDF("dataset_id", "molecular_trait_id", "region", "credibleSetIndex",
      "variantId", "posteriorProbability", "pValueMantissa", "pValueExponent",
      "logBF", "beta", "standardError", "studyId", "finemappingMethod")
    val out = EqtlCatalogue.fromSusieResults(processed)
      .selectExpr("variantId", "locus[0].variantId AS first", "size(locus) AS n")
      .as[(String, String, Int)].collect()
    assert(out.length === 1)
    assert(out.head._1 === "1_100_A_C", "NaN pip must win the lead pick")
    assert(out.head._2 === "1_100_A_C", "locus[0] must equal the lead")
    assert(out.head._3 === 3)
  }

  test("deCODE manifest parse, study-id parts and aptamer-annotated index") {
    import spark.implicits._
    val listing = Seq(
      ("2024-03-01", "12:00:00", "5", "KiB",
        "proteomics/Proteomics_SMP_PC0_10000_28_CRP_P12345_9.txt.gz"),
      ("2024-03-01", "12:00:00", "7", "KiB",
        "proteomics/Proteomics_PC0_10055_3_NA_P1_2.txt.gz")
    ).toDF("date", "time", "size", "unit", "relativePath")
    val manifest = Decode.manifestFromBucketListing(listing, "bkt")
    val mrows = manifest
      .select("projectId", "studyId", "summarystatsLocation", "size")
      .as[(String, String, String, String)].collect().sortBy(_._2)
    assert(mrows(0) === ((
      "deCODE-proteomics-raw",
      "deCODE-proteomics-raw_Proteomics_PC0_10055_3_NA_P1_2",
      "s3a://bkt/proteomics/Proteomics_PC0_10055_3_NA_P1_2.txt.gz", "7 KiB")))
    assert(mrows(1)._1 === "deCODE-proteomics-smp")

    // aptamer metadata: SeqId normalisation, multi-target split + complex flag
    val aptRaw = Seq(
      ("SeqId.10000-28", "CRP", "C-reactive protein", "CRP", "P12345"),
      ("SeqId.10001-7", "IL6R complex", "Interleukin", "IL6R, IL6ST", "P08887,P40189")
    ).toDF("seqid", "target_name", "target_full_name", "gene_name", "uniprot")
    val apt = Decode.aptamerMetadata(aptRaw)
    val arows = apt
      .selectExpr("aptamerId", "isProteinComplex", "size(targetMetadata) AS n")
      .as[(String, Boolean, Int)].collect().sortBy(_._1)
    assert(arows.toSeq === Seq(("10000-28", false, 1), ("10001-7", true, 2)))

    // study index: NA gene filtered out, aptamer inner join, Icelandic LD
    val si = Decode.studyIndexFromManifest(
      manifest, apt,
      Seq(("CPX1", Seq("P08887", "P40189"))).toDF("id", "cids")
        .selectExpr("id", "transform(cids, x -> struct(x AS id)) AS components"))
    val srows = si
      .selectExpr(
        "studyId", "traitFromSource", "nSamples", "studyType",
        "ldPopulationStructure[0].ldPopulation")
      .as[(String, String, Int, String, String)].collect()
    assert(srows.length === 1) // the NA-gene study is dropped
    assert(srows.head._2 === "Proteomics_SMP_PC0_10000-28_CRP_P12345")
    assert(srows.head._3 === 35892 && srows.head._4 === "pqtl")
    assert(srows.head._5 === "nfe")

    // update_study_id doctest semantics: curated targets re-key the id
    val upd = manifest
      .select(Decode.updateStudyId(
        col("studyId"),
        expr("array(struct('CRP' AS geneSymbol, 'P12345' AS proteinId), " +
          "struct(CAST(NULL AS STRING) AS geneSymbol, 'P9' AS proteinId))")).as("u"))
      .as[String].collect().sorted
    assert(upd(1) ===
      "deCODE-proteomics-smp_Proteomics_SMP_PC0_10000-28_CRP,_NA_P12345,P9")
  }

  test("FinnGen EFO mapping validates columns and aggregates per study") {
    import spark.implicits._
    val raw = Seq(
      ("FINNGEN_R12", "Amoebiasis", "http://purl.obolibrary.org/obo/EFO_1"),
      ("FinnGen_r12", "Amoebiasis", "http://purl.obolibrary.org/obo/EFO_2"),
      ("FINNGEN_R11", "Amoebiasis", "http://purl.obolibrary.org/obo/EFO_3"),
      ("UKB", "Amoebiasis", "http://purl.obolibrary.org/obo/EFO_4")
    ).toDF("STUDY", "PROPERTY_VALUE", "SEMANTIC_TAG")
    val studies = Seq(
      ("FINNGEN_R12_AB1", "Amoebiasis"),
      ("FINNGEN_R12_AB2", "Unmapped trait")
    ).toDF("studyId", "traitFromSource")
    val out = FinnGen
      .annotateStudyIndexWithEfo(studies, FinnGen.loadEfoMapping(raw), "R12")
      .selectExpr("studyId", "array_sort(traitFromSourceMappedIds) AS efos")
      .as[(String, Seq[String])].collect().sortBy(_._1)
    // R12 rows only (both spellings); R11/UKB filtered; unmapped kept with []
    assert(out(0) === (("FINNGEN_R12_AB1", Seq("EFO_1", "EFO_2"))))
    assert(out(1) === (("FINNGEN_R12_AB2", Seq.empty[String])))
    intercept[IllegalArgumentException] {
      FinnGen.loadEfoMapping(Seq(("x")).toDF("STUDY"))
    }
  }
}
