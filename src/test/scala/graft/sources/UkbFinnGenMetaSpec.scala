package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec

class UkbFinnGenMetaSpec extends SparkSpec {

  import spark.implicits._

  test("UKB-PPP study index: constants, sample-size join, LD population structure") {
    val raw = Seq(
      ("UKB_PPP_EUR_A_1", "A:P1:v1", "ENSG1", "gs://sumstats/A")
    ).toDF("_gentropy_study_id", "UKBPPP_ProteinID", "ensembl_id", "_gentropy_summary_stats_link")
    val sumstats = Seq(
      ("UKB_PPP_EUR_A_1", "22", 34557L),
      ("UKB_PPP_EUR_A_1", "1", 99L) // other chromosomes ignored for N peeking
    ).toDF("studyId", "chromosome", "N")
    val out = UkbPpp.studyIndex(raw, UkbPpp.sampleSizes(sumstats))
    val row = out.select(
      col("studyType"), col("projectId"), col("traitFromSource"), col("geneId"),
      col("nSamples"),
      col("discoverySamples").getItem(0).getField("ancestry"),
      col("ldPopulationStructure").getItem(0).getField("ldPopulation"),
      col("ldPopulationStructure").getItem(0).getField("relativeSampleSize").cast("double")
    ).as[(String, String, String, String, Int, String, String, Double)].head()
    assert(row === (("pqtl", "UKB_PPP_EUR", "A:P1:v1", "ENSG1", 34557, "European", "nfe", 1.0)))
  }

  test("ancestry aggregation maps labels and computes relative shares") {
    val df = Seq(1).toDF("x").select(
      StudyIndexOps.aggregateAndMapAncestries(
        array(
          struct(lit(600.0).as("sampleSize"), lit("European").as("ancestry")),
          struct(lit(300.0).as("sampleSize"), lit("Icelandic").as("ancestry")), // also nfe
          struct(lit(100.0).as("sampleSize"), lit("Finnish").as("ancestry"))
        )).as("ld"))
    val got = df.select(explode(col("ld")).as("p"))
      .select(col("p.ldPopulation"), round(col("p.relativeSampleSize"), 6).as("r"))
      .as[(String, Double)].collect().toMap
    assert(got === Map("nfe" -> 0.9, "fin" -> 0.1))
  }

  test("harmonise flips beta/AF on reverse orientation and drops complementary flips") {
    val raw = Seq(
      // direct snp_n: kept as is
      ("S1", "1", 100, "A", "G", 0.3, 0.95, 0.5, 0.05, 8.0, 1000),
      // flip snp_n: beta and AF flipped
      ("S1", "1", 200, "A", "G", 0.3, 0.95, 0.5, 0.05, 8.0, 1000),
      // flip snp_c (A/T): strand-unresolvable, dropped
      ("S1", "1", 300, "A", "T", 0.3, 0.95, 0.5, 0.05, 8.0, 1000),
      // low INFO: dropped
      ("S1", "1", 400, "A", "G", 0.3, 0.5, 0.5, 0.05, 8.0, 1000),
      // low MAF: dropped
      ("S1", "1", 500, "A", "G", 0.00001, 0.95, 0.5, 0.05, 8.0, 1000)
    ).toDF("studyId", "chromosome", "GENPOS", "ALLELE0", "ALLELE1",
      "A1FREQ", "INFO", "BETA", "SE", "LOG10P", "N")
    val va = Seq(
      ("1", "1_100_A_G", "1_100_A_G", "direct"),
      ("1", "1_200_A_G", "1_200_G_A", "flip"),
      ("1", "1_300_A_T", "1_300_T_A", "flip"),
      ("1", "1_400_A_G", "1_400_A_G", "direct"),
      ("1", "1_500_A_G", "1_500_A_G", "direct")
    ).toDF("vaChromosome", "summary_stats_id", "variantId", "direction")
    val out = UkbPpp.harmoniseSummaryStats(raw, va)
      .select("variantId", "beta", "standardError", "sampleSize")
      .as[(String, Double, Double, Int)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq("1_100_A_G", "1_200_G_A"))
    assert(out(0)._2 === 0.5 && out(1)._2 === -0.5)
    assert(out.forall(_._3 === 0.05))
    assert(out.forall(_._4 === 1000))
  }

  test("harmonise recomputes a missing SE from the p-value chi2") {
    val raw = Seq(
      ("S1", "1", 100, "A", "G", 0.3, 0.95, 0.5, null.asInstanceOf[java.lang.Double], 8.0, 1000)
    ).toDF("studyId", "chromosome", "GENPOS", "ALLELE0", "ALLELE1",
      "A1FREQ", "INFO", "BETA", "SE", "LOG10P", "N")
    val va = Seq(("1", "1_100_A_G", "1_100_A_G", "direct"))
      .toDF("vaChromosome", "summary_stats_id", "variantId", "direction")
    val se = UkbPpp.harmoniseSummaryStats(raw, va)
      .select("standardError").as[Double].head()
    val expected = 0.5 / math.sqrt(graft.functions.SpecialMath.chi2Isf(1e-8))
    assert(math.abs(se - expected) < 1e-9)
  }

  test("FinnGen-meta phenotype extraction matches the reference doctest") {
    val got = Seq("/path/to/AB1_meta_out.tsv.gz", "/another/path/CD2_meta_out.tsv.gz")
      .toDF("p")
      .select(FinnGenMeta.extractStudyPhenotypeFromPath(col("p")).as("s"))
      .as[String].collect().toSeq
    assert(got === Seq("AB1", "CD2"))
  }

  test("FinnGen-meta cohorts + meta-analysis filter match the reference doctests") {
    val df = Seq(
      (Some(0.3), Some(0.2), Some(0.4), Some(0.1), Some(0.25)),
      (Some(0.3), None, None, Some(0.1), None),
      (None, Some(0.1), Some(0.2), None, None) // MVP-only: not meta-analyzed
    ).toDF("MVP_EUR_af_alt", "MVP_AFR_af_alt", "MVP_HIS_af_alt", "fg_af_alt", "ukbb_af_alt")
    val got = df.select(
      transform(FinnGenMeta.cohorts(), x => x.getField("cohort")).as("cohorts"),
      FinnGenMeta.isMetaAnalyzedVariant(FinnGenMeta.cohorts()).as("meta")
    ).as[(Seq[String], Boolean)].collect().toSeq
    assert(got(0)._1 === Seq("MVP_EUR", "MVP_AFR", "MVP_AMR", "FinnGen", "UKBB"))
    assert(got(0)._2 === true)
    assert(got(1)._1 === Seq("MVP_EUR", "FinnGen"))
    assert(got(1)._2 === true)
    assert(got(2)._1 === Seq("MVP_AFR", "MVP_AMR"))
    assert(got(2)._2 === false)
  }

  test("combined allele frequency is sample-size weighted (reference doctest)") {
    val df = Seq(
      ("v1", Seq(("A", Some(0.6)), ("B", Some(0.2)), ("C", Some(0.3))),
        Seq(("A", Some(100)), ("B", Some(200)), ("D", Some(20)))),
      ("v2", Seq(("A", Option.empty[Double])), Seq(("A", Some(50)))),
      ("v3", Seq(("A", Some(0.05))), Seq(("A", Option.empty[Int])))
    ).toDF("variantId", "af", "n")
      .select(
        col("variantId"),
        transform(col("af"), x =>
          struct(x.getField("_1").as("cohort"), x.getField("_2").as("alleleFrequency")))
          .as("alleleFrequencies"),
        transform(col("n"), x =>
          struct(x.getField("_1").as("cohort"), x.getField("_2").as("nSamples")))
          .as("nSamplesPerCohort"))
    val got = df.select(
      col("variantId"),
      round(
        FinnGenMeta.combinedAlleleFrequency(
          col("alleleFrequencies"), col("nSamplesPerCohort")), 2).as("caf"))
      .as[(String, Option[Double])].collect().toMap
    assert(got("v1") === Some(0.33))
    assert(got("v2") === None)
    assert(got("v3") === None)
  }

  test("unrolled fixed-cohort combined AF matches the array-generic twin") {
    // The harness oracle (q_finngen_meta_cohorts) exercises the unrolled
    // codegen path; this pin keeps the array-generic API twin arithmetic-
    // identical on the same cohort patterns, including the both-null,
    // af-without-n (MVP_AMR) and n-without-af drop-out cases.
    val df = Seq(
      (1, Some(0.6), Some(0.2), Some(0.3), Some(0.1), Some(0.05)),
      (2, None, Some(0.2), None, Some(0.1), None),
      (3, Option.empty[Double], Option.empty[Double], Some(0.3),
        Option.empty[Double], Option.empty[Double]),
      (4, None, None, None, None, None)
    ).toDF("id", "eur", "afr", "amr", "fg", "ukbb")
    val cohortNs = Seq[(String, Column)](
      "eur" -> lit(1000L), "afr" -> lit(800L), "amr" -> lit(null).cast("long"),
      "fg" -> lit(500L), "ukbb" -> lit(2000L))
    val generic = FinnGenMeta.combinedAlleleFrequency(
      array(cohortNs.map { case (c, _) =>
        struct(lit(c).as("cohort"), col(c).as("alleleFrequency"))
      }: _*),
      array(cohortNs.map { case (c, n) =>
        struct(lit(c).as("cohort"), n.as("nSamples"))
      }: _*))
    val unrolled = FinnGenMeta.combinedAlleleFrequencyUnrolled(
      cohortNs.map { case (c, n) => (col(c), n) })
    val rows = df.select(
      col("id"), round(generic, 10).as("g"), round(unrolled, 10).as("u"))
      .as[(Int, Option[Double], Option[Double])].collect()
    rows.foreach { case (id, g, u) => assert(g === u, s"row $id") }
    assert(rows.find(_._1 == 3).get._2 === None) // amr-only: af but never n
    assert(rows.find(_._1 == 4).get._2 === None)
  }

  test("scalar metaAnalyzedPredicate matches isMetaAnalyzedVariant(cohorts())") {
    // all 32 presence patterns over the five af columns
    val df = spark.range(32).select(
      col("id"),
      when(col("id") % 2 === 0, 0.1).as("MVP_EUR_af_alt"),
      when((col("id") / 2) % 2 === 0, 0.2).as("MVP_AFR_af_alt"),
      when((col("id") / 4) % 2 === 0, 0.3).as("MVP_HIS_af_alt"),
      when((col("id") / 8) % 2 === 0, 0.4).as("fg_af_alt"),
      when((col("id") / 16) % 2 === 0, 0.5).as("ukbb_af_alt"))
    val got = df.select(
      FinnGenMeta.isMetaAnalyzedVariant(FinnGenMeta.cohorts()).as("a"),
      FinnGenMeta.metaAnalyzedPredicate().as("s"),
      concat_ws(",",
        transform(FinnGenMeta.cohorts(), x =>
          concat(x.getField("biobank"), lit(":"), x.getField("cohort")))).as("al"),
      FinnGenMeta.cohortLabels().as("sl"))
      .as[(Boolean, Boolean, String, String)].collect()
    got.zipWithIndex.foreach { case ((a, s, al, sl), i) =>
      assert(a === s, s"pattern $i")
      assert(al === sl, s"pattern $i labels")
    }
  }

  test("FinnGen-meta core harmonisation builds ids and applies the meta filter") {
    val raw = Seq(
      ("1", 100L, "A", "G", Some(8.0), Some(0.5), Some(0.05), Some(0.1), Some(0.3), None),
      ("23", 200L, "C", "T", Some(9.0), Some(0.4), Some(0.04), Some(0.2), None, Some(0.1)), // FinnGen+UKBB
      ("2", 300L, "A", "G", None, Some(0.5), Some(0.05), Some(0.1), Some(0.3), None) // null p: dropped
    ).toDF("#CHR", "POS", "REF", "ALT", "all_inv_var_meta_mlogp",
      "all_inv_var_meta_beta", "all_inv_var_meta_sebeta",
      "fg_af_alt", "MVP_EUR_af_alt", "ukbb_af_alt")
      .withColumn("MVP_AFR_af_alt", lit(null).cast("double"))
      .withColumn("MVP_HIS_af_alt", lit(null).cast("double"))
    val out = FinnGenMeta.harmoniseCore(raw)
      .select("variantId", "chromosome", "beta")
      .as[(String, String, Double)].collect().sortBy(_._1)
    // row 2 has FinnGen+MVP_EUR → kept, chromosome 23 → X; row 3 dropped (null p);
    // row 1 kept (FinnGen + MVP_EUR)
    assert(out.map(_._1).toSeq === Seq("1_100_A_G", "X_200_C_T"))
  }

  test("UKBiobank study index: constants, PheCode trait recomposition, LD structure") {
    val manifest = Seq(
      ("SAIGE_585", "J40: Chronic bronchitis", 400000L, 2000L, "/sumstats/585.tsv"),
      ("NEALE2_50", "Standing height", 360000L, 0L, "/sumstats/50.tsv")
    ).toDF("code", "trait", "n_total", "n_cases", "in_path")
    val got = UkBiobank.fromSource(manifest)
      .selectExpr(
        "studyId", "projectId", "pubmedId", "publicationDate", "traitFromSource",
        "discoverySamples[0].ancestry AS anc",
        "ldPopulationStructure[0].ldPopulation AS pop",
        "round(ldPopulationStructure[0].relativeSampleSize, 6) AS share")
      .as[(String, String, Option[String], String, String, String, String, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7, r._8))).toMap
    val saige = got("SAIGE_585")
    assert(saige === (("UKBiobank", Some("30104761"), "2018-10-24",
      "Chronic Bronchitis | j40", "European=400000", "nfe", 1.0)))
    val neale = got("NEALE2_50")
    assert(neale._2.isEmpty)
    assert(neale._3 === "2018-08-01")
    assert(neale._4 === "Standing height")
  }

  test("study validation chain: duplicates, deprecated projects, types, diseases") {
    import org.apache.spark.sql.functions.{array, col, lit}
    val studies = Seq(
      ("S1", "P1", "gwas", 10L, Seq("EFO_1", "EFO_9")),
      ("S1", "P0", "gwas", 20L, Seq("EFO_1")), // duplicate id (larger tiebreak) + deprecated project
      ("S2", "P2", "sqtl", 30L, Seq.empty[String]), // qtl type fine, no traits → no disease flag (not gwas)
      ("S3", "P2", "bad", 40L, Seq("EFO_9")),  // unknown type + unresolved disease... but not gwas
      ("S4", "P2", "gwas", 50L, Seq("EFO_9"))  // gwas with unmappable EFO → unresolved disease
    ).toDF("studyId", "projectId", "studyType", "sampleSize", "traitFromSourceMappedIds")
      .withColumn("backgroundTraitFromSourceMappedIds", array().cast("array<string>"))
      .withColumn("qualityControls", lit(null).cast("array<string>"))
    val diseaseMap = Seq(("EFO_1", "D1")).toDF("efo", "diseaseId")
    val out = StudyIndexOps.validateDisease(
      StudyIndexOps.validateStudyType(
        StudyIndexOps.validateProjectId(
          StudyIndexOps.validateUniqueStudyId(studies, col("sampleSize")),
          Seq("P0"))),
      diseaseMap)
      .select("studyId", "sampleSize", "qualityControls", "diseaseIds")
      .as[(String, Long, Seq[String], Seq[String])].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(out(("S1", 10L)) === ((Seq.empty, Seq("D1"))))
    assert(out(("S1", 20L)) === ((Seq(
      StudyIndexOps.DeprecatedProjectFlag, StudyIndexOps.DuplicatedStudyFlag), Seq("D1"))))
    assert(out(("S2", 30L)) === ((Seq.empty, Seq.empty)))
    assert(out(("S3", 40L))._1 === Seq(StudyIndexOps.UnknownStudyTypeFlag))
    assert(out(("S4", 50L)) === ((Seq(StudyIndexOps.UnresolvedDiseaseFlag), Seq.empty)))
  }

  test("metaRawSchema reproduces the published column superset in file order (summary_statistics.py:64-147)") {
    val names = FinnGenMeta.metaRawSchema.fieldNames
    assert(names.length === 67)
    assert(names.take(5).toSeq === Seq("#CHR", "POS", "REF", "ALT", "SNP"))
    assert(names.last === "rsid")
    // spot-pin the block boundaries
    assert(names.contains("fg_af_alt_controls"))
    assert(names.contains("MVP_HIS_r2"))
    assert(names.contains("all_inv_var_het_p"))
    assert(names.contains("leave_ukbb_inv_var_meta_het_p"))
    assert(!names.contains("leave_all_N"))
  }

  test("alignToSchemaSuperset adds typed-null columns and turns NA into nulls (summary_statistics.py:249-264)") {
    val raw = Seq(
      ("1", "100", "A", "T", "rs1", "0.5", "NA"),
      ("2", "NA", "C", "G", "rs2", "NA", "0.1")
    ).toDF("#CHR", "POS", "REF", "ALT", "SNP", "fg_beta", "ukbb_beta")
    val aligned = FinnGenMeta.alignToSchemaSuperset(raw)
    assert(aligned.columns.toSeq === FinnGenMeta.metaRawSchema.fieldNames.toSeq)
    assert(aligned.schema("POS").dataType.typeName === "long")
    assert(aligned.schema("fg_beta").dataType.typeName === "double")
    val rows = aligned
      .select("#CHR", "POS", "fg_beta", "ukbb_beta", "MVP_EUR_r2")
      .collect().sortBy(_.getString(0))
    assert(rows(0).getLong(1) === 100L && rows(0).getDouble(2) === 0.5 && rows(0).isNullAt(3))
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2) && rows(1).getDouble(3) === 0.1)
    assert(rows.forall(_.isNullAt(4))) // missing column added as typed null
  }

  test("schemaSupersetToParquet converts divergent per-file TSVs into one partitioned dataset (summary_statistics.py:149-299)") {
    val dir = graft.core.TempRoot.jvm.dir("graft-fgmeta")
    // two files with DIFFERENT column subsets — the bulk-read failure mode
    java.nio.file.Files.writeString(
      dir.resolve("AB1_meta_out.tsv"),
      "#CHR\tPOS\tREF\tALT\tfg_beta\n1\t100\tA\tT\t0.5\n")
    java.nio.file.Files.writeString(
      dir.resolve("CD2_meta_out.tsv"),
      "#CHR\tPOS\tREF\tALT\tukbb_beta\n2\t200\tC\tG\tNA\n")
    val out = dir.resolve("out").toString
    FinnGenMeta.schemaSupersetToParquet(
      spark,
      Seq(dir.resolve("AB1_meta_out.tsv").toString, dir.resolve("CD2_meta_out.tsv").toString),
      "FINNGEN_UKBB_MVP",
      out,
      parallelism = 2)
    val got = spark.read.parquet(out)
    // both files landed in one dataset, partitioned by path-derived studyId
    val byStudy = got.select("studyId", "#CHR")
      .as[(String, String)].collect().toMap
    assert(byStudy.keySet ===
      Set("FINNGEN_UKBB_MVP_AB1_meta_out.tsv", "FINNGEN_UKBB_MVP_CD2_meta_out.tsv"))
    // superset alignment held for both files despite divergent columns
    assert(got.columns.toSet ===
      (FinnGenMeta.metaRawSchema.fieldNames.toSet + "studyId"))
    assert(got.filter($"fg_beta" === 0.5).count() === 1)
    assert(got.filter($"ukbb_beta".isNotNull).count() === 0) // NA → null
  }

  test("FinnGen-meta manifest contract: MVP detection, int casts, missing path_bucket") {
    // UKBB-only manifest (no MVP columns) — all-string input, as read from TSV
    val ukbbRaw = Seq(
      ("I9_HEARTFAIL", "Heart failure", "100", "900", "50", "950"),
      ("AB1", "Amoebiasis", null, "10", "5", "x") // null + unparseable count
    ).toDF("fg_phenotype", "name", "fg_n_cases", "fg_n_controls",
      "ukbb_n_cases", "ukbb_n_controls")
    val (c1, meta1) = FinnGenMeta.manifestContract(ukbbRaw)
    assert(meta1 === FinnGenMeta.FinnGenUkbbMeta)
    assert(c1.columns.contains("path_bucket")) // added as null when absent
    assert(c1.schema("fg_n_cases").dataType.typeName === "integer")
    val shaped = FinnGenMeta.shapeManifest(c1, meta1)
    val hf = shaped.filter($"studyId" === "FINNGEN_R12_UKB_META_I9_HEARTFAIL")
      .selectExpr(
        "nSamples", "nCases", "nControls",
        "transform(discoverySamples, x -> x.ancestry || ':' || x.sampleSize) AS ds",
        "summarystatsLocation")
      .as[(Int, Int, Int, Seq[String], Option[String])].head()
    // doctest semantics: nulls coalesce to 0 in every sum
    assert(hf === ((2000, 150, 1850, Seq("fin:1000", "nfe:1000"), None)))
    // the unparseable 'x' count became null → 0; ukbb cohort = 5 + 0
    val ab = shaped.filter($"studyId" === "FINNGEN_R12_UKB_META_AB1")
      .selectExpr("nSamples",
        "transform(discoverySamples, x -> x.ancestry || ':' || x.sampleSize) AS ds")
      .as[(Int, Seq[String])].head()
    assert(ab === ((15, Seq("fin:10", "nfe:5"))))
    // required-column assertion
    intercept[IllegalArgumentException] {
      FinnGenMeta.manifestContract(Seq(("a")).toDF("fg_phenotype"))
    }
  }

  test("FinnGen-meta study index: UKBB constants, ld structure nulls for fin/nfe labels") {
    val raw = Seq(
      ("I9_HEARTFAIL", "Heart failure", "100", "900", "0", "0")
    ).toDF("fg_phenotype", "name", "fg_n_cases", "fg_n_controls",
      "ukbb_n_cases", "ukbb_n_controls")
    val (c, meta) = FinnGenMeta.manifestContract(raw)
    val efo = Seq(
      ("FINNGEN_R12", "Heart failure", "http://purl.obolibrary.org/obo/EFO_0003144"),
      ("FINNGEN_R11", "Heart failure", "http://purl.obolibrary.org/obo/EFO_9")
    ).toDF("STUDY", "PROPERTY_VALUE", "SEMANTIC_TAG")
    val si = FinnGenMeta.studyIndexFromManifest(
      FinnGenMeta.shapeManifest(c, meta), meta, FinnGen.loadEfoMapping(efo))
    val row = si.selectExpr(
      "studyType", "initialSampleSize", "publicationDate",
      "array_join(cohorts, '|') AS cohorts",
      "size(discoverySamples) AS nds", // all-zero ukbb cohort dropped
      "ldPopulationStructure[0].ldPopulation", // 'fin' has no GWAS-label map entry
      "ldPopulationStructure[0].relativeSampleSize",
      "array_join(traitFromSourceMappedIds, '|') AS efos"
    ).as[(String, String, String, String, Int, Option[String], Double, String)].head()
    assert(row._1 === "gwas")
    assert(row._2.startsWith("920,880"))
    assert(row._3 === "2024-11-01")
    assert(row._4 === "FinnGen|pan-UKBB-EUR")
    assert(row._5 === 1)
    // reference behaviour: 'fin'/'nfe' cohort labels are NOT in the GWAS→LD
    // map (it maps 'Finnish'/'European'), so the UKBB path yields a null
    // ldPopulation with the full relative share — mirrored deliberately
    assert(row._6.isEmpty && row._7 === 1.0)
    assert(row._8 === "EFO_0003144") // R11 mapping filtered out
  }
}
