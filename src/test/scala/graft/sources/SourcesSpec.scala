package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SourcesSpec extends SparkSpec {

  private def writeFixture(name: String, content: String): String = {
    val dir = graft.core.TempRoot.jvm.dir("graft-src")
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  test("FinnGen reader harmonises TSV into SummaryStatistics columns") {
    import spark.implicits._
    val tsv = writeFixture(
      "FINNGEN_R9_AB1.tsv",
      """#chrom	pos	ref	alt	rsids	nearest_genes	pval	mlogp	beta	sebeta	af_alt	af_alt_cases	af_alt_controls
        |1	1000	A	T	rs1	G1	4.1e-8	7.38	0.25	0.05	0.1	0.11	0.09
        |1	bad	A	T	rs2	G1	0.5	0.3	0.1	0.2	0.2	0.2	0.2
        |2	2000	C	G	rs3	G2	0.01	2.0	0.0	0.1	0.3	0.3	0.3
        |2	3000	C	G	rs4	G2	1e-320	319.7	-0.5	0.08	0.4	0.4	0.4
        |""".stripMargin
    )
    val ss = FinnGen.fromSource(spark, tsv).df
    val rows = ss
      .select("studyId", "variantId", "chromosome", "position", "pValueMantissa", "pValueExponent", "beta")
      .as[(String, String, String, Int, Float, Int, Double)]
      .collect()
      .sortBy(_._2)
    // bad position and zero beta dropped
    assert(rows.length === 2)
    assert(rows.head === (("FINNGEN_R9_AB1", "1_1000_A_T", "1", 1000, 4.1f, -8, 0.25)))
    // p-value survives beyond double underflow via the split representation
    val sub = rows.last
    assert(sub._5 === 1.0f && sub._6 === -320)
  }

  test("liftover maps, flips negative strand, drops unmapped") {
    import spark.implicits._
    // chain: chr1 [100,200) → chrA at 500 (+); chr2 [0,100) → chrB negative
    // strand, size 1000, offset 50.
    val chain = writeFixture(
      "test.chain",
      """chain 1000 chr1 10000 + 100 200 chrA 20000 + 500 600 1
        |100
        |
        |chain 900 chr2 5000 + 0 100 chrB 1000 - 50 150 2
        |100
        |""".stripMargin
    )
    val map = Liftover.parseChainFile(chain)
    val df = Seq(
      ("chr1", 101L), // in block → chrA 501 (0-based: 100→500)
      ("chr1", 300L), // outside → dropped
      ("chr2", 1L)    // neg strand: 0-based 0 → 1000 - (50+0) - 1 = 949 → 1-based 950
    ).toDF("chromosome", "position")
    val out = Liftover.convertCoordinates(df, map)
      .select("chromosome", "position", "mappedChromosome", "mappedPosition")
      .as[(String, Long, String, Long)]
      .collect()
      .sortBy(_._1)
    assert(out.length === 2)
    assert(out(0) === (("chr1", 101L, "chrA", 501L)))
    assert(out(1) === (("chr2", 1L, "chrB", 950L)))
  }

  test("relational liftover agrees with the chain-closure UDF and drops ambiguous positions") {
    import spark.implicits._
    val blocks = Seq(
      // chr1 [100,200) → chrA at 500 (+)
      ("chr1", 100L, 200L, "chrA", 500L, 20000L, false),
      // chr2 [0,100) → chrB negative strand, size 1000, offset 50
      ("chr2", 0L, 100L, "chrB", 50L, 1000L, true),
      // second block covering chr1 150..250 → overlap at [150,200) is ambiguous
      ("chr1", 150L, 250L, "chrC", 900L, 20000L, false)
    )
    val chainDf = blocks.toDF(
      "srcChrom", "srcStart", "srcEnd", "dstChrom", "dstStart", "dstSize", "dstStrandNeg")
    val df = Seq(
      ("chr1", 101L), // single block → chrA 501
      ("chr1", 180L), // two blocks → ambiguous, dropped
      ("chr1", 230L), // only the chrC block → 900 + (229-150) + 1
      ("chr1", 300L), // unmapped
      ("chr2", 1L)    // negative strand → 950
    ).toDF("chromosome", "position")
    val got = Liftover.convertCoordinatesRelational(df, chainDf)
      .select("chromosome", "position", "mappedChromosome", "mappedPosition")
      .as[(String, Long, String, Long)].collect().toSet
    assert(got === Set(
      ("chr1", 101L, "chrA", 501L),
      ("chr1", 230L, "chrC", 980L),
      ("chr2", 1L, "chrB", 950L)))
    // cross-check the shared cases against the closure-UDF path
    val chain = Liftover.ChainMap(Map(
      "chr1" -> Array(
        Liftover.Block("chr1", 100L, 200L, "chrA", 500L, 20000L, false),
        Liftover.Block("chr1", 150L, 250L, "chrC", 900L, 20000L, false)),
      "chr2" -> Array(Liftover.Block("chr2", 0L, 100L, "chrB", 50L, 1000L, true))))
    val viaUdf = Liftover.convertCoordinates(df, chain)
      .select("chromosome", "position", "mappedChromosome", "mappedPosition")
      .as[(String, Long, String, Long)].collect().toSet
    assert(viaUdf === got)
  }

  test("VEP JSON parser extracts variant identity and gene consequences") {
    import spark.implicits._
    val json = writeFixture(
      "vep.jsonl",
      """{"input":"chr1\t1000\t.\tA\tT\t.\t.\t.","seq_region_name":"chr1","start":1000,"most_severe_consequence":"missense_variant","colocated_variants":[{"id":"rs123"}],"transcript_consequences":[{"gene_id":"ENSG1","consequence_terms":["missense_variant"],"impact":"MODERATE"}]}
        |""".stripMargin
    )
    val variants = VepParser.extractVariants(VepParser.readVepJson(spark, json))
    val v = variants
      .select("variantId", "chromosome", "position", "mostSevereConsequence")
      .as[(String, String, Int, String)]
      .head()
    assert(v === (("1_1000_A_T", "1", 1000, "missense_variant")))
    val g = VepParser.geneConsequences(variants)
      .select("variantId", "geneId", "impact")
      .as[(String, String, String)]
      .head()
    assert(g === (("1_1000_A_T", "ENSG1", "MODERATE")))
  }

  test("VEP buildVariantIndex produces a schema-valid VariantIndex with predictors") {
    import spark.implicits._
    val json = writeFixture(
      "vep_full.jsonl",
      // two canonical transcripts (one missense w/ predictors, one upstream)
      // and one non-canonical (dropped); alphamissense on the canonical
      """{"input":"chr7\t2000\t.\tG\tC\t.\t.\t.","seq_region_name":"chr7","start":2000,"most_severe_consequence":"missense_variant","colocated_variants":[{"id":"rs77","var_synonyms":{"OMIM":[601665.0002],"ClinVar":["VCV000018396","RCV000019947"]}}],"transcript_consequences":[{"gene_id":"ENSG10","transcript_id":"ENST10","gene_symbol":"GENEA","biotype":"protein_coding","consequence_terms":["missense_variant","splice_region_variant"],"impact":"MODERATE","canonical":1,"distance":null,"tssdistance":400,"cadd_phred":23.5,"polyphen_score":0.9,"polyphen_prediction":"probably_damaging","sift_score":0.02,"sift_prediction":"deleterious","lof":"HC","lof_filter":null,"conservation":4.4,"amino_acids":"A/V","protein_end":42,"alphamissense":{"am_class":"likely_pathogenic","am_pathogenicity":0.88},"swissprot":["P12345.2"],"trembl":null,"codons":"gcA/gtA","appris":"P1","mane_select":"NM_1.1","hgvsg":"7:g.2000G>C"},{"gene_id":"ENSG11","transcript_id":"ENST11","gene_symbol":"GENEB","biotype":"lncRNA","consequence_terms":["upstream_gene_variant"],"impact":"MODIFIER","canonical":1,"distance":1500,"tssdistance":1500,"hgvsg":"7:g.2000G>C"},{"gene_id":"ENSG12","transcript_id":"ENST12","consequence_terms":["intron_variant"],"impact":"MODIFIER","canonical":0}]}
        |""".stripMargin
    )
    val out = VepParser.buildVariantIndex(VepParser.readVepJson(spark, json))
    // must validate against the declared variant_index schema
    graft.datasets.VariantIndex(out).validate()
    val row = out.select(
      col("variantId"), col("mostSevereConsequenceId"),
      size(col("transcriptConsequences")).as("n_tc"),
      col("transcriptConsequences").getItem(0).getField("targetId"),
      col("transcriptConsequences").getItem(0).getField("consequenceScore").cast("double"),
      col("transcriptConsequences").getItem(0).getField("transcriptIndex"),
      col("transcriptConsequences").getItem(0).getField("aminoAcidChange"),
      col("transcriptConsequences").getItem(1).getField("transcriptIndex"),
      col("hgvsId")
    ).as[(String, String, Int, String, Double, Int, String, Int, String)].head()
    assert(row._1 === "7_2000_G_C")
    assert(row._2 === "SO_0001583")
    assert(row._3 === 2) // non-canonical dropped
    // missense (0.68) sorts before upstream (0.22)
    assert(row._4 === "ENSG10" && math.abs(row._5 - 0.68) < 1e-6)
    assert(row._6 === 1 && row._8 === 2)
    assert(row._7 === "A42V")
    assert(row._9 === "7:g.2000G>C")
    // in-silico predictors: CADD, PolyPhen, SIFT, LOFTEE, GERP, AlphaMissense, VEP
    val effects = out
      .select(explode(col("variantEffect")).as("e"))
      .select(col("e.method"), col("e.score").cast("double"), col("e.assessment"))
      .as[(String, Option[Double], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(effects.keySet ===
      Set("CADD", "PolyPhen", "SIFT", "LOFTEE", "GERP", "AlphaMissense", "VEP"))
    assert(math.abs(effects("CADD")._1.get - 23.5) < 1e-6)
    assert(math.abs(effects("PolyPhen")._1.get - 0.9) < 1e-6)
    assert(effects("PolyPhen")._2 === Some("probably_damaging"))
    assert(math.abs(effects("SIFT")._1.get - 0.02) < 1e-6)
    assert(effects("SIFT")._2 === Some("deleterious"))
    assert(effects("LOFTEE")._2 === Some("HC"))
    assert(math.abs(effects("GERP")._1.get - 4.4) < 1e-6)
    assert(math.abs(effects("AlphaMissense")._1.get - 0.88) < 1e-6)
    assert(effects("AlphaMissense")._2 === Some("likely_pathogenic"))
    assert(math.abs(effects("VEP")._1.get - 0.68) < 1e-6)
    assert(effects("VEP")._2 === Some("missense_variant"))
    // variant description: protein-coding first transcript, footprint overlap,
    // amino-acid change with impact, high-confidence LOFTEE note
    val desc = out.select(col("variantDescription")).as[String].head()
    assert(desc ===
      "Missense variant overlapping with GENEA, causing amino-acid change: " +
        "A42V with moderate impact. A high-confidence loss-of-function variant by loftee.")
    // dbXrefs: ensembl rsId, OMIM (dot→hash), ClinVar VCV-only, protvar (missense)
    val xrefs = out
      .select(explode(col("dbXrefs")).as("x"))
      .select(col("x.id"), col("x.source"))
      .as[(String, String)].collect().toSet
    assert(xrefs === Set(
      ("rs77", "ensembl_variation"),
      ("601665#0002", "omim"),
      ("VCV000018396", "clinvar"),
      ("7_2000_G_C", "protvar")))
  }

  test("VEP allele-frequency builder emits the variant_index AF shape") {
    import spark.implicits._
    val df = Seq((0.01, 0.2)).toDF("af_nfe", "af_afr")
    val out = df.select(
      VepParser.alleleFrequencies(
        Seq("nfe" -> col("af_nfe"), "afr" -> col("af_afr"))).as("alleleFrequencies"))
    val got = out
      .select(explode(col("alleleFrequencies")).as("af"))
      .select(col("af.populationName"), col("af.alleleFrequency"))
      .as[(String, Double)].collect().toSeq
    assert(got === Seq(("nfe", 0.01), ("afr", 0.2)))
  }

  test("GWAS-Catalog harmonisation: OR→beta, CI→SE, EFO parsing") {
    import spark.implicits._
    val raw = Seq(
      ("GCST001", "chr7", "12345", "rs999-A", "5e-8", "1.2", "[1.1-1.3]",
        "http://www.ebi.ac.uk/efo/EFO_0000001"),
      ("GCST002", "23", "777", "rs1-T", "0.001", "0.15", "(unit increase)",
        "http://www.ebi.ac.uk/efo/EFO_0000002,http://purl.obolibrary.org/obo/MONDO_0000001")
    ).toDF("STUDY ACCESSION", "CHR_ID", "CHR_POS", "STRONGEST SNP-RISK ALLELE",
      "P-VALUE", "OR or BETA", "95% CI (TEXT)", "MAPPED_TRAIT_URI")
    val out = GwasCatalog.harmoniseAssociations(raw)
    val r1 = out.filter(col("studyId") === "GCST001")
      .select("chromosome", "position", "riskAllele", "beta", "standardError")
      .as[(String, Int, String, Double, Double)].head()
    assert(r1._1 === "7" && r1._2 === 12345 && r1._3 === "A")
    assert(math.abs(r1._4 - math.log(1.2)) < 1e-12) // beta = ln(OR)
    // SE precedence follows the reference: chi2-based (from p-value + beta)
    // wins over the CI-based fallback (common/stats.py:283-392).
    val expectedSe = math.abs(math.log(1.2)) / math.sqrt(graft.functions.SpecialMath.chi2Isf(5e-8))
    assert(math.abs(r1._5 - expectedSe) < 1e-9)
    val r2 = out.filter(col("studyId") === "GCST002")
      .select("chromosome", "beta", "efos")
      .as[(String, Double, Seq[String])].head()
    assert(r2._1 === "X") // 23 → X
    assert(r2._2 === 0.15) // beta passthrough
    assert(r2._3 === Seq("EFO_0000002", "MONDO_0000001"))
  }

  test("reverse complement matches reference doctests (associations.py:460-496)") {
    import spark.implicits._
    val got = Seq("A", "T", "G", "C", "AC", "GTaatc", "?")
      .toDF("allele")
      .select(GwasCatalog.reverseComplement(col("allele")).as("rc"))
      .as[String].collect().toSeq
    assert(got === Seq("T", "A", "C", "G", "GT", "GATTAC", "?"))
    val nullRc = Seq(Option.empty[String]).toDF("allele")
      .select(GwasCatalog.reverseComplement(col("allele")).as("rc"))
      .as[Option[String]].head()
    assert(nullRc.isEmpty)
  }

  test("effect-needs-harmonisation matches reference doctests (associations.py:498-531)") {
    import spark.implicits._
    val got = Seq(("A", "A"), ("A", "T"), ("AT", "TA"), ("AT", "AT"))
      .toDF("risk", "reference")
      .select(GwasCatalog.effectNeedsHarmonisation(col("risk"), col("reference")).as("f"))
      .as[Boolean].collect().toSeq
    assert(got === Seq(true, true, false, true))
  }

  test("palindromic alleles match reference doctests (associations.py:533-568)") {
    import spark.implicits._
    val got = Seq(("A", Some("T")), ("AT", Some("AG")), ("AT", Some("AT")),
      ("CATATG", Some("CATATG")), ("-", None))
      .toDF("reference", "alternate")
      .select(GwasCatalog.areAllelesPalindromic(col("reference"), col("alternate")).as("p"))
      .as[Boolean].collect().toSeq
    assert(got === Seq(true, false, true, true, false))
  }

  test("risk-allele extraction and concordance (associations.py:147-176, 393-457)") {
    import spark.implicits._
    val alleles = Seq("rs1234-A-G", "rs1234-A", "rs1234-A; rs1235-G")
      .toDF("raw")
      .select(GwasCatalog.extractRiskAllele(col("raw")).as("a"))
      .as[String].collect().toSeq
    assert(alleles === Seq("A", "A", "A"))
    val conc = Seq(
      ("A", Some("A"), Some("G")), // direct
      ("T", Some("A"), Some("G")), // revcomp(T)=A
      ("A", Some("G"), Some("C")), // discordant: A/revcomp(A)=T match neither
      ("?", Some("A"), Some("G")), // ambiguous accepted
      ("C", None, None) // unmapped kept
    ).toDF("risk", "reference", "alternate")
      .select(GwasCatalog.isConcordant(col("risk"), col("reference"), col("alternate")).as("c"))
      .as[Boolean].collect().toSeq
    assert(conc === Seq(true, true, false, true, true))
  }

  test("beta/odds-ratio harmonisation matches reference doctests (associations.py:571-663)") {
    import spark.implicits._
    val betas = Seq((0.5, "increase", false), (0.5, "decrease", false),
      (0.5, "decrease", true), (0.5, "increase", true))
      .toDF("effect", "ci_text", "flip")
      .select(GwasCatalog.harmoniseBeta(col("effect"), col("ci_text"), col("flip")).as("b"))
      .as[Double].collect().toSeq
    assert(betas === Seq(0.5, -0.5, 0.5, -0.5))
    val ors = Seq((0.5, false), (0.5, true), (0.0, false), (0.0, true))
      .toDF("effect", "flip")
      .select(GwasCatalog.harmoniseOddsRatio(col("effect"), col("flip")).as("o"))
      .as[Option[Double]].collect().toSeq
    assert(ors === Seq(Some(0.5), Some(2.0), Some(0.0), None))
  }

  test("full effect-to-beta harmonisation matches the reference doctest (associations.py:959-1010)") {
    import spark.implicits._
    val data = Seq(
      ("rs123-T", "A", "T", "0.1", "[0.08-0.12] unit increase", 21.96),
      ("rs123-C", "G", "T", "0.1", "[0.08-0.12] unit increase", 21.96),
      ("rs123-T", "C", "T", "0.1", "[0.08-0.12] unit increase", 21.96),
      ("rs123-T", "C", "T", "0.1", "[0.08-0.12]", 21.96),
      ("rs123-C", "G", "T", "0.1", "[0.08-0.12]", 21.96)
    ).toDF("STRONGEST SNP-RISK ALLELE", "referenceAllele", "alternateAllele",
      "OR or BETA", "95% CI (TEXT)", "PVALUE_MLOG")
    val out = GwasCatalog.harmoniseEffectToBeta(data)
      .select(col("beta"), col("standardError"))
      .as[(Option[Double], Option[Double])].collect().toSeq
    // palindromic row → both null
    assert(out(0) === ((None, None)))
    // flipped beta
    assert(math.abs(out(1)._1.get - (-0.1)) < 1e-12)
    assert(math.abs(out(1)._2.get - 0.01020130187396028) < 1e-9)
    // unflipped beta
    assert(math.abs(out(2)._1.get - 0.1) < 1e-12)
    // odds ratio → ln
    assert(math.abs(out(3)._1.get - (-2.3025850929940455)) < 1e-12)
    assert(math.abs(out(3)._2.get - 0.23489365624113162) < 1e-9)
    // flipped odds ratio → ln(1/0.1)
    assert(math.abs(out(4)._1.get - 2.302585092994046) < 1e-12)
    assert(math.abs(out(4)._2.get - 0.23489365624113168) < 1e-9)
  }

  test("p-value-text normalisation matches reference doctests (associations.py:103-146)") {
    import spark.implicits._
    val got = Seq("European Ancestry", "African ancestry", "Alzheimer’s Disease",
      "(progression)", "")
      .toDF("value")
      .select(GwasCatalog.normalisePvalueText(col("value")).as("n"))
      .as[Option[Seq[String]]].collect().toSeq
    assert(got === Seq(
      Some(Seq("EA")), Some(Seq("AA")), Some(Seq("AD")), None, None))
  }

  test("substudy description matches the reference doctest (associations.py:676-720)") {
    import spark.implicits._
    val got = Seq(
      ("Height",
        "http://www.ebi.ac.uk/efo/EFO_0000001,http://www.ebi.ac.uk/efo/EFO_0000002",
        Some("European Ancestry")),
      ("Schizophrenia", "http://www.ebi.ac.uk/efo/MONDO_0005090", Option.empty[String])
    ).toDF("association_trait", "mapped_trait_uri", "pvalue_text")
      .select(GwasCatalog.substudyDescription(
        col("association_trait"), col("pvalue_text"), col("mapped_trait_uri")).as("d"))
      .as[String].collect().toSeq
    assert(got === Seq(
      "Height|EA|EFO_0000001/EFO_0000002",
      "Schizophrenia|no_pvalue_text|MONDO_0005090"))
  }

  test("gnomAD→Ensembl position conversion matches the reference doctest") {
    import spark.implicits._
    val got = Seq((1, "A", "C"), (2, "AA", "C"), (3, "A", "AA"))
      .toDF("position", "reference", "alternate")
      .select(GwasCatalog.convertGnomadPositionToEnsembl(
        col("position"), col("reference"), col("alternate")).as("p"))
      .as[Int].collect().toSeq
    assert(got === Seq(1, 3, 4))
  }

  test("mapping-retention flags match the reference doctest (associations.py:342-391)") {
    import spark.implicits._
    val got = Seq((1, false), (1, false), (2, false), (2, true), (3, true), (3, true))
      .toDF("associationId", "filter")
      .select(col("associationId"),
        GwasCatalog.flagMappingsToRetain(col("associationId"), col("filter")).as("keep"))
      .as[(Int, Boolean)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got === Seq((1, true), (1, true), (2, false), (2, true), (3, true), (3, true)))
  }

  test("variant→gnomAD mapping resolves ambiguity by rsId, concordance, then max MAF") {
    import spark.implicits._
    val assoc = Seq(
      // rowId 1: two gnomAD candidates at the position; only one shares rsId
      ("r1", "1", "100", "rs1; rs9", "1", "rs1-A"),
      // rowId 2: no candidate → null mapping
      ("r2", "2", "500", "rs7", "7", "rs7-T")
    ).toDF("rowId", "CHR_ID", "CHR_POS", "SNPS", "SNP_ID_CURRENT",
      "STRONGEST SNP-RISK ALLELE")
    val vi = Seq(
      // shares rs1 with the association and is allele-concordant
      ("1_100_A_G", "1", 100, Seq("rs1"), "A", "G", Seq(("nfe", 0.3))),
      // higher MAF but neither rsId match nor concordance (risk A vs C/G):
      // both retention filters drop it in favour of the matching candidate
      ("1_100_C_G", "1", 100, Seq("rs999"), "C", "G", Seq(("nfe", 0.4)))
    ).toDF("variantId", "chromosome", "position", "rsIds",
      "referenceAllele", "alternateAllele", "af")
      .withColumn(
        "alleleFrequencies",
        transform(col("af"), x =>
          struct(x.getField("_1").as("populationName"),
            x.getField("_2").as("alleleFrequency"))))
      .drop("af")
    val out = GwasCatalog.mapVariantsToGnomadVariants(assoc, vi)
      .select("rowId", "variantId")
      .as[(String, Option[String])].collect().toMap
    // rs-id match beats the higher-MAF discordant candidate
    assert(out("r1") === Some("1_100_A_G"))
    assert(out("r2") === None)
  }

  test("GWAS-Catalog fromSource assembles study-locus rows end to end") {
    import spark.implicits._
    val raw = Seq(
      // significant association mapping cleanly to 1_100_A_G, beta flips (risk G = revcomp(C)... direct alt match)
      ("1", "100", "rs1", "1", "rs1-G", "4e-12", 41.0, "0.2",
        "[0.1-0.3] unit increase", "Height", "European Ancestry",
        "http://www.ebi.ac.uk/efo/EFO_0000001", "GCST1"),
      // unmapped position → null variant, flagged
      ("2", "999", "rs7", "7", "rs7-T", "1e-3", 3.0, "1.5",
        "[1.2-1.8]", "BMI", null.asInstanceOf[String],
        "http://www.ebi.ac.uk/efo/EFO_0000002", "GCST2")
    ).toDF("CHR_ID", "CHR_POS", "SNPS", "SNP_ID_CURRENT", "STRONGEST SNP-RISK ALLELE",
      "P-VALUE", "PVALUE_MLOG", "OR or BETA", "95% CI (TEXT)", "DISEASE/TRAIT",
      "P-VALUE (TEXT)", "MAPPED_TRAIT_URI", "STUDY ACCESSION")
    val vi = Seq(
      ("1_100_A_G", "1", 100, Seq("rs1"), "A", "G", Seq(0.3))
    ).toDF("variantId", "chromosome", "position", "rsIds",
      "referenceAllele", "alternateAllele", "afs")
      .withColumn(
        "alleleFrequencies",
        transform(col("afs"), x => struct(lit("nfe").as("populationName"), x.as("alleleFrequency"))))
      .drop("afs")
    val out = GwasCatalog.fromSource(raw, vi)
    assert(out.count() === 2)
    val r1 = out.filter(col("studyId") === "GCST1")
      .select(
        col("variantId"), col("chromosome"), col("position"),
        col("pValueExponent"), col("beta"),
        col("subStudyDescription"), concat_ws(";", col("qualityControls")))
      .as[(String, String, Int, Int, Double, String, String)].head()
    assert(r1._1 === "1_100_A_G" && r1._2 === "1" && r1._3 === 100)
    assert(r1._4 === -12)
    // risk allele G == alternate → no flip → +0.2
    assert(r1._5 === 0.2)
    assert(r1._6 === "Height|EA|EFO_0000001")
    assert(r1._7 === "")
    val r2 = out.filter(col("studyId") === "GCST2")
      .select(col("variantId").isNull, concat_ws(";", col("qualityControls")))
      .as[(Boolean, String)].head()
    assert(r2._1)
    assert(r2._2.contains("No mapping in GnomAd"))
    assert(r2._2.contains("Subsignificant p-value"))
  }

  test("updateStudyId re-keys and qcAmbiguousStudy flags duplicate variants") {
    import spark.implicits._
    val sl = Seq(
      ("S1", "desc_a", "v1", Seq.empty[String]),
      ("S1", "desc_b", "v1", Seq.empty[String]),
      ("S2", "desc_c", "v2", Seq.empty[String])
    ).toDF("studyId", "subStudyDescription", "variantId", "qualityControls")
    val ann = Seq(("S1", "desc_b", "S1_b")).toDF(
      "studyId", "subStudyDescription", "updatedStudyId")
    val updated = GwasCatalog.updateStudyId(sl, ann)
    val ids = updated.select("studyId").as[String].collect().sorted.toSeq
    assert(ids === Seq("S1", "S1_b", "S2"))
    // after deconvolution the two S1/v1 rows split into distinct studies
    val flagged = GwasCatalog.qcAmbiguousStudy(updated)
      .filter(concat_ws(";", col("qualityControls")) =!= "")
    assert(flagged.count() === 0)
    // without deconvolution they are ambiguous
    val flagged2 = GwasCatalog.qcAmbiguousStudy(sl.drop("subStudyDescription"))
      .filter(concat_ws(";", col("qualityControls")) === "Association with ambiguous study")
    assert(flagged2.count() === 2)
  }

  test("qcAll flags match the reference doctest semantics (associations.py:722-924)") {
    import spark.implicits._
    val df = Seq(
      // clean significant row
      ("rs1-A", Some("1"), Some(100), Some("A"), Some("G"), 1.0f, -9),
      // composite + palindromic
      ("rs1-A; rs2-T", Some("1"), Some(100), Some("A"), Some("T"), 1.0f, -9),
      // no genomic location + subsignificant
      ("rs1-A", None, None, Some("A"), Some("G"), 1.0f, -5),
      // unmapped variant
      ("rs1-A", Some("1"), Some(100), Some("A"), None, 1.0f, -9)
    ).toDF("risk", "chromosome", "position", "ref", "alt", "mantissa", "exponent")
    val got = df.select(
      concat_ws(";", GwasCatalog.qcAll(
        qc = array().cast("array<string>"),
        chromosome = col("chromosome"),
        position = col("position"),
        referenceAllele = col("ref"),
        alternateAllele = col("alt"),
        strongestSnpRiskAllele = col("risk"),
        pValueMantissa = col("mantissa"),
        pValueExponent = col("exponent")
      )).as("qc")).as[String].collect().toSeq
    assert(got(0) === "")
    // the composite row also fails the chromosome-vs-riskAllele count check
    // (1 chromosome, 2 risk alleles), exactly as in the reference
    assert(got(1) ===
      "Composite association;Palindrome alleles - cannot harmonize;Variant inconsistency")
    assert(got(2) === "Incomplete genomic mapping;Subsignificant p-value")
    assert(got(3) === "No mapping in GnomAd")
  }

  test("qcAll inconsistency flag is ANSI-independent on null-field rows (round-13 sweep catch)") {
    import spark.implicits._
    // chromosome "1;2" with a SINGLE risk allele and a NULL position: the
    // chrom-vs-risk count mismatch must fire (three-valued OR: the null
    // position term drops out), and a null-position row with MATCHING
    // counts must NOT fire — identically with ANSI on and off
    // (size(NULL) is -1 under legacy sizeOfNull but NULL under ANSI).
    val df = Seq(
      ("rs1-A", Some("1;2"), None: Option[Int], Some("A"), Some("G"), 1.0f, -9),
      ("rs1-A", Some("1"), None: Option[Int], Some("A"), Some("G"), 1.0f, -9)
    ).toDF("risk", "chromosome", "position", "ref", "alt", "mantissa", "exponent")
    def run(): Seq[Boolean] = df.select(
      array_contains(GwasCatalog.qcAll(
        qc = array().cast("array<string>"),
        chromosome = col("chromosome"),
        position = col("position"),
        referenceAllele = col("ref"),
        alternateAllele = col("alt"),
        strongestSnpRiskAllele = col("risk"),
        pValueMantissa = col("mantissa"),
        pValueExponent = col("exponent")
      ), "Variant inconsistency").as("f")).as[Boolean].collect().toSeq
    val ansiOn = run()
    spark.conf.set("spark.sql.ansi.enabled", "false")
    val ansiOff =
      try run()
      finally spark.conf.set("spark.sql.ansi.enabled", "true")
    assert(ansiOn === Seq(true, false))
    assert(ansiOff === ansiOn)
  }

  test("Intervals.readBed normalises BED coordinates and parses gene ids") {
    import spark.implicits._
    val bed = writeFixture("e2g.bed", "chr1\t999\t2000\tENSG1|enh42\t0.75\nchrX\t0\t100\tENSG2\t0.5\n")
    val got = Intervals.readBed(spark, bed)
      .select("chromosome", "start", "end", "geneId", "resourceScore")
      .as[(String, Int, Int, String, Double)].collect().sortBy(_._1)
    assert(got(0) === (("1", 1000, 2000, "ENSG1", 0.75)))
    assert(got(1) === (("X", 1, 100, "ENSG2", 0.5)))
  }

  test("loadFromUrl fetches and parses a file URL") {
    import graft.core.GSession
    val csv = writeFixture("u.csv", "a,b\n1,x\n")
    val df = GSession(spark).loadFromUrl("file://" + csv, "csv")
    assert(df.count() === 1)
    assert(df.columns.toSeq === Seq("a", "b"))
  }

  test("GSession.loadData reads csv/tsv/json with declared or inferred schema") {
    import graft.core.GSession
    val g = GSession(spark)
    val csv = writeFixture("t.csv", "a,b\n1,x\n2,y\n")
    assert(g.loadData(Seq(csv), "csv").count() === 2)
    val tsv = writeFixture("t.tsv", "a\tb\n1\tx\n")
    assert(g.loadData(Seq(tsv), "tsv").select("b").head().getString(0) === "x")
    val json = writeFixture("t.jsonl", """{"a":1}""" + "\n" + """{"a":2}""" + "\n")
    assert(g.loadData(Seq(json), "json").count() === 2)
  }
}
