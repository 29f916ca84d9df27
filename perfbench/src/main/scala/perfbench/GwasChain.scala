package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.GDataset
import graft.datasets.{StudyLocus, SummaryStatistics}
import graft.functions.Stats
import graft.operators._
import graft.sources.GwasCatalog

import Handoff._

object GwasChain {
  val Steps: Seq[String] = Seq(
    "ingest", "qc", "clump", "locus_breaker", "pics", "credset", "overlaps", "coloc", "l2g")

  /** GWAS Catalog harmonised summary statistics, as the raw files declare them. */
  val RawSchema: StructType = StructType(Seq(
    StructField("hm_chrom", StringType),
    StructField("hm_pos", IntegerType),
    StructField("hm_other_allele", StringType),
    StructField("hm_effect_allele", StringType),
    StructField("p_value", StringType),
    StructField("hm_beta", DoubleType),
    StructField("standard_error", DoubleType),
    StructField("effect_allele_frequency", DoubleType),
    StructField("n", IntegerType)))

  /** Per-variant LD sets, in the study-locus `ldSet` shape. */
  val LdSchema: StructType = StructType(Seq(
    StructField("variantId", StringType),
    StructField("chromosome", StringType),
    StructField("ldSet", ArrayType(StructType(Seq(
      StructField("tagVariantId", StringType),
      StructField("r2Overall", DoubleType)))))))

  val GeneSchema: StructType = StructType(Seq(
    StructField("geneId", StringType),
    StructField("chromosome", StringType),
    StructField("tss", LongType)))

  val QtlGeneSchema: StructType = StructType(Seq(
    StructField("studyLocusId", StringType),
    StructField("geneId", StringType)))
}

/** The post-GWAS step chain on seeded summary statistics: `studies` GWAS
  * over one shared panel of `variants` variants on 22 chromosomes. The panel
  * is cut into windows of 20 variants; every 25th window is hot and half of
  * the studies carry each hot window's signal, so 2 % of (study, window)
  * pairs hold a signal and every seed has the same number of signals. Hot windows also get LD sets, and
  * 60 % of them a QTL credible set near the GWAS causal variant, so COLOC and
  * eCAVIAR see real overlaps. Every value is a hash of (seed, keys).
  */
final class GwasChain(seed: Long, tiny: Boolean) extends Workload {
  import GwasChain._

  val name = "gwas_chain"
  private val studies = if (tiny) 2 else 10
  private val variants = if (tiny) 4000 else 5000
  private val window = 20
  /** Every `hotEvery`-th window is hot, so each seed has the same number. */
  private val hotEvery = if (tiny) 5 else 25
  def inputRows: Long = studies.toLong * variants

  /** Uniform in [0, 1) from the seed and key columns. */
  private def u(parts: Column*): Column =
    pmod(xxhash64((lit(seed) +: parts): _*), lit(1L << 31)).cast("double") / (1L << 31).toDouble

  private val Bases = array(lit("A"), lit("C"), lit("G"), lit("T"))
  private def chrom(j: Column): Column = (floor(j * 22 / variants) + 1).cast("string")
  private def pos(j: Column): Column =
    (lit(1000000L) + j * 3000 + floor(u(lit("pos"), j) * 1000)).cast("int")
  private def refIdx(j: Column): Column = floor(u(lit("ref"), j) * 4)
  private def ref(j: Column): Column = element_at(Bases, (refIdx(j) + 1).cast("int"))
  private def alt(j: Column): Column =
    element_at(Bases, (pmod(refIdx(j) + 1 + floor(u(lit("alt"), j) * 3), lit(4)) + 1).cast("int"))
  private def vid(j: Column): Column = concat_ws("_", chrom(j), pos(j).cast("string"), ref(j), alt(j))
  private def hot(w: Column): Column = pmod(w + (seed % hotEvery), lit(hotEvery)) === 0
  private def causal(w: Column): Column = w * window + floor(u(lit("causal"), w) * window)
  private def gene(p: Column): Column = round((p - 5000) / 100000.0)
  private def geneId(g: Column): Column = concat(lit("ENSG"), lpad(g.cast("string"), 11, "0"))
  private def studyId(s: Int): String = f"GCST9$s%07d"

  def generate(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val v = spark.range(variants).select(col("id").as("j"))
    val rows = spark.range(studies).select(col("id").as("s")).crossJoin(v)
      .withColumn("w", floor(col("j") / window))
      .withColumn("signal", hot(col("w")) && pmod(col("s") + col("w") + seed, lit(2)) === 0)
      .withColumn("nullNlp", -log10(greatest(u(lit("p"), col("s"), col("j")), lit(1e-12))))
      .withColumn("sigNlp",
        when(col("signal"),
          (lit(8.0) + u(lit("peak"), col("s"), col("w")) * 22.0) *
            exp(-abs(col("j") - causal(col("w"))) / 3.0)).otherwise(0.0))
      .withColumn("nlp", greatest(col("nullNlp"), col("sigNlp")))
      .withColumn("se", lit(0.01) + u(lit("se"), col("s"), col("j")) * 0.04)
      .withColumn("sign", when(u(lit("sign"), col("s"), col("j")) < 0.5, -1.0).otherwise(1.0))
      .select(
        concat(lit("GCST9"), lpad(col("s").cast("string"), 7, "0")).as("study"),
        chrom(col("j")).as("hm_chrom"),
        pos(col("j")).as("hm_pos"),
        ref(col("j")).as("hm_other_allele"),
        alt(col("j")).as("hm_effect_allele"),
        format_string("%.6e", pow(lit(10.0), -col("nlp"))).as("p_value"),
        (col("sign") * sqrt(col("nlp") * (2.0 * math.log(10.0))) * col("se")).as("hm_beta"),
        col("se").as("standard_error"),
        (lit(0.05) + u(lit("eaf"), col("j")) * 0.9).as("effect_allele_frequency"),
        (lit(10000) + col("s") * 500).cast("int").as("n"))
    rows.write.mode("overwrite").partitionBy("study").parquet(ctx.path("raw"))

    // LD sets of every variant in a hot window: neighbours within 4 variants
    val hotVariants = v.withColumn("w", floor(col("j") / window)).filter(hot(col("w")))
    hotVariants
      .withColumn("d", explode(sequence(lit(-4), lit(4))))
      .withColumn("k", col("j") + col("d"))
      .filter(floor(col("k") / window) === col("w"))
      .groupBy("j")
      .agg(collect_list(struct(vid(col("k")).as("tagVariantId"),
        (lit(1.0) - abs(col("d")) * 0.1).as("r2Overall"))).as("ldSet"))
      .select(vid(col("j")).as("variantId"), chrom(col("j")).as("chromosome"), col("ldSet"))
      .write.mode("overwrite").parquet(ctx.path("ld"))

    // QTL credible sets near the GWAS causal variant of 60 % of hot windows
    val qtlLoci = spark.range(variants / window).select(col("id").as("w"))
      .filter(hot(col("w")) && u(lit("qtl"), col("w")) < 0.6)
      .withColumn("qc", causal(col("w")) + floor(u(lit("qoff"), col("w")) * 3) - 1)
      .withColumn("d", explode(sequence(lit(-3), lit(3))))
      .withColumn("k", col("qc") + col("d"))
      .filter(col("k") >= 0 && col("k") < variants)
      .withColumn("ad", abs(col("d")))
      .groupBy("w", "qc")
      .agg(collect_list(struct(
        lit(null).cast(BooleanType).as("is95CredibleSet"),
        lit(null).cast(BooleanType).as("is99CredibleSet"),
        (lit(6.0) - col("ad") * 1.5).as("logBF"),
        (exp(-col("ad")) / 2.106).as("posteriorProbability"),
        vid(col("k")).as("variantId"),
        lit(1.5f).as("pValueMantissa"),
        (lit(-12) + col("ad") * 2).cast("int").as("pValueExponent"),
        (lit(0.3) * (lit(1.0) - col("ad") * 0.2)).as("beta"),
        lit(0.05).as("standardError"),
        (lit(1.0) - col("ad") * 0.1).as("r2Overall"))).as("locus"))
      .withColumn("g", gene(pos(col("qc"))))
    qtlLoci
      .select(
        concat(lit("QTL_"), col("w").cast("string")).as("studyLocusId"),
        when(u(lit("type"), col("w")) < 0.7, "eqtl").otherwise("pqtl").as("studyType"),
        vid(col("qc")).as("variantId"),
        chrom(col("qc")).as("chromosome"),
        pos(col("qc")).as("position"),
        lit(null).cast(StringType).as("region"),
        concat(lit("QTL_study_"), col("g").cast("string")).as("studyId"),
        lit("SuSiE").as("finemappingMethod"),
        col("locus"),
        lit(false).as("isTransQtl"))
      .write.mode("overwrite").parquet(ctx.path("qtl"))
    qtlLoci
      .select(concat(lit("QTL_"), col("w").cast("string")).as("studyLocusId"),
        geneId(col("g")).as("geneId"))
      .write.mode("overwrite").parquet(ctx.path("qtl_genes"))

    // one gene every 100 kb across the panel
    val firstGene = 10L
    val lastGene = (1000000L + variants * 3000L) / 100000L + 1
    spark.range(firstGene, lastGene + 1).select(col("id").as("g"))
      .select(
        geneId(col("g")).as("geneId"),
        chrom(greatest(lit(0L), least(lit(variants - 1L),
          floor((col("g") * 100000 + 5000 - 1000000) / 3000)))).as("chromosome"),
        (col("g") * 100000 + 5000).as("tss"))
      .write.mode("overwrite").parquet(ctx.path("genes"))
  }

  private def studyLoci(ctx: Ctx, rel: String): DataFrame =
    read(ctx)(StudyLocus.fromParquet(ctx.spark, ctx.path(rel)).df)

  private def sumstats(ctx: Ctx): SummaryStatistics =
    read(ctx)(SummaryStatistics.fromParquet(ctx.spark, ctx.path("sumstats")))

  def pass(ctx: Ctx, failures: mutable.ArrayBuffer[Failure], keep: Boolean): Seq[OpTime] = {
    val ops = mutable.ArrayBuffer.empty[OpTime]
    val spark = ctx.spark

    op(ctx, "ingest", failures, ops) {
      val paths = (0 until studies).map(s => ctx.path(s"raw/study=${studyId(s)}"))
      val raws = read(ctx)(paths.map(p => p -> ctx.gs.loadData(Seq(p), "parquet", Some(RawSchema))))
      val ss = build(ctx, "sources") {
        raws.map { case (p, df) => GwasCatalog.fromHarmonizedSumstats(df, p) }.reduce(_ unionByName _)
      }
      write(ctx, validate(ctx, ss, "summary_statistics"), "sumstats")
    }

    op(ctx, "qc", failures, ops) {
      val ss = sumstats(ctx)
      val qc = build(ctx)(SumstatQC.fromSummaryStatistics(ss.df))
      write(ctx, validate(ctx, qc, "summary_statistics_qc"), "qc")
    }

    op(ctx, "clump", failures, ops) {
      val ss = sumstats(ctx)
      val leads = build(ctx) {
        ss.pvalueFilter(5e-8).windowBasedClumping(500000).df
          .filter(!array_contains(col("qualityControls"), WindowBasedClumping.WindowClumpedFlag))
          .withColumn("studyType", lit("gwas"))
      }
      write(ctx, validate(ctx, leads, "study_locus"), "clumped")
    }

    op(ctx, "locus_breaker", failures, ops) {
      val ss = sumstats(ctx)
      val loci = build(ctx)(ss.locusBreakerClumping(1e-5, 250000, 5e-8, 100000).df)
      write(ctx, validate(ctx, loci, "study_locus"), "locus_breaker")
    }

    op(ctx, "pics", failures, ops) {
      val leads = studyLoci(ctx, "clumped")
      val ld = read(ctx)(ctx.gs.loadData(Seq(ctx.path("ld")), "parquet", Some(LdSchema)))
      val fm = build(ctx) {
        val withLd = leads.drop("ldSet", "locus")
          .join(ld.select(col("variantId"), col("ldSet").as("_ld")), Seq("variantId"), "left")
          .withColumn("_ld", coalesce(col("_ld"),
            array(struct(col("variantId").as("tagVariantId"), lit(1.0).as("r2Overall")))))
          .withColumn("_nlp", Stats.neglogpvalFromPvalue(col("pValueMantissa"), col("pValueExponent")))
        Pics.finemapStaged(withLd, "_ld", "_nlp", "locus")
          .withColumnRenamed("_ld", "ldSet")
          .drop("_nlp")
          .withColumn("finemappingMethod", lit("PICS"))
      }
      write(ctx, validate(ctx, fm, "study_locus"), "pics")
    }

    op(ctx, "credset", failures, ops) {
      val sl = studyLoci(ctx, "pics")
      val ss = sumstats(ctx)
      val annotated = build(ctx) {
        // tag statistics from the study's summary statistics; log Bayes
        // factor by Wakefield's approximation with prior sd 0.15
        val w = 0.15 * 0.15
        val r = lit(w) / (pow(col("standardError"), 2) + w)
        val tags = sl.select(col("studyLocusId"), col("studyId"), explode(col("locus")).as("t"))
          .select(col("studyLocusId"), col("studyId"), col("t.variantId").as("variantId"),
            col("t.posteriorProbability").as("posteriorProbability"),
            col("t.r2Overall").as("r2Overall"))
          .join(ss.df.select("studyId", "variantId", "beta", "standardError", "pValueMantissa",
            "pValueExponent"), Seq("studyId", "variantId"), "left")
          .withColumn("logBF",
            lit(0.5) * (log(lit(1.0) - r) + r * pow(col("beta") / col("standardError"), 2)))
        val loci = tags.groupBy("studyLocusId").agg(collect_list(struct(
          col("variantId"), col("posteriorProbability"), col("logBF"), col("beta"),
          col("standardError"), col("pValueMantissa"), col("pValueExponent"),
          col("r2Overall"))).as("locus"))
        CredibleSets.annotateCredibleSets(
          sl.drop("locus").join(loci, Seq("studyLocusId"), "left"), Some("variantId"))
      }
      write(ctx, validate(ctx, annotated, "study_locus"), "credsets")
    }

    op(ctx, "overlaps", failures, ops) {
      val cols = Seq("studyLocusId", "studyId", "studyType", "chromosome", "region", "locus").map(col)
      val gwas = studyLoci(ctx, "credsets")
      val qtl = studyLoci(ctx, "qtl")
      val ov = build(ctx)(Overlaps.findOverlaps(gwas.select(cols: _*).unionByName(qtl.select(cols: _*))))
      write(ctx, validate(ctx, ov, "study_locus_overlap"), "overlaps")
    }

    op(ctx, "coloc", failures, ops) {
      val ov = read(ctx)(GDataset.readParquet(spark, "study_locus_overlap", ctx.path("overlaps")))
      val coloc = build(ctx) {
        Colocalisation.coloc(ov)
          .unionByName(Colocalisation.ecaviar(ov), allowMissingColumns = true)
      }
      write(ctx, validate(ctx, coloc, "colocalisation"), "coloc")
    }

    op(ctx, "l2g", failures, ops) {
      val coloc = read(ctx)(GDataset.readParquet(spark, "colocalisation", ctx.path("coloc")))
      val sl = studyLoci(ctx, "credsets")
      val qtlGenes = read(ctx)(ctx.gs.loadData(Seq(ctx.path("qtl_genes")), "parquet", Some(QtlGeneSchema)))
      val genes = read(ctx)(ctx.gs.loadData(Seq(ctx.path("genes")), "parquet", Some(GeneSchema)))
      val (features, matrix) = build(ctx) {
        val withGene = coloc.join(
          qtlGenes.select(col("studyLocusId").as("rightStudyLocusId"), col("geneId").as("rightGeneId")),
          Seq("rightStudyLocusId"))
        val colocF = L2gFeatures.allColocFeatures(withGene, sl)
          .withColumn("featureValue", col("featureValue").cast("float"))
        val tags = sl.select(col("studyLocusId"), col("chromosome"), explode(col("locus")).as("t"))
          .select(col("studyLocusId"), col("chromosome"),
            element_at(split(col("t.variantId"), "_"), 2).cast("long").as("tagPosition"),
            col("t.posteriorProbability").as("pp"))
        val dist = QcJoins.distanceFeatures(tags, genes, 500000)
        val distF = Seq("distanceTssMean", "distanceTssMeanNeighbourhood").map { f =>
          dist.select(col("studyLocusId"), col("geneId"), lit(f).as("featureName"),
            col(f).cast("float").as("featureValue"))
        }.reduce(_ unionByName _)
        val features = colocF.unionByName(distF)
        val names = L2gFeatures.ColocFeatureDefs.map(_._1) ++
          Seq("distanceTssMean", "distanceTssMeanNeighbourhood")
        (features, L2gFeatures.featureMatrix(features, names))
      }
      write(ctx, validate(ctx, features, "l2g_feature"), "l2g_features")
      write(ctx, matrix, "l2g_matrix")
    }
    ops.toSeq
  }

  def check(ctx: Ctx): CheckResult = {
    val pp = aggregate(col("locus.posteriorProbability"), lit(0.0), (a, x) => a + x)
    val hSum = col("h0") + col("h1") + col("h2") + col("h3") + col("h4")
    val coloc = col("colocalisationMethod") === "COLOC"
    val ecaviar = col("colocalisationMethod") === "eCAVIAR"
    // (step, handoff, aggregates); each handoff is read once
    val outputs: Seq[(String, String, Seq[Column])] = Seq(
      ("ingest", "sumstats", Nil),
      ("qc", "qc", Seq(sum("n_variants"))),
      ("clump", "clumped", Seq(violations(
        !Stats.pvalueFilterCondition(col("pValueMantissa"), col("pValueExponent"), 5e-8)))),
      ("locus_breaker", "locus_breaker", Seq(violations(
        col("position") < col("locusStart") || col("position") > col("locusEnd")))),
      ("pics", "pics", Seq(violations(size(col("locus")) < 1 || abs(pp - 1.0) > 1e-6))),
      ("credset", "credsets", Seq(violations(
        !coalesce(element_at(col("locus"), 1).getField("is95CredibleSet"), lit(false))))),
      ("overlaps", "overlaps", Nil),
      ("coloc", "coloc", Seq(
        violations(coloc && !(abs(hSum - 1.0) <= 1e-6)),
        violations(ecaviar && !(col("clpp") >= 0.0 && col("clpp") <= 1.0 + 1e-9)),
        countDistinct(col("colocalisationMethod")))),
      ("l2g", "l2g_features", Seq(
        violations(col("featureValue").isNull || isnan(col("featureValue"))),
        countDistinct(col("studyLocusId"), col("geneId")))),
      ("l2g", "l2g_matrix", Nil))
    val summaries = outputs.map { case (step, rel, aggs) => rel -> summary(ctx, rel, aggs: _*) }.toMap
    val rows = summaries.map { case (rel, (n, _, _)) => rel -> n }
    def agg(rel: String, i: Int): Long = summaries(rel)._3(i) match {
      case n: java.lang.Number => n.longValue
      case _ => -1L
    }
    val failures = Seq(
      expect("ingest", rows("sumstats") == inputRows,
        s"ingested ${rows("sumstats")} rows of $inputRows generated"),
      expect("qc", rows("qc") == studies && agg("qc", 0) == inputRows,
        s"qc covers ${rows("qc")} studies and ${agg("qc", 0)} variants"),
      expect("clump", rows("clumped") > 0, "no leads"),
      expect("clump", agg("clumped", 0) == 0, "lead above p 5e-8"),
      expect("locus_breaker", rows("locus_breaker") > 0, "no loci"),
      expect("locus_breaker", agg("locus_breaker", 0) == 0, "lead outside its locus"),
      expect("pics", agg("pics", 0) == 0, "PICS posteriors do not sum to 1"),
      expect("credset", agg("credsets", 0) == 0, "top tag not in the 95% credible set"),
      expect("overlaps", rows("overlaps") > 0, "no overlaps"),
      expect("coloc", agg("coloc", 0) == 0, "COLOC h0-h4 do not sum to 1"),
      expect("coloc", agg("coloc", 1) == 0, "eCAVIAR CLPP outside [0, 1]"),
      expect("coloc", agg("coloc", 2) == 2, "COLOC or eCAVIAR produced no rows"),
      expect("l2g", agg("l2g_features", 0) == 0, "missing feature value"),
      expect("l2g", rows("l2g_matrix") == agg("l2g_features", 1),
        "matrix rows differ from (studyLocus, gene) pairs")
    ).flatten
    val steps = outputs.map { case (step, rel, _) =>
      (s"$step:$rel", summaries(rel)._1, summaries(rel)._2)
    }
    CheckResult(failures, steps)
  }

  override def layerCounts(ctx: Ctx): Map[String, Double] = {
    val pairs = ctx.spark.read.parquet(ctx.path("overlaps"))
      .select("leftStudyLocusId", "rightStudyLocusId").distinct().count()
    val loci = ctx.spark.read.parquet(ctx.path("credsets")).count()
    Map("operators.overlaps.pairs_per_locus" -> pairs.toDouble / math.max(1L, loci))
  }
}
