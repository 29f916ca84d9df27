package graft.harness

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.datasets.{StudyLocus, SummaryStatistics}
import graft.operators.Annotations

/** Oracle-checked queries for dataset-level operators that previously had
  * only ScalaTest evidence: sanity_filter, credible-set / LD-set array
  * filters, the boundaries range join, and global-sort ordering.
  */
object DatasetQueries {
  import Tables._

  /** Sumstats with planted defects: zero betas, null SEs, p ≥ 1, null
    * mantissas, infinite betas — sanityFilter must drop exactly those
    * (reference: dataset/summary_statistics.py:147-176).
    */
  def sanityFilterQ(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey")
    val raw = orders(s, d).select(
      k.as("row_id"),
      when(k % 11 === 0, lit(0.0))
        .when(k % 31 === 0, lit(Double.PositiveInfinity))
        .otherwise(((k % 19) - 9) / lit(10.0)).as("beta"),
      when(k % 13 === 0, lit(null).cast("double"))
        .when(k % 17 === 0, lit(0.0))
        .otherwise(lit(0.01) + (k % 50) / lit(1000.0)).as("standardError"),
      when(k % 7 === 0, lit(null).cast("float"))
        .otherwise((lit(1.0) + (k % 90) / lit(10.0)).cast("float")).as("pValueMantissa"),
      when(k % 5 === 0, lit(0)).otherwise(-(k % 30 + 1)).cast(IntegerType)
        .as("pValueExponent")
    )
    SummaryStatistics(raw).sanityFilter().df
      .select(
        col("row_id"),
        round(col("beta"), 6).as("beta"),
        round(col("standardError"), 6).as("standardError"),
        round(col("pValueMantissa").cast("double"), 4).as("pValueMantissa"),
        col("pValueExponent"))
  }

  /** Credible-interval + LD-set array filters
    * (dataset/study_locus.py:803-843): per locus, 4 tags with deterministic
    * 95%-membership and 4 LD tags with deterministic r²; output the kept
    * members in array order.
    */
  def credsetFilterQ(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey")
    def tag(j: Int) = struct(
      concat(lit("v"), lit(j)).as("variantId"),
      ((k + j) % 3 =!= 0).as("is95CredibleSet")
    )
    def ld(j: Int) = struct(
      concat(lit("t"), lit(j)).as("tagVariantId"),
      (((k * (j + 1)) % 100) / lit(100.0)).as("r2Overall")
    )
    val locusDf = orders(s, d).select(
      k.as("row_id"),
      array(tag(0), tag(1), tag(2), tag(3)).as("locus"),
      array(ld(0), ld(1), ld(2), ld(3)).as("ldSet")
    )
    StudyLocus(locusDf)
      .filterCredibleSet()
      .filterLdSet(0.5)
      .df
      .select(
        col("row_id"),
        concat_ws(",", transform(col("locus"), x => x.getField("variantId"))).as("kept_tags"),
        concat_ws(",", transform(col("ldSet"), x => x.getField("tagVariantId"))).as("kept_ld"),
        size(col("locus")).as("n_tags"),
        size(col("ldSet")).as("n_ld")
      )
  }

  /** Boundaries range join: collect sumstats between each lead's
    * locusStart/locusEnd (dataset/study_locus.py:1342-1405).
    */
  def boundariesQ(s: SparkSession, d: String): DataFrame = {
    val ss = GenomicQueries.synthSumstats(s, d).df
    val leads = ss
      .filter(col("position") % 89 === 0)
      .select(
        col("studyId"), col("chromosome"),
        concat_ws("_", col("studyId"), col("variantId")).as("studyLocusId"),
        (col("position") - 30000).as("locusStart"),
        (col("position") + 30000).as("locusEnd")
      )
    Annotations
      .annotateLocusStatisticsBoundaries(leads, ss)
      .select(
        col("studyLocusId"),
        size(col("locus")).as("n_tags"),
        round(
          aggregate(transform(col("locus"), x => x.getField("beta")), lit(0.0), (a, x) => a + x),
          6
        ).as("beta_sum")
      )
  }

  /** Global-sort ordering semantics behind the sorted parquet sink
    * (GSession.writeSortedParquet): every row's rank under the total
    * (chromosome, position, studyId) order — deterministic because
    * positions are unique within (studyId, chromosome).
    *
    * Computed scale-safely with FeatureOps.withDistributedRank: the
    * within-chromosome rank is quantile-bin-partitioned (no task ever
    * holds more than ~chromosome/bins rows — a per-chromosome window
    * would cap parallelism at ~25 AND buffer whole chromosomes per task),
    * plus a broadcast per-chromosome row-count offset. The only
    * unpartitioned window left runs over the ~25-row chromosome count
    * frame.
    */
  def globalSortQ(s: SparkSession, d: String): DataFrame = {
    val ss = GenomicQueries.synthSumstats(s, d).df
    val within = graft.operators.FeatureOps
      .withDistributedRank(
        ss.select(col("studyId"), col("chromosome"), col("position")),
        Seq("chromosome"), "position", "studyId")
      .select(
        col("studyId"), col("chromosome"), col("position"),
        col("__rank").as("chrom_rank"))
    // Per-chromosome counts straight off `ss` — counting through `within`
    // (round-18 shape) re-derived the whole rank machinery (quantile
    // boundaries + bin repartition) just to count rows the rank pass never
    // changes. Offsets via an exclusive running sum over the ~25-row count
    // frame: the window is unpartitioned but bounded by the chromosome
    // cardinality (the same tiny-histogram discipline as FeatureOps'
    // internal offsets) — the round-18 a<b self-join computed the ENTIRE
    // counts subtree twice (plans/r18/before/q_global_sort.txt nodes
    // 51-73 vs 74-97) to avoid a warning on a 25-row frame.
    val wOff = org.apache.spark.sql.expressions.Window
      .orderBy(col("chromosome"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = ss.groupBy("chromosome").agg(count(lit(1)).as("n"))
      .select(
        col("chromosome"),
        coalesce(sum(col("n")).over(wOff), lit(0L)).as("offset"))
    within
      .join(broadcast(offsets), Seq("chromosome"))
      .select(
        col("studyId"), col("chromosome"), col("position"),
        (col("chrom_rank") + col("offset")).cast("int").as("global_rank"))
  }

  /** Partitioned-sink + generic-reader round trip (GSession
    * .writePartitionedParquet + .loadData; reference common/
    * processing.py:469-476, session.py:599-689): nation written to a
    * Hive-partitioned parquet dataset and read back through the generic
    * reader. The oracle reads the source table directly, so the compare
    * proves the round trip is content-identical (partition-column value
    * recovery included).
    */
  def sinkRoundtripQ(s: SparkSession, d: String): DataFrame = {
    val gs = graft.core.GSession(s)
    val dir = graft.core.TempRoot.jvm.dir("graft-sink").toString
    gs.writePartitionedParquet(
      nation(s, d).select(col("n_nationkey"), col("n_name"), col("n_regionkey")),
      s"$dir/part",
      "n_regionkey")
    gs.loadData(Seq(s"$dir/part"))
      .select(
        col("n_nationkey"), col("n_name"),
        // partition-directory values re-infer as int; restore source type
        col("n_regionkey").cast("long"))
  }

  /** ORC sink/reader round trip (GSession.loadData "orc" path): supplier
    * written as ORC and read back; the oracle reads the source parquet, so
    * the compare proves cross-format content identity.
    */
  def readerOrcQ(s: SparkSession, d: String): DataFrame = {
    val gs = graft.core.GSession(s)
    val dir = graft.core.TempRoot.jvm.dir("graft-orc").toString
    supplier(s, d)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
      .write.mode("overwrite").orc(s"$dir/orc")
    gs.loadData(Seq(s"$dir/orc"), format = "orc")
  }

  /** Declared-schema TSV reader round trip (GSession.loadData "tsv" path):
    * region dumped as a headered TSV and read back through the generic
    * reader with a declared schema (no inference). Oracle reads the source.
    */
  def readerTsvQ(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val gs = graft.core.GSession(s)
    val dir = graft.core.TempRoot.jvm.dir("graft-reader").toString
    region(s, d).select(col("r_regionkey"), col("r_name"))
      .coalesce(1)
      .write.option("header", "true").option("sep", "\t")
      .csv(s"$dir/tsv")
    gs.loadData(
      Seq(s"$dir/tsv"),
      "tsv",
      Some(StructType(Seq(
        StructField("r_regionkey", LongType),
        StructField("r_name", StringType)))))
  }

  /** Driver-side URL fetch round trip (GSession.loadFromUrl, the
    * `_load_from_url` counterpart): region dumped as a headered TSV, then
    * read back through a file:// URL (same code path as http/https — any
    * scheme java.net resolves). Oracle reads the source table.
    */
  def readerUrlQ(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val gs = graft.core.GSession(s)
    val dir = graft.core.TempRoot.jvm.dir("graft-url")
    region(s, d).select(col("r_regionkey"), col("r_name"))
      .coalesce(1)
      .write.option("header", "true").option("sep", "\t")
      .csv(s"$dir/tsv")
    val partFile = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/tsv"))
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .findFirst().get()
    gs.loadFromUrl(
      partFile.toUri.toURL.toString,
      "tsv",
      Some(StructType(Seq(
        StructField("r_regionkey", LongType),
        StructField("r_name", StringType)))))
  }

  /** Splittable block-gzip round trip ([[graft.sources.BgzfCodec]] — the
    * engine's replacement for the reference's Hail fallback on `.bgz`
    * inputs): nation dumped as a BGZF-compressed TSV (driver-side, bounded
    * 25 rows), read back through the codec-enabled declared-schema TSV
    * path. Oracle reads the source table.
    */
  def readerBgzfQ(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val gs = graft.core.GSession(s)
    val rows = nation(s, d).select(col("n_nationkey"), col("n_name"))
      .orderBy(col("n_nationkey")).collect()
    val tsv = "n_nationkey\tn_name\n" +
      rows.map(r => s"${r.get(0)}\t${r.getString(1)}").mkString("\n")
    val dir = graft.core.TempRoot.jvm.dir("graft-bgzf-q")
    val p = dir.resolve("nation.tsv.bgz")
    java.nio.file.Files.write(
      p, graft.sources.BgzfCodec.compress(tsv.getBytes("UTF-8"), 256))
    gs.enableSplittableGzip()
    gs.loadData(
      Seq(p.toString),
      "tsv",
      Some(StructType(Seq(
        StructField("n_nationkey", LongType),
        StructField("n_name", StringType)))))
  }

  /** FinnGen raw-TSV ingestion core (sources/FinnGen.fromSource —
    * datasource/finngen/summary_stats.py): nation-derived rows written as a
    * real `FINNGEN_R9_SYNTH.tsv` (studyId is parsed from the FILE NAME, so
    * the fixture must be an actual file), read through the declared-schema
    * reader: p-value split to mantissa/exponent, zero-beta rows dropped,
    * range-partitioned output. Oracle re-derives the rows from nation.
    */
  def finngenReaderQ(s: SparkSession, d: String): DataFrame = {
    val ns = nation(s, d).select(col("n_nationkey").cast("long"))
      .orderBy("n_nationkey").collect().map(_.getLong(0))
    val header = "#chrom\tpos\tref\talt\trsids\tnearest_genes\tpval\tmlogp" +
      "\tbeta\tsebeta\taf_alt\taf_alt_cases\taf_alt_controls"
    val lines = ns.map { n =>
      val beta = ((n % 21) - 10) / 10.0 // n % 21 == 10 → 0.0, dropped by the reader
      Seq(
        (n % 4 + 1).toString, (n * 1000 + 7).toString, "A", "G",
        s"rs$n", s"GENE$n",
        s"${n % 9 + 1}e-${n % 30 + 2}", (n % 30 + 2).toString, beta.toString,
        ((n % 13 + 1) / 100.0).toString, ((n % 100) / 100.0).toString,
        "0.1", "0.1"
      ).mkString("\t")
    }
    val dir = graft.core.TempRoot.jvm.dir("graft-finngen")
    val p = dir.resolve("FINNGEN_R9_SYNTH.tsv")
    java.nio.file.Files.writeString(p, (header +: lines).mkString("\n"))
    graft.sources.FinnGen.fromSource(s, p.toString, outputPartitions = 4).df.select(
      col("studyId"), col("variantId"), col("chromosome"), col("position"),
      col("pValueMantissa"), col("pValueExponent"),
      round(col("beta"), 6).as("beta"),
      round(col("standardError"), 6).as("standardError"),
      col("effectAlleleFrequencyFromSource"))
  }

  /** eQTL-Catalogue raw credible-set reader (sources/EqtlCatalogue
    * .readCredibleSets — datasource/eqtl_catalogue/finemapping.py:60-121):
    * the same nation-derived rows written to TWO `*.credible_sets.tsv`
    * files (dataset_id comes from each file name) with every row duplicated
    * under two different rsids — the reader must collapse the rsid
    * explosion via drop+distinct and tag the credibleSetIndex from cs_id.
    */
  def eqtlCredsetsQ(s: SparkSession, d: String): DataFrame = {
    val ns = nation(s, d).select(col("n_nationkey").cast("long"))
      .orderBy("n_nationkey").collect().map(_.getLong(0))
    val header = "molecular_trait_id\tgene_id\tcs_id\tvariant\trsid\tcs_size\tpip" +
      "\tpvalue\tbeta\tse\tz\tcs_min_r2\tregion"
    def lineFor(n: Long, rsid: String) = Seq(
      s"t${n % 5}", s"ENSG0000$n", s"t${n % 5}_L${n % 3 + 1}", s"chr1_${n * 10}_A_G",
      rsid, (n % 7 + 1).toString, ((n % 100) / 100.0).toString,
      s"${n % 9 + 1}e-${n % 20 + 2}", ((n % 21 - 10) / 10.0).toString,
      ((n % 13 + 1) / 100.0).toString, ((n % 41 - 20) / 5.0).toString,
      ((n % 10) / 10.0).toString, s"chr1:${n * 10}-${n * 10 + 500}"
    ).mkString("\t")
    val body = ns.flatMap(n => Seq(lineFor(n, s"rs$n"), lineFor(n, s"rs${n}b")))
    val dir = graft.core.TempRoot.jvm.dir("graft-eqtlcs")
    for (ds <- Seq("QTD000011", "QTD000012"))
      java.nio.file.Files.writeString(
        dir.resolve(s"$ds.credible_sets.tsv"), (header +: body).mkString("\n"))
    graft.sources.EqtlCatalogue
      .readCredibleSets(s, dir.toString)
      .select(
        col("dataset_id"), col("molecular_trait_id"), col("gene_id"), col("cs_id"),
        col("credibleSetIndex"), col("variant"), col("cs_size"),
        round(col("pip"), 6).as("pip"), round(col("beta"), 6).as("beta"),
        round(col("se"), 6).as("se"), round(col("z"), 6).as("z"),
        round(col("cs_min_r2"), 6).as("cs_min_r2"), col("region"))
  }

  /** deCODE allele-frequency inference (sources/Decode.inferAlleleFrequency
    * — datasource/decode/summary_stats.py): pick whichever of impMAF /
    * 1−impMAF the gnomAD European AF is closer to; null EUR AF falls back
    * to impMAF. Pure column kernel over lineitem-derived pairs.
    */
  def decodeAfQ(s: SparkSession, d: String): DataFrame = {
    val k = col("l_orderkey") * 8 + col("l_linenumber")
    lineitem(s, d)
      .select(
        k.as("k"),
        ((k % 49 + 1) / lit(100.0)).as("impMaf"),
        when(k % 5 === 0, lit(null).cast("double"))
          .otherwise((k % 101) / lit(100.0)).as("eurAf"))
      .select(
        col("k"),
        round(graft.sources.Decode.inferAlleleFrequency(col("impMaf"), col("eurAf")), 6)
          .as("eaf"))
  }

  /** E2G BED parse (sources/Intervals.readBed — datasource/intervals/
    * e2g.py:35): headerless BED fixture; chr prefix stripped, 0-based
    * half-open → 1-based closed coordinates, gene id split from the
    * `<gene>|<rest>` name field.
    */
  def e2gParseQ(s: SparkSession, d: String): DataFrame = {
    val ns = nation(s, d).select(col("n_nationkey").cast("long"))
      .orderBy("n_nationkey").collect().map(_.getLong(0))
    val lines = ns.map { n =>
      val name = if (n % 2 == 0) s"ENSG0000$n|e$n" else s"ENSG0000$n"
      Seq(s"chr${n % 4 + 1}", (n * 100).toString, (n * 100 + 50).toString,
        name, ((n % 20) / 20.0).toString).mkString("\t")
    }
    val dir = graft.core.TempRoot.jvm.dir("graft-e2g")
    val p = dir.resolve("e2g.bed")
    java.nio.file.Files.writeString(p, lines.mkString("\n"))
    graft.sources.Intervals.readBed(s, p.toString)
      .select(
        col("chromosome"), col("start"), col("end"), col("geneId"),
        round(col("resourceScore"), 6).as("resourceScore"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sanity_filter" -> (sanityFilterQ _),
    "q_credset_filter" -> (credsetFilterQ _),
    "q_boundaries" -> (boundariesQ _),
    "q_global_sort" -> (globalSortQ _),
    "q_sink_roundtrip" -> (sinkRoundtripQ _),
    "q_reader_orc" -> (readerOrcQ _),
    "q_reader_tsv" -> (readerTsvQ _),
    "q_reader_url" -> (readerUrlQ _),
    "q_reader_bgzf" -> (readerBgzfQ _),
    "q_finngen_reader" -> (finngenReaderQ _),
    "q_eqtl_credsets" -> (eqtlCredsetsQ _),
    "q_decode_af" -> (decodeAfQ _),
    "q_e2g_parse" -> (e2gParseQ _)
  )

  private val FullSynthSql =
    """SELECT DISTINCT 's' || CAST(l_suppkey % 10 AS VARCHAR) AS studyId,
      |  CAST(1 + l_partkey % 4 AS VARCHAR) AS chromosome,
      |  CAST(((l_orderkey * 8 + l_linenumber) * 2654435761) % 1000000007 AS INTEGER) AS position,
      |  CAST(1 + l_partkey % 4 AS VARCHAR) || '_' ||
      |    CAST(((l_orderkey * 8 + l_linenumber) * 2654435761) % 1000000007 AS VARCHAR) ||
      |    '_A_T' AS variantId,
      |  (((l_orderkey * 8 + l_linenumber) * 2654435761) % 1000000007) % 1000 / 1000.0 - 0.5 AS beta
      |FROM lineitem""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_finngen_reader" ->
      """WITH b AS (SELECT CAST(n_nationkey AS BIGINT) AS n FROM nation),
        |c AS (SELECT n,
        |    CAST(n % 4 + 1 AS VARCHAR) AS chrom,
        |    n * 1000 + 7 AS pos,
        |    CAST(n % 9 + 1 AS REAL) AS pm,
        |    -(n % 30 + 2) AS pe,
        |    (n % 21 - 10) / 10.0 AS beta,
        |    (n % 13 + 1) / 100.0 AS se,
        |    CAST((n % 100) / 100.0 AS REAL) AS af
        |  FROM b)
        |SELECT 'FINNGEN_R9_SYNTH' AS "studyId",
        |  chrom || '_' || CAST(pos AS VARCHAR) || '_A_G' AS "variantId",
        |  chrom AS chromosome,
        |  CAST(pos AS INTEGER) AS position,
        |  pm AS "pValueMantissa", CAST(pe AS INTEGER) AS "pValueExponent",
        |  round(beta, 6) AS beta, round(se, 6) AS "standardError",
        |  af AS "effectAlleleFrequencyFromSource"
        |FROM c WHERE beta <> 0""".stripMargin,
    "q_eqtl_credsets" ->
      """WITH b AS (SELECT CAST(n_nationkey AS BIGINT) AS n FROM nation),
        |ds AS (SELECT * FROM (VALUES ('QTD000011'), ('QTD000012')) AS t(dataset_id))
        |SELECT ds.dataset_id,
        |  't' || CAST(n % 5 AS VARCHAR) AS molecular_trait_id,
        |  'ENSG0000' || CAST(n AS VARCHAR) AS gene_id,
        |  't' || CAST(n % 5 AS VARCHAR) || '_L' || CAST(n % 3 + 1 AS VARCHAR) AS cs_id,
        |  CAST(n % 3 + 1 AS INTEGER) AS "credibleSetIndex",
        |  'chr1_' || CAST(n * 10 AS VARCHAR) || '_A_G' AS variant,
        |  CAST(n % 7 + 1 AS INTEGER) AS cs_size,
        |  round((n % 100) / 100.0, 6) AS pip,
        |  round((n % 21 - 10) / 10.0, 6) AS beta,
        |  round((n % 13 + 1) / 100.0, 6) AS se,
        |  round((n % 41 - 20) / 5.0, 6) AS z,
        |  round((n % 10) / 10.0, 6) AS cs_min_r2,
        |  'chr1:' || CAST(n * 10 AS VARCHAR) || '-' || CAST(n * 10 + 500 AS VARCHAR)
        |    AS region
        |FROM b CROSS JOIN ds""".stripMargin,
    "q_decode_af" ->
      """WITH b AS (SELECT l_orderkey * 8 + l_linenumber AS k FROM lineitem),
        |c AS (SELECT k, (k % 49 + 1) / 100.0 AS maf,
        |    CASE WHEN k % 5 = 0 THEN NULL ELSE (k % 101) / 100.0 END AS eur FROM b)
        |SELECT k, round(CASE WHEN eur IS NULL THEN maf
        |    WHEN abs(eur - maf) <= abs(eur - (1 - maf)) THEN maf
        |    ELSE 1 - maf END, 6) AS eaf
        |FROM c""".stripMargin,
    "q_e2g_parse" ->
      """WITH b AS (SELECT CAST(n_nationkey AS BIGINT) AS n FROM nation)
        |SELECT CAST(n % 4 + 1 AS VARCHAR) AS chromosome,
        |  CAST(n * 100 + 1 AS INTEGER) AS start,
        |  CAST(n * 100 + 50 AS INTEGER) AS "end",
        |  'ENSG0000' || CAST(n AS VARCHAR) AS "geneId",
        |  round((n % 20) / 20.0, 6) AS "resourceScore"
        |FROM b""".stripMargin,
    "q_sink_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "q_reader_orc" ->
      "SELECT s_suppkey, s_name, s_nationkey FROM supplier",
    "q_reader_tsv" ->
      "SELECT r_regionkey, r_name FROM region",
    "q_reader_url" ->
      "SELECT r_regionkey, r_name FROM region",
    "q_reader_bgzf" ->
      "SELECT n_nationkey, n_name FROM nation",
    "q_sanity_filter" ->
      """WITH raw AS (SELECT o_orderkey AS row_id,
        |    CASE WHEN o_orderkey % 11 = 0 THEN 0.0
        |         WHEN o_orderkey % 31 = 0 THEN CAST('inf' AS DOUBLE)
        |         ELSE ((o_orderkey % 19) - 9) / 10.0 END AS beta,
        |    CASE WHEN o_orderkey % 13 = 0 THEN NULL
        |         WHEN o_orderkey % 17 = 0 THEN 0.0
        |         ELSE 0.01 + (o_orderkey % 50) / 1000.0 END AS se,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |         ELSE CAST(CAST(1.0 + (o_orderkey % 90) / 10.0 AS REAL) AS DOUBLE) END AS mant,
        |    CAST(CASE WHEN o_orderkey % 5 = 0 THEN 0
        |         ELSE -(o_orderkey % 30 + 1) END AS INTEGER) AS expo
        |  FROM orders)
        |SELECT row_id, round(beta, 6) AS beta, round(se, 6) AS "standardError",
        |  round(mant, 4) AS "pValueMantissa", expo AS "pValueExponent"
        |FROM raw
        |WHERE beta IS NOT NULL AND se IS NOT NULL AND mant IS NOT NULL
        |  AND beta <> 0 AND se > 0
        |  AND (expo < 0 OR (expo = 0 AND mant < 1.0))
        |  AND NOT isinf(beta) AND NOT isinf(se)""".stripMargin,
    "q_credset_filter" ->
      """SELECT o_orderkey AS row_id,
        |  coalesce(array_to_string(list_transform(
        |    list_filter(range(0, 4), j -> (o_orderkey + j) % 3 <> 0),
        |    j -> 'v' || j), ','), '') AS kept_tags,
        |  coalesce(array_to_string(list_transform(
        |    list_filter(range(0, 4), j -> ((o_orderkey * (j + 1)) % 100) / 100.0 >= 0.5),
        |    j -> 't' || j), ','), '') AS kept_ld,
        |  CAST(len(list_filter(range(0, 4), j -> (o_orderkey + j) % 3 <> 0)) AS INTEGER) AS n_tags,
        |  CAST(len(list_filter(range(0, 4),
        |    j -> ((o_orderkey * (j + 1)) % 100) / 100.0 >= 0.5)) AS INTEGER) AS n_ld
        |FROM orders""".stripMargin,
    "q_boundaries" ->
      s"""WITH ss AS ($FullSynthSql),
         |leads AS (SELECT studyId, chromosome, studyId || '_' || variantId AS slid,
         |    position - 30000 AS lo, position + 30000 AS hi
         |  FROM ss WHERE position % 89 = 0)
         |SELECT l.slid AS "studyLocusId",
         |  CAST(count(*) AS INTEGER) AS n_tags,
         |  round(sum(t.beta), 6) AS beta_sum
         |FROM leads l JOIN ss t
         |  ON t.studyId = l.studyId AND t.chromosome = l.chromosome
         |  AND t.position BETWEEN l.lo AND l.hi
         |GROUP BY 1""".stripMargin,
    "q_global_sort" ->
      s"""WITH ss AS ($FullSynthSql)
         |SELECT studyId, chromosome, position,
         |  CAST(row_number() OVER (ORDER BY chromosome, position, studyId) AS INTEGER)
         |    AS global_rank
         |FROM ss""".stripMargin
  )
}
