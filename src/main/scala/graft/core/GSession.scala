package graft.core

import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Thin session wrapper carrying engine-level write configuration and the
  * generic multi-format reader (reference: common/session.py:195-356, 599-689).
  *
  * Engine conf keys (set on the underlying SparkSession):
  *   - `spark.graft.writeMode` (default `errorifexists`)
  *   - `spark.graft.outputPartitions` (default 200)
  */
final case class GSession(spark: SparkSession) {

  def writeMode: String =
    spark.conf.getOption("spark.graft.writeMode").getOrElse("errorifexists")

  def outputPartitions: Int =
    spark.conf.getOption("spark.graft.outputPartitions").map(_.toInt).getOrElse(200)

  /** Generic reader: parquet (mergeSchema), csv/tsv (header, sep), json —
    * optional declared schema, list of paths, recursive lookup
    * (common/session.py:599-689). Schema is inferred only for ad-hoc
    * delimited loads; curated datasets always pass a declared schema.
    */
  def loadData(
      paths: Seq[String],
      format: String = "parquet",
      schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty
  ): DataFrame = {
    val fmt = format.toLowerCase
    val base = spark.read
    val withSchema = schema.fold(base)(base.schema)
    val reader = fmt match {
      case "parquet" =>
        withSchema.options(Map("mergeSchema" -> "true") ++ options).format("parquet")
      case "csv" =>
        val defaults = Map("header" -> "true", "inferSchema" -> schema.isEmpty.toString)
        withSchema.options(defaults ++ options).format("csv")
      case "tsv" =>
        val defaults = Map(
          "header" -> "true",
          "sep" -> "\t",
          "inferSchema" -> schema.isEmpty.toString
        )
        withSchema.options(defaults ++ options).format("csv")
      case "json" | "jsonl" =>
        withSchema.options(options).format("json")
      case "orc" =>
        withSchema.options(options).format("orc")
      case other =>
        throw new IllegalArgumentException(s"Unsupported format: $other")
    }
    reader.load(paths: _*)
  }

  /** Driver-side URL fetch → DataFrame (common/session.py:691-727): download
    * to a temp file, then delegate to [[loadData]]. Supports any URL scheme
    * java.net resolves (http/https/file).
    */
  def loadFromUrl(
      url: String,
      format: String,
      schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty
  ): DataFrame = {
    val suffix = "." + (if (format == "tsv") "tsv" else format)
    val tmp = java.nio.file.Files.createTempFile("graft-url", suffix)
    val in = new java.net.URL(url).openStream()
    try {
      java.nio.file.Files.copy(in, tmp, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally in.close()
    loadData(Seq(tmp.toString), format, schema, options)
  }

  /** Parquet sink with session-level write mode + coalesce
    * (common/session.py:336-356).
    */
  def writeParquet(df: DataFrame, path: String, partitions: Option[Int] = None): Unit =
    df.coalesce(partitions.getOrElse(outputPartitions))
      .write
      .mode(writeMode)
      .parquet(path)

  /** Globally-sorted parquet sink: `orderBy(chromosome, position)` before the
    * write so row groups are coordinate-clustered for downstream min/max
    * pruning (common/processing.py:428).
    */
  def writeSortedParquet(df: DataFrame, path: String, sortCols: Seq[String]): Unit =
    df.orderBy(sortCols.map(org.apache.spark.sql.functions.col): _*)
      .write
      .mode(writeMode)
      .parquet(path)

  /** Bucketed managed table: co-locates rows by hash of the bucket columns
    * so equi joins between tables bucketed on the same keys run without a
    * shuffle — the pre-partitioning strategy for repeated large-large joins
    * (e.g. sumstats × variant index on variantId at 100 TB).
    */
  def writeBucketedTable(
      df: DataFrame,
      tableName: String,
      bucketCols: Seq[String],
      numBuckets: Int
  ): Unit =
    df.write
      .mode(writeMode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(tableName)

  /** Small-file compaction: rewrite a parquet dataset into
    * `ceil(totalBytes / targetBytes)` files. Streaming appends and
    * per-partition-value sinks accumulate thousands of KB-sized files;
    * at scan time each file costs a task plus footer reads, so periodic
    * compaction is a standing maintenance job of any 100 TB lake. The
    * rewrite goes to a NEW directory (no in-place mutation — swap is the
    * caller's atomic rename), content byte-identical, row order not
    * preserved (parquet makes no ordering promise across files).
    *
    * @return (filesBefore, filesAfter)
    */
  def compactParquet(inPath: String, outPath: String, targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val conf = spark.sparkContext.hadoopConfiguration
    val in = new org.apache.hadoop.fs.Path(inPath)
    val fs = in.getFileSystem(conf)
    val files = fs.listStatus(in).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val totalBytes = files.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    spark.read.parquet(inPath)
      .repartition(nOut)
      .write.mode("overwrite").parquet(outPath)
    val outFiles = fs.listStatus(new org.apache.hadoop.fs.Path(outPath))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    (files.length, outFiles)
  }

  /** Register the splittable BGZF codec for block-gzipped TSV summary stats
    * (common/session.py:473-497). Defaults to the in-repo
    * [[graft.sources.BgzfCodec]] (claims `.bgz`), so 100 GB block-gzipped
    * files scan in parallel; an external Hadoop-BAM-style codec class can be
    * substituted.
    */
  def enableSplittableGzip(
      codecClass: String = "graft.sources.BgzfCodec"
  ): Unit =
    spark.sparkContext.hadoopConfiguration.set("io.compression.codecs", codecClass)

  /** Hive-style partitioned sink — repartition on the partition column first
    * so each task writes one file per partition value
    * (common/processing.py:469-476).
    */
  def writePartitionedParquet(df: DataFrame, path: String, partitionCol: String): Unit =
    df.repartition(org.apache.spark.sql.functions.col(partitionCol))
      .write
      .mode(writeMode)
      .partitionBy(partitionCol)
      .parquet(path)
}

object GSession {

  /** Cluster-mode configuration preset, matching the reference's recommended
    * production tuning (common/session.py:139-191, BASELINE.md): apply these
    * on the SparkSession.Builder for a real deployment. Shuffle parallelism
    * is left to the cluster default (200+) or AQE coalescing.
    */
  val clusterConf: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "512m",
    "spark.sql.broadcastTimeout" -> "3000",
    "spark.graft.outputPartitions" -> "200"
  )

  /** Spark's own scan split and open cost, for local runs whose input files
    * are production-sized (corpus makers, at-scale probes): the 8 MB
    * fixture split would inflate their scan task counts ~16×.
    */
  val productionScan: Map[String, String] = Map(
    "spark.sql.files.maxPartitionBytes" -> "128m",
    "spark.sql.files.openCostInBytes" -> "4m")

  /** Local core count: `SPARK_GRAFT_CPUS`, else every available processor. */
  val envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Shuffle-partition override, `SPARK_GRAFT_SHUFFLE_PARTITIONS`. Local
    * runs default to the core count, right for MB-scale fixtures; bigger
    * local corpora need more (measured at sf10: q_coloc 251 s with 25 GB
    * spill at 32 partitions vs 135 s with none at 256).
    */
  val envShufflePartitions: Option[String] = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")

  /** Parses `SPARK_GRAFT_EXTRA_CONF`: semicolon-separated `key=value`
    * entries. Blank entries are skipped, a value may itself contain `=`
    * (the split is on the first one), and a later entry for the same key
    * wins. Anything else is an error that names the entry.
    */
  def parseExtraConf(spec: String): Map[String, String] =
    spec.split(";").iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => sys.error(s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not key=value")
      }
    }.toMap

  /** `SPARK_GRAFT_EXTRA_CONF`, parsed once: the robustness-sweep hook
    * (codegen off, AQE off, shuffle.partitions=1/200; see
    * `tools/config_sweep.sh`) that overrides every other setting.
    */
  lazy val envExtraConf: Map[String, String] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").map(parseExtraConf).getOrElse(Map.empty)

  /** The conf of a local session, each layer overriding the one before:
    * the fixture conf, the caller's `conf`, then `extra`
    * (`SPARK_GRAFT_EXTRA_CONF`). Local fixture files are single-digit MBs,
    * not the 128 MB-1 GB of production tables; under the default 128 MB
    * packing and 4 MB open cost a whole fact table lands in ~2 scan tasks
    * and every pre-shuffle stage runs 2-wide on a 32-core machine
    * (measured: q_coloc 30 s → 20 s at sf1 from this split alone), so the
    * fixture conf sizes the split to the fixtures. A run against genuinely
    * large data passes [[productionScan]] as `conf`.
    */
  def settings(
      cores: Int,
      conf: Map[String, String],
      extra: Map[String, String] = envExtraConf): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> envShufflePartitions.getOrElse(cores.toString),
    "spark.sql.files.maxPartitionBytes" -> "8m",
    "spark.sql.files.openCostInBytes" -> "1m",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // events.parquet has shipped as TIMESTAMP(NANOS); read it as a long
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false") ++ conf ++ extra

  /** The one local session factory of every main and spec: `local[cores]`
    * with the engine's SQL functions registered ([[graft.GraftExtensions]])
    * and the conf of [[settings]].
    */
  def local(cores: Int = envCpus, conf: Map[String, String] = Map.empty): GSession = {
    val spark = settings(cores, conf)
      .foldLeft(SparkSession.builder().master(s"local[$cores]").appName("graft")
        .withExtensions(new graft.GraftExtensions)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GSession(spark)
  }
}
