package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Dump one query result to `outDir/<name>`. A throwing query emits an
    * explicit failure artifact — a one-row parquet whose `_error` schema can
    * never match the oracle — so the driver reports a RED row instead of
    * silently shrinking its denominator (round-9 lesson: q_sessionize broke
    * and vanished from the dump with no red signal anywhere).
    */
  def dumpOne(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
    try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/$name")
    catch { case e: Throwable =>
      System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      import spark.implicits._
      Seq(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(2000)}")
        .toDF("_error").coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // Optional extra args: restrict to a subset of query names (local iteration).
    val only = args.drop(2).toSet
    // SPARK_GRAFT_EXTRA_CONF reaches this session through the factory: the
    // robustness sweep (tools/config_sweep.sh) runs this dump with codegen
    // off, AQE off and degenerate shuffle parallelism.
    val spark = graft.core.GSession.local().spark
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        dumpOne(spark, sfDir, outDir, name, fn)
        // queries that persist internal frames (coloc chain, pagerank
        // edges, IVF codebooks) would otherwise accumulate cache across a
        // ~200-query dump and starve executor memory at larger SFs —
        // measured: q_clump 3 s in isolation vs >20 min after 100 cached
        // queries at ~sf1. Mirror Bench's per-query isolation.
        spark.catalog.clearCache()
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
