package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.SparkEntry
import graft.tools.MakeReseededCorpus

import Handoff._

object CatalogSmall {
  /** The short half of the query catalog, sampled. A full pass of all 215
    * queries takes about 200 s at sf0.001 on a 4-core host, far longer than
    * one benchmark run may last, so a pass runs every 8th query (by name) of
    * the 105 that took under 0.6 s in that full pass. These are the queries
    * whose time goes mostly to building the plan, eager jobs and per-stage
    * latency. `--queries all` runs the whole catalog instead.
    */
  val Selected: Seq[String] = Seq(
    "q_attrib_stream_twin", "q_chunk", "q_efo_parse", "q_funnel_stream_twin", "q_harmonise",
    "q_interval_bin", "q_loftee", "q_multimodal", "q_profile", "q_reader_tsv",
    "q_sanity_filter", "q_tag_variant_source", "q_variant_counts", "q_zorder")

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
}

/** Catalog queries on a corpus reseeded from the vendored sf0.001 corpus,
  * each built by the harness and run into a noop sink, one at a time.
  */
final class CatalogSmall(seed: Long, corpus: String, tiny: Boolean, all: Boolean) extends Workload {
  import CatalogSmall._

  val name = "catalog_small"
  val queries: Seq[String] =
    if (all) SparkEntry.queries.keys.toSeq.sorted
    else if (tiny) Selected.take(3)
    else Selected
  var inputRows = 0L
  private var corpusDir = ""

  override def prepare(dir: String): Unit = {
    corpusDir = s"$dir/corpus"
    MakeReseededCorpus.main(Array(corpus, corpusDir, seed.toString))
  }

  def generate(ctx: Ctx): Unit =
    inputRows = Tables.map(t => ctx.spark.read.parquet(s"$corpusDir/$t.parquet").count()).sum

  /** Harness memos and cached frames are dropped before every pass, so
    * each pass does the same work.
    */
  private def reset(ctx: Ctx): Unit = {
    SparkEntry.cleanup()
    ctx.spark.catalog.clearCache()
  }

  /** Timed passes run each query into a noop sink; the first warm-up pass
    * writes parquet instead, which [[check]] compares with the DuckDB oracles.
    */
  def pass(ctx: Ctx, failures: mutable.ArrayBuffer[Failure], keep: Boolean): Seq[OpTime] = {
    reset(ctx)
    val ops = mutable.ArrayBuffer.empty[OpTime]
    queries.foreach { q =>
      op(ctx, q, failures, ops) {
        val df = build(ctx, "harness")(SparkEntry.queries(q)(ctx.spark, corpusDir))
        ctx.tracer.span("exec", "spark") {
          if (keep) df.write.mode("overwrite").parquet(ctx.path(s"out/$q"))
          else df.write.mode("overwrite").format("noop").save()
        }
      }
    }
    ops.toSeq
  }

  /** run.py compares each kept result with the query's DuckDB oracle on
    * the same reseeded corpus.
    */
  def check(ctx: Ctx): CheckResult = {
    val failures = mutable.ArrayBuffer.empty[Failure]
    val steps = mutable.ArrayBuffer.empty[(String, Long, String)]
    val duck = mutable.ArrayBuffer.empty[DuckCheck]
    queries.foreach { q =>
      val rel = s"out/$q"
      try {
        val (rows, dg) = digest(ctx, rel)
        steps += ((q, rows, dg))
        SparkEntry.oracleSql.get(q) match {
          case Some(sql) => duck += DuckCheck(q, ctx.path(rel), sql, corpusDir)
          case None => failures += Failure(q, "no oracle SQL")
        }
      } catch {
        case NonFatal(e) => failures += Failure(q, s"no result to check: ${e.getMessage}")
      }
    }
    CheckResult(failures.toSeq, steps.toSeq, duck.toSeq)
  }
}
