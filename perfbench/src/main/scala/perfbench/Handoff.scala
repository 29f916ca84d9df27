package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{SchemaRegistry, SchemaValidation}

/** The layer boundaries of a chain step: read the handoff (core), build the
  * operator's frame (operators, or sources for ingestion), validate the
  * result against its declared schema (core), write the next handoff
  * (core; the Spark job runs here).
  */
object Handoff {

  /** Times one operation; an exception marks it failed and the pass goes on. */
  def op(ctx: Ctx, name: String, failures: mutable.ArrayBuffer[Failure],
      ops: mutable.ArrayBuffer[OpTime])(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try ctx.tracer.span(s"op:$name", "bench")(body)
    catch {
      case NonFatal(e) =>
        failures += Failure(name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    ops += OpTime(name, (System.nanoTime() - t0) / 1e9)
  }

  def read[T](ctx: Ctx)(body: => T): T = ctx.tracer.span("read", "core")(body)

  def build[T](ctx: Ctx, layer: String = "operators")(body: => T): T =
    ctx.tracer.span("build", layer)(body)

  def validate(ctx: Ctx, df: DataFrame, schemaName: String): DataFrame =
    ctx.tracer.span("validate", "core") {
      SchemaValidation.validateOrThrow(schemaName, df.schema, SchemaRegistry(schemaName))
      df
    }

  /** `GSession.writeParquet` into the work dir; traced passes also count
    * the parquet files and bytes the write left behind.
    */
  def write(ctx: Ctx, df: DataFrame, rel: String): Unit = {
    ctx.tracer.span("write", "core")(ctx.gs.writeParquet(df, ctx.path(rel)))
    if (ctx.tracer.enabled) {
      val dir = new Path(ctx.path(rel))
      val fs = dir.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet"))
      ctx.tracer.count("files_written", files.length)
      ctx.tracer.count("bytes_written", files.map(_.getLen).sum.toDouble)
    }
  }

  /** Row count, an order-independent digest (sum of the rows' xxhash64)
    * and any further aggregates of a written handoff, in one job.
    */
  def summary(ctx: Ctx, rel: String, extra: Column*): (Long, String, Seq[Any]) = {
    val df = ctx.spark.read.parquet(ctx.path(rel))
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")
    val r = df.agg(count(lit(1)), (coalesce(sum(h), lit(0)).cast("string") +: extra): _*).head()
    (r.getLong(0), r.getString(1), (2 until r.size).map(r.get))
  }

  def digest(ctx: Ctx, rel: String): (Long, String) = {
    val (rows, dg, _) = summary(ctx, rel)
    (rows, dg)
  }

  /** Count of rows where `bad` holds, as a [[summary]] aggregate. */
  def violations(bad: Column): Column = sum(when(bad, 1L).otherwise(0L))

  /** A check that holds when `bad` rows of the handoff number zero. */
  def expectNone(ctx: Ctx, step: String, rel: String, bad: DataFrame => DataFrame,
      what: String): Option[Failure] = {
    val n = bad(ctx.spark.read.parquet(ctx.path(rel))).count()
    if (n == 0) None else Some(Failure(step, s"$n rows violate: $what"))
  }

  def expect(step: String, ok: Boolean, what: => String): Option[Failure] =
    if (ok) None else Some(Failure(step, what))
}
