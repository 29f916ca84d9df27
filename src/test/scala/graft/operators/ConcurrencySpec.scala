package graft.operators

import java.util.concurrent.atomic.AtomicBoolean
import java.util.concurrent.{Executors, TimeUnit}

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pipelines share one SparkSession across query threads — pin that the
  * engine never lets one operator's planner needs leak into a concurrent
  * query: an operator leaves the caller's session conf untouched at EVERY
  * instant, and concurrent calls on one session return their serial
  * results.
  */
class ConcurrencySpec extends SparkSpec {

  private val coPartKey = "spark.sql.requireAllClusterKeysForCoPartition"
  private val sfDir = "/root/testdata/sf0.001"

  /** A co-partition-sensitive plan: both sides pre-partitioned on a
    * SUBSET (k1) of the join keys (k1, k2). With the default conf the
    * planner must re-exchange both sides on the full key set; with the
    * relaxed conf it may accept the subset clustering — so this plan's
    * exchange count is a detector for the conf leaking mid-flight.
    */
  private def sensitivePlan(): String = {
    val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("k1"), col("l_partkey").as("k2"),
        col("l_quantity"))
      .repartition(4, col("k1"))
    val r = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("k1"), col("l_partkey").as("k2"),
        col("l_extendedprice"))
      .repartition(4, col("k1"))
    l.join(r, Seq("k1", "k2")).queryExecution.executedPlan.toString
  }

  private def exchanges(p: String): Int =
    "Exchange".r.findAllIn(p).length

  test("containmentJoin folded path never mutates the caller session's conf; concurrent plans are stable") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // ground truth from a serial run, collected before the concurrency run
    val want = Dedup.containmentJoin(docs, theta = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val baselineExchanges = exchanges(sensitivePlan())
    assert(spark.conf.getOption(coPartKey).forall(_ == "true"),
      "precondition: caller session must start at default co-partitioning")
    val confBefore = spark.conf.getAll

    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val done = new AtomicBoolean(false)
    try {
      val running = Future {
        try Dedup.containmentJoin(docs, theta = 0.8)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        finally done.set(true)
      }
      // while the join runs, the caller session must keep default
      // semantics: conf unset/true and the sensitive plan's exchange
      // layout byte-stable
      var polls = 0
      while (!done.get() && polls < 1000) {
        assert(spark.conf.getOption(coPartKey).forall(_ == "true"),
          s"caller session conf mutated mid-flight (poll $polls)")
        if (polls % 5 == 0)
          assert(exchanges(sensitivePlan()) == baselineExchanges,
            s"concurrent query's exchange layout changed (poll $polls)")
        polls += 1
      }
      val got = Await.result(running, Duration(120, TimeUnit.SECONDS))
      assert(got == want, s"concurrent result diverged: got ${got.size}, want ${want.size}")
      assert(spark.conf.getAll == confBefore,
        "caller session conf must be untouched after the call")
    } finally {
      pool.shutdownNow()
    }
  }

  test("two concurrent folded containmentJoins on one session do not interfere") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val wantLo = Dedup.containmentJoin(docs, theta = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantHi = Dedup.containmentJoin(docs, theta = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val a = Future {
        Dedup.containmentJoin(docs, theta = 0.9)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val b = Future {
        Dedup.containmentJoin(docs, theta = 0.5)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      assert(Await.result(a, Duration(180, TimeUnit.SECONDS)) == wantLo,
        "theta=0.9 result diverged under concurrency")
      assert(Await.result(b, Duration(180, TimeUnit.SECONDS)) == wantHi,
        "theta=0.5 result diverged under concurrency")
    } finally {
      pool.shutdownNow()
    }
  }

  /** A value deterministic across re-runs of the same query at the same
    * SF: doubles rounded to 6 significant digits (logsumexp-family
    * kernels may drift ulps across JIT states — see the verify notes),
    * rows sorted.
    */
  private def fingerprint(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    def fmt(v: Any): String = v match {
      case null                => "∅"
      case d: Double           => f"$d%.6g"
      case f: Float            => f"$f%.6g"
      case b: Array[Byte]      => b.map("%02x".format(_)).mkString
      case s: Seq[_]           => s.map(fmt).mkString("[", ",", "]")
      case m: Map[_, _]        =>
        m.toSeq.map { case (k, x) => s"${fmt(k)}→${fmt(x)}" }.sorted
          .mkString("{", ",", "}")
      case r: org.apache.spark.sql.Row => r.toSeq.map(fmt).mkString("(", ",", ")")
      case other               => other.toString
    }
    df.collect().map(r => r.toSeq.map(fmt).mkString("|")).sorted.toSeq
  }

  test("mixed query families run green from parallel threads on one shared session") {
    // the cache-lifecycle-heavy dedup/setsim family alongside joins,
    // windows, aggregations and ANN — the families a shared-session
    // pipeline actually mixes; each thread's result must equal its own
    // serial run (tools/ConcurrencySmoke runs the FULL surface at sf0.01)
    val names = Seq(
      "q_containment_join", "q_setsim_join", "q_minhash", "q_simhash",
      "q_image_phash", "q_clump", "q_top1_per_group", "q_asof_join",
      "q_bm25", "q_tfidf", "q_url_canon", "q_sessionize",
      "q_scd2", "q_ann_ivf", "q_sumstat_qc", "q_md5_id")
    val qs = graft.SparkEntry.queries
    names.foreach(n => assert(qs.contains(n), s"unknown smoke query $n"))
    val serial = names.map(n => n -> fingerprint(qs(n)(spark, sfDir))).toMap
    val pool = Executors.newFixedThreadPool(6)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futs = names.map { n =>
        Future { n -> fingerprint(qs(n)(spark, sfDir)) }
      }
      val got = Await.result(
        Future.sequence(futs), Duration(600, TimeUnit.SECONDS)).toMap
      names.foreach { n =>
        assert(got(n) == serial(n), s"$n diverged under concurrency")
      }
    } finally {
      pool.shutdownNow()
    }
  }
}
