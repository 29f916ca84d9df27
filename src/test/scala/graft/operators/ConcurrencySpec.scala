package graft.operators

import java.util.concurrent.atomic.AtomicBoolean
import java.util.concurrent.{Executors, TimeUnit}

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pipelines share one SparkSession across query threads — pin that the
  * engine never lets one operator's planner needs leak into a concurrent
  * query. Round-17 closure of the r16 "containment-join session-conf
  * window" wart: the folded containment path now plans its relaxed-
  * co-partitioning materialisation on a cloned `newSession()`, so the
  * caller's session conf must be untouched at EVERY instant.
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
    // ground truth from the forced shuffle-fallback shape (its planning
    // never touches any conf), collected before the concurrency run
    val want = Dedup.containmentJoin(docs, theta = 0.8, maxBroadcastPairs = -1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val baselineExchanges = exchanges(sensitivePlan())
    assert(spark.conf.getOption(coPartKey).forall(_ == "true"),
      "precondition: caller session must start at default co-partitioning")

    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val done = new AtomicBoolean(false)
    try {
      // folded path forced via the row-count override — this is the shape
      // that plans on the cloned session with the relaxed conf
      val folded = Future {
        try Dedup.containmentJoin(
          docs, theta = 0.8, maxBroadcastPairs = Long.MaxValue)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        finally done.set(true)
      }
      // while the folded materialisation runs, the caller session must
      // keep default semantics: conf unset/true and the sensitive plan's
      // exchange layout byte-stable
      var polls = 0
      while (!done.get() && polls < 1000) {
        assert(spark.conf.getOption(coPartKey).forall(_ == "true"),
          s"caller session conf mutated mid-flight (poll $polls)")
        if (polls % 5 == 0)
          assert(exchanges(sensitivePlan()) == baselineExchanges,
            s"concurrent query's exchange layout changed (poll $polls)")
        polls += 1
      }
      val got = Await.result(folded, Duration(120, TimeUnit.SECONDS))
      assert(got == want, s"folded-on-clone result diverged: got ${got.size}, want ${want.size}")
      assert(spark.conf.getOption(coPartKey).forall(_ == "true"),
        "caller session conf must be untouched after the call")
    } finally {
      pool.shutdownNow()
    }
  }

  test("canary: folded-path cross-session cache bind still hits (Spark-internals coupling)") {
    // GraftSqlBridge.ofRows reaches into private[sql] Dataset.ofRows to
    // bind ONE analyzed-plan object to both the caller session and the
    // relaxed-conf clone — the round-17 fix for the view-based re-bind
    // that MISSED the cache-manager match and silently recomputed the
    // folded join (2.5× solo at sf0.1, 5.8× at the 100× probe) with
    // every oracle still green. This canary checks that plan shape: on
    // any Spark upgrade it fails loudly if the caller-bound result stops
    // reading the persisted count table.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val out = Dedup.containmentJoin(
      docs, theta = 0.8, maxBroadcastPairs = Long.MaxValue)
    // drive THIS QueryExecution (Dataset.count() would build its own)
    out.queryExecution.toRdd.count()
    // structural walk, stopping at cache boundaries: the display string
    // legitimately shows parquet scans INSIDE InMemoryRelation lineage,
    // so count real scan/cache nodes instead of grepping the string
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    def scans(p: SparkPlan): (Int, Int) = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case _: InMemoryTableScanExec => (1, 0) // cached boundary: stop
      case _: FileSourceScanExec => (0, 1)
      case other =>
        other.children.map(scans).foldLeft((0, 0)) {
          case ((c1, f1), (c2, f2)) => (c1 + c2, f1 + f2)
        }
    }
    val (cacheScans, fileScans) = scans(out.queryExecution.executedPlan)
    // the result must read BOTH persisted relations (per-pair counts +
    // per-doc sizes) from cache and touch no file source at all
    assert(cacheScans >= 2 && fileScans == 0,
      s"caller-bound folded result no longer reads the persisted tables " +
        s"(cache scans $cacheScans, file scans $fileScans) — the " +
        "cross-session plan-identity cache bind regressed:\n" +
        out.queryExecution.executedPlan.toString.split("\n").take(25).mkString("\n"))
  }

  test("two concurrent folded containmentJoins on one session do not interfere") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val wantLo = Dedup.containmentJoin(docs, theta = 0.9, maxBroadcastPairs = -1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantHi = Dedup.containmentJoin(docs, theta = 0.5, maxBroadcastPairs = -1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val a = Future {
        Dedup.containmentJoin(docs, theta = 0.9, maxBroadcastPairs = Long.MaxValue)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val b = Future {
        Dedup.containmentJoin(docs, theta = 0.5, maxBroadcastPairs = Long.MaxValue)
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
