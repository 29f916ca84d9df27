package graft

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}

import graft.core.GSession

/** Benchmark main: times every SparkEntry query (or the queries named as
  * arguments) at the sf dir given by SPARK_GRAFT_SF_DIR and prints one
  * JSON line. The artifact file (SPARK_GRAFT_BENCH_OUT, default
  * `bench_latest.json`) carries every timing plus a per-query `profile`
  * of the best attempt: executor CPU, tasks, GC, shuffle write, spill,
  * per-task peak memory, and the query's build time and the Spark jobs that
  * ran while it was built. A failing query reports an `err` entry instead
  * of masquerading as a fast run.
  */
object Bench {
  /** Host-drift control queries (timed solo best-of-3 first in the fresh
    * JVM) and their pinned quiet-host references per SF dir basename —
    * medians of 3 SPARK_GRAFT_CONTROL_ONLY=1 runs, local[32], 2026-08-16
    * (BASELINE.md "Bench drift normalization"). Object-level so BenchSpec
    * can pin that every control name exists in the query surface — a
    * rename must fail at test time, not mid-bench.
    */
  val controlNames: Seq[String] =
    Seq("q_golden_record", "q_neglog_pval", "q_md5_id")
  val controlRefs: Map[String, Map[String, Double]] = Map(
    "sf0.1" -> Map(
      "q_golden_record" -> 0.534, "q_neglog_pval" -> 1.842,
      "q_md5_id" -> 0.160),
    "sf1" -> Map(
      "q_golden_record" -> 0.773, "q_neglog_pval" -> 1.157,
      "q_md5_id" -> 0.241),
    "sf10" -> Map(
      "q_golden_record" -> 1.467, "q_neglog_pval" -> 8.018,
      "q_md5_id" -> 0.282))

  /** Task-metric profile of one measured attempt: executor CPU, task
    * count, GC, shuffle write, disk spill and the largest per-task peak
    * execution memory, plus the driver-side build of the query: the seconds
    * `fn(spark, sfDir)` took on its own and the Spark jobs it ran (eager
    * actions inside a builder). Executor CPU and task counts stay stable
    * under co-tenant noise that swings wall clock 2-3x, so they decide
    * regressions on a busy host.
    */
  final case class Profile(
      cpuNs: Long, tasks: Long, gcMs: Long, shuffleWriteB: Long, spillB: Long, taskPeakB: Long,
      buildNs: Long = 0L, buildJobs: Int = 0) {
    def json: String = {
      def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
      def mb(b: Long) = "%.1f".formatLocal(java.util.Locale.ROOT, b / 1048576.0)
      s"""{"cpu_s":${f3(cpuNs / 1e9)},"tasks":$tasks,"gc_s":${f3(gcMs / 1e3)},""" +
        s""""shuffle_write_mb":${mb(shuffleWriteB)},"spill_mb":${mb(spillB)},""" +
        s""""task_peak_mb":${mb(taskPeakB)},"build_s":${f3(buildNs / 1e9)},""" +
        s""""build_jobs":$buildJobs}"""
    }
  }

  /** Task-metrics listener: sums the metrics of every task that ends
    * between [[reset]] and [[profile]].
    */
  final class TaskCounters extends SparkListener {
    private val cpuNs, tasks, gcMs, shuffleWriteB, spillB = new LongAdder
    private val taskPeakB = new AtomicLong(0L)

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        cpuNs.add(m.executorCpuTime)
        tasks.add(1L)
        gcMs.add(m.jvmGCTime)
        shuffleWriteB.add(m.shuffleWriteMetrics.bytesWritten)
        spillB.add(m.diskBytesSpilled)
        taskPeakB.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
      }
    }

    /** Starts a measurement, after earlier actions' events have arrived. */
    def reset(spark: SparkSession): Unit = {
      GraftSqlBridge.drainListenerBus(spark)
      Seq(cpuNs, tasks, gcMs, shuffleWriteB, spillB).foreach(_.reset())
      taskPeakB.set(0L)
    }

    /** The counters since [[reset]], once every pending task event has arrived. */
    def profile(spark: SparkSession): Profile = {
      GraftSqlBridge.drainListenerBus(spark)
      Profile(cpuNs.sum(), tasks.sum(), gcMs.sum(), shuffleWriteB.sum(), spillB.sum(), taskPeakB.get())
    }
  }

  final case class Attempt(seconds: Double, profile: Profile)

  /** Runs one query `runs` times into the noop sink and returns every
    * attempt. Fresh-state isolation: each attempt first drops every cached
    * plan left by the previous one and collects garbage, so one query's
    * persisted frames / heap pressure can't inflate the next one's timing
    * (full-suite numbers then track isolated runs). The attempt's seconds
    * cover build and execution; the build alone runs under its own job
    * group, which the profile's `build_s` and `build_jobs` report.
    */
  def attempts(
      spark: SparkSession,
      counters: TaskCounters,
      fn: (SparkSession, String) => DataFrame,
      sfDir: String,
      runs: Int): Seq[Attempt] =
    (1 to runs).map { _ =>
      spark.catalog.clearCache()
      System.gc()
      counters.reset(spark)
      val sc = spark.sparkContext
      val group = s"graft-bench-build-${buildGroups.incrementAndGet()}"
      val t0 = System.nanoTime()
      sc.setJobGroup(group, "build query")
      val df = try fn(spark, sfDir) finally sc.clearJobGroup()
      val buildNs = System.nanoTime() - t0
      // noop WRITE, not count(): count() lets Catalyst prune projected
      // columns, silently skipping work that exists only in the output
      // (measured at ~sf1: q_clump "3.0 s" under count() vs >20 min
      // with its UDF column actually evaluated, pre-TreeSet fix). The
      // noop sink materialises every output column with zero I/O, so
      // timings reflect what a real consumer pays.
      df.write.mode("overwrite").format("noop").save()
      val seconds = (System.nanoTime() - t0) / 1e9
      val profile = counters.profile(spark) // drains the bus: group's jobs are known
      Attempt(seconds, profile.copy(
        buildNs = buildNs, buildJobs = sc.statusTracker.getJobIdsForGroup(group).length))
    }

  private val buildGroups = new AtomicLong(0L)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Best-of-N (SPARK_GRAFT_BENCH_RUNS, default 2): min over N attempts.
    // Even with per-query clearCache+GC isolation, a single pass inflates
    // individual queries up to ~1.9× from JVM/code-cache residue (round-6
    // measurement: q_l2g_e2g 3.39 s full-suite vs 1.78 s isolated); the
    // second attempt restores the per-query regression signal.
    val runsPerQuery = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    // SPARK_GRAFT_FORCE_CONTROL=1 runs the controls even for a subset bench
    // (emission-path testing); default: full-suite runs only.
    val wantControl = args.isEmpty || sys.env.get("SPARK_GRAFT_FORCE_CONTROL").contains("1")
    val controlOnly = sys.env.get("SPARK_GRAFT_CONTROL_ONLY").contains("1")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_latest.json")
    val spark = GSession.local().spark
    val counters = new TaskCounters
    spark.sparkContext.addSparkListener(counters)
    try {
      println(run(spark, counters, sfDir, args.toSeq, runsPerQuery, wantControl, controlOnly, outFile))
      System.out.flush()
    } finally spark.stop()
  }

  /** Times the selected queries (every query when `only` is empty), writes
    * the full per-query timings and profiles to `outFile` and returns the
    * compact stdout line. `counters` must be registered on `spark`.
    */
  def run(
      spark: SparkSession,
      counters: TaskCounters,
      sfDir: String,
      only: Seq[String],
      runsPerQuery: Int,
      wantControl: Boolean,
      controlOnly: Boolean,
      outFile: String): String = {
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""

    // Warm the session (parquet footer reads, codegen) outside the timings.
    spark.read.parquet(s"$sfDir/nation.parquet").count()

    // ---- host-drift control set (round 16) -------------------------------
    // In-suite totals have swung ±40% with host state across judge rounds
    // (r14 median ratio 0.84, r15 median 1.35 on identical plans), forcing
    // manual solo re-runs to adjudicate regressions. Three shape-diverse
    // control queries — q_golden_record (scan + window), q_neglog_pval
    // (codegen expression chain), q_md5_id (hash + aggregate) — are timed
    // solo best-of-3 FIRST, in this still-fresh JVM, before the suite can
    // pollute the heap/code cache. `drift_factor` is the geometric mean of
    // measured/reference, where the references are pinned quiet-host solo
    // values per SF (BASELINE.md "Bench drift normalization"): a reader
    // divides any observed per-query ratio by `drift_factor` before calling
    // it a regression. Controls are skipped when benching an explicit
    // query subset (bisecting runs want speed, not normalization).
    val control = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (wantControl) controlNames.foreach { name =>
      System.err.println(s"[bench] control $name")
      control(name) = attempts(spark, counters, SparkEntry.queries(name), sfDir, 3)
        .map(_.seconds).min
    }
    val sfName = new java.io.File(sfDir).getName
    val driftFactor: Option[Double] =
      controlRefs.get(sfName).filter(_ => control.nonEmpty).map { refs =>
        val ratios = control.map { case (n, t) => t / refs(n) }
        math.exp(ratios.map(math.log).sum / ratios.size)
      }
    // Reference (re-)measurement mode: report the control timings and stop —
    // run a few times on a quiet host, pin the medians into controlRefs.
    if (controlOnly)
      return control.map { case (k, v) => s"${jstr(k)}:$v" }
        .mkString("{\"control\":{", ",", s"},\"sf\":${jstr(sfName)}}")
    // -----------------------------------------------------------------------

    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val profiles = scala.collection.mutable.LinkedHashMap.empty[String, Profile]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // name order: deterministic timings run-to-run (and cache-hit attribution)
    val selected =
      if (only.nonEmpty) SparkEntry.queries.filter(q => only.contains(q._1))
      else SparkEntry.queries
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      System.err.println(s"[bench] running $name")
      try {
        val best = attempts(spark, counters, fn, sfDir, runsPerQuery).minBy(_.seconds)
        timings(name) = best.seconds
        profiles(name) = best.profile
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
    }
    val qs = timings.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val profileJson = profiles.map { case (k, p) => s"${jstr(k)}:${p.json}" }.mkString("{", ",", "}")
    val errJson =
      if (errors.isEmpty) ""
      else "," + "\"errors\":" + errors
        .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
        .mkString("{", ",", "}")
    val total = timings.values.sum
    val controlJson =
      if (control.isEmpty) ""
      else "," + "\"control\":" + control
        .map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}") +
        driftFactor.map(d => s""","drift_factor":$d""").getOrElse("")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"profile":$profileJson$errJson$controlJson,"sf":${jstr(sfDir)}}"""
    // Durable machine-readable artifact: stdout passes through sbt + the
    // driver's tail buffer, which has truncated the head of the line on
    // full-suite runs (BENCH_r07 kept only the last ~70 of 126 timings) —
    // every per-query number also lands in a file regression tooling can
    // read whole.
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outFile),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] wrote $outFile")
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    // The one stdout JSON line must fit the driver's 2000-char log tail or
    // it arrives decapitated and parses to null — measured, not guessed:
    // BENCH_r07's full 126-query map exceeded it (`parsed: null`, tail
    // starts mid-map) and every stored BENCH_rNN `tail` field is exactly
    // 2000 chars. A full 215-query map needs ≥4.4 KB even at integer-ms
    // precision, so it CANNOT ride this channel; instead the `queries` map
    // carries as many entries as fit a conservative byte budget,
    // slowest-first (the regression signal — the tail of sub-100 ms queries
    // is what gets cut). The complete map always lands in the artifact file.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // 2-decimal, trailing-zero-trimmed values: 10 ms resolution is far
    // inside the ±15-20 % host noise band and buys ~15 extra entries.
    def f2t(v: Double): String = {
      val s = "%.2f".formatLocal(java.util.Locale.ROOT, v)
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      else s
    }
    // errors inline as names-only (full messages live in the artifact
    // file): 200-char messages × many failures would blow the same tail
    // budget the compact line exists to respect
    val errCompact =
      if (errors.isEmpty) ""
      else "," + "\"errors\":" + errors.keys.map(jstr).mkString("[", ",", "]")
    val controlCompact =
      if (control.isEmpty) ""
      else "," + "\"control\":" + control
        .map { case (k, v) => s"${jstr(k)}:${f3(v)}" }.mkString("{", ",", "}") +
        driftFactor.map(d => s""","drift_factor":${f3(d)}""").getOrElse("")
    val slowestAll = timings.toSeq.sortBy(-_._2)
    def line(entries: Seq[(String, Double)]): String = {
      val qs = entries.map { case (k, v) => s"${jstr(k)}:${f2t(v)}" }
        .mkString("{", ",", "}")
      val truncated = if (entries.size < timings.size) ""","truncated":true""" else ""
      s"""{"metric":"total","value":${f3(total)},"unit":"sec"$controlCompact,"queries":$qs$errCompact,""" +
        s""""n_queries":${timings.size},"queries_reported":${entries.size}$truncated,""" +
        s""""queries_full":${jstr(outFile)},"sf":${jstr(sfDir)}}"""
    }
    // Largest slowest-first prefix whose line stays under budget (1900
    // leaves headroom for the trailing newline and any final log chatter).
    val budget = 1900
    val fit = (slowestAll.size to 0 by -1)
      .find(n => line(slowestAll.take(n)).length <= budget)
      .getOrElse(0)
    line(slowestAll.take(fit))
  }
}
