package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One operation of a pass: its name and wall time. */
final case class OpTime(name: String, seconds: Double)

/** A failed operation or a failed output check. */
final case class Failure(op: String, detail: String)

/** What every workload gives the run loop. */
trait Workload {
  def name: String

  /** Input rows the throughput metric divides by (variants, documents or
    * corpus rows).
    */
  def inputRows: Long

  /** Input generation that must run before the session exists. */
  def prepare(dir: String): Unit = ()

  /** Input generation inside the benchmark session. */
  def generate(ctx: Ctx): Unit

  /** One pass: every operation once, closed loop. An operation that throws
    * is recorded in `failures` and the pass continues. The first untimed
    * warm-up pass runs with `keep` set: a workload whose timed passes discard
    * their results writes them there for [[check]].
    */
  def pass(ctx: Ctx, failures: mutable.ArrayBuffer[Failure], keep: Boolean): Seq[OpTime]

  /** Output checks, outside the timed region. Returns failures plus
    * per-step row counts and digests; may add DuckDB checks for run.py.
    */
  def check(ctx: Ctx): CheckResult

  /** Per-layer metrics only this workload can compute (counts read off
    * its outputs); every other workload reports 0 for them.
    */
  def layerCounts(ctx: Ctx): Map[String, Double] = Map.empty
}

final case class DuckCheck(op: String, got: String, sql: String, tables: String)

final case class CheckResult(
    failures: Seq[Failure],
    steps: Seq[(String, Long, String)],
    duck: Seq[DuckCheck] = Nil)

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val dir: String, val seed: Long,
    val tiny: Boolean) {
  val gs = graft.core.GSession(spark)
  def path(p: String): String = s"$dir/$p"
}

/** Benchmark entry point. Usage (run.py builds the classpath and calls this):
  * {{{
  * perfbench.Main --workload <gwas_chain|catalog_small|corpus_dedup>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --corpus <dir>
  *   --result <file> [--size tiny] [--queries all]
  * }}}
  */
object Main {
  val SetupRepeats = 3
  val WarmupPasses = 2
  /** Timed passes per run, at least; `run_s` is their median. */
  val MinPasses = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val tiny = opts.get("size").contains("tiny")
    val work = new File(opts("work")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val loadStart = loadAvg()

    val workload: Workload = opts("workload") match {
      case "gwas_chain" => new GwasChain(seed, tiny)
      case "catalog_small" =>
        new CatalogSmall(seed, opts("corpus"), tiny, opts.get("queries").contains("all"))
      case "corpus_dedup" => new CorpusDedup(seed, opts("corpus"), tiny)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- set-up, repeated: session start + input generation ------------
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var tracer: Tracer = null
    var ctx: Ctx = null
    for (_ <- 1 to SetupRepeats) {
      if (spark != null) spark.stop()
      deleteTree(new File(work, "data"))
      val t0 = System.nanoTime()
      workload.prepare(s"$work/data")
      spark = Session.create(cores, work)
      tracer = new Tracer
      tracer.attach(spark, planning = traced)
      ctx = new Ctx(spark, tracer, s"$work/data", seed, tiny)
      workload.generate(ctx)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }

    val failures = mutable.ArrayBuffer.empty[Failure]
    val warmupFailures = mutable.ArrayBuffer.empty[Failure]
    val heap = new LiveHeap

    // ---- warm-up passes (untimed; the first keeps its results), then timed
    // passes. After one warm-up pass the JIT still makes each pass about 10 %
    // faster than the one before; a second one takes the timed passes past
    // the steepest part of that slope.
    tracer.enabled = false
    val warmupS = (1 to WarmupPasses).map { i =>
      val tw = System.nanoTime()
      workload.pass(ctx, warmupFailures, keep = i == 1)
      (System.nanoTime() - tw) / 1e9
    }

    final case class PassStat(no: Int, traced: Boolean, wall: Double, work: Array[Long], heapB: Long,
        ops: Seq[OpTime])
    val stats = mutable.ArrayBuffer.empty[PassStat]
    val loopStart = System.nanoTime()
    var passNo = 0
    // traced runs alternate untraced and traced passes, starting and ending
    // untraced, so warm-up drift does not leak into the tracing overhead
    while (passNo < MinPasses || (System.nanoTime() - loopStart) / 1e9 < seconds ||
        (traced && passNo % 2 == 0)) {
      passNo += 1
      val tracedPass = traced && passNo % 2 == 0
      tracer.enabled = tracedPass
      tracer.pass = passNo
      val before = tracer.settled()
      heap.reset()
      val t0 = System.nanoTime()
      val ops = tracer.span("pass", "bench")(workload.pass(ctx, failures, keep = false))
      val wall = (System.nanoTime() - t0) / 1e9
      val after = tracer.settled()
      stats += PassStat(passNo, tracedPass, wall, Array.tabulate(Work.Size)(i => after(i) - before(i)),
        heap.peakBytes, ops)
    }
    heap.shutdown()
    tracer.enabled = false

    // ---- output checks (untimed) ---------------------------------------
    val checked = workload.check(ctx)
    val layerCounts = if (traced) workload.layerCounts(ctx) else Map.empty[String, Double]
    val passes = stats.size
    val attempted = stats.map(_.ops.size).sum
    val wrong = checked.failures.map(_.op).distinct.size * passes
    val failed = math.min(attempted, failures.size + wrong)

    // ---- end-to-end metrics: untraced passes only ----------------------
    val plain = stats.filterNot(_.traced)
    val runS = median(plain.map(_.wall))
    val opTimes = plain.flatMap(_.ops.map(_.seconds))
    val e2e = Seq(
      ("setup_s", median(setupTimes.toSeq), "s"),
      ("run_s", runS, "s"),
      ("rows_per_s", workload.inputRows / runS, "rows/s"))

    val perLayer = if (traced) {
      val tp = stats.filter(_.traced)
      Layers.metrics(tracer, workload.name, tp.map(p => (p.no, p.wall, p.work)), cores,
        layerCounts ++ Map(
          "jvm.peak_heap_mb" -> median(tp.map(_.heapB / 1048576.0)),
          "trace.overhead_frac" -> (median(tp.map(_.wall)) / runS - 1.0)))
    } else Nil

    val loadEnd = loadAvg()
    val record = Json.obj(
      "workload" -> Json.str(workload.name),
      "seed" -> seed.toString,
      "seconds" -> seconds.toString,
      "trace" -> traced.toString,
      "size" -> Json.str(if (tiny) "tiny" else "full"),
      "nproc" -> cores.toString,
      "loadavg_start" -> loadStart.toString,
      "loadavg_end" -> loadEnd.toString,
      "jvm" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "scala" -> Json.str(scala.util.Properties.versionNumberString),
      "session_conf" -> Json.obj(Session.reportedConf(spark).map { case (k, v) => k -> Json.str(v) }: _*),
      "source_digest" -> Json.str(opts.getOrElse("source-digest", "unknown")),
      "passes" -> passes.toString,
      "pass_wall_s" -> Json.arr(stats.map(_.wall.toString)),
      "pass_traced" -> Json.arr(stats.map(_.traced.toString)),
      "pass_cpu_s" -> Json.arr(stats.map(p => (p.work(Work.CpuNs) / 1e9).toString)),
      "pass_ops" -> Json.arr(stats.map(p => Json.obj(p.ops.map(o => o.name -> Json.num(o.seconds)): _*))),
      "setup_runs_s" -> Json.arr(setupTimes.map(_.toString).toSeq),
      "warmup_s" -> Json.arr(warmupS.map(_.toString)),
      "op_samples" -> opTimes.size.toString,
      "failures" -> Json.arr((warmupFailures ++ failures ++ checked.failures).map(f =>
        Json.obj("op" -> Json.str(f.op), "detail" -> Json.str(f.detail.take(300))))),
      "steps" -> Json.arr(checked.steps.map { case (n, rows, digest) =>
        Json.obj("step" -> Json.str(n), "rows" -> rows.toString, "digest" -> Json.str(digest)) }))

    val result = Json.obj(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "passes" -> passes.toString,
      "metrics" -> Json.obj((if (traced) perLayer else e2e).map { case (n, v, u) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*),
      "duck_checks" -> Json.arr(checked.duck.map(d => Json.obj(
        "op" -> Json.str(d.op), "got" -> Json.str(d.got), "sql" -> Json.str(d.sql),
        "tables" -> Json.str(d.tables)))),
      "run_record" -> record)
    write(opts("result"), result)
    if (traced) write(opts("result").stripSuffix(".json") + "-trace.json",
      Trace.artifact(tracer, record))
    spark.stop()
  }

  def median(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), (text + "\n").getBytes(StandardCharsets.UTF_8))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }
}

/** The benchmark's one Spark session configuration. */
object Session {
  def create(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.graft.writeMode", "overwrite")
      .config("spark.graft.outputPartitions", cores.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  val Reported: Seq[String] = Seq(
    "spark.master", "spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes", "spark.sql.adaptive.enabled", "spark.driver.memory",
    "spark.graft.writeMode", "spark.graft.outputPartitions")

  def reportedConf(spark: SparkSession): Seq[(String, String)] =
    Reported.map(k => k -> spark.conf.getOption(k).getOrElse(""))
}

/** Minimal JSON writer: values are passed already rendered. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: collection.Seq[String]): String = xs.mkString("[", ",", "]")
}
