package perfbench

import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark work counters, fed by a SparkListener and a
  * QueryExecutionListener. Readers diff two snapshots; the listener bus is
  * drained first so that every event of the measured interval has arrived.
  */
object Work {
  val Jobs = 0
  val Stages = 1
  val SingleTaskStages = 2
  val Tasks = 3
  val CpuNs = 4
  val RunMs = 5
  val GcMs = 6
  val ShuffleWriteB = 7
  val ShuffleReadB = 8
  val SpillB = 9
  val RecordsWritten = 10
  val PlanNs = 11
  val Size = 12
}

final class Counters extends SparkListener with QueryExecutionListener {
  private val c = new AtomicLongArray(Work.Size)
  private def add(i: Int, v: Long): Unit = c.addAndGet(i, v)

  def snapshot(): Array[Long] = Array.tabulate(Work.Size)(c.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = add(Work.Jobs, 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add(Work.Stages, 1)
    if (e.stageInfo.numTasks == 1) add(Work.SingleTaskStages, 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add(Work.Tasks, 1)
    val m = e.taskMetrics
    if (m != null) {
      add(Work.CpuNs, m.executorCpuTime)
      add(Work.RunMs, m.executorRunTime)
      add(Work.GcMs, m.jvmGCTime)
      add(Work.ShuffleWriteB, m.shuffleWriteMetrics.bytesWritten)
      add(Work.ShuffleReadB, m.shuffleReadMetrics.totalBytesRead)
      add(Work.SpillB, m.memoryBytesSpilled + m.diskBytesSpilled)
      add(Work.RecordsWritten, m.outputMetrics.recordsWritten)
    }
  }

  /** Analysis, optimization and planning time of every finished query,
    * as Spark's QueryPlanningTracker recorded it.
    */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    add(Work.PlanNs, qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** One timed interval at a layer boundary. `work` is the Spark work that
  * ran inside it (traced runs only).
  */
final case class Span(
    id: Int,
    name: String,
    layer: String,
    parent: Int,
    pass: Int,
    startNs: Long,
    endNs: Long,
    work: Array[Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
  def count(i: Int): Long = work(i)
}

/** Records spans around the benchmark's calls into the library's layers.
  * Untraced, `span` only runs its body, so end-to-end timings carry no
  * tracing cost; traced, each span drains the listener bus at its end and
  * keeps its own Spark work counts.
  */
final class Tracer {
  val counters = new Counters
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Per-pass counts the benchmark reads off the file system (files and
    * bytes written), keyed by (pass, metric).
    */
  val counts = mutable.Map.empty[(Int, String), Double].withDefaultValue(0.0)
  @volatile var enabled: Boolean = false
  var pass: Int = 0
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var sc: org.apache.spark.SparkContext = _

  /** Registers the counters; the planning-phase listener only when the run
    * is traced.
    */
  def attach(spark: SparkSession, planning: Boolean): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(counters)
    if (planning) spark.listenerManager.register(counters)
  }

  def count(metric: String, v: Double): Unit =
    if (enabled) counts((pass, metric)) += v

  /** Counters after every pending event has been delivered. */
  def settled(): Array[Long] = {
    ListenerBusAccess.drain(sc)
    counters.snapshot()
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val before = counters.snapshot()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val after = settled()
        stack = stack.tail
        spans += Span(id, name, layer, parent, pass, t0, t1,
          Array.tabulate(Work.Size)(i => after(i) - before(i)))
      }
    }

  /** Self time per layer: each span's duration minus the time its direct
    * children cover (children never overlap: one client, one operation).
    */
  def selfSeconds(pass: Int): Map[String, Double] = {
    val ofPass = spans.filter(_.pass == pass)
    val childTime = ofPass.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    ofPass
      .map(s => s.layer -> (s.seconds - childTime.getOrElse(s.id, 0.0)))
      .groupBy(_._1)
      .map { case (l, xs) => l -> xs.map(_._2).sum }
  }
}

/** Peak live heap: the highest heap occupancy right after a garbage
  * collection, from the collectors' notifications. Heap in use between
  * collections mostly holds garbage and follows the collector's sizing, so
  * it says little about what a pass keeps alive.
  */
final class LiveHeap {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  @volatile private var peak = 0L
  private val mem = ManagementFactory.getMemoryMXBean

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        if (after > peak) peak = after
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** Starts a pass: forces a collection so the pass begins from live data. */
  def reset(): Unit = {
    System.gc()
    peak = mem.getHeapMemoryUsage.getUsed
  }
  def peakBytes: Long = peak
  def shutdown(): Unit = emitters.foreach(_.removeNotificationListener(listener))
}

/** The per-layer metric set. Every workload reports every name; a layer a
  * workload does not exercise reads 0 there.
  */
object Layers {
  private val MB = 1048576.0

  val SelfLayers: Seq[String] = Seq("bench", "harness", "sources", "core", "operators", "spark")

  private def stepMetrics(steps: Seq[String]): Seq[(String, String)] =
    steps.flatMap(s => Seq(
      s"operators.$s.build_s" -> "s", s"operators.$s.exec_s" -> "s",
      s"operators.$s.jobs" -> "count", s"operators.$s.rows_out" -> "count"))

  /** (name, unit) of every per-layer metric of the benchmark's workloads,
    * in report order; corpus_dedup adds its own step metrics.
    */
  val Names: Seq[(String, String)] =
    Seq(
      "harness.build_s" -> "s", "harness.build_jobs" -> "count",
      "spark.plan_s" -> "s",
      "core.read_s" -> "s", "core.read_jobs" -> "count", "core.validate_s" -> "s",
      "core.write_s" -> "s", "core.files_written" -> "count", "core.written_mb" -> "MB",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.single_task_stages" -> "count", "spark.core_util" -> "ratio",
      "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
      "spark.spill_mb" -> "MB", "spark.gc_s" -> "s", "spark.cpu_s" -> "s", "spark.task_run_s" -> "s",
      "jvm.peak_heap_mb" -> "MB", "operators.overlaps.pairs_per_locus" -> "ratio") ++
      stepMetrics(GwasChain.Steps) ++
      SelfLayers.map(l => s"layer.$l.self_s" -> "s") ++
      Seq("trace.overhead_frac" -> "ratio", "trace.spans" -> "count")

  def namesFor(workload: String): Seq[(String, String)] =
    if (workload == "corpus_dedup")
      Names ++ Seq("operators.lsh.verified_ratio" -> "ratio") ++ stepMetrics(CorpusDedup.Steps)
    else Names

  /** Per-layer values of one traced pass. */
  def ofPass(tracer: Tracer, pass: Int, wall: Double, w: Array[Long], cores: Int)
      : Map[String, Double] = {
    val spans = tracer.spans.filter(_.pass == pass)
    def sum(p: Span => Boolean)(f: Span => Double): Double = spans.filter(p).map(f).sum
    val byOp = spans.filter(_.name.startsWith("op:")).map(o => o.id -> o.name.stripPrefix("op:")).toMap
    val perStep = (GwasChain.Steps ++ CorpusDedup.Steps).flatMap { step =>
      val ops = byOp.collect { case (id, n) if n == step => id }.toSet
      def child(name: String) = spans.filter(s => ops.contains(s.parent) && s.name == name)
      Seq(
        s"operators.$step.build_s" -> child("build").map(_.seconds).sum,
        s"operators.$step.exec_s" -> child("write").map(_.seconds).sum,
        s"operators.$step.jobs" -> spans.filter(s => ops.contains(s.id)).map(_.count(Work.Jobs)).sum.toDouble,
        s"operators.$step.rows_out" -> child("write").map(_.count(Work.RecordsWritten)).sum.toDouble)
    }
    val self = tracer.selfSeconds(pass)
    Map(
      "harness.build_s" -> sum(s => s.layer == "harness")(_.seconds),
      "harness.build_jobs" -> sum(s => s.layer == "harness")(_.count(Work.Jobs).toDouble),
      "spark.plan_s" -> w(Work.PlanNs) / 1e9,
      "core.read_s" -> sum(_.name == "read")(_.seconds),
      "core.read_jobs" -> sum(_.name == "read")(_.count(Work.Jobs).toDouble),
      "core.validate_s" -> sum(_.name == "validate")(_.seconds),
      "core.write_s" -> sum(_.name == "write")(_.seconds),
      "core.files_written" -> tracer.counts((pass, "files_written")),
      "core.written_mb" -> tracer.counts((pass, "bytes_written")) / MB,
      "spark.jobs" -> w(Work.Jobs).toDouble,
      "spark.stages" -> w(Work.Stages).toDouble,
      "spark.tasks" -> w(Work.Tasks).toDouble,
      "spark.single_task_stages" -> w(Work.SingleTaskStages).toDouble,
      "spark.core_util" -> w(Work.RunMs) / 1000.0 / (wall * cores),
      "spark.shuffle_write_mb" -> w(Work.ShuffleWriteB) / MB,
      "spark.shuffle_read_mb" -> w(Work.ShuffleReadB) / MB,
      "spark.spill_mb" -> w(Work.SpillB) / MB,
      "spark.gc_s" -> w(Work.GcMs) / 1000.0,
      "spark.cpu_s" -> w(Work.CpuNs) / 1e9,
      "spark.task_run_s" -> w(Work.RunMs) / 1000.0,
      "trace.spans" -> spans.size.toDouble) ++
      perStep ++ SelfLayers.map(l => s"layer.$l.self_s" -> self.getOrElse(l, 0.0))
  }

  /** Median over the traced passes of each per-layer metric. */
  def metrics(tracer: Tracer, workload: String, passes: collection.Seq[(Int, Double, Array[Long])],
      cores: Int, counts: Map[String, Double]): Seq[(String, Double, String)] = {
    val perPass = passes.map { case (p, wall, w) => ofPass(tracer, p, wall, w, cores) }
    namesFor(workload).map { case (n, unit) =>
      (n, counts.getOrElse(n, Main.median(perPass.map(_.getOrElse(n, 0.0)))), unit)
    }
  }
}

/** The trace artifact: spans, self time per layer, and one profile record
  * per operation of each traced pass.
  */
object Trace {
  def artifact(tracer: Tracer, record: String): String = {
    val spans = tracer.spans.sortBy(_.id)
    val passes = spans.map(_.pass).distinct.sorted
    val profiles = spans.filter(_.name.startsWith("op:")).map { op =>
      val kids = spans.filter(_.parent == op.id)
      def secs(n: String) = kids.filter(_.name == n).map(_.seconds).sum
      def jobs(n: String) = kids.filter(_.name == n).map(_.count(Work.Jobs)).sum
      val w = op.work
      Json.obj(
        "op" -> Json.str(op.name.stripPrefix("op:")), "pass" -> op.pass.toString,
        "wall_s" -> Json.num(op.seconds), "build_s" -> Json.num(secs("build")),
        "build_jobs" -> jobs("build").toString,
        "exec_s" -> Json.num(secs("exec") + secs("write")),
        "plan_s" -> Json.num(w(Work.PlanNs) / 1e9), "jobs" -> w(Work.Jobs).toString,
        "stages" -> w(Work.Stages).toString, "tasks" -> w(Work.Tasks).toString,
        "cpu_s" -> Json.num(w(Work.CpuNs) / 1e9),
        "shuffle_mb" -> Json.num((w(Work.ShuffleWriteB) + w(Work.ShuffleReadB)) / 1048576.0),
        "spill_mb" -> Json.num(w(Work.SpillB) / 1048576.0))
    }
    Json.obj(
      "run_record" -> record,
      "self_s_per_layer" -> Json.arr(passes.map { p =>
        Json.obj(("pass" -> p.toString) +: tracer.selfSeconds(p).toSeq.sortBy(_._1)
          .map { case (l, v) => l -> Json.num(v) }: _*)
      }),
      "profiles" -> Json.arr(profiles.toSeq),
      "spans" -> Json.arr(spans.map(s => Json.obj(
        "id" -> s.id.toString, "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "parent" -> s.parent.toString, "pass" -> s.pass.toString,
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)).toSeq))
  }
}
