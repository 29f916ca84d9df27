package graft.tools

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.{Executors, TimeUnit}

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Full-surface concurrency smoke (VERDICT r16 ask 7): run EVERY
  * SparkEntry query from N worker threads on ONE shared session and
  * assert each result equals its own serial run — the engine targets
  * pipelines, and pipelines share sessions across query threads. The
  * cache-lifecycle-heavy containment/setsim family runs in the same pool
  * as everything else, so cross-thread cache/conf interference (the
  * round-16 wart class) has nowhere to hide. Peak heap is sampled by a
  * daemon poller for the BASELINE.md record.
  *
  * Fingerprints round doubles to 6 significant digits (transcendental
  * kernels may drift ulps across JIT states) and sort rows — exactly the
  * determinism contract the DuckDB oracle compare already enforces.
  *
  * Usage: runMain graft.tools.ConcurrencySmoke [sfDir] (default sf0.01;
  * SPARK_GRAFT_SMOKE_THREADS sets the pool width, default 8). Emits one
  * JSON line: queries, threads, mismatches, errors, peak_heap_mb, wall.
  */
object ConcurrencySmoke {
  private def fmt(v: Any): String = v match {
    case null                        => "∅"
    case d: Double                   => f"$d%.6g"
    case f: Float                    => f"$f%.6g"
    case b: Array[Byte]              => b.map("%02x".format(_)).mkString
    case s: Seq[_]                   => s.map(fmt).mkString("[", ",", "]")
    case m: Map[_, _]                =>
      m.toSeq.map { case (k, x) => s"${fmt(k)}→${fmt(x)}" }.sorted
        .mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row => r.toSeq.map(fmt).mkString("(", ",", ")")
    case other                       => other.toString
  }

  /** Deterministic digest of a query result: sorted formatted rows,
    * md5-folded so 200+ full result sets never accumulate on the heap.
    */
  private def fingerprint(df: org.apache.spark.sql.DataFrame): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    df.collect().map(r => r.toSeq.map(fmt).mkString("|")).sorted
      .foreach(line => d.update(line.getBytes("UTF-8")))
    d.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val threads = sys.env.getOrElse("SPARK_GRAFT_SMOKE_THREADS", "8").toInt
    val spark = graft.core.GSession.local().spark

    val peakHeap = new AtomicLong(0L)
    val poller = new Thread(() => {
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean
      while (true) {
        peakHeap.getAndUpdate(p => math.max(p, mem.getHeapMemoryUsage.getUsed))
        Thread.sleep(200)
      }
    })
    poller.setDaemon(true)
    poller.start()

    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val t0 = System.nanoTime()

    // serial reference pass — per-query cache clear like Verify, so the
    // 200-query sweep cannot starve the store
    val serial = names.map { n =>
      val fp =
        try Right(fingerprint(graft.SparkEntry.queries(n)(spark, sfDir)))
        catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      spark.catalog.clearCache()
      n -> fp
    }.toMap
    val tSerial = (System.nanoTime() - t0) / 1e9

    // concurrent pass: same queries, N threads, one shared session, NO
    // per-query cache clearing — persisted frames from one thread's query
    // live alongside every other thread's work, exactly like a pipeline
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val t1 = System.nanoTime()
    val futures = new scala.util.Random(41).shuffle(names).map { n =>
      Future {
        val fp =
          try Right(fingerprint(graft.SparkEntry.queries(n)(spark, sfDir)))
          catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
        n -> fp
      }
    }
    val concurrent = Await.result(
      Future.sequence(futures), Duration(120, TimeUnit.MINUTES)).toMap
    val tConc = (System.nanoTime() - t1) / 1e9
    pool.shutdown()

    val errors = names.filter(n =>
      serial(n).isLeft || concurrent(n).isLeft)
    val mismatches = names.filter(n =>
      serial(n).isRight && concurrent(n).isRight && serial(n) != concurrent(n))
    def arr(xs: Seq[String]) = xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")
    println(
      s"""{"metric":"concurrency_smoke","queries":${names.size},""" +
        s""""threads":$threads,"mismatches":${arr(mismatches)},""" +
        s""""errors":${arr(errors.map(n => n + "=" + (serial(n).left.toOption
          .orElse(concurrent(n).left.toOption).getOrElse("?"))))},""" +
        f""""peak_heap_mb":${peakHeap.get() >> 20},""" +
        f""""serial_sec":$tSerial%.1f,"concurrent_sec":$tConc%.1f,""" +
        s""""sf":"$sfDir"}""")
    spark.stop()
    if (mismatches.nonEmpty || errors.nonEmpty) sys.exit(1)
  }
}
