package graft.tools

import org.apache.spark.sql.functions._

import graft.core.GSession

/** Pair-count → broadcast-size / task-peak curve for the containment
  * join's FOLDED verification shape (VERDICT r15 ask 7): the folded path
  * trades shuffle for broadcast residency, so its ceiling is where the
  * pair broadcast approaches the heap budget containmentJoin derives —
  * min(driver heap, executor heap)/8 clamped to [384 MB, 6 GB].
  * This probe synthesizes candidate-pair tables of increasing size over
  * a fixed postings relation (realistic 12-char string doc ids; every
  * pair genuinely intersects, so the per-pair count aggregate carries
  * real state), runs
  * [[graft.operators.Dedup.containmentIntersectionFolded]] at each size,
  * and records:
  *   - the MEASURED broadcast residency (block-manager memSize of the
  *     materialized broadcast blocks — what actually sits in every
  *     executor),
  *   - the gate's byte ESTIMATE (`nPairs × (128 + avg id chars)`, the
  *     calibrated per-pair constant from this probe's round-16 curve:
  *     132–167 B/pair measured at 24 id chars across 1M–32M pairs), so
  *     the model in containmentJoin can be checked against reality,
  *   - max per-task peak execution memory, spill, shuffle write, wall.
  *
  * Usage: runMain graft.tools.ContainmentBcProbe [pairCounts,csv]
  * (default 1M,2M,4M,8M,16M; SPARK_DRIVER_MEM sized by the caller)
  */
object ContainmentBcProbe {
  def main(args: Array[String]): Unit = {
    val pairCounts = args.headOption
      .map(_.split(",").map(_.trim.toLong).toSeq)
      .getOrElse(Seq(1000000L, 2000000L, 4000000L, 8000000L, 16000000L))
    val spark = GSession.local(conf = Map(
      "spark.sql.shuffle.partitions" -> GSession.envShufflePartitions.getOrElse("64"))).spark
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val counters = new graft.Bench.TaskCounters
    spark.sparkContext.addSparkListener(counters)

    // fixed postings: docs × 20 terms, doc i posting terms (i+k) mod V —
    // consecutive docs OVERLAP by construction, so candidate pairs at
    // small step distances produce real per-pair intersection counts and
    // the count aggregate carries one state row per pair
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_BCPROBE_DOCS", "2000000").toLong
    val vocab = 500000L
    val toks = spark.range(nDocs * 20).select(
      format_string("doc%09d", expr("id div 20")).as("id"),
      format_string("t%07d", (expr("id div 20") + col("id") % 20) % vocab)
        .as("term"))

    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val lines = pairCounts.map { p =>
      // pair i: (doc i mod n) against a partner 1..16 docs ahead → shares
      // 4..19 of its 20 terms; wraps when p > nDocs
      val candidates = spark.range(p).select(
        format_string("doc%09d", col("id") % nDocs).as("inner_doc"),
        format_string("doc%09d", (col("id") % nDocs + col("id") % 16 + 1) % nDocs)
          .as("outer_doc"))
      val avgIdChars = 24.0 // 12 + 12, fixed-width by construction
      // mirror the gate model in Dedup.containmentJoin (128 B/pair fixed
      // cost + id bytes, calibrated from this probe's own r16 curve)
      val estBytes = (p.toDouble * (128.0 + avgIdChars)).toLong
      spark.catalog.clearCache()
      System.gc()
      counters.reset(spark)
      val coPartKey = "spark.sql.requireAllClusterKeysForCoPartition"
      spark.conf.set(coPartKey, "false")
      val t0 = System.nanoTime()
      val folded = graft.operators.Dedup
        .containmentIntersectionFolded(toks, candidates, parts)
      // drive THIS QueryExecution (a Dataset.count() would build its own,
      // leaving these plan metrics untouched)
      val qe = folded.queryExecution
      val n = qe.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val prof = counters.profile(spark)
      spark.conf.unset(coPartKey)
      // measured broadcast bytes: walk the executed plan (through AQE
      // wrappers) for BroadcastExchange dataSize
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
      def bcastBytes(plan: SparkPlan): Seq[Long] = {
        val self = plan match {
          case b: BroadcastExchangeExec => Seq(b.metrics("dataSize").value)
          case _ => Nil
        }
        val through = plan match {
          case a: AdaptiveSparkPlanExec => bcastBytes(a.executedPlan)
          case q: QueryStageExec => bcastBytes(q.plan)
          case _ => plan.children.flatMap(bcastBytes)
        }
        self ++ through
      }
      val bc = bcastBytes(qe.executedPlan).maxOption.getOrElse(-1L)
      System.err.println(
        f"[bcprobe] pairs=$p%9d rows=$n%12d wall=${sec}%7.1fs " +
          f"bcast=${bc / 1048576}%6d MB est=${estBytes / 1048576}%6d MB " +
          f"peak=${prof.taskPeakB / 1048576}%6d MB spill=${prof.spillB / 1048576}%6d MB")
      s""""$p":{"wall_sec":${f3(sec)},"out_rows":$n,""" +
        s""""broadcast_mb":${bc / 1048576},"est_mb":${estBytes / 1048576},""" +
        s""""task_peak_mb":${prof.taskPeakB / 1048576},""" +
        s""""spill_disk_mb":${prof.spillB / 1048576},""" +
        s""""shuffle_write_mb":${prof.shuffleWriteB / 1048576}}"""
    }
    println(
      s"""{"metric":"containment_bc_probe","docs":$nDocs,"parts":$parts,""" +
        s""""pairs":{${lines.mkString(",")}}}""")
    spark.stop()
  }
}
