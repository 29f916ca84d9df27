package graft.operators

import graft.SparkSpec

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")

  /** Driver-side model of the same iteration. */
  private def model(es: Seq[(Long, Long)], iters: Int, d: Double): Map[Long, Double] = {
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val deg = es.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var r = nodes.map(_ -> 1.0 / nodes.size).toMap
    for (_ <- 1 to iters) {
      val in = es.groupBy(_._2).view
        .mapValues(_.map { case (u, _) => r(u) / deg(u) }.sum).toMap
      r = nodes.map(v => v -> ((1.0 - d) / nodes.size + d * in.getOrElse(v, 0.0))).toMap
    }
    r
  }

  test("pageRank matches the driver-side power iteration and conserves mass") {
    val got = GraphOps.pageRank(edges, iterations = 3).as[(Long, Double)].collect().toMap
    val want = model(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)), 3, 0.85)
    assert(got.keySet == want.keySet)
    got.foreach { case (v, pr) => assert(math.abs(pr - want(v)) < 1e-12, s"node $v") }
    // no dangling nodes here → total mass stays 1
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    // the sink-heavier node ranks highest
    assert(got.maxBy(_._2)._1 == 3L)
  }

  test("dangling nodes keep the teleport floor; node set covers src ∪ dst") {
    val dangling = Seq((1L, 2L), (3L, 2L)).toDF("src", "dst") // 2 has no out-edges
    val got = GraphOps.pageRank(dangling, iterations = 2).as[(Long, Double)].collect().toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    val floor = (1.0 - 0.85) / 3.0
    assert(math.abs(got(1L) - floor) < 1e-12, "no in-edges → teleport only")
    assert(got(2L) > got(1L))
  }

  test("the edge list is computed once and reused across iterations") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val dir = graft.core.TempRoot.jvm.dir("graft-pagerank-spec").resolve("edges").toString
    edges.write.parquet(dir)
    val onDisk = spark.read.parquet(dir)
    val helper = new AdaptiveSparkPlanHelper {}
    // edge-input scans in the final adaptive plan; a reused exchange is a
    // leaf there, so a subtree AQE computes once is counted once
    def edgeScans(iterations: Int): Int = {
      val pr = GraphOps.pageRank(onDisk, iterations)
      pr.collect()
      val plan = pr.queryExecution.executedPlan
      assert(helper.collect(plan) { case s: InMemoryTableScanExec => s }.isEmpty, s"persisted:\n$plan")
      helper.collect(plan) { case s: FileSourceScanExec => s }.size
    }
    val once = edgeScans(1)
    assert(once > 0)
    assert(edgeScans(3) == once)
  }
}
