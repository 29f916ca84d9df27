package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Link-graph analytics for corpus curation: PageRank-style centrality is
  * the classic quality prior for web-crawl training data (harmonic
  * centrality / PR over the link graph ranks hub pages above link farms),
  * and degree statistics feed the same filters.
  *
  * Scale design: one iteration = one `src`-keyed equi-join (edges ⋈ ranks)
  * plus one `dst`-keyed aggregation — the canonical two-shuffle PR step.
  * The edge list with its out-degrees is pre-partitioned on `src` once:
  * every iteration joins the same exchange subtree, which AQE's exchange
  * reuse computes once per query, so only the (small, node-sized) rank
  * frame moves; graph size N rides a single-row broadcast carrier.
  * Iterations build one unrolled lazy plan, and nothing is persisted —
  * meant for the fixed small iteration counts of a quality prior (3-10).
  * Longer runs cut the rank lineage with a `localCheckpoint` every
  * [[CheckpointEvery]] iterations, as `OntologyClosure` does per round.
  */
object GraphOps {

  /** Iterations between rank-lineage cuts in [[pageRank]]. */
  private val CheckpointEvery = 4

  /** Out-degree per source node (with multiplicity). */
  def outDegrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("src")).agg(count(lit(1)).cast("double").as("deg"))

  /** Fixed-iteration PageRank over a directed edge list `(src, dst)`.
    *
    * `rank_{t+1}(v) = (1-d)/N + d * Σ_{(u,v)∈E} rank_t(u)/outdeg(u)`;
    * dangling nodes keep receiving the teleport term only (leaked mass is
    * not redistributed — the usual simplification for quality priors).
    *
    * @return `(node, pr)` for every node appearing as src or dst
    */
  def pageRank(
      edges: DataFrame,
      iterations: Int,
      damping: Double = 0.85
  ): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val e = edges
      .select(col("src"), col("dst"))
      .join(outDegrees(edges), Seq("src"))
      .repartition(col("src"))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
    val n = nodes.agg(count(lit(1)).cast("double").as("n_nodes"))
    val teleport = (lit(1.0) - lit(damping)) / col("n_nodes")

    var ranks = nodes.crossJoin(broadcast(n)).select(col("node"), (lit(1.0) / col("n_nodes")).as("pr"))
    for (i <- 1 to iterations) {
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") / col("deg")).as("_in"))
      ranks = nodes
        .join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(n))
        .select(col("node"), (teleport + lit(damping) * coalesce(col("_in"), lit(0.0))).as("pr"))
      if (i % CheckpointEvery == 0 && i < iterations) ranks = ranks.localCheckpoint(true)
    }
    ranks
  }
}
