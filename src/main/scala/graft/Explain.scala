package graft

/** Plan-audit main: dump formatted physical plans for the headline queries so
  * scan pruning, pushed filters, broadcast joins and codegen spans can be
  * inspected (`sbt "runMain graft.Explain [queryName ...]"`).
  *
  * Env: SPARK_GRAFT_SF_DIR (data dir), SPARK_GRAFT_CPUS (local core count),
  * SPARK_GRAFT_SHUFFLE_PARTITIONS, and SPARK_GRAFT_PLAN_DIR — when set, each
  * plan is written to `<dir>/<query>.txt` instead of stdout, so bench-shaped
  * plans (32 cores / 32 shuffle partitions) can be committed as artifacts.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val spark = graft.core.GSession.local().spark
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq(
        "q_pvalue_filter", "q_clump", "q_locus_annotate", "q_overlaps",
        "q_lsh_pairs", "q_clean_corpus", "q_contamination", "q_seq_pack",
        "q_topk_pushdown", "q_setsim_join", "q_pagerank", "q_scd2",
        "q_salted_join", "q_rolling_stats")
    // SPARK_GRAFT_EXECUTED=1: run the query (noop sink) first and dump the
    // FINAL adaptive plan — the only place AQE runtime decisions
    // (ReusedExchange/AQEShuffleRead/broadcast conversions) are visible;
    // the default pre-execution dump shows the initial plan only (§7.2).
    val executed = sys.env.get("SPARK_GRAFT_EXECUTED").contains("1")
    names.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        val df = fn(spark, sfDir)
        // run THIS Dataset's queryExecution (not a noop write, which plans a
        // fresh QueryExecution and leaves the dumped plan isFinalPlan=false);
        // the rows are consumed on the executors, never brought to the driver
        if (executed) df.queryExecution.toRdd.foreach(_ => ())
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        planDir match {
          case Some(dir) =>
            val p = java.nio.file.Paths.get(dir)
            java.nio.file.Files.createDirectories(p)
            java.nio.file.Files.write(
              p.resolve(s"$name.txt"),
              plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            System.err.println(s"[explain] wrote $dir/$name.txt")
          case None =>
            println(s"\n===== $name =====")
            println(plan)
        }
      }
    }
    spark.stop()
  }
}
