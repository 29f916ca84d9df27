package graft.tools

/** Whole-suite sweep for generated methods over HotSpot's 8000-bytecode
  * JIT limit (the round-18 ad-hoc INFO-log sweep, made repeatable): runs
  * each query through the noop sink with the CodeGenerator logger forced
  * to INFO so its "Generated method too long to be JIT compiled" lines
  * land on stderr, prefixed per query on stdout. A clean sweep means the
  * suite no longer depends on `-XX:-DontCompileHugeMethods` to run
  * compiled (VERDICT_r18 item 8).
  *
  * Usage: CodegenSweep [queryName ...]   (default: every SparkEntry query)
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_SHUFFLE_PARTITIONS.
  */
object CodegenSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.GSession.local().spark
    // The over-limit report is logInfo'd by CodeGenerator only — lift just
    // that logger past the WARN root so the sweep sees it.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
      org.apache.logging.log4j.Level.INFO)
    val names =
      if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      graft.SparkEntry.queries.get(name).foreach { fn =>
        println(s"[sweep] $name")
        Console.flush()
        try {
          spark.catalog.clearCache()
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        } catch {
          case e: Throwable => println(s"[sweep] $name FAILED: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}
