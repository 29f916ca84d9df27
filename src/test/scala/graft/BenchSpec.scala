package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Bench's per-query measurement: the task-metric profile of the best
  * attempt lands in the artifact file, and the compact stdout line keeps
  * its keys.
  */
class BenchSpec extends SparkSpec {

  private val sfDir = new java.io.File(sf("nation")).getParent
  private val cheap = Seq("q_md5_id", "q_neglog_pval")

  private def parse(json: String): JsonNode = new ObjectMapper().readTree(json)

  /** Runs `body` with a fresh task-metrics listener registered on the session. */
  private def withCounters[T](body: Bench.TaskCounters => T): T = {
    val counters = new Bench.TaskCounters
    spark.sparkContext.addSparkListener(counters)
    try body(counters)
    finally spark.sparkContext.removeSparkListener(counters)
  }

  test("every attempt gets its own task counters") {
    withCounters { counters =>
      val attempts = Bench.attempts(spark, counters, SparkEntry.queries(cheap.head), sfDir, 2)
      assert(attempts.size == 2)
      attempts.foreach { a =>
        assert(a.seconds > 0.0)
        assert(a.profile.tasks > 0, a.profile)
        assert(a.profile.cpuNs >= 0L, a.profile)
      }
      // a deterministic query runs the same tasks every time: equal counts
      // show the counters were reset, not accumulated, between attempts
      assert(attempts(0).profile.tasks == attempts(1).profile.tasks, attempts)
    }
  }

  test("a 2-query bench writes a profile per query and keeps its stdout keys") {
    val out = graft.core.TempRoot.jvm.file("graft-bench", ".json")
    val line = withCounters { counters =>
      Bench.run(spark, counters, sfDir, cheap, runsPerQuery = 1, wantControl = false,
        controlOnly = false, outFile = out.toString)
    }
    val stdout = parse(line)
    assert(stdout.fieldNames.asScala.toSet == Set(
      "metric", "value", "unit", "queries", "n_queries", "queries_reported",
      "queries_full", "sf"), line)
    assert(stdout.get("queries").fieldNames.asScala.toSet == cheap.toSet, line)

    val artifact = parse(new String(Files.readAllBytes(out), "UTF-8"))
    assert(artifact.get("queries").fieldNames.asScala.toSet == cheap.toSet)
    cheap.foreach { q =>
      val p = artifact.get("profile").get(q)
      assert(p != null, s"no profile for $q")
      assert(p.fieldNames.asScala.toSet == Set(
        "cpu_s", "tasks", "gc_s", "shuffle_write_mb", "spill_mb", "task_peak_mb",
        "build_s", "build_jobs"))
      assert(p.get("tasks").asLong > 0L, p)
      assert(p.get("cpu_s").asDouble >= 0.0, p)
      assert(p.get("build_s").asDouble >= 0.0, p)
      assert(p.get("build_jobs").asInt >= 0, p)
    }
  }
}
