package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Failure-visibility contract of the correctness dump: a query that throws
  * must land in the output directory as an explicit `_error` artifact the
  * driver reports as a red row — never vanish and silently shrink the
  * denominator (the round-9 q_sessionize incident: the dump caught the
  * exception, logged to stderr, and omitted the query, so a correctness
  * break read as "all green" with a smaller surface).
  */
class VerifySpec extends SparkSpec {

  private def tmpDir(): String =
    graft.core.TempRoot.jvm.dir("graft-verify-spec").toFile.getAbsolutePath

  test("a throwing query emits a one-row _error parquet, not an omission") {
    val out = tmpDir()
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("deliberately broken")
    Verify.dumpOne(spark, "/unused", out, "q_broken", boom)
    val dumped = spark.read.parquet(s"$out/q_broken")
    assert(dumped.columns.toSeq == Seq("_error"))
    val msg = dumped.collect().map(_.getString(0))
    assert(msg.length == 1)
    assert(msg.head.contains("IllegalStateException"))
    assert(msg.head.contains("deliberately broken"))
  }

  test("a working query dumps its real result under its own name") {
    val out = tmpDir()
    val ok: (SparkSession, String) => DataFrame =
      (s, _) => { import s.implicits._; Seq((1, "a"), (2, "b")).toDF("id", "v") }
    Verify.dumpOne(spark, "/unused", out, "q_ok", ok)
    val dumped = spark.read.parquet(s"$out/q_ok")
    assert(dumped.columns.toSeq == Seq("id", "v"))
    assert(dumped.count() == 2)
    assert(!dumped.columns.contains("_error"))
  }

  test("Bench control set stays wired to the query surface and the pinned refs") {
    // the host-drift controls run by NAME at bench time — a rename in the
    // harness must fail here, not mid-bench on the driver's round run
    Bench.controlNames.foreach { n =>
      assert(SparkEntry.queries.contains(n), s"control query missing: $n")
    }
    // every pinned reference row covers exactly the control names, so the
    // drift geomean never silently averages over a partial set
    Bench.controlRefs.foreach { case (sf, refs) =>
      assert(refs.keySet == Bench.controlNames.toSet, s"refs mismatch at $sf")
      refs.values.foreach(v => assert(v > 0.0))
    }
  }
}
