package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bucketed tables must join without a shuffle — the plan property that
  * makes repeated large-large joins affordable at scale.
  */
class BucketedJoinSpec extends SparkSpec {

  test("join between co-bucketed tables plans no shuffle exchange") {
    import spark.implicits._
    val g = GSession(spark)
    spark.conf.set("spark.graft.writeMode", "overwrite")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    val left = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("variantId", "payload")
    val right = (1 to 1000).map(i => (i.toLong, i * 0.5)).toDF("variantId", "score")
    g.writeBucketedTable(left, "bkt_left", Seq("variantId"), 4)
    g.writeBucketedTable(right, "bkt_right", Seq("variantId"), 4)

    val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "variantId")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join:\n$plan")
    assert(joined.count() === 1000)

    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.sql("DROP TABLE IF EXISTS bkt_left")
    spark.sql("DROP TABLE IF EXISTS bkt_right")
  }

  test("compactParquet merges a fragmented dataset into size-targeted files, content-identical") {
    import spark.implicits._
    val g = GSession(spark)
    val base = graft.core.TempRoot.jvm.dir("graft_compact_spec").toString
    val df = (1L to 20000L).toDF("id").select($"id", ($"id" * 1.5).as("v"))
    df.repartition(50).write.mode("overwrite").parquet(s"$base/small")
    val (before, after) = g.compactParquet(s"$base/small", s"$base/out", targetBytes = 256L * 1024)
    assert(before == 50)
    assert(after < 10, s"expected few large files, got $after")
    val back = spark.read.parquet(s"$base/out").as[(Long, Double)].collect().toSet
    assert(back == df.as[(Long, Double)].collect().toSet)
  }
}
