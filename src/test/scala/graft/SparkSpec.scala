package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (mirrors the reference CI harness:
  * local master, tiny shuffle parallelism — src/utils/spark.py:19-41),
  * built by the same factory as every main.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = graft.core.GSession.local(2).spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  protected def sf(name: String) = s"/root/testdata/sf0.001/$name.parquet"
}
