package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** `GSession.local` is the one session factory: every main and spec gets
  * its session, its fixture conf and the engine's SQL functions from it,
  * and `SPARK_GRAFT_EXTRA_CONF` reaches every session through it.
  */
class SessionFactorySpec extends SparkSpec {

  private val shuffleKey = "spark.sql.shuffle.partitions"
  private val splitKey = "spark.sql.files.maxPartitionBytes"

  test("no session builder outside the factory in src/main or src/test") {
    // split so that this file does not match its own pattern
    val builder = ("SparkSession" + """\s*\.\s*builder\b""").r
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"expected ${r.toAbsolutePath}"))
    val hits: Seq[(Path, Int)] = roots.flatMap { root =>
      Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
        .map(p => p -> builder.findAllMatchIn(
          new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).size)
        .filter(_._2 > 0)
    }
    assert(
      hits.map { case (p, n) => p.toString -> n } ==
        Seq("src/main/scala/graft/core/GSession.scala" -> 1),
      hits.mkString("; "))
  }

  test("a factory session carries the fixture conf") {
    val s = GSession.local(2).spark
    assert(s.conf.get(shuffleKey) == GSession.envShufflePartitions.getOrElse("2"))
    assert(s.conf.get(splitKey) == "8m")
    assert(s.conf.get("spark.sql.files.openCostInBytes") == "1m")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("a factory session resolves the engine's SQL functions") {
    val s = GSession.local(2).spark
    assert(s.sql("SELECT dot_product(array(1d), array(2d))").head().getDouble(0) == 2.0)
  }

  test("extra conf: blank entries and surrounding whitespace are skipped") {
    assert(GSession.parseExtraConf("") == Map.empty)
    assert(GSession.parseExtraConf(" ;; ; ") == Map.empty)
    assert(GSession.parseExtraConf(" a=1 ; ;\tb = 2;") == Map("a" -> "1", "b" -> "2"))
  }

  test("extra conf: a value containing '=' splits on the first '=' only") {
    assert(GSession.parseExtraConf("k=x=y;j==") == Map("k" -> "x=y", "j" -> "="))
  }

  test("extra conf: a later entry overrides an earlier one") {
    assert(GSession.parseExtraConf("k=1;j=0;k=2") == Map("k" -> "2", "j" -> "0"))
  }

  test("extra conf overrides both the fixture conf and the caller's conf") {
    val conf = Map(shuffleKey -> "7", splitKey -> "128m", "k" -> "caller")
    val extra = GSession.parseExtraConf(s"$shuffleKey=1;k=extra")
    val merged = GSession.settings(2, conf, extra)
    assert(merged(shuffleKey) == "1")
    assert(merged("k") == "extra")
    // the caller's conf still beats the fixture conf where extra is silent
    assert(merged(splitKey) == "128m")
    assert(GSession.settings(2, Map.empty, extra)(shuffleKey) == "1")
  }

  test("extra conf: a malformed entry fails with an error that names it") {
    Seq("oops", "=v").foreach { bad =>
      val e = intercept[RuntimeException](GSession.parseExtraConf(s"a=1;$bad;b=2"))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
