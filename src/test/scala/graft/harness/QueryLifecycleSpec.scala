package graft.harness

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{SparkEntry, SparkSpec}

/** Nothing outlives a query: a harness query leaves no cached frame and no
  * persisted RDD behind once it has run, and no object in src/main keeps a
  * mutable map keyed on a SparkSession (a memo that pins frames per session
  * for the life of the JVM).
  */
class QueryLifecycleSpec extends SparkSpec {

  private val sfDir = Paths.get(sf("lineitem")).getParent.toString

  // the queries whose builders or operators once persisted or memoised
  Seq("q_containment_join", "q_containment_incr", "q_pagerank", "q_gcat_split", "q_coloc",
    "q_coloc_pip", "q_ecaviar",
    "q_lsh_pairs", "q_near_dup", "q_simhash_pairs", "q_image_phash", "q_image_phash128",
    "q_audio_phash", "q_clean_corpus")
    .foreach { name =>
      test(s"$name leaves no cached frame or persisted RDD after it runs") {
        val sc = spark.sparkContext
        // start from an empty cache: earlier tests share this session
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        assert(spark.sharedState.cacheManager.isEmpty, s"$name: cache manager holds frames")
        assert(sc.getPersistentRDDs.isEmpty, s"$name: persisted RDDs: ${sc.getPersistentRDDs}")
      }
    }

  test("no mutable map in src/main is keyed on SparkSession") {
    // a map type, then a key type that is SparkSession or a tuple naming it
    val keyedOnSession = ("""\b(?:TrieMap|HashMap|WeakHashMap|ConcurrentHashMap|mutable\s*\.\s*\w*Map)""" +
      """(?:\s*\.\s*empty)?\s*\[\s*(?:\([^)]*\bSparkSession\b|(?:[\w.]+\.)?SparkSession\b)""").r
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"expected ${root.toAbsolutePath}")
    val hits: Seq[String] =
      Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if keyedOnSession.findFirstIn(line).isDefined => s"$p:${i + 1}"
          }
        }
    assert(hits.isEmpty, hits.mkString("; "))
  }
}
