package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, IntegerType, StringType}
import org.apache.spark.sql.{Column, DataFrame}

import graft.core.GSession
import graft.datasets.SummaryStatistics
import graft.operators.{Annotations, Colocalisation, Overlaps}
import graft.sources.EqtlCatalogue

/** GROUP-growth scale probe for the families whose density-corpus sf10
  * exponents were adjudicated "output-volume-bound" (round 13): clump,
  * locus_annotate, coloc, coloc_pip, eqtl_susie.
  *
  * MakeScaledCorpus grows DENSITY — copies land in a fixed key space
  * (10 studies × 4 chromosomes × fixed position range), so pairs-per-lead
  * and tags-per-locus grow with scale and output volume grows
  * super-linearly BY CONSTRUCTION. Production corpora instead grow in
  * GROUPS: more studies over the same genome (reference: per-chromosome
  * repartition assumption, study_locus.py:561), more credible sets over
  * the same variant universe, more molecular traits. This probe builds
  * that corpus shape — per-copy suffix on the GROUP key, per-group
  * content identical at every scale — and re-measures the adjudicated
  * families at `copies`× (default 100×) with Bench's task counters
  * (per-task peak execution memory, spill, shuffle write), the evidence
  * the "would this survive 100×?" argument needs under the growth shape
  * the adjudication actually claims.
  *
  * Group-keyed synthesis (crossJoin(range(N))
  * instead of an N-way union so the generator plan stays O(1) at N=100):
  *   - sumstats: studyId gets the copy suffix → studies ×N, per-study
  *     row count / position density FIXED;
  *   - credible sets: studyLocusId AND tagVariantId get the suffix →
  *     (chromosome, tag) bucket count ×N, per-bucket occupancy FIXED;
  *   - eQTL SuSiE: molecular_trait_id and dataset_id get the suffix →
  *     credible-set groups ×N, rows per group FIXED (metadata grows with
  *     dataset count and stays broadcast-size: 7·N rows).
  *
  * Timing mirrors Bench (noop sink, best-of-N, clearCache+GC isolation);
  * shuffle partitions are sized per scale the way a real deployment sizes
  * them with volume (round-13 lesson: a fixed 32-way layout at 100× just
  * measures spill): cpus at 1×, SPARK_GRAFT_SHUFFLE_PARTITIONS (default
  * 256) at N×. Output rows and per-output-row µs are recorded so
  * "output-bound" is a number, not prose.
  *
  * Usage: runMain graft.tools.GroupScaleProbe [workDir] [copies] [q...]
  */
object GroupScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val workDir = args.headOption.getOrElse("target/groupscale")
    val copies = args.drop(1).headOption.map(_.toInt).getOrElse(100)
    val only = args.drop(2).toSet
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    val cpus = GSession.envCpus.toString
    val bigPartitions = GSession.envShufflePartitions.getOrElse("256")
    // Production scan split: this probe argues about at-scale behaviour,
    // where the 8 MB fixture split would inflate scan task counts ~16×
    // (round-13 advisory). Override through SPARK_GRAFT_EXTRA_CONF.
    val spark = GSession.local(
      conf = GSession.productionScan + ("spark.sql.shuffle.partitions" -> cpus)).spark
    val counters = new graft.Bench.TaskCounters
    spark.sparkContext.addSparkListener(counters)

    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")

    /** n copies of `df`, each transformed by per-copy suffix expressions:
      * one scan crossed with range(n) instead of an n-way union.
      */
    def grown(df: DataFrame, n: Int)(project: Column => Seq[Column]): DataFrame =
      df.crossJoin(spark.range(n).toDF("copy"))
        .select(project(col("copy")): _*)

    def cSfx(c: Column): Column = concat(lit("c"), c.cast(StringType))

    // --- sumstats: studies ×n over the same genome ----------------------
    def sumstats(n: Int): DataFrame = {
      val x = col("l_orderkey") * 8 + col("l_linenumber")
      val position = (x * lit(2654435761L)) % lit(1000000007L)
      grown(lineitem, n) { c =>
        Seq(
          concat(lit("s"), (col("l_suppkey") % 10).cast(StringType), cSfx(c))
            .as("studyId"),
          concat(
            (lit(1) + col("l_partkey") % 4).cast(StringType), lit("_"),
            position.cast(StringType), lit("_A_T")).as("variantId"),
          (lit(1) + col("l_partkey") % 4).cast(StringType).as("chromosome"),
          position.cast(IntegerType).as("position"),
          ((position % 1000) / lit(1000.0) - lit(0.5)).as("beta"),
          (lit(1000) + position % 50).cast(IntegerType).as("sampleSize"),
          (lit(1.0) + (position % 700) / lit(100.0)).cast(FloatType)
            .as("pValueMantissa"),
          (-(lit(4) + position % 13)).cast(IntegerType).as("pValueExponent"),
          (lit(0.01) + (position % 100) / lit(1000.0)).as("standardError"))
      }.distinct()
    }

    // --- credible sets: loci AND tag vocabulary ×n ----------------------
    def credsets(n: Int): DataFrame = {
      val q = lit(1) + (col("l_orderkey") * 7 + col("l_partkey") * 31) % 97
      val perCopy = grown(lineitem.filter(col("l_orderkey") % 4 === 0), n) { c =>
        Seq(
          concat(lit("L"), col("l_orderkey").cast(StringType), cSfx(c))
            .as("studyLocusId"),
          when(col("l_orderkey") % 2 === 0, "gwas").otherwise("eqtl")
            .as("studyType"),
          (col("l_partkey") % 8).cast(StringType).as("chromosome"),
          concat(lit("v"), col("l_partkey").cast(StringType), cSfx(c))
            .as("tagVariantId"),
          q.cast(IntegerType).as("q"))
      }.distinct()
      perCopy
        .withColumn(
          "pp",
          col("q") / sum(col("q")).over(Window.partitionBy("studyLocusId"))
            .cast("double"))
        .select(
          col("studyLocusId"), col("studyType"), col("chromosome"),
          col("tagVariantId"),
          lit(null).cast(StringType).as("studyId"),
          lit(null).cast(StringType).as("region"),
          (col("q") / 10.0).as("logBF"),
          col("pp").as("posteriorProbability"),
          (((col("q") % 21) - 10) / 10.0).as("beta"),
          (lit(1) + (col("q") % 89) / 10.0).cast(FloatType).as("pValueMantissa"),
          (-(lit(2) + col("q") % 30)).cast(IntegerType).as("pValueExponent"))
    }

    // --- eQTL SuSiE inputs: traits/datasets ×n --------------------------
    def eqtlInputs(n: Int): (DataFrame, DataFrame, DataFrame) = {
      val k = col("l_orderkey") * 8 + col("l_linenumber")
      def traitId(c: Column) = concat(lit("T"), (k % 300).cast(StringType), cSfx(c))
      def region = concat(lit("R"), (k % 4).cast(StringType))
      def dataset(c: Column) = concat(lit("D"), (k % 7).cast(StringType), cSfx(c))
      def variant = concat(
        lit("chr"), (k % 22 + 1).cast(StringType), lit("_"),
        (k % 500000).cast(StringType), lit("_A_C"))
      val cs = grown(lineitem, n) { c =>
        Seq(
          traitId(c).as("molecular_trait_id"), region.as("region"),
          variant.as("variant"), dataset(c).as("dataset_id"),
          (k % 3 + 1).cast("int").as("credibleSetIndex"),
          ((k % 64 + 1) / lit(128.0)).as("pip"),
          pow(lit(10.0), -(k % 20 + 4).cast("double")).as("pvalue"),
          ((k % 21) - 10).cast("double").as("beta"),
          (lit(0.01) + (k % 16) / lit(128.0)).as("se"),
          concat(lit("ENSG"), (k % 80).cast(StringType)).as("gene_id"))
      }.distinct()
      val lbf = grown(lineitem, n) { c =>
        Seq(
          traitId(c).as("molecular_trait_id"), region.as("region"),
          variant.as("variant"), dataset(c).as("dataset_id"),
          (k % 22 + 1).cast(StringType).as("chromosome"),
          (k % 500000).cast("int").as("position")) ++
          (1 to 10).map(i =>
            (((k * (i + 3)) % 100) / lit(10.0) - 3.0).as(s"lbf_variable$i"))
      }.distinct()
      val j = col("n_nationkey") % 7
      val meta = grown(
        spark.read.parquet(s"$sfDir/nation.parquet"), n) { c =>
        Seq(
          concat(lit("D"), j.cast(StringType), cSfx(c)).as("dataset_id"),
          concat(lit("S"), j.cast(StringType), cSfx(c)).as("study_id"),
          concat(lit("lab"), (j % 3).cast(StringType)).as("study_label"),
          lit("sg").as("sample_group"),
          concat(lit("UBERON_"), j.cast(StringType)).as("tissue_id"),
          lit("naive").as("condition_label"),
          ((j + 1) * 100).cast("int").as("sample_size"),
          when(j % 3 === 0, "ge").when(j % 3 === 1, "leafcutter")
            .otherwise("aptamer").as("quant_method"),
          concat(lit("3"), j.cast(StringType)).as("pmid"),
          when(j % 2 === 0, "bulk").otherwise("single-cell").as("study_type"))
      }.distinct()
      (cs, lbf, meta)
    }

    // --- documents: corpus ×n with copy-UNIQUE token vocabulary --------
    // (per-copy token prefix, so shingle /
    // MinHash vocabularies are disjoint across copies — bucket COUNT grows
    // ×n, per-bucket occupancy and the true duplicate rate stay fixed, the
    // honest corpus-growth shape for the dedup family)
    def docsUnique(n: Int): DataFrame = {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      grown(docs, n) { c =>
        Seq(
          (col("doc_id") + c * lit(1000000000L)).as("doc_id"),
          concat_ws(" ",
            transform(split(trim(col("text")), "\\s+"),
              t => concat(lit("c"), c.cast(StringType), lit("_"), t)))
            .as("text"))
      }
    }

    // materialise inputs so synthesis is not in the timed path, clustered
    // on the group key like real ingested tables (MakeScaledCorpus layout)
    def write(df: DataFrame, name: String, key: String): Unit = {
      val files = spark.sparkContext.defaultParallelism
      df.repartitionByRange(files, col(key))
        .write.mode("overwrite").parquet(s"$workDir/$name.parquet")
      System.err.println(s"[groupscale] wrote $name")
    }
    val wanted =
      if (only.isEmpty) Set("clump", "locus_annotate", "coloc", "coloc_pip",
        "eqtl_susie", "setsim_join", "minhash", "near_dup", "containment")
      else only
    for (n <- Seq(1, copies)) {
      if (Set("clump", "locus_annotate").exists(wanted))
        write(sumstats(n), s"gsumstats$n", "studyId")
      if (Set("coloc", "coloc_pip").exists(wanted))
        write(credsets(n), s"credsets$n", "studyLocusId")
      if (wanted("eqtl_susie")) {
        val (cs, lbf, meta) = eqtlInputs(n)
        write(cs, s"eqtlcs$n", "molecular_trait_id")
        write(lbf, s"eqtllbf$n", "molecular_trait_id")
        write(meta, s"eqtlmeta$n", "dataset_id")
      }
      if (Set("setsim_join", "minhash", "near_dup", "containment").exists(wanted))
        write(docsUnique(n), s"docsu$n", "doc_id")
    }

    def rd(name: String, n: Int) =
      spark.read.parquet(s"$workDir/$name$n.parquet")

    def queriesAt(n: Int): Seq[(String, () => DataFrame)] = Seq(
      "clump" -> (() =>
        SummaryStatistics(rd("gsumstats", n)).windowBasedClumping(100000L).df),
      "locus_annotate" -> { () =>
        val ss = rd("gsumstats", n)
        val leads = ss.filter(col("position") % 97 === 0)
          .withColumn(
            "studyLocusId",
            graft.core.GDataset.generateIdentifier(Seq("studyId", "variantId")))
        Annotations.annotateLocusStatistics(leads, ss, collectLocusDistance = 50000)
      },
      "coloc" -> { () =>
        val cred = rd("credsets", n)
        Colocalisation.coloc(
          Overlaps.alignOverlappingTags(cred, Overlaps.overlappingPeaks(cred)))
      },
      "coloc_pip" -> { () =>
        val cred = rd("credsets", n)
        Colocalisation.colocPip(
          Overlaps.alignOverlappingTags(cred, Overlaps.overlappingPeaks(cred)))
      },
      "eqtl_susie" -> (() =>
        EqtlCatalogue.fromSusieResults(
          EqtlCatalogue.parseSusieResults(
            rd("eqtlcs", n), rd("eqtllbf", n), rd("eqtlmeta", n)))),
      "setsim_join" -> (() =>
        graft.operators.Dedup.setSimilarityJoin(
          rd("docsu", n), theta = 0.8, shingle = 3)),
      "minhash" -> (() =>
        graft.operators.Dedup.signatures(rd("docsu", n))),
      "near_dup" -> (() =>
        graft.operators.Dedup.verifiedPairs(rd("docsu", n))),
      "containment" -> (() =>
        graft.operators.Dedup.containmentJoin(
          rd("docsu", n), theta = 0.8, shingle = 3))
    )

    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    case class Obs(sec: Double, rows: Long, peakMb: Long, spillMb: Long, shufMb: Long)
    def probe(n: Int, name: String, fn: () => DataFrame): Obs = {
      // volume-sized shuffle partitions, the knob a deployment turns first
      spark.conf.set(
        "spark.sql.shuffle.partitions", if (n == 1) cpus else bigPartitions)
      var best = Double.MaxValue
      var bestStats = (0L, 0L, 0L)
      (1 to runs).foreach { _ =>
        spark.catalog.clearCache(); System.gc()
        counters.reset(spark)
        val t0 = System.nanoTime()
        fn().write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val prof = counters.profile(spark)
        if (sec < best) {
          best = sec
          bestStats = (prof.taskPeakB, prof.spillB, prof.shuffleWriteB)
        }
      }
      // untimed: output volume for the µs/row column. SPARK_GRAFT_PROBE_COUNT=0
      // skips this second full execution (reported as -1) — at 1000× the
      // count run would double a multi-hour probe, and for the group-growth
      // corpus the output volume is exact by construction anyway (per-copy
      // content identical + disjoint vocabulary → rowsN = N · rows1).
      val rows =
        if (sys.env.getOrElse("SPARK_GRAFT_PROBE_COUNT", "1") == "0") -1L
        else fn().count()
      val (pk, sd, sw) = bestStats
      val obs = Obs(best, rows, pk / 1048576, sd / 1048576, sw / 1048576)
      System.err.println(
        f"[groupscale] $name%-15s ×$n%-4d ${obs.sec}%8.2fs ${obs.rows}%10d rows  " +
          f"peak=${obs.peakMb}%5d MB spill=${obs.spillMb}%6d MB shuffle=${obs.shufMb}%6d MB")
      obs
    }

    val lines = queriesAt(1).zip(queriesAt(copies)).collect {
      case ((name, f1), (_, fN)) if only.isEmpty || only(name) =>
        val o1 = probe(1, name, f1)
        val oN = probe(copies, name, fN)
        val exp = math.log(oN.sec / o1.sec) / math.log(copies.toDouble)
        val us1 = o1.sec * 1e6 / o1.rows.max(1L)
        val usN = oN.sec * 1e6 / oN.rows.max(1L)
        s""""$name":{"t1":${f3(o1.sec)},"tN":${f3(oN.sec)},"exponent":${f3(exp)},""" +
          s""""rows1":${o1.rows},"rowsN":${oN.rows},""" +
          s""""us_per_out_row_1":${f3(us1)},"us_per_out_row_N":${f3(usN)},""" +
          s""""task_peak_mb_N":${oN.peakMb},"spill_disk_mb_N":${oN.spillMb},""" +
          s""""shuffle_write_mb_N":${oN.shufMb}}"""
    }
    println(
      s"""{"metric":"group_scale_probe","copies":$copies,"growth":"groups",""" +
        s""""queries":{${lines.mkString(",")}}}""")
    spark.stop()
  }
}
