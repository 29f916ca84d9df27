package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(sf("embeddings"))

  test("cosine of a vector with itself is 1") {
    import spark.implicits._
    val self = emb.limit(1).select(Similarity.asDouble(col("embedding")).as("v"))
    val c = self.select(Similarity.cosine(col("v"), col("v")).as("c")).as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("brute-force top-k is ordered by similarity and excludes self") {
    import spark.implicits._
    val topk = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
    val rows = topk.select("q_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect()
    assert(rows.groupBy(_._1).forall { case (_, g) => g.length == 5 })
    assert(rows.forall { case (q, n, _) => q != n })
    rows.groupBy(_._1).values.foreach { g =>
      val sims = g.map(_._3).toSeq
      assert(sims == sims.sorted.reverse)
    }
  }

  test("ANN candidates share the query bucket; recall vs brute force is sane") {
    import spark.implicits._
    val bucketed = Similarity.lshBuckets(emb, numPlanes = 4)
    // Every vector gets one of 16 buckets.
    val buckets = bucketed.select("bucket").as[Long].collect()
    assert(buckets.forall(b => b >= 0 && b < 16))
    val ann = Similarity.annTopK(bucketed, col("vec_id") < 20, k = 3)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), k = 3)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // LSH with 4 planes on random vectors: recall is partial by design; just
    // require overlap to confirm buckets are not degenerate.
    assert(ann.nonEmpty)
    assert((ann intersect brute).nonEmpty)
  }

  /** Within-bucket candidate pairs: sum over buckets of n·(n−1)/2. */
  private def candidatePairs(numPlanes: Int): Long = {
    import spark.implicits._
    Similarity.lshBuckets(emb, numPlanes = numPlanes)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .select(sum(col("n") * (col("n") - 1) / 2).cast("long"))
      .as[Long].head()
  }

  test("candidate-pair counts shrink superlinearly as planes grow (scale guard)") {
    val n = emb.count()
    val allPairs = n * (n - 1) / 2
    val c2 = candidatePairs(2)
    val c4 = candidatePairs(4)
    val c8 = candidatePairs(8)
    // Each added plane roughly halves expected bucket occupancy, so pair
    // counts should fall ~4x per plane doubling — superlinear in planes.
    assert(c2 > c4 && c4 > c8, s"expected monotone shrink, got $c2 / $c4 / $c8")
    assert(c8 * 4 < c2, s"expected superlinear shrink, got c2=$c2 c8=$c8")
    // The bucketed join must never approach all-pairs work.
    assert(c8 * 10 < allPairs, s"candidates $c8 not << N^2/2 = $allPairs")
  }

  test("multi-table OR-amplification raises recall over a single table") {
    import spark.implicits._
    val multi = Similarity.lshBucketsMulti(emb, numTables = 2, numPlanes = 6)
    // table column present; table 0 buckets reproduce single-table hashing
    val t0 = multi.filter(col("table") === 0).select("vec_id", "bucket")
      .as[(Long, Long)].collect().toMap
    val single = Similarity.lshBuckets(emb, numPlanes = 6).select("vec_id", "bucket")
      .as[(Long, Long)].collect().toMap
    assert(t0 === single)
    val annMulti = Similarity.annTopKMulti(multi, col("vec_id") < 20, k = 3)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val annSingle = Similarity.annTopK(
      Similarity.lshBuckets(emb, numPlanes = 6), col("vec_id") < 20, k = 3)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), k = 3)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recallMulti = (annMulti intersect brute).size.toDouble / brute.size
    val recallSingle = (annSingle intersect brute).size.toDouble / brute.size
    assert(recallMulti >= recallSingle, s"multi $recallMulti < single $recallSingle")
    assert(annMulti.nonEmpty)
  }

  test("ANN recall@10 vs brute force: measured floors for 1/2/4-table LSH at the sizing-rule point") {
    import spark.implicits._
    // recall-vs-cost instrumentation: the OR-amplification claim as a
    // NUMBER, not just a mechanism test. Ground truth = exact top-10.
    // operating point per the sizing rule: numPlanes ≈ log2(N / bucketSize)
    // → 4 planes for this N=500 corpus (target bucket ≈ 32)
    val queries = col("vec_id") < 50
    val brute = Similarity.bruteForceTopK(emb, emb.filter(queries), k = 10)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallAt(tables: Int): Double = {
      val a = Similarity.annTopKMulti(
        Similarity.lshBucketsMulti(emb, numTables = tables, numPlanes = 4), queries, k = 10)
        .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (a intersect brute).size.toDouble / brute.size
    }
    val (r1, r2, r4) = (recallAt(1), recallAt(2), recallAt(4))
    info(f"recall@10 at 4 planes: 1-table=$r1%.3f 2-table=$r2%.3f 4-table=$r4%.3f (n=${brute.size})")
    assert(r1 <= r2 && r2 <= r4, s"OR-amplification must not lose recall: $r1 / $r2 / $r4")
    // floors pinned from measurement on the synthetic random corpus at
    // sf0.001 (measured 0.124 / 0.218 / 0.422 — ~1-(1-p)^T per the
    // independent-tables model; see BASELINE.md): a change to
    // bucketing/hashing that quietly craters recall fails here
    assert(r1 >= 0.08, f"1-table recall@10 $r1%.3f below floor")
    assert(r2 >= 0.15, f"2-table recall@10 $r2%.3f below floor")
    assert(r4 >= 0.30, f"4-table recall@10 $r4%.3f below floor")
  }

  test("multi-table near-dup pairs are deduped across tables") {
    import spark.implicits._
    val multi = Similarity.lshBucketsMulti(emb, numTables = 2, numPlanes = 6)
    val pairs = Similarity.embeddingNearDupPairsMulti(multi, threshold = -1.0)
      .select("l_id", "r_id").as[(Long, Long)].collect()
    assert(pairs.length === pairs.distinct.length, "pair appears twice")
    assert(pairs.forall { case (l, r) => l < r })
  }

  test("shuffle-free ivfAssign matches the windowed crossJoin formulation exactly") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val centroids = emb.filter(col("vec_id") % 23 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    // the retired formulation, inlined as the oracle
    val c = broadcast(
      centroids
        .select(col("centroid_id"), Similarity.asDouble(col("embedding")).as("c_emb"))
        .withColumn("c_norm", Similarity.norm(col("c_emb"))))
    val v = emb
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v_emb"))
      .withColumn("v_norm", Similarity.norm(col("v_emb")))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("c_cos").desc, col("centroid_id").asc)
    val windowed = v.crossJoin(c)
      .withColumn(
        "c_cos",
        Similarity.cosineWithNorms(
          Similarity.dot(col("v_emb"), col("c_emb")), col("v_norm"), col("c_norm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("centroid_id").as("bucket"))
      .as[(Long, Long)].collect().toMap
    val kernel = Similarity.ivfAssign(emb, centroids)
      .select(col("vec_id"), col("bucket"))
      .as[(Long, Long)].collect().toMap
    assert(kernel.nonEmpty)
    assert(kernel === windowed)
    // empty centroid table still yields no assignments (old contract)
    assert(Similarity.ivfAssign(emb, centroids.filter(lit(false))).count() === 0L)
  }

  test("multi-probe IVF: probe 0 equals the assignment; nprobe=2 recall dominates nprobe=1") {
    import spark.implicits._
    val centroids = emb.filter(col("vec_id") % 23 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val assigned = Similarity.ivfAssign(emb, centroids)
    // probe list is ranked: the first probed cell IS the assignment cell
    val probe1 = Similarity.ivfProbes(emb, centroids, nprobe = 1)
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    val assign = assigned.select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    assert(probe1 === assign)
    // nprobe=2 yields two distinct cells per vector (C > 1 here)
    val probe2 = Similarity.ivfProbes(emb, centroids, nprobe = 2)
    val perVec = probe2.groupBy("vec_id").agg(countDistinct("bucket").as("n"))
      .select("n").distinct().as[Long].collect().toSeq
    assert(perVec === Seq(2L))
    // recall@3 vs brute force can only improve with more probed cells
    val queries = col("vec_id") < 30
    val brute = Similarity.bruteForceTopK(emb, emb.filter(queries), k = 3)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(nprobe: Int): Double = {
      val a = Similarity.annTopKProbed(
        assigned, Similarity.ivfProbes(emb.filter(queries), centroids, nprobe), k = 3)
        .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (a intersect brute).size.toDouble / brute.size
    }
    val (r1, r2) = (recall(1), recall(2))
    info(f"IVF recall@3: nprobe=1 $r1%.3f nprobe=2 $r2%.3f")
    assert(r2 >= r1, s"more probes must not lose recall: $r2 < $r1")
    assert(r2 > 0.0)
  }

  test("int8 quantization: elementwise error ≤ scale/2; brute-force top-3 survives dequantization") {
    import spark.implicits._
    val rows = emb.limit(50)
      .withColumn("qe", Similarity.quantizeEmbedding(col("embedding")))
      .select(
        Similarity.asDouble(col("embedding")).as("v"),
        Similarity.dequantizeEmbedding(col("qe")).as("dq"),
        col("qe.scale").cast("double").as("s"))
      .as[(Seq[Double], Seq[Double], Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (v, dq, s) =>
      v.zip(dq).foreach { case (a, b) =>
        assert(math.abs(a - b) <= s / 2 + 1e-9, s"error ${math.abs(a - b)} > scale/2 $s")
      }
    }
    // recall preservation: exact top-3 on dequantized vectors overlaps the
    // full-precision top-3 heavily (int8 is the cheap first compression)
    val deq = emb.select(
      col("vec_id"),
      Similarity.dequantizeEmbedding(Similarity.quantizeEmbedding(col("embedding")))
        .as("embedding"))
    val orig = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), k = 3)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val quant = Similarity.bruteForceTopK(deq, deq.filter(col("vec_id") < 20), k = 3)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val overlap = (orig intersect quant).size.toDouble / orig.size
    info(f"top-3 overlap after int8 round trip: $overlap%.3f")
    assert(overlap >= 0.8, f"quantization destroyed ranking: overlap $overlap%.3f")
  }

  test("quantizeEmbedding degrades non-finite vectors to null fields without failing the job") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1f, 2f, 3f)),
      (2L, Array(Float.NaN, 2f, 3f)),
      (3L, Array(Float.PositiveInfinity, 2f, 3f)),
      (4L, Array(1f, 2f, Float.NegativeInfinity))
    ).toDF("vec_id", "embedding")
    val got = vecs
      .withColumn("qe", Similarity.quantizeEmbedding(col("embedding")))
      .select(
        col("vec_id"),
        col("qe.offset").isNull.as("o_null"),
        col("qe.scale").isNull.as("s_null"),
        col("qe.q").isNull.as("q_null"))
      .as[(Long, Boolean, Boolean, Boolean)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, false, false, false),
      (2L, true, true, true),
      (3L, true, true, true),
      (4L, true, true, true)))
  }

  test("pqEncode: per-subspace codes equal ivfAssign on the sliced frames") {
    import spark.implicits._
    val cent = emb.filter(col("vec_id") % 29 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val bySub = Similarity.pqEncode(emb, cent)
      .select("vec_id", "subspace", "code").as[(Long, Int, Long)].collect()
      .groupBy(_._2)
    assert(bySub.keySet === Set(0, 1, 2, 3))
    for (s <- 0 until 4) {
      val sliced = emb.select(
        col("vec_id"), slice(col("embedding"), s * 16 + 1, 16).as("embedding"))
      val centS = cent.select(
        col("centroid_id"), slice(col("embedding"), s * 16 + 1, 16).as("embedding"))
      val expect = Similarity.ivfAssign(sliced, centS)
        .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
      val got = bySub(s).map(r => r._1 -> r._3).toMap
      assert(got === expect, s"subspace $s diverged from sliced ivfAssign")
    }
  }

  test("PQ ADC scores equal the dot with the code reconstruction") {
    import spark.implicits._
    val cent = emb.filter(col("vec_id") % 29 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val codes = Similarity.pqEncode(emb, cent)
    val adc = Similarity.pqAdcTopK(codes, emb.filter(col("vec_id") < 10), cent, k = 5)
      .select("q_id", "neighbor_id", "score").as[(Long, Long, Double)].collect()
    assert(adc.nonEmpty)
    val centMap = cent
      .select(col("centroid_id"), Similarity.asDouble(col("embedding")))
      .as[(Long, Seq[Double])].collect().toMap
    val codeMap = codes.select("vec_id", "subspace", "code")
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    val qMap = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")))
      .as[(Long, Seq[Double])].collect().toMap
    adc.foreach { case (q, n, score) =>
      // reconstruction: concatenate the coded centroid slices
      val rec = (0 until 4).flatMap(s => centMap(codeMap(n)(s)).slice(s * 16, (s + 1) * 16))
      val expect = qMap(q).zip(rec).map { case (a, b) => a * b }.sum
      assert(math.abs(expect - score) < 1e-5,
        s"ADC score $score for ($q, $n) != reconstruction dot $expect")
    }
  }

  test("kmeansIteration computes exact per-bucket means") {
    import spark.implicits._
    val assigned = Seq(
      (1L, Seq(1.0f, 3.0f), 10L),
      (2L, Seq(3.0f, 5.0f), 10L),
      (3L, Seq(0.0f, 8.0f), 20L)
    ).toDF("vec_id", "embedding", "bucket")
    val got = Similarity.kmeansIteration(assigned, dims = 2)
      .select("centroid_id", "embedding")
      .as[(Long, Seq[Double])].collect().toMap
    assert(got(10L) === Seq(2.0, 4.0))
    assert(got(20L) === Seq(0.0, 8.0))
  }

  test("a Lloyd refinement pass does not loosen IVF cells (mean intra-cell cosine)") {
    import spark.implicits._
    def meanIntraCos(assigned: org.apache.spark.sql.DataFrame, cents: org.apache.spark.sql.DataFrame): Double =
      assigned.join(cents.select(col("centroid_id").as("bucket"),
          Similarity.asDouble(col("embedding")).as("c_emb")), Seq("bucket"))
        .select(Similarity.cosine(Similarity.asDouble(col("embedding")), col("c_emb")).as("c"))
        .agg(avg(col("c"))).as[Double].head()
    val seed = emb.filter(col("vec_id") % 23 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val a0 = Similarity.ivfAssign(emb, seed)
    val before = meanIntraCos(a0, seed)
    val refined = Similarity.kmeansIteration(a0)
    val a1 = Similarity.ivfAssign(emb, refined)
    val after = meanIntraCos(a1, refined)
    assert(after >= before - 1e-9, s"refinement loosened cells: $before -> $after")
    // multi-round build: lloydRefine(1) == one manual round; 2 rounds never
    // loosen vs 1 (monotone build quality as the budget grows)
    val l1 = Similarity.lloydRefine(emb, seed, rounds = 1)
    assert(
      l1.select("centroid_id", "embedding").as[(Long, Seq[Double])].collect().toMap ===
        refined.select("centroid_id", "embedding").as[(Long, Seq[Double])].collect().toMap)
    val l2 = Similarity.lloydRefine(emb, seed, rounds = 2)
    val after2 = meanIntraCos(Similarity.ivfAssign(emb, l2), l2)
    assert(after2 >= after - 1e-9, s"round 2 loosened cells: $after -> $after2")
  }

  private def recallOf(
      got: org.apache.spark.sql.DataFrame,
      truth: Set[(Long, Long)]): Double = {
    import spark.implicits._
    val g = got.select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    (g intersect truth).size.toDouble / truth.size
  }

  test("residual IVF+PQ recall at full probe dominates raw PQ at equal code budget") {
    import spark.implicits._
    val queries = col("vec_id") < 50
    val truth = Similarity.bruteForceTopK(emb, emb.filter(queries), k = 5)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val coarse = emb.filter(col("vec_id") % 23 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val nCells = coarse.count().toInt
    // raw PQ: codebook = a raw-vector subset
    val rawCents = emb.filter(col("vec_id") % 29 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val rawRecall = recallOf(
      Similarity.pqAdcTopK(
        Similarity.pqEncode(emb, rawCents), emb.filter(queries), rawCents, k = 5),
      truth)
    // residual PQ: same m/dims and a same-size codebook (residuals of the
    // non-coarse %29 stratum), probing ALL cells so the comparison isolates
    // the quantization quality, not the probe restriction
    val pqCents = Similarity.ivfResiduals(emb, coarse)
      .filter(col("vec_id") % 29 === 1 && col("vec_id") % 23 =!= 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val codes = Similarity.ivfPqEncode(emb, coarse, pqCents)
    val fullRecall = recallOf(
      Similarity.ivfPqAdcTopK(
        codes, emb.filter(queries), coarse, pqCents, k = 5, nprobe = nCells),
      truth)
    val probe2Recall = recallOf(
      Similarity.ivfPqAdcTopK(
        codes, emb.filter(queries), coarse, pqCents, k = 5, nprobe = 2),
      truth)
    info(f"recall@5: rawPQ=$rawRecall%.3f residualPQ(full)=$fullRecall%.3f residualPQ(nprobe=2)=$probe2Recall%.3f")
    // Residuals concentrate near zero, so the same per-subspace code budget
    // resolves finer structure than PQ over raw vectors.
    assert(
      fullRecall >= rawRecall,
      f"residual PQ $fullRecall%.3f under raw PQ $rawRecall%.3f at equal budget")
    // floor pinned from measurement (0.136 full / 0.132 nprobe=2 on the
    // sf0.001 random corpus): a quantizer change that craters recall fails
    assert(fullRecall >= 0.10, f"residual-PQ recall@5 $fullRecall%.3f below floor")
    assert(probe2Recall >= 0.08, f"2-probe residual recall@5 $probe2Recall%.3f below floor")
  }

  test("exact re-rank of the ADC shortlist never loses recall vs ADC-only truncation") {
    import spark.implicits._
    val queries = col("vec_id") < 50
    val truth = Similarity.bruteForceTopK(emb, emb.filter(queries), k = 5)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val cent = emb.filter(col("vec_id") % 29 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val codes = Similarity.pqEncode(emb, cent)
    val q = emb.filter(queries)
    val adcOnly = Similarity.pqAdcTopK(codes, q, cent, k = 5)
    val shortlist = Similarity.pqAdcTopK(codes, q, cent, k = 10)
    val reranked = Similarity.rerankTopK(shortlist, emb, k = 5)
    val rAdc = recallOf(adcOnly, truth)
    val rRerank = recallOf(reranked, truth)
    info(f"recall@5: ADC-only=$rAdc%.3f reranked(10->5)=$rRerank%.3f")
    // Guaranteed: any true top-5 member surviving into the shortlist can
    // only be displaced by globally-better candidates, of which there are
    // at most 4 — so the re-ranked set ⊇ (ADC top-5 ∩ truth).
    assert(rRerank >= rAdc, f"rerank lost recall: $rAdc%.3f -> $rRerank%.3f")
    // measured 0.120 -> 0.212 on the sf0.001 corpus: the shortlist recovers
    // true neighbours the lossy ADC ordering misplaced below rank 5
    assert(rRerank >= 0.15, f"reranked recall@5 $rRerank%.3f below floor")
    // and the shortlist re-scored exactly must order by true cosine: every
    // reranked row's cos must equal the brute-force cos for that pair
    val bruteCos = Similarity.bruteForceTopK(emb, q, k = 10)
      .select("q_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => ((a, b), c) }.toMap
    val mismatched = reranked
      .select("q_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect()
      .filter { case (a, b, c) => bruteCos.get((a, b)).exists(t => math.abs(t - c) > 1e-9) }
    assert(mismatched.isEmpty, s"reranked cos diverges from exact: ${mismatched.take(3).toSeq}")
  }

  test("k-means|| seeding beats the deterministic-subset codebook on mean assignment cosine") {
    import spark.implicits._
    def meanAssignCos(cents: org.apache.spark.sql.DataFrame): Double =
      Similarity.ivfAssign(emb, cents)
        .join(
          broadcast(cents.select(col("centroid_id").as("bucket"),
            Similarity.asDouble(col("embedding")).as("c_emb"))),
          Seq("bucket"))
        .select(Similarity.cosine(Similarity.asDouble(col("embedding")), col("c_emb")).as("c"))
        .agg(avg(col("c"))).as[Double].head()
    val baseline = emb.filter(col("vec_id") % 23 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val c = baseline.count().toInt
    val seeded = Similarity.kmeansParallelSeed(emb, c, rounds = 3)
    assert(seeded.count() === c.toLong, "seeding must return exactly c centroids")
    val subsetCos = meanAssignCos(baseline)
    val seededCos = meanAssignCos(seeded)
    // the production build path runs Lloyd after seeding; compare there too
    val subsetRefined = Similarity.lloydRefine(emb, baseline, rounds = 2)
    val seededRefined = Similarity.lloydRefine(emb, seeded, rounds = 2)
    val subsetRefCos = meanAssignCos(subsetRefined)
    val seededRefCos = meanAssignCos(seededRefined)
    info(f"mean assignment cos: subset=$subsetCos%.4f seeded=$seededCos%.4f " +
      f"subset+lloyd2=$subsetRefCos%.4f seeded+lloyd2=$seededRefCos%.4f (C=$c)")
    assert(
      seededRefCos >= subsetRefCos,
      f"seeded+refined codebook $seededRefCos%.4f under subset+refined $subsetRefCos%.4f")
  }

  test("semanticDedupAuto: identical copies share a cell under any codebook; one keep per copy group") {
    import spark.implicits._
    // identical vectors argmax to the same cell whatever the learned
    // codebook is (the kernel is deterministic), so exact duplicates are
    // always caught by the auto variant — the codebook only affects
    // NEAR-duplicate recall
    val base = emb.filter(col("vec_id") < 30).select("vec_id", "embedding")
    val copies = base.filter(col("vec_id").isin(0L, 1L, 5L))
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    val corpus = base.unionByName(copies)
    val out = Similarity.semanticDedupAuto(corpus, threshold = 0.999)
      .select("vec_id", "component", "keep")
      .as[(Long, Long, Boolean)].collect()
    assert(out.length === 33)
    val byId = out.map(r => r._1 -> r).toMap
    Seq(0L, 1L, 5L).foreach { id =>
      assert(byId(1000L + id)._2 === id, s"copy of $id must join its original's component")
      assert(!byId(1000L + id)._3, s"copy of $id must not be kept")
      assert(byId(id)._2 === id && byId(id)._3, s"original $id must be the keeper")
    }
    // nothing else in the near-random corpus clears cosine 0.999
    assert(out.count(!_._3) === 3)
  }

  test("semanticDedup keeps exactly one representative per planted duplicate cluster") {
    import spark.implicits._
    // Three well-separated base directions; 4 near-copies each (pairwise
    // cosine ≈ 0.999), plus 3 mutually-orthogonal singletons that tie on
    // every centroid (cos 0.5) and land in one cell without pairing.
    val bases = Seq(
      Array(1f, 0f, 0f, 0f),
      Array(0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f))
    val clusters = for {
      (base, c) <- bases.zipWithIndex
      j <- 0 until 4
    } yield {
      val v = base.clone()
      v(3) = 0.01f * j
      (10L * c + j, v)
    }
    val singletons = Seq(
      (30L, Array(1f, 1f, 1f, 1f)),
      (31L, Array(1f, -1f, 1f, -1f)),
      (32L, Array(1f, 1f, -1f, -1f)))
    val vectors = (clusters ++ singletons).toDF("vec_id", "embedding")
    val centroids = bases.zipWithIndex
      .map { case (v, c) => (100L + c, v) }
      .toDF("centroid_id", "embedding")
    val out = Similarity.semanticDedup(vectors, centroids, threshold = 0.9)
      .select("vec_id", "bucket", "component", "keep")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(out.length === 15)
    val byId = out.map(r => r._1 -> r).toMap
    for (c <- 0 until 3; j <- 0 until 4) {
      val (_, bucket, component, keep) = byId(10L * c + j)
      assert(bucket === 100L + c, s"cluster $c member $j in wrong cell")
      assert(component === 10L * c, s"cluster $c member $j wrong component")
      assert(keep === (j == 0), s"cluster $c keep must be the min id only")
    }
    // singletons: all tie to the min-id centroid, none pair up
    singletons.map(_._1).foreach { id =>
      val (_, bucket, component, keep) = byId(id)
      assert(bucket === 100L)
      assert(component === id && keep, s"singleton $id must keep itself")
    }
  }

  test("an over-budget codebook fails loudly before the driver collect") {
    import spark.implicits._
    // 64 doubles/row ≈ 544 B with overhead; a 1 KiB budget affords 1 row,
    // so this 40-row codebook must trip the guard, not OOM-or-succeed.
    val centroids = (0 until 40)
      .map(i => (i.toLong, Array.fill(64)(i.toDouble)))
      .toDF("centroid_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.collectCodebook(centroids, "spec", budget = 1024)
    }
    assert(e.getMessage.contains("exceeds the 0 MiB driver budget (> 1 rows at 64 dims)"))
    // within the default budget the same codebook collects, sorted by id
    assert(Similarity.collectCodebook(centroids, "spec").ids === (0L until 40L))
    assert(Similarity.ivfAssign(emb.limit(10), centroids).count() === 10)
  }

  test("ADC joins broadcast the query batch whatever the size estimate") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val emb30 = emb.filter(col("vec_id") < 30)
    val coarse = emb.filter(col("vec_id") % 23 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val pqCents = emb.filter(col("vec_id") % 31 === 0).limit(8)
      .select((col("vec_id") / 31).cast("long").as("centroid_id"), col("embedding"))
    val ivfCodes = Similarity.ivfPqEncode(emb30, coarse, pqCents)
    val pqCodes = Similarity.pqEncode(emb30, pqCents)
    val helper = new AdaptiveSparkPlanHelper {}
    // rows sorted on the driver, and the (broadcast join, sort-merge join,
    // shuffle) counts of the final plan that produced them
    def run(df: => org.apache.spark.sql.DataFrame): (Seq[String], (Int, Int, Int)) = {
      val built = df
      val rows = built.collect().map(_.toString).sorted.toSeq
      val plan = built.queryExecution.executedPlan
      (rows, (
        helper.collect(plan) { case j: BroadcastHashJoinExec => j }.size,
        helper.collect(plan) { case j: SortMergeJoinExec => j }.size,
        helper.collect(plan) { case e: ShuffleExchangeExec => e }.size))
    }
    def both() = (
      run(Similarity.ivfPqAdcTopK(ivfCodes, emb30, coarse, pqCents, k = 3)),
      run(Similarity.pqAdcTopK(pqCodes, emb30, pqCents, k = 3)))
    val ((ivfRows, ivfPlan), (pqRows, pqPlan)) = both()
    assert(ivfRows.nonEmpty && pqRows.nonEmpty)
    // both ADC joins broadcast (the third ivfPq broadcast is the residual
    // encode's coarse-centroid lookup); the code scan is never shuffled,
    // only the partial-sum reduce and the top-k window are
    assert(ivfPlan === ((3, 0, 2)))
    assert(pqPlan === ((1, 0, 2)))
    // a planner that sizes every frame over the broadcast threshold (as a
    // filtered batch of a large table is) plans the same joins
    val thresholds =
      Seq("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
    thresholds.foreach(spark.conf.set(_, "-1"))
    try assert(both() === (((ivfRows, ivfPlan), (pqRows, pqPlan))))
    finally thresholds.foreach(spark.conf.unset)
  }

  test("an over-budget ADC query batch fails loudly before the driver collect") {
    // 32 broadcast rows of 48 B per query: a 15 KiB budget affords 10 queries
    val budget = 10 * 32 * 48
    val e = intercept[IllegalArgumentException] {
      Similarity.adcBatch(emb.filter(col("vec_id") < 30), 32, "spec", budget)
    }
    assert(e.getMessage.contains("more than 10 queries at 32 broadcast rows each exceed"))
    val batch = Similarity.adcBatch(emb.filter(col("vec_id") < 10), 32, "spec", budget)
    assert(batch.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(batch.count() === 10)
  }

  test("k-means|| seeding and Lloyd persist no RDD") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val seeds = Similarity.kmeansParallelSeed(emb, 22, rounds = 3)
    assert(Similarity.lloydRefine(emb, seeds, rounds = 2).count() === 22)
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before === Set.empty)
  }

  test("seed ids and Lloyd centroids are pinned bit-equal") {
    import spark.implicits._
    // values of the checkpointed, lazily chained implementation that the
    // local seed and centroid tables replaced; a change to the arithmetic
    // or the tie-breaks moves them. sf0.001 is one input split, so the
    // per-cell sums run in one fixed order.
    val seeds = Similarity.kmeansParallelSeed(emb, 22, rounds = 3)
    assert(seeds.select("centroid_id").as[Long].collect().sorted.toSeq === Seq(
      0L, 44L, 52L, 77L, 81L, 98L, 128L, 152L, 227L, 251L, 263L, 288L, 308L, 310L, 342L,
      415L, 422L, 426L, 427L, 432L, 434L, 441L))
    val cents = Similarity.lloydRefine(emb, seeds, rounds = 2)
      .select(col("centroid_id"), Similarity.asDouble(col("embedding")))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val bits = cents.map { case (id, v) =>
      s"$id:" + v.map(x => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(x)))
        .mkString(",")
    }.mkString(";")
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(bits.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    assert(digest === "1342806c8cb9f697dd6ddc5191562010")
  }
}
