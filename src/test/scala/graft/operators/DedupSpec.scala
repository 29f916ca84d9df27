package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(sf("documents"))

  test("LSH candidates catch planted near-duplicates and never all pairs") {
    val n = docs.count()
    val verified = Dedup.verifiedPairs(docs)
    val rows = verified.collect()
    // Candidate set must be far below all-pairs.
    assert(rows.length < n * (n - 1) / 4)
    // Every candidate with jaccard ≥ 0.9 is a genuine near-dup; at least one
    // such pair is planted in the corpus at every scale factor.
    val high = rows.filter(_.getAs[Double]("jaccard") >= 0.9)
    assert(high.nonEmpty, "expected planted near-duplicates in candidates")
  }

  test("near-duplicates have close simhash, unrelated docs do not") {
    import spark.implicits._
    val withSim = docs
      .withColumn("toks", TextOps.tokenize(col("text")))
      .select(col("doc_id"), TextOps.simhash16(col("toks")).as("simhash"))
      .as[(Long, Int)]
      .collect()
      .toMap
    // deterministic pick: the strongest near-dup pair (head() on an
    // unsorted frame floats with plan changes)
    val pair = Dedup.verifiedPairs(docs)
      .filter(col("jaccard") >= 0.9)
      .orderBy(col("jaccard").desc, col("l_doc").asc, col("r_doc").asc)
      .select("l_doc", "r_doc")
      .as[(Long, Long)]
      .head()
    def hamming(a: Int, b: Int) = Integer.bitCount(a ^ b)
    assert(hamming(withSim(pair._1), withSim(pair._2)) <= 3)
  }

  test("jaccard of identical shingle sets is 1") {
    import spark.implicits._
    val df = Seq((Seq("a b c", "b c d"), Seq("b c d", "a b c"))).toDF("x", "y")
    val j = df.select(Dedup.jaccard(col("x"), col("y")).as("j")).as[Double].head()
    assert(j === 1.0)
  }

  test("simhash candidate pairs: exact dups at hamming 0, all pairs verified ≤ threshold, never all-pairs") {
    import spark.implicits._
    val synth = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // exact dup of 1
      (3L, "alpha beta gamma delta zeta"), // near dup: one token differs
      (4L, "totally different words here now indeed")
    ).toDF("doc_id", "text")
    val got = Dedup.simhashCandidatePairs(synth)
      .select("l_doc", "r_doc", "hamming")
      .as[(Long, Long, Int)].collect()
    val asMap = got.map(r => (r._1, r._2) -> r._3).toMap
    assert(asMap((1L, 2L)) === 0, s"exact dup must be hamming 0: $got")
    assert(got.forall(_._3 <= 3))
    // corpus-level: bounded candidates, all within the hamming threshold
    val n = docs.count()
    val corpus = Dedup.simhashCandidatePairs(docs).collect()
    assert(corpus.length < n * (n - 1) / 4, "must not approach all-pairs")
    assert(corpus.forall(_.getAs[Int]("hamming") <= 3))
    // identical docs collapse to one simhash → the hot-bucket cap applies
    val clones = (0L until 200L).map(i => (i, "same text every time")).toDF("doc_id", "text")
    val capped = Dedup.simhashCandidatePairs(clones, maxBucketSize = 16)
    // 16 reps pair with every later doc + rep-rep pairs: 16·184 + 120
    assert(capped.count() === 16L * 184 + 16 * 15 / 2)
  }

  test("connectedComponents resolves multi-hop chains, merges and cycles to min-id labels") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3), triangle 10-11-12 (cycle),
    // two components bridged late: {20,21} + {22,23} via (21,22)
    val pairs = Seq(
      (2L, 1L), (3L, 2L), (4L, 3L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L), (22L, 23L), (21L, 22L)
    ).toDF("l_id", "r_id")
    val comp = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("connectedComponents of an empty pair set is empty (no NPE on the fixpoint check)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("l_id", "r_id")
    assert(Dedup.connectedComponents(empty).count() === 0L)
    // dedupByComponent then keeps every doc as its own canonical
    val docs = Seq(5L, 6L).toDF("doc_id")
    val got = Dedup.dedupByComponent(docs, empty)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(got === Map(5L -> true, 6L -> true))
  }

  test("degenerate LSH bucket: pair output is linear in bucket size, reported, and keeps the component connected") {
    import spark.implicits._
    // 10^3 docs whose signatures all land in ONE hot bucket (plus a unique
    // per-doc bucket each, which contributes no pairs) — the boilerplate-
    // heavy-corpus shape that kills an uncapped self-join quadratically
    val cap = 64
    val n = 1000L
    val sigs = (0L until n).toDF("doc_id")
      .withColumn("bands", array(lit("hot"), concat(lit("u"), col("doc_id"))))
    // truncation is never silent: the overflow stats report the hot bucket
    assert(Dedup.bucketOverflow(sigs, maxBucketSize = cap) === ((1L, n - cap)))
    val pairs = Dedup.candidatePairs(sigs, maxBucketSize = cap)
    // representatives (the `cap` lowest ids) pair with every later doc:
    // cap·(n−cap) + cap·(cap−1)/2 — linear in n, NOT n·(n−1)/2
    val expected = cap * (n - cap) + cap.toLong * (cap - 1) / 2
    assert(pairs.count() === expected)
    // every dropped doc still reaches the component through representatives
    val (comp, rounds) = Dedup.connectedComponentsWithRounds(
      pairs.select(col("l_doc").as("l_id"), col("r_doc").as("r_id")))
    val labels = comp.select("component").distinct().as[Long].collect()
    assert(labels.toSeq === Seq(0L))
    assert(comp.count() === n)
    // star-ish topology (diameter ≤ 2 through doc 0): a handful of rounds
    assert(rounds <= 4, s"expected fast convergence, took $rounds rounds")
    // a bucket at the cap is untouched: full pair set for non-degenerate input
    val small = (0L until 10L).toDF("doc_id")
      .withColumn("bands", array(lit("b")))
    assert(Dedup.candidatePairs(small, maxBucketSize = cap).count() === 45L)
    assert(Dedup.bucketOverflow(small, maxBucketSize = cap) === ((0L, 0L)))
  }

  test("skew shadow: a 1024-node path component converges in O(log diameter) rounds") {
    import spark.implicits._
    // worst-case topology for label propagation: a path with the minimum id
    // at one end (diameter 1023). Pointer jumping must close it in
    // ~log2(1023) rounds, not ~1023.
    val nNodes = 1024L
    val pairs = (0L until nNodes - 1).map(i => (i, i + 1)).toDF("l_id", "r_id")
    val (comp, rounds) = Dedup.connectedComponentsWithRounds(pairs)
    assert(comp.select("component").distinct().as[Long].collect().toSeq === Seq(0L))
    assert(comp.count() === nNodes)
    val bound = math.ceil(math.log(nNodes - 1) / math.log(2)).toInt + 2
    info(s"connectedComponents: $rounds rounds for a ${nNodes - 1}-hop path (bound $bound)")
    assert(rounds <= bound, s"$rounds rounds for diameter ${nNodes - 1} (bound $bound)")
  }

  test("connectedComponents works for string ids (md5 doc hashes) — fixpoint needs no numeric cast") {
    import spark.implicits._
    // md5-style hex ids; component label is the lexicographic minimum
    val pairs = Seq(
      ("bbb", "aaa"), ("ccc", "bbb"),
      ("fff", "eee")
    ).toDF("l_id", "r_id")
    val comp = Dedup.connectedComponents(pairs)
      .as[(String, String)].collect().toMap
    assert(comp === Map(
      "aaa" -> "aaa", "bbb" -> "aaa", "ccc" -> "aaa",
      "eee" -> "eee", "fff" -> "eee"))
  }

  test("dedupByComponent keeps exactly one canonical doc per component, unpaired docs keep themselves") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 9L).toDF("doc_id") // 9 is in no pair
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("l_id", "r_id")
    val got = Dedup.dedupByComponent(docs, pairs)
      .select("doc_id", "component", "keep")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (9L, 9L, true)))
  }

  test("duplicatedSpans: overlapping grams merge, distant grams split, boundaries exact") {
    import spark.implicits._
    // A/B share an opening 5-gram and a closing 5-gram with unique middles
    // (two islands); C/D share a 6-token run = two overlapping grams (one
    // merged island each, at different offsets).
    val corpus = Seq(
      (1L, "p q r s t a1 a2 a3 a4 a5 a6 u v w x y"),
      (2L, "p q r s t b1 b2 b3 b4 b5 b6 u v w x y"),
      (3L, "c1 m n o p2 q2 r2 c2"),
      (4L, "d1 d2 m n o p2 q2 r2")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(corpus)
      .as[(Long, Int, Int, Int)].collect().sortBy(r => (r._1, r._2))
    assert(spans.toSeq === Seq(
      (1L, 1, 5, 1), (1L, 12, 16, 1),
      (2L, 1, 5, 1), (2L, 12, 16, 1),
      (3L, 2, 7, 2), (4L, 3, 8, 2)))
  }

  test("scrubDuplicatedSpans removes exactly the covered tokens") {
    import spark.implicits._
    val corpus = Seq(
      (3L, "c1 m n o p2 q2 r2 c2"),
      (4L, "d1 d2 m n o p2 q2 r2"),
      (5L, "nothing shared here at all")
    ).toDF("doc_id", "text")
    val got = Dedup.scrubDuplicatedSpans(corpus)
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(
      (3L, "c1 c2", 6), (4L, "d1 d2", 6),
      (5L, "nothing shared here at all", 0)))
  }

  test("span detection on the corpus: bounds sane and scrub accounting closes") {
    import spark.implicits._
    val n = 5
    val spans = Dedup.duplicatedSpans(docs)
      .as[(Long, Int, Int, Int)].collect()
    assert(spans.nonEmpty, "expected duplicated 5-grams in the planted corpus")
    spans.foreach { case (id, s, e, g) =>
      assert(s >= 1 && e - s + 1 >= n && g >= 1, s"span ($id,$s,$e,$g)")
      // a span of g grams covers at most g + n - 1 and at least n tokens
      assert(e - s + 1 <= g + n - 1, s"span ($id,$s,$e,$g) wider than its grams")
    }
    // scrub must remove exactly the union of span token ranges
    val removedBySpans = spans.groupBy(_._1).map { case (id, ss) =>
      id -> ss.flatMap { case (_, s, e, _) => s to e }.distinct.size
    }
    val scrub = Dedup.scrubDuplicatedSpans(docs)
      .select("doc_id", "n_removed").as[(Long, Int)].collect().toMap
    removedBySpans.foreach { case (id, exp) =>
      assert(scrub(id) === exp, s"doc $id removed ${scrub(id)} != span cover $exp")
    }
    assert(scrub.values.count(_ > 0) === removedBySpans.size)
  }

  test("setSimilarityJoin finds exactly the brute-force Jaccard pairs (no prefix-filter false negatives)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 40 docs: pairs (2k, 2k+1) are near-identical, everything else disjoint
    val docs = (0 until 40).map { i =>
      val base = (0 until 30).map(j => s"w${i / 2}_$j")
      val text = if (i % 2 == 1) (base.dropRight(2) :+ s"x$i" :+ s"y$i").mkString(" ")
                 else base.mkString(" ")
      (i.toLong, text)
    }.toDF("doc_id", "text").repartition(7)

    val got = Dedup.setSimilarityJoin(docs, theta = 0.5, shingle = 3)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet

    // brute force over all pairs on the same shingle sets
    val sets = docs.select($"doc_id",
        TextOps.shingles(TextOps.tokenize($"text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().map { case (id, sh) => id -> sh.toSet }
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      i = (sa intersect sb).size.toDouble
      j = i / (sa.size + sb.size - i) if j >= 0.5
    } yield (a, b)).toSet
    assert(got == want)
    assert(want.size == 20, s"planted 20 near-dup pairs, found ${want.size}")
  }

  test("containmentJoin finds exactly the brute-force containment pairs, incl. low-Jaccard quotes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // pages p: 200 tokens; quotes q: tokens 50..79 of page p — containment
    // of quote-in-page = 1.0 while Jaccard ≈ 0.14 (the pair the symmetric
    // join must NOT and the containment join MUST find); unrelated docs
    // are shingle-disjoint
    val docs = ((0 until 6).map { p =>
      (p.toLong, (0 until 200).map(j => s"p${p}_$j").mkString(" "))
    } ++ (0 until 6).map { p =>
      (100L + p, (50 until 80).map(j => s"p${p}_$j").mkString(" "))
    } ++ Seq((900L, (0 until 50).map(j => s"z$j").mkString(" "))))
      .toDF("doc_id", "text").repartition(5)

    val got = Dedup.containmentJoin(docs, theta = 0.8, shingle = 3)
      .as[(Long, Long, Double)].collect()
    val gotPairs = got.map(r => (r._1, r._2)).toSet

    val sets = docs.select($"doc_id",
        TextOps.shingles(TextOps.tokenize($"text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().map { case (id, sh) => id -> sh.toSet }
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a != b
      c = (sa intersect sb).size.toDouble / sa.size if c >= 0.8
    } yield (a, b)).toSet
    assert(gotPairs == want)
    // each quote is contained in its page with containment exactly 1.0,
    // and never the reverse (page in quote) nor in any other page
    (0 until 6).foreach { p =>
      assert(gotPairs.contains((100L + p, p.toLong)))
      assert(!gotPairs.contains((p.toLong, 100L + p)))
    }
    assert(got.filter(r => r._1 >= 100 && r._1 < 200).forall(_._3 == 1.0))
    // ...while the symmetric Jaccard join at the same theta finds none
    val sym = Dedup.setSimilarityJoin(docs, theta = 0.8, shingle = 3).count()
    assert(sym == 0, s"quote/page pairs must be invisible to Jaccard: $sym")
  }

  test("containmentJoin physical shapes agree: auto byte gate, forced row gate, forced fallback") {
    import spark.implicits._
    // the gate only picks a physical verification shape — all three
    // settings (auto byte-derived, legacy positive row gate, negative =
    // forced shuffle fallback) must return identical pair sets and scores
    val docs = ((0 until 4).map { p =>
      (p.toLong, (0 until 120).map(j => s"g${p}_$j").mkString(" "))
    } ++ (0 until 4).map { p =>
      (50L + p, (30 until 60).map(j => s"g${p}_$j").mkString(" "))
    }).toDF("doc_id", "text").repartition(3)
    def run(gate: Long) =
      Dedup.containmentJoin(docs, theta = 0.8, shingle = 3,
        maxBroadcastPairs = gate)
        .as[(Long, Long, Double)].collect().toSet
    val auto = run(0L)
    assert(auto == run(1000000L), "auto vs row gate")
    assert(auto == run(-1L), "auto vs forced fallback")
    assert(auto.map(p => (p._1, p._2)) ==
      (0 until 4).map(p => (50L + p, p.toLong)).toSet)
  }

  test("containmentJoin prefix bound survives theta doubles that round above the decimal") {
    import spark.implicits._
    // theta = 0.07: the nearest double is 0.07000…000666, so 0.07*100
    // evaluates to 7.000000000000001 and a plain ceil gives 8 — one prefix
    // slot too few. Craft the exact miss: A has 100 distinct tokens, the 7
    // shared with B all have df=2 and therefore sort LAST in the
    // rarity-ordered prefix; a 93-token prefix holds only the unshared
    // tokens and the boundary pair (containment exactly 7/100 = theta)
    // vanishes. The epsilon-ceil bound (94) must keep it.
    val aTokens = (0 until 93).map(i => f"u$i%02d") ++ (0 until 7).map(i => s"s$i")
    val bTokens = (0 until 7).map(i => s"s$i") ++ (0 until 100).map(i => f"b$i%02d")
    val docs = Seq(
      (1L, aTokens.mkString(" ")),
      (2L, bTokens.mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.containmentJoin(docs, theta = 0.07, shingle = 1)
      .as[(Long, Long, Double)].collect().toSet
    // A-in-B sits exactly on the threshold and must be found; B-in-A is
    // 7/107 < theta and must not
    assert(got.map(p => (p._1, p._2)) == Set((1L, 2L)), s"got $got")
    assert(got.head._3 == 7.0 / 100)
  }

  // pages 0..5 + their embedded quotes 100..105 (containment 1.0) + a
  // loner. Batch = quotes 100..102 AND page 3 — so the planted pairs cross
  // BOTH ways: quotes 100..102 are new_in_ref (new quote of an old page),
  // quote 103 in the ref quotes page 3 in the batch (ref_in_new). Quotes
  // 104/105 and pages 0..2,4,5 pair only within the ref side and must NOT
  // appear. Returns (all, batch, ref).
  private def quotePages() = {
    import spark.implicits._
    val all = ((0 until 6).map { p =>
      (p.toLong, (0 until 200).map(j => s"p${p}_$j").mkString(" "))
    } ++ (0 until 6).map { p =>
      (100L + p, (50 until 80).map(j => s"p${p}_$j").mkString(" "))
    } ++ Seq((900L, (0 until 50).map(j => s"z$j").mkString(" "))))
      .toDF("doc_id", "text").repartition(5)
    val isBatch = col("doc_id").isin(100L, 101L, 102L, 3L)
    (all, all.filter(isBatch), all.filter(!isBatch))
  }
  private val plantedQuotes = Set(
    (100L, 0L, "new_in_ref"), (101L, 1L, "new_in_ref"),
    (102L, 2L, "new_in_ref"), (103L, 3L, "ref_in_new"))

  test("incrementalContainmentJoin ≡ full containmentJoin restricted to cross pairs, both directions") {
    import spark.implicits._
    val (all, batch, ref) = quotePages()
    val art = Dedup.containmentArtifact(ref, minTheta = 0.8, shingle = 3)

    val got = Dedup
      .incrementalContainmentJoin(batch, art, theta = 0.8, shingle = 3)
      .as[(Long, Long, Double, String)].collect().toSet
    // oracle: the full-corpus join restricted to cross pairs
    val batchIds = Set(100L, 101L, 102L, 3L)
    val want = Dedup.containmentJoin(all, theta = 0.8, shingle = 3)
      .as[(Long, Long, Double)].collect()
      .filter(r => batchIds.contains(r._1) != batchIds.contains(r._2))
      .map(r => (r._1, r._2, r._3,
        if (batchIds.contains(r._1)) "new_in_ref" else "ref_in_new"))
      .toSet
    assert(got == want, s"got $got want $want")
    // the planted structure itself, as a second, independent check
    assert(got.map(r => (r._1, r._2, r._4)) == plantedQuotes)
    assert(got.forall(_._3 == 1.0))
  }

  test("incrementalContainmentJoin builds lazily: one job (the min_theta check), nothing left persisted") {
    import spark.implicits._
    val sc = spark.sparkContext
    val (_, batch, ref) = quotePages()
    val art = Dedup.containmentArtifact(ref, minTheta = 0.8, shingle = 3)
    // a published artifact in one file: the min_theta take(1) is one scan
    val dir = graft.core.TempRoot.jvm.dir("cart-lazy").toString
    art.coalesce(1).write.parquet(s"$dir/art.parquet")
    val artDisk = spark.read.parquet(s"$dir/art.parquet")
    // start from an empty cache: earlier tests share this session
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    val group = "incremental-containment-build"
    sc.setJobGroup(group, "build incrementalContainmentJoin")
    val built =
      try Dedup.incrementalContainmentJoin(batch, artDisk, theta = 0.8, shingle = 3)
      finally sc.clearJobGroup()
    org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
    val buildJobs = sc.statusTracker.getJobIdsForGroup(group)
    assert(buildJobs.length == 1, s"jobs while building: ${buildJobs.toSeq}")

    // executing over an unpersisted, live artifact leaves no cache behind
    val got = Dedup.incrementalContainmentJoin(batch, art, theta = 0.8, shingle = 3)
      .as[(Long, Long, Double, String)].collect().toSet
    assert(got.map(r => (r._1, r._2, r._4)) == plantedQuotes)
    assert(got == built.as[(Long, Long, Double, String)].collect().toSet)
    assert(spark.sharedState.cacheManager.isEmpty, "cache manager holds frames")
    assert(sc.getPersistentRDDs.isEmpty, s"persisted RDDs: ${sc.getPersistentRDDs}")
  }

  test("incrementalContainmentJoin: physical shapes agree; artifact serves θ ≥ min_theta; parquet roundtrip") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val all = ((0 until 4).map { p =>
      (p.toLong, (0 until 120).map(j => s"g${p}_$j").mkString(" "))
    } ++ (0 until 4).map { p =>
      (50L + p, (30 until 60).map(j => s"g${p}_$j").mkString(" "))
    }).toDF("doc_id", "text").repartition(3)
    val batch = all.filter(col("doc_id") >= 50)
    val ref = all.filter(col("doc_id") < 50)
    // artifact built at a LOWER threshold than the query: its prefix
    // flags are a superset of the θ=0.8 prefixes, so the result must be
    // identical to one built at 0.8 — one artifact serves many thetas
    val artLoose = Dedup.containmentArtifact(ref, minTheta = 0.5, shingle = 3)
    // ... and it survives the real publish path: parquet out, read back
    val dir = java.nio.file.Files.createTempDirectory("cart").toString
    artLoose.write.mode("overwrite").parquet(s"$dir/art.parquet")
    val artDisk = spark.read.parquet(s"$dir/art.parquet")

    // the result set and the executed plan, final once df itself has run
    def runPlan(art: org.apache.spark.sql.DataFrame) = {
      val df = Dedup.incrementalContainmentJoin(batch, art, theta = 0.8, shingle = 3)
      (df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
        .toSet, df.queryExecution.executedPlan.toString)
    }
    def run(art: org.apache.spark.sql.DataFrame) = runPlan(art)._1
    val (auto, autoPlan) = runPlan(artLoose)
    assert(auto.map(r => (r._1, r._2)) ==
      (0 until 4).map(p => (50L + p, p.toLong)).toSet)
    assert(auto.forall(_._4 == "new_in_ref"))
    assert(autoPlan.contains("isFinalPlan=true"), autoPlan)
    assert(autoPlan.contains("BroadcastHashJoin"), autoPlan)
    // no broadcast, static or adaptive: every join plans as a sort-merge join
    val noBroadcast = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = noBroadcast.map(k => k -> spark.conf.getOption(k))
    val (sortMerge, sortMergePlan) =
      try {
        noBroadcast.foreach(spark.conf.set(_, "-1"))
        runPlan(artLoose)
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    assert(sortMergePlan.contains("isFinalPlan=true"), sortMergePlan)
    assert(!sortMergePlan.contains("BroadcastHashJoin"), sortMergePlan)
    assert(auto == sortMerge, "default joins vs sort-merge-only joins")
    assert(auto == run(artDisk), "in-memory vs parquet-roundtripped artifact")
    assert(auto == run(Dedup.containmentArtifact(ref, minTheta = 0.8, shingle = 3)),
      "loose-theta artifact vs exact-theta artifact")
    // querying BELOW the artifact's build threshold must fail loudly —
    // the stored prefix flags no longer cover all qualifying pairs
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalContainmentJoin(batch, artLoose, theta = 0.4)
    }
    assert(e.getMessage.contains("build threshold"))
  }

  test("imagePHashPairs finds exactly the brute-force Hamming pairs; banding exact at the boundary") {
    import spark.implicits._
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    import org.apache.spark.sql.{Encoders, Row}
    // 9×8 gray BMPs (the dHash grid size → downsample is identity). For
    // group g, doc 10g is a base pattern and doc 10g+1 the same image
    // with the LAST pixel of rows 0..g-1 adjusted — pixel (r,8) feeds
    // exactly dHash bit (r,7), so the planted pair's Hamming is exactly
    // g: 0..3 must be found at maxHamming=3 (g=3 is the boundary the
    // pigeonhole banding must not miss), g=4 must not.
    def bmp(px: Array[Array[Int]]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(54 + 28 * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(54 + 28 * 8)
        .putShort(0).putShort(0).putInt(54)
      bb.putInt(40).putInt(9).putInt(8).putShort(1).putShort(24)
        .putInt(0).putInt(28 * 8).putInt(0).putInt(0).putInt(0).putInt(0)
      (7 to 0 by -1).foreach { r =>
        px(r).foreach(v => bb.put(v.toByte).put(v.toByte).put(v.toByte))
        bb.put(0.toByte) // 27 → 28 stride pad
      }
      bb.array()
    }
    def luma(seed: Long, r: Int, c: Int): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$r:$c".getBytes("UTF-8"))
      1 + ((d(0) & 0xff) % 254)
    }
    val images: Seq[(Long, Array[Byte])] = (0 until 5).flatMap { g =>
      val base = Array.tabulate(8, 9)((r, c) => luma(g, r, c))
      val twin = base.map(_.clone())
      (0 until g).foreach { r =>
        twin(r)(8) = if (twin(r)(7) < twin(r)(8)) 0 else 255
      }
      Seq((10L * g, bmp(base)), (10L * g + 1, bmp(twin)))
    } :+ (999L, Array[Byte](1, 2, 3)) // undecodable row must be skipped
    val enc = Encoders.row(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = false))))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(images.map { case (i, b) => Row(i, b) }, 3),
      enc.schema)

    val got = Dedup.imagePHashPairs(media, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet

    // brute force over the scalar kernel: every decodable pair, exact xor
    val hashes = images.flatMap { case (i, b) =>
      Multimodal.dHash64(b).map(i -> _)
    }
    val want = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d)).toSet
    assert(got === want)
    (0 to 3).foreach(g => assert(got.contains((10L * g, 10L * g + 1, g)), s"g=$g"))
    assert(!got.exists(p => p._1 == 40L && p._2 == 41L), "Hamming 4 must be out")
  }

  test("imagePHash128Pairs finds exactly the brute-force Hamming pairs; 32-bit banding exact at the boundary") {
    import spark.implicits._
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    import org.apache.spark.sql.{Encoders, Row}
    // 17×8 gray BMPs (the dHash128 grid size → downsample is identity).
    // For group g, doc 10g is a base pattern and doc 10g+1 the same
    // image with the LAST pixel of rows 0..g-1 adjusted — pixel (r,16)
    // feeds exactly dHash128 bit (r,15), so the planted pair's Hamming
    // is exactly g: 0..3 must be found at maxHamming=3 (g=3 is the
    // pigeonhole boundary for 4 bands), g=4 must not.
    def bmp(px: Array[Array[Int]]): Array[Byte] = {
      val stride = (17 * 3 + 3) & ~3 // 52
      val bb = java.nio.ByteBuffer.allocate(54 + stride * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(54 + stride * 8)
        .putShort(0).putShort(0).putInt(54)
      bb.putInt(40).putInt(17).putInt(8).putShort(1).putShort(24)
        .putInt(0).putInt(stride * 8).putInt(0).putInt(0).putInt(0).putInt(0)
      (7 to 0 by -1).foreach { r =>
        px(r).foreach(v => bb.put(v.toByte).put(v.toByte).put(v.toByte))
        (17 * 3 until stride).foreach(_ => bb.put(0.toByte))
      }
      bb.array()
    }
    def luma(seed: Long, r: Int, c: Int): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"w$seed:$r:$c".getBytes("UTF-8"))
      1 + ((d(0) & 0xff) % 254)
    }
    val images: Seq[(Long, Array[Byte])] = (0 until 5).flatMap { g =>
      val base = Array.tabulate(8, 17)((r, c) => luma(g, r, c))
      val twin = base.map(_.clone())
      (0 until g).foreach { r =>
        twin(r)(16) = if (twin(r)(15) < twin(r)(16)) 0 else 255
      }
      Seq((10L * g, bmp(base)), (10L * g + 1, bmp(twin)))
    } :+ (999L, Array[Byte](1, 2, 3)) // undecodable row must be skipped
    val enc = Encoders.row(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = false))))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(images.map { case (i, b) => Row(i, b) }, 3),
      enc.schema)

    val got = Dedup.imagePHash128Pairs(media, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet

    // brute force over the scalar kernel: every decodable pair, exact xor
    val hashes = images.flatMap { case (i, b) =>
      Multimodal.dHash128(b).map(i -> _)
    }
    val want = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      d = java.lang.Long.bitCount(ha(0) ^ hb(0)) +
        java.lang.Long.bitCount(ha(1) ^ hb(1))
      if d <= 3
    } yield (a, b, d)).toSet
    assert(got === want)
    (0 to 3).foreach(g => assert(got.contains((10L * g, 10L * g + 1, g)), s"g=$g"))
    assert(!got.exists(p => p._1 == 40L && p._2 == 41L), "Hamming 4 must be out")
  }

  test("audioPHashPairs finds exactly the brute-force Hamming pairs; sample-hash dedup sees through containers") {
    import spark.implicits._
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    import org.apache.spark.sql.{Encoders, Row}
    // WAVs whose 65 constant-amplitude blocks REALISE a chosen 64-bit
    // envelope pattern (walk: ±10 per bit) — so planted Hamming is exact
    // bit arithmetic. For group g, doc 10g realises pattern p(g) and doc
    // 10g+1 realises p(g) with g distinct bits flipped, in a junk-chunk
    // container: Hamming exactly g; 0..3 in at maxHamming=3 (g=3 is the
    // pigeonhole boundary at 4 bands), g=4 out. g=0's twin is also the
    // exact-dup case: identical samples, different bytes.
    def wavOf(pattern: Long, junk: Boolean): Array[Byte] = {
      import java.nio.{ByteBuffer, ByteOrder}
      val amps = new Array[Int](65)
      amps(0) = 1000
      (0 until 64).foreach { k =>
        amps(k + 1) =
          if (((pattern >>> k) & 1L) == 1L) amps(k) + 10 else amps(k) - 10
      }
      val dataBytes = 65 * 2 * 2
      val junkBytes = if (junk) 12 else 0
      val bb = ByteBuffer.allocate(44 + junkBytes + dataBytes)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + junkBytes + dataBytes)
        .put("WAVE".getBytes("US-ASCII"))
      if (junk) bb.put("JUNK".getBytes("US-ASCII")).putInt(4).putInt(0)
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(16000)
        .putInt(32000).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataBytes)
      amps.foreach(a => { bb.putShort(a.toShort); bb.putShort(a.toShort) })
      bb.array()
    }
    def pat(seed: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ap$seed".getBytes("UTF-8"))
      (0 until 8).foldLeft(0L)((acc, i) => acc | ((d(i) & 0xffL) << (8 * i)))
    }
    val recs: Seq[(Long, Array[Byte])] = (0 until 5).flatMap { g =>
      val base = pat(g)
      // flip g distinct bits spread across bands (bits 3, 19, 35, 51)
      val twin = (0 until g).foldLeft(base)((p, j) => p ^ (1L << (3 + 16 * j)))
      Seq((10L * g, wavOf(base, junk = false)), (10L * g + 1, wavOf(twin, junk = true)))
    } :+ (999L, Array[Byte](1, 2, 3)) // undecodable row must be skipped
    val enc = Encoders.row(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("content", BinaryType, nullable = false))))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(recs.map { case (i, b) => Row(i, b) }, 3),
      enc.schema)

    val got = Dedup.audioPHashPairs(media, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    // brute force over the scalar kernel: every decodable pair, exact xor
    val fps = recs.flatMap { case (i, b) =>
      Multimodal.audioFingerprint64(b).map(i -> _)
    }
    val want = (for {
      (a, ha) <- fps; (b, hb) <- fps if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d)).toSet
    assert(got === want)
    (0 to 3).foreach(g => assert(got.contains((10L * g, 10L * g + 1, g)), s"g=$g"))
    assert(!got.exists(p => p._1 == 40L && p._2 == 41L), "Hamming 4 must be out")

    // exact sample-hash dedup: the g=0 twins decode identically despite
    // differing bytes; every other decodable pair differs
    val hashes = Dedup.audioSampleHashes(media)
      .as[(Long, Long)].collect().toMap
    assert(hashes(0L) == hashes(1L), "container-crossing exact dup missed")
    assert(!recs.exists { case (i, _) => i == 999L && hashes.contains(i) },
      "undecodable row must be skipped")
    assert(hashes(10L) != hashes(11L), "g=1 twins differ in the last block")
  }

  test("incrementalNearDup pairs the new batch against the reference only") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val body = (0 until 40).map(j => s"tok$j").mkString(" ")
    val ref = Seq(
      (1L, body), (2L, body + " tail tail2 tail3"),           // ref near-dups of each other
      (3L, (100 until 140).map(j => s"z$j").mkString(" "))
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, body + " extra"),                                  // dup of ref 1/2
      (11L, (200 until 240).map(j => s"q$j").mkString(" "))    // novel
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalNearDup(
      Dedup.signatures(fresh), Dedup.signatures(ref), threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val pairs = got.map(r => (r._1, r._2)).toSet
    assert(pairs.contains((10L, 1L)), s"new near-dup must hit its ref twin: $pairs")
    assert(got.forall(r => Set(10L, 11L).contains(r._1)), "left side must be new ids only")
    assert(got.forall(r => Set(1L, 2L, 3L).contains(r._2)), "right side must be ref ids only")
    assert(!pairs.exists(p => p._1 == 11L), "novel doc matches nothing")
    assert(got.forall(_._3 >= 0.5))
  }
}
