package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

class StreamingOpsSpec extends SparkSpec {

  private def ts(min: Int): Timestamp = new Timestamp(min * 60L * 1000L)

  test("session_window sessionization closes sessions at the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val events = input.toDF().toDF("user_id", "ts", "value")

    val q = StreamingOps
      .sessionizeStream(events, gap = "10 minutes", watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append)
      .start()

    // user 1: two events 5 min apart (one session), then one 30 min later
    input.addData((1L, ts(0), 1.0), (1L, ts(5), 2.0), (1L, ts(35), 3.0))
    q.processAllAvailable()
    // advance watermark far enough to close all sessions
    input.addData((99L, ts(500), 0.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.sql("SELECT user_id, n_events, value_sum FROM sessions WHERE user_id = 1")
      .as[(Long, Long, Double)].collect().sortBy(_._3)
    assert(rows.length === 2)
    assert(rows(0) === ((1L, 2L, 3.0))) // session of two events
    assert(rows(1) === ((1L, 1L, 3.0))) // the isolated event
  }

  test("mapGroupsWithState carries running aggregates across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingOps.StudyEvent]
    val q = StreamingOps.runningStudyStats(input.toDS())
      .writeStream.format("memory").queryName("study_stats")
      .outputMode(OutputMode.Update)
      .start()

    input.addData(StreamingOps.StudyEvent("S1", 1.0), StreamingOps.StudyEvent("S1", 3.0))
    q.processAllAvailable()
    input.addData(StreamingOps.StudyEvent("S1", 5.0))
    q.processAllAvailable()
    q.stop()

    val last = spark.sql("SELECT n, meanBeta FROM study_stats WHERE studyId = 'S1' ORDER BY n DESC LIMIT 1")
      .as[(Long, Double)].head()
    assert(last === ((3L, 3.0))) // state survived: (1+3+5)/3
  }

  test("file-source streaming ingest picks up new files with declared schema") {
    import spark.implicits._
    val dir = graft.core.TempRoot.jvm.dir("graft-stream").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("studyId", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("beta", org.apache.spark.sql.types.DoubleType)
    ))
    Seq(("S1", 0.5), ("S2", -0.1)).toDF("studyId", "beta")
      .write.parquet(s"$dir/batch1")
    val q = StreamingOps
      .streamTable(spark, s"$dir/*", schema)
      .writeStream.format("memory").queryName("ingest")
      .outputMode(OutputMode.Append)
      .start()
    q.processAllAvailable()
    q.stop()
    assert(spark.sql("SELECT count(*) FROM ingest").head().getLong(0) === 2L)
  }

  test("streaming dedup drops repeated content hashes within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 10:05:00")
    val docs = input.toDF().toDF("content_hash", "ts")
    val q = StreamingOps
      .dedupStream(docs, Seq("content_hash"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append)
      .start()
    input.addData(("h1", t0), ("h2", t0), ("h1", t1))
    q.processAllAvailable()
    input.addData(("h1", t1), ("h3", t1))
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT content_hash FROM dedup_out")
      .as[String].collect().sorted
    // h1's two repeats are dropped inside the watermark horizon
    assert(out.toSeq === Seq("h1", "h2", "h3"))
  }

  test("contamination scoring runs unchanged on a document stream (stream-static broadcast probe)") {
    import graft.operators.TextOps
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    // static benchmark: its distinct-gram set is a one-row static frame, so
    // the per-batch plan is a broadcast probe with no streaming state at all
    val benchmark = Seq("alpha beta gamma delta epsilon").toDF("text")
    val q = TextOps.contaminationScoresPerRow(docs, benchmark, n = 5)
      .writeStream.format("memory").queryName("contam_out")
      .outputMode(OutputMode.Append)
      .start()
    input.addData(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven"))
    q.processAllAvailable()
    input.addData((3L, "alpha beta gamma delta epsilon"))
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT doc_id, n_matched, contamination FROM contam_out")
      .as[(Long, Int, Double)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((1L, 1, 0.25), (2L, 0, 0.0), (3L, 1, 1.0)))
  }

  test("streaming near-dup candidates pair each arrival against its bucket exactly once") {
    import graft.streaming.StreamingOps.{BandedDoc, CandidatePair}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[BandedDoc]
    val q = StreamingOps.nearDupCandidatesStream(input.toDS())
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode(OutputMode.Append)
      .start()
    // batch 1: docs 1 and 2 share bucket (0,"a"); doc 3 alone in (1,"b")
    input.addData(BandedDoc(0, "a", 1L), BandedDoc(0, "a", 2L), BandedDoc(1, "b", 3L))
    q.processAllAvailable()
    // batch 2: doc 4 joins bucket (0,"a") → pairs with 1 and 2 (state carried);
    // doc 1 re-arrives (second band of the same doc) → no self-pair
    input.addData(BandedDoc(0, "a", 4L), BandedDoc(0, "a", 1L))
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT * FROM neardup_out")
      .as[CandidatePair].collect().map(p => (p.lDoc, p.rDoc)).sorted
    assert(out.toSeq === Seq((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("blocklist and chunking run unchanged on a document stream (stateless projections)") {
    import graft.operators.TextOps
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = TextOps.chunkTokens(TextOps.blocklistFlags(docs, Seq("bad")).filter(!col("blocked")),
      window = 3, stride = 3)
      .writeStream.format("memory").queryName("chunk_out")
      .outputMode(OutputMode.Append)
      .start()
    input.addData((1L, "one two three four"), (2L, "very bad words here"))
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT doc_id, chunk_no, n_tokens FROM chunk_out")
      .as[(Long, Int, Int)].collect().sorted
    // doc 2 blocked upstream; doc 1 → two chunks (3 + 1 tokens)
    assert(out.toSeq === Seq((1L, 0, 3), (1L, 1, 1)))
  }

  test("near-dup state TTL: timed-out buckets are evicted and set no new timer") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import graft.streaming.StreamingOps.{BandedDoc, BucketState}
    val update = StreamingOps.bucketUpdate(64, Some("1 second")) _

    // expiry callback: state removed, nothing emitted
    val expired = TestGroupState.create[BucketState](
      Optional.of(BucketState(List(1L, 2L))),
      GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long], hasTimedOut = true)
    assert(update((0, "a"), Iterator.empty, expired).isEmpty)
    assert(expired.isRemoved)

    // live path: arrivals pair against retained docs and re-arm the timer
    val live = TestGroupState.create[BucketState](
      Optional.of(BucketState(List(1L))),
      GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long], hasTimedOut = false)
    val pairs = update((0, "a"), Iterator(BandedDoc(0, "a", 4L)), live).toSeq
    assert(pairs.map(p => (p.lDoc, p.rDoc)) === Seq((1L, 4L)))
    assert(live.get.docIds.toSet === Set(1L, 4L))
    assert(live.getTimeoutTimestampMs.isPresent,
      "processing a live bucket must re-arm the TTL timer")

    // a post-expiry arrival sees an EMPTY bucket: no pairs, state restarts
    val fresh = TestGroupState.create[BucketState](
      Optional.empty[BucketState](),
      GroupStateTimeout.ProcessingTimeTimeout,
      2000L, Optional.empty[Long], hasTimedOut = false)
    assert(update((0, "a"), Iterator(BandedDoc(0, "a", 3L)), fresh).isEmpty)
    assert(fresh.get.docIds === List(3L))
  }

  test("event-time TTL live: a replayed bucket is evicted once the watermark passes its horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps.BandedDocTs
    val input = MemoryStream[BandedDocTs]
    val q = StreamingOps
      .nearDupCandidatesStreamEventTime(
        input.toDS(),
        stateTtl = java.time.Duration.ofMinutes(30),
        watermark = "0 seconds")
      .writeStream.format("memory").queryName("ettl_out")
      .outputMode(OutputMode.Append)
      .start()
    // event times start well above epoch: a row whose ts ≤ the initial
    // watermark (0) is dropped as late before the operator ever sees it
    def doc(id: Long, min: Int) = BandedDocTs(0, "bucket", id, ts(min))
    // batch 1: two docs co-bucketed at t=60min → one pair,
    // timer = last activity (60min) + ttl (30min) = 90min
    input.addData(doc(1L, 60), doc(2L, 60))
    q.processAllAvailable()
    // batch 2: a FOREIGN bucket far in event time advances the watermark
    // past the hot bucket's 90-minute horizon
    input.addData(BandedDocTs(7, "elsewhere", 99L, ts(200)))
    q.processAllAvailable()
    // batch 3: (no data for the hot bucket) — the engine fires its timeout:
    // state evicted. A later replayed arrival sees an EMPTY bucket.
    input.addData(BandedDocTs(7, "elsewhere", 98L, ts(201)))
    q.processAllAvailable()
    // batch 4: doc 3 lands in the (now evicted) hot bucket → NO pair vs 1/2
    input.addData(doc(3L, 205))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.sql("SELECT lDoc, rDoc FROM ettl_out")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"pre-expiry pair missing: $pairs")
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L),
      s"doc 3 must see an evicted (empty) bucket: $pairs")
  }

  test("event-time TTL: bucket timer follows the watermark, expiry evicts via watermark advance") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import graft.streaming.StreamingOps.{BandedDocTs, BucketState}
    val ttlMs = 5000L
    val update = StreamingOps.bucketUpdateEventTime(64, ttlMs) _
    def doc(id: Long, tsMs: Long) =
      BandedDocTs(0, "a", id, new java.sql.Timestamp(tsMs))

    // live path: the timeout timestamp is LAST ACTIVITY (max event time,
    // floored at the watermark) + ttl — event time, not the processing
    // clock (batchProcessingTimeMs is deliberately huge)
    val live = TestGroupState.create[BucketState](
      Optional.of(BucketState(List(1L))),
      GroupStateTimeout.EventTimeTimeout,
      /* batchProcessingTimeMs = */ 999999999L,
      /* eventTimeWatermarkMs = */ Optional.of(1000L),
      hasTimedOut = false)
    val pairs = update((0, "a"), Iterator(doc(4L, 1500L)), live).toSeq
    assert(pairs.map(p => (p.lDoc, p.rDoc)) === Seq((1L, 4L)))
    assert(live.getTimeoutTimestampMs.get() === 1500L + ttlMs,
      "timer must be last event-time activity + ttl (data-driven expiry)")
    // a lagging row (ts below the watermark) floors the timer at the
    // watermark, which Spark requires the timer to sit above
    val lagging = TestGroupState.create[BucketState](
      Optional.of(BucketState(List(1L))),
      GroupStateTimeout.EventTimeTimeout,
      999999999L, Optional.of(2000L), hasTimedOut = false)
    update((0, "a"), Iterator(doc(5L, 1200L)), lagging).toSeq
    assert(lagging.getTimeoutTimestampMs.get() === 2000L + ttlMs)

    // watermark advance past the timer → engine fires the timeout path:
    // state evicted, nothing emitted, no new timer armed
    val expired = TestGroupState.create[BucketState](
      Optional.of(BucketState(List(1L, 4L))),
      GroupStateTimeout.EventTimeTimeout,
      999999999L, Optional.of(1000L + ttlMs + 1), hasTimedOut = true)
    assert(update((0, "a"), Iterator.empty, expired).isEmpty)
    assert(expired.isRemoved)

    // post-expiry replay arrival: empty bucket, no stale pairs
    val fresh = TestGroupState.create[BucketState](
      Optional.empty[BucketState](),
      GroupStateTimeout.EventTimeTimeout,
      999999999L, Optional.of(7000L), hasTimedOut = false)
    assert(update((0, "a"), Iterator(doc(9L, 7500L)), fresh).isEmpty)
    assert(fresh.get.docIds === List(9L))
    assert(fresh.getTimeoutTimestampMs.get() === 7500L + ttlMs)
  }

  test("streaming ANN top-k against a static IVF corpus matches the batch twin") {
    import graft.operators.Similarity
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.8f, 0.3f)),
      (3L, Array(0f, 1f)), (4L, Array(0.1f, 0.9f)), (5L, Array(0.3f, 0.8f))
    ).toDF("vec_id", "embedding")
    val centroids = Seq((100L, Array(1f, 0f)), (101L, Array(0f, 1f)))
      .toDF("centroid_id", "embedding")
    val assigned = Similarity.ivfAssign(corpus, centroids)
    val input = MemoryStream[(Long, Array[Float])]
    val queries = input.toDF().toDF("vec_id", "embedding")
    val q = StreamingOps.annTopKStream(queries, assigned, centroids, k = 2)
      .writeStream.format("memory").queryName("ann_out")
      .outputMode(OutputMode.Append)
      .start()
    input.addData((1000L, Array(1f, 0.05f)))
    q.processAllAvailable()
    // second batch probes the other cell — assignment and join re-run
    // per batch against the same static frame
    input.addData((1001L, Array(0.05f, 1f)))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT qId, neighborId, cos FROM ann_out")
      .as[(Long, Long, Double)].collect().sorted.toSeq
    // batch twin over the same frames: the queries sit in distinct cells,
    // so union + predicate reproduces the stream-static candidate sets
    val queryDf = Seq((1000L, Array(1f, 0.05f)), (1001L, Array(0.05f, 1f)))
      .toDF("vec_id", "embedding")
    val expected = Similarity.annTopK(
        assigned.unionByName(Similarity.ivfAssign(queryDf, centroids)),
        col("vec_id") >= 1000L, k = 2)
      .select("q_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(got === expected)
    assert(got.map(_._1).distinct === Seq(1000L, 1001L))
    assert(got.count(_._1 == 1000L) === 2 && got.count(_._1 == 1001L) === 2)
    // the oracle surface: the dedicated batch twin (same candidate plan,
    // window-ranked) must reproduce the stream output exactly
    val twin = StreamingOps.annTopKStreamTwin(queryDf, assigned, centroids, k = 2)
      .select("qId", "neighborId", "cos")
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(got === twin)
  }
  test("streaming funnel matches the batch twin under time-ordered delivery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.FunnelEvent
    val stages = Seq("view", "click", "purchase")
    val evs = Seq(
      FunnelEvent(1L, "click", 1L), FunnelEvent(1L, "view", 2L),
      FunnelEvent(1L, "click", 3L), FunnelEvent(1L, "purchase", 4L),
      FunnelEvent(2L, "view", 5L), FunnelEvent(2L, "purchase", 6L),
      FunnelEvent(3L, "click", 7L))

    val input = MemoryStream[FunnelEvent]
    val q = StreamingOps.funnelStream(input.toDS(), stages)
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode(OutputMode.Update)
      .start()
    input.addData(evs: _*)
    q.processAllAvailable()
    q.stop()

    val got = spark.sql("SELECT userId, stageReached FROM funnel_stream")
      .as[(Long, Int)].collect().toMap
    val batch = graft.operators.EventAnalytics
      .funnelStages(evs.toDF("u", "y", "t"), "u", "y", "t", stages)
      .select("u", "stage_reached").as[(Long, Int)].collect().toMap
    assert(got == batch && batch == Map(1L -> 3, 2L -> 1, 3L -> 0))
  }

  test("funnelStream in batch mode equals the batch operator (q_funnel_stream_twin surface)") {
    import spark.implicits._
    import StreamingOps.FunnelEvent
    val stages = Seq("view", "click", "purchase")
    // same-timestamp ties, repeats, out-of-stage events, empty-stage users
    val evs = Seq(
      FunnelEvent(1L, "view", 2L), FunnelEvent(1L, "click", 2L),
      FunnelEvent(1L, "click", 3L), FunnelEvent(1L, "purchase", 3L),
      FunnelEvent(1L, "purchase", 9L),
      FunnelEvent(2L, "purchase", 1L), FunnelEvent(2L, "view", 2L),
      FunnelEvent(3L, "signup", 1L), FunnelEvent(3L, "view", 4L))
    // batch execution of the STREAMING fold: mapGroupsWithState runs the
    // same state function once per key with empty initial state — the
    // exact code path q_funnel_stream_twin puts under the DuckDB oracle
    val viaState = StreamingOps.funnelStream(evs.toDS(), stages)
      .select("userId", "stageReached").as[(Long, Int)].collect().toMap
    val viaFold = graft.operators.EventAnalytics
      .funnelStages(evs.toDF("u", "y", "t"), "u", "y", "t", stages)
      .select("u", "stage_reached").as[(Long, Int)].collect().toMap
    assert(viaState == viaFold)
    // click at t=2 can't fill stage 2 (view also at t=2: strict progress);
    // purchase at t=3 can't ride the t=3 click either → reached 3 only at 9
    assert(viaState == Map(1L -> 3, 2L -> 1, 3L -> 1))
  }

  test("attributionJoinStream on static frames is the batch range join (q_attrib_stream_twin surface)") {
    import spark.implicits._
    // EliminateEventTimeWatermark strips the watermark nodes over batch
    // children: the SAME operator body runs as a plain time-range join —
    // the backfill path q_attrib_stream_twin puts under the DuckDB oracle
    val bv = Seq((1L, ts(0), 1.0), (1L, ts(50), 2.0), (2L, ts(0), 3.0))
      .toDF("user_id", "ts", "value")
    val bc = Seq((1L, ts(55), 10.0), (2L, ts(90), 20.0))
      .toDF("user_id", "ts", "value")
    val got = StreamingOps.attributionJoinStream(bv, bc, window = "1 hour")
      .select("user_id", "view_value", "conv_value")
      .as[(Long, Double, Double)].collect().toSet
    assert(!StreamingOps.attributionJoinStream(bv, bc).isStreaming)
    assert(got == Set((1L, 1.0, 10.0), (1L, 2.0, 10.0)))
  }

  test("streaming funnel state carries across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.FunnelEvent
    val input = MemoryStream[FunnelEvent]
    val q = StreamingOps.funnelStream(input.toDS(), Seq("view", "click"))
      .writeStream.format("memory").queryName("funnel_batches")
      .outputMode(OutputMode.Update)
      .start()
    input.addData(FunnelEvent(1L, "view", 10L))
    q.processAllAvailable()
    input.addData(FunnelEvent(1L, "click", 20L))
    q.processAllAvailable()
    q.stop()
    val last = spark.sql(
      "SELECT stageReached FROM funnel_batches ORDER BY stageReached DESC LIMIT 1")
      .as[Int].head()
    assert(last == 2)
  }

  test("streaming funnel is monotone: a late predecessor cannot retro-fill") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.FunnelEvent
    val input = MemoryStream[FunnelEvent]
    val q = StreamingOps.funnelStream(input.toDS(), Seq("view", "click"))
      .writeStream.format("memory").queryName("funnel_late")
      .outputMode(OutputMode.Update)
      .start()
    // the click is processed first; the view arrives a batch later with an
    // EARLIER event time — the click is gone, so the user stays at stage 1
    // (batch reprocessing would give 2; append-only streams cannot)
    input.addData(FunnelEvent(1L, "click", 20L))
    q.processAllAvailable()
    input.addData(FunnelEvent(1L, "view", 10L))
    q.processAllAvailable()
    q.stop()
    val last = spark.sql(
      "SELECT stageReached FROM funnel_late ORDER BY stageReached DESC LIMIT 1")
      .as[Int].head()
    assert(last == 1)
  }


  test("incremental-agg stream matches the batch IncrementalAgg merge over the same change sets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.ChangeRec
    val input = MemoryStream[ChangeRec]
    val q = StreamingOps.incrementalAggStream(input.toDS())
      .writeStream.format("memory").queryName("incr_agg")
      .outputMode(OutputMode.Update)
      .start()

    // batch 1: base rows arrive as adds
    input.addData(
      ChangeRec("a", "add", 1.0), ChangeRec("a", "add", 2.0),
      ChangeRec("b", "add", 3.0), ChangeRec("c", "add", 4.0))
    q.processAllAvailable()
    // batch 2: a revalued (2->5), c removed, d added
    input.addData(
      ChangeRec("a", "remove", 2.0), ChangeRec("a", "add", 5.0),
      ChangeRec("c", "remove", 4.0), ChangeRec("d", "add", 7.0))
    q.processAllAvailable()
    q.stop()

    // every per-batch emission is deterministic
    val emitted = spark.sql("SELECT key, cnt, sum FROM incr_agg")
      .as[(String, Long, Double)].collect().toSet
    assert(emitted == Set(
      ("a", 2L, 3.0), ("b", 1L, 3.0), ("c", 1L, 4.0),   // batch 1
      ("a", 2L, 6.0), ("c", 0L, 0.0), ("d", 1L, 7.0)))  // batch 2

    // batch twin: the operators.IncrementalAgg merge over the same change
    // sets yields exactly the live final states (c gone at cnt 0)
    import graft.operators.IncrementalAgg
    val s1 = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("c", 4.0)).toDF("key", "v")
    val removed = Seq(("a", 2.0), ("c", 4.0)).toDF("key", "v")
    val added = Seq(("a", 5.0), ("d", 7.0)).toDF("key", "v")
    val batch = IncrementalAgg.merge(
      IncrementalAgg.initState(s1, Seq("key"), "v"),
      IncrementalAgg.deltaFromRowSets(removed, added, Seq("key"), "v"),
      Seq("key")).as[(String, Long, Double)].collect().toSet
    assert(batch == Set(("a", 2L, 6.0), ("b", 1L, 3.0), ("d", 1L, 7.0)))
    assert(batch.subsetOf(emitted), "final states must all have been emitted live")

    // relational fold twin (the oracle surface): one signed aggregation
    // over the full change log == the live stream's final per-key states
    // (count/sum are abelian, so the fold is order-free)
    val twin = StreamingOps.incrementalAggFoldTwin(
      Seq(
        ("a", "add", 1.0), ("a", "add", 2.0), ("b", "add", 3.0),
        ("c", "add", 4.0), ("a", "remove", 2.0), ("a", "add", 5.0),
        ("c", "remove", 4.0), ("d", "add", 7.0)).toDF("key", "op", "value"))
      .as[(String, Long, Double)].collect().toSet
    assert(twin == Set(
      ("a", 2L, 6.0), ("b", 1L, 3.0), ("c", 0L, 0.0), ("d", 1L, 7.0)))
    assert(twin.subsetOf(emitted),
      "every twin final state must match a live emission")
  }

  test("streaming SCD2 fold matches the batch Scd2 snapshot application") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.Scd2Change
    val input = MemoryStream[Scd2Change]
    val q = StreamingOps.scd2Stream(input.toDS())
      .writeStream.format("memory").queryName("scd2_stream")
      .outputMode(OutputMode.Append)
      .start()

    // batch at ts=100: initial upserts (equivalent to snapshot 1)
    input.addData(
      Scd2Change("a", "upsert", "pa", 1.0, 100L),
      Scd2Change("b", "upsert", "pb", 2.0, 100L),
      Scd2Change("c", "upsert", "pc", 3.0, 100L))
    q.processAllAvailable()
    // batch at ts=200: a changed, c deleted, d added (snapshot 2)
    input.addData(
      Scd2Change("a", "upsert", "pa", 9.0, 200L),
      Scd2Change("c", "delete", "", 0.0, 200L),
      Scd2Change("d", "upsert", "pd", 7.0, 200L))
    q.processAllAvailable()
    q.stop()

    // sink reconciliation: latest emission per (key, valid_from)
    val live = spark.sql(
      """SELECT key, payload, value, valid_from, valid_to, is_current FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key, valid_from
        |    ORDER BY CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END ASC) AS rk
        |  FROM scd2_stream) WHERE rk = 1""".stripMargin)
      .as[(String, String, Double, Long, Option[Long], Boolean)].collect().toSet

    // batch twin over the equivalent snapshots
    import graft.operators.Scd2
    import org.apache.spark.sql.functions.lit
    val s1 = Seq(("a", "pa", 1.0), ("b", "pb", 2.0), ("c", "pc", 3.0)).toDF("key", "payload", "value")
    val s2 = Seq(("a", "pa", 9.0), ("b", "pb", 2.0), ("d", "pd", 7.0)).toDF("key", "payload", "value")
    val batch = Scd2.applySnapshot(Scd2.init(s1, lit(100L)), s2, Seq("key"), lit(200L))
      .as[(String, String, Double, Long, Option[Long], Boolean)].collect().toSet
    assert(live == batch, s"stream fold diverged:\nlive=$live\nbatch=$batch")
  }

  test("scd2VersionFoldTwin matches the live stream on the adversarial op mix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.Scd2Change
    // every fold edge in one change log: no-op upserts (same payload+value),
    // value-only change, delete, re-open after delete with the SAME values,
    // delete-as-first-op, consecutive deletes, equal-ts delete+upsert
    val batch1 = Seq(
      Scd2Change("a", "upsert", "pa", 1.0, 100L),
      Scd2Change("b", "upsert", "pb", 2.0, 100L),
      Scd2Change("e", "delete", "pe", 0.0, 100L), // delete with nothing open
      Scd2Change("f", "upsert", "pf", 5.0, 100L))
    val batch2 = Seq(
      Scd2Change("a", "upsert", "pa", 1.0, 200L), // unchanged → no-op
      Scd2Change("b", "upsert", "pb", 9.0, 200L), // value-only change
      Scd2Change("e", "upsert", "pe", 4.0, 200L), // open after no-op delete
      Scd2Change("f", "delete", "pf", 0.0, 200L),
      // equal-ts pair: delete sorts before upsert → close then re-open at 250
      Scd2Change("a", "delete", "", 0.0, 250L),
      Scd2Change("a", "upsert", "pa", 1.0, 250L))
    val batch3 = Seq(
      Scd2Change("f", "delete", "pf", 0.0, 300L), // consecutive delete → no-op
      Scd2Change("e", "upsert", "pe2", 4.0, 300L), // payload-only change
      Scd2Change("a", "upsert", "pa", 1.0, 300L)) // unchanged after re-open

    val input = MemoryStream[Scd2Change]
    val q = StreamingOps.scd2Stream(input.toDS())
      .writeStream.format("memory").queryName("scd2_stream_twin_pin")
      .outputMode(OutputMode.Append)
      .start()
    Seq(batch1, batch2, batch3).foreach { b =>
      input.addData(b: _*); q.processAllAvailable()
    }
    q.stop()

    val live = spark.sql(
      """SELECT key, payload, value, valid_from, valid_to, is_current FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key, valid_from
        |    ORDER BY CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END ASC) AS rk
        |  FROM scd2_stream_twin_pin) WHERE rk = 1""".stripMargin)
      .as[(String, String, Double, Long, Option[Long], Boolean)].collect().toSet

    val twin = StreamingOps
      .scd2VersionFoldTwin((batch1 ++ batch2 ++ batch3).toDF())
      .as[(String, String, Double, Long, Option[Long], Boolean)].collect().toSet
    assert(live == twin, s"twin diverged:\nlive=$live\ntwin=$twin")
    // spot-check the fold edges directly on the twin
    assert(twin.contains(("a", "pa", 1.0, 100L, Some(250L), false))) // survived the no-op
    assert(twin.contains(("a", "pa", 1.0, 250L, None, true))) // re-opened at the tie ts
    assert(twin.contains(("f", "pf", 5.0, 100L, Some(200L), false)))
    assert(!twin.exists(v => v._1 == "f" && v._4 >= 200L)) // consecutive delete no-op
    assert(twin.contains(("e", "pe", 4.0, 200L, Some(300L), false)))
    assert(twin.contains(("e", "pe2", 4.0, 300L, None, true)))
  }

  test("scd2VersionFoldTwin opens versions across NULL payloads (null-safe change detection)") {
    import spark.implicits._
    // null-bearing change log: p1 → NULL is a payload change and must open
    // a version; NULL → NULL is a no-op; NULL → p2 re-opens. Plain =!=
    // evaluates to SQL NULL on these rows and silently dropped them.
    val changes = Seq(
      ("k", "upsert", Option("p1"), 1.0, 100L),
      ("k", "upsert", Option.empty[String], 1.0, 200L),
      ("k", "upsert", Option.empty[String], 1.0, 300L), // unchanged → no-op
      ("k", "upsert", Option("p2"), 1.0, 400L)
    ).toDF("key", "op", "payload", "value", "ts")
    val got = StreamingOps.scd2VersionFoldTwin(changes)
      .as[(String, Option[String], Double, Long, Option[Long], Boolean)]
      .collect().toSet
    assert(got == Set(
      ("k", Some("p1"), 1.0, 100L, Some(200L), false),
      ("k", None, 1.0, 200L, Some(400L), false),
      ("k", Some("p2"), 1.0, 400L, None, true)))
  }

  test("stream-stream attribution join matches the batch time-range join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp, Double)]
    val convs = MemoryStream[(Long, Timestamp, Double)]
    val q = StreamingOps.attributionJoinStream(
        views.toDF().toDF("user_id", "ts", "value"),
        convs.toDF().toDF("user_id", "ts", "value"),
        window = "1 hour", watermark = "30 minutes")
      .writeStream.format("memory").queryName("attribution")
      .outputMode(OutputMode.Append)
      .start()

    // times offset +600 min: a row at EXACTLY epoch 0 sits on the engine's
    // initial watermark and is late-filtered in a stream-stream join —
    // measured here, one pair silently vanished before the offset.
    // user 1: views at t=0 and t=50; conversion at t=55 → both attribute.
    // user 2: view at t=0, conversion at t=90 → outside the 1h window.
    def tso(min: Int) = ts(600 + min)
    views.addData((1L, tso(0), 1.0), (1L, tso(50), 2.0), (2L, tso(0), 3.0))
    convs.addData((1L, tso(55), 10.0), (2L, tso(90), 20.0))
    q.processAllAvailable()
    // advance both watermarks so all joinable state flushes
    views.addData((99L, tso(500), 0.0))
    convs.addData((99L, tso(600), 0.0))
    q.processAllAvailable()
    q.stop()

    val got = spark.sql(
      "SELECT user_id, view_value, conv_value FROM attribution WHERE user_id < 90")
      .as[(Long, Double, Double)].collect().toSet
    assert(got == Set((1L, 1.0, 10.0), (1L, 2.0, 10.0)), s"got $got")

    // batch twin over the same rows
    val bv = Seq((1L, tso(0), 1.0), (1L, tso(50), 2.0), (2L, tso(0), 3.0))
      .toDF("user_id", "view_ts", "view_value")
    val bc = Seq((1L, tso(55), 10.0), (2L, tso(90), 20.0))
      .toDF("user_id", "conv_ts", "conv_value")
    val batch = bc.as("c").join(bv.as("v"),
        expr("c.user_id = v.user_id AND v.view_ts <= c.conv_ts" +
          " AND v.view_ts >= c.conv_ts - INTERVAL 1 hour"))
      .select($"c.user_id", $"view_value", $"conv_value")
      .as[(Long, Double, Double)].collect().toSet
    assert(got == batch)
  }
}
