package graft

import graft.harness.{ColocQueries, CoreQueries, JoinQueries}

/** Physical-plan assertions: the properties that matter at 100 TB must be
  * visible in the plan, not just intended in the code.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private val sfDir = "/root/testdata/sf0.001"

  test("q_pvalue_filter prunes the scan to the three needed columns") {
    val p = plan(CoreQueries.pvalueFilter(spark, sfDir))
    assert(p.contains("l_orderkey"))
    assert(!p.contains("l_extendedprice"), "unused column not pruned from scan")
  }

  test("q_locus_annotate broadcasts the lead table, not the sumstats side") {
    val p = plan(JoinQueries.locusAnnotate(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_lbc_semi plans a left-semi join") {
    val p = plan(JoinQueries.lbcSemi(spark, sfDir))
    assert(p.contains("LeftSemi"))
  }

  test("q_overlaps self-join is an equi join on (chromosome, tag), not a cartesian") {
    val p = plan(ColocQueries.overlaps(spark, sfDir))
    assert(!p.contains("CartesianProduct"), "overlap join must stay equi-keyed")
  }

  test("whole-stage codegen covers the p-value kernel path") {
    // codegen stages print as "*(n)" in the executed plan
    val p = plan(CoreQueries.neglogPval(spark, sfDir))
    assert(p.contains("*(1)"), "expected a whole-stage-codegen stage")
  }

  test("overlap repartition is NOT keyed on chromosome alone (24-partition cap)") {
    val p = plan(ColocQueries.overlaps(spark, sfDir))
    // the final exchange must hash on (chromosome, salt), so a pmod/hash
    // expression appears alongside chromosome in the partitioning spec
    assert(p.contains("hashpartitioning(chromosome"), s"expected chromosome repartition in:\n$p")
    assert(p.contains("pmod"), "expected composite salt in the repartition key")
  }

  test("q_gwas_harmonise is a shuffle-free projection with codegen core") {
    val p = plan(graft.harness.SourceQueries.gwasHarmonise(spark, sfDir))
    assert(!p.contains("Exchange"), "pure column harmonisation must not shuffle")
    // the effect/flip arithmetic stays in a codegen stage; only the final
    // QC array_sort lambdas fall back to interpreted projection
    assert(p.contains("*(1)"), "harmonisation core must stay in codegen")
  }

  test("q_sumstat_harmonise joins without broadcasting the sumstats side") {
    val p = plan(graft.harness.SourceQueries.sumstatHarmonise(spark, sfDir))
    assert(!p.contains("CartesianProduct"))
    // the variant-annotation join must be an equi join; at 100 TB neither
    // side is guaranteed broadcastable, so a shuffle-based strategy is the
    // scale-safe plan (AQE may locally pick broadcast at tiny SF — assert
    // only that the join stays equi-keyed)
    assert(p.contains("Join"), s"expected a join in:\n$p")
  }

  test("q_l2g_features broadcasts the bounded gene table, not the locus side") {
    val p = plan(graft.harness.SourceQueries.l2gFeatures(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), "gene window join should broadcast genes")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_l2g_e2g bin-accelerated overlap is an equi join, never a range cross-product") {
    val p = plan(graft.harness.SourceQueries.l2gE2g(spark, sfDir))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "interval overlap must go through the (chromosome, bin) equi join")
  }

  test("q_drug_assoc broadcasts the bounded ontology, keeps evidence joins equi") {
    val p = plan(graft.harness.SourceQueries.drugAssoc(spark, sfDir))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"), "ancestor table should broadcast")
  }

  test("q_liftover broadcasts the chain blocks against the big position side") {
    val p = plan(graft.harness.SourceQueries.liftover(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "chain table must be the broadcast side of the range join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_eqtl_susie broadcasts the bounded study metadata, equi-joins the lbf side") {
    val p = plan(graft.harness.SourceQueries.eqtlSusie(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), "study metadata should broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_interval_qc broadcasts the contig index against the interval side") {
    val p = plan(graft.harness.SourceQueries.intervalQc(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), "contig index should broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_variant_direction expansion is explode + projection, no join at all") {
    val p = plan(graft.harness.SourceQueries.variantDirection(spark, sfDir))
    assert(p.contains("Generate"), "orientation expansion should be an explode")
    assert(!p.contains("Join"), s"LUT build must not join:\n$p")
  }

  test("q_gcat_split broadcasts the bounded study index against associations") {
    val p = plan(graft.harness.StudyQueries.gcatSplit(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), "study index should broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_gcat_study_index pivot is static: no pivot-value enumeration pass") {
    // the pivot values are pinned to initial/replication, so the whole query
    // compiles to one plan with no first-pass distinct collection; ancestry
    // parsing stays in array HOFs (no Generate from a per-ancestry explode
    // feeding a re-aggregation)
    val df = graft.harness.StudyQueries.gcatStudyIndex(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"))
    val generates = p.linesIterator.count(_.contains(" Generate "))
    // only the sample-size text explode remains
    assert(generates <= 1, s"expected at most one explode, plan:\n$p")
  }

  test("q_gcat_sumstats preprocess is a shuffle-free pushed-down projection") {
    val p = plan(graft.harness.StudyQueries.gcatSumstats(spark, sfDir))
    assert(!p.contains("Exchange"), "column dispatch must not shuffle")
    assert(p.contains("*(1)"), "p-value/effect kernels must stay in codegen")
  }

  test("q_decode_studies broadcasts the bounded aptamer and complex tables") {
    val p = plan(graft.harness.StudyQueries.decodeStudies(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), "bounded lookup tables should broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"), s"no join side here warrants a sort-merge:\n$p")
  }

  test("q_finngen_efo broadcasts the curated mapping, not the study side") {
    val p = plan(graft.harness.StudyQueries.finngenEfo(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), "curated EFO mapping should broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_contamination probes a BROADCAST benchmark gram table, no cartesian") {
    // the probe is a broadcast hash join on the exploded grams plus an
    // id-keyed count — never an array_intersect against a collected set
    // (which rebuilds the bench hash per doc row, Θ(docs × bench)) and
    // never an all-pairs fallback
    val p = plan(graft.harness.TextQueries.contaminationQuery(spark, sfDir))
    assert(p.contains("BroadcastExchange"), s"benchmark gram table must broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "no all-pairs fallback in the gram probe")
    assert(!p.contains("array_intersect"), "per-row set intersect is the Θ(docs × bench) trap")
  }

  test("q_clean_corpus composes without a cartesian: candidate join stays equi-keyed") {
    val p = plan(graft.harness.TextQueries.cleanCorpus(spark, sfDir))
    assert(!p.contains("CartesianProduct"), "near-dup candidates must come from the band join")
    assert(!p.contains("BroadcastNestedLoopJoin"), "no all-pairs fallback anywhere in the pipeline")
  }

  test("q_sample_mix is a broadcast-probe filter — no shuffle of the corpus side") {
    val p = plan(graft.harness.TextQueries.sampleMix(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), "fraction table must broadcast")
    assert(!p.contains("SortMergeJoin"), "sampling must not shuffle the corpus")
  }

  test("q_seq_pack shuffles once per stratum window, never globally") {
    val p = plan(graft.harness.TextQueries.seqPack(spark, sfDir))
    assert(!p.contains("CartesianProduct"))
    // the window must be partitioned (no single-partition global sort)
    assert(
      !p.contains("WindowExec: No Partition Defined") &&
        p.contains("Window"),
      s"expected a partitioned window:\n$p")
  }

  test("q_pii_scrub is a shuffle-free codegen projection") {
    val p = plan(graft.harness.TextQueries.piiScrub(spark, sfDir))
    assert(!p.contains("Exchange"), "redaction must not shuffle")
    assert(p.contains("*(1)"), "regexp_replace chain must stay in codegen")
  }

  test("q_unigram_ppl joins the LM without broadcasting the token side") {
    val p = plan(graft.harness.TextQueries.unigramPpl(spark, sfDir))
    assert(!p.contains("CartesianProduct"))
    // the single-row total IS broadcast; the token-level LM join is equi
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
  }

  test("q_repetition is a shuffle-free projection over the document scan") {
    val p = plan(graft.harness.TextQueries.repetitionStats(spark, sfDir))
    // the only exchange allowed is the deliberate round-robin spread of the
    // single-file local corpus (a no-op decision at production scale)
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"repetition kernels must not shuffle:\n$p")
  }

  test("q_finngen_finemap: summary join, lead window and locus collect reuse one composite-key partitioning") {
    val p = plan(graft.harness.StudyQueries.finngenFinemap(spark, sfDir))
    assert(!p.contains("CartesianProduct"))
    // every exchange in the chain hashes on the same (studyId, region,
    // credibleSetIndex) composite — no partitioning on a narrower key that
    // would re-shuffle between the window, the groupBy and the joins
    val parts = p.linesIterator
      .filter(_.contains("hashpartitioning"))
      .map(_.replaceAll(".*hashpartitioning\\(", "").takeWhile(_ != ')'))
      // harness-side synthetic-frame exchanges (distinct over the group
      // key) are not part of the operator chain under audit
      .filter(spec => Seq("studyId", "region", "credibleSetIndex")
        .exists(spec.contains))
      .toList
    assert(parts.nonEmpty)
    parts.foreach { spec =>
      assert(spec.contains("studyId") && spec.contains("region") &&
        spec.contains("credibleSetIndex"),
        s"exchange on a narrower key than the composite: $spec\n$p")
    }
  }

  test("q_ivf_refine: centroid assignment is a shuffle-free projection; refinement is one aggregation exchange") {
    val p = plan(graft.harness.TextQueries.ivfRefine(spark, sfDir))
    // the NearestCentroid kernel folds the argmax into the projection: no
    // join and no exchange anywhere on the assignment path — the only
    // exchanges left are the deliberate round-robin spread of the local
    // single-file corpus and the kmeans groupBy aggregation
    assert(!p.contains("Join"), s"assignment must not join:\n$p")
    val aggExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(aggExchanges <= 1, s"only the refinement aggregation may hash-shuffle:\n$p")
  }

  test("ivfProbes and pqEncode stay shuffle-free: explode + kernel projection, no join") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val centroids = emb.filter(col("vec_id") % 23 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val probes = plan(graft.operators.Similarity.ivfProbes(emb, centroids, nprobe = 2))
    assert(!probes.contains("Exchange"), s"multi-probe must be shuffle-free:\n$probes")
    assert(!probes.contains("Join"), s"multi-probe must not join:\n$probes")
    assert(probes.contains("Generate"), "probe fan-out should be an explode")
    val pq = plan(graft.operators.Similarity.pqEncode(emb, centroids))
    assert(!pq.contains("Exchange"), s"PQ encode must be shuffle-free:\n$pq")
    assert(!pq.contains("Join"), s"PQ encode must not join:\n$pq")
  }

  test("residual IVF+PQ: encode never hash-shuffles the corpus; ADC search shuffles only the partial-sum reduce") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val coarse = emb.filter(col("vec_id") % 23 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val pqCents = graft.operators.Similarity.ivfResiduals(emb, coarse)
      .filter(col("vec_id") % 29 === 1 && col("vec_id") % 23 =!= 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    // encode: the only join is the broadcast coarse-centroid lookup inside
    // ivfResiduals; the per-subspace argmax folds into the projection
    val enc = plan(graft.operators.Similarity.ivfPqEncode(emb, coarse, pqCents))
    assert(
      !enc.contains("Exchange hashpartitioning"),
      s"encode must not hash-shuffle the corpus:\n$enc")
    assert(!enc.contains("SortMergeJoin"), s"centroid lookup must broadcast:\n$enc")
    assert(enc.contains("BroadcastHashJoin"), s"expected broadcast lookup:\n$enc")
    // search: probes + LUT broadcast onto the code scan; the only hash
    // exchanges are the (q_id, vec_id) partial-sum reduce and the top-k
    // window on q_id — both on the bounded candidate frame, never the corpus
    val adc = plan(graft.operators.Similarity.ivfPqAdcTopK(
      graft.operators.Similarity.ivfPqEncode(emb, coarse, pqCents),
      emb.filter(col("vec_id") < 20), coarse, pqCents, k = 5))
    assert(!adc.contains("SortMergeJoin"), s"ADC joins must broadcast:\n$adc")
    val hashExchanges = adc.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(
      hashExchanges <= 2,
      s"only the partial-sum reduce and top-k window may hash-shuffle ($hashExchanges):\n$adc")
  }

  test("ivfAssign alone plans zero exchanges and zero joins (assignment path at scale)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val centroids = emb
      .filter(org.apache.spark.sql.functions.col("vec_id") % 23 === 0)
      .select(
        org.apache.spark.sql.functions.col("vec_id").as("centroid_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val p = plan(graft.operators.Similarity.ivfAssign(emb, centroids))
    assert(!p.contains("Exchange"), s"assignment must be shuffle-free:\n$p")
    assert(!p.contains("Join"), s"assignment must not join:\n$p")
    assert(p.contains("*(1)"), "assignment kernel must stay in whole-stage codegen")
  }

  test("bm25Scores: corpus stats ride a broadcast carrier; the corpus never joins or re-tokenizes per term") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(graft.operators.TextOps.bm25Scores(docs, Seq("vector", "dup")))
    // per-doc (dl, tf…) reduce is ONE hash exchange keyed on doc_id; the
    // single-row stats frame reaches the score projection by broadcast
    // (never a SortMergeJoin of the corpus against anything)
    assert(!p.contains("SortMergeJoin"), s"stats must broadcast:\n$p")
    assert(
      p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"expected a broadcast stats carrier:\n$p")
    // two corpus passes (per-doc reduce; corpus-constant reduce), each
    // tokenizing exactly once — the round-5 HOF lesson: |terms| filter()
    // columns would re-inline the tokenize child once PER TERM
    val generates = p.linesIterator.count(_.contains("Generate explode"))
    assert(generates == 2, s"corpus must tokenize once per pass ($generates):\n$p")
  }

  test("q_bigram_ppl pair stream is a windowless projection; the total broadcasts") {
    val p = plan(graft.harness.TextQueries.bigramPpl(spark, sfDir))
    assert(!p.contains("Window"), s"bigram pair stream must not window:\n$p")
    assert(
      p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the single-row total must ride a broadcast carrier")
  }

  test("DSIR gram stream is a let-bound explode-projection, never a windowed lead") {
    // the select pipeline streams grams three times (raw counts, target
    // counts, document weights); a per-document lead window would add a
    // sort shuffle to EACH pass (measured 8.5 s vs 2.7 s at sf0.1). The
    // only allowed window is the bounded bucket-totals pass (<= numBuckets
    // rows, single partition by construction).
    val p = plan(graft.harness.TextQueries.dsirSelect(spark, sfDir))
    assert(!p.contains("lead("), s"bigrams must come from the let-bound HOF:\n$p")
    assert(p.contains("TakeOrdered"), "selection must be top-k, not a global sort")
  }

  test("the optimizer keeps the native pre-shuffle WindowGroupLimit on top-k window filters") {
    // regression pin for Catalyst's InferWindowGroupLimit: q_top1_per_group's
    // filter(row_number == 1) must plan a Partial WindowGroupLimit BELOW the
    // exchange — losing it would re-shuffle the full input per group
    val p = plan(CoreQueries.top1PerGroup(spark, sfDir))
    assert(p.contains("WindowGroupLimit"), s"expected native window group limit:\n$p")
    assert(p.contains("Partial"), s"expected the PARTIAL pre-shuffle prune:\n$p")
  }

  /** The banded Hamming joins' physical shape: candidates come from ONE
    * aggregation exchange keyed on the (band, band_val) buckets, the pair
    * rows carry both hashes so no join precedes the Hamming filter, the
    * media are decoded once (the fixture's MapPartitions plus one decode
    * MapPartitions), nothing is read from a cache, and no plan is
    * all-pairs.
    */
  private def assertBucketListHammingShape(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.MapPartitionsExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val helper = new AdaptiveSparkPlanHelper {}
    val physical = df.queryExecution.executedPlan
    val p = physical.toString
    assert(!p.contains("CartesianProduct"), s"all-pairs join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"non-equi join:\n$p")
    val exchangeKeys = helper.collect(physical) { case e: ShuffleExchangeExec =>
      e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name }
        case _ => Nil
      }
    }
    assert(exchangeKeys.count(_ == Seq("band", "band_val")) == 1,
      s"expected one (band, band_val) aggregation exchange, got $exchangeKeys:\n$p")
    assert(helper.collect(physical) { case j: BaseJoinExec => j }.isEmpty, s"join in:\n$p")
    assert(helper.collect(physical) { case m: MapPartitionsExec => m }.size == 2,
      s"expected the fixture and one decode MapPartitions:\n$p")
    assert(helper.collect(physical) { case s: InMemoryTableScanExec => s }.isEmpty,
      s"cached frame in:\n$p")
  }

  test("q_image_phash candidates come from one band-bucket aggregation, never all-pairs") {
    // the exact-Hamming image join must reach the pair set through the
    // (band, band_val) buckets — an all-pairs plan is the 100 TB failure
    // mode the banding exists to avoid
    assertBucketListHammingShape(graft.harness.MiscQueries.imagePHashQ(spark, sfDir))
  }

  test("q_image_phash128 candidates come from one band-bucket aggregation, never all-pairs") {
    // the widened 128-bit Hamming join keeps the 64-bit one's shape: both
    // hash words ride in the bucket members
    assertBucketListHammingShape(graft.harness.MiscQueries.imagePHash128Q(spark, sfDir))
  }

  test("q_audio_phash: one band-bucket aggregation; q_audio_exact joins on sample_hash") {
    // the audio envelope join shares the image banding machinery and its
    // physical guarantee; the exact-dup join must be equi-keyed on the
    // 64-bit sample hash
    assertBucketListHammingShape(graft.harness.MiscQueries.audioPHashQ(spark, sfDir))
    val pe = plan(graft.harness.MiscQueries.audioExactQ(spark, sfDir))
    assert(!pe.contains("CartesianProduct") &&
      !pe.contains("BroadcastNestedLoopJoin"),
      s"exact-dup join must stay equi-keyed on sample_hash:\n$pe")
  }

  test("containmentJoin is one lazy plan: nothing cached, equi-joins only, the documents scanned at most 3 times") {
    // AQE reuses the identical postings exchanges across the four artifact
    // references; a filter that differs between two copies of the postings
    // subtree (an inferred isnotnull on one side only) defeats that reuse
    // and shows up here as extra document scans
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = graft.operators.Dedup.containmentJoin(docs, theta = 0.8, shingle = 3)
    out.collect()
    val physical = out.queryExecution.executedPlan
    val p = physical.toString
    assert(p.contains("isFinalPlan=true"), p)
    assert(!p.contains("CartesianProduct"), s"all-pairs join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"non-equi join:\n$p")
    val helper = new AdaptiveSparkPlanHelper {}
    assert(helper.collect(physical) { case s: InMemoryTableScanExec => s }.isEmpty,
      s"cached frame in:\n$p")
    // a reused exchange is a leaf of the final plan, so a subtree AQE
    // computes once is counted once
    val scans = helper.collect(physical) { case s: FileSourceScanExec => s }.size
    assert(scans >= 1 && scans <= 3, s"$scans document scans:\n$p")
  }
}
