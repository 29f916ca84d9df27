package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One-call corpus cleaning for LLM training data — the standard C4/Gopher
  * gate sequence composed from the individual operators, with a keep flag
  * and a first-failing-gate reason per document:
  *
  *   1. quality   — C4-style composite ([[TextOps.qualityPredicate]])
  *   2. language  — stopword-vote language id in an allowlist
  *   3. repetition — Gopher gates (duplicate 2-gram fraction, top-token share)
  *   4. exact_duplicate — content-hash dedup, keep the lowest doc id
  *   5. near_duplicate  — MinHash/LSH candidates verified by n-gram Jaccard;
  *      the later (higher-id) side of each qualifying pair is dropped
  *
  * Scale shape: gates 1–3 are shuffle-free per-row projections; exact dedup
  * is one hash shuffle over the SURVIVORS only (filter-then-dedup, the cheap
  * order); near-dedup reuses the bucketed LSH chain (never all-pairs).
  * Dropping the higher id of each qualifying pair is deliberately
  * single-pass — the iterative alternative (connected components, keep one
  * per cluster) needs multi-round joins for a marginal retention gain.
  */
object TextPipeline {

  /** Runs the gate sequence above as one lazy plan: building it runs no
    * job and caches nothing, so the caller owns no lifecycle. The gated
    * frame, with its exact-duplicate flag, has two consumers (the near-dup
    * branch and the final flag-back join); AQE reuses their common
    * exchanges.
    */
  def cleanCorpus(
      docs: DataFrame,
      minTokens: Int = 20,
      minStopwordRatio: Double = 0.02,
      allowedLangs: Seq[String] = Seq("en"),
      maxDup2gramFrac: Double = 0.4,
      maxTopTokenRatio: Double = 0.3,
      nearDupJaccard: Double = 0.5
  ): DataFrame = {
    // The gates are computed RELATIONALLY (explode → codegen aggregates),
    // not with the per-column HOF kernels: a filter predicate built from
    // interpreted array-HOF lambdas gets its tokenize child re-inlined by
    // CollapseProject and re-evaluated per lambda element — measured 20×
    // slower than this formulation at sf0.1 (17 s vs <1 s for the same
    // boolean outcomes). Same trade as Dedup.signatures, and the aggregates
    // are map-side combinable, so this is also the shape that scales.
    // Round 18: the 2-gram stream comes from the let-bound shingle kernel
    // (shuffle-free explode projection) instead of a per-document
    // lead-window, which sort-shuffled the whole token stream per call —
    // the gram aggregation's partial side now runs map-local (summed
    // executor CPU 36.5 → 31.1 s at sf0.1, MemProbe min-of-3; wall on the
    // noisy round-18 host was statistically flat). A fully unioned
    // single-aggregation variant (tokens + grams through one kind-tagged
    // groupBy) was A/B'd and REJECTED: it pushed the ~2× combined stream
    // through the wide per-language aggregate and measured slower than
    // this split shape.
    val tokens = docs.select(
      col("doc_id"), explode(TextOps.tokenize(col("text"))).as("token"))
    val gramStats = docs
      .select(
        col("doc_id"),
        explode(TextOps.shingles(TextOps.tokenize(col("text")), 2)).as("g2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_g2"), countDistinct(col("g2")).as("d_g2"))
    def hits(words: Seq[String]) =
      sum(when(col("token").isInCollection(words), col("cnt")).otherwise(0L))
    val langScores = TextOps.StopwordsByLang.map { case (lang, sw) =>
      hits(sw).as(s"s_$lang")
    }
    val statAggs = Seq(
      sum(col("cnt")).cast("double").as("n"),
      count(lit(1)).cast("double").as("n_distinct"),
      max(col("cnt")).cast("double").as("max_cnt"),
      sum(length(col("token")) * col("cnt")).cast("double").as("sum_len")
    ) ++ langScores
    val docStats = tokens
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(statAggs.head, statAggs.tail: _*)
    // the same priority argmax as TextOps.langId (en > de > es > fr > zh)
    val lang = TextOps.langArgmax(l => col(s"s_$l"))
    val gated = docs
      .join(docStats, Seq("doc_id"), "left")
      .join(gramStats, Seq("doc_id"), "left")
      .withColumn(
        "q_ok",
        col("n").between(minTokens, 100000) &&
          (col("sum_len") / col("n")).between(2.0, 12.0) &&
          (col("s_en") / col("n")) >= minStopwordRatio &&
          (col("n_distinct") / col("n")) >= 0.1)
      .withColumn("l_ok", lang.isInCollection(allowedLangs))
      .withColumn(
        "r_ok",
        coalesce(lit(1.0) - col("d_g2") / col("n_g2").cast("double"), lit(0.0)) <= maxDup2gramFrac &&
          (col("max_cnt") / col("n")) <= maxTopTokenRatio)
      .drop(
        Seq("n", "n_distinct", "max_cnt", "sum_len", "n_g2", "d_g2") ++
          TextOps.StopwordsByLang.map { case (l, _) => s"s_$l" }: _*)

    // Exact dedup over gate survivors only (dedup after filtering): first
    // occurrence by doc id survives, the rest are exact duplicates. Within a
    // content hash the survivors rank first, so the flag lands on the gated
    // rows themselves and no join brings it back.
    val ranked = gated
      .withColumn("_survivor", coalesce(col("q_ok") && col("l_ok") && col("r_ok"), lit(false)))
      .withColumn(
        "is_exact_dup",
        when(col("_survivor"),
          row_number().over(
            Window.partitionBy(md5(col("text"))).orderBy(!col("_survivor"), col("doc_id"))) > 1))
    val nearDropped = Dedup
      .verifiedPairs(
        ranked.filter(col("_survivor") && !col("is_exact_dup")).select(col("doc_id"), col("text")))
      .filter(col("jaccard") >= nearDupJaccard)
      .select(col("r_doc").as("doc_id"))
      .distinct()

    val reason = when(!col("q_ok"), "quality")
      .when(!col("l_ok"), "language")
      .when(!col("r_ok"), "repetition")
      .when(col("is_exact_dup"), "exact_duplicate")
      .when(col("is_near_dup"), "near_duplicate")
    ranked
      .join(nearDropped.withColumn("is_near_dup", lit(true)), Seq("doc_id"), "left")
      .withColumn("reason", reason)
      .withColumn("keep", col("reason").isNull)
      .drop("q_ok", "l_ok", "r_ok", "_survivor", "is_exact_dup", "is_near_dup")
  }

  /** Paragraph-level exact dedup, the sub-document granularity C4 applies
    * (C4 dedups three-sentence spans; the unit here is a paragraph =
    * blank-line-separated block): explode paragraphs with their in-document
    * position, keep the corpus-wide FIRST occurrence of each distinct
    * paragraph (ordered by (docId, position) — deterministic), and
    * reassemble each document from its surviving paragraphs in order.
    * Documents whose every paragraph was seen earlier come back with empty
    * text (callers typically drop them with a length gate).
    *
    * Scale shape: one shuffle on the paragraph hash (the window), one on
    * docId (the reassembly groupBy); paragraphs are the exploded unit so
    * skew follows paragraph duplication, which is exactly what the
    * keep-first window absorbs.
    */
  def paragraphDedup(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val paras = docs
      .select(col(idCol), posexplode(split(col(textCol), "\n\n")).as(Seq("pos", "para")))
      .filter(length(trim(col("para"))) > 0)
    val w = Window.partitionBy(md5(col("para"))).orderBy(col(idCol), col("pos"))
    val kept = paras
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("pos"), col("para")))).as("ps"))
      .select(
        col(idCol),
        concat_ws("\n\n", expr("transform(ps, x -> x.para)")).as(textCol))
    docs
      .select(col(idCol))
      .join(kept, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col(textCol), lit("")))
  }

  /** Token-budget source mixing: given a per-source token budget, derive
    * each source's keep fraction `min(1, budget / available)` RELATIONALLY
    * (one aggregation over the corpus — no driver-side math) and apply the
    * same deterministic md5-hash keep rule as [[stratifiedSample]]. This is
    * the "hit the target mixture" step of a training-data pipeline: budgets
    * come from the desired token counts per domain. Sources without a
    * budget row are dropped, matching `sampleBy` semantics. Expected kept
    * tokens per source ≈ min(budget, available); exactness is bounded by
    * document granularity, which is inherent to whole-document sampling.
    */
  def sampleToTokenBudget(
      docs: DataFrame,
      budgets: Map[String, Long],
      keyCol: String = "source",
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.withColumn("_n_tokens", size(TextOps.tokenize(col(textCol))))
    val fracs = toks
      .groupBy(col(keyCol))
      .agg(sum(col("_n_tokens")).as("_available"))
      .join(broadcast(budgets.toSeq.toDF(keyCol, "_budget")), Seq(keyCol))
      .select(
        col(keyCol),
        least(lit(1.0), col("_budget") / col("_available")).as("_fraction"))
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double") / 4294967296.0
    toks
      .join(broadcast(fracs), Seq(keyCol), "inner")
      .filter(u < col("_fraction"))
      .drop("_fraction", "_n_tokens")
  }

  /** Deterministic stratified source mixing: keep each document with its
    * stratum's fraction, decided by a hash of the document id rather than a
    * RNG — reproducible run-to-run, engine-independent (md5), shuffle-free
    * (one projection + broadcast of the bounded fraction table). Strata
    * absent from `fractions` are dropped, matching Spark's `sampleBy`
    * semantics. This is the training-mix rebalancing step: fractions come
    * from the desired corpus weights per source/domain.
    */
  def stratifiedSample(
      docs: DataFrame,
      fractions: Map[String, Double],
      keyCol: String = "source",
      idCol: String = "doc_id"
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val fracs = broadcast(fractions.toSeq.toDF(keyCol, "_fraction"))
    // first 8 hex chars of md5(id) → uniform u in [0, 1) with 2^32 grain
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("double") / 4294967296.0
    docs
      .join(fracs, Seq(keyCol), "inner")
      .filter(u < col("_fraction"))
      .drop("_fraction")
  }

  /** Pack documents into fixed-token-budget training sequences: documents
    * are binned by the running token-count within each stratum (greedy
    * first-fit in id order), emitting one row per (stratum, sequence) with
    * the member ids and token total.
    *
    * Scale shape: the running token-count is a DISTRIBUTED prefix sum
    * (FeatureOps.withDistributedRunningSum) when the id is numeric — a
    * `Window.partitionBy(stratum)` running sum would serialise each
    * stratum through one task, and strata are few (a handful of sources).
    * Non-numeric ids (not quantile-binnable) fall back to the per-stratum
    * window, which still parallelises across strata like per-shard
    * packing.
    */
  def packSequences(
      docs: DataFrame,
      tokenBudget: Int,
      strataCol: String = "source",
      idCol: String = "doc_id",
      // pluggable counter: pass e.g. `graft.functions.Bpe.tokenCount(_, ranks)`
      // to pack by real BPE token counts instead of whitespace tokens
      tokenCounter: Column => Column = t => size(TextOps.tokenize(t))
  ): DataFrame = {
    val sized = docs
      .withColumn("n_tokens", tokenCounter(col("text")))
      // documents larger than the budget occupy a sequence alone
      .withColumn("n_clamped", least(col("n_tokens"), lit(tokenBudget)))
    val withCum =
      if (sized.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
        graft.operators.FeatureOps
          .withDistributedRunningSum(sized, Seq(strataCol), idCol, "n_clamped", cumCol = "cum")
      else {
        // Explicit ROWS frame: the default RANGE frame makes orderBy-peers
        // share one cumulative value, diverging from the per-row running
        // sum if ids tie.
        val w = Window.partitionBy(strataCol).orderBy(idCol)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        sized.withColumn("cum", sum(col("n_clamped")).over(w))
      }
    withCum
      .withColumn("seq_no", ceil(col("cum") / tokenBudget.toDouble).cast("long"))
      .groupBy(col(strataCol), col("seq_no"))
      .agg(
        sort_array(collect_list(col(idCol))).as("doc_ids"),
        sum(col("n_tokens")).as("token_total"),
        count(lit(1)).as("n_docs"))
  }
}
