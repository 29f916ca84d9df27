package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis column kernels for the large-scale training-data pipeline:
  * tokenization, shingling, MinHash signatures, SimHash, language
  * identification, quality scoring, fingerprinting.
  *
  * Everything here is a pure column expression (array higher-order
  * functions) — per-document work happens inside whole-stage codegen with NO
  * shuffle and NO UDF: a signature over 100 TB of documents is a single
  * projection over the scan.
  *
  * Hashes are md5-based so results are engine-independent (the DuckDB oracle
  * reproduces them bit-for-bit), unlike murmur3 `hash()` which is
  * Spark-private.
  */
object TextOps {

  /** Whitespace tokenization. */
  def tokenize(text: Column): Column = split(trim(text), "\\s+")

  /** Word n-gram shingles over a token array. Docs shorter than n tokens
    * yield an empty array — without the guard, `sequence(1, size-n+1)` runs
    * DESCENDING for size < n (Spark picks step −1 when start > stop) and
    * `element_at` throws on index 0.
    */
  def shingles(tokens: Column, n: Int = 3): Column =
    // Let-bind the token array once per row: the lambda body references it
    // 2 + n·(per-element) times, and when a caller inlines an expensive
    // child (Dedup's shingle sites pass tokenize(text) directly) the
    // interpreted HOF re-evaluates that child per reference — the round-8
    // O(n²) re-inlining trap. Binding through a lambda variable makes the
    // child's cost once-per-row regardless of how the call site chains.
    graft.functions.ArrayOps.bindOnce("ts" -> tokens) { get =>
      val ts = get("ts")
      when(size(ts) < n, array().cast("array<string>"))
        .otherwise(
          transform(
            sequence(lit(1), size(ts) - (n - 1)),
            i => concat_ws(" ", (0 until n).map(k => element_at(ts, i + k)): _*)
          ))
    }

  /** MinHash signature: for each of `numHashes` seeds, the minimum md5 of the
    * seeded shingle. One projection, no shuffle.
    */
  def minhashSignature(shingleCol: Column, numHashes: Int = 16): Column =
    transform(
      sequence(lit(0), lit(numHashes - 1)),
      j =>
        array_min(
          transform(shingleCol, sh => md5(concat(lit("s"), j.cast("string"), lit(":"), sh)))
        )
    )

  /** LSH band hashes over a MinHash signature: `bands` hashes of
    * `rowsPerBand` consecutive signature entries. Documents sharing any band
    * hash are near-duplicate candidates.
    */
  def lshBands(signature: Column, bands: Int = 8, rowsPerBand: Int = 2): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b =>
        md5(
          concat(
            (1 to rowsPerBand).map(r => element_at(signature, b * rowsPerBand + r)): _*
          )
        )
    )

  /** 16-bit SimHash over a token array: bit b is the sign of the sum over
    * tokens of ±1 taken from the LSB of hex digit b+1 of the token's md5.
    * Near-identical documents land within small Hamming distance.
    */
  def simhash16(tokens: Column): Column =
    (0 until 16)
      .map { b =>
        val perToken: Column => Column =
          t => conv(substring(md5(t), b + 1, 1), 16, 10).cast("int") % 2 * 2 - 1
        val total = aggregate(tokens, lit(0), (acc, t) => acc + perToken(t))
        when(total >= 0, lit(1 << b)).otherwise(lit(0))
      }
      .reduce(_ + _)

  /** Language identification by stopword hit count with a fixed priority
    * order on ties (en > de > es > fr > zh). N-gram-free heuristic: counts
    * include repeated tokens.
    */
  val StopwordsByLang: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "fr" -> Seq("le", "les", "des", "et", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我")
  )

  def stopwordHits(tokens: Column, stopwords: Seq[String]): Column =
    size(filter(tokens, t => t.isInCollection(stopwords)))

  def langId(tokens: Column): Column = {
    val stopwords = StopwordsByLang.toMap
    langArgmax(lang => stopwordHits(tokens, stopwords(lang)))
  }

  /** Priority argmax over per-language `score`s: the first language in
    * [[StopwordsByLang]] order whose score is ≥ every later one's.
    */
  private[operators] def langArgmax(score: String => Column): Column = {
    val langs = StopwordsByLang.map(_._1)
    langs.zipWithIndex.foldRight(lit(langs.last)) { case ((lang, idx), elseCol) =>
      val later = langs.drop(idx + 1).map(score)
      if (later.isEmpty) elseCol
      else {
        val best = if (later.size == 1) later.head else greatest(later: _*)
        when(score(lang) >= best, lit(lang)).otherwise(elseCol)
      }
    }
  }

  /** Document fingerprint: the k smallest shingle md5s, comma-joined
    * (a k-min sketch — stable under small edits).
    */
  def fingerprint(shingleCol: Column, k: Int = 3): Column =
    concat_ws(",", slice(array_sort(transform(shingleCol, sh => md5(sh))), 1, k))

  /** BPE-ish token count: alpha runs, digit runs, single other symbols. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** C4-style composite quality predicate over a token array: token-count
    * band, mean-token-length band, minimum stopword ratio, minimum unique
    * ratio. Rows passing every gate are training-quality documents.
    */
  def qualityPredicate(
      tokens: Column,
      minTokens: Int = 10,
      maxTokens: Int = 100000,
      minMeanTokenLen: Double = 2.0,
      maxMeanTokenLen: Double = 12.0,
      minStopwordRatio: Double = 0.01,
      minUniqueRatio: Double = 0.1
  ): Column = {
    val n = size(tokens).cast("double")
    val meanLen = aggregate(tokens, lit(0), (acc, t) => acc + length(t)) / n
    val stopRatio = stopwordHits(tokens, StopwordsByLang.toMap.apply("en")) / n
    val uniqRatio = size(array_distinct(tokens)) / n
    n.between(minTokens, maxTokens) &&
      meanLen.between(minMeanTokenLen, maxMeanTokenLen) &&
      (stopRatio >= minStopwordRatio) &&
      (uniqRatio >= minUniqueRatio)
  }

  /** Gopher-style intra-document repetition signal: the fraction of n-gram
    * occurrences that repeat an earlier n-gram of the same document
    * (1 − distinct/total). Docs too short to form a single n-gram score 0.
    * Pure per-row HOF work — shuffle-free at any corpus size.
    */
  def duplicateNgramFraction(tokens: Column, n: Int): Column = {
    val grams = shingles(tokens, n)
    when(size(grams) <= 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(grams)) / size(grams).cast("double"))
  }

  /** Share of the document taken by its single most frequent token (the
    * other Gopher repetition gate). One sort + one linear aggregate pass
    * per document — O(T log T), not the O(T·U) rescan of counting each
    * distinct token separately.
    */
  def topTokenRatio(tokens: Column): Column = {
    val best = aggregate(
      array_sort(tokens),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, t) => {
        val run =
          when(t === acc.getField("prev"), acc.getField("run") + 1).otherwise(lit(1))
        struct(
          t.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best")
    )
    when(size(tokens) <= 0, lit(0.0))
      .otherwise(best / size(tokens).cast("double"))
  }

  /** PII scrubbing for training corpora: redact emails, IPv4 addresses and
    * TPC-H-style phone numbers with typed placeholders. Patterns are kept to
    * the RE2-compatible subset so Java (Spark) and RE2 (DuckDB/production
    * scrubbers) agree byte-for-byte; replace order is email → ip → phone so
    * the narrower patterns never eat a prior placeholder. Pure codegen
    * `regexp_replace` chain — shuffle-free at any corpus size.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{2,3}-\\d{3}-\\d{3}-\\d{4}\\b"

  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Perplexity-proxy quality scoring: mean negative log-probability per
    * token under the corpus's own unigram LM (the cheap stand-in for the
    * CCNet/KenLM perplexity gate — unusually improbable token mixes score
    * high). Fully relational: one token-level aggregate builds the LM, one
    * equi join + per-doc aggregate scores — both map-side combinable, no
    * HOFs on the join path, no driver round trip for the total (a broadcast
    * single-row cross join carries it).
    *
    * Returns (idCol, n_tokens, avg_neglogp); lower = more typical text.
    */
  def unigramNegLogProb(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val tokens = docs.select(col(idCol), explode(tokenize(col("text"))).as("token"))
    val lm = tokens.groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = broadcast(lm.agg(sum(col("cnt")).as("total")))
    tokens
      .join(lm, Seq("token"))
      .crossJoin(total)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        avg(-log(col("cnt") / col("total"))).as("avg_neglogp"))
  }

  /** Interpolated bigram LM scoring (the next rung above
    * [[unigramNegLogProb]] toward the CCNet/KenLM perplexity gate): mean
    * `−ln(λ·p(cur|prev) + (1−λ)·p(cur))` over a document's token bigrams,
    * with both models estimated from the corpus itself. Interpolation with
    * the unigram model keeps every seen token finite even when the exact
    * bigram is novel to the context.
    *
    * Scale design: the bigram pair stream is a let-bound explode-PROJECTION
    * (no positions are needed downstream, so no windowed lead and no
    * per-document sort shuffle — the Dsir.gramBuckets rule); the bigram /
    * context / unigram models are vocabulary-bounded aggregates with
    * map-side combine; scoring is equi joins against those models plus a
    * single-row broadcast total carrier. Documents with fewer than two
    * tokens have no bigrams and drop out of the result.
    *
    * Returns (idCol, n_bigrams, avg_neglogp); lower = more typical text.
    */
  def bigramNegLogProb(
      docs: DataFrame,
      idCol: String = "doc_id",
      lambda: Double = 0.75): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0, 1]: $lambda")
    val tokens = docs.select(col(idCol), explode(tokenize(col("text"))).as("token"))
    val lm = tokens.groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = broadcast(lm.agg(sum(col("cnt")).as("total")))
    val pairs = docs
      .select(
        col(idCol),
        explode(graft.functions.ArrayOps.bindOnce("toks" -> tokenize(col("text"))) { get =>
          val toks = get("toks")
          // sequence(2, 1) would run DESCENDING for a 1-token array
          when(size(toks) < 2, array().cast("array<struct<prev:string,cur:string>>"))
            .otherwise(
              transform(
                sequence(lit(2), size(toks)),
                i =>
                  struct(
                    element_at(toks, i - 1).as("prev"),
                    element_at(toks, i).as("cur"))))
        }).as("p"))
      .select(col(idCol), col("p.prev").as("prev"), col("p.cur").as("cur"))
    val bi = pairs.groupBy("prev", "cur").agg(count(lit(1)).as("cnt_bi"))
    val ctx = bi.groupBy("prev").agg(sum("cnt_bi").cast("double").as("cnt_ctx"))
    // fold the LM first: compute one neglogp per BIGRAM TYPE with
    // LM-sized joins, then touch the corpus-sized pair stream exactly
    // once. The pre-fold form joined the pair stream through bi, ctx and
    // lm in sequence — three full-stream shuffle joins; at the sf10
    // density corpus that was wall exponent 1.89 on a linear output.
    // The scores join and bi's own groupBy hash on the same (prev, cur)
    // keys, so ReuseExchange plans a single pair-stream exchange for both.
    val scores = bi
      .join(ctx, Seq("prev"))
      .join(lm.withColumnRenamed("token", "cur"), Seq("cur"))
      .crossJoin(total)
      .select(
        col("prev"), col("cur"),
        (-log(
          lit(lambda) * (col("cnt_bi") / col("cnt_ctx"))
            + lit(1.0 - lambda) * (col("cnt") / col("total")))).as("neglogp"))
    pairs
      .join(scores, Seq("prev", "cur"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        avg(col("neglogp")).as("avg_neglogp"))
  }

  /** Per-group token-distribution divergence: `KL(p_group ‖ p_corpus)` of
    * each group's (e.g. source's) unigram distribution against the whole
    * corpus — the mixture-rebalancing diagnostic (a drifted or
    * over-represented slice shows a high KL). No smoothing is needed:
    * every token with `p_group > 0` is by construction present in the
    * corpus, so the ratio is always finite.
    *
    * Scale design: one tokenize pass feeds a (group, token) count — the
    * only corpus-sized shuffle, map-side combinable; the group totals,
    * corpus marginals and grand total are all vocabulary- or
    * group-bounded; the grand total rides a single-row broadcast carrier.
    *
    * Returns (groupCol, n_tokens, kl).
    */
  def groupTokenKl(
      docs: DataFrame,
      groupCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val tokens = docs.select(col(groupCol), explode(tokenize(col(textCol))).as("token"))
    val byGroup = tokens.groupBy(groupCol, "token").agg(count(lit(1)).as("c_g"))
    val groupTot = byGroup.groupBy(groupCol).agg(sum("c_g").as("n_tokens"))
    val corpus = byGroup.groupBy("token").agg(sum("c_g").as("c_c"))
    val corpusTot = broadcast(corpus.agg(sum(col("c_c")).as("total")))
    byGroup
      .join(corpus, Seq("token"))
      .join(groupTot, Seq(groupCol))
      .crossJoin(corpusTot)
      .groupBy(col(groupCol))
      .agg(
        max(col("n_tokens")).as("n_tokens"),
        sum(
          (col("c_g") / col("n_tokens"))
            * log((col("c_g") / col("n_tokens")) / (col("c_c") / col("total")))).as("kl"))
  }

  /** Benchmark decontamination: per document, how many of its distinct
    * n-grams appear in a benchmark (eval-set) corpus. The benchmark is
    * bounded by construction, so its distinct-gram set collapses to a single
    * broadcast row and the document side stays a shuffle-free scan —
    * `array_intersect` against the broadcast set, no explode, no groupBy.
    * (For a benchmark too large to broadcast, the alternative plan is
    * explode doc grams → equi-join the benchmark gram relation → re-group
    * by doc id; that shuffles the full corpus and is only worth it past
    * broadcast limits.)
    *
    * Returns the input's columns minus `text`, plus `n_grams`, `n_matched`
    * and `contamination` (matched fraction, 0 for gram-less docs).
    */
  /** Token-level blocklist gate (the C4 "bad words" filter): a document is
    * flagged when any token (lowercased) is in the blocklist. Token-set
    * membership via `arrays_overlap` against a literal array — shuffle-free
    * codegen projection, no regex scan over the raw text, no join (the
    * blocklist is a bounded curated list that fits in the plan itself).
    * Returns `blocked` plus the matched terms for audit.
    */
  def blocklistFlags(docs: DataFrame, blocklist: Seq[String], textCol: String = "text"): DataFrame = {
    val terms = array(blocklist.map(t => lit(t.toLowerCase)): _*)
    val toks = transform(tokenize(col(textCol)), t => lower(t))
    docs
      .withColumn("matched_terms", array_sort(array_distinct(array_intersect(toks, terms))))
      .withColumn("blocked", size(col("matched_terms")) > 0)
  }

  /** Context-window chunking: split each document's token stream into
    * training windows of `window` tokens advancing by `stride` (overlap =
    * window - stride), one output row per chunk with its token count and
    * re-joined text. The final partial window is kept (training pipelines
    * pad it). Whitespace tokenization of an empty/blank document yields one
    * empty token, so such documents produce a single 1-token chunk with
    * empty text (pinned in RepetitionContaminationSpec); only a null-text
    * token array would be filtered. Pure explode-of-slices projection —
    * shuffle-free, the chunk fan-out is the only row growth.
    */
  def chunkTokens(
      docs: DataFrame,
      window: Int,
      stride: Int,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(window > 0 && stride > 0, s"window/stride must be positive: $window/$stride")
    val toks = tokenize(col(textCol))
    docs
      .withColumn("_toks", toks)
      .filter(size(col("_toks")) > 0)
      .withColumn(
        "_start",
        explode(sequence(lit(0), greatest(size(col("_toks")) - 1, lit(0)), lit(stride))))
      .withColumn("chunk_no", (col("_start") / stride).cast("int"))
      .withColumn("chunk_toks", slice(col("_toks"), col("_start") + 1, lit(window)))
      .select(
        col(idCol),
        col("chunk_no"),
        size(col("chunk_toks")).as("n_tokens"),
        concat_ws(" ", col("chunk_toks")).as("chunk_text"))
  }

  /** Benchmark decontamination: fraction of each document's distinct
    * n-grams that appear in the benchmark's gram set.
    *
    * Scale shape: the benchmark grams stay a broadcast TABLE probed with a
    * hash join on the exploded doc grams, then a map-side-combinable count
    * per `idCol`. The tempting one-row formulation — collect_set the bench
    * grams and `array_intersect` per document — rebuilds a hash set of the
    * ENTIRE benchmark gram set per document row, Θ(docs × bench): measured
    * round 12 at 10× rows/10× bench it went ×100 (23.4 s solo at sf1 vs
    * 1.2 s at sf0.1); the join probe is O(1) per gram and linear overall.
    * `idCol` must identify documents; all non-text columns survive via the
    * final id-keyed join.
    */
  /** Stateless per-row variant of [[contaminationScores]] for STREAMS: the
    * bench grams collapse to a one-row static frame crossed in by broadcast
    * and each row intersects its own grams against it — no aggregation, no
    * state, so it runs under append mode on a document stream unchanged.
    * The per-row intersect rebuilds the bench hash per row, which is the
    * Θ(rows × bench) shape the batch variant deliberately avoids — on a
    * stream the per-micro-batch row count bounds that product, which is
    * exactly why the two variants exist.
    */
  def contaminationScoresPerRow(docs: DataFrame, benchmark: DataFrame, n: Int = 5): DataFrame = {
    val withGrams = docs
      .withColumn("grams", array_distinct(shingles(tokenize(col("text")), n)))
    val benchGrams = benchmark
      .select(explode(array_distinct(shingles(tokenize(col("text")), n))).as("gram"))
      .agg(collect_set(col("gram")).as("bench_grams"))
    val matched = size(array_intersect(col("grams"), col("bench_grams")))
    withGrams
      .crossJoin(broadcast(benchGrams))
      .withColumn("n_grams", size(col("grams")))
      .withColumn("n_matched", matched)
      .withColumn(
        "contamination",
        when(col("n_grams") <= 0, lit(0.0))
          .otherwise(col("n_matched") / col("n_grams").cast("double")))
      .drop("text", "grams", "bench_grams")
  }

  def contaminationScores(
      docs: DataFrame,
      benchmark: DataFrame,
      n: Int = 5,
      idCol: String = "doc_id"): DataFrame = {
    val benchGrams = benchmark
      .select(explode(array_distinct(shingles(tokenize(col("text")), n))).as("gram"))
      .distinct()
      .withColumn("_hit", lit(1))
    val stats = docs
      .select(
        col(idCol),
        array_distinct(shingles(tokenize(col("text")), n)).as("_grams"))
      .select(
        col(idCol),
        size(col("_grams")).as("n_grams"),
        explode_outer(col("_grams")).as("gram"))
      .join(broadcast(benchGrams), Seq("gram"), "left")
      .groupBy(col(idCol), col("n_grams"))
      .agg(count(col("_hit")).cast("int").as("n_matched"))
    docs
      .drop("text")
      .join(stats, Seq(idCol), "left")
      .withColumn(
        "contamination",
        when(col("n_grams") <= 0, lit(0.0))
          .otherwise(col("n_matched") / col("n_grams").cast("double")))
  }

  /** Okapi BM25 relevance of every document against a small fixed
    * query-term bag — retrieval scoring for quality-aware curation
    * (topical subsetting, retrieval-style decontamination shortlists).
    * idf uses the +1 smoothing: idf_t = ln(1 + (N − df_t + 0.5)/(df_t +
    * 0.5)), so absent terms (df = 0) stay finite and contribute 0 via
    * tf = 0.
    *
    * Scale shape — two corpus passes, no per-term re-tokenize, no
    * doc-side join: one explode pass reduces tokens to per-doc
    * (dl, tf_t…) rows (map-side-combinable groupBy keyed by the doc id,
    * the Dedup.signatures pattern — the round-5 lesson about HOF kernels
    * re-inlining the tokenize child per term reference is why this is NOT
    * |terms| `filter()` HOF columns); the corpus constants (N, avgdl,
    * df_t…) reduce to ONE row that rides a broadcast crossJoin carrier;
    * the score itself is a single whole-stage-codegen projection.
    */
  def bm25Scores(
      docs: DataFrame,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "bm25Scores: query terms must be non-empty")
    val t = terms.map(_.toLowerCase).distinct
    val perDoc = docs
      .select(col(idCol), explode(tokenize(lower(col(textCol)))).as("term"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("dl"),
        t.indices.map(i =>
          sum(when(col("term") === t(i), 1L).otherwise(0L)).as(s"tf_$i")): _*)
    val statCols =
      count(lit(1)).as("n_docs") +: avg(col("dl")).as("avgdl") +:
        t.indices.map(i => sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    // fixed term order keeps the floating-point sum bit-comparable with the
    // oracle's identically-ordered expression
    val score = t.indices
      .map { i =>
        val idf = log(
          lit(1.0) + (col("n_docs") - col(s"df_$i") + lit(0.5)) / (col(s"df_$i") + lit(0.5)))
        idf * col(s"tf_$i") * lit(k1 + 1.0) /
          (col(s"tf_$i") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
      }
      .reduce(_ + _)
    perDoc
      .crossJoin(broadcast(stats))
      .select(col(idCol), round(score, 6).as("bm25"))
  }

  /** Document-term TF-IDF with smoothed idf
    * (`ln((N+1)/(df+1)) + 1`, the sklearn smoothing so unseen-term idf
    * stays finite) — the classic sparse retrieval/keyword-extraction
    * weighting next to [[bm25Scores]].
    *
    * Scale shape: tokenize → explode → one `(doc, term)` hash aggregation
    * (map-side combinable); document frequency is a map-side-combinable
    * `groupBy(term).count` joined back on the term key — NOT a
    * `Window.partitionBy(term)`, which would buffer every row of a term in
    * ONE task's window partition: a stopword term appears in ~every
    * document, so the window form single-tasks (and spills) nearly the
    * whole corpus at scale, while the join streams it and AQE splits any
    * skewed term across tasks. The corpus size N rides a single-row
    * broadcast carrier. Nothing here is vocabulary-bounded in driver
    * memory.
    */
  def tfidf(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val dt = docs
      .select(col(idCol), explode(tokenize(lower(col(textCol)))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = dt.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val withDf = dt
      .join(dfreq, Seq("term"))
      .select(col(idCol), col("term"), col("tf"), col("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    withDf
      .crossJoin(broadcast(n))
      .withColumn(
        "tfidf",
        col("tf") * (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)))
      .drop("n_docs")
  }

  /** Sparse cosine top-k retrieval over TF-IDF vectors via the INVERTED
    * INDEX join: query and corpus documents are weighted in one shared
    * [[tfidf]] space, pairs meet on their common terms (a term-keyed
    * equi-join — the sparse analogue of the IVF bucket join; never
    * all-pairs), partial dot products aggregate per (query, doc), and a
    * window keeps the k best per query. Documents sharing no term with a
    * query are — correctly — never scored.
    *
    * @param isQuery predicate over the docs frame splitting queries from
    *                the corpus (query docs are excluded from the corpus
    *                side, so there are no self-matches)
    * @return `(query_id, doc_id, cosine)`, k rows per query
    */
  def sparseCosineTopK(
      docs: DataFrame,
      isQuery: Column,
      k: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val w = tfidf(docs, idCol, textCol)
      .join(docs.select(col(idCol), isQuery.as("_q")), Seq(idCol))
    val norms = w.groupBy(col(idCol))
      .agg(sqrt(sum(col("tfidf") * col("tfidf"))).as("_norm"))
    // Repartition by the inverted-index key BEFORE splitting into the
    // query/corpus branches: the two branches' subtrees below the filters
    // are then canonically IDENTICAL down to this exchange, so
    // ReuseExchange materialises the whole tfidf→norms→weighted chain
    // ONCE (it used to run twice, once per branch — 2× the dominant
    // token-aggregation cost), and both sides of the term join arrive
    // already clustered by term, so the join plans no exchange of its own
    // (guide §2.4). Trade-off noted: a co-partitioned join is outside
    // AQE's skew-split, but inverted-index skew is bounded here by the
    // df-weighting and the query side is a small filtered subset.
    val weighted = w.join(norms, Seq(idCol))
      .select(col(idCol), col("_q"), col("term"), (col("tfidf") / col("_norm")).as("_w"))
      .repartition(col("term"))
    val q = weighted.filter(col("_q"))
      .select(col(idCol).as("query_id"), col("term"), col("_w").as("_wq"))
    val c = weighted.filter(!col("_q"))
      .select(col(idCol).as("doc_id"), col("term"), col("_w").as("_wc"))
    val scored = q.join(c, Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("_wq") * col("_wc")).as("cosine"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("doc_id").asc)
    scored
      .withColumn("_rk", row_number().over(win))
      .filter(col("_rk") <= k)
      .drop("_rk")
  }

  /** The `k` highest-tfidf terms per document (keyword extraction);
    * deterministic under ties via the term tiebreak.
    */
  def topTfidfTerms(
      docs: DataFrame,
      k: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term").asc)
    tfidf(docs, idCol, textCol)
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k)
      .drop("_rk")
  }
}
