package graft.harness

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Dedup, Dsir, Similarity, TextOps, TextPipeline}

/** Oracle-checked queries for the LLM-training-data-pipeline operators:
  * near-dedup (MinHash/LSH, SimHash, Jaccard), similarity search (exact and
  * LSH-bucketed ANN), and text analysis.
  */
object TextQueries {
  import Tables._

  /** The documents table arrives as one small file → one partition; spread
    * it so per-document kernels use all cores. Gated on the scan's actual
    * partition count (Tables.parallel): at production scale the scan is
    * already many-way parallel and NO exchange is planned.
    */
  private def docsParallel(s: SparkSession, d: String): DataFrame =
    Tables.parallel(s, documents(s, d))

  private def withTokens(df: DataFrame): DataFrame =
    df.withColumn("toks", TextOps.tokenize(col("text")))

  /** Tokens and shingles materialised as columns — interpreted HOF lambdas
    * re-evaluate inlined child expressions per element, so chaining through
    * columns is a >10× win for the signature kernels.
    */
  private def withShingles(df: DataFrame): DataFrame =
    withTokens(df).withColumn("shingles", TextOps.shingles(col("toks")))

  /** MinHash signature per document (16 seeded md5 minima over 3-shingles). */
  def minhash(s: SparkSession, d: String): DataFrame =
    withShingles(docsParallel(s, d))
      .select(
        col("doc_id"),
        concat_ws(",", TextOps.minhashSignature(col("shingles"))).as("sig")
      )

  /** LSH candidate pairs: docs sharing ≥1 of 8 two-row bands. */
  def lshPairs(s: SparkSession, d: String): DataFrame =
    Dedup.candidatePairs(Dedup.signatures(docsParallel(s, d)))

  /** Candidates + exact 3-gram Jaccard verification. */
  def nearDup(s: SparkSession, d: String): DataFrame =
    Dedup.verifiedPairs(docsParallel(s, d))

  /** 16-bit SimHash per document. */
  def simhash(s: SparkSession, d: String): DataFrame =
    withTokens(docsParallel(s, d))
      .select(col("doc_id"), TextOps.simhash16(col("toks")).as("simhash"))

  /** SimHash-banded near-dup pairs: 60-bit relational fingerprint, 4×15-bit
    * band candidate join, exact Hamming ≤ 3 verification
    * (operators/Dedup.scala simhashCandidatePairs).
    */
  def simhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.simhashCandidatePairs(docsParallel(s, d))

  /** SemDeDup semantic dedup (operators/Similarity.scala semanticDedup):
    * deterministic vec_id % 23 IVF codebook, within-cell cosine ≥ 0.2
    * duplicate pairs, pointer-jumping components, min-id representative
    * per component.
    */
  def semanticDedupQuery(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).repartition(s.sparkContext.defaultParallelism)
    val centroids = emb.filter(col("vec_id") % 23 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    Similarity.semanticDedup(emb, centroids, threshold = 0.2)
  }

  /** Okapi BM25 against a fixed 4-term query bag — two present corpus
    * terms of different rarity ('vector' common, 'dup' rare), one term in
    * only some docs ('spark'), one absent ('quantum', df = 0 exercises the
    * idf smoothing).
    */
  def bm25Query(s: SparkSession, d: String): DataFrame =
    TextOps.bm25Scores(docsParallel(s, d), Seq("vector", "dup", "spark", "quantum"))

  /** Distributed Gram matrix (operators/Pca.gramStats): the one-pass
    * sufficient statistic of PCA over the first 16 embedding dims,
    * emitted as upper-triangular (i, j, Σ xᵢxⱼ) cells. The oracle is the
    * naive unnest-twice double sum.
    */
  def gramQuery(s: SparkSession, d: String): DataFrame = {
    val stats = graft.operators.Pca.gramStats(
      s.read.parquet(s"$d/embeddings.parquet"), "embedding", dims = 16)
    val dims = stats.dims
    val cells = for { i <- 0 until dims; j <- i until dims }
      yield (i, j, BigDecimal(stats.gram(i * dims + j)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    import s.implicits._
    cells.toDF("i", "j", "v")
  }

  /** Deterministic JL random projection (operators/Pca.randomProject):
    * 16 → 8 dims with md5-derived signs the oracle regenerates in SQL.
    * Quantisation is an explicit `floor(v*1e4 + 0.5)/1e4` on the double —
    * the same formula the oracle applies — so no engine-specific `round`
    * semantics sit on the comparison boundary; the oracle additionally pins
    * its summation order to match [[graft.functions.expressions.DotProduct]]
    * (left-to-right over d), making the pre-quantisation doubles
    * bit-identical rather than merely close.
    */
  def randomProjQuery(s: SparkSession, d: String): DataFrame =
    graft.operators.Pca
      .randomProject(
        s.read.parquet(s"$d/embeddings.parquet"), "embedding", dims = 16, outDims = 8)
      .select(col("vec_id"), posexplode(col("embedding_rp")).as(Seq("k", "v")))
      .select(
        col("vec_id"),
        col("k"),
        (floor(col("v").cast("double") * lit(1e4) + lit(0.5)) / lit(1e4)).as("v"))

  /** Incremental near-dup (operators/Dedup.incrementalNearDup): every 10th
    * doc is the "new batch", the rest the published reference — candidates
    * are new×ref band collisions only, verified at Jaccard ≥ 0.5.
    */
  def incrNearDup(s: SparkSession, d: String): DataFrame = {
    val docs = docsParallel(s, d)
    Dedup
      .incrementalNearDup(
        Dedup.signatures(docs.filter(col("doc_id") % 10 === 0)),
        Dedup.signatures(docs.filter(col("doc_id") % 10 =!= 0)),
        threshold = 0.5)
      .select(col("new_id"), col("ref_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Sparse cosine top-5 retrieval (operators/TextOps.sparseCosineTopK):
    * every 50th doc queries the rest through the shared TF-IDF space via
    * the inverted-index term join.
    */
  def sparseTopK(s: SparkSession, d: String): DataFrame =
    TextOps
      .sparseCosineTopK(docsParallel(s, d), col("doc_id") % 50 === 0, k = 5)
      .select(col("query_id"), col("doc_id"), round(col("cosine"), 6).as("cosine"))

  /** Exact Jaccard ≥ 0.5 set-similarity self-join with prefix filtering
    * (operators/Dedup.setSimilarityJoin); the oracle verifies EVERY pair
    * exhaustively via the token equi-join, so a prefix-filter false
    * negative would show as a missing row.
    */
  def setSimJoin(s: SparkSession, d: String): DataFrame =
    Dedup
      .setSimilarityJoin(docsParallel(s, d), theta = 0.8, shingle = 3)
      .select(col("doc_a"), col("doc_b"), round(col("jacc"), 6).as("jacc"))

  /** Asymmetric containment self-join (operators/Dedup.containmentJoin —
    * quote/excerpt detection): |S(a)∩S(b)| / |S(a)| ≥ 0.8 over the same
    * 3-shingle sets as q_setsim_join, ordered pairs both directions.
    */
  def containmentJoinQ(s: SparkSession, d: String): DataFrame =
    Dedup
      .containmentJoin(docsParallel(s, d), theta = 0.8, shingle = 3)
      .select(
        col("inner_doc"), col("outer_doc"),
        round(col("containment"), 6).as("containment"))

  /** Incremental containment (operators/Dedup.incrementalContainmentJoin):
    * every 10th doc is the "new batch", the rest the published reference
    * (its side entering only as a containmentArtifact — postings, sizes,
    * prefix flags). Both asymmetric directions at θ = 0.8, over the same
    * 3-shingles as q_containment_join; the oracle verifies every cross
    * pair exhaustively, so a prefix or artifact false negative shows as a
    * missing row.
    */
  // The operator's contract is a PUBLISHED artifact (Dedup.containmentArtifact
  // scaladoc): its one plan scans stored postings four times and never
  // re-shingles the reference. Built live, the artifact chain (shingle
  // explode → distinct → df join → two windows over 90% of the corpus) was
  // recomputed by each of those scans — 53.1 s at sf0.1 (round-18
  // baseline). So the query publishes it the way a caller would: written
  // once as parquet under the JVM's scratch root and read back through its
  // declared schema, with nothing persisted and nothing held between builds.
  def containmentIncrQ(s: SparkSession, d: String): DataFrame = {
    val docs = docsParallel(s, d)
    val art = Dedup.containmentArtifact(
      docs.filter(col("doc_id") % 10 =!= 0), minTheta = 0.8, shingle = 3)
    val path = graft.core.TempRoot.jvm.dir("graft-cart").resolve("art").toString
    art.write.parquet(path)
    Dedup
      .incrementalContainmentJoin(
        docs.filter(col("doc_id") % 10 === 0), s.read.schema(art.schema).parquet(path),
        theta = 0.8, shingle = 3)
      .select(
        col("inner_doc"), col("outer_doc"),
        round(col("containment"), 6).as("containment"), col("side"))
  }

  /** Keyword extraction: top-3 smoothed-TF-IDF terms per document
    * (operators/TextOps.topTfidfTerms).
    */
  def tfidfQuery(s: SparkSession, d: String): DataFrame =
    TextOps
      .topTfidfTerms(docsParallel(s, d), 3)
      .select(
        col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tfidf"), 6).as("tfidf"))

  /** DSIR importance weights: target domain = 4 of the 20 sources, raw =
    * the whole corpus (operators/Dsir.scala).
    */
  private val DsirTarget = Seq("src0", "src1", "src2", "src3")

  private def dsirWeightFrame(s: SparkSession, d: String): DataFrame = {
    val docs = docsParallel(s, d)
    val ratios =
      Dsir.bucketLogRatios(docs, docs.filter(col("source").isInCollection(DsirTarget)))
    Dsir.importanceWeights(docs, ratios)
  }

  /** Substring-level dedup (Lee et al. 2021): maximal spans of corpus-wide
    * duplicated 5-grams per document (operators/Dedup.scala).
    */
  def dupSpans(s: SparkSession, d: String): DataFrame =
    Dedup.duplicatedSpans(docsParallel(s, d))

  /** Token-level removal of duplicated-5-gram spans, text reassembled. */
  def spanScrub(s: SparkSession, d: String): DataFrame =
    Dedup.scrubDuplicatedSpans(docsParallel(s, d))

  def dsirWeights(s: SparkSession, d: String): DataFrame =
    dsirWeightFrame(s, d)
      .select(col("doc_id"), round(col("weight"), 6).as("weight"))

  /** Gumbel-top-50 DSIR selection (deterministic md5-derived noise). */
  def dsirSelect(s: SparkSession, d: String): DataFrame =
    Dsir.gumbelTopK(dsirWeightFrame(s, d), k = 50)
      .select(col("doc_id"), round(col("score"), 6).as("score"))

  /** Per-document quality statistics. */
  def textStats(s: SparkSession, d: String): DataFrame = {
    val en = TextOps.StopwordsByLang.toMap.apply("en")
    withTokens(docsParallel(s, d)).select(
      col("doc_id"),
      size(col("toks")).as("n_tokens"),
      length(col("text")).as("n_chars_calc"),
      round(
        aggregate(col("toks"), lit(0), (acc, t) => acc + length(t)) / size(col("toks"))
          .cast("double"),
        6
      ).as("avg_token_len"),
      round(
        TextOps.stopwordHits(col("toks"), en) / size(col("toks")).cast("double"), 6
      ).as("stopword_ratio"),
      round(size(array_distinct(col("toks"))) / size(col("toks")).cast("double"), 6)
        .as("uniq_ratio")
    )
  }

  /** Stopword-vote language identification. */
  def langIdQuery(s: SparkSession, d: String): DataFrame =
    withTokens(docsParallel(s, d))
      .select(col("doc_id"), TextOps.langId(col("toks")).as("lang_pred"))

  /** k-min-sketch document fingerprint. */
  def fingerprintQuery(s: SparkSession, d: String): DataFrame =
    withShingles(docsParallel(s, d))
      .select(col("doc_id"), TextOps.fingerprint(col("shingles")).as("fp"))

  /** BPE-ish token counting. */
  def bpeCount(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"), TextOps.bpeTokenCount(col("text")).as("n_bpe"))

  /** Hand-authored merges table in the public merges.txt format — small
    * enough that every merge SEQUENCE below is hand-computed in the oracle:
    *   hello   → [hello]            (he→ll→hell→hello, 1 token)
    *   " world"→ [Ġworld]           (wo→wor→worl→world, then Ġ+world merges)
    *   " lower"→ [Ġ, l, ower]       (ow wins over lo: rank 2 < 7)
    *   " newer"→ [Ġ, new, er]       (er fires before ne: rank 3 < 10)
    *   " hello"→ [Ġhello]
    */
  private val bpeMergesTxt =
    """#version: 0.2 (graft hand-authored)
      |h e
      |l l
      |o w
      |e r
      |he ll
      |hell o
      |ow er
      |l o
      |lo w
      |n e
      |ne w
      |w o
      |wo r
      |wor l
      |worl d
      |Ġ world
      |Ġ hello""".stripMargin

  /** Real merges-table BPE ([[graft.functions.Bpe]]): GPT-2 pre-tokenizer
    * regex, byte→unicode alphabet, iterated lowest-rank merges, the table a
    * plan-constant inside whole-stage codegen. Texts are built from a
    * closed 5-word vocabulary chosen by doc_id arithmetic so the oracle
    * can reproduce both the token COUNT and the exact SYMBOL SEQUENCE of
    * every document by hand-computed CASE arithmetic — an independent
    * derivation from the merge rules, not from the encoder.
    */
  def bpeTokens(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Bpe
    val ranks = Bpe.loadMergesFromString(bpeMergesTxt)
    val k = col("doc_id")
    val vocab = array(lit(" world"), lit(" lower"), lit(" newer"), lit(" hello"))
    def pick(j: Int) = element_at(vocab, ((k + j) % 4 + 1).cast("int"))
    val nWords = k % 3 + 1
    val text = concat(
      lit("hello") +: (1 to 3).map(j =>
        when(lit(j) <= nWords, pick(j)).otherwise(lit(""))): _*)
    documents(s, d)
      .select(col("doc_id"), text.as("text"))
      .select(
        col("doc_id"),
        Bpe.tokenCount(col("text"), ranks).as("n_bpe"),
        concat_ws("|", Bpe.tokens(col("text"), ranks)).as("toks"),
        // ids under the deterministic vocab (byte value for base symbols,
        // 256+rank for merged): hello=261 Ġworld=271 Ġ=32 l=108 ower=262
        // new=266 er=259 Ġhello=272 — each hand-derivable from the table
        concat_ws("|", Bpe.tokenIds(col("text"), ranks)).as("ids"))
  }

  /** Exact cosine top-5 for query vectors (vec_id < 20), brute force over a
    * broadcast query set.
    */
  def cosineTopK(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).repartition(s.sparkContext.defaultParallelism)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20), k = 5)
  }

  /** Paragraph-level exact dedup (operators/TextPipeline.paragraphDedup):
    * documents are augmented with two synthetic paragraphs — one shared
    * across every doc_id % 20 class (heavily duplicated) and one shared per
    * doc_id % 7 class — so the corpus-wide keep-first rule does real work.
    * Output is hashed (md5 + length) to keep the compare frame small.
    */
  def paraDedup(s: SparkSession, d: String): DataFrame = {
    val mp = docsParallel(s, d).select(
      col("doc_id"),
      concat_ws(
        "\n\n",
        col("text"),
        concat(lit("shared fragment "), (col("doc_id") % 20).cast("string")),
        concat(lit("tail "), (col("doc_id") % 7).cast("string"))).as("text"))
    TextPipeline.paragraphDedup(mp)
      .select(
        col("doc_id"),
        md5(col("text")).as("text_md5"),
        length(col("text")).as("text_len"))
  }

  /** Token-budget source mixing (operators/TextPipeline.sampleToTokenBudget):
    * per-source keep fractions min(1, budget/available) computed
    * relationally, then the deterministic md5 keep rule. src0's budget
    * exceeds its corpus (fraction 1), src1 keeps a slice, src2 almost
    * nothing.
    */
  def tokenBudget(s: SparkSession, d: String): DataFrame =
    TextPipeline
      .sampleToTokenBudget(
        docsParallel(s, d),
        Map("src0" -> 100000L, "src1" -> 2000L, "src2" -> 50L))
      .select(col("doc_id"), col("source"))

  /** Token-level blocklist gate (operators/TextOps.blocklistFlags):
    * arrays_overlap-style membership against a literal term array,
    * shuffle-free; matched terms surfaced sorted for audit.
    */
  def blocklist(s: SparkSession, d: String): DataFrame =
    TextOps
      .blocklistFlags(docsParallel(s, d), Seq("the", "quantum", "xylophone"))
      .select(
        col("doc_id"),
        col("blocked"),
        array_join(col("matched_terms"), "|").as("matched"))

  /** Context-window chunking (operators/TextOps.chunkTokens): 64-token
    * windows advancing by 48 (16-token overlap), final partial window kept.
    * Chunk text is md5'd for the compare frame.
    */
  def chunk(s: SparkSession, d: String): DataFrame =
    TextOps
      .chunkTokens(docsParallel(s, d), window = 64, stride = 48)
      .select(
        col("doc_id"), col("chunk_no"), col("n_tokens"),
        md5(col("chunk_text")).as("chunk_md5"))

  /** Near-dup components from candidate pairs (operators/Dedup.scala
    * connectedComponents): distributed min-label propagation over a
    * synthetic pair graph with multi-hop chains (k ↔ k-1 inside 5-blocks)
    * and cross-chain merges (k ↔ k-7 at k % 35 == 0), so convergence takes
    * genuinely iterative rounds. Oracle = recursive-CTE reachability
    * closure. Component = min id, the canonical-doc convention.
    */
  def dedupComponents(s: SparkSession, d: String): DataFrame = {
    val k = col("p_partkey") % 500
    val nodes = part(s, d).select(k.as("k")).distinct()
    val chain = nodes
      .filter(col("k") % 5 =!= 0)
      .select(col("k").as("l_id"), (col("k") - 1).as("r_id"))
    val merges = nodes
      .filter(col("k") % 35 === 0 && col("k") > 0)
      .select(col("k").as("l_id"), (col("k") - 7).as("r_id"))
    Dedup.connectedComponents(chain.unionByName(merges).distinct())
  }

  /** LSH-bucketed ANN top-3 for query vectors (vec_id < 50): 2 hash tables
    * (OR-amplification) x 6 planes = 64 buckets/table, sized by the
    * numPlanes ~ log2(N / bucketSize) rule for this corpus (N = 500–2,000;
    * the 16-plane library default targets ~10^9 vectors).
    */
  def annLsh(s: SparkSession, d: String): DataFrame =
    Similarity.annTopKMulti(
      Similarity.lshBucketsMulti(
        embeddings(s, d).repartition(s.sparkContext.defaultParallelism),
        numTables = 2, numPlanes = 6),
      col("vec_id") < 50, k = 3)

  /** IVF-bucketed ANN: vectors partitioned by nearest deterministic centroid
    * (vec_id % 23 == 0, ~sqrt(N) centroids at the correctness SF per the IVF
    * sizing rule), queries probe their own cell, top-3 by cosine.
    */
  def annIvf(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).repartition(s.sparkContext.defaultParallelism)
    val centroids = emb.filter(col("vec_id") % 23 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    Similarity.annTopK(Similarity.ivfAssign(emb, centroids), col("vec_id") < 30, k = 3)
  }

  /** Batch projection of the streaming ANN lookup
    * (streaming/StreamingOps.scala annTopKStreamTwin): the exact candidate
    * plan annTopKStream executes per micro-batch — query-side zero-exchange
    * cell assignment, stream-static equi join on the cell id against the
    * pre-assigned corpus, per-query top-k. Query/corpus split mirrors
    * q_ann_ivf, so the windowed rank must reproduce its result set;
    * StreamingOpsSpec pins the live stream to this same frame.
    */
  def annStreamTwin(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).repartition(s.sparkContext.defaultParallelism)
    val centroids = emb.filter(col("vec_id") % 23 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    graft.streaming.StreamingOps.annTopKStreamTwin(
      emb.filter(col("vec_id") < 30),
      Similarity.ivfAssign(emb, centroids),
      centroids,
      k = 3)
      .select(col("qId").as("q_id"), col("neighborId").as("neighbor_id"), col("cos"))
  }

  /** One relational Lloyd iteration exposed end-to-end: the q_ann_ivf
    * assignment refined to per-cell means (operators/Similarity.scala
    * kmeansIteration). The refined centroid table is exploded per dimension
    * for the oracle — the driver cannot hash-compare array cells.
    */
  def ivfRefine(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).repartition(s.sparkContext.defaultParallelism)
    val centroids = emb.filter(col("vec_id") % 23 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    Similarity.kmeansIteration(Similarity.ivfAssign(emb, centroids))
      .select(col("centroid_id"), posexplode(col("embedding")))
      .select(
        col("centroid_id"),
        (col("pos") + 1).as("dim"),
        round(col("col"), 6).as("mean_val"))
  }

  /** Multi-probe IVF ANN: corpus bucketed by nearest cell, queries probe
    * their top-2 cells (operators/Similarity.scala ivfProbes — the standard
    * IVF recall knob), top-3 by cosine over the union of probed cells.
    */
  def annIvfProbe(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).repartition(s.sparkContext.defaultParallelism)
    val centroids = emb.filter(col("vec_id") % 23 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    Similarity.annTopKProbed(
      Similarity.ivfAssign(emb, centroids),
      Similarity.ivfProbes(emb.filter(col("vec_id") < 30), centroids, nprobe = 2),
      k = 3)
  }

  /** Int8 scalar quantization of the embedding column (operators/
    * Similarity.scala quantizeEmbedding), exploded per dimension for the
    * oracle: per-vector offset/scale floats + the tinyint level of every
    * element.
    */
  def embedQuant(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .withColumn("qe", Similarity.quantizeEmbedding(col("embedding")))
      .select(
        col("vec_id"), col("qe.offset").as("offset"), col("qe.scale").as("scale"),
        posexplode(col("qe.q")).as(Seq("pos", "qval")))
      .select(
        col("vec_id"), col("offset"), col("scale"),
        (col("pos") + 1).cast("int").as("dim"),
        col("qval").cast("int").as("qval"))

  /** Product-quantization encode (operators/Similarity.scala pqEncode):
    * 4 subspaces × 16 dims, per-subspace nearest-centroid codes over the
    * vec_id % 29 seed codebook — one (vec_id, subspace, code) row each.
    */
  def pqEncodeQuery(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).repartition(s.sparkContext.defaultParallelism)
    val cent = emb.filter(col("vec_id") % 29 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    Similarity.pqEncode(emb, cent)
  }

  /** PQ asymmetric-distance top-5: full-precision queries (vec_id < 20)
    * scored against the corpus THROUGH ITS CODES only (operators/
    * Similarity.scala pqAdcTopK) — broadcast per-query LUT, m lookups per
    * candidate.
    */
  def pqAdc(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).repartition(s.sparkContext.defaultParallelism)
    val cent = emb.filter(col("vec_id") % 29 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    Similarity.pqAdcTopK(
      Similarity.pqEncode(emb, cent),
      emb.filter(col("vec_id") < 20),
      cent,
      k = 5)
  }

  /** Residual IVF+PQ ADC top-5 (operators/Similarity.scala ivfPqEncode +
    * ivfPqAdcTopK): coarse cells from the vec_id % 23 seed, residual
    * codebook from the residuals of non-coarse vec_id % 29 == 1 vectors
    * (coarse members have an identically-zero residual — a degenerate,
    * NaN-norm codeword), queries probe their top-2 cells. Candidates are
    * scored through bucket + m codes only: q·c_bucket + Σ q_s·r̂_s.
    */
  def ivfPq(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).repartition(s.sparkContext.defaultParallelism)
    val coarse = emb.filter(col("vec_id") % 23 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val pqCents = Similarity.ivfResiduals(emb, coarse)
      .filter(col("vec_id") % 29 === 1 && col("vec_id") % 23 =!= 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    Similarity.ivfPqAdcTopK(
      Similarity.ivfPqEncode(emb, coarse, pqCents),
      emb.filter(col("vec_id") < 20),
      coarse,
      pqCents,
      k = 5,
      nprobe = 2)
  }

  /** Exact re-rank of the PQ ADC shortlist (operators/Similarity.scala
    * rerankTopK): the q_pq_adc search widened to a 10-candidate shortlist,
    * then re-scored against the FULL-precision vectors and cut to top-5 by
    * exact cosine — the standard last stage of a compressed-index search.
    */
  def rerank(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d).repartition(s.sparkContext.defaultParallelism)
    val cent = emb.filter(col("vec_id") % 29 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val shortlist = Similarity.pqAdcTopK(
      Similarity.pqEncode(emb, cent),
      emb.filter(col("vec_id") < 20),
      cent,
      k = 10)
    Similarity.rerankTopK(shortlist, emb, k = 5)
  }

  /** C4-style composite quality gate per document. */
  def qualityFilter(s: SparkSession, d: String): DataFrame =
    withTokens(docsParallel(s, d)).select(
      col("doc_id"),
      TextOps.qualityPredicate(col("toks"), minTokens = 20, minStopwordRatio = 0.02)
        .as("keep")
    )

  /** Embedding-cosine near-duplicate pairs (multi-table bucketed candidates,
    * deduped across tables, cos ≥ 0.2).
    */
  def embedDedup(s: SparkSession, d: String): DataFrame =
    Similarity.embeddingNearDupPairsMulti(
      Similarity.lshBucketsMulti(
        embeddings(s, d).repartition(s.sparkContext.defaultParallelism),
        numTables = 2, numPlanes = 6),
      threshold = 0.2)

  /** Gopher-style intra-document repetition gates: duplicate 2-/3-gram
    * occurrence fractions + most-frequent-token share.
    */
  def repetitionStats(s: SparkSession, d: String): DataFrame =
    withTokens(docsParallel(s, d)).select(
      col("doc_id"),
      round(TextOps.duplicateNgramFraction(col("toks"), 2), 6).as("dup_2gram_frac"),
      round(TextOps.duplicateNgramFraction(col("toks"), 3), 6).as("dup_3gram_frac"),
      round(TextOps.topTokenRatio(col("toks")), 6).as("top_token_ratio")
    )

  /** Benchmark decontamination: distinct 5-gram overlap of every document
    * against the bounded eval set (doc_id % 97 == 0), broadcast as one
    * gram-set row.
    */
  def contaminationQuery(s: SparkSession, d: String): DataFrame =
    TextOps
      .contaminationScores(
        docsParallel(s, d).select(col("doc_id"), col("text")),
        documents(s, d).filter(col("doc_id") % 97 === 0),
        n = 5)
      .select(
        col("doc_id"), col("n_grams"), col("n_matched"),
        round(col("contamination"), 6).as("contamination"))

  /** One-call corpus cleaning (operators/TextPipeline.cleanCorpus): the
    * C4/Gopher gate sequence + exact and near dedup, with keep flag and
    * first-failing-gate reason.
    */
  def cleanCorpus(s: SparkSession, d: String): DataFrame =
    graft.operators.TextPipeline
      .cleanCorpus(docsParallel(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("keep"), col("reason"))

  /** Deterministic stratified source mixing (operators/TextPipeline
    * .stratifiedSample): md5-hash keep decision per doc against per-source
    * fractions; src0/src1/src2 at 1.0/0.5/0.25, everything else dropped.
    */
  def sampleMix(s: SparkSession, d: String): DataFrame =
    graft.operators.TextPipeline
      .stratifiedSample(
        documents(s, d).select(col("doc_id"), col("source")),
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25))
      .select(col("doc_id"), col("source"))

  /** Sequence packing (operators/TextPipeline.packSequences): 256-token
    * budget, packed per source stratum, membership serialized for the
    * driver's row sort.
    */
  def seqPack(s: SparkSession, d: String): DataFrame =
    graft.operators.TextPipeline
      .packSequences(docsParallel(s, d), tokenBudget = 256)
      .select(
        col("source"), col("seq_no"),
        array_join(transform(col("doc_ids"), x => x.cast("string")), "|")
          .as("doc_ids"),
        col("token_total"), col("n_docs"))

  /** Perplexity-proxy scoring (operators/TextOps.unigramNegLogProb): mean
    * −ln p(token) under the corpus unigram LM.
    */
  def unigramPpl(s: SparkSession, d: String): DataFrame =
    TextOps
      .unigramNegLogProb(documents(s, d).select(col("doc_id"), col("text")))
      .select(
        col("doc_id"), col("n_tokens"),
        round(col("avg_neglogp"), 6).as("avg_neglogp"))

  /** Per-source token-distribution KL vs the corpus
    * (operators/TextOps.groupTokenKl) — the mixture-rebalancing diagnostic.
    */
  def tokenKl(s: SparkSession, d: String): DataFrame =
    TextOps
      .groupTokenKl(documents(s, d).select(col("source"), col("text")))
      .select(col("source"), col("n_tokens"), round(col("kl"), 6).as("kl"))

  /** Interpolated bigram LM scoring (operators/TextOps.bigramNegLogProb):
    * mean −ln(0.75·p(cur|prev) + 0.25·p(cur)) over each doc's bigrams.
    */
  def bigramPpl(s: SparkSession, d: String): DataFrame =
    TextOps
      .bigramNegLogProb(documents(s, d).select(col("doc_id"), col("text")))
      .select(
        col("doc_id"), col("n_bigrams"),
        round(col("avg_neglogp"), 6).as("avg_neglogp"))

  /** PII scrubbing (operators/TextOps.scrubPii): emails/IPs/phones planted
    * from customer rows, redacted with typed placeholders.
    */
  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val c = col("c_custkey")
    val phone = concat(
      (c % 90 + 10).cast("string"), lit("-"),
      (c % 900 + 100).cast("string"), lit("-"),
      ((c * 3) % 900 + 100).cast("string"), lit("-"),
      ((c * 7) % 9000 + 1000).cast("string"))
    val planted = customer(s, d).select(
      c.as("doc_id"),
      concat(
        col("c_name"), lit(" contact user"), c.cast("string"),
        lit("@example.com or "), phone,
        lit(" from 10.0."), (c % 256).cast("string"),
        lit("."), ((c * 7) % 256).cast("string")).as("text"))
    planted.select(
      col("doc_id"), TextOps.scrubPii(col("text")).as("scrubbed"))
  }

  // -- oracles ---------------------------------------------------------------

  private val ShinglesSql =
    """tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      |sh AS (SELECT doc_id, list_transform(range(1, len(toks) - 1),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles FROM tok)""".stripMargin

  private val SigSql =
    s"""$ShinglesSql,
       |sig AS (SELECT doc_id, list_transform(range(0, 16),
       |  j -> list_aggregate(list_transform(shingles, sh2 -> md5('s' || CAST(j AS VARCHAR) || ':' || sh2)), 'min')) AS sig
       |  FROM sh)""".stripMargin

  private val BandsSql =
    s"""$SigSql,
       |bands AS (SELECT doc_id, b, md5(sig[b*2+1] || sig[b*2+2]) AS bh FROM sig, range(0, 8) t(b)),
       |pairs AS (SELECT a.doc_id AS l_doc, b.doc_id AS r_doc FROM bands a
       |  JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin

  // 2 hash tables x 6 planes: global plane p belongs to table p // 6 and
  // contributes bit p % 6 of that table's bucket (mirrors lshBucketsMulti).
  private val PlanesSql =
    """w AS (SELECT p, d, CASE WHEN strpos('0123456789abcdef',
      |    substr(md5('p:' || CAST(p AS VARCHAR) || ':d:' || CAST(d AS VARCHAR)), 1, 1)) - 1 >= 8
      |    THEN 1.0 ELSE -1.0 END AS wgt FROM range(0, 12) tp(p), range(0, 64) td(d)),
      |dots AS (SELECT e.vec_id, w.p, sum(e.embedding[w.d + 1]::DOUBLE * w.wgt) AS dot
      |  FROM embeddings e, w GROUP BY 1, 2),
      |buck AS (SELECT vec_id, p // 6 AS tbl,
      |    CAST(sum(CASE WHEN dot >= 0 THEN 1 << (p % 6) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM dots GROUP BY 1, 2)""".stripMargin

  /** URL canonicalization (functions/UrlOps.scala — the normalization step
    * upstream of crawl-corpus dedup): deterministic messy URLs derived from
    * doc_id (mixed-case scheme/host, www prefixes, default/explicit ports,
    * duplicate slashes, trailing slashes, tracking params in varying
    * positions, fragments) canonicalized with pure codegen string
    * primitives. The oracle re-parses the same URLs with DuckDB's regex +
    * list functions — an independent formulation of the canonical form.
    */
  def urlCanon(s: SparkSession, d: String): DataFrame = {
    import graft.functions.UrlOps
    val k = col("doc_id")
    val url = concat(
      when(k % 3 === 0, "HTTPS").otherwise("http"), lit("://"),
      when(k % 2 === 0, "WWW.").otherwise(lit("")),
      lit("site"), (k % 40).cast("string"), lit(".example.COM"),
      when(k % 4 === 0, ":80").when(k % 4 === 1, ":443")
        .when(k % 4 === 2, ":8080").otherwise(lit("")),
      when(k % 5 === 0, lit("")).otherwise(concat(
        lit("/a//b"), (k % 7).cast("string"),
        when(k % 2 === 0, "/").otherwise(lit("")))),
      when(k % 3 === 0, concat(
        lit("?utm_source=x&id="), (k % 97).cast("string"), lit("&b=2")))
        .when(k % 3 === 1, "?b=2&a=1&fbclid=zz").otherwise(lit("")),
      when(k % 2 === 0, "#frag").otherwise(lit("")))
    documents(s, d).select(
      k.as("doc_id"),
      UrlOps.scheme(url).as("scheme"),
      UrlOps.host(url).as("host"),
      UrlOps.canonicalQuery(url).as("query_canon"),
      UrlOps.canonicalize(url).as("canonical"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_url_canon" -> (urlCanon _),
    "q_minhash" -> (minhash _),
    "q_lsh_pairs" -> (lshPairs _),
    "q_near_dup" -> (nearDup _),
    "q_dedup_components" -> (dedupComponents _),
    "q_para_dedup" -> (paraDedup _),
    "q_token_budget" -> (tokenBudget _),
    "q_blocklist" -> (blocklist _),
    "q_chunk" -> (chunk _),
    "q_simhash" -> (simhash _),
    "q_simhash_pairs" -> (simhashPairs _),
    "q_text_stats" -> (textStats _),
    "q_lang_id" -> (langIdQuery _),
    "q_fingerprint" -> (fingerprintQuery _),
    "q_bpe_count" -> (bpeCount _),
    "q_bpe_tokens" -> (bpeTokens _),
    "q_cosine_topk" -> (cosineTopK _),
    "q_ann_lsh" -> (annLsh _),
    "q_embed_dedup" -> (embedDedup _),
    "q_embed_quant" -> (embedQuant _),
    "q_pq_encode" -> (pqEncodeQuery _),
    "q_pq_adc" -> (pqAdc _),
    "q_ivfpq" -> (ivfPq _),
    "q_rerank" -> (rerank _),
    "q_quality_filter" -> (qualityFilter _),
    "q_ann_ivf" -> (annIvf _),
    "q_ann_stream_twin" -> (annStreamTwin _),
    "q_ann_ivf_probe" -> (annIvfProbe _),
    "q_ivf_refine" -> (ivfRefine _),
    "q_repetition" -> (repetitionStats _),
    "q_contamination" -> (contaminationQuery _),
    "q_clean_corpus" -> (cleanCorpus _),
    "q_sample_mix" -> (sampleMix _),
    "q_seq_pack" -> (seqPack _),
    "q_unigram_ppl" -> (unigramPpl _),
    "q_bigram_ppl" -> (bigramPpl _),
    "q_token_kl" -> (tokenKl _),
    "q_pii_scrub" -> (piiScrub _),
    "q_semantic_dedup" -> (semanticDedupQuery _),
    "q_bm25" -> (bm25Query _),
    "q_tfidf" -> (tfidfQuery _),
    "q_setsim_join" -> (setSimJoin _),
    "q_containment_join" -> (containmentJoinQ _),
    "q_containment_incr" -> (containmentIncrQ _),
    "q_sparse_topk" -> (sparseTopK _),
    "q_incr_near_dup" -> (incrNearDup _),
    "q_gram" -> (gramQuery _),
    "q_random_proj" -> (randomProjQuery _),
    "q_dsir_weights" -> (dsirWeights _),
    "q_dsir_select" -> (dsirSelect _),
    "q_dup_spans" -> (dupSpans _),
    "q_span_scrub" -> (spanScrub _)
  )

  // DSIR: hashed unigram+bigram buckets (first 4 md5 hex digits mod 4096),
  // Laplace-smoothed target/raw bucket models, per-doc log-ratio sums.
  private val DsirSql =
    """tok AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |grams AS (SELECT doc_id, source,
      |    unnest(toks || list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS g
      |  FROM tok),
      |bkt AS (SELECT doc_id, source,
      |    CAST('0x' || substr(md5(g), 1, 4) AS INTEGER) % 4096 AS bucket FROM grams),
      |rc AS (SELECT bucket, CAST(count(*) AS DOUBLE) AS cr FROM bkt GROUP BY 1),
      |tc AS (SELECT bucket, CAST(count(*) AS DOUBLE) AS ct FROM bkt
      |  WHERE source IN ('src0', 'src1', 'src2', 'src3') GROUP BY 1),
      |tot AS (SELECT (SELECT sum(cr) FROM rc) AS tr,
      |    (SELECT coalesce(sum(ct), 0) FROM tc) AS tt),
      |ratio AS (SELECT rc.bucket,
      |    ln((coalesce(tc.ct, 0) + 0.5) / (tot.tt + 0.5 * 4096))
      |      - ln((rc.cr + 0.5) / (tot.tr + 0.5 * 4096)) AS lr
      |  FROM rc LEFT JOIN tc ON rc.bucket = tc.bucket, tot),
      |w AS (SELECT bkt.doc_id, sum(r.lr) AS wsum
      |  FROM bkt JOIN ratio r ON bkt.bucket = r.bucket GROUP BY 1)""".stripMargin

  // Duplicated 5-gram positions corpus-wide (substring-level dedup).
  private val DupGramSql =
    """tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
      |ex AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 3), i -> {'pos': i,
      |    'gram': toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]})) AS s FROM tok),
      |g AS (SELECT doc_id, CAST(s.pos AS INTEGER) AS pos, md5(s.gram) AS h FROM ex),
      |c AS (SELECT h FROM g GROUP BY 1 HAVING count(*) >= 2),
      |f AS (SELECT doc_id, pos FROM g JOIN c USING (h))""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_url_canon" ->
      """WITH u AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'http' END) || '://'
        |    || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
        |    || 'site' || CAST(doc_id % 40 AS VARCHAR) || '.example.COM'
        |    || (CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
        |        WHEN 2 THEN ':8080' ELSE '' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN ''
        |        ELSE '/a//b' || CAST(doc_id % 7 AS VARCHAR)
        |          || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) END)
        |    || (CASE doc_id % 3
        |        WHEN 0 THEN '?utm_source=x&id=' || CAST(doc_id % 97 AS VARCHAR) || '&b=2'
        |        WHEN 1 THEN '?b=2&a=1&fbclid=zz' ELSE '' END)
        |    || (CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |p AS (SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_replace(lower(regexp_extract(url, '://([^/?#:]+)', 1)), '^www\.', '') AS host,
        |    coalesce(regexp_extract(url, '://[^/?#:]+:([0-9]+)', 1), '') AS port,
        |    coalesce(regexp_extract(url, '://[^/?#]+([^?#]*)', 1), '') AS rawpath,
        |    coalesce(regexp_extract(url, '\?([^#]*)', 1), '') AS rawquery
        |  FROM u),
        |q AS (SELECT *,
        |    coalesce(array_to_string(list_sort(list_filter(string_split(rawquery, '&'),
        |      x -> x <> '' AND NOT starts_with(string_split(x, '=')[1], 'utm_')
        |        AND string_split(x, '=')[1] NOT IN ('fbclid', 'gclid', 'msclkid'))),
        |      '&'), '') AS query_canon,
        |    CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
        |         OR (scheme = 'https' AND port = '443')
        |      THEN '' ELSE ':' || port END AS portpart,
        |    CASE WHEN regexp_replace(regexp_replace(rawpath, '/{2,}', '/', 'g'), '/$', '') = ''
        |      THEN '/'
        |      ELSE regexp_replace(regexp_replace(rawpath, '/{2,}', '/', 'g'), '/$', '')
        |    END AS pathnorm
        |  FROM p)
        |SELECT doc_id, scheme, host, query_canon,
        |  scheme || '://' || host || portpart || pathnorm
        |    || (CASE WHEN query_canon = '' THEN '' ELSE '?' || query_canon END)
        |    AS canonical
        |FROM q""".stripMargin,
    "q_dup_spans" ->
      s"""WITH $DupGramSql,
         |isl AS (SELECT doc_id, pos,
         |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5
         |    THEN 0 ELSE 1 END AS ni FROM f),
         |isl2 AS (SELECT doc_id, pos,
         |    sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl)
         |SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end,
         |  CAST(count(*) AS INTEGER) AS n_grams
         |FROM isl2 GROUP BY doc_id, island""".stripMargin,
    "q_span_scrub" ->
      s"""WITH $DupGramSql,
         |cov AS (SELECT DISTINCT doc_id, tpos FROM
         |  (SELECT doc_id, unnest(range(pos, pos + 5)) AS tpos FROM f)),
         |tk AS (SELECT doc_id, s.tpos AS tpos, s.tok AS tok FROM
         |  (SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
         |    i -> {'tpos': i, 'tok': toks[i]})) AS s FROM tok)),
         |kept AS (SELECT tk.doc_id, tk.tpos, tk.tok FROM tk
         |  LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.tpos = cov.tpos
         |  WHERE cov.tpos IS NULL),
         |reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS clean_text,
         |    count(*) AS n_kept FROM kept GROUP BY 1)
         |SELECT t.doc_id, coalesce(reb.clean_text, '') AS clean_text,
         |  CAST(len(t.toks) - coalesce(reb.n_kept, 0) AS INTEGER) AS n_removed
         |FROM tok t LEFT JOIN reb ON t.doc_id = reb.doc_id""".stripMargin,
    "q_dsir_weights" ->
      s"""WITH $DsirSql
         |SELECT d.doc_id, round(coalesce(w.wsum, 0.0), 6) AS weight
         |FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id""".stripMargin,
    "q_dsir_select" ->
      s"""WITH $DsirSql,
         |noisy AS (SELECT d.doc_id, coalesce(w.wsum, 0.0)
         |      - ln(-ln((CAST('0x' || substr(md5('g:' || CAST(d.doc_id AS VARCHAR)), 1, 4)
         |        AS INTEGER) + 0.5) / 65536.0)) AS score
         |  FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM noisy
         |ORDER BY noisy.score DESC, doc_id LIMIT 50""".stripMargin,
    "q_semantic_dedup" ->
      """WITH RECURSIVE cent AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id % 23 = 0),
        |assign AS (SELECT e.vec_id, e.embedding, c.centroid_id,
        |    list_inner_product(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
        |      (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        |       sqrt(list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS c_cos
        |  FROM embeddings e, cent c),
        |buck AS (SELECT vec_id, embedding, centroid_id AS bucket FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, centroid_id ASC) AS rn
        |    FROM assign) WHERE rn = 1),
        |pairs AS (SELECT a.vec_id AS l_id, b.vec_id AS r_id
        |  FROM buck a JOIN buck b ON a.bucket = b.bucket
        |  WHERE a.vec_id < b.vec_id
        |    AND list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |      (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |       sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.2),
        |sym AS (SELECT l_id AS a, r_id AS b FROM pairs
        |        UNION SELECT r_id, l_id FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
        |comp AS (SELECT a AS vec_id, least(a, min(b)) AS component FROM reach GROUP BY a)
        |SELECT bu.vec_id, bu.bucket,
        |  CAST(coalesce(c.component, bu.vec_id) AS BIGINT) AS component,
        |  coalesce(c.component, bu.vec_id) = bu.vec_id AS keep
        |FROM buck bu LEFT JOIN comp c ON bu.vec_id = c.vec_id""".stripMargin,
    "q_random_proj" ->
      // Summation order pinned with list(... ORDER BY d) so the double
      // accumulates left-to-right exactly like the engine's DotProduct
      // codegen loop; quantisation is the same floor(v*1e4+0.5)/1e4 the
      // Spark side applies — a plain sum() GROUP BY leaves the order to the
      // engine and a last-ulp difference can flip a digit at the rounding
      // boundary on some DuckDB versions (the round-10 driver red row).
      """WITH w AS (SELECT k, d,
        |    CASE WHEN strpos('0123456789abcdef',
        |      substr(md5('rp:' || CAST(k AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 1)) - 1 >= 8
        |    THEN 1.0 ELSE -1.0 END AS wgt
        |  FROM range(0, 8) tk(k), range(0, 16) td(d)),
        |terms AS (SELECT e.vec_id, w.k, w.d,
        |    CAST(e.embedding[w.d + 1] AS DOUBLE) * w.wgt AS t
        |  FROM embeddings e, w),
        |proj AS (SELECT vec_id, k,
        |    list_aggregate(list(t ORDER BY d), 'sum') / sqrt(8) AS v
        |  FROM terms GROUP BY 1, 2)
        |SELECT vec_id, CAST(k AS INTEGER) AS k,
        |  floor(CAST(CAST(v AS REAL) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS v FROM proj""".stripMargin,
    "q_gram" ->
      """SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
        |  round(sum(CAST(embedding[i + 1] AS DOUBLE) * CAST(embedding[j + 1] AS DOUBLE)), 4) AS v
        |FROM embeddings, range(0, 16) ti(i), range(0, 16) tj(j)
        |WHERE i <= j GROUP BY 1, 2""".stripMargin,
    "q_incr_near_dup" ->
      s"""WITH $SigSql,
         |bands AS (SELECT doc_id, b, md5(sig[b*2+1] || sig[b*2+2]) AS bh FROM sig, range(0, 8) t(b)),
         |pairs AS (SELECT a.doc_id AS new_id, b.doc_id AS ref_id FROM bands a
         |  JOIN bands b ON a.b = b.b AND a.bh = b.bh
         |  AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0 GROUP BY 1, 2),
         |dsh AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
         |inter AS (SELECT p.new_id, p.ref_id,
         |    len(list_filter(x.s, v -> list_contains(y.s, v))) AS i,
         |    len(x.s) AS nx, len(y.s) AS ny
         |  FROM pairs p JOIN dsh x ON p.new_id = x.doc_id JOIN dsh y ON p.ref_id = y.doc_id)
         |SELECT new_id, ref_id, round(i / CAST(nx + ny - i AS DOUBLE), 6) AS jaccard
         |FROM inter WHERE i / CAST(nx + ny - i AS DOUBLE) >= 0.5""".stripMargin,
    "q_sparse_topk" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |dt AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2),
        |wd AS (SELECT *, CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df FROM dt),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, term,
        |    tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS tfidf
        |  FROM wd CROSS JOIN n),
        |nrm AS (SELECT doc_id, sqrt(sum(tfidf * tfidf)) AS nn FROM sc GROUP BY 1),
        |wt AS (SELECT s.doc_id, s.term, s.tfidf / nrm.nn AS w,
        |    s.doc_id % 50 = 0 AS isq
        |  FROM sc s JOIN nrm ON s.doc_id = nrm.doc_id),
        |p AS (SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
        |    sum(q.w * c.w) AS cosine
        |  FROM wt q JOIN wt c ON q.term = c.term AND q.isq AND NOT c.isq
        |  GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, doc_id) AS rk FROM p)
        |SELECT query_id, doc_id, round(cosine, 6) AS cosine FROM r WHERE rk <= 5""".stripMargin,
    "q_setsim_join" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles FROM tk),
        |tok AS (SELECT DISTINCT doc_id, unnest(shingles) AS term FROM shl),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
        |  FROM tok a JOIN tok b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jacc
        |  FROM inter
        |  JOIN sz sa ON inter.doc_a = sa.doc_id
        |  JOIN sz sb ON inter.doc_b = sb.doc_id)
        |SELECT doc_a, doc_b, round(jacc, 6) AS jacc FROM j WHERE jacc >= 0.8""".stripMargin,
    // brute force on purpose (no artifact, no prefix filter): every CROSS
    // ordered pair (one batch doc, one reference doc — batch = doc_id%10=0)
    // counted exhaustively, so any incremental-path false negative is a
    // missing row; side is derivable from the contained doc's membership
    "q_containment_incr" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles FROM tk),
        |tok AS (SELECT DISTINCT doc_id, unnest(shingles) AS term FROM shl),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
        |inter AS (SELECT a.doc_id AS inner_doc, b.doc_id AS outer_doc,
        |    CAST(count(*) AS BIGINT) AS i
        |  FROM tok a JOIN tok b ON a.term = b.term AND a.doc_id <> b.doc_id
        |    AND ((a.doc_id % 10 = 0) <> (b.doc_id % 10 = 0))
        |  GROUP BY 1, 2),
        |c AS (SELECT inner_doc, outer_doc, CAST(i AS DOUBLE) / sa.n AS containment
        |  FROM inter JOIN sz sa ON inter.inner_doc = sa.doc_id)
        |SELECT inner_doc, outer_doc, round(containment, 6) AS containment,
        |  CASE WHEN inner_doc % 10 = 0 THEN 'new_in_ref' ELSE 'ref_in_new' END AS side
        |FROM c WHERE containment >= 0.8""".stripMargin,
    // brute-force formulation on purpose (no prefix filter): every ordered
    // pair's intersection over the contained side's set size
    "q_containment_join" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles FROM tk),
        |tok AS (SELECT DISTINCT doc_id, unnest(shingles) AS term FROM shl),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
        |inter AS (SELECT a.doc_id AS inner_doc, b.doc_id AS outer_doc,
        |    CAST(count(*) AS BIGINT) AS i
        |  FROM tok a JOIN tok b ON a.term = b.term AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2),
        |c AS (SELECT inner_doc, outer_doc, CAST(i AS DOUBLE) / sa.n AS containment
        |  FROM inter JOIN sz sa ON inter.inner_doc = sa.doc_id)
        |SELECT inner_doc, outer_doc, round(containment, 6) AS containment
        |FROM c WHERE containment >= 0.8""".stripMargin,
    "q_tfidf" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |dt AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2),
        |wd AS (SELECT *, CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df FROM dt),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, term, tf, df,
        |    tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS tfidf
        |  FROM wd CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS rk FROM sc)
        |SELECT doc_id, term, tf, df, round(tfidf, 6) AS tfidf FROM r WHERE rk <= 3""".stripMargin,
    "q_bm25" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |perdoc AS (SELECT doc_id, count(*) AS dl,
        |    sum(CASE WHEN term = 'vector' THEN 1 ELSE 0 END) AS tf_0,
        |    sum(CASE WHEN term = 'dup' THEN 1 ELSE 0 END) AS tf_1,
        |    sum(CASE WHEN term = 'spark' THEN 1 ELSE 0 END) AS tf_2,
        |    sum(CASE WHEN term = 'quantum' THEN 1 ELSE 0 END) AS tf_3
        |  FROM tok GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl,
        |    sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS df_0,
        |    sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS df_1,
        |    sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS df_2,
        |    sum(CASE WHEN tf_3 > 0 THEN 1 ELSE 0 END) AS df_3
        |  FROM perdoc)
        |SELECT p.doc_id, round(
        |    ln(1 + (s.n_docs - s.df_0 + 0.5) / (s.df_0 + 0.5)) * p.tf_0 * 2.2 / (p.tf_0 + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl))
        |  + ln(1 + (s.n_docs - s.df_1 + 0.5) / (s.df_1 + 0.5)) * p.tf_1 * 2.2 / (p.tf_1 + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl))
        |  + ln(1 + (s.n_docs - s.df_2 + 0.5) / (s.df_2 + 0.5)) * p.tf_2 * 2.2 / (p.tf_2 + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl))
        |  + ln(1 + (s.n_docs - s.df_3 + 0.5) / (s.df_3 + 0.5)) * p.tf_3 * 2.2 / (p.tf_3 + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl)), 6) AS bm25
        |FROM perdoc p, stats s""".stripMargin,
    "q_pii_scrub" ->
      """SELECT c_custkey AS doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        c_name || ' contact user' || CAST(c_custkey AS VARCHAR)
        |          || '@example.com or '
        |          || CAST(c_custkey % 90 + 10 AS VARCHAR) || '-'
        |          || CAST(c_custkey % 900 + 100 AS VARCHAR) || '-'
        |          || CAST((c_custkey * 3) % 900 + 100 AS VARCHAR) || '-'
        |          || CAST((c_custkey * 7) % 9000 + 1000 AS VARCHAR)
        |          || ' from 10.0.' || CAST(c_custkey % 256 AS VARCHAR)
        |          || '.' || CAST((c_custkey * 7) % 256 AS VARCHAR),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{2,3}-\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS scrubbed
        |FROM customer""".stripMargin,
    "q_unigram_ppl" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |lm AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |tot AS (SELECT sum(cnt) AS total FROM lm)
        |SELECT t.doc_id,
        |  count(*) AS n_tokens,
        |  round(avg(-ln(lm.cnt / tot.total)), 6) AS avg_neglogp
        |FROM tok t JOIN lm ON t.token = lm.token, tot
        |GROUP BY t.doc_id""".stripMargin,
    "q_bigram_ppl" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |uni AS (SELECT doc_id, unnest(toks) AS token FROM tok),
        |lm AS (SELECT token, count(*) AS cnt FROM uni GROUP BY token),
        |tot AS (SELECT sum(cnt) AS total FROM lm),
        |pp AS (SELECT doc_id, p.prev AS prev, p.cur AS cur FROM
        |  (SELECT doc_id, unnest(list_transform(range(2, len(toks) + 1),
        |    i -> {'prev': toks[i - 1], 'cur': toks[i]})) AS p FROM tok)),
        |bi AS (SELECT prev, cur, count(*) AS cnt_bi FROM pp GROUP BY 1, 2),
        |ctx AS (SELECT prev, CAST(sum(cnt_bi) AS DOUBLE) AS cnt_ctx FROM bi GROUP BY 1)
        |SELECT pp.doc_id, count(*) AS n_bigrams,
        |  round(avg(-ln(0.75 * (bi.cnt_bi / ctx.cnt_ctx)
        |    + 0.25 * (lm.cnt / tot.total))), 6) AS avg_neglogp
        |FROM pp
        |JOIN bi ON pp.prev = bi.prev AND pp.cur = bi.cur
        |JOIN ctx ON pp.prev = ctx.prev
        |JOIN lm ON pp.cur = lm.token, tot
        |GROUP BY pp.doc_id""".stripMargin,
    "q_token_kl" ->
      """WITH tok AS (SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |bygrp AS (SELECT source, token, count(*) AS c_g FROM tok GROUP BY 1, 2),
        |grptot AS (SELECT source, CAST(sum(c_g) AS BIGINT) AS n_tokens FROM bygrp GROUP BY 1),
        |corpus AS (SELECT token, CAST(sum(c_g) AS BIGINT) AS c_c FROM bygrp GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_c) AS BIGINT) AS total FROM corpus)
        |SELECT b.source, max(g.n_tokens) AS n_tokens,
        |  round(sum((b.c_g / g.n_tokens)
        |    * ln((b.c_g / g.n_tokens) / (c.c_c / t.total))), 6) AS kl
        |FROM bygrp b
        |JOIN corpus c ON b.token = c.token
        |JOIN grptot g ON b.source = g.source, tot t
        |GROUP BY b.source""".stripMargin,
    "q_sample_mix" ->
      """WITH f AS (SELECT * FROM (VALUES ('src0', 1.0), ('src1', 0.5),
        |    ('src2', 0.25)) t(source, frac))
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN f ON d.source = f.source
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
        |    AS BIGINT) / 4294967296.0 < f.frac""".stripMargin,
    "q_seq_pack" ->
      """WITH tok AS (SELECT doc_id, source,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |    sum(least(n_tokens, 256)) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM tok)
        |SELECT source, seq_no,
        |  string_agg(CAST(doc_id AS VARCHAR), '|' ORDER BY doc_id) AS doc_ids,
        |  CAST(sum(n_tokens) AS BIGINT) AS token_total,
        |  count(*) AS n_docs
        |FROM (SELECT doc_id, source, n_tokens,
        |    CAST(ceil(cum / 256.0) AS BIGINT) AS seq_no FROM c) s
        |GROUP BY source, seq_no""".stripMargin,
    "q_clean_corpus" ->
      """WITH tok AS (SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |m AS (SELECT doc_id, text, toks,
        |    CAST(len(toks) AS DOUBLE) AS n,
        |    list_sum(list_transform(toks, t -> length(t))) / CAST(len(toks) AS DOUBLE) AS meanlen,
        |    len(list_filter(toks, t -> list_contains(['the','a','of','and','to'], t))) / CAST(len(toks) AS DOUBLE) AS stopr,
        |    len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) AS uniqr,
        |    len(list_filter(toks, t -> list_contains(['the','a','of','and','to'], t))) AS s_en,
        |    len(list_filter(toks, t -> list_contains(['der','die','das','und','ist'], t))) AS s_de,
        |    len(list_filter(toks, t -> list_contains(['el','la','de','y','que'], t))) AS s_es,
        |    len(list_filter(toks, t -> list_contains(['le','les','des','et','une'], t))) AS s_fr,
        |    len(list_filter(toks, t -> list_contains(['的','是','了','在','我'], t))) AS s_zh,
        |    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS g2
        |  FROM tok),
        |g AS (SELECT doc_id, text, toks,
        |    (n BETWEEN 20 AND 100000) AND (meanlen BETWEEN 2.0 AND 12.0)
        |      AND stopr >= 0.02 AND uniqr >= 0.1 AS q_ok,
        |    s_en >= greatest(s_de, s_es, s_fr, s_zh) AS l_ok,
        |    (CASE WHEN len(g2) = 0 THEN 0.0
        |       ELSE 1.0 - len(list_distinct(g2)) / CAST(len(g2) AS DOUBLE) END) <= 0.4
        |    AND (CASE WHEN len(toks) = 0 THEN 0.0
        |       ELSE list_max(list_transform(list_distinct(toks),
        |         u -> len(list_filter(toks, t -> t = u)))) / CAST(len(toks) AS DOUBLE)
        |       END) <= 0.3 AS r_ok
        |  FROM m),
        |ranked AS (SELECT doc_id, toks,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM g WHERE q_ok AND l_ok AND r_ok),
        |sh AS (SELECT doc_id, list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles
        |  FROM ranked WHERE rn = 1),
        |sig AS (SELECT doc_id, list_transform(range(0, 16),
        |    j -> list_aggregate(list_transform(shingles,
        |      sh2 -> md5('s' || CAST(j AS VARCHAR) || ':' || sh2)), 'min')) AS sig
        |  FROM sh),
        |bands AS (SELECT doc_id, b, md5(sig[b*2+1] || sig[b*2+2]) AS bh
        |  FROM sig, range(0, 8) t(b)),
        |pairs AS (SELECT a.doc_id AS l_doc, b.doc_id AS r_doc FROM bands a
        |  JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |dsh AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
        |near AS (SELECT DISTINCT p.r_doc AS doc_id
        |  FROM pairs p JOIN dsh x ON p.l_doc = x.doc_id
        |    JOIN dsh y ON p.r_doc = y.doc_id
        |  WHERE round(len(list_filter(x.s, v -> list_contains(y.s, v)))
        |      / CAST(len(x.s) + len(y.s)
        |        - len(list_filter(x.s, v -> list_contains(y.s, v))) AS DOUBLE),
        |      6) >= 0.5),
        |reasons AS (SELECT g.doc_id,
        |    CASE WHEN NOT q_ok THEN 'quality'
        |         WHEN NOT l_ok THEN 'language'
        |         WHEN NOT r_ok THEN 'repetition'
        |         WHEN ed.doc_id IS NOT NULL THEN 'exact_duplicate'
        |         WHEN near.doc_id IS NOT NULL THEN 'near_duplicate' END AS reason
        |  FROM g
        |  LEFT JOIN (SELECT doc_id FROM ranked WHERE rn > 1) ed ON g.doc_id = ed.doc_id
        |  LEFT JOIN near ON g.doc_id = near.doc_id)
        |SELECT doc_id, reason IS NULL AS keep, reason FROM reasons""".stripMargin,
    "q_repetition" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, toks,
        |    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS g2,
        |    list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3
        |  FROM tok)
        |SELECT doc_id,
        |  round(CASE WHEN len(g2) = 0 THEN 0.0
        |    ELSE 1.0 - len(list_distinct(g2)) / CAST(len(g2) AS DOUBLE) END, 6)
        |    AS dup_2gram_frac,
        |  round(CASE WHEN len(g3) = 0 THEN 0.0
        |    ELSE 1.0 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE) END, 6)
        |    AS dup_3gram_frac,
        |  round(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE list_max(list_transform(list_distinct(toks),
        |      u -> len(list_filter(toks, t -> t = u)))) / CAST(len(toks) AS DOUBLE)
        |    END, 6) AS top_token_ratio
        |FROM g""".stripMargin,
    "q_contamination" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 3),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
        |      || toks[i+3] || ' ' || toks[i+4])) AS grams
        |  FROM tok),
        |bench AS (SELECT list_distinct(flatten(list(grams))) AS bg
        |  FROM g WHERE doc_id % 97 = 0)
        |SELECT doc_id,
        |  CAST(len(grams) AS INTEGER) AS n_grams,
        |  CAST(len(list_filter(grams, x -> list_contains(bg, x)))
        |    AS INTEGER) AS n_matched,
        |  round(CASE WHEN len(grams) = 0 THEN 0.0
        |    ELSE len(list_filter(grams, x -> list_contains(bg, x)))
        |      / CAST(len(grams) AS DOUBLE) END, 6) AS contamination
        |FROM g, bench""".stripMargin,
    "q_minhash" ->
      s"""WITH $SigSql
         |SELECT doc_id, array_to_string(sig, ',') AS sig FROM sig""".stripMargin,
    "q_lsh_pairs" ->
      s"""WITH $BandsSql
         |SELECT l_doc, r_doc FROM pairs""".stripMargin,
    "q_near_dup" ->
      s"""WITH $BandsSql,
         |dsh AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
         |inter AS (SELECT p.l_doc, p.r_doc,
         |    len(list_filter(x.s, v -> list_contains(y.s, v))) AS i,
         |    len(x.s) AS nx, len(y.s) AS ny
         |  FROM pairs p JOIN dsh x ON p.l_doc = x.doc_id JOIN dsh y ON p.r_doc = y.doc_id)
         |SELECT l_doc, r_doc, round(i / CAST(nx + ny - i AS DOUBLE), 6) AS jaccard FROM inter""".stripMargin,
    "q_simhash" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |bits AS (SELECT doc_id, b,
        |    CASE WHEN list_sum(list_transform(toks,
        |      t -> ((strpos('0123456789abcdef', substr(md5(t), b + 1, 1)) - 1) % 2) * 2 - 1)) >= 0
        |    THEN 1 << b ELSE 0 END AS bit
        |  FROM tok, range(0, 16) tb(b))
        |SELECT doc_id, CAST(sum(bit) AS INTEGER) AS simhash FROM bits GROUP BY doc_id""".stripMargin,
    "q_pq_encode" ->
      """WITH cent AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id % 29 = 0),
        |assign AS (SELECT rs.s AS subspace, e.vec_id, c.cid,
        |    list_inner_product(list_slice(e.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16),
        |                       list_slice(c.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16)) /
        |      (sqrt(list_inner_product(list_slice(e.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16),
        |                               list_slice(e.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16))) *
        |       sqrt(list_inner_product(list_slice(c.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16),
        |                               list_slice(c.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16)))) AS c_cos
        |  FROM embeddings e, cent c, range(0, 4) rs(s))
        |SELECT vec_id, CAST(subspace AS INTEGER) AS subspace, CAST(cid AS BIGINT) AS code FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, subspace ORDER BY c_cos DESC, cid ASC) AS rn
        |  FROM assign) WHERE rn = 1""".stripMargin,
    "q_pq_adc" ->
      """WITH cent AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id % 29 = 0),
        |assign AS (SELECT rs.s AS subspace, e.vec_id, c.cid,
        |    list_inner_product(list_slice(e.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16),
        |                       list_slice(c.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16)) /
        |      (sqrt(list_inner_product(list_slice(e.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16),
        |                               list_slice(e.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16))) *
        |       sqrt(list_inner_product(list_slice(c.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16),
        |                               list_slice(c.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16)))) AS c_cos
        |  FROM embeddings e, cent c, range(0, 4) rs(s)),
        |codes AS (SELECT vec_id, subspace, cid AS code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, subspace ORDER BY c_cos DESC, cid ASC) AS rn
        |    FROM assign) WHERE rn = 1),
        |lut AS (SELECT q.vec_id AS q_id, rs.s AS subspace, c.cid AS code,
        |    list_inner_product(list_slice(q.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16),
        |                       list_slice(c.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16)) AS partial
        |  FROM embeddings q, cent c, range(0, 4) rs(s) WHERE q.vec_id < 20),
        |scored AS (SELECT l.q_id, k.vec_id AS neighbor_id, sum(l.partial) AS score_raw
        |  FROM codes k JOIN lut l ON k.subspace = l.subspace AND k.code = l.code
        |  WHERE l.q_id <> k.vec_id GROUP BY l.q_id, k.vec_id)
        |SELECT q_id, neighbor_id, round(score_raw, 6) AS score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score_raw DESC, neighbor_id ASC) AS rn
        |  FROM scored) WHERE rn <= 5""".stripMargin,
    "q_ivfpq" ->
      """WITH cent AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id % 23 = 0),
        |assign AS (SELECT e.vec_id, e.embedding, c.centroid_id,
        |    list_inner_product(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
        |      (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        |       sqrt(list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS c_cos
        |  FROM embeddings e, cent c),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, centroid_id ASC) AS rn
        |  FROM assign),
        |buck AS (SELECT vec_id, embedding, centroid_id AS bucket FROM ranked WHERE rn = 1),
        |res AS (SELECT b.vec_id, b.bucket,
        |    list_transform(range(1, 65), i -> b.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) AS r
        |  FROM buck b JOIN cent c ON b.bucket = c.centroid_id),
        |pqc AS (SELECT vec_id AS cid, r FROM res WHERE vec_id % 29 = 1 AND vec_id % 23 <> 0),
        |passign AS (SELECT rs.s AS subspace, e.vec_id, e.bucket, c.cid,
        |    list_inner_product(list_slice(e.r, rs.s*16+1, rs.s*16+16), list_slice(c.r, rs.s*16+1, rs.s*16+16)) /
        |      (sqrt(list_inner_product(list_slice(e.r, rs.s*16+1, rs.s*16+16), list_slice(e.r, rs.s*16+1, rs.s*16+16))) *
        |       sqrt(list_inner_product(list_slice(c.r, rs.s*16+1, rs.s*16+16), list_slice(c.r, rs.s*16+1, rs.s*16+16)))) AS c_cos
        |  FROM res e, pqc c, range(0, 4) rs(s)),
        |codes AS (SELECT vec_id, bucket, subspace, cid AS code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, subspace ORDER BY c_cos DESC, cid ASC) AS rn
        |    FROM passign) WHERE rn = 1),
        |probe AS (SELECT r.vec_id AS q_id, r.centroid_id AS bucket,
        |    list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cell_term
        |  FROM ranked r JOIN embeddings q ON r.vec_id = q.vec_id
        |    JOIN cent c ON r.centroid_id = c.centroid_id
        |  WHERE r.rn <= 2 AND r.vec_id < 20),
        |lut AS (SELECT q.vec_id AS q_id, rs.s AS subspace, c.cid AS code,
        |    list_inner_product(list_slice(q.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16),
        |                       list_slice(c.r, rs.s*16+1, rs.s*16+16)) AS partial
        |  FROM embeddings q, pqc c, range(0, 4) rs(s) WHERE q.vec_id < 20),
        |scored AS (SELECT p.q_id, k.vec_id AS neighbor_id, p.cell_term + sum(l.partial) AS score_raw
        |  FROM codes k JOIN probe p ON k.bucket = p.bucket
        |    JOIN lut l ON l.q_id = p.q_id AND l.subspace = k.subspace AND l.code = k.code
        |  WHERE p.q_id <> k.vec_id
        |  GROUP BY p.q_id, k.vec_id, p.cell_term)
        |SELECT q_id, neighbor_id, round(score_raw, 6) AS score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score_raw DESC, neighbor_id ASC) AS rn
        |  FROM scored) WHERE rn <= 5""".stripMargin,
    "q_rerank" ->
      """WITH cent AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id % 29 = 0),
        |assign AS (SELECT rs.s AS subspace, e.vec_id, c.cid,
        |    list_inner_product(list_slice(e.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16),
        |                       list_slice(c.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16)) /
        |      (sqrt(list_inner_product(list_slice(e.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16),
        |                               list_slice(e.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16))) *
        |       sqrt(list_inner_product(list_slice(c.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16),
        |                               list_slice(c.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16)))) AS c_cos
        |  FROM embeddings e, cent c, range(0, 4) rs(s)),
        |codes AS (SELECT vec_id, subspace, cid AS code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, subspace ORDER BY c_cos DESC, cid ASC) AS rn
        |    FROM assign) WHERE rn = 1),
        |lut AS (SELECT q.vec_id AS q_id, rs.s AS subspace, c.cid AS code,
        |    list_inner_product(list_slice(q.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16),
        |                       list_slice(c.embedding::DOUBLE[], rs.s*16+1, rs.s*16+16)) AS partial
        |  FROM embeddings q, cent c, range(0, 4) rs(s) WHERE q.vec_id < 20),
        |scored AS (SELECT l.q_id, k.vec_id AS neighbor_id, sum(l.partial) AS score_raw
        |  FROM codes k JOIN lut l ON k.subspace = l.subspace AND k.code = l.code
        |  WHERE l.q_id <> k.vec_id GROUP BY l.q_id, k.vec_id),
        |short AS (SELECT q_id, neighbor_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score_raw DESC, neighbor_id ASC) AS rn
        |  FROM scored) WHERE rn <= 10),
        |ex AS (SELECT s.q_id, s.neighbor_id,
        |    list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |      (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |       sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cos_raw
        |  FROM short s JOIN embeddings a ON s.q_id = a.vec_id
        |    JOIN embeddings b ON s.neighbor_id = b.vec_id)
        |SELECT q_id, neighbor_id, round(cos_raw, 6) AS cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rn
        |  FROM ex) WHERE rn <= 5""".stripMargin,
    "q_embed_quant" ->
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |mm AS (SELECT vec_id, v, list_min(v) AS mn,
        |    (list_max(v) - list_min(v)) / 255.0 AS sc FROM base)
        |SELECT vec_id, CAST(mn AS REAL) AS "offset", CAST(sc AS REAL) AS scale,
        |  CAST(generate_subscripts(v, 1) AS INTEGER) AS dim,
        |  CAST(CASE WHEN sc = 0 THEN 0.0
        |       ELSE floor((unnest(v) - mn) / sc + 0.5) END - 128.0 AS INTEGER) AS qval
        |FROM mm""".stripMargin,
    "q_simhash_pairs" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t FROM documents),
        |hx AS (SELECT doc_id, md5(t) AS h FROM tok),
        |bits AS (SELECT doc_id, b,
        |    CASE WHEN sum((((strpos('0123456789abcdef', substr(h, (b // 4) + 1, 1)) - 1) >> (b % 4)) & 1) * 2 - 1) >= 0
        |      THEN 1::BIGINT << b ELSE 0::BIGINT END AS bit
        |  FROM hx, range(0, 60) tb(b) GROUP BY doc_id, b),
        |sh AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash FROM bits GROUP BY doc_id),
        |banded AS (SELECT doc_id, b AS band, (simhash >> (b * 15)) & 32767 AS band_val
        |  FROM sh, range(0, 4) tb(b)),
        |cand AS (SELECT DISTINCT a.doc_id AS l_doc, b.doc_id AS r_doc
        |  FROM banded a JOIN banded b
        |  ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
        |SELECT l_doc, r_doc,
        |  CAST(bit_count(xor(ls.simhash, rs.simhash)) AS INTEGER) AS hamming
        |FROM cand JOIN sh ls ON cand.l_doc = ls.doc_id
        |  JOIN sh rs ON cand.r_doc = rs.doc_id
        |WHERE bit_count(xor(ls.simhash, rs.simhash)) <= 3""".stripMargin,
    "q_text_stats" ->
      """WITH tok AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)
        |SELECT doc_id, len(toks) AS n_tokens, length(text) AS n_chars_calc,
        |  round(list_sum(list_transform(toks, t -> length(t))) / CAST(len(toks) AS DOUBLE), 6) AS avg_token_len,
        |  round(len(list_filter(toks, t -> list_contains(['the','a','of','and','to'], t))) / CAST(len(toks) AS DOUBLE), 6) AS stopword_ratio,
        |  round(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 6) AS uniq_ratio
        |FROM tok""".stripMargin,
    "q_lang_id" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |sc AS (SELECT doc_id,
        |  len(list_filter(toks, t -> list_contains(['the','a','of','and','to'], t))) AS s_en,
        |  len(list_filter(toks, t -> list_contains(['der','die','das','und','ist'], t))) AS s_de,
        |  len(list_filter(toks, t -> list_contains(['el','la','de','y','que'], t))) AS s_es,
        |  len(list_filter(toks, t -> list_contains(['le','les','des','et','une'], t))) AS s_fr,
        |  len(list_filter(toks, t -> list_contains(['的','是','了','在','我'], t))) AS s_zh
        |FROM tok)
        |SELECT doc_id, CASE
        |  WHEN s_en >= greatest(s_de, s_es, s_fr, s_zh) THEN 'en'
        |  WHEN s_de >= greatest(s_es, s_fr, s_zh) THEN 'de'
        |  WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
        |  WHEN s_fr >= s_zh THEN 'fr'
        |  ELSE 'zh' END AS lang_pred FROM sc""".stripMargin,
    "q_fingerprint" ->
      s"""WITH $ShinglesSql
         |SELECT doc_id, array_to_string(list_sort(list_transform(shingles, sh2 -> md5(sh2)))[1:3], ',') AS fp
         |FROM sh""".stripMargin,
    "q_bpe_count" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER) AS n_bpe
        |FROM documents""".stripMargin,
    // Hand-computed merge sequences (see bpeMergesTxt scaladoc): each of the
    // five vocabulary words has a known token count and symbol sequence
    // under the authored table; the oracle rebuilds both by CASE arithmetic
    // from doc_id — independent of the encoder implementation.
    "q_bpe_tokens" ->
      """WITH m AS (
        |  SELECT doc_id, doc_id % 3 + 1 AS nw,
        |    (doc_id + 1) % 4 AS w1, (doc_id + 2) % 4 AS w2, (doc_id + 3) % 4 AS w3
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(1
        |    + (CASE w1 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 3 ELSE 1 END)
        |    + (CASE WHEN nw >= 2 THEN CASE w2 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 3 ELSE 1 END ELSE 0 END)
        |    + (CASE WHEN nw >= 3 THEN CASE w3 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 3 ELSE 1 END ELSE 0 END)
        |    AS INTEGER) AS n_bpe,
        |  'hello'
        |    || (CASE w1 WHEN 0 THEN '|Ġworld' WHEN 1 THEN '|Ġ|l|ower' WHEN 2 THEN '|Ġ|new|er' ELSE '|Ġhello' END)
        |    || (CASE WHEN nw >= 2 THEN CASE w2 WHEN 0 THEN '|Ġworld' WHEN 1 THEN '|Ġ|l|ower' WHEN 2 THEN '|Ġ|new|er' ELSE '|Ġhello' END ELSE '' END)
        |    || (CASE WHEN nw >= 3 THEN CASE w3 WHEN 0 THEN '|Ġworld' WHEN 1 THEN '|Ġ|l|ower' WHEN 2 THEN '|Ġ|new|er' ELSE '|Ġhello' END ELSE '' END)
        |    AS toks,
        |  '261'
        |    || (CASE w1 WHEN 0 THEN '|271' WHEN 1 THEN '|32|108|262' WHEN 2 THEN '|32|266|259' ELSE '|272' END)
        |    || (CASE WHEN nw >= 2 THEN CASE w2 WHEN 0 THEN '|271' WHEN 1 THEN '|32|108|262' WHEN 2 THEN '|32|266|259' ELSE '|272' END ELSE '' END)
        |    || (CASE WHEN nw >= 3 THEN CASE w3 WHEN 0 THEN '|271' WHEN 1 THEN '|32|108|262' WHEN 2 THEN '|32|266|259' ELSE '|272' END ELSE '' END)
        |    AS ids
        |FROM m""".stripMargin,
    "q_cosine_topk" ->
      """WITH cand AS (
        |  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
        |    list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |      (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |       sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cos_raw
        |  FROM embeddings a, embeddings b
        |  WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id)
        |SELECT q_id, neighbor_id, round(cos_raw, 6) AS cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rn
        |  FROM cand) WHERE rn <= 5""".stripMargin,
    "q_ann_ivf" ->
      """WITH cent AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id % 23 = 0),
        |assign AS (SELECT e.vec_id, e.embedding, c.centroid_id,
        |    list_inner_product(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
        |      (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        |       sqrt(list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS c_cos
        |  FROM embeddings e, cent c),
        |buck AS (SELECT vec_id, embedding, centroid_id AS bucket FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, centroid_id ASC) AS rn
        |    FROM assign) WHERE rn = 1),
        |cand AS (SELECT q.vec_id AS q_id, b.vec_id AS neighbor_id,
        |    list_inner_product(q.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |      (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
        |       sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cos_raw
        |  FROM buck q JOIN buck b ON q.bucket = b.bucket
        |  WHERE q.vec_id < 30 AND q.vec_id <> b.vec_id)
        |SELECT q_id, neighbor_id, round(cos_raw, 6) AS cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rn
        |  FROM cand) WHERE rn <= 3""".stripMargin,
    // The streaming twin's batch projection routes the same query/corpus
    // split through the stream's candidate plan (query-side assignment +
    // cell equi join), so its oracle is semantically q_ann_ivf's: the
    // assignment of a query subset equals the subset of the full assignment.
    "q_ann_stream_twin" ->
      """WITH cent AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id % 23 = 0),
        |assign AS (SELECT e.vec_id, e.embedding, c.centroid_id,
        |    list_inner_product(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
        |      (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        |       sqrt(list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS c_cos
        |  FROM embeddings e, cent c),
        |buck AS (SELECT vec_id, embedding, centroid_id AS bucket FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, centroid_id ASC) AS rn
        |    FROM assign) WHERE rn = 1),
        |cand AS (SELECT q.vec_id AS q_id, b.vec_id AS neighbor_id,
        |    list_inner_product(q.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |      (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
        |       sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cos_raw
        |  FROM buck q JOIN buck b ON q.bucket = b.bucket
        |  WHERE q.vec_id < 30 AND q.vec_id <> b.vec_id)
        |SELECT q_id, neighbor_id, round(cos_raw, 6) AS cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rn
        |  FROM cand) WHERE rn <= 3""".stripMargin,
    "q_ann_ivf_probe" ->
      """WITH cent AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id % 23 = 0),
        |assign AS (SELECT e.vec_id, e.embedding, c.centroid_id,
        |    list_inner_product(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
        |      (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        |       sqrt(list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS c_cos
        |  FROM embeddings e, cent c),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, centroid_id ASC) AS rn
        |  FROM assign),
        |buck AS (SELECT vec_id, embedding, centroid_id AS bucket FROM ranked WHERE rn = 1),
        |probe AS (SELECT vec_id, embedding, centroid_id AS bucket FROM ranked
        |  WHERE rn <= 2 AND vec_id < 30),
        |cand AS (SELECT q.vec_id AS q_id, b.vec_id AS neighbor_id,
        |    list_inner_product(q.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |      (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
        |       sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cos_raw
        |  FROM probe q JOIN buck b ON q.bucket = b.bucket
        |  WHERE q.vec_id <> b.vec_id)
        |SELECT q_id, neighbor_id, round(cos_raw, 6) AS cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rn
        |  FROM cand) WHERE rn <= 3""".stripMargin,
    "q_blocklist" ->
      """WITH tok AS (SELECT doc_id,
        |    list_transform(regexp_split_to_array(trim(text), '\s+'),
        |      t -> lower(t)) AS toks
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    list_sort(list_distinct(list_filter(toks,
        |      t -> list_contains(['the', 'quantum', 'xylophone'], t)))) AS mt
        |  FROM tok)
        |SELECT doc_id, len(mt) > 0 AS blocked,
        |  coalesce(array_to_string(mt, '|'), '') AS matched
        |FROM m""".stripMargin,
    "q_chunk" ->
      """WITH tok AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |nz AS (SELECT * FROM tok WHERE len(toks) > 0),
        |st AS (SELECT doc_id, toks,
        |    unnest(range(0, len(toks), 48)) AS strt FROM nz)
        |SELECT doc_id, CAST(strt / 48 AS INTEGER) AS chunk_no,
        |  CAST(len(toks[strt+1 : strt+64]) AS INTEGER) AS n_tokens,
        |  md5(array_to_string(toks[strt+1 : strt+64], ' ')) AS chunk_md5
        |FROM st""".stripMargin,
    "q_para_dedup" ->
      """WITH mp AS (SELECT doc_id,
        |    text || chr(10) || chr(10) || 'shared fragment ' || CAST(doc_id % 20 AS VARCHAR)
        |      || chr(10) || chr(10) || 'tail ' || CAST(doc_id % 7 AS VARCHAR) AS text
        |  FROM documents),
        |sp AS (SELECT doc_id, str_split(text, chr(10) || chr(10)) AS parts FROM mp),
        |paras AS (SELECT doc_id,
        |    CAST(generate_subscripts(parts, 1) AS INTEGER) AS pos,
        |    unnest(parts) AS para
        |  FROM sp),
        |keep AS (SELECT doc_id, pos, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
        |  FROM paras WHERE length(trim(para)) > 0),
        |agg AS (SELECT doc_id,
        |    string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text
        |  FROM keep WHERE rn = 1 GROUP BY doc_id)
        |SELECT m.doc_id,
        |  md5(coalesce(a.text, '')) AS text_md5,
        |  CAST(length(coalesce(a.text, '')) AS INTEGER) AS text_len
        |FROM mp m LEFT JOIN agg a ON m.doc_id = a.doc_id""".stripMargin,
    "q_token_budget" ->
      """WITH toks AS (SELECT doc_id, source,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n FROM documents),
        |avail AS (SELECT source, CAST(sum(n) AS DOUBLE) AS avail
        |  FROM toks GROUP BY source),
        |f AS (SELECT a.source, least(1.0, b.budget / a.avail) AS frac
        |  FROM avail a JOIN (VALUES ('src0', 100000.0), ('src1', 2000.0),
        |    ('src2', 50.0)) b(source, budget) ON a.source = b.source)
        |SELECT t.doc_id, t.source FROM toks t JOIN f ON t.source = f.source
        |WHERE CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 8))
        |    AS BIGINT) / 4294967296.0 < f.frac""".stripMargin,
    "q_dedup_components" ->
      """WITH RECURSIVE nodes AS (SELECT DISTINCT p_partkey % 500 AS k FROM part),
        |chain AS (SELECT k AS l_id, k - 1 AS r_id FROM nodes WHERE k % 5 <> 0),
        |mg AS (SELECT k AS l_id, k - 7 AS r_id FROM nodes WHERE k % 35 = 0 AND k > 0),
        |edges AS (SELECT l_id, r_id FROM chain UNION SELECT l_id, r_id FROM mg),
        |sym AS (SELECT l_id AS a, r_id AS b FROM edges
        |        UNION SELECT r_id, l_id FROM edges),
        |reach(a, b) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
        |SELECT a AS id, CAST(least(a, min(b)) AS BIGINT) AS component
        |FROM reach GROUP BY a""".stripMargin,
    "q_ivf_refine" ->
      """WITH cent AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id % 23 = 0),
        |assign AS (SELECT e.vec_id, e.embedding, c.centroid_id,
        |    list_inner_product(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
        |      (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        |       sqrt(list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS c_cos
        |  FROM embeddings e, cent c),
        |buck AS (SELECT vec_id, embedding, centroid_id AS bucket FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, centroid_id ASC) AS rn
        |    FROM assign) WHERE rn = 1),
        |expl AS (SELECT bucket AS centroid_id,
        |    CAST(generate_subscripts(embedding, 1) AS INTEGER) AS dim,
        |    unnest(embedding::DOUBLE[]) AS val
        |  FROM buck)
        |SELECT centroid_id, dim, round(sum(val) / count(*), 6) AS mean_val
        |FROM expl GROUP BY centroid_id, dim""".stripMargin,
    "q_quality_filter" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |m AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS n,
        |    list_sum(list_transform(toks, t -> length(t))) / CAST(len(toks) AS DOUBLE) AS meanlen,
        |    len(list_filter(toks, t -> list_contains(['the','a','of','and','to'], t))) / CAST(len(toks) AS DOUBLE) AS stopr,
        |    len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) AS uniqr
        |  FROM tok)
        |SELECT doc_id,
        |  (n BETWEEN 20 AND 100000) AND (meanlen BETWEEN 2.0 AND 12.0)
        |    AND stopr >= 0.02 AND uniqr >= 0.1 AS keep
        |FROM m""".stripMargin,
    "q_embed_dedup" ->
      s"""WITH $PlanesSql,
         |cand AS (
         |  SELECT DISTINCT ba.vec_id AS l_id, bb.vec_id AS r_id
         |  FROM buck ba JOIN buck bb ON ba.tbl = bb.tbl AND ba.bucket = bb.bucket
         |  WHERE ba.vec_id < bb.vec_id),
         |scored AS (
         |  SELECT c.l_id, c.r_id,
         |    list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
         |      (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
         |       sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cos_raw
         |  FROM cand c JOIN embeddings a ON c.l_id = a.vec_id
         |    JOIN embeddings b ON c.r_id = b.vec_id)
         |SELECT l_id, r_id, round(cos_raw, 6) AS cos FROM scored WHERE cos_raw >= 0.2""".stripMargin,
    "q_ann_lsh" ->
      s"""WITH $PlanesSql,
         |cand AS (
         |  SELECT DISTINCT ba.vec_id AS q_id, bb.vec_id AS neighbor_id
         |  FROM buck ba JOIN buck bb ON ba.tbl = bb.tbl AND ba.bucket = bb.bucket
         |  WHERE ba.vec_id < 50 AND ba.vec_id <> bb.vec_id),
         |scored AS (
         |  SELECT c.q_id, c.neighbor_id,
         |    list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
         |      (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
         |       sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cos_raw
         |  FROM cand c JOIN embeddings a ON c.q_id = a.vec_id
         |    JOIN embeddings b ON c.neighbor_id = b.vec_id)
         |SELECT q_id, neighbor_id, round(cos_raw, 6) AS cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rn
         |  FROM scored) WHERE rn <= 3""".stripMargin
  )
}
