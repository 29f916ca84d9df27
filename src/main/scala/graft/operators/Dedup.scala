package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Near-duplicate detection at corpus scale: MinHash + LSH banding.
  *
  * Scale design: candidate generation NEVER considers all pairs — documents
  * are exploded to (band, bandHash) keys and only bucket collisions are
  * joined (a shuffle on band hash, with each bucket tiny for non-duplicate
  * corpora). Verification (exact n-gram Jaccard) runs only on candidates.
  */
object Dedup {

  /** Per-document signature table: doc id, shingle set, band hashes.
    *
    * Relational formulation — shingles exploded to rows, MinHash as 16
    * `min` aggregates with map-side partial aggregation, so the signature
    * shuffle carries one partial row per (task, document) at corpus scale
    * and every md5 runs inside whole-stage codegen.
    *
    * Shingle formation history: round 4 A/B'd a staged-HOF variant
    * (shingle array per document, MinHash as 16 array_min(transform(md5)))
    * — its per-element md5 ran INTERPRETED and the candidate chain went
    * 5.7 s → >240 s, so rounds 4-17 formed shingles with a
    * `lead`-window over the exploded token stream instead. That window
    * SORT-SHUFFLES the whole token stream per call, and it was only
    * needed because `TextOps.shingles` used to re-inline its tokenize
    * child per element; now that the kernel let-binds its argument
    * (round 18), `explode(shingles(tokenize(text)))` forms the same
    * shingle rows with NO shuffle — only the cheap per-shingle concat is
    * interpreted, the hashes stay in codegen aggregates. Measured at
    * sf0.1 on summed executor CPU (the host-load-robust metric,
    * MemProbe min-of-3): q_near_dup 14.8 → 12.8 s, q_lsh_pairs
    * 13.7 → 12.5 s, with the token-stream Exchange+Sort gone from the
    * plan (plans/r18/); shuffle bytes shift from n short tokens to the
    * per-partition-deduped distinct shingles.
    */
  def signatures(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8
  ): DataFrame = {
    val shingleRows = docs.select(
      col(idCol),
      explode(TextOps.shingles(TextOps.tokenize(col(textCol)), shingleSize))
        .as("shingle"))
    val hashAggs = (0 until numHashes).map { j =>
      min(md5(concat(lit(s"s$j:"), col("shingle")))).as(s"_h$j")
    }
    shingleRows
      .groupBy(col(idCol))
      .agg(collect_set(col("shingle")).as("shingles"), hashAggs: _*)
      .select(
        col(idCol), col("shingles"),
        array((0 until numHashes).map(j => col(s"_h$j")): _*).as("sig")
      )
      .select(
        col(idCol), col("shingles"),
        TextOps.lshBands(col("sig"), bands, numHashes / bands).as("bands")
      )
  }

  /** Default [[candidatePairs]] bucket cap: any LSH bucket past ~10³ docs is
    * near-certain mass duplication (empty docs, shared boilerplate) and is
    * cheaper handled through representatives than through its full
    * quadratic pair set.
    */
  val DefaultMaxBucketSize: Int = 1024

  /** Docs beyond the per-bucket cap for a banded signature frame:
    * (oversized buckets, doc slots past the cap). The report half of the
    * [[candidatePairs]] degenerate-bucket guard: the pair operators never
    * probe for overflow themselves, so callers monitoring a corpus run this
    * when they want the numbers and can alert on them directly.
    */
  def bucketOverflow(
      sigs: DataFrame,
      idCol: String = "doc_id",
      maxBucketSize: Int = DefaultMaxBucketSize
  ): (Long, Long) = {
    val r = sigs
      .select(col(idCol), posexplode(col("bands")).as(Seq("band", "band_hash")))
      .groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") > maxBucketSize)
      .agg(
        count(lit(1)).as("buckets"),
        coalesce(sum(col("_n") - maxBucketSize), lit(0L)).as("dropped"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Candidate near-duplicate pairs: documents sharing at least one LSH band
    * bucket. Buckets are keyed on (band index, band hash) — never all-pairs.
    *
    * Degenerate-bucket guard: a boilerplate-heavy corpus (empty docs, shared
    * templates) can put b docs into ONE bucket, whose full pair set is
    * b·(b−1)/2 pairs — one hot bucket dominating the whole job at corpus
    * scale. Buckets past `maxBucketSize` are capped the same way as the
    * streaming twin ([[graft.streaming.StreamingOps.nearDupCandidatesStream]]
    * `maxBucketSize`): the lowest-id docs are retained as representatives,
    * and every other doc in the bucket pairs against the representatives
    * only — per-bucket output drops from quadratic to
    * cap·(b−cap) + cap·(cap−1)/2 (linear in b), while every doc stays
    * connected to the bucket's component for downstream
    * [[connectedComponents]]/[[dedupByComponent]]. Only
    * dropped-doc × dropped-doc pairs are lost, and those are reachable
    * through the representatives. Non-degenerate buckets (≤ cap) are
    * emitted in full. [[bucketOverflow]] reports the truncation (oversized
    * buckets, doc slots past the cap) on demand over the same signatures.
    *
    * The result is one lazy plan: building it runs no job and caches
    * nothing, so the caller owns no lifecycle.
    */
  def candidatePairs(
      sigs: DataFrame,
      idCol: String = "doc_id",
      maxBucketSize: Int = DefaultMaxBucketSize
  ): DataFrame =
    cappedBandPairs(
      sigs.select(col(idCol), posexplode(col("bands")).as(Seq("band", "band_hash"))),
      idCol, Seq("band", "band_hash"), maxBucketSize)
      .distinct()

  /** 60-bit SimHash per document, computed RELATIONALLY (posexplode →
    * one md5 per token → 60 codegen bit sums with map-side combine), the
    * [[signatures]] discipline — never 60 interpreted per-token HOF
    * aggregates. Bit b comes from bit (b mod 4) of md5 hex digit
    * (b div 4)+1, so one md5 per token feeds all 60 bits. 60 (not 64)
    * keeps `1L << b` clear of the sign bit on both engines.
    *
    * Wide variant of [[TextOps.simhash16]]: 16 bits is fine as a
    * fingerprint column but has only 2^16 values — at corpus scale its
    * band buckets collapse. 60 bits in 4 bands of 15 bits gives 32k
    * buckets per band for [[simhashCandidatePairs]].
    */
  def simhashSignatures(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      bits: Int = 60
  ): DataFrame = {
    require(bits > 0 && bits <= 60, s"bits must be in (0, 60]: $bits")
    // ONE radix conversion per token: the first 15 hex digits of the md5
    // become a 60-bit long, and each bit-sum input is a shift+mask on that
    // long. The former shape ran substring+conv per BIT (60 string parses
    // per token — q_simhash_pairs was 13.5 s of executor CPU at sf0.1,
    // nearly all in the signature aggregation's input expressions). Bit
    // mapping is unchanged: bit b read digit b/4+1 (from the left) shifted
    // by b%4, i.e. bit position 4*(14 - b/4) + b%4 of the packed long.
    val toks = docs
      .select(col(idCol), explode(TextOps.tokenize(col(textCol))).as("token"))
      .withColumn("_h", conv(substring(md5(col("token")), 1, 15), 16, 10).cast("long"))
    val bitSums = (0 until bits).map { b =>
      val pos = 4 * (14 - b / 4) + b % 4
      sum(
        shiftright(col("_h"), pos).bitwiseAND(lit(1L)) * 2 - 1).as(s"_b$b")
    }
    toks
      .groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(
        col(idCol),
        // The when-chain combine compiles to an 8501-byte aggregate-OUTPUT
        // method (past HotSpot's 8000-byte JIT limit, round-19 sweep) but
        // runs once per GROUP (per document), not per token row, so the
        // JIT miss is marginal; a branchless shiftleft(cast(_b >= 0))
        // variant was A/B'd and compiled BIGGER (11297 bytes), and any
        // project-split gets re-absorbed into the aggregate's result
        // expressions by CollapseProject. Left as the smallest known form;
        // -XX:-DontCompileHugeMethods keeps it compiled in deployment.
        (0 until bits)
          .map(b => when(col(s"_b$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _)
          .as("simhash"))
  }

  /** SimHash-banded near-duplicate pairs: candidates share at least one of
    * `bands` equal-width bit bands of the 60-bit [[simhashSignatures]]
    * fingerprint, verified by exact Hamming distance ≤ `maxHamming`.
    * By pigeonhole, every pair within Hamming `bands − 1` shares a band —
    * the default (4 bands, maxHamming 3) is exact-recall for its
    * threshold. Candidates come from (band, band_val) buckets (never
    * all-pairs) with the same oversized-bucket guard as [[candidatePairs]]
    * (identical documents collapse to one simhash → one hot bucket); see
    * [[bandedHammingPairs]] for the plan.
    *
    * Complementary to MinHash/LSH: SimHash Hamming tracks token-frequency
    * similarity (cheap, one fingerprint per doc), MinHash Jaccard tracks
    * shingle-set overlap (costlier, order-sensitive via shingles).
    */
  def simhashCandidatePairs(
      docs: DataFrame,
      maxHamming: Int = 3,
      bands: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxBucketSize: Int = DefaultMaxBucketSize
  ): DataFrame =
    bandedHammingPairs(
      simhashSignatures(docs, idCol, textCol), idCol, Seq("simhash"), 60,
      maxHamming, bands, maxBucketSize)

  /** Per-image 64-bit perceptual-hash signature table `(idCol, dhash)`
    * over an opaque-binary media frame ([[Multimodal.dHash64]]: decode →
    * 9×8 area-mean luma grid → horizontal gradient bits). Rows whose
    * content is not a decodable uncompressed bitmap are SKIPPED, not
    * hashed as garbage — at 100 TB a corrupt shard must not seed a
    * near-dup cluster. Per-partition batched like the Multimodal family;
    * the id column keeps its input type.
    */
  def imageDHashes(
      media: DataFrame,
      idCol: String = "media_id",
      contentCol: String = "content"
  ): DataFrame =
    mediaSignatures(media, idCol, contentCol, Seq("dhash"))(
      Multimodal.dHash64(_).map(Seq(_)))

  /** `(idCol, hashCols…)` over an opaque-binary media frame in one batched
    * `mapPartitions`: `hash` decodes a row's content into one long per hash
    * column, and a row it cannot decode is skipped. The id column keeps its
    * input type.
    */
  private def mediaSignatures(
      media: DataFrame,
      idCol: String,
      contentCol: String,
      hashCols: Seq[String]
  )(hash: Array[Byte] => Option[Seq[Long]]): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val idIdx = media.schema.fieldIndex(idCol)
    val contentIdx = media.schema.fieldIndex(contentCol)
    val outSchema = StructType(
      media.schema(idCol) +: hashCols.map(StructField(_, LongType, nullable = false)))
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        hash(r.getAs[Array[Byte]](contentIdx)).map(hs => Row.fromSeq(r.get(idIdx) +: hs))
      }
    }(Encoders.row(outSchema))
  }

  /** EXACT content-level image near-duplicate join: all pairs whose dHash
    * Hamming distance ≤ `maxHamming`, found via multi-index banding
    * (Norouzi et al. 2012's pigeonhole: split the 64-bit hash into
    * `bands` equal slices — two hashes within Hamming `maxHamming <
    * bands` MUST agree exactly on at least one slice), so candidate
    * generation groups (band, band_val) buckets, NEVER all-pairs, with
    * the same hot-bucket cap as the text families. Verification is
    * `bit_count(xor)` on the pair row — codegen. The image analogue of
    * [[simhashCandidatePairs]]: byte-level dedup cannot see the same
    * pixels re-encoded across containers; the dHash is computed from the
    * DECODED plane, so a BMP and a PPM of one image land at Hamming 0.
    *
    * @return `(l_doc, r_doc, hamming)` with l_doc < r_doc
    */
  def imagePHashPairs(
      media: DataFrame,
      maxHamming: Int = 3,
      bands: Int = 4,
      idCol: String = "media_id",
      contentCol: String = "content",
      maxBucketSize: Int = DefaultMaxBucketSize
  ): DataFrame =
    bandedHammingPairs(
      imageDHashes(media, idCol, contentCol), idCol, Seq("dhash"), 64,
      maxHamming, bands, maxBucketSize)

  /** The shared exact banded Hamming join behind [[simhashCandidatePairs]],
    * [[imagePHashPairs]], [[audioPHashPairs]] and [[imagePHash128Pairs]]:
    * Norouzi-style multi-index pigeonhole banding (two hashes within
    * Hamming `maxHamming < bands` MUST agree exactly on one of `bands`
    * equal slices; every slice lies inside one of the `hashCols` words of
    * `wordBits` bits) → capped (band, band_val) buckets
    * ([[cappedBandPairs]]) → codegen `bit_count(xor)` summed over the
    * words. The hash words ride in each bucket member, so the pair row
    * carries both sides' hashes and is verified where it is formed — no
    * join back to the signature table, and the signatures have a single
    * consumer. Never all-pairs; one lazy plan that caches nothing.
    *
    * @return `(l_doc, r_doc, hamming)` with l_doc < r_doc
    */
  private def bandedHammingPairs(
      signatures: DataFrame,
      idCol: String,
      hashCols: Seq[String],
      wordBits: Int,
      maxHamming: Int,
      bands: Int,
      maxBucketSize: Int
  ): DataFrame = {
    require(maxHamming < bands,
      s"recall guarantee needs maxHamming < bands: $maxHamming / $bands")
    require(bands > 0 && bands % hashCols.size == 0 && wordBits % (bands / hashCols.size) == 0,
      s"bands must cut each $wordBits-bit hash word into equal slices: $bands")
    val perWord = bands / hashCols.size
    val width = wordBits / perWord
    val mask = if (width == 64) -1L else (1L << width) - 1
    val bandVals = (0 until bands).map { b =>
      // logical shift: the top band of a 64-bit word must not smear its
      // sign bit the way an arithmetic shift would
      shiftrightunsigned(col(hashCols(b / perWord)), (b % perWord) * width)
        .bitwiseAND(lit(mask))
    }
    val banded = signatures.select(
      (col(idCol) +: hashCols.map(col)) :+
        posexplode(array(bandVals: _*)).as(Seq("band", "band_val")): _*)
    val hamming = hashCols
      .map(h => bit_count(col(s"l_$h").bitwiseXOR(col(s"r_$h"))))
      .reduce(_ + _)
      .cast("int")
    cappedBandPairs(banded, idCol, Seq("band", "band_val"), maxBucketSize, hashCols)
      .filter(hamming <= maxHamming)
      .distinct()
      .select(col("l_doc"), col("r_doc"), hamming.as("hamming"))
  }

  /** Per-image 128-bit perceptual-hash signature table
    * `(idCol, dhash0, dhash1)` ([[Multimodal.dHash128]]: decode → 17×8
    * area-mean luma grid → 16 gradient bits × 8 rows, rows 0–3 in
    * `dhash0`). Same skip-not-garbage and batching contract as
    * [[imageDHashes]].
    */
  def imageDHashes128(
      media: DataFrame,
      idCol: String = "media_id",
      contentCol: String = "content"
  ): DataFrame =
    mediaSignatures(media, idCol, contentCol, Seq("dhash0", "dhash1"))(
      Multimodal.dHash128(_).map(ws => Seq(ws(0), ws(1))))

  /** EXACT content-level image near-duplicate join over the 128-bit
    * dHash — [[imagePHashPairs]] widened past the 64-bit banding
    * saturation: with 16-bit bands the hot-bucket cap starts engaging
    * near N ≈ 67M images (N/2^16 mean occupancy); the default here is
    * four 32-BIT bands at maxHamming 3, pushing mean band-bucket
    * occupancy below 1 until N ≈ 4.3e9 while keeping the identical
    * pigeonhole recall guarantee (Hamming ≤ maxHamming < bands forces
    * exact agreement on ≥1 contiguous band), the same hot-bucket cap, and
    * a codegen two-word `bit_count(xor)` verification on the pair row
    * ([[bandedHammingPairs]]).
    *
    * @param bands must divide 128 with a band width that divides 64
    *        (bands ∈ {2, 4, 8, 16, 32, 64, 128}), so every band is a
    *        contiguous slice of one hash word
    * @return `(l_doc, r_doc, hamming)` with l_doc < r_doc
    */
  def imagePHash128Pairs(
      media: DataFrame,
      maxHamming: Int = 3,
      bands: Int = 4,
      idCol: String = "media_id",
      contentCol: String = "content",
      maxBucketSize: Int = DefaultMaxBucketSize
  ): DataFrame =
    bandedHammingPairs(
      imageDHashes128(media, idCol, contentCol), idCol, Seq("dhash0", "dhash1"), 64,
      maxHamming, bands, maxBucketSize)

  /** Per-recording 64-bit energy-envelope fingerprint table
    * `(idCol, afp)` over an opaque-binary media frame
    * ([[Multimodal.audioFingerprint64]]: PCM decode → mono mix → 65
    * equal time blocks → energy gradient bits). Rows whose content is
    * not decodable PCM (or is shorter than 65 frames) are SKIPPED, not
    * hashed as garbage — the [[imageDHashes]] contract for audio.
    */
  def audioFingerprints(
      media: DataFrame,
      idCol: String = "media_id",
      contentCol: String = "content"
  ): DataFrame =
    mediaSignatures(media, idCol, contentCol, Seq("afp"))(
      Multimodal.audioFingerprint64(_).map(Seq(_)))

  /** Per-recording exact content-hash table `(idCol, sample_hash)`
    * ([[Multimodal.audioContentHash64]]: FNV-1a 64 over rate, channels
    * and every decoded sample): the exact-dedup complement of
    * [[audioFingerprints]] — a hash-groupBy on `sample_hash` dedups
    * decoded-identical recordings across container layouts with one
    * map-side-combinable shuffle. Undecodable rows are skipped.
    */
  def audioSampleHashes(
      media: DataFrame,
      idCol: String = "media_id",
      contentCol: String = "content"
  ): DataFrame =
    mediaSignatures(media, idCol, contentCol, Seq("sample_hash"))(
      Multimodal.audioContentHash64(_).map(Seq(_)))

  /** EXACT content-level audio near-duplicate join: all pairs whose
    * energy-envelope fingerprints sit within Hamming `maxHamming`, via
    * the same multi-index pigeonhole banding as [[imagePHashPairs]] —
    * candidate generation groups (band, band_val) buckets, NEVER
    * all-pairs, hot buckets capped ([[bucketOverflow]]-style report on
    * demand), verification a codegen `bit_count(xor)`. Byte-level dedup cannot
    * see one recording re-wrapped (chunk order, junk chunks, sample
    * width); the fingerprint is computed from the DECODED samples, so
    * those land at Hamming 0.
    *
    * @return `(l_doc, r_doc, hamming)` with l_doc < r_doc
    */
  def audioPHashPairs(
      media: DataFrame,
      maxHamming: Int = 3,
      bands: Int = 4,
      idCol: String = "media_id",
      contentCol: String = "content",
      maxBucketSize: Int = DefaultMaxBucketSize
  ): DataFrame =
    bandedHammingPairs(
      audioFingerprints(media, idCol, contentCol), idCol, Seq("afp"), 64,
      maxHamming, bands, maxBucketSize)

  /** Shared capped banded pairing: every pair of ids co-bucketed on `keys`
    * as `(l_doc, r_doc)` with l_doc < r_doc, oversized buckets capped to
    * their lowest-id representatives (dropped docs still pair AGAINST the
    * representatives; see [[candidatePairs]] for the rationale).
    *
    * One lazy plan with a single consumer of `banded`: one aggregation
    * collects each bucket's members, sorted by id, into a list; each of the
    * first `maxBucketSize` members pairs with every later member. That is
    * exactly the capped pair set, with no self-join, no eager overflow
    * probe and nothing cached; a bucket within the cap yields its full pair
    * set. Null ids sort first and take representative slots but never pair
    * (`<` on null is not true), as do equal ids. A pair sharing several
    * buckets is emitted once per bucket, so callers `distinct` after their
    * own filter. Each `carried` column rides in the member struct and comes
    * out as `l_<c>` and `r_<c>` on the pair row.
    */
  private def cappedBandPairs(
      banded: DataFrame,
      idCol: String,
      keys: Seq[String],
      maxBucketSize: Int,
      carried: Seq[String] = Nil
  ): DataFrame = {
    val members = col("_m")
    banded
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct((idCol +: carried).map(col): _*))).as("_m"))
      .select(members, posexplode(slice(members, 1, maxBucketSize)).as(Seq("_i", "_a")))
      .select(col("_a"), explode(slice(members, col("_i") + 2, size(members))).as("_b"))
      .filter(col(s"_a.$idCol") < col(s"_b.$idCol"))
      .select(
        Seq(col(s"_a.$idCol").as("l_doc"), col(s"_b.$idCol").as("r_doc")) ++
          carried.flatMap(c => Seq(col(s"_a.$c").as(s"l_$c"), col(s"_b.$c").as(s"r_$c"))): _*)
  }

  /** Exact Jaccard over distinct shingle sets. */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a)
    val db = array_distinct(b)
    val inter = size(array_intersect(da, db))
    inter / (size(da) + size(db) - inter).cast("double")
  }

  /** Connected components over near-duplicate pairs: pair lists under-count
    * duplication (a cluster of k near-identical docs is k·(k-1)/2 pairs);
    * training-data dedup keeps ONE canonical doc per component.
    *
    * Distributed min-label propagation with pointer jumping: labels start
    * as the node id; each round every node takes the min label over itself
    * and its neighbours, then follows its label one hop (label-of-label —
    * path compression), so label information travels a DOUBLING horizon and
    * convergence is O(log diameter) rounds instead of O(diameter). Each
    * round is two equi joins + one map-side-combinable min; iteration stops
    * when a round changes nothing. The `maxIterations` cap plus per-round
    * localCheckpoint (lineage truncation, same discipline as
    * [[OntologyClosure]]) bound the pathological case. No driver-side graph
    * ever exists, so component count and corpus size are unbounded.
    *
    * @param pairs (l_id, r_id) undirected candidate/verified pairs
    * @return (id, component) — component is the minimum id in the component
    */
  def connectedComponents(pairs: DataFrame, maxIterations: Int = 25): DataFrame =
    connectedComponentsWithRounds(pairs, maxIterations)._1

  /** [[connectedComponents]] plus the number of propagation rounds executed
    * (including the final no-change round that proves the fixpoint) — the
    * observable for skew shadow tests pinning the O(log diameter)
    * convergence claim.
    */
  def connectedComponentsWithRounds(
      pairs: DataFrame,
      maxIterations: Int = 25): (DataFrame, Int) = {
    val edges = pairs
      .select(col("l_id").as("src"), col("r_id").as("dst"))
      .union(pairs.select(col("r_id").as("src"), col("l_id").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var comp = edges
      .select(col("src").as("id"))
      .distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)
    // Labels are monotone non-increasing per node (`min`/`least` only), so
    // the fixpoint test is "did any node's label change this round" — an
    // equi join on id between consecutive label frames (both already
    // checkpointed) with an isEmpty probe (limit-1, early exit). Unlike a
    // label-sum trick this works for ANY orderable id type — string doc
    // hashes (md5 ids, a common dedup key) included, where a numeric cast
    // would throw under ANSI.
    var converged = false
    var round = 0
    while (!converged && round < maxIterations) {
      val msgs = edges
        .join(comp.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("component"))
      val propagated = comp
        .union(msgs)
        .groupBy("id")
        .agg(min("component").as("component"))
      // pointer jumping: adopt the label's own label when it is smaller
      // (labels are always node ids, so the self-join hits)
      val next = propagated
        .join(
          propagated.select(
            col("id").as("component"), col("component").as("_cc")),
          Seq("component"),
          "left")
        .select(
          col("id"),
          least(col("component"), coalesce(col("_cc"), col("component")))
            .as("component"))
        .localCheckpoint(true)
      converged = next
        .join(comp.select(col("id"), col("component").as("_prev")), Seq("id"))
        .where(col("component") =!= col("_prev"))
        .isEmpty
      comp = next
      round += 1
    }
    (comp, round)
  }

  /** Component-level dedup decision: every doc in a near-dup component keeps
    * the component's minimum id as canonical; docs not in any pair are their
    * own canonical. `keep` = "is the canonical copy".
    */
  def dedupByComponent(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val comp = connectedComponents(pairs)
      .select(col("id").as(idCol), col("component"))
    docs
      .join(comp, Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .withColumn("keep", col(idCol) === col("component"))
  }

  /** Verify candidates with exact n-gram Jaccard; keeps all candidates with
    * their similarity so callers can threshold. One lazy plan that caches
    * nothing: the signature table feeds both candidate generation and the
    * shingle join-back, and AQE reuses its exchange when the two subtrees
    * match (otherwise the signature aggregation runs once per consumer).
    */
  def verifiedPairs(docs: DataFrame): DataFrame = {
    val sigs = signatures(docs)
    val pairs = candidatePairs(sigs)
    val shingleSets = sigs.select(col("doc_id"), array_distinct(col("shingles")).as("s"))
    pairs
      .join(shingleSets.as("x"), col("l_doc") === col("x.doc_id"))
      .join(shingleSets.as("y"), col("r_doc") === col("y.doc_id"))
      .select(
        col("l_doc"),
        col("r_doc"),
        round(jaccard(col("x.s"), col("y.s")), 6).as("jaccard")
      )
  }

  /** Positions (1-indexed shingle starts) of word n-grams occurring at
    * least `minCount` times corpus-wide — the substring-level duplication
    * signal of Lee et al. 2021 ("Deduplicating Training Data Makes
    * Language Models Better"), which doc-level MinHash cannot see
    * (boilerplate shared by thousands of otherwise-distinct pages).
    *
    * Scale shape: grams are md5-hashed before the count shuffle (fixed-width
    * keys), the count aggregation is map-side combinable, and the flag-back
    * join is a plain shuffle join — the duplicated-gram set is NOT assumed
    * broadcastable (at 100 TB it can be billions of grams).
    */
  def duplicatedGramPositions(
      docs: DataFrame,
      n: Int = 5,
      minCount: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // grams are built relationally (posexplode + windowed lead, the
    // signatures() pattern) rather than via the shingles() HOF: a
    // posexplode over a transform() lambda re-inlines the tokenize split
    // into every element access — O(tokens²) per document (10× observed
    // at sf0.1)
    val tokens = docs.select(
      col(idCol), posexplode(TextOps.tokenize(col(textCol))).as(Seq("pos0", "token")))
    val w = Window.partitionBy(idCol).orderBy("pos0")
    val leads = (1 until n).map(k => lead(col("token"), k).over(w).as(s"_t$k"))
    val grams = tokens
      .select(col(idCol) +: col("pos0") +: col("token") +: leads: _*)
      .filter(col(s"_t${n - 1}").isNotNull)
      .select(
        col(idCol),
        (col("pos0") + 1).as("pos"),
        md5(concat_ws(" ", col("token") +: (1 until n).map(k => col(s"_t$k")): _*)).as("g"))
    val dup = grams
      .groupBy("g")
      .agg(count(lit(1)).as("occurrences"))
      .filter(col("occurrences") >= minCount)
    grams.join(dup, "g").select(col(idCol), col("pos"))
  }

  /** Maximal duplicated spans per document: flagged n-gram positions merged
    * whenever their token coverage is contiguous (a gram at `pos` covers
    * tokens `[pos, pos+n-1]`, so positions ≤ n apart merge). Classic
    * gaps-and-islands over a per-document window — bounded by document
    * length, never corpus-wide. Output: (id, span_start, span_end,
    * n_grams), token positions 1-indexed inclusive.
    */
  def duplicatedSpans(
      docs: DataFrame,
      n: Int = 5,
      minCount: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(idCol).orderBy("pos")
    duplicatedGramPositions(docs, n, minCount, idCol, textCol)
      .withColumn(
        "newIsland",
        when(coalesce(col("pos") - lag("pos", 1).over(w), lit(n + 1)) > n, 1).otherwise(0))
      .withColumn("island", sum("newIsland").over(w))
      .groupBy(col(idCol), col("island"))
      .agg(
        min("pos").as("span_start"),
        (max("pos") + (n - 1)).as("span_end"),
        count(lit(1)).cast("int").as("n_grams"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** Remove every token covered by a duplicated n-gram and reassemble the
    * document (single-space joined). Covered positions are derived by
    * exploding each flagged gram to its n token indices (an n× blow-up of
    * the FLAGGED set only, not the corpus) and anti-joining the token
    * stream. Output: (id, clean_text, n_removed).
    */
  def scrubDuplicatedSpans(
      docs: DataFrame,
      n: Int = 5,
      minCount: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val covered = duplicatedGramPositions(docs, n, minCount, idCol, textCol)
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (n - 1))).as("tpos"))
      .distinct()
    val tokens = docs
      .select(col(idCol), posexplode(TextOps.tokenize(col(textCol))).as(Seq("tpos0", "tok")))
      .select(col(idCol), (col("tpos0") + 1).as("tpos"), col("tok"))
    val kept = tokens.join(covered, Seq(idCol, "tpos"), "left_anti")
    val rebuilt = kept
      .groupBy(col(idCol))
      .agg(
        concat_ws(
          " ",
          transform(
            array_sort(collect_list(struct(col("tpos"), col("tok")))),
            s => s.getField("tok"))).as("clean_text"),
        count(lit(1)).cast("int").as("n_kept"))
    docs
      .select(col(idCol), size(TextOps.tokenize(col(textCol))).as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0))).cast("int").as("n_removed"))
  }

  /** Incremental near-dup: verified candidates between a NEW ingest batch
    * and an existing REFERENCE corpus only (new × ref — never ref × ref,
    * which the publish run already did). The reference side is the
    * persisted [[signatures]] artifact from that run, so a 100 TB corpus is
    * NOT re-hashed per batch: only the (small) new side computes
    * signatures, and the band join's shuffle is sized by the batch.
    *
    * @return `(new_id, ref_id, jaccard)` for verified pairs ≥ threshold
    */
  def incrementalNearDup(
      newSigs: DataFrame,
      refSigs: DataFrame,
      threshold: Double,
      idCol: String = "doc_id"
  ): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold out of (0,1]: $threshold")
    def bandKeys(sigs: DataFrame, as: String): DataFrame =
      sigs.select(
        col(idCol).as(as), posexplode(col("bands")).as(Seq("band", "band_hash")))
    val candidates = bandKeys(newSigs, "new_id")
      .join(bandKeys(refSigs, "ref_id"), Seq("band", "band_hash"))
      .select(col("new_id"), col("ref_id"))
      .distinct()
    candidates
      .join(newSigs.select(col(idCol).as("new_id"), col("shingles").as("_sa")), Seq("new_id"))
      .join(refSigs.select(col(idCol).as("ref_id"), col("shingles").as("_sb")), Seq("ref_id"))
      .withColumn("jaccard", jaccard(col("_sa"), col("_sb")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("ref_id"), col("jaccard"))
  }

  /** EXACT threshold set-similarity self-join (token-set Jaccard ≥ θ) via
    * prefix filtering (Chaudhuri/Ganti/Kaushik 2006, the PPJoin family):
    * order each document's distinct tokens by global rarity (df asc, term
    * asc — a total order), keep only the first `|d| − ⌈θ·|d|⌉ + 1` tokens
    * as its prefix; any pair with Jaccard ≥ θ MUST collide on at least one
    * prefix token, so the candidate join is an equi-join on prefix tokens
    * (rarity-ordered prefixes make hot tokens structurally unlikely in
    * prefixes), never all-pairs. Candidates are then verified exactly with
    * `array_intersect` over the per-document token sets.
    *
    * Complements the PROBABILISTIC LSH path: same guarantee shape as a
    * database-style similarity join — no false negatives at all.
    *
    * @return `(doc_a, doc_b, jacc)` for all pairs with Jaccard ≥ theta
    */
  def setSimilarityJoin(
      docs: DataFrame,
      theta: Double,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingle: Int = 3
  ): DataFrame = {
    require(theta > 0.0 && theta <= 1.0, s"theta out of (0,1]: $theta")
    val toks = postings(docs, idCol, textCol, shingle)
    val prefix = rarityPrefix(toks, theta)
      .filter(col("pref"))
      .select(col("id"), col("term"), col("sz"))
    // Length filter AT candidate generation (PPJoin): Jaccard ≥ θ implies
    // θ·max(|a|,|b|) ≤ min(|a|,|b|), and set sizes already ride on the
    // prefix rows — pruning here shrinks the candidate distinct() AND the
    // verification joins below, which ship full shingle-set arrays per
    // surviving pair (the dominant spill at the sf10 probe: 11 GB at 256
    // partitions before this filter).
    val candidates = prefix.as("a")
      .join(prefix.as("b"),
        col("a.term") === col("b.term") && col("a.id") < col("b.id") &&
          least(col("a.sz"), col("b.sz")) >=
            thetaCeil(theta, greatest(col("a.sz"), col("b.sz"))))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    val sets = toks.groupBy(col("id")).agg(collect_set(col("term")).as("ts"))
    candidates
      .join(sets.select(col("id").as("doc_a"), col("ts").as("ta")), Seq("doc_a"))
      .join(sets.select(col("id").as("doc_b"), col("ts").as("tb")), Seq("doc_b"))
      .withColumn("_i", size(array_intersect(col("ta"), col("tb"))).cast("double"))
      .withColumn("jacc", col("_i") / (size(col("ta")) + size(col("tb")) - col("_i")))
      .filter(col("jacc") >= theta)
      .select(col("doc_a"), col("doc_b"), col("jacc"))
  }

  /** Distinct `(id, term)` set elements per document for the exact set
    * joins: word n-shingles by default (near-unique off-diagonal, so
    * rarity-ordered prefixes actually prune); `shingle <= 1` degrades to
    * lower-cased unigram token sets, which on boilerplate-heavy corpora
    * makes EVERY pair a candidate — measured 104 s vs 4 s at sf0.1 on the
    * synthetic docs.
    */
  private def postings(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingle: Int
  ): DataFrame = {
    val elems =
      if (shingle <= 1) TextOps.tokenize(lower(col(textCol)))
      else TextOps.shingles(TextOps.tokenize(col(textCol)), shingle)
    docs.select(col(idCol).as("id"), explode(elems).as("term")).distinct()
  }

  /** ⌈θ·n⌉ for an integer count `n`, the bound behind every prefix length
    * and size filter of the exact set joins. The ceil runs over a tiny
    * negative epsilon: for thetas whose closest double sits ABOVE the
    * decimal value (e.g. 0.07*100 → 7.000000000000001, ceil 8) a plain
    * ceil would shorten a prefix below the sound bound, or prune a pair
    * whose size ratio is exactly θ, and miss an exact-boundary pair. The
    * epsilon can only ever LENGTHEN a prefix or admit a pair (more
    * candidates, never fewer), so the no-false-negatives contract holds
    * for every representable theta.
    */
  private def thetaCeil(theta: Double, n: Column): Column =
    ceil(lit(theta) * n - lit(1e-9))

  /** The rarity-ordered prefix kernel of the exact set joins: every
    * posting of `toks` with its document's set size `sz` and `pref`, true
    * for the document's first `sz − ⌈θ·sz⌉ + 1` terms in global
    * df-ascending order (ties by term, a total order).
    */
  private def rarityPrefix(toks: DataFrame, theta: Double): DataFrame = {
    val df = toks.groupBy(col("term")).agg(count(lit(1)).as("_df"))
    toks
      .join(df, Seq("term"))
      .withColumn(
        "_rank",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("id"))
            .orderBy(col("_df").asc, col("term").asc)))
      .withColumn("sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))))
      .withColumn("pref",
        col("_rank") <= col("sz") - thetaCeil(theta, col("sz")) + lit(1))
      .select(col("id"), col("term"), col("sz"), col("pref"))
  }

  /** EXACT threshold containment self-join (asymmetric: |A∩B| / |A| ≥ θ —
    * "document a is θ-contained in document b", the quote / subset /
    * excerpt-detection variant the symmetric Jaccard join cannot express:
    * a short quote inside a long page has low Jaccard but containment 1).
    *
    * Same prefix-filter machinery as [[setSimilarityJoin]], adapted to the
    * asymmetric bound: containment ≥ θ forces |A∩B| ≥ ⌈θ·|A|⌉, so at most
    * `|A| − ⌈θ·|A|⌉` of A's elements miss B and A's rarity-ordered prefix
    * of length `|A| − ⌈θ·|A|⌉ + 1` must collide with SOME element of B.
    * The container side cannot be prefix-filtered (containment puts no
    * bound on |B|), so candidates join contained-side prefixes against the
    * full term postings — rarity-first prefixes keep hot-term postings
    * structurally unlikely as candidate keys, and there is no PPJoin
    * length filter here BY SEMANTICS (a 5-shingle quote legitimately
    * matches a 5000-shingle page). No false negatives.
    *
    * Verification is exact but RELATIONAL: |A∩B| is counted by joining the
    * candidate pairs back through the (id, term) postings — expand each
    * pair by the contained side's postings, equi-join on (outer_doc, term)
    * to keep only terms the container also has, count per pair. No
    * token-set arrays ever ride a shuffle (an array formulation shipped
    * BOTH full `collect_set`s per candidate pair and spilled 28.8 GB at
    * the 100× group-growth probe; every row here is a few scalar columns).
    *
    * The result is one lazy plan over one [[containmentArtifact]] of
    * `docs` at θ, used as both sides: building it runs no Spark job and
    * nothing is persisted. AQE picks broadcast or sort-merge for each join
    * from the measured stage sizes and reuses the identical postings
    * exchanges, and the shuffle width comes from the session
    * (`spark.sql.shuffle.partitions`) and AQE's partition coalescing.
    *
    * @return `(inner_doc, outer_doc, containment)` for all ordered pairs
    *         with |S(inner) ∩ S(outer)| / |S(inner)| ≥ theta
    */
  def containmentJoin(
      docs: DataFrame,
      theta: Double,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingle: Int = 3
  ): DataFrame = {
    require(theta > 0.0 && theta <= 1.0, s"theta out of (0,1]: $theta")
    val art = containmentArtifact(docs, theta, idCol, textCol, shingle)
    contained(art, art, theta)
  }

  /** Publish-time containment artifact for [[incrementalContainmentJoin]]:
    * the reference corpus reduced to its distinct `(id, term)` shingle
    * postings with the per-doc set size and a precomputed rarity-ordered
    * prefix flag — everything incremental quote detection needs, so a
    * 100 TB corpus is shingled ONCE at publish time and never again. The
    * caller persists this frame (parquet, partitioned however ingest
    * shards it); per-batch cost is then independent of corpus text size.
    *
    * Columns (canonical names, whatever `idCol` was): `id`, `term`, `sz`
    * (distinct-term count of the doc), `pref` (true for the doc's first
    * `sz − ⌈minTheta·sz⌉ + 1` terms in global df-ascending order),
    * `min_theta` (the constant build threshold). A prefix computed at
    * `minTheta` is a SUPERSET of the prefix for any θ ≥ minTheta
    * (the length `sz − ⌈θ·sz⌉ + 1` shrinks as θ grows), so one artifact
    * serves every query threshold down to its build value —
    * [[incrementalContainmentJoin]] enforces θ ≥ min_theta at runtime.
    */
  def containmentArtifact(
      docs: DataFrame,
      minTheta: Double,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingle: Int = 3
  ): DataFrame = {
    require(minTheta > 0.0 && minTheta <= 1.0,
      s"minTheta out of (0,1]: $minTheta")
    rarityPrefix(postings(docs, idCol, textCol, shingle), minTheta)
      .withColumn("min_theta", lit(minTheta))
  }

  /** `(inner_doc, outer_doc, containment)` for every pair with
    * |S(inner) ∩ S(outer)| / |S(inner)| ≥ θ, between two
    * [[containmentArtifact]] frames: the inner side's prefix postings join
    * the outer side's postings into candidate pairs, and each pair's
    * intersection is counted relationally through both sides' postings.
    * Inner prefixes must be built at a threshold ≤ θ.
    */
  private def contained(
      inner: DataFrame,
      outer: DataFrame,
      theta: Double
  ): DataFrame = {
    val outerPost = outer.select(col("id").as("outer_doc"), col("term"))
    inner.filter(col("pref"))
      .select(col("id").as("inner_doc"), col("term"))
      .join(outerPost, Seq("term"))
      .filter(col("inner_doc") =!= col("outer_doc"))
      .select(col("inner_doc"), col("outer_doc"))
      .distinct()
      .join(inner.select(col("id").as("inner_doc"), col("term"), col("sz")),
        Seq("inner_doc"))
      .join(outerPost, Seq("outer_doc", "term"))
      .groupBy(col("inner_doc"), col("outer_doc"), col("sz"))
      .agg(count(lit(1)).as("_i"))
      .withColumn("containment", col("_i").cast("double") / col("sz"))
      .filter(col("containment") >= theta)
      .select(col("inner_doc"), col("outer_doc"), col("containment"))
  }

  /** Incremental containment join — the quote-detection twin of
    * [[incrementalNearDup]]: EXACT threshold containment between a NEW
    * ingest batch and a published reference corpus, in BOTH asymmetric
    * directions (`new_in_ref`: a new doc quotes the corpus; `ref_in_new`:
    * a corpus doc is quoted by the batch), without ever re-shingling the
    * reference — its side comes entirely from a persisted
    * [[containmentArtifact]]. Same semantics as [[containmentJoin]]
    * restricted to cross pairs: |S(inner) ∩ S(outer)| / |S(inner)| ≥ θ.
    *
    * The batch is reduced to its own artifact at the query θ, so both
    * directions are one shape: the inner side's prefix postings join the
    * outer side's postings into candidate pairs (the same
    * no-false-negatives prefix bound as [[containmentJoin]]; reference
    * prefixes are the artifact's superset flags), and verification is
    * the same relational |A∩B| count — no token-set arrays ride any
    * shuffle.
    *
    * The result is one lazy plan. Its only action is the `min_theta`
    * check (a `take(1)` on the artifact) and nothing is persisted: AQE
    * picks broadcast or sort-merge for each join from the measured stage
    * sizes, so a small batch streams the reference against broadcast
    * batch postings and a large one shuffles both sides, with identical
    * results. The plan scans the artifact four times (candidates and
    * verification, each direction): pass a persisted or published
    * artifact, not a live shingling plan.
    *
    * @param refArtifact a [[containmentArtifact]] frame (any storage);
    *        θ must be ≥ its `min_theta` (enforced)
    * @return `(inner_doc, outer_doc, containment, side)` — inner_doc is
    *         the contained (quoted) doc; side ∈ {new_in_ref, ref_in_new}
    */
  def incrementalContainmentJoin(
      newDocs: DataFrame,
      refArtifact: DataFrame,
      theta: Double,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingle: Int = 3
  ): DataFrame = {
    require(theta > 0.0 && theta <= 1.0, s"theta out of (0,1]: $theta")
    val mtRow = refArtifact.select(col("min_theta")).take(1)
    val mt = if (mtRow.isEmpty) 0.0 else mtRow(0).getDouble(0)
    require(theta >= mt - 1e-12,
      s"theta $theta below the artifact's build threshold $mt: reference " +
        "prefix flags would no longer cover all qualifying pairs")
    // batch prefixes at the QUERY theta (exact, not the artifact bound);
    // rarity rank from batch df — any total order is sound, see the
    // pigeonhole argument in containmentJoin's scaladoc
    val batch = containmentArtifact(newDocs, theta, idCol, textCol, shingle)
    contained(batch, refArtifact, theta).withColumn("side", lit("new_in_ref"))
      .unionByName(
        contained(refArtifact, batch, theta).withColumn("side", lit("ref_in_new")))
  }
}
