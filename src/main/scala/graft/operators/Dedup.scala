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

  /** Persist unless this plan is already registered with the CacheManager
    * (`df.storageLevel` consults it by plan equality) — a second persist on
    * a structurally-equal plan would log a CacheManager warning and cache
    * nothing new.
    */
  private def persistOnce(
      df: DataFrame,
      level: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
  ): DataFrame =
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist(level)
    else df

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

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Default [[candidatePairs]] bucket cap: any LSH bucket past ~10³ docs is
    * near-certain mass duplication (empty docs, shared boilerplate) and is
    * cheaper handled through representatives than through its full
    * quadratic pair set.
    */
  val DefaultMaxBucketSize: Int = 1024

  /** Docs beyond the per-bucket cap for a banded signature frame:
    * (oversized buckets, doc slots past the cap). The "never silent" half of
    * the [[candidatePairs]] degenerate-bucket guard — callers monitoring a
    * corpus can alert on it directly.
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
    * bucket. Join key is (band index, band hash) — never all-pairs.
    *
    * Degenerate-bucket guard: a boilerplate-heavy corpus (empty docs, shared
    * templates) can put b docs into ONE bucket, and an uncapped self-join
    * then emits b·(b−1)/2 pairs — one hot bucket dominating the whole job at
    * corpus scale. Buckets past `maxBucketSize` are capped the same way as
    * the streaming twin ([[graft.streaming.StreamingOps.nearDupCandidatesStream]]
    * `maxBucketSize`): the lowest-id docs are retained as representatives,
    * and every other doc in the bucket pairs against the representatives
    * only — per-bucket output drops from quadratic to
    * cap·(b−cap) + cap·(cap−1)/2 (linear in b), while every doc stays
    * connected to the bucket's component for downstream
    * [[connectedComponents]]/[[dedupByComponent]]. Only
    * dropped-doc × dropped-doc pairs are lost, and those are reachable
    * through the representatives. The truncation is never silent: it is
    * logged with bucket/doc counts ([[bucketOverflow]] exposes the same
    * numbers programmatically). Non-degenerate buckets (≤ cap) are emitted
    * exactly as before.
    */
  def candidatePairs(
      sigs: DataFrame,
      idCol: String = "doc_id",
      maxBucketSize: Int = DefaultMaxBucketSize
  ): DataFrame = {
    // both sides of the self-join read this — persist so signatures are
    // computed once (a few band hashes per document, tiny). Lifecycle is
    // caller-owned: a long-lived service should unpersist via
    // spark.catalog.clearCache() between batches.
    val exploded = persistOnce(
      sigs.select(
        col(idCol), posexplode(col("bands")).as(Seq("band", "band_hash"))))
    cappedBandPairs(
      exploded, idCol, Seq("band", "band_hash"), maxBucketSize, "candidatePairs")
  }

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
    * threshold. The band join is an equi-shuffle (never all-pairs) with
    * the same oversized-bucket guard as [[candidatePairs]] (identical
    * documents collapse to one simhash → one hot bucket).
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
  ): DataFrame = {
    require(maxHamming < bands,
      s"recall guarantee needs maxHamming < bands: $maxHamming / $bands")
    require(60 % bands == 0, s"bands must divide 60: $bands")
    val width = 60 / bands
    val mask = (1L << width) - 1
    val sh = persistOnce(simhashSignatures(docs, idCol, textCol))
    val banded = sh.select(
      col(idCol),
      posexplode(
        array((0 until bands).map(b =>
          shiftright(col("simhash"), b * width).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "band_val")))
    val pairs = cappedBandPairs(
      banded, idCol, Seq("band", "band_val"), maxBucketSize, "simhashCandidatePairs")
    pairs
      .join(sh.select(col(idCol).as("l_doc"), col("simhash").as("_ls")), Seq("l_doc"))
      .join(sh.select(col(idCol).as("r_doc"), col("simhash").as("_rs")), Seq("r_doc"))
      .withColumn("hamming", bit_count(col("_ls").bitwiseXOR(col("_rs"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("l_doc"), col("r_doc"), col("hamming"))
  }

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
  ): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val idIdx = media.schema.fieldIndex(idCol)
    val contentIdx = media.schema.fieldIndex(contentCol)
    val outSchema = StructType(Seq(
      media.schema(idCol),
      StructField("dhash", LongType, nullable = false)))
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        Multimodal.dHash64(r.getAs[Array[Byte]](contentIdx))
          .map(hv => Row(r.get(idIdx), hv))
      }
    }(Encoders.row(outSchema))
  }

  /** EXACT content-level image near-duplicate join: all pairs whose dHash
    * Hamming distance ≤ `maxHamming`, found via multi-index banding
    * (Norouzi et al. 2012's pigeonhole: split the 64-bit hash into
    * `bands` equal slices — two hashes within Hamming `maxHamming <
    * bands` MUST agree exactly on at least one slice), so candidate
    * generation is an equi-join on (band, band_val) buckets, NEVER
    * all-pairs, with the same hot-bucket cap + loud-drop discipline as
    * the text families. Verification is `bit_count(xor)` — codegen, no
    * arrays on the shuffle. The image analogue of
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
    banded64HammingPairs(
      imageDHashes(media, idCol, contentCol), "dhash",
      maxHamming, bands, idCol, maxBucketSize, "imagePHashPairs")

  /** The shared exact banded 64-bit Hamming self-join behind
    * [[imagePHashPairs]] and [[audioPHashPairs]]: Norouzi-style
    * multi-index pigeonhole banding (two hashes within Hamming
    * `maxHamming < bands` MUST agree exactly on one of `bands` equal
    * slices) → (band, band_val) bucket equi-join with the hot-bucket
    * cap + loud-drop discipline → codegen `bit_count(xor)`
    * verification. Never all-pairs; no arrays on the shuffle.
    */
  private def banded64HammingPairs(
      signatures: DataFrame,
      hashCol: String,
      maxHamming: Int,
      bands: Int,
      idCol: String,
      maxBucketSize: Int,
      what: String
  ): DataFrame = {
    require(maxHamming < bands,
      s"recall guarantee needs maxHamming < bands: $maxHamming / $bands")
    require(64 % bands == 0, s"bands must divide 64: $bands")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val sh = persistOnce(signatures)
    val banded = sh.select(
      col(idCol),
      posexplode(
        array((0 until bands).map(b =>
          // logical shift: the top band of a 64-bit hash must not smear
          // the sign bit the way an arithmetic shift would
          shiftrightunsigned(col(hashCol), b * width)
            .bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "band_val")))
    val pairs = cappedBandPairs(
      banded, idCol, Seq("band", "band_val"), maxBucketSize, what)
    pairs
      .join(sh.select(col(idCol).as("l_doc"), col(hashCol).as("_lh")), Seq("l_doc"))
      .join(sh.select(col(idCol).as("r_doc"), col(hashCol).as("_rh")), Seq("r_doc"))
      .withColumn("hamming", bit_count(col("_lh").bitwiseXOR(col("_rh"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("l_doc"), col("r_doc"), col("hamming"))
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
  ): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val idIdx = media.schema.fieldIndex(idCol)
    val contentIdx = media.schema.fieldIndex(contentCol)
    val outSchema = StructType(Seq(
      media.schema(idCol),
      StructField("dhash0", LongType, nullable = false),
      StructField("dhash1", LongType, nullable = false)))
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        Multimodal.dHash128(r.getAs[Array[Byte]](contentIdx))
          .map(ws => Row(r.get(idIdx), ws(0), ws(1)))
      }
    }(Encoders.row(outSchema))
  }

  /** EXACT content-level image near-duplicate join over the 128-bit
    * dHash — [[imagePHashPairs]] widened past the 64-bit banding
    * saturation: with 16-bit bands the hot-bucket cap starts engaging
    * near N ≈ 67M images (N/2^16 mean occupancy); the default here is
    * four 32-BIT bands at maxHamming 3, pushing mean band-bucket
    * occupancy below 1 until N ≈ 4.3e9 while keeping the identical
    * pigeonhole recall guarantee (Hamming ≤ maxHamming < bands forces
    * exact agreement on ≥1 contiguous band), the same hot-bucket cap +
    * loud-drop discipline, and a codegen two-word `bit_count(xor)`
    * verification — no arrays on the shuffle.
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
  ): DataFrame = {
    require(maxHamming < bands,
      s"recall guarantee needs maxHamming < bands: $maxHamming / $bands")
    require(bands >= 2 && 128 % bands == 0 && 64 % (128 / bands) == 0,
      s"bands must divide 128 with a width dividing 64: $bands")
    val width = 128 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val perWord = 64 / width
    val sh = persistOnce(imageDHashes128(media, idCol, contentCol))
    val banded = sh.select(
      col(idCol),
      posexplode(
        array((0 until bands).map { b =>
          // logical shift: band values must not smear the word's sign bit
          shiftrightunsigned(col(s"dhash${b / perWord}"), (b % perWord) * width)
            .bitwiseAND(lit(mask))
        }: _*))
        .as(Seq("band", "band_val")))
    val pairs = cappedBandPairs(
      banded, idCol, Seq("band", "band_val"), maxBucketSize,
      "imagePHash128Pairs")
    pairs
      .join(sh.select(col(idCol).as("l_doc"),
        col("dhash0").as("_l0"), col("dhash1").as("_l1")), Seq("l_doc"))
      .join(sh.select(col(idCol).as("r_doc"),
        col("dhash0").as("_r0"), col("dhash1").as("_r1")), Seq("r_doc"))
      .withColumn("hamming",
        (bit_count(col("_l0").bitwiseXOR(col("_r0"))) +
          bit_count(col("_l1").bitwiseXOR(col("_r1")))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("l_doc"), col("r_doc"), col("hamming"))
  }

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
  ): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val idIdx = media.schema.fieldIndex(idCol)
    val contentIdx = media.schema.fieldIndex(contentCol)
    val outSchema = StructType(Seq(
      media.schema(idCol),
      StructField("afp", LongType, nullable = false)))
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        Multimodal.audioFingerprint64(r.getAs[Array[Byte]](contentIdx))
          .map(hv => Row(r.get(idIdx), hv))
      }
    }(Encoders.row(outSchema))
  }

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
  ): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val idIdx = media.schema.fieldIndex(idCol)
    val contentIdx = media.schema.fieldIndex(contentCol)
    val outSchema = StructType(Seq(
      media.schema(idCol),
      StructField("sample_hash", LongType, nullable = false)))
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        Multimodal.audioContentHash64(r.getAs[Array[Byte]](contentIdx))
          .map(hv => Row(r.get(idIdx), hv))
      }
    }(Encoders.row(outSchema))
  }

  /** EXACT content-level audio near-duplicate join: all pairs whose
    * energy-envelope fingerprints sit within Hamming `maxHamming`, via
    * the same multi-index pigeonhole banding as [[imagePHashPairs]] —
    * candidate generation is an equi-join on (band, band_val) buckets,
    * NEVER all-pairs, hot buckets capped with logged drops,
    * verification a codegen `bit_count(xor)`. Byte-level dedup cannot
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
    banded64HammingPairs(
      audioFingerprints(media, idCol, contentCol), "afp",
      maxHamming, bands, idCol, maxBucketSize, "audioPHashPairs")

  /** Shared guarded banded self-join: distinct (l_doc, r_doc) pairs of ids
    * co-bucketed on `keys`, with oversized buckets capped to their
    * lowest-id representatives (dropped docs still pair AGAINST the
    * representatives; see [[candidatePairs]] for the full rationale) and
    * the truncation logged, never silent.
    */
  private def cappedBandPairs(
      exploded: DataFrame,
      idCol: String,
      keys: Seq[String],
      maxBucketSize: Int,
      what: String
  ): DataFrame = {
    val cached = persistOnce(exploded)
    val (oversized, dropped) = {
      val r = cached
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("_n"))
        .filter(col("_n") > maxBucketSize)
        .agg(
          count(lit(1)).as("buckets"),
          coalesce(sum(col("_n") - maxBucketSize), lit(0L)).as("dropped"))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    if (oversized > 0)
      log.warn(
        s"$what: $oversized bucket(s) exceed maxBucketSize=$maxBucketSize; " +
          s"$dropped doc slot(s) beyond the cap pair only against the " +
          "lowest-id representatives (dropped×dropped pairs are not emitted)")
    // The overflow count above already paid one pass over `cached`; use it to
    // pick the plan. The row_number cap costs a full sort-shuffle of the
    // exploded frame, so only pay it when some bucket actually overflows —
    // the common (no-overflow) case joins the cached frame directly.
    val reps =
      if (oversized == 0) cached
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*)
          .orderBy(col(idCol))
        cached
          .withColumn("_rk", row_number().over(w))
          .filter(col("_rk") <= maxBucketSize)
          .drop("_rk")
      }
    reps.as("a")
      .join(
        cached.as("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("l_doc"), col(s"b.$idCol").as("r_doc"))
      .distinct()
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
    * their similarity so callers can threshold.
    */
  def verifiedPairs(docs: DataFrame): DataFrame = {
    // signature computation is the dominant cost (token-level shuffle) and
    // feeds both candidate generation and verification — persisted; caller
    // owns the unpersist (clearCache between batches in long-lived use)
    val sigs = persistOnce(signatures(docs))
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
    // set elements: word n-shingles by default (near-unique off-diagonal, so
    // rarity-ordered prefixes actually prune; shingle=1 degrades to unigram
    // token sets, which on boilerplate-heavy corpora makes EVERY pair a
    // candidate — measured 104 s vs 4 s at sf0.1 on the synthetic docs)
    val elems =
      if (shingle <= 1) TextOps.tokenize(lower(col(textCol)))
      else TextOps.shingles(TextOps.tokenize(col(textCol)), shingle)
    val toks = docs
      .select(col(idCol).as("id"), explode(elems).as("term"))
      .distinct()
    val df = toks.groupBy(col("term")).agg(count(lit(1)).as("_df"))
    val ranked = toks
      .join(df, Seq("term"))
      .withColumn(
        "_rank",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("id"))
            .orderBy(col("_df").asc, col("term").asc)))
      .withColumn("_size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))))
    // ceil over a tiny negative epsilon: for thetas whose closest double
    // sits ABOVE the decimal value (e.g. 0.07*100 → 7.000000000000001,
    // ceil 8) a plain ceil would shorten the prefix below the sound bound
    // and could miss an exact-boundary pair — the epsilon can only ever
    // LENGTHEN the prefix (more candidates, never fewer), so the
    // no-false-negatives contract holds for every representable theta.
    val prefix = ranked
      .filter(col("_rank") <=
        col("_size") - ceil(lit(theta) * col("_size") - lit(1e-9)) + lit(1))
      .select(col("id"), col("term"), col("_size").as("sz"))
    // Length filter AT candidate generation (PPJoin): Jaccard ≥ θ implies
    // θ·max(|a|,|b|) ≤ min(|a|,|b|), and set sizes already ride on the
    // prefix rows — pruning here shrinks the candidate distinct() AND the
    // verification joins below, which ship full shingle-set arrays per
    // surviving pair (the dominant spill at the sf10 probe: 11 GB at 256
    // partitions before this filter).
    val candidates = prefix.as("a")
      .join(prefix.as("b"),
        col("a.term") === col("b.term") && col("a.id") < col("b.id") &&
          greatest(col("a.sz"), col("b.sz")) * lit(theta) <=
            least(col("a.sz"), col("b.sz")))
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
    * to keep only terms the container also has, count per pair, then join
    * the tiny per-id size table for the denominator. No token-set arrays
    * ever ride a shuffle (the previous array formulation shipped BOTH full
    * `collect_set`s per candidate pair and spilled 28.8 GB at the 100×
    * group-growth probe; every row here is three scalar columns).
    * Shuffle width for the postings-keyed joins is derived from the
    * measured postings volume (one count over the persisted postings, ~1M
    * rows per partition, AQE coalesces any overshoot) instead of the
    * session default — the caller no longer has to size partitions to
    * corpus volume by hand.
    *
    * The two verification joins come in two physical shapes, picked by the
    * measured candidate volume IN BYTES, not rows (2M pairs of long string
    * doc ids can dwarf 2M pairs of ints — the same stats job that counts
    * the pairs also measures their mean id width):
    *   - **broadcast-sized candidate sets** (the common case — candidate
    *     pairs are prefix-filtered survivors, orders of magnitude fewer
    *     than postings): the pair table is BROADCAST and both verification
    *     sides are the same explicit term-hash repartition of the postings
    *     (ReuseExchange plans them as one physical exchange). The expand
    *     join (broadcast) preserves that partitioning and the container
    *     join's keys contain `term` on both sides, so the whole
    *     verification runs WITHOUT A SINGLE EXCHANGE of the expanded rows
    *     — only the map-side-combined per-pair counts shuffle. The gate is
    *     auto-derived from the SMALLEST heap the broadcast must fit in:
    *     the driver JVM's `Runtime.maxMemory`, further min'd with the
    *     parsed `spark.executor.memory` when the master is non-local
    *     (broadcast residency lands on EVERY executor — a big driver
    *     must not admit a broadcast into small executors; absent the
    *     conf, Spark's 1g executor default is assumed). An eighth of
    *     that, clamped to [384 MB, 6 GB] — the floor keeps the shipped
    *     2M-pair behaviour for ordinary ids, the cap is ¾ of Spark's
    *     8 GB broadcast hard limit; on a 4 GB executor the heap/8 term
    *     yields a 512 MB budget, so small executors flip to the shuffle
    *     fallback long before the cap binds — compared against
    *     `nPairs × (128 + avg id chars)` estimated broadcast bytes (the
    *     per-pair constant is measured, see ContainmentBcProbe /
    *     BASELINE.md round-16 curve).
    *   - **larger candidate sets** fall back to the shuffle chain above,
    *     whose per-task state is bounded by the volume-derived partition
    *     width (the zero-spill shape verified at the 100× group probe).
    *
    * Concurrency: the folded path needs subset-key co-partitioning
    * (`spark.sql.requireAllClusterKeysForCoPartition=false`), a
    * session-level planner conf. It is planned and materialised on a
    * CLONED `SparkSession.newSession()` — isolated `SQLConf`, shared
    * `SparkContext` / cache manager — so the caller's session conf is
    * NEVER touched: an unrelated query planned concurrently on the same
    * session keeps its default co-partitioning semantics at every
    * instant (pinned by ConcurrencySpec). The caller's modifiable SQL
    * confs are copied onto the clone first, so plan-shape settings
    * (AQE, codegen, shuffle width) carry over; the per-pair count table
    * is ONE logical plan bound to both sessions (plan-identity cache
    * sharing), registered + materialised on the clone and read by the
    * caller-bound result.
    *
    * Cache lifecycle: the corpus-sized postings and candidate caches are
    * unpersisted before this returns — both physical shapes eagerly
    * materialise the per-pair intersection counts and the per-doc size
    * table, and the returned frame reads only those two persisted
    * relations (≤ one narrow row per candidate pair / per doc). Repeated
    * invocations in a long-lived session therefore do not accumulate
    * corpus-sized disk caches.
    *
    * @param maxBroadcastPairs physical-shape override: 0 (default) derives
    *        the broadcast gate from measured candidate bytes vs the JVM
    *        heap as described above; a positive value forces the legacy
    *        row-count gate (fold iff `nPairs <=` it — byte safety is then
    *        the caller's responsibility, e.g. probes that sized the heap
    *        to match); any negative value forces the shuffle fallback.
    * @return `(inner_doc, outer_doc, containment)` for all ordered pairs
    *         with |S(inner) ∩ S(outer)| / |S(inner)| ≥ theta
    */
  def containmentJoin(
      docs: DataFrame,
      theta: Double,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingle: Int = 3,
      maxBroadcastPairs: Long = 0L
  ): DataFrame = {
    require(theta > 0.0 && theta <= 1.0, s"theta out of (0,1]: $theta")
    val elems =
      if (shingle <= 1) TextOps.tokenize(lower(col(textCol)))
      else TextOps.shingles(TextOps.tokenize(col(textCol)), shingle)
    // postings feed candidate generation AND both verification joins —
    // persist once, and the count below both materialises the cache and
    // measures the volume the shuffle width is derived from. DISK_ONLY,
    // not MEMORY_AND_DISK: a corpus-sized postings cache in the memory
    // store pins the unified pool down to the non-evictable storage floor
    // and starves every concurrent shuffle writer (measured at the 100×
    // group-growth probe: ShuffleInMemorySorter could not acquire 32 KB
    // even to SPILL); disk-backed blocks cost one local read per reuse and
    // leave the whole execution pool to the joins.
    val toks = persistOnce(
      docs.select(col(idCol).as("id"), explode(elems).as("term")).distinct(),
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val nPostings = toks.count()
    val sessionParts =
      toks.sparkSession.sessionState.conf.numShufflePartitions
    val parts = math.min(
      4096L, math.max(sessionParts.toLong, nPostings / 1000000L + 1L)).toInt
    val df = toks.groupBy(col("term")).agg(count(lit(1)).as("_df"))
    val ranked = toks
      .join(df, Seq("term"))
      .withColumn(
        "_rank",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("id"))
            .orderBy(col("_df").asc, col("term").asc)))
      .withColumn("_size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))))
    // epsilon before ceil: see setSimilarityJoin — a double theta rounding
    // ABOVE its decimal value must lengthen the prefix, never shorten it
    val prefix = ranked
      .filter(col("_rank") <=
        col("_size") - ceil(lit(theta) * col("_size") - lit(1e-9)) + lit(1))
      .select(col("id"), col("term"))
    val candidates = persistOnce(
      prefix.repartition(parts, col("term")).as("a")
        .join(toks.repartition(parts, col("term")).as("b"),
          col("a.term") === col("b.term") && col("a.id") =!= col("b.id"))
        .select(col("a.id").as("inner_doc"), col("b.id").as("outer_doc"))
        .distinct(),
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // one stats job materialises the candidate cache AND measures both
    // gate inputs: pair count and mean id width (ids cast to string — the
    // broadcast carries their serialized bytes whatever the type)
    val stats = candidates.agg(
      count(lit(1)).as("_n"),
      avg(length(col("inner_doc").cast("string")) +
        length(col("outer_doc").cast("string"))).as("_w")).head()
    val nPairs = stats.getLong(0)
    val avgIdChars = if (stats.isNullAt(1)) 0.0 else stats.getDouble(1)
    // per-pair broadcast cost: MEASURED, not derived — ContainmentBcProbe
    // (BASELINE.md round-16 curve) put the BroadcastExchange dataSize at
    // 132-167 B/pair for 24 id chars (1M-32M pairs), i.e. ~108 B/pair
    // amortized fixed cost (UnsafeRow layout + HashedRelation entries) on
    // top of the id bytes; 128 keeps headroom for the small-n end. The
    // same probe showed task peak ≈ broadcast size + ~80 MB, so this
    // budget bounds executor pressure directly.
    val estPairBytes = (nPairs.toDouble * (128.0 + avgIdChars)).toLong
    val heapBudget = broadcastHeapBudget(docs.sparkSession)
    val fold =
      if (maxBroadcastPairs > 0L) nPairs <= maxBroadcastPairs
      else if (maxBroadcastPairs < 0L) false
      else estPairBytes <= heapBudget
    // always state the physical decision and its inputs — at deployment
    // scale the two shapes differ by an order of magnitude in shuffle
    // volume, and a silent gate is undiagnosable from the plan alone
    log.warn(
      s"containmentJoin: $nPairs candidate pairs, avg id chars " +
        f"$avgIdChars%.1f, est broadcast ${estPairBytes >> 20} MB vs " +
        s"budget ${heapBudget >> 20} MB (override=$maxBroadcastPairs) -> " +
        (if (fold) "FOLDED broadcast verification"
         else "shuffle-fallback verification"))
    // |A∩B| per pair: expand candidates by the contained side's postings
    // (one narrow row per (pair, term-of-A)), keep rows whose term the
    // container also posts, count. Postings are distinct per (id, term) so
    // the inner join counts each shared term exactly once. Both shapes are
    // materialised EAGERLY (persist + count) so the corpus-sized postings
    // and candidate caches can be released before returning.
    val interCnt = if (fold) {
      // folded shape: broadcast pairs; the expand join (broadcast)
      // preserves the streamed side's explicit HashPartitioning(term),
      // `term` is one of the container join's keys on BOTH sides, and the
      // two term-repartition subtrees are structurally identical so
      // ReuseExchange plans them as ONE physical postings exchange — the
      // expanded rows themselves never shuffle, and the shuffle_hash hint
      // builds on the (per-partition bounded) postings side so they are
      // never sorted either. Subset-key co-partitioning (both sides
      // clustered on `term` alone for the (outer_doc, term) join) is a
      // supported-but-default-off planner feature; the enabling conf is
      // SESSION-scoped, so the count materialisation is planned on a
      // cloned newSession() — isolated SQLConf, shared SparkContext /
      // cache manager — and the caller's session conf is never touched
      // (see the scaladoc concurrency note). ONE logical plan, two
      // session bindings: the iso-bound twin (GraftSqlBridge.ofRows over
      // the SAME analyzed-plan object) registers and materialises the
      // cache, compiling its physical plan under the clone's relaxed
      // conf; the returned caller-bound frame reads that plan object
      // directly, so the downstream cache substitution is a guaranteed
      // plan-identity hit. (A view-based re-bind missed the match and
      // silently recomputed the folded join — measured 2.5× solo at
      // sf0.1 and 5.8× at the 100× probe — hence plan identity, not
      // name-based round-tripping.)
      val session = docs.sparkSession
      val iso = session.newSession()
      // carry the caller's plan-shape settings (AQE, codegen, shuffle
      // width, ANSI …) onto the clone — newSession() starts from the
      // SparkConf initial values, not the caller's runtime conf
      session.conf.getAll.foreach { case (k, v) =>
        if (iso.conf.isModifiable(k) && !iso.conf.getOption(k).contains(v))
          try iso.conf.set(k, v) catch { case _: Exception => () }
      }
      iso.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
      val counts = containmentIntersectionFolded(toks, candidates, parts)
      val isoCounts = org.apache.spark.sql.GraftSqlBridge
        .ofRows(iso, counts.queryExecution.analyzed)
      persistOnce(isoCounts, org.apache.spark.storage.StorageLevel.DISK_ONLY)
        .count() // materialised under the clone's relaxed planner conf
      counts
    } else {
      val counts = persistOnce(
        candidates
          .repartition(parts, col("inner_doc"))
          .join(
            toks.select(col("id").as("inner_doc"), col("term"))
              .repartition(parts, col("inner_doc")),
            Seq("inner_doc"))
          .repartition(parts, col("outer_doc"), col("term"))
          .join(
            toks.select(col("id").as("outer_doc"), col("term"))
              .repartition(parts, col("outer_doc"), col("term")),
            Seq("outer_doc", "term"))
          .groupBy(col("inner_doc"), col("outer_doc"))
          .agg(count(lit(1)).as("_i")),
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
      counts.count()
      counts
    }
    // per-doc sizes: one narrow row per document — materialise, then free
    // the corpus-sized caches; the returned plan reads only interCnt+sizes
    val sizes = persistOnce(
      toks.groupBy(col("id")).agg(count(lit(1)).as("sz")))
    sizes.count()
    candidates.unpersist()
    toks.unpersist()
    interCnt
      .join(sizes.select(col("id").as("inner_doc"), col("sz")), Seq("inner_doc"))
      .withColumn("containment", col("_i").cast("double") / col("sz"))
      .filter(col("containment") >= theta)
      .select(col("inner_doc"), col("outer_doc"), col("containment"))
  }

  /** Broadcast admission budget of [[containmentJoin]]'s folded path, its
    * only user: the smallest heap a broadcast must fit in, divided by 8
    * and clamped to [384 MB, 6 GB]. The driver builds
    * the broadcast (Runtime.maxMemory) but each executor holds a full
    * copy, so on a non-local master the budget also bounds by the parsed
    * `spark.executor.memory` (Spark's 1g default when unset — a large
    * driver must never admit a multi-GB broadcast into small executors);
    * in local mode driver == executor and the JVM heap is the whole
    * story. The floor keeps the de-facto 2M-pair behaviour for ordinary
    * ids (2M × ~150 B); the cap is ¾ of Spark's 8 GB broadcast hard
    * limit (probe-verified clean through the 32M-pair / 4.2 GB cell:
    * zero spill on a 64 GB heap). heap/8 is the binding bound below
    * 48 GB heaps, so a 4 GB executor still gets a 512 MB budget and
    * flips to the shuffle fallback long before the cap matters.
    */
  private def broadcastHeapBudget(
      spark: org.apache.spark.sql.SparkSession): Long = {
    val sc = spark.sparkContext
    val minHeap = {
      val driver = Runtime.getRuntime.maxMemory()
      if (sc.isLocal) driver
      else math.min(
        driver,
        sc.getConf.getOption("spark.executor.memory")
          .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
          .getOrElse(1L << 30))
    }
    math.max(384L << 20, math.min(minHeap / 8, 6L << 30))
  }

  /** The folded per-pair intersection-count shape used by
    * [[containmentJoin]]'s broadcast path, exposed for plan pinning: with
    * subset-key co-partitioning enabled, the expanded (pair, term) rows
    * flow from the broadcast expand join straight into a shuffled-hash
    * container join with no exchange and no sort between them.
    *
    * @param toks distinct `(id, term)` postings
    * @param candidates `(inner_doc, outer_doc)` pairs, broadcast-sized
    */
  private[graft] def containmentIntersectionFolded(
      toks: DataFrame,
      candidates: DataFrame,
      parts: Int
  ): DataFrame =
    toks.repartition(parts, col("term"))
      .select(col("id").as("inner_doc"), col("term"))
      .join(broadcast(candidates), Seq("inner_doc"))
      .join(
        toks.repartition(parts, col("term"))
          .select(col("id").as("outer_doc"), col("term"))
          .hint("shuffle_hash"),
        Seq("outer_doc", "term"))
      .groupBy(col("inner_doc"), col("outer_doc"))
      .agg(count(lit(1)).as("_i"))

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
    val elems =
      if (shingle <= 1) TextOps.tokenize(lower(col(textCol)))
      else TextOps.shingles(TextOps.tokenize(col(textCol)), shingle)
    val toks = docs
      .select(col(idCol).as("id"), explode(elems).as("term"))
      .distinct()
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
      // epsilon before ceil: see setSimilarityJoin — a double theta
      // rounding ABOVE its decimal value must lengthen the prefix
      .withColumn("pref", col("_rank") <=
        col("sz") - ceil(lit(minTheta) * col("sz") - lit(1e-9)) + lit(1))
      .select(col("id"), col("term"), col("sz"), col("pref"),
        lit(minTheta).as("min_theta"))
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

    def contained(inner: DataFrame, outer: DataFrame, side: String) = {
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
        .select(col("inner_doc"), col("outer_doc"), col("containment"),
          lit(side).as("side"))
    }
    contained(batch, refArtifact, "new_in_ref")
      .unionByName(contained(refArtifact, batch, "ref_in_new"))
  }
}
