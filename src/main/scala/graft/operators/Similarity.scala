package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructType}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths:
  *   - [[bruteForceTopK]]: exact cosine top-k via a broadcast cross join —
  *     the correctness baseline, O(|queries| × |corpus|). Fine when the
  *     query set is small and broadcastable.
  *   - [[lshBuckets]] + [[annTopK]]: random-hyperplane LSH — vectors are
  *     bucketed by sign-pattern, candidates are co-bucketed only. The join
  *     shuffles on the bucket id, so corpus scale-out is linear; this is the
  *     100 TB path.
  *
  * Hyperplane weights derive from md5 so any engine (and the DuckDB oracle)
  * reproduces them exactly.
  */
object Similarity {

  /** Cast a float-array column to double for stable arithmetic. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Pairwise dot product — a native codegen expression
    * ([[graft.functions.DotProduct]]): a primitive loop inside whole-stage
    * codegen, replacing the interpreted `aggregate(zip_with(...))` HOF chain
    * with identical semantics and bit-identical accumulation order.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.expressions.dot_product(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Cosine from a pairwise dot and PRE-COMPUTED per-side norms. The
    * interpreted HOF dot product is the unit of cost in every pairwise
    * kernel; [[cosine]] evaluates three of them per pair (a·b, a·a, b·b),
    * while norms are per-VECTOR quantities — computing them once in the
    * projection before the join cuts pairwise HOF work 3×. Bit-identical to
    * [[cosine]]: same expressions, same evaluation order, just hoisted.
    */
  def cosineWithNorms(dotAb: Column, normA: Column, normB: Column): Column =
    dotAb / (normA * normB)

  /** sqrt(v·v) — hoist this per side before any pairwise join. */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Exact top-k neighbours for each query vector (excluding self), ranked
    * by cosine desc with id tiebreak.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int
  ): DataFrame = {
    val q = queries.select(
      col("vec_id").as("q_id"), asDouble(col("embedding")).as("q_emb"))
      .withColumn("q_norm", norm(col("q_emb")))
    val c = corpus.select(
      col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("c_emb"))
      .withColumn("c_norm", norm(col("c_emb")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_raw").desc, col("neighbor_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("neighbor_id"))
      .withColumn(
        "cos_raw",
        cosineWithNorms(dot(col("q_emb"), col("c_emb")), col("q_norm"), col("c_norm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("neighbor_id"), round(col("cos_raw"), 6).as("cos"))
  }

  /** ±1 hyperplane weight for (plane, dim), derived from md5 — deterministic
    * and engine-independent: +1 iff the first hex digit of
    * md5("p:&lt;plane&gt;:d:&lt;dim&gt;") is ≥ 8.
    */
  def planeWeight(plane: Int, dim: Int): Double = {
    val h = MessageDigest.getInstance("MD5")
      .digest(s"p:$plane:d:$dim".getBytes(StandardCharsets.UTF_8))
    val firstHexDigit = (h(0) >> 4) & 0xf
    if (firstHexDigit >= 8) 1.0 else -1.0
  }

  private def bucketExpr(planeOffset: Int, numPlanes: Int, dims: Int): Column = {
    val vecD = asDouble(col("embedding"))
    (0 until numPlanes)
      .map { p =>
        val plane = (0 until dims).map(d => planeWeight(planeOffset + p, d))
        val d = dot(vecD, typedlit(plane))
        when(d >= 0, lit(1L << p)).otherwise(lit(0L))
      }
      .reduce(_ + _)
  }

  /** Append an LSH `bucket` column: bit p of the bucket is the sign of the
    * dot product with hyperplane p.
    *
    * Sizing rule: with B = 2^numPlanes buckets the candidate join does
    * Σ O(|bucket|²) ≈ O(N²/B) work, so pick
    * `numPlanes ≈ log2(N / targetBucketSize)` — bucket count proportional
    * to corpus size, per-bucket work O(targetBucketSize · N). The default of
    * 16 planes (65,536 buckets) keeps within-bucket joins tractable to
    * ~10⁸–10⁹ vectors; beyond that, raise numPlanes (20 planes ≈ 1M
    * buckets). Narrow buckets lose recall — recover it with
    * [[lshBucketsMulti]] OR-amplification, not wider buckets.
    */
  def lshBuckets(vectors: DataFrame, numPlanes: Int = 16, dims: Int = 64): DataFrame =
    vectors.withColumn("bucket", bucketExpr(0, numPlanes, dims))

  /** Multi-table LSH (OR-amplification): `numTables` independent plane sets;
    * a pair is a candidate if it co-buckets in ANY table. Output has one row
    * per (vector, table) with columns `table` and `bucket`; table t uses
    * global plane indices [t·numPlanes, (t+1)·numPlanes), so table 0
    * reproduces the single-table bucketing. Candidate generation joins on
    * (table, bucket) — still an equi-shuffle, linear in corpus size — and
    * downstream consumers dedup candidate pairs across tables
    * ([[annTopKMulti]], [[embeddingNearDupPairsMulti]]).
    */
  def lshBucketsMulti(
      vectors: DataFrame,
      numTables: Int = 4,
      numPlanes: Int = 16,
      dims: Int = 64
  ): DataFrame = {
    val tables = (0 until numTables).map { t =>
      struct(lit(t).as("table"), bucketExpr(t * numPlanes, numPlanes, dims).as("bucket"))
    }
    vectors
      .withColumn("tb", explode(array(tables: _*)))
      .withColumn("table", col("tb.table"))
      .withColumn("bucket", col("tb.bucket"))
      .drop("tb")
  }

  /** A collected codebook: centroid ids in ascending order with their
    * embeddings as doubles, and the type of the `centroid_id` column they
    * came from.
    */
  private[operators] final case class Codebook(
      ids: IndexedSeq[Long], embs: IndexedSeq[IndexedSeq[Double]], idType: DataType)

  /** Driver-memory budget for a collected codebook. The C ≈ √N sizing
    * rule keeps codebooks small at today's scales, but at N = 10¹²,
    * d = 768 the coarse table is ~6 GB, enough to OOM a driver silently.
    */
  private val CodebookBudgetBytes = 512L << 20

  /** Collect a bounded codebook (C ≈ √N rows by the IVF sizing rule) to the
    * driver. Every codebook consumer goes through here: the assignment and
    * probe kernels, the PQ encoders and the ADC lookup tables, which carry
    * the collected rows into their projections. Validates up front that
    * `centroid_id` is a non-null integral column: a string or null id
    * would otherwise surface as an opaque ANSI-cast error or NPE mid-job.
    *
    * Over `budget` it fails loudly before the full collect instead of
    * OOMing the driver: the embedding width (the `dims` a PQ caller
    * declares, else probed from one row) gives the affordable row count,
    * and the rows come through a limit of that count plus one, so the
    * driver never holds more whatever the table size. A codebook the
    * library built itself ([[kmeansParallelSeed]], [[lloydRefine]]) is a
    * local table, whose probe and collect run no Spark job.
    */
  private[operators] def collectCodebook(
      centroids: DataFrame,
      what: String,
      dims: Option[Int] = None,
      budget: Long = CodebookBudgetBytes
  ): Codebook = {
    val idType = centroids.schema("centroid_id").dataType
    require(
      Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"$what: centroid_id must be an integral type (got $idType)")
    val minimal = centroids
      .select(col("centroid_id").cast("long"), asDouble(col("embedding")))
    val width = dims.getOrElse(
      minimal.limit(1).collect().headOption
        .map(r => if (r.isNullAt(1)) 1 else r.getSeq[Double](1).size)
        .getOrElse(1)).max(1)
    val cap = (budget / (8L * width + 32L)).max(1L).min(Int.MaxValue - 1L).toInt
    val rows = minimal.limit(cap + 1).collect()
    require(
      rows.length <= cap,
      s"$what: codebook exceeds the ${budget >> 20} MiB driver budget " +
        s"(> $cap rows at $width dims). A √N-sized codebook outgrows driver " +
        "memory at very large N (e.g. N=10¹², d=768 → ~6 GB); shrink the codebook.")
    rows.foreach(r =>
      require(!r.isNullAt(0), s"$what: codebook contains a null centroid_id"))
    val sorted = rows.map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq)).sortBy(_._1)
    Codebook(sorted.map(_._1).toIndexedSeq, sorted.map(_._2).toIndexedSeq, idType)
  }

  /** `(vec_id, embedding, bucket)` with `bucket` from a `cell` kernel over
    * `book`, typed like its `centroid_id`. An empty codebook gives an
    * empty frame.
    */
  private def cells(vectors: DataFrame, book: Codebook)(cell: => Column): DataFrame =
    if (book.ids.isEmpty)
      vectors
        .select(
          col("vec_id"), col("embedding"),
          lit(null).cast("long").cast(book.idType).as("bucket"))
        .filter(lit(false))
    else
      vectors
        .select(col("vec_id"), col("embedding"), cell.as("_bucket"))
        .select(col("vec_id"), col("embedding"), col("_bucket").cast(book.idType).as("bucket"))

  /** The collected centroid (`array<double>`) of a `bucket` column, read
    * from a map literal of `book`; null for a null bucket.
    */
  private def centroidOf(book: Codebook, bucket: Column): Column = {
    val cents = typedlit(book.ids.zip(book.embs).toMap)
    cents(bucket.cast("long"))
  }

  /** IVF-style partitioning: assign every vector to its nearest centroid
    * (cosine, centroid-id tiebreak). Centroids are any small bounded table
    * of (centroid_id, embedding); production would use k-means means, here
    * any deterministic subset works — the partition/probe mechanics are
    * identical.
    *
    * Sizing rule: with C centroids the probe join does O(N²/C) within-cell
    * work while assignment costs O(N·C), so C ≈ √N balances the two (the
    * classic IVF heuristic). C must grow with the corpus — a fixed small C
    * degenerates to quadratic within-cell joins at scale.
    *
    * Shuffle-free: the centroid table is collected ([[collectCodebook]])
    * and the argmax runs inside the projection as a codegen kernel
    * ([[graft.functions.NearestCentroid]]) — ZERO exchanges on the
    * assignment path. Null buckets occur only for null/null-element
    * embeddings (the kernel's null contract). No post-filter on the
    * computed bucket: a deterministic predicate on the alias would be
    * pushed below the projection and evaluate the O(C·dims) kernel twice
    * per row.
    */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame): DataFrame =
    assignCells(vectors, collectCodebook(centroids, "ivfAssign"))

  private def assignCells(vectors: DataFrame, book: Codebook): DataFrame =
    cells(vectors, book)(
      graft.functions.expressions.nearest_centroid(col("embedding"), book.ids, book.embs))

  /** Multi-probe IVF: each vector with its top-`nprobe` cells, one row per
    * (vector, probed cell) — the standard IVF recall knob: querying nprobe
    * cells multiplies candidate volume by ~nprobe while recall approaches
    * exhaustive as nprobe → C. Same zero-exchange projection design as
    * [[ivfAssign]] ([[graft.functions.TopNCentroids]] kernel + one
    * explode); probe cell 0 is exactly the [[ivfAssign]] cell. Apply to the
    * QUERY side and join against an [[ivfAssign]]-bucketed corpus
    * ([[annTopKProbed]]).
    */
  def ivfProbes(vectors: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame =
    probeCells(vectors, collectCodebook(centroids, "ivfProbes"), nprobe)

  private def probeCells(vectors: DataFrame, book: Codebook, nprobe: Int): DataFrame =
    cells(vectors, book)(
      explode(
        graft.functions.expressions.nearest_centroids(
          col("embedding"), book.ids, book.embs, nprobe)))

  /** Approximate top-k with a multi-probe query side: corpus rows carry one
    * [[ivfAssign]] cell, query rows one row per probed cell
    * ([[ivfProbes]]). The bucket join stays an equi-shuffle; each
    * (query, neighbour) pair arises at most once because a corpus vector
    * lives in exactly one cell.
    */
  def annTopKProbed(assigned: DataFrame, probed: DataFrame, k: Int): DataFrame = {
    val q = probed.select(
      col("vec_id").as("q_id"), asDouble(col("embedding")).as("q_emb"), col("bucket"))
      .withColumn("q_norm", norm(col("q_emb")))
    val c = assigned.select(
      col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("c_emb"), col("bucket"))
      .withColumn("c_norm", norm(col("c_emb")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_raw").desc, col("neighbor_id").asc)
    c.join(q, Seq("bucket"))
      .filter(col("q_id") =!= col("neighbor_id"))
      .withColumn(
        "cos_raw",
        cosineWithNorms(dot(col("q_emb"), col("c_emb")), col("q_norm"), col("c_norm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("neighbor_id"), round(col("cos_raw"), 6).as("cos"))
  }

  /** One relational Lloyd (k-means) iteration over an assignment produced by
    * [[ivfAssign]]: per-bucket dimension-wise means become the refined
    * centroid table. Fully distributed — the reduce is a map-side-combinable
    * groupBy over (bucket, dim) sums, never a driver-side collect, so it
    * scales to any corpus; the centroid table it emits stays C rows
    * (broadcastable back into the next [[ivfAssign]] pass).
    *
    * A couple of iterations tighten IVF cells markedly over a deterministic
    * seed subset (higher mean intra-cell cosine → better probe recall at the
    * same C); run `assign → refine → assign` as many times as the build
    * budget allows.
    */
  def kmeansIteration(assigned: DataFrame, dims: Int = 64): DataFrame = {
    val summed = assigned
      .select(col("bucket").as("centroid_id"), asDouble(col("embedding")).as("v"))
      .groupBy("centroid_id")
      .agg(
        count(lit(1)).as("n"),
        array((0 until dims).map(i => sum(element_at(col("v"), i + 1))): _*).as("sums"))
    summed.select(
      col("centroid_id"),
      transform(col("sums"), s => s / col("n")).as("embedding"))
  }

  /** `rounds` Lloyd iterations over a seed centroid table: each round is a
    * shuffle-free [[ivfAssign]] (codegen argmax projection) plus one
    * map-side-combinable [[kmeansIteration]] aggregation — the only
    * exchange per round is the C-row centroid reduce. Each round's C
    * centroids are collected once into a local table, so the next round's
    * codebook collect runs no job and replays no earlier round. Returns
    * the refined centroid table (ready for the final [[ivfAssign]] +
    * [[annTopKProbed]] probe). Cells can only tighten (mean intra-cell
    * cosine is non-decreasing; SimilaritySpec pins this across rounds).
    */
  def lloydRefine(
      vectors: DataFrame,
      seeds: DataFrame,
      rounds: Int,
      dims: Int = 64
  ): DataFrame = {
    require(rounds >= 0, s"rounds must be non-negative: $rounds")
    var cents = seeds
    var r = 0
    while (r < rounds) {
      cents = local(kmeansIteration(ivfAssign(vectors, cents), dims))
      r += 1
    }
    cents
  }

  /** `rows` as a local table: a LocalRelation, whose reads run no job. */
  private def localTable(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** A bounded frame collected once into a local table. */
  private def local(df: DataFrame): DataFrame =
    localTable(df.sparkSession, df.collect().toSeq, df.schema)

  /** Scalar int8 quantization of an embedding: per-vector min/max mapped to
    * 255 levels, stored as `tinyint` (−128..127) plus float `offset`/`scale`
    * — a 4× (vs float) / 8× (vs double) memory and scan-IO reduction for
    * ANN at corpus scale, the standard first compression step before
    * product quantization. `floor(x + 0.5)` (not `round`) pins tie
    * behaviour identically across engines. Constant vectors quantize to
    * level 0 with scale 0; non-finite inputs (any NaN/±Inf element)
    * degrade that vector to null offset/scale/q fields.
    */
  def quantizeEmbedding(vec: Column): Column = {
    val v = asDouble(vec)
    val mn = array_min(v)
    val scale = (array_max(v) - mn) / 255.0
    // Let-binding via a single-element array lambda: interpreted HOF
    // lambdas re-inline every referenced subtree PER ELEMENT, so a kernel
    // that mentions mn/scale directly re-evaluates asDouble + array_min +
    // array_max for each of the d elements (O(d²) array passes per
    // vector). Lambda VARIABLES are bound values, so routing (v, mn,
    // scale) through one outer lambda makes the per-element kernel O(1)
    // per reference — one v pass, one min, one max per vector total.
    //
    // A NaN/Inf element makes scale non-finite and the tinyint cast of
    // floor(NaN) would fail the whole job under ANSI — degrade that
    // vector to null fields (per FIELD, not a null struct: a whole-struct
    // `when` would block GetStructField pruning for downstream readers).
    graft.functions.ArrayOps.bindOnce("v" -> v, "mn" -> mn, "sc" -> scale) { get =>
      val pv = get("v")
      val pmn = get("mn")
      val psc = get("sc")
      val nonFinite = isnan(psc) || psc === Double.PositiveInfinity
      struct(
        when(nonFinite, lit(null).cast("float"))
          .otherwise(pmn.cast("float")).as("offset"),
        when(nonFinite, lit(null).cast("float"))
          .otherwise(psc.cast("float")).as("scale"),
        when(nonFinite, lit(null).cast("array<tinyint>"))
          .otherwise(
            transform(
              pv,
              x =>
                (when(psc === 0.0, lit(0.0))
                  .otherwise(floor((x - pmn) / psc + 0.5)) - 128.0)
                  .cast("tinyint"))).as("q"))
    }
  }

  /** Inverse of [[quantizeEmbedding]] (as `array<double>`): element error is
    * bounded by scale/2. ANN candidate generation / verification run on the
    * dequantized form; exact re-ranking (if needed) re-reads the full
    * vectors for the top candidates only.
    */
  def dequantizeEmbedding(q: Column): Column =
    transform(
      q.getField("q"),
      x =>
        (x.cast("double") + 128.0) * q.getField("scale").cast("double") +
          q.getField("offset").cast("double"))

  /** Product-quantization encode: the embedding is split into `m` contiguous
    * subvectors and each is assigned to its nearest per-subspace centroid
    * (cosine, id tiebreak) — one row per (vector, subspace) with the
    * centroid id as the code. A vector compresses to m codes (m bytes at
    * codebook size ≤ 256): with C_s centroids per subspace the effective
    * cell count is Π C_s, so PQ reaches resolutions (256⁸ ≈ 10¹⁹) no flat
    * IVF can, at log₂(C_s)·m bits per vector.
    *
    * Same zero-exchange design as [[ivfAssign]]: each subspace's argmax is
    * a [[graft.functions.NearestCentroid]] kernel over that subspace's
    * SLICE of the collected codebook — the whole encode is one projection,
    * no join, no shuffle. Search composes as ADC ([[pqAdcTopK]]).
    *
    * @param centroids (centroid_id, embedding) — full-width codebook rows;
    *                  each subspace uses its own slice of them
    */
  def pqEncode(
      vectors: DataFrame,
      centroids: DataFrame,
      m: Int = 4,
      dims: Int = 64
  ): DataFrame =
    pqCodes(vectors, Seq("vec_id"), centroids, m, dims, "pqEncode")

  /** `rows`' `keep` columns with one `(subspace, code)` row per subspace:
    * the nearest-centroid kernel over each subspace's slice of the
    * collected codebook, in one projection.
    */
  private def pqCodes(
      rows: DataFrame,
      keep: Seq[String],
      codebook: DataFrame,
      m: Int,
      dims: Int,
      what: String
  ): DataFrame = {
    val width = subspaceWidth(m, dims)
    val book = collectCodebook(codebook, what, Some(dims))
    require(book.ids.nonEmpty, s"$what needs a non-empty codebook")
    val codes = (0 until m).map { s =>
      graft.functions.expressions.nearest_centroid(
        slice(col("embedding"), s * width + 1, width),
        book.ids,
        book.embs.map(_.slice(s * width, (s + 1) * width)))
    }
    rows
      .select(keep.map(col) :+ posexplode(array(codes: _*)).as(Seq("subspace", "code")): _*)
      .select(keep.map(col) ++ Seq(col("subspace").cast("int").as("subspace"), col("code")): _*)
  }

  private def subspaceWidth(m: Int, dims: Int): Int = {
    require(m > 0 && dims % m == 0, s"m must divide dims: $m / $dims")
    dims / m
  }

  /** Bytes of one broadcast ADC row: a probe or lookup-table row is three
    * or four fixed-width fields in an UnsafeRow.
    */
  private val AdcRowBytes = 48L

  /** An ADC query batch `(vec_id, embedding)` collected once into a local
    * table. The ADC operators broadcast frames derived from the batch onto
    * the code scan — the lookup table, m·C rows per query, and the probes,
    * nprobe rows per query — by hint, not by the planner's size estimate
    * of `queries`, which is the whole table's for a filtered batch. The
    * batch is what bounds those broadcasts: over `budget` it fails loudly
    * instead of OOMing the driver, and the rows come through a limit of
    * the affordable count plus one, so the driver never holds more.
    */
  private[operators] def adcBatch(
      queries: DataFrame,
      rowsPerQuery: Long,
      what: String,
      budget: Long = CodebookBudgetBytes
  ): DataFrame = {
    val cap = (budget / (AdcRowBytes * rowsPerQuery.max(1L))).min(Int.MaxValue - 1L).toInt
    val batch = queries.select(col("vec_id"), col("embedding"))
    val rows = batch.limit(cap + 1).collect()
    require(
      rows.length <= cap,
      s"$what: more than $cap queries at $rowsPerQuery broadcast rows each exceed the " +
        s"${budget >> 20} MiB driver budget; search in smaller query batches.")
    localTable(queries.sparkSession, rows.toSeq, batch.schema)
  }

  /** The ADC query batch ([[adcBatch]], bounded for `extraRows` more
    * broadcast rows per query) and its lookup table
    * `(q_id, subspace, code, partial)`: per query, subspace and codeword of
    * the collected codebook, `partial = q_s · codeword_s`, |Q|·m·C rows.
    * The codewords ride in the projection as one literal, so the table is
    * a generator over the batch with no join.
    */
  private def adcLut(
      queries: DataFrame,
      codebook: DataFrame,
      m: Int,
      dims: Int,
      extraRows: Int,
      what: String
  ): (DataFrame, DataFrame) = {
    val width = subspaceWidth(m, dims)
    val book = collectCodebook(codebook, what, Some(dims))
    val batch = adcBatch(queries, m.toLong * book.ids.size + extraRows, what)
    val words = for (s <- 0 until m; (id, emb) <- book.ids.zip(book.embs))
      yield (s, id, emb.slice(s * width, (s + 1) * width))
    val lut = batch
      .select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("_v"))
      .select(
        col("q_id"),
        array((0 until m).map(s => slice(col("_v"), s * width + 1, width)): _*).as("_q"))
      .select(col("q_id"), col("_q"), inline(typedlit(words)))
      .select(
        col("q_id"), col("_1").as("subspace"), col("_2").as("code"),
        dot(element_at(col("_q"), col("_1") + 1), col("_3")).as("partial"))
    (batch, lut)
  }

  /** Top-k per query from candidate rows `(q_id, vec_id, partial, …)` that
    * an ADC join scored per subspace. A candidate with a null code in some
    * subspace loses that subspace's LUT row to the inner join; ranking it
    * on a partial reconstruction would be silently wrong, so only
    * candidates with all m partials are ranked.
    */
  private def adcTopK(scored: DataFrame, score: Column, m: Int, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("score_raw").desc, col("neighbor_id").asc)
    scored
      .groupBy(col("q_id"), col("vec_id"))
      .agg(score.as("score_raw"), count(lit(1)).as("_np"))
      .filter(col("_np") === m)
      .drop("_np")
      .withColumnRenamed("vec_id", "neighbor_id")
      .filter(col("q_id") =!= col("neighbor_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("neighbor_id"), round(col("score_raw"), 6).as("score"))
  }

  /** ADC (asymmetric-distance) top-k over PQ codes: queries stay
    * full-precision, candidates are scored from their m codes only —
    * `score(q, v) = Σ_s  q_s · centroid(code_s)_s`, the inner product of q
    * with v's PQ reconstruction, WITHOUT touching v's vector. The
    * per-query lookup table (|Q|·m·C rows, bounded by [[adcBatch]]) is
    * broadcast onto the code table's (subspace, code) join, so the code
    * scan is never shuffled for it, and touches only the m codes per
    * vector — 8 bytes instead of 256 at 100 TB. Ranking is approximate
    * (reconstruction error), so production re-ranks the top candidates
    * against the full vectors ([[rerankTopK]]); here the ADC ordering
    * itself is the contract.
    */
  def pqAdcTopK(
      codes: DataFrame,
      queries: DataFrame,
      centroids: DataFrame,
      k: Int,
      m: Int = 4,
      dims: Int = 64
  ): DataFrame = {
    val (_, lut) = adcLut(queries, centroids, m, dims, 0, "pqAdcTopK")
    adcTopK(codes.join(broadcast(lut), Seq("subspace", "code")), sum(col("partial")), m, k)
  }

  /** Residuals of an IVF assignment: each vector minus its nearest coarse
    * centroid — the quantity residual PQ encodes. One row per vector with
    * the coarse `bucket` kept and `embedding` replaced by the residual
    * (`array<double>`). The centroid lookup is a broadcast join on the
    * bounded C-row coarse table (the scan side never shuffles); vectors
    * whose assignment is null (null/null-element embeddings, the
    * [[ivfAssign]] null contract) drop out — they carry no usable residual.
    */
  def ivfResiduals(vectors: DataFrame, coarse: DataFrame): DataFrame = {
    val cents = coarse.select(
      col("centroid_id").as("bucket"), asDouble(col("embedding")).as("_cent"))
    ivfAssign(vectors, coarse)
      .join(broadcast(cents), Seq("bucket"))
      .select(
        col("vec_id"), col("bucket"),
        zip_with(asDouble(col("embedding")), col("_cent"), (x, c) => x - c)
          .as("embedding"))
  }

  /** Residual IVF+PQ encode — the standard two-level 100 TB ANN layout:
    * coarse-assign each vector ([[ivfAssign]]), then PQ-encode the RESIDUAL
    * (vector − coarse centroid) per subspace. Residuals concentrate near
    * zero, so the same per-subspace code budget resolves much finer
    * structure than PQ over raw vectors — SimilaritySpec pins the recall
    * win at equal budget. Output: one (vec_id, bucket, subspace, code) row
    * per subspace; search composes as [[ivfPqAdcTopK]].
    *
    * Same zero-exchange projection design as [[pqEncode]] (per-subspace
    * codegen argmax over the collected residual codebook); the only join is
    * the broadcast centroid lookup inside [[ivfResiduals]].
    *
    * @param pqCents residual codebook (centroid_id, embedding) — typically
    *                the [[ivfResiduals]] of a deterministic vector subset
    */
  def ivfPqEncode(
      vectors: DataFrame,
      coarse: DataFrame,
      pqCents: DataFrame,
      m: Int = 4,
      dims: Int = 64
  ): DataFrame = {
    subspaceWidth(m, dims) // a bad split fails before the coarse collect
    pqCodes(ivfResiduals(vectors, coarse), Seq("vec_id", "bucket"), pqCents, m, dims, "ivfPqEncode")
  }

  /** ADC top-k over a residual IVF+PQ index: queries probe their top-nprobe
    * coarse cells ([[ivfProbes]]) and candidates are scored through their m
    * residual codes only —
    * `score(q, v) = q·c_b + Σ_s q_s · residual_centroid(code_s)_s`, the
    * inner product of q with v's two-level reconstruction
    * (c_b + residual codewords), WITHOUT touching v's vector. The probe
    * restriction is what [[pqAdcTopK]] lacks: a candidate is scored only if
    * it lives in a probed cell, so the scan side is the probed fraction of
    * the code table, not the corpus.
    *
    * Join shape: the code table joins the (query × probed-cell) frame on
    * the bucket and the per-query LUT on (q_id, subspace, code). Both are
    * projections of the collected query batch over the collected codebooks
    * (the cell term `q·c_b` reads the coarse codebook, the LUT the
    * residual one), and both are broadcast onto the code scan, so the only
    * hash exchanges are the partial-sum reduce and the top-k window.
    * [[adcBatch]] bounds the two broadcasts together.
    */
  def ivfPqAdcTopK(
      codes: DataFrame,
      queries: DataFrame,
      coarse: DataFrame,
      pqCents: DataFrame,
      k: Int,
      m: Int = 4,
      dims: Int = 64,
      nprobe: Int = 2
  ): DataFrame = {
    val (batch, lut) = adcLut(queries, pqCents, m, dims, nprobe, "ivfPqAdcTopK")
    val book = collectCodebook(coarse, "ivfPqAdcTopK", Some(dims))
    val probes = probeCells(batch, book, nprobe)
      .select(
        col("vec_id").as("q_id"), col("bucket"),
        dot(asDouble(col("embedding")), centroidOf(book, col("bucket"))).as("cell_term"))
    adcTopK(
      codes
        .join(broadcast(probes), Seq("bucket"))
        .join(broadcast(lut), Seq("q_id", "subspace", "code")),
      first(col("cell_term")) + sum(col("partial")), m, k)
  }

  /** Exact re-rank of an ANN shortlist: join (q_id, neighbor_id) candidate
    * pairs (from [[pqAdcTopK]] / [[ivfPqAdcTopK]] / [[annTopK]] with a
    * widened k) back to the FULL-precision vectors and keep the top-k by
    * exact cosine — the standard final stage of a compressed-index search:
    * ADC ranks from lossy reconstructions, so production re-reads the full
    * embedding for the shortlist only (|Q|·k' rows, not the corpus) and
    * re-scores exactly. Recall@k is monotonically ≥ the ADC-only ordering
    * truncated at k (SimilaritySpec pins it).
    *
    * Both vector joins are equi-shuffles keyed on the id — at 100 TB the
    * shortlist side is tiny and broadcastable, the corpus side is touched
    * only for the ids in the shortlist (row-group pruning on a sorted/
    * bucketed corpus).
    */
  def rerankTopK(candidates: DataFrame, vectors: DataFrame, k: Int): DataFrame = {
    val sided = vectors
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("nrm", norm(col("emb")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_raw").desc, col("neighbor_id").asc)
    candidates
      .select(col("q_id"), col("neighbor_id"))
      .join(
        sided.select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("nrm").as("q_norm")),
        Seq("q_id"))
      .join(
        sided.select(
          col("vec_id").as("neighbor_id"), col("emb").as("c_emb"), col("nrm").as("c_norm")),
        Seq("neighbor_id"))
      .withColumn(
        "cos_raw",
        cosineWithNorms(dot(col("q_emb"), col("c_emb")), col("q_norm"), col("c_norm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("neighbor_id"), round(col("cos_raw"), 6).as("cos"))
  }

  /** Deterministic k-means|| seeding for the IVF codebook (Bahmani et al.,
    * VLDB'12, made rng-free): start from the min-id vector, then for
    * `rounds` rounds OVERSAMPLE — assign every vector to its nearest
    * current seed (zero-exchange [[ivfAssign]] kernel), score each vector
    * by its assignment cost (1 − cosine to its seed), and adopt the
    * `oversample` worst-covered vectors as new seeds (cost-weighted
    * sampling becomes a deterministic top-cost take; ties break on min id).
    * Finally REDUCE the ~rounds·oversample candidates to `c` by keeping the
    * heaviest — the candidates covering the most vectors in a final
    * assignment pass.
    *
    * Scale shape: each round is one O(N·C_cur) codegen projection (the
    * cost reads each vector's seed from the collected seed codebook, no
    * join) plus a TakeOrdered(oversample), collected to the driver. The
    * seed table is those collected rows as a local table (≤ 1 +
    * rounds·oversample rows), so no round replays an earlier one and
    * nothing is persisted; the `c` seeds returned are a local table too.
    * Poor seeds are what inflate within-cell variance (and thus probe
    * cost) at scale; SimilaritySpec pins that this seeding beats the
    * deterministic-subset baseline on mean assignment cosine at equal C,
    * before and after Lloyd refinement.
    */
  def kmeansParallelSeed(
      vectors: DataFrame,
      c: Int,
      rounds: Int = 3,
      oversample: Int = 0
  ): DataFrame = {
    require(c > 0, s"c must be positive: $c")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val l = if (oversample > 0) oversample else math.max(1, (2 * c) / rounds)
    require(
      1 + rounds * l >= c,
      s"candidate pool 1 + rounds*oversample = ${1 + rounds * l} cannot deliver c=$c centroids; " +
        s"raise rounds or oversample")
    val base = vectors.select(col("vec_id"), col("embedding"))
    val minId = base
      .orderBy(col("vec_id"))
      .limit(1)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    def seedTable(rows: Seq[Row]) = localTable(vectors.sparkSession, rows, minId.schema)
    var rows = minId.collect().toSeq
    var r = 0
    while (r < rounds) {
      val book = collectCodebook(seedTable(rows), "kmeansParallelSeed")
      // a vector with no cell (the kernel's null contract) has a null cost,
      // which sorts last and is dropped here
      val worst = assignCells(base, book)
        .withColumn("_v", asDouble(col("embedding")))
        .withColumn("_cent", centroidOf(book, col("bucket")))
        .withColumn(
          "_cost",
          lit(1.0) - cosineWithNorms(
            dot(col("_v"), col("_cent")), norm(col("_v")), norm(col("_cent"))))
        .orderBy(col("_cost").desc, col("vec_id").asc)
        .limit(l)
        .select(col("vec_id").as("centroid_id"), col("embedding"), col("_cost"))
        .collect()
        .collect { case w if !w.isNullAt(2) => Row(w.get(0), w.get(1)) }
      rows = (rows ++ worst).distinctBy(_.get(0))
      r += 1
    }
    val seeds = seedTable(rows)
    val weights = ivfAssign(base, seeds)
      .groupBy(col("bucket").as("centroid_id"))
      .agg(count(lit(1)).as("_w"))
    local(
      seeds
        .join(weights, Seq("centroid_id"), "left")
        .orderBy(coalesce(col("_w"), lit(0L)).desc, col("centroid_id").asc)
        .limit(c)
        .select(col("centroid_id"), col("embedding")))
  }

  /** Embedding-level near-duplicate pairs: candidates co-bucketed by the LSH
    * sign pattern, verified by exact cosine above `threshold`. The dedup
    * variant of [[annTopK]] — same bucketed candidate generation, symmetric
    * output with id ordering.
    */
  def embeddingNearDupPairs(bucketed: DataFrame, threshold: Double): DataFrame = {
    val a = bucketed.select(
      col("vec_id").as("l_id"), asDouble(col("embedding")).as("l_emb"), col("bucket"))
      .withColumn("l_norm", norm(col("l_emb")))
    val b = bucketed.select(
      col("vec_id").as("r_id"), asDouble(col("embedding")).as("r_emb"), col("bucket"))
      .withColumn("r_norm", norm(col("r_emb")))
    a.join(b, Seq("bucket"))
      .filter(col("l_id") < col("r_id"))
      .withColumn(
        "cos_raw",
        cosineWithNorms(dot(col("l_emb"), col("r_emb")), col("l_norm"), col("r_norm")))
      .filter(col("cos_raw") >= threshold)
      .select(col("l_id"), col("r_id"), round(col("cos_raw"), 6).as("cos"))
  }

  /** Multi-table near-duplicate pairs: candidates co-bucketed in ANY table
    * (input from [[lshBucketsMulti]]), deduped across tables before the
    * exact-cosine verification so each pair is scored once.
    */
  def embeddingNearDupPairsMulti(bucketed: DataFrame, threshold: Double): DataFrame = {
    val emb = bucketed.select(col("vec_id"), col("embedding")).dropDuplicates("vec_id")
    val a = bucketed.select(col("vec_id").as("l_id"), col("table"), col("bucket"))
    val b = bucketed.select(col("vec_id").as("r_id"), col("table"), col("bucket"))
    val cand = a.join(b, Seq("table", "bucket"))
      .filter(col("l_id") < col("r_id"))
      .select(col("l_id"), col("r_id"))
      .distinct()
    val sided = emb
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("nrm", norm(col("emb")))
    cand
      .join(
        sided.select(col("vec_id").as("l_id"), col("emb").as("l_emb"), col("nrm").as("l_norm")),
        Seq("l_id"))
      .join(
        sided.select(col("vec_id").as("r_id"), col("emb").as("r_emb"), col("nrm").as("r_norm")),
        Seq("r_id"))
      .withColumn(
        "cos_raw",
        cosineWithNorms(dot(col("l_emb"), col("r_emb")), col("l_norm"), col("r_norm")))
      .filter(col("cos_raw") >= threshold)
      .select(col("l_id"), col("r_id"), round(col("cos_raw"), 6).as("cos"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): coarse-cluster the corpus with an IVF codebook
    * ([[ivfAssign]] — the zero-exchange argmax projection), generate
    * near-duplicate candidate pairs only WITHIN a cell
    * ([[embeddingNearDupPairs]] — the quadratic term is bounded by cell
    * occupancy ≈ N/C ≈ √N under the C ≈ √N sizing rule), connect the
    * pairs into duplicate components ([[Dedup.connectedComponents]] —
    * O(log diameter) pointer jumping, no driver-side graph), and keep the
    * minimum-id vector per component. Output: every vector with its cell,
    * canonical `component` id and the `keep` decision — semi-join
    * `keep` against the document table to materialise the pruned corpus.
    *
    * Cross-cell near-duplicates are missed by design (the SemDeDup
    * recall/cost trade-off); tighten the codebook first
    * ([[lloydRefine]]/[[kmeansParallelSeed]]) to push duplicates into the
    * same cell. The reference has no embedding-dedup surface
    * (beyond-reference training-data operator).
    */
  def semanticDedup(
      vectors: DataFrame,
      centroids: DataFrame,
      threshold: Double
  ): DataFrame = {
    val assigned = ivfAssign(vectors, centroids)
    val pairs = embeddingNearDupPairs(assigned, threshold)
      .select(col("l_id"), col("r_id"))
    Dedup.dedupByComponent(
      assigned.select(col("vec_id"), col("bucket")), pairs, idCol = "vec_id")
  }

  /** [[semanticDedup]] with a self-built codebook — the production entry
    * point when no IVF codebook exists yet: deterministic k-means||
    * seeding ([[kmeansParallelSeed]]), `lloydRounds` Lloyd iterations
    * ([[lloydRefine]]) to tighten cells (tighter cells put more true
    * near-duplicates in the same cell, raising dedup recall at equal
    * cost), then the SemDeDup pass. `numCells` defaults to C = ⌈√N⌉, the
    * sizing rule used throughout (one bounded count() job to size it).
    */
  def semanticDedupAuto(
      vectors: DataFrame,
      threshold: Double,
      numCells: Int = 0,
      lloydRounds: Int = 2,
      dims: Int = 64
  ): DataFrame = {
    val c =
      if (numCells > 0) numCells
      else math.max(1, math.ceil(math.sqrt(vectors.count().toDouble)).toInt)
    val seeds = kmeansParallelSeed(vectors, c)
    val cents = lloydRefine(vectors, seeds, lloydRounds, dims)
    semanticDedup(vectors, cents, threshold)
  }

  /** Multi-table approximate top-k (input from [[lshBucketsMulti]]):
    * candidate set is the union over tables (OR-amplification), deduped
    * before scoring. Both the candidate join and the embedding re-joins are
    * equi-shuffles — linear in corpus size for bounded bucket occupancy.
    */
  def annTopKMulti(
      bucketed: DataFrame,
      queryPredicate: Column,
      k: Int
  ): DataFrame = {
    val emb = bucketed.select(col("vec_id"), col("embedding")).dropDuplicates("vec_id")
    val q = bucketed.filter(queryPredicate)
      .select(col("vec_id").as("q_id"), col("table"), col("bucket"))
    val c = bucketed.select(col("vec_id").as("neighbor_id"), col("table"), col("bucket"))
    val cand = c.join(q, Seq("table", "bucket"))
      .filter(col("q_id") =!= col("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"))
      .distinct()
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_raw").desc, col("neighbor_id").asc)
    val sided = emb
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .withColumn("nrm", norm(col("emb")))
    cand
      .join(
        sided.select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("nrm").as("q_norm")),
        Seq("q_id"))
      .join(
        sided.select(
          col("vec_id").as("neighbor_id"), col("emb").as("c_emb"), col("nrm").as("c_norm")),
        Seq("neighbor_id"))
      .withColumn(
        "cos_raw",
        cosineWithNorms(dot(col("q_emb"), col("c_emb")), col("q_norm"), col("c_norm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("neighbor_id"), round(col("cos_raw"), 6).as("cos"))
  }

  /** Approximate top-k: only candidates sharing the query's bucket are
    * scored. The bucket join is an equi-shuffle; no all-pairs work.
    */
  def annTopK(
      bucketed: DataFrame,
      queryPredicate: Column,
      k: Int
  ): DataFrame = {
    val q = bucketed.filter(queryPredicate).select(
      col("vec_id").as("q_id"), asDouble(col("embedding")).as("q_emb"), col("bucket"))
      .withColumn("q_norm", norm(col("q_emb")))
    val c = bucketed.select(
      col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("c_emb"), col("bucket"))
      .withColumn("c_norm", norm(col("c_emb")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_raw").desc, col("neighbor_id").asc)
    c.join(q, Seq("bucket"))
      .filter(col("q_id") =!= col("neighbor_id"))
      .withColumn(
        "cos_raw",
        cosineWithNorms(dot(col("q_emb"), col("c_emb")), col("q_norm"), col("c_norm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("neighbor_id"), round(col("cos_raw"), 6).as("cos"))
  }
}
