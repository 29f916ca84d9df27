package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.core.GSession

/** Synthesize an N×-scaled copy of the full testdata table set (default
  * 10× sf0.1 ≈ "sf1") for full-suite scale benching — per-family growth
  * models generalized to every table, so the whole
  * `graft.Bench` surface can run at a bigger SF and surface cliffs
  * (broadcast flips, AQE coalescing, spill onsets) that per-family probes
  * miss.
  *
  * Growth model per table (copy = 0 is the original data):
  *   - fact keys get per-copy offsets chosen as the max key rounded up to a
  *     multiple of the moduli the harness derivations use (8/20/500/1000),
  *     so per-copy residue distributions stay balanced and FK pairs
  *     (lineitem↔orders/part/supplier, orders↔customer) stay consistent;
  *   - `documents.text` tokens get a per-copy suffix (distinct shingle /
  *     MinHash vocabulary per copy — corpus growth, not duplicate growth);
  *   - `embeddings.embedding` is rotated by 7·copy positions (decorrelates
  *     LSH signs / centroid cells across copies);
  *   - `events` grows in USERS (user_id offset), the window keys, over the
  *     same time range;
  *   - nation/region stay fixed, like real-world small dims.
  *
  * Usage: runMain graft.tools.MakeScaledCorpus [srcDir] [outDir] [copies]
  */
object MakeScaledCorpus {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.drop(1).headOption.getOrElse("target/sf1")
    val copies = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val spark = GSession.local(conf = GSession.productionScan).spark

    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")

    /** max(key)+1 rounded up to a multiple of `lcm` — keeps residues of the
      * harness's modular derivations balanced across copies.
      */
    def offsetFor(df: DataFrame, key: String, lcm: Long): Long = {
      val mx = df.agg(max(col(key))).head().getLong(0)
      ((mx / lcm) + 1) * lcm
    }

    val ordOff = offsetFor(rd("lineitem"), "l_orderkey", 1000)
    val partOff = offsetFor(rd("lineitem"), "l_partkey", 40)
    val suppOff = offsetFor(rd("lineitem"), "l_suppkey", 40)
    val custOff = offsetFor(rd("orders"), "o_custkey", 1000)
    val userOff = offsetFor(rd("events"), "user_id", 1000)
    val evOff = offsetFor(rd("events"), "event_id", 1000)
    val docOff = offsetFor(rd("documents"), "doc_id", 1000)
    val vecOff = offsetFor(rd("embeddings"), "vec_id", 1000)

    def scaled(t: String, key: String)(perCopy: (DataFrame, Int) => DataFrame): Unit = {
      val base = rd(t)
      val union = (0 until copies).map(c => perCopy(base, c)).reduce(_ unionByName _)
      // Layout realism: the source tables are single files, so the bare
      // union would write `copies` large files and the default 128 MB scan
      // packing would read a 100 MB fact table with ~2 tasks — a generator
      // artifact, not a property of scaled data. Real ingested tables ship
      // many splittable files CLUSTERED on their key; range-repartition on
      // the primary key keeps that clustering (encoding/compression and
      // min/max pruning intact — round-robin cost +18% file size and broke
      // partial-agg locality) while spreading each table across the
      // machine's parallelism.
      val files = math.max(copies, spark.sparkContext.defaultParallelism)
      union.repartitionByRange(files, col(key))
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      System.err.println(s"[corpus] $t ×$copies ($files files by $key)")
    }

    def shift(df: DataFrame, c: Int, offs: (String, Long)*): DataFrame =
      offs.foldLeft(df) { case (d, (k, off)) =>
        d.withColumn(k, col(k) + lit(c * off))
      }

    scaled("lineitem", "l_orderkey")((df, c) =>
      shift(df, c, "l_orderkey" -> ordOff, "l_partkey" -> partOff, "l_suppkey" -> suppOff))
    scaled("orders", "o_orderkey")((df, c) => shift(df, c, "o_orderkey" -> ordOff, "o_custkey" -> custOff))
    scaled("customer", "c_custkey")((df, c) => shift(df, c, "c_custkey" -> custOff))
    scaled("supplier", "s_suppkey")((df, c) => shift(df, c, "s_suppkey" -> suppOff))
    scaled("part", "p_partkey")((df, c) => shift(df, c, "p_partkey" -> partOff))
    scaled("events", "event_id")((df, c) => shift(df, c, "event_id" -> evOff, "user_id" -> userOff))
    scaled("documents", "doc_id") { (df, c) =>
      val d = shift(df, c, "doc_id" -> docOff)
      // per-copy token suffix: every shingle/gram becomes copy-unique, so
      // dedup finds a 10× vocabulary, not 10× duplicates (copy 0 = original)
      if (c == 0) d
      else d.withColumn("text", regexp_replace(col("text"), "(\\w+)", s"$$1z$c"))
    }
    scaled("embeddings", "vec_id") { (df, c) =>
      val d = shift(df, c, "vec_id" -> vecOff)
      if (c == 0) d
      else {
        val r = (7 * c) % 64 + 1
        d.withColumn(
          "embedding",
          concat(slice(col("embedding"), r, 10000), slice(col("embedding"), 1, r - 1)))
      }
    }
    // fixed dims: straight copies
    for (t <- Seq("nation", "region"))
      rd(t).write.mode("overwrite").parquet(s"$out/$t.parquet")
    spark.stop()
  }
}
