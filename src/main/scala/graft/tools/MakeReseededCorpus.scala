package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{Column, DataFrame}

import graft.core.GSession

/** Seed-robustness corpus: a deterministic VALUE perturbation of the
  * recorded test corpus under a caller-chosen seed, schema- and
  * FK-identical but with different numerics, dates, strings, text token
  * stream and embedding geometry. Running Verify + the DuckDB compare on
  * the perturbed corpus proves the oracle surface holds because Spark and
  * DuckDB agree on the SEMANTICS, not because both were tuned to the values
  * the recorded seed happened to produce (the four documented pinned
  * goldens are key-derived and stay valid by construction).
  *
  * Every perturbation routes through md5(seed, key) so the corpus is a
  * pure function of (source corpus, seed) — rerunnable, no RNG state.
  *
  * Usage: runMain graft.tools.MakeReseededCorpus [srcDir] [outDir] [seed]
  */
object MakeReseededCorpus {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.drop(1).headOption.getOrElse("target/testdata_reseed")
    val seed = args.drop(2).headOption.getOrElse("1337")
    val spark = GSession.local(conf = GSession.productionScan).spark

    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      System.err.println(s"[reseed] $t")
    }

    /** Deterministic uniform in [0,1) from (seed, key columns). */
    def u(cols: Column*): Column =
      (conv(substring(md5(concat_ws("|", (lit(seed) +: cols): _*)), 1, 8), 16, 10)
        .cast(LongType) % 100000L).cast("double") / 100000.0

    /** ±pct relative jitter on a double column. */
    def jit(c: Column, pct: Double, k: Column*): Column =
      c * (lit(1.0) + (u(k: _*) - 0.5) * (2 * pct))

    // ---- facts: keys untouched (FKs + key-derived fixtures intact),
    // every value column re-drawn/jittered ---------------------------------
    wr(
      rd("lineitem")
        .withColumn("l_quantity", floor(u(col("l_orderkey"), col("l_linenumber"), lit("q")) * 50) + 1)
        .withColumn("l_extendedprice",
          round(jit(col("l_extendedprice"), 0.15, col("l_orderkey"), col("l_linenumber"), lit("p")), 2))
        .withColumn("l_discount",
          round(floor(u(col("l_orderkey"), col("l_linenumber"), lit("d")) * 11) / 100.0, 2))
        .withColumn("l_tax",
          round(floor(u(col("l_orderkey"), col("l_linenumber"), lit("t")) * 9) / 100.0, 2))
        .withColumn("l_returnflag",
          element_at(array(lit("A"), lit("N"), lit("R")),
            (floor(u(col("l_orderkey"), col("l_linenumber"), lit("rf")) * 3) + 1).cast("int")))
        .withColumn("l_linestatus",
          element_at(array(lit("F"), lit("O")),
            (floor(u(col("l_orderkey"), col("l_linenumber"), lit("ls")) * 2) + 1).cast("int")))
        .withColumn("l_shipdate",
          timestamp_add("DAY",
            (floor(u(col("l_orderkey"), col("l_linenumber"), lit("sd")) * 61) - 30).cast("int"),
            col("l_shipdate"))),
      "lineitem")

    wr(
      rd("orders")
        .withColumn("o_totalprice", round(jit(col("o_totalprice"), 0.2, col("o_orderkey"), lit("tp")), 2))
        .withColumn("o_orderstatus",
          element_at(array(lit("F"), lit("O"), lit("P")),
            (floor(u(col("o_orderkey"), lit("os")) * 3) + 1).cast("int")))
        .withColumn("o_orderpriority",
          element_at(
            array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"), lit("4-NOT SPECIFIED"), lit("5-LOW")),
            (floor(u(col("o_orderkey"), lit("op")) * 5) + 1).cast("int")))
        .withColumn("o_orderdate",
          timestamp_add("DAY",
            (floor(u(col("o_orderkey"), lit("od")) * 61) - 30).cast("int"),
            col("o_orderdate"))),
      "orders")

    wr(
      rd("customer")
        .withColumn("c_acctbal", round(jit(col("c_acctbal"), 0.3, col("c_custkey"), lit("ab")), 2))
        .withColumn("c_nationkey",
          (floor(u(col("c_custkey"), lit("nk")) * 25)).cast("int"))
        .withColumn("c_mktsegment",
          element_at(
            array(lit("AUTOMOBILE"), lit("BUILDING"), lit("FURNITURE"), lit("HOUSEHOLD"), lit("MACHINERY")),
            (floor(u(col("c_custkey"), lit("ms")) * 5) + 1).cast("int"))),
      "customer")

    wr(
      rd("supplier")
        .withColumn("s_acctbal", round(jit(col("s_acctbal"), 0.3, col("s_suppkey"), lit("sb")), 2))
        .withColumn("s_nationkey", (floor(u(col("s_suppkey"), lit("sn")) * 25)).cast("int")),
      "supplier")

    wr(
      rd("part")
        .withColumn("p_size", (floor(u(col("p_partkey"), lit("sz")) * 50) + 1).cast("int"))
        .withColumn("p_retailprice", round(jit(col("p_retailprice"), 0.2, col("p_partkey"), lit("rp")), 2))
        .withColumn("p_brand",
          concat(lit("Brand#"), (floor(u(col("p_partkey"), lit("br")) * 5) + 1).cast("int"),
            (floor(u(col("p_partkey"), lit("b2")) * 5) + 1).cast("int"))),
      "part")

    // dims: labels perturbed (joins carry keys; any oracle hard-coding a
    // seed-42 label would break here — the point of the exercise)
    wr(rd("nation").withColumn("n_name", concat(col("n_name"), lit("_"), lit(seed))), "nation")
    wr(rd("region").withColumn("r_name", concat(col("r_name"), lit("_"), lit(seed))), "region")

    // value stays FULL precision (no round): 6-dp grid values put windowed
    // sums on the decimal grid and means on exact half-boundaries, where
    // Spark (rounds the shortest decimal string) and DuckDB (rounds the
    // binary value) systematically disagree at the 6th digit — 13/10k rows
    // in the first reseed run. Generic doubles sit ~never within an ulp of
    // a boundary, which is the property the recorded corpus relies on too.
    wr(
      rd("events")
        .withColumn("value", jit(col("value"), 0.4, col("event_id"), lit("v")))
        .withColumn("ts",
          timestamp_add("MINUTE",
            (floor(u(col("event_id"), lit("em")) * 121) - 60).cast("int"),
            col("ts"))),
      "events")

    // documents: word-level deterministic rewrite — ~30% of tokens get a
    // seed suffix, changing shingles/minhash/simhash/tfidf vocabularies
    wr(
      rd("documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("text",
          concat_ws(" ",
            transform(col("toks"), t =>
              when((conv(substring(md5(concat(lit(seed), t)), 1, 6), 16, 10)
                .cast(LongType) % 10L) < 3, concat(t, lit("_"), lit(seed)))
                .otherwise(t))))
        .drop("toks")
        .withColumn("n_chars", length(col("text"))),
      "documents")

    // embeddings: deterministic per-(vec,dim) additive noise + per-vector
    // sign flip of one dimension — changes cosine geometry, LSH signs,
    // centroid cells while keeping norms in family
    wr(
      rd("embeddings")
        .withColumn("embedding",
          transform(col("embedding"), (e, i) =>
            (e + (u(col("vec_id"), i, lit("n")) - 0.5).cast("float") * lit(0.2f)) *
              when(i === (col("vec_id") % 16).cast("int"), -1.0f).otherwise(1.0f))),
      "embeddings")

    spark.stop()
  }
}
