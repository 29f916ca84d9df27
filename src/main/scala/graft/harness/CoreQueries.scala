package graft.harness

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, IntegerType, StringType}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.GDataset
import graft.functions.{ArrayOps, DfOps, GenomicOps, Stats}

/** Oracle-checked queries exercising the core kernel operators (SURVEY §2.2,
  * §2.4-§2.8) over the driver's synthetic TPC-H-ish tables.
  *
  * Every query here has a matching DuckDB SQL in [[CoreQueries.oracles]] with
  * IDENTICAL column names and value semantics; double-valued aggregates are
  * rounded on both sides to absorb summation-order ulp differences.
  */
object CoreQueries {
  import Tables._

  /** Σ_{i=1..1000} 1/i² — harmonic-sum normalisation constant, embedded
    * verbatim into the oracle SQL so both sides use the same literal.
    */
  private val HarmonicK: Double = (1 to 1000).map(i => 1.0 / (i.toDouble * i)).sum

  // -- p-value machinery (Stats) ---------------------------------------------

  /** splitPvalueColumn + pvalueFilterCondition: mantissa/exponent significance
    * predicate without materialising the double (summary_statistics.py:38-58).
    */
  def pvalueFilter(s: SparkSession, d: String): DataFrame = {
    val (m, e) = Stats.splitPvalueColumn((col("l_quantity") / lit(51.0)).cast(StringType))
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), m.as("p_mantissa"), e.as("p_exponent"))
      .filter(Stats.pvalueFilterCondition(col("p_mantissa"), col("p_exponent"), 5e-2))
  }

  /** neglogpvalFromPvalue over the split representation (common/stats.py:243-268). */
  def neglogPval(s: SparkSession, d: String): DataFrame = {
    val (m, e) = Stats.splitPvalueColumn((col("l_quantity") / lit(51.0)).cast(StringType))
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), m.as("p_mantissa"), e.as("p_exponent"))
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        round(Stats.neglogpvalFromPvalue(col("p_mantissa"), col("p_exponent")), 6).as("neglog_pval")
      )
  }

  // -- identifiers / strings -------------------------------------------------

  /** md5-of-concat deterministic IDs (dataset/dataset.py:440-456). */
  def md5Id(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(
      col("c_custkey"),
      GDataset.generateIdentifier(Seq("c_custkey", "c_name", "c_mktsegment")).as("id")
    )

  /** URL-safe slug cleaning (common/spark.py:762-785). */
  def slug(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(
      col("c_custkey"),
      ArrayOps.cleanStringsFromSymbols(col("c_name")).as("slug")
    )

  /** EFO URI parsing: split → last path component (common/processing.py:21-51). */
  def efoParse(s: SparkSession, d: String): DataFrame = {
    val uris = concat(
      lit("http://www.ebi.ac.uk/efo/EFO_"), col("s_suppkey").cast(StringType),
      lit(",http://purl.obolibrary.org/obo/MONDO_"), col("s_suppkey").cast(StringType)
    )
    supplier(s, d).select(
      col("s_suppkey"),
      concat_ws(",", GenomicOps.parseEfos(uris)).as("efos")
    )
  }

  /** variantId chromosome/position extraction (common/processing.py:54-107). */
  def variantParse(s: SparkSession, d: String): DataFrame = {
    val vid = concat(
      (lit(1) + col("p_partkey") % 22).cast(StringType), lit("_"),
      col("p_partkey").cast(StringType), lit("_A_T")
    )
    part(s, d).select(
      col("p_partkey"),
      GenomicOps.extractChromosome(vid).as("chromosome"),
      GenomicOps.extractPosition(vid).as("position")
    )
  }

  /** Chromosome notation normalisation (common/processing.py:110-149). */
  def chromNormalize(s: SparkSession, d: String): DataFrame = {
    val raw = when(col("n_nationkey") === 0, "M")
      .when(col("n_nationkey") === 1, "23")
      .when(col("n_nationkey") === 2, "24")
      .otherwise(concat(lit("chr"), col("n_nationkey").cast(StringType)))
    nation(s, d).select(
      col("n_nationkey"),
      GenomicOps.normalizeChromosome(raw)
    )
  }

  // -- filters / predicates --------------------------------------------------

  /** Genomic-region exclusion predicate + rollup (summary_statistics.py:121-145). */
  def excludeRegion(s: SparkSession, d: String): DataFrame = {
    val region = GenomicOps.Region("6", 500, 1500)
    val chrom = (lit(1) + col("l_orderkey") % 22).cast(StringType).as("chromosome")
    lineitem(s, d)
      .select(chrom, col("l_partkey").as("position"))
      .filter(!GenomicOps.inRegion(col("chromosome"), col("position"), region))
      .groupBy("chromosome")
      .agg(count(lit(1)).as("n"))
  }

  /** MAF with DecimalType rounding control (common/processing.py:152-196). */
  def mafQuery(s: SparkSession, d: String): DataFrame = {
    val af = col("l_tax") * 10.0
    lineitem(s, d).select(
      col("l_orderkey"),
      col("l_linenumber"),
      round(GenomicOps.maf(af).cast("double"), 8).as("maf")
    )
  }

  /** QC-flag update chain + validity split predicate
    * (dataset/dataset.py:252-299, :372-422).
    */
  def qcFlags(s: SparkSession, d: String): DataFrame = {
    val qc1 = GDataset.updateQualityFlag(
      lit(null).cast("array<string>"), col("o_totalprice") > 300000.0, "high price")
    val qc = GDataset.updateQualityFlag(qc1, col("o_orderstatus") === "F", "finished")
    orders(s, d).select(
      col("o_orderkey"),
      concat_ws(";", qc).as("qc_str"),
      (!arrays_overlap(array(lit("high price")), qc)).as("valid")
    )
  }

  // -- windows / reshaping / aggregates --------------------------------------

  /** Deterministic top-1-per-group via row_number (common/spark.py:122-174). */
  def top1PerGroup(s: SparkSession, d: String): DataFrame =
    DfOps.getTopRankedInWindow(
      orders(s, d),
      Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    ).select("o_custkey", "o_orderkey", "o_totalprice")

  /** Wide → long melt (common/spark.py:22-69). */
  def meltQuery(s: SparkSession, d: String): DataFrame =
    DfOps.convertFromWideToLong(
      lineitem(s, d).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax"),
      idVars = Seq("l_orderkey", "l_linenumber"),
      varName = "variable",
      valueName = "value",
      valueVars = Seq("l_quantity", "l_discount", "l_tax")
    )

  /** Long → wide pivot with pre-collected pivot values (common/spark.py:72-96). */
  def pivotQuery(s: SparkSession, d: String): DataFrame =
    DfOps.convertFromLongToWide(
      events(s, d).select(col("user_id"), col("event_type"), col("value")),
      idVars = Seq("user_id"),
      varName = "event_type",
      valueName = "value",
      agg = c => round(sum(c), 6)
    )

  /** Harmonic sum over collected arrays (common/spark.py:724-759). */
  def harmonicSum(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(collect_list(col("l_quantity")).as("arr"))
      .select(
        col("l_orderkey"),
        round(ArrayOps.calculateHarmonicSum(col("arr")), 6).as("harmonic_sum")
      )

  /** Array-of-structs two-key sort; lead element extraction
    * (common/spark.py:282-350).
    */
  def arraySortLead(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(collect_list(struct(col("l_quantity"), col("l_linenumber"))).as("items"))
      .select(
        col("l_orderkey"),
        ArrayOps.orderArrayOfStructsByTwoFields("items", "l_quantity", "l_linenumber")
          .getItem(0).getField("l_linenumber").as("lead_linenumber")
      )

  /** Per-feature missingness rate (dataset/l2g_feature_matrix.py:113-137). */
  def missingness(s: SparkSession, d: String): DataFrame = {
    val df = lineitem(s, d).select(
      when(col("l_discount") > 0.05, col("l_quantity")).as("x"),
      when(col("l_returnflag") === "R", col("l_extendedprice")).as("y")
    )
    DfOps.missingnessRate(df, Seq("x", "y"))
      .select(round(col("x"), 6).as("x"), round(col("y"), 6).as("y"))
  }

  /** Exact duplicate detection over documents: hash-groupBy with deterministic
    * keeper selection (LLM-pipeline dedup baseline).
    */
  def dedupExact(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(md5(col("text")))
    documents(s, d).select(
      col("doc_id"),
      count(lit(1)).over(w).as("dup_count"),
      (col("doc_id") === min(col("doc_id")).over(w)).as("keep")
    )
  }

  /** Null/array/map helper kernels (functions/ArrayOps.scala; reference
    * common/spark.py:99-119, 353-384, 520-580, 788-948): dictionary lookup
    * through a transient map literal, empty-array nullification, null-safe
    * array union, and first-match struct-field extraction.
    */
  def helpers(s: SparkSession, d: String): DataFrame = {
    val k = col("l_orderkey") * 8 + col("l_linenumber")
    // parallel read: the array/HOF kernels below run scan-local and the
    // fixture scan is one task (Tables.parallel scaladoc)
    val base = Tables.parallel(s, lineitem(s, d))
      .select(k.as("id"), col("l_returnflag").as("rf"))
    val kk = col("id")
    val toks = when(kk % 3 === 0, array().cast("array<string>"))
      .otherwise(array(
        concat(lit("x"), (kk % 5).cast(StringType)),
        concat(lit("y"), (kk % 7).cast(StringType))))
    val a = when(kk % 4 === 0, lit(null).cast("array<bigint>"))
      .otherwise(array(kk % 10, kk % 10 + 1))
    val b = when(kk % 5 === 0, lit(null).cast("array<bigint>"))
      .otherwise(array(kk % 10 + 1, kk % 12))
    val structs = array(
      struct(concat(lit("a"), (kk % 2).cast(StringType)).as("k"), (kk % 50).as("v")),
      struct(lit("a0").as("k"), (kk % 30).as("v")))
    base.select(
      kk.as("id"),
      ArrayOps.mapColumnByDictionary(
        col("rf"), Map("A" -> "accepted", "N" -> "neutral", "R" -> "returned"))
        .as("flag"),
      // Arrays are serialized to '|'-joined strings at the output boundary so
      // the driver's row-sorting oracle harness can hash them; the DuckDB
      // oracle mirrors the same serialization.
      array_join(ArrayOps.nullifyEmptyArray(toks), "|").as("toks"),
      array_join(
        array_sort(array_distinct(ArrayOps.safeArrayUnion(a, b)))
          .cast("array<string>"), "|").as("uni"),
      ArrayOps.filterArrayStruct(structs, "k", lit("a0"), "v").as("fv"))
  }

  /** Source-reader column kernels (sources/Decode.scala, EqtlCatalogue.scala;
    * reference datasource/decode/summary_statistics.py:146-210,
    * eqtl_catalogue/finemapping.py:60-120): deCODE allele-frequency
    * inference, study-id-from-path extraction, and eQTL-Catalogue
    * credible-set index parsing.
    */
  def sourceCores(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{Decode, EqtlCatalogue}
    val k = col("l_orderkey") * 8 + col("l_linenumber")
    val base = lineitem(s, d).select(k.as("id"))
    val kk = col("id")
    val impMaf = (kk % 50) / lit(100.0)
    val eurAf = when(kk % 7 === 0, lit(null).cast("double"))
      .otherwise((kk % 100) / lit(100.0))
    base.select(
      kk.as("id"),
      round(Decode.inferAlleleFrequency(impMaf, eurAf), 6).as("af"),
      Decode.studyIdFromFile(
        concat(lit("PRJ"), (kk % 5).cast(StringType)),
        concat(lit("/data/Proteomics_SMP_"), kk.cast(StringType), lit(".txt.gz")))
        .as("studyId"),
      EqtlCatalogue.extractCredibleSetIndex(
        concat(lit("cs_"), kk.cast(StringType), lit("_L"), (kk % 9 + 1).cast(StringType)))
        .as("csIndex"))
  }

  /** Bloom-pruned semi join (functions/BloomOps): lineitem rows whose
    * orderkey appears in a sparse orders subset. The sketch probe filters the
    * big side inside its scan stage; the exact semi join strips false
    * positives, so the result is oracle-exact by construction.
    */
  def bloomPrune(s: SparkSession, d: String): DataFrame = {
    val keys = orders(s, d)
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("l_orderkey"))
    graft.functions.BloomOps
      .bloomSemiJoin(
        lineitem(s, d).select("l_orderkey", "l_partkey", "l_linenumber"),
        keys, "l_orderkey", expectedItems = 4096)
  }

  /** Morton z-value for the data-skipping write path (functions/ZOrder):
    * exact-bucket interleave of two 8-bit keys, checked bit-for-bit against
    * the oracle's explicit shift/mask sum.
    */
  def zorderValue(s: SparkSession, d: String): DataFrame = {
    val x = col("l_partkey") % 256
    val y = col("l_suppkey") % 256
    lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        x.as("zx"), y.as("zy"),
        graft.functions.ZOrder
          .zValue(Seq(x -> (0.0, 256.0), y -> (0.0, 256.0)), bits = 8)
          .as("z"))
  }

  /** Declarative data-quality gate (functions/Constraints): seven rules
    * over the raw orders table — row-level rules share ONE aggregation
    * pass, uniqueness rides the same pass as a count-distinct, the FK rule
    * is an anti-join count against customer.
    */
  def constraintsQ(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Constraints._
    check(s, orders(s, d), Seq(
      NotNull("o_custkey"),
      InRange("o_totalprice", 0.0, 200000.0),
      InSet("o_orderstatus", Seq("O", "F", "P")),
      Satisfies("key_positive", col("o_orderkey") > 0),
      Unique(Seq("o_orderkey")),
      Unique(Seq("o_custkey")),
      ForeignKey("o_custkey", customer(s, d), "c_custkey")))
  }

  /** Mergeable histogram quantiles (functions/SketchOps.histogram family):
    * per-status order-value distribution, p50/p90 via the deterministic
    * linear-interpolated estimator — identical arithmetic in the oracle.
    */
  def histQuantile(s: SparkSession, d: String): DataFrame = {
    import graft.functions.SketchOps
    val hist = SketchOps.histogram(
      orders(s, d), "o_totalprice", Seq("o_orderstatus"), 0.0, 600000.0, 60)
    SketchOps.histogramQuantiles(
      hist, Seq("o_orderstatus"), Seq(0.5, 0.9), 0.0, 600000.0, 60)
  }

  // -- DuckDB oracles --------------------------------------------------------

  /** Snapshot change capture (operators/SnapshotDiff): the new snapshot
    * drops every 97th order, reprices every 13th, and appends a shifted
    * key block — diff must classify each key exactly. The Spark side
    * compares one xxhash64 per row; the oracle compares the payload
    * columns directly (independent formulations, identical results absent
    * 2^-64 collisions).
    */
  /** Golden-record survivorship (operators/Survivorship.goldenRecord):
    * each customer's orders act as duplicate "records" with deterministic
    * attribute gaps; per attribute the latest NON-NULL value must survive.
    */
  def goldenRecordQ(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey")
    val recs = orders(s, d).select(
      col("o_custkey"),
      k.as("seq"),
      when(k % 3 === 0, lit(null).cast(StringType))
        .otherwise(col("o_orderstatus")).as("status"),
      when(k % 4 === 0, lit(null).cast("double"))
        .otherwise(col("o_totalprice")).as("price"))
    graft.operators.Survivorship
      .goldenRecord(recs, Seq("o_custkey"), "seq", Seq("status", "price"))
      .withColumn("price", round(col("price"), 6))
  }

  /** Key-skew diagnostics (operators/Diagnostics.keySkew): a planted hot
    * key (every 3rd row collapses to key 0) must surface with its share
    * and skew ratio.
    */
  def keySkewQ(s: SparkSession, d: String): DataFrame =
    graft.operators.Diagnostics.keySkew(
      lineitem(s, d).select(
        when(col("l_orderkey") % 3 === 0, 0L)
          .otherwise(col("l_orderkey") % 1000).as("k")),
      Seq("k"), k = 10)

  /** A/B experiment readout: per event type, Welch's t statistic between
    * the user-hash variant split. Variances via the explicit
    * (Σx², Σx, n) sum-of-squares formulation so both engines aggregate
    * the same three sums in one pass (var_samp's internal algorithm
    * differs between engines).
    */
  def abTest(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(
      col("event_type"),
      (col("user_id") % 2 === 0).as("variant_a"),
      col("value"))
    val agg = ev
      .groupBy(col("event_type"), col("variant_a"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("value")).as("sx"),
        sum(col("value") * col("value")).as("sxx"))
      .select(
        col("event_type"), col("variant_a"), col("n"),
        (col("sx") / col("n")).as("m"),
        ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("s2"))
    val a = agg.filter(col("variant_a")).drop("variant_a")
      .select(col("event_type"), col("n").as("n_a"), col("m").as("m_a"), col("s2").as("s2_a"))
    val b = agg.filter(!col("variant_a")).drop("variant_a")
      .select(col("event_type"), col("n").as("n_b"), col("m").as("m_b"), col("s2").as("s2_b"))
    a.join(b, Seq("event_type"))
      .select(
        col("event_type"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        round(col("m_a") - col("m_b"), 6).as("mean_diff"),
        round(
          (col("m_a") - col("m_b")) /
            sqrt(col("s2_a") / col("n_a") + col("s2_b") / col("n_b")), 6).as("welch_t"))
  }

  /** Per-group categorical entropy (nats): the class-balance metric of a
    * data-quality report.
    */
  def entropyQ(s: SparkSession, d: String): DataFrame = {
    val counts = lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).cast("double").as("c"))
    val totals = counts.groupBy(col("l_returnflag")).agg(sum(col("c")).as("t"))
    counts
      .join(totals, Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(round(-sum((col("c") / col("t")) * log(col("c") / col("t"))), 6).as("entropy"))
  }

  /** OLAP rollup with grouping ids: subtotal levels
    * (flag, status) → (flag) → () in one pass — Catalyst's Expand handles
    * the grouping sets, identically to the oracle's GROUP BY ROLLUP.
    */
  def rollupAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("qty_sum"))

  /** Small-file compaction round trip (core/GSession.compactParquet):
    * a 64-file fragment of lineitem is compacted to few large files; the
    * query returns the compacted CONTENT, so the oracle (the same
    * selection straight from lineitem) proves the rewrite lost nothing.
    */
  def compactRoundtrip(s: SparkSession, d: String): DataFrame = {
    val g = graft.core.GSession(s)
    val base = graft.core.TempRoot.jvm.dir("graft_compact").toString
    val frag = lineitem(s, d)
      .filter(col("l_orderkey") % 7 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    frag.repartition(64).write.mode("overwrite").parquet(s"$base/small")
    g.compactParquet(s"$base/small", s"$base/compacted", targetBytes = 512L * 1024)
    s.read.parquet(s"$base/compacted")
  }

  /** Salted skew join (operators/SkewJoin): lineitem (fact) joined to
    * orders (dim, replicated 8×) — result must be row-identical to the
    * plain join the oracle runs.
    */
  def saltedJoin(s: SparkSession, d: String): DataFrame =
    graft.operators.SkewJoin
      .saltedEquiJoin(
        lineitem(s, d).select(
          col("l_orderkey").as("o_orderkey"), col("l_linenumber"), col("l_extendedprice")),
        orders(s, d).select(col("o_orderkey"), col("o_orderstatus")),
        keys = Seq("o_orderkey"),
        saltCols = Seq("l_linenumber"),
        saltBuckets = 8)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("price_sum"))

  /** Feature hashing (operators/FeatureOps.hashBucket): md5-derived
    * bucket, engine-portable by construction.
    */
  def featureHash(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"),
      graft.operators.FeatureOps
        .hashBucket(concat(col("source"), lit("|"), col("lang")), 1024).as("bucket"))

  /** Rank-based normalisation (operators/FeatureOps.withRankFeatures):
    * percent_rank quantile transform + decile per return flag.
    */
  def pctRank(s: SparkSession, d: String): DataFrame =
    graft.operators.FeatureOps
      .withRankFeatures(
        lineitem(s, d).select(
          col("l_returnflag"), col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("tie")),
        Seq("l_returnflag"), "l_extendedprice", "tie")
      .select(
        col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        round(col("pct_rank"), 8).as("pct_rank"), col("bucket_rank"))

  /** Distributed-rank scale twin (FeatureOps.withRankFeaturesScalable):
    * identical semantics to [[pctRank]] but quantile-bin-partitioned so no
    * task ever sorts a whole `l_returnflag` group — the window form's 3
    * single-task sorts were the worst 10× ratio of the round-12 sf1 sweep.
    */
  def pctRankScalable(s: SparkSession, d: String): DataFrame =
    graft.operators.FeatureOps
      .withRankFeaturesScalable(
        lineitem(s, d).select(
          col("l_returnflag"), col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("tie")),
        Seq("l_returnflag"), "l_extendedprice", "tie")
      .select(
        col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        round(col("pct_rank"), 8).as("pct_rank"), col("bucket_rank"))

  /** Profile drift (operators/Profiler.drift): statistics regression
    * between the orders table and a mutated release (every 97th row
    * dropped, every 13th repriced) — null-fraction, NDV-ratio, mean-shift
    * and range-widening per column.
    */
  def profileDrift(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Profiler
    val cols = Seq("o_orderkey", "o_totalprice", "o_orderstatus", "o_orderpriority")
    val k = col("o_orderkey")
    val mutated = orders(s, d)
      .filter(k % 97 =!= 0)
      .withColumn(
        "o_totalprice",
        when(k % 13 === 0, col("o_totalprice") + 1000.0).otherwise(col("o_totalprice")))
    Profiler.drift(Profiler.profile(orders(s, d), cols), Profiler.profile(mutated, cols))
  }

  /** Two-phase exact top-k per group (operators/TopK): local bounded-heap
    * prune before the shuffle, final window over the pruned set; the oracle
    * is the plain row_number formulation — identical rows by construction
    * of the total (value desc, tiebreak asc) order.
    */
  def topkPushdown(s: SparkSession, d: String): DataFrame =
    graft.operators.TopK
      .topKPerGroup(
        lineitem(s, d)
          .select(
            (col("l_partkey") % 200).as("grp"),
            col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
            (col("l_orderkey") * 10 + col("l_linenumber")).as("tie")),
        Seq("grp"), "l_extendedprice", "tie", k = 5)
      .select(col("grp"), col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))

  /** Incremental aggregate maintenance (operators/IncrementalAgg): state
    * bootstrapped from the t=100 orders snapshot, CDC delta from the same
    * mutation pattern as q_snapshot_diff folded in — the oracle is the
    * DIRECT re-aggregation of the t=200 snapshot, so the checked property
    * is incremental ≡ full recompute (including zero-count key removal).
    */
  def incrAgg(s: SparkSession, d: String): DataFrame = {
    import graft.operators.IncrementalAgg
    val k = col("o_orderkey")
    val s1 = orders(s, d).select(k, col("o_custkey"), col("o_totalprice"))
    val removed = s1.filter(k % 97 === 0 || k % 13 === 0)
    val added = s1
      .filter(k % 13 === 0 && k % 97 =!= 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .unionByName(
        s1.filter(k % 101 === 0).withColumn("o_orderkey", k + 10000000L))
    val grp = Seq("grp")
    def withGrp(df: DataFrame): DataFrame = df.withColumn("grp", col("o_custkey") % 100)
    IncrementalAgg
      .merge(
        IncrementalAgg.initState(withGrp(s1), grp, "o_totalprice"),
        IncrementalAgg.deltaFromRowSets(withGrp(removed), withGrp(added), grp, "o_totalprice"),
        grp)
      .select(col("grp"), col("cnt"), round(col("sum"), 2).as("sum"))
  }

  /** Fixed-iteration PageRank (operators/GraphOps) over a deterministic
    * order→part link graph; the oracle unrolls the same three power
    * iterations as CTEs.
    */
  def pagerankQ(s: SparkSession, d: String): DataFrame = {
    val e = lineitem(s, d).select(
      (col("l_orderkey") % 2000).as("src"),
      (col("l_partkey") % 2000).as("dst"))
    graft.operators.GraphOps
      .pageRank(e, iterations = 3)
      .select(col("node"), round(col("pr"), 8).as("pr"))
  }

  /** One-pass ANALYZE profile (operators/Profiler): per-column counts,
    * exact NDV, min/max/mean over a mixed numeric/string column set.
    */
  def profileQ(s: SparkSession, d: String): DataFrame =
    graft.operators.Profiler.profile(
      orders(s, d), Seq("o_orderkey", "o_totalprice", "o_orderstatus", "o_orderpriority"))

  /** Deterministic Bernoulli sample (operators/Sampling.hashSample):
    * retry-safe hash-uniform draw, replayed bit-for-bit by the oracle's
    * identical md5 threshold.
    */
  def hashSample(s: SparkSession, d: String): DataFrame = {
    val id = concat(
      col("l_orderkey").cast(StringType), lit("_"), col("l_linenumber").cast(StringType))
    graft.operators.Sampling
      .hashSample(lineitem(s, d), id, 0.1)
      .select(col("l_orderkey"), col("l_linenumber"))
  }

  /** Uniform k-per-group draw (operators/Sampling.groupSample): one
    * window shuffle, (hash, id)-total order.
    */
  def groupSample(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling
      .groupSample(
        orders(s, d).withColumn("grp", col("o_custkey") % 50),
        Seq("grp"), col("o_orderkey"), k = 3)
      .select(col("grp"), col("o_orderkey"))

  /** Weighted k-per-group draw (operators/Sampling.weightedGroupSample,
    * Efraimidis–Spirakis keys from deterministic hash-uniforms).
    */
  def weightedSample(s: SparkSession, d: String): DataFrame = {
    val id = concat(
      col("l_orderkey").cast(StringType), lit("_"), col("l_linenumber").cast(StringType))
    graft.operators.Sampling
      .weightedGroupSample(
        lineitem(s, d).withColumn("_id", id),
        Seq("l_returnflag"), col("_id"), col("l_quantity"), k = 10)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
  }

  /** Per-stratum fractions (operators/Sampling.stratifiedSample):
    * broadcast threshold table, scan-local filter.
    */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val id = concat(
      col("l_orderkey").cast(StringType), lit("_"), col("l_linenumber").cast(StringType))
    graft.operators.Sampling
      .stratifiedSample(
        lineitem(s, d), "l_returnflag",
        Map("A" -> 0.05, "N" -> 0.2, "R" -> 0.1), id)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
  }

  /** SCD2 history maintenance (operators/Scd2): seed a history from the
    * orders snapshot at t=100, apply the mutated snapshot (same mutation
    * pattern as q_snapshot_diff) at t=200 — every key must land in exactly
    * the right (valid_from, valid_to, is_current) rows. The oracle builds
    * the same history declaratively from the two snapshots.
    */
  private def scd2History(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey")
    val snap1 = orders(s, d).select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val snap2 = snap1
      .filter(k % 97 =!= 0)
      .withColumn(
        "o_totalprice",
        when(k % 13 === 0, col("o_totalprice") + 1000.0).otherwise(col("o_totalprice")))
      .unionByName(
        snap1.filter(k % 101 === 0).withColumn("o_orderkey", k + 10000000L))
    graft.operators.Scd2.applySnapshot(
      graft.operators.Scd2.init(snap1, lit(100L)),
      snap2, Seq("o_orderkey"), lit(200L))
  }

  def scd2(s: SparkSession, d: String): DataFrame =
    scd2History(s, d).withColumn("o_totalprice", round(col("o_totalprice"), 6))

  /** Streaming-SCD2 semantics under oracle (streaming/StreamingOps.scala
    * scd2VersionFoldTwin — the batch twin the live `scd2Stream` fold is
    * pinned to in StreamingOpsSpec): a deterministic CDC change log derived
    * from orders (key = orderkey%1000, change index i = orderkey div 1000,
    * so ts strictly increases within each key) folds into SCD2 version
    * rows. The i div 2 payload/value pairing plants genuine no-op upserts;
    * the %5 / %7 rules plant deletes, including consecutive ones.
    */
  def scd2StreamTwin(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey") % 1000
    val i = floor(col("o_orderkey") / 1000).cast("long")
    val i2 = floor(i / 2).cast("long")
    val changes = orders(s, d).select(
      concat(lit("k"), k.cast("string")).as("key"),
      when((k + i) % 5 === 0 || (k + i) % 7 === 0, "delete")
        .otherwise("upsert").as("op"),
      concat(lit("p"), (i2 % 3).cast("string")).as("payload"),
      (i2 % 4).cast("double").as("value"),
      col("o_orderkey").as("ts"))
    graft.streaming.StreamingOps.scd2VersionFoldTwin(changes)
  }

  /** Streaming incremental-aggregate semantics under oracle (streaming/
    * StreamingOps.scala incrementalAggFoldTwin — the batch twin the live
    * `incrementalAggStream` fold is pinned to in StreamingOpsSpec): an
    * add/remove change log derived from orders folds to final per-key
    * count/sum state in one signed, map-side-combinable aggregation.
    */
  def incrAggStreamTwin(s: SparkSession, d: String): DataFrame = {
    val changes = orders(s, d).select(
      concat(lit("k"), (col("o_orderkey") % 2000).cast("string")).as("key"),
      when(col("o_orderkey") % 11 === 0, "remove").otherwise("add").as("op"),
      col("o_totalprice").as("value"))
    graft.streaming.StreamingOps.incrementalAggFoldTwin(changes)
      .withColumn("sum", round(col("sum"), 2))
  }

  /** Point-in-time join (operators/Scd2.joinAsOf): lineitem facts carry a
    * timestamp 50 + 50·linenumber (spanning before / between / after the
    * two snapshot batches) and must each see the dimension version valid
    * at their own time — or be dropped when none was.
    */
  def scd2AsOf(s: SparkSession, d: String): DataFrame = {
    val facts = lineitem(s, d).select(
      col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
      (lit(50L) + col("l_linenumber") * 50L).as("t"))
    graft.operators.Scd2
      .joinAsOf(facts, scd2History(s, d), Seq("o_orderkey"), "t")
      .select(
        col("o_orderkey"), col("l_linenumber"), col("t"),
        col("o_orderstatus"), round(col("o_totalprice"), 6).as("o_totalprice"))
  }

  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey")
    val old = orders(s, d)
    val mutated = old
      .filter(k % 97 =!= 0)
      .withColumn(
        "o_totalprice",
        when(k % 13 === 0, col("o_totalprice") + 1000.0).otherwise(col("o_totalprice")))
    val added = old
      .filter(k % 101 === 0)
      .withColumn("o_orderkey", k + 10000000L)
    graft.operators.SnapshotDiff.diff(
      old, mutated.unionByName(added), Seq("o_orderkey"),
      compareCols = Seq("o_orderstatus", "o_totalprice"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_golden_record" -> (goldenRecordQ _),
    "q_key_skew" -> (keySkewQ _),
    "q_ab_test" -> (abTest _),
    "q_entropy" -> (entropyQ _),
    "q_rollup" -> (rollupAgg _),
    "q_compact" -> (compactRoundtrip _),
    "q_salted_join" -> (saltedJoin _),
    "q_feature_hash" -> (featureHash _),
    "q_pct_rank" -> (pctRank _),
    "q_pct_rank_scalable" -> (pctRankScalable _),
    "q_profile_drift" -> (profileDrift _),
    "q_topk_pushdown" -> (topkPushdown _),
    "q_incr_agg" -> (incrAgg _),
    "q_pagerank" -> (pagerankQ _),
    "q_profile" -> (profileQ _),
    "q_hash_sample" -> (hashSample _),
    "q_group_sample" -> (groupSample _),
    "q_stratified_sample" -> (stratifiedSample _),
    "q_weighted_sample" -> (weightedSample _),
    "q_scd2" -> (scd2 _),
    "q_scd2_stream_twin" -> (scd2StreamTwin _),
    "q_incr_agg_stream_twin" -> (incrAggStreamTwin _),
    "q_scd2_asof" -> (scd2AsOf _),
    "q_snapshot_diff" -> (snapshotDiff _),
    "q_hist_quantile" -> (histQuantile _),
    "q_constraints" -> (constraintsQ _),
    "q_zorder" -> (zorderValue _),
    "q_bloom_prune" -> (bloomPrune _),
    "q_helpers" -> (helpers _),
    "q_source_cores" -> (sourceCores _),
    "q_pvalue_filter" -> (pvalueFilter _),
    "q_neglog_pval" -> (neglogPval _),
    "q_md5_id" -> (md5Id _),
    "q_slug" -> (slug _),
    "q_efo_parse" -> (efoParse _),
    "q_variant_parse" -> (variantParse _),
    "q_chrom_normalize" -> (chromNormalize _),
    "q_exclude_region" -> (excludeRegion _),
    "q_maf" -> (mafQuery _),
    "q_qc_flags" -> (qcFlags _),
    "q_top1_per_group" -> (top1PerGroup _),
    "q_melt" -> (meltQuery _),
    "q_pivot" -> (pivotQuery _),
    "q_harmonic_sum" -> (harmonicSum _),
    "q_array_sort_lead" -> (arraySortLead _),
    "q_missingness" -> (missingness _),
    "q_dedup_exact" -> (dedupExact _)
  )

  /** DuckDB mirror of the q_scd2 two-snapshot history: `hist` carries the
    * unrounded payload plus (valid_from, valid_to, is_current), reused by
    * the point-in-time join oracle.
    */
  private val Scd2HistSql =
    """s1 AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
      |s2 AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1000.0
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 97 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
      |  FROM orders WHERE o_orderkey % 101 = 0),
      |cls AS (SELECT coalesce(a.o_orderkey, b.o_orderkey) AS k,
      |    a.o_orderkey IS NOT NULL AS op, b.o_orderkey IS NOT NULL AS np,
      |    (a.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL AND
      |     (a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
      |      OR a.o_totalprice IS DISTINCT FROM b.o_totalprice)) AS chg,
      |    a.o_orderstatus AS o_s, a.o_totalprice AS o_p,
      |    b.o_orderstatus AS n_s, b.o_totalprice AS n_p
      |  FROM s1 a FULL OUTER JOIN s2 b ON a.o_orderkey = b.o_orderkey),
      |hist AS (
      |  SELECT k AS o_orderkey, o_s AS o_orderstatus, o_p AS o_totalprice,
      |    CAST(100 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to,
      |    TRUE AS is_current
      |  FROM cls WHERE op AND np AND NOT chg
      |  UNION ALL
      |  SELECT k, o_s, o_p, 100, 200, FALSE FROM cls WHERE op AND (chg OR NOT np)
      |  UNION ALL
      |  SELECT k, n_s, n_p, 200, NULL, TRUE FROM cls WHERE np AND (chg OR NOT op))""".stripMargin

  /** DuckDB mirror of Profiler.profile over the 4 profiled orders columns,
    * parameterised by source relation so the drift oracle can profile two
    * snapshots with the same block.
    */
  private def profileSql(from: String): String = {
    def num(c: String) =
      s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  round(CAST(min($c) AS DOUBLE), 6) AS min_num,
         |  round(CAST(max($c) AS DOUBLE), 6) AS max_num,
         |  round(avg($c), 6) AS avg_num,
         |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
         |FROM $from""".stripMargin
    def str(c: String) =
      s"""SELECT '$c', CAST(count(*) AS BIGINT), CAST(count(*) - count($c) AS BIGINT),
         |  CAST(count(DISTINCT $c) AS BIGINT),
         |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         |  min($c), max($c)
         |FROM $from""".stripMargin
    Seq(num("o_orderkey"), num("o_totalprice"), str("o_orderstatus"), str("o_orderpriority"))
      .mkString("\nUNION ALL\n")
  }

  val oracles: Map[String, String] = Map(
    "q_topk_pushdown" ->
      """WITH r AS (SELECT l_partkey % 200 AS grp, l_orderkey, l_linenumber, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_partkey % 200
        |      ORDER BY l_extendedprice DESC, l_orderkey * 10 + l_linenumber) AS rk
        |  FROM lineitem)
        |SELECT grp, l_orderkey, l_linenumber, l_extendedprice FROM r WHERE rk <= 5""".stripMargin,
    "q_incr_agg" ->
      """WITH s2 AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1000.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 101 = 0)
        |SELECT o_custkey % 100 AS grp, CAST(count(*) AS BIGINT) AS cnt,
        |  round(sum(o_totalprice), 2) AS sum
        |FROM s2 GROUP BY 1""".stripMargin,
    "q_pagerank" ->
      """WITH e AS (SELECT l_orderkey % 2000 AS src, l_partkey % 2000 AS dst FROM lineitem),
        |nodes AS (SELECT DISTINCT n AS node
        |  FROM (SELECT src AS n FROM e UNION ALL SELECT dst FROM e)),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |od AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY 1),
        |r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
        |c1 AS (SELECT e.dst AS node, sum(r0.pr / od.deg) AS s
        |  FROM e JOIN r0 ON e.src = r0.node JOIN od ON e.src = od.src GROUP BY e.dst),
        |r1 AS (SELECT nodes.node, (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * coalesce(c1.s, 0.0) AS pr
        |  FROM nodes LEFT JOIN c1 ON nodes.node = c1.node),
        |c2 AS (SELECT e.dst AS node, sum(r1.pr / od.deg) AS s
        |  FROM e JOIN r1 ON e.src = r1.node JOIN od ON e.src = od.src GROUP BY e.dst),
        |r2 AS (SELECT nodes.node, (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * coalesce(c2.s, 0.0) AS pr
        |  FROM nodes LEFT JOIN c2 ON nodes.node = c2.node),
        |c3 AS (SELECT e.dst AS node, sum(r2.pr / od.deg) AS s
        |  FROM e JOIN r2 ON e.src = r2.node JOIN od ON e.src = od.src GROUP BY e.dst),
        |r3 AS (SELECT nodes.node, (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * coalesce(c3.s, 0.0) AS pr
        |  FROM nodes LEFT JOIN c3 ON nodes.node = c3.node)
        |SELECT node, round(pr, 8) AS pr FROM r3""".stripMargin,
    "q_golden_record" ->
      """WITH recs AS (SELECT o_custkey, o_orderkey AS seq,
        |    CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderstatus END AS status,
        |    CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE o_totalprice END AS price
        |  FROM orders)
        |SELECT o_custkey,
        |  arg_max(status, CASE WHEN status IS NOT NULL THEN seq END) AS status,
        |  round(arg_max(price, CASE WHEN price IS NOT NULL THEN seq END), 6) AS price,
        |  CAST(count(*) AS BIGINT) AS n_merged,
        |  max(seq) AS last_seen
        |FROM recs GROUP BY 1""".stripMargin,
    "q_key_skew" ->
      """WITH keyed AS (SELECT CASE WHEN l_orderkey % 3 = 0 THEN 0
        |    ELSE l_orderkey % 1000 END AS k FROM lineitem),
        |c AS (SELECT k, CAST(count(*) AS BIGINT) AS n FROM keyed GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total_rows,
        |    CAST(count(*) AS BIGINT) AS n_keys FROM c),
        |r AS (SELECT c.k, c.n,
        |    round(c.n / CAST(t.total_rows AS DOUBLE), 6) AS share,
        |    round(c.n / (CAST(t.total_rows AS DOUBLE) / t.n_keys), 6) AS skew_ratio,
        |    row_number() OVER (ORDER BY c.n DESC, c.k) AS rk
        |  FROM c CROSS JOIN t)
        |SELECT k, n, share, skew_ratio FROM r WHERE rk <= 10""".stripMargin,
    "q_ab_test" ->
      """WITH agg AS (SELECT event_type, user_id % 2 = 0 AS variant_a,
        |    CAST(count(*) AS DOUBLE) AS n, sum(value) AS sx, sum(value * value) AS sxx
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, variant_a, n, sx / n AS m,
        |    (sxx - sx * sx / n) / (n - 1) AS s2 FROM agg)
        |SELECT a.event_type, CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
        |  round(a.m - b.m, 6) AS mean_diff,
        |  round((a.m - b.m) / sqrt(a.s2 / a.n + b.s2 / b.n), 6) AS welch_t
        |FROM st a JOIN st b ON a.event_type = b.event_type
        |  AND a.variant_a AND NOT b.variant_a""".stripMargin,
    "q_entropy" ->
      """WITH c AS (SELECT l_returnflag, l_linestatus, CAST(count(*) AS DOUBLE) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |t AS (SELECT l_returnflag, sum(c) AS t FROM c GROUP BY 1)
        |SELECT c.l_returnflag,
        |  round(-sum((c.c / t.t) * ln(c.c / t.t)), 6) AS entropy
        |FROM c JOIN t ON c.l_returnflag = t.l_returnflag
        |GROUP BY 1""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_quantity), 2) AS qty_sum
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q_compact" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem WHERE l_orderkey % 7 = 0""".stripMargin,
    "q_salted_join" ->
      """SELECT o.o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l.l_extendedprice), 2) AS price_sum
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin,
    "q_feature_hash" ->
      """SELECT doc_id,
        |  CAST('0x' || substr(md5(source || '|' || lang), 1, 8) AS BIGINT) % 1024 AS bucket
        |FROM documents""".stripMargin,
    "q_pct_rank" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber,
        |  round(percent_rank() OVER w, 8) AS pct_rank,
        |  CAST(ntile(10) OVER w AS INTEGER) AS bucket_rank
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_returnflag
        |  ORDER BY l_extendedprice, l_orderkey * 10 + l_linenumber)""".stripMargin,
    "q_pct_rank_scalable" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber,
        |  round(percent_rank() OVER w, 8) AS pct_rank,
        |  CAST(ntile(10) OVER w AS INTEGER) AS bucket_rank
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_returnflag
        |  ORDER BY l_extendedprice, l_orderkey * 10 + l_linenumber)""".stripMargin,
    "q_profile" -> profileSql("orders"),
    "q_profile_drift" ->
      s"""WITH newsnap AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1000.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderstatus, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 <> 0),
        |po AS (${profileSql("orders")}),
        |pn AS (${profileSql("newsnap")})
        |SELECT po."column", po.n_rows AS n_rows_old, pn.n_rows AS n_rows_new,
        |  round(CAST(po.n_nulls AS DOUBLE) / po.n_rows, 6) AS null_frac_old,
        |  round(CAST(pn.n_nulls AS DOUBLE) / pn.n_rows, 6) AS null_frac_new,
        |  round(CAST(pn.n_distinct AS DOUBLE) / po.n_distinct, 6) AS ndv_ratio,
        |  round(pn.avg_num - po.avg_num, 6) AS avg_shift,
        |  coalesce(pn.min_num < po.min_num OR pn.max_num > po.max_num
        |    OR pn.min_str < po.min_str OR pn.max_str > po.max_str, FALSE) AS range_widened
        |FROM po JOIN pn ON po."column" = pn."column"""".stripMargin,
    "q_hash_sample" ->
      s"""SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)), 1, 8)
        |  < '${graft.operators.Sampling.hexThreshold(0.1)}'""".stripMargin,
    "q_group_sample" ->
      """WITH g AS (SELECT o_custkey % 50 AS grp, o_orderkey,
        |    substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) AS h FROM orders),
        |r AS (SELECT grp, o_orderkey,
        |    row_number() OVER (PARTITION BY grp ORDER BY h, o_orderkey) AS rk FROM g)
        |SELECT grp, o_orderkey FROM r WHERE rk <= 3""".stripMargin,
    "q_stratified_sample" ->
      s"""SELECT l_returnflag, l_orderkey, l_linenumber FROM lineitem
        |WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)), 1, 8)
        |  < CASE l_returnflag
        |      WHEN 'A' THEN '${graft.operators.Sampling.hexThreshold(0.05)}'
        |      WHEN 'N' THEN '${graft.operators.Sampling.hexThreshold(0.2)}'
        |      WHEN 'R' THEN '${graft.operators.Sampling.hexThreshold(0.1)}'
        |      ELSE '${graft.operators.Sampling.hexThreshold(0.0)}' END""".stripMargin,
    "q_weighted_sample" ->
      """WITH b AS (SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
        |    CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) AS id,
        |    (CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '_'
        |       || CAST(l_linenumber AS VARCHAR)), 1, 8) AS BIGINT) + 1.0) / 4294967296.0 AS u
        |  FROM lineitem),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY (CASE WHEN l_quantity > 0 THEN pow(u, 1.0 / l_quantity)
        |              ELSE -1.0 END) DESC, id) AS rk FROM b)
        |SELECT l_returnflag, l_orderkey, l_linenumber FROM r WHERE rk <= 10""".stripMargin,
    "q_scd2" ->
      s"""WITH $Scd2HistSql
        |SELECT o_orderkey, o_orderstatus, round(o_totalprice, 6) AS o_totalprice,
        |  valid_from, valid_to, is_current
        |FROM hist""".stripMargin,
    "q_incr_agg_stream_twin" ->
      """WITH ch AS (SELECT 'k' || CAST(o_orderkey % 2000 AS VARCHAR) AS key,
        |    CASE WHEN o_orderkey % 11 = 0 THEN -1 ELSE 1 END AS sign,
        |    o_totalprice AS value
        |  FROM orders)
        |SELECT key, CAST(sum(sign) AS BIGINT) AS cnt,
        |  round(sum(sign * value), 2) AS sum
        |FROM ch GROUP BY key""".stripMargin,
    "q_scd2_stream_twin" ->
      """WITH ch AS (
        |  SELECT 'k' || CAST(o_orderkey % 1000 AS VARCHAR) AS key,
        |    CASE WHEN ((o_orderkey % 1000) + (o_orderkey // 1000)) % 5 = 0
        |           OR ((o_orderkey % 1000) + (o_orderkey // 1000)) % 7 = 0
        |         THEN 'delete' ELSE 'upsert' END AS op,
        |    'p' || CAST(((o_orderkey // 1000) // 2) % 3 AS VARCHAR) AS payload,
        |    CAST(((o_orderkey // 1000) // 2) % 4 AS DOUBLE) AS value,
        |    o_orderkey AS ts
        |  FROM orders),
        |p AS (SELECT *, lag(op) OVER w AS pop, lag(payload) OVER w AS ppay,
        |    lag(value) OVER w AS pval
        |  FROM ch WINDOW w AS (PARTITION BY key ORDER BY ts, op)),
        |m AS (SELECT *,
        |    (op = 'upsert' AND (pop IS NULL OR pop = 'delete'
        |      OR ppay <> payload OR pval <> value)) AS opens,
        |    (op = 'delete' AND pop = 'upsert') AS closes
        |  FROM p),
        |mk AS (SELECT *, lead(ts) OVER (PARTITION BY key ORDER BY ts, op) AS valid_to
        |  FROM m WHERE opens OR closes)
        |SELECT key, payload, value, ts AS valid_from, valid_to,
        |  (valid_to IS NULL) AS is_current
        |FROM mk WHERE opens""".stripMargin,
    "q_scd2_asof" ->
      s"""WITH $Scd2HistSql,
        |facts AS (SELECT l_orderkey AS o_orderkey, l_linenumber,
        |    50 + l_linenumber * 50 AS t FROM lineitem)
        |SELECT f.o_orderkey, f.l_linenumber, CAST(f.t AS BIGINT) AS t,
        |  h.o_orderstatus, round(h.o_totalprice, 6) AS o_totalprice
        |FROM facts f JOIN hist h ON f.o_orderkey = h.o_orderkey
        |WHERE h.valid_from <= f.t AND (h.valid_to IS NULL OR h.valid_to > f.t)""".stripMargin,
    "q_snapshot_diff" ->
      """WITH oldsnap AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |newsnap AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1000.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 101 = 0)
        |SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |  CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |       WHEN n.o_orderkey IS NULL THEN 'removed'
        |       WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |         OR o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'changed'
        |       ELSE 'unchanged' END AS change
        |FROM oldsnap o FULL OUTER JOIN newsnap n ON o.o_orderkey = n.o_orderkey""".stripMargin,
    "q_hist_quantile" ->
      """WITH h AS (SELECT o_orderstatus,
        |    CAST(least(greatest(floor(o_totalprice / 10000), 0), 59) AS BIGINT) AS bin,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2),
        |hc AS (SELECT *, sum(cnt) OVER (PARTITION BY o_orderstatus ORDER BY bin) AS cum,
        |    sum(cnt) OVER (PARTITION BY o_orderstatus) AS total FROM h),
        |qs AS (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS q),
        |f AS (SELECT o_orderstatus, q, bin, cum, cnt, total FROM hc CROSS JOIN qs
        |  WHERE cum >= q * total),
        |m AS (SELECT o_orderstatus, q, min(bin) AS qbin FROM f GROUP BY 1, 2)
        |SELECT f.o_orderstatus, f.q,
        |  round(0 + 10000 * (f.bin +
        |    least(greatest((f.q * f.total - (f.cum - f.cnt)) / f.cnt, 0), 1)), 6) AS value
        |FROM f JOIN m ON f.o_orderstatus = m.o_orderstatus AND f.q = m.q AND f.bin = m.qbin""".stripMargin,
    "q_constraints" ->
      """WITH t AS (SELECT CAST(count(*) AS BIGINT) AS total,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null,
        |    CAST(sum(CASE WHEN o_totalprice IS NOT NULL
        |      AND NOT (o_totalprice >= 0 AND o_totalprice <= 200000) THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
        |    CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT) AS v_set,
        |    CAST(sum(CASE WHEN NOT coalesce(o_orderkey > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_sat,
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_uk,
        |    CAST(count(*) - count(DISTINCT o_custkey) AS BIGINT) AS v_uc
        |  FROM orders),
        |fk AS (SELECT CAST(count(*) AS BIGINT) AS v_fk FROM orders
        |  WHERE o_custkey IS NOT NULL
        |    AND o_custkey NOT IN (SELECT c_custkey FROM customer))
        |SELECT 'not_null' AS rule, 'o_custkey' AS "column", v_null AS violations, total, v_null = 0 AS pass FROM t
        |UNION ALL SELECT 'in_range', 'o_totalprice', v_range, total, v_range = 0 FROM t
        |UNION ALL SELECT 'in_set', 'o_orderstatus', v_set, total, v_set = 0 FROM t
        |UNION ALL SELECT 'satisfies', 'key_positive', v_sat, total, v_sat = 0 FROM t
        |UNION ALL SELECT 'unique', 'o_orderkey', v_uk, total, v_uk = 0 FROM t
        |UNION ALL SELECT 'unique', 'o_custkey', v_uc, total, v_uc = 0 FROM t
        |UNION ALL SELECT 'foreign_key', 'o_custkey', v_fk, (SELECT total FROM t), v_fk = 0 FROM fk""".stripMargin,
    "q_zorder" -> {
      val terms = (0 until 8).flatMap(i => Seq(
        s"(((zx >> $i) & 1) << ${2 * i})",
        s"(((zy >> $i) & 1) << ${2 * i + 1})"))
      s"""WITH b AS (SELECT l_orderkey, l_linenumber,
         |    l_partkey % 256 AS zx, l_suppkey % 256 AS zy FROM lineitem)
         |SELECT l_orderkey, l_linenumber, zx, zy,
         |  CAST(${terms.mkString(" + ")} AS BIGINT) AS z
         |FROM b""".stripMargin
    },
    "q_bloom_prune" ->
      """SELECT l_orderkey, l_partkey, l_linenumber FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_orderkey % 97 = 0 AND o_orderkey = l_orderkey)""".stripMargin,
    "q_helpers" ->
      """WITH b AS (SELECT l_orderkey * 8 + l_linenumber AS id,
        |    l_returnflag AS rf FROM lineitem)
        |SELECT id,
        |  CASE rf WHEN 'A' THEN 'accepted' WHEN 'N' THEN 'neutral'
        |       WHEN 'R' THEN 'returned' END AS flag,
        |  CASE WHEN id % 3 = 0 THEN NULL
        |       ELSE 'x' || CAST(id % 5 AS VARCHAR) || '|' ||
        |            'y' || CAST(id % 7 AS VARCHAR) END AS toks,
        |  array_to_string(list_transform(list_sort(list_distinct(
        |    CASE WHEN id % 4 <> 0 AND id % 5 <> 0
        |         THEN list_concat([id % 10, id % 10 + 1], [id % 10 + 1, id % 12])
        |         WHEN id % 4 <> 0 THEN [id % 10, id % 10 + 1]
        |         WHEN id % 5 <> 0 THEN [id % 10 + 1, id % 12]
        |         ELSE NULL END)), x -> CAST(x AS VARCHAR)), '|') AS uni,
        |  CASE WHEN id % 2 = 0 THEN id % 50 ELSE id % 30 END AS fv
        |FROM b""".stripMargin,
    "q_source_cores" ->
      """WITH b AS (SELECT l_orderkey * 8 + l_linenumber AS id FROM lineitem),
        |c AS (SELECT id, (id % 50) / 100.0 AS maf,
        |    CASE WHEN id % 7 = 0 THEN NULL ELSE (id % 100) / 100.0 END AS eur
        |  FROM b)
        |SELECT id,
        |  round(CASE WHEN eur IS NULL THEN maf
        |       WHEN abs(eur - maf) <= abs(eur - (1.0 - maf)) THEN maf
        |       ELSE 1.0 - maf END, 6) AS af,
        |  'PRJ' || CAST(id % 5 AS VARCHAR) || '_Proteomics_SMP_'
        |    || CAST(id AS VARCHAR) AS "studyId",
        |  CAST(id % 9 + 1 AS INTEGER) AS "csIndex"
        |FROM c""".stripMargin,
    "q_pvalue_filter" ->
      """WITH b AS (SELECT l_orderkey, l_linenumber, l_quantity/51.0 AS p FROM lineitem),
        |s AS (SELECT l_orderkey, l_linenumber,
        |  CAST(round(p/pow(10.0, floor(log10(p))), 3) AS REAL) AS p_mantissa,
        |  CAST(floor(log10(p)) AS INTEGER) AS p_exponent FROM b)
        |SELECT * FROM s WHERE p_exponent < -2 OR (p_exponent = -2 AND p_mantissa <= 5.0)""".stripMargin,
    "q_neglog_pval" ->
      """WITH b AS (SELECT l_orderkey, l_linenumber, l_quantity/51.0 AS p FROM lineitem),
        |s AS (SELECT l_orderkey, l_linenumber,
        |  CAST(round(p/pow(10.0, floor(log10(p))), 3) AS REAL) AS p_mantissa,
        |  CAST(floor(log10(p)) AS INTEGER) AS p_exponent FROM b)
        |SELECT l_orderkey, l_linenumber,
        |  round(-1*(log10(p_mantissa) + p_exponent), 6) AS neglog_pval FROM s""".stripMargin,
    "q_md5_id" ->
      "SELECT c_custkey, md5(concat(CAST(c_custkey AS VARCHAR), c_name, c_mktsegment)) AS id FROM customer",
    "q_slug" ->
      "SELECT c_custkey, regexp_replace(lower(c_name), '[^a-z0-9-_]+', '_', 'g') AS slug FROM customer",
    "q_efo_parse" ->
      """SELECT s_suppkey, array_to_string(list_transform(
        |  string_split('http://www.ebi.ac.uk/efo/EFO_' || CAST(s_suppkey AS VARCHAR) ||
        |               ',http://purl.obolibrary.org/obo/MONDO_' || CAST(s_suppkey AS VARCHAR), ','),
        |  u -> list_extract(string_split(u, '/'), -1)), ',') AS efos FROM supplier""".stripMargin,
    "q_variant_parse" ->
      """WITH b AS (SELECT p_partkey,
        |  CAST(1 + p_partkey % 22 AS VARCHAR) || '_' || CAST(p_partkey AS VARCHAR) || '_A_T' AS vid FROM part)
        |SELECT p_partkey, regexp_extract(vid, '^(.*)_\d+_.*$', 1) AS chromosome,
        |  regexp_extract(vid, '^.*_(\d+)_.*$', 1) AS position FROM b""".stripMargin,
    "q_chrom_normalize" ->
      """WITH b AS (SELECT n_nationkey, CASE WHEN n_nationkey = 0 THEN 'M'
        |  WHEN n_nationkey = 1 THEN '23' WHEN n_nationkey = 2 THEN '24'
        |  ELSE 'chr' || CAST(n_nationkey AS VARCHAR) END AS raw FROM nation),
        |c AS (SELECT n_nationkey, regexp_replace(raw, '^chr', '') AS r2 FROM b)
        |SELECT n_nationkey, CASE WHEN r2 = 'M' THEN 'MT' WHEN r2 = '23' THEN 'X'
        |  WHEN r2 = '24' THEN 'Y' ELSE r2 END AS chromosome FROM c""".stripMargin,
    "q_exclude_region" ->
      """WITH b AS (SELECT CAST(1 + l_orderkey % 22 AS VARCHAR) AS chromosome, l_partkey AS position FROM lineitem)
        |SELECT chromosome, count(*) AS n FROM b
        |WHERE NOT (chromosome = '6' AND position >= 500 AND position <= 1500)
        |GROUP BY chromosome""".stripMargin,
    "q_maf" ->
      """SELECT l_orderkey, l_linenumber, round(CAST(
        |  CASE WHEN l_tax * 10.0 <= 0.5 THEN CAST(l_tax * 10.0 AS DECIMAL(11,10))
        |       ELSE CAST(1.0 AS DECIMAL(11,10)) - CAST(l_tax * 10.0 AS DECIMAL(11,10)) END
        |  AS DOUBLE), 8) AS maf FROM lineitem""".stripMargin,
    "q_qc_flags" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 300000.0 AND o_orderstatus = 'F' THEN 'finished;high price'
        |       WHEN o_totalprice > 300000.0 THEN 'high price'
        |       WHEN o_orderstatus = 'F' THEN 'finished'
        |       ELSE '' END AS qc_str,
        |  NOT (o_totalprice > 300000.0) AS valid FROM orders""".stripMargin,
    "q_top1_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin,
    "q_melt" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable, CAST(l_quantity AS REAL) AS value FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', CAST(l_discount AS REAL) FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', CAST(l_tax AS REAL) FROM lineitem""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |  round(sum(CASE WHEN event_type = 'click' THEN value END), 6) AS click,
        |  round(sum(CASE WHEN event_type = 'error' THEN value END), 6) AS error,
        |  round(sum(CASE WHEN event_type = 'purchase' THEN value END), 6) AS purchase,
        |  round(sum(CASE WHEN event_type = 'signup' THEN value END), 6) AS signup,
        |  round(sum(CASE WHEN event_type = 'view' THEN value END), 6) AS view
        |FROM events GROUP BY user_id""".stripMargin,
    "q_harmonic_sum" ->
      s"""WITH r AS (SELECT l_orderkey, l_quantity,
         |  row_number() OVER (PARTITION BY l_orderkey ORDER BY l_quantity DESC) AS rn FROM lineitem)
         |SELECT l_orderkey, round(sum(l_quantity / (rn * rn) / $HarmonicK), 6) AS harmonic_sum
         |FROM r GROUP BY l_orderkey""".stripMargin,
    "q_array_sort_lead" ->
      """SELECT l_orderkey, l_linenumber AS lead_linenumber FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    row_number() OVER (PARTITION BY l_orderkey ORDER BY l_quantity DESC, l_linenumber ASC) AS rn
        |  FROM lineitem) WHERE rn = 1""".stripMargin,
    "q_missingness" ->
      """SELECT
        |  round(avg(CASE WHEN (CASE WHEN l_discount > 0.05 THEN l_quantity END) IS NULL THEN 1.0 ELSE 0.0 END), 6) AS x,
        |  round(avg(CASE WHEN (CASE WHEN l_returnflag = 'R' THEN l_extendedprice END) IS NULL THEN 1.0 ELSE 0.0 END), 6) AS y
        |FROM lineitem""".stripMargin,
    "q_dedup_exact" ->
      """SELECT doc_id, count(*) OVER (PARTITION BY md5(text)) AS dup_count,
        |  doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep FROM documents""".stripMargin
  )
}
