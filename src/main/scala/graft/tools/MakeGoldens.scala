package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Scale-parameterised golden generation for the four pinned-golden oracles
  * (q_finemap, q_pics, q_pz_test, q_hll_rollup — kernels with no DuckDB
  * counterpart: SuSiE-inf, normal sf, chi² isf, Datasketches HLL).
  *
  * A single-SF VALUES literal fails BY DESIGN at any other scale factor,
  * which kept every sweep at 194 pass + 4 by-design (round-13 verdict
  * item 3). This tool runs each pinned kernel on the corpora that exist
  * and emits ONE oracle per query: a UNION ALL of per-SF VALUES blocks,
  * each guarded by a corpus-size predicate on the query's own driving
  * table — so the same static SQL string picks the right golden at
  * sf0.001 / sf0.01 (and sf0.1 for the 10-row outputs) at oracle-run
  * time. Scales the goldens do not cover return an empty block (an honest
  * "no golden recorded at this size"), exactly as informative as today's
  * mismatch.
  *
  * The blocks stay valid under MakeReseededCorpus perturbation because all
  * four kernels are pure functions of UNTOUCHED key columns (measured in
  * the round-13 seed sweep).
  *
  * Usage: runMain graft.tools.MakeGoldens [testdataBase] [outDir]
  * (defaults /root/testdata, src/main/resources/goldens)
  */
object MakeGoldens {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata")
    val outDir = args.drop(1).headOption.getOrElse("src/main/resources/goldens")
    // Spark's 4 MB open cost, as when the committed goldens were generated
    val spark = graft.core.GSession.local(
      conf = Map("spark.sql.files.openCostInBytes" -> "4m")).spark

    def sqlLit(v: Any): String = v match {
      case null => "NULL"
      case s: String => "'" + s.replace("'", "''") + "'"
      case d: Double => java.lang.Double.toString(d) // round-trips IEEE
      case f: Float => java.lang.Float.toString(f)
      case b: Boolean => if (b) "TRUE" else "FALSE"
      case other => other.toString
    }
    def duckType(t: DataType): String = t match {
      case StringType => "VARCHAR"
      case LongType => "BIGINT"
      case IntegerType => "INTEGER"
      case DoubleType => "DOUBLE"
      case FloatType => "REAL"
      case BooleanType => "BOOLEAN"
      case other => sys.error(s"no golden literal mapping for $other")
    }

    /** One per-SF golden block: typed projection over a VALUES literal,
      * guarded by the corpus-size predicate.
      */
    def block(
        schema: StructType, rows: Seq[Row], predicate: String): String = {
      val cols = schema.fields.zipWithIndex.map { case (f, i) =>
        s"""CAST(c$i AS ${duckType(f.dataType)}) AS "${f.name}""""
      }.mkString(", ")
      val names = schema.fields.indices.map(i => s"c$i").mkString(", ")
      val values = rows
        .map(r => r.toSeq.map(sqlLit).mkString("(", ", ", ")"))
        .mkString(",\n")
      s"""SELECT $cols FROM (VALUES\n$values\n) AS t($names)
         |WHERE (SELECT n FROM sz) $predicate""".stripMargin
    }

    // (query, driving table, Seq(sfDir suffix -> corpus-size predicate)).
    // Thresholds sit between the driver corpus sizes (lineitem 6k/60k/600k,
    // orders 1.5k/15k/150k) so reseeded corpora (same keys, same counts)
    // dispatch identically. q_finemap's generator covers its 40×60 grid at
    // every sf ≥ 0.01, so its big block is unbounded above; q_pics grows
    // with orders (a sf0.1 golden would be a 300k-row literal — not
    // recorded, like today).
    val specs = Seq(
      ("q_pz_test", "lineitem", Seq(
        "sf0.001" -> "< 30000",
        "sf0.01" -> "BETWEEN 30000 AND 299999",
        "sf0.1" -> "BETWEEN 300000 AND 2999999")),
      ("q_hll_rollup", "lineitem", Seq(
        "sf0.001" -> "< 30000",
        "sf0.01" -> "BETWEEN 30000 AND 299999",
        "sf0.1" -> "BETWEEN 300000 AND 2999999")),
      ("q_pics", "orders", Seq(
        "sf0.001" -> "< 7500",
        "sf0.01" -> "BETWEEN 7500 AND 74999")),
      // the compact checksum twin has a fixed ≤186-row variant key space,
      // so unlike q_pics itself it gets a block at all three SFs — this is
      // what closes the sf0.1 golden hole (round-16, VERDICT r15 ask 6)
      ("q_pics_checksum", "orders", Seq(
        "sf0.001" -> "< 7500",
        "sf0.01" -> "BETWEEN 7500 AND 74999",
        "sf0.1" -> "BETWEEN 75000 AND 749999")),
      ("q_finemap", "orders", Seq(
        "sf0.001" -> "< 7500",
        "sf0.01" -> ">= 7500")),
      // CARMA / RAISS outputs are small (≤ p·loci rows) at every SF, so all
      // three corpora get a block — unlike q_pics there is no SF where the
      // literal would blow up
      ("q_carma", "orders", Seq(
        "sf0.001" -> "< 7500",
        "sf0.01" -> "BETWEEN 7500 AND 74999",
        "sf0.1" -> "BETWEEN 75000 AND 749999")),
      ("q_raiss", "orders", Seq(
        "sf0.001" -> "< 7500",
        "sf0.01" -> "BETWEEN 7500 AND 74999",
        "sf0.1" -> "BETWEEN 75000 AND 749999")))

    // optional third+ args: regenerate only the named queries (a kernel
    // change should not churn the other goldens' files)
    val only = args.drop(2).toSet
    Files.createDirectories(Paths.get(outDir))
    specs.filter(s => only.isEmpty || only(s._1)).foreach { case (q, table, sfs) =>
      val fn = graft.SparkEntry.queries(q)
      val blocks = sfs.map { case (sf, pred) =>
        val df = fn(spark, s"$base/$sf")
        // deterministic row order for stable diffs (compare is order-free)
        val sorted = df.orderBy(df.columns.map(org.apache.spark.sql.functions.col): _*)
        val rows = sorted.collect().toSeq
        System.err.println(s"[goldens] $q @ $sf: ${rows.length} rows")
        block(df.schema, rows, pred)
      }
      val sql =
        s"""WITH sz AS (SELECT count(*) AS n FROM $table)
           |${blocks.mkString("\nUNION ALL\n")}""".stripMargin
      Files.write(
        Paths.get(s"$outDir/${q}_oracle.sql"),
        sql.getBytes(StandardCharsets.UTF_8))
      System.err.println(s"[goldens] wrote $outDir/${q}_oracle.sql")
    }
    spark.stop()
  }
}
