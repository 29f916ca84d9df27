package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.harness.TextQueries
import graft.operators.{Dedup, Similarity, TextPipeline}
import graft.tools.MakeReseededCorpus

import Handoff._

object CorpusDedup {
  val Steps: Seq[String] = Seq(
    "clean", "minhash", "lsh", "components", "dedup", "containment", "containment_incr", "semantic")

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val EmbeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Exact-Jaccard threshold that turns LSH candidates into verified pairs. */
  val Jaccard = 0.5
  /** Containment threshold and shingle width, as the catalog's containment
    * queries use them, so their DuckDB oracles check this chain's output.
    */
  val Theta = 0.8
  val Shingle = 3
}

/** The training-data dedup pipeline on the reseeded corpus's documents and
  * embeddings, one Parquet handoff per step.
  */
final class CorpusDedup(seed: Long, corpus: String, tiny: Boolean) extends Workload {
  import CorpusDedup._

  val name = "corpus_dedup"
  var inputRows = 0L
  private var corpusDir = ""

  override def prepare(dir: String): Unit = {
    corpusDir = s"$dir/corpus"
    MakeReseededCorpus.main(Array(corpus, corpusDir, seed.toString))
  }

  private def docs(ctx: Ctx): DataFrame = read(ctx) {
    val d = ctx.gs.loadData(Seq(s"$corpusDir/documents.parquet"), "parquet", Some(DocSchema))
    if (tiny) d.filter(col("doc_id") < 200) else d
  }

  def generate(ctx: Ctx): Unit = {
    inputRows = docs(ctx).count()
    ctx.spark.read.parquet(s"$corpusDir/embeddings.parquet").count()
  }

  def pass(ctx: Ctx, failures: mutable.ArrayBuffer[Failure], keep: Boolean): Seq[OpTime] = {
    val ops = mutable.ArrayBuffer.empty[OpTime]
    def rd(rel: String) = read(ctx)(ctx.spark.read.parquet(ctx.path(rel)))
    def verified(pairs: DataFrame) =
      pairs.filter(col("jaccard") >= Jaccard).select(col("l_doc").as("l_id"), col("r_doc").as("r_id"))

    op(ctx, "clean", failures, ops) {
      val d = docs(ctx)
      write(ctx, build(ctx)(TextPipeline.cleanCorpus(d.select("doc_id", "text"))), "clean")
    }
    op(ctx, "minhash", failures, ops) {
      val d = docs(ctx)
      write(ctx, build(ctx)(Dedup.signatures(d)), "signatures")
    }
    op(ctx, "lsh", failures, ops) {
      val sigs = rd("signatures")
      val pairs = build(ctx) {
        val sets = sigs.select(col("doc_id"), array_distinct(col("shingles")).as("s"))
        Dedup.candidatePairs(sigs)
          .join(sets.as("x"), col("l_doc") === col("x.doc_id"))
          .join(sets.as("y"), col("r_doc") === col("y.doc_id"))
          .select(col("l_doc"), col("r_doc"), Dedup.jaccard(col("x.s"), col("y.s")).as("jaccard"))
      }
      write(ctx, pairs, "pairs")
    }
    op(ctx, "components", failures, ops) {
      val pairs = rd("pairs")
      write(ctx, build(ctx)(Dedup.connectedComponents(verified(pairs))), "components")
    }
    op(ctx, "dedup", failures, ops) {
      val d = docs(ctx)
      val pairs = rd("pairs")
      val kept = build(ctx) {
        Dedup.dedupByComponent(d.select("doc_id", "text"), verified(pairs))
          .select("doc_id", "component", "keep")
      }
      write(ctx, kept, "dedup")
    }
    op(ctx, "containment", failures, ops) {
      val d = docs(ctx)
      write(ctx, build(ctx)(Dedup.containmentJoin(d, Theta, shingle = Shingle)), "containment")
    }
    op(ctx, "containment_incr", failures, ops) {
      val d = docs(ctx)
      // the published reference enters only as its containment artifact,
      // persisted because the incremental join reads it several times
      val art = build(ctx) {
        Dedup.containmentArtifact(d.filter(col("doc_id") % 10 =!= 0), Theta, shingle = Shingle)
          .persist(StorageLevel.DISK_ONLY)
      }
      try {
        val incr = build(ctx) {
          Dedup.incrementalContainmentJoin(d.filter(col("doc_id") % 10 === 0), art, Theta,
            shingle = Shingle)
        }
        write(ctx, incr, "containment_incr")
      } finally art.unpersist(true)
    }
    op(ctx, "semantic", failures, ops) {
      val emb = read(ctx)(ctx.gs.loadData(Seq(s"$corpusDir/embeddings.parquet"), "parquet",
        Some(EmbeddingSchema)))
      write(ctx, build(ctx)(Similarity.semanticDedupAuto(emb, threshold = 0.95)), "semantic")
    }
    ops.toSeq
  }

  private val Outputs = Seq(
    "clean" -> "clean", "minhash" -> "signatures", "lsh" -> "pairs", "components" -> "components",
    "dedup" -> "dedup", "containment" -> "containment", "containment_incr" -> "containment_incr",
    "semantic" -> "semantic")

  def check(ctx: Ctx): CheckResult = {
    val spark = ctx.spark
    def rd(rel: String) = spark.read.parquet(ctx.path(rel))
    val steps = Outputs.map { case (step, rel) =>
      val (rows, dg) = digest(ctx, rel)
      (step, rows, dg)
    }
    val rows = steps.map { case (n, r, _) => n -> r }.toMap
    val nDocs = inputRows
    val nVecs = spark.read.parquet(s"$corpusDir/embeddings.parquet").count()
    val comp = rd("components")
    val failures = Seq(
      expect("clean", rows("clean") == nDocs, s"clean has ${rows("clean")} rows for $nDocs docs"),
      expectNone(ctx, "clean", "clean", _.filter(col("keep").isNull), "keep flag missing"),
      expect("minhash", rows("minhash") == nDocs, s"${rows("minhash")} signatures for $nDocs docs"),
      expectNone(ctx, "lsh", "pairs", _.filter(col("l_doc") >= col("r_doc")), "pair not ordered"),
      expect("lsh", rd("pairs").select("l_doc", "r_doc").distinct().count() == rows("lsh"),
        "duplicate candidate pairs"),
      expect("components", comp.select("id").distinct().count() == rows("components"),
        "a document is in two components"),
      expect("dedup", rows("dedup") == nDocs, s"dedup has ${rows("dedup")} rows for $nDocs docs"),
      expectNone(ctx, "dedup", "dedup",
        _.groupBy("component").agg(sum(col("keep").cast("int")).as("k")).filter(col("k") =!= 1),
        "component without exactly one kept document"),
      expectNone(ctx, "dedup", "dedup",
        _.join(comp.withColumnRenamed("id", "doc_id").withColumnRenamed("component", "c"),
          Seq("doc_id")).filter(col("component") =!= col("c")),
        "dedup component differs from the components step"),
      expect("semantic", rows("semantic") == nVecs, s"${rows("semantic")} rows for $nVecs vectors")
    ).flatten

    // containment pairs against the catalog's DuckDB oracles on these docs
    rd("containment")
      .select(col("inner_doc"), col("outer_doc"), round(col("containment"), 6).as("containment"))
      .write.mode("overwrite").parquet(ctx.path("out/containment"))
    rd("containment_incr")
      .select(col("inner_doc"), col("outer_doc"), round(col("containment"), 6).as("containment"),
        col("side"))
      .write.mode("overwrite").parquet(ctx.path("out/containment_incr"))
    val duck =
      if (tiny) Nil
      else Seq(
        DuckCheck("containment", ctx.path("out/containment"),
          TextQueries.oracles("q_containment_join"), corpusDir),
        DuckCheck("containment_incr", ctx.path("out/containment_incr"),
          TextQueries.oracles("q_containment_incr"), corpusDir))
    CheckResult(failures, steps, duck)
  }

  override def layerCounts(ctx: Ctx): Map[String, Double] = {
    val pairs = ctx.spark.read.parquet(ctx.path("pairs"))
    val all = pairs.count()
    val ok = pairs.filter(col("jaccard") >= Jaccard).count()
    Map("operators.lsh.verified_ratio" -> ok.toDouble / math.max(1L, all))
  }
}
