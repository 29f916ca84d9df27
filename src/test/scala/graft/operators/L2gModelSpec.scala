package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class L2gModelSpec extends SparkSpec {

  test("GBT trains on a separable feature matrix and ranks positives higher") {
    import spark.implicits._
    // label = 1 iff f1 > 0.5, plus a noise feature
    val data = (0 until 400).map { i =>
      val f1 = (i % 100) / 100.0
      val f2 = ((i * 7) % 13) / 13.0
      (if (f1 > 0.5) 1.0 else 0.0, f1, f2)
    }.toDF("goldStandardSet", "f1", "f2")
    val model = L2gModel.train(data, Seq("f1", "f2"), maxIter = 10)
    val scored = L2gModel.score(model, data, Seq("f1", "f2"))
    val avgByLabel = scored.groupBy("goldStandardSet").agg(avg("score").as("s"))
      .as[(Double, Double)].collect().toMap
    assert(avgByLabel(1.0) > 0.9)
    assert(avgByLabel(0.0) < 0.1)
    assert(scored.columns.contains("score") && !scored.columns.contains("features"))
  }

  test("score golden: ranking recovers the generative signal (Spearman ≥ 0.95) and retraining is bit-deterministic") {
    import spark.implicits._
    // Generative model: P(label=1 | f1) = f1 over the whole range (label
    // compares f1 to a deterministic pseudo-uniform draw), so the fitted
    // probability must be ~monotone in f1 everywhere — a hard-threshold
    // label would let the GBM collapse to a step function whose flat sides
    // tie out the ranking. Depth is bounded so leaves average
    // neighbourhoods instead of memorising rows. This is the
    // offline-feasible analogue of a cross-engine sklearn-GBM Spearman
    // golden (sklearn is unavailable in this container — divergence
    // documented in COVERAGE.md).
    val data = (0 until 400).map { i =>
      val f1 = i / 400.0
      val f2 = ((i * 7) % 13) / 13.0
      val u = ((i * 137 + 29) % 400) / 400.0
      (i.toLong, if (u < f1) 1.0 else 0.0, f1, f2)
    }.toDF("id", "goldStandardSet", "f1", "f2")
    val model = L2gModel.train(data, Seq("f1", "f2"), maxIter = 20, maxDepth = 3)
    val scored = L2gModel.score(model, data, Seq("f1", "f2"))
      .select("id", "f1", "score").as[(Long, Double, Double)].collect().sortBy(_._1)

    def ranks(xs: Array[Double]): Array[Double] = {
      val sorted = xs.zipWithIndex.sortBy(_._1)
      val out = new Array[Double](xs.length)
      var i = 0
      while (i < sorted.length) {
        var j = i
        while (j + 1 < sorted.length && sorted(j + 1)._1 == sorted(i)._1) j += 1
        val avg = (i + j) / 2.0 + 1
        (i to j).foreach(k => out(sorted(k)._2) = avg)
        i = j + 1
      }
      out
    }
    def pearson(a: Array[Double], b: Array[Double]): Double = {
      val ma = a.sum / a.length; val mb = b.sum / b.length
      val cov = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
      val va = math.sqrt(a.map(x => (x - ma) * (x - ma)).sum)
      val vb = math.sqrt(b.map(y => (y - mb) * (y - mb)).sum)
      cov / (va * vb)
    }
    val spearman = pearson(ranks(scored.map(_._2)), ranks(scored.map(_._3)))
    assert(spearman >= 0.95, s"Spearman(score, generative f1) = $spearman")

    // bit-determinism: same data + seed → identical model scores
    val again = L2gModel.score(
      L2gModel.train(data, Seq("f1", "f2"), maxIter = 20, maxDepth = 3),
      data, Seq("f1", "f2"))
      .select("id", "score").as[(Long, Double)].collect().sortBy(_._1)
    assert(again.map(_._2).sameElements(scored.map(_._3)),
      "retraining with the same seed must reproduce scores bit-exactly")
  }

  test("evaluation metrics and cross-validated training on separable data") {
    import spark.implicits._
    val data = (0 until 200).map { i =>
      val f1 = (i % 100) / 100.0
      val f2 = ((i * 7) % 13) / 13.0
      (if (f1 > 0.5) 1.0 else 0.0, f1, f2)
    }.toDF("goldStandardSet", "f1", "f2")
    val model = L2gModel.trainWithCv(
      data, Seq("f1", "f2"), numFolds = 3,
      maxDepthGrid = Seq(3), maxIterGrid = Seq(5, 10))
    val scored = L2gModel.score(model, data, Seq("f1", "f2"))
    val metrics = L2gModel.evaluate(scored)
    assert(metrics("areaUnderROC") > 0.99, metrics.toString)
    assert(metrics("averagePrecision") > 0.99, metrics.toString)
  }

  test("path attribution is additive-exact: explain score equals model probability") {
    import spark.implicits._
    val data = (0 until 400).map { i =>
      val f1 = (i % 100) / 100.0
      val f2 = ((i * 7) % 13) / 13.0
      (if (f1 > 0.5) 1.0 else 0.0, f1, f2)
    }.toDF("goldStandardSet", "f1", "f2")
    val model = L2gModel.train(data, Seq("f1", "f2"), maxIter = 10)
    val scored = L2gModel.score(model, data, Seq("f1", "f2"))
      .select(col("f1"), col("f2"), col("score").as("model_score"))
    val explained = L2gModel.explain(model, scored, Seq("f1", "f2"))
    val rows = explained
      .select("model_score", "score", "shapBaseValue", "features")
      .as[(Double, Double, Double, Seq[(String, Double, Double)])]
      .collect()
    rows.foreach { case (modelScore, explainScore, base, feats) =>
      assert(math.abs(modelScore - explainScore) < 1e-9, "additivity broken")
      assert(feats.map(_._1) === Seq("f1", "f2"))
    }
    // the decisive feature carries (much) more attribution mass than noise
    val massByFeature = rows
      .flatMap(_._4)
      .groupBy(_._1)
      .view.mapValues(_.map(x => math.abs(x._3)).sum)
      .toMap
    assert(massByFeature("f1") > 10 * massByFeature("f2"))
  }

  test("save/load round-trips the model and enforces the feature contract") {
    import spark.implicits._
    val data = (0 until 200).map { i =>
      val f1 = (i % 100) / 100.0
      val f2 = ((i * 7) % 13) / 13.0
      (if (f1 > 0.5) 1.0 else 0.0, f1, f2)
    }.toDF("goldStandardSet", "f1", "f2")
    val model = L2gModel.train(data, Seq("f1", "f2"), maxIter = 5)
    val dir = graft.core.TempRoot.jvm.dir("l2g-model").toString
    L2gModel.save(spark, model, Seq("f1", "f2"), dir)
    val (loaded, features) = L2gModel.load(spark, dir, Seq("f1", "f2"))
    assert(features === Seq("f1", "f2"))
    // identical scores from the reloaded model
    val orig = L2gModel.score(model, data, Seq("f1", "f2"))
      .select("score").as[Double].collect()
    val rt = L2gModel.score(loaded, data, features)
      .select("score").as[Double].collect()
    assert(orig.zip(rt).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    // wrong feature list fails fast instead of permuting the vector
    intercept[IllegalArgumentException] {
      L2gModel.load(spark, dir, Seq("f2", "f1"))
    }
  }

  test("hierarchicalSplit never leaks a studyLocusId across the split and routes negatives with their locus (trainer.py:507-630)") {
    import spark.implicits._
    // 40 genes × 2 loci each; positives on both loci, one negative per locus
    val rows = for {
      g <- 1 to 40
      l <- 0 to 1
      lbl <- Seq(1, 0)
    } yield (s"G$g", s"SL${g}_$l", lbl.toDouble, g * 10.0 + l)
    val df = rows.toDF("geneId", "studyLocusId", "goldStandardSet", "f1")
    val (train, test) = L2gModel.hierarchicalSplit(df, testSize = 0.3)
    val trainLoci = train.select("studyLocusId").as[String].collect().toSet
    val testLoci = test.select("studyLocusId").as[String].collect().toSet
    assert(trainLoci.intersect(testLoci).isEmpty, "studyLocusId leaked across the split")
    assert(testLoci.nonEmpty && trainLoci.nonEmpty)
    // negatives ride with their locus: per-locus row count is preserved
    val perLocus = df.groupBy("studyLocusId").count().as[(String, Long)].collect().toMap
    val trainCounts = train.groupBy("studyLocusId").count().as[(String, Long)].collect().toMap
    assert(trainCounts.forall { case (l, n) => perLocus(l) == n })
    // determinism: the same call reproduces the same split
    val (train2, _) = L2gModel.hierarchicalSplit(df, testSize = 0.3)
    assert(train2.select("studyLocusId").as[String].collect().toSet === trainLoci)
  }
}
