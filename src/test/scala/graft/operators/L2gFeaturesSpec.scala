package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class L2gFeaturesSpec extends SparkSpec {

  import spark.implicits._

  private def coloc() = Seq(
    // left, right, gene, method, studyType, clpp, h4
    ("L1", "R1", "G1", "ECaviar", "eqtl", 0.3, 0.1),
    ("L1", "R2", "G1", "ECaviar", "eqtl", 0.7, 0.2), // max clpp for (L1,G1)
    ("L1", "R3", "G2", "coloc_pip_ecaviar", "eqtl", 0.5, 0.9), // combined method admitted
    ("L1", "R4", "G1", "Coloc", "eqtl", 0.9, 0.4), // wrong method for clpp feature
    ("L1", "R5", "G1", "ECaviar", "pqtl", 0.95, 0.5), // wrong qtl type
    ("L2", "R6", "G3", "Coloc", "pqtl", 0.1, 0.8),
    ("L2", "R7", null, "Coloc", "pqtl", 0.2, 0.99) // null gene dropped
  ).toDF(
    "leftStudyLocusId", "rightStudyLocusId", "rightGeneId",
    "colocalisationMethod", "rightStudyType", "clpp", "h4")

  private def loci() = Seq("L1", "L2").toDF("studyLocusId")

  test("coloc CLPP feature takes the max per (studyLocus, gene) with method+QTL filters") {
    val f = L2gFeatures
      .colocFeature(coloc(), loci(), "ECaviar", "clpp", "eqtl", "eQtlColocClppMaximum")
      .select("studyLocusId", "geneId", "featureValue")
      .as[(String, String, Double)].collect().toSet
    assert(f === Set(("L1", "G1", 0.7), ("L1", "G2", 0.5)))
  }

  test("coloc H4 feature via Coloc method") {
    val f = L2gFeatures
      .colocFeature(coloc(), loci(), "Coloc", "h4", "pqtl", "pQtlColocH4Maximum")
      .select("studyLocusId", "geneId", "featureValue")
      .as[(String, String, Double)].collect().toSet
    assert(f === Set(("L2", "G3", 0.8)))
  }

  test("allColocFeatures: golden rows for every feature from one pass") {
    val c = Seq[(String, String, String, String, String, Option[Double], Option[Double])](
      // combined method feeds both the CLPP and the H4 feature
      ("L1", "R1", "G1", "coloc_pip_ecaviar", "eqtl", Some(0.4), Some(0.6)),
      // mixed-case method and study type; not admitted to H4
      ("L1", "R2", "G1", "ECAVIAR", "EQtl", Some(0.5), Some(0.1)),
      // admitted with a null metric: the feature is present, its value null
      ("L1", "R3", "G2", "Coloc", "pQtl", Some(0.9), None),
      // null gene dropped
      ("L1", "R4", null, "eCAVIAR", "eqtl", Some(0.99), Some(0.99)),
      ("L2", "R5", "G3", "eCAVIAR", "sqtl", Some(0.2), Some(0.3)),
      // left locus not in studyLoci
      ("L9", "R6", "G1", "eCAVIAR", "eqtl", Some(0.8), Some(0.8)),
      // two right loci tie on H4
      ("L2", "R7", "G4", "Coloc", "eqtl", Some(0.1), Some(0.7)),
      ("L2", "R8", "G4", "Coloc", "eqtl", Some(0.2), Some(0.7)),
      // not a QTL type
      ("L2", "R9", "G4", "Coloc", "gwas", Some(0.5), Some(0.9))
    ).toDF(
      "leftStudyLocusId", "rightStudyLocusId", "rightGeneId",
      "colocalisationMethod", "rightStudyType", "clpp", "h4")
    val f = L2gFeatures.allColocFeatures(c, loci())
    assert(f.columns.toSeq === Seq("studyLocusId", "geneId", "featureName", "featureValue"))
    val got = f.as[(String, String, String, Option[Double])].collect()
    assert(got.length === got.toSet.size)
    assert(got.toSet === Set(
      ("L1", "G1", "eQtlColocClppMaximum", Some(0.5)),
      ("L1", "G1", "eQtlColocH4Maximum", Some(0.6)),
      ("L1", "G2", "pQtlColocH4Maximum", None),
      ("L2", "G3", "sQtlColocClppMaximum", Some(0.2)),
      ("L2", "G4", "eQtlColocH4Maximum", Some(0.7))))
  }

  test("dropTransEffects removes colocalisations whose right locus is a trans QTL") {
    val rightLoci = Seq(("R1", false), ("R2", true), ("R3", false), ("R4", false),
      ("R5", false), ("R6", false), ("R7", false)).toDF("studyLocusId", "isTransQtl")
    val cis = L2gFeatures.dropTransEffects(coloc(), rightLoci)
    assert(cis.count() === 6)
    assert(cis.filter(col("rightStudyLocusId") === "R2").count() === 0)
    // feature recomputed without the trans row: max falls back to 0.3
    val f = L2gFeatures
      .colocFeature(cis, loci(), "ECaviar", "clpp", "eqtl", "x")
      .select("studyLocusId", "geneId", "featureValue")
      .as[(String, String, Double)].collect().toSet
    assert(f === Set(("L1", "G1", 0.3), ("L1", "G2", 0.5)))
  }

  test("neighbourhood feature normalises by the regional max and zeroes dead regions") {
    val local = Seq(
      ("L1", "G1", "f", 0.8), ("L1", "G2", "f", 0.2),
      ("L2", "G3", "f", 0.0)
    ).toDF("studyLocusId", "geneId", "featureName", "featureValue")
    val out = L2gFeatures.neighbourhoodFeature(local, "fNeighbourhood")
      .select("studyLocusId", "geneId", "featureName", "featureValue")
      .as[(String, String, String, Double)].collect().toSet
    assert(out === Set(
      ("L1", "G1", "fNeighbourhood", 1.0),
      ("L1", "G2", "fNeighbourhood", 0.25),
      ("L2", "G3", "fNeighbourhood", 0.0)))
  }

  test("missing coloc genes extend to zero-valued features for neighbourhood normalisation") {
    val local = Seq(("L1", "G1", "f", 0.8)).toDF(
      "studyLocusId", "geneId", "featureName", "featureValue")
    val lut = Seq(("v1", "G1"), ("v1", "G2"), ("v2", "G9")).toDF("variantId", "geneId")
    val slv = Seq(("L1", "v1")).toDF("studyLocusId", "variantId")
    val out = L2gFeatures.extendMissingColocToNeighbourhoodGenes(local, lut, slv)
      .select("studyLocusId", "geneId", "featureValue")
      .as[(String, String, Double)].collect().toSet
    // G2 overlaps v1 but has no coloc → artificial zero; G9 isn't at the locus
    assert(out === Set(("L1", "G2", 0.0)))
  }

  test("distance feature: Mean weights by pp and sums, Sentinel takes the lead") {
    val tags = Seq(
      ("L1", "v1", 0.8), ("L1", "v2", 0.2)
    ).toDF("studyLocusId", "variantId", "posteriorProbability")
    val dist = Seq(("v1", "G1", 100000L), ("v2", "G1", 400000L))
      .toDF("variantId", "geneId", "distance")
    val w = 500000L
    val mean = L2gFeatures.distanceFeature(tags, dist, "distanceTssMean", w)
      .select("featureValue").as[Double].head()
    val expectedMean = math.log10((w - 100000 + 1) * 0.8 + (w - 400000 + 1) * 0.2) /
      math.log10(w + 1.0)
    assert(math.abs(mean - expectedMean) < 1e-12)
    val lead = tags.filter(col("variantId") === "v1")
    val sentinel = L2gFeatures.distanceFeature(lead, dist, "distanceSentinelTss", w)
      .select("featureValue").as[Double].head()
    val expectedSentinel = math.log10(w - 100000 + 1.0) / math.log10(w + 1.0)
    assert(math.abs(sentinel - expectedSentinel) < 1e-12)
  }

  test("VEP feature: Maximum takes max severity, Mean is pp-weighted") {
    val tags = Seq(("L1", "v1", 0.5), ("L1", "v2", 1.0))
      .toDF("studyLocusId", "variantId", "posteriorProbability")
    val cons = Seq(("v1", "G1", 0.9), ("v2", "G1", 0.3))
      .toDF("variantId", "geneId", "severityScore")
    val mx = L2gFeatures.vepFeature(tags, cons, "vepMaximum")
      .select("featureValue").as[Double].head()
    assert(mx === 0.9)
    val mean = L2gFeatures.vepFeature(tags, cons, "vepMean")
      .select("featureValue").as[Double].head()
    assert(math.abs(mean - (0.9 * 0.5 + 0.3 * 1.0) / 2) < 1e-12)
  }

  test("gene-count feature counts window genes once per locus, attached to each gene") {
    val loci = Seq(("L1", "1", 1000000L)).toDF("studyLocusId", "chromosome", "position")
    val genes = Seq(
      ("G1", "1", 900000L, "protein_coding"),
      ("G2", "1", 1200000L, "protein_coding"),
      ("G3", "1", 1100000L, "lncRNA"),
      ("G4", "1", 5000000L, "protein_coding"), // outside window
      ("G5", "2", 1000000L, "protein_coding") // wrong chromosome
    ).toDF("geneId", "chromosome", "tss", "biotype")
    val all = L2gFeatures.geneCountFeature(loci, genes, "geneCount500kb")
      .select("geneId", "featureValue").as[(String, Double)].collect().toSet
    assert(all === Set(("G1", 3.0), ("G2", 3.0), ("G3", 3.0)))
    val coding = L2gFeatures
      .geneCountFeature(loci, genes, "geneCountProtein", proteinCodingOnly = true)
      .select("geneId", "featureValue").as[(String, Double)].collect().toSet
    assert(coding === Set(("G1", 2.0), ("G2", 2.0)))
  }

  test("credible-set confidence scores match the reference mapping") {
    val got = Seq(
      "SuSiE fine-mapped credible set with in-sample LD",
      "SuSiE fine-mapped credible set with out-of-sample LD",
      "PICS fine-mapped credible set extracted from summary statistics",
      "PICS fine-mapped credible set based on reported top hit",
      "Unknown confidence"
    ).toDF("confidence")
      .select(L2gFeatures.credibleSetConfidenceScore(col("confidence")).as("s"))
      .as[Double].collect().toSeq
    assert(got === Seq(1.0, 0.75, 0.5, 0.25, 0.0))
  }

  test("E2G feature: bin join finds overlaps, max score per variant, pp-weighted sum, ratio neighbourhood") {
    val credset = Seq(
      // L1 has two variants on chr1; v1 overlaps iv1+iv2 (G1 takes max
      // score), v2 overlaps iv3 (G2); L2's variant overlaps nothing
      ("L1", "1", 120000L, 0.5),
      ("L1", "1", 180000L, 0.25),
      ("L2", "2", 900000L, 1.0),
      // below the pp floor: ignored
      ("L1", "1", 120000L, 0.0001)
    ).toDF("studyLocusId", "chromosome", "position", "posteriorProbability")
    val intervals = Seq(
      ("1", 100000L, 130000L, "G1", Some(0.4)), // iv1: v1 in range
      ("1", 110000L, 125000L, "G1", Some(0.8)), // iv2: v1 in range, higher
      ("1", 170000L, 190000L, "G2", Some(0.5)), // iv3: v2 in range
      ("1", 100000L, 130000L, "G3", None), // null score dropped
      // spans bins 0..3 — exploded over 4 bins, still matches v1 once
      ("1", 10000L, 160000L, "G4", Some(0.1))
    ).toDF("chromosome", "start", "end", "geneId", "score")
    val wide = L2gFeatures.e2gFeature(credset, intervals)
      .select("studyLocusId", "geneId", "e2gMean", "e2gMeanNeighbourhood")
      .as[(String, String, Double, Double)].collect().toSet
    // G1: max(0.4, 0.8) * 0.5 = 0.4; G2: 0.5 * 0.25 = 0.125; G4: 0.1 * 0.5 = 0.05
    assert(wide === Set(
      ("L1", "G1", 0.4, 1.0),
      ("L1", "G2", 0.125, 0.3125),
      ("L1", "G4", 0.05, 0.125)))
  }

  test("E2G feature caps interval fan-out at maxBinsPerInterval") {
    val credset = Seq(("L1", "1", 120000L, 1.0))
      .toDF("studyLocusId", "chromosome", "position", "posteriorProbability")
    val intervals = Seq(
      ("1", 0L, 100000000L, "G1", Some(1.0)), // 2001 bins > cap → dropped
      ("1", 100000L, 130000L, "G2", Some(0.5))
    ).toDF("chromosome", "start", "end", "geneId", "score")
    val got = L2gFeatures.e2gFeature(credset, intervals, maxBinsPerInterval = 2000)
      .select("geneId").as[String].collect().toSeq
    assert(got === Seq("G2"))
  }

  test("protein-coding feature flags genes by biotype, max across variants, bounded by window") {
    val credset = Seq(
      ("L1", "v1"), ("L1", "v2"), ("L2", "v3")
    ).toDF("studyLocusId", "variantId")
    val giw = Seq(
      ("v1", "G1", "protein_coding", 1000L),
      ("v2", "G1", "lncRNA", 2000L), // same gene, mixed biotype → max wins
      ("v1", "G2", "lncRNA", 3000L),
      ("v3", "G3", "protein_coding", 600000L) // beyond 500 kb window
    ).toDF("variantId", "geneId", "biotype", "distanceFromFootprint")
    val got = L2gFeatures.proteinCodingFeature(credset, giw)
      .select("studyLocusId", "geneId", "featureValue")
      .as[(String, String, Double)].collect().toSet
    assert(got === Set(("L1", "G1", 1.0), ("L1", "G2", 0.0)))
  }

  test("neighbourhood feature clamps to [0,1] when asked (distance family)") {
    val long = Seq(
      ("L1", "G1", "d", -2.0), ("L1", "G2", "d", 4.0)
    ).toDF("studyLocusId", "geneId", "featureName", "featureValue")
    val got = L2gFeatures.neighbourhoodFeature(long, "dN", clamp = true)
      .select("geneId", "featureValue")
      .as[(String, Double)].collect().toMap
    assert(got === Map("G1" -> 0.0, "G2" -> 1.0))
  }

  test("feature matrix pivots the long features with a bounded name list") {
    val long = Seq(
      ("L1", "G1", "a", 0.5), ("L1", "G1", "b", 0.9), ("L2", "G2", "a", 0.1)
    ).toDF("studyLocusId", "geneId", "featureName", "featureValue")
    val m = L2gFeatures.featureMatrix(long, Seq("a", "b"))
      .select("studyLocusId", "geneId", "a", "b")
      .as[(String, String, Option[Double], Option[Double])].collect().toSet
    assert(m === Set(
      ("L1", "G1", Some(0.5), Some(0.9)),
      ("L2", "G2", Some(0.1), None)))
  }
}
