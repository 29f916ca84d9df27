package graft.harness

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, IntegerType, StringType}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Colocalisation, CredibleSets, Overlaps, SumstatQC}

/** Oracle-checked queries for the colocalisation pipeline (overlaps,
  * eCAVIAR, COLOC), credible-set annotation, and the per-study sumstats QC
  * aggregate suite.
  */
object ColocQueries {
  import Tables._

  /** Synthetic credible sets: (locus, tag) pairs from a quarter of lineitem,
    * every statistic a pure function of (orderkey, partkey) and the
    * projection distinct — so arrays and window orders are deterministic.
    */
  def synthCredsets(s: SparkSession, d: String): DataFrame = {
    val q = lit(1) + (col("l_orderkey") * 7 + col("l_partkey") * 31) % 97
    val base = lineitem(s, d)
      .filter(col("l_orderkey") % 4 === 0)
      .select(
        concat(lit("L"), col("l_orderkey").cast(StringType)).as("studyLocusId"),
        when(col("l_orderkey") % 2 === 0, "gwas").otherwise("eqtl").as("studyType"),
        (col("l_partkey") % 8).cast(StringType).as("chromosome"),
        concat(lit("v"), col("l_partkey").cast(StringType)).as("tagVariantId"),
        q.cast(IntegerType).as("q")
      )
      // Pre-partition on the pp-window's key BEFORE the dedup:
      // HashPartitioning(studyLocusId) satisfies the all-column distinct's
      // clustering (subset-key satisfaction), the pp window right below,
      // AND credsetAnnotation's groupBy(studyLocusId) — one exchange for
      // the whole chain instead of distinct-by-all-columns plus a window
      // re-shuffle (guide §2.4; round-18 verdict item 5: plan nodes 5+7
      // were two stacked full-data exchanges feeding one window).
      .repartition(col("studyLocusId"))
      .distinct()
    base
      .withColumn(
        "pp",
        col("q") / sum(col("q")).over(Window.partitionBy("studyLocusId")).cast("double")
      )
      .withColumn("logBF", col("q") / 10.0)
      .withColumn("beta", ((col("q") % 21) - 10) / 10.0)
      .withColumn("pValueMantissa", (lit(1) + (col("q") % 89) / 10.0).cast(FloatType))
      .withColumn("pValueExponent", (-(lit(2) + col("q") % 30)).cast(IntegerType))
  }

  private def explodedForOverlap(s: SparkSession, d: String): DataFrame =
    synthCredsets(s, d).select(
      col("studyLocusId"), col("studyType"), col("chromosome"), col("tagVariantId"),
      lit(null).cast(StringType).as("studyId"), lit(null).cast(StringType).as("region"),
      col("logBF"), col("pp").as("posteriorProbability"), col("beta"),
      col("pValueMantissa"), col("pValueExponent")
    )

  // The aligned-overlap chain shared by q_coloc, q_coloc_pip and q_ecaviar,
  // built fresh per query and never persisted: each consumer reads it once,
  // and AQE's runtime stage reuse computes the chain's duplicated subtrees
  // (credset distinct + window, the peaks self-join sides) once per query.
  // A MEMORY_AND_DISK persist measured slower (round 18, best-of-4: q_coloc
  // 10.0 s persisted vs 5.2 s plain; round 19: 15-25 % more executor CPU
  // on all three consumers). A caller wanting cross-query reuse can
  // persist the returned frame itself.
  private def alignedOverlaps(s: SparkSession, d: String): DataFrame = {
    val exploded = explodedForOverlap(s, d)
    Overlaps.alignOverlappingTags(exploded, Overlaps.overlappingPeaks(exploded))
  }

  /** Overlapping-peak pair table (self-join on chromosome + tag). */
  def overlaps(s: SparkSession, d: String): DataFrame = {
    val e = explodedForOverlap(s, d)
    Overlaps.overlappingPeaks(e)
  }

  /** eCAVIAR CLPP per overlap pair + beta-ratio sign average. */
  def ecaviar(s: SparkSession, d: String): DataFrame =
    Colocalisation.ecaviar(alignedOverlaps(s, d))
      .withColumn("clpp", round(col("clpp"), 6))
      .withColumn("betaRatioSignAverage", round(col("betaRatioSignAverage"), 6))

  /** COLOC H0–H4 posteriors per overlap pair. */
  def coloc(s: SparkSession, d: String): DataFrame = {
    val r = Colocalisation.coloc(alignedOverlaps(s, d))
    Seq("h0", "h1", "h2", "h3", "h4")
      .foldLeft(r)((df, h) => df.withColumn(h, round(col(h), 6)))
      .withColumn("betaRatioSignAverage", round(col("betaRatioSignAverage"), 6))
      .drop("colocalisationMethod")
  }

  /** COLOC-PIP approximate posteriors (H3/H4 only). */
  def colocPip(s: SparkSession, d: String): DataFrame = {
    val r = Colocalisation.colocPip(alignedOverlaps(s, d))
    Seq("h3", "h4").foldLeft(r)((df, h) => df.withColumn(h, round(col(h), 6)))
      .withColumn("betaRatioSignAverage", round(col("betaRatioSignAverage"), 6))
      .drop("colocalisationMethod", "h0", "h1", "h2")
  }

  /** Credible-set 95/99% annotation HOF chain, exploded back to long form. */
  def credsetAnnotation(s: SparkSession, d: String): DataFrame = {
    val locus = synthCredsets(s, d)
      .groupBy("studyLocusId")
      .agg(
        collect_list(
          struct(col("tagVariantId").as("variantId"), col("pp").as("posteriorProbability"))
        ).as("locus")
      )
    CredibleSets
      .annotateCredibleSets(locus, tieBreakField = Some("variantId"))
      .select(col("studyLocusId"), explode(col("locus")).as("tag"))
      .select(
        col("studyLocusId"),
        col("tag.variantId").as("variantId"),
        col("tag.posteriorProbability").as("pp"),
        col("tag.is95CredibleSet").as("is95"),
        col("tag.is99CredibleSet").as("is99")
      )
  }

  private def synthGwas(s: SparkSession, d: String): DataFrame =
    GenomicQueries.synthSumstats(s, d).df

  def gcLambda(s: SparkSession, d: String): DataFrame =
    SumstatQC.gcLambda(synthGwas(s, d))
      .withColumn("gc_lambda", round(col("gc_lambda"), 6))

  def pz(s: SparkSession, d: String): DataFrame =
    SumstatQC.pzTest(synthGwas(s, d))
      .withColumn("mean_diff_pz", round(col("mean_diff_pz"), 6))
      .withColumn("se_diff_pz", round(col("se_diff_pz"), 6))

  def meanBeta(s: SparkSession, d: String): DataFrame =
    SumstatQC.meanBeta(synthGwas(s, d))
      .withColumn("mean_beta", round(col("mean_beta"), 8))

  def variantCounts(s: SparkSession, d: String): DataFrame =
    SumstatQC.variantCounts(synthGwas(s, d))

  /** The SummaryStatisticsQC wide-frame composition (operators/SumstatQC
    * .fromSummaryStatistics; reference dataset/summary_statistics_qc.py:
    * 76-139): the four per-study checks in one aggregation. The PZ columns
    * are projected away for the compare — their chi²-sf kernel has no
    * DuckDB counterpart (q_pz_test covers them with a scipy-pinned golden);
    * the oracle, which outer-joins the checks as the reference does, checks
    * the three SQL-expressible ones.
    */
  def sumstatComposite(s: SparkSession, d: String): DataFrame =
    SumstatQC.fromSummaryStatistics(synthGwas(s, d))
      .select(
        col("studyId"),
        round(col("mean_beta"), 8).as("mean_beta"),
        round(col("gc_lambda"), 6).as("gc_lambda"),
        col("n_variants"),
        col("n_variants_sig"))

  /** Study-metadata append onto the coloc frame + study-type LUT annotation
    * (operators/Colocalisation.appendStudyMetadata + datasets/StudyLocus
    * .annotateStudyType; reference dataset/colocalisation.py:130-181,
    * study_locus.py:233-249, study_index.py:226-232): the right side gets
    * (studyType, projectId) through the studyLocus bridge with
    * rightStudyType replaced; the left side gets its type from the LUT.
    */
  def colocMetadata(s: SparkSession, d: String): DataFrame = {
    val o = col("o_orderkey")
    val colocDf = orders(s, d).select(
      concat(lit("L"), (o % 200).cast(StringType)).as("leftStudyLocusId"),
      concat(lit("R"), (o % 300).cast(StringType)).as("rightStudyLocusId"),
      (o % 5).cast(StringType).as("chromosome"),
      lit("stale").as("rightStudyType"), // must be replaced by the append
      round((o % 100) / lit(100.0), 6).as("h4")
    ).distinct()
    val p = col("p_partkey")
    val bridge = part(s, d).select(
      concat(lit("R"), (p % 300).cast(StringType)).as("studyLocusId"),
      concat(lit("S"), ((p % 300) * 7 % 40).cast(StringType)).as("studyId")
    ).unionByName(part(s, d).select(
      concat(lit("L"), (p % 200).cast(StringType)).as("studyLocusId"),
      concat(lit("S"), ((p % 200) * 3 % 40).cast(StringType)).as("studyId")
    )).distinct()
    val u = col("s_suppkey") % 40
    val studyIndex = supplier(s, d).select(
      concat(lit("S"), u.cast(StringType)).as("studyId"),
      when(u % 3 === 0, "gwas").when(u % 3 === 1, "eqtl").otherwise(lit("pqtl"))
        .as("studyType"),
      concat(lit("P"), (u % 7).cast(StringType)).as("projectId")
    ).distinct()
    val appended = Colocalisation.appendStudyMetadata(
      colocDf, bridge, studyIndex, Seq("studyType", "projectId"), "right")
    val leftTyped = graft.datasets.StudyLocus(bridge)
      .annotateStudyType(studyIndex).df
      .select(
        col("studyLocusId").as("leftStudyLocusId"),
        col("studyType").as("leftStudyType"))
      .distinct()
    appended.join(leftTyped, Seq("leftStudyLocusId"), "left")
      .select(
        col("leftStudyLocusId"), col("rightStudyLocusId"), col("chromosome"),
        col("h4"), col("rightStudyId"), col("rightStudyType"),
        col("rightProjectId"), col("leftStudyType"))
  }

  // -- oracles ---------------------------------------------------------------

  /** Shared credset + aligned-overlap SQL prefix. */
  private val CredsetSql =
    """raw AS (
      |  SELECT DISTINCT 'L' || CAST(l_orderkey AS VARCHAR) AS studyLocusId,
      |    CASE WHEN l_orderkey % 2 = 0 THEN 'gwas' ELSE 'eqtl' END AS studyType,
      |    CAST(l_partkey % 8 AS VARCHAR) AS chromosome,
      |    'v' || CAST(l_partkey AS VARCHAR) AS tagVariantId,
      |    CAST(1 + (l_orderkey * 7 + l_partkey * 31) % 97 AS INTEGER) AS q
      |  FROM lineitem WHERE l_orderkey % 4 = 0),
      |cs AS (SELECT *,
      |    q / CAST(sum(q) OVER (PARTITION BY studyLocusId) AS DOUBLE) AS pp,
      |    q / 10.0 AS logBF, ((q % 21) - 10) / 10.0 AS beta
      |  FROM raw)""".stripMargin

  private val PeaksSql =
    s"""$CredsetSql,
       |peaks AS (
       |  SELECT DISTINCT l.studyLocusId AS leftStudyLocusId, r.studyLocusId AS rightStudyLocusId,
       |    r.studyType AS rightStudyType, l.chromosome AS chromosome
       |  FROM cs l JOIN cs r ON l.chromosome = r.chromosome AND l.tagVariantId = r.tagVariantId
       |    AND (r.studyType <> 'gwas' OR l.studyLocusId > r.studyLocusId)
       |    AND l.studyType = 'gwas')""".stripMargin

  private val AlignedSql =
    s"""$PeaksSql,
       |lft AS (SELECT p.leftStudyLocusId, p.rightStudyLocusId, p.rightStudyType, p.chromosome,
       |    c.tagVariantId, c.logBF AS left_logBF, c.pp AS left_pp, c.beta AS left_beta
       |  FROM peaks p JOIN cs c ON c.studyLocusId = p.leftStudyLocusId AND c.chromosome = p.chromosome),
       |rgt AS (SELECT p.leftStudyLocusId, p.rightStudyLocusId, p.rightStudyType, p.chromosome,
       |    c.tagVariantId, c.logBF AS right_logBF, c.pp AS right_pp, c.beta AS right_beta
       |  FROM peaks p JOIN cs c ON c.studyLocusId = p.rightStudyLocusId AND c.chromosome = p.chromosome),
       |al AS (SELECT * FROM lft
       |  FULL JOIN rgt USING (chromosome, rightStudyLocusId, leftStudyLocusId, tagVariantId, rightStudyType))""".stripMargin

  private val BetaRatioSql =
    """br AS (SELECT leftStudyLocusId, rightStudyLocusId, chromosome,
      |    round(avg(CASE WHEN left_beta / right_beta > 0 THEN 1.0
      |                   WHEN left_beta / right_beta < 0 THEN -1.0 ELSE 0.0 END), 6) AS betaRatioSignAverage
      |  FROM al
      |  WHERE left_beta IS NOT NULL AND right_beta IS NOT NULL AND left_beta <> 0 AND right_beta <> 0
      |  GROUP BY 1, 2, 3)""".stripMargin

  private val GwasSql =
    """gw AS (SELECT DISTINCT 's' || CAST(l_suppkey % 10 AS VARCHAR) AS studyId,
      |    ((((l_orderkey * 8 + l_linenumber) * 2654435761) % 1000000007) % 1000) / 1000.0 - 0.5 AS beta,
      |    0.01 + ((((l_orderkey * 8 + l_linenumber) * 2654435761) % 1000000007) % 100) / 1000.0 AS se,
      |    CAST(1.0 + (((l_orderkey * 8 + l_linenumber) * 2654435761) % 1000000007) % 700 / 100.0 AS REAL) AS pValueMantissa,
      |    CAST(-(4 + (((l_orderkey * 8 + l_linenumber) * 2654435761) % 1000000007) % 13) AS INTEGER) AS pValueExponent,
      |    CAST(((l_orderkey * 8 + l_linenumber) * 2654435761) % 1000000007 AS INTEGER) AS position,
      |    CAST(1 + l_partkey % 4 AS VARCHAR) AS chromosome
      |  FROM lineitem)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_overlaps" -> (overlaps _),
    "q_ecaviar" -> (ecaviar _),
    "q_coloc" -> (coloc _),
    "q_coloc_pip" -> (colocPip _),
    "q_credset_annot" -> (credsetAnnotation _),
    "q_gc_lambda" -> (gcLambda _),
    "q_pz_test" -> (pz _),
    "q_mean_beta" -> (meanBeta _),
    "q_variant_counts" -> (variantCounts _),
    "q_sumstat_qc" -> (sumstatComposite _),
    "q_coloc_metadata" -> (colocMetadata _)
  )

  val oracles: Map[String, String] = Map(
    "q_coloc_metadata" ->
      """WITH c AS (SELECT DISTINCT 'L' || CAST(o_orderkey % 200 AS VARCHAR) AS l,
        |    'R' || CAST(o_orderkey % 300 AS VARCHAR) AS r,
        |    CAST(o_orderkey % 5 AS VARCHAR) AS chrom,
        |    round((o_orderkey % 100) / 100.0, 6) AS h4
        |  FROM orders),
        |br AS (SELECT DISTINCT 'R' || CAST(p_partkey % 300 AS VARCHAR) AS slid,
        |    'S' || CAST((p_partkey % 300) * 7 % 40 AS VARCHAR) AS sid FROM part
        |  UNION
        |  SELECT DISTINCT 'L' || CAST(p_partkey % 200 AS VARCHAR),
        |    'S' || CAST((p_partkey % 200) * 3 % 40 AS VARCHAR) FROM part),
        |si AS (SELECT DISTINCT 'S' || CAST(s_suppkey % 40 AS VARCHAR) AS sid,
        |    CASE (s_suppkey % 40) % 3 WHEN 0 THEN 'gwas' WHEN 1 THEN 'eqtl'
        |         ELSE 'pqtl' END AS stype,
        |    'P' || CAST((s_suppkey % 40) % 7 AS VARCHAR) AS proj
        |  FROM supplier),
        |meta AS (SELECT br.slid, br.sid, si.stype, si.proj
        |  FROM br JOIN si ON br.sid = si.sid)
        |SELECT c.l AS "leftStudyLocusId", c.r AS "rightStudyLocusId",
        |  c.chrom AS chromosome, c.h4,
        |  mr.sid AS "rightStudyId", mr.stype AS "rightStudyType",
        |  mr.proj AS "rightProjectId", ml.stype AS "leftStudyType"
        |FROM c
        |LEFT JOIN meta mr ON mr.slid = c.r
        |LEFT JOIN meta ml ON ml.slid = c.l""".stripMargin,
    "q_overlaps" ->
      s"""WITH $PeaksSql
         |SELECT leftStudyLocusId, rightStudyLocusId, rightStudyType, chromosome FROM peaks""".stripMargin,
    "q_ecaviar" ->
      s"""WITH $AlignedSql,
         |$BetaRatioSql,
         |ecv AS (SELECT leftStudyLocusId, rightStudyLocusId, rightStudyType, chromosome,
         |    CAST(sum(CASE WHEN left_pp IS NOT NULL AND right_pp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS numberColocalisingVariants,
         |    round(sum(left_pp * right_pp), 6) AS clpp
         |  FROM al GROUP BY 1, 2, 3, 4)
         |SELECT e.*, 'eCAVIAR' AS colocalisationMethod, br.betaRatioSignAverage
         |FROM ecv e LEFT JOIN br USING (leftStudyLocusId, rightStudyLocusId, chromosome)""".stripMargin,
    "q_coloc" ->
      s"""WITH $AlignedSql,
         |$BetaRatioSql,
         |prep AS (SELECT chromosome, leftStudyLocusId, rightStudyLocusId, rightStudyType,
         |    CASE WHEN left_pp IS NOT NULL AND right_pp IS NOT NULL THEN 'both'
         |         WHEN left_pp IS NOT NULL THEN 'left' ELSE 'right' END AS src,
         |    coalesce(left_logBF, 0.0) AS lbf, coalesce(right_logBF, 0.0) AS rbf,
         |    coalesce(left_pp, 0.0) AS lpp, coalesce(right_pp, 0.0) AS rpp,
         |    coalesce(left_logBF, 0.0) + coalesce(right_logBF, 0.0) AS sbf
         |  FROM al),
         |m AS (SELECT chromosome, leftStudyLocusId, rightStudyLocusId, rightStudyType,
         |    max(lbf) AS ml, max(rbf) AS mr, max(sbf) AS ms,
         |    CAST(sum(CASE WHEN src = 'both' THEN 1 ELSE 0 END) AS BIGINT) AS ncv,
         |    max(CASE WHEN src = 'both' AND lpp > 0 AND rpp > 0 THEN 1 ELSE 0 END) AS anyhigh
         |  FROM prep GROUP BY 1, 2, 3, 4),
         |g AS (SELECT p.chromosome, p.leftStudyLocusId, p.rightStudyLocusId, p.rightStudyType,
         |    any_value(m.ncv) AS ncv, any_value(m.anyhigh) AS anyhigh,
         |    any_value(m.ml) + ln(sum(exp(p.lbf - m.ml))) AS logsum1,
         |    any_value(m.mr) + ln(sum(exp(p.rbf - m.mr))) AS logsum2,
         |    any_value(m.ms) + ln(sum(exp(p.sbf - m.ms))) AS logsum12
         |  FROM prep p JOIN m USING (chromosome, leftStudyLocusId, rightStudyLocusId, rightStudyType)
         |  GROUP BY 1, 2, 3, 4),
         |f AS (SELECT *,
         |    0.0 AS lh0, ln(0.0001) + logsum1 AS lh1, ln(0.0001) + logsum2 AS lh2,
         |    CASE WHEN logsum1 + logsum2 = logsum12 THEN ln(0.0001) + ln(0.0001) + 1e-10
         |         ELSE ln(0.0001) + ln(0.0001) + greatest(logsum1 + logsum2, logsum12)
         |           + ln(exp(logsum1 + logsum2 - greatest(logsum1 + logsum2, logsum12))
         |               - exp(logsum12 - greatest(logsum1 + logsum2, logsum12))) END AS lh3,
         |    ln(0.00001) + logsum12 AS lh4
         |  FROM g WHERE ncv > 0 OR anyhigh = 1),
         |post AS (SELECT *, greatest(lh0, lh1, lh2, lh3, lh4) AS mxa FROM f),
         |post2 AS (SELECT *, mxa + ln(exp(lh0-mxa) + exp(lh1-mxa) + exp(lh2-mxa) + exp(lh3-mxa) + exp(lh4-mxa)) AS lse FROM post)
         |SELECT leftStudyLocusId, rightStudyLocusId, rightStudyType, chromosome,
         |  ncv AS numberColocalisingVariants,
         |  round(exp(lh0 - lse), 6) AS h0, round(exp(lh1 - lse), 6) AS h1,
         |  round(exp(lh2 - lse), 6) AS h2, round(exp(lh3 - lse), 6) AS h3,
         |  round(exp(lh4 - lse), 6) AS h4,
         |  br.betaRatioSignAverage
         |FROM post2 LEFT JOIN br USING (leftStudyLocusId, rightStudyLocusId, chromosome)""".stripMargin,
    "q_coloc_pip" ->
      s"""WITH $AlignedSql,
         |$BetaRatioSql,
         |prep AS (SELECT chromosome, leftStudyLocusId, rightStudyLocusId, rightStudyType,
         |    CASE WHEN left_pp IS NOT NULL AND right_pp IS NOT NULL THEN 1 ELSE 0 END AS is_both,
         |    ln(greatest(coalesce(left_pp, 1e-16), 1e-16)) AS lp,
         |    ln(greatest(coalesce(right_pp, 1e-16), 1e-16)) AS rp
         |  FROM al),
         |m AS (SELECT chromosome, leftStudyLocusId, rightStudyLocusId, rightStudyType,
         |    CAST(sum(is_both) AS BIGINT) AS ncv,
         |    max(lp) AS ml, max(rp) AS mr, max(lp + rp) AS mb FROM prep GROUP BY 1, 2, 3, 4),
         |g AS (SELECT p.chromosome, p.leftStudyLocusId, p.rightStudyLocusId, p.rightStudyType,
         |    any_value(m.ncv) AS ncv,
         |    any_value(m.ml) + ln(sum(exp(p.lp - m.ml))) AS s1,
         |    any_value(m.mr) + ln(sum(exp(p.rp - m.mr))) AS s2,
         |    any_value(m.mb) + ln(sum(exp(p.lp + p.rp - m.mb))) AS sb
         |  FROM prep p JOIN m USING (chromosome, leftStudyLocusId, rightStudyLocusId, rightStudyType)
         |  GROUP BY 1, 2, 3, 4),
         |f AS (SELECT *,
         |    CASE WHEN greatest(exp(s1 + s2 - greatest(s1 + s2, sb)) - exp(sb - greatest(s1 + s2, sb)), 0) = 0
         |         THEN ln(0.0001) + ln(0.0001) + CAST('-infinity' AS DOUBLE)
         |         ELSE ln(0.0001) + ln(0.0001) + greatest(s1 + s2, sb)
         |           + ln(greatest(exp(s1 + s2 - greatest(s1 + s2, sb)) - exp(sb - greatest(s1 + s2, sb)), 0)) END AS pp3r,
         |    ln(0.00001) + sb AS pp4r
         |  FROM g),
         |n AS (SELECT *, greatest(pp3r, pp4r) AS mxx FROM f)
         |SELECT leftStudyLocusId, rightStudyLocusId, rightStudyType, chromosome,
         |  n.ncv AS numberColocalisingVariants,
         |  round(exp(pp3r - (mxx + ln(exp(pp3r - mxx) + exp(pp4r - mxx)))), 6) AS h3,
         |  round(exp(pp4r - (mxx + ln(exp(pp3r - mxx) + exp(pp4r - mxx)))), 6) AS h4,
         |  br.betaRatioSignAverage
         |FROM n LEFT JOIN br USING (leftStudyLocusId, rightStudyLocusId, chromosome)""".stripMargin,
    "q_credset_annot" ->
      s"""WITH $CredsetSql,
         |cum AS (SELECT studyLocusId, tagVariantId AS variantId, pp,
         |    coalesce(sum(pp) OVER (PARTITION BY studyLocusId ORDER BY pp DESC, tagVariantId ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cum_before
         |  FROM cs)
         |SELECT studyLocusId, variantId, pp, cum_before < 0.95 AS is95, cum_before < 0.99 AS is99
         |FROM cum""".stripMargin,
    "q_gc_lambda" ->
      s"""WITH $GwasSql
         |SELECT studyId, round(quantile_disc((beta / se) * (beta / se), 0.5) / ${SumstatQC.Chi2MedianNull}, 6) AS gc_lambda
         |FROM gw GROUP BY studyId""".stripMargin,
    "q_mean_beta" ->
      s"""WITH $GwasSql
         |SELECT studyId, round(avg(beta), 8) AS mean_beta FROM gw GROUP BY studyId""".stripMargin,
    "q_variant_counts" ->
      s"""WITH $GwasSql
         |SELECT studyId, count(*) AS n_variants,
         |  CAST(sum(CASE WHEN pValueExponent < -8 OR (pValueExponent = -8 AND pValueMantissa <= 5.0)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_variants_sig
         |FROM gw GROUP BY studyId""".stripMargin,
    // fromSummaryStatistics passes pValueThreshold=1e-8 (not variantCounts'
    // standalone 5e-8 default) → mantissa bound 1.0 at exponent -8.
    "q_sumstat_qc" ->
      s"""WITH $GwasSql,
         |mb AS (SELECT studyId, round(avg(beta), 8) AS mean_beta FROM gw GROUP BY studyId),
         |gl AS (SELECT studyId, round(quantile_disc((beta / se) * (beta / se), 0.5) / ${SumstatQC.Chi2MedianNull}, 6) AS gc_lambda
         |  FROM gw GROUP BY studyId),
         |vc AS (SELECT studyId, count(*) AS n_variants,
         |  CAST(sum(CASE WHEN pValueExponent < -8 OR (pValueExponent = -8 AND pValueMantissa <= 1.0)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_variants_sig
         |  FROM gw GROUP BY studyId)
         |SELECT studyId, mb.mean_beta, gl.gc_lambda, vc.n_variants, vc.n_variants_sig
         |FROM mb FULL JOIN gl USING (studyId) FULL JOIN vc USING (studyId)""".stripMargin
    ,
    // q_pz_test needs the chi² survival function, unavailable in DuckDB, so
    // its oracle is a pinned golden: the 10-row output (deterministic
    // synthetic sumstats), verified against scipy in SumstatQCSpec, dumped
    // as SF-dispatched VALUES blocks for sf0.001/0.01/0.1 (MakeGoldens).
    "q_pz_test" -> MiscQueries.resourceSql("q_pz_test_oracle.sql")
  )
}
