package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.harness.{ColocQueries, CoreQueries, DatasetQueries, GenomicQueries, IndexQueries, IngestQueries, JoinQueries, MiscQueries, QcQueries, SourceQueries, StudyQueries, TextQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY §2 is represented by a query in
  * [[queries]]; [[oracleSql]] carries the DuckDB-equivalent SQL the driver
  * hash-compares against (identical column names + rounding on both sides).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The SURVEY §7.2 end-to-end slice: schema-validated SummaryStatistics →
    * significance filter → window-based clumping → StudyLocus with QC flags.
    */
  def entry(spark: SparkSession): DataFrame =
    GenomicQueries.clump(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ GenomicQueries.queries ++ IndexQueries.queries ++ TextQueries.queries ++ ColocQueries.queries ++ JoinQueries.queries ++ MiscQueries.queries ++ QcQueries.queries ++ SourceQueries.queries ++ DatasetQueries.queries ++ StudyQueries.queries ++ IngestQueries.queries

  /** Harness teardown, kept for callers that embed this library: the
    * query registries hold no state between builds (no memo, no persisted
    * frame), so this does nothing. The pair operators (`Dedup`'s LSH,
    * SimHash and perceptual-hash joins, `verifiedPairs`,
    * `TextPipeline.cleanCorpus`) and the containment joins are lazy plans
    * that cache nothing either.
    */
  def cleanup(): Unit = ()

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CoreQueries.oracles ++ GenomicQueries.oracles ++ IndexQueries.oracles ++ TextQueries.oracles ++ ColocQueries.oracles ++ JoinQueries.oracles ++ MiscQueries.oracles ++ QcQueries.oracles ++ SourceQueries.oracles ++ DatasetQueries.oracles ++ StudyQueries.oracles ++ IngestQueries.oracles
}
