package graft.core

import java.net.URI

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Schema-validated DataFrame wrapper — the engine's core abstraction.
  *
  * Every domain table is a case class extending this trait, carrying its
  * declared schema name; construction-time validation enforces the contract
  * (reference semantics: dataset/dataset.py:51-299).
  */
trait GDataset[Self <: GDataset[Self]] { self: Self =>

  def df: DataFrame

  /** Rebuild this dataset around a new DataFrame, preserving attributes. */
  protected def withDf(newDf: DataFrame): Self

  /** Short schema name resolved through [[SchemaRegistry]]. */
  def schemaName: String

  final def expectedSchema: StructType = SchemaRegistry(schemaName)

  /** Name of the quality-control array column, when the dataset has one. */
  def qcColumnName: Option[String] = None

  /** flag key → flag text mapping for [[validRows]]. */
  def qcMappings: Map[String, String] = Map.empty

  /** Validate the wrapped DataFrame's schema; throws on mismatch
    * (dataset/dataset.py:237-250).
    */
  def validate(): Self = {
    SchemaValidation.validateOrThrow(getClass.getSimpleName, df.schema, expectedSchema)
    this
  }

  /** Subclass-preserving filter (dataset/dataset.py:222-235). */
  def filter(condition: Column): Self = withDf(df.filter(condition))

  /** Split into (valid, invalid) rows by QC flags (dataset/dataset.py:252-299).
    * A null QC column counts as an empty flag array.
    */
  def validRows(invalidFlags: Seq[String]): (Self, Self) = {
    val reasons = invalidFlags.map { flag =>
      qcMappings.getOrElse(
        flag,
        throw new IllegalArgumentException(
          s"$flag is not a valid QC flag for ${getClass.getSimpleName} ($qcMappings)."
        )
      )
    }
    val column = qcColumnName.getOrElse(
      throw new IllegalArgumentException(
        s"${getClass.getSimpleName} objects do not contain a QC column to filter by."
      )
    )
    val qc = when(col(column).isNull, array()).otherwise(col(column))
    val valid = !arrays_overlap(array(reasons.map(lit): _*), qc)
    (filter(valid), filter(!valid))
  }

  /** Drop rows where any of the given double columns is ±Infinity
    * (dataset/dataset.py:301-322).
    */
  def dropInfinityValues(cols: String*): Self =
    if (cols.isEmpty) this
    else {
      val infs = Seq("Inf", "+Inf", "-Inf", "Infinity", "+Infinity", "-Infinity")
        .map(v => lit(v).cast(DoubleType))
      val cond = cols.map(c => col(c).isin(infs: _*)).reduce(_ || _)
      withDf(df.filter(!cond))
    }

  def persist(): Self = withDf(df.persist())
  def unpersist(): Self = withDf(df.unpersist())
  def coalesce(numPartitions: Int): Self = withDf(df.coalesce(numPartitions))
  def repartition(numPartitions: Int): Self = withDf(df.repartition(numPartitions))
}

object GDataset {

  /** Append `flagText` to the QC array where `flagCondition` holds; result is
    * always sorted + de-duplicated, null arrays coalesce to empty
    * (dataset/dataset.py:372-422).
    */
  def updateQualityFlag(qc: Column, flagCondition: Column, flagText: String): Column = {
    val safeQc = when(qc.isNull, array()).otherwise(qc)
    when(
      flagCondition,
      array_sort(array_distinct(array_union(safeQc, array(lit(flagText)))))
    ).otherwise(safeQc)
  }

  /** True for rows whose value in `testColumn` was already seen; keeps one
    * arbitrary first occurrence (dataset/dataset.py:424-438). Set-stable, not
    * row-stable, by design (rand() ordering).
    */
  def flagDuplicates(testColumn: Column): Column =
    row_number().over(Window.partitionBy(testColumn).orderBy(rand())) > 1

  /** md5 of the concatenated string-casts with "None" null sentinel —
    * bit-exact with the reference IDs (dataset/dataset.py:440-456).
    */
  def generateIdentifier(uniquenessDefiningColumns: Seq[String]): Column =
    md5(
      concat(
        uniquenessDefiningColumns.map { c =>
          when(col(c).cast("string").isNull, lit("None")).otherwise(col(c).cast("string"))
        }: _*
      )
    )

  /** Schema-enforced parquet load; fails on empty input
    * (dataset/dataset.py:167-220). Emptiness is decided on the driver from
    * the Parquet footers' row counts of the already-listed input files,
    * stopping at the first file with rows, so no Spark job runs.
    */
  def readParquet(spark: SparkSession, schemaName: String, paths: String*): DataFrame = {
    val df = spark.read.schema(SchemaRegistry(schemaName)).parquet(paths: _*)
    val conf = spark.sessionState.newHadoopConf()
    def hasRows(file: String): Boolean = {
      val reader =
        ParquetFileReader.open(HadoopInputFile.fromPath(new Path(new URI(file)), conf))
      try reader.getRecordCount > 0
      finally reader.close()
    }
    if (!df.inputFiles.exists(hasRows))
      throw new IllegalArgumentException(s"No data found at ${paths.mkString(", ")}")
    df
  }
}
