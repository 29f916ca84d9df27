package graft.sources

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.sql.{Column, DataFrame}

import graft.core.GDataset
import graft.functions.GenomicOps

/** GWAS-Catalog *study-side* ingestion: study table harmonisation, ancestry
  * parsing with even sample-size splitting, discovery sample-size
  * extraction, Open Targets curation annotation and the multi-trait study
  * splitter (reference: datasource/gwas_catalog/study_index.py:1-689,
  * study_splitter.py:1-138, study_index_ot_curation.py:1-90).
  *
  * Everything here is either a pure Catalyst column expression (the
  * ancestry parser is array HOFs, no explode and no UDF) or an equi-join
  * keyed on `studyId` — the study index is bounded (~100k rows worldwide),
  * so every join against it broadcasts and nothing in this module shuffles
  * the big association side except the splitter's single inner join.
  */
object GwasCatalogStudyIndex {

  /** "GWAS Catalog study has not been curated by Open Targets"
    * (study_index.py:69).
    */
  val NoOtCurationFlag = "GWAS Catalog study has not been curated by Open Targets"

  /** "Harmonized summary statistics are not available or empty"
    * (study_index.py:68).
    */
  val SumstatsNotAvailableFlag =
    "Harmonized summary statistics are not available or empty"

  /** snake/space/slash column headers → camelCase select expression
    * (common/spark.py:215-252 string2camelcase / column2camel_case).
    */
  def toCamelCase(name: String): String = {
    val normalised = name.replaceAll("[\\/\\(\\)\\-]+", " ")
    val parts = normalised.split("[ _-]").filter(_.nonEmpty)
    if (parts.isEmpty) name
    // Python str.capitalize lowercases the tail, so "BROAD ANCESTRAL
    // CATEGORY" → broadAncestralCategory, not broadANCESTRALCATEGORY.
    else (parts.head.toLowerCase +:
      parts.tail.map(p => p.toLowerCase.capitalize)).mkString
  }

  /** Comma-separated ancestry annotations with curated sample counts →
    * per-ancestry sample sizes, splitting a shared count evenly across its
    * listed ancestries and summing per unique ancestry label
    * (study_index.py:36-136 _parse_discovery_samples +
    * _merge_ancestries_and_counts + _normalize_ancestries).
    *
    * ["European, African" → 100] becomes [European → 50, African → 50];
    * repeated labels accumulate. Result order is first appearance, like the
    * reference's array_union fold. Pure array HOFs — no explode, the whole
    * parse stays inside whole-stage codegen.
    */
  def parseDiscoverySamples(discoverySamples: Column): Column = {
    // The comma split ignores commas inside parentheses, e.g.
    // "Greater Middle Eastern (Middle Eastern, North African or Persian)".
    val groups = transform(
      discoverySamples,
      s =>
        struct(
          split(s.getField("ancestry"), ",\\s(?![^()]*\\))").as("pops"),
          s.getField("sampleSize").as("n")))
    val uniquePops = array_distinct(flatten(transform(groups, _.getField("pops"))))
    transform(
      uniquePops,
      p =>
        struct(
          p.as("ancestry"),
          aggregate(
            filter(groups, g => array_contains(g.getField("pops"), p)),
            lit(0),
            (acc, g) =>
              acc + (g.getField("n") / size(g.getField("pops"))).cast(IntegerType)
          ).cast(IntegerType).as("sampleSize")))
  }

  /** Pipe-separated cohort list → unique labels; null/empty input → null
    * (study_index.py:206-230 parse_cohorts).
    */
  def parseCohorts(rawCohort: Column): Column =
    when(
      rawCohort.isNotNull && rawCohort =!= "",
      array_distinct(split(rawCohort, "\\|")))

  /** Raw GWAS-Catalog study TSV → StudyIndex column contract
    * (study_index.py:232-267 _parse_study_table).
    */
  def parseStudyTable(catalogStudies: DataFrame): DataFrame =
    catalogStudies.select(
      coalesce(
        col("`STUDY ACCESSION`"),
        monotonically_increasing_id().cast(StringType)).as("studyId"),
      lit("GCST").as("projectId"),
      lit("gwas").as("studyType"),
      col("`PUBMED ID`").as("pubmedId"),
      col("`FIRST AUTHOR`").as("publicationFirstAuthor"),
      col("DATE").as("publicationDate"),
      col("JOURNAL").as("publicationJournal"),
      col("STUDY").as("publicationTitle"),
      coalesce(col("`DISEASE/TRAIT`"), lit("Unreported")).as("traitFromSource"),
      col("`INITIAL SAMPLE SIZE`").as("initialSampleSize"),
      GenomicOps.parseEfos(col("MAPPED_TRAIT_URI")).as("traitFromSourceMappedIds"),
      GenomicOps
        .parseEfos(col("`MAPPED BACKGROUND TRAIT URI`"))
        .as("backgroundTraitFromSourceMappedIds"),
      parseCohorts(col("COHORT")).as("cohorts"))

  /** Ancestry LUT (one row per study × stage × ancestry) → per-study
    * `discoverySamples`, `ldPopulationStructure` and `replicationSamples`,
    * left-joined onto the study table (study_index.py:475-594
    * annotate_ancestries).
    *
    * The pivot is pinned to the two known stages (`initial`/`replication`)
    * instead of the reference's dynamic pivot — no extra pass to enumerate
    * pivot values at 100 TB, and the output schema is static. The
    * reference's "europeans deconvoluted" sub-frame computes per-study
    * European counts and then drops every derived column before the final
    * select (study_index.py:535-586) — relationally a no-op, omitted here.
    */
  def annotateAncestries(studies: DataFrame, ancestryLut: DataFrame): DataFrame = {
    val ancestry = ancestryLut
      .select(ancestryLut.columns.map(c => col(s"`$c`").as(toCamelCase(c))): _*)
      .withColumnRenamed("studyAccession", "studyId")
    val stages = ancestry
      .groupBy("studyId")
      .pivot("stage", Seq("initial", "replication"))
      .agg(
        collect_set(
          struct(
            col("broadAncestralCategory").as("ancestry"),
            col("numberOfIndividuals").cast(IntegerType).as("sampleSize"))))
      .withColumn("discoverySamples", parseDiscoverySamples(col("initial")))
      .withColumnRenamed("replication", "replicationSamples")
      .withColumn(
        "ldPopulationStructure",
        StudyIndexOps.aggregateAndMapAncestries(col("discoverySamples")))
      .select(
        "studyId", "discoverySamples", "ldPopulationStructure",
        "replicationSamples")
    studies.join(stages, Seq("studyId"), "left")
  }

  /** Parse `initialSampleSize` free text ("1,234 European cases, 5,678
    * controls") into summed `nCases`/`nControls`/`nSamples`
    * (study_index.py:596-639 annotate_discovery_sample_sizes). The split on
    * ",\s+" is safe against thousands separators, which have no trailing
    * space.
    */
  def annotateDiscoverySampleSizes(studies: DataFrame): DataFrame = {
    val lut = studies
      .select(
        col("studyId"),
        explode_outer(split(col("initialSampleSize"), ",\\s+")).as("samples"))
      .withColumn(
        "sampleSize",
        regexp_extract(regexp_replace(col("samples"), ",", ""), "[0-9,]+", 0)
          .cast(IntegerType))
      .select(
        col("studyId"),
        col("sampleSize"),
        when(col("samples").contains("cases"), col("sampleSize"))
          .otherwise(lit(0)).as("nCases"),
        when(col("samples").contains("controls"), col("sampleSize"))
          .otherwise(lit(0)).as("nControls"))
      .groupBy("studyId")
      .agg(
        sum("nCases").cast(IntegerType).as("nCases"),
        sum("nControls").cast(IntegerType).as("nControls"),
        sum("sampleSize").cast(IntegerType).as("nSamples"))
    studies.join(lut, Seq("studyId"), "left")
  }

  /** Full study-side ingestion: parse the study table, annotate ancestries
    * and discovery sample sizes (study_index.py:269-289 from_source).
    */
  def fromSource(catalogStudies: DataFrame, ancestryFile: DataFrame): DataFrame =
    annotateDiscoverySampleSizes(
      annotateAncestries(parseStudyTable(catalogStudies), ancestryFile))

  /** Re-key studies after substudy deconvolution: updated id and trait
    * columns override where the annotation provides them
    * (study_index.py:299-341 update_study_id). One row per
    * (studyId, substudy) in the annotation → multi-trait studies fan out.
    */
  def updateStudyId(studies: DataFrame, studyAnnotation: DataFrame): DataFrame = {
    val ann = studyAnnotation.select(
      studyAnnotation.columns.map(c =>
        if (c == "studyId" || c == "updatedStudyId") col(c)
        else col(c).as(s"updated$c")): _*)
    studies
      .join(ann, Seq("studyId"), "left")
      .withColumn("studyId", coalesce(col("updatedStudyId"), col("studyId")))
      .withColumn(
        "traitFromSource",
        coalesce(col("updatedtraitFromSource"), col("traitFromSource")))
      .withColumn(
        "traitFromSourceMappedIds",
        coalesce(
          col("updatedtraitFromSourceMappedIds"),
          col("traitFromSourceMappedIds")))
      .select(studies.columns.map(col): _*)
  }

  /** Annotate the study index from the Open Targets curation table: curated
    * study type wins, analysis flags merge, uncurated studies get flagged
    * (study_index.py:343-413 annotate_from_study_curation).
    */
  def annotateFromStudyCuration(
      studies0: DataFrame,
      curationTable: Option[DataFrame]
  ): DataFrame = {
    var studies = studies0
    if (!studies.columns.contains("qualityControls"))
      studies = studies.withColumn(
        "qualityControls", array().cast("array<string>"))
    if (!studies.columns.contains("analysisFlags"))
      studies = studies.withColumn(
        "analysisFlags", array().cast("array<string>"))
    curationTable match {
      case None => studies
      case Some(cur0) =>
        val cur = cur0.select(
          cur0.columns.map(c =>
            if (c == "studyId") col(c) else col(c).as(s"curation_$c")): _*)
        studies
          .join(cur.withColumn("isCurated", lit(true)), Seq("studyId"), "left")
          .withColumn("isCurated", coalesce(col("isCurated"), lit(false)))
          .withColumn(
            "studyType",
            coalesce(col("curation_studyType"), col("studyType")))
          .withColumn(
            "analysisFlags",
            array_union(col("analysisFlags"), col("curation_analysisFlags")))
          .withColumn(
            "analysisFlags",
            coalesce(col("analysisFlags"), array().cast("array<string>")))
          .withColumn(
            "qualityControls",
            GDataset.updateQualityFlag(
              col("qualityControls"), !col("isCurated"), NoOtCurationFlag))
          .select(studies.columns.map(col): _*)
    }
  }

  /** Export the studies needing curation with existing curation propagated,
    * array columns flattened for the TSV round-trip
    * (study_index.py:415-473 extract_studies_for_curation).
    */
  def extractStudiesForCuration(
      studies: DataFrame,
      curation: Option[DataFrame]
  ): DataFrame = curation match {
    case None =>
      studies
        .filter(col("hasSumstats"))
        .withColumn("studyType", lit(null).cast(StringType))
        .withColumn("analysisFlag", lit(null).cast(StringType))
        .withColumn("qualityControl", lit(null).cast(StringType))
        .withColumn("isCurated", lit(false).cast(StringType))
    case Some(cur0) =>
      val cur = cur0.select(
        cur0.columns.map(c =>
          if (c == "studyId") col(c) else col(c).as(s"curation_$c")): _*)
      studies
        .filter(col("hasSumstats"))
        .join(cur, Seq("studyId"), "left")
        .select(
          col("studyId"),
          col("curation_studyType").as("studyType"),
          array_join(col("curation_analysisFlags"), "|").as("analysisFlag"),
          array_join(col("curation_qualityControls"), "|").as("qualityControl"),
          coalesce(col("curation_isCurated"), lit(false))
            .cast(StringType).as("isCurated"),
          col("pubmedId"),
          col("publicationTitle"),
          col("traitFromSource"))
  }

  /** Flag every study as lacking summary statistics
    * (study_index.py:657-667 add_no_sumstats_flag).
    */
  def addNoSumstatsFlag(studies: DataFrame): DataFrame =
    studies.withColumn(
      "qualityControls", array(lit(SumstatsNotAvailableFlag)))

  /** Last GCST accession in a summary-statistics path
    * (study_index.py:669-689 _parse_gwas_catalog_study_id).
    */
  def parseGwasCatalogStudyId(sumstatsPath: Column): Column = {
    val acc = regexp_extract_all(sumstatsPath, lit("(GCST\\d+)"))
    when(size(acc) > 0, element_at(acc, -1))
  }

  /** Open Targets curation TSV → typed curation table: pipe-separated flag
    * strings back to arrays, isCurated to boolean
    * (study_index_ot_curation.py:26-52 _parser).
    */
  def parseCurationTable(df0: DataFrame): DataFrame = {
    val df =
      if (df0.columns.contains("qualityControl")) df0
      else df0.withColumn("qualityControl", lit(null).cast(StringType))
    df.select(
      col("studyId"),
      col("studyType"),
      when(col("analysisFlag").isNotNull, split(col("analysisFlag"), "\\|"))
        .otherwise(array().cast("array<string>")).as("analysisFlags"),
      when(col("qualityControl").isNotNull, split(col("qualityControl"), "\\|"))
        .otherwise(array().cast("array<string>")).as("qualityControls"),
      col("isCurated").cast("boolean"))
  }
}

/** Multi-trait GWAS-Catalog study splitting: when the study- and
  * association-level diseases disagree, the study fans out into one
  * sub-study per distinct `subStudyDescription`
  * (reference: datasource/gwas_catalog/study_splitter.py:1-138).
  */
object GwasCatalogStudySplitter {

  /** Association-level trait wins, annotated with p-value text when present
    * (study_splitter.py:20-48 _resolve_trait).
    */
  def resolveTrait(
      studyTrait: Column,
      associationTrait: Column,
      pValueText: Column
  ): Column =
    when(
      pValueText.isNotNull && pValueText =!= "no_pvalue_text",
      concat(associationTrait, lit(" ["), pValueText, lit("]")))
      .when(associationTrait.isNotNull, associationTrait)
      .otherwise(studyTrait)

  /** Association-level EFO list (slash-separated) wins over the study-level
    * one (study_splitter.py:50-62 _resolve_efo).
    */
  def resolveEfo(associationEfo: Column, studyEfo: Column): Column =
    coalesce(functions.split(associationEfo, "/"), studyEfo)

  /** `GCST123` → `GCST123_<denseRank>` when a study carries more than one
    * distinct substudy description (study_splitter.py:64-81
    * _resolve_study_id). `approx_count_distinct` matches the reference; its
    * HLL estimate is exact at the per-study substudy counts that occur in
    * practice (< 10) and never shuffles more than the window already does.
    */
  def resolveStudyId(studyId: Column, subStudyDescription: Column): Column = {
    val w = Window.partitionBy(studyId).orderBy(subStudyDescription)
    val rowNumber = dense_rank().over(w)
    val substudyCount = approx_count_distinct(rowNumber).over(w)
    when(substudyCount === 1, studyId)
      .otherwise(concat_ws("_", studyId, rowNumber))
  }

  /** Split multi-trait studies and re-key their associations
    * (study_splitter.py:83-138 split). The bounded study index broadcasts
    * against the association side. Both outputs read one lazy resolution
    * frame and nothing is persisted; a caller that consumes them in
    * separate actions may persist them itself.
    */
  def split(
      studies: DataFrame,
      associations: DataFrame
  ): (DataFrame, DataFrame) = {
    val sub = split_(col("subStudyDescription"))
    val stAss = associations
      .join(broadcast(studies), Seq("studyId"), "inner")
      .select(
        col("studyId"),
        col("subStudyDescription"),
        resolveStudyId(col("studyId"), col("subStudyDescription"))
          .as("updatedStudyId"),
        resolveTrait(col("traitFromSource"), sub(0), sub(1))
          .as("traitFromSource"),
        resolveEfo(sub(2), col("traitFromSourceMappedIds"))
          .as("traitFromSourceMappedIds"))
    (
      GwasCatalogStudyIndex.updateStudyId(
        studies,
        stAss
          .select(
            "studyId", "updatedStudyId", "traitFromSource",
            "traitFromSourceMappedIds")
          .distinct()),
      qcFlagAllTophits(
        GwasCatalog.qcAmbiguousStudy(
          GwasCatalog.updateStudyId(
            associations,
            stAss
              .select("updatedStudyId", "studyId", "subStudyDescription")
              .distinct()))))
  }

  /** Every association coming through the top-hit ingestion path is flagged
    * as a curated top hit (associations.py:1237-1253 qc_flag_all_tophits).
    */
  def qcFlagAllTophits(studyLocus: DataFrame): DataFrame =
    studyLocus.withColumn(
      "qualityControls",
      GDataset.updateQualityFlag(
        col("qualityControls"),
        lit(true),
        graft.operators.StudyLocusQc.TopHitFlag))

  // `|`-separated substudy description fields: trait, p-value text, EFO URIs.
  private def split_(subStudyDescription: Column): Seq[Column] =
    (0 to 2).map(i => functions.split(subStudyDescription, "\\|").getItem(i))
}
