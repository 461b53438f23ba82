package graft.api

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.assess.Assessor
import graft.convert.{Db2Renderer, RenderConfig}
import graft.model._
import graft.parse.Db2Parser
import graft.snowflake.SnowflakeRenderer

/** One parsed table stamped with its script and in-script ordinal.
  * The ordinal is assigned inside the per-script parse (before any
  * shuffle), so ordering-sensitive steps never depend on partition
  * order (SURVEY.md §7.4 risk 1). */
final case class ScriptTable(scriptId: String, tablePos: Int, table: TableDef)

/** A rendered table, pre-aggregation. */
final case class RenderedTable(scriptId: String, tablePos: Int, ddl: String, ewi: Int)

/** Flattened per-table assessment row — the map-side output feeding the
  * Spark aggregation layer (all global rollups are partial+final hash
  * aggs over these tiny rows, never over raw DDL). */
final case class AssessRow(
    scriptId: String,
    tablePos: Int,
    tableName: String,
    schema: Option[String],
    columnCount: Int,
    constraintCount: Int,
    readinessScore: Double,
    readinessLevel: String,
    canAutoConvert: Boolean,
    nCritical: Int,
    nWarning: Int,
    nInfo: Int,
    datatypeScore: Double,
    constraintScore: Double,
    partitionScore: Double,
    specialScore: Double,
    typeDistribution: Map[String, Int])

/** The distributed engine: the reference's whole pipeline (EP1-EP3,
  * SURVEY.md §3) re-expressed as Spark operators over a DataFrame of DDL
  * scripts.
  *
  * Scale design (100 TB / 1000 executors):
  *  - The unit of parsing is one *script*: parse (a per-script
  *    sequential two-pass, as the semantics require) runs map-side with
  *    zero shuffle. Statement→table ordinals are stamped in-task.
  *  - The unit of scheduling is a batch of scripts: [[readScripts]]
  *    opens each file once and packs the corpus into one scan task per
  *    core, or per `spark.sql.files.maxPartitionBytes` of script text
  *    when that gives more. Tasks carry fixed costs (task binary,
  *    generated projections) that a 4 KB script cannot amortize.
  *  - Rendering is a per-table map followed by ONE shuffle: the ordered
  *    string aggregation per script (`collect_list` of (pos, ddl) →
  *    `array_sort` → `concat_ws`), the Spark equivalent of DuckDB's
  *    `string_agg(... ORDER BY ...)`.
  *  - Assessment is a per-table map to a small numeric row, then
  *    partial+final hash aggregation; the global report is O(#tables)
  *    aggregate state, never O(#columns).
  *  - Parse-once reuse: callers cache [[parseDb2]]'s output and share it
  *    between assess and convert, fixing the reference's triple-parse
  *    (converter.py:78-81, SURVEY.md §4.1).
  */
object Engine {

  /** Read a directory (or glob) of plain-text DDL scripts, one row per
    * non-empty file: (script_id, ddl). `ddl` is the file's bytes as
    * UTF-8 text, whole (statements span lines), byte for byte as
    * written: CRLF and invalid UTF-8 bytes are kept. `script_id` is
    * the file's URI (`file:///dir/a%20b.sql`). Zero-length files give
    * no row.
    *
    * Scripts are read whole through `binaryFile`, so each file is
    * opened once and never decompressed: a file named as compressed
    * (`.gz`, `.bz2`, `.deflate`, `.zst`, `.lz4`, `.snappy`) fails the
    * read with an error that names it.
    *
    * The scan is coalesced to max(`defaultParallelism`, ⌈script bytes /
    * `spark.sql.files.maxPartitionBytes`⌉) tasks, sized from the file
    * listing Spark already made; a scan with fewer partitions keeps
    * them. Each script still parses on its own downstream. */
  def readScripts(spark: SparkSession, path: String): DataFrame = {
    val files = spark.read.format("binaryFile").load(path)
    val bytes = files.queryExecution.analyzed.stats.sizeInBytes
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val byBytes = ((bytes + maxBytes - 1) / maxBytes).toInt
    scriptRows(files).coalesce(
      math.max(spark.sparkContext.defaultParallelism, byBytes))
  }

  /** `binaryFile`'s fixed schema, spelled out: streaming file sources
    * refuse inference. */
  private[graft] val BinaryFileSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  // Hadoop's default codec extensions: the text reader decompressed
  // these, so their raw bytes would parse silently to zero tables
  private val CompressedSuffixes =
    Seq(".gz", ".bz2", ".deflate", ".zst", ".lz4", ".snappy")

  /** (script_id, ddl) from a batch or streaming `binaryFile` frame:
    * the one projection behind [[readScripts]] and the DDL streams. */
  private[graft] def scriptRows(files: DataFrame): DataFrame = {
    val compressed = CompressedSuffixes.map(col("path").endsWith).reduce(_ || _)
    files.select(input_file_name().as("script_id"),
      when(compressed, raise_error(concat(lit("compressed DDL script "),
        col("path"), lit(": scripts are read as plain text"))))
        .otherwise(col("content").cast(StringType)).as("ddl"))
  }

  /** Scripts from in-memory pairs (tests, demos, streaming batches). */
  def scriptsOf(spark: SparkSession, scripts: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    scripts.toDF("script_id", "ddl")
  }

  /** Parse DB2 scripts into per-table rows. Pure map-side flatMap —
    * each script parses independently; no shuffle. */
  def parseDb2(scripts: DataFrame): Dataset[ScriptTable] = {
    val spark = scripts.sparkSession
    import spark.implicits._
    scripts.select("script_id", "ddl").as[(String, String)].flatMap {
      case (id, ddl) =>
        Db2Parser.parse(ddl).tables.zipWithIndex.map {
          case (t, i) => ScriptTable(id, i, t)
        }
    }
  }

  /** Per-script DB2→Iceberg conversion: map-side render, then the O1
    * ordered string aggregation per script. */
  def convertDb2(tables: Dataset[ScriptTable],
      cfg: RenderConfig = RenderConfig()): DataFrame = {
    val spark = tables.sparkSession
    import spark.implicits._
    val rendered = tables.map { st =>
      val (ddl, ewi) = Db2Renderer.convertTable(st.table, cfg)
      RenderedTable(st.scriptId, st.tablePos, ddl, ewi)
    }
    rendered.toDF()
      .groupBy(col("scriptId").as("script_id"))
      .agg(
        concat_ws("\n\n",
          transform(
            array_sort(collect_list(struct(col("tablePos"), col("ddl")))),
            x => x.getField("ddl"))).as("iceberg_ddl"),
        sum(col("ewi")).cast("int").as("ewi_count"),
        count(lit(1)).cast("int").as("tables_converted"))
  }

  /** S8 report sink: per-script assessment rendered to the reference
    * PDF's paginated text content (reference: `app.py:49-263`; see
    * [[graft.assess.ReportRenderer]]). Pure map-side flatMap — each
    * script assesses and renders independently on executors, no
    * shuffle; one row per report line keeps the sink queryable and
    * the driver check rows-based. `generatedAt` is injected for
    * determinism (the reference stamps `datetime.now()`). */
  def reportLines(scripts: DataFrame, generatedAt: String): DataFrame = {
    val spark = scripts.sparkSession
    import spark.implicits._
    scripts.select("script_id", "ddl").as[(String, String)].flatMap {
      case (id, ddl) =>
        val rpt = graft.assess.Assessor.assess(ddl)
        graft.assess.ReportRenderer.renderAssessment(rpt, generatedAt)
          .zipWithIndex.map { case (line, i) => (id, i + 1, line) }
    }.toDF("script_id", "line_no", "line")
  }

  /** Conversion-report sink (reference: `app.py:266-411`): per-script
    * convert + assess + render, same map-side shape as
    * [[reportLines]]. */
  def conversionReportLines(scripts: DataFrame, generatedAt: String): DataFrame = {
    val spark = scripts.sparkSession
    import spark.implicits._
    scripts.select("script_id", "ddl").as[(String, String)].flatMap {
      case (id, ddl) =>
        val result = graft.convert.Db2Renderer.convert(ddl)
        val rpt = graft.assess.Assessor.assess(ddl)
        graft.assess.ReportRenderer.renderConversion(result, rpt, generatedAt)
          .zipWithIndex.map { case (line, i) => (id, i + 1, line) }
    }.toDF("script_id", "line_no", "line")
  }

  /** Per-table assessment rows: map-side scoring, Spark-aggregable. */
  def assessRows(tables: Dataset[ScriptTable]): Dataset[AssessRow] = {
    val spark = tables.sparkSession
    import spark.implicits._
    tables.map { st =>
      val ta = Assessor.assessTable(st.table)
      val cs = Assessor.componentScores(ta)
      AssessRow(
        scriptId = st.scriptId,
        tablePos = st.tablePos,
        tableName = ta.tableName,
        schema = ta.schema,
        columnCount = ta.columnCount,
        constraintCount = ta.constraintCount,
        readinessScore = ta.readinessScore,
        readinessLevel = ta.readinessLevel,
        canAutoConvert = ta.canAutoConvert,
        nCritical = ta.issues.count(_.severity == IssueSeverity.Critical),
        nWarning = ta.issues.count(_.severity == IssueSeverity.Warning),
        nInfo = ta.issues.count(_.severity == IssueSeverity.Info),
        datatypeScore = cs("datatype"),
        constraintScore = cs("constraint"),
        partitionScore = cs("partition"),
        specialScore = cs("special"),
        typeDistribution = ta.typeDistribution)
    }
  }

  /** The A2-A8 readiness aggregates of [[assessReport]] and
    * [[assessRollup]] over AssessRow columns (SURVEY.md §2.6):
    * conditional counts (categorization), sums (inventory) and means
    * with empty→100 fallback (component scores). */
  private def readinessAggs: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).cast("int").as("tables_total"),
    sum(when(col("canAutoConvert"), 1).otherwise(0)).cast("int").as("tables_auto"),
    sum(when(!col("canAutoConvert") && col("nCritical") === 0, 1).otherwise(0))
      .cast("int").as("tables_manual"),
    sum(when(!col("canAutoConvert") && col("nCritical") > 0, 1).otherwise(0))
      .cast("int").as("tables_blocked"),
    sum(col("columnCount")).cast("int").as("total_columns"),
    sum(col("constraintCount")).cast("int").as("total_constraints"),
    sum(col("nCritical")).cast("int").as("critical_issues"),
    sum(col("nWarning")).cast("int").as("warning_issues"),
    sum(col("nInfo")).cast("int").as("info_issues"),
    coalesce(avg(col("datatypeScore")), lit(100.0)).as("datatype_score"),
    coalesce(avg(col("constraintScore")), lit(100.0)).as("constraint_score"),
    coalesce(avg(col("partitionScore")), lit(100.0)).as("partition_score"),
    coalesce(avg(col("specialScore")), lit(100.0)).as("special_features_score"))

  /** The weighted `overall_score` projection over [[readinessAggs]]'
    * component scores, and its traffic-light `overall_level`. */
  private def withOverall(agg: DataFrame): DataFrame = {
    val overall = col("datatype_score") * Assessor.Weights("datatype") +
      col("constraint_score") * Assessor.Weights("constraint") +
      col("partition_score") * Assessor.Weights("partition") +
      col("special_features_score") * Assessor.Weights("special")
    agg.withColumn("overall_score", overall)
      .withColumn("overall_level",
        when(col("overall_score") >= 80, ReadinessLevel.Green)
          .when(col("overall_score") >= 50, ReadinessLevel.Yellow)
          .otherwise(ReadinessLevel.Red))
  }

  /** Global (per-script) report rollup as ONE hash aggregation of
    * [[readinessAggs]], plus the weighted overall projection and the
    * traffic-light CASE. */
  def assessReport(rows: Dataset[AssessRow]): DataFrame =
    withOverall(rows.toDF()
      .groupBy(col("scriptId").as("script_id"))
      .agg(readinessAggs.head, readinessAggs.tail: _*))

  /** Per-table ∪ per-schema ∪ per-script ∪ grand-total readiness in ONE
    * pass: the reference computes the per-table list and the global
    * report in two separate loops over the same assessments
    * (`/root/reference/db2ice/assessor.py:217-273`); Spark's ROLLUP
    * emits every aggregation level from a single partial+final hash
    * aggregation — at 100 TB the assess rows shuffle once, not once
    * per report granularity. `agg_level` is the `grouping_id`
    * (0 = per-table, 1 = per-schema, 3 = per-script, 7 = grand total);
    * per-table rows reproduce the AssessRow scores exactly and
    * script-level rows equal [[assessReport]] (Db2EngineSpec pins
    * both). */
  def assessRollup(rows: Dataset[AssessRow]): DataFrame =
    withOverall(rows.toDF()
      .select(col("scriptId").as("script_id"),
        coalesce(col("schema"), lit("")).as("schema"),
        col("tableName").as("table_name"),
        col("columnCount"), col("constraintCount"), col("canAutoConvert"),
        col("nCritical"), col("nWarning"), col("nInfo"),
        col("datatypeScore"), col("constraintScore"),
        col("partitionScore"), col("specialScore"))
      .rollup(col("script_id"), col("schema"), col("table_name"))
      .agg(grouping_id().cast("int").as("agg_level"), readinessAggs: _*))

  /** A1 type-distribution rollup: explode the per-table map, then a
    * partial+final hash agg per base type. */
  def typeDistribution(rows: Dataset[AssessRow]): DataFrame =
    rows.toDF()
      .select(col("scriptId").as("script_id"), explode(col("typeDistribution")))
      .groupBy(col("script_id"), col("key").as("base_type"))
      .agg(sum(col("value")).cast("int").as("n_columns"))

  /** A9 feature-usage rollup over parsed tables: conditional sums over
    * exploded columns/constraints (one wide aggregation). */
  def featureUsage(tables: Dataset[ScriptTable]): DataFrame = {
    val spark = tables.sparkSession
    import spark.implicits._
    val perTable = tables.map { st =>
      val f = Assessor.aggregateFeatures(Seq(st.table))
      (st.scriptId, f("editproc"), f("validproc"), f("fieldproc"), f("partitioning"),
        f("generated_columns"), f("foreign_keys"), f("check_constraints"),
        f("xml_columns"), f("graphic_columns"), f("lob_columns"))
    }.toDF("script_id", "editproc", "validproc", "fieldproc", "partitioning",
      "generated_columns", "foreign_keys", "check_constraints",
      "xml_columns", "graphic_columns", "lob_columns")
    perTable.groupBy(col("script_id")).agg(
      sum("editproc").cast("int").as("editproc"),
      sum("validproc").cast("int").as("validproc"),
      sum("fieldproc").cast("int").as("fieldproc"),
      sum("partitioning").cast("int").as("partitioning"),
      sum("generated_columns").cast("int").as("generated_columns"),
      sum("foreign_keys").cast("int").as("foreign_keys"),
      sum("check_constraints").cast("int").as("check_constraints"),
      sum("xml_columns").cast("int").as("xml_columns"),
      sum("graphic_columns").cast("int").as("graphic_columns"),
      sum("lob_columns").cast("int").as("lob_columns"))
  }

  /** Snowflake path, per script: parse+convert map-side, keeping
    * (ddl, ewi, issue counts) per script. */
  def convertSnowflake(scripts: DataFrame,
      cfg: RenderConfig = RenderConfig()): DataFrame = {
    val spark = scripts.sparkSession
    import spark.implicits._
    scripts.select("script_id", "ddl").as[(String, String)].map { case (id, ddl) =>
      val r = SnowflakeRenderer.convert(ddl, cfg)
      (id, r.icebergDdl, r.ewiCount, r.tablesConverted,
        r.issues.count(_.severity == IssueSeverity.Critical),
        r.issues.count(_.severity == IssueSeverity.Warning),
        r.issues.count(_.severity == IssueSeverity.Info))
    }.toDF("script_id", "iceberg_ddl", "ewi_count", "tables_converted",
      "critical_issues", "warning_issues", "info_issues")
  }

  /** The embedded reference sample scripts (main-classpath resources),
    * used by the driver-facing demo queries and tests. */
  def sampleDdl(name: String): String = {
    val in = getClass.getResourceAsStream(s"/golden/$name")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.mkString finally src.close()
  }
}
