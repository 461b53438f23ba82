package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Engine

/** Driver-facing queries exercising the distributed DDL pipeline
  * (SURVEY.md §3 EP1-EP3 as Spark jobs). Not SQL-expressible in DuckDB
  * (state-machine parsing), so these are registered WITHOUT oracle SQL —
  * the driver records a rows-only check; golden byte-parity is enforced
  * by the ScalaTest suites instead.
  *
  * Each query replicates the embedded reference sample script N times
  * (distinct script ids) so the pipeline actually fans out over
  * partitions: per-script parse/render map-side, one shuffle for the
  * per-script ordered aggregation.
  */
object DdlQueries {

  private def db2Scripts(s: SparkSession, n: Int): DataFrame = {
    val sample = Engine.sampleDdl("sample_db2.sql")
    Engine.scriptsOf(s, (0 until n).map(i => (f"script_$i%03d", sample)))
      .repartition(4)
  }

  private def sfScripts(s: SparkSession, n: Int): DataFrame = {
    val sample = Engine.sampleDdl("sample_snowflake.sql")
    Engine.scriptsOf(s, (0 until n).map(i => (f"sf_$i%03d", sample)))
      .repartition(4)
  }

  /** Materialized per-table assessment rows at a FIXED tmp location,
    * written once per JVM: the parse+score step (a state machine, not
    * DuckDB-expressible) runs in Spark and lands in parquet; the
    * A2–A8 aggregate layer above it then carries a HARD hash oracle —
    * Spark and DuckDB both aggregate the SAME files (reference
    * semantics: /root/reference/db2ice/assessor.py:217-273,
    * app.py:457-517). The location is deterministic (the rows depend
    * only on the embedded sample DDL, not the fixture), so the static
    * oracle SQL can name it. The JVM's first call deletes what an
    * older build left there: the oracle reads the same files, so stale
    * rows would pass against themselves. [[PipelineQueries.buildOnce]]
    * then writes them, and a write that fails is retried on the next
    * call. */
  private[graft] val DdlRowsRoot: String =
    new java.io.File(sys.props("java.io.tmpdir"), "graft_ddl_assess_rows")
      .getAbsolutePath
  private lazy val staleRowsDropped: Boolean =
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(DdlRowsRoot))
  private[graft] def ddlRowsDir(s: SparkSession): String = {
    staleRowsDropped
    PipelineQueries.buildOnce(s, DdlRowsRoot) { root =>
      import s.implicits._
      val parsed = Engine.parseDb2(db2Scripts(s, 8))
      val rows = Engine.assessRows(parsed).toDF().cache()
      rows.select(
          col("scriptId").as("script_id"), col("tablePos").as("table_pos"),
          col("tableName").as("table_name"),
          coalesce(col("schema"), lit("")).as("schema_name"),
          col("columnCount").as("column_count"),
          col("constraintCount").as("constraint_count"),
          col("canAutoConvert").as("can_auto_convert"),
          col("nCritical").as("n_critical"),
          col("nWarning").as("n_warning"),
          col("nInfo").as("n_info"),
          col("datatypeScore").as("datatype_score"),
          col("constraintScore").as("constraint_score"),
          col("partitionScore").as("partition_score"),
          col("specialScore").as("special_score"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$root/assess")
      rows.select(col("scriptId").as("script_id"),
          col("tablePos").as("table_pos"), explode(col("typeDistribution")))
        .select(col("script_id"), col("table_pos"),
          col("key").as("base_type"), col("value").as("n_cols"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$root/types")
      parsed.map { st =>
        val f = graft.assess.Assessor.aggregateFeatures(Seq(st.table))
        (st.scriptId, st.tablePos, f("editproc"), f("validproc"),
          f("fieldproc"), f("partitioning"), f("generated_columns"),
          f("foreign_keys"), f("check_constraints"), f("xml_columns"),
          f("graphic_columns"), f("lob_columns"))
      }.toDF("script_id", "table_pos", "editproc", "validproc", "fieldproc",
          "partitioning", "generated_columns", "foreign_keys",
          "check_constraints", "xml_columns", "graphic_columns",
          "lob_columns")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$root/features")
      // per-table RENDERED rows: the S6/O1 ordered-concat aggregation
      // above them gets the hash oracle (the render itself stays
      // golden/fuzz-pinned)
      parsed.map { st =>
        val (ddl, ewi) = graft.convert.Db2Renderer.convertTable(
          st.table, graft.convert.RenderConfig())
        (st.scriptId, st.tablePos, ddl, ewi)
      }.toDF("script_id", "table_pos", "ddl", "ewi")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$root/rendered")
      // the S8 REPORT SINKS' paginated lines (assessment + conversion
      // reports, fixed timestamp): the per-script ordered-concat
      // SHA-256 twins above them give the two render sinks a direct
      // DuckDB hash anchor (the line text itself stays golden-pinned
      // byte-identically to the reference's generate_*_pdf)
      Engine.reportLines(db2Scripts(s, 8), generatedAt = "2026-01-01 00:00:00")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$root/report_lines")
      Engine.conversionReportLines(db2Scripts(s, 8),
          generatedAt = "2026-01-01 00:00:00")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$root/conv_report_lines")
      // the Snowflake path's per-table rendered rows (P11-P16 parse +
      // M18-M20 render map-side); the A11-A12 per-script rollup above
      // them carries the hash oracle
      sfScripts(s, 8).select("script_id", "ddl").as[(String, String)]
        .flatMap { case (id, ddl) =>
          graft.snowflake.SnowflakeParser.parse(ddl).zipWithIndex.map {
            case (t, i) =>
              val (out, ewi, issues) =
                graft.snowflake.SnowflakeRenderer.convertTable(
                  t, graft.convert.RenderConfig())
              (id, i, out, ewi,
                issues.count(_.severity == graft.model.IssueSeverity.Critical),
                issues.count(_.severity == graft.model.IssueSeverity.Warning),
                issues.count(_.severity == graft.model.IssueSeverity.Info))
          }
        }.toDF("script_id", "table_pos", "ddl", "ewi",
          "n_critical", "n_warning", "n_info")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$root/sf_rendered")
      rows.unpersist()
      ()
    }
  }

  /** The Snowflake path's per-script rollup (A11-A12 class) over the
    * materialized per-table rows, under the hash oracle — ordered
    * concat SHA, EWI/table counts, and issue-severity sums. */
  def sfConvertAgg(s: SparkSession, dir: String): DataFrame = {
    val root = ddlRowsDir(s)
    s.read.parquet(s"$root/sf_rendered")
      .groupBy("script_id")
      .agg(
        sha2(concat_ws("\n\n",
          transform(
            array_sort(collect_list(struct(col("table_pos"), col("ddl")))),
            x => x.getField("ddl"))), 256).as("ddl_sha"),
        sum(col("ewi")).cast("int").as("ewi_count"),
        count(lit(1)).cast("int").as("tables_converted"),
        sum(col("n_critical")).cast("int").as("critical_issues"),
        sum(col("n_warning")).cast("int").as("warning_issues"),
        sum(col("n_info")).cast("int").as("info_issues"))
      .orderBy("script_id")
  }

  /** The S6/O1 per-script ordered-render aggregation over the
    * materialized rendered rows, under the hash oracle: the ordered
    * string concat (tablePos order, blank-line separator) surfaces as
    * a SHA-256 both engines compute over the same parquet. */
  def ddlConvertAgg(s: SparkSession, dir: String): DataFrame = {
    val root = ddlRowsDir(s)
    s.read.parquet(s"$root/rendered")
      .groupBy("script_id")
      .agg(
        sha2(concat_ws("\n\n",
          transform(
            array_sort(collect_list(struct(col("table_pos"), col("ddl")))),
            x => x.getField("ddl"))), 256).as("ddl_sha"),
        sum(col("ewi")).cast("int").as("ewi_count"),
        count(lit(1)).cast("int").as("tables_converted"))
      .orderBy("script_id")
  }

  /** S8's assessment-report sink under the hash oracle: per-script
    * SHA-256 over the line_no-ordered concat of the paginated report
    * text — DuckDB recomputes the same hash over the same parquet, so
    * the render sink's END-TO-END bytes carry a direct anchor beside
    * the golden pinning. */
  def ddlReportAgg(s: SparkSession, dir: String): DataFrame = {
    val root = ddlRowsDir(s)
    s.read.parquet(s"$root/report_lines")
      .groupBy("script_id")
      .agg(
        sha2(concat_ws("\n",
          transform(
            array_sort(collect_list(struct(col("line_no"), col("line")))),
            x => x.getField("line"))), 256).as("report_sha"),
        count(lit(1)).cast("int").as("n_lines"))
      .orderBy("script_id")
  }

  /** The conversion-report sink's hash anchor (same machinery as
    * [[ddlReportAgg]] over the conversion report's lines). */
  def ddlConversionReportAgg(s: SparkSession, dir: String): DataFrame = {
    val root = ddlRowsDir(s)
    s.read.parquet(s"$root/conv_report_lines")
      .groupBy("script_id")
      .agg(
        sha2(concat_ws("\n",
          transform(
            array_sort(collect_list(struct(col("line_no"), col("line")))),
            x => x.getField("line"))), 256).as("report_sha"),
        count(lit(1)).cast("int").as("n_lines"))
      .orderBy("script_id")
  }

  /** The A2–A8 per-script aggregation over the materialized rows —
    * identical semantics to [[ddlAssess]]/`Engine.assessReport`, but
    * with the component means routed DOUBLE-deterministically
    * (DECIMAL sum → double → ÷count, so partial-agg order and engine
    * division scales can't move bits) and a DuckDB oracle doing the
    * same arithmetic over the same parquet. */
  def ddlAssessAgg(s: SparkSession, dir: String): DataFrame = {
    val root = ddlRowsDir(s)
    val rows = s.read.parquet(s"$root/assess")
    def mean(c: String) =
      sum(col(c).cast("decimal(18,6)")).cast("double") / count(lit(1))
    val g = rows.groupBy("script_id").agg(
      count(lit(1)).cast("int").as("tables_total"),
      sum(when(col("can_auto_convert"), 1).otherwise(0))
        .cast("int").as("tables_auto"),
      sum(when(!col("can_auto_convert") && col("n_critical") === 0, 1)
        .otherwise(0)).cast("int").as("tables_manual"),
      sum(when(!col("can_auto_convert") && col("n_critical") > 0, 1)
        .otherwise(0)).cast("int").as("tables_blocked"),
      sum(col("column_count")).cast("int").as("total_columns"),
      sum(col("constraint_count")).cast("int").as("total_constraints"),
      sum(col("n_critical")).cast("int").as("critical_issues"),
      sum(col("n_warning")).cast("int").as("warning_issues"),
      sum(col("n_info")).cast("int").as("info_issues"),
      mean("datatype_score").as("d_raw"),
      mean("constraint_score").as("c_raw"),
      mean("partition_score").as("p_raw"),
      mean("special_score").as("s_raw"))
      .withColumn("o_raw",
        col("d_raw") * 0.40 + col("c_raw") * 0.20 +
          col("p_raw") * 0.15 + col("s_raw") * 0.25)
    g.select(col("script_id"), col("tables_total"), col("tables_auto"),
        col("tables_manual"), col("tables_blocked"), col("total_columns"),
        col("total_constraints"), col("critical_issues"),
        col("warning_issues"), col("info_issues"),
        round(col("d_raw"), 4).as("datatype_score"),
        round(col("c_raw"), 4).as("constraint_score"),
        round(col("p_raw"), 4).as("partition_score"),
        round(col("s_raw"), 4).as("special_features_score"),
        round(col("o_raw"), 4).as("overall_score"),
        when(col("o_raw") >= 80, "green").when(col("o_raw") >= 50, "yellow")
          .otherwise("red").as("overall_level"))
      .orderBy("script_id")
  }

  /** The §2.6 multi-level ROLLUP over the materialized rows under the
    * hard oracle (per-table / per-schema / per-script / grand total in
    * one aggregation; DuckDB's GROUPING_ID agrees with Spark's). */
  def ddlRollupAgg(s: SparkSession, dir: String): DataFrame = {
    val root = ddlRowsDir(s)
    val rows = s.read.parquet(s"$root/assess")
    def mean(c: String) =
      sum(col(c).cast("decimal(18,6)")).cast("double") / count(lit(1))
    rows.rollup(col("script_id"), col("schema_name"), col("table_name"))
      .agg(
        grouping_id().cast("int").as("agg_level"),
        count(lit(1)).cast("int").as("tables_total"),
        sum(when(col("can_auto_convert"), 1).otherwise(0))
          .cast("int").as("tables_auto"),
        sum(col("n_critical")).cast("int").as("critical_issues"),
        sum(col("n_warning")).cast("int").as("warning_issues"),
        round(mean("datatype_score"), 4).as("datatype_score"),
        round(mean("constraint_score"), 4).as("constraint_score"),
        round(mean("partition_score"), 4).as("partition_score"),
        round(mean("special_score"), 4).as("special_features_score"),
        round(mean("datatype_score") * 0.40 + mean("constraint_score") * 0.20 +
          mean("partition_score") * 0.15 + mean("special_score") * 0.25, 4)
          .as("overall_score"))
      .orderBy(col("agg_level"), col("script_id").asc_nulls_first,
        col("schema_name").asc_nulls_first, col("table_name").asc_nulls_first)
  }

  /** A1 type distribution over the materialized rows (hash oracle). */
  def ddlTypeDistAgg(s: SparkSession, dir: String): DataFrame = {
    val root = ddlRowsDir(s)
    s.read.parquet(s"$root/types")
      .groupBy(col("script_id"), col("base_type"))
      .agg(sum(col("n_cols")).cast("int").as("n_columns"))
      .orderBy("script_id", "base_type")
  }

  /** A9 feature usage over the materialized rows (hash oracle). */
  def ddlFeaturesAgg(s: SparkSession, dir: String): DataFrame = {
    val root = ddlRowsDir(s)
    val f = s.read.parquet(s"$root/features")
    f.groupBy("script_id").agg(
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
      .orderBy("script_id")
  }

  /** Parsed table inventory over scripts. */
  def ddlTables(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Engine.parseDb2(db2Scripts(s, 8))
      .map(st => (st.scriptId, st.tablePos, st.table.fullName,
        st.table.columns.length, st.table.constraints.length,
        st.table.volatileTable || st.table.globalTemporary))
      .toDF("script_id", "table_pos", "full_name", "n_columns", "n_constraints", "is_temp")
      .orderBy("script_id", "table_pos")
  }

  /** Per-script conversion results (ordered string agg output). */
  def ddlConvert(s: SparkSession, dir: String): DataFrame =
    Engine.convertDb2(Engine.parseDb2(db2Scripts(s, 8)))
      .withColumn("ddl_sha", sha2(col("iceberg_ddl"), 256))
      .drop("iceberg_ddl")
      .orderBy("script_id")

  /** Per-script assessment reports (A2-A8 rollup). */
  def ddlAssess(s: SparkSession, dir: String): DataFrame =
    Engine.assessReport(Engine.assessRows(Engine.parseDb2(db2Scripts(s, 8))))
      .withColumn("overall_score", round(col("overall_score"), 4))
      .withColumn("datatype_score", round(col("datatype_score"), 4))
      .withColumn("constraint_score", round(col("constraint_score"), 4))
      .withColumn("partition_score", round(col("partition_score"), 4))
      .withColumn("special_features_score", round(col("special_features_score"), 4))
      .orderBy("script_id")

  /** Per-table ∪ per-schema ∪ per-script ∪ grand-total readiness
    * rollup (SURVEY §2.6's generalization of the reference's two-loop
    * per-table + global report) — every level from one aggregation. */
  def ddlRollup(s: SparkSession, dir: String): DataFrame =
    Engine.assessRollup(Engine.assessRows(Engine.parseDb2(db2Scripts(s, 8))))
      .withColumn("overall_score", round(col("overall_score"), 4))
      .withColumn("datatype_score", round(col("datatype_score"), 4))
      .withColumn("constraint_score", round(col("constraint_score"), 4))
      .withColumn("partition_score", round(col("partition_score"), 4))
      .withColumn("special_features_score", round(col("special_features_score"), 4))
      .orderBy(col("agg_level"), col("script_id").asc_nulls_first,
        col("schema").asc_nulls_first, col("table_name").asc_nulls_first)

  /** A1 type-distribution rollup. */
  def ddlTypeDistribution(s: SparkSession, dir: String): DataFrame =
    Engine.typeDistribution(Engine.assessRows(Engine.parseDb2(db2Scripts(s, 8))))
      .orderBy("script_id", "base_type")

  /** A9 feature-usage rollup. */
  def ddlFeatures(s: SparkSession, dir: String): DataFrame =
    Engine.featureUsage(Engine.parseDb2(db2Scripts(s, 8)))
      .orderBy("script_id")

  /** Snowflake-path conversion over scripts. */
  def sfConvert(s: SparkSession, dir: String): DataFrame =
    Engine.convertSnowflake(sfScripts(s, 8))
      .withColumn("ddl_sha", sha2(col("iceberg_ddl"), 256))
      .drop("iceberg_ddl")
      .orderBy("script_id")

  /** S8 report sink: the assessment PDF's paginated text per script
    * (one row per report line; golden-pinned byte-identically to the
    * reference's generate_assessment_pdf via
    * `tools/gen_report_golden.py`; fixed timestamp for determinism). */
  def ddlReport(s: SparkSession, dir: String): DataFrame =
    Engine.reportLines(db2Scripts(s, 8), generatedAt = "2026-01-01 00:00:00")
      .orderBy("script_id", "line_no")

  /** Conversion-report sink (app.py:266-411 parity, same golden
    * machinery as ddl_report). */
  def ddlConversionReport(s: SparkSession, dir: String): DataFrame =
    Engine.conversionReportLines(db2Scripts(s, 8), generatedAt = "2026-01-01 00:00:00")
      .orderBy("script_id", "line_no")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ddl_tables" -> (ddlTables _),
    "ddl_convert" -> (ddlConvert _),
    "ddl_assess" -> (ddlAssess _),
    "ddl_rollup" -> (ddlRollup _),
    "ddl_type_distribution" -> (ddlTypeDistribution _),
    "ddl_features" -> (ddlFeatures _),
    "sf_convert" -> (sfConvert _),
    "ddl_report" -> (ddlReport _),
    "ddl_conversion_report" -> (ddlConversionReport _),
    "ddl_assess_agg" -> (ddlAssessAgg _),
    "ddl_rollup_agg" -> (ddlRollupAgg _),
    "ddl_type_dist_agg" -> (ddlTypeDistAgg _),
    "ddl_features_agg" -> (ddlFeaturesAgg _),
    "ddl_convert_agg" -> (ddlConvertAgg _),
    "sf_convert_agg" -> (sfConvertAgg _),
    "ddl_report_agg" -> (ddlReportAgg _),
    "ddl_conversion_report_agg" -> (ddlConversionReportAgg _),
  )

  /** Hash oracles for the aggregate layer: DuckDB recomputes the SAME
    * aggregation over the SAME materialized parquet the Spark queries
    * read (the parse beneath it stays golden/fuzz-pinned). The means
    * route DECIMAL-sum → DOUBLE → ÷count in both engines so neither
    * partial-agg order nor division-scale rules can move bits. */
  val oracleSql: Map[String, String] = {
    val root = DdlRowsRoot
    val meansSql = Seq(
      "datatype_score" -> "d_raw", "constraint_score" -> "c_raw",
      "partition_score" -> "p_raw", "special_score" -> "s_raw")
      .map { case (c, a) =>
        s"CAST(sum(CAST($c AS DECIMAL(18,6))) AS DOUBLE)/count(*) AS $a"
      }.mkString(",\n        ")
    val overallSql =
      "d_raw*CAST(0.40 AS DOUBLE) + c_raw*CAST(0.20 AS DOUBLE) + " +
        "p_raw*CAST(0.15 AS DOUBLE) + s_raw*CAST(0.25 AS DOUBLE)"
    Map(
      "ddl_assess_agg" ->
        s"""WITH g AS (
           |  SELECT script_id,
           |    CAST(count(*) AS INT) AS tables_total,
           |    CAST(sum(CASE WHEN can_auto_convert THEN 1 ELSE 0 END) AS INT)
           |      AS tables_auto,
           |    CAST(sum(CASE WHEN NOT can_auto_convert AND n_critical = 0
           |      THEN 1 ELSE 0 END) AS INT) AS tables_manual,
           |    CAST(sum(CASE WHEN NOT can_auto_convert AND n_critical > 0
           |      THEN 1 ELSE 0 END) AS INT) AS tables_blocked,
           |    CAST(sum(column_count) AS INT) AS total_columns,
           |    CAST(sum(constraint_count) AS INT) AS total_constraints,
           |    CAST(sum(n_critical) AS INT) AS critical_issues,
           |    CAST(sum(n_warning) AS INT) AS warning_issues,
           |    CAST(sum(n_info) AS INT) AS info_issues,
           |    $meansSql
           |  FROM read_parquet('$root/assess/*.parquet')
           |  GROUP BY script_id)
           |SELECT script_id, tables_total, tables_auto, tables_manual,
           |  tables_blocked, total_columns, total_constraints,
           |  critical_issues, warning_issues, info_issues,
           |  round(d_raw, 4) AS datatype_score,
           |  round(c_raw, 4) AS constraint_score,
           |  round(p_raw, 4) AS partition_score,
           |  round(s_raw, 4) AS special_features_score,
           |  round($overallSql, 4) AS overall_score,
           |  CASE WHEN $overallSql >= 80 THEN 'green'
           |    WHEN $overallSql >= 50 THEN 'yellow'
           |    ELSE 'red' END AS overall_level
           |FROM g ORDER BY script_id""".stripMargin,
      "ddl_rollup_agg" ->
        s"""WITH g AS (
           |  SELECT
           |    CAST(GROUPING_ID(script_id, schema_name, table_name) AS INT)
           |      AS agg_level,
           |    script_id, schema_name, table_name,
           |    CAST(count(*) AS INT) AS tables_total,
           |    CAST(sum(CASE WHEN can_auto_convert THEN 1 ELSE 0 END) AS INT)
           |      AS tables_auto,
           |    CAST(sum(n_critical) AS INT) AS critical_issues,
           |    CAST(sum(n_warning) AS INT) AS warning_issues,
           |    $meansSql
           |  FROM read_parquet('$root/assess/*.parquet')
           |  GROUP BY ROLLUP (script_id, schema_name, table_name))
           |SELECT agg_level, script_id, schema_name, table_name,
           |  tables_total, tables_auto, critical_issues, warning_issues,
           |  round(d_raw, 4) AS datatype_score,
           |  round(c_raw, 4) AS constraint_score,
           |  round(p_raw, 4) AS partition_score,
           |  round(s_raw, 4) AS special_features_score,
           |  round($overallSql, 4) AS overall_score
           |FROM g ORDER BY agg_level, script_id NULLS FIRST,
           |  schema_name NULLS FIRST, table_name NULLS FIRST""".stripMargin,
      "ddl_type_dist_agg" ->
        s"""SELECT script_id, base_type,
           |  CAST(sum(n_cols) AS INT) AS n_columns
           |FROM read_parquet('$root/types/*.parquet')
           |GROUP BY script_id, base_type
           |ORDER BY script_id, base_type""".stripMargin,
      "ddl_convert_agg" ->
        s"""SELECT script_id,
           |  sha256(string_agg(ddl, chr(10) || chr(10) ORDER BY table_pos))
           |    AS ddl_sha,
           |  CAST(sum(ewi) AS INT) AS ewi_count,
           |  CAST(count(*) AS INT) AS tables_converted
           |FROM read_parquet('$root/rendered/*.parquet')
           |GROUP BY script_id
           |ORDER BY script_id""".stripMargin,
      "sf_convert_agg" ->
        s"""SELECT script_id,
           |  sha256(string_agg(ddl, chr(10) || chr(10) ORDER BY table_pos))
           |    AS ddl_sha,
           |  CAST(sum(ewi) AS INT) AS ewi_count,
           |  CAST(count(*) AS INT) AS tables_converted,
           |  CAST(sum(n_critical) AS INT) AS critical_issues,
           |  CAST(sum(n_warning) AS INT) AS warning_issues,
           |  CAST(sum(n_info) AS INT) AS info_issues
           |FROM read_parquet('$root/sf_rendered/*.parquet')
           |GROUP BY script_id
           |ORDER BY script_id""".stripMargin,
      "ddl_features_agg" ->
        s"""SELECT script_id,
           |  CAST(sum(editproc) AS INT) AS editproc,
           |  CAST(sum(validproc) AS INT) AS validproc,
           |  CAST(sum(fieldproc) AS INT) AS fieldproc,
           |  CAST(sum(partitioning) AS INT) AS partitioning,
           |  CAST(sum(generated_columns) AS INT) AS generated_columns,
           |  CAST(sum(foreign_keys) AS INT) AS foreign_keys,
           |  CAST(sum(check_constraints) AS INT) AS check_constraints,
           |  CAST(sum(xml_columns) AS INT) AS xml_columns,
           |  CAST(sum(graphic_columns) AS INT) AS graphic_columns,
           |  CAST(sum(lob_columns) AS INT) AS lob_columns
           |FROM read_parquet('$root/features/*.parquet')
           |GROUP BY script_id
           |ORDER BY script_id""".stripMargin,
      "ddl_report_agg" ->
        s"""SELECT script_id,
           |  sha256(string_agg(line, chr(10) ORDER BY line_no))
           |    AS report_sha,
           |  CAST(count(*) AS INT) AS n_lines
           |FROM read_parquet('$root/report_lines/*.parquet')
           |GROUP BY script_id
           |ORDER BY script_id""".stripMargin,
      "ddl_conversion_report_agg" ->
        s"""SELECT script_id,
           |  sha256(string_agg(line, chr(10) ORDER BY line_no))
           |    AS report_sha,
           |  CAST(count(*) AS INT) AS n_lines
           |FROM read_parquet('$root/conv_report_lines/*.parquet')
           |GROUP BY script_id
           |ORDER BY script_id""".stripMargin,
    )
  }
}
