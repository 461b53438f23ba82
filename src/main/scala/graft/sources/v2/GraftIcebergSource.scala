package graft.sources.v2

import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.connector.catalog.SupportsWrite
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.model.TableDef
import graft.sources.{IcebergPruning, IcebergSnapshot, IcebergTableLoader}
import graft.sources.IcebergPruning.ColumnBound

/** The IDIOMATIC read face over the engine's Iceberg v2 tables —
  * `spark.read.format("graft-iceberg").load(tablePath)` — with
  * Catalyst FILTER PUSHDOWN driving stats-based file pruning: the
  * `.filter($"status" === "F")` every Spark user writes reaches
  * [[IcebergPruning]] exactly like the explicit
  * `readSnapshot(pruning = Seq(ColumnBound…))` API, instead of
  * silently scanning every live file. This is the 100 TB lever made
  * reachable: a selective predicate over a partitioned/bucketed/
  * stats-bounded table opens only the files that can match.
  *
  * Architecture: a DataSource V2 [[TableProvider]] whose
  * [[ScanBuilder]] implements [[SupportsPushDownFilters]] +
  * [[SupportsPushDownRequiredColumns]], building a [[V1Scan]] that
  * delegates execution to the existing snapshot reader (identity
  * restore, merge-on-read deletes, schema evolution by field id —
  * re-implementing those inside a PartitionReader would duplicate the
  * whole read path). Pushed filters translate BEST-EFFORT into
  * [[ColumnBound]]s for FILE pruning; every filter is also returned
  * to Spark for row-level re-evaluation, so an untranslatable or
  * partially-translated predicate can only cost work, never rows.
  * The schema comes from the table's own metadata
  * ([[IcebergTableLoader]]) — no DDL in hand, like any real Iceberg
  * reader.
  *
  * Read options: `snapshot-id` (time travel) or `ref` (a named tag or
  * branch; `main` is the current head). A predicate shape with no
  * bound translation just doesn't prune. Column pruning projects
  * before the V1 hand-off, so the parquet scans read only the
  * requested columns.
  *
  * Observability: every executed scan records a
  * [[GraftIcebergScans.ScanReport]] (kept/skipped file lists + the
  * translated bounds) — the "files scanned / files skipped" a real
  * engine surfaces, and what PlanSpec pins file-exactness on. */
class GraftIcebergSource extends TableProvider with DataSourceRegister
    with StreamSourceProvider with StreamSinkProvider
    with CreatableRelationProvider {

  override def shortName(): String = "graft-iceberg"

  // user-supplied schemas are refused (supportsExternalMetadata stays
  // false): the table metadata is the single source of truth
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (tdef, _, _) = GraftIcebergSource.resolve(options)
    graft.api.SchemaTranslator.toSparkSchema(tdef)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val (tdef, path, snapshotId) = GraftIcebergSource.resolve(options)
    new GraftIcebergTable(path, tdef, snapshotId)
  }

  // ------------------------------------------------------- streaming
  // V1 StreamSourceProvider face — `spark.readStream.format(
  // "graft-iceberg")` tails the table's committed snapshots; see
  // GraftIcebergStreamSource for offsets/semantics.

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), GraftIcebergStreamSource.schemaOf(parameters))

  override def createSource(sqlContext: SQLContext,
      metadataPath: String, schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source =
    new GraftIcebergStreamSource(sqlContext.sparkSession, parameters)

  // V1 batch-save face — DataFrameWriter routes fresh-path saves (a
  // "create table as select" for a non-catalog provider) through
  // CreatableRelationProvider; existing-table appends/overwrites ride
  // the V2 table's V1Write. Both delegate to the same writers.
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.Dataset[Row]): BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val options = new CaseInsensitiveStringMap(
      scala.jdk.CollectionConverters.MapHasAsJava(parameters).asJava)
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-iceberg needs a table path: .save(<tablePath>)"))
    val tdef = GraftIcebergSource.tableDefFor(path, options)
    val exists = GraftIcebergSource.tableExists(path)
    val ordered = data.select(tdef.columns.map(c =>
      org.apache.spark.sql.functions.col(c.name)): _*)
    mode match {
      case SaveMode.Overwrite =>
        graft.api.SchemaTranslator.migrateTable(ordered, tdef, path,
            timestampMs = System.currentTimeMillis())
      case SaveMode.Append =>
        if (exists) graft.api.SchemaTranslator.appendIncrement(ordered, tdef, path,
            timestampMs = System.currentTimeMillis())
        else graft.api.SchemaTranslator.migrateTable(ordered, tdef, path,
            timestampMs = System.currentTimeMillis())
      case SaveMode.ErrorIfExists =>
        require(!exists, s"table already exists at $path (mode ErrorIfExists)")
        graft.api.SchemaTranslator.migrateTable(ordered, tdef, path,
            timestampMs = System.currentTimeMillis())
      case SaveMode.Ignore =>
        if (!exists)
          graft.api.SchemaTranslator.migrateTable(ordered, tdef, path,
            timestampMs = System.currentTimeMillis())
    }
    val outer = sqlContext
    new BaseRelation {
      override def sqlContext: SQLContext = outer
      override def schema: StructType =
        graft.api.SchemaTranslator.toSparkSchema(tdef)
    }
  }

  // V1 StreamSinkProvider face — `df.writeStream.format("graft-iceberg")
  // .start(tablePath)` lands exactly-once snapshots; see
  // GraftIcebergStreamSink for modes/options.
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append()
        || outputMode == org.apache.spark.sql.streaming.OutputMode.Update(),
      s"graft-iceberg sink supports Append/Update output, got $outputMode " +
        "(Complete would rewrite the table every batch)")
    new GraftIcebergStreamSink(parameters, partitionColumns)
  }
}

object GraftIcebergSource {

  /** True when `path` holds a created table (a version hint exists —
    * the same signal every reader follows). */
  private[v2] def tableExists(path: String): Boolean = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val hint = new org.apache.hadoop.fs.Path(path, "metadata/version-hint.text")
    org.apache.hadoop.fs.FileSystem.get(hint.toUri, conf).exists(hint)
  }

  /** The TableDef governing `path`: the table's own metadata when it
    * exists (the single source of truth), else the `create-ddl` option
    * — a DB2 CREATE TABLE script — for write faces that BOOTSTRAP the
    * table on first commit. */
  private[v2] def tableDefFor(path: String,
      options: CaseInsensitiveStringMap): TableDef =
    if (tableExists(path))
      IcebergTableLoader.load(path,
        SparkSession.active.sparkContext.hadoopConfiguration)
    else Option(options.get("create-ddl")).map(ddl =>
      graft.parse.Db2Parser.parse(ddl).tables.headOption.getOrElse(
        throw new IllegalArgumentException(
          "create-ddl parsed no CREATE TABLE statement")))
      .getOrElse(throw new IllegalArgumentException(
        s"no Iceberg table at $path — pass option(\"create-ddl\", " +
          "\"CREATE TABLE ...\") to bootstrap one on first write"))

  /** (TableDef from metadata, table path, resolved time-travel
    * snapshot id) for a read-options map. `ref` resolves through the
    * metadata's refs map (`main` = current). */
  private[v2] def resolve(options: CaseInsensitiveStringMap)
      : (TableDef, String, Option[Long]) = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-iceberg needs a table path: spark.read" +
          ".format(\"graft-iceberg\").load(<tablePath>)"))
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val tdef = tableDefFor(path, options)
    val bySnapshot = Option(options.get("snapshot-id")).map(_.toLong)
    val byRef = Option(options.get("ref")).filterNot(_ == "main").map { r =>
      IcebergSnapshot.listRefs(path, conf).collectFirst {
        case (n, sid, _) if n == r => sid
      }.getOrElse(throw new IllegalArgumentException(s"no ref $r in $path"))
    }
    require(bySnapshot.isEmpty || byRef.isEmpty,
      "pass snapshot-id OR ref, not both")
    (tdef, path, bySnapshot.orElse(byRef))
  }

  /** Best-effort translation of Catalyst-pushed source filters into
    * pruning bounds. Conservative by construction: untranslatable
    * filters (OR trees, functions, nested fields, unknown or
    * non-comparable-type columns, null-containing IN lists) simply
    * contribute no bound — Spark re-evaluates every filter row-level
    * regardless, so translation can only skip files, never rows.
    * Strict inequalities translate to their inclusive closure (file
    * granularity cannot distinguish them; the row filter restores
    * strictness). */
  private[v2] def translate(table: TableDef, filters: Seq[Filter]): Seq[ColumnBound] = {
    def ok(col: String): Boolean =
      table.columns.exists(_.name == col) &&
        IcebergPruning.isComparableType(
          IcebergPruning.icebergTypeOf(table, col))
    filters.flatMap {
      case EqualTo(c, v) if ok(c) && v != null => Seq(ColumnBound.eq(c, v))
      case EqualNullSafe(c, null) if ok(c) => Seq(ColumnBound.isNull(c))
      case EqualNullSafe(c, v) if ok(c) => Seq(ColumnBound.eq(c, v))
      case GreaterThan(c, v) if ok(c) && v != null =>
        Seq(ColumnBound.gt(c, v))
      case GreaterThanOrEqual(c, v) if ok(c) && v != null =>
        Seq(ColumnBound(c, lower = Some(v)))
      case LessThan(c, v) if ok(c) && v != null =>
        Seq(ColumnBound.lt(c, v))
      case LessThanOrEqual(c, v) if ok(c) && v != null =>
        Seq(ColumnBound(c, upper = Some(v)))
      case In(c, vs) if ok(c) && vs.nonEmpty && !vs.contains(null) =>
        Seq(ColumnBound.in(c, vs.toSeq))
      case IsNull(c) if ok(c) => Seq(ColumnBound.isNull(c))
      case IsNotNull(c) if ok(c) => Seq(ColumnBound.notNull(c))
      // a prefix predicate is a RANGE over strings: matches live in
      // [p, nextPrefix(p)) — the upper side is STRICT (a file whose
      // min is exactly nextPrefix(p) holds no match); the row filter
      // restores exactness either way
      case StringStartsWith(c, p) if ok(c) && p != null && p.nonEmpty &&
          IcebergPruning.icebergTypeOf(table, c) == "string" =>
        val up = prefixUpper(p)
        Seq(ColumnBound(c, lower = Some(p), upper = up,
          upperExclusive = up.isDefined))
      case And(l, r) => translate(table, Seq(l)) ++ translate(table, Seq(r))
      case _ => Nil
    }
  }

  /** v1 `Filter` → Catalyst `Column`, defined ONLY over shapes whose
    * row semantics translate exactly — `None` refuses, which
    * [[GraftIcebergTable.canDeleteWhere]] turns into a loud analysis
    * error instead of a wrong-set delete. (The read path never needs
    * this: untranslated filters there just don't prune.) */
  private[v2] def filterToColumn(f: Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case EqualTo(c, v) => Some(col(c) === lit(v))
      case EqualNullSafe(c, v) => Some(col(c) <=> lit(v))
      case GreaterThan(c, v) => Some(col(c) > lit(v))
      case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
      case LessThan(c, v) => Some(col(c) < lit(v))
      case LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
      case In(c, vs) => Some(col(c).isin(vs.toIndexedSeq.map(lit): _*))
      case IsNull(c) => Some(col(c).isNull)
      case IsNotNull(c) => Some(col(c).isNotNull)
      case StringStartsWith(c, p) => Some(col(c).startsWith(p))
      case StringEndsWith(c, p) => Some(col(c).endsWith(p))
      case StringContains(c, p) => Some(col(c).contains(p))
      case And(l, r) =>
        for { a <- filterToColumn(l); b <- filterToColumn(r) } yield a && b
      case Or(l, r) =>
        for { a <- filterToColumn(l); b <- filterToColumn(r) } yield a || b
      case Not(x) => filterToColumn(x).map(!_)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  /** The smallest string just past every string with prefix `p`:
    * increment the rightmost non-￿ char and truncate after it.
    * None when p is all ￿ (no finite upper — the lower bound
    * alone still prunes). */
  private[v2] def prefixUpper(p: String): Option[String] = {
    val i = p.lastIndexWhere(_ != '￿')
    if (i < 0) None
    else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
  }
}

/** One executed graft-iceberg scan's observable plan. */
object GraftIcebergScans {
  final case class ScanReport(tablePath: String, snapshotId: Option[Long],
      bounds: Seq[ColumnBound], keptFiles: Seq[String],
      skippedFiles: Seq[String])

  private val last = new AtomicReference[Option[ScanReport]](None)

  private[v2] def record(r: ScanReport): Unit = last.set(Some(r))

  /** The most recent scan's report (driver-side; test/monitoring
    * surface — the kept list IS the file set the scan read). */
  def lastReport: Option[ScanReport] = last.get()

  def clear(): Unit = last.set(None)
}

private[v2] class GraftIcebergTable(path: String, tdef: TableDef,
    snapshotId: Option[Long]) extends Table with SupportsRead
    with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  // the row-level rewrite (GraftRowLevelRewrite) reads these to build
  // its UPDATE/MERGE commands over the same write machinery
  private[v2] def tablePath0: String = path
  private[v2] def tableDef0: TableDef = tdef
  private[v2] def timeTravelId0: Option[Long] = snapshotId

  override def name(): String = s"graft-iceberg.`$path`"

  override def schema(): StructType =
    graft.api.SchemaTranslator.toSparkSchema(tdef)

  override def capabilities(): java.util.Set[TableCapability] = {
    val base: Set[TableCapability] =
      Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
        TableCapability.TRUNCATE)
    // opt-in `MERGE ... WITH SCHEMA EVOLUTION`: with the conf on,
    // Spark's own ResolveMergeIntoSchemaEvolution computes the
    // ADD-ONLY column changes from the source schema and routes them
    // through the catalog's alterTable before the merge resolves —
    // the analyzer surface real lakehouse connectors use. The default
    // stays a loud refusal (GraftRowLevelRewrite): silently mutating
    // a table's schema from a DML statement is a wrongness risk a
    // migration pipeline must choose explicitly. Changes beyond
    // add-column refuse inside alterTable (flat, widen-only rules).
    val auto = org.apache.spark.sql.SparkSession.getActiveSession
      .exists(_.conf.get("graft.merge.schema-evolution", "false").toBoolean)
    (if (auto) base + TableCapability.AUTOMATIC_SCHEMA_EVOLUTION
     else base).asJava
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftIcebergScanBuilder(path, tdef, snapshotId, schema())

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(snapshotId.isEmpty,
      "cannot write to a time-travel/ref read — load the table without " +
        "snapshot-id/ref to write")
    new GraftIcebergWriteBuilder(path, tdef)
  }

  /** SQL `DELETE FROM t WHERE …` — the idiomatic face over
    * [[graft.sources.IcebergDeletes.commitPositionDeletes]]: one
    * merge-on-read DELETE snapshot of position delete files, row-exact
    * for ANY translatable predicate (not just partition-aligned ones —
    * the engine's delete machinery matches rows, so there is no
    * "metadata-only or refuse" cliff). Untranslatable predicate shapes
    * refuse in [[canDeleteWhere]], which Spark surfaces as a loud
    * analysis error rather than a partial delete. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    snapshotId.isEmpty &&
      filters.forall(GraftIcebergSource.filterToColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(snapshotId.isEmpty,
      "cannot delete through a time-travel/ref read")
    // a DELETE commits to MAIN; under an active WAP staging conf that
    // would silently break the branch's isolation story — refuse
    require(Option(SparkSession.active.conf
      .get("graft.wap.branch", null)).forall(_.isEmpty),
      "graft.wap.branch is set: DELETE FROM writes to main, not the " +
        "audit branch — publish/abandon the branch or unset the conf")
    val cols = filters.toSeq.map(f =>
      GraftIcebergSource.filterToColumn(f).getOrElse(
        throw new IllegalArgumentException(
          s"DELETE predicate $f is not translatable — canDeleteWhere " +
            "should have refused this plan")))
    val pred = cols.reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    // optimistic-concurrency: commitPositionDeletes re-reads the head
    // each call and re-derives its (file, pos) set from it, so the
    // whole call is the correct retry unit — a DELETE racing an
    // append re-matches against the new head instead of surfacing
    // CommitConflictException to the SQL user (the loser's
    // first-attempt delete files become sweepable orphans)
    IcebergSnapshot.withCommitRetry() {
      graft.sources.IcebergDeletes.commitPositionDeletes(
        SparkSession.active, tdef, path, pred,
        timestampMs = System.currentTimeMillis(),
        // the same best-effort file pruning the read faces use: a
        // selective DELETE opens only the files that can match
        pruning = GraftIcebergSource.translate(tdef, filters.toSeq))
    }
    ()
  }
}

/** The batch WRITE face — `df.write.format("graft-iceberg")
  * .mode("append"|"overwrite").save(path)`:
  *  - append on an existing table commits one parent-linked increment
  *    snapshot ([[graft.api.SchemaTranslator.appendIncrement]]);
  *  - append on an uncreated path (with `create-ddl`) or overwrite
  *    anywhere runs the full migration shape
  *    ([[graft.api.SchemaTranslator.migrateTable]]) — data files,
  *    CREATE metadata, committed snapshot.
  * Declared via the sanctioned [[V1Write]] hand-off (the JDBC-source
  * pattern): the existing writers already are whole-DataFrame
  * distributed writes plus one atomic driver-side commit — re-shaping
  * them into per-partition DataWriters would serialize the COMMIT
  * logic into tasks that must not own it. */
private[v2] class GraftIcebergWriteBuilder(path: String, tdef: TableDef)
    extends WriteBuilder with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwriteArg: Boolean): Unit = {
          val replace = overwrite || overwriteArg
          // order by the DECLARED schema (the V1 hand-off is
          // positional) and let the writer cast/stamp field ids
          val ordered = data.select(tdef.columns.map(c =>
            org.apache.spark.sql.functions.col(c.name)): _*)
          // write-audit-publish via pure SQL: with the session conf
          // `graft.wap.branch` set (Iceberg's spark.wap.branch
          // pattern), INSERT INTO stages on that audit branch — main
          // readers see nothing until the branch is published
          // (fastForwardMain) or abandoned. Overwrites/bootstraps
          // refuse under WAP: staging a table REPLACEMENT on a branch
          // has no publish semantics in the fast-forward model.
          val wapBranch = Option(
            data.sparkSession.conf.get("graft.wap.branch", null))
            .filter(_.nonEmpty)
          if (replace || !GraftIcebergSource.tableExists(path)) {
            require(wapBranch.isEmpty,
              s"graft.wap.branch=${wapBranch.getOrElse("")} is set but " +
                "this write is an overwrite/bootstrap — WAP stages " +
                "APPENDS on existing tables; unset the conf or append")
            graft.api.SchemaTranslator.migrateTable(ordered, tdef, path,
              timestampMs = System.currentTimeMillis())
          }
          else wapBranch match {
            case Some(b) =>
              graft.api.SchemaTranslator.stageAppendToBranch(
                ordered, tdef, path, b)
            case None =>
              graft.api.SchemaTranslator.appendIncrement(ordered, tdef, path,
                timestampMs = System.currentTimeMillis())
          }
        }
      }
  }
}

private[v2] class GraftIcebergScanBuilder(path: String, tdef: TableDef,
    snapshotId: Option[Long], fullSchema: StructType) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // accept (for FILE pruning) exactly the filters that translate;
    // return ALL filters as post-scan residuals — Spark re-evaluates
    // them row-level, so pruning stays a pure optimization
    pushed = filters.filter(f =>
      GraftIcebergSource.translate(tdef, Seq(f)).nonEmpty)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // keep metadata-requested order but our declared field instances
    // (empty projections — count(*) — keep one narrowest column)
    val byName = fullSchema.fields.map(f => f.name -> f).toMap
    val fields = requiredSchema.fieldNames.flatMap(byName.get)
    required =
      if (fields.isEmpty) StructType(Seq(fullSchema.fields.head))
      else StructType(fields)
  }

  override def build(): Scan = {
    // storage-partitioned-join path: when the session has SPJ enabled
    // and the layout qualifies (single bucket spec, no deletes, no
    // evolution), serve the key-grouped native batch scan so
    // bucket-aligned joins skip their exchanges; everything else —
    // including SPJ-ineligible layouts under the same conf — rides
    // the general V1 delegating scan
    val spark = SparkSession.active
    val spj = spark.conf
      .get("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean
    (if (spj) GraftSpj.tryBuild(spark, path, tdef, snapshotId, required,
      pushed) else None)
      .getOrElse(new GraftIcebergScan(path, tdef, snapshotId, required,
        pushed))
  }
}

private[v2] class GraftIcebergScan(path: String, tdef: TableDef,
    snapshotId: Option[Long], required: StructType,
    pushed: Array[Filter]) extends V1Scan {

  override def readSchema(): StructType = required

  override def description(): String = {
    val bounds = GraftIcebergSource.translate(tdef, pushed.toSeq)
    s"graft-iceberg $path snapshot=${snapshotId.getOrElse("current")} " +
      s"bounds=${bounds.mkString(",")}"
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new GraftIcebergRelation(context, path, tdef, snapshotId, required,
      pushed).asInstanceOf[T]
}

private[v2] class GraftIcebergRelation(context: SQLContext, path: String,
    tdef: TableDef, snapshotId: Option[Long], required: StructType,
    pushed: Array[Filter]) extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = context

  override def schema: StructType = required

  // rows are handed over as InternalRow (the established V1-relation
  // fast path) — no extra Row conversion layer on a 100 TB scan
  override def needConversion: Boolean = false

  override def buildScan(): RDD[Row] = {
    val spark = context.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val bounds = GraftIcebergSource.translate(tdef, pushed.toSeq)
    // the observable plan: what was kept, what was skipped, and why
    val (kept, skipped) =
      IcebergPruning.planScan(conf, path, tdef, bounds, snapshotId)
    GraftIcebergScans.record(GraftIcebergScans.ScanReport(
      path, snapshotId, bounds, kept, skipped))
    val raw = IcebergSnapshot.readSnapshot(spark, path, tdef, snapshotId,
      pruning = bounds)
    // normalize to the DECLARED schema (identity-restored columns ride
    // string-surfaced at scan level), then project the pruned columns
    val declared = graft.api.SchemaTranslator.toSparkSchema(tdef)
    val projected = raw.select(required.fieldNames.toSeq.map { n =>
      org.apache.spark.sql.functions.col(n)
        .cast(declared(n).dataType).as(n)
    }: _*)
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}
