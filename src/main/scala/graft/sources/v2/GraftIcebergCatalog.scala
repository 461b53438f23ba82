package graft.sources.v2

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Literal, Transform}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.model.{Db2Column, PartitionSpecDef, TableDef}
import graft.sources.{IcebergMetadata, IcebergSnapshot, IcebergTableLoader}

/** SQL-catalog face over the engine's Iceberg v2 tables — the full
  * warehouse story for a SQL user:
  * {{{
  *   spark.conf: spark.sql.catalog.graft = graft.sources.v2.GraftIcebergCatalog
  *               spark.sql.catalog.graft.warehouse = /warehouse/root
  *   CREATE TABLE graft.db.t (k BIGINT NOT NULL, v STRING)
  *     PARTITIONED BY (bucket(16, k));
  *   INSERT INTO graft.db.t SELECT ...;   -- atomic increment snapshot
  *   SELECT * FROM graft.db.t WHERE k = 5; -- transparently file-pruned
  * }}}
  * Tables live at `<warehouse>/<namespace...>/<name>` in the
  * HadoopTables layout every other face (DSv2 reads, streaming
  * source/sinks, the explicit API) already speaks — a catalog table
  * IS a path table, so the faces compose freely.
  *
  * Scope — the supported DDL/DML surface: CREATE (identity /
  * bucket(N) / temporal / truncate partition transforms), CTAS,
  * REPLACE TABLE … AS SELECT and CREATE OR REPLACE (Spark's
  * non-staging ReplaceTableExec: drop + recreate + append), DROP,
  * list/exists, INSERT INTO (append snapshots via the table's
  * V1Write), INSERT OVERWRITE (one atomic overwrite snapshot),
  * TRUNCATE, SELECT with pushdown + time travel, DELETE/UPDATE/MERGE
  * (merge-on-read deltas via [[GraftRowLevelRewrite]]), ALTER TABLE
  * ADD/RENAME/DROP COLUMN and SET/UNSET TBLPROPERTIES (field-id
  * evolution through [[graft.sources.IcebergEvolution]]), and the
  * branch/tag DDL [[GraftSqlParser]] adds. RENAME TABLE refuses
  * (manifests record absolute paths); column type/nullability/comment
  * changes refuse (no writer surface).
  *
  * CREATE commits table metadata AND an empty append snapshot, so a
  * freshly created table reads as zero rows immediately (the same
  * legal empty-snapshot state delete-everything compaction produces)
  * and the first INSERT is an ordinary increment. */
class GraftIcebergCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  private def conf =
    SparkSession.active.sparkContext.hadoopConfiguration
  private def fs(p: Path): FileSystem = FileSystem.get(p.toUri, conf)

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String =
    (warehouse +: (ident.namespace() :+ ident.name()).toSeq).mkString("/")
  private def pathOf(namespace: Array[String]): String =
    (warehouse +: namespace.toSeq).mkString("/")

  private def isTableDir(p: Path): Boolean =
    fs(p).exists(new Path(p, "metadata/version-hint.text"))

  // ------------------------------------------------------------ tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path(pathOf(namespace))
    if (!fs(dir).exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs(dir).listStatus(dir).filter(_.isDirectory)
      .map(_.getPath).filter(isTableDir)
      .map(p => Identifier.of(namespace, p.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    val path = pathOf(ident)
    if (isTableDir(new Path(path)))
      return new GraftIcebergTable(path, IcebergTableLoader.load(path, conf), None)
    // Iceberg's metadata-table convention: `db.t.files` — the suffix
    // names an inspection view over the base table `db.t` (same shape
    // real Iceberg's SparkCatalog serves). Real tables shadow: a
    // directory literally named `db.t.files` wins above.
    val ns = ident.namespace()
    if (ns.nonEmpty && GraftIcebergMetaTable.Kinds.contains(ident.name())) {
      val basePath = pathOf(Identifier.of(ns.dropRight(1), ns.last))
      if (isTableDir(new Path(basePath)))
        return new GraftIcebergMetaTable(basePath, ident.name())
    }
    throw new NoSuchTableException(ident)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val path = pathOf(ident)
    if (isTableDir(new Path(path)))
      throw new TableAlreadyExistsException(ident)
    val tdef = GraftIcebergCatalog.toTableDef(ident, schema, partitions)
    fs(new Path(path)).mkdirs(new Path(path, "data"))
    IcebergMetadata.writeTableMetadata(tdef, path, conf)
    // an EMPTY committed snapshot: readable as zero rows at once, and
    // the first INSERT is a plain increment (no bootstrap special case)
    IcebergSnapshot.commitAppend(tdef, path, conf,
      timestampMs = System.currentTimeMillis(),
      extraProperties = properties.asScala.toMap)
    new GraftIcebergTable(path, IcebergTableLoader.load(path, conf), None)
  }

  /** SQL time travel — `SELECT … FROM t VERSION AS OF <x>`, where `x`
    * is a snapshot id or a named tag/branch (`main` = current). An
    * all-digit `x` tries the snapshot-id interpretation FIRST but
    * falls back to ref resolution when no retained snapshot has that
    * id — so a tag/branch named e.g. '20240101' stays reachable. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = pathOf(ident)
    if (!isTableDir(new Path(path))) throw new NoSuchTableException(ident)
    val head = IcebergSnapshot.TableHead.read(path, conf)
    val sid: Option[Long] =
      if (version == "main") None
      else {
        def refLookup: Option[Long] = head.refs.collectFirst {
          case (n, id, _) if n == version => id
        }
        // toLongOption, not toLong: an all-digit string longer than
        // Long.MaxValue is a legal TAG NAME and must fall through to
        // the ref lookup, not throw NumberFormatException
        val numeric: Option[Long] = version.toLongOption.filter(id =>
          id >= 0 && head.chain.exists(_.snapshotId == id))
        Some(numeric.orElse(refLookup).getOrElse(
          throw new IllegalArgumentException(
            s"VERSION AS OF '$version': no such retained snapshot id " +
              s"or tag/branch on ${ident.name()}")))
      }
    new GraftIcebergTable(path, head.tableDef, sid)
  }

  /** SQL time travel — `TIMESTAMP AS OF <t>`: the latest MAIN-ancestry
    * snapshot whose commit timestamp is ≤ `t` (Spark hands
    * MICROseconds). Branch-staged (WAP) snapshots are in the chain but
    * not main history, so the walk follows parent links from the
    * published head. Refuses a timestamp before the first commit. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val path = pathOf(ident)
    if (!isTableDir(new Path(path))) throw new NoSuchTableException(ident)
    val head = IcebergSnapshot.TableHead.read(path, conf)
    val ancestry = head.main.toSeq.flatMap(head.ancestry)
    val ms = Math.floorDiv(timestamp, 1000L)
    val snap = ancestry.find(_.timestampMs <= ms).getOrElse(
      throw new IllegalArgumentException(
        s"TIMESTAMP AS OF $ms ms: before the first commit of " +
          s"${ident.name()} (earliest retained: " +
          s"${ancestry.lastOption.map(_.timestampMs).getOrElse(0L)} ms)"))
    new GraftIcebergTable(path, head.tableDef, Some(snap.snapshotId))
  }

  /** ALTER TABLE wired to the engine's field-id-correct evolution
    * ([[graft.sources.IcebergEvolution]]): ADD/RENAME/DROP COLUMN and
    * SET/UNSET TBLPROPERTIES each commit one metadata version; the
    * TableDef reloads from metadata between changes so a multi-change
    * statement composes. Type/nullability/comment updates and nested
    * fields refuse loudly (the writers have no surface for them). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    import TableChange._
    val path = pathOf(ident)
    if (!isTableDir(new Path(path))) throw new NoSuchTableException(ident)
    def tdef = IcebergTableLoader.load(path, conf)
    def topLevel(fieldNames: Array[String]): String = {
      require(fieldNames.length == 1,
        s"nested field ${fieldNames.mkString(".")}: the engine's " +
          "schemas are flat")
      fieldNames.head
    }
    changes.foreach {
      case a: AddColumn =>
        val col = GraftIcebergCatalog.db2ColumnOf(
          StructField(topLevel(a.fieldNames()), a.dataType(),
            nullable = a.isNullable))
        graft.sources.IcebergEvolution.commitEvolution(
          graft.sources.IcebergEvolution.addColumn(tdef, col), path, conf)
        ()
      case r: RenameColumn =>
        graft.sources.IcebergEvolution.commitEvolution(
          graft.sources.IcebergEvolution.renameColumn(
            tdef, topLevel(r.fieldNames()), r.newName()), path, conf)
        ()
      case d: DeleteColumn =>
        graft.sources.IcebergEvolution.commitEvolution(
          graft.sources.IcebergEvolution.dropColumn(
            tdef, topLevel(d.fieldNames())), path, conf)
        ()
      case s: SetProperty =>
        IcebergSnapshot.setTableProperties(tdef, path,
          Map(s.property() -> Some(s.value())), conf)
      case rm: RemoveProperty =>
        IcebergSnapshot.setTableProperties(tdef, path,
          Map(rm.property() -> None), conf)
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change $other — the evolution surface " +
          "is add/rename/drop column and table properties (column type/" +
          "nullability/comment changes have no writer surface)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(pathOf(ident))
    val dropped = isTableDir(p) && fs(p).delete(p, true)
    // a later CREATE at this path restarts the version ladder — the
    // cached head must not survive into the next generation
    if (dropped) IcebergSnapshot.invalidateHeadCache(pathOf(ident), conf)
    dropped
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    // manifests and manifest lists record ABSOLUTE file paths (the
    // HadoopTables layout) — a directory move would orphan every one
    throw new UnsupportedOperationException(
      "rename would break the absolute paths recorded in manifests; " +
        "copy via CREATE + INSERT INTO ... SELECT instead")

  // --------------------------------------------------------- functions
  // the SPJ resolution surface: scans reporting KeyGroupedPartitioning
  // (bucket transforms) resolve `bucket` through the table's catalog

  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.isEmpty)
      GraftFunctions.names.map(Identifier.of(Array.empty[String], _))
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    (if (ident.namespace().isEmpty) GraftFunctions.load(ident.name())
    else None).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident))

  // -------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs(root).exists(root)) Array.empty
    else fs(root).listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filterNot(isTableDir).map(p => Array(p.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      val dir = new Path(pathOf(namespace))
      if (!fs(dir).exists(dir)) throw new NoSuchNamespaceException(namespace)
      fs(dir).listStatus(dir).filter(_.isDirectory).map(_.getPath)
        .filterNot(isTableDir).map(p => namespace :+ p.getName)
    }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val dir = new Path(pathOf(namespace))
      fs(dir).exists(dir) && !isTableDir(dir)
    }

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] =
    if (namespaceExists(namespace)) java.util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    val dir = new Path(pathOf(namespace))
    fs(dir).mkdirs(dir)
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "namespaces carry no metadata in this layout")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val dir = new Path(pathOf(namespace))
    if (!namespaceExists(namespace) || namespace.isEmpty) false
    else {
      require(cascade || fs(dir).listStatus(dir).isEmpty,
        s"namespace ${namespace.mkString(".")} is not empty")
      fs(dir).delete(dir, true)
    }
  }
}

object GraftIcebergCatalog {

  /** Spark create-table schema + transforms → the engine's TableDef,
    * refusing anything whose DB2→Iceberg→Spark round trip would not
    * land back on the requested type. */
  /** One Spark field → the DB2 column whose DB2→Iceberg→Spark round
    * trip lands back on the requested type; anything else refuses. */
  private[v2] def db2ColumnOf(f: StructField): Db2Column = f.dataType match {
    case IntegerType => Db2Column(f.name, "INTEGER", nullable = f.nullable)
    case LongType => Db2Column(f.name, "BIGINT", nullable = f.nullable)
    case FloatType => Db2Column(f.name, "REAL", nullable = f.nullable)
    case DoubleType => Db2Column(f.name, "DOUBLE", nullable = f.nullable)
    case StringType => Db2Column(f.name, "VARCHAR",
      length = Some(4000), nullable = f.nullable)
    case d: DecimalType => Db2Column(f.name, "DECIMAL",
      precision = Some(d.precision), scale = Some(d.scale),
      nullable = f.nullable)
    case DateType => Db2Column(f.name, "DATE", nullable = f.nullable)
    case TimestampNTZType =>
      Db2Column(f.name, "TIMESTAMP", nullable = f.nullable)
    case BooleanType => Db2Column(f.name, "BOOLEAN", nullable = f.nullable)
    case BinaryType => Db2Column(f.name, "VARBINARY",
      length = Some(4000), nullable = f.nullable)
    case other => throw new IllegalArgumentException(
      s"column ${f.name}: no DB2->Iceberg surface for Spark type " +
        s"$other (TIMESTAMP WITH LOCAL TIME ZONE included — declare " +
        "TIMESTAMP_NTZ)")
  }

  private[v2] def toTableDef(ident: Identifier, schema: StructType,
      partitions: Array[Transform]): TableDef = {
    def db2Of(f: StructField): Db2Column = db2ColumnOf(f)
    // every DSv2 transform the engine's layout surfaces express:
    // identity columns, bucket(N, col), the HIDDEN-PARTITIONING
    // temporal family (days(ts) …) and truncate(W, col) — Spark's
    // parser hands truncate's (width, col) in either argument order
    // depending on how the user spelled it, so both are accepted
    val fields: Seq[(String, String)] = partitions.toSeq.map { t =>
      val ref = t.references().head.fieldNames().mkString(".")
      def intArg: Int = t.arguments().collectFirst {
        case l: Literal[_] => l.value().toString.toInt
      }.getOrElse(throw new IllegalArgumentException(
        s"${t.name()}($ref): missing integer argument"))
      t.name() match {
        case "identity" => (ref, "identity")
        case "bucket" => (ref, s"bucket[$intArg]")
        case "years" | "year" => (ref, "year")
        case "months" | "month" => (ref, "month")
        case "days" | "day" => (ref, "day")
        case "hours" | "hour" => (ref, "hour")
        case "truncate" => (ref, s"truncate[$intArg]")
        case other => throw new IllegalArgumentException(
          s"unsupported partition transform $other — identity, " +
            "bucket(N, col), years/months/days/hours(col) and " +
            "truncate(W, col) are the writer's layout surfaces")
      }
    }
    val base = TableDef(
      schema = Some(ident.namespace().mkString(".")).filter(_.nonEmpty),
      name = ident.name(),
      columns = schema.fields.toSeq.map(db2Of))
    // the two legacy single-family shapes keep their DB2-derived
    // PartitionSpecDef surface (spec 0 stays IMPLICIT, exactly the
    // metadata a migrated DB2 table carries); anything else — mixed
    // families, bucket(N≠16), hidden-partitioning transforms —
    // installs ONE explicit spec 0 with the declared field list
    if (fields.isEmpty) base
    else if (fields.forall(_._2 == "identity"))
      base.copy(partition = Some(PartitionSpecDef("RANGE", fields.map(_._1))))
    else if (fields.forall(_._2 == "bucket[16]"))
      base.copy(partition = Some(PartitionSpecDef("HASH", fields.map(_._1))))
    else graft.sources.IcebergEvolution.initialSpec(base, fields)
  }
}
