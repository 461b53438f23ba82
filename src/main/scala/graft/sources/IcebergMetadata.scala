package graft.sources

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.mapping.TypeMapper
import graft.model.TableDef

/** Iceberg table-format metadata emitted from a translated [[TableDef]].
  *
  * The reference stops at DDL text (`/root/reference/db2ice/converter.py:103-183`
  * renders `CREATE OR REPLACE ICEBERG TABLE ...`); the actual Iceberg
  * *runtime* jar is not vendable in this sandbox (offline resolver), so
  * this module closes the S9 gap from the other side: it writes the
  * Iceberg **table-spec v2 metadata JSON** (schema with field-ids,
  * partition spec, sort order, snapshot-less skeleton) that a real
  * catalog/`HadoopTables` would produce for the same table, laid out as
  * `<table>/metadata/v1.metadata.json` + `version-hint.text` so an
  * Iceberg runtime pointed at the directory reads a valid empty table.
  *
  * Field-id assignment follows the spec's initial-schema rule (columns
  * numbered 1..n in declaration order); partition fields start at 1000.
  * The DDL↔metadata correspondence is pinned by `IcebergMetadataSpec`:
  * every column, type, NOT NULL, `PARTITION BY` column and `CLUSTER BY`
  * column in the rendered DDL round-trips through this metadata.
  *
  * Scale note: metadata generation is driver-side string work per table
  * (O(columns), no Spark job) — the data files underneath are written by
  * the distributed parquet path in [[graft.api.SchemaTranslator]].
  */
object IcebergMetadata {

  private val NumberPattern = """NUMBER\((\d+),(\d+)\)""".r

  /** Converted target-type string → Iceberg primitive type name
    * (table-spec v2 `type` strings). Unknown targets degrade to
    * `string`, mirroring `SchemaTranslator.icebergToSpark`. */
  def icebergType(target: String): String = target match {
    case "INTEGER" => "int"
    case "BIGINT" => "long"
    case "FLOAT" => "float"
    case "DOUBLE" => "double"
    case "STRING" => "string"
    case "BINARY" => "binary"
    case "DATE" => "date"
    case "BOOLEAN" => "boolean"
    case "TIME(6)" => "time"
    case "TIMESTAMP_NTZ(6)" => "timestamp"
    case t if t.startsWith("TIMESTAMP_LTZ") => "timestamptz"
    case NumberPattern(p, s) => s"decimal($p,$s)"
    case _ => "string"
  }

  /** Schema struct with spec-rule field ids (1..n, declaration order). */
  def schemaJson(table: TableDef): JObject =
    schemaJsonOf(table.schemaId, table.columns)

  /** One schema document: explicit field ids when evolution has
    * assigned them, positional (i+1) otherwise. */
  def schemaJsonOf(schemaId: Int, columns: Seq[graft.model.Db2Column]): JObject = {
    val fields = columns.zipWithIndex.map { case (c, i) =>
      val mapping = TypeMapper.mapType(c.dataType, c.length, c.precision,
        c.scale, c.forBitData, c.ccsid)
      JObject(
        "id" -> JInt(c.fieldId.getOrElse(i + 1): Int),
        "name" -> JString(c.name),
        "required" -> JBool(!c.nullable),
        "type" -> JString(icebergType(mapping.targetType)))
    }
    JObject(
      "type" -> JString("struct"),
      "schema-id" -> JInt(schemaId),
      "fields" -> JArray(fields.toList))
  }

  /** Partition spec: RANGE columns → identity transforms; a HASH
    * partition type → bucket[16] (DB2 hash distribution ≈ Iceberg hash
    * bucketing; the bucket VALUES the data path writes use the spec's
    * murmur3 transform — [[graft.functions.IcebergBucket]]). Bucket
    * fields take the conventional `<col>_bucket` name; partition
    * field-ids start at 1000 per the spec. */
  def partitionSpecJson(table: TableDef): JObject =
    partitionSpecJsonOf(table, defaultSpecIdOf(table))

  /** The spec id new DATA files are written under: 0 until the first
    * partition-spec evolution, the recorded default thereafter. */
  def defaultSpecIdOf(table: TableDef): Int =
    if (table.partitionSpecs.isEmpty) 0 else table.defaultSpecId

  /** The ORIGINAL (spec-0) field list derived from the DB2 partition
    * clause: RANGE columns → identity, HASH → bucket[16] under the
    * conventional `<col>_bucket` name; partition field ids start at
    * 1000 per the spec. */
  private[sources] def derivedSpec0(table: TableDef): Seq[graft.model.IcebergPartitionField] = {
    val colId = table.fieldIdOf
    val partCols = table.partition.toSeq.flatMap { p =>
      val transform = if (p.ptype == "HASH") "bucket[16]" else "identity"
      p.columns.filter(colId.contains).map(c => (c, transform))
    }
    partCols.zipWithIndex.map { case ((name, transform), i) =>
      graft.model.IcebergPartitionField(
        if (transform.startsWith("bucket")) s"${name}_bucket" else name,
        transform, colId(name), 1000 + i)
    }
  }

  /** The explicit field list of partition spec `specId` — the single
    * canonical lookup every writer and reader shares. Never-evolved
    * tables derive spec 0 on the fly; evolved tables look the id up in
    * the recorded spec history. Spec 1 is always the reserved
    * unpartitioned (global-delete) spec. */
  def specFieldDefs(table: TableDef, specId: Int): Seq[graft.model.IcebergPartitionField] =
    if (specId == 1) Nil // IcebergSnapshot.UnpartitionedSpecId
    else if (table.partitionSpecs.nonEmpty)
      table.partitionSpecs.find(_._1 == specId).map(_._2).getOrElse(
        throw new IllegalArgumentException(
          s"unknown partition spec $specId for ${table.fullName}"))
    else {
      require(specId == 0,
        s"unknown partition spec $specId for ${table.fullName}")
      derivedSpec0(table)
    }

  /** One spec rendered to the v2 spec's JSON form. */
  def partitionSpecJsonOf(table: TableDef, specId: Int): JObject = {
    val fields = specFieldDefs(table, specId).map { f =>
      JObject(
        "name" -> JString(f.name),
        "transform" -> JString(f.transform),
        "source-id" -> JInt(f.sourceId),
        "field-id" -> JInt(f.fieldId))
    }
    JObject("spec-id" -> JInt(specId), "fields" -> JArray(fields.toList))
  }

  /** Sort order: `DISTRIBUTE BY HASH` renders as `CLUSTER BY` in the
    * DDL; its Iceberg analogue is the table's default sort order. */
  def sortOrderJson(table: TableDef): JObject = {
    val colId = table.fieldIdOf
    val fields = table.distributeByHash.toSeq.filter(colId.contains).map { c =>
      JObject(
        "transform" -> JString("identity"),
        "source-id" -> JInt(colId(c)),
        "direction" -> JString("asc"),
        "null-order" -> JString("nulls-first"))
    }
    JObject(
      "order-id" -> JInt(if (fields.isEmpty) 0 else 1),
      "fields" -> JArray(fields.toList))
  }

  /** One committed append snapshot, as recorded in the metadata
    * document ([[IcebergSnapshot.commitAppend]] and
    * [[IcebergSnapshot.commitAppendIncrement]] produce them).
    * `totalFiles`/`totalRecords` are the cumulative table state AFTER
    * this snapshot (== added for snapshot 1). */
  final case class SnapshotMeta(
      snapshotId: Long,
      timestampMs: Long,
      manifestList: String,
      addedFiles: Long,
      addedRecords: Long,
      sequenceNumber: Long = 1L,
      parentSnapshotId: Option[Long] = None,
      totalFiles: Long = -1L,
      totalRecords: Long = -1L,
      operation: String = "append",
      deletedFiles: Long = 0L,
      deletedRecords: Long = 0L,
      // row-level delete (v2 MoR) summary counters
      addedDeleteFiles: Long = 0L,
      addedPositionDeletes: Long = 0L,
      addedEqualityDeletes: Long = 0L,
      totalDeleteFiles: Long = 0L,
      totalPositionDeletes: Long = 0L,
      totalEqualityDeletes: Long = 0L,
      // the table schema-id this snapshot committed under (0 until
      // schema evolution assigns later ids)
      schemaId: Int = 0) {
    def cumulativeFiles: Long = if (totalFiles >= 0) totalFiles else addedFiles
    def cumulativeRecords: Long = if (totalRecords >= 0) totalRecords else addedRecords
  }

  /** `from` and its parent-link ancestors present in `chain`, newest
    * first — the one ancestry walk every reader and committer shares. */
  def ancestry(chain: Seq[SnapshotMeta], from: SnapshotMeta): Seq[SnapshotMeta] = {
    val byId = chain.map(s => s.snapshotId -> s).toMap
    Iterator.iterate(Option(from))(_.flatMap(_.parentSnapshotId).flatMap(byId.get))
      .takeWhile(_.isDefined).map(_.get).toSeq
  }

  /** Full table-spec v2 metadata document. With `snapshot = None` this
    * is the state a catalog records at CREATE TABLE (no snapshots,
    * current-snapshot-id −1); with a snapshot it is the post-append
    * state: the snapshot entry, the `main` branch ref, the
    * snapshot-log, and sequence number 1. Deterministic: the table
    * UUID is name-derived and the timestamp is a parameter. */
  def metadataJson(table: TableDef, location: String,
      lastUpdatedMs: Long = 0L,
      snapshot: Option[SnapshotMeta] = None,
      metadataLog: Seq[(Long, String)] = Nil,
      properties: Map[String, String] = Map.empty): String =
    metadataJsonChain(table, location, lastUpdatedMs, snapshot.toList,
      metadataLog, properties = properties)

  /** [[metadataJson]] for a CHAIN of append snapshots (the last one is
    * current) — the state after N incremental commits. `extraRefs`
    * are named refs beyond the implicit `main` branch: (name,
    * snapshot-id, "tag"|"branch") triples, the spec's refs map.
    *
    * `currentIdOverride` decouples the MAIN head from the chain tail —
    * the write-audit-publish shape: a snapshot staged on an audit
    * branch sits in the snapshots list while `current-snapshot-id`
    * (and the main ref) keep pointing at the published head. When the
    * override diverges from the tail, the snapshot-log is filtered to
    * the main head's ancestry (parent links), preserving the spec rule
    * that the log's last entry IS the current snapshot; with no
    * override (every linear-history committer) the output is
    * byte-identical to before the parameter existed. */
  def metadataJsonChain(table: TableDef, location: String,
      lastUpdatedMs: Long = 0L,
      snapshots: Seq[SnapshotMeta] = Nil,
      metadataLog: Seq[(Long, String)] = Nil,
      extraRefs: Seq[(String, Long, String)] = Nil,
      currentIdOverride: Option[Long] = None,
      properties: Map[String, String] = Map.empty): String = {
    val spec = partitionSpecJson(table)
    val nPartFields = (spec \ "fields").asInstanceOf[JArray].arr.size
    val order = sortOrderJson(table)
    val current = snapshots.lastOption
    // the MAIN head: the override when staging diverges, else the tail
    val head = currentIdOverride
      .flatMap(id => snapshots.find(_.snapshotId == id)).orElse(current)
    // snapshot-log entries: ALWAYS the main head's parent-link
    // ancestry (chain order preserved) — per the spec only snapshots
    // that were actually made current belong in the log, and a staged
    // branch snapshot sitting mid-chain must not claim an entry even
    // when a later main-side commit makes head == tail again. On
    // linear history the filter is the identity, so unstaged tables'
    // metadata bytes are unchanged.
    val logSnapshots = {
      val onMain = head.toSeq.flatMap(ancestry(snapshots, _))
        .map(_.snapshotId).toSet
      snapshots.filter(s => onMain.contains(s.snapshotId))
    }
    val snapJson = snapshots.toList.map { s =>
      JObject(List(
        "snapshot-id" -> JInt(s.snapshotId),
        "sequence-number" -> JInt(BigInt(s.sequenceNumber))) ++
        s.parentSnapshotId.map(p => "parent-snapshot-id" -> (JInt(p): JValue)).toList ++
        List[(String, JValue)](
          "timestamp-ms" -> JInt(BigInt(s.timestampMs)),
          "summary" -> JObject(List(
            "operation" -> (JString(s.operation): JValue),
            "added-data-files" -> JString(s.addedFiles.toString),
            "added-records" -> JString(s.addedRecords.toString)) ++
            (if (s.deletedFiles > 0) List[(String, JValue)](
              "deleted-data-files" -> JString(s.deletedFiles.toString),
              "deleted-records" -> JString(s.deletedRecords.toString))
            else Nil) ++
            (if (s.addedDeleteFiles > 0) List[(String, JValue)](
              "added-delete-files" -> JString(s.addedDeleteFiles.toString),
              "added-position-deletes" -> JString(s.addedPositionDeletes.toString),
              "added-equality-deletes" -> JString(s.addedEqualityDeletes.toString))
            else Nil) ++
            List[(String, JValue)](
              "total-data-files" -> JString(s.cumulativeFiles.toString),
              "total-records" -> JString(s.cumulativeRecords.toString),
              "total-delete-files" -> JString(s.totalDeleteFiles.toString),
              "total-equality-deletes" -> JString(s.totalEqualityDeletes.toString),
              "total-position-deletes" -> JString(s.totalPositionDeletes.toString))),
          "manifest-list" -> JString(s.manifestList),
          "schema-id" -> JInt(s.schemaId)))
    }
    val doc = JObject(
      "format-version" -> JInt(2),
      "table-uuid" -> JString(
        UUID.nameUUIDFromBytes(table.fullName.getBytes(StandardCharsets.UTF_8)).toString),
      "location" -> JString(location),
      "last-sequence-number" -> JInt(BigInt(
        snapshots.map(_.sequenceNumber).maxOption.getOrElse(0L))),
      "last-updated-ms" -> JInt(BigInt(
        current.map(_.timestampMs).getOrElse(lastUpdatedMs))),
      "last-column-id" -> JInt(
        table.lastColumnId.getOrElse(table.columns.size): Int),
      "current-schema-id" -> JInt(table.schemaId),
      "schemas" -> JArray(
        table.priorSchemas.toList.map { case (id, cols) =>
          schemaJsonOf(id, cols)
        } :+ schemaJson(table)),
      "default-spec-id" -> JInt(defaultSpecIdOf(table)),
      // spec-1 is the table's unpartitioned spec: what GLOBAL delete
      // files (cross-partition equality deletes) are written against,
      // per the spec's rule that a delete file's partition tuple must
      // match its spec — global deletes ride an empty spec. Once spec
      // evolution has begun, EVERY spec the table ever had stays
      // listed (old data files keep referencing their original spec).
      "partition-specs" -> JArray(
        (if (table.partitionSpecs.isEmpty) List(spec)
         else table.partitionSpecs.toList.map(s =>
           partitionSpecJsonOf(table, s._1))) :+
          JObject("spec-id" -> JInt(1), "fields" -> JArray(Nil))),
      "last-partition-id" -> JInt(
        table.lastPartitionId.getOrElse(999 + nPartFields): Int),
      "default-sort-order-id" -> JInt((order \ "order-id").asInstanceOf[JInt].num),
      "sort-orders" -> JArray(List(order)),
      // the spec's string→string table properties map: the default
      // write format plus whatever the caller carries (streaming-sink
      // transaction guards, user properties) — key-sorted so the
      // document stays byte-deterministic
      "properties" -> JObject(
        (Map("write.format.default" -> "parquet") ++ properties)
          .toList.sortBy(_._1).map { case (k, v) => k -> (JString(v): JValue) }),
      "current-snapshot-id" -> head.fold[JValue](JInt(-1))(s => JInt(s.snapshotId)),
      "refs" -> head.fold[JValue](JObject())(s => JObject(
        ("main" -> (JObject(
          "snapshot-id" -> JInt(s.snapshotId),
          "type" -> JString("branch")): JValue)) ::
          extraRefs.filterNot(_._1 == "main").toList.map {
            case (name, id, rtype) =>
              name -> (JObject(
                "snapshot-id" -> JInt(id),
                "type" -> JString(rtype)): JValue)
          })),
      "snapshots" -> JArray(snapJson),
      "snapshot-log" -> JArray(logSnapshots.toList.map(s => JObject(
        "timestamp-ms" -> JInt(BigInt(s.timestampMs)),
        "snapshot-id" -> JInt(s.snapshotId)))),
      "metadata-log" -> JArray(metadataLog.toList.map { case (ts, file) =>
        JObject("timestamp-ms" -> JInt(BigInt(ts)),
          "metadata-file" -> JString(file))
      }))
    JsonMethods.pretty(JsonMethods.render(doc)) + "\n"
  }

  /** Write `metadata/v1.metadata.json` + `version-hint.text` under
    * `tablePath` (HadoopTables layout) on any Hadoop-compatible FS. */
  def writeTableMetadata(table: TableDef, tablePath: String,
      conf: Configuration = new Configuration(),
      lastUpdatedMs: Long = 0L): Path = {
    val dir = new Path(tablePath, "metadata")
    val fs = FileSystem.get(dir.toUri, conf)
    fs.mkdirs(dir)
    val metaFile = new Path(dir, "v1.metadata.json")
    val out = fs.create(metaFile, true)
    try out.write(metadataJson(table, tablePath, lastUpdatedMs)
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    IcebergSnapshot.writeVersionHint(dir, 1, fs)
    metaFile
  }
}
