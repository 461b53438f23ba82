package graft.sources

import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.mapping.TypeMapper
import graft.model.TableDef

/** Iceberg v2 snapshot commit for [[graft.api.SchemaTranslator
  * .migrateTable]]'s data files: the manifest (one Avro row per data
  * file), the manifest list (one Avro row per manifest), and the
  * updated metadata JSON carrying the snapshot + `main` branch ref —
  * the full chain an Iceberg runtime walks to SEE the rows. Without it
  * the migrated table reads as valid but empty (metadata-only CREATE
  * state), which defeats the migration's whole purpose (the reference's
  * output is DDL a live catalog accepts and queries:
  * `/root/reference/db2ice/converter.py:166-183`).
  *
  * Everything here follows the published Apache Iceberg table spec
  * (format version 2): manifest-entry/manifest-file field ids (500-519,
  * 100-143), sequence-number inheritance (entry-level numbers null on
  * ADDED rows, inherited from the manifest list), Avro file-key
  * metadata (`schema`, `partition-spec`, `format-version`, `content`).
  * Per-file stats columns (record/value/null counts and single-value
  * lower/upper bound serializations) are written from the parquet
  * footers — see the stats assembly below — and decoded back in
  * MappingSpec's independent Avro read-back.
  *
  * The writer is deliberately runtime-jar-free (offline sandbox): plain
  * Avro + Parquet footers, both on Spark's own classpath.
  * IcebergMetadataSpec round-trips the output through an independent
  * Avro read-back; directory layout of the data files is irrelevant to
  * Iceberg (manifests record absolute paths — the Hive-style dirs the
  * partitioned write produces are just paths).
  *
  * Scale note: the commit is driver-side O(#files) (footer reads +
  * manifest rows) — the same shape a real Iceberg commit has. The data
  * write itself is the distributed job; at production file counts the
  * footer pass would batch through a thread pool, and record counts
  * could be collected from the write job's task metrics instead.
  */
object IcebergSnapshot {

  /** One data file entering the snapshot. `partitionValues` is aligned
    * with the partition-spec fields (None = null partition value).
    * The stats maps are keyed by Iceberg FIELD ID and carry the
    * file-pruning metadata (spec single-value serialization for the
    * bounds) — what lets a reader skip files on a predicate without
    * opening them, the entire point of manifests at 100 TB. Columns
    * whose type has no simple bounds encoding are simply absent
    * (spec-legal: the maps are sparse).
    *
    * `content` is the spec's file-content code (0 data, 1 position
    * deletes, 2 equality deletes); `equalityIds` carries the schema
    * field ids an equality delete file matches on (spec field 135). */
  final case class DataFileInfo(
      path: String,
      sizeBytes: Long,
      recordCount: Long,
      partitionValues: Seq[Option[Any]],
      valueCounts: Map[Int, Long] = Map.empty,
      nullCounts: Map[Int, Long] = Map.empty,
      lowerBounds: Map[Int, Array[Byte]] = Map.empty,
      upperBounds: Map[Int, Array[Byte]] = Map.empty,
      content: Int = 0,
      equalityIds: Seq[Int] = Nil,
      // partition spec the file's partition tuple is shaped by — only
      // meaningful once specs have evolved (old files keep theirs)
      specId: Int = 0)

  /** (partition FIELD name, iceberg source type, transform) triples
    * for the table's spec — the single source of truth shared by the
    * Avro schema, the Hive-path parser and the metadata JSON. Bucket
    * fields carry the conventional `<col>_bucket` name, matching both
    * [[IcebergMetadata.partitionSpecJson]] and the directory names
    * [[graft.api.SchemaTranslator.writeMigrated]] produces. */
  def partitionFields(table: TableDef): Seq[(String, String, String)] =
    partitionFieldsOf(table, IcebergMetadata.defaultSpecIdOf(table))

  /** [[partitionFields]] for an arbitrary spec id — the per-manifest
    * lookup once partition specs have evolved (a manifest's partition
    * record is shaped by ITS spec, not the default). Types resolve
    * from the source column BY FIELD ID, so column renames of
    * non-source columns and schema evolution don't disturb them. */
  def partitionFieldsOf(table: TableDef,
      specId: Int): Seq[(String, String, String)] = {
    val typeOfId = table.columns.zipWithIndex.map { case (c, i) =>
      val m = TypeMapper.mapType(c.dataType, c.length, c.precision,
        c.scale, c.forBitData, c.ccsid)
      c.fieldId.getOrElse(i + 1) -> IcebergMetadata.icebergType(m.targetType)
    }.toMap
    IcebergMetadata.specFieldDefs(table, specId).map(f =>
      (f.name, typeOfId.getOrElse(f.sourceId,
        throw new IllegalStateException(
          s"partition source id ${f.sourceId} not in current schema of ${table.fullName}")),
        f.transform))
  }

  /** Identity-transform fields of a spec whose values are
    * DIRECTORY-ENCODED (absent from file contents): exactly those
    * whose field name equals the source column's current name — the
    * writer partitions by them, so the parquet loses the column. An
    * identity field whose name diverged from its source column (a
    * spec-level rename) keeps the column physical in new files. */
  private[sources] def dirEncodedIdentityCols(table: TableDef,
      specId: Int): Set[String] = {
    val nameOfId = table.columns.zipWithIndex.map { case (c, i) =>
      c.fieldId.getOrElse(i + 1) -> c.name
    }.toMap
    IcebergMetadata.specFieldDefs(table, specId)
      .filter(f => f.transform == "identity" &&
        nameOfId.get(f.sourceId).contains(f.name))
      .map(_.name).toSet
  }

  /** Avro type name for a partition value of the given iceberg type
    * under the given transform (bucket and the temporal transforms
    * always yield int — year/month/day/hour are ordinal counts from
    * the epoch; truncate yields the SOURCE type). */
  private def avroPartitionType(icebergType: String, transform: String): String =
    if (transform.startsWith("bucket")) "int"
    else if (transform == "year" || transform == "month" ||
      transform == "day" || transform == "hour") "int"
    else if (transform.startsWith("truncate")) icebergType match {
      case "int" => "int"
      case "long" => "long"
      case _ => "string" // truncate sources are int/long/string only
    }
    else icebergType match {
      case "int" | "date" => "int" // date rides as days-from-epoch int
      case "long" => "long"
      case "float" => "float"
      case "double" => "double"
      case "boolean" => "boolean"
      case _ => "string" // identity on string-ish types; decimals degrade
    }

  /** Inverse of Spark's Hive-path escaping: decode ONLY %XX escape
    * sequences. `java.net.URLDecoder` is the wrong inverse — it also
    * maps literal '+' to space, and Spark's `escapePathName` never
    * encodes '+', so a partition value like `C++` would silently
    * corrupt to `C  ` in the manifests. */
  private[graft] def unescapePathName(raw: String): String = {
    if (!raw.contains('%')) return raw
    val sb = new java.lang.StringBuilder(raw.length)
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c == '%' && i + 2 < raw.length) {
        val code = try Integer.parseInt(raw.substring(i + 1, i + 3), 16)
        catch { case _: NumberFormatException => -1 }
        if (code >= 0) { sb.append(code.toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Parse one Hive-dir partition value (`field=raw`) to the
    * Avro-typed value; `__HIVE_DEFAULT_PARTITION__` is the null
    * marker. Bucket dirs always carry the int bucket ordinal
    * regardless of the source column type. */
  def parsePartitionValue(raw: String, icebergType: String,
      transform: String): Option[Any] = {
    val decoded = unescapePathName(raw)
    if (decoded == "__HIVE_DEFAULT_PARTITION__") None
    else if (transform.startsWith("bucket")) Some(decoded.toInt)
    // temporal transform dirs carry the plain epoch-ordinal int the
    // writer's IcebergTransform produced — NEVER a date string (the
    // `icebergType == "date"` branch below is for identity on date)
    else if (transform == "year" || transform == "month" ||
      transform == "day" || transform == "hour") Some(decoded.toInt)
    else Some(avroPartitionType(icebergType, transform) match {
      case "int" if icebergType == "date" =>
        java.time.LocalDate.parse(decoded).toEpochDay.toInt
      case "int" => decoded.toInt
      case "long" => decoded.toLong
      case "float" => decoded.toFloat
      case "double" => decoded.toDouble
      case "boolean" => decoded.toBoolean
      case _ => decoded
    })
  }

  private def partitionRecordSchema(table: TableDef, specId: Int): JObject = {
    // spec-1 is the table's unpartitioned spec (global delete files are
    // written against it per the spec's global-equality-delete rule) —
    // its partition record has no fields. Field ids come from the SPEC
    // (stable across evolution), not positional renumbering.
    val defs = IcebergMetadata.specFieldDefs(table, specId)
    val fields = partitionFieldsOf(table, specId).zip(defs).map {
      case ((name, itype, transform), d) =>
        JObject(
          "name" -> JString(name),
          // nullable: identity columns can hold null partition values
          // (and a bucket of a null key lands in the null dir)
          "type" -> JArray(List(JString("null"),
            JString(avroPartitionType(itype, transform)))),
          "default" -> JNull,
          "field-id" -> JInt(d.fieldId))
    }
    JObject("type" -> JString("record"), "name" -> JString("r102"),
      "fields" -> JArray(fields.toList))
  }

  /** Spec id of the always-present unpartitioned partition spec —
    * what global (cross-partition) delete files are written against. */
  val UnpartitionedSpecId: Int = 1

  /** Manifest-entry Avro schema (spec field ids; optional stats
    * columns omitted). */
  def manifestSchemaJson(table: TableDef, specId: Int = 0): String = {
    def f(name: String, tpe: JValue, id: Int, nullable: Boolean = false): JObject =
      if (nullable)
        JObject("name" -> JString(name),
          "type" -> JArray(List(JString("null"), tpe)),
          "default" -> JNull, "field-id" -> JInt(id))
      else JObject("name" -> JString(name), "type" -> tpe, "field-id" -> JInt(id))
    // Iceberg manifests encode int-keyed maps as array<key_value
    // record> with the "map" logical type (Avro maps only take string
    // keys); inner key/value field ids per the spec's manifest schema
    def mapField(name: String, id: Int, keyId: Int, valueId: Int,
        valueType: String): JObject =
      JObject("name" -> JString(name),
        "type" -> JArray(List(JString("null"), JObject(
          "type" -> JString("array"),
          "logicalType" -> JString("map"),
          "items" -> JObject(
            "type" -> JString("record"),
            "name" -> JString(s"k${keyId}_v$valueId"),
            "fields" -> JArray(List(
              JObject("name" -> JString("key"), "type" -> JString("int"),
                "field-id" -> JInt(keyId)),
              JObject("name" -> JString("value"), "type" -> JString(valueType),
                "field-id" -> JInt(valueId)))))))),
        "default" -> JNull, "field-id" -> JInt(id))
    val dataFile = JObject(
      "type" -> JString("record"), "name" -> JString("r2"),
      "fields" -> JArray(List(
        f("content", JString("int"), 134),
        f("file_path", JString("string"), 100),
        f("file_format", JString("string"), 101),
        f("partition", partitionRecordSchema(table, specId), 102),
        f("record_count", JString("long"), 103),
        f("file_size_in_bytes", JString("long"), 104),
        mapField("value_counts", 109, 119, 120, "long"),
        mapField("null_value_counts", 110, 121, 122, "long"),
        mapField("lower_bounds", 125, 126, 127, "bytes"),
        mapField("upper_bounds", 128, 129, 130, "bytes"),
        // equality-delete match columns (spec field 135/136); null on
        // data and position-delete files
        f("equality_ids", JObject(
          "type" -> JString("array"),
          "items" -> JString("int"),
          "element-id" -> JInt(136)), 135, nullable = true))))
    val root = JObject(
      "type" -> JString("record"), "name" -> JString("manifest_entry"),
      "fields" -> JArray(List(
        f("status", JString("int"), 0),
        f("snapshot_id", JString("long"), 1, nullable = true),
        f("sequence_number", JString("long"), 3, nullable = true),
        f("file_sequence_number", JString("long"), 4, nullable = true),
        f("data_file", dataFile, 2))))
    JsonMethods.compact(JsonMethods.render(root))
  }

  /** Manifest-list (manifest_file) Avro schema, v2 required fields. */
  val ManifestListSchemaJson: String = {
    def f(name: String, tpe: String, id: Int): JObject =
      JObject("name" -> JString(name), "type" -> JString(tpe), "field-id" -> JInt(id))
    JsonMethods.compact(JsonMethods.render(JObject(
      "type" -> JString("record"), "name" -> JString("manifest_file"),
      "fields" -> JArray(List(
        f("manifest_path", "string", 500),
        f("manifest_length", "long", 501),
        f("partition_spec_id", "int", 502),
        f("content", "int", 517),
        f("sequence_number", "long", 515),
        f("min_sequence_number", "long", 516),
        f("added_snapshot_id", "long", 503),
        f("added_files_count", "int", 504),
        f("existing_files_count", "int", 505),
        f("deleted_files_count", "int", 506),
        f("added_rows_count", "long", 512),
        f("existing_rows_count", "long", 513),
        f("deleted_rows_count", "long", 514))))))
  }

  /** Enumerate the parquet data files under `dataDir`, reading record
    * counts from footers and partition values from the Hive-style
    * directory components the partitioned write produced. */
  def listDataFiles(dataDir: Path, table: TableDef,
      conf: Configuration, skipPaths: Set[String] = Set.empty): Seq[DataFileInfo] = {
    val fs = FileSystem.get(dataDir.toUri, conf)
    val pf = partitionFields(table)
    val byName = pf.map { case (n, t, tr) => n -> ((t, tr)) }.toMap
    val out = ArrayBuffer.empty[DataFileInfo]
    if (!fs.exists(dataDir)) return out.toSeq
    val it = fs.listFiles(dataDir, true)
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath
      // `skipPaths` = files already known to the snapshot chain: an
      // incremental commit passes them so footer/stat reads happen for
      // the NEW files only — without it each commit re-opens every
      // historical footer and the feed-table append goes quadratic in
      // table file count (measured: ~4 s/commit at 300 files)
      if (st.isFile && p.getName.endsWith(".parquet") &&
          !skipPaths.contains(p.toString)) {
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
        val (nRows, stats) =
          try (reader.getRecordCount, columnStats(reader, table))
          finally reader.close()
        // Hive components between dataDir and the file: col=value
        val rel = p.toString.stripPrefix(dataDir.toString).stripPrefix("/")
        val dirVals = rel.split('/').dropRight(1).flatMap { comp =>
          comp.split("=", 2) match {
            case Array(k, v) if byName.contains(k) => Some(k -> v)
            case _ => None
          }
        }.toMap
        val values = pf.map { case (name, itype, transform) =>
          dirVals.get(name).flatMap(parsePartitionValue(_, itype, transform))
        }
        out += DataFileInfo(p.toString, st.getLen, nRows, values,
          valueCounts = stats._1, nullCounts = stats._2,
          lowerBounds = stats._3, upperBounds = stats._4,
          specId = IcebergMetadata.defaultSpecIdOf(table))
      }
    }
    out.toSeq.sortBy(_.path) // deterministic manifest order
  }

  /** Per-column (value counts, null counts, lower bounds, upper
    * bounds) aggregated over a parquet file's row groups, keyed by
    * Iceberg field id. Bounds use the spec's single-value
    * serialization: little-endian for int/long/float/double, raw
    * UTF-8 for strings, one byte for booleans; types without a simple
    * encoding (decimals, timestamps as INT96, ...) contribute counts
    * but no bounds. Bounds are exact min/max (the spec only requires
    * lower ≤ values ≤ upper, so exactness is trivially valid). */
  private[sources] def columnStats(reader: ParquetFileReader, table: TableDef):
      (Map[Int, Long], Map[Int, Long], Map[Int, Array[Byte]], Map[Int, Array[Byte]]) = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val fieldId = table.fieldIdOf
    val values = scala.collection.mutable.Map.empty[Int, Long]
    val nulls = scala.collection.mutable.Map.empty[Int, Long]
    val mins = scala.collection.mutable.Map.empty[Int, Comparable[_]]
    val maxs = scala.collection.mutable.Map.empty[Int, Comparable[_]]
    val kinds = scala.collection.mutable.Map.empty[Int, org.apache.parquet.schema.PrimitiveType]
    reader.getFooter.getBlocks.forEach { block =>
      block.getColumns.forEach { cc =>
        val name = cc.getPath.toDotString
        fieldId.get(name).foreach { id =>
          values(id) = values.getOrElse(id, 0L) + cc.getValueCount
          val st = cc.getStatistics
          if (st != null && st.isNumNullsSet)
            nulls(id) = nulls.getOrElse(id, 0L) + st.getNumNulls
          if (st != null && st.hasNonNullValue) {
            kinds(id) = cc.getPrimitiveType
            val mn = st.genericGetMin.asInstanceOf[Comparable[Any]]
            val mx = st.genericGetMax.asInstanceOf[Comparable[Any]]
            if (!mins.contains(id) ||
              mn.compareTo(mins(id).asInstanceOf[Any]) < 0) mins(id) = mn
            if (!maxs.contains(id) ||
              mx.compareTo(maxs(id).asInstanceOf[Any]) > 0) maxs(id) = mx
          }
        }
      }
    }
    def le(n: Int)(v: Long): Array[Byte] = {
      val b = new Array[Byte](n)
      var i = 0
      while (i < n) { b(i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
      b
    }
    // spec decimal serialization: the UNSCALED value as minimum-length
    // big-endian two's-complement bytes (scale rides in the type) —
    // regardless of the parquet physical encoding (INT32/INT64 for
    // small precisions, FIXED_LEN/BINARY above; FLBA's sign-extended
    // padding re-encodes to the minimal form via BigInteger)
    def decBytes(unscaled: java.math.BigInteger): Array[Byte] =
      unscaled.toByteArray
    def ser(id: Int, v: Comparable[_]): Option[Array[Byte]] = {
      val pt = kinds(id)
      val isDecimal = pt.getLogicalTypeAnnotation.isInstanceOf[
        org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
      pt.getPrimitiveTypeName match {
        case INT32 if isDecimal => Some(decBytes(java.math.BigInteger.valueOf(
          v.asInstanceOf[Integer].longValue)))
        case INT64 if isDecimal => Some(decBytes(java.math.BigInteger.valueOf(
          v.asInstanceOf[java.lang.Long].longValue)))
        case FIXED_LEN_BYTE_ARRAY | BINARY if isDecimal =>
          Some(decBytes(new java.math.BigInteger(
            v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)))
        case INT32 => Some(le(4)(v.asInstanceOf[Integer].longValue))
        case INT64 => Some(le(8)(v.asInstanceOf[java.lang.Long].longValue))
        case FLOAT => Some(le(4)(
          java.lang.Float.floatToIntBits(v.asInstanceOf[java.lang.Float]).toLong))
        case DOUBLE => Some(le(8)(
          java.lang.Double.doubleToLongBits(v.asInstanceOf[java.lang.Double])))
        case BOOLEAN => Some(Array(
          if (v.asInstanceOf[java.lang.Boolean]) 1.toByte else 0.toByte))
        case BINARY => Some(
          v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
        case _ => None // INT96 / non-decimal FIXED_LEN — counts only
      }
    }
    (values.toMap, nulls.toMap,
      mins.flatMap { case (id, v) => ser(id, v).map(id -> _) }.toMap,
      maxs.flatMap { case (id, v) => ser(id, v).map(id -> _) }.toMap)
  }

  private def writeAvro(fs: FileSystem, path: Path, schema: Schema,
      meta: Seq[(String, String)], records: Seq[GenericRecord]): Long = {
    val writer = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => writer.setMeta(k, v) }
    val out = fs.create(path, true)
    writer.create(schema, out)
    records.foreach(writer.append)
    writer.close() // closes the stream
    fs.getFileStatus(path).getLen
  }

  /** Write the data manifest: one ADDED entry per file, entry-level
    * sequence numbers null (inherited from the manifest list per the
    * v2 inheritance rule). Returns (path, length). */
  /** One row of a manifest: the file plus its entry status (1 ADDED /
    * 0 EXISTING / 2 DELETED) and, for EXISTING/DELETED, the explicit
    * original data sequence number (ADDED rows carry None — inherited
    * from the manifest list per the v2 rule). */
  final case class ManifestEntry(status: Int, sequenceNumber: Option[Long],
      file: DataFileInfo)

  def writeManifest(table: TableDef, files: Seq[DataFileInfo],
      metadataDir: Path, snapshotId: Long, conf: Configuration,
      ordinal: Int = 0): (Path, Long) =
    writeManifestEntries(table,
      files.map(f => ManifestEntry(1, None, f)), metadataDir, snapshotId,
      conf, ordinal)

  /** `specId = -1` (the default) resolves to the table's current
    * default spec — un-evolved tables keep writing spec 0. */
  def writeManifestEntries(table: TableDef, entries0: Seq[ManifestEntry],
      metadataDir: Path, snapshotId: Long, conf: Configuration,
      ordinal: Int = 0, specId: Int = -1): (Path, Long) = {
    val sid =
      if (specId < 0) IcebergMetadata.defaultSpecIdOf(table) else specId
    val fs = FileSystem.get(metadataDir.toUri, conf)
    val schema = new Schema.Parser().parse(manifestSchemaJson(table, sid))
    val dfSchema = schema.getField("data_file").schema()
    val partSchema = dfSchema.getField("partition").schema()
    val isDeletes = entries0.exists(_.file.content != 0)
    val pf = partitionFieldsOf(table, sid)
    def kvArray(field: String, entries: Map[Int, Any]): java.util.List[GenericRecord] = {
      val itemSchema = dfSchema.getField(field).schema()
        .getTypes.get(1).getElementType // [null, array<record>]
      val out = new java.util.ArrayList[GenericRecord](entries.size)
      entries.toSeq.sortBy(_._1).foreach { case (k, v) =>
        val r = new GenericData.Record(itemSchema)
        r.put("key", k)
        r.put("value", v match {
          case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
          case other => other
        })
        out.add(r)
      }
      out
    }
    val records = entries0.map { me =>
      val f = me.file
      val part = new GenericData.Record(partSchema)
      pf.zip(f.partitionValues).foreach { case ((name, _, _), v) =>
        part.put(name, v.orNull)
      }
      val df = new GenericData.Record(dfSchema)
      df.put("content", f.content)
      df.put("file_path", f.path)
      df.put("file_format", "PARQUET")
      df.put("partition", part)
      df.put("record_count", f.recordCount)
      df.put("file_size_in_bytes", f.sizeBytes)
      df.put("value_counts", kvArray("value_counts", f.valueCounts))
      df.put("null_value_counts", kvArray("null_value_counts", f.nullCounts))
      df.put("lower_bounds", kvArray("lower_bounds", f.lowerBounds))
      df.put("upper_bounds", kvArray("upper_bounds", f.upperBounds))
      df.put("equality_ids",
        if (f.equalityIds.isEmpty) null
        else {
          val l = new java.util.ArrayList[Integer](f.equalityIds.size)
          f.equalityIds.foreach(id => l.add(Integer.valueOf(id)))
          l
        })
      val e = new GenericData.Record(schema)
      e.put("status", me.status)
      e.put("snapshot_id", snapshotId)
      e.put("sequence_number",
        me.sequenceNumber.map(java.lang.Long.valueOf).orNull)
      e.put("file_sequence_number", null)
      e.put("data_file", df)
      e
    }
    // name keyed by (snapshot, ordinal, ENTRY IDENTITY): ordinal alone
    // is NOT unique across the table's history once compaction shrinks
    // the manifest list — a later append would reuse the count and
    // overwrite an older snapshot's manifest, corrupting time travel —
    // and (snapshot, ordinal) alone is not unique across two WRITERS
    // racing the same base version (both derive the same snapshot id
    // from the sequence number), so the loser's manifest write would
    // clobber the winner's before the commit point even detects the
    // conflict. Folding the entries' (status, path) identity into the
    // name keeps true replays at the same path (idempotent) while
    // divergent racers write disjoint files — the loser's become
    // sweepable orphans, never corruption.
    val entryKey = entries0
      .map(e => s"${e.status}:${e.file.path}").sorted.mkString("|")
    val path = new Path(metadataDir,
      s"${UUID.nameUUIDFromBytes(
        (table.fullName + s"-snap$snapshotId-m$ordinal-$entryKey")
          .getBytes(StandardCharsets.UTF_8))}-$snapshotId-m$ordinal.avro")
    val specFields = JsonMethods.compact(JsonMethods.render(
      IcebergMetadata.partitionSpecJsonOf(table, sid) \ "fields"))
    val len = writeAvro(fs, path, schema, Seq(
      "schema" -> JsonMethods.compact(JsonMethods.render(
        IcebergMetadata.schemaJson(table))),
      "partition-spec" -> specFields,
      "partition-spec-id" -> sid.toString,
      "format-version" -> "2",
      "content" -> (if (isDeletes) "deletes" else "data")), records)
    (path, len)
  }

  /** One manifest_file row of a manifest list. `content` is the spec's
    * manifest-content code (0 data, 1 deletes); `specId` the partition
    * spec the manifest's files were written against. */
  final case class ManifestListRow(path: String, length: Long,
      sequenceNumber: Long, minSequenceNumber: Long,
      addedFiles: Int, existingFiles: Int, deletedFiles: Int,
      addedRows: Long, existingRows: Long, deletedRows: Long,
      content: Int = 0, specId: Int = 0)

  /** Write a manifest list from explicit rows (optionally re-listing
    * prior snapshots' manifest rows verbatim — the spec's accumulation
    * rule for appends; a REPLACE snapshot instead lists only its own
    * rewritten manifests). */
  def writeManifestListRows(table: TableDef, rows: Seq[ManifestListRow],
      metadataDir: Path, snapshotId: Long, conf: Configuration,
      sequenceNumber: Long, parentSnapshotId: Option[Long],
      priorManifests: Seq[GenericRecord] = Nil): Path = {
    val fs = FileSystem.get(metadataDir.toUri, conf)
    val schema = new Schema.Parser().parse(ManifestListSchemaJson)
    val fresh = rows.map { m =>
      val r = new GenericData.Record(schema)
      r.put("manifest_path", m.path)
      r.put("manifest_length", m.length)
      r.put("partition_spec_id", m.specId)
      r.put("content", m.content)
      r.put("sequence_number", m.sequenceNumber)
      r.put("min_sequence_number", m.minSequenceNumber)
      r.put("added_snapshot_id", snapshotId)
      r.put("added_files_count", m.addedFiles)
      r.put("existing_files_count", m.existingFiles)
      r.put("deleted_files_count", m.deletedFiles)
      r.put("added_rows_count", m.addedRows)
      r.put("existing_rows_count", m.existingRows)
      r.put("deleted_rows_count", m.deletedRows)
      r
    }
    // prior rows are re-encoded through this writer's schema (same
    // field ids) so a reader sees one consistent file
    val prior = priorManifests.map { p =>
      val c = new GenericData.Record(schema)
      schema.getFields.forEach(f => c.put(f.name(), p.get(f.name())))
      c
    }
    // like the manifest name, the list name folds in its ROW IDENTITY
    // (the manifest paths it lists, themselves entry-keyed) so two
    // writers racing the same sequence number write disjoint lists —
    // see writeManifestEntries
    val rowKey = (rows.map(_.path) ++
      priorManifests.map(_.get("manifest_path").toString))
      .sorted.mkString("|")
    val path = new Path(metadataDir, s"snap-$snapshotId-1-" +
      UUID.nameUUIDFromBytes(
        (table.fullName + s"-snap-$sequenceNumber-$rowKey")
          .getBytes(StandardCharsets.UTF_8)) + ".avro")
    writeAvro(fs, path, schema, Seq(
      "format-version" -> "2",
      "snapshot-id" -> snapshotId.toString,
      "sequence-number" -> sequenceNumber.toString,
      "parent-snapshot-id" -> parentSnapshotId.map(_.toString).getOrElse("null")),
      fresh ++ prior)
    path
  }

  /** Drain every record of an Avro file on any Hadoop FS — the one
    * reader loop behind manifest-list reads, manifest reads and the
    * time-travel scan.
    *
    * CACHED: manifests and manifest lists are immutable once written
    * (names are content-identity-keyed — see writeManifestEntries — so
    * a path is never rewritten with different rows), which makes a
    * decoded-rows cache safe and turns the commit/planning paths from
    * O(chain × avro-decode) into O(chain × stat): a long-retained
    * table re-reads each historical list ONCE per JVM instead of once
    * per commit — at a 100k-commit table this is the difference
    * between a constant-cost append and a quadratic one. Entries
    * validate against the file's current length (a swept-and-replanted
    * path of different content misses), and the cache evicts wholesale
    * at a bounded entry count. */
  private val avroRowsCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Seq[org.apache.avro.generic.GenericRecord])]()
  private val AvroCacheMaxEntries = 8192

  private[sources] def readAvroRows(path: Path,
      conf: Configuration): Seq[org.apache.avro.generic.GenericRecord] = {
    val fs = FileSystem.get(path.toUri, conf)
    val len = fs.getFileStatus(path).getLen
    val key = path.toString
    val hit = avroRowsCache.get(key)
    if (hit != null && hit._1 == len) return hit._2
    val in = new org.apache.avro.mapred.FsInput(path, conf)
    val reader = org.apache.avro.file.DataFileReader.openReader(in,
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    val rows = try {
      val out = ArrayBuffer.empty[org.apache.avro.generic.GenericRecord]
      while (reader.hasNext) out += reader.next()
      out.toSeq
    } finally reader.close()
    if (avroRowsCache.size >= AvroCacheMaxEntries) avroRowsCache.clear()
    avroRowsCache.put(key, (len, rows))
    rows
  }

  /** Small-text read (version hints, metadata JSON). */
  private[sources] def readText(p: Path, conf: Configuration): String = {
    val fs = FileSystem.get(p.toUri, conf)
    val in = fs.open(p)
    try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
      StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Install the version hint ATOMICALLY: write the value to a temp
    * file, then rename it over `version-hint.text`. A truncate-then-
    * write in place lets a concurrent reader observe a valid PREFIX of
    * the new value ('1' mid-write of '12') and silently serve stale
    * metadata — a rename flips the whole value or nothing. POSIX/HDFS
    * same-directory renames replace atomically; for stores whose
    * rename refuses an existing destination, the delete+rename
    * fallback leaves only a not-yet-present window, which
    * [[readVersionHint]]'s brief retry covers. */
  private[sources] def writeVersionHint(metadataDir: Path, version: Int,
      fs: FileSystem): Unit = {
    val hint = new Path(metadataDir, "version-hint.text")
    val tmp = new Path(metadataDir, s".version-hint.text.tmp-$version")
    val out = fs.create(tmp, true)
    try out.write(s"$version\n".getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, hint)) {
      fs.delete(hint, false)
      if (!fs.rename(tmp, hint))
        throw new IllegalStateException(
          s"could not install version hint $hint (version $version)")
    }
  }

  /** Read the version hint. Writers install it atomically
    * ([[writeVersionHint]]), so a reader — a streaming source polling
    * `getOffset` while a commit lands — only ever sees a complete
    * value; the residual races are the not-yet-renamed window on
    * non-POSIX stores and pre-atomic-writer tables, so an absent or
    * non-numeric read still retries briefly before propagating, as
    * does a ChecksumException: a checksummed filesystem renames the
    * hint and its `.crc` sidecar separately, and a read between the
    * two pairs the new hint with the old checksum. A
    * genuinely missing table rethrows the original
    * FileNotFoundException (callers' bootstrap contract). */
  private[sources] def readVersionHint(metadataDir: Path,
      conf: Configuration): Int = {
    val p = new Path(metadataDir, "version-hint.text")
    var attempt = 0
    while (true) {
      val raw = try readText(p, conf).trim catch {
        case e @ (_: java.io.FileNotFoundException |
            _: org.apache.hadoop.fs.ChecksumException) =>
          attempt += 1
          if (attempt >= 10) throw e
          Thread.sleep(2)
          null
      }
      if (raw != null) {
        if (raw.nonEmpty && raw.forall(_.isDigit)) return raw.toInt
        attempt += 1
        if (attempt >= 50)
          throw new IllegalStateException(
            s"version hint $p stayed unreadable ('$raw') after $attempt reads")
        Thread.sleep(2)
      }
    }
    -1 // unreachable
  }

  /** Manifest-list rows — re-listed verbatim by follow-up commits. */
  private[sources] def readManifestList(path: Path,
      conf: Configuration): Seq[org.apache.avro.generic.GenericRecord] =
    readAvroRows(path, conf)

  /** File paths recorded in an existing data manifest. */
  private[sources] def readManifestPaths(path: Path, conf: Configuration): Set[String] =
    readAvroRows(path, conf).map(_.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("file_path").toString).toSet

  /** Every file path any RETAINED snapshot references — the "known"
    * set an incremental append diffs the data directory against.
    * It must span the WHOLE chain, not just the current snapshot: a
    * compaction rewrites the manifest list and drops older tombstone
    * manifests, so a file tombstoned two commits ago is absent from
    * the current list while still on disk (time travel needs it) —
    * diffing against the current list alone RESURRECTS it (caught by
    * the randomized lifecycle property test on the sequence
    * Append→Compact→Upsert→CompactWithDeletes→Append). Expiry
    * physically deletes unreachable files, so the set stays bounded
    * by retained history. */
  private[sources] def knownFilePaths(chain: Seq[IcebergMetadata.SnapshotMeta],
      conf: Configuration): Set[String] = {
    val manifests = chain.flatMap(s =>
      readManifestList(new Path(s.manifestList), conf)
        .map(_.get("manifest_path").toString)).distinct
    manifests.flatMap(m => readManifestPaths(new Path(m), conf)).toSet
  }

  /** Commit the files under `<tablePath>/data` as append snapshot 1:
    * manifest + manifest list + `v2.metadata.json` (with a
    * metadata-log entry pointing at v1) + version hint. Idempotent and
    * deterministic for a fixed timestamp. Returns the snapshot. */
  def commitAppend(table: TableDef, tablePath: String,
      conf: Configuration = new Configuration(),
      timestampMs: Long = System.currentTimeMillis(),
      extraProperties: Map[String, String] = Map.empty): IcebergMetadata.SnapshotMeta = {
    val metadataDir = new Path(tablePath, "metadata")
    val fs = FileSystem.get(metadataDir.toUri, conf)
    fs.mkdirs(metadataDir)
    val files = listDataFiles(new Path(tablePath, "data"), table, conf)
    val snapshotId = snapshotIdOf(table, "snapshot", 1L)
    val manifest = writeManifest(table, files, metadataDir, snapshotId, conf)
    val nRows = files.map(_.recordCount).sum
    val listPath = writeManifestListRows(table,
      Seq(ManifestListRow(manifest._1.toString, manifest._2, 1L, 1L,
        files.size, 0, 0, nRows, 0L, 0L,
        specId = IcebergMetadata.defaultSpecIdOf(table))),
      metadataDir, snapshotId, conf, sequenceNumber = 1L, parentSnapshotId = None)
    val snap = IcebergMetadata.SnapshotMeta(
      snapshotId = snapshotId,
      schemaId = table.schemaId,
      timestampMs = timestampMs,
      manifestList = listPath.toString,
      addedFiles = files.size.toLong,
      addedRecords = nRows)
    val doc = IcebergMetadata.metadataJson(table, tablePath,
      lastUpdatedMs = timestampMs, snapshot = Some(snap),
      metadataLog = Seq(timestampMs ->
        new Path(metadataDir, "v1.metadata.json").toString),
      properties = extraProperties)
    val metaFile = new Path(metadataDir, "v2.metadata.json")
    val out = fs.create(metaFile, true)
    try out.write(doc.getBytes(StandardCharsets.UTF_8)) finally out.close()
    writeVersionHint(metadataDir, 2, fs)
    snap
  }

  /** Row-metadata column names [[scanDataFiles]] materializes when
    * `withRowMeta` is requested (the delete paths' (file, pos) key). */
  private[sources] val RowMetaFileCol = "__graft_file"
  private[sources] val RowMetaPosCol = "__graft_pos"

  private val SchemePrefix = "^[a-zA-Z0-9+.-]+:/+"

  /** Scheme-stripped path key ("file:/x", "file:///x" and "/x" all key
    * as "/x"), the form [[RowMetaFileCol]] carries; [[normPath]] is its
    * column twin. No %XX decoding, so both agree byte for byte. */
  private[sources] def normKey(p: String): String =
    p.replaceFirst(SchemePrefix, "/")
  private[sources] def normPath(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.regexp_replace(c, SchemePrefix, "/")

  /** The [[normKey]] that `_metadata.file_path` and `input_file_name`
    * take for the file a manifest records as `p`: Spark surfaces the
    * URI form, which escapes what the Hadoop path string keeps (a
    * space as %20, a '%' as %25). Position delete files record the
    * manifest form, so their `file_path` goes through here too. */
  private[sources] def scanKey(p: String): String =
    normKey(new Path(p).toUri.toString)

  /** Slash-count-insensitive path key: "file:/x" (Hadoop Path) and
    * "file:///x" (`input_file_name`/`_metadata.file_path`) both
    * normalize to "/x". */
  private[sources] def pathKey(p: String): String =
    try {
      val u = new java.net.URI(p)
      if (u.getScheme != null && u.getPath != null) u.getPath else p
    } catch { case _: Exception => p }

  /** Restore identity partition columns (directory-encoded, so absent
    * from the file contents) from the manifests' recorded partition
    * values: ONE broadcast file→values map keyed by `input_file_name`
    * — O(1) plan depth and one broadcast at any file count (a real
    * Iceberg scan does the same enrichment natively). Values come back
    * in their original surface form (dates from epoch-day ints). `pf`
    * and `dirEncoded` describe the scanned files' spec, `files` their
    * (path → values) rows; `castToDeclared` casts restored columns to
    * the table's declared Spark types so unions across spec groups
    * type-align, else they stay string-typed like Hive dir inference. */
  private def restoreIdentityColumnsFor(
      spark: org.apache.spark.sql.SparkSession,
      base: org.apache.spark.sql.DataFrame, table: TableDef,
      pf: Seq[(String, String, String)], dirEncoded: Set[String],
      files: Seq[(String, Seq[Option[Any]])],
      castToDeclared: Boolean): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.input_file_name
    val declared = graft.api.SchemaTranslator.toSparkSchema(table)
      .fields.map(f => f.name -> f.dataType).toMap
    val identity = pf.filter(_._3 == "identity").map(_._1)
      .filter(dirEncoded.contains)
      .filterNot(base.columns.contains)
    if (identity.isEmpty) return base
    def surface(itype: String, v: Any): String = itype match {
      case "date" => java.time.LocalDate.ofEpochDay(
        v.asInstanceOf[Number].longValue).toString
      case _ => v.toString
    }
    val idxAndType = identity.map(n =>
      n -> pf.indexWhere(_._1 == n)).map { case (n, i) => (n, i, pf(i)._2) }
    val valueOf: Map[String, Array[String]] = files.map { case (p, vals) =>
      scanKey(p) -> idxAndType.map { case (_, idx, itype) =>
        vals(idx).map(surface(itype, _)).orNull
      }.toArray
    }.toMap
    val bc = spark.sparkContext.broadcast(valueOf)
    identity.zipWithIndex.foldLeft(base) { case (acc, (name, pos)) =>
      val restore = org.apache.spark.sql.functions.udf((fn: String) =>
        if (fn == null) null
        else bc.value.get(fn).map(_(pos)).orNull)
      // cross-spec unions need the DECLARED type: a column dir-encoded
      // (string surface) under this spec can be physical (e.g. bigint,
      // date) under another, and Spark's union type promotion would
      // otherwise silently widen the whole column to string — feeding
      // strings into bucket-transform tuple computation downstream.
      // Legacy single-spec reads keep the Hive-style string surface.
      val restored = restore(normPath(input_file_name()))
      val typed =
        if (castToDeclared)
          declared.get(name).fold(restored)(t => restored.cast(t))
        else restored
      acc.withColumn(name, typed)
    }
  }

  /** One delete file live in a snapshot: path, file content code
    * (1 position / 2 equality), the equality field ids, the delete
    * file's data sequence number, and its manifest metadata (partition
    * values, size, row count — preserved when a rewrite retires it). */
  private[sources] final case class DeleteFileRef(path: String, content: Int,
      equalityIds: Seq[Int], seq: Long,
      partitionValues: Seq[Option[Any]] = Nil,
      sizeBytes: Long = 0L, recordCount: Long = 0L,
      specId: Int = 0) {
    /** The manifest row a rewrite re-lists this delete file under. */
    def asFileInfo: DataFileInfo = DataFileInfo(path, sizeBytes, recordCount,
      partitionValues = partitionValues, content = content,
      equalityIds = equalityIds, specId = specId)
  }

  /** The live delete files listed by a manifest list (content-1
    * manifest rows, non-DELETED entries). */
  private[sources] def liveDeleteFiles(manifestListRows: Seq[GenericRecord],
      conf: Configuration): Seq[DeleteFileRef] =
    manifestListRows.filter(_.get("content").asInstanceOf[Int] == 1).flatMap { m =>
      val listSeq = m.get("sequence_number").asInstanceOf[Long]
      readAvroRows(new Path(m.get("manifest_path").toString), conf)
        .filter(_.get("status") != 2)
        .map { e =>
          val df = e.get("data_file")
            .asInstanceOf[org.apache.avro.generic.GenericRecord]
          val ids = Option(df.get("equality_ids")).toSeq.flatMap { l =>
            val jl = l.asInstanceOf[java.util.List[Integer]]
            (0 until jl.size).map(jl.get(_).intValue)
          }
          val seq = Option(e.get("sequence_number"))
            .map(_.asInstanceOf[Long]).getOrElse(listSeq)
          val part = df.get("partition")
            .asInstanceOf[org.apache.avro.generic.GenericRecord]
          val partVals = part.getSchema.getFields.size match {
            case 0 => Nil
            case _ => part.getSchema.getFields.toArray.toSeq.map { f =>
              Option(part.get(
                f.asInstanceOf[org.apache.avro.Schema.Field].name()))
            }
          }
          DeleteFileRef(df.get("file_path").toString,
            df.get("content").asInstanceOf[Int], ids, seq,
            partitionValues = partVals,
            sizeBytes = df.get("file_size_in_bytes").asInstanceOf[Long],
            recordCount = df.get("record_count").asInstanceOf[Long],
            specId = m.get("partition_spec_id").asInstanceOf[Int])
        }
    }

  /** Scan a set of DATA FILES under the table's CURRENT schema — the
    * one scan every reader (snapshot read, both compactions) must
    * share. Un-evolved tables use the inferred-schema read (their
    * files may predate field ids). Evolved tables read BY FIELD ID
    * with an explicit schema: inference over a mixed-schema file set
    * elects ONE file's schema and silently drops columns the elected
    * file lacks — the lifecycle property test caught plain compaction
    * doing exactly that (added-column values vanished for bins whose
    * elected file predated the ADD). Identity-partition columns are
    * directory-encoded and excluded (restored from manifests by the
    * snapshot reader). */
  private[sources] def scanDataFiles(spark: org.apache.spark.sql.SparkSession,
      table: TableDef, paths: Seq[String],
      specId: Int = -1,
      withRowMeta: Boolean = false): org.apache.spark.sql.DataFrame = {
    val sid = if (specId < 0) IcebergMetadata.defaultSpecIdOf(table) else specId
    // row-position metadata must be materialized INSIDE each group's
    // scan: `_metadata` resolves through a Project but NOT through the
    // evolved branch's Union (mixed footer-id mappings → several
    // per-group scans), so callers that need (file, pos) — the delete
    // paths — request it here instead of withColumn-ing after
    def meta(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      if (!withRowMeta) df
      else df
        .withColumn(RowMetaFileCol,
          org.apache.spark.sql.functions.col("_metadata.file_path"))
        .withColumn(RowMetaPosCol,
          org.apache.spark.sql.functions.col("_metadata.row_index"))
    if (table.priorSchemas.isEmpty) meta(spark.read.parquet(paths: _*))
    else {
      import org.apache.spark.sql.functions.{col, lit}
      import scala.jdk.CollectionConverters._
      val hconf = spark.sparkContext.hadoopConfiguration
      // the GROUP's spec decides which identity columns are directory-
      // encoded (callers pass same-spec file groups after evolution)
      val identityCols = dirEncodedIdentityCols(table, sid)
      val current = graft.api.SchemaTranslator.toSparkSchema(table)
        .fields.filterNot(f => identityCols.contains(f.name))
      val idOf = table.fieldIdOf
      // Field-id resolution WITHOUT mutating the session's fieldId.read
      // confs (they would leak: every later unrelated parquet read in
      // the session would silently null-fill instead of erroring). Read
      // each file's footer ids on the driver — the commit path already
      // does an O(#files) footer pass for stats under the same scale
      // contract — and group files by their id→name mapping. A file
      // with no field ids cannot be resolved against an evolved schema
      // and fails loudly rather than reading as all-NULL columns.
      val mappings: Seq[(String, Map[Int, String])] = paths.map { p =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(p), hconf))
        val fields =
          try reader.getFooter.getFileMetaData.getSchema.getFields.asScala.toList
          finally reader.close()
        val m = fields.flatMap(f =>
          Option(f.getId).map(id => id.intValue() -> f.getName)).toMap
        if (m.isEmpty) throw new IllegalStateException(
          s"data file $p of evolved table ${table.fullName} carries no " +
          "parquet field ids and cannot be resolved against the evolved " +
          "schema; rewrite it (compaction) or append via the migration writer")
        p -> m
      }
      val groups = mappings.groupBy(_._2).view.mapValues(_.map(_._1)).toSeq
      groups.map { case (m, groupPaths) =>
        // Request ONLY the columns this file group physically has, under
        // the FILE's names but the CURRENT (possibly widened) types —
        // Spark 4's parquet reader widens int→long / float→double /
        // decimal in place. Renamed columns resolve because the request
        // name comes from the footer id map; columns added after these
        // files were written are null-filled as literals (never read by
        // name, so a dropped-then-readded name can't shadow).
        val present = current.filter(f => m.contains(idOf(f.name)))
        val readSchema = org.apache.spark.sql.types.StructType(
          present.map(f => f.copy(name = m(idOf(f.name)))))
        val metaCols =
          if (withRowMeta) Seq(col(RowMetaFileCol), col(RowMetaPosCol))
          else Nil
        meta(spark.read.schema(readSchema).parquet(groupPaths: _*))
          .select(current.map { f =>
            if (m.contains(idOf(f.name))) col(m(idOf(f.name))).as(f.name, f.metadata)
            else lit(null).cast(f.dataType).as(f.name, f.metadata)
          } ++ metaCols: _*)
      }.reduce(_.unionByName(_))
    }
  }

  /** Resolve a snapshot (current when None) to its metadata row plus
    * its manifest-list rows — the shared head of [[readSnapshot]] and
    * [[IcebergPruning.planScan]]. */
  private[sources] def resolveSnapshot(tablePath: String, table: TableDef,
      snapshotId: Option[Long], conf: Configuration)
      : (IcebergMetadata.SnapshotMeta, Seq[GenericRecord]) = {
    val snap = TableHead.read(tablePath, conf).snapshot(snapshotId)
    (snap, readManifestList(new Path(snap.manifestList), conf))
  }

  /** Zero rows under the SAME column shape a non-empty read produces
    * (physical columns in declared order, dir-encoded identity columns
    * restored LAST — string-surfaced until specs have evolved,
    * declared-typed after; then the row-meta columns if asked), so
    * downstream unions and positional diffs
    * are insensitive to the table being empty. Reached by genuinely
    * empty snapshots (delete every row, then compact the deletes in —
    * the randomized lifecycle harness's fourth find) AND by pruned
    * reads whose predicate skips every file. */
  private def emptyShapeRead(spark: org.apache.spark.sql.SparkSession,
      table: TableDef, withRowMeta: Boolean): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val sid = IcebergMetadata.defaultSpecIdOf(table)
    val dirEncoded = dirEncodedIdentityCols(table, sid)
    val identity = partitionFieldsOf(table, sid)
      .filter(_._3 == "identity").map(_._1).filter(dirEncoded.contains)
    val declared = graft.api.SchemaTranslator.toSparkSchema(table)
    val castDecl = table.partitionSpecs.nonEmpty
    val shape = org.apache.spark.sql.types.StructType(
      declared.fields.filterNot(f => identity.contains(f.name)) ++
        identity.map { n =>
          val f = declared.fields.find(_.name == n).get
          if (castDecl) f.copy(nullable = true) else StructField(n, StringType)
        } ++ (if (!withRowMeta) Nil
          else Seq(StructField(RowMetaFileCol, StringType),
            StructField(RowMetaPosCol, LongType))))
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], shape)
  }

  /** Scan live data files: one [[scanDataFiles]] scan plus identity
    * restore per partition spec (a column dir-encoded under one spec
    * is physical under another), unioned by name. Un-evolved tables
    * read by inference, so spec groups can differ in later-added
    * columns; those read as NULL. With `withRowMeta` every row also
    * carries its [[normKey]]-normalized data file path
    * ([[RowMetaFileCol]]) and in-file position ([[RowMetaPosCol]]). */
  private[sources] def scanLiveFiles(spark: org.apache.spark.sql.SparkSession,
      table: TableDef, files: Seq[DataFileInfo],
      withRowMeta: Boolean): org.apache.spark.sql.DataFrame =
    files.groupBy(_.specId).toSeq.sortBy(_._1).map { case (sid, fs) =>
      val scan = scanDataFiles(spark, table, fs.map(_.path), sid,
        withRowMeta = withRowMeta)
      // identity restore rides input_file_name, so it runs on the
      // single-source scan, before any join enters the plan
      restoreIdentityColumnsFor(spark,
        if (withRowMeta) scan.withColumn(RowMetaFileCol,
          normPath(org.apache.spark.sql.functions.col(RowMetaFileCol)))
        else scan,
        table, partitionFieldsOf(table, sid),
        dirEncodedIdentityCols(table, sid),
        fs.map(f => (f.path, f.partitionValues)),
        castToDeclared = table.partitionSpecs.nonEmpty)
    }.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Time-travel read: the net rows reachable from one snapshot —
    * current by default, or any ancestor by id — resolved by walking
    * version-hint → metadata → manifest list → manifests, the same
    * chain an Iceberg runtime walks. Makes the committed history usable
    * from plain Spark (no Iceberg jar): `readSnapshot(spark, path,
    * table, Some(snap1))` reads the table as it was before later
    * increments.
    *
    * The rows are those of the live data files that survive file-level
    * `pruning` ([[IcebergPruning.fileMayMatch]]), with every row-level
    * delete (v2 merge-on-read) applied under the spec's sequence
    * rules. The plan's shape depends only on the table's partition
    * specs and delete kinds, never on how many commits it has:
    *
    *  - one data scan per partition spec ([[scanLiveFiles]]). When
    *    deletes are live, each row carries its (file, pos) identity
    *    (`_metadata.row_index` for pos) and its data sequence number,
    *    joined from a small (file key, data_seq) frame built from the
    *    manifest entries;
    *  - one left-anti join for all position delete files: the row's
    *    (file, pos) equals a deleted one and data_seq ≤ delete_seq;
    *  - one left-anti join per equality-key set: null-safe key equality
    *    and data_seq < delete_seq (equality deletes remove rows of
    *    STRICTLY older files). That side is reduced to each key's
    *    largest delete sequence number, so it is no larger than the
    *    set of distinct deleted keys.
    *
    * Delete rows take their delete file's sequence number from a
    * broadcast lookup keyed by `_metadata.file_path`. Spark's
    * broadcast threshold decides whether each join broadcasts or
    * shuffles. A table without deletes takes the same path with no
    * joins at all.
    *
    * With `keepRowMeta` the result ALSO carries [[RowMetaFileCol]] /
    * [[RowMetaPosCol]], the (file, pos) identity the row-level write
    * faces (SQL UPDATE/MERGE) target with position deletes. */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      table: TableDef, snapshotId: Option[Long] = None,
      pruning: Seq[IcebergPruning.ColumnBound] = Nil,
      keepRowMeta: Boolean = false): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, max, udf}
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val (_, listRows) = resolveSnapshot(tablePath, table, snapshotId, conf)
    // live data files (stats decoded — the pruning signals) with their
    // data sequence numbers; a selective read opens only the files
    // whose bounds / partition values may match
    val files = liveFilesWithSeq(listRows, table, conf).filter { case (f, _) =>
      pruning.forall(b => IcebergPruning.fileMayMatch(table, f, b))
    }
    if (files.isEmpty) return emptyShapeRead(spark, table, keepRowMeta)
    val DataSeqCol = "__graft_data_seq"
    val DeleteSeqCol = "__graft_delete_seq"
    val FileKeyCol = "__graft_file_key"
    // a delete file scan with each row's delete sequence number. Not
    // a join: Spark sizes a join's output as the product of its
    // inputs, so a joined delete side would stop broadcasting once a
    // few dozen delete files are live, and the anti-join would shuffle
    // the whole table. A lookup keeps the scan's own size estimate.
    def deleteScan(dels: Seq[DeleteFileRef], cols: Seq[org.apache.spark.sql.Column])
        : DataFrame = {
      val seqOf = spark.sparkContext.broadcast(
        dels.map(d => scanKey(d.path) -> d.seq).toMap)
      val deleteSeq = udf((key: String) => seqOf.value(key))
      spark.read.parquet(dels.map(_.path): _*).select(cols :+
        deleteSeq(normPath(col("_metadata.file_path"))).as(DeleteSeqCol): _*)
    }
    val deletes = liveDeleteFiles(listRows, conf)
    val scanned = scanLiveFiles(spark, table, files.map(_._1),
      withRowMeta = keepRowMeta || deletes.nonEmpty)
    var net =
      if (deletes.isEmpty) scanned
      else {
        val seqOf = files.map { case (f, seq) => (scanKey(f.path), seq) }.distinct
          .toDF(FileKeyCol, DataSeqCol)
        scanned.join(seqOf, scanned(RowMetaFileCol) === seqOf(FileKeyCol))
          .drop(FileKeyCol)
      }
    val posDeletes = deletes.filter(_.content == 1)
    if (posDeletes.nonEmpty) {
      val toScanKey = udf((p: String) => scanKey(p))
      val del = deleteScan(posDeletes, Seq(
        toScanKey(col("file_path")).as("__graft_dfile"), col("pos").as("__graft_dpos")))
      net = net.join(del, net(RowMetaFileCol) === del("__graft_dfile") &&
        net(RowMetaPosCol) === del("__graft_dpos") &&
        net(DataSeqCol) <= del(DeleteSeqCol), "left_anti")
    }
    val colOfId = table.fieldIdOf.map(_.swap)
    val eqSets = deletes.filter(_.content == 2).groupBy(_.equalityIds)
    for ((ids, dels) <- eqSets.toSeq.sortBy(_._1.mkString(","))) {
      val keyCols = ids.map(colOfId)
      val del = deleteScan(dels, keyCols.map(col))
        .groupBy(keyCols.map(col): _*).agg(max(DeleteSeqCol).as(DeleteSeqCol))
      val cond = keyCols.map(k => net(k) <=> del(k)).reduce(_ && _) &&
        net(DataSeqCol) < del(DeleteSeqCol)
      net = net.join(del, cond, "left_anti")
    }
    net = net.drop(DataSeqCol)
    val residual =
      if (pruning.isEmpty) net
      else net.where(IcebergPruning.residualFilter(net, table, pruning))
    if (keepRowMeta) residual else residual.drop(RowMetaFileCol, RowMetaPosCol)
  }

  /** Snapshot id the MAIN head currently points at — None when the
    * table has no metadata yet OR has metadata but no committed
    * snapshot (the CREATE-only state, and the bootstrap crash window
    * between `writeTableMetadata` and the first `commitAppend`). THE
    * "does this table exist as data" test: the streaming sinks branch
    * on this, not on version-hint existence, so a crash inside
    * bootstrap replays into a fresh bootstrap instead of a permanent
    * increment-on-nothing livelock. */
  // (canonical table path) → (metadata version, its MAIN-head id):
  // v$N.metadata.json is IMMUTABLE once exclusively created (the
  // commit point), so (path, version) → head is a pure function and
  // an UNCHANGED table resolves in O(1) — one hint stat+read, no
  // chain parse. This is what keeps a streaming source's per-trigger
  // getOffset flat in commit count regardless of retention policy
  // (pre-cache: the full chain parsed every poll, measured e≈0.98 in
  // the r13 metadata-plane probe). One entry per table; a version
  // bump overwrites it, so memory is O(live tables).
  private val headIdCache = new java.util.concurrent.ConcurrentHashMap[
    String, ((Int, Long, Long), Option[Long])]()

  /** Drop `tablePath`'s cached head id. The token (version, length,
    * mtime) is almost always enough, but a DROP + RECREATE restarts
    * the version ladder with near-deterministic JSON — on a
    * coarse-mtime filesystem a same-length same-second regeneration
    * could serve the DEAD generation's head. Every writer that
    * restarts or replaces a ladder calls this; ordinary commits don't
    * need to (their token always moves). */
  private[graft] def invalidateHeadCache(tablePath: String,
      conf: Configuration): Unit = {
    val p = new Path(tablePath)
    headIdCache.remove(FileSystem.get(p.toUri, conf).makeQualified(p).toString)
    ()
  }

  def currentSnapshotId(tablePath: String,
      conf: Configuration = new Configuration()): Option[Long] = {
    val metadataDir = new Path(tablePath, "metadata")
    val hint = new Path(metadataDir, "version-hint.text")
    val fs = FileSystem.get(hint.toUri, conf)
    if (!fs.exists(hint)) return None
    val version = readVersionHint(metadataDir, conf)
    val metaFile = new Path(metadataDir, s"v$version.metadata.json")
    // validity token beyond the version number: a table DROPPED and
    // RECREATED at the same path restarts its version count, so the
    // file's (length, mtime) guards against serving the old table's
    // head — still one stat, still O(1)
    val st = fs.getFileStatus(metaFile)
    val token = (version, st.getLen, st.getModificationTime)
    val key = fs.makeQualified(new Path(tablePath)).toString
    val cached = headIdCache.get(key)
    if (cached != null && cached._1 == token) return cached._2
    val head = new TableHead(tablePath, conf, version, readText(metaFile, conf))
      .main.map(_.snapshotId)
    headIdCache.put(key, (token, head))
    head
  }

  /** The CURRENT table properties (spec string→string map). */
  def tableProperties(tablePath: String,
      conf: Configuration = new Configuration()): Map[String, String] =
    TableHead.read(tablePath, conf).properties

  /** Set (upsert) table properties as a metadata-only commit — the
    * spec's `properties` map; a value of None removes the key. The
    * snapshot chain is untouched. */
  def setTableProperties(table: TableDef, tablePath: String,
      props: Map[String, Option[String]],
      conf: Configuration = new Configuration(),
      timestampMs: Long = System.currentTimeMillis()): Unit =
    TableHead.read(tablePath, conf).commitMetadata(table, timestampMs,
      addProperties = props.collect { case (k, Some(v)) => k -> v },
      removeProperties = props.collect { case (k, None) => k }.toSet)

  /** Name-derived snapshot id: the UUID of (table, the committing
    * site's `idName`, sequence number). A replayed commit reproduces
    * its id, and with it every manifest and manifest-list name. */
  private[sources] def snapshotIdOf(table: TableDef, idName: String,
      seq: Long): Long =
    UUID.nameUUIDFromBytes(
      s"${table.fullName}-$idName-$seq".getBytes(StandardCharsets.UTF_8))
      .getMostSignificantBits & Long.MaxValue

  /** One read of a table's head: `version-hint.text` and the
    * `vN.metadata.json` it names, read once and parsed once. Every head
    * read and every commit in `graft.sources` goes through one (only
    * the table-creating [[commitAppend]] has no head to read).
    *
    * The commit protocol it carries:
    *  - READ ONCE. A commit derives everything it writes from one head:
    *    the snapshot chain, the MAIN head (`current-snapshot-id`
    *    resolved into the chain, else its tail — with write-audit-
    *    publish a staged branch snapshot may trail main), the refs and
    *    properties it carries forward, and the next sequence number
    *    (table-global `max + 1`, so a staged branch never collides with
    *    main).
    *  - COMMIT POINT. [[commitMetadata]] creates `v{N+1}.metadata.json`
    *    exclusively and only then flips the hint; a writer that loses
    *    the version race gets [[CommitConflictException]].
    *  - RETRY UNIT. A head is never refreshed in place: the whole commit
    *    call is the unit [[withCommitRetry]] repeats, and each attempt
    *    reads a fresh head.
    *  - DETERMINISTIC IDS. [[next]] derives the new snapshot's id from
    *    the name the committing site passes and the sequence number
    *    ([[snapshotIdOf]]); [[commitSnapshot]] derives its summary,
    *    every `total-*` field included, from the parent's totals and
    *    the files the commit adds and removes. */
  final class TableHead private[sources] (val tablePath: String,
      val conf: Configuration, val version: Int, val metaText: String) {
    val metadataDir: Path = new Path(tablePath, "metadata")
    private[sources] lazy val json: JValue = JsonMethods.parse(metaText)

    lazy val chain: Seq[IcebergMetadata.SnapshotMeta] =
      (json \ "snapshots").asInstanceOf[JArray].arr.map { s =>
        def num(p: String) = (s \ p).asInstanceOf[JInt].num.toLong
        def sum(p: String) = (s \ "summary" \ p).asInstanceOf[JString].s.toLong
        def sum0(p: String) = (s \ "summary" \ p) match {
          case JString(v) => v.toLong
          case _ => 0L
        }
        IcebergMetadata.SnapshotMeta(
          snapshotId = num("snapshot-id"),
          timestampMs = num("timestamp-ms"),
          manifestList = (s \ "manifest-list").asInstanceOf[JString].s,
          addedFiles = sum("added-data-files"),
          addedRecords = sum("added-records"),
          sequenceNumber = num("sequence-number"),
          parentSnapshotId = (s \ "parent-snapshot-id") match {
            case JInt(p) => Some(p.toLong)
            case _ => None
          },
          totalFiles = sum("total-data-files"),
          totalRecords = sum("total-records"),
          operation = (s \ "summary" \ "operation").asInstanceOf[JString].s,
          deletedFiles = sum0("deleted-data-files"),
          deletedRecords = sum0("deleted-records"),
          addedDeleteFiles = sum0("added-delete-files"),
          addedPositionDeletes = sum0("added-position-deletes"),
          addedEqualityDeletes = sum0("added-equality-deletes"),
          totalDeleteFiles = sum0("total-delete-files"),
          totalPositionDeletes = sum0("total-position-deletes"),
          totalEqualityDeletes = sum0("total-equality-deletes"),
          schemaId = (s \ "schema-id") match {
            case JInt(v) => v.toInt
            case _ => 0
          })
      }

    /** The MAIN head: `current-snapshot-id` resolved into the chain,
      * else the tail (pre-override metadata); None before the first
      * snapshot. */
    lazy val main: Option[IcebergMetadata.SnapshotMeta] =
      ((json \ "current-snapshot-id") match {
        case JInt(id) if id >= 0 => chain.find(_.snapshotId == id.toLong)
        case _ => None
      }).orElse(chain.lastOption)

    /** Named refs beyond `main`: (name, snapshot-id, type) triples. */
    lazy val refs: Seq[(String, Long, String)] = (json \ "refs") match {
      case JObject(fields) => fields.collect {
        case (name, v) if name != "main" =>
          (name, (v \ "snapshot-id").asInstanceOf[JInt].num.toLong,
            (v \ "type").asInstanceOf[JString].s)
      }
      case _ => Nil
    }

    /** The table-properties map. */
    lazy val properties: Map[String, String] = (json \ "properties") match {
      case JObject(fields) => fields.collect {
        case (k, JString(v)) => k -> v
      }.toMap
      case _ => Map.empty
    }

    /** The table definition this metadata version records. */
    lazy val tableDef: TableDef = IcebergTableLoader.fromMetadataJson(json)

    /** The sequence number the next snapshot commits under. */
    lazy val nextSequence: Long =
      chain.map(_.sequenceNumber).maxOption.getOrElse(0L) + 1

    /** The main head, refusing a table with no committed snapshot. */
    def requireMain(): IcebergMetadata.SnapshotMeta = main.getOrElse(
      throw new IllegalArgumentException(
        s"$tablePath has no committed snapshot (metadata version $version)"))

    /** The main head (None) or the retained snapshot `id`. */
    def snapshot(id: Option[Long]): IcebergMetadata.SnapshotMeta =
      id.fold(main)(i => chain.find(_.snapshotId == i)).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot ${id.getOrElse("<current>")} not found"))

    /** The head of branch `name`, if the branch exists. */
    def branchHead(name: String): Option[IcebergMetadata.SnapshotMeta] =
      refs.collectFirst { case (n, id, "branch") if n == name => id }
        .flatMap(id => chain.find(_.snapshotId == id))

    /** `from` and its retained ancestors, newest first. */
    def ancestry(from: IcebergMetadata.SnapshotMeta): Seq[IcebergMetadata.SnapshotMeta] =
      IcebergMetadata.ancestry(chain, from)

    /** The data files under `<tablePath>/data` that no retained
      * snapshot references yet — what an append, an overwrite, an
      * upsert or a branch stage commits. The known set spans the WHOLE
      * chain ([[knownFilePaths]]), so a file tombstoned by an earlier
      * rewrite, or staged on a branch, is never claimed again. */
    def newDataFiles(table: TableDef): Seq[DataFileInfo] =
      listDataFiles(new Path(tablePath, "data"), table, conf,
        skipPaths = knownFilePaths(chain, conf))

    /** The next snapshot, its id derived from `idName` ([[snapshotIdOf]]). */
    def next(table: TableDef, idName: String = "snapshot"): NextSnapshot =
      new NextSnapshot(this, table,
        snapshotIdOf(table, idName, nextSequence), nextSequence)

    /** Commit `next` as a child of `parent`: write its manifest list
      * (`rows`, then the `carried` rows of earlier snapshots re-listed
      * verbatim), derive its summary, and commit the metadata. `added`
      * and `removed` are the data and delete files the snapshot adds
      * and retires; every summary count and every `total-*` field
      * comes from them and the parent's totals, here and nowhere else.
      * The new snapshot becomes the main head unless `mainId` names
      * another (a branch stage keeps main where it is). */
    def commitSnapshot(next: NextSnapshot, parent: IcebergMetadata.SnapshotMeta,
        operation: String, rows: Seq[ManifestListRow], timestampMs: Long,
        added: Seq[DataFileInfo] = Nil, removed: Seq[DataFileInfo] = Nil,
        carried: Seq[GenericRecord] = Nil, mainId: Option[Long] = None,
        addRefs: Seq[(String, Long, String)] = Nil,
        addProperties: Map[String, String] = Map.empty)
        : IcebergMetadata.SnapshotMeta = {
      require(next.head eq this, "a snapshot commits on the head it was drawn from")
      val listPath = writeManifestListRows(next.table, rows, metadataDir,
        next.id, conf, next.seq, Some(parent.snapshotId), carried)
      def records(fs: Seq[DataFileInfo], content: Int) =
        fs.filter(_.content == content).map(_.recordCount).sum
      def files(fs: Seq[DataFileInfo], data: Boolean) =
        fs.count(f => (f.content == 0) == data).toLong
      val snap = IcebergMetadata.SnapshotMeta(
        snapshotId = next.id,
        schemaId = next.table.schemaId,
        timestampMs = timestampMs,
        manifestList = listPath.toString,
        sequenceNumber = next.seq,
        parentSnapshotId = Some(parent.snapshotId),
        operation = operation,
        addedFiles = files(added, data = true),
        addedRecords = records(added, 0),
        deletedFiles = files(removed, data = true),
        deletedRecords = records(removed, 0),
        addedDeleteFiles = files(added, data = false),
        addedPositionDeletes = records(added, 1),
        addedEqualityDeletes = records(added, 2),
        totalFiles = parent.cumulativeFiles +
          files(added, data = true) - files(removed, data = true),
        totalRecords = parent.cumulativeRecords +
          records(added, 0) - records(removed, 0),
        totalDeleteFiles = parent.totalDeleteFiles +
          files(added, data = false) - files(removed, data = false),
        totalPositionDeletes = parent.totalPositionDeletes +
          records(added, 1) - records(removed, 1),
        totalEqualityDeletes = parent.totalEqualityDeletes +
          records(added, 2) - records(removed, 2))
      commitMetadata(next.table, timestampMs, chain :+ snap,
        mainId = mainId.orElse(Some(snap.snapshotId)), addRefs = addRefs,
        addProperties = addProperties)
      snap
    }

    /** Write metadata version N+1 — `snapshots` (by default the chain
      * unchanged: a metadata-only commit) with `mainId` as the main
      * head (by default the current one) — and flip the hint. Named
      * refs and table properties carry forward from this head's text
      * (refs to snapshots no longer in `snapshots` drop out), minus
      * removals, overridden by additions; a streaming sink's
      * transaction guard thereby survives every interleaved commit. */
    def commitMetadata(table: TableDef, timestampMs: Long,
        snapshots: Seq[IcebergMetadata.SnapshotMeta] = chain,
        mainId: Option[Long] = main.map(_.snapshotId),
        addRefs: Seq[(String, Long, String)] = Nil,
        removeRefs: Set[String] = Set.empty,
        addProperties: Map[String, String] = Map.empty,
        removeProperties: Set[String] = Set.empty): Unit = {
      val metadataLog = (1 to version).map(v =>
        timestampMs -> new Path(metadataDir, s"v$v.metadata.json").toString)
      val ids = snapshots.map(_.snapshotId).toSet
      val keptRefs = (refs.filterNot(r => removeRefs.contains(r._1))
        .filterNot(r => addRefs.exists(_._1 == r._1)) ++ addRefs)
        .filter(r => ids.contains(r._2))
      val props = (properties - "write.format.default" -- removeProperties) ++
        addProperties
      val doc = IcebergMetadata.metadataJsonChain(table, tablePath,
        lastUpdatedMs = timestampMs, snapshots = snapshots,
        metadataLog = metadataLog, extraRefs = keptRefs,
        currentIdOverride = mainId, properties = props)
      val fs = FileSystem.get(metadataDir.toUri, conf)
      val metaFile = new Path(metadataDir, s"v${version + 1}.metadata.json")
      val out = createExclusive(metaFile, fs, version + 1)
      try out.write(doc.getBytes(StandardCharsets.UTF_8)) finally out.close()
      writeVersionHint(metadataDir, version + 1, fs)
    }
  }

  /** The id and sequence number of the snapshot a commit on `head`
    * writes ([[TableHead.next]]), with writers for its manifests. */
  final class NextSnapshot private[sources] (val head: TableHead,
      val table: TableDef, val id: Long, val seq: Long) {
    /** Write one manifest of this snapshot ([[writeManifestEntries]]). */
    def manifest(entries: Seq[ManifestEntry], ordinal: Int,
        specId: Int = -1): (Path, Long) =
      writeManifestEntries(table, entries, head.metadataDir, id, head.conf,
        ordinal, specId)

    /** Write a manifest of files this snapshot ADDS and return its
      * manifest-list row. */
    def addedManifest(files: Seq[DataFileInfo], ordinal: Int,
        specId: Int = IcebergMetadata.defaultSpecIdOf(table),
        content: Int = 0): ManifestListRow = {
      val (p, len) = manifest(files.map(ManifestEntry(1, None, _)),
        ordinal, specId)
      ManifestListRow(p.toString, len, seq, seq, files.size, 0, 0,
        files.map(_.recordCount).sum, 0L, 0L, content, specId)
    }
  }

  object TableHead {
    /** Read the head of the table at `tablePath`. */
    def read(tablePath: String, conf: Configuration): TableHead = {
      val metadataDir = new Path(tablePath, "metadata")
      val version = readVersionHint(metadataDir, conf)
      new TableHead(tablePath, conf, version,
        readText(new Path(metadataDir, s"v$version.metadata.json"), conf))
    }
  }

  /** Two writers racing a commit on the same base version both try to
    * install `v{N+1}.metadata.json`; exactly one may win, or the loser
    * silently overwrites the winner's payload while both flip the hint
    * to N+1 — a lost update. This exception marks the LOSER: its
    * snapshot was built against a base another commit just replaced,
    * so the whole commit body must re-read the table and rebuild —
    * wrap the operation in [[withCommitRetry]] to do that
    * automatically. */
  final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

  /** Exclusive creation of a new metadata version — the COMMIT POINT
    * of the optimistic protocol. Local paths go through NIO's atomic
    * O_EXCL create (same-JVM and cross-process safe); other stores use
    * `fs.create(overwrite = false)`. An existing file means another
    * commit won this version (→ [[CommitConflictException]]) — or a
    * writer died between creating it and flipping the hint, which
    * leaves the orphan blocking the version slot until
    * `removeOrphanFiles` sweeps it (it is unreferenced and above the
    * hint, so the sweep's age guard is the only wait). */
  private def createExclusive(p: Path, fs: FileSystem,
      version: Int): java.io.OutputStream = {
    val conflict = () => throw new CommitConflictException(
      s"metadata version $version already exists at $p — a concurrent " +
        "commit won this version (or a crashed one left it; sweep " +
        "orphans); rebuild against the current version and retry")
    val uri = p.toUri
    if (uri.getScheme == null || uri.getScheme == "file") {
      val local = java.nio.file.Paths.get(uri.getPath)
      try java.nio.file.Files.newOutputStream(local,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException => conflict()
      }
    } else {
      if (fs.exists(p)) conflict()
      try fs.create(p, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => conflict()
      }
    }
  }

  /** Optimistic-concurrency retry for a COMMIT operation: run `body`
    * (which must RE-READ the table state each attempt — every commit
    * in this engine does, reading a fresh [[TableHead]] first),
    * retrying when a concurrent commit wins the version race.
    * Linearizes N independent writers on one table: each retry rebuilds
    * against the new head, so every committed snapshot's parent is the
    * snapshot that actually preceded it — no lost updates.
    *
    * Retry the COMMIT step only, never the data staging: re-running a
    * data write before a dir-scanning commit would land the same rows
    * twice (see `SchemaTranslator.appendIncrement`, which stages once
    * and retries only `commitAppendIncrement`). */
  def withCommitRetry[T](maxAttempts: Int = 10)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: CommitConflictException =>
          attempt += 1
          if (attempt >= maxAttempts) throw e
          Thread.sleep(2L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Fail before a write when the session has turned
    * `spark.sql.parquet.fieldId.write.enabled` off: evolved tables read
    * by field id, so a data or delete file written without ids would
    * read back as NULL columns. The key defaults on; the session's
    * setting is only read, never changed. */
  private[graft] def requireFieldIdWrite(
      spark: org.apache.spark.sql.SparkSession): Unit = {
    val key = "spark.sql.parquet.fieldId.write.enabled"
    if (!spark.conf.get(key, "true").trim.toBoolean)
      throw new IllegalStateException(
        s"$key is false in this session; graft-iceberg writes need parquet " +
          "field ids (evolved tables read by id), so unset it or set it to true")
  }

  /** Decode one manifest `data_file` record back to [[DataFileInfo]]
    * (stats maps included) — shared by [[liveFilesWithSeq]] and the
    * cherry-pick re-commit, so a rewrite can re-list files without
    * re-reading parquet footers. */
  private[sources] def decodeDataFileInfo(df: GenericRecord,
      pf: Seq[(String, String, String)], specId: Int): DataFileInfo = {
    val part = df.get("partition").asInstanceOf[GenericRecord]
    def kv[T](field: String)(f: Any => T): Map[Int, T] = {
      val arr = df.get(field)
      if (arr == null) Map.empty
      else {
        val l = arr.asInstanceOf[java.util.List[GenericRecord]]
        (0 until l.size).map { i =>
          l.get(i).get("key").asInstanceOf[Int] -> f(l.get(i).get("value"))
        }.toMap
      }
    }
    def bytesOf(v: Any): Array[Byte] = {
      val bb = v.asInstanceOf[java.nio.ByteBuffer].duplicate()
      val out = new Array[Byte](bb.remaining); bb.get(out); out
    }
    DataFileInfo(
      path = df.get("file_path").toString,
      sizeBytes = df.get("file_size_in_bytes").asInstanceOf[Long],
      recordCount = df.get("record_count").asInstanceOf[Long],
      partitionValues = pf.map { case (name, _, _) => Option(part.get(name)) },
      valueCounts = kv("value_counts")(_.asInstanceOf[Long]),
      nullCounts = kv("null_value_counts")(_.asInstanceOf[Long]),
      lowerBounds = kv("lower_bounds")(bytesOf),
      upperBounds = kv("upper_bounds")(bytesOf),
      specId = specId)
  }

  /** The live data files of the current snapshot, with each file's
    * origin data sequence number (explicit on EXISTING/DELETED rows,
    * inherited from the manifest-list row on ADDED rows). Stats maps
    * are decoded back from the manifest so a rewrite can re-list
    * files without re-reading footers. */
  private[sources] def liveFilesWithSeq(manifestListRows: Seq[GenericRecord],
      table: TableDef, conf: Configuration): Seq[(DataFileInfo, Long)] = {
    manifestListRows.filter(_.get("content").asInstanceOf[Int] == 0).flatMap { m =>
      val listSeq = m.get("sequence_number").asInstanceOf[Long]
      // partition values are shaped by the MANIFEST's spec (old files
      // keep their original spec after spec evolution)
      val manifestSpecId = m.get("partition_spec_id").asInstanceOf[Int]
      val pf = partitionFieldsOf(table, manifestSpecId)
      readAvroRows(new Path(m.get("manifest_path").toString), conf)
        .filter(_.get("status") != 2)
        .map { e =>
          val df = e.get("data_file")
            .asInstanceOf[org.apache.avro.generic.GenericRecord]
          val info = decodeDataFileInfo(df, pf, manifestSpecId)
          val seq = Option(e.get("sequence_number"))
            .map(_.asInstanceOf[Long]).getOrElse(listSeq)
          (info, seq)
        }
    }
  }

  /** Small-file compaction as a REPLACE snapshot — the standard
    * Iceberg maintenance operation at scale: files within one
    * partition are greedily binned to `targetBytes` (size-descending
    * first-fit, deterministic), each multi-file bin is rewritten as
    * one file, and the commit follows the spec's rewrite shape: a new
    * manifest list carrying ONLY rewritten manifests — ADDED rows for
    * compacted files (data sequence = the new snapshot's), EXISTING
    * rows for untouched files and DELETED rows for replaced ones,
    * both keeping their ORIGINAL data sequence numbers so older
    * snapshots' time travel is untouched (data files are never
    * physically deleted here; expiry is a separate GC). Bins never
    * cross partition values. No-op when nothing merges. */
  def compactDataFiles(spark: org.apache.spark.sql.SparkSession,
      table: TableDef, tablePath: String, targetBytes: Long,
      timestampMs: Long = System.currentTimeMillis()): IcebergMetadata.SnapshotMeta = {
    require(targetBytes > 0)
    val conf = spark.sparkContext.hadoopConfiguration
    val head = TableHead.read(tablePath, conf)
    val current = head.requireMain()
    val fs = FileSystem.get(head.metadataDir.toUri, conf)
    val priorList = readManifestList(new Path(current.manifestList), conf)
    // a rewrite must APPLY live row-level deletes (and drop the delete
    // files it consumed) to preserve row content — that richer rewrite
    // is IcebergDeletes.compactWithDeletes territory; refuse here
    // rather than silently resurrect deleted rows. LIVE means a
    // content-1 manifest still carries a non-DELETED entry: a retired
    // delete manifest (all entries status=2 — what compactWithDeletes
    // leaves behind, re-listed by later appends) affects no row and
    // must not lock plain compaction out forever.
    require(liveDeleteFiles(priorList, conf).isEmpty,
      "compactDataFiles with live delete files would resurrect deleted rows; " +
        "this compaction handles data manifests only")
    val live = liveFilesWithSeq(priorList, table, conf)

    // bin-pack per (spec, partition tuple): size-descending first-fit;
    // bins never cross specs — a rewritten file keeps its original
    // spec (the v2 old-files-retain-their-spec rule), and a manifest's
    // partition record is shaped by exactly one spec
    val bins = live.groupBy(f => (f._1.specId, f._1.partitionValues))
      .toSeq.flatMap { case (_, fsOfPart) =>
      val sorted = fsOfPart.sortBy(f => (-f._1.sizeBytes, f._1.path))
      val acc = ArrayBuffer.empty[(ArrayBuffer[(DataFileInfo, Long)], Long)]
      for (f <- sorted) {
        acc.indexWhere(_._2 + f._1.sizeBytes <= targetBytes) match {
          case -1 => acc += ((ArrayBuffer(f), f._1.sizeBytes))
          case i => acc(i) = ((acc(i)._1 += f, acc(i)._2 + f._1.sizeBytes))
        }
      }
      acc.map(_._1.toSeq)
    }
    val toMerge = bins.filter(_.size >= 2)
    if (toMerge.isEmpty) return current
    val merged = toMerge.flatMap(_.map(_._1.path)).toSet

    // rewrite each multi-file bin as one file under data/compact-<seq>/<i>;
    // re-sort by the declared sort order — concatenating sorted runs
    // would silently break the default sort order the metadata declares
    val next = head.next(table)
    val sortCols = table.distributeByHash.toSeq
      .filter(table.columns.map(_.name).contains)
    val compacted = toMerge.zipWithIndex.map { case (bin, i) =>
      val dir = new Path(tablePath, s"data/compact-${next.seq}-$i")
      // the shared evolved-aware scan: a mixed-schema bin read by
      // inference would elect one file's schema and drop the rest;
      // the bin's spec decides which identity columns are dir-encoded
      val one = scanDataFiles(spark, table, bin.map(_._1.path),
        bin.head._1.specId).coalesce(1)
      val ordered =
        if (sortCols.isEmpty) one
        else one.sortWithinPartitions(
          sortCols.map(org.apache.spark.sql.functions.col): _*)
      // keep field ids in rewritten files — evolved tables read by id
      requireFieldIdWrite(spark)
      ordered.write.mode("overwrite").parquet(dir.toString)
      val st = fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet")).head
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
      val (nRows, stats) =
        try (reader.getRecordCount, columnStats(reader, table))
        finally reader.close()
      DataFileInfo(st.getPath.toString, st.getLen, nRows,
        bin.head._1.partitionValues,
        valueCounts = stats._1, nullCounts = stats._2,
        lowerBounds = stats._3, upperBounds = stats._4,
        specId = bin.head._1.specId)
    }

    val untouched = live.filterNot(f => merged.contains(f._1.path))
    val deleted = live.filter(f => merged.contains(f._1.path))
    // one data manifest PER SPEC: ADDED (new seq, inherited) +
    // EXISTING + DELETED (original seqs, explicit). Un-evolved tables
    // have a single spec group — one manifest, exactly as before.
    val tagged: Seq[(Int, ManifestEntry)] =
      compacted.map(f => f.specId -> ManifestEntry(1, None, f)) ++
        untouched.map { case (f, seq) =>
          f.specId -> ManifestEntry(0, Some(seq), f) } ++
        deleted.map { case (f, seq) =>
          f.specId -> ManifestEntry(2, Some(seq), f) }
    val rows = tagged.groupBy(_._1).toSeq.sortBy(_._1).zipWithIndex.map {
      case ((sid, tagEntries), i) =>
        val entries = tagEntries.map(_._2)
        val manifest = next.manifest(entries, priorList.size + i, sid)
        val added = entries.filter(_.status == 1).map(_.file)
        val existing = entries.filter(_.status == 0).map(_.file)
        val removed = entries.filter(_.status == 2).map(_.file)
        ManifestListRow(manifest._1.toString, manifest._2,
          sequenceNumber = next.seq,
          minSequenceNumber = (next.seq +: entries.flatMap(_.sequenceNumber)).min,
          addedFiles = added.size, existingFiles = existing.size,
          deletedFiles = removed.size,
          addedRows = added.map(_.recordCount).sum,
          existingRows = existing.map(_.recordCount).sum,
          deletedRows = removed.map(_.recordCount).sum,
          specId = sid)
    }
    head.commitSnapshot(next, current, "replace", rows, timestampMs,
      added = compacted, removed = deleted.map(_._1))
  }

  /** Snapshot expiry — the GC half of table maintenance: drop all but
    * the last `keepLast` snapshots from the metadata and PHYSICALLY
    * delete every file reachable only through the expired ones, per
    * the Iceberg expiry rule: a data/delete file is removed when every
    * snapshot listing it as LIVE (status ≠ DELETED) has expired; a
    * manifest is removed when no retained manifest list re-lists it
    * (appends re-list prior manifests, so shared history survives);
    * each expired snapshot's own manifest list goes with it. Returns
    * (new current snapshot, deleted file paths). Time travel to
    * retained snapshots is untouched; reading an expired id now fails
    * — which is the point: expiry is how a table stops accumulating
    * rewrite/compaction garbage. Driver-side O(manifests + files),
    * the same shape as a real expire commit. */
  def expireSnapshots(table: TableDef, tablePath: String, keepLast: Int,
      conf: Configuration = new Configuration(),
      timestampMs: Long = System.currentTimeMillis()): (IcebergMetadata.SnapshotMeta, Seq[String]) = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val head = TableHead.read(tablePath, conf)
    val chain = head.chain
    val mainHead = head.requireMain()
    // snapshots referenced by named refs (tags/branches) are protected
    // from expiry, per the spec's ref-retention semantics — dropping
    // the ref is the only way to release them. The MAIN head is always
    // protected (with a staged WAP branch it need not sit in the
    // array-tail keepLast window).
    val protectedIds = head.refs.map(_._2).toSet + mainHead.snapshotId
    val lastK = chain.takeRight(keepLast).map(_.snapshotId).toSet
    val retained = chain.filter(s =>
      lastK.contains(s.snapshotId) || protectedIds.contains(s.snapshotId))
    val expired = chain.filterNot(s =>
      lastK.contains(s.snapshotId) || protectedIds.contains(s.snapshotId))
    if (expired.isEmpty) return (mainHead, Nil)

    // per snapshot: its manifest list, the manifests it lists, and the
    // files those manifests carry as LIVE
    def reach(s: IcebergMetadata.SnapshotMeta): (String, Set[String], Set[String]) = {
      val rows = readManifestList(new Path(s.manifestList), conf)
      val manifests = rows.map(_.get("manifest_path").toString).toSet
      val live = rows.flatMap { m =>
        readAvroRows(new Path(m.get("manifest_path").toString), conf)
          .filter(_.get("status") != 2)
          .map(_.get("data_file")
            .asInstanceOf[org.apache.avro.generic.GenericRecord]
            .get("file_path").toString)
      }.toSet
      (s.manifestList, manifests, live)
    }
    val retainedReach = retained.map(reach)
    val expiredReach = expired.map(reach)
    val keepManifests = retainedReach.flatMap(_._2).toSet
    val keepFiles = retainedReach.flatMap(_._3).toSet
    val keepLists = retained.map(_.manifestList).toSet
    val doomed =
      (expiredReach.map(_._1).filterNot(keepLists) ++
        expiredReach.flatMap(_._2).filterNot(keepManifests) ++
        expiredReach.flatMap(_._3).filterNot(keepFiles)).distinct
    val fs = FileSystem.get(head.metadataDir.toUri, conf)
    doomed.foreach(p => fs.delete(new Path(p), false))

    head.commitMetadata(table, timestampMs, snapshots = retained)
    (mainHead, doomed)
  }

  /** Create (or move) a named ref — a TAG pins a snapshot for
    * audit/reproducibility, a BRANCH names an alternate head; both
    * protect their snapshot from [[expireSnapshots]] until the ref is
    * dropped. Metadata-only commit (the spec's refs map). */
  def createRef(table: TableDef, tablePath: String, name: String,
      snapshotId: Long, refType: String = "tag",
      conf: Configuration = new Configuration(),
      timestampMs: Long = System.currentTimeMillis()): Unit = {
    require(name.nonEmpty && name != "main", "ref name must not be 'main'")
    require(refType == "tag" || refType == "branch",
      s"ref type must be tag|branch, got $refType")
    val head = TableHead.read(tablePath, conf)
    require(head.chain.exists(_.snapshotId == snapshotId),
      s"snapshot $snapshotId not found")
    head.commitMetadata(table, timestampMs,
      addRefs = Seq((name, snapshotId, refType)))
  }

  /** Drop a named ref — its snapshot becomes expirable again. */
  def dropRef(table: TableDef, tablePath: String, name: String,
      conf: Configuration = new Configuration(),
      timestampMs: Long = System.currentTimeMillis()): Unit =
    TableHead.read(tablePath, conf).commitMetadata(table, timestampMs,
      removeRefs = Set(name))

  /** The current named refs of the table (name, snapshot-id, type). */
  def listRefs(tablePath: String,
      conf: Configuration = new Configuration()): Seq[(String, Long, String)] =
    TableHead.read(tablePath, conf).refs

  /** [[readSnapshot]] addressed by ref name instead of snapshot id
    * (same optional stats-based `pruning`). */
  def readSnapshotAtRef(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, table: TableDef, refName: String,
      pruning: Seq[IcebergPruning.ColumnBound] = Nil): org.apache.spark.sql.DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (refName == "main")
      return readSnapshot(spark, tablePath, table, pruning = pruning)
    val id = listRefs(tablePath, conf).collectFirst {
      case (n, sid, _) if n == refName => sid
    }.getOrElse(throw new IllegalArgumentException(s"no ref $refName"))
    readSnapshot(spark, tablePath, table, Some(id), pruning = pruning)
  }

  /** Incremental append (snapshot N+1): commit the data files that
    * appeared under `<tablePath>/data` SINCE the current snapshot —
    * the CDC-sync shape: an initial [[commitAppend]] migration, then
    * periodic delta loads each becoming one snapshot. Follows the spec
    * commit protocol: the new manifest covers only the new files, the
    * new manifest list re-lists every prior manifest at its original
    * sequence number, sequence numbers advance by one, the new
    * metadata version carries the whole snapshot chain (parent link,
    * cumulative totals, snapshot-log, extended metadata-log) and the
    * version hint moves forward. No-op (returns the current snapshot)
    * when no new files exist. */
  def commitAppendIncrement(table: TableDef, tablePath: String,
      conf: Configuration = new Configuration(),
      timestampMs: Long = System.currentTimeMillis(),
      extraProperties: Map[String, String] = Map.empty): IcebergMetadata.SnapshotMeta = {
    val head = TableHead.read(tablePath, conf)
    val current = head.requireMain()
    val newFiles = head.newDataFiles(table)
    if (newFiles.isEmpty) return current
    val priorList = readManifestList(new Path(current.manifestList), conf)
    val next = head.next(table)
    head.commitSnapshot(next, current, "append",
      Seq(next.addedManifest(newFiles, priorList.size)), timestampMs,
      added = newFiles, carried = priorList, addProperties = extraProperties)
  }

  /** Commit a WHOLE-TABLE OVERWRITE snapshot — the SQL INSERT
    * OVERWRITE shape: every data file appended under `data/` since the
    * current snapshot becomes this snapshot's ADDED files, every prior
    * live data file is marked DELETED and every live delete file
    * retired — ONE atomic snapshot on the EXISTING version ladder.
    * History, tags and branches survive: earlier snapshots still
    * time-travel (a real Iceberg runtime commits INSERT OVERWRITE
    * exactly this way, instead of starting a fresh table generation).
    * Zero appended files is legal (overwrite from an empty source =
    * truncate); overwriting an already-empty table with no new files
    * no-ops. Like every commit here, the whole call is the retry unit
    * for [[withCommitRetry]]. */
  def commitOverwriteAll(table: TableDef, tablePath: String,
      conf: Configuration = new Configuration(),
      timestampMs: Long = System.currentTimeMillis()): IcebergMetadata.SnapshotMeta = {
    val head = TableHead.read(tablePath, conf)
    val current = head.requireMain()
    val priorList = readManifestList(new Path(current.manifestList), conf)
    // chain-wide known set, not just the current snapshot's: files
    // staged by a racing writer between our data write and this commit
    // must not be claimed (the appendIncrement discipline)
    val newFiles = head.newDataFiles(table)
    val liveData = liveFilesWithSeq(priorList, table, conf)
    val liveDeletes = liveDeleteFiles(priorList, conf)

    val next = head.next(table)
    var ordinal = priorList.size
    def nextOrdinal(): Int = { val o = ordinal; ordinal += 1; o }
    val rowsB = Seq.newBuilder[ManifestListRow]
    if (newFiles.nonEmpty) rowsB += next.addedManifest(newFiles, nextOrdinal())
    // retire prior live data files under their ORIGINAL specs (original
    // sequence numbers preserved, so earlier snapshots still resolve)
    liveData.groupBy(_._1.specId).toSeq.sortBy(_._1).foreach { case (s, lf) =>
      val m = next.manifest(
        lf.map { case (f, seq) => ManifestEntry(2, Some(seq), f) },
        nextOrdinal(), s)
      rowsB += ManifestListRow(m._1.toString, m._2,
        sequenceNumber = next.seq,
        minSequenceNumber = (next.seq +: lf.map(_._2)).min,
        addedFiles = 0, existingFiles = 0, deletedFiles = lf.size,
        addedRows = 0L, existingRows = 0L,
        deletedRows = lf.map(_._1.recordCount).sum, specId = s)
    }
    // retire live delete files too — nothing they tombstone survives
    liveDeletes.groupBy(_.specId).toSeq.sortBy(_._1).foreach { case (s, dels) =>
      val m = next.manifest(
        dels.map(d => ManifestEntry(2, Some(d.seq), d.asFileInfo)),
        nextOrdinal(), s)
      rowsB += ManifestListRow(m._1.toString, m._2,
        sequenceNumber = next.seq,
        minSequenceNumber = (next.seq +: dels.map(_.seq)).min,
        addedFiles = 0, existingFiles = 0, deletedFiles = dels.size,
        addedRows = 0L, existingRows = 0L, deletedRows = 0L,
        content = 1, specId = s)
    }
    val rows = rowsB.result()
    if (rows.isEmpty) return current // empty-over-empty: nothing to commit
    head.commitSnapshot(next, current, "overwrite", rows, timestampMs,
      added = newFiles,
      removed = liveData.map(_._1) ++ liveDeletes.map(_.asFileInfo))
  }
}