package graft.sources

import org.apache.hadoop.conf.Configuration
import org.json4s._

import graft.model.{Db2Column, IcebergPartitionField, TableDef}

/** Reconstruct a [[TableDef]] from a table's CURRENT metadata JSON —
  * the missing half of the idiomatic read path: a consumer pointing
  * `spark.read.format("graft-iceberg")` at a migrated table must not
  * need the original DB2 DDL in hand (a real Iceberg reader never
  * does; the table is self-describing — table-spec v2 `schemas` /
  * `partition-specs` / `current-schema-id`). The reconstruction is
  * EXACT for everything the read path consumes: field ids, Iceberg
  * column types (the loader picks the canonical DB2 surface type per
  * Iceberg type, chosen so `TypeMapper.mapType` round-trips to the
  * same Iceberg type — pinned by GraftIcebergSourceSpec), required
  * flags, all schema versions (evolved tables read by field id), and
  * the full partition-spec history.
  *
  * `timestamptz` columns refuse loudly: no DB2 surface type maps
  * there, and a table this engine wrote can never contain one. */
object IcebergTableLoader {

  private val DecimalPat = """decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r

  /** Canonical DB2 surface column for an Iceberg primitive type —
    * inverse of `TypeMapper.mapType` ∘ `IcebergMetadata.icebergType`
    * on the read-relevant image. */
  private[sources] def columnOf(name: String, icebergType: String,
      required: Boolean, fieldId: Int): Db2Column = {
    val base = Db2Column(name, "", nullable = !required,
      fieldId = Some(fieldId))
    icebergType match {
      case "int" => base.copy(dataType = "INTEGER")
      case "long" => base.copy(dataType = "BIGINT")
      case "float" => base.copy(dataType = "FLOAT")
      case "double" => base.copy(dataType = "DOUBLE")
      case "string" => base.copy(dataType = "VARCHAR")
      case "boolean" => base.copy(dataType = "BOOLEAN")
      case "date" => base.copy(dataType = "DATE")
      case "time" => base.copy(dataType = "TIME", precision = Some(6))
      case "timestamp" => base.copy(dataType = "TIMESTAMP", precision = Some(6))
      case "binary" => base.copy(dataType = "VARBINARY")
      case DecimalPat(p, s) => base.copy(dataType = "DECIMAL",
        precision = Some(p.toInt), scale = Some(s.toInt))
      case other => throw new IllegalArgumentException(
        s"column $name: Iceberg type $other has no DB2 surface type — " +
          "not a table this engine wrote")
    }
  }

  private def schemaColumns(schema: JValue): (Int, Seq[Db2Column]) = {
    val id = (schema \ "schema-id").asInstanceOf[JInt].num.toInt
    val cols = (schema \ "fields").asInstanceOf[JArray].arr.map { f =>
      columnOf(
        (f \ "name").asInstanceOf[JString].s,
        (f \ "type").asInstanceOf[JString].s,
        (f \ "required").asInstanceOf[JBool].value,
        (f \ "id").asInstanceOf[JInt].num.toInt)
    }
    (id, cols)
  }

  /** Load the TableDef of the table at `tablePath` from its current
    * metadata version. */
  def load(tablePath: String,
      conf: Configuration = new Configuration()): TableDef =
    IcebergSnapshot.TableHead.read(tablePath, conf).tableDef

  /** Build the TableDef a parsed metadata document records. */
  def fromMetadataJson(meta: JValue): TableDef = {
    val currentSchemaId = (meta \ "current-schema-id").asInstanceOf[JInt].num.toInt
    val schemas = (meta \ "schemas").asInstanceOf[JArray].arr.map(schemaColumns)
    val current = schemas.find(_._1 == currentSchemaId).getOrElse(
      throw new IllegalArgumentException(
        s"current-schema-id $currentSchemaId not in schemas"))
    val prior = schemas.filterNot(_._1 == currentSchemaId)
    val lastColumnId = (meta \ "last-column-id").asInstanceOf[JInt].num.toInt
    val defaultSpecId = (meta \ "default-spec-id").asInstanceOf[JInt].num.toInt
    val lastPartitionId = (meta \ "last-partition-id").asInstanceOf[JInt].num.toInt
    // every recorded spec except the reserved unpartitioned spec 1
    // (implicit — specFieldDefs special-cases it)
    val specs = (meta \ "partition-specs").asInstanceOf[JArray].arr.map { s =>
      val sid = (s \ "spec-id").asInstanceOf[JInt].num.toInt
      val fields = (s \ "fields").asInstanceOf[JArray].arr.map { f =>
        IcebergPartitionField(
          (f \ "name").asInstanceOf[JString].s,
          (f \ "transform").asInstanceOf[JString].s,
          (f \ "source-id").asInstanceOf[JInt].num.toInt,
          (f \ "field-id").asInstanceOf[JInt].num.toInt)
      }
      sid -> fields
    }.filterNot(_._1 == IcebergSnapshot.UnpartitionedSpecId)
    // table name: reads never depend on it (it only keys deterministic
    // write-side UUIDs), so the location's last component serves
    val name = (meta \ "location") match {
      case JString(loc) => loc.split('/').lastOption.filter(_.nonEmpty)
        .getOrElse("table")
      case _ => "table"
    }
    TableDef(
      schema = None,
      name = name,
      columns = current._2,
      schemaId = currentSchemaId,
      lastColumnId = Some(lastColumnId),
      priorSchemas = prior,
      partitionSpecs = specs,
      defaultSpecId = defaultSpecId,
      lastPartitionId = Some(lastPartitionId))
  }
}
