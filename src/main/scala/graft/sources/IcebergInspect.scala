package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._

import graft.model.TableDef
import IcebergSnapshot._

/** DataFrame inspection tables over the v2 writer's own metadata —
  * the `SELECT * FROM t.snapshots / t.history / t.files /
  * t.partitions / t.refs` surface a real user asks a table first
  * (reference north-star: the Iceberg DDL the converter emits is for
  * tables whose operators live by these views;
  * /root/reference/db2ice/converter.py:166 scope). Each table reads
  * the metadata the writer already maintains — the current (or a
  * time-traveled) metadata JSON, the manifest list, and the per-file
  * manifest rows — entirely on the driver under the same
  * O(#manifests + #files) bound every commit path already pays, then
  * surfaces it as a DataFrame. Column names and shapes follow the
  * Iceberg metadata-table convention, with partition tuples rendered
  * as a name→value map so rows from DIFFERENT specs (after partition
  * evolution) coexist in one relation. */
object IcebergInspect {

  private def headOf(spark: SparkSession, tablePath: String): TableHead =
    TableHead.read(tablePath, spark.sparkContext.hadoopConfiguration)

  private def jLong(v: JValue): Long = v match {
    case JInt(n) => n.toLong
    case _ => -1L
  }

  /** One row per snapshot in the retained chain: commit time, ids,
    * operation, manifest-list path, and the raw summary map — the
    * `t.snapshots` metadata table. */
  def snapshotsTable(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    (headOf(spark, tablePath).json \ "snapshots").asInstanceOf[JArray].arr.map { s =>
      val summary = (s \ "summary") match {
        case JObject(fields) => fields.collect {
          case (k, JString(v)) => k -> v
        }.toMap
        case _ => Map.empty[String, String]
      }
      (new java.sql.Timestamp(jLong(s \ "timestamp-ms")),
        jLong(s \ "snapshot-id"),
        (s \ "parent-snapshot-id") match {
          case JInt(p) => Some(p.toLong)
          case _ => None
        },
        summary.getOrElse("operation", "append"),
        (s \ "manifest-list").asInstanceOf[JString].s,
        summary)
    }.toDF("committed_at", "snapshot_id", "parent_id", "operation",
      "manifest_list", "summary")
  }

  /** One row per snapshot-log entry: when each snapshot became
    * current, and whether it is an ancestor of the CURRENT snapshot —
    * the `t.history` metadata table (after a rollback, non-ancestor
    * entries would read false; this writer only moves main forward, so
    * the retained chain is the ancestor chain). */
  def historyTable(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val head = headOf(spark, tablePath)
    val parents = head.chain.map(s => s.snapshotId -> s.parentSnapshotId).toMap
    val ancestors = head.main.toSeq.flatMap(head.ancestry).map(_.snapshotId).toSet
    (head.json \ "snapshot-log").asInstanceOf[JArray].arr.map { e =>
      val id = jLong(e \ "snapshot-id")
      (new java.sql.Timestamp(jLong(e \ "timestamp-ms")), id,
        parents.getOrElse(id, None), ancestors.contains(id))
    }.toDF("made_current_at", "snapshot_id", "parent_id",
      "is_current_ancestor")
  }

  /** One row per named ref (including `main`): the `t.refs` table. */
  def refsTable(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val rows = (headOf(spark, tablePath).json \ "refs") match {
      case JObject(fields) => fields.map { case (name, v) =>
        (name, (v \ "type").asInstanceOf[JString].s,
          jLong(v \ "snapshot-id"))
      }
      case _ => Nil
    }
    rows.toDF("name", "type", "snapshot_id")
  }

  /** One row per manifest of the (current or `snapshotId`) snapshot's
    * manifest list — the `t.manifests` metadata table: path, length,
    * spec id, content (0 data / 1 deletes), sequence bounds, the
    * snapshot that added it, and its added/existing/deleted file
    * counts. The planning-cost face [[IcebergMaintenance
    * .rewriteManifests]] exists to shrink. */
  def manifestsTable(spark: SparkSession, tablePath: String,
      snapshotId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val snap = headOf(spark, tablePath).snapshot(snapshotId)
    readManifestList(new Path(snap.manifestList), conf).map { m =>
      (m.get("manifest_path").toString,
        m.get("manifest_length").asInstanceOf[Long],
        m.get("partition_spec_id").asInstanceOf[Int],
        m.get("content").asInstanceOf[Int],
        m.get("sequence_number").asInstanceOf[Long],
        m.get("min_sequence_number").asInstanceOf[Long],
        m.get("added_snapshot_id").asInstanceOf[Long],
        m.get("added_files_count").asInstanceOf[Int],
        m.get("existing_files_count").asInstanceOf[Int],
        m.get("deleted_files_count").asInstanceOf[Int])
    }.toDF("path", "length", "partition_spec_id", "content",
      "sequence_number", "min_sequence_number", "added_snapshot_id",
      "added_data_files_count", "existing_data_files_count",
      "deleted_data_files_count")
  }

  /** Render a manifest-recorded partition tuple as a name→value map
    * under its spec's field names, with the same surface forms the
    * identity restore uses (dates from epoch-day ints). */
  private def partitionMap(table: TableDef, specId: Int,
      values: Seq[Option[Any]]): Map[String, String] = {
    val pf = partitionFieldsOf(table, specId)
    pf.zip(values).collect { case ((name, itype, transform), Some(v)) =>
      // only an IDENTITY value of a date column is itself a date; a
      // transform value on a date source (bucket ordinal, year/month
      // count) is a plain int and must not render as LocalDate
      name -> ((itype, transform) match {
        case ("date", "identity") => java.time.LocalDate.ofEpochDay(
          v.asInstanceOf[Number].longValue).toString
        case _ => v.toString
      })
    }.toMap
  }

  /** One row per LIVE file of the (current or `snapshotId`) snapshot,
    * data AND delete files — the `t.files` metadata table: content
    * (0 data / 1 position deletes / 2 equality deletes), path, format,
    * spec id, partition map, record count, size, sequence number, and
    * the per-field value/null counts the manifests record. */
  def filesTable(spark: SparkSession, tablePath: String, table: TableDef,
      snapshotId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val snap = headOf(spark, tablePath).snapshot(snapshotId)
    val listRows = readManifestList(new Path(snap.manifestList), conf)
    val data = liveFilesWithSeq(listRows, table, conf).map { case (f, seq) =>
      (0, f.path, "PARQUET", f.specId,
        partitionMap(table, f.specId, f.partitionValues),
        f.recordCount, f.sizeBytes, seq,
        f.valueCounts, f.nullCounts)
    }
    val dels = liveDeleteFiles(listRows, conf).map { d =>
      (d.content, d.path, "PARQUET", d.specId,
        partitionMap(table, d.specId, d.partitionValues),
        d.recordCount, d.sizeBytes, d.seq,
        Map.empty[Int, Long], Map.empty[Int, Long])
    }
    (data ++ dels).toDF("content", "file_path", "file_format", "spec_id",
      "partition", "record_count", "file_size_in_bytes",
      "sequence_number", "value_counts", "null_value_counts")
  }

  /** One row per (spec_id, partition) of the live snapshot — the
    * `t.partitions` metadata table: live data rows and file count,
    * total bytes, plus the v2 delete-file counters scoped to the
    * partition (global deletes land under the reserved unpartitioned
    * spec's empty tuple). */
  def partitionsTable(spark: SparkSession, tablePath: String,
      table: TableDef, snapshotId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val snap = headOf(spark, tablePath).snapshot(snapshotId)
    val listRows = readManifestList(new Path(snap.manifestList), conf)
    val data = liveFilesWithSeq(listRows, table, conf)
      .groupBy { case (f, _) =>
        (f.specId, partitionMap(table, f.specId, f.partitionValues)) }
    val dels = liveDeleteFiles(listRows, conf)
      .groupBy(d => (d.specId, partitionMap(table, d.specId, d.partitionValues)))
    val keys = (data.keySet ++ dels.keySet).toSeq.sortBy(_.toString)
    keys.map { k =>
      val fs = data.getOrElse(k, Nil)
      val ds = dels.getOrElse(k, Nil)
      (k._2, k._1,
        fs.map(_._1.recordCount).sum, fs.size.toLong,
        fs.map(_._1.sizeBytes).sum,
        ds.count(_.content == 1).toLong,
        ds.count(_.content == 2).toLong)
    }.toDF("partition", "spec_id", "record_count", "file_count",
      "total_data_file_size_in_bytes",
      "position_delete_file_count", "equality_delete_file_count")
  }
}
