package graft

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.json4s._

/** Structural validation of Iceberg table-spec v2 metadata, shared by
  * the metadata spec and the randomized lifecycle property spec. Uses
  * plain `assert`/`sys.error` so it runs outside any one suite. */
object IcebergV2Validation {

  /** Structural validation against the published Iceberg table-spec v2
    * metadata layout: required keys, their JSON types, and the
    * invariants a real reader enforces before it will open the table.
    * This is the drift guard the sandbox can't get from a runtime jar:
    * rename/retype any required key in the writer and this fails. */
  def validateV2(meta: JValue, expectSnapshot: Boolean): Unit = {
    def str(p: String) = assert((meta \ p).isInstanceOf[JString], s"$p must be string")
    def int(p: String) = assert((meta \ p).isInstanceOf[JInt], s"$p must be int")
    def arr(p: String) = assert((meta \ p).isInstanceOf[JArray], s"$p must be array")
    assert((meta \ "format-version") == JInt(2))
    str("table-uuid"); str("location")
    assert(java.util.UUID.fromString((meta \ "table-uuid").asInstanceOf[JString].s)
      .toString.nonEmpty) // parses as a UUID
    int("last-sequence-number"); int("last-updated-ms"); int("last-column-id")
    int("current-schema-id"); int("default-spec-id"); int("last-partition-id")
    int("default-sort-order-id")
    arr("schemas"); arr("partition-specs"); arr("sort-orders")
    arr("snapshots"); arr("snapshot-log"); arr("metadata-log")
    // properties: the spec's string→string map, format default present
    (meta \ "properties") match {
      case JObject(fields) =>
        assert(fields.forall(_._2.isInstanceOf[JString]),
          "properties values must be strings")
        assert(fields.exists(_._1 == "write.format.default"))
      case _ => sys.error("properties must be an object")
    }
    // current-schema-id must resolve into schemas; schema must be a
    // struct with unique positive field ids ≤ last-column-id
    val curSchema = (meta \ "current-schema-id").asInstanceOf[JInt].num.toInt
    val schemas = (meta \ "schemas").asInstanceOf[JArray].arr
    val schema = schemas.find(s =>
      (s \ "schema-id").asInstanceOf[JInt].num.toInt == curSchema)
      .getOrElse(sys.error("current-schema-id not found in schemas"))
    assert((schema \ "type") == JString("struct"))
    val ids = (schema \ "fields").asInstanceOf[JArray].arr.map { f =>
      assert((f \ "name").isInstanceOf[JString] && (f \ "type").isInstanceOf[JString]
        && (f \ "required").isInstanceOf[JBool], "schema field shape")
      (f \ "id").asInstanceOf[JInt].num.toInt
    }
    assert(ids.distinct == ids && ids.forall(_ > 0))
    assert(ids.max <= (meta \ "last-column-id").asInstanceOf[JInt].num.toInt)
    // default-spec-id resolves; partition field-ids start at 1000 and
    // source-ids point at schema fields
    val spec = (meta \ "partition-specs").asInstanceOf[JArray].arr.find(s =>
      (s \ "spec-id").asInstanceOf[JInt].num.toInt ==
        (meta \ "default-spec-id").asInstanceOf[JInt].num.toInt)
      .getOrElse(sys.error("default-spec-id not found"))
    (spec \ "fields").asInstanceOf[JArray].arr.foreach { f =>
      assert((f \ "field-id").asInstanceOf[JInt].num.toInt >= 1000)
      assert(ids.contains((f \ "source-id").asInstanceOf[JInt].num.toInt))
      assert((f \ "transform").isInstanceOf[JString])
    }
    val snaps = (meta \ "snapshots").asInstanceOf[JArray].arr
    if (!expectSnapshot) {
      assert((meta \ "current-snapshot-id") == JInt(-1) && snaps.isEmpty)
    } else {
      val cur = (meta \ "current-snapshot-id").asInstanceOf[JInt].num.toLong
      val snap = snaps.find(s =>
        (s \ "snapshot-id").asInstanceOf[JInt].num.toLong == cur)
        .getOrElse(sys.error("current-snapshot-id not found in snapshots"))
      // v2 snapshot requirements: sequence-number, timestamp,
      // manifest-list path, summary with operation
      int("last-sequence-number")
      assert((snap \ "sequence-number").asInstanceOf[JInt].num.toLong >= 1)
      assert((snap \ "timestamp-ms").isInstanceOf[JInt])
      assert((snap \ "manifest-list").isInstanceOf[JString])
      // summary: a legal operation plus the non-negative running
      // totals real tooling (and the streaming sink's monitoring) reads
      assert(Set("append", "replace", "overwrite", "delete").contains(
        (snap \ "summary" \ "operation").asInstanceOf[JString].s),
        "summary.operation must be a spec operation")
      for (f <- Seq("added-data-files", "added-records",
          "total-data-files", "total-records")) {
        val v = (snap \ "summary" \ f).asInstanceOf[JString].s.toLong
        assert(v >= 0, s"summary.$f must be non-negative")
      }
      assert((meta \ "refs" \ "main" \ "snapshot-id").asInstanceOf[JInt].num.toLong == cur)
      assert((meta \ "refs" \ "main" \ "type") == JString("branch"))
      // every named ref resolves into the snapshot list with a legal type
      (meta \ "refs") match {
        case JObject(fields) => fields.foreach { case (name, v) =>
          val rid = (v \ "snapshot-id").asInstanceOf[JInt].num.toLong
          assert(snaps.exists(s =>
            (s \ "snapshot-id").asInstanceOf[JInt].num.toLong == rid),
            s"ref $name dangles")
          assert(Set("tag", "branch").contains(
            (v \ "type").asInstanceOf[JString].s), s"ref $name type")
        }
        case _ => ()
      }
      // snapshot-log's last entry is the current snapshot
      val log = (meta \ "snapshot-log").asInstanceOf[JArray].arr
      assert(log.nonEmpty &&
        (log.last \ "snapshot-id").asInstanceOf[JInt].num.toLong == cur)
      validateTotals(snap)
    }
  }

  /** All rows of an Avro file at a (possibly scheme-qualified) path. */
  private def avroRows(path: String): Seq[GenericRecord] = {
    val reader = new DataFileReader(
      new java.io.File(new org.apache.hadoop.fs.Path(path).toUri.getPath),
      new GenericDatumReader[GenericRecord]())
    try { val out = Seq.newBuilder[GenericRecord]
      while (reader.hasNext) out += reader.next()
      out.result()
    } finally reader.close()
  }

  /** The snapshot's summary totals agree with its manifests: the live
    * (status ≠ 2) entries its manifest list reaches give the data-file
    * count, the delete-file count and the position / equality delete
    * record counts. Documents built in memory name manifest lists that
    * were never written; those have nothing to check against. */
  private def validateTotals(snap: JValue): Unit = {
    val listPath = (snap \ "manifest-list").asInstanceOf[JString].s
    if (new java.io.File(new org.apache.hadoop.fs.Path(listPath).toUri.getPath).exists) {
      val live = avroRows(listPath)
        .flatMap(m => avroRows(m.get("manifest_path").toString))
        .filter(_.get("status").asInstanceOf[Int] != 2)
        .map(_.get("data_file").asInstanceOf[GenericRecord])
      def content(f: GenericRecord) = f.get("content").asInstanceOf[Int]
      def records(c: Int) = live.filter(content(_) == c)
        .map(_.get("record_count").asInstanceOf[Long]).sum
      def total(k: String) = (snap \ "summary" \ k) match {
        case JString(v) => v.toLong
        case _ => 0L
      }
      val expected = Seq(
        "total-data-files" -> live.count(content(_) == 0).toLong,
        "total-delete-files" -> live.count(content(_) != 0).toLong,
        "total-position-deletes" -> records(1),
        "total-equality-deletes" -> records(2))
      for ((k, n) <- expected)
        assert(total(k) == n, s"summary.$k is ${total(k)} but the manifests " +
          s"of ${(snap \ "snapshot-id").values} hold $n")
    }
  }
}
