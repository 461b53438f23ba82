package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.api.SchemaTranslator
import graft.parse.Db2Parser
import graft.sources.{IcebergDeletes, IcebergInspect, IcebergMaintenance, IcebergSnapshot}

/** Orphan-file removal: unreferenced files older than the cutoff are
  * swept, everything any snapshot of the current metadata references
  * (staged WAP branches and time-travel history included) survives,
  * fresh files are age-guarded, and the sweep closes the
  * crashed-append resurrection window of the incremental commit. */
class IcebergMaintenanceSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("iceberg-maintenance-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def mkTable(name: String) = Db2Parser.parse(
    s"""CREATE TABLE S.$name (
       |  K BIGINT NOT NULL,
       |  V VARCHAR(10),
       |  N INTEGER
       |) PARTITION BY RANGE (V);""".stripMargin).tables.head

  private def df(ks: Seq[Long]) = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("K", LongType, nullable = false),
      StructField("V", StringType), StructField("N", IntegerType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        ks.map(k => org.apache.spark.sql.Row(k, s"p${k % 3}", (k * 7).toInt)), 2),
      schema)
  }

  private def ksOf(d: org.apache.spark.sql.DataFrame): Seq[Long] =
    d.select("K").collect().map(_.getLong(0)).sorted.toSeq

  private def plant(out: String, rel: String, bytes: Int = 64): String = {
    val p = java.nio.file.Paths.get(out, rel)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, Array.fill[Byte](bytes)(7))
    p.toString
  }

  test("sweep removes planted orphans only; every reachable face " +
      "(main, staged branch, time travel) reads identically; age " +
      "guard holds; idempotent") {
    val table = mkTable("ORPH1")
    val out = java.nio.file.Files.createTempDirectory("orph1").toString
    SchemaTranslator.migrateTable(df(1L to 4L), table, out)
    val snap1 = IcebergInspect.snapshotsTable(spark, out)
      .filter(org.apache.spark.sql.functions.col("parent_id").isNull)
      .collect().head.getLong(1)
    SchemaTranslator.appendIncrement(df(5L to 6L), table, out)
    SchemaTranslator.mergeUpsert(df(Seq(6L, 7L)), table, out, Seq("K"))
    SchemaTranslator.stageAppendToBranch(df(8L to 9L), table, out, "audit")

    val orphans = Seq(
      plant(out, "data/orphan-crashed.parquet"),
      plant(out, "deletes/orphan-del.parquet"),
      plant(out, "metadata/orphan-list.avro"),
      plant(out, "metadata/v99.metadata.json"))
    val before = ksOf(IcebergSnapshot.readSnapshot(spark, out, table))
    val beforeBranch =
      ksOf(IcebergSnapshot.readSnapshotAtRef(spark, out, table, "audit"))
    val beforeTravel =
      ksOf(IcebergSnapshot.readSnapshot(spark, out, table, Some(snap1)))

    // cutoff in the past: everything is too fresh, nothing is swept
    assert(IcebergMaintenance.removeOrphanFiles(out, olderThanMs = 1L) === Nil)
    orphans.foreach(p => assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(p)), s"age guard must keep $p"))

    // cutoff in the future: exactly the planted orphans go
    val swept = IcebergMaintenance.removeOrphanFiles(out, Long.MaxValue)
    assert(swept.map(p => p.substring(p.lastIndexOf('/') + 1)).sorted ===
      orphans.map(p => p.substring(p.lastIndexOf('/') + 1)).sorted)
    orphans.foreach(p => assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(p))))

    // every read face unchanged (upsert history, staged branch, travel)
    assert(ksOf(IcebergSnapshot.readSnapshot(spark, out, table)) === before)
    assert(ksOf(IcebergSnapshot.readSnapshotAtRef(spark, out, table, "audit"))
      === beforeBranch)
    assert(ksOf(IcebergSnapshot.readSnapshot(spark, out, table, Some(snap1)))
      === beforeTravel)

    // idempotent; facade face matches
    assert(IcebergMaintenance.removeOrphanFiles(out, Long.MaxValue) === Nil)
    assert(SchemaTranslator.removeOrphanFiles(spark, out, Long.MaxValue) === Nil)

    // a non-table directory is refused, not swept
    val stray = java.nio.file.Files.createTempDirectory("notatable").toString
    plant(stray, "precious.parquet")
    intercept[IllegalArgumentException] {
      IcebergMaintenance.removeOrphanFiles(stray, Long.MaxValue)
    }
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(stray, "precious.parquet")))
  }

  test("crashed-append leftovers: swept files cannot be resurrected " +
      "by the next incremental commit") {
    val table = mkTable("ORPH2")
    val out = java.nio.file.Files.createTempDirectory("orph2").toString
    SchemaTranslator.migrateTable(df(1L to 3L), table, out)

    // a crashed append: data files written, commit never happened.
    // Without a sweep the NEXT appendIncrement would commit these rows
    // as if they were its own — the resurrection window.
    SchemaTranslator.writeMigrated(df(Seq(100L)), table, s"$out/data",
      mode = "append")
    val swept = IcebergMaintenance.removeOrphanFiles(out, Long.MaxValue)
    assert(swept.nonEmpty)
    assert(swept.forall(_.contains("/data/")))

    SchemaTranslator.appendIncrement(df(4L to 5L), table, out)
    assert(ksOf(IcebergSnapshot.readSnapshot(spark, out, table))
      === (1L to 5L), "swept crashed rows must stay dead")
  }

  private def metaText(out: String): String = {
    val v = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "metadata", "version-hint.text")), "UTF-8")
      .trim.toInt
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "metadata", s"v$v.metadata.json")), "UTF-8")
  }

  private def manifestContents(out: String): Seq[Int] =
    IcebergInspect.manifestsTable(spark, out)
      .select("content").collect().map(_.getInt(0)).toSeq

  test("rewriteManifests: N appends' manifests consolidate to one per " +
      "(content, spec) group; reads, live deletes, time travel and " +
      "incremental attribution are untouched; fixpoint is stable") {
    val table = mkTable("RWM1")
    val out = java.nio.file.Files.createTempDirectory("rwm1").toString
    val conf = spark.sparkContext.hadoopConfiguration
    SchemaTranslator.migrateTable(df(1L to 3L), table, out)
    SchemaTranslator.appendIncrement(df(4L to 5L), table, out)
    SchemaTranslator.appendIncrement(df(6L to 8L), table, out)
    // live row-level deletes: the case plain compaction refuses
    SchemaTranslator.mergeUpsert(df(Seq(8L, 9L)), table, out, Seq("K"))
    intercept[IllegalArgumentException] {
      graft.sources.IcebergSnapshot.compactDataFiles(spark, table, out, 1L << 30)
    }
    val before = manifestContents(out)
    assert(before.count(_ == 0) >= 4, s"expected many data manifests: $before")
    val wantRows = ksOf(IcebergSnapshot.readSnapshot(spark, out, table))
    val snap1 = IcebergInspect.snapshotsTable(spark, out)
      .filter(org.apache.spark.sql.functions.col("parent_id").isNull)
      .collect().head.getLong(1)
    val travelBefore =
      ksOf(IcebergSnapshot.readSnapshot(spark, out, table, Some(snap1)))

    val snap = graft.sources.IcebergMaintenance.rewriteManifests(table, out, conf)
    assert(snap.operation === "replace")
    val after = manifestContents(out)
    assert(after.count(_ == 0) === 1, s"data manifests not consolidated: $after")
    assert(after.count(_ == 1) === 1, s"delete manifests not consolidated: $after")
    // bit-identical reads: current (deletes still applied), time travel
    assert(ksOf(IcebergSnapshot.readSnapshot(spark, out, table)) === wantRows)
    assert(ksOf(IcebergSnapshot.readSnapshot(spark, out, table, Some(snap1)))
      === travelBefore)
    IcebergV2Validation.validateV2(
      org.json4s.jackson.JsonMethods.parse(metaText(out)),
      expectSnapshot = true)
    // a REPLACE is invisible to incremental append scans
    assert(graft.sources.IcebergChanges.incrementalAppendScan(spark, out,
        table, Some(snap.parentSnapshotId.get)).count() === 0L)
    // an append AFTER the rewrite attributes only its own rows
    SchemaTranslator.appendIncrement(df(10L to 11L), table, out)
    assert(ksOf(graft.sources.IcebergChanges.incrementalAppendScan(spark, out,
      table, Some(snap.snapshotId))) === Seq(10L, 11L))
    // consolidating again reaches a fixpoint: a further call commits
    // nothing (same head) and rows are intact
    val fixed = graft.sources.IcebergMaintenance.rewriteManifests(table, out, conf)
    assert(graft.sources.IcebergMaintenance.rewriteManifests(table, out, conf)
      .snapshotId === fixed.snapshotId, "fixpoint must hold")
    assert(ksOf(IcebergSnapshot.readSnapshot(spark, out, table))
      === wantRows ++ Seq(10L, 11L))
    // orphan sweep after rewrites: old manifests are still referenced
    // by retained snapshots — nothing to sweep
    assert(IcebergMaintenance.removeOrphanFiles(out, Long.MaxValue) === Nil)
  }

  test("after expiry the sweep finds nothing: expiry's physical GC " +
      "is complete") {
    val table = mkTable("ORPH3")
    val out = java.nio.file.Files.createTempDirectory("orph3").toString
    SchemaTranslator.migrateTable(df(1L to 3L), table, out)
    SchemaTranslator.appendIncrement(df(4L to 5L), table, out)
    SchemaTranslator.appendIncrement(df(6L to 7L), table, out)
    IcebergSnapshot.expireSnapshots(table, out, keepLast = 1,
      spark.sparkContext.hadoopConfiguration)
    assert(IcebergMaintenance.removeOrphanFiles(out, Long.MaxValue) === Nil)
    assert(ksOf(IcebergSnapshot.readSnapshot(spark, out, table)) === (1L to 7L))
  }

  test("rewriteZorder: rows bit-identical before/after, REPLACE skipped " +
      "by incremental scans, and a predicate on EITHER z-column prunes " +
      "files the arrival layout could not") {
    import org.apache.spark.sql.functions.col
    import graft.sources.IcebergPruning
    val table = Db2Parser.parse(
      """CREATE TABLE S.ZORD (
        |  K BIGINT NOT NULL,
        |  A INTEGER,
        |  B INTEGER
        |);""".stripMargin).tables.head
    def zdf(lo: Int, hi: Int) = {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("K", LongType, nullable = false),
        StructField("A", IntegerType), StructField("B", IntegerType)))
      // arrival order is A-clustered (each increment covers one A
      // stripe) but B-uniform: every file spans the full B domain, so
      // a B predicate prunes NOTHING in the arrival layout
      spark.createDataFrame(
        spark.sparkContext.parallelize((lo until hi).map(i =>
          org.apache.spark.sql.Row(i.toLong, i / 16, (i * 37) % 64)), 1),
        schema)
    }
    val out = java.nio.file.Files.createTempDirectory("zorder_maint").toString
    SchemaTranslator.migrateTable(zdf(0, 256), table, out)
    (1 to 3).foreach(j =>
      SchemaTranslator.appendIncrement(zdf(j * 256, (j + 1) * 256), table, out))
    val hconf = spark.sparkContext.hadoopConfiguration
    val bBound = Seq(IcebergPruning.ColumnBound("B", Some(0), Some(7)))
    val aBound = Seq(IcebergPruning.ColumnBound("A", Some(0), Some(7)))
    val (bKeptBefore, bSkipBefore) =
      IcebergPruning.planScan(hconf, out, table, bBound)
    assert(bSkipBefore.isEmpty,
      "arrival layout: every file spans the full B domain")
    val before = IcebergSnapshot.readSnapshot(spark, out, table)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet

    // total bytes / 8 → ~8 z-range files; each a small 2-D tile
    val totalBytes = bKeptBefore.map(p =>
      new java.io.File(new java.net.URI(
        if (p.startsWith("file:")) p else "file://" + p).getPath).length).sum
    val snap = IcebergMaintenance.rewriteZorder(spark, table, out,
      "A", "B", targetBytes = math.max(1L, totalBytes / 8))
    assert(snap.operation === "replace")

    val after = IcebergSnapshot.readSnapshot(spark, out, table)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(after === before, "a clustering rewrite must not change rows")

    // the REPLACE is invisible to incremental consumers
    val cdc = graft.sources.IcebergChanges.changesTable(spark, out, table,
      fromSnapshotId = Some(snap.parentSnapshotId.get))
    assert(cdc.count() === 0L, "a z-order rewrite must CDC-diff to nothing")

    // and now BOTH columns prune: each rewritten file is a z-tile
    val (bKept, bSkip) = IcebergPruning.planScan(hconf, out, table, bBound)
    assert(bSkip.nonEmpty && bKept.size < bKeptBefore.size,
      s"B pruning must improve: kept ${bKept.size} of ${bKept.size + bSkip.size}")
    val (aKept, aSkip) = IcebergPruning.planScan(hconf, out, table, aBound)
    assert(aSkip.nonEmpty,
      s"A pruning must survive the rewrite: kept ${aKept.size}")
    // pruned reads stay exact over the new layout
    assert(IcebergSnapshot.readSnapshot(spark, out, table, pruning = bBound)
      .collect().map(_.getLong(0)).toSet ===
      before.filter(r => r._3 >= 0 && r._3 <= 7).map(_._1))
  }

  test("compactWithDeletes commits a P-partition table in O(1) Spark " +
      "jobs — job count flat across 4× partition growth, one file per " +
      "partition, read-back equal") {
    import org.apache.spark.sql.functions.col
    import graft.sources.IcebergDeletes

    def run(nParts: Int): (Int, Int) = {
      val table = Db2Parser.parse(
        s"""CREATE TABLE S.CMPJ$nParts (
           |  K BIGINT NOT NULL,
           |  V VARCHAR(10),
           |  N INTEGER
           |) PARTITION BY RANGE (V);""".stripMargin).tables.head
      val out = java.nio.file.Files
        .createTempDirectory(s"cmpjobs$nParts").toString
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("K", LongType, nullable = false),
        StructField("V", StringType), StructField("N", IntegerType)))
      SchemaTranslator.migrateTable(
        spark.createDataFrame(
          spark.sparkContext.parallelize((1L to 400L).map(k =>
            org.apache.spark.sql.Row(k, f"p${k % nParts}%03d",
              (k * 7).toInt)), 4), schema),
        table, out)
      // a WIDE delete touching every partition — the shape whose
      // compaction used to run one serial Spark job per partition
      IcebergDeletes.commitPositionDeletes(spark, table, out,
        col("K") % 5 === 0)
      val expected = (1L to 400L).filterNot(_ % 5 == 0)
        .map(k => k -> (k * 7).toInt).toMap
      val (_, c) = graft.tools.Spans.measure(spark.sparkContext)(
        IcebergDeletes.compactWithDeletes(spark, table, out))
      val after = IcebergSnapshot.readSnapshot(spark, out, table)
      assert(after.select("K", "N").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
        === expected, s"read-back mismatch at P=$nParts")
      assert(after.inputFiles.length === nParts,
        s"expected one rewritten file per partition at P=$nParts")
      (c.jobs.size, nParts)
    }

    val (jobs6, _) = run(6)
    val (jobs24, _) = run(24)
    assert(jobs6 <= 12, s"compaction at P=6 ran $jobs6 jobs — the " +
      "rewrite must be ONE partitioned write, not per-partition jobs")
    assert(jobs24 <= jobs6 + 1, s"job count must stay flat across " +
      s"partition growth: P=6 ran $jobs6, P=24 ran $jobs24")
  }

  test("compaction SUB-SPLITS an oversized partition to the target " +
      "file size — multiple parallel sorted files per partition, " +
      "read-back equal, still one write job's worth of Spark jobs") {
    import org.apache.spark.sql.functions.col
    import graft.sources.IcebergDeletes
    val table = mkTable("CMPSUB")
    val out = java.nio.file.Files.createTempDirectory("cmpsub").toString
    SchemaTranslator.migrateTable(df(1L to 3000L), table, out)
    IcebergDeletes.commitPositionDeletes(spark, table, out,
      col("K") % 7 === 0)
    val expected = (1L to 3000L).filterNot(_ % 7 == 0)
      .map(k => k -> (k * 7).toInt).toMap
    // tiny target → every partition's live bytes exceed it
    spark.conf.set("graft.compaction.target-file-bytes", "4096")
    val compacted =
      try IcebergDeletes.compactWithDeletes(spark, table, out)
      finally spark.conf.unset("graft.compaction.target-file-bytes")
    assert(compacted.totalDeleteFiles === 0L)
    val after = IcebergSnapshot.readSnapshot(spark, out, table)
    // 3 partitions (V = p0/p1/p2), each sub-split into >1 file
    assert(after.inputFiles.length > 3,
      s"expected sub-split files, got ${after.inputFiles.length}")
    assert(after.select("K", "N").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap === expected)
    // a later append + second compaction still reads exactly
    SchemaTranslator.appendIncrement(df(3001L to 3100L), table, out)
    IcebergDeletes.commitPositionDeletes(spark, table, out,
      col("K") === 3100L)
    IcebergDeletes.compactWithDeletes(spark, table, out)
    assert(IcebergSnapshot.readSnapshot(spark, out, table).count() ===
      (expected.size + 99).toLong)
  }

  test("a large-key upsert writes BUCKETED equality delete files (>1), " +
      "readers apply them exactly, and compaction folds them all away") {
    import org.apache.spark.sql.functions.col
    import graft.sources.IcebergDeletes
    val table = mkTable("EQMULTI")
    val out = java.nio.file.Files.createTempDirectory("eqmulti").toString
    SchemaTranslator.migrateTable(df(1L to 200L), table, out)
    // 35 keys at 10 keys/file → ceil = 4 bucketed delete files
    // (capped at local[4]'s parallelism)
    spark.conf.set("graft.rowlevel.eq-delete-keys-per-file", "10")
    try SchemaTranslator.mergeUpsert(
      df(166L to 200L).withColumn("N", col("N") + 1000000),
      table, out, keyCols = Seq("K"))
    finally spark.conf.unset("graft.rowlevel.eq-delete-keys-per-file")
    val eqFiles = IcebergInspect.filesTable(spark, out, table)
      .filter(col("content") === 2)
      .select("record_count").collect().map(_.getLong(0))
    assert(eqFiles.length > 1,
      s"expected multiple bucketed equality delete files, got " +
        s"${eqFiles.length}")
    assert(eqFiles.sum === 35L)
    val afterUpsert = IcebergSnapshot.readSnapshot(spark, out, table)
    val byK = afterUpsert.select("K", "N").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byK.size === 200)
    assert((1L to 165L).forall(k => byK(k) === (k * 7).toInt) &&
      (166L to 200L).forall(k => byK(k) === (k * 7).toInt + 1000000),
      "multi-file equality deletes must kill exactly the old key rows")
    // compaction consumes ALL the bucketed delete files in one pass
    val compacted = IcebergDeletes.compactWithDeletes(spark, table, out)
    assert(compacted.totalDeleteFiles === 0L)
    assert(IcebergSnapshot.readSnapshot(spark, out, table)
      .select("K", "N").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap === byK)
  }

  test("writes leave the field-id write setting alone, and refuse it off") {
    val key = "spark.sql.parquet.fieldId.write.enabled"
    // a fresh session of the same context: the key is unset there
    val s = spark.newSession()
    val table = mkTable("FIDW")
    def rows(ks: Seq[Long]) = s.createDataFrame(df(ks).rdd, df(ks).schema)
    val out = java.nio.file.Files.createTempDirectory("iceberg_fidw").toString
    assert(!s.conf.getAll.contains(key))
    val unset = s.conf.getOption(key)
    SchemaTranslator.migrateTable(rows(1L to 30L), table, out)
    SchemaTranslator.mergeUpsert(rows(1L to 5L), table, out, keyCols = Seq("K"))
    SchemaTranslator.deleteWhere(s, table, out,
      org.apache.spark.sql.functions.col("K") === 7L)
    IcebergDeletes.compactWithDeletes(s, table, out)
    IcebergSnapshot.compactDataFiles(s, table, out, targetBytes = 1L << 20)
    assert(!s.conf.getAll.contains(key))
    assert(s.conf.getOption(key) === unset)
    assert(IcebergSnapshot.readSnapshot(s, out, table).count() === 29L)

    s.conf.set(key, "false")
    val out2 = java.nio.file.Files.createTempDirectory("iceberg_fidw_off").toString
    val e = intercept[IllegalStateException](
      SchemaTranslator.migrateTable(rows(1L to 3L), table, out2))
    assert(e.getMessage.contains(key))
    assert(!new java.io.File(out2, "data").exists(),
      "the refusal must come before any file is written")
  }
}
