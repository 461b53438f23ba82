package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types.{IntegerType, MetadataBuilder, StringType, StructField, StructType}

import graft.model.TableDef
import IcebergSnapshot._

/** Iceberg v2 row-level deletes (merge-on-read) for the migrated
  * tables [[graft.api.SchemaTranslator.migrateTable]] produces — the
  * write side of the spec's delete-file design:
  *
  *  - [[commitPositionDeletes]]: DELETE snapshot carrying position
  *    delete files — `(file_path, pos)` rows under the spec's reserved
  *    field ids (2147483546 / 2147483545), written per partition tuple
  *    and sorted by (path, pos) as the spec requires. Row positions
  *    come from Spark's `_metadata.row_index`, so matching rows is a
  *    DISTRIBUTED scan — no driver-side row materialization at any
  *    table size; only the per-partition delete-file list is
  *    driver-side (bounded by partitions touched).
  *  - [[commitUpsert]]: OVERWRITE snapshot pairing new data files with
  *    GLOBAL equality delete files (hash-bucketed across parallel
  *    writer tasks, written against the table's unpartitioned spec-1
  *    per the spec's global-delete rule). Because
  *    equality deletes apply to STRICTLY older sequence numbers, the
  *    snapshot's own data files are untouched — exactly the CDC upsert
  *    (Flink-style MoR) semantics: old rows with the same key die, new
  *    rows live, one atomic commit.
  *
  * The read side ([[IcebergSnapshot.readSnapshot]]) applies both kinds
  * under the spec's sequence rules; [[compactWithDeletes]] folds the
  * accumulated delete files back into plain data files (major
  * compaction), after which history before the rewrite still
  * time-travels.
  *
  * Reference north-star: the converter's output is DDL for live
  * Snowflake/Iceberg tables (`/root/reference/db2ice/converter.py:166-183`);
  * a migration pipeline needs delete/upsert to keep those tables in
  * sync after the initial load.
  */
object IcebergDeletes {

  /** Spec reserved field ids for position delete files. */
  val DeleteFilePathFieldId: Long = 2147483546L
  val DeleteFilePosFieldId: Long = 2147483545L

  /** Open one written parquet file and return (path, length, rows). */
  private def statAndCount(dir: Path, fs: FileSystem,
      conf: org.apache.hadoop.conf.Configuration): (Path, Long, Long) = {
    val st = fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
    val n = try reader.getRecordCount finally reader.close()
    (st.getPath, st.getLen, n)
  }

  /** Resolve scan-surfaced (scheme-normalized, URI-escaped) data-file
    * keys in `df("__graft_key")` to their manifest-recorded path and
    * delete-file partition ordinal, returning (file_path, pos, __part)
    * — file_path NULL where the key matches no live file. Bounded
    * tables resolve through a broadcast driver map; beyond
    * `graft.rowlevel.max-file-map-entries` (default 100k live files)
    * the map is NOT built — the keys join a distributed files frame
    * instead, so a row-level commit never broadcasts O(table-files)
    * driver state at 100 TB (the same size-gate discipline as the CDC
    * delete-key broadcast in [[IcebergChanges]]). */
  private def resolveFileRefs(spark: SparkSession,
      live: Seq[(DataFileInfo, Long)], specEvolved: Boolean,
      partTuples: Map[Seq[Option[Any]], Int], df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val maxEntries = spark.conf
      .get("graft.rowlevel.max-file-map-entries", "100000").toInt
    def ordOf(f: DataFileInfo): Int =
      if (specEvolved) 0 else partTuples(f.partitionValues)
    if (live.size <= maxEntries) {
      val byKey = live.map { case (f, _) =>
        scanKey(f.path) -> ((f.path, ordOf(f)))
      }.toMap
      val bc = spark.sparkContext.broadcast(byKey)
      val toPath = udf((k: String) => bc.value.get(k).map(_._1).orNull)
      val toPart = udf((k: String) => bc.value.get(k).map(_._2).getOrElse(-1))
      df.select(toPath(col("__graft_key")).as("file_path"), col("pos"),
        toPart(col("__graft_key")).as("__part"))
    } else {
      val rows = live.map { case (f, _) =>
        Row(scanKey(f.path), f.path, ordOf(f))
      }
      val schema = StructType(Seq(
        StructField("__graft_key2", StringType),
        StructField("__graft_mpath", StringType),
        StructField("__graft_ord", IntegerType)))
      val filesDf = spark.createDataFrame(
        spark.sparkContext.parallelize(rows,
          math.max(1, math.min(rows.size / 50000 + 1,
            spark.sparkContext.defaultParallelism))), schema)
      df.join(filesDf, df("__graft_key") === filesDf("__graft_key2"), "left")
        .select(col("__graft_mpath").as("file_path"), col("pos"),
          coalesce(col("__graft_ord"), lit(-1)).as("__part"))
    }
  }

  /** Delete the rows matching `predicate` from the CURRENT snapshot as
    * a new DELETE snapshot of position delete files. The predicate may
    * reference identity-partition columns (restored from manifests
    * before filtering). Matching, mapping to (file, pos) and the
    * delete-file writes all run as Spark jobs; returns the committed
    * snapshot, or the current one unchanged when nothing matches.
    *
    * `pruning` bounds (best-effort translations of the predicate's
    * literal conjuncts) skip files whose recorded stats/partition
    * values prove no row can match BEFORE any row is read — so
    * `DELETE ... WHERE day = X` on a 100 TB table opens one
    * partition's files, not the table. Conservative by construction:
    * [[IcebergPruning.fileMayMatch]] keeps any file that COULD match,
    * and the exact predicate still decides row-level. */
  def commitPositionDeletes(spark: SparkSession, table: TableDef,
      tablePath: String, predicate: Column,
      timestampMs: Long = System.currentTimeMillis(),
      pruning: Seq[IcebergPruning.ColumnBound] = Nil): IcebergMetadata.SnapshotMeta = {
    val conf = spark.sparkContext.hadoopConfiguration
    val head = TableHead.read(tablePath, conf)
    val current = head.requireMain()
    val priorList = readManifestList(new Path(current.manifestList), conf)
    val allLive = liveFilesWithSeq(priorList, table, conf)
    val live = allLive.filter { case (f, _) =>
      pruning.forall(b => IcebergPruning.fileMayMatch(table, f, b))
    }
    // deleting from an EMPTY table is a no-op, not an error — the SQL
    // face reaches here for `DELETE FROM t` on a fresh table, and a
    // DELETE racing the table's first INSERT legitimately sees zero
    // files (found by the concurrency spec's delete-vs-append race);
    // a predicate that prunes EVERY file is the same no-op
    if (live.isEmpty) return current

    // distinct partition tuples, each with its delete-file ordinal.
    // Once partition specs have evolved, live files' tuples are shaped
    // by DIFFERENT specs — the deletes collapse to ONE global position
    // delete file under the reserved unpartitioned spec (spec-legal:
    // position deletes match rows by (path, pos), partition scoping is
    // only a pruning aid)
    val specEvolved = table.partitionSpecs.nonEmpty
    val partTuples: Map[Seq[Option[Any]], Int] =
      if (specEvolved) Map(Seq.empty[Option[Any]] -> 0)
      else live.map(_._1.partitionValues).distinct.zipWithIndex.toMap

    // the shared id-resolving scan: a plain inference read would
    // surface RENAMED columns under their old physical names on
    // pre-rename files, null-fill the predicate and silently SKIP rows
    // that should be deleted
    val enriched = scanLiveFiles(spark, table, live.map(_._1), withRowMeta = true)
    val matched = resolveFileRefs(spark, live, specEvolved, partTuples,
      enriched.filter(predicate).select(
        col("__graft_file").as("__graft_key"),
        col("__graft_pos").as("pos")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try commitDeltaCore(spark, table, head, current, priorList, matched,
      partTuples, specEvolved, newFiles = Nil, timestampMs)
    finally matched.unpersist()
  }

  /** Row-level DELTA commit — the SQL UPDATE/MERGE write shape: one
    * atomic snapshot carrying position delete files for `rowDeletes`
    * (the (file, pos) identities [[IcebergSnapshot.readSnapshot]]'s
    * `keepRowMeta` read surfaced — scheme-normalized paths) AND
    * `newFiles` (updated/inserted rows, already written under
    * `data/`). Merge-on-read: old data files are untouched; history
    * still time-travels. With no deletes this degrades to an append
    * commit, with no new files to a pure delete, with neither it
    * no-ops (the no-matching-row UPDATE). The caller owns the retry
    * unit: on a version race, re-derive BOTH inputs against the new
    * head (see [[IcebergSnapshot.withCommitRetry]]); the loser's
    * first-attempt files become sweepable orphans.
    *
    * Linearization guard: `expectedHeadId` is the snapshot the caller
    * derived `rowDeletes`' identities FROM (pin the read with
    * `readSnapshot(snapshotId = head)`). If the head moved by commit
    * time — a DELETE, compaction or another MERGE landed in the window
    * — this throws [[IcebergSnapshot.CommitConflictException]] so the
    * retry wrapper re-derives the row set, instead of silently
    * committing stale identities (which would duplicate updated rows
    * or resurrect deleted ones). A delete key that no longer resolves
    * to a live file conflicts for the same reason — it is never
    * dropped quietly. */
  def commitRowDelta(spark: SparkSession, table: TableDef,
      tablePath: String, rowDeletes: DataFrame,
      newFiles: Seq[DataFileInfo],
      timestampMs: Long = System.currentTimeMillis(),
      expectedHeadId: Option[Long] = None): IcebergMetadata.SnapshotMeta = {
    val conf = spark.sparkContext.hadoopConfiguration
    val head = TableHead.read(tablePath, conf)
    val current = head.requireMain()
    expectedHeadId.foreach { id =>
      if (id != current.snapshotId)
        throw new CommitConflictException(
          s"row identities were derived against snapshot $id but the " +
            s"head is now ${current.snapshotId} — a concurrent commit " +
            "landed between the read and this commit; re-derive and retry")
    }
    val priorList = readManifestList(new Path(current.manifestList), conf)
    val live = liveFilesWithSeq(priorList, table, conf)
    val specEvolved = table.partitionSpecs.nonEmpty
    val partTuples: Map[Seq[Option[Any]], Int] =
      if (specEvolved || live.isEmpty) Map(Seq.empty[Option[Any]] -> 0)
      else live.map(_._1.partitionValues).distinct.zipWithIndex.toMap
    // distinct guards double-targeted rows (key ↔ manifest path is a
    // bijection, so pre-resolution distinct is the same set)
    val matched = resolveFileRefs(spark, live, specEvolved, partTuples,
      rowDeletes
        .select(col(IcebergSnapshot.RowMetaFileCol).as("__graft_key"),
          col(IcebergSnapshot.RowMetaPosCol).as("pos"))
        .distinct())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // a key missing from the live set means the state moved under
      // the caller's read (a rewrite the head check could not see, or
      // no expectedHeadId was passed) — conflict out, never drop it
      if (matched.filter(col("file_path").isNull).limit(1).count() > 0L)
        throw new CommitConflictException(
          "a delete row's (file, pos) no longer resolves to a live " +
            "data file — the table state moved since the read; " +
            "re-derive and retry")
      commitDeltaCore(spark, table, head, current, priorList, matched,
        partTuples, specEvolved, newFiles, timestampMs)
    } finally { matched.unpersist(); () }
  }

  /** Shared tail of [[commitPositionDeletes]] and [[commitRowDelta]]:
    * write per-partition-ordinal position delete files from `matched`
    * ((manifest-recorded file_path, pos, __part) rows), assemble ONE
    * snapshot's manifests — a data manifest for `newFiles` (when any)
    * plus a delete manifest — and commit. Returns `current` unchanged
    * when there is nothing to commit. */
  private def commitDeltaCore(spark: SparkSession, table: TableDef,
      head: TableHead, current: IcebergMetadata.SnapshotMeta,
      priorList: Seq[org.apache.avro.generic.GenericRecord],
      matched: DataFrame,
      partTuples: Map[Seq[Option[Any]], Int], specEvolved: Boolean,
      newFiles: Seq[DataFileInfo],
      timestampMs: Long): IcebergMetadata.SnapshotMeta = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(head.metadataDir.toUri, conf)
    // bounded: one row per partition tuple with matches
    val perPart = matched.groupBy("__part").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (perPart.isEmpty && newFiles.isEmpty) return current

    val next = head.next(table)
    val fpMeta = new MetadataBuilder()
      .putLong("parquet.field.id", DeleteFilePathFieldId).build()
    val posMeta = new MetadataBuilder()
      .putLong("parquet.field.id", DeleteFilePosFieldId).build()
    val tupleOf = partTuples.map(_.swap)
    val deleteFiles =
      if (perPart.isEmpty) Seq.empty[DataFileInfo]
      else {
        // ONE partitioned write for ALL touched partitions (was: a
        // sequential coalesce(1) job per partition — a wide UPDATE
        // touching 10^4 partitions ran 10^4 serial Spark jobs).
        // repartition on __part lands each ordinal in exactly one
        // task, so partitionBy writes ONE file per ordinal; the sort
        // keeps the spec's (file_path, pos) order inside each file.
        val base = new Path(head.tablePath, s"deletes/pos-${next.seq}")
        requireFieldIdWrite(spark)
        matched.select(col("file_path").as("file_path", fpMeta),
            col("pos").as("pos", posMeta), col("__part"))
          .repartition(col("__part"))
          .sortWithinPartitions("__part", "file_path", "pos")
          .write.mode("overwrite").partitionBy("__part")
          .parquet(base.toString)
        perPart.toSeq.sortBy(_._1).map { case (ord, nRows) =>
          val dir = new Path(base, s"__part=$ord")
          val (p, len, n) = statAndCount(dir, fs, conf)
          assert(n == nRows)
          DataFileInfo(p.toString, len, n, tupleOf(ord), content = 1,
            specId = if (specEvolved) UnpartitionedSpecId else 0)
        }
      }

    val posSpec = if (specEvolved) UnpartitionedSpecId else 0
    val dataRows =
      if (newFiles.isEmpty) Nil
      else Seq(next.addedManifest(newFiles, priorList.size))
    val deleteRows =
      if (deleteFiles.isEmpty) Nil
      else Seq(next.addedManifest(deleteFiles, priorList.size + dataRows.size,
        specId = posSpec, content = 1))
    val operation =
      if (deleteFiles.isEmpty) "append"
      else if (newFiles.isEmpty) "delete"
      else "overwrite"
    head.commitSnapshot(next, current, operation, dataRows ++ deleteRows,
      timestampMs, added = newFiles ++ deleteFiles, carried = priorList)
  }

  /** Commit an upsert: the data files appended under `data/` since the
    * current snapshot become this snapshot's ADDED files, and `keys`
    * (the upserted rows' key columns, already in translated types)
    * become global equality delete files killing every OLDER row with
    * the same key. The key set is hash-bucketed into
    * ceil(nKeys / `graft.rowlevel.eq-delete-keys-per-file`) files
    * (default 1M keys/file, capped at the cluster's parallelism) so
    * large CDC batches write in parallel and readers get bounded probe
    * files instead of one monolith. One atomic OVERWRITE snapshot; new
    * data files are unaffected by the delete (equality deletes apply
    * to strictly older sequence numbers only). With no new data files
    * this is a pure key-delete (operation "delete").
    *
    * Key columns must live in the data files (identity-partition
    * source columns are directory-encoded and cannot carry an
    * equality delete). */
  def commitUpsert(spark: SparkSession, table: TableDef, tablePath: String,
      keys: DataFrame, timestampMs: Long = System.currentTimeMillis(),
      extraProperties: Map[String, String] = Map.empty): IcebergMetadata.SnapshotMeta = {
    val conf = spark.sparkContext.hadoopConfiguration
    val head = TableHead.read(tablePath, conf)
    val current = head.requireMain()
    val fs = FileSystem.get(head.metadataDir.toUri, conf)
    val priorList = readManifestList(new Path(current.manifestList), conf)

    val keyCols = keys.columns.toSeq
    val colIds = table.fieldIdOf
    require(keyCols.nonEmpty && keyCols.forall(colIds.contains),
      s"equality key columns must be table columns: ${keyCols.mkString(", ")}")
    val identityCols = partitionFields(table)
      .filter(_._3 == "identity").map(_._1).toSet
    require(keyCols.forall(!identityCols.contains(_)),
      "equality keys on identity-partition columns are directory-encoded " +
        "and absent from data files; upsert on them is not supported")
    val equalityIds = keyCols.map(colIds)

    val newFiles = head.newDataFiles(table)
    val next = head.next(table)

    // global (spec-1) equality delete files, PARTITIONED: distinct
    // keys hash-bucket across ceil(nKeys / keys-per-file) parallel
    // writer tasks (capped at the cluster's parallelism), each file
    // sorted by key — so a 10^8-key CDC batch neither funnels through
    // one task nor hands readers one monolithic probe file.
    // Fixture-scale batches still produce a single file; every written
    // file gets its own manifest entry (spec-legal: equality deletes
    // compose by union).
    val delDir = new Path(tablePath, s"deletes/eq-${next.seq}")
    val distinctKeys = keys.select(keyCols.map { k =>
      val meta = new MetadataBuilder()
        .putLong("parquet.field.id", colIds(k).toLong).build()
      col(k).as(k, meta)
    }: _*).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val delFiles = try {
      val n = distinctKeys.count()
      val target = spark.conf
        .get("graft.rowlevel.eq-delete-keys-per-file", "1000000").toLong
      val nFiles = math.max(1L, math.min((n + target - 1) / target,
        spark.sparkContext.defaultParallelism.toLong)).toInt
      requireFieldIdWrite(spark)
      distinctKeys.repartition(nFiles, keyCols.map(col): _*)
        .sortWithinPartitions(keyCols.map(col): _*)
        .write.mode("overwrite").parquet(delDir.toString)
      val infos = fs.listStatus(delDir)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName).toSeq.flatMap { st =>
          val reader = ParquetFileReader.open(
            HadoopInputFile.fromPath(st.getPath, conf))
          val cnt = try reader.getRecordCount finally reader.close()
          // a hash bucket can come out empty on tiny key sets; the
          // writer usually skips it, but never list a 0-row file
          if (cnt == 0L) { fs.delete(st.getPath, false); None }
          else Some(DataFileInfo(st.getPath.toString, st.getLen, cnt,
            partitionValues = Nil, content = 2,
            equalityIds = equalityIds))
        }
      infos
    } finally { distinctKeys.unpersist(); () }

    val dataRows =
      if (newFiles.isEmpty) Nil
      else Seq(next.addedManifest(newFiles, priorList.size))
    // an empty key batch (all-insert upsert) commits no delete
    // manifest at all — a pure append, never an empty manifest
    val deleteRows =
      if (delFiles.isEmpty) Nil
      else Seq(next.addedManifest(delFiles, priorList.size + dataRows.size,
        specId = UnpartitionedSpecId, content = 1))
    head.commitSnapshot(next, current,
      if (newFiles.isEmpty) "delete" else "overwrite",
      dataRows ++ deleteRows, timestampMs, added = newFiles ++ delFiles,
      carried = priorList, addProperties = extraProperties)
  }

  /** Major compaction: materialize the CURRENT snapshot's net rows
    * (all row-level deletes applied) as fresh data files and commit a
    * REPLACE snapshot whose manifest list carries ONLY the rewrite —
    * ADDED rows for the new files, DELETED rows for every prior data
    * file and delete file (original sequence numbers preserved, so
    * earlier snapshots still time-travel). This is the maintenance
    * operation that stops delete files accumulating on the read path.
    * The rewrite preserves the partition layout and runs as ONE
    * partitioned Spark write regardless of partition count; a
    * partition whose live bytes exceed
    * `graft.compaction.target-file-bytes` (default 512 MB) hash
    * sub-splits into parallel sorted files, so no partition ever
    * funnels through a single task. */
  def compactWithDeletes(spark: SparkSession, table: TableDef,
      tablePath: String, timestampMs: Long = System.currentTimeMillis()): IcebergMetadata.SnapshotMeta = {
    val conf = spark.sparkContext.hadoopConfiguration
    val head = TableHead.read(tablePath, conf)
    val current = head.requireMain()
    val fs = FileSystem.get(head.metadataDir.toUri, conf)
    val priorList = readManifestList(new Path(current.manifestList), conf)
    val liveData = liveFilesWithSeq(priorList, table, conf)
    val liveDeletes = liveDeleteFiles(priorList, conf)
    if (liveDeletes.isEmpty) return current // nothing to fold in
    val next = head.next(table)

    // net rows via the same delete-applying read the scan path uses;
    // written back per partition tuple to preserve the layout. Once
    // partition specs have evolved this rewrite RE-STAMPS every row
    // under the CURRENT default spec (tuples derived from the data,
    // not the mixed-spec manifests) — the REPLACE that migrates a
    // table's live files to its new layout, which is exactly how a
    // real engine's rewrite_data_files migrates after spec evolution.
    val net = readSnapshot(spark, tablePath, table)
    if (table.partitionSpecs.nonEmpty)
      return compactEvolvedSpec(spark, table, head, next, current, priorList,
        liveData, liveDeletes, net, timestampMs)
    val pf = partitionFields(table)
    val identityCols = pf.filter(_._3 == "identity").map(_._1)
    val partTuples = liveData.map(_._1.partitionValues).distinct
    // ONE partitioned write for ALL partition tuples (was: a serial
    // read-filter-coalesce(1) Spark job per tuple — a 10^4-partition
    // table compacted in 10^4 serial jobs, each re-planning the
    // delete-applied read). Each row's tuple ordinal resolves through
    // a broadcast join against the manifest-derived tuple table on the
    // SAME surfaces the original writer produced (identity fields
    // compare on the restored string column, bucket fields recompute
    // the spec transform), then repartition lands every output file's
    // rows in exactly one task and partitionBy writes them sorted —
    // commitDeltaCore's own partitioned-write pattern, one layer up.
    //
    // Large partitions SUB-SPLIT to `graft.compaction.target-file-bytes`
    // (default 512 MB, estimated from the tuple's live manifest bytes):
    // a 100 GB partition rewrites as ~200 parallel tasks/files, each
    // internally sorted — never one task. nSub=1 partitions keep the
    // exact one-file layout.
    val targetBytes = spark.conf
      .get("graft.compaction.target-file-bytes",
        (512L * 1024 * 1024).toString).toLong
    val bytesOfTuple: Map[Seq[Option[Any]], Long] = liveData
      .groupBy(_._1.partitionValues)
      .map { case (t, fsz) => t -> fsz.map(_._1.sizeBytes).sum }
    def nSubOf(tuple: Seq[Option[Any]]): Int = math.max(1, math.min(4096,
      ((bytesOfTuple.getOrElse(tuple, 0L) + targetBytes - 1) /
        math.max(1L, targetBytes)).toInt))
    val BucketN = """bucket\[(\d+)\]""".r
    def surface(tuple: Seq[Option[Any]], idx: Int): String = {
      val itype = pf(idx)._2
      tuple(idx).map {
        case v if itype == "date" => java.time.LocalDate.ofEpochDay(
          v.asInstanceOf[Number].longValue).toString
        case v => v.toString
      }.orNull
    }
    val sortCols = table.distributeByHash.toSeq
      .filter(table.columns.map(_.name).contains)
    val keepCols = net.columns.filterNot(identityCols.contains).toSeq
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    val withPart =
      if (pf.isEmpty)
        net.withColumn("__part", lit(0))
          .withColumn("__nsub", lit(nSubOf(Seq.empty)))
      else {
        val tupleExprs: Seq[Column] = pf.map {
          case (name, _, "identity") => col(name)
          case (name, _, BucketN(n)) =>
            graft.functions.IcebergBucket(
              col(name.stripSuffix("_bucket")), n.toInt)
        }
        val tupleSchema = StructType(pf.zipWithIndex.map {
          case ((_, _, tr), i) =>
            StructField(s"__u_$i",
              if (tr == "identity") StringType else IntegerType)
        } ++ Seq(StructField("__part", IntegerType),
          StructField("__nsub", IntegerType)))
        val tupleRows = partTuples.zipWithIndex.map { case (tuple, ord) =>
          Row.fromSeq(pf.indices.map { i =>
            if (pf(i)._3 == "identity") surface(tuple, i)
            else tuple(i).map(v =>
              Integer.valueOf(v.asInstanceOf[Number].intValue)).orNull
          } ++ Seq(ord, nSubOf(tuple)))
        }
        val tuplesDf = spark.createDataFrame(
          spark.sparkContext.parallelize(tupleRows, 1), tupleSchema)
        val withT = net.select(net.columns.map(col).toSeq ++
          tupleExprs.zipWithIndex.map { case (c, i) => c.as(s"__t_$i") }: _*)
        val joinCond = pf.indices.map(i =>
          col(s"__t_$i") <=> col(s"__u_$i")).reduce(_ && _)
        withT.join(
          org.apache.spark.sql.functions.broadcast(tuplesDf), joinCond)
      }
    // identity partition cols go back to directory encoding: drop them
    // from the file contents, like the original write did; the sort
    // keeps each output file in the declared sort order (hash
    // sub-splitting preserves PER-FILE sort order, which is what the
    // spec's per-file sort-order id claims — compactDataFiles' bins
    // carry the same semantics)
    val base = new Path(tablePath, s"data/rewrite-${next.seq}")
    requireFieldIdWrite(spark)
    withPart.select(keepCols.map(col) ++ Seq(col("__part"),
        pmod(xxhash64(keepCols.map(col): _*), col("__nsub"))
          .cast("int").as("__sub")): _*)
      .repartition(col("__part"), col("__sub"))
      .sortWithinPartitions(
        (Seq("__part", "__sub") ++ sortCols).map(col): _*)
      .write.mode("overwrite").partitionBy("__part", "__sub")
      .parquet(base.toString)
    val rewritten = partTuples.zipWithIndex.flatMap { case (tuple, ord) =>
      (0 until nSubOf(tuple)).flatMap { sub =>
        val dir = new Path(base, s"__part=$ord/__sub=$sub")
        // a partition (or hash sub-split) whose every row was deleted
        // simply writes no directory — nothing committed, nothing
        // leaked on disk (the sixth randomized-lifecycle find demanded
        // exactly this: Delete-all-of-a-partition → CompactWithDeletes
        // must not manufacture the garbage the orphan sweep cleans)
        if (!fs.exists(dir)) None
        else {
          val (p, len, n) = statAndCount(dir, fs, conf)
          val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
          val stats = try columnStats(reader, table) finally reader.close()
          Some(DataFileInfo(p.toString, len, n, tuple,
            valueCounts = stats._1, nullCounts = stats._2,
            lowerBounds = stats._3, upperBounds = stats._4))
        }
      }
    }

    // REPLACE commit: new manifest list of exactly one data manifest
    // (ADDED + DELETED data rows) and one delete manifest retiring the
    // consumed delete files
    val dataEntries = rewritten.map(f => ManifestEntry(1, None, f)) ++
      liveData.map { case (f, seq) => ManifestEntry(2, Some(seq), f) }
    val dataManifest = next.manifest(dataEntries, priorList.size)
    // delete files are per-partition (spec-0) for position deletes and
    // global (spec-1) for equality deletes; retire each under its spec
    val (eqDels, posDels) = liveDeletes.partition(_.content == 2)
    def retire(dels: Seq[DeleteFileRef], specId: Int, ord: Int) =
      if (dels.isEmpty) None
      else Some((next.manifest(
        dels.map(d => ManifestEntry(2, Some(d.seq), d.asFileInfo)), ord, specId),
        dels.size))
    val posManifest = retire(posDels, 0, priorList.size + 1)
    val eqManifest = retire(eqDels, UnpartitionedSpecId, priorList.size + 2)

    val retiring =
      posManifest.map { case ((p, len), n) => (p, len, n, 0) }.toSeq ++
        eqManifest.map { case ((p, len), n) =>
          (p, len, n, UnpartitionedSpecId)
        }.toSeq
    val rows = Seq(ManifestListRow(dataManifest._1.toString, dataManifest._2,
      sequenceNumber = next.seq,
      minSequenceNumber = (next.seq +: liveData.map(_._2)).min,
      addedFiles = rewritten.size, existingFiles = 0,
      deletedFiles = liveData.size,
      addedRows = rewritten.map(_.recordCount).sum, existingRows = 0L,
      deletedRows = liveData.map(_._1.recordCount).sum)) ++
      retiring.map { case (p, len, n, specId) =>
        ManifestListRow(p.toString, len,
          sequenceNumber = next.seq,
          minSequenceNumber = (next.seq +: liveDeletes.map(_.seq)).min,
          addedFiles = 0, existingFiles = 0, deletedFiles = n,
          addedRows = 0L, existingRows = 0L, deletedRows = 0L,
          content = 1, specId = specId)
      }
    head.commitSnapshot(next, current, "replace", rows, timestampMs,
      added = rewritten,
      removed = liveData.map(_._1) ++ liveDeletes.map(_.asFileInfo))
  }

  /** [[compactWithDeletes]] once partition specs have evolved: the
    * REPLACE rewrite that also MIGRATES every live row to the current
    * default spec. Partition tuples are derived from the DATA (the
    * mixed-spec manifests can't enumerate default-spec tuples), each
    * tuple's slice is written as one file stamped with the default
    * spec, and retired delete files group by the spec they were
    * written under. */
  private def compactEvolvedSpec(spark: SparkSession, table: TableDef,
      head: TableHead, next: NextSnapshot,
      current: IcebergMetadata.SnapshotMeta,
      priorList: Seq[org.apache.avro.generic.GenericRecord],
      liveData: Seq[(DataFileInfo, Long)],
      liveDeletes: Seq[DeleteFileRef],
      net: DataFrame, timestampMs: Long): IcebergMetadata.SnapshotMeta = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(head.metadataDir.toUri, conf)
    val sid = IcebergMetadata.defaultSpecIdOf(table)
    val defs = IcebergMetadata.specFieldDefs(table, sid)
    val pf = partitionFieldsOf(table, sid)
    val colOfId = table.columns.zipWithIndex.map { case (c, i) =>
      c.fieldId.getOrElse(i + 1) -> c.name
    }.toMap
    // tuple columns under the DEFAULT spec, computed from the data —
    // through the shared transform dispatcher, so bucket[N], the
    // temporal family and truncate all re-stamp correctly (an identity
    // fall-through here once stamped RAW source values into rewritten
    // manifests for any transform it didn't know)
    val tupleCols: Seq[Column] = defs.map { f =>
      graft.functions.IcebergTransform.specColumn(
        f.transform, col(colOfId(f.sourceId)))
    }
    val netP = net.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // bounded by the table's partition count, like any commit
      val tupleSel = netP.select(tupleCols.zipWithIndex.map {
        case (c, i) => c.as(s"__t$i") }: _*)
      val tuples = tupleSel.distinct().collect()
      val dirEncoded = dirEncodedIdentityCols(table, sid)
      val sortCols = table.distributeByHash.toSeq
        .filter(table.columns.map(_.name).contains)
      // manifest Avro surface for a tuple value (dates ride as
      // epoch-day ints; bucket ordinals are already ints)
      def avroVal(itype: String, v: Any): Any = v match {
        case null => null
        case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
        case d: java.time.LocalDate => d.toEpochDay.toInt
        case n @ (_: java.lang.Integer | _: java.lang.Long |
                  _: java.lang.Float | _: java.lang.Double |
                  _: java.lang.Boolean) if itype != "string" => n
        case other => other.toString
      }
      // ONE partitioned write for ALL default-spec tuples (was: one
      // serial filter-coalesce(1) Spark job per tuple — the same
      // driver-side serialization the delete commit shed a round ago).
      // Every row's ordinal resolves via a broadcast join on the
      // computed tuple columns (null-safe — a null tuple value is a
      // legitimate partition), then repartition + partitionBy writes
      // sorted files in a single job. Large partitions sub-split to
      // `graft.compaction.target-file-bytes` like the un-evolved path;
      // the per-tuple size is estimated UNIFORMLY (total live bytes /
      // tuple count — the default-spec tuples are new, so no manifest
      // carries their exact sizes yet).
      //
      // Re-stamp EVERY written column with its declared field id (the
      // writeMigrated discipline): a column RESTORED from manifests —
      // e.g. the source of a renamed identity field, which stays
      // physical under the new spec — carries no parquet.field.id
      // metadata from the restore UDF, and a rewritten file missing
      // the id would null-fill on the next id-resolved read (found by
      // the randomized lifecycle harness:
      // AddCol→SpecRenameField→Upsert→CompactWithDeletes)
      val declared = graft.api.SchemaTranslator.toSparkSchema(table)
      val keptNames = netP.columns.filterNot(dirEncoded.contains).toSeq
      val outCols = declared.fields.toSeq
        .filter(f => keptNames.contains(f.name))
        .map(f => col(f.name).cast(f.dataType).as(f.name, f.metadata))
      val outNames = declared.fields.toSeq.map(_.name)
        .filter(keptNames.contains)
      import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
      val targetBytes = spark.conf
        .get("graft.compaction.target-file-bytes",
          (512L * 1024 * 1024).toString).toLong
      val nSub: Int = math.max(1, math.min(4096,
        ((liveData.map(_._1.sizeBytes).sum /
          math.max(1, tuples.length) + targetBytes - 1) /
          math.max(1L, targetBytes)).toInt))
      val withPart =
        if (tupleCols.isEmpty)
          netP.select(outCols :+ lit(0).as("__part"): _*)
        else {
          val tSchema = StructType(tupleSel.schema.fields.toSeq.zipWithIndex
            .map { case (f, i) =>
              StructField(s"__u_$i", f.dataType, nullable = true)
            } :+ StructField("__part", IntegerType))
          val tupleRows = tuples.toSeq.zipWithIndex.map { case (row, ord) =>
            Row.fromSeq(row.toSeq :+ ord)
          }
          val tuplesDf = spark.createDataFrame(
            spark.sparkContext.parallelize(tupleRows, 1), tSchema)
          val withT = netP.select(netP.columns.map(col).toSeq ++
            tupleCols.zipWithIndex.map { case (c, i) => c.as(s"__t$i") }: _*)
          val joinCond = tupleCols.indices.map(i =>
            col(s"__t$i") <=> col(s"__u_$i")).reduce(_ && _)
          withT.join(
              org.apache.spark.sql.functions.broadcast(tuplesDf), joinCond)
            .select(outCols :+ col("__part"): _*)
        }
      val base = new Path(head.tablePath, s"data/rewrite-${next.seq}")
      requireFieldIdWrite(spark)
      withPart
        .withColumn("__sub",
          pmod(xxhash64(outNames.map(col): _*), lit(nSub)).cast("int"))
        .repartition(col("__part"), col("__sub"))
        .sortWithinPartitions(
          (Seq("__part", "__sub") ++ sortCols).map(col): _*)
        .write.mode("overwrite").partitionBy("__part", "__sub")
        .parquet(base.toString)
      val rewritten = tuples.toSeq.zipWithIndex.flatMap { case (row, ord) =>
        (0 until nSub).flatMap { sub =>
          val dir = new Path(base, s"__part=$ord/__sub=$sub")
          // tuples derive from net's own rows, so an ordinal with no
          // directory should be impossible (a hash sub-split CAN be
          // empty) — skip rather than list a file that isn't there
          if (!fs.exists(dir)) None
          else {
            val (p, len, n) = statAndCount(dir, fs, conf)
            val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
            val stats = try columnStats(reader, table) finally reader.close()
            val tuple = pf.zipWithIndex.map { case ((_, itype, _), j) =>
              Option(avroVal(itype, if (row.isNullAt(j)) null else row.get(j)))
            }
            Some(DataFileInfo(p.toString, len, n, tuple,
              valueCounts = stats._1, nullCounts = stats._2,
              lowerBounds = stats._3, upperBounds = stats._4, specId = sid))
          }
        }
      }

      // data entries: ADDED under the default spec; DELETED rows keep
      // their original specs — one manifest per spec group
      var ordinal = priorList.size
      def nextOrdinal(): Int = { val o = ordinal; ordinal += 1; o }
      val addedManifest = next.manifest(
        rewritten.map(f => ManifestEntry(1, None, f)), nextOrdinal(), sid)
      val retiredDataRows = liveData.groupBy(_._1.specId).toSeq.sortBy(_._1)
        .map { case (s, lf) =>
          val m = next.manifest(
            lf.map { case (f, seq) => ManifestEntry(2, Some(seq), f) },
            nextOrdinal(), s)
          ManifestListRow(m._1.toString, m._2,
            sequenceNumber = next.seq,
            minSequenceNumber = (next.seq +: lf.map(_._2)).min,
            addedFiles = 0, existingFiles = 0, deletedFiles = lf.size,
            addedRows = 0L, existingRows = 0L,
            deletedRows = lf.map(_._1.recordCount).sum, specId = s)
        }
      val retiredDeleteRows = liveDeletes.groupBy(_.specId).toSeq.sortBy(_._1)
        .map { case (s, dels) =>
          val m = next.manifest(
            dels.map(d => ManifestEntry(2, Some(d.seq), d.asFileInfo)),
            nextOrdinal(), s)
          ManifestListRow(m._1.toString, m._2,
            sequenceNumber = next.seq,
            minSequenceNumber = (next.seq +: dels.map(_.seq)).min,
            addedFiles = 0, existingFiles = 0, deletedFiles = dels.size,
            addedRows = 0L, existingRows = 0L, deletedRows = 0L,
            content = 1, specId = s)
        }

      val rows = ManifestListRow(addedManifest._1.toString, addedManifest._2,
        sequenceNumber = next.seq,
        minSequenceNumber = (next.seq +: liveData.map(_._2)).min,
        addedFiles = rewritten.size, existingFiles = 0, deletedFiles = 0,
        addedRows = rewritten.map(_.recordCount).sum, existingRows = 0L,
        deletedRows = 0L, specId = sid) +: (retiredDataRows ++ retiredDeleteRows)
      head.commitSnapshot(next, current, "replace", rows, timestampMs,
        added = rewritten,
        removed = liveData.map(_._1) ++ liveDeletes.map(_.asFileInfo))
    } finally { netP.unpersist(false); () }
  }
}
