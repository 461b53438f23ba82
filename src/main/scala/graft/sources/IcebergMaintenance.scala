package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import IcebergSnapshot.{DataFileInfo, ManifestEntry, ManifestListRow,
  TableHead, columnStats, decodeDataFileInfo, liveDeleteFiles,
  liveFilesWithSeq, partitionFieldsOf, pathKey, readAvroRows,
  readManifestList, scanDataFiles}
import graft.model.TableDef

/** Table MAINTENANCE beyond snapshot expiry: orphan-file removal —
  * the janitor a long-lived table needs because the commit protocol
  * is deliberately crash-tolerant. A writer that dies between writing
  * its data/manifest/metadata files and flipping `version-hint.text`
  * leaves everything it wrote UNREFERENCED (the next reader never sees
  * it — correctness holds), and an abandoned WAP stage's dropped ref
  * releases snapshots whose files expiry may never visit. At 100 TB
  * that garbage is real money; a real Iceberg deployment runs
  * `remove_orphan_files` on a schedule for exactly this reason
  * (reference north-star: the Iceberg table layout the converter
  * targets, `/root/reference/db2ice/converter.py:166-183`).
  *
  * Safety model (matching the Iceberg procedure's contract):
  *   - only files STRICTLY OLDER than `olderThanMs` are candidates —
  *     an in-flight writer's freshly-written-but-not-yet-committed
  *     files are never swept (pass a cutoff comfortably behind the
  *     longest plausible commit, e.g. now - 24h);
  *   - the reachable set spans EVERY snapshot in the current metadata
  *     (staged WAP branch heads included — they are in the snapshots
  *     array and ref-protected from expiry, so their files are live),
  *     and every entry of every reachable manifest regardless of
  *     status (a tombstoned path is still readable through an older
  *     retained snapshot's time travel);
  *   - metadata versions ≤ the current hint are history (metadata-log
  *     entries point at them); versions ABOVE the hint are crashed
  *     commit attempts and age out like any other orphan;
  *   - hidden files (`.`/`_` prefixed: Spark `_SUCCESS`, Hadoop
  *     checksums) are never touched.
  *
  * Driver-side O(manifests + files-on-disk) listing, the same shape
  * as the real action's file-listing phase. Idempotent: a second run
  * over a clean table deletes nothing.
  */
object IcebergMaintenance {

  /** Delete unreferenced files under `tablePath` older than
    * `olderThanMs` (epoch millis, exclusive). Returns the deleted
    * paths. See the object scaladoc for the safety contract. */
  def removeOrphanFiles(tablePath: String, olderThanMs: Long,
      conf: Configuration = new Configuration()): Seq[String] = {
    val metadataDir = new Path(tablePath, "metadata")
    val fs = FileSystem.get(metadataDir.toUri, conf)
    val hintPath = new Path(metadataDir, "version-hint.text")
    require(fs.exists(hintPath),
      s"$tablePath is not an Iceberg table (no version hint) — refusing to sweep")
    val head = TableHead.read(tablePath, conf)
    val (version, chain) = (head.version, head.chain)

    // reachable = manifest lists ∪ manifests ∪ every file path any
    // manifest entry records (all statuses), across the WHOLE chain
    val lists = chain.map(s => pathKey(s.manifestList)).toSet
    val manifestPaths = chain.flatMap(s =>
      readManifestList(new Path(s.manifestList), conf)
        .map(_.get("manifest_path").toString)).distinct
    val manifests = manifestPaths.map(pathKey).toSet
    val dataFiles = manifestPaths.flatMap(m =>
      IcebergSnapshot.readManifestPaths(new Path(m), conf).map(pathKey)).toSet
    val metaJson = "v(\\d+)\\.metadata\\.json".r

    val deleted = ArrayBuffer.empty[String]
    val it = fs.listFiles(new Path(tablePath), true)
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath
      val key = pathKey(p.toString)
      val keep =
        p.getName.startsWith(".") || p.getName.startsWith("_") ||
        p.getName == "version-hint.text" ||
        (metaJson.findFirstMatchIn(p.getName) match {
          case Some(m) if p.getParent.getName == "metadata" =>
            m.group(1).toInt <= version
          case _ => false
        }) ||
        lists.contains(key) || manifests.contains(key) ||
        dataFiles.contains(key) ||
        st.getModificationTime >= olderThanMs
      if (!keep) {
        fs.delete(p, false)
        deleted += p.toString
      }
    }
    deleted.toSeq
  }

  /** Z-ORDER clustering rewrite — the maintenance action that makes
    * MULTI-column pruning improve as the table compacts. Per (spec,
    * partition) group, every live data file is re-laid as
    * ceil(bytes / targetBytes) files range-split on the Morton
    * interleave of (`aCol`, `bCol`) ([[graft.operators.Layout]]) and
    * z-sorted within each file, so each rewritten file covers a small
    * 2-D tile and carries tight min/max stats on BOTH columns — a
    * predicate on either (or both) prunes files that bin-packing
    * compaction, which concatenates arrival order, cannot. This is
    * the `rewrite_data_files(strategy => 'sort', sort_order =>
    * 'zorder(a, b)')` action of a real Iceberg deployment.
    *
    * Commits a REPLACE snapshot: bytes move, rows don't — incremental
    * scans skip it, CDC diffs it to nothing, probes before == after
    * bit-for-bit. Refuses while row-level delete files are live (the
    * compactDataFiles rule — a rewrite that ignored them would
    * resurrect deleted rows); run compactWithDeletes first. The
    * z-columns must live in the data files: identity-partition
    * columns are directory-encoded and already pruned at the
    * partition level. */
  def rewriteZorder(spark: org.apache.spark.sql.SparkSession,
      table: TableDef, tablePath: String, aCol: String, bCol: String,
      targetBytes: Long = 512L * 1024 * 1024,
      timestampMs: Long = System.currentTimeMillis()): IcebergMetadata.SnapshotMeta = {
    require(targetBytes > 0)
    val conf = spark.sparkContext.hadoopConfiguration
    val head = TableHead.read(tablePath, conf)
    val current = head.requireMain()
    val fs = FileSystem.get(head.metadataDir.toUri, conf)
    val priorList = readManifestList(new Path(current.manifestList), conf)
    require(liveDeleteFiles(priorList, conf).isEmpty,
      "rewriteZorder with live delete files would resurrect deleted " +
        "rows; run compactWithDeletes first")
    val colNames = table.columns.map(_.name).toSet
    require(colNames.contains(aCol) && colNames.contains(bCol),
      s"z-order columns must be table columns: $aCol, $bCol")
    val dirEncoded = IcebergSnapshot.dirEncodedIdentityCols(
      table, IcebergMetadata.defaultSpecIdOf(table))
    require(!dirEncoded.contains(aCol) && !dirEncoded.contains(bCol),
      "identity-partition columns are directory-encoded (absent from " +
        "data files) and already pruned at the partition level — " +
        "z-order on data columns")
    val live = liveFilesWithSeq(priorList, table, conf)
    if (live.isEmpty) return current

    val next = head.next(table)
    val groups = live.groupBy(f => (f._1.specId, f._1.partitionValues))
      .toSeq.sortBy(_._1.toString)
    val rewritten = groups.zipWithIndex.flatMap {
      case (((sid, pv), fsOfPart), i) =>
        val dir = new Path(tablePath, s"data/zorder-${next.seq}-$i")
        val totalBytes = fsOfPart.map(_._1.sizeBytes).sum
        val nFiles = math.max(1,
          math.ceil(totalBytes.toDouble / targetBytes).toInt)
        val df = scanDataFiles(spark, table, fsOfPart.map(_._1.path), sid)
        // keep field ids in rewritten files — evolved tables read by id
        IcebergSnapshot.requireFieldIdWrite(spark)
        graft.operators.Layout.zorderLayout(df, aCol, bCol, nFiles)
          .write.mode("overwrite").parquet(dir.toString)
        fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.getName).flatMap { st =>
            val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile
                .fromPath(st.getPath, conf))
            val (nRows, stats) =
              try (reader.getRecordCount, columnStats(reader, table))
              finally reader.close()
            // a range split can come out empty; delete the zero-row
            // part instead of listing it (a listed empty file is noise
            // forever, an unlisted one is an orphan the sweep flags)
            if (nRows == 0L) { fs.delete(st.getPath, false); None }
            else Some(DataFileInfo(st.getPath.toString, st.getLen, nRows, pv,
              valueCounts = stats._1, nullCounts = stats._2,
              lowerBounds = stats._3, upperBounds = stats._4,
              specId = sid))
          }
    }

    // one data manifest per spec: ADDED rewritten files (new seq,
    // inherited) + DELETED originals (original seqs, explicit)
    val tagged: Seq[(Int, ManifestEntry)] =
      rewritten.map(f => f.specId -> ManifestEntry(1, None, f)) ++
        live.map { case (f, seq) =>
          f.specId -> ManifestEntry(2, Some(seq), f) }
    val rows = tagged.groupBy(_._1).toSeq.sortBy(_._1).zipWithIndex.map {
      case ((sid, tagEntries), i) =>
        val entries = tagEntries.map(_._2)
        val manifest = next.manifest(entries, priorList.size + i, sid)
        val added = entries.filter(_.status == 1).map(_.file)
        val removed = entries.filter(_.status == 2).map(_.file)
        ManifestListRow(manifest._1.toString, manifest._2,
          sequenceNumber = next.seq,
          minSequenceNumber =
            (next.seq +: entries.flatMap(_.sequenceNumber)).min,
          addedFiles = added.size, existingFiles = 0,
          deletedFiles = removed.size,
          addedRows = added.map(_.recordCount).sum,
          existingRows = 0L,
          deletedRows = removed.map(_.recordCount).sum,
          specId = sid)
    }
    head.commitSnapshot(next, current, "replace", rows, timestampMs,
      added = rewritten, removed = live.map(_._1))
  }

  /** Consolidate the current snapshot's manifest list — the
    * METADATA-ONLY maintenance sibling of data-file compaction, and
    * the one that still works while row-level delete files are live
    * (plain compaction refuses then). N incremental appends leave the
    * head's list pointing at N one-file manifests; planning then opens
    * N small Avro files — at a 100k-commit table that's the metadata
    * bottleneck the real `rewrite_manifests` action exists for. This
    * commit re-lists every LIVE entry (tombstones dropped — older
    * snapshots' own lists keep them for time travel) into ONE manifest
    * per (content, partition-spec) group, every entry EXISTING with
    * its ORIGINAL data sequence number made explicit, so scan results,
    * merge-on-read delete application (sequence-gated) and time travel
    * are all bit-identical — only the file count planning touches
    * changes. REPLACE snapshot, skipped by incremental scans like any
    * rewrite. No-op (no commit) when the list is already one manifest
    * per group. */
  def rewriteManifests(table: TableDef, tablePath: String,
      conf: Configuration = new Configuration(),
      timestampMs: Long = System.currentTimeMillis()): IcebergMetadata.SnapshotMeta = {
    val head = TableHead.read(tablePath, conf)
    val current = head.requireMain()
    val listRows = readManifestList(new Path(current.manifestList), conf)

    // live entries bucketed by (manifest content, partition spec):
    // a manifest's partition record is shaped by exactly one spec, and
    // data/delete manifests are distinct list rows by the v2 spec
    val grouped: Seq[((Int, Int), Seq[(DataFileInfo, Long)])] = listRows
      .flatMap { m =>
        val listSeq = m.get("sequence_number").asInstanceOf[Long]
        val sid = m.get("partition_spec_id").asInstanceOf[Int]
        val content = m.get("content").asInstanceOf[Int]
        val pf = partitionFieldsOf(table, sid)
        readAvroRows(new Path(m.get("manifest_path").toString), conf)
          .filter(_.get("status") != 2)
          .map { e =>
            val df = e.get("data_file")
              .asInstanceOf[org.apache.avro.generic.GenericRecord]
            // decodeDataFileInfo covers the data-manifest fields; the
            // delete-manifest face additionally needs content and
            // equality ids to survive the round trip
            val info = decodeDataFileInfo(df, pf, sid).copy(
              content = df.get("content").asInstanceOf[Int],
              equalityIds = Option(df.get("equality_ids")).map { l =>
                val jl = l.asInstanceOf[java.util.List[Integer]]
                (0 until jl.size).map(i => jl.get(i).intValue).toSeq
              }.getOrElse(Nil))
            val seq = Option(e.get("sequence_number"))
              .map(_.asInstanceOf[Long]).getOrElse(listSeq)
            ((content, sid), (info, seq))
          }
      }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
      .filter(_._2.nonEmpty)
      .sortBy(_._1)
    if (listRows.size <= grouped.size) return current // already minimal

    val next = head.next(table)
    val rows = grouped.zipWithIndex.map { case (((content, sid), files), i) =>
      val entries = files.map { case (f, seq) => ManifestEntry(0, Some(seq), f) }
      val manifest = next.manifest(entries, i, sid)
      ManifestListRow(manifest._1.toString, manifest._2,
        sequenceNumber = next.seq,
        minSequenceNumber = files.map(_._2).min,
        addedFiles = 0, existingFiles = files.size, deletedFiles = 0,
        addedRows = 0L, existingRows = files.map(_._1.recordCount).sum,
        deletedRows = 0L, content = content, specId = sid)
    }
    head.commitSnapshot(next, current, "replace", rows, timestampMs)
  }
}
