package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.model.TableDef
import IcebergSnapshot._

/** Write-audit-publish (WAP) over the Iceberg v2 writer — the staging
  * pattern a production curation pipeline runs every day: land the new
  * batch on an AUDIT BRANCH (readers of `main` see nothing), run the
  * quality gates against the branch read, then publish atomically by
  * fast-forwarding `main`, or abandon by dropping the ref (expiry then
  * GCs the staged files).
  *
  * Mechanics, per the spec's refs model: a branch commit is a normal
  * append snapshot that enters the snapshots list and moves ONLY its
  * branch ref; `current-snapshot-id` (and the implicit `main` ref)
  * stay on the published head, so the staged snapshot trails the
  * array without being current. Every reader/committer of "the
  * current table state" resolves through
  * [[IcebergSnapshot.TableHead.main]] rather than the array tail,
  * and sequence numbers are table-global (`max + 1` across the whole
  * chain), so interleaved main-side commits can never collide with a
  * staged branch. Publishing is a metadata-only commit that moves
  * `current-snapshot-id` to the branch head — legal only when the
  * published head is an ANCESTOR of the branch head (a true
  * fast-forward); once main has advanced past the fork the publish
  * refuses and the branch must be rebased (re-staged) or abandoned.
  *
  * Reference north-star: the converter emits DDL for live Iceberg
  * tables (`/root/reference/db2ice/converter.py:166-183`); a daily
  * sync into those tables needs staged, auditable batch publication.
  * All commits ride the shared metadata-version + hint-flip protocol,
  * so crash-safety is inherited: a crash before the flip leaves the
  * prior version resolving exactly.
  */
object IcebergWap {

  /** Stage the files that appeared under `<tablePath>/data` since any
    * retained snapshot as an append on `branch` — main is untouched.
    * The branch is created at the main head on first use. Returns the
    * staged snapshot (or the branch head unchanged when no new files
    * exist). Read the staged state with
    * [[IcebergSnapshot.readSnapshotAtRef]]; publish with
    * [[fastForwardMain]]; abandon with [[IcebergSnapshot.dropRef]]
    * (+ expiry to GC the staged files). */
  def commitAppendToBranch(table: TableDef, tablePath: String,
      branch: String, conf: Configuration = new Configuration(),
      timestampMs: Long = System.currentTimeMillis()): IcebergMetadata.SnapshotMeta = {
    require(branch.nonEmpty && branch != "main",
      "stage on a named audit branch, not main")
    val head = TableHead.read(tablePath, conf)
    val mainHead = head.requireMain()
    val parent = head.branchHead(branch).getOrElse(mainHead)
    val newFiles = head.newDataFiles(table)
    if (newFiles.isEmpty) return parent
    val priorList = readManifestList(new Path(parent.manifestList), conf)
    val next = head.next(table, s"branch-$branch-snapshot")
    head.commitSnapshot(next, parent, "append",
      Seq(next.addedManifest(newFiles, priorList.size)), timestampMs,
      added = newFiles, carried = priorList,
      mainId = Some(mainHead.snapshotId),
      addRefs = Seq((branch, next.id, "branch")))
  }

  /** Publish: move `main` to the head of `branch`. Metadata-only;
    * refuses unless the current main head is an ancestor of the branch
    * head (fast-forward), so a publish can never silently discard
    * main-side commits that landed after the fork. No-op when already
    * published. Returns the new main head. */
  def fastForwardMain(table: TableDef, tablePath: String, branch: String,
      conf: Configuration = new Configuration(),
      timestampMs: Long = System.currentTimeMillis()): IcebergMetadata.SnapshotMeta = {
    val head = TableHead.read(tablePath, conf)
    val mainHead = head.requireMain()
    val target = head.branchHead(branch).getOrElse(
      throw new IllegalArgumentException(s"no branch $branch"))
    if (target.snapshotId == mainHead.snapshotId) return mainHead
    require(head.ancestry(target).exists(_.snapshotId == mainHead.snapshotId),
      s"main (${mainHead.snapshotId}) is not an ancestor of " +
        s"$branch's head (${target.snapshotId}) — main advanced past " +
        "the fork; re-stage the branch or abandon it")

    head.commitMetadata(table, timestampMs, mainId = Some(target.snapshotId))
    target
  }

  /** Re-apply a staged branch's APPENDS onto the CURRENT main head —
    * Iceberg's `cherrypick_snapshot`, and the constructive answer to
    * [[fastForwardMain]]'s diverged-publish refusal: when main moved
    * past the fork, the staged rows need not be abandoned — appends
    * never conflict, so their data files re-commit as a NEW append
    * snapshot on top of today's main. Mechanics: the branch segment
    * (branch-head ancestry until it meets main's) must be appends
    * only (delete/overwrite segments refuse — replaying row removal
    * onto a moved base is not conflict-free); their ADDED data files
    * are read back from the manifests (stats included — no parquet
    * footer re-reads) and committed under FRESH manifests carrying
    * the cherry-pick snapshot's own id, so incremental scans
    * attribute the rows to the commit that actually published them.
    * The new files take the new snapshot's data sequence number —
    * deletes committed on main before the cherry-pick do not apply
    * to them, which is correct: the staged rows were never visible
    * to those deletes. The audit branch ref MOVES to the cherry-pick
    * snapshot — publication consumes the branch (same as a
    * fast-forward leaves ref == main head), which makes the pick
    * IDEMPOTENT (a second call sees the branch on main's ancestry
    * and no-ops instead of re-adding the same files) and releases
    * the staged originals to expiry; their data files survive GC
    * because the fresh manifests re-list the same paths. No-op when
    * the branch head is already on main's ancestry. */
  def cherryPickAppend(table: TableDef, tablePath: String, branch: String,
      conf: Configuration = new Configuration(),
      timestampMs: Long = System.currentTimeMillis()): IcebergMetadata.SnapshotMeta = {
    val head = TableHead.read(tablePath, conf)
    val mainHead = head.requireMain()
    val target = head.branchHead(branch).getOrElse(
      throw new IllegalArgumentException(s"no branch $branch"))
    val mainAnc = head.ancestry(mainHead).map(_.snapshotId).toSet
    if (mainAnc.contains(target.snapshotId)) return mainHead
    val targetAnc = head.ancestry(target)
    val segment = targetAnc.takeWhile(s => !mainAnc.contains(s.snapshotId))
    require(targetAnc.drop(segment.size).nonEmpty,
      s"branch $branch does not fork from main's retained history — " +
        "cannot cherry-pick (fork expired?)")
    val nonAppend = segment.filterNot(_.operation == "append")
    require(nonAppend.isEmpty,
      s"only append snapshots cherry-pick; staged segment contains " +
        nonAppend.map(s => s"${s.snapshotId}(${s.operation})").mkString(", "))
    val segIds = segment.map(_.snapshotId).toSet
    // the branch head's manifest list re-lists the whole segment
    val bySpec = readManifestList(new Path(target.manifestList), conf)
      .filter(_.get("content").asInstanceOf[Int] == 0)
      .flatMap { m =>
        val mSpec = m.get("partition_spec_id").asInstanceOf[Int]
        val pf = partitionFieldsOf(table, mSpec)
        readAvroRows(new Path(m.get("manifest_path").toString), conf)
          .filter(e => e.get("status") == 1 &&
            Option(e.get("snapshot_id"))
              .exists(id => segIds.contains(id.asInstanceOf[Long])))
          .map(e => mSpec -> decodeDataFileInfo(
            e.get("data_file")
              .asInstanceOf[org.apache.avro.generic.GenericRecord],
            pf, mSpec))
      }.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    require(bySpec.nonEmpty, s"staged segment of $branch adds no data files")

    val next = head.next(table, "cherrypick")
    val priorList = readManifestList(new Path(mainHead.manifestList), conf)
    val rows = bySpec.toSeq.sortBy(_._1).zipWithIndex.map { case ((sid, files), i) =>
      next.addedManifest(files, priorList.size + i, specId = sid)
    }
    head.commitSnapshot(next, mainHead, "append", rows, timestampMs,
      added = bySpec.toSeq.sortBy(_._1).flatMap(_._2), carried = priorList,
      addRefs = Seq((branch, next.id, "branch")))
  }

  /** Roll `main` back to a retained ANCESTOR snapshot — the first
    * thing an operator wants after a bad publish (Iceberg's
    * `rollback_to_snapshot`). Metadata-only: `current-snapshot-id`
    * (and the main ref) move back to `snapshotId`; every snapshot
    * stays in the array, so the rolled-back-PAST descendants remain
    * re-publishable (a branch ref still pointing at the bad head can
    * fast-forward main onto it again) and become expirable once no
    * ref protects them — expiry always protects the main head, i.e.
    * the rolled-back-TO snapshot. Refuses a target that is not on the
    * main head's parent-link ancestry (a staged branch snapshot or an
    * expired id is not a rollback — it would silently abandon
    * history sideways). The snapshot-log, which this writer derives
    * from main's ancestry, truncates to the restored head (keeping
    * the spec's log-last == current invariant) rather than appending
    * a duplicate made-current entry. No-op when already current. */
  def rollbackMain(table: TableDef, tablePath: String, snapshotId: Long,
      conf: Configuration = new Configuration(),
      timestampMs: Long = System.currentTimeMillis()): IcebergMetadata.SnapshotMeta = {
    val head = TableHead.read(tablePath, conf)
    val mainHead = head.requireMain()
    if (snapshotId == mainHead.snapshotId) return mainHead
    val target = head.chain.find(_.snapshotId == snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot $snapshotId not in the retained chain (expired?)"))
    require(head.ancestry(mainHead).exists(_.snapshotId == snapshotId),
      s"snapshot $snapshotId is not an ancestor of main " +
        s"(${mainHead.snapshotId}) — rollback only walks main's own " +
        "history; use fastForwardMain for branch heads")
    head.commitMetadata(table, timestampMs, mainId = Some(snapshotId))
    target
  }
}
