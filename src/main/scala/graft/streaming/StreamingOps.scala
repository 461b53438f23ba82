package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event row for typed streaming flows. */
final case class UserEvent(user_id: Long, ts: java.sql.Timestamp,
    event_type: String, value: Double)

/** Per-user running state for the custom stateful operator. */
final case class UserRunning(user_id: Long, n_events: Long, total_value: Double,
    n_purchases: Long)

/** Structured-Streaming extension (SURVEY.md §2.10 — not a reference
  * capability; the engine's streaming surface for DDL drop-dirs and the
  * events stream).
  *
  * Everything is expressed against unbounded DataFrames: the identical
  * plans run in batch mode (used by the oracle-checked q26 session
  * query) and under `readStream` with watermarks — Spark's
  * batch/streaming unification does the heavy lifting.
  */
object StreamingOps {

  /** Maintenance cadence for the streaming Iceberg table sinks. A
    * long-running stream commits one snapshot and one small-file set
    * per micro-batch — thousands of batches mean thousands of
    * snapshots, manifests and small files, the canonical
    * streaming-Iceberg scale failure (every reader's planning slows
    * down as metadata bloats). With a cadence set, the sink folds
    * maintenance in every `everyBatches` batches, AFTER that batch's
    * commit: row-level deletes compact away
    * ([[graft.sources.IcebergDeletes.compactWithDeletes]]), small data
    * files bin-merge toward `targetFileBytes`
    * ([[graft.sources.IcebergSnapshot.compactDataFiles]]), and history
    * beyond `keepSnapshots` expires with its unreachable files
    * physically GC'd ([[graft.sources.IcebergSnapshot
    * .expireSnapshots]]).
    *
    * Safety: each maintenance op is itself one atomic commit (or a
    * no-op), and every commit carries the table properties — the
    * `graft.streaming.txn.<appId>` exactly-once guard — forward, so a
    * crash anywhere inside the maintenance window leaves a consistent
    * table whose replay skips the already-committed batch; the skipped
    * maintenance simply runs at the next cadence point. Readers'
    * probes are bit-identical with or without maintenance (REPLACE
    * snapshots move bytes, not rows). Keep `keepSnapshots` ≥ the
    * longest restart gap (in batches) of any stream TAILING the table:
    * expiring a snapshot a downstream reader has not consumed fails
    * that reader loudly. */
  final case class SinkMaintenance(
      everyBatches: Int,
      targetFileBytes: Long = 512L * 1024 * 1024,
      keepSnapshots: Int = 10) {
    require(everyBatches >= 1, "maintenance cadence must be >= 1 batch")
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(keepSnapshots >= 1, "must keep at least the current snapshot")
  }

  /** One maintenance pass over a committed Iceberg table — the body
    * the sinks run on their cadence, callable standalone for a
    * scheduled (e.g. nightly) pass. Order matters: delete-folding
    * first (plain compaction refuses while live delete files exist),
    * then small-file binning, then expiry (which physically frees the
    * files the rewrites replaced once they leave the retention
    * window). Every step is commit-or-noop and carries table
    * properties forward. */
  def maintainIcebergTable(spark: SparkSession, table: graft.model.TableDef,
      path: String, m: SinkMaintenance): Unit = {
    import graft.sources.{IcebergDeletes, IcebergSnapshot}
    val conf = spark.sparkContext.hadoopConfiguration
    IcebergDeletes.compactWithDeletes(spark, table, path)
    IcebergSnapshot.compactDataFiles(spark, table, path, m.targetFileBytes)
    IcebergSnapshot.expireSnapshots(table, path, m.keepSnapshots, conf)
    ()
  }

  /** (script_id, ddl) per file dropped into `dir`: the batch
    * [[graft.api.Engine.readScripts]] projection (same ids, same
    * refusal of compressed files), uncoalesced. */
  private def scriptStream(spark: SparkSession, dir: String): DataFrame =
    graft.api.Engine.scriptRows(spark.readStream.format("binaryFile")
      .schema(graft.api.Engine.BinaryFileSchema).load(dir))

  /** Stream of DDL scripts dropped into a directory (one file = one
    * script), converted incrementally: per-file parse+render is
    * stateless, so this is a pure map stream — no state store. */
  def ddlConvertStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    scriptStream(spark, dir).as[(String, String)]
      .map { case (id, ddl) =>
        val r = graft.convert.Db2Renderer.convert(ddl)
        (id, r.icebergDdl, r.ewiCount, r.tablesConverted)
      }
      .toDF("script_id", "iceberg_ddl", "ewi_count", "tables_converted")
  }

  /** Streaming migration assessment: DDL scripts dropped into a
    * directory scored incrementally — the readiness dashboard's live
    * face. Per-file parse+assess is stateless (pure map, the same
    * [[graft.assess.Assessor]] the batch path runs), so the stream
    * needs no state store and scales with file arrival rate. */
  def ddlAssessStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    scriptStream(spark, dir).as[(String, String)]
      .map { case (id, ddl) =>
        val r = graft.assess.Assessor.assess(ddl)
        (id, r.tablesTotal, r.overallScore, r.overallLevel,
          r.criticalIssues.length, r.warnings.length)
      }
      .toDF("script_id", "tables_total", "overall_score", "overall_level",
        "n_critical", "n_warning")
  }

  /** Watermarked tumbling-window counts per event type. Late rows
    * beyond the watermark are dropped; state is bounded by
    * (watermark horizon / slide) windows. */
  def windowedEventCounts(events: DataFrame, windowLen: String,
      watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Session aggregation with the built-in session_window (gap-merged
    * event-time sessions) — the Spark-first path; works identically in
    * batch (oracle-checkable) and streaming (with watermark). */
  def sessionAgg(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("user_id"),
        col("w.start").as("session_start"),
        col("w.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Custom stateful operator via mapGroupsWithState: per-user running
    * totals, emitted on every trigger (update mode). Demonstrates the
    * KeyValueGroupedDataset state API where built-in aggregations
    * don't fit. */
  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0, 0L))
          var n = prev.n_events
          var total = prev.total_value
          var purchases = prev.n_purchases
          for (e <- rows) {
            n += 1
            total += e.value
            if (e.event_type == "purchase") purchases += 1
          }
          val next = UserRunning(userId, n, total, purchases)
          state.update(next)
          next
      }
  }

  /** Streaming exact dedup on a fingerprint column: keeps the FIRST
    * row seen per fingerprint across micro-batches (built-in
    * dropDuplicates state store — one state row per distinct key).
    * The streaming face of [[graft.operators.Dedup.exactGroups]]: a
    * training-data ingest stream dedups documents by content
    * fingerprint before they reach storage. With `watermarkCol`/
    * `watermark` set, `dropDuplicatesWithinWatermark` is used: state
    * IS evicted once the key's latest event time falls behind the
    * watermark (plain `dropDuplicates` ignores the watermark for
    * state cleanup unless the event-time column is part of the key —
    * state would grow unboundedly). Duplicates separated by more than
    * the horizon are kept — the standard streaming-dedup trade-off.
    * Without a watermark, state grows with distinct keys — only for
    * bounded key domains. */
  def dedupStream(rows: DataFrame, fingerprintCols: Seq[String],
      watermarkCol: Option[String] = None,
      watermark: String = "1 hour"): DataFrame =
    watermarkCol match {
      case Some(c) =>
        rows.withWatermark(c, watermark)
          .dropDuplicatesWithinWatermark(fingerprintCols)
      case None => rows.dropDuplicates(fingerprintCols)
    }

  /** The live crawl's first mile: a drop-directory WARC stream
    * ([[graft.sources.Warc.recordsStream]]) reduced to clean page text
    * — HTTP responses only (truncated bodies dropped: a cut-off page
    * must not enter the corpus as a shorter document), charset-aware
    * payload decode (`decode_text` — rows whose bytes failed to decode
    * are gated by `maxDecodeErrors`), `html_text` tag strip. Output:
    * (doc_id = xxhash64 of the WARC record id, url, charset,
    * decode_errors, text) — ready for [[corpusIngestStream]], which
    * [[crawlIngestStream]] composes. Entirely stateless (scan-side
    * expressions), so batch == stream by construction; spec-pinned
    * against the batch path over the same files. */
  def crawlTextStream(spark: org.apache.spark.sql.SparkSession,
      dropDir: String, maxBodyBytes: Int = 1 << 20,
      maxFilesPerTrigger: Option[Int] = None,
      maxDecodeErrors: Int = Int.MaxValue,
      mainContent: Boolean = false): DataFrame = {
    crawlTextStages(
      graft.sources.Warc.recordsStream(spark, dropDir, maxBodyBytes,
        maxFilesPerTrigger), maxDecodeErrors, mainContent)
  }

  /** The stream/batch-shared projection of [[crawlTextStream]] — one
    * code path, two sources (spec pins stream == batch through it).
    * With `mainContent` the page reduces through the boilerplate-aware
    * [[graft.functions.HtmlMainContent]] block scorer instead of the
    * keep-everything `html_text` — nav/footer/link-farm text then
    * never reaches the quality gate or the dedup fingerprints. */
  def crawlTextStages(records: DataFrame,
      maxDecodeErrors: Int = Int.MaxValue,
      mainContent: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val extract: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (mainContent) graft.functions.HtmlMainContent.apply
      else graft.functions.HtmlText.apply
    records
      .filter(col("warc_type") === "response" && !col("truncated"))
      .withColumn("__d", graft.functions.CharsetDecode(col("body"),
        col("http_content_type")))
      .filter(col("__d.decode_errors") <= maxDecodeErrors)
      .select(xxhash64(col("record_id")).as("doc_id"),
        col("target_uri").as("url"),
        // the record's fetch time as a real timestamp — the event-time
        // column downstream watermarks (urlDedupStage's frontier state
        // bound) hang off
        col("warc_date").cast("timestamp").as("fetch_ts"),
        col("__d.charset").as("charset"),
        col("__d.decode_errors").as("decode_errors"),
        extract(col("__d.text")).as("text"))
  }

  /** Cross-batch canonical-URL revisit dedup — the FRONTIER stage of
    * a live crawl, running BEFORE content fingerprinting: the same
    * page re-fetched under a URL variant (case-shifted host, default
    * port, tracking params, fragment) keeps its FIRST crawl even when
    * the re-crawl's content shifted (rotated boilerplate/ads —
    * exactly the revisits content-level dedup misses; the batch
    * sibling is q99's URL stage). Adds `canonical_url`
    * ([[graft.functions.TextFunctions.canonicalUrl]], scan-side
    * codegen) and holds one state row per distinct canonical URL —
    * set `watermarkCol` to bound state to the revisit horizon at a
    * real crawl's frontier size. */
  def urlDedupStage(pages: DataFrame, urlCol: String = "url",
      watermarkCol: Option[String] = None,
      watermark: String = "1 hour"): DataFrame =
    dedupStream(
      pages.withColumn("canonical_url",
        graft.functions.TextFunctions.canonicalUrl(
          org.apache.spark.sql.functions.col(urlCol))),
      Seq("canonical_url"), watermarkCol, watermark)

  /** End-to-end live crawl ingest: [[crawlTextStream]] composed with
    * [[corpusIngestStream]]'s quality gate / scrub / cross-batch dedup
    * / shard routing — drop a CommonCrawl segment into `dropDir` and
    * sharded clean documents come out. With `urlDedup` the
    * [[urlDedupStage]] frontier dedup runs first (the q99 stage
    * order: URL revisits collapse before content fingerprints are
    * ever computed) and the output carries `canonical_url`. */
  def crawlIngestStream(spark: org.apache.spark.sql.SparkSession,
      dropDir: String, minQuality: Double, nShards: Int,
      maxBodyBytes: Int = 1 << 20,
      maxFilesPerTrigger: Option[Int] = None,
      maxDecodeErrors: Int = Int.MaxValue,
      boilerplate: Option[DataFrame] = None,
      urlDedup: Boolean = false,
      urlWatermarkCol: Option[String] = None,
      urlWatermark: String = "1 hour",
      mainContent: Boolean = false): DataFrame = {
    val text = crawlTextStream(spark, dropDir, maxBodyBytes,
      maxFilesPerTrigger, maxDecodeErrors, mainContent)
    corpusIngestStream(
      // the dedup state bound the urlDedupStage scaladoc advises is
      // reachable from here: pass the page stream's event-time column
      // (e.g. warc_date surfaced upstream) to evict frontier state
      // beyond the revisit horizon instead of holding one state row
      // per canonical URL forever
      if (urlDedup) urlDedupStage(text, watermarkCol = urlWatermarkCol,
        watermark = urlWatermark)
      else text,
      minQuality, nShards, boilerplate = boilerplate)
  }

  /** Live corpus ingest — the batch pipeline's operators composed
    * under structured streaming: per-row quality gate (scan-side
    * expression), boilerplate chunk scrub (stream-static broadcast
    * join + per-row rewrite — the line-level dedup stage, with the
    * repeated-chunk set learned in batch via
    * [[graft.operators.Dedup.repeatedChunks]] and refreshed on
    * redeploy), cross-batch content-fingerprint dedup (state store),
    * deterministic shard routing (pure projection; a downstream
    * `partitionBy("shard")` file sink then writes the same shard
    * layout a backfill would). Every stage is the SAME code the batch
    * path runs; only the dedup holds state. The fingerprint is taken
    * AFTER the scrub, so two documents differing only in boilerplate
    * dedup to one — matching what a batch dropRepeatedChunks →
    * exact-dedup sequence would do. */
  def corpusIngestStream(docs: DataFrame, minQuality: Double,
      nShards: Int, watermarkCol: Option[String] = None,
      boilerplate: Option[DataFrame] = None,
      chunkTokens: Int = 10,
      dupSpans: Option[DataFrame] = None,
      spanTokens: Int = 15): DataFrame = {
    import graft.functions.TextFunctions
    val gated = docs
      .filter(TextFunctions.qualityScore(org.apache.spark.sql.functions.col("text")) >= minQuality)
    val scrubbed = boilerplate.fold(gated)(bp =>
      graft.operators.Dedup.scrubChunks(gated, "text", chunkTokens, bp))
    // second scrub stage: batch-learned duplicated SPANS (stride-1,
    // any-offset — what aligned chunks miss); same stream-static
    // broadcast shape, still stateless
    val despanned = dupSpans.fold(scrubbed)(sp =>
      graft.operators.Dedup.scrubSpans(scrubbed, "text", spanTokens, sp))
    val keyed = despanned.withColumn("fp", TextFunctions.fingerprint(
      org.apache.spark.sql.functions.col("text")))
    graft.operators.Sampling.shardByHash(
      dedupStream(keyed, Seq("fp"), watermarkCol),
      org.apache.spark.sql.functions.col("doc_id"), nShards)
  }

  /** Live DSIR importance scoring — the serving face of
    * [[graft.operators.ImportanceResampling]]: score each arriving
    * document against a FROZEN ratio table (trained offline by
    * `bucketRatios`, frozen by `freezeRatios`) and optionally gate on
    * a minimum weight. Entirely STATELESS — the scorer is one native
    * generated call per row, so there is no watermark, no state store,
    * and batch == stream by construction (spec-pinned). The threshold
    * gate is how a live pipeline keeps only target-like documents; the
    * batch top-k cut needs the whole corpus and stays offline. */
  def importanceScoreStream(docs: DataFrame, numBuckets: Int,
      ratios: Array[Long], minWeight: Option[Long] = None): DataFrame = {
    val scored = docs.withColumn("weight",
      graft.operators.ImportanceResampling.scoreWith(
        org.apache.spark.sql.functions.col("text"), numBuckets, ratios))
    minWeight.fold(scored)(t =>
      scored.filter(org.apache.spark.sql.functions.col("weight") >= t))
  }

  /** Live MEDIA ingest — [[corpusIngestStream]]'s counterpart for
    * binary asset streams: one-pass decode + codec-invariant
    * featurization ([[graft.operators.Multimodal.decodeWithFeatures]]
    * — a single `mapPartitions`, so no stream-stream join), an
    * undecodable-payload gate (format "unknown" dropped — the media
    * equivalent of the quality gate), and cross-batch CONTENT dedup on
    * the payload checksum through the state store: the same image
    * arriving twice — even re-sent in a later micro-batch, even under
    * a different asset_id — ingests once. Every stage is the same
    * code the batch path runs; only the dedup holds state. Payloads
    * are dropped before the stateful stage — the state store and sink
    * rows carry metadata + embedding only, never the bytes.
    *
    * Dedup key: (checksum, n_bytes) — the payload length rides next to
    * the 64-bit FNV-1a checksum so a bare hash collision between two
    * different-sized assets cannot silently drop a distinct one
    * (equal-length collisions remain the 2⁻⁶⁴-per-pair residual; a
    * pipeline needing cryptographic certainty swaps the checksum
    * expression, not this shape).
    *
    * '''BEHAVIOR CHANGE (r8)''': earlier releases defaulted to
    * `watermarkCol = None` (exact all-history dedup, unbounded state).
    * The default is now the bounded 1-hour synthetic watermark below —
    * a duplicate re-arriving MORE than `watermark` after its original
    * is re-ingested where it was previously dropped. Call sites that
    * relied on all-history dedup must now pass `watermarkCol = None`
    * explicitly.
    *
    * Watermarked BY DEFAULT: unbounded dedup state requires an
    * explicit opt-out. The default watermarkCol is a synthetic
    * processing-time column (assigned at decode, dropped from the
    * output), so dedup state for content unseen for `watermark` (1 h)
    * is reclaimed — a duplicate re-arriving beyond that horizon
    * re-ingests, the standard bounded-state trade-off. Pass a real
    * event-time column to watermark on event time instead, or
    * `watermarkCol = None` for exact all-history dedup (state then
    * grows with distinct content — only for bounded backfills). */
  def mediaIngestStream(assets: Dataset[graft.operators.MediaAsset],
      dim: Int, watermarkCol: Option[String] = Some(MediaIngestTsCol),
      watermark: String = "1 hour"): DataFrame = {
    val decoded = graft.operators.Multimodal.decodeWithFeatures(assets, dim)
      .filter(org.apache.spark.sql.functions.col("format") =!= "unknown")
    val synthetic = watermarkCol.contains(MediaIngestTsCol) &&
      !decoded.columns.contains(MediaIngestTsCol)
    val withTs =
      if (synthetic) decoded.withColumn(MediaIngestTsCol,
        org.apache.spark.sql.functions.current_timestamp())
      else decoded
    val deduped =
      dedupStream(withTs, Seq("checksum", "n_bytes"), watermarkCol, watermark)
    if (synthetic) deduped.drop(MediaIngestTsCol) else deduped
  }

  /** The synthetic processing-time column [[mediaIngestStream]]
    * watermarks on by default (never surfaced in the output). */
  val MediaIngestTsCol: String = "__graft_ingest_ts"

  /** Streaming BM25 index maintenance: a `foreachBatch` body that
    * folds each micro-batch of documents into a
    * [[graft.operators.Bm25.writeIndex]] layout — bootstrap on the
    * first non-empty batch, [[graft.operators.Bm25.appendToIndex]]
    * thereafter, so a live document stream keeps the materialized
    * index probe-ready without ever re-tokenizing history. Usage:
    * `docs.writeStream.foreachBatch(bm25IndexSink("doc_id", "text",
    * path)).start()`. EXACTLY-ONCE: each commit records its
    * transaction — (appId, foreachBatch id), the Delta
    * txnAppId/txnVersion pattern — in the index's own versioned
    * metadata, atomic with the hint flip. A batch replayed after a
    * crash is re-run cleanly (pre-commit crash — the retry's
    * overwrites clobber the partial attempt) or skipped (post-commit
    * replay: same appId, id ≤ the committed one). Pass a STABLE
    * `txnAppId` (e.g. derived from the checkpoint location) to make
    * the guard survive JVM restarts; the default is a fresh UUID per
    * sink instance, which covers in-process retries only — a fresh
    * appId's ids legitimately restart at 0 and are never mistaken for
    * replays. Spec-pinned by killing a batch mid-append and replaying
    * it — probes stay bit-identical to the from-scratch index. */
  def bm25IndexSink(idCol: String, textCol: String, path: String,
      nBuckets: Int = 64,
      txnAppId: Option[String] = None): (DataFrame, Long) => Unit = {
    val app = txnAppId.getOrElse(java.util.UUID.randomUUID().toString)
    (batch, bid) => {
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val txn = Some(graft.operators.IndexCommitTxn(app, bid))
        if (graft.operators.Bm25.indexExists(spark, path)) {
          val replay = graft.operators.Bm25.committedTxn(spark, path)
            .exists(t => t.appId == app && bid <= t.batchId)
          if (!replay)
            graft.operators.Bm25.appendToIndex(batch, idCol, textCol, path,
              txn = txn)
        } else
          graft.operators.Bm25.writeIndex(batch, idCol, textCol, path,
            nBuckets, txn = txn)
      }
    }
  }

  /** Streaming positional-index maintenance — [[bm25IndexSink]]'s
    * counterpart for the phrase-search index: a `foreachBatch` body
    * that folds each micro-batch of documents into a
    * [[graft.operators.Search.writeIndex]] layout (bootstrap on the
    * first non-empty batch, [[graft.operators.Search.appendToIndex]]
    * thereafter) so a live document stream keeps exact-phrase lookup
    * current without re-tokenizing history. EXACTLY-ONCE via the same
    * committed-transaction guard as [[bm25IndexSink]] (see its
    * `txnAppId` contract): a replayed batch is re-run cleanly after a
    * pre-commit crash and skipped after a post-commit one
    * (spec-pinned kill-and-replay). */
  def phraseIndexSink(idCol: String, textCol: String, path: String,
      nBuckets: Int = 64,
      txnAppId: Option[String] = None): (DataFrame, Long) => Unit = {
    val app = txnAppId.getOrElse(java.util.UUID.randomUUID().toString)
    (batch, bid) => {
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val txn = Some(graft.operators.IndexCommitTxn(app, bid))
        if (graft.operators.Search.indexExists(spark, path)) {
          val replay = graft.operators.Search.committedTxn(spark, path)
            .exists(t => t.appId == app && bid <= t.batchId)
          if (!replay)
            graft.operators.Search.appendToIndex(batch, idCol, textCol, path,
              txn = txn)
        } else
          graft.operators.Search.writeIndex(batch, idCol, textCol, path,
            nBuckets, txn = txn)
      }
    }
  }

  /** Streaming vector-index maintenance — [[bm25IndexSink]]'s
    * counterpart for the IVF+PQ ANN index: a `foreachBatch` body that
    * folds each micro-batch of (vec_id, embedding) rows into a
    * [[graft.operators.IvfPq.writeIndex]] layout. The FIRST non-empty
    * batch trains the model (centroids + codebooks) and bootstraps
    * version 1; every later batch is assigned and encoded under the
    * FROZEN model ([[graft.operators.IvfPq.appendToIndex]] — see its
    * centroid-drift contract: recall at small nProbe can degrade if the
    * stream's distribution drifts from the bootstrap sample; retrain =
    * rebuild). EXACTLY-ONCE via the same committed-transaction guard
    * as [[bm25IndexSink]] (see its `txnAppId` contract): a replayed
    * batch is re-run cleanly after a pre-commit crash and skipped
    * after a post-commit one (spec-pinned kill-and-replay). */
  def ivfPqIndexSink(path: String, nCentroids: Int, centroidIters: Int,
      dim: Int, nSub: Int, codewords: Int, pqIters: Int,
      txnAppId: Option[String] = None): (DataFrame, Long) => Unit = {
    val app = txnAppId.getOrElse(java.util.UUID.randomUUID().toString)
    (batch, bid) => {
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val txn = Some(graft.operators.IndexCommitTxn(app, bid))
        if (graft.operators.IvfPq.indexExists(spark, path)) {
          val replay = graft.operators.IvfPq.committedTxn(spark, path)
            .exists(t => t.appId == app && bid <= t.batchId)
          if (!replay)
            graft.operators.IvfPq.appendToIndex(batch, path, txn = txn)
        } else
          graft.operators.IvfPq.writeIndex(batch, path, nCentroids,
            centroidIters, dim, nSub, codewords, pqIters, txn = txn)
      }
    }
  }

  /** Exactly-once streaming append into a migrated ICEBERG TABLE —
    * the engine's canonical sink: a `foreachBatch` body that lands
    * each micro-batch as one atomic Iceberg snapshot. The first batch
    * against an uncreated table path bootstraps the full table
    * (CREATE metadata + append snapshot, the
    * [[graft.api.SchemaTranslator.migrateTable]] shape); every later
    * batch becomes one parent-linked increment snapshot
    * ([[graft.sources.IcebergSnapshot.commitAppendIncrement]]), so a
    * live CDC feed materializes as a time-travelable warehouse table
    * any Iceberg reader (or [[graft.sources.IcebergSnapshot
    * .readSnapshot]]) sees atomically.
    *
    * EXACTLY-ONCE across the full crash surface:
    *   - each batch's data files land under a deterministic per-batch
    *     directory (`data/stream-<app-hash>-<id>`) in OVERWRITE mode,
    *     so a batch replayed after a pre-commit crash clobbers its own
    *     partial files instead of doubling rows (the commit's
    *     known-files diff then sees exactly one copy);
    *   - the commit records the transaction — the spec's table
    *     `properties` map carries `graft.streaming.txn.<appId> →
    *     batchId` in the SAME metadata version as the snapshot, so
    *     the guard is atomic with the hint flip and (properties carry
    *     forward across every commit) survives interleaved
    *     maintenance: compaction, deletes, evolution between batches;
    *   - a post-commit replay (same appId, id ≤ committed) is skipped
    *     entirely.
    *
    * `txnAppId` is REQUIRED and must be STABLE across restarts (derive
    * it from the query's checkpoint location): the per-batch data
    * directory embeds it, so a fresh random id per JVM would strand a
    * crashed batch's partial directory outside the replay's overwrite.
    * A genuinely new stream lineage gets a new id, whose batch 0 is
    * never mistaken for a replay. Spec-pinned kill-and-replay like the
    * four index sinks. */
  def icebergTableSink(table: graft.model.TableDef, path: String,
      txnAppId: String,
      format: String = "parquet",
      maintenance: Option[SinkMaintenance] = None): (DataFrame, Long) => Unit = {
    require(txnAppId.nonEmpty, "icebergTableSink needs a stable txnAppId")
    val txnKey = s"graft.streaming.txn.$txnAppId"
    // path-safe deterministic handle for the per-batch data dirs
    val appHash = java.util.UUID.nameUUIDFromBytes(
      txnAppId.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
    (batch, bid) => {
      if (!batch.isEmpty) {
        import graft.sources.{IcebergMetadata, IcebergSnapshot}
        val conf = batch.sparkSession.sparkContext.hadoopConfiguration
        // branch on "has a COMMITTED SNAPSHOT", not version-hint
        // existence: a crash between writeTableMetadata and the first
        // commitAppend leaves hint=1 with no snapshot — hint-based
        // replay detection would route every retry into
        // commitAppendIncrement's version>=2 refusal (permanent
        // livelock). A snapshot-less table re-runs bootstrap instead
        // (writeTableMetadata + commitAppend are overwrite-idempotent).
        val committed = IcebergSnapshot.currentSnapshotId(path, conf)
        val replay = committed.isDefined &&
          IcebergSnapshot.tableProperties(path, conf).get(txnKey)
            .exists(c => bid <= c.toLong)
        if (!replay) {
          graft.api.SchemaTranslator.writeMigrated(batch, table,
            s"$path/data/stream-$appHash-$bid", format, mode = "overwrite")
          if (committed.isDefined)
            IcebergSnapshot.commitAppendIncrement(table, path, conf,
              timestampMs = System.currentTimeMillis(),
              extraProperties = Map(txnKey -> bid.toString))
          else {
            IcebergMetadata.writeTableMetadata(table, path, conf)
            IcebergSnapshot.commitAppend(table, path, conf,
              timestampMs = System.currentTimeMillis(),
              extraProperties = Map(txnKey -> bid.toString))
          }
          maintenance.filter(m => (bid + 1) % m.everyBatches == 0).foreach(
            m => maintainIcebergTable(batch.sparkSession, table, path, m))
        }
      }
    }
  }

  /** [[icebergTableSink]]'s CDC shape — exactly-once streaming UPSERT
    * into a migrated Iceberg table: each micro-batch's rows land as
    * new data files AND kill every older row sharing their `keyCols`
    * via one global equality delete, committed as a single atomic
    * OVERWRITE snapshot ([[graft.api.SchemaTranslator.mergeUpsert]]'s
    * merge-on-read shape under structured streaming — the Flink-CDC
    * pattern). The first batch against an uncreated table path
    * bootstraps the table as a plain append (no older rows to kill).
    *
    * Caller contract: rows within one batch are already latest-wins
    * per key ([[graft.operators.Cdc.compactLatest]] upstream) — the
    * equality delete only kills rows STRICTLY OLDER than the batch's
    * data files, so in-batch duplicates would all survive.
    *
    * Same exactly-once machinery as [[icebergTableSink]] (per-batch
    * overwrite data dirs; the `graft.streaming.txn.<appId>` property
    * committed atomically with the snapshot; post-commit replays
    * skipped; properties carry forward across interleaved
    * maintenance) — see its `txnAppId` stability contract. */
  def icebergUpsertSink(table: graft.model.TableDef, path: String,
      keyCols: Seq[String], txnAppId: String,
      format: String = "parquet",
      maintenance: Option[SinkMaintenance] = None): (DataFrame, Long) => Unit = {
    require(txnAppId.nonEmpty, "icebergUpsertSink needs a stable txnAppId")
    require(keyCols.nonEmpty, "icebergUpsertSink needs equality key columns")
    val txnKey = s"graft.streaming.txn.$txnAppId"
    val appHash = java.util.UUID.nameUUIDFromBytes(
      txnAppId.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
    (batch, bid) => {
      if (!batch.isEmpty) {
        import graft.sources.{IcebergDeletes, IcebergMetadata, IcebergSnapshot}
        val conf = batch.sparkSession.sparkContext.hadoopConfiguration
        // committed-snapshot branch, not hint existence — see
        // icebergTableSink's bootstrap-crash note
        val committed = IcebergSnapshot.currentSnapshotId(path, conf)
        val replay = committed.isDefined &&
          IcebergSnapshot.tableProperties(path, conf).get(txnKey)
            .exists(c => bid <= c.toLong)
        if (!replay) {
          graft.api.SchemaTranslator.writeMigrated(batch, table,
            s"$path/data/stream-$appHash-$bid", format, mode = "overwrite")
          if (committed.isDefined) {
            val schema = graft.api.SchemaTranslator.toSparkSchema(table)
            val keys = batch.select(keyCols.map(k =>
              org.apache.spark.sql.functions.col(k)
                .cast(schema(k).dataType).as(k)): _*)
            IcebergDeletes.commitUpsert(batch.sparkSession, table, path,
              keys, timestampMs = System.currentTimeMillis(),
              extraProperties = Map(txnKey -> bid.toString))
          } else {
            IcebergMetadata.writeTableMetadata(table, path, conf)
            IcebergSnapshot.commitAppend(table, path, conf,
              timestampMs = System.currentTimeMillis(),
              extraProperties = Map(txnKey -> bid.toString))
          }
          maintenance.filter(m => (bid + 1) % m.everyBatches == 0).foreach(
            m => maintainIcebergTable(batch.sparkSession, table, path, m))
        }
      }
    }
  }

  /** Streaming SQL-MERGE upsert — [[icebergUpsertSink]]'s SQL-face
    * twin: a `foreachBatch` body that registers each micro-batch as a
    * temp view and runs a caller-shaped `MERGE INTO` against a CATALOG
    * table, for reconciliations that need MERGE's full action surface
    * (conditioned updates, partial column lists, matched DELETE,
    * NOT MATCHED BY SOURCE):
    * {{{
    *   updates.writeStream.foreachBatch(StreamingOps.icebergMergeSink(
    *     "graft.db.dim", "batch_src",
    *     """MERGE INTO graft.db.dim t USING batch_src s ON t.k = s.k
    *       |WHEN MATCHED AND s.op = 'D' THEN DELETE
    *       |WHEN MATCHED THEN UPDATE SET *
    *       |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    *     .option("checkpointLocation", ckpt).start()
    * }}}
    * Each batch commits ONE merge-on-read delta snapshot through the
    * row-level rewrite ([[graft.sources.v2.GraftRowLevelRewrite]]),
    * concurrency-safe against other writers (head-pinned read +
    * conflict-retried commit).
    *
    * EXACTLY-ONCE CONTRACT — convergence by idempotence, not a txn
    * marker: the delta commit carries no per-batch transaction
    * property, so a batch replayed after a crash RE-RUNS its MERGE
    * against the already-merged table. That converges iff the merge is
    * IDEMPOTENT: assignments must be functions of the SOURCE row
    * (`SET v = s.v`, `INSERT (k, v) VALUES (s.k, s.v)`), never
    * self-referential arithmetic (`SET v = t.v + s.v` double-applies
    * on replay — use [[icebergUpsertSink]]/[[icebergCdcSink]] for the
    * guarded latest-wins shapes). The replayed no-op still commits a
    * snapshot (same rows, new version) — harmless to readers, visible
    * in history. */
  def icebergMergeSink(targetTable: String, sourceView: String,
      mergeSql: String): (DataFrame, Long) => Unit = {
    require(mergeSql.toUpperCase.contains("MERGE INTO"),
      "icebergMergeSink needs a MERGE INTO statement")
    require(mergeSql.contains(sourceView),
      s"the MERGE statement must read the batch view $sourceView")
    (batch, _) => {
      if (!batch.isEmpty) {
        batch.createOrReplaceTempView(sourceView)
        batch.sparkSession.sql(mergeSql)
        ()
      }
    }
  }

  /** The FULL CDC shape — [[icebergUpsertSink]] plus row deletion: each
    * micro-batch carries an `opCol` marker per row (`"D"` = delete the
    * key, anything else = upsert the row), and the batch lands as ONE
    * atomic OVERWRITE snapshot: new data files for the upsert rows, one
    * global equality delete over ALL the batch's keys (upsert keys kill
    * their older versions, delete keys kill without replacement —
    * exactly [[graft.sources.IcebergDeletes.commitUpsert]]'s
    * semantics). The op column never reaches the table (the migration
    * writer projects the declared schema). Caller contract: one row
    * per key per batch, latest-wins compacted upstream
    * ([[graft.operators.Cdc.compactLatest]] emits exactly this shape).
    * Bootstrap: the first batch against an uncreated path creates the
    * table from its non-delete rows; an all-delete first batch is a
    * no-op (nothing exists to delete — replays converge trivially).
    * Exactly-once machinery identical to [[icebergTableSink]]. */
  def icebergCdcSink(table: graft.model.TableDef, path: String,
      keyCols: Seq[String], opCol: String, txnAppId: String,
      format: String = "parquet",
      maintenance: Option[SinkMaintenance] = None): (DataFrame, Long) => Unit = {
    require(txnAppId.nonEmpty, "icebergCdcSink needs a stable txnAppId")
    require(keyCols.nonEmpty, "icebergCdcSink needs equality key columns")
    val txnKey = s"graft.streaming.txn.$txnAppId"
    val appHash = java.util.UUID.nameUUIDFromBytes(
      txnAppId.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
    (batch, bid) => {
      if (!batch.isEmpty) {
        import graft.sources.{IcebergDeletes, IcebergMetadata, IcebergSnapshot}
        import org.apache.spark.sql.functions.col
        val conf = batch.sparkSession.sparkContext.hadoopConfiguration
        // committed-snapshot branch, not hint existence — see
        // icebergTableSink's bootstrap-crash note
        val committed = IcebergSnapshot.currentSnapshotId(path, conf)
        val replay = committed.isDefined &&
          IcebergSnapshot.tableProperties(path, conf).get(txnKey)
            .exists(c => bid <= c.toLong)
        if (!replay) {
          // a NULL op marker must fail LOUDLY: `=!= "D"` evaluates to
          // null for it, so the row would silently vanish from the
          // upserts while its key still rides the global equality
          // delete — malformed CDC input deleting data with no error
          require(batch.filter(col(opCol).isNull).isEmpty,
            s"icebergCdcSink: batch $bid carries rows with a NULL " +
              s"$opCol marker — every row needs an explicit op " +
              "(\"D\" = delete, anything else = upsert)")
          val upserts = batch.filter(col(opCol) =!= "D")
          val schema = graft.api.SchemaTranslator.toSparkSchema(table)
          if (committed.isEmpty) {
            if (!upserts.isEmpty) {
              graft.api.SchemaTranslator.writeMigrated(upserts, table,
                s"$path/data/stream-$appHash-$bid", format,
                mode = "overwrite")
              IcebergMetadata.writeTableMetadata(table, path, conf)
              IcebergSnapshot.commitAppend(table, path, conf,
                timestampMs = System.currentTimeMillis(),
                extraProperties = Map(txnKey -> bid.toString))
              ()
            } // all-delete bootstrap batch: nothing to do
          } else {
            if (!upserts.isEmpty)
              graft.api.SchemaTranslator.writeMigrated(upserts, table,
                s"$path/data/stream-$appHash-$bid", format,
                mode = "overwrite")
            val keys = batch.select(keyCols.map(k =>
              col(k).cast(schema(k).dataType).as(k)): _*)
            IcebergDeletes.commitUpsert(batch.sparkSession, table, path,
              keys, timestampMs = System.currentTimeMillis(),
              extraProperties = Map(txnKey -> bid.toString))
            ()
          }
          // an all-delete bootstrap batch commits nothing — only a
          // table with a snapshot can be maintained
          maintenance.filter(m => (bid + 1) % m.everyBatches == 0 &&
              IcebergSnapshot.currentSnapshotId(path, conf).isDefined)
            .foreach(m =>
              maintainIcebergTable(batch.sparkSession, table, path, m))
        }
      }
    }
  }

  /** Streaming CROSS-RUN dedup through the persisted fingerprint
    * ledger ([[graft.operators.FingerprintLedger]]): a `foreachBatch`
    * body that writes each micro-batch's never-seen-before rows
    * (ledger anti-join on `fpCol`) to `outPath` and folds their
    * fingerprints into the ledger — so a restarted or re-pointed
    * stream never re-emits content any PREVIOUS run ingested, which
    * the state-store dedup (bounded by its watermark, private to one
    * query) cannot promise. Caller contract: rows within one batch
    * are already fp-distinct (run in-batch dedup upstream).
    *
    * EXACTLY-ONCE, output included: survivors land under
    * `outPath/txn_app=<appId>/batch_id=<id>` (standard partition
    * discovery — reads of `outPath` carry `txn_app` and `batch_id`
    * columns) in OVERWRITE mode, so a replayed batch clobbers its own
    * partial output instead of doubling it; the ledger append then
    * commits the (appId, batch id) transaction atomically with the
    * hint flip, and a post-commit replay (same appId, id ≤ the
    * ledger's committed id) skips both writes. A crash between the
    * output write and the ledger commit replays into the same
    * survivor set (the ledger state is unchanged) and overwrites the
    * same partition — spec-pinned kill-and-replay.
    *
    * `txnAppId` is REQUIRED here (unlike the index sinks, whose
    * default fresh-UUID covers in-process retries): the output
    * partition layout embeds the appId, so a JVM restart under a
    * fresh random appId would replay a crashed batch into a NEW
    * `txn_app=` partition while the old partial partition survives —
    * duplicated output the overwrite can no longer clobber. Derive it
    * from the query's checkpoint location (one stable id per logical
    * stream; a genuinely new stream lineage gets a new id so its
    * batch 0 is never mistaken for a replay).
    *
    * Layout guard: `outPath` must not already hold FLAT parquet (the
    * pre-partitioned layout) — mixing bare part-files with
    * `txn_app=…/batch_id=…` subdirs breaks partition discovery on
    * read, so the first batch refuses loudly instead. */
  /** Pre-r10 parameter order (trailing `txnAppId: Option[String]`),
    * kept so out-of-tree callers keep binding correctly; `txnAppId` is
    * now REQUIRED (see the primary overload's partition-layout
    * rationale), so `None` refuses loudly instead of silently minting
    * a fresh appId per JVM. */
  @deprecated("use ledgerDedupSink(fpCol, path, outPath, txnAppId, nBuckets)" +
    " — txnAppId is required and now precedes nBuckets", "r11")
  def ledgerDedupSink(fpCol: String, path: String, outPath: String,
      nBuckets: Int, txnAppId: Option[String]): (DataFrame, Long) => Unit =
    ledgerDedupSink(fpCol, path, outPath,
      txnAppId.getOrElse(throw new IllegalArgumentException(
        "ledgerDedupSink needs a stable txnAppId — a fresh random appId " +
          "per JVM strands crashed batches' partial output partitions")),
      nBuckets)

  def ledgerDedupSink(fpCol: String, path: String, outPath: String,
      txnAppId: String, nBuckets: Int = 64): (DataFrame, Long) => Unit = {
    val app = txnAppId
    require(app.nonEmpty, "ledgerDedupSink needs a non-empty txnAppId")
    (batch, bid) => {
      if (!batch.isEmpty) {
        val hconf = batch.sparkSession.sparkContext.hadoopConfiguration
        val out = new org.apache.hadoop.fs.Path(outPath)
        val ofs = out.getFileSystem(hconf)
        if (ofs.exists(out)) {
          val flat = ofs.listStatus(out).exists(st =>
            st.isFile && st.getPath.getName.endsWith(".parquet"))
          require(!flat, s"$outPath holds flat parquet from a " +
            "pre-partitioned ledgerDedupSink layout; partition " +
            "discovery cannot mix bare files with txn_app=/batch_id= " +
            "dirs — migrate the old files into a partition dir or " +
            "use a fresh outPath")
        }
        import graft.operators.FingerprintLedger
        val spark = batch.sparkSession
        val txn = Some(graft.operators.IndexCommitTxn(app, bid))
        val exists = FingerprintLedger.ledgerExists(spark, path)
        val replay = exists && FingerprintLedger.committedTxn(spark, path)
          .exists(t => t.appId == app && bid <= t.batchId)
        if (!replay) {
          val survivors =
            (if (exists) FingerprintLedger.dedupAgainst(batch, fpCol, path)
             else batch)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            survivors.write.mode("overwrite")
              .parquet(s"$outPath/txn_app=$app/batch_id=$bid")
            val fps = survivors.select(
              org.apache.spark.sql.functions.col(fpCol).as("fp"))
            if (exists)
              FingerprintLedger.appendToLedger(fps, path, txn = txn)
            else
              FingerprintLedger.writeLedger(fps, path, nBuckets, txn = txn)
          } finally { survivors.unpersist(false); () }
        }
      }
    }
  }

  /** Convenience: run a streaming DataFrame to completion against a
    * memory sink and return the collected result table. Test/demo
    * helper — production sinks are parquet/kafka/iceberg via
    * writeStream. */
  def runToMemory(df: DataFrame, queryName: String,
      outputMode: OutputMode = OutputMode.Append()): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .start()
    try q.processAllAvailable() finally q.stop()
    df.sparkSession.table(queryName)
  }
}
