package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** BM25 ranked retrieval over the document corpus — the lexical
  * counterpart of the embedding ANN paths (retrieval-augmented data
  * curation mines training examples with exactly this scorer). The
  * reference converter has no retrieval surface; this is one of the
  * training-data-pipeline families the brief adds as first-class (see
  * /root/reference/db2ice/converter.py:1 scope).
  *
  * Spark-first shape, and the one that survives 100 TB:
  *   - the term-frequency table is the postings aggregate (one
  *     `groupBy(doc, term)` shuffle over the exploded token stream);
  *     doc lengths ride the same scan; `avgdl`/`N` are one-row aggs
  *     that broadcast;
  *   - the query set joins the tf table ON TERM with the query side
  *     broadcast — the corpus-sized postings never shuffle for the
  *     probe; per-(query, doc) contributions re-aggregate on the
  *     bounded (q_id, doc) key and rank through the bounded [[TopK]]
  *     aggregator (O(queries·k) exchange, no per-query sort);
  *   - at indexed scale the tf table is the thing you persist/bucket
  *     by term — [[writeIndex]] materializes exactly that layout
  *     (term-hash bucket directories + doc lengths + one-row stats)
  *     and [[searchIndex]] probes it corpus-free with partition
  *     pruning to the probe terms' buckets.
  *
  * Float discipline: per-row BM25 arithmetic is exact IEEE mirrored
  * op-for-op in the oracle; the cross-TERM sum per (query, doc) routes
  * through DECIMAL(28,12) so partial-aggregation order cannot perturb
  * the double (the q49/q53 idiom). `idf` defaults to the Robertson
  * log form for production use; `linearIdf = true` swaps the exact
  * rational (N − df + ½)/(df + ½) so the whole scorer is
  * DuckDB-checkable (ln differs in the final ulp across engines) —
  * same monotone per-term direction, rank-compatible on the fixture.
  */
object Bm25 {

  /** (doc_id, term, tf) postings aggregate + (doc_id, dl) lengths off
    * one tokenization; words() tokens, stopwords kept (BM25's idf
    * already damps them). */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        explode(filter(TextFunctions.words(col(textCol)),
          t => length(t) > 0)).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** The shared probe core: identical expression trees for the
    * in-memory [[search]] and the materialized [[searchIndex]] paths,
    * so both produce bit-identical scores. `tf(idCol, term, tf)`,
    * `df(term, df)` pre-restricted to the probe's terms, `dl(idCol,
    * dl)`, `stats` a single (n_docs, avgdl) row. */
  private def scoreProbe(tf: DataFrame, df: DataFrame, dl: DataFrame,
      stats: DataFrame, queries: DataFrame, idCol: String, k: Int,
      k1: Double, b: Double, linearIdf: Boolean,
      restrictTo: Option[DataFrame] = None): DataFrame = {
    val idf: Column =
      if (linearIdf) (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
      else log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    // candidate restriction (e.g. the phrase-match doc set) applies
    // BEFORE ranking: the TopK aggregator then only ever sees
    // restricted candidates. A restriction carrying a `q_id` column
    // restricts PER QUERY (the multi-phrase batch: each phrase ranks
    // only its own matching docs); either way the doc union
    // pre-filters the tf side too. Plain left-semi, not a forced
    // broadcast — the restriction set is query-dependent and AQE
    // picks the join side at runtime.
    val perQuery = restrictTo.exists(_.columns.contains("q_id"))
    val tfr = restrictTo.fold(tf)(ds =>
      tf.join(ds.select(col(idCol)).distinct(), Seq(idCol), "left_semi"))
    val contrib0 = tfr
      .join(broadcast(queries), Seq("term")) // query side is tiny
      .join(broadcast(df), Seq("term"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(stats))
      .select(col("q_id"), col(idCol),
        (idf * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("c"))
    val contrib =
      if (!perQuery) contrib0
      else contrib0.join(
        restrictTo.get.select(col("q_id"), col(idCol)).distinct(),
        Seq("q_id", idCol), "left_semi")
    val scored = contrib.groupBy(col("q_id"), col(idCol))
      .agg(round(sum(col("c").cast("decimal(28,12)")).cast("double"), 6)
        .as("score"))
    TopK.perKey(scored, "q_id", idCol, "score", k)
  }

  /** Score `queries(q_id, term)` against the corpus: one row per
    * (q_id, rk, doc, score), rk 1..k by score desc, doc id asc. */
  def search(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, k: Int, k1: Double = 1.2, b: Double = 0.75,
      linearIdf: Boolean = false): DataFrame = {
    // two consumers of the postings aggregate (the contribution join
    // and the document-frequency aggregate); both recompute the
    // scan-side projection rather than persisting it
    val tf = termFrequencies(docs, idCol, textCol)
    val dl = docs.select(col(idCol),
      size(filter(TextFunctions.words(col(textCol)),
        t => length(t) > 0)).cast("double").as("dl"))
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(size(filter(TextFunctions.words(col(textCol)),
        t => length(t) > 0))).cast("double") /
        count(lit(1)).cast("double")).as("avgdl"))
    // df restricted to the probe's terms BEFORE broadcasting — the full
    // vocabulary table is corpus-sized and must never broadcast
    val df = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
      .join(broadcast(queries.select("term").distinct()), Seq("term"))
    scoreProbe(tf, df, dl, stats, queries, idCol, k, k1, b, linearIdf)
  }

  /** Bucket id of a term under the index layout: the term-key hash
    * folded into `nBuckets` directory partitions. */
  private def bucketOf(term: Column, nBuckets: Int): Column =
    pmod(xxhash64(term), lit(nBuckets.toLong)).cast("int")

  // -------------------------------------------------- versioned layout
  //
  // Crash-safe index layout (the Iceberg version-hint pattern next
  // door in sources/IcebergSnapshot, scaled down): every commit —
  // initial build or append — is a VERSION n, and a tiny
  // `version-hint.text` pointer names the current one, flipped LAST.
  //
  //   path/
  //     postings/delta_v1..delta_vn/bucket=K/*.parquet  (per-commit deltas)
  //     doclen/delta_v1..delta_vn/*.parquet
  //     df_vn/bucket=K/*.parquet     (full table per version — small)
  //     stats_vn/*.parquet           (one row per version)
  //     version-hint.text            ("n", written last)
  //
  // A reader at version n sees postings/doclen deltas 1..n plus
  // df_vn/stats_vn. An append writes delta_v(n+1) (overwrite mode, so
  // a retry clobbers any partial from a crashed attempt), df_v(n+1),
  // stats_v(n+1), THEN flips the hint — a crash anywhere before the
  // flip leaves every version-n file untouched and the index probing
  // the prior state; superseded df/stats versions are deleted only
  // after the flip. If the hint itself is missing/corrupt the resolver
  // falls back to the highest complete version on disk (hint-is-a-hint
  // semantics, same as Iceberg).

  // the pointer/resolver machinery is shared with [[Search]]'s
  // positional index — see [[VersionedIndex]]
  private def fsOf(spark: org.apache.spark.sql.SparkSession, path: String) =
    VersionedIndex.fsOf(spark, path)

  /** Current committed version of the layout under `path`; 0 = not an
    * index. Hint first; fallback scans for the highest version whose
    * df AND stats tables both exist (a complete commit). */
  def currentVersion(spark: org.apache.spark.sql.SparkSession,
      path: String): Int = VersionedIndex.currentVersion(spark, path)

  /** True when a complete committed index exists under `path`. */
  def indexExists(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = currentVersion(spark, path) >= 1

  private def writeHint(spark: org.apache.spark.sql.SparkSession,
      path: String, n: Int): Unit = VersionedIndex.writeHint(spark, path, n)

  /** The version-`n` postings: union of the resolved base + delta
    * scans ([[VersionedIndex.familyDirs]] — [[compactIndex]] collapses
    * the chain into one base). Bucket filters above the union push
    * into every scan, so pruning survives the split. */
  def postingsTable(spark: org.apache.spark.sql.SparkSession, path: String,
      n: Int): DataFrame =
    VersionedIndex.familyDirs(spark, path, "postings", n)
      .map(spark.read.parquet(_)).reduce(_ unionByName _)

  /** The version-`n` doc lengths (one multi-path scan — no partition
    * column to preserve). */
  def doclenTable(spark: org.apache.spark.sql.SparkSession, path: String,
      n: Int): DataFrame =
    spark.read.parquet(
      VersionedIndex.familyDirs(spark, path, "doclen", n): _*)

  /** The version-`n` document-frequency table. */
  def dfTable(spark: org.apache.spark.sql.SparkSession, path: String,
      n: Int): DataFrame =
    spark.read.parquet(s"$path/df_v$n")

  /** The version-`n` tombstoned doc ids (one id column named like the
    * doclen id column), or None when the index has never seen a delete
    * — probes skip the anti-joins entirely then, keeping never-deleted
    * indexes plan-identical to the pre-delete layout. */
  def tombstonesTable(spark: org.apache.spark.sql.SparkSession,
      path: String, n: Int): Option[DataFrame] = {
    val dirs = VersionedIndex.familyDirs(spark, path, "tombstones", n)
    if (dirs.isEmpty) None
    else Some(dirs.map(spark.read.parquet(_)).reduce(_ unionByName _))
  }

  /** [[dfTable]] at the CURRENT version — the probe-mining entry. */
  def dfTable(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    dfTable(spark, path, currentVersion(spark, path))

  /** The version-`n` one-row stats table. */
  def statsTable(spark: org.apache.spark.sql.SparkSession, path: String,
      n: Int): DataFrame =
    spark.read.parquet(s"$path/stats_v$n")

  /** Materialize the inverted index: ONE tokenization pass over the
    * corpus fans into the four tables of version 1 —
    *
    *   - `postings/delta_v1` (idCol, term, tf) partitioned by `bucket`
    *     = xxhash64(term) mod nBuckets — a probe reads only its terms'
    *     bucket directories (partition pruning), never the corpus;
    *   - `df_v1` (term, df) on the same bucket layout, so the
    *     probe-restricted document frequencies prune identically;
    *   - `doclen/delta_v1` (idCol, dl) — one row per doc;
    *   - `stats_v1` — a single (n_docs, avgdl, n_buckets) row; carrying
    *     n_buckets in-band makes the index self-describing —
    *
    * then commits by writing the version hint. At 100 TB this is the
    * persist-once/probe-many layout the Bm25 scaladoc promises: index
    * build is the same one postings shuffle as a direct search, and
    * every later probe is corpus-free. */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 64,
      txn: Option[IndexCommitTxn] = None): Unit = {
    val spark = docs.sparkSession
    VersionedIndex.clearCrashedAttempt(spark, path, 1,
      Seq("postings", "doclen", "tombstones"))
    // ONE tokenization pass: tf is the only corpus-derived table; doc
    // lengths fall out of it (dl = Σ tf per doc — every token counted
    // once) and stats fall out of doclen. Without the reuse, the four
    // write actions each re-tokenized the corpus (4× the dominant
    // cost; BASELINE.md r7).
    val tf = docs
      .select(col(idCol),
        explode(filter(TextFunctions.words(col(textCol)),
          t => length(t) > 0)).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("bucket", bucketOf(col("term"), nBuckets))
      .persist()
    try {
      // The three corpus-derived tables are INDEPENDENT consumers of
      // the cached tf — run their writes concurrently so each job's
      // scheduling gaps and straggler tails backfill with the others'
      // tasks (guide §2.6; block-level cache locking means tf still
      // computes exactly once). The hint still flips LAST, after every
      // write returns, so the commit protocol is unchanged.
      VersionedIndex.runConcurrently(
        // cluster each bucket into one task → one file per bucket dir
        () => tf.repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$path/postings/delta_v1"),
        () => tf.groupBy(col("term"), col("bucket"))
          .agg(count(lit(1)).cast("double").as("df"))
          .repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$path/df_v1"),
        // token-free docs still carry dl=0 rows (and count toward
        // n_docs/avgdl — the oracle's semantics): left-join the id column
        () => docs.select(col(idCol))
          .join(tf.groupBy(col(idCol)).agg(sum(col("tf")).cast("double").as("dl")),
            Seq(idCol), "left")
          .select(col(idCol), coalesce(col("dl"), lit(0.0)).as("dl"))
          .write.mode("overwrite").parquet(s"$path/doclen/delta_v1"))
      spark.read.parquet(s"$path/doclen/delta_v1")
        .agg(count(lit(1)).cast("double").as("n_docs"),
          (sum(col("dl")) / count(lit(1)).cast("double")).as("avgdl"))
        .withColumn("n_buckets", lit(nBuckets))
        .write.mode("overwrite").parquet(s"$path/stats_v1")
      VersionedIndex.writeTxn(spark, path, 1, txn)
      writeHint(spark, path, 1) // commit
    } finally tf.unpersist(false)
  }

  /** The sink transaction the current version committed with (None if
    * none) — the foreachBatch sinks' replay guard
    * ([[VersionedIndex.committedTxn]]). */
  def committedTxn(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[IndexCommitTxn] =
    VersionedIndex.committedTxn(spark, path, currentVersion(spark, path))

  /** Incremental index maintenance: fold a batch of NEW documents into
    * an existing [[writeIndex]] layout without rebuilding — the
    * delta-load shape that makes the materialized index viable at
    * 100 TB (a nightly corpus append must not re-tokenize the other
    * petabyte). Postings and doc lengths land as version-(n+1) delta
    * directories; document frequencies are a GLOBAL aggregate, so the
    * delta merges with df_vn (a term-level sum over two SMALL
    * aggregates — never the corpus) into df_v(n+1); stats recompute
    * over all doclen deltas. The version hint flips LAST: a crash
    * anywhere before it leaves the index probing version n exactly
    * (spec-pinned via the abort hook). Caller contract: `docs` are new
    * ids (same as any append sink). Probes over the result are
    * bit-identical to a from-scratch index over the union —
    * spec-pinned. */
  def appendToIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, txn: Option[IndexCommitTxn] = None): Unit =
    appendToIndexInternal(docs, idCol, textCol, path,
      abortBeforeCommit = false, txn = txn)

  /** [[appendToIndex]] with a test-only crash injection point:
    * `abortBeforeCommit` returns after every data write but before the
    * hint flip — the on-disk state a real crash in that window leaves. */
  private[graft] def appendToIndexInternal(docs: DataFrame, idCol: String,
      textCol: String, path: String, abortBeforeCommit: Boolean,
      txn: Option[IndexCommitTxn] = None): Unit = {
    val spark = docs.sparkSession
    val n = currentVersion(spark, path)
    require(n >= 1, s"no committed index under $path")
    // enforce the GLOBAL-tombstone contract up front: re-appending a
    // deleted id would index rows the probe-time anti-join silently
    // kills (quiet data loss) — refuse loudly instead. Compaction
    // folds tombstones in permanently, after which the id is free.
    tombstonesTable(spark, path, n).foreach { t =>
      val bad = docs.select(col(idCol))
        .join(t, Seq(idCol), "left_semi").limit(3).collect()
      require(bad.isEmpty, s"appendToIndex: id(s) ${bad.mkString(", ")} " +
        "are tombstoned by deleteFromIndex — a deleted id must not be " +
        "re-appended (its rows would be indexed but never retrievable); " +
        "compactIndex folds tombstones in if the id must be reused")
    }
    VersionedIndex.clearCrashedAttempt(spark, path, n + 1,
      Seq("postings", "doclen", "tombstones"))
    val nBuckets = statsTable(spark, path, n)
      .select(col("n_buckets")).head().getInt(0)
    val tf = docs
      .select(col(idCol),
        explode(filter(TextFunctions.words(col(textCol)),
          t => length(t) > 0)).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("bucket", bucketOf(col("term"), nBuckets))
      .persist()
    try {
      // postings delta, merged df and doclen delta are independent
      // consumers of the cached tf — overlap the write jobs (the
      // writeIndex rationale); stats stays AFTER (it reads the doclen
      // delta just written), the hint still flips LAST.
      VersionedIndex.runConcurrently(
        // overwrite, not append: a retry after a crashed attempt
        // clobbers the partial delta instead of doubling rows
        () => tf.repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$path/postings/delta_v${n + 1}"),
        () => dfTable(spark, path, n)
          .select(col("term"), col("df"), col("bucket"))
          .unionByName(tf.groupBy(col("term"), col("bucket"))
            .agg(count(lit(1)).cast("double").as("df")))
          .groupBy(col("term"), col("bucket")).agg(sum(col("df")).as("df"))
          .repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$path/df_v${n + 1}"),
        () => docs.select(col(idCol))
          .join(tf.groupBy(col(idCol)).agg(sum(col("tf")).cast("double").as("dl")),
            Seq(idCol), "left")
          .select(col(idCol), coalesce(col("dl"), lit(0.0)).as("dl"))
          .write.mode("overwrite").parquet(s"$path/doclen/delta_v${n + 1}"))
      // survivors only: doclen deltas keep tombstoned rows until
      // compaction, so stats must anti-join the tombstone chain or an
      // append after a delete would resurrect deleted docs into
      // n_docs/avgdl
      val dlAll = doclenTable(spark, path, n + 1)
      tombstonesTable(spark, path, n)
        .fold(dlAll)(t => dlAll.join(t, Seq(idCol), "left_anti"))
        .agg(count(lit(1)).cast("double").as("n_docs"),
          (sum(col("dl")) / count(lit(1)).cast("double")).as("avgdl"))
        .withColumn("n_buckets", lit(nBuckets))
        .write.mode("overwrite").parquet(s"$path/stats_v${n + 1}")
      // sink commits record their batch id; manual appends CARRY the
      // prior one forward so the replay guard survives interleaving
      VersionedIndex.writeTxn(spark, path, n + 1,
        txn.orElse(VersionedIndex.committedTxn(spark, path, n)))
      if (abortBeforeCommit) return
      writeHint(spark, path, n + 1) // commit
      // post-commit cleanup of the superseded version (best-effort; a
      // crash here leaves an extra readable dir, nothing dangling)
      val (fs, _) = fsOf(spark, path)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/df_v$n"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/stats_v$n"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/batchid_v$n"), true)
    } finally tf.unpersist(false)
  }

  /** Remove documents from the index WITHOUT rewriting postings — the
    * merge-on-read delete of the text-index family (the takedown/GDPR
    * path; [[IvfPq.deleteFromIndex]]'s tombstone pattern). `ids` (one
    * id column) land as a `tombstones/delta_v(n+1)` table; probes
    * anti-join postings against it and subtract the tombstoned docs'
    * term counts from the PRUNED df scan (so document frequencies stay
    * exact without touching any unprobed bucket); [[compactIndex]]
    * folds the tombstones in permanently. Stats (n_docs, avgdl)
    * re-derive from the surviving doclen rows AT DELETE TIME — doclen
    * is one row per doc, so the delete never scans postings. Commit
    * follows the shared hint-flips-LAST protocol; re-deleting already
    * tombstoned or unknown ids is a no-op (idempotent). Contract: a
    * tombstone is GLOBAL — a deleted id must not be re-appended later
    * (ENFORCED: [[appendToIndex]] refuses such ids loudly; compaction
    * folds tombstones in, after which the id is free). */
  def deleteFromIndex(ids: DataFrame, path: String): Unit =
    deleteFromIndexInternal(ids, path, abortBeforeCommit = false)

  /** [[deleteFromIndex]] with the test-only crash-injection point:
    * returns after every data write but before the hint flip. */
  private[graft] def deleteFromIndexInternal(ids: DataFrame, path: String,
      abortBeforeCommit: Boolean): Unit = {
    val spark = ids.sparkSession
    val n = currentVersion(spark, path)
    require(n >= 1, s"no committed index under $path")
    VersionedIndex.clearCrashedAttempt(spark, path, n + 1,
      Seq("postings", "doclen", "tombstones"))
    val stats = statsTable(spark, path, n)
    val nBuckets = stats.select(col("n_buckets")).head().getInt(0)
    // the doclen schema names the id column the index was built with
    val dl = doclenTable(spark, path, n)
    val idCol = dl.schema.fields.head.name
    val fresh = ids.toDF(idCol).select(col(idCol)).distinct()
      .join(dl, Seq(idCol), "left_semi")
    val deduped = tombstonesTable(spark, path, n)
      .fold(fresh)(t => fresh.join(t, Seq(idCol), "left_anti"))
    // overwrite, not append: a retry clobbers a crashed attempt's delta
    deduped.write.mode("overwrite")
      .parquet(s"$path/tombstones/delta_v${n + 1}")
    // stats over SURVIVORS: dl values are integral doubles, so the sum
    // is exact in any order and avgdl stays bit-identical to a
    // from-scratch index over the surviving corpus
    val tombAll = tombstonesTable(spark, path, n + 1).get
    dl.join(tombAll, Seq(idCol), "left_anti")
      .agg(count(lit(1)).cast("double").as("n_docs"),
        (sum(col("dl")) / count(lit(1)).cast("double")).as("avgdl"))
      .withColumn("n_buckets", lit(nBuckets))
      .write.mode("overwrite").parquet(s"$path/stats_v${n + 1}")
    // df carries forward unchanged — probe-time subtraction keeps it
    // exact on the pruned buckets; compaction rebuilds it globally
    dfTable(spark, path, n)
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/df_v${n + 1}")
    // carry the committed batch id forward (sinks' replay guard)
    VersionedIndex.writeTxn(spark, path, n + 1,
      VersionedIndex.committedTxn(spark, path, n))
    if (abortBeforeCommit) return
    writeHint(spark, path, n + 1) // commit
    val (fs, _) = fsOf(spark, path)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/df_v$n"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/stats_v$n"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/batchid_v$n"), true)
  }

  /** Consolidate the index: rewrite postings and doc lengths as ONE
    * base per family with every tombstoned document dropped and the
    * delta chain collapsed — the maintenance op that keeps probe plans
    * reading a handful of files after months of streamed appends (the
    * vector family's [[IvfPq.compactIndex]] sibling). With tombstones
    * present the df table is REBUILT from the compacted postings (the
    * permanent fold of the probe-time subtraction); untouched indexes
    * carry df forward as before. Stats carry over (already
    * survivor-adjusted at delete time). Commit protocol unchanged:
    * bases land first, the hint flips LAST, superseded dirs are
    * deleted best-effort AFTER (resolution starts at the highest
    * committed base, so a crash anywhere leaves either the old or the
    * new state resolving exactly — never a double-read). */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    compactIndexInternal(spark, path, abortBeforeCommit = false)

  private[graft] def compactIndexInternal(
      spark: org.apache.spark.sql.SparkSession, path: String,
      abortBeforeCommit: Boolean): Unit = {
    val n = currentVersion(spark, path)
    require(n >= 1, s"no committed index under $path")
    VersionedIndex.clearCrashedAttempt(spark, path, n + 1,
      Seq("postings", "doclen", "tombstones"))
    val tomb = tombstonesTable(spark, path, n)
    val dl = doclenTable(spark, path, n)
    val idCol = dl.schema.fields.head.name
    val post = tomb.fold(postingsTable(spark, path, n))(t =>
      postingsTable(spark, path, n).join(t, Seq(idCol), "left_anti"))
    val writeDf = () => tomb.fold(dfTable(spark, path, n)) { _ =>
      // rebuild from the COMPACTED postings: count == surviving docs
      // per term, same expression as writeIndex — dropped terms vanish
      spark.read.parquet(s"$path/postings/base_v${n + 1}")
        .groupBy(col("term"), col("bucket"))
        .agg(count(lit(1)).cast("double").as("df"))
    }.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/df_v${n + 1}")
    // The output tables are independent writes except df-with-
    // tombstones (which reads the compacted postings, so it stays
    // sequenced after the postings write inside one thunk) — overlap
    // them like writeIndex/appendToIndex (guide §2.6); the crash
    // contract is unaffected (any partial subset of version-(n+1) dirs
    // is an uncommitted attempt the next writer sweeps) and the hint
    // still flips LAST, after every action returns.
    val actions = Seq.newBuilder[() => Unit]
    actions += (() => {
      post.repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$path/postings/base_v${n + 1}")
      if (tomb.isDefined) writeDf()
    })
    if (tomb.isEmpty) actions += writeDf // plain copy of version n's df
    actions += (() => tomb.fold(dl)(t => dl.join(t, Seq(idCol), "left_anti"))
      .write.mode("overwrite").parquet(s"$path/doclen/base_v${n + 1}"))
    // tombstones are folded in: an EMPTY base resets the family so the
    // old tombstone deltas stop resolving (only written once deletes
    // have ever created the family — never-deleted indexes keep their
    // tombstone-free probe plans)
    tomb.foreach(t => actions += (() => t.limit(0).write.mode("overwrite")
      .parquet(s"$path/tombstones/base_v${n + 1}")))
    actions += (() => statsTable(spark, path, n)
      .write.mode("overwrite").parquet(s"$path/stats_v${n + 1}"))
    VersionedIndex.runConcurrently(actions.result(): _*)
    // carry the committed batch id forward: a compaction between
    // stream batches must not reset the sinks' replay guard
    VersionedIndex.writeTxn(spark, path, n + 1,
      VersionedIndex.committedTxn(spark, path, n))
    if (abortBeforeCommit) return
    writeHint(spark, path, n + 1) // commit
    val (fs, _) = fsOf(spark, path)
    for (fam <- Seq("postings", "doclen", "tombstones"); i <- 1 to n) {
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$fam/delta_v$i"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$fam/base_v$i"), true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/df_v$n"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/stats_v$n"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/batchid_v$n"), true)
  }

  /** Probe a [[writeIndex]] layout: same results (bit-identical — the
    * scoring core is shared) as [[search]] over the live corpus, but
    * the plan never touches the corpus: postings and df scans prune to
    * the probe terms' bucket directories. The two driver
    * materializations are bounded-small by contract: the one-row stats
    * table and the probe-term bucket list (≤ one int per probe term). */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, k: Int, k1: Double = 1.2,
      b: Double = 0.75, linearIdf: Boolean = false,
      restrictTo: Option[DataFrame] = None): DataFrame = {
    val n = currentVersion(spark, path)
    require(n >= 1, s"no committed index under $path")
    val stats = statsTable(spark, path, n)
    val nBuckets = stats.select(col("n_buckets")).head().getInt(0)
    // Probe-term bucket list: when the probe table is a LOCAL relation
    // (the minedLocal / phrase-batch contract — ≤ dozens of rows on
    // the driver already), compute it with driver arithmetic
    // ([[VersionedIndex.bucketOfLocal]], spec-pinned bit-identical to
    // the plan-side pmod(xxhash64)) instead of paying a
    // distinct+collect Spark job per probe.
    val probeBuckets = queries.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if lr.output.exists(a => a.name == "term" &&
            a.dataType == org.apache.spark.sql.types.StringType) =>
        val i = lr.output.indexWhere(_.name == "term")
        lr.data.iterator.filterNot(_.isNullAt(i))
          .map(r => VersionedIndex.bucketOfLocal(
            r.getUTF8String(i).toString, nBuckets))
          .toSeq.distinct
      case _ => queries
        .select(bucketOf(col("term"), nBuckets).as("bucket"))
        .distinct().collect().map(_.getInt(0)).toSeq
    }
    require(probeBuckets.nonEmpty, "probe carries no terms")
    val tomb = tombstonesTable(spark, path, n)
    val tfAll = postingsTable(spark, path, n)
      .filter(col("bucket").isin(probeBuckets: _*))
    val tf = tomb.fold(tfAll)(t => tfAll.join(t, Seq(idCol), "left_anti"))
    val dfRaw = dfTable(spark, path, n)
      .filter(col("bucket").isin(probeBuckets: _*))
      .join(broadcast(queries.select("term").distinct()), Seq("term"))
      .select(col("term"), col("df"))
    // merge-on-read df: subtract the tombstoned docs' term counts from
    // the PRUNED scan only — document frequencies stay exact for the
    // probe terms without ever touching an unprobed bucket; compaction
    // makes this permanent. Counts are exact integers in double, so
    // the subtraction is bit-identical to a from-scratch df.
    val df = tomb.fold(dfRaw) { t =>
      val ddf = tfAll
        .join(broadcast(queries.select("term").distinct()), Seq("term"))
        .join(t, Seq(idCol), "left_semi")
        .groupBy(col("term"))
        .agg(count(lit(1)).cast("double").as("__ddf"))
      dfRaw.join(ddf, Seq("term"), "left")
        .select(col("term"),
          (col("df") - coalesce(col("__ddf"), lit(0.0))).as("df"))
        .filter(col("df") > 0)
    }
    val dl = doclenTable(spark, path, n)
    scoreProbe(tf.select(col(idCol), col("term"), col("tf")), df, dl,
      stats.select(col("n_docs"), col("avgdl")), queries,
      idCol, k, k1, b, linearIdf, restrictTo)
  }

  /** Ranked phrase retrieval — the query neither sibling index serves
    * alone: "rank the documents containing this EXACT phrase by BM25
    * over the phrase's terms". Composition of the two
    * [[VersionedIndex]] layouts, fully corpus-free: the positional
    * index ([[Search.phraseProbe]]) answers WHICH documents match
    * (bucket-pruned positional join), the BM25 index scores those
    * documents for the phrase's word terms (bucket-pruned tf/df
    * probes), and the match set restricts the contribution table
    * BEFORE the bounded TopK — the exchange stays O(phrases·k).
    * Tokenizations remain each index's own contract: phrase adjacency
    * on raw space-split tokens, scoring on lowercased `words()` terms
    * (a raw token's lowercase IS its words() term — same split).
    * Output: (phrase, rk, doc_id, score). */
  def phraseRankedSearch(spark: org.apache.spark.sql.SparkSession,
      bm25Path: String, phrasePath: String, phrases: Seq[String],
      idCol: String, k: Int, k1: Double = 1.2, b: Double = 0.75,
      linearIdf: Boolean = false): DataFrame = {
    import spark.implicits._
    require(phrases.nonEmpty, "no phrases")
    val ordered = phrases.toIndexedSeq
    // the WHOLE batch runs as one job per side: one shared-metadata
    // pass over the positional index for every phrase's doc set, one
    // BM25 probe for every phrase's terms with a per-(q_id, doc)
    // restriction — per-phrase sequential jobs would pay the driver
    // round-trips (stats/df/bucket lookups) once per phrase
    val qid = ordered.zipWithIndex.map { case (p, i) => (p, i + 1) }
      .toDF("phrase", "q_id")
    val restrict = Search.phraseDocsProbe(spark, phrasePath, ordered)
      .join(broadcast(qid), "phrase")
      .select(col("q_id"), col("doc_id").as(idCol))
    val probe = ordered.zipWithIndex.flatMap { case (p, i) =>
      p.split(' ').filter(_.nonEmpty).map(_.toLowerCase).distinct
        .map(t => (i + 1, t))
    }.toDF("q_id", "term")
    searchIndex(spark, bm25Path, probe, idCol, k, k1, b, linearIdf,
      restrictTo = Some(restrict))
      .join(broadcast(qid), "q_id")
      .select(col("phrase"), col("rk"), col(idCol), col("score"))
  }

  /** Deterministic probe mining for the fixture query: the top
    * `nQueries·termsPerQuery` non-stopword terms by document frequency
    * (ties by term), grouped into consecutive runs of `termsPerQuery`
    * — a bounded table (window over ≤ dozens of rows, scale-exempt). */
  def minedQueries(docs: DataFrame, idCol: String, textCol: String,
      nQueries: Int, termsPerQuery: Int): DataFrame =
    minedQueriesFromDf(
      termFrequencies(docs, idCol, textCol)
        .groupBy("term").agg(count(lit(1)).as("df")),
      nQueries, termsPerQuery)

  /** [[minedQueries]] over a PRECOMPUTED (term, df) table — e.g. the
    * `df/` half of a [[writeIndex]] layout, so probe mining over a
    * materialized index never re-tokenizes the corpus. Integral df
    * values order identically whether long or double, so the mined
    * probes match the live-corpus form exactly. */
  def minedQueriesFromDf(df: DataFrame, nQueries: Int,
      termsPerQuery: Int): DataFrame = {
    val stop = TextFunctions.Stopwords("en").toSeq
    val top = df.select(col("term"), col("df"))
      .filter(!col("term").isin(stop: _*))
      .orderBy(col("df").desc, col("term"))
      .limit(nQueries * termsPerQuery)
    top.withColumn("rn",
        row_number().over(Window.orderBy(col("df").desc, col("term"))))
      .select((((col("rn") - 1) / termsPerQuery).cast("int") + 1).as("q_id"),
        col("term"))
  }
}
