package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.PqEncode
import graft.functions.VectorFunctions._

/** IVF+PQ — the standard billion-scale ANN layout, composing the two
  * scale paths: IVF coarse cells bound the SCAN (a query touches only
  * its nProbe cells' inverted lists) and PQ codes bound the MEMORY
  * (each list entry is nSub bytes of codes plus one stored norm, not
  * dim floats). The composed ladder (brute → LSH → IVF → PQ → IVF+PQ)
  * is exactly SURVEY §8's path to 100 TB similarity search.
  *
  * Spark shape: [[buildIndex]] is one scan-side projection over the
  * cell assignment — (cid, c_id, code, c_norm), the codes-only
  * inverted file you'd bucket-materialize by cid at scale (the same
  * layout PlanSpec's bucketed-IVF test pins); [[topK]] joins the
  * broadcast probe list against it, ADC-scores through the broadcast
  * per-query LUTs, ranks with the bounded [[TopK]] aggregator
  * (O(queries·rerank) shuffle), and point-fetches only the surviving
  * candidates' true vectors for the exact re-rank.
  *
  * Exactness anchor: with nProbe = nCentroids and rerank ≥ |corpus|
  * every cell is probed and every candidate re-ranked exactly, so the
  * result degenerates to [[Similarity.bruteForceTopK]] — which carries
  * the q22 DuckDB oracle (PipelineSpec asserts the equality). Recall
  * at small (nProbe, rerank) is measured by [[recallVsExact]] (q60).
  */
object IvfPq {

  /** The codes-only inverted file: (cid, c_id, code, c_norm). The
    * embedding is read once here (index build) and never again until
    * re-rank — searches scan nSub ints + one double per row. */
  def buildIndex(corpus: DataFrame, centroids: DataFrame,
      cb: Pq.Codebooks): DataFrame =
    Ivf.assign(corpus, centroids)
      .select(col("cid"), col("id").as("c_id"),
        PqEncode(col("vec"), cb.books).as("code"),
        sqrt(col("n2")).as("c_norm"))

  /** Search a materialized codes-only inverted file (the [[buildIndex]]
    * layout: cid, c_id, code, c_norm) — the production shape: the index
    * is built once, bucket-materialized by cid, and searched many
    * times without ever re-reading embedding bytes. `rerank > 0`
    * point-fetches the surviving candidates' true vectors from
    * `vectors` (vec_id, embedding — required when rerank > 0). */
  def searchIndex(index: DataFrame, queries: DataFrame, k: Int,
      centroids: DataFrame, nProbe: Int, cb: Pq.Codebooks,
      rerank: Int = 0, vectors: DataFrame = null): DataFrame = {
    require(rerank <= 0 || vectors != null,
      "rerank > 0 needs `vectors` (vec_id, embedding) to point-fetch candidates")
    val lutDF = Pq.buildLut(queries, cb)
    val probes = Ivf.probes(queries, centroids, nProbe).select("cid", "q_id")
    // cell-pruned ADC: only rows of probed cells are scored, and the
    // scored projection is (q_id, c_id, score) — codes never leave the
    // scan stage, vectors are not touched at all
    val scored = index
      .join(broadcast(probes), "cid")
      .join(broadcast(lutDF.select("q_id", "lut", "q_norm")), "q_id")
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(Pq.adcDot(col("lut"), col("code"), cb.nSub) /
          (col("q_norm") * col("c_norm")), 6).as("score"))
    if (rerank <= 0) TopK.perKey(scored, "q_id", "c_id", "score", k)
    else Pq.exactRerank(TopK.perKey(scored, "q_id", "c_id", "score", rerank),
      vectors, lutDF, k)
  }

  /** IVF+PQ cosine top-k: probe nProbe cells, ADC-score their lists,
    * exact-re-rank the top-`rerank` ADC candidates (0 = no re-rank).
    * Output schema matches [[Similarity.bruteForceTopK]]. */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
      centroids: DataFrame, nProbe: Int, cb: Pq.Codebooks,
      rerank: Int = 0): DataFrame =
    searchIndex(buildIndex(corpus, centroids, cb), queries, k, centroids,
      nProbe, cb, rerank, corpus.select(col("vec_id"), col("embedding")))

  // ----------------------------------------------- materialized index
  //
  // The on-disk face of IVF+PQ on the shared crash-safe
  // [[VersionedIndex]] layout (same commit protocol as [[Bm25]] and
  // [[Search]]: version n is complete iff model_vn AND stats_vn exist,
  // `version-hint.text` flips LAST):
  //
  //   codes/delta_vN/   (c_id, code, c_norm) partitioned by `cid` — the
  //                     codes-only inverted file; a probe reads only its
  //                     nProbe cells' partition directories
  //   vectors/delta_vN/ (vec_id, embedding) — raw vectors for the exact
  //                     re-rank refinement (the standard refine-flat
  //                     companion table: PQ codes bound MEMORY, raw
  //                     vectors live on DISK and are point-fetched by
  //                     candidate id only — rerank rows per query)
  //   model_vN/         (kind, i, j, vec) — coarse centroids
  //                     (kind=centroid, i=cid) and PQ codebooks
  //                     (kind=codeword, i=subspace, j=codeword id);
  //                     bounded-small by the IVF/PQ contract
  //   stats_vN/         one row (n_vecs, dim, n_sub, sub_dim,
  //                     n_centroids, n_codewords) — self-describing
  //
  // Centroid-drift contract: the model (centroids + codebooks) is
  // FROZEN at [[writeIndex]] time. [[appendToIndex]] folds new vectors
  // into their nearest EXISTING cells without retraining — exactness
  // under full probe+rerank is unaffected (spec-pinned), but recall at
  // small nProbe can drift if the appended distribution shifts away
  // from the training sample; retraining = a fresh [[writeIndex]].
  // This is the standard IVF maintenance tradeoff (retraining would
  // re-encode every historical vector — exactly the re-tokenize-history
  // cost the delta layout exists to avoid).

  import VersionedIndex.writeHint

  /** Current committed version of the layout under `path` (0 = not an
    * index) — the [[VersionedIndex]] pointer with this layout's
    * completeness pair (model + stats). */
  def currentVersion(spark: org.apache.spark.sql.SparkSession,
      path: String): Int =
    VersionedIndex.currentVersion(spark, path, Seq("model", "stats"))

  private def vCurrent(spark: org.apache.spark.sql.SparkSession,
      path: String): Int = currentVersion(spark, path)

  def indexExists(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = vCurrent(spark, path) >= 1

  /** Resolved live dirs of a family at version `n` — base+delta
    * semantics shared across index families; see
    * [[VersionedIndex.familyDirs]]. Deltas here are SPARSE: an append
    * commits codes+vectors but no tombstones, a delete the reverse. */
  private def familyDirs(spark: org.apache.spark.sql.SparkSession,
      path: String, family: String, n: Int): Seq[String] =
    VersionedIndex.familyDirs(spark, path, family, n)

  /** The version-`n` codes: the resolved base + delta scans unioned. A
    * cid filter above the union pushes into every scan, so cell
    * partition pruning survives the split. */
  def codesTable(spark: org.apache.spark.sql.SparkSession, path: String,
      n: Int): DataFrame =
    familyDirs(spark, path, "codes", n)
      .map(spark.read.parquet(_)).reduce(_ unionByName _)

  /** The version-`n` raw-vector table (re-rank point-fetch side). */
  def vectorsTable(spark: org.apache.spark.sql.SparkSession, path: String,
      n: Int): DataFrame =
    spark.read.parquet(familyDirs(spark, path, "vectors", n): _*)

  /** The version-`n` tombstone table (vec_id rows; empty DataFrame when
    * no delete is live — compaction folds tombstones in and clears
    * them). */
  def tombstonesTable(spark: org.apache.spark.sql.SparkSession, path: String,
      n: Int): DataFrame = {
    val dirs = familyDirs(spark, path, "tombstones", n)
    if (dirs.isEmpty) {
      import spark.implicits._
      Seq.empty[Long].toDF("vec_id")
    } else spark.read.parquet(dirs: _*)
  }

  /** The version-`n` one-row stats table. */
  def statsTable(spark: org.apache.spark.sql.SparkSession, path: String,
      n: Int): DataFrame =
    spark.read.parquet(s"$path/stats_v$n")

  /** [[statsTable]] / [[vectorsTable]] at the CURRENT version — the
    * probe-side entries (mirrors [[Bm25.dfTable]]'s overload). */
  def statsTable(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    statsTable(spark, path, vCurrent(spark, path))

  def vectorsTable(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    vectorsTable(spark, path, vCurrent(spark, path))

  /** Load the frozen model of version `n`: the (cid, c_vec, c_n2)
    * centroid table (re-entered as a LocalRelation — broadcast-small by
    * the IVF contract) and the PQ codebooks. The driver
    * materialization is nCentroids·dim + nSub·k·subDim doubles. */
  def loadModel(spark: org.apache.spark.sql.SparkSession, path: String,
      n: Int): (DataFrame, Pq.Codebooks) = {
    val stats = statsTable(spark, path, n).head()
    val subDim = stats.getAs[Int]("sub_dim")
    val nCentroids = stats.getAs[Int]("n_centroids")
    val nSub = stats.getAs[Int]("n_sub")
    val nCw = stats.getAs[Int]("n_codewords")
    val rows = spark.read.parquet(s"$path/model_v$n").collect()
    val cents = new Array[Array[Double]](nCentroids)
    val books = Array.ofDim[Array[Double]](nSub, nCw)
    rows.foreach { r =>
      val vec = r.getAs[scala.collection.Seq[Double]]("vec").toArray
      r.getAs[String]("kind") match {
        case "centroid" => cents(r.getAs[Int]("i") - 1) = vec
        case "codeword" => books(r.getAs[Int]("i"))(r.getAs[Int]("j")) = vec
      }
    }
    (Ivf.centroidsDF(spark, cents), Pq.Codebooks(subDim, books))
  }

  private def writeStats(spark: org.apache.spark.sql.SparkSession,
      path: String, n: Int, nVecs: Long, dim: Int, cb: Pq.Codebooks,
      nCentroids: Int): Unit = {
    import spark.implicits._
    Seq((nVecs, dim, cb.nSub, cb.subDim, nCentroids, cb.k))
      .toDF("n_vecs", "dim", "n_sub", "sub_dim", "n_centroids", "n_codewords")
      .write.mode("overwrite").parquet(s"$path/stats_v$n")
  }

  private def modelDF(spark: org.apache.spark.sql.SparkSession,
      centroids: DataFrame, cb: Pq.Codebooks): DataFrame = {
    import spark.implicits._
    val cRows = centroids.select(col("cid"),
        transform(col("c_vec"), x => x.cast("double")).as("v"))
      .collect()
      .map(r => ("centroid", r.getAs[Int]("cid"), 0,
        r.getAs[scala.collection.Seq[Double]]("v").toSeq))
    val bRows = for { m <- cb.books.indices; j <- cb.books(m).indices }
      yield ("codeword", m, j, cb.books(m)(j).toSeq)
    (cRows.toSeq ++ bRows).toDF("kind", "i", "j", "vec")
  }

  private def writeCodesAndVectors(corpus: DataFrame, path: String,
      n: Int, centroids: DataFrame, cb: Pq.Codebooks): Unit = {
    // overwrite, not append: a retry after a crashed attempt clobbers
    // the partial delta instead of doubling rows (the Bm25 rule).
    // The codes and raw-vector tables are independent corpus scans —
    // overlap the two write jobs (guide §2.6; the Bm25.writeIndex
    // rationale). The caller's hint flip still happens after both.
    VersionedIndex.runConcurrently(
      () => buildIndex(corpus, centroids, cb)
        .repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid")
        .parquet(s"$path/codes/delta_v$n"),
      () => corpus.select(col("vec_id"), col("embedding"))
        .write.mode("overwrite").parquet(s"$path/vectors/delta_v$n"))
  }

  /** Train the coarse quantizer and the PQ codebooks CONCURRENTLY:
    * the two Lloyd loops are independent (each reads only `corpus`),
    * and each is a chain of driver-synchronized one-job rounds — run
    * sequentially, every round's scheduling gap leaves the cluster
    * idle (guide §2.6, the [[VersionedIndex.runConcurrently]]
    * rationale). Neither train touches session settings, so the two
    * need no coordination. At q60's parameters over the sf0.1
    * embeddings on a 4-core local session, a cold [[writeIndex]] took
    * 0.65 s with concurrent training and 0.73 s with the two trains in
    * sequence (medians of 12 alternating pairs; concurrent won all 12). */
  private def trainBoth(corpus: DataFrame, nCentroids: Int,
      centroidIters: Int, dim: Int, nSub: Int, codewords: Int,
      pqIters: Int): (DataFrame, Pq.Codebooks) = {
    var centroids: DataFrame = null
    var cb: Pq.Codebooks = null
    // runConcurrently joins both threads before returning (Future.get
    // establishes the happens-before), so the plain vars are safe
    VersionedIndex.runConcurrently(
      () => centroids = Ivf.train(corpus, nCentroids, centroidIters),
      () => cb = Pq.train(corpus, dim, nSub, codewords, pqIters))
    (centroids, cb)
  }

  /** Train the model on `corpus` and materialize version 1 of the
    * index. One corpus scan builds the codes (plus the raw-vector copy
    * for re-rank); the model tables are driver-small. The version hint
    * is written LAST — a crash anywhere earlier leaves no readable
    * index (and a retry's overwrites clobber the partial files). */
  def writeIndex(corpus: DataFrame, path: String, nCentroids: Int,
      centroidIters: Int, dim: Int, nSub: Int, codewords: Int,
      pqIters: Int, txn: Option[IndexCommitTxn] = None): Unit = {
    val spark = corpus.sparkSession
    VersionedIndex.clearCrashedAttempt(spark, path, 1,
      Seq("codes", "vectors", "tombstones"))
    val (centroids, cb) =
      trainBoth(corpus, nCentroids, centroidIters, dim, nSub, codewords,
        pqIters)
    // the data writes, the driver-small model write and the stats
    // count are independent — overlap them; the hint still flips LAST
    VersionedIndex.runConcurrently(
      () => writeCodesAndVectors(corpus, path, 1, centroids, cb),
      () => modelDF(spark, centroids, cb)
        .write.mode("overwrite").parquet(s"$path/model_v1"),
      () => writeStats(spark, path, 1, corpus.count(), dim, cb,
        nCentroids))
    VersionedIndex.writeTxn(spark, path, 1, txn)
    writeHint(spark, path, 1) // commit
  }

  /** The sink transaction the current version committed with (None if
    * none) — the foreachBatch sinks' replay guard
    * ([[VersionedIndex.committedTxn]]). */
  def committedTxn(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[IndexCommitTxn] =
    VersionedIndex.committedTxn(spark, path, vCurrent(spark, path))

  /** Fold new vectors into an existing index without retraining: the
    * frozen model assigns and encodes them (one scan over the BATCH,
    * never history), codes and raw vectors land as version-(n+1)
    * deltas, stats update, the hint flips LAST. See the centroid-drift
    * contract in the layout note above. Caller contract: `vectors` are
    * new vec_ids (same as any append sink). */
  def appendToIndex(vectors: DataFrame, path: String,
      txn: Option[IndexCommitTxn] = None): Unit =
    appendToIndexInternal(vectors, path, abortBeforeCommit = false,
      txn = txn)

  /** [[appendToIndex]] with the test-only crash-injection point used by
    * the abort-window spec: returns after every data write but before
    * the hint flip — the on-disk state a real crash in that window
    * leaves. */
  private[graft] def appendToIndexInternal(vectors: DataFrame,
      path: String, abortBeforeCommit: Boolean,
      txn: Option[IndexCommitTxn] = None): Unit = {
    val spark = vectors.sparkSession
    val n = vCurrent(spark, path)
    require(n >= 1, s"no committed index under $path")
    VersionedIndex.clearCrashedAttempt(spark, path, n + 1,
      Seq("codes", "vectors", "tombstones"))
    val stats = statsTable(spark, path, n).head()
    val (centroids, cb) = loadModel(spark, path, n)
    // the codes+vectors deltas, the (frozen-model) model table and the
    // stats row are independent outputs — overlap their write jobs like
    // the text indexes' appends (guide §2.6); the hint still flips LAST.
    // The model table is rebuilt from the loaded model under the new
    // version (a read→write copy of the same path family is avoided on
    // purpose — no self-overwrite hazard).
    VersionedIndex.runConcurrently(
      () => writeCodesAndVectors(vectors, path, n + 1, centroids, cb),
      () => modelDF(spark, centroids, cb)
        .write.mode("overwrite").parquet(s"$path/model_v${n + 1}"),
      () => writeStats(spark, path, n + 1,
        stats.getAs[Long]("n_vecs") + vectors.count(),
        stats.getAs[Int]("dim"), cb, stats.getAs[Int]("n_centroids")))
    // sink commits record their batch id; manual appends CARRY the
    // prior one forward so the replay guard survives interleaving
    VersionedIndex.writeTxn(spark, path, n + 1,
      txn.orElse(VersionedIndex.committedTxn(spark, path, n)))
    if (abortBeforeCommit) return
    writeHint(spark, path, n + 1) // commit
    // post-commit cleanup of the superseded version (best-effort; a
    // crash here leaves an extra readable dir, nothing dangling)
    val (fs, _) = VersionedIndex.fsOf(spark, path)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/model_v$n"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/stats_v$n"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/batchid_v$n"), true)
  }

  /** Remove vectors from the index WITHOUT rewriting codes — the
    * merge-on-read delete of the vector family (same shape as the
    * Iceberg equality-delete story next door): `ids` (a `vec_id`
    * column) land as a `tombstones/delta_v(n+1)` table, probes
    * anti-join it before scoring, and the commit follows the shared
    * hint-flips-LAST protocol. Contract: a tombstone is GLOBAL — a
    * deleted vec_id must not be re-appended later (the anti-join
    * would kill the new row too; an id-versioning layer is the
    * caller's if it needs resurrection). Stats track the LIVE count:
    * only ids actually present and not already tombstoned decrement
    * n_vecs, so the rerank-everything degeneracy stays exact. */
  def deleteFromIndex(ids: DataFrame, path: String): Unit =
    deleteFromIndexInternal(ids, path, abortBeforeCommit = false)

  /** [[deleteFromIndex]] with the test-only crash-injection point:
    * returns after every data write but before the hint flip. */
  private[graft] def deleteFromIndexInternal(ids: DataFrame, path: String,
      abortBeforeCommit: Boolean): Unit = {
    val spark = ids.sparkSession
    val n = vCurrent(spark, path)
    require(n >= 1, s"no committed index under $path")
    VersionedIndex.clearCrashedAttempt(spark, path, n + 1,
      Seq("codes", "vectors", "tombstones"))
    val stats = statsTable(spark, path, n).head()
    val (centroids, cb) = loadModel(spark, path, n)
    val fresh = ids.select(col("vec_id")).distinct()
      .join(vectorsTable(spark, path, n), Seq("vec_id"), "left_semi")
      .join(tombstonesTable(spark, path, n), Seq("vec_id"), "left_anti")
    // overwrite, not append: a retry clobbers a crashed attempt's delta
    fresh.write.mode("overwrite")
      .parquet(s"$path/tombstones/delta_v${n + 1}")
    val nDeleted = spark.read
      .parquet(s"$path/tombstones/delta_v${n + 1}").count()
    modelDF(spark, centroids, cb)
      .write.mode("overwrite").parquet(s"$path/model_v${n + 1}")
    writeStats(spark, path, n + 1,
      stats.getAs[Long]("n_vecs") - nDeleted,
      stats.getAs[Int]("dim"), cb, stats.getAs[Int]("n_centroids"))
    // carry the committed batch id forward (sinks' replay guard)
    VersionedIndex.writeTxn(spark, path, n + 1,
      VersionedIndex.committedTxn(spark, path, n))
    if (abortBeforeCommit) return
    writeHint(spark, path, n + 1) // commit
    val (fs, _) = VersionedIndex.fsOf(spark, path)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/model_v$n"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/stats_v$n"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/batchid_v$n"), true)
  }

  /** Consolidate the index: rewrite the codes and vectors as ONE base
    * per family with every tombstoned row dropped and the delta chain
    * collapsed — the maintenance op that keeps probe plans reading a
    * handful of files after months of appends/deletes (the
    * [[IcebergSnapshot.compactDataFiles]] of the vector family). The
    * model is untouched (still frozen); stats carry over (the live
    * count is already tombstone-adjusted). Commit protocol unchanged:
    * base_v(n+1) dirs land first, the hint flips LAST (a crash before
    * it leaves version n resolving exactly — bases above the hint are
    * never read), and superseded delta/base/tombstone dirs are
    * deleted best-effort AFTER the flip (a crash mid-cleanup leaves
    * unreferenced dirs, never double-reads: resolution starts at the
    * highest committed base). */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    compactIndexInternal(spark, path, abortBeforeCommit = false)

  private[graft] def compactIndexInternal(
      spark: org.apache.spark.sql.SparkSession, path: String,
      abortBeforeCommit: Boolean): Unit = {
    import spark.implicits._
    val n = vCurrent(spark, path)
    require(n >= 1, s"no committed index under $path")
    VersionedIndex.clearCrashedAttempt(spark, path, n + 1,
      Seq("codes", "vectors", "tombstones"))
    val stats = statsTable(spark, path, n).head()
    val (centroids, cb) = loadModel(spark, path, n)
    val tomb = tombstonesTable(spark, path, n)
      .select(col("vec_id"))
    // all five outputs read only version-n tables / the driver-loaded
    // model — overlap the write jobs (guide §2.6, the writeIndex
    // pattern); the hint still flips LAST after every action returns.
    // The empty tombstone base folds deletes in permanently: the old
    // tombstone deltas stop resolving.
    VersionedIndex.runConcurrently(
      () => codesTable(spark, path, n)
        .join(tomb.select(col("vec_id").as("c_id")), Seq("c_id"), "left_anti")
        .repartition(col("cid"))
        .write.mode("overwrite").partitionBy("cid")
        .parquet(s"$path/codes/base_v${n + 1}"),
      () => vectorsTable(spark, path, n)
        .join(tomb, Seq("vec_id"), "left_anti")
        .write.mode("overwrite").parquet(s"$path/vectors/base_v${n + 1}"),
      () => Seq.empty[Long].toDF("vec_id")
        .write.mode("overwrite").parquet(s"$path/tombstones/base_v${n + 1}"),
      () => modelDF(spark, centroids, cb)
        .write.mode("overwrite").parquet(s"$path/model_v${n + 1}"),
      () => writeStats(spark, path, n + 1, stats.getAs[Long]("n_vecs"),
        stats.getAs[Int]("dim"), cb, stats.getAs[Int]("n_centroids")))
    // carry the committed batch id forward (sinks' replay guard)
    VersionedIndex.writeTxn(spark, path, n + 1,
      VersionedIndex.committedTxn(spark, path, n))
    if (abortBeforeCommit) return
    writeHint(spark, path, n + 1) // commit
    // post-commit cleanup of everything the new bases supersede
    val (fs, _) = VersionedIndex.fsOf(spark, path)
    for (fam <- Seq("codes", "vectors", "tombstones"); i <- 1 to n) {
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$fam/delta_v$i"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$fam/base_v$i"), true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/model_v$n"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/stats_v$n"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/batchid_v$n"), true)
  }

  /** Probe a materialized index corpus-free: the model loads
    * driver-side (bounded small), the probe cell ids collect
    * driver-side (≤ |queries|·nProbe ints — bounded by the
    * broadcast-small query contract) and prune the codes scan to those
    * cells' partition directories STATICALLY (an `isin` over the cid
    * partition column — PlanSpec pins both the pruning and that the
    * plan never touches the source embeddings table). `rerank > 0`
    * point-fetches candidates' true vectors from the index's OWN
    * vectors table, so even the exact refinement stays corpus-free.
    * With nProbe ≥ n_centroids and rerank ≥ n_vecs the result is
    * exactly [[Similarity.bruteForceTopK]] over the indexed vectors —
    * the degeneracy that carries q22's oracle (q60_indexed_probe). */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int, nProbe: Int, rerank: Int): DataFrame = {
    val n = vCurrent(spark, path)
    require(n >= 1, s"no committed index under $path")
    val (centroids, cb) = loadModel(spark, path, n)
    val probeCids = Ivf.probes(queries, centroids, nProbe)
      .select("cid").distinct().collect().map(_.getInt(0)).toSeq
    // merge-on-read deletes: tombstoned vectors never score (the
    // anti-join's right side is the tombstone table — empty and free
    // until the first delete commits)
    val tomb = tombstonesTable(spark, path, n)
      .select(col("vec_id").as("c_id"))
    val index = codesTable(spark, path, n)
      .filter(col("cid").isin(probeCids: _*))
      .join(tomb, Seq("c_id"), "left_anti")
    searchIndex(index, queries, k, centroids, nProbe, cb, rerank,
      if (rerank > 0) vectorsTable(spark, path, n) else null)
  }

  /** Recall@k of IVF+PQ against the exact baseline, per query (mirrors
    * [[Ivf.recallVsExact]] / [[Pq.recallVsExact]]). */
  def recallVsExact(corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int, centroidIters: Int, nProbe: Int,
      dim: Int, nSub: Int, codewords: Int, pqIters: Int,
      rerank: Int): DataFrame = {
    val (centroids, cb) =
      trainBoth(corpus, nCentroids, centroidIters, dim, nSub, codewords,
        pqIters)
    val exact = Similarity.bruteForceTopK(corpus, queries, k)
      .select(col("q_id"), col("c_id"))
    val approx = topK(corpus, queries, k, centroids, nProbe, cb, rerank)
      .select(col("q_id"), col("c_id"))
    exact.join(approx, Seq("q_id", "c_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
      .join(exact.groupBy("q_id").agg(count(lit(1)).as("n_exact")), Seq("q_id"), "right")
      .select(col("q_id"),
        round(coalesce(col("hits"), lit(0)).cast("double") / col("n_exact"), 4).as("recall"))
  }
}
