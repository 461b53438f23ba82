package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}

import graft.functions.TextFunctions
import graft.functions.TextFunctions._

/** Training-data-pipeline queries over the documents/embeddings fixtures
  * (builder brief: dedup, similarity search, text analysis, multimodal),
  * each with a DuckDB oracle where the computation is SQL-expressible.
  *
  * Float discipline: no cross-row double sums feed oracle-checked
  * outputs unless they are exact-integer sums or sequential folds that
  * both engines evaluate identically; per-row double expressions mirror
  * the oracle SQL op-for-op (see q16/q22 notes).
  */
object PipelineQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** CONTENT fingerprint of a fixture table: sorted per-file
    * (name, length, md5 of the first+last 4 KiB) — keys the amortized
    * on-disk index paths below, so a regenerated fixture triggers a
    * rebuild instead of probing a stale index, while repeated runs —
    * including a byte-identical fixture COPIED to another host — reuse
    * it. The tail window covers the parquet FOOTER (schema, row-group
    * offsets and min/max statistics), so any data change moves the
    * key without scanning file bodies; driver-side, a few files ×
    * 8 KiB each. */
  private def fixtureFingerprint(s: SparkSession, dir: String,
      name: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(_.isFile).sortBy(_.getPath.getName)
      else Array(fs.getFileStatus(p))
    val md = java.security.MessageDigest.getInstance("MD5")
    val win = 4096
    files.foreach { st =>
      md.update(s"${st.getPath.getName}:${st.getLen}:".getBytes("UTF-8"))
      val in = fs.open(st.getPath)
      try {
        val head = new Array[Byte](math.min(win.toLong, st.getLen).toInt)
        in.readFully(0L, head)
        md.update(head)
        if (st.getLen > win) {
          val tailLen = math.min(win.toLong, st.getLen - win).toInt
          val tail = new Array[Byte](tailLen)
          in.readFully(st.getLen - tailLen, tail)
          md.update(tail)
        }
      } finally in.close()
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Amortized index location for (fixture dir, family): tmpdir path
    * keyed by the dir AND the fixture fingerprint. Returns (path,
    * alreadyBuilt) — built = `builtCheck(path)` says the layout's
    * commit marker exists under exactly this fingerprint (a plain
    * `stats` table for the Search layout; the version hint for Bm25's
    * versioned layout — each family knows its own marker, so a stale
    * dir from an older layout generation reads as not-built). */
  private[graft] def amortizedIndexPath(s: SparkSession, dir: String,
      family: String, builtCheck: String => Boolean,
      table: String = "documents"): (String, Boolean) = {
    val fp = fixtureFingerprint(s, dir, table)
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_${family}_${Integer.toHexString(dir.hashCode)}_$fp")
    val path = root.getAbsolutePath
    val built = try builtCheck(path) catch { case _: Throwable => false }
    (path, built)
  }

  // ---------------------------------------------------------------- text

  /** Per-document text statistics: token counts, punctuation,
    * stopwords, composite quality score. All per-row expressions. */
  def q16TextStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"), col("lang"),
        tokenCount(col("text")).as("n_tokens"),
        bpeTokenCount(col("text")).as("n_bpe_tokens"),
        size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9 ]"), lit(0))).as("n_punct"),
        stopwordCount(col("text"), Stopwords("en")).as("n_stopwords"),
        qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  /** Language-ID stopword vote vs the labeled lang. */
  def q17LangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), langIdStopwords(col("text")).as("predicted"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")

  /** Exact dedup on a normalized key (first 5 words): group-size
    * histogram — the shape of the duplicate mass. */
  def q18ExactDedup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(concat_ws(" ", slice(words(col("text")), 1, 5)).as("dedup_key"))
      .groupBy("dedup_key").agg(count(lit(1)).as("group_size"))
      .groupBy("group_size").agg(count(lit(1)).as("n_groups"))
      .orderBy("group_size")

  /** N-gram (3-shingle) Jaccard near-dup pairs ≥ 0.2. The df cap
    * (mirrored in the oracle's HAVING clause) drops stop-shingles
    * carried by >2000 documents before the self-join — the skew guard
    * that keeps the all-pairs anchor from going quadratic on a hot
    * shingle; PipelineSpec covers a corpus where it triggers. */
  def q19NgramJaccard(s: SparkSession, dir: String): DataFrame =
    // MEMORY_AND_DISK at bench scale (same rationale as q20); the
    // 100 TB configuration passes NONE and recomputes the scan-side
    // shingle projection instead of spilling executor storage.
    Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", k = 3, threshold = 0.2,
      dfCap = 2000,
      shinglePersist = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .orderBy("d1", "d2")

  /** MinHash(64)+LSH(16 bands) candidates, exact-Jaccard-verified at
    * 0.9 — the production near-dup pipeline. Oracle is the exact
    * all-pairs SQL: at 64/16 the boundary miss probability is ~4e-8,
    * so LSH-prefilter + verify equals the exact result. */
  def q20MinhashLsh(s: SparkSession, dir: String): DataFrame =
    // MEMORY_AND_DISK: at fixture/bench scale the shingle table fits,
    // so persisting across its 4 consumers beats recomputation; the
    // 100 TB configuration passes NONE (see minhashVerifiedPairs doc).
    Dedup.minhashVerifiedPairs(t(s, dir, "documents"), "doc_id", "text",
      shingleK = 3, numPerm = 64, bands = 16, threshold = 0.9,
      shinglePersist = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .orderBy("d1", "d2")

  /** SimHash signatures per doc + near-dup candidate counts. Uses the
    * md5-token-hash variant so the ENTIRE pipeline — signature bits,
    * 16-bit banding, hamming verify — is recomputable in DuckDB SQL
    * and hash-checked (xxhash64, the cheaper production default, has
    * no DuckDB counterpart). Always |documents| rows. */
  def q21Simhash(s: SparkSession, dir: String): DataFrame = {
    val sigs = Dedup.simhash(t(s, dir, "documents"), "doc_id", "text", md5Based = true)
    val cand = Dedup.simhashCandidates(sigs, maxHamming = 16)
    val perDoc = cand.select(explode(array(col("d1"), col("d2"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_near"))
    sigs.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("simhash"),
        coalesce(col("n_near"), lit(0L)).as("n_near"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- ANN

  /** Brute-force cosine top-3 for the first 10 vectors (exact ANN
    * baseline). Oracle uses an explicit double-fold (DuckDB's
    * list_cosine_similarity accumulates in float32 and diverges). */
  def q22CosineTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 3)
      .orderBy("q_id", "rk")
  }

  /** Same result as q22 via the bounded TopK Aggregator (map-side
    * partial top-k, no per-key full sort) — shares q22's oracle SQL,
    * proving the two physical shapes agree. */
  def q30TopkAgg(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopKAgg(emb, emb.filter(col("vec_id") < 10), k = 3)
      .orderBy("q_id", "rk")
  }

  /** Embedding near-duplicate pairs (cosine ≥ 0.40), via the blocked
    * all-pairs kernel (bit-identical to the expression form — spec-
    * asserted — against the same exact-SQL oracle). */
  def q23EmbedNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairsBlocked(t(s, dir, "embeddings"), threshold = 0.40)
      .orderBy("a_id", "b_id")

  /** LSH-bucketed ANN recall@3 against the exact baseline (no oracle —
    * measures the approximate scale path). */
  def q25LshRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.lshRecall(emb, emb.filter(col("vec_id") < 10), k = 3,
      nPlanes = 4, dim = 64).orderBy("q_id")
  }

  /** IVF (k-means coarse quantizer) ANN recall@3 against the exact
    * baseline, probing 4 of 16 cells (no oracle — approximate scale
    * path; exactness at full probe is spec-asserted). 5 Lloyd rounds:
    * per-round driver materialization keeps the plan constant-depth,
    * so real iteration counts are affordable. */
  def q31IvfRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ivf.recallVsExact(emb, emb.filter(col("vec_id") < 10), k = 3,
      nCentroids = 16, nIters = 5, nProbe = 4).orderBy("q_id")
  }

  /** Product-quantization ANN recall@3 against the exact baseline:
    * 64-dim vectors stored as 8 codeword ids (8 subspaces × 16
    * codewords — 64 floats → 8 bytes at scale), queried through
    * per-query ADC lookup tables with exact re-ranking of the ADC
    * top-20 (the production IVF-PQ refinement — only 20 true vectors
    * touched per query). No oracle — approximate scale path like
    * q25/q31; code determinism, reconstruction quality and the
    * rerank-everything == brute-force anchor are spec-asserted. */
  def q59PqRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    // wall-clock here is dominated by PLANNING the 128-literal-dot
    // encoder (fixture corpora are tiny); one Lloyd round reaches the
    // same recall on them, and the plan cost amortizes at real scale
    Pq.recallVsExact(emb, emb.filter(col("vec_id") < 10), k = 3,
      dim = 64, nSub = 8, codewords = 16, nIters = 1, rerank = 20)
      .orderBy("q_id")
  }

  /** IVF+PQ composed ANN recall@3 — the billion-scale layout: coarse
    * cells bound the scan (4 of 16 probed), PQ codes bound the memory
    * (8 bytes per list entry), exact re-rank of the ADC top-20 touches
    * only 20 true vectors per query. No oracle — approximate scale
    * path like q25/q31/q59; the probe-all/rerank-all degeneracy ==
    * brute force (q22's oracle) is spec-asserted, and PlanSpec pins
    * the codes-only cell-pruned search scan. */
  def q60IvfPqRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    IvfPq.recallVsExact(emb, emb.filter(col("vec_id") < 10), k = 3,
      nCentroids = 16, centroidIters = 2, nProbe = 4,
      dim = 64, nSub = 8, codewords = 16, pqIters = 1, rerank = 20)
      .orderBy("q_id")
  }

  /** The LSH family's degeneracy anchor AS a driver row: at nPlanes=1
    * the hamming-≤1 multi-probe set is BOTH buckets, so the bucketed
    * search must reproduce brute-force cosine top-3 bit-for-bit —
    * q22's oracle verbatim. The production recall measurement
    * (nPlanes=4) stays beside it as q25_lsh_recall. */
  def q25LshExact(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), k = 3,
        nPlanes = 1, dim = 64)
      .orderBy("q_id", "rk")
  }

  /** The IVF family's degeneracy anchor AS a driver row: probing every
    * cell (nProbe = nCentroids) makes the inverted-file search scan
    * the whole corpus exactly once — brute-force cosine top-3, q22's
    * oracle verbatim. The production recall (nProbe=4) stays beside
    * it as q31_ivf_recall. */
  def q31IvfExact(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val centroids = Ivf.train(emb, nCentroids = 16, nIters = 2)
    Ivf.topK(emb, emb.filter(col("vec_id") < 10), k = 3, centroids,
        nProbe = 16)
      .orderBy("q_id", "rk")
  }

  /** The PQ family's degeneracy anchor AS a driver row: ADC top-k with
    * `rerank = |corpus|` re-scores every ADC candidate exactly, so the
    * whole PQ machinery (train → encode → per-query LUT → ADC scan →
    * exact re-rank) must reproduce brute-force cosine top-3
    * bit-for-bit — q22's DuckDB oracle VERBATIM. The production-shape
    * recall measurement (rerank = 20) stays beside it as
    * q59_pq_recall. */
  def q59PqExact(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cb = Pq.train(emb, dim = 64, nSub = 8, k = 16, nIters = 1)
    Pq.adcTopK(Pq.encode(emb, cb), emb.filter(col("vec_id") < 10), k = 3,
        cb, rerank = emb.count().toInt)
      .orderBy("q_id", "rk")
  }

  /** The AMORTIZED, fully corpus-free face of the IVF+PQ index
    * (q79_indexed_probe's pattern for the vector family): probe a
    * prebuilt [[IvfPq.writeIndex]] layout. The index builds at most
    * once per fixture generation (fingerprint-keyed tmp path); after
    * that every run is the probe, whose plan reads ONLY the index —
    * queries and the exact-re-rank vectors both come from the index's
    * own tables, never the embeddings fixture (PlanSpec-pinned).
    * Probes run the degenerate-exact configuration (probe every cell,
    * re-rank everything), so the result is exactly brute-force cosine
    * top-3 and carries q22's DuckDB oracle VERBATIM — the strongest
    * form of the family's degeneracy anchor. Production params
    * (nProbe=4, rerank=20) share the plan; their recall is what q60
    * measures. */
  def q60IndexedProbe(s: SparkSession, dir: String): DataFrame = {
    val (idx, built) = amortizedIndexPath(s, dir, "ivfpq_index",
      p => IvfPq.indexExists(s, p), table = "embeddings")
    if (!built)
      IvfPq.writeIndex(t(s, dir, "embeddings"), idx, nCentroids = 16,
        centroidIters = 2, dim = 64, nSub = 8, codewords = 16, pqIters = 1)
    val stats = IvfPq.statsTable(s, idx).head()
    val queries = IvfPq.vectorsTable(s, idx).filter(col("vec_id") < 10)
    IvfPq.searchIndex(s, idx, queries, k = 3,
      nProbe = stats.getAs[Int]("n_centroids"),
      rerank = stats.getAs[Long]("n_vecs").toInt)
      .orderBy("q_id", "rk")
  }

  /** Cross-run dedup through the persisted fingerprint ledger
    * ([[FingerprintLedger]]): "day 1" (even doc_ids) bootstraps the
    * ledger once per fixture generation (amortized path, corpus-free
    * probes thereafter); "day 2" (odd ids) anti-joins it — one
    * fp-keyed exchange, history never rescanned. Fingerprints are
    * md5(text) (q18's exact-dedup convention), so the whole
    * two-day flow — per-lang day-2 counts, never-seen survivors and
    * their id checksum — hash-checks against DuckDB. */
  def q93LedgerDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val (led, built) = amortizedIndexPath(s, dir, "fp_ledger",
      p => FingerprintLedger.ledgerExists(s, p))
    if (!built)
      FingerprintLedger.writeLedger(
        docs.filter(col("doc_id") % 2 === 0)
          .select(md5(col("text")).as("fp")),
        led, nBuckets = 16)
    val day2 = docs.filter(col("doc_id") % 2 =!= 0)
      .withColumn("fp", md5(col("text")))
    val surv = FingerprintLedger.dedupAgainst(day2, "fp", led)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_new"),
        sum(col("doc_id")).cast("bigint").as("sum_new_ids"))
    day2.groupBy("lang").agg(count(lit(1)).as("n_day2"))
      .join(surv, Seq("lang"), "left")
      .select(col("lang"), col("n_day2"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("sum_new_ids"), lit(0L)).as("sum_new_ids"))
      .orderBy("lang")
  }

  /** Cross-run NEAR-dup through the persisted ledger — q93's
    * exact-match sibling and the proof of the ledger's fingerprint-
    * AGNOSTIC design: "day 1" (even ids) stores its MinHash BAND KEYS
    * (q20's 64-perm/16-band scheme) as ledger fingerprints; "day 2"
    * (odd ids) computes its own keys and PRUNES by one semi-join
    * ([[FingerprintLedger.seenRows]] — a doc with NO seen band key
    * cannot near-dup history, so it skips the verify entirely); only
    * the hits flow into [[Dedup.crossMinhashVerifiedPairs]]'s exact
    * n-gram-Jaccard verify against day 1. At 100 TB the prune is the
    * whole point: the nightly batch anti-joins a corpus-free key set,
    * and the expensive shingle verify touches only docs with band
    * evidence. Oracle: q20's exact all-pairs SQL restricted to
    * cross-day pairs — the prune is lossless w.r.t. the LSH candidate
    * set (no seen key ⇒ no shared band ⇒ no candidate), and the 64/16
    * boundary-miss probability at j ≥ 0.9 is ~4e-8 (q20's argument). */
  def q94LedgerNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val day1 = docs.filter(col("doc_id") % 2 === 0)
    val day2 = docs.filter(col("doc_id") % 2 =!= 0)
    val (led, built) = amortizedIndexPath(s, dir, "mh_ledger",
      p => FingerprintLedger.ledgerExists(s, p))
    if (!built)
      FingerprintLedger.writeLedger(
        Dedup.bandBuckets(
          Dedup.minhashSignatures(day1, "doc_id", "text",
            shingleK = 3, numPerm = 64), bands = 16)
          .select(col("bucket").as("fp")),
        led, nBuckets = 16)
    // ONE signature pass over day 2 serves BOTH the ledger probe and
    // the verify's candidate keys (r16 carried item: the old form
    // re-shingled AND re-signed the hit docs inside
    // crossMinhashVerifiedPairs). Only the band keys persist — 16
    // 8-byte rows per doc at any scale, never the shingle table (which
    // dwarfs executor storage at 100 TB, per minhashVerifiedPairs'
    // contract). The exact verify still needs the HIT docs' shingles;
    // those re-shingle row-locally (cheap projection) — what is never
    // repeated is the 64-permutation signature aggregation.
    // Restricting the shared keys to the hit docs by semi-join is
    // exactly the old day2Hits restriction: band keys are row-local,
    // so subsetting commutes with computing them.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val k2all = Dedup.bandBuckets(
      Dedup.minhashSignatures(day2, "doc_id", "text",
        shingleK = 3, numPerm = 64), bands = 16)
      .persist(lvl)
    val hitIds = FingerprintLedger.seenRows(k2all, "bucket", led)
      .select("doc_id").distinct()
    val day2Hits = day2.join(hitIds, Seq("doc_id"), "left_semi")
    Dedup.crossMinhashVerifiedPairsWithRight(day1, "doc_id", "text",
      shingleK = 3, numPerm = 64, bands = 16, threshold = 0.9,
      sh2 = Dedup.shinglePairs(day2Hits, "doc_id", "text", 3).persist(lvl),
      k2 = k2all.join(hitIds, Seq("doc_id"), "left_semi"),
      shinglePersist = lvl)
      .orderBy("d1", "d2")
  }

  /** The FULL-PIPELINE capstone: the canonical curation sequence —
    * quality gate → boilerplate scrub → exact dedup → 13-gram
    * decontaminate → budget select → shard — composed as ONE batch
    * query with ONE end-to-end DuckDB oracle, so a regression at any
    * stage boundary (column drift, tokenization mismatch, fingerprint
    * timing) trips a single wire. Every stage is the exact operator
    * its standalone query proves (q53's gate scoring, q63's scrub,
    * q18's dedup convention, q56's decontaminate, q57's budget cut,
    * q52's shard), chained on the data each prior stage emits:
    * the scrub learns its boilerplate on the GATED corpus, dedup
    * fingerprints the CLEANED text, the split and grams run post-dedup,
    * and the budget scores the cleaned survivors. Docs that scrub to
    * EMPTY are dropped (pure boilerplate). Scale shape: the corpus-
    * sized rows shuffle at the chunk learn, the dedup key, the gram
    * semi-join and the budget histogram — each keyed, none cartesian;
    * the boilerplate set, split thresholds, budget stats and shard
    * assignment are broadcast/scan-side.
    *
    * Materialization: the DAG fans out from two expensive nodes — the
    * scrubbed corpus feeds dedup (agg + semi-join), the split, the
    * gram explode and the budget scorer, and the 13-gram explode feeds
    * both decontaminate branches. Without materialization each
    * consumer re-runs the whole interpreted-HOF scrub chain (measured
    * 33 s at sf0.1; 6.5 s materialized). The fan-out points
    * localCheckpoint (see the r16 rationale inside [[q95Curation]]):
    * persist kept the full child plan inside every InMemoryRelation
    * reference and planning itself became the bottleneck. `level`
    * keeps the dropRepeatedChunks-style knob shape: any non-NONE
    * level materializes (checkpoint), NONE keeps every operator
    * visible in one plan (PlanSpec pins that variant; the
    * materialized one differs only by checkpoint boundaries). */
  def q95CurationPipeline(s: SparkSession, dir: String): DataFrame =
    q95Curation(s, dir, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private[graft] def q95Curation(s: SparkSession, dir: String,
      level: org.apache.spark.storage.StorageLevel): DataFrame = {
    // Materialization at the fan-out points is localCheckpoint, not
    // persist: a persist substitutes an InMemoryRelation but keeps the
    // FULL child plan inside it, and with three fan-out points whose
    // consumers re-reference each other the assembled q95 plan grew to
    // 438 Exchange nodes / 4386 explain lines — the optimizer re-walked
    // that tree on every AQE replan, measured as 4.5 s of driver gaps
    // between this query's jobs (guide §3.3: enormous plans make
    // planning itself the bottleneck; materialize to TRUNCATE).
    // localCheckpoint cuts lineage, so each consumer's plan reads a
    // LogicalRDD leaf (the after plan is ~30 Exchanges). Same
    // recompute-avoidance as the old persist; blocks are swept by the
    // bench/verify per-query hygiene like every other checkpoint here.
    // Trade-off (the BudgetSelect/Quantiles precedent): lineage is
    // gone, executor loss fails the query instead of recomputing.
    def mat(df: DataFrame): DataFrame =
      if (level == org.apache.spark.storage.StorageLevel.NONE) df
      else df.localCheckpoint()
    // NOTE (r16, measured): spreading the 1-partition fixture scan to
    // defaultParallelism before the gate was A/B'd at 7 reps and came
    // out NEUTRAL (6.89 vs 6.71 s median) — the pipeline's jobs
    // already overlap on the scheduler, so wall-clock is the critical
    // path + planning gaps, not the single-task scan stages. Reverted
    // to keep the plan one exchange smaller.
    val docs = t(s, dir, "documents")
    // 1. quality gate on the raw text (q16's scorer, fixed threshold);
    //    two consumers (chunk learn, scrub) — materialize the slice
    val gated = mat(docs
      .filter(TextFunctions.qualityScore(col("text")) >= 0.5)
      .select(col("doc_id"), col("source"), col("text")))
    // 2. boilerplate scrub: chunk set learned ON the gated corpus.
    //    Materialized BEFORE the emptiness filter so the filter reads
    //    checkpointed rows instead of re-evaluating the scrub expression.
    val bp = Dedup.repeatedChunks(gated, "doc_id", "text",
      chunkTokens = 10, maxDocs = 1)
    val scrubbed = mat(Dedup.scrubChunks(gated, "text", 10, bp))
      .filter(length(col("text")) > 0) // pure-boilerplate docs drop out
    // 3. exact dedup on the cleaned text: keep the min doc_id per
    //    fingerprint (no per-key window — bounded min aggregate)
    val keeper = scrubbed
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val deduped = scrubbed.join(keeper, Seq("doc_id"), "left_semi")
    // 4. deterministic split + 13-gram decontaminate on cleaned text.
    //    Grams are native [[graft.functions.ShingleHashes]] 8-byte
    //    hashes (q56's discipline): only membership feeds the flag, so
    //    the result is unchanged while the gram shuffles never carry
    //    13-token strings and window generation runs codegen'd.
    val split = Sampling.assignSplit(deduped, col("doc_id"),
      Seq("train" -> 0.9, "test" -> 0.1))
    val grams = mat(split.select(col("doc_id"), col("split"),
      explode(graft.functions.ShingleHashes(col("text"), 13)).as("gram")))
    val testGrams = grams.filter(col("split") === "test")
      .select("gram").distinct()
    val flagged = grams.filter(col("split") === "train")
      .join(testGrams, Seq("gram"), "left_semi")
      .select("doc_id").distinct()
    val clean = split.filter(col("split") === "train")
      .join(flagged, Seq("doc_id"), "left_anti")
    // 5. budget select: highest-quality 5000 tokens per source,
    //    scored on the CLEANED text
    val scored = clean.select(col("doc_id"), col("source"),
      size(words(col("text"))).as("w"),
      TextFunctions.qualityScore(col("text")).as("q"))
    val selected = BudgetSelect.byScoreBudget(scored, "source", "doc_id",
      "w", "q", budget = 5000L)
    // 6. shard assignment + the export rollup
    Sampling.shardByHash(selected, col("doc_id"), 8, "shard")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("bigint").as("sum_ids"),
        sum(col("w")).cast("bigint").as("sum_toks"))
      .orderBy("shard")
  }

  /** Mergeable KLL quantile sketch ([[Kll.groupQuantiles]]) in its
    * degenerate-EXACT mode: k exceeds every group's size, so no
    * compaction ever fires anywhere (map side, merge side), every
    * value survives at weight 1, and the answer is EXACTLY the value
    * at rank ⌊p·(n−1)⌋ — independent of partitioning and merge order,
    * which is what lets a rank-selection DuckDB oracle hash-check the
    * whole mapPartitions → shuffle-sketches → merge machine
    * end-to-end (the q60_indexed_probe pattern). Production runs use
    * k≈200 (a few KB per sketch, O(1/k) rank error) — strictly
    * CHEAPER than this anchor; SketchSpec asserts that regime's
    * error bound and mergeability. */
  def q96KllQuantiles(s: SparkSession, dir: String): DataFrame =
    Kll.groupQuantiles(t(s, dir, "documents"), "lang", "n_chars",
        ps = Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p90" -> 0.9),
        k = 1 << 20)
      .orderBy("lang")

  /** The crawl front end-to-end under the hard oracle signal: a
    * deterministic WARC corpus (one HTTP response per doc, closed-form
    * HTML; [[graft.sources.Warc.synthesizeFixture]] — half the files
    * plain, half per-record-gzip members, three charset legs:
    * header-declared UTF-8 / header-declared windows-1252 /
    * windows-1252 via `<meta charset>` sniff) is parsed by the real
    * [[graft.sources.Warc.records]], payloads decoded charset-aware by
    * the native `decode_text` ([[graft.functions.CharsetDecode]] —
    * errors counted, charset surfaced), stripped by the native
    * `html_text`, and token-counted. The oracle reconstructs the
    * extracted text ARITHMETICALLY ('Doc id' + the doc text + the
    * non-ASCII suffix) — any drift in record framing, gzip member
    * handling, the HTTP split, charset resolution, replacement
    * accounting, or tag stripping changes text_md5/n_tokens/
    * decode_errors and goes red. Fixture amortized per fingerprint
    * (the q60/q71 pattern); the parse itself is one task per file with
    * no shuffle — the 100 TB crawl shape. */
  def q97WarcIngest(s: SparkSession, dir: String): DataFrame = {
    val (path, built) = amortizedIndexPath(s, dir, "warc",
      p => new java.io.File(p, "_built").isFile)
    if (!built)
      graft.sources.Warc.synthesizeFixture(t(s, dir, "documents"), path)
    graft.sources.Warc.records(s, s"$path/part-*.warc*")
      .filter(col("warc_type") === "response")
      .withColumn("doc_id",
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("bigint"))
      .withColumn("d",
        graft.functions.CharsetDecode(col("body"), col("http_content_type")))
      .select(col("doc_id"), col("d.charset").as("charset"),
        col("d.decode_errors").as("decode_errors"),
        graft.functions.HtmlText(col("d.text")).as("etext"),
        col("truncated"))
      .select(col("doc_id"), col("charset"), col("decode_errors"),
        tokenCount(col("etext")).as("n_tokens"),
        md5(col("etext")).as("text_md5"),
        col("truncated"))
      .orderBy("doc_id")
  }

  /** Boilerplate-aware MAIN-CONTENT extraction over a crawl fixture
    * whose every page wraps the content paragraph in real-page chrome
    * (nav menu, link-farm related-articles div, aside, footer — all
    * closed-form; [[graft.sources.Warc.synthesizeBoilerplateFixture]]):
    * the native `main_content` ([[graft.functions.HtmlMainContent]],
    * a readability-style block scorer — containers removed wholesale,
    * blocks < 25 chars or with anchor-text density ≥ 1/3 dropped) must
    * keep EXACTLY the content paragraph, hash-pinned per page, while
    * `html_text` keeps the whole chrome — the before/after token
    * columns are the quality-gate delta boilerplate removal buys.
    * Scale shape: both extractors are scan-side native expressions;
    * nothing here shuffles but the final orderBy. */
  def q97cMainContent(s: SparkSession, dir: String): DataFrame = {
    val (path, built) = amortizedIndexPath(s, dir, "warc_boiler",
      p => new java.io.File(p, "_built").isFile)
    if (!built)
      graft.sources.Warc.synthesizeBoilerplateFixture(
        t(s, dir, "documents"), path)
    graft.sources.Warc.records(s, s"$path/part-*.warc*")
      .filter(col("warc_type") === "response")
      .withColumn("doc_id",
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("bigint"))
      .withColumn("d",
        graft.functions.CharsetDecode(col("body"), col("http_content_type")))
      .select(col("doc_id"),
        graft.functions.HtmlText(col("d.text")).as("full_text"),
        graft.functions.HtmlMainContent(col("d.text")).as("main_text"))
      .select(col("doc_id"),
        tokenCount(col("full_text")).as("n_tokens_full"),
        tokenCount(col("main_text")).as("n_tokens_main"),
        md5(col("main_text")).as("main_md5"))
      .orderBy("doc_id")
  }

  /** URL canonicalization + revisit dedup — the crawl-frontier
    * operation between fetch and corpus: the same page arrives under
    * case-varied hosts, explicit default ports, tracking parameters
    * and fragments, and must collapse to ONE document before any
    * content-level dedup runs (content dedup alone misses revisits
    * whose boilerplate shifted). URL variants are synthesized
    * closed-form from doc_id (5 variant shapes × 50 canonical pages,
    * decorrelated so every page sees every shape), canonicalized by
    * the codegen'd [[TextFunctions.canonicalUrl]] regexp chain, and
    * revisit groups roll up (keeper = min doc_id, the ledger rule).
    * The oracle mirrors the chain regexp-for-regexp — any divergence
    * in rule order or pattern semantics regroups pages and goes red.
    * Scale shape: canonicalize is scan-side; the dedup is one groupBy
    * on the canonical key. */
  def q98UrlDedup(s: SparkSession, dir: String): DataFrame = {
    val g = pmod(col("doc_id"), lit(50)).cast("string")
    val idStr = col("doc_id").cast("string")
    val variant = pmod(floor(col("doc_id") / 50), lit(5)).cast("int")
    val base = concat(lit("example"), g, lit(".org/articles/a"), g,
      lit("?p=1"))
    val url = when(variant === 0, concat(lit("https://"), base))
      .when(variant === 1, concat(lit("HTTPS://EXAMPLE"), g,
        lit(".ORG/articles/a"), g, lit("?p=1")))
      .when(variant === 2, concat(lit("https://example"), g,
        lit(".org:443/articles/a"), g, lit("?p=1")))
      .when(variant === 3, concat(lit("https://"), base,
        lit("&utm_source=feed&gclid=x"), idStr))
      .otherwise(concat(lit("https://"), base, lit("#sec"), idStr))
    t(s, dir, "documents")
      .select(col("doc_id"), url.as("url"))
      .withColumn("curl", graft.functions.TextFunctions
        .canonicalUrl(col("url")))
      .groupBy(col("curl"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_revisits"),
        sum(col("doc_id")).cast("bigint").as("sum_ids"))
      .orderBy("curl")
  }

  /** The crawl-to-shards CAPSTONE: every stage between a WARC drop and
    * training shards, composed as ONE oracle-checked query over a
    * crawl-shaped fixture ([[graft.sources.Warc.synthesizeCrawlFixture]]
    * — base + URL-variant REVISIT per odd doc + cross-host MIRROR per
    * doc ≡ 7 mod 10, identical payload bytes). Stage order is the real
    * frontier order and each duplication shape must die at a DIFFERENT
    * stage, which the surfaced counters pin: parse → decode →
    * `html_text` (n_records), canonical-URL revisit dedup — revisits
    * collapse here (n_url_kept), exact content dedup — mirrors survive
    * URL dedup and collapse here (n_content_kept), quality gate on
    * clean decode + token count (n_gate_kept), deterministic shard
    * rollup. Keeper rule everywhere: min (seq, doc_id) — a bounded
    * struct-min aggregate, never a per-key window. Scale shape: the
    * parse is one task per file, dedups are two groupBys on
    * scan-derived keys, the gate is scan-side; the parsed slice
    * persists once and every stage counter reads the cache. */
  def q99CrawlCapstone(s: SparkSession, dir: String): DataFrame = {
    val (path, built) = amortizedIndexPath(s, dir, "warc_crawl",
      p => new java.io.File(p, "_built").isFile)
    if (!built)
      graft.sources.Warc.synthesizeCrawlFixture(t(s, dir, "documents"), path)
    val recs = graft.sources.Warc.records(s, s"$path/part-*.warc*")
      .filter(col("warc_type") === "response")
      .withColumn("doc_id",
        regexp_extract(col("record_id"), "urn:graft:(\\d+):", 1)
          .cast("bigint"))
      .withColumn("seq",
        regexp_extract(col("record_id"), ":(\\d+)>$", 1).cast("int"))
      .withColumn("curl",
        graft.functions.TextFunctions.canonicalUrl(col("target_uri")))
      .withColumn("d",
        graft.functions.CharsetDecode(col("body"), col("http_content_type")))
      .select(col("doc_id"), col("seq"), col("curl"),
        graft.functions.HtmlText(col("d.text")).as("etext"),
        graft.functions.HtmlMainContent(col("d.text")).as("mtext"),
        col("d.decode_errors").as("decode_errors"), col("truncated"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val payload = struct(col("seq"), col("doc_id"), col("etext"),
      col("mtext"), col("decode_errors"), col("truncated"))
    def unwrap(df: DataFrame): DataFrame = df
      .select(col("k.doc_id").as("doc_id"), col("k.seq").as("seq"),
        col("k.etext").as("etext"), col("k.mtext").as("mtext"),
        col("k.decode_errors").as("decode_errors"),
        col("k.truncated").as("truncated"))
    // frontier stage: revisits (same canonical URL) collapse
    val urlKept = unwrap(recs.groupBy(col("curl")).agg(min(payload).as("k")))
    // corpus stage: mirrors (same bytes, different canonical URL) collapse
    val contentKept = unwrap(
      urlKept.groupBy(md5(col("etext")).as("fp")).agg(min(payload).as("k")))
    val kept = contentKept
      .filter(col("decode_errors") === 0 && !col("truncated") &&
        tokenCount(col("etext")) >= 30)
      .select(col("doc_id"), tokenCount(col("etext")).as("n_toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the boilerplate-aware gate: token-count the MAIN content
    // instead of the full extracted text — the stage-count delta vs
    // n_gate_kept is what main-content extraction buys the gate
    // (fixture pages' main text drops exactly the title stub)
    val mainKept = contentKept
      .filter(col("decode_errors") === 0 && !col("truncated") &&
        tokenCount(col("mtext")) >= 30)
    val counters = recs.agg(count(lit(1)).as("n_records"))
      .crossJoin(urlKept.agg(count(lit(1)).as("n_url_kept")))
      .crossJoin(contentKept.agg(count(lit(1)).as("n_content_kept")))
      .crossJoin(kept.agg(count(lit(1)).as("n_gate_kept")))
      .crossJoin(mainKept.agg(count(lit(1)).as("n_main_gate_kept")))
    Sampling.shardByHash(kept, col("doc_id"), 8, salt = "shard")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("bigint").as("sum_ids"),
        sum(col("n_toks")).cast("bigint").as("sum_toks"))
      .crossJoin(counters)
      .orderBy("shard")
  }

  /** The Iceberg migrate → PRUNED-READ path under the hard oracle
    * signal — the first driver-green row exercising S9's read leg
    * end-to-end: the orders fixture migrates once (amortized by
    * fixture fingerprint) through [[graft.api.SchemaTranslator
    * .migrateTable]] into a RANGE(o_orderstatus)-partitioned Iceberg
    * v2 table, then [[graft.sources.IcebergSnapshot.readSnapshot]]
    * reads it back with a pruning predicate (status equality +
    * orderkey range). File skipping is audited in-row (the q65
    * boolean pattern: the non-matching status partitions' files MUST
    * be skipped, kept∪skipped must cover the live set) and the
    * surviving rows aggregate to oracle-checkable totals — DuckDB
    * computes the same filter over the raw parquet, so manifest
    * bounds, partition-value decode, identity-column restore and the
    * residual row filter all sit under one hash. Scale shape: this IS
    * the 100 TB selective-read story — the scan opens only
    * overlapping files. */
  def q100IcebergPrunedRead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.{IcebergPruning, IcebergSnapshot}
    val tdef = graft.parse.Db2Parser.parse(
      """CREATE TABLE G.ORDERS_ICE (
        |  O_ORDERKEY BIGINT NOT NULL,
        |  O_CUSTKEY BIGINT,
        |  O_ORDERSTATUS VARCHAR(1),
        |  O_TOTALPRICE DOUBLE,
        |  O_ORDERDATE TIMESTAMP,
        |  O_ORDERPRIORITY VARCHAR(20)
        |) PARTITION BY RANGE (O_ORDERSTATUS);""".stripMargin).tables.head
    val (path, built) = amortizedIndexPath(s, dir, "iceberg_orders",
      p => new java.io.File(p, "metadata/version-hint.text").isFile,
      table = "orders")
    if (!built)
      graft.api.SchemaTranslator.migrateTable(t(s, dir, "orders"), tdef, path)
    val pruning = Seq(
      IcebergPruning.ColumnBound.eq("O_ORDERSTATUS", "F"),
      IcebergPruning.ColumnBound("O_ORDERKEY", Some(500L), Some(5000L)))
    val (kept, skipped) = IcebergPruning.planScan(
      s.sparkContext.hadoopConfiguration, path, tdef, pruning)
    val (all, _) = IcebergPruning.planScan(
      s.sparkContext.hadoopConfiguration, path, tdef, Nil)
    // the audit: pruning did real work (the O/P status partitions'
    // files skipped) and lost nothing (kept ∪ skipped == live set)
    val pruneOk = skipped.nonEmpty &&
      (kept ++ skipped).toSet == all.toSet &&
      kept.forall(_.contains("O_ORDERSTATUS=F"))
    IcebergSnapshot.readSnapshot(s, path, tdef, pruning = pruning)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("O_ORDERKEY")).cast("bigint").as("sum_keys"),
        round(sum(col("O_TOTALPRICE").cast("decimal(28,4)"))
          .cast("double"), 2).as("sum_price"))
      .select(col("n_rows"), col("sum_keys"), col("sum_price"),
        lit(pruneOk).as("prune_ok"))
  }

  /** q100's oracle carried through the IDIOMATIC entry point — the
    * DataSource V2 face with Catalyst filter pushdown
    * ([[graft.sources.v2.GraftIcebergSource]]): the plain
    * `spark.read.format("graft-iceberg").load(path).filter(...)`
    * every Spark user writes, over the same migrated orders table as
    * q100, with NO explicit ColumnBounds and NO DDL in hand (the
    * schema loads from the table's own metadata). The in-row audit
    * asserts the pushdown actually pruned: the executed scan's
    * recorded report must show skipped files, kept∪skipped == live
    * set, every kept file in the matching status partition, and the
    * Catalyst filters translated into bounds. Same oracle SQL as
    * q100 — both entry points must agree with DuckDB on the raw
    * parquet. */
  def q102Dsv2PrunedRead(s: SparkSession, dir: String): DataFrame = {
    val tdef = graft.parse.Db2Parser.parse(
      """CREATE TABLE G.ORDERS_ICE (
        |  O_ORDERKEY BIGINT NOT NULL,
        |  O_CUSTKEY BIGINT,
        |  O_ORDERSTATUS VARCHAR(1),
        |  O_TOTALPRICE DOUBLE,
        |  O_ORDERDATE TIMESTAMP,
        |  O_ORDERPRIORITY VARCHAR(20)
        |) PARTITION BY RANGE (O_ORDERSTATUS);""".stripMargin).tables.head
    val (path, built) = amortizedIndexPath(s, dir, "iceberg_orders",
      p => new java.io.File(p, "metadata/version-hint.text").isFile,
      table = "orders")
    if (!built)
      graft.api.SchemaTranslator.migrateTable(t(s, dir, "orders"), tdef, path)
    graft.sources.v2.GraftIcebergScans.clear()
    val agg = s.read.format("graft-iceberg").load(path)
      .filter(col("O_ORDERSTATUS") === "F" &&
        col("O_ORDERKEY") >= 500L && col("O_ORDERKEY") <= 5000L)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("O_ORDERKEY")).cast("bigint").as("sum_keys"),
        round(sum(col("O_TOTALPRICE").cast("decimal(28,4)"))
          .cast("double"), 2).as("sum_price"))
    agg.collect() // execute once so the scan report is on record
    val rep = graft.sources.v2.GraftIcebergScans.lastReport.get
    val (all, _) = graft.sources.IcebergPruning.planScan(
      s.sparkContext.hadoopConfiguration, path, tdef, Nil)
    val pruneOk = rep.skippedFiles.nonEmpty &&
      (rep.keptFiles ++ rep.skippedFiles).toSet == all.toSet &&
      rep.keptFiles.forall(_.contains("O_ORDERSTATUS=F")) &&
      rep.bounds.size >= 3 // V eq + K range sides all translated
    agg.select(col("n_rows"), col("sum_keys"), col("sum_price"),
      lit(pruneOk).as("prune_ok"))
  }

  /** The CDC CHANGES read under the hard oracle — the consumer side of
    * the warehouse-table story: the orders fixture's 75% slice
    * (o_orderkey % 4 ≠ 3) migrates into an Iceberg table, one
    * closed-form CDC batch upserts (keys % 8 = 1 → updates with price
    * 2·key; keys % 8 = 3 → inserts with price 3·key), and
    * [[graft.sources.IcebergChanges.changesTable]] since table
    * creation must emit exactly: every initial row as `insert`, the
    * OLD versions of the updated keys as `delete`, and the batch's
    * rows as `insert` — aggregated per change type to totals DuckDB
    * recomputes arithmetically from the raw parquet. Exercises the
    * multiset state diff, equality-delete application and snapshot
    * attribution in one hash. Build amortized by fixture fingerprint;
    * scale shape: the diff is two snapshot reads + one exceptAll per
    * boundary, all shuffle-bounded by the table. */
  /** The shared CDC fixture of q101/q103: the orders 75% slice
    * migrated into an Iceberg table plus one closed-form upsert batch,
    * built at most once per fixture fingerprint. Returns (path, table
    * def); building never runs a changes read — q103 shares the BUILD,
    * not the q101 query. */
  private def cdcFixture(s: SparkSession,
      dir: String): (String, graft.model.TableDef) = {
    val tdef = graft.parse.Db2Parser.parse(
      """CREATE TABLE G.ORDERS_CDC (
        |  O_ORDERKEY BIGINT NOT NULL,
        |  O_CUSTKEY BIGINT,
        |  O_ORDERSTATUS VARCHAR(1),
        |  O_TOTALPRICE DOUBLE,
        |  O_ORDERPRIORITY VARCHAR(20)
        |);""".stripMargin).tables.head
    val (path, built) = amortizedIndexPath(s, dir, "iceberg_cdc",
      p => new java.io.File(p, "_built_cdc").isFile, table = "orders")
    if (!built) {
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      graft.api.SchemaTranslator.migrateTable(
        orders.filter(pmod(col("o_orderkey"), lit(4)) =!= 3), tdef, path)
      val batch = orders.filter(pmod(col("o_orderkey"), lit(8)).isin(1, 3))
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(8)) === 1,
            col("o_orderkey") * lit(2.0))
            .otherwise(col("o_orderkey") * lit(3.0)))
      graft.api.SchemaTranslator.mergeUpsert(batch, tdef, path,
        keyCols = Seq("O_ORDERKEY"))
      val done = new java.io.File(path, "_built_cdc")
      java.nio.file.Files.write(done.toPath, "1\n".getBytes("UTF-8"))
      ()
    }
    (path, tdef)
  }

  def q101CdcChanges(s: SparkSession, dir: String): DataFrame = {
    val (path, tdef) = cdcFixture(s, dir)
    graft.sources.IcebergChanges.changesTable(s, path, tdef,
        fromSnapshotId = None)
      .groupBy(col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("O_ORDERKEY")).cast("bigint").as("sum_keys"),
        round(sum(col("O_TOTALPRICE").cast("decimal(28,4)"))
          .cast("double"), 2).as("sum_price"))
      .orderBy("change_type")
  }

  /** q101's oracle carried through the O(changes) CDC face
    * ([[graft.sources.IcebergChanges.incrementalChangesScan]] — also
    * the `mode=cdc` streaming tail's `getBatch` body): inserts from
    * exactly the added data files, deletes resolved by a key-pruned
    * parent read, NO full-state diff — yet the rows must hash-match
    * the same DuckDB arithmetic the state-diff face matches. Shares
    * q101's migrated fixture. */
  def q103ChangesScan(s: SparkSession, dir: String): DataFrame = {
    // shares q101's fixture BUILD only — it used to run the whole
    // q101 state-diff read (two snapshot scans + exceptAll + agg) as
    // its fixture guard, a full extra query per invocation
    val (path, tdef) = cdcFixture(s, dir)
    graft.sources.IcebergChanges.incrementalChangesScan(s, path, tdef,
        fromSnapshotId = None)
      .groupBy(col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("O_ORDERKEY")).cast("bigint").as("sum_keys"),
        round(sum(col("O_TOTALPRICE").cast("decimal(28,4)"))
          .cast("double"), 2).as("sum_price"))
      .orderBy("change_type")
  }

  /** The idiomatic WRITE faces under the hard oracle: the orders 75%
    * slice lands via `df.write.format("graft-iceberg")` bootstrap
    * (option create-ddl), the remaining 25% via `mode("append")`, and
    * the read-back rides the DSv2 pushdown face — so write bootstrap,
    * incremental append, and filtered read must compose to the same
    * arithmetic DuckDB computes over the raw parquet. */
  def q104WriteRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val ddl =
      """CREATE TABLE G.ORDERS_W (
        |  O_ORDERKEY BIGINT NOT NULL,
        |  O_CUSTKEY BIGINT,
        |  O_ORDERSTATUS VARCHAR(1),
        |  O_TOTALPRICE DOUBLE
        |) PARTITION BY RANGE (O_ORDERSTATUS);""".stripMargin
    val (path, built) = amortizedIndexPath(s, dir, "iceberg_writeface",
      p => new java.io.File(p, "_built_w").isFile, table = "orders")
    if (!built) {
      val orders = t(s, dir, "orders").select(
        col("o_orderkey").as("O_ORDERKEY"),
        col("o_custkey").as("O_CUSTKEY"),
        col("o_orderstatus").as("O_ORDERSTATUS"),
        col("o_totalprice").as("O_TOTALPRICE"))
      orders.filter(pmod(col("O_ORDERKEY"), lit(4)) =!= 3)
        .write.format("graft-iceberg").option("create-ddl", ddl)
        .mode("overwrite").save(path)
      orders.filter(pmod(col("O_ORDERKEY"), lit(4)) === 3)
        .write.format("graft-iceberg").mode("append").save(path)
      java.nio.file.Files.write(
        new java.io.File(path, "_built_w").toPath, "1\n".getBytes("UTF-8"))
      ()
    }
    s.read.format("graft-iceberg").load(path)
      .filter(col("O_ORDERSTATUS") === "O")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("O_ORDERKEY")).cast("bigint").as("sum_keys"),
        round(sum(col("O_TOTALPRICE").cast("decimal(28,4)"))
          .cast("double"), 2).as("sum_price"))
  }

  /** Registers `cat` on `s` as a graft-iceberg catalog over the
    * warehouse `wh` — the one session change the catalog queries make. */
  private def registerCatalog(s: SparkSession, cat: String, wh: String): Unit = {
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftIcebergCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
  }

  /** Deletes the warehouse `wh` of a catalog fixture whose build marker
    * is absent, so a build that failed halfway starts again from nothing
    * instead of failing on its first `CREATE TABLE` from then on. */
  private[graft] def clearWarehouse(s: SparkSession, wh: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(wh)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** Runs the storage-partitioned join `joinSql` over catalog `cat`
    * (warehouse `wh`) SHUFFLE-FREE and returns its aggregate `aggs` as
    * one driver row plus `spj_ok`: zero shuffle exchanges and two
    * native batch scans in the executed plan, and `alsoOk`. The join
    * plans and runs on its own session (`s.newSession()`, same
    * SparkContext and extensions) that carries the catalog, v2
    * bucketing with partition-value push, no broadcast joins and no
    * adaptive execution; the caller's session settings stay as they
    * were, also for work running on it meanwhile. The returned row is
    * built from the collected result, so the hash compare pins the
    * exchange-free execution itself. */
  private def spjAudited(s: SparkSession, cat: String, wh: String,
      joinSql: String, alsoOk: Boolean = true)(aggs: Column*): DataFrame = {
    val spj = s.newSession()
    registerCatalog(spj, cat, wh)
    spj.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spj.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spj.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spj.conf.set("spark.sql.adaptive.enabled", "false")
    val join = spj.sql(joinSql)
    val plan = join.queryExecution.executedPlan
    val spjOk = alsoOk &&
      plan.collect { case e: ShuffleExchangeLike => e }.isEmpty &&
      plan.collect { case b: BatchScanExec => b }.size == 2
    val agg = join.agg(aggs.head, aggs.tail: _*)
    val row = agg.collect()(0)
    // non-null columns, as a tuple-built local row would carry
    val schema = StructType(agg.schema.fields.map(_.copy(nullable = false)) :+
      StructField("spj_ok", BooleanType, nullable = false))
    s.createDataFrame(
      java.util.Collections.singletonList(Row.fromSeq(row.toSeq :+ spjOk)), schema)
  }

  /** The SQL-catalog face under the hard oracle: a catalog table is
    * CREATEd and filled with `INSERT INTO ... SELECT` over plain SQL
    * ([[graft.sources.v2.GraftIcebergCatalog]]), then a filtered SQL
    * aggregate over it must match DuckDB over the raw parquet — DDL,
    * the V1Write increment, metadata schema resolution and transparent
    * file pruning composed under one hash. The catalog name embeds the
    * fixture dir (catalog instances cache per session; each dir gets
    * its own warehouse). */
  def q105SqlCatalog(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graft_${Integer.toHexString(dir.hashCode)}"
    val (wh, built) = amortizedIndexPath(s, dir, "iceberg_sqlcat",
      p => new java.io.File(p, "orders_cat/metadata/version-hint.text")
        .isFile, table = "orders")
    registerCatalog(s, cat, wh)
    if (!built) {
      s.sql(
        s"""CREATE TABLE $cat.orders_cat (
           |  O_ORDERKEY BIGINT NOT NULL,
           |  O_CUSTKEY BIGINT,
           |  O_ORDERSTATUS STRING,
           |  O_TOTALPRICE DOUBLE
           |) PARTITIONED BY (O_ORDERSTATUS)""".stripMargin)
      t(s, dir, "orders").createOrReplaceTempView("orders_src_q105")
      s.sql(
        s"""INSERT INTO $cat.orders_cat
           |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
           |FROM orders_src_q105""".stripMargin)
      ()
    }
    s.sql(
      s"""SELECT count(*) AS n_rows,
         |  CAST(sum(O_ORDERKEY) AS BIGINT) AS sum_keys,
         |  round(CAST(sum(CAST(O_TOTALPRICE AS DECIMAL(28,4))) AS DOUBLE), 2)
         |    AS sum_price
         |FROM $cat.orders_cat
         |WHERE O_ORDERSTATUS = 'F' AND O_ORDERKEY % 3 = 1""".stripMargin)
  }

  /** The north-star migration path EXECUTED end-to-end: the orders
    * fixture is loaded into an embedded Apache Derby database (the
    * stand-in source system — Derby ships on Spark's classpath), read
    * back through [[graft.api.SchemaTranslator.readJdbc]] as a
    * PARTITIONED JDBC scan (8 key-range splits, the shape a 1000-
    * executor migration read takes against DB2), migrated to an
    * Iceberg v2 table via `migrateTable`, and read back through the
    * DSv2 pushdown face — so "Spark read DB2 + write Iceberg" must
    * land on the same arithmetic DuckDB computes over the raw parquet.
    * The Derby load itself is driver-side JDBC batch inserts (it IS
    * the source system's pre-existing data, not part of the measured
    * migration path). */
  def q106JdbcMigrate(s: SparkSession, dir: String): DataFrame = {
    val tdef = graft.parse.Db2Parser.parse(
      """CREATE TABLE G.ORDERS_JDBC (
        |  O_ORDERKEY BIGINT NOT NULL,
        |  O_CUSTKEY BIGINT,
        |  O_ORDERSTATUS VARCHAR(1),
        |  O_TOTALPRICE DOUBLE
        |) PARTITION BY RANGE (O_ORDERSTATUS);""".stripMargin).tables.head
    val (path, built) = amortizedIndexPath(s, dir, "iceberg_jdbc",
      p => new java.io.File(p, "tab/metadata/version-hint.text").isFile,
      table = "orders")
    val tabPath = new java.io.File(path, "tab").getAbsolutePath
    if (!built) {
      val dbDir = new java.io.File(path, "db").getAbsolutePath
      val url = s"jdbc:derby:$dbDir;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        conn.setAutoCommit(false)
        conn.createStatement().executeUpdate("CREATE SCHEMA G")
        conn.createStatement().executeUpdate(
          "CREATE TABLE G.ORDERS_JDBC (O_ORDERKEY BIGINT NOT NULL, " +
            "O_CUSTKEY BIGINT, O_ORDERSTATUS VARCHAR(1), " +
            "O_TOTALPRICE DOUBLE)")
        val ps = conn.prepareStatement(
          "INSERT INTO G.ORDERS_JDBC VALUES (?, ?, ?, ?)")
        var n = 0
        t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .toLocalIterator().forEachRemaining { r =>
            ps.setLong(1, r.getLong(0)); ps.setLong(2, r.getLong(1))
            ps.setString(3, r.getString(2)); ps.setDouble(4, r.getDouble(3))
            ps.addBatch(); n += 1
            if (n % 2000 == 0) { ps.executeBatch(); () }
          }
        ps.executeBatch()
        conn.commit()
      } finally conn.close()
      // the migration read: key-range-partitioned JDBC scan
      val maxKey = {
        val c2 = java.sql.DriverManager.getConnection(url)
        try {
          val rs = c2.createStatement()
            .executeQuery("SELECT MAX(O_ORDERKEY) FROM G.ORDERS_JDBC")
          rs.next(); rs.getLong(1)
        } finally c2.close()
      }
      val src = graft.api.SchemaTranslator.readJdbc(s, url, tdef,
        partitionColumn = Some("O_ORDERKEY"), numPartitions = 8,
        lowerBound = 0L, upperBound = maxKey + 1)
      graft.api.SchemaTranslator.migrateTable(src, tdef, tabPath)
    }
    s.read.format("graft-iceberg").load(tabPath)
      .filter(col("O_ORDERSTATUS") === "P")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("O_ORDERKEY")).cast("bigint").as("sum_keys"),
        round(sum(col("O_TOTALPRICE").cast("decimal(28,4)"))
          .cast("double"), 2).as("sum_price"))
  }

  /** Schema EVOLUTION under the hard oracle: a catalog table is
    * created and filled (files written under schema v1), then `ALTER
    * TABLE ADD COLUMN` + `RENAME COLUMN` commit metadata versions
    * through the field-id machinery, a second insert lands files
    * under the evolved schema, and a pruned SQL aggregate reads BOTH
    * generations — old files resolve the renamed column BY FIELD ID
    * and null-fill the added one — landing on arithmetic DuckDB
    * computes over the raw parquet. The even/odd key split makes the
    * two schema generations' contributions separable in the oracle. */
  def q107SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graftevo_${Integer.toHexString(dir.hashCode)}"
    val (wh, built) = amortizedIndexPath(s, dir, "iceberg_evolution",
      p => new java.io.File(p, "orders_evo/metadata/version-hint.text")
        .isFile, table = "orders")
    registerCatalog(s, cat, wh)
    if (!built) {
      s.sql(
        s"""CREATE TABLE $cat.orders_evo (
           |  O_ORDERKEY BIGINT NOT NULL,
           |  O_CUSTKEY BIGINT,
           |  O_ORDERSTATUS STRING,
           |  O_TOTALPRICE DOUBLE
           |) PARTITIONED BY (O_ORDERSTATUS)""".stripMargin)
      t(s, dir, "orders").createOrReplaceTempView("orders_src_q107")
      s.sql(
        s"""INSERT INTO $cat.orders_evo
           |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
           |FROM orders_src_q107 WHERE o_orderkey % 2 = 0""".stripMargin)
      s.sql(s"ALTER TABLE $cat.orders_evo ADD COLUMN NEW_PRICE DOUBLE")
      s.sql(s"ALTER TABLE $cat.orders_evo RENAME COLUMN O_CUSTKEY TO CUST_ID")
      s.sql(
        s"""INSERT INTO $cat.orders_evo
           |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |  o_totalprice * 2
           |FROM orders_src_q107 WHERE o_orderkey % 2 = 1""".stripMargin)
      ()
    }
    s.sql(
      s"""SELECT count(*) AS n_rows,
         |  CAST(sum(CUST_ID) AS BIGINT) AS sum_cust,
         |  round(CAST(sum(CAST(coalesce(NEW_PRICE, 0) AS DECIMAL(28,4)))
         |    AS DOUBLE), 2) AS sum_new
         |FROM $cat.orders_evo
         |WHERE O_ORDERSTATUS = 'F'""".stripMargin)
  }

  /** HIDDEN PARTITIONING under the hard oracle — the Iceberg feature
    * that makes a 100 TB events table addressable by time without a
    * physical date column: `PARTITIONED BY (days(ts), truncate(2,
    * event_type))` lays the fixture into per-day, per-prefix
    * directories (transform values live ONLY in directories and
    * manifests; `ts`/`event_type` stay physical), and the canonical
    * half-open week query `ts >= d AND ts < d+7` prunes through the
    * day() transform with STRICT upper-bound semantics — the d+7
    * boundary day's files must SKIP, which only works because
    * LessThan pushes down as an exclusive bound. The in-row audit
    * pins all of it: files skipped, kept ∪ skipped == live set, every
    * kept file inside the seven matching `ts_day=` directories AND the
    * matching `event_type_trunc=pu` prefix directory. DuckDB recomputes
    * the same per-day aggregate from the raw parquet. */
  def q108HiddenPartitioning(s: SparkSession, dir: String): DataFrame = {
    val cat = s"grafthp_${Integer.toHexString(dir.hashCode)}"
    val (wh, built) = amortizedIndexPath(s, dir, "iceberg_hidden",
      p => new java.io.File(p, "events_day/metadata/version-hint.text")
        .isFile, table = "events")
    registerCatalog(s, cat, wh)
    if (!built) {
      s.sql(
        s"""CREATE TABLE $cat.events_day (
           |  EVENT_ID BIGINT NOT NULL,
           |  TS TIMESTAMP_NTZ,
           |  USER_ID BIGINT,
           |  EVENT_TYPE STRING,
           |  VALUE DOUBLE
           |) PARTITIONED BY (days(TS), truncate(2, EVENT_TYPE))""".stripMargin)
      // through the ts-type dispatcher (fixture generations vary the
      // parquet ts type); the UTC-session LTZ→NTZ cast is wall-clock
      // preserving, i.e. exactly DuckDB's naive reading
      FixtureQueries.events(s, dir)
        .createOrReplaceTempView("events_src_q108")
      // one task per day so the write lands a bounded file count (the
      // 100 TB shape: writers are clustered by the partition transform
      // before the fan-out, not sprayed across every directory)
      s.sql(
        s"""INSERT INTO $cat.events_day
           |SELECT event_id, CAST(ts AS TIMESTAMP_NTZ) AS ts, user_id,
           |  event_type, value
           |FROM events_src_q108 DISTRIBUTE BY CAST(ts AS DATE)""".stripMargin)
      ()
    }
    val path = s"$wh/events_day"
    val tdef = graft.sources.IcebergTableLoader.load(
      path, s.sparkContext.hadoopConfiguration)
    graft.sources.v2.GraftIcebergScans.clear()
    val agg = s.sql(
      s"""SELECT date_format(TS, 'yyyy-MM-dd') AS day,
         |  count(*) AS n_rows,
         |  CAST(sum(EVENT_ID) AS BIGINT) AS sum_ids,
         |  CAST(sum(CAST(VALUE AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
         |FROM $cat.events_day
         |WHERE TS >= TIMESTAMP_NTZ'2024-01-08 00:00:00'
         |  AND TS <  TIMESTAMP_NTZ'2024-01-15 00:00:00'
         |  AND EVENT_TYPE = 'purchase'
         |GROUP BY 1 ORDER BY 1""".stripMargin)
    agg.collect() // execute once so the scan report is on record
    val rep = graft.sources.v2.GraftIcebergScans.lastReport.get
    val (all, _) = graft.sources.IcebergPruning.planScan(
      s.sparkContext.hadoopConfiguration, path, tdef, Nil)
    // 2024-01-08 is epoch day 19730; the kept week is 19730..19736 —
    // the 19737 boundary day is EXCLUDED by the strict upper bound
    val weekDirs = (19730 to 19736).map(d => s"TS_day=$d").toSet
    val pruneOk = rep.skippedFiles.nonEmpty &&
      (rep.keptFiles ++ rep.skippedFiles).toSet == all.toSet &&
      rep.keptFiles.forall(p => weekDirs.exists(p.contains) &&
        p.contains("EVENT_TYPE_trunc=pu")) &&
      rep.bounds.size >= 3 // ts range sides + event_type eq translated
    agg.select(col("day"), col("n_rows"), col("sum_ids"), col("sum_val"),
      lit(pruneOk).as("prune_ok"))
  }

  /** The `t.partitions` METADATA TABLE under the hard oracle — the
    * observability face a 100 TB operator trusts for layout health:
    * over q108's day(ts)+truncate(2) hidden-partitioned events table,
    * every (day ordinal, type prefix) partition's record count as the
    * MANIFESTS record it must equal DuckDB recomputing the same
    * transforms arithmetically from the raw parquet
    * (floor(epoch/86400) and substr(…,1,2)) — pinning the writer's
    * transform values, the manifest round trip and the inspection
    * surface in one row set. */
  def q110PartitionsMeta(s: SparkSession, dir: String): DataFrame = {
    q108HiddenPartitioning(s, dir).collect() // ensures the table exists
    val cat = s"grafthp_${Integer.toHexString(dir.hashCode)}"
    s.sql(
      s"""SELECT partition['TS_day'] AS ts_day,
         |  partition['EVENT_TYPE_trunc'] AS event_type_trunc,
         |  CAST(sum(record_count) AS BIGINT) AS record_count
         |FROM $cat.events_day.partitions
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  /** SQL `DELETE FROM` under the hard oracle — the row-level-delete
    * stack behind the statement every warehouse user writes: the
    * orders fixture lands via the catalog, one DELETE with a mixed
    * partition-aligned + row-level predicate commits a merge-on-read
    * DELETE snapshot (position delete files; the engine has no
    * "metadata-only or refuse" cliff), and the per-status aggregate of
    * what remains must equal DuckDB's arithmetic complement on the raw
    * parquet. */
  def q109SqlDelete(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graftdel_${Integer.toHexString(dir.hashCode)}"
    val (wh, built) = amortizedIndexPath(s, dir, "iceberg_sql_delete",
      p => new java.io.File(p, "orders_del/metadata/version-hint.text")
        .isFile, table = "orders")
    registerCatalog(s, cat, wh)
    if (!built) {
      s.sql(
        s"""CREATE TABLE $cat.orders_del (
           |  O_ORDERKEY BIGINT NOT NULL,
           |  O_ORDERSTATUS STRING,
           |  O_TOTALPRICE DOUBLE
           |) PARTITIONED BY (O_ORDERSTATUS)""".stripMargin)
      t(s, dir, "orders").createOrReplaceTempView("orders_src_q109")
      s.sql(
        s"""INSERT INTO $cat.orders_del
           |SELECT o_orderkey, o_orderstatus, o_totalprice
           |FROM orders_src_q109""".stripMargin)
      s.sql(
        s"""DELETE FROM $cat.orders_del
           |WHERE O_ORDERSTATUS = 'O' AND O_ORDERKEY < 5000""".stripMargin)
      ()
    }
    s.sql(
      s"""SELECT O_ORDERSTATUS AS status, count(*) AS n_rows,
         |  CAST(sum(O_ORDERKEY) AS BIGINT) AS sum_keys,
         |  round(CAST(sum(CAST(O_TOTALPRICE AS DECIMAL(28,4)))
         |    AS DOUBLE), 2) AS sum_price
         |FROM $cat.orders_del
         |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** SQL `MERGE INTO` under the hard oracle — the daily CDC-upsert
    * write shape ([[graft.sources.v2.GraftRowLevelRewrite]]): the
    * target holds the 75% keyslice (k % 4 ≠ 3), the source derives a
    * change batch from every k % 3 = 0 key (deletes for k % 6 = 0,
    * updates otherwise, inserts for the target-absent keys), and ONE
    * MERGE statement applies all three action kinds as a single
    * merge-on-read delta snapshot. The read-back aggregate must equal
    * DuckDB computing the merged state arithmetically from the raw
    * parquet. Runs in the build phase only (DML is not idempotent);
    * a marker file gates re-runs. */
  def q111Merge(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graftmrg_${Integer.toHexString(dir.hashCode)}"
    val (wh, built) = amortizedIndexPath(s, dir, "iceberg_sql_merge",
      p => new java.io.File(p, "_built_merge").isFile, table = "orders")
    registerCatalog(s, cat, wh)
    if (!built) {
      clearWarehouse(s, wh)
      s.sql(
        s"""CREATE TABLE $cat.orders_mrg (
           |  O_ORDERKEY BIGINT NOT NULL,
           |  O_ORDERSTATUS STRING,
           |  O_TOTALPRICE DOUBLE
           |) PARTITIONED BY (O_ORDERSTATUS)""".stripMargin)
      t(s, dir, "orders").createOrReplaceTempView("orders_src_q111")
      s.sql(
        s"""INSERT INTO $cat.orders_mrg
           |SELECT o_orderkey, o_orderstatus, o_totalprice
           |FROM orders_src_q111 WHERE o_orderkey % 4 <> 3""".stripMargin)
      s.sql(
        s"""MERGE INTO $cat.orders_mrg t
           |USING (SELECT o_orderkey AS k,
           |         o_orderkey * 10.0 AS new_price,
           |         o_orderkey * 5.0 AS ins_price
           |       FROM orders_src_q111 WHERE o_orderkey % 3 = 0) s
           |ON t.O_ORDERKEY = s.k
           |WHEN MATCHED AND s.k % 6 = 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET O_TOTALPRICE = s.new_price
           |WHEN NOT MATCHED THEN
           |  INSERT (O_ORDERKEY, O_ORDERSTATUS, O_TOTALPRICE)
           |  VALUES (s.k, 'N', s.ins_price)""".stripMargin)
      java.nio.file.Files.write(
        new java.io.File(wh, "_built_merge").toPath, "1\n".getBytes("UTF-8"))
      ()
    }
    s.sql(
      s"""SELECT O_ORDERSTATUS AS status, count(*) AS n_rows,
         |  CAST(sum(O_ORDERKEY) AS BIGINT) AS sum_keys,
         |  round(CAST(sum(CAST(O_TOTALPRICE AS DECIMAL(28,4)))
         |    AS DOUBLE), 2) AS sum_price
         |FROM $cat.orders_mrg
         |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** STORAGE-PARTITIONED JOIN under the hard oracle: two catalog
    * tables bucketed by `bucket(16, O_ORDERKEY)` hold overlapping
    * order slices; with Spark's v2 bucketing enabled their key join
    * plans with ZERO shuffle exchanges (the key-grouped batch scan
    * reports `KeyGroupedPartitioning`, `bucket` resolves through the
    * catalog's FunctionCatalog) — the audit arrives as a Spark-side
    * boolean, and the aggregate is COLLECTED from the shuffle-free
    * execution itself, so the hash compare pins the exchanged and
    * exchange-free plans to the same rows. At 100 TB this is the
    * fact-to-fact join without the exchange. */
  def q113SpjJoin(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graftspj_${Integer.toHexString(dir.hashCode)}"
    val (wh, built) = amortizedIndexPath(s, dir, "iceberg_spj",
      p => new java.io.File(p, "_built_spj").isFile, table = "orders")
    registerCatalog(s, cat, wh)
    if (!built) {
      clearWarehouse(s, wh)
      t(s, dir, "orders").createOrReplaceTempView("orders_src_q113")
      s.sql(
        s"""CREATE TABLE $cat.spj_a (
           |  O_ORDERKEY BIGINT NOT NULL, PA DOUBLE
           |) PARTITIONED BY (bucket(16, O_ORDERKEY))""".stripMargin)
      s.sql(
        s"""INSERT INTO $cat.spj_a
           |SELECT o_orderkey, o_totalprice FROM orders_src_q113
           |WHERE o_orderkey % 4 <> 3""".stripMargin)
      s.sql(
        s"""CREATE TABLE $cat.spj_b (
           |  O_ORDERKEY BIGINT NOT NULL, PB DOUBLE
           |) PARTITIONED BY (bucket(16, O_ORDERKEY))""".stripMargin)
      s.sql(
        s"""INSERT INTO $cat.spj_b
           |SELECT o_orderkey, o_totalprice * 0.5 FROM orders_src_q113
           |WHERE o_orderkey % 3 <> 2""".stripMargin)
      java.nio.file.Files.write(
        new java.io.File(wh, "_built_spj").toPath, "1\n".getBytes("UTF-8"))
      ()
    }
    spjAudited(s, cat, wh,
      s"""SELECT a.O_ORDERKEY AS k, a.PA + b.PB AS p
         |FROM $cat.spj_a a JOIN $cat.spj_b b
         |ON a.O_ORDERKEY = b.O_ORDERKEY""".stripMargin)(
      count(lit(1)).as("n_rows"),
      sum(col("k")).cast("bigint").as("sum_keys"),
      round(sum(col("p").cast("decimal(28,4)")).cast("double"), 2)
        .as("sum_price"))
  }

  /** STORAGE-PARTITIONED JOIN over a MoR table that CARRIES position
    * delete files — the CDC interaction q113 can't see: one side is
    * maintained by SQL DELETE + MERGE (delta snapshots with position
    * deletes), and the join must STILL plan zero exchanges because the
    * key-grouped scan applies the bucket's deletes in-reader instead
    * of stepping aside. The audit boolean pins (a) shuffle-free plan,
    * (b) both sides native batch scans, (c) delete files actually live
    * on the merged side — so a regression to the fall-back path (or a
    * premature compaction hiding the deletes) flips the hash. */
  def q114SpjDeleteJoin(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graftspjd_${Integer.toHexString(dir.hashCode)}"
    val (wh, built) = amortizedIndexPath(s, dir, "iceberg_spj_del",
      p => new java.io.File(p, "_built_spjd").isFile, table = "orders")
    registerCatalog(s, cat, wh)
    if (!built) {
      clearWarehouse(s, wh)
      t(s, dir, "orders").createOrReplaceTempView("orders_src_q114")
      s.sql(
        s"""CREATE TABLE $cat.spjd_a (
           |  O_ORDERKEY BIGINT NOT NULL, PA DOUBLE
           |) PARTITIONED BY (bucket(16, O_ORDERKEY))""".stripMargin)
      s.sql(
        s"""INSERT INTO $cat.spjd_a
           |SELECT o_orderkey, o_totalprice FROM orders_src_q114
           |WHERE o_orderkey % 4 <> 3""".stripMargin)
      s.sql(
        s"""CREATE TABLE $cat.spjd_b (
           |  O_ORDERKEY BIGINT NOT NULL, PB DOUBLE
           |) PARTITIONED BY (bucket(16, O_ORDERKEY))""".stripMargin)
      s.sql(
        s"""INSERT INTO $cat.spjd_b
           |SELECT o_orderkey, o_totalprice * 0.5 FROM orders_src_q114
           |WHERE o_orderkey % 3 <> 2""".stripMargin)
      // the MoR maintenance a CDC pipeline runs daily: a DELETE, then
      // a MERGE re-pricing a slice — both commit position deletes
      s.sql(s"DELETE FROM $cat.spjd_b WHERE O_ORDERKEY % 5 = 0")
      s.sql(
        s"""MERGE INTO $cat.spjd_b t
           |USING (SELECT o_orderkey AS mk, o_orderkey * 2.0 AS np
           |       FROM orders_src_q114 WHERE o_orderkey % 7 = 1) s
           |ON t.O_ORDERKEY = s.mk
           |WHEN MATCHED THEN UPDATE SET PB = s.np""".stripMargin)
      java.nio.file.Files.write(
        new java.io.File(wh, "_built_spjd").toPath, "1\n".getBytes("UTF-8"))
      ()
    }
    // the `.files` inspection table is the public surface: content=1
    // rows are live position delete files
    val deletesLive = s.sql(
      s"SELECT count(*) FROM $cat.spjd_b.files WHERE content = 1")
      .collect()(0).getLong(0) > 0L
    spjAudited(s, cat, wh,
      s"""SELECT a.O_ORDERKEY AS k, a.PA + b.PB AS p
         |FROM $cat.spjd_a a JOIN $cat.spjd_b b
         |ON a.O_ORDERKEY = b.O_ORDERKEY""".stripMargin, deletesLive)(
      count(lit(1)).as("n_rows"),
      sum(col("k")).cast("bigint").as("sum_keys"),
      round(sum(col("p").cast("decimal(28,4)")).cast("double"), 2)
        .as("sum_price"))
  }

  /** STORAGE-PARTITIONED JOIN over IDENTITY-partitioned layouts — the
    * most common Iceberg table shape (r16): customers laid out by
    * `identity(nationkey)` joined to an identity-partitioned nation
    * dim on the partition column itself. Identity values are
    * DIRECTORY-ENCODED (absent from file contents); the key-grouped
    * scan re-injects them as per-file constants from manifest
    * metadata, so the audit's `sum_keys` — computed FROM the injected
    * column — fails the hash if injection ever returns wrong values,
    * and `spj_ok` pins (a) zero exchanges, (b) both sides native
    * batch scans. */
  def q115SpjIdentityJoin(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graftspji_${Integer.toHexString(dir.hashCode)}"
    val (wh, built) = amortizedIndexPath(s, dir, "iceberg_spj_ident",
      p => new java.io.File(p, "_built_spji").isFile, table = "customer")
    registerCatalog(s, cat, wh)
    if (!built) {
      clearWarehouse(s, wh)
      t(s, dir, "customer").createOrReplaceTempView("customer_src_q115")
      t(s, dir, "nation").createOrReplaceTempView("nation_src_q115")
      s.sql(
        s"""CREATE TABLE $cat.spji_c (
           |  C_CUSTKEY BIGINT NOT NULL, NK BIGINT NOT NULL, ACCT DOUBLE
           |) PARTITIONED BY (NK)""".stripMargin)
      s.sql(
        s"""INSERT INTO $cat.spji_c
           |SELECT c_custkey, CAST(c_nationkey AS BIGINT), c_acctbal
           |FROM customer_src_q115""".stripMargin)
      s.sql(
        s"""CREATE TABLE $cat.spji_n (
           |  NK BIGINT NOT NULL, NNAME STRING
           |) PARTITIONED BY (NK)""".stripMargin)
      s.sql(
        s"""INSERT INTO $cat.spji_n
           |SELECT CAST(n_nationkey AS BIGINT), n_name
           |FROM nation_src_q115""".stripMargin)
      java.nio.file.Files.write(
        new java.io.File(wh, "_built_spji").toPath, "1\n".getBytes("UTF-8"))
      ()
    }
    spjAudited(s, cat, wh,
      s"""SELECT c.NK AS k, c.ACCT AS acct, n.NNAME AS nname
         |FROM $cat.spji_c c JOIN $cat.spji_n n
         |ON c.NK = n.NK""".stripMargin)(
      count(lit(1)).as("n_rows"),
      sum(col("k")).cast("bigint").as("sum_keys"),
      round(sum(col("acct").cast("decimal(28,4)")).cast("double"), 2)
        .as("sum_acct"),
      sum(length(col("nname")).cast("bigint")).as("sum_name_len"))
  }

  /** SQL `UPDATE` under the hard oracle: a conditioned in-place
    * rewrite (k % 5 = 2 within one partition) commits one delta
    * snapshot; the read-back aggregate must equal DuckDB applying the
    * same arithmetic to the raw parquet. The no-matching-row and
    * empty-table no-op legs live in RowLevelSpec. */
  def q112SqlUpdate(s: SparkSession, dir: String): DataFrame = {
    val cat = s"graftupd_${Integer.toHexString(dir.hashCode)}"
    val (wh, built) = amortizedIndexPath(s, dir, "iceberg_sql_update",
      p => new java.io.File(p, "_built_update").isFile, table = "orders")
    registerCatalog(s, cat, wh)
    if (!built) {
      clearWarehouse(s, wh)
      s.sql(
        s"""CREATE TABLE $cat.orders_upd (
           |  O_ORDERKEY BIGINT NOT NULL,
           |  O_ORDERSTATUS STRING,
           |  O_TOTALPRICE DOUBLE
           |) PARTITIONED BY (O_ORDERSTATUS)""".stripMargin)
      t(s, dir, "orders").createOrReplaceTempView("orders_src_q112")
      s.sql(
        s"""INSERT INTO $cat.orders_upd
           |SELECT o_orderkey, o_orderstatus, o_totalprice
           |FROM orders_src_q112""".stripMargin)
      s.sql(
        s"""UPDATE $cat.orders_upd
           |SET O_TOTALPRICE = O_TOTALPRICE * 2.0 + 1.0
           |WHERE O_ORDERSTATUS = 'O' AND O_ORDERKEY % 5 = 2""".stripMargin)
      java.nio.file.Files.write(
        new java.io.File(wh, "_built_update").toPath, "1\n".getBytes("UTF-8"))
      ()
    }
    s.sql(
      s"""SELECT O_ORDERSTATUS AS status, count(*) AS n_rows,
         |  CAST(sum(O_ORDERKEY) AS BIGINT) AS sum_keys,
         |  round(CAST(sum(CAST(O_TOTALPRICE AS DECIMAL(28,4)))
         |    AS DOUBLE), 2) AS sum_price
         |FROM $cat.orders_upd
         |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Per-label embedding statistics: count and L2-norm rollups — the
    * quick corpus-health check before ANN indexing (degenerate or
    * unnormalized embedding batches show up as norm outliers). Norms
    * are per-row sequential folds (oracle-portable, q22's argument);
    * the cross-row sum goes through DECIMAL so partial-aggregation
    * order can't move low bits. */
  def q48LabelStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label"),
        graft.functions.VectorFunctions.normNative(col("embedding")).as("norm"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        round(sum(col("norm").cast("decimal(28,12)")).cast("double"), 6)
          .as("sum_norm"),
        round(min(col("norm")), 6).as("min_norm"),
        round(max(col("norm")), 6).as("max_norm"))
      .orderBy("label")

  /** One-row corpus datacard: the daily health summary a pipeline
    * operator watches — volume (docs/tokens/chars), diversity
    * (sources/langs), exact-duplicate mass (md5 fingerprint groups)
    * and total quality mass (DECIMAL-routed so partial-agg order
    * can't move low bits). Two scans + an O(#fingerprints) rollup;
    * every number is exact integer or decimal arithmetic. */
  def q58Datacard(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("n_tokens", size(words(col("text"))))
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
      .withColumn("fp", md5(col("text")))
    val dupStats = docs.groupBy("fp").agg(count(lit(1)).as("n"))
      .agg(count(when(col("n") > 1, 1)).as("n_dup_groups"),
        coalesce(sum(when(col("n") > 1, col("n"))), lit(0L))
          .cast("bigint").as("n_dup_docs"))
    docs.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_tokens")).cast("bigint").as("sum_tokens"),
        sum(col("n_chars")).cast("bigint").as("sum_chars"),
        round(sum(col("quality").cast("decimal(28,12)")).cast("double"), 6)
          .as("sum_quality"))
      .crossJoin(dupStats)
  }

  /** Gopher-style intra-document repetition signals: most-frequent-token
    * mass and duplicate-bigram mass, plus an integer-arithmetic
    * repetition gate (top token ≥ 20% of the doc — exact, no float
    * division crosses the engine boundary). Every signal is a per-row
    * array expression: at 100 TB this is a pure map over the scan with
    * columns pruned to (doc_id, text); nothing explodes, nothing
    * shuffles before the final presentation sort. */
  def q61Repetition(s: SparkSession, dir: String): DataFrame = {
    val w = words(col("text"))
    // native RepetitionStats: one generated call per row — the
    // HOF-fold formulation (kept in TextFunctions as the spec-checked
    // reference) costs ~3 s of interpreted lambda dispatch at sf0.1
    val stats = graft.functions.RepetitionStats(col("text"), 2)
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        size(w).as("n_tokens"),
        stats.as("__st"))
      .select(
        col("doc_id"), col("n_tokens"),
        col("__st.top_token").as("top_token"),
        col("__st.top_token_n").as("top_token_n"),
        col("__st.dup_ngram_n").as("dup_bigram_n"),
        // n_tokens >= 10 precondition: repetition filters only apply to
        // docs with enough signal — without it an empty doc ([""] after
        // split, n=1, top=1) would gate as maximally repetitive
        (col("__st.top_token_n") * 5 >= col("n_tokens") &&
          col("n_tokens") >= 10).as("is_repetitive"))
      .orderBy("doc_id")
  }

  /** PII detect + redact. The fixture corpus carries no PII, so each doc
    * is augmented with a deterministic doc_id-derived suffix (an email on
    * every 3rd doc, a phone on every 2nd, an IPv4 on every 5th) — the
    * oracle synthesizes the identical suffix, so the match counts AND the
    * full redacted text hash-check across engines. Pure scan-side
    * projection, like every per-doc operator here. */
  def q62PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val aug = concat(
      col("text"),
      when(pmod(id, lit(3)) === 0,
        concat(lit(" contact user"), id.cast("string"), lit("@mail.example.com")))
        .otherwise(lit("")),
      when(pmod(id, lit(2)) === 0,
        concat(lit(" call +1-555-"),
          lpad(pmod(id, lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(pmod(id, lit(5)) === 0,
        concat(lit(" host 10."), pmod(id, lit(256)).cast("string"), lit(".0.1")))
        .otherwise(lit("")))
    t(s, dir, "documents")
      .select(col("doc_id"), aug.as("aug"))
      .select(
        col("doc_id"),
        TextFunctions.piiEmailCount(col("aug")).as("n_emails"),
        TextFunctions.piiPhoneCount(col("aug")).as("n_phones"),
        TextFunctions.piiIpv4Count(col("aug")).as("n_ips"),
        TextFunctions.redactPii(col("aug")).as("redacted"))
      .orderBy("doc_id")
  }

  /** Corpus-wide line-level dedup (boilerplate scrub): chunks that
    * appear in more than one document are dropped everywhere and each
    * doc is reassembled from its surviving chunks — exact duplicate
    * docs collapse to empty, shared openings are scrubbed from all
    * carriers. The full cleaned text hash-checks against the oracle. */
  def q63LineDedup(s: SparkSession, dir: String): DataFrame =
    // MEMORY_AND_DISK at bench scale: the chunk table has three
    // consumers (same rationale as q19/q20's shinglePersist). Like the
    // shingle persists, the cache entry outlives this call — the
    // harnesses (Bench/Verify/Profile) clear the CacheManager per
    // pass; a long-lived session embedding this query should pass NONE
    // or own the unpersist.
    Dedup.dropRepeatedChunks(t(s, dir, "documents"), "doc_id", "text",
      chunkTokens = 10, maxDocs = 1,
      chunkPersist = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .orderBy("doc_id")

  /** C4-style URL/domain blocklist filter. Fixture docs carry no URLs,
    * so every 4th doc gets a deterministic doc_id-derived URL suffix
    * (oracle synthesizes the identical one); docs whose first URL host
    * is on the blocklist are dropped. The blocklist is an in-plan
    * literal set — the realistic shape at scale too, where a blocklist
    * (even millions of domains) broadcasts rather than shuffling the
    * corpus. Pure scan-side extract + filter. */
  def q64UrlFilter(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val aug = concat(col("text"),
      when(pmod(id, lit(4)) === 0,
        concat(lit(" see https://site"), pmod(id, lit(7)).cast("string"),
          lit(".example.org/p"), id.cast("string")))
        .otherwise(lit("")))
    val blocklist = Seq("site0.example.org", "site3.example.org", "site5.example.org")
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.extractDomain(aug).as("domain"))
      .filter(!col("domain").isin(blocklist: _*))
      .orderBy("doc_id")
  }

  /** Count-min heavy hitters: top-20 tokens with exact counts, the
    * sketch estimate folded into a bound check. Hash-checked: the
    * oracle reproduces the exact top-20 (count desc, token asc
    * tie-break) and expects est_in_bound = true on every row — if the
    * sketch drifted out of its guarantee the hash goes red. The raw
    * estimate values stay engine-internal (SketchSpec asserts their
    * exact bounds directly). Deterministic: fixed seed. */
  def q65HeavyHitters(s: SparkSession, dir: String): DataFrame =
    Sketches.tokenHeavyHittersAudit(t(s, dir, "documents"), "text", k = 20)

  /** Exact duplicated-substring removal (token windows, stride 1):
    * every 15-token span occurring in ≥2 docs is scrubbed from all
    * carriers; docs rebuilt from surviving tokens. The full cleaned
    * text hash-checks against the oracle (same contract as q63, which
    * only catches boundary-ALIGNED repeats — this catches any offset). */
  def q69SubstringDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.dropDuplicatedSpans(t(s, dir, "documents"), "doc_id", "text",
      windowTokens = 15, minDocs = 2,
      tokenPersist = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .orderBy("doc_id")

  /** SemDeDup (exact mode): drop every embedding with an earlier
    * (lower-id) cosine-≥0.40 neighbor; survivors hash-checked. The
    * clustered scale path (k-means cells bounding the quadratic term)
    * is spec-asserted to keep a superset of these survivors. */
  def q70SemanticDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(t(s, dir, "embeddings"), threshold = 0.40)
      .select("vec_id").orderBy("vec_id")

  /** SemDeDup CLUSTERED mode — the production 100 TB path — held
    * against the exact anchor inside one oracle row (the q65
    * audit-boolean pattern): cluster-local comparisons can only MISS
    * pairs the exact mode sees, so clustered survivors must be a
    * SUPERSET of exact survivors; the row carries the oracle-computable
    * exact counts plus the superset invariant folded to a boolean the
    * oracle asserts as literal true. Scale shape: the clustered mode's
    * quadratic term is bounded by cell sizes (pairs shuffle on cid) —
    * ScaleBench probes it standalone as q70_clustered, where the exact
    * mode is a fixture-bounded anchor. */
  def q70cClusteredDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val exactIds = Similarity.semanticDedup(emb, threshold = 0.40)
        .select("vec_id")
      val clustered = Similarity.semanticDedup(emb, threshold = 0.40,
        nClusters = 8, nIters = 3)
      val nVecs = emb.count()
      // ONE job for both invariant counts (n_exact and the anti-join
      // violation count ride the same left join + aggregate), which
      // also leaves exactIds single-consumer — no persist needed
      val stats = exactIds
        .join(clustered.select(col("vec_id"), lit(1).as("__hit")),
          Seq("vec_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          // coalesce: sum over an EMPTY exactIds is NULL, and the
          // ungrouped agg still emits one row — getLong would NPE
          coalesce(sum(when(col("__hit").isNull, 1L).otherwise(0L)),
            lit(0L)).as("violations"))
        .head()
      Seq((nVecs, stats.getLong(0), stats.getLong(1) == 0L))
        .toDF("n_vecs", "n_exact", "superset_ok")
    } finally { emb.unpersist(false); () }
  }

  /** Positional inverted index + phrase search: the top-5 trigram
    * phrases (count desc, phrase asc) each located via the postings
    * m-way positional self-join; per-phrase doc counts, occurrence
    * counts and id checksums hash-check against the oracle's direct
    * trigram formulation — two independent phrase-matching plans
    * agreeing on the same answer. */
  def q71PhraseSearch(s: SparkSession, dir: String): DataFrame =
    Search.topPhraseStats(t(s, dir, "documents"), "doc_id", "text", n = 5)
      .orderBy("phrase")

  /** q71 over the MATERIALIZED positional index: [[Search.writeIndex]]
    * builds the token-bucketed postings layout once per fixture
    * generation (fingerprint-keyed tmp path — a regenerated fixture
    * rebuilds, repeat runs amortize), then every phrase answers through
    * [[Search.phraseProbe]]'s bucket-pruned scans. Carries q71's oracle
    * verbatim — the occurrence core is shared, so the indexed probes
    * must hash-match the live-postings form exactly. Phrase MINING
    * stays corpus-side (a build-time trigram aggregate, not a probe);
    * the probes themselves never rescan the corpus (PlanSpec-pinned). */
  def q71PhraseSearchIndexed(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val (idx, built) = amortizedIndexPath(s, dir, "search_index",
      p => Search.indexExists(s, p))
    if (!built) Search.writeIndex(docs, "doc_id", "text", idx, nBuckets = 16)
    Search.topPhraseStatsIndexed(s, idx, docs, "doc_id", "text", n = 5)
      .orderBy("phrase")
  }

  /** The AMORTIZED, fully corpus-free face of the phrase index
    * (q79_indexed_probe's pattern): probe-only timing over a prebuilt
    * [[Search.writeIndex]] layout. The phrase list is mined ONCE at
    * build time (a build artifact, like the index itself) and saved
    * beside the layout; after first touch every run reads the 5-phrase
    * list plus the phrases' bucket directories and nothing else —
    * q71_indexed still times mining (an intentional corpus-side
    * aggregate); this row is the bare probe's number. Carries q71's
    * oracle verbatim (shared occurrence core). */
  def q71IndexedProbe(s: SparkSession, dir: String): DataFrame = {
    val (idx, phrases) = amortizedPhraseIndex(s, dir)
    Search.phraseStatsProbe(s, idx, phrases).orderBy("phrase")
  }

  /** The amortized phrase-index build shared by q71_indexed_probe and
    * q92: the [[Search.writeIndex]] layout plus the 5-phrase mining
    * artifact saved beside it at build time (mining is a build-time
    * corpus aggregate, like the index). Returns (index path, sorted
    * phrase list); after first touch nothing here scans the corpus. */
  private def amortizedPhraseIndex(s: SparkSession,
      dir: String): (String, Seq[String]) = {
    import s.implicits._
    val (idx, built) = amortizedIndexPath(s, dir, "search_index",
      p => Search.indexExists(s, p))
    if (!built)
      Search.writeIndex(t(s, dir, "documents"), "doc_id", "text", idx,
        nBuckets = 16)
    val phrasesPath = s"$idx/phrases"
    val fs = new org.apache.hadoop.fs.Path(phrasesPath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(phrasesPath)))
      Search.topPhrases(t(s, dir, "documents"), "doc_id", "text", 5)
        .toDF("phrase")
        .coalesce(1).write.mode("overwrite").parquet(phrasesPath)
    val phrases = s.read.parquet(phrasesPath)
      .collect().map(_.getString(0)).sorted.toSeq
    (idx, phrases)
  }

  /** Ranked phrase retrieval — the composition of the two sibling
    * index layouts ([[Bm25.phraseRankedSearch]]): per mined phrase,
    * the documents containing it EXACTLY (positional index), ranked
    * by BM25 over the phrase's terms (BM25 index), top-10. Runs the
    * `linearIdf` exact-rational variant so the whole composed ranker
    * hash-checks against DuckDB (q79's float discipline); both
    * indexes and the phrase list amortize per fixture generation, so
    * repeat runs are corpus-free end to end. */
  def q92PhraseRankedBm25(s: SparkSession, dir: String): DataFrame = {
    val (sIdx, phrases) = amortizedPhraseIndex(s, dir)
    val (bIdx, bBuilt) = amortizedIndexPath(s, dir, "bm25_index",
      p => Bm25.indexExists(s, p))
    if (!bBuilt)
      Bm25.writeIndex(t(s, dir, "documents"), "doc_id", "text", bIdx,
        nBuckets = 16)
    Bm25.phraseRankedSearch(s, bIdx, sIdx, phrases, "doc_id", k = 10,
      linearIdf = true)
      .orderBy("phrase", "rk")
  }

  /** N-gram novelty ("contribution") scoring: per document, the
    * fraction of its stride-1 8-token windows whose text FIRST occurs
    * in an earlier (lower-id) document — the incremental-value signal
    * a curation pipeline ranks candidate docs by. novelty = 1 −
    * seen-fraction; short docs (no full window) score 1.0. One
    * window-gram shuffle (min-doc aggregation) + one join back —
    * the same shapes as q69 minus the rebuild. */
  def q72Novelty(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    val docs = t(s, dir, "documents")
    // windows shuffle as native [[graft.functions.TokenWindowHashes]]
    // 8-byte hashes (q69's discipline): only equality feeds the
    // first-seen math, so the result is unchanged and the exchange
    // never carries window text
    val wins = docs.select(col("doc_id"), explode(
      graft.functions.TokenWindowHashes(col("text"), k)).as("gram"))
    val firstSeen = wins.groupBy("gram").agg(min(col("doc_id")).as("first_doc"))
    val flagged = wins.join(firstSeen, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L)).as("n_seen"))
    docs.select("doc_id").join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"),
        when(coalesce(col("n_windows"), lit(0L)) === 0, lit(1.0))
          .otherwise(round(lit(1.0) -
            col("n_seen").cast("double") / col("n_windows"), 6)).as("novelty"))
      .orderBy("doc_id")
  }

  /** Per-document TF-IDF top-3 distinctive terms via the bounded
    * [[TopK]] aggregator (shuffle carries O(docs·3), never every
    * scored term). Weighting is tf · N/df — the LINEAR inverse
    * document frequency, chosen over the usual log damping because
    * integer-ratio double division is bit-identical across engines
    * (ln is not guaranteed to be); same ranking plan either way.
    * Stopwords excluded like q47. */
  def q73TfIdf(s: SparkSession, dir: String): DataFrame = {
    val stop = TextFunctions.Stopwords("en").toSeq
    val docs = t(s, dir, "documents")
    val terms = docs
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .filter(!col("term").isin(stop: _*) && col("term") =!= "")
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDf = docs.agg(countDistinct(col("doc_id")).cast("double").as("__n"))
    val scored = tf.join(df, "term").crossJoin(broadcast(nDf))
      .select(col("doc_id"), col("term"),
        round(col("tf") * (col("__n") / col("df")), 6).as("score"))
    TopK.perStringKeyStringId(scored, "doc_id", "term", "score", k = 3)
      .select(col("doc_id").cast("bigint").as("doc_id"), col("rk"),
        col("term"), col("score"))
      .orderBy("doc_id", "rk")
  }

  /** Distributed BPE tokenizer training: the first 12 learned merges
    * over the corpus (rank order). No SQL oracle — iterative tokenizer
    * learning is not SQL-expressible (rows-only driver check, like the
    * recall/sketch rows); exactness is spec-pinned instead: the
    * distributed trainer equals a sequential reference implementation
    * on the same corpus (PipelineSpec). */
  def q74Bpe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Bpe.trainMerges(t(s, dir, "documents"), "text", nMerges = 12)
      .zipWithIndex
      .map { case ((a, b), i) => (i + 1, a, b, a + b) }
      .toDF("rank", "left", "right", "merged")
  }

  // ---------------------------------------------------- language-model filter

  /** CCNet-style LM quality filter, lookup layer: train the 1/2/3-gram
    * count tables on a reference slice (doc_id % 5 == 0) and audit every
    * document's stupid-backoff resolution — per doc, how many trigram
    * positions matched at each order plus the exact count mass matched
    * there. Integers end-to-end, so the DuckDB oracle pins the whole
    * distributed train + triple-left-join score chain bit-for-bit; the
    * float score in q76 builds on exactly these lookups. */
  def q75LmBackoff(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val model =
      LanguageModel.train(docs.filter(col("doc_id") % 5 === 0), "text")
    LanguageModel.backoffStats(docs, "doc_id", "text", model).orderBy("doc_id")
  }

  /** Stupid-backoff average log-probability per document — the actual
    * gate score (CCNet thresholds the perplexity analogue). ln() is
    * transcendental so there is no cross-engine SQL oracle (rows-only
    * driver check, like q74); exactness is spec-pinned instead against
    * a sequential in-JVM scorer (LanguageModelSpec), and q75 already
    * hash-pins the lookup layer the score folds over. */
  def q76LmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val model =
      LanguageModel.train(docs.filter(col("doc_id") % 5 === 0), "text")
    LanguageModel.avgLogProb(docs, "doc_id", "text", model)
      .select(col("doc_id"), col("n_pos"),
        round(col("avg_logprob"), 6).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** Hashed bag-of-{uni,bi}gram featurizer audit — the integer face of
    * the quality classifier (q78): per doc, how many of the 4096
    * hash buckets it touches, total gram mass, and a bucket-weighted
    * checksum. Pins tokenize → n-gram → md5-fold-hash → bucket → count
    * bit-for-bit against DuckDB. */
  def q77LrFeatures(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val per = QualityClassifier.features(docs, "doc_id", "text", numBuckets = 4096)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("v")).cast("bigint").as("n_grams"),
        sum(col("b") * col("v")).cast("bigint").as("checksum"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_buckets"), lit(0L)).as("n_buckets"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("checksum"), lit(0L)).as("checksum"))
      .orderBy("doc_id")
  }

  /** fastText-style quality classifier, trained and scored in-plan:
    * logistic regression over q77's hashed features, full-batch GD
    * (8 iters, lr 1.0), labels distilled from the q16 quality-score
    * gate. Iterative float training is not SQL-expressible → rows-only
    * driver check (like q74/q76); the trainer is spec-pinned against a
    * sequential in-JVM reference (QualityClassifierSpec) and its
    * integer featurizer layer is q77's hash-checked oracle. */
  def q78LrQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // one row per doc but derived from a full-text qualityScore scan —
    // persist so the 8 GD iterations don't re-run the heuristics;
    // Verify/Bench per-query hygiene (clearCache + persistent-RDD
    // sweep) owns the release of both persists here
    val labels = docs.select(col("doc_id"),
      (TextFunctions.qualityScore(col("text")) >= 0.5).cast("int").as("label"))
      .repartition(col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // scanned 2× per GD iteration; pre-partitioned on doc_id so the
    // cached partitioning satisfies BOTH per-iteration consumers (the
    // margin groupBy(doc_id) and the gradient join) — per-iteration
    // shuffle mass drops to the one-row-per-doc residual table, never
    // the feature table (13.2 s → see BASELINE.md post-fix numbers)
    val feats = QualityClassifier.features(docs, "doc_id", "text", 4096)
      .repartition(col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = QualityClassifier.train(feats, labels, "doc_id", iters = 8, lr = 1.0)
    QualityClassifier.score(feats, w, docs, "doc_id")
      .join(labels, Seq("doc_id"))
      .select(col("doc_id"), col("label"),
        round(col("prob"), 6).as("prob"),
        (col("prob") >= 0.5).cast("int").as("pred"))
      .orderBy("doc_id")
  }

  /** BM25 ranked retrieval: 3 mined probe queries (top-9 non-stopword
    * terms by df, 3 terms each) → top-10 docs per query through the
    * bounded TopK aggregator. Runs the `linearIdf` variant so every
    * per-term contribution is exact rational arithmetic and the
    * cross-term sum DECIMAL-routes — the whole ranker hash-checks
    * against DuckDB; the production log-idf form shares the plan and
    * is spec-pinned (Bm25Spec). */
  def q79Bm25(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // NOTE (r16): measured and deliberately left LAZY. Materializing
    // the mined probes as a local relation (and/or persisting tf)
    // cuts the redundant corpus passes the probe subtree's plan
    // references pay — but those passes run CONCURRENTLY inside one
    // job graph, while the collect serializes a full driver-blocking
    // job ahead of the search: 1.21 s → 1.65 s (collect only) →
    // 2.23 s (collect + tf persist) at sf0.1/32 cpus, 5-rep medians.
    // The indexed faces (q79_bm25_indexed, q79_indexed_probe) DO
    // collect their probes — there the mining source is the tiny df
    // table, not the corpus.
    val probes = Bm25.minedQueries(docs, "doc_id", "text",
      nQueries = 3, termsPerQuery = 3)
    Bm25.search(docs, "doc_id", "text", probes, k = 10, linearIdf = true)
      .orderBy("q_id", "rk")
  }

  /** q79 over the MATERIALIZED index: build the [[Bm25.writeIndex]]
    * bucket layout once per run (under java.io.tmpdir, keyed by the
    * fixture dir so reps overwrite instead of accumulating), then
    * answer the same mined probes through [[Bm25.searchIndex]]. Carries
    * q79's oracle verbatim — the scoring core is shared, so the indexed
    * probe must hash-match the in-memory form exactly. The index build
    * is deliberately INSIDE the timed query: the honest comparison for
    * a one-shot probe (build+probe) vs q79's single-pass form; the
    * at-scale win is every probe after the first. */
  def q79Bm25Indexed(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val idx = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_bm25_index_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
    // 16 buckets at fixture scale (the bucket COUNT is a sizing knob —
    // thousands at 100 TB; the layout shape is what the query pins)
    Bm25.writeIndex(docs, "doc_id", "text", idx, nBuckets = 16)
    // probes mined FROM the materialized df table — after the build,
    // nothing in this query touches the corpus again. Materialized as
    // a LOCAL relation (≤ 9 rows, q79_bm25's rationale): the lazy
    // subtree would re-read + re-rank the df table once per plan
    // branch referencing `queries` (bucket list, contribution join,
    // df restriction)
    val probes = minedLocal(s, Bm25.minedQueriesFromDf(Bm25.dfTable(s, idx),
      nQueries = 3, termsPerQuery = 3))
    Bm25.searchIndex(s, idx, probes, "doc_id", k = 10, linearIdf = true)
      .orderBy("q_id", "rk")
  }

  /** Collect a bounded (q_id, term) probe table to a local relation —
    * ≤ nQueries·termsPerQuery rows, the broadcast-small contract. */
  private def minedLocal(s: SparkSession, probes: DataFrame): DataFrame = {
    import s.implicits._
    probes.collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      .toDF("q_id", "term")
  }

  /** The AMORTIZED face of the BM25 index: probe-only timing over a
    * prebuilt [[Bm25.writeIndex]] layout. The index builds at most
    * once per fixture generation (fingerprint-keyed tmp path, same
    * staleness guard as q71_indexed); after that every run — including
    * bench repetitions — is the corpus-free bucket-pruned probe, which
    * is the number that makes the index's persist-once/probe-many win
    * visible next to q79_bm25_indexed's honest one-shot build+probe.
    * Carries q79's oracle verbatim (shared scoring core). */
  def q79IndexedProbe(s: SparkSession, dir: String): DataFrame = {
    val (idx, built) = amortizedIndexPath(s, dir, "bm25_index",
      p => Bm25.indexExists(s, p))
    if (!built)
      Bm25.writeIndex(t(s, dir, "documents"), "doc_id", "text", idx,
        nBuckets = 16)
    // local probe relation — q79_bm25_indexed's rationale
    val probes = minedLocal(s, Bm25.minedQueriesFromDf(Bm25.dfTable(s, idx),
      nQueries = 3, termsPerQuery = 3))
    Bm25.searchIndex(s, idx, probes, "doc_id", k = 10, linearIdf = true)
      .orderBy("q_id", "rk")
  }

  /** Hard-negative mining for contrastive training: per query vector,
    * the top-5 most-similar corpus vectors with cosine < 0.5 — near
    * enough to teach, far enough to not be positives. Carries q22's
    * exact-cosine oracle with the threshold folded in. */
  def q80HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10), k = 5,
      posThreshold = 0.5).orderBy("q_id", "rk")
  }

  // ---------------------------------------------------------------- sampling

  /** Deterministic train/val/test split (80/10/10 on md5(doc_id)):
    * per-(lang, split) counts and id checksums. Reproducible across
    * runs/engines — the oracle recomputes the identical assignment. */
  def q39Split(s: SparkSession, dir: String): DataFrame =
    Sampling.assignSplit(t(s, dir, "documents"), col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).cast("bigint").as("sum_ids"))
      .orderBy("lang", "split")

  /** Deterministic per-group cap (≤25 docs per lang by hash order)
    * via the bounded TopK aggregator — O(groups·k) shuffle, no
    * whole-group sort. */
  def q40CapPerGroup(s: SparkSession, dir: String): DataFrame =
    Sampling.capPerGroup(t(s, dir, "documents"), "lang", "doc_id", k = 25)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).cast("bigint").as("sum_ids"))
      .orderBy("lang")

  /** Duplicate clusters: q20's verified near-dup pairs → connected
    * components → per-cluster representative, size and id checksum.
    * The oracle recomputes the components with a recursive CTE. */
  def q43DupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateClusters(
        Dedup.minhashVerifiedPairs(t(s, dir, "documents"), "doc_id", "text",
          shingleK = 3, numPerm = 64, bands = 16, threshold = 0.9,
          shinglePersist = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      .groupBy(col("cluster_rep"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("doc_id")).cast("bigint").as("sum_ids"))
      .orderBy("cluster_rep")

  /** Canonical selection after clustering: keep ONE doc per duplicate
    * cluster (max n_chars, ties to the larger id) via the bounded
    * struct-argmax — the full production dedup chain LSH → verify →
    * components → canonical, one query. */
  def q44Canonical(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashVerifiedPairs(docs, "doc_id", "text",
      shingleK = 3, numPerm = 64, bands = 16, threshold = 0.9,
      shinglePersist = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.canonicalPerCluster(Dedup.duplicateClusters(pairs), docs,
        "doc_id", "n_chars")
      .orderBy("cluster_rep")
  }

  /** 13-gram overlap decontamination — the standard LLM holdout-
    * contamination test: a train document is flagged when ANY of its
    * 13-token windows also occurs anywhere in the test split (q42's
    * whole-prefix fingerprint only catches near-identical documents;
    * n-gram overlap catches partial inclusion). One explode per side,
    * the distinct test-gram set semi-joins the train grams, flagged
    * ids roll up per lang. Grams are the native
    * [[graft.functions.ShingleHashes]] 8-byte hashes (the production
    * shape): only membership feeds the flag, so the result is
    * unchanged while the gram exchanges never carry 13-token strings
    * and the window generation runs codegen'd instead of the
    * interpreted transform/slice/concat_ws chain. */
  def q56NgramDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Sampling.assignSplit(t(s, dir, "documents"), col("doc_id"),
        Seq("train" -> 0.9, "test" -> 0.1))
    val grams = docs.select(col("doc_id"), col("lang"), col("split"),
      explode(graft.functions.ShingleHashes(col("text"), 13)).as("gram"))
    val testGrams = grams.filter(col("split") === "test")
      .select("gram").distinct()
    val flaggedIds = grams.filter(col("split") === "train")
      .join(testGrams, Seq("gram"), "left_semi")
      .select("doc_id").distinct()
    val train = docs.filter(col("split") === "train")
    val flagged = train.join(flaggedIds, Seq("doc_id"), "left_semi")
      .groupBy("lang").agg(count(lit(1)).as("n_flagged"))
    train.groupBy("lang").agg(count(lit(1)).as("n_train"))
      .join(flagged, Seq("lang"), "left")
      .select(col("lang"), col("n_train"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        (col("n_train") - coalesce(col("n_flagged"), lit(0L))).as("n_kept"))
      .orderBy("lang")
  }

  /** q42's decontamination through the Bloom-prefiltered anti-join —
    * same kept/removed result (the prefilter only discards provable
    * non-members), so it carries q42's exact oracle while modeling the
    * 100 TB shape: holdout fingerprints broadcast as a Bloom filter,
    * clean rows never shuffle. */
  def q46BloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Sampling.assignSplit(t(s, dir, "documents"), col("doc_id"),
        Seq("train" -> 0.9, "test" -> 0.1))
      .withColumn("fp", concat_ws(" ", slice(words(col("text")), 1, 5)))
    val train = docs.filter(col("split") === "train")
    val testFp = docs.filter(col("split") === "test").select("fp").distinct()
    val kept = Decontaminate.bloomAntiJoin(train, testFp, "fp")
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
    train.groupBy("lang").agg(count(lit(1)).as("n_train"))
      .join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_train"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_train") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
      .orderBy("lang")
  }

  /** Corpus vocabulary: top-10 non-stopword terms per source by raw
    * count (ties by term order), through the string-id bounded TopK
    * aggregator — O(sources·k) shuffle, no per-source sort. */
  def q47TopTerms(s: SparkSession, dir: String): DataFrame = {
    val stop = TextFunctions.Stopwords("en").toSeq
    val counts = t(s, dir, "documents")
      .select(col("source"), explode(words(col("text"))).as("term"))
      .filter(!col("term").isin(stop: _*) && col("term") =!= "")
      .groupBy("source", "term").agg(count(lit(1)).as("n"))
    TopK.perStringKeyStringId(
        counts.select(col("source"), col("term"),
          col("n").cast("double").as("score")),
        "source", "term", "score", k = 10)
      .select(col("source"), col("rk"), col("term"),
        col("score").cast("bigint").as("n"))
      .orderBy("source", "rk")
  }

  /** Rare-term exposure: per-source token mass in LOW-document-
    * frequency vocabulary (df < 10% of docs) and how many docs carry
    * any of it — the integer-arithmetic form of a CCNet-style rarity
    * quality signal (a log-perplexity score would hash-diverge across
    * engines' libm; integer df thresholds and exact counts cannot).
    * Shape: one token explode, a df aggregation shuffled by term, the
    * small rare vocabulary broadcast into a semi-join (swap for a
    * shuffle semi-join when the rare vocab outgrows broadcast), one
    * per-doc rollup. */
  def q55RareTerms(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val toks = docs.select(col("doc_id"), col("source"),
        explode(words(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val total = docs.agg(count(lit(1)).as("__nd"))
    val rare = toks.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(total))
      .filter(col("df") * 10 < col("__nd"))
      .select("term")
    val perDoc = toks.join(broadcast(rare), Seq("term"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_rare"))
    docs.select(col("doc_id"), col("source"),
        size(words(col("text"))).as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("sum_tokens"),
        sum(coalesce(col("n_rare"), lit(0L))).cast("bigint").as("sum_rare"),
        count(when(coalesce(col("n_rare"), lit(0L)) > 0, 1)).as("n_with_rare"))
      .orderBy("source")
  }

  /** Sequence packing: documents → fixed-capacity (2000-token) bins
    * across 8 parallel pack groups; per-bin fill summary. */
  def q41Packing(s: SparkSession, dir: String): DataFrame =
    Packing.packBins(t(s, dir, "documents"), "doc_id",
        tokenCount(col("text")), capacity = 2000L, nWorkers = 8)
      .groupBy(col("pack_group"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("sum_tokens"))
      .orderBy("pack_group", "bin")

  /** Holdout decontamination: drop from the train split every doc
    * whose content fingerprint (normalized 5-word prefix, q18's key)
    * also appears in the test split — composed from [[Sampling]] +
    * a fingerprint anti-join. Per-lang kept/removed counts. */
  def q42Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Sampling.assignSplit(t(s, dir, "documents"), col("doc_id"),
        Seq("train" -> 0.9, "test" -> 0.1))
      .withColumn("fp", concat_ws(" ", slice(words(col("text")), 1, 5)))
    val train = docs.filter(col("split") === "train")
    val testFp = docs.filter(col("split") === "test").select("fp").distinct()
    val kept = train.join(testFp, Seq("fp"), "left_anti")
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
    train.groupBy("lang").agg(count(lit(1)).as("n_train"))
      .join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_train"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_train") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
      .orderBy("lang")
  }

  /** Source-mix rebalancing at temperature 0.5: per-source document
    * counts and total effective epochs after deterministic hash-based
    * upsampling — the source-weighting pass before corpus assembly.
    * sqrt keeps the weight arithmetic correctly-rounded IEEE, so the
    * oracle recomputes the identical per-row repeats. */
  def q49SourceMix(s: SparkSession, dir: String): DataFrame =
    Sampling.mixRepeats(t(s, dir, "documents"), "source", col("doc_id"),
        r => sqrt(r))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("repeats")).cast("bigint").as("epochs"))
      .orderBy("source")

  /** Semantic holdout contamination: per-label counts of train vectors
    * (label < 8) whose cosine against ANY holdout vector (label ≥ 8)
    * reaches 0.35 — [[Similarity.crossCosinePairs]] with the holdout
    * broadcast, so the train side never shuffles. */
  def q50SemanticDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val train = emb.filter(col("label") < 8)
    val hold = emb.filter(col("label") >= 8)
    val hit = Similarity.crossCosinePairs(train, hold, threshold = 0.35)
      .select(col("a_id")).distinct()
    val flagged = train.join(hit, train("vec_id") === hit("a_id"), "left_semi")
      .groupBy("label").agg(count(lit(1)).as("n_flagged"))
    train.groupBy("label").agg(count(lit(1)).as("n_train"))
      .join(flagged, Seq("label"), "left")
      .select(col("label"), col("n_train"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"))
      .orderBy("label")
  }

  /** Chunk geometry rollup: documents → 128-token windows with
    * 32-token overlap, counted per source — the corpus→training-
    * examples map ([[Chunking.slidingTokenWindows]], a pure scan-side
    * generator; chunks feed [[Packing.packBins]] downstream). */
  def q51Chunking(s: SparkSession, dir: String): DataFrame =
    Chunking.slidingTokenWindows(
        t(s, dir, "documents").select(col("doc_id"), col("source"), col("text")),
        "text", chunkSize = 128, overlap = 32)
      .groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("tok_count")).cast("bigint").as("sum_tokens"),
        max(col("chunk_idx")).cast("bigint").as("max_chunk_idx"))
      .orderBy("source")

  /** Export-shard balance: deterministic md5 shard assignment
    * ([[Sampling.shardByHash]], mod 16) with per-shard doc counts and
    * character mass — the reproducible global shuffle before writing
    * training files. */
  def q52Shards(s: SparkSession, dir: String): DataFrame =
    Sampling.shardByHash(t(s, dir, "documents"), col("doc_id"), 16, "shard")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("sum_chars"))
      .orderBy("shard")

  /** Per-source quality gate: keep documents at-or-above their
    * source's median quality score — the standard adaptive corpus
    * filter (a global threshold over-prunes clean sources and
    * under-prunes noisy ones). Composes [[TextFunctions.qualityScore]]
    * (columnar, scan-side) with [[Quantiles.exactQuantiles]]
    * (scale-safe two-level histogram); the O(#sources) threshold table
    * broadcasts back, so the documents never shuffle for the gate
    * itself. */
  def q53QualityGate(s: SparkSession, dir: String): DataFrame = {
    // persist the SCORED projection (3 narrow columns, text dropped):
    // the regex-heavy qualityScore would otherwise re-run for the
    // histogram pass, the selection pass and the gate itself — same
    // persist-the-derivation pattern as q20's shingle table
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val thr = Quantiles.exactQuantiles(docs, "source", "quality",
        ps = Seq("p50" -> 0.5))
      .select(col("source"), col("p50"), col("n").cast("bigint").as("n_total"))
    docs.join(broadcast(thr), Seq("source"))
      .filter(col("quality") >= col("p50"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        max(col("n_total")).as("n_total"),
        min(col("quality")).as("min_kept"))
      .orderBy("source")
  }

  /** Z-order tiling audit: map (l_partkey, l_suppkey) onto the 16-bit
    * Morton domain (odd multipliers mod 2^16 — the pre-scaling
    * [[Layout.zorderLayout]] documents for narrow domains), bucket by
    * the code's top 6 bits, and report each bucket's 2-D bounding box
    * in code space — the data-skipping evidence: every bucket is a
    * ≤8192×8192 tile, so per-file min/max stay tight on BOTH axes; a
    * single-column sort leaves the other axis's range global. */
  def q54Zorder(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .withColumn("xa", pmod(col("l_partkey") * 797L, lit(65536L)))
      .withColumn("ya", pmod(col("l_suppkey") * 2617L, lit(65536L)))
      .withColumn("z", Layout.morton2(col("xa"), col("ya")))
      .groupBy(shiftrightunsigned(col("z"), 26).as("z_bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("xa")).as("min_x"), max(col("xa")).as("max_x"),
        min(col("ya")).as("min_y"), max(col("ya")).as("max_y"))
      .orderBy("z_bucket")

  /** Budget-constrained corpus assembly: the 5,000 highest-quality
    * tokens per source ([[BudgetSelect.byScoreBudget]] — bucket-
    * histogram selection, row-identical to the sequential
    * sort-and-cut the oracle spells out, without per-source sorts). */
  def q57BudgetSelect(s: SparkSession, dir: String): DataFrame = {
    // persist the scored projection: BudgetSelect consumes it for the
    // range stats, the histogram and the selection passes — without
    // it the regex-heavy qualityScore re-runs three times (q53's
    // lesson applied)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(words(col("text"))).as("w"),
        TextFunctions.qualityScore(col("text")).as("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    BudgetSelect.byScoreBudget(docs, "source", "doc_id", "w", "q",
        budget = 5000L)
      .groupBy("source")
      .agg(count(lit(1)).as("n_sel"),
        sum(col("w")).cast("bigint").as("tok_sel"),
        min(col("q")).as("min_q"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- media

  /** Multimodal plumbing: documents → binary assets → stub decode →
    * per-type rollup; frame counts validate the chunk-explode path. */
  def q24Multimodal(s: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.assetsFromDocuments(t(s, dir, "documents"))
    val meta = Multimodal.decodeStub(assets).toDF()
    val frames = Multimodal.frameSample(assets.toDF(), frameBytes = 64, stride = 2)
      .join(assets.toDF().select(col("asset_id"), col("media_type")), "asset_id")
      .groupBy("media_type").agg(count(lit(1)).as("n_frames"))
    meta.groupBy("media_type")
      .agg(
        count(lit(1)).as("n_assets"),
        sum(col("n_bytes")).cast("bigint").as("total_bytes"),
        sum(col("width")).cast("bigint").as("sum_width"),
        sum(col("height")).cast("bigint").as("sum_height"))
      .join(frames, Seq("media_type"), "left")
      .orderBy("media_type")
  }

  /** REAL media decode as a query: synthesize one 24-bit BMP per doc
    * (dimensions derived from doc_id, pixels from the text bytes),
    * parse it back with the real [[Multimodal.decode]], roll up per
    * width. The oracle recomputes the dimension/byte arithmetic
    * directly — any drift in the BMP writer OR the header parser
    * (offsets, strides, row padding) shifts the sums and goes red. */
  def q66MediaDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decode(
        Multimodal.synthesizeBmpAssets(t(s, dir, "documents")))
      .toDF()
      .groupBy(col("width"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("height")).cast("bigint").as("sum_height"),
        sum(col("n_samples")).cast("bigint").as("sum_samples"),
        sum(col("n_bytes")).cast("bigint").as("sum_bytes"))
      .orderBy("width")

  /** Real PNG decode, oracle-audited END TO END: synthesize one RGB
    * PNG per doc (closed-form pixel bytes, every scanline filter type
    * across the corpus — [[Multimodal.synthesizePngAssets]]), run the
    * real inflate→unfilter→expand decoder, and roll up BOTH the header
    * metadata (dims through [[Multimodal.decode]]) and the decoded
    * CONTENT (per-asset RGBA byte sum) — which the oracle recomputes
    * arithmetically, no decoder needed. A wrong filter
    * implementation, a mis-stitched IDAT, or a bad row reference
    * changes pix_sum and fails the hash. */
  def q81PngDecode(s: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.synthesizePngAssets(t(s, dir, "documents"))
    val meta = Multimodal.decode(assets).toDF()
      .select(col("asset_id"), col("format"), col("width"), col("height"),
        col("channels"))
    meta.join(Multimodal.pngPixelSums(assets), Seq("asset_id"))
      .groupBy(col("width"))
      .agg(count(lit(1)).as("n_assets"),
        min(col("format")).as("fmt_lo"), max(col("format")).as("fmt_hi"),
        sum(col("height")).cast("bigint").as("sum_height"),
        sum(col("channels")).cast("bigint").as("sum_channels"),
        sum(col("pix_sum")).cast("bigint").as("sum_pix"))
      .orderBy("width")
  }

  /** Real JPEG decode through the JDK codec, dims-audited: synthesize
    * one JPEG per doc ([[Multimodal.synthesizeJpegAssets]]), parse the
    * SOF header back through [[Multimodal.decode]] (closed-form — the
    * oracle recomputes the dimension arithmetic), and COUNT the
    * entropy decodes that succeed with header-consistent dimensions —
    * JPEG is lossy so there is no byte-exact content oracle (the
    * per-pixel error bound lives in PipelineSpec); a decoder failure
    * or dim mismatch still fails the hash via n_decoded. */
  def q82JpegDecode(s: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.synthesizeJpegAssets(t(s, dir, "documents"))
    val meta = Multimodal.decode(assets).toDF()
      .select(col("asset_id"), col("format"), col("width"), col("height"),
        col("channels"))
    val decoded = {
      import s.implicits._
      assets.mapPartitions(_.map(a =>
        (a.asset_id, Multimodal.decodeJpegPixels(a.payload).isDefined)))
        .toDF("asset_id", "ok")
    }
    meta.join(decoded, Seq("asset_id"))
      .groupBy(col("width"))
      .agg(count(lit(1)).as("n_assets"),
        min(col("format")).as("fmt_lo"), max(col("format")).as("fmt_hi"),
        sum(col("height")).cast("bigint").as("sum_height"),
        sum(col("channels")).cast("bigint").as("sum_channels"),
        sum(col("ok").cast("int")).cast("bigint").as("n_decoded"))
      .orderBy("width")
  }

  /** Real PCM audio feature extraction, oracle-audited END TO END:
    * synthesize one mono 16-bit WAV per doc (closed-form samples —
    * [[Multimodal.synthesizeWavAssets]]), parse the RIFF layout and
    * compute integer features (energy, zero crossings, peak) from the
    * actual sample bytes, then roll up — the oracle regenerates the
    * samples arithmetically and recomputes every feature. */
  def q83WavFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.wavPcmFeatures(
        Multimodal.synthesizeWavAssets(t(s, dir, "documents")))
      .groupBy(col("n_frames"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("sum_sq")).cast("bigint").as("energy"),
        sum(col("zcr")).cast("bigint").as("zero_crossings"),
        max(col("peak")).cast("bigint").as("max_peak"))
      .orderBy("n_frames")

  /** Real video frame sampling, oracle-audited END TO END: synthesize
    * one C444 Y4M clip per doc ([[Multimodal.synthesizeY4mAssets]]),
    * walk the real FRAME framing, and roll up per-frame byte sums —
    * recomputed arithmetically by the oracle. A mis-placed frame
    * boundary shifts every sum and fails the hash. */
  def q84Y4mFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.y4mFrameSums(
        Multimodal.synthesizeY4mAssets(t(s, dir, "documents")))
      .groupBy(col("frame_idx"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("fsum")).cast("bigint").as("sum_bytes"))
      .orderBy("frame_idx")

  /** Cross-codec decode agreement, oracle-audited: every doc's pixels
    * ship in the container its id selects (BMP / PNG / QOI by id mod
    * 3 — [[Multimodal.synthesizeMixedAssets]]), decode through the
    * uniform [[Multimodal.decodeToRgba]] surface, and the 16-bin
    * decoded histogram rolls up per (bin, format-class). The oracle
    * recomputes every count closed-form FROM THE PIXEL ARITHMETIC —
    * if any one decoder disagreed with the others (a BGR swap, a
    * filter bug, an off-by-one row), its third of the corpus would
    * shift mass between bins and fail the hash. */
  def q85CodecAgreement(s: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.synthesizeMixedAssets(t(s, dir, "documents"))
    Multimodal.decodedHistogram(assets, dim = 16)
      .withColumn("fmt", pmod(col("asset_id"), lit(3)).cast("int"))
      .groupBy(col("bin"), col("fmt"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("cnt")).cast("bigint").as("total"))
      .orderBy("bin", "fmt")
  }

  /** q85 extended to the full codec matrix: GIF joins the LOSSLESS
    * agreement rotation exactly, and JPEG is pinned within an
    * oracle-stated tolerance band. Grayscale pixels (value stream
    * (id·31 + i) mod 256, r = g = b) ship in the container id mod 4
    * selects — BMP / PNG / QOI / GIF, the GIF leg indexed over an
    * explicit 256-gray palette so its LZW round-trip is bit-exact —
    * and the 16-bin decoded histogram rolls up per (bin, fmt), every
    * count recomputed closed-form by the oracle. The JPEG leg encodes
    * a smooth closed-form COLOR ramp per doc (≥ 2 DCT blocks per
    * side) and must land within 15% total coarse-histogram deviation
    * — measured max 2.7% / avg 1.0% at sf0.1, while a channel swap
    * relocates ~25% ([[Multimodal.jpegBandAgreement]]); its rollup
    * row (bin −1, fmt 9) counts in-band assets, which the oracle
    * asserts equals the corpus — one drifting decoder fails the
    * hash. */
  def q86CodecMatrix(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val lossless = Multimodal.decodedHistogram(
        Multimodal.synthesizeGrayMixedAssets(docs), dim = 16)
      .withColumn("fmt", pmod(col("asset_id"), lit(4)).cast("int"))
      .groupBy(col("bin"), col("fmt"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("cnt")).cast("bigint").as("total"))
    val jpeg = Multimodal.jpegBandAgreement(docs, dim = 4, bandPct = 15)
      .agg(sum(col("within").cast("int")).cast("bigint").as("n_assets"),
        count(lit(1)).cast("bigint").as("total"))
      .select(lit(-1).cast("int").as("bin"), lit(9).cast("int").as("fmt"),
        col("n_assets"), col("total"))
    lossless.unionByName(jpeg).orderBy("bin", "fmt")
  }

  /** DSIR-style importance resampling ([[ImportanceResampling]]):
    * target slice = docs with doc_id ≡ 0 (mod 7), raw pool = the whole
    * corpus, 1024 hash buckets, keep the top 20% by weight. Every
    * arithmetic step is exact integer math (the scaled Laplace-ratio
    * surrogate for the log-ratio — see the operator doc), so the
    * selector hash-checks end to end: per doc, gram mass, importance
    * weight, and the selected flag. */
  def q87Importance(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // TRAIN: one featurization pass → one-pass conditional ratio
    // aggregation (raw and target bag models from the same groupBy).
    // SCORE: the ≤1024-row ratio table freezes to a literal array (the
    // IVF-centroid broadcast-small contract) and every document scores
    // through the native serving expression — a pure scan projection,
    // no second explode, no weight join, no per-doc agg. Spec-pinned
    // equal to the aggregate `weights` fold; 3.3 s → ~2.3 s, and the
    // intermediate persist the join formulation would want is gone
    // entirely (a MEMORY_AND_DISK persist of the 4.5M-row feature
    // table measured SLOWER than recompute: 6.4 s).
    val feats = ImportanceResampling.features(docs, "doc_id", "text", 1024)
    val frozen = ImportanceResampling.freezeRatios(
      ImportanceResampling.bucketRatiosBy(feats, col("doc_id") % 7 === 0), 1024)
    val w = docs.select(col("doc_id"),
      ImportanceResampling.gramCount(col("text"), 1024).as("n_grams"),
      ImportanceResampling.scoreWith(col("text"), 1024, frozen).as("weight"))
    val k = docs.count() / 5
    val sel = ImportanceResampling.selectTopK(w, "doc_id", "weight", k)
      .withColumn("s", lit(1))
    w.join(sel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"), col("weight"),
        coalesce(col("s"), lit(0)).cast("int").as("selected"))
      .orderBy("doc_id")
  }

  /** Compressed-audio codec audit (IMA ADPCM, the q86 shape for
    * audio): the closed-form triangle wave rides both a PCM WAV leg
    * (every feature SQL-exact — the q83 discipline) and an
    * [[Multimodal.encodeImaAdpcmWav]] leg decoded by the pure-JVM
    * block walk. Lossless rows roll up the PCM features by frame
    * count; the verdict row asserts every ADPCM asset decodes to the
    * same frame count with energy within a 10% band of the exact
    * signal (measured max well under 1% — see PipelineSpec; the band
    * leaves codec-class headroom). */
  def q88AdpcmAudio(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val fp = Multimodal.wavPcmFeatures(Multimodal.synthesizeSawWavAssets(docs))
    val fa = Multimodal.adpcmFeatures(Multimodal.synthesizeSawAdpcmAssets(docs))
    val grouped = fp.groupBy(col("n_frames"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("sum_sq")).cast("bigint").as("energy"),
        sum(col("zcr")).cast("bigint").as("zero_crossings"),
        max(col("peak")).cast("bigint").as("max_peak"))
    val verdict = fp
      .select(col("asset_id"), col("n_frames").as("np"), col("sum_sq").as("sp"))
      .join(fa.select(col("asset_id"), col("n_frames").as("na"),
        col("sum_sq").as("sa")), Seq("asset_id"))
      .agg(count(lit(1)).as("n_assets"),
        sum((col("na") === col("np") &&
          abs(col("sa") - col("sp")) * 100 <= col("sp") * 10).cast("int"))
          .cast("bigint").as("energy"))
      .select(lit(-1L).as("n_frames"), col("n_assets"), col("energy"),
        lit(0L).as("zero_crossings"), lit(0L).as("max_peak"))
    grouped.unionByName(verdict).orderBy("n_frames")
  }

  /** Lossless compressed-audio audit (FLAC): the q88 triangle encoded
    * as real FLAC ([[Flac.encode]] — fixed predictors, Rice residuals,
    * CRC'd frames) and decoded by the full pure-JVM [[Flac.decode]].
    * FLAC is lossless, so the features of the DECODED samples must
    * EXACTLY equal the closed-form signal — the oracle recomputes them
    * from arithmetic alone, no band, no verdict row: a hash-level
    * proof that encode→decode is the identity on the whole corpus. */
  def q89FlacAudio(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Multimodal.flacFeatures(Multimodal.synthesizeSawFlacAssets(docs))
      .groupBy(col("n_frames"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("sum_sq")).cast("bigint").as("energy"),
        sum(col("zcr")).cast("bigint").as("zero_crossings"),
        max(col("peak")).cast("bigint").as("max_peak"))
      .orderBy("n_frames")
  }

  /** Weighted sampling without replacement ([[Sampling.weightedSample]]
    * — Efraimidis–Spirakis with the exact integer max-of-draws keys):
    * weight 1 + doc_id mod 8, keep the top 10%. Output is every doc's
    * competition key plus the selected flag, so both the draw
    * construction AND the histogram-cut ranking hash-check. */
  def q90WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val draws = Sampling.weightedDraws(docs, "doc_id",
      lit(1) + col("doc_id") % 8, salt = "wrs:")
    val k = docs.count() / 10
    val sel = ImportanceResampling.selectTopK(draws, "doc_id", "draw", k)
      .withColumn("s", lit(1))
    draws.join(sel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("weight"), col("draw"),
        coalesce(col("s"), lit(0)).cast("int").as("selected"))
      .orderBy("doc_id")
  }

  /** Leakage-safe GROUP-level split: the train/val/test assignment
    * hashes the SOURCE, not the document, so every doc of a source
    * lands in the same split — near-duplicates within a source can
    * never straddle the holdout boundary (the standard contamination
    * guard for web corpora: split by domain, not by page). Fractions
    * are binary (0.75/0.125/0.125) so the threshold arithmetic is
    * exact across engines, per the [[Sampling]] contract. */
  def q91GroupSplit(s: SparkSession, dir: String): DataFrame =
    Sampling.assignSplit(t(s, dir, "documents"), col("source"),
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125),
        salt = "gsplit:")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("doc_id")).cast("bigint").as("sum_ids"))
      .orderBy("split")

  /** Deterministic stratified sampling: per-language Bernoulli rates
    * (en 0.5, fr 0.25, de 0.2, everything else 0.1) on the md5 content
    * hash — the corpus-shaping downsample as one scan-side filter.
    * The oracle recomputes the identical hash arithmetic. */
  def q67Stratified(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(t(s, dir, "documents"), "lang", col("doc_id"),
        Seq("en" -> 0.5, "fr" -> 0.25, "de" -> 0.2), defaultRate = 0.1)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("doc_id")).cast("bigint").as("sum_ids"))
      .orderBy("lang")

  /** Blocked fuzzy-match dedup on the 80-char document prefix
    * (title-style short strings): Levenshtein ≤ 6 verified on
    * candidates sharing the lowercase 12-char block — the entity-
    * resolution join shape. Per-pair rollup would be huge on the dup-
    * heavy fixture, so the output is the (dist → n_pairs, id checksum)
    * histogram; the oracle mirrors the blocking exactly. */
  def q68FuzzyPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.fuzzyPairs(
        t(s, dir, "documents").select(col("doc_id"),
          substring(col("text"), 1, 80).as("title")),
        "doc_id", "title", maxDist = 6, blockPrefix = 12)
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("d1") + col("d2")).cast("bigint").as("sum_ids"))
      .orderBy("dist")

  // ---------------------------------------------------------------- oracle

  private val WordsSql = "string_split_regex(lower(trim(text)), ' +')"

  /** q21 oracle building blocks: bit j of the md5-derived token hash
    * is bit (j mod 4) of hex digit 16 − ⌊j/4⌋ (see
    * [[graft.functions.SimHashUtil.computeMd5]]). */
  private val SimhashBitSums = (0 until 64).map { j =>
    s"SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, ${16 - j / 4}, 1)) - 1) " +
      s">> ${j % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS b$j"
  }.mkString(",\n")
  /** Signed 64-bit reassembly: bit 63 enters as BIGINT min (written
    * overflow-free), bits 0..62 as plain powers of two. */
  private val SimhashValue =
    "CASE WHEN b63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END + " +
      (0 until 63).map(j => s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END")
        .mkString(" + ")

  /** First 32 bits of md5 as a BIGINT (hex-digit fold) — the exact
    * arithmetic of [[Sampling.hashValue]], recomputed in DuckDB. */
  private val HvSql = (1 to 8).map(i =>
    s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${1L << (4 * (8 - i))}"
  ).mkString(" + ")
  private val EnSet = TextFunctions.Stopwords("en").map(w => s"'$w'").mkString(", ")
  private val FrSet = TextFunctions.Stopwords("fr").map(w => s"'$w'").mkString(", ")
  private val EsSet = TextFunctions.Stopwords("es").map(w => s"'$w'").mkString(", ")
  private val DeSet = TextFunctions.Stopwords("de").map(w => s"'$w'").mkString(", ")

  private val baseOracleSql: Map[String, String] = Map(
    "q16_text_stats" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang, text,
         |    len($WordsSql) AS n_tokens,
         |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
         |    len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct,
         |    len(list_filter($WordsSql, w -> w IN ($EnSet))) AS n_stopwords
         |  FROM documents)
         |SELECT doc_id, lang, n_tokens, n_bpe_tokens, n_punct, n_stopwords,
         |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |  + greatest(1.0 - (CASE WHEN length(text) > 0
         |      THEN CAST(n_punct AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END) * 5.0, 0.0) * 0.3
         |  + least((CASE WHEN n_tokens > 0
         |      THEN CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) * 10.0, 1.0) * 0.3
         |  AS quality
         |FROM d ORDER BY doc_id""".stripMargin,
    "q17_langid" ->
      s"""WITH v AS (
         |  SELECT lang,
         |    len(list_filter($WordsSql, w -> w IN ($EnSet))) AS en,
         |    len(list_filter($WordsSql, w -> w IN ($FrSet))) AS fr,
         |    len(list_filter($WordsSql, w -> w IN ($EsSet))) AS es,
         |    len(list_filter($WordsSql, w -> w IN ($DeSet))) AS de
         |  FROM documents)
         |SELECT lang,
         |  CASE WHEN en + fr + es + de = 0 THEN 'und'
         |       WHEN en >= fr AND en >= es AND en >= de THEN 'en'
         |       WHEN fr >= es AND fr >= de THEN 'fr'
         |       WHEN es >= de THEN 'es'
         |       ELSE 'de' END AS predicted,
         |  count(*) AS n
         |FROM v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q18_exact_dedup" ->
      s"""WITH keyed AS (
         |  SELECT array_to_string(list_slice($WordsSql, 1, 5), ' ') AS dedup_key
         |  FROM documents),
         |g AS (SELECT dedup_key, count(*) AS group_size FROM keyed GROUP BY 1)
         |SELECT group_size, count(*) AS n_groups
         |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q19_ngram_jaccard" ->
      s"""WITH w AS (SELECT doc_id, $WordsSql AS w FROM documents),
         |idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM w WHERE len(w) >= 3),
         |sh0 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM idx),
         |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 2000),
         |sh AS (SELECT doc_id, s FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, shared,
         |  round(CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE), 6) AS jaccard
         |FROM pairs
         |JOIN cnt ca ON ca.doc_id = d1
         |JOIN cnt cb ON cb.doc_id = d2
         |WHERE round(CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE), 6) >= 0.2
         |ORDER BY 1, 2""".stripMargin,
    "q20_minhash_lsh" ->
      s"""WITH w AS (SELECT doc_id, $WordsSql AS w FROM documents),
         |idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM w WHERE len(w) >= 3),
         |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM idx),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, shared,
         |  round(CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE), 6) AS jaccard
         |FROM pairs
         |JOIN cnt ca ON ca.doc_id = d1
         |JOIN cnt cb ON cb.doc_id = d2
         |WHERE round(CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE), 6) >= 0.9
         |ORDER BY 1, 2""".stripMargin,
    "q21_simhash" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($WordsSql) AS w FROM documents),
         |th AS (SELECT doc_id, md5(w) AS h FROM tok),
         |bits AS (
         |  SELECT doc_id,
         |$SimhashBitSums
         |  FROM th GROUP BY doc_id),
         |sig AS (SELECT doc_id, $SimhashValue AS simhash FROM bits),
         |chunks AS (
         |  SELECT doc_id, simhash, band,
         |    (simhash >> (band * 16)) & 65535 AS chunk
         |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
         |    bit_count(xor(a.simhash, b.simhash)) AS hamming
         |  FROM chunks a JOIN chunks b
         |    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
         |near AS (
         |  SELECT doc_id, count(*) AS n_near FROM (
         |    SELECT d1 AS doc_id FROM cand WHERE hamming <= 16
         |    UNION ALL SELECT d2 FROM cand WHERE hamming <= 16)
         |  GROUP BY 1)
         |SELECT s.doc_id, s.simhash, coalesce(n.n_near, 0) AS n_near
         |FROM sig s LEFT JOIN near n USING (doc_id)
         |ORDER BY s.doc_id""".stripMargin,
    "q39_split" ->
      s"""WITH hv AS (
         |  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |u AS (
         |  SELECT doc_id, lang,
         |    CAST($HvSql AS DOUBLE) / CAST(4294967296 AS DOUBLE) AS u
         |  FROM hv),
         |sp AS (
         |  -- thresholds as the same IEEE partial sums Spark computes
         |  -- (0.8, then 0.8 + 0.1 — NOT the decimal literal 0.9)
         |  SELECT lang, doc_id,
         |    CASE WHEN u < CAST(0.8 AS DOUBLE) THEN 'train'
         |         WHEN u < CAST(0.8 AS DOUBLE) + CAST(0.1 AS DOUBLE) THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM u)
         |SELECT lang, split, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q40_cap_per_group" ->
      s"""WITH hv AS (
         |  SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |r AS (
         |  SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang ORDER BY ($HvSql), doc_id) AS rk
         |  FROM hv)
         |SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM r WHERE rk <= 25 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q44_canonical" ->
      s"""WITH RECURSIVE w AS (SELECT doc_id, $WordsSql AS w FROM documents),
         |idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM w WHERE len(w) >= 3),
         |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM idx),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sel AS (
         |  SELECT d1, d2 FROM pairs
         |  JOIN cnt ca ON ca.doc_id = d1
         |  JOIN cnt cb ON cb.doc_id = d2
         |  WHERE round(CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE), 6) >= 0.9),
         |e AS (SELECT d1 AS a, d2 AS b FROM sel UNION ALL SELECT d2, d1 FROM sel),
         |n AS (SELECT DISTINCT a AS id FROM e),
         |cc AS (
         |  SELECT id, id AS comp FROM n
         |  UNION
         |  SELECT e.b, cc.comp FROM cc JOIN e ON e.a = cc.id),
         |lab AS (SELECT id, min(comp) AS rep FROM cc GROUP BY id),
         |j AS (SELECT lab.rep, lab.id, d.n_chars FROM lab
         |      JOIN documents d ON d.doc_id = lab.id),
         |r AS (SELECT rep, id, n_chars,
         |        row_number() OVER (PARTITION BY rep
         |          ORDER BY n_chars DESC, id DESC) AS rk
         |      FROM j),
         |agg AS (SELECT rep, count(*) AS n_members,
         |          CAST(sum(id) AS BIGINT) AS sum_ids FROM j GROUP BY 1)
         |SELECT agg.rep AS cluster_rep, agg.n_members, r.id AS canonical_id,
         |  CAST(r.n_chars AS BIGINT) AS canonical_pref, agg.sum_ids
         |FROM agg JOIN r ON r.rep = agg.rep AND r.rk = 1
         |ORDER BY 1""".stripMargin,
    "q49_source_mix" ->
      s"""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
         |m AS (SELECT max(n) AS maxn FROM c),
         |w AS (SELECT source, sqrt(CAST(maxn AS DOUBLE) / CAST(n AS DOUBLE)) AS w
         |      FROM c, m),
         |hv AS (SELECT d.source, w.w,
         |         md5('mix' || CAST(d.doc_id AS VARCHAR)) AS h
         |       FROM documents d JOIN w USING (source)),
         |r AS (SELECT source,
         |        floor(w) + CASE WHEN CAST($HvSql AS DOUBLE)
         |            / CAST(4294967296 AS DOUBLE) < w - floor(w)
         |          THEN 1 ELSE 0 END AS rep
         |      FROM hv)
         |SELECT source, count(*) AS n_docs, CAST(sum(rep) AS BIGINT) AS epochs
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q50_semantic_decontaminate" ->
      """WITH tr AS (SELECT vec_id, label, embedding FROM embeddings WHERE label < 8),
        |ho AS (SELECT vec_id, embedding AS h_vec FROM embeddings WHERE label >= 8),
        |s AS (
        |  SELECT tr.vec_id, tr.label,
        |    round(
        |      list_sum(list_transform(range(1, len(embedding) + 1),
        |        i -> CAST(embedding[i] AS DOUBLE) * CAST(h_vec[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
        |           i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1, len(h_vec) + 1),
        |           i -> CAST(h_vec[i] AS DOUBLE) * CAST(h_vec[i] AS DOUBLE))))), 6) AS score
        |  FROM tr, ho),
        |f AS (SELECT label, count(DISTINCT vec_id) AS n_flagged
        |      FROM s WHERE score >= 0.35 GROUP BY 1),
        |t2 AS (SELECT label, count(*) AS n_train FROM tr GROUP BY 1)
        |SELECT t2.label, n_train, coalesce(n_flagged, 0) AS n_flagged
        |FROM t2 LEFT JOIN f USING (label) ORDER BY 1""".stripMargin,
    "q55_rare_terms" ->
      s"""WITH t AS (SELECT doc_id, source, unnest($WordsSql) AS term
         |  FROM documents),
         |d AS (SELECT term, count(DISTINCT doc_id) AS df
         |      FROM t WHERE term != '' GROUP BY 1),
         |nd AS (SELECT count(*) AS n FROM documents),
         |r AS (SELECT term FROM d, nd WHERE df * 10 < n),
         |pd AS (SELECT t.doc_id, count(*) AS n_rare
         |       FROM t JOIN r USING (term) WHERE t.term != '' GROUP BY 1),
         |base AS (SELECT doc_id, source, len($WordsSql) AS n_tokens
         |         FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(sum(coalesce(n_rare, 0)) AS BIGINT) AS sum_rare,
         |  count(CASE WHEN coalesce(n_rare, 0) > 0 THEN 1 END) AS n_with_rare
         |FROM base LEFT JOIN pd USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q54_zorder" ->
      """WITH b AS (
        |  SELECT (l_partkey * 797) % 65536 AS xa,
        |         (l_suppkey * 2617) % 65536 AS ya
        |  FROM lineitem),
        |s1 AS (SELECT xa, ya,
        |    ((xa | (xa << 8)) & 16711935) AS x, ((ya | (ya << 8)) & 16711935) AS y
        |  FROM b),
        |s2 AS (SELECT xa, ya,
        |    ((x | (x << 4)) & 252645135) AS x, ((y | (y << 4)) & 252645135) AS y
        |  FROM s1),
        |s3 AS (SELECT xa, ya,
        |    ((x | (x << 2)) & 858993459) AS x, ((y | (y << 2)) & 858993459) AS y
        |  FROM s2),
        |s4 AS (SELECT xa, ya,
        |    ((x | (x << 1)) & 1431655765) AS x, ((y | (y << 1)) & 1431655765) AS y
        |  FROM s3),
        |z AS (SELECT xa, ya, (x | (y << 1)) AS z FROM s4)
        |SELECT (z >> 26) & 63 AS z_bucket, count(*) AS n,
        |  min(xa) AS min_x, max(xa) AS max_x,
        |  min(ya) AS min_y, max(ya) AS max_y
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    "q53_quality_gate" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    len($WordsSql) AS n_tokens,
         |    len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct,
         |    len(list_filter($WordsSql, w -> w IN ($EnSet))) AS n_stopwords,
         |    length(text) AS n_len
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, source,
         |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |    + greatest(1.0 - (CASE WHEN n_len > 0
         |        THEN CAST(n_punct AS DOUBLE) / CAST(n_len AS DOUBLE) ELSE 0.0 END) * 5.0, 0.0) * 0.3
         |    + least((CASE WHEN n_tokens > 0
         |        THEN CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) * 10.0, 1.0) * 0.3
         |    AS quality
         |  FROM d),
         |t AS (SELECT source, quantile_cont(quality, 0.5) AS p50,
         |        count(*) AS n_total
         |      FROM q GROUP BY 1)
         |SELECT q.source, count(*) AS n_kept,
         |  CAST(max(t.n_total) AS BIGINT) AS n_total,
         |  min(q.quality) AS min_kept
         |FROM q JOIN t ON q.source = t.source
         |WHERE q.quality >= t.p50
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q51_chunking" ->
      """WITH t AS (SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |  FROM documents),
        |c AS (SELECT doc_id, source, len(toks) AS n FROM t WHERE len(toks) > 0),
        |s AS (SELECT doc_id, source, n, unnest(range(0, n, 96)) AS tok_start FROM c)
        |SELECT source, count(*) AS n_chunks, count(DISTINCT doc_id) AS n_docs,
        |  CAST(sum(least(128, n - tok_start)) AS BIGINT) AS sum_tokens,
        |  CAST(max(tok_start // 96) AS BIGINT) AS max_chunk_idx
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "q52_shards" ->
      s"""WITH h0 AS (SELECT n_chars,
         |    md5('shard' || CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |v AS (SELECT n_chars, ($HvSql) % 16 AS shard FROM h0)
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    "q58_datacard" ->
      s"""WITH d AS (
         |  SELECT source, lang, n_chars, md5(text) AS fp,
         |    len($WordsSql) AS n_tokens,
         |    len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct,
         |    len(list_filter($WordsSql, w -> w IN ($EnSet))) AS n_stopwords,
         |    length(text) AS n_len
         |  FROM documents),
         |q AS (
         |  SELECT source, lang, n_chars, fp, n_tokens,
         |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |    + greatest(1.0 - (CASE WHEN n_len > 0
         |        THEN CAST(n_punct AS DOUBLE) / CAST(n_len AS DOUBLE) ELSE 0.0 END) * 5.0, 0.0) * 0.3
         |    + least((CASE WHEN n_tokens > 0
         |        THEN CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) * 10.0, 1.0) * 0.3
         |    AS quality
         |  FROM d),
         |g AS (SELECT fp, count(*) AS n FROM q GROUP BY 1),
         |ds AS (SELECT count(CASE WHEN n > 1 THEN 1 END) AS n_dup_groups,
         |         CAST(coalesce(sum(CASE WHEN n > 1 THEN n END), 0) AS BIGINT) AS n_dup_docs
         |       FROM g),
         |a AS (SELECT count(*) AS n_docs, count(DISTINCT source) AS n_sources,
         |        count(DISTINCT lang) AS n_langs,
         |        CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |        CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |        round(CAST(sum(CAST(quality AS DECIMAL(28,12))) AS DOUBLE), 6) AS sum_quality
         |      FROM q)
         |SELECT a.*, ds.* FROM a, ds""".stripMargin,
    "q48_label_stats" ->
      """WITH n AS (
        |  SELECT label,
        |    sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
        |      AS norm
        |  FROM embeddings)
        |SELECT label, count(*) AS n_vecs,
        |  round(CAST(sum(CAST(norm AS DECIMAL(28,12))) AS DOUBLE), 6) AS sum_norm,
        |  round(min(norm), 6) AS min_norm,
        |  round(max(norm), 6) AS max_norm
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,
    "q47_top_terms" ->
      s"""WITH tok AS (
         |  SELECT source, unnest($WordsSql) AS term FROM documents),
         |f AS (SELECT source, term FROM tok
         |      WHERE term NOT IN ($EnSet) AND term <> ''),
         |c AS (SELECT source, term, count(*) AS n FROM f GROUP BY 1, 2),
         |r AS (SELECT source, term, n,
         |        row_number() OVER (PARTITION BY source
         |          ORDER BY n DESC, term) AS rk
         |      FROM c)
         |SELECT source, rk, term, CAST(n AS BIGINT) AS n
         |FROM r WHERE rk <= 10 ORDER BY 1, 2""".stripMargin,
    "q43_dup_clusters" ->
      s"""WITH RECURSIVE w AS (SELECT doc_id, $WordsSql AS w FROM documents),
         |idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM w WHERE len(w) >= 3),
         |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM idx),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sel AS (
         |  SELECT d1, d2 FROM pairs
         |  JOIN cnt ca ON ca.doc_id = d1
         |  JOIN cnt cb ON cb.doc_id = d2
         |  WHERE round(CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE), 6) >= 0.9),
         |e AS (SELECT d1 AS a, d2 AS b FROM sel UNION ALL SELECT d2, d1 FROM sel),
         |n AS (SELECT DISTINCT a AS id FROM e),
         |cc AS (
         |  SELECT id, id AS comp FROM n
         |  UNION
         |  SELECT e.b, cc.comp FROM cc JOIN e ON e.a = cc.id),
         |lab AS (SELECT id, min(comp) AS rep FROM cc GROUP BY id)
         |SELECT rep AS cluster_rep, count(*) AS n_members,
         |  CAST(sum(id) AS BIGINT) AS sum_ids
         |FROM lab GROUP BY 1 ORDER BY 1""".stripMargin,
    "q41_packing" ->
      s"""WITH d AS (
         |  SELECT doc_id, CAST(doc_id % 8 AS INT) AS pack_group,
         |    CAST(len($WordsSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT pack_group, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY pack_group ORDER BY doc_id)
         |      - n_tokens AS cum_before
         |  FROM d)
         |SELECT pack_group, CAST(cum_before // 2000 AS INT) AS bin,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q57_budget_select" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    len($WordsSql) AS n_tokens,
         |    len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct,
         |    len(list_filter($WordsSql, w -> w IN ($EnSet))) AS n_stopwords,
         |    length(text) AS n_len
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, source, n_tokens AS w,
         |    least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |    + greatest(1.0 - (CASE WHEN n_len > 0
         |        THEN CAST(n_punct AS DOUBLE) / CAST(n_len AS DOUBLE) ELSE 0.0 END) * 5.0, 0.0) * 0.3
         |    + least((CASE WHEN n_tokens > 0
         |        THEN CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) * 10.0, 1.0) * 0.3
         |    AS q
         |  FROM d),
         |c AS (SELECT source, doc_id, w, q,
         |    sum(w) OVER (PARTITION BY source ORDER BY q DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM q)
         |SELECT source, count(*) AS n_sel, CAST(sum(w) AS BIGINT) AS tok_sel,
         |  min(q) AS min_q
         |FROM c WHERE cum <= 5000 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q56_ngram_decontaminate" ->
      s"""WITH hv AS (
         |  SELECT doc_id, lang, text, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |sp AS (
         |  SELECT doc_id, lang, $WordsSql AS toks,
         |    CASE WHEN CAST($HvSql AS DOUBLE) / CAST(4294967296 AS DOUBLE)
         |              < CAST(0.9 AS DOUBLE)
         |         THEN 'train' ELSE 'test' END AS split
         |  FROM hv),
         |g AS (SELECT doc_id, lang, split,
         |    unnest(list_transform(range(1, len(toks) - 11),
         |      i -> array_to_string(toks[i:i+12], ' '))) AS gram
         |  FROM sp WHERE len(toks) >= 13),
         |te AS (SELECT DISTINCT gram FROM g WHERE split = 'test'),
         |fl AS (SELECT lang, count(DISTINCT doc_id) AS n_flagged
         |       FROM g WHERE split = 'train' AND gram IN (SELECT gram FROM te)
         |       GROUP BY 1),
         |t2 AS (SELECT lang, count(*) AS n_train FROM sp WHERE split = 'train' GROUP BY 1)
         |SELECT t2.lang, n_train, coalesce(n_flagged, 0) AS n_flagged,
         |  n_train - coalesce(n_flagged, 0) AS n_kept
         |FROM t2 LEFT JOIN fl USING (lang) ORDER BY 1""".stripMargin,
    "q42_decontaminate" ->
      s"""WITH hv AS (
         |  SELECT doc_id, lang, text, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |sp AS (
         |  SELECT lang, text,
         |    CASE WHEN CAST($HvSql AS DOUBLE) / CAST(4294967296 AS DOUBLE)
         |              < CAST(0.9 AS DOUBLE)
         |         THEN 'train' ELSE 'test' END AS split
         |  FROM hv),
         |f AS (SELECT lang, split,
         |        array_to_string(list_slice($WordsSql, 1, 5), ' ') AS fp FROM sp),
         |tr AS (SELECT lang, fp FROM f WHERE split = 'train'),
         |te AS (SELECT DISTINCT fp FROM f WHERE split = 'test'),
         |k AS (SELECT lang, count(*) AS n_kept FROM tr
         |      WHERE fp NOT IN (SELECT fp FROM te) GROUP BY 1),
         |t2 AS (SELECT lang, count(*) AS n_train FROM tr GROUP BY 1)
         |SELECT t2.lang, n_train, coalesce(n_kept, 0) AS n_kept,
         |  n_train - coalesce(n_kept, 0) AS n_removed
         |FROM t2 LEFT JOIN k USING (lang) ORDER BY 1""".stripMargin,
    "q22_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings),
        |s AS (
        |  SELECT q_id, c_id,
        |    round(
        |      list_sum(list_transform(range(1, len(q_vec) + 1),
        |        i -> CAST(q_vec[i] AS DOUBLE) * CAST(c_vec[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1, len(q_vec) + 1),
        |           i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1, len(c_vec) + 1),
        |           i -> CAST(c_vec[i] AS DOUBLE) * CAST(c_vec[i] AS DOUBLE))))), 6) AS score
        |  FROM q, c WHERE q_id <> c_id),
        |r AS (SELECT q_id, c_id, score,
        |        row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rk
        |      FROM s)
        |SELECT q_id, rk, c_id, score FROM r WHERE rk <= 3 ORDER BY 1, 2""".stripMargin,
    "q30_topk_agg" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings),
        |s AS (
        |  SELECT q_id, c_id,
        |    round(
        |      list_sum(list_transform(range(1, len(q_vec) + 1),
        |        i -> CAST(q_vec[i] AS DOUBLE) * CAST(c_vec[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1, len(q_vec) + 1),
        |           i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1, len(c_vec) + 1),
        |           i -> CAST(c_vec[i] AS DOUBLE) * CAST(c_vec[i] AS DOUBLE))))), 6) AS score
        |  FROM q, c WHERE q_id <> c_id),
        |r AS (SELECT q_id, c_id, score,
        |        row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rk
        |      FROM s)
        |SELECT q_id, rk, c_id, score FROM r WHERE rk <= 3 ORDER BY 1, 2""".stripMargin,
    "q23_embed_neardup" ->
      """WITH a AS (SELECT vec_id AS a_id, embedding AS a_vec FROM embeddings),
        |b AS (SELECT vec_id AS b_id, embedding AS b_vec FROM embeddings),
        |s AS (
        |  SELECT a_id, b_id,
        |    round(
        |      list_sum(list_transform(range(1, len(a_vec) + 1),
        |        i -> CAST(a_vec[i] AS DOUBLE) * CAST(b_vec[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1, len(a_vec) + 1),
        |           i -> CAST(a_vec[i] AS DOUBLE) * CAST(a_vec[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1, len(b_vec) + 1),
        |           i -> CAST(b_vec[i] AS DOUBLE) * CAST(b_vec[i] AS DOUBLE))))), 6) AS score
        |  FROM a, b WHERE a_id < b_id)
        |SELECT a_id, b_id, score FROM s WHERE score >= 0.40 ORDER BY 1, 2""".stripMargin,
    "q24_multimodal" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |    source,
        |    octet_length(encode(text)) AS n_bytes,
        |    ascii(substr(text,1,1)) * 16777216 + ascii(substr(text,2,1)) * 65536
        |      + ascii(substr(text,3,1)) * 256 + ascii(substr(text,4,1)) AS header
        |  FROM documents),
        |d AS (
        |  SELECT media_type, n_bytes,
        |    16 + header % 1920 AS width,
        |    16 + (header // 256) % 1080 AS height,
        |    CAST(n_bytes // 64 AS BIGINT) AS nf
        |  FROM m)
        |SELECT media_type,
        |  count(*) AS n_assets,
        |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |  CAST(sum(width) AS BIGINT) AS sum_width,
        |  CAST(sum(height) AS BIGINT) AS sum_height,
        |  CAST(sum(CASE WHEN nf > 0 THEN (nf + 1) // 2 ELSE 0 END) AS BIGINT) AS n_frames
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q61_repetition" ->
      s"""WITH w AS (SELECT doc_id, $WordsSql AS w FROM documents),
         |c AS (SELECT doc_id, w, len(w) AS n_tokens, list_distinct(w) AS uq FROM w),
         |m AS (
         |  SELECT doc_id, w, n_tokens, uq,
         |    list_max(list_transform(uq, x -> len(list_filter(w, y -> y = x)))) AS top_token_n
         |  FROM c),
         |b AS (
         |  SELECT doc_id, n_tokens, top_token_n,
         |    list_min(list_filter(uq, x -> len(list_filter(w, y -> y = x)) = top_token_n)) AS top_token,
         |    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg
         |  FROM m)
         |SELECT doc_id, n_tokens, top_token, top_token_n,
         |  len(bg) - len(list_distinct(bg)) AS dup_bigram_n,
         |  top_token_n * 5 >= n_tokens AND n_tokens >= 10 AS is_repetitive
         |FROM b ORDER BY doc_id""".stripMargin,
    "q62_pii_redact" ->
      """WITH aug AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END
        |    || CASE WHEN doc_id % 2 = 0 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' ELSE '' END
        |    AS aug
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(aug, '\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}')) AS n_phones,
        |  len(regexp_extract_all(aug, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ips,
        |  regexp_replace(regexp_replace(regexp_replace(aug,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS redacted
        |FROM aug ORDER BY doc_id""".stripMargin,
    "q63_line_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS w
        |  FROM documents),
        |ch AS (SELECT doc_id, unnest(range(1, len(w) + 1, 10)) AS i, w
        |       FROM w WHERE len(w) > 0),
        |c2 AS (SELECT doc_id, (i - 1) // 10 AS pos,
        |         array_to_string(list_slice(w, i, i + 9), ' ') AS chunk FROM ch),
        |rep AS (SELECT chunk FROM c2 GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
        |kept AS (SELECT c2.doc_id, c2.pos, c2.chunk FROM c2 ANTI JOIN rep USING (chunk)),
        |tot AS (SELECT d.doc_id, coalesce(cnt.n, 0) AS n_chunks
        |        FROM documents d
        |        LEFT JOIN (SELECT doc_id, count(*) AS n FROM c2 GROUP BY 1) cnt USING (doc_id)),
        |rb AS (SELECT doc_id, count(*) AS n_kept_chunks,
        |         string_agg(chunk, ' ' ORDER BY pos) AS cleaned FROM kept GROUP BY 1)
        |SELECT t.doc_id, t.n_chunks,
        |  coalesce(rb.n_kept_chunks, 0) AS n_kept_chunks,
        |  coalesce(rb.cleaned, '') AS cleaned
        |FROM tot t LEFT JOIN rb USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q64_url_filter" ->
      """WITH aug AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 4 = 0
        |         THEN ' see https://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/p' || CAST(doc_id AS VARCHAR)
        |         ELSE '' END AS aug
        |  FROM documents),
        |d AS (SELECT doc_id, regexp_extract(aug, 'https?://(?:[^/@ ]*@)?([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1) AS domain FROM aug)
        |SELECT doc_id, domain FROM d
        |WHERE domain NOT IN ('site0.example.org', 'site3.example.org', 'site5.example.org')
        |ORDER BY doc_id""".stripMargin,
    // The exact top-20 is plain aggregation both engines compute
    // identically; est_in_bound is computed Spark-side (the sketch is
    // engine-internal) and ASSERTED here as the literal `true` — a
    // sketch drifting outside exact ≤ est ≤ exact + ⌈eps·N⌉ flips the
    // Spark value to false and the hash goes red. Deterministic with
    // the fixed seed; tie-break matches q47 (count desc, token asc).
    "q65_heavy_hitters" ->
      s"""WITH tok AS (SELECT unnest($WordsSql) AS token FROM documents),
         |c AS (SELECT token, count(*) AS exact_n FROM tok GROUP BY 1)
         |SELECT token, exact_n, true AS est_in_bound
         |FROM c ORDER BY exact_n DESC, token LIMIT 20""".stripMargin,
    // mirrors synthesizeBmpAssets' dimension rule and the BMP layout
    // arithmetic (54-byte header, rows padded to 4 bytes)
    "q66_media_decode" ->
      """WITH m AS (
        |  SELECT 4 + CAST(doc_id % 13 AS INT) AS w,
        |         3 + CAST(doc_id % 7 AS INT) AS h
        |  FROM documents)
        |SELECT w AS width, count(*) AS n_assets,
        |  CAST(SUM(h) AS BIGINT) AS sum_height,
        |  CAST(SUM(w * h) AS BIGINT) AS sum_samples,
        |  CAST(SUM(54 + ((w * 3 + 3) // 4) * 4 * h) AS BIGINT) AS sum_bytes
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    // recomputes the decoded-RGBA byte sum arithmetically: pixel byte i
    // of doc d is (d*31 + i) mod 256 (full 256-cycles sum to 32640) and
    // alpha contributes a constant 255 per pixel — a decoder-free audit
    // of inflate+unfilter+expand
    "q81_png_decode" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    4 + CAST(doc_id % 11 AS INT) AS w,
        |    3 + CAST(doc_id % 5 AS INT) AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h,
        |    (w * h * 3 // 256) * 32640
        |      + COALESCE(list_sum(list_transform(range(0, (w * h * 3) % 256),
        |          j -> (doc_id * 31 + j) % 256)), 0)
        |      + 255 * w * h AS pix
        |  FROM m)
        |SELECT w AS width, count(*) AS n_assets,
        |  'png' AS fmt_lo, 'png' AS fmt_hi,
        |  CAST(sum(h) AS BIGINT) AS sum_height,
        |  CAST(sum(3) AS BIGINT) AS sum_channels,
        |  CAST(sum(pix) AS BIGINT) AS sum_pix
        |FROM px GROUP BY 1 ORDER BY 1""".stripMargin,
    // closed-form dims rollup; n_decoded == n_assets asserts every
    // entropy decode succeeded with header-consistent dimensions
    "q82_jpeg_decode" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    8 + CAST(doc_id % 9 AS INT) AS w,
        |    8 + CAST(doc_id % 7 AS INT) AS h
        |  FROM documents)
        |SELECT w AS width, count(*) AS n_assets,
        |  'jpeg' AS fmt_lo, 'jpeg' AS fmt_hi,
        |  CAST(sum(h) AS BIGINT) AS sum_height,
        |  CAST(sum(3) AS BIGINT) AS sum_channels,
        |  CAST(count(*) AS BIGINT) AS n_decoded
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    // regenerates the PCM samples arithmetically (sample i of doc d is
    // ((d*37 + i*i) % 2003) - 1001) and recomputes energy / zero
    // crossings / peak — a decoder-free audit of the RIFF walk and
    // 16-bit LE sample parse
    "q83_wav_features" ->
      """WITH m AS (
        |  SELECT doc_id, 64 + CAST(doc_id % 64 AS INT) AS n FROM documents),
        |s AS (
        |  SELECT doc_id, n, i,
        |    ((doc_id * 37 + i * i) % 2003) - 1001 AS v,
        |    CASE WHEN i > 0
        |      THEN ((doc_id * 37 + (i - 1) * (i - 1)) % 2003) - 1001 END AS pv
        |  FROM m, unnest(range(0, n)) AS t(i)),
        |agg AS (
        |  SELECT doc_id, n, sum(v * v) AS ss,
        |    sum(CASE WHEN i > 0 AND ((v >= 0) <> (pv >= 0)) THEN 1 ELSE 0 END) AS zc,
        |    max(abs(v)) AS pk
        |  FROM s GROUP BY 1, 2)
        |SELECT CAST(n AS BIGINT) AS n_frames, count(*) AS n_assets,
        |  CAST(sum(ss) AS BIGINT) AS energy,
        |  CAST(sum(zc) AS BIGINT) AS zero_crossings,
        |  CAST(max(pk) AS BIGINT) AS max_peak
        |FROM agg GROUP BY 1 ORDER BY 1""".stripMargin,
    // regenerates each frame's byte sum arithmetically (byte i of frame
    // f in doc d is (d*17 + f*29 + i) mod 256; full 256-cycles sum to
    // 32640) — a decoder-free audit of the FRAME walk and frame sizing
    "q84_y4m_frames" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    4 + CAST(doc_id % 5 AS INT) AS w,
        |    2 + CAST(doc_id % 3 AS INT) AS h,
        |    2 + CAST(doc_id % 4 AS INT) AS nf
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, CAST(f AS INT) AS f, 3 * w * h AS len
        |  FROM m, unnest(range(0, nf)) AS t(f)),
        |fs AS (
        |  SELECT doc_id, f,
        |    (len // 256) * 32640
        |      + COALESCE(list_sum(list_transform(range(0, len % 256),
        |          j -> (doc_id * 17 + f * 29 + j) % 256)), 0) AS fsum
        |  FROM fr)
        |SELECT f AS frame_idx, count(*) AS n_frames,
        |  CAST(sum(fsum) AS BIGINT) AS sum_bytes
        |FROM fs GROUP BY 1 ORDER BY 1""".stripMargin,
    // recomputes the 16-bin decoded-RGBA histogram closed-form: RGB
    // byte i of doc d is (d*31 + i) mod 256 (each full 256-cycle puts
    // exactly 16 values in every bin) and alpha contributes w*h to the
    // top bin — across BMP-, PNG- and QOI-carried thirds of the corpus
    "q85_codec_agreement" ->
      """WITH m AS (
        |  SELECT doc_id, CAST(doc_id % 3 AS INT) AS fmt,
        |    4 + CAST(doc_id % 11 AS INT) AS w,
        |    3 + CAST(doc_id % 5 AS INT) AS h
        |  FROM documents),
        |bins AS (SELECT CAST(b AS INT) AS bin FROM unnest(range(0, 16)) AS t(b)),
        |c AS (
        |  SELECT m.doc_id, m.fmt, bins.bin,
        |    (3 * w * h // 256) * 16
        |      + COALESCE(list_sum(list_transform(range(0, (3 * w * h) % 256),
        |          j -> CASE WHEN ((doc_id * 31 + j) % 256) // 16 = bins.bin
        |               THEN 1 ELSE 0 END)), 0)
        |      + CASE WHEN bins.bin = 15 THEN w * h ELSE 0 END AS cnt
        |  FROM m CROSS JOIN bins)
        |SELECT bin, fmt, count(*) AS n_assets, CAST(sum(cnt) AS BIGINT) AS total
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q86: grayscale value v(i) = (id*31 + i) mod 256 appears in ALL
    // THREE rgb channels (3× per pixel) + alpha in the top bin; the
    // lossless rotation is id mod 4 over BMP/PNG/QOI/GIF and every
    // count is closed-form. The JPEG leg can't be decoded by SQL — the
    // oracle instead asserts the tolerance-band verdict: every asset
    // in band (n_assets = total = corpus size on the fmt-9 row).
    "q86_codec_matrix" ->
      """WITH m AS (
        |  SELECT doc_id, CAST(doc_id % 4 AS INT) AS fmt,
        |    4 + CAST(doc_id % 11 AS INT) AS w,
        |    3 + CAST(doc_id % 5 AS INT) AS h
        |  FROM documents),
        |bins AS (SELECT CAST(b AS INT) AS bin FROM unnest(range(0, 16)) AS t(b)),
        |c AS (
        |  SELECT m.doc_id, m.fmt, bins.bin,
        |    3 * ((w * h // 256) * 16
        |      + COALESCE(list_sum(list_transform(range(0, (w * h) % 256),
        |          j -> CASE WHEN ((doc_id * 31 + j) % 256) // 16 = bins.bin
        |               THEN 1 ELSE 0 END)), 0))
        |      + CASE WHEN bins.bin = 15 THEN w * h ELSE 0 END AS cnt
        |  FROM m CROSS JOIN bins),
        |l AS (SELECT bin, fmt, count(*) AS n_assets,
        |        CAST(sum(cnt) AS BIGINT) AS total
        |      FROM c GROUP BY 1, 2),
        |j AS (SELECT CAST(-1 AS INT) AS bin, CAST(9 AS INT) AS fmt,
        |        count(*) AS n_assets, CAST(count(*) AS BIGINT) AS total
        |      FROM documents)
        |SELECT * FROM l UNION ALL SELECT * FROM j ORDER BY bin, fmt""".stripMargin,
    // DSIR selector: uni+bigrams under salt 'ir:' folded mod 1024,
    // per-bucket Laplace ratio at scale 1e6 with integer floor
    // division (// — matches Spark's div), weight = Σ v·ratio, top-20%
    // cut ranked (weight desc, doc_id asc)
    "q87_importance" ->
      s"""WITH w AS (SELECT doc_id, list_filter($WordsSql, t -> len(t) > 0) AS w FROM documents),
         |uni AS (SELECT doc_id, unnest(w) AS g FROM w),
         |bi AS (SELECT doc_id, array_to_string(list_slice(w, i, i + 1), ' ') AS g
         |       FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM w WHERE len(w) >= 2)),
         |g AS (SELECT doc_id, g FROM uni UNION ALL SELECT doc_id, g FROM bi),
         |hb AS (SELECT doc_id, ($HvSql) % 1024 AS b
         |       FROM (SELECT doc_id, md5('ir:' || g) AS h FROM g)),
         |fb AS (SELECT doc_id, b, count(*) AS v FROM hb GROUP BY 1, 2),
         |qb AS (SELECT b, CAST(sum(v) AS BIGINT) AS q FROM fb GROUP BY 1),
         |tb AS (SELECT b, CAST(sum(v) AS BIGINT) AS t FROM fb
         |       WHERE doc_id % 7 = 0 GROUP BY 1),
         |r AS (SELECT qb.b, ((coalesce(t, 0) + 1) * 1000000) // (q + 1) AS ratio
         |      FROM qb LEFT JOIN tb USING (b)),
         |dw AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS n_grams,
         |         CAST(sum(v * ratio) AS BIGINT) AS weight
         |       FROM fb JOIN r USING (b) GROUP BY 1),
         |aw AS (SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
         |         coalesce(weight, 0) AS weight
         |       FROM documents d LEFT JOIN dw USING (doc_id)),
         |rk AS (SELECT doc_id, n_grams, weight,
         |         row_number() OVER (ORDER BY weight DESC, doc_id) AS rn FROM aw)
         |SELECT doc_id, n_grams, weight,
         |  CASE WHEN rn <= (SELECT count(*) // 5 FROM documents)
         |       THEN 1 ELSE 0 END AS selected
         |FROM rk ORDER BY doc_id""".stripMargin,
    // group-level split: u = md5('gsplit:' || source) fold / 2^32;
    // binary fractions make the boundaries exact doubles
    "q91_group_split" ->
      s"""WITH u AS (
         |  SELECT doc_id, source,
         |    CAST($HvSql AS DOUBLE) / CAST(4294967296 AS DOUBLE) AS u
         |  FROM (SELECT doc_id, source,
         |          md5('gsplit:' || source) AS h FROM documents)),
         |sp AS (SELECT doc_id, source,
         |         CASE WHEN u < CAST(0.75 AS DOUBLE) THEN 'train'
         |              WHEN u < CAST(0.875 AS DOUBLE) THEN 'val'
         |              ELSE 'test' END AS split
         |       FROM u)
         |SELECT split, count(*) AS n_docs,
         |  count(DISTINCT source) AS n_sources,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin,
    // ADPCM audit: PCM-leg features recomputed closed-form off the
    // triangle (32 − |((id+i) mod 64) − 32| − 16)·48, n = 64 + id mod
    // 64; the compressed leg can't be decoded by SQL — the verdict row
    // asserts the band check passed for every asset (energy = n_assets
    // = corpus size on the n_frames = −1 row)
    "q88_adpcm_audio" ->
      """WITH m AS (
        |  SELECT doc_id, 64 + CAST(doc_id % 64 AS INT) AS n FROM documents),
        |s AS (
        |  SELECT doc_id, n, i,
        |    (32 - abs(((doc_id + i) % 64) - 32) - 16) * 48 AS v,
        |    CASE WHEN i > 0
        |      THEN (32 - abs(((doc_id + i - 1) % 64) - 32) - 16) * 48 END AS pv
        |  FROM m, unnest(range(0, n)) AS t(i)),
        |agg AS (
        |  SELECT doc_id, n, sum(v * v) AS ss,
        |    sum(CASE WHEN i > 0 AND ((v >= 0) <> (pv >= 0)) THEN 1 ELSE 0 END) AS zc,
        |    max(abs(v)) AS pk
        |  FROM s GROUP BY 1, 2),
        |l AS (SELECT CAST(n AS BIGINT) AS n_frames, count(*) AS n_assets,
        |        CAST(sum(ss) AS BIGINT) AS energy,
        |        CAST(sum(zc) AS BIGINT) AS zero_crossings,
        |        CAST(max(pk) AS BIGINT) AS max_peak
        |      FROM agg GROUP BY 1),
        |v AS (SELECT CAST(-1 AS BIGINT) AS n_frames, count(*) AS n_assets,
        |        CAST(count(*) AS BIGINT) AS energy,
        |        CAST(0 AS BIGINT) AS zero_crossings,
        |        CAST(0 AS BIGINT) AS max_peak FROM documents)
        |SELECT * FROM l UNION ALL SELECT * FROM v ORDER BY n_frames""".stripMargin,
    // FLAC audit: lossless, so the decoded-sample features are
    // recomputed closed-form EXACTLY — q88's l-rows with no band row
    "q89_flac_audio" ->
      """WITH m AS (
        |  SELECT doc_id, 64 + CAST(doc_id % 64 AS INT) AS n FROM documents),
        |s AS (
        |  SELECT doc_id, n, i,
        |    (32 - abs(((doc_id + i) % 64) - 32) - 16) * 48 AS v,
        |    CASE WHEN i > 0
        |      THEN (32 - abs(((doc_id + i - 1) % 64) - 32) - 16) * 48 END AS pv
        |  FROM m, unnest(range(0, n)) AS t(i)),
        |agg AS (
        |  SELECT doc_id, n, sum(v * v) AS ss,
        |    sum(CASE WHEN i > 0 AND ((v >= 0) <> (pv >= 0)) THEN 1 ELSE 0 END) AS zc,
        |    max(abs(v)) AS pk
        |  FROM s GROUP BY 1, 2)
        |SELECT CAST(n AS BIGINT) AS n_frames, count(*) AS n_assets,
        |  CAST(sum(ss) AS BIGINT) AS energy,
        |  CAST(sum(zc) AS BIGINT) AS zero_crossings,
        |  CAST(max(pk) AS BIGINT) AS max_peak
        |FROM agg GROUP BY 1 ORDER BY 1""".stripMargin,
    // WRS: draw = max over j in 1..w of the md5 fold of
    // 'wrs:' || doc_id || ':' || j; top-k by (draw desc, doc_id asc)
    "q90_weighted_sample" ->
      s"""WITH w AS (SELECT doc_id, 1 + CAST(doc_id % 8 AS INT) AS weight
         |           FROM documents),
         |d AS (SELECT doc_id, weight, ($HvSql) AS hv
         |      FROM (SELECT doc_id, weight,
         |              md5('wrs:' || CAST(doc_id AS VARCHAR) || ':'
         |                || CAST(j AS VARCHAR)) AS h
         |            FROM w, unnest(range(1, weight + 1)) AS t(j))),
         |m AS (SELECT doc_id, CAST(max(weight) AS INT) AS weight,
         |        CAST(max(hv) AS BIGINT) AS draw
         |      FROM d GROUP BY 1),
         |rk AS (SELECT doc_id, weight, draw,
         |         row_number() OVER (ORDER BY draw DESC, doc_id) AS rn FROM m)
         |SELECT doc_id, weight, draw,
         |  CASE WHEN rn <= (SELECT count(*) // 10 FROM documents)
         |       THEN 1 ELSE 0 END AS selected
         |FROM rk ORDER BY doc_id""".stripMargin,
    "q67_stratified" ->
      s"""WITH hv AS (
         |  SELECT doc_id, lang, md5('strat' || CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |u AS (
         |  SELECT doc_id, lang,
         |    CAST($HvSql AS DOUBLE) / CAST(4294967296 AS DOUBLE) AS u
         |  FROM hv),
         |k AS (
         |  SELECT lang, doc_id FROM u
         |  WHERE u < CASE lang WHEN 'en' THEN CAST(0.5 AS DOUBLE)
         |                      WHEN 'fr' THEN CAST(0.25 AS DOUBLE)
         |                      WHEN 'de' THEN CAST(0.2 AS DOUBLE)
         |                      ELSE CAST(0.1 AS DOUBLE) END)
         |SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    // mirrors fuzzyPairs' blocking contract exactly: lowercase 12-char
    // block equality + length gap ≤ 6, then the Levenshtein verify
    "q68_fuzzy_pairs" ->
      """WITH t AS (SELECT doc_id, substr(text, 1, 80) AS s FROM documents),
        |b AS (SELECT doc_id, s, lower(substr(s, 1, 12)) AS block,
        |        length(s) AS l FROM t),
        |p AS (
        |  SELECT a.doc_id AS d1, c.doc_id AS d2, levenshtein(a.s, c.s) AS dist
        |  FROM b a JOIN b c
        |    ON a.block = c.block AND a.doc_id < c.doc_id
        |   AND abs(a.l - c.l) <= 6)
        |SELECT dist, count(*) AS n_pairs,
        |  CAST(sum(d1 + d2) AS BIGINT) AS sum_ids
        |FROM p WHERE dist <= 6 GROUP BY 1 ORDER BY 1""".stripMargin,
    // token-position bases are 1-based on both sides; cov explodes
    // each duplicated window into its covered positions, kept tokens
    // anti-join coverage, reassembly is position-ordered
    "q69_substring_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS w
        |  FROM documents),
        |win AS (SELECT doc_id, i, array_to_string(list_slice(w, i, i + 14), ' ') AS gram
        |        FROM (SELECT doc_id, w, unnest(range(1, len(w) - 15 + 2)) AS i
        |              FROM w WHERE len(w) >= 15)),
        |dup AS (SELECT gram FROM win GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT doc_id, unnest(range(i, i + 15)) AS pos
        |        FROM win SEMI JOIN dup USING (gram)),
        |tok AS (SELECT doc_id, unnest(w) AS token, generate_subscripts(w, 1) AS pos FROM w),
        |kept AS (SELECT t.doc_id, t.pos, t.token FROM tok t ANTI JOIN cov USING (doc_id, pos)),
        |tot AS (SELECT doc_id, len(w) AS n_tokens FROM w),
        |rb AS (SELECT doc_id, count(*) AS n_kept_tokens,
        |         string_agg(token, ' ' ORDER BY pos) AS cleaned FROM kept GROUP BY 1)
        |SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
        |  coalesce(rb.n_kept_tokens, 0) AS n_kept_tokens,
        |  coalesce(rb.cleaned, '') AS cleaned
        |FROM tot t LEFT JOIN rb USING (doc_id) ORDER BY doc_id""".stripMargin,
    // q23's cosine formulation with the dedup keep-rule on top: drop
    // ids having any lower-id neighbor at score >= 0.40
    "q70_semantic_dedup" ->
      """WITH a AS (SELECT vec_id AS a_id, embedding AS a_vec FROM embeddings),
        |b AS (SELECT vec_id AS b_id, embedding AS b_vec FROM embeddings),
        |s AS (
        |  SELECT a_id, b_id,
        |    round(
        |      list_sum(list_transform(range(1, len(a_vec) + 1),
        |        i -> CAST(a_vec[i] AS DOUBLE) * CAST(b_vec[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1, len(a_vec) + 1),
        |           i -> CAST(a_vec[i] AS DOUBLE) * CAST(a_vec[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1, len(b_vec) + 1),
        |           i -> CAST(b_vec[i] AS DOUBLE) * CAST(b_vec[i] AS DOUBLE))))), 6) AS score
        |  FROM a, b WHERE a_id < b_id),
        |drop AS (SELECT DISTINCT b_id FROM s WHERE score >= 0.40)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT b_id FROM drop) ORDER BY vec_id""".stripMargin,
    // q70's exact drop-set reduced to counts; the clustered mode's
    // superset invariant arrives as a Spark-audited boolean the oracle
    // asserts literally (the q65 pattern)
    "q70c_clustered_dedup" ->
      """WITH a AS (SELECT vec_id AS a_id, embedding AS a_vec FROM embeddings),
        |b AS (SELECT vec_id AS b_id, embedding AS b_vec FROM embeddings),
        |s AS (
        |  SELECT a_id, b_id,
        |    round(
        |      list_sum(list_transform(range(1, len(a_vec) + 1),
        |        i -> CAST(a_vec[i] AS DOUBLE) * CAST(b_vec[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1, len(a_vec) + 1),
        |           i -> CAST(a_vec[i] AS DOUBLE) * CAST(a_vec[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1, len(b_vec) + 1),
        |           i -> CAST(b_vec[i] AS DOUBLE) * CAST(b_vec[i] AS DOUBLE))))), 6) AS score
        |  FROM a, b WHERE a_id < b_id),
        |drop AS (SELECT DISTINCT b_id FROM s WHERE score >= 0.40)
        |SELECT (SELECT count(*) FROM embeddings) AS n_vecs,
        |  (SELECT count(*) FROM embeddings
        |     WHERE vec_id NOT IN (SELECT b_id FROM drop)) AS n_exact,
        |  true AS superset_ok""".stripMargin,
    "q72_novelty" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS w
        |  FROM documents),
        |win AS (SELECT doc_id, array_to_string(list_slice(w, i, i + 7), ' ') AS gram
        |        FROM (SELECT doc_id, w, unnest(range(1, len(w) - 8 + 2)) AS i
        |              FROM w WHERE len(w) >= 8)),
        |fs AS (SELECT gram, min(doc_id) AS first_doc FROM win GROUP BY 1),
        |per AS (SELECT win.doc_id, count(*) AS n_windows,
        |          CAST(sum(CASE WHEN fs.first_doc < win.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
        |        FROM win JOIN fs USING (gram) GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(per.n_windows, 0) AS n_windows,
        |  coalesce(per.n_seen, 0) AS n_seen,
        |  CASE WHEN coalesce(per.n_windows, 0) = 0 THEN CAST(1.0 AS DOUBLE)
        |       ELSE round(1.0 - CAST(per.n_seen AS DOUBLE) / per.n_windows, 6) END AS novelty
        |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin,
    // score arithmetic mirrors the Spark side op-for-op: tf · (N/df)
    // — integer-ratio double division only, no transcendentals
    "q73_tfidf" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($WordsSql) AS term FROM documents),
         |f AS (SELECT doc_id, term FROM tok
         |      WHERE term NOT IN ($EnSet) AND term <> ''),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM f GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
         |s AS (SELECT doc_id, term, round(tf * (n.n / df.df), 6) AS score
         |      FROM tf JOIN df USING (term) CROSS JOIN n),
         |r AS (SELECT doc_id, term, score,
         |        row_number() OVER (PARTITION BY doc_id
         |          ORDER BY score DESC, term) AS rk FROM s)
         |SELECT doc_id, rk, term, score FROM r WHERE rk <= 3
         |ORDER BY doc_id, rk""".stripMargin,
    // independent formulation: phrase stats straight off the trigram
    // table (the engine runs positional postings joins instead)
    "q71_phrase_search" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS w
        |  FROM documents),
        |tri AS (SELECT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS phrase
        |        FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3 + 2)) AS i
        |              FROM w WHERE len(w) >= 3)),
        |top AS (SELECT phrase, count(*) AS n FROM tri GROUP BY 1
        |        ORDER BY n DESC, phrase LIMIT 5),
        |per AS (SELECT t.phrase, t.doc_id, count(*) AS c
        |        FROM tri t SEMI JOIN top USING (phrase) GROUP BY 1, 2)
        |SELECT phrase, count(*) AS n_docs,
        |  CAST(sum(c) AS BIGINT) AS n_occurrences,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM per GROUP BY 1 ORDER BY phrase""".stripMargin,
    // tokenization is Chunking.tokens (raw split on ' ', empties
    // dropped — NOT the lowercased words() the dedup oracles use)
    "q75_lm_backoff" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS w
        |  FROM documents),
        |train AS (SELECT w FROM toks WHERE doc_id % 5 = 0 AND len(w) > 0),
        |uni AS (SELECT g AS gram, count(*) AS c1
        |        FROM (SELECT unnest(w) AS g FROM train) GROUP BY 1),
        |bi AS (SELECT array_to_string(list_slice(w, i, i + 1), ' ') AS gram, count(*) AS c2
        |       FROM (SELECT w, unnest(range(1, len(w))) AS i FROM train WHERE len(w) >= 2)
        |       GROUP BY 1),
        |tri AS (SELECT array_to_string(list_slice(w, i, i + 2), ' ') AS gram, count(*) AS c3
        |        FROM (SELECT w, unnest(range(1, len(w) - 1)) AS i FROM train WHERE len(w) >= 3)
        |        GROUP BY 1),
        |pos AS (SELECT doc_id,
        |          array_to_string(list_slice(w, i, i + 2), ' ') AS tg,
        |          array_to_string(list_slice(w, i + 1, i + 2), ' ') AS bg,
        |          w[i + 2] AS ug
        |        FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
        |              FROM toks WHERE len(w) >= 3)),
        |j AS (SELECT p.doc_id,
        |        CASE WHEN t3.c3 IS NOT NULL THEN 3
        |             WHEN b2.c2 IS NOT NULL THEN 2
        |             WHEN u1.c1 IS NOT NULL THEN 1 ELSE 0 END AS lvl,
        |        t3.c3, b2.c2, u1.c1
        |      FROM pos p
        |      LEFT JOIN tri t3 ON p.tg = t3.gram
        |      LEFT JOIN bi b2 ON p.bg = b2.gram
        |      LEFT JOIN uni u1 ON p.ug = u1.gram),
        |per AS (SELECT doc_id, count(*) AS n_pos,
        |          CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
        |          CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi,
        |          CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
        |          CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |          CAST(sum(CASE WHEN lvl = 3 THEN c3 ELSE 0 END) AS BIGINT) AS sum_c3,
        |          CAST(sum(CASE WHEN lvl = 2 THEN c2 ELSE 0 END) AS BIGINT) AS sum_c2,
        |          CAST(sum(CASE WHEN lvl = 1 THEN c1 ELSE 0 END) AS BIGINT) AS sum_c1
        |        FROM j GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
        |  coalesce(n_pos, 0) AS n_pos,
        |  coalesce(n_tri, 0) AS n_tri, coalesce(n_bi, 0) AS n_bi,
        |  coalesce(n_uni, 0) AS n_uni, coalesce(n_oov, 0) AS n_oov,
        |  coalesce(sum_c3, 0) AS sum_c3, coalesce(sum_c2, 0) AS sum_c2,
        |  coalesce(sum_c1, 0) AS sum_c1
        |FROM toks t LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // featurizer face of the quality classifier: lowercased words()
    // tokenization, uni+bigrams, md5('qc:'||g) fold mod 4096
    "q77_lr_features" ->
      s"""WITH w AS (SELECT doc_id, list_filter($WordsSql, t -> len(t) > 0) AS w FROM documents),
         |uni AS (SELECT doc_id, unnest(w) AS g FROM w),
         |bi AS (SELECT doc_id, array_to_string(list_slice(w, i, i + 1), ' ') AS g
         |       FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM w WHERE len(w) >= 2)),
         |g AS (SELECT doc_id, g FROM uni UNION ALL SELECT doc_id, g FROM bi),
         |hb AS (SELECT doc_id, ($HvSql) % 4096 AS b
         |       FROM (SELECT doc_id, md5('qc:' || g) AS h FROM g)),
         |fb AS (SELECT doc_id, b, count(*) AS v FROM hb GROUP BY 1, 2),
         |per AS (SELECT doc_id, count(*) AS n_buckets, CAST(sum(v) AS BIGINT) AS n_grams,
         |        CAST(sum(b * v) AS BIGINT) AS checksum FROM fb GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_buckets, 0) AS n_buckets,
         |  coalesce(n_grams, 0) AS n_grams, coalesce(checksum, 0) AS checksum
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // linear-idf BM25 (exact rationals; contributions DECIMAL-summed);
    // // = integer floor division (plain / CASTs round in DuckDB)
    "q79_bm25" ->
      s"""WITH w AS (SELECT doc_id, list_filter($WordsSql, t -> len(t) > 0) AS w FROM documents),
         |tok AS (SELECT doc_id, unnest(w) AS term FROM w),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfx AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |                 CAST(sum(len(w)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM w),
         |dl AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM w),
         |mined AS (SELECT term, row_number() OVER (ORDER BY df DESC, term) AS rn
         |          FROM (SELECT term, df FROM dfx WHERE term NOT IN ($EnSet)
         |                ORDER BY df DESC, term LIMIT 9)),
         |q AS (SELECT (rn - 1) // 3 + 1 AS q_id, term FROM mined),
         |contrib AS (
         |  SELECT q.q_id, tf.doc_id,
         |    (((stats.n_docs - d.df + 0.5) / (d.df + 0.5)) * (CAST(tf.tf AS DOUBLE) * 2.2))
         |      / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS c
         |  FROM tf JOIN q ON tf.term = q.term
         |  JOIN dfx d ON d.term = tf.term
         |  JOIN dl ON dl.doc_id = tf.doc_id
         |  CROSS JOIN stats),
         |scored AS (SELECT q_id, doc_id,
         |             round(CAST(sum(CAST(c AS DECIMAL(28,12))) AS DOUBLE), 6) AS score
         |           FROM contrib GROUP BY 1, 2),
         |r AS (SELECT q_id, doc_id, score,
         |        row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rk
         |      FROM scored)
         |SELECT q_id, rk, doc_id, score FROM r WHERE rk <= 10 ORDER BY 1, 2""".stripMargin,
    // ranked phrase retrieval: q71's raw-token trigram mining and
    // phrase matching composed with q79's linear-idf BM25 scoring,
    // restricted to the phrase-matching documents before ranking
    "q92_phrase_ranked" ->
      s"""WITH w0 AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS rw
         |            FROM documents),
         |tri AS (SELECT doc_id, array_to_string(list_slice(rw, i, i + 2), ' ') AS phrase
         |        FROM (SELECT doc_id, rw, unnest(range(1, len(rw) - 3 + 2)) AS i
         |              FROM w0 WHERE len(rw) >= 3)),
         |top AS (SELECT phrase, count(*) AS n FROM tri GROUP BY 1
         |        ORDER BY n DESC, phrase LIMIT 5),
         |mtch AS (SELECT DISTINCT t.phrase, t.doc_id
         |         FROM tri t SEMI JOIN top USING (phrase)),
         |w AS (SELECT doc_id, list_filter($WordsSql, t -> len(t) > 0) AS w FROM documents),
         |tok AS (SELECT doc_id, unnest(w) AS term FROM w),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfx AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |                 CAST(sum(len(w)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM w),
         |dl AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM w),
         |q AS (SELECT DISTINCT phrase, lower(pt) AS term
         |      FROM (SELECT phrase, unnest(string_split(phrase, ' ')) AS pt FROM top)),
         |contrib AS (
         |  SELECT q.phrase, tf.doc_id,
         |    (((stats.n_docs - d.df + 0.5) / (d.df + 0.5)) * (CAST(tf.tf AS DOUBLE) * 2.2))
         |      / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS c
         |  FROM tf JOIN q ON tf.term = q.term
         |  JOIN dfx d ON d.term = tf.term
         |  JOIN dl ON dl.doc_id = tf.doc_id
         |  CROSS JOIN stats),
         |restricted AS (SELECT c.phrase, c.doc_id, c.c
         |               FROM contrib c JOIN mtch m
         |                 ON m.phrase = c.phrase AND m.doc_id = c.doc_id),
         |scored AS (SELECT phrase, doc_id,
         |             round(CAST(sum(CAST(c AS DECIMAL(28,12))) AS DOUBLE), 6) AS score
         |           FROM restricted GROUP BY 1, 2),
         |r AS (SELECT phrase, doc_id, score,
         |        row_number() OVER (PARTITION BY phrase ORDER BY score DESC, doc_id) AS rk
         |      FROM scored)
         |SELECT phrase, rk, doc_id, score FROM r WHERE rk <= 10 ORDER BY 1, 2""".stripMargin,
    // cross-run ledger dedup: day-1 fingerprints (even ids) are the
    // ledger, day-2 rows (odd ids) survive iff never seen
    "q93_ledger_dedup" ->
      """WITH d1 AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 2 = 0),
        |d2 AS (SELECT doc_id, lang, md5(text) AS fp FROM documents WHERE doc_id % 2 <> 0),
        |flagged AS (SELECT d2.*, CASE WHEN d1.fp IS NULL THEN 1 ELSE 0 END AS is_new
        |            FROM d2 LEFT JOIN d1 ON d2.fp = d1.fp)
        |SELECT lang,
        |  count(*) AS n_day2,
        |  CAST(sum(is_new) AS BIGINT) AS n_new,
        |  CAST(sum(CASE WHEN is_new = 1 THEN doc_id ELSE 0 END) AS BIGINT) AS sum_new_ids
        |FROM flagged GROUP BY 1 ORDER BY 1""".stripMargin,
    // cross-run NEAR-dup through the ledger: q20's exact all-pairs
    // oracle restricted to cross-day (even d1, odd d2) pairs — the
    // band-key prune is lossless w.r.t. the LSH candidate set and the
    // 64/16 boundary miss at j >= 0.9 is ~4e-8 (q20's argument)
    "q94_ledger_near_dup" ->
      s"""WITH w AS (SELECT doc_id, $WordsSql AS w FROM documents),
         |idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM w WHERE len(w) >= 3),
         |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM idx),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
         |  FROM sh a JOIN sh b ON a.s = b.s
         |    AND a.doc_id % 2 = 0 AND b.doc_id % 2 <> 0
         |  GROUP BY 1, 2)
         |SELECT d1, d2, shared,
         |  round(CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE), 6) AS jaccard
         |FROM pairs
         |JOIN cnt ca ON ca.doc_id = d1
         |JOIN cnt cb ON cb.doc_id = d2
         |WHERE round(CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE), 6) >= 0.9
         |ORDER BY 1, 2""".stripMargin,
    // the full-pipeline capstone: every stage's proven oracle block
    // chained end-to-end (q16 gate → q63 scrub → q18-style dedup →
    // q56 split/grams → q57 budget cut → q52 shard)
    "q95_curation_pipeline" ->
      s"""WITH d0 AS (
         |  SELECT doc_id, source, text,
         |    len($WordsSql) AS n_tokens,
         |    len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct,
         |    len(list_filter($WordsSql, w -> w IN ($EnSet))) AS n_stopwords
         |  FROM documents),
         |g0 AS (
         |  SELECT doc_id, source, text FROM d0
         |  WHERE least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
         |    + greatest(1.0 - (CASE WHEN length(text) > 0
         |        THEN CAST(n_punct AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END) * 5.0, 0.0) * 0.3
         |    + least((CASE WHEN n_tokens > 0
         |        THEN CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) * 10.0, 1.0) * 0.3
         |    >= 0.5),
         |w1 AS (
         |  SELECT doc_id, source, list_filter(string_split(text, ' '), t -> len(t) > 0) AS w
         |  FROM g0),
         |ch AS (SELECT doc_id, unnest(range(1, len(w) + 1, 10)) AS i, w
         |       FROM w1 WHERE len(w) > 0),
         |c2 AS (SELECT doc_id, (i - 1) // 10 AS pos,
         |         array_to_string(list_slice(w, i, i + 9), ' ') AS chunk FROM ch),
         |rep AS (SELECT chunk FROM c2 GROUP BY 1 HAVING count(DISTINCT doc_id) > 1),
         |kept AS (SELECT c2.doc_id, c2.pos, c2.chunk FROM c2 ANTI JOIN rep USING (chunk)),
         |rb AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS cleaned
         |       FROM kept GROUP BY 1),
         |cleaned AS (
         |  SELECT g0.doc_id, g0.source, rb.cleaned AS text
         |  FROM g0 JOIN rb USING (doc_id)
         |  WHERE length(rb.cleaned) > 0),
         |keep AS (SELECT min(doc_id) AS doc_id FROM cleaned GROUP BY md5(text)),
         |dd AS (SELECT c.* FROM cleaned c SEMI JOIN keep USING (doc_id)),
         |hv AS (SELECT doc_id, source, text, md5(CAST(doc_id AS VARCHAR)) AS h FROM dd),
         |sp AS (
         |  SELECT doc_id, source, text, $WordsSql AS toks,
         |    CASE WHEN CAST($HvSql AS DOUBLE) / CAST(4294967296 AS DOUBLE)
         |              < CAST(0.9 AS DOUBLE)
         |         THEN 'train' ELSE 'test' END AS split
         |  FROM hv),
         |g AS (SELECT doc_id, split,
         |    unnest(list_transform(range(1, len(toks) - 11),
         |      i -> array_to_string(toks[i:i+12], ' '))) AS gram
         |  FROM sp WHERE len(toks) >= 13),
         |te AS (SELECT DISTINCT gram FROM g WHERE split = 'test'),
         |fl AS (SELECT DISTINCT doc_id FROM g
         |       WHERE split = 'train' AND gram IN (SELECT gram FROM te)),
         |clean AS (
         |  SELECT doc_id, source, text, toks FROM sp
         |  WHERE split = 'train' AND doc_id NOT IN (SELECT doc_id FROM fl)),
         |q1 AS (
         |  SELECT doc_id, source, len(toks) AS w,
         |    least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.4
         |    + greatest(1.0 - (CASE WHEN length(text) > 0
         |        THEN CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
         |             / CAST(length(text) AS DOUBLE) ELSE 0.0 END) * 5.0, 0.0) * 0.3
         |    + least((CASE WHEN len(toks) > 0
         |        THEN CAST(len(list_filter(toks, x -> x IN ($EnSet))) AS DOUBLE)
         |             / CAST(len(toks) AS DOUBLE) ELSE 0.0 END) * 10.0, 1.0) * 0.3
         |    AS q
         |  FROM clean),
         |c3 AS (SELECT source, doc_id, w,
         |    sum(w) OVER (PARTITION BY source ORDER BY q DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM q1),
         |sel AS (SELECT doc_id, w FROM c3 WHERE cum <= 5000),
         |sh2 AS (SELECT doc_id, w, md5('shard' || CAST(doc_id AS VARCHAR)) AS h FROM sel),
         |f AS (SELECT ($HvSql) % 8 AS shard, doc_id, w FROM sh2)
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
         |  CAST(sum(w) AS BIGINT) AS sum_toks
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    // KLL in degenerate-exact mode == rank selection at ⌊p·(n−1)⌋;
    // spelled with row_number (not quantile_disc) so the rank
    // convention is explicit and engine-agnostic
    "q96_kll_quantiles" ->
      """WITH ranked AS (
        |  SELECT lang, CAST(n_chars AS DOUBLE) AS v,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) - 1 AS r,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang,
        |  max(CASE WHEN r = CAST(floor(0.25 * (n - 1)) AS BIGINT) THEN v END) AS p25,
        |  max(CASE WHEN r = CAST(floor(0.5 * (n - 1)) AS BIGINT) THEN v END) AS p50,
        |  max(CASE WHEN r = CAST(floor(0.75 * (n - 1)) AS BIGINT) THEN v END) AS p75,
        |  max(CASE WHEN r = CAST(floor(0.9 * (n - 1)) AS BIGINT) THEN v END) AS p90,
        |  max(n) AS n
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin,
    // reconstructs the WARC fixture's extracted text arithmetically:
    // synthesizeFixture wraps each doc's text in closed-form HTML
    // ('Doc id' title + text + the non-ASCII suffix inside <p>), every
    // charset leg decodes losslessly, and html_text reduces the page
    // to exactly this string — no WARC/HTML machinery oracle-side
    "q97_warc_ingest" ->
      """WITH e AS (
        |  SELECT doc_id,
        |    'Doc ' || CAST(doc_id AS VARCHAR) || ' ' || text
        |      || ' café révisé' AS etext,
        |    CASE WHEN doc_id % 3 = 0 THEN 'utf-8'
        |         ELSE 'windows-1252' END AS charset
        |  FROM documents)
        |SELECT doc_id, charset, 0 AS decode_errors,
        |  len(string_split_regex(lower(trim(etext)), ' +')) AS n_tokens,
        |  md5(etext) AS text_md5,
        |  false AS truncated
        |FROM e ORDER BY doc_id""".stripMargin,
    // the migrated Iceberg table holds exactly the orders fixture's
    // rows (migrateTable is a cast-free copy here), so the pruned read
    // must aggregate to the raw parquet under the same predicate; the
    // file-skipping audit arrives as a Spark-side boolean
    "q100_iceberg_pruned_read" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE), 2)
        |    AS sum_price,
        |  true AS prune_ok
        |FROM orders
        |WHERE o_orderstatus = 'F'
        |  AND o_orderkey BETWEEN 500 AND 5000""".stripMargin,
    // the DSv2 pushdown face must agree with the raw parquet under
    // the SAME predicate — q100's oracle verbatim
    "q102_dsv2_pruned_read" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE), 2)
        |    AS sum_price,
        |  true AS prune_ok
        |FROM orders
        |WHERE o_orderstatus = 'F'
        |  AND o_orderkey BETWEEN 500 AND 5000""".stripMargin,
    // the CDC diff reconstructed arithmetically: inserts = the initial
    // 75% slice (original prices) plus the batch (closed-form prices),
    // deletes = the updated keys' ORIGINAL rows
    "q101_cdc_changes" ->
      """WITH a AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 4 <> 3),
        |b AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 8 = 1 THEN o_orderkey * 2.0
        |         ELSE o_orderkey * 3.0 END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 8 IN (1, 3)),
        |ins AS (
        |  SELECT o_orderkey, o_totalprice FROM a
        |  UNION ALL SELECT o_orderkey, o_totalprice FROM b),
        |del AS (
        |  SELECT o_orderkey, o_totalprice FROM a WHERE o_orderkey % 8 = 1),
        |u AS (
        |  SELECT 'delete' AS change_type, count(*) AS n_rows,
        |    CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
        |    round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE), 2)
        |      AS sum_price
        |  FROM del
        |  UNION ALL
        |  SELECT 'insert', count(*),
        |    CAST(sum(o_orderkey) AS BIGINT),
        |    round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE), 2)
        |  FROM ins)
        |SELECT * FROM u ORDER BY change_type""".stripMargin,
    // the O(changes) CDC face must agree with the same arithmetic the
    // state-diff face matches — q101's oracle verbatim
    "q103_changes_scan" ->
      """WITH a AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 4 <> 3),
        |b AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 8 = 1 THEN o_orderkey * 2.0
        |         ELSE o_orderkey * 3.0 END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 8 IN (1, 3)),
        |ins AS (
        |  SELECT o_orderkey, o_totalprice FROM a
        |  UNION ALL SELECT o_orderkey, o_totalprice FROM b),
        |del AS (
        |  SELECT o_orderkey, o_totalprice FROM a WHERE o_orderkey % 8 = 1),
        |u AS (
        |  SELECT 'delete' AS change_type, count(*) AS n_rows,
        |    CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
        |    round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE), 2)
        |      AS sum_price
        |  FROM del
        |  UNION ALL
        |  SELECT 'insert', count(*),
        |    CAST(sum(o_orderkey) AS BIGINT),
        |    round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE), 2)
        |  FROM ins)
        |SELECT * FROM u ORDER BY change_type""".stripMargin,
    // the write faces compose: bootstrap + append + filtered read-back
    // must equal the raw-parquet arithmetic
    "q104_write_roundtrip" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE), 2)
        |    AS sum_price
        |FROM orders
        |WHERE o_orderstatus = 'O'""".stripMargin,
    // the SQL catalog face (CREATE + INSERT INTO + pruned SELECT) must
    // land on the raw-parquet arithmetic
    "q105_sql_catalog" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE), 2)
        |    AS sum_price
        |FROM orders
        |WHERE o_orderstatus = 'F' AND o_orderkey % 3 = 1""".stripMargin,
    // the full north-star path (Derby source → partitioned JDBC read →
    // Iceberg migrate → pruned DSv2 read-back) must land on the
    // raw-parquet arithmetic
    "q106_jdbc_migrate" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE), 2)
        |    AS sum_price
        |FROM orders
        |WHERE o_orderstatus = 'P'""".stripMargin,
    // schema evolution: old-generation files (even keys, pre-ALTER)
    // null-fill the added column and resolve the renamed one by field
    // id; new-generation files (odd keys) carry NEW_PRICE = 2×price
    "q107_schema_evolution" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |  round(CAST(sum(CASE WHEN o_orderkey % 2 = 1
        |      THEN CAST(o_totalprice * 2 AS DECIMAL(28,4))
        |      ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE), 2) AS sum_new
        |FROM orders
        |WHERE o_orderstatus = 'F'""".stripMargin,
    // hidden partitioning: the half-open week over days(ts) +
    // truncate(2, event_type) must aggregate to the raw parquet under
    // the same predicate; the file-skipping audit (strict upper bound
    // excludes the boundary day's directory) arrives as a Spark-side
    // boolean
    "q108_hidden_partitioning" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        |  count(*) AS n_rows,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_val,
        |  true AS prune_ok
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts <  TIMESTAMP '2024-01-15 00:00:00'
        |  AND event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // SQL DELETE FROM: what remains after the merge-on-read delete is
    // the arithmetic complement of the deleted predicate
    "q109_sql_delete" ->
      """SELECT o_orderstatus AS status, count(*) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE), 2)
        |    AS sum_price
        |FROM orders
        |WHERE NOT (o_orderstatus = 'O' AND o_orderkey < 5000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // SQL MERGE INTO reconstructed arithmetically: the 75% keyslice
    // target, minus the k%6=0 matched deletes, with k%3=0 matched
    // updates re-priced, plus the target-absent k%3=0 inserts under
    // status 'N'
    "q111_merge" ->
      """WITH t AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS p
        |  FROM orders WHERE o_orderkey % 4 <> 3),
        |u AS (
        |  SELECT k, st,
        |    CASE WHEN k % 3 = 0 THEN k * 10.0 ELSE p END AS p
        |  FROM t WHERE NOT (k % 3 = 0 AND k % 6 = 0)),
        |ins AS (
        |  SELECT o_orderkey AS k, 'N' AS st, o_orderkey * 5.0 AS p
        |  FROM orders
        |  WHERE o_orderkey % 3 = 0 AND o_orderkey % 4 = 3),
        |allr AS (
        |  SELECT * FROM u UNION ALL SELECT * FROM ins)
        |SELECT st AS status, count(*) AS n_rows,
        |  CAST(sum(k) AS BIGINT) AS sum_keys,
        |  round(CAST(sum(CAST(p AS DECIMAL(28,4))) AS DOUBLE), 2)
        |    AS sum_price
        |FROM allr GROUP BY 1 ORDER BY 1""".stripMargin,
    // SQL UPDATE reconstructed arithmetically: the conditioned rows
    // re-priced in place, everything else untouched
    "q112_sql_update" ->
      """SELECT o_orderstatus AS status, count(*) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
        |  round(CAST(sum(CAST(
        |    CASE WHEN o_orderstatus = 'O' AND o_orderkey % 5 = 2
        |      THEN o_totalprice * 2.0 + 1.0 ELSE o_totalprice END
        |    AS DECIMAL(28,4))) AS DOUBLE), 2) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // the storage-partitioned join's rows reconstructed relationally:
    // DuckDB joins the same slices; the shuffle-free-plan audit
    // arrives as the Spark-side boolean
    "q113_spj_join" ->
      """WITH a AS (
        |  SELECT o_orderkey AS k, o_totalprice AS pa
        |  FROM orders WHERE o_orderkey % 4 <> 3),
        |b AS (
        |  SELECT o_orderkey AS k, o_totalprice * 0.5 AS pb
        |  FROM orders WHERE o_orderkey % 3 <> 2)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(a.k) AS BIGINT) AS sum_keys,
        |  round(CAST(sum(CAST(a.pa + b.pb AS DECIMAL(28,4)))
        |    AS DOUBLE), 2) AS sum_price,
        |  true AS spj_ok
        |FROM a JOIN b ON a.k = b.k""".stripMargin,
    // SPJ over live position deletes reconstructed relationally:
    // DuckDB applies the DELETE slice and the MERGE re-pricing in
    // order; the "deletes live + shuffle-free" audit arrives as the
    // Spark-side boolean
    "q114_spj_delete_join" ->
      """WITH a AS (
        |  SELECT o_orderkey AS k, o_totalprice AS pa
        |  FROM orders WHERE o_orderkey % 4 <> 3),
        |b0 AS (
        |  SELECT o_orderkey AS k, o_totalprice * 0.5 AS pb
        |  FROM orders WHERE o_orderkey % 3 <> 2),
        |b AS (
        |  SELECT k, CASE WHEN k % 7 = 1 THEN k * 2.0 ELSE pb END AS pb
        |  FROM b0 WHERE k % 5 <> 0)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(a.k) AS BIGINT) AS sum_keys,
        |  round(CAST(sum(CAST(a.pa + b.pb AS DECIMAL(28,4)))
        |    AS DOUBLE), 2) AS sum_price,
        |  true AS spj_ok
        |FROM a JOIN b ON a.k = b.k""".stripMargin,
    // identity-partitioned SPJ reconstructed relationally: sum_keys
    // is computed FROM the directory-encoded (re-injected) identity
    // column, so wrong constant injection flips the hash; the
    // shuffle-free audit arrives as the Spark-side boolean
    "q115_spj_identity_join" ->
      """WITH c AS (
        |  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nk,
        |    c_acctbal AS acct
        |  FROM customer),
        |n AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS nk, n_name AS nname
        |  FROM nation)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(c.nk) AS BIGINT) AS sum_keys,
        |  round(CAST(sum(CAST(c.acct AS DECIMAL(28,4)))
        |    AS DOUBLE), 2) AS sum_acct,
        |  CAST(sum(length(n.nname)) AS BIGINT) AS sum_name_len,
        |  true AS spj_ok
        |FROM c JOIN n ON c.nk = n.nk""".stripMargin,
    // the partitions metadata table must equal DuckDB recomputing the
    // day() and truncate(2) transforms arithmetically from raw parquet
    "q110_partitions_meta" ->
      """WITH d AS (
        |  SELECT CAST(CAST(floor(epoch(ts) / 86400.0) AS BIGINT)
        |      AS VARCHAR) AS ts_day,
        |    substr(event_type, 1, 2) AS event_type_trunc
        |  FROM events)
        |SELECT ts_day, event_type_trunc, count(*) AS record_count
        |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the boilerplate fixture's two extraction surfaces reconstructed
    // arithmetically: html_text keeps title + nav + content + link farm
    // + aside + footer in document order; main_content keeps exactly
    // the content paragraph (containers die wholesale, the link farm
    // dies on anchor density, the title stub dies on min length)
    "q97c_main_content" ->
      """WITH e AS (
        |  SELECT doc_id,
        |    'Doc ' || CAST(doc_id AS VARCHAR)
        |      || ' Home About Contact site navigation menu Doc '
        |      || CAST(doc_id AS VARCHAR) || ' body: ' || text
        |      || ' café révisé related article one related article two'
        |      || ' related article three subscribe to our weekly'
        |      || ' newsletter for updates and promotions copyright 2026'
        |      || ' corpus test press all rights reserved' AS full_text,
        |    'Doc ' || CAST(doc_id AS VARCHAR) || ' body: ' || text
        |      || ' café révisé' AS main_text
        |  FROM documents)
        |SELECT doc_id,
        |  len(string_split_regex(lower(trim(full_text)), ' +')) AS n_tokens_full,
        |  len(string_split_regex(lower(trim(main_text)), ' +')) AS n_tokens_main,
        |  md5(main_text) AS main_md5
        |FROM e ORDER BY doc_id""".stripMargin,
    // mirrors canonicalUrl's regexp chain op-for-op (DuckDB needs the
    // explicit 'g' flag where Spark replaces all; anchored/one-shot
    // steps need none)
    "q98_url_dedup" ->
      """WITH v AS (
        |  SELECT doc_id, CAST(doc_id % 50 AS VARCHAR) AS g,
        |    CAST(doc_id AS VARCHAR) AS ids,
        |    CAST((doc_id // 50) % 5 AS INT) AS var
        |  FROM documents),
        |u AS (
        |  SELECT doc_id,
        |    CASE var
        |      WHEN 0 THEN 'https://example' || g || '.org/articles/a' || g || '?p=1'
        |      WHEN 1 THEN 'HTTPS://EXAMPLE' || g || '.ORG/articles/a' || g || '?p=1'
        |      WHEN 2 THEN 'https://example' || g || '.org:443/articles/a' || g || '?p=1'
        |      WHEN 3 THEN 'https://example' || g || '.org/articles/a' || g || '?p=1&utm_source=feed&gclid=x' || ids
        |      ELSE 'https://example' || g || '.org/articles/a' || g || '?p=1#sec' || ids
        |    END AS url
        |  FROM v),
        |s1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS x FROM u),
        |s2 AS (SELECT doc_id,
        |         regexp_replace(x, '&(utm_[a-z]+|gclid|fbclid)=[^&]*', '', 'g') AS x
        |       FROM s1),
        |s3 AS (SELECT doc_id,
        |         lower(regexp_extract(x, '^[a-zA-Z]+://[^/]*'))
        |           || regexp_replace(x, '^[a-zA-Z]+://[^/]*', '') AS x
        |       FROM s2),
        |c AS (SELECT doc_id, regexp_replace(x,
        |        '^([a-z]+://[^/:?#]*):(80|443)([/?#]|$)', '\1\3') AS curl
        |      FROM s3)
        |SELECT curl, min(doc_id) AS keep_id, count(*) AS n_revisits,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // the capstone's every stage reconstructed arithmetically: q97's
    // closed-form extracted text, the crawl fixture's revisit/mirror
    // multiplicities (odd ids / ids ≡ 7 mod 10), the stage-ordered
    // survivor counts, the token gate, and q52's shard-hash mirror
    "q99_crawl_capstone" ->
      s"""WITH d AS (
        |  SELECT doc_id,
        |    'Doc ' || CAST(doc_id AS VARCHAR) || ' ' || text
        |      || ' café révisé' AS etext
        |  FROM documents),
        |tk AS (SELECT doc_id,
        |    len(string_split_regex(lower(trim(etext)), ' +')) AS n_toks
        |  FROM d),
        |c AS (SELECT
        |    CAST(count(*) AS BIGINT) AS n_base,
        |    CAST(count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS BIGINT) AS n_rev,
        |    CAST(count(CASE WHEN doc_id % 10 = 7 THEN 1 END) AS BIGINT) AS n_mir
        |  FROM documents),
        |k AS (SELECT doc_id, n_toks FROM tk WHERE n_toks >= 30),
        |h AS (SELECT doc_id, n_toks,
        |    md5('shard' || CAST(doc_id AS VARCHAR)) AS h FROM k),
        |v AS (SELECT doc_id, n_toks, ($HvSql) % 8 AS shard FROM h),
        |g AS (SELECT shard, count(*) AS n_docs,
        |    CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |    CAST(sum(n_toks) AS BIGINT) AS sum_toks
        |  FROM v GROUP BY 1)
        |SELECT g.shard, g.n_docs, g.sum_ids, g.sum_toks,
        |  c.n_base + c.n_rev + c.n_mir AS n_records,
        |  c.n_base + c.n_mir AS n_url_kept,
        |  c.n_base AS n_content_kept,
        |  (SELECT CAST(count(*) AS BIGINT) FROM k) AS n_gate_kept,
        |  (SELECT CAST(count(*) AS BIGINT) FROM tk
        |     WHERE n_toks - 2 >= 30) AS n_main_gate_kept
        |FROM g CROSS JOIN c ORDER BY g.shard""".stripMargin,
    // q22's exact-cosine oracle with the positive-cut folded in
    "q80_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings),
        |s AS (
        |  SELECT q_id, c_id,
        |    round(
        |      list_sum(list_transform(range(1, len(q_vec) + 1),
        |        i -> CAST(q_vec[i] AS DOUBLE) * CAST(c_vec[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1, len(q_vec) + 1),
        |           i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1, len(c_vec) + 1),
        |           i -> CAST(c_vec[i] AS DOUBLE) * CAST(c_vec[i] AS DOUBLE))))), 6) AS score
        |  FROM q, c WHERE q_id <> c_id),
        |r AS (SELECT q_id, c_id, score,
        |        row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rk
        |      FROM s WHERE score < 0.5)
        |SELECT q_id, rk, c_id, score FROM r WHERE rk <= 5 ORDER BY 1, 2""".stripMargin,
  )

  /** q46 carries q42's oracle verbatim: the Bloom prefilter only drops
    * provable non-members, so the two queries are row-identical.
    * q79_bm25_indexed likewise carries q79's — the indexed probe shares
    * the scoring core and must hash-match the in-memory search. */
  val oracleSql: Map[String, String] = baseOracleSql +
    ("q46_bloom_decontaminate" -> baseOracleSql("q42_decontaminate")) +
    ("q79_bm25_indexed" -> baseOracleSql("q79_bm25")) +
    ("q79_indexed_probe" -> baseOracleSql("q79_bm25")) +
    ("q71_indexed" -> baseOracleSql("q71_phrase_search")) +
    ("q71_indexed_probe" -> baseOracleSql("q71_phrase_search")) +
    ("q60_indexed_probe" -> baseOracleSql("q22_cosine_topk")) +
    // the PQ degeneracy anchor: rerank-everything == brute force
    ("q59_pq_exact" -> baseOracleSql("q22_cosine_topk")) +
    // the LSH/IVF degeneracy anchors: full-coverage probes == brute force
    ("q25_lsh_exact" -> baseOracleSql("q22_cosine_topk")) +
    ("q31_ivf_exact" -> baseOracleSql("q22_cosine_topk"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q16_text_stats" -> (q16TextStats _),
    "q17_langid" -> (q17LangId _),
    "q18_exact_dedup" -> (q18ExactDedup _),
    "q19_ngram_jaccard" -> (q19NgramJaccard _),
    "q20_minhash_lsh" -> (q20MinhashLsh _),
    "q21_simhash" -> (q21Simhash _),
    "q22_cosine_topk" -> (q22CosineTopK _),
    "q30_topk_agg" -> (q30TopkAgg _),
    "q23_embed_neardup" -> (q23EmbedNearDup _),
    "q24_multimodal" -> (q24Multimodal _),
    "q25_lsh_recall" -> (q25LshRecall _),
    "q31_ivf_recall" -> (q31IvfRecall _),
    "q39_split" -> (q39Split _),
    "q40_cap_per_group" -> (q40CapPerGroup _),
    "q41_packing" -> (q41Packing _),
    "q42_decontaminate" -> (q42Decontaminate _),
    "q43_dup_clusters" -> (q43DupClusters _),
    "q44_canonical" -> (q44Canonical _),
    "q46_bloom_decontaminate" -> (q46BloomDecontaminate _),
    "q47_top_terms" -> (q47TopTerms _),
    "q48_label_stats" -> (q48LabelStats _),
    "q49_source_mix" -> (q49SourceMix _),
    "q50_semantic_decontaminate" -> (q50SemanticDecontaminate _),
    "q51_chunking" -> (q51Chunking _),
    "q52_shards" -> (q52Shards _),
    "q53_quality_gate" -> (q53QualityGate _),
    "q54_zorder" -> (q54Zorder _),
    "q55_rare_terms" -> (q55RareTerms _),
    "q56_ngram_decontaminate" -> (q56NgramDecontaminate _),
    "q57_budget_select" -> (q57BudgetSelect _),
    "q58_datacard" -> (q58Datacard _),
    "q59_pq_recall" -> (q59PqRecall _),
    "q59_pq_exact" -> (q59PqExact _),
    "q25_lsh_exact" -> (q25LshExact _),
    "q31_ivf_exact" -> (q31IvfExact _),
    "q60_ivfpq_recall" -> (q60IvfPqRecall _),
    "q60_indexed_probe" -> (q60IndexedProbe _),
    "q61_repetition" -> (q61Repetition _),
    "q62_pii_redact" -> (q62PiiRedact _),
    "q63_line_dedup" -> (q63LineDedup _),
    "q64_url_filter" -> (q64UrlFilter _),
    "q65_heavy_hitters" -> (q65HeavyHitters _),
    "q66_media_decode" -> (q66MediaDecode _),
    "q67_stratified" -> (q67Stratified _),
    "q68_fuzzy_pairs" -> (q68FuzzyPairs _),
    "q69_substring_dedup" -> (q69SubstringDedup _),
    "q70_semantic_dedup" -> (q70SemanticDedup _),
    "q100_iceberg_pruned_read" -> (q100IcebergPrunedRead _),
    "q101_cdc_changes" -> (q101CdcChanges _),
    "q102_dsv2_pruned_read" -> (q102Dsv2PrunedRead _),
    "q103_changes_scan" -> (q103ChangesScan _),
    "q104_write_roundtrip" -> (q104WriteRoundtrip _),
    "q105_sql_catalog" -> (q105SqlCatalog _),
    "q106_jdbc_migrate" -> (q106JdbcMigrate _),
    "q107_schema_evolution" -> (q107SchemaEvolution _),
    "q108_hidden_partitioning" -> (q108HiddenPartitioning _),
    "q109_sql_delete" -> (q109SqlDelete _),
    "q110_partitions_meta" -> (q110PartitionsMeta _),
    "q111_merge" -> (q111Merge _),
    "q112_sql_update" -> (q112SqlUpdate _),
    "q113_spj_join" -> (q113SpjJoin _),
    "q114_spj_delete_join" -> (q114SpjDeleteJoin _),
    "q115_spj_identity_join" -> (q115SpjIdentityJoin _),
    "q70c_clustered_dedup" -> (q70cClusteredDedup _),
    "q71_phrase_search" -> (q71PhraseSearch _),
    "q71_indexed" -> (q71PhraseSearchIndexed _),
    "q71_indexed_probe" -> (q71IndexedProbe _),
    "q72_novelty" -> (q72Novelty _),
    "q73_tfidf" -> (q73TfIdf _),
    "q74_bpe" -> (q74Bpe _),
    "q75_lm_backoff" -> (q75LmBackoff _),
    "q76_lm_score" -> (q76LmScore _),
    "q77_lr_features" -> (q77LrFeatures _),
    "q78_lr_quality" -> (q78LrQuality _),
    "q79_bm25" -> (q79Bm25 _),
    "q79_bm25_indexed" -> (q79Bm25Indexed _),
    "q79_indexed_probe" -> (q79IndexedProbe _),
    "q80_hard_negatives" -> (q80HardNegatives _),
    "q81_png_decode" -> (q81PngDecode _),
    "q82_jpeg_decode" -> (q82JpegDecode _),
    "q83_wav_features" -> (q83WavFeatures _),
    "q84_y4m_frames" -> (q84Y4mFrames _),
    "q85_codec_agreement" -> (q85CodecAgreement _),
    "q86_codec_matrix" -> (q86CodecMatrix _),
    "q87_importance" -> (q87Importance _),
    "q88_adpcm_audio" -> (q88AdpcmAudio _),
    "q89_flac_audio" -> (q89FlacAudio _),
    "q90_weighted_sample" -> (q90WeightedSample _),
    "q91_group_split" -> (q91GroupSplit _),
    "q92_phrase_ranked" -> (q92PhraseRankedBm25 _),
    "q93_ledger_dedup" -> (q93LedgerDedup _),
    "q94_ledger_near_dup" -> (q94LedgerNearDup _),
    "q95_curation_pipeline" -> (q95CurationPipeline _),
    "q96_kll_quantiles" -> (q96KllQuantiles _),
    "q97_warc_ingest" -> (q97WarcIngest _),
    "q97c_main_content" -> (q97cMainContent _),
    "q98_url_dedup" -> (q98UrlDedup _),
    "q99_crawl_capstone" -> (q99CrawlCapstone _),
  )
}
