package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** IVF (inverted-file) approximate-nearest-neighbor index — the
  * coarse-quantizer scale path for similarity search (builder brief:
  * "an IVF or LSH-bucketed variant as the scale path").
  *
  * Shape: k-means coarse centroids partition the corpus into
  * `nCentroids` cells ([[train]] / [[assign]]); a query scores only the
  * cells of its `nProbe` nearest centroids ([[topK]]) — corpus scan
  * cost drops from |corpus| to ~|corpus|·nProbe/nCentroids per query.
  * Training is `nIters` Lloyd rounds, each ONE Spark job: a
  * scan-side native assignment ([[graft.functions.NearestCentroid]])
  * feeding [[Lloyd.means]], which reduces every partition to one
  * (Σ, n) partial per centroid and folds the partials in partition
  * order. Assignment is the same native projection and search a
  * cell-local join — no driver-side loops over data, so the same plan
  * runs at 100 TB with centroids staying broadcast-small
  * (nCentroids ≪ |corpus|). No step reads or sets a session conf.
  *
  * Results are reproducible run to run (needed for verify/bench
  * stability): seeds are the first `nCentroids` vectors by id, ties in
  * assignment break by centroid id, and each centroid's sum is folded
  * in a fixed order, so the centroids are bit-identical for the same
  * input partitioning.
  * With `nProbe = nCentroids` the search degenerates to exact brute
  * force — IvfSpec asserts equality with [[Similarity.bruteForceTopK]],
  * which carries a DuckDB oracle, giving the whole IVF plumbing an
  * exactness anchor; recall at small nProbe is measured by
  * [[recallVsExact]] (q31).
  */
object Ivf {

  /** Squared L2 distance to a centroid: |v|² − 2·v·c + |c|².
    * Monotone in true distance, cheaper than per-pair sqrt. */
  private def dist2(vec: Column, vNorm2: Column, cVec: Column, cNorm2: Column): Column =
    vNorm2 - lit(2.0) * dotNative(vec, cVec) + cNorm2

  /** Nearest-centroid id for every row of `vecs` (columns: id, vec,
    * n2): broadcast the centroid table, min_by over (dist², cid).
    *
    * n = 1 is the corpus-sized path (every assign) and runs as a PURE PROJECTION through the native
    * [[graft.functions.NearestCentroid]] after collecting the
    * driver-small centroid table (the declarative form had already
    * collected it — `broadcast` — and then exploded the corpus
    * nCentroids× into a full (id, vec, n2) shuffle per call;
    * bit-identical argmin semantics are the expression's contract,
    * pinned in OptimizedExprSpec against this formulation). n > 1 is
    * the probe path over driver-small query tables and keeps the
    * declarative window. */
  private def nearest(vecs: DataFrame, centroids: DataFrame, n: Int = 1): DataFrame = {
    if (n == 1) {
      val rows = centroids.select(col("cid"), col("c_vec"), col("c_n2"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
        .sortBy(_._1)
      vecs.select(col("id"), col("vec"), col("n2"),
        graft.functions.NearestCentroid(col("vec"), rows.map(_._2),
          rows.map(_._1), rows.map(_._3)).as("cid"),
        lit(1).as("rk"))
    } else {
      val scored = vecs.crossJoin(broadcast(centroids))
        .select(col("id"), col("vec"), col("n2"), col("cid"),
          dist2(col("vec"), col("n2"), col("c_vec"), col("c_n2")).as("d2"))
      val w = Window.partitionBy("id").orderBy(col("d2"), col("cid"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= n)
        .select(col("id"), col("vec"), col("n2"), col("cid"), col("rk"))
    }
  }

  private def prep(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id").as("id"), col("embedding").as("vec"),
      dotNative(col("embedding"), col("embedding")).as("n2"))

  /** Local centroid table → a (cid, c_vec, c_n2) DataFrame (a
    * LocalRelation: nCentroids rows that broadcast for free in
    * [[nearest]]'s joins). */
  private[operators] def centroidsDF(spark: org.apache.spark.sql.SparkSession,
      cents: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (v, i) => (i + 1, v.toSeq) }.toSeq
      .toDF("cid", "c_vec")
      .withColumn("c_n2", dotNative(col("c_vec"), col("c_vec")))
  }

  /** K-means centroids: seeds = first `nCentroids` vectors by id,
    * `nIters` Lloyd rounds. Output: (cid, c_vec: array<double>, c_n2).
    *
    * A round is one Spark job: the native scan-side assignment (no
    * crossJoin explosion, no corpus shuffle — see [[nearest]]) feeds
    * [[Lloyd.means]], whose map tasks each emit one (Σ, n) partial per
    * centroid — O(centroids · dim) per task whatever the corpus size —
    * folded per centroid in partition order. The caller's session
    * settings (adaptive execution included) are neither read nor
    * changed, so concurrent work on the session keeps them. The
    * centroid table is MATERIALIZED on the driver after every round
    * (nCentroids·dim doubles — broadcast-small by the IVF contract)
    * and fed into the next round as literals: each round's plan is
    * constant-depth instead of re-chaining the whole Lloyd history. */
  def train(corpus: DataFrame, nCentroids: Int, nIters: Int): DataFrame = {
    val spark = corpus.sparkSession
    // The (id, vec) projection is consumed once by the seed job and
    // once per Lloyd round: persist it for the loop's lifetime (the
    // MLlib KMeans discipline — train inputs are cached because every
    // round re-reads them) so rounds re-read cached rows instead of
    // re-running the scan+projection nIters times. Unpersisted in the
    // finally below: nothing outside the loop reads it, and the
    // returned centroid table is a driver-materialized LocalRelation.
    val vecs = prep(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Seeds: first nCentroids vectors by id, numbered on the driver —
      // nCentroids rows, no unpartitioned row_number window.
      var cents: Array[Array[Double]] = vecs.orderBy("id").limit(nCentroids)
        .select(col("id"), transform(col("vec"), x => x.cast("double")).as("v"))
        .collect()
        .sortBy(r => r.getAs[Number](0).longValue())
        .map(_.getSeq[Double](1).toArray)
      var it = 0
      while (it < nIters) {
        // cn2 is the VectorDot fold (left-to-right Σc², the exact value
        // centroidsDF's c_n2 column carries).
        val cn2 = cents.map { c =>
          var s = 0.0; var i = 0
          while (i < c.length) { s += c(i) * c(i); i += 1 }
          s
        }
        // 0-based cell ids: the keys Lloyd.means sums under
        val cell = graft.functions.NearestCentroid(col("vec"), cents,
          Array.tabulate(cents.length)(identity), cn2)
        val means = Lloyd.means(
          vecs.select(array(cell), col("vec").cast("array<double>")),
          cents.length)
        // Empty cells keep their previous centroid.
        cents = cents.zipWithIndex.map { case (prev, i) => means.getOrElse(i, prev) }
        it += 1
      }
      centroidsDF(spark, cents)
    } finally {
      vecs.unpersist(false)
      ()
    }
  }

  /** Corpus cell assignment: (cid, id, vec, n2) — the inverted file.
    * At scale this is the materialized/bucketed layout: partition the
    * corpus by cid once, search cells without reshuffling.
    *
    * Eager: `centroids` is COLLECTED to the driver here, when the
    * DataFrame is built (one Spark job unless it is a local relation,
    * as [[train]]'s output is), and enters the plan as literals. */
  def assign(corpus: DataFrame, centroids: DataFrame): DataFrame =
    nearest(prep(corpus), centroids).select(col("cid"), col("id"), col("vec"), col("n2"))

  /** The `nProbe` nearest cells per query: (cid, q_id, q_vec, q_norm)
    * — the probe list [[topK]] and [[IvfPq.topK]] join against the
    * inverted file. Broadcast-small: |queries|·nProbe rows.
    *
    * With nProbe = 1 `centroids` is collected when the DataFrame is
    * built (the [[assign]] path); with nProbe > 1 it stays a broadcast
    * join side and is read when the result runs. */
  def probes(queries: DataFrame, centroids: DataFrame, nProbe: Int): DataFrame =
    nearest(prep(queries), centroids, nProbe)
      .select(col("cid"), col("id").as("q_id"), col("vec").as("q_vec"),
        sqrt(col("n2")).as("q_norm"))

  /** IVF cosine top-k: each query scores only its `nProbe` nearest
    * cells. Output schema matches [[Similarity.bruteForceTopK]]
    * (q_id, rk, c_id, score). Ranking is the bounded [[TopK]]
    * aggregator, not a rank window: map tasks reduce each query's
    * probed-cell candidates to ≤k before the shuffle, so the exchange
    * carries O(queries·k) rows, never every scored candidate.
    *
    * `centroids` is collected once when the DataFrame is built, by
    * [[assign]]; see [[probes]] for the probe side. */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
      centroids: DataFrame, nProbe: Int): DataFrame = {
    val cells = assign(corpus, centroids)
      .select(col("cid"), col("id").as("c_id"), col("vec").as("c_vec"),
        sqrt(col("n2")).as("c_norm"))
    val scored = cells.join(broadcast(probes(queries, centroids, nProbe)), "cid")
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(dotNative(col("q_vec"), col("c_vec")) /
          (col("q_norm") * col("c_norm")), 6).as("score"))
    TopK.perKey(scored, "q_id", "c_id", "score", k)
  }

  /** Recall@k of IVF against the exact baseline, per query (mirrors
    * [[Similarity.lshRecall]]). */
  def recallVsExact(corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int, nIters: Int, nProbe: Int): DataFrame = {
    val centroids = train(corpus, nCentroids, nIters)
    val exact = Similarity.bruteForceTopK(corpus, queries, k)
      .select(col("q_id"), col("c_id"))
    val approx = topK(corpus, queries, k, centroids, nProbe)
      .select(col("q_id"), col("c_id"))
    exact.join(approx, Seq("q_id", "c_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
      .join(exact.groupBy("q_id").agg(count(lit(1)).as("n_exact")), Seq("q_id"), "right")
      .select(col("q_id"),
        round(coalesce(col("hits"), lit(0)).cast("double") / col("n_exact"), 4).as("recall"))
  }
}
