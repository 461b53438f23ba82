package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PqEncode
import graft.functions.VectorFunctions._

/** Product quantization (PQ) — the ANN memory-compression scale path
  * that completes the family (brute force → LSH buckets → IVF cells →
  * PQ codes): each vector is stored as `nSub` small codeword ids
  * instead of `dim` floats, and queries score codes through a
  * per-query lookup table (asymmetric distance computation, ADC).
  * At 100 TB this is what makes the index FIT — 64 floats become 8
  * bytes — and IVF+PQ together are the standard billion-scale layout
  * (cells bound the scan, codes bound the memory; see [[IvfPq]]).
  *
  * Spark shape, all declarative:
  *  - [[train]]: per-subspace k-means, all subspaces in one job per
  *    Lloyd round (codebooks are nSub·k·subDim doubles — always
  *    driver/broadcast-small by construction);
  *  - [[encode]]: a pure scan-side projection — the whole code array
  *    is ONE native [[graft.functions.PqEncode]] expression (constant
  *    plan size and compile cost at any nSub·k, unlike the literal
  *    `array_min` tree kept as [[codeColBuiltin]] for the parity spec);
  *  - [[adcTopK]]: queries build their nSub×k inner-product tables,
  *    which broadcast; the ADC pass scans a CODES-ONLY projection
  *    (vec_id, code, stored norm — the embedding never rides the
  *    search scan), ranking through the bounded [[TopK]] aggregator so
  *    the shuffle carries O(queries·k), never every scored candidate;
  *    re-ranking point-fetches candidate vectors by id with a
  *    broadcast join — the PQ compression story end to end.
  *
  * Determinism: codebooks come from deterministic seeds (first k
  * vectors by id), encoding ties break by codeword id, ADC ties by
  * candidate id — reproducible run-to-run like every other ANN path.
  */
object Pq {

  /** Local codebooks: codebooks(m)(j) = codeword j of subspace m. */
  final case class Codebooks(subDim: Int, books: Array[Array[Array[Double]]]) {
    def nSub: Int = books.length
    def k: Int = books.headOption.map(_.length).getOrElse(0)
  }

  private def sliceCol(vec: Column, m: Int, subDim: Int): Column =
    slice(vec, m * subDim + 1, subDim)

  /** Built-in-only nearest-codeword id (0-based) of subspace m: argmin
    * over ‖sub − cw‖² with the codeword-independent ‖sub‖² dropped —
    * an `array_min` over a literal struct array, ties toward the lower
    * codeword id. Kept as the oracle-expressible reference formulation;
    * the production path is the native [[graft.functions.PqEncode]]
    * (PipelineSpec pins their equality element-for-element). */
  def codeColBuiltin(vec: Column, m: Int, subDim: Int,
      book: Array[Array[Double]]): Column = {
    val sub = sliceCol(vec, m, subDim)
    val entries = book.zipWithIndex.map { case (cw, j) =>
      val d2 = lit(cw.map(x => x * x).sum) -
        lit(2.0) * dotNative(sub, array(cw.map(lit): _*))
      struct(d2.as("d2"), lit(j).as("j"))
    }
    array_min(array(entries: _*)).getField("j")
  }

  /** Per-subspace k-means codebooks. ALL subspaces train together:
    * each Lloyd round is ONE job — the full code array comes from one
    * scan-side [[graft.functions.PqEncode]] against the current
    * codebooks, and [[Lloyd.means]] walks each row's subspace slices
    * directly into one (Σ, n) partial per codeword per map task
    * (O(nSub·k·subDim) per task regardless of corpus size), folded per
    * codeword in partition order, so codebooks are bit-identical run to
    * run. No session setting is read or changed. Codebooks are
    * nSub·k·subDim doubles, materialized on the driver per round
    * (constant-depth plans, as in [[Ivf.train]]). */
  def train(corpus: DataFrame, dim: Int, nSub: Int, k: Int,
      nIters: Int): Codebooks = {
    require(dim % nSub == 0, s"dim $dim not divisible by nSub $nSub")
    val subDim = dim / nSub
    // seeds: first k vectors by id, sliced into every subspace
    val seeds = corpus.orderBy("vec_id").limit(k)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect()
      .sortBy(r => r.getAs[Number](0).longValue())
      .map(_.getSeq[Double](1).toArray)
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(nSub)(m => seeds.map(_.slice(m * subDim, (m + 1) * subDim)))
    var it = 0
    while (it < nIters) {
      // key m·k + code(m) ← subspace slice m of each row
      val means = Lloyd.means(
        corpus.select(PqEncode(col("embedding"), books),
          col("embedding").cast("array<double>")),
        nSub * k)
      // empty codewords keep their previous value
      books = Array.tabulate(nSub)(m =>
        Array.tabulate(k)(j => means.getOrElse(m * k + j, books(m)(j))))
      it += 1
    }
    Codebooks(subDim, books)
  }

  /** Scan-side encoder: adds `code` (array<int>, 0-based codeword ids,
    * one per subspace) via the native [[graft.functions.PqEncode]] —
    * one expression node, whole-stage codegen, no join, no shuffle. */
  def encode(corpus: DataFrame, cb: Codebooks): DataFrame =
    corpus.withColumn("code", PqEncode(col("embedding"), cb.books))

  /** Decoded (reconstructed) vector for a code — spec/diagnostic
    * helper; production never materializes it. */
  def decode(code: Seq[Int], cb: Codebooks): Array[Double] =
    code.zipWithIndex.flatMap { case (j, m) => cb.books(m)(j) }.toArray

  /** Per-query ADC lookup tables, built on the driver from the
    * collected (small) query set — queries are the broadcast side by
    * contract, same as bruteForceTopK. Output columns:
    * (q_id, lut, q_norm, q_vec) with lut(m)(j) = ⟨q_m, codeword_mj⟩. */
  private[operators] def buildLut(queries: DataFrame, cb: Codebooks): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qRows = queries
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"),
        normNative(col("embedding")).as("qn"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    qRows.toSeq.map { case (qid, qv, qn) =>
      val lut = cb.books.zipWithIndex.map { case (book, m) =>
        book.map { cw =>
          var s = 0.0
          var i = 0
          while (i < cb.subDim) { s += qv(m * cb.subDim + i) * cw(i); i += 1 }
          s
        }.toSeq
      }.toSeq
      (qid, lut, qn, qv.toSeq)
    }.toDF("q_id", "lut", "q_norm", "q_vec")
  }

  /** Approximate dot via the broadcast LUT: one `element_at` chain per
    * subspace — static unroll, codegen-friendly. */
  private[operators] def adcDot(lut: Column, code: Column, nSub: Int): Column =
    (0 until nSub)
      .map(m => element_at(element_at(lut, m + 1), element_at(code, m + 1) + 1))
      .reduce(_ + _)

  /** Exact re-rank of ADC candidates: point-fetch the candidates' true
    * vectors by id (candidate ids broadcast — the corpus side scans,
    * never shuffles), score with the exact dot, bounded top-k. */
  private[operators] def exactRerank(cand: DataFrame, vectors: DataFrame,
      lutDF: DataFrame, k: Int): DataFrame = {
    val cVecs = vectors.select(col("vec_id").as("c_id"),
      col("embedding").as("c_vec"), normNative(col("embedding")).as("c_norm"))
    val exact = cVecs
      .join(broadcast(cand.select(col("q_id"), col("c_id"))), "c_id")
      .join(broadcast(lutDF.select(col("q_id"), col("q_vec"), col("q_norm"))), "q_id")
      .select(col("q_id"), col("c_id"),
        round(dotNative(col("q_vec"), col("c_vec")) /
          (col("q_norm") * col("c_norm")), 6).as("score"))
    TopK.perKey(exact, "q_id", "c_id", "score", k)
  }

  /** ADC cosine top-k over an encoded corpus: every query precomputes
    * its nSub×k inner-product table (tiny, broadcast); each corpus row
    * costs nSub `element_at` lookups. Norm uses the EXACT stored
    * vector norm (the standard trick to keep cosine well-scaled while
    * the dot is approximated). The ADC scan projects only
    * (vec_id, code, norm); the materialized codes-only layout is
    * [[IvfPq.buildIndex]]'s (cid, c_id, code, c_norm), searched via
    * [[IvfPq.searchIndex]] without touching embedding bytes until
    * re-rank. Ranking is the bounded [[TopK]] aggregator — the
    * shuffle carries O(queries·k), not every ADC-scored row. Output
    * schema matches [[Similarity.bruteForceTopK]].
    *
    * `rerank > 0` enables the production refinement: ADC retrieves the
    * top-`rerank` candidates per query, whose TRUE vectors are then
    * point-fetched by id from `vectors` (defaults to `encoded` itself)
    * and re-scored exactly — recall approaches exact while only
    * `rerank` true vectors per query are touched. `rerank ≥ |corpus|`
    * degenerates to exact brute force (PipelineSpec anchors this to
    * [[Similarity.bruteForceTopK]], which carries the q22 oracle). */
  def adcTopK(encoded: DataFrame, queries: DataFrame, k: Int,
      cb: Codebooks, rerank: Int = 0, vectors: DataFrame = null): DataFrame = {
    val lutDF = buildLut(queries, cb)
    val index = encoded.select(col("vec_id").as("c_id"), col("code"),
      normNative(col("embedding")).as("c_norm"))
    val scored = index.crossJoin(broadcast(lutDF.select("q_id", "lut", "q_norm")))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(adcDot(col("lut"), col("code"), cb.nSub) /
          (col("q_norm") * col("c_norm")), 6).as("score"))
    if (rerank <= 0) TopK.perKey(scored, "q_id", "c_id", "score", k)
    else exactRerank(TopK.perKey(scored, "q_id", "c_id", "score", rerank),
      if (vectors == null) encoded else vectors, lutDF, k)
  }

  /** Recall@k of PQ-ADC against the exact baseline, per query
    * (mirrors [[Ivf.recallVsExact]]). */
  def recallVsExact(corpus: DataFrame, queries: DataFrame, k: Int,
      dim: Int, nSub: Int, codewords: Int, nIters: Int,
      rerank: Int = 0): DataFrame = {
    val cb = train(corpus, dim, nSub, codewords, nIters)
    val exact = Similarity.bruteForceTopK(corpus, queries, k)
      .select(col("q_id"), col("c_id"))
    val approx = adcTopK(encode(corpus, cb), queries, k, cb, rerank)
      .select(col("q_id"), col("c_id"))
    exact.join(approx, Seq("q_id", "c_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
      .join(exact.groupBy("q_id").agg(count(lit(1)).as("n_exact")), Seq("q_id"), "right")
      .select(col("q_id"),
        round(coalesce(col("hits"), lit(0)).cast("double") / col("n_exact"), 4).as("recall"))
  }
}
