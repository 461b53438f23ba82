package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** fastText/CCNet-style document quality classifier: logistic
  * regression over hashed bag-of-{uni,bi}gram counts, trained by
  * full-batch gradient descent entirely as DataFrame joins — the
  * second half of the LM-filter pair ([[LanguageModel]] scores
  * "reference-likeness"; this learns a supervised gate from labeled
  * examples). The reference converter has no classifier surface; this
  * is one of the training-data-pipeline families the brief adds as
  * first-class (see /root/reference/db2ice/converter.py:1 scope).
  *
  * Spark-first shape, and the one that survives 100 TB:
  *   - featurization is a pure scan projection (explode → hash →
  *     per-doc count); the feature table is hash-bucketed so the
  *     model is a bounded table of ≤ `numBuckets` rows no matter how
  *     large the corpus is;
  *   - each GD iteration is: margin = features ⋈ weights (the weight
  *     table is a KB-sized broadcast LocalRelation; the corpus never
  *     shuffles), residual per doc, gradient = features ⋈ residuals
  *     re-aggregated per bucket (one bounded O(buckets·partitions)
  *     partial-agg shuffle);
  *   - the ≤ `numBuckets`-row gradient is collected to the driver each
  *     iteration and folded into an in-memory weight map that is
  *     re-broadcast as a literal table next round — the IVF-centroid
  *     broadcast-small contract ([[Ivf]]). Every iteration's plan is
  *     therefore constant-depth BY CONSTRUCTION: no lineage growth, no
  *     persist/checkpoint cadence to tune, no cache-substitution
  *     fragility under storage-pool pressure (the round-6 driver bench
  *     measured the previous lazy-persist strategy at 48.5 s vs its
  *     6.6 s clean profile — see BASELINE.md).
  *
  * Floats: margins/gradients are cross-partition double sums, so
  * training is NOT bit-deterministic across partitionings — the
  * integer featurizer face is oracle-checked (q77) and the trained
  * scorer is spec-pinned against a sequential in-JVM reference with
  * tolerance (QualityClassifierSpec), the q74/q76 discipline.
  */
object QualityClassifier {

  /** Word uni+bigrams of the lowercased token stream — the fastText
    * default feature set (wordNgrams=2). The HOF formulation; kept as
    * the independent reference [[featuresHof]] runs (the production
    * path is the native [[graft.functions.GramBuckets]], spec-pinned
    * equal). */
  private def gramsCol(text: Column): Column = {
    val w = filter(TextFunctions.words(text), t => length(t) > 0)
    // guard: sequence(1, 0) DESCENDS in Spark — size<2 must yield []
    val bi = when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => concat_ws(" ", slice(w, i, lit(2)))))
      .otherwise(array().cast("array<string>"))
    concat(w, bi)
  }

  /** Hashed feature counts: one row per (doc, bucket), `v` = how many
    * of the doc's grams landed in the bucket. Integer-valued, so the
    * whole featurizer is DuckDB-checkable; `bucket` is the md5 fold of
    * [[Sampling.hashValue]] (salt "qc:") mod `numBuckets`, computed by
    * the native [[graft.functions.GramBuckets]] expression — the
    * interpreted-HOF gram pipeline cost 4.4 s of q78's 6.3 s
    * featurization at sf0.1 (see BASELINE.md), and exploding int
    * buckets instead of gram strings shrinks the explode payload. */
  def features(docs: DataFrame, idCol: String, textCol: String,
      numBuckets: Int): DataFrame =
    docs.select(col(idCol),
        explode(graft.functions.GramBuckets(col(textCol), numBuckets, "qc:")).as("b"))
      .groupBy(col(idCol), col("b")).agg(count(lit(1)).as("v"))

  /** The pre-native HOF formulation of [[features]] — retained as the
    * in-plan independent reference the parity spec compares against. */
  def featuresHof(docs: DataFrame, idCol: String, textCol: String,
      numBuckets: Int): DataFrame =
    docs.select(col(idCol), explode(gramsCol(col(textCol))).as("g"))
      .select(col(idCol),
        (Sampling.hashValue(col("g"), "qc:") % numBuckets).cast("int").as("b"))
      .groupBy(col(idCol), col("b")).agg(count(lit(1)).as("v"))

  /** σ(x) with the same op order the sequential reference uses. */
  private def sigmoid(x: Column): Column = lit(1.0) / (lit(1.0) + exp(-x))

  /** Full-batch logistic regression on `labels(idCol, label∈{0,1})`.
    * Returns the weight table (b, w) — a LocalRelation of ≤ numBuckets
    * rows. Gradient is the mean over docs of (σ(margin) − y)·x with
    * learning rate `lr`; weights start at 0 so iteration 1's margins
    * are exactly 0 (the empty weight array reads as 0 via a null-safe
    * `get` rather than materializing a zero table).
    *
    * Two structural choices make every iteration's plan constant-depth
    * and single-pass BY CONSTRUCTION (the round-6 driver bench measured
    * the previous lazy-persist/cache-substitution strategy at 48.5 s vs
    * its 6.6 s clean profile; this shape profiles ~3× faster per
    * iteration than even the clean join formulation — BASELINE.md):
    *
    *   - DOC-MAJOR training table: feats(id, b, v) is pivoted once into
    *     one row per labeled doc holding sorted parallel arrays
    *     (bs, vs) plus the label — margin, sigmoid and residual are
    *     then IN-ROW projections (a zip_with/aggregate dot product
    *     against the literal weight array: no broadcast join, no
    *     per-doc groupBy, no residual re-join), and the gradient is one
    *     explode → bounded per-bucket partial agg. One feats-mass pass
    *     per iteration instead of two joins and two aggregations.
    *   - DRIVER-SIDE model: the ≤ numBuckets-row gradient (KBs at 4096
    *     buckets) is collected each iteration and folded into a flat
    *     weight array re-embedded as a literal — the IVF-centroid
    *     broadcast-small contract ([[Ivf]]). No lineage growth, no
    *     persist/checkpoint cadence to tune.
    *
    * The doc-major table is persisted for the loop's lifetime and
    * released before returning — callers only own the lifetime of
    * `feats`/`labels`.
    *
    * Floats: weight doubles round-trip the driver exactly; within-doc
    * margin terms now sum in sorted-bucket order (deterministic across
    * runs — stricter than the old arbitrary join order); per-bucket
    * gradient sums remain cross-partition (spec-pinned at 1e-9).
    *
    * 100 TB shape: the doc-major table is one bounded-width row per
    * labeled doc, partition-parallel; only the ≤ numBuckets gradient
    * rows and the KB-sized weight literal ever cross the driver. */
  def train(feats: DataFrame, labels: DataFrame, idCol: String,
      iters: Int, lr: Double): DataFrame = {
    val spark = feats.sparkSession
    import spark.implicits._
    val n = labels.count().toDouble // one scalar; fixed across iters
    // Docs with a label but no features contribute nothing to any
    // gradient (every term carries a v factor), so the inner join is
    // exact; sort_array makes the in-row sum order deterministic
    // (struct ordering is by leading field b, unique per doc).
    // Partition count sized to the LABELED row count (one bounded-width
    // row per labeled doc): the training loop pays a full job per GD
    // iteration, so surplus partitions multiply the per-iteration task
    // floor 8× over the loop — at fixture scale (5k docs) one or two
    // partitions carry the whole table, while a 100 TB label set still
    // gets full parallelism. The extra exchange is one shuffle of the
    // tiny doc-major rows, paid once, persisted.
    val docParts = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, math.ceil(n / 20000.0).toInt))
    val docMajor = feats
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("b"), col("v")))).as("fs"))
      .join(labels, Seq(idCol))
      .select(col(idCol),
        transform(col("fs"), f => f.getField("b")).as("bs"),
        transform(col("fs"), f => f.getField("v").cast("double")).as("vs"),
        col("label").cast("double").as("y"))
      .repartition(docParts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Driver-side model: flat bucket-indexed array, grown to the max
    // bucket seen; `get` is 0-based and null-safe (no ANSI throw), so
    // an under-sized (or empty, iteration-1) array reads as weight 0.
    var w = Array.empty[Double]
    val touched = scala.collection.mutable.SortedSet.empty[Int]
    for (_ <- 1 to iters) {
      val warr = typedlit(w.toSeq)
      // margin: the native codegen'd [[graft.functions.SparseWeightDot]]
      // — bit-identical left-to-right fold of the old interpreted
      // aggregate(zip_with(...)) lambda chain, which dominated the
      // per-iteration task (one interpreted dispatch per (doc, feature)
      // per iteration; guide §4). Gradient terms explode through
      // arrays_zip (a plain expression) instead of an interpreted
      // struct-building zip_with lambda — same rows, same order, same
      // partial-agg sums.
      val withR = docMajor
        .withColumn("m",
          graft.functions.SparseWeightDot(col("bs"), col("vs"), warr))
        .withColumn("r", (sigmoid(col("m")) - col("y")) / lit(n))
      val grad = withR
        .select(col("r"), explode(arrays_zip(col("bs"), col("vs"))).as("e"))
        .groupBy(col("e.bs").as("b"))
        .agg(sum(col("e.vs") * col("r")).as("g"))
        .collect() // bounded: ≤ numBuckets rows, the broadcast-small contract
      if (grad.nonEmpty) {
        val maxB = grad.iterator.map(_.getInt(0)).max
        if (maxB >= w.length) w = java.util.Arrays.copyOf(w, maxB + 1)
        grad.foreach { r =>
          val b = r.getInt(0)
          touched += b
          w(b) -= lr * r.getDouble(1)
        }
      }
    }
    docMajor.unpersist(false)
    // every bucket that ever received a gradient, even if its weight
    // folded back to exactly 0 — the same row set the old outer-join
    // accumulation produced
    touched.toSeq.map(b => (b, w(b))).toDF("b", "w")
  }

  /** Score docs under a trained weight table: margin and probability
    * per doc (docs with no features score σ(0) = 0.5). */
  def score(feats: DataFrame, weights: DataFrame, docs: DataFrame,
      idCol: String): DataFrame = {
    val margins = feats.join(broadcast(weights), Seq("b"), "left")
      .withColumn("w", coalesce(col("w"), lit(0.0)))
      .groupBy(col(idCol))
      .agg(sum(col("v").cast("double") * col("w")).as("margin"))
    docs.select(col(idCol)).join(margins, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("margin"), lit(0.0)).as("margin"))
      .withColumn("prob", sigmoid(col("margin")))
  }
}
