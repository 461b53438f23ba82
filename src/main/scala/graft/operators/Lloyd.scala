package graft.operators

import org.apache.spark.Partitioner
import org.apache.spark.sql.DataFrame

/** The recompute half of one Lloyd round, shared by [[Ivf.train]] and
  * [[Pq.train]]: per-key vector means as mergeable (Σ, n) summaries.
  *
  * Each input partition reduces its rows to one (Σ, n) partial per key
  * it saw, keyed by (key, partition index). The partials shuffle by
  * key and sort by partition index, so every key's run is left-folded
  * in partition-index order: the summation order is fixed by the
  * input's partitioning, never by shuffle-arrival or task-completion
  * order, and the means are bit-identical run to run. The round is one
  * RDD job (a map stage and a result stage) whatever the session's
  * adaptive-execution or shuffle settings, none of which it reads or
  * sets. Each map task ships O(keys · dim) doubles, and O(keys · dim)
  * reach the driver.
  */
private[operators] object Lloyd {

  /** Routes a (key, partition index) partial by its key alone. */
  private final class ByKey(val numPartitions: Int) extends Partitioner {
    override def getPartition(k: Any): Int =
      k.asInstanceOf[(Int, Int)]._1 % numPartitions
  }

  /** Means per key of `assigned`, whose two columns are `keys:
    * array<int>` and `vec: array<double>`. A row with n keys splits its
    * vector into n equal slices and the key space `0 until nKeys` into
    * n equal blocks; slice i is added to key i·(nKeys/n) + keys(i). So
    * Ivf passes one key per row (its cell) with the whole vector, and
    * Pq one codeword id per subspace with the subspace slices. Keys no
    * row reaches are absent from the result. */
  def means(assigned: DataFrame, nKeys: Int): Map[Int, Array[Double]] =
    assigned.queryExecution.toRdd
      .mapPartitionsWithIndex { (part, rows) =>
        val sums = new Array[Array[Double]](nKeys)
        val counts = new Array[Long](nKeys)
        rows.foreach { r =>
          val keys = r.getArray(0)
          val vec = r.getArray(1)
          val n = keys.numElements()
          val sub = vec.numElements() / n
          var i = 0
          while (i < n) {
            val key = i * (nKeys / n) + keys.getInt(i)
            if (sums(key) == null) sums(key) = new Array[Double](sub)
            val s = sums(key)
            var j = 0
            while (j < sub) { s(j) += vec.getDouble(i * sub + j); j += 1 }
            counts(key) += 1
            i += 1
          }
        }
        Iterator.range(0, nKeys).filter(counts(_) > 0)
          .map(k => ((k, part), (sums(k), counts(k))))
      }
      .repartitionAndSortWithinPartitions(
        new ByKey(math.max(1, math.min(nKeys,
          assigned.sparkSession.sparkContext.defaultParallelism))))
      .mapPartitions { sorted =>
        val it = sorted.buffered
        new Iterator[(Int, Array[Double])] {
          override def hasNext: Boolean = it.hasNext
          override def next(): (Int, Array[Double]) = {
            val ((key, _), (sum, n0)) = it.next()
            var n = n0
            while (it.hasNext && it.head._1._1 == key) {
              val (_, (s, c)) = it.next()
              var j = 0
              while (j < sum.length) { sum(j) += s(j); j += 1 }
              n += c
            }
            key -> sum.map(_ / n)
          }
        }
      }
      .collect().toMap
}
