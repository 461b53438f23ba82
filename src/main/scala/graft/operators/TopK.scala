package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import scala.reflect.runtime.universe.TypeTag

/** One scored candidate for top-k selection, identified by an id of
  * type `I` (Long row ids, String terms/domains/urls). */
final case class Scored[I](id: I, score: Double)

/** Spark-SQL double ordering for scores: NaN sorts as the LARGEST
  * value (like Spark's ORDER BY) and -0.0 equals 0.0 — plain `>`/`==`
  * would make NaN incomparable (every comparison false), leaving a
  * NaN candidate's rank dependent on arrival order across partitions
  * and diverging from the window row_number form. */
private[operators] object ScoreOrder {
  def cmp(a: Double, b: Double): Int = {
    val na = if (a == 0.0) 0.0 else a // normalize -0.0 (NaN unaffected)
    val nb = if (b == 0.0) 0.0 else b
    java.lang.Double.compare(na, nb) // NaN > everything, NaN == NaN
  }
}

/** Encodable buffer/output roots (Spark's product encoders need a
  * concrete Product at the root, not a bare collection). The buffer
  * is UNSORTED and carries its own length (List.length is O(n)). */
final case class TopKBuffer[I](values: List[Scored[I]], n: Int)
final case class TopKResult[I](values: Seq[Scored[I]])

/** Bounded top-k typed Aggregator over (group key, id, score) rows
  * (SURVEY.md §2.11's deferred `Aggregator` — added because it is the
  * scale-correct top-k shape).
  *
  * Why not `Window.orderBy + row_number <= k`: the window form sorts
  * EVERY candidate of a key on the reduce side. This Aggregator keeps
  * at most 2k elements per key at all times and — crucially — runs as
  * a partial aggregation: each map task reduces its partition to ≤2k
  * candidates per key before the shuffle, so at 1000 executors the
  * exchange carries O(keys·k), not O(candidates).
  *
  * Ordering contract matches the ANN queries and the window form:
  * score descending, ties by `idKey(id)` ascending under `idOrder`.
  * Each sort converts every id to its key ONCE
  * (decorate-sort-undecorate), not once per comparison — String ids
  * go through UTF8String so ties follow binary UTF-8 order, which is
  * Spark's and DuckDB's string order (Java's `compareTo` is UTF-16
  * code-unit order and diverges on supplementary-plane ids).
  *
  * Cost per insert is amortized O(log k), NOT O(k): the buffer stays
  * unsorted (O(1) prepend) and one sort selects the k best each time
  * the 2k bound trips — ~one O(k log k) sort per k inserts. The
  * previous sorted-list insert was O(k) per row, invisible at the
  * typical k ≤ 100 but QUADRATIC in the rerank-everything degeneracy
  * (q60_indexed_probe sets k = corpus size to carry the exact
  * oracle): at 100× sf0.1 two reduce tasks sat in List.span for 400+ s
  * before this rewrite. */
class TopKAggregator[G, I: TypeTag, K](k: Int, idKey: I => K,
    idOrder: Ordering[K])
    extends Aggregator[(G, I, Double), TopKBuffer[I], TopKResult[I]] {

  private def best(values: List[Scored[I]]): List[Scored[I]] =
    values.iterator.map(s => (s, idKey(s.id))).toArray
      .sortWith { (x, y) =>
        val c = ScoreOrder.cmp(x._1.score, y._1.score)
        c > 0 || (c == 0 && idOrder.lt(x._2, y._2))
      }
      .iterator.map(_._1).take(k).toList

  private def trimmed(values: List[Scored[I]], n: Int): TopKBuffer[I] =
    if (n <= math.max(2 * k, 16)) TopKBuffer(values, n)
    else TopKBuffer(best(values), k)

  override def zero: TopKBuffer[I] = TopKBuffer(Nil, 0)
  override def reduce(buf: TopKBuffer[I], row: (G, I, Double)): TopKBuffer[I] =
    trimmed(Scored(row._2, row._3) :: buf.values, buf.n + 1)
  override def merge(a: TopKBuffer[I], b: TopKBuffer[I]): TopKBuffer[I] =
    trimmed(a.values ::: b.values, a.n + b.n)
  override def finish(buf: TopKBuffer[I]): TopKResult[I] = TopKResult(best(buf.values))
  override def bufferEncoder: Encoder[TopKBuffer[I]] = Encoders.product[TopKBuffer[I]]
  override def outputEncoder: Encoder[TopKResult[I]] = Encoders.product[TopKResult[I]]
}

object TopK {

  private implicit val longEncoder: Encoder[Long] = Encoders.scalaLong
  private implicit val stringEncoder: Encoder[String] = Encoders.STRING

  /** Per-key top-k over a (key, id, score) DataFrame via the bounded
    * Aggregator. Output matches the window row_number form exactly:
    * (key, rk, id, score) with rk 1..k by score desc, id asc. */
  def perKey(scored: DataFrame, keyCol: String, idCol: String,
      scoreCol: String, k: Int): DataFrame =
    perGroup[Long, Long, Long](scored, keyCol, idCol, scoreCol, k,
      identity, Ordering.Long)

  /** [[perKey]] for string-typed keys (e.g. lang, domain) — same
    * bounded Aggregator, same O(keys·k) shuffle. */
  def perStringKey(scored: DataFrame, keyCol: String, idCol: String,
      scoreCol: String, k: Int): DataFrame =
    perGroup[String, Long, Long](scored, keyCol, idCol, scoreCol, k,
      identity, Ordering.Long)

  /** [[perStringKey]] with STRING ids (top terms per source, top
    * domains per lang, …): same bounded shape, ties broken by binary
    * string order — identical to `row_number() OVER (ORDER BY score
    * DESC, id)` in both Spark and DuckDB. */
  def perStringKeyStringId(scored: DataFrame, keyCol: String, idCol: String,
      scoreCol: String, k: Int): DataFrame =
    perGroup[String, String, UTF8String](scored, keyCol, idCol, scoreCol, k,
      UTF8String.fromString, Ordering.fromLessThan(_.binaryCompare(_) < 0))

  /** The one body behind the three faces: key and id columns are cast
    * to the types of `G` and `I`, and the output is (key, rk, id,
    * score). */
  private def perGroup[G: TypeTag: Encoder, I: TypeTag: Encoder, K](
      scored: DataFrame, keyCol: String, idCol: String, scoreCol: String,
      k: Int, idKey: I => K, idOrder: Ordering[K]): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val agg = new TopKAggregator[G, I, K](k, idKey, idOrder)
    scored
      .select(col(keyCol).cast(implicitly[Encoder[G]].schema.head.dataType).as("key"),
        col(idCol).cast(implicitly[Encoder[I]].schema.head.dataType).as("id"),
        col(scoreCol).cast("double").as("score"))
      .as[(G, I, Double)]
      .groupByKey(_._1)
      .agg(agg.toColumn.name("topk"))
      .flatMap { case (key, top) =>
        top.values.zipWithIndex.map { case (s, i) => (key, i + 1, s.id, s.score) }
      }
      .toDF(keyCol, "rk", idCol, scoreCol)
  }
}
