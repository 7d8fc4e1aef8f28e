package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Grouped top-k as a BOUNDED mergeable aggregate — the scale-correct
  * alternative to the `row_number() OVER (PARTITION BY g ORDER BY s) <= k`
  * window spelling.
  *
  * The window spelling shuffles and SORTS every row of every group to
  * keep k of them: a hot group's entire history serializes through one
  * task's sort. This aggregator keeps at most 2k candidates per
  * partial buffer, so with map-side combine the exchange carries at
  * most k rows per (mapper, group) — the shuffle tracks k·#mappers,
  * not group size, and no per-group sort of the full data ever runs.
  * Same contract as Spark's own TakeOrderedAndProject, generalized
  * from "global top-k" to "top-k per group".
  *
  * Determinism: candidates total-order by (score DESC, id ASC), so
  * equal scores resolve by id and the result is independent of
  * partitioning and merge order (`BoundedTopKSpec` pins this on an
  * adversarially shuffled input).
  *
  * The buffer compacts lazily: appends run O(1) and a sort+trim to k
  * runs only when the buffer hits 2k — amortized O(log k) per row,
  * and the invariant "no buffer ever exceeds 2k entries" bounds both
  * memory and shuffle width.
  *
  * Kept because Spark 4.1.2 has no score-ordered grouped top-k:
  * `approx_top_k` ranks items by approximate FREQUENCY, and `max_by`
  * keeps one row, so neither yields the (score DESC, id ASC) k rows.
  */
object BoundedTopK {

  /** (score, id) candidate ordering: best score first, id breaks ties. */
  private def keep(buf: Seq[(Double, Long)], k: Int): Seq[(Double, Long)] =
    buf.sortBy { case (s, id) => (-s, id) }.take(k)

  final class TopKAgg(k: Int)
      extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
    require(k >= 1, s"k must be >= 1 (got $k)")
    override def zero: Seq[(Double, Long)] = Vector.empty
    override def reduce(b: Seq[(Double, Long)], in: (Double, Long)): Seq[(Double, Long)] = {
      val grown = b :+ in
      if (grown.length >= 2 * k) keep(grown, k) else grown
    }
    override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
      keep(a ++ b, k)
    override def finish(b: Seq[(Double, Long)]): Seq[(Double, Long)] = keep(b, k)
    override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
      ExpressionEncoder[Seq[(Double, Long)]]()
    override def outputEncoder: Encoder[Seq[(Double, Long)]] =
      ExpressionEncoder[Seq[(Double, Long)]]()
  }

  /** The aggregator as an untyped agg function over (score, id) columns:
    * `df.groupBy(g).agg(BoundedTopK.udaf(3)(col("score"), col("id")))`. */
  def udaf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(
      new TopKAgg(k), Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))
}
