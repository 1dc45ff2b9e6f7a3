package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Exact distinct-set aggregation as a dense bitmap (the Druid /
  * ClickHouse / Pinot bitmap-index pattern): each non-negative id sets
  * bit `id` in a growable Array[Long]; partials OR-merge — an
  * associative, commutative combine, so Spark runs it as
  * partial+final aggregation with map-side collapse (each map task
  * ships ONE bitmap per group, not one row per distinct id — the
  * anti-Expand alternative to `countDistinct`'s planner rewrite).
  *
  * The payoff over HLL (`approx_count_distinct`) is exactness plus SET
  * ALGEBRA on the aggregate: two group bitmaps AND/OR together to give
  * exact intersection/union cardinalities without re-touching rows —
  * see `ev_bitmap_overlap`.
  *
  * Scale contract: buffer bytes = maxId/8 per group (1500 users →
  * 192 B; 1 B users → 125 MB). Dense bitmaps are for BOUNDED id
  * domains (users, skus, nodes); an unbounded/sparse domain needs the
  * compressed (roaring) variant or HLL. Growth is amortized
  * (next-power-of-two words), ids must be ≥ 0 (filter first).
  *
  * WHY it stays beside Spark 4.1's `bitmap_construct_agg` /
  * `bitmap_or_agg` / `bitmap_and_agg` / `bitmap_count` (measured): the
  * native form returns identical rows at sf0.001, sf0.01, sf0.1 and 10×
  * sf0.1, but its two-level (bucket, then OR) `ev_bitmap_distinct` took
  * 217/220/242/366 ms at those scales against 135/206/121/260 ms for
  * this aggregator; `ev_bitmap_overlap` was within noise (`local[4]`).
  */
class BitmapBuildAgg extends Aggregator[Long, Array[Long], Array[Long]] {

  override def zero: Array[Long] = Array.emptyLongArray

  override def reduce(b: Array[Long], id: Long): Array[Long] = {
    require(id >= 0, s"BitmapBuildAgg requires non-negative ids, got $id")
    val word = (id >>> 6).toInt
    val out = ensure(b, word + 1)
    out(word) |= 1L << (id & 63)
    out
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    val (big, small) = if (a.length >= b.length) (a, b) else (b, a)
    var i = 0
    while (i < small.length) { big(i) |= small(i); i += 1 }
    big
  }

  override def finish(b: Array[Long]): Array[Long] = b

  private def ensure(b: Array[Long], words: Int): Array[Long] =
    if (b.length >= words) b
    else {
      val cap = math.max(java.lang.Long.highestOneBit(words.toLong << 1).toInt, 4)
      java.util.Arrays.copyOf(b, cap)
    }

  override def bufferEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()

  override def outputEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
}
