package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Column wrappers over Spark's internal bloom-filter expressions (the
  * machinery behind AQE's runtime row-level filtering, not exposed in the
  * public function registry). At 100 TB this is the manual form of
  * bloom-pruned joins: build a compact filter over the small side's keys,
  * broadcast it, and discard non-matching fact rows INSIDE their scan stage
  * — rows that would never survive the join skip the shuffle entirely.
  * Guarantees: no false negatives; false-positive rate set by
  * `expectedItems` sizing.
  */
object SketchFunctions {

  /** Aggregate a bloom filter (as binary) over the hashed key column. */
  def bloomFilterAgg(key: Column, expectedItems: Long = 1000000L): Column =
    ColumnBridge.column(
      new BloomFilterAggregate(XxHash64(Seq(ColumnBridge.expression(key)), 42L), expectedItems)
        .toAggregateExpression())

  /** The filter [[bloomFilterAgg]] would emit for `expectedItems` had it
    * seen no row (the aggregate itself returns null then): the same sizing,
    * so it merges with filters of that capacity and contains nothing.
    */
  def emptyBloom(expectedItems: Long): Array[Byte] = {
    val agg = new BloomFilterAggregate(XxHash64(Seq(Literal(0L)), 42L), expectedItems)
    agg.serialize(agg.createAggregationBuffer())
  }

  /** Probe: may the key be in the filter? (false ⇒ definitely absent). */
  def mightContain(filter: Column, key: Column): Column =
    ColumnBridge.column(
      BloomFilterMightContain(
        ColumnBridge.expression(filter),
        XxHash64(Seq(ColumnBridge.expression(key)), 42L)))

  /** Count-min sketch over string keys: a depth x width counter grid where
    * every occurrence increments one counter per row (splitmix64-derived
    * hash per depth) and an estimate is the MIN across rows. Properties:
    * never underestimates (every true occurrence incremented every row's
    * counter), overestimates by at most eps*N with probability 1-delta for
    * width = ceil(e/eps), depth = ceil(ln(1/delta)). The sketch is the
    * frequency analog of the bloom filter: fixed memory (depth*width longs)
    * regardless of cardinality, merges by element-wise addition (order-free,
    * exactly what a distributed partial aggregation needs), and at 100 TB
    * answers "how often does this token/URL/key occur" without the
    * full-cardinality shuffle an exact groupBy count pays.
    */
  final case class CountMinSketch(depth: Int, width: Int, counters: Array[Long]) {
    def estimate(key: String): Long = {
      var best = Long.MaxValue
      var d = 0
      while (d < depth) {
        val idx = CountMin.bucket(key, d, width)
        val c = counters(d * width + idx)
        if (c < best) best = c
        d += 1
      }
      if (best == Long.MaxValue) 0L else best
    }
  }

  object CountMin {
    /** Deterministic per-depth bucket: splitmix64 over (depth, key hash). */
    def bucket(key: String, depth: Int, width: Int): Int = {
      var z = key.##.toLong * 0x9e3779b97f4a7c15L + depth * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^= (z >>> 31)
      java.lang.Math.floorMod(z, width.toLong).toInt
    }
  }

  /** The distributed build: per-partition grids merge by element-wise sum. */
  class CountMinAgg(depth: Int, width: Int)
      extends Aggregator[String, Array[Long], CountMinSketch] {
    override def zero: Array[Long] = new Array[Long](depth * width)
    override def reduce(buf: Array[Long], key: String): Array[Long] = {
      var d = 0
      while (d < depth) {
        buf(d * width + CountMin.bucket(key, d, width)) += 1L
        d += 1
      }
      buf
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(buf: Array[Long]): CountMinSketch =
      CountMinSketch(depth, width, buf)
    override def bufferEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[CountMinSketch] =
      ExpressionEncoder[CountMinSketch]()
  }
}
