package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Bounded-priority-queue top-k per group — the north star's "per-cell
  * bounded priority queue" as a typed `Aggregator`.
  *
  * vs `row_number().over(Window...)`: Spark 4 plans the window form with a
  * `WindowGroupLimit` below its exchange, so both shuffle at most k rows per
  * group per map partition. They differ in how each partition gets there:
  * the window form sorts every candidate row of the partition (O(n log n)
  * over ALL candidates) before the limit keeps k per group; the aggregator
  * keeps a bounded k-entry buffer per group as the rows stream by (one
  * O(k) worst-entry scan per row, no sort).
  */
object TopK {

  type Entry = (Long, Long) // (d2, neighbor_id) — ordering = smaller is better

  /** Bounded top-k buffer as a FLAT Array[Long] of (d2, id) pairs (≤ k pairs,
    * unordered). The buffer crosses the shuffle between partial and final
    * aggregation, so its encoder matters: a flat long array is a primitive
    * unsafe-array write (~10× cheaper than the former
    * `Encoders.javaSerialization` heap object). Inserts are O(k) worst-pair
    * scans — k is small (≤ tens) and the common case is "not better than the
    * worst", a single scan with no write.
    */
  class TopKAgg(k: Int)(implicit bufEnc: Encoder[Array[Long]],
                        outEnc: Encoder[Seq[Entry]])
      extends Aggregator[(Long, Long), Array[Long], Seq[Entry]] {

    override def zero: Array[Long] = Array.emptyLongArray

    private def worse(d1: Long, i1: Long, d2: Long, i2: Long): Boolean =
      d1 > d2 || (d1 == d2 && i1 > i2)

    private def holds(b: Array[Long], d: Long, id: Long): Boolean = {
      var i = 0
      while (i < b.length && (b(i) != d || b(i + 1) != id)) i += 2
      i < b.length
    }

    // an entry already held (from a repeated query or point row) is not
    // added twice
    private def insert(b: Array[Long], d: Long, id: Long): Array[Long] = {
      if (b.length < 2 * k) {
        if (holds(b, d, id)) return b
        val nb = java.util.Arrays.copyOf(b, b.length + 2)
        nb(b.length) = d; nb(b.length + 1) = id
        nb
      } else {
        // replace the worst pair if the new entry beats it
        var wi = 0
        var i = 2
        while (i < b.length) {
          if (worse(b(i), b(i + 1), b(wi), b(wi + 1))) wi = i
          i += 2
        }
        if (worse(b(wi), b(wi + 1), d, id) && !holds(b, d, id)) { b(wi) = d; b(wi + 1) = id }
        b
      }
    }

    // distances are squares: a negative one marks a group member without a
    // candidate (an outer join's unmatched row), which adds no entry
    override def reduce(b: Array[Long], e: (Long, Long)): Array[Long] =
      if (e._1 < 0) b else insert(b, e._1, e._2)

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var r = a
      var i = 0
      while (i < b.length) { r = insert(r, b(i), b(i + 1)); i += 2 }
      r
    }

    override def finish(b: Array[Long]): Seq[Entry] =
      b.grouped(2).map(p => (p(0), p(1))).toSeq.sorted

    override def bufferEncoder: Encoder[Array[Long]] = bufEnc
    override def outputEncoder: Encoder[Seq[Entry]] = outEnc
  }

  /** The best k distinct (d2, neighbor_id) entries of `cands` per group of
    * `keys`, as column `__topk`: array<struct<_1: d2, _2: neighbor_id>>,
    * sorted ascending (the window order `d2, neighbor_id`). The one binding of
    * [[TopKAgg]]: an untyped UDAF keeps rows in Tungsten format end to end
    * (a typed groupByKey converts every candidate row to Scala tuples).
    */
  def best(spark: SparkSession, cands: DataFrame, keys: Seq[String], k: Int): DataFrame = {
    import spark.implicits._
    val f = udaf(new TopKAgg(k))
    cands.groupBy(keys.map(col): _*).agg(f(col("d2"), col("neighbor_id")).as("__topk"))
  }

  /** One row per entry of the sorted `entries` array: `keys`, neighbor_id,
    * d2 and its rank rn (pos + 1). Over [[best]] grouped by query_id this is
    * the window form `row_number over (partition by query_id order by d2,
    * neighbor_id) <= k` over the distinct candidate rows. */
  def ranked(groups: DataFrame, keys: Seq[String], entries: Column): DataFrame =
    groups.select(keys.map(col) :+ posexplode(entries): _*)
      .select(keys.map(col) ++ Seq(col("col._2").as("neighbor_id"), col("col._1").as("d2"),
        (col("pos") + 1).as("rn")): _*)
}
