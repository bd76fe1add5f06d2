package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.TopK

class TopKSpec extends SparkSpec {
  import spark.implicits._

  private def topK(cands: DataFrame, k: Int): DataFrame =
    TopK.ranked(TopK.best(spark, cands, Seq("query_id"), k), Seq("query_id"), col("__topk"))

  test("bounded-heap top-k equals the window form (incl. ties)") {
    val rnd = new scala.util.Random(11)
    val cands = (1 to 5000).map { _ =>
      (rnd.nextInt(50).toLong, rnd.nextInt(1000).toLong, rnd.nextInt(20).toLong)
    }.distinct.toDF("query_id", "neighbor_id", "d2") // ties in d2 on purpose
    val heap = topK(cands, 5)
      .as[(Long, Long, Long, Int)].collect().toSet
    val w = Window.partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))
    val window = cands.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("query_id", "neighbor_id", "d2", "rn")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(heap === window)
  }

  test("groups smaller than k emit all rows ranked") {
    val cands = Seq((1L, 10L, 5L), (1L, 11L, 3L)).toDF("query_id", "neighbor_id", "d2")
    val got = topK(cands, 5).as[(Long, Long, Long, Int)].collect().sortBy(_._4)
    assert(got.toSeq === Seq((1L, 11L, 3L, 1), (1L, 10L, 5L, 2)))
  }

  test("a negative distance keeps its group and adds no entry") {
    val cands = Seq((1L, 10L, 5L), (1L, -1L, -1L), (2L, -1L, -1L))
      .toDF("query_id", "neighbor_id", "d2")
    val got = TopK.best(spark, cands, Seq("query_id"), 5)
      .as[(Long, Seq[(Long, Long)])].collect().toMap
    assert(got === Map(1L -> Seq((5L, 10L)), 2L -> Seq()))
  }
}
