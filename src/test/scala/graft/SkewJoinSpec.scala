package graft

import org.apache.spark.sql.functions._
import graft.ops.SkewJoin

class SkewJoinSpec extends SparkSpec {
  import spark.implicits._

  test("salted join equals plain join on a skewed fixture") {
    // 10k rows, 60% on one hot key
    val big = (0 until 10000).map { i =>
      (i.toLong, if (i % 10 < 6) "HOT" else s"k${i % 97}")
    }.toDF("id", "key")
    val small = (Seq("HOT") ++ (0 until 97).map(i => s"k$i"))
      .zipWithIndex.map { case (k, i) => (k, s"v$i") }.toDF("key", "value")
    val plain = big.join(small, Seq("key"), "inner")
      .select("id", "key", "value").as[(Long, String, String)].collect().toSet
    val salted = SkewJoin.saltedJoin(big, small, "key",
        hot = Seq("HOT"), saltFactor = 8, saltSource = col("id"))
      .select("id", "key", "value").as[(Long, String, String)].collect().toSet
    assert(salted === plain)
  }

  test("hot key detection finds the dominant key") {
    val big = (0 until 20000).map { i =>
      (i.toLong, if (i % 10 < 6) "HOT" else s"k${i % 97}")
    }.toDF("id", "key")
    val hot = SkewJoin.hotKeys(big, "key", sampleFraction = 0.5, threshold = 0.1)
    assert(hot.contains("HOT"))
    assert(hot.size < 5)
  }

  test("hot key detection is seeded and yields no keys on an empty sample") {
    val empty = Seq.empty[(Long, String)].toDF("id", "key")
    assert(SkewJoin.hotKeys(empty, "key") === Nil)
    // 2,000 keys of 10 rows each and a zero threshold: the keys returned
    // are the keys the 1% sample caught, which only its seed decides
    val flat = (0 until 20000).map(i => (i.toLong, s"k${i % 2000}")).toDF("id", "key")
    val first = SkewJoin.hotKeys(flat, "key", threshold = 0.0)
    assert(first.nonEmpty)
    assert(SkewJoin.hotKeys(flat, "key", threshold = 0.0).sorted === first.sorted)
  }
}
