package graft

import org.apache.spark.sql.functions._
import graft.sim.Ann
import graft.sources.Tables
import graft.table.Icelite
import graft.text.TextOps

/** Checkpoint pins are scoped: an operator frees what it pins before it
  * returns, and the pair joins pin nothing at all. */
class PinSpec extends SparkSpec {

  private def pinnedRddIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("merge, incrementalDedup, simhashPairs and lshPairsBanded leave no pinned RDD behind") {
    val docs = Tables.read(spark, Sf, "documents")
    val vecs = Tables.read(spark, Sf, "embeddings")
    val root = java.nio.file.Files.createTempDirectory("pins").toString
    val before = pinnedRddIds
    // a set difference, not a size: the context cleaner may drop an earlier
    // suite's RDD meanwhile, which would mask a leak in a size comparison
    def leavesNoPin(what: String)(body: => Unit): Unit = {
      body
      val left = pinnedRddIds -- before
      assert(left.isEmpty, s"$what left pinned RDDs $left")
    }
    leavesNoPin("Icelite.merge") {
      Icelite.merge(spark, docs.select(col("doc_id"), col("lang")), s"$root/langs", Seq("doc_id"))
      assert(Icelite.read(spark, s"$root/langs").collect().nonEmpty)
    }
    leavesNoPin("incrementalDedup") {
      TextOps.incrementalDedup(spark, docs, s"$root/sigs")(_.collect())
    }
    leavesNoPin("simhashPairs")(TextOps.simhashPairs(docs).collect())
    leavesNoPin("lshPairsBanded")(Ann.lshPairsBanded(vecs, 0.4).collect())
  }

  test("building q_simhash_pairs and q_lsh_pairs_banded launches no Spark job") {
    for (q <- Seq("q_simhash_pairs", "q_lsh_pairs_banded"))
      assert(jobsDuring(SparkEntry.queries(q)(spark, Sf)) === 0, q)
  }
}
