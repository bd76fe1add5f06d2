package graft

import org.apache.spark.sql.functions._
import graft.sim.Ann

/** Similarity-search recall properties (the correctness side is the DuckDB
  * oracle; these pin the approximate operators' relationship to their brute
  * twins).
  */
class AnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs =
    spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").localCheckpoint()

  test("banded LSH pairs are a subset of the brute pairs with measured recall above the single-table variant") {
    val thr = 0.4
    val brute = Ann.cosinePairs(vecs, thr)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val single = Ann.lshPairs(vecs, thr)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val banded = Ann.lshPairsBanded(vecs, thr)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(banded.subsetOf(brute), "LSH candidates must never invent a pair")
    assert(single.subsetOf(brute))
    val recallBanded = banded.size.toDouble / brute.size
    val recallSingle = single.size.toDouble / brute.size
    info(f"cos>=$thr%.1f pairs: brute=${brute.size} single=${single.size} " +
      f"banded=${banded.size} recall single=$recallSingle%.3f banded=$recallBanded%.3f")
    assert(recallBanded > recallSingle,
      s"bands must buy recall: banded=$recallBanded single=$recallSingle")
    assert(recallBanded >= 0.3, s"banded recall too low: $recallBanded")
  }

  test("bandsFor solves the b x r amplification: target met at threshold, high-precision r preferred") {
    for (t <- Seq(0.4, 0.6, 0.7, 0.8, 0.9); target <- Seq(0.5, 0.8, 0.9)) {
      val (b, r) = Ann.bandsFor(t, target)
      assert(Ann.predictedRecall(b, r, t) >= target - 1e-9,
        s"solver geometry ($b x $r) misses recall $target at cos $t")
      // maximal-r preference: one more plane per band must be infeasible
      // within the band cap (otherwise the solver left precision on the table)
      if (r < 12) {
        val pr1 = math.pow(Ann.planeAgreeP(t), r + 1)
        val need = math.ceil(math.log1p(-target) / math.log1p(-pr1)).toInt
        assert(need > 16, s"cos $t target $target: r=${r + 1} was feasible with $need <= 16 bands")
      }
    }
    // tighter thresholds afford more planes per band at the same band budget
    val (_, rLoose) = Ann.bandsFor(0.4, 0.8)
    val (_, rTight) = Ann.bandsFor(0.9, 0.8)
    assert(rTight > rLoose)
  }

  test("tuned banded LSH measured recall at cos>=0.7 matches the solver's prediction (planted near-dups)") {
    // the fixture's max pair cosine is ~0.51 — plant a high-sim tier: one
    // clone per vector, perturbed by ~0.9x-rms deterministic noise so the
    // (original, clone) cosine lands around the 0.7-0.9 band
    val rms = sqrt(aggregate(col("embedding"),
      lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double")) / 64.0)
    val noisy = transform(col("embedding"), (x, i) =>
      (x.cast("double") + rms * 0.9 *
        ((pmod(xxhash64(col("vec_id"), i), lit(2001)) - 1000).cast("double") / 1000.0)
        ).cast("float"))
    val clones = vecs.select((col("vec_id") + 1000000).as("vec_id"), noisy.as("embedding"))
    Session.pinned(vecs.select("vec_id", "embedding").unionByName(clones)) { planted =>
      val thr = 0.7
      val truth = Ann.cosinePairs(planted, thr)
        .select(col("id_a"), col("id_b"), col("cos_sim"))
        .as[(Long, Long, Double)].collect()
      assert(truth.length >= 50, s"planting must create a cos>=$thr tier, got ${truth.length}")
      val (b, r) = Ann.bandsFor(thr, 0.8)
      val got = Ann.lshPairsTuned(planted, thr, 0.8)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got.subsetOf(truth.map(p => (p._1, p._2)).toSet))
      val measured = got.size.toDouble / truth.length
      // prediction integrates the formula over the TRUE pair cosines (recall
      // at the threshold is the floor; pairs above it do better)
      val predicted = truth.map(p => Ann.predictedRecall(b, r, p._3)).sum / truth.length
      info(f"cos>=$thr tier: ${truth.length} true pairs, geometry ${b}x$r, " +
        f"measured recall $measured%.3f vs predicted $predicted%.3f")
      assert(math.abs(measured - predicted) <= 0.15,
        f"measured $measured%.3f vs predicted $predicted%.3f out of tolerance")
      assert(measured >= 0.8 - 0.15, "tuned geometry must approach the recall target")
    }
  }

  test("banded LSH emits each candidate pair exactly once (first-band dedup)") {
    val all = Ann.lshPairsBanded(vecs, -1.0) // no threshold: every candidate
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(all.length === all.distinct.length, "a pair must materialize once")
  }
}

/** Int8 scalar quantization + exact re-rank. */
class QuantSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs =
    spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").localCheckpoint()

  test("quantized top-k with a full-width rerank window EQUALS brute (re-rank is exact)") {
    val brute = graft.sim.Ann.bruteTopK(vecs, col("vec_id") < 16, k = 5)
      .select("query_id", "neighbor_id", "rn").as[(Long, Long, Int)].collect().toSet
    // rerank window >= corpus: every candidate re-ranked exactly
    val quant = graft.sim.Ann.quantTopK(vecs, col("vec_id") < 16, k = 5, rerank = 1000)
      .select("query_id", "neighbor_id", "rn").as[(Long, Long, Int)].collect().toSet
    assert(quant === brute)
  }

  test("default rerank window holds high recall vs brute at 8x less scan width") {
    val brute = graft.sim.Ann.bruteTopK(vecs, col("vec_id") < 16, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val quant = graft.sim.Ann.quantTopK(vecs, col("vec_id") < 16, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(quant.size === brute.size)
    val recall = quant.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"int8 + 4k re-rank should lose <10% of true neighbors, got $recall")
  }

  test("annindex: cell-clustered snapshot prunes probe reads; indexed top-k equals direct") {
    import graft.table.Icelite
    val t = java.nio.file.Files.createTempDirectory("annidx").toString + "/idx"
    val idx = Ann.ivfAssign(vecs).repartition(Ann.IvfCells, col("ivf_cell"))
    Icelite.commit(spark, idx, t)
    val snap = Icelite.readManifest(t, Icelite.currentSnapshotId(t).get)
    assert(snap.files.size > 1, "index must span multiple files for pruning to mean anything")
    assert(snap.files.forall(_.stats.contains("ivf_cell")))
    val probed = Icelite.pruneFiles(snap.files, "ivf_cell", 0L, 0L)
    assert(probed.size < snap.files.size,
      s"zone map must prune non-probed cells (kept ${probed.size}/${snap.files.size})")
    // the persisted index serves identical results to the direct computation
    val direct = Ann.ivfTopK(vecs, col("vec_id") < 32, k = 5)
      .select("query_id", "neighbor_id", "rn").as[(Long, Long, Int)].collect().toSet
    val indexed = Ann.ivfTopKFromIndex(Icelite.read(spark, t), col("vec_id") < 32, k = 5)
      .select("query_id", "neighbor_id", "rn").as[(Long, Long, Int)].collect().toSet
    assert(indexed === direct)
    // a single-cell probe over the PRUNED read equals direct restricted to
    // queries assigned to that cell (queries + neighbors co-live in the cell)
    val cell0Queries = Icelite.read(spark, t)
      .filter(col("ivf_cell") === 0L && col("vec_id") < 32)
      .select("vec_id").as[Long].collect().toSet
    val served = Ann.ivfTopKFromIndex(
        Icelite.readWhere(spark, t, ("ivf_cell", 0L, 0L)), col("vec_id") < 32, k = 5)
      .select("query_id", "neighbor_id", "rn").as[(Long, Long, Int)].collect().toSet
    assert(served === direct.filter(r => cell0Queries(r._1)))
    assert(served.nonEmpty, "fixture must place some queries in cell 0")
  }
}
