package graft

import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Pair-extraction properties of the dedup operators (value correctness is
  * the DuckDB oracle; these pin the set-level guarantees).
  */
class TextPairsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.01/documents.parquet").localCheckpoint()

  test("simhash multi-index pairs EQUAL the brute hamming pairs (pigeonhole is exact, not approximate)") {
    val got = TextOps.simhashPairs(docs, maxHamming = 3)
      .as[(Long, Long, Long)].collect()
    // exactly-once emission (first-block dedup)
    assert(got.length === got.map(p => (p._1, p._2)).distinct.length)
    // brute twin: all-pairs hamming over the signatures
    val sigs = TextOps.simhash(docs)
    val a = sigs.select(col("doc_id").as("doc_a"), col("simhash").as("sa"))
    val b = sigs.select(col("doc_id").as("doc_b"), col("simhash").as("sb"))
    val brute = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .as[(Long, Long, Long)].collect()
    assert(got.toSet === brute.toSet,
      "pigeonhole blocks must recover EVERY pair within the distance — zero recall loss")
    assert(got.nonEmpty, "fixture must contain near-dup pairs for the test to bite")
  }

  test("simhash block buckets stay bounded at the geometry derived for the corpus size") {
    // 200k synthetic docs, 7 pseudo-random words each (odd count: an even
    // token count ties votes at zero and biases every bit toward 0, which
    // would pile mass into low buckets and test the bias, not the geometry)
    val n = 200000L
    val (bits, width) = TextOps.simhashGeometry(n)
    assert(bits === 48 && width === 12, s"geometry for 200k docs: got ($bits, $width)")
    // cap honored at the entropy budget; floor honored for small slices
    assert(TextOps.simhashGeometry(1000000000L) === (60, 15))
    assert(TextOps.simhashGeometry(100L) === (24, 6))
    val docs = spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 7).map(j =>
        substring(md5(concat(col("id").cast("string"), lit(s"-$j"))), 1, 8)): _*).as("text"))
    Session.pinned(TextOps.simhash(docs, bits)) { sigs =>
      val blocks = 4
      val maxOcc = (0 until blocks).map { b =>
        sigs.select(shiftright(col("simhash"), b * width)
            .bitwiseAND(lit((1L << width) - 1)).as("k"))
          .groupBy("k").count().agg(max("count")).head().getLong(0)
      }.max
      val expected = n.toDouble / (1L << width) // ~49 per bucket
      assert(maxOcc <= expected * 10 + 50,
        s"hot block bucket at $maxOcc vs expected ~$expected — geometry failed to bound occupancy")
    }
  }
}

/** Connected-components cluster resolution vs a driver-side union-find. */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** brute union-find over collected edges */
  private def bruteComponents(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long](nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical label = min node in component
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) => val m = ns.min; ns.map(_ -> m) }
  }

  test("alternating-star components match union-find on adversarial graph shapes") {
    // chains (worst case for label propagation), stars, cliques, singleton
    // islands, plus a deterministic pseudo-random graph
    val rng = new scala.util.Random(42)
    val chain = (0L until 40L).sliding(2).map(s => (s(0) + 1000, s(1) + 1000)).toSeq
    val star = (1L to 30L).map(i => (2000L, 2000L + i))
    val clique = for (i <- 0 until 8; j <- i + 1 until 8) yield (3000L + i, 3000L + j)
    val random = Seq.fill(120)((rng.nextInt(60).toLong + 4000L, rng.nextInt(60).toLong + 4000L))
      .filter(p => p._1 != p._2)
    // reversed-order chain: descending ids stress the orientation logic
    val revChain = (0L until 25L).sliding(2).map(s => (5025L - s(0), 5025L - s(1))).toSeq
    val edges = chain ++ star ++ clique ++ random ++ revChain
    val nodes = edges.flatMap(p => Seq(p._1, p._2)).distinct
    // the DISTRIBUTED star-contraction path, called directly (components
    // would short-circuit a pair list this small)
    val got = ops.ConnectedComponents
      .starContraction(edges.toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    val want = bruteComponents(nodes, edges)
    assert(got === want)
    // the small-input short-circuit (driver union-find) must agree exactly
    val fast = ops.ConnectedComponents
      .components(edges.toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    assert(fast === want)
  }

  test("components of an empty pair list is empty") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(ops.ConnectedComponents.components(empty).count() === 0)
  }

  test("dupClusters labels every doc; keepBest keeps exactly one per cluster") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val pairs = TextOps.minhashPairs(docs)
    val clusters = TextOps.dupClusters(docs, pairs).localCheckpoint()
    assert(clusters.count() === docs.count(), "every doc labelled exactly once")
    // cluster_id is the min doc_id of the cluster
    val bad = clusters.groupBy("cluster_id").agg(min("doc_id").as("mn"))
      .filter(col("mn") =!= col("cluster_id")).count()
    assert(bad === 0)
    // both endpoints of every pair share a cluster
    val lbl = clusters.select(col("doc_id"), col("cluster_id"))
    val split = pairs
      .join(lbl.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("cluster_id", "ca"), "doc_a")
      .join(lbl.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("cluster_id", "cb"), "doc_b")
      .filter(col("ca") =!= col("cb")).count()
    assert(split === 0, "paired docs must land in the same cluster")
    val kept = TextOps.keepBest(docs, pairs)
    assert(kept.count() === clusters.select("cluster_id").distinct().count())
    // the kept doc belongs to its cluster
    val foreign = kept.join(lbl,
        kept("keep_id") === lbl("doc_id") && kept("cluster_id") === lbl("cluster_id"),
        "left_anti").count()
    assert(foreign === 0)
  }
}

/** Incremental dedup against the persistent signature table. */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  test("incremental batches reproduce the full-corpus pairs; re-run idempotent") {
    val t = java.nio.file.Files.createTempDirectory("incdedup").toString + "/sig"
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").localCheckpoint()
    val b1 = docs.filter(col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 2 === 1)
    def pairsOf(b: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      TextOps.incrementalDedup(spark, b, t)(_.as[(Long, Long)].collect().toSet)
    val p1 = pairsOf(b1)
    val p2 = pairsOf(b2)
    val full = TextOps.minhashPairs(docs).as[(Long, Long)].collect().toSet
    assert(p1.union(p2) === full,
      "union over batches must equal the batch recompute — no pair lost, none invented")
    assert(full.nonEmpty)
    // idempotent re-run: same pairs out, table row count unchanged
    val p2Again = pairsOf(b2)
    assert(p2Again === p2)
    val sigRows = graft.table.Icelite.read(spark, t).count()
    assert(sigRows === TextOps.minhashBands(docs).count(),
      "signature table holds exactly one row per (doc, band)")
  }

  test("multi-batch keep-best from accumulated tables equals full-corpus keepBest") {
    // the jobs.Main `dedup` accumulation shape: per-batch pairs and quality
    // scores merged into persistent tables, keep-best rebuilt from the full
    // corpus-so-far — a cluster whose better member arrived in an earlier
    // batch must keep that member
    import graft.table.Icelite
    val root = java.nio.file.Files.createTempDirectory("dedupjob").toString
    Session.pinned(spark.read.parquet("/root/testdata/sf0.01/documents.parquet")) { docs =>
      val batches = Seq(docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
      batches.foreach { b =>
        TextOps.incrementalDedup(spark, b, s"$root/sigs") { pairs =>
          Icelite.merge(spark, pairs, s"$root/pairs", Seq("doc_a", "doc_b"))
        }
        Icelite.merge(spark,
          TextOps.qualityScore(b).select(col("doc_id"), col("quality_score")),
          s"$root/quality", Seq("doc_id"))
      }
      def keyOf(df: org.apache.spark.sql.DataFrame) =
        df.select("cluster_id", "keep_id", "keep_quality", "n_docs")
          .as[(Long, Long, Double, Long)].collect().toSet
      val incremental = keyOf(TextOps.keepBestScored(
        Icelite.read(spark, s"$root/quality"), Icelite.read(spark, s"$root/pairs")))
      val full = keyOf(TextOps.keepBest(docs, TextOps.minhashPairs(docs)))
      assert(incremental === full,
        "accumulated keep-best must match the full-corpus recompute")
    }
  }

  test("jaccardPairs grouped-postings form: df-cut cap drops hot shingles exactly, pairs match a brute reference") {
    // round 6: the df-cut moved from a count-aggregate + join-back into the
    // bounded DfCollect buffer — this pins the cap semantics the sf fixtures
    // never exercise (no shingle there exceeds the default 1000 cut):
    // a shingle with df > maxShingleDf must contribute NO pairs, one with
    // df == maxShingleDf must contribute ALL its pairs (complete postings).
    //   docs 0..5: share hot shingle block H (df=6 > cut=4)
    //   docs 0..3: also share warm block W (df=4 == cut)
    //   docs 0,1: additionally share block X (df=2)
    val h = "h1 h2 h3 h4"              // 2 distinct 3-shingles
    val w = "w1 w2 w3 w4 w5"           // 3 distinct 3-shingles
    val x = "x1 x2 x3"                 // 1 shingle
    val rows = Seq(
      (0L, s"$h $w $x"), (1L, s"$h $w $x"),
      (2L, s"$h $w"), (3L, s"$h $w"),
      (4L, s"$h"), (5L, s"$h"))
    // separator tokens between blocks would create cross-block shingles —
    // accepted: the reference below computes from the same texts
    val d = rows.toDF("doc_id", "text")
    val got = TextOps.jaccardPairs(d, threshold = 0.0001, maxShingleDf = 4)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2, r._3)).toSet
    // brute reference: distinct shingles per doc via the same kernel column,
    // df computed in Scala, pairs = shared non-cut shingles
    val sh = d.select(col("doc_id"),
        array_distinct(TextOps.shingleHashes(col("text"), 3)).as("sh"))
      .as[(Long, Seq[Long])].collect().toMap
    val df = sh.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val kept = df.filter { case (_, c) => c >= 2 && c <= 4 }.keySet
    val ids = sh.keys.toSeq.sorted
    val want = (for {
      a <- ids; b <- ids if a < b
      inter = (sh(a).toSet intersect sh(b).toSet).count(kept)
      if inter > 0
    } yield (a, b, inter.toLong)).toSet
    assert(got === want, s"got $got want $want")
    // the hot block must be invisible: docs 4,5 contain ONLY cut shingles,
    // so they appear in no pair at all
    assert(!got.exists { case (a, b, _) => a >= 4L || b >= 4L })
    assert(want.nonEmpty)
  }
}
