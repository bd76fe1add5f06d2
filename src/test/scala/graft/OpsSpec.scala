package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.CellExpressions
import graft.geom.Geom
import graft.ops.{Canonical, KnnJoin, PipJoin}
import graft.pages.Pages
import graft.table.Icelite

/** Operator-vs-brute-force oracles (SURVEY.md §5(e)): PIP join and kNN must
  * produce exactly the rows a naive in-memory scan produces, including the
  * 0/>1-match skip rules and the antimeridian wrap.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  // deterministic point cloud incl. hot cluster + antimeridian band
  private def points(n: Int): Seq[(Long, Double, Double)] = {
    (0L until n).map { i =>
      val h1 = (i * 48271 + 11) % 2147483647L
      val h2 = (h1 * 48271 + 17) % 2147483647L
      val lon = (h1 % 360000L) / 1000.0 - 180.0
      val lat = (h2 % 170000L) / 1000.0 - 85.0
      (i, lon, lat)
    }
  }

  // general (non-rectangular) polygons: triangles + a concave L + one
  // antimeridian-adjacent sliver
  private val polys: Seq[(String, Array[Double])] = Seq(
    "tri_a" -> Array(-10.0, -10.0, 30.0, -5.0, 5.0, 25.0),
    "tri_b" -> Array(20.0, 10.0, 60.0, 15.0, 40.0, 45.0),
    "tri_a2" -> Array(-9.0, -9.0, 31.0, -4.0, 6.0, 26.0), // tri_a shifted: heavy overlap -> >1-match skips
    "lshape" -> Array(-60.0, -60.0, -20.0, -60.0, -20.0, -40.0, -40.0, -40.0, -40.0, -20.0, -60.0, -20.0),
    "east_sliver" -> Array(170.0, 50.0, 179.9, 50.0, 179.9, 70.0, 170.0, 70.0),
    "polar" -> Array(-120.0, 80.0, -60.0, 80.0, -60.0, 89.0, -120.0, 89.0))

  /** The DataFrame PIP theta join, which the session's PipJoinRewrite rule
    * plans as the cell equi-join. */
  private def pipJoin(pts: DataFrame, pl: DataFrame): DataFrame = {
    val joined = pts.join(pl, CellExpressions.st_contains(col("ring"), col("lon"), col("lat")))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"the PIP theta join must be planned as the cell equi-join:\n${plan.take(1500)}")
    joined.select("pid", "poly_id")
  }

  test("PIP join equals brute-force nested loop on general polygons") {
    val pts = points(3000).toDF("pid", "lon", "lat")
    val pl = polys.map { case (n, r) => (n, r.toSeq) }.toDF("poly_id", "ring")
    val got = pipJoin(pts, pl).as[(Long, String)].collect().toSet
    val expected = (for {
      (pid, lon, lat) <- points(3000)
      (name, ring) <- polys
      if Geom.contains(ring, lon, lat)
    } yield (pid, name)).toSet
    assert(got === expected)
    assert(expected.nonEmpty, "fixture must actually produce matches")
  }

  test("PIP shelve enforces the exactly-one rule (lib/utils.py:694-702)") {
    val pts = points(3000).toDF("pid", "lon", "lat")
    val pl = polys.map { case (n, r) => (n, r.toSeq) }.toDF("poly_id", "ring")
    val got = PipJoin.shelve(pts, pl, "pid", "lon", "lat", "poly_id", "ring")
      .select("pid", "poly_id").as[(Long, String)].collect()
    val matchesPerPoint = (for {
      (pid, lon, lat) <- points(3000)
      (name, ring) <- polys
      if Geom.contains(ring, lon, lat)
    } yield (pid, name)).groupBy(_._1)
    val expected = matchesPerPoint.filter(_._2.size == 1).values.flatten.toSet
    assert(got.toSet === expected)
    assert(got.length === got.map(_._1).distinct.length, "one tile per point")
    // the overlap between tri_a and tri_b must have produced >1-match skips
    val multi = matchesPerPoint.count(_._2.size > 1)
    assert(multi > 0, "fixture must exercise the >1-match skip branch")
  }

  test("PIP kernels give the same answer interpreted as with codegen") {
    val pts = points(3000).toDF("pid", "lon", "lat")
    val pl = polys.map { case (n, r) => (n, r.toSeq) }.toDF("poly_id", "ring")
    def run(mode: String) = {
      // shelve caches its per-cell table: drop it so each mode evaluates the
      // cover cells itself instead of reading the other mode's result
      spark.catalog.clearCache()
      val obs = org.apache.spark.sql.Observation(s"pip_$mode")
      val shelved = PipJoin.shelve(pts, pl, "pid", "lon", "lat", "poly_id", "ring",
          observer = Some(obs))
        .select("pid", "poly_id").as[(Long, String)].collect().toSet
      val joined = pipJoin(pts, pl).as[(Long, String)].collect().toSet
      (shelved, obs.get, joined)
    }
    val codegen = run("codegen")
    val interpreted =
      try {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        run("interpreted")
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    assert(interpreted === codegen)
    assert(codegen._1.nonEmpty && codegen._3.nonEmpty, "fixture must produce matches")
    assert(codegen._2("skip_multi").asInstanceOf[Long] > 0, "fixture must exercise multi-match")
  }

  test("every kernel builder gives the same answer interpreted as with codegen") {
    import org.apache.spark.sql.graft.{CellExpressions => C, TextExpressions => T}
    val id = col("id")
    // a small frame from ids alone: nothing constant-folds, so each mode
    // evaluates every kernel itself; lon is null on every 13th row
    val base = spark.range(0, 2000)
      .withColumn("x", (id * 48271L % 360000L) / 1000.0 - 180.0)
      .withColumn("y", (id * 16807L % 170000L) / 1000.0 - 85.0)
      .withColumn("lon", when(id % 13 =!= 0, col("x")))
      .withColumn("d", (id % 3 + 1).cast("double"))
      .withColumn("ring", array(col("x") - col("d"), col("y") - col("d"),
        col("x") + col("d"), col("y") - col("d"), col("x") + col("d"), col("y") + col("d"),
        col("x") - col("d"), col("y") + col("d")))
      .withColumn("px", col("x") + (id % 5 - 2) * 0.7)
      .withColumn("cands", array(
        struct(lit("A").as("pid"), col("ring").as("ring"), (id % 4 === 0).as("interior")),
        struct(lit("B").as("pid"), array(col("x"), col("y") - 2.0, col("x") + 2.0, col("y"),
          col("x"), col("y") + 2.0).as("ring"), lit(false).as("interior"))))
      // every 11th text is empty: no tokens, no shingles, null signatures
      .withColumn("text", when(id % 11 =!= 0, concat_ws(" ", (id % 5).cast("string"),
        (id % 3).cast("string"), (id % 5).cast("string"), (id % 7).cast("string"),
        (id % 2).cast("string"))).otherwise(lit("")))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("hashes", T.shingle_hashes(col("toks"), 1))
    val cases: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "cell_at" -> C.cell_at(col("lon"), col("y"), 9),
      "st_contains" -> C.st_contains(col("ring"), col("px"), col("y")),
      "shelve_pick_n" -> C.shelve_pick_n(col("cands"), col("px"), col("y")),
      "tile_id" -> C.tile_id(col("lon"), col("y")),
      "cover_cells" -> C.cover_cells(col("ring"), 6),
      "ring_range" -> C.ring_range(C.cell_at(col("x"), col("y"), 6), lit(0), lit(2)),
      "geocell_expr" -> C.geocell_expr(col("lon"), col("y")),
      "dot_longs" -> C.dot_longs(array(id, id % 7), array(lit(3L), id % 5)),
      "proj_roundtrip_err" -> C.proj_roundtrip_err(col("lon"), col("y")),
      "h32" -> T.h32(col("text")),
      "shingle_hashes" -> T.shingle_hashes(col("toks"), 2),
      "shingle_hashes_wide" -> T.shingle_hashes_wide(col("toks"), 2),
      "minhash_sig" -> T.minhash_sig(col("hashes"), 16),
      "simhash_sig" -> T.simhash_sig(col("hashes"), 24),
      "repetition_counts" -> T.repetition_counts(col("toks")),
      "regexp_groups" -> T.regexp_groups(col("text"), "(\\d) (\\d)"))
    // per builder: sum of the output's xxhash64 (decimal: no overflow) and its null count
    def run(): Map[String, (java.math.BigDecimal, Long)] = {
      val aggs = cases.flatMap { case (n, _) =>
        Seq(sum(xxhash64(col(n)).cast("decimal(38,0)")), count_if(col(n).isNull)) }
      val row = base.select(cases.map { case (n, c) => c.as(n) }: _*)
        .agg(aggs.head, aggs.tail: _*).head()
      cases.indices.map(i => cases(i)._1 -> (row.getDecimal(2 * i), row.getLong(2 * i + 1))).toMap
    }
    val codegen = run()
    val interpreted =
      try {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        run()
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    for ((n, _) <- cases) assert(interpreted(n) === codegen(n), s"$n differs")
    val emptyTexts = 2000 / 11 + 1
    assert(codegen("minhash_sig")._2 === emptyTexts, "an empty hash set must give a null signature")
    assert(codegen("simhash_sig")._2 === emptyTexts, "an empty hash set must give a null signature")
    assert(codegen("cell_at")._2 === 2000 / 13 + 1, "a null argument must give a null result")
  }

  test("pickCoverLevel tracks polygon extent: fine for slivers, coarse for continents") {
    // tiny parcels (~0.01°): the finest capped level — cells stay selective
    val tiny = (0 until 50).map { i =>
      val x = i * 3.0 - 75.0; val y = i * 1.5 - 37.0
      (s"t$i", Seq(x, y, x + 0.01, y, x + 0.01, y + 0.01, x, y + 0.01))
    }.toDF("poly_id", "ring")
    assert(PipJoin.pickCoverLevel(tiny, "ring") === 14)
    // planet-scale polygons: a coarse level — finer would explode the cover
    val planet = Seq(
      ("west", Seq(-170.0, -70.0, -10.0, -70.0, -10.0, 70.0, -170.0, 70.0)),
      ("east", Seq(10.0, -70.0, 170.0, -70.0, 170.0, 70.0, 10.0, 70.0))
    ).toDF("poly_id", "ring")
    val coarse = PipJoin.pickCoverLevel(planet, "ring")
    assert(coarse <= 3, s"continent-scale polys must pick a coarse level, got $coarse")
    // the estimate bound holds at the picked level for the median poly
    val cw = 360.0 / (1L << coarse); val ch = 180.0 / (1L << coarse)
    assert((160.0 / cw + 2) * (140.0 / ch + 2) <= 24.0)
    // no polygons at all: the safe default
    assert(PipJoin.pickCoverLevel(tiny.where(lit(false)), "ring") === 6)
  }

  test("shelve observes the J2 skip metrics (0-match / multi-match counts)") {
    val pts = points(3000).toDF("pid", "lon", "lat")
    val pl = polys.map { case (n, r) => (n, r.toSeq) }.toDF("poly_id", "ring")
    val obs = org.apache.spark.sql.Observation("shelve_obs")
    val shelved = PipJoin.shelve(pts, pl, "pid", "lon", "lat", "poly_id", "ring",
      observer = Some(obs))
    val nShelved = shelved.count()
    // ground truth from the brute-force scan
    val matchCounts = points(3000).map { case (pid, lon, lat) =>
      polys.count { case (_, ring) => Geom.contains(ring, lon, lat) }
    }
    val m = obs.get
    assert(m("n_shelved") === matchCounts.count(_ == 1).toLong)
    assert(m("n_shelved") === nShelved)
    assert(m("skip_nomatch") === matchCounts.count(_ == 0).toLong)
    assert(m("skip_multi") === matchCounts.count(_ > 1).toLong)
    assert(m("skip_multi").asInstanceOf[Long] > 0, "fixture must exercise multi-match")
    assert(m("skip_nomatch").asInstanceOf[Long] > 0, "fixture must exercise 0-match")
    // the same observer through an Icelite commit, the frame's only action:
    // the write command's listener events must complete it
    val obsCommit = org.apache.spark.sql.Observation("shelve_obs_commit")
    val snap = Icelite.commit(spark, PipJoin.shelve(pts, pl, "pid", "lon", "lat", "poly_id",
      "ring", observer = Some(obsCommit)),
      java.nio.file.Files.createTempDirectory("obs").resolve("t").toString)
    val got = Await.result(Future(obsCommit.get)(ExecutionContext.global), 60.seconds)
    assert(got === m)
    assert(snap.rowCount === nShelved)
  }

  private def d2(a: (Long, Long, Long), b: (Long, Long, Long)): Long = {
    val adlon = math.abs(a._2 - b._2)
    val dlon = math.min(adlon, 360000 - adlon)
    val dlat = a._3 - b._3
    dlon * dlon + dlat * dlat
  }

  /** Brute-force kNN of (id, lonm, latm) queries: the k nearest points by
    * (dist2, id), self matches excluded only when `self`. */
  private def bruteKnn(qs: Seq[(Long, Long, Long)], ps: Seq[(Long, Long, Long)], k: Int,
                       self: Boolean): Set[(Long, Long, Long, Int)] =
    qs.flatMap { q =>
      ps.filter(p => !self || p._1 != q._1)
        .map(p => (p._1, d2(q, p)))
        .sortBy(t => (t._2, t._1))
        .take(k).zipWithIndex
        .map { case ((nid, d), idx) => (q._1, nid, d, idx + 1) }
    }.toSet

  private def knnRows(df: DataFrame): Array[(Long, Long, Long, Int)] =
    df.select("query_id", "neighbor_id", "dist2", "rn").as[(Long, Long, Long, Int)].collect()

  private def pointsM(n: Int): Seq[(Long, Long, Long)] =
    points(n).map { case (i, lon, lat) => (i, math.round(lon * 1000), math.round(lat * 1000)) }

  test("kNN join equals brute force incl. lon wrap (k=3)") {
    // 400 points; includes near-antimeridian pairs via the modular spread
    val ptsSeq = pointsM(400)
    val pts = ptsSeq.toDF("id", "lonm", "latm")
    val got = knnRows(KnnJoin.knn(spark, pts, pts, "id", "id", k = 3, level = 4)).toSet
    assert(got === bruteKnn(ptsSeq, ptsSeq, 3, self = true))
  }

  test("kNN ring escalation at a small level: no wrapped-cell duplicates") {
    // level=3 -> 8 cells per lon axis, radius cap 3: sparse points near the
    // antimeridian leave queries unfinished after pass 1, so passes 2-3 probe
    // up to the cap. Before the radius cap, wrapped ring cells re-joined the
    // same candidate and the top-k assigned two ranks to one neighbor.
    val ptsSeq = (0L until 40L).map { i =>
      val h1 = (i * 48271 + 11) % 2147483647L
      val h2 = (h1 * 48271 + 17) % 2147483647L
      val lonm = if (i % 4 == 0) 179000L + (h1 % 2000) - 1000L // antimeridian band
                 else h1 % 360000L - 180000L
      (i, lonm, h2 % 170000L - 85000L)
    }
    val pts = ptsSeq.toDF("id", "lonm", "latm")
    val got = knnRows(KnnJoin.knn(spark, pts, pts, "id", "id", k = 3, level = 3))
    // no (query, neighbor) pair may appear twice
    assert(got.length === got.map(t => (t._1, t._2)).distinct.length)
    assert(got.toSet === bruteKnn(ptsSeq, ptsSeq, 3, self = true))
  }

  test("kNN non-self join keeps a neighbor whose id equals the query id") {
    val qs = Seq((1L, 10000L, 10000L), (2L, 20000L, 20000L)).toDF("id", "lonm", "latm")
    val ps = Seq((1L, 10100L, 10000L), (9L, 10200L, 10000L)).toDF("id", "lonm", "latm")
    val got = KnnJoin.knn(spark, qs, ps, "id", "id", k = 2, level = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // query 1 must keep point 1 (distinct datasets — not a self match)
    assert(got.contains((1L, 1L)) && got.contains((1L, 9L)))
  }

  test("kNN with k >= |P| ends every query in the brute pass") {
    val ptsSeq = pointsM(6)
    val pts = ptsSeq.toDF("id", "lonm", "latm")
    val got = knnRows(KnnJoin.knn(spark, pts, pts, "id", "id", k = 8, level = 4))
    assert(got.toSet === bruteKnn(ptsSeq, ptsSeq, 8, self = true))
    assert(got.length === 6 * 5)
  }

  test("kNN keeps a query with no point in its pass-1 disk") {
    // level 6: the pass-1 disk reaches ~3 degrees; every query is farther
    // than that from the cluster, some within the pass-2/3 radii, some not
    val ps = (0L until 50L).map(i => (i, -120000L + (i * 37) % 900, -40000L + (i * 53) % 700))
    val qs = Seq((100L, -112000L, -40000L), (101L, -120000L, -25000L), (102L, 0L, 0L),
      (103L, 60000L, 70000L))
    val got = knnRows(KnnJoin.knn(spark, qs.toDF("id", "lonm", "latm"),
      ps.toDF("id", "lonm", "latm"), "id", "id", k = 2, level = 6))
    assert(got.toSet === bruteKnn(qs, ps, 2, self = false))
    assert(got.length === qs.length * 2)
  }

  test("kNN ranks co-located points by id and counts a repeated row once") {
    // 30 points at one location plus a spread of near ones: ties at distance
    // 0. Five rows repeat exactly (same id): each is one query, and one
    // neighbor of every other query.
    val dupes = (0L until 30L).map(i => (i, 15000L, 45000L))
    val near = (30L until 60L).map(i => (i, 15000L + (i * 31) % 400, 45000L + (i * 17) % 300))
    val ptsSeq = dupes ++ near ++ near.take(5)
    val pts = ptsSeq.toDF("id", "lonm", "latm")
    val got = knnRows(KnnJoin.knn(spark, pts, pts, "id", "id", k = 4, level = 8))
    assert(got.length === 60 * 4)
    assert(got.toSet === bruteKnn(ptsSeq.distinct, ptsSeq.distinct, 4, self = true))
    val far = Seq((99L, 15000L + 5, 45000L))
    val fromFar = knnRows(KnnJoin.knn(spark, far.toDF("id", "lonm", "latm"), pts, "id", "id",
      k = 40, level = 8))
    assert(fromFar.toSeq.sortBy(_._4) ===
      bruteKnn(far, ptsSeq.distinct, 40, self = false).toSeq.sortBy(_._4))
  }

  test("kNN finishes a query whose k-th distance equals the searched radius exactly") {
    // level 4: cellH = 11250 mdeg. Points 1 and 2 sit exactly one cell
    // height north and south of the query (d2 = 11250², a tie broken on id),
    // point 0 just beyond; with k = 2 the k-th distance equals the pass-1
    // bound (1·cellH)²
    assert((180000L >> 4) === 11250L)
    val qs = Seq((7L, 5000L, 5000L))
    val ps = Seq((0L, 16251L, 5000L), (1L, 5000L, 16250L), (2L, 5000L, -6250L), (3L, 90000L, 5000L))
    val expected = bruteKnn(qs, ps, 2, self = false)
    assert(expected.map(_._3) === Set(11250L * 11250L))
    for (k <- Seq(1, 2)) {
      val got = knnRows(KnnJoin.knn(spark, qs.toDF("id", "lonm", "latm"),
        ps.toDF("id", "lonm", "latm"), "id", "id", k = k, level = 4))
      assert(got.toSet === bruteKnn(qs, ps, k, self = false), s"k=$k")
    }
  }

  test("pickLevel chooses a finer level for the skewed page cloud, and kNN stays exact") {
    val pts = graft.pages.Pages.fromLineitem(spark, "/root/testdata/sf0.01")
      .select(col("page_id").as("id"), col("lonm"), col("latm"))
    // 20% of ~60k points sit in two 1-degree cells; a coarse level would put
    // thousands of points in one cell
    val level = KnnJoin.pickLevel(pts)
    assert(level >= 8, s"skewed cloud must push the level finer, got $level")
    // the picked level still yields exact results on a small subset
    val sub = pts.filter(col("id") < 2000).localCheckpoint()
    val got = KnnJoin.knn(spark, sub, sub, "id", "id", k = 2, level = level)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    val rows = sub.select("id", "lonm", "latm").as[(Long, Long, Long)].collect()
    val distinctIds = rows.map(_._1).distinct.length
    assert(got.length === distinctIds * 2)
  }

  test("pickLevel falls back to the coarsest level on an empty sample") {
    // empty input: must not NPE on the absent aggregates, must return the
    // coarsest level
    val empty = Seq((1L, 1000L, 1000L)).toDF("id", "lonm", "latm").where(lit(false))
    assert(KnnJoin.pickLevel(empty) === 2)
  }

  test("pickLevel escapes past the fixed candidate ceiling when every level <= 14 is ineligible") {
    // 24 480 points: a 12x12 integer-millidegree grid x 170 copies. Cell
    // sizes: level 14 ~ 11 mdeg (whole cluster in ~1 cell, occ ~ 24k),
    // level 16 ~ 2.75 mdeg (up to 3x3 grid positions/cell -> occ ~ 1530 >
    // 1024), level 18 ~ 0.69 mdeg (< 1 mdeg quantum -> occ = 170 dupes,
    // eligible). A ladder that stopped at 14 fell back to an ineligible
    // level — the quadratic hot-cell case at the design point.
    val dense = for {
      x <- 0 until 12; y <- 0 until 12; c <- 0 until 170
    } yield ((x * 12 + y) * 170L + c, 10000L + x, 20000L + y)
    val pts = dense.toDF("id", "lonm", "latm")
    val level = KnnJoin.pickLevel(pts)
    assert(level > 14, s"pick must escape the fixed ladder, got $level")
    assert(level <= graft.cells.Cells.MaxLevel)
  }

  test("knnAuto picks the level itself and stays exact (entry-point wiring)") {
    val pts = Seq((1L, 10000L, 10000L), (2L, 10100L, 10000L), (3L, 50000L, 40000L))
      .toDF("id", "lonm", "latm").localCheckpoint()
    val got = KnnJoin.knnAuto(spark, pts, pts, "id", "id", k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (2L, 1L), (3L, 2L)))
  }

  test("kNN self-heals on hot cells (skewed cluster)") {
    // 200 points all inside one 1-degree cell + 10 sparse outliers
    val hot = (0L until 200L).map { i =>
      val h = (i * 48271 + 3) % 997
      (i, 12000L + h, 51000L + (h * 7) % 997)
    }
    val sparse = (200L until 210L).map(i => (i, -170000L + i * 1000, -80000L + i * 500))
    val ptsSeq = hot ++ sparse
    val all = ptsSeq.toDF("id", "lonm", "latm")
    val got = knnRows(KnnJoin.knn(spark, all, all, "id", "id", k = 2, level = 6))
    assert(got.length === 210 * 2)
    assert(got.toSet === bruteKnn(ptsSeq, ptsSeq, 2, self = true))
  }

  test("building the kNN plan launches no Spark job, knnAuto only its level pick's") {
    val qs = pointsM(200).toDF("id", "lonm", "latm")
    val ps = pointsM(3000).toDF("id", "lonm", "latm")
    assert(jobsDuring(KnnJoin.knn(spark, qs, ps, "id", "id", k = 3, level = 4)) === 0)
    // one collect; AQE runs each of its map stages as a job of its own
    val auto = jobsDuring(KnnJoin.knnAuto(spark, qs, ps, "id", "id", k = 3))
    assert(auto >= 1 && auto <= 3, s"knnAuto launched $auto jobs")
  }

  // order-insensitive: the xxhash64 sum of every row, and the row count
  private def hash(df: DataFrame): Row =
    df.agg(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")), count(lit(1))).head()

  /** The settings a result must not depend on. */
  private val IncidentalConfs = Seq(
    Seq("spark.sql.shuffle.partitions" -> "1"),
    Seq("spark.sql.shuffle.partitions" -> "7"),
    Seq("spark.sql.adaptive.enabled" -> "false"),
    Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  /** `body` with `conf` set, the session's previous values restored after. */
  private def withConf[T](conf: Seq[(String, String)])(body: => T): T = {
    val saved = conf.map { case (key, _) => key -> spark.conf.getOption(key) }
    try { conf.foreach { case (key, v) => spark.conf.set(key, v) }; body }
    finally saved.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }

  test("kNN results do not depend on partitioning, AQE, join strategy or codegen") {
    // the skewed page cloud one scale factor up from Sf
    val sub = Pages.fromLineitem(spark, s"${new java.io.File(Sf).getParent}/sf0.01")
      .select(col("page_id").as("id"), col("lonm"), col("latm"))
      .filter(col("id") < 2000)
    def run(): (Row, Row) = (hash(SparkEntry.queries("q_knn")(spark, Sf)),
      hash(KnnJoin.knnAuto(spark, sub, sub, "id", "id", k = 5)))
    val base = run()
    assert(base._1.getLong(1) > 0 && base._2.getLong(1) > 0)
    for (conf <- IncidentalConfs) assert(withConf(conf)(run()) === base, s"under $conf")
  }

  test("simhash and LSH pair joins do not depend on partitioning, AQE, join strategy or codegen") {
    val names = Seq("q_simhash_pairs", "q_lsh_pairs_banded", "q_lsh_pairs")
    def run(): Seq[Row] = names.map(q => hash(SparkEntry.queries(q)(spark, Sf)))
    val base = run()
    names.zip(base).foreach { case (q, r) => assert(r.getLong(1) > 0, s"$q is empty at $Sf") }
    for (conf <- IncidentalConfs) assert(withConf(conf)(run()) === base, s"under $conf")
    // both sides of each self-join are one exchange, computed once and
    // reused: under a shuffle join for all three, and under the default
    // (broadcast) join too for the first-band joins, whose band rows are
    // hash-partitioned before the join. A one-sided filter breaks the reuse.
    val plans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val shuffled = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")
    for ((q, conf) <- names.map(_ -> shuffled) ++
        Seq("q_simhash_pairs", "q_lsh_pairs_banded").map(_ -> Seq.empty)) withConf(conf) {
      val df = SparkEntry.queries(q)(spark, Sf)
      df.collect()
      val reused = plans.collect(df.queryExecution.executedPlan) {
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
      }
      assert(reused.nonEmpty, s"$q under $conf: no ReusedExchange in\n${df.queryExecution.executedPlan}")
    }
  }

  test("PIP shelve and left join do not depend on partitioning, AQE, join strategy or codegen") {
    val names = Seq("q_pip_shelve", "q_pip_left")
    def run(): Seq[Row] = {
      // the shelve caches its per-cell table: drop it so each conf computes
      // the cover cells itself instead of reading the defaults' result
      spark.catalog.clearCache()
      names.map(q => hash(SparkEntry.queries(q)(spark, Sf)))
    }
    val base = run()
    names.zip(base).foreach { case (q, r) => assert(r.getLong(1) > 0, s"$q is empty at $Sf") }
    for (conf <- IncidentalConfs) assert(withConf(conf)(run()) === base, s"under $conf")
    // with broadcasts off the rule's equi-join is a shuffle join
    val plans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    withConf(Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      val df = SparkEntry.queries("q_pip_left")(spark, Sf)
      df.collect()
      val joins = plans.collect(df.queryExecution.executedPlan) {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j.nodeName
      }
      assert(joins.nonEmpty && joins.forall(n => n == "SortMergeJoin" || n == "ShuffledHashJoin"),
        s"q_pip_left must shuffle-join: $joins\n${df.queryExecution.executedPlan}")
    }
  }

  test("canonical scene: zero-padded verkey makes string max = semver max (J3)") {
    val rows = Seq(
      // same pair+res, versions v030402 < v040002 < v040311: keep only last
      ("s1", "PAIR_2m_v030402", false, "/a"),
      ("s2", "PAIR_2m_v040002", false, "/b"),
      ("s3", "PAIR_2m_v040311", false, "/c"),
      ("s4", "PAIR_2m_v040311", false, "/d"), // same max version, both kept
      // dsp rows are dropped even if they are the group max
      ("s5", "PAIR_8m_v050000", true, "/e"),
      ("s6", "PAIR_8m_v040000", false, "/f"))
      .toDF("scenedemid", "stripdemid", "is_dsp", "location")
    val got = Canonical.sceneMaster(rows)
      .select("scenedemid").as[String].collect().toSet
    assert(got === Set("s3", "s4", "s6"))
  }

  test("canonical strip: s2s int-array ordering prefers 4.10 over 4.2 (J8)") {
    val rows = Seq(
      // one nover group, two versions; v2 wins stage 1
      ("d1", "P_2m_v030402", "4.2", false),
      ("d2", "P_2m_v040311", "4.2", false),
      ("d3", "P_2m_v040311", "4.10", true),  // 4.10 > 4.2 numerically
      ("d4", "P_2m_v040311", "4.10", false), // non-LSF preferred
      ("d5", "P_2m_v040311", "3", false))
      .toDF("dem_id", "stripdemid", "s2s_ver", "is_lsf")
    val got = Canonical.stripMaster(rows).select("dem_id").as[String].collect().toSet
    assert(got === Set("d4"))
  }

  test("stripMaster rejects an input column named like one of its scratch columns") {
    val rows = Seq(("d1", "P_2m_v030402", "4.2", false, "caller data"))
      .toDF("dem_id", "stripdemid", "s2s_ver", "is_lsf", "__nover")
    intercept[IllegalArgumentException](Canonical.stripMaster(rows))
  }

  test("staging dedup: anti-join + min(location||index_date) tie-break (J5)") {
    val tape = Seq(("sc1", "st1", false, "/t", "2024-01-01"))
      .toDF("scenedemid", "stripdemid", "is_dsp", "location", "index_date")
    val staging = Seq(
      ("sc1", "st1", false, "/x", "2024-01-02"), // on tape -> dropped
      ("sc2", "st1", false, "/b", "2024-01-03"), // novel, two locations
      ("sc2", "st1", false, "/a", "2024-01-03"), // min(location||date) wins
      ("sc3", "st2", true, "/z", "2024-01-04"))
      .toDF("scenedemid", "stripdemid", "is_dsp", "location", "index_date")
    val got = Canonical.stagingDedup(staging, tape)
      .select("scenedemid", "location").as[(String, String)].collect().toSet
    assert(got === Set(("sc2", "/a"), ("sc3", "/z")))
  }

  test("byte-identical text per url end-to-end (input_hint invariant)") {
    val pages = Pages.fromDocuments(spark, Sf)
    // round-trip text through the full page derivation + html wrapper and
    // compare digests against the raw source column
    val src = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"), sha2(col("text"), 256).as("src_sha"))
    val roundtrip = pages.select(col("doc_id"),
      sha2(col("text"), 256).as("page_sha"),
      // text embedded in html must decode back byte-identically
      sha2(regexp_replace(decode(col("html"), "UTF-8"),
        "^<html><body>|</body></html>$", ""), 256).as("html_sha"))
    val joined = src.join(roundtrip, "doc_id")
      .filter(col("src_sha") =!= col("page_sha") || col("src_sha") =!= col("html_sha"))
    assert(joined.count() === 0)
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every catalog query has an oracle and every oracle a query (90 each)") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size === 90)
  }
}
