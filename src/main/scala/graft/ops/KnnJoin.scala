package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CellExpressions.{cell_at, ring_range}
import graft.cells.Cells

/** Exact k-nearest-neighbor self/join via expanding cell-ring search
  * (the graft operator of BASELINE.json north_star; reference precedent is
  * the single-cell centroid lookup of /root/reference/lib/utils.py:676-702).
  *
  * Distance: squared euclidean in integer millidegrees with longitude wrap
  * (`dlon = min(|Δ|, 360000-|Δ|)`), exact 64-bit integer math so the DuckDB
  * oracle reproduces results bit-for-bit. Ties break on neighbor id.
  *
  * Algorithm: one lazy plan, with no driver action besides the level pick.
  *   1. Both sides are bucketed to quadkey cells at `level`. Each query row
  *      carries its best k entries so far and the radius R (in cells) it
  *      has searched.
  *   2. [[Passes]] ring passes. Pass 1 probes the disk of radius 1 around the
  *      query's cell; pass i > 1 probes the slab (R_{i-1}, R_i] with
  *      R_i = min(4·R_{i-1}, maxR, Rneed), where Rneed is the smallest R with
  *      (R·cellH)² ≥ d_k for a query that already has k candidates. Each
  *      probed cell is a hash equi-join on the cell id; the theta join never
  *      materializes. The bounded-heap [[TopK]] aggregation merges the fresh
  *      candidates into the carried entries.
  *   3. A query is finished when it has k candidates AND its k-th distance
  *      d_k ≤ (R·cellH)²: a point in an unprobed cell (Chebyshev cell
  *      distance > R) is strictly farther than R·cellH. A finished query
  *      probes an empty slab in later passes and keeps its entries.
  *   4. Queries unfinished after the last pass go to the exact brute pass.
  *
  * At 100 TB: each pass is one shuffle of the queries keyed by cell;
  * candidates are co-partitioned by the same key. Hot cells satisfy k in the
  * first pass (dense ⇒ near neighbors), so skew self-heals; AQE skew-split
  * covers the residue.
  */
object KnnJoin {

  /** Ring passes before the brute pass: a query short of k candidates
    * searches radius 1, 4, then 16 cells. */
  val Passes = 3

  /** [[pickLevel]]'s sample fraction and per-cell occupancy cap. */
  val SampleFraction = 0.05
  val TargetMaxPerCell = 1024

  /** The levels [[pickLevel]] measures, in the batches its rule examines in
    * turn: every even level up to Cells.MaxLevel. */
  val LevelBatches: Seq[Seq[Int]] = Seq(2 to 14 by 2, 16 to 22 by 2, 24 to Cells.MaxLevel by 2)

  /** Density-driven cell-level selection. The ring search is level-sensitive
    * in BOTH directions:
    *   - too coarse and the hot cluster's home cell makes pass 1 quadratic
    *     in the cluster (pass-1 pairs for a cell ≈ 9·occ², measured at 600k
    *     points with the 20%-hot-cell fixture: level 10 = 483 s, level 12 =
    *     108 s — level-12 max occupancy is ~900, level-10 is ~15 000);
    *   - too fine and the pass-1 disk radius (one cell height) drops below
    *     the typical k-NN radius, so most queries fail the pass-1
    *     termination bound and every further pass pays its fixed cost
    *     (measured at 5 000 worldwide docs: level 4 = 4-5 s, level 6 = 19 s,
    *     level 8 = 21-27 s).
    * Two-sided heuristic over one sample:
    *   1. ELIGIBLE = levels whose MAX occupied-cell count (scaled back up by
    *      the sample fraction) ≤ [[TargetMaxPerCell]] — kills the quadratic
    *      blowup. The max, not a percentile: a 1-2-cell hotspot is invisible
    *      to percentile stats over thousands of cells. Duplicated/co-located
    *      points count here deliberately (they create occ² pairs all the
    *      same). Cap 1024 keeps the hot-cell term at ≈ 9·1024² ≈ 9M pairs —
    *      trivial for the codegen equi-join. Only the first of
    *      [[LevelBatches]] holding an eligible level is considered. Max
    *      occupancy only shrinks with level, and a hot cluster can make every
    *      level ≤ 14 ineligible at the 10^12-row design point; co-located
    *      duplicates put a floor under it, so no eligible level ⇒
    *      Cells.MaxLevel (the brute pass absorbs that case).
    *   2. Among eligible, pick the FINEST level whose cell height still
    *      covers the typical k-NN radius — finer shrinks the pass-1 pair
    *      volume, but once cellH < r_k most queries fail the pass-1
    *      termination bound. r_k is the uniform-density estimate
    *      sqrt(k·bboxArea/(π·N)) over the DEDUPLICATED sample (co-located
    *      duplicates satisfy their own kNN at distance 0 and must not count
    *      toward the spread points' density). None covers r_k ⇒ coarsest
    *      eligible (the skewed case: eligibility forces fine levels and
    *      extra passes are the cheaper evil).
    * Driver-side decision from one sampled aggregation over every level
    * (same pattern as SkewJoin.hotKeys; at 100 TB use table statistics).
    */
  def pickLevel(points: DataFrame, k: Int = 5): Int = {
    val levels = LevelBatches.flatten
    // seeded: an unseeded sample can flip the pick between two invocations
    // of the same query (e.g. Bench's warmup vs timed pass), changing the
    // compiled plan shape and re-charging one-time codegen to the timed run
    val byLevel = points.sample(SampleFraction, seed = 42L)
      .select(col("lonm"), col("latm"), posexplode(array(levels.map(l =>
        cell_at(col("lonm") / 1000.0, col("latm") / 1000.0, l)): _*)).as(Seq("li", "cell")))
      .groupBy("li", "cell").agg(count(lit(1)).as("n"),
        min("lonm").as("lon0"), max("lonm").as("lon1"),
        min("latm").as("lat0"), max("latm").as("lat1"))
      .groupBy("li").agg(max("n"), count(lit(1)),
        (max("lon1") - min("lon0")).cast("double"), (max("lat1") - min("lat0")).cast("double"))
      .collect()
      .map(r => levels(r.getInt(0)) -> r).toMap
    // an empty sample (tiny input × small fraction) yields no rows: nothing
    // measured ⇒ every level is eligible, r_k is unknowable ⇒ the coarsest
    // level wins below
    def maxOcc(l: Int): Long = byLevel.get(l).fold(0L)(_.getLong(1))
    LevelBatches.map(_.filter(l => maxOcc(l) / SampleFraction <= TargetMaxPerCell))
      .find(_.nonEmpty) match {
      case None => Cells.MaxLevel
      case Some(eligible) =>
        // MaxLevel cells are finer than the 1-mdeg quantum: one occupied
        // cell per distinct point
        byLevel.get(Cells.MaxLevel).filter(_.getLong(2) >= 2) match {
          case None => eligible.head
          case Some(d) =>
            val nDedup = d.getLong(2) / SampleFraction
            val areaDeg = math.max(1e-9, d.getDouble(3) / 1000.0 * d.getDouble(4) / 1000.0)
            val rk = math.sqrt(k * areaDeg / (math.Pi * nDedup))
            eligible.filter(level => 180.0 / (1L << level) >= rk).lastOption
              .getOrElse(eligible.head)
        }
    }
  }

  /** [[knn]] with a density-auto-picked level ([[pickLevel]]). The level
    * does not affect the (exact) result set, only the join's cost —
    * BENCH.md measured 4.5× at 600k skewed points hanging on this choice, so
    * entry points must never hardcode it.
    */
  def knnAuto(spark: SparkSession, queries: DataFrame, points: DataFrame,
              qId: String, pId: String, k: Int): DataFrame =
    knn(spark, queries, points, qId, pId, k, pickLevel(points, k))

  /** Squared lon-wrapped millidegree distance as a column expression. */
  def dist2(lonm1: Column, latm1: Column, lonm2: Column, latm2: Column): Column = {
    val adlon = abs(lonm1 - lonm2)
    val dlon = least(adlon, lit(360000L) - adlon)
    val dlat = latm1 - latm2
    dlon * dlon + dlat * dlat
  }

  /** kNN of `queries` against `points`, both (id, lonm, latm) in integer
    * millidegrees. Self-join when `queries eq points` (self matches with
    * identical id are excluded — ONLY in self-join mode, so a non-self join
    * keeps a point whose id happens to equal the query's). A repeated row
    * (same id and coordinates) counts once, as a query and as a neighbor.
    * Returns (query_id, neighbor_id, dist2, rn) with rn ∈ [1, k]. Builds
    * the plan without running a Spark job.
    */
  def knn(spark: SparkSession, queries: DataFrame, points: DataFrame,
          qId: String, pId: String, k: Int, level: Int): DataFrame = {
    val selfJoin = queries eq points
    // exclude self-matches only when joining a set against itself. Null-safe:
    // a plain `=!=` lets the optimizer infer isnotnull(query_id) into the
    // brute pass's copy of the passes, which then no longer reuses the
    // passes' exchanges and computes them all a second time
    val notSelf = if (selfJoin) !(col("query_id") <=> col("neighbor_id")) else lit(true)
    val pts = points
      .select(col(pId).as("neighbor_id"), col("lonm").as("p_lonm"), col("latm").as("p_latm"))
    val d2 = dist2(col("q_lonm"), col("q_latm"), col("p_lonm"), col("p_latm")).as("d2")
    val cellPts = pts.withColumn("__pcell", cell_at(col("p_lonm") / 1000.0, col("p_latm") / 1000.0, level))

    val cellH = 180000L >> level // cell height in millidegrees (lat axis), rounded down
    // Radius cap: ring_range wraps longitude mod n, so rings with R >= n/2
    // emit cells whose wrapped identity equals a cell from an earlier slab —
    // the same candidate would join twice and take two ranks. Capping at
    // n/2 - 1 keeps every (dx, dy) offset bijective with a wrapped cell;
    // queries still unfinished at the cap end in the brute pass.
    val maxR = math.max(1, (Cells.cellsPerAxis(level) / 2 - 1).toInt)
    val r = col("__r")
    val dk = get(col("__best"), lit(k - 1)).getField("_1")
    def bound(radius: Column): Column = {
      val reach = radius.cast("long") * cellH
      reach * reach
    }
    val finished = size(col("__best")) >= k && dk <= bound(r)
    // smallest R with (R·cellH)² ≥ d_k: the double estimate, then one exact
    // integer step each way (null below k candidates, and at levels where
    // cellH rounds to 0 and no radius bounds d_k)
    val rNeed =
      if (cellH == 0) lit(null).cast("int")
      else {
        val est = ceil(sqrt(dk.cast("double")) / cellH).cast("int")
        when(bound(est - 1) >= dk, est - 1).when(bound(est) < dk, est + 1).otherwise(est)
      }

    // pass state: one row per query, carrying its entries and radius
    val keys = Seq("query_id", "q_lonm", "q_latm", "__qcell", "__r", "__best")
    val start = queries
      .select(col(qId).as("query_id"), col("lonm").as("q_lonm"), col("latm").as("q_latm"))
      .withColumn("__qcell", cell_at(col("q_lonm") / 1000.0, col("q_latm") / 1000.0, level))
      .withColumn("__r", lit(-1))
      .withColumn("__best", array().cast("array<struct<_1:bigint,_2:bigint>>"))
    val searched = (1 to Passes).foldLeft(start) { (state, pass) =>
      val next = if (pass == 1) lit(1) else when(finished, r).otherwise(least(r * 4, lit(maxR), rNeed))
      // left join: an unmatched probe cell adds no row, except that a query
      // keeps its first cell's row (or its empty slab's, once finished), with
      // distance -1 (no entry, see TopKAgg), so it survives a pass without
      // candidates
      val cands = state
        .withColumn("__lo", r).withColumn("__r", next)
        .select(col("*"), posexplode_outer(ring_range(col("__qcell"), col("__lo"), r)).as(Seq("__i", "__cell")))
        .join(cellPts, col("__cell") === col("__pcell") && notSelf, "left_outer")
        .filter(col("__pcell").isNotNull || coalesce(col("__i"), lit(0)) === 0)
        .select(keys.map(col) ++ Seq(coalesce(col("neighbor_id"), lit(-1L)).as("neighbor_id"),
          coalesce(d2, lit(-1L)).as("d2")): _*)
      TopK.best(spark, cands, keys, k)
        .withColumn("__best", slice(sort_array(concat(col("__best"), col("__topk"))), 1, k))
        .drop("__topk")
    }
    val stragglers = searched.filter(!finished).select("query_id", "q_lonm", "q_latm")
    // Exact brute pass of the stragglers against all points: broadcast the
    // query side, cross-join, bounded-heap top-k (k rows per query per
    // partition are shuffled, not the candidate set).
    val brute = TopK.best(spark, broadcast(stragglers).crossJoin(pts).filter(notSelf)
      .select(col("query_id"), col("q_lonm"), col("q_latm"), col("neighbor_id"), d2),
      Seq("query_id", "q_lonm", "q_latm"), k)
    TopK.ranked(searched.filter(finished), Seq("query_id"), col("__best"))
      .unionByName(TopK.ranked(brute, Seq("query_id"), col("__topk")))
      .select(col("query_id"), col("neighbor_id"), col("d2").as("dist2"), col("rn"))
  }
}
