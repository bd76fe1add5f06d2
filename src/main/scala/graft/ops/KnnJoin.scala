package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cells.Cells

/** Exact k-nearest-neighbor self/join via expanding cell-ring search
  * (the graft operator of BASELINE.json north_star; reference precedent is
  * the single-cell centroid lookup of /root/reference/lib/utils.py:676-702).
  *
  * Distance: squared euclidean in integer millidegrees with longitude wrap
  * (`dlon = min(|Δ|, 360000-|Δ|)`), exact 64-bit integer math so the DuckDB
  * oracle reproduces results bit-for-bit. Ties break on neighbor id.
  *
  * Algorithm (distributed, driver only steers the ring radius):
  *   1. Both sides are bucketed to quadkey cells at `level`.
  *   2. Round r: each *unsatisfied* query explodes to its ring-r cells
  *      (disk for r=1) and equi-joins candidate points on cell id — the theta
  *      join never materializes; everything is a hash join on a long key.
  *   3. Per query keep the best k seen so far (window top-k).
  *   4. A query finishes when it has ≥ k candidates AND its k-th distance is
  *      ≤ (r · cellHeight)² — points in any unexplored cell (Chebyshev cell
  *      distance > r) are at least r·cellHeight away, so no better neighbor
  *      exists outside the searched disk.
  *   5. Only unfinished queries escalate to r+1: the expensive side shrinks
  *      geometrically each round (dense cells finish at r=1).
  *
  * At 100 TB: each round is one shuffle of the *remaining* queries keyed by
  * cell; candidates are co-partitioned by the same key. Hot cells satisfy k
  * in the first round (dense ⇒ near neighbors), so skew self-heals; AQE
  * skew-split covers the residue.
  */
object KnnJoin {

  /** Pair budget for the up-front self-join brute short-circuit in [[knn]]
    * (see the comment at its use site — NOT the in-loop bruteThreshold). */
  val UpfrontBrutePairs = 4000000L

  /** Cells with Chebyshev distance in (lo, hi] of the given cell — the slab
    * explored in one round under geometric radius escalation (distinct as a
    * belt-and-braces guard; the radius cap in [[knn]] already prevents
    * wrapped-cell collisions). A codegen kernel expression
    * ([[org.apache.spark.sql.graft.CellExpressions.ring_range]]), not a
    * Scala UDF — this was the last UDF on a per-row loop path (evaluated for
    * every remaining query every round). */
  private def ringRangeCol(cell: org.apache.spark.sql.Column,
                           lo: org.apache.spark.sql.Column,
                           hi: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.CellExpressions.ring_range(cell, lo, hi)

  /** Density-driven cell-level selection. The ring search is level-sensitive
    * in BOTH directions:
    *   - too coarse and the hot cluster's home cell makes round 1 quadratic
    *     in the cluster (round-1 pairs for a cell ≈ 9·occ², measured at 600k
    *     points with the 20%-hot-cell fixture: level 10 = 483 s, level 12 =
    *     108 s — level-12 max occupancy is ~900, level-10 is ~15 000);
    *   - too fine and the ring-1 disk radius (one cell height) drops below
    *     the typical k-NN radius, so most queries fail the round-1
    *     termination bound and every extra escalation round pays a fixed
    *     window + checkpoint cost (measured at 5 000 worldwide docs:
    *     level 4 = 4-5 s, level 6 = 19 s, level 8 = 21-27 s).
    * Two-sided heuristic over one sample:
    *   1. ELIGIBLE = levels whose MAX occupied-cell count (scaled back up by
    *      the sample fraction) ≤ `targetMaxPerCell` — kills the quadratic
    *      blowup. The max, not a percentile: a 1-2-cell hotspot is invisible
    *      to percentile stats over thousands of cells. Duplicated/co-located
    *      points count here deliberately (they create occ² pairs all the
    *      same). Cap 1024 keeps the hot-cell term at ≈ 9·1024² ≈ 9M pairs —
    *      trivial for the codegen equi-join.
    *   2. Among eligible, pick the FINEST level whose cell height still
    *      covers the typical k-NN radius — finer shrinks the window-sorted
    *      round-1 pair volume, but once cellH < r_k most queries fail the
    *      round-1 termination bound and every escalation round pays its
    *      fixed cost. r_k is the uniform-density estimate
    *      sqrt(k·bboxArea/(π·N)) over the DEDUPLICATED sample (co-located
    *      duplicates satisfy their own kNN at distance 0 and must not count
    *      toward the spread points' density). None covers r_k ⇒ coarsest
    *      eligible (the skewed case: eligibility forces fine levels and
    *      extra rounds are the cheaper evil). No eligible level ⇒ finest
    *      candidate.
    * Driver-side decision from one cheap aggregation per candidate level
    * (same pattern as SkewJoin.hotKeys; at 100 TB use table statistics).
    */
  def pickLevel(points: DataFrame, lonmCol: String = "lonm", latmCol: String = "latm",
                k: Int = 5, targetMaxPerCell: Int = 1024,
                sampleFraction: Double = 0.05,
                candidates: Seq[Int] = Seq(2, 4, 6, 8, 10, 12, 14)): Int = {
    // seeded: an unseeded sample can flip the pick between two invocations
    // of the same query (e.g. Bench's warmup vs timed pass), changing the
    // compiled plan shape and re-charging one-time codegen to the timed run
    val s = points.sample(sampleFraction, seed = 42L)
      .select(col(lonmCol).as("lonm"), col(latmCol).as("latm"))
      .localCheckpoint()
    try {
    // ONE pass for a batch of candidate levels: explode (level, cell) pairs,
    // two shuffles total — not one sequential driver-blocking job per level
    def measureMaxOcc(levels: Seq[Int]): Map[Int, Long] = {
      val lvlArr = array(levels.map(l =>
        org.apache.spark.sql.graft.CellExpressions
          .cell_at(col("lonm") / 1000.0, col("latm") / 1000.0, l)): _*)
      s.select(posexplode(lvlArr).as(Seq("li", "cell")))
        .groupBy("li", "cell").count()
        .groupBy("li").agg(max("count").as("m"))
        .collect()
        .map(r => levels(r.getInt(0)) -> r.getLong(1)).toMap
    }
    // an empty sample (tiny input × small fraction) yields no rows: nothing
    // measured ⇒ every level is eligible, r_k is unknowable ⇒ the coarsest
    // candidate wins below
    var probed = candidates
    var occByLevel = measureMaxOcc(probed)
    def eligibleOf(ls: Seq[Int]): Seq[Int] = ls
      .map(l => l -> occByLevel.getOrElse(l, 0L) / sampleFraction)
      .filter(_._2 <= targetMaxPerCell).map(_._1)
    var eligible = eligibleOf(probed)
    // DERIVE the ladder from the density instead of stopping at a fixed
    // ceiling: at the 10^12-row design point a hot cluster can make every
    // level ≤ 14 ineligible, and falling back to the finest FIXED candidate
    // re-introduces the quadratic hot-cell round the heuristic exists to
    // kill. Keep probing finer levels (4 per extra pass — max occupancy can
    // only shrink with level, so each pass either finds an eligible level or
    // rules out 4 more) until one fits or the id space runs out; co-located
    // duplicate points put a floor under max occupancy, so Cells.MaxLevel is
    // the hard stop (the in-loop brute short-circuit absorbs that case).
    while (eligible.isEmpty && probed.last < Cells.MaxLevel) {
      val stepped = (probed.last + 2) to math.min(probed.last + 8, Cells.MaxLevel) by 2
      // a caller-supplied odd-parity ladder would make the step-2 range
      // empty one short of MaxLevel — always advance, or the loop never exits
      val next: Seq[Int] = if (stepped.nonEmpty) stepped else Seq(Cells.MaxLevel)
      occByLevel ++= measureMaxOcc(next)
      probed = probed ++ next
      eligible = eligibleOf(next)
    }
    if (eligible.isEmpty) return probed.last
    // typical k-NN radius from deduplicated sample density over its bbox
    val d = s.distinct().agg(count(lit(1)),
      (max(col("lonm")) - min(col("lonm"))).cast("double"),
      (max(col("latm")) - min(col("latm"))).cast("double")).head()
    val nDedup = d.getLong(0) / sampleFraction
    if (d.getLong(0) < 2) return eligible.head
    val areaDeg = math.max(1e-9, d.getDouble(1) / 1000.0 * d.getDouble(2) / 1000.0)
    val rk = math.sqrt(k * areaDeg / (math.Pi * nDedup))
    eligible.filter(level => 180.0 / (1L << level) >= rk).lastOption
      .getOrElse(eligible.head)
    // free the sample's checkpoint blocks: a long-running driver probing the
    // level repeatedly (e.g. the knn job in a scheduler loop) must not
    // accumulate them until GC
    } finally graft.Session.freeLocalCheckpoint(s)
  }

  /** [[knn]] with a density-auto-picked level ([[pickLevel]]). The level
    * does not affect the (exact) result set, only the join's cost —
    * BENCH.md measured 4.5× at 600k skewed points hanging on this choice, so
    * entry points must never hardcode it.
    */
  def knnAuto(spark: SparkSession, queries: DataFrame, points: DataFrame,
              qId: String, pId: String, k: Int): DataFrame =
    // by-name into knn: the level (and the pickLevel sampling pass behind
    // it) is only paid when the ring machinery actually runs — the up-front
    // self-join brute short-circuit inside knn skips it entirely
    knn(spark, queries, points, qId, pId, k, pickLevel(points, k = k))

  /** Squared lon-wrapped millidegree distance as a column expression. */
  def dist2(lonm1: org.apache.spark.sql.Column, latm1: org.apache.spark.sql.Column,
            lonm2: org.apache.spark.sql.Column, latm2: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val adlon = abs(lonm1 - lonm2)
    val dlon = least(adlon, lit(360000L) - adlon)
    val dlat = latm1 - latm2
    dlon * dlon + dlat * dlat
  }

  /** kNN of `queries` against `points`, both (id, lonm, latm) in integer
    * millidegrees. Self-join when `queries eq points` (self matches with
    * identical id are excluded — ONLY in self-join mode, so a non-self join
    * keeps a point whose id happens to equal the query's). Returns
    * (query_id, neighbor_id, dist2, rn) with rn ∈ [1, k].
    *
    * `bruteThreshold`: when remaining_queries × points drops below it, stop
    * escalating and finish the stragglers with the exact brute pass (the
    * fixed per-round cost exceeds the brute cost). Tests set 0 to force
    * late ring rounds.
    */
  def knn(spark: SparkSession, queries: DataFrame, points: DataFrame,
          qId: String, pId: String, k: Int, level: => Int = 6,
          maxRounds: Int = 3, bruteThreshold: Long = 50000000L): DataFrame = {
    val selfJoin = queries eq points
    // exclude self-matches only when joining a set against itself
    def notSelf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (selfJoin) c else lit(true)

    val pts0 = points
      .select(col(pId).as("neighbor_id"), col("lonm").as("p_lonm"), col("latm").as("p_latm"))
      .cache()
    val nPts = pts0.count() // materialize once; probed every round

    // Exact brute pass of (query_id, q_lonm, q_latm) queries against all
    // points: broadcast the query side, cross-join, bounded-heap top-k (k
    // rows per query per partition are shuffled, not the candidate set).
    def brute(qs: DataFrame): DataFrame = TopK.topK(spark,
      broadcast(qs).crossJoin(pts0)
        .filter(notSelf(col("query_id") =!= col("neighbor_id")))
        .select(col("query_id"), col("neighbor_id"),
          dist2(col("q_lonm"), col("q_latm"), col("p_lonm"), col("p_latm")).as("d2")), k)

    // Up-front brute short-circuit for the SELF-join (round 6): |Q| = |P| is
    // known from the one count just paid, so for a small-enough |P|² the
    // ring machinery — level sampling, per-round checkpoints and counts, ~7
    // sequential driver jobs (~2-3 s of fixed cost) — costs more than the
    // single broadcast-brute pass. The pair budget here is DELIBERATELY
    // tighter than the in-loop bruteThreshold: in-loop, a brute pass
    // competes against MORE ring rounds for an already-shrunken straggler
    // set (50M pairs beats a round's fixed cost); up-front it competes
    // against the rings resolving the dense mass cheaply — measured at 5000
    // self-joined points, a 25M-pair brute aggregate took ~10× the ring
    // search. ~4M pairs ≈ the rings' fixed driver-job cost. Same exact
    // result (the brute pass IS the oracle's window form); non-self joins
    // (|Q| unknown without an extra action) are untouched. Guarded against
    // |P|² overflow.
    if (selfJoin && nPts > 0 &&
        nPts <= math.min(bruteThreshold, UpfrontBrutePairs) / nPts)
      return brute(pts0.select(col("neighbor_id").as("query_id"),
          col("p_lonm").as("q_lonm"), col("p_latm").as("q_latm")))
        .select(col("query_id"), col("neighbor_id"), col("d2").as("dist2"), col("rn"))

    val lvl = level // force the by-name pick once: the rings need it
    val cellH = 180000L >> lvl // cell height in millidegrees (lat axis)
    val pts = pts0
      .withColumn("__pcell", org.apache.spark.sql.graft.CellExpressions.cell_at(col("p_lonm") / 1000.0, col("p_latm") / 1000.0, lvl))

    var remaining = queries
      .select(col(qId).as("query_id"), col("lonm").as("q_lonm"), col("latm").as("q_latm"))
      .withColumn("__qcell", org.apache.spark.sql.graft.CellExpressions.cell_at(col("q_lonm") / 1000.0, col("q_latm") / 1000.0, lvl))
    val finishedParts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var carry: DataFrame = null // best-k-so-far of unfinished queries
    // geometric radius escalation (x4): the explored disk radius grows
    // 1 -> 4 -> 16 -> ..., so sparse regions converge in O(log4 gridSize)
    // driver rounds; queries that exhaust the round budget fall through to
    // an exact brute-force pass (rare stragglers only).
    // Radius cap: ringK wraps longitude mod n, so rings with k >= n/2 emit
    // cells whose wrapped identity equals a cell from an earlier/same slab —
    // the same candidate would join twice and row_number would assign two
    // ranks to one neighbor. Capping at n/2 - 1 keeps every (dx, dy) offset
    // bijective with a wrapped cell; queries still unfinished at the cap go
    // to the exact brute pass.
    val maxR = math.max(1, (Cells.cellsPerAxis(lvl) / 2 - 1).toInt)
    var prevR = -1 // round 1 explores the home cell plus ring 1
    var r = 1
    var rounds = 0
    var done = false

    while (!done && rounds < maxRounds) {
      val probes = remaining.withColumn("__cell",
        explode(ringRangeCol(col("__qcell"), lit(prevR), lit(r))))
      val fresh = probes.join(pts, col("__cell") === col("__pcell"))
        .filter(notSelf(col("query_id") =!= col("neighbor_id")))
        .select(col("query_id"), col("q_lonm"), col("q_latm"), col("__qcell"),
          col("neighbor_id"),
          dist2(col("q_lonm"), col("q_latm"), col("p_lonm"), col("p_latm")).as("d2"))
      val cand0 = if (carry == null) fresh else carry.unionByName(fresh)
      // best-k-so-far via the bounded-heap TopK aggregator, NOT a window:
      // the window form sorts every candidate row per partition and shuffles
      // the whole candidate set; the aggregator keeps k entries per query
      // per partition, combines map-side, and shuffles k·queries rows. The
      // query coords/cell ride in the grouping key, and the termination
      // bound — k candidates found AND k-th distance within the guaranteed-
      // searched radius (points in any unexplored cell are at least r·cellH
      // away) — falls out of the aggregated entries (sorted ascending, so
      // last = k-th distance), replacing two more per-query windows.
      val boundVal = (r * cellH) * (r * cellH)
      val kk = k
      import spark.implicits._
      // untyped UDAF binding of the bounded-heap aggregator (round 6, same
      // move as TopK.topK): the typed groupByKey form paid two AppendColumns
      // object conversions per candidate row; here rows stay in Tungsten
      // format and the per-entry ranks + termination flag come from codegen
      // posexplode/array ops (entries are sorted ascending, so the last
      // element IS the k-th distance).
      val topkF = udaf(new TopK.TopKAgg(kk))
      val flagged = cand0
        .groupBy("query_id", "q_lonm", "q_latm", "__qcell")
        .agg(topkF(col("d2"), col("neighbor_id")).as("__topk"))
        .withColumn("__done", size(col("__topk")) >= kk &&
          element_at(col("__topk"), size(col("__topk"))).getField("_1") <= boundVal)
        .select(col("query_id"), col("q_lonm"), col("q_latm"), col("__qcell"),
          posexplode(col("__topk")), col("__done"))
        .select(col("query_id"), col("q_lonm"), col("q_latm"), col("__qcell"),
          col("col._2").as("neighbor_id"), col("col._1").as("d2"),
          (col("pos") + 1).as("rn"), col("__done"))
        .localCheckpoint() // one job; truncates the per-round lineage
      finishedParts += flagged.filter(col("__done"))
        .select("query_id", "neighbor_id", "d2", "rn")
      val unfinished = flagged.filter(!col("__done"))
      val unfinishedQ = unfinished
        .select("query_id", "q_lonm", "q_latm", "__qcell").distinct()
      // also keep queries that found NO candidate at all this round
      val orphanQ = remaining.join(flagged.select("query_id").distinct(),
        Seq("query_id"), "left_anti")
      val nextQ = unfinishedQ.unionByName(orphanQ).localCheckpoint()
      val nLeft = nextQ.count()
      if (nLeft == 0) done = true
      else {
        remaining = nextQ
        carry = unfinished
          .select("query_id", "q_lonm", "q_latm", "__qcell", "neighbor_id", "d2")
        // short-circuit: when the brute pass over the stragglers costs less
        // than another ring round's fixed overhead, stop escalating; also
        // stop once the radius cap is reached (no further ring can help)
        if (nLeft * nPts <= bruteThreshold || r >= maxR) rounds = maxRounds
      }
      prevR = r
      r = math.min(r * 4, maxR)
      rounds += 1
    }
    // stragglers: the exact brute pass over the few queries left
    if (!done) finishedParts += brute(remaining.select("query_id", "q_lonm", "q_latm"))
    finishedParts.reduce(_ unionByName _)
      .select(col("query_id"), col("neighbor_id"), col("d2").as("dist2"), col("rn"))
  }
}
