package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CellExpressions

/** Cell-partitioned point-in-polygon join.
  *
  * Semantics reproduce the reference's shelve join J2
  * (/root/reference/lib/utils.py:676-702): each point is probed against the
  * tile polygons; exactly one intersecting tile ⇒ assign, zero or more than
  * one ⇒ the point is skipped (dropped, with a counted metric).
  *
  * Scale design (SURVEY.md §4 item 1): the theta join
  * `points JOIN polys ON ST_Contains(poly, pt)` is rewritten into an
  * **equi-join on covering cell id**:
  *
  *   polys  → explode(coverCells(poly, level))  [cell_id, interior, poly]
  *   points → cellAt(pt, level)                 [cell_id, pt]
  *   join on cell_id; refine with the exact ray-cast PIP only for boundary
  *   cells (interior=true cells skip the test entirely — the fast path).
  *
  * The polygon side is tiny relative to the point side (dimension table), so
  * Catalyst broadcasts it; at 100 TB the point side never shuffles — the join
  * is a broadcast hash join on a long key, and hot cells cannot skew it
  * because nothing is re-partitioned by cell. If the polygon side ever grows
  * past broadcast size, the same frame shuffles both sides on cell_id and AQE
  * skew-split handles hot cells (enabled in [[graft.Session]]).
  */
object PipJoin {

  /** Ray-cast PIP on a flat-ring column (x0,y0,x1,...). Boundary = inside.
    * Codegen-fused Catalyst expression (org.apache.spark.sql.graft). */
  def pipContains(ring: Column, px: Column, py: Column): Column =
    CellExpressions.st_contains(ring, px, py)

  /** Cover cells of a ring at a level as a codegen expression — ONE
    * implementation of the cover math for both the library operators below
    * and the [[org.apache.spark.sql.graft.PipJoinRewrite]] rule (round 6:
    * replaced the Scala `coverUdf` that drifted alongside it; PlanSpec
    * asserts the shelve plan is UDF-free). */
  private def coverCol(ring: Column, level: Int): Column =
    CellExpressions.cover_cells(ring, level)

  /** Choose a cover level from the POLYGON side's extent statistics — the
    * [[graft.ops.KnnJoin.pickLevel]] pattern applied to the J2 shape. A fixed
    * level is wrong at both ends: too coarse and every polygon collapses into
    * a handful of cells (fat candidate arrays, the exact ray-cast runs for
    * most points); too fine and each polygon explodes into thousands of
    * cover cells (the broadcast map and the cover compute grow with
    * perimeter/cellWidth). The estimate `(w/cellW + 2)·(h/cellH + 2)` is the
    * axis-aligned cover-cell count of the MEDIAN polygon bbox; the finest
    * level keeping it ≤ `targetCellsPerPoly` bounds the per-polygon explode
    * while maximizing cell selectivity (interior fast-path fraction grows
    * with level). One narrow aggregation over the polygon side (the
    * dim-table side — at 100 TB this is thousands of rows, not the corpus),
    * driver-side closed-form pick, no sampling needed.
    */
  def pickCoverLevel(polys: DataFrame, ring: String,
                     targetCellsPerPoly: Double = 24.0,
                     levelCap: Int = 14): Int = {
    val xs = filter(col(ring), (_: Column, i: Column) => i % lit(2) === lit(0))
    val ys = filter(col(ring), (_: Column, i: Column) => i % lit(2) === lit(1))
    val r = polys
      .where(size(col(ring)) >= 6) // degenerate rings carry no extent signal
      .agg(
        percentile_approx((array_max(xs) - array_min(xs)).cast("double"),
          lit(0.5), lit(10000)).as("w"),
        percentile_approx((array_max(ys) - array_min(ys)).cast("double"),
          lit(0.5), lit(10000)).as("h"))
      .head()
    if (r.isNullAt(0) || r.isNullAt(1)) return 6 // no polygons: default
    val (mw, mh) = (r.getDouble(0), r.getDouble(1))
    // cover count grows monotonically with level — finest level within target
    (0 to levelCap).reverse.find { l =>
      val cw = 360.0 / (1L << l)
      val ch = 180.0 / (1L << l)
      (mw / cw + 2.0) * (mh / ch + 2.0) <= targetCellsPerPoly
    }.getOrElse(0)
  }

  /** Join points (pointId, lon, lat) to polygons (polyId, ring) where the
    * point lies in the polygon. Returns all (pointId, polyId) matches.
    *
    * @param level cover level; cells ≈ 360/2^level degrees wide
    *   ([[pickCoverLevel]] derives one from polygon extent stats).
    * @param broadcastPolys true forces a broadcast of the polygon side;
    *   false lets Catalyst decide.
    */
  def join(points: DataFrame, polys: DataFrame,
           pointId: String, lon: String, lat: String,
           polyId: String, ring: String,
           level: Int = 6,
           broadcastPolys: Boolean = true): DataFrame = {
    val covered = polys
      .select(col(polyId), col(ring).as("__ring"))
      .withColumn("__cov", explode(coverCol(col("__ring"), level)))
      .select(col(polyId), col("__ring"),
        col("__cov.cell").as("__cell"), col("__cov.interior").as("__interior"))
    val polySide = if (broadcastPolys) broadcast(covered) else covered
    val pts = points.withColumn("__cell",
      CellExpressions.cell_at(col(lon), col(lat), level))
    pts.join(polySide, "__cell")
      .filter(col("__interior") || pipContains(col("__ring"), col(lon), col(lat)))
      .drop("__cell", "__interior", "__ring")
  }

  /** The J2 shelve rule: keep only points with exactly one matching polygon
    * (0 or >1 ⇒ skip, /root/reference/lib/utils.py:694-702). Output: one row
    * per shelved point with its tile in `polyId`.
    *
    * Zero-shuffle formulation: candidate tiles are grouped BY CELL on the
    * broadcast side (cell → array of (tile, ring, interior)), so each point
    * joins exactly one broadcast row and the match count + exactly-one rule
    * evaluate inside the map stage. The alternative (explode matches +
    * window count over pointId) shuffles every matched row — measured ~4.6 s
    * of non-scaling shuffle IO at 77M rows; this form shuffles nothing.
    *
    * @param broadcastCells false ⇒ shuffle fallback: when the per-cell
    *   candidate table outgrows broadcast (a planet-wide fine-level tile set),
    *   both sides hash-shuffle on the long cell id instead — the exactly-one
    *   pick still runs map-side after the join, and AQE skew-split covers hot
    *   cells. Same output, one extra exchange of the point keys.
    * @param observer optional [[Observation]] receiving the J2 skip metrics
    *   (`skip_nomatch`, `skip_multi`, `n_shelved` — the reference warns and
    *   counts both skip classes, lib/utils.py:694-702). Without it the same
    *   metrics are still observed under the name `shelve_metrics_<polyId>`
    *   (readable via a QueryExecutionListener); pass an observer explicitly
    *   when composing two shelves over the same polyId column in one query.
    */
  def shelve(points: DataFrame, polys: DataFrame,
             pointId: String, lon: String, lat: String,
             polyId: String, ring: String,
             level: Int = 8, broadcastCells: Boolean = true,
             observer: Option[Observation] = None): DataFrame = {
    val covered = polys
      .select(col(polyId), col(ring).as("__ring"))
      .withColumn("__cov", explode(coverCol(col("__ring"), level)))
      .select(col(polyId), col("__ring"),
        col("__cov.cell").as("__cell"), col("__cov.interior").as("__interior"))
    val byCell = covered.groupBy("__cell")
      .agg(collect_list(struct(col(polyId).as("pid"), col("__ring").as("ring"),
        col("__interior").as("interior"))).as("__cands"))
      .cache()
    // fast path: a cell wholly inside exactly one tile resolves via a narrow
    // string column (no ring payload in the join row); only boundary/overlap
    // cells (a perimeter-fraction minority) carry the candidate array into
    // the one-pass exactly-one pick. Single join, single source pass.
    val isFast = size(col("__cands")) === 1 && col("__cands").getItem(0).getField("interior")
    val byCell2 = byCell.select(col("__cell"),
      when(isFast, col("__cands").getItem(0).getField("pid")).as("__fastpid"),
      when(!isFast, col("__cands")).as("__slowcands"))
    val pts = points.withColumn("__cell",
      CellExpressions.cell_at(col(lon), col(lat), level))
    val cellSide = if (broadcastCells) broadcast(byCell2)
                   else byCell2.hint("shuffle_hash")
    // LEFT join: points whose cell holds no candidate tile at all must still
    // reach the metrics pass (they are 0-match skips in the reference)
    val joined = pts.join(cellSide, Seq("__cell"), "left")
    // Single-evaluation pick: ONE kernel call per row computes
    // (pid-if-exactly-one, match count) as a struct in its own projection.
    // The CollectMetrics (observe) node directly above is a pushdown barrier:
    // without it Catalyst inlines the pick into the join-condition null
    // filter AND the output project, and Filter codegen has no subexpression
    // elimination — round 2 measured the ray-cast running twice per
    // boundary-cell row (PLANS.md q_pip_shelve). PlanSpec asserts exactly one
    // `shelvepickn` call site survives in the physical plan.
    val pick = col("__pick")
    val nMatches = when(col("__fastpid").isNotNull, lit(1))
      .otherwise(coalesce(pick.getField("n"), lit(0)))
    val pickedPid = coalesce(col("__fastpid"), pick.getField("pid"))
    val projected = joined.withColumn("__pick",
      CellExpressions.shelve_pick_n(col("__slowcands"), col(lon), col(lat)))
    val metrics = Seq(
      sum(when(nMatches === 0, 1L).otherwise(0L)).as("skip_nomatch"),
      sum(when(nMatches > 1, 1L).otherwise(0L)).as("skip_multi"),
      sum(when(pickedPid.isNotNull, 1L).otherwise(0L)).as("n_shelved"))
    val observed = observer match {
      case Some(obs) => projected.observe(obs, metrics.head, metrics.tail: _*)
      case None => projected.observe(s"shelve_metrics_$polyId", metrics.head, metrics.tail: _*)
    }
    observed
      .withColumn(polyId, pickedPid)
      .filter(col(polyId).isNotNull)
      .drop("__cell", "__fastpid", "__slowcands", "__pick")
  }

  /** Rectangle ring column builder (x0,y0)-(x1,y1) as a flat ring. */
  def rectRing(x0: Column, y0: Column, x1: Column, y1: Column): Column =
    array(x0, y0, x1, y0, x1, y1, x0, y1)
}
