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
  * The general join is not built here: every [[graft.Session]] carries the
  * [[org.apache.spark.sql.graft.PipJoinRewrite]] rule, which plans any
  * `st_contains` theta join in that shape and lets Catalyst broadcast the
  * polygon side or shuffle both sides on the cell id by size (AQE
  * skew-splits hot cells on the shuffle path). [[shelve]] is the one
  * hand-built operator, because the exactly-one rule needs its zero-shuffle
  * per-cell form.
  */
object PipJoin {

  /** The shelve's cover level: cells are 360/2^8 ≈ 1.4 degrees wide. */
  private val ShelveLevel = 8

  /** [[pickCoverLevel]]'s bound on the median polygon's cover-cell count. */
  private val TargetCellsPerPoly = 24.0

  /** The finest level [[pickCoverLevel]] picks. */
  private val LevelCap = 14

  /** Choose a cover level from the POLYGON side's extent statistics — the
    * [[graft.ops.KnnJoin.pickLevel]] pattern applied to the J2 shape. A fixed
    * level is wrong at both ends: too coarse and every polygon collapses into
    * a handful of cells (fat candidate arrays, the exact ray-cast runs for
    * most points); too fine and each polygon explodes into thousands of
    * cover cells (the broadcast map and the cover compute grow with
    * perimeter/cellWidth). The estimate `(w/cellW + 2)·(h/cellH + 2)` is the
    * axis-aligned cover-cell count of the MEDIAN polygon bbox; the finest
    * level keeping it ≤ `TargetCellsPerPoly` bounds the per-polygon explode
    * while maximizing cell selectivity (interior fast-path fraction grows
    * with level). One narrow aggregation over the polygon side (the
    * dim-table side — at 100 TB this is thousands of rows, not the corpus),
    * driver-side closed-form pick, no sampling needed.
    */
  def pickCoverLevel(polys: DataFrame, ring: String): Int = {
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
    (0 to LevelCap).reverse.find { l =>
      val cw = 360.0 / (1L << l)
      val ch = 180.0 / (1L << l)
      (mw / cw + 2.0) * (mh / ch + 2.0) <= TargetCellsPerPoly
    }.getOrElse(0)
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
    * The per-cell side is broadcast by hint: Catalyst estimates it above the
    * default broadcast threshold (about 16 MB for the 282 tiles of
    * [[graft.pages.Pages.tiles]]), and without the hint plans a sort-merge
    * join.
    *
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
             observer: Option[Observation] = None): DataFrame = {
    val covered = polys
      .select(col(polyId), col(ring).as("__ring"))
      .withColumn("__cov", explode(CellExpressions.cover_cells(col("__ring"), ShelveLevel)))
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
      CellExpressions.cell_at(col(lon), col(lat), ShelveLevel))
    // LEFT join: points whose cell holds no candidate tile at all must still
    // reach the metrics pass (they are 0-match skips in the reference)
    val joined = pts.join(broadcast(byCell2), Seq("__cell"), "left")
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
