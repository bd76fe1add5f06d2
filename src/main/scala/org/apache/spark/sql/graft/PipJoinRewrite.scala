package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst optimizer rule: rewrite a point-in-polygon THETA join into the
  * cell-partitioned EQUI join (the plan-level promotion of SURVEY.md §4
  * item 1, reference semantics /root/reference/lib/utils.py:676-702).
  *
  * {{{
  * SELECT ... FROM points p JOIN polys t ON graft_st_contains(t.ring, p.lon, p.lat)
  * }}}
  *
  * planned naively is a BroadcastNestedLoopJoin / CartesianProduct — every
  * point against every polygon, O(|P|·|T|) exact ray casts. The rule rewrites
  * to:
  *
  * {{{
  * points + cell_at(lon, lat, L)
  *   ⋈ (polys + explode(cover_cells(ring, L)) → (cell, interior))  ON cell
  * filtered by (interior OR st_contains(ring, lon, lat))
  * }}}
  *
  * — a hash equi-join on a long key with the interior-cell fast path.
  * Catalyst then broadcasts the polygon side or shuffles both sides on the
  * cell id, by size. Every [[graft.Session]] carries this rule through
  * [[GraftExtensions]], so it is graft's one general PIP join; only the
  * exactly-one shelve ([[graft.ops.PipJoin.shelve]]) is built by hand. Each
  * polygon lists each cover cell once and each point has one cell, so no
  * duplicate (point, polygon) pairs arise and results are exactly the theta
  * join's.
  *
  * Join types: INNER rewrites for either operand order. LEFT OUTER rewrites
  * when the PRESERVED side is the point side (ring from the right child) —
  * the J2 shelve shape `points LEFT JOIN tiles ON contains(...)`: the whole
  * condition (equi ∧ refine ∧ extra conjuncts) moves INTO the join so a
  * point with no passing candidate null-extends exactly once, like the theta
  * join. RIGHT OUTER mirrors (points on the right). An outer join preserving
  * the POLYGON side is left alone — the cover explode would null-extend an
  * unmatched polygon once per cover cell, which is not the theta semantics.
  *
  * The rule fires only when the condition contains a `PipContains` conjunct
  * with the ring on one side and the point coordinates on the other (any
  * remaining conjuncts stay: post-join filter for INNER, in-join for OUTER).
  * Cover level: derived from the polygon side's extent statistics at
  * planning time
  * ([[graft.ops.PipJoin.pickCoverLevel]] over the polygon subplan; the
  * polygon side is the dim table, so the planning-time aggregation is one
  * narrow pass over thousands of rows, the same driver-side steering pattern
  * as KnnJoin.pickLevel). A fixed level is wrong at both extent extremes.
  * Runs inside the operator-optimization batch, so pushdown/broadcast
  * selection apply to the rewritten plan in the same fixed point; the
  * rewritten join has no PipContains in its condition, so the rule cannot
  * re-fire on its own output.
  */
object PipJoinRewrite extends Rule[LogicalPlan] {

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  /** Resolve the cover level from extent stats over the polygon subplan
    * (fail-safe to the default on any planning error — a level choice must
    * never fail the query, it only shifts cost). */
  private def coverLevel(polySide: LogicalPlan, ring: Expression): Int =
    try {
      val session = org.apache.spark.sql.classic.SparkSession.getActiveSession
        .getOrElse(return 6)
      val rings = Project(Seq(Alias(ring, "__graft_ring")()), polySide)
      graft.ops.PipJoin.pickCoverLevel(
        org.apache.spark.sql.classic.Dataset.ofRows(session, rings), "__graft_ring")
    } catch { case scala.util.control.NonFatal(_) => 6 }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, jt, Some(cond), hint)
        if jt == Inner || jt == LeftOuter || jt == RightOuter =>
      val cs = conjuncts(cond)
      val hit = cs.collectFirst {
        // ring on the right, points on the left: INNER or LEFT OUTER
        // (preserved side = point side)
        case pc @ CellExpressions.PipContains(ring, px, py)
          if pc.deterministic && (jt == Inner || jt == LeftOuter) &&
            ring.references.subsetOf(right.outputSet) &&
            (px.references ++ py.references).subsetOf(left.outputSet) =>
          (pc, ring, px, py, false)
        // ring on the left, points on the right: INNER or RIGHT OUTER
        case pc @ CellExpressions.PipContains(ring, px, py)
          if pc.deterministic && (jt == Inner || jt == RightOuter) &&
            ring.references.subsetOf(left.outputSet) &&
            (px.references ++ py.references).subsetOf(right.outputSet) =>
          (pc, ring, px, py, true)
      }
      hit match {
        case Some((pc, ring, px, py, swapped)) =>
          val (ptSide, polySide) = if (swapped) (right, left) else (left, right)
          val level = coverLevel(polySide, ring)

          // point side: __graft_cell = cell_at(px, py, level)
          val cellAlias = Alias(
            CellExpressions.cellAt(px, py, Literal(level)), "__graft_cell")()
          val ptProj = Project(ptSide.output :+ cellAlias, ptSide)

          // polygon side: explode(cover_cells(ring, level)) → struct col
          val cover = CellExpressions.coverCells(ring, Literal(level))
          val covType = cover.dataType
            .asInstanceOf[org.apache.spark.sql.types.ArrayType]
            .elementType
          val covAttr = AttributeReference("__graft_cov", covType, nullable = false)()
          val generate = Generate(Explode(cover), unrequiredChildIndex = Nil,
            outer = false, qualifier = None, generatorOutput = Seq(covAttr),
            child = polySide)
          val pcellAlias = Alias(GetStructField(covAttr, 0, Some("cell")), "__graft_pcell")()
          val interiorAlias = Alias(GetStructField(covAttr, 1, Some("interior")), "__graft_interior")()
          val polyProj = Project(polySide.output ++ Seq(pcellAlias, interiorAlias), generate)

          val equi = EqualTo(cellAlias.toAttribute, pcellAlias.toAttribute)
          // exact refine (skipped for interior cells)
          val refine = Or(interiorAlias.toAttribute, pc)
          val rest = cs.filterNot(_ eq pc)
          // the rewritten children in the ORIGINAL operand order (outer joins
          // preserve a side; Project resolves by exprId either way)
          val (newLeft, newRight) = if (swapped) (polyProj, ptProj) else (ptProj, polyProj)
          jt match {
            case Inner =>
              // refine + leftovers as a post-join filter: Catalyst can still
              // push pushable conjuncts below the join in the same fixed point
              val newJoin = Join(newLeft, newRight, Inner, Some(equi), hint)
              Project(j.output, Filter((refine +: rest).reduce(And), newJoin))
            case _ =>
              // outer: EVERYTHING joins — a post-join filter would drop the
              // null-extended rows the outer join exists to keep
              val full = (Seq(equi, refine) ++ rest).reduce(And)
              Project(j.output, Join(newLeft, newRight, jt, Some(full), hint))
          }
        case None => j
      }
  }
}
