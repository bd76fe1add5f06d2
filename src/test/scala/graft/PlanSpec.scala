package graft

import org.apache.spark.sql.functions._
import graft.pages.Pages

/** Physical-plan assertions: the optimizations the engine is designed
  * around must actually appear in the plan (SURVEY.md §4), so a regression
  * that silently de-optimizes a hot path fails the build.
  */
class PlanSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("parquet scan prunes columns (ReadSchema) for narrow projections") {
    val df = spark.read.parquet(s"$Sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
      .filter(col("l_quantity") > 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("l_orderkey") && plan.contains("l_quantity"))
    assert(!plan.contains("l_extendedprice"), "untouched columns must not be read")
  }

  test("filters push down to the parquet scan (PushedFilters)") {
    val df = spark.read.parquet(s"$Sf/lineitem.parquet")
      .filter(col("l_quantity") > 10)
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(l_quantity"),
      s"expected pushed filter in:\n$scan")
  }

  test("PIP join broadcasts the polygon side") {
    for (q <- Seq("q_pip_shelve", "q_pip_left")) {
      val plan = planOf(SparkEntry.queries(q)(spark, Sf))
      assert(plan.contains("BroadcastHashJoin"),
        s"$q must be a broadcast hash join, got:\n${plan.take(2000)}")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), q)
    }
    // the session carries the rule: q_pip_left must not append a second copy
    assert(!spark.experimental.extraOptimizations.contains(
      org.apache.spark.sql.graft.PipJoinRewrite))
  }

  test("shelve evaluates the pick kernel exactly once in the physical plan") {
    val q = SparkEntry.queries("q_pip_shelve")(spark, Sf)
    val plan = planOf(q)
    val calls = "shelvepickn".r.findAllIn(plan.toLowerCase).length
    assert(calls === 1,
      s"pick must appear at ONE call site (round-2 plan ray-cast twice), got $calls:\n${plan.take(3000)}")
  }

  test("region join (J1) broadcasts the dim side") {
    val q = SparkEntry.queries("q_region_join")(spark, Sf)
    assert(planOf(q).contains("BroadcastHashJoin"))
  }

  test("geocell aggregation is a partial+final hash aggregate over one exchange") {
    val q = SparkEntry.queries("q_geocell_counts")(spark, Sf)
    val plan = planOf(q)
    // AQE wraps the plan (isFinalPlan=false before execution); assert the
    // partial-aggregate structure instead of the codegen wrapper
    assert(plan.contains("HashAggregate"))
    assert(plan.contains("partial_count"), "map-side partial aggregation expected")
    assert(plan.contains("Exchange hashpartitioning"))
  }

  test("canonicalization windows use a single shuffle per stage (no joins)") {
    val q = SparkEntry.queries("q_canonical_scene")(spark, Sf)
    val plan = planOf(q)
    assert(!plan.contains("Join"), "window form must not reintroduce self-joins")
  }

  test("index projection contains no Scala UDF (flagship hot path)") {
    val plan = planOf(graft.jobs.IndexJob.indexRows(Pages.fromDocuments(spark, Sf)))
    assert(!plan.contains("UDF("), s"no UDF on the index path:\n${plan.take(1500)}")
  }

  test("hex cell assignment contains no Scala UDF") {
    val plan = planOf(SparkEntry.queries("q_hex_cells")(spark, Sf))
    assert(!plan.contains("UDF("))
  }

  test("pip shelve plan contains no Scala UDF (cover cells are the codegen kernel)") {
    val plan = planOf(SparkEntry.queries("q_pip_shelve")(spark, Sf))
    assert(!plan.contains("UDF("), s"shelve must be UDF-free:\n${plan.take(1500)}")
    assert(plan.toLowerCase.contains("cover_cells") || plan.toLowerCase.contains("covercells"),
      s"cover cells must be the kernel expression:\n${plan.take(1500)}")
  }

  test("knn ring-slab explode contains no Scala UDF (per-round loop path)") {
    import org.apache.spark.sql.graft.CellExpressions
    val pts = Pages.fromDocuments(spark, Sf)
      .select(col("doc_id"), CellExpressions.cell_at(col("lon"), col("lat"), 6).as("__qcell"))
    val probes = pts.withColumn("__cell",
      explode(CellExpressions.ring_range(col("__qcell"), lit(0), lit(4))))
    val plan = planOf(probes)
    assert(!plan.contains("UDF("), s"ring slab must be the kernel expression:\n${plan.take(1500)}")
    // and the kernel agrees with the per-ring library function it fuses
    val sample = probes.limit(500).collect()
    val byCell = sample.groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(2)).toSet)
    byCell.foreach { case (cell, cells) =>
      val expected = (1 to 4).flatMap(graft.cells.Cells.ringK(cell, _)).toSet
      // limit() may cut a cell's slab mid-way; assert containment
      assert(cells.subsetOf(expected), s"slab of $cell must match ringK union")
    }
  }

  test("fingerprint / minhash / simhash are shuffle-free narrow maps") {
    for (q <- Seq("q_fingerprint", "q_minhash_bands", "q_simhash")) {
      val plan = planOf(SparkEntry.queries(q)(spark, Sf))
      assert(!plan.contains("Exchange"), s"$q must not shuffle:\n${plan.take(1200)}")
      assert(!plan.contains("Join"), s"$q must not join")
    }
  }

  test("salted join is a shuffle join with the replica side as build side") {
    val plan = planOf(SparkEntry.queries("q_salted_join")(spark, Sf))
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"salted join must not broadcast the fact side:\n${plan.take(1200)}")
    assert(!plan.contains("BroadcastHashJoin"))
  }

  test("STAC assembly left joins stay composite-key equi-joins (no cartesian)") {
    val plan = planOf(SparkEntry.queries("q_stac_assembly")(spark, Sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"assembly must be equi-joins only:\n${plan.take(1200)}")
  }

  test("semi-join fetch plans a LeftSemi with a broadcast id list") {
    val plan = planOf(SparkEntry.queries("q_item_fetch")(spark, Sf))
    assert(plan.contains("LeftSemi"), s"expected LeftSemi:\n${plan.take(1200)}")
  }
}
