package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.geom.Geom

/** PipJoinRewrite: a `graft_st_contains` theta join written in plain SQL is
  * rewritten by the injected optimizer rule into a cell equi-join — no
  * nested-loop/cartesian plan — and produces exactly the brute-force rows.
  */
class RewriteSpec extends AnyFunSuite {

  private def withExtSession[T](body: SparkSession => T): T = {
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-rewrite-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .getOrCreate()
    try body(spark)
    finally prior.foreach { p =>
      SparkSession.setDefaultSession(p)
      SparkSession.setActiveSession(p)
    }
  }

  private val polys: Seq[(String, Seq[Double])] = Seq(
    "tri_a" -> Seq(-10.0, -10.0, 30.0, -5.0, 5.0, 25.0),
    "lshape" -> Seq(-60.0, -60.0, -20.0, -60.0, -20.0, -40.0, -40.0, -40.0, -40.0, -20.0, -60.0, -20.0),
    "east" -> Seq(150.0, 40.0, 179.5, 40.0, 179.5, 70.0, 150.0, 70.0))

  private def points(n: Int): Seq[(Long, Double, Double)] =
    (0L until n).map { i =>
      val h1 = (i * 48271 + 11) % 2147483647L
      val h2 = (h1 * 48271 + 17) % 2147483647L
      (i, (h1 % 360000L) / 1000.0 - 180.0, (h2 % 170000L) / 1000.0 - 85.0)
    }

  test("st_contains theta join is rewritten to a cell equi-join with exact results") {
    withExtSession { spark =>
      import spark.implicits._
      points(2000).toDF("pid", "lon", "lat").createOrReplaceTempView("pts")
      polys.toDF("poly_id", "ring").createOrReplaceTempView("polys")
      val df = spark.sql(
        """SELECT pid, poly_id FROM pts JOIN polys
          |ON graft_st_contains(ring, lon, lat)""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"theta join must be rewritten to an equi-join:\n${plan.take(1500)}")
      assert(plan.contains("Join") || plan.contains("join"), "a join must remain")
      val got = df.as[(Long, String)].collect().toSet
      val expected = (for {
        (pid, lon, lat) <- points(2000)
        (name, ring) <- polys
        if Geom.contains(ring.toArray, lon, lat)
      } yield (pid, name)).toSet
      assert(got === expected)
      assert(expected.nonEmpty)
    }
  }

  test("left-outer st_contains join rewrites and null-extends unmatched points once") {
    withExtSession { spark =>
      import spark.implicits._
      points(1500).toDF("pid", "lon", "lat").createOrReplaceTempView("pts")
      polys.toDF("poly_id", "ring").createOrReplaceTempView("polys")
      val df = spark.sql(
        """SELECT pid, poly_id FROM pts LEFT JOIN polys
          |ON graft_st_contains(ring, lon, lat)""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"left theta join must be rewritten to an equi-join:\n${plan.take(1500)}")
      val got = df.as[(Long, Option[String])].collect().toSet
      val expected = points(1500).flatMap { case (pid, lon, lat) =>
        val ms = polys.collect { case (name, ring) if Geom.contains(ring.toArray, lon, lat) => name }
        if (ms.isEmpty) Seq((pid, None)) else ms.map(n => (pid, Some(n)))
      }.toSet
      assert(got === expected)
      assert(expected.exists(_._2.isEmpty) && expected.exists(_._2.nonEmpty))
    }
  }

  test("SQL left join + exactly-one aggregation equals PipJoin.shelve") {
    withExtSession { spark =>
      import spark.implicits._
      val ptsDf = points(1500).toDF("pid", "lon", "lat")
      val polysDf = polys.toDF("poly_id", "ring")
      ptsDf.createOrReplaceTempView("pts")
      polysDf.createOrReplaceTempView("polys")
      // the J2 shelve written in plain SQL: exactly-one match keeps the point
      val sql = spark.sql(
        """SELECT pid, max(poly_id) AS poly_id
          |FROM pts LEFT JOIN polys ON graft_st_contains(ring, lon, lat)
          |GROUP BY pid HAVING count(poly_id) = 1""".stripMargin)
      val plan = sql.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
      val viaSql = sql.as[(Long, String)].collect().toSet
      val viaOp = graft.ops.PipJoin
        .shelve(ptsDf, polysDf, "pid", "lon", "lat", "poly_id", "ring", level = 6)
        .select("pid", "poly_id").as[(Long, String)].collect().toSet
      assert(viaSql === viaOp)
      assert(viaOp.nonEmpty)
    }
  }

  test("the rewrite derives the cover level from polygon extents") {
    withExtSession { spark =>
      import spark.implicits._
      points(1500).toDF("pid", "lon", "lat").createOrReplaceTempView("pts")
      polys.toDF("poly_id", "ring").createOrReplaceTempView("polys")
      val df = spark.sql(
        """SELECT pid, poly_id FROM pts JOIN polys
          |ON graft_st_contains(ring, lon, lat)""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
      val level = graft.ops.PipJoin.pickCoverLevel(spark.table("polys"), "ring")
      assert(plan.matches(s"(?is).*covercells\\(ring#\\d+, $level\\).*"),
        s"polygons must be covered at the extent-derived level $level:\n$plan")
      val got = df.as[(Long, String)].collect().toSet
      val expected = (for {
        (pid, lon, lat) <- points(1500)
        (name, ring) <- polys
        if Geom.contains(ring.toArray, lon, lat)
      } yield (pid, name)).toSet
      assert(got === expected)
      assert(expected.nonEmpty)
    }
  }

  test("extra conjuncts survive as post-join filters; swapped sides rewrite too") {
    withExtSession { spark =>
      import spark.implicits._
      points(1000).toDF("pid", "lon", "lat").createOrReplaceTempView("pts")
      polys.toDF("poly_id", "ring").createOrReplaceTempView("polys")
      // polys on the LEFT + an extra predicate in the join condition
      val df = spark.sql(
        """SELECT pid, poly_id FROM polys JOIN pts
          |ON graft_st_contains(ring, lon, lat) AND pid % 2 = 0""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
      val got = df.as[(Long, String)].collect().toSet
      val expected = (for {
        (pid, lon, lat) <- points(1000)
        if pid % 2 == 0
        (name, ring) <- polys
        if Geom.contains(ring.toArray, lon, lat)
      } yield (pid, name)).toSet
      assert(got === expected)
      assert(expected.nonEmpty)
    }
  }
}
