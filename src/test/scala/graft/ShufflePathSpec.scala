package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.geom.Geom
import graft.ops.{PipJoin, Tiling}
import graft.pages.Pages

/** The non-broadcast (shuffle) PIP path and the range-partitioned shelf
  * writer — the paths a too-big polygon side / the shelving layout use.
  */
class ShufflePathSpec extends SparkSpec {
  import spark.implicits._

  test("PIP join shuffle variant equals the broadcast variant") {
    val pts = (0L until 2000L).map { i =>
      val h1 = (i * 48271 + 11) % 2147483647L
      val h2 = (h1 * 48271 + 17) % 2147483647L
      (i, (h1 % 360000L) / 1000.0 - 180.0, (h2 % 170000L) / 1000.0 - 85.0)
    }.toDF("pid", "lon", "lat")
    val polys = Seq(
      ("a", Seq(-30.0, -30.0, 30.0, -30.0, 30.0, 30.0, -30.0, 30.0)),
      ("b", Seq(0.0, 0.0, 60.0, 0.0, 30.0, 50.0))).toDF("poly_id", "ring")
    val bc = PipJoin.join(pts, polys, "pid", "lon", "lat", "poly_id", "ring",
        level = 5, broadcastPolys = true)
      .select("pid", "poly_id").as[(Long, String)].collect().toSet
    val sh = PipJoin.join(pts, polys, "pid", "lon", "lat", "poly_id", "ring",
        level = 5, broadcastPolys = false)
      .select("pid", "poly_id").as[(Long, String)].collect().toSet
    assert(bc === sh)
    assert(bc.nonEmpty)
  }

  test("shelve shuffle fallback equals the broadcast form and plans a shuffle join") {
    val pts = Pages.fromDocuments(spark, Sf)
    val tiles = Pages.tiles(spark).withColumn("ring",
      PipJoin.rectRing(col("x0"), col("y0"), col("x1"), col("y1")))
    val bc = PipJoin.shelve(pts, tiles, "doc_id", "lon", "lat", "tile_name", "ring")
      .select("doc_id", "tile_name").as[(Long, String)].collect().toSet
    val sh = PipJoin.shelve(pts, tiles, "doc_id", "lon", "lat", "tile_name", "ring",
      broadcastCells = false)
    val plan = sh.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") && !plan.contains("BroadcastHashJoin"),
      s"fallback must shuffle, not broadcast:\n${plan.take(1200)}")
    assert(sh.select("doc_id", "tile_name").as[(Long, String)].collect().toSet === bc)
    assert(bc.nonEmpty)
  }

  test("shelf writer materializes one directory per shelf key") {
    val out = Files.createTempDirectory("shelf").toString + "/t"
    val pages = Pages.fromDocuments(spark, Sf)
      .withColumn("geocell", graft.cells.Cells.geocellCol(col("lon"), col("lat")))
      .select("doc_id", "geocell")
    Tiling.writeShelved(pages, out, "geocell", buckets = 4)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("geocell="))
    assert(dirs.length > 100) // one dir per geocell
    val back = spark.read.parquet(out)
    assert(back.count() === pages.count())
    // partition pruning: reading one shelf touches one directory
    val one = dirs.head.stripPrefix("geocell=")
    val pruned = back.filter(col("geocell") === one)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(pruned.count() > 0)
  }
}
