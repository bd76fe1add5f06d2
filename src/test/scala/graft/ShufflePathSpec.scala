package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ops.Tiling
import graft.pages.Pages

/** The range-partitioned shelf writer — the path the shelving layout uses.
  * The PIP join's shuffle path is checked in OpsSpec under
  * `autoBroadcastJoinThreshold=-1`.
  */
class ShufflePathSpec extends SparkSpec {

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
