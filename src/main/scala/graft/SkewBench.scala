package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cells.Cells
import graft.ops.SkewJoin
import graft.pages.Pages

/** Skew evidence (SURVEY.md §7.4 "must demonstrate salting keeps scaling
  * efficiency"): times the hot-cell equi-join salted vs unsalted at two
  * parallelism levels over the deliberately skewed page table (20% of rows
  * in two 1° geocells — graft.pages.Pages).
  *
  * The join is forced to shuffle (autoBroadcastJoinThreshold = -1): a
  * broadcast join has no skew problem, and at 100 TB a per-cell dim of every
  * populated geocell×attribute combination would not broadcast anyway. AQE
  * stays ON in both runs — the comparison shows what explicit pre-salting
  * buys on top of AQE's skew splitting (AQE only splits SMJ/SHJ partitions
  * after materialization; pre-salting spreads the hot key before any data
  * moves).
  *
  * Usage: runMain graft.SkewBench [sfDir] [replication]
  */
object SkewBench {

  private def session(cores: Int): SparkSession = {
    val s = Session.local(cores, s"graft-skew-$cores")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** Big side: replicated lineitem pages with geocell; small side: one row
    * per geocell (too many to assume broadcastable at scale). The measured
    * plan is the bare join (noop sink) so the comparison isolates the
    * shuffle-join stage where the straggler lives — a downstream
    * groupBy(geocell) would reuse the plain join's partitioning for free
    * while costing the salted plan a re-shuffle, a real trade-off the
    * BENCH.md notes discuss.
    */
  private def plans(spark: SparkSession, path: String): (DataFrame, DataFrame, Seq[String]) = {
    val pages = spark.read.parquet(path)
    val dim = pages.select("geocell").distinct()
      .withColumn("attr", length(col("geocell")).cast("long"))
    val hot = SkewJoin.hotKeys(pages, "geocell", sampleFraction = 0.01, threshold = 0.02)
    val plain = pages.join(dim, Seq("geocell"))
      .select(col("page_id"), col("attr"))
    val salted = SkewJoin.saltedJoin(pages, dim, "geocell", hot, saltFactor = 32,
        saltSource = col("page_id"))
      .select(col("page_id"), col("attr"))
    (plain, salted, hot)
  }

  private def time(df: DataFrame, runs: Int = 3): Double =
    (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }.min

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val rep = args.drop(1).headOption.map(_.toInt).getOrElse(16)
    val path = s"/tmp/graft_skew_pages_$rep"

    // materialize the skewed table once (untimed)
    val setup = session(32)
    val rows = try {
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        val base = Pages.fromLineitem(setup, sfDir).select("page_id")
        val replicated = base.crossJoin(setup.range(0, rep).toDF("rep"))
          .select((col("page_id") * rep + col("rep")).as("page_id"))
        // full Pages geocoding (keeps the 20%-hot-cell skew)
        Pages.withGeo(replicated, "page_id").drop("lonm", "latm")
          .withColumn("geocell", Cells.geocellCol(col("lon"), col("lat")))
          .repartition(128)
          .write.mode("overwrite").parquet(path)
      }
      setup.read.parquet(path).count()
    } finally setup.stop()
    Runtime.getRuntime.exec(Array("sync")).waitFor()

    val results = Seq(8, 32).map { cores =>
      val spark = session(cores)
      try {
        val (plain, salted, hot) = plans(spark, path)
        plain.write.mode("overwrite").format("noop").save() // warmup
        val tPlain = time(plain)
        val tSalted = time(salted)
        System.err.println(s"[skew] cores=$cores hot=${hot.sorted.mkString(",")}")
        (cores, tPlain, tSalted)
      } finally spark.stop()
    }
    val parts = results.map { case (c, p, s) =>
      f""""plain_$c":$p%.3f,"salted_$c":$s%.3f"""
    }.mkString(",")
    println(s"""{"metric":"skew","rows":$rows,$parts}""")
    results.foreach { case (c, p, s) =>
      println(f"| local[$c] | $rows | $p%.2f | $s%.2f | ${p / s}%.2fx |")
    }
  }
}
