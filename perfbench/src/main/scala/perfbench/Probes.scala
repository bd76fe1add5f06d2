package perfbench

import scala.collection.mutable.LinkedHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CellExpressions
import org.apache.spark.sql.perfbench.{Layers, Trace}
import org.apache.spark.sql.types.{DoubleType, FloatType}
import Trace.span

import graft.{Session, SparkEntry}
import graft.ops.{PipJoin, Tiling}
import graft.pages.Pages

/** Layer probes of a traced run, after the workload: the workload's shelve
  * and tiling frames executed alone through the noop sink, the geometry
  * kernels against a bare scan, and, when catalog tables are given, one pass
  * over the query catalog. */
object Probes {
  import Harness._

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
  def median3(body: => Unit): Double = Layers.median(Seq.fill(3)(timed(body)))

  def run(o: Map[String, String], res: LinkedHashMap[String, Any]): Map[String, Double] = {
    val spark = Session.local(cpus, "graft-probes")
    val m = LinkedHashMap[String, Double]()
    try {
      val (pts, id) = o("workload") match {
        case "jobs_sf01" => (Pages.fromDocuments(spark, o("input")), "doc_id")
        case _ => (ShelveWorkload.withAttrs(Pages.fromLineitem(spark, o("input"))), "page_id")
      }
      val tiles = ShelveWorkload.tiles(spark)
      val shelved = PipJoin.shelve(pts, tiles, id, "lon", "lat", "tile_name", "ring")
      val stats = Tiling.coverageStats(pts)
      // the workload has compiled these plans already: no warm-up run
      span("probe.exec") {
        m("ops.shelve.exec_s") = median3(noop(shelved))
        m("ops.tiling.exec_s") = median3(noop(stats))
      }
      m ++= span("probe.kernels")(kernels(spark))
      m ++= (o.get("catalog") match {
        case Some(dir) => span("probe.catalog")(catalog(spark, dir, o("order").split(",").toSeq, res))
        case None => CatalogModules.metricNames.map(_ -> 0.0) // not measured on this workload
      })
    } finally spark.stop()
    // job events are all delivered once the session has stopped
    if (o.contains("catalog")) m("catalog.build_jobs") =
      Trace.spans.filter(_.name == "catalog.build").map(Layers.jobsIn(_).size.toDouble).sum
    m.toMap
  }

  /** ns per row of each kernel: `range -> kernel -> noop` minus the same
    * scan without the kernel, over the geocoded key distribution. Each is
    * the median of three runs, the first of which compiles the plan. */
  def kernels(spark: SparkSession): Map[String, Double] = {
    def base(n: Long): DataFrame = {
      val h1 = pmod(col("id") * 48271L + 11L, lit(2147483647L))
      val h2 = pmod(h1 * 48271L + 17L, lit(2147483647L))
      spark.range(0, n, 1, cpus * 4).select(
        ((h1 % 360000L - 180000L) / 1000.0).as("lon"),
        ((h2 % 170000L - 85000L) / 1000.0).as("lat"))
    }
    val (lon, lat) = (col("lon"), col("lat"))
    val ring = PipJoin.rectRing(lon, lat, lon + 1.0, lat + 1.0)
    def cand(pid: String, x0: Double, y0: Double, x1: Double, y1: Double): Column =
      struct(lit(pid).as("pid"), PipJoin.rectRing(lit(x0), lit(y0), lit(x1), lit(y1)).as("ring"),
        lit(false).as("interior"))
    val cands = array(cand("A", -90.0, -45.0, 90.0, 45.0), cand("B", 0.0, 0.0, 120.0, 60.0))
    // rows per kernel: a few hundred ms of kernel work on one core
    val cases = Seq(
      ("cell_at", 8000000L, Seq(lon, lat), CellExpressions.cell_at(lon, lat, 8)),
      ("shelve_pick_n", 4000000L, Seq(lon, lat), CellExpressions.shelve_pick_n(cands, lon, lat)),
      ("tile_id", 400000L, Seq(lon, lat), CellExpressions.tile_id(lon, lat)),
      ("cover_cells", 400000L, Seq(ring.as("ring")), CellExpressions.cover_cells(ring, 8)))
    cases.map { case (name, n, bare, kernel) =>
      val b = base(n)
      val tBare = median3(noop(b.select(bare: _*)))
      val tKernel = median3(noop(b.select(kernel.as("k"))))
      s"kernel.${name}_ns_per_row" -> (tKernel - tBare) / n * 1e9
    }.toMap
  }

  /** Order-insensitive fingerprint of a result: row count, xor and sum of
    * per-row hashes. Floating columns are rounded to 6 places first, so a
    * changed summation order does not change the fingerprint. */
  def fingerprint(df: DataFrame): Seq[Long] = {
    val cols = df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast("double"), 6)
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols.toSeq: _*).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)),
        coalesce(sum(pmod(col("h"), lit(1000000007L))), lit(0L)))
      .head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** One pass over the catalog: per query, build the DataFrame, then run it
    * to its fingerprint. Fingerprints go to `res` for `run.py` to check. */
  def catalog(spark: SparkSession, dir: String, order: Seq[String],
              res: LinkedHashMap[String, Any]): Map[String, Double] = {
    val out = LinkedHashMap[String, Any]()
    val perModule = LinkedHashMap[String, Double]().withDefaultValue(0.0)
    var (build, exec) = (0.0, 0.0)
    for (q <- order) {
      val t0 = System.nanoTime()
      op(s"catalog $q") {
        val df = span("catalog.build")(SparkEntry.queries(q)(spark, dir))
        val bs = Layers.dur(lastSpan("catalog.build"))
        val fp = span("catalog.exec")(fingerprint(df))
        val es = Layers.dur(lastSpan("catalog.exec"))
        build += bs; exec += es
        out(q) = fp ++ Seq(bs, es)
      }
      perModule(CatalogModules.of(q)) += (System.nanoTime() - t0) / 1e9
    }
    res("catalog") = out
    CatalogModules.metricNames.zip(Seq(build, 0.0, exec) ++ // build_jobs: see run
      CatalogModules.names.map(perModule)).toMap
  }
}

/** Fingerprints of every query result dumped by `graft.Verify` into
  * `args(0)`, as JSON into `args(1)`: the recorded values the traced
  * catalog pass is checked against (see `record_catalog.py`). */
object RecordCatalog {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Harness.cpus, "graft-record")
    try {
      val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(args(0))).iterator()
        .asScala.filter(java.nio.file.Files.isDirectory(_)).toSeq.sortBy(_.toString)
      val fps = dirs.map(d => d.getFileName.toString ->
        Probes.fingerprint(spark.read.parquet(d.toString))).toMap
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)), Json(fps))
    } finally spark.stop()
  }
}

/** Which program module each catalog query exercises (its main call). */
object CatalogModules {
  private val byModule = Map(
    "cells" -> Seq("q_geocode", "q_geocell_counts", "q_li_geocell_counts", "q_region_join",
      "q_rollup_extent", "q_antimeridian", "q_hex_cells", "q_sessionize", "q_salted_join"),
    "ops" -> Seq("q_pip_shelve", "q_pip_left", "q_knn", "q_tile_coverage", "q_tile_components",
      "q_density_cache", "q_subtile_grid", "q_complete", "q_canonical_scene", "q_staging_dedup",
      "q_scene_all", "q_canonical_strip", "q_gentime_span", "q_noncanonical", "q_strip_all",
      "q_strip_master_all", "q_depr_flag", "q_distinct_strips", "q_dsp_expand",
      "q_release_fields", "q_rmse", "q_group_means", "q_url_template"),
    "stac" -> Seq("q_stac_items", "q_stac_tree", "q_item_fetch", "q_stac_assembly",
      "q_stac_union", "q_stac_children"),
    "text" -> Seq("q_token_count", "q_quality", "q_langid", "q_fingerprint", "q_dedup_exact",
      "q_minhash_bands", "q_minhash_pairs", "q_simhash", "q_jaccard_pairs", "q_simhash_pairs",
      "q_dedup_clusters", "q_dedup_keep", "q_boilerplate", "q_corpus_select", "q_decontaminate",
      "q_sample_mix", "q_token_budget", "q_shuffle_shards", "q_repetition", "q_pii_scrub",
      "q_chunks", "q_pack_bins", "q_url_normalize"),
    "sim" -> Seq("q_ann_brute", "q_quant_topk", "q_cosine_pairs", "q_lsh_pairs",
      "q_lsh_pairs_banded", "q_lsh_buckets", "q_lsh_topk", "q_ivf_cells", "q_ivf_topk",
      "q_ivf_multiprobe"),
    "parse" -> Seq("q_verkey", "q_strip_meta_parse", "q_meta_parse", "q_mdf_parse",
      "q_reg_parse", "q_reg_apply", "q_asp_index", "q_custom_paths", "q_date_normalize",
      "q_from_json", "q_props_extract", "q_acq_mean", "q_scaled_band", "q_index_schema"),
    "mm" -> Seq("q_mm_features", "q_mm_decode", "q_mm_frames"),
    "streaming" -> Seq("q_event_window", "q_package_manifest"))
  val names: Seq[String] = byModule.keys.toSeq.sorted
  val metricNames: Seq[String] = Seq("catalog.build_s", "catalog.build_jobs", "catalog.exec_s") ++
    names.map(n => s"catalog.${n}_s")
  private val index = for ((m, qs) <- byModule; q <- qs) yield q -> m
  /** Queries added to the catalog later than this map fall under "other". */
  def of(q: String): String = index.getOrElse(q, "other")
}
