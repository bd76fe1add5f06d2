package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's "canonical version wins" relational rules, re-expressed as
  * Catalyst window/groupBy transforms instead of Postgres group-max
  * self-joins (SURVEY.md §2.5: one shuffle instead of two).
  */
object Canonical {

  /** J3 — canonical scene selection
    * (/root/reference/sql/create_view_scene_dem_master.sql:39-50):
    * group scenes by `left(stripdemid, 52)` (the id without its version
    * suffix) and `is_dsp`; keep only rows whose stripdemid equals the group
    * max (zero-padded version keys make string max = semver max,
    * /root/reference/lib/dem.py:2287-2295); then drop dsp rows.
    *
    * Group-max over DISTINCT (stripdemid, is_dsp) + join in the reference ==
    * max-over-window here (identical result, one shuffle).
    */
  def sceneMaster(scenes: DataFrame): DataFrame = {
    // the reference uses left(stripdemid, 52) — a fixed prefix because its
    // ids are fixed-width; the version suffix is always the last 8 chars
    // ('_vXXYYZZ'), so length-8 is the same cut, robust to variable ids
    val w = Window.partitionBy(
      expr("substring(stripdemid, 1, length(stripdemid) - 8)"), col("is_dsp"))
    scenes
      .withColumn("__strip_max", max(col("stripdemid")).over(w))
      .filter(col("stripdemid") === col("__strip_max") && !col("is_dsp"))
      .drop("__strip_max")
  }

  /** J5 — staging dedup
    * (/root/reference/sql/create_view_scene_dem_all.sql:76-91):
    * staging rows not present on tape (anti join on the identity triple),
    * deduped to the row with min(location || index_date) per triple.
    * The reference's groupBy+join-back collapses to one row_number window.
    */
  def stagingDedup(staging: DataFrame, tape: DataFrame): DataFrame = {
    val keys = Seq("scenedemid", "stripdemid", "is_dsp")
    val novel = staging.join(tape.select(keys.map(col): _*).distinct(),
      keys, "left_anti")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(concat(col("location"), col("index_date")))
    novel.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** U1 — scene_dem_all: tape UNION ALL deduped staging
    * (/root/reference/sql/create_view_scene_dem_all.sql:38-91). */
  def sceneAll(tape: DataFrame, staging: DataFrame): DataFrame =
    tape.unionByName(stagingDedup(staging, tape))

  /** J8 — canonical strip selection, 3-stage
    * (/root/reference/sql/create_view_strip_dem_master.sql:2-75):
    *   1. latest_version: max(stripdemid) per left(stripdemid, -8)
    *      (strip id minus its 8-char version suffix `_vXXYYZZ`... actually
    *      left(id,-8) = drop last 8 chars);
    *   2. latest_s2s: per surviving stripdemid, max s2s version compared as
    *      an int array (so '4.10' > '4.2');
    *   3. latest_lsf: bool_and(is_lsf) — non-LSF preferred when both exist.
    * Final: rows matching all three picks.
    *
    * Implemented as one window pass: rank by (stripdemid desc within nover
    * group) is NOT equivalent (stage 2/3 group by stripdemid, not nover), so
    * the three stages stay distinct but use windows over the same shuffle key
    * prefix where possible.
    */
  def stripMaster(strips: DataFrame): DataFrame = {
    // the scratch columns below are dropped from the output: an input column
    // of the same name would be silently overwritten and then lost
    val scratch = Seq("__nover", "__strip_max", "__s2s_key", "__s2s_max", "__min_lsf")
    val clash = scratch.filter(c => strips.columns.exists(_.equalsIgnoreCase(c)))
    require(clash.isEmpty, s"stripMaster input carries reserved column(s): ${clash.mkString(", ")}")
    // ONE exchange for all three stages (round 6, guide §2.4): stage 2/3
    // group by stripdemid (resp. + s2s_ver), and the stage-1 prefix is a
    // FUNCTION of stripdemid — prepending it to the later windows'
    // partitionBy changes no group (rows with equal stripdemid have equal
    // prefix) but lets EnsureRequirements see the stage-1 hash partitioning
    // (on the prefix) as satisfying stages 2/3's clustering, so only the
    // first window shuffles; the rest re-sort in place. The prefix MUST be
    // materialized as a column first: a non-attribute partition expression is
    // extracted into a fresh `_w` projection per Window operator, so three
    // windows over the raw expression plan three distinct exchanges (no
    // semantic-equality match across the per-window aliases). Partitioning by
    // the shared attribute makes HashPartitioning(__nover) satisfy all three
    // clusterings (subset rule). Before: 3 windows = 2 exchanges of the full
    // strip table.
    val s0 = strips.withColumn("__nover",
      expr("substring(stripdemid, 1, length(stripdemid) - 8)"))
    // stage 1: keep rows of the max stripdemid per version-less prefix
    val w1 = Window.partitionBy(col("__nover"))
    val s1 = s0
      .withColumn("__strip_max", max(col("stripdemid")).over(w1))
      .filter(col("stripdemid") === col("__strip_max"))
      .drop("__strip_max")
    // stage 2: max s2s_ver per stripdemid, int-array comparison via
    // zero-padded component encoding (array ordering == padded-string
    // ordering for components < 10000)
    val s2sKey = array_join(
      transform(split(col("s2s_ver"), "\\."), p => lpad(p, 4, "0")), ".")
    val w2 = Window.partitionBy(col("__nover"), col("stripdemid"))
    val s2 = s1.withColumn("__s2s_key", s2sKey)
      .withColumn("__s2s_max", max(col("__s2s_key")).over(w2))
      .filter(col("__s2s_key") === col("__s2s_max"))
    // stage 3: bool_and(is_lsf) per (stripdemid, s2s_ver): false if any
    // non-LSF exists, keep rows whose is_lsf equals that minimum
    val w3 = Window.partitionBy(
      col("__nover"), col("stripdemid"), col("s2s_ver"))
    s2.withColumn("__min_lsf", min(col("is_lsf").cast("int")).over(w3))
      .filter(col("is_lsf").cast("int") === col("__min_lsf"))
      .drop("__nover", "__s2s_key", "__s2s_max", "__min_lsf")
  }

  /** J6 + U2 — strip_dem_all
    * (/root/reference/sql/create_view_strip_dem_all.sql:50-103):
    * staging rows UNION ALL tape rows that are NOT on staging (anti-join on
    * the (dem_id, stripdemid) pair), with the tape side's status overridden
    * to the literal 'tape'. This is the table [[stripMaster]] canonicalizes
    * in the reference pipeline.
    *
    * Scale: the anti-join shuffles both sides on the composite key once; the
    * union is free (no shuffle).
    */
  def stripAll(staging: DataFrame, tape: DataFrame): DataFrame = {
    val keys = Seq("dem_id", "stripdemid")
    val tapeOnly = tape
      .join(staging.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .withColumn("status", lit("tape"))
    staging.unionByName(tapeOnly)
  }

  /** J4 — deprecation-flag left join
    * (/root/reference/sql/create_view_scene_dem_master.sql:37,48-49):
    * `is_depr = (d.stripdemid IS NOT NULL)` after a LEFT JOIN against the
    * DISTINCT deprecated-strip list. The list is tiny relative to the fact
    * side — broadcast it.
    */
  def withDeprFlag(df: DataFrame, deprecated: DataFrame): DataFrame =
    df.join(
        broadcast(deprecated.select("stripdemid").distinct()
          .withColumn("__depr", lit(true))),
        Seq("stripdemid"), "left")
      .withColumn("is_depr", col("__depr").isNotNull)
      .drop("__depr")

  /** A7 — gen-time span per strip
    * (/root/reference/sql/create_view_strip_dem_gentime.sql:1-7). */
  def gentimeSpan(scenes: DataFrame): DataFrame =
    scenes.groupBy("stripdemid", "is_dsp").agg(
      min(least(col("gen_time1"), col("gen_time2"))).as("gen_time_min"),
      max(greatest(col("gen_time1"), col("gen_time2"))).as("gen_time_max"))
}
