package graft.pages

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Deterministic version-ladder fixtures derived from the orders table —
  * the analog of the reference's scene/strip version sets that its
  * canonicalization views dedup (FIXTURES.md §2 "version-ladder fixtures").
  *
  * Zero-padded version keys make string max == semver max, reproducing
  * /root/reference/lib/dem.py:2287-2295 (`semver2verkey`). The s2s ladder
  * includes '4.2' vs '4.10' so the int-array comparison of
  * /root/reference/sql/create_view_strip_dem_master.sql:10 is actually
  * exercised (lexicographic string order would get it wrong).
  *
  * Mirrored 1:1 by the DuckDB CTEs below (same arithmetic on o_orderkey).
  */
object Ladder {

  /** `P<custkey % 40>`: the pair name an order's scenes and strips share. */
  private val pairname: Column =
    concat(lit("P"), lpad((col("o_custkey") % 40).cast("string"), 2, "0"))

  /** `<pairname>_<res>_v<ver>`: the strip id, one ladder per pair and res. */
  private val stripdemid: Column = concat(
    pairname,
    lit("_"), when(col("o_orderkey") % 2 === 0, "2m").otherwise("8m"),
    lit("_v"),
    lpad((lit(3) + col("o_orderkey") % 2).cast("string"), 2, "0"),
    lpad((col("o_orderkey") % 5).cast("string"), 2, "0"),
    lpad((col("o_orderkey") % 11).cast("string"), 2, "0"))

  /** Scene rows: one per order, grouped into pair+res ladders. */
  def scenes(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.read(spark, sfDir, "orders")
    o.select(
      concat(lit("SC"), col("o_orderkey").cast("string")).as("scenedemid"),
      stripdemid.as("stripdemid"),
      (col("o_orderkey") % 7 === 0).as("is_dsp"),
      concat(lit("/loc"), (col("o_orderkey") % 3).cast("string")).as("location"),
      concat(lit("2024-01-"), lpad((lit(1) + col("o_orderkey") % 28).cast("string"), 2, "0")).as("index_date"),
      // parquet timestamps read as NTZ in Spark 4; normalize to LTZ (UTC
      // session) before epoch arithmetic
      col("o_orderdate").cast("timestamp").as("gen_time1"),
      (col("o_orderdate").cast("timestamp").cast("long")
        + (col("o_orderkey") % 5) * 86400L).cast("timestamp").as("gen_time2"))
  }

  /** DuckDB CTE mirroring [[scenes]]. */
  val scenesCte: String =
    """scenes AS (
      |  SELECT 'SC' || CAST(o_orderkey AS VARCHAR) AS scenedemid,
      |         'P' || lpad(CAST(o_custkey % 40 AS VARCHAR), 2, '0') || '_' ||
      |         CASE WHEN o_orderkey % 2 = 0 THEN '2m' ELSE '8m' END || '_v' ||
      |         lpad(CAST(3 + o_orderkey % 2 AS VARCHAR), 2, '0') ||
      |         lpad(CAST(o_orderkey % 5 AS VARCHAR), 2, '0') ||
      |         lpad(CAST(o_orderkey % 11 AS VARCHAR), 2, '0') AS stripdemid,
      |         (o_orderkey % 7 = 0) AS is_dsp,
      |         '/loc' || CAST(o_orderkey % 3 AS VARCHAR) AS location,
      |         '2024-01-' || lpad(CAST(1 + o_orderkey % 28 AS VARCHAR), 2, '0') AS index_date,
      |         o_orderdate AS gen_time1,
      |         to_timestamp(epoch(o_orderdate) + (o_orderkey % 5) * 86400) AS gen_time2
      |  FROM orders
      |)""".stripMargin

  /** Strip rows for the 3-stage canonical rule (J8): same stripdemid ladder
    * plus s2s_ver ∈ {3, 4, 4.2, 4.10}, is_lsf, and the enrichment columns
    * the STAC assembly joins need (pairname, geocell).
    */
  def strips(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.read(spark, sfDir, "orders")
    o.select(
      concat(lit("SD"), col("o_orderkey").cast("string")).as("dem_id"),
      stripdemid.as("stripdemid"),
      when(col("o_orderkey") % 4 === 0, "3")
        .when(col("o_orderkey") % 4 === 1, "4")
        .when(col("o_orderkey") % 4 === 2, "4.2")
        .otherwise("4.10").as("s2s_ver"),
      (col("o_orderkey") % 3 === 0).as("is_lsf"),
      pairname.as("pairname"),
      concat(lit("n"), lpad((col("o_orderkey") % 89).cast("string"), 2, "0"),
        lit("e"), lpad((col("o_orderkey") % 179).cast("string"), 3, "0")).as("geocell"))
  }

  val stripsCte: String =
    """strips AS (
      |  SELECT 'SD' || CAST(o_orderkey AS VARCHAR) AS dem_id,
      |         'P' || lpad(CAST(o_custkey % 40 AS VARCHAR), 2, '0') || '_' ||
      |         CASE WHEN o_orderkey % 2 = 0 THEN '2m' ELSE '8m' END || '_v' ||
      |         lpad(CAST(3 + o_orderkey % 2 AS VARCHAR), 2, '0') ||
      |         lpad(CAST(o_orderkey % 5 AS VARCHAR), 2, '0') ||
      |         lpad(CAST(o_orderkey % 11 AS VARCHAR), 2, '0') AS stripdemid,
      |         CASE WHEN o_orderkey % 4 = 0 THEN '3'
      |              WHEN o_orderkey % 4 = 1 THEN '4'
      |              WHEN o_orderkey % 4 = 2 THEN '4.2'
      |              ELSE '4.10' END AS s2s_ver,
      |         (o_orderkey % 3 = 0) AS is_lsf,
      |         'P' || lpad(CAST(o_custkey % 40 AS VARCHAR), 2, '0') AS pairname,
      |         'n' || lpad(CAST(o_orderkey % 89 AS VARCHAR), 2, '0') ||
      |         'e' || lpad(CAST(o_orderkey % 179 AS VARCHAR), 3, '0') AS geocell
      |  FROM orders
      |)""".stripMargin

  // ------------------------------------------ strip tape/staging split (U2)

  private def stripKey = expr("CAST(substring(dem_id, 3) AS BIGINT)")

  /** Strip tape rows: every 3rd strip (by orderkey), status carried as
    * 'online' — the strip_dem_all view overrides it to 'tape'. */
  def stripTape(spark: SparkSession, sfDir: String): DataFrame =
    strips(spark, sfDir).withColumn("status", lit("online"))
      .filter(stripKey % 3 === 0)

  /** Strip staging rows: the rest, plus every 6th (deliberate tape overlap so
    * the NOT EXISTS of create_view_strip_dem_all.sql:100-103 actually bites). */
  def stripStaging(spark: SparkSession, sfDir: String): DataFrame =
    strips(spark, sfDir).withColumn("status", lit("online"))
      .filter(stripKey % 3 =!= 0 || stripKey % 6 === 0)

  val stripTapeCte: String =
    """strip_tape AS (SELECT *, 'online' AS status FROM strips
      |  WHERE CAST(substring(dem_id, 3) AS BIGINT) % 3 = 0)""".stripMargin

  val stripStagingCte: String =
    """strip_staging AS (SELECT *, 'online' AS status FROM strips
      |  WHERE CAST(substring(dem_id, 3) AS BIGINT) % 3 <> 0
      |     OR CAST(substring(dem_id, 3) AS BIGINT) % 6 = 0)""".stripMargin

  // --------------------------------------- release + asset-info dims (J9)

  /** strip_dem_release analog: project/license per dem (license gate =
    * canonical_strips CTE of create_view_stac_strip_item.sql:2-13). */
  def release(spark: SparkSession, sfDir: String): DataFrame = {
    val base = strips(spark, sfDir)
    base.select(col("dem_id"), col("stripdemid"),
      when(stripKey % 3 === 0, "arcticdem")
        .when(stripKey % 3 === 1, "earthdem").otherwise("rema").as("project"),
      when(stripKey % 5 === 0, "private").otherwise("public").as("license"))
  }

  val releaseCte: String =
    """release AS (
      |  SELECT dem_id, stripdemid,
      |         CASE CAST(CAST(substring(dem_id, 3) AS BIGINT) % 3 AS INT)
      |           WHEN 0 THEN 'arcticdem' WHEN 1 THEN 'earthdem' ELSE 'rema' END AS project,
      |         CASE WHEN CAST(substring(dem_id, 3) AS BIGINT) % 5 = 0
      |              THEN 'private' ELSE 'public' END AS license
      |  FROM strips
      |)""".stripMargin

  /** stac_raster_asset_info analog: two asset rows (dem, hillshade) per
    * released item, keyed (collection, item_id) like the reference table. */
  def assetInfo(spark: SparkSession, sfDir: String): DataFrame =
    release(spark, sfDir)
      .select(concat(col("project"), lit("-strips-s2s041-2m")).as("collection"),
        col("dem_id").as("item_id"),
        explode(array(lit("dem"), lit("hillshade"))).as("asset_key"),
        (stripKey.cast("long") % 10 + 1).as("gsd"),
        concat(lit("EPSG:"), (lit(32601) + stripKey % 60).cast("string")).as("proj_code"))

  val assetInfoCte: String =
    """asset_info AS (
      |  SELECT CASE CAST(CAST(substring(dem_id, 3) AS BIGINT) % 3 AS INT)
      |           WHEN 0 THEN 'arcticdem' WHEN 1 THEN 'earthdem' ELSE 'rema' END
      |           || '-strips-s2s041-2m' AS collection,
      |         dem_id AS item_id,
      |         unnest(['dem', 'hillshade']) AS asset_key,
      |         CAST(CAST(substring(dem_id, 3) AS BIGINT) % 10 + 1 AS BIGINT) AS gsd,
      |         'EPSG:' || CAST(32601 + CAST(substring(dem_id, 3) AS BIGINT) % 60 AS VARCHAR) AS proj_code
      |  FROM strips
      |)""".stripMargin

  // ------------------------------------------------ deprecation list (J4)

  /** stripdemid_deprecated analog: every 13th scene's strip id. */
  def deprecated(spark: SparkSession, sfDir: String): DataFrame =
    scenes(spark, sfDir)
      .filter(expr("CAST(substring(scenedemid, 3) AS BIGINT) % 13 = 0"))
      .select("stripdemid").distinct()

  val deprecatedCte: String =
    """depr AS (SELECT DISTINCT stripdemid FROM scenes
      |  WHERE CAST(substring(scenedemid, 3) AS BIGINT) % 13 = 0)""".stripMargin

  /** Tape/staging split for the U1/J5 pipeline: tape = every 3rd order;
    * staging = the others plus every 6th (deliberate tape collisions),
    * duplicated across two copies with alternating locations so the
    * min(location || index_date) tie-break picks exactly one.
    */
  def tape(spark: SparkSession, sfDir: String): DataFrame =
    scenes(spark, sfDir)
      .filter(expr("CAST(substring(scenedemid, 3) AS BIGINT) % 3 = 0"))

  def staging(spark: SparkSession, sfDir: String): DataFrame = {
    val base = scenes(spark, sfDir)
      .withColumn("__k", expr("CAST(substring(scenedemid, 3) AS BIGINT)"))
      .filter(col("__k") % 3 =!= 0 || col("__k") % 6 === 0)
    // two copies per row via a narrow explode — the old crossJoin with
    // spark.range(0, 2) planned a BroadcastNestedLoopJoin (+ broadcast
    // exchange) for what is a per-row duplication (round 6); same rows
    base.withColumn("__c", explode(array(lit(0L), lit(1L))))
      .withColumn("location",
        concat(lit("/stage/"), ((col("__k") + col("__c")) % 2).cast("string")))
      .drop("__k", "__c")
  }

  val tapeCte: String =
    "tape AS (SELECT * FROM scenes WHERE CAST(substring(scenedemid, 3) AS BIGINT) % 3 = 0)"

  val stagingCte: String =
    """staging AS (
      |  SELECT scenedemid, stripdemid, is_dsp,
      |         '/stage/' || CAST((CAST(substring(scenedemid, 3) AS BIGINT) + c) % 2 AS VARCHAR) AS location,
      |         index_date, gen_time1, gen_time2
      |  FROM scenes, range(0, 2) r(c)
      |  WHERE CAST(substring(scenedemid, 3) AS BIGINT) % 3 <> 0
      |     OR CAST(substring(scenedemid, 3) AS BIGINT) % 6 = 0
      |)""".stripMargin
}
