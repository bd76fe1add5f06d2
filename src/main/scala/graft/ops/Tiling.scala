package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.cells.Cells

/** Raster↔vector tiling: shelve rows into the reference's tile hierarchy and
  * materialize per-tile coverage stats (analog of per-tile density/count
  * aggregation, /root/reference/lib/dem.py:2218-2252 & tile record stats
  * :2008-2024, :2149-2168).
  *
  * Two grids:
  *   - the exact reference grid (polar stereo / UTM 100 km supertiles +
  *     quartertiles) via [[Cells.tileId]] — a deterministic scalar UDF;
  *   - a pure-column "degree grid" used by the oracle-checked queries, since
  *     transcendental projection math is not bit-reproducible across engines
  *     (SQL floor/concat only). Its keys are ints: the aggregates group on
  *     the grid coordinates and name each tile (`{r}_{c}`, `{i}_{j}`) once,
  *     on the output row.
  *
  * Scale: tile assignment is a narrow map (no shuffle); the stats aggregation
  * is one hash aggregate with map-side partial combine; writes are
  * range-partitioned by tile id so the output layout mirrors the reference's
  * shelf directory tree (`repartitionByRange` — SURVEY.md §4 item 3).
  */
object Tiling {

  /** Exact reference tile id (utm/ps supertile + quartertile) — codegen
    * expression, no UDF (org.apache.spark.sql.graft.CellExpressions). */
  def withTileId(df: DataFrame, lon: String = "lon", lat: String = "lat"): DataFrame =
    df.withColumn("tile_id",
      org.apache.spark.sql.graft.CellExpressions.tile_id(col(lon), col(lat)))

  /** A page's integer degree-grid keys: supertile row `__r` = ⌊lat/step⌋
    * and column `__c` = ⌊lon/step⌋ of its `step`° box, and, with the box
    * divided into `nRows × nCols` EQUAL subtiles, the subtile's 1-based row
    * `__i` and column `__j`. All four are null when lat or lon is, so a key
    * pair groups the rows its `{a}_{b}` name would ([[gridName]]): a name
    * is null when either part is. Each key is evaluated before the guard
    * looks at the other coordinate, so an infinite coordinate overflows its
    * key's int cast (ANSI) whether or not the other one is null, as the
    * names' `concat`, which evaluates every part, did.
    *
    * The subtile keys follow attic/divide_setsm_tiles.py:239-240 (tilesize
    * = extent/num) and :308-312 (`'{}_{}'.format(tilenumy, tilenumx)`,
    * origin-relative ceil-index). `lat/step - floor(lat/step)` is a proper
    * [0,1) fraction for negative coordinates too, so southern/western tiles
    * index the same way as the reference's origin-offset division. */
  private def gridKeys(step: Int, nRows: Int, nCols: Int): Seq[Column] = {
    val (lat, lon) = (col("lat"), col("lon"))
    def sub(v: Column, n: Int): Column = (floor((v / step - floor(v / step)) * n) + 1).cast("int")
    Seq("__r" -> floor(lat / step).cast("int"), "__c" -> floor(lon / step).cast("int"),
      "__i" -> sub(lat, nRows), "__j" -> sub(lon, nCols))
      .map { case (name, key) => when(key.isNotNull && lat.isNotNull && lon.isNotNull, key).as(name) }
  }

  /** The name `{a}_{b}` of the grid cell keyed by the int columns `a`, `b`. */
  private def gridName(a: String, b: String): Column =
    concat(col(a).cast("string"), lit("_"), col(b).cast("string"))

  /** Per-subtile coverage stats over geocoded pages at an arbitrary
    * `nRows × nCols` grid: row count, distinct langs, char sum, density =
    * rows per square degree of the SUBTILE box. One hash aggregate with
    * map-side partial combine, grouped on the four int [[gridKeys]]; each
    * output row names its `{r}_{c}` supertile and `{i}_{j}` subtile once,
    * after the aggregate. */
  def subtileStats(pages: DataFrame, step: Int, nRows: Int, nCols: Int): DataFrame =
    pages
      .select(gridKeys(step, nRows, nCols) ++ Seq(col("lang"), col("n_chars")): _*)
      .groupBy("__r", "__c", "__i", "__j").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("sum_chars"),
        (count(lit(1)) / lit(step.toDouble * step / (nRows * nCols))).as("density"))
      .select(gridName("__r", "__c").as("supertile"), gridName("__i", "__j").as("subtile"),
        col("n_rows"), col("n_langs"), col("sum_chars"), col("density"))

  /** Per-tile coverage stats over geocoded pages: row count, distinct langs,
    * char sum, density = rows per square degree of the tile. The reference's
    * default 2×2 quartering, column name kept for its consumers.
    */
  def coverageStats(pages: DataFrame, step: Int = 10): DataFrame =
    subtileStats(pages, step, 2, 2).withColumnRenamed("subtile", "quartertile")

  /** A11 full semantics: per `{r}_{c}` supertile of the 10° degree grid, the
    * sorted, comma-joined set of pair names (`P` + `doc_id % 40`, zero-padded
    * to two digits), their count and the acquisition-time span in epoch
    * seconds. Grouped on the int supertile keys and named after the
    * aggregate, as [[subtileStats]] is. */
  def tileComponents(pages: DataFrame): DataFrame =
    pages
      .select(gridKeys(10, 1, 1).take(2) ++ Seq(col("warc_ts"),
        concat(lit("P"), lpad((col("doc_id") % 40).cast("string"), 2, "0")).as("pairname")): _*)
      .groupBy("__r", "__c")
      .agg(
        array_join(array_sort(collect_set(col("pairname"))), ",").as("pairname_ids"),
        countDistinct(col("pairname")).as("n_pairs"),
        min(col("warc_ts").cast("long")).as("acq_min_epoch"),
        max(col("warc_ts").cast("long")).as("acq_max_epoch"))
      .select(gridName("__r", "__c").as("supertile"), col("pairname_ids"), col("n_pairs"),
        col("acq_min_epoch"), col("acq_max_epoch"))

  /** S10 — density cache (/root/reference/lib/dem.py:1231-1250 reads
    * density.txt when present instead of recomputing the raster aggregation;
    * :876-880 writes it). Spark shape: the per-geocell density stats are an
    * Icelite side table keyed by the input fingerprint — a re-run with the
    * same input reads the committed snapshot, skipping the aggregation.
    * `masked_density` analog: fraction of rows passing the quality mask
    * (n_chars above threshold), mirroring the reference's masked variant.
    */
  def densityStats(pages: DataFrame, maskMinChars: Int = 40): DataFrame =
    pages
      .withColumn("geocell", Cells.geocellCol(col("lon"), col("lat")))
      .groupBy("geocell")
      .agg(count(lit(1)).as("n"),
        // geocell area analog = 1 square degree
        (count(lit(1)) / lit(1.0)).as("density"),
        (sum(when(col("n_chars") >= maskMinChars, 1L).otherwise(0L)).cast("double")
          / count(lit(1))).as("masked_density"))

  def densityCached(spark: org.apache.spark.sql.SparkSession, pages: DataFrame,
                    root: String, fingerprint: String): DataFrame =
    new graft.table.Pipeline(spark, root).stage("density", fingerprint)(densityStats(pages))

  /** Shelf writer: range-partition by the shelf key then write one directory
    * per key — the Spark materialization of the reference's
    * link-or-copy-into-folder shelving (/root/reference/lib/utils.py:704-752).
    */
  def writeShelved(df: DataFrame, path: String, shelfKey: String, buckets: Int = 32): Unit =
    df.repartitionByRange(buckets, col(shelfKey))
      .write.mode("overwrite").partitionBy(shelfKey).parquet(path)
}
