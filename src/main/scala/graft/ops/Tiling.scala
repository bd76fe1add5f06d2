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
  *   - a pure-column "degree grid" (`dg` columns) used by the oracle-checked
  *     queries, since transcendental projection math is not bit-reproducible
  *     across engines (SQL floor/abs/concat only).
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

  /** Degree-grid supertile `{r}_{c}` (step° boxes) — oracle-reproducible. */
  def degSupertile(lon: Column, lat: Column, step: Int): Column =
    concat(floor(lat / step).cast("int").cast("string"), lit("_"),
      floor(lon / step).cast("int").cast("string"))

  /** Generalized n×m subtile `{i}_{j}` (1-based, row-major within the tile):
    * the supertile extent divided into `nRows × nCols` EQUAL boxes, named by
    * their 1-based row/col ordinal — the naming/geometry of
    * attic/divide_setsm_tiles.py:239-240 (tilesize = extent/num) and
    * :308-312 (`'{}_{}'.format(tilenumy, tilenumx)`, origin-relative
    * ceil-index). `lat/step - floor(lat/step)` is a proper [0,1) fraction
    * for negative coordinates too, so southern/western tiles index the same
    * way as the reference's origin-offset division. */
  def degSubtile(lon: Column, lat: Column, step: Int, nRows: Int, nCols: Int): Column = {
    val fi = (lat / step - floor(lat / step)) * nRows
    val fj = (lon / step - floor(lon / step)) * nCols
    concat((floor(fi) + 1).cast("int").cast("string"), lit("_"),
      (floor(fj) + 1).cast("int").cast("string"))
  }

  /** Per-subtile coverage stats over geocoded pages at an arbitrary
    * `nRows × nCols` grid: row count, distinct langs, char sum, density =
    * rows per square degree of the SUBTILE box. One hash aggregate with
    * map-side partial combine; the grid column is a narrow map. */
  def subtileStats(pages: DataFrame, step: Int, nRows: Int, nCols: Int): DataFrame = {
    val tiled = pages
      .withColumn("supertile", degSupertile(col("lon"), col("lat"), step))
      .withColumn("subtile", degSubtile(col("lon"), col("lat"), step, nRows, nCols))
    tiled.groupBy("supertile", "subtile").agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("lang")).as("n_langs"),
      sum(col("n_chars")).as("sum_chars"),
      (count(lit(1)) / lit(step.toDouble * step / (nRows * nCols))).as("density"))
  }

  /** Per-tile coverage stats over geocoded pages: row count, distinct langs,
    * char sum, density = rows per square degree of the tile. The reference's
    * default 2×2 quartering, column name kept for its consumers.
    */
  def coverageStats(pages: DataFrame, step: Int = 10): DataFrame =
    subtileStats(pages, step, 2, 2).withColumnRenamed("subtile", "quartertile")

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
