package graft.cells

import org.apache.spark.sql.Column
import graft.geom.Geom
import graft.crs.Proj

/** Hierarchical cell indexes, from scratch (no H3/S2 jar in the sandbox).
  *
  * Three grids:
  *   - geocell: the reference's 1°x1° shelving cell (`lib/dem.py:735-753`):
  *     `{n|s}{abs(floor(lat)):02d}{e|w}{abs(floor(lon)):03d}`, e.g. n67w056.
  *   - quadkey: S2-style hierarchical cell = Z-order interleave of the
  *     (x, y) grid index at level L over an equirectangular lon/lat plane.
  *     Levels nest (parent = child >> 2). DIVERGENCE from canonical S2/H3 ids
  *     is documented in SURVEY.md §7.0: the engine needs ring-expandable
  *     hierarchical cells, not H3 wire-format compatibility.
  *   - supertile: the reference's 100 km x 100 km polar-stereographic mosaic
  *     grid `{rr}_{cc}` with `{i}_{j}` quartertile suffix
  *     (`lib/dem.py:106-112,1820-1853`; quartering per
  *     `attic/divide_setsm_tiles.py:231-241`).
  */
object Cells {

  // ------------------------------------------------------------- geocell

  /** Geocell of a lon/lat as a Column (codegen kernel expression — one
    * static call, no UDF). Exact semantics of lib/dem.py:747-752: letter by
    * sign, number by abs(floor(coord)). A single call instead of a
    * concat/lpad tree: join-key null checks inline the expression into
    * Filter conditions several times, and Filter codegen has no
    * subexpression elimination — the tree form measured 6× a salted join's
    * entire cost.
    */
  def geocellCol(lon: Column, lat: Column): Column =
    org.apache.spark.sql.graft.CellExpressions.geocell_expr(lon, lat)

  def geocell(lon: Double, lat: Double): String = {
    val latL = if (lat >= 0) "n" else "s"
    val lonL = if (lon >= 0) "e" else "w"
    f"$latL${math.abs(math.floor(lat)).toInt}%02d$lonL${math.abs(math.floor(lon)).toInt}%03d"
  }

  // ------------------------------------------------------------- quadkey

  /** Max level such that cell ids fit a positive Long (2 bits/level + level tag). */
  val MaxLevel = 28

  def cellsPerAxis(level: Int): Long = 1L << level

  /** Grid x index at level for a longitude (wraps the antimeridian edge). */
  def xIndex(lon: Double, level: Int): Long = {
    val n = cellsPerAxis(level)
    val i = math.floor((lon + 180.0) / 360.0 * n).toLong
    math.min(math.max(i, 0L), n - 1)
  }

  def yIndex(lat: Double, level: Int): Long = {
    val n = cellsPerAxis(level)
    val i = math.floor((90.0 - lat) / 180.0 * n).toLong
    math.min(math.max(i, 0L), n - 1)
  }

  /** Z-order interleave of x (even bits) and y (odd bits), tagged with level
    * in the top byte so ids from different levels never collide.
    */
  def cellId(x: Long, y: Long, level: Int): Long = {
    var morton = 0L
    var i = 0
    while (i < level) {
      morton |= ((x >> i) & 1L) << (2 * i)
      morton |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    (level.toLong << 57) | morton
  }

  def cellAt(lon: Double, lat: Double, level: Int): Long =
    cellId(xIndex(lon, level), yIndex(lat, level), level)

  def cellLevel(cell: Long): Int = (cell >> 57).toInt

  /** De-interleave a cell id back to (x, y). */
  def cellXY(cell: Long): (Long, Long) = {
    val level = cellLevel(cell)
    var x = 0L; var y = 0L
    var i = 0
    while (i < level) {
      x |= ((cell >> (2 * i)) & 1L) << i
      y |= ((cell >> (2 * i + 1)) & 1L) << i
      i += 1
    }
    (x, y)
  }

  def parent(cell: Long): Long = {
    val level = cellLevel(cell)
    require(level > 0, "root cell has no parent")
    val (x, y) = cellXY(cell)
    cellId(x >> 1, y >> 1, level - 1)
  }

  /** Cell lon/lat bounds (minLon, minLat, maxLon, maxLat). */
  def cellBounds(cell: Long): (Double, Double, Double, Double) = {
    val level = cellLevel(cell)
    val n = cellsPerAxis(level).toDouble
    val (x, y) = cellXY(cell)
    val minLon = x / n * 360.0 - 180.0
    val maxLon = (x + 1) / n * 360.0 - 180.0
    val maxLat = 90.0 - y / n * 180.0
    val minLat = 90.0 - (y + 1) / n * 180.0
    (minLon, minLat, maxLon, maxLat)
  }

  /** Cells at exactly Chebyshev grid distance k ("ring k" — the kNN
    * expanding-ring search unit). Longitude wraps at the antimeridian;
    * latitude clamps at the poles. k=0 returns the cell itself.
    */
  def ringK(cell: Long, k: Int): Array[Long] = {
    val level = cellLevel(cell)
    val n = cellsPerAxis(level)
    val (cx, cy) = cellXY(cell)
    if (k == 0) return Array(cell)
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    var dx = -k
    while (dx <= k) {
      var dy = -k
      while (dy <= k) {
        if (math.max(math.abs(dx), math.abs(dy)) == k) {
          val y = cy + dy
          if (y >= 0 && y < n) {
            val x = ((cx + dx) % n + n) % n // wrap lon
            out += cellId(x, y, level)
          }
        }
        dy += 1
      }
      dx += 1
    }
    out.distinct.toArray
  }

  /** All cells within Chebyshev distance <= k (disk). */
  def diskK(cell: Long, k: Int): Array[Long] =
    (0 to k).flatMap(ringK(cell, _)).toArray

  /** Cells at `level` overlapping the bbox — polygon cover for the PIP join.
    * Handles antimeridian-crossing boxes when minLon > maxLon.
    */
  def coverBBox(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
                level: Int): Array[Long] = {
    val n = cellsPerAxis(level)
    val y0 = yIndex(maxLat, level) // note: y grows southward
    val y1 = yIndex(minLat, level)
    val xRanges: Seq[(Long, Long)] =
      if (minLon <= maxLon) Seq((xIndex(minLon, level), xIndex(maxLon, level)))
      else Seq((xIndex(minLon, level), n - 1), (0L, xIndex(maxLon, level)))
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    for ((xa, xb) <- xRanges; x <- xa to xb; y <- y0 to y1)
      out += cellId(x, y, level)
    out.toArray
  }

  /** Cover cells of a polygon ring with an interior flag per cell:
    * interior=true means the whole cell is inside the ring, so points in it
    * need NO exact PIP test (the fast path of SURVEY.md §4 item 1). Every
    * bbox cell is kept; the exact per-point PIP refine drops false positives
    * from the non-interior ones.
    */
  def coverRing(ring: Array[Double], level: Int): Array[(Long, Boolean)] = {
    val (minx, miny, maxx, maxy) = Geom.bbox(ring)
    coverBBox(minx, miny, maxx, maxy, level).map { c =>
      val (cMinLon, cMinLat, cMaxLon, cMaxLat) = cellBounds(c)
      (c, Geom.containsBox(ring, cMinLon, cMinLat, cMaxLon, cMaxLat))
    }
  }

  // ------------------------------------------------------------ supertile

  /** Supertile name `{rr}_{cc}` of a projected (x, y) on the 100 km grid,
    * per the reference tile scheme (lib/dem.py:106-112; tile origin rows/cols
    * are floor(coord/100km); see also attic/divide_setsm_tiles.py:305-328).
    */
  def supertile(x: Double, y: Double): String = {
    val r = math.floor(y / 100000.0).toInt
    val c = math.floor(x / 100000.0).toInt
    f"$r%02d_$c%02d"
  }

  /** Quartertile `{i}_{j}` (1-based, row-major from the tile origin),
    * reproducing the equal-box subdivision of
    * attic/divide_setsm_tiles.py:231-241.
    */
  def quartertile(x: Double, y: Double, numRows: Int = 2, numCols: Int = 2): String = {
    val fx = x / 100000.0 - math.floor(x / 100000.0)
    val fy = y / 100000.0 - math.floor(y / 100000.0)
    val i = math.min((fy * numRows).toInt + 1, numRows)
    val j = math.min((fx * numCols).toInt + 1, numCols)
    s"${i}_$j"
  }

  /** Full tile id for a lon/lat in a polar region: project to 3413/3031 and
    * grid. Mid-latitudes use the UTM scheme prefix `utm{zz}{n|s}_` as in
    * lib/dem.py:106-112.
    */
  def tileId(lon: Double, lat: Double): String = {
    if (lat >= 50.0) {
      val (x, y) = Proj.psForward(lon, lat, north = true)
      supertile(x, y) + "_" + quartertile(x, y)
    } else if (lat <= -50.0) {
      val (x, y) = Proj.psForward(lon, lat, north = false)
      supertile(x, y) + "_" + quartertile(x, y)
    } else {
      val epsg = Proj.utmEpsg(lon, lat)
      val (x, y) = Proj.utmForward(lon, lat, epsg)
      val zz = f"${epsg % 100}%02d"
      val ns = if (lat >= 0) "n" else "s"
      s"utm$zz$ns" + "_" + supertile(x, y) + "_" + quartertile(x, y)
    }
  }
}
