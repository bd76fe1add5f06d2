// Lives under org.apache.spark.sql to access the private[sql] Column<->Expression
// bridge (the standard SparkSessionExtensions-library pattern).
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils.{column, expression}
import org.apache.spark.sql.types._
import graft.cells.Cells

/** Static kernels called from generated code. A TOP-LEVEL object so Scala
  * emits static forwarders — `StaticInvoke` calls `GraftKernels.cellAt(...)`
  * as a static method, inline in generated Java and reflectively when
  * interpreted; a nested object has no statics to call.
  */
object GraftKernels {
    def cellAt(lon: Double, lat: Double, level: Int): Long = Cells.cellAt(lon, lat, level)
    /** Allocation-free ray cast directly over ArrayData (no double[] copy —
      * a copy per row at tens of millions of rows/sec is pure GC pressure).
      * Same semantics as [[graft.geom.Geom.contains]] (boundary = inside).
      */
    def pip(ring: ArrayData, px: Double, py: Double): Boolean = {
      val n = ring.numElements() / 2
      var inside = false
      var i = 0
      while (i < n) {
        val j = if (i + 1 == n) 0 else i + 1
        val xi = ring.getDouble(2 * i); val yi = ring.getDouble(2 * i + 1)
        val xj = ring.getDouble(2 * j); val yj = ring.getDouble(2 * j + 1)
        val cross = (xj - xi) * (py - yi) - (yj - yi) * (px - xi)
        if (cross == 0.0 &&
            px >= math.min(xi, xj) && px <= math.max(xi, xj) &&
            py >= math.min(yi, yj) && py <= math.max(yi, yj)) return true
        if ((yi > py) != (yj > py)) {
          val xCross = xi + (py - yi) / (yj - yi) * (xj - xi)
          if (px < xCross) inside = !inside
        }
        i += 1
      }
      inside
    }

    /** Reference tile id (polar-stereo/UTM 100 km supertile + quartertile,
      * lib/dem.py:106-112) — projection trig inlined in codegen. */
    def tileId(lon: Double, lat: Double): org.apache.spark.unsafe.types.UTF8String =
      org.apache.spark.unsafe.types.UTF8String.fromString(Cells.tileId(lon, lat))

    /** Cover cells of a flat ring as array<struct<cell:bigint, interior:boolean>>
      * (interior=true ⇒ points in the cell need no exact PIP test). Backs the
      * PipJoinRewrite optimizer rule's Generate node.
      */
    def coverCells(ring: ArrayData, level: Int): ArrayData = {
      val n = ring.numElements()
      val arr = new Array[Double](n)
      var i = 0
      while (i < n) { arr(i) = ring.getDouble(i); i += 1 }
      val cover = Cells.coverRing(arr, level)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        cover.map { case (c, in) =>
          org.apache.spark.sql.catalyst.InternalRow(c, in)
        })
    }

    /** Cells at Chebyshev grid distance in (lo, hi] of `cell` — the ring
      * slab one kNN escalation round explores ([[Cells.ringK]] per ring,
      * de-duplicated across the slab for the wrapped-longitude edge). A
      * kernel, not a Scala UDF: the slab expands per REMAINING query per
      * round, and the UDF form paid encoder serialization on that loop path.
      */
    def ringRange(cell: Long, lo: Int, hi: Int): ArrayData = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      var k = lo + 1
      while (k <= hi) { out ++= Cells.ringK(cell, k); k += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out.distinct.toArray)
    }

    /** Per-record reprojection roundtrip residual: forward to the row's
      * region CRS (polar stereo 3413/3031 or UTM), inverse back, return the
      * |Δlon|+|Δlat| residual — the per-record geometry-transform work the
      * reference does on every indexed item (index_setsm.py:986-1030
      * reprojects each footprint). Used by the compute-dense bench mode.
      */
    def projRoundtripErr(lon: Double, lat: Double): Double = {
      val epsg =
        if (lat >= 50.0) 3413
        else if (lat <= -50.0) 3031
        else graft.crs.Proj.utmEpsg(lon, lat)
      val (x, y) = graft.crs.Proj.forward(lon, lat, epsg)
      val (lon2, lat2) = graft.crs.Proj.inverse(x, y, epsg)
      math.abs(graft.crs.Proj.normLon(lon2) - graft.crs.Proj.normLon(lon)) +
        math.abs(lat2 - lat)
    }

    /** Geocell (lib/dem.py:747-752) as ONE static call. The pure-column
      * concat/lpad form is semantically identical but is a sizeable Catalyst
      * tree: pushed-down join-key null checks inline such trees several
      * times into Filter conditions, where codegen performs no
      * subexpression elimination (measured 6× the whole query's cost on a
      * salted join). A kernel call keeps every copy cheap.
      *
      * Digits are written directly into a 7-byte buffer — the scalar
      * `f"%02d"` path goes through java.util.Formatter and measured ~1.7×
      * slower than even the column tree in a plain aggregation key
      * (BENCH.md round-3 geocell A/B). Falls back to the formatter for
      * out-of-range coordinates (pad-never-truncate semantics there).
      */
    def geocell(lon: Double, lat: Double): org.apache.spark.unsafe.types.UTF8String = {
      val latN = math.abs(math.floor(lat)).toInt
      val lonN = math.abs(math.floor(lon)).toInt
      if (latN > 99 || lonN > 999) // {:02d}/{:03d} only pad, never truncate
        return org.apache.spark.unsafe.types.UTF8String.fromString(Cells.geocell(lon, lat))
      val b = new Array[Byte](7)
      b(0) = if (lat >= 0) 'n' else 's'
      b(1) = ('0' + latN / 10).toByte
      b(2) = ('0' + latN % 10).toByte
      b(3) = if (lon >= 0) 'e' else 'w'
      b(4) = ('0' + lonN / 100).toByte
      b(5) = ('0' + lonN / 10 % 10).toByte
      b(6) = ('0' + lonN % 10).toByte
      org.apache.spark.unsafe.types.UTF8String.fromBytes(b)
    }

    /** Exact dot product of two equal-length long arrays (integer-quantized
      * embeddings) — allocation-free. */
    def dotLongs(a: ArrayData, b: ArrayData): Long = {
      val n = a.numElements()
      var acc = 0L
      var i = 0
      while (i < n) { acc += a.getLong(i) * b.getLong(i); i += 1 }
      acc
    }

    /** Exactly-one-tile pick over (pid, ring, interior) candidate structs
      * plus the match count, in ONE candidate pass: returns
      * struct(pid: pid-if-exactly-one-else-null, n: total matches). The count
      * feeds the J2 skip metrics (the reference warns and reports ALL
      * overlapping tiles, lib/utils.py:694-702, so no early exit at 2).
      */
    def shelvePickN(cands: ArrayData, px: Double, py: Double): org.apache.spark.sql.catalyst.InternalRow = {
      var picked: org.apache.spark.unsafe.types.UTF8String = null
      var hits = 0
      var i = 0
      val n = cands.numElements()
      while (i < n) {
        val row = cands.getStruct(i, 3)
        val in = row.getBoolean(2) || pip(row.getArray(1), px, py)
        if (in) { hits += 1; picked = row.getUTF8String(0) }
        i += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](if (hits == 1) picked else null, hits))
    }
}

/** Catalyst-native cell/geometry expressions — the promotion path of
  * SURVEY.md §4 item 4 (UDF → Catalyst expression). A Scala UDF pays encoder
  * serialization per row and blocks codegen fusion; these are Spark
  * `StaticInvoke` calls of the [[GraftKernels]] methods, so the stage's
  * generated Java calls the kernel inline and cell encoding fuses with the
  * surrounding projection (the "vectorized batched encoder" intent of the
  * north star: the batch is the whole-stage-codegen loop over columnar
  * parquet batches). Interpreted evaluation calls the same method
  * reflectively, so both modes run one Scala method.
  *
  * Each call declares its input types, so the analyzer casts numeric and
  * array arguments (a decimal or integer lon/lat, an `array<int>` ring) the
  * same way for Column builders and SQL text.
  */
object CellExpressions {

  /** One kernel method call as a Catalyst expression. A null argument gives
    * a null result; otherwise the result is non-null unless `nullOnEmpty`
    * (the kernel itself returns null on an empty input set). */
  private[graft] def kernelCall(kernels: AnyRef, fn: String, dataType: DataType,
      args: Seq[Expression], inputTypes: Seq[AbstractDataType],
      nullOnEmpty: Boolean = false): Expression =
    StaticInvoke(kernels.getClass, dataType, fn, args, inputTypes,
      propagateNull = true, returnNullable = nullOnEmpty)

  private def call(fn: String, dataType: DataType, inputTypes: AbstractDataType*)(
      args: Expression*): Expression =
    kernelCall(GraftKernels, fn, dataType, args, inputTypes)

  /** A flat ring: x0, y0, x1, y1, ... */
  private val Ring = ArrayType(DoubleType)

  def cellAt(lon: Expression, lat: Expression, level: Expression): Expression =
    call("cellAt", LongType, DoubleType, DoubleType, IntegerType)(lon, lat, level)

  /** Exact ray-cast PIP over a flat ring. */
  def pip(ring: Expression, px: Expression, py: Expression): Expression =
    call("pip", BooleanType, Ring, DoubleType, DoubleType)(ring, px, py)

  /** Matches a [[pip]] call — the conjunct PipJoinRewrite rewrites. */
  object PipContains {
    def unapply(e: Expression): Option[(Expression, Expression, Expression)] = e match {
      case StaticInvoke(cls, _, "pip", Seq(ring, px, py), _, _, _, _, _)
          if cls == GraftKernels.getClass => Some((ring, px, py))
      case _ => None
    }
  }

  /** Reference supertile/quartertile id via the real CRS projection. */
  def tileId(lon: Expression, lat: Expression): Expression =
    call("tileId", StringType, DoubleType, DoubleType)(lon, lat)

  /** Cover cells of a ring at a level — the generator input of the
    * PipJoinRewrite rule. */
  def coverCells(ring: Expression, level: Expression): Expression =
    call("coverCells",
      ArrayType(StructType(Seq(
        StructField("cell", LongType, nullable = false),
        StructField("interior", BooleanType, nullable = false))), containsNull = false),
      Ring, IntegerType)(ring, level)

  def projRoundtripErr(lon: Expression, lat: Expression): Expression =
    call("projRoundtripErr", DoubleType, DoubleType, DoubleType)(lon, lat)

  /** Geocell string (see GraftKernels.geocell). */
  def geocell(lon: Expression, lat: Expression): Expression =
    call("geocell", StringType, DoubleType, DoubleType)(lon, lat)

  /** Integer dot product of two array<long> columns. */
  def dotLongs(a: Expression, b: Expression): Expression =
    call("dotLongs", LongType, ArrayType(LongType), ArrayType(LongType))(a, b)

  def cover_cells(ring: Column, level: Int): Column =
    column(coverCells(expression(ring), Literal(level)))

  def dot_longs(a: Column, b: Column): Column = column(dotLongs(expression(a), expression(b)))

  def proj_roundtrip_err(lon: Column, lat: Column): Column =
    column(projRoundtripErr(expression(lon), expression(lat)))

  def geocell_expr(lon: Column, lat: Column): Column =
    column(geocell(expression(lon), expression(lat)))

  def tile_id(lon: Column, lat: Column): Column = column(tileId(expression(lon), expression(lat)))

  /** One-pass exactly-one-tile pick (J2 shelve rule) over a per-cell
    * candidate array of structs (pid string, ring array<double>, interior
    * boolean), plus the match count, as a struct (pid: STRING, null when 0
    * or >1 tiles contain the point; n: INT). A single kernel call instead of
    * a higher-order filter lambda (HOFs like ArrayFilter are
    * CodegenFallback). Materialized into its own projection by
    * [[graft.ops.PipJoin.shelve]] so the plan carries exactly ONE call site —
    * field extraction above it touches only the struct attribute.
    */
  def shelve_pick_n(cands: Column, px: Column, py: Column): Column =
    column(call("shelvePickN",
      StructType(Seq(
        StructField("pid", StringType, nullable = true),
        StructField("n", IntegerType, nullable = false))),
      ArrayType, DoubleType, DoubleType)(expression(cands), expression(px), expression(py)))

  /** Ring slab (Chebyshev cell distance in (lo, hi]) as array<long> — the
    * explode source of each [[graft.ops.KnnJoin.knn]] ring pass, with a
    * per-row lo and hi; empty when hi ≤ lo. */
  def ring_range(cell: Column, lo: Column, hi: Column): Column =
    column(call("ringRange", ArrayType(LongType, containsNull = false),
      LongType, IntegerType, IntegerType)(expression(cell), expression(lo), expression(hi)))

  /** Column API: cell id at a quadkey level — codegen-fused, no UDF. */
  def cell_at(lon: Column, lat: Column, level: Int): Column =
    column(cellAt(expression(lon), expression(lat), Literal(level)))

  /** Column API: exact PIP over a flat ring (array<double>) column. */
  def st_contains(ring: Column, px: Column, py: Column): Column =
    column(pip(expression(ring), expression(px), expression(py)))
}
