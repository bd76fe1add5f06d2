package graft

import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.{Coordinate, GeometryFactory, Polygon}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graft.GraftKernels
import graft.geom.Geom
import graft.crs.Proj
import graft.cells.Cells

class GeomSpec extends AnyFunSuite {

  /** Seeded property loop (scalatestplus-scalacheck not in offline cache). */
  private def prop(n: Int = 200)(f: scala.util.Random => Unit): Unit = {
    val rnd = new scala.util.Random(42)
    (1 to n).foreach(_ => f(rnd))
  }
  private def in(rnd: scala.util.Random, lo: Double, hi: Double): Double =
    lo + rnd.nextDouble() * (hi - lo)

  private val unitSquare = Array(0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 1.0)

  test("shoelace area of unit square") {
    assert(Geom.area(unitSquare) === 1.0)
    assert(Geom.signedArea(unitSquare) === 1.0) // CCW positive
  }

  test("centroid of unit square") {
    assert(Geom.centroid(unitSquare) === ((0.5, 0.5)))
  }

  test("PIP: interior, exterior, boundary, vertex") {
    assert(Geom.contains(unitSquare, 0.5, 0.5))
    assert(!Geom.contains(unitSquare, 1.5, 0.5))
    assert(Geom.contains(unitSquare, 1.0, 0.5), "edge point counts as inside")
    assert(Geom.contains(unitSquare, 0.0, 0.0), "vertex counts as inside")
    assert(!Geom.contains(unitSquare, -1e-12, 0.5))
  }

  test("PIP on a concave polygon") {
    // L-shape: notch at top-right
    val l = Array(0.0, 0.0, 2.0, 0.0, 2.0, 1.0, 1.0, 1.0, 1.0, 2.0, 0.0, 2.0)
    assert(Geom.contains(l, 0.5, 1.5))
    assert(!Geom.contains(l, 1.5, 1.5), "notch is outside")
    assert(Geom.contains(l, 1.5, 0.5))
  }

  test("PIP matches bbox test for random rects (property)") {
    prop() { rnd =>
      val x0 = in(rnd, -170, 170); val y0 = in(rnd, -80, 80)
      val w = in(rnd, 0.1, 10); val h = in(rnd, 0.1, 10)
      val px = in(rnd, -170, 170); val py = in(rnd, -80, 80)
      val rect = Array(x0, y0, x0 + w, y0, x0 + w, y0 + h, x0, y0 + h)
      val expected = px >= x0 && px <= x0 + w && py >= y0 && py <= y0 + h
      assert(Geom.contains(rect, px, py) === expected)
    }
  }

  test("containsBox: interior cell fast-path soundness (never true when outside)") {
    val poly = Array(0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0)
    assert(Geom.containsBox(poly, 2, 2, 3, 3))
    assert(!Geom.containsBox(poly, 9, 9, 11, 11)) // sticks out
    assert(!Geom.containsBox(poly, 20, 20, 21, 21)) // fully outside
  }

  test("antimeridian split reproduces lib/utils.py:755-838 semantics") {
    // rect crossing 180: wrapped vertex coords
    val ring = Array(179.5, 10.0, -179.7, 10.0, -179.7, 11.0, 179.5, 11.0)
    assert(Geom.crossesAntimeridian(ring))
    val parts = Geom.splitAntimeridian(ring)
    assert(parts.size === 2)
    val west = parts.find(p => Geom.bbox(p)._1 < 0).get
    val east = parts.find(p => Geom.bbox(p)._1 >= 0).get
    assert(Geom.bbox(west) === ((-180.0, 10.0, -179.7, 11.0)))
    assert(Geom.bbox(east) === ((179.5, 10.0, 180.0, 11.0)))
  }

  test("antimeridian split: non-crossing polygon stays single") {
    val ring = Array(10.0, 10.0, 11.0, 10.0, 11.0, 11.0, 10.0, 11.0)
    assert(!Geom.crossesAntimeridian(ring))
  }

  test("polar stereographic roundtrip (3413 north / 3031 south)") {
    for ((lon, lat, epsg) <- Seq((-45.0, 70.0, 3413), (12.3, 82.5, 3413),
                                 (100.0, -75.0, 3031), (-170.0, -85.0, 3031))) {
      val (x, y) = Proj.forward(lon, lat, epsg)
      val (lon2, lat2) = Proj.inverse(x, y, epsg)
      assert(math.abs(lon2 - lon) < 1e-7, s"lon roundtrip $epsg: $lon -> $lon2")
      assert(math.abs(lat2 - lat) < 1e-7, s"lat roundtrip $epsg: $lat -> $lat2")
    }
  }

  test("polar stereographic known value: pole maps to origin-ish") {
    val (x, y) = Proj.psForward(0.0, 90.0, north = true)
    assert(math.abs(x) < 1e-6 && math.abs(y) < 1e-6)
  }

  test("UTM roundtrip + known zone properties") {
    for ((lon, lat) <- Seq((9.0, 48.0), (-122.3, 47.6), (151.2, -33.9), (3.0, 0.5))) {
      val epsg = Proj.utmEpsg(lon, lat)
      val (x, y) = Proj.utmForward(lon, lat, epsg)
      val (lon2, lat2) = Proj.utmInverse(x, y, epsg)
      assert(math.abs(lon2 - lon) < 1e-7, s"utm lon roundtrip: $lon -> $lon2")
      assert(math.abs(lat2 - lat) < 1e-7, s"utm lat roundtrip: $lat -> $lat2")
    }
    // central meridian of zone 32N is 9E: easting = 500000 exactly
    val (e, _) = Proj.utmForward(9.0, 48.0, 32632)
    assert(math.abs(e - 500000.0) < 1e-6)
  }

  test("UTM roundtrip property over valid domain") {
    prop() { rnd =>
      val lon = in(rnd, -179.9, 179.9); val lat = in(rnd, -80, 80)
      val epsg = Proj.utmEpsg(lon, lat)
      val (x, y) = Proj.utmForward(lon, lat, epsg)
      val (lon2, lat2) = Proj.utmInverse(x, y, epsg)
      assert(math.abs(lon2 - lon) < 1e-6 && math.abs(lat2 - lat) < 1e-6, s"($lon,$lat)")
    }
  }

  test("geocell: reference examples + floor-then-abs semantics") {
    assert(Cells.geocell(-55.5, 67.3) === "n67w056") // FIXTURES.md example
    assert(Cells.geocell(0.5, -0.5) === "s01e000")   // floor(-0.5) = -1
    assert(Cells.geocell(-0.5, 0.5) === "n00w001")
    assert(Cells.geocell(179.999, 89.999) === "n89e179")
  }

  test("quadkey: parent/child nesting and xy roundtrip") {
    prop() { rnd =>
      val lon = in(rnd, -179.9, 179.9); val lat = in(rnd, -89.9, 89.9)
      val level = 1 + rnd.nextInt(20)
      val c = Cells.cellAt(lon, lat, level)
      assert(Cells.cellLevel(c) === level)
      val (x, y) = Cells.cellXY(c)
      assert(Cells.cellId(x, y, level) === c)
      val p = Cells.parent(c)
      val (minLon, minLat, maxLon, maxLat) = Cells.cellBounds(p)
      assert(lon >= minLon && lon <= maxLon && lat >= minLat && lat <= maxLat)
    }
  }

  test("cellBounds contains the generating point") {
    prop() { rnd =>
      val lon = in(rnd, -179.9, 179.9); val lat = in(rnd, -89.9, 89.9)
      val c = Cells.cellAt(lon, lat, 8)
      val (minLon, minLat, maxLon, maxLat) = Cells.cellBounds(c)
      assert(lon >= minLon && lon < maxLon + 1e-9)
      assert(lat > minLat - 1e-9 && lat <= maxLat + 1e-9)
    }
  }

  test("ringK: counts, disjointness, wrap") {
    val c = Cells.cellAt(0.0, 0.0, 6)
    assert(Cells.ringK(c, 0).toSeq === Seq(c))
    assert(Cells.ringK(c, 1).length === 8)
    assert(Cells.ringK(c, 2).length === 16)
    assert(Cells.diskK(c, 2).distinct.length === 25)
    // near the antimeridian the ring must wrap, not clip, in x
    val edge = Cells.cellAt(-179.99, 0.0, 6)
    assert(Cells.ringK(edge, 1).length === 8)
    // near the pole the ring clips in y
    val pole = Cells.cellAt(0.0, 89.99, 6)
    assert(Cells.ringK(pole, 1).length === 5)
  }

  test("coverBBox covers the cells of random inner points") {
    prop() { rnd =>
      val x0 = in(rnd, -170, 160); val y0 = in(rnd, -80, 70)
      val w = in(rnd, 0.1, 9); val h = in(rnd, 0.1, 9)
      val cover = Cells.coverBBox(x0, y0, x0 + w, y0 + h, 7).toSet
      for (fx <- Seq(0.01, 0.5, 0.99); fy <- Seq(0.01, 0.5, 0.99)) {
        val c = Cells.cellAt(x0 + fx * w, y0 + fy * h, 7)
        assert(cover.contains(c))
      }
    }
  }

  test("coverBBox handles antimeridian-crossing boxes (minLon > maxLon)") {
    val cover = Cells.coverBBox(179.0, 10.0, -179.0, 11.0, 7).toSet
    assert(cover.contains(Cells.cellAt(179.5, 10.5, 7)))
    assert(cover.contains(Cells.cellAt(-179.5, 10.5, 7)))
    assert(!cover.contains(Cells.cellAt(0.0, 10.5, 7)))
  }

  test("supertile/quartertile grid semantics (divide_setsm_tiles.py:231-241)") {
    assert(Cells.supertile(250000.0, 350000.0) === "03_02")
    // python '{:02d}'.format(-2) == "-2": sign counts toward the width
    assert(Cells.supertile(-50000.0, -150000.0) === "-2_-1")
    assert(Cells.quartertile(225000.0, 375000.0) === "2_1") // y frac .75 -> row 2, x frac .25 -> col 1
    assert(Cells.quartertile(275000.0, 325000.0) === "1_2")
  }

  // ------------------------------------------- differential against JTS

  private val jts = new GeometryFactory()

  private def jtsPolygon(ring: Array[Double]): Polygon = {
    val n = ring.length / 2
    jts.createPolygon((0 to n).map(i => i % n)
      .map(i => new Coordinate(ring(2 * i), ring(2 * i + 1))).toArray)
  }

  /** Star-shaped ring around (cx, cy), vertices at sorted random angles:
    * convex with one radius, concave in general with a radius per vertex. */
  private def starRing(rnd: scala.util.Random, cx: Double, cy: Double, r: Double,
                       concave: Boolean): Array[Double] = {
    val angles = Array.fill(3 + rnd.nextInt(10))(rnd.nextDouble() * 2 * math.Pi).sorted
    angles.flatMap { a =>
      val ri = if (concave) r * (0.2 + 0.8 * rnd.nextDouble()) else r
      Array(cx + ri * math.cos(a), cy + ri * math.sin(a))
    }
  }

  /** Rectilinear staircase ring with its lower-left corner at (x0, y0) and
    * steps `w` wide, heights in multiples of `h`: axis-aligned edges,
    * concave corners, and integer vertices when all four are integers. */
  private def stepRing(rnd: scala.util.Random, x0: Double, y0: Double,
                       w: Double, h: Double): Array[Double] = {
    val hs = Array.fill(2 + rnd.nextInt(6))(1 + rnd.nextInt(6))
    val top = hs.indices.reverse.flatMap(i =>
      Seq(x0 + (i + 1) * w, y0 + hs(i) * h, x0 + i * w, y0 + hs(i) * h))
    (Seq(x0, y0, x0 + hs.length * w, y0) ++ top).toArray
  }

  /** Valid rings of every kind: double-coordinate convex and concave stars,
    * integer-coordinate stars and integer staircases. */
  private def jtsRings(rnd: scala.util.Random, n: Int): Seq[Array[Double]] =
    (1 to n).flatMap { _ =>
      val (cx, cy) = (in(rnd, -130, 130).round.toDouble, in(rnd, -40, 40).round.toDouble)
      Seq(starRing(rnd, cx, cy, in(rnd, 0.5, 30), concave = false),
        starRing(rnd, cx, cy, in(rnd, 0.5, 30), concave = true),
        starRing(rnd, cx, cy, 2 + rnd.nextInt(5), concave = true).map(_.round.toDouble),
        stepRing(rnd, cx, cy, 1, 1))
    }.filter(r => jtsPolygon(r).isValid && Geom.area(r) > 0)

  test("PIP agrees with JTS covers on random convex, concave and integer rings (boundary = in)") {
    val rnd = new scala.util.Random(42)
    var onBoundary = 0
    for (ring <- jtsRings(rnd, 40)) {
      val poly = jtsPolygon(ring)
      val (minx, miny, maxx, maxy) = Geom.bbox(ring)
      val integer = ring.forall(v => v == v.round)
      // integer rings: every half-integer point around them, so each vertex,
      // edge midpoint and integer point on an axis-aligned edge is probed;
      // other rings: their vertices plus random points over the bbox
      val probes =
        if (integer) for (x <- (2 * minx - 2).toInt to (2 * maxx + 2).toInt;
                          y <- (2 * miny - 2).toInt to (2 * maxy + 2).toInt) yield (x / 2.0, y / 2.0)
        else ring.grouped(2).map(v => (v(0), v(1))).toSeq ++ Seq.fill(200)(
          (in(rnd, minx - 1, maxx + 1), in(rnd, miny - 1, maxy + 1)))
      val packed = UnsafeArrayData.fromPrimitiveArray(ring)
      for ((x, y) <- probes) {
        val expected = poly.covers(jts.createPoint(new Coordinate(x, y)))
        if (expected && !poly.contains(jts.createPoint(new Coordinate(x, y)))) onBoundary += 1
        assert(Geom.contains(ring, x, y) === expected, s"Geom.contains(${ring.mkString(",")}, $x, $y)")
        assert(GraftKernels.pip(packed, x, y) === expected, s"pip(${ring.mkString(",")}, $x, $y)")
      }
    }
    assert(onBoundary > 1000, s"only $onBoundary boundary probes")
  }

  test("containsBox is sound against JTS: an interior cover cell's box lies in the ring") {
    val rnd = new scala.util.Random(7)
    var interior = 0
    for (_ <- 1 to 60; level <- 4 to 7) {
      val (cw, ch) = (360.0 / (1L << level), 180.0 / (1L << level))
      // a staircase on the level's cell grid shares edges with its cells
      val ring =
        if (rnd.nextBoolean()) starRing(rnd, in(rnd, -130, 130), in(rnd, -40, 40), in(rnd, 5, 40),
          concave = rnd.nextBoolean())
        else stepRing(rnd, -180 + rnd.nextInt(1 << (level - 1)) * cw,
          -90 + rnd.nextInt(1 << (level - 1)) * ch, cw, ch)
      val poly = jtsPolygon(ring)
      for (sub <- 0 to 2; (cell, inside) <- Cells.coverRing(ring, level + sub) if inside) {
        val (x0, y0, x1, y1) = Cells.cellBounds(cell)
        interior += 1
        assert(poly.covers(jtsPolygon(Array(x0, y0, x1, y0, x1, y1, x0, y1))),
          s"cell $cell [$x0,$y0,$x1,$y1] marked interior of ${ring.mkString(",")}")
      }
    }
    assert(interior > 1000, s"only $interior interior cells")
  }

  test("area and centroid agree with JTS to a relative 1e-9") {
    def close(a: Double, b: Double) =
      math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
    for (ring <- jtsRings(new scala.util.Random(11), 100)) {
      val poly = jtsPolygon(ring)
      val (cx, cy) = Geom.centroid(ring)
      assert(close(Geom.area(ring), poly.getArea), s"area of ${ring.mkString(",")}")
      assert(close(cx, poly.getCentroid.getX) && close(cy, poly.getCentroid.getY),
        s"centroid of ${ring.mkString(",")}: ($cx, $cy) vs ${poly.getCentroid}")
    }
  }
}
