package graft.raster

import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, LineString, LinearRing,
  MultiPolygon, Polygon}

import Rasterizer.Options

/** Hand-computable small-grid goldens pinning the rasterizer kernel's
  * semantics (SURVEY §7 "what's hard": edge rules must be stable).
  * Grid: 8×8 cells over extent (0,0)-(8,8), cell size 1 → cell (c,r)
  * has center (c+0.5, 7.5-r); row 0 on top.
  */
class RasterizerSpec extends AnyFunSuite {

  private val gf = new GeometryFactory()
  private val re = RasterExtent(Extent(0, 0, 8, 8), 8, 8)

  private def poly(pts: (Double, Double)*) =
    gf.createPolygon(pts.map { case (x, y) => new Coordinate(x, y) }.toArray)

  private def cells(g: org.locationtech.jts.geom.Geometry, opts: Options = Rasterizer.DEFAULT) = {
    val b = scala.collection.mutable.Set.empty[(Int, Int)]
    Rasterizer.foreachCellByPolygon(g, re, opts)((c, r) => b += ((c, r)))
    b.toSet
  }

  private def lineCells(g: org.locationtech.jts.geom.Geometry) = {
    val b = scala.collection.mutable.Set.empty[(Int, Int)]
    Rasterizer.foreachCellByLines(g, re)((c, r) => b += ((c, r)))
    b.toSet
  }

  test("unit-aligned square covers exactly its cells (PixelIsPoint)") {
    // square [2,5]×[2,5] → centers inside: cols 2..4 × map-y 2..5
    // map y in (2,5) → centers 2.5,3.5,4.5 → rows 7-ceil: rows 3,4,5
    val s = poly((2, 2), (5, 2), (5, 5), (2, 5), (2, 2))
    val got = cells(s)
    val want = (for (c <- 2 to 4; r <- 3 to 5) yield (c, r)).toSet
    assert(got == want)
  }

  test("cell-center boundary: half-open rule excludes right/top edge") {
    // square [2.5, 4.5]² has centers (2.5,y),(3.5,y),(4.5,y) on edges:
    // left/bottom edge centers included, right/top excluded
    val s = poly((2.5, 2.5), (4.5, 2.5), (4.5, 4.5), (2.5, 4.5), (2.5, 2.5))
    val got = cells(s)
    // x centers: 2.5 (col 2, on left edge: included), 3.5 (col 3);
    // 4.5 (col 4, on right edge: excluded)
    // y centers: 2.5 (row 5, bottom edge: y>=ylo half-open → included), 3.5 (row 4), 4.5 (row 3: excluded)
    val want = (for (c <- 2 to 3; r <- 4 to 5) yield (c, r)).toSet
    assert(got == want)
  }

  test("polygon with hole excludes the hole (even-odd)") {
    val outer = Seq((0.0, 0.0), (8.0, 0.0), (8.0, 8.0), (0.0, 8.0), (0.0, 0.0))
    val hole = Seq((3.0, 3.0), (5.0, 3.0), (5.0, 5.0), (3.0, 5.0), (3.0, 3.0))
    val p = gf.createPolygon(
      gf.createLinearRing(outer.map { case (x, y) => new Coordinate(x, y) }.toArray),
      Array(gf.createLinearRing(hole.map { case (x, y) => new Coordinate(x, y) }.toArray)))
    val got = cells(p)
    assert(got.size == 64 - 4)
    assert(!got.contains((3, 3)) && !got.contains((4, 4)))
  }

  test("PixelIsArea+includePartial ⊇ PixelIsPoint, adds partial cells") {
    // small square [2.2,2.8]×[2.2,2.8] inside cell (2, 5): no center
    // inside (center 2.5,2.5 IS inside!) — use [2.6,2.9]² instead: no
    // center inside, but intersects cell (2,5)
    val tiny = poly((2.6, 2.6), (2.9, 2.6), (2.9, 2.9), (2.6, 2.9), (2.6, 2.6))
    assert(cells(tiny) == Set.empty)
    assert(cells(tiny, Options(includePartial = true, pixelIsArea = true)) == Set((2, 5)))
  }

  test("PixelIsArea monotonicity on a diamond") {
    val diamond = poly((4, 1), (7, 4), (4, 7), (1, 4), (4, 1))
    val point = cells(diamond)
    val area = cells(diamond, Options(includePartial = true, pixelIsArea = true))
    val full = cells(diamond, Options(includePartial = false, pixelIsArea = true))
    assert(point.subsetOf(area))
    assert(full.subsetOf(point))
    assert(full.nonEmpty && area.size > point.size)
  }

  test("mask(A∪B) ⊇ mask(A) (union monotonicity)") {
    val a = poly((1, 1), (3, 1), (3, 3), (1, 3), (1, 1))
    val b = poly((4, 4), (7, 4), (7, 7), (4, 7), (4, 4))
    val union = a.union(b)
    assert(cells(a).subsetOf(cells(union)))
    assert(cells(b).subsetOf(cells(union)))
  }

  test("horizontal line supercover") {
    val l = gf.createLineString(Array(new Coordinate(0.5, 2.5), new Coordinate(6.5, 2.5)))
    // y=2.5 → row 5; x 0.5..6.5 → cols 0..6
    assert(lineCells(l) == (0 to 6).map((_, 5)).toSet)
  }

  test("diagonal line supercover includes every crossed cell") {
    val l = gf.createLineString(Array(new Coordinate(0.5, 0.5), new Coordinate(3.5, 3.5)))
    val got = lineCells(l)
    // diagonal from cell (0,7) to (3,4): crosses 4 diagonal cells plus
    // the edge-adjacent ones the segment passes through
    assert(got.contains((0, 7)) && got.contains((3, 4)))
    assert(got.size >= 4)
    // supercover: consecutive cells are 4-connected (no diagonal jumps)
    val sorted = got.toSeq.sortBy { case (c, r) => (c, -r) }
    sorted.sliding(2).foreach {
      case Seq((c1, r1), (c2, r2)) =>
        assert(math.abs(c1 - c2) + math.abs(r1 - r2) <= 2)
      case _ =>
    }
  }

  test("vertical line stays in one column") {
    val l = gf.createLineString(Array(new Coordinate(3.5, 1.5), new Coordinate(3.5, 6.5)))
    val got = lineCells(l)
    assert(got.forall(_._1 == 3))
    assert(got == (1 to 6).map(r => (3, 7 - r)).toSet)
  }

  test("multi-segment polyline dedups shared cells") {
    val l = gf.createMultiLineString(Array(
      gf.createLineString(Array(new Coordinate(0.5, 0.5), new Coordinate(3.5, 0.5))),
      gf.createLineString(Array(new Coordinate(3.5, 0.5), new Coordinate(3.5, 3.5)))))
    val got = lineCells(l)
    // corner cell (3,7) appears once in the set by construction
    assert(got == ((0 to 3).map((_, 7)) ++ (4 to 7).map(r => (3, r))).toSet)
  }

  test("empty and degenerate geometries produce no cells") {
    assert(cells(gf.createPolygon()) == Set.empty)
    assert(lineCells(gf.createLineString()) == Set.empty)
  }

  test("includePartial=false with PixelIsPoint is plain center-sampling (GeoTrellis parity)") {
    // a sampled point is never "partial": the flag only subtracts on
    // the PixelIsArea branch, so with pixelIsArea=false both flag
    // values must produce identical masks — on a boundary-crossing
    // polygon where the PixelIsArea branch WOULD differ
    val g = poly((1.4, 1.4), (6.6, 1.4), (6.6, 6.6), (1.4, 6.6), (1.4, 1.4))
    val point = cells(g, Options(includePartial = true, pixelIsArea = false))
    val noPartial = cells(g, Options(includePartial = false, pixelIsArea = false))
    assert(noPartial == point && point.nonEmpty)
    // sanity: the same flag flip DOES change the PixelIsArea result
    assert(cells(g, Options(includePartial = false, pixelIsArea = true)) !=
      cells(g, Options(includePartial = true, pixelIsArea = true)))
  }

  test("property: center scanline equals JTS point-in-polygon on random convex polygons") {
    // independent per-cell oracle: PreparedGeometry.contains(center).
    // Random doubles never place a center exactly on an edge, so the
    // half-open tie rule can't fire and the two definitions coincide.
    val re16 = RasterExtent(Extent(0, 0, 16, 16), 16, 16)
    val rnd = new scala.util.Random(4242)
    for (trial <- 0 until 25) {
      val pts = Array.fill(3 + rnd.nextInt(8))(
        new Coordinate(rnd.nextDouble() * 16, rnd.nextDouble() * 16))
      val hull = new org.locationtech.jts.algorithm.ConvexHull(pts, gf).getConvexHull
      if (hull.getDimension == 2) {
        val got = {
          val b = scala.collection.mutable.Set.empty[(Int, Int)]
          Rasterizer.foreachCellByPolygon(hull, re16)((c, r) => b += ((c, r)))
          b.toSet
        }
        val prep = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(hull)
        val want = (for {
          c <- 0 until 16; r <- 0 until 16
          p = gf.createPoint(new Coordinate(re16.colCenter(c), re16.rowCenter(r)))
          if prep.contains(p)
        } yield (c, r)).toSet
        assert(got == want, s"trial $trial hull=$hull")
      }
    }
  }

  test("property: PixelIsArea+fully-inside equals JTS covers on random polygons") {
    val re16 = RasterExtent(Extent(0, 0, 16, 16), 16, 16)
    val rnd = new scala.util.Random(1313)
    for (trial <- 0 until 15) {
      val pts = Array.fill(3 + rnd.nextInt(6))(
        new Coordinate(rnd.nextDouble() * 16, rnd.nextDouble() * 16))
      val hull = new org.locationtech.jts.algorithm.ConvexHull(pts, gf).getConvexHull
      if (hull.getDimension == 2) {
        val got = {
          val b = scala.collection.mutable.Set.empty[(Int, Int)]
          Rasterizer.foreachCellByPolygon(hull, re16,
            Options(includePartial = false, pixelIsArea = true))((c, r) => b += ((c, r)))
          b.toSet
        }
        val prep = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(hull)
        val want = (for {
          c <- 0 until 16; r <- 0 until 16
          cell = re16.cellExtent(c, r)
          if prep.covers(gf.toGeometry(cell.toEnvelope))
        } yield (c, r)).toSet
        assert(got == want, s"trial $trial hull=$hull")
      }
    }
  }

  test("property: PixelIsArea+includePartial equals JTS cell-intersects on random polygons") {
    val re16 = RasterExtent(Extent(0, 0, 16, 16), 16, 16)
    val rnd = new scala.util.Random(777)
    for (trial <- 0 until 15) {
      val pts = Array.fill(3 + rnd.nextInt(6))(
        new Coordinate(rnd.nextDouble() * 16, rnd.nextDouble() * 16))
      val hull = new org.locationtech.jts.algorithm.ConvexHull(pts, gf).getConvexHull
      if (hull.getDimension == 2) {
        val got = {
          val b = scala.collection.mutable.Set.empty[(Int, Int)]
          Rasterizer.foreachCellByPolygon(hull, re16,
            Options(includePartial = true, pixelIsArea = true))((c, r) => b += ((c, r)))
          b.toSet
        }
        val prep = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(hull)
        val want = (for {
          c <- 0 until 16; r <- 0 until 16
          cell = re16.cellExtent(c, r)
          if prep.intersects(gf.toGeometry(cell.toEnvelope))
        } yield (c, r)).toSet
        assert(got == want, s"trial $trial hull=$hull")
      }
    }
  }

  // ---- differential properties of the active-edge scanline ----

  /** The scanline as it was before its active-edge rewrite: every
    * edge tested against every row, crossings boxed and sorted with
    * `xs.sorted`. Kept, logic unchanged, as the oracle for the rewrite.
    */
  private def legacyScanlineCenters(polys: Seq[Polygon], re: RasterExtent)
                                   (f: (Int, Int) => Unit): Unit = {
    val edges = new scala.collection.mutable.ArrayBuffer[(Double, Double, Double, Double)]
    var ymin = Double.MaxValue
    var ymax = Double.MinValue
    polys.foreach { p =>
      rings(p).foreach { ring =>
        val cs = ring.getCoordinates
        var i = 0
        while (i < cs.length - 1) {
          val a = cs(i); val b = cs(i + 1)
          if (a.y != b.y) edges += ((a.x, a.y, b.x, b.y))
          ymin = math.min(ymin, math.min(a.y, b.y))
          ymax = math.max(ymax, math.max(a.y, b.y))
          i += 1
        }
      }
    }
    if (edges.isEmpty) return
    val r0 = math.max(0, re.mapYToGrid(ymax))
    val r1 = math.min(re.rows - 1, re.mapYToGrid(ymin))
    val xs = new scala.collection.mutable.ArrayBuffer[Double]
    var r = r0
    while (r <= r1) {
      val y = re.rowCenter(r)
      xs.clear()
      edges.foreach { case (x1, y1, x2, y2) =>
        val (ylo, yhi, xlo, xhi) = if (y1 < y2) (y1, y2, x1, x2) else (y2, y1, x2, x1)
        if (y >= ylo && y < yhi)
          xs += xlo + (y - ylo) / (yhi - ylo) * (xhi - xlo)
      }
      val sorted = xs.sorted
      var i = 0
      while (i + 1 < sorted.length) {
        val xEnter = sorted(i)
        val xExit = sorted(i + 1)
        var c = math.max(0, math.ceil((xEnter - re.extent.xmin) / re.cellW - 0.5).toInt)
        val cEnd = math.min(re.cols - 1,
          math.ceil((xExit - re.extent.xmin) / re.cellW - 0.5).toInt - 1)
        while (c <= cEnd) {
          f(c, r)
          c += 1
        }
        i += 2
      }
      r += 1
    }
  }

  private def rings(p: Polygon): Seq[LineString] =
    p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN)

  private def polygons(g: Geometry): Seq[Polygon] =
    (0 until g.getNumGeometries).map(g.getGeometryN(_).asInstanceOf[Polygon]).filterNot(_.isEmpty)

  private def visits(run: ((Int, Int) => Unit) => Unit): Seq[(Int, Int)] = {
    val b = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    run((c, r) => b += ((c, r)))
    b.toSeq
  }

  /** Tiles the properties rasterize on: unit cells, and cells whose
    * size and origin are not binary fractions.
    */
  private val genTile: Gen[RasterExtent] = Gen.oneOf(
    RasterExtent(Extent(0, 0, 8, 8), 8, 8),
    RasterExtent(Extent(0, 0, 8, 8), 6, 7),
    RasterExtent(Extent(-0.3, 0.1, 7.7, 8.1), 10, 9))

  /** A star-shaped ring around (cx, cy): 6–14 vertices at jittered,
    * evenly spread angles and radii in [rmin, rmax], closed. With
    * `snap`, every vertex is rounded to the half-unit grid, which puts
    * vertices on row centers and cell edges and makes runs of equal y
    * (horizontal edges); `flat` also copies some vertices' y from their
    * predecessor.
    */
  private def genRing(cx: Double, cy: Double, rmin: Double, rmax: Double,
                      snap: Boolean): Gen[Array[Coordinate]] = for {
    k <- Gen.choose(6, 14)
    jitter <- Gen.listOfN(k, Gen.choose(-0.3, 0.3))
    radii <- Gen.listOfN(k, Gen.choose(rmin, rmax))
    flat <- Gen.listOfN(k, Gen.choose(0, 5))
  } yield {
    def q(v: Double) = if (snap) math.rint(v * 2) / 2 else v
    val pts = new Array[Coordinate](k)
    for (i <- 0 until k) {
      val a = (i + jitter(i)) * 2 * math.Pi / k
      val y = if (i > 0 && flat(i) == 0) pts(i - 1).y else q(cy + radii(i) * math.sin(a))
      pts(i) = new Coordinate(q(cx + radii(i) * math.cos(a)), y)
    }
    pts :+ pts(0).copy()
  }

  /** A star polygon, with a hole half as wide as its shell or none. */
  private def genPolygon(cx: Double, cy: Double, rmin: Double, rmax: Double,
                         snap: Boolean): Gen[Polygon] = for {
    shell <- genRing(cx, cy, rmin, rmax, snap)
    holed <- Gen.oneOf(true, false)
    hole <- genRing(cx, cy, rmin * 0.2, rmin * 0.5, snap)
  } yield gf.createPolygon(gf.createLinearRing(shell),
    if (holed) Array(gf.createLinearRing(hole)) else Array.empty[LinearRing])

  /** Multipolygons that span the tile's edges: one large shape around
    * the tile's middle, or 1–3 shapes around distinct tile corners.
    * `snap` picks whether vertices are rounded to the half-unit grid.
    */
  private def genShape(snap: Gen[Boolean]): Gen[MultiPolygon] = for {
    snapped <- snap
    polys <- Gen.oneOf(
      for {
        cx <- Gen.choose(2.0, 6.0); cy <- Gen.choose(2.0, 6.0)
        p <- genPolygon(cx, cy, 2.0, 7.0, snapped)
      } yield Seq(p),
      for {
        corners <- Gen.atLeastOne(Seq((0.0, 0.0), (8.0, 0.0), (0.0, 8.0), (8.0, 8.0)))
        ps <- Gen.sequence[Seq[Polygon], Polygon](corners.take(3).map { case (x, y) =>
          for {
            dx <- Gen.choose(-0.7, 0.7); dy <- Gen.choose(-0.7, 0.7)
            p <- genPolygon(x + dx, y + dy, 1.2, 3.2, snapped)
          } yield p
        })
      } yield ps)
  } yield gf.createMultiPolygon(polys.toArray)

  private def check(prop: Prop): Unit = {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(1000), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: active-edge scanline visits exactly what the per-row edge scan visited") {
    check(Prop.forAll(genShape(Gen.oneOf(true, false)), genTile) { (g, re) =>
      val got = visits(f => Rasterizer.foreachCellByPolygon(g, re)(f))
      val want = visits(f => legacyScanlineCenters(polygons(g), re)(f))
      Prop(got == want) :| s"re=$re g=$g"
    })
  }

  /** The clip done as the oracle fixtures do it (ZonalFixture.clipTile). */
  private def clipTile(g: Geometry, re: RasterExtent): Geometry =
    try g.intersection(g.getFactory.toGeometry(re.extent.toEnvelope))
    catch { case _: Exception => g }

  test("property: center sampling of a shape equals center sampling of its tile clip") {
    // Off exact ties the clip cannot move a center-sampled cell, so the
    // kernel skips it. Vertices are not snapped here: snapped vertices
    // put cell centers exactly on edges, and there the clip's rounded
    // new vertices may land a crossing on either side of the center
    // (pinned by the next test).
    check(Prop.forAll(genShape(Gen.const(false)).suchThat(_.isValid), genTile) { (g, re) =>
      val unclipped = visits(f => Rasterizer.foreachCellByPolygon(g, re)(f))
      val clipped = visits(f => Rasterizer.foreachCellByPolygon(clipTile(g, re), re)(f))
      Prop(unclipped == clipped) :| s"re=$re g=$g"
    })
  }

  test("a center exactly on a right edge stays out unclipped, where the clip rounds it in") {
    // edge (8, 3.5)-(3, 5.5) passes exactly through the center (6.5, 4.1)
    // of cell (8, 4); the half-open rule leaves a right-edge center out
    val g = new org.locationtech.jts.io.WKTReader().read(
      "POLYGON ((5.5 3.5, 8 3.5, 3 5.5, 1 8.5, -2.5 6, -0.5 2.5, -0.5 -0.5, " +
        "2.5 -1.5, 6.5 -1.5, 5.5 3.5))")
    val re = RasterExtent(Extent(-0.3, 0.1, 7.7, 8.1), 10, 9)
    val unclipped = visits(f => Rasterizer.foreachCellByPolygon(g, re)(f)).toSet
    val clipped = visits(f => Rasterizer.foreachCellByPolygon(clipTile(g, re), re)(f)).toSet
    assert(!unclipped.contains((8, 4)))
    assert(clipped -- unclipped == Set((8, 4)) && unclipped.subsetOf(clipped))
  }
}
