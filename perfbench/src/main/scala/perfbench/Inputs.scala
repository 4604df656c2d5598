package perfbench

import java.util.SplittableRandom

import org.locationtech.jts.geom._
import org.locationtech.jts.triangulate.VoronoiDiagramBuilder

import graft.geom.Projections

/** Seeded request geometry, generated in fixture space (ConusAlbers
  * metres over the fixture grid, one metre per cell) and sent to the
  * service as LatLng GeoJSON, so the service's own reprojection runs as
  * it does for real clients.
  */
object Inputs {

  /** The HUC-8-class fixture: 6×4 tiles of 512² cells (6.29M cells per
    * layer), the same grid `ZonalFixture` builds for sf0.1.
    */
  val LayoutCols = 6
  val LayoutRows = 4
  val TileSize = 512
  val Width: Double = LayoutCols * TileSize.toDouble
  val Height: Double = LayoutRows * TileSize.toDouble

  val gf = new GeometryFactory()

  /** A star-shaped ring around (cx, cy): a superellipse of half-axes
    * (a, b), wobbled by a few seeded low harmonics and a small
    * per-vertex jitter, so its boundary has `n` vertices like a
    * digitised watershed. Star-shaped with a positive radius, hence
    * always a simple polygon.
    */
  def blob(rnd: SplittableRandom, cx: Double, cy: Double, a: Double, b: Double,
           n: Int, wobble: Double): Polygon = {
    val harmonics = (1 to 6).map { m =>
      (wobble / m * rnd.nextDouble(), rnd.nextDouble(2 * math.Pi))
    }
    val pts = (0 until n).map { k =>
      val t = 2 * math.Pi * k / n
      val (c, s) = (math.cos(t), math.sin(t))
      // superellipse exponent 4: squarer than an ellipse, so a HUC-8
      // AOI masks ~87% of the grid like the reference's 5.5M/6.3M
      val ux = math.signum(c) * math.sqrt(math.abs(c))
      val uy = math.signum(s) * math.sqrt(math.abs(s))
      val f = 1.0 + harmonics.zipWithIndex.map { case ((amp, ph), i) =>
        amp * math.sin((i + 1) * t + ph)
      }.sum + wobble * 0.15 * (rnd.nextDouble() - 0.5)
      new Coordinate(cx + a * f * ux, cy + b * f * uy)
    }
    gf.createPolygon((pts :+ pts.head).toArray)
  }

  /** A HUC-8-class AOI: ~5.5M masked cells, a few thousand vertices. */
  def huc8(rnd: SplittableRandom): Polygon = {
    val cx = Width / 2 + rnd.nextDouble(-20, 20)
    val cy = Height / 2 + rnd.nextDouble(-15, 15)
    blob(rnd, cx, cy, Width * 0.48, Height * 0.48, 3000 + rnd.nextInt(1000), 0.03)
  }

  /** HUC-12 radius in cells: ~95k masked cells per AOI. */
  val Huc12Radius = 172.0

  /** A HUC-12-class AOI whose tile footprint is fixed by `kind`: 0
    * inside one tile, 1 across a vertical tile edge (two tiles), 2
    * across a horizontal one (two tiles), 3 on a tile corner (four). The
    * seed picks the tiles and the offsets, so every seed does the same
    * amount of work per kind.
    */
  def huc12(rnd: SplittableRandom, kind: Int): Polygon = {
    val margin = Huc12Radius * 1.2 // the wobble stays within 1.2 r
    def inside(tiles: Int) = {
      val t = rnd.nextInt(tiles)
      t * TileSize + rnd.nextDouble(margin, TileSize - margin)
    }
    def onEdge(tiles: Int) =
      (1 + rnd.nextInt(tiles - 1)) * TileSize + rnd.nextDouble(-Huc12Radius / 2, Huc12Radius / 2)
    val cx = if (kind == 1 || kind == 3) onEdge(LayoutCols) else inside(LayoutCols)
    val cy = if (kind == 2 || kind == 3) onEdge(LayoutRows) else inside(LayoutRows)
    blob(rnd, cx, cy, Huc12Radius, Huc12Radius, 300 + rnd.nextInt(200), 0.06)
  }

  /** `n` HUC-12-class polygons that tile `aoi`: the Voronoi cells of
    * `n` seeded sites inside it, each clipped to the AOI.
    */
  def tiling(rnd: SplittableRandom, aoi: Polygon, n: Int): Seq[Geometry] = {
    val env = aoi.getEnvelopeInternal
    val sites = Iterator.continually(new Coordinate(
        rnd.nextDouble(env.getMinX, env.getMaxX), rnd.nextDouble(env.getMinY, env.getMaxY)))
      .filter(c => aoi.contains(gf.createPoint(c)))
      .take(n).toSeq
    val vb = new VoronoiDiagramBuilder()
    vb.setSites(java.util.Arrays.asList(sites: _*))
    vb.setClipEnvelope(new Envelope(env.getMinX - 10, env.getMaxX + 10,
      env.getMinY - 10, env.getMaxY + 10))
    val cells = vb.getDiagram(gf)
    (0 until cells.getNumGeometries).map(i => cells.getGeometryN(i).intersection(aoi))
      .filterNot(_.isEmpty)
  }

  /** Random-walk stream polylines: `count` lines of `segs` segments,
    * starting inside `within` and reflected at the grid border.
    */
  def streams(rnd: SplittableRandom, within: Envelope, count: Int, segs: Int,
              step: Double): Seq[LineString] =
    (0 until count).map { _ =>
      var x = rnd.nextDouble(within.getMinX, within.getMaxX)
      var y = rnd.nextDouble(within.getMinY, within.getMaxY)
      var heading = rnd.nextDouble(2 * math.Pi)
      val pts = Array.newBuilder[Coordinate]
      pts += new Coordinate(x, y)
      (0 until segs).foreach { _ =>
        heading += rnd.nextDouble(-0.6, 0.6)
        x += step * math.cos(heading)
        y += step * math.sin(heading)
        if (x < 1 || x > Width - 1) { heading = math.Pi - heading; x = math.min(Width - 1, math.max(1, x)) }
        if (y < 1 || y > Height - 1) { heading = -heading; y = math.min(Height - 1, math.max(1, y)) }
        pts += new Coordinate(x, y)
      }
      gf.createLineString(pts.result())
    }

  // ---- LatLng GeoJSON ----

  /** Fixture-space coordinate as "[lon,lat]". `Double.toString` is
    * round-trip exact, so the service parses the same doubles.
    */
  private def lonLat(c: Coordinate): String = {
    val (lon, lat) = Projections.ConusAlbers.inverse(c.x, c.y)
    s"[$lon,$lat]"
  }

  private def ring(cs: Array[Coordinate]): String = cs.map(lonLat).mkString("[", ",", "]")

  private def polygonCoords(p: Polygon): String =
    (p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN))
      .map(r => ring(r.getCoordinates)).mkString("[", ",", "]")

  /** A (multi)polygon in fixture space as LatLng MultiPolygon GeoJSON. */
  def multiPolygonJson(g: Geometry): String = {
    val polys = (0 until g.getNumGeometries).map(g.getGeometryN).collect { case p: Polygon => p }
    s"""{"type":"MultiPolygon","coordinates":${polys.map(polygonCoords).mkString("[", ",", "]")}}"""
  }

  /** Lines in fixture space as LatLng MultiLineString GeoJSON. */
  def multiLineJson(ls: Seq[LineString]): String =
    s"""{"type":"MultiLineString","coordinates":${ls.map(l => ring(l.getCoordinates)).mkString("[", ",", "]")}}"""

  /** JSON string literal (GeoJSON travels as a string inside requests). */
  def quote(s: String): String = org.json4s.jackson.JsonMethods.compact(
    org.json4s.jackson.JsonMethods.render(org.json4s.JString(s)))
}
