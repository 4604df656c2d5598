package perfbench

import org.locationtech.jts.geom.{Geometry, LineString, MultiLineString, Polygon}

import graft.raster.{Layout, Rasterizer}
import graft.sources.ZonalFixture

/** Expected zonal results, computed without the engine's operators,
  * catalog or service: cell values come straight from the fixture's
  * value formulas and polygon masks from an even-odd scanline over the
  * whole grid, written here. Line and PixelIsArea masks are taken from
  * `Rasterizer` (pinned cell by cell in RasterizerSpec), tile by tile
  * exactly as the q30–q34 oracle masks are built.
  */
object Expected {

  import Inputs.{LayoutCols, LayoutRows, TileSize}

  val Cols: Int = LayoutCols * TileSize
  val Rows: Int = LayoutRows * TileSize
  val NoDataInt: Int = Int.MinValue

  val layout: Layout = ZonalFixture.metas(
    ZonalFixture.Spec(LayoutCols, LayoutRows, TileSize)).head.layout

  /** Cells of the global grid, indexed `row * Cols + col`, row 0 on top. */
  type Mask = java.util.BitSet

  /** Centre-sampled polygon mask: a cell is in when its centre is
    * inside under the even-odd rule, with half-open edges [ylo, yhi)
    * and half-open spans [xEnter, xExit).
    */
  def centerMask(g: Geometry): Mask = {
    val mask = new java.util.BitSet(Cols * Rows)
    val xs = Array.fill(Rows)(scala.collection.mutable.ArrayBuffer.empty[Double])
    polygons(g).foreach { p =>
      (p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN)).foreach { ring =>
        val cs = ring.getCoordinates
        for (i <- 0 until cs.length - 1) {
          val (a, b) = (cs(i), cs(i + 1))
          if (a.y != b.y) {
            val (ylo, yhi, xlo, xhi) = if (a.y < b.y) (a.y, b.y, a.x, b.x) else (b.y, a.y, b.x, a.x)
            // rows whose centre y = Rows - row - 0.5 may fall in [ylo, yhi)
            val first = math.max(0, math.floor(Rows - 0.5 - yhi).toInt)
            val last = math.min(Rows - 1, math.ceil(Rows - 0.5 - ylo).toInt)
            for (row <- first to last) {
              val y = Rows - row - 0.5
              if (y >= ylo && y < yhi) xs(row) += xlo + (y - ylo) / (yhi - ylo) * (xhi - xlo)
            }
          }
        }
      }
    }
    for (row <- 0 until Rows if xs(row).nonEmpty) {
      val sorted = xs(row).sorted
      var i = 0
      while (i + 1 < sorted.length) {
        val from = math.max(0, math.ceil(sorted(i) - 0.5).toInt)
        val until = math.min(Cols, math.ceil(sorted(i + 1) - 0.5).toInt)
        if (from < until) mask.set(row * Cols + from, row * Cols + until)
        i += 2
      }
    }
    mask
  }

  private def polygons(g: Geometry): Seq[Polygon] =
    (0 until g.getNumGeometries).map(g.getGeometryN).flatMap {
      case p: Polygon => if (p.isEmpty) Nil else Seq(p)
      case other if other.getNumGeometries > 1 => polygons(other)
      case _ => Nil
    }

  private def tiles = for (kc <- 0 until LayoutCols; kr <- 0 until LayoutRows) yield (kc, kr)

  /** Tile-local `Rasterizer` cells lifted onto the global grid. */
  private def lift(mask: Mask, kc: Int, kr: Int)(c: Int, r: Int): Unit =
    mask.set((kr * TileSize + r) * Cols + kc * TileSize + c)

  /** PixelIsArea + includePartial mask: `Rasterizer` per tile on the
    * shape clipped to that tile, as the operators clip it.
    */
  def areaMask(g: Geometry): Mask = {
    val mask = new java.util.BitSet(Cols * Rows)
    val env = g.getEnvelopeInternal
    val opts = Rasterizer.Options(includePartial = true, pixelIsArea = true)
    tiles.foreach { case (kc, kr) =>
      val re = layout.rasterExtent(kc, kr)
      val e = re.extent
      if (!(env.getMinX > e.xmax || env.getMaxX < e.xmin || env.getMinY > e.ymax || env.getMaxY < e.ymin)) {
        val clipped =
          try g.intersection(g.getFactory.toGeometry(e.toEnvelope)) catch { case _: Exception => g }
        Rasterizer.foreachCellByPolygon(clipped, re, opts)(lift(mask, kc, kr))
      }
    }
    mask
  }

  /** Supercover mask of lines, per tile of the key range read for `aoi`. */
  def linesMask(lines: Seq[MultiLineString], aoi: Geometry): Mask = {
    val mask = new java.util.BitSet(Cols * Rows)
    val parts = lines.flatMap(ml => (0 until ml.getNumGeometries).map(ml.getGeometryN(_).asInstanceOf[LineString]))
    val merged = Inputs.gf.createMultiLineString(parts.toArray)
    val (c0, c1, r0, r1) = layout.keyRange(aoi)
    for (kc <- c0 to c1; kr <- r0 to r1)
      Rasterizer.foreachCellByLines(merged, layout.rasterExtent(kc, kr))(lift(mask, kc, kr))
    mask
  }

  // ---- cell values, from the fixture formulas ----

  def nlcd(i: Int): Int = ZonalFixture.nlcdValue(i % Cols, i / Cols)
  def soil(i: Int): Int = ZonalFixture.soilValue(i % Cols, i / Cols)
  def slope(i: Int): Double = ZonalFixture.slopeValue(i % Cols, i / Cols)

  /** Rasters read as grouping layers (Int). */
  private val groupValues: Map[String, Int => Int] = Map("nlcd" -> nlcd, "soil" -> soil)

  /** Rasters read as targets (Double; Int NODATA widens to NaN). */
  private val targetValues: Map[String, Int => Double] = Map(
    "nlcd" -> (i => nlcd(i).toDouble),
    "soil" -> (i => { val v = soil(i); if (v == NoDataInt) Double.NaN else v.toDouble }),
    "slope" -> slope)

  def key(vals: Seq[Int]): String = vals.mkString("List(", ", ", ")")

  private def foreachCell(mask: Mask)(f: Int => Unit): Unit = {
    var i = mask.nextSetBit(0)
    while (i >= 0) { f(i); i = mask.nextSetBit(i + 1) }
  }

  /** Value tuples of up to two grouping rasters, packed into a Long. */
  private def grouping(groups: Seq[String]): (Int => Long, Long => String) = {
    require(groups.size <= 2, s"at most two grouping rasters: $groups")
    val gs = groups.map(groupValues)
    gs match {
      case Seq() => (_ => 0L, _ => key(Seq(0)))
      case Seq(a) => (i => a(i).toLong, k => key(Seq(k.toInt)))
      case Seq(a, b) => (i => (a(i).toLong << 32) | (b(i) & 0xffffffffL),
        k => key(Seq((k >> 32).toInt, k.toInt)))
    }
  }

  /** COUNT of masked cells per value tuple of `groups`. */
  def counts(mask: Mask, groups: Seq[String]): Map[String, Long] = {
    val (pack, unpack) = grouping(groups)
    val acc = scala.collection.mutable.LongMap.empty[Long]
    foreachCell(mask) { i =>
      val k = pack(i)
      acc(k) = acc.getOrElse(k, 0L) + 1
    }
    acc.map { case (k, n) => unpack(k) -> n }.toMap
  }

  /** Mean of `target` per value tuple (`List(0)` when ungrouped); a
    * NODATA target cell counts with value 0.
    */
  def averages(mask: Mask, groups: Seq[String], target: String): Map[String, Double] = {
    val (pack, unpack) = grouping(groups)
    val t = targetValues(target)
    val sums = scala.collection.mutable.LongMap.empty[Double]
    val ns = scala.collection.mutable.LongMap.empty[Long]
    foreachCell(mask) { i =>
      val k = pack(i)
      val v = t(i)
      sums(k) = sums.getOrElse(k, 0.0) + (if (v.isNaN) 0.0 else v)
      ns(k) = ns.getOrElse(k, 0L) + 1
    }
    sums.map { case (k, s) => unpack(k) -> s / ns(k) }.toMap
  }

  /** (min, avg, max) of one raster: min/max skip NODATA, avg counts it as 0. */
  def summary(mask: Mask, raster: String): (Double, Double, Double) = {
    val t = targetValues(raster)
    var (mn, mx, s, n) = (Double.NaN, Double.NaN, 0.0, 0L)
    foreachCell(mask) { i =>
      val v = t(i)
      n += 1
      if (!v.isNaN) {
        s += v
        if (mn.isNaN || v < mn) mn = v
        if (mx.isNaN || v > mx) mx = v
      }
    }
    (mn, s / n, mx)
  }
}
