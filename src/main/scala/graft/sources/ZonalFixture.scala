package graft.sources

import org.apache.spark.sql.SparkSession
import org.locationtech.jts.geom.{Coordinate, GeometryFactory, MultiPolygon}

import graft.raster.NoData
import graft.sources.TileCatalog.RasterMeta

/** Deterministic synthetic raster catalog at reference workload scale
  * (BASELINE.md: HUC-8 ≈ 5.5M masked pixels per raster, ≤112 group
  * tuples, 512² tiles). Values are pure integer formulas of the global
  * cell — no RNG — so any run regenerates identical data.
  *
  * Scale by test-table sf: sf0.1 → 6×4 tiles of 512² ≈ 6.3M cells
  * (HUC-8 class), sf0.01 → 2×2 of 256², sf0.001 → 2×2 of 64².
  */
object ZonalFixture {

  final case class Spec(layoutCols: Int, layoutRows: Int, tileSize: Int)

  def specFor(sfDir: String): Spec =
    if (sfDir.endsWith("0.1")) Spec(6, 4, 512)
    else if (sfDir.endsWith("0.01")) Spec(2, 2, 256)
    else Spec(2, 2, 64)

  def metas(spec: Spec): Seq[RasterMeta] = {
    val w = spec.layoutCols * spec.tileSize
    val h = spec.layoutRows * spec.tileSize
    def m(id: String, ct: String) = RasterMeta(id, 0, "ConusAlbers", ct,
      0, 0, w, h, spec.tileSize, spec.tileSize, spec.layoutCols, spec.layoutRows)
    Seq(m("nlcd", "int"), m("soil", "int"), m("slope", "double"))
  }

  /** nlcd: 14 classes banded by position hash; NODATA never. */
  def nlcdValue(gc: Int, gr: Int): Int = ((gc * 7 + gr * 13) / 64) % 14
  /** soil: 8 classes; a diagonal NODATA stripe exercises sentinel keys. */
  def soilValue(gc: Int, gr: Int): Int =
    if (((gc + gr) / 96) % 11 == 7) NoData.INT else ((gc * 3 + gr * 5) / 128) % 8
  /** slope: smooth double surface with a NaN pocket. */
  def slopeValue(gc: Int, gr: Int): Double =
    if (gc % 997 == 3 && gr % 991 == 5) Double.NaN
    else (gc % 100) * 0.31 + (gr % 100) * 0.17

  /** D8 steepest-descent code at a cell, recomputed directly from the
    * slope *formula* (not the engine's Focal kernel) with the kernel's
    * exact IEEE arithmetic: drop = (z - z_n) / dist, sqrt(2) on
    * diagonals, missing/NaN neighbors as -1 (can never win a positive
    * comparison), flat/pit → 0, tie-break order E,SE,S,SW,W,NW,N,NE →
    * codes 1,2,4,8,16,32,64,128. This plane feeds the q97/q100 oracles;
    * it used to be recomputed inside DuckDB as a 5-CTE chain, which
    * DuckDB 1.0.0 plans so badly it ran 45+ min at sf0.01 — dumping it
    * as parquet keeps the oracle independent of the engine (same
    * arithmetic, different implementation) at negligible cost.
    */
  /** Horn 3×3 gradient frame over the slope *formula* (independent
    * direct scan vs the engine's tiled halo exchange; identical window
    * arithmetic): any NaN / out-of-raster neighbor → NaN.
    */
  private def hornFinish(gc: Int, gr: Int, w: Int, h: Int)(
      finish: (Double, Double) => Double): Double = {
    def v(x: Int, y: Int): Double =
      if (x < 0 || x >= w || y < 0 || y >= h) Double.NaN else slopeValue(x, y)
    val a = v(gc - 1, gr - 1); val b = v(gc, gr - 1); val c = v(gc + 1, gr - 1)
    val d = v(gc - 1, gr); val e = v(gc, gr); val f = v(gc + 1, gr)
    val g = v(gc - 1, gr + 1); val hh = v(gc, gr + 1); val i = v(gc + 1, gr + 1)
    if (a.isNaN || b.isNaN || c.isNaN || d.isNaN || e.isNaN ||
      f.isNaN || g.isNaN || hh.isNaN || i.isNaN) Double.NaN
    else {
      val dzdx = ((c + 2 * f + i) - (a + 2 * d + g)) / (8 * 1.0)
      val dzdy = ((g + 2 * hh + i) - (a + 2 * b + c)) / (8 * 1.0)
      finish(dzdx, dzdy)
    }
  }

  /** Aspect plane value (ESRI convention, mirrors Focal.aspectD): trig
    * goes through the JVM's libm — the same libm the engine calls in
    * the same Verify JVM, so per-cell doubles are bit-identical, while
    * DuckDB never recomputes trig (its libm may differ in the last
    * ulp): the oracle reads this plane and compares exact FLOOR-based
    * aggregates of the identical bits.
    */
  def aspectValue(gc: Int, gr: Int, w: Int, h: Int): Double =
    hornFinish(gc, gr, w, h) { (dzdx, dzdy) =>
      if (dzdx == 0.0 && dzdy == 0.0) -1.0
      else {
        val a = math.toDegrees(math.atan2(dzdy, -dzdx))
        val c = if (a > 90.0) 360.0 - a + 90.0 else 90.0 - a
        if (c == 360.0) 0.0 else c
      }
    }

  /** Hillshade plane value (GDAL/ESRI formula, default sun — mirrors
    * Focal.hillshadeD; same bit-identity argument as [[aspectValue]]).
    */
  def hillshadeValue(gc: Int, gr: Int, w: Int, h: Int): Double = {
    val zenith = math.toRadians(90.0 - 45.0)
    val azimuth = math.toRadians(360.0 - 315.0 + 90.0)
    hornFinish(gc, gr, w, h) { (dzdx, dzdy) =>
      val slope = math.atan(math.sqrt(dzdx * dzdx + dzdy * dzdy))
      val aspect =
        if (dzdx == 0.0 && dzdy == 0.0) 0.0 else math.atan2(dzdy, -dzdx)
      val shade = math.cos(zenith) * math.cos(slope) +
        math.sin(zenith) * math.sin(slope) * math.cos(azimuth - aspect)
      math.max(0.0, 255.0 * shade)
    }
  }

  def d8DirValue(gc: Int, gr: Int, w: Int, h: Int): Int = {
    val e = slopeValue(gc, gr)
    if (java.lang.Double.isNaN(e)) NoData.INT
    else {
      val s2 = math.sqrt(2.0)
      def drop(dx: Int, dy: Int, dist: Double): Double = {
        val (x, y) = (gc + dx, gr + dy)
        val v = if (x < 0 || x >= w || y < 0 || y >= h) Double.NaN
                else slopeValue(x, y)
        if (java.lang.Double.isNaN(v)) -1.0 else (e - v) / dist
      }
      val ds = Array(
        drop(1, 0, 1.0), drop(1, 1, s2), drop(0, 1, 1.0), drop(-1, 1, s2),
        drop(-1, 0, 1.0), drop(-1, -1, s2), drop(0, -1, 1.0), drop(1, -1, s2))
      val g = ds.max
      if (g <= 0.0) 0 else 1 << ds.indexWhere(_ == g)
    }
  }

  /** Generate (idempotent per JVM tmpdir): distributed tile build via
    * spark.range over tile keys, formulas evaluated per cell.
    */
  def ensure(spark: SparkSession, sfDir: String): String =
    ensureSpec(spark, specFor(sfDir))

  /** Same build for an EXPLICIT spec (the sf1 scale rehearsal grows the
    * layout past what any sfDir names — e.g. 20×12×512² = exactly 10×
    * the sf0.1 pixel count). Tile dir is keyed by the spec, so scaled
    * fixtures coexist with the gate fixtures.
    */
  def ensureSpec(spark: SparkSession, spec: Spec): String = synchronized {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_zonal_${spec.layoutCols}x${spec.layoutRows}x${spec.tileSize}"
    if (new java.io.File(s"$dir/meta.json").exists()) return dir
    // a crashed partial build would re-append tiles on retry (writers
    // use append mode) and silently double every count — build fresh
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    import spark.implicits._
    val ts = spec.tileSize
    val keys = for (kc <- 0 until spec.layoutCols; kr <- 0 until spec.layoutRows) yield (kc, kr)
    def gen(f: (Int, Int) => Int) =
      keys.toDS().map { case (kc, kr) =>
        (kc, kr, Array.tabulate(ts * ts)(i => f(kc * ts + i % ts, kr * ts + i / ts)))
      }.collect().toSeq
    def genD(f: (Int, Int) => Double) =
      keys.toDS().map { case (kc, kr) =>
        (kc, kr, Array.tabulate(ts * ts)(i => f(kc * ts + i % ts, kr * ts + i / ts)))
      }.collect().toSeq
    val Seq(mNlcd, mSoil, mSlope) = metas(spec)
    TileCatalog.writeIntLayer(spark, dir, mNlcd, gen(nlcdValue))
    TileCatalog.writeIntLayer(spark, dir, mSoil, gen(soilValue))
    TileCatalog.writeDoubleLayer(spark, dir, mSlope, genD(slopeValue))
    TileCatalog.writeMeta(dir, metas(spec))
    dir
  }

  /** Mask dumps for the DuckDB correctness oracle: the rasterized cell
    * sets of every geometry the zonal gate queries use, as parquet next
    * to the tiles. The rasterizer is the one piece DuckDB cannot
    * re-run — its semantics are pinned cell-by-cell against JTS
    * oracles in RasterizerSpec — so dumping its output lets the oracle
    * SQL recompute every zonal aggregate independently by indexing the
    * tile arrays (`tile_i[idx+1]`). Idempotent; one-time per fixture.
    */
  def ensureMasks(spark: SparkSession, sfDir: String): String = synchronized {
    val dir = ensure(spark, sfDir)
    // mask_aoi is renamed into place LAST, so its _SUCCESS implies all
    // masks; the z1 check upgrades fixtures built before overviews
    if (new java.io.File(s"$dir/mask_aoi.parquet/_SUCCESS").exists() &&
      new java.io.File(s"$dir/mask_aoi_z1.parquet/_SUCCESS").exists() &&
      new java.io.File(s"$dir/plane_hillshade.parquet/_SUCCESS").exists()) return dir
    val spec = specFor(sfDir)
    import spark.implicits._
    val layout = metas(spec).head.layout
    val ts = spec.tileSize
    val keys = for (kc <- 0 until spec.layoutCols; kr <- 0 until spec.layoutRows) yield (kc, kr)
    val aoiG = aoi(spec)
    val shapes = subShapes(spec)
    val lines = streamLines(spec)

    // the oracle clips each shape to the tile ON PURPOSE: the
    // operators center-sample the unclipped shape, so q30–q34 check
    // their mask against an independently clipped one
    def clipTile(g: org.locationtech.jts.geom.Geometry,
                 re: graft.raster.RasterExtent): org.locationtech.jts.geom.Geometry = {
      val env = g.getFactory.toGeometry(re.extent.toEnvelope)
      try g.intersection(env) catch { case _: Exception => g }
    }
    def mergeLines(ls: Seq[org.locationtech.jts.geom.MultiLineString]) =
      gf.createMultiLineString(ls.flatMap(ml => (0 until ml.getNumGeometries)
        .map(ml.getGeometryN(_).asInstanceOf[org.locationtech.jts.geom.LineString])).toArray)

    keys.toDS().flatMap { case (kc, kr) =>
      val re = layout.rasterExtent(kc, kr)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
      graft.raster.Rasterizer.foreachCellByPolygon(clipTile(aoiG, re), re)(
        (c, r) => buf += ((kc, kr, r * ts + c)))
      buf
    }.toDF("key_col", "key_row", "idx")
      .write.mode("overwrite").parquet(s"$dir/mask_aoi.parquet.tmp")

    val shapeKeys = for ((kc, kr) <- keys; si <- shapes.indices) yield (si, kc, kr)
    shapeKeys.toDS().flatMap { case (si, kc, kr) =>
      val re = layout.rasterExtent(kc, kr)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Int)]
      graft.raster.Rasterizer.foreachCellByPolygon(clipTile(shapes(si), re), re)(
        (c, r) => buf += ((si, kc, kr, r * ts + c)))
      buf
    }.toDF("shape_id", "key_col", "key_row", "idx")
      .write.mode("overwrite").parquet(s"$dir/mask_shapes.parquet")

    val aoiLines = mergeLines(graft.geom.GeomOps.clipLines(lines, aoiG))
    keys.toDS().flatMap { case (kc, kr) =>
      val re = layout.rasterExtent(kc, kr)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
      graft.raster.Rasterizer.foreachCellByLines(aoiLines, re)(
        (c, r) => buf += ((kc, kr, r * ts + c)))
      buf
    }.toDF("key_col", "key_row", "idx")
      .write.mode("overwrite").parquet(s"$dir/mask_lines.parquet")

    val perShapeLines = shapes.map(s => mergeLines(graft.geom.GeomOps.clipLines(lines, s)))
    shapeKeys.toDS().flatMap { case (si, kc, kr) =>
      val re = layout.rasterExtent(kc, kr)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Int)]
      graft.raster.Rasterizer.foreachCellByLines(perShapeLines(si), re)(
        (c, r) => buf += ((si, kc, kr, r * ts + c)))
      buf
    }.toDF("shape_id", "key_col", "key_row", "idx")
      .write.mode("overwrite").parquet(s"$dir/mask_lines_shapes.parquet")

    // PixelIsArea mask: the reference's other rasterization mode
    // (low-res rasters, CHANGELOG.md:110-113) through the oracle gate
    val areaOpts = graft.raster.Rasterizer.Options(includePartial = true, pixelIsArea = true)
    keys.toDS().flatMap { case (kc, kr) =>
      val re = layout.rasterExtent(kc, kr)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
      graft.raster.Rasterizer.foreachCellByPolygon(clipTile(aoiG, re), re, areaOpts)(
        (c, r) => buf += ((kc, kr, r * ts + c)))
      buf
    }.toDF("key_col", "key_row", "idx")
      .write.mode("overwrite").parquet(s"$dir/mask_aoi_area.parquet")

    // overview pyramid (zoom=1, 2x downsample) + its AOI mask on the
    // halved layout — the zoom dimension through the oracle gate
    val allMeta = TileCatalog.readMeta(dir)
    val z1Nlcd = new java.io.File(s"$dir/tiles/raster_id=nlcd/zoom=1")
    val z1Soil = new java.io.File(s"$dir/tiles/raster_id=soil/zoom=1")
    if (!z1Nlcd.exists() || !z1Soil.exists()) {
      // overview writers append: wipe any partial zoom=1 partitions
      // first so a crashed run cannot double tiles on retry
      org.apache.commons.io.FileUtils.deleteQuietly(z1Nlcd)
      org.apache.commons.io.FileUtils.deleteQuietly(z1Soil)
      TileCatalog.buildOverview(spark, dir, allMeta("nlcd"))
      TileCatalog.buildOverview(spark, dir, allMeta("soil"))
    }
    // persist the zoom=1 metas (keys `nlcd@1`/`soil@1`) so the service
    // API can resolve a request's zoom against this catalog; idempotent
    // rewrite also upgrades fixtures built before per-zoom metas
    if (!allMeta.contains(TileCatalog.metaKey("nlcd", 1))) {
      val z1s = Seq("nlcd", "soil").map(id => allMeta(id).copy(zoom = 1,
        layoutCols = allMeta(id).layoutCols / 2, layoutRows = allMeta(id).layoutRows / 2))
      TileCatalog.writeMeta(dir, (allMeta.values ++ z1s).toSeq)
    }
    val z1 = allMeta("nlcd").copy(zoom = 1,
      layoutCols = spec.layoutCols / 2, layoutRows = spec.layoutRows / 2)
    val z1Layout = z1.layout
    val z1Keys = for (kc <- 0 until z1.layoutCols; kr <- 0 until z1.layoutRows) yield (kc, kr)
    z1Keys.toDS().flatMap { case (kc, kr) =>
      val re = z1Layout.rasterExtent(kc, kr)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
      graft.raster.Rasterizer.foreachCellByPolygon(clipTile(aoiG, re), re)(
        (c, r) => buf += ((kc, kr, r * ts + c)))
      buf
    }.toDF("key_col", "key_row", "idx")
      .write.mode("overwrite").parquet(s"$dir/mask_aoi_z1.parquet")

    // Per-pixel value planes, straight from the pure value formulas
    // (independent of the TileCatalog encoding the engine reads), so
    // the q34/q100 oracles can equi-join (key_col,key_row,idx) instead
    // of indexing 64K-element list columns through mask joins — the
    // list-indexing form wedges DuckDB 1.0.0 (45+ min / 45 GB at
    // sf0.01, the likely cause of two rounds of empty driver
    // correctness artifacts).
    def writePlane[T: org.apache.spark.sql.Encoder](name: String,
        f: (Int, Int) => T)(implicit
        te: org.apache.spark.sql.Encoder[(Int, Int, Int, T)]): Unit =
      keys.toDS().flatMap { case (kc, kr) =>
        (0 until ts * ts).iterator.map { i =>
          (kc, kr, i, f(kc * ts + i % ts, kr * ts + i / ts))
        }
      }.toDF("key_col", "key_row", "idx", "v")
        .write.mode("overwrite").parquet(s"$dir/plane_$name.parquet")
    writePlane[Int]("nlcd", nlcdValue)
    writePlane[Int]("soil", soilValue)
    writePlane[Double]("slope", slopeValue)

    // Derived-kernel planes on global cells (q97/q100 d8dir;
    // q137/q138 aspect/hillshade); written after the value planes,
    // checked by the idempotence gate
    val (gw, gh) = (spec.layoutCols * ts, spec.layoutRows * ts)
    def writeGlobalPlane[T: org.apache.spark.sql.Encoder](name: String,
        f: (Int, Int) => T)(implicit
        te: org.apache.spark.sql.Encoder[(Int, Int, T)]): Unit =
      keys.toDS().flatMap { case (kc, kr) =>
        (0 until ts * ts).iterator.map { i =>
          val gc = kc * ts + i % ts; val gr = kr * ts + i / ts
          (gc, gr, f(gc, gr))
        }
      }.toDF("gc", "gr", "v")
        .write.mode("overwrite").parquet(s"$dir/plane_$name.parquet")
    writeGlobalPlane[Int]("d8dir", d8DirValue(_, _, gw, gh))
    writeGlobalPlane[Double]("aspect", aspectValue(_, _, gw, gh))
    writeGlobalPlane[Double]("hillshade", hillshadeValue(_, _, gw, gh))

    // the AOI mask moves into place LAST: its _SUCCESS is the
    // all-masks-written marker the idempotence check reads
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$dir/mask_aoi.parquet"))
    val tmp = new java.io.File(s"$dir/mask_aoi.parquet.tmp")
    if (!tmp.renameTo(new java.io.File(s"$dir/mask_aoi.parquet")))
      throw new java.io.IOException(s"rename failed for $tmp")
    dir
  }

  private val gf = new GeometryFactory()

  /** AOI: a big octagon covering ~80% of the grid (masked-pixel count
    * at sf0.1 ≈ the reference's HUC-8 5.5M).
    */
  def aoi(spec: Spec): MultiPolygon = {
    val w = spec.layoutCols * spec.tileSize.toDouble
    val h = spec.layoutRows * spec.tileSize.toDouble
    val (cx, cy) = (w / 2, h / 2)
    val (rx, ry) = (w * 0.48, h * 0.48)
    val pts = (0 until 8).map { i =>
      val a = i * math.Pi / 4
      new Coordinate(cx + rx * math.cos(a), cy + ry * math.sin(a))
    } :+ new Coordinate(cx + rx, cy)
    gf.createMultiPolygon(Array(gf.createPolygon(pts.toArray)))
  }

  /** A grid of sub-shapes (the /multi subbasin analog: reference runs
    * 61 HUC-12s per batch).
    */
  def subShapes(spec: Spec, nx: Int = 8, ny: Int = 4): Seq[MultiPolygon] = {
    val w = spec.layoutCols * spec.tileSize.toDouble / nx
    val h = spec.layoutRows * spec.tileSize.toDouble / ny
    for (i <- 0 until nx; j <- 0 until ny) yield {
      val (x0, y0) = (i * w, j * h)
      gf.createMultiPolygon(Array(gf.createPolygon(Array(
        new Coordinate(x0 + 2, y0 + 2), new Coordinate(x0 + w - 2, y0 + 2),
        new Coordinate(x0 + w - 2, y0 + h - 2), new Coordinate(x0 + 2, y0 + h - 2),
        new Coordinate(x0 + 2, y0 + 2)))))
    }
  }

  /** A zig-zag "stream" polyline across the whole grid. */
  def streamLines(spec: Spec): Seq[org.locationtech.jts.geom.MultiLineString] = {
    val w = spec.layoutCols * spec.tileSize.toDouble
    val h = spec.layoutRows * spec.tileSize.toDouble
    val pts = (0 to 40).map { i =>
      new Coordinate(w * i / 40.0,
        h * (0.5 + 0.4 * math.sin(i * 0.7)))
    }
    Seq(gf.createMultiLineString(Array(gf.createLineString(pts.toArray))))
  }
}
