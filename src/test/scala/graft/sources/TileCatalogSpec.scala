package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}

import graft.SparkSpec
import graft.operators.{Render, Zonal}
import graft.raster.NoData
import graft.sources.TileCatalog.RasterMeta

class TileCatalogSpec extends AnyFunSuite with SparkSpec {

  private val gf = new GeometryFactory()

  test("writePixels packs long-format pixels into NODATA-filled tiles") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val meta = RasterMeta("px", 0, "ConusAlbers", "int", 0, 0, 8, 8, 4, 4, 2, 2)
    // only a sparse subset of pixels present: gc==gr diagonal
    val pixels = (0 until 8).map(i => (i, i, i * 10)).toDF("gc", "gr", "v")
    TileCatalog.writePixels(spark, dir, meta, pixels)
    TileCatalog.writeMeta(dir, Seq(meta))
    val aoi = gf.createMultiPolygon(Array(gf.createPolygon(Array(
      new Coordinate(0, 0), new Coordinate(8, 0), new Coordinate(8, 8),
      new Coordinate(0, 8), new Coordinate(0, 0)))))
    val layer = Zonal.Layer(meta, TileCatalog.readLayer(spark, dir, meta, aoi))
    val got = Render.toResultInt(
      Zonal.groupedCount(spark, meta.layout, Seq(layer), aoi))
    // diagonal touches only tiles (0,0) and (1,1); the two empty
    // tiles are ABSENT (join-keys semantics), so 2x16 cells exist:
    // 8 diagonal values + 24 NODATA fills
    assert(got(s"List(${NoData.INT})") == 24)
    (0 until 8).foreach(i => assert(got(s"List(${i * 10})") == 1))
  }

  test("buildOverview halves resolution with nearest-neighbor sampling") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ovr").toString
    val meta = RasterMeta("ov", 0, "ConusAlbers", "int", 0, 0, 8, 8, 4, 4, 2, 2)
    // value = global col + 10 * global row, all tiles present
    val pixels = (for (gc <- 0 until 8; gr <- 0 until 8) yield (gc, gr, gc + 10 * gr))
      .toDF("gc", "gr", "v")
    TileCatalog.writePixels(spark, dir, meta, pixels)
    val meta1 = TileCatalog.buildOverview(spark, dir, meta)
    TileCatalog.writeMeta(dir, Seq(meta, meta1))
    assert(meta1.zoom == 1 && meta1.layoutCols == 1 && meta1.layoutRows == 1)
    // zoom 1: one 4×4 tile; cell (c, r) samples full-res (2c, 2r)
    val aoi = gf.createMultiPolygon(Array(gf.createPolygon(Array(
      new Coordinate(0, 0), new Coordinate(8, 0), new Coordinate(8, 8),
      new Coordinate(0, 8), new Coordinate(0, 0)))))
    val rows = TileCatalog.readLayer(spark, dir, meta1, aoi).collect()
    assert(rows.length == 1)
    val arr = rows.head.getSeq[Int](2)
    val want = for (r <- 0 until 4; c <- 0 until 4) yield 2 * c + 10 * (2 * r)
    assert(arr == want)
  }

  test("numeric-looking raster ids read only their own tiles") {
    val dir = java.nio.file.Files.createTempDirectory("graft-numeric-ids").toString
    val metas = Seq("7", "007", "20", "2e1")
      .map(RasterMeta(_, 0, "ConusAlbers", "int", 0, 0, 8, 8, 4, 4, 2, 2))
    metas.zipWithIndex.foreach { case (m, v) =>
      TileCatalog.writeIntLayer(spark, dir, m,
        for (kc <- 0 to 1; kr <- 0 to 1) yield (kc, kr, Array.fill(16)(v)))
    }
    TileCatalog.writeMeta(dir, metas)
    val aoi = gf.toGeometry(new org.locationtech.jts.geom.Envelope(0, 8, 0, 8))
    metas.zipWithIndex.foreach { case (m, v) =>
      val tiles = TileCatalog.readLayer(spark, dir, m, aoi).collect()
      assert(tiles.length == 4, s"raster ${m.rasterId}")
      assert(tiles.forall(_.getSeq[Int](2).forall(_ == v)), s"raster ${m.rasterId}")
    }
  }

  test("writePixels double layer NaN-fills and round-trips through summary") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-d").toString
    val meta = RasterMeta("pd", 0, "ConusAlbers", "double", 0, 0, 8, 8, 4, 4, 2, 2)
    val pixels = Seq((1, 1, 5.0), (6, 6, 9.0)).toDF("gc", "gr", "v")
    TileCatalog.writePixels(spark, dir, meta, pixels)
    TileCatalog.writeMeta(dir, Seq(meta))
    val aoi = gf.createMultiPolygon(Array(gf.createPolygon(Array(
      new Coordinate(0, 0), new Coordinate(8, 0), new Coordinate(8, 8),
      new Coordinate(0, 8), new Coordinate(0, 0)))))
    val layer = Zonal.Layer(meta, TileCatalog.readLayer(spark, dir, meta, aoi))
    val rows = Zonal.summary(spark, meta.layout, Seq(layer), aoi).collect()
    assert(rows.head.getDouble(2) == 5.0) // min skips NaN fill
    assert(rows.head.getDouble(4) == 9.0) // max
    // only the two present tiles (32 cells) participate
    assert(math.abs(rows.head.getDouble(3) - 14.0 / 32) < 1e-12) // NaN counts as 0
  }
}
