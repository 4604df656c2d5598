package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.{Coordinate, Envelope, GeometryFactory}

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

  /** A 4×4 grid of 4×4-cell int tiles over (0,0)-(16,16); each tile's
    * cells differ, and no two tiles are equal.
    */
  private val grid4 = RasterMeta("g4", 0, "ConusAlbers", "int", 0, 0, 16, 16, 4, 4, 4, 4)
  private val grid4Tiles =
    for (kc <- 0 until 4; kr <- 0 until 4)
      yield (kc, kr, Array.tabulate(16)(i => (kc * 4 + kr) % 5 + i % 3))

  /** Row count of every Parquet row group of one (raster, zoom). */
  private def rowGroupRows(dir: String, rasterId: String, zoom: Int): Seq[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    new java.io.File(s"$dir/tiles/raster_id=$rasterId/zoom=$zoom").listFiles()
      .filter(_.getName.endsWith(".parquet")).toSeq
      .flatMap { f =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(f.getPath), conf))
        try {
          val groups = reader.getRowGroups
          (0 until groups.size).map(groups.get(_).getRowCount)
        } finally reader.close()
      }
  }

  test("a one-tile AOI scans one tile's row group, not the layer") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prune").toString
    TileCatalog.writeIntLayer(spark, dir, grid4, grid4Tiles)
    // strictly inside tile (1, 2): cells 5..6 × rows 9..10 from the top
    val aoi = gf.toGeometry(new Envelope(5.2, 6.8, 5.2, 6.8))
    val df = TileCatalog.readLayer(spark, dir, grid4, aoi)
    val rows = df.collect()
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((1, 2)))
    val scanned = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numOutputRows").value
    }
    // the key-range filter skips the 15 other tiles' row groups
    assert(scanned == Seq(1L))
  }

  test("every tiles writer puts one tile in each row group") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-rowgroups").toString
    TileCatalog.writeIntLayer(spark, dir, grid4, grid4Tiles)
    val dbl = grid4.copy(rasterId = "g4d", cellType = "double")
    TileCatalog.writeDoubleLayer(spark, dir, dbl,
      grid4Tiles.map { case (kc, kr, t) => (kc, kr, t.map(_ * 0.5)) })
    val px = grid4.copy(rasterId = "px")
    TileCatalog.writePixels(spark, dir, px,
      (for (gc <- 0 until 16; gr <- 0 until 16) yield (gc, gr, gc ^ gr)).toDF("gc", "gr", "v"))
    val ovr = TileCatalog.buildOverview(spark, dir, px)
    val layers = Seq((grid4, 16), (dbl, 16), (px, 16), (ovr, 4))
    layers.foreach { case (m, tiles) =>
      val groups = rowGroupRows(dir, m.rasterId, m.zoom)
      assert(groups == Seq.fill(tiles)(1L), s"${m.rasterId}@${m.zoom}")
    }
  }

  test("a catalog in the one-row-group layout reads and aggregates the same") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-oldlayout").toString
    val old = grid4.copy(rasterId = "old")
    // the layout written before tiles became row groups: one plain
    // partitioned write, the whole layer in one row group
    grid4Tiles.toDF("key_col", "key_row", "tile_i")
      .withColumn("tile_d", lit(null).cast("array<double>"))
      .withColumn("raster_id", lit(old.rasterId))
      .withColumn("zoom", lit(old.zoom))
      .coalesce(1)
      .write.mode("append").partitionBy("raster_id", "zoom").parquet(s"$dir/tiles")
    assert(rowGroupRows(dir, old.rasterId, old.zoom) == Seq(16L))
    TileCatalog.writeIntLayer(spark, dir, grid4, grid4Tiles)
    // spans parts of nine tiles
    val aoi = gf.createMultiPolygon(Array(gf.createPolygon(Array(
      new Coordinate(2.5, 2.5), new Coordinate(11.5, 3.5), new Coordinate(10.5, 11.5),
      new Coordinate(3.5, 10.5), new Coordinate(2.5, 2.5)))))
    def tiles(m: RasterMeta) = TileCatalog.readLayer(spark, dir, m, aoi).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Int](2))).sortBy(t => (t._1, t._2)).toSeq
    def counts(m: RasterMeta) = Render.toResultInt(Zonal.groupedCount(spark, m.layout,
      Seq(Zonal.Layer(m, TileCatalog.readLayer(spark, dir, m, aoi))), aoi))
    assert(tiles(old).length == 9)
    assert(tiles(old) == tiles(grid4))
    assert(counts(old).nonEmpty)
    assert(counts(old) == counts(grid4))
  }
}
