package graft.api

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkSpec
import graft.raster.NoData
import graft.sources.TileCatalog
import graft.sources.TileCatalog.RasterMeta

/** End-to-end JSON contract tests: reference-shaped requests over a
  * synthetic catalog in ConusAlbers (rasterCRS=ConusAlbers and
  * polygonCRS=ConusAlbers so coordinates stay in grid units).
  */
class ServiceSpec extends AnyFunSuite with SparkSpec {

  private implicit val fmts: Formats = DefaultFormats

  private lazy val path: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-api").toString
    def m(id: String, ct: String) = RasterMeta(id, 0, "ConusAlbers", ct, 0, 0, 8, 8, 4, 4, 2, 2)
    def tiles(f: (Int, Int) => Int) =
      for (kc <- 0 to 1; kr <- 0 to 1)
        yield (kc, kr, Array.tabulate(16)(i => f(kc * 4 + i % 4, kr * 4 + i / 4)))
    def dtiles(f: (Int, Int) => Double) =
      for (kc <- 0 to 1; kr <- 0 to 1)
        yield (kc, kr, Array.tabulate(16)(i => f(kc * 4 + i % 4, kr * 4 + i / 4)))
    TileCatalog.writeIntLayer(spark, dir, m("nlcd", "int"), tiles((gc, _) => gc / 2))
    TileCatalog.writeIntLayer(spark, dir, m("soil", "int"), tiles((_, gr) => gr / 4))
    TileCatalog.writeDoubleLayer(spark, dir, m("slope", "double"), dtiles((gc, gr) => gc * 1.0))
    // same extent on a 4×4 grid of 2×2 tiles: a layout no other raster shares
    val grid2 = RasterMeta("grid2", 0, "ConusAlbers", "int", 0, 0, 8, 8, 2, 2, 4, 4)
    TileCatalog.writeIntLayer(spark, dir, grid2,
      for (kc <- 0 to 3; kr <- 0 to 3) yield (kc, kr, Array.fill(4)(kc)))
    TileCatalog.writeMeta(dir,
      Seq(m("nlcd", "int"), m("soil", "int"), m("slope", "double"), grid2))
    dir
  }

  private lazy val cat = Service.Catalog(spark, path)

  private val aoiJson =
    """{\"type\":\"Polygon\",\"coordinates\":[[[1,1],[7,1],[7,7],[1,7],[1,1]]]}"""

  private def request(op: String, extra: String = ""): String =
    s"""{"input": {"operationType": "$op",
       |  "rasters": ["nlcd", "soil"], "zoom": 0,
       |  "polygonCRS": "ConusAlbers", "rasterCRS": "ConusAlbers",
       |  "polygon": ["$aoiJson"]$extra}}""".stripMargin

  test("RasterGroupedCount end-to-end JSON") {
    val resp = JsonMethods.parse(Service.run(cat, request("RasterGroupedCount")))
    val result = (resp \ "result").extract[Map[String, Int]]
    // AOI masks gc,gr ∈ 1..6; nlcd = gc/2 ∈ {0,1,2,3}, soil = gr/4 ∈ {0,1}
    // per gc: cols 1(0),2,3(1),4,5(2),6(3); rows 1..3 soil 0 (3), 4..6 soil 1 (3)
    assert(result("List(0, 0)") == 3) // gc=1 × gr∈1..3
    assert(result("List(1, 0)") == 6) // gc∈2,3
    assert(result("List(3, 1)") == 3) // gc=6 × gr∈4..6
    assert(result.values.sum == 36)
  }

  test("RasterGroupedAverage ungrouped (empty rasters) → List(0) key") {
    val req =
      s"""{"input": {"operationType": "RasterGroupedAverage",
         |  "rasters": [], "targetRaster": "slope", "zoom": 0,
         |  "polygonCRS": "ConusAlbers", "rasterCRS": "ConusAlbers",
         |  "polygon": ["$aoiJson"]}}""".stripMargin
    val resp = JsonMethods.parse(Service.run(cat, req))
    val result = (resp \ "result").extract[Map[String, Double]]
    assert(result.keySet == Set("List(0)"))
    assert(math.abs(result("List(0)") - 3.5) < 1e-12) // mean of gc 1..6
  }

  test("RasterSummary returns one map per raster in input order") {
    val req =
      s"""{"input": {"operationType": "RasterSummary",
         |  "rasters": ["slope"], "zoom": 0,
         |  "polygonCRS": "ConusAlbers", "rasterCRS": "ConusAlbers",
         |  "polygon": ["$aoiJson"]}}""".stripMargin
    val resp = JsonMethods.parse(Service.run(cat, req))
    val result = (resp \ "result").extract[List[Map[String, Double]]]
    assert(result.size == 1)
    assert(result.head("min") == 1.0 && result.head("max") == 6.0)
    assert(math.abs(result.head("avg") - 3.5) < 1e-12)
  }

  test("RasterLinesJoin with vector input") {
    val lineJson =
      """{\"type\":\"LineString\",\"coordinates\":[[0.5,1.5],[7.5,1.5]]}"""
    val req = request("RasterLinesJoin",
      s""", "vectorCRS": "ConusAlbers", "vector": ["$lineJson"]""")
    val resp = JsonMethods.parse(Service.run(cat, req))
    val result = (resp \ "result").extract[Map[String, Int]]
    // clipped to AOI x∈[1,7]: cols 1..6, row 6; nlcd=gc/2, soil=1
    // endpoint clipped to x=7 touches cell 7's left edge → included
    // (floor endpoint-cell semantics), so nlcd=3 counts gc∈{6,7}
    assert(result == Map("List(0, 1)" -> 1, "List(1, 1)" -> 2,
      "List(2, 1)" -> 2, "List(3, 1)" -> 2))
  }

  test("RasterGroupedCountMany preserves input polygon order") {
    val shapeA = """{\"type\":\"Polygon\",\"coordinates\":[[[1,5],[4,5],[4,7],[1,7],[1,5]]]}"""
    val shapeB = """{\"type\":\"Polygon\",\"coordinates\":[[[4,1],[7,1],[7,4],[4,4],[4,1]]]}"""
    val req =
      s"""{"input": {"operationType": "RasterGroupedCountMany",
         |  "rasters": ["soil"], "zoom": 0,
         |  "polygonCRS": "ConusAlbers", "rasterCRS": "ConusAlbers",
         |  "polygon": ["$shapeA", "$shapeB"]}}""".stripMargin
    val resp = JsonMethods.parse(Service.run(cat, req))
    val result = (resp \ "result").extract[List[Map[String, Int]]]
    assert(result.size == 2)
    // shape A [1,4]×[5,7]: gr 1..2 → soil=0, 6 px
    assert(result(0) == Map("List(0)" -> 6))
    // shape B [4,7]×[1,4]: gr 4..6 → soil=1, 9 px
    assert(result(1) == Map("List(1)" -> 9))
  }

  /** Runs `f` and counts the Spark jobs it starts. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    BusDrain.drain(sc, 30000L)
    sc.addSparkListener(listener)
    try {
      val r = f
      BusDrain.drain(sc, 30000L)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def fileIndexes(df: DataFrame): Seq[FileIndex] =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h.location }

  test("a served catalog resolves layers with no Spark job, over one shared file index") {
    Service.run(cat, request("RasterGroupedCount"))
    val aoi = graft.geom.GeomOps.toAoi(aoiJson.replace("\\\"", "\""),
      graft.geom.Projections.ConusAlbers, graft.geom.Projections.ConusAlbers)
    val (layers, jobs) = jobsDuring(cat.layers(Seq("nlcd", "soil"), aoi))
    assert(jobs == 0)
    val Seq(Seq(a), Seq(b)) = layers.map(l => fileIndexes(l.df))
    assert(a eq b)
    // the shared relation still prunes each scan to its raster's partition
    layers.foreach { l =>
      val scans = l.df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.size == 1)
      assert(scans.head.partitionFilters.exists {
        case EqualTo(a: AttributeReference, Literal(v, _)) =>
          a.name == "raster_id" && String.valueOf(v) == l.meta.rasterId
        case _ => false
      })
    }
  }

  test("RasterGroupedAverage rejects a group raster on another grid before any job") {
    val req =
      s"""{"input": {"operationType": "RasterGroupedAverage",
         |  "rasters": ["grid2"], "targetRaster": "slope", "zoom": 0,
         |  "polygonCRS": "ConusAlbers", "rasterCRS": "ConusAlbers",
         |  "polygon": ["$aoiJson"]}}""".stripMargin
    val (e, jobs) = jobsDuring(intercept[IllegalArgumentException](Service.run(cat, req)))
    assert(Service.errorMessage(e).exists(_.contains("rasters must share one layout, got 2")))
    assert(jobs == 0)
  }

  test("a catalog answers from its first-use snapshot; a new catalog sees later writes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-snap").toString
    def m(id: String) = RasterMeta(id, 0, "ConusAlbers", "int", 0, 0, 8, 8, 4, 4, 2, 2)
    def tiles(v: Int) = for (kc <- 0 to 1; kr <- 0 to 1) yield (kc, kr, Array.fill(16)(v))
    def reqFor(id: String) =
      s"""{"input": {"operationType": "RasterGroupedCount",
         |  "rasters": ["$id"], "zoom": 0,
         |  "polygonCRS": "ConusAlbers", "rasterCRS": "ConusAlbers",
         |  "polygon": ["$aoiJson"]}}""".stripMargin
    def count(c: Service.Catalog, id: String) =
      (JsonMethods.parse(Service.run(c, reqFor(id))) \ "result").extract[Map[String, Int]]
    TileCatalog.writeIntLayer(spark, dir, m("old"), tiles(1))
    TileCatalog.writeMeta(dir, Seq(m("old")))
    val before = Service.Catalog(spark, dir)
    assert(count(before, "old") == Map("List(1)" -> 36))

    TileCatalog.writeIntLayer(spark, dir, m("new"), tiles(2))
    TileCatalog.writeMeta(dir, Seq(m("old"), m("new")))
    assert(count(before, "old") == Map("List(1)" -> 36))
    val e = intercept[IllegalArgumentException](count(before, "new"))
    assert(Service.errorMessage(e).contains("Unknown raster: new"))

    val after = Service.Catalog(spark, dir)
    assert(count(after, "new") == Map("List(2)" -> 36))
    assert(count(after, "old") == Map("List(1)" -> 36))
  }

  test("unknown operationType raises InvalidOperationException") {
    intercept[Service.InvalidOperationException](
      Service.run(cat, request("RasterFrobnicate")))
  }

  test("missing targetRaster raises typed error") {
    intercept[Service.MissingTargetRasterException](
      Service.run(cat, request("RasterGroupedAverage")))
  }

  test("/multi nests HucID → label → key → Double with shared scan") {
    val shape1 = """{\"type\":\"Polygon\",\"coordinates\":[[[1,1],[4,1],[4,4],[1,4],[1,1]]]}"""
    val shape2 = """{\"type\":\"Polygon\",\"coordinates\":[[[4,4],[7,4],[7,7],[4,7],[4,4]]]}"""
    val req =
      s"""{"shapes": [{"id": "huc1", "shape": "$shape1"},
         |            {"id": "huc2", "shape": "$shape2"}],
         |  "streamLines": [], "crs": "ConusAlbers",
         |  "operations": [
         |    {"name": "RasterGroupedCount", "label": "nlcd_soil",
         |     "rasters": ["nlcd", "soil"]},
         |    {"name": "RasterGroupedAverage", "label": "avg_slope",
         |     "rasters": [], "targetRaster": "slope"}]}""".stripMargin
    val resp = JsonMethods.parse(Service.runMulti(cat, req))
    val nested = resp.extract[Map[String, Map[String, Map[String, Double]]]]
    assert(nested.keySet == Set("huc1", "huc2"))
    assert(nested("huc1").keySet == Set("nlcd_soil", "avg_slope"))
    // huc1 [1,4]²: gc ∈ 1..3, low y ⇒ HIGH rows gr ∈ 4..6 → soil=1;
    // counts are Doubles (widened)
    assert(nested("huc1")("nlcd_soil")("List(0, 1)") == 3.0)
    assert(math.abs(nested("huc1")("avg_slope")("List(0)") - 2.0) < 1e-12)
    // huc2 [4,7]²: gc ∈ 4..6, gr ∈ 1..3 → soil=0
    assert(nested("huc2")("nlcd_soil")("List(2, 0)") == 6.0)
    assert(math.abs(nested("huc2")("avg_slope")("List(0)") - 5.0) < 1e-12)
  }

  test("request zoom resolves the overview level; unknown zoom is a typed 400") {
    // separate catalog dir: overview build appends tiles + rewrites
    // meta.json, and the shared `cat` must stay single-zoom
    val dir = java.nio.file.Files.createTempDirectory("graft-api-zoom").toString
    def m(id: String) = RasterMeta(id, 0, "ConusAlbers", "int", 0, 0, 8, 8, 4, 4, 2, 2)
    def tiles(f: (Int, Int) => Int) =
      for (kc <- 0 to 1; kr <- 0 to 1)
        yield (kc, kr, Array.tabulate(16)(i => f(kc * 4 + i % 4, kr * 4 + i / 4)))
    TileCatalog.writeIntLayer(spark, dir, m("nlcd"), tiles((gc, _) => gc / 2))
    TileCatalog.writeIntLayer(spark, dir, m("soil"), tiles((_, gr) => gr / 4))
    val z1s = Seq("nlcd", "soil").map(id =>
      TileCatalog.buildOverview(spark, dir, m(id)))
    TileCatalog.writeMeta(dir, Seq(m("nlcd"), m("soil")) ++ z1s)
    val zcat = Service.Catalog(spark, dir)

    def reqAt(zoom: Int) =
      s"""{"input": {"operationType": "RasterGroupedCount",
         |  "rasters": ["nlcd", "soil"], "zoom": $zoom,
         |  "polygonCRS": "ConusAlbers", "rasterCRS": "ConusAlbers",
         |  "polygon": ["$aoiJson"]}}""".stripMargin

    // zoom=1: 4×4 grid of 2-unit cells over the same extent; parent
    // cell (c,r) samples child (2c,2r) ⇒ nlcd=(2c)/2=c, soil=(2r)/4.
    // The same computation through the engine directly is the oracle.
    val resp1 = JsonMethods.parse(Service.run(zcat, reqAt(1)))
    val got = (resp1 \ "result").extract[Map[String, Int]]
    val aoi = graft.geom.GeomOps.toAoi(
      aoiJson.replace("\\\"", "\""), graft.geom.Projections.ConusAlbers,
      graft.geom.Projections.ConusAlbers)
    val expect = graft.operators.Render.toResultInt(
      graft.operators.Zonal.groupedCount(spark, z1s.head.layout,
        zcat.layers(Seq("nlcd", "soil"), aoi, Some(1)), aoi))
    assert(got == expect && got.nonEmpty)
    // zoom=0 still resolves the base level (different grid ⇒ more px)
    val got0 = (JsonMethods.parse(Service.run(zcat, reqAt(0))) \ "result")
      .extract[Map[String, Int]]
    assert(got0.values.sum == 36)
    // unknown zoom: typed error with the 400-surface message
    val e = intercept[Service.UnknownZoomException](Service.run(zcat, reqAt(7)))
    assert(Service.errorMessage(e).contains("Unknown zoom 7 for raster: nlcd"))
  }

  test("LatLng polygon reprojects to the raster grid") {
    // a ConusAlbers catalog whose extent is the projection of a LatLng
    // box would need real coordinates; here assert the pipeline at
    // least parses + reprojects without error and masks nothing (the
    // LatLng AOI lands far outside the 8×8 m synthetic grid)
    val req =
      s"""{"input": {"operationType": "RasterGroupedCount",
         |  "rasters": ["nlcd"], "zoom": 0,
         |  "polygonCRS": "LatLng", "rasterCRS": "ConusAlbers",
         |  "polygon": ["{\\"type\\":\\"Polygon\\",\\"coordinates\\":[[[-76,40],[-75.9,40],[-75.9,40.1],[-76,40.1],[-76,40]]]}"]}}""".stripMargin
    val resp = JsonMethods.parse(Service.run(cat, req))
    assert((resp \ "result").extract[Map[String, Int]].isEmpty)
  }
}
