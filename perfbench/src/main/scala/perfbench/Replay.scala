package perfbench

import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}
import org.locationtech.jts.geom.{Geometry, LineString, MultiLineString, MultiPolygon}

import graft.api.Service
import graft.geom.{GeomOps, Projections}
import graft.operators.{Render, Zonal}
import graft.raster.Rasterizer
import graft.sources.TileCatalog

/** The traced run. Per request, one after another:
  *  1. the request over HTTP (`api.http`);
  *  2. the same request through `Service.run`/`runMulti` in-process,
  *     untraced (`api.service`);
  *  3. a replay of what the service does, through the same public
  *     calls of `geom`, `sources`, `operators` in the same order, each
  *     inside a span with its own Spark job group (the on-path spans);
  *  4. probes that redo one layer's work in isolation: forcing the
  *     pruned scan (`sources.scan`) and rasterizing every intersecting
  *     tile × shape (`raster.rasterize`).
  */
final class Replay(spark: SparkSession, cat: Service.Catalog,
                   reqs: IndexedSeq[(String, String)], post: Int => Bench.Sample) {

  private implicit val fmts: Formats = DefaultFormats
  private val tracer = new Tracer(spark.sparkContext)
  import tracer.span

  private val LatLng = Projections.LatLng
  private val Albers = Projections.ConusAlbers
  private val layout = Expected.layout
  private val tileCells = layout.tileCols.toLong * layout.tileRows

  def run(first: Int, deadline: Long): Map[String, Any] = {
    val samples = Seq.newBuilder[Map[String, Any]]
    val requests = Seq.newBuilder[Map[String, Any]]
    var k = first
    // at least two traced requests, however long each takes
    while (k < first + 2 || System.nanoTime() < deadline) {
      val idx = k % reqs.size
      val (path, body) = reqs(idx)
      val s = post(k)
      samples += Samples.json(s)
      val t0 = System.nanoTime()
      if (path == "/multi") Service.runMulti(cat, body) else Service.run(cat, body)
      val serviceMs = (System.nanoTime() - t0) / 1e6
      tracer.request = k
      val facts = span("request") {
        if (path == "/multi") replayMulti(body) else replayRun(body)
      }
      requests += facts ++ Map("req" -> k, "http_ms" -> (s.endNs - s.startNs) / 1e6,
        "service_ms" -> serviceMs, "request_kb" -> body.length / 1024.0,
        "response_kb" -> s.body.length / 1024.0)
      k += 1
    }
    PerfbenchAccess.drainListeners(spark.sparkContext)
    Map("samples" -> samples.result(), "requests" -> requests.result(), "spans" -> tracer.records)
  }

  // ---- probes and request facts ----

  private def vertices(gs: Seq[Geometry]): Long = gs.map(_.getNumPoints.toLong).sum

  /** Read every row and column of the pruned scans; returns tiles read. */
  private def scan(layers: Seq[Zonal.Layer]): Long = span("sources.scan") {
    layers.map(_.df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      Iterator.single(n)
    }.collect().sum).sum
  }

  private def tilesTouching(g: Geometry): Seq[(Int, Int)] = {
    val (c0, c1, r0, r1) = layout.keyRange(g)
    for (kc <- c0 to c1; kr <- r0 to r1
         if g.intersects(g.getFactory.toGeometry(layout.tileExtent(kc, kr).toEnvelope)))
      yield (kc, kr)
  }

  private def clip(g: Geometry, kc: Int, kr: Int): Geometry =
    try g.intersection(g.getFactory.toGeometry(layout.tileExtent(kc, kr).toEnvelope))
    catch { case _: Exception => g }

  /** Rasterize polygons (centre or area sampling) and lines over their
    * intersecting tiles; returns centre-masked cells.
    */
  private def rasterize(shapes: Seq[MultiPolygon], area: Boolean,
                        lines: Seq[Geometry]): Long = span("raster.rasterize") {
    var masked = 0L
    shapes.foreach { sh =>
      tilesTouching(sh).foreach { case (kc, kr) =>
        val re = layout.rasterExtent(kc, kr)
        val c = clip(sh, kc, kr)
        Rasterizer.foreachCellByPolygon(c, re)((_, _) => masked += 1)
        if (area) Rasterizer.foreachCellByPolygon(c, re,
          Rasterizer.Options(includePartial = true, pixelIsArea = true))((_, _) => ())
      }
    }
    lines.foreach { l =>
      tilesTouching(l).foreach { case (kc, kr) =>
        Rasterizer.foreachCellByLines(l, layout.rasterExtent(kc, kr))((_, _) => ())
      }
    }
    masked
  }

  /** Probe results and counts for one request; the scan reopens the
    * layers so it never reads a cached copy.
    */
  private def facts(ids: Seq[String], union: Geometry, shapes: Seq[MultiPolygon], area: Boolean,
                    lines: Seq[Geometry], vertexCount: Long): Map[String, Any] = {
    val tilesRead = scan(open(ids, union))
    val tilesNeeded = tilesTouching(union).size.toLong * ids.size
    val masked = rasterize(shapes, area, lines)
    Map("tiles_read" -> tilesRead, "tiles_needed" -> tilesNeeded, "masked_px" -> masked,
      "decoded_px" -> tilesRead / ids.size * tileCells, "vertices" -> vertexCount)
  }

  private def open(ids: Seq[String], aoi: Geometry): Seq[Zonal.Layer] = ids.map { id =>
    val m = cat.meta(id)
    Zonal.Layer(m, TileCatalog.readLayer(spark, cat.path, m, aoi))
  }

  private def planned(df: => DataFrame): DataFrame = span("operators.plan") {
    val d = df
    d.queryExecution.executedPlan
    d
  }

  private def render(v: JValue): String = span("api.json") {
    JsonMethods.compact(JsonMethods.render(JObject("result" -> v)))
  }
  private def ints(m: Map[String, Int]): JValue =
    JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> (JInt(v): JValue) })

  // ---- replays, mirroring Service.run / Service.runMulti ----

  private def opts(pixelIsArea: Option[Boolean]): Rasterizer.Options =
    pixelIsArea.map(p => Rasterizer.Options(includePartial = true, pixelIsArea = p))
      .getOrElse(Rasterizer.DEFAULT)

  private def replayRun(body: String): Map[String, Any] = {
    val (in, o, aois, aoi, lines, ids) = span("replay") { onPathRun(body) }
    val shapes = in.operationType match {
      case "RasterGroupedCountMany" => aois
      case "RasterLinesJoin" => Nil
      case _ => Seq(aoi)
    }
    facts(ids, aoi, shapes, o.pixelIsArea, lines, vertices(aois) + vertices(lines))
  }

  private def onPathRun(body: String) = {
    val in = span("api.json") { JsonMethods.parse(body).extract[Service.PostRequest].input }
    val o = opts(in.pixelIsArea)
    val aois = span("geom.aoi") { in.polygon.getOrElse(Nil).map(GeomOps.toAoi(_, LatLng, Albers)) }
    val aoi = span("geom.union") { GeomOps.unionAll(aois) }
    val lines: Seq[MultiLineString] =
      if (in.operationType != "RasterLinesJoin") Nil
      else span("geom.lines") {
        GeomOps.clipLines(in.vector.getOrElse(Nil).map(GeomOps.toLines(_, LatLng, Albers)), aoi)
      }
    val ids = in.rasters ++ in.targetRaster.toSeq
    val layers = span("sources.open") { open(ids, aoi) }
    val lay = cat.layout(ids)
    val groups = layers.take(in.rasters.size)
    in.operationType match {
      case "RasterGroupedCount" =>
        val df = planned(Zonal.groupedCount(spark, lay, groups, aoi, o))
        render(ints(span("operators.exec") { Render.toResultInt(df) }))
      case "RasterGroupedCountMany" =>
        val df = planned(Zonal.groupedCountMany(spark, lay, groups, aois, o))
        render(JArray(span("operators.exec") { Render.toResultManyInt(df, aois.size) }.map(ints).toList))
      case "RasterGroupedAverage" =>
        val df = planned(Zonal.groupedAverage(spark, lay, groups, layers.last, aoi, o))
        val r = span("operators.exec") { Render.toResultDouble(df) }
        render(JObject(r.toList.sortBy(_._1).map { case (k, v) => k -> (JDouble(v): JValue) }))
      case "RasterSummary" =>
        val df = planned(Zonal.summary(spark, lay, layers, aoi, o))
        val rows = span("operators.exec") { Render.toResultSummary(df) }
        render(JArray(rows.map(m => JObject(m.map { case (k, v) => k -> (JDouble(v): JValue) }.toList)).toList))
      case "RasterLinesJoin" =>
        val df = planned(Zonal.linesJoin(spark, lay, layers, lines))
        render(ints(span("operators.exec") { Render.toResultInt(df) }))
    }
    (in, o, aois, aoi, lines, ids)
  }

  private def replayMulti(body: String): Map[String, Any] = {
    val (req, shapes, union, streams, ids) = span("replay") { onPathMulti(body) }
    val lines = shapes.map(s => GeomOps.clipLines(streams, s)).filter(_.nonEmpty).map { ls =>
      Inputs.gf.createMultiLineString(ls.flatMap(ml =>
        (0 until ml.getNumGeometries).map(ml.getGeometryN(_).asInstanceOf[LineString])).toArray): Geometry
    }
    val area = req.operations.exists(_.pixelIsArea.contains(true))
    facts(ids, union, shapes, area, lines, vertices(shapes) + vertices(streams))
  }

  private def onPathMulti(body: String) = {
    val req = span("api.json") { JsonMethods.parse(body).extract[Service.MultiInput] }
    val shapes = span("geom.aoi") { req.shapes.map(s => GeomOps.toAoi(s.shape, LatLng, Albers)) }
    val union = span("geom.union") { GeomOps.unionAll(shapes) }
    val streams = span("geom.lines") { req.streamLines.map(GeomOps.toLines(_, LatLng, Albers)) }
    val ops: Seq[Zonal.BatchOp] = req.operations.map { op =>
      op.name match {
        case "RasterGroupedCount" => Zonal.BatchCount(op.label, op.rasters, opts(op.pixelIsArea))
        case "RasterGroupedAverage" =>
          Zonal.BatchAverage(op.label, op.rasters, op.targetRaster.get, opts(op.pixelIsArea))
        case "RasterLinesJoin" => Zonal.BatchLines(op.label, op.rasters)
      }
    }
    val ids = req.operations.flatMap(op => op.rasters ++ op.targetRaster).distinct
    val layers = span("sources.open") { open(ids, union) }
    val shared = span("operators.persist") {
      ids.zip(layers).map { case (id, l) => id -> l.copy(df = l.df.persist()) }.toMap
    }
    try {
      val df = planned(Zonal.multiBatch(spark, cat.layout(ids), shared, shapes, streams, ops))
      val rows = span("operators.exec") { df.collect() }
      span("api.json") {
        val hucIds = req.shapes.map(_.id)
        Serialization.write(rows.groupBy(r => hucIds(r.getInt(0))).map { case (huc, rs) =>
          huc -> rs.groupBy(_.getString(1)).map { case (label, ls) =>
            label -> ls.map(r => r.getString(2) -> r.getDouble(3)).toMap
          }
        })
      }
    } finally span("operators.persist") { shared.values.foreach(_.df.unpersist()) }
    (req, shapes, union, streams, ids)
  }
}
