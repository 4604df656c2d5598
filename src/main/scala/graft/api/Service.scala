package graft.api

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}
import org.locationtech.jts.geom.{MultiLineString, MultiPolygon}

import graft.geom.{GeomOps, Projections}
import graft.operators.{Render, Zonal}
import graft.raster.Rasterizer
import graft.sources.TileCatalog

/** The reference's HTTP surface as a library service: same request /
  * response JSON schema, dispatch rules, and error messages as
  * WebServer.scala:11-62,75-101 + ErrorHandler.scala:8-46 — minus the
  * HTTP transport (a main that maps request JSON to response JSON is
  * the parity boundary; any server can wrap [[run]]/[[runMulti]]).
  */
object Service {

  // -- request schema (reference WebServer.scala:11-22,45-49) --

  final case class InputData(
      operationType: String,
      rasters: List[String],
      targetRaster: Option[String],
      pixelIsArea: Option[Boolean],
      zoom: Option[Int],
      polygonCRS: Option[String],
      rasterCRS: Option[String],
      polygon: Option[List[String]],
      vectorCRS: Option[String],
      vector: Option[List[String]])

  final case class PostRequest(input: InputData)

  final case class HucShape(id: String, shape: String)
  final case class MultiOperation(
      name: String, label: String, rasters: List[String],
      targetRaster: Option[String], pixelIsArea: Option[Boolean])
  /** `crs` is a graft extension (absent ⇒ LatLng, matching the
    * reference's hardcoded assumption, Utils.scala:93-97).
    */
  final case class MultiInput(
      shapes: List[HucShape], streamLines: List[String],
      operations: List[MultiOperation], crs: Option[String])

  class MissingTargetRasterException extends Exception
  class MissingVectorException extends Exception
  class MissingVectorCRSException extends Exception
  class InvalidOperationException(op: String)
    extends Exception(s"Invalid operationType: $op")
  /** The reference threads the request's zoom into the catalog read
    * (WebServer.scala:16 → Utils.scala:50-57, `LayerId(rasterId, zoom)`)
    * and fails when that layer id is absent; graft surfaces the same
    * condition as a typed 400 instead of a raw read failure.
    */
  class UnknownZoomException(id: String, zoom: Int)
    extends Exception(s"Unknown zoom $zoom for raster: $id")

  private implicit val fmts: Formats = DefaultFormats

  /** A catalog handle: a snapshot of the catalog under `path`, taken on
    * first use. `meta.json` is read and the tiles table opened once, and
    * every request's layers share that one relation, so a request runs
    * no file listing and no schema inference. Writes made after the
    * first use stay invisible: build a new `Catalog` to see them.
    */
  final case class Catalog(spark: SparkSession, path: String) {
    // meta.json is read BEFORE the tiles are listed. Writers append a
    // raster's tiles before they rewrite meta.json, so every raster in
    // the snapshot's metas has its tiles in the snapshot's listing.
    private lazy val snapshot = {
      val metas = TileCatalog.readMeta(path)
      (metas, TileCatalog.open(spark, path))
    }

    def metas: Map[String, TileCatalog.RasterMeta] = snapshot._1

    /** Per-zoom meta resolution (reference Utils.scala:50-57 builds
      * `LayerId(rasterId, zoom)` from the request): no requested zoom ⇒
      * the raster's base entry; a requested zoom must name a stored
      * pyramid level (`id@zoom` key, or the base entry's own zoom) else
      * the typed [[UnknownZoomException]].
      */
    def meta(id: String, zoom: Option[Int] = None): TileCatalog.RasterMeta = {
      val base = metas.getOrElse(id, throw new IllegalArgumentException(s"Unknown raster: $id"))
      zoom match {
        case None => base
        case Some(z) if z == base.zoom => base
        case Some(z) =>
          metas.getOrElse(TileCatalog.metaKey(id, z), throw new UnknownZoomException(id, z))
      }
    }

    def layers(ids: Seq[String], aoi: org.locationtech.jts.geom.Geometry,
               zoom: Option[Int] = None): Seq[Zonal.Layer] =
      ids.map { id =>
        val m = meta(id, zoom)
        Zonal.Layer(m, TileCatalog.layer(snapshot._2, m, aoi))
      }

    /** Shared layout of the request's rasters. The align join and the
      * pixel indexing assume ONE grid (the reference assumes identical
      * layouts too, Geoprocessing.scala:345) — reject mixed grids
      * instead of silently zipping pixels from different places.
      */
    def layout(ids: Seq[String], zoom: Option[Int] = None): graft.raster.Layout = {
      val layouts = ids.map(id => meta(id, zoom).layout).distinct
      require(layouts.size == 1,
        s"rasters must share one layout, got ${layouts.size}: ${ids.mkString(", ")}")
      layouts.head
    }
  }

  /** The reference's typed error surface (ErrorHandler.scala:8-46) as
    * one mapping both transports share: Some(message) for errors the
    * reference answers with 400, None for everything else (500).
    */
  def errorMessage(t: Throwable): Option[String] = t match {
    case _: MissingTargetRasterException => Some("Missing target raster")
    case _: MissingVectorException => Some("Missing vector input")
    case _: MissingVectorCRSException => Some("Missing vectorCRS")
    case e: InvalidOperationException => Some(e.getMessage)
    case e: UnknownZoomException => Some(e.getMessage)
    case e: graft.geom.UnknownCrsException => Some(e.getMessage)
    case e: graft.geom.MalformedGeoJsonException =>
      Some(s"Malformed GeoJSON: ${e.getMessage}")
    case e: org.json4s.MappingException =>
      Some(s"Invalid request body: ${e.getMessage}")
    case e: com.fasterxml.jackson.core.JacksonException =>
      Some(s"Invalid request body: ${e.getMessage}")
    case e: IllegalArgumentException => Some(e.getMessage)
    case _ => None
  }

  private def crs(name: Option[String], default: Projections.Crs): Projections.Crs =
    name.map(Projections.byName).getOrElse(default)

  private def aoisOf(in: InputData): Seq[MultiPolygon] = {
    val from = crs(in.polygonCRS, Projections.LatLng)
    val to = crs(in.rasterCRS, Projections.ConusAlbers)
    in.polygon.getOrElse(Nil).map(GeomOps.toAoi(_, from, to))
  }

  private def linesOf(in: InputData, aoi: MultiPolygon): Seq[MultiLineString] = {
    val vs = in.vector.getOrElse(throw new MissingVectorException)
    val from = crs(Some(in.vectorCRS.getOrElse(throw new MissingVectorCRSException)),
      Projections.LatLng)
    val to = crs(in.rasterCRS, Projections.ConusAlbers)
    GeomOps.clipLines(vs.map(GeomOps.toLines(_, from, to)), aoi)
  }

  private def opts(pixelIsArea: Option[Boolean]): Rasterizer.Options =
    pixelIsArea.map(p => Rasterizer.Options(includePartial = true, pixelIsArea = p))
      .getOrElse(Rasterizer.DEFAULT)

  private val operationTypes = Set("RasterGroupedCount", "RasterGroupedCountMany",
    "RasterGroupedAverage", "RasterSummary", "RasterLinesJoin")

  /** `POST /run` — dispatch on operationType (WebServer.scala:75-93).
    * The ids, layout and layers are resolved once, before the dispatch,
    * so "rasters must share one layout" comes before any Spark job.
    */
  def run(cat: Catalog, requestJson: String): String = {
    val in = JsonMethods.parse(requestJson).extract[PostRequest].input
    val op = in.operationType
    if (!operationTypes(op)) throw new InvalidOperationException(op)
    val ids = if (op != "RasterGroupedAverage") in.rasters
              else in.rasters :+ in.targetRaster.getOrElse(throw new MissingTargetRasterException)
    val o = opts(in.pixelIsArea)
    val aois = aoisOf(in)
    val aoi = GeomOps.unionAll(aois)
    val lines = if (op == "RasterLinesJoin") linesOf(in, aoi) else Nil
    val layout = cat.layout(ids, in.zoom)
    val layers = cat.layers(ids, aoi, in.zoom)
    val result: JValue = op match {
      case "RasterGroupedCount" =>
        toJ(Render.toResultInt(Zonal.groupedCount(cat.spark, layout, layers, aoi, o)))
      case "RasterGroupedCountMany" =>
        val df = Zonal.groupedCountMany(cat.spark, layout, layers, aois, o)
        JArray(Render.toResultManyInt(df, aois.size).map(toJ).toList)
      case "RasterGroupedAverage" =>
        toJD(Render.toResultDouble(
          Zonal.groupedAverage(cat.spark, layout, layers.init, layers.last, aoi, o)))
      case "RasterSummary" =>
        val rows = Render.toResultSummary(Zonal.summary(cat.spark, layout, layers, aoi, o))
        JArray(rows.map(m => JObject(m.map { case (k, v) => k -> (JDouble(v): JValue) }.toList)).toList)
      case _ =>
        toJ(Render.toResultInt(Zonal.linesJoin(cat.spark, layout, layers, lines)))
    }
    JsonMethods.compact(JsonMethods.render(JObject("result" -> result)))
  }

  private def toJ(m: Map[String, Int]): JValue =
    JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> (JInt(v): JValue) })
  private def toJD(m: Map[String, Double]): JValue =
    JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> (JDouble(v): JValue) })

  /** `POST /multi` — the batch orchestrator (Geoprocessing.scala:21-89):
    * layers fetched ONCE for the union of all shapes; every (shape,
    * operation) pair comes from one zonal pass over them; results nest
    * as HucID → label → key → Double (Ints widened,
    * Geoprocessing.scala:56).
    */
  def runMulti(cat: Catalog, requestJson: String): String = {
    val req = JsonMethods.parse(requestJson).extract[MultiInput]
    val from = crs(req.crs, Projections.LatLng)
    val shapes = req.shapes.map(s =>
      s.id -> GeomOps.toAoi(s.shape, from, Projections.ConusAlbers))
    val unionAoi = GeomOps.unionAll(shapes.map(_._2))
    val rasterIds = req.operations.flatMap(op => op.rasters ++ op.targetRaster).distinct
    val streamLines = req.streamLines.map(
      GeomOps.toLines(_, from, Projections.ConusAlbers))
    val batchOps: Seq[Zonal.BatchOp] = req.operations.map { op =>
      op.name match {
        case "RasterGroupedCount" =>
          Zonal.BatchCount(op.label, op.rasters, opts(op.pixelIsArea))
        case "RasterGroupedAverage" =>
          Zonal.BatchAverage(op.label, op.rasters,
            op.targetRaster.getOrElse(throw new MissingTargetRasterException),
            opts(op.pixelIsArea))
        case "RasterLinesJoin" =>
          Zonal.BatchLines(op.label, op.rasters)
        // deliberate divergence (COVERAGE.md "Deliberate divergences"):
        // the reference's /multi hits a MatchError here and 500s
        // (Geoprocessing.scala:54-75); graft returns the typed 400 the
        // single-op route already uses
        case other => throw new InvalidOperationException(other)
      }
    }
    val layout = cat.layout(rasterIds)
    val layers = rasterIds.zip(cat.layers(rasterIds, unionAoi)).toMap
    val rows = Zonal.multiBatch(cat.spark, layout, layers, shapes.map(_._2),
      streamLines, batchOps).collect()
    val hucIds = shapes.map(_._1)
    val nested: Map[String, Map[String, Map[String, Double]]] =
      rows.groupBy(r => hucIds(r.getInt(0))).map { case (huc, rs) =>
        huc -> rs.groupBy(_.getString(1)).map { case (label, ls) =>
          label -> ls.map(r => r.getString(2) -> r.getDouble(3)).toMap
        }
      }
    // operations yielding no rows for a shape still appear as {} —
    // reference tolerance for non-intersecting shapes (CHANGELOG:71-79)
    val complete = hucIds.map { huc =>
      val labels = req.operations.map(_.label)
      val present = nested.getOrElse(huc, Map.empty)
      huc -> labels.map(l => l -> present.getOrElse(l, Map.empty[String, Double])).toMap
    }.toMap
    Serialization.write(complete)
  }
}
