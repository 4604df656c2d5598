package perfbench

import java.util.SplittableRandom

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.geom.{GeomOps, Projections}

/** Deterministic preparation, run in its own JVM before any timed run:
  * builds the raster catalog when the data directory lacks it, then
  * writes one workload's seeded requests and their expected responses.
  *
  * {{{ Prep <dataDir> <workload> <seed> }}}
  *
  * Output: `<dataDir>/seed-<seed>/<workload>.json`, an array of
  * `{"path", "body", "expected"}` in schedule order.
  */
object Prep {

  final case class Req(path: String, body: String, expected: JValue)

  def main(args: Array[String]): Unit = {
    val Array(dataDir, workload, seedArg) = args
    val seed = seedArg.toLong
    Catalog.ensure()
    val out = new java.io.File(s"$dataDir/seed-$seed/$workload.json")
    if (out.exists()) return
    val rnd = new SplittableRandom(seed * 1000003L + workload.hashCode)
    val reqs = workload match {
      case "huc8_run" => huc8Run(rnd)
      case "multi_batch" => multiBatch(rnd)
      case "huc12_http" => huc12Http(rnd)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    out.getParentFile.mkdirs()
    val tmp = new java.io.File(out.getPath + ".tmp")
    val json = JArray(reqs.map(r => JObject(
      "path" -> JString(r.path), "body" -> JString(r.body), "expected" -> r.expected)).toList)
    java.nio.file.Files.writeString(tmp.toPath, JsonMethods.compact(JsonMethods.render(json)))
    if (!tmp.renameTo(out)) throw new java.io.IOException(s"rename failed: $tmp")
  }

  // ---- request bodies ----

  private def strings(ss: Seq[String]): String = ss.map(Inputs.quote).mkString("[", ",", "]")

  private def runBody(op: String, rasters: Seq[String], polygons: Seq[String],
                      target: Option[String] = None, vector: Seq[String] = Nil): String = {
    val fields = Seq(
      s""""operationType":"$op"""",
      s""""rasters":${strings(rasters)}""",
      """"polygonCRS":"LatLng"""",
      """"rasterCRS":"ConusAlbers"""",
      s""""polygon":${strings(polygons)}""") ++
      target.map(t => s""""targetRaster":"$t"""") ++
      (if (vector.isEmpty) Nil else Seq(s""""vector":${strings(vector)}""", """"vectorCRS":"LatLng""""))
    fields.mkString("""{"input":{""", ",", "}}")
  }

  /** The geometry the service sees: parsed, reprojected, regularised by
    * the same `geom` calls, so expected masks use identical coordinates.
    */
  private def aoiOf(json: String) = GeomOps.toAoi(json, Projections.LatLng, Projections.ConusAlbers)
  private def linesOf(json: String) = GeomOps.toLines(json, Projections.LatLng, Projections.ConusAlbers)

  // ---- expected values as JSON ----

  private def counts(m: Map[String, Long]): JValue =
    JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> (JInt(v): JValue) })
  private def doubles(m: Map[String, Double]): JValue =
    JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> (JDouble(v): JValue) })
  private def result(v: JValue): JValue = JObject("result" -> v)

  // ---- workloads ----

  /** `/run` RasterGroupedCount nlcd×soil over four distinct HUC-8 AOIs. */
  def huc8Run(rnd: SplittableRandom): Seq[Req] =
    (0 until 4).map { _ =>
      val json = Inputs.multiPolygonJson(Inputs.huc8(rnd))
      val aoi = GeomOps.unionAll(Seq(aoiOf(json)))
      Req("/run", runBody("RasterGroupedCount", Seq("nlcd", "soil"), Seq(json)),
        result(counts(Expected.counts(Expected.centerMask(aoi), Seq("nlcd", "soil")))))
    }

  /** The seven `/multi` operations over the fixture's three rasters. */
  private val multiOps: Seq[(String, String, Seq[String], Option[String], Boolean)] = Seq(
    ("RasterGroupedCount", "nlcd_soil", Seq("nlcd", "soil"), None, false),
    ("RasterGroupedCount", "soil", Seq("soil"), None, false),
    ("RasterLinesJoin", "nlcd_streams", Seq("nlcd"), None, false),
    ("RasterGroupedAverage", "slope_by_soil", Seq("soil"), Some("slope"), false),
    ("RasterGroupedAverage", "slope_by_nlcd", Seq("nlcd"), Some("slope"), false),
    ("RasterGroupedAverage", "slope", Nil, Some("slope"), false),
    ("RasterGroupedAverage", "slope_area", Nil, Some("slope"), true))

  /** `/multi`: 61 HUC-12-class shapes tiling a HUC-8 AOI, ~2,000 stream
    * segments, 7 operations. Two distinct batches, alternated.
    */
  def multiBatch(rnd: SplittableRandom): Seq[Req] =
    (0 until 2).map { _ =>
      val huc8 = Inputs.huc8(rnd)
      val shapes = Inputs.tiling(rnd, huc8, 61)
      val streams = Inputs.streams(rnd, huc8.getEnvelopeInternal, 20, 100, 12.0)
      val shapeJson = shapes.map(Inputs.multiPolygonJson)
      val streamJson = streams.map(l => Inputs.multiLineJson(Seq(l)))
      val ids = shapes.indices.map(i => f"HUC12-$i%02d")
      val ops = multiOps.map { case (op, label, rasters, target, area) =>
        val fields = Seq(s""""name":"$op"""", s""""label":"$label"""",
          s""""rasters":${strings(rasters)}""") ++
          target.map(t => s""""targetRaster":"$t"""") ++
          (if (area) Seq(""""pixelIsArea":true""") else Nil)
        fields.mkString("{", ",", "}")
      }
      val body = s"""{"shapes":${ids.zip(shapeJson).map { case (id, s) =>
          s"""{"id":"$id","shape":${Inputs.quote(s)}}""" }.mkString("[", ",", "]")},""" +
        s""""streamLines":${strings(streamJson)},"operations":${ops.mkString("[", ",", "]")}}"""
      val lines = streamJson.map(linesOf)
      val expected = JObject(ids.zip(shapeJson).map { case (id, sj) =>
        val shape = aoiOf(sj)
        lazy val center = Expected.centerMask(shape)
        id -> JObject(multiOps.map { case (op, label, rasters, target, area) =>
          label -> (op match {
            case "RasterGroupedCount" => counts(Expected.counts(center, rasters))
            case "RasterLinesJoin" =>
              counts(Expected.counts(Expected.linesMask(GeomOps.clipLines(lines, shape), shape), rasters))
            case _ =>
              val mask = if (area) Expected.areaMask(shape) else center
              doubles(Expected.averages(mask, rasters, target.get))
          })
        }.toList): JField
      }.toList)
      Req("/multi", body, expected)
    }

  /** Small `/run` requests: 8 HUC-12-class AOIs, two of each tile
    * footprint, with the five operation types cycled over them (40
    * distinct requests, each AOI meeting each operation once).
    */
  def huc12Http(rnd: SplittableRandom): Seq[Req] = {
    val polys = (0 until 8).map(i => Inputs.huc12(rnd, i % 4))
    // the second polygon of a CountMany request: a smaller AOI nested
    // in the first, so the pair reads the same tiles
    val inner = polys.map { p =>
      val c = p.getCentroid
      Inputs.blob(rnd, c.getX, c.getY, Inputs.Huc12Radius * 0.6, Inputs.Huc12Radius * 0.6, 200, 0.06)
    }
    val jsons = polys.map(Inputs.multiPolygonJson)
    val streams = polys.map(p => Inputs.streams(rnd, p.getEnvelopeInternal, 3, 30, 12.0))
    (0 until 40).map { n =>
      val i = n % polys.size
      val aoi = GeomOps.unionAll(Seq(aoiOf(jsons(i))))
      n % 5 match {
        case 0 =>
          Req("/run", runBody("RasterGroupedCount", Seq("nlcd", "soil"), Seq(jsons(i))),
            result(counts(Expected.counts(Expected.centerMask(aoi), Seq("nlcd", "soil")))))
        case 1 =>
          val pair = Seq(jsons(i), Inputs.multiPolygonJson(inner(i)))
          Req("/run", runBody("RasterGroupedCountMany", Seq("nlcd"), pair),
            result(JArray(pair.map(j =>
              counts(Expected.counts(Expected.centerMask(aoiOf(j)), Seq("nlcd")))).toList)))
        case 2 =>
          Req("/run", runBody("RasterGroupedAverage", Seq("soil"), Seq(jsons(i)), Some("slope")),
            result(doubles(Expected.averages(Expected.centerMask(aoi), Seq("soil"), "slope"))))
        case 3 =>
          val mask = Expected.centerMask(aoi)
          Req("/run", runBody("RasterSummary", Seq("nlcd", "slope"), Seq(jsons(i))),
            result(JArray(Seq("nlcd", "slope").map { r =>
              val (mn, avg, mx) = Expected.summary(mask, r)
              JObject("min" -> JDouble(mn), "avg" -> JDouble(avg), "max" -> JDouble(mx)): JValue
            }.toList)))
        case 4 =>
          val vector = Seq(Inputs.multiLineJson(streams(i)))
          val lines = GeomOps.clipLines(vector.map(linesOf), aoi)
          Req("/run", runBody("RasterLinesJoin", Seq("nlcd", "soil"), Seq(jsons(i)), vector = vector),
            result(counts(Expected.counts(Expected.linesMask(lines, aoi), Seq("nlcd", "soil")))))
      }
    }
  }
}
