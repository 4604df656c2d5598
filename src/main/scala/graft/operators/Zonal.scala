package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.{Geometry, GeometryFactory, LineString, MultiLineString, MultiPolygon}

import graft.geom.GeomOps
import graft.raster.{Extent, Layout, NoData, RasterExtent, Rasterizer}
import graft.sources.TileCatalog.RasterMeta

/** The reference's zonal-statistics operators (SURVEY §2.1 rows A–G)
  * as Spark plans over the tiles table, all built on ONE kernel,
  * [[plane]]:
  *
  *   pruned scan(s) → full-outer align join on SpatialKey (NODATA
  *   fill) → one flatMap that, per tile and per shape whose envelope
  *   touches the tile, masks the shape's cells and PARTIALLY
  *   AGGREGATES them by value tuple → tiny final Catalyst aggregation.
  *
  * A [[Mask]] decides which cells of a tile a shape covers:
  *  - [[PolygonMask]]: `Rasterizer.foreachCellByPolygon` under the
  *    request's `Rasterizer.Options`, after clipping the shape to the
  *    tile (rows A–C, E, F, `RasterGroupedSum` and G's polygon ops);
  *  - [[LineMask]]: `Rasterizer.foreachCellByLines`, whose per-(tile,
  *    shape) BitSet visits each crossed pixel once. Pixels belong to
  *    exactly one tile, so the per-tile counts already are the
  *    reference's COUNT DISTINCT (row D; the reference used a
  *    concurrent TrieMap set for the same dedup).
  *
  * Every operator is a projection or aggregation over that plane; a
  * single-AOI operator is the one-shape case of its batch form.
  *
  * The flatMap emits one row per (tile, shape, value-tuple) — never
  * per pixel — so shuffle volume is O(tiles × groups), not O(pixels):
  * a 100 TB catalog shuffles a few hundred rows per tile regardless of
  * tile size (group cardinality is ≤ ~500 in the reference workload,
  * SURVEY §6). This is the reference's lock-free TrieMap partial
  * aggregation (Geoprocessing.scala:215,302,348,405) relocated into
  * the task, with Spark's hash aggregation finishing the job.
  *
  * NODATA semantics (SURVEY §2.3):
  *  - group values: NODATA (Int.MinValue) groups as itself;
  *  - no group layers: every pixel keys on `List(0)` (reference
  *    Geoprocessing.scala:275);
  *  - average target: NODATA contributes 0.0 but still counts
  *    (reference Geoprocessing.scala:266-270, 313-319);
  *  - summary min/max skip NODATA (as NULL — documented divergence
  *    from the reference's inert NaN guard, Utils.scala:266-284);
  *    summary avg counts every masked pixel with NODATA as 0.0;
  *  - a tile missing from EVERY layer has no join key → contributes
  *    no pixels (reference join-keys semantics, Utils.scala:221-232).
  */
object Zonal {

  final case class Layer(meta: RasterMeta, df: DataFrame)

  /** Serializable lazy-parsing geometry holder for broadcast. */
  private final class BGeom(val wkb: Array[Byte], exmin: Double, eymin: Double,
                            exmax: Double, eymax: Double) extends Serializable {
    @transient private var g: Geometry = _
    def geom: Geometry = {
      if (g == null) g = GeomOps.fromWkb(wkb)
      g
    }
    /** Envelope rejection: true when this shape's bbox cannot touch the
      * extent — four double compares, no JTS, no WKB deserialization.
      * Non-strict (shared edges count as intersecting) so boundary
      * cells are never wrongly skipped. Both masks cover only cells
      * inside the shape's closed bbox (the line walk rejects every
      * segment whose closed bbox misses the tile), so a skipped pair
      * always masked zero cells.
      */
    def disjointFrom(e: Extent): Boolean =
      exmin > e.xmax || exmax < e.xmin || eymin > e.ymax || eymax < e.ymin
  }

  private def bgeom(g: Geometry): BGeom = {
    val env = g.getEnvelopeInternal
    new BGeom(GeomOps.toWkb(g), env.getMinX, env.getMinY, env.getMaxX, env.getMaxY)
  }

  /** Count of (tile, shape) pairs rejected by the envelope fast-path —
    * a per-JVM diagnostic for specs (meaningful in local mode; on a
    * cluster each executor counts its own skips).
    */
  private[graft] val envSkips = new java.util.concurrent.atomic.AtomicLong

  /** Decode a grouping tile to Int values regardless of stored cell
    * type (reference semantics: grouping rasters are read as Int,
    * `tile.get` — double cells truncate, NaN → NODATA).
    */
  private def decodeIntTile(row: Row, ord: Int): Array[Int] =
    if (row.isNullAt(ord)) null
    else row.getSeq[Any](ord).map {
      case i: Int => i
      case d: Double => if (d.isNaN) NoData.INT else d.toInt
      case null => NoData.INT
    }.toArray

  /** Decode a target tile to Double regardless of stored cell type
    * (reference `tile.getDouble` — Int NODATA widens to NaN).
    */
  private def decodeDoubleTile(row: Row, ord: Int): Array[Double] =
    if (row.isNullAt(ord)) null
    else row.getSeq[Any](ord).map {
      case d: Double => d
      case i: Int => if (i == NoData.INT) Double.NaN else i.toDouble
      case null => Double.NaN
    }.toArray

  /** Hash-map key wrapping a primitive int array. */
  private final class ValsKey(val a: Array[Int]) {
    override val hashCode: Int = java.util.Arrays.hashCode(a)
    override def equals(o: Any): Boolean = o match {
      case k: ValsKey => java.util.Arrays.equals(a, k.a)
      case _ => false
    }
  }

  /** Per-group accumulator for one (tile, shape). */
  private final class Agg {
    var cnt: Long = 0L
    var sum: Double = 0.0
    var mn: Double = Double.NaN
    var mx: Double = Double.NaN
    def add(tv: Double): Unit = {
      cnt += 1
      if (!tv.isNaN) {
        sum += tv
        if (mn.isNaN || tv < mn) mn = tv
        if (mx.isNaN || tv > mx) mx = tv
      }
    }
  }

  /** Full-outer align join of N layers on SpatialKey (reference
    * `joinCollectionLayers`, Utils.scala:221-232 — missing tiles stay
    * null here and NODATA-fill inside the flatMap).
    */
  private def joinLayers(layers: Seq[Layer]): DataFrame = {
    require(layers.nonEmpty, "at least one layer")
    require(layers.map(_.meta.layout).distinct.size == 1,
      s"layers must share one layout: ${layers.map(_.meta.rasterId).mkString(", ")}")
    val renamed = layers.zipWithIndex.map { case (l, i) =>
      val valueCol = if (l.meta.isInt) col("tile_i") else col("tile_d")
      l.df.select(col("key_col"), col("key_row"), valueCol.as(s"t$i"))
    }
    renamed.reduce((a, b) => a.join(b, Seq("key_col", "key_row"), "full_outer"))
  }

  private val planeSchema = StructType(Seq(
    StructField("shape_id", IntegerType, nullable = false),
    StructField("vals", ArrayType(IntegerType, containsNull = false)),
    StructField("cnt", LongType, nullable = false),
    StructField("sum", DoubleType, nullable = false),
    StructField("mn", DoubleType, nullable = true),
    StructField("mx", DoubleType, nullable = true)))

  /** Which cells of a tile a shape covers; shipped inside the kernel's
    * closure, so it must serialize.
    */
  private[graft] sealed trait Mask extends Serializable {
    def foreachCell(g: Geometry, re: RasterExtent)(f: (Int, Int) => Unit): Unit
  }

  /** Polygon coverage under `opts`. The shape is pre-clipped to the
    * tile extent: that bounds the scanline to the tile and keeps
    * per-tile cost proportional to local geometry complexity
    * (center-sampling is invariant under this clip). Not clipped for
    * PixelIsArea/includePartial=false, where artificial clip edges
    * would wrongly erode interior cells.
    */
  private[graft] final case class PolygonMask(opts: Rasterizer.Options) extends Mask {
    def foreachCell(g: Geometry, re: RasterExtent)(f: (Int, Int) => Unit): Unit = {
      val clipped =
        if ((opts.pixelIsArea && !opts.includePartial) || g.getNumGeometries == 0) g
        else try g.intersection(g.getFactory.toGeometry(re.extent.toEnvelope))
        catch { case _: Exception => g }
      Rasterizer.foreachCellByPolygon(clipped, re, opts)(f)
    }
  }

  /** Line coverage: every cell a segment passes through, once each. */
  private[graft] case object LineMask extends Mask {
    def foreachCell(g: Geometry, re: RasterExtent)(f: (Int, Int) => Unit): Unit =
      Rasterizer.foreachCellByLines(g, re)(f)
  }

  /** THE zonal kernel — the partially-aggregated masked plane: per
    * (tile, shape, value-tuple) one row `(shape_id, vals, cnt, sum, mn,
    * mx)` where sum/mn/mx aggregate the (optional) target under the
    * NODATA rules and `shape_id` indexes `shapes`.
    */
  private[graft] def plane(layout: Layout, groupLayers: Seq[Layer], target: Option[Layer],
                           shapes: Seq[Geometry], mask: Mask): DataFrame = {
    val joined = joinLayers(groupLayers ++ target.toSeq)
    val n = groupLayers.size
    val hasTarget = target.isDefined
    val bgs = shapes.map(bgeom)
    val lay = layout
    val tileCols = layout.tileCols
    joined.flatMap { row =>
      val re = lay.rasterExtent(row.getInt(0), row.getInt(1))
      val groups: Array[Array[Int]] = Array.tabulate(n)(i => decodeIntTile(row, 2 + i))
      val tgt: Array[Double] = if (hasTarget) decodeDoubleTile(row, 2 + n) else null
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      bgs.zipWithIndex.foreach { case (bg, si) =>
        // envelope fast-path: a shape whose bbox misses this tile's
        // extent masks zero cells here — skip the mask entirely. At
        // 10⁴-shape batches this turns the per-tile cost from
        // O(shapes) JTS clips or line walks into O(shapes) double
        // compares plus work only for genuinely overlapping pairs.
        if (bg.disjointFrom(re.extent)) Zonal.envSkips.incrementAndGet()
        else {
          val accum = scala.collection.mutable.HashMap.empty[ValsKey, Agg]
          mask.foreachCell(bg.geom, re) { (c, r) =>
            val vals = new Array[Int](n)
            var i = 0
            while (i < n) {
              vals(i) = if (groups(i) == null) NoData.INT else groups(i)(r * tileCols + c)
              i += 1
            }
            val tv =
              if (!hasTarget) 0.0
              else if (tgt == null) Double.NaN
              else tgt(r * tileCols + c)
            accum.getOrElseUpdate(new ValsKey(vals), new Agg).add(tv)
          }
          accum.foreach { case (k, a) =>
            out += Row(si, if (n == 0) Seq(0) else k.a.toSeq, a.cnt, a.sum,
              if (a.mn.isNaN) null else a.mn, if (a.mx.isNaN) null else a.mx)
          }
        }
      }
      out
    }(Encoders.row(planeSchema)).toDF()
  }

  /** Final aggregation of a plane per (shape, value tuple). */
  private def perShape(plane: DataFrame, agg: Column): DataFrame =
    plane.groupBy(col("shape_id"), col("vals")).agg(agg)

  /** Row A — `rasterGroupedCount` (Geoprocessing.scala:338-368):
    * COUNT(*) of masked pixels per distinct value tuple.
    */
  def groupedCount(spark: SparkSession, layout: Layout, layers: Seq[Layer],
                   aoi: MultiPolygon, opts: Rasterizer.Options = Rasterizer.DEFAULT): DataFrame =
    groupedCountMany(spark, layout, layers, Seq(aoi), opts).select(col("vals"), col("cnt"))

  /** Row F — `getRasterGroupedCountMany` (Geoprocessing.scala:114-126):
    * grouped count per input polygon; every shape masks each tile in
    * ONE flatMap pass (shape_id column instead of per-shape rescans —
    * the reference fetches layers once for the union AOI,
    * Geoprocessing.scala:116-120).
    */
  def groupedCountMany(spark: SparkSession, layout: Layout, layers: Seq[Layer],
                       aois: Seq[MultiPolygon],
                       opts: Rasterizer.Options = Rasterizer.DEFAULT): DataFrame =
    perShape(plane(layout, layers, None, aois, PolygonMask(opts)), sum(col("cnt")).as("cnt"))

  /** Rows B/C — `rasterAverage` / `rasterGroupedAverage`
    * (Geoprocessing.scala:245-277, 288-329): mean of target per value
    * tuple; NODATA target → 0.0 but counted. Ungrouped = constant
    * key `List(0)` (reference :275).
    */
  def groupedAverage(spark: SparkSession, layout: Layout, groupLayers: Seq[Layer],
                     target: Layer, aoi: MultiPolygon,
                     opts: Rasterizer.Options = Rasterizer.DEFAULT): DataFrame =
    groupedAverageMany(spark, layout, groupLayers, target, Seq(aoi), opts)
      .select(col("vals"), col("avg_v"))

  /** Grouped average per shape in one pass (the /multi batch kernel). */
  def groupedAverageMany(spark: SparkSession, layout: Layout, groupLayers: Seq[Layer],
                         target: Layer, aois: Seq[MultiPolygon],
                         opts: Rasterizer.Options = Rasterizer.DEFAULT): DataFrame =
    perShape(plane(layout, groupLayers, Some(target), aois, PolygonMask(opts)),
      (sum(col("sum")) / sum(col("cnt"))).as("avg_v"))

  /** CHANGELOG-era `RasterGroupedSum` (reference CHANGELOG.md:151-153). */
  def groupedSum(spark: SparkSession, layout: Layout, groupLayers: Seq[Layer],
                 target: Layer, aoi: MultiPolygon,
                 opts: Rasterizer.Options = Rasterizer.DEFAULT): DataFrame =
    perShape(plane(layout, groupLayers, Some(target), Seq(aoi), PolygonMask(opts)),
      sum(col("sum")).as("sum_v")).select(col("vals"), col("sum_v"))

  /** Row E — `rasterSummary` (Geoprocessing.scala:380-431): per input
    * raster (order preserved), min/avg/max over masked pixels; min/max
    * skip NODATA, avg counts every masked pixel.
    */
  def summary(spark: SparkSession, layout: Layout, layers: Seq[Layer],
              aoi: MultiPolygon,
              opts: Rasterizer.Options = Rasterizer.DEFAULT): DataFrame =
    layers.zipWithIndex.map { case (l, i) =>
      plane(layout, Nil, Some(l), Seq(aoi), PolygonMask(opts))
        .agg(
          min(col("mn")).as("min_v"),
          max(col("mx")).as("max_v"),
          (sum(col("sum")) / sum(col("cnt"))).as("avg_v"))
        .select(lit(i).as("idx"), lit(l.meta.rasterId).as("raster_id"),
          col("min_v"), col("avg_v"), col("max_v"))
    }.reduce(_.unionByName(_)).orderBy("idx")

  /** Row D — `rasterLinesJoin` (Geoprocessing.scala:210-235): count
    * DISTINCT pixels touched by ≥1 line, grouped by value tuple — the
    * line mask's per-tile dedup needs no global distinct.
    */
  def linesJoin(spark: SparkSession, layout: Layout, layers: Seq[Layer],
                lines: Seq[MultiLineString]): DataFrame =
    linesJoinMany(spark, layout, layers, Seq(lines))
      .select(col("vals"), col("cnt"))

  /** Lines join for many shapes in ONE pass (the 61-shape reference
    * batch becomes one scan); each shape's lines merge into one
    * multi-line so a pixel crossed by several counts once.
    */
  def linesJoinMany(spark: SparkSession, layout: Layout, layers: Seq[Layer],
                    linesPerShape: Seq[Seq[MultiLineString]]): DataFrame = {
    val gf = new GeometryFactory()
    val shapes = linesPerShape.map { ls =>
      gf.createMultiLineString((for (ml <- ls; i <- 0 until ml.getNumGeometries)
        yield ml.getGeometryN(i).asInstanceOf[LineString]).toArray)
    }
    perShape(plane(layout, layers, None, shapes, LineMask), sum(col("cnt")).as("cnt"))
  }

  /** Batch op spec for [[multiBatch]]. */
  sealed trait BatchOp { def label: String }
  final case class BatchCount(label: String, rasters: Seq[String],
                              opts: Rasterizer.Options = Rasterizer.DEFAULT) extends BatchOp
  final case class BatchAverage(label: String, rasters: Seq[String], target: String,
                                opts: Rasterizer.Options = Rasterizer.DEFAULT) extends BatchOp
  final case class BatchLines(label: String, rasters: Seq[String]) extends BatchOp

  /** The /multi batch as ONE unioned DataFrame plan (SURVEY §3.2's
    * "idiomatic-Spark win"): shared cached scans feed a single-pass
    * multi-shape plane per op; output is
    * `(shape_id, op_label, k, v)` with Ints widened to Double
    * (reference Geoprocessing.scala:56).
    */
  def multiBatch(spark: SparkSession, layout: Layout, shared: Map[String, Layer],
                 aois: Seq[MultiPolygon],
                 lines: Seq[MultiLineString],
                 ops: Seq[BatchOp]): DataFrame = {
    val keyExpr = expr("concat('List(', array_join(transform(vals, v -> cast(v as string)), ', '), ')')")
    def tagged(df: DataFrame, label: String, v: String): DataFrame =
      df.select(col("shape_id"), lit(label).as("op_label"), keyExpr.as("k"),
        col(v).cast("double").as("v"))
    ops.map {
      case BatchCount(label, rasters, o) =>
        tagged(groupedCountMany(spark, layout, rasters.map(shared), aois, o), label, "cnt")
      case BatchAverage(label, rasters, target, o) =>
        tagged(groupedAverageMany(spark, layout, rasters.map(shared), shared(target), aois, o),
          label, "avg_v")
      case BatchLines(label, rasters) =>
        tagged(linesJoinMany(spark, layout, rasters.map(shared),
          aois.map(GeomOps.clipLines(lines, _))), label, "cnt")
    }.reduce(_.unionByName(_))
  }
}

/** Wire-format rendering: `"List(v1, v2)"` stringified tuples are part
  * of the reference's response contract (Geoprocessing.scala:366, all
  * goldens), reproduced exactly.
  */
object Render {
  def listKey(vals: Seq[Int]): String = vals.mkString("List(", ", ", ")")

  def toResultInt(df: DataFrame): Map[String, Int] =
    df.collect().map(r => listKey(r.getSeq[Int](0)) -> r.getLong(1).toInt).toMap

  def toResultDouble(df: DataFrame): Map[String, Double] =
    df.collect().map(r => listKey(r.getSeq[Int](0)) -> r.getDouble(1)).toMap

  def toResultSummary(df: DataFrame): Seq[Map[String, Double]] =
    df.collect().sortBy(_.getInt(0)).map { r =>
      def d(i: Int) = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
      Map("min" -> d(2), "avg" -> d(3), "max" -> d(4))
    }.toSeq

  def toResultManyInt(df: DataFrame, nShapes: Int): Seq[Map[String, Int]] = {
    val grouped = df.collect()
      .groupBy(_.getInt(df.columns.indexOf("shape_id")))
    (0 until nShapes).map { i =>
      grouped.getOrElse(i, Array.empty)
        .map(r => listKey(r.getSeq[Int](df.columns.indexOf("vals"))) ->
          r.getLong(df.columns.indexOf("cnt")).toInt).toMap
    }
  }
}
