package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.ArrayData
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
  *   fill) → one [[ZonalPlaneExec]] that, per tile and per shape whose
  *   envelope touches the tile, masks the shape's cells, reads them in
  *   place from the tile arrays and PARTIALLY AGGREGATES them by value
  *   tuple → tiny final Catalyst aggregation.
  *
  * A [[Mask]] decides which cells of a tile a shape covers:
  *  - [[PolygonMask]]: `Rasterizer.foreachCellByPolygon` under the
  *    request's `Rasterizer.Options` (rows A–C, E, F,
  *    `RasterGroupedSum` and G's polygon ops);
  *  - [[LineMask]]: `Rasterizer.foreachCellByLines`, whose per-(tile,
  *    shape) BitSet visits each crossed pixel once. Pixels belong to
  *    exactly one tile, so the per-tile counts already are the
  *    reference's COUNT DISTINCT (row D; the reference used a
  *    concurrent TrieMap set for the same dedup).
  *
  * Every operator is a projection or aggregation over that plane; a
  * single-AOI operator is the one-shape case of its batch form.
  *
  * The kernel emits one row per (tile, shape, value-tuple) — never
  * per pixel — so shuffle volume is O(tiles × groups), not O(pixels):
  * a 100 TB catalog shuffles a few hundred rows per tile regardless of
  * tile size (group cardinality is ≤ ~500 in the reference workload,
  * SURVEY §6). This is the reference's lock-free TrieMap partial
  * aggregation (Geoprocessing.scala:215,302,348,405) relocated into
  * the task, with Spark's hash aggregation finishing the job. Its
  * counters (tiles in, envelope skips, masked pixels, rows out, kernel
  * time) are the exec's SQLMetrics.
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
  private[graft] final class BGeom(val wkb: Array[Byte], exmin: Double, eymin: Double,
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

  /** Full-outer align join of N layers on SpatialKey (reference
    * `joinCollectionLayers`, Utils.scala:221-232 — missing tiles stay
    * null here and read as NODATA inside the kernel).
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

  private[graft] val planeSchema = StructType(Seq(
    StructField("shape_id", IntegerType, nullable = false),
    StructField("vals", ArrayType(IntegerType, containsNull = false)),
    StructField("cnt", LongType, nullable = false),
    StructField("sum", DoubleType, nullable = false),
    StructField("mn", DoubleType, nullable = true),
    StructField("mx", DoubleType, nullable = true)))

  /** Which cells of a tile a shape covers; shipped inside the kernel,
    * so it must serialize.
    */
  private[graft] sealed trait Mask extends Serializable {
    def foreachCell(g: Geometry, re: RasterExtent)(f: (Int, Int) => Unit): Unit
  }

  /** Polygon coverage under `opts`. Center sampling (the default) runs
    * on the whole shape: the scanline's active-edge sweep touches only
    * the edges spanning each row of this tile, and a center-sampled
    * cell does not move under a clip to the tile. PixelIsArea with
    * includePartial clips the shape to the tile first, which bounds its
    * boundary walk to the tile; fully-inside PixelIsArea is not
    * clipped, where artificial clip edges would wrongly erode interior
    * cells.
    */
  private[graft] final case class PolygonMask(opts: Rasterizer.Options) extends Mask {
    def foreachCell(g: Geometry, re: RasterExtent)(f: (Int, Int) => Unit): Unit = {
      val clipped =
        if (!(opts.pixelIsArea && opts.includePartial) || g.getNumGeometries == 0) g
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

  /** Per-task partial aggregate: open addressing from a packed group
    * key to (cnt, sum, mn, mx) in parallel primitive arrays. `clear`
    * resets only the slots the last (tile, shape) used; `slot(e)` is
    * the e-th key seen since then.
    */
  private final class Scratch {
    private var used = new Array[Boolean](64)
    var keys = new Array[Long](64)
    var cnt = new Array[Long](64)
    var sum = new Array[Double](64)
    var mn = new Array[Double](64)
    var mx = new Array[Double](64)
    var slot = new Array[Int](64)
    var size = 0

    def clear(): Unit = {
      var e = 0
      while (e < size) { used(slot(e)) = false; e += 1 }
      size = 0
    }

    def add(k: Long, tv: Double): Unit = {
      val s = find(k)
      cnt(s) += 1
      if (!tv.isNaN) {
        sum(s) += tv
        if (mn(s).isNaN || tv < mn(s)) mn(s) = tv
        if (mx(s).isNaN || tv > mx(s)) mx(s) = tv
      }
    }

    private def find(k: Long): Int = {
      val m = used.length - 1
      val h = k * 0x9E3779B97F4A7C15L
      var s = (h ^ (h >>> 32)).toInt & m
      while (used(s) && keys(s) != k) s = (s + 1) & m
      if (used(s)) s
      else if (2 * (size + 1) > used.length) { grow(); find(k) }
      else {
        used(s) = true; keys(s) = k; cnt(s) = 0L; sum(s) = 0.0
        mn(s) = Double.NaN; mx(s) = Double.NaN
        slot(size) = s; size += 1
        s
      }
    }

    private def grow(): Unit = {
      val (k0, c0, s0, mn0, mx0, sl0, n0) = (keys, cnt, sum, mn, mx, slot, size)
      val cap = 2 * used.length
      used = new Array[Boolean](cap); keys = new Array[Long](cap); cnt = new Array[Long](cap)
      sum = new Array[Double](cap); mn = new Array[Double](cap); mx = new Array[Double](cap)
      slot = new Array[Int](cap); size = 0
      var e = 0
      while (e < n0) {
        val o = sl0(e)
        val s = find(k0(o))
        cnt(s) = c0(o); sum(s) = s0(o); mn(s) = mn0(o); mx(s) = mx0(o)
        e += 1
      }
    }
  }

  /** THE zonal kernel, run by [[ZonalPlaneExec]] over the aligned tile
    * rows `(key_col, key_row, t0, …)`: per (tile, shape, value tuple)
    * one row `(shape_id, vals, cnt, sum, mn, mx)` where sum/mn/mx
    * aggregate the (optional) target under the NODATA rules and
    * `shape_id` indexes `shapes`. Layer i (groups first, then the
    * target) stores Int cells iff `isInt(i)`.
    *
    * Masked cells are read in place from each tile's `ArrayData`,
    * under the reference's `tile.get` / `tile.getDouble` rules:
    *  - group value: Int as stored; Double truncates, NaN → NODATA;
    *  - target value: Double as stored; Int NODATA → NaN;
    *  - a null element, or a tile this layer lacks (the full-outer
    *    align fill), reads as NODATA.
    * Up to two group values pack into one `Long` key; wider tuples
    * are interned to a per-task id.
    */
  private[graft] final class Kernel(layout: Layout, isInt: Array[Boolean], n: Int,
                                    hasTarget: Boolean, shapes: Array[BGeom],
                                    mask: Mask) extends Serializable {
    override def toString: String =
      s"Kernel(groups=$n, target=$hasTarget, shapes=${shapes.length}, $mask)"

    def run(tiles: Iterator[InternalRow], m: ZonalPlaneExec.Metrics): Iterator[InternalRow] = {
      val acc = new Scratch
      val toUnsafe = UnsafeProjection.create(planeSchema)
      val wideIds = scala.collection.mutable.HashMap.empty[Seq[Int], Long]
      val wide = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
      val cells = new Array[ArrayData](isInt.length)
      val tileCols = layout.tileCols

      def group(i: Int, idx: Int): Int = {
        val a = cells(i)
        if (a == null || a.isNullAt(idx)) NoData.INT
        else if (isInt(i)) a.getInt(idx)
        else { val d = a.getDouble(idx); if (d.isNaN) NoData.INT else d.toInt }
      }
      def target(idx: Int): Double =
        if (!hasTarget) 0.0
        else {
          val a = cells(n)
          if (a == null || a.isNullAt(idx)) Double.NaN
          else if (!isInt(n)) a.getDouble(idx)
          else { val v = a.getInt(idx); if (v == NoData.INT) Double.NaN else v.toDouble }
        }
      def key(idx: Int): Long = n match {
        case 0 => 0L
        case 1 => group(0, idx).toLong
        case 2 => (group(0, idx).toLong << 32) | (group(1, idx) & 0xffffffffL)
        case _ =>
          val t = Array.tabulate(n)(group(_, idx))
          wideIds.getOrElseUpdate(scala.collection.immutable.ArraySeq.unsafeWrapArray(t),
            { wide += t; wide.size - 1L })
      }
      def vals(k: Long): Array[Int] = n match {
        case 0 => Array(0)
        case 1 => Array(k.toInt)
        case 2 => Array((k >>> 32).toInt, k.toInt)
        case _ => wide(k.toInt)
      }

      tiles.flatMap { row =>
        val t0 = System.nanoTime()
        val re = layout.rasterExtent(row.getInt(0), row.getInt(1))
        var i = 0
        while (i < cells.length) {
          cells(i) = if (row.isNullAt(2 + i)) null else row.getArray(2 + i)
          i += 1
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        var si = 0
        while (si < shapes.length) {
          // envelope fast-path: a shape whose bbox misses this tile's
          // extent masks zero cells here — skip the mask entirely. At
          // 10⁴-shape batches this turns the per-tile cost from
          // O(shapes) masks into O(shapes) double compares plus work
          // only for genuinely overlapping pairs.
          if (shapes(si).disjointFrom(re.extent)) m.envelopeSkips += 1
          else {
            acc.clear()
            mask.foreachCell(shapes(si).geom, re) { (c, r) =>
              val idx = r * tileCols + c
              acc.add(key(idx), target(idx))
            }
            var e = 0
            while (e < acc.size) {
              val s = acc.slot(e)
              val mn = if (acc.mn(s).isNaN) null else acc.mn(s)
              val mx = if (acc.mx(s).isNaN) null else acc.mx(s)
              out += toUnsafe(new GenericInternalRow(Array[Any](si,
                UnsafeArrayData.fromPrimitiveArray(vals(acc.keys(s))),
                acc.cnt(s), acc.sum(s), mn, mx))).copy()
              m.maskedPixels += acc.cnt(s)
              e += 1
            }
          }
          si += 1
        }
        m.tilesIn += 1
        m.rowsOut += out.size
        m.kernelTime += System.nanoTime() - t0
        out
      }
    }
  }

  /** The partially-aggregated masked plane of `shapes` over the aligned
    * layers, as a [[ZonalPlane]] node.
    */
  private[graft] def plane(layout: Layout, groupLayers: Seq[Layer], target: Option[Layer],
                           shapes: Seq[Geometry], mask: Mask): DataFrame = {
    val layers = groupLayers ++ target.toSeq
    ZonalPlane.of(joinLayers(layers), new Kernel(layout, layers.map(_.meta.isInt).toArray,
      groupLayers.size, target.isDefined, shapes.map(bgeom).toArray, mask))
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
    * ONE kernel pass (shape_id column instead of per-shape rescans —
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
    def tagged(df: DataFrame, label: String, v: String): DataFrame =
      df.select(col("shape_id"), lit(label).as("op_label"), Render.listKeyCol.as("k"),
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

  /** [[listKey]] as a SQL column over an array column `vals`. It also
    * keeps zonal outputs scalar-typed: the driver's rows-only check
    * reads result parquet with pandas, which cannot sort or hash
    * array-typed cells.
    */
  val listKeyCol: Column =
    expr("concat('List(', array_join(transform(vals, v -> cast(v as string)), ', '), ')')")

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
