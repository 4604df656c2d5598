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
  * as Spark plans over the tiles table, all built on ONE pass,
  * [[pass]]:
  *
  *   pruned scan per distinct raster → full-outer align join on
  *   SpatialKey (NODATA fill) → one [[ZonalPlaneExec]] that, per tile
  *   and per shape whose envelope touches the tile, walks each
  *   DISTINCT mask once, reads the walked cells in place from the tile
  *   arrays and PARTIALLY AGGREGATES them by value tuple for every op
  *   on that mask → tiny final Catalyst aggregation.
  *
  * A [[Mask]] decides which cells of a tile a shape covers:
  *  - [[PolygonMask]]: `Rasterizer.foreachCellByPolygon` under the
  *    request's `Rasterizer.Options` (rows A–C, E, F,
  *    `RasterGroupedSum` and G's polygon ops);
  *  - [[LineMask]]: `Rasterizer.foreachCellByLines` over the shape's
  *    clipped lines, whose per-(tile, shape) BitSet visits each crossed
  *    pixel once. Pixels belong to exactly one tile, so the per-tile
  *    counts already are the reference's COUNT DISTINCT (row D; the
  *    reference used a concurrent TrieMap set for the same dedup).
  *
  * Every public operator is one pass plus its own projection (summary:
  * one per raster); a single-AOI operator is the one-shape case, and
  * the /multi batch (row G) is every (shape, op) pair of a request in
  * one pass.
  *
  * The kernel emits one row per (op, tile, shape, value-tuple) — never
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
  *  - a tile missing from EVERY layer an op reads contributes no
  *    pixels to that op (reference join-keys semantics,
  *    Utils.scala:221-232), even where the pass aligns other layers.
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
    StructField("op", IntegerType, nullable = false),
    StructField("shape_id", IntegerType, nullable = false),
    StructField("vals", ArrayType(IntegerType, containsNull = false)),
    StructField("cnt", LongType, nullable = false),
    StructField("sum", DoubleType, nullable = false),
    StructField("mn", DoubleType, nullable = true),
    StructField("mx", DoubleType, nullable = true)))

  /** Which cells of a tile a shape covers; shipped inside the kernel,
    * so it must serialize. Masks are values: equal masks are walked
    * once per (tile, shape) however many ops use them.
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

  /** One zonal op of a pass: its group layers and its target (`-1` =
    * none) as indexes into the pass's aligned layers, and its mask.
    */
  private[graft] final case class Op(groups: Array[Int], target: Int, mask: Mask) {
    def reads: Array[Int] = if (target < 0) groups else groups :+ target
    override def toString: String =
      s"Op(groups=${groups.mkString("[", ",", "]")}, target=$target, $mask)"
  }

  /** Per-task partial aggregate: open addressing from a packed group
    * key to (cnt, sum, mn, mx) in parallel primitive arrays. `clear`
    * resets only the slots the last (op, tile, shape) used; `slot(e)`
    * is the e-th key seen since then.
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
    * rows `(key_col, key_row, t0, …)`: per (op, tile, shape, value
    * tuple) one row `(op, shape_id, vals, cnt, sum, mn, mx)` where
    * sum/mn/mx aggregate the op's (optional) target under the NODATA
    * rules, `op` indexes `ops` and `shape_id` indexes the shapes.
    * Layer i stores Int cells iff `isInt(i)`. `masks` holds each
    * distinct mask with the shapes' geometries it reads.
    *
    * Per (tile, shape) each distinct mask is walked once into a per-task
    * buffer of cell indexes, grown to the largest walk the task sees,
    * which then feeds every op on that mask. An op skips a tile that every
    * layer it reads lacks.
    *
    * Walked cells are read in place from each tile's `ArrayData`,
    * under the reference's `tile.get` / `tile.getDouble` rules:
    *  - group value: Int as stored; Double truncates, NaN → NODATA;
    *  - target value: Double as stored; Int NODATA → NaN;
    *  - a null element, or a tile this layer lacks (the full-outer
    *    align fill), reads as NODATA.
    * Up to two group values pack into one `Long` key; wider tuples
    * are interned to a per-task id.
    */
  private[graft] final class Kernel(layout: Layout, isInt: Array[Boolean], ops: Array[Op],
                                    masks: Array[(Mask, Array[BGeom])]) extends Serializable {
    private val opsOf = masks.map { case (mk, _) => ops.indices.filter(ops(_).mask == mk).toArray }
    private val reads = ops.map(_.reads)

    override def toString: String =
      s"Kernel(shapes=${masks.headOption.fold(0)(_._2.length)}, ${ops.mkString(", ")})"

    def run(tiles: Iterator[InternalRow], m: ZonalPlaneExec.Metrics): Iterator[InternalRow] = {
      val acc = new Scratch
      val tileCols = layout.tileCols
      var walk = new Array[Int](1024)
      val toUnsafe = UnsafeProjection.create(planeSchema)
      val wideIds = scala.collection.mutable.HashMap.empty[Seq[Int], Long]
      val wide = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
      val cells = new Array[ArrayData](isInt.length)
      val live = new Array[Boolean](ops.length)

      def group(i: Int, idx: Int): Int = {
        val a = cells(i)
        if (a == null || a.isNullAt(idx)) NoData.INT
        else if (isInt(i)) a.getInt(idx)
        else { val d = a.getDouble(idx); if (d.isNaN) NoData.INT else d.toInt }
      }
      def target(t: Int, idx: Int): Double =
        if (t < 0) 0.0
        else {
          val a = cells(t)
          if (a == null || a.isNullAt(idx)) Double.NaN
          else if (!isInt(t)) a.getDouble(idx)
          else { val v = a.getInt(idx); if (v == NoData.INT) Double.NaN else v.toDouble }
        }
      def key(g: Array[Int], idx: Int): Long = g.length match {
        case 0 => 0L
        case 1 => group(g(0), idx).toLong
        case 2 => (group(g(0), idx).toLong << 32) | (group(g(1), idx) & 0xffffffffL)
        case n =>
          val t = Array.tabulate(n)(j => group(g(j), idx))
          wideIds.getOrElseUpdate(scala.collection.immutable.ArraySeq.unsafeWrapArray(t),
            { wide += t; wide.size - 1L })
      }
      def vals(n: Int, k: Long): Array[Int] = n match {
        case 0 => Array(0)
        case 1 => Array(k.toInt)
        case 2 => Array((k >>> 32).toInt, k.toInt)
        case _ => wide(k.toInt)
      }

      tiles.flatMap { row =>
        val t0 = System.nanoTime()
        val re = layout.rasterExtent(row.getInt(0), row.getInt(1))
        for (i <- cells.indices) cells(i) = if (row.isNullAt(2 + i)) null else row.getArray(2 + i)
        for (o <- ops.indices) live(o) = reads(o).exists(cells(_) != null)
        val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        // a mask that no op live on this tile reads is not walked here
        for (((mask, shapes), onMask) <- masks.zip(opsOf) if onMask.exists(live(_));
             si <- shapes.indices) {
          // envelope fast-path: a shape whose bbox misses this tile's
          // extent masks zero cells here — skip the mask entirely. At
          // 10⁴-shape batches this turns the per-tile cost from
          // O(shapes) masks into O(shapes) double compares plus work
          // only for genuinely overlapping pairs.
          if (shapes(si).disjointFrom(re.extent)) m.envelopeSkips += 1
          else {
            var len = 0
            mask.foreachCell(shapes(si).geom, re) { (c, r) =>
              if (len == walk.length) walk = java.util.Arrays.copyOf(walk, 2 * len)
              walk(len) = r * tileCols + c
              len += 1
            }
            m.maskedPixels += len
            for (o <- onMask if live(o)) {
              val op = ops(o)
              acc.clear()
              var j = 0
              while (j < len) {
                val idx = walk(j)
                acc.add(key(op.groups, idx), target(op.target, idx))
                j += 1
              }
              for (e <- 0 until acc.size) {
                val s = acc.slot(e)
                val mn = if (acc.mn(s).isNaN) null else acc.mn(s)
                val mx = if (acc.mx(s).isNaN) null else acc.mx(s)
                out += toUnsafe(new GenericInternalRow(Array[Any](o, si,
                  UnsafeArrayData.fromPrimitiveArray(vals(op.groups.length, acc.keys(s))),
                  acc.cnt(s), acc.sum(s), mn, mx))).copy()
              }
            }
          }
        }
        m.tilesIn += 1
        m.rowsOut += out.size
        m.kernelTime += System.nanoTime() - t0
        out
      }
    }
  }

  /** THE zonal pass: aligns `layers` once and runs `ops` in one
    * [[ZonalPlane]] node, walking each distinct mask once per (tile,
    * shape). Polygon masks read `shapes`; a [[LineMask]] reads `lines`,
    * shape i's lines at i. Its plane has the [[planeSchema]] columns.
    */
  private[graft] def pass(layout: Layout, layers: Seq[Layer], shapes: Seq[Geometry],
                          ops: Seq[Op], lines: Seq[Geometry] = Nil): DataFrame = {
    require(ops.forall(_.reads.nonEmpty), "every zonal op reads at least one layer")
    val masks = ops.map(_.mask).distinct.map(mk =>
      mk -> (if (mk == LineMask) lines else shapes).map(bgeom).toArray)
    ZonalPlane.of(joinLayers(layers),
      new Kernel(layout, layers.map(_.meta.isInt).toArray, ops.toArray, masks.toArray))
  }

  private def all(layers: Seq[Layer]): Array[Int] = layers.indices.toArray

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
    pass(layout, layers, aois, Seq(Op(all(layers), -1, PolygonMask(opts))))
      .groupBy(col("shape_id"), col("vals")).agg(sum(col("cnt")).as("cnt"))

  /** The one-shape pass of a target over group layers. */
  private def targeted(layout: Layout, groupLayers: Seq[Layer], target: Layer,
                       aoi: MultiPolygon, opts: Rasterizer.Options): DataFrame =
    pass(layout, groupLayers :+ target, Seq(aoi),
      Seq(Op(all(groupLayers), groupLayers.size, PolygonMask(opts))))

  /** Rows B/C — `rasterAverage` / `rasterGroupedAverage`
    * (Geoprocessing.scala:245-277, 288-329): mean of target per value
    * tuple; NODATA target → 0.0 but counted. Ungrouped = constant
    * key `List(0)` (reference :275).
    */
  def groupedAverage(spark: SparkSession, layout: Layout, groupLayers: Seq[Layer],
                     target: Layer, aoi: MultiPolygon,
                     opts: Rasterizer.Options = Rasterizer.DEFAULT): DataFrame =
    targeted(layout, groupLayers, target, aoi, opts)
      .groupBy(col("vals")).agg((sum(col("sum")) / sum(col("cnt"))).as("avg_v"))

  /** CHANGELOG-era `RasterGroupedSum` (reference CHANGELOG.md:151-153). */
  def groupedSum(spark: SparkSession, layout: Layout, groupLayers: Seq[Layer],
                 target: Layer, aoi: MultiPolygon,
                 opts: Rasterizer.Options = Rasterizer.DEFAULT): DataFrame =
    targeted(layout, groupLayers, target, aoi, opts)
      .groupBy(col("vals")).agg(sum(col("sum")).as("sum_v"))

  /** Row E — `rasterSummary` (Geoprocessing.scala:380-431): per input
    * raster (order preserved), min/avg/max over masked pixels; min/max
    * skip NODATA, avg counts every masked pixel. One one-op pass per
    * raster, unioned: a single pass over all rasters with one global
    * conditional aggregate and an `explode` raised the `huc12_http`
    * benchmark's peak RSS by about 10% (4 vCPU, `local[4]`).
    */
  def summary(spark: SparkSession, layout: Layout, layers: Seq[Layer],
              aoi: MultiPolygon,
              opts: Rasterizer.Options = Rasterizer.DEFAULT): DataFrame =
    layers.zipWithIndex.map { case (l, i) =>
      pass(layout, Seq(l), Seq(aoi), Seq(Op(Array.empty[Int], 0, PolygonMask(opts))))
        .agg(min(col("mn")).as("min_v"), max(col("mx")).as("max_v"),
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
    pass(layout, layers, Nil, Seq(Op(all(layers), -1, LineMask)), Seq(merge(lines)))
      .groupBy(col("vals")).agg(sum(col("cnt")).as("cnt"))

  /** Lines as one multi-line, so a pixel crossed by several counts once. */
  private def merge(ls: Seq[MultiLineString]): Geometry =
    new GeometryFactory().createMultiLineString((for (ml <- ls; i <- 0 until ml.getNumGeometries)
      yield ml.getGeometryN(i).asInstanceOf[LineString]).toArray)

  /** Batch op spec for [[multiBatch]]. */
  sealed trait BatchOp { def label: String; def rasters: Seq[String]; def reads: Seq[String] = rasters }
  final case class BatchCount(label: String, rasters: Seq[String],
                              opts: Rasterizer.Options = Rasterizer.DEFAULT) extends BatchOp
  final case class BatchAverage(label: String, rasters: Seq[String], target: String,
                                opts: Rasterizer.Options = Rasterizer.DEFAULT) extends BatchOp {
    override def reads: Seq[String] = rasters :+ target
  }
  final case class BatchLines(label: String, rasters: Seq[String]) extends BatchOp

  /** The /multi batch as ONE pass (SURVEY §3.2's long-format plan with
    * `shape_id` and `op_label` and a single `groupBy`): the distinct
    * rasters of `ops` are aligned once, each shape's stream lines are
    * `lines` clipped to it, and every (shape, op) pair comes from the
    * same visit of each (tile, shape). Output is
    * `(shape_id, op_label, k, v)` with Ints widened to Double
    * (reference Geoprocessing.scala:56).
    */
  def multiBatch(spark: SparkSession, layout: Layout, shared: Map[String, Layer],
                 aois: Seq[MultiPolygon],
                 lines: Seq[MultiLineString],
                 ops: Seq[BatchOp]): DataFrame = {
    val ids = ops.flatMap(_.reads).distinct
    def at(rs: Seq[String]) = rs.map(ids.indexOf(_)).toArray
    val passOps = ops.map {
      case BatchCount(_, rs, o) => Op(at(rs), -1, PolygonMask(o))
      case BatchAverage(_, rs, t, o) => Op(at(rs), ids.indexOf(t), PolygonMask(o))
      case BatchLines(_, rs) => Op(at(rs), -1, LineMask)
    }
    val shapeLines = if (!passOps.exists(_.mask == LineMask)) Nil
                     else aois.map(a => merge(GeomOps.clipLines(lines, a)))
    val averages = ops.indices.filter(ops(_).isInstanceOf[BatchAverage])
    pass(layout, ids.map(shared), aois, passOps, shapeLines)
      .groupBy(col("op"), col("shape_id"), col("vals"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("sum")).as("sum"))
      .select(col("shape_id"), typedLit(ops.map(_.label)).getItem(col("op")).as("op_label"),
        Render.listKeyCol.as("k"),
        when(col("op").isin(averages: _*), col("sum") / col("cnt"))
          .otherwise(col("cnt").cast("double")).as("v"))
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
