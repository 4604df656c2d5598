package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}

import graft.SparkSpec
import graft.raster.{Extent, Layout, NoData, Rasterizer}
import graft.sources.TileCatalog
import graft.sources.TileCatalog.RasterMeta

/** Operator goldens on a hand-computable catalog:
  * layout = 2×2 tiles × 4×4 cells over extent (0,0)-(8,8), cell 1 m.
  * Global cell (gc, gr): gc = keyCol*4+c, gr = keyRow*4+r; row 0 top.
  *
  *  - raster "ca" (int): value = global col; cell (gc=2, gr=2) NODATA.
  *  - raster "cb" (int): 1 where gr<4 else 2; tile (1,1) MISSING
  *    (exercises the NODATA-fill align join).
  *  - raster "cd" (double): gc + gr; cell (5,5) NaN (NODATA).
  *
  * AOI square [1,7]² masks centers gc∈1..6 × gr∈1..6 (36 px).
  */
class ZonalSpec extends AnyFunSuite with SparkSpec {

  private val gf = new GeometryFactory()
  private val layout = Layout(Extent(0, 0, 8, 8), 4, 4, 2, 2)

  private def meta(id: String, ct: String) =
    RasterMeta(id, 0, "ConusAlbers", ct, 0, 0, 8, 8, 4, 4, 2, 2)

  private def square(x0: Double, y0: Double, x1: Double, y1: Double) =
    gf.createMultiPolygon(Array(gf.createPolygon(Array(
      new Coordinate(x0, y0), new Coordinate(x1, y0), new Coordinate(x1, y1),
      new Coordinate(x0, y1), new Coordinate(x0, y0)))))

  private lazy val path: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat").toString
    def intTiles(f: (Int, Int) => Int, skip: Set[(Int, Int)] = Set.empty) =
      (for (kc <- 0 to 1; kr <- 0 to 1; if !skip((kc, kr))) yield {
        val arr = Array.tabulate(16)(i => f(kc * 4 + i % 4, kr * 4 + i / 4))
        (kc, kr, arr)
      })
    def dblTiles(f: (Int, Int) => Double) =
      (for (kc <- 0 to 1; kr <- 0 to 1) yield {
        val arr = Array.tabulate(16)(i => f(kc * 4 + i % 4, kr * 4 + i / 4))
        (kc, kr, arr)
      })
    TileCatalog.writeIntLayer(spark, dir, meta("ca", "int"),
      intTiles((gc, gr) => if (gc == 2 && gr == 2) NoData.INT else gc))
    TileCatalog.writeIntLayer(spark, dir, meta("cb", "int"),
      intTiles((gc, gr) => if (gr < 4) 1 else 2, skip = Set((1, 1))))
    TileCatalog.writeDoubleLayer(spark, dir, meta("cd", "double"),
      dblTiles((gc, gr) => if (gc == 5 && gr == 5) Double.NaN else (gc + gr).toDouble))
    TileCatalog.writeMeta(dir, Seq(meta("ca", "int"), meta("cb", "int"), meta("cd", "double")))
    dir
  }

  private def layer(id: String): Zonal.Layer = {
    val m = TileCatalog.readMeta(path)(id)
    Zonal.Layer(m, TileCatalog.readLayer(spark, path, m, square(0, 0, 8, 8)))
  }

  private val aoi = square(1, 1, 7, 7)

  /** Sum of one [[ZonalPlaneExec]] metric over an executed plan. */
  private def kernelMetric(df: DataFrame, name: String): Long =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case z: ZonalPlaneExec => z.metrics(name).value
    }.sum

  /** Node names of an executed plan, AQE stages included. */
  private def nodeNames(df: DataFrame): Seq[String] =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) { case p => p.nodeName }

  /** A multiBatch frame as (shape, op_label, k) → v. */
  private def batchRows(df: DataFrame): Map[(Int, String, String), Double] =
    df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)) -> r.getDouble(3)).toMap

  test("catalog scan prunes to intersecting tiles") {
    val m = TileCatalog.readMeta(path)("ca")
    val pruned = TileCatalog.readLayer(spark, path, m, square(0.5, 0.5, 3.5, 3.5))
    assert(pruned.count() == 1) // only tile (0, 1)
    assert(pruned.collect().head.getInt(0) == 0)
  }

  test("groupedCount: NODATA groups as sentinel; missing tile fills NODATA") {
    val df = Zonal.groupedCount(spark, layout, Seq(layer("ca"), layer("cb")), aoi)
    val got = Render.toResultInt(df)
    val want = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for (gc <- 1 to 6; gr <- 1 to 6) {
      val a = if (gc == 2 && gr == 2) NoData.INT else gc
      val b = if (gc >= 4 && gr >= 4) NoData.INT else if (gr < 4) 1 else 2
      want(s"List($a, $b)") += 1
    }
    assert(got == want.toMap)
    assert(got.keySet.exists(_.contains("-2147483648")))
  }

  test("average (ungrouped): NODATA target counts as 0.0; key List(0)") {
    val df = Zonal.groupedAverage(spark, layout, Nil, layer("cd"), aoi)
    val got = Render.toResultDouble(df)
    val sum = (for (gc <- 1 to 6; gr <- 1 to 6; if !(gc == 5 && gr == 5))
      yield (gc + gr).toDouble).sum
    assert(got.keySet == Set("List(0)"))
    assert(math.abs(got("List(0)") - sum / 36) < 1e-12)
  }

  test("groupedAverage by cb") {
    val df = Zonal.groupedAverage(spark, layout, Seq(layer("cb")), layer("cd"), aoi)
    val got = Render.toResultDouble(df)
    // groups: 1 (gr 1..3), 2 (gr 4..6 & gc 1..3), NODATA (gc>=4 & gr>=4)
    val g1 = for (gc <- 1 to 6; gr <- 1 to 3) yield (gc + gr).toDouble
    val g2 = for (gc <- 1 to 3; gr <- 4 to 6) yield (gc + gr).toDouble
    val gn = for (gc <- 4 to 6; gr <- 4 to 6)
      yield if (gc == 5 && gr == 5) 0.0 else (gc + gr).toDouble
    assert(got.keySet == Set("List(1)", "List(2)", s"List(${NoData.INT})"))
    assert(math.abs(got("List(1)") - g1.sum / g1.size) < 1e-12)
    assert(math.abs(got("List(2)") - g2.sum / g2.size) < 1e-12)
    assert(math.abs(got(s"List(${NoData.INT})") - gn.sum / gn.size) < 1e-12)
  }

  test("groupedSum") {
    val df = Zonal.groupedSum(spark, layout, Seq(layer("cb")), layer("cd"), aoi)
    val got = Render.toResultDouble(df)
    val g1 = (for (gc <- 1 to 6; gr <- 1 to 3) yield (gc + gr).toDouble).sum
    assert(math.abs(got("List(1)") - g1) < 1e-12)
  }

  test("summary: min/max skip NODATA, avg counts it as 0") {
    val df = Zonal.summary(spark, layout, Seq(layer("cd")), aoi)
    val rows = df.collect()
    assert(rows.length == 1)
    val (mn, av, mx) = (rows(0).getDouble(2), rows(0).getDouble(3), rows(0).getDouble(4))
    assert(mn == 2.0) // (1,1)
    assert(mx == 12.0) // (6,6)
    val sum = (for (gc <- 1 to 6; gr <- 1 to 6; if !(gc == 5 && gr == 5))
      yield (gc + gr).toDouble).sum
    assert(math.abs(av - sum / 36) < 1e-12)
  }

  test("summary preserves input raster order") {
    val df = Zonal.summary(spark, layout, Seq(layer("cd"), layer("cd")), aoi)
    val ids = df.collect().map(_.getInt(0)).toSeq
    assert(ids == Seq(0, 1))
  }

  test("summary: each raster covers only its own tiles (per-op join keys)") {
    // the AOI covers cb's missing tile (1,1) (gc, gr ≥ 4): cb's 27
    // masked cells outside it are 18 of value 1 and 9 of value 2; cd
    // has every tile
    val rows = Zonal.summary(spark, layout, Seq(layer("cb"), layer("cd")), aoi).collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((0, "cb"), (1, "cd")))
    assert(rows(0).getDouble(2) == 1.0 && rows(0).getDouble(4) == 2.0)
    assert(math.abs(rows(0).getDouble(3) - 36.0 / 27) < 1e-12)
    val sum = (for (gc <- 1 to 6; gr <- 1 to 6; if !(gc == 5 && gr == 5))
      yield (gc + gr).toDouble).sum
    assert(rows(1).getDouble(2) == 2.0 && rows(1).getDouble(4) == 12.0)
    assert(math.abs(rows(1).getDouble(3) - sum / 36) < 1e-12)
  }

  test("summary: an AOI disjoint from every tile gives one all-null row per raster") {
    val rows = Zonal.summary(spark, layout, Seq(layer("cb"), layer("cd")),
      square(20, 20, 21, 21)).collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((0, "cb"), (1, "cd")))
    assert(rows.forall(r => (2 to 4).forall(r.isNullAt)))
  }

  test("groupedCountMany: per-shape results in one pass") {
    val aois = Seq(square(1, 5, 4, 7), square(4, 1, 7, 4))
    val df = Zonal.groupedCountMany(spark, layout, Seq(layer("ca"), layer("cb")), aois)
    val got = Render.toResultManyInt(df, 2)
    // shape 0: [1,4]×[5,7] → gc 1..3, gr 1..2; ca=gc except (2,2)=ND; cb=1
    assert(got(0) == Map("List(1, 1)" -> 2, "List(2, 1)" -> 1,
      "List(3, 1)" -> 2, s"List(${NoData.INT}, 1)" -> 1))
    // shape 1: [4,7]×[1,4] → gc 4..6, gr 4..6; ca present, cb tile (1,1)
    // missing → NODATA-filled via the full-outer align join
    assert(got(1) == (4 to 6).map(c => s"List($c, ${NoData.INT})" -> 3).toMap)
  }

  test("plane emits one row per (tile, shape, value tuple), never per pixel") {
    val rows = Zonal.pass(layout, Seq(layer("ca")), Seq(aoi),
      Seq(Zonal.Op(Array(0), -1, Zonal.PolygonMask(Rasterizer.DEFAULT)))).collect()
    // each of the 4 tiles holds 3 masked gc values (3 px each); tile
    // (0,0) also splits off the NODATA cell at (2,2): 4×3 + 1 rows
    assert(rows.length == 13)
    assert(rows.map(_.getAs[Long]("cnt")).sum == 36L)
  }

  test("tile missing from ALL layers contributes no pixels (join-keys semantics)") {
    val df = Zonal.groupedCount(spark, layout, Seq(layer("cb")), square(4, 1, 7, 4))
    assert(df.count() == 0)
  }

  test("linesJoin: distinct pixels, grouped by value tuple") {
    val line = gf.createMultiLineString(Array(
      gf.createLineString(Array(new Coordinate(0.5, 1.5), new Coordinate(7.5, 1.5)))))
    val dup = gf.createMultiLineString(Array(
      gf.createLineString(Array(new Coordinate(0.5, 1.5), new Coordinate(7.5, 1.5)))))
    val df = Zonal.linesJoin(spark, layout, Seq(layer("ca")), Seq(line, dup))
    val got = Render.toResultInt(df)
    // y=1.5 → gr 6; cols 0..7, ca = gc → one distinct pixel per value
    assert(got == (0 to 7).map(c => s"List($c)" -> 1).toMap)
  }

  test("empty AOI yields empty result, not an error") {
    val df = Zonal.groupedCount(spark, layout, Seq(layer("ca")),
      gf.createMultiPolygon(Array.empty))
    assert(df.count() == 0)
  }

  test("linesJoinMany: per-shape dedup in one pass") {
    val mkLine = (y: Double) => gf.createMultiLineString(Array(
      gf.createLineString(Array(new Coordinate(0.5, y), new Coordinate(7.5, y)))))
    // shape 0 clips the row-6 line (y=1.5) twice, shape 1 the row-1
    // line (y=6.5)
    val df = Zonal.multiBatch(spark, layout, Map("ca" -> layer("ca")),
      Seq(square(0, 1, 8, 2), square(0, 6, 8, 7)), Seq(mkLine(1.5), mkLine(1.5), mkLine(6.5)),
      Seq(Zonal.BatchLines("lines_ca", Seq("ca"))))
    val got = batchRows(df)
    // duplicate line in shape 0 still counts each pixel once
    assert((0 to 7).forall(c => got((0, "lines_ca", s"List($c)")) == 1.0))
    assert((0 to 7).forall(c => got((1, "lines_ca", s"List($c)")) == 1.0))
    assert(got.size == 16)
  }

  test("multiBatch unions count+average+lines into one (shape, op, k, v) frame") {
    val shapes = Seq(square(1, 5, 4, 7), square(4, 1, 7, 4))
    val shared = Map("ca" -> layer("ca"), "cb" -> layer("cb"), "cd" -> layer("cd"))
    val line = gf.createMultiLineString(Array(
      gf.createLineString(Array(new Coordinate(0.5, 6.2), new Coordinate(7.5, 6.2)))))
    val df = Zonal.multiBatch(spark, layout, shared, shapes, Seq(line), Seq(
      Zonal.BatchCount("cnt_cb", Seq("cb")),
      Zonal.BatchAverage("avg_cd", Seq(), "cd"),
      Zonal.BatchLines("lines_cb", Seq("cb"))))
    val rows = batchRows(df)
    assert(nodeNames(df).count(_ == "ZonalPlaneExec") == 1)
    // shape 0 [1,4]×[5,7]: gr 1..2 → cb=1, 6 px, Ints widened to Double
    assert(rows((0, "cnt_cb", "List(1)")) == 6.0)
    // shape 0 avg of cd over its 6 px: gc 1..3 × gr 1..2
    val exp0 = (for (gc <- 1 to 3; gr <- 1 to 2) yield (gc + gr).toDouble).sum / 6
    assert(math.abs(rows((0, "avg_cd", "List(0)")) - exp0) < 1e-12)
    // line y=6.2 → gr 1: inside shape 0's clip x∈[1,4] only → cb=1
    assert(rows.contains((0, "lines_cb", "List(1)")))
    // shape 1 [4,7]×[1,4] lies in cb's missing tile: with cb the ONLY
    // layer there is no join key at all → no pixels (reference
    // join-keys semantics; NODATA fill needs ≥1 present layer)
    assert(!rows.keys.exists(k => k._1 == 1 && k._2 == "cnt_cb"))
    // avg_cd still covers shape 1 (cd has all tiles)
    val exp1 = (for (gc <- 4 to 6; gr <- 4 to 6)
      yield if (gc == 5 && gr == 5) 0.0 else (gc + gr).toDouble).sum / 9
    assert(math.abs(rows((1, "avg_cd", "List(0)")) - exp1) < 1e-12)
    // line does not cross shape 1 (y=6.2 not in [1,4]) → no lines rows
    assert(!rows.keys.exists(k => k._1 == 1 && k._2 == "lines_cb"))
  }

  test("envelope fast-path rejects disjoint (tile, shape) pairs without JTS") {
    // 12 single-cell shapes, each interior to exactly one of the 4
    // tiles ⇒ 12 × 3 = 36 (tile, shape) pairs must take the envelope
    // rejection, and each shape still masks exactly its one cell —
    // for polygons and for lines alike (one kernel, two masks)
    val cells = Seq((0, 0), (3, 1), (5, 2), (7, 3), (1, 5), (6, 6),
      (2, 3), (4, 4), (7, 7), (0, 7), (5, 0), (3, 6))
    val polygons = cells.map { case (gc, gr) =>
      square(gc + 0.1, gr + 0.1, gc + 0.9, gr + 0.9)
    }
    // each shape's lines are the streams clipped to it: its own line
    val lines = cells.map { case (gc, gr) =>
      gf.createMultiLineString(Array(gf.createLineString(Array(
        new Coordinate(gc + 0.2, gr + 0.5), new Coordinate(gc + 0.8, gr + 0.5)))))
    }
    val polygonCounts = Zonal.groupedCountMany(spark, layout, Seq(layer("ca")), polygons)
    val lineCounts = Zonal.multiBatch(spark, layout, Map("ca" -> layer("ca")), polygons, lines,
      Seq(Zonal.BatchLines("lines_ca", Seq("ca"))))
    Seq(
      "polygons" -> (polygonCounts.collect().map(r =>
        (r.getInt(0), r.getSeq[Int](1).head) -> r.getLong(2)).toMap,
        kernelMetric(polygonCounts, "envelopeSkips")),
      "lines" -> (batchRows(lineCounts).map { case ((si, _, k), v) =>
        (si, k.stripPrefix("List(").stripSuffix(")").toInt) -> v.toLong },
        kernelMetric(lineCounts, "envelopeSkips"))
    ).foreach { case (kind, (rows, skips)) =>
      assert(skips == 36, kind)
      // ca = gc (no picked cell hits the (2,2) NODATA hole): shape i
      // masks one cell of value gc
      cells.zipWithIndex.foreach { case ((gc, _), si) =>
        assert(rows((si, gc)) == 1L, s"$kind shape $si")
      }
      assert(rows.values.sum == cells.size, kind)
    }
  }

  test("multiBatch walks each distinct mask once per (tile, shape), in one pass") {
    // two ops on the default polygon mask and one on the pixelIsArea
    // mask: 4×4 cell centers lie in [1.7, 6.2]², 6×6 cells touch it
    val area = Rasterizer.Options(includePartial = true, pixelIsArea = true)
    val df = Zonal.multiBatch(spark, layout, Map("ca" -> layer("ca"), "cd" -> layer("cd")),
      Seq(square(1.7, 1.7, 6.2, 6.2)), Nil, Seq(
        Zonal.BatchCount("cnt_ca", Seq("ca")),
        Zonal.BatchAverage("avg_cd", Seq(), "cd"),
        Zonal.BatchCount("area_ca", Seq("ca"), area)))
    val rows = batchRows(df)
    def cells(label: String) = rows.collect { case ((_, `label`, _), v) => v }.sum
    assert(cells("cnt_ca") == 16 && cells("area_ca") == 36)
    assert(rows.keys.count(_._2 == "avg_cd") == 1)
    val names = nodeNames(df)
    assert(names.count(_ == "ZonalPlaneExec") == 1, names)
    assert(!names.exists(n => n.contains("Union") || n.contains("InMemoryTableScan")), names)
    assert(kernelMetric(df, "maskedPixels") == 16 + 36)
  }

  test("pixelIsArea widens the mask (reference pixelIsArea=true rasters)") {
    val tiny = square(2.6, 2.6, 2.9, 2.9)
    val point = Zonal.groupedCount(spark, layout, Seq(layer("ca")), tiny)
    val area = Zonal.groupedCount(spark, layout, Seq(layer("ca")), tiny,
      Rasterizer.Options(includePartial = true, pixelIsArea = true))
    assert(point.count() == 0)
    assert(Render.toResultInt(area) == Map("List(2)" -> 1))
  }

  test("explain shows the planned kernel with its metrics, and no Row deserialization") {
    val df = Zonal.groupedCount(spark, layout, Seq(layer("ca"), layer("cb")), aoi)
    df.collect()
    val plan = df.queryExecution.explainString(FormattedMode)
    assert(plan.contains("ZonalPlaneExec"), plan)
    Seq("tiles in", "envelope skips", "masked pixels", "group rows out", "kernel time")
      .foreach(m => assert(plan.contains(m), s"$m missing from\n$plan"))
    assert(!plan.contains("DeserializeToObject"), plan)
    assert(kernelMetric(df, "tilesIn") == 4)
    assert(kernelMetric(df, "maskedPixels") == 36)
  }

  test("cell reads: double groups truncate, NaN/null/missing read as NODATA, wide keys") {
    // in-memory layers over the spec layout; the AOI masks gc, gr ∈ 1..6
    def memLayer(id: String, int: Boolean, missing: (Int, Int))
                (v: (Int, Int) => Option[Double]): Zonal.Layer = {
      val rows = for (kc <- 0 to 1; kr <- 0 to 1; if (kc, kr) != missing) yield {
        val cells = (0 until 16).map { i =>
          v(kc * 4 + i % 4, kr * 4 + i / 4).map(d => if (int) d.toInt: Any else d: Any)
            .getOrElse(null)
        }
        if (int) Row(kc, kr, cells, null) else Row(kc, kr, null, cells)
      }
      val schema = StructType(Seq(StructField("key_col", IntegerType),
        StructField("key_row", IntegerType), StructField("tile_i", ArrayType(IntegerType)),
        StructField("tile_d", ArrayType(DoubleType))))
      Zonal.Layer(meta(id, if (int) "int" else "double"),
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
    }
    val none = (-1, -1)
    // double group: fractional ±values truncate toward zero; NaN and a
    // null element read as NODATA
    def gdV(gc: Int, gr: Int): Option[Double] =
      if ((gc, gr) == (3, 3)) Some(Double.NaN) else if ((gc, gr) == (4, 2)) None
      else Some((gc - 3.5) * 0.7 + (gr % 3) * 0.3)
    // int groups, each missing one tile (full-outer NODATA fill)
    def giV(gc: Int, gr: Int): Option[Double] =
      if ((gc, gr) == (2, 5)) None else Some((gc % 3).toDouble)
    def gjV(gc: Int, gr: Int): Option[Double] =
      Some(if ((gc + gr) % 4 == 0) NoData.INT.toDouble else (gr % 2).toDouble)
    // int target with NODATA cells, a null element and a missing tile
    def tiV(gc: Int, gr: Int): Option[Double] =
      if ((gc, gr) == (6, 6)) None
      else Some(if (gc * gr % 5 == 0) NoData.INT.toDouble else (gc * 10 + gr).toDouble)
    val gd = memLayer("gd", int = false, none)(gdV)
    val gi = memLayer("gi", int = true, (1, 0))(giV)
    val gj = memLayer("gj", int = true, (0, 1))(gjV)
    val ti = memLayer("ti", int = true, (1, 1))(tiV)

    // the reference's read rules, applied here outside Spark
    def tile(gc: Int, gr: Int) = (gc / 4, gr / 4)
    def group(v: (Int, Int) => Option[Double], missing: (Int, Int))(gc: Int, gr: Int): Int =
      if (tile(gc, gr) == missing) NoData.INT
      else v(gc, gr).filterNot(_.isNaN).map(_.toInt).getOrElse(NoData.INT)
    def targetOf(gc: Int, gr: Int): Double =
      if (tile(gc, gr) == (1, 1)) Double.NaN
      else tiV(gc, gr).filter(_.toInt != NoData.INT).getOrElse(Double.NaN)
    val groupsOf = Seq[(Int, Int) => Int](group(gdV, none), group(giV, (1, 0)),
      group(gjV, (0, 1)))
    val masked = for (gc <- 1 to 6; gr <- 1 to 6) yield (gc, gr)
    def key(n: Int)(gc: Int, gr: Int) = Render.listKey(groupsOf.take(n).map(_(gc, gr)))

    // counts for the Long-packed keys (1 and 2 groups) and the wide
    // key path (3 groups)
    Seq(1, 2, 3).foreach { n =>
      val got = Render.toResultInt(
        Zonal.groupedCount(spark, layout, Seq(gd, gi, gj).take(n), aoi))
      val want = masked.groupBy { case (gc, gr) => key(n)(gc, gr) }.map { case (k, v) => k -> v.size }
      assert(got == want, s"$n groups")
    }
    assert(groupsOf.head(1, 1) == -1 && groupsOf.head(6, 1) == 2) // truncation toward zero

    // average: NODATA targets count as 0.0 in the mean but add nothing
    val avg = Render.toResultDouble(Zonal.groupedAverage(spark, layout, Seq(gd), ti, aoi))
    val wantAvg = masked.groupBy { case (gc, gr) => key(1)(gc, gr) }.map { case (k, cs) =>
      k -> cs.map { case (gc, gr) => targetOf(gc, gr) }.filterNot(_.isNaN).sum / cs.size
    }
    assert(avg.keySet == wantAvg.keySet)
    wantAvg.foreach { case (k, v) => assert(math.abs(avg(k) - v) < 1e-9, k) }
    assert(masked.exists { case (gc, gr) => targetOf(gc, gr).isNaN })
  }
}
