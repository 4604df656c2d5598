package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Render

import GateSupport._

/** Raster-engine gates: zonal, focal and map-algebra operators over
  * the deterministic synthetic tile catalog
  * ([[graft.sources.ZonalFixture]]), plus the spatial join and z-order
  * layout.
  */
private[graft] object RasterGates extends GateFamily {

  // ---- q30–q34: the raster engine itself (SURVEY §2.1 operators) over
  // the deterministic synthetic catalog. Not SQL-expressible in DuckDB
  // (no oracleSql ⇒ driver rows-only check); correctness is pinned by
  // the hand-computed goldens in ZonalSpec/ServiceSpec, and these
  // entries put real zonal throughput into BENCH at HUC-8 pixel scale.

  private def zonalCtx(s: SparkSession, dir: String) = {
    // ensureMasks also dumps the rasterized cell sets the DuckDB
    // oracle SQL (below) aggregates independently
    val path = graft.sources.ZonalFixture.ensureMasks(s, dir)
    val spec = graft.sources.ZonalFixture.specFor(dir)
    val metas = graft.sources.TileCatalog.readMeta(path)
    (path, spec, metas)
  }

  private def zonalLayers(s: SparkSession, path: String,
                          metas: Map[String, graft.sources.TileCatalog.RasterMeta],
                          ids: Seq[String], geom: org.locationtech.jts.geom.Geometry) =
    ids.map(id => graft.operators.Zonal.Layer(metas(id),
      graft.sources.TileCatalog.readLayer(s, path, metas(id), geom)))

  private def qZonalGroupedCount(s: SparkSession, dir: String): DataFrame = {
    val (path, spec, metas) = zonalCtx(s, dir)
    val aoi = graft.sources.ZonalFixture.aoi(spec)
    graft.operators.Zonal.groupedCount(s, metas("nlcd").layout,
      zonalLayers(s, path, metas, Seq("nlcd", "soil"), aoi), aoi)
      .select(Render.listKeyCol.as("vals"), col("cnt"))
      .orderBy("vals")
  }
  // q30/q31/q32/q56: plane equi-joins (the q34/q100 pattern) —
  // per-pixel tile_i[idx+1] array indexing wedges DuckDB's planner
  // at mask scale (20-47 s each; the planes join in ~1 s)
  gate("q30_zonal_grouped_count")(qZonalGroupedCount(_, _))(
    s"""WITH m AS (SELECT * FROM ${zfp("mask_aoi.parquet")}),
       |n AS (SELECT key_col, key_row, idx, v FROM ${zfp("plane_nlcd.parquet")}),
       |s AS (SELECT key_col, key_row, idx, v FROM ${zfp("plane_soil.parquet")})
       |SELECT 'List(' || COALESCE(n.v, -2147483648)
       |    || ', ' || COALESCE(s.v, -2147483648) || ')' AS vals,
       |  COUNT(*) AS cnt
       |FROM m LEFT JOIN n USING (key_col, key_row, idx)
       |       LEFT JOIN s USING (key_col, key_row, idx)
       |GROUP BY 1 ORDER BY vals""".stripMargin)

  private def qZonalAverage(s: SparkSession, dir: String): DataFrame = {
    val (path, spec, metas) = zonalCtx(s, dir)
    val aoi = graft.sources.ZonalFixture.aoi(spec)
    graft.operators.Zonal.groupedAverage(s, metas("slope").layout,
      zonalLayers(s, path, metas, Seq("soil"), aoi),
      zonalLayers(s, path, metas, Seq("slope"), aoi).head, aoi)
      .select(Render.listKeyCol.as("vals"), round(col("avg_v"), 6).as("avg_v"))
      .orderBy("vals")
  }
  gate("q31_zonal_average")(qZonalAverage(_, _))(
    s"""WITH m AS (SELECT * FROM ${zfp("mask_aoi.parquet")}),
       |s AS (SELECT key_col, key_row, idx, v FROM ${zfp("plane_soil.parquet")}),
       |t AS (SELECT key_col, key_row, idx, v FROM ${zfp("plane_slope.parquet")})
       |SELECT 'List(' || COALESCE(s.v, -2147483648) || ')' AS vals,
       |  ROUND(SUM(CASE WHEN t.v IS NULL OR isnan(t.v) THEN 0.0
       |                 ELSE t.v END) / COUNT(*), 6) AS avg_v
       |FROM m LEFT JOIN s USING (key_col, key_row, idx)
       |       LEFT JOIN t USING (key_col, key_row, idx)
       |GROUP BY 1 ORDER BY vals""".stripMargin)

  private def qZonalSummary(s: SparkSession, dir: String): DataFrame = {
    val (path, spec, metas) = zonalCtx(s, dir)
    val aoi = graft.sources.ZonalFixture.aoi(spec)
    graft.operators.Zonal.summary(s, metas("slope").layout,
      zonalLayers(s, path, metas, Seq("slope"), aoi), aoi)
      .select(col("idx"), col("raster_id"),
        round(col("min_v"), 6).as("min_v"),
        round(col("avg_v"), 6).as("avg_v"),
        round(col("max_v"), 6).as("max_v"))
  }
  gate("q32_zonal_summary")(qZonalSummary(_, _))(
    s"""WITH m AS (SELECT * FROM ${zfp("mask_aoi.parquet")}),
       |t AS (SELECT key_col, key_row, idx, v FROM ${zfp("plane_slope.parquet")}),
       |px AS (SELECT t.v AS v
       |       FROM m LEFT JOIN t USING (key_col, key_row, idx))
       |SELECT 0 AS idx, 'slope' AS raster_id,
       |  ROUND(MIN(CASE WHEN isnan(v) THEN NULL ELSE v END), 6) AS min_v,
       |  ROUND(SUM(CASE WHEN v IS NULL OR isnan(v) THEN 0.0 ELSE v END)
       |        / COUNT(*), 6) AS avg_v,
       |  ROUND(MAX(CASE WHEN isnan(v) THEN NULL ELSE v END), 6) AS max_v
       |FROM px""".stripMargin)

  private def qZonalLinesJoin(s: SparkSession, dir: String): DataFrame = {
    val (path, spec, metas) = zonalCtx(s, dir)
    val aoi = graft.sources.ZonalFixture.aoi(spec)
    val lines = graft.geom.GeomOps.clipLines(
      graft.sources.ZonalFixture.streamLines(spec), aoi)
    graft.operators.Zonal.linesJoin(s, metas("nlcd").layout,
      zonalLayers(s, path, metas, Seq("nlcd", "soil"), aoi), lines)
      .select(Render.listKeyCol.as("vals"), col("cnt"))
      .orderBy("vals")
  }
  gate("q33_zonal_lines_join")(qZonalLinesJoin(_, _))(
    s"""WITH m AS (SELECT * FROM ${zfp("mask_lines.parquet")}),
       |n AS (SELECT key_col, key_row, tile_i FROM ${zfp("tiles/raster_id=nlcd/zoom=0")}),
       |s AS (SELECT key_col, key_row, tile_i FROM ${zfp("tiles/raster_id=soil/zoom=0")})
       |SELECT 'List(' || COALESCE(n.tile_i[m.idx + 1], -2147483648)
       |    || ', ' || COALESCE(s.tile_i[m.idx + 1], -2147483648) || ')' AS vals,
       |  COUNT(*) AS cnt
       |FROM m LEFT JOIN n USING (key_col, key_row)
       |       LEFT JOIN s USING (key_col, key_row)
       |GROUP BY 1 ORDER BY vals""".stripMargin)

  /** The /multi batch (reference flagship: 61 HUC-12s × 7 ops in one
    * call with a shared scan — CHANGELOG.md:82-91 "almost an order of
    * magnitude" over per-shape runs). 32 shapes × 3 ops, one plan.
    */
  private def qZonalMulti(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Zonal
    val (path, spec, metas) = zonalCtx(s, dir)
    val shapes = graft.sources.ZonalFixture.subShapes(spec)
    val union = graft.geom.GeomOps.unionAll(shapes)
    val shared = Seq("nlcd", "soil", "slope").map(id =>
      id -> zonalLayers(s, path, metas, Seq(id), union).head).toMap
    val raw = Zonal.multiBatch(s, metas("nlcd").layout, shared, shapes,
      graft.sources.ZonalFixture.streamLines(spec),
      Seq(
        Zonal.BatchCount("nlcd_soil", Seq("nlcd", "soil")),
        Zonal.BatchCount("cnt_soil", Seq("soil")),
        Zonal.BatchAverage("avg_slope", Seq("soil"), "slope"),
        Zonal.BatchLines("nlcd_streams", Seq("nlcd"))))
    // counts are integral (round is identity). The average is gated as
    // exact integer CENTS: one group's true mean (90093/3200 at sf0.01)
    // sits exactly on the 1e-6 round-half boundary, so ROUND(avg, 6)
    // flips with FP summation order on either side. avg * count * 100
    // undoes the division — it equals the non-NaN cents sum to ~1e-5,
    // which ROUND recovers exactly and order-independently; the count
    // comes from the engine's own cnt_soil rows (themselves gated).
    val cnts = raw.filter(col("op_label") === "cnt_soil")
      .select(col("shape_id").as("c_sid"), col("k").as("c_k"), col("v").as("c_n"))
    val avgCents = raw.filter(col("op_label") === "avg_slope")
      .join(cnts, col("shape_id") === col("c_sid") && col("k") === col("c_k"))
      .select(col("shape_id"), col("op_label"), col("k"),
        round(col("v") * col("c_n") * 100).as("v"))
    raw.filter(col("op_label") =!= "avg_slope")
      .select(col("shape_id"), col("op_label"), col("k"), round(col("v"), 6).as("v"))
      .union(avgCents)
      .orderBy("shape_id", "op_label", "k")
  }
  // reads the per-pixel value planes (ZonalFixture.writePlane), not
  // the tile arrays: the tile_i[idx+1]-after-join form wedges the
  // driver's DuckDB 1.0.0 planner
  gate("q34_zonal_multi")(qZonalMulti(_, _))(
    s"""WITH ms AS (SELECT * FROM ${zfp("mask_shapes.parquet")}),
       |ml AS (SELECT * FROM ${zfp("mask_lines_shapes.parquet")}),
       |n AS (SELECT key_col, key_row, idx, v FROM ${zfp("plane_nlcd.parquet")}),
       |s AS (SELECT key_col, key_row, idx, v FROM ${zfp("plane_soil.parquet")}),
       |t AS (SELECT key_col, key_row, idx, v FROM ${zfp("plane_slope.parquet")}),
       |cnt_op AS (
       |  SELECT m.shape_id, 'nlcd_soil' AS op_label,
       |    'List(' || COALESCE(n.v, -2147483648)
       |      || ', ' || COALESCE(s.v, -2147483648) || ')' AS k,
       |    CAST(COUNT(*) AS DOUBLE) AS v
       |  FROM ms m LEFT JOIN n USING (key_col, key_row, idx)
       |            LEFT JOIN s USING (key_col, key_row, idx)
       |  GROUP BY 1, 3),
       |cnt_soil_op AS (
       |  SELECT m.shape_id, 'cnt_soil' AS op_label,
       |    'List(' || COALESCE(s.v, -2147483648) || ')' AS k,
       |    CAST(COUNT(*) AS DOUBLE) AS v
       |  FROM ms m LEFT JOIN s USING (key_col, key_row, idx)
       |  GROUP BY 1, 3),
       |avg_op AS (
       |  -- the avg op is gated as exact non-NaN CENTS (avg * n * 100
       |  -- on the engine side): one group's true mean sits exactly on
       |  -- the 1e-6 round-half boundary, see qZonalMulti
       |  SELECT m.shape_id, 'avg_slope' AS op_label,
       |    'List(' || COALESCE(s.v, -2147483648) || ')' AS k,
       |    CAST(SUM(CASE WHEN t.v IS NULL OR isnan(t.v) THEN 0
       |                  ELSE ROUND(t.v * 100)::BIGINT END) AS DOUBLE) AS v
       |  FROM ms m LEFT JOIN s USING (key_col, key_row, idx)
       |            LEFT JOIN t USING (key_col, key_row, idx)
       |  GROUP BY 1, 3),
       |lines_op AS (
       |  SELECT m.shape_id, 'nlcd_streams' AS op_label,
       |    'List(' || COALESCE(n.v, -2147483648) || ')' AS k,
       |    CAST(COUNT(*) AS DOUBLE) AS v
       |  FROM ml m LEFT JOIN n USING (key_col, key_row, idx)
       |  GROUP BY 1, 3)
       |SELECT * FROM cnt_op
       |UNION ALL SELECT * FROM cnt_soil_op
       |UNION ALL SELECT * FROM avg_op
       |UNION ALL SELECT * FROM lines_op
       |ORDER BY shape_id, op_label, k""".stripMargin)

  /** Grouped count under the reference's OTHER rasterization mode
    * (pixelIsArea — low-res rasters, CHANGELOG.md:110-113): the
    * supercover mask, oracle-checked against its own mask dump.
    */
  private def qZonalAreaCount(s: SparkSession, dir: String): DataFrame = {
    val (path, spec, metas) = zonalCtx(s, dir)
    val aoi = graft.sources.ZonalFixture.aoi(spec)
    val opts = graft.raster.Rasterizer.Options(includePartial = true, pixelIsArea = true)
    graft.operators.Zonal.groupedCount(s, metas("nlcd").layout,
      zonalLayers(s, path, metas, Seq("nlcd", "soil"), aoi), aoi, opts)
      .select(Render.listKeyCol.as("vals"), col("cnt"))
      .orderBy("vals")
  }
  gate("q56_zonal_area_count")(qZonalAreaCount(_, _))(
    s"""WITH m AS (SELECT * FROM ${zfp("mask_aoi_area.parquet")}),
       |n AS (SELECT key_col, key_row, idx, v FROM ${zfp("plane_nlcd.parquet")}),
       |s AS (SELECT key_col, key_row, idx, v FROM ${zfp("plane_soil.parquet")})
       |SELECT 'List(' || COALESCE(n.v, -2147483648)
       |    || ', ' || COALESCE(s.v, -2147483648) || ')' AS vals,
       |  COUNT(*) AS cnt
       |FROM m LEFT JOIN n USING (key_col, key_row, idx)
       |       LEFT JOIN s USING (key_col, key_row, idx)
       |GROUP BY 1 ORDER BY vals""".stripMargin)

  /** Grouped count on the zoom=1 overview (2× downsample): exercises
    * the catalog's zoom dimension + partition pruning end-to-end.
    */
  private def qZonalOverviewCount(s: SparkSession, dir: String): DataFrame = {
    val (path, spec, metas) = zonalCtx(s, dir)
    val aoi = graft.sources.ZonalFixture.aoi(spec)
    val z1 = metas("nlcd").copy(zoom = 1,
      layoutCols = spec.layoutCols / 2, layoutRows = spec.layoutRows / 2)
    graft.operators.Zonal.groupedCount(s, z1.layout,
      Seq(graft.operators.Zonal.Layer(z1,
        graft.sources.TileCatalog.readLayer(s, path, z1, aoi))), aoi)
      .select(Render.listKeyCol.as("vals"), col("cnt"))
      .orderBy("vals")
  }
  gate("q57_zonal_overview_count")(qZonalOverviewCount(_, _))(
    s"""WITH m AS (SELECT * FROM ${zfp("mask_aoi_z1.parquet")}),
       |n AS (SELECT key_col, key_row, tile_i FROM ${zfp("tiles/raster_id=nlcd/zoom=1")})
       |SELECT 'List(' || COALESCE(n.tile_i[m.idx + 1], -2147483648) || ')' AS vals,
       |  COUNT(*) AS cnt
       |FROM m LEFT JOIN n USING (key_col, key_row)
       |GROUP BY 1 ORDER BY vals""".stripMargin)

  /** Focal statistics via tile halo exchange
    * ([[graft.operators.Focal.focalSumCountD]] — same one-shuffle halo
    * assembly as `focalMeanD`, but the exact-integer (sum, count)
    * plane): each tile ships only its payload + O(perimeter) border
    * strips; the 3×3 kernel runs tile-locally on the assembled
    * extended frame. Gated as per-tile integer stats of the focal
    * surface — zero float-rounding slack.
    */
  private def qFocalMean(s: SparkSession, dir: String): DataFrame = {
    val (path, _, metas) = zonalCtx(s, dir)
    val meta = metas("slope")
    val full = new org.locationtech.jts.geom.GeometryFactory()
      .toGeometry(meta.layout.extent.toEnvelope)
    val layer = graft.sources.TileCatalog.readLayer(s, path, meta, full)
    // exact-integer focal plane (ADVICE r4): s·16+c packing, where s is
    // the neighbor sum of floor(v·1e4 + 0.5) — order-independent, so no
    // rounded-hash boundary can flip. mean > 25 ⇔ s > 25·1e4·c exactly.
    val enc = graft.operators.Focal.focalSumCountD(s, layer, meta, scale = 10000.0)
    enc.select(col("key_col"), col("key_row"), explode(col("tile_d")).as("e"))
      .select(col("key_col"), col("key_row"),
        when(!isnan(col("e")), floor(col("e") / 16).cast("long")).as("s"),
        when(!isnan(col("e")), pmod(col("e"), lit(16.0)).cast("long")).as("c"))
      .groupBy("key_col", "key_row")
      .agg(count(lit(1)).as("n_cells"),
        count(col("s")).as("n_data"),
        sum(when(col("s") > lit(250000L) * col("c"), 1L).otherwise(0L)).as("cnt_hi"),
        coalesce(sum(col("s")), lit(0L)).as("sum_scaled"),
        coalesce(sum(col("c")), lit(0L)).as("sum_n"))
      .orderBy("key_col", "key_row")
  }
  // q88: the oracle recomputes the focal plane from raw tiles by a
  // 9-shift explode + group (fine at gate scale; the engine's halo
  // exchange is the scale path). Arithmetic is EXACT on both sides
  // (ADVICE r4): per-cell floor(v·1e4+0.5) is a pure function of the
  // identical stored double, and everything after is integer sums —
  // no float reduction order can flip the hash. NaN centers with
  // zero data neighbors are NULL here / NaN in the engine, excluded
  // from the data aggregates.
  gate("q88_focal_mean")(qFocalMean(_, _)) {
    val spec = graft.sources.ZonalFixture.specFor(oracleSfDir)
    val ts = spec.tileSize
    val w = spec.layoutCols * ts; val h = spec.layoutRows * ts
    s"""WITH cells AS (
       |  SELECT key_col * $ts + (i - 1) % $ts AS gc,
       |         key_row * $ts + (i - 1) // $ts AS gr,
       |         tile_d[i] AS v
       |  FROM ${zfp("tiles/raster_id=slope/zoom=0")},
       |       generate_series(1, ${ts * ts}) t(i)),
       |sv AS (
       |  SELECT gc, gr, floor(v * 10000 + 0.5)::BIGINT AS s
       |  FROM cells WHERE NOT isnan(v)),
       |nbr AS (
       |  SELECT gc + dx.x AS tgc, gr + dy.y AS tgr, s
       |  FROM sv, (VALUES (-1), (0), (1)) dx(x), (VALUES (-1), (0), (1)) dy(y)),
       |fm AS (
       |  SELECT tgc, tgr, sum(s)::BIGINT AS s, count(*)::BIGINT AS c
       |  FROM nbr
       |  WHERE tgc BETWEEN 0 AND ${w - 1} AND tgr BETWEEN 0 AND ${h - 1}
       |  GROUP BY 1, 2)
       |SELECT (c.gc // $ts)::INTEGER AS key_col, (c.gr // $ts)::INTEGER AS key_row,
       |  count(*) AS n_cells,
       |  count(f.s) AS n_data,
       |  sum(CASE WHEN f.s > 250000 * f.c THEN 1 ELSE 0 END)::BIGINT AS cnt_hi,
       |  COALESCE(sum(f.s), 0)::BIGINT AS sum_scaled,
       |  COALESCE(sum(f.c), 0)::BIGINT AS sum_n
       |FROM cells c LEFT JOIN fm f ON f.tgc = c.gc AND f.tgr = c.gr
       |GROUP BY 1, 2 ORDER BY key_col, key_row""".stripMargin
  }

  /** Focal → zonal composition: Horn percent slope derived from the
    * `slope` surface via halo exchange
    * ([[graft.operators.Focal.hornSlopePercentD]]), then the
    * reference's grouped-average zonal kernel over the AOI with nlcd
    * as the grouping raster — a derived layer flows into
    * [[graft.operators.Zonal.groupedAverage]] exactly like a catalog
    * layer (NODATA→0-but-counted rule applies to the NaN border/pocket
    * cells the derivative cannot compute). Per-cell values rounded to
    * 4 dp on both engines; percent slope uses only IEEE-exact ops, so
    * the rounding sees bit-identical inputs.
    */
  private def qFocalZonal(s: SparkSession, dir: String): DataFrame = {
    val (path, spec, metas) = zonalCtx(s, dir)
    val slopeMeta = metas("slope")
    val full = new org.locationtech.jts.geom.GeometryFactory()
      .toGeometry(slopeMeta.layout.extent.toEnvelope)
    val dem = graft.sources.TileCatalog.readLayer(s, path, slopeMeta, full)
    val grad = graft.operators.Focal.hornSlopePercentD(s, dem, slopeMeta, cellSize = 1.0)
      .withColumn("tile_d", expr("transform(tile_d, v -> round(v, 4))"))
    val aoi = graft.sources.ZonalFixture.aoi(spec)
    graft.operators.Zonal.groupedAverage(s, slopeMeta.layout,
      zonalLayers(s, path, metas, Seq("nlcd"), aoi),
      graft.operators.Zonal.Layer(slopeMeta.copy(rasterId = "horn"), grad), aoi)
      .select(Render.listKeyCol.as("vals"), round(col("avg_v"), 6).as("avg_v"))
      .orderBy("vals")
  }
  // q91: Horn percent slope recomputed from raw tiles (9-neighbor
  // pivot; the x/y signs are the SOURCE shift, so neighbor (-1,-1)
  // of a center is the source shifted by (+1,+1)), then the zonal
  // grouped average over the AOI mask with the reference's
  // NODATA→0-but-counted rule. Pure-arithmetic slope (no atan), so
  // per-cell doubles are bit-identical before the 4 dp rounding.
  gate("q91_focal_zonal")(qFocalZonal(_, _)) {
    val spec = graft.sources.ZonalFixture.specFor(oracleSfDir)
    val ts = spec.tileSize
    val w = spec.layoutCols * ts; val h = spec.layoutRows * ts
    s"""WITH cells AS (
       |  SELECT key_col * $ts + (i - 1) % $ts AS gc,
       |         key_row * $ts + (i - 1) // $ts AS gr,
       |         tile_d[i] AS v
       |  FROM ${zfp("tiles/raster_id=slope/zoom=0")},
       |       generate_series(1, ${ts * ts}) t(i)),
       |win AS (
       |  SELECT gc + dx.x AS tgc, gr + dy.y AS tgr, dx.x AS x, dy.y AS y, v
       |  FROM cells, (VALUES (-1), (0), (1)) dx(x), (VALUES (-1), (0), (1)) dy(y)),
       |horn AS (
       |  SELECT tgc, tgr,
       |    max(CASE WHEN x = 1  AND y = 1  THEN v END) AS a,
       |    max(CASE WHEN x = 0  AND y = 1  THEN v END) AS b,
       |    max(CASE WHEN x = -1 AND y = 1  THEN v END) AS c,
       |    max(CASE WHEN x = 1  AND y = 0  THEN v END) AS d,
       |    max(CASE WHEN x = -1 AND y = 0  THEN v END) AS f,
       |    max(CASE WHEN x = 1  AND y = -1 THEN v END) AS g,
       |    max(CASE WHEN x = 0  AND y = -1 THEN v END) AS h,
       |    max(CASE WHEN x = -1 AND y = -1 THEN v END) AS i,
       |    count(*) AS n9, bool_or(isnan(v)) AS bad
       |  FROM win
       |  WHERE tgc BETWEEN 0 AND ${w - 1} AND tgr BETWEEN 0 AND ${h - 1}
       |  GROUP BY 1, 2),
       |fm AS (
       |  SELECT tgc AS gc, tgr AS gr,
       |    round(100 * sqrt(
       |      (((c + 2*f + i) - (a + 2*d + g)) / 8.0) * (((c + 2*f + i) - (a + 2*d + g)) / 8.0) +
       |      (((g + 2*h + i) - (a + 2*b + c)) / 8.0) * (((g + 2*h + i) - (a + 2*b + c)) / 8.0)), 4) AS fm
       |  FROM horn WHERE n9 = 9 AND NOT bad),
       |m AS (
       |  SELECT key_col, key_row, idx,
       |         key_col * $ts + idx % $ts AS gc,
       |         key_row * $ts + idx // $ts AS gr
       |  FROM ${zfp("mask_aoi.parquet")}),
       |cls AS (
       |  SELECT m.gc, m.gr, COALESCE(n.tile_i[m.idx + 1], -2147483648) AS k
       |  FROM m LEFT JOIN (SELECT key_col, key_row, tile_i
       |                    FROM ${zfp("tiles/raster_id=nlcd/zoom=0")}) n
       |    USING (key_col, key_row))
       |SELECT 'List(' || k || ')' AS vals,
       |       round(sum(COALESCE(f.fm, 0)) / count(*), 6) AS avg_v
       |FROM cls LEFT JOIN fm f ON f.gc = cls.gc AND f.gr = cls.gr
       |GROUP BY 1 ORDER BY vals""".stripMargin
  }

  /** Local map algebra ([[graft.operators.MapAlgebra.localCombineInt]]):
    * cell-wise composite class (nlcd × soil, NODATA-aware) via a
    * codegen'd `zip_with` over the align join, then the class
    * histogram.
    */
  private def qMapAlgebra(s: SparkSession, dir: String): DataFrame = {
    val (path, spec, metas) = zonalCtx(s, dir)
    val full = new org.locationtech.jts.geom.GeometryFactory()
      .toGeometry(metas("nlcd").layout.extent.toEnvelope)
    val n = graft.sources.TileCatalog.readLayer(s, path, metas("nlcd"), full)
    val so = graft.sources.TileCatalog.readLayer(s, path, metas("soil"), full)
    val ts2 = spec.tileSize * spec.tileSize
    val composite = graft.operators.MapAlgebra.localCombineInt(n, so,
      (x, y) => if (y == graft.raster.NoData.INT) -1 else x * 100 + y,
      ts2)
    graft.operators.MapAlgebra.cellHistogram(composite)
      .orderBy("v")
  }
  // q93: cell-wise composite class from raw tiles
  gate("q93_map_algebra")(qMapAlgebra(_, _)) {
    val spec = graft.sources.ZonalFixture.specFor(oracleSfDir)
    val ts2 = spec.tileSize * spec.tileSize
    // FULL OUTER with NODATA-filled absent sides, mirroring
    // localCombineInt exactly (an absent s-tile cell is NODATA → -1;
    // an absent n-tile cell is NODATA, whose ×100+y wraps in 32-bit
    // JVM arithmetic — reproduced via the mod-2^32 re-center). The
    // current fixture writes both layers over the full grid, so this
    // only hardens the gate against future non-identical key sets.
    s"""WITH n AS (SELECT key_col, key_row, tile_i FROM ${zfp("tiles/raster_id=nlcd/zoom=0")}),
       |s AS (SELECT key_col, key_row, tile_i FROM ${zfp("tiles/raster_id=soil/zoom=0")})
       |SELECT CASE WHEN s.tile_i[i] IS NULL OR s.tile_i[i] = -2147483648 THEN -1
       |            ELSE ((((COALESCE(n.tile_i[i], -2147483648)::BIGINT * 100
       |                      + s.tile_i[i]) + 2147483648) % 4294967296
       |                   + 4294967296) % 4294967296 - 2147483648)::INTEGER
       |       END AS v,
       |       count(*) AS cnt
       |FROM n FULL OUTER JOIN s USING (key_col, key_row),
       |     generate_series(1, $ts2) t(i)
       |GROUP BY 1 ORDER BY v""".stripMargin
  }

  /** Focal majority ([[graft.operators.Focal.focalMajorityI]]) over
    * the soil layer (NODATA stripe exercises the no-vote and
    * partial-vote paths), then the class histogram.
    */
  private def qFocalMajority(s: SparkSession, dir: String): DataFrame = {
    val (path, _, metas) = zonalCtx(s, dir)
    val full = new org.locationtech.jts.geom.GeometryFactory()
      .toGeometry(metas("soil").layout.extent.toEnvelope)
    val soil = graft.sources.TileCatalog.readLayer(s, path, metas("soil"), full)
    graft.operators.MapAlgebra.cellHistogram(
      graft.operators.Focal.focalMajorityI(s, soil, metas("soil")))
      .orderBy("v")
  }
  // q96: 9-neighbor vote per cell — NODATA never votes, ties break
  // to the smallest class, vote-less cells stay NODATA
  gate("q96_focal_majority")(qFocalMajority(_, _)) {
    val spec = graft.sources.ZonalFixture.specFor(oracleSfDir)
    val ts = spec.tileSize
    val w = spec.layoutCols * ts; val h = spec.layoutRows * ts
    s"""WITH cells AS (
       |  SELECT key_col * $ts + (i - 1) % $ts AS gc,
       |         key_row * $ts + (i - 1) // $ts AS gr,
       |         tile_i[i] AS v
       |  FROM ${zfp("tiles/raster_id=soil/zoom=0")},
       |       generate_series(1, ${ts * ts}) t(i)),
       |nbr AS (
       |  SELECT gc + dx.x AS tgc, gr + dy.y AS tgr, v
       |  FROM cells, (VALUES (-1), (0), (1)) dx(x), (VALUES (-1), (0), (1)) dy(y)
       |  WHERE v <> -2147483648),
       |votes AS (
       |  SELECT tgc, tgr, v, count(*) AS c
       |  FROM nbr
       |  WHERE tgc BETWEEN 0 AND ${w - 1} AND tgr BETWEEN 0 AND ${h - 1}
       |  GROUP BY 1, 2, 3),
       |maj AS (
       |  SELECT tgc AS gc, tgr AS gr, v FROM (
       |    SELECT tgc, tgr, v,
       |           row_number() OVER (PARTITION BY tgc, tgr ORDER BY c DESC, v) AS rn
       |    FROM votes)
       |  WHERE rn = 1)
       |SELECT COALESCE(m.v, -2147483648) AS v, count(*) AS cnt
       |FROM cells c LEFT JOIN maj m USING (gc, gr)
       |GROUP BY 1 ORDER BY v""".stripMargin
  }

  /** D8 flow direction ([[graft.operators.Focal.d8FlowDirectionD]])
    * over the slope surface, then the direction-code histogram. The
    * NaN pocket exercises NODATA centers and non-receiving neighbors.
    */
  private def qFlowDirection(s: SparkSession, dir: String): DataFrame = {
    val (path, _, metas) = zonalCtx(s, dir)
    val full = new org.locationtech.jts.geom.GeometryFactory()
      .toGeometry(metas("slope").layout.extent.toEnvelope)
    val dem = graft.sources.TileCatalog.readLayer(s, path, metas("slope"), full)
    graft.operators.MapAlgebra.cellHistogram(
      graft.operators.Focal.d8FlowDirectionD(s, dem, metas("slope")))
      .orderBy("v")
  }
  // q97: D8 — the oracle plane is recomputed from the slope formula
  // with the identical IEEE arithmetic ((z - z_n)/dist, sqrt(2)
  // diagonals, -1 for missing/NODATA neighbors, E,SE,S,SW,W,NW,N,NE
  // tie-break) in ZonalFixture.d8DirValue; previously an in-DuckDB
  // CTE chain that 1.0.0 planned catastrophically
  gate("q97_flow_direction")(qFlowDirection(_, _))(
    s"""SELECT v, count(*) AS cnt FROM ${zfp("plane_d8dir.parquet")}
       |GROUP BY 1 ORDER BY v""".stripMargin)

  /** Derived-layer zonal: grouped count by the (nlcd, D8-flow-dir)
    * tuple over the AOI — the second grouping raster is COMPUTED
    * ([[graft.operators.Focal.d8FlowDirectionD]]), not read, and flows
    * through [[graft.operators.Zonal.groupedCount]] exactly like a
    * catalog layer (NODATA sentinel participates in keys).
    */
  private def qDerivedZonal(s: SparkSession, dir: String): DataFrame = {
    val (path, spec, metas) = zonalCtx(s, dir)
    val slopeMeta = metas("slope")
    val full = new org.locationtech.jts.geom.GeometryFactory()
      .toGeometry(slopeMeta.layout.extent.toEnvelope)
    val dem = graft.sources.TileCatalog.readLayer(s, path, slopeMeta, full)
    val flow = graft.operators.Focal.d8FlowDirectionD(s, dem, slopeMeta)
    val aoi = graft.sources.ZonalFixture.aoi(spec)
    val layers = zonalLayers(s, path, metas, Seq("nlcd"), aoi) :+
      graft.operators.Zonal.Layer(
        slopeMeta.copy(rasterId = "flowdir", cellType = "int"), flow)
    graft.operators.Zonal.groupedCount(s, slopeMeta.layout, layers, aoi)
      .select(Render.listKeyCol.as("vals"), col("cnt"))
      .orderBy("vals")
  }
  // q100: the D8 chain feeds a two-raster zonal grouped count —
  // derived flow-dir codes group exactly like a catalog layer
  gate("q100_derived_zonal")(qDerivedZonal(_, _)) {
    val spec = graft.sources.ZonalFixture.specFor(oracleSfDir)
    val ts = spec.tileSize
    s"""WITH m AS (
       |  SELECT key_col, key_row, idx,
       |         key_col * $ts + idx % $ts AS gc,
       |         key_row * $ts + idx // $ts AS gr
       |  FROM ${zfp("mask_aoi.parquet")}),
       |nl AS (SELECT key_col, key_row, idx, v FROM ${zfp("plane_nlcd.parquet")})
       |SELECT 'List(' || COALESCE(nl.v, -2147483648)
       |    || ', ' || f.v || ')' AS vals,
       |  COUNT(*) AS cnt
       |FROM m LEFT JOIN nl USING (key_col, key_row, idx)
       |       JOIN ${zfp("plane_d8dir.parquet")} f
       |         ON f.gc = m.gc AND f.gr = m.gr
       |GROUP BY 1 ORDER BY vals""".stripMargin
  }

  /** Z-order layout gate ([[graft.operators.Zorder]]): Morton codes
    * over a dense 256×256 key grid (tile-catalog-shaped keys derived
    * from lineitem — the fixture's real tile grid is only 2×2 at the
    * gate SF), aggregated per aligned 8×8 quadtree block
    * (blockBits=3). The per-block rows make the locality claim
    * INSPECTABLE data: each z_block's key bbox is ≤ 8 wide in both
    * axes and its z-range is contained in the block's 64 consecutive
    * codes — i.e. a bbox scan over a z-sorted catalog reads contiguous
    * runs. Bit-exact integer arithmetic end to end; the oracle replays
    * the same spread/interleave in SQL.
    */
  private def qZorderLayout(s: SparkSession, dir: String): DataFrame = {
    val keys = t(s, dir, "lineitem").select(
      (col("l_orderkey") % 256).cast("int").as("kx"),
      (col("l_partkey") % 256).cast("int").as("ky"))
    graft.operators.Zorder.zIndexed(keys, "kx", "ky", blockBits = 3)
      .groupBy(col("z_block"))
      .agg(count(lit(1)).as("n_keys"),
        min(col("z")).as("z_min"), max(col("z")).as("z_max"),
        min(col("kx").cast("long")).as("col_min"),
        max(col("kx").cast("long")).as("col_max"),
        min(col("ky").cast("long")).as("row_min"),
        max(col("ky").cast("long")).as("row_max"))
      .orderBy("z_block")
  }
  // q107: the same 16-bit spread/interleave replayed in SQL
  // (0xFFFF, 0x00FF00FF, 0x0F0F0F0F, 0x33333333, 0x55555555)
  gate("q107_zorder_layout")(qZorderLayout(_, _))(
    """WITH k AS (SELECT (l_orderkey % 256)::BIGINT AS x,
      |                  (l_partkey % 256)::BIGINT AS y FROM lineitem),
      |s1 AS (SELECT x, y, x & 65535 AS xa, y & 65535 AS ya FROM k),
      |s2 AS (SELECT *, (xa | (xa << 8)) & 16711935 AS xb,
      |               (ya | (ya << 8)) & 16711935 AS yb FROM s1),
      |s3 AS (SELECT *, (xb | (xb << 4)) & 252645135 AS xc,
      |               (yb | (yb << 4)) & 252645135 AS yc FROM s2),
      |s4 AS (SELECT *, (xc | (xc << 2)) & 858993459 AS xd,
      |               (yc | (yc << 2)) & 858993459 AS yd FROM s3),
      |s5 AS (SELECT *, (xd | (xd << 1)) & 1431655765 AS xe,
      |               (yd | (yd << 1)) & 1431655765 AS ye FROM s4),
      |z AS (SELECT x, y, xe | (ye << 1) AS z FROM s5)
      |SELECT z >> 6 AS z_block, COUNT(*) AS n_keys,
      |       MIN(z) AS z_min, MAX(z) AS z_max,
      |       MIN(x) AS col_min, MAX(x) AS col_max,
      |       MIN(y) AS row_min, MAX(y) AS row_max
      |FROM z GROUP BY 1 ORDER BY z_block""".stripMargin)

  /** Broadcast point-in-polygon join gate
    * ([[graft.operators.SpatialJoin]]): 60 deterministic axis-aligned
    * rectangles (so the generic JTS STRtree + prepared-`covers` path
    * has an exactly SQL-expressible oracle), points derived from
    * lineitem at half-integer coordinates — never on a rectangle edge,
    * so open-vs-closed boundary semantics cannot diverge. Output is
    * per-polygon count + point-id checksum; rectangles containing no
    * point are absent in both engines (inner-join semantics).
    */
  private def qSpatialJoin(s: SparkSession, dir: String): DataFrame = {
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val polys = (0L until 60L).map { i =>
      val x0 = (i * 37) % 900; val y0 = (i * 53) % 900
      val w = 60 + (i % 5) * 20; val h = 40 + (i % 7) * 15
      i -> gf.toGeometry(new org.locationtech.jts.geom.Envelope(
        x0.toDouble, (x0 + w).toDouble, y0.toDouble, (y0 + h).toDouble))
    }
    val pts = t(s, dir, "lineitem").select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("pid"),
      ((col("l_orderkey") % 1000) + 0.5).as("x"),
      ((col("l_partkey") % 1000) + 0.5).as("y"))
    graft.operators.SpatialJoin.pointInPolygon(pts, "pid", "x", "y", polys)
      .groupBy("poly_id")
      .agg(count(lit(1)).as("n_points"), sum(col("point_id")).as("sum_pid"))
      .orderBy("poly_id")
  }
  // q108: rectangles make the JTS containment SQL-expressible; the
  // half-integer point coordinates keep every point strictly off
  // rectangle boundaries
  gate("q108_spatial_join")(qSpatialJoin(_, _))(
    """WITH p AS (SELECT l_orderkey * 10 + l_linenumber AS pid,
      |                  (l_orderkey % 1000) + 0.5 AS x,
      |                  (l_partkey % 1000) + 0.5 AS y FROM lineitem),
      |r AS (SELECT i AS poly_id,
      |             (i * 37) % 900 AS x0, (i * 53) % 900 AS y0,
      |             60 + (i % 5) * 20 AS w, 40 + (i % 7) * 15 AS h
      |      FROM generate_series(0, 59) t(i))
      |SELECT poly_id, COUNT(*) AS n_points, SUM(pid)::BIGINT AS sum_pid
      |FROM p JOIN r ON x > x0 AND x < x0 + w AND y > y0 AND y < y0 + h
      |GROUP BY 1 ORDER BY poly_id""".stripMargin)

  /** Topographic Position Index ([[graft.operators.Focal.focalTpiD]]):
    * ridge/valley/flat classification from the sign of the scaled TPI
    * numerator d = vi·c − Σring — exact integers end to end (q88's
    * gate discipline), one halo-exchange shuffle.
    */
  private def qFocalTpi(s: SparkSession, dir: String): DataFrame = {
    val (path, _, metas) = zonalCtx(s, dir)
    val meta = metas("slope")
    val full = new org.locationtech.jts.geom.GeometryFactory()
      .toGeometry(meta.layout.extent.toEnvelope)
    val layer = graft.sources.TileCatalog.readLayer(s, path, meta, full)
    val enc = graft.operators.Focal.focalTpiD(s, layer, meta)
    enc.select(col("key_col"), col("key_row"), explode(col("tile_d")).as("e"))
      .select(col("key_col"), col("key_row"),
        when(!isnan(col("e")), floor(col("e") / 16).cast("long")).as("d"),
        when(!isnan(col("e")), pmod(col("e"), lit(16.0)).cast("long")).as("c"))
      .groupBy("key_col", "key_row")
      .agg(count(lit(1)).as("n_cells"), count(col("d")).as("n_defined"),
        sum(when(col("d") > 0, 1L).otherwise(0L)).as("n_ridge"),
        sum(when(col("d") < 0, 1L).otherwise(0L)).as("n_valley"),
        sum(when(col("d") === 0, 1L).otherwise(0L)).as("n_flat"),
        coalesce(sum(col("d")), lit(0L)).as("sum_d"),
        coalesce(sum(col("c")), lit(0L)).as("sum_n"))
      .orderBy("key_col", "key_row")
  }
  // q131: TPI numerator recomputed from raw tiles by the 8-shift
  // ring explode — exact integer arithmetic both sides (q88 pattern)
  gate("q131_focal_tpi")(qFocalTpi(_, _)) {
    val spec = graft.sources.ZonalFixture.specFor(oracleSfDir)
    val ts = spec.tileSize
    val w = spec.layoutCols * ts; val h = spec.layoutRows * ts
    s"""WITH cells AS (
       |  SELECT key_col * $ts + (i - 1) % $ts AS gc,
       |         key_row * $ts + (i - 1) // $ts AS gr,
       |         tile_d[i] AS v
       |  FROM ${zfp("tiles/raster_id=slope/zoom=0")},
       |       generate_series(1, ${ts * ts}) t(i)),
       |sv AS (
       |  SELECT gc, gr, floor(v * 10000 + 0.5)::BIGINT AS s
       |  FROM cells WHERE NOT isnan(v)),
       |nbr AS (
       |  SELECT gc + dx.x AS tgc, gr + dy.y AS tgr, s
       |  FROM sv, (VALUES (-1), (0), (1)) dx(x), (VALUES (-1), (0), (1)) dy(y)
       |  WHERE NOT (dx.x = 0 AND dy.y = 0)),
       |ring AS (
       |  SELECT tgc, tgr, sum(s)::BIGINT AS rs, count(*)::BIGINT AS c
       |  FROM nbr
       |  WHERE tgc BETWEEN 0 AND ${w - 1} AND tgr BETWEEN 0 AND ${h - 1}
       |  GROUP BY 1, 2),
       |tpi AS (
       |  SELECT v.gc, v.gr, v.s * r.c - r.rs AS d, r.c
       |  FROM sv v JOIN ring r ON r.tgc = v.gc AND r.tgr = v.gr)
       |SELECT (c.gc // $ts)::INTEGER AS key_col, (c.gr // $ts)::INTEGER AS key_row,
       |  count(*) AS n_cells,
       |  count(t.d) AS n_defined,
       |  sum(CASE WHEN t.d > 0 THEN 1 ELSE 0 END)::BIGINT AS n_ridge,
       |  sum(CASE WHEN t.d < 0 THEN 1 ELSE 0 END)::BIGINT AS n_valley,
       |  sum(CASE WHEN t.d = 0 THEN 1 ELSE 0 END)::BIGINT AS n_flat,
       |  COALESCE(sum(t.d), 0)::BIGINT AS sum_d,
       |  COALESCE(sum(t.c), 0)::BIGINT AS sum_n
       |FROM cells c LEFT JOIN tpi t ON t.gc = c.gc AND t.gr = c.gr
       |GROUP BY 1, 2 ORDER BY key_col, key_row""".stripMargin
  }

  /** Shared q137/q138 gate shape: per-cell trig kernels cannot be
    * recomputed in DuckDB (libm last-ulp differs across engines), so
    * the oracle reads a fixture plane computed from the slope formula
    * by the SAME JVM libm ([[graft.sources.ZonalFixture.aspectValue]])
    * — bit-identical doubles, independent code path — and both sides
    * aggregate with only exact operations on those bits: per-degree
    * FLOOR buckets with counts and FLOOR(v·1e6) micro-sums.
    */
  private def focalTrigGate(s: SparkSession, dir: String,
      kernel: (SparkSession, DataFrame, graft.sources.TileCatalog.RasterMeta) => DataFrame): DataFrame = {
    val (path, _, metas) = zonalCtx(s, dir)
    val meta = metas("slope")
    val full = new org.locationtech.jts.geom.GeometryFactory()
      .toGeometry(meta.layout.extent.toEnvelope)
    val layer = graft.sources.TileCatalog.readLayer(s, path, meta, full)
    kernel(s, layer, meta)
      .select(explode(col("tile_d")).as("v"))
      .select(
        when(isnan(col("v")), lit(-999L))
          .otherwise(floor(col("v")).cast("long")).as("bucket"),
        when(isnan(col("v")), lit(0L))
          .otherwise(floor(col("v") * 1e6).cast("long")).as("micro"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), sum(col("micro")).as("sum_micro"))
      .orderBy("bucket")
  }

  /** Aspect ([[graft.operators.Focal.aspectD]]) through the
    * FLOOR-bucket trig gate. */
  private def qFocalAspect(s: SparkSession, dir: String): DataFrame =
    focalTrigGate(s, dir, (ss, l, m) =>
      graft.operators.Focal.aspectD(ss, l, m, cellSize = 1.0))
  // q137/q138: trig kernels — the oracle reads the fixture planes
  // (bit-identical JVM-libm doubles, see ZonalFixture.aspectValue)
  // and both sides aggregate with exact FLOOR ops only
  gate("q137_focal_aspect")(qFocalAspect(_, _))(
    s"""SELECT CASE WHEN isnan(v) THEN -999 ELSE FLOOR(v)::BIGINT END AS bucket,
       |  COUNT(*) AS cnt,
       |  CAST(SUM(CASE WHEN isnan(v) THEN 0
       |                ELSE FLOOR(v * 1000000)::BIGINT END) AS BIGINT) AS sum_micro
       |FROM ${zfp("plane_aspect.parquet")}
       |GROUP BY 1 ORDER BY bucket""".stripMargin)

  /** Hillshade ([[graft.operators.Focal.hillshadeD]], default sun)
    * through the FLOOR-bucket trig gate. */
  private def qHillshade(s: SparkSession, dir: String): DataFrame =
    focalTrigGate(s, dir, (ss, l, m) =>
      graft.operators.Focal.hillshadeD(ss, l, m, cellSize = 1.0))
  gate("q138_hillshade")(qHillshade(_, _))(
    s"""SELECT CASE WHEN isnan(v) THEN -999 ELSE FLOOR(v)::BIGINT END AS bucket,
       |  COUNT(*) AS cnt,
       |  CAST(SUM(CASE WHEN isnan(v) THEN 0
       |                ELSE FLOOR(v * 1000000)::BIGINT END) AS BIGINT) AS sum_micro
       |FROM ${zfp("plane_hillshade.parquet")}
       |GROUP BY 1 ORDER BY bucket""".stripMargin)

  /** Grid-bucketed radius self-join (the scale-correct spatial
    * neighbor search): points on a deterministic 100k × 100k integer
    * grid (md5-derived coordinates), bucketed into cells of the query
    * radius R = 5000; every true pair within R lands in the same or an
    * 8-adjacent cell, so candidates come from an equi-join on cell id
    * (probe side exploded to its 3×3 neighborhood) and each pair meets
    * exactly once under id_a < id_b — never a cross join. The exact
    * integer distance kernel runs on candidates only. Same blocking
    * principle as geohash/S2 joins at cluster scale.
    */
  private def qGridNeighborJoin(s: SparkSession, dir: String): DataFrame = {
    val R2 = 25000000L // R = 5000 on the 100k grid
    val pts = t(s, dir, "customer").select(col("c_custkey").as("id"),
        expr("graft_md5hi60(concat('x:', c_custkey)) % 100000").as("x"),
        expr("graft_md5hi60(concat('y:', c_custkey)) % 100000").as("y"))
      .withColumn("cx", expr("x DIV 5000"))
      .withColumn("cy", expr("y DIV 5000"))
    val probe = pts
      .select(col("id").as("id_a"), col("x").as("xa"), col("y").as("ya"),
        col("cx"), col("cy"))
      .withColumn("dx", explode(sequence(lit(-1), lit(1))))
      .withColumn("dy", explode(sequence(lit(-1), lit(1))))
      .select(col("id_a"), col("xa"), col("ya"),
        (col("cx") + col("dx")).as("ncx"), (col("cy") + col("dy")).as("ncy"))
    probe.join(pts,
        probe("ncx") === pts("cx") && probe("ncy") === pts("cy") &&
          probe("id_a") < pts("id"))
      .withColumn("dist2",
        (col("xa") - col("x")) * (col("xa") - col("x")) +
          (col("ya") - col("y")) * (col("ya") - col("y")))
      .filter(col("dist2") <= R2)
      .select(col("id_a"), col("id").as("id_b"), col("dist2"))
      .orderBy("id_a", "id_b")
  }
  // q214: identical md5 grid coordinates, 3×3 neighbor-cell join,
  // exact integer distance
  gate("q214_grid_neighbor_join")(qGridNeighborJoin(_, _))(
    """WITH p AS (
      |  SELECT c_custkey AS id,
      |    ('0x' || substr(md5('x:' || c_custkey::VARCHAR), 1, 15))::BIGINT % 100000 AS x,
      |    ('0x' || substr(md5('y:' || c_custkey::VARCHAR), 1, 15))::BIGINT % 100000 AS y
      |  FROM customer),
      |c AS (SELECT id, x, y, x // 5000 AS cx, y // 5000 AS cy FROM p),
      |n AS (
      |  SELECT a.id AS id_a, a.x AS xa, a.y AS ya,
      |         a.cx + dx.g AS ncx, a.cy + dy.g AS ncy
      |  FROM c a, generate_series(-1, 1) dx(g), generate_series(-1, 1) dy(g))
      |SELECT id_a, b.id AS id_b,
      |       (xa - b.x) * (xa - b.x) + (ya - b.y) * (ya - b.y) AS dist2
      |FROM n JOIN c b ON b.cx = ncx AND b.cy = ncy AND id_a < b.id
      |WHERE (xa - b.x) * (xa - b.x) + (ya - b.y) * (ya - b.y) <= 25000000
      |ORDER BY id_a, id_b""".stripMargin)

  /** Zonal MODE — the majority land class of the AOI with its pixel
    * share (the "what is this watershed mostly covered by" headline
    * number a WikiWatershed-style client derives from
    * RasterGroupedCount; reference operator surface
    * Geoprocessing.scala:21-53): the q30 grouped count on the nlcd
    * layer alone, argmax with the deterministic (count desc, class
    * asc) tie-break, share in micros. Rides the same pruned scan +
    * mask plane as every zonal gate.
    */
  private def qZonalMode(s: SparkSession, dir: String): DataFrame = {
    val (path, spec, metas) = zonalCtx(s, dir)
    val aoi = graft.sources.ZonalFixture.aoi(spec)
    val counts = graft.operators.Zonal.groupedCount(s, metas("nlcd").layout,
      zonalLayers(s, path, metas, Seq("nlcd"), aoi), aoi)
      .select(Render.listKeyCol.as("vals"), col("cnt"))
    counts
      .crossJoin(broadcast(counts.agg(sum(col("cnt")).as("total"))))
      .orderBy(col("cnt").desc, col("vals")).limit(1)
      .select(col("vals").as("mode_class"), col("cnt").as("mode_pixels"),
        col("total").as("masked_pixels"),
        expr("(1000000 * cnt) DIV total").as("share_micro"))
  }
  // q450: q30's mask-plane join on nlcd alone; argmax with the
  // (count desc, class asc) tie-break
  gate("q450_zonal_mode")(qZonalMode(_, _))(
    s"""WITH m AS (SELECT * FROM ${zfp("mask_aoi.parquet")}),
       |n AS (SELECT key_col, key_row, idx, v FROM ${zfp("plane_nlcd.parquet")}),
       |counts AS (
       |  SELECT 'List(' || COALESCE(n.v, -2147483648) || ')' AS vals,
       |    COUNT(*)::BIGINT AS cnt
       |  FROM m LEFT JOIN n USING (key_col, key_row, idx)
       |  GROUP BY 1),
       |tot AS (SELECT SUM(cnt)::BIGINT AS total FROM counts)
       |SELECT vals AS mode_class, cnt AS mode_pixels, total AS masked_pixels,
       |  ((1000000 * cnt) // total)::BIGINT AS share_micro
       |FROM counts, tot ORDER BY cnt DESC, vals LIMIT 1""".stripMargin)

  /** Zonal-fixture path fragment for the q30–q34 oracles: the fixture
    * (plus the rasterized-mask dumps,
    * [[graft.sources.ZonalFixture.ensureMasks]]) lives at a
    * deterministic tmpdir location that Verify materializes before the
    * oracle SQL runs, derived from [[oracleSfDir]].
    */
  private def zfp(rel: String): String = {
    val spec = graft.sources.ZonalFixture.specFor(oracleSfDir)
    val d = s"${System.getProperty("java.io.tmpdir")}/graft_zonal_" +
      s"${spec.layoutCols}x${spec.layoutRows}x${spec.tileSize}"
    s"read_parquet('$d/$rel/*.parquet')"
  }
}
