package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetOutputFormat}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}
import org.locationtech.jts.geom.Geometry

import graft.raster.{Extent, Layout}

/** The engine's raster store: a partitioned Parquet "tiles" table plus
  * a JSON metadata sidecar — the Spark-native analog of the
  * reference's GeoTrellis S3 catalog (SURVEY §1.4).
  *
  * Layout on disk:
  * {{{
  *   <path>/tiles/raster_id=<id>/zoom=<z>/part-*.parquet
  *     key_col INT, key_row INT, tile_i ARRAY<INT>, tile_d ARRAY<DOUBLE>
  *   <path>/meta.json        — Map[raster_id, RasterMeta]
  * }}}
  *
  * Exactly one of tile_i / tile_d is set per row (int vs float cell
  * type). Missing tiles are simply absent rows: readers NODATA-fill
  * after the align join (reference Utils.scala:221-232).
  *
  * Scale design: `raster_id`/`zoom` are partition columns (partition
  * pruning eliminates whole rasters); the AOI bbox becomes a
  * `key_col BETWEEN … AND key_row BETWEEN …` predicate that reaches
  * parquet row-group min/max stats — the same two-level pruning the
  * reference gets from `reader.query(...).where(Intersects(shape))`
  * (Utils.scala:241-248), but entirely via Catalyst.
  *
  * Every tile is its own Parquet row group: [[appendTiles]], the one
  * tiles writer, caps a row group at one row, so a tile is the unit of
  * I/O, as a SpatialKey object is in the reference's GeoTrellis
  * catalog. That has two effects. Each row group's `key_col`/`key_row`
  * min/max stats are exactly its tile's key, so the pushed key-range
  * filter skips every tile outside the AOI's key range. And a
  * vectorized reader batch never spans row groups, so it holds at most
  * one tile instead of a whole layer. A catalog written before this
  * rule (one row group per file) reads the same rows, but its scans
  * decode whole row groups until it is rewritten.
  *
  * Writers also lay tiles out in Z-ORDER ([[graft.operators.Zorder]],
  * gated q107): rows are sorted by the Morton code of
  * (key_col, key_row) before hitting parquet, so the row groups of an
  * aligned square-ish block of tiles are adjacent in their file and a
  * bbox scan reads O(few) contiguous runs instead of one thin stripe
  * per key_row. At fixture scale this is one in-memory sort; a
  * 100 TB ingest would `repartitionByRange` on the same code first
  * (one range shuffle at write time, prepaying every later scan).
  */
object TileCatalog {

  final case class RasterMeta(
      rasterId: String, zoom: Int, crs: String, cellType: String,
      xmin: Double, ymin: Double, xmax: Double, ymax: Double,
      tileCols: Int, tileRows: Int, layoutCols: Int, layoutRows: Int) {
    def layout: Layout =
      Layout(Extent(xmin, ymin, xmax, ymax), tileCols, tileRows, layoutCols, layoutRows)
    def isInt: Boolean = cellType == "int"
  }

  private implicit val fmts: Formats = DefaultFormats

  /** meta.json key for one (raster, zoom) level: plain raster id at the
    * base zoom 0 (backward compatible — single-zoom catalogs keep plain
    * keys), `id@zoom` for overview levels. The old `rasterId -> meta`
    * keying silently dropped all but one zoom of a pyramid.
    */
  def metaKey(rasterId: String, zoom: Int): String =
    if (zoom == 0) rasterId else s"$rasterId@$zoom"

  def writeMeta(path: String, metas: Seq[RasterMeta]): Unit = {
    val f = new java.io.File(path)
    f.mkdirs()
    val json = Serialization.writePretty(metas.map(m => metaKey(m.rasterId, m.zoom) -> m).toMap)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$path/meta.json"), json)
  }

  def readMeta(path: String): Map[String, RasterMeta] = {
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$path/meta.json"))
    JsonMethods.parse(json).extract[Map[String, RasterMeta]]
  }

  /** Z-order the tile rows before writing (see object scaladoc):
    * range-partition on the Morton code FIRST, then sort within
    * partitions, so each file's tiles follow Z order. Without the range
    * exchange a multi-partition input would give each file overlapping
    * z-ranges. A small layer's range partitions are coalesced by AQE,
    * so it lands in one file whose per-tile row groups carry the
    * pruning stats.
    */
  private def zSorted(df: DataFrame): DataFrame =
    df.withColumn("__z",
        graft.operators.Zorder.morton(col("key_col"), col("key_row")))
      .repartitionByRange(col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")

  /** Append tiles (`key_col`, `key_row`, `tile_i`, `tile_d`) as one
    * (raster, zoom) to the tiles table under `path`, Z-sorted, one
    * Parquet row group per tile (see object scaladoc). The row-group cap
    * is a write option, so it reaches only this writer. Every tiles
    * writer goes through here.
    */
  private def appendTiles(tiles: DataFrame, path: String, rasterId: String, zoom: Int): Unit =
    zSorted(tiles
        .withColumn("raster_id", lit(rasterId))
        .withColumn("zoom", lit(zoom))
        .select(tilesSchema.fieldNames.toIndexedSeq.map(col): _*))
      .write.mode("append")
      .option(ParquetOutputFormat.BLOCK_ROW_COUNT_LIMIT, 1)
      .partitionBy("raster_id", "zoom")
      .parquet(s"$path/tiles")

  /** Row count of every Parquet row group of one (raster, zoom): all 1
    * for a layer [[appendTiles]] wrote, larger for the layout written
    * before tiles became row groups.
    */
  private[graft] def rowGroupRows(spark: SparkSession, dir: String, rasterId: String,
                                  zoom: Int): Seq[Long] = {
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

  /** Ingest one int-typed raster layer (tests / fixtures). */
  def writeIntLayer(spark: SparkSession, path: String, meta: RasterMeta,
                    tiles: Seq[(Int, Int, Array[Int])]): Unit = {
    import spark.implicits._
    appendTiles(tiles.toDF("key_col", "key_row", "tile_i")
        .withColumn("tile_d", lit(null).cast("array<double>")), path, meta.rasterId, meta.zoom)
  }

  /** Ingest one double-typed raster layer. */
  def writeDoubleLayer(spark: SparkSession, path: String, meta: RasterMeta,
                       tiles: Seq[(Int, Int, Array[Double])]): Unit = {
    import spark.implicits._
    appendTiles(tiles.toDF("key_col", "key_row", "tile_d")
        .withColumn("tile_i", lit(null).cast("array<int>")), path, meta.rasterId, meta.zoom)
  }

  /** Build the next overview level (zoom+1 = 2× downsample, nearest
    * neighbor: top-left of each 2×2 block) from an existing zoom.
    * Four child tiles collapse into one parent tile of the same pixel
    * dimensions; one shuffle on the parent key. Returns the new meta.
    *
    * The reference catalog is single-zoom in practice (zoom always 0,
    * Utils.scala:57) but carries the zoom dimension — overviews are
    * the standard way that dimension gets populated in a real pyramid.
    */
  def buildOverview(spark: SparkSession, path: String, meta: RasterMeta): RasterMeta = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    require(meta.layoutCols % 2 == 0 && meta.layoutRows % 2 == 0,
      "overview needs an even tile grid")
    val tc = meta.tileCols
    val tr = meta.tileRows
    val half = tc / 2
    val halfR = tr / 2
    val src = open(spark, path)
      .filter(col("raster_id") === meta.rasterId && col("zoom") === meta.zoom)
    // child (kc,kr) lands in parent (kc/2, kr/2) quadrant (kc%2, kr%2);
    // parent cell (c,r) of quadrant (qx,qy) samples child cell (2c,2r)
    // local. The dense fill is a typed mapGroups kernel: one shuffle on
    // the parent key, then O(cells) array writes per tile — the
    // map_from_entries + element_at formulation it replaces is
    // O(cells²) per tile because Catalyst map lookup on
    // ArrayBasedMapData is a linear scan (minutes per 512² tile).
    val isInt = meta.isInt
    val valueCol = if (isInt) "tile_i" else "tile_d"
    // a NULL tile (absent / wrong-typed column) contributes nothing:
    // its quadrant keeps the NODATA fill, mirroring the align join
    val contrib = src.filter(col(valueCol).isNotNull).select(
      (col("key_col") / 2).cast("int").as("kc"),
      (col("key_row") / 2).cast("int").as("kr"),
      (col("key_col") % 2).cast("int").as("qx"),
      (col("key_row") % 2).cast("int").as("qy"),
      col(valueCol).as("t"))
    // one generic quadrant kernel for both cell types (the index
    // arithmetic must not fork)
    def downsampleInto[T](arr: Array[T], tile: Array[T], qx: Int, qy: Int): Unit = {
      var j = 0
      while (j < half * halfR) {
        arr((qy * halfR + j / half) * tc + qx * half + j % half) =
          tile((j / half) * 2 * tc + (j % half) * 2)
        j += 1
      }
    }
    val out: DataFrame =
      if (isInt) {
        contrib.as[(Int, Int, Int, Int, Array[Int])]
          .groupByKey { case (kc, kr, _, _, _) => (kc, kr) }
          .mapGroups { (key: (Int, Int), it) =>
            val arr = Array.fill(tc * tr)(Int.MinValue)
            it.foreach { case (_, _, qx, qy, tile) => downsampleInto(arr, tile, qx, qy) }
            (key._1, key._2, arr)
          }.toDF("key_col", "key_row", "tile_i")
          .withColumn("tile_d", lit(null).cast("array<double>"))
      } else {
        contrib.as[(Int, Int, Int, Int, Array[Double])]
          .groupByKey { case (kc, kr, _, _, _) => (kc, kr) }
          .mapGroups { (key: (Int, Int), it) =>
            val arr = Array.fill(tc * tr)(Double.NaN)
            it.foreach { case (_, _, qx, qy, tile) => downsampleInto(arr, tile, qx, qy) }
            (key._1, key._2, arr)
          }.toDF("key_col", "key_row", "tile_d")
          .withColumn("tile_i", lit(null).cast("array<int>"))
      }
    appendTiles(out, path, meta.rasterId, meta.zoom + 1)
    meta.copy(zoom = meta.zoom + 1,
      layoutCols = meta.layoutCols / 2, layoutRows = meta.layoutRows / 2)
  }

  /** Ingest a layer from a LONG-FORMAT pixel DataFrame
    * `(gc INT, gr INT, v)` — the ETL direction: group pixels into
    * dense tiles, NODATA-filling absent cells. One shuffle on the tile
    * key into a typed mapGroups dense-fill kernel (O(cells) per tile —
    * a map_from_entries + element_at fill is O(cells²), Catalyst map
    * lookup being a linear scan).
    *
    * Input hygiene: NULL `v` fills as NODATA; pixels outside the
    * layout grid are dropped (matching the former map-based fill,
    * which never looked such entries up); DUPLICATE (gc, gr) rows
    * fail the job — last-write-wins under a shuffled iterator would
    * be nondeterministic tile content.
    */
  def writePixels(spark: SparkSession, path: String, meta: RasterMeta,
                  pixels: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tc = meta.tileCols
    val tr = meta.tileRows
    val maxGc = tc.toLong * meta.layoutCols
    val maxGr = tr.toLong * meta.layoutRows
    val keyed = pixels
      .filter(col("gc") >= 0 && col("gc") < maxGc && col("gr") >= 0 && col("gr") < maxGr)
      .select((col("gc") / tc).cast("int").as("kc"),
        (col("gr") / tr).cast("int").as("kr"),
        ((col("gr") % tr) * tc + (col("gc") % tc)).cast("int").as("idx"),
        col("v").cast("double").as("v"))
      .as[(Int, Int, Int, Option[Double])]
      .groupByKey { case (kc, kr, _, _) => (kc, kr) }
    def fill[T](key: (Int, Int), it: Iterator[(Int, Int, Int, Option[Double])],
                arr: Array[T], put: (Int, Double) => Unit): (Int, Int, Array[T]) = {
      val seen = new java.util.BitSet(arr.length)
      it.foreach { case (_, _, idx, v) =>
        require(!seen.get(idx),
          s"duplicate pixel at tile ${key}, cell $idx for ${meta.rasterId}")
        seen.set(idx)
        v.foreach(put(idx, _)) // NULL value ⇒ keep the NODATA fill
      }
      (key._1, key._2, arr)
    }
    val out: DataFrame =
      if (meta.isInt)
        keyed.mapGroups { (key: (Int, Int), it) =>
          val arr = Array.fill(tc * tr)(Int.MinValue)
          fill(key, it, arr, (i, v) => arr(i) = v.toInt)
        }.toDF("key_col", "key_row", "tile_i")
          .withColumn("tile_d", lit(null).cast("array<double>"))
      else
        keyed.mapGroups { (key: (Int, Int), it) =>
          val arr = Array.fill(tc * tr)(Double.NaN)
          fill(key, it, arr, (i, v) => arr(i) = v)
        }.toDF("key_col", "key_row", "tile_d")
          .withColumn("tile_i", lit(null).cast("array<int>"))
    appendTiles(out, path, meta.rasterId, meta.zoom)
  }

  /** The tiles table's schema, partition columns last. Reading with it
    * skips Parquet schema inference (one Spark job per open) and
    * partition type inference, which types `raster_id` as a decimal
    * when every id in a catalog looks numeric, so raster `7` would read
    * the tiles of `007` as well.
    */
  val tilesSchema: StructType = StructType.fromDDL(
    "key_col INT, key_row INT, tile_i ARRAY<INT>, tile_d ARRAY<DOUBLE>, raster_id STRING, zoom INT")

  /** Open the tiles table under `path`. This lists its files once, into
    * the relation's file index; every [[layer]] over the returned
    * DataFrame reuses that listing, and sees no tiles written later.
    */
  def open(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(tilesSchema).parquet(s"$path/tiles")

  /** Spatially-pruned layer scan over opened tiles (reference
    * `fetchCroppedLayer`, Utils.scala:241-248): partition-prunes on
    * raster_id/zoom and range-filters the key bbox derived from the AOI
    * envelope — both predicates show up as `PushedFilters`/partition
    * filters in the physical plan. Builds a plan only; runs no job.
    */
  def layer(tiles: DataFrame, meta: RasterMeta, aoi: Geometry): DataFrame = {
    val (c0, c1, r0, r1) = meta.layout.keyRange(aoi)
    tiles
      .filter(col("raster_id") === meta.rasterId && col("zoom") === meta.zoom)
      .filter(col("key_col").between(c0, c1) && col("key_row").between(r0, r1))
      .select(col("key_col"), col("key_row"), col("tile_i"), col("tile_d"))
  }

  /** One-off [[layer]] scan: opens the catalog (one listing) for this
    * layer alone. A long-lived reader opens once and calls [[layer]],
    * as `Service.Catalog` does.
    */
  def readLayer(spark: SparkSession, path: String, meta: RasterMeta,
                aoi: Geometry): DataFrame =
    layer(open(spark, path), meta, aoi)
}
