package perfbench

import graft.GraftSession
import graft.sources.ZonalFixture

/** The benchmark's raster catalog: `ZonalFixture`'s value formulas on
  * the 6×4×512² grid, written under `java.io.tmpdir` (which the runner
  * points into the benchmark's data directory). It holds no random
  * values, so every seed shares it; seeds vary the request geometry.
  */
object Catalog {
  val spec: ZonalFixture.Spec = ZonalFixture.Spec(Inputs.LayoutCols, Inputs.LayoutRows, Inputs.TileSize)

  def path: String = s"${System.getProperty("java.io.tmpdir")}/graft_zonal_" +
    s"${spec.layoutCols}x${spec.layoutRows}x${spec.tileSize}"

  /** Build the catalog unless a complete one is already there. */
  def ensure(): Unit =
    if (!new java.io.File(s"$path/meta.json").exists()) {
      val spark = GraftSession.builder("local[4]", 4).getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      try require(ZonalFixture.ensureSpec(spark, spec) == path, "catalog path mismatch")
      finally spark.stop()
    }
}
