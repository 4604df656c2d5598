package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.raster.NoData

class MapAlgebraSpec extends AnyFunSuite with SparkSpec {

  test("localCombineInt: cell-wise lambda over aligned tiles, NODATA fill for missing") {
    import spark.implicits._
    val a = Seq((0, 0, Array(1, 2, 3, 4)), (1, 0, Array(5, 6, 7, 8)))
      .toDF("key_col", "key_row", "tile_i")
    val b = Seq((0, 0, Array(10, 20, 30, 40))) // tile (1,0) missing
      .toDF("key_col", "key_row", "tile_i")
    val out = MapAlgebra.localCombineInt(a, b,
      (x, y) => if (x == NoData.INT || y == NoData.INT) -1 else x + y,
      tileCells = 4)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Int](2).toSeq)).toMap
    assert(out((0, 0)) == Seq(11, 22, 33, 44))
    assert(out((1, 0)) == Seq(-1, -1, -1, -1)) // b missing -> NODATA fill
  }

  test("cellHistogram counts every cell value") {
    import spark.implicits._
    val l = Seq((0, 0, Array(1, 1, 2, NoData.INT))).toDF("key_col", "key_row", "tile_i")
    val got = MapAlgebra.cellHistogram(l).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == Map(1 -> 2L, 2 -> 1L, NoData.INT -> 1L))
  }
}
