package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

class SkylineSpec extends AnyFunSuite with SparkSpec {

  /** O(n²) reference dominance check. */
  private def refFront(pts: Seq[(Double, Double)]): Set[(Double, Double)] = {
    val d = pts.distinct
    d.filter { p =>
      !d.exists(q => q._1 <= p._1 && q._2 <= p._2 &&
        (q._1 < p._1 || q._2 < p._2))
    }.toSet
  }

  test("paretoFront2D: known staircase with ties and duplicates") {
    import spark.implicits._
    // front: (1,9), (3,4), (6,1). (3,5) loses at equal x; (4,4) loses
    // to (3,4) at equal y / smaller x; duplicates collapse
    val pts = Seq((1.0, 9.0), (3.0, 4.0), (3.0, 5.0), (4.0, 4.0),
      (6.0, 1.0), (6.0, 1.0), (7.0, 2.0))
    val got = Skyline.paretoFront2D(pts.toDF("x", "y"), "x", "y")
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(got == Set((1.0, 9.0), (3.0, 4.0), (6.0, 1.0)))
    assert(got == refFront(pts))
  }

  test("paretoFront2D property: matches O(n^2) reference on seeded random sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813)
    for (trial <- 0 until 3) {
      val pts = Seq.fill(400)((rnd.nextInt(60).toDouble, rnd.nextInt(60).toDouble))
      val got = Skyline.paretoFront2D(
        pts.toDF("x", "y").repartition(4 + trial * 6), "x", "y")
        .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
      assert(got == refFront(pts), s"trial $trial")
    }
  }

  test("withPrefixMin: exclusive running min across range partitions") {
    import spark.implicits._
    val vals = Seq(5.0, 3.0, 8.0, 3.0, 1.0, 9.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val got = graft.pipeline.Prefix
      .withPrefixMin(vals.toDF("k", "v").repartition(5), Seq("k"), "v",
        partitions = 3)
      .orderBy("k").collect()
      .map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    assert(got.toSeq == Seq(None, Some(5.0), Some(3.0), Some(3.0),
      Some(3.0), Some(1.0)))
  }
}
