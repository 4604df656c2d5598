package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

class TwapSpec extends AnyFunSuite with SparkSpec {

  test("timeWeightedAvg: hand-computed integral; single-event key -> NULL twa") {
    import spark.implicits._
    // key a: v=10 for 2s, v=20 for 6s, last sample unweighted
    //   -> (10*2 + 20*6) / 8 = 17.5 over span 8
    // key b: one event -> no signal, twa NULL, span 0
    val df = Seq(
      ("a", 0.0, 10.0, 1L), ("a", 2.0, 20.0, 2L), ("a", 8.0, 99.0, 3L),
      ("b", 5.0, 42.0, 4L))
      .toDF("k", "ts", "v", "id")
    val got = Twap.timeWeightedAvg(df, "k", "ts", "v", Seq("ts", "id"))
      .collect().map(r => r.getString(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getDouble(1))),
          r.getDouble(2), r.getLong(3))).toMap
    assert(got("a") == ((Some(17.5), 8.0, 3L)))
    assert(got("b") == ((None, 0.0, 1L)))
  }

  test("timeWeightedAvg: constant signal -> twa equals the constant; sample mean differs") {
    import spark.implicits._
    // v=5 held for 100s then a 1s blip of 500: twa ~ 9.9, mean = 170
    val df = Seq(("k", 0.0, 5.0, 1L), ("k", 100.0, 500.0, 2L),
      ("k", 101.0, 5.0, 3L)).toDF("k", "ts", "v", "id")
    val r = Twap.timeWeightedAvg(df, "k", "ts", "v", Seq("ts", "id")).head
    assert(math.abs(r.getDouble(1) - (5.0 * 100 + 500.0) / 101) < 1e-9)
  }
}
