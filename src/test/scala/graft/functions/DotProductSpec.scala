package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

class DotProductSpec extends AnyFunSuite with SparkSpec {

  private val naive =
    "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"

  test("optimizer rewrites the higher-order dot product to graft_dot") {
    // id-dependent input so constant folding can't collapse the plan
    val df = spark.range(1)
      .selectExpr("array(cast(id AS DOUBLE) + 1.0D, 2.0D, 3.0D) AS a",
        "array(4.0D, 5.0D, 6.0D) AS b")
      .selectExpr(s"$naive AS d")
    assert(df.queryExecution.optimizedPlan.toString.contains("graft_dot"),
      df.queryExecution.optimizedPlan.toString)
    assert(df.collect().head.getDouble(0) == 32.0)
  }

  test("rewrite is value-preserving incl. null semantics") {
    import spark.implicits._
    val rows = Seq(
      (Array(1.0, 2.0), Array(3.0, 4.0)), // plain
      (Array(0.1, 0.2, 0.3), Array(0.4, 0.5, 0.6))) // fp accumulation
      .toDF("a", "b")
    val viaNative = rows.selectExpr(s"$naive AS d").collect().map(_.getDouble(0))
    // force the un-rewritten path by disabling the rule's session —
    // compute expected with plain Scala folds instead
    val expected = Seq(
      Seq(1.0 * 3, 2.0 * 4).foldLeft(0.0)(_ + _),
      Seq(0.1 * 0.4, 0.2 * 0.5, 0.3 * 0.6).foldLeft(0.0)(_ + _))
    assert(viaNative.toSeq == expected)
    // mismatched lengths → null, like zip_with's null padding
    val weird = spark.sql(
      "SELECT aggregate(zip_with(array(1.0D, 2.0D), array(3.0D), (x, y) -> x * y), " +
        "0.0D, (acc, v) -> acc + v) AS d")
    assert(weird.collect().head.isNullAt(0))
  }

  test("graft_dot is callable from SQL") {
    val r = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .collect().head
    assert(r.getDouble(0) == 32.0)
  }

  test("a non-product aggregate is NOT rewritten") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
      .selectExpr("aggregate(zip_with(a, b, (x, y) -> x + y), 0.0D, (acc, v) -> acc + v) AS s")
    assert(!df.queryExecution.optimizedPlan.toString.contains("graft_dot"))
    assert(df.collect().head.getDouble(0) == 10.0)
  }
}
