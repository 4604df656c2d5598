package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The long-integer fold kernels `graft_dot_long`, `graft_l2sq_long`
  * and `graft_selfdot_long` that `DotProductRewriteRule` installs for
  * the dot / L2² / self-dot spellings, and `graft_maxsim_long`.
  */
class LongKernelsSpec extends AnyFunSuite with SparkSpec {

  // Reference semantics implemented INDEPENDENTLY in Scala (not via
  // Spark, which now rewrites the higher-order spelling to the very
  // kernels under test): zip_with pads the shorter array with nulls,
  // null propagates through * / - / +, long arithmetic is ANSI-exact
  // (values below stay within range; overflow parity is its own test).

  private def refDot(a: Seq[Option[Long]], b: Seq[Option[Long]]): Option[Long] =
    if (a.length != b.length) None
    else a.zip(b).foldLeft(Option(0L)) {
      case (Some(acc), (Some(x), Some(y))) => Some(acc + x * y)
      case _ => None
    }

  private def refL2(a: Seq[Option[Long]], b: Seq[Option[Long]]): Option[Long] =
    if (a.length != b.length) None
    else a.zip(b).foldLeft(Option(0L)) {
      case (Some(acc), (Some(x), Some(y))) => Some(acc + (x - y) * (x - y))
      case _ => None
    }

  private def adversarial: Seq[(Seq[Option[Long]], Seq[Option[Long]])] = {
    val rnd = new scala.util.Random(15)
    val edge = Seq(
      (Seq.empty[Option[Long]], Seq.empty[Option[Long]]),            // empty
      (Seq(Some(1L)), Seq.empty[Option[Long]]),                      // ragged
      (Seq(Some(2L), None), Seq(Some(3L), Some(4L))),                // null elem
      (Seq(Some(-7L), Some(0L), Some(9L)), Seq(Some(7L), None, Some(1L))))
    val rand = (1 to 40).map { _ =>
      val n = rnd.nextInt(6)
      val m = if (rnd.nextInt(4) == 0) rnd.nextInt(6) else n
      def arr(k: Int) = Seq.fill(k)(
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextLong() % 1000L))
      (arr(n), arr(m))
    }
    edge ++ rand
  }

  private def foldDf: DataFrame = {
    import spark.implicits._
    def boxed(xs: Seq[Option[Long]]): Seq[java.lang.Long] =
      xs.map(_.map(java.lang.Long.valueOf).orNull)
    adversarial.zipWithIndex
      .map { case ((a, b), i) => (i.toLong, boxed(a), boxed(b)) }
      .toDF("i", "a", "b")
      // barrier: ConvertToLocalRelation otherwise evaluates projections
      // over the local rows EAGERLY at optimize time, before any custom
      // rule fires — the kernels must be exercised on a real plan
      .repartition(2)
      .select(col("i"), col("a").cast("array<bigint>").as("a"),
        col("b").cast("array<bigint>").as("b"))
  }

  test("rewrite installs the long kernels (plan-visible)") {
    val d = foldDf.select(
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"),
      expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"),
      expr("aggregate(transform(a, x -> x * x), 0L, (acc, v) -> acc + v)"))
    val opt = d.queryExecution.optimizedPlan.toString
    assert(opt.contains("graft_dot_long"), s"dot kernel missing:\n$opt")
    assert(opt.contains("graft_l2sq_long"), s"l2sq kernel missing:\n$opt")
    assert(opt.contains("graft_selfdot_long"), s"selfdot kernel missing:\n$opt")
    // the double spellings keep their kernels too
    val dd = foldDf.select(
      expr("aggregate(zip_with(CAST(a AS ARRAY<DOUBLE>), CAST(b AS ARRAY<DOUBLE>), " +
        "(x, y) -> (x - y) * (x - y)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"))
    assert(dd.queryExecution.optimizedPlan.toString.contains("graft_l2sq"))
  }

  test("long kernels are ANSI-exact: overflow throws like the fold") {
    import spark.implicits._
    val d = Seq((Seq(Long.MaxValue, 2L), Seq(3L, 5L))).toDF("a", "b")
      .repartition(1)
    // the un-rewritten ANSI fold throws SparkArithmeticException; the
    // kernel must throw too (ArithmeticException family), never wrap
    val e = intercept[Exception] {
      d.select(expr("graft_dot_long(a, b)")).collect()
    }
    def rootIsArithmetic(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[ArithmeticException] ||
        rootIsArithmetic(t.getCause))
    assert(rootIsArithmetic(e), s"expected arithmetic overflow, got $e")
    val e2 = intercept[Exception] {
      d.select(expr("graft_l2sq_long(a, CAST(array(-9223372036854775808, 1) " +
        "AS ARRAY<BIGINT>))")).collect()
    }
    assert(rootIsArithmetic(e2), s"expected arithmetic overflow, got $e2")
  }

  test("long dot kernel ≡ zip_with fold semantics (nulls, ragged, wrap)") {
    val rows = foldDf.select(col("i"),
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)")
          .as("dot"),
        expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, " +
          "(acc, v) -> acc + v)").as("l2"),
        expr("aggregate(transform(a, x -> x * x), 0L, (acc, v) -> acc + v)")
          .as("sd"))
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    adversarial.zipWithIndex.foreach { case ((a, b), i) =>
      val (dot, l2, sd) = rows(i.toLong)
      assert(dot == refDot(a, b), s"dot mismatch at $i: $a x $b")
      assert(l2 == refL2(a, b), s"l2 mismatch at $i: $a x $b")
      assert(sd == refDot(a, a), s"selfdot mismatch at $i: $a")
    }
  }

  test("long kernels agree between interpreted eval and codegen") {
    // force both paths: a plain projection is WholeStageCodegen'd; the
    // same expression under a higher-order lambda runs interpreted
    val base = foldDf
    val codegen = base
      .select(col("i"), expr("graft_dot_long(a, b)").as("v")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    val interp = base
      .select(col("i"),
        expr("element_at(transform(array(0), z -> graft_dot_long(a, b)), 1)")
          .as("v")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(codegen == interp)
  }

  test("graft_maxsim_long == the nested higher-order MaxSim chain") {
    import spark.implicits._
    // adversarial grid: normal 8x8, ragged subvector lengths, nulls in
    // subvectors, null subvectors, empty dv, empty qv — plus a random
    // block large enough to run on executors
    val rnd = new scala.util.Random(42)
    def vec(n: Int): Seq[java.lang.Long] =
      Seq.fill(n)(java.lang.Long.valueOf(rnd.nextInt(2001) - 1000L))
    val rows: Seq[(Long, Seq[Seq[java.lang.Long]], Seq[Seq[java.lang.Long]])] =
      (0 until 200).map { i =>
        (i.toLong, Seq.fill(4)(vec(8)), Seq.fill(4)(vec(8)))
      } ++ Seq(
        (1000L, Seq(vec(8), vec(3)), Seq(vec(8), vec(8))), // ragged q
        (1001L, Seq(vec(8)), Seq(vec(3), vec(8))), // ragged d: mismatch skipped by max
        (1002L, Seq(vec(8)), Seq(vec(3), vec(5))), // all dots null -> null
        (1003L, Seq(Seq[java.lang.Long](1L, null, 3L)), Seq(vec(3))), // null elem
        (1004L, Seq(vec(8), null), Seq(vec(8))), // null qs -> null
        (1005L, Seq(vec(8)), Seq.empty), // empty dv -> null
        (1006L, Seq.empty, Seq(vec(8))), // empty qv -> 0
      )
    val df = rows.toDF("id", "qv", "dv").repartition(5)
    val hof =
      """aggregate(
        |  transform(qv, qs ->
        |    array_max(transform(dv, ds ->
        |      aggregate(zip_with(qs, ds, (x, y) -> x * y),
        |                0L, (a, x) -> a + x)))),
        |  0L, (a, x) -> a + x)""".stripMargin
    val got = df.select(col("id"),
      call_function("graft_maxsim_long", col("qv"), col("dv")).as("s"))
      .orderBy("id").collect().toSeq.map(_.toSeq)
    val want = df.select(col("id"), expr(hof).as("s"))
      .orderBy("id").collect().toSeq.map(_.toSeq)
    assert(got == want)
    assert(want.takeRight(5).map(_(1)) == Seq(null, null, null, null, 0L))
  }
}
