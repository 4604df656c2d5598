package org.apache.spark.sql.graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.SparkSpec

/** An externally-built session (no `spark.sql.extensions` static conf)
  * must gain the graft functions through `GraftSession.tune` — every
  * pipeline hash key is `graft_md5hi60`-based, so without this a host
  * that builds its own session loses ALL dedup/sampling operators.
  */
class GraftInstallSpec extends AnyFunSuite with SparkSpec {

  test("tune installs functions + rewrite rule on a bare session, idempotently") {
    val s2 = spark.newSession()
    // simulate the externally-built session: strip the graft functions
    // the parent's static conf injected
    Seq("graft_dot", "graft_md5hi60", "graft_md5lo60")
      .foreach(n => s2.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
    intercept[Exception](s2.sql("SELECT graft_md5hi60('a')").collect())

    graft.GraftSession.tune(s2)
    assert(s2.sql("SELECT graft_md5hi60('abc') AS h").collect().head.getLong(0) ==
      java.lang.Long.parseUnsignedLong("900150983cd24fb", 16))
    assert(s2.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect().head.getDouble(0) == 11.0)
    // pipeline operators resolve on the tuned session
    import s2.implicits._
    val sigs = graft.pipeline.Dedup.minhashSignatures(
      Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text"), "doc_id", "text")
    assert(sigs.count() == 1)

    // this session was built WITH the spark.sql.extensions static conf
    // (newSession inherits it), so the rule is already injected: tune
    // must NOT add a second active copy via extraOptimizations…
    graft.GraftSession.tune(s2)
    assert(s2.experimental.extraOptimizations.count(_ == DotProductRewriteRule) == 0)
    assert(!s2.experimental.extraStrategies.contains(_root_.graft.operators.ZonalPlaneStrategy))
    // …and the rewrite still fires (via the injected copy)
    val naive = s2.range(1)
      .selectExpr("array(cast(id AS DOUBLE), 2.0D) AS a", "array(3.0D, 4.0D) AS b")
      .selectExpr("aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v) AS d")
    assert(naive.queryExecution.optimizedPlan.toString.contains("graft_dot"))
  }
}
