package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Structural plan pins on the sf0.001 fixture, enforced by every
  * `sbt test` run ([[PlanCheck]] `--assert`/`--census` check the same
  * properties when invoked explicitly):
  *
  *  1. the full-plan census: every registered gate is window-clean or
  *     justified-bounded, and a stale allowlist entry fails, so the
  *     allowlist can only shrink;
  *  2. the rewritten global sweeps (q260/q312/q353/q370/q395/q414) and
  *     the ex-allowlist gates q431/q434 plan no unpartitioned
  *     WindowExec, the single-task global sort;
  *  3. the `/multi` batch stays ONE unioned plan whose node census is
  *     invariant in the shape count ([[PlanCheck.zonalMultiCheck]]);
  *  4. the cartesian leg flags a CartesianProduct plan.
  */
class PlanCheckSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def unpartitionedWindows(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty =>
        "unpartitioned WindowExec"
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
          if w.partitionSpec.isEmpty =>
        "unpartitioned WindowGroupLimitExec"
    }

  test("rewritten global sweeps plan no unpartitioned window (q260/q312/q353/q370/q395/q414)") {
    // q353 constructs eagerly (greedy rounds) but its FINAL plan must
    // still be window-free; its per-round argmax shape is pinned by
    // PlanCheck's synthetic q353_kcenter_pick assert.
    Seq("q260_auc_eval", "q312_embedding_qa", "q353_kcenter_coreset",
      "q370_curriculum_schedule", "q395_skew_report", "q414_pr_auc")
      .foreach { name =>
        val hits = unpartitionedWindows(SparkEntry.queries(name)(spark, dir))
        assert(hits.isEmpty, s"$name: ${hits.mkString("; ")}")
      }
  }

  test("/multi batch plan census is invariant in the shape count (no per-shape fan-out)") {
    val problems = PlanCheck.zonalMultiCheck(spark, dir)
    assert(problems.isEmpty, problems.mkString("; "))
  }

  test("full-plan census: every gate window-clean or justified-bounded, no stale allowlist entries") {
    val rows = PlanCheck.census(spark, dir, SparkEntry.queries.keys.toSeq.sorted)
    assert(rows.size == SparkEntry.queries.size)
    val bad = rows.filter(_.bad)
    assert(bad.isEmpty, "\n" +
      bad.map(r => s"${r.name} [${r.status}] ${r.detail}").mkString("\n"))
  }

  test("q431/q434 plan no unpartitioned window (ex-domain-bounded allowlist entries)") {
    Seq("q431_jonckheere", "q434_gini_split").foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val hits = df.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w.nodeName
      }
      assert(hits.isEmpty, s"$name: ${hits.mkString("; ")}")
    }
  }

  test("cartesian census leg flags a CartesianProduct plan and passes the real suite") {
    // synthetic offender: force a CartesianProduct by cross-joining
    // two frames with the broadcast threshold disabled
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val big = spark.range(1000).toDF("a")
      val cart = big.crossJoin(spark.range(1000).toDF("b"))
      val hits = cart.queryExecution.sparkPlan.collect {
        case _: org.apache.spark.sql.execution.joins.CartesianProductExec => 1
      }
      assert(hits.nonEmpty,
        "expected the synthetic plan to contain CartesianProductExec")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // and the real suite is clean: the full-plan census covers all
    // gates; here we just pin that the allowlist stays empty so any
    // future cartesian needs an argued bound, not a silent excuse
    // (the census() sweep itself asserts per-gate).
  }
}
