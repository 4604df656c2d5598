package graft

import org.apache.spark.sql.DataFrame

/** Round-9 structural pins, checked on the sf0.001 fixture so `sbt
  * test` enforces them every round (PlanCheck `--assert`/`--census`
  * check the same properties but only when invoked explicitly):
  *
  *  1. the ex-global-window gates (q312/q353/q370/q395, plus the
  *     q260/q414 sweeps they were modeled on) must never plan an
  *     unpartitioned WindowExec — the single-task global sort that
  *     dies first at 100 TB;
  *  2. the reference-flagship `/multi` batch must stay ONE unioned
  *     plan whose physical node census is INVARIANT in the shape
  *     count — shapes ride the broadcast mask plane, so adding shapes
  *     can never add scans, joins, or unions (checked by
  *     [[PlanCheck.zonalMultiCheck]]).
  */
class Round9Spec extends SparkSpec {
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
}
