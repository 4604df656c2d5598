package graft

import org.apache.spark.sql.functions.broadcast
import org.scalatest.funsuite.AnyFunSuite

/** The [[PlanCheck]] census on the sf0.001 fixture, enforced by every
  * `sbt test` run: every registered gate, synthetic per-round plan and
  * whole-plan check is `ok` or justified-`bound`, and each census leg
  * is shown to fail a plan that breaks it.
  */
class PlanCheckSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val rows = PlanCheck.census(spark, dir, PlanCheck.names)
    .map(r => r.name -> r).toMap

  private def assertOk(names: String*): Unit = names.foreach { name =>
    val r = rows(name)
    assert(r.status == "ok", s"$name [${r.status}] ${r.detail}")
  }

  test("rewritten global sweeps plan no unpartitioned window (q260/q312/q353/q370/q395/q414)") {
    // q353 constructs eagerly (greedy rounds) but its FINAL plan must
    // still be window-free; its per-round argmax shape is the synthetic
    // q353_kcenter_pick row
    assertOk("q260_auc_eval", "q312_embedding_qa", "q353_kcenter_coreset",
      "q370_curriculum_schedule", "q395_skew_report", "q414_pr_auc",
      "q353_kcenter_pick")
  }

  test("/multi batch plan census is invariant in the shape count (no per-shape fan-out)") {
    assertOk("q34_multi_shared_plan", "q34_zonal_multi")
  }

  test("full-plan census: every gate window-clean or justified-bounded, no stale allowlist entries") {
    assert(SparkEntry.queries.keySet.subsetOf(rows.keySet))
    // the synthetic per-round plans and whole-plan checks
    assert(Set("q152_wedge_join", "q353_kcenter_pick", "q402_ktruss_round",
      "q454_star_round", "q455_semdedup_pairs", "q34_multi_shared_plan",
      "q459_corpus_stages").subsetOf(rows.keySet))
    val bad = rows.values.filter(_.bad).toSeq.sortBy(_.name)
    assert(bad.isEmpty, "\n" +
      bad.map(r => s"${r.name} [${r.status}] ${r.detail}").mkString("\n"))
  }

  test("q431/q434 plan no unpartitioned window (ex-domain-bounded allowlist entries)") {
    assertOk("q431_jonckheere", "q434_gini_split")
  }

  test("cartesian census leg flags a CartesianProduct plan and passes the real suite") {
    // synthetic offender: force a CartesianProduct by cross-joining
    // two frames with the broadcast threshold disabled
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val cart = spark.range(1000).toDF("a").crossJoin(spark.range(1000).toDF("b"))
      val r = PlanCheck.check("synthetic_cartesian", cart)
      assert(r.status == "fail" && r.detail.contains("CartesianProduct"), r)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // and no real plan has one: the full-plan census fails any row
    // with a CartesianProduct, which has no allowlist
    assert(!rows.values.exists(_.detail.contains("CartesianProduct")))
  }

  test("pin census leg flags a plan that lacks its pinned join") {
    // q181's pairs must come from a SortMergeJoin; a forced broadcast
    // join judged under its name lacks the pin
    val bhj = spark.range(1000).toDF("id")
      .join(broadcast(spark.range(1000).toDF("id")), "id")
    val r = PlanCheck.check("q181_prefix_join", bhj)
    assert(r.status == "fail" && r.detail.contains("'SortMergeJoin'"), r)
    assertOk("q181_prefix_join")
  }
}
