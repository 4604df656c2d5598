package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** The plan census: graft's structural evidence for its scale claims
  * (SURVEY §3.2) — candidates arrive through equi-joins, never a
  * cartesian product, and no base table is sorted in one task. One
  * census row per registered gate, per synthetic plan
  * ([[syntheticPlans]]) and per whole-plan check ([[planChecks]]);
  * `PlanCheckSpec` asserts on every `sbt test` run that none is bad.
  * {{{
  * sbt "runMain graft.PlanCheck q10_pruned_scan"  # print formatted plans
  * sbt "runMain graft.PlanCheck --census [names]"  # the census; exit 1 on a bad row
  * }}}
  * Both read the tables under `SPARK_GRAFT_SF_DIR`.
  */
object PlanCheck {

  /** Strings a plan must contain, on top of the census legs every row
    * gets, keyed by gate or synthetic-plan name.
    */
  private val pins: Map[String, Seq[String]] = Map(
    // the catalog scan pushes its key-range filter into parquet
    "q10_pruned_scan" -> Seq("PushedFilters"),
    // PPJoin: candidates from a prefix-token equi-join + length filter
    "q181_prefix_join" -> Seq("SortMergeJoin"),
    // wedge join at the lower-degree endpoint, closed by edge equi-join
    "q347_clustering_coeff" -> Seq("SortMergeJoin"),
    // q152's registered gate scans the materialized EdgePlane, small
    // enough at fixture scale that Catalyst (correctly) broadcasts it;
    // the at-scale shuffle shape is pinned on the synthetic plan
    "q152_wedge_join" -> Seq("SortMergeJoin"),
    // the wedge self-join stays SortMergeJoin; the closure probe is a
    // ShuffledHashJoin: both sides shuffle on the edge key, but the
    // 35×-edge-count wedge stream is not sorted. A BroadcastHashJoin
    // closure measured 101 s vs 61 s at 10× the sf0.01 scale (the probe
    // cache-misses a ~300 MB hashed relation)
    "q402_ktruss_round" -> Seq("SortMergeJoin", "ShuffledHashJoin"),
    // the 128-row hash ring is a broadcast fan-out
    "q409_hash_ring" -> Seq("BroadcastHashJoin"),
    // bottom-k sample, DSIR top-25 and the k-center argmax are
    // per-partition top-k merges, never a single-task global sort
    "q429_bottomk_sample" -> Seq("TakeOrderedAndProject"),
    "q456_dsir_select" -> Seq("TakeOrderedAndProject"),
    "q353_kcenter_pick" -> Seq("TakeOrderedAndProject"))

  /** Census allowlist: queries whose physical plan DOES contain an
    * unpartitioned WindowExec, each justified by the bound on the rows
    * reaching that window — ranking a bounded aggregate/digest, never
    * sorting a base table in one task. A new gate that windows an
    * unbounded input fails the census until its plan is fixed or a
    * justification is argued here.
    */
  private val boundedWindowJustified: Map[String, String] = Map(
    "q227_daily_actives" -> "cumulative over the ≤|days| per-day rollup",
    "q299_zipf_screen" -> "re-rank after orderBy().limit(20)",
    "q305_survival_km" -> "risk-set/cumulative over the ≤|days| churn rollup",
    "q322_rolling_corr" -> "7-day rolling frames over the ≤|days| daily rollup",
    "q335_ma_detrend" -> "centred 7-day MA over the ≤|days| daily rollup",
    "q359_kruskal_wallis" -> "rank scan of the ≤~600-value round(value) histogram",
    "q383_successive_halving" -> "ranks the 8-arm aggregate each round",
    "q390_sax_paa" -> "breakpoint scan of the ≤types×weeks PAA histogram",
    "q392_largest_remainder" -> "remainder rank over the ≤|sources| share rollup",
    "q415_t_closeness" -> "CDF steps over the fixed 10-bin decile grid",
    "q417_cramer_von_mises" -> "ECDF over the bounded round(value·100) domain histogram",
    "q422_budget_waterfill" -> "water-level prefix over the ≤|sources| cap rollup",
    "q429_bottomk_sample" -> "re-ranks ≤8 rows after TakeOrderedAndProject limits",
    "q435_knee_point" -> "chord distance over the ≤|sources| token rollup",
    "q448_neyman_alloc" -> "remainder rank over the ≤|sources| moment rollup",
    "q69_vocab" -> "token_id re-rank after orderBy().limit(maxSize=200)")

  /** One census verdict: `status` ∈ ok | bound | stale | fail | err.
    * `stale`: the query sits on the [[boundedWindowJustified]]
    * allowlist but its plan no longer contains an unpartitioned
    * window — the justification has rotted and must be deleted,
    * otherwise a later reintroduction would be silently auto-excused.
    * A CartesianProduct or a missing pin has no allowlist: it always
    * fails.
    */
  final case class CensusRow(name: String, status: String, detail: String) {
    def bad: Boolean = status == "fail" || status == "err" || status == "stale"
  }

  /** Every name the census covers. */
  def names: Seq[String] =
    (SparkEntry.queries.keys ++ syntheticPlans.keys ++ planChecks.keys).toSeq.sorted

  /** Census each named plan. Pure: returns the verdicts; the CLI prints
    * them, `PlanCheckSpec` asserts none are bad — so a new gate with a
    * cartesian or an unbounded global window fails `sbt test`. Run on
    * the sf0.001 fixture so eager constructions stay cheap; eager gates
    * are censused on their final plan, their per-round shapes on
    * [[syntheticPlans]].
    */
  def census(spark: SparkSession, dir: String,
             names: Seq[String]): Seq[CensusRow] =
    names.map { name =>
      try planChecks.get(name) match {
        case Some(chk) =>
          val problems = chk(spark, dir)
          CensusRow(name, if (problems.isEmpty) "ok" else "fail", problems.mkString("; "))
        case None => check(name, plan(name)(spark, dir))
      } catch { case e: Exception =>
        CensusRow(name, "err", s"${e.getClass.getSimpleName} ${e.getMessage}")
      }
    }

  /** The census legs on `df`, judged as the plan of `name`: no
    * CartesianProduct, no unpartitioned window unless allowlisted (and
    * an allowlist entry without one is stale), every pinned string.
    */
  private[graft] def check(name: String, df: DataFrame): CensusRow = {
    val allow = boundedWindowJustified.get(name)
    val windows = unpartitionedWindows(df)
    lazy val formatted = df.queryExecution.explainString(FormattedMode)
    val fails = cartesianProducts(df) ++
      pins.getOrElse(name, Nil).filterNot(formatted.contains)
        .map(p => s"plan lacks pinned '$p'") ++
      (if (allow.isEmpty) windows else Nil)
    (fails, allow) match {
      case (Seq(), None) => CensusRow(name, "ok", "")
      case (Seq(), Some(why)) if windows.isEmpty => CensusRow(name, "stale",
        s"allowlisted ('$why') but the plan has no unpartitioned window — delete the entry")
      case (Seq(), Some(why)) => CensusRow(name, "bound", why)
      case _ => CensusRow(name, "fail", fails.mkString("; "))
    }
  }

  private def cartesianProducts(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect { case _: CartesianProductExec =>
      "CartesianProduct join (all-pairs shuffle)"
    }

  private def unpartitionedWindows(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        "unpartitioned WindowExec (single-task global sort)"
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        "unpartitioned WindowGroupLimitExec (single-task global sort)"
    }

  /** Lazy plan providers for gates whose registered query constructs
    * eagerly (iterative rounds, checkpoints): the per-round plan is
    * rebuilt here without materialization and censused under its own
    * name.
    */
  private val syntheticPlans: Map[String, (SparkSession, String) => DataFrame] = Map(
    // one k-truss round over q402's co-purchase edge build:
    // Graph.ktrussRoundPlan is the lazy wedge+closure+support join chain
    "q402_ktruss_round" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val li = Tables.load(s, dir, "lineitem")
      val po = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val e = po.join(po.withColumnsRenamed(Map("p" -> "q")), Seq("ok"))
        .filter(col("p") < col("q")).select("p", "q").distinct()
      pipeline.Graph.ktrussRoundPlan(e, "p", "q", k = 4)
    }),
    // the SemDeDup pair stage of q455 rebuilt lazily over a
    // members-shaped frame (the join shape is independent of how the
    // cluster column was assigned): pairs must arrive through a
    // (cluster, cell) equi-join; at fixture scale Spark broadcasts the
    // tiny sides, so no join strategy is pinned
    "q455_semdedup_pairs" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, expr, lit, pmod}
      val v = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("id"),
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) " +
            "* 1000.0 + 0.5) AS BIGINT))").as("q"))
        .withColumn("cluster", pmod(col("id"), lit(8L)))
        .withColumn("n2",
          expr("aggregate(transform(q, x -> x * x), 0L, (a, e) -> a + e)"))
      pipeline.Similarity.semDedupDropped(v, 1, 4)
    }),
    // q152's wedge self-join + closure over the inline co-purchase
    // build (what the registered gate ran before the EdgePlane
    // materialization): the join estimate there is large, so the pin
    // checks the at-scale shape rather than the tiny-fixture plan
    "q152_wedge_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val items = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val edges = items.as("a").join(items.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .select(col("a.p").as("ua"), col("b.p").as("ub"))
      pipeline.Graph.triangleStats(edges, "ua", "ub")
    }),
    // one round of q353's greedy k-center: the maximin argmax
    "q353_kcenter_pick" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{broadcast, col, expr}
      val pts = Tables.load(s, dir, "embeddings").select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
          .as("v"))
      val c1 = pts.filter(col("vec_id") === 0L)
        .select(col("v").as("cv"))
      pts.crossJoin(broadcast(c1))
        .select(col("vec_id"), col("v"),
          expr("aggregate(zip_with(v, cv, (x, y) -> (x - y) * (x - y)), " +
            "CAST(0 AS BIGINT), (acc, e) -> acc + e)").as("mind"))
        .orderBy(col("mind").desc, col("vec_id")).limit(1)
    }),
    // one of q454's star-contraction rounds: vertex-keyed aggregates
    // and equi-joins
    "q454_star_round" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val edges = pipeline.Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, numHashes = 12, bands = 4)
      pipeline.Graph.starRoundPlan(edges, "doc_a", "doc_b")
    }))

  private def plan(name: String): (SparkSession, String) => DataFrame =
    syntheticPlans.getOrElse(name, SparkEntry.queries(name))

  /** Whole-plan checks that need more than one plan; each returns the
    * problems found.
    */
  private val planChecks: Map[String, (SparkSession, String) => Seq[String]] =
    Map("q34_multi_shared_plan" -> (zonalMultiCheck(_, _)),
      "q459_corpus_stages" -> (corpusPipelineCheck(_, _)))

  /** The reference-flagship `/multi` batch plan, pinned structurally
    * on q34's own plan at 2×2 and 8×4 shapes: the physical-plan node
    * census (node name → count) must be IDENTICAL, since shapes ride
    * the kernel's shape array inside one zonal pass — adding shapes
    * must never add scans, joins or unions (a per-shape rescan would
    * multiply scan nodes 8× here and 1000× on a real watershed batch).
    * Every op rides that one pass too: exactly one `ZonalPlaneExec`
    * and no `Union`. The other census legs run on the q34 gate's row.
    */
  private def zonalMultiCheck(s: SparkSession, dir: String): Seq[String] = {
    def nodes(nx: Int, ny: Int): Map[String, Int] =
      gates.RasterGates.qZonalMulti(s, dir, nx, ny).queryExecution.sparkPlan
        .collect { case n => n.nodeName }
        .groupBy(identity).map { case (k, v) => k -> v.size }
    val small = nodes(2, 2)
    val big = nodes(8, 4)
    val drift =
      if (big != small)
        Seq("multi plan census varies with shape count (per-shape " +
          s"fan-out): 4-shape=$small vs 32-shape=$big")
      else Nil
    val onePass =
      if (big.get("ZonalPlaneExec").contains(1) && !big.keys.exists(_.contains("Union"))) Nil
      else Seq(s"expected exactly one ZonalPlaneExec and no Union: $big")
    drift ++ onePass
  }

  /** The q459 corpus-build composite's four survivor stages, censused
    * LAZILY (the gate exposes the stage transforms un-checkpointed): the
    * eager gate reads each stage's predecessor from a localCheckpoint,
    * so its own plan cannot show the stage plans.
    */
  private def corpusPipelineCheck(s: SparkSession, dir: String): Seq[String] = {
    import org.apache.spark.sql.functions._
    val all = graft.Tables.load(s, dir, "documents")
    val input = all.filter(col("doc_id") % 100 =!= 0)
      .select(col("doc_id"), col("text"))
    val bench = all.filter(col("doc_id") % 100 === 0)
    val s1 = gates.DedupGates.corpusStageExact(input)
    Seq(
      "exact" -> s1,
      "neardup" -> gates.DedupGates.corpusStageNearDup(s1),
      "quality" -> gates.DedupGates.corpusStageQuality(input),
      "contamination" -> gates.DedupGates.corpusStageContamination(input, bench))
      .map { case (stage, df) => check(stage, df) }
      .filter(_.bad).map(r => s"stage ${r.name}: ${r.detail}")
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    if (args.headOption.contains("--census")) {
      val rows = census(spark, dir, if (args.length > 1) args.drop(1).toSeq else names)
      rows.foreach { row =>
        println(f"CENSUS ${row.status.toUpperCase}%-6s${row.name}" +
          (if (row.detail.nonEmpty) s": ${row.detail}" else ""))
      }
      spark.stop()
      if (rows.exists(_.bad)) sys.exit(1)
    } else {
      // eager gates already run jobs while the DataFrame is built, so
      // their printed plan is mostly a scan of materialized state; they
      // are skipped by default and still explainable by name
      val shown =
        if (args.nonEmpty) args.toSeq
        else SparkEntry.queries.keys.toSeq.sorted.filterNot(SparkEntry.eagerGates)
      shown.foreach { name =>
        println(s"===== $name")
        println(plan(name)(spark, dir).queryExecution.explainString(FormattedMode))
      }
      spark.stop()
    }
  }
}
