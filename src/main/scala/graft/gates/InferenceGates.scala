package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Similarity

import GateSupport._

/** Inference gates: hypothesis tests, effect sizes, multiple-testing
  * corrections and experiment estimators written directly as SQL
  * aggregates.
  */
private[graft] object InferenceGates extends GateFamily {

  /** Decile lift table — the model-evaluation staple: rank events by
    * value within each type, cut into deciles by PURE INTEGER
    * arithmetic (decile = (rn−1)·10 div n, no FP anywhere in the
    * cut), and report each decile's outcome rate (props.k ≥ 50) and
    * lift vs the type's base rate as exact-rational micro divisions.
    */
  private def qDecileLift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
      col("event_id"),
      expr("CAST(CAST(get_json_object(props, '$.k') AS BIGINT) >= 50 AS LONG)").as("y"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("cents"), col("event_id"))
    val ranked = e.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("event_type"))))
      .withColumn("decile", expr("CAST((rn - 1) * 10 div n AS BIGINT)"))
    ranked.groupBy("event_type", "decile")
      .agg(count(lit(1)).as("n_d"), sum(col("y")).as("k_d"))
      .join(broadcast(e.groupBy("event_type")
        .agg(count(lit(1)).as("n_t"), sum(col("y")).as("k_t"))), "event_type")
      .select(col("event_type"), col("decile"), col("n_d"), col("k_d"),
        expr("CAST(floor(CAST(k_d AS DOUBLE) / n_d * 1000000.0 + 0.5) AS BIGINT)")
          .as("rate_micro"),
        expr("CAST(floor((CAST(k_d AS DOUBLE) / n_d) / (CAST(k_t AS DOUBLE) / n_t) * 1000000.0 + 0.5) AS BIGINT)")
          .as("lift_micro"))
      .orderBy("event_type", "decile")
  }
  // q164: the decile cut is pure integer arithmetic ((rn−1)·10 div
  // n) — no FP in the cut; rates/lifts are exact-rational chains
  gate("q164_decile_lift")(qDecileLift(_, _))(
    """WITH e AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
      |         event_id,
      |         (CAST(json_extract(props, '$.k') AS BIGINT) >= 50)::BIGINT AS y
      |  FROM events),
      |r AS (
      |  SELECT event_type, y,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY cents, event_id)::BIGINT AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type)::BIGINT AS n
      |  FROM e),
      |d AS (
      |  SELECT event_type, ((rn - 1) * 10 // n)::BIGINT AS decile, y FROM r),
      |g AS (
      |  SELECT event_type, decile, COUNT(*)::BIGINT AS n_d, SUM(y)::BIGINT AS k_d
      |  FROM d GROUP BY 1, 2),
      |t AS (SELECT event_type, COUNT(*)::BIGINT AS n_t, SUM(y)::BIGINT AS k_t
      |      FROM e GROUP BY 1)
      |SELECT g.event_type, g.decile, g.n_d, g.k_d,
      |  CAST(floor(CAST(k_d AS DOUBLE) / n_d * 1000000.0 + 0.5) AS BIGINT) AS rate_micro,
      |  CAST(floor((CAST(k_d AS DOUBLE) / n_d) / (CAST(k_t AS DOUBLE) / n_t) * 1000000.0 + 0.5) AS BIGINT) AS lift_micro
      |FROM g JOIN t USING (event_type)
      |ORDER BY event_type, decile""".stripMargin)

  /** Welch's t-test between event types on value cents — the A/B-test
    * surface: means and unbiased variances derive from EXACT integer
    * co-moments (q160's discipline), the t statistic is one
    * deterministic chain with IEEE-exact sqrt. All 10 type pairs.
    */
  private def qWelchT(s: SparkSession, dir: String): DataFrame = {
    val stats = Tables.events(s, dir)
      .select(col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("q"))
    stats.as("a").join(stats.as("b"),
        col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("ta"), col("b.event_type").as("tb"),
        col("a.n").as("na"), col("b.n").as("nb"),
        col("a.s").as("sa"), col("b.s").as("sb"),
        col("a.q").as("qa"), col("b.q").as("qb"))
      .select(col("ta"), col("tb"), col("na"), col("nb"),
        expr("CAST(floor((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb) / " +
          "sqrt(((CAST(na AS DOUBLE) * qa - CAST(sa AS DOUBLE) * sa) / (CAST(na AS DOUBLE) * na * (na - 1.0))) + " +
          "((CAST(nb AS DOUBLE) * qb - CAST(sb AS DOUBLE) * sb) / (CAST(nb AS DOUBLE) * nb * (nb - 1.0)))) " +
          "* 1000000.0 + 0.5) AS BIGINT)").as("t_micro"))
      .orderBy("ta", "tb")
  }
  // q165: exact co-moments per type, identical Welch chain
  gate("q165_welch_t")(qWelchT(_, _))(
    """WITH s AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n,
      |         SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS s,
      |         SUM(CAST(round(value * 100) AS BIGINT) * CAST(round(value * 100) AS BIGINT))::BIGINT AS q
      |  FROM events GROUP BY 1)
      |SELECT a.event_type AS ta, b.event_type AS tb, a.n AS na, b.n AS nb,
      |  CAST(floor((CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n) /
      |    sqrt(((CAST(a.n AS DOUBLE) * a.q - CAST(a.s AS DOUBLE) * a.s) / (CAST(a.n AS DOUBLE) * a.n * (a.n - 1.0))) +
      |         ((CAST(b.n AS DOUBLE) * b.q - CAST(b.s AS DOUBLE) * b.s) / (CAST(b.n AS DOUBLE) * b.n * (b.n - 1.0))))
      |    * 1000000.0 + 0.5) AS BIGINT) AS t_micro
      |FROM s a JOIN s b ON a.event_type < b.event_type
      |ORDER BY ta, tb""".stripMargin)

  /** NDCG@10 retrieval eval — the ranking-quality metric run over any
    * retriever's output (here q20's brute cosine top-10 on the q219
    * split; relevance = label match). The rank discounts 1/log₂(r+1)
    * are pinned as 10 integer micro constants shared with the oracle,
    * so the gate never depends on cross-engine `log` agreement; DCG,
    * ideal DCG (relevant-count prefix of the same constants) and the
    * final micro ratio are all exact integers.
    */
  private def qNdcgEval(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val labels = emb.select(col("vec_id"), col("label").cast("long").as("label"))
    val disc = ndcgDiscounts.zipWithIndex
      .map { case (d, i) => s"WHEN ${i + 1} THEN ${d}L" }
      .mkString("CASE rank ", " ", " END")
    val knn = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") % 10 =!= 0), emb.filter(col("vec_id") % 10 === 0),
      "vec_id", "embedding", k = 10)
    val perQuery = knn
      .join(labels.withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("label", "n_label"), "neighbor_id")
      .join(labels.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("label", "q_label"), "query_id")
      .withColumn("rel", when(col("n_label") === col("q_label"), 1L).otherwise(0L))
      .groupBy("query_id")
      .agg(sum(col("rel")).as("n_rel"),
        sum(expr(s"rel * ($disc)")).as("dcg_micro"))
    val ideal = ndcgDiscounts.scanLeft(0L)(_ + _).zipWithIndex
      .map { case (c, n) => s"WHEN $n THEN ${c}L" }
      .mkString("CASE n_rel ", " ", " END")
    perQuery
      .withColumn("idcg_micro", expr(ideal))
      .withColumn("ndcg_micro",
        expr("CASE WHEN idcg_micro > 0 THEN dcg_micro * 1000000 DIV idcg_micro ELSE 0 END"))
      .orderBy("query_id")
  }
  // q222: q219's retrieval chain at k=10; the SAME pinned integer
  // discount constants on both sides — no runtime log anywhere
  gate("q222_ndcg_eval")(qNdcgEval(_, _))(
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id, label, v FROM e WHERE vec_id % 10 = 0),
       |c AS (SELECT vec_id, label, v FROM e WHERE vec_id % 10 <> 0),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS rel,
       |         ROUND(list_dot_product(q.v, c.v)
       |               / (sqrt(list_dot_product(q.v, q.v))
       |                  * sqrt(list_dot_product(c.v, c.v))), 6) AS sim
       |  FROM q JOIN c ON q.vec_id <> c.vec_id),
       |knn AS (
       |  SELECT query_id, rel,
       |         ${ndcgDiscountSql("rank")} AS disc
       |  FROM (
       |    SELECT query_id, rel,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY sim DESC, neighbor_id) AS rank
       |    FROM scored)
       |  WHERE rank <= 10),
       |pq AS (
       |  SELECT query_id, SUM(rel)::BIGINT AS n_rel,
       |         SUM(rel * disc)::BIGINT AS dcg_micro
       |  FROM knn GROUP BY 1),
       |wi AS (
       |  SELECT query_id, n_rel, dcg_micro,
       |         (${ndcgIdealSql("n_rel")})::BIGINT AS idcg_micro
       |  FROM pq)
       |SELECT query_id, n_rel, dcg_micro, idcg_micro,
       |       (CASE WHEN idcg_micro > 0
       |             THEN dcg_micro * 1000000 // idcg_micro
       |             ELSE 0 END)::BIGINT AS ndcg_micro
       |FROM wi ORDER BY query_id""".stripMargin)

  /** round(10⁶ / log₂(r+1)) for ranks 1..10 — shared verbatim with the
    * q222 oracle so no runtime transcendental is ever compared.
    */
  private val ndcgDiscounts: Seq[Long] = Seq(1000000L, 630930L, 500000L,
    430677L, 386853L, 356207L, 333333L, 315465L, 301030L, 289065L)

  /** Pinball (quantile) loss at q = 0.9 — the eval metric for
    * quantile forecasts: against the per-type floor-mean predictor,
    * loss×10 = 9·(y−ŷ)⁺ + 1·(ŷ−y)⁺, exact integers end to end. A
    * model that under-predicts the tail pays 9× — the gate shows the
    * asymmetry on real residuals.
    */
  private def qPinballLoss(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("y"))
    val pred = e.groupBy("event_type")
      .agg(expr("CAST(sum(y) DIV count(1) AS BIGINT)").as("yhat"))
    e.join(broadcast(pred), "event_type")
      .withColumn("pb10",
        when(col("y") >= col("yhat"), (col("y") - col("yhat")) * 9L)
          .otherwise(col("yhat") - col("y")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), max(col("yhat")).as("yhat"),
        sum(col("pb10")).as("sum_pinball_x10"))
      .orderBy("event_type")
  }
  // q282: identical integer asymmetric loss
  gate("q282_pinball_loss")(qPinballLoss(_, _))(
    """WITH e AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS y FROM events),
      |p AS (SELECT event_type, SUM(y) // COUNT(*) AS yhat FROM e GROUP BY 1)
      |SELECT e.event_type, COUNT(*)::BIGINT AS n, MAX(yhat)::BIGINT AS yhat,
      |       SUM(CASE WHEN y >= yhat THEN (y - yhat) * 9
      |                ELSE yhat - y END)::BIGINT AS sum_pinball_x10
      |FROM e JOIN p USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Simpson's-paradox screen: urgent-vs-low average order value,
    * overall and within each nation — the reversal flag is an exact
    * integer cross-product sign test (sum_a·n_b vs sum_b·n_a on
    * DECIMAL(38,0)), no division anywhere. The aggregation-bias gate
    * every BI rollup should run before trusting a topline comparison.
    */
  private def qSimpsonParadox(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").join(t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nationkey"),
        col("o_orderpriority").as("prio"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .filter(col("prio").isin("1-URGENT", "5-LOW"))
      .withColumn("is_a", (col("prio") === "1-URGENT").cast("long"))
    def signed(df: DataFrame, keys: Seq[String]) = df
      .groupBy(keys.map(col): _*)
      .agg(sum(col("is_a")).as("n_a"),
        sum(col("is_a") * col("cents")).as("sum_a"),
        sum(lit(1L) - col("is_a")).as("n_b"),
        sum((lit(1L) - col("is_a")) * col("cents")).as("sum_b"))
      .withColumn("sign", expr(
        """CASE WHEN CAST(sum_a AS DECIMAL(38,0)) * n_b >
          |          CAST(sum_b AS DECIMAL(38,0)) * n_a THEN 1
          |     WHEN CAST(sum_a AS DECIMAL(38,0)) * n_b <
          |          CAST(sum_b AS DECIMAL(38,0)) * n_a THEN -1
          |     ELSE 0 END""".stripMargin))
    val overall = signed(o, Seq.empty).select(col("sign").as("overall_sign"))
    signed(o, Seq("nationkey"))
      .crossJoin(broadcast(overall))
      .select(col("nationkey"), col("n_a"), col("sum_a"), col("n_b"),
        col("sum_b"), col("sign").as("within_sign"), col("overall_sign"),
        (col("sign") * col("overall_sign") === -1).as("reversed"))
      .orderBy("nationkey")
  }
  // q332: reversal = exact integer cross-product sign test on
  // HUGEINT — no division anywhere
  gate("q332_simpson_paradox")(qSimpsonParadox(_, _))(
    """WITH o AS (
      |  SELECT c_nationkey AS nationkey, o_orderpriority AS prio,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |         CAST(o_orderpriority = '1-URGENT' AS BIGINT) AS is_a
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |per AS (
      |  SELECT nationkey, SUM(is_a)::BIGINT AS n_a,
      |         SUM(is_a * cents)::BIGINT AS sum_a,
      |         SUM(1 - is_a)::BIGINT AS n_b,
      |         SUM((1 - is_a) * cents)::BIGINT AS sum_b
      |  FROM o GROUP BY 1),
      |tot AS (
      |  SELECT SUM(is_a)::BIGINT AS n_a, SUM(is_a * cents)::BIGINT AS sum_a,
      |         SUM(1 - is_a)::BIGINT AS n_b,
      |         SUM((1 - is_a) * cents)::BIGINT AS sum_b
      |  FROM o),
      |sg AS (
      |  SELECT nationkey, n_a, sum_a, n_b, sum_b,
      |    CASE WHEN sum_a::HUGEINT * n_b > sum_b::HUGEINT * n_a THEN 1
      |         WHEN sum_a::HUGEINT * n_b < sum_b::HUGEINT * n_a THEN -1
      |         ELSE 0 END AS within_sign
      |  FROM per),
      |osg AS (
      |  SELECT CASE WHEN sum_a::HUGEINT * n_b > sum_b::HUGEINT * n_a THEN 1
      |              WHEN sum_a::HUGEINT * n_b < sum_b::HUGEINT * n_a THEN -1
      |              ELSE 0 END AS overall_sign
      |  FROM tot)
      |SELECT nationkey, n_a, sum_a, n_b, sum_b, within_sign, overall_sign,
      |       (within_sign * overall_sign = -1) AS reversed
      |FROM sg CROSS JOIN osg ORDER BY nationkey""".stripMargin)

  /** CUPED variance reduction (Deng et al., WSDM 2013) per event
    * type: unit = user, pre-period covariate x = Σ round(value) over
    * days 1–15, outcome y = Σ over days 16–30. Emits
    * θ = cov(x,y)/var(x) and the variance-reduction factor
    * ρ² = cov²/(var(x)·var(y)) — the fraction of outcome variance the
    * covariate removes — in exact integer micros: the n·Σxy − ΣxΣy
    * moment forms stay in BIGINT, the scaled divisions widen to
    * DECIMAL(38,0)/HUGEINT (the q341 convention), θ uses the +10⁹
    * in-division offset (covariance can be negative; Spark DIV
    * truncates, DuckDB // floors — identical only over positives).
    *
    * Scale shape: one shuffle to user×type units, one moment agg.
    */
  private def qCuped(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_type"), col("user_id"),
      expr("CAST(round(value) AS BIGINT)").as("v"),
      expr("CASE WHEN dayofmonth(ts) <= 15 THEN 1 ELSE 0 END").as("pre"))
    val ux = e.groupBy("event_type", "user_id")
      .agg(sum(expr("v * pre")).as("x"), sum(expr("v * (1 - pre)")).as("y"))
    ux.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(expr("x * x")).as("sxx"),
        sum(expr("x * y")).as("sxy"), sum(expr("y * y")).as("syy"))
      .select(col("event_type"), col("n_users"),
        expr("""CASE WHEN n_users * sxx - sx * sx > 0
               THEN CAST((CAST(n_users * sxy - sx * sy AS DECIMAL(38,0)) * 1000000
                     + CAST(n_users * sxx - sx * sx AS DECIMAL(38,0)) * 1000000000)
                    DIV (n_users * sxx - sx * sx) AS BIGINT) - 1000000000
               ELSE NULL END""").as("theta_micro"),
        expr("""CASE WHEN n_users * sxx - sx * sx > 0
                     AND n_users * syy - sy * sy > 0
               THEN CAST(CAST(n_users * sxy - sx * sy AS DECIMAL(38,0))
                    * CAST(n_users * sxy - sx * sy AS DECIMAL(38,0)) * 1000000
                    DIV (CAST(n_users * sxx - sx * sx AS DECIMAL(38,0))
                         * CAST(n_users * syy - sy * sy AS DECIMAL(38,0))) AS BIGINT)
               ELSE NULL END""").as("rho2_micro"))
      .orderBy("event_type")
  }
  // q343: CUPED θ and ρ² in exact integer micros — moment forms in
  // BIGINT, scaled divisions on HUGEINT, +1e9 offset for θ's sign
  gate("q343_cuped")(qCuped(_, _))(
    """WITH e AS (
      |  SELECT event_type, user_id, CAST(round(value) AS BIGINT) AS v,
      |         CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS pre
      |  FROM events),
      |ux AS (
      |  SELECT event_type, user_id, SUM(v * pre)::BIGINT AS x,
      |         SUM(v * (1 - pre))::BIGINT AS y
      |  FROM e GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n_users,
      |         SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
      |         SUM(x * x)::BIGINT AS sxx, SUM(x * y)::BIGINT AS sxy,
      |         SUM(y * y)::BIGINT AS syy
      |  FROM ux GROUP BY 1)
      |SELECT event_type, n_users,
      |       CASE WHEN n_users * sxx - sx * sx > 0
      |       THEN (((n_users * sxy - sx * sy)::HUGEINT * 1000000
      |              + (n_users * sxx - sx * sx)::HUGEINT * 1000000000)
      |             // (n_users * sxx - sx * sx) - 1000000000)::BIGINT
      |       ELSE NULL END AS theta_micro,
      |       CASE WHEN n_users * sxx - sx * sx > 0
      |            AND n_users * syy - sy * sy > 0
      |       THEN ((n_users * sxy - sx * sy)::HUGEINT
      |             * (n_users * sxy - sx * sy) * 1000000
      |             // ((n_users * sxx - sx * sx)::HUGEINT
      |                * (n_users * syy - sy * sy)))::BIGINT
      |       ELSE NULL END AS rho2_micro
      |FROM m ORDER BY event_type""".stripMargin)

  /** Deterministic bootstrap CI of the mean document token count per
    * language: 100 resamples where doc d's multiplicity in resample b
    * is hash60("17:d:b") mod 3 ∈ {0,1,2} (mean 1 — a seeded integer
    * stand-in for the multinomial draw, reproducible on any engine),
    * each resample's weighted mean in exact milli-tokens, the 90% CI
    * as the 5th/95th ceil-rank order statistics over the 100 means.
    *
    * Scale shape: the ×100 explode is map-only (no shuffle until the
    * (lang,b) agg — 100·|langs| groups); the percentile window runs
    * over 100 rows per language.
    */
  private def qBootstrapCi(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t(s, dir, "documents").select(col("lang"), col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("tok"))
    val res = d.select(col("lang"), col("doc_id"), col("tok"),
        explode(expr("sequence(0, 99)")).as("b"))
      .withColumn("w", expr("graft_md5hi60(concat('17:', " +
        "CAST(doc_id AS STRING), ':', CAST(b AS STRING))) % 3"))
      .groupBy("lang", "b")
      .agg(sum(expr("w * tok")).as("swt"), sum(col("w")).as("sw"))
      .filter(col("sw") > 0L)
      .select(col("lang"), col("b"),
        expr("(swt * 1000) DIV sw").as("mean_milli"))
    val w = Window.partitionBy(col("lang")).orderBy(col("mean_milli"), col("b"))
    val ci = res.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("nb", count(lit(1)).over(Window.partitionBy(col("lang"))))
      .groupBy("lang")
      .agg(max(col("nb")).as("n_resamples"),
        max(when(col("rn") === expr("(nb * 5 + 99) DIV 100"), col("mean_milli")))
          .as("ci_lo_milli"),
        max(when(col("rn") === expr("(nb * 95 + 99) DIV 100"), col("mean_milli")))
          .as("ci_hi_milli"))
    d.groupBy("lang").agg(count(lit(1)).as("n_docs"),
        expr("(SUM(tok) * 1000) DIV COUNT(*)").as("mean_milli"))
      .join(ci, "lang")
      .select(col("lang"), col("n_docs"), col("mean_milli"),
        col("n_resamples"), col("ci_lo_milli"), col("ci_hi_milli"))
      .orderBy("lang")
  }
  // q344: hash-multiplicity bootstrap — w(d,b) = md5-hash60 mod 3,
  // 100 resample means in milli-tokens, 5th/95th ceil-rank CI
  gate("q344_bootstrap_ci")(qBootstrapCi(_, _))(
    """WITH d AS (
      |  SELECT lang, doc_id, len(string_split(text, ' '))::BIGINT AS tok
      |  FROM documents),
      |res AS (
      |  SELECT lang, b,
      |         SUM((('0x' || substr(md5('17:' || doc_id || ':' || b), 1, 15))::BIGINT
      |              % 3) * tok)::BIGINT AS swt,
      |         SUM(('0x' || substr(md5('17:' || doc_id || ':' || b), 1, 15))::BIGINT
      |             % 3)::BIGINT AS sw
      |  FROM d, generate_series(0, 99) t(b) GROUP BY 1, 2),
      |mm AS (
      |  SELECT lang, b, (swt * 1000 // sw)::BIGINT AS mean_milli
      |  FROM res WHERE sw > 0),
      |r AS (
      |  SELECT lang, mean_milli,
      |         row_number() OVER (PARTITION BY lang ORDER BY mean_milli, b) AS rn,
      |         COUNT(*) OVER (PARTITION BY lang) AS nb
      |  FROM mm),
      |ci AS (
      |  SELECT lang, MAX(nb)::BIGINT AS n_resamples,
      |         MAX(CASE WHEN rn = (nb * 5 + 99) // 100 THEN mean_milli END)::BIGINT
      |           AS ci_lo_milli,
      |         MAX(CASE WHEN rn = (nb * 95 + 99) // 100 THEN mean_milli END)::BIGINT
      |           AS ci_hi_milli
      |  FROM r GROUP BY 1),
      |base AS (
      |  SELECT lang, COUNT(*)::BIGINT AS n_docs,
      |         (SUM(tok) * 1000 // COUNT(*))::BIGINT AS mean_milli
      |  FROM d GROUP BY 1)
      |SELECT lang, n_docs, mean_milli, n_resamples, ci_lo_milli, ci_hi_milli
      |FROM base JOIN ci USING (lang) ORDER BY lang""".stripMargin)

  /** Shapley-value marketing attribution (Shapley 1953; the method
    * behind data-driven attribution): players = the four non-purchase
    * channels a user touches strictly before their first purchase,
    * v(S) = converted users whose touched set ⊆ S (computed for all
    * 16 masks by a subset-sum over the 16-row mask-count table), and
    * φ_i = Σ_{S∌i} |S|!(3−|S|)!/4! · (v(S∪i) − v(S)) — the factorial
    * weights cleared to /24 so φ is emitted as an exact integer micro
    * (·10⁶ DIV 24). Complements the heuristic U-shaped/positional/
    * time-decay attribution gates with the axiomatic one.
    *
    * Scale shape: users collapse to a 16-row mask histogram; the
    * subset/Shapley algebra is a bounded 16×16 self-join.
    */
  private def qShapleyAttribution(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tu"))
    val firstP = e.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min(col("tu")).as("pt"))
    val masks = e.join(firstP, "user_id").filter(col("tu") < col("pt"))
      .filter(col("event_type") =!= "purchase")
      .select(col("user_id"),
        expr("""CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
               WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END""").as("bit"))
      .groupBy("user_id")
      .agg(expr("CAST(sum(DISTINCT bit) AS INT)").as("mask"))
    // converted users with zero prior channel events carry mask 0
    val cm = firstP.join(masks, Seq("user_id"), "left")
      .select(coalesce(col("mask"), lit(0)).as("mask"))
      .groupBy("mask").agg(count(lit(1)).as("c"))
    val allS = s.range(16).select(col("id").cast("int").as("sm"))
    val v = broadcast(allS).join(broadcast(cm),
        expr("(mask & sm) = mask"), "left")
      .groupBy("sm").agg(coalesce(sum(col("c")), lit(0L)).as("v"))
    val channels = s.createDataFrame(Seq((1, "click"), (2, "error"),
      (4, "signup"), (8, "view"))).toDF("bit", "channel")
    val wS = broadcast(channels).join(broadcast(v), expr("(sm & bit) = 0"))
      .select(col("channel"), col("bit"), col("sm"), col("v").as("v0"),
        expr("""CASE bit_count(sm) WHEN 0 THEN 6 WHEN 1 THEN 2
               WHEN 2 THEN 2 WHEN 3 THEN 6 END""").as("w"))
      .join(broadcast(v).select(col("sm").as("smi"), col("v").as("v1")),
        expr("smi = (sm | bit)"))
    wS.groupBy("channel")
      .agg(expr("CAST(sum(w * (v1 - v0)) * 1000000 DIV 24 AS BIGINT)")
        .as("phi_micro"))
      .orderBy("channel")
  }
  // q346: Shapley attribution — v(S) by subset-sum over the 16-row
  // mask histogram; factorial weights cleared to //24
  gate("q346_shapley_attribution")(qShapleyAttribution(_, _))(
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS tu FROM events),
      |fp AS (
      |  SELECT user_id, MIN(tu) AS pt FROM e
      |  WHERE event_type = 'purchase' GROUP BY 1),
      |mk AS (
      |  SELECT f.user_id, COALESCE(m.mask, 0) AS mask
      |  FROM fp f LEFT JOIN (
      |    SELECT e.user_id,
      |           SUM(DISTINCT CASE e.event_type WHEN 'click' THEN 1
      |             WHEN 'error' THEN 2 WHEN 'signup' THEN 4
      |             WHEN 'view' THEN 8 ELSE 0 END)::INT AS mask
      |    FROM e JOIN fp ON fp.user_id = e.user_id
      |    WHERE e.tu < fp.pt AND e.event_type <> 'purchase'
      |    GROUP BY 1) m ON m.user_id = f.user_id),
      |cm AS (SELECT mask, COUNT(*)::BIGINT AS c FROM mk GROUP BY 1),
      |alls AS (SELECT range::INT AS sm FROM range(16)),
      |v AS (
      |  SELECT sm, COALESCE(SUM(c), 0)::BIGINT AS v
      |  FROM alls LEFT JOIN cm ON (cm.mask & alls.sm) = cm.mask
      |  GROUP BY 1),
      |ch AS (SELECT * FROM (VALUES (1, 'click'), (2, 'error'),
      |         (4, 'signup'), (8, 'view')) t(bit, channel)),
      |terms AS (
      |  SELECT ch.channel,
      |         CASE bit_count(v0.sm) WHEN 0 THEN 6 WHEN 1 THEN 2
      |           WHEN 2 THEN 2 WHEN 3 THEN 6 END AS w,
      |         v0.v AS v0, v1.v AS v1
      |  FROM ch JOIN v v0 ON (v0.sm & ch.bit) = 0
      |       JOIN v v1 ON v1.sm = (v0.sm | ch.bit))
      |SELECT channel,
      |       (SUM(w * (v1 - v0)) * 1000000 // 24)::BIGINT AS phi_micro
      |FROM terms GROUP BY 1 ORDER BY channel""".stripMargin)

  /** Wilcoxon signed-rank (1945) on the paired per-user pre/post sums
    * (the q343 CUPED units): per event type, d = post − pre over users
    * with d ≠ 0, |d| ranked with the tie-corrected doubled average
    * rank from the |d| HISTOGRAM (the q317 pattern — never a global
    * row sort), W⁺/W⁻ as doubled rank sums and the matched-pairs
    * rank-biserial effect size (W⁺−W⁻)/(W⁺+W⁻) in micros (division
    * via the +2·10⁶ offset so both engines' integer division agree on
    * negative effects).
    */
  private def qWilcoxonSigned(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("event_type"), col("user_id"),
      expr("CAST(round(value) AS BIGINT)").as("v"),
      expr("CASE WHEN dayofmonth(ts) <= 15 THEN 1 ELSE 0 END").as("pre"))
    val d = e.groupBy("event_type", "user_id")
      .agg(expr("sum(v * (1 - pre)) - sum(v * pre)").as("d"))
      .filter(col("d") =!= 0L)
      .select(col("event_type"), col("d"), abs(col("d")).as("ad"))
    val hist = d.groupBy("event_type", "ad").agg(
        count(lit(1)).as("nv"),
        sum(when(col("d") > 0L, 1L).otherwise(0L)).as("npos"))
      .withColumn("cumb", coalesce(sum(col("nv")).over(
        Window.partitionBy(col("event_type")).orderBy(col("ad"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("r2", expr("2 * cumb + nv + 1"))
    hist.groupBy("event_type")
      .agg(sum(col("nv")).as("n_nonzero"),
        sum(expr("npos * r2")).as("w_plus_x2"),
        sum(expr("(nv - npos) * r2")).as("w_minus_x2"))
      .withColumn("rb_micro",
        expr("""((w_plus_x2 - w_minus_x2) * 1000000
               + (w_plus_x2 + w_minus_x2) * 2000000)
               DIV (w_plus_x2 + w_minus_x2) - 2000000"""))
      .orderBy("event_type")
  }
  // q348: Wilcoxon signed-rank from the |d| histogram; doubled
  // average ranks; effect size via the +2e6 sign offset
  gate("q348_wilcoxon_signed")(qWilcoxonSigned(_, _))(
    """WITH e AS (
      |  SELECT event_type, user_id, CAST(round(value) AS BIGINT) AS v,
      |         CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS pre
      |  FROM events),
      |d AS (
      |  SELECT event_type,
      |         SUM(v * (1 - pre)) - SUM(v * pre) AS d,
      |         abs(SUM(v * (1 - pre)) - SUM(v * pre)) AS ad
      |  FROM e GROUP BY event_type, user_id
      |  HAVING SUM(v * (1 - pre)) - SUM(v * pre) <> 0),
      |hist AS (
      |  SELECT event_type, ad, COUNT(*)::BIGINT AS nv,
      |         SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT AS npos,
      |         COALESCE(SUM(COUNT(*)) OVER (PARTITION BY event_type
      |           ORDER BY ad ROWS BETWEEN UNBOUNDED PRECEDING
      |           AND 1 PRECEDING), 0)::BIGINT AS cumb
      |  FROM d GROUP BY event_type, ad),
      |agg AS (
      |  SELECT event_type, SUM(nv)::BIGINT AS n_nonzero,
      |         SUM(npos * (2 * cumb + nv + 1))::BIGINT AS w_plus_x2,
      |         SUM((nv - npos) * (2 * cumb + nv + 1))::BIGINT AS w_minus_x2
      |  FROM hist GROUP BY 1)
      |SELECT event_type, n_nonzero, w_plus_x2, w_minus_x2,
      |       (((w_plus_x2 - w_minus_x2) * 1000000
      |         + (w_plus_x2 + w_minus_x2) * 2000000)
      |        // (w_plus_x2 + w_minus_x2) - 2000000)::BIGINT AS rb_micro
      |FROM agg ORDER BY event_type""".stripMargin)

  /** One-way ANOVA F (Fisher 1925) across the five event types on
    * v = round(value): exact integer group sums and sums-of-squares,
    * SSB/SSW via the Σ S_g²/n_g − S²/n identity with engine-agreed
    * integer DIV at each reduction, and F in micros staged as
    * (ssb·10⁶ DIV ssw)·(n−k) DIV (k−1) so no intermediate leaves
    * Long range at sf1 (the q348 overflow discipline). All DIV
    * operands are non-negative (SSB floored at 0), so DuckDB's floor
    * `//` and Spark's truncating `DIV` agree.
    */
  private def qAnovaF(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_type"),
      expr("CAST(round(value) AS BIGINT)").as("v"))
    val g = e.groupBy("event_type").agg(
      count(lit(1)).as("n_g"), sum(col("v")).as("s_g"),
      sum(expr("v * v")).as("q_g"))
    val glob = g.agg(
        sum(col("n_g")).as("n"), sum(col("s_g")).as("s"),
        sum(col("q_g")).as("q"), count(lit(1)).as("k"),
        sum(expr("(s_g * s_g) DIV n_g")).as("sb"))
      .withColumn("ssb", expr("greatest(sb - (s * s) DIV n, 0L)"))
      .withColumn("ssw", expr("q - sb"))
      .withColumn("f_micro",
        expr("(((ssb * 1000000) DIV ssw) * (n - k)) DIV (k - 1)"))
      .select("n", "k", "ssb", "ssw", "f_micro")
    g.crossJoin(broadcast(glob))
      .select(col("event_type"), col("n_g"), col("s_g"), col("q_g"),
        col("n"), col("k"), col("ssb"), col("ssw"), col("f_micro"))
      .orderBy("event_type")
  }
  // q358: identical integer staging — Σ S_g²/n_g − S²/n with //,
  // F micros as ((ssb·1e6)//ssw·(n−k))//(k−1)
  gate("q358_anova_f")(qAnovaF(_, _))(
    """WITH e AS (
      |  SELECT event_type, CAST(round(value) AS BIGINT) AS v FROM events),
      |g AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n_g, SUM(v)::BIGINT AS s_g,
      |         SUM(v * v)::BIGINT AS q_g
      |  FROM e GROUP BY 1),
      |gl AS (
      |  SELECT SUM(n_g)::BIGINT AS n, SUM(s_g)::BIGINT AS s,
      |         SUM(q_g)::BIGINT AS q, COUNT(*)::BIGINT AS k,
      |         SUM((s_g * s_g) // n_g)::BIGINT AS sb
      |  FROM g),
      |gf AS (
      |  SELECT n, k,
      |         CAST(greatest(sb - (s * s) // n, 0) AS BIGINT) AS ssb,
      |         (q - sb)::BIGINT AS ssw
      |  FROM gl)
      |SELECT g.event_type, g.n_g, g.s_g, g.q_g, gf.n, gf.k, gf.ssb, gf.ssw,
      |       ((((gf.ssb * 1000000) // gf.ssw) * (gf.n - gf.k))
      |         // (gf.k - 1))::BIGINT AS f_micro
      |FROM g, gf ORDER BY 1""".stripMargin)

  /** Kruskal–Wallis H (1952) — the k-group extension of q317's
    * Mann–Whitney — on v = round(value) by event type. Ranks come
    * from the global value HISTOGRAM with tie-corrected doubled
    * average ranks (2·cumb + nv + 1, the q317/q348 pattern — never a
    * global row sort); H uses the mean-rank-deviation form
    * 3/(N(N+1))·Σ n_g·(r̄2_g − (N+1))² with r̄2 the doubled mean rank,
    * quantized to millis through a pre-shrunk divisor so Σ n_g·dev²
    * (≤ ~4·10¹⁵ at sf1) never multiplies past Long. Tie correction is
    * applied as permille (1000·T DIV (N³−N) with T = Σ(nv³−nv) — the
    * only form whose intermediate 1000·T ≤ 10¹⁸ even if one value
    * dominated the corpus).
    */
  private def qKruskalWallis(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("event_type"),
      expr("CAST(round(value) AS BIGINT)").as("v"))
    // ≤ ~600 distinct rounded values: the unpartitioned window is a
    // histogram scan, not a data sort
    val hist = e.groupBy("v").agg(count(lit(1)).as("nv"))
      .withColumn("cumb", coalesce(sum(col("nv")).over(
        Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("r2", expr("2 * cumb + nv + 1"))
    val grp = e.groupBy("event_type", "v").agg(count(lit(1)).as("nvg"))
      .join(broadcast(hist.select("v", "r2")), Seq("v"))
      .groupBy("event_type")
      .agg(sum(col("nvg")).as("n_g"), sum(expr("nvg * r2")).as("r2_g"))
    val nt = hist.agg(sum(col("nv")).as("n"),
      sum(expr("nv * nv * nv - nv")).as("t"))
    val dev = grp.crossJoin(broadcast(nt))
      .withColumn("r2bar", expr("r2_g DIV n_g"))
      .withColumn("devsq",
        expr("(r2bar - (n + 1)) * (r2bar - (n + 1))"))
    val h = dev.agg(sum(expr("n_g * devsq")).as("sdev"),
        max(col("n")).as("n"), max(col("t")).as("t"))
      .withColumn("h_milli",
        expr("3 * (sdev DIV ((n * (n + 1)) DIV 1000))"))
      .withColumn("t_permille", expr("(1000 * t) DIV (n * n * n - n)"))
      .withColumn("h_adj_milli",
        expr("(h_milli * 1000) DIV greatest(1000 - t_permille, 1L)"))
      .select("h_milli", "t_permille", "h_adj_milli")
    dev.select(col("event_type"), col("n_g"), col("r2_g"), col("r2bar"))
      .crossJoin(broadcast(h))
      .orderBy("event_type")
  }
  // q359: histogram doubled average ranks (q317 pattern), H in
  // millis via the pre-shrunk divisor, tie correction in permille
  gate("q359_kruskal_wallis")(qKruskalWallis(_, _))(
    """WITH e AS (
      |  SELECT event_type, CAST(round(value) AS BIGINT) AS v FROM events),
      |hist AS (
      |  SELECT v, COUNT(*)::BIGINT AS nv,
      |         COALESCE(SUM(COUNT(*)) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |           0)::BIGINT AS cumb
      |  FROM e GROUP BY v),
      |grp AS (
      |  SELECT e.event_type, SUM(1)::BIGINT AS n_g,
      |         SUM(2 * h.cumb + h.nv + 1)::BIGINT AS r2_g
      |  FROM e JOIN hist h ON e.v = h.v GROUP BY 1),
      |nt AS (
      |  SELECT SUM(nv)::BIGINT AS n,
      |         SUM(nv * nv * nv - nv)::BIGINT AS t
      |  FROM hist),
      |dev AS (
      |  SELECT g.event_type, g.n_g, g.r2_g, (g.r2_g // g.n_g)::BIGINT AS r2bar,
      |         ((g.r2_g // g.n_g) - (nt.n + 1))
      |           * ((g.r2_g // g.n_g) - (nt.n + 1)) AS devsq,
      |         nt.n, nt.t
      |  FROM grp g, nt),
      |h AS (
      |  SELECT (3 * (SUM(n_g * devsq) // ((MAX(n) * (MAX(n) + 1)) // 1000)))::BIGINT
      |           AS h_milli,
      |         ((1000 * MAX(t)) // (MAX(n) * MAX(n) * MAX(n) - MAX(n)))::BIGINT
      |           AS t_permille
      |  FROM dev)
      |SELECT d.event_type, d.n_g, d.r2_g, d.r2bar, h.h_milli, h.t_permille,
      |       ((h.h_milli * 1000)
      |         // greatest(1000 - h.t_permille, 1))::BIGINT AS h_adj_milli
      |FROM dev d, h ORDER BY 1""".stripMargin)

  /** McNemar's test (1947) for paired binary outcomes: did each
    * user's "made a purchase" flag flip between the first half of the
    * month (days ≤ 15) and the second? The 2×2 concordance table
    * (a=1→1, b=1→0, c=0→1, d=0→0) and the continuity-corrected
    * statistic (|b−c|−1)²/(b+c) in micros — discordant counts are the
    * only inputs, so everything is one user-keyed agg + one global
    * agg, integer end to end.
    */
  private def qMcnemar(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val u = e.groupBy("user_id").agg(
      max(when(col("event_type") === "purchase"
        && expr("dayofmonth(ts) <= 15"), 1L).otherwise(0L)).as("pre"),
      max(when(col("event_type") === "purchase"
        && expr("dayofmonth(ts) > 15"), 1L).otherwise(0L)).as("post"))
    u.agg(
        sum(expr("pre * post")).as("a"),
        sum(expr("pre * (1 - post)")).as("b"),
        sum(expr("(1 - pre) * post")).as("c"),
        sum(expr("(1 - pre) * (1 - post)")).as("d"))
      .withColumn("chi2_micro", expr(
        """((abs(b - c) - 1) * (abs(b - c) - 1) * 1000000)
          | DIV greatest(b + c, 1L)""".stripMargin.replace("\n", " ")))
  }
  // q366: 2×2 concordance counts, continuity-corrected statistic
  gate("q366_mcnemar")(qMcnemar(_, _))(
    """WITH u AS (
      |  SELECT user_id,
      |         MAX(CASE WHEN event_type = 'purchase' AND day(ts) <= 15
      |             THEN 1 ELSE 0 END)::BIGINT AS pre,
      |         MAX(CASE WHEN event_type = 'purchase' AND day(ts) > 15
      |             THEN 1 ELSE 0 END)::BIGINT AS post
      |  FROM events GROUP BY 1),
      |t AS (
      |  SELECT SUM(pre * post)::BIGINT AS a,
      |         SUM(pre * (1 - post))::BIGINT AS b,
      |         SUM((1 - pre) * post)::BIGINT AS c,
      |         SUM((1 - pre) * (1 - post))::BIGINT AS d
      |  FROM u)
      |SELECT a, b, c, d,
      |       (((abs(b - c) - 1) * (abs(b - c) - 1) * 1000000)
      |         // greatest(b + c, 1))::BIGINT AS chi2_micro
      |FROM t""".stripMargin)

  /** Squared Cohen's d (1969) effect-size matrix over the event-type
    * pairs: d² = (μ_a − μ_b)²/s_p² with mean differences in millis
    * and the pooled variance in micros, all from one pass of exact
    * integer group sums (the q358 moments) self-joined over the
    * bounded 5×5 type grid. Squaring avoids the cross-engine sqrt the
    * q139 post-mortem banned; sign is recoverable from md_milli.
    */
  private def qCohensD(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(s, dir)
      .select(col("event_type"), expr("CAST(round(value) AS BIGINT)").as("v"))
      .groupBy("event_type").agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(expr("v * v")).as("q"))
      .withColumn("ss", expr("q - (s * s) DIV n"))
    val a = g.select(col("event_type").as("type_a"), col("n").as("n_a"),
      col("s").as("s_a"), col("ss").as("ss_a"))
    val b = g.select(col("event_type").as("type_b"), col("n").as("n_b"),
      col("s").as("s_b"), col("ss").as("ss_b"))
    a.join(broadcast(b), col("type_a") < col("type_b"))
      .withColumn("md_milli",
        expr("(1000 * s_a) DIV n_a - (1000 * s_b) DIV n_b"))
      .withColumn("sp2_micro",
        expr("(1000000 * (ss_a + ss_b)) DIV (n_a + n_b - 2)"))
      .withColumn("d2_micro",
        expr("(md_milli * md_milli * 1000000) DIV greatest(sp2_micro, 1L)"))
      .select("type_a", "type_b", "n_a", "n_b", "md_milli", "sp2_micro",
        "d2_micro")
      .orderBy("type_a", "type_b")
  }
  // q369: d² from integer moments over the bounded type-pair grid
  gate("q369_cohens_d")(qCohensD(_, _))(
    """WITH g AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n,
      |         SUM(CAST(round(value) AS BIGINT))::BIGINT AS s,
      |         SUM(CAST(round(value) AS BIGINT)
      |             * CAST(round(value) AS BIGINT))::BIGINT AS q
      |  FROM events GROUP BY 1),
      |gs AS (SELECT event_type, n, s, (q - (s * s) // n)::BIGINT AS ss FROM g),
      |p AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |         a.n AS n_a, b.n AS n_b,
      |         ((1000 * a.s) // a.n - (1000 * b.s) // b.n)::BIGINT AS md_milli,
      |         ((1000000 * (a.ss + b.ss)) // (a.n + b.n - 2))::BIGINT AS sp2_micro
      |  FROM gs a JOIN gs b ON a.event_type < b.event_type)
      |SELECT type_a, type_b, n_a, n_b, md_milli, sp2_micro,
      |       ((md_milli * md_milli * 1000000)
      |         // greatest(sp2_micro, 1))::BIGINT AS d2_micro
      |FROM p ORDER BY 1, 2""".stripMargin)

  /** Brown–Forsythe (1974) robust variance-homogeneity test — the
    * median-centred Levene: per event type take the exact LOWER
    * median of v = round(value) from the value histogram (position
    * (n_g+1) DIV 2 against the cumulative count — no sort, no
    * percentile_approx), deviations z = |v − med|, then the one-way
    * ANOVA F over z with q358's exact-integer SSB/SSW staging. The
    * homoscedasticity companion to q358's mean test.
    */
  private def qBrownForsythe(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("event_type"),
      expr("CAST(round(value) AS BIGINT)").as("v"))
    val hist = e.groupBy("event_type", "v").agg(count(lit(1)).as("nv"))
      .withColumn("cumb", coalesce(sum(col("nv")).over(
        Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val ng = e.groupBy("event_type").agg(count(lit(1)).as("n_tot"))
    val med = hist.join(ng, Seq("event_type"))
      .withColumn("pos", expr("(n_tot + 1) DIV 2"))
      .filter(col("cumb") < col("pos") && col("pos") <= col("cumb") + col("nv"))
      .select(col("event_type"), col("v").as("med"))
    val z = e.join(med, Seq("event_type"))
      .select(col("event_type"), abs(col("v") - col("med")).as("z"))
    val g = z.groupBy("event_type").agg(count(lit(1)).as("n_g"),
      sum(col("z")).as("s_g"), sum(expr("z * z")).as("q_g"))
    val glob = g.agg(sum(col("n_g")).as("n"), sum(col("s_g")).as("s"),
        sum(col("q_g")).as("q"), count(lit(1)).as("k"),
        sum(expr("(s_g * s_g) DIV n_g")).as("sb"))
      .withColumn("ssb", expr("greatest(sb - (s * s) DIV n, 0L)"))
      .withColumn("ssw", expr("q - sb"))
      .withColumn("w_micro",
        expr("(((ssb * 1000000) DIV ssw) * (n - k)) DIV (k - 1)"))
      .select("n", "k", "ssb", "ssw", "w_micro")
    g.join(med, Seq("event_type")).crossJoin(broadcast(glob))
      .select(col("event_type"), col("n_g"), col("med"), col("s_g"),
        col("q_g"), col("ssb"), col("ssw"), col("w_micro"))
      .orderBy("event_type")
  }
  // q372: exact lower median from the histogram, then the q358
  // integer F staging on |v − med|
  gate("q372_brown_forsythe")(qBrownForsythe(_, _))(
    """WITH e AS (
      |  SELECT event_type, CAST(round(value) AS BIGINT) AS v FROM events),
      |hist AS (
      |  SELECT event_type, v, COUNT(*)::BIGINT AS nv,
      |         COALESCE(SUM(COUNT(*)) OVER (PARTITION BY event_type
      |           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |           AND 1 PRECEDING), 0)::BIGINT AS cumb
      |  FROM e GROUP BY 1, 2),
      |ng AS (SELECT event_type, COUNT(*)::BIGINT AS n_tot FROM e GROUP BY 1),
      |med AS (
      |  SELECT h.event_type, h.v AS med
      |  FROM hist h JOIN ng ON h.event_type = ng.event_type
      |  WHERE h.cumb < (ng.n_tot + 1) // 2
      |    AND (ng.n_tot + 1) // 2 <= h.cumb + h.nv),
      |z AS (
      |  SELECT e.event_type, abs(e.v - m.med) AS z, m.med
      |  FROM e JOIN med m ON e.event_type = m.event_type),
      |g AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n_g, MAX(med)::BIGINT AS med,
      |         SUM(z)::BIGINT AS s_g, SUM(z * z)::BIGINT AS q_g
      |  FROM z GROUP BY 1),
      |gl AS (
      |  SELECT SUM(n_g)::BIGINT AS n, SUM(s_g)::BIGINT AS s,
      |         SUM(q_g)::BIGINT AS q, COUNT(*)::BIGINT AS k,
      |         SUM((s_g * s_g) // n_g)::BIGINT AS sb
      |  FROM g),
      |gf AS (
      |  SELECT n, k,
      |         CAST(greatest(sb - (s * s) // n, 0) AS BIGINT) AS ssb,
      |         (q - sb)::BIGINT AS ssw
      |  FROM gl)
      |SELECT g.event_type, g.n_g, g.med, g.s_g, g.q_g, gf.ssb, gf.ssw,
      |       ((((gf.ssb * 1000000) // gf.ssw) * (gf.n - gf.k))
      |         // (gf.k - 1))::BIGINT AS w_micro
      |FROM g, gf ORDER BY 1""".stripMargin)

  /** Sample-ratio-mismatch guardrail for the q65 hash-split
    * experiment: users dealt into 10 arms by the engine-portable md5
    * chain, χ² goodness-of-fit against the uniform expectation in
    * exact integer micros — (10·O_b − n)²·10⁶ DIV (10·n) per arm (the
    * common-denominator form that never materializes n/10), summed.
    * The failure it guards: a biased assignment hash silently
    * invalidating every downstream A/B readout.
    */
  private def qSrmCheck(s: SparkSession, dir: String): DataFrame = {
    val u = Tables.events(s, dir).select(col("user_id")).distinct()
      .withColumn("arm",
        expr("conv(substring(md5(concat('srm:', user_id)), 1, 15), 16, 10) % 10")
          .cast("long"))
    val o = u.groupBy("arm").agg(count(lit(1)).as("o"))
    val n = u.agg(count(lit(1)).as("n"))
    o.crossJoin(broadcast(n))
      .withColumn("term_micro",
        expr("((10 * o - n) * (10 * o - n) * 1000000) DIV (10 * n)"))
      .select(col("arm"), col("o"), col("n"), col("term_micro"))
      .orderBy("arm")
  }
  // q373: χ² goodness-of-fit in the (10·O − n)² common-denominator
  // form; same md5 arm assignment as the engine
  gate("q373_srm_check")(qSrmCheck(_, _))(
    """WITH u AS (
      |  SELECT DISTINCT user_id FROM events),
      |arms AS (
      |  SELECT ('0x' || substr(md5('srm:' || user_id::VARCHAR), 1, 15))::BIGINT
      |           % 10 AS arm
      |  FROM u),
      |o AS (SELECT arm, COUNT(*)::BIGINT AS o FROM arms GROUP BY 1),
      |n AS (SELECT COUNT(*)::BIGINT AS n FROM u)
      |SELECT o.arm::BIGINT AS arm, o.o, n.n,
      |       (((10 * o.o - n.n) * (10 * o.o - n.n) * 1000000)
      |         // (10 * n.n))::BIGINT AS term_micro
      |FROM o, n ORDER BY 1""".stripMargin)

  /** Two-sample power analysis (Cohen 1988): the sample size per arm
    * that detects each event type's observed mean shift from the
    * corpus mean at α = 0.05 / power = 0.8 —
    * n = 2·((z_{α/2}+z_β)·σ/d)² with the z-sum as the integer constant
    * 2802 millis, variance from exact integer moments in millis, the
    * shift in millis, and a shared-ceiling division both engines
    * compute identically. The experiment-design face of q373's SRM
    * guardrail.
    */
  private def qPowerAnalysis(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(s, dir)
      .select(col("event_type"), expr("CAST(round(value) AS BIGINT)").as("v"))
      .groupBy("event_type").agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(expr("v * v")).as("q"))
    val tot = g.agg(sum(col("n")).as("nn"), sum(col("s")).as("ss"))
    g.crossJoin(broadcast(tot))
      .withColumn("mean_milli", expr("(1000 * s) DIV n"))
      .withColumn("var_milli", expr("((n * q - s * s) * 1000) DIV (n * (n - 1))"))
      .withColumn("d_milli",
        expr("greatest(abs((1000 * s) DIV n - (1000 * ss) DIV nn), 1L)"))
      .withColumn("n_req", expr(
        """(2 * 7851204 * var_milli + 1000 * d_milli * d_milli - 1)
          | DIV (1000 * d_milli * d_milli)""".stripMargin.replace("\n", " ")))
      .select(col("event_type"), col("n"), col("mean_milli"),
        col("var_milli"), col("d_milli"), col("n_req"))
      .orderBy("event_type")
  }
  // q377: n per arm = 2·(2.802·σ/d)² with shared-ceiling division
  gate("q377_power_analysis")(qPowerAnalysis(_, _))(
    """WITH g AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n,
      |         SUM(CAST(round(value) AS BIGINT))::BIGINT AS s,
      |         SUM(CAST(round(value) AS BIGINT)
      |             * CAST(round(value) AS BIGINT))::BIGINT AS q
      |  FROM events GROUP BY 1),
      |tot AS (SELECT SUM(n)::BIGINT AS nn, SUM(s)::BIGINT AS ss FROM g),
      |x AS (
      |  SELECT g.event_type, g.n,
      |         ((1000 * g.s) // g.n)::BIGINT AS mean_milli,
      |         (((g.n * g.q - g.s * g.s) * 1000)
      |           // (g.n * (g.n - 1)))::BIGINT AS var_milli,
      |         CAST(greatest(abs((1000 * g.s) // g.n
      |           - (1000 * t.ss) // t.nn), 1) AS BIGINT) AS d_milli
      |  FROM g, tot t)
      |SELECT event_type, n, mean_milli, var_milli, d_milli,
      |       ((2 * 7851204 * var_milli + 1000 * d_milli * d_milli - 1)
      |         // (1000 * d_milli * d_milli))::BIGINT AS n_req
      |FROM x ORDER BY 1""".stripMargin)

  /** Split conformal prediction (Vovk et al. 2005, the
    * Papadopoulos/Lei split variant): calibration users (user_id%5<4)
    * give the exact lower median per event type and the conformity
    * scores |v − med|; q̂ = the ⌈0.9·(n+1)⌉-th smallest score read off
    * the score histogram (capped at the max, never an approximate
    * percentile); the held-out 1/5 then gates empirical coverage of
    * med ± q̂ in micros. Distribution-free uncertainty quantification
    * as two histogram scans + one broadcast join.
    */
  private def qConformalPrediction(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("event_type"), col("user_id"),
      expr("CAST(round(value) AS BIGINT)").as("v"),
      expr("CASE WHEN user_id % 5 < 4 THEN 1 ELSE 0 END").as("cal"))
    def lowerMedian(src: DataFrame, valueCol: String): DataFrame = {
      val hist = src.groupBy(col("event_type"), col(valueCol).as("val"))
        .agg(count(lit(1)).as("nv"))
        .withColumn("cumb", coalesce(sum(col("nv")).over(
          Window.partitionBy("event_type").orderBy("val")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val ng = src.groupBy("event_type").agg(count(lit(1)).as("n_tot"))
      hist.join(ng, Seq("event_type"))
        .withColumn("pos", expr("(n_tot + 1) DIV 2"))
        .filter(col("cumb") < col("pos")
          && col("pos") <= col("cumb") + col("nv"))
        .select(col("event_type"), col("val").as("med"), col("n_tot"))
    }
    val calE = e.filter(col("cal") === 1)
    val med = lowerMedian(calE, "v").localCheckpoint()
    val scores = calE.join(med, Seq("event_type"))
      .select(col("event_type"), abs(col("v") - col("med")).as("sc"),
        col("n_tot"))
    val sHist = scores.groupBy(col("event_type"), col("sc"))
      .agg(count(lit(1)).as("nv"), max(col("n_tot")).as("n_cal"))
      .withColumn("cum", sum(col("nv")).over(
        Window.partitionBy("event_type").orderBy("sc")))
      .withColumn("k", expr("least((9 * (n_cal + 1) + 9) DIV 10, n_cal)"))
    val qhat = sHist.filter(col("cum") >= col("k"))
      .groupBy("event_type").agg(min(col("sc")).as("qhat"),
        max(col("n_cal")).as("n_cal"))
    val hold = e.filter(col("cal") === 0)
      .join(med.select("event_type", "med"), Seq("event_type"))
      .join(broadcast(qhat), Seq("event_type"))
      .groupBy("event_type").agg(
        max(col("med")).as("med"), max(col("qhat")).as("qhat"),
        max(col("n_cal")).as("n_cal"),
        count(lit(1)).as("n_hold"),
        sum(when(abs(col("v") - col("med")) <= col("qhat"), 1L)
          .otherwise(0L)).as("n_in"))
    hold.withColumn("cover_micro", expr("(1000000 * n_in) DIV n_hold"))
      .select("event_type", "n_cal", "med", "qhat", "n_hold", "n_in",
        "cover_micro")
      .orderBy("event_type")
  }
  // q378: calibration median + ⌈0.9(n+1)⌉-th score from histograms,
  // holdout coverage in micros
  gate("q378_conformal_prediction")(qConformalPrediction(_, _))(
    """WITH e AS (
      |  SELECT event_type, user_id, CAST(round(value) AS BIGINT) AS v,
      |         CASE WHEN user_id % 5 < 4 THEN 1 ELSE 0 END AS cal
      |  FROM events),
      |cale AS MATERIALIZED (SELECT * FROM e WHERE cal = 1),
      |hist AS (
      |  SELECT event_type, v AS val, COUNT(*)::BIGINT AS nv,
      |         COALESCE(SUM(COUNT(*)) OVER (PARTITION BY event_type
      |           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |           AND 1 PRECEDING), 0)::BIGINT AS cumb
      |  FROM cale GROUP BY 1, 2),
      |ng AS (SELECT event_type, COUNT(*)::BIGINT AS n_tot
      |       FROM cale GROUP BY 1),
      |med AS MATERIALIZED (
      |  SELECT h.event_type, h.val AS med, ng.n_tot
      |  FROM hist h JOIN ng ON h.event_type = ng.event_type
      |  WHERE h.cumb < (ng.n_tot + 1) // 2
      |    AND (ng.n_tot + 1) // 2 <= h.cumb + h.nv),
      |sc AS (
      |  SELECT c.event_type, abs(c.v - m.med) AS sc, m.n_tot
      |  FROM cale c JOIN med m ON c.event_type = m.event_type),
      |sh AS (
      |  SELECT event_type, sc, MAX(n_tot) AS n_cal,
      |         SUM(COUNT(*)) OVER (PARTITION BY event_type
      |           ORDER BY sc) AS cum
      |  FROM sc GROUP BY 1, 2),
      |qh AS MATERIALIZED (
      |  SELECT event_type, MIN(sc) AS qhat, MAX(n_cal) AS n_cal
      |  FROM sh
      |  WHERE cum >= least((9 * (n_cal + 1) + 9) // 10, n_cal)
      |  GROUP BY 1),
      |hold AS (
      |  SELECT e.event_type, MAX(q.n_cal)::BIGINT AS n_cal,
      |         MAX(m.med)::BIGINT AS med, MAX(q.qhat)::BIGINT AS qhat,
      |         COUNT(*)::BIGINT AS n_hold,
      |         SUM(CASE WHEN abs(e.v - m.med) <= q.qhat
      |             THEN 1 ELSE 0 END)::BIGINT AS n_in
      |  FROM e
      |  JOIN med m ON e.event_type = m.event_type
      |  JOIN qh q ON e.event_type = q.event_type
      |  WHERE e.cal = 0 GROUP BY 1)
      |SELECT event_type, n_cal, med, qhat, n_hold, n_in,
      |       ((1000000 * n_in) // n_hold)::BIGINT AS cover_micro
      |FROM hold ORDER BY 1""".stripMargin)

  /** Clipped inverse-propensity-scoring estimator (Horvitz–Thompson
    * 1952 / Bottou et al. 2013): the q373 md5 hash logs a 2-arm
    * policy; the target policy always plays arm 1, so
    * V̂ = (1/n)·Σ_{arm=1} r·ŵ with ŵ = min(1/p̂₁, 5) — propensity
    * estimated from the log in micros, the weight clipped at 5× to
    * bound variance, every division an engine-agreed positive DIV.
    * Off-policy evaluation for bandit-logged training data, next to
    * the naive on-policy mean for contrast.
    */
  private def qIpsEstimator(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_type"), expr("CAST(round(value) AS BIGINT)").as("r"),
        expr("conv(substring(md5(concat('arm:', event_id)), 1, 15), 16, 10) % 2")
          .cast("long").as("arm"))
    e.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("arm")).as("n1"),
        sum(expr("r * arm")).as("s1"),
        sum(col("r")).as("s_all"))
      .withColumn("p1_micro", expr("(1000000 * n1) DIV n"))
      .withColumn("w_micro",
        expr("least(1000000000000 DIV p1_micro, 5000000L)"))
      .withColumn("ips_micro", expr("(w_micro * s1) DIV n"))
      .withColumn("naive_micro", expr("(1000000 * s_all) DIV n"))
      .select("event_type", "n", "n1", "p1_micro", "w_micro", "ips_micro",
        "naive_micro")
      .orderBy("event_type")
  }
  // q379: same md5 arm; ŵ = min(1/p̂₁, 5) in micros
  gate("q379_ips_estimator")(qIpsEstimator(_, _))(
    """WITH e AS (
      |  SELECT event_type, CAST(round(value) AS BIGINT) AS r,
      |         ('0x' || substr(md5('arm:' || event_id::VARCHAR), 1, 15))::BIGINT
      |           % 2 AS arm
      |  FROM events),
      |g AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n, SUM(arm)::BIGINT AS n1,
      |         SUM(r * arm)::BIGINT AS s1, SUM(r)::BIGINT AS s_all
      |  FROM e GROUP BY 1),
      |x AS (
      |  SELECT event_type, n, n1, s1, s_all,
      |         ((1000000 * n1) // n)::BIGINT AS p1_micro
      |  FROM g)
      |SELECT event_type, n, n1, p1_micro,
      |       CAST(least(1000000000000 // p1_micro, 5000000) AS BIGINT)
      |         AS w_micro,
      |       ((least(1000000000000 // p1_micro, 5000000) * s1) // n)::BIGINT
      |         AS ips_micro,
      |       ((1000000 * s_all) // n)::BIGINT AS naive_micro
      |FROM x ORDER BY 1""".stripMargin)

  /** Successive halving (Jamieson–Talwalkar 2016): 8 md5-hashed arms
    * race on geometrically growing data budgets — ⅛ of events ranks
    * all 8, the top 4 advance to ¼, the top 2 to ½, one champion
    * remains — rank = (mean reward micro desc, arm asc), every
    * elimination deterministic. The hyperparameter-tournament
    * scheduler as three keyed aggs + three bounded windows; budget
    * slices are id-hash prefixes so every engine sees the same data.
    */
  private def qSuccessiveHalving(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(
      expr("CAST(round(value) AS BIGINT)").as("r"),
      expr("conv(substring(md5(concat('sh:', event_id)), 1, 15), 16, 10) % 8")
        .cast("long").as("arm"),
      expr("event_id % 16").as("slice"))
    def round(src: DataFrame, sliceLt: Int, rnd: Int, keep: Int): DataFrame =
      src.filter(col("slice") < sliceLt)
        .groupBy("arm").agg(count(lit(1)).as("n"), sum(col("r")).as("s"))
        .withColumn("mean_micro", expr("(1000000 * s) DIV n"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("mean_micro").desc, col("arm"))))
        .select(lit(rnd.toLong).as("round"), col("arm"), col("n"),
          col("mean_micro"), col("rank").cast("long").as("rank"),
          (col("rank") <= keep).cast("long").as("kept"))
    val r1 = round(e, 2, 1, 4).localCheckpoint()
    val s1 = r1.filter(col("kept") === 1L).select(col("arm"))
    val r2 = round(e.join(s1, Seq("arm")), 4, 2, 2).localCheckpoint()
    val s2 = r2.filter(col("kept") === 1L).select(col("arm"))
    val r3 = round(e.join(s2, Seq("arm")), 8, 3, 1)
    r1.unionByName(r2).unionByName(r3).orderBy("round", "rank")
  }
  // q383: three rounds on 1/8, 1/4, 1/2 id-hash slices; rank by
  // (mean micro desc, arm); top 4 / 2 / 1 advance
  gate("q383_successive_halving")(qSuccessiveHalving(_, _)) {
    def rnd(k: Int, sliceLt: Int, keep: Int, armFilter: String) =
      s"""SELECT CAST($k AS BIGINT) AS round, arm, n, mean_micro,
         |       rank, (rank <= $keep)::BIGINT AS kept
         |FROM (
         |  SELECT arm, COUNT(*)::BIGINT AS n,
         |         ((1000000 * SUM(r)) // COUNT(*))::BIGINT AS mean_micro,
         |         CAST(row_number() OVER (
         |           ORDER BY (1000000 * SUM(r)) // COUNT(*) DESC, arm)
         |           AS BIGINT) AS rank
         |  FROM e WHERE slice < $sliceLt $armFilter
         |  GROUP BY 1)""".stripMargin
    s"""WITH e AS MATERIALIZED (
       |  SELECT CAST(round(value) AS BIGINT) AS r,
       |         ('0x' || substr(md5('sh:' || event_id::VARCHAR), 1, 15))::BIGINT
       |           % 8 AS arm,
       |         event_id % 16 AS slice
       |  FROM events),
       |r1 AS MATERIALIZED (${rnd(1, 2, 4, "")}),
       |r2 AS MATERIALIZED (${rnd(2, 4, 2,
          "AND arm IN (SELECT arm FROM r1 WHERE kept = 1)")}),
       |r3 AS (${rnd(3, 8, 1,
          "AND arm IN (SELECT arm FROM r2 WHERE kept = 1)")})
       |SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL
       |SELECT * FROM r3 ORDER BY round, rank""".stripMargin
  }

  /** Friedman test (1937) — the BLOCKED rank test q359's
    * Kruskal–Wallis cannot replace: users are blocks, event types
    * treatments; each complete block (user active in all 5 types)
    * ranks the types by per-user mean value in millis with
    * tie-averaged DOUBLED ranks from the bounded 5×5 within-block
    * self-join; χ²_F = 3·Σ R2_j²/(n·k(k+1)) − 3n(k+1) in millis.
    */
  private def qFriedmanTest(s: SparkSession, dir: String): DataFrame = {
    val um = Tables.events(s, dir)
      .groupBy("user_id", "event_type")
      .agg(expr("(1000 * sum(CAST(round(value) AS BIGINT))) DIV count(1)")
        .as("m"))
    // k carried as a broadcast one-row agg, not an eager driver
    // count() baked into the plan (the qInfoGain advice pattern)
    val kdf = um.agg(countDistinct(col("event_type")).as("kk"))
    val complete = um.groupBy("user_id").agg(count(lit(1)).as("nt"))
      .crossJoin(broadcast(kdf))
      .filter(col("nt") === col("kk")).select("user_id")
    val blocks = um.join(broadcast(complete), Seq("user_id"))
      .localCheckpoint()
    val r2 = blocks.as("x").join(
        blocks.select(col("user_id"), col("m").as("m2")).as("y"),
        Seq("user_id"))
      .groupBy(col("user_id"), col("event_type"), col("m"))
      .agg(sum(when(col("m2") < col("m"), 2L).otherwise(0L)).as("lt2"),
        sum(when(col("m2") === col("m"), 1L).otherwise(0L)).as("eqn"))
      .withColumn("r2", expr("lt2 + eqn + 1"))
    val byType = r2.groupBy("event_type")
      .agg(sum(col("r2")).as("r2_sum"), count(lit(1)).as("n_blocks"))
    val glob = byType.agg(
        sum(expr("r2_sum * r2_sum")).as("sr2"),
        max(col("n_blocks")).as("n"), count(lit(1)).as("kk"))
      .withColumn("chi_milli", expr(
        "(3000 * sr2) DIV (n * kk * (kk + 1)) - 3000 * n * (kk + 1)"))
      .select("n", "kk", "chi_milli")
    byType.crossJoin(broadcast(glob))
      .select(col("event_type"), col("r2_sum"), col("n_blocks"),
        col("n"), col("kk"), col("chi_milli"))
      .orderBy("event_type")
  }
  // q385: complete blocks, 5×5 within-block tie-averaged doubled
  // ranks, χ²_F in millis
  gate("q385_friedman_test")(qFriedmanTest(_, _))(
    """WITH um AS (
      |  SELECT user_id, event_type,
      |         ((1000 * SUM(CAST(round(value) AS BIGINT))) // COUNT(*))
      |           ::BIGINT AS m
      |  FROM events GROUP BY 1, 2),
      |kd AS (SELECT COUNT(DISTINCT event_type)::BIGINT AS kk FROM um),
      |complete AS (
      |  SELECT user_id FROM um, kd GROUP BY 1, kd.kk
      |  HAVING COUNT(*) = kd.kk),
      |blocks AS MATERIALIZED (
      |  SELECT u.* FROM um u JOIN complete c ON u.user_id = c.user_id),
      |r2 AS (
      |  SELECT x.user_id, x.event_type,
      |         SUM(CASE WHEN y.m < x.m THEN 2 ELSE 0 END)
      |           + SUM(CASE WHEN y.m = x.m THEN 1 ELSE 0 END) + 1 AS r2
      |  FROM blocks x JOIN blocks y ON x.user_id = y.user_id
      |  GROUP BY 1, 2, x.m),
      |bt AS (
      |  SELECT event_type, SUM(r2)::BIGINT AS r2_sum,
      |         COUNT(*)::BIGINT AS n_blocks
      |  FROM r2 GROUP BY 1),
      |gl AS (
      |  SELECT SUM(r2_sum * r2_sum)::BIGINT AS sr2,
      |         MAX(n_blocks)::BIGINT AS n, COUNT(*)::BIGINT AS kk
      |  FROM bt)
      |SELECT bt.event_type, bt.r2_sum, bt.n_blocks, gl.n, gl.kk,
      |       ((3000 * gl.sr2) // (gl.n * gl.kk * (gl.kk + 1))
      |         - 3000 * gl.n * (gl.kk + 1))::BIGINT AS chi_milli
      |FROM bt, gl ORDER BY 1""".stripMargin)

  /** Difference-in-differences estimator (Card–Krueger 1994 shape):
    * md5-hashed users split treat/control, the month's halves are the
    * periods, and per event type the 2×2 cell means in cents-micros
    * give DiD = (ȳ_t2 − ȳ_t1) − (ȳ_c2 − ȳ_c1) — every mean an
    * integer DIV of exact cents sums. The causal-readout companion
    * of q343's CUPED and q373's SRM guard.
    */
  private def qDiffInDiff(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .select(col("event_type"),
        expr("conv(substring(md5(concat('did:', user_id)), 1, 15), 16, 10) % 2")
          .cast("long").as("treat"),
        expr("CASE WHEN dayofmonth(ts) <= 15 THEN 0L ELSE 1L END").as("period"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy("event_type", "treat", "period")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
      .withColumn("mean_micro", expr("(10000 * sc) DIV n"))
    val wide = cells.groupBy("event_type").agg(
      max(when(col("treat") === 1L && col("period") === 0L,
        col("mean_micro"))).as("t_pre"),
      max(when(col("treat") === 1L && col("period") === 1L,
        col("mean_micro"))).as("t_post"),
      max(when(col("treat") === 0L && col("period") === 0L,
        col("mean_micro"))).as("c_pre"),
      max(when(col("treat") === 0L && col("period") === 1L,
        col("mean_micro"))).as("c_post"),
      sum(col("n")).as("n_events"))
    wide.select(col("event_type"), col("t_pre"), col("t_post"),
        col("c_pre"), col("c_post"), col("n_events"),
        ((col("t_post") - col("t_pre")) - (col("c_post") - col("c_pre")))
          .as("did_micro"))
      .orderBy("event_type")
  }
  // q401: 2×2 cell means in cents·10⁴ micros; DiD over the wide row
  gate("q401_diff_in_diff")(qDiffInDiff(_, _))(
    """WITH cells AS (
      |  SELECT event_type,
      |         ('0x' || substr(md5('did:' || user_id::VARCHAR), 1, 15))
      |           ::BIGINT % 2 AS treat,
      |         CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END AS period,
      |         COUNT(*)::BIGINT AS n,
      |         SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS sc
      |  FROM events GROUP BY 1, 2, 3),
      |m AS (
      |  SELECT event_type, treat, period, n, (10000 * sc) // n AS mean_micro
      |  FROM cells),
      |wide AS (
      |  SELECT event_type,
      |         MAX(CASE WHEN treat = 1 AND period = 0 THEN mean_micro END)
      |           AS t_pre,
      |         MAX(CASE WHEN treat = 1 AND period = 1 THEN mean_micro END)
      |           AS t_post,
      |         MAX(CASE WHEN treat = 0 AND period = 0 THEN mean_micro END)
      |           AS c_pre,
      |         MAX(CASE WHEN treat = 0 AND period = 1 THEN mean_micro END)
      |           AS c_post,
      |         SUM(n)::BIGINT AS n_events
      |  FROM m GROUP BY 1)
      |SELECT event_type, t_pre::BIGINT AS t_pre, t_post::BIGINT AS t_post,
      |       c_pre::BIGINT AS c_pre, c_post::BIGINT AS c_post, n_events,
      |       ((t_post - t_pre) - (c_post - c_pre))::BIGINT AS did_micro
      |FROM wide ORDER BY event_type""".stripMargin)

  /** Benjamini–Hochberg step-up FDR control (Benjamini–Hochberg
    * 1995) over per-term split-imbalance tests: for each term with
    * df ≥ 25, the statistic is |2·df_even − df| (how unevenly the
    * term lands on even vs odd doc ids), its empirical p-value is
    * r/m where r = #{terms with stat ≥ this one} (computed from the
    * stat histogram's descending cumulative — no per-row window), and
    * BH rejects the largest prefix i of the p-ascending order with
    * p_(i) ≤ α·i/m, i.e. the EXACT integer test 20·r ≤ i at α = 0.05.
    * The multiple-testing guard every drift/QA dashboard needs once it
    * tests thousands of terms at once. m is vocabulary-bounded
    * (df ≥ 25), so the rank window rides a deliberately small input.
    */
  private def qBhFdr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct()
      .groupBy("term").agg(count(lit(1)).as("df"),
        sum(when(col("doc_id") % 2 === 0L, 1L).otherwise(0L)).as("df_even"))
      .filter(col("df") >= 25L)
      .withColumn("stat", abs(col("df_even") * 2L - col("df")))
      .localCheckpoint()
    val byStat = per.groupBy("stat").agg(count(lit(1)).as("nv"))
      .withColumn("r", sum(col("nv")).over(
        Window.orderBy(col("stat").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("stat", "r")
    val ranked = per.join(broadcast(byStat), Seq("stat"))
      .crossJoin(broadcast(per.agg(count(lit(1)).as("m"))))
      .withColumn("p_micro", expr("(1000000 * r) DIV m"))
      .withColumn("i", row_number().over(
        Window.orderBy(col("stat").desc, col("term"))))
      .localCheckpoint()
    val kmax = ranked.agg(coalesce(max(when(col("r") * 20L <= col("i"),
      col("i"))), lit(0L)).as("kmax"))
    ranked.crossJoin(broadcast(kmax))
      .select(col("term"), col("df"), col("stat"), col("p_micro"),
        col("i").cast("long").as("bh_rank"),
        when(col("i") <= col("kmax"), 1L).otherwise(0L).as("rejected"))
      .orderBy("term")
  }
  // q403: r from the descending stat-histogram cumulative; the BH
  // step-up is the exact integer test 20*r <= i at alpha = 0.05
  // eager: localCheckpoints partials
  gate("q403_bh_fdr", eager = true)(qBhFdr(_, _))(
    """WITH per AS (
      |  SELECT term, COUNT(*)::BIGINT AS df,
      |         SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
      |           AS df_even
      |  FROM (SELECT DISTINCT doc_id,
      |          unnest(string_split(text, ' ')) AS term FROM documents)
      |  GROUP BY 1 HAVING COUNT(*) >= 25),
      |st AS (
      |  SELECT term, df, abs(2 * df_even - df)::BIGINT AS stat FROM per),
      |hist AS (
      |  SELECT stat, COUNT(*)::BIGINT AS nv FROM st GROUP BY 1),
      |cum AS (
      |  SELECT stat, SUM(nv) OVER (ORDER BY stat DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS r
      |  FROM hist),
      |ranked AS (
      |  SELECT s.term, s.df, s.stat, c.r,
      |         ((1000000 * c.r) // (SELECT COUNT(*) FROM st))::BIGINT
      |           AS p_micro,
      |         row_number() OVER (ORDER BY s.stat DESC, s.term)::BIGINT AS i
      |  FROM st s JOIN cum c ON c.stat = s.stat),
      |k AS (
      |  SELECT COALESCE(MAX(CASE WHEN 20 * r <= i THEN i END), 0)::BIGINT
      |    AS kmax FROM ranked)
      |SELECT term, df, stat, p_micro, i AS bh_rank,
      |       (CASE WHEN i <= k.kmax THEN 1 ELSE 0 END)::BIGINT AS rejected
      |FROM ranked, k ORDER BY term""".stripMargin)

  /** Delete-one-group jackknife (Quenouille 1956 / Tukey 1958) of the
    * mean order value over the 25 customer nations: θ̂ = S DIV N cents,
    * per-nation leave-one-out θ₋g = (S−s_g) DIV (N−n_g), pseudo-value
    * G·θ̂ − (G−1)·θ₋g, and the jackknife variance
    * (G−1)·Σ(θ₋g − θ̄)² DIV G — the resampling error bar that needs
    * only ONE extra pass over 25 group partials, no re-aggregation
    * per replicate (contrast q344's bootstrap, which pays per
    * resample). All arithmetic exact cents-integers.
    */
  private def qJackknife(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val c = Tables.load(s, dir, "customer")
    val n = Tables.load(s, dir, "nation")
    val g = o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).as("s_g"))
      .localCheckpoint()
    val tot = g.agg(sum(col("n_orders")).as("nn"), sum(col("s_g")).as("ss"),
      count(lit(1)).as("gg"))
    val loo = g.crossJoin(broadcast(tot))
      .withColumn("theta_all_cents", expr("ss DIV nn"))
      .withColumn("theta_loo_cents", expr("(ss - s_g) DIV (nn - n_orders)"))
      .withColumn("pseudo_cents",
        expr("gg * theta_all_cents - (gg - 1) * theta_loo_cents"))
      .localCheckpoint()
    val bar = loo.agg(expr("sum(theta_loo_cents) DIV any_value(gg)").as("tbar"))
    val dev = loo.crossJoin(broadcast(bar))
      .withColumn("d2",
        expr("(theta_loo_cents - tbar) * (theta_loo_cents - tbar)"))
      .localCheckpoint()
    val vj = dev.agg(
      expr("((any_value(gg) - 1) * sum(d2)) DIV any_value(gg)").as("var_jk"))
    dev.crossJoin(broadcast(vj))
      .select(col("n_name"), col("n_orders"), col("theta_all_cents"),
        col("theta_loo_cents"), col("pseudo_cents"), col("var_jk"))
      .orderBy("n_name")
  }
  // q404: identical integer DIV chain over the 25 nation partials
  // eager: localCheckpoints partials
  gate("q404_jackknife", eager = true)(qJackknife(_, _))(
    """WITH g AS (
      |  SELECT n.n_name, COUNT(*)::BIGINT AS n_orders,
      |         SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
      |           ::BIGINT AS s_g
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |                JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY 1),
      |tot AS (
      |  SELECT SUM(n_orders)::BIGINT AS nn, SUM(s_g)::BIGINT AS ss,
      |         COUNT(*)::BIGINT AS gg FROM g),
      |loo AS (
      |  SELECT g.n_name, g.n_orders,
      |         (t.ss // t.nn)::BIGINT AS theta_all_cents,
      |         ((t.ss - g.s_g) // (t.nn - g.n_orders))::BIGINT
      |           AS theta_loo_cents,
      |         t.gg
      |  FROM g, tot t),
      |bar AS (
      |  SELECT (SUM(theta_loo_cents) // ANY_VALUE(gg))::BIGINT AS tbar
      |  FROM loo),
      |dev AS (
      |  SELECT l.*, (l.theta_loo_cents - b.tbar)
      |    * (l.theta_loo_cents - b.tbar) AS d2
      |  FROM loo l, bar b),
      |vj AS (
      |  SELECT (((ANY_VALUE(gg) - 1) * SUM(d2)) // ANY_VALUE(gg))::BIGINT
      |    AS var_jk FROM dev)
      |SELECT d.n_name, d.n_orders, d.theta_all_cents, d.theta_loo_cents,
      |       (d.gg * d.theta_all_cents
      |        - (d.gg - 1) * d.theta_loo_cents)::BIGINT AS pseudo_cents,
      |       v.var_jk
      |FROM dev d, vj v ORDER BY d.n_name""".stripMargin)

  /** Deterministic permutation test (Fisher 1935 exact-test logic,
    * Monte-Carlo form) for a per-event-type mean difference: users
    * collapse to one spend partial each (the ONLY full-data reduce);
    * permutation p ∈ 0..20 reassigns each user to arm
    * md5('pt'‖p‖':'‖user) mod 2 — p = 0 IS the observed split, 1..20
    * the permuted replicates — and every arm mean is an exact
    * (10⁶·Σcents) DIV users integer. p-value = (1+#{|Δ_p| ≥ |Δ_obs|})
    * DIV 21 micros, the add-one estimator. The 21× fan-out multiplies
    * user PARTIALS, not events — the shape that survives 100 TB.
    */
  private def qPermutationTest(s: SparkSession, dir: String): DataFrame = {
    val up = Tables.events(s, dir)
      .groupBy("event_type", "user_id")
      .agg(sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("uc"))
      .localCheckpoint()
    val diffs = up
      .select(col("event_type"), col("user_id"), col("uc"),
        explode(expr("sequence(0, 20)")).as("perm"))
      .withColumn("grp",
        expr("CAST(conv(substring(md5(concat('pt', perm, ':', user_id)), 1, 15), 16, 10) AS BIGINT) % 2"))
      .groupBy("event_type", "perm", "grp")
      .agg(count(lit(1)).as("nu"), sum(col("uc")).as("suc"))
      .withColumn("mean_micro", expr("(1000000 * suc) DIV nu"))
      .groupBy("event_type", "perm")
      .agg((max(when(col("grp") === 1L, col("mean_micro"))) -
        max(when(col("grp") === 0L, col("mean_micro")))).as("diff_micro"))
    val obs = diffs.filter(col("perm") === 0L)
      .select(col("event_type"), col("diff_micro").as("diff_obs_micro"))
    diffs.filter(col("perm") >= 1L)
      .join(broadcast(obs), Seq("event_type"))
      .groupBy(col("event_type"), col("diff_obs_micro"))
      .agg(sum(when(abs(col("diff_micro")) >= abs(col("diff_obs_micro")), 1L)
        .otherwise(0L)).as("n_ge"))
      .withColumn("p_micro", expr("(1000000 * (1 + n_ge)) DIV 21"))
      .select("event_type", "diff_obs_micro", "n_ge", "p_micro")
      .orderBy("event_type")
  }
  // q405: perm 0 is the observed split; md5-mod-2 arms; add-one
  // Monte-Carlo p over the 20 replicates — all integer DIV
  // eager: localCheckpoints partials
  gate("q405_permutation_test", eager = true)(qPermutationTest(_, _))(
    """WITH up AS MATERIALIZED (
      |  SELECT event_type, user_id,
      |         SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS uc
      |  FROM events GROUP BY 1, 2),
      |cell AS (
      |  SELECT up.event_type, t.perm,
      |         ('0x' || substr(md5('pt' || t.perm::VARCHAR || ':'
      |            || up.user_id::VARCHAR), 1, 15))::BIGINT % 2 AS grp,
      |         COUNT(*)::BIGINT AS nu, SUM(up.uc)::BIGINT AS suc
      |  FROM up, generate_series(0, 20) t(perm)
      |  GROUP BY 1, 2, 3),
      |d AS (
      |  SELECT event_type, perm,
      |         (MAX(CASE WHEN grp = 1 THEN (1000000 * suc) // nu END)
      |          - MAX(CASE WHEN grp = 0 THEN (1000000 * suc) // nu END))
      |           ::BIGINT AS diff_micro
      |  FROM cell GROUP BY 1, 2),
      |obs AS (
      |  SELECT event_type, diff_micro AS diff_obs_micro FROM d
      |  WHERE perm = 0)
      |SELECT o.event_type, o.diff_obs_micro,
      |       SUM(CASE WHEN abs(d.diff_micro) >= abs(o.diff_obs_micro)
      |                THEN 1 ELSE 0 END)::BIGINT AS n_ge,
      |       ((1000000 * (1 + SUM(CASE WHEN abs(d.diff_micro)
      |           >= abs(o.diff_obs_micro) THEN 1 ELSE 0 END))) // 21)
      |         ::BIGINT AS p_micro
      |FROM d JOIN obs o ON d.event_type = o.event_type AND d.perm >= 1
      |GROUP BY 1, 2 ORDER BY o.event_type""".stripMargin)

  /** Isotonic (PAV) calibration fit (Ayer et al. 1955; Zadrozny–Elkan
    * 2002's calibration use) of mean spend against hour-of-day via the
    * MINIMAX identity ŷᵢ = max_{j≤i} min_{k≥i} avg(y[j..k]) — with 24
    * bins the interval lattice is 300 rows, so the pooled averages are
    * enumerated outright instead of running the sequential
    * pool-adjacent-violators loop (exactly equal by the classical
    * minimax theorem for isotonic L2). Every interval average is one
    * positive-operand (10⁶·Σcents) DIV n; the raw means stay alongside
    * the fit so the gate shows WHERE pooling flattened violations.
    * The hot path is the per-hour partial agg; the lattice is
    * constant-size driver-free arithmetic after it.
    */
  private def qIsotonicFit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bins = Tables.events(s, dir)
      .select(hour(col("ts")).cast("long").as("h"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy("h").agg(count(lit(1)).as("w"), sum(col("cents")).as("sy"))
      .localCheckpoint()
    val wh = Window.orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = bins
      .withColumn("cw", sum(col("w")).over(wh))
      .withColumn("cs", sum(col("sy")).over(wh))
      .localCheckpoint()
    val iv = pre.select(col("h").as("j"), (col("cw") - col("w")).as("wj"),
        (col("cs") - col("sy")).as("sj"))
      .join(pre.select(col("h").as("k"), col("cw").as("wk"),
        col("cs").as("sk")), col("j") <= col("k"))
      .select(col("j"), col("k"),
        expr("(1000000 * (sk - sj)) DIV (wk - wj)").as("avg_micro"))
    val fit = iv
      .join(pre.select(col("h").as("i")), col("j") <= col("i") &&
        col("i") <= col("k"))
      .groupBy("i", "j").agg(min(col("avg_micro")).as("mn"))
      .groupBy("i").agg(max(col("mn")).as("fit_micro"))
    bins.select(col("h").as("i"), col("w").as("n_events"),
        expr("(1000000 * sy) DIV w").as("raw_micro"))
      .join(fit, Seq("i"))
      .select(col("i").as("hour"), col("n_events"), col("raw_micro"),
        col("fit_micro"))
      .orderBy("hour")
  }
  // q406: the same minimax lattice — fit_i = max over j<=i of the
  // min over k>=i of the floored interval mean
  // eager: localCheckpoints partials
  gate("q406_isotonic_fit", eager = true)(qIsotonicFit(_, _))(
    """WITH bins AS (
      |  SELECT hour(ts)::BIGINT AS h, COUNT(*)::BIGINT AS w,
      |         SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS sy
      |  FROM events GROUP BY 1),
      |pre AS (
      |  SELECT h, w, sy,
      |         SUM(w) OVER (ORDER BY h)::BIGINT AS cw,
      |         SUM(sy) OVER (ORDER BY h)::BIGINT AS cs
      |  FROM bins),
      |iv AS (
      |  SELECT j.h AS j, k.h AS k,
      |         ((1000000 * (k.cs - (j.cs - j.sy)))
      |          // (k.cw - (j.cw - j.w)))::BIGINT AS avg_micro
      |  FROM pre j JOIN pre k ON j.h <= k.h),
      |mn AS (
      |  SELECT p.h AS i, iv.j, MIN(iv.avg_micro) AS m
      |  FROM iv JOIN pre p ON iv.j <= p.h AND p.h <= iv.k
      |  GROUP BY 1, 2),
      |fit AS (
      |  SELECT i, MAX(m)::BIGINT AS fit_micro FROM mn GROUP BY 1)
      |SELECT b.h AS hour, b.w AS n_events,
      |       ((1000000 * b.sy) // b.w)::BIGINT AS raw_micro, f.fit_micro
      |FROM bins b JOIN fit f ON f.i = b.h ORDER BY hour""".stripMargin)

  /** Mantel–Haenszel pooled odds ratio (Mantel–Haenszel 1959) across
    * region strata: exposure = md5 split of the customer key, outcome
    * = order value above 150 000.00, and the pooled estimate
    * ÔR = Σᵢ aᵢdᵢ/nᵢ ÷ Σᵢ bᵢcᵢ/nᵢ with each stratum term quantized as
    * one positive-operand (10⁶·a·d) DIV n — the stratified
    * confounder-adjusted effect estimator (what a naive q398-style
    * ratio gets WRONG when strata differ in both exposure and
    * outcome, Simpson's q334 relative). Per-stratum cells stay in the
    * output so the pooling is auditable.
    */
  private def qMantelHaenszel(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val c = Tables.load(s, dir, "customer")
    val n = Tables.load(s, dir, "nation")
    val r = Tables.load(s, dir, "region")
    val cells = o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("r_name"),
        expr("CAST(conv(substring(md5(concat('mh:', o_custkey)), 1, 15), 16, 10) AS BIGINT) % 2").as("x"),
        expr("CASE WHEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) > 15000000 THEN 1L ELSE 0L END").as("hi"))
      .groupBy("r_name").agg(
        sum(when(col("x") === 1L && col("hi") === 1L, 1L).otherwise(0L)).as("a"),
        sum(when(col("x") === 1L && col("hi") === 0L, 1L).otherwise(0L)).as("b"),
        sum(when(col("x") === 0L && col("hi") === 1L, 1L).otherwise(0L)).as("c"),
        sum(when(col("x") === 0L && col("hi") === 0L, 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("n"))
      .withColumn("ad_term", expr("(1000000 * a * d) DIV n"))
      .withColumn("bc_term", expr("(1000000 * b * c) DIV n"))
      .localCheckpoint()
    val pooled = cells.agg(sum(col("ad_term")).as("s1"),
      sum(col("bc_term")).as("s2"))
    cells.crossJoin(broadcast(pooled))
      .select(col("r_name"), col("a"), col("b"), col("c"), col("d"),
        col("n"), col("ad_term"), col("bc_term"),
        expr("(1000000 * s1) DIV s2").as("or_mh_micro"))
      .orderBy("r_name")
  }
  // q411: per-stratum 2x2 cells; pooled OR via the quantized
  // stratum terms — positive-operand DIVs only
  // eager: localCheckpoints partials
  gate("q411_mantel_haenszel", eager = true)(qMantelHaenszel(_, _))(
    """WITH cells AS (
      |  SELECT r.r_name,
      |    SUM(CASE WHEN x = 1 AND hi = 1 THEN 1 ELSE 0 END)::BIGINT AS a,
      |    SUM(CASE WHEN x = 1 AND hi = 0 THEN 1 ELSE 0 END)::BIGINT AS b,
      |    SUM(CASE WHEN x = 0 AND hi = 1 THEN 1 ELSE 0 END)::BIGINT AS c,
      |    SUM(CASE WHEN x = 0 AND hi = 0 THEN 1 ELSE 0 END)::BIGINT AS d,
      |    COUNT(*)::BIGINT AS n
      |  FROM (
      |    SELECT c.c_nationkey,
      |      ('0x' || substr(md5('mh:' || o.o_custkey::VARCHAR), 1, 15))
      |        ::BIGINT % 2 AS x,
      |      CASE WHEN CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
      |        > 15000000 THEN 1 ELSE 0 END AS hi
      |    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey) t
      |  JOIN nation nn ON t.c_nationkey = nn.n_nationkey
      |  JOIN region r ON nn.n_regionkey = r.r_regionkey
      |  GROUP BY 1),
      |terms AS (
      |  SELECT r_name, a, b, c, d, n,
      |         ((1000000 * a * d) // n)::BIGINT AS ad_term,
      |         ((1000000 * b * c) // n)::BIGINT AS bc_term
      |  FROM cells),
      |pooled AS (
      |  SELECT SUM(ad_term)::BIGINT AS s1, SUM(bc_term)::BIGINT AS s2
      |  FROM terms)
      |SELECT t.r_name, t.a, t.b, t.c, t.d, t.n, t.ad_term, t.bc_term,
      |       ((1000000 * p.s1) // p.s2)::BIGINT AS or_mh_micro
      |FROM terms t, pooled p ORDER BY t.r_name""".stripMargin)

  /** Two-sample Cramér–von Mises statistic (Cramér 1928; Anderson
    * 1962 two-sample form), EXACT: over the pooled support,
    * T = Σ mult·(i·m − j·n)² / (n·m·(n+m)²) with i, j the inclusive
    * cumulative counts — the whole-distribution companion to q171's
    * KS (which sees only the single worst gap; CvM integrates EVERY
    * gap, so a distribution that differs mildly everywhere scores
    * high here and low there). The squared co-moments ride
    * DECIMAL(38,0)/HUGEINT (the q321 kappa convention) because
    * (i·m)² overflows 64 bits at sf ≥ 1; the output micro is one
    * positive-operand integral DIV. Same view/purchase split as
    * q171 so the two tests read side by side.
    */
  private def qCramerVonMises(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(expr("CAST(round(value * 100) AS BIGINT)").as("v"),
        (col("event_type") === "view").cast("long").as("a"))
    val byV = e.groupBy("v").agg(sum(col("a")).as("ca"),
      sum(lit(1L) - col("a")).as("cb")).localCheckpoint()
    val tot = byV.agg(sum(col("ca")).as("n"), sum(col("cb")).as("m"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byV
      .withColumn("i", sum(col("ca")).over(w))
      .withColumn("j", sum(col("cb")).over(w))
      .crossJoin(broadcast(tot))
      // i·m − j·n fits a BIGINT at any plausible sf; its square does
      // not, so the squared term rides DECIMAL(38,0)
      .withColumn("d", col("i") * col("m") - col("j") * col("n"))
      .withColumn("term",
        (col("ca") + col("cb")).cast("decimal(38,0)") *
          col("d").cast("decimal(38,0)") * col("d"))
      .groupBy("n", "m")
      .agg(count(lit(1)).as("n_support"), sum(col("term")).as("st"))
      .select(col("n"), col("m"), col("n_support"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * st) DIV
               |(CAST(n AS DECIMAL(38,0)) * m * ((n + m) * (n + m)))
               |AS BIGINT)""".stripMargin).as("t_micro"))
  }
  // q417: pooled-support cumulative counts; the squared co-moment
  // rides HUGEINT (the DECIMAL(38,0) twin of the Spark side) and the
  // final micro is one positive-operand integral divide
  gate("q417_cramer_von_mises")(qCramerVonMises(_, _))(
    """WITH e AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS v,
      |         CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS a
      |  FROM events WHERE event_type IN ('view', 'purchase')),
      |byv AS (
      |  SELECT v, SUM(a)::BIGINT AS ca, SUM(1 - a)::BIGINT AS cb
      |  FROM e GROUP BY 1),
      |tot AS (SELECT SUM(ca)::BIGINT AS n, SUM(cb)::BIGINT AS m FROM byv),
      |cum AS (
      |  SELECT ca, cb,
      |         SUM(ca) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS i,
      |         SUM(cb) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS j
      |  FROM byv),
      |t AS (
      |  SELECT ca, cb,
      |         (i::HUGEINT * m - j::HUGEINT * n) AS d
      |  FROM cum, tot),
      |s AS (
      |  SELECT COUNT(*)::BIGINT AS n_support,
      |         SUM((ca + cb)::HUGEINT * d * d) AS st
      |  FROM t)
      |SELECT tot.n, tot.m, s.n_support,
      |       ((1000000::HUGEINT * s.st) //
      |        (tot.n::HUGEINT * tot.m
      |         * ((tot.n + tot.m)::HUGEINT * (tot.n + tot.m))))::BIGINT
      |         AS t_micro
      |FROM s, tot""".stripMargin)

  /** Two-group log-rank test (Mantel–Cox) on q305's churn clock:
    * cohorts split by user_id parity, per churn day the standard
    * O−E and hypergeometric-variance terms over the day-histogram
    * risk sets (never a users×days grid — the inequality join runs
    * on the ≤|days|² rollup). O1 exact; E1/V/statistic in quantized
    * micros, squared co-moment on DECIMAL(38,0) (q417 discipline).
    * The survival-curve COMPARISON gate q305's single-curve KM lacks.
    */
  private def qLogRank(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val span = e.agg(max(col("day")).as("max_day"))
    val ld = e.groupBy("user_id").agg(max(col("day")).as("last_day"))
      .withColumn("g", (col("user_id") % 2L).cast("long"))
      .crossJoin(broadcast(span))
    val churn = ld.filter(col("last_day") < col("max_day"))
      .groupBy(col("last_day").as("day"))
      .agg(count(lit(1)).as("d"), sum(col("g")).as("d1"))
    val endg = ld.groupBy(col("g").as("eg"), col("last_day").as("ed"))
      .agg(count(lit(1)).as("ending"))
    val totg = ld.groupBy("g").agg(count(lit(1)).as("n_users"))
    // risk set per (churn day, group): total minus endings strictly
    // before the day — |churn days| × |day histogram| bounded join
    val risk = churn.select(col("day")).crossJoin(broadcast(totg))
      .join(endg, col("eg") === col("g") && col("ed") < col("day"), "left")
      .groupBy(col("g"), col("day"), col("n_users"))
      .agg(coalesce(sum(col("ending")), lit(0L)).as("ended"))
      .select(col("g"), col("day"), (col("n_users") - col("ended")).as("nr"))
    val wide = risk.groupBy("day")
      .agg(sum(col("nr")).as("nt"),
        sum(when(col("g") === 1L, col("nr")).otherwise(0L)).as("n1"))
    churn.join(wide, "day")
      .select(col("d"), col("d1"), col("nt"), col("n1"))
      .agg(count(lit(1)).as("n_days"), sum(col("d1")).as("o1"),
        sum(expr("(1000000 * d * n1) DIV nt")).as("e1_micro"),
        sum(expr(
          """CASE WHEN nt > 1 THEN
            |  CAST((CAST(1000000 AS DECIMAL(38,0)) * d * n1 * (nt - n1)
            |    * (nt - d)) DIV (CAST(nt AS DECIMAL(38,0)) * nt * (nt - 1))
            |  AS BIGINT) ELSE 0 END""".stripMargin)).as("v_micro"))
      .select(col("n_days"), col("o1"), col("e1_micro"), col("v_micro"),
        expr(
          """CASE WHEN v_micro > 0 THEN CAST(
            |  (CAST(1000000 * o1 - e1_micro AS DECIMAL(38,0))
            |   * (1000000 * o1 - e1_micro)) DIV v_micro AS BIGINT)
            |END""".stripMargin).as("logrank_micro"))
  }
  // q418: parity cohorts on the q305 churn clock; risk sets from the
  // day-histogram inequality join; E/V/statistic in quantized micros
  // with the squared co-moment on HUGEINT (the q417 twin of Spark's
  // DECIMAL(38,0))
  gate("q418_logrank")(qLogRank(_, _))(
    """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |mx AS (SELECT MAX(day) AS max_day FROM e),
      |ld AS (SELECT user_id, MAX(day) AS last_day,
      |              (user_id % 2)::BIGINT AS g FROM e GROUP BY 1, 3),
      |churn AS (
      |  SELECT last_day AS day, COUNT(*)::BIGINT AS d,
      |         SUM(g)::BIGINT AS d1
      |  FROM ld, mx WHERE last_day < max_day GROUP BY 1),
      |endg AS (SELECT g, last_day AS ed, COUNT(*)::BIGINT AS ending
      |         FROM ld GROUP BY 1, 2),
      |totg AS (SELECT g, COUNT(*)::BIGINT AS n_users FROM ld GROUP BY 1),
      |risk AS (
      |  SELECT t.g, c.day, t.n_users - COALESCE(SUM(en.ending), 0) AS nr
      |  FROM (SELECT day FROM churn) c CROSS JOIN totg t
      |  LEFT JOIN endg en ON en.g = t.g AND en.ed < c.day
      |  GROUP BY 1, 2, t.n_users),
      |wide AS (
      |  SELECT day, SUM(nr)::BIGINT AS nt,
      |         SUM(CASE WHEN g = 1 THEN nr ELSE 0 END)::BIGINT AS n1
      |  FROM risk GROUP BY 1),
      |s AS (
      |  SELECT COUNT(*)::BIGINT AS n_days, SUM(c.d1)::BIGINT AS o1,
      |         SUM((1000000 * c.d * w.n1) // w.nt)::BIGINT AS e1_micro,
      |         SUM(CASE WHEN w.nt > 1 THEN
      |           ((1000000::HUGEINT * c.d * w.n1 * (w.nt - w.n1)
      |             * (w.nt - c.d))
      |            // (w.nt::HUGEINT * w.nt * (w.nt - 1)))::BIGINT
      |           ELSE 0 END)::BIGINT AS v_micro
      |  FROM churn c JOIN wide w ON w.day = c.day)
      |SELECT n_days, o1, e1_micro, v_micro,
      |  CASE WHEN v_micro > 0 THEN
      |    (((1000000 * o1 - e1_micro)::HUGEINT
      |      * (1000000 * o1 - e1_micro)) // v_micro)::BIGINT
      |  END AS logrank_micro
      |FROM s""".stripMargin)

  /** Fleiss' kappa inter-rater agreement: each user's FIRST five
    * events (by ts, event_id) are five "ratings" into the event-type
    * categories — chance-corrected agreement across Σn_ij(n_ij−1)
    * pairs. Everything is a count: P̄ and P_e share the common
    * denominator 500·N², so κ reduces to ONE integer ratio
    * (25N·ΣP − 20·ΣC²) / (20·(25N² − ΣC²)), emitted in sign-split
    * floor micros (the q218 convention — both engines' integer
    * division truncates identically on the non-negative operands).
    */
  private def qFleissKappa(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("tu", "event_id")
    val first5 = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tu"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_rated"),
        collect_list(col("event_type")).as("types"))
      .filter(col("n_rated") === 5)
      .select(col("user_id"), explode(col("types")).as("event_type"))
    val nij = first5.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("nij"))
    val perUser = nij.groupBy("user_id")
      .agg(sum(col("nij") * (col("nij") - 1L)).as("pnum"))
      .agg(count(lit(1)).as("n_subj"), sum(col("pnum")).as("sp"))
    val perCat = nij.groupBy("event_type").agg(sum(col("nij")).as("cj"))
      .agg(sum(col("cj") * col("cj")).as("sc2"))
    perUser.crossJoin(perCat)
      .select(col("n_subj"),
        expr("(1000000 * sp) DIV (20 * n_subj)").as("p_bar_micro"),
        expr("(1000000 * sc2) DIV (25 * n_subj * n_subj)").as("p_e_micro"),
        expr(
          """CASE WHEN 25 * n_subj * n_subj - sc2 > 0 THEN
            |  CASE WHEN 25 * n_subj * sp - 20 * sc2 >= 0 THEN
            |    (1000000 * (25 * n_subj * sp - 20 * sc2))
            |      DIV (20 * (25 * n_subj * n_subj - sc2))
            |  ELSE -((1000000 * (20 * sc2 - 25 * n_subj * sp))
            |      DIV (20 * (25 * n_subj * n_subj - sc2))) END
            |END""".stripMargin).as("kappa_micro"))
  }
  // q419: first-5-ratings design; kappa as ONE integer ratio over
  // the shared 500N² denominator, sign-split floor micros (q218)
  gate("q419_fleiss_kappa")(qFleissKappa(_, _))(
    """WITH r5 AS (
      |  SELECT user_id, event_type,
      |         ROW_NUMBER() OVER (PARTITION BY user_id
      |           ORDER BY epoch_us(ts), event_id) AS rn
      |  FROM events),
      |kept AS (
      |  SELECT user_id, event_type FROM r5 WHERE rn <= 5
      |  AND user_id IN (SELECT user_id FROM r5 GROUP BY 1
      |                  HAVING COUNT(*) >= 5)),
      |nij AS (SELECT user_id, event_type, COUNT(*)::BIGINT AS nij
      |        FROM kept GROUP BY 1, 2),
      |pu AS (
      |  SELECT COUNT(*)::BIGINT AS n_subj, SUM(pnum)::BIGINT AS sp
      |  FROM (SELECT user_id, SUM(nij * (nij - 1)) AS pnum
      |        FROM nij GROUP BY 1)),
      |pc AS (
      |  SELECT SUM(cj * cj)::BIGINT AS sc2
      |  FROM (SELECT event_type, SUM(nij) AS cj FROM nij GROUP BY 1))
      |SELECT n_subj,
      |  ((1000000 * sp) // (20 * n_subj))::BIGINT AS p_bar_micro,
      |  ((1000000 * sc2) // (25 * n_subj * n_subj))::BIGINT AS p_e_micro,
      |  (CASE WHEN 25 * n_subj * n_subj - sc2 > 0 THEN
      |    CASE WHEN 25 * n_subj * sp - 20 * sc2 >= 0 THEN
      |      (1000000 * (25 * n_subj * sp - 20 * sc2))
      |        // (20 * (25 * n_subj * n_subj - sc2))
      |    ELSE -((1000000 * (20 * sc2 - 25 * n_subj * sp))
      |        // (20 * (25 * n_subj * n_subj - sc2))) END
      |  END)::BIGINT AS kappa_micro
      |FROM pu, pc""".stripMargin)

  /** Cochran's Q omnibus test for k=5 related binary treatments: did
    * each user perform each event type at least once. Q's textbook
    * form reduces to the pure-integer identity
    * (k−1)·(k·ΣC_t² − N²) / (k·N − ΣR_i²) — numerator ≥ 0 by
    * power-mean, denominator Σ R(k−R) ≥ 0 with the all-or-nothing
    * degenerate corpus guarded to NULL. One user-keyed pivot scan,
    * then a 5-row rollup.
    */
  private def qCochranQ(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val ind = types.map(tp =>
      max(when(col("event_type") === tp, 1L).otherwise(0L)).as(s"x_$tp"))
    val x = Tables.events(s, dir).groupBy("user_id")
      .agg(ind.head, ind.tail: _*)
    val r = x.select(col("user_id"),
      types.map(tp => col(s"x_$tp")).reduce(_ + _).as("ri"))
    val agg = x.agg(
      count(lit(1)).as("n_users"),
      types.map(tp => sum(col(s"x_$tp")).as(s"c_$tp")): _*)
    val rs = r.agg(sum(col("ri")).as("n_grand"),
      sum(col("ri") * col("ri")).as("sr2"))
    agg.crossJoin(rs)
      .withColumn("sc2",
        types.map(tp => col(s"c_$tp") * col(s"c_$tp")).reduce(_ + _))
      .select(col("n_users") +: types.map(tp => col(s"c_$tp")) :+
        col("n_grand") :+
        expr("""CASE WHEN 5 * n_grand - sr2 > 0 THEN
               |  (1000000 * 4 * (5 * sc2 - n_grand * n_grand))
               |    DIV (5 * n_grand - sr2) END""".stripMargin)
          .as("q_micro"): _*)
  }
  // q420: the pure-integer Cochran identity
  // (k−1)(kΣC² − N²)/(kN − ΣR²), k = 5 event types
  gate("q420_cochran_q")(qCochranQ(_, _))(
    """WITH x AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS x_click,
      |    MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS x_error,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS x_purchase,
      |    MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS x_signup,
      |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS x_view
      |  FROM events GROUP BY 1),
      |agg AS (
      |  SELECT COUNT(*)::BIGINT AS n_users,
      |    SUM(x_click)::BIGINT AS c_click, SUM(x_error)::BIGINT AS c_error,
      |    SUM(x_purchase)::BIGINT AS c_purchase,
      |    SUM(x_signup)::BIGINT AS c_signup, SUM(x_view)::BIGINT AS c_view,
      |    SUM(x_click + x_error + x_purchase + x_signup + x_view)::BIGINT
      |      AS n_grand,
      |    SUM((x_click + x_error + x_purchase + x_signup + x_view)
      |      * (x_click + x_error + x_purchase + x_signup + x_view))::BIGINT
      |      AS sr2
      |  FROM x)
      |SELECT n_users, c_click, c_error, c_purchase, c_signup, c_view,
      |  n_grand,
      |  (CASE WHEN 5 * n_grand - sr2 > 0 THEN
      |    (1000000 * 4 * (5 * (c_click * c_click + c_error * c_error
      |       + c_purchase * c_purchase + c_signup * c_signup
      |       + c_view * c_view) - n_grand * n_grand))
      |      // (5 * n_grand - sr2) END)::BIGINT AS q_micro
      |FROM agg""".stripMargin)

  /** Cliff's delta effect size (Cliff 1993) between even- and odd-id
    * documents' token counts per source: δ = (#[a>b] − #[a<b])/(n·m),
    * computed WITHOUT the n×m pair grid — group docs by exact token
    * count, order the value histogram, prefix-sum the B side, so
    * #[a>b] = Σᵥ aᵥ·B₍₋ᵥ₎ and δ = (2·gt + ties − n·m)/(n·m). The
    * ordinal, whale-proof complement to q369's Cohen's d; cost is the
    * distinct-value histogram, never docs².
    */
  private def qCliffsDelta(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = t(s, dir, "documents")
      .select(col("source"), (col("doc_id") % 2 === 0L).as("grp_a"),
        size(split(col("text"), " ")).cast("long").as("tk"))
      .groupBy("source", "tk").agg(
        sum(when(col("grp_a"), 1L).otherwise(0L)).as("av"),
        sum(when(!col("grp_a"), 1L).otherwise(0L)).as("bv"))
    val w = Window.partitionBy("source").orderBy("tk")
      .rowsBetween(Window.unboundedPreceding, -1)
    v.withColumn("b_lt", coalesce(sum(col("bv")).over(w), lit(0L)))
      .groupBy("source").agg(
        sum(col("av")).as("n_a"), sum(col("bv")).as("n_b"),
        sum(col("av") * col("b_lt")).as("gt"),
        sum(col("av") * col("bv")).as("ties"))
      .select(col("source"), col("n_a"), col("n_b"), col("gt"), col("ties"),
        expr("""CASE WHEN n_a > 0 AND n_b > 0 THEN
               |  CAST(floor((2.0 * gt + ties - CAST(n_a AS DOUBLE) * n_b)
               |    / (CAST(n_a AS DOUBLE) * n_b) * 1000000.0 + 0.5) AS BIGINT)
               |END""".stripMargin).as("delta_micro"))
      .orderBy("source")
  }
  // q424: value-histogram prefix sums — #[a>b] without the pair grid
  gate("q424_cliffs_delta")(qCliffsDelta(_, _))(
    """WITH v AS (
      |  SELECT source, doc_id % 2 = 0 AS grp_a,
      |         len(string_split(text, ' '))::BIGINT AS tk
      |  FROM documents),
      |h AS (
      |  SELECT source, tk,
      |    SUM(CASE WHEN grp_a THEN 1 ELSE 0 END)::BIGINT AS av,
      |    SUM(CASE WHEN grp_a THEN 0 ELSE 1 END)::BIGINT AS bv
      |  FROM v GROUP BY 1, 2),
      |p AS (
      |  SELECT source, av, bv,
      |    COALESCE(SUM(bv) OVER (PARTITION BY source ORDER BY tk
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
      |      AS b_lt
      |  FROM h),
      |agg AS (
      |  SELECT source, SUM(av)::BIGINT AS n_a, SUM(bv)::BIGINT AS n_b,
      |         SUM(av * b_lt)::BIGINT AS gt, SUM(av * bv)::BIGINT AS ties
      |  FROM p GROUP BY 1)
      |SELECT source, n_a, n_b, gt, ties,
      |  CASE WHEN n_a > 0 AND n_b > 0 THEN
      |    CAST(floor((2.0 * gt + ties - CAST(n_a AS DOUBLE) * n_b)
      |      / (CAST(n_a AS DOUBLE) * n_b) * 1000000.0 + 0.5) AS BIGINT)
      |  END AS delta_micro
      |FROM agg ORDER BY source""".stripMargin)

  /** Kendall's coefficient of concordance W (Kendall & Babington
    * Smith 1939) over regions-as-raters ranking the order priorities
    * by volume: per region, a strict ranking of priorities by order
    * count (priority-name tiebreak — the no-ties classical form), rank
    * sums R_j, and W = (12·ΣR_j² − 3·m²·n·(n+1)²)/(m²·n·(n²−1)) as one
    * floor-micro ratio. The multi-rater ordinal-agreement gauge
    * (q419's Fleiss κ is its categorical sibling); everything rides
    * two grouped aggregations over a #regions×#priorities grid.
    */
  private def qKendallsW(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.load(s, dir, "orders")
    val c = Tables.load(s, dir, "customer")
    val n = Tables.load(s, dir, "nation")
    val r = Tables.load(s, dir, "region")
    val cell = o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("r_name").orderBy(col("cnt"), col("prio")))
        .cast("long"))
    val rs = cell.groupBy("prio").agg(sum(col("rk")).as("rank_sum"))
    val dims = cell.agg(
      countDistinct(col("r_name")).as("m"), countDistinct(col("prio")).as("n"))
    rs.crossJoin(broadcast(dims))
      .crossJoin(broadcast(
        rs.agg(sum(col("rank_sum") * col("rank_sum")).as("srr"))))
      .select(col("prio"), col("rank_sum"),
        expr("""CASE WHEN n > 1 THEN
               |  CAST(floor((12.0 * srr - 3.0 * m * m * n * (n + 1) * (n + 1))
               |    / (CAST(m AS DOUBLE) * m * n * (n * n - 1))
               |    * 1000000.0 + 0.5) AS BIGINT) END""".stripMargin)
          .as("w_micro"))
      .orderBy("prio")
  }
  // q425: strict per-region rankings (count, name tiebreak), rank
  // sums, ONE closed-form W ratio
  gate("q425_kendalls_w")(qKendallsW(_, _))(
    """WITH cell AS (
      |  SELECT r.r_name, o.o_orderpriority AS prio, COUNT(*)::BIGINT AS cnt
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT prio,
      |    ROW_NUMBER() OVER (PARTITION BY r_name ORDER BY cnt, prio)::BIGINT
      |      AS rk
      |  FROM cell),
      |rs AS (SELECT prio, SUM(rk)::BIGINT AS rank_sum FROM rk GROUP BY 1),
      |dims AS (
      |  SELECT COUNT(DISTINCT r_name)::BIGINT AS m,
      |         COUNT(DISTINCT prio)::BIGINT AS n
      |  FROM cell),
      |srr AS (SELECT SUM(rank_sum * rank_sum)::BIGINT AS srr FROM rs)
      |SELECT prio, rank_sum,
      |  CASE WHEN n > 1 THEN
      |    CAST(floor((12.0 * srr - 3.0 * m * m * n * (n + 1) * (n + 1))
      |      / (CAST(m AS DOUBLE) * m * n * (n * n - 1))
      |      * 1000000.0 + 0.5) AS BIGINT) END AS w_micro
      |FROM rs, dims, srr ORDER BY prio""".stripMargin)

  /** Goodman–Kruskal gamma (Goodman & Kruskal 1954) for the ordinal
    * association between lineitem quantity quintile and discount
    * level: concordant/discordant pair MASSES from the bounded
    * contingency grid — C = Σ nᵢⱼ·N₍﹥ᵢ,﹥ⱼ₎, D = Σ nᵢⱼ·N₍﹥ᵢ,﹤ⱼ₎ via a
    * broadcast self-join of the ≤ 5×11 cell table (grid², never
    * rows²), γ = (C−D)/(C+D) in floor micros. The tie-discarding rank
    * association, q318 Mann–Kendall's contingency-table cousin.
    */
  private def qGkGamma(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.load(s, dir, "lineitem")
      .select(expr("(CAST(l_quantity AS BIGINT) - 1) DIV 10").as("qi"),
        expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").as("dj"))
      .groupBy("qi", "dj").agg(count(lit(1)).as("nij"))
    val pairs = cells.as("x").join(broadcast(cells.as("y")),
        col("y.qi") > col("x.qi") && col("y.dj") =!= col("x.dj"))
      .select((col("x.nij") * col("y.nij")).as("mass"),
        (col("y.dj") > col("x.dj")).as("conc"))
    pairs.agg(
        coalesce(sum(when(col("conc"), col("mass"))), lit(0L)).as("c_mass"),
        coalesce(sum(when(!col("conc"), col("mass"))), lit(0L)).as("d_mass"))
      .crossJoin(broadcast(cells.agg(count(lit(1)).as("n_cells"))))
      .select(col("n_cells"), col("c_mass"), col("d_mass"),
        expr("""CASE WHEN c_mass + d_mass > 0 THEN
               |  CAST(floor((CAST(c_mass AS DOUBLE) - d_mass)
               |    / (CAST(c_mass AS DOUBLE) + d_mass)
               |    * 1000000.0 + 0.5) AS BIGINT) END""".stripMargin)
          .as("gamma_micro"))
  }
  // q426: concordant/discordant MASSES from the bounded grid's
  // self-join — grid², never rows²
  gate("q426_gk_gamma")(qGkGamma(_, _))(
    """WITH cells AS (
      |  SELECT (CAST(l_quantity AS BIGINT) - 1) // 10 AS qi,
      |         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dj,
      |         COUNT(*)::BIGINT AS nij
      |  FROM lineitem GROUP BY 1, 2),
      |pairs AS (
      |  SELECT x.nij * y.nij AS mass, y.dj > x.dj AS conc
      |  FROM cells x JOIN cells y ON y.qi > x.qi AND y.dj <> x.dj),
      |cd AS (
      |  SELECT
      |    COALESCE(SUM(CASE WHEN conc THEN mass END), 0)::BIGINT AS c_mass,
      |    COALESCE(SUM(CASE WHEN NOT conc THEN mass END), 0)::BIGINT AS d_mass
      |  FROM pairs)
      |SELECT (SELECT COUNT(*)::BIGINT FROM cells) AS n_cells,
      |  c_mass, d_mass,
      |  CASE WHEN c_mass + d_mass > 0 THEN
      |    CAST(floor((CAST(c_mass AS DOUBLE) - d_mass)
      |      / (CAST(c_mass AS DOUBLE) + d_mass) * 1000000.0 + 0.5) AS BIGINT)
      |  END AS gamma_micro
      |FROM cd""".stripMargin)

  /** Page's trend test (Page 1963) for an ordered alternative across
    * the week: blocks = event types, treatments = weekdays 1..7 in
    * their natural order, each block ranking its weekdays by volume
    * (count, weekday tiebreak — strict ranks). L = Σⱼ j·Rⱼ against
    * E[L] = m·n(n+1)²/4 and Var[L] = m·n²(n+1)(n²−1)/144; z closes in
    * the shared IEEE double chain (√ is correctly rounded — the q410
    * rule: ln/exp are per-build, +,×,÷,√ are not). The ordered
    * counterpart of q385's Friedman: same ranks, but the alternative
    * is a monotone weekday trend, not mere inequality.
    */
  private def qPageTrend(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cell = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("CAST(dayofweek(ts) - 1 AS BIGINT)").as("wd"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type").orderBy(col("cnt"), col("wd")))
        .cast("long"))
    val rs = cell.groupBy("wd").agg(sum(col("rk")).as("rank_sum"))
    val dims = cell.agg(countDistinct(col("event_type")).as("m"),
      countDistinct(col("wd")).as("n"))
    val l = rs.agg(sum((col("wd") + 1L) * col("rank_sum")).as("l_stat"))
    rs.crossJoin(broadcast(dims)).crossJoin(broadcast(l))
      .select(col("wd").as("weekday"), col("rank_sum"), col("l_stat"),
        expr("""CASE WHEN n > 1 THEN
               |  CAST(floor((CAST(l_stat AS DOUBLE)
               |      - CAST(m AS DOUBLE) * n * (n + 1) * (n + 1) / 4.0)
               |    / sqrt(CAST(m AS DOUBLE) * n * n * (n + 1)
               |        * (n * n - 1) / 144.0)
               |    * 1000000.0 + 0.5) AS BIGINT) END""".stripMargin)
          .as("z_micro"))
      .orderBy("weekday")
  }
  // q428: strict per-block weekday ranks; L closes in the shared
  // IEEE chain (√ correctly rounded — no libm). DuckDB dayofweek is
  // already 0-based (Spark side shifts by -1 to match).
  gate("q428_page_trend")(qPageTrend(_, _))(
    """WITH cell AS (
      |  SELECT event_type, dayofweek(ts)::BIGINT AS wd, COUNT(*)::BIGINT AS cnt
      |  FROM events GROUP BY 1, 2),
      |rk AS (
      |  SELECT wd,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cnt, wd)::BIGINT
      |      AS rk
      |  FROM cell),
      |rs AS (SELECT wd, SUM(rk)::BIGINT AS rank_sum FROM rk GROUP BY 1),
      |dims AS (
      |  SELECT COUNT(DISTINCT event_type)::BIGINT AS m,
      |         COUNT(DISTINCT wd)::BIGINT AS n
      |  FROM cell),
      |l AS (SELECT SUM((wd + 1) * rank_sum)::BIGINT AS l_stat FROM rs)
      |SELECT wd AS weekday, rank_sum, l_stat,
      |  CASE WHEN n > 1 THEN
      |    CAST(floor((CAST(l_stat AS DOUBLE)
      |        - CAST(m AS DOUBLE) * n * (n + 1) * (n + 1) / 4.0)
      |      / sqrt(CAST(m AS DOUBLE) * n * n * (n + 1)
      |          * (n * n - 1) / 144.0)
      |      * 1000000.0 + 0.5) AS BIGINT) END AS z_micro
      |FROM rs, dims, l ORDER BY weekday""".stripMargin)

  /** Cochran–Armitage trend test (Cochran 1954, Armitage 1955) for a
    * monotone return-rate trend across lineitem quantity quintiles:
    * per-level cells (nᵢ, rᵢ) with scores tᵢ = 0..4, exact BIGINT
    * co-moments Σtr, Σtn, Σt²n, and
    * z² = N·(N·Σtr − R·Σtn)² / (R(N−R)(N·Σt²n − (Σtn)²)) closing in
    * the shared IEEE chain. The dose-response upgrade of q147's
    * chi-square: 2×k contingency + ORDER, one scan plus a 5-row
    * aggregate.
    */
  private def qCochranArmitage(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.load(s, dir, "lineitem")
      .select(expr("(CAST(l_quantity AS BIGINT) - 1) DIV 10").as("t"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"))
      .groupBy("t").agg(count(lit(1)).as("n_i"), sum(col("ret")).as("r_i"))
    val mom = cells.agg(
      sum(col("n_i")).as("nn"), sum(col("r_i")).as("rr"),
      sum(col("t") * col("r_i")).as("str"),
      sum(col("t") * col("n_i")).as("stn"),
      sum(col("t") * col("t") * col("n_i")).as("sttn"))
    cells.crossJoin(broadcast(mom))
      .select(col("t").as("level"), col("n_i"), col("r_i"),
        expr("""CASE WHEN rr > 0 AND nn > rr
               |  AND nn * sttn - stn * stn > 0 THEN
               |  CAST(floor(CAST(nn AS DOUBLE)
               |      * (CAST(nn AS DOUBLE) * str - CAST(rr AS DOUBLE) * stn)
               |      * (CAST(nn AS DOUBLE) * str - CAST(rr AS DOUBLE) * stn)
               |    / (CAST(rr AS DOUBLE) * (nn - rr)
               |        * (CAST(nn AS DOUBLE) * sttn
               |            - CAST(stn AS DOUBLE) * stn))
               |    * 1000000.0 + 0.5) AS BIGINT) END""".stripMargin)
          .as("z2_micro"))
      .orderBy("level")
  }
  // q430: exact BIGINT co-moments; z² closes in the shared IEEE chain
  gate("q430_cochran_armitage")(qCochranArmitage(_, _))(
    """WITH cells AS (
      |  SELECT (CAST(l_quantity AS BIGINT) - 1) // 10 AS t,
      |         COUNT(*)::BIGINT AS n_i,
      |         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT
      |           AS r_i
      |  FROM lineitem GROUP BY 1),
      |mom AS (
      |  SELECT SUM(n_i)::BIGINT AS nn, SUM(r_i)::BIGINT AS rr,
      |         SUM(t * r_i)::BIGINT AS str, SUM(t * n_i)::BIGINT AS stn,
      |         SUM(t * t * n_i)::BIGINT AS sttn
      |  FROM cells)
      |SELECT t AS level, n_i, r_i,
      |  CASE WHEN rr > 0 AND nn > rr AND nn * sttn - stn * stn > 0 THEN
      |    CAST(floor(CAST(nn AS DOUBLE)
      |        * (CAST(nn AS DOUBLE) * str - CAST(rr AS DOUBLE) * stn)
      |        * (CAST(nn AS DOUBLE) * str - CAST(rr AS DOUBLE) * stn)
      |      / (CAST(rr AS DOUBLE) * (nn - rr)
      |          * (CAST(nn AS DOUBLE) * sttn
      |              - CAST(stn AS DOUBLE) * stn))
      |      * 1000000.0 + 0.5) AS BIGINT) END AS z2_micro
      |FROM cells, mom ORDER BY level""".stripMargin)

  /** Jonckheere–Terpstra trend test (Jonckheere 1954, Terpstra 1952)
    * for a monotone price shift across quantity quintiles:
    * J = Σᵢ﹤ⱼ U_ij (strict a<b form) computed from a BOUNDED value
    * histogram — price in hundred-dollar buckets, per-quintile counts
    * pivoted wide, per-bucket cumulative counts via the
    * range-partitioned two-pass prefix sums (Prefix.withPrefixSums —
    * the bucket count is price-domain-bounded, not constant-bounded,
    * so no single-task window), so each bucket contributes
    * Σⱼ cntⱼ·Σᵢ﹤ⱼ cumᵢ — never a rows² pair grid. z closes against
    * E[J] = (N²−Σnᵢ²)/4, Var[J] = (N²(2N+3)−Σnᵢ²(2nᵢ+3))/72 in the
    * shared IEEE chain. The k-group ordered alternative q317's
    * two-group Mann–Whitney can't express and q430 only covers for
    * binary outcomes.
    */
  private def qJonckheere(s: SparkSession, dir: String): DataFrame = {
    val h = Tables.load(s, dir, "lineitem")
      .select(expr("(CAST(l_quantity AS BIGINT) - 1) DIV 10").as("g"),
        expr("CAST(floor(l_extendedprice + 0.5) AS BIGINT) DIV 100").as("v"))
      .groupBy("v").agg(
        sum(when(col("g") === 0L, 1L).otherwise(0L)).as("c0"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("c1"),
        sum(when(col("g") === 2L, 1L).otherwise(0L)).as("c2"),
        sum(when(col("g") === 3L, 1L).otherwise(0L)).as("c3"),
        sum(when(col("g") === 4L, 1L).otherwise(0L)).as("c4"))
    // round-10: the ≤~1.1k-bucket cumulative scan rides the
    // range-partitioned two-pass prefix sums — the bound was a DOMAIN
    // bound (price range), not a constant; a wider-priced corpus must
    // not regrow a single-task window (ex-boundedWindowJustified entry)
    val cum = graft.pipeline.Prefix
      .withPrefixSums(h, Seq("v"), Seq("c0", "c1", "c2", "c3"))
      .withColumnRenamed("prefix_c0", "m0")
      .withColumnRenamed("prefix_c1", "m1")
      .withColumnRenamed("prefix_c2", "m2")
      .withColumnRenamed("prefix_c3", "m3")
    val mom = cum.agg(
      sum(col("c1") * col("m0")
        + col("c2") * (col("m0") + col("m1"))
        + col("c3") * (col("m0") + col("m1") + col("m2"))
        + col("c4") * (col("m0") + col("m1") + col("m2") + col("m3")))
        .as("j_stat"),
      sum(col("c0") + col("c1") + col("c2") + col("c3") + col("c4")).as("nn"),
      sum(col("c0")).as("n0"), sum(col("c1")).as("n1"),
      sum(col("c2")).as("n2"), sum(col("c3")).as("n3"),
      sum(col("c4")).as("n4"))
    mom.select(col("j_stat"), col("nn"),
        col("n0"), col("n1"), col("n2"), col("n3"), col("n4"),
        expr("""CASE WHEN nn > 1 THEN CAST(floor(
               |  (CAST(j_stat AS DOUBLE)
               |    - (CAST(nn AS DOUBLE) * nn
               |       - (CAST(n0 AS DOUBLE) * n0 + CAST(n1 AS DOUBLE) * n1
               |          + CAST(n2 AS DOUBLE) * n2 + CAST(n3 AS DOUBLE) * n3
               |          + CAST(n4 AS DOUBLE) * n4)) / 4.0)
               |  / sqrt((CAST(nn AS DOUBLE) * nn * (2.0 * nn + 3.0)
               |     - (CAST(n0 AS DOUBLE) * n0 * (2.0 * n0 + 3.0)
               |        + CAST(n1 AS DOUBLE) * n1 * (2.0 * n1 + 3.0)
               |        + CAST(n2 AS DOUBLE) * n2 * (2.0 * n2 + 3.0)
               |        + CAST(n3 AS DOUBLE) * n3 * (2.0 * n3 + 3.0)
               |        + CAST(n4 AS DOUBLE) * n4 * (2.0 * n4 + 3.0))) / 72.0)
               |  * 1000000.0 + 0.5) AS BIGINT) END""".stripMargin)
          .as("z_micro"))
  }
  // q431: bounded price-bucket histogram, wide per-quintile counts,
  // ordered cumulative window; z closes in the shared IEEE chain
  // eager: Prefix.withPrefixSums collects its offsets
  gate("q431_jonckheere", eager = true)(qJonckheere(_, _))(
    """WITH h AS (
      |  SELECT CAST(floor(l_extendedprice + 0.5) AS BIGINT) // 100 AS v,
      |    SUM(CASE WHEN (CAST(l_quantity AS BIGINT) - 1) // 10 = 0 THEN 1 ELSE 0 END)::BIGINT AS c0,
      |    SUM(CASE WHEN (CAST(l_quantity AS BIGINT) - 1) // 10 = 1 THEN 1 ELSE 0 END)::BIGINT AS c1,
      |    SUM(CASE WHEN (CAST(l_quantity AS BIGINT) - 1) // 10 = 2 THEN 1 ELSE 0 END)::BIGINT AS c2,
      |    SUM(CASE WHEN (CAST(l_quantity AS BIGINT) - 1) // 10 = 3 THEN 1 ELSE 0 END)::BIGINT AS c3,
      |    SUM(CASE WHEN (CAST(l_quantity AS BIGINT) - 1) // 10 = 4 THEN 1 ELSE 0 END)::BIGINT AS c4
      |  FROM lineitem GROUP BY 1),
      |cum AS (
      |  SELECT c0, c1, c2, c3, c4,
      |    COALESCE(SUM(c0) OVER w, 0)::BIGINT AS m0,
      |    COALESCE(SUM(c1) OVER w, 0)::BIGINT AS m1,
      |    COALESCE(SUM(c2) OVER w, 0)::BIGINT AS m2,
      |    COALESCE(SUM(c3) OVER w, 0)::BIGINT AS m3
      |  FROM h WINDOW w AS (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |mom AS (
      |  SELECT
      |    SUM(c1 * m0 + c2 * (m0 + m1) + c3 * (m0 + m1 + m2)
      |        + c4 * (m0 + m1 + m2 + m3))::BIGINT AS j_stat,
      |    SUM(c0 + c1 + c2 + c3 + c4)::BIGINT AS nn,
      |    SUM(c0)::BIGINT AS n0, SUM(c1)::BIGINT AS n1,
      |    SUM(c2)::BIGINT AS n2, SUM(c3)::BIGINT AS n3,
      |    SUM(c4)::BIGINT AS n4
      |  FROM cum)
      |SELECT j_stat, nn, n0, n1, n2, n3, n4,
      |  CASE WHEN nn > 1 THEN CAST(floor(
      |    (CAST(j_stat AS DOUBLE)
      |      - (CAST(nn AS DOUBLE) * nn
      |         - (CAST(n0 AS DOUBLE) * n0 + CAST(n1 AS DOUBLE) * n1
      |            + CAST(n2 AS DOUBLE) * n2 + CAST(n3 AS DOUBLE) * n3
      |            + CAST(n4 AS DOUBLE) * n4)) / 4.0)
      |    / sqrt((CAST(nn AS DOUBLE) * nn * (2.0 * nn + 3.0)
      |       - (CAST(n0 AS DOUBLE) * n0 * (2.0 * n0 + 3.0)
      |          + CAST(n1 AS DOUBLE) * n1 * (2.0 * n1 + 3.0)
      |          + CAST(n2 AS DOUBLE) * n2 * (2.0 * n2 + 3.0)
      |          + CAST(n3 AS DOUBLE) * n3 * (2.0 * n3 + 3.0)
      |          + CAST(n4 AS DOUBLE) * n4 * (2.0 * n4 + 3.0))) / 72.0)
      |    * 1000000.0 + 0.5) AS BIGINT) END AS z_micro
      |FROM mom""".stripMargin)

  /** Decision-stump split finder (CART's Gini criterion, Breiman
    * 1984) over a BOUNDED threshold grid: label = urgent order,
    * feature = total price in hundred-dollar buckets; for every
    * candidate threshold the left/right class counts come from ONE
    * range-partitioned two-pass cumulative scan
    * (Prefix.withPrefixSums — the histogram is price-domain-bounded,
    * not constant-bounded, so no single-task window), weighted
    * impurity (nL·2pL(1−pL) + nR·2pR(1−pR))/N closes in the shared
    * IEEE chain, and the 5 best splits survive (impurity, threshold
    * order). The feature-screening primitive behind every
    * tree/boosting pipeline — histogram-bounded, one scan, never a
    * per-row sort.
    */
  private def qGiniSplit(s: SparkSession, dir: String): DataFrame = {
    val h = Tables.load(s, dir, "orders")
      .select(expr("CAST(floor(o_totalprice + 0.5) AS BIGINT) DIV 100").as("v"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("y"))
      .groupBy("v").agg(count(lit(1)).as("n"), sum(col("y")).as("p1"))
    // round-10: the threshold sweep's cumulative class counts ride the
    // range-partitioned two-pass prefix sums (inclusive = exclusive +
    // current row) — the ≤~6k bound was a price-DOMAIN bound, so a
    // wider-priced corpus must not regrow a single-task window
    // (ex-boundedWindowJustified entry)
    val cum = graft.pipeline.Prefix
      .withPrefixSums(h, Seq("v"), Seq("n", "p1"))
      .withColumn("nl", col("prefix_n") + col("n"))
      .withColumn("pl", col("prefix_p1") + col("p1"))
    cum.crossJoin(broadcast(
        h.agg(sum(col("n")).as("nt"), sum(col("p1")).as("pt"))))
      .filter(col("nl") < col("nt"))
      .select(col("v").as("threshold"), col("nl").as("n_left"),
        (col("nt") - col("nl")).as("n_right"),
        expr("""CAST(floor((
               |    CAST(nl AS DOUBLE)
               |      * (2.0 * (CAST(pl AS DOUBLE) / nl)
               |         * (1.0 - CAST(pl AS DOUBLE) / nl))
               |  + CAST(nt - nl AS DOUBLE)
               |      * (2.0 * (CAST(pt - pl AS DOUBLE) / (nt - nl))
               |         * (1.0 - CAST(pt - pl AS DOUBLE) / (nt - nl))))
               |  / nt * 1000000.0 + 0.5) AS BIGINT)""".stripMargin)
          .as("gini_micro"))
      .orderBy(col("gini_micro"), col("threshold")).limit(5)
  }
  // q434: cumulative class counts over the bounded bucket histogram;
  // weighted impurity closes in the shared IEEE chain
  // eager: Prefix.withPrefixSums collects its offsets
  gate("q434_gini_split", eager = true)(qGiniSplit(_, _))(
    """WITH h AS (
      |  SELECT CAST(floor(o_totalprice + 0.5) AS BIGINT) // 100 AS v,
      |         COUNT(*)::BIGINT AS n,
      |         SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT AS pos
      |  FROM orders GROUP BY 1),
      |cum AS (
      |  SELECT v,
      |    SUM(n) OVER w::BIGINT AS nl, SUM(pos) OVER w::BIGINT AS pl
      |  FROM h WINDOW w AS (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |tot AS (SELECT SUM(n)::BIGINT AS nt, SUM(pos)::BIGINT AS pt FROM h)
      |SELECT v AS threshold, nl AS n_left, (nt - nl)::BIGINT AS n_right,
      |  CAST(floor((
      |      CAST(nl AS DOUBLE)
      |        * (2.0 * (CAST(pl AS DOUBLE) / nl)
      |           * (1.0 - CAST(pl AS DOUBLE) / nl))
      |    + CAST(nt - nl AS DOUBLE)
      |        * (2.0 * (CAST(pt - pl AS DOUBLE) / (nt - nl))
      |           * (1.0 - CAST(pt - pl AS DOUBLE) / (nt - nl))))
      |    / nt * 1000000.0 + 0.5) AS BIGINT) AS gini_micro
      |FROM cum, tot WHERE nl < nt
      |ORDER BY gini_micro, threshold LIMIT 5""".stripMargin)

  /** Linear-weighted Cohen's kappa (Cohen 1968) between two ordinal
    * 5-point "raters" of lineitem size — quantity quintile vs fixed
    * price band: disagreement weights wᵢⱼ = |i−j| over the 5×5 grid,
    * κ_w = 1 − N·Σw·Oᵢⱼ / Σw·rowᵢ·colⱼ with every sum an exact BIGINT
    * off the 25-cell contingency (marginals via grid-local windows).
    * The partial-credit agreement gauge q321's unweighted κ lacks —
    * adjacent-band disagreement costs 1, far-band costs up to 4.
    */
  private def qWeightedKappa(s: SparkSession, dir: String): DataFrame = {
    val grid = Tables.load(s, dir, "lineitem")
      .select(expr("(CAST(l_quantity AS BIGINT) - 1) DIV 10").as("i"),
        least(expr("CAST(floor(l_extendedprice + 0.5) AS BIGINT) DIV 20000"),
          lit(4L)).as("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("o"))
    val rows = grid.groupBy("i").agg(sum(col("o")).as("ri"))
    val cols = grid.groupBy("j").agg(sum(col("o")).as("cj"))
    val wo = grid.agg(sum(abs(col("i") - col("j")) * col("o")).as("swo"),
      sum(col("o")).as("nn"))
    val we = rows.crossJoin(cols)
      .agg(sum(abs(col("i") - col("j")) * col("ri") * col("cj")).as("swe"))
    grid.join(broadcast(rows), "i").join(broadcast(cols), "j")
      .crossJoin(broadcast(wo)).crossJoin(broadcast(we))
      .select(col("i").as("qty_band"), col("j").as("price_band"),
        col("o").as("n_cell"),
        expr("""CASE WHEN swe > 0 THEN
               |  CAST(floor((1.0 - CAST(nn AS DOUBLE) * swo / swe)
               |    * 1000000.0 + 0.5) AS BIGINT) END""".stripMargin)
          .as("kappa_w_micro"))
      .orderBy("qty_band", "price_band")
  }
  // q436: 25-cell grid, exact BIGINT weighted sums, one double close
  gate("q436_weighted_kappa")(qWeightedKappa(_, _))(
    """WITH grid AS (
      |  SELECT (CAST(l_quantity AS BIGINT) - 1) // 10 AS i,
      |         LEAST(CAST(floor(l_extendedprice + 0.5) AS BIGINT) // 20000,
      |               4) AS j,
      |         COUNT(*)::BIGINT AS o
      |  FROM lineitem GROUP BY 1, 2),
      |rows_m AS (SELECT i, SUM(o)::BIGINT AS ri FROM grid GROUP BY 1),
      |cols_m AS (SELECT j, SUM(o)::BIGINT AS cj FROM grid GROUP BY 1),
      |wo AS (
      |  SELECT SUM(abs(i - j) * o)::BIGINT AS swo, SUM(o)::BIGINT AS nn
      |  FROM grid),
      |we AS (
      |  SELECT SUM(abs(r.i - c.j) * r.ri * c.cj)::BIGINT AS swe
      |  FROM rows_m r, cols_m c)
      |SELECT g.i AS qty_band, g.j AS price_band, g.o AS n_cell,
      |  CASE WHEN swe > 0 THEN
      |    CAST(floor((1.0 - CAST(nn AS DOUBLE) * swo / swe)
      |      * 1000000.0 + 0.5) AS BIGINT) END AS kappa_w_micro
      |FROM grid g, wo, we ORDER BY qty_band, price_band""".stripMargin)

  /** Holm step-down multiple-testing correction (Holm 1979) on q403's
    * per-term split-imbalance tests: same empirical p = r/m from the
    * stat histogram, but the STEP-DOWN rule — walk p-ascending and
    * reject while p₍ᵢ₎ ≤ α/(m−i+1), i.e. the exact integer test
    * 20·r·(m−i+1) ≤ m at α = 0.05, stopping at the FIRST failure.
    * Controls family-wise error (every rejection defensible alone)
    * where q403's BH only controls FDR; uniformly more conservative,
    * and the gate pins that: Holm's rejection set ⊆ BH's on the same
    * stats. Same vocabulary-bounded rank window as q403.
    */
  private def qHolm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct()
      .groupBy("term").agg(count(lit(1)).as("df"),
        sum(when(col("doc_id") % 2 === 0L, 1L).otherwise(0L)).as("df_even"))
      .filter(col("df") >= 25L)
      .withColumn("stat", abs(col("df_even") * 2L - col("df")))
      .localCheckpoint()
    val byStat = per.groupBy("stat").agg(count(lit(1)).as("nv"))
      .withColumn("r", sum(col("nv")).over(
        Window.orderBy(col("stat").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("stat", "r")
    val ranked = per.join(broadcast(byStat), Seq("stat"))
      .crossJoin(broadcast(per.agg(count(lit(1)).as("m"))))
      .withColumn("p_micro", expr("(1000000 * r) DIV m"))
      .withColumn("i", row_number().over(
        Window.orderBy(col("stat").desc, col("term"))).cast("long"))
      .localCheckpoint()
    val firstFail = ranked.agg(
      coalesce(min(when(col("r") * 20L * (col("m") - col("i") + 1L) > col("m"),
        col("i"))), max(col("m")) + 1L).as("kfail"))
    ranked.crossJoin(broadcast(firstFail))
      .select(col("term"), col("df"), col("stat"), col("p_micro"),
        col("i").as("holm_rank"),
        when(col("i") < col("kfail"), 1L).otherwise(0L).as("rejected"))
      .orderBy("term")
  }
  // q437: q403's histogram p-values; step-down rule as the exact
  // integer test 20·r·(m−i+1) ≤ m, rejection = before first failure
  gate("q437_holm")(qHolm(_, _))(
    """WITH per AS (
      |  SELECT term, COUNT(*)::BIGINT AS df,
      |    SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS df_even
      |  FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents) t
      |  GROUP BY 1 HAVING COUNT(*) >= 25),
      |st AS (SELECT term, df, abs(df_even * 2 - df)::BIGINT AS stat FROM per),
      |by_stat AS (
      |  SELECT stat, SUM(COUNT(*)) OVER (ORDER BY stat DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS r
      |  FROM st GROUP BY stat),
      |m AS (SELECT COUNT(*)::BIGINT AS m FROM st),
      |ranked AS (
      |  SELECT s.term, s.df, s.stat, b.r, m.m,
      |    ((1000000 * b.r) // m.m)::BIGINT AS p_micro,
      |    ROW_NUMBER() OVER (ORDER BY s.stat DESC, s.term)::BIGINT AS i
      |  FROM st s JOIN by_stat b ON s.stat = b.stat, m),
      |ff AS (
      |  SELECT COALESCE(MIN(CASE WHEN r * 20 * (m - i + 1) > m THEN i END),
      |                  MAX(m) + 1)::BIGINT AS kfail
      |  FROM ranked)
      |SELECT term, df, stat, p_micro, i AS holm_rank,
      |       CASE WHEN i < kfail THEN 1 ELSE 0 END::BIGINT AS rejected
      |FROM ranked, ff ORDER BY term""".stripMargin)

  /** Yuen's trimmed two-sample t (Yuen 1974) on hundred-dollar order
    * buckets, 10% trim per side: the md5-split A/B groups' order
    * statistics come from the bounded bucket histogram — each bucket
    * contributes overlap(⟦cum, cum+cnt⟧, ⟦k+1, n−k⟧) rows to the
    * trimmed core (pure integer interval arithmetic, no per-row
    * sort), winsorized moments add k copies of the (k+1)-th and
    * (n−k)-th order stats (conditional-min lookups on the cumulative),
    * and t = (x̄ₜ₁−x̄ₜ₂)/√(d₁+d₂), d = (n−1)s²w/(h(h−1)) closes in the
    * shared IEEE chain. The outlier-robust A/B read q165's Welch t
    * loses when a whale order lands in one arm.
    */
  private def qYuenTrimmedT(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = Tables.load(s, dir, "orders")
      .select(
        expr("CAST(conv(substring(md5(concat('yu:', o_custkey)), 1, 15), 16, 10) AS BIGINT) % 2")
          .as("grp"),
        expr("CAST(floor(o_totalprice + 0.5) AS BIGINT) DIV 100").as("v"))
      .groupBy("grp", "v").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = h.withColumn("cb", coalesce(sum(col("cnt")).over(w), lit(0L)))
    val tot = h.groupBy("grp").agg(sum(col("cnt")).as("n"))
      .withColumn("k", expr("n DIV 10"))
    val parts = cum.join(broadcast(tot), Seq("grp"))
      .withColumn("ov", greatest(lit(0L),
        least(col("cb") + col("cnt"), col("n") - col("k"))
          - greatest(col("cb"), col("k"))))
      .groupBy("grp").agg(
        max(col("n")).as("n"), max(col("k")).as("k"),
        sum(col("v") * col("ov")).as("st"),
        sum(col("v") * col("v") * col("ov")).as("sst"),
        min(when(col("cb") + col("cnt") >= col("k") + 1L, col("v")))
          .as("vlo"),
        min(when(col("cb") + col("cnt") >= col("n") - col("k"), col("v")))
          .as("vhi"))
      .withColumn("hh", col("n") - col("k") * 2L)
      .withColumn("sw", col("st") + col("k") * (col("vlo") + col("vhi")))
      .withColumn("ssw", col("sst")
        + col("k") * (col("vlo") * col("vlo") + col("vhi") * col("vhi")))
    val wide = parts.agg(
      max(when(col("grp") === 0L, col("st"))).as("st0"),
      max(when(col("grp") === 0L, col("hh"))).as("h0"),
      max(when(col("grp") === 0L, col("n"))).as("n0"),
      max(when(col("grp") === 0L, col("sw"))).as("sw0"),
      max(when(col("grp") === 0L, col("ssw"))).as("ssw0"),
      max(when(col("grp") === 1L, col("st"))).as("st1"),
      max(when(col("grp") === 1L, col("hh"))).as("h1"),
      max(when(col("grp") === 1L, col("n"))).as("n1"),
      max(when(col("grp") === 1L, col("sw"))).as("sw1"),
      max(when(col("grp") === 1L, col("ssw"))).as("ssw1"))
    parts.select(col("grp"), col("n"), col("k"), col("hh"), col("vlo"),
        col("vhi"),
        expr("""CASE WHEN hh > 0 THEN
               |  CAST(floor(CAST(st AS DOUBLE) / hh * 1000000.0 + 0.5)
               |    AS BIGINT) END""".stripMargin).as("trimmed_mean_micro"))
      .crossJoin(broadcast(wide))
      .withColumn("t_micro",
        expr("""CASE WHEN h0 > 1 AND h1 > 1 THEN
               |  CAST(floor(
               |    (CAST(st0 AS DOUBLE) / h0 - CAST(st1 AS DOUBLE) / h1)
               |    / sqrt(
               |        (CAST(ssw0 AS DOUBLE) - CAST(sw0 AS DOUBLE) * sw0 / n0)
               |          / (CAST(h0 AS DOUBLE) * (h0 - 1))
               |      + (CAST(ssw1 AS DOUBLE) - CAST(sw1 AS DOUBLE) * sw1 / n1)
               |          / (CAST(h1 AS DOUBLE) * (h1 - 1)))
               |    * 1000000.0 + 0.5) AS BIGINT) END""".stripMargin))
      .select("grp", "n", "k", "hh", "vlo", "vhi", "trimmed_mean_micro",
        "t_micro")
      .orderBy("grp")
  }
  // q438: bucket-histogram order statistics; trimmed core via
  // integer interval overlap; the t chain is shared verbatim
  gate("q438_yuen_trimmed_t")(qYuenTrimmedT(_, _))(
    """WITH h AS (
      |  SELECT ('0x' || substr(md5('yu:' || o_custkey::VARCHAR), 1, 15))
      |           ::BIGINT % 2 AS grp,
      |         CAST(floor(o_totalprice + 0.5) AS BIGINT) // 100 AS v,
      |         COUNT(*)::BIGINT AS cnt
      |  FROM orders GROUP BY 1, 2),
      |cum AS (
      |  SELECT grp, v, cnt,
      |    COALESCE(SUM(cnt) OVER (PARTITION BY grp ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
      |      AS cb
      |  FROM h),
      |tot AS (
      |  SELECT grp, SUM(cnt)::BIGINT AS n, (SUM(cnt) // 10)::BIGINT AS k
      |  FROM h GROUP BY 1),
      |parts AS (
      |  SELECT c.grp, MAX(t.n)::BIGINT AS n, MAX(t.k)::BIGINT AS k,
      |    SUM(c.v * GREATEST(0, LEAST(c.cb + c.cnt, t.n - t.k)
      |        - GREATEST(c.cb, t.k)))::BIGINT AS st,
      |    SUM(c.v * c.v * GREATEST(0, LEAST(c.cb + c.cnt, t.n - t.k)
      |        - GREATEST(c.cb, t.k)))::BIGINT AS sst,
      |    MIN(CASE WHEN c.cb + c.cnt >= t.k + 1 THEN c.v END)::BIGINT
      |      AS vlo,
      |    MIN(CASE WHEN c.cb + c.cnt >= t.n - t.k THEN c.v END)::BIGINT
      |      AS vhi
      |  FROM cum c JOIN tot t ON c.grp = t.grp
      |  GROUP BY 1),
      |ext AS (
      |  SELECT grp, n, k, (n - 2 * k)::BIGINT AS hh, vlo, vhi, st,
      |    (st + k * (vlo + vhi))::BIGINT AS sw,
      |    (sst + k * (vlo * vlo + vhi * vhi))::BIGINT AS ssw
      |  FROM parts),
      |wide AS (
      |  SELECT
      |    MAX(CASE WHEN grp = 0 THEN st END)::BIGINT AS st0,
      |    MAX(CASE WHEN grp = 0 THEN hh END)::BIGINT AS h0,
      |    MAX(CASE WHEN grp = 0 THEN n END)::BIGINT AS n0,
      |    MAX(CASE WHEN grp = 0 THEN sw END)::BIGINT AS sw0,
      |    MAX(CASE WHEN grp = 0 THEN ssw END)::BIGINT AS ssw0,
      |    MAX(CASE WHEN grp = 1 THEN st END)::BIGINT AS st1,
      |    MAX(CASE WHEN grp = 1 THEN hh END)::BIGINT AS h1,
      |    MAX(CASE WHEN grp = 1 THEN n END)::BIGINT AS n1,
      |    MAX(CASE WHEN grp = 1 THEN sw END)::BIGINT AS sw1,
      |    MAX(CASE WHEN grp = 1 THEN ssw END)::BIGINT AS ssw1
      |  FROM ext)
      |SELECT e.grp, e.n, e.k, e.hh, e.vlo, e.vhi,
      |  CASE WHEN e.hh > 0 THEN
      |    CAST(floor(CAST(e.st AS DOUBLE) / e.hh * 1000000.0 + 0.5)
      |      AS BIGINT) END AS trimmed_mean_micro,
      |  CASE WHEN h0 > 1 AND h1 > 1 THEN
      |    CAST(floor(
      |      (CAST(st0 AS DOUBLE) / h0 - CAST(st1 AS DOUBLE) / h1)
      |      / sqrt(
      |          (CAST(ssw0 AS DOUBLE) - CAST(sw0 AS DOUBLE) * sw0 / n0)
      |            / (CAST(h0 AS DOUBLE) * (h0 - 1))
      |        + (CAST(ssw1 AS DOUBLE) - CAST(sw1 AS DOUBLE) * sw1 / n1)
      |            / (CAST(h1 AS DOUBLE) * (h1 - 1)))
      |      * 1000000.0 + 0.5) AS BIGINT) END AS t_micro
      |FROM ext e, wide ORDER BY e.grp""".stripMargin)

  /** Cluster purity of the q27 IVF assignment against the embeddings'
    * ground-truth labels: per (cell, label) counts off the cosine
    * argmax, each cell's majority label and share, and the corpus
    * purity Σc max_l n(c,l) / N in micros — the first clustering-
    * quality number anyone asks for, and the external-label companion
    * of q421's internal separation census. Bounded cells×labels grid;
    * the assignment rides the same broadcast-centroid argmax as q27.
    */
  private def qClusterPurity(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = t(s, dir, "embeddings")
    val grid = Similarity.ivfAssignDf(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 4), "vec_id", "embedding")
      .select(col("id").as("vec_id"), col("cell"))
      .join(emb.select(col("vec_id"), col("label").cast("long").as("label")),
        Seq("vec_id"))
      .groupBy("cell", "label").agg(count(lit(1)).as("n"))
    val top = grid
      .withColumn("rk", row_number().over(
        Window.partitionBy("cell").orderBy(col("n").desc, col("label"))))
      .filter(col("rk") === 1)
      .select(col("cell"), col("label").as("majority_label"),
        col("n").as("majority_n"))
    val size = grid.groupBy("cell").agg(sum(col("n")).as("cell_n"))
    val purity = top.agg(sum(col("majority_n")).as("hits"))
      .crossJoin(broadcast(size.agg(sum(col("cell_n")).as("total"))))
      .select(expr("(1000000 * hits) DIV total").as("purity_micro"))
    top.join(broadcast(size), Seq("cell"))
      .crossJoin(broadcast(purity))
      .select(col("cell"), col("cell_n"), col("majority_label"),
        col("majority_n"),
        expr("(1000000 * majority_n) DIV cell_n").as("majority_share_micro"),
        col("purity_micro"))
      .orderBy("cell")
  }
  // q453: q27's cosine-argmax assignment joined with the labels;
  // majority per cell, purity = hits/total
  gate("q453_cluster_purity")(qClusterPurity(_, _))(
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
      |           FROM embeddings),
      |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 4),
      |scored AS (
      |  SELECT e.vec_id, c.cid,
      |         list_dot_product(e.v, c.cv)
      |         / (sqrt(list_dot_product(e.v, e.v))
      |            * sqrt(list_dot_product(c.cv, c.cv))) AS sim
      |  FROM e CROSS JOIN c),
      |asg AS (
      |  SELECT vec_id, cid AS cell FROM (
      |    SELECT vec_id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid)
      |        AS rn
      |    FROM scored) t WHERE rn = 1),
      |grid AS (
      |  SELECT a.cell, e.label::BIGINT AS label, COUNT(*)::BIGINT AS n
      |  FROM asg a JOIN e ON a.vec_id = e.vec_id
      |  GROUP BY 1, 2),
      |top AS (
      |  SELECT cell, label AS majority_label, n AS majority_n FROM (
      |    SELECT cell, label, n,
      |      ROW_NUMBER() OVER (PARTITION BY cell ORDER BY n DESC, label)
      |        AS rk
      |    FROM grid) t WHERE rk = 1),
      |sz AS (SELECT cell, SUM(n)::BIGINT AS cell_n FROM grid GROUP BY 1),
      |pur AS (
      |  SELECT ((1000000 * (SELECT SUM(majority_n) FROM top))
      |          // (SELECT SUM(cell_n) FROM sz))::BIGINT AS purity_micro)
      |SELECT t.cell, s.cell_n, t.majority_label, t.majority_n,
      |  ((1000000 * t.majority_n) // s.cell_n)::BIGINT
      |    AS majority_share_micro,
      |  p.purity_micro
      |FROM top t JOIN sz s ON t.cell = s.cell, pur p
      |ORDER BY t.cell""".stripMargin)

  /** The q222 discount constants as a DuckDB CASE over a rank column. */
  private def ndcgDiscountSql(rankCol: String): String =
    ndcgDiscounts.zipWithIndex
      .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }
      .mkString(s"CASE $rankCol ", " ", " ELSE 0 END")

  /** Prefix sums of the q222 discounts (ideal DCG for n relevant). */
  private def ndcgIdealSql(nCol: String): String =
    ndcgDiscounts.scanLeft(0L)(_ + _).zipWithIndex
      .map { case (c, n) => s"WHEN $n THEN $c" }
      .mkString(s"CASE $nCol ", " ", " ELSE 0 END")
}
