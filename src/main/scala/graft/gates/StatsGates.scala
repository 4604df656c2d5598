package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import GateSupport._

/** Statistics gates: sketches, percentiles, sampling, histograms,
  * correlation and the distribution tests that [[graft.pipeline.Stats]],
  * [[graft.pipeline.Sampling]] and [[graft.operators.ExactPercentiles]]
  * implement.
  */
private[graft] object StatsGates extends GateFamily {

  /** Exact interpolated percentiles — sort-based
    * ([[graft.operators.ExactPercentiles]]), not the value-map
    * collecting built-in `percentile` whose shuffle carries every
    * distinct value.
    */
  private def qPercentiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.ExactPercentiles.exact(
      t(s, dir, "lineitem").select(col("l_returnflag").as("r1"), col("l_extendedprice")),
      Seq("r1"), "l_extendedprice",
      Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
      .select(col("r1"),
        round(col("p50"), 4).as("p50"),
        round(col("p90"), 4).as("p90"),
        round(col("p99"), 4).as("p99"))
      .orderBy("r1")
  gate("q44_percentiles")(qPercentiles(_, _))(
    """SELECT l_returnflag AS r1,
      |       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |       ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
      |       ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
      |FROM lineitem GROUP BY 1 ORDER BY r1""".stripMargin)

  /** Deterministic hash-based train/val/test split (leak-proof,
    * engine-portable — no RNG state).
    */
  private def qHashSplit(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.hashSplit(t(s, dir, "documents"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split"))
      .orderBy("doc_id")
  gate("q49_hash_split")(qHashSplit(_, _)) {
    val space = math.pow(2.0, 60)
    val t80 = (0.8 * space).toLong
    val t90 = (0.9 * space).toLong
    s"""SELECT doc_id,
       |  CASE WHEN h < $t80 THEN 'train'
       |       WHEN h < $t90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT doc_id,
       |        ('0x' || substr(md5('0:' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** Sketch aggregates — HyperLogLog++ distinct counting and quantile
    * approximation: the constant-memory path when exact distinct /
    * exact percentile (q36/q44) would not fit at corpus scale.
    *
    * Sketch internals are engine-specific, so raw approximations can't
    * be hash-compared across engines; instead the ERROR BOUNDS are the
    * gated contract. Per return flag the engine emits
    * `(r1, metric, expected, within_bound)` where `expected` is a
    * value DuckDB independently recomputes (exact NDV for the HLL++
    * rows; the target rank ⌈n·q⌉ for the quantile rows) and
    * `within_bound` asserts the sketch met its published error bound —
    * HLL++ at rsd = 1 % within 5 % relative (5σ, deterministic sketch;
    * +2 absolute slack for tiny groups), approx_percentile at
    * accuracy = 10000 within rank error 3·n/10000 (floor 3; the rank
    * interval of the returned value, [#{x<v}+1, #{x≤v}], must meet
    * [target−tol, target+tol]). A sketch regression flips
    * `within_bound` to false → hash mismatch → red gate.
    */
  private def qSketches(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag").as("r1"), col("l_partkey"),
        col("l_orderkey"), col("l_extendedprice"))
    // sketches and exact NDVs aggregate in SEPARATE plans: mixing
    // countDistinct with sketch aggregates in one groupBy would put
    // the wide HLL++/QuantileSummaries buffers on the Expand-multiplied
    // distinct path (measured 60× slower at sf0.1); two clean scans +
    // a 6-row join is the cheap shape. The joined per-flag handful is
    // materialized once (localCheckpoint) so its three consumers (two
    // NDV branches + the percentile explode) don't re-aggregate.
    val sketch = li.groupBy("r1")
      .agg(
        approx_count_distinct(col("l_partkey"), rsd = 0.01).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), rsd = 0.01).as("approx_orders"),
        expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)")
          .as("ap"),
        count(lit(1)).as("n"))
    val exact = li.groupBy("r1")
      .agg(countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_orderkey")).as("exact_orders"))
    val agg = sketch.join(exact, Seq("r1")).localCheckpoint()
    def ndvRow(metric: String, approxC: String, exactC: String) =
      agg.select(col("r1"), lit(metric).as("metric"),
        col(exactC).cast("long").as("expected"),
        (abs(col(approxC) - col(exactC)) <=
          greatest(col(exactC) * 0.05, lit(2))).as("within_bound"))
    // quantile rows: broadcast the 9 (flag, q, v) approx values back
    // over lineitem, measure the returned value's true rank interval,
    // and assert it meets the target rank within tolerance
    val qs = array(lit(0.5), lit(0.9), lit(0.99))
    val aps = agg.select(col("r1").as("ar1"), col("n"), posexplode(col("ap")))
      .select(col("ar1"), col("n"), element_at(qs, col("pos") + 1).as("q"),
        col("col").as("v"),
        concat(lit("p"), format_string("%.0f",
          element_at(qs, col("pos") + 1) * 100)).as("metric"))
    val pctRows = li.join(broadcast(aps), col("r1") === col("ar1"))
      .groupBy(col("r1"), col("metric"), col("q"), col("v"), col("n"))
      .agg(sum(when(col("l_extendedprice") < col("v"), 1L).otherwise(0L)).as("lo"),
        sum(when(col("l_extendedprice") <= col("v"), 1L).otherwise(0L)).as("hi"))
      .select(col("r1"), col("metric"),
        ceil(col("n") * col("q")).cast("long").as("expected"),
        {
          val target = ceil(col("n") * col("q"))
          val tol = greatest(ceil(col("n") * 3 / 10000), lit(3))
          (col("lo") + 1 <= target + tol && col("hi") >= target - tol)
            .as("within_bound")
        })
    ndvRow("parts_ndv", "approx_parts", "exact_parts")
      .unionAll(ndvRow("orders_ndv", "approx_orders", "exact_orders"))
      .unionAll(pctRows)
      .orderBy("r1", "metric")
  }
  // q50: the sketch values themselves are engine-specific; the gated
  // contract is (a) `expected` — exact NDV / target rank, recomputed
  // here independently — and (b) `within_bound`, which the engine
  // computes from its own sketch error and must report true
  // eager: localCheckpoints both aggregation branches
  gate("q50_sketches", eager = true)(qSketches(_, _))(
    """WITH g AS (
      |  SELECT l_returnflag AS r1,
      |         COUNT(DISTINCT l_partkey)::BIGINT AS parts,
      |         COUNT(DISTINCT l_orderkey)::BIGINT AS ords,
      |         COUNT(*)::BIGINT AS n
      |  FROM lineitem GROUP BY 1)
      |SELECT r1, 'parts_ndv' AS metric, parts AS expected, true AS within_bound FROM g
      |UNION ALL SELECT r1, 'orders_ndv', ords, true FROM g
      |UNION ALL SELECT r1, 'p50', CAST(ceil(n * 0.5) AS BIGINT), true FROM g
      |UNION ALL SELECT r1, 'p90', CAST(ceil(n * 0.9) AS BIGINT), true FROM g
      |UNION ALL SELECT r1, 'p99', CAST(ceil(n * 0.99) AS BIGINT), true FROM g
      |ORDER BY r1, metric""".stripMargin)

  /** Deterministic epoch shuffle: global position under the epoch-1
    * hash order, via the distributed two-pass rank
    * ([[graft.pipeline.Sampling.epochPositions]] /
    * [[graft.pipeline.Prefix]]) — no single-task global window.
    */
  private def qEpochShuffle(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.epochPositions(
      graft.pipeline.Par.spread(t(s, dir, "documents").select(col("doc_id"))),
      "doc_id", epoch = 1)
      .select(col("doc_id"), col("pos"))
      .orderBy("doc_id")
  gate("q65_epoch_shuffle")(qEpochShuffle(_, _))(
    """SELECT doc_id,
      |  ROW_NUMBER() OVER (
      |    ORDER BY ('0x' || substr(md5('1:' || doc_id::VARCHAR), 1, 15))::BIGINT,
      |             doc_id)::BIGINT AS pos
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** Weighted domain mixing: per-source subsampling to a target
    * mixture ([[graft.pipeline.Sampling.domainMix]]).
    */
  private def qDomainMix(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").withColumn("domain",
      element_at(array(lit("web"), lit("code"), lit("wiki"), lit("forum")),
        (col("doc_id") % 4 + 1).cast("int")))
    graft.pipeline.Sampling.domainMix(d, "doc_id", "domain", domainWeights, seed = 3)
      .select(col("doc_id"), col("domain"))
      .orderBy("doc_id")
  }
  gate("q66_domain_mix")(qDomainMix(_, _)) {
    def thr(w: Double) = graft.pipeline.Sampling.weightThreshold(w)
    val cases = domainWeights
      .map { case (d, w) => s"WHEN '$d' THEN ${thr(w)}" }.mkString(" ")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE (doc_id % 4) WHEN 0 THEN 'web' WHEN 1 THEN 'code'
       |         WHEN 2 THEN 'wiki' ELSE 'forum' END AS domain
       |  FROM documents)
       |SELECT doc_id, domain FROM d
       |WHERE ('0x' || substr(md5('3:' || doc_id::VARCHAR), 1, 15))::BIGINT <
       |      CASE domain $cases ELSE 0 END
       |ORDER BY doc_id""".stripMargin
  }

  private val domainWeights = Seq("web" -> 0.5, "code" -> 0.25, "wiki" -> 1.0,
    "forum" -> 0.1)

  /** Stratified exact-n sample ([[graft.pipeline.Sampling.stratifiedFixedN]]):
    * first 5 docs of each source under the deterministic (hash, key)
    * order. The rank filter compiles to WindowGroupLimit — a bounded
    * 5-row buffer per stratum before the exchange.
    */
  private def qStratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.stratifiedFixedN(
      graft.pipeline.Par.spread(t(s, dir, "documents"))
        .select("doc_id", "lang", "source"),
      "doc_id", "source", n = 5)
      .orderBy("source", "doc_id")
  gate("q85_stratified_sample")(qStratifiedSample(_, _))(
    """WITH r AS (
      |  SELECT doc_id, lang, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY ('0x' || substr(md5('0:' || doc_id::VARCHAR), 1, 15))::BIGINT,
      |               doc_id) AS rn
      |  FROM documents)
      |SELECT doc_id, lang, source FROM r WHERE rn <= 5
      |ORDER BY source, doc_id""".stripMargin)

  /** Temperature-weighted mixture plan
    * ([[graft.pipeline.Sampling.temperatureWeights]]): per-domain
    * p^α sampling weights (α = 0.5) and the epoch document budget.
    */
  private def qTemperatureMix(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.temperatureWeights(
      graft.pipeline.Par.spread(t(s, dir, "documents")), "lang",
      alpha = 0.5, epochSize = 1000L)
      .orderBy("domain")
  gate("q86_temperature_mix")(qTemperatureMix(_, _))(
    """WITH c AS (SELECT lang AS domain, count(*) AS n_docs,
      |                  pow(count(*), 0.5) AS npow
      |           FROM documents GROUP BY 1),
      |t AS (SELECT sum(n_docs) AS total_docs, sum(npow) AS total_pow FROM c)
      |SELECT domain, n_docs,
      |       round(n_docs::DOUBLE / total_docs, 6) AS p_raw,
      |       round(npow / total_pow, 6) AS weight,
      |       round(npow / total_pow * 1000, 0)::BIGINT AS epoch_docs
      |FROM c, t ORDER BY domain""".stripMargin)

  /** Frequency spectrum with Good–Turing smoothing
    * ([[graft.pipeline.Stats.frequencySpectrum]]) over orders-per-
    * customer — a non-degenerate count-of-counts (many customers share
    * small order counts, so n_{r+1} is populated and r* is real).
    */
  private def qFreqSpectrum(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.frequencySpectrum(
      graft.pipeline.Par.spread(t(s, dir, "orders")), "o_custkey")
      .orderBy("r")
  // q89: Good–Turing r* = (r+1) n_{r+1} / n_r over the
  // orders-per-customer spectrum
  gate("q89_freq_spectrum")(qFreqSpectrum(_, _))(
    """WITH tf AS (SELECT o_custkey, count(*) AS r FROM orders GROUP BY 1),
      |spec AS (SELECT r, count(*) AS n_r FROM tf GROUP BY 1)
      |SELECT s.r, s.n_r,
      |       round(((s.r + 1) * COALESCE(n1.n_r, 0))::DOUBLE / s.n_r, 4) AS r_star
      |FROM spec s LEFT JOIN spec n1 ON n1.r = s.r + 1
      |ORDER BY s.r""".stripMargin)

  /** Statistical aggregate suite: stddev/variance, correlation,
    * covariance, OLS regression slope/intercept per group. The time
    * regressor is CENTERED (days since 2024-01-01) before aggregation:
    * raw epoch seconds (~1.7e9) would make the co-moment sums
    * cancellation-dominated, where engine-order float noise reaches
    * the rounded digits — centered, the error is ~1e-9 against 1e-5
    * rounding.
    */
  private def qStatsAgg(s: SparkSession, dir: String): DataFrame = {
    val x = (col("ts").cast("double") - lit(1704067200.0)) / lit(86400.0)
    Tables.events(s, dir)
      .select(col("event_type"), col("value"), x.as("x"))
      .groupBy("event_type")
      .agg(round(stddev_samp(col("value")), 5).as("sd"),
        round(var_samp(col("value")), 5).as("var"),
        round(corr(col("value"), col("x")), 5).as("c"),
        round(covar_samp(col("value"), col("x")), 5).as("cov"),
        round(regr_slope(col("value"), col("x")), 5).as("slope"),
        round(regr_intercept(col("value"), col("x")), 5).as("icept"))
      .orderBy("event_type")
  }
  // q104: same centered regressor (days since 2024-01-01); epoch()
  // returns fractional seconds = Spark's timestamp->double cast
  gate("q104_stats_agg")(qStatsAgg(_, _))(
    """SELECT event_type,
      |  round(stddev_samp(value), 5) AS sd,
      |  round(var_samp(value), 5) AS var,
      |  round(corr(value, x), 5) AS c,
      |  round(covar_samp(value, x), 5) AS cov,
      |  round(regr_slope(value, x), 5) AS slope,
      |  round(regr_intercept(value, x), 5) AS icept
      |FROM (SELECT event_type, value,
      |        (epoch(ts) - 1704067200.0) / 86400.0 AS x FROM events)
      |GROUP BY 1 ORDER BY event_type""".stripMargin)

  /** Misra–Gries heavy-hitters gate
    * ([[graft.pipeline.Stats.misraGries]]): k=199 counters over the
    * whitespace tokens of `documents.text`, threshold n/200.
    * Engine-computed pass booleans, q50/q80-style — every gated
    * condition is a THEOREM of the sketch (holds for any partitioning
    * of the token stream), so the rows are deterministic even though
    * the sketch's surviving-key set is not; the `value` column carries
    * only data-derived quantities the oracle recomputes. All
    * comparisons are integer arithmetic (`cnt·200 > n`,
    * `(cnt−est)·200 ≤ n`) — no doubles, so the DuckDB DECIMAL-literal
    * divergence cannot bite.
    */
  private def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 199
    val toks = graft.pipeline.Par.spread(t(s, dir, "documents"))
      .select(explode(split(col("text"), " ")).as("tok"))
    // exact counts (the shuffle the sketch avoids) are the gate's
    // yardstick only; localCheckpoint so the three condition counts
    // below reuse one materialization
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val mg = graft.pipeline.Stats.misraGries(toks, "tok", k)
      .withColumnRenamed("k", "tok")
    val joined = exact.join(mg, Seq("tok"), "left")
      .select(col("tok"), col("cnt"), coalesce(col("est"), lit(0L)).as("est"))
      .localCheckpoint()
    val n = joined.agg(sum(col("cnt"))).head().getLong(0)
    val heavy = joined.filter(col("cnt") * (k + 1) > n)
    val nHeavy = heavy.count()
    val missedHeavy = heavy.filter(col("est") === 0L).count()
    val overestimates = joined.filter(col("est") > col("cnt")).count()
    val errOverBound = joined.filter((col("cnt") - col("est")) * (k + 1) > n).count()
    Seq(
      ("error_bound", n / (k + 1), errOverBound == 0L),
      ("heavy_hitters", nHeavy, missedHeavy == 0L),
      ("max_overestimate", 0L, overestimates == 0L),
      ("total_tokens", n, n > 0L))
      .toDF("metric", "value", "pass")
      .orderBy("metric")
  }
  // q106: every gated condition is a theorem of the Misra–Gries
  // sketch, so the oracle pins pass=true and recomputes the
  // data-derived values (integer arithmetic only)
  // eager: runs the gate-condition counts
  gate("q106_heavy_hitters", eager = true)(qHeavyHitters(_, _))(
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |tot AS (SELECT COUNT(*) AS n FROM toks),
      |tf AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok)
      |SELECT 'error_bound' AS metric, (SELECT n // 200 FROM tot)::BIGINT AS value, true AS pass
      |UNION ALL
      |SELECT 'heavy_hitters', (SELECT COUNT(*) FROM tf, tot WHERE cnt * 200 > n)::BIGINT, true
      |UNION ALL
      |SELECT 'max_overestimate', 0::BIGINT, true
      |UNION ALL
      |SELECT 'total_tokens', (SELECT n FROM tot)::BIGINT, true
      |ORDER BY metric""".stripMargin)

  /** Count-min sketch gate ([[graft.pipeline.Stats.countMinSketch]]):
    * 4×1024 counters over document tokens, probed with the 30 most
    * frequent tokens (the q69 deterministic top-k rule). Because the
    * hashes are md5-derived, the oracle rebuilds the ENTIRE sketch
    * and must land on identical estimates — plus the
    * overestimate-only theorem as an explicit gated boolean.
    */
  private def qCountMin(s: SparkSession, dir: String): DataFrame = {
    val depth = 4; val width = 1024
    val toks = graft.pipeline.Par.spread(t(s, dir, "documents"))
      .select(explode(split(col("text"), " ")).as("tok"))
    val sketch = graft.pipeline.Stats.countMinSketch(toks, "tok", depth, width)
      .localCheckpoint()
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
    val probes = exact.orderBy(col("exact").desc, col("tok")).limit(30)
      .localCheckpoint()
    graft.pipeline.Stats
      .cmsEstimate(sketch, probes.select(col("tok").as("k")), depth, width)
      .join(probes.withColumnRenamed("tok", "k"), Seq("k"))
      .select(col("k").as("token"), col("est"), col("exact"),
        (col("est") >= col("exact")).as("ge_exact"))
      .orderBy("token")
  }
  // q113: the whole sketch rebuilt from scratch — md5 cell hashes
  // make every counter engine-independent
  // eager: localCheckpoints the sketch
  gate("q113_count_min", eager = true)(qCountMin(_, _))(
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS k FROM documents),
      |cells AS (SELECT k, r,
      |            ('0x' || substr(md5(r::VARCHAR || ':' || k), 1, 15))::BIGINT % 1024 AS c
      |          FROM toks, generate_series(0, 3) t(r)),
      |sk AS (SELECT r, c, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
      |tf AS (SELECT k, COUNT(*) AS cnt FROM toks GROUP BY 1),
      |probes AS (SELECT k, cnt AS exact FROM tf ORDER BY cnt DESC, k LIMIT 30),
      |pc AS (SELECT p.k, p.exact, t.r,
      |         ('0x' || substr(md5(t.r::VARCHAR || ':' || p.k), 1, 15))::BIGINT % 1024 AS c
      |       FROM probes p, generate_series(0, 3) t(r)),
      |est AS (SELECT pc.k, pc.exact, MIN(sk.cnt) AS est
      |        FROM pc JOIN sk ON sk.r = pc.r AND sk.c = pc.c GROUP BY 1, 2)
      |SELECT k AS token, est::BIGINT AS est, exact::BIGINT AS exact,
      |       est >= exact AS ge_exact
      |FROM est ORDER BY token""".stripMargin)

  /** Equi-depth histogram gate: 16 buckets of (count, min, max) over
    * lineitem prices, bucket = ⌊pos·16/n⌋ under the (price, row-id)
    * total order — global position from
    * [[graft.pipeline.Prefix.withGlobalPosition]]'s range-partition
    * machinery (never a single-task window; the oracle's
    * ROW_NUMBER() OVER () is exactly what the engine refuses to
    * plan). Integer bucket arithmetic; raw double min/max pass
    * through untouched.
    */
  private def qEquidepthHist(s: SparkSession, dir: String): DataFrame = {
    val k = 16
    val li = t(s, dir, "lineitem").select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
      col("l_extendedprice").as("v"))
    val n = li.count()
    graft.pipeline.Prefix.withGlobalPosition(li, Seq("v", "id"))
      // DIV, not `/`: Column./ is double division even on longs
      .groupBy(expr(s"pos * $k DIV $n").as("bucket"))
      .agg(count(lit(1)).as("cnt"), min(col("v")).as("v_min"),
        max(col("v")).as("v_max"))
      .orderBy("bucket")
  }
  // q115: the oracle uses the single-window formulation the engine
  // deliberately avoids; same total order, same integer buckets
  // eager: Prefix collects range-partition offsets
  gate("q115_equidepth_hist", eager = true)(qEquidepthHist(_, _))(
    """WITH p AS (SELECT l_extendedprice AS v,
      |             ROW_NUMBER() OVER (ORDER BY l_extendedprice,
      |               l_orderkey * 10 + l_linenumber) - 1 AS pos,
      |             COUNT(*) OVER () AS n
      |           FROM lineitem)
      |SELECT (pos * 16) // n AS bucket, COUNT(*) AS cnt,
      |       MIN(v) AS v_min, MAX(v) AS v_max
      |FROM p GROUP BY 1 ORDER BY bucket""".stripMargin)

  /** Re-aggregatable sketch state gate: per-(type, day) DataSketches
    * HLL states unioned up to per-type must give the IDENTICAL
    * estimate as sketching each type directly — register-max merge is
    * exactly associative/commutative, so slicing a 100 TB
    * distinct-count cube by day and re-rolling it is lossless (the
    * property `approx_count_distinct`'s opaque partial state provides
    * only inside one query). Second boolean: the estimate lands
    * within 5% of the exact NDV. Oracle pins both booleans and
    * recomputes the exact NDV.
    */
  private def qSketchMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    val daily = ev.groupBy("event_type", "day")
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    val merged = daily.groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_merged"))
    val direct = ev.groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("est_direct"),
        countDistinct(col("user_id")).as("exact_ndv"))
    merged.join(direct, Seq("event_type"))
      .select(col("event_type"), col("exact_ndv"),
        (col("est_merged") === col("est_direct")).as("merge_lossless"),
        (abs(col("est_merged") - col("exact_ndv")) <=
          greatest(col("exact_ndv") * 0.05, lit(2))).as("within_bound"))
      .orderBy("event_type")
  }
  // q116: both gated conditions are engine-side theorems (exact
  // merge associativity; measured-with-margin error bound on fixed
  // data); the oracle recomputes the exact NDV
  gate("q116_sketch_merge")(qSketchMerge(_, _))(
    """SELECT event_type, COUNT(DISTINCT user_id) AS exact_ndv,
      |       true AS merge_lossless, true AS within_bound
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)

  /** Sketch→exact composition gate (the production top-k pattern
    * SCALE.md describes): Misra–Gries candidates (k=9999 ⇒ threshold
    * n/10000, far below any top-30 count, so completeness GUARANTEES
    * every true top-30 token is a candidate), then exact counts of
    * candidate rows only, then top-30. The oracle is the plain
    * one-pass exact top-30 — the composition must reproduce it
    * row-for-row. Only candidate-key rows ever reach the exact
    * count's shuffle; the full-vocabulary shuffle never happens.
    */
  private def qSketchTopK(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.pipeline.Par.spread(t(s, dir, "documents"))
      .select(explode(split(col("text"), " ")).as("tok"))
    val cand = graft.pipeline.Stats.misraGries(toks, "tok", 9999)
      .select(col("k").as("tok"))
    toks.join(broadcast(cand), Seq("tok"), "left_semi")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(30)
      .select(col("tok").as("token"), col("cnt"))
  }
  // q118: the plain one-pass exact top-30 — the sketch→verify
  // composition must reproduce it exactly
  gate("q118_sketch_topk")(qSketchTopK(_, _))(
    """SELECT token, cnt FROM (
      |  SELECT token, COUNT(*) AS cnt
      |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |  GROUP BY token)
      |ORDER BY cnt DESC, token LIMIT 30""".stripMargin)

  /** Robust-statistics gate: median absolute deviation per group,
    * composed from two [[graft.operators.ExactPercentiles]] passes
    * (median, then median of |v − median|). Values are integer CENTS,
    * so every interpolated median is an exact half-integer and the
    * whole chain — including the middle unrounded median the
    * deviations subtract — is bit-exact in both engines, with no
    * round() slack anywhere.
    */
  private def qMad(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_returnflag").as("r1"),
      round(col("l_extendedprice") * 100).cast("long").as("v"))
    val med = graft.operators.ExactPercentiles
      .exact(li, Seq("r1"), "v", Seq("med" -> 0.5))
    val dev = li.join(broadcast(med), Seq("r1"))
      .select(col("r1"), abs(col("v") - col("med")).as("d"))
    graft.operators.ExactPercentiles
      .exact(dev, Seq("r1"), "d", Seq("mad" -> 0.5))
      .join(med, Seq("r1"))
      .select(col("r1"), col("med").as("median_cents"), col("mad").as("mad_cents"))
      .orderBy("r1")
  }
  // q124: integer cents make both medians exact half-integers —
  // quantile_cont's interpolation cannot diverge
  gate("q124_mad")(qMad(_, _))(
    """WITH c AS (SELECT l_returnflag AS r1,
      |             ROUND(l_extendedprice * 100)::BIGINT AS v FROM lineitem),
      |m AS (SELECT r1, quantile_cont(v, 0.5) AS med FROM c GROUP BY 1),
      |d AS (SELECT c.r1, ABS(c.v - m.med) AS dev
      |      FROM c JOIN m ON c.r1 = m.r1)
      |SELECT r1, ANY_VALUE(med) AS median_cents,
      |       quantile_cont(dev, 0.5) AS mad_cents
      |FROM d JOIN m USING (r1) GROUP BY r1 ORDER BY r1""".stripMargin)

  /** Weighted-sampling gate ([[graft.pipeline.Sampling
    * .weightedSample]], Efraimidis–Spirakis A-ES): structural pass
    * booleans (q50-style — the priorities involve libm `pow`, so key
    * values are not cross-engine-hashable): exact sample size,
    * rerun determinism, zero-weight exclusion, and the weight lift
    * that makes the sampler WEIGHTED (mean sampled weight strictly
    * above the corpus mean on this fixed data). The oracle pins the
    * booleans and recomputes the corpus row count.
    */
  private def qWeightedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 100
    val docs = graft.pipeline.Par.spread(t(s, dir, "documents"))
      .select(col("doc_id"), size(split(col("text"), " ")).as("w"))
      .localCheckpoint()
    def draw() = graft.pipeline.Sampling
      .weightedSample(docs, "doc_id", "w", k, seed = 7)
      .select(col("doc_id"), col("w"))
    val s1 = draw().collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val s2 = draw().collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val corpusRows = docs.count()
    val meanAll = docs.agg(avg(col("w"))).head().getDouble(0)
    val meanSample = s1.values.map(_.toDouble).sum / s1.size
    Seq(
      ("corpus_rows", corpusRows, corpusRows > k),
      ("deterministic", k.toLong, s1 == s2),
      ("sample_size", k.toLong, s1.size == k),
      ("weight_lift", 1L, meanSample > meanAll),
      ("zero_weight_excluded", 0L, s1.values.forall(_ > 0)))
      .toDF("metric", "value", "pass")
      .orderBy("metric")
  }
  // q127: structural booleans pinned; corpus_rows recomputed
  // eager: draws and collects the sample twice
  gate("q127_weighted_sample", eager = true)(qWeightedSample(_, _))(
    """SELECT 'corpus_rows' AS metric, COUNT(*)::BIGINT AS value, true AS pass FROM documents
      |UNION ALL SELECT 'deterministic', 100::BIGINT, true
      |UNION ALL SELECT 'sample_size', 100::BIGINT, true
      |UNION ALL SELECT 'weight_lift', 1::BIGINT, true
      |UNION ALL SELECT 'zero_weight_excluded', 0::BIGINT, true
      |ORDER BY metric""".stripMargin)

  /** DSIR data selection (Xie et al. 2023, arXiv:2302.03169 — Data
    * Selection via Importance Resampling): per-doc importance weight
    * log(p_target(x)/p_raw(x)) under hashed-unigram bag-of-words
    * models with add-1 smoothing — target = the `src0` sub-corpus,
    * raw = everything; features = md5-hashed 64-bucket unigrams (the
    * q146 hashing-trick chain with an exact BIGINT cast). Per-bucket
    * λ_micro = ln6(c_t+1, T+64) − ln6(c_r+1, R+64) rides the
    * StatsFixture ln6 plane both engines equi-join (the q139 idf6
    * discipline — no live libm), a doc's weight is the exact BIGINT
    * sum of its token occurrences' λ, and the 25 highest-weight docs
    * survive (weight desc, doc_id) — the "select what looks like the
    * target" primitive behind every quality-corpus recipe.
    *
    * Scale shape: token → bucket is map-only; the two bucket models
    * are 64-row aggregates (broadcast); the per-doc rollup is one
    * doc-keyed aggregate; top-25 plans as TakeOrderedAndProject.
    */
  private def qDsirSelect(s: SparkSession, dir: String): DataFrame = {
    val ln6 = s.read.parquet(
      s"${graft.sources.StatsFixture.ensure(s, dir)}/ln6.parquet")
    val tok = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("token"))
      .withColumn("bucket", expr("CAST(conv(substring(md5(concat(" +
        "'dsir:', token)), 1, 15), 16, 10) AS BIGINT) % 64"))
      // four consumers (target counts, raw counts, totals, per-doc
      // rollup) — checkpoint so split/explode/md5/conv runs once, the
      // Dedup/semDedup shared-frame discipline (round-11 advisor item)
      .localCheckpoint()
    val ct = tok.filter(col("source") === "src0")
      .groupBy("bucket").agg(count(lit(1)).as("ct"))
    val cr = tok.groupBy("bucket").agg(count(lit(1)).as("cr"))
    val buckets = s.range(64).select(col("id").as("bucket"))
      .join(ct, Seq("bucket"), "left").join(cr, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
      .crossJoin(broadcast(tok.agg(count(lit(1)).as("rt"),
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("tt"))))
    val lam = buckets
      .join(broadcast(ln6.select(col("num").as("tn"), col("den").as("td"),
          col("ln6").as("lt"))),
        col("ct") + 1L === col("tn") && col("tt") + 64L === col("td"), "left")
      .join(broadcast(ln6.select(col("num").as("rn"), col("den").as("rd"),
          col("ln6").as("lr"))),
        col("cr") + 1L === col("rn") && col("rt") + 64L === col("rd"), "left")
      .withColumn("lam", when(col("lt").isNotNull && col("lr").isNotNull,
          col("lt") - col("lr"))
        .otherwise(raise_error(lit("stale ln6 fixture plane: missing DSIR " +
          "bucket pair — delete the graft_ln6_* tmp dir and rerun"))))
      .select(col("bucket"), col("lam"))
    tok.join(broadcast(lam), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("lam")).as("weight_micro"))
      .orderBy(col("weight_micro").desc, col("doc_id")).limit(25)
  }
  // q456: DSIR importance selection — identical hashed-bucket chain
  // (BIGINT md5 bucket, add-1 smoothing) with the per-bucket log
  // ratio read from the shared ln6 plane; exact integer sums
  gate("q456_dsir_select")(qDsirSelect(_, _))(
    s"""WITH tok AS (
      |  SELECT doc_id, source,
      |    ('0x' || substr(md5('dsir:' || tok[i]), 1, 15))::BIGINT % 64
      |      AS bucket
      |  FROM (SELECT doc_id, source, string_split(text, ' ') AS tok
      |        FROM documents),
      |       generate_series(1, 100000) t(i)
      |  WHERE i <= len(tok)
      |), ct AS (
      |  SELECT bucket, count(*)::BIGINT AS c FROM tok
      |  WHERE source = 'src0' GROUP BY 1
      |), cr AS (
      |  SELECT bucket, count(*)::BIGINT AS c FROM tok GROUP BY 1
      |), tots AS (
      |  SELECT count(*)::BIGINT AS rt,
      |    sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)::BIGINT AS tt
      |  FROM tok
      |), bk AS (
      |  SELECT g.g AS bucket, coalesce(ct.c, 0)::BIGINT AS ct,
      |    coalesce(cr.c, 0)::BIGINT AS cr, tots.tt, tots.rt
      |  FROM generate_series(0, 63) g(g)
      |  LEFT JOIN ct ON ct.bucket = g.g
      |  LEFT JOIN cr ON cr.bucket = g.g
      |  CROSS JOIN tots
      |), lam AS (
      |  SELECT bk.bucket, (lt.ln6 - lr.ln6)::BIGINT AS lam
      |  FROM bk
      |  JOIN $lnf lt ON bk.ct + 1 = lt.num AND bk.tt + 64 = lt.den
      |  JOIN $lnf lr ON bk.cr + 1 = lr.num AND bk.rt + 64 = lr.den
      |)
      |SELECT tok.doc_id, count(*)::BIGINT AS n_tokens,
      |  sum(lam.lam)::BIGINT AS weight_micro
      |FROM tok JOIN lam USING (bucket)
      |GROUP BY tok.doc_id
      |ORDER BY weight_micro DESC, tok.doc_id LIMIT 25""".stripMargin)

  /** Theta-sketch distinct-count states (DataSketches via Spark 4
    * builtins) — the set-ALGEBRA sketch next to q116's HLL (union
    * only): per-day sketches union-merged ≡ the direct sketch, plus a
    * cross-type INTERSECTION (theta's distinguishing capability).
    * Below the sketch's nominal-entries threshold (4096 ≫ the 1.5k
    * users here) every theta sketch is EXACT — all retained hashes,
    * θ = 1 — and union/intersection of exact sketches stays exact, so
    * the gate pins estimates against exact COUNT(DISTINCT)s, not
    * bounds.
    */
  private def qThetaSketch(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val daily = ev.groupBy(col("event_type"), expr("to_date(ts)").as("day"))
      .agg(expr("theta_sketch_agg(user_id)").as("sk"))
    val rerolled = daily.groupBy("event_type")
      .agg(expr("theta_sketch_estimate(theta_union_agg(sk))").as("ndv_rerolled"))
    val perType = ev.groupBy("event_type")
      .agg(expr("theta_sketch_estimate(theta_sketch_agg(user_id))").as("ndv_direct"),
        countDistinct(col("user_id")).as("ndv_exact"))
      .join(rerolled, "event_type")
      .select(col("event_type").as("scope"), col("ndv_exact"),
        col("ndv_direct"), col("ndv_rerolled"))
    val interEst = ev.filter(col("event_type").isin("view", "purchase"))
      .groupBy("event_type").agg(expr("theta_sketch_agg(user_id)").as("sk"))
      .agg(expr("theta_sketch_estimate(theta_intersection_agg(sk))").as("est"))
    val interExact = ev.filter(col("event_type") === "view")
      .select(col("user_id")).distinct()
      .join(ev.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct(), "user_id")
      .agg(count(lit(1)).as("ndv_exact"))
    val inter = interExact.crossJoin(interEst)
      .select(lit("view_x_purchase").as("scope"), col("ndv_exact"),
        col("est").as("ndv_direct"), col("est").as("ndv_rerolled"))
    perType.union(inter)
      .withColumn("exact_below_k",
        col("ndv_direct") === col("ndv_exact") &&
          col("ndv_rerolled") === col("ndv_exact"))
      .orderBy("scope")
  }
  // q144: below nominal entries every theta sketch is exact, so all
  // three estimate columns equal exact COUNT(DISTINCT)s — including
  // the intersection scope
  gate("q144_theta_sketch")(qThetaSketch(_, _))(
    """SELECT event_type AS scope,
      |  COUNT(DISTINCT user_id)::BIGINT AS ndv_exact,
      |  COUNT(DISTINCT user_id)::BIGINT AS ndv_direct,
      |  COUNT(DISTINCT user_id)::BIGINT AS ndv_rerolled,
      |  true AS exact_below_k
      |FROM events GROUP BY 1
      |UNION ALL
      |SELECT 'view_x_purchase', i.n, i.n, i.n, true
      |FROM (SELECT COUNT(*)::BIGINT AS n FROM (
      |  SELECT user_id FROM events WHERE event_type = 'view'
      |  INTERSECT
      |  SELECT user_id FROM events WHERE event_type = 'purchase')) i
      |ORDER BY scope""".stripMargin)

  /** Exact top-k through the `approx_top_k` sketch: with
    * maxItemsTracked ≥ NDV the sketch tracks every item exactly, so
    * its top-3 must equal the exact top-3 (re-sorted (count desc,
    * item) — the k-boundary counts are unique in this fixture, checked
    * sf0.01 and sf0.1).
    */
  private def qApproxTopK(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .agg(expr("approx_top_k(event_type, 3, 100)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("item"), col("e.count").as("cnt"))
      .orderBy(col("cnt").desc, col("item"))
  // q145: with maxItemsTracked ≥ NDV the top-k sketch is exact; the
  // k-boundary counts are unique in this fixture (checked sf0.01 and
  // sf0.1), so the exact top-3 is the unique answer
  gate("q145_approx_topk")(qApproxTopK(_, _))(
    """SELECT event_type AS item, COUNT(*)::BIGINT AS cnt
      |FROM events GROUP BY 1
      |ORDER BY cnt DESC, item LIMIT 3""".stripMargin)

  /** Exact distinct counting via bitmap aggregates — the dense-int-ID
    * pattern where a 32k-bit bitmap per (group, bucket) replaces a
    * count-distinct shuffle of the raw rows: `bitmap_bucket_number` /
    * `bitmap_bit_position` / `bitmap_construct_agg`, with per-day
    * states OR-merged (`bitmap_or_agg` — lossless, exactly
    * re-aggregatable like q111's monoids). All three paths (exact,
    * direct bitmap, re-rolled bitmap) must agree exactly.
    */
  private def qBitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val direct = ev.groupBy(col("event_type"),
        expr("bitmap_bucket_number(user_id)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
      .groupBy("event_type")
      .agg(sum(expr("bitmap_count(bm)")).as("ndv_bitmap"))
    val rerolled = ev.groupBy(col("event_type"), expr("to_date(ts)").as("day"),
        expr("bitmap_bucket_number(user_id)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .groupBy("event_type")
      .agg(sum(expr("bitmap_count(bm)")).as("ndv_rerolled"))
    ev.groupBy("event_type").agg(countDistinct(col("user_id")).as("ndv_exact"))
      .join(direct, "event_type").join(rerolled, "event_type")
      .select(col("event_type"), col("ndv_exact"), col("ndv_bitmap"),
        col("ndv_rerolled"))
      .orderBy("event_type")
  }
  // q146: bitmaps are exact by construction; all three paths are the
  // same COUNT(DISTINCT)
  gate("q146_bitmap_distinct")(qBitmapDistinct(_, _))(
    """SELECT event_type,
      |  COUNT(DISTINCT user_id)::BIGINT AS ndv_exact,
      |  COUNT(DISTINCT user_id)::BIGINT AS ndv_bitmap,
      |  COUNT(DISTINCT user_id)::BIGINT AS ndv_rerolled
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)

  /** Chi-square independence screen
    * ([[graft.pipeline.Stats.chiSquare]]): event_type × weekday
    * contingency — the full grid with zero cells materialized,
    * per-cell expectations and χ² contributions in exact micro-units
    * (no libm anywhere; Spark's 1-based `dayofweek` shifted to match
    * DuckDB's 0-based dow).
    */
  private def qChiSquare(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.chiSquare(Tables.events(s, dir),
      col("event_type"), expr("CAST(dayofweek(ts) - 1 AS BIGINT)"))
      .orderBy("a", "b")
  // q147: identical literal chain — e = ra·cb/n, (o−e)²/e — over
  // exact integer margins; zero cells materialized by the margin
  // cross join exactly like the engine
  gate("q147_chi_square")(qChiSquare(_, _))(
    """WITH cells AS (
      |  SELECT event_type AS a, dayofweek(ts)::BIGINT AS b,
      |         COUNT(*)::BIGINT AS o
      |  FROM events GROUP BY 1, 2),
      |ra AS (SELECT a, SUM(o)::BIGINT AS ra FROM cells GROUP BY 1),
      |cb AS (SELECT b, SUM(o)::BIGINT AS cb FROM cells GROUP BY 1),
      |n AS (SELECT SUM(o)::BIGINT AS n FROM cells),
      |grid AS (
      |  SELECT ra.a, cb.b, ra.ra, cb.cb, COALESCE(c.o, 0)::BIGINT AS o
      |  FROM ra CROSS JOIN cb
      |  LEFT JOIN cells c ON c.a = ra.a AND c.b = cb.b)
      |SELECT a, b, o,
      |  CAST(floor((CAST(ra AS DOUBLE) * cb) / n.n * 1000000.0 + 0.5) AS BIGINT) AS e_micro,
      |  CAST(floor((o - (CAST(ra AS DOUBLE) * cb) / n.n) *
      |    (o - (CAST(ra AS DOUBLE) * cb) / n.n) / ((CAST(ra AS DOUBLE) * cb) / n.n)
      |    * 1000000.0 + 0.5) AS BIGINT) AS chi2_micro
      |FROM grid, n
      |ORDER BY a, b""".stripMargin)

  /** MAD-rule outlier screen ([[graft.pipeline.Stats.madOutliers]])
    * over lineitem price cents per returnflag — the gate aggregates
    * the row-level flags (count, outlier count, outlier cents sum)
    * so the 4×-scaled exact-integer comparison is pinned end to end.
    */
  private def qMadOutliers(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_returnflag").as("r1"),
      round(col("l_extendedprice") * 100).cast("long").as("v"))
    graft.pipeline.Stats.madOutliers(li, Seq("r1"), "v", k = 3)
      .groupBy("r1")
      .agg(count(lit(1)).as("n"),
        sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
        sum(when(col("is_outlier"), col("v")).otherwise(0L)).as("outlier_cents"))
      .orderBy("r1")
  }
  // q149: q124's exact median/MAD (integer cents ⇒ half/quarter-
  // integers), flag compared at 4× scale on exact BIGINTs
  gate("q149_mad_outliers")(qMadOutliers(_, _))(
    """WITH c AS (SELECT l_returnflag AS r1,
      |             ROUND(l_extendedprice * 100)::BIGINT AS v FROM lineitem),
      |m AS (SELECT r1, quantile_cont(v, 0.5) AS med FROM c GROUP BY 1),
      |d AS (SELECT c.r1, c.v, ABS(c.v - m.med) AS dev
      |      FROM c JOIN m ON c.r1 = m.r1),
      |md AS (SELECT r1, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1)
      |SELECT d.r1, COUNT(*) AS n,
      |  SUM(CASE WHEN CAST(4 * d.dev AS BIGINT) > 3 * CAST(4 * md.mad AS BIGINT)
      |           THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
      |  SUM(CASE WHEN CAST(4 * d.dev AS BIGINT) > 3 * CAST(4 * md.mad AS BIGINT)
      |           THEN d.v ELSE 0 END)::BIGINT AS outlier_cents
      |FROM d JOIN md USING (r1)
      |GROUP BY d.r1 ORDER BY r1""".stripMargin)

  /** Association rules ([[graft.pipeline.Stats.associationRules]])
    * over the order→part baskets: every co-purchase pair with joint
    * support ≥ 2, confidence and lift in exact micro-units.
    */
  private def qAssociationRules(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.associationRules(
      t(s, dir, "lineitem"), "l_orderkey", "l_partkey", minPairSupport = 2)
      .orderBy("ante", "cons")
  // q153: identical counts and identical confidence/lift chains
  gate("q153_assoc_rules")(qAssociationRules(_, _))(
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      |nb AS (SELECT COUNT(DISTINCT b)::BIGINT AS n FROM items),
      |supp AS (SELECT i, COUNT(*)::BIGINT AS s FROM items GROUP BY 1),
      |pairs AS (
      |  SELECT x.i AS ia, y.i AS ib, COUNT(*)::BIGINT AS sab
      |  FROM items x JOIN items y ON x.b = y.b AND x.i < y.i
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |dir AS (
      |  SELECT ia AS ante, ib AS cons, sab FROM pairs
      |  UNION ALL SELECT ib, ia, sab FROM pairs)
      |SELECT d.ante, d.cons, d.sab, sa.s AS sa, sc.s AS sc,
      |  CAST(floor(CAST(d.sab AS DOUBLE) / sa.s * 1000000.0 + 0.5) AS BIGINT) AS conf_micro,
      |  CAST(floor((CAST(nb.n AS DOUBLE) * d.sab) / (CAST(sa.s AS DOUBLE) * sc.s) * 1000000.0 + 0.5) AS BIGINT) AS lift_micro
      |FROM dir d JOIN supp sa ON sa.i = d.ante
      |           JOIN supp sc ON sc.i = d.cons, nb
      |ORDER BY ante, cons""".stripMargin)

  /** Quantile normalization ([[graft.pipeline.Stats.quantileNormalize]])
    * of event values (cents) within each event_type — exact-rational
    * percent_rank under the (cents, event_id) total order.
    */
  private def qQuantileNorm(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.quantileNormalize(
      Tables.events(s, dir).select(col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents")),
      Seq("event_type"), "cents", Seq("event_id"))
      .select(col("event_id"), col("event_type"), col("cents"), col("q_micro"))
      .orderBy("event_id")
  // q154: percent_rank under a unique total order is (rn−1)/(n−1) on
  // both engines — an exact rational, floored identically
  gate("q154_quantile_norm")(qQuantileNorm(_, _))(
    """SELECT event_id, event_type,
      |  CAST(round(value * 100) AS BIGINT) AS cents,
      |  CAST(floor(percent_rank() OVER (PARTITION BY event_type
      |    ORDER BY CAST(round(value * 100) AS BIGINT), event_id)
      |    * 1000000.0 + 0.5) AS BIGINT) AS q_micro
      |FROM events ORDER BY event_id""".stripMargin)

  /** EWMA-residual anomaly screen — the streaming-able time-series
    * outlier composition: the q135 fixed-point EWMA gives each event a
    * prediction (the PREVIOUS smoothed value), the residual
    * vₜ − sₜ₋₁ is an exact integer, and [[graft.pipeline.Stats
    * .madOutliers]] flags residuals beyond 3 MADs per user. The gate
    * aggregates flags per user; every stage is the integer/4×-scaled
    * arithmetic already pinned by q135 and q149, so the composition is
    * hash-exact too.
    */
  private def qEwmaAnomalies(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      expr("CAST(floor(value * 100 + 0.5) AS BIGINT) * 100").as("v"))
    val sm = graft.operators.TimeSeries.ewmaFixed(e, "user_id", "event_id",
      "event_id", "v", alphaNum = 3, alphaDen = 10)
    val res = e.join(sm.select(col("k").as("user_id"),
        col("tid").as("event_id"), col("ewma")), Seq("user_id", "event_id"))
      .withColumn("prev", lag(col("ewma"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("event_id"))))
      .filter(col("prev").isNotNull)
      .select(col("user_id"), col("event_id"), (col("v") - col("prev")).as("r"))
    graft.pipeline.Stats.madOutliers(res, Seq("user_id"), "r", k = 3)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_anomalies"))
      .orderBy("user_id")
  }
  // q156: q135's recursive-CTE recurrence feeds residuals
  // v_t − s_{t−1}; then q149's exact median/MAD flagging per user
  gate("q156_ewma_anomalies")(qEwmaAnomalies(_, _))(
    """WITH RECURSIVE seq AS (
      |  SELECT user_id, event_id,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) * 100 AS v,
      |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS n
      |  FROM events),
      |ew AS (
      |  SELECT user_id, event_id, n, v AS s FROM seq WHERE n = 1
      |  UNION ALL
      |  SELECT q.user_id, q.event_id, q.n, e.s + (3 * (q.v - e.s)) // 10
      |  FROM ew e JOIN seq q ON q.user_id = e.user_id AND q.n = e.n + 1),
      |r AS (
      |  SELECT w.user_id, w.event_id,
      |         q.v - lag(w.s) OVER (PARTITION BY w.user_id
      |                              ORDER BY w.event_id) AS r
      |  FROM ew w JOIN seq q USING (user_id, event_id)),
      |rr AS (SELECT * FROM r WHERE r IS NOT NULL),
      |m AS (SELECT user_id, quantile_cont(r, 0.5) AS med FROM rr GROUP BY 1),
      |d AS (SELECT rr.user_id, ABS(rr.r - m.med) AS dev
      |      FROM rr JOIN m USING (user_id)),
      |md AS (SELECT user_id, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1)
      |SELECT d.user_id, COUNT(*) AS n,
      |  SUM(CASE WHEN CAST(4 * d.dev AS BIGINT) > 3 * CAST(4 * md.mad AS BIGINT)
      |           THEN 1 ELSE 0 END)::BIGINT AS n_anomalies
      |FROM d JOIN md USING (user_id)
      |GROUP BY 1 ORDER BY user_id""".stripMargin)

  /** Weight-of-evidence feature screen
    * ([[graft.pipeline.Stats.weightOfEvidence]]): event_type as the
    * categorical predictor, purchase-or-not as the outcome — WoE and
    * IV contributions in quantized micro-nats. The single
    * transcendental (the smoothed odds-ratio ln) comes from the JVM
    * woe6 plane both sides equi-join (StatsFixture — the q139 idf6
    * discipline), so neither engine floors a live libm result; the
    * counting/join/IV chain stays independently computed on each side.
    */
  private def qWoe(s: SparkSession, dir: String): DataFrame = {
    val plane = s.read.parquet(
      s"${graft.sources.StatsFixture.ensure(s, dir)}/woe6.parquet")
    graft.pipeline.Stats.weightOfEvidence(Tables.events(s, dir),
      expr("CAST(user_id % 10 AS BIGINT)"),
      expr("CAST(event_type = 'purchase' AS INT)"),
      woePlane = Some(plane))
      .orderBy("c")
  }
  // q158: Laplace-smoothed WoE; the quantized odds-ratio ln comes
  // from the JVM woe6 plane (LEFT join + error() so a stale plane
  // fails loudly); IV contribution multiplies the exact rational
  // gap by the integer woe6
  gate("q158_woe")(qWoe(_, _))(
    s"""WITH cells AS (
      |  SELECT CAST(user_id % 10 AS BIGINT) AS c,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS g,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)::BIGINT AS b
      |  FROM events GROUP BY 1),
      |tot AS (SELECT SUM(g)::BIGINT AS gt, SUM(b)::BIGINT AS bt FROM cells),
      |wp AS (SELECT g AS pg, b AS pb, woe6 FROM $wof),
      |w AS (
      |  SELECT c, g, b, gt, bt,
      |    CASE WHEN wp.woe6 IS NULL
      |         THEN CAST(error('stale woe6 plane: missing (g, b) cell') AS BIGINT)
      |         ELSE wp.woe6 END AS woe_micro
      |  FROM cells CROSS JOIN tot
      |  LEFT JOIN wp ON wp.pg = cells.g AND wp.pb = cells.b)
      |SELECT c, g, b, woe_micro,
      |  CAST(floor((CAST(g AS DOUBLE) / gt - CAST(b AS DOUBLE) / bt) * woe_micro + 0.5) AS BIGINT) AS iv_contrib_micro
      |FROM w ORDER BY c""".stripMargin)

  /** Exact-integer correlation matrix
    * ([[graft.pipeline.Stats.corrMatrix]]) of (quantity, discount%,
    * tax%) per returnflag — BIGINT co-moments make Pearson r
    * partition-invariant and hash-gateable, unlike built-in corr.
    */
  private def qCorrMatrix(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.corrMatrix(
      t(s, dir, "lineitem").select(col("l_returnflag").as("r1"),
        col("l_quantity").cast("long").as("qty"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("disc"),
        expr("CAST(round(l_tax * 100) AS BIGINT)").as("tax")),
      Seq("r1"), Seq("qty", "disc", "tax"))
      .orderBy("r1", "metric_a", "metric_b")
  // q160: identical exact co-moment sums and identical corr chain
  gate("q160_corr_matrix")(qCorrMatrix(_, _))(
    """WITH m AS (
      |  SELECT l_returnflag AS r1, l_quantity::BIGINT AS qty,
      |         CAST(round(l_discount * 100) AS BIGINT) AS disc,
      |         CAST(round(l_tax * 100) AS BIGINT) AS tax
      |  FROM lineitem),
      |s AS (
      |  SELECT r1, COUNT(*)::BIGINT AS n,
      |    SUM(qty)::BIGINT AS s_qty, SUM(qty*qty)::BIGINT AS q_qty,
      |    SUM(disc)::BIGINT AS s_disc, SUM(disc*disc)::BIGINT AS q_disc,
      |    SUM(tax)::BIGINT AS s_tax, SUM(tax*tax)::BIGINT AS q_tax,
      |    SUM(qty*disc)::BIGINT AS p_qty_disc,
      |    SUM(qty*tax)::BIGINT AS p_qty_tax,
      |    SUM(disc*tax)::BIGINT AS p_disc_tax
      |  FROM m GROUP BY 1)
      |SELECT r1, n, c.ma AS metric_a, c.mb AS metric_b,
      |  CAST(floor((CAST(n AS DOUBLE) * c.pxy - CAST(c.sx AS DOUBLE) * c.sy) /
      |    (sqrt(CAST(n AS DOUBLE) * c.qx - CAST(c.sx AS DOUBLE) * c.sx) *
      |     sqrt(CAST(n AS DOUBLE) * c.qy - CAST(c.sy AS DOUBLE) * c.sy))
      |    * 1000000.0 + 0.5) AS BIGINT) AS corr_micro
      |FROM s, LATERAL (
      |  SELECT 'qty' AS ma, 'disc' AS mb, s_qty AS sx, s_disc AS sy,
      |         q_qty AS qx, q_disc AS qy, p_qty_disc AS pxy
      |  UNION ALL SELECT 'qty', 'tax', s_qty, s_tax, q_qty, q_tax, p_qty_tax
      |  UNION ALL SELECT 'disc', 'tax', s_disc, s_tax, q_disc, q_tax, p_disc_tax) c
      |ORDER BY r1, metric_a, metric_b""".stripMargin)

  /** Revenue-concentration Gini ([[graft.pipeline.Stats.giniByGroup]])
    * per nation over customer order totals (zero-revenue customers
    * included — they shape the inequality).
    */
  private def qGini(s: SparkSession, dir: String): DataFrame = {
    val cents = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")).as("cents"))
    val cust = t(s, dir, "customer")
      .join(t(s, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    val x = cust.join(cents, col("c_custkey") === col("o_custkey"), "left")
      .select(col("n_name"), col("c_custkey"),
        coalesce(col("cents"), lit(0L)).as("cents"))
    graft.pipeline.Stats.giniByGroup(x, Seq("n_name"), "cents", Seq("c_custkey"))
      .orderBy("n_name")
  }
  // q161: identical tie-broken ranking, exact integer sums, and the
  // identical final double chain
  gate("q161_gini")(qGini(_, _))(
    """WITH cents AS (
      |  SELECT o_custkey, SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
      |  FROM orders GROUP BY 1),
      |x AS (
      |  SELECT n.n_name, c.c_custkey, COALESCE(ct.cents, 0)::BIGINT AS cents
      |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  LEFT JOIN cents ct ON ct.o_custkey = c.c_custkey),
      |ranked AS (
      |  SELECT n_name, cents,
      |    row_number() OVER (PARTITION BY n_name
      |      ORDER BY cents, c_custkey)::BIGINT AS i
      |  FROM x),
      |s AS (
      |  SELECT n_name, COUNT(*)::BIGINT AS n, SUM(cents)::BIGINT AS total,
      |         SUM(i * cents)::BIGINT AS ranked_sum
      |  FROM ranked GROUP BY 1)
      |SELECT n_name, n, total, ranked_sum,
      |  CAST(floor(((2.0 * ranked_sum) / (CAST(n AS DOUBLE) * total) -
      |    (CAST(n AS DOUBLE) + 1.0) / n) * 1000000.0 + 0.5) AS BIGINT) AS gini_micro
      |FROM s ORDER BY n_name""".stripMargin)

  /** Time-to-convert distribution — for each purchase, the seconds
    * since the same user's most recent view within the hour (as-of
    * backward semantics via the union+window anchor pick, q150's
    * pattern), then exact median/p90 per user-decade cohort through
    * [[graft.operators.ExactPercentiles]] on integer second deltas.
    */
  private def qTimeToConvert(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tu"),
        col("event_type"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tu"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val deltas = e
      .withColumn("prev_view_tu",
        last(when(col("event_type") === "view", col("tu")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase" && col("prev_view_tu").isNotNull)
      .select(expr("CAST(user_id div 15 AS BIGINT)").as("cohort"),
        expr("(tu - prev_view_tu) div 1000000").as("sec"))
      .filter(col("sec") <= 3600L)
    graft.operators.ExactPercentiles
      .exact(deltas, Seq("cohort"), "sec", Seq("med_sec" -> 0.5, "p90_sec" -> 0.9))
      .orderBy("cohort")
  }
  // q168: identical last-view anchor (strictly-preceding window),
  // identical integer deltas, quantile_cont ≡ ExactPercentiles
  gate("q168_time_to_convert")(qTimeToConvert(_, _))(
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tu, event_type
      |  FROM events WHERE event_type IN ('view', 'purchase')),
      |a AS (
      |  SELECT user_id, event_id, tu, event_type,
      |    last_value(CASE WHEN event_type = 'view' THEN tu END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY tu, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv
      |  FROM e),
      |d AS (
      |  SELECT (user_id // 15)::BIGINT AS cohort,
      |         ((tu - pv) // 1000000)::BIGINT AS sec
      |  FROM a
      |  WHERE event_type = 'purchase' AND pv IS NOT NULL
      |    AND (tu - pv) // 1000000 <= 3600)
      |SELECT cohort, quantile_cont(sec, 0.5) AS med_sec,
      |       quantile_cont(sec, 0.9) AS p90_sec
      |FROM d GROUP BY 1 ORDER BY cohort""".stripMargin)

  /** First-order Markov log-likelihood of the event-type chains — the
    * sequence-model quality number over q122's transition counts:
    * P(cur|prev) with +1 Laplace smoothing over the observed state
    * set, each transition's ln quantized to a micro integer PER ROW
    * before the (order-free) BIGINT sum; per-prev-state rollup plus
    * mean negative log-likelihood. The per-cell ln((c+1)/(tot+k))
    * comes from the JVM ln6 plane both sides equi-join on the exact
    * (c+1, tot+k) integer pair (StatsFixture — the q139 idf6
    * discipline), so neither engine floors a live libm result.
    */
  private def qMarkovLl(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("tu"), col("event_id"))
    val e = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("tu"), col("event_type"))
    val trans = e.withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("prev"), col("event_type").as("cur"))
    val k = trans.select(col("cur")).union(trans.select(col("prev"))).distinct()
      .agg(count(lit(1)).as("k"))
    val cell = trans.groupBy("prev", "cur").agg(count(lit(1)).as("c"))
    val fromTot = cell.groupBy("prev").agg(sum(col("c")).as("tot"))
    val ln6 = s.read.parquet(
      s"${graft.sources.StatsFixture.ensure(s, dir)}/ln6.parquet")
    cell.join(broadcast(fromTot), "prev").crossJoin(broadcast(k))
      .join(broadcast(ln6),
        col("c") + 1L === col("num") && col("tot") + col("k") === col("den"),
        "left")
      .withColumn("ll_micro", when(col("ln6").isNotNull, col("ln6"))
        .otherwise(raise_error(lit("stale ln6 fixture plane: missing " +
          "(c+1, tot+k) pair — delete the graft_ln6_* tmp dir and rerun"))))
      .groupBy("prev")
      .agg(sum(col("c")).as("n_trans"),
        sum(col("c") * col("ll_micro")).as("sum_ll_micro"),
        expr("CAST(-sum(c * ll_micro) DIV sum(c) AS BIGINT)").as("mean_nll_micro"))
      .orderBy("prev")
  }
  // q207: identical transition cells, +1 smoothing over the
  // observed state set; the per-cell quantized ln comes from the
  // JVM ln6 plane (LEFT join + error() on a stale plane), exact sums
  gate("q207_markov_ll")(qMarkovLl(_, _))(
    s"""WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tu, event_type
      |  FROM events),
      |t AS (
      |  SELECT lag(event_type) OVER (PARTITION BY user_id
      |           ORDER BY tu, event_id) AS prev,
      |         event_type AS cur
      |  FROM e),
      |tr AS (SELECT prev, cur FROM t WHERE prev IS NOT NULL),
      |kk AS (SELECT COUNT(*)::BIGINT AS k FROM (
      |         SELECT cur FROM tr UNION SELECT prev FROM tr)),
      |cell AS (SELECT prev, cur, COUNT(*)::BIGINT AS c FROM tr GROUP BY 1, 2),
      |ft AS (SELECT prev, SUM(c)::BIGINT AS tot FROM cell GROUP BY 1),
      |lnp AS (SELECT num, den, ln6 FROM $lnf),
      |x AS (
      |  SELECT cell.prev, c, tot,
      |    CASE WHEN lnp.ln6 IS NULL
      |         THEN CAST(error('stale ln6 plane: missing (c+1, tot+k) pair') AS BIGINT)
      |         ELSE lnp.ln6 END AS ll_micro
      |  FROM cell JOIN ft ON cell.prev = ft.prev CROSS JOIN kk
      |  LEFT JOIN lnp ON lnp.num = c + 1 AND lnp.den = tot + k)
      |SELECT prev, SUM(c)::BIGINT AS n_trans,
      |       SUM(c * ll_micro)::BIGINT AS sum_ll_micro,
      |       CAST(-SUM(c * ll_micro) // SUM(c) AS BIGINT) AS mean_nll_micro
      |FROM x GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Grouped statistical mode with deterministic tie-break (most
    * frequent cents bucket per event_type; ties to the smallest
    * value) — two partial-aggregated groupBys, the second over one
    * row per distinct value; no window, no collect.
    */
  private def qMode(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT) DIV 100").as("unit"))
      .groupBy("event_type", "unit").agg(count(lit(1)).as("cnt"))
    counts.groupBy("event_type")
      .agg(expr("max_by(unit, struct(cnt, -unit))").as("mode_unit"),
        max(col("cnt")).as("mode_cnt"))
      .orderBy("event_type")
  }
  // q197: identical (cnt desc, unit asc) tie-break — the oracle's
  // rank-1 row equals the engine's max_by(unit, (cnt, -unit))
  gate("q197_mode")(qMode(_, _))(
    """WITH c AS (
      |  SELECT event_type,
      |         CAST(round(value * 100) AS BIGINT) // 100 AS unit,
      |         COUNT(*)::BIGINT AS cnt
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, unit, cnt,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY cnt DESC, unit) AS rn
      |  FROM c)
      |SELECT event_type, unit AS mode_unit, cnt AS mode_cnt
      |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin)

  /** Pairwise Jensen–Shannon divergence between source unigram
    * distributions over the global top-100 vocabulary
    * ([[graft.pipeline.Stats.jsDivergenceMatrix]]) — the symmetric
    * bounded corpus-drift matrix.
    */
  private def qJsDivergence(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.jsDivergenceMatrix(
      t(s, dir, "documents"), "source", "text", vocabSize = 100)
      .orderBy("dom_a", "dom_b")
  // q188: identical top-100 vocabulary (cnt desc, token tie-break),
  // +1 smoothing, and one shared ln chain per pair
  gate("q188_js_divergence")(qJsDivergence(_, _))(
    """WITH toks AS (
      |  SELECT source AS d, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |vocab AS (
      |  SELECT token FROM (
      |    SELECT token, COUNT(*) AS gcnt FROM toks GROUP BY 1)
      |  ORDER BY gcnt DESC, token LIMIT 100),
      |counts AS (
      |  SELECT d, token, COUNT(*)::BIGINT AS cnt
      |  FROM toks JOIN vocab USING (token) GROUP BY 1, 2),
      |dense AS (
      |  SELECT dom.d, v.token, COALESCE(c.cnt, 0) AS cnt
      |  FROM (SELECT DISTINCT source AS d FROM documents) dom
      |  CROSS JOIN vocab v
      |  LEFT JOIN counts c ON c.d = dom.d AND c.token = v.token),
      |tot AS (SELECT d, SUM(cnt)::BIGINT AS tot FROM dense GROUP BY 1),
      |probs AS (
      |  SELECT dense.d, token, (cnt + 1.0) / (tot + 100.0) AS p
      |  FROM dense JOIN tot USING (d))
      |SELECT a.d AS dom_a, b.d AS dom_b,
      |  CAST(floor(SUM(0.5 * a.p * ln(2.0 * a.p / (a.p + b.p)) +
      |                 0.5 * b.p * ln(2.0 * b.p / (a.p + b.p)))
      |    * 1000000.0 + 0.5) AS BIGINT) AS js_micro
      |FROM probs a JOIN probs b ON a.token = b.token AND a.d < b.d
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Exact quantity-weighted median of the extended price per return
    * flag ([[graft.pipeline.Stats.weightedMedian]]) — all-integer,
    * tie-safe by construction.
    */
  private def qWeightedMedian(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.weightedMedian(
      t(s, dir, "lineitem").select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_cents"),
        col("l_quantity").cast("long").as("qty")),
      Seq("l_returnflag"), "price_cents", "qty")
      .orderBy("l_returnflag")
  // q189: identical cumulative-weight threshold under the value
  // order; intra-tie window order is irrelevant by construction
  // (min-value selection sees the tie group's full weight)
  gate("q189_weighted_median")(qWeightedMedian(_, _))(
    """WITH e AS (
      |  SELECT l_returnflag,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
      |         CAST(l_quantity AS BIGINT) AS wt
      |  FROM lineitem),
      |c AS (
      |  SELECT l_returnflag, v, wt,
      |    SUM(wt) OVER (PARTITION BY l_returnflag ORDER BY v
      |                  ROWS UNBOUNDED PRECEDING)::BIGINT AS cumw
      |  FROM e),
      |t AS (SELECT l_returnflag, SUM(wt)::BIGINT AS tw FROM e GROUP BY 1)
      |SELECT c.l_returnflag, MIN(v)::BIGINT AS wmedian
      |FROM c JOIN t USING (l_returnflag)
      |WHERE cumw * 2 >= tw
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Largest-remainder apportionment of a 1M-token budget across
    * sources, weighted by √(source tokens) — temperature-style mixing
    * quotas that sum to the budget EXACTLY
    * ([[graft.pipeline.Sampling.largestRemainderAllocation]]).
    */
  private def qBudgetAlloc(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents")
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("toks"))
      .withColumn("w",
        expr("CAST(floor(sqrt(CAST(toks AS DOUBLE)) * 1000000.0) AS BIGINT)"))
    graft.pipeline.Sampling.largestRemainderAllocation(
      counts.select(col("source"), col("w")), Seq("source"), "w", 1000000L)
      .orderBy("source")
  }
  // q185: identical sqrt-micro weights, identical floor quotas and
  // largest-remainder top-up (ties by source) — all-integer end game
  gate("q185_budget_alloc")(qBudgetAlloc(_, _))(
    """WITH c AS (
      |  SELECT source, SUM(len(string_split(text, ' ')))::BIGINT AS toks
      |  FROM documents GROUP BY 1),
      |wt AS (
      |  SELECT source,
      |         CAST(floor(sqrt(toks::DOUBLE) * 1000000.0) AS BIGINT) AS w
      |  FROM c),
      |t AS (SELECT SUM(w)::BIGINT AS tw FROM wt),
      |b AS (
      |  SELECT source, w, (1000000 * w // tw)::BIGINT AS a0,
      |         (1000000 * w % tw)::BIGINT AS rem
      |  FROM wt, t),
      |u AS (SELECT SUM(a0)::BIGINT AS used FROM b),
      |r AS (
      |  SELECT source, w, a0,
      |         row_number() OVER (ORDER BY rem DESC, source) - 1 AS pos
      |  FROM b)
      |SELECT source, w,
      |  (a0 + CASE WHEN pos < 1000000 - used THEN 1 ELSE 0 END)::BIGINT AS alloc
      |FROM r, u ORDER BY source""".stripMargin)

  /** Per-event_type OLS trend of value against arrival rank — the
    * metric-drift slope/intercept screen
    * ([[graft.pipeline.Stats.olsTrend]]; exact BIGINT co-moments).
    */
  private def qOlsTrend(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.olsTrend(
      Tables.events(s, dir).select(col("event_type"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents")),
      Seq("event_type"), "event_id", col("cents"))
      .orderBy("event_type")
  // q179: identical 1-based rank, identical exact co-moments,
  // identical closed-form slope/intercept double chains
  gate("q179_ols_trend")(qOlsTrend(_, _))(
    """WITH e AS (
      |  SELECT event_type,
      |         row_number() OVER (PARTITION BY event_type ORDER BY event_id)::BIGINT AS x,
      |         CAST(round(value * 100) AS BIGINT) AS y
      |  FROM events),
      |s AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx,
      |         SUM(y)::BIGINT AS sy, SUM(x*x)::BIGINT AS sxx,
      |         SUM(x*y)::BIGINT AS sxy
      |  FROM e GROUP BY 1)
      |SELECT event_type, n,
      |  CAST(floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
      |    (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
      |    * 1000000.0 + 0.5) AS BIGINT) AS slope_micro,
      |  CAST(floor((CAST(sy AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sxy) /
      |    (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
      |    * 1000000.0 + 0.5) AS BIGINT) AS intercept_micro
      |FROM s ORDER BY event_type""".stripMargin)

  /** Population Stability Index of the value distribution per
    * event_type, early-vs-late half of the timeline (split at the
    * global time midpoint, one broadcast row) over 10 fixed cent bins
    * — the drift monitor ([[graft.pipeline.Stats.populationStability]]).
    */
  private def qPsi(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_type"),
      unix_micros(col("ts")).as("tu"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val mid = e.agg(expr("(min(tu) + max(tu)) DIV 2").as("mid"))
    graft.pipeline.Stats.populationStability(
      e.crossJoin(broadcast(mid)),
      Seq("event_type"),
      expr("least(cents DIV 5000, CAST(9 AS BIGINT))"),
      col("tu") < col("mid"))
      .orderBy("event_type", "bin")
  }
  // q176: identical midpoint split, identical fixed bins and +0.5
  // smoothing; the ln chain is q158's libm-determinism precedent
  gate("q176_psi")(qPsi(_, _))(
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) AS tu,
      |         CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events),
      |mid AS (SELECT (MIN(tu) + MAX(tu)) // 2 AS mid FROM e),
      |f AS (
      |  SELECT event_type, least(v // 5000, 9) AS bin,
      |         CAST(tu < mid AS BIGINT) AS a
      |  FROM e, mid),
      |cells AS (
      |  SELECT event_type, bin, SUM(a)::BIGINT AS cnt_base,
      |         SUM(1 - a)::BIGINT AS cnt_cur
      |  FROM f GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type, SUM(cnt_base)::BIGINT AS tb,
      |         SUM(cnt_cur)::BIGINT AS tc, COUNT(*)::BIGINT AS nb
      |  FROM cells GROUP BY 1),
      |x AS (
      |  SELECT c.event_type, bin, cnt_base, cnt_cur,
      |         (cnt_base + 0.5) / (tb + 0.5 * nb) AS p,
      |         (cnt_cur + 0.5) / (tc + 0.5 * nb) AS q
      |  FROM cells c JOIN tot t USING (event_type))
      |SELECT event_type, bin, cnt_base, cnt_cur,
      |  CAST(floor((p - q) * ln(p / q) * 1000000.0 + 0.5) AS BIGINT) AS psi_micro
      |FROM x ORDER BY event_type, bin""".stripMargin)

  /** Wald–Wolfowitz runs test of the value series per event_type
    * (above/below the 50.00 line, event_id order) — serial-randomness
    * screen ([[graft.pipeline.Stats.runsTest]]).
    */
  private def qRuns(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.runsTest(
      Tables.events(s, dir).select(col("event_type"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents")),
      Seq("event_type"), "event_id", col("cents"), threshold = 5000L)
      .orderBy("event_type")
  // q177: identical sign sequence (exact ties dropped), identical
  // lag-based run starts, one shared normal-approximation chain
  gate("q177_runs_test")(qRuns(_, _))(
    """WITH e AS (
      |  SELECT event_type, event_id,
      |         CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events WHERE CAST(round(value * 100) AS BIGINT) <> 5000),
      |s AS (
      |  SELECT event_type, event_id,
      |         CAST(v > 5000 AS INT) AS sgn
      |  FROM e),
      |c AS (
      |  SELECT event_type, sgn,
      |    CASE WHEN lag(sgn) OVER (PARTITION BY event_type ORDER BY event_id)
      |              IS DISTINCT FROM sgn THEN 1 ELSE 0 END AS chg
      |  FROM s),
      |g AS (
      |  SELECT event_type, SUM(sgn)::BIGINT AS n1,
      |         SUM(1 - sgn)::BIGINT AS n2, SUM(chg)::BIGINT AS runs
      |  FROM c GROUP BY 1)
      |SELECT event_type, n1, n2, runs,
      |  CAST(floor((runs - (2.0 * n1 * n2 / (n1 + n2) + 1.0)) /
      |    sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) /
      |      ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)))
      |    * 1000000.0 + 0.5) AS BIGINT) AS z_micro
      |FROM g ORDER BY event_type""".stripMargin)

  /** RFM segmentation over orders — recency / frequency / monetary
    * quintile scores per customer, rolled up to segment counts. Each
    * score is the customer's global rank bucket ⌊pos·5/n⌋+1 under a
    * tie-broken total order, computed by the range-partitioned rank
    * ([[graft.pipeline.Prefix.withGlobalPosition]] — never a
    * single-task NTILE window); the bucket rule is replayed verbatim
    * from row_number in the oracle.
    */
  private def qRfm(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Prefix
    val base = t(s, dir, "orders")
      .groupBy(col("o_custkey").as("cust"))
      .agg(max(col("o_orderdate")).as("rec"),
        count(lit(1)).as("freq"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("mon"))
      .localCheckpoint() // scored three ways below — pin one evaluation
    val tot = base.agg(count(lit(1)).as("n"))
    def score(metric: String, out: String): DataFrame =
      Prefix.withGlobalPosition(base.select(col("cust"), col(metric)),
          Seq(metric, "cust"))
        .crossJoin(broadcast(tot))
        .select(col("cust"), expr(s"pos * 5 div n + 1").as(out))
    base.select(col("cust"), col("mon"))
      .join(score("rec", "r_score"), "cust")
      .join(score("freq", "f_score"), "cust")
      .join(score("mon", "m_score"), "cust")
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_cust"), sum(col("mon")).as("sum_mon"))
      .orderBy("r_score", "f_score", "m_score")
  }
  // q174: identical tie-broken total orders (metric, cust) and the
  // identical ⌊pos·5/n⌋+1 bucket rule from row_number
  gate("q174_rfm")(qRfm(_, _))(
    """WITH base AS (
      |  SELECT o_custkey AS cust, MAX(o_orderdate) AS rec,
      |         COUNT(*)::BIGINT AS freq,
      |         SUM(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS mon
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT COUNT(*)::BIGINT AS n FROM base),
      |sc AS (
      |  SELECT cust, mon,
      |    ((row_number() OVER (ORDER BY rec, cust) - 1) * 5 // n + 1)::BIGINT AS r_score,
      |    ((row_number() OVER (ORDER BY freq, cust) - 1) * 5 // n + 1)::BIGINT AS f_score,
      |    ((row_number() OVER (ORDER BY mon, cust) - 1) * 5 // n + 1)::BIGINT AS m_score
      |  FROM base, tot)
      |SELECT r_score, f_score, m_score, COUNT(*)::BIGINT AS n_cust,
      |       SUM(mon)::BIGINT AS sum_mon
      |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)

  /** Benford first-digit screen over positive integer cents — the
    * classic fraud / synthetic-data tripwire. First digit extracted
    * through the decimal string (exact — no float log10 on the hot
    * path); expected shares and χ² contributions are one shared
    * deterministic double chain ([[graft.pipeline.Stats.benford]]).
    */
  private def qBenford(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.benford(
      Tables.events(s, dir),
      expr("CAST(round(value * 100) AS BIGINT)"))
      .orderBy("digit")
  // q173: identical string-extracted first digit, identical ln-based
  // double chain (q158's libm-determinism precedent)
  gate("q173_benford")(qBenford(_, _))(
    """WITH v AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events
      |  WHERE CAST(round(value * 100) AS BIGINT) > 0),
      |d AS (
      |  SELECT CAST(substring(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
      |         COUNT(*)::BIGINT AS cnt
      |  FROM v GROUP BY 1),
      |tot AS (SELECT SUM(cnt)::BIGINT AS n FROM d),
      |x AS (
      |  SELECT digit, cnt, n, ln(1.0 + 1.0 / digit) / ln(10.0) AS p
      |  FROM d, tot)
      |SELECT digit, cnt, n,
      |  CAST(floor(p * 1000000.0 + 0.5) AS BIGINT) AS exp_micro,
      |  CAST(floor((cnt - n * p) * (cnt - n * p) / (n * p)
      |    * 1000000.0 + 0.5) AS BIGINT) AS chi2_micro
      |FROM x ORDER BY digit""".stripMargin)

  /** Lag-1..3 autocorrelation of the value series per event_type —
    * serial dependence screening (is a metric trending / mean-
    * reverting / i.i.d.?). One key-partitioned window emits all lags;
    * Pearson chain over exact BIGINT cents ([[graft.pipeline.Stats.acf]]).
    */
  private def qAcf(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.acf(
      Tables.events(s, dir).select(col("event_type"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents")),
      Seq("event_type"), "event_id", "cents", maxLag = 3)
      .orderBy("event_type", "lag")
  // q170: identical lag pairing (lag() over the same total order),
  // identical exact co-moments, q160's double chain verbatim
  gate("q170_acf")(qAcf(_, _))(
    """WITH e AS (
      |  SELECT event_type, event_id,
      |         CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events),
      |l AS (
      |  SELECT event_type, 1 AS lag, v AS x,
      |         lag(v, 1) OVER (PARTITION BY event_type ORDER BY event_id) AS y FROM e
      |  UNION ALL
      |  SELECT event_type, 2 AS lag, v,
      |         lag(v, 2) OVER (PARTITION BY event_type ORDER BY event_id) FROM e
      |  UNION ALL
      |  SELECT event_type, 3 AS lag, v,
      |         lag(v, 3) OVER (PARTITION BY event_type ORDER BY event_id) FROM e),
      |s AS (
      |  SELECT event_type, lag, COUNT(*)::BIGINT AS n,
      |    SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
      |    SUM(x*x)::BIGINT AS qx, SUM(y*y)::BIGINT AS qy,
      |    SUM(x*y)::BIGINT AS pxy
      |  FROM l WHERE y IS NOT NULL GROUP BY 1, 2)
      |SELECT event_type, lag, n,
      |  CAST(floor((CAST(n AS DOUBLE) * pxy - CAST(sx AS DOUBLE) * sy) /
      |    (sqrt(CAST(n AS DOUBLE) * qx - CAST(sx AS DOUBLE) * sx) *
      |     sqrt(CAST(n AS DOUBLE) * qy - CAST(sy AS DOUBLE) * sy))
      |    * 1000000.0 + 0.5) AS BIGINT) AS acf_micro
      |FROM s ORDER BY event_type, lag""".stripMargin)

  /** Two-sample Kolmogorov–Smirnov distance between the view and
    * purchase value distributions — the standard drift / A-B
    * distribution test. Exact-integer end to end: D as the rational
    * d_num/denom plus its truncating micro quotient
    * ([[graft.pipeline.Stats.ksTwoSample]]; ECDFs via one
    * range-partitioned prefix-sum pass, never a single-task window).
    */
  private def qKsTest(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.ksTwoSample(
      Tables.events(s, dir)
        .where(col("event_type").isin("view", "purchase"))
        .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          col("event_type")),
      "cents", (col("event_type") === "view").cast("long"))
  // q171: exact-integer KS — cumulative counts over the pooled
  // support, |i·m − j·n| never touches a float; d_micro is the
  // truncating integer quotient on both sides
  gate("q171_ks_test")(qKsTest(_, _))(
    """WITH e AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS v,
      |         CAST(event_type = 'view' AS BIGINT) AS a
      |  FROM events WHERE event_type IN ('view', 'purchase')),
      |c AS (
      |  SELECT v, SUM(a)::BIGINT AS ca, SUM(1 - a)::BIGINT AS cb
      |  FROM e GROUP BY 1),
      |cum AS (
      |  SELECT SUM(ca) OVER (ORDER BY v)::BIGINT AS i,
      |         SUM(cb) OVER (ORDER BY v)::BIGINT AS j
      |  FROM c),
      |tot AS (SELECT SUM(ca)::BIGINT AS n, SUM(cb)::BIGINT AS m FROM c)
      |SELECT n, m, MAX(abs(i * m - j * n))::BIGINT AS d_num,
      |       (n * m)::BIGINT AS denom,
      |       (MAX(abs(i * m - j * n)) * 1000000 // (n * m))::BIGINT AS d_micro
      |FROM cum, tot GROUP BY n, m""".stripMargin)

  /** Spearman rank correlation between value and props.k per
    * event_type — Pearson on tie-broken INTEGER ranks, so the
    * co-moments are exact BIGINTs (q160's discipline) and rho is one
    * deterministic chain. Monotone-association screening where
    * Pearson's linearity assumption fails.
    */
  private def qSpearman(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("event_type"), col("event_id"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
      expr("CAST(get_json_object(props, '$.k') AS BIGINT)").as("k"))
    val rx = Window.partitionBy(col("event_type")).orderBy(col("cents"), col("event_id"))
    val ry = Window.partitionBy(col("event_type")).orderBy(col("k"), col("event_id"))
    val ranked = e
      .withColumn("x", row_number().over(rx).cast("long"))
      .withColumn("y", row_number().over(ry).cast("long"))
    graft.pipeline.Stats.corrMatrix(ranked, Seq("event_type"), Seq("x", "y"))
      .select(col("event_type"), col("n"),
        col("corr_micro").as("spearman_micro"))
      .orderBy("event_type")
  }
  // q166: Pearson on tie-broken integer ranks — identical ranks,
  // identical exact co-moments, identical chain
  gate("q166_spearman")(qSpearman(_, _))(
    """WITH e AS (
      |  SELECT event_type, event_id,
      |         CAST(round(value * 100) AS BIGINT) AS cents,
      |         CAST(json_extract(props, '$.k') AS BIGINT) AS kk
      |  FROM events),
      |r AS (
      |  SELECT event_type,
      |    row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id)::BIGINT AS x,
      |    row_number() OVER (PARTITION BY event_type ORDER BY kk, event_id)::BIGINT AS y
      |  FROM e),
      |s AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n,
      |    SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
      |    SUM(x*x)::BIGINT AS qx, SUM(y*y)::BIGINT AS qy,
      |    SUM(x*y)::BIGINT AS pxy
      |  FROM r GROUP BY 1)
      |SELECT event_type, n,
      |  CAST(floor((CAST(n AS DOUBLE) * pxy - CAST(sx AS DOUBLE) * sy) /
      |    (sqrt(CAST(n AS DOUBLE) * qx - CAST(sx AS DOUBLE) * sx) *
      |     sqrt(CAST(n AS DOUBLE) * qy - CAST(sy AS DOUBLE) * sy))
      |    * 1000000.0 + 0.5) AS BIGINT) AS spearman_micro
      |FROM s ORDER BY event_type""".stripMargin)

  /** Winsorized robust scaling per group: exact P05/P95 order
    * statistics (value at rank ⌈q·n⌉ — rank ties don't matter, the
    * k-th value of the sorted multiset is unique), then clip-and-sum.
    * One sort-based window per group plus a broadcast of the tiny
    * per-group stats row; the clip pass is map-only.
    */
  private def qWinsorize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("cents"))
    val ranked = e.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    val cuts = ranked.groupBy("event_type").agg(
      max(when(col("rn") === expr("(n * 5 + 99) DIV 100"), col("cents"))).as("p5"),
      max(when(col("rn") === expr("(n * 95 + 99) DIV 100"), col("cents"))).as("p95"),
      max(col("n")).cast("long").as("n"))
    e.join(broadcast(cuts), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), max(col("p5")).as("p5"), max(col("p95")).as("p95"),
        sum(least(greatest(col("cents"), col("p5")), col("p95"))).as("sum_wins"),
        sum(when(col("cents") < col("p5"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("cents") > col("p95"), 1L).otherwise(0L)).as("n_hi"))
      .orderBy("event_type")
  }
  // q221: identical ceil-rank order statistics; rank ties can't
  // change the k-th value of the sorted multiset
  gate("q221_winsorize")(qWinsorize(_, _))(
    """WITH e AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |r AS (
      |  SELECT event_type, cents,
      |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
      |         COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM e),
      |cuts AS (
      |  SELECT event_type,
      |         MAX(CASE WHEN rn = (n * 5 + 99) // 100 THEN cents END) AS p5,
      |         MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN cents END) AS p95,
      |         MAX(n)::BIGINT AS n
      |  FROM r GROUP BY 1)
      |SELECT e.event_type, MAX(n)::BIGINT AS n,
      |       MAX(p5)::BIGINT AS p5, MAX(p95)::BIGINT AS p95,
      |       SUM(LEAST(GREATEST(cents, p5), p95))::BIGINT AS sum_wins,
      |       SUM(CASE WHEN cents < p5 THEN 1 ELSE 0 END)::BIGINT AS n_lo,
      |       SUM(CASE WHEN cents > p95 THEN 1 ELSE 0 END)::BIGINT AS n_hi
      |FROM e JOIN cuts USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Sequential-pattern support (PrefixSpan's frequent-2-sequence
    * core): for event types a ≠ b, how many users exhibit "a then
    * later b". Per user each type reduces to (first, last) occurrence
    * — "a before b" ⟺ min(a) < max(b) — so the pair space is the tiny
    * per-user type×type grid (≤ T² rows/user), never an event-level
    * self-join. One groupBy + one user-keyed join.
    */
  private def qSeqSupport(s: SparkSession, dir: String): DataFrame = {
    val occ = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tu"))
      // "a then later b" ⟺ min(tu_a) < max(tu_b): a strict value
      // comparison, so micro-timestamp ties resolve to "not before"
      // identically on both engines — no ordering ambiguity
      .groupBy("user_id", "event_type")
      .agg(min(col("tu")).as("fst"), max(col("tu")).as("lst"))
    val a = occ.select(col("user_id"), col("event_type").as("a"), col("fst"))
    val b = occ.select(col("user_id"), col("event_type").as("b"), col("lst"))
    a.join(b, Seq("user_id"))
      .filter(col("a") =!= col("b") && col("fst") < col("lst"))
      .groupBy("a", "b").agg(countDistinct(col("user_id")).as("support"))
      .orderBy("a", "b")
  }
  // q225: identical (first, last) reduction and strict comparison
  gate("q225_seq_support")(qSeqSupport(_, _))(
    """WITH occ AS (
      |  SELECT user_id, event_type, MIN(epoch_us(ts)) AS fst,
      |         MAX(epoch_us(ts)) AS lst
      |  FROM events GROUP BY 1, 2)
      |SELECT a.event_type AS a, b.event_type AS b,
      |       COUNT(DISTINCT a.user_id)::BIGINT AS support
      |FROM occ a JOIN occ b
      |  ON a.user_id = b.user_id AND a.event_type <> b.event_type
      | AND a.fst < b.lst
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Mergeable histogram quantiles — the quantile path that actually
    * scales: a 1024-bin integer histogram is one map-side-combined
    * groupBy (bin counts merge associatively across any partitioning,
    * unlike a sort), and every quantile reads off the cumulative
    * counts. The gate emits the histogram estimate (bin lower edge),
    * the exact order-statistic value, and the |err| ≤ bin-width proof
    * — so the error bound is verified, not assumed. All integer.
    */
  private def qHistogramQuantiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val b = e.agg(min(col("c")).as("lo"), max(col("c")).as("hi"))
    val binned = e.crossJoin(broadcast(b))
      .withColumn("w", expr("(hi - lo + 1023) DIV 1024"))
      .withColumn("bin", expr("(c - lo) DIV w"))
    val hist = binned.groupBy("event_type", "bin")
      .agg(count(lit(1)).as("cnt"), max(col("lo")).as("lo"), max(col("w")).as("w"))
      .withColumn("cum", sum(col("cnt")).over(Window.partitionBy(col("event_type"))
        .orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
    val qs = Seq(25, 50, 75, 90, 99)
    val est = hist
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .filter(col("cum") * 100L >= col("q") * col("n"))
      .groupBy("event_type", "q")
      .agg(min(col("bin")).as("qbin"), max(col("lo")).as("lo"), max(col("w")).as("w"))
      .withColumn("est", col("lo") + col("qbin") * col("w"))
    // exact order statistic at rank ⌈q·n/100⌉ (the gate's check; the
    // production path stops at `est`)
    val exact = e
      .withColumn("rn", row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("c"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .filter(col("rn") === expr("(q * n + 99) DIV 100"))
      .groupBy("event_type", "q").agg(max(col("c")).as("exact"))
    est.join(exact, Seq("event_type", "q"))
      .select(col("event_type"), col("q").cast("long").as("q"), col("est"),
        col("exact"), col("w"),
        (abs(col("est") - col("exact")) <= col("w")).as("within_bound"))
      .orderBy("event_type", "q")
  }
  // q245: identical integer binning, cumulative pick, ceil-rank
  // exact value, bound proof
  gate("q245_histogram_quantiles")(qHistogramQuantiles(_, _))(
    """WITH e AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events),
      |b AS (SELECT MIN(c) AS lo, MAX(c) AS hi FROM e),
      |binned AS (
      |  SELECT event_type, c, lo, (hi - lo + 1023) // 1024 AS w,
      |         (c - lo) // ((hi - lo + 1023) // 1024) AS bin
      |  FROM e, b),
      |hist AS (
      |  SELECT event_type, bin, COUNT(*) AS cnt, MAX(lo) AS lo, MAX(w) AS w
      |  FROM binned GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, bin, lo, w,
      |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
      |                   ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(cnt) OVER (PARTITION BY event_type) AS n
      |  FROM hist),
      |est AS (
      |  SELECT event_type, q.q, MIN(bin) AS qbin, MAX(lo) AS lo, MAX(w) AS w
      |  FROM cum, (SELECT UNNEST([25, 50, 75, 90, 99]) AS q) q
      |  WHERE cum * 100 >= q.q * n
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT event_type, c,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM e),
      |ex AS (
      |  SELECT event_type, q.q, MAX(c) AS exact
      |  FROM rk, (SELECT UNNEST([25, 50, 75, 90, 99]) AS q) q
      |  WHERE rn = (q.q * n + 99) // 100
      |  GROUP BY 1, 2)
      |SELECT e.event_type, CAST(e.q AS BIGINT) AS q,
      |       (lo + qbin * w)::BIGINT AS est, exact::BIGINT AS exact,
      |       w::BIGINT AS w,
      |       ABS(lo + qbin * w - exact) <= w AS within_bound
      |FROM est e JOIN ex ON ex.event_type = e.event_type AND ex.q = e.q
      |ORDER BY 1, 2""".stripMargin)

  /** HLL accuracy gate: `approx_count_distinct` is DETERMINISTIC
    * (max-merge sketches are aggregation-order-independent), so the
    * gate pins Spark's estimate against the exact NDV with a 5% bound
    * — the q73-recall-floor discipline for cardinality sketches. The
    * oracle asserts the bound (engines' HLL implementations differ,
    * the estimate itself is engine-local).
    */
  private def qHllAccuracy(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_ndv"),
        approx_count_distinct(col("user_id"), 0.02).as("approx_ndv"))
      .select(col("event_type"), col("exact_ndv"),
        (abs(col("approx_ndv") - col("exact_ndv")) * 100L <=
          col("exact_ndv") * 5L).as("within_5pct"))
      .orderBy("event_type")
  // q271: the bound is the assertion; the estimate is engine-local
  gate("q271_hll_accuracy")(qHllAccuracy(_, _))(
    """SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS exact_ndv,
      |       TRUE AS within_5pct
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Kaplan–Meier churn survival (the retention curve with proper
    * censoring): users active on the corpus's final day are CENSORED,
    * not churned; per churn day, the risk set, the churn count, the
    * per-day log-hazard (q207's floor(ln·10⁶) per-row discipline) and
    * the cumulative log-survival. The user-day reduction is two
    * aggregates; the cumulative runs over ≤|days| rollup rows.
    */
  private def qSurvivalKm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("user_id"), to_date(col("ts")).as("day"))
    val span = e.agg(max(col("day")).as("max_day"))
    val lastDay = e.groupBy("user_id").agg(max(col("day")).as("last_day"))
      .crossJoin(broadcast(span))
    val churn = lastDay.filter(col("last_day") < col("max_day"))
      .groupBy(col("last_day").as("day")).agg(count(lit(1)).as("d_churn"))
    // risk set at day d = users whose last_day ≥ d: suffix count over
    // the ≤|days| rollup (total minus prefix of earlier last_days)
    val byDay = lastDay.groupBy(col("last_day").as("day")).agg(count(lit(1)).as("ending"))
    val tot = lastDay.agg(count(lit(1)).as("n_users"))
    val wDays = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, -1)
    val risk = byDay.crossJoin(broadcast(tot))
      .withColumn("n_risk", col("n_users") - coalesce(sum(col("ending")).over(wDays), lit(0L)))
      .select(col("day"), col("n_risk"))
    val wCum = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    // the quantized-ln hazard term comes from the JVM ln6 plane both
    // sides equi-join (StatsFixture — the q139 idf6 discipline; no
    // engine calls ln at verify time, killing cross-libm floor drift)
    val ln6 = s.read.parquet(
      s"${graft.sources.StatsFixture.ensure(s, dir)}/ln6.parquet")
    churn.join(risk, "day")
      .filter(col("d_churn") < col("n_risk")) // ln(0) guard, same both sides
      .join(broadcast(ln6),
        col("n_risk") - col("d_churn") === col("num") &&
          col("n_risk") === col("den"), "left")
      // LEFT + raise_error: a stale/incomplete plane fails the gate
      // loudly instead of silently dropping the same days both sides
      .withColumn("h_micro", when(col("ln6").isNotNull, col("ln6"))
        .otherwise(raise_error(lit("stale ln6 fixture plane: missing " +
          "(n_risk-d_churn, n_risk) pair — delete the graft_ln6_* tmp dir"))))
      .withColumn("cum_ln_micro", sum(col("h_micro")).over(wCum))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_risk"), col("d_churn"), col("h_micro"), col("cum_ln_micro"))
      .orderBy("day")
  }
  // q305: identical censoring rule, suffix risk sets, per-row
  // floor(ln·1e6) hazard and cumulative
  // q305: the quantized-ln hazard term comes from the shared JVM ln6
  // plane (StatsFixture) — DuckDB never calls ln (cross-libm fix)
  gate("q305_survival_km")(qSurvivalKm(_, _))(
    s"""WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |mx AS (SELECT MAX(day) AS max_day FROM e),
      |ld AS (SELECT user_id, MAX(day) AS last_day FROM e GROUP BY 1),
      |churn AS (
      |  SELECT last_day AS day, COUNT(*)::BIGINT AS d_churn
      |  FROM ld, mx WHERE last_day < max_day GROUP BY 1),
      |byday AS (SELECT last_day AS day, COUNT(*)::BIGINT AS ending
      |          FROM ld GROUP BY 1),
      |tot AS (SELECT COUNT(*)::BIGINT AS n_users FROM ld),
      |risk AS (
      |  SELECT day, n_users - COALESCE(SUM(ending) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      |  FROM byday, tot),
      |lnp AS (SELECT num, den, ln6 FROM $lnf),
      |h AS (
      |  SELECT c.day, r.n_risk, c.d_churn,
      |    CASE WHEN lnp.ln6 IS NULL
      |         THEN CAST(error('stale ln6 plane: missing KM pair') AS BIGINT)
      |         ELSE lnp.ln6 END AS h_micro
      |  FROM churn c JOIN risk r ON r.day = c.day
      |  LEFT JOIN lnp ON lnp.num = r.n_risk - c.d_churn AND lnp.den = r.n_risk
      |  WHERE c.d_churn < r.n_risk)
      |SELECT strftime(day, '%Y-%m-%d') AS day, n_risk::BIGINT AS n_risk,
      |       d_churn, h_micro,
      |       SUM(h_micro) OVER (ORDER BY day
      |         ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_ln_micro
      |FROM h ORDER BY day""".stripMargin)

  /** Simpson diversity index per source (the ecology measure reused
    * for corpus mix monitoring): Σ nᵢ(nᵢ−1) / N(N−1) in exact micro
    * integers — probability two random docs share a language. One
    * two-level aggregate.
    */
  private def qSimpsonDiversity(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy("source", "lang").agg(count(lit(1)).as("ni"))
      .groupBy("source")
      .agg(sum(col("ni")).as("n_docs"),
        sum(col("ni") * (col("ni") - 1L)).as("same_pairs2"))
      .select(col("source"), col("n_docs"),
        // n_docs > 1 guard: a single-doc source would divide by zero,
        // which ERRORS under the suite's ANSI mode (qTargetEncodeLoo's
        // gn > 1 convention)
        expr("""CASE WHEN n_docs > 1
               |  THEN CAST(same_pairs2 * 1000000 DIV (n_docs * (n_docs - 1)) AS BIGINT)
               |  ELSE NULL END""".stripMargin)
          .as("simpson_micro"))
      .orderBy("source")
  // q306: the exact integer same-pair identity
  gate("q306_simpson_diversity")(qSimpsonDiversity(_, _))(
    """WITH c AS (
      |  SELECT source, lang, COUNT(*)::BIGINT AS ni
      |  FROM documents GROUP BY 1, 2)
      |SELECT source, SUM(ni)::BIGINT AS n_docs,
      |       (CASE WHEN SUM(ni) > 1 THEN SUM(ni * (ni - 1)) * 1000000
      |        // (SUM(ni) * (SUM(ni) - 1)) ELSE NULL END)::BIGINT AS simpson_micro
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Information gain IG(event_type ; user band) — the feature-
    * selection screen next to WOE (q158) and χ² (q147): marginal
    * minus conditional entropy, every ln floored to micro-nats PER
    * TERM (q142's discipline) so the sums are exact integers and
    * partial-aggregation-order-free.
    */
  private def qInfoGain(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(expr("CAST(user_id % 10 AS BIGINT)").as("band"), col("event_type"))
    // corpus total as a broadcast one-row aggregate (the q305/q307
    // pattern) — an eager e.count() here would run a scan at
    // DataFrame-CONSTRUCTION time and bake a data-dependent literal
    // into the plan text
    val tot = e.agg(count(lit(1)).as("n"))
    // entropy terms read the JVM ln6 plane both sides equi-join
    // (StatsFixture — the q139 idf6 discipline; the counts, joins,
    // and sums stay independently computed on each side)
    val ln6 = s.read.parquet(
      s"${graft.sources.StatsFixture.ensure(s, dir)}/ln6.parquet")
    // LEFT + raise_error: a stale/incomplete plane fails the gate
    // loudly instead of silently dropping the same terms both sides
    def lnOrFail: Column = when(col("ln6").isNotNull, col("ln6"))
      .otherwise(raise_error(lit("stale ln6 fixture plane: missing " +
        "(c, N) pair — delete the graft_ln6_* tmp dir and rerun")))
    val marg = e.groupBy("event_type").agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(tot))
      .join(broadcast(ln6),
        col("c") === col("num") && col("n") === col("den"), "left")
      .select(sum(col("c") * lnOrFail).as("s_marg"))
    val bandTot = e.groupBy("band").agg(count(lit(1)).as("nb"))
    val cond = e.groupBy("band", "event_type").agg(count(lit(1)).as("c"))
      .join(broadcast(bandTot), "band")
      .join(broadcast(ln6),
        col("c") === col("num") && col("nb") === col("den"), "left")
      .select(sum(col("c") * lnOrFail).as("s_cond"))
    marg.crossJoin(cond).crossJoin(broadcast(tot))
      .select(expr("CAST(-s_marg DIV n AS BIGINT)").as("h_label_micro"),
        expr("CAST(-s_cond DIV n AS BIGINT)").as("h_cond_micro"),
        expr("CAST(-s_marg DIV n - -s_cond DIV n AS BIGINT)").as("ig_micro"))
  }
  // q311: q142's per-term floor(ln·1e6) discipline on both entropies
  // q311: entropy ln terms from the shared JVM ln6 plane
  // (StatsFixture) — DuckDB never calls ln (cross-libm fix)
  gate("q311_info_gain")(qInfoGain(_, _))(
    s"""WITH e AS (
      |  SELECT CAST(user_id % 10 AS BIGINT) AS band, event_type FROM events),
      |n AS (SELECT COUNT(*)::BIGINT AS n FROM e),
      |lnp AS (SELECT num, den, ln6 FROM $lnf),
      |marg AS (
      |  SELECT SUM(c * CASE WHEN lnp.ln6 IS NULL
      |    THEN CAST(error('stale ln6 plane: missing marginal pair') AS BIGINT)
      |    ELSE lnp.ln6 END)::BIGINT AS s_marg
      |  FROM (SELECT event_type, COUNT(*)::BIGINT AS c FROM e GROUP BY 1)
      |  CROSS JOIN n
      |  LEFT JOIN lnp ON lnp.num = c AND lnp.den = n.n),
      |bt AS (SELECT band, COUNT(*)::BIGINT AS nb FROM e GROUP BY 1),
      |cond AS (
      |  SELECT SUM(c * CASE WHEN lnp.ln6 IS NULL
      |    THEN CAST(error('stale ln6 plane: missing band pair') AS BIGINT)
      |    ELSE lnp.ln6 END)::BIGINT AS s_cond
      |  FROM (SELECT band, event_type, COUNT(*)::BIGINT AS c
      |        FROM e GROUP BY 1, 2) x JOIN bt USING (band)
      |  LEFT JOIN lnp ON lnp.num = c AND lnp.den = bt.nb)
      |SELECT CAST(-s_marg // n.n AS BIGINT) AS h_label_micro,
      |       CAST(-s_cond // n.n AS BIGINT) AS h_cond_micro,
      |       CAST(-s_marg // n.n - -s_cond // n.n AS BIGINT) AS ig_micro
      |FROM marg, cond, n""".stripMargin)

  /** Mann–Whitney U ([[graft.pipeline.Stats.mannWhitneyU]]): urgent
    * orders vs the rest on totalprice cents — doubled midranks keep
    * every statistic on exact BIGINTs (no z-score sqrt in the gate).
    */
  private def qMannWhitney(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.mannWhitneyU(
      t(s, dir, "orders")
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
          col("o_orderpriority")),
      "cents", (col("o_orderpriority") === "1-URGENT").cast("long"))
  // q317: doubled midranks — 2·rank(v) = 2·less + tied + 1 keeps
  // every Mann–Whitney statistic on exact BIGINTs
  gate("q317_mann_whitney")(qMannWhitney(_, _))(
    """WITH e AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
      |         CAST(o_orderpriority = '1-URGENT' AS BIGINT) AS a
      |  FROM orders),
      |c AS (SELECT v, SUM(a)::BIGINT AS ca, SUM(1 - a)::BIGINT AS cb
      |      FROM e GROUP BY 1),
      |cum AS (
      |  SELECT ca, cb, ca + cb AS c,
      |         COALESCE(SUM(ca + cb) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS less
      |  FROM c)
      |SELECT SUM(ca)::BIGINT AS n1, SUM(cb)::BIGINT AS n2,
      |       SUM(ca * (2 * less + c + 1))::BIGINT AS r1_twice,
      |       (SUM(ca * (2 * less + c + 1)) - SUM(ca) * (SUM(ca) + 1))::BIGINT AS u1_twice,
      |       SUM(c * c * c - c)::BIGINT AS tie_cubes
      |FROM cum""".stripMargin)

  /** Mann–Kendall trend ([[graft.pipeline.Stats.mannKendall]]) of each
    * event type's daily activity: C/D/tied pair counts and S = C − D
    * over the calendar-bounded per-day series.
    */
  private def qMannKendall(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.mannKendall(
      Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c")),
      Seq("event_type"), "day", "c")
      .orderBy("event_type")
  // q318: pair join over the PRE-AGGREGATED daily series
  gate("q318_mann_kendall")(qMannKendall(_, _))(
    """WITH d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2)
      |SELECT a.event_type,
      |  SUM(CASE WHEN b.c > a.c THEN 1 ELSE 0 END)::BIGINT AS concordant,
      |  SUM(CASE WHEN b.c < a.c THEN 1 ELSE 0 END)::BIGINT AS discordant,
      |  SUM(CASE WHEN b.c = a.c THEN 1 ELSE 0 END)::BIGINT AS tied,
      |  (SUM(CASE WHEN b.c > a.c THEN 1 ELSE 0 END) -
      |   SUM(CASE WHEN b.c < a.c THEN 1 ELSE 0 END))::BIGINT AS s_stat
      |FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Cramér's V ([[graft.pipeline.Stats.cramersV]]) of the lang ×
    * source contingency — effect size on top of the q147 χ² cell
    * discipline, finished by one integral division.
    */
  private def qCramersV(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.cramersV(
      t(s, dir, "documents"), col("lang"), col("source"))
  // q319: the q147 per-cell floor(·10⁶) chain summed (order-free on
  // integers), one integral division to V²
  gate("q319_cramers_v")(qCramersV(_, _))(
    """WITH cells AS (
      |  SELECT lang AS a, source AS b, COUNT(*)::BIGINT AS o
      |  FROM documents GROUP BY 1, 2),
      |ra AS (SELECT a, SUM(o)::BIGINT AS ra FROM cells GROUP BY 1),
      |cb AS (SELECT b, SUM(o)::BIGINT AS cb FROM cells GROUP BY 1),
      |n AS (SELECT SUM(o)::BIGINT AS n FROM cells),
      |grid AS (
      |  SELECT ra.a, cb.b, ra.ra, cb.cb, COALESCE(c.o, 0)::BIGINT AS o
      |  FROM ra CROSS JOIN cb
      |  LEFT JOIN cells c ON c.a = ra.a AND c.b = cb.b),
      |terms AS (
      |  SELECT a, b, o,
      |    CAST(floor((o - (CAST(ra AS DOUBLE) * cb) / n.n) *
      |      (o - (CAST(ra AS DOUBLE) * cb) / n.n) / ((CAST(ra AS DOUBLE) * cb) / n.n)
      |      * 1000000.0 + 0.5) AS BIGINT) AS chi2_micro
      |  FROM grid, n)
      |SELECT n.n AS n, COUNT(DISTINCT a)::BIGINT AS r, COUNT(DISTINCT b)::BIGINT AS c,
      |       SUM(chi2_micro)::BIGINT AS chi2_micro_sum,
      |       (SUM(chi2_micro) // (n.n * least(COUNT(DISTINCT a) - 1,
      |                                        COUNT(DISTINCT b) - 1)))::BIGINT AS v2_micro
      |FROM terms, n GROUP BY n.n""".stripMargin)

  /** Herfindahl–Hirschman revenue concentration per nation
    * ([[graft.pipeline.Stats.herfindahl]]): DECIMAL(38,0) squared
    * moments, one integral division — is any nation's demand captured
    * by a handful of customers?
    */
  private def qHerfindahl(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.herfindahl(
      t(s, dir, "orders").join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("nationkey"), col("o_custkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")),
      Seq("nationkey"), "o_custkey", "cents")
      .orderBy("nationkey")
  // q320: squared cent totals overflow BIGINT — HUGEINT moments,
  // one integral division (the engine rides DECIMAL(38,0))
  gate("q320_herfindahl")(qHerfindahl(_, _))(
    """WITH rev AS (
      |  SELECT c_nationkey AS nationkey, o_custkey,
      |         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS s
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2)
      |SELECT nationkey, COUNT(*)::BIGINT AS n_members, SUM(s)::BIGINT AS total,
      |       ((SUM(s::HUGEINT * s) * 1000000) //
      |        (SUM(s)::HUGEINT * SUM(s)))::BIGINT AS hhi_micro
      |FROM rev GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Trailing 7-day rolling view↔purchase correlation
    * ([[graft.pipeline.Stats.rollingCorrMoments]]): exact BIGINT
    * co-moments per day plus the signed squared correlation in micros
    * (DECIMAL finish — no sqrt, no float summation order).
    */
  private def qRollingCorr(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.rollingCorrMoments(
      Tables.events(s, dir)
        .groupBy(datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
          .cast("long").as("day_num"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y")),
      "day_num", "x", "y", window = 7)
      .orderBy("day_num")
  // q322: BIGINT co-moments over RANGE 6 PRECEDING on the integer
  // day axis; signed r²·10⁶ via HUGEINT integral division
  gate("q322_rolling_corr")(qRollingCorr(_, _))(
    """WITH d AS (
      |  SELECT (CAST(ts AS DATE) - DATE '1970-01-01')::BIGINT AS day_num,
      |         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS x,
      |         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS y
      |  FROM events GROUP BY 1),
      |m AS (
      |  SELECT day_num,
      |    COUNT(*) OVER w AS n, SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
      |    SUM(x * x) OVER w AS sxx, SUM(y * y) OVER w AS syy,
      |    SUM(x * y) OVER w AS sxy
      |  FROM d
      |  WINDOW w AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)),
      |f AS (
      |  SELECT day_num, n::BIGINT AS n, sx::BIGINT AS sx, sy::BIGINT AS sy,
      |    sxx::BIGINT AS sxx, syy::BIGINT AS syy, sxy::BIGINT AS sxy,
      |    (n * sxy - sx * sy)::BIGINT AS num,
      |    ((n * sxx - sx * sx)::HUGEINT * (n * syy - sy * sy)) AS den
      |  FROM m)
      |SELECT day_num, n, sx, sy, sxx, syy, sxy,
      |  CASE WHEN den > 0 THEN
      |    (CASE WHEN num >= 0 THEN 1 ELSE -1 END) *
      |      ((num::HUGEINT * num * 1000000) // den)::BIGINT
      |  END AS corr2s_micro
      |FROM f ORDER BY day_num""".stripMargin)

  /** Tukey IQR fences per event type in exact integers: quartiles as
    * ceil-rank order statistics (the q314 convention), fences carried
    * DOUBLED (Q1 − 1.5·IQR = (5Q1 − 3Q3)/2, so 2·fence is integral),
    * outliers counted against 2·cents — the boxplot rule with zero
    * floats, next to the MAD rule (q149) it complements.
    */
  private def qIqrFences(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("cents"))
    val ranked = e.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    val qs = ranked.groupBy("event_type")
      .agg(max(col("n")).as("n"),
        max(when(col("rn") === expr("(n * 25 + 99) DIV 100"), col("cents"))).as("q1"),
        max(when(col("rn") === expr("(n * 75 + 99) DIV 100"), col("cents"))).as("q3"))
      .withColumn("lo2", expr("5 * q1 - 3 * q3"))
      .withColumn("hi2", expr("5 * q3 - 3 * q1"))
    e.join(qs, "event_type")
      .groupBy("event_type")
      .agg(max(col("n")).as("n"), max(col("q1")).as("q1"), max(col("q3")).as("q3"),
        sum(when(col("cents") * 2L < col("lo2"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("cents") * 2L > col("hi2"), 1L).otherwise(0L)).as("n_high"))
      .orderBy("event_type")
  }
  // q340: ceil-rank quartiles (the q314 convention), doubled Tukey
  // fences — value-at-rank is tie-order independent
  gate("q340_iqr_fences")(qIqrFences(_, _))(
    """WITH e AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |r AS (
      |  SELECT event_type, cents,
      |         row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
      |         COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM e),
      |q AS (
      |  SELECT event_type, MAX(n)::BIGINT AS n,
      |         MAX(CASE WHEN rn = (n * 25 + 99) // 100 THEN cents END)::BIGINT AS q1,
      |         MAX(CASE WHEN rn = (n * 75 + 99) // 100 THEN cents END)::BIGINT AS q3
      |  FROM r GROUP BY 1)
      |SELECT e.event_type, MAX(n)::BIGINT AS n, MAX(q1)::BIGINT AS q1,
      |       MAX(q3)::BIGINT AS q3,
      |       SUM(CASE WHEN cents * 2 < 5 * q1 - 3 * q3 THEN 1 ELSE 0 END)::BIGINT AS n_low,
      |       SUM(CASE WHEN cents * 2 > 5 * q3 - 3 * q1 THEN 1 ELSE 0 END)::BIGINT AS n_high
      |FROM e JOIN q USING (event_type) GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Theil–Sen (1968) robust trend of daily event counts per type:
    * the median over all C(n_days,2) pairwise slopes — insensitive to
    * ~29% outlier days, the robust complement to the OLS trend gate.
    * Slopes in micro/day via the +10⁹ offset inside the division
    * ((Δc·10⁶ + Δd·10⁹) DIV Δd, positive because |Δc·10⁶| < Δd·10⁹
    * for any daily-count delta under 1000) so truncating and flooring
    * division agree; median as the q340 ceil-rank order statistic.
    *
    * Scale shape: the pair grid is over the DAILY AGGREGATE (n_days²
    * per type, bounded by the calendar), never over raw events.
    */
  private def qTheilSen(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("d"))
      .agg(count(lit(1)).as("c"))
    val a = daily.select(col("event_type"), col("d").as("da"), col("c").as("ca"))
    val b = daily.select(col("event_type"), col("d").as("db"), col("c").as("cb"))
    val pairs = a.join(b, Seq("event_type"))
      .filter(col("da") < col("db"))
      .select(col("event_type"),
        expr("((cb - ca) * 1000000 + (db - da) * 1000000000) DIV (db - da)")
          .as("s_off"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("s_off"))
    val nd = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
    pairs.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("np", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy("event_type")
      .agg(max(col("np")).as("n_pairs"),
        max(when(col("rn") === expr("(np * 50 + 99) DIV 100"), col("s_off")))
          .as("med_off"))
      .join(nd, "event_type")
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        (col("med_off") - 1000000000L).as("slope_micro_per_day"))
      .orderBy("event_type")
  }
  // q342: median pairwise slope over the daily aggregate; +1e9
  // offset inside the division keeps it over positives
  gate("q342_theil_sen")(qTheilSen(_, _))(
    """WITH daily AS (
      |  SELECT event_type, (epoch_us(ts) // 86400000000) AS d,
      |         COUNT(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.event_type,
      |         (((b.c - a.c) * 1000000 + (b.d - a.d) * 1000000000)
      |          // (b.d - a.d))::BIGINT AS s_off
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.d < b.d),
      |r AS (
      |  SELECT event_type, s_off,
      |         row_number() OVER (PARTITION BY event_type ORDER BY s_off) AS rn,
      |         COUNT(*) OVER (PARTITION BY event_type) AS np
      |  FROM pairs),
      |m AS (
      |  SELECT event_type, MAX(np)::BIGINT AS n_pairs,
      |         MAX(CASE WHEN rn = (np * 50 + 99) // 100 THEN s_off END) AS med_off
      |  FROM r GROUP BY 1),
      |nd AS (SELECT event_type, COUNT(*)::BIGINT AS n_days FROM daily GROUP BY 1)
      |SELECT event_type, n_days, n_pairs,
      |       (med_off - 1000000000)::BIGINT AS slope_micro_per_day
      |FROM m JOIN nd USING (event_type) ORDER BY event_type""".stripMargin)

  /** 1-D earth mover's (Wasserstein-1) distance between each source's
    * document-length distribution and the pooled corpus, on 50-char
    * buckets: EMD₁ = Σ_b |CDF_s(b) − CDF(b)| — the classic cumsum
    * identity, exact for 1-D histograms. CDFs are integer micros
    * (10⁶·cum DIV n); the per-source bucket grid is densified by a
    * broadcast cross join of the ~20 sources with the ≤ 12 occupied
    * buckets so both cumsums run over identical support.
    */
  private def qEmd1d(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.load(s, dir, "documents")
      .select(col("source"), expr("n_chars DIV 50").as("b"))
    val srcN = d.groupBy("source").agg(count(lit(1)).as("n_s"))
    val srcB = d.groupBy("source", "b").agg(count(lit(1)).as("c_sb"))
    val globB = d.groupBy("b").agg(count(lit(1)).as("c_b"))
    val tot = d.agg(count(lit(1)).as("n"))
    srcN.crossJoin(broadcast(globB))
      .join(srcB, Seq("source", "b"), "left")
      .na.fill(0L, Seq("c_sb"))
      .withColumn("cum_s", sum(col("c_sb")).over(
        Window.partitionBy("source").orderBy("b")))
      .withColumn("cum_g", sum(col("c_b")).over(
        Window.partitionBy("source").orderBy("b")))
      .crossJoin(broadcast(tot))
      .withColumn("cdf_s", expr("(1000000 * cum_s) DIV n_s"))
      .withColumn("cdf_g", expr("(1000000 * cum_g) DIV n"))
      .groupBy("source").agg(max(col("n_s")).as("n_docs"),
        sum(expr("abs(cdf_s - cdf_g)")).as("emd_micro"))
      .orderBy("source")
  }
  // q360: 1-D EMD = Σ|ΔCDF| over the densified 50-char bucket grid
  gate("q360_emd_1d")(qEmd1d(_, _))(
    """WITH d AS (
      |  SELECT source, n_chars // 50 AS b FROM documents),
      |srcn AS (SELECT source, COUNT(*)::BIGINT AS n_s FROM d GROUP BY 1),
      |srcb AS (SELECT source, b, COUNT(*)::BIGINT AS c_sb FROM d GROUP BY 1, 2),
      |globb AS (SELECT b, COUNT(*)::BIGINT AS c_b FROM d GROUP BY 1),
      |tot AS (SELECT COUNT(*)::BIGINT AS n FROM d),
      |grid AS (
      |  SELECT sn.source, gb.b, sn.n_s, gb.c_b, COALESCE(sb.c_sb, 0) AS c_sb
      |  FROM srcn sn CROSS JOIN globb gb
      |  LEFT JOIN srcb sb ON sb.source = sn.source AND sb.b = gb.b),
      |cum AS (
      |  SELECT source, n_s, c_b,
      |         SUM(c_sb) OVER (PARTITION BY source ORDER BY b) AS cum_s,
      |         SUM(c_b) OVER (PARTITION BY source ORDER BY b) AS cum_g
      |  FROM grid)
      |SELECT c.source, MAX(c.n_s)::BIGINT AS n_docs,
      |       SUM(abs((1000000 * c.cum_s) // c.n_s
      |               - (1000000 * c.cum_g) // t.n))::BIGINT AS emd_micro
      |FROM cum c, tot t GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Gini concentration coefficient (Lorenz 1905 / Gini 1912 — the
    * inequality Gini, distinct from q161's Gini impurity) of per-user
    * spend within each event type: G = 2Σᵢ i·x₍ᵢ₎/(n·S) − (n+1)/n,
    * computed from the spend HISTOGRAM — for a value x with count nv
    * and cumb predecessors, Σ of 2·rank·x over its run is
    * x·nv·(2·cumb + nv + 1) exactly (ties share the average rank, the
    * q348 identity), so no global sort and all arithmetic stays
    * integer; G in micros via two positive-operand DIVs.
    */
  private def qGiniConcentration(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ux = Tables.events(s, dir)
      .groupBy("event_type", "user_id")
      .agg(expr("sum(CAST(round(value) AS BIGINT))").as("x"))
      .filter(col("x") > 0L)
    ux.groupBy("event_type", "x").agg(count(lit(1)).as("nv"))
      .withColumn("cumb", coalesce(sum(col("nv")).over(
        Window.partitionBy("event_type").orderBy("x")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy("event_type").agg(
        sum(col("nv")).as("n_users"),
        sum(expr("x * nv")).as("s"),
        sum(expr("x * nv * (2 * cumb + nv + 1)")).as("twice_ix"))
      .withColumn("gini_micro",
        expr("""(1000000 * twice_ix) DIV (n_users * s)
               - (1000000 * (n_users + 1)) DIV n_users"""))
      .orderBy("event_type")
  }
  // q361: Gini from the spend histogram — 2Σ rank·x per value run
  // is x·nv·(2·cumb+nv+1); micros via two positive //s
  gate("q361_gini_concentration")(qGiniConcentration(_, _))(
    """WITH ux AS (
      |  SELECT event_type, user_id,
      |         SUM(CAST(round(value) AS BIGINT)) AS x
      |  FROM events GROUP BY 1, 2
      |  HAVING SUM(CAST(round(value) AS BIGINT)) > 0),
      |hist AS (
      |  SELECT event_type, x, COUNT(*)::BIGINT AS nv,
      |         COALESCE(SUM(COUNT(*)) OVER (PARTITION BY event_type
      |           ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
      |           AND 1 PRECEDING), 0)::BIGINT AS cumb
      |  FROM ux GROUP BY 1, 2),
      |agg AS (
      |  SELECT event_type, SUM(nv)::BIGINT AS n_users,
      |         SUM(x * nv)::BIGINT AS s,
      |         SUM(x * nv * (2 * cumb + nv + 1))::BIGINT AS twice_ix
      |  FROM hist GROUP BY 1)
      |SELECT event_type, n_users, s, twice_ix,
      |       ((1000000 * twice_ix) // (n_users * s)
      |        - (1000000 * (n_users + 1)) // n_users)::BIGINT AS gini_micro
      |FROM agg ORDER BY 1""".stripMargin)

  /** Total-variation distance between each source's language mix and
    * the pooled corpus: TV = ½ Σ_l |p_s(l) − p(l)| over the densified
    * source × language grid (both bounded), probabilities as integer
    * micros — the categorical companion to q360's cumulative EMD and
    * the L1 face of q188's JS divergence, with no transcendental
    * anywhere.
    */
  private def qTvDistance(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents").select("source", "lang")
    val srcN = d.groupBy("source").agg(count(lit(1)).as("n_s"))
    val srcL = d.groupBy("source", "lang").agg(count(lit(1)).as("c_sl"))
    val globL = d.groupBy("lang").agg(count(lit(1)).as("c_l"))
    val tot = d.agg(count(lit(1)).as("n"))
    srcN.crossJoin(broadcast(globL))
      .join(srcL, Seq("source", "lang"), "left")
      .na.fill(0L, Seq("c_sl"))
      .crossJoin(broadcast(tot))
      .groupBy("source").agg(
        max(col("n_s")).as("n_docs"),
        expr("""sum(abs((1000000 * c_sl) DIV n_s
               - (1000000 * c_l) DIV n)) DIV 2""").as("tv_micro"))
      .orderBy("source")
  }
  // q368: densified source × lang grid, L1/2 in micros
  gate("q368_tv_distance")(qTvDistance(_, _))(
    """WITH d AS (SELECT source, lang FROM documents),
      |srcn AS (SELECT source, COUNT(*)::BIGINT AS n_s FROM d GROUP BY 1),
      |srcl AS (SELECT source, lang, COUNT(*)::BIGINT AS c_sl
      |         FROM d GROUP BY 1, 2),
      |globl AS (SELECT lang, COUNT(*)::BIGINT AS c_l FROM d GROUP BY 1),
      |tot AS (SELECT COUNT(*)::BIGINT AS n FROM d),
      |grid AS (
      |  SELECT sn.source, sn.n_s, gl.c_l, COALESCE(sl.c_sl, 0) AS c_sl
      |  FROM srcn sn CROSS JOIN globl gl
      |  LEFT JOIN srcl sl ON sl.source = sn.source AND sl.lang = gl.lang)
      |SELECT g.source, MAX(g.n_s)::BIGINT AS n_docs,
      |       (SUM(abs((1000000 * g.c_sl) // g.n_s
      |                - (1000000 * g.c_l) // t.n)) // 2)::BIGINT AS tv_micro
      |FROM grid g, tot t GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Heavy CHANGERS via paired Count–Min sketches (Cormode–Muthu 2005
    * applied to change detection): the token frequency sketch of the
    * even-doc half vs the odd-doc half (4 × 1024 md5 cells each, the
    * q113 construction), every vocabulary token probed in both, and
    * the largest |est₁ − est₂| surfaced next to the exact counts —
    * the drift primitive that finds WHAT changed, where q376/q193
    * only flag THAT something did. Sketches are mergeable partials;
    * probes join on the cell key.
    */
  private def qHeavyChangers(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("half", expr("CAST(doc_id % 2 AS INT)"))
    val rows = toks.crossJoin(broadcast(
        s.range(0, 4).select(col("id").cast("int").as("r"))))
      .withColumn("c",
        expr("conv(substring(md5(concat(r, ':', tok)), 1, 15), 16, 10) % 1024"))
    val sk = rows.groupBy("half", "r", "c").agg(count(lit(1)).as("cnt"))
    val vocab = toks.groupBy("tok", "half").agg(count(lit(1)).as("exact"))
      .groupBy("tok").agg(
        sum(when(col("half") === 0, col("exact")).otherwise(0L)).as("exact0"),
        sum(when(col("half") === 1, col("exact")).otherwise(0L)).as("exact1"))
    val probes = vocab.select(col("tok"))
      .crossJoin(broadcast(s.range(0, 4).select(col("id").cast("int").as("r"))))
      .withColumn("c",
        expr("conv(substring(md5(concat(r, ':', tok)), 1, 15), 16, 10) % 1024"))
    val est = probes
      .join(sk.filter(col("half") === 0)
        .select(col("r"), col("c"), col("cnt").as("c0")), Seq("r", "c"), "left")
      .join(sk.filter(col("half") === 1)
        .select(col("r"), col("c"), col("cnt").as("c1")), Seq("r", "c"), "left")
      .na.fill(0L, Seq("c0", "c1"))
      .groupBy("tok").agg(min(col("c0")).as("est0"), min(col("c1")).as("est1"))
    est.join(vocab, Seq("tok"))
      .withColumn("delta", abs(col("est0") - col("est1")))
      .orderBy(col("delta").desc, col("tok")).limit(20)
      .select("tok", "est0", "est1", "delta", "exact0", "exact1")
  }
  // q387: two q113-style CMS sketches, vocabulary probes, top-20
  // |est delta| with exact counts alongside
  gate("q387_heavy_changers")(qHeavyChangers(_, _))(
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id % 2 AS half, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |sk AS MATERIALIZED (
      |  SELECT half, r,
      |         ('0x' || substr(md5(r::VARCHAR || ':' || tok), 1, 15))::BIGINT
      |           % 1024 AS c,
      |         COUNT(*)::BIGINT AS cnt
      |  FROM toks, generate_series(0, 3) t(r) GROUP BY 1, 2, 3),
      |vocab AS MATERIALIZED (
      |  SELECT tok,
      |         SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT AS exact0,
      |         SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS exact1
      |  FROM toks GROUP BY 1),
      |probes AS (
      |  SELECT v.tok, t.r,
      |         ('0x' || substr(md5(t.r::VARCHAR || ':' || v.tok), 1, 15))::BIGINT
      |           % 1024 AS c
      |  FROM vocab v, generate_series(0, 3) t(r)),
      |est AS (
      |  SELECT p.tok, MIN(COALESCE(s0.cnt, 0))::BIGINT AS est0,
      |         MIN(COALESCE(s1.cnt, 0))::BIGINT AS est1
      |  FROM probes p
      |  LEFT JOIN sk s0 ON s0.half = 0 AND s0.r = p.r AND s0.c = p.c
      |  LEFT JOIN sk s1 ON s1.half = 1 AND s1.r = p.r AND s1.c = p.c
      |  GROUP BY 1)
      |SELECT e.tok, e.est0, e.est1,
      |       abs(e.est0 - e.est1)::BIGINT AS delta, v.exact0, v.exact1
      |FROM est e JOIN vocab v ON e.tok = v.tok
      |ORDER BY delta DESC, e.tok LIMIT 20""".stripMargin)

  /** RANK vs DENSE_RANK vs ROW_NUMBER tie semantics, pinned: per
    * event type, users ranked by event count — RANK leaves gaps after
    * ties, DENSE_RANK doesn't, ROW_NUMBER breaks them by the
    * deterministic (n desc, user_id) order — and the gate keeps every
    * row RANK admits into the top 3, so the tie-inclusion behaviour
    * itself is what the hash compares.
    */
  private def qRankTies(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = Tables.events(s, dir).groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("n"))
    val wTie = Window.partitionBy("event_type").orderBy(col("n").desc)
    val wRn = Window.partitionBy("event_type")
      .orderBy(col("n").desc, col("user_id"))
    u.withColumn("rnk", rank().over(wTie).cast("long"))
      .withColumn("drnk", dense_rank().over(wTie).cast("long"))
      .withColumn("rn", row_number().over(wRn).cast("long"))
      .filter(col("rnk") <= 3L)
      .orderBy("event_type", "rn")
  }
  // q388: RANK gaps / DENSE_RANK compaction / ROW_NUMBER total
  // order, tie rows included via the RANK filter
  gate("q388_rank_ties")(qRankTies(_, _))(
    """WITH u AS (
      |  SELECT event_type, user_id, COUNT(*)::BIGINT AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, user_id, n,
      |         CAST(rank() OVER wt AS BIGINT) AS rnk,
      |         CAST(dense_rank() OVER wt AS BIGINT) AS drnk,
      |         CAST(row_number() OVER (PARTITION BY event_type
      |           ORDER BY n DESC, user_id) AS BIGINT) AS rn
      |  FROM u
      |  WINDOW wt AS (PARTITION BY event_type ORDER BY n DESC))
      |SELECT * FROM r WHERE rnk <= 3 ORDER BY event_type, rn""".stripMargin)

  /** Largest-remainder apportionment (Hamilton 1792 / Hare quota):
    * 1000 training-budget slots allocated to sources in proportion to
    * document counts — floor shares first, then the leftover seats to
    * the largest remainders (tie: source name) so the total is EXACTLY
    * the budget. The deterministic integer answer to "mixture weights
    * must sum to 1" that naive rounding gets wrong; one agg + one
    * bounded window.
    */
  private def qLargestRemainder(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Tables.load(s, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("c"))
    val base = c.crossJoin(broadcast(c.agg(sum(col("c")).as("n"))))
      .withColumn("base", expr("(1000 * c) DIV n"))
      .withColumn("rem", expr("1000 * c - base * n"))
    val leftover = base.agg((lit(1000L) - sum(col("base"))).as("left"))
    base.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))))
      .withColumn("extra", when(col("rk") <= col("left"), 1L).otherwise(0L))
      .withColumn("seats", col("base") + col("extra"))
      .select("source", "c", "base", "extra", "seats")
      .orderBy("source")
  }
  // q392: floor shares + leftover seats to the largest remainders
  gate("q392_largest_remainder")(qLargestRemainder(_, _))(
    """WITH c AS (
      |  SELECT source, COUNT(*)::BIGINT AS c FROM documents GROUP BY 1),
      |n AS (SELECT SUM(c)::BIGINT AS n FROM c),
      |base AS (
      |  SELECT c.source, c.c, (1000 * c.c) // n.n AS base,
      |         1000 * c.c - ((1000 * c.c) // n.n) * n.n AS rem
      |  FROM c, n),
      |lo AS (SELECT 1000 - SUM(base)::BIGINT AS leftover FROM base),
      |rk AS (
      |  SELECT b.*, lo.leftover,
      |         row_number() OVER (ORDER BY b.rem DESC, b.source) AS rk
      |  FROM base b, lo)
      |SELECT source, c, base::BIGINT AS base,
      |       (CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::BIGINT AS extra,
      |       (base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::BIGINT
      |         AS seats
      |FROM rk ORDER BY source""".stripMargin)

  /** Join-key skew diagnostics — the report that decides WHERE q296's
    * salting and AQE skew-join are worth their cost: for each lineitem
    * join key, the row count, distinct-key count, the heaviest key and
    * its frequency, and skew = max/mean in micros. Long format so a
    * fleet-wide audit is one union of per-key aggs.
    *
    * Scale shape: the per-key count table is as big as the key's
    * distinct count (millions of orderkeys per SF), so the heaviest
    * key comes from `orderBy().limit(1)` → TakeOrderedAndProject
    * (per-partition top-1) and the totals from one aggregate — never
    * an unpartitioned window over the count table (round-9 census).
    */
  private def qSkewReport(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    def keyStats(c: String): DataFrame = {
      val cnt = li.groupBy(col(c).as("k")).agg(count(lit(1)).as("n"))
      val tot = cnt.agg(sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_distinct"))
      cnt.orderBy(col("n").desc, col("k")).limit(1)
        .crossJoin(broadcast(tot))
        .select(lit(c).as("key_col"), col("n_rows"), col("n_distinct"),
          col("k").as("top_key"), col("n").as("top_count"),
          expr("(1000000 * n * n_distinct) DIV n_rows").as("skew_micro"))
    }
    keyStats("l_orderkey").unionByName(keyStats("l_partkey"))
      .unionByName(keyStats("l_suppkey"))
      .orderBy("key_col")
  }
  // q395: heaviest key per join column, skew = max/mean micros
  gate("q395_skew_report")(qSkewReport(_, _)) {
    def col1(c: String) =
      s"""(SELECT '$c' AS key_col,
         |       (SELECT SUM(n)::BIGINT FROM c_$c) AS n_rows,
         |       (SELECT COUNT(*)::BIGINT FROM c_$c) AS n_distinct,
         |       k AS top_key, n AS top_count
         |FROM c_$c ORDER BY n DESC, k LIMIT 1)""".stripMargin
    s"""WITH c_l_orderkey AS (
       |  SELECT l_orderkey AS k, COUNT(*)::BIGINT AS n
       |  FROM lineitem GROUP BY 1),
       |c_l_partkey AS (
       |  SELECT l_partkey AS k, COUNT(*)::BIGINT AS n
       |  FROM lineitem GROUP BY 1),
       |c_l_suppkey AS (
       |  SELECT l_suppkey AS k, COUNT(*)::BIGINT AS n
       |  FROM lineitem GROUP BY 1),
       |u AS (
       |${col1("l_orderkey")}
       |UNION ALL
       |${col1("l_partkey")}
       |UNION ALL
       |${col1("l_suppkey")})
       |SELECT key_col, n_rows, n_distinct, top_key, top_count,
       |       ((1000000 * top_count * n_distinct) // n_rows)::BIGINT
       |         AS skew_micro
       |FROM u ORDER BY key_col""".stripMargin
  }

  /** Association-rule mining at pair depth (Agrawal–Srikant 1994's
    * A-priori output): baskets are the distinct brands per order
    * (≤ 11 items), pair support from the bounded within-order
    * self-join, confidence = supp(a→c)/supp(a) and
    * lift = n·supp(ac)/(supp(a)·supp(c)) in exact integer micros,
    * rules with support ≥ 20 orders in both directions. Contrast
    * q153 (part-level items, float-rounded micros): brand baskets
    * put every order in the dense-support regime — items recur
    * across most baskets, support counts are ~1000×, and the
    * confidence/lift chain stays in exact integer DIV, no floats.
    * Candidate pairs only ever meet through the orderkey equi-join.
    */
  private def qAssocRules(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val pt = Tables.load(s, dir, "part")
    val baskets = li.join(broadcast(pt), li("l_partkey") === pt("p_partkey"))
      .select(col("l_orderkey").as("o"), col("p_brand").as("b")).distinct()
      .localCheckpoint()
    val supp = baskets.groupBy("b").agg(count(lit(1)).as("supp"))
    val n = baskets.agg(countDistinct(col("o")).as("n"))
    val b2 = baskets.toDF("o", "b2")
    baskets.join(b2, Seq("o")).filter(col("b") =!= col("b2"))
      .groupBy(col("b").as("a"), col("b2").as("c"))
      .agg(count(lit(1)).as("supp_ab"))
      .filter(col("supp_ab") >= 20L)
      .join(broadcast(supp.toDF("a", "supp_a")), Seq("a"))
      .join(broadcast(supp.toDF("c", "supp_c")), Seq("c"))
      .crossJoin(broadcast(n))
      .select(col("a").as("antecedent"), col("c").as("consequent"),
        col("supp_ab"),
        expr("(1000000 * supp_ab) DIV supp_a").as("conf_micro"),
        expr("(1000000 * n * supp_ab) DIV (supp_a * supp_c)")
          .as("lift_micro"))
      .orderBy(col("lift_micro").desc, col("antecedent"), col("consequent"))
  }
  // q398: distinct-brand baskets; both rule directions; exact
  // integer confidence/lift micros
  // eager: localCheckpoints partials
  gate("q398_assoc_rules", eager = true)(qAssocRules(_, _))(
    """WITH baskets AS (
      |  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |supp AS (SELECT b, COUNT(*)::BIGINT AS supp FROM baskets GROUP BY 1),
      |n AS (SELECT COUNT(DISTINCT o)::BIGINT AS n FROM baskets),
      |pairs AS (
      |  SELECT x.b AS a, y.b AS c, COUNT(*)::BIGINT AS supp_ab
      |  FROM baskets x JOIN baskets y ON x.o = y.o AND x.b <> y.b
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 20)
      |SELECT p.a AS antecedent, p.c AS consequent, p.supp_ab,
      |       ((1000000 * p.supp_ab) // sa.supp)::BIGINT AS conf_micro,
      |       ((1000000 * n.n * p.supp_ab) // (sa.supp * sc.supp))::BIGINT
      |         AS lift_micro
      |FROM pairs p JOIN supp sa ON p.a = sa.b
      |             JOIN supp sc ON p.c = sc.b, n
      |ORDER BY lift_micro DESC, antecedent, consequent""".stripMargin)

  /** Heaps-law vocabulary-growth curve (Heaps 1978): distinct types
    * seen within the first N tokens of the corpus (doc_id reading
    * order), at N ∈ {1000, 5000, 20000, 50000} clamped to the corpus.
    * Global token positions come from the distributed exclusive
    * prefix sum over per-doc token counts
    * ([[graft.pipeline.Prefix.withPrefixSums]] — one range shuffle,
    * never a single-task global sort), a term's first arrival is one
    * min-agg, and each curve point is a broadcast-threshold count.
    * The tokenizer-sizing curve: how fast does vocabulary keep
    * growing as the corpus scales? Distinct from q90 (nucleus vocab =
    * min types for p% mass) and q69 (static vocabulary census) —
    * this one is about ORDER of arrival, not the frequency profile.
    */
  private def qHeapsCurve(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
    val off = graft.pipeline.Prefix.withPrefixSums(d, Seq("doc_id"),
      Seq("n_tok"))
    val first = off
      .select(col("prefix_n_tok"), posexplode(col("toks")).as(Seq("p", "term")))
      .select(col("term"), (col("prefix_n_tok") + col("p")).as("gidx"))
      .groupBy("term").agg(min(col("gidx")).as("first_idx"))
      .localCheckpoint()
    val tot = d.agg(sum(col("n_tok")).as("total_tokens"))
    val ns = s.createDataFrame(Seq(Tuple1(1000L), Tuple1(5000L),
      Tuple1(20000L), Tuple1(50000L))).toDF("n_prefix")
    first.crossJoin(broadcast(ns.crossJoin(tot)))
      .filter(col("n_prefix") <= col("total_tokens"))
      .groupBy("n_prefix")
      .agg(sum(when(col("first_idx") < col("n_prefix"), 1L).otherwise(0L))
        .as("n_types"))
      .withColumn("ttr_micro", expr("(1000000 * n_types) DIV n_prefix"))
      .orderBy("n_prefix")
  }
  // q407: identical global token indexing via the doc-ordered
  // exclusive prefix sum; curve point = count(first_idx < N)
  // eager: Prefix collects range-partition offsets
  gate("q407_heaps_curve", eager = true)(qHeapsCurve(_, _))(
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |         len(string_split(text, ' '))::BIGINT AS n_tok
      |  FROM documents),
      |off AS (
      |  SELECT doc_id, toks,
      |         COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           ::BIGINT AS off
      |  FROM d),
      |pos AS (
      |  SELECT toks[g.i] AS term, (off + g.i - 1)::BIGINT AS gidx
      |  FROM off, generate_series(1, 100000) g(i)
      |  WHERE g.i <= len(toks)),
      |first AS (
      |  SELECT term, MIN(gidx) AS first_idx FROM pos GROUP BY 1),
      |tot AS (SELECT SUM(n_tok)::BIGINT AS total_tokens FROM d),
      |ns AS (
      |  SELECT n_prefix FROM (VALUES (1000), (5000), (20000), (50000))
      |    v(n_prefix)),
      |pts AS (
      |  SELECT ns.n_prefix::BIGINT AS n_prefix,
      |         SUM(CASE WHEN f.first_idx < ns.n_prefix THEN 1 ELSE 0 END)
      |           ::BIGINT AS n_types
      |  FROM first f CROSS JOIN ns, tot
      |  WHERE ns.n_prefix <= tot.total_tokens
      |  GROUP BY 1)
      |SELECT n_prefix, n_types,
      |       ((1000000 * n_types) // n_prefix)::BIGINT AS ttr_micro
      |FROM pts ORDER BY n_prefix""".stripMargin)

  /** h-index and g-index (Hirsch 2005; Egghe 2006) of user activity
    * per event type: rank users by event count descending (ties by
    * user id), h = max rank with count ≥ rank, g = max rank with
    * cumulative count ≥ rank² — the robust "how many heavy users"
    * summaries that, unlike a mean or p99, cannot be moved by one
    * whale or a long tail. One count partial-agg, then rank/cumsum
    * windows partitioned per event type (users per type bounded by
    * the user base, the standard rank-window shape).
    */
  private def qHIndex(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val uc = Tables.events(s, dir)
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("cnt").desc, col("user_id"))
    uc.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("event_type").agg(
        count(lit(1)).as("n_users"),
        coalesce(max(when(col("cnt") >= col("rn"), col("rn"))), lit(0L))
          .as("h_index"),
        coalesce(max(when(col("cum") >= col("rn") * col("rn"), col("rn"))),
          lit(0L)).as("g_index"))
      .orderBy("event_type")
  }
  // q412: rank users per type desc; h = max rank with cnt >= rank,
  // g = max rank with cumsum >= rank^2
  gate("q412_h_index")(qHIndex(_, _))(
    """WITH uc AS (
      |  SELECT event_type, user_id, COUNT(*)::BIGINT AS cnt
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, cnt,
      |         row_number() OVER w::BIGINT AS rn,
      |         SUM(cnt) OVER (PARTITION BY event_type
      |           ORDER BY cnt DESC, user_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           ::BIGINT AS cum
      |  FROM uc WINDOW w AS (PARTITION BY event_type
      |    ORDER BY cnt DESC, user_id))
      |SELECT event_type, COUNT(*)::BIGINT AS n_users,
      |       COALESCE(MAX(CASE WHEN cnt >= rn THEN rn END), 0)::BIGINT
      |         AS h_index,
      |       COALESCE(MAX(CASE WHEN cum >= rn * rn THEN rn END), 0)::BIGINT
      |         AS g_index
      |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin)

  /** Chao1 species-richness estimator (Chao 1984, bias-corrected
    * form) of the vocabulary per source: Ŝ = S_obs + f₁(f₁−1) DIV
    * (2(f₂+1)) from the singleton/doubleton counts — the "how many
    * terms does this source REALLY have, counting the ones we haven't
    * seen yet" estimator that turns q230's raw hapax census into a
    * coverage forecast. One (source, term) partial-agg, one per-source
    * rollup, exact integers throughout.
    */
  private def qChao1(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("f"))
      .groupBy("source").agg(
        count(lit(1)).as("s_obs"),
        sum(when(col("f") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("f") === 2L, 1L).otherwise(0L)).as("f2"))
      .withColumn("chao1",
        expr("s_obs + (f1 * (f1 - 1)) DIV (2 * (f2 + 1))"))
      .orderBy("source")
  // q413: singleton/doubleton census; bias-corrected Chao1 in
  // exact integers
  gate("q413_chao1")(qChao1(_, _))(
    """WITH tf AS (
      |  SELECT source, t AS term, COUNT(*)::BIGINT AS f
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS t
      |        FROM documents)
      |  GROUP BY 1, 2)
      |SELECT source, COUNT(*)::BIGINT AS s_obs,
      |       SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
      |       SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END)::BIGINT AS f2,
      |       (COUNT(*) + (SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END)
      |          * (SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) - 1))
      |         // (2 * (SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) + 1)))
      |         ::BIGINT AS chao1
      |FROM tf GROUP BY 1 ORDER BY source""".stripMargin)

  /** Mergeable bottom-k hash sampling (the distributed reservoir):
    * rank every doc by md5('smp:'·id) and keep the global bottom 8 —
    * built BOTH ways: directly, and as bottom-8 of the union of
    * per-source bottom-8s. The two agree by the sketch's merge
    * property (each source's bottom-k dominates any of its docs the
    * global sample could need), and the output carries
    * `two_level_match` per row to PROVE it, not argue it — the
    * uniform-sample primitive that composes across 1000 executors
    * with k rows of traffic each, where a naive ORDER BY LIMIT ships
    * everything to one task.
    */
  private def qBottomkSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashed = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        expr("CAST(conv(substring(md5(concat('smp:', doc_id)), 1, 15), 16, 10) AS BIGINT)")
          .as("hv"))
    // direct global bottom-8: orderBy+limit plans as
    // TakeOrderedAndProject — per-partition bottom-k merged at the
    // driver, k rows of traffic per task, NO global sort/window
    val direct = hashed.orderBy(col("hv"), col("doc_id")).limit(8)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("hv"), col("doc_id"))).cast("long"))
    // two-level: per-source bottom-8 (source-partitioned window), then
    // bottom-8 of that ≤ 8·#sources-row union; the trailing windows
    // rank 8 already-reduced rows, never the corpus
    val perSource = hashed
      .withColumn("sr", row_number().over(
        Window.partitionBy("source").orderBy(col("hv"), col("doc_id"))))
      .filter(col("sr") <= 8)
      .orderBy(col("hv"), col("doc_id")).limit(8)
      .withColumn("rank2", row_number().over(
        Window.orderBy(col("hv"), col("doc_id"))).cast("long"))
      .select(col("rank2"), col("doc_id").as("doc_id2"))
    direct.join(broadcast(perSource), col("rank") === col("rank2"))
      .select(col("rank"), col("doc_id"), col("source"), col("hv"),
        (col("doc_id") === col("doc_id2")).as("two_level_match"))
      .orderBy("rank")
  }
  // q429: both constructions unrolled; the oracle's windows run on
  // DuckDB's single node where a global sort is native
  gate("q429_bottomk_sample")(qBottomkSample(_, _))(
    """WITH hashed AS (
      |  SELECT doc_id, source,
      |    ('0x' || substr(md5('smp:' || doc_id::VARCHAR), 1, 15))::BIGINT
      |      AS hv
      |  FROM documents),
      |direct AS (
      |  SELECT doc_id, source, hv,
      |    ROW_NUMBER() OVER (ORDER BY hv, doc_id)::BIGINT AS rnk
      |  FROM hashed QUALIFY rnk <= 8),
      |per_source AS (
      |  SELECT doc_id, hv,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv, doc_id) AS sr
      |  FROM hashed QUALIFY sr <= 8),
      |two_level AS (
      |  SELECT doc_id AS doc_id2,
      |    ROW_NUMBER() OVER (ORDER BY hv, doc_id)::BIGINT AS rnk2
      |  FROM per_source QUALIFY rnk2 <= 8)
      |SELECT d.rnk AS rank, d.doc_id, d.source, d.hv,
      |       d.doc_id = t.doc_id2 AS two_level_match
      |FROM direct d JOIN two_level t ON d.rnk = t.rnk2
      |ORDER BY d.rnk""".stripMargin)

  /** Bloom-filter false-positive-rate audit: insert even-id docs into
    * an m = 16384-bit, k = 3 filter (positions = md5('bf:'·i·':'·id)
    * mod m), probe with the DISJOINT odd-id docs — every probe that
    * finds all 3 bits set is a measured false positive. Output the
    * set-bit census, the measured FPP, and the occupancy-based
    * expectation (bits_set/m)³ — a rational power, pure IEEE mul/div,
    * no libm. The empirical check behind every q80/q99-style bloom
    * screen: positions live as a TABLE joined on (i, pos), so the
    * audit is an equi-join census, not a 2-kB bitmap on one task.
    */
  private def qBloomFpp(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
    def positions(df: DataFrame): DataFrame = df
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, 2), i -> named_struct(
          |  'i', i,
          |  'pos', CAST(conv(substring(md5(concat('bf:', i, ':', doc_id)), 1, 15), 16, 10) AS BIGINT) % 16384))"""
          .stripMargin)).as("h"))
      .select(col("doc_id"), col("h.i").as("i"), col("h.pos").as("pos"))
    val setBits = positions(ids.filter(col("doc_id") % 2 === 0L))
      .select("pos").distinct()
    val probes = positions(ids.filter(col("doc_id") % 2 === 1L))
    val hits = probes.join(setBits, Seq("pos"))
      .groupBy("doc_id").agg(count(lit(1)).as("k_hit"))
      .filter(col("k_hit") === 3L)
    val census = ids.agg(
      sum(when(col("doc_id") % 2 === 0L, 1L).otherwise(0L)).as("n_inserted"),
      sum(when(col("doc_id") % 2 === 1L, 1L).otherwise(0L)).as("n_probes"))
    census
      .crossJoin(broadcast(setBits.agg(count(lit(1)).as("bits_set"))))
      .crossJoin(broadcast(hits.agg(count(lit(1)).as("false_pos"))))
      .select(col("n_inserted"), col("n_probes"), col("bits_set"),
        col("false_pos"),
        expr("CASE WHEN n_probes > 0 THEN (1000000 * false_pos) DIV n_probes END")
          .as("fpp_micro"),
        expr("""CAST(floor((CAST(bits_set AS DOUBLE) / 16384.0)
               |  * (CAST(bits_set AS DOUBLE) / 16384.0)
               |  * (CAST(bits_set AS DOUBLE) / 16384.0)
               |  * 1000000.0 + 0.5) AS BIGINT)""".stripMargin)
          .as("expected_micro"))
  }
  // q433: bit positions as a TABLE; measured FPP vs occupancy^3
  gate("q433_bloom_fpp")(qBloomFpp(_, _))(
    """WITH pos AS (
      |  SELECT doc_id, i,
      |    ('0x' || substr(md5('bf:' || i::VARCHAR || ':' || doc_id::VARCHAR),
      |      1, 15))::BIGINT % 16384 AS pos
      |  FROM documents, generate_series(0, 2) t(i)),
      |set_bits AS (
      |  SELECT DISTINCT pos FROM pos WHERE doc_id % 2 = 0),
      |hits AS (
      |  SELECT p.doc_id, COUNT(*)::BIGINT AS k_hit
      |  FROM pos p JOIN set_bits s ON p.pos = s.pos
      |  WHERE p.doc_id % 2 = 1
      |  GROUP BY 1 HAVING COUNT(*) = 3),
      |census AS (
      |  SELECT SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_inserted,
      |         SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_probes
      |  FROM documents)
      |SELECT n_inserted, n_probes,
      |  (SELECT COUNT(*)::BIGINT FROM set_bits) AS bits_set,
      |  (SELECT COUNT(*)::BIGINT FROM hits) AS false_pos,
      |  CASE WHEN n_probes > 0 THEN
      |    ((1000000 * (SELECT COUNT(*) FROM hits)) // n_probes)::BIGINT
      |  END AS fpp_micro,
      |  CAST(floor(((SELECT COUNT(*) FROM set_bits) / 16384.0)
      |    * ((SELECT COUNT(*) FROM set_bits) / 16384.0)
      |    * ((SELECT COUNT(*) FROM set_bits) / 16384.0)
      |    * 1000000.0 + 0.5) AS BIGINT) AS expected_micro
      |FROM census""".stripMargin)

  /** Knee-point detection (Kneedle, Satopää 2011 — the max-distance-
    * to-chord form) on the source-concentration curve: sources ranked
    * by token volume desc, cumulative tokens y_r, and the knee is the
    * rank maximizing the EXACT integer cross product
    * |(y_n−y₁)(r−1) − (n−1)(y_r−y₁)| — where adding more sources
    * stops buying corpus mass (the operational cut for q422's budget
    * and q432's novelty curve). All BIGINT; the window rides the
    * ≤ #sources-row aggregate.
    */
  private def qKneePoint(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = t(s, dir, "documents")
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("tk"))
      .groupBy("source").agg(sum(col("tk")).as("tokens"))
      .withColumn("r", row_number().over(
        Window.orderBy(col("tokens").desc, col("source"))).cast("long"))
      .withColumn("y", sum(col("tokens")).over(
        Window.orderBy(col("tokens").desc, col("source"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ends = per.agg(max(col("r")).as("rn"),
      max(when(col("r") === 1L, col("y"))).as("y1"),
      max(col("y")).as("yn"))
    val d = per.crossJoin(broadcast(ends))
      .withColumn("d_num",
        abs((col("yn") - col("y1")) * (col("r") - 1L)
          - (col("rn") - 1L) * (col("y") - col("y1"))))
    d.crossJoin(broadcast(d.agg(max(col("d_num")).as("dmax"))))
      .select(col("r").as("rank"), col("source"), col("tokens"),
        col("y").as("cum_tokens"), col("d_num"),
        (col("d_num") === col("dmax")).as("is_knee"))
      .orderBy("rank")
  }
  // q435: exact integer cross product against the rank/cum-token
  // chord — no floats anywhere
  gate("q435_knee_point")(qKneePoint(_, _))(
    """WITH per AS (
      |  SELECT source, SUM(len(string_split(text, ' ')))::BIGINT AS tokens
      |  FROM documents GROUP BY 1),
      |rk AS (
      |  SELECT source, tokens,
      |    ROW_NUMBER() OVER (ORDER BY tokens DESC, source)::BIGINT AS r,
      |    SUM(tokens) OVER (ORDER BY tokens DESC, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS y
      |  FROM per),
      |ends AS (
      |  SELECT MAX(r)::BIGINT AS rn,
      |         MAX(CASE WHEN r = 1 THEN y END)::BIGINT AS y1,
      |         MAX(y)::BIGINT AS yn
      |  FROM rk),
      |d AS (
      |  SELECT r, source, tokens, y,
      |    abs((yn - y1) * (r - 1) - (rn - 1) * (y - y1))::BIGINT AS d_num
      |  FROM rk, ends)
      |SELECT r AS rank, source, tokens, y AS cum_tokens, d_num,
      |       d_num = (SELECT MAX(d_num) FROM d) AS is_knee
      |FROM d ORDER BY rank""".stripMargin)

  /** Hampel filter (Hampel 1974) on each event type's daily series:
    * centered 7-day window, med = the sorted window's 4th element,
    * MAD = 4th element of the sorted absolute deviations, outlier ⇔
    * |y − med| > 3·MAD — every comparison on exact integers (odd
    * window ⇒ integer medians), boundary windows (< 7 days) emit NULL
    * flags. The despike stage that robust-averages can't replace:
    * q156's EWMA anomalies fire on level shifts too, Hampel fires
    * ONLY on isolated spikes.
    */
  private def qHampel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(-3, 3)
    Tables.events(s, dir)
      .groupBy(col("event_type"), dayofmonth(col("ts")).cast("long").as("d"))
      .agg(count(lit(1)).as("y"))
      .withColumn("win", collect_list(col("y")).over(w))
      .withColumn("full", size(col("win")) === 7)
      .withColumn("med",
        when(col("full"), element_at(array_sort(col("win")), 4)))
      .withColumn("mad", when(col("full"), element_at(array_sort(
        expr("transform(win, e -> abs(e - med))")), 4)))
      .select(col("event_type"), col("d"), col("y"), col("med"), col("mad"),
        when(col("full"), abs(col("y") - col("med")) > lit(3L) * col("mad"))
          .as("is_outlier"))
      .orderBy("event_type", "d")
  }
  // q440: integer medians from sorted 7-element window lists
  gate("q440_hampel")(qHampel(_, _))(
    """WITH daily AS (
      |  SELECT event_type, day(ts)::BIGINT AS d, COUNT(*)::BIGINT AS y
      |  FROM events GROUP BY 1, 2),
      |win AS (
      |  SELECT event_type, d, y,
      |    list(y) OVER (PARTITION BY event_type ORDER BY d
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w
      |  FROM daily),
      |med AS (
      |  SELECT event_type, d, y,
      |    CASE WHEN len(w) = 7 THEN list_sort(w)[4] END::BIGINT AS med,
      |    CASE WHEN len(w) = 7 THEN w END AS w7
      |  FROM win)
      |SELECT event_type, d, y, med,
      |  CASE WHEN med IS NOT NULL THEN
      |    list_sort(list_transform(w7, e -> abs(e - med)))[4]
      |  END::BIGINT AS mad,
      |  CASE WHEN med IS NOT NULL THEN
      |    abs(y - med) > 3 * list_sort(list_transform(w7,
      |      e -> abs(e - med)))[4]
      |  END AS is_outlier
      |FROM med ORDER BY event_type, d""".stripMargin)

  /** First-order partial correlation (Yule 1907) — view↔purchase
    * daily co-movement CONTROLLING for overall traffic:
    * r_xy·z = (r_xy − r_xz·r_zy)/√((1−r_xz²)(1−r_zy²)) with every
    * pairwise r built from exact BIGINT co-moments of the
    * (x, y, z) = (views, purchases, total) daily triple per weekday
    * grouping — n·Σxy − ΣxΣy numerators, shared IEEE close. The
    * confounder-removal read a raw q322-style correlation gets wrong
    * when both series just follow total volume.
    */
  private def qPartialCorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(dayofmonth(col("ts")).cast("long").as("d"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"),
        count(lit(1)).as("z"))
    daily.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"), sum(col("z")).as("sz"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("z")).as("sxz"),
        sum(col("y") * col("z")).as("syz"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("z") * col("z")).as("szz"))
      .select(col("n").as("n_days"),
        expr("""CASE WHEN n > 1
               |  AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
               |  AND (n * szz - sz * sz) > 0 THEN CAST(floor(
               |  ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               |     / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               |            * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
               |   - (CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
               |     / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               |            * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))
               |   * ((CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
               |     / sqrt((CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
               |            * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))))
               |  / sqrt((1.0
               |      - ((CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
               |        / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               |               * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz)))
               |        * ((CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
               |        / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               |               * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))))
               |    * (1.0
               |      - ((CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
               |        / sqrt((CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
               |               * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz)))
               |        * ((CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
               |        / sqrt((CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
               |               * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz)))))
               |  * 1000000.0 + 0.5) AS BIGINT) END""".stripMargin)
          .as("partial_r_micro"))
  }
  // q442: every pairwise r from exact BIGINT co-moments; the
  // (large) partial-correlation close is shared verbatim
  gate("q442_partial_corr")(qPartialCorr(_, _))(
    """WITH daily AS (
      |  SELECT day(ts)::BIGINT AS d,
      |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS x,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS y,
      |    COUNT(*)::BIGINT AS z
      |  FROM events GROUP BY 1),
      |m AS (
      |  SELECT COUNT(*)::BIGINT AS n,
      |    SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy, SUM(z)::BIGINT AS sz,
      |    SUM(x * y)::BIGINT AS sxy, SUM(x * z)::BIGINT AS sxz,
      |    SUM(y * z)::BIGINT AS syz,
      |    SUM(x * x)::BIGINT AS sxx, SUM(y * y)::BIGINT AS syy,
      |    SUM(z * z)::BIGINT AS szz
      |  FROM daily)
      |SELECT n AS n_days,
      |  CASE WHEN n > 1
      |    AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
      |    AND (n * szz - sz * sz) > 0 THEN CAST(floor(
      |    ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      |       / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
      |              * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
      |     - (CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
      |       / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
      |              * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))
      |     * ((CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
      |       / sqrt((CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
      |              * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))))
      |    / sqrt((1.0
      |        - ((CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
      |          / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
      |                 * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz)))
      |          * ((CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
      |          / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
      |                 * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))))
      |      * (1.0
      |        - ((CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
      |          / sqrt((CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
      |                 * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz)))
      |          * ((CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
      |          / sqrt((CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
      |                 * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz)))))
      |    * 1000000.0 + 0.5) AS BIGINT) END AS partial_r_micro
      |FROM m""".stripMargin)

  /** Kendall's tau-b (Kendall 1945) with the tie correction, on
    * q426's quantity-quintile × discount-level contingency:
    * τ_b = (C−D)/√((T−Σrow²-pairs)(T−Σcol²-pairs)) — C/D masses from
    * the bounded grid self-join (grid², never rows²), tie terms from
    * the marginals, close in the shared IEEE chain. The tie-aware
    * companion of q426's gamma (which DISCARDS ties and so
    * overstates association on coarse scales).
    */
  private def qKendallTauB(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.load(s, dir, "lineitem")
      .select(expr("(CAST(l_quantity AS BIGINT) - 1) DIV 10").as("qi"),
        expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").as("dj"))
      .groupBy("qi", "dj").agg(count(lit(1)).as("nij"))
    val pairs = cells.as("x").join(broadcast(cells.as("y")),
        col("y.qi") > col("x.qi") && col("y.dj") =!= col("x.dj"))
      .select((col("x.nij") * col("y.nij")).as("mass"),
        (col("y.dj") > col("x.dj")).as("conc"))
    val cd = pairs.agg(
      coalesce(sum(when(col("conc"), col("mass"))), lit(0L)).as("c_mass"),
      coalesce(sum(when(!col("conc"), col("mass"))), lit(0L)).as("d_mass"))
    val rowT = cells.groupBy("qi").agg(sum(col("nij")).as("r"))
      .agg(sum(col("r") * (col("r") - 1L)).as("tr2"))
    val colT = cells.groupBy("dj").agg(sum(col("nij")).as("c"))
      .agg(sum(col("c") * (col("c") - 1L)).as("tc2"))
    val tot = cells.agg(sum(col("nij")).as("nn"))
    cd.crossJoin(broadcast(rowT)).crossJoin(broadcast(colT))
      .crossJoin(broadcast(tot))
      .select(col("nn"), col("c_mass"), col("d_mass"),
        expr("""CASE WHEN (nn * (nn - 1) - tr2) > 0
               |  AND (nn * (nn - 1) - tc2) > 0 THEN CAST(floor(
               |  (CAST(c_mass AS DOUBLE) - d_mass)
               |  / sqrt((CAST(nn AS DOUBLE) * (nn - 1) - tr2) / 2.0
               |         * ((CAST(nn AS DOUBLE) * (nn - 1) - tc2) / 2.0))
               |  * 1000000.0 + 0.5) AS BIGINT) END""".stripMargin)
          .as("tau_b_micro"))
  }
  // q443: C/D masses from the bounded grid; tie terms from the
  // marginals; tau-b close shared verbatim
  gate("q443_kendall_tau_b")(qKendallTauB(_, _))(
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
      |  FROM pairs),
      |rt AS (
      |  SELECT SUM(r * (r - 1))::BIGINT AS tr2
      |  FROM (SELECT SUM(nij)::BIGINT AS r FROM cells GROUP BY qi) t),
      |ct AS (
      |  SELECT SUM(c * (c - 1))::BIGINT AS tc2
      |  FROM (SELECT SUM(nij)::BIGINT AS c FROM cells GROUP BY dj) t),
      |tot AS (SELECT SUM(nij)::BIGINT AS nn FROM cells)
      |SELECT nn, c_mass, d_mass,
      |  CASE WHEN (nn * (nn - 1) - tr2) > 0
      |    AND (nn * (nn - 1) - tc2) > 0 THEN CAST(floor(
      |    (CAST(c_mass AS DOUBLE) - d_mass)
      |    / sqrt((CAST(nn AS DOUBLE) * (nn - 1) - tr2) / 2.0
      |           * ((CAST(nn AS DOUBLE) * (nn - 1) - tc2) / 2.0))
      |    * 1000000.0 + 0.5) AS BIGINT) END AS tau_b_micro
      |FROM cd, rt, ct, tot""".stripMargin)

  /** Neyman optimal sample allocation (Neyman 1934) of a 1000-doc
    * labeling budget across sources: nₕ ∝ Nₕ·Sₕ with Sₕ from exact
    * BIGINT token-count moments, the weight quantized ONCE to micros
    * (so every later sum is an order-free INTEGER sum), floor shares
    * via (1000·w) DIV Σw, and the leftover seats by q392's
    * largest-remainder rule on the exact integer remainders —
    * Σalloc ≡ 1000. The stratified-annotation planner that beats
    * proportional allocation whenever strata variances differ.
    */
  private def qNeymanAlloc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mom = t(s, dir, "documents")
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("x"))
      .groupBy("source").agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("w_micro", expr(
        """CASE WHEN n > 1 THEN CAST(floor(
          |  n * sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
          |           / (CAST(n AS DOUBLE) * (n - 1)))
          |  * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END""".stripMargin))
    val tot = mom.agg(sum(col("w_micro")).as("tw"))
    val based = mom.crossJoin(broadcast(tot))
      .withColumn("base", expr("(1000 * w_micro) DIV tw"))
      .withColumn("rem", expr("(1000 * w_micro) % tw"))
    val left = based.agg((lit(1000L) - sum(col("base"))).as("seats"))
    based.crossJoin(broadcast(left))
      .withColumn("rr", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))).cast("long"))
      .select(col("source"), col("n").as("n_docs"), col("w_micro"),
        col("base"),
        (col("base") + when(col("rr") <= col("seats"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy("source")
  }
  // q448: weight quantized once to micros; all later sums integer
  gate("q448_neyman_alloc")(qNeymanAlloc(_, _))(
    """WITH mom AS (
      |  SELECT source, COUNT(*)::BIGINT AS n,
      |         SUM(len(string_split(text, ' ')))::BIGINT AS sx,
      |         SUM(len(string_split(text, ' '))
      |             * len(string_split(text, ' ')))::BIGINT AS sxx
      |  FROM documents GROUP BY 1),
      |wm AS (
      |  SELECT source, n,
      |    CASE WHEN n > 1 THEN CAST(floor(
      |      n * sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
      |               / (CAST(n AS DOUBLE) * (n - 1)))
      |      * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END AS w_micro
      |  FROM mom),
      |tot AS (SELECT SUM(w_micro)::BIGINT AS tw FROM wm),
      |based AS (
      |  SELECT source, n, w_micro,
      |    ((1000 * w_micro) // tw)::BIGINT AS base,
      |    ((1000 * w_micro) % tw)::BIGINT AS rem
      |  FROM wm, tot),
      |seats AS (SELECT (1000 - SUM(base))::BIGINT AS seats FROM based),
      |rr AS (
      |  SELECT source, n, w_micro, base,
      |    ROW_NUMBER() OVER (ORDER BY rem DESC, source)::BIGINT AS rr
      |  FROM based)
      |SELECT source, n AS n_docs, w_micro, base,
      |  (base + CASE WHEN rr <= seats THEN 1 ELSE 0 END)::BIGINT AS alloc
      |FROM rr, seats ORDER BY source""".stripMargin)

  /** Quantized-ln plane read for the q305/q311 oracles — same sfDir
    * resolution as [[bmf]]; [[graft.sources.StatsFixture]] (invoked by
    * the q305/q311 query defs) materializes (num, den, ln6) before the
    * oracle runs, so neither engine calls `ln` at verify time.
    */
  private def lnf: String =
    s"read_parquet('${graft.sources.StatsFixture.dir(oracleSfDir)}/ln6.parquet/*.parquet')"

  /** WoE plane read for the q158 oracle — same sfDir resolution as
    * [[lnf]]; [[graft.sources.StatsFixture]] (invoked by the q158
    * query def) materializes (g, b, woe6) before the oracle runs.
    */
  private def wof: String =
    s"read_parquet('${graft.sources.StatsFixture.dir(oracleSfDir)}/woe6.parquet/*.parquet')"
}
