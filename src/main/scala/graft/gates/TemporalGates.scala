package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.AsOfJoin

import GateSupport._

/** Temporal gates: as-of joins, gap fill, sessionization, time
  * windows, time-series smoothing, change detection and forecast
  * diagnostics over the events and orders tables.
  */
private[graft] object TemporalGates extends GateFamily {

  private def qWindowAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy("hour", "event_type")
  gate("q22_window_agg")(qWindowAgg(_, _))(
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      |       event_type, COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin)

  private def qSessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("sec"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val marked = e.withColumn("ns",
      when(lag(col("sec"), 1).over(w).isNull ||
        col("sec") - lag(col("sec"), 1).over(w) > 3600, 1).otherwise(0))
    val sess = marked.withColumn("session_id",
      sum(col("ns")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"), min(col("sec")).as("start_sec"))
      .orderBy("user_id", "session_id")
  }
  gate("q23_sessionize")(qSessionize(_, _))(
    """WITH e AS (
      |  SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS sec FROM events
      |), m AS (
      |  SELECT user_id, event_id, sec,
      |         CASE WHEN lag(sec) OVER w IS NULL
      |              OR sec - lag(sec) OVER w > 3600 THEN 1 ELSE 0 END AS ns
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
      |), s AS (
      |  SELECT user_id, sec,
      |         SUM(ns) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |                       ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
      |  FROM m)
      |SELECT user_id, session_id, COUNT(*) AS n_events, MIN(sec) AS start_sec
      |FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin)

  private def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts"))
    val r = t(s, dir, "orders")
      .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    AsOfJoin.asof(e, r, "ts", "o_orderdate", Seq("user_id"), Seq("o_orderkey"))
      .filter(col("o_orderkey").isNotNull)
      .select(col("event_id"), col("user_id"), col("o_orderkey").as("last_order"))
      .orderBy("event_id")
  }
  gate("q24_asof_join")(qAsofJoin(_, _))(
    """WITH r AS (SELECT o_custkey AS user_id, o_orderdate,
      |                  MAX(o_orderkey) AS o_orderkey
      |           FROM orders GROUP BY 1, 2),
      |     e AS (SELECT event_id, user_id, ts FROM events)
      |SELECT e.event_id, e.user_id, r.o_orderkey AS last_order
      |FROM e ASOF JOIN r ON e.user_id = r.user_id AND e.ts >= r.o_orderdate
      |ORDER BY event_id""".stripMargin)

  /** Forward as-of: for each order, the user's first event at/after
    * the order date (DuckDB `ASOF JOIN ... ON ts <= r.ts` oracle).
    */
  private def qAsofForward(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey").as("user_id"), col("o_orderdate"))
    val events = Tables.events(s, dir)
      .groupBy(col("user_id"), col("ts")).agg(max(col("event_id")).as("event_id"))
    AsOfJoin.asof(orders, events, "o_orderdate", "ts", Seq("user_id"),
      Seq("event_id"), direction = "forward")
      .filter(col("event_id").isNotNull)
      .select(col("o_orderkey"), col("user_id"), col("event_id").as("first_event"))
      .orderBy("o_orderkey")
  }
  gate("q48_asof_forward")(qAsofForward(_, _))(
    """WITH r AS (SELECT user_id, ts, MAX(event_id) AS event_id
      |           FROM events GROUP BY 1, 2),
      |     o AS (SELECT o_orderkey, o_custkey AS user_id, o_orderdate FROM orders)
      |SELECT o.o_orderkey, o.user_id, r.event_id AS first_event
      |FROM o ASOF JOIN r ON o.user_id = r.user_id AND o.o_orderdate <= r.ts
      |ORDER BY o_orderkey""".stripMargin)

  /** Sequential funnel: per user, earliest view → first click after it
    * → first purchase after that; counts per furthest stage reached.
    */
  private def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    val t1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val t2 = e.filter(col("event_type") === "click").join(t1, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id"), col("t_view")).agg(min(col("ts")).as("t_click"))
    val t3 = e.filter(col("event_type") === "purchase").join(t2, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id"), col("t_view"), col("t_click")).agg(min(col("ts")).as("t_buy"))
    t1.join(t2.select(col("user_id"), col("t_click")), Seq("user_id"), "left")
      .join(t3.select(col("user_id"), col("t_buy")), Seq("user_id"), "left")
      .select(col("user_id"),
        lit(1L).as("reached_view"),
        col("t_click").isNotNull.cast("long").as("reached_click"),
        col("t_buy").isNotNull.cast("long").as("reached_buy"))
      .orderBy("user_id")
  }
  gate("q47_funnel")(qFunnel(_, _))(
    """WITH t1 AS (
      |  SELECT user_id, MIN(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY 1
      |), t2 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t_click
      |  FROM events e JOIN t1 ON e.user_id = t1.user_id
      |  WHERE e.event_type = 'click' AND e.ts > t1.t_view GROUP BY 1
      |), t3 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t_buy
      |  FROM events e JOIN t2 ON e.user_id = t2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > t2.t_click GROUP BY 1
      |)
      |SELECT t1.user_id, 1::BIGINT AS reached_view,
      |       (t2.user_id IS NOT NULL)::BIGINT AS reached_click,
      |       (t3.user_id IS NOT NULL)::BIGINT AS reached_buy
      |FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
      |LEFT JOIN t3 ON t1.user_id = t3.user_id
      |ORDER BY t1.user_id""".stripMargin)

  /** Date/time function suite over order dates. */
  private def qDatetime(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("d"),
        date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"))
      .orderBy("o_orderkey")
  gate("q45_datetime")(qDatetime(_, _))(
    """SELECT o_orderkey,
      |       year(o_orderdate)::BIGINT AS y,
      |       quarter(o_orderdate)::BIGINT AS q,
      |       month(o_orderdate)::BIGINT AS m,
      |       day(o_orderdate)::BIGINT AS d,
      |       strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30
      |FROM orders ORDER BY o_orderkey""".stripMargin)

  /** Banded interval join ([[graft.operators.RangeJoin]]): events
    * against each user's 30-day order windows — equi-join on
    * (user, time-bucket), never a nested-loop range join.
    */
  private def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts"))
    // orders are 1995–2001 but events 2024: derive a synthetic window
    // start inside the events' month (deterministic from o_orderkey) so
    // the join is exercised, windows overlap, and bucket edges are hit
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey").as("user_id"),
        date_add(lit("2023-12-15").cast("date"),
          (col("o_orderkey") % 45).cast("int")).as("win_start"))
    graft.operators.RangeJoin.intervalJoin(e, "ts", o, "win_start", 30, Seq("user_id"))
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_orders"), min(col("o_orderkey")).as("first_order"))
      .orderBy("event_id")
  }
  gate("q67_interval_join")(qIntervalJoin(_, _))(
    """WITH o AS (
      |  SELECT o_orderkey, o_custkey AS user_id,
      |         DATE '2023-12-15' + (o_orderkey % 45)::INT AS win_start
      |  FROM orders)
      |SELECT event_id, COUNT(*) AS n_orders, MIN(o_orderkey) AS first_order
      |FROM events e JOIN o
      |  ON e.user_id = o.user_id
      | AND e.ts >= o.win_start::TIMESTAMP
      | AND e.ts < o.win_start::TIMESTAMP + INTERVAL 30 DAY
      |GROUP BY event_id ORDER BY event_id""".stripMargin)

  /** Time-series gap fill ([[graft.operators.GapFill.resampleFfill]]):
    * per-user hourly grid over the view stream, latest-in-bucket pick,
    * forward fill.
    */
  private def qGapFill(s: SparkSession, dir: String): DataFrame =
    graft.operators.GapFill.resampleFfill(
      Tables.events(s, dir).filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value"), col("event_id")),
      "user_id", "ts", "value", "event_id")
      .select(col("user_id"),
        date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("h"),
        round(col("value"), 2).as("v"))
      .orderBy("user_id", "h")
  // q101: hourly resample + forward fill; latest-in-bucket via the
  // same (ts desc, event_id desc) rank both engines compute
  gate("q101_gap_fill")(qGapFill(_, _))(
    """WITH ev AS (SELECT user_id, ts, value, event_id FROM events
      |            WHERE event_type = 'view'),
      |hourly AS (
      |  SELECT user_id, h, value AS v FROM (
      |    SELECT user_id, date_trunc('hour', ts) AS h, value,
      |           row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
      |                              ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM ev) WHERE rn = 1),
      |span AS (SELECT user_id, date_trunc('hour', min(ts)) AS h0,
      |                date_trunc('hour', max(ts)) AS h1 FROM ev GROUP BY 1),
      |grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      |         FROM span)
      |SELECT g.user_id AS user_id, strftime(g.h, '%Y-%m-%d %H:%M:%S') AS h,
      |       round(last_value(hr.v IGNORE NULLS) OVER (
      |         PARTITION BY g.user_id ORDER BY g.h
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS v
      |FROM grid g LEFT JOIN hourly hr
      |  ON hr.user_id = g.user_id AND hr.h = g.h
      |ORDER BY 1, 2""".stripMargin)

  /** Built-in `session_window` sessionization — the THIRD session API
    * next to the batch window-function build (q23) and the streaming
    * flatMapGroupsWithState build (q72). Note the boundary semantics:
    * session windows merge on OVERLAP, so a gap of exactly the window
    * size starts a NEW session (`>= gap`), unlike q23's `> gap` rule —
    * the oracle encodes session_window's own rule.
    */
  private def qSessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"))
      .orderBy("user_id", "session_start", "n_events")
  // q105: session_window's merge-on-overlap rule (>= gap starts a
  // new session) on raw fractional-second timestamps
  gate("q105_session_window")(qSessionWindow(_, _))(
    """WITH e AS (
      |  SELECT user_id, event_id, ts, epoch(ts) AS sec FROM events
      |), m AS (
      |  SELECT user_id, event_id, ts, sec,
      |         CASE WHEN lag(sec) OVER w IS NULL
      |              OR sec - lag(sec) OVER w >= 3600 THEN 1 ELSE 0 END AS ns
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
      |), s AS (
      |  SELECT user_id, ts,
      |         SUM(ns) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |                       ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM m)
      |SELECT user_id,
      |       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |       COUNT(*) AS n_events
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_start, n_events""".stripMargin)

  /** TWA gate ([[graft.operators.Twap]]): per-user time-weighted
    * average of `value` over the irregular event series — the
    * piecewise-constant integral / span, deterministic under the
    * (ts, event_id) total order. Same fractional-second timestamp
    * arithmetic as q104/q105 (Spark double cast ≡ DuckDB epoch()).
    */
  private def qTwap(s: SparkSession, dir: String): DataFrame =
    graft.operators.Twap.timeWeightedAvg(
      Tables.events(s, dir), "user_id", "ts", "value",
      Seq("ts", "event_id"))
      .select(col("user_id"), round(col("twa"), 4).as("twa"),
        round(col("span_sec"), 3).as("span_sec"), col("n_events"))
      .orderBy("user_id")
  // q112: identical lead-window formulation; epoch(ts) ≡ Spark's
  // timestamp→double cast (the q104/q105 equivalence)
  gate("q112_twap")(qTwap(_, _))(
    """WITH e AS (SELECT user_id, epoch(ts) AS sec, value, event_id FROM events),
      |d AS (SELECT user_id, value,
      |        lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) - sec AS dt
      |      FROM e)
      |SELECT user_id, ROUND(SUM(value * dt) / SUM(dt), 4) AS twa,
      |       ROUND(COALESCE(SUM(dt), 0), 3) AS span_sec,
      |       COUNT(*) AS n_events
      |FROM d GROUP BY 1 ORDER BY user_id""".stripMargin)

  /** Time-RANGE window gate (the frame class q58's ROWS suite does
    * not cover): per event, how many events and how many cents the
    * same user produced in the PRECEDING HOUR — `RANGE BETWEEN
    * 3600000000 PRECEDING AND CURRENT ROW` over exact integer
    * microseconds (`unix_micros` ≡ DuckDB `epoch_us`), summing exact
    * integer cents, so equal-timestamp peers and frame edges cannot
    * diverge between engines.
    */
  private def qRangeWindow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-3600L * 1000000L, 0L)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("cnt_1h", count(lit(1)).over(w))
      .withColumn("cents_1h", sum(col("cents")).over(w))
      .select(col("event_id"), col("cnt_1h"), col("cents_1h"))
      .orderBy("event_id")
  }
  // q114: identical RANGE frame over epoch_us ≡ unix_micros
  gate("q114_range_window")(qRangeWindow(_, _))(
    """SELECT event_id,
      |       COUNT(*) OVER w AS cnt_1h,
      |       (SUM(cents) OVER w)::BIGINT AS cents_1h
      |FROM (SELECT event_id, user_id, epoch_us(ts) AS us,
      |             ROUND(value * 100)::BIGINT AS cents FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY us
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin)

  /** Cohort-retention gate: users bucketed by first-seen week, then
    * distinct active users per (cohort_week, week_offset) — the
    * classic retention matrix. All-integer epoch-day arithmetic
    * (`DIV`), so both engines land on identical buckets; the shape is
    * one user-keyed min-aggregation, a broadcast join of the
    * user→cohort map back onto events, and one matrix-sized count
    * distinct.
    */
  private def qCohortRetention(s: SparkSession, dir: String): DataFrame = {
    // explicit FLOOR on both sides: DuckDB's double→BIGINT cast
    // ROUNDS where Spark's truncates — floor is the only shared exact
    // bucketing
    val ev = Tables.events(s, dir).select(col("user_id"),
      floor(col("ts").cast("double") / 86400).cast("long").as("dd"))
    val first = ev.groupBy("user_id").agg(min(col("dd")).as("d0"))
    ev.join(broadcast(first), Seq("user_id"))
      .groupBy(expr("d0 DIV 7").as("cohort_week"),
        expr("(dd - d0) DIV 7").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy("cohort_week", "week_offset")
  }
  // q119: same integer epoch-day buckets (// is DuckDB's DIV)
  gate("q119_cohort_retention")(qCohortRetention(_, _))(
    """WITH e AS (SELECT user_id, FLOOR(epoch(ts) / 86400)::BIGINT AS dd FROM events),
      |f AS (SELECT user_id, MIN(dd) AS d0 FROM e GROUP BY 1)
      |SELECT d0 // 7 AS cohort_week, (dd - d0) // 7 AS week_offset,
      |       COUNT(DISTINCT e.user_id) AS active_users
      |FROM e JOIN f USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin)

  /** Event-sequence transition gate: the Markov bigram matrix of
    * per-user event timelines — count of (event_type → next
    * event_type) pairs under the (us, event_id) total order, the
    * building block of next-action models and funnel discovery. One
    * user-keyed lead window + one matrix-sized aggregation.
    */
  private def qTransitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("event_type", "next_type")
  }
  // q122: identical lead window under the (epoch_us, event_id)
  // total order
  gate("q122_transitions")(qTransitions(_, _))(
    """WITH e AS (SELECT user_id, event_id, event_type,
      |                  epoch_us(ts) AS us FROM events),
      |t AS (SELECT event_type,
      |        lead(event_type) OVER (PARTITION BY user_id
      |          ORDER BY us, event_id) AS next_type
      |      FROM e)
      |SELECT event_type, next_type, COUNT(*) AS cnt
      |FROM t WHERE next_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY event_type, next_type""".stripMargin)

  /** Gaps-and-islands gate: longest consecutive-day activity streak
    * per user via the classic `day − row_number` island key —
    * consecutive days share a constant difference, so islands fall
    * out of one user-keyed window plus two aggregations, all integer
    * arithmetic (the q119 FLOOR-day buckets).
    */
  private def qStreaks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = Tables.events(s, dir)
      .select(col("user_id"),
        floor(col("ts").cast("double") / 86400).cast("long").as("dd"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("dd"))
    days.withColumn("island", col("dd") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("max_streak"), sum(col("len")).as("n_active_days"))
      .orderBy("user_id")
  }
  // q123: the identical day - row_number island key
  gate("q123_streaks")(qStreaks(_, _))(
    """WITH d AS (SELECT DISTINCT user_id,
      |             FLOOR(epoch(ts) / 86400)::BIGINT AS dd FROM events),
      |i AS (SELECT user_id, dd,
      |        dd - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dd) AS island
      |      FROM d),
      |g AS (SELECT user_id, island, COUNT(*) AS len FROM i GROUP BY 1, 2)
      |SELECT user_id, MAX(len) AS max_streak,
      |       SUM(len)::BIGINT AS n_active_days
      |FROM g GROUP BY 1 ORDER BY user_id""".stripMargin)

  /** SCD Type-2 gate — the warehouse dimension-versioning pattern:
    * treat each user's event_type stream as an attribute history,
    * drop runs of consecutive identical values (lag filter), then
    * assign `[valid_from, valid_to)` with lead over the surviving
    * change rows (NULL valid_to = current version). Two user-keyed
    * windows sharing one exchange; integer microseconds throughout.
    */
  private def qScd2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val hist = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type").as("attr"),
        unix_micros(col("ts")).as("us"))
    val changes = hist
      .withColumn("prev", lag(col("attr"), 1).over(w))
      .filter(col("prev").isNull || col("attr") =!= col("prev"))
    changes
      .withColumn("valid_to", lead(col("us"), 1).over(w))
      .select(col("user_id"), col("attr"), col("us").as("valid_from"),
        col("valid_to"))
      .orderBy("user_id", "valid_from")
  }
  // q126: identical lag-filter + lead-interval formulation; the
  // second window runs over the SURVIVING change rows only
  gate("q126_scd2")(qScd2(_, _))(
    """WITH h AS (SELECT user_id, event_id, event_type AS attr,
      |                  epoch_us(ts) AS us FROM events),
      |c AS (SELECT * FROM (
      |        SELECT user_id, event_id, attr, us,
      |               lag(attr) OVER (PARTITION BY user_id
      |                 ORDER BY us, event_id) AS prev
      |        FROM h)
      |      WHERE prev IS NULL OR attr <> prev)
      |SELECT user_id, attr, us AS valid_from,
      |       lead(us) OVER (PARTITION BY user_id
      |         ORDER BY us, event_id) AS valid_to
      |FROM c ORDER BY user_id, valid_from""".stripMargin)

  /** Linear-interpolation resampling
    * ([[graft.operators.GapFill.resampleInterp]]) of per-user view
    * values (integer cents) onto the hourly grid — q101's numeric
    * complement, micro-exact through the shared anchor arithmetic.
    */
  private def qInterp(s: SparkSession, dir: String): DataFrame =
    graft.operators.GapFill.resampleInterp(
      Tables.events(s, dir).filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          col("event_id")),
      "user_id", "ts", "cents", "event_id")
      .select(col("user_id"),
        date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("h"),
        col("interp_micro"))
      .orderBy("user_id", "h")
  // q150: identical union+window anchor pick (event-at-instant
  // counts as prev via the g sort key, next is strictly later) and
  // identical interpolation chain on exact BIGINT cents and micros
  gate("q150_interp")(qInterp(_, _))(
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS tu,
      |         CAST(round(value * 100) AS BIGINT) AS v, event_id
      |  FROM events WHERE event_type = 'view'),
      |grid AS (
      |  SELECT user_id,
      |    epoch_us(unnest(generate_series(date_trunc('hour', t0),
      |                                    date_trunc('hour', t1),
      |                                    INTERVAL 1 HOUR))) AS tu
      |  FROM (SELECT user_id, min(ts) AS t0, max(ts) AS t1
      |        FROM events WHERE event_type = 'view' GROUP BY 1)),
      |u AS (
      |  SELECT user_id, tu, v, 0 AS g, event_id AS tie FROM ev
      |  UNION ALL
      |  SELECT user_id, tu, NULL, 1, NULL FROM grid),
      |a AS (
      |  SELECT *,
      |    last_value(CASE WHEN g = 0 THEN v END IGNORE NULLS) OVER wa AS pv,
      |    last_value(CASE WHEN g = 0 THEN tu END IGNORE NULLS) OVER wa AS pt
      |  FROM u WINDOW wa AS (PARTITION BY user_id ORDER BY tu, g, tie
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |b AS (
      |  SELECT *,
      |    last_value(CASE WHEN g = 0 THEN v END IGNORE NULLS) OVER wd AS nv,
      |    last_value(CASE WHEN g = 0 THEN tu END IGNORE NULLS) OVER wd AS nt
      |  FROM a WINDOW wd AS (PARTITION BY user_id
      |    ORDER BY tu DESC, g DESC, tie DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT user_id,
      |  strftime(make_timestamp(tu), '%Y-%m-%d %H:%M:%S') AS h,
      |  CASE WHEN pv IS NULL THEN CAST(nv * 1000000 AS BIGINT)
      |       WHEN nv IS NULL THEN CAST(pv * 1000000 AS BIGINT)
      |       ELSE CAST(floor(1000000.0 * (pv + (nv - pv) *
      |         (CAST(tu - pt AS DOUBLE) / (nt - pt))) + 0.5) AS BIGINT)
      |  END AS interp_micro
      |FROM b WHERE g = 1
      |ORDER BY user_id, h""".stripMargin)

  /** Seasonality profile — per (event_type, hour-of-day) activity and
    * value index vs the type's overall mean: n, cents, and
    * `index_micro = floor((S_h/n_h)/(S/n)·1e6 + 0.5)` — exact integer
    * sums, one deterministic division chain. The time-series
    * profiling complement to q156's anomaly screen (what SHOULD this
    * hour look like).
    */
  private def qSeasonality(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_type"),
      expr("CAST(hour(ts) AS BIGINT)").as("hod"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val hourly = e.groupBy("event_type", "hod")
      .agg(count(lit(1)).as("n_h"), sum(col("cents")).as("s_h"))
    val overall = e.groupBy("event_type")
      .agg(count(lit(1)).as("n_t"), sum(col("cents")).as("s_t"))
    hourly.join(broadcast(overall), "event_type")
      .select(col("event_type"), col("hod"), col("n_h"), col("s_h"),
        expr("CAST(floor((CAST(s_h AS DOUBLE) / n_h) / (CAST(s_t AS DOUBLE) / n_t) * 1000000.0 + 0.5) AS BIGINT)")
          .as("index_micro"))
      .orderBy("event_type", "hod")
  }
  // q162: exact integer sums, one deterministic index chain
  gate("q162_seasonality")(qSeasonality(_, _))(
    """WITH e AS (
      |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |h AS (SELECT event_type, hod, COUNT(*)::BIGINT AS n_h,
      |             SUM(cents)::BIGINT AS s_h
      |      FROM e GROUP BY 1, 2),
      |o AS (SELECT event_type, COUNT(*)::BIGINT AS n_t,
      |             SUM(cents)::BIGINT AS s_t
      |      FROM e GROUP BY 1)
      |SELECT h.event_type, h.hod, h.n_h, h.s_h,
      |  CAST(floor((CAST(s_h AS DOUBLE) / n_h) / (CAST(s_t AS DOUBLE) / n_t) * 1000000.0 + 0.5) AS BIGINT) AS index_micro
      |FROM h JOIN o USING (event_type)
      |ORDER BY event_type, hod""".stripMargin)

  /** One-sided CUSUM change statistic
    * ([[graft.operators.TimeSeries.cusumFixed]]) per user over event
    * cents against the scale midpoint target — the second true
    * recurrence next to q135's EWMA, same recursive-CTE gate
    * discipline.
    */
  private def qCusum(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    graft.operators.TimeSeries.cusumFixed(e, "user_id", "event_id",
      "event_id", "cents", target = 5000L)
      .select(col("k").as("user_id"), col("tid").as("event_id"), col("cusum"))
      .orderBy("user_id", "event_id")
  }
  // q167: the identical integer recurrence with greatest(0, ·)
  // replayed as a recursive CTE (q135's discipline)
  gate("q167_cusum")(qCusum(_, _))(
    """WITH RECURSIVE seq AS (
      |  SELECT user_id, event_id,
      |         CAST(round(value * 100) AS BIGINT) AS v,
      |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS n
      |  FROM events),
      |cs AS (
      |  SELECT user_id, event_id, n, greatest(0, v - 5000) AS s
      |  FROM seq WHERE n = 1
      |  UNION ALL
      |  SELECT q.user_id, q.event_id, q.n, greatest(0, c.s + q.v - 5000)
      |  FROM cs c JOIN seq q ON q.user_id = c.user_id AND q.n = c.n + 1)
      |SELECT user_id, event_id, s AS cusum FROM cs
      |ORDER BY user_id, event_id""".stripMargin)

  /** Interval-union coverage — each event opens a 10-minute activity
    * interval; per user, overlapping intervals merge (the classic
    * sort + running-max-of-end sweep: a row starts a new island iff
    * its start exceeds every previous end) and the gate reports
    * merged-island count and total covered microseconds. Two
    * key-partitioned windows sharing one exchange; exact integers.
    */
  private def qIntervalUnion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val LEN = 600L * 1000000L
    val e = Tables.events(s, dir).select(col("user_id"),
      unix_micros(col("ts")).as("tu"), col("event_id"))
      .withColumn("end", col("tu") + LEN)
    val w = Window.partitionBy(col("user_id")).orderBy(col("tu"), col("event_id"))
    val flagged = e
      .withColumn("prev_max_end",
        max(col("end")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("island",
        sum(when(col("prev_max_end").isNull ||
          col("tu") > col("prev_max_end"), 1L).otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy(col("user_id"), col("island"))
      .agg(min(col("tu")).as("start"), max(col("end")).as("stop"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum(col("stop") - col("start")).as("covered_us"))
      .orderBy("user_id")
  }
  // q206: identical sort + running-max-of-prev-ends sweep; first
  // row of each user opens an island by construction
  gate("q206_interval_union")(qIntervalUnion(_, _))(
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS tu, event_id,
      |         epoch_us(ts) + 600000000 AS e_end
      |  FROM events),
      |f AS (
      |  SELECT user_id, tu, event_id, e_end,
      |    max(e_end) OVER (PARTITION BY user_id ORDER BY tu, event_id
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS prev_max_end
      |  FROM e),
      |g AS (
      |  SELECT user_id, tu, e_end,
      |    SUM(CASE WHEN prev_max_end IS NULL OR tu > prev_max_end
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY tu, event_id
      |            ROWS UNBOUNDED PRECEDING) AS island
      |  FROM f),
      |i AS (
      |  SELECT user_id, island, MIN(tu) AS start, MAX(e_end) AS stop
      |  FROM g GROUP BY 1, 2)
      |SELECT user_id, COUNT(*)::BIGINT AS n_islands,
      |       SUM(stop - start)::BIGINT AS covered_us
      |FROM i GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Purged time-series cross-validation folds (the temporal-leakage-
    * safe split): the timeline divides into 5 equal-width folds; for
    * each fold, test = the fold's rows, embargo = rows within 1 h of
    * its boundaries (excluded from BOTH sides), train = everything
    * else. All-integer interval arithmetic over one broadcast (min,
    * max) row; output (fold, n_test, n_embargo, n_train) sums to the
    * row count per fold.
    */
  private def qPurgedFolds(s: SparkSession, dir: String): DataFrame = {
    val HOUR = 3600L * 1000000L
    val e = Tables.events(s, dir).select(unix_micros(col("ts")).as("tu"))
    val b = e.agg(min(col("tu")).as("lo"), max(col("tu")).as("hi"))
    e.crossJoin(broadcast(b))
      .select(col("tu"), col("lo"),
        expr("least(CAST((tu - lo) * 5 DIV (hi - lo + 1) AS BIGINT), " +
          "CAST(4 AS BIGINT))").as("row_fold"),
        expr("(hi - lo + 1)").as("span"))
      .crossJoin(broadcast(s.range(5).select(col("id").as("fold"))))
      .select(col("fold"),
        when(col("row_fold") === col("fold"), 1L).otherwise(0L).as("is_test"),
        // integer DIV boundaries — a `/` here would go through doubles
        when(col("row_fold") =!= col("fold") &&
          (expr(s"abs(tu - (lo + (fold * span) DIV 5)) <= $HOUR") ||
            expr(s"abs(tu - (lo + ((fold + 1) * span) DIV 5)) <= $HOUR")),
          1L).otherwise(0L).as("is_embargo"))
      .groupBy("fold")
      .agg(sum(col("is_test")).as("n_test"),
        sum(col("is_embargo")).as("n_embargo"),
        sum(lit(1L) - col("is_test") - col("is_embargo")).as("n_train"))
      .orderBy("fold")
  }
  // q205: identical integer fold/boundary arithmetic over the same
  // broadcast (lo, hi)
  gate("q205_purged_folds")(qPurgedFolds(_, _))(
    """WITH e AS (SELECT epoch_us(ts) AS tu FROM events),
      |b AS (SELECT MIN(tu) AS lo, MAX(tu) AS hi FROM e),
      |r AS (
      |  SELECT tu, lo, hi - lo + 1 AS span,
      |         least((tu - lo) * 5 // (hi - lo + 1), 4) AS row_fold
      |  FROM e, b),
      |x AS (
      |  SELECT fold, row_fold, tu, lo, span,
      |    CASE WHEN row_fold = fold THEN 1 ELSE 0 END AS is_test,
      |    CASE WHEN row_fold <> fold AND
      |      (abs(tu - (lo + (fold * span) // 5)) <= 3600000000 OR
      |       abs(tu - (lo + ((fold + 1) * span) // 5)) <= 3600000000)
      |      THEN 1 ELSE 0 END AS is_embargo
      |  FROM r, generate_series(0, 4) g(fold))
      |SELECT fold::BIGINT AS fold, SUM(is_test)::BIGINT AS n_test,
      |       SUM(is_embargo)::BIGINT AS n_embargo,
      |       SUM(1 - is_test - is_embargo)::BIGINT AS n_train
      |FROM x GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Rolling exact median — trailing-20-row `percentile(0.5)` window
    * per event_type under the (tu, event_id) total order, emitted in
    * half-cents (the p=0.5 interpolation is always a half-integer on
    * integer cents, so ·2 is EXACT — no float rounding debate). The
    * sliding-robust-center monitor; one key-partitioned frame window.
    */
  private def qRollingMedian(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("event_type"),
      unix_micros(col("ts")).as("tu"), col("event_id"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("tu"), col("event_id")).rowsBetween(-19, 0)
    e.withColumn("med2",
        (expr("percentile(cents, 0.5)").over(w) * 2.0).cast("long"))
      .select(col("event_type"), col("event_id"), col("med2"))
      .orderBy("event_type", "event_id")
  }
  // q196: quantile_cont ≡ Spark percentile (same p·(n−1) linear
  // interpolation); ·2 turns the half-integer median into an exact
  // BIGINT on both sides
  gate("q196_rolling_median")(qRollingMedian(_, _))(
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) AS tu, event_id,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events)
      |SELECT event_type, event_id,
      |  CAST(quantile_cont(cents, 0.5) OVER (
      |    PARTITION BY event_type ORDER BY tu, event_id
      |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) * 2 AS BIGINT) AS med2
      |FROM e ORDER BY event_type, event_id""".stripMargin)

  /** Time-decayed engagement score per user — each event contributes
    * ⌊cents · 2^(−age/6h) · 10⁶⌋ relative to the corpus max timestamp
    * (one broadcast row). The decay is applied PER ROW and floored to
    * a BIGINT before summation, so the aggregate is an exact integer
    * sum (order-independent — summing raw doubles would hash-flip on
    * partial-aggregation order); the pow chain is shared with the
    * oracle. Map + one partial-aggregated groupBy.
    */
  private def qTimeDecay(s: SparkSession, dir: String): DataFrame = {
    // the only pow output (per-event contrib) is dumped as a JVM
    // fixture the oracle equi-joins — the libm-perturbation audit
    // flagged this gate's pow chain within one ulp of a floor boundary
    graft.sources.DecayFixture.ensure(s, dir)
    graft.sources.DecayFixture.contribs(s, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("contrib")).as("decayed_micro"))
      .orderBy("user_id")
  }
  // q194: the per-event floored decay contribution — the only pow
  // output — comes from the JVM fixture (the perturbation audit put
  // some event within one ulp of its floor boundary; q137/q139
  // pattern); the oracle independently verifies every event appears
  // exactly once, the user attribution, and the integer aggregation
  gate("q194_time_decay")(qTimeDecay(_, _))(
    s"""SELECT e.user_id, COUNT(*)::BIGINT AS n,
       |  SUM(f.contrib)::BIGINT AS decayed_micro
       |FROM events e JOIN $dfp f ON f.event_id = e.event_id
       |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** OHLC bars — per (event_type, UTC hour): open/close by (time,
    * event_id) order via min_by/max_by, high/low, volume. The
    * market-data aggregation shape on the event stream; one
    * partial-aggregated groupBy, no window.
    */
  private def qOhlcBars(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_type"),
      unix_micros(col("ts")).as("tu"), col("event_id"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    e.groupBy(col("event_type"),
        expr("tu div 3600000000").as("hour_bucket"))
      .agg(
        expr("min_by(cents, struct(tu, event_id))").as("open"),
        max(col("cents")).as("high"),
        min(col("cents")).as("low"),
        expr("max_by(cents, struct(tu, event_id))").as("close"),
        count(lit(1)).as("volume"))
      .orderBy("event_type", "hour_bucket")
  }
  // q195: open/close via full-frame first/last under the identical
  // (tu, event_id) total order — constant per group, so any_value
  // is deterministic
  gate("q195_ohlc_bars")(qOhlcBars(_, _))(
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) AS tu, event_id,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |w AS (
      |  SELECT event_type, tu // 3600000000 AS hb, cents,
      |    first_value(cents) OVER win AS o,
      |    last_value(cents) OVER win AS c
      |  FROM e
      |  WINDOW win AS (PARTITION BY event_type, tu // 3600000000
      |                 ORDER BY tu, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING
      |                          AND UNBOUNDED FOLLOWING))
      |SELECT event_type, hb AS hour_bucket,
      |  any_value(o)::BIGINT AS open, MAX(cents)::BIGINT AS high,
      |  MIN(cents)::BIGINT AS low, any_value(c)::BIGINT AS close,
      |  COUNT(*)::BIGINT AS volume
      |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Nearest-direction as-of join ([[AsOfJoin.asof]] `nearest`, ties
    * backward) — the last ungated direction of the union-sort as-of
    * operator (q24 backward, q48 forward): each event attaches its
    * closest order in time, either side. The oracle composes DuckDB's
    * two ASOF directions and picks the strictly-closer side.
    */
  private def qAsofNearest(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_id"), col("user_id"), col("ts"))
    val r = t(s, dir, "orders")
      .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    AsOfJoin.asof(e, r, "ts", "o_orderdate", Seq("user_id"),
        Seq("o_orderkey"), direction = "nearest")
      .filter(col("o_orderkey").isNotNull)
      .select(col("event_id"), col("user_id"),
        col("o_orderkey").as("nearest_order"))
      .orderBy("event_id")
  }
  // q193: both DuckDB ASOF directions composed; strictly-closer
  // forward wins, ties go backward (the operator's documented rule)
  gate("q193_asof_nearest")(qAsofNearest(_, _))(
    """WITH r AS (SELECT o_custkey AS user_id, o_orderdate AS rt,
      |                  MAX(o_orderkey) AS ok
      |           FROM orders GROUP BY 1, 2),
      |e AS (SELECT event_id, user_id, ts FROM events),
      |b AS (SELECT e.event_id, e.user_id, e.ts, r.rt AS bt, r.ok AS bk
      |      FROM e ASOF LEFT JOIN r
      |        ON e.user_id = r.user_id AND e.ts >= r.rt),
      |f AS (SELECT e.event_id, r.rt AS ft, r.ok AS fk
      |      FROM e ASOF LEFT JOIN r
      |        ON e.user_id = r.user_id AND e.ts <= r.rt),
      |j AS (SELECT b.event_id, b.user_id, b.ts, bt, bk, ft, fk
      |      FROM b JOIN f USING (event_id))
      |SELECT event_id, user_id,
      |  CASE WHEN fk IS NULL THEN bk
      |       WHEN bk IS NULL THEN fk
      |       WHEN epoch_us(ft) - epoch_us(ts) < epoch_us(ts) - epoch_us(bt)
      |            THEN fk
      |       ELSE bk END AS nearest_order
      |FROM j WHERE bk IS NOT NULL OR fk IS NOT NULL
      |ORDER BY event_id""".stripMargin)

  /** SAX-style symbolic discretization with RANK-based breakpoints
    * (exact-integer, engine-independent — the classic z-normal
    * breakpoints would hang the gate on float boundaries): per user,
    * each value becomes its within-user quartile letter a–d, three
    * consecutive letters form a word, and the global top-20 words
    * (cnt desc, word) surface recurring local shapes. Two
    * key-partitioned windows + one partial-aggregated count.
    */
  private def qSax(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val wr = Window.partitionBy(col("user_id")).orderBy(col("cents"), col("event_id"))
    val wn = Window.partitionBy(col("user_id"))
    val lettered = e
      .withColumn("r", row_number().over(wr).cast("long"))
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("letter", expr("least((r - 1) * 4 div n, CAST(3 AS BIGINT))"))
    val wo = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    lettered
      .withColumn("l2", lag(col("letter"), 2).over(wo))
      .withColumn("l1", lag(col("letter"), 1).over(wo))
      .filter(col("l2").isNotNull)
      .select(expr("concat(chr(97 + l2), chr(97 + l1), chr(97 + letter))")
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(20)
  }
  // q190: identical rank-quartile letters (tie-broken rank), lag
  // words, deterministic top-20
  gate("q190_sax")(qSax(_, _))(
    """WITH e AS (
      |  SELECT user_id, event_id,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |l AS (
      |  SELECT user_id, event_id,
      |    least((row_number() OVER (PARTITION BY user_id ORDER BY cents, event_id)
      |           - 1) * 4 // (COUNT(*) OVER (PARTITION BY user_id)), 3) AS letter
      |  FROM e),
      |wrd AS (
      |  SELECT chr((97 + lag(letter, 2) OVER wo)::INTEGER) ||
      |         chr((97 + lag(letter, 1) OVER wo)::INTEGER) ||
      |         chr((97 + letter)::INTEGER) AS word,
      |         lag(letter, 2) OVER wo AS l2
      |  FROM l WINDOW wo AS (PARTITION BY user_id ORDER BY event_id)),
      |c AS (
      |  SELECT word, COUNT(*)::BIGINT AS cnt FROM wrd
      |  WHERE l2 IS NOT NULL GROUP BY 1)
      |SELECT word, cnt FROM c ORDER BY cnt DESC, word LIMIT 20""".stripMargin)

  /** Duration-capped sessionization
    * ([[graft.operators.TimeSeries.cappedSessions]], 30-min gap, 2-h
    * cap) — the recurrence member of the session family; per-row
    * session ids replayed by a recursive-CTE oracle carrying
    * (start, sid).
    */
  private def qCappedSessions(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("tu"))
    graft.operators.TimeSeries.cappedSessions(e, "user_id", "tu", "event_id",
      gapUs = 1800L * 1000000L, capUs = 7200L * 1000000L)
      .select(col("k").as("user_id"), col("tid").as("event_id"),
        col("session_id"))
      .orderBy("user_id", "event_id")
  }
  // q191: the capped-session recurrence replayed exactly — the
  // recursive CTE carries (start, sid); same (t, event_id) order
  gate("q191_capped_sessions")(qCappedSessions(_, _))(
    """WITH RECURSIVE seq AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY epoch_us(ts), event_id) AS n
      |  FROM events),
      |cs AS (
      |  SELECT user_id, event_id, n, t, t AS start, 1::BIGINT AS sid
      |  FROM seq WHERE n = 1
      |  UNION ALL
      |  SELECT q.user_id, q.event_id, q.n, q.t,
      |    CASE WHEN q.t - c.t > 1800000000 OR q.t - c.start > 7200000000
      |         THEN q.t ELSE c.start END,
      |    CASE WHEN q.t - c.t > 1800000000 OR q.t - c.start > 7200000000
      |         THEN c.sid + 1 ELSE c.sid END
      |  FROM cs c JOIN seq q ON q.user_id = c.user_id AND q.n = c.n + 1)
      |SELECT user_id, event_id, sid AS session_id FROM cs
      |ORDER BY user_id, event_id""".stripMargin)

  /** Strict-order window funnel (the ClickHouse `windowFunnel`
    * semantics): per user, the deepest view→click→purchase prefix
    * where each step strictly follows the previous and the whole
    * chain fits in 4 h of the view. Earliest-continuation rule
    * (min next-step time per anchor) makes the depth deterministic;
    * per-user key-equi joins with time-range filters + min-aggs — the
    * per-user-bounded shape, never a cross join. Rolled up to users
    * per max depth (0 = no view at all).
    */
  private def qWindowFunnel(s: SparkSession, dir: String): DataFrame = {
    val HOUR = 4L * 3600L * 1000000L
    val e = Tables.events(s, dir).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tu"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("tu").as("t1"))
    val c = v.join(e.filter(col("event_type") === "click")
        .select(col("user_id"), col("tu").as("tc")), Seq("user_id"))
      .filter(col("tc") > col("t1") && col("tc") <= col("t1") + HOUR)
      .groupBy(col("user_id"), col("t1")).agg(min(col("tc")).as("t2"))
    val p = c.join(e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tu").as("tp")), Seq("user_id"))
      .filter(col("tp") > col("t2") && col("tp") <= col("t1") + HOUR)
      .groupBy(col("user_id"), col("t1")).agg(min(col("tp")).as("t3"))
    val depths = v.select(col("user_id"), lit(1L).as("d"))
      .union(c.select(col("user_id"), lit(2L).as("d")))
      .union(p.select(col("user_id"), lit(3L).as("d")))
      .groupBy("user_id").agg(max(col("d")).as("depth"))
    e.select(col("user_id")).distinct()
      .join(depths, Seq("user_id"), "left")
      .select(coalesce(col("depth"), lit(0L)).as("depth"))
      .groupBy("depth").agg(count(lit(1)).as("n_users"))
      .orderBy("depth")
  }
  // q186: identical anchor/min-continuation joins; depth 0 counts
  // users with no view at all
  gate("q186_window_funnel")(qWindowFunnel(_, _))(
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS tu FROM events),
      |v AS (SELECT user_id, tu AS t1 FROM e WHERE event_type = 'view'),
      |c AS (
      |  SELECT v.user_id, v.t1, MIN(e.tu) AS t2
      |  FROM v JOIN e ON e.user_id = v.user_id AND e.event_type = 'click'
      |   AND e.tu > v.t1 AND e.tu <= v.t1 + 14400000000
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT c.user_id, c.t1, MIN(e.tu) AS t3
      |  FROM c JOIN e ON e.user_id = c.user_id AND e.event_type = 'purchase'
      |   AND e.tu > c.t2 AND e.tu <= c.t1 + 14400000000
      |  GROUP BY 1, 2),
      |d AS (
      |  SELECT user_id, MAX(d) AS depth FROM (
      |    SELECT user_id, 1 AS d FROM v
      |    UNION ALL SELECT user_id, 2 FROM c
      |    UNION ALL SELECT user_id, 3 FROM p)
      |  GROUP BY 1),
      |u AS (SELECT DISTINCT user_id FROM e)
      |SELECT COALESCE(d.depth, 0)::BIGINT AS depth, COUNT(*)::BIGINT AS n_users
      |FROM u LEFT JOIN d USING (user_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Session path mining — top-20 event-type trigrams inside 30-min
    * sessions (the classic navigation-pattern probe). Sessionize via
    * the gap rule (lag + running sum windows, both key-partitioned),
    * two more lags form each trigram in place, then one
    * partial-aggregated count with a deterministic (cnt desc, path)
    * tie-broken top-20.
    */
  private def qSessionPaths(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("tu"), col("event_type"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tu"), col("event_id"))
    val sess = e
      .withColumn("ns", when(lag(col("tu"), 1).over(w).isNull ||
        col("tu") - lag(col("tu"), 1).over(w) > 1800L * 1000000L, 1L)
        .otherwise(0L))
      .withColumn("sid",
        sum(col("ns")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val ws = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("tu"), col("event_id"))
    sess
      .withColumn("p1", lag(col("event_type"), 2).over(ws))
      .withColumn("p2", lag(col("event_type"), 1).over(ws))
      .filter(col("p1").isNotNull)
      .select(concat_ws(">", col("p1"), col("p2"), col("event_type")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("path")).limit(20)
  }
  // q182: identical session rule (q23/q72 family), identical lag
  // trigrams, deterministic (cnt desc, path) top-20
  gate("q182_session_paths")(qSessionPaths(_, _))(
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tu, event_type FROM events),
      |m AS (
      |  SELECT user_id, event_id, tu, event_type,
      |    CASE WHEN lag(tu) OVER w IS NULL OR tu - lag(tu) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS ns
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
      |s AS (
      |  SELECT user_id, event_id, tu, event_type,
      |    SUM(ns) OVER (PARTITION BY user_id ORDER BY tu, event_id
      |                  ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m),
      |t AS (
      |  SELECT lag(event_type, 2) OVER ws AS p1,
      |         lag(event_type, 1) OVER ws AS p2,
      |         event_type AS p3
      |  FROM s WINDOW ws AS (PARTITION BY user_id, sid ORDER BY tu, event_id)),
      |c AS (
      |  SELECT p1 || '>' || p2 || '>' || p3 AS path, COUNT(*)::BIGINT AS cnt
      |  FROM t WHERE p1 IS NOT NULL GROUP BY 1)
      |SELECT path, cnt FROM c ORDER BY cnt DESC, path LIMIT 20""".stripMargin)

  /** Holt level+trend smoothing per user
    * ([[graft.operators.TimeSeries.holtFixed]], α=1/4, β=1/10): the
    * double-recurrence member of the fixed-point family (q135 EWMA,
    * q167 CUSUM) — two mutually recursive integer states replayed by
    * a recursive-CTE oracle carrying (l, b).
    */
  private def qHolt(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    graft.operators.TimeSeries.holtFixed(e, "user_id", "event_id",
      "event_id", "cents", alphaNum = 1, alphaDen = 4,
      betaNum = 1, betaDen = 10)
      .select(col("k").as("user_id"), col("tid").as("event_id"),
        col("level"), col("trend"))
      .orderBy("user_id", "event_id")
  }
  // q183: the two-state integer recurrence replayed exactly — the
  // recursive CTE carries (l, b); `//` truncates toward zero like
  // JVM long division (q135's contract)
  gate("q183_holt")(qHolt(_, _))(
    """WITH RECURSIVE seq AS (
      |  SELECT user_id, event_id,
      |         CAST(round(value * 100) AS BIGINT) AS v,
      |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS n
      |  FROM events),
      |h AS (
      |  SELECT user_id, event_id, n, v AS l, 0::BIGINT AS b
      |  FROM seq WHERE n = 1
      |  UNION ALL
      |  SELECT q.user_id, q.event_id, q.n,
      |         h.l + h.b + (q.v - h.l - h.b) // 4,
      |         h.b + ((h.l + h.b + (q.v - h.l - h.b) // 4) - h.l - h.b) // 10
      |  FROM h JOIN seq q ON q.user_id = h.user_id AND q.n = h.n + 1)
      |SELECT user_id, event_id, l AS level, b AS trend FROM h
      |ORDER BY user_id, event_id""".stripMargin)

  /** Last-touch attribution — each purchase credits the user's most
    * recent preceding non-purchase event within a 1-hour lookback,
    * else the 'direct' channel. One key-partitioned window (a struct
    * `last` IGNORE NULLS carries timestamp + channel together so both
    * come from the SAME touch row), then a partial-aggregated rollup
    * of conversions and attributed revenue per channel.
    */
  private def qAttribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("tu"), col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tu"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("lt",
        last(when(col("event_type") =!= "purchase",
          struct(col("tu").as("tu"), col("event_type").as("ch"))),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(when(col("lt").isNotNull &&
          col("tu") - col("lt.tu") <= 3600L * 1000000L, col("lt.ch"))
          .otherwise(lit("direct")).as("channel"),
        col("cents"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_attr"), sum(col("cents")).as("revenue_cents"))
      .orderBy("channel")
  }
  // q172: identical strictly-preceding window; the two IGNORE-NULLS
  // last_values share one CASE condition so they pick the same touch
  // row (the struct-last on the Spark side makes that atomic)
  gate("q172_attribution")(qAttribution(_, _))(
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tu, event_type,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |a AS (
      |  SELECT user_id, tu, event_type, cents,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN tu END IGNORE NULLS)
      |      OVER w AS lt_tu,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
      |      OVER w AS lt_ch
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |p AS (
      |  SELECT CASE WHEN lt_tu IS NOT NULL AND tu - lt_tu <= 3600000000
      |              THEN lt_ch ELSE 'direct' END AS channel, cents
      |  FROM a WHERE event_type = 'purchase')
      |SELECT channel, COUNT(*)::BIGINT AS n_attr, SUM(cents)::BIGINT AS revenue_cents
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Fixed-point EWMA ([[graft.operators.TimeSeries.ewmaFixed]]),
    * α = 3/10, per-user over the event sequence (ordered by event_id —
    * unique, so both engines sort identically). A true recurrence no
    * window frame expresses; the integer fold with floored division is
    * exactly replayed by the oracle's recursive CTE.
    */
  private def qEwma(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      expr("CAST(floor(value * 100 + 0.5) AS BIGINT) * 100").as("v"))
    graft.operators.TimeSeries.ewmaFixed(e, "user_id", "event_id", "event_id",
      "v", alphaNum = 3, alphaDen = 10)
      .select(col("k").as("user_id"), col("tid").as("event_id"), col("ewma"))
      .orderBy("user_id", "event_id")
  }
  // q135: the identical integer recurrence replayed as a recursive
  // CTE (integer `//` truncates toward zero like JVM /; event_id
  // order is unique)
  gate("q135_ewma")(qEwma(_, _))(
    """WITH RECURSIVE seq AS (
      |  SELECT user_id, event_id,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) * 100 AS v,
      |         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS n
      |  FROM events),
      |ew AS (
      |  SELECT user_id, event_id, n, v AS s FROM seq WHERE n = 1
      |  UNION ALL
      |  SELECT q.user_id, q.event_id, q.n, e.s + (3 * (q.v - e.s)) // 10
      |  FROM ew e JOIN seq q ON q.user_id = e.user_id AND q.n = e.n + 1)
      |SELECT user_id, event_id, s AS ewma FROM ew
      |ORDER BY user_id, event_id""".stripMargin)

  /** Leakage-safe training-label generation (the churn/conversion
    * labeling op): for every user and every weekly cutoff c_k fully
    * inside the event span, label = did the user purchase within the
    * label window (c_k, c_k + 7d]. Each purchase maps to exactly ONE
    * window index by integer arithmetic (window length = cutoff
    * spacing), so labels come from a groupBy + left join against the
    * user × cutoff grid — no range join, no per-cutoff scan. The
    * span (lo, hi) is one broadcast row.
    */
  private def qLabelWindows(s: SparkSession, dir: String): DataFrame = {
    val W = 604800000000L // 7 days in micros
    val e = Tables.events(s, dir).select(col("user_id"),
      unix_micros(col("ts")).as("tu"), col("event_type"))
    val b = e.agg(min(col("tu")).as("lo"), max(col("tu")).as("hi"))
    val grid = e.select(col("user_id")).distinct()
      .crossJoin(broadcast(b))
      .select(col("user_id"), col("lo"),
        // empty-span guard: a span shorter than one window gives upper
        // bound -1, and sequence(0, -1) DEFAULTS to step -1 — two
        // bogus descending cutoffs [0, -1] instead of zero windows
        explode(expr(
          s"""CASE WHEN (hi - lo) DIV $W >= 1
             |  THEN sequence(0, CAST((hi - lo) DIV $W AS INT) - 1)
             |  ELSE CAST(array() AS ARRAY<INT>) END""".stripMargin))
          .as("k"))
      .select(col("user_id"), col("k").cast("long").as("k"),
        (col("lo") + col("k").cast("long") * W).as("cutoff_us"))
    // (tu - lo + W - 1) is nonnegative, so DIV (trunc) == floor on
    // both engines; tu == lo lands at k = -1, correctly outside the
    // half-open first window
    val pur = e.filter(col("event_type") === "purchase")
      .crossJoin(broadcast(b))
      .select(col("user_id"),
        (expr(s"(tu - lo + ${W - 1}) DIV $W") - 1L).as("k"))
      .groupBy("user_id", "k").agg(count(lit(1)).as("np"))
    grid.join(pur, Seq("user_id", "k"), "left")
      .select(col("user_id"), col("k"), col("cutoff_us"),
        coalesce(col("np"), lit(0L)).as("n_purchases"),
        (coalesce(col("np"), lit(0L)) > 0L).as("label"))
      .orderBy("user_id", "k")
  }
  // q215: identical span broadcast + one-window-per-purchase integer
  // mapping; (tu - lo + W - 1) is nonnegative so // == DIV
  gate("q215_label_windows")(qLabelWindows(_, _))(
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tu, event_type FROM events),
      |b AS (SELECT MIN(tu) AS lo, MAX(tu) AS hi FROM e),
      |grid AS (
      |  SELECT u.user_id, CAST(k AS BIGINT) AS k,
      |         lo + k * 604800000000 AS cutoff_us
      |  FROM (SELECT DISTINCT user_id FROM e) u, b,
      |       generate_series(0, 9999) t(k)
      |  WHERE k <= (hi - lo) // 604800000000 - 1),
      |pur AS (
      |  SELECT user_id,
      |         (tu - lo + 604800000000 - 1) // 604800000000 - 1 AS k,
      |         COUNT(*)::BIGINT AS np
      |  FROM e, b WHERE event_type = 'purchase'
      |  GROUP BY 1, 2)
      |SELECT g.user_id, g.k, g.cutoff_us,
      |       COALESCE(np, 0)::BIGINT AS n_purchases,
      |       COALESCE(np, 0) > 0 AS label
      |FROM grid g LEFT JOIN pur p ON p.user_id = g.user_id AND p.k = g.k
      |ORDER BY 1, 2""".stripMargin)

  /** Daily actives with cumulative reach (DAU / cumulative users —
    * the engagement rollup): per day, active users, NEW users (first
    * day ever), and the running total of users acquired. Cumulative
    * distinct is the q224 prefix-distinct trick — a first-seen flag
    * plus a running sum over the ≤ |days| rollup rows, never a
    * distinct over an expanding window.
    */
  private def qDailyActives(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val firstDay = e.groupBy("user_id").agg(min(col("day")).as("fday"))
    val daily = e.groupBy("day").agg(countDistinct(col("user_id")).as("dau"))
    val news = firstDay.groupBy(col("fday").as("day"))
      .agg(count(lit(1)).as("new_users"))
    daily.join(news, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("cum_users", sum(col("new_users"))
        .over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("new_users"), col("cum_users"))
      .orderBy("day")
  }
  // q227: DAU + first-seen new users + running acquisition total
  gate("q227_daily_actives")(qDailyActives(_, _))(
    """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |daily AS (SELECT day, COUNT(DISTINCT user_id)::BIGINT AS dau
      |          FROM e GROUP BY 1),
      |fd AS (SELECT user_id, MIN(day) AS fday FROM e GROUP BY 1),
      |news AS (SELECT fday AS day, COUNT(*)::BIGINT AS new_users
      |         FROM fd GROUP BY 1)
      |SELECT strftime(d.day, '%Y-%m-%d') AS day, dau,
      |       COALESCE(new_users, 0)::BIGINT AS new_users,
      |       SUM(COALESCE(new_users, 0))
      |         OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING)::BIGINT
      |         AS cum_users
      |FROM daily d LEFT JOIN news n ON n.day = d.day
      |ORDER BY day""".stripMargin)

  /** Seasonal-residual anomaly screen (q162's seasonality × q124's
    * MAD, composed): each event's cents deviate from its (hour-of-day,
    * type) bucket's integer mean; flags where |residual| exceeds 3×
    * the bucket's exact MAD. Bucket stats are two broadcast-sized
    * aggregates; the flag pass is map-only. All integer cents.
    */
  private def qSeasonalAnomaly(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_id"), col("event_type"),
      hour(col("ts")).cast("long").as("hh"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val mean = e.groupBy("hh", "event_type")
      .agg(expr("CAST(sum(cents) DIV count(1) AS BIGINT)").as("mu"))
    val resid = e.join(broadcast(mean), Seq("hh", "event_type"))
      .withColumn("r", col("cents") - col("mu"))
    // exact MAD: the low-median of |r| per bucket (value at rank
    // ⌈n/2⌉ — deterministic under ties, like q221's order statistics)
    val mad = resid.withColumn("ar", abs(col("r")))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("hh"), col("event_type")).orderBy(col("ar"))))
      .withColumn("n", count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("hh"), col("event_type"))))
      .groupBy("hh", "event_type")
      .agg(max(when(col("rn") === expr("(n + 1) DIV 2"), col("ar"))).as("mad"))
    resid.join(broadcast(mad), Seq("hh", "event_type"))
      .filter(abs(col("r")) > col("mad") * 3L)
      .groupBy("hh", "event_type")
      .agg(count(lit(1)).as("n_anomalies"), max(abs(col("r"))).as("max_abs_resid"),
        max(col("mad")).as("mad"))
      .orderBy("hh", "event_type")
  }
  // q237: integer bucket means, low-median MAD at rank ⌈n/2⌉, 3×
  // flag — identical arithmetic
  gate("q237_seasonal_anomaly")(qSeasonalAnomaly(_, _))(
    """WITH e AS (
      |  SELECT event_id, event_type, CAST(hour(ts) AS BIGINT) AS hh,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |mu AS (
      |  SELECT hh, event_type, SUM(cents) // COUNT(*) AS mu
      |  FROM e GROUP BY 1, 2),
      |resid AS (
      |  SELECT e.event_id, e.hh, e.event_type, cents - mu AS r
      |  FROM e JOIN mu USING (hh, event_type)),
      |rk AS (
      |  SELECT hh, event_type, ABS(r) AS ar,
      |    ROW_NUMBER() OVER (PARTITION BY hh, event_type ORDER BY ABS(r)) AS rn,
      |    COUNT(*) OVER (PARTITION BY hh, event_type) AS n
      |  FROM resid),
      |mad AS (
      |  SELECT hh, event_type,
      |         MAX(CASE WHEN rn = (n + 1) // 2 THEN ar END) AS mad
      |  FROM rk GROUP BY 1, 2)
      |SELECT r.hh, r.event_type, COUNT(*)::BIGINT AS n_anomalies,
      |       MAX(ABS(r))::BIGINT AS max_abs_resid, MAX(mad)::BIGINT AS mad
      |FROM resid r JOIN mad USING (hh, event_type)
      |WHERE ABS(r) > mad * 3
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Positional (U-shaped) multi-touch attribution — q172's last-touch
    * companion: each purchase's 1-hour touch window splits 1000
    * milli-credits 40/20/40 (first / middles / last), the middle
    * share floor-divided with its remainder pinned to the EARLIEST
    * middle so every purchase distributes exactly 1000. Touches come
    * from one user-keyed join bounded by the window — no cross join.
    */
  private def qPositionalAttribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("tu"), col("event_type"))
    val pur = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("tu").as("p_tu"))
    val touches = pur.join(
        e.filter(col("event_type") =!= "purchase")
          .withColumnRenamed("tu", "t_tu").withColumnRenamed("event_id", "t_id"),
        Seq("user_id"))
      .filter(col("t_tu") < col("p_tu") &&
        col("p_tu") - col("t_tu") <= 3600L * 1000000L)
    val w = Window.partitionBy(col("p_id")).orderBy(col("t_tu"), col("t_id"))
    val ranked = touches
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("k", count(lit(1)).over(Window.partitionBy(col("p_id"))))
    ranked.withColumn("credit_milli", expr(
        """CASE WHEN k = 1 THEN 1000
          |     WHEN k = 2 THEN 500
          |     WHEN r = 1 THEN 400
          |     WHEN r = k THEN 400
          |     WHEN r = 2 THEN 200 DIV (k - 2) + 200 % (k - 2)
          |     ELSE 200 DIV (k - 2) END""".stripMargin))
      .groupBy(col("event_type").as("channel"))
      .agg(sum(col("credit_milli")).as("credit_milli"),
        countDistinct(col("p_id")).as("n_purchases_touched"))
      .orderBy("channel")
  }
  // q252: identical U-shaped milli-credit split, remainder pinned to
  // the earliest middle
  gate("q252_positional_attribution")(qPositionalAttribution(_, _))(
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tu, event_type FROM events),
      |pur AS (
      |  SELECT user_id, event_id AS p_id, tu AS p_tu
      |  FROM e WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT p.p_id, e.event_type, e.tu AS t_tu, e.event_id AS t_id
      |  FROM pur p JOIN e
      |    ON e.user_id = p.user_id AND e.event_type <> 'purchase'
      |   AND e.tu < p.p_tu AND p.p_tu - e.tu <= 3600000000),
      |r AS (
      |  SELECT p_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY t_tu, t_id) AS r,
      |    COUNT(*) OVER (PARTITION BY p_id) AS k
      |  FROM t)
      |SELECT event_type AS channel,
      |  SUM(CASE WHEN k = 1 THEN 1000
      |           WHEN k = 2 THEN 500
      |           WHEN r = 1 THEN 400
      |           WHEN r = k THEN 400
      |           WHEN r = 2 THEN 200 // (k - 2) + 200 % (k - 2)
      |           ELSE 200 // (k - 2) END)::BIGINT AS credit_milli,
      |  COUNT(DISTINCT p_id)::BIGINT AS n_purchases_touched
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Sliding (hopping) windows — q79's tumbling counterpart: 1-hour
    * windows every 15 minutes, so each event lands in exactly 4
    * windows. Spark's `window(ts, len, slide)` generates the
    * membership inline (no self-join against a window table); the
    * oracle rebuilds it with a 4-step series. Same code shape runs
    * under `readStream`.
    */
  private def qSlidingWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("sum_cents"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
        col("event_type"), col("cnt"), col("sum_cents"))
      .orderBy("ws", "event_type")
  // q255: each event's 4 hop-window starts by integer slot
  // arithmetic (epoch-aligned, like Spark's window())
  gate("q255_sliding_window")(qSlidingWindow(_, _))(
    """WITH e AS (
      |  SELECT epoch_us(ts) // 900000000 AS slot, event_type,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |w AS (
      |  SELECT (slot - g.g) * 900000000 AS ws_us, event_type, cents
      |  FROM e, generate_series(0, 3) g(g))
      |SELECT strftime(make_timestamp(ws_us), '%Y-%m-%d %H:%M:%S') AS ws,
      |       event_type, COUNT(*)::BIGINT AS cnt,
      |       SUM(cents)::BIGINT AS sum_cents
      |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Frequency-capped reach curve (the ad/engagement dedup question
    * "how many users saw ≥ k"): per type, reach at caps 1..5 from one
    * (user, type) count table — cumulative thresholds, no distinct
    * per cap.
    */
  private def qReachFrequency(s: SparkSession, dir: String): DataFrame = {
    val uc = Tables.events(s, dir).groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c"))
    uc.groupBy("event_type")
      .agg(sum(when(col("c") >= 1L, 1L).otherwise(0L)).as("reach_1"),
        sum(when(col("c") >= 5L, 1L).otherwise(0L)).as("reach_5"),
        sum(when(col("c") >= 10L, 1L).otherwise(0L)).as("reach_10"),
        sum(when(col("c") >= 20L, 1L).otherwise(0L)).as("reach_20"),
        max(col("c")).as("max_freq"))
      .orderBy("event_type")
  }
  // q261: reach thresholds off one (user, type) count table
  gate("q261_reach_frequency")(qReachFrequency(_, _))(
    """WITH uc AS (
      |  SELECT user_id, event_type, COUNT(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type,
      |       SUM(CASE WHEN c >= 1 THEN 1 ELSE 0 END)::BIGINT AS reach_1,
      |       SUM(CASE WHEN c >= 5 THEN 1 ELSE 0 END)::BIGINT AS reach_5,
      |       SUM(CASE WHEN c >= 10 THEN 1 ELSE 0 END)::BIGINT AS reach_10,
      |       SUM(CASE WHEN c >= 20 THEN 1 ELSE 0 END)::BIGINT AS reach_20,
      |       MAX(c)::BIGINT AS max_freq
      |FROM uc GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Calendar arithmetic surface (`add_months` / `last_day` /
    * quarter truncation): orders rolled to fiscal quarters with
    * month-end payment-due dates — the date algebra every reporting
    * pipeline leans on, exact by construction.
    */
  private def qCalendarOps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        to_date(col("o_orderdate")).as("d"))
      .withColumn("quarter", date_trunc("quarter", col("d")).cast("date"))
      .withColumn("due", last_day(add_months(col("d"), 2)))
      .groupBy(date_format(col("quarter"), "yyyy-MM-dd").as("quarter"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        countDistinct(date_format(col("due"), "yyyy-MM-dd")).as("n_due_dates"),
        max(date_format(col("due"), "yyyy-MM-dd")).as("max_due"))
      .orderBy("quarter")
  // q276: both engines clamp month arithmetic the same way, and
  // last_day depends only on the resulting MONTH
  gate("q276_calendar_ops")(qCalendarOps(_, _))(
    """WITH o AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |         CAST(o_orderdate AS DATE) AS d
      |  FROM orders),
      |x AS (
      |  SELECT cents, date_trunc('quarter', d) AS q,
      |         last_day(d + INTERVAL 2 MONTH) AS due
      |  FROM o)
      |SELECT strftime(q, '%Y-%m-%d') AS quarter, COUNT(*)::BIGINT AS n,
      |       SUM(cents)::BIGINT AS sum_cents,
      |       COUNT(DISTINCT strftime(due, '%Y-%m-%d'))::BIGINT AS n_due_dates,
      |       MAX(strftime(due, '%Y-%m-%d')) AS max_due
      |FROM x GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Point-in-time dimension join (the warehouse PIT shape): each
    * lineitem reads the customer's order PRIORITY as it stood at ship
    * time — the as-of backward join ([[graft.operators.AsOfJoin]])
    * against the per-customer priority history, with same-day history
    * deduped to one row (max orderkey wins) so the lookup is
    * single-valued on both engines. Leakage-safe by construction: a
    * future order can never label a past shipment.
    */
  private def qPitPriorityJoin(s: SparkSession, dir: String): DataFrame = {
    val hist = t(s, dir, "orders")
      .groupBy(col("o_custkey").as("ck"), col("o_orderdate").as("odate"))
      .agg(max_by(col("o_orderpriority"), col("o_orderkey")).as("prio"))
    val items = t(s, dir, "lineitem")
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("o_custkey").as("ck"), col("l_shipdate"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)").as("qc"))
    graft.operators.AsOfJoin.asof(items, hist,
        "l_shipdate", "odate", Seq("ck"), Seq("prio"), "backward")
      .groupBy(coalesce(col("prio"), lit("NO_HISTORY")).as("priority_at_ship"))
      .agg(count(lit(1)).as("n_items"), sum(col("qc")).as("sum_qty_c"))
      .orderBy("priority_at_ship")
  }
  // q280: DuckDB's native ASOF join over the same deduped history
  gate("q280_pit_priority_join")(qPitPriorityJoin(_, _))(
    """WITH hist AS (
      |  SELECT o_custkey AS ck, o_orderdate AS odate,
      |         arg_max(o_orderpriority, o_orderkey) AS prio
      |  FROM orders GROUP BY 1, 2),
      |items AS (
      |  SELECT l.l_orderkey, l.l_linenumber, o.o_custkey AS ck, l.l_shipdate,
      |         CAST(round(l.l_quantity * 100) AS BIGINT) AS qc
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |pit AS (
      |  SELECT i.qc, h.prio
      |  FROM items i ASOF LEFT JOIN hist h
      |    ON i.ck = h.ck AND i.l_shipdate >= h.odate)
      |SELECT COALESCE(prio, 'NO_HISTORY') AS priority_at_ship,
      |       COUNT(*)::BIGINT AS n_items, SUM(qc)::BIGINT AS sum_qty_c
      |FROM pit GROUP BY 1 ORDER BY 1""".stripMargin)

  /** LOCF / forward-fill imputation (q150's interpolation sibling):
    * every 7th reading is knocked out, then filled with the LAST
    * OBSERVED value under the per-user event_id order — one
    * `last(ignoreNulls)` frame window, the canonical gap-carry.
    * Leading gaps stay NULL and are counted, not invented.
    */
  private def qLocfImpute(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      expr("CASE WHEN event_id % 7 = 0 THEN NULL " +
        "ELSE CAST(round(value * 100) AS BIGINT) END").as("cents"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    e.withColumn("filled", last(col("cents"), ignoreNulls = true).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("cents").isNull, 1L).otherwise(0L)).as("n_missing"),
        sum(when(col("filled").isNull, 1L).otherwise(0L)).as("n_unfilled"),
        sum(col("filled")).as("sum_filled"))
      .orderBy("user_id")
  }
  // q281: forward-fill as an ASOF self-join on the unique event_id
  // axis (no IGNORE NULLS dependence in the oracle dialect)
  gate("q281_locf_impute")(qLocfImpute(_, _))(
    """WITH e AS (
      |  SELECT user_id, event_id,
      |         CASE WHEN event_id % 7 = 0 THEN NULL
      |              ELSE CAST(round(value * 100) AS BIGINT) END AS cents
      |  FROM events),
      |nn AS (SELECT user_id, event_id, cents FROM e WHERE cents IS NOT NULL),
      |f AS (
      |  SELECT e.user_id, e.cents, nn.cents AS filled
      |  FROM e ASOF LEFT JOIN nn
      |    ON e.user_id = nn.user_id AND e.event_id >= nn.event_id)
      |SELECT user_id, COUNT(*)::BIGINT AS n_rows,
      |       SUM(CASE WHEN cents IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_missing,
      |       SUM(CASE WHEN filled IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_unfilled,
      |       SUM(filled)::BIGINT AS sum_filled
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Signup-cohort LTV curves (growth analytics beyond q119's
    * retention grid): users cohort by first-seen day, and each
    * subsequent activity day contributes to the cohort's cumulative
    * revenue-per-age curve. Ages are exact day arithmetic; the
    * cumulative is a window over the ≤ |cohorts|×|ages| rollup, never
    * the event table.
    */
  private def qCohortLtv(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("user_id"),
      to_date(col("ts")).as("day"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val cohort = e.groupBy("user_id").agg(min(col("day")).as("cday"))
    val daily = e.join(cohort, "user_id")
      .withColumn("age_days", datediff(col("day"), col("cday")).cast("long"))
      .groupBy(col("cday"), col("age_days"))
      .agg(sum(col("cents")).as("day_cents"),
        countDistinct(col("user_id")).as("active_users"))
    val w = Window.partitionBy(col("cday")).orderBy(col("age_days"))
      .rowsBetween(Window.unboundedPreceding, 0)
    daily
      .withColumn("cum_cents", sum(col("day_cents")).over(w))
      .select(date_format(col("cday"), "yyyy-MM-dd").as("cohort_day"),
        col("age_days"), col("active_users"), col("day_cents"), col("cum_cents"))
      .orderBy("cohort_day", "age_days")
  }
  // q283: identical day arithmetic and per-cohort cumulative
  gate("q283_cohort_ltv")(qCohortLtv(_, _))(
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |c AS (SELECT user_id, MIN(day) AS cday FROM e GROUP BY 1),
      |d AS (
      |  SELECT cday, (day - cday)::BIGINT AS age_days,
      |         SUM(cents)::BIGINT AS day_cents,
      |         COUNT(DISTINCT e.user_id)::BIGINT AS active_users
      |  FROM e JOIN c ON c.user_id = e.user_id
      |  GROUP BY 1, 2)
      |SELECT strftime(cday, '%Y-%m-%d') AS cohort_day, age_days,
      |       active_users, day_cents,
      |       SUM(day_cents) OVER (PARTITION BY cday ORDER BY age_days
      |         ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_cents
      |FROM d ORDER BY cohort_day, age_days""".stripMargin)

  /** Distinct users per hopping window — q255's sliding frame carrying
    * a DISTINCT aggregate (the dedup-inside-window shape that breaks
    * naive incrementalization): each event expands to its 4 windows,
    * one countDistinct per (window, type). State is window-bounded.
    */
  private def qSlidingDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
        col("event_type"), col("n_users"))
      .orderBy("ws", "event_type")
  // q302: the 4-window expansion carrying COUNT(DISTINCT)
  gate("q302_sliding_distinct")(qSlidingDistinct(_, _))(
    """WITH e AS (
      |  SELECT epoch_us(ts) // 900000000 AS slot, event_type, user_id
      |  FROM events),
      |w AS (
      |  SELECT (slot - g.g) * 900000000 AS ws_us, event_type, user_id
      |  FROM e, generate_series(0, 3) g(g))
      |SELECT strftime(make_timestamp(ws_us), '%Y-%m-%d %H:%M:%S') AS ws,
      |       event_type, COUNT(DISTINCT user_id)::BIGINT AS n_users
      |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Burstiness (Fano factor) of per-user daily activity: the
    * variance-to-mean ratio of daily event counts — regular robots sit
    * near 0, bursty humans well above 1. Zero-days enter through the
    * corpus-wide day count; everything is the exact integer moment
    * identity (N·Σx² − (Σx)²) / (Σx·(N−1)).
    */
  private def qBurstiness(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"), to_date(col("ts")).as("day"))
    val nDays = e.agg(countDistinct(col("day")).as("nd"))
    val daily = e.groupBy("user_id", "day").agg(count(lit(1)).as("x"))
    daily.groupBy("user_id")
      .agg(sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
        count(lit(1)).as("active_days"))
      .crossJoin(broadcast(nDays))
      .select(col("user_id"), col("active_days"), col("sx").as("n_events"),
        // nd > 1 guard: a single-day corpus would divide by zero under
        // ANSI mode (the q306 convention)
        expr("""CASE WHEN nd > 1
               |  THEN CAST((nd * sxx - sx * sx) * 1000000 DIV (sx * (nd - 1)) AS BIGINT)
               |  ELSE NULL END""".stripMargin)
          .as("fano_micro"))
      .orderBy("user_id")
  }
  // q307: the exact integer moment identity; zero-days via the
  // corpus-wide day count
  gate("q307_burstiness")(qBurstiness(_, _))(
    """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |nd AS (SELECT COUNT(DISTINCT day)::BIGINT AS nd FROM e),
      |d AS (SELECT user_id, day, COUNT(*)::BIGINT AS x
      |      FROM e GROUP BY 1, 2)
      |SELECT user_id, COUNT(*)::BIGINT AS active_days,
      |       SUM(x)::BIGINT AS n_events,
      |       (CASE WHEN nd > 1 THEN (nd * SUM(x * x) - SUM(x) * SUM(x)) * 1000000
      |        // (SUM(x) * (nd - 1)) ELSE NULL END)::BIGINT AS fano_micro
      |FROM d, nd GROUP BY user_id, nd ORDER BY user_id""".stripMargin)

  /** Week-over-week change report (the BI staple): weekly cents per
    * type, the previous week via one key-partitioned lag, delta in
    * exact cents and micro percent (floor-divided — sign-safe because
    * both engines floor negative quotients identically here via the
    * sign-split). First weeks report NULL, not zero.
    */
  private def qWowChange(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = 604800000000L
    val e = Tables.events(s, dir).select(col("event_type"),
      unix_micros(col("ts")).as("tu"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val b = e.agg(min(col("tu")).as("lo"))
    val weekly = e.crossJoin(broadcast(b))
      .withColumn("week", expr(s"(tu - lo) DIV $W"))
      .groupBy("event_type", "week").agg(sum(col("cents")).as("cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
    weekly.withColumn("prev", lag(col("cents"), 1).over(w))
      .withColumn("delta_c", col("cents") - col("prev"))
      .withColumn("pct_micro", expr(
        """CASE WHEN prev IS NULL THEN NULL
          |     WHEN cents >= prev THEN (cents - prev) * 1000000 DIV prev
          |     ELSE -((prev - cents) * 1000000 DIV prev) END""".stripMargin))
      .orderBy("event_type", "week")
  }
  // q308: identical weekly buckets, lag, sign-split floor pct
  gate("q308_wow_change")(qWowChange(_, _))(
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) AS tu,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |b AS (SELECT MIN(tu) AS lo FROM e),
      |wk AS (
      |  SELECT event_type, (tu - lo) // 604800000000 AS week,
      |         SUM(cents)::BIGINT AS cents
      |  FROM e, b GROUP BY 1, 2),
      |l AS (
      |  SELECT event_type, week, cents,
      |         lag(cents) OVER (PARTITION BY event_type ORDER BY week) AS prev
      |  FROM wk)
      |SELECT event_type, week, cents, prev,
      |       (cents - prev)::BIGINT AS delta_c,
      |       (CASE WHEN prev IS NULL THEN NULL
      |             WHEN cents >= prev THEN (cents - prev) * 1000000 // prev
      |             ELSE -((prev - cents) * 1000000 // prev) END)::BIGINT
      |         AS pct_micro
      |FROM l ORDER BY event_type, week""".stripMargin)

  /** Feature-staleness guard (the feature-store serving rule): each
    * purchase reads the user's latest prior `view` via the as-of
    * backward join, but a match older than 30 minutes is STALE and
    * must serve as NULL — bounded staleness, not just "latest".
    * Reports fresh / stale / no-history mass per user band.
    */
  private def qStalenessGuard(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_id"),
      col("ts"), unix_micros(col("ts")).as("tu"), col("event_type"))
    val pur = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("tu").as("p_tu"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("v_ts"), col("tu").as("v_tu"))
    graft.operators.AsOfJoin.asof(pur, views,
        "ts", "v_ts", Seq("user_id"), Seq("v_tu"), "backward")
      .withColumn("status", expr(
        """CASE WHEN v_tu IS NULL THEN 'no_history'
          |     WHEN p_tu - v_tu <= 1800000000 THEN 'fresh'
          |     ELSE 'stale' END""".stripMargin))
      .groupBy(expr("CAST(user_id % 10 AS BIGINT)").as("band"), col("status"))
      .agg(count(lit(1)).as("n"))
      .orderBy("band", "status")
  }
  // q309: DuckDB ASOF with the staleness CASE on top
  gate("q309_staleness_guard")(qStalenessGuard(_, _))(
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tu, event_type, ts
      |  FROM events),
      |pur AS (SELECT user_id, event_id, ts, tu AS p_tu
      |        FROM e WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, ts AS v_ts, tu AS v_tu
      |      FROM e WHERE event_type = 'view'),
      |j AS (
      |  SELECT p.user_id, p.p_tu, v.v_tu
      |  FROM pur p ASOF LEFT JOIN v
      |    ON p.user_id = v.user_id AND p.ts >= v.v_ts)
      |SELECT CAST(user_id % 10 AS BIGINT) AS band,
      |       CASE WHEN v_tu IS NULL THEN 'no_history'
      |            WHEN p_tu - v_tu <= 1800000000 THEN 'fresh'
      |            ELSE 'stale' END AS status,
      |       COUNT(*)::BIGINT AS n
      |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Order-to-ship latency SLA report: exact P50/P95 latency days per
    * order priority (q221's ceil-rank order statistics — no
    * interpolated percentile, no cross-engine float), plus the
    * SLA-breach mass above 60 days. One key-partitioned sort window.
    */
  private def qShipLatencySla(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("prio"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .cast("long").as("lat_days"))
    val w = Window.partitionBy(col("prio")).orderBy(col("lat_days"))
    li.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("prio"))))
      .groupBy("prio")
      .agg(max(col("n")).as("n"),
        max(when(col("rn") === expr("(n * 50 + 99) DIV 100"), col("lat_days"))).as("p50_days"),
        max(when(col("rn") === expr("(n * 95 + 99) DIV 100"), col("lat_days"))).as("p95_days"),
        sum(when(col("lat_days") > 60L, 1L).otherwise(0L)).as("n_breach_60d"))
      .orderBy("prio")
  }
  // q314: ceil-rank order statistics on integer latency days
  gate("q314_ship_latency_sla")(qShipLatencySla(_, _))(
    """WITH li AS (
      |  SELECT o_orderpriority AS prio,
      |         (CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE))::BIGINT
      |           AS lat_days
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |r AS (
      |  SELECT prio, lat_days,
      |         ROW_NUMBER() OVER (PARTITION BY prio ORDER BY lat_days) AS rn,
      |         COUNT(*) OVER (PARTITION BY prio) AS n
      |  FROM li)
      |SELECT prio, MAX(n)::BIGINT AS n,
      |       MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN lat_days END)::BIGINT
      |         AS p50_days,
      |       MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN lat_days END)::BIGINT
      |         AS p95_days,
      |       SUM(CASE WHEN lat_days > 60 THEN 1 ELSE 0 END)::BIGINT
      |         AS n_breach_60d
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)

  /** DAU/MAU stickiness (the engagement-quality ratio): per day,
    * distinct actives over the calendar month's distinct actives, in
    * exact micros. Two distinct-rollups joined on month — never a
    * distinct over a sliding frame.
    */
  private def qStickiness(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"),
      to_date(col("ts")).as("day"),
      date_format(col("ts"), "yyyy-MM").as("month"))
    val dau = e.groupBy("day", "month").agg(countDistinct(col("user_id")).as("dau"))
    val mau = e.groupBy("month").agg(countDistinct(col("user_id")).as("mau"))
    dau.join(broadcast(mau), "month")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("dau"),
        col("mau"), expr("CAST(dau * 1000000 DIV mau AS BIGINT)").as("stickiness_micro"))
      .orderBy("day")
  }
  // q315: two distinct rollups joined on the calendar month
  gate("q315_stickiness")(qStickiness(_, _))(
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |         strftime(ts, '%Y-%m') AS month
      |  FROM events),
      |dau AS (SELECT day, month, COUNT(DISTINCT user_id)::BIGINT AS dau
      |        FROM e GROUP BY 1, 2),
      |mau AS (SELECT month, COUNT(DISTINCT user_id)::BIGINT AS mau
      |        FROM e GROUP BY 1)
      |SELECT strftime(day, '%Y-%m-%d') AS day, dau, mau,
      |       (dau * 1000000 // mau)::BIGINT AS stickiness_micro
      |FROM dau JOIN mau USING (month) ORDER BY day""".stripMargin)

  /** Centered 7-day moving-average detrend of daily view counts in
    * exact integers: residual×7 = 7·x − Σ window (only full windows) —
    * the additive-decomposition step without a single division or
    * float. Feeds anomaly screens that must not inherit float noise.
    */
  private def qMaDetrend(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.events(s, dir)
      .filter(col("event_type") === "view")
      .groupBy(datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
        .cast("long").as("day_num"))
      .agg(count(lit(1)).as("x"))
    val w = Window.orderBy(col("day_num")).rangeBetween(-3L, 3L)
    d.withColumn("n_win", count(lit(1)).over(w))
      .withColumn("sum7", sum(col("x")).over(w))
      .filter(col("n_win") === 7L)
      .select(col("day_num"), col("x"), col("sum7"),
        (col("x") * 7L - col("sum7")).as("residual_x7"))
      .orderBy("day_num")
  }
  // q335: full centered windows only; residual carried ×7 — zero
  // division anywhere
  gate("q335_ma_detrend")(qMaDetrend(_, _))(
    """WITH d AS (
      |  SELECT (CAST(ts AS DATE) - DATE '1970-01-01')::BIGINT AS day_num,
      |         COUNT(*)::BIGINT AS x
      |  FROM events WHERE event_type = 'view' GROUP BY 1),
      |m AS (
      |  SELECT day_num, x,
      |    COUNT(*) OVER w AS n_win, SUM(x) OVER w AS sum7
      |  FROM d
      |  WINDOW w AS (ORDER BY day_num RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING))
      |SELECT day_num, x, sum7::BIGINT AS sum7,
      |       (x * 7 - sum7)::BIGINT AS residual_x7
      |FROM m WHERE n_win = 7 ORDER BY day_num""".stripMargin)

  /** Weekday seasonality index: avg daily events per weekday over the
    * overall daily avg, as one exact integer rational
    * idx = sum_wd·n_days/(n_wd·sum_all) in micros (q147's
    * DuckDB-vs-Spark `dayofweek` off-by-one handled the same way).
    */
  private def qWeekdayIndex(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("wd", expr("CAST(dayofweek(day) - 1 AS BIGINT)"))
    val tot = d.agg(count(lit(1)).as("n_days"), sum(col("x")).as("sum_all"))
    d.groupBy("wd")
      .agg(count(lit(1)).as("n_wd"), sum(col("x")).as("sum_wd"))
      .crossJoin(broadcast(tot))
      .select(col("wd"), col("n_wd"), col("sum_wd"),
        expr("""CAST((CAST(sum_wd AS DECIMAL(38,0)) * n_days * 1000000)
                DIV (CAST(n_wd AS DECIMAL(38,0)) * sum_all) AS BIGINT)""")
          .as("index_micro"))
      .orderBy("wd")
  }
  // q336: one exact rational per weekday (DuckDB dayofweek is
  // already 0-based where Spark's is 1-based — the q147 shift)
  gate("q336_weekday_index")(qWeekdayIndex(_, _))(
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day, COUNT(*)::BIGINT AS x
      |  FROM events GROUP BY 1),
      |w AS (SELECT dayofweek(day)::BIGINT AS wd, x FROM d),
      |tot AS (SELECT COUNT(*)::BIGINT AS n_days, SUM(x)::BIGINT AS sum_all FROM w)
      |SELECT wd, COUNT(*)::BIGINT AS n_wd, SUM(x)::BIGINT AS sum_wd,
      |       ((SUM(x)::HUGEINT * n_days * 1000000) //
      |        (COUNT(*)::HUGEINT * sum_all))::BIGINT AS index_micro
      |FROM w, tot GROUP BY wd, n_days, sum_all ORDER BY wd""".stripMargin)

  /** Peak concurrency of the value-scaled exposure intervals
    * [ts, ts + round(value·3600) s) per event type — the classic
    * sweep-line: +1/−1 deltas collapsed per timestamp, cumulative net
    * over the time-ordered per-type partition, peak = max level and
    * the first microsecond it is reached. The capacity-planning
    * metric (max simultaneous sessions) the coverage gates don't
    * emit. One shuffle on event_type; no self-join.
    */
  private def qPeakConcurrency(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val iv = Tables.events(s, dir).select(col("event_type"),
      unix_micros(col("ts")).as("st"),
      expr("unix_micros(ts) + CAST(round(value * 3600) AS BIGINT) * 1000000")
        .as("en"))
    val pts = iv.select(col("event_type"), col("st").as("t"), lit(1L).as("dp"))
      .unionAll(iv.select(col("event_type"), col("en").as("t"),
        lit(-1L).as("dp")))
    val g = pts.groupBy("event_type", "t").agg(sum(col("dp")).as("net"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("t"))
    val conc = g.withColumn("level",
      sum(col("net")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    conc.groupBy("event_type").agg(max(col("level")).as("peak"))
      .join(conc, Seq("event_type"))
      .filter(col("level") === col("peak"))
      .groupBy("event_type")
      .agg(max(col("peak")).as("peak"), min(col("t")).as("first_peak_us"))
      .orderBy("event_type")
  }
  // q354: sweep-line peak concurrency — deltas collapsed per
  // timestamp, cumulative net, first time the peak level is reached
  gate("q354_peak_concurrency")(qPeakConcurrency(_, _))(
    """WITH iv AS (
      |  SELECT event_type, epoch_us(ts) AS st,
      |         epoch_us(ts) + CAST(round(value * 3600) AS BIGINT) * 1000000 AS en
      |  FROM events),
      |pts AS (
      |  SELECT event_type, st AS t, 1::BIGINT AS dp FROM iv
      |  UNION ALL SELECT event_type, en AS t, -1::BIGINT AS dp FROM iv),
      |g AS (
      |  SELECT event_type, t, SUM(dp)::BIGINT AS net
      |  FROM pts GROUP BY 1, 2),
      |conc AS (
      |  SELECT event_type, t,
      |         SUM(net) OVER (PARTITION BY event_type ORDER BY t
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS level
      |  FROM g),
      |pk AS (SELECT event_type, MAX(level)::BIGINT AS peak FROM conc GROUP BY 1)
      |SELECT c.event_type, MAX(p.peak)::BIGINT AS peak,
      |       MIN(c.t)::BIGINT AS first_peak_us
      |FROM conc c JOIN pk p ON p.event_type = c.event_type
      |  AND c.level = p.peak
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Dynamic-gap sessionization via the native `session_window` API
    * with a PER-ROW gap expression (purchase events hold a session
    * open 30 min, everything else 10 min) — the data-dependent-gap
    * surface the fixed-gap gates (q105 batch, q329 streaming) don't
    * touch. Oracle: session_window's documented merge semantics ARE
    * interval union over [ts, ts+gap), so the oracle is the
    * running-max island sweep with per-row ends.
    */
  private def qDynamicSessionWindow(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    e.groupBy(col("user_id"),
        session_window(col("ts"),
          when(col("event_type") === "purchase", "30 minutes")
            .otherwise("10 minutes")))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss")
          .as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")
  }
  // q357: session_window's merge rule IS interval union over
  // [ts, ts+gap) — running-max island sweep with per-type gaps
  gate("q357_dynamic_session_window")(qDynamicSessionWindow(_, _))(
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS st,
      |         epoch_us(ts) + CASE WHEN event_type = 'purchase'
      |           THEN 1800000000 ELSE 600000000 END AS en
      |  FROM events),
      |f AS (
      |  SELECT user_id, event_id, st, en,
      |         MAX(en) OVER (PARTITION BY user_id
      |           ORDER BY st, en, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM iv),
      |g AS (
      |  SELECT user_id, st, en,
      |         SUM(CASE WHEN pmax IS NULL OR st >= pmax THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY st, en, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM f),
      |sess AS (
      |  SELECT user_id, island, MIN(st) AS sst, MAX(en) AS sen,
      |         COUNT(*)::BIGINT AS n_events
      |  FROM g GROUP BY 1, 2)
      |SELECT user_id,
      |       strftime(make_timestamp(sst), '%Y-%m-%d %H:%M:%S') AS session_start,
      |       strftime(make_timestamp(sen), '%Y-%m-%d %H:%M:%S') AS session_end,
      |       n_events
      |FROM sess ORDER BY user_id, session_start""".stripMargin)

  /** Cross-correlation function between the daily view and purchase
    * counts at lags 0–7 days: the exact integer numerator
    * Σ (n·xₜ − Sx)(n·yₜ₊ₗ − Sy) over each lag's overlap window (means
    * cleared by the n-scaling trick, so no division anywhere — the
    * lead/lag analogue of q322's rolling correlation). One date-shift
    * equi-join per lag via a broadcast 8-row lag spine.
    */
  private def qCrossCorrelation(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val daily = e.filter(col("event_type").isin("view", "purchase"))
      .groupBy(expr("CAST(to_date(ts) AS DATE)").as("d"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val lags = s.range(0, 8).select(col("id").cast("int").as("lag"))
    val paired = daily.select(col("d"), col("x"))
      .crossJoin(broadcast(lags))
      .join(daily.select(col("d").as("d2"), col("y")),
        expr("d2 = date_add(d, lag)"))
    paired.groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(expr("x * y")).as("sxy"))
      .withColumn("num", expr("n_pairs * sxy - sx * sy"))
      .select("lag", "n_pairs", "sx", "sy", "num")
      .orderBy("lag")
  }
  // q365: exact integer CCF numerator n·Σxy − Σx·Σy per lag over
  // the lag's overlap window
  gate("q365_cross_correlation")(qCrossCorrelation(_, _))(
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d,
      |         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS x,
      |         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS y
      |  FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1),
      |lags AS (SELECT unnest(range(8)) AS lag),
      |p AS (
      |  SELECT l.lag, a.x, b.y
      |  FROM daily a CROSS JOIN lags l
      |  JOIN daily b ON b.d = a.d + l.lag::INT)
      |SELECT lag::INT AS lag, COUNT(*)::BIGINT AS n_pairs,
      |       SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
      |       (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))::BIGINT AS num
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Page–Hinkley drift test (1954/1971) over the daily event-count
    * series per type: deviations from the RUNNING mean (the adaptive
    * reference that distinguishes PH from q193's fixed-reference
    * CUSUM) accumulated as U_t, alarm when U_t − min_{i≤t} U_i
    * exceeds λ = 20 events·10⁶. Running mean in micros by integer
    * DIV; everything else exact cumsums over two prefix windows.
    */
  private def qPageHinkley(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("CAST(to_date(ts) AS DATE)").as("d"))
      .agg(count(lit(1)).as("x"))
    val wOrd = Window.partitionBy("event_type").orderBy("d")
    val ph = daily
      .withColumn("t", row_number().over(wOrd))
      .withColumn("cum", sum(col("x")).over(wOrd))
      .withColumn("term", expr("x * 1000000 - (cum * 1000000) DIV t"))
      .withColumn("u", sum(col("term")).over(wOrd))
      .withColumn("mmin", min(col("u")).over(wOrd))
      .withColumn("excess", col("u") - col("mmin"))
    ph.groupBy("event_type").agg(
        count(lit(1)).as("n_days"),
        max(col("t")).cast("long").as("t_last"),
        sum(when(col("excess") > 20000000L, 1L).otherwise(0L)).as("n_alarms"),
        max(col("excess")).as("max_excess"),
        min(when(col("excess") > 20000000L,
          date_format(col("d"), "yyyy-MM-dd"))).as("first_alarm"))
      .orderBy("event_type")
  }
  // q376: running-mean deviations, two prefix cumsums, λ = 20·10⁶
  gate("q376_page_hinkley")(qPageHinkley(_, _))(
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*)::BIGINT AS x
      |  FROM events GROUP BY 1, 2),
      |ph AS (
      |  SELECT event_type, d, x,
      |         row_number() OVER w AS t,
      |         SUM(x) OVER w AS cum
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY d)),
      |u AS (
      |  SELECT event_type, d, x, t,
      |         SUM(x * 1000000 - (cum * 1000000) // t) OVER w AS u
      |  FROM ph
      |  WINDOW w AS (PARTITION BY event_type ORDER BY d)),
      |ex AS (
      |  SELECT event_type, d, t, u,
      |         u - MIN(u) OVER w AS excess
      |  FROM u
      |  WINDOW w AS (PARTITION BY event_type ORDER BY d))
      |SELECT event_type, COUNT(*)::BIGINT AS n_days,
      |       MAX(t)::BIGINT AS t_last,
      |       SUM(CASE WHEN excess > 20000000 THEN 1 ELSE 0 END)::BIGINT
      |         AS n_alarms,
      |       MAX(excess)::BIGINT AS max_excess,
      |       MIN(CASE WHEN excess > 20000000
      |           THEN strftime(d, '%Y-%m-%d') END) AS first_alarm
      |FROM ex GROUP BY 1 ORDER BY 1""".stripMargin)

  /** MASE forecast backtest (Hyndman–Koehler 2006): the seasonal-naive
    * 7-day-lag forecast of the daily event count scored against the
    * in-sample 1-step naive — MASE = Σ|xₜ−xₜ₋₇| / Σ|xₜ−xₜ₋₁| in
    * micros over the common t ≥ 8 window. The scale-free forecast
    * error every capacity model reports; two lag windows and one agg,
    * all integer.
    */
  private def qMaseEval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("CAST(to_date(ts) AS DATE)").as("d"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("d")
    daily
      .withColumn("t", row_number().over(w))
      .withColumn("l1", lag(col("x"), 1).over(w))
      .withColumn("l7", lag(col("x"), 7).over(w))
      .filter(col("t") >= 8)
      .groupBy("event_type").agg(
        count(lit(1)).as("n_eval"),
        sum(abs(col("x") - col("l7"))).as("sae7"),
        sum(abs(col("x") - col("l1"))).as("sae1"))
      .withColumn("mase_micro",
        expr("(1000000 * sae7) DIV greatest(sae1, 1L)"))
      .orderBy("event_type")
  }
  // q380: 7-observation seasonal naive vs 1-step naive, t ≥ 8
  gate("q380_mase_eval")(qMaseEval(_, _))(
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*)::BIGINT AS x
      |  FROM events GROUP BY 1, 2),
      |lg AS (
      |  SELECT event_type, x,
      |         row_number() OVER w AS t,
      |         lag(x, 1) OVER w AS l1,
      |         lag(x, 7) OVER w AS l7
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY d))
      |SELECT event_type, COUNT(*)::BIGINT AS n_eval,
      |       SUM(abs(x - l7))::BIGINT AS sae7,
      |       SUM(abs(x - l1))::BIGINT AS sae1,
      |       ((1000000 * SUM(abs(x - l7)))
      |         // greatest(SUM(abs(x - l1)), 1))::BIGINT AS mase_micro
      |FROM lg WHERE t >= 8 GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Binary-segmentation changepoint (Scott–Knott / Vostrikova 1981,
    * first split): over each type's daily count series, the split t
    * maximizing the between-segment sum of squares
    * S_t²/t + (S−S_t)²/(n−t) − S²/n, all terms exact-integer scaled
    * to millis from one prefix-sum window, argmax under (score desc,
    * t asc). The retrospective complement of q376's sequential
    * Page–Hinkley.
    */
  private def qBinarySegmentation(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("d")
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("CAST(to_date(ts) AS DATE)").as("d"))
      .agg(count(lit(1)).as("x"))
      .withColumn("t", row_number().over(w))
      .withColumn("st", sum(col("x")).over(w))
    val tot = daily.groupBy("event_type")
      .agg(max(col("t")).cast("long").as("n"), max(col("st")).as("s"))
    daily.join(broadcast(tot), Seq("event_type"))
      .filter(col("t") < col("n"))
      .withColumn("score_milli", expr(
        """(st * st * 1000) DIV t + ((s - st) * (s - st) * 1000) DIV (n - t)
          | - (s * s * 1000) DIV n""".stripMargin.replace("\n", " ")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type")
          .orderBy(col("score_milli").desc, col("t"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("n").as("n_days"),
        col("t").cast("long").as("split_t"),
        date_format(col("d"), "yyyy-MM-dd").as("split_date"),
        col("score_milli"))
      .orderBy("event_type")
  }
  // q384: argmax over split positions of the prefix-sum SSB, ties
  // to the earliest t
  gate("q384_binary_segmentation")(qBinarySegmentation(_, _))(
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*)::BIGINT AS x
      |  FROM events GROUP BY 1, 2),
      |pre AS (
      |  SELECT event_type, d, x,
      |         row_number() OVER w AS t,
      |         SUM(x) OVER w AS st
      |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
      |tot AS (
      |  SELECT event_type, MAX(t)::BIGINT AS n, MAX(st)::BIGINT AS s
      |  FROM pre GROUP BY 1),
      |scored AS (
      |  SELECT p.event_type, p.d, p.t, tt.n,
      |         (p.st * p.st * 1000) // p.t
      |           + ((tt.s - p.st) * (tt.s - p.st) * 1000) // (tt.n - p.t)
      |           - (tt.s * tt.s * 1000) // tt.n AS score_milli
      |  FROM pre p JOIN tot tt ON p.event_type = tt.event_type
      |  WHERE p.t < tt.n),
      |best AS (
      |  SELECT event_type, n, t, d, score_milli,
      |         row_number() OVER (PARTITION BY event_type
      |           ORDER BY score_milli DESC, t) AS rk
      |  FROM scored)
      |SELECT event_type, n AS n_days, t::BIGINT AS split_t,
      |       strftime(d, '%Y-%m-%d') AS split_date,
      |       score_milli::BIGINT AS score_milli
      |FROM best WHERE rk = 1 ORDER BY 1""".stripMargin)

  /** SAX symbolization (Lin–Keogh 2003): each type's daily-count
    * series is PAA-compressed to weekly means in micros, the GLOBAL
    * PAA histogram yields exact quartile breakpoints (cum ≥ ⌈kn/4⌉,
    * never percentile_approx), and each week maps to a 4-letter
    * alphabet — emitted per type as the 5-week SAX word plus its
    * symbol census. The discretization that turns time series into
    * joinable/groupable tokens at fleet scale.
    */
  private def qSaxPaa(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("d")
    val paa = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("CAST(to_date(ts) AS DATE)").as("d"))
      .agg(count(lit(1)).as("x"))
      .withColumn("t", row_number().over(w))
      .withColumn("w7", expr("(t - 1) DIV 7"))
      .groupBy("event_type", "w7")
      .agg(expr("(1000000 * sum(x)) DIV count(1)").as("paa_micro"))
      .localCheckpoint()
    val hist = paa.groupBy("paa_micro").agg(count(lit(1)).as("nv"))
      .withColumn("cum", sum(col("nv")).over(
        Window.orderBy("paa_micro")))
    val n = paa.agg(count(lit(1)).as("n"))
    val bks = hist.crossJoin(broadcast(n))
      .select(col("paa_micro"), col("cum"), col("n"),
        explode(array(lit(1), lit(2), lit(3))).as("q"))
      .filter(col("cum") >= expr("(q * n + 3) DIV 4"))
      .groupBy("q").agg(min(col("paa_micro")).as("bk"))
    val brk = bks.groupBy().pivot("q", Seq(1, 2, 3)).agg(first(col("bk")))
      .select(col("1").as("b1"), col("2").as("b2"), col("3").as("b3"))
    val sym = paa.crossJoin(broadcast(brk))
      .withColumn("sym", expr(
        """CASE WHEN paa_micro < b1 THEN 0 WHEN paa_micro < b2 THEN 1
          | WHEN paa_micro < b3 THEN 2 ELSE 3 END""".stripMargin
          .replace("\n", " ")))
    sym.groupBy("event_type").agg(
        count(lit(1)).as("n_weeks"),
        expr("""array_join(transform(array_sort(collect_list(
               struct(w7, sym))), s -> CAST(s.sym AS STRING)), '')""")
          .as("word"),
        sum(when(col("sym") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("sym") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("sym") === 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("sym") === 3, 1L).otherwise(0L)).as("n3"))
      .orderBy("event_type")
  }
  // q390: weekly PAA means, global histogram quartile breakpoints,
  // per-type SAX word via ordered string_agg
  gate("q390_sax_paa")(qSaxPaa(_, _))(
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*)::BIGINT AS x
      |  FROM events GROUP BY 1, 2),
      |tw AS (
      |  SELECT event_type, x,
      |         (row_number() OVER (PARTITION BY event_type ORDER BY d) - 1)
      |           // 7 AS w7
      |  FROM daily),
      |paa AS MATERIALIZED (
      |  SELECT event_type, w7,
      |         ((1000000 * SUM(x)) // COUNT(*))::BIGINT AS paa_micro
      |  FROM tw GROUP BY 1, 2),
      |hist AS (
      |  SELECT paa_micro,
      |         SUM(COUNT(*)) OVER (ORDER BY paa_micro) AS cum
      |  FROM paa GROUP BY 1),
      |nn AS (SELECT COUNT(*)::BIGINT AS n FROM paa),
      |bks AS (
      |  SELECT q, MIN(paa_micro) AS bk
      |  FROM hist, nn, (SELECT unnest([1, 2, 3]) AS q) qs
      |  WHERE cum >= (q * n + 3) // 4
      |  GROUP BY 1),
      |brk AS (
      |  SELECT MAX(CASE WHEN q = 1 THEN bk END) AS b1,
      |         MAX(CASE WHEN q = 2 THEN bk END) AS b2,
      |         MAX(CASE WHEN q = 3 THEN bk END) AS b3
      |  FROM bks),
      |sym AS (
      |  SELECT p.event_type, p.w7, p.paa_micro,
      |         CASE WHEN p.paa_micro < b.b1 THEN 0
      |              WHEN p.paa_micro < b.b2 THEN 1
      |              WHEN p.paa_micro < b.b3 THEN 2 ELSE 3 END AS sym
      |  FROM paa p, brk b)
      |SELECT event_type, COUNT(*)::BIGINT AS n_weeks,
      |       string_agg(sym::VARCHAR, '' ORDER BY w7) AS word,
      |       SUM(CASE WHEN sym = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
      |       SUM(CASE WHEN sym = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
      |       SUM(CASE WHEN sym = 2 THEN 1 ELSE 0 END)::BIGINT AS n2,
      |       SUM(CASE WHEN sym = 3 THEN 1 ELSE 0 END)::BIGINT AS n3
      |FROM sym GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Bitemporal AS OF (Snodgrass 1992, the SQL:2011 two-axis form):
    * lineitem rows carry a VALID interval [shipdate, receiptdate) and
    * a TRANSACTION stamp (the order date — when the fact entered the
    * system); a 3×3 broadcast grid of (valid-asof, tx-asof) probes
    * answers "what did we believe at T about what was true at V" —
    * the reproducibility query every point-in-time feature store
    * must answer, beyond q215's single-axis as-of.
    */
  private def qBitemporalAsof(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem").join(
        Tables.load(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_shipdate").cast("date").as("v_from"),
        // the fixture's lineitem carries no receiptdate; a 30-day
        // transit window closes the valid interval deterministically
        expr("date_add(CAST(l_shipdate AS DATE), 30)").as("v_to"),
        col("o_orderdate").cast("date").as("tx"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("qty"))
    val vt = Seq("1996-06-01", "1998-06-01", "2000-06-01")
    val tt = Seq("1997-01-01", "1999-01-01", "2001-01-01")
    val grid = vt.flatMap(v => tt.map(t => (v, t)))
    val g = s.createDataFrame(grid).toDF("v_asof", "t_asof")
      .select(col("v_asof").cast("date"), col("t_asof").cast("date"))
    li.crossJoin(broadcast(g))
      .filter(col("v_from") <= col("v_asof") && col("v_asof") < col("v_to")
        && col("tx") <= col("t_asof"))
      .groupBy("v_asof", "t_asof")
      .agg(count(lit(1)).as("n_lines"), sum(col("qty")).as("sum_qty"))
      .select(date_format(col("v_asof"), "yyyy-MM-dd").as("v_asof"),
        date_format(col("t_asof"), "yyyy-MM-dd").as("t_asof"),
        col("n_lines"), col("sum_qty"))
      .orderBy("v_asof", "t_asof")
  }
  // q391: valid-interval containment × transaction cutoff over the
  // 3×3 probe grid
  gate("q391_bitemporal_asof")(qBitemporalAsof(_, _))(
    """WITH li AS (
      |  SELECT CAST(l_shipdate AS DATE) AS v_from,
      |         CAST(l_shipdate AS DATE) + 30 AS v_to,
      |         CAST(o_orderdate AS DATE) AS tx,
      |         CAST(round(l_quantity) AS BIGINT) AS qty
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |g AS (
      |  SELECT CAST(v AS DATE) AS v_asof, CAST(t AS DATE) AS t_asof
      |  FROM (SELECT unnest(['1996-06-01', '1998-06-01', '2000-06-01']) AS v) vv
      |  CROSS JOIN
      |       (SELECT unnest(['1997-01-01', '1999-01-01', '2001-01-01']) AS t) tt)
      |SELECT strftime(g.v_asof, '%Y-%m-%d') AS v_asof,
      |       strftime(g.t_asof, '%Y-%m-%d') AS t_asof,
      |       COUNT(*)::BIGINT AS n_lines, SUM(li.qty)::BIGINT AS sum_qty
      |FROM li CROSS JOIN g
      |WHERE li.v_from <= g.v_asof AND g.v_asof < li.v_to
      |  AND li.tx <= g.t_asof
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Trend-strength decomposition metric (Hyndman's F_T): per event
    * type, the centred 7-day moving average is the trend, and
    * F_T = 1 − SS(resid)/SS(series) on the common window — both sums
    * of squares in the exact n·Σz² − (Σz)² integer form at milli
    * scale. One number per series saying "is this a trend or noise",
    * the audit beside q335's detrender.
    */
  private def qTrendStrength(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("d")
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("CAST(to_date(ts) AS DATE)").as("d"))
      .agg(count(lit(1)).as("x"))
      .withColumn("t", row_number().over(w))
      .withColumn("ma_sum", sum(col("x")).over(w.rowsBetween(-3, 3)))
      .withColumn("ma_n", count(col("x")).over(w.rowsBetween(-3, 3)))
    val n = daily.groupBy("event_type").agg(max(col("t")).cast("long").as("nd"))
    daily.join(broadcast(n), Seq("event_type"))
      .filter(col("t") >= 4 && col("t") <= col("nd") - 3)
      .select(col("event_type"),
        expr("1000 * x").as("z"),
        expr("1000 * x - (1000 * ma_sum) DIV ma_n").as("r"))
      .groupBy("event_type").agg(
        count(lit(1)).as("n_days"),
        expr("count(1) * sum(z * z) - sum(z) * sum(z)").as("sst"),
        expr("count(1) * sum(r * r) - sum(r) * sum(r)").as("ssr"))
      .withColumn("strength_micro",
        expr("greatest(1000000 - (1000000 * ssr) DIV greatest(sst, 1L), 0L)"))
      .orderBy("event_type")
  }
  // q393: F_T = 1 − SS(resid)/SS(series) at milli scale on the
  // full-window days
  gate("q393_trend_strength")(qTrendStrength(_, _))(
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*)::BIGINT AS x
      |  FROM events GROUP BY 1, 2),
      |ma AS (
      |  SELECT event_type, x,
      |         row_number() OVER w AS t,
      |         SUM(x) OVER (PARTITION BY event_type ORDER BY d
      |           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS ma_sum,
      |         COUNT(x) OVER (PARTITION BY event_type ORDER BY d
      |           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS ma_n
      |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
      |nn AS (SELECT event_type, MAX(t)::BIGINT AS nd FROM ma GROUP BY 1),
      |z AS (
      |  SELECT m.event_type, 1000 * m.x AS z,
      |         1000 * m.x - (1000 * m.ma_sum) // m.ma_n AS r
      |  FROM ma m JOIN nn ON m.event_type = nn.event_type
      |  WHERE m.t >= 4 AND m.t <= nn.nd - 3),
      |ss AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n_days,
      |         (COUNT(*) * SUM(z * z) - SUM(z) * SUM(z))::BIGINT AS sst,
      |         (COUNT(*) * SUM(r * r) - SUM(r) * SUM(r))::BIGINT AS ssr
      |  FROM z GROUP BY 1)
      |SELECT event_type, n_days, sst, ssr,
      |       CAST(greatest(1000000 - (1000000 * ssr) // greatest(sst, 1), 0)
      |         AS BIGINT) AS strength_micro
      |FROM ss ORDER BY 1""".stripMargin)

  /** CDC changelog apply (the Debezium/ingestion primitive): events
    * become an ordered changelog per user — signup/click/view/purchase
    * upsert the row with the event's cents, `error` deletes it — and
    * last-writer-wins under the total (ts, event_id) order yields the
    * final state. The gate reports per user-decile: live rows, deleted
    * rows, the surviving balance, and resurrections (deletes later
    * overridden by an upsert) — the semantics a snapshot+changelog
    * merge must reproduce exactly at any scale.
    */
  private def qCdcApply(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val log = Tables.events(s, dir).select(col("user_id"), col("ts"),
      col("event_id"),
      (col("event_type") === "error").as("is_del"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val last = log.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("is_del"),
        when(col("is_del"), lit(0L)).otherwise(col("cents")).as("cents"))
    // a resurrection: an error op with at least one later op for the
    // same user — count via each delete's rank from the end
    val resur = log.withColumn("rn", row_number().over(w))
      .filter(col("is_del") && col("rn") > 1)
      .groupBy("user_id").agg(count(lit(1)).as("n_resur"))
    last.join(resur, Seq("user_id"), "left")
      .na.fill(0L, Seq("n_resur"))
      .groupBy(expr("user_id % 10").as("decile")).agg(
        sum(when(!col("is_del"), 1L).otherwise(0L)).as("n_live"),
        sum(when(col("is_del"), 1L).otherwise(0L)).as("n_deleted"),
        sum(col("cents")).as("sum_cents"),
        sum(col("n_resur")).as("n_resurrections"))
      .orderBy("decile")
  }
  // q394: last-writer-wins under (ts, event_id); error deletes;
  // resurrections = deletes with a later op
  gate("q394_cdc_apply")(qCdcApply(_, _))(
    """WITH log AS (
      |  SELECT user_id, ts, event_id, (event_type = 'error') AS is_del,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM log),
      |lastrow AS (
      |  SELECT user_id, is_del,
      |         CASE WHEN is_del THEN 0 ELSE cents END AS cents
      |  FROM r WHERE rn = 1),
      |resur AS (
      |  SELECT user_id, COUNT(*)::BIGINT AS n_resur
      |  FROM r WHERE is_del AND rn > 1 GROUP BY 1)
      |SELECT l.user_id % 10 AS decile,
      |       SUM(CASE WHEN NOT l.is_del THEN 1 ELSE 0 END)::BIGINT AS n_live,
      |       SUM(CASE WHEN l.is_del THEN 1 ELSE 0 END)::BIGINT AS n_deleted,
      |       SUM(l.cents)::BIGINT AS sum_cents,
      |       SUM(COALESCE(rs.n_resur, 0))::BIGINT AS n_resurrections
      |FROM lastrow l LEFT JOIN resur rs ON l.user_id = rs.user_id
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Durbin–Watson serial-correlation screen (Durbin–Watson 1950) of
    * the mean-centered daily volume series per event type:
    * eₜ = n·yₜ − Σy (the constant-model residual scaled by n — the
    * shared denominator cancels in the ratio, so the whole chain is
    * exact BIGINT; the slope-residual variant would force 128-bit
    * intermediates, and the q139 postmortem bans the float shortcut),
    * DW = 10⁶·Σ(eₜ−eₜ₋₁)² DIV Σeₜ² over the day-ordered series.
    * DW ≈ 2 (2·10⁶ micros) means no lag-1 autocorrelation; < 2 means
    * positive tracking. Complements q*acf (which gates the ρ values
    * themselves) with the classical regression-diagnostic form.
    */
  private def qDurbinWatson(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), dayofmonth(col("ts")).cast("long").as("d"))
      .agg(count(lit(1)).as("y"))
    val tot = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("y")).as("sy"))
    val e = daily.join(broadcast(tot), Seq("event_type"))
      .withColumn("e", col("n_days") * col("y") - col("sy"))
      .withColumn("ep", lag(col("e"), 1).over(
        Window.partitionBy("event_type").orderBy("d")))
    e.groupBy("event_type").agg(
        max(col("n_days")).as("n_days"),
        sum(when(col("ep").isNotNull,
          (col("e") - col("ep")) * (col("e") - col("ep")))
          .otherwise(0L)).as("sdd"),
        sum(col("e") * col("e")).as("see"))
      .withColumn("dw_micro",
        expr("CASE WHEN see > 0 THEN (1000000 * sdd) DIV see END"))
      .orderBy("event_type")
  }
  // q408: e_t = n*y_t - sum(y); the shared denominator cancels in
  // the DW ratio so both engines stay in exact BIGINTs
  gate("q408_durbin_watson")(qDurbinWatson(_, _))(
    """WITH daily AS (
      |  SELECT event_type, day(ts)::BIGINT AS d, COUNT(*)::BIGINT AS y
      |  FROM events GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n_days,
      |         SUM(y)::BIGINT AS sy
      |  FROM daily GROUP BY 1),
      |e AS (
      |  SELECT daily.event_type, daily.d,
      |         (tot.n_days * daily.y - tot.sy)::BIGINT AS e,
      |         tot.n_days
      |  FROM daily JOIN tot ON daily.event_type = tot.event_type),
      |l AS (
      |  SELECT event_type, n_days, e,
      |         lag(e) OVER (PARTITION BY event_type ORDER BY d) AS ep
      |  FROM e)
      |SELECT event_type, MAX(n_days)::BIGINT AS n_days,
      |       SUM(CASE WHEN ep IS NOT NULL THEN (e - ep) * (e - ep)
      |                ELSE 0 END)::BIGINT AS sdd,
      |       SUM(e * e)::BIGINT AS see,
      |       (CASE WHEN SUM(e * e) > 0 THEN
      |         (1000000 * SUM(CASE WHEN ep IS NOT NULL
      |            THEN (e - ep) * (e - ep) ELSE 0 END)) // SUM(e * e)
      |        END)::BIGINT AS dw_micro
      |FROM l GROUP BY 1 ORDER BY event_type""".stripMargin)

  /** Ljung–Box portmanteau test (Ljung–Box 1978) for joint lag-1..3
    * autocorrelation of the daily volume series per event type:
    * residuals eₜ = n·yₜ − Σy (q408's scaled centering — the shared
    * factor cancels in every ratio), rₖ = Σeₜeₜ₋ₖ / Σe², and
    * Q = n(n+2)·Σₖ rₖ²/(n−k). All co-moment SUMS are exact BIGINTs
    * (|e| ≤ n·max(y), far inside 2⁵³), so the final double chain is a
    * handful of IEEE-correctly-rounded mul/divs shared verbatim with
    * the oracle — no libm call anywhere (the q139 postmortem rule:
    * ln/exp are per-build, +,×,÷,√ are not). The "is this metric
    * serially dependent AT ALL" gate q408 (single-lag DW) and q170
    * (per-lag ACF) both feed.
    */
  private def qLjungBox(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), dayofmonth(col("ts")).cast("long").as("d"))
      .agg(count(lit(1)).as("y"))
    val tot = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("y")).as("sy"))
    val w = Window.partitionBy("event_type").orderBy("d")
    val e = daily.join(broadcast(tot), Seq("event_type"))
      .withColumn("e", col("n_days") * col("y") - col("sy"))
      .withColumn("e1", lag(col("e"), 1).over(w))
      .withColumn("e2", lag(col("e"), 2).over(w))
      .withColumn("e3", lag(col("e"), 3).over(w))
    e.groupBy("event_type").agg(
        max(col("n_days")).as("n"),
        sum(col("e") * col("e")).as("see"),
        sum(when(col("e1").isNotNull, col("e") * col("e1")).otherwise(0L)).as("s1"),
        sum(when(col("e2").isNotNull, col("e") * col("e2")).otherwise(0L)).as("s2"),
        sum(when(col("e3").isNotNull, col("e") * col("e3")).otherwise(0L)).as("s3"))
      .select(col("event_type"), col("n").as("n_days"),
        // n > 3 + see > 0 guard (q408 convention): a type with ≤3
        // distinct days would divide by (n−k) ≤ 0 / a flat series by
        // see = 0 — NULL beats an engine-divergent Inf cast
        expr("CASE WHEN n > 3 AND see > 0 THEN CAST(floor(CAST(s1 AS DOUBLE) / see * 1000000.0 + 0.5) AS BIGINT) END").as("r1_micro"),
        expr("CASE WHEN n > 3 AND see > 0 THEN CAST(floor(CAST(s2 AS DOUBLE) / see * 1000000.0 + 0.5) AS BIGINT) END").as("r2_micro"),
        expr("CASE WHEN n > 3 AND see > 0 THEN CAST(floor(CAST(s3 AS DOUBLE) / see * 1000000.0 + 0.5) AS BIGINT) END").as("r3_micro"),
        expr("""CASE WHEN n > 3 AND see > 0 THEN
               CAST(floor(CAST(n AS DOUBLE) * (n + 2) * (
                 (CAST(s1 AS DOUBLE) / see) * (CAST(s1 AS DOUBLE) / see) / (n - 1)
               + (CAST(s2 AS DOUBLE) / see) * (CAST(s2 AS DOUBLE) / see) / (n - 2)
               + (CAST(s3 AS DOUBLE) / see) * (CAST(s3 AS DOUBLE) / see) / (n - 3))
               * 1000000.0 + 0.5) AS BIGINT) END""").as("q_lb_micro"))
      .orderBy("event_type")
  }
  // q410: BIGINT co-moments; the closing double chain is pure IEEE
  // mul/div shared verbatim — no libm call
  gate("q410_ljung_box")(qLjungBox(_, _))(
    """WITH daily AS (
      |  SELECT event_type, day(ts)::BIGINT AS d, COUNT(*)::BIGINT AS y
      |  FROM events GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n_days, SUM(y)::BIGINT AS sy
      |  FROM daily GROUP BY 1),
      |e AS (
      |  SELECT daily.event_type, daily.d,
      |         (tot.n_days * daily.y - tot.sy)::BIGINT AS e
      |  FROM daily JOIN tot ON daily.event_type = tot.event_type),
      |l AS (
      |  SELECT event_type, e,
      |         lag(e, 1) OVER w AS e1, lag(e, 2) OVER w AS e2,
      |         lag(e, 3) OVER w AS e3
      |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY d)),
      |s AS (
      |  SELECT l.event_type, t.n_days AS n,
      |         SUM(e * e)::BIGINT AS see,
      |         SUM(CASE WHEN e1 IS NOT NULL THEN e * e1 ELSE 0 END)::BIGINT AS s1,
      |         SUM(CASE WHEN e2 IS NOT NULL THEN e * e2 ELSE 0 END)::BIGINT AS s2,
      |         SUM(CASE WHEN e3 IS NOT NULL THEN e * e3 ELSE 0 END)::BIGINT AS s3
      |  FROM l JOIN tot t ON l.event_type = t.event_type
      |  GROUP BY 1, 2)
      |SELECT event_type, n AS n_days,
      |  CASE WHEN n > 3 AND see > 0 THEN
      |    CAST(floor(CAST(s1 AS DOUBLE) / see * 1000000.0 + 0.5) AS BIGINT)
      |  END AS r1_micro,
      |  CASE WHEN n > 3 AND see > 0 THEN
      |    CAST(floor(CAST(s2 AS DOUBLE) / see * 1000000.0 + 0.5) AS BIGINT)
      |  END AS r2_micro,
      |  CASE WHEN n > 3 AND see > 0 THEN
      |    CAST(floor(CAST(s3 AS DOUBLE) / see * 1000000.0 + 0.5) AS BIGINT)
      |  END AS r3_micro,
      |  CASE WHEN n > 3 AND see > 0 THEN
      |    CAST(floor(CAST(n AS DOUBLE) * (n + 2) * (
      |      (CAST(s1 AS DOUBLE) / see) * (CAST(s1 AS DOUBLE) / see) / (n - 1)
      |    + (CAST(s2 AS DOUBLE) / see) * (CAST(s2 AS DOUBLE) / see) / (n - 2)
      |    + (CAST(s3 AS DOUBLE) / see) * (CAST(s3 AS DOUBLE) / see) / (n - 3))
      |    * 1000000.0 + 0.5) AS BIGINT)
      |  END AS q_lb_micro
      |FROM s ORDER BY event_type""".stripMargin)

  /** Partial autocorrelation at lags 1–2 (Durbin–Levinson) of the
    * daily volume series per event type: with q410's scaled residuals
    * eₜ = n·yₜ − Σy, the exact BIGINT co-moments c₀ = Σe², c₁ = Σee₋₁,
    * c₂ = Σee₋₂ give φ₁₁ = r₁ and φ₂₂ = (r₂ − r₁²)/(1 − r₁²) — lag-2
    * dependence AFTER removing what lag 1 already explains (the
    * AR-order probe q170's raw ACF cannot answer: a decaying r₂ may be
    * pure lag-1 carryover). The closing chain is IEEE mul/div on
    * doubles shared verbatim with the oracle — no libm.
    */
  private def qPacf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), dayofmonth(col("ts")).cast("long").as("d"))
      .agg(count(lit(1)).as("y"))
    val tot = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("y")).as("sy"))
    val w = Window.partitionBy("event_type").orderBy("d")
    val e = daily.join(broadcast(tot), Seq("event_type"))
      .withColumn("e", col("n_days") * col("y") - col("sy"))
      .withColumn("e1", lag(col("e"), 1).over(w))
      .withColumn("e2", lag(col("e"), 2).over(w))
    e.groupBy("event_type").agg(
        max(col("n_days")).as("n"),
        sum(col("e") * col("e")).as("c0"),
        sum(when(col("e1").isNotNull, col("e") * col("e1")).otherwise(0L)).as("c1"),
        sum(when(col("e2").isNotNull, col("e") * col("e2")).otherwise(0L)).as("c2"))
      .select(col("event_type"), col("n").as("n_days"),
        expr("CASE WHEN n > 2 AND c0 > 0 THEN CAST(floor(CAST(c1 AS DOUBLE) / c0 * 1000000.0 + 0.5) AS BIGINT) END").as("phi11_micro"),
        expr("""CASE WHEN n > 2 AND c0 > 0
               |  AND 1.0 - (CAST(c1 AS DOUBLE) / c0) * (CAST(c1 AS DOUBLE) / c0) <> 0.0
               |THEN CAST(floor(
               |  (CAST(c2 AS DOUBLE) / c0
               |    - (CAST(c1 AS DOUBLE) / c0) * (CAST(c1 AS DOUBLE) / c0))
               |  / (1.0 - (CAST(c1 AS DOUBLE) / c0) * (CAST(c1 AS DOUBLE) / c0))
               |  * 1000000.0 + 0.5) AS BIGINT) END""".stripMargin)
          .as("phi22_micro"))
      .orderBy("event_type")
  }
  // q423: q410's BIGINT co-moments; Durbin–Levinson closing chain is
  // pure IEEE mul/div shared verbatim — no libm
  gate("q423_pacf")(qPacf(_, _))(
    """WITH daily AS (
      |  SELECT event_type, day(ts)::BIGINT AS d, COUNT(*)::BIGINT AS y
      |  FROM events GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n_days, SUM(y)::BIGINT AS sy
      |  FROM daily GROUP BY 1),
      |e AS (
      |  SELECT daily.event_type, daily.d,
      |         (tot.n_days * daily.y - tot.sy)::BIGINT AS e
      |  FROM daily JOIN tot ON daily.event_type = tot.event_type),
      |l AS (
      |  SELECT event_type, e,
      |         lag(e, 1) OVER w AS e1, lag(e, 2) OVER w AS e2
      |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY d)),
      |s AS (
      |  SELECT l.event_type, t.n_days AS n,
      |         SUM(e * e)::BIGINT AS c0,
      |         SUM(CASE WHEN e1 IS NOT NULL THEN e * e1 ELSE 0 END)::BIGINT AS c1,
      |         SUM(CASE WHEN e2 IS NOT NULL THEN e * e2 ELSE 0 END)::BIGINT AS c2
      |  FROM l JOIN tot t ON l.event_type = t.event_type
      |  GROUP BY 1, 2)
      |SELECT event_type, n AS n_days,
      |  CASE WHEN n > 2 AND c0 > 0 THEN
      |    CAST(floor(CAST(c1 AS DOUBLE) / c0 * 1000000.0 + 0.5) AS BIGINT)
      |  END AS phi11_micro,
      |  CASE WHEN n > 2 AND c0 > 0
      |    AND 1.0 - (CAST(c1 AS DOUBLE) / c0) * (CAST(c1 AS DOUBLE) / c0) <> 0.0
      |  THEN CAST(floor(
      |    (CAST(c2 AS DOUBLE) / c0
      |      - (CAST(c1 AS DOUBLE) / c0) * (CAST(c1 AS DOUBLE) / c0))
      |    / (1.0 - (CAST(c1 AS DOUBLE) / c0) * (CAST(c1 AS DOUBLE) / c0))
      |    * 1000000.0 + 0.5) AS BIGINT)
      |  END AS phi22_micro
      |FROM s ORDER BY event_type""".stripMargin)

  /** Corpus novelty-decay curve: docs arrive in doc_id-ordered ingest
    * batches of 100; a 5-gram shingle is NOVEL in the batch where it
    * first appears. Per batch: shingle occurrences, occurrences of
    * first-seen-here shingles, novelty share in micros — the
    * diminishing-returns curve a pretraining-data buyer reads before
    * paying for the next crawl. One shuffle keyed by shingle hash
    * (min-batch per shingle), one by batch; never doc×doc.
    */
  private def qNoveltyDecay(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents")
      .select(expr("CAST(doc_id AS BIGINT) DIV 100").as("batch"),
        col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("batch"),
        // size guard: sequence(0, n) runs DESCENDING when n < 0, and
        // slice with index 0 throws — a <5-token doc must yield an
        // empty shingle list (the qExplodeOuter discipline), matching
        // the oracle's generate_series upper bound
        explode(expr(
          """CASE WHEN size(toks) >= 5 THEN
            |  transform(sequence(0, size(toks) - 5),
            |    i -> concat_ws(' ', slice(toks, i + 1, 5)))
            |ELSE CAST(array() AS array<string>) END""".stripMargin))
          .as("shingle"))
    val firstSeen = sh.groupBy("shingle")
      .agg(min(col("batch")).as("first_batch"), count(lit(1)).as("occ_total"))
    val perBatch = sh.groupBy("batch").agg(count(lit(1)).as("n_shingles"),
      countDistinct(col("shingle")).as("n_distinct"))
    val novel = firstSeen.groupBy(col("first_batch").as("batch"))
      .agg(count(lit(1)).as("n_novel_distinct"),
        sum(col("occ_total")).as("occ_of_novel"))
    perBatch.join(novel, Seq("batch"), "left")
      .select(col("batch"), col("n_shingles"), col("n_distinct"),
        coalesce(col("n_novel_distinct"), lit(0L)).as("n_novel_distinct"),
        coalesce(col("occ_of_novel"), lit(0L)).as("occ_of_novel"),
        expr("""CASE WHEN n_distinct > 0 THEN
               |  (1000000 * COALESCE(n_novel_distinct, 0)) DIV n_distinct
               |END""".stripMargin).as("novelty_micro"))
      .orderBy("batch")
  }
  // q432: 5-gram shingles via list slicing; min-batch per shingle
  gate("q432_novelty_decay")(qNoveltyDecay(_, _))(
    """WITH sh AS (
      |  SELECT doc_id // 100 AS batch,
      |    array_to_string(toks[i:i+4], ' ') AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |        FROM documents) d,
      |       generate_series(1, 100000) t(i)
      |  WHERE i <= len(toks) - 4),
      |first_seen AS (
      |  SELECT shingle, MIN(batch) AS first_batch,
      |         COUNT(*)::BIGINT AS occ_total
      |  FROM sh GROUP BY 1),
      |per_batch AS (
      |  SELECT batch, COUNT(*)::BIGINT AS n_shingles,
      |         COUNT(DISTINCT shingle)::BIGINT AS n_distinct
      |  FROM sh GROUP BY 1),
      |novel AS (
      |  SELECT first_batch AS batch, COUNT(*)::BIGINT AS n_novel_distinct,
      |         SUM(occ_total)::BIGINT AS occ_of_novel
      |  FROM first_seen GROUP BY 1)
      |SELECT p.batch, p.n_shingles, p.n_distinct,
      |  COALESCE(n.n_novel_distinct, 0)::BIGINT AS n_novel_distinct,
      |  COALESCE(n.occ_of_novel, 0)::BIGINT AS occ_of_novel,
      |  CASE WHEN p.n_distinct > 0 THEN
      |    ((1000000 * COALESCE(n.n_novel_distinct, 0)) // p.n_distinct)::BIGINT
      |  END AS novelty_micro
      |FROM per_batch p LEFT JOIN novel n ON p.batch = n.batch
      |ORDER BY p.batch""".stripMargin)

  /** Croston's method (Croston 1972) for intermittent demand — the
    * forecast primitive for sparse series where plain EWMA decays to
    * noise between arrivals: per event type's sparse-slice day series,
    * separate α = ½ EWMAs of the non-zero demand SIZES and the
    * inter-arrival GAPS, each computed by the EXACT closed form
    * s_n·2ⁿ⁻¹ = z₁ + Σᵢ≥₂ zᵢ·2ⁱ⁻² (one aggregate with shiftleft
    * coefficients — no per-step recursion, no truncation drift,
    * every integer ≤ 2⁵³ so the closing doubles are exact), and the
    * demand-rate forecast ŝz/ŝg in micros. The series-sparsity
    * counterpart of q135's dense EWMA.
    */
  private def qCroston(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // series: per event_type, daily counts of the 1-in-997 user slice —
    // genuinely intermittent at every SF (7–22 occupied days of ~30),
    // so the gap EWMA carries real inter-arrival signal
    val occ = Tables.events(s, dir)
      .filter(col("user_id") % 997L === 0L)
      .groupBy(col("event_type"), dayofmonth(col("ts")).cast("long").as("d"))
      .agg(count(lit(1)).as("z"))
    val w = Window.partitionBy("event_type").orderBy("d")
    val idx = occ
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("g", col("d") - lag(col("d"), 1).over(w))
    val agg = idx.groupBy("event_type").agg(
      max(col("i")).as("n"),
      sum(when(col("i") === 1L, col("z")).otherwise(
        col("z") * expr("shiftleft(1L, CAST(i - 2 AS INT))"))).as("sz"),
      sum(when(col("g").isNull, 0L).otherwise(
        when(col("i") === 2L, col("g")).otherwise(
          col("g") * expr("shiftleft(1L, CAST(i - 3 AS INT))")))).as("sg"))
    agg.select(col("event_type"), col("n").as("n_occ"), col("sz"), col("sg"),
        expr("""CASE WHEN n >= 2 THEN CAST(floor(
               |  (CAST(sz AS DOUBLE) / CAST(shiftleft(1L, CAST(n - 1 AS INT)) AS DOUBLE))
               |  * 1000000.0 + 0.5) AS BIGINT) END""".stripMargin)
          .as("size_ewma_micro"),
        expr("""CASE WHEN n >= 2 THEN CAST(floor(
               |  (CAST(sg AS DOUBLE) / CAST(shiftleft(1L, CAST(n - 2 AS INT)) AS DOUBLE))
               |  * 1000000.0 + 0.5) AS BIGINT) END""".stripMargin)
          .as("gap_ewma_micro"),
        expr("""CASE WHEN n >= 2 AND sg > 0 THEN CAST(floor(
               |  ((CAST(sz AS DOUBLE) / CAST(shiftleft(1L, CAST(n - 1 AS INT)) AS DOUBLE))
               |   / (CAST(sg AS DOUBLE) / CAST(shiftleft(1L, CAST(n - 2 AS INT)) AS DOUBLE)))
               |  * 1000000.0 + 0.5) AS BIGINT) END""".stripMargin)
          .as("croston_micro"))
      .orderBy("event_type")
  }
  // q439: closed-form α=½ EWMA coefficients via integer shifts;
  // the closing doubles are exact powers of two
  gate("q439_croston")(qCroston(_, _))(
    """WITH occ AS (
      |  SELECT event_type, day(ts)::BIGINT AS d, COUNT(*)::BIGINT AS z
      |  FROM events WHERE user_id % 997 = 0 GROUP BY 1, 2),
      |idx AS (
      |  SELECT event_type, d, z,
      |    ROW_NUMBER() OVER w::BIGINT AS i,
      |    (d - LAG(d, 1) OVER w)::BIGINT AS g
      |  FROM occ WINDOW w AS (PARTITION BY event_type ORDER BY d)),
      |agg AS (
      |  SELECT event_type, MAX(i)::BIGINT AS n,
      |    SUM(CASE WHEN i = 1 THEN z
      |             ELSE z * (1::BIGINT << (i - 2)::INT) END)::BIGINT AS sz,
      |    SUM(CASE WHEN g IS NULL THEN 0
      |             WHEN i = 2 THEN g
      |             ELSE g * (1::BIGINT << (i - 3)::INT) END)::BIGINT AS sg
      |  FROM idx GROUP BY 1)
      |SELECT event_type, n AS n_occ, sz, sg,
      |  CASE WHEN n >= 2 THEN CAST(floor(
      |    (CAST(sz AS DOUBLE) / CAST(1::BIGINT << (n - 1)::INT AS DOUBLE))
      |    * 1000000.0 + 0.5) AS BIGINT) END AS size_ewma_micro,
      |  CASE WHEN n >= 2 THEN CAST(floor(
      |    (CAST(sg AS DOUBLE) / CAST(1::BIGINT << (n - 2)::INT AS DOUBLE))
      |    * 1000000.0 + 0.5) AS BIGINT) END AS gap_ewma_micro,
      |  CASE WHEN n >= 2 AND sg > 0 THEN CAST(floor(
      |    ((CAST(sz AS DOUBLE) / CAST(1::BIGINT << (n - 1)::INT AS DOUBLE))
      |     / (CAST(sg AS DOUBLE) / CAST(1::BIGINT << (n - 2)::INT AS DOUBLE)))
      |    * 1000000.0 + 0.5) AS BIGINT) END AS croston_micro
      |FROM agg ORDER BY event_type""".stripMargin)

  /** Theil's U2 forecast-skill ratio (Theil 1966) per event type: the
    * 3-day moving average as forecaster vs the lag-1 naïve no-change
    * forecast, U2 = √(Σ(ŷ−y)² / Σ(y₋₁−y)²) over the days where both
    * exist. MA errors are rational with denominator 3, so the sums
    * ride EXACT integers scaled by 9 (Σ(3ŷ−3y)² with 3ŷ = y₋₁+y₋₂+y₋₃
    * a plain BIGINT) against 9·Σ(y₋₁−y)²; the ratio closes in the
    * shared IEEE chain. U2 < 1 ⇔ the model beats naïve — the
    * go/no-go gate every q183/q335-style forecaster must pass.
    */
  private def qTheilU2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("d")
    Tables.events(s, dir)
      .groupBy(col("event_type"), dayofmonth(col("ts")).cast("long").as("d"))
      .agg(count(lit(1)).as("y"))
      .withColumn("y1", lag(col("y"), 1).over(w))
      .withColumn("y2", lag(col("y"), 2).over(w))
      .withColumn("y3", lag(col("y"), 3).over(w))
      .filter(col("y3").isNotNull)
      .groupBy("event_type").agg(
        count(lit(1)).as("n_days"),
        sum((col("y1") + col("y2") + col("y3") - col("y") * 3L)
          * (col("y1") + col("y2") + col("y3") - col("y") * 3L)).as("sse_ma"),
        sum((col("y1") - col("y")) * (col("y1") - col("y")) * 9L)
          .as("sse_naive9"))
      .select(col("event_type"), col("n_days"), col("sse_ma"),
        col("sse_naive9"),
        expr("""CASE WHEN sse_naive9 > 0 THEN CAST(floor(
               |  sqrt(CAST(sse_ma AS DOUBLE) / sse_naive9)
               |  * 1000000.0 + 0.5) AS BIGINT) END""".stripMargin)
          .as("u2_micro"))
      .orderBy("event_type")
  }
  // q441: MA(3)-vs-naive squared errors as exact integers scaled by
  // 9; sqrt-ratio close shared verbatim
  gate("q441_theil_u2")(qTheilU2(_, _))(
    """WITH daily AS (
      |  SELECT event_type, day(ts)::BIGINT AS d, COUNT(*)::BIGINT AS y
      |  FROM events GROUP BY 1, 2),
      |l AS (
      |  SELECT event_type, y,
      |    lag(y, 1) OVER w AS y1, lag(y, 2) OVER w AS y2,
      |    lag(y, 3) OVER w AS y3
      |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
      |agg AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n_days,
      |    SUM((y1 + y2 + y3 - y * 3) * (y1 + y2 + y3 - y * 3))::BIGINT
      |      AS sse_ma,
      |    SUM((y1 - y) * (y1 - y) * 9)::BIGINT AS sse_naive9
      |  FROM l WHERE y3 IS NOT NULL GROUP BY 1)
      |SELECT event_type, n_days, sse_ma, sse_naive9,
      |  CASE WHEN sse_naive9 > 0 THEN CAST(floor(
      |    sqrt(CAST(sse_ma AS DOUBLE) / sse_naive9)
      |    * 1000000.0 + 0.5) AS BIGINT) END AS u2_micro
      |FROM agg ORDER BY event_type""".stripMargin)

  /** Durbin–Watson on OLS-DETRENDED residuals — serial dependence
    * AFTER the linear trend is removed (q408's raw DW fires on any
    * trending series; this one only on genuine autocorrelation): the
    * day-index OLS fit stays rational with denominator
    * D = n·Σt²−(Σt)², so the D-scaled residual
    * ε̃ = D·y − (ΣyΣt² − ΣtΣty) − (nΣty − ΣtΣy)·t is an EXACT BIGINT
    * and D cancels in DW = Σ(ε̃ₜ−ε̃ₜ₋₁)²/Σε̃² — squares ride
    * DECIMAL(38,0) (ε̃ ~ 1e10 overflows a Long when squared), one
    * double division at the close.
    */
  private def qDwResidual(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), dayofmonth(col("ts")).cast("long").as("d"))
      .agg(count(lit(1)).as("y"))
    val mom = daily.groupBy("event_type").agg(
      count(lit(1)).as("n"), sum(col("d")).as("st"), sum(col("y")).as("sy"),
      sum(col("d") * col("d")).as("stt"), sum(col("d") * col("y")).as("sty"))
    val w = Window.partitionBy("event_type").orderBy("d")
    val e = daily.join(broadcast(mom), Seq("event_type"))
      .withColumn("dd", col("n") * col("stt") - col("st") * col("st"))
      .withColumn("e",
        col("dd") * col("y")
          - (col("sy") * col("stt") - col("st") * col("sty"))
          - (col("n") * col("sty") - col("st") * col("sy")) * col("d"))
      .withColumn("e1", lag(col("e"), 1).over(w))
    e.groupBy("event_type").agg(
        max(col("n")).as("n_days"),
        sum(expr("CAST(e AS DECIMAL(38,0)) * e")).as("see"),
        sum(expr("""CASE WHEN e1 IS NOT NULL
                   |THEN CAST(e - e1 AS DECIMAL(38,0)) * (e - e1)
                   |ELSE CAST(0 AS DECIMAL(38,0)) END""".stripMargin))
          .as("sdd"))
      .select(col("event_type"), col("n_days"),
        expr("""CASE WHEN n_days > 2 AND see > 0 THEN CAST(floor(
               |  CAST(sdd AS DOUBLE) / CAST(see AS DOUBLE)
               |  * 1000000.0 + 0.5) AS BIGINT) END""".stripMargin)
          .as("dw_resid_micro"))
      .orderBy("event_type")
  }
  // q445: D-scaled integer residuals; squares in HUGEINT; one
  // double division at the close
  gate("q445_dw_residual")(qDwResidual(_, _))(
    """WITH daily AS (
      |  SELECT event_type, day(ts)::BIGINT AS d, COUNT(*)::BIGINT AS y
      |  FROM events GROUP BY 1, 2),
      |mom AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n, SUM(d)::BIGINT AS st,
      |         SUM(y)::BIGINT AS sy, SUM(d * d)::BIGINT AS stt,
      |         SUM(d * y)::BIGINT AS sty
      |  FROM daily GROUP BY 1),
      |e AS (
      |  SELECT daily.event_type, daily.d, mom.n,
      |    ((mom.n * mom.stt - mom.st * mom.st) * daily.y
      |      - (mom.sy * mom.stt - mom.st * mom.sty)
      |      - (mom.n * mom.sty - mom.st * mom.sy) * daily.d)::BIGINT AS e
      |  FROM daily JOIN mom ON daily.event_type = mom.event_type),
      |l AS (
      |  SELECT event_type, n, e,
      |    lag(e, 1) OVER (PARTITION BY event_type ORDER BY d) AS e1
      |  FROM e),
      |agg AS (
      |  SELECT event_type, MAX(n)::BIGINT AS n_days,
      |    SUM(e::HUGEINT * e) AS see,
      |    SUM(CASE WHEN e1 IS NOT NULL
      |        THEN (e - e1)::HUGEINT * (e - e1)
      |        ELSE 0::HUGEINT END) AS sdd
      |  FROM l GROUP BY 1)
      |SELECT event_type, n_days,
      |  CASE WHEN n_days > 2 AND see > 0 THEN CAST(floor(
      |    CAST(sdd AS DOUBLE) / CAST(see AS DOUBLE)
      |    * 1000000.0 + 0.5) AS BIGINT) END AS dw_resid_micro
      |FROM agg ORDER BY event_type""".stripMargin)

  /** Rolling-origin forecast backtest (Tashman 2000) — the honest way
    * to score a forecaster: for each cutoff day c ∈ {25..28} freeze
    * history at c, forecast the naïve last value y_c, and score
    * horizons h ∈ {1,2,3} against the actual y_{c+h}. MAE per
    * (event type, horizon) in micros from exact integer |errors| —
    * horizon-1 vs horizon-3 degradation is the lead-time cost, which
    * q380's single-split MASE can't show. Equi-joins on (type, day);
    * the cutoff grid is a 4-literal explode.
    */
  private def qBacktest(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), dayofmonth(col("ts")).cast("long").as("d"))
      .agg(count(lit(1)).as("y"))
      .localCheckpoint()
    val grid = daily.select(col("event_type"), col("d").as("c"),
        col("y").as("y_base"))
      .filter(col("c").isin(25L, 26L, 27L, 28L))
      .withColumn("h", explode(array(lit(1L), lit(2L), lit(3L))))
    grid
      .join(daily.withColumnsRenamed(Map("d" -> "da", "y" -> "y_act")),
        Seq("event_type"))
      .filter(col("c") + col("h") === col("da"))
      .groupBy("event_type", "h")
      .agg(count(lit(1)).as("n_origins"),
        sum(abs(col("y_act") - col("y_base"))).as("sae"))
      .select(col("event_type"), col("h").as("horizon"), col("n_origins"),
        col("sae"),
        expr("(1000000 * sae) DIV n_origins").as("mae_micro"))
      .orderBy("event_type", "horizon")
  }
  // q449: cutoffs x horizons grid; exact integer absolute errors
  gate("q449_backtest")(qBacktest(_, _))(
    """WITH daily AS (
      |  SELECT event_type, day(ts)::BIGINT AS d, COUNT(*)::BIGINT AS y
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT event_type, d AS c, y AS y_base, h.h::BIGINT AS h
      |  FROM daily, (VALUES (1), (2), (3)) h(h)
      |  WHERE d IN (25, 26, 27, 28)),
      |joined AS (
      |  SELECT g.event_type, g.h,
      |         abs(a.y - g.y_base)::BIGINT AS err
      |  FROM grid g
      |  JOIN daily a ON a.event_type = g.event_type
      |    AND a.d = g.c + g.h)
      |SELECT event_type, h AS horizon, COUNT(*)::BIGINT AS n_origins,
      |  SUM(err)::BIGINT AS sae,
      |  ((1000000 * SUM(err)) // COUNT(*))::BIGINT AS mae_micro
      |FROM joined GROUP BY 1, 2 ORDER BY event_type, horizon""".stripMargin)

  /** Per-event decay-contribution fixture read for the q194 oracle —
    * same sfDir resolution as [[zfp]]; [[graft.sources.DecayFixture]]
    * (invoked by the q194 query def) materializes it.
    */
  private def dfp: String =
    s"read_parquet('${graft.sources.DecayFixture.dir(oracleSfDir)}/contrib.parquet/*.parquet')"
}
