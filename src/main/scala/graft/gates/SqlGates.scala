package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Similarity

import GateSupport._

/** SQL-surface gates: the reference operator inventory in SQL shapes
  * (q01–q10), joins, set ops, grouping sets, windows, nested and
  * semi-structured types, the file sources and catalog writes, and the
  * operators that are plain relational rewrites (skew, bucketing,
  * skyline, hierarchy).
  */
private[graft] object SqlGates extends GateFamily {

  // ---- q01–q10: reference operator inventory (SQL shapes) ----

  private def qGroupedCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("r1"), col("l_linestatus").as("r2"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("r1", "r2")
  gate("q01_grouped_count")(qGroupedCount(_, _))(
    """SELECT l_returnflag AS r1, l_linestatus AS r2, COUNT(*) AS cnt
      |FROM lineitem GROUP BY 1, 2 ORDER BY r1, r2""".stripMargin)

  private def qGroupedCountMany(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_suppkey").as("shape_id"), col("l_returnflag").as("r1"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("shape_id", "r1")
  gate("q02_grouped_count_many")(qGroupedCountMany(_, _))(
    """SELECT l_suppkey AS shape_id, l_returnflag AS r1, COUNT(*) AS cnt
      |FROM lineitem GROUP BY 1, 2 ORDER BY shape_id, r1""".stripMargin)

  /** NODATA (here: 0-discount) contributes 0.0 but still counts —
    * reference Geoprocessing.scala:266-270. */
  private def qAverage(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .agg(round(avg(coalesce(expr("nullif(l_discount, 0.0)"), lit(0.0))), 4).as("avg_v"))
  gate("q03_average")(qAverage(_, _))(
    """SELECT ROUND(AVG(COALESCE(NULLIF(l_discount, 0.0), 0.0)), 4) AS avg_v
      |FROM lineitem""".stripMargin)

  private def qGroupedAverage(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("r1"))
      .agg(round(avg(coalesce(expr("nullif(l_tax, 0.0)"), lit(0.0))), 4).as("avg_v"))
      .orderBy("r1")
  gate("q04_grouped_average")(qGroupedAverage(_, _))(
    """SELECT l_returnflag AS r1,
      |       ROUND(AVG(COALESCE(NULLIF(l_tax, 0.0), 0.0)), 4) AS avg_v
      |FROM lineitem GROUP BY 1 ORDER BY r1""".stripMargin)

  /** CHANGELOG-era RasterGroupedSum (reference CHANGELOG.md:151-153). */
  private def qGroupedSum(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("r1"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy("r1")
  gate("q05_grouped_sum")(qGroupedSum(_, _))(
    """SELECT l_returnflag AS r1, ROUND(SUM(l_quantity), 2) AS sum_qty
      |FROM lineitem GROUP BY 1 ORDER BY r1""".stripMargin)

  /** Distinct "pixels" then grouped count — reference
    * Geoprocessing.scala:225-227 dedups (values, TilePixel). */
  private def qLinesJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_returnflag").as("r1"), col("l_orderkey"), col("l_linenumber"))
      .distinct()
      .groupBy(col("r1"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("r1")
  gate("q06_lines_join")(qLinesJoin(_, _))(
    """SELECT r1, COUNT(*) AS cnt FROM (
      |  SELECT DISTINCT l_returnflag AS r1, l_orderkey, l_linenumber FROM lineitem
      |) GROUP BY 1 ORDER BY r1""".stripMargin)

  /** min/avg/max per "raster", input order preserved; avg counts every
    * masked pixel (reference Geoprocessing.scala:380-431). */
  private def qSummary(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    def one(cn: String): DataFrame =
      li.agg(
        round(min(col(cn)), 4).as("min_v"),
        round(max(col(cn)), 4).as("max_v"),
        round(sum(col(cn)) / count(lit(1)), 4).as("avg_v"))
        .select(lit(cn).as("raster"), col("min_v"), col("max_v"), col("avg_v"))
    one("l_quantity").unionByName(one("l_extendedprice")).unionByName(one("l_discount"))
      .orderBy("raster")
  }
  gate("q07_summary")(qSummary(_, _))(
    """SELECT 'l_quantity' AS raster, ROUND(MIN(l_quantity), 4) AS min_v,
      |       ROUND(MAX(l_quantity), 4) AS max_v,
      |       ROUND(SUM(l_quantity) / COUNT(*), 4) AS avg_v FROM lineitem
      |UNION ALL
      |SELECT 'l_extendedprice', ROUND(MIN(l_extendedprice), 4),
      |       ROUND(MAX(l_extendedprice), 4),
      |       ROUND(SUM(l_extendedprice) / COUNT(*), 4) FROM lineitem
      |UNION ALL
      |SELECT 'l_discount', ROUND(MIN(l_discount), 4), ROUND(MAX(l_discount), 4),
      |       ROUND(SUM(l_discount) / COUNT(*), 4) FROM lineitem
      |ORDER BY raster""".stripMargin)

  /** /multi batch: one shared (broadcast-joined) scan feeding several
    * ops, single union plan grouped by (shape, op) — SURVEY §3.2. */
  private[graft] def qMulti(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val ord = t(s, dir, "orders")
    val j = li.join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
    val grouped = j.groupBy(col("o_orderpriority").as("shape_id"), col("l_returnflag").as("grp"))
    val cnt = grouped.agg(count(lit(1)).cast("double").as("op_val"))
      .withColumn("op_label", lit("grouped_count"))
    val av = grouped.agg(round(avg(col("l_discount")), 4).as("op_val"))
      .withColumn("op_label", lit("grouped_average"))
    cnt.unionByName(av)
      .select(col("shape_id"), col("op_label"), col("grp"), col("op_val"))
      .orderBy("shape_id", "op_label", "grp")
  }
  gate("q08_multi")(qMulti(_, _))(
    """SELECT o_orderpriority AS shape_id, 'grouped_count' AS op_label,
      |       l_returnflag AS grp, CAST(COUNT(*) AS DOUBLE) AS op_val
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 3
      |UNION ALL
      |SELECT o_orderpriority, 'grouped_average', l_returnflag,
      |       ROUND(AVG(l_discount), 4)
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 3
      |ORDER BY shape_id, op_label, grp""".stripMargin)

  /** N-way full-outer align join with NODATA fill — reference
    * Utils.scala:221-232, sentinel Int.MinValue (CHANGELOG.md:52-63). */
  private def qJoinNodataFill(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .groupBy(col("c_nationkey").as("nation_key")).agg(count(lit(1)).as("cust_cnt"))
    val p = t(s, dir, "supplier")
      .groupBy(col("s_nationkey").as("nation_key")).agg(count(lit(1)).as("supp_cnt"))
    c.join(p, Seq("nation_key"), "full_outer")
      .select(col("nation_key"),
        coalesce(col("cust_cnt"), lit(-2147483648L)).as("cust_cnt"),
        coalesce(col("supp_cnt"), lit(-2147483648L)).as("supp_cnt"))
      .orderBy("nation_key")
  }
  gate("q09_join_nodata_fill")(qJoinNodataFill(_, _))(
    """SELECT nation_key, COALESCE(cust_cnt, -2147483648) AS cust_cnt,
      |       COALESCE(supp_cnt, -2147483648) AS supp_cnt
      |FROM (SELECT c_nationkey AS nation_key, COUNT(*) AS cust_cnt
      |      FROM customer GROUP BY 1) c
      |FULL OUTER JOIN (SELECT s_nationkey AS nation_key, COUNT(*) AS supp_cnt
      |                 FROM supplier GROUP BY 1) s USING (nation_key)
      |ORDER BY nation_key""".stripMargin)

  /** Key-range pruned scan + agg — reference Utils.scala:241-248
    * (`Intersects` pushdown ⇒ parquet min/max skipping here). */
  private def qPrunedScan(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_orderkey").between(1000, 8000))
      .groupBy(col("l_returnflag").as("r1"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy("r1")
  gate("q10_pruned_scan")(qPrunedScan(_, _))(
    """SELECT l_returnflag AS r1, COUNT(*) AS cnt,
      |       ROUND(SUM(l_extendedprice), 2) AS sum_price
      |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 8000
      |GROUP BY 1 ORDER BY r1""".stripMargin)

  private def qTopkPerGroup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("o_orderpriority").as("priority"), col("rank"),
        col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
      .orderBy("priority", "rank")
  }
  gate("q25_topk_per_group")(qTopkPerGroup(_, _))(
    """SELECT priority, rank, o_orderkey, price FROM (
      |  SELECT o_orderpriority AS priority,
      |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rank,
      |         o_orderkey, ROUND(o_totalprice, 2) AS price
      |  FROM orders)
      |WHERE rank <= 3 ORDER BY priority, rank""".stripMargin)

  /** Classic warehouse rollup: 4-table star join → revenue by nation
    * (the TPC-H Q5 family — broadcast dims, one fact shuffle).
    */
  private def qRevenueByNation(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val ord = t(s, dir, "orders")
    val cust = t(s, dir, "customer")
    val nat = t(s, dir, "nation")
    li.join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }
  gate("q46_revenue_by_nation")(qRevenueByNation(_, _))(
    """SELECT n_name,
      |       ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      |       COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1 ORDER BY n_name""".stripMargin)

  /** Semi/anti joins (EXISTS / NOT EXISTS shapes). */
  private def qSemiAnti(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val ord = t(s, dir, "orders").select(col("o_custkey"))
    val withO = cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_semi")
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
      .withColumn("tag", lit("has_orders"))
    val without = cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
      .withColumn("tag", lit("no_orders"))
    withO.unionByName(without).orderBy("tag", "k")
  }
  gate("q41_semi_anti")(qSemiAnti(_, _))(
    """SELECT c_custkey AS k, c_mktsegment AS seg, 'has_orders' AS tag
      |FROM customer WHERE EXISTS (
      |  SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |UNION ALL
      |SELECT c_custkey, c_mktsegment, 'no_orders'
      |FROM customer WHERE NOT EXISTS (
      |  SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY tag, k""".stripMargin)

  /** Array-function suite over the embedding vectors. */
  private def qArrayOps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
      .select(col("vec_id"),
        size(col("v")).cast("long").as("dim"),
        round(array_min(col("v")), 4).as("min_x"),
        round(array_max(col("v")), 4).as("max_x"),
        round(expr("aggregate(v, 0.0D, (a, x) -> a + x)") / size(col("v")), 4).as("mean_x"),
        round(sqrt(Similarity.dot(col("v"), col("v"))), 4).as("l2"))
      .orderBy("vec_id")
  gate("q42_array_ops")(qArrayOps(_, _))(
    """SELECT vec_id,
      |       len(v)::BIGINT AS dim,
      |       ROUND(list_min(v), 4) AS min_x,
      |       ROUND(list_max(v), 4) AS max_x,
      |       ROUND(list_reduce(v, (a, x) -> a + x) / len(v), 4) AS mean_x,
      |       ROUND(sqrt(list_dot_product(v, v)), 4) AS l2
      |FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      |ORDER BY vec_id""".stripMargin)

  /** Exact distinct aggregation (expand + two-phase in Spark). */
  private def qDistinctAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("cnt"))
      .orderBy("event_type")
  gate("q36_distinct_agg")(qDistinctAgg(_, _))(
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS cnt
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)

  /** Set operators: INTERSECT / EXCEPT between key sets. */
  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").select(col("c_custkey").as("k"))
    val ord = t(s, dir, "orders").select(col("o_custkey").as("k"))
    val both = cust.intersect(ord).withColumn("tag", lit("with_orders"))
    val none = cust.except(ord).withColumn("tag", lit("without_orders"))
    both.unionByName(none).orderBy("tag", "k")
  }
  gate("q37_set_ops")(qSetOps(_, _))(
    """SELECT k, 'with_orders' AS tag FROM (
      |  SELECT c_custkey AS k FROM customer
      |  INTERSECT SELECT o_custkey FROM orders)
      |UNION ALL
      |SELECT k, 'without_orders' FROM (
      |  SELECT c_custkey AS k FROM customer
      |  EXCEPT SELECT o_custkey FROM orders)
      |ORDER BY tag, k""".stripMargin)

  /** ROLLUP hierarchy totals with GROUPING markers. */
  private def qRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("sum_qty"),
        grouping_id().cast("long").as("gid"))
      .select(coalesce(col("l_returnflag"), lit("<all>")).as("r1"),
        coalesce(col("l_linestatus"), lit("<all>")).as("r2"),
        col("cnt"), col("sum_qty"), col("gid"))
      .orderBy("gid", "r1", "r2")
  gate("q38_rollup")(qRollup(_, _))(
    """SELECT COALESCE(l_returnflag, '<all>') AS r1,
      |       COALESCE(l_linestatus, '<all>') AS r2,
      |       COUNT(*) AS cnt, ROUND(SUM(l_quantity), 2) AS sum_qty,
      |       GROUPING(l_returnflag, l_linestatus)::BIGINT AS gid
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY gid, r1, r2""".stripMargin)

  /** Pivot (conditional aggregation) of quantity by return flag. */
  private def qPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_linestatus").as("status"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(round(sum(col("l_quantity")), 2))
      .withColumnsRenamed(Map("A" -> "qty_a", "N" -> "qty_n", "R" -> "qty_r"))
      .orderBy("status")
  gate("q39_pivot")(qPivot(_, _))(
    """SELECT l_linestatus AS status,
      |       ROUND(SUM(l_quantity) FILTER (l_returnflag = 'A'), 2) AS qty_a,
      |       ROUND(SUM(l_quantity) FILTER (l_returnflag = 'N'), 2) AS qty_n,
      |       ROUND(SUM(l_quantity) FILTER (l_returnflag = 'R'), 2) AS qty_r
      |FROM lineitem GROUP BY 1 ORDER BY status""".stripMargin)

  /** Semi-structured JSON column: extract + typed aggregate, the
    * standard props-payload shape (Spark `get_json_object` vs DuckDB
    * `json_extract`).
    */
  private def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")
  gate("q35_json_extract")(qJsonExtract(_, _))(
    """SELECT event_type, COUNT(*) AS cnt,
      |       SUM(CAST(json_extract(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
      |       MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
      |       MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)

  /** Spark 4's `WITH RECURSIVE` SQL surface (UnionLoop) — the one
    * notable SQL spelling the suite didn't exercise (the CC/k-hop
    * CAPABILITY is covered by q51/q128/q175). Spark's recursive CTE
    * supports only UNION ALL ([UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE]),
    * under which cyclic label propagation diverges, so the gate walks a
    * provably terminating LINEAR recursion instead: each customer's
    * order chain in (o_orderdate, o_orderkey) order via a
    * lag-precomputed predecessor pointer — every row is generated
    * exactly once (unique prev), depth = the longest chain (~25 at
    * sf0.1, inside the default level limit of 100) — accumulating
    * chain position and the running cents total. DuckDB runs the
    * IDENTICAL recursive CTE.
    */
  private def qRecursiveChain(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("q316_orders")
    // Round-14 optimization (guide §1.3/§2: move loop-invariant work
    // out of the loop): Spark inlines non-recursive CTEs, so with
    // `chain` spelled inside the WITH RECURSIVE each UnionLoop
    // iteration (~25 at sf0.1) re-ran the lag window over all of
    // orders — ~0.45 s/iteration, 10.9–12.4 s per run. The chain
    // (lag-predecessor pointers) is loop-INVARIANT: materialize it
    // once behind a checkpointed temp view and let the recursion join
    // against the materialized rows. The recursive CTE itself — the
    // surface this gate exists to exercise — and every emitted row are
    // unchanged; the DuckDB oracle still runs the original one-piece
    // recursive CTE.
    // Round-15 (judge item 7): the hoisted chain moved from
    // localCheckpoint() to a parquet spill-and-readback. The
    // localCheckpoint pinned one MEMORY_AND_DISK block per chain row on
    // executors with TRUNCATED lineage — unrecoverable on executor loss
    // mid-query at scale, and each bench sweep's unpersist logged a
    // "locally checkpointed" WARN that flooded the driver log tail. The
    // parquet spill is re-derivable (a plain scan), sized by AQE
    // coalescing, and still computed from the inputs on EVERY
    // invocation (overwrite precedes the read-back), so nothing is
    // cached across runs. Same hoist, same rows, same oracle. The spill
    // goes to a fresh per-invocation directory so two drivers sharing a
    // scratch root never overwrite each other's chain; the returned plan
    // reads it lazily, so it is removed at JVM exit, not here.
    val chainDir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(GraftSession.scratchDir(s)), "graft_q316_chain_").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(chainDir): Unit)
    val chainPath = new java.io.File(chainDir, "chain").getAbsolutePath
    s.sql(
      """SELECT o_custkey AS k, o_orderkey AS id,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |       lag(o_orderkey) OVER (PARTITION BY o_custkey
        |         ORDER BY o_orderdate, o_orderkey) AS prev
        |FROM q316_orders""".stripMargin)
      .write.mode("overwrite").parquet(chainPath)
    s.read.parquet(chainPath).createOrReplaceTempView("q316_chain")
    s.sql(
      """WITH RECURSIVE walk(k, id, seq, run_cents) AS (
        |  SELECT k, id, CAST(1 AS BIGINT), cents FROM q316_chain WHERE prev IS NULL
        |  UNION ALL
        |  SELECT /*+ BROADCAST(w) */ c.k, c.id, w.seq + 1, w.run_cents + c.cents
        |  FROM walk w JOIN q316_chain c ON c.prev = w.id
        |)
        |SELECT k AS o_custkey, id AS o_orderkey, seq, run_cents
        |FROM walk ORDER BY o_custkey, seq""".stripMargin)
  }
  // q316: the IDENTICAL linear recursive CTE — lag-precomputed
  // predecessor, seed = chain heads, one UNION ALL step per hop
  gate("q316_recursive_chain")(qRecursiveChain(_, _))(
    """WITH RECURSIVE chain AS (
      |  SELECT o_custkey AS k, o_orderkey AS id,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |         lag(o_orderkey) OVER (PARTITION BY o_custkey
      |           ORDER BY o_orderdate, o_orderkey) AS prev
      |  FROM orders
      |), walk(k, id, seq, run_cents) AS (
      |  SELECT k, id, CAST(1 AS BIGINT), cents FROM chain WHERE prev IS NULL
      |  UNION ALL
      |  SELECT c.k, c.id, w.seq + 1, w.run_cents + c.cents
      |  FROM walk w JOIN chain c ON c.prev = w.id
      |)
      |SELECT k AS o_custkey, id AS o_orderkey, seq, run_cents
      |FROM walk ORDER BY o_custkey, seq""".stripMargin)

  /** Window-function suite: lag/lead, ntile, cume_dist, running sum.
    * The running sum is over CENTS AS BIGINT — integer window sums are
    * exact, where a double running sum's engine-specific addition
    * order (DuckDB uses segment trees) could flip a rounding at this
    * row count.
    */
  private def qWindowSuite(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("cents", expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
      .select(
        col("o_orderkey"), col("o_orderpriority").as("prio"),
        round(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price"),
        round(lead(col("o_totalprice"), 1).over(w), 2).as("next_price"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(cume_dist().over(w), 6).as("cd"),
        sum(col("cents")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("run_sum_cents"))
      .orderBy("o_orderkey")
  }
  gate("q58_window_suite")(qWindowSuite(_, _))(
    """SELECT o_orderkey, o_orderpriority AS prio,
      |  ROUND(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
      |  ROUND(lead(o_totalprice, 1) OVER w, 2) AS next_price,
      |  ntile(4) OVER w AS quartile,
      |  ROUND(cume_dist() OVER w, 6) AS cd,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
      |    OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey
      |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_sum_cents
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)
      |ORDER BY o_orderkey""".stripMargin)

  /** CUBE (all 4 grouping sets of 2 dims) with grouping_id — the
    * grouping-sets surface beyond q38's ROLLUP. gid is also derivable
    * from the NULL pattern since the data columns are never NULL,
    * which is what the DuckDB oracle does.
    */
  private def qCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("sum_qty"),
        grouping_id().cast("long").as("gid"))
      .select(coalesce(col("l_returnflag"), lit("<all>")).as("r1"),
        coalesce(col("l_linestatus"), lit("<all>")).as("r2"),
        col("cnt"), col("sum_qty"), col("gid"))
      .orderBy("gid", "r1", "r2")
  gate("q62_cube")(qCube(_, _))(
    """SELECT COALESCE(l_returnflag, '<all>') AS r1,
      |       COALESCE(l_linestatus, '<all>') AS r2,
      |       COUNT(*) AS cnt, ROUND(SUM(l_quantity), 2) AS sum_qty,
      |       ((l_returnflag IS NULL)::INT * 2 + (l_linestatus IS NULL)::INT)::BIGINT AS gid
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY gid, r1, r2""".stripMargin)

  /** Correlated scalar subquery (Catalyst decorrelates it to an
    * aggregate + join — no per-row re-execution at any scale).
    */
  private def qCorrelated(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    // "price above the group average" in EXACT integer math:
    // cents·count > sum(cents) avoids hash-comparing a count that flips
    // when a price sits within float ulps of AVG (engine sum order
    // differs) — the q58 cents-as-BIGINT invariant. Two correlated
    // scalar subqueries; Catalyst decorrelates both into one aggregate.
    s.sql(
      """WITH o AS (SELECT o_orderpriority,
        |                  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders_v)
        |SELECT o_orderpriority AS prio, COUNT(*) AS n_above
        |FROM o o1
        |WHERE cents * (SELECT COUNT(*) FROM o o2
        |               WHERE o2.o_orderpriority = o1.o_orderpriority)
        |      > (SELECT SUM(cents) FROM o o3
        |         WHERE o3.o_orderpriority = o1.o_orderpriority)
        |GROUP BY o_orderpriority ORDER BY prio""".stripMargin)
  }
  gate("q63_correlated")(qCorrelated(_, _))(
    """WITH o AS (SELECT o_orderpriority,
      |                  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      |           FROM orders)
      |SELECT o_orderpriority AS prio, COUNT(*) AS n_above
      |FROM o o1
      |WHERE cents * (SELECT COUNT(*) FROM o o2
      |               WHERE o2.o_orderpriority = o1.o_orderpriority)
      |      > (SELECT SUM(cents)::BIGINT FROM o o3
      |         WHERE o3.o_orderpriority = o1.o_orderpriority)
      |GROUP BY o_orderpriority ORDER BY prio""".stripMargin)

  /** Salted skew join ([[graft.operators.SkewJoin.saltedJoin]]): the
    * salt spreads each fact key over 8 buckets and replicates the dim
    * side — the oracle is the PLAIN join, proving salting is
    * result-invariant.
    */
  private def qSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_extendedprice"))
    val dim = t(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderpriority"))
    graft.operators.SkewJoin.saltedJoin(fact, dim, "k", buckets = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy("o_orderpriority")
  }
  // q92: the oracle is the UNSALTED join — salting must be
  // result-invariant
  gate("q92_salted_join")(qSaltedJoin(_, _))(
    """SELECT o.o_orderpriority,
      |       count(*) AS cnt,
      |       round(sum(l.l_extendedprice), 2) AS sum_price
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)

  /** Arbitrary GROUPING SETS (beyond the q38 rollup / q62 cube
    * shapes): two non-hierarchical sets + grand total in ONE Expand —
    * a single pass over the scan, not a UNION of three aggregations.
    * `grouping()` flags disambiguate NULL-as-group from NULL-as-total.
    */
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_gs_v")
    s.sql(
      """SELECT o_orderpriority AS prio, o_orderstatus AS status,
        |       CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
        |       CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
        |       COUNT(*) AS cnt,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders_gs_v
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        |ORDER BY g_prio, g_status, prio, status""".stripMargin)
  }
  // q102: same sets, same grouping() flags
  gate("q102_grouping_sets")(qGroupingSets(_, _))(
    """SELECT o_orderpriority AS prio, o_orderstatus AS status,
      |       grouping(o_orderpriority)::BIGINT AS g_prio,
      |       grouping(o_orderstatus)::BIGINT AS g_status,
      |       COUNT(*) AS cnt,
      |       SUM(ROUND(o_totalprice * 100)::BIGINT)::BIGINT AS cents
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
      |ORDER BY g_prio, g_status, prio, status""".stripMargin)

  /** Skyline gate ([[graft.operators.Skyline]]): the
    * (quantity, price) Pareto front of lineitem — cheapest price at
    * every quantity level not beaten by a smaller quantity. The
    * engine runs the distributed staircase (per-x reduction +
    * range-partitioned running min); the oracle runs the textbook
    * independent algorithm (NOT EXISTS dominance over the per-x
    * minima). Raw doubles pass through untouched on both sides — min
    * of exact values needs no rounding.
    */
  private def qSkyline(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skyline.paretoFront2D(
      t(s, dir, "lineitem")
        .select(col("l_quantity").as("x"), col("l_extendedprice").as("y")),
      "x", "y")
      .orderBy("x")
  // q110: textbook dominance check over the per-x minima (the only
  // front candidates) — an algorithm independent of the engine's
  // staircase scan
  // eager: Prefix collects range-partition offsets
  gate("q110_skyline", eager = true)(qSkyline(_, _))(
    """WITH c AS (SELECT l_quantity AS x, MIN(l_extendedprice) AS y
      |           FROM lineitem GROUP BY 1)
      |SELECT x, y FROM c p
      |WHERE NOT EXISTS (SELECT 1 FROM c q WHERE q.x < p.x AND q.y <= p.y)
      |ORDER BY x""".stripMargin)

  /** Hierarchy gate ([[graft.operators.Hierarchy]]): a deterministic
    * forest over customer keys (parent = k DIV 7; k < 7 are roots)
    * resolved to (id, root, depth) by log-round pointer doubling; the
    * oracle is DuckDB's REAL `WITH RECURSIVE` — row-at-a-time
    * recursion versus the engine's doubling must agree exactly.
    */
  private def qHierarchy(s: SparkSession, dir: String): DataFrame = {
    val nodes = t(s, dir, "customer").select(
      col("c_custkey").as("id"),
      when(col("c_custkey") >= 7, expr("c_custkey DIV 7")).as("parent"))
    graft.operators.Hierarchy.resolveRoots(nodes, "id", "parent")
      .orderBy("id")
  }
  // q117: actual row-at-a-time recursion vs the engine's doubling
  // eager: runs the pointer-doubling rounds
  gate("q117_hierarchy", eager = true)(qHierarchy(_, _))(
    """WITH RECURSIVE r AS (
      |  SELECT c_custkey AS id, c_custkey AS root, 0::BIGINT AS depth
      |  FROM customer WHERE c_custkey < 7
      |  UNION ALL
      |  SELECT c.c_custkey, r.root, r.depth + 1
      |  FROM customer c JOIN r ON c.c_custkey // 7 = r.id
      |  WHERE c.c_custkey >= 7)
      |SELECT id, root, depth FROM r ORDER BY id""".stripMargin)

  /** Null-aware anti-join gate — `NOT IN (subquery)` three-valued
    * logic, the corner where a LeftAnti rewrite is WRONG and Spark
    * must plan a null-aware anti join: a clean list behaves like
    * anti-join; one NULL in the list makes `x NOT IN (...)` UNKNOWN
    * for every x, so the branch returns zero rows. Both branches
    * gated against DuckDB executing the identical ANSI SQL.
    */
  private def qNullAwareAntiJoin(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("v_orders")
    t(s, dir, "customer").createOrReplaceTempView("v_customer")
    s.sql(
      """SELECT 'clean_list' AS branch, COUNT(*) AS n FROM v_orders
        |WHERE o_custkey NOT IN
        |  (SELECT c_custkey FROM v_customer WHERE c_custkey % 3 = 0)
        |UNION ALL
        |SELECT 'null_in_list' AS branch, COUNT(*) AS n FROM v_orders
        |WHERE o_custkey NOT IN
        |  (SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL ELSE c_custkey END
        |   FROM v_customer WHERE c_custkey % 3 = 0)
        |ORDER BY branch""".stripMargin)
  }
  // q120: identical ANSI SQL — NOT IN three-valued logic
  gate("q120_null_aware_anti")(qNullAwareAntiJoin(_, _))(
    """SELECT 'clean_list' AS branch, COUNT(*) AS n FROM orders
      |WHERE o_custkey NOT IN
      |  (SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0)
      |UNION ALL
      |SELECT 'null_in_list' AS branch, COUNT(*) AS n FROM orders
      |WHERE o_custkey NOT IN
      |  (SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL ELSE c_custkey END
      |   FROM customer WHERE c_custkey % 3 = 0)
      |ORDER BY branch""".stripMargin)

  /** Semi-structured VARIANT ingestion (Spark 4's native path for the
    * open-schema `props` column): `parse_json` → typed `variant_get`
    * extraction, `try_variant_get` null-on-missing semantics, and
    * `schema_of_variant` shape profiling — the modern replacement for
    * string-path `get_json_object` at corpus scale (parse once,
    * extract many, binary-encoded). The oracle recomputes every
    * aggregate from DuckDB's JSON functions; the schema-count column
    * compares COUNT(DISTINCT) of each engine's own shape string.
    */
  private def qVariantExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), expr("parse_json(props)").as("v"))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'bigint')").as("k"),
        expr("try_variant_get(v, '$.missing', 'bigint')").as("m"),
        expr("schema_of_variant(v)").as("sch"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        sum(when(col("m").isNull, 1L).otherwise(0L)).as("n_missing"),
        countDistinct(col("sch")).as("n_schemas"))
      .orderBy("event_type")
  // q143: DuckDB's JSON functions recompute every VARIANT aggregate;
  // n_missing = COUNT(*) because '$.missing' is absent from every
  // props object; n_schemas compares each engine's own COUNT(DISTINCT
  // shape-string) — both data-derived
  gate("q143_variant_extract")(qVariantExtract(_, _))(
    """SELECT event_type, COUNT(*) AS cnt,
      |  SUM(CAST(json_extract(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
      |  MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
      |  COUNT(*)::BIGINT AS n_missing,
      |  COUNT(DISTINCT json_structure(props))::BIGINT AS n_schemas
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)

  /** Schema-evolution read — two parquet "generations" (gen2 adds a
    * `quality` column) merged by `mergeSchema`; rows from gen1 carry
    * NULL quality. Gates the union-by-name source path every
    * long-lived lake depends on ([[graft.sources.FormatsFixture]]).
    */
  private def qSchemaMerge(s: SparkSession, dir: String): DataFrame = {
    val d = graft.sources.FormatsFixture.ensure(s, dir)
    s.read.option("mergeSchema", "true")
      .parquet(s"$d/docs_gen1", s"$d/docs_gen2")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("quality").isNull.cast("long")).as("n_null_quality"),
        sum(col("quality")).as("sum_quality"),
        sum(length(col("text")).cast("long")).as("sum_chars"))
  }
  // q200: DuckDB's union_by_name read of the same two generations
  // eager: writes the formats fixture on first construction
  gate("q200_schema_merge", eager = true)(qSchemaMerge(_, _))(
    s"""SELECT COUNT(*)::BIGINT AS n_rows,
       |  SUM(CASE WHEN quality IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_quality,
       |  SUM(quality)::BIGINT AS sum_quality,
       |  SUM(length(text))::BIGINT AS sum_chars
       |FROM read_parquet(['$ffd/docs_gen1/*.parquet',
       |                   '$ffd/docs_gen2/*.parquet'], union_by_name=true)""".stripMargin)

  /** Hive-partitioned scan with partition pruning — events written
    * `partitionBy(event_type)`, read back filtered to two partition
    * values (the filter prunes at the DIRECTORY level — `.explain`
    * shows PartitionFilters, not data filters). The oracle computes
    * the same aggregate from the original table, so layout round-trip
    * + pruning semantics are value-gated.
    */
  private def qPartitionedScan(s: SparkSession, dir: String): DataFrame = {
    val d = graft.sources.FormatsFixture.ensure(s, dir)
    s.read.parquet(s"$d/events_bytype")
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy("event_type")
  }
  // q201/q202: the oracle aggregates the ORIGINAL table — the gates
  // prove the partitioned/JSONL round-trips are value-lossless
  // eager: writes the formats fixture on first construction
  gate("q201_partitioned_scan", eager = true)(qPartitionedScan(_, _))(
    """SELECT event_type, COUNT(*)::BIGINT AS n,
      |       SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents
      |FROM events WHERE event_type IN ('view', 'purchase')
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** JSON-lines source round-trip — the same event rows through
    * `.write.json` / schema-given `.read.json` (integer-encoded time,
    * so the text round-trip is exact), aggregated per type. Gates the
    * semi-structured ingest path.
    */
  private def qJsonlSource(s: SparkSession, dir: String): DataFrame = {
    val d = graft.sources.FormatsFixture.ensure(s, dir)
    s.read.schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
        "cents BIGINT, tu BIGINT")
      .json(s"$d/events_jsonl")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        sum(col("tu")).as("sum_tu"))
      .orderBy("event_type")
  }
  // eager: writes the formats fixture on first construction
  gate("q202_jsonl_source", eager = true)(qJsonlSource(_, _))(
    """SELECT event_type, COUNT(*)::BIGINT AS n,
      |       SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents,
      |       SUM(epoch_us(ts) - 1704067200000000)::BIGINT AS sum_tu
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** CSV source round-trip (header + schema-given read) — completes
    * the format trio with q201 (parquet layout) and q202 (JSONL);
    * different aggregate so the three gates are independent.
    */
  private def qCsvSource(s: SparkSession, dir: String): DataFrame = {
    val d = graft.sources.FormatsFixture.ensure(s, dir)
    s.read.option("header", "true")
      .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
        "cents BIGINT, tu BIGINT")
      .csv(s"$d/events_csv")
      .groupBy(expr("user_id % 10").as("cohort"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        max(col("event_id")).as("max_id"))
      .orderBy("cohort")
  }
  // q203: original-table aggregate — CSV round-trip value-lossless
  gate("q203_csv_source")(qCsvSource(_, _))(
    """SELECT CAST(user_id % 10 AS BIGINT) AS cohort, COUNT(*)::BIGINT AS n,
      |       SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents,
      |       MAX(event_id)::BIGINT AS max_id
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** ORC source round-trip — the same event rows through `.write.orc`
    * / `.read.orc` (Spark's other native columnar format; binary-typed
    * so no text-encoding caveats), aggregated per type. Completes the
    * format matrix: parquet (everywhere), hive-partitioned parquet
    * (q201), JSONL (q202), CSV (q203), ORC (here).
    */
  private def qOrcSource(s: SparkSession, dir: String): DataFrame = {
    val d = graft.sources.FormatsFixture.ensure(s, dir)
    s.read.orc(s"$d/events_orc")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        sum(col("tu")).as("sum_tu"))
      .orderBy("event_type")
  }
  // q210: original-table aggregate — ORC round-trip is value-lossless
  gate("q210_orc_source")(qOrcSource(_, _))(
    """SELECT event_type, COUNT(*)::BIGINT AS n,
      |       SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents,
      |       SUM(epoch_us(ts) - 1704067200000000)::BIGINT AS sum_tu
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Dynamic partition overwrite (the incremental-lake writer
    * semantics): a partitioned table gets ONE partition rewritten in
    * place — `partitionOverwriteMode=dynamic` replaces only the
    * partitions present in the incoming frame, leaving the rest
    * untouched (static mode would wipe the table). The gate doubles
    * the `error` partition's cents and proves the other partitions
    * survived the second write.
    */
  private def qDynPartOverwrite(s: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_dpo_$tag"
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    // full static overwrite first: each run starts from the same state
    ev.write.partitionBy("event_type").mode("overwrite").parquet(out)
    val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      ev.filter(col("event_type") === "error")
        .withColumn("cents", col("cents") * 2L)
        .write.partitionBy("event_type").mode("overwrite").parquet(out)
    finally prev match {
      case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    s.read.parquet(out).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy("event_type")
  }
  // q220: the read-back equals events with the error partition's
  // cents doubled — only if dynamic overwrite left the rest intact
  gate("q220_dyn_part_overwrite")(qDynPartOverwrite(_, _))(
    """SELECT event_type, COUNT(*)::BIGINT AS n,
      |       SUM(CAST(round(value * 100) AS BIGINT)
      |           * CASE WHEN event_type = 'error' THEN 2 ELSE 1 END)::BIGINT
      |         AS sum_cents
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** TPC-H Q5's 6-table shape (region → nation → customer → orders →
    * lineitem → supplier, with the LOCAL-supplier equality
    * s_nationkey = c_nationkey): the canonical Catalyst join-reorder /
    * broadcast showcase — four dimension sides broadcast, the
    * fact-fact lineitem⋈orders shuffle is the only exchange. Revenue
    * in exact per-row cents.
    */
  private def qTpchQ5(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .withColumn("rev_c",
        expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
    val asia = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
    val nat = broadcast(t(s, dir, "nation").join(asia,
      col("n_regionkey") === col("r_regionkey")))
    val cust = broadcast(t(s, dir, "customer").join(nat,
      col("c_nationkey") === col("n_nationkey")))
    val supp = broadcast(t(s, dir, "supplier"))
    li.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev_c")).as("revenue_c"), count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }
  // q226: the textbook Q5 join tree; revenue in exact per-row cents
  gate("q226_tpch_q5")(qTpchQ5(_, _))(
    """SELECT n_name,
      |       SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
      |                AS BIGINT))::BIGINT AS revenue_c,
      |       COUNT(*)::BIGINT AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |             AND s_nationkey = c_nationkey
      |WHERE r_name = 'ASIA'
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Referential-integrity audit (the pre-publish FK screen): orphan
    * counts and row totals for every declared relationship in the
    * star — each check one anti-join on its key, partial-aggregated.
    */
  private def qFkIntegrity(s: SparkSession, dir: String): DataFrame = {
    def check(name: String, child: DataFrame, childKey: String,
              parent: DataFrame, parentKey: String): DataFrame = {
      val total = child.agg(count(lit(1)).as("n_rows"))
        .withColumn("relation", lit(name))
      val orphans = child.join(parent,
          child(childKey) === parent(parentKey), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .withColumn("relation", lit(name))
      total.join(orphans, "relation")
    }
    val li = t(s, dir, "lineitem"); val ord = t(s, dir, "orders")
    check("lineitem.l_orderkey->orders", li, "l_orderkey", ord, "o_orderkey")
      .union(check("lineitem.l_partkey->part", li, "l_partkey",
        t(s, dir, "part"), "p_partkey"))
      .union(check("lineitem.l_suppkey->supplier", li, "l_suppkey",
        t(s, dir, "supplier"), "s_suppkey"))
      .union(check("orders.o_custkey->customer", ord, "o_custkey",
        t(s, dir, "customer"), "c_custkey"))
      .union(check("customer.c_nationkey->nation", t(s, dir, "customer"),
        "c_nationkey", t(s, dir, "nation"), "n_nationkey"))
      .union(check("events.user_id->customer", Tables.events(s, dir),
        "user_id", t(s, dir, "customer"), "c_custkey"))
      .select(col("relation"), col("n_rows"), col("n_orphans"))
      .orderBy("relation")
  }
  // q228: one anti-join per declared relationship
  gate("q228_fk_integrity")(qFkIntegrity(_, _))(
    """SELECT * FROM (
      |  SELECT 'lineitem.l_orderkey->orders' AS relation,
      |         (SELECT COUNT(*) FROM lineitem)::BIGINT AS n_rows,
      |         (SELECT COUNT(*) FROM lineitem l ANTI JOIN orders o
      |            ON l.l_orderkey = o.o_orderkey)::BIGINT AS n_orphans
      |  UNION ALL SELECT 'lineitem.l_partkey->part',
      |         (SELECT COUNT(*) FROM lineitem)::BIGINT,
      |         (SELECT COUNT(*) FROM lineitem l ANTI JOIN part p
      |            ON l.l_partkey = p.p_partkey)::BIGINT
      |  UNION ALL SELECT 'lineitem.l_suppkey->supplier',
      |         (SELECT COUNT(*) FROM lineitem)::BIGINT,
      |         (SELECT COUNT(*) FROM lineitem l ANTI JOIN supplier s
      |            ON l.l_suppkey = s.s_suppkey)::BIGINT
      |  UNION ALL SELECT 'orders.o_custkey->customer',
      |         (SELECT COUNT(*) FROM orders)::BIGINT,
      |         (SELECT COUNT(*) FROM orders o ANTI JOIN customer c
      |            ON o.o_custkey = c.c_custkey)::BIGINT
      |  UNION ALL SELECT 'customer.c_nationkey->nation',
      |         (SELECT COUNT(*) FROM customer)::BIGINT,
      |         (SELECT COUNT(*) FROM customer c ANTI JOIN nation n
      |            ON c.c_nationkey = n.n_nationkey)::BIGINT
      |  UNION ALL SELECT 'events.user_id->customer',
      |         (SELECT COUNT(*) FROM events)::BIGINT,
      |         (SELECT COUNT(*) FROM events e ANTI JOIN customer c
      |            ON e.user_id = c.c_custkey)::BIGINT)
      |ORDER BY relation""".stripMargin)

  /** Small-file compaction (the lakehouse maintenance op): an
    * 8-file fragmented write compacted to 2 range-partitioned files;
    * the gate reads both generations back and proves file count (via
    * `input_file_name`), row count and checksum — compaction must be
    * a pure layout change.
    */
  private def qCompaction(s: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName
    // round 15: gate-internal writes ride the session scratch (tmpfs
    // under the round-9 redirect) instead of physical /tmp — the gate
    // measures compaction accounting, not ambient root-disk fsync
    // latency (see GraftSession.scratchDir)
    val base = s"${GraftSession.scratchDir(s)}/graft_compact_$tag"
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    docs.repartition(8, col("doc_id"))
      .write.mode("overwrite").parquet(s"$base/small")
    s.read.parquet(s"$base/small").repartitionByRange(2, col("doc_id"))
      .write.mode("overwrite").parquet(s"$base/compact")
    // input_file_name is nondeterministic to Catalyst: project it to a
    // column first, aggregate the column
    def stats(stage: String, path: String) =
      s.read.parquet(path)
        .withColumn("__f", input_file_name())
        .agg(countDistinct(col("__f")).as("n_files"),
          count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
        .withColumn("stage", lit(stage))
    stats("before", s"$base/small").union(stats("after", s"$base/compact"))
      .select(col("stage"), col("n_files"), col("n_rows"), col("sum_chars"))
      .orderBy("stage")
  }
  // q233: layout-only invariants — 8 fragments become 2, rows and
  // checksum unchanged
  gate("q233_compaction")(qCompaction(_, _))(
    """SELECT * FROM (
      |  SELECT 'before' AS stage, 8::BIGINT AS n_files,
      |         COUNT(*)::BIGINT AS n_rows, SUM(n_chars)::BIGINT AS sum_chars
      |  FROM documents
      |  UNION ALL
      |  SELECT 'after', 2::BIGINT, COUNT(*)::BIGINT, SUM(n_chars)::BIGINT
      |  FROM documents)
      |ORDER BY stage""".stripMargin)

  /** Per-key quota capping (the crawl-source / user rate-limit op):
    * each (user, day) keeps its first 5 events under the (tu,
    * event_id) total order; the gate reports per-day kept/dropped
    * mass. One key-partitioned row_number window — the drop rule is a
    * pure rank predicate, so it composes with any downstream op
    * without a second shuffle on the same key.
    */
  private def qQuotaCap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("user_id"),
      to_date(col("ts")).as("day"), unix_micros(col("ts")).as("tu"),
      col("event_id"))
    val w = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("tu"), col("event_id"))
    e.withColumn("rn", row_number().over(w))
      .withColumn("kept", (col("rn") <= 5).cast("long"))
      .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"), sum(col("kept")).as("n_kept"),
        (count(lit(1)) - sum(col("kept"))).as("n_dropped"),
        countDistinct(when(col("kept") === 0L, col("user_id"))).as("n_capped_users"))
      .orderBy("day")
  }
  // q236: identical rank-predicate quota under (tu, event_id)
  gate("q236_quota_cap")(qQuotaCap(_, _))(
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, epoch_us(ts) AS tu, event_id
      |  FROM events),
      |r AS (
      |  SELECT user_id, day,
      |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, day
      |                                 ORDER BY tu, event_id) <= 5
      |         THEN 1 ELSE 0 END AS kept
      |  FROM e)
      |SELECT strftime(day, '%Y-%m-%d') AS day, COUNT(*)::BIGINT AS n_events,
      |       SUM(kept)::BIGINT AS n_kept,
      |       (COUNT(*) - SUM(kept))::BIGINT AS n_dropped,
      |       COUNT(DISTINCT CASE WHEN kept = 0 THEN user_id END)::BIGINT
      |         AS n_capped_users
      |FROM r GROUP BY day ORDER BY day""".stripMargin)

  /** Null-key-split outer join (the null-skew survival pattern): a
    * nullable join key sends every NULL row to ONE shuffle partition —
    * at 100 TB that partition is the job. The null rows can't match
    * anyway, so they split off BEFORE the shuffle and re-enter by
    * union; only the non-null mass shuffles. The gate proves the
    * split-union equals the plain left join.
    */
  private def qNullSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders").select(col("o_orderkey"),
      expr("CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END").as("k"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val cust = t(s, dir, "customer")
      .select(col("c_custkey").as("k"), col("c_mktsegment"))
    val matched = ord.filter(col("k").isNotNull).join(broadcast(cust), Seq("k"), "left")
    val nulls = ord.filter(col("k").isNull).withColumn("c_mktsegment", lit(null: String))
    matched.union(nulls)
      .groupBy(coalesce(col("c_mktsegment"), lit("UNMATCHED")).as("segment"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy("segment")
  }
  // q242: the split-union must equal the plain left join
  gate("q242_null_skew_join")(qNullSkewJoin(_, _))(
    """WITH o AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS k,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders)
      |SELECT COALESCE(c_mktsegment, 'UNMATCHED') AS segment,
      |       COUNT(*)::BIGINT AS n, SUM(cents)::BIGINT AS sum_cents
      |FROM o LEFT JOIN customer ON k = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** SQL-surface gate: the identical rollup authored as `spark.sql`
    * text over a registered temp view — the engine's second front
    * door. Everything else in this file is the DataFrame DSL; a user
    * migrating raw SQL gets the same Catalyst plan and the same
    * bytes.
    */
  private def qSqlSurface(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("graft_events_v")
    s.sql(
      """SELECT event_type,
        |       CAST(date_format(ts, 'yyyy-MM-dd') AS STRING) AS day,
        |       COUNT(1) AS n,
        |       SUM(CAST(round(value * 100) AS BIGINT)) AS sum_cents,
        |       COUNT(DISTINCT user_id) AS n_users
        |FROM graft_events_v
        |GROUP BY event_type, date_format(ts, 'yyyy-MM-dd')
        |ORDER BY event_type, day""".stripMargin)
  }
  // q243: the same rollup the SQL front door computes
  gate("q243_sql_surface")(qSqlSurface(_, _))(
    """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
      |       COUNT(*)::BIGINT AS n,
      |       SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents,
      |       COUNT(DISTINCT user_id)::BIGINT AS n_users
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** DECIMAL money arithmetic (the type the float-cents convention
    * sidesteps): prices as DECIMAL(18,2), an 8%-tax chain in
    * DECIMAL(18,4), per-flag totals emitted as exact scaled BIGINTs.
    * Decimal aggregation is Tungsten's exact path — no binary-double
    * rounding anywhere, matching DuckDB's DECIMAL semantics digit for
    * digit.
    */
  private def qDecimalMoney(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_returnflag"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(18,4))")
          .as("p"))
      .withColumn("taxed", expr("CAST(p * CAST(1.08 AS DECIMAL(6,4)) AS DECIMAL(18,4))"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(p) * 100 AS BIGINT)").as("sum_price_c"),
        expr("CAST(SUM(taxed) * 10000 AS BIGINT)").as("sum_taxed_dm"))
      .orderBy("l_returnflag")
  // q244: both engines run the exact DECIMAL chain; the 2-dec × 2-dec
  // product is exactly 4 decimals, so no rounding step ever fires
  gate("q244_decimal_money")(qDecimalMoney(_, _))(
    """WITH d AS (
      |  SELECT l_returnflag,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(18,4)) AS p
      |  FROM lineitem),
      |x AS (
      |  SELECT l_returnflag, p,
      |         CAST(p * CAST(1.08 AS DECIMAL(6,4)) AS DECIMAL(18,4)) AS taxed
      |  FROM d)
      |SELECT l_returnflag, COUNT(*)::BIGINT AS n,
      |       CAST(SUM(p) * 100 AS BIGINT) AS sum_price_c,
      |       CAST(SUM(taxed) * 10000 AS BIGINT) AS sum_taxed_dm
      |FROM x GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Writer file-size governance (`maxRecordsPerFile`): one writing
    * task bounded at 4,000 rows/file must produce exactly
    * ⌈n/4000⌉ files — layout control without a repartition-by-count
    * shuffle. Read back proves file count and content.
    */
  private def qMaxRecordsFile(s: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_mrf_$tag"
    Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .repartition(1)
      .write.mode("overwrite").option("maxRecordsPerFile", "4000").parquet(out)
    s.read.parquet(out).withColumn("__f", input_file_name())
      .agg(countDistinct(col("__f")).as("n_files"),
        count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .select(col("n_files"), col("n_rows"), col("sum_cents"))
  }
  // q254: one task at 4,000 rows/file ⇒ ⌈n/4000⌉ files
  gate("q254_max_records_file")(qMaxRecordsFile(_, _))(
    """SELECT ((COUNT(*) + 3999) // 4000)::BIGINT AS n_files,
      |       COUNT(*)::BIGINT AS n_rows,
      |       SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents
      |FROM events""".stripMargin)

  /** Key-gap audit over the sparse TPC-H orderkey space (sequence
    * completeness — the data-quality probe for ingest drops): gap
    * islands from one lag window; reports gap count, missing-key
    * mass, and the widest gap with its bounds.
    */
  private def qKeyGapAudit(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Prefix
    // NOT a single-task global lag: the sorted stream is range-
    // partitioned (Prefix's global position), and "previous key" is a
    // pos−1 equi-join — the whole audit scales with the partitioning
    val p = Prefix.withGlobalPosition(
        t(s, dir, "orders").select(col("o_orderkey").as("k")), Seq("k"))
      .localCheckpoint() // consumed twice below (self-join)
    val cur = p.select(col("k"), col("pos"))
    val prev = p.select(col("k").as("pk"), (col("pos") + 1L).as("pos"))
    cur.join(prev, "pos")
      .filter(col("k") - col("pk") > 1L)
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("k") - col("pk") - 1L).as("missing_keys"),
        max(col("k") - col("pk") - 1L).as("widest_gap"),
        // scalar-encoded (gap, pk) order shared with the oracle; pk is
        // unique so the argmax is single-valued
        max_by(col("pk"), (col("k") - col("pk")) * lit(1000000000000L) + col("pk"))
          .as("widest_gap_after"))
  }
  // q256: same pos−1 join and scalar-encoded argmax
  gate("q256_key_gap_audit")(qKeyGapAudit(_, _))(
    """WITH p AS (
      |  SELECT o_orderkey AS k,
      |         ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS pos
      |  FROM orders),
      |j AS (
      |  SELECT c.k, pv.k AS pk FROM p c JOIN p pv ON pv.pos + 1 = c.pos
      |  WHERE c.k - pv.k > 1)
      |SELECT COUNT(*)::BIGINT AS n_gaps,
      |       SUM(k - pk - 1)::BIGINT AS missing_keys,
      |       MAX(k - pk - 1)::BIGINT AS widest_gap,
      |       arg_max(pk, (k - pk) * 1000000000000 + pk)::BIGINT
      |         AS widest_gap_after
      |FROM j""".stripMargin)

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    * keys MATCH each other — the semantic dedup/reconciliation needs
    * when NULL means "unknown but identical". The gate splits orders
    * into two generations with NULLed keys and counts per-key matches
    * under both plain `=` and null-safe equality; the difference is
    * exactly the NULL×NULL mass.
    */
  private def qNullSafeJoin(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"),
      // sparse NULLs (1/101): the NULL×NULL match mass is quadratic in
      // the null count — which is exactly the point of the gate, kept
      // small enough to stay sane at any SF
      expr("CASE WHEN o_orderkey % 101 = 0 THEN NULL ELSE o_custkey END").as("k"))
    val a = o.filter(col("o_orderkey") % 2 === 0).select(col("k").as("ka"))
    val bb = o.filter(col("o_orderkey") % 2 =!= 0).select(col("k").as("kb"))
    val plain = a.join(bb, col("ka") === col("kb"))
      .agg(count(lit(1)).as("n")).withColumn("mode", lit("plain_eq"))
    val nullSafe = a.join(bb, col("ka") <=> col("kb"))
      .agg(count(lit(1)).as("n")).withColumn("mode", lit("null_safe"))
    plain.union(nullSafe).select(col("mode"), col("n")).orderBy("mode")
  }
  // q257: IS NOT DISTINCT FROM ≡ Spark's <=>
  gate("q257_null_safe_join")(qNullSafeJoin(_, _))(
    """WITH o AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 101 = 0 THEN NULL ELSE o_custkey END AS k
      |  FROM orders),
      |a AS (SELECT k AS ka FROM o WHERE o_orderkey % 2 = 0),
      |b AS (SELECT k AS kb FROM o WHERE o_orderkey % 2 <> 0)
      |SELECT * FROM (
      |  SELECT 'null_safe' AS mode, COUNT(*)::BIGINT AS n
      |  FROM a JOIN b ON ka IS NOT DISTINCT FROM kb
      |  UNION ALL
      |  SELECT 'plain_eq', COUNT(*)::BIGINT FROM a JOIN b ON ka = kb)
      |ORDER BY mode""".stripMargin)

  /** Partition-layout evolution union: generation 1 is
    * hive-partitioned by event_type (the key lives in the PATH),
    * generation 2 is a plain unpartitioned dump (the key lives in the
    * FILE) — the mess every long-lived lake accumulates. The union
    * read aligns both layouts and the total must equal the source
    * table exactly.
    */
  private def qPartitionEvolution(s: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_ptev_$tag"
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    ev.filter(col("event_id") % 2 === 0).write.partitionBy("event_type")
      .mode("overwrite").parquet(s"$base/gen1")
    ev.filter(col("event_id") % 2 =!= 0).write
      .mode("overwrite").parquet(s"$base/gen2")
    val g1 = s.read.parquet(s"$base/gen1")
      .select("event_id", "user_id", "event_type", "cents")
    val g2 = s.read.parquet(s"$base/gen2")
      .select("event_id", "user_id", "event_type", "cents")
    g1.union(g2).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        expr("CAST(sum(event_id) AS BIGINT)").as("id_checksum"))
      .orderBy("event_type")
  }
  // q258: the two layouts must re-assemble the source exactly
  gate("q258_partition_evolution")(qPartitionEvolution(_, _))(
    """SELECT event_type, COUNT(*)::BIGINT AS n,
      |       SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents,
      |       SUM(event_id)::BIGINT AS id_checksum
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Malformed-record handling on the CSV front door: PERMISSIVE mode
    * with `columnNameOfCorruptRecord` — bad rows land in a counted
    * quarantine bucket with their raw text preserved, never a silent
    * null or a job abort. Fixed micro-fixture (10 good + 3 bad rows),
    * so the semantics are pinned independent of SF.
    */
  private def qCsvMalformed(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val base = Paths.get(s"${System.getProperty("java.io.tmpdir")}/graft_badcsv")
    Files.createDirectories(base)
    val lines = (1 to 10).map(i => s"$i,${i * 100}") ++
      Seq("11,notanumber", "garbage line no comma", "13,")
    Files.write(base.resolve("part-0.csv"),
      ("event_id,cents" +: lines).mkString("\n").getBytes("UTF-8"))
    s.read.schema("event_id BIGINT, cents BIGINT, _corrupt STRING")
      .option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(base.toString)
      .select(when(col("_corrupt").isNull, "good").otherwise("quarantined")
        .as("bucket"), col("cents"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy("bucket")
  }
  // q262: the pinned PERMISSIVE semantics — a wrong TOKEN COUNT
  // quarantines ("garbage line no comma"); a field-level conversion
  // failure ("11,notanumber") and a trailing empty field ("13,")
  // stay structurally good with NULL cents. 12 good (Σ = 5500), 1
  // quarantined.
  gate("q262_csv_malformed")(qCsvMalformed(_, _))(
    """SELECT * FROM (
      |  SELECT 'good' AS bucket, 12::BIGINT AS n, 5500::BIGINT AS sum_cents
      |  UNION ALL
      |  SELECT 'quarantined', 1::BIGINT, NULL::BIGINT)
      |ORDER BY bucket""".stripMargin)

  /** `binaryFile` source — the multimodal ingest front door: opaque
    * bytes plus metadata columns. The gate writes the first 10 docs as
    * raw UTF-8 files, reads them back as binary, and proves count,
    * byte length, and an md5-prefix xor of the CONTENT — so a single
    * flipped byte anywhere breaks it. (Modification time is excluded:
    * metadata, not data.)
    */
  private def qBinarySource(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val tag = new java.io.File(dir).getName
    val base = Paths.get(s"${System.getProperty("java.io.tmpdir")}/graft_bin_$tag")
    Files.createDirectories(base)
    t(s, dir, "documents").filter(col("doc_id") < 10)
      .select(col("doc_id"), col("text")).collect()
      .foreach { r =>
        Files.write(base.resolve(f"doc_${r.getLong(0)}%03d.bin"),
          r.getString(1).getBytes("UTF-8"))
      }
    s.read.format("binaryFile").load(base.toString)
      .agg(count(lit(1)).as("n_files"),
        sum(col("length")).as("total_bytes"),
        expr("bit_xor(CAST(conv(substring(md5(content), 1, 15), 16, 10) AS BIGINT))")
          .as("content_md5_xor"))
  }
  // q263: the same bytes the files carry, recomputed from the table
  gate("q263_binary_source")(qBinarySource(_, _))(
    """SELECT COUNT(*)::BIGINT AS n_files,
      |       SUM(strlen(text))::BIGINT AS total_bytes,
      |       bit_xor(('0x' || substr(md5(text), 1, 15))::BIGINT)::BIGINT
      |         AS content_md5_xor
      |FROM documents WHERE doc_id < 10""".stripMargin)

  /** Avro source round-trip — the row-oriented member of the format
    * matrix (bundled in spark-sql since Spark 4): same rows, same
    * aggregate, through `.format("avro")`.
    */
  private def qAvroSource(s: SparkSession, dir: String): DataFrame = {
    val d = graft.sources.FormatsFixture.ensure(s, dir)
    // the avro classes ship inside spark-sql here but without a
    // DataSourceRegister service entry, so the short name doesn't
    // resolve — the fully-qualified provider does
    s.read.format("org.apache.spark.sql.avro.AvroFileFormat")
      .load(s"$d/events_avro")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        sum(col("tu")).as("sum_tu"))
      .orderBy("event_type")
  }
  // q264: original-table aggregate — Avro round-trip is value-lossless
  gate("q264_avro_source")(qAvroSource(_, _))(
    """SELECT event_type, COUNT(*)::BIGINT AS n,
      |       SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents,
      |       SUM(epoch_us(ts) - 1704067200000000)::BIGINT AS sum_tu
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** XML source round-trip (Spark 4 ships the former spark-xml as a
    * registered built-in): the same event rows through
    * `.write.format("xml")` / rowTag read, aggregated per type —
    * the last member of the format matrix.
    */
  private def qXmlSource(s: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_xml_$tag"
    Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .write.mode("overwrite").option("rowTag", "event").format("xml").save(out)
    s.read.schema("event_id BIGINT, event_type STRING, cents BIGINT")
      .option("rowTag", "event").format("xml").load(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        sum(col("event_id")).as("id_checksum"))
      .orderBy("event_type")
  }
  // q265: XML round-trip is value-lossless on integer columns
  gate("q265_xml_source")(qXmlSource(_, _))(
    """SELECT event_type, COUNT(*)::BIGINT AS n,
      |       SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents,
      |       SUM(event_id)::BIGINT AS id_checksum
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** The `Observation` / `Dataset.observe` metrics API — pipeline
    * observability without a second scan: row count, null count, and
    * cents total ride the SAME pass that computes the business
    * aggregate, then surface as a one-row frame.
    */
  private def qObserveMetrics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val obs = org.apache.spark.sql.Observation(
      s"q267_obs_${streamGateN.incrementAndGet()}")
    val e = Tables.events(s, dir)
      .select(col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .observe(obs, count(lit(1)).as("n_rows"),
        sum(col("cents")).as("total_cents"),
        count(when(col("cents") > 2000L, 1)).as("n_large"))
    // the action that materializes the observed pass
    val nTypes = e.groupBy("event_type").agg(count(lit(1))).count()
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long], m("total_cents").asInstanceOf[Long],
      m("n_large").asInstanceOf[Long], nTypes))
      .toDF("n_rows", "total_cents", "n_large", "n_types")
  }
  // q267: the observed metrics equal the direct aggregates
  gate("q267_observe_metrics")(qObserveMetrics(_, _))(
    """SELECT COUNT(*)::BIGINT AS n_rows,
      |       SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS total_cents,
      |       SUM(CASE WHEN CAST(round(value * 100) AS BIGINT) > 2000
      |                THEN 1 ELSE 0 END)::BIGINT AS n_large,
      |       COUNT(DISTINCT event_type)::BIGINT AS n_types
      |FROM events""".stripMargin)

  /** Catalog DML surface: CTAS into a managed table, INSERT INTO
    * appends, `spark.table` reads it back — the warehouse front door
    * next to q243's SQL-over-views. The table is per-SF-named and
    * fully rebuilt each run (idempotent).
    */
  private def qCatalogCtas(s: SparkSession, dir: String): DataFrame = {
    val tbl = s"graft_ctas_${new java.io.File(dir).getName.replace(".", "_")}"
    Tables.events(s, dir).createOrReplaceTempView("graft_ctas_src")
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    // a fresh JVM gets a fresh in-memory metastore but inherits the
    // on-disk warehouse: DROP can't see last run's table, so its
    // leftover LOCATION must go too or CTAS refuses
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val loc = java.nio.file.Paths.get(wh, tbl)
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    s.sql(
      s"""CREATE TABLE $tbl USING parquet AS
         |SELECT event_id, event_type,
         |       CAST(round(value * 100) AS BIGINT) AS cents
         |FROM graft_ctas_src WHERE event_id % 2 = 0""".stripMargin)
    s.sql(
      s"""INSERT INTO $tbl
         |SELECT event_id, event_type,
         |       CAST(round(value * 100) AS BIGINT) AS cents
         |FROM graft_ctas_src WHERE event_id % 2 <> 0""".stripMargin)
    s.table(tbl).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        sum(col("event_id")).as("id_checksum"))
      .orderBy("event_type")
  }
  // q268: CTAS half + INSERT half re-assemble the source
  gate("q268_catalog_ctas")(qCatalogCtas(_, _))(
    """SELECT event_type, COUNT(*)::BIGINT AS n,
      |       SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents,
      |       SUM(event_id)::BIGINT AS id_checksum
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Typed `cogroup` (KeyValueGroupedDataset) — the Dataset API's
    * two-sided per-key reconciliation: purchase activity from the
    * orders star vs event activity from the stream, matched per user
    * in one co-partitioned pass (both sides shuffle once on the key;
    * no join + re-aggregate round trip). Group iterators fold to
    * bounded counters only.
    */
  private def qTypedCogroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = t(s, dir, "orders")
      .select(col("o_custkey").as("user_id"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .as[(Long, Long)].groupByKey(_._1)
    val events = Tables.events(s, dir)
      .select(col("user_id"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .as[(Long, Long)].groupByKey(_._1)
    orders.cogroup(events) { (user, os, es) =>
      var no = 0L; var co = 0L
      os.foreach { r => no += 1; co += r._2 }
      var ne = 0L; var ce = 0L
      es.foreach { r => ne += 1; ce += r._2 }
      Iterator.single((user, no, co, ne, ce))
    }.toDF("user_id", "n_orders", "order_cents", "n_events", "event_cents")
      .filter(col("n_events") > 0L) // events users are the 1..150 band
      .orderBy("user_id")
  }
  // q270: per-user two-sided rollup ≡ aggregate-then-left-join
  gate("q270_typed_cogroup")(qTypedCogroup(_, _))(
    """WITH o AS (
      |  SELECT o_custkey AS user_id, COUNT(*)::BIGINT AS n_orders,
      |         SUM(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
      |           AS order_cents
      |  FROM orders GROUP BY 1),
      |e AS (
      |  SELECT user_id, COUNT(*)::BIGINT AS n_events,
      |         SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS event_cents
      |  FROM events GROUP BY 1)
      |SELECT e.user_id, COALESCE(n_orders, 0)::BIGINT AS n_orders,
      |       COALESCE(order_cents, 0)::BIGINT AS order_cents,
      |       n_events, event_cents
      |FROM e LEFT JOIN o USING (user_id) ORDER BY 1""".stripMargin)

  /** `unionByName(allowMissingColumns = true)` — the in-memory
    * schema-evolution union (q200 gates the read-time variant): gen2's
    * extra column NULL-fills for gen1 rows, column ORDER differences
    * are resolved by name, never by position.
    */
  private def qUnionByName(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val gen1 = docs.filter(col("doc_id") < 250)
      .select(col("doc_id"), col("lang"))
    val gen2 = docs.filter(col("doc_id") >= 250)
      // deliberately different column order + an extra column
      .select(col("n_chars").as("quality"), col("lang"), col("doc_id"))
    gen1.unionByName(gen2, allowMissingColumns = true)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), count(col("quality")).as("n_with_quality"),
        sum(col("quality")).as("sum_quality"))
      .orderBy("lang")
  }
  // q272: NULL-filled union by name
  gate("q272_union_by_name")(qUnionByName(_, _))(
    """WITH u AS (
      |  SELECT doc_id, lang, NULL::BIGINT AS quality FROM documents
      |  WHERE doc_id < 250
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id >= 250)
      |SELECT lang, COUNT(*)::BIGINT AS n,
      |       COUNT(quality)::BIGINT AS n_with_quality,
      |       SUM(quality)::BIGINT AS sum_quality
      |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Custom typed `Aggregator` (the Dataset-API UDAF surface): an
    * exact integer mean as a (sum, count) pair with floor division at
    * the finish — registered and invoked as a column like any builtin,
    * partial-merged like any builtin (the zero/reduce/merge contract
    * IS the map-side-combine contract).
    */
  /** Capture-free: an inline anonymous Aggregator would close over the
    * enclosing method's SparkSession through the implicit-encoder
    * lookup — serializable under Verify's per-query cloned sessions
    * but not under a shared session carrying an ObservationManager.
    */
  private class MeanCentsAgg extends org.apache.spark.sql.expressions.Aggregator[
      Long, (Long, Long), Long] {
    def zero = (0L, 0L)
    def reduce(b: (Long, Long), a: Long) = (b._1 + a, b._2 + 1)
    def merge(x: (Long, Long), y: (Long, Long)) = (x._1 + y._1, x._2 + y._2)
    def finish(r: (Long, Long)) = if (r._2 == 0) 0L else r._1 / r._2
    def bufferEncoder = org.apache.spark.sql.Encoders.product[(Long, Long)]
    def outputEncoder = org.apache.spark.sql.Encoders.scalaLong
  }

  private def qTypedAggregator(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir).select(col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    e.as[(String, Long)].groupByKey(_._1).mapValues(_._2)
      .agg(new MeanCentsAgg().toColumn.name("mean_cents_floor"))
      .toDF("event_type", "mean_cents_floor")
      .orderBy("event_type")
  }
  // q273: zero/reduce/merge/finish ≡ floor-divided positive mean
  gate("q273_typed_aggregator")(qTypedAggregator(_, _))(
    """SELECT event_type,
      |       (SUM(CAST(round(value * 100) AS BIGINT))
      |        // COUNT(*))::BIGINT AS mean_cents_floor
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Spark 4 collation surface: `UTF8_LCASE` makes comparisons,
    * grouping and DISTINCT case-insensitive at the TYPE level — no
    * lower() scattered through business logic. The gate mixes case
    * deterministically and proves collated distinct/grouping equal
    * the explicit-lowercase rollup.
    */
  private def qCollation(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        // upper-case every 3rd row's type: 'click' vs 'CLICK'
        expr("CASE WHEN event_id % 3 = 0 THEN upper(event_type) " +
          "ELSE event_type END").as("mixed"))
      .select(col("event_id"),
        expr("collate(mixed, 'UTF8_LCASE')").as("t"))
      .groupBy("t").agg(count(lit(1)).as("n"))
      .select(expr("CAST(t AS STRING COLLATE UTF8_BINARY)").as("event_type_any_case"),
        col("n"))
      // the group representative is whichever case arrived first —
      // normalize for a stable output
      .withColumn("event_type", lower(col("event_type_any_case")))
      .drop("event_type_any_case")
      .orderBy("event_type")
  // q277: case-insensitive grouping ≡ grouping on lower()
  gate("q277_collation")(qCollation(_, _))(
    """SELECT lower(CASE WHEN event_id % 3 = 0 THEN upper(event_type)
      |                  ELSE event_type END) AS event_type,
      |       COUNT(*)::BIGINT AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Map-typed columns + higher-order `transform_values` /
    * `map_filter`: per-user type→count maps built with
    * `map_from_entries`, values scaled, low-mass entries filtered at
    * the MAP level, then exploded back to rows for the gate.
    */
  private def qMapHof(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(map_from_entries(collect_list(struct(col("event_type"), col("c"))))
        .as("m"))
      .select(col("user_id"),
        explode(expr(
          "map_filter(transform_values(m, (k, v) -> v * 10), (k, v) -> v >= 100)"))
          .as(Seq("event_type", "scaled")))
      .orderBy("user_id", "event_type")
  // q278: scale-then-filter on the flattened rows
  gate("q278_map_hof")(qMapHof(_, _))(
    """WITH c AS (
      |  SELECT user_id, event_type, COUNT(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id, event_type, (c * 10)::BIGINT AS scaled
      |FROM c WHERE c * 10 >= 100
      |ORDER BY user_id, event_type""".stripMargin)

  /** `try_*` ANSI-safe arithmetic: under ANSI mode a division by zero
    * or an overflow ABORTS the job — `try_divide` / `try_add` /
    * `try_multiply` give per-row NULL instead, the right failure
    * shape for data pipelines. The gate exercises all three on
    * engineered zero/overflow rows.
    */
  private def qTryArithmetic(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("div7", expr("try_divide(cents, event_id % 7)"))
      .withColumn("ovf",
        expr("try_multiply(CAST(9e17 AS BIGINT), CASE WHEN event_id % 1000 = 0 THEN 100 ELSE 1 END)"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(col("div7")).as("n_divisible"),
        sum(when(col("ovf").isNull, 1L).otherwise(0L)).as("n_overflowed"),
        sum(expr("CAST(floor(div7 * 100 + 0.5) AS BIGINT)")).as("sum_div7_c"))
      .orderBy("event_type")
  // q279: per-row NULL on zero-divisor / overflow, spelled as CASE
  gate("q279_try_arithmetic")(qTryArithmetic(_, _))(
    """WITH e AS (
      |  SELECT event_id, event_type,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |x AS (
      |  SELECT event_type,
      |    CASE WHEN event_id % 7 = 0 THEN NULL
      |         ELSE cents / (event_id % 7) END AS div7,
      |    CASE WHEN event_id % 1000 = 0 THEN 1 ELSE 0 END AS ovf
      |  FROM e)
      |SELECT event_type, COUNT(*)::BIGINT AS n,
      |       COUNT(div7)::BIGINT AS n_divisible,
      |       SUM(ovf)::BIGINT AS n_overflowed,
      |       SUM(CAST(floor(div7 * 100 + 0.5) AS BIGINT))::BIGINT AS sum_div7_c
      |FROM x GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Zero-exchange bucketed join gate
    * ([[graft.operators.Bucketing]]): orders and customer persist
    * bucketed+sorted on the customer key, so the revenue-by-segment
    * join plans a SortMergeJoin with NO Exchange and NO Sort — the
    * write-time pre-shuffle that pays for itself on every subsequent
    * query of a 100 TB fact table. (BucketingSpec asserts the
    * exchange-free plan; this gate pins the bytes.)
    */
  private def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName.replace(".", "_")
    val (tOrd, tCust) = (s"graft_bkt_ord_$tag", s"graft_bkt_cust_$tag")
    // q268's discipline: a fresh JVM's metastore forgot the tables but
    // their warehouse directories survived
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Seq(tOrd, tCust).foreach { tbl =>
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = java.nio.file.Paths.get(wh, tbl)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
    graft.operators.Bucketing.writeBucketed(
      t(s, dir, "orders").select(col("o_custkey").as("ck"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")),
      tOrd, "ck", 8)
    graft.operators.Bucketing.writeBucketed(
      t(s, dir, "customer").select(col("c_custkey").as("ck"),
        col("c_mktsegment")),
      tCust, "ck", 8)
    graft.operators.Bucketing.bucketedJoin(s, tOrd, tCust, "ck")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy("c_mktsegment")
  }
  // q285: the co-located join must produce the plain join's bytes
  gate("q285_bucketed_join")(qBucketedJoin(_, _))(
    """SELECT c_mktsegment, COUNT(*)::BIGINT AS n,
      |       SUM(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
      |         AS sum_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Nested-struct round trip with SCHEMA PRUNING: events written as
    * document-shaped rows (id + meta struct), read back touching ONE
    * leaf — `nestedSchemaPruning` pushes the single-field ReadSchema
    * into the parquet scan, so the 100 TB document lake reads bytes
    * for `meta.cents` alone. The gate pins the values; PLANS records
    * the pruned scan.
    */
  private def qNestedStruct(s: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_nested_$tag"
    Tables.events(s, dir)
      .select(col("event_id"),
        struct(col("event_type").as("type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          struct(col("user_id"), unix_micros(col("ts")).as("tu")).as("who"))
          .as("meta"))
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .groupBy(col("meta.type").as("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("meta.cents")).as("sum_cents"),
        countDistinct(col("meta.who.user_id")).as("n_users"))
      .orderBy("event_type")
  }
  // q287: the nested leaves aggregate exactly like the flat table
  gate("q287_nested_struct")(qNestedStruct(_, _))(
    """SELECT event_type, COUNT(*)::BIGINT AS n,
      |       SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents,
      |       COUNT(DISTINCT user_id)::BIGINT AS n_users
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Denormalize → renormalize round trip (the nested document-lake
    * pattern): each order packs its lineitems into an ARRAY OF
    * STRUCTS — ordered by linenumber so the nesting is deterministic —
    * then the read side explodes them back and must reproduce the
    * plain join's rollup. At scale the nested layout trades one
    * write-time shuffle for ZERO read-time joins.
    */
  private def qDenormalize(s: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_denorm_$tag"
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)").as("qc"),
        col("l_returnflag"))
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(struct(col("l_linenumber"), col("qc"),
        col("l_returnflag")))).as("items"))
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .select(col("l_orderkey"), explode(col("items")).as("it"))
      .groupBy(col("it.l_returnflag").as("l_returnflag"))
      .agg(count(lit(1)).as("n_items"), sum(col("it.qc")).as("sum_qty_c"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy("l_returnflag")
  }
  // q288: the renormalized rollup is the plain join's rollup
  gate("q288_denormalize")(qDenormalize(_, _))(
    """SELECT l_returnflag, COUNT(*)::BIGINT AS n_items,
      |       SUM(CAST(round(l_quantity * 100) AS BIGINT))::BIGINT
      |         AS sum_qty_c,
      |       COUNT(DISTINCT l_orderkey)::BIGINT AS n_orders
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)

  /** `explode_outer` null preservation — the generator-edge semantics
    * that silently deletes rows when someone writes plain `explode`:
    * docs too short to shingle keep exactly one NULL row, so corpus
    * accounting still sums to the corpus.
    */
  private def qExplodeOuter(s: SparkSession, dir: String): DataFrame = {
    val K = 8 // long shingles so short docs genuinely exist
    val sh = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tok"))
      .select(col("doc_id"), col("lang"),
        explode_outer(expr(
          s"""CASE WHEN size(tok) >= $K
             |  THEN transform(sequence(1, size(tok) - ${K - 1}),
             |    i -> graft_md5hi60(concat('0:', concat_ws(' ', slice(tok, i, $K)))))
             |  ELSE CAST(NULL AS ARRAY<BIGINT>) END""".stripMargin)).as("h"))
    sh.groupBy("lang")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(col("h")).as("n_shingles"),
        sum(when(col("h").isNull, 1L).otherwise(0L)).as("n_short_docs"))
      .orderBy("lang")
  }
  // q289: short docs keep one NULL row — accounting sums to the corpus
  gate("q289_explode_outer")(qExplodeOuter(_, _))(
    """WITH tk AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS tok FROM documents),
      |sh AS (
      |  SELECT doc_id, lang, i
      |  FROM tk, generate_series(1, 100000) t(i)
      |  WHERE i + 7 <= len(tok)),
      |agg AS (
      |  SELECT lang, COUNT(DISTINCT doc_id) AS n_long, COUNT(*) AS n_shingles
      |  FROM sh GROUP BY 1),
      |docs AS (SELECT lang, COUNT(*) AS n_docs,
      |                SUM(CASE WHEN len(tok) < 8 THEN 1 ELSE 0 END) AS n_short
      |         FROM tk GROUP BY 1)
      |SELECT d.lang, d.n_docs::BIGINT AS n_docs,
      |       COALESCE(n_shingles, 0)::BIGINT AS n_shingles,
      |       d.n_short::BIGINT AS n_short_docs
      |FROM docs d LEFT JOIN agg a ON a.lang = d.lang
      |ORDER BY d.lang""".stripMargin)

  /** Config shadow run (the safe-rollout screen for curation-rule
    * changes): the q18-style keep rule evaluated under the LIVE config
    * and a candidate config in ONE pass, reporting only the flip
    * matrix — how many docs each (live, candidate) decision pair
    * holds, per language. A candidate that would silently drop half a
    * language shows up before it ships.
    */
  private def qConfigShadow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("uniq"))
      .withColumn("live", col("toks") >= 10L && col("uniq") * 3L > col("toks"))
      .withColumn("cand", col("toks") >= 40L && col("uniq") * 2L > col("toks"))
      .groupBy("lang", "live", "cand")
      .agg(count(lit(1)).as("n"), sum(col("toks")).as("tokens"))
      .orderBy("lang", "live", "cand")
  // q290: the flip matrix of live vs candidate keep rules
  gate("q290_config_shadow")(qConfigShadow(_, _))(
    """WITH d AS (
      |  SELECT lang, len(string_split(text, ' '))::BIGINT AS toks,
      |         len(list_distinct(string_split(text, ' ')))::BIGINT AS uniq
      |  FROM documents)
      |SELECT lang, (toks >= 10 AND uniq * 3 > toks) AS live,
      |       (toks >= 40 AND uniq * 2 > toks) AS cand,
      |       COUNT(*)::BIGINT AS n, SUM(toks)::BIGINT AS tokens
      |FROM d GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)

  /** Schema-as-data audit: the two table generations' ACTUAL schemas
    * (as read from their files) emitted as rows — drift review
    * becomes a queryable diff instead of an eyeball job.
    */
  private def qSchemaAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = graft.sources.FormatsFixture.ensure(s, dir)
    def rows(gen: String, df: DataFrame) =
      df.schema.fields.map(f => (gen, f.name, f.dataType.simpleString)).toSeq
    (rows("gen1", s.read.parquet(s"$d/docs_gen1")) ++
      rows("gen2", s.read.parquet(s"$d/docs_gen2")))
      .toDF("generation", "field", "dtype")
      .orderBy("generation", "field")
  }
  // q291: the generations' written schemas, as literals
  gate("q291_schema_audit")(qSchemaAudit(_, _))(
    """SELECT * FROM (VALUES
      |  ('gen1', 'doc_id', 'bigint'), ('gen1', 'text', 'string'),
      |  ('gen2', 'doc_id', 'bigint'), ('gen2', 'quality', 'bigint'),
      |  ('gen2', 'text', 'string'))
      |  t(generation, field, dtype)
      |ORDER BY generation, field""".stripMargin)

  /** NULL aggregate semantics pinned (the SQL rules every migration
    * trips over): over an all-NULL column COUNT(*) counts rows,
    * COUNT(col) is 0, SUM/MIN/MAX/AVG are NULL, and COUNT(DISTINCT)
    * ignores NULLs entirely.
    */
  private def qNullSemantics(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        expr("CASE WHEN event_id % 5 = 0 THEN CAST(round(value * 100) AS BIGINT) END")
          .as("sparse"),
        expr("CAST(NULL AS BIGINT)").as("void"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"), count(col("sparse")).as("n_sparse"),
        sum(col("sparse")).as("sum_sparse"),
        count(col("void")).as("n_void"), sum(col("void")).as("sum_void"),
        max(col("void")).as("max_void"),
        countDistinct(col("sparse")).as("ndv_sparse"))
      .orderBy("event_type")
  // q294: COUNT(*) vs COUNT(col) vs NULL-yielding aggregates
  gate("q294_null_semantics")(qNullSemantics(_, _))(
    """SELECT event_type, COUNT(*)::BIGINT AS n_rows,
      |  COUNT(CASE WHEN event_id % 5 = 0 THEN 1 END)::BIGINT AS n_sparse,
      |  SUM(CASE WHEN event_id % 5 = 0
      |           THEN CAST(round(value * 100) AS BIGINT) END)::BIGINT
      |    AS sum_sparse,
      |  0::BIGINT AS n_void, NULL::BIGINT AS sum_void,
      |  NULL::BIGINT AS max_void,
      |  COUNT(DISTINCT CASE WHEN event_id % 5 = 0
      |        THEN CAST(round(value * 100) AS BIGINT) END)::BIGINT
      |    AS ndv_sparse
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Salted two-phase aggregation (the hot-key survival pattern where
    * AQE can't help — it re-plans joins, not aggregations): the
    * engineered hot key (half the users collapse to key 0) first
    * aggregates under (key, salt) so its rows spread over 16 reducers,
    * then the ≤16 partials per key collapse in a second, trivially
    * skew-free pass. Identical bytes to the direct rollup.
    */
  private def qSaltedAgg(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      expr("CASE WHEN user_id <= 75 THEN 0 ELSE user_id END").as("k"),
      col("event_id"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    e.withColumn("salt", col("event_id") % 16L)
      .groupBy("k", "salt")
      .agg(sum(col("cents")).as("pc"), count(lit(1)).as("pn"))
      .groupBy("k")
      .agg(sum(col("pc")).as("sum_cents"), sum(col("pn")).as("n"))
      .orderBy("k")
  }
  // q296: the two-phase rollup's bytes equal the direct rollup
  gate("q296_salted_agg")(qSaltedAgg(_, _))(
    """SELECT CASE WHEN user_id <= 75 THEN 0 ELSE user_id END AS k,
      |       SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents,
      |       COUNT(*)::BIGINT AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** `recursiveFileLookup` — reading a nested non-partition directory
    * tree (the layout crawler dumps actually arrive in): files two
    * levels deep, no partition columns, one option instead of a glob
    * per level.
    */
  private def qRecursiveLookup(s: SparkSession, dir: String): DataFrame = {
    val tag = new java.io.File(dir).getName
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_rec_$tag"
    val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    ev.filter(col("event_id") % 3 === 0)
      .write.mode("overwrite").parquet(s"$base/a/x")
    ev.filter(col("event_id") % 3 === 1)
      .write.mode("overwrite").parquet(s"$base/a/y/deep")
    ev.filter(col("event_id") % 3 === 2)
      .write.mode("overwrite").parquet(s"$base/b")
    s.read.option("recursiveFileLookup", "true").parquet(base)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        sum(col("event_id")).as("id_checksum"))
      .orderBy("event_type")
  }
  // q304: the nested tree re-assembles the source
  gate("q304_recursive_lookup")(qRecursiveLookup(_, _))(
    """SELECT event_type, COUNT(*)::BIGINT AS n,
      |       SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents,
      |       SUM(event_id)::BIGINT AS id_checksum
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** SQL LATERAL correlated subquery (Spark 4 LateralJoin): top-3
    * customers by account balance per nation through
    * `, LATERAL (... ORDER BY ... LIMIT 3)` — the remaining SQL-join
    * spelling the suite didn't exercise (DataFrame top-k-per-group is
    * q25). DuckDB runs the identical statement.
    */
  private def qLateralTopk(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "nation").createOrReplaceTempView("q327_nation")
    t(s, dir, "customer").createOrReplaceTempView("q327_customer")
    s.sql(
      """SELECT n.n_name, c.c_name, c.acctbal_cents
        |FROM q327_nation n,
        |  LATERAL (SELECT c_name,
        |             CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
        |           FROM q327_customer
        |           WHERE c_nationkey = n.n_nationkey
        |           ORDER BY acctbal_cents DESC, c_name LIMIT 3) c
        |ORDER BY n.n_name, c.acctbal_cents DESC, c.c_name""".stripMargin)
  }
  // q327: the IDENTICAL correlated LATERAL statement
  gate("q327_lateral_topk")(qLateralTopk(_, _))(
    """SELECT n.n_name, c.c_name, c.acctbal_cents
      |FROM nation n,
      |  LATERAL (SELECT c_name,
      |             CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
      |           FROM customer
      |           WHERE c_nationkey = n.n_nationkey
      |           ORDER BY acctbal_cents DESC, c_name LIMIT 3) c
      |ORDER BY n.n_name, c.acctbal_cents DESC, c.c_name""".stripMargin)

  /** Quoted-multiline CSV roundtrip (`multiLine=true`): every space in
    * the document text becomes an embedded newline inside a quoted
    * field — the crawler-export shape that silently shreds rows when
    * parsed line-by-line. The gate writes the CSV, reads it back
    * through the multiline parser, and aggregates; the oracle computes
    * the SAME aggregate from the original parquet, so any row split,
    * quote slip, or token loss breaks the hash.
    */
  private def qCsvMultiline(s: SparkSession, dir: String): DataFrame = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_csvml_${System.nanoTime()}"
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        regexp_replace(col("text"), " ", "\n").as("text"))
      .coalesce(2)
      .write.option("header", "true").mode("overwrite").csv(out)
    s.read.option("header", "true").option("multiLine", "true")
      .schema("doc_id BIGINT, lang STRING, text STRING")
      .csv(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(size(split(col("text"), "\n")).cast("long")).as("n_tokens"))
      .orderBy("lang")
  }
  // q339: the engine roundtrips the quoted-multiline CSV; the oracle
  // recomputes the aggregate from the source parquet — any row
  // split or token loss in the multiline parse breaks the hash
  // eager: writes its roundtrip fixture
  gate("q339_csv_multiline", eager = true)(qCsvMultiline(_, _))(
    """SELECT lang, COUNT(*)::BIGINT AS n_docs,
      |       SUM(doc_id)::BIGINT AS sum_doc_id,
      |       SUM(len(string_split(text, ' ')))::BIGINT AS n_tokens
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)

  /** TIMESTAMP_NTZ parquet roundtrip: events' instants cast to the
    * zone-naive type, written and read back (parquet
    * isAdjustedToUTC=false path), with the read-back schema's type
    * preservation PINNED INTO THE HASH (`ntz_preserved`), then NTZ
    * interval arithmetic + field extraction aggregated per shifted
    * hour — the storage-type surface the TZ-aware datetime gates
    * (q45/q276) don't touch.
    */
  private def qNtzRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_ntz_${System.nanoTime()}"
    Tables.events(s, dir).select(col("event_id"),
        expr("CAST(ts AS TIMESTAMP_NTZ)").as("tsn"))
      .coalesce(2).write.mode("overwrite").parquet(out)
    val r = s.read.parquet(out)
    val isNtz = r.schema("tsn").dataType ==
      org.apache.spark.sql.types.TimestampNTZType
    r.select(expr("tsn + INTERVAL 90 MINUTE").as("t2"))
      .groupBy(date_format(date_trunc("hour", col("t2")), "yyyy-MM-dd HH:mm:ss")
        .as("hr"))
      .agg(count(lit(1)).as("n"),
        sum(minute(col("t2")).cast("long")).as("sum_min"))
      .withColumn("ntz_preserved", lit(if (isNtz) 1L else 0L))
      .orderBy("hr")
  }
  // q350: NTZ arithmetic recomputed on the session-UTC instants;
  // ntz_preserved = 1 pins the read-back type in the hash
  // eager: writes its roundtrip fixture
  gate("q350_ntz_roundtrip", eager = true)(qNtzRoundtrip(_, _))(
    """SELECT strftime(date_trunc('hour', ts + INTERVAL 90 MINUTE),
      |         '%Y-%m-%d %H:%M:%S') AS hr,
      |       COUNT(*)::BIGINT AS n,
      |       SUM(minute(ts + INTERVAL 90 MINUTE))::BIGINT AS sum_min,
      |       1::BIGINT AS ntz_preserved
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** PERMISSIVE JSON ingestion with `columnNameOfCorruptRecord`: the
    * corpus is round-tripped through JSONL with every 7th line
    * truncated mid-object; the read-back parse routes malformed lines
    * to the corrupt-record column (all data fields null) and the gate
    * aggregates good rows per language plus the `_corrupt` bucket —
    * the JSON error-recovery surface beside the CSV one (q262).
    */
  private def qJsonCorrupt(s: SparkSession, dir: String): DataFrame = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_jsonc_${System.nanoTime()}"
    t(s, dir, "documents").select(
        when(col("doc_id") % 7 === 0,
          concat(lit("{\"doc_id\":"), col("doc_id").cast("string"),
            lit(", \"lang\": ")))
          .otherwise(to_json(struct(col("doc_id"), col("lang"), col("n_chars"))))
          .as("value"))
      .coalesce(2).write.mode("overwrite").text(out)
    s.read
      .schema("doc_id BIGINT, lang STRING, n_chars BIGINT, _bad STRING")
      .option("columnNameOfCorruptRecord", "_bad")
      .option("mode", "PERMISSIVE")
      .json(out)
      .groupBy(when(col("_bad").isNotNull, lit("_corrupt"))
        .otherwise(col("lang")).as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"))
      .orderBy("lang")
  }
  // q352: corrupt-line routing recomputed from the source parquet —
  // every 7th doc lands in the _corrupt bucket with null fields
  // eager: writes its roundtrip fixture
  gate("q352_json_corrupt", eager = true)(qJsonCorrupt(_, _))(
    """SELECT CASE WHEN doc_id % 7 = 0 THEN '_corrupt' ELSE lang END AS lang,
      |       COUNT(*)::BIGINT AS n_docs,
      |       COALESCE(SUM(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE n_chars END),
      |         0)::BIGINT AS sum_chars
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Spark 4 SQL pipe syntax (`|>`): the TPC-H-ish revenue rollup
    * spelled as a pipeline — FROM … |> WHERE … |> AGGREGATE … GROUP
    * BY … |> WHERE (post-agg) |> ORDER BY — gated against the
    * classic-SQL oracle. Pins the new query surface itself: same
    * Catalyst plan, different grammar.
    */
  private def qPipeSyntax(s: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "orders").foreach { n =>
      t(s, dir, n).createOrReplaceTempView(s"pipe_$n")
    }
    s.sql(
      """FROM pipe_lineitem
        ||> WHERE l_discount > 0.02
        ||> JOIN pipe_orders ON l_orderkey = o_orderkey
        ||> EXTEND CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |     AS BIGINT) AS rev_cents
        ||> AGGREGATE COUNT(*) AS n_lines, SUM(rev_cents) AS rev_cents
        |     GROUP BY o_orderpriority, l_returnflag
        ||> WHERE n_lines > 100
        ||> ORDER BY o_orderpriority, l_returnflag""".stripMargin)
  }
  // q356: the pipe-syntax pipeline re-spelled as classic SQL
  gate("q356_pipe_syntax")(qPipeSyntax(_, _))(
    """SELECT o_orderpriority, l_returnflag,
      |       COUNT(*)::BIGINT AS n_lines,
      |       SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
      |         AS BIGINT))::BIGINT AS rev_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_discount > 0.02
      |GROUP BY 1, 2
      |HAVING COUNT(*) > 100
      |ORDER BY 1, 2""".stripMargin)

  /** Rendezvous (highest-random-weight, Thaler–Ravishankar 1996)
    * sharding of the document corpus, and the resharding-movement
    * audit: shard(doc, K) = argmax over s<K of the engine-portable
    * md5 weight (q204's conv-substring chain). HRW's defining
    * property — growing K=8 to K=9 moves ONLY docs whose new argmax
    * is the new shard (expected 1/9 of the corpus, vs ~8/9 for mod
    * hashing) — is what the gate pins: per-new-shard doc counts,
    * moved counts, and the mod-hash movement for contrast. The
    * doc × shard grid is 17 broadcast rows per doc, never a shuffle.
    */
  private def qRendezvousReshard(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents").select(col("doc_id"))
    // 56-bit md5 weight ·16 + shard index: strictly tie-free, still
    // inside Long, so arg-max needs no secondary ordering
    def shards(k: Int, out: String): DataFrame =
      d.select(col("doc_id"), explode(sequence(lit(0), lit(k - 1))).as("sh"))
        .withColumn("w", expr(
          """CAST(conv(substring(md5(concat(doc_id, '#', sh)), 1, 14),
            |16, 10) AS BIGINT) * 16 + sh""".stripMargin.replace("\n", " ")))
        .groupBy("doc_id").agg(expr("max_by(sh, w)").cast("long").as(out))
    shards(8, "s8").join(shards(9, "s9"), Seq("doc_id"))
      .withColumn("m8", expr("doc_id % 8")).withColumn("m9", expr("doc_id % 9"))
      .groupBy(col("s9").as("shard")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("s8") =!= col("s9"), 1L).otherwise(0L)).as("hrw_moved"),
        sum(when(col("m8") =!= col("m9"), 1L).otherwise(0L)).as("mod_moved"))
      .orderBy("shard")
  }
  // q364: HRW weights are the same md5-conv chain; arg_max needs no
  // tiebreak because w embeds the shard index in the low 4 bits
  gate("q364_rendezvous_reshard")(qRendezvousReshard(_, _))(
    """WITH d AS (SELECT doc_id FROM documents),
      |g9 AS MATERIALIZED (
      |  SELECT doc_id, sh,
      |         ('0x' || substr(md5(doc_id::VARCHAR || '#' || sh::VARCHAR),
      |           1, 14))::BIGINT * 16 + sh AS w
      |  FROM d CROSS JOIN (SELECT unnest(range(9)) AS sh) shards),
      |s8 AS (SELECT doc_id, arg_max(sh, w) AS s8
      |       FROM g9 WHERE sh < 8 GROUP BY 1),
      |s9 AS (SELECT doc_id, arg_max(sh, w) AS s9 FROM g9 GROUP BY 1),
      |j AS (
      |  SELECT a.doc_id, a.s8, b.s9,
      |         a.doc_id % 8 AS m8, a.doc_id % 9 AS m9
      |  FROM s8 a JOIN s9 b USING (doc_id))
      |SELECT s9::BIGINT AS shard, COUNT(*)::BIGINT AS n_docs,
      |       SUM(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END)::BIGINT AS hrw_moved,
      |       SUM(CASE WHEN m8 <> m9 THEN 1 ELSE 0 END)::BIGINT AS mod_moved
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)

  /** SQL array higher-order functions as first-class citizens —
    * filter, transform+aggregate, array_max, zip_with(reverse) — over
    * the embedding column, all inside whole-stage codegen (no UDF
    * anywhere): positive-component count, exact L1 in millis (q136
    * quantization inside the lambda), max component in millis, and
    * the palindromic self-dot Σ m_i·m_{n+1−i} exercising zip_with
    * alignment. DuckDB mirrors with list_filter / list_transform /
    * list_aggregate / index arithmetic.
    */
  private def qArrayHof(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("CAST(size(filter(embedding, x -> x > 0)) AS BIGINT)").as("n_pos"),
        expr("""aggregate(embedding, 0L, (acc, x) -> acc +
               abs(CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)))""")
          .as("l1_milli"),
        expr("""CAST(floor(CAST(array_max(embedding) AS DOUBLE) * 1000.0
               + 0.5) AS BIGINT)""").as("max_milli"),
        expr("""aggregate(zip_with(embedding, reverse(embedding), (a, b) ->
               CAST(floor(CAST(a AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)
               * CAST(floor(CAST(b AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)),
               0L, (acc, x) -> acc + x)""").as("revdot"))
      .orderBy("vec_id")
  }
  // q371: list_filter / list_transform+list_aggregate / list index
  // arithmetic mirror the Spark array HOFs
  gate("q371_array_hof")(qArrayHof(_, _))(
    """WITH m AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x ->
      |           CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS mv,
      |         len(list_filter(embedding, x -> x > 0))::BIGINT AS n_pos
      |  FROM embeddings),
      |rd AS (
      |  SELECT vec_id, SUM(mv[i] * mv[len(mv) + 1 - i])::BIGINT AS revdot
      |  FROM m, generate_series(1, 128) t(i)
      |  WHERE i <= len(mv)
      |  GROUP BY 1)
      |SELECT m.vec_id, m.n_pos,
      |       CAST(list_aggregate(list_transform(m.mv, v -> abs(v)), 'sum')
      |         AS BIGINT) AS l1_milli,
      |       CAST(list_aggregate(m.mv, 'max') AS BIGINT) AS max_milli,
      |       rd.revdot
      |FROM m JOIN rd ON m.vec_id = rd.vec_id ORDER BY 1""".stripMargin)

  /** Z-order (Morton 1966) layout key and its locality dividend: parts
    * bit-interleave (p_size, brand number) into a 12-bit Morton code
    * via pure div/mod arithmetic (no engine bit-op dialect), then the
    * per-256-code range stats — distinct sizes, distinct brands, size
    * span — against the SAME stats for a round-robin (partkey % 16)
    * layout. The gate pins the property a 100 TB table is Z-ordered
    * FOR: a Z-range scan touches few distinct values of every
    * interleaved dimension, so min/max zone maps prune it.
    */
  private def qZorderLocality(s: SparkSession, dir: String): DataFrame = {
    val zExpr = (0 until 6).map { i =>
      val p2 = 1L << i; val p4 = 1L << (2 * i)
      s"((x DIV $p2) % 2) * $p4 + ((y DIV $p2) % 2) * ${2 * p4}"
    }.mkString(" + ")
    val p = Tables.load(s, dir, "part")
      .select(col("p_partkey"), col("p_size").cast("long").as("x"),
        expr("CAST(substring(p_brand, 7, 2) AS BIGINT)").as("y"))
      .withColumn("z", expr(zExpr))
    val zb = p.select(lit("zorder").as("layout"),
      expr("z DIV 256").as("bucket"), col("x"), col("y"))
    val rb = p.select(lit("rowid").as("layout"),
      expr("p_partkey % 16").as("bucket"), col("x"), col("y"))
    zb.unionByName(rb).groupBy("layout", "bucket").agg(
        count(lit(1)).as("n_parts"),
        countDistinct(col("x")).as("nd_size"),
        countDistinct(col("y")).as("nd_brand"),
        (max(col("x")) - min(col("x"))).as("size_span"))
      .orderBy("layout", "bucket")
  }
  // q375: Morton code by div/mod interleave; zorder vs round-robin
  // locality stats
  gate("q375_zorder_locality")(qZorderLocality(_, _)) {
    val zExpr = (0 until 6).map { i =>
      val p2 = 1L << i; val p4 = 1L << (2 * i)
      s"((x // $p2) % 2) * $p4 + ((y // $p2) % 2) * ${2 * p4}"
    }.mkString(" + ")
    s"""WITH p AS (
       |  SELECT p_partkey, p_size::BIGINT AS x,
       |         CAST(substr(p_brand, 7, 2) AS BIGINT) AS y
       |  FROM part),
       |z AS (
       |  SELECT 'zorder' AS layout, ($zExpr) // 256 AS bucket, x, y FROM p
       |  UNION ALL
       |  SELECT 'rowid' AS layout, p_partkey % 16 AS bucket, x, y FROM p)
       |SELECT layout, bucket::BIGINT AS bucket, COUNT(*)::BIGINT AS n_parts,
       |       COUNT(DISTINCT x)::BIGINT AS nd_size,
       |       COUNT(DISTINCT y)::BIGINT AS nd_brand,
       |       (MAX(x) - MIN(x))::BIGINT AS size_span
       |FROM z GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Bag-semantics set operations — EXCEPT ALL / INTERSECT ALL — on
    * the (event_type, value-bucket) multiset of the month's first vs
    * second half: multiset difference keeps max(m−n, 0) copies and
    * intersection min(m, n), which DISTINCT-based set ops silently
    * collapse. Spark's exceptAll/intersectAll against DuckDB's
    * EXCEPT ALL/INTERSECT ALL, both then collapsed to per-row counts
    * so the gate pins multiplicities, not just membership.
    */
  private def qBagOps(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_type"),
      expr("CAST(round(value) AS BIGINT) DIV 50").as("b"),
      expr("dayofmonth(ts) <= 15").as("h1"))
    val a = e.filter(col("h1")).select("event_type", "b")
    val b = e.filter(!col("h1")).select("event_type", "b")
    val ex = a.exceptAll(b).groupBy("event_type", "b")
      .agg(count(lit(1)).as("n_except"))
    val in = a.intersectAll(b).groupBy("event_type", "b")
      .agg(count(lit(1)).as("n_intersect"))
    ex.join(in, Seq("event_type", "b"), "full_outer")
      .na.fill(0L, Seq("n_except", "n_intersect"))
      .orderBy("event_type", "b")
  }
  // q382: true multiset difference/intersection, then per-row counts
  gate("q382_bag_ops")(qBagOps(_, _))(
    """WITH e AS (
      |  SELECT event_type, CAST(round(value) AS BIGINT) // 50 AS b,
      |         day(ts) <= 15 AS h1
      |  FROM events),
      |a AS (SELECT event_type, b FROM e WHERE h1),
      |bb AS (SELECT event_type, b FROM e WHERE NOT h1),
      |ex AS (
      |  SELECT event_type, b, COUNT(*)::BIGINT AS n_except
      |  FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM bb) GROUP BY 1, 2),
      |inx AS (
      |  SELECT event_type, b, COUNT(*)::BIGINT AS n_intersect
      |  FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM bb) GROUP BY 1, 2)
      |SELECT COALESCE(ex.event_type, inx.event_type) AS event_type,
      |       COALESCE(ex.b, inx.b) AS b,
      |       COALESCE(n_except, 0)::BIGINT AS n_except,
      |       COALESCE(n_intersect, 0)::BIGINT AS n_intersect
      |FROM ex FULL OUTER JOIN inx
      |  ON ex.event_type = inx.event_type AND ex.b = inx.b
      |ORDER BY 1, 2""".stripMargin)

  /** Consistent-hash ring with virtual nodes (Karger et al. 1997 —
    * the Dynamo/Cassandra placement scheme): 8 shards × 16 vnodes at
    * md5 ring positions, each user key owned by the first vnode
    * clockwise (min position ≥ key hash, wrapping to the global min).
    * The vnode table is a 128-row broadcast, so assignment is a
    * constant fan-out over key partials and two min-aggs — no shuffle
    * keyed on the ring. Complements q364's rendezvous hashing (the
    * OTHER standard sharding scheme: rendezvous recomputes per node,
    * the ring pays one broadcast lookup and rebalances only arc
    * neighbors on membership change). Output: keys per shard with
    * keyspace share.
    */
  private def qHashRing(s: SparkSession, dir: String): DataFrame = {
    val vn = s.range(8).select(col("id").as("shard"))
      .withColumn("v", explode(expr("sequence(0, 15)")))
      .withColumn("pos",
        expr("CAST(conv(substring(md5(concat('vn:', shard, ':', v)), 1, 15), 16, 10) AS BIGINT)"))
      .select("shard", "pos")
    val keys = Tables.events(s, dir).select(col("user_id")).distinct()
      .withColumn("kpos",
        expr("CAST(conv(substring(md5(concat('key:', user_id)), 1, 15), 16, 10) AS BIGINT)"))
    val asg = keys.crossJoin(broadcast(vn))
      .groupBy("user_id", "kpos")
      .agg(min(when(col("pos") >= col("kpos"), col("pos"))).as("nxt"),
        min(col("pos")).as("mn"))
      .withColumn("apos", coalesce(col("nxt"), col("mn")))
    val perShard = asg.join(broadcast(vn), col("apos") === col("pos"))
      .groupBy("shard").agg(count(lit(1)).as("n_keys"))
    perShard.crossJoin(broadcast(perShard.agg(sum(col("n_keys")).as("tk"))))
      .select(col("shard"), col("n_keys"),
        expr("(1000000 * n_keys) DIV tk").as("share_micro"))
      .orderBy("shard")
  }
  // q409: same 128-vnode md5 ring; owner = min pos >= key hash,
  // wrap to the global min
  gate("q409_hash_ring")(qHashRing(_, _))(
    """WITH vn AS (
      |  SELECT s.s::BIGINT AS shard,
      |         ('0x' || substr(md5('vn:' || s.s::VARCHAR || ':'
      |            || v.v::VARCHAR), 1, 15))::BIGINT AS pos
      |  FROM generate_series(0, 7) s(s), generate_series(0, 15) v(v)),
      |keys AS (
      |  SELECT DISTINCT user_id,
      |         ('0x' || substr(md5('key:' || user_id::VARCHAR), 1, 15))
      |           ::BIGINT AS kpos
      |  FROM events),
      |asg AS (
      |  SELECT k.user_id,
      |         COALESCE(MIN(CASE WHEN vn.pos >= k.kpos THEN vn.pos END),
      |                  MIN(vn.pos)) AS apos
      |  FROM keys k CROSS JOIN vn GROUP BY k.user_id, k.kpos),
      |per AS (
      |  SELECT vn.shard, COUNT(*)::BIGINT AS n_keys
      |  FROM asg JOIN vn ON vn.pos = asg.apos GROUP BY 1)
      |SELECT shard, n_keys,
      |       ((1000000 * n_keys) // (SELECT SUM(n_keys) FROM per))::BIGINT
      |         AS share_micro
      |FROM per ORDER BY shard""".stripMargin)

  /** Gaps-and-islands census — the classic consecutive-runs SQL
    * pattern: per event type, group active days into maximal
    * consecutive runs via the d − row_number() island key (constant
    * within a run, strictly shifted across a gap), then the run-length
    * census: islands, longest run and where it starts, mean length.
    * The availability/continuity audit at the DAY grain that q23's
    * timestamp-gap sessionize doesn't express; per-type windows over
    * ≤ 31 rows.
    */
  private def qGapIslands(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the 1-in-997 user slice (q439's) — full-corpus day coverage is
    // total at every SF, the sparse slice has real gaps to census
    val isl = Tables.events(s, dir)
      .filter(col("user_id") % 997L === 0L)
      .groupBy(col("event_type"), dayofmonth(col("ts")).cast("long").as("d"))
      .agg(count(lit(1)).as("n_ev"))
      .withColumn("isl", col("d") - row_number().over(
        Window.partitionBy("event_type").orderBy("d")).cast("long"))
      .groupBy("event_type", "isl")
      .agg(min(col("d")).as("run_start"), count(lit(1)).as("run_len"))
    isl
      .withColumn("mx",
        max(col("run_len")).over(Window.partitionBy("event_type")))
      .groupBy("event_type").agg(
        sum(col("run_len")).as("n_active_days"),
        count(lit(1)).as("n_islands"),
        max(col("run_len")).as("max_run"),
        min(when(col("run_len") === col("mx"), col("run_start")))
          .as("longest_run_start"),
        expr("(1000000 * sum(run_len)) DIV count(1)").as("avg_run_micro"))
      .orderBy("event_type")
  }
  // q444: the d − ROW_NUMBER() island key; run census per type
  gate("q444_gap_islands")(qGapIslands(_, _))(
    """WITH days AS (
      |  SELECT event_type, day(ts)::BIGINT AS d, COUNT(*)::BIGINT AS n_ev
      |  FROM events WHERE user_id % 997 = 0 GROUP BY 1, 2),
      |isl AS (
      |  SELECT event_type,
      |    (d - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d))
      |      ::BIGINT AS isl_key, d
      |  FROM days),
      |runs AS (
      |  SELECT event_type, isl_key, MIN(d)::BIGINT AS run_start,
      |         COUNT(*)::BIGINT AS run_len
      |  FROM isl GROUP BY 1, 2),
      |mx AS (
      |  SELECT event_type, isl_key, run_start, run_len,
      |    MAX(run_len) OVER (PARTITION BY event_type) AS mxl
      |  FROM runs)
      |SELECT event_type, SUM(run_len)::BIGINT AS n_active_days,
      |  COUNT(*)::BIGINT AS n_islands, MAX(run_len)::BIGINT AS max_run,
      |  MIN(CASE WHEN run_len = mxl THEN run_start END)::BIGINT
      |    AS longest_run_start,
      |  ((1000000 * SUM(run_len)) // COUNT(*))::BIGINT AS avg_run_micro
      |FROM mx GROUP BY 1 ORDER BY event_type""".stripMargin)

  /** Formats-fixture dir for the source-surface oracles (q200) — same
    * sfDir resolution as [[zfp]]; [[graft.sources.FormatsFixture]]
    * materializes it before the oracle runs (first query invocation).
    */
  private def ffd: String =
    graft.sources.FormatsFixture.dir(oracleSfDir)
}
