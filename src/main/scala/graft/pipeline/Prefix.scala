package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global ordering primitives — the two-pass
  * range-partition + per-partition-offset technique that replaces an
  * unpartitioned `Window.orderBy` (which Spark executes as ONE task
  * holding the whole dataset) for global positions and prefix sums.
  *
  * Pass 1 range-partitions by the order key and aggregates one row per
  * partition (count or sum — thousands of rows at most, collected to
  * the driver and turned into exclusive offsets). Pass 2 computes the
  * per-partition running value with a PARTITIONED window — each
  * partition sorts locally, no single-task bottleneck — and adds its
  * partition's offset. Results depend only on the total order of the
  * key columns, not on where sampling placed the range boundaries, so
  * output is deterministic even though boundaries are not.
  */
object Prefix {

  private val reserved = Seq("__pid", "__off", "pos", "prefix", "prefix_min")

  /** 0 ⇒ the session's `spark.sql.shuffle.partitions` — the knob the
    * deployment already sizes to its data volume.
    */
  private def resolve(df: DataFrame, partitions: Int): Int =
    if (partitions > 0) partitions
    else df.sparkSession.sessionState.conf.numShufflePartitions

  // callers MUST localCheckpoint the result before consuming it twice:
  // repartitionByRange SAMPLES to pick boundaries, so two evaluations
  // of the same plan can partition differently — offsets computed from
  // one evaluation would then be applied to another (silent corruption,
  // not just wasted work)
  private def ranged(df: DataFrame, orderCols: Seq[String], partitions: Int) = {
    require(!df.columns.exists(reserved.contains),
      s"input columns must not use the reserved names ${reserved.mkString(", ")}")
    df.repartitionByRange(resolve(df, partitions), orderCols.map(col): _*)
      .withColumn("__pid", spark_partition_id())
  }

  private def offsetsOf(perPid: Array[(Int, Long)]): Seq[(Int, Long)] = {
    val sorted = perPid.sortBy(_._1)
    sorted.map(_._1).zip(sorted.map(_._2).scanLeft(0L)(_ + _).init)
  }

  /** Adds `pos` (0-based global rank under `orderCols`, which must be
    * a total order — include a unique tiebreak column).
    */
  def withGlobalPosition(df: DataFrame, orderCols: Seq[String],
                         partitions: Int = 0): DataFrame = {
    val r = ranged(df, orderCols, partitions).localCheckpoint()
    val counts = r.groupBy(col("__pid")).count()
      .collect().map(x => (x.getInt(0), x.getLong(1)))
    val off = offsetsOf(counts).toSeq
    val offDf = df.sparkSession.createDataFrame(off).toDF("__pid", "__off")
    val w = Window.partitionBy(col("__pid")).orderBy(orderCols.map(col): _*)
    r.join(broadcast(offDf), "__pid")
      .withColumn("pos", row_number().over(w).cast("long") - 1L + col("__off"))
      .drop("__pid", "__off")
  }

  /** Adds `prefix` (exclusive running sum of `valueCol` under
    * `orderCols`' total order): row i gets Σ value of rows 0..i-1.
    */
  def withPrefixSum(df: DataFrame, orderCols: Seq[String], valueCol: String,
                    partitions: Int = 0): DataFrame = {
    val r = ranged(df, orderCols, partitions).localCheckpoint()
    // an all-NULL-value partition sums to NULL: treat as 0, matching
    // the window sum below (which skips NULL rows)
    val sums = r.groupBy(col("__pid")).agg(sum(col(valueCol)).as("s"))
      .collect().map(x => (x.getInt(0), if (x.isNullAt(1)) 0L else x.getLong(1)))
    val off = offsetsOf(sums).toSeq
    val offDf = df.sparkSession.createDataFrame(off).toDF("__pid", "__off")
    val w = Window.partitionBy(col("__pid")).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    r.join(broadcast(offDf), "__pid")
      .withColumn("prefix",
        coalesce(sum(col(valueCol)).over(w), lit(0L)) + col("__off"))
      .drop("__pid", "__off")
  }

  /** Adds `prefix_<c>` (exclusive running sum) for EVERY column in
    * `valueCols`, riding ONE range shuffle — the multi-series variant
    * of [[withPrefixSum]] for algorithms that scan several cumulative
    * counters in lockstep over the same total order (e.g. the two
    * sample ECDFs of a Kolmogorov–Smirnov statistic).
    */
  def withPrefixSums(df: DataFrame, orderCols: Seq[String],
                     valueCols: Seq[String], partitions: Int = 0): DataFrame = {
    require(valueCols.nonEmpty, "need at least one value column")
    require(!valueCols.exists(c => df.columns.contains(s"prefix_$c")),
      "prefix_<col> output names must be free")
    val r = ranged(df, orderCols, partitions).localCheckpoint()
    val aggs = valueCols.map(c => sum(col(c)).as(c))
    val sums = r.groupBy(col("__pid")).agg(aggs.head, aggs.tail: _*).collect()
      .map(row => (row.getInt(0), valueCols.indices.map(i =>
        if (row.isNullAt(i + 1)) 0L else row.getLong(i + 1))))
      .sortBy(_._1)
    // exclusive scan per column, one offsets row per partition
    val excl = sums.map(_._2)
      .scanLeft(valueCols.map(_ => 0L))((acc, s) => acc.zip(s).map(t => t._1 + t._2))
      .init
    val spark = df.sparkSession
    import org.apache.spark.sql.types.{LongType, IntegerType, StructField, StructType}
    val schema = StructType(StructField("__pid", IntegerType) +:
      valueCols.map(c => StructField(s"__off_$c", LongType)))
    val offRows = sums.map(_._1).zip(excl).map { case (pid, offs) =>
      org.apache.spark.sql.Row.fromSeq(pid +: offs)
    }
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offRows.toSeq, 1), schema)
    val w = Window.partitionBy(col("__pid")).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    valueCols.foldLeft(r.join(broadcast(offDf), "__pid")) { (acc, c) =>
      acc.withColumn(s"prefix_$c",
        coalesce(sum(col(c)).over(w), lit(0L)) + col(s"__off_$c"))
    }.drop("__pid" +: valueCols.map(c => s"__off_$c"): _*)
  }

  /** Adds `prefix_min` (exclusive running MINIMUM of `valueCol` as
    * double under `orderCols`' total order; NULL when no preceding
    * row) — min is a monoid like sum, so the same two-pass shape
    * applies: per-partition mins fold into exclusive cross-partition
    * offsets, `least` (null-skipping) merges the local window min with
    * the offset. The running-min scan is what sort-based skyline /
    * staircase algorithms need ([[graft.operators.Skyline]]).
    */
  def withPrefixMin(df: DataFrame, orderCols: Seq[String], valueCol: String,
                    partitions: Int = 0): DataFrame = {
    val r0 = ranged(df, orderCols, partitions)
    val r = r0.withColumn("__v", col(valueCol).cast("double")).localCheckpoint()
    val mins = r.groupBy(col("__pid")).agg(min(col("__v")).as("m"))
      .collect()
      .map(x => (x.getInt(0), if (x.isNullAt(1)) None else Some(x.getDouble(1))))
    val sorted = mins.sortBy(_._1)
    // exclusive scan with the min monoid (None = empty prefix)
    val excl = sorted.map(_._2)
      .scanLeft(Option.empty[Double]) {
        case (None, b) => b
        case (a, None) => a
        case (Some(a), Some(b)) => Some(math.min(a, b))
      }.init
    val offDf = df.sparkSession
      .createDataFrame(sorted.map(_._1).zip(excl).toSeq)
      .toDF("__pid", "__off")
    val w = Window.partitionBy(col("__pid")).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    r.join(broadcast(offDf), "__pid")
      .withColumn("prefix_min", least(min(col("__v")).over(w), col("__off")))
      .drop("__pid", "__off", "__v")
  }
}
