package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation join helpers.
  *
  * First line of defense at scale is AQE's skew-join splitting
  * (`spark.sql.adaptive.skewJoin.enabled`, on by default in
  * [[graft.GraftSession]]). Salting is the explicit fallback for the
  * cases AQE cannot fix — e.g. one hot key inside a single partition
  * of a shuffled aggregation, or joins under AQE-disabled sinks:
  *
  *  - [[saltedJoin]]: fact side gets a random salt in [0, buckets);
  *    the dimension side is replicated `buckets` times; the join key
  *    becomes (key, salt), so one hot key spreads over `buckets`
  *    tasks. Exact same join result, `buckets`× dimension shuffle.
  *  - [[twoPhaseAgg]]: aggregation as salt-partial → final, the
  *    groupBy analog (sum/count style measures only).
  */
object SkewJoin {

  /** Inner equi-join `large ⋈ small` on `key`, salted `buckets` ways.
    * `small` is replicated per salt (keep it broadcast-size × buckets).
    */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
                 buckets: Int = 16): DataFrame = {
    val salted = large.withColumn("__salt", (rand(seed = 42) * buckets).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Two-phase salted aggregation: SUM-like measures survive
    * re-aggregation. `aggs` maps output column → (partial, final)
    * aggregate builders over the given column name.
    */
  def saltedSumCount(df: DataFrame, key: String, valueCol: String,
                     buckets: Int = 16): DataFrame =
    df.withColumn("__salt", (rand(seed = 42) * buckets).cast("int"))
      .groupBy(col(key), col("__salt"))
      .agg(sum(col(valueCol)).as("__psum"), count(lit(1)).as("__pcnt"))
      .groupBy(col(key))
      .agg(sum(col("__psum")).as("sum_v"), sum(col("__pcnt")).as("cnt"))
}
