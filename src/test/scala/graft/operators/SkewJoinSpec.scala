package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec

class SkewJoinSpec extends AnyFunSuite with SparkSpec {

  test("saltedJoin equals the plain join on a skewed key set") {
    import spark.implicits._
    // 10k rows of hot key 1, a few of others
    val large = spark.range(10000).select(lit(1L).as("k"), col("id").as("v"))
      .unionByName(Seq((2L, -1L), (3L, -2L)).toDF("k", "v"))
    val small = Seq((1L, "one"), (2L, "two"), (4L, "four")).toDF("k", "name")
    val plain = large.join(small, Seq("k")).groupBy("k", "name")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
    val salted = SkewJoin.saltedJoin(large, small, "k", buckets = 8)
      .groupBy("k", "name").agg(count(lit(1)).as("n"), sum("v").as("s"))
    val a = plain.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val b = salted.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(a == b)
    // row-level equivalence: 10000 hot-key matches + 1 for k=2
    val spread = SkewJoin.saltedJoin(large, small, "k", buckets = 8)
    assert(spread.count() == 10001)
  }

  test("saltedSumCount equals direct aggregation") {
    val df = spark.range(5000).select((col("id") % 3).as("k"), col("id").as("v"))
    val direct = df.groupBy("k").agg(sum("v").as("sum_v"), count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val salted = SkewJoin.saltedSumCount(df.toDF(), "k", "v", buckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(direct == salted)
  }
}
