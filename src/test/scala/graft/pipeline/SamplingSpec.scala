package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec

class SamplingSpec extends AnyFunSuite with SparkSpec {

  test("hashSplit is deterministic, partition-invariant, and ~proportional") {
    val df = spark.range(10000).toDF("id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val a = Sampling.hashSplit(df, "id", splits)
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a.values.sum == 10000)
    assert(a("train") > 7700 && a("train") < 8300)
    assert(a("val") > 800 && a("val") < 1200)
    // partitioning must not change assignment
    val b = Sampling.hashSplit(df.repartition(7), "id", splits)
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
    // per-row stability: same key → same split across calls
    val row42a = Sampling.hashSplit(df, "id", splits)
      .filter(col("id") === 42).collect().head.getString(1)
    val row42b = Sampling.hashSplit(df.repartition(3), "id", splits)
      .filter(col("id") === 42).collect().head.getString(1)
    assert(row42a == row42b)
  }

  test("deterministicSample keeps a stable subset of the requested size") {
    val df = spark.range(10000).toDF("id")
    val s1 = Sampling.deterministicSample(df, "id", 0.25)
    val n = s1.count()
    assert(n > 2200 && n < 2800)
    val ids1 = s1.collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.deterministicSample(df.repartition(5), "id", 0.25)
      .collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    // monotone: a 10% sample is a subset of the 25% sample
    val ids3 = Sampling.deterministicSample(df, "id", 0.10)
      .collect().map(_.getLong(0)).toSet
    assert(ids3.subsetOf(ids1))
  }

  test("domainMix keeps ~weight per domain, all of weight-1, none of unknown") {
    val df = spark.range(8000).toDF("id")
      .withColumn("domain",
        element_at(array(lit("web"), lit("code"), lit("wiki"), lit("junk")),
          (col("id") % 4 + 1).cast("int")))
    val weights = Seq("web" -> 0.5, "code" -> 0.1, "wiki" -> 1.0)
    val kept = Sampling.domainMix(df, "id", "domain", weights)
      .groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("wiki") == 2000) // weight 1.0 keeps every row
    assert(!kept.contains("junk")) // unlisted domain dropped entirely
    assert(kept("web") > 850 && kept("web") < 1150)
    assert(kept("code") > 120 && kept("code") < 280)
    // deterministic under repartitioning
    val a = Sampling.domainMix(df, "id", "domain", weights)
      .select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.domainMix(df.repartition(7), "id", "domain", weights)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("withEpochKey: stable within an epoch, different order across epochs") {
    val df = spark.range(2000).toDF("id")
    def order(epoch: Int): Seq[Long] =
      Sampling.withEpochKey(df, "id", epoch)
        .orderBy(col("epoch_key"), col("id"))
        .select("id").collect().map(_.getLong(0)).toSeq
    assert(order(1) == order(1)) // reproducible
    assert(order(1) != order(2)) // reshuffled per epoch
    assert(order(1).toSet == order(2).toSet) // same rows, different order
  }

  test("stratifiedFixedN: exactly min(n, |stratum|) rows, partition-invariant") {
    val df = spark.range(1000).toDF("id")
      .withColumn("s", (col("id") % 7).cast("string"))
    val a = Sampling.stratifiedFixedN(df, "id", "s", 10)
    val counts = a.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.size == 7 && counts.values.forall(_ == 10))
    // strata smaller than n are returned whole
    val tiny = df.filter(col("id") < 5) // 5 strata of size 1
    assert(Sampling.stratifiedFixedN(tiny, "id", "s", 10).count() == 5)
    // same sample regardless of physical partitioning
    val ids1 = a.select("id").collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.stratifiedFixedN(df.repartition(11), "id", "s", 10)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
  }

  test("stratifiedFixedN: rank filter compiles to WindowGroupLimit") {
    val df = spark.range(100).toDF("id")
      .withColumn("s", (col("id") % 3).cast("string"))
    val plan = Sampling.stratifiedFixedN(df, "id", "s", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected a bounded per-stratum buffer, got:\n$plan")
  }

  test("temperatureWeights: normalized, and alpha<1 upweights small domains") {
    import spark.implicits._
    val df = (Seq.fill(900)("big") ++ Seq.fill(90)("mid") ++ Seq.fill(10)("small"))
      .toDF("domain")
    val rows = Sampling.temperatureWeights(df, "domain", alpha = 0.5,
      epochSize = 1000L).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toMap
    assert(math.abs(rows.values.map(_._2).sum - 1.0) < 1e-4)
    // temperature flattens: small domain's weight exceeds its raw share,
    // the big domain's is below it
    assert(rows("small")._2 > rows("small")._1)
    assert(rows("big")._2 < rows("big")._1)
    // epoch budget follows the weights
    assert(rows.values.map(_._3).sum >= 998 && rows.values.map(_._3).sum <= 1002)
  }

  test("weightedSample: size, determinism, zero-weight exclusion, weight bias") {
    import spark.implicits._
    // 500 light rows (w=1), 20 heavy rows (w=1000), 10 zero-weight
    val df = ((1L to 500L).map((_, 1)) ++ (1001L to 1020L).map((_, 1000)) ++
      (2001L to 2010L).map((_, 0))).toDF("id", "w")
    def draw() = Sampling.weightedSample(df.repartition(8), "id", "w", k = 50, seed = 3)
      .collect().map(r => r.getLong(0)).toSet
    val s1 = draw()
    assert(s1.size == 50)
    assert(s1 == draw()) // deterministic rerun
    assert(s1.forall(_ < 2001L)) // zero weights never selected
    // w=1000 rows have priority u^(1/1000) ~ 1: virtually all 20 in
    val heavyIn = s1.count(id => id >= 1001L && id <= 1020L)
    assert(heavyIn >= 18, s"only $heavyIn of 20 heavy rows sampled")
  }

  test("largestRemainderAllocation: exact budget, hand-checked quotas, tie-break") {
    import spark.implicits._
    // weights 5,3,2 over budget 10: exact proportions, no remainders
    val even = Seq(("a", 5L), ("b", 3L), ("c", 2L)).toDF("k", "w")
    val g1 = Sampling.largestRemainderAllocation(even, Seq("k"), "w", 10L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(g1 == Map("a" -> 5L, "b" -> 3L, "c" -> 2L))
    // weights 1,1,1 over budget 10: floor 3 each, leftover 1 goes to
    // the smallest key on the remainder tie
    val tie = Seq(("x", 1L), ("y", 1L), ("z", 1L)).toDF("k", "w")
    val g2 = Sampling.largestRemainderAllocation(tie, Seq("k"), "w", 10L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(g2 == Map("x" -> 4L, "y" -> 3L, "z" -> 3L))
    // random weights: allocation always sums EXACTLY to the budget and
    // never deviates from the exact share by a full unit
    val rnd = new scala.util.Random(23)
    val w = (0 until 40).map(i => (f"g$i%02d", rnd.nextInt(1000) + 1L))
    val got = Sampling.largestRemainderAllocation(w.toDF("k", "w"), Seq("k"), "w", 99991L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got.values.sum == 99991L)
    val tw = w.map(_._2).sum.toDouble
    w.foreach { case (k, wi) =>
      assert(math.abs(got(k) - 99991L * wi / tw) < 1.0 + 1e-9, s"group $k") }
  }
}
