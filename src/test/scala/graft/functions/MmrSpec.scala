package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The fused MMR greedy kernel `graft_mmr_pick` against the verbatim
  * per-round DataFrame loop it replaces.
  */
class MmrSpec extends AnyFunSuite with SparkSpec {

  /** The VERBATIM pre-round-15 greedy loop (SparkEntry round-14 form),
    * operating on prepared (query_id, doc_id, rel) candidates and
    * (query_id, da, db, sim) oriented pairs.
    */
  private def mmrLoop(cand: DataFrame, psim0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val psim = psim0.unionByName(psim0.select(col("query_id"),
      col("db").as("da"), col("da").as("db"), col("sim"))
      .select(col("query_id"), col("da"), col("db"), col("sim")))
      .localCheckpoint()
    val wPick = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    var all = cand.withColumn("score", col("rel") * 7L)
      .withColumn("rk", row_number().over(wPick)).filter(col("rk") === 1)
      .select(col("query_id"), lit(1).as("k"), col("doc_id"), col("score"))
    var k = 2
    while (k <= 5) {
      val rem = cand.join(all.select(col("query_id"), col("doc_id")),
        Seq("query_id", "doc_id"), "left_anti")
      val ms = rem
        .join(psim.withColumnRenamed("da", "doc_id").withColumnRenamed("db", "sd"),
          Seq("query_id", "doc_id"))
        .join(all.select(col("query_id"), col("doc_id").as("sd")),
          Seq("query_id", "sd"))
        .groupBy("query_id", "doc_id").agg(max(col("sim")).as("maxsim"))
      val pick = rem.join(ms, Seq("query_id", "doc_id"), "left")
        .withColumn("score", expr("7 * rel - 3 * coalesce(maxsim, 0)"))
        .withColumn("rk", row_number().over(wPick)).filter(col("rk") === 1)
        .select(col("query_id"), lit(k).as("k"), col("doc_id"), col("score"))
      all = all.unionByName(pick).localCheckpoint()
      k += 1
    }
    all.select(col("query_id"), col("k"), col("doc_id"), col("score"))
      .orderBy("query_id", "k")
  }

  /** The fused round-15 form (the qMmrRerank tail). */
  private def mmrFused(cand: DataFrame, psim0: DataFrame): DataFrame = {
    val candAgg = cand.groupBy("query_id")
      .agg(collect_list(struct(col("doc_id"), col("rel"))).as("cands"))
    val simAgg = psim0.groupBy("query_id")
      .agg(collect_list(struct(col("da"), col("db"), col("sim"))).as("sims"))
    candAgg.join(simAgg, Seq("query_id"), "left")
      .select(col("query_id"),
        explode(call_function("graft_mmr_pick", col("cands"), col("sims")))
          .as("p"))
      .select(col("query_id"), col("p.k").as("k"), col("p.doc_id").as("doc_id"),
        col("p.score").as("score"))
      .orderBy("query_id", "k")
  }

  private def mmrFixture(seed: Int, nQueries: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val cands = (1 to nQueries).flatMap { q =>
      val n = 1 + rnd.nextInt(20)
      val docs = rnd.shuffle((1L to 200L).toList).take(n)
      // duplicate rel values on purpose: the (score desc, doc asc)
      // tie-break must be exercised, not dodged
      docs.map(d => (q.toLong, d, (rnd.nextInt(5).toLong) * 250000L))
    }
    val cand = cands.toDF("query_id", "doc_id", "rel")
    val psim0 = cands.groupBy(_._1).toSeq.flatMap { case (q, ds) =>
      val ids = ds.map(_._2).sorted
      for {
        a <- ids; b <- ids if a < b
      } yield (q, a, b, rnd.nextInt(1000001).toLong)
    }.toDF("query_id", "da", "db", "sim")
    (cand, psim0)
  }

  test("fused MMR ≡ verbatim greedy loop (rows and schema)") {
    val (cand, psim0) = mmrFixture(seed = 7, nQueries = 25)
    val a = mmrLoop(cand, psim0)
    val b = mmrFused(cand, psim0)
    assert(b.schema.map(f => (f.name, f.dataType)) ==
      a.schema.map(f => (f.name, f.dataType)),
      s"schema drift: ${a.schema} vs ${b.schema}")
    val ra = a.collect().map(_.toSeq).toSeq
    val rb = b.collect().map(_.toSeq).toSeq
    assert(ra == rb, s"row drift:\nloop:  ${ra.take(12)}\nfused: ${rb.take(12)}")
  }

  test("fused MMR: single-candidate queries (null sims) and tie storms") {
    import spark.implicits._
    // one query with a single candidate (no pairs at all → left-join
    // null sims), one where every rel and sim ties (pure doc-asc order)
    val cand = Seq(
      (1L, 42L, 500000L),
      (2L, 9L, 100000L), (2L, 3L, 100000L), (2L, 27L, 100000L),
      (2L, 15L, 100000L), (2L, 1L, 100000L), (2L, 30L, 100000L))
      .toDF("query_id", "doc_id", "rel")
    val psim0 = Seq(
      (2L, 1L, 3L, 0L), (2L, 1L, 9L, 0L), (2L, 1L, 15L, 0L),
      (2L, 1L, 27L, 0L), (2L, 1L, 30L, 0L), (2L, 3L, 9L, 0L),
      (2L, 3L, 15L, 0L), (2L, 3L, 27L, 0L), (2L, 3L, 30L, 0L),
      (2L, 9L, 15L, 0L), (2L, 9L, 27L, 0L), (2L, 9L, 30L, 0L),
      (2L, 15L, 27L, 0L), (2L, 15L, 30L, 0L), (2L, 27L, 30L, 0L))
      .toDF("query_id", "da", "db", "sim")
    val ra = mmrLoop(cand, psim0).collect().map(_.toSeq).toSeq
    val rb = mmrFused(cand, psim0).collect().map(_.toSeq).toSeq
    assert(ra == rb)
    // query 1 emits exactly one pick, query 2 five doc-ascending picks
    assert(rb.count(_.head == 1L) == 1)
    assert(rb.filter(_.head == 2L).map(_(2)) == Seq(1L, 3L, 9L, 15L, 27L))
  }

  test("fused MMR: score overflow fails like the ANSI loop, never wraps") {
    import spark.implicits._
    // 7 · 2^61 overflows a long: the loop's ANSI `rel * 7` throws
    val cand = Seq((1L, 1L, 1L << 61), (1L, 2L, 5L))
      .toDF("query_id", "doc_id", "rel")
    val psim0 = Seq((1L, 1L, 2L, 0L)).toDF("query_id", "da", "db", "sim")
    def causes(t: Throwable) = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
    for ((form, run) <- Seq[(String, () => Any)](
        "loop" -> (() => mmrLoop(cand, psim0).collect()),
        "fused" -> (() => mmrFused(cand, psim0).collect()))) {
      val e = intercept[Throwable](run())
      assert(causes(e).exists(_.isInstanceOf[ArithmeticException]),
        s"$form: expected an ArithmeticException in the cause chain, got $e")
    }
  }
}
