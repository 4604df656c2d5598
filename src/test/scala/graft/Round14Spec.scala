package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.ExactPercentiles
import graft.pipeline.Dedup

/** Pins not yet folded into their component specs: the exact-pair
  * truth path on a hot (boilerplate) shingle, the ranged-percentile
  * boundary bound, the native shingle kernels and the char-bigram
  * kernel. Each belongs in the spec of the component it pins (ROADMAP
  * item 9).
  */
class Round14Spec extends AnyFunSuite with SparkSpec {

  // 3 organic near-dup docs plus 6 docs sharing ONE boilerplate
  // 3-gram ("x y z" embedded in otherwise-disjoint text): the
  // boilerplate shingle has df=6, everything else df≤3
  private def corpus = {
    import spark.implicits._
    (Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e g"),
      (3L, "a b c d e f")) ++
      (10L to 15L).map(i => (i, s"u$i v$i x y z w$i"))).toDF("doc_id", "text")
  }

  test("ngramJaccardPairs: a hot shingle's bucket yields every pair at its exact score") {
    val got = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      n = 3, minJaccard = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the 6-doc boilerplate bucket owes C(6,2) = 15 pair rows: docs
    // 10..15 share nothing but "x y z"
    val boilerPairs = got.keys.filter { case (a, b) => a >= 10L && b >= 10L }
    assert(boilerPairs.size == 15)
    // exact Jaccard computed locally over the 3-gram sets, rounded like the op
    val shingles = corpus.collect().map { r =>
      r.getLong(0) -> r.getString(1).split(' ').sliding(3).map(_.mkString(" ")).toSet
    }.toMap
    val want = (for {
      (a, sa) <- shingles; (b, sb) <- shingles
      if a < b && (sa & sb).nonEmpty
    } yield (a, b) -> BigDecimal((sa & sb).size.toDouble / (sa | sb).size)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    assert(got == want)
  }

  test("ranged percentiles: boundary collect stays within the 2P-2 bound") {
    // 2000 groups over 1M rows with one hot group (40% of rows): many
    // groups must NOT inflate the boundary collect — only partition-
    // boundary-straddling groups ship offsets
    val df = spark.range(0, 1000000).select(
      when(col("id") % 5 < 2, lit(0L)).otherwise(pmod(col("id"), lit(2000L)))
        .as("g"),
      (col("id") * 2654435761L % 100003L).cast("double").as("v"))
    val expectGroups = df.select("g").distinct().count()
    val out = ExactPercentiles.exact(df.toDF(), Seq("g"), "v",
      Seq("p50" -> 0.5), maxGroupRows = 1).collect()
    assert(ExactPercentiles.lastPath == "ranged")
    assert(out.length == expectGroups)
    assert(expectGroups > 1000, "the many-group premise must hold")
    val p = spark.sessionState.conf.numShufflePartitions
    val collected = ExactPercentiles.lastBoundaryRows
    assert(collected >= 0)
    assert(collected <= 2L * p - 2,
      s"boundary collect must be <= 2P-2 = ${2 * p - 2} rows, got $collected " +
        "(contiguous range partitions: each boundary straddled by <= 1 group)")
  }

  test("native shingle kernel: value-identical to the SQL chain on adversarial texts") {
    import spark.implicits._
    // double spaces (empty tokens), trailing/leading spaces, repeated
    // grams (distinct order), exactly-n tokens, short docs, empty
    // string, NULL, multi-byte UTF-8, and a long synthetic doc
    val texts: Seq[String] = Seq(
      "a b c d e f g",
      "a  b c", // empty token: gram 'a  b' etc.
      " a b c ", // leading/trailing empties
      "x y x y x y x y", // repeated grams
      "p q r", // exactly 3 tokens at n=3
      "t u", // too short for n=3
      "", // one empty token
      null,
      "héllo wörld ünïcode tokens here",
      Seq.tabulate(200)(i => s"w${i % 37}").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").repartition(3)
    for (n <- Seq(1, 3, 5, 8); seed <- Seq(0, 7)) {
      val got = df.select(col("id"),
        Dedup.hashedWordShingles("text", n, seed).as("v"))
        .orderBy("id").collect().map(_.getSeq[Long](1).toSeq).toSeq
      val want = df.select(col("id"),
        Dedup.hashedWordShinglesSql("text", n, seed).as("v"))
        .orderBy("id").collect().map(r =>
          if (r.isNullAt(1)) null else r.getSeq[Long](1).toSeq).toSeq
      assert(got == want, s"hashedWordShingles mismatch at n=$n seed=$seed")
    }
    for (n <- Seq(1, 3, 5); seed <- Seq(0, 7)) {
      // all-positions variant vs the raw transform chain (docs shorter
      // than n guarded to empty on both sides)
      val got = df.filter(expr(s"size(split(text, ' ')) >= $n")).select(col("id"),
        expr(s"graft_shingles_all(text, $n, $seed)").as("v"))
        .orderBy("id").collect().map(_.getSeq[Long](1).toSeq).toSeq
      val want = df.filter(expr(s"size(split(text, ' ')) >= $n")).select(col("id"),
        expr(s"""transform(sequence(1, size(split(text, ' ')) - ${n - 1}),
                |  i -> graft_md5hi60(concat('$seed:', concat_ws(' ', slice(split(text, ' '), i, $n)))))"""
          .stripMargin).as("v"))
        .orderBy("id").collect().map(_.getSeq[Long](1).toSeq).toSeq
      assert(got == want, s"shinglesAll mismatch at n=$n seed=$seed")
    }
    for (n <- Seq(1, 3, 5)) {
      val got = df.select(col("id"),
        expr(s"graft_shingle_pairs(text, $n)").as("v"))
        .orderBy("id").collect()
        .map(_.getSeq[org.apache.spark.sql.Row](1).map(r =>
          (r.getLong(0), r.getLong(1))).toSeq).toSeq
      val want = df.select(col("id"),
        expr(Dedup.shinglePairsSqlLegacy("text", n)).as("v"))
        .orderBy("id").collect()
        .map(_.getSeq[org.apache.spark.sql.Row](1).map(r =>
          (r.getLong(0), r.getLong(1))).toSeq).toSeq
      assert(got == want, s"shinglePairs mismatch at n=$n")
    }
  }

  test("native shingle kernel: codegen path survives a repartitioned collect") {
    import spark.implicits._
    // force execution through whole-stage codegen on executors (a
    // LocalTableScan would const-fold at plan time)
    val df = (0 until 1000).map(i => (i.toLong, s"tok${i % 7} a b c d tok$i end"))
      .toDF("id", "text").repartition(5)
    val n = df.select(explode(Dedup.hashedWordShingles("text", 3)).as("h"))
      .distinct().count()
    assert(n > 1000, s"expected a diverse shingle set, got $n")
  }

  test("graft_char_bigram_counts == substring-transform counts (code points)") {
    import spark.implicits._
    val textCorpus = graft.functions.TextKernelsSpec.corpus.toDF("doc_id", "text").repartition(3)
    val got = textCorpus.select(col("doc_id"),
      explode(call_function("graft_char_bigram_counts", col("text"))).as("kv"))
      .select(col("doc_id"), col("kv.bg").as("bg"), col("kv.c").as("c"))
      .orderBy("doc_id", "bg").collect().toSeq.map(_.toSeq)
    val want = textCorpus.select(col("doc_id"), explode(expr(
      "CASE WHEN length(text) >= 2 THEN " +
        "transform(sequence(1, length(text) - 1), i -> substring(text, i, 2)) " +
        "ELSE CAST(array() AS ARRAY<STRING>) END")).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .orderBy("doc_id", "bg").collect().toSeq.map(_.toSeq)
    assert(got == want)
  }
}
