package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-14 pins: the exact-pair truth path on a hot (boilerplate)
  * shingle, ranged percentiles, and the native text/shingle kernels.
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
    val got = pipeline.Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      n = 3, minJaccard = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the 6-doc boilerplate bucket owes C(6,2) = 15 pair rows: docs
    // 10..15 share nothing but "x y z"
    val boilerPairs = got.keys.filter { case (a, b) => a >= 10L && b >= 10L }
    assert(boilerPairs.size == 15)
    // driver-side exact Jaccard over the 3-gram sets, rounded like the op
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
    import graft.operators.ExactPercentiles
    // 2000 groups over 1M rows with one hot group (40% of rows): many
    // groups must NOT inflate the driver collect — only partition-
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
        pipeline.Dedup.hashedWordShingles("text", n, seed).as("v"))
        .orderBy("id").collect().map(_.getSeq[Long](1).toSeq).toSeq
      val want = df.select(col("id"),
        pipeline.Dedup.hashedWordShinglesSql("text", n, seed).as("v"))
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
        expr(pipeline.Dedup.shinglePairsSqlLegacy("text", n)).as("v"))
        .orderBy("id").collect()
        .map(_.getSeq[org.apache.spark.sql.Row](1).map(r =>
          (r.getLong(0), r.getLong(1))).toSeq).toSeq
      assert(got == want, s"shinglePairs mismatch at n=$n")
    }
  }

  test("native shingle kernel: codegen path survives a repartitioned collect") {
    import spark.implicits._
    // force execution through whole-stage codegen on executors (a
    // LocalTableScan would const-fold at plan time — round-11 pitfall)
    val df = (0 until 1000).map(i => (i.toLong, s"tok${i % 7} a b c d tok$i end"))
      .toDF("id", "text").repartition(5)
    val n = df.select(explode(pipeline.Dedup.hashedWordShingles("text", 3)).as("h"))
      .distinct().count()
    assert(n > 1000, s"expected a diverse shingle set, got $n")
  }

  // ---- round-14 text-stats kernels: value identity vs the SQL chains ----

  /** Adversarial corpus for the text kernels: empty, 1-char, 1-token,
    * repeated tokens/bigrams, leading/trailing/double spaces (empty
    * tokens), multi-byte code points straddling bigram windows, a NULL
    * text, and a long mixed doc.
    */
  private lazy val textCorpus = {
    import spark.implicits._
    Seq(
      1L -> "",
      2L -> "x",
      3L -> "hello",
      4L -> "a a a a a",
      5L -> "the cat sat on the cat sat mat",
      6L -> " leading and trailing ",
      7L -> "double  space  runs",
      8L -> "caf\u00e9 na\u00efve \u00fcber caf\u00e9 \u4f60\u597d\u4e16\u754c \u4f60\u597d",
      9L -> null.asInstanceOf[String],
      10L -> (0 until 400).map(i => s"w${i % 13}").mkString(" "),
    ).toDF("doc_id", "text").repartition(3)
  }

  test("graft_token_stats == the split/array_distinct/bigram-agg SQL chain") {
    val got = textCorpus.select(col("doc_id"),
      call_function("graft_token_stats", col("text")).as("ts"))
      .select(col("doc_id"), col("ts.n_tokens"), col("ts.n_distinct"),
        col("ts.n_bigrams"), col("ts.top_c"))
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    // the pre-round-14 formulation, verbatim
    val toks = textCorpus.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val stats = toks.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
    val biAgg = toks.select(col("doc_id"), explode(expr(
      "CASE WHEN size(toks) >= 2 THEN " +
        "transform(sequence(1, size(toks) - 1), i -> concat_ws(' ', toks[i-1], toks[i])) " +
        "ELSE CAST(array() AS ARRAY<STRING>) END")).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_c"))
    // NULL text: split/size/array_distinct all yield NULL under the
    // default (non-legacy) sizeOfNull conf, matching the NULL struct
    val want = stats.join(biAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("n_bigrams"), col("top_c"))
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    assert(got == want)
  }

  test("graft_char_bigram_counts == substring-transform counts (code points)") {
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

  test("graft_word_bigrams == named_struct(element_at) transform, in order") {
    val got = textCorpus.select(col("doc_id"),
      call_function("graft_word_bigrams", col("text")).as("bgs"))
      .orderBy("doc_id").collect().toSeq
      .map(r => r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getString(0), x.getString(1))).toSeq)
    val want = textCorpus.select(col("doc_id"), expr(
      """CASE WHEN size(split(text, ' ')) >= 2 THEN
        |  transform(sequence(1, size(split(text, ' ')) - 1),
        |    i -> named_struct('w1', element_at(split(text, ' '), i),
        |                      'w2', element_at(split(text, ' '), i + 1)))
        |ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) END""".stripMargin)
      .as("bgs"))
      .orderBy("doc_id").collect().toSeq
      .map(r => r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getString(0), x.getString(1))).toSeq)
    assert(got == want)
  }

  test("graft_token_counts: explode+sum == raw-split explode+count") {
    val got = textCorpus
      .select(explode(call_function("graft_token_counts", col("text"))).as("tc"))
      .select(col("tc.w").as("w"), col("tc.c").as("c0"))
      .groupBy("w").agg(sum(col("c0")).as("c"))
      .orderBy("w").collect().toSeq.map(_.toSeq)
    val want = textCorpus.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy("w").collect().toSeq.map(_.toSeq)
    assert(got == want)
  }

  test("graft_wordset_counts == k wordSetCount columns + token count") {
    import graft.pipeline.TextAnalysis
    val sets = Seq(Seq("the", "a", "cat"), Seq("w1", "w2", "space"),
      "caf\u00e9 \u4f60\u597d".split(' ').toSeq)
    val spec = sets.map(_.mkString(",")).mkString("|")
    val nonNull = textCorpus.filter(col("text").isNotNull)
    val got = nonNull.select(col("doc_id"),
      call_function("graft_wordset_counts", col("text"), lit(spec)).as("wc"))
      .orderBy("doc_id").collect().toSeq
      .map(r => r.getSeq[Long](1).toSeq)
    val want = nonNull.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n"),
      TextAnalysis.wordSetCount(col("text"), sets(0)).as("h0"),
      TextAnalysis.wordSetCount(col("text"), sets(1)).as("h1"),
      TextAnalysis.wordSetCount(col("text"), sets(2)).as("h2"))
      .orderBy("doc_id").collect().toSeq
      .map(r => Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got == want)
    // NULL text -> NULL array, like the sizes it fuses
    val nulls = textCorpus.filter(col("text").isNull)
      .select(call_function("graft_wordset_counts", col("text"), lit(spec)))
      .collect().toSeq
    assert(nulls.forall(_.isNullAt(0)))
  }

  test("graft_maxsim_long == the nested higher-order MaxSim chain") {
    import spark.implicits._
    // adversarial grid: normal 8x8, ragged subvector lengths, nulls in
    // subvectors, null subvectors, empty dv, empty qv — plus a random
    // block large enough to run on executors
    val rnd = new scala.util.Random(42)
    def vec(n: Int): Seq[java.lang.Long] =
      Seq.fill(n)(java.lang.Long.valueOf(rnd.nextInt(2001) - 1000L))
    val rows: Seq[(Long, Seq[Seq[java.lang.Long]], Seq[Seq[java.lang.Long]])] =
      (0 until 200).map { i =>
        (i.toLong, Seq.fill(4)(vec(8)), Seq.fill(4)(vec(8)))
      } ++ Seq(
        (1000L, Seq(vec(8), vec(3)), Seq(vec(8), vec(8))), // ragged q
        (1001L, Seq(vec(8)), Seq(vec(3), vec(8))), // ragged d: mismatch skipped by max
        (1002L, Seq(vec(8)), Seq(vec(3), vec(5))), // all dots null -> null
        (1003L, Seq(Seq[java.lang.Long](1L, null, 3L)), Seq(vec(3))), // null elem
        (1004L, Seq(vec(8), null), Seq(vec(8))), // null qs -> null
        (1005L, Seq(vec(8)), Seq.empty), // empty dv -> null
        (1006L, Seq.empty, Seq(vec(8))), // empty qv -> 0
      )
    val df = rows.toDF("id", "qv", "dv").repartition(5)
    val hof =
      """aggregate(
        |  transform(qv, qs ->
        |    array_max(transform(dv, ds ->
        |      aggregate(zip_with(qs, ds, (x, y) -> x * y),
        |                0L, (a, x) -> a + x)))),
        |  0L, (a, x) -> a + x)""".stripMargin
    val got = df.select(col("id"),
      call_function("graft_maxsim_long", col("qv"), col("dv")).as("s"))
      .orderBy("id").collect().toSeq.map(_.toSeq)
    val want = df.select(col("id"), expr(hof).as("s"))
      .orderBy("id").collect().toSeq.map(_.toSeq)
    assert(got == want)
    assert(want.takeRight(5).map(_(1)) == Seq(null, null, null, null, 0L))
  }

  test("text kernels: codegen path survives a repartitioned executor run") {
    import spark.implicits._
    // big enough to defeat LocalTableScan const-folding; check one
    // aggregate per kernel so the whole path runs compiled
    val df = (0 until 2000).map(i => (i.toLong,
      s"tok${i % 7} the a x${i % 31} tok${i % 7} end$i")).toDF("id", "text")
      .repartition(7)
    val ts = df.select(call_function("graft_token_stats", col("text")).as("ts"))
      .agg(sum(col("ts.n_distinct"))).collect()(0).getLong(0)
    assert(ts == 2000L * 5) // 6 tokens, tok-prefix repeats once per row
    val wc = df.select(call_function("graft_wordset_counts", col("text"),
      lit("the,a|end1,end2")).as("wc"))
      .agg(sum(element_at(col("wc"), 2))).collect()(0).getLong(0)
    assert(wc == 4000L)
  }
}
