package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The native text-stats kernels (`graft_token_stats`,
  * `graft_word_bigrams`, `graft_token_counts`, `graft_wordset_counts`):
  * value identity with the SQL chains they replace, on the interpreted
  * and codegen paths. (The `graft_char_bigram_counts` case is still in
  * Round14Spec.)
  */
class TextKernelsSpec extends AnyFunSuite with SparkSpec {

  private lazy val textCorpus = {
    import spark.implicits._
    TextKernelsSpec.corpus.toDF("doc_id", "text").repartition(3)
  }

  test("graft_token_stats == the split/array_distinct/bigram-agg SQL chain") {
    val got = textCorpus.select(col("doc_id"),
      call_function("graft_token_stats", col("text")).as("ts"))
      .select(col("doc_id"), col("ts.n_tokens"), col("ts.n_distinct"),
        col("ts.n_bigrams"), col("ts.top_c"))
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    // the SQL formulation the kernel replaced, verbatim
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

object TextKernelsSpec {

  /** Adversarial corpus for the text kernels: empty, 1-char, 1-token,
    * repeated tokens/bigrams, leading/trailing/double spaces (empty
    * tokens), multi-byte code points straddling bigram windows, a NULL
    * text, and a long mixed doc.
    */
  val corpus: Seq[(Long, String)] = Seq(
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
  )
}
