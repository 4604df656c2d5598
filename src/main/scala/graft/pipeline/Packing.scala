package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequence packing: concatenating documents into fixed-size context
  * windows for LM training. The deterministic "chunked" packing —
  * documents in a stable total order, laid head-to-tail over
  * consecutive `capacity`-token bins — is fully declarative (one
  * cumulative-sum window), reproducible on any engine, and leak-proof
  * (assignment depends only on ids and token counts, never on
  * partitioning or arrival order).
  */
object Packing {

  /** Assign each document a bin and in-bin offset: docs ordered by
    * `idCol`, `start_tok` = tokens before it, bin = start_tok DIV
    * capacity (a doc whose start crosses a bin boundary begins that
    * bin; consumers split or pad at read time).
    *
    * The global cumulative sum runs through [[Prefix.withPrefixSum]]
    * (range partition + per-partition offsets), so there is no
    * single-task `Window.orderBy` — the sort is distributed and each
    * partition windows locally. Semantics depend only on the `idCol`
    * total order (spec-pinned against the naive global window).
    */
  def packGreedy(df: DataFrame, idCol: String, tokens: Column,
                 capacity: Int): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    Prefix.withPrefixSum(
      df.select(col(idCol), tokens.cast("long").as("n_tokens")),
      Seq(idCol), "n_tokens")
      .withColumnRenamed("prefix", "start_tok")
      .withColumn("bin", (col("start_tok") / capacity).cast("long"))
      .withColumn("offset", (col("start_tok") % capacity).cast("long"))
  }

  /** The complement of [[packGreedy]] for LONG documents: split each
    * into `chunkSize`-token chunks starting every `stride` tokens (overlap
    * = chunkSize − stride), keeping the trailing shorter chunk so no
    * token is dropped. Map-only (one generator per doc — no shuffle, no
    * window): chunk starts are 0, stride, 2·stride, … strictly below
    * `n_tokens`, so a doc shorter than `chunkSize` yields one chunk
    * and an empty doc none.
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      "need 0 < stride <= chunkSize (stride > chunkSize would drop tokens)")
    // split() never yields an empty array (empty text -> [""]), so the
    // sequence upper bound (size-1) div stride is always >= 0; the ""
    // pseudo-chunk of an empty doc is dropped by the length filter
    df.select(col(idCol), split(col(textCol), " ").as("__toks"))
      .select(col(idCol),
        posexplode(expr(
          s"""transform(
             |  sequence(0, (size(__toks) - 1) div $stride),
             |  i -> concat_ws(' ', slice(__toks, i * $stride + 1, $chunkSize)))""".stripMargin))
          .as(Seq("chunk_id", "chunk")))
      .filter(length(col("chunk")) > 0)
      .withColumn("chunk_id", col("chunk_id").cast("long"))
      .withColumn("chunk_tokens", size(split(col("chunk"), " ")).cast("long"))
  }
}
