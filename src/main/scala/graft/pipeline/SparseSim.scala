package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sparse (term-vector) cosine similarity via an inverted-index join —
  * the text-side complement of [[Similarity]]'s dense-embedding paths.
  *
  * Documents are represented as integer term-frequency vectors; the
  * dot product of two documents is computed by joining their postings
  * on the term and summing tf·tf — never by materializing a doc×doc
  * cross product. This is the standard scalable shape of all-pairs
  * similarity search (prefix/inverted-index filtering, à la Vernica et
  * al., SIGMOD'10): pair candidates exist ONLY where an index entry is
  * shared, so work is Σ_term df(term)·|queries ∩ term| rather than
  * |corpus|².
  *
  * Hash-exactness across engines: tf values are integer counts, so
  * dots and squared norms are integer-valued double sums (exact below
  * 2^53 regardless of summation order), and `cos = dot / sqrt(qn2·cn2)`
  * uses only IEEE-correctly-rounded ops — bit-identical in any engine,
  * which is what lets the DuckDB oracle hash-match rank ordering on
  * the raw (unrounded) score.
  */
object SparseSim {

  /** Postings list `(id, term, tf)` of whitespace-tokenized text.
    *
    * The per-doc term frequencies come from the native one-pass
    * counting kernel
    * ([[org.apache.spark.sql.graft.TextStatsKernel.tokenCounts]],
    * round 14) instead of `explode(split(...))` + a (id, term)
    * aggregation: the kernel emits exactly the distinct (term, tf)
    * pairs per document, so the postings build is MAP-ONLY — the
    * shuffle that grouped one row per token position disappears, and
    * so does the per-doc token string array. The trailing filter drops
    * the empty-string token exactly like the pre-explode filter did
    * (its per-doc count only ever fed the "" group).
    */
  def termVectors(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        explode(call_function("graft_token_counts", col(textCol))).as("tc"))
      .filter(col("tc.w") =!= "")
      .select(col(idCol), col("tc.w").as("term"), col("tc.c").as("tf"))

  /** Top-`k` cosine-most-similar corpus documents per query document.
    *
    * `maxDf` (optional) drops terms whose document frequency exceeds
    * the cap BEFORE the join — the classic stop-term prune that bounds
    * per-term join fan-out at web scale (a term appearing in 10% of a
    * 10B-doc corpus would otherwise contribute 10^18 candidate pairs).
    * Norms stay full-vector, so pruned scores are lower bounds of the
    * true cosine; with `maxDf = None` scores are exact.
    *
    * Plan shape: query postings and query norms are broadcast (queries
    * ≪ corpus); the corpus-side postings join is a broadcast hash join
    * probed inside the corpus scan's partitions, the dot aggregation
    * shuffles on (query, match) — bounded by candidate pairs, not
    * corpus size — and the final top-k is a per-query window.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 textCol: String, k: Int = 5,
                 maxDf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ctv0 = termVectors(corpus, idCol, textCol)
    val ctv = maxDf match {
      case Some(cap) =>
        val keep = ctv0.groupBy(col("term")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).select(col("term"))
        ctv0.join(broadcast(keep), "term")
      case None => ctv0
    }
    val qtv = termVectors(queries, idCol, textCol)
    // norms over the FULL vectors (even when the join side is pruned)
    val cn2 = ctv0.groupBy(col(idCol)).agg(sum(col("tf") * col("tf")).as("norm2"))
    val qn2 = qtv.groupBy(col(idCol)).agg(sum(col("tf") * col("tf")).as("norm2"))
    val dots = ctv.as("c")
      .join(broadcast(qtv.as("q")),
        col("q.term") === col("c.term") &&
          col(s"c.$idCol") =!= col(s"q.$idCol"))
      .groupBy(col(s"q.$idCol").as("query_id"), col(s"c.$idCol").as("match_id"))
      .agg(sum(col("q.tf") * col("c.tf")).as("dot"))
    val scored = dots
      .join(broadcast(qn2.select(col(idCol).as("query_id"), col("norm2").as("qn2"))),
        "query_id")
      .join(cn2.select(col(idCol).as("match_id"), col("norm2").as("cn2")), "match_id")
      .withColumn("cos",
        col("dot").cast("double") / sqrt((col("qn2") * col("cn2")).cast("double")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("match_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("match_id"), col("dot"),
        round(col("cos"), 6).as("cos"))
  }
}
