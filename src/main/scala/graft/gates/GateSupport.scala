package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Helpers shared by more than one gate family: the sf-table loader
  * `t`, the streaming query counter, and the oracle-side fixture paths
  * and SQL fragments.
  */
private[graft] object GateSupport {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private[graft] val streamGateN = new java.util.concurrent.atomic.AtomicInteger()

  /** Shared CTE chain of the MinHash-LSH oracle (q13, q51, q55, q60/61):
    * shingle → double-hash h_i = h1 + i*(h2>>4) (mirroring
    * [[graft.pipeline.Dedup.minhashSignatures]]) → signatures → banded
    * bucket keys. `src` is the (doc_id, text) relation to hash —
    * `documents` for the standalone queries, the curation-survivor CTE
    * for q60/q61. `p` prefixes the CTE names so two chains (q70's
    * incoming + corpus sides) can coexist in one WITH.
    */
  private[graft] def minhashCtes(src: String = "documents", p: String = ""): String = {
    val sigCols = (0 until 12)
      .map(i => s"MIN(h1 + $i * h2) AS h$i")
      .mkString(",\n        ")
    val bandSelects = (0 until 4).map { b =>
      val parts = (0 until 3).map(i => s"h${b * 3 + i}::VARCHAR").mkString(" || ',' || ")
      s"SELECT doc, $b AS band, md5($parts) AS bkey FROM ${p}sig"
    }.mkString("\n  UNION ALL ")
    s"""${p}sh AS (
       |  SELECT DISTINCT doc_id AS doc, array_to_string(tok[i:i+2], ' ') AS s
       |  FROM (SELECT doc_id, string_split(text, ' ') AS tok FROM $src),
       |       generate_series(1, 100000) t(i)
       |  WHERE i + 2 <= len(tok)
       |), ${p}hs AS (
       |  SELECT doc, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h1,
       |         (('0x' || substr(md5(s), 17, 15))::BIGINT >> 4) AS h2
       |  FROM ${p}sh
       |), ${p}sig AS (
       |  SELECT doc, $sigCols
       |  FROM ${p}hs GROUP BY doc
       |), ${p}buckets AS (
       |  $bandSelects
       |)""".stripMargin
  }

  /** The sf directory the oracle fixture reads resolve against: the one
    * [[Verify]] is running (system property set by [[Verify.main]]),
    * else sf0.01. The oracles thus always read the fixture the Spark
    * side computed against.
    */
  private[graft] def oracleSfDir: String =
    sys.props.getOrElse("graft.verify.sfdir", "/root/testdata/sf0.01")

  /** The q461/q464 shared verdict oracle: the q458 integer chain's
    * store-screen half (quantize, trained-centroid argmin,
    * delta(%4==0) x store(%4<>0) same-cluster pairs under the exact
    * cosine predicate, rolled up per delta vec). Two gates, one
    * truth: q461 arrives through a real stream, q464 through a
    * parquet+fresh-session restart seam - both must be
    * value-invisible transports.
    */
  private[graft] def semScreenOracleSql: String =
      s"""WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(floor(x::DOUBLE * 1000.0 + 0.5) AS BIGINT)) AS q
        |  FROM embeddings
        |), c AS (
        |  SELECT cq, cidx FROM $sdf
        |), a AS (
        |  SELECT vec_id,
        |    min(CAST(list_sum(list_transform(list_zip(q, cq),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) * 8
        |        + cidx) AS key
        |  FROM v CROSS JOIN c GROUP BY vec_id
        |), m AS (
        |  SELECT v.vec_id, v.q, a.key % 8 AS cluster,
        |    CAST(list_sum(list_transform(v.q, x -> x * x)) AS BIGINT) AS n2
        |  FROM v JOIN a USING (vec_id)
        |), st AS (SELECT * FROM m WHERE vec_id % 4 <> 0),
        |dl AS (SELECT * FROM m WHERE vec_id % 4 = 0),
        |mates AS (
        |  SELECT d.vec_id, COUNT(DISTINCT s.vec_id)::BIGINT AS n_mates,
        |         MIN(s.vec_id)::BIGINT AS min_mate
        |  FROM dl d JOIN st s ON d.cluster = s.cluster
        |  WHERE CAST(list_sum(list_transform(list_zip(d.q, s.q),
        |          p -> p[1] * p[2])) AS BIGINT) > 0
        |    AND CAST(list_sum(list_transform(list_zip(d.q, s.q),
        |          p -> p[1] * p[2])) AS BIGINT)
        |      * CAST(list_sum(list_transform(list_zip(d.q, s.q),
        |          p -> p[1] * p[2])) AS BIGINT) * 16 >= d.n2 * s.n2
        |  GROUP BY d.vec_id
        |)
        |SELECT dl.vec_id, (mt.vec_id IS NOT NULL) AS dup_of_store,
        |       COALESCE(mt.n_mates, 0)::BIGINT AS n_mates,
        |       COALESCE(mt.min_mate, -1)::BIGINT AS min_mate
        |FROM dl LEFT JOIN mates mt ON dl.vec_id = mt.vec_id
        |ORDER BY dl.vec_id""".stripMargin

  /** Quantized trained-centroid plane read for the q455 oracle — same
    * sfDir resolution as [[lnf]]; [[graft.sources.SemDedupFixture]]
    * (invoked by the q455 query def) materializes (cidx, cq) before
    * the oracle runs, so the oracle replays the exact integer
    * assignment without replaying the floating-point Lloyd rounds.
    */
  private[graft] def sdf: String =
    s"read_parquet('${graft.sources.SemDedupFixture.dir(oracleSfDir)}/cents.parquet/*.parquet')"
}
