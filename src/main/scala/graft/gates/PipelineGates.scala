package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import GateSupport._

/** Data-pipeline gates: curation, multimodal decode, packing,
  * contamination, snapshots and incremental state, profiling, privacy
  * screens and training-set preparation.
  */
private[graft] object PipelineGates extends GateFamily {

  /** Multimodal metadata path: documents' text as opaque utf-8 binary
    * content — byte length, digest, magic-byte format sniff (pure
    * expressions; the decode stage itself is gated by q71).
    */
  private def qMultimodalMeta(s: SparkSession, dir: String): DataFrame = {
    val assets = t(s, dir, "documents")
      .select(col("doc_id").as("asset_id"), encode(col("text"), "utf-8").as("content"))
    graft.pipeline.Multimodal.contentMeta(assets, "asset_id", "content")
      .orderBy("asset_id")
  }
  // documents are ASCII, so text-level md5/length in DuckDB equal the
  // utf-8 binary md5/byte-length Spark computes
  gate("q26_multimodal_meta")(qMultimodalMeta(_, _))(
    """SELECT doc_id AS asset_id,
      |       octet_length(encode(text))::BIGINT AS byte_len,
      |       md5(text) AS content_md5,
      |       CASE WHEN left(upper(hex(encode(substr(text, 1, 4)))), 8) = '89504E47' THEN 'png'
      |            ELSE 'unknown' END AS format
      |FROM documents ORDER BY asset_id""".stripMargin)

  /** Real multimodal decode gate: synthesize a deterministic gradient
    * PNG per document (width/height/pixel values all arithmetic in
    * `doc_id`), push the bytes through the REAL `javax.imageio` decode
    * ([[graft.pipeline.Multimodal.decodeImageFeatures]]), and emit the
    * exact integer pixel statistics. The oracle recomputes the same
    * statistics in closed form — they only match if the engine
    * actually decoded the pixels it encoded (PNG is lossless). Pixel
    * formulas are bounded < 256 by construction (base ≤ 63, 3x ≤ 45,
    * 5y ≤ 45) so no channel ever wraps.
    */
  private def qMultimodalDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = graft.pipeline.Par.spread(
      t(s, dir, "documents").select(col("doc_id"))).as[Long]
    val assets = docs.mapPartitions(_.map { id =>
      val w = 4 + (id % 13).toInt
      val h = 4 + (id % 7).toInt
      val base = (id % 64).toInt
      graft.pipeline.Multimodal.Asset(id, "image",
        graft.pipeline.Multimodal.encodePng(w, h, (x, y) =>
          ((base + 3 * x + 5 * y) << 16) | ((base + 2 * x + 7 * y) << 8) |
            (base + x + y)))
    })
    graft.pipeline.Multimodal.decodeImageFeatures(assets)
      .toDF()
      .select(col("asset_id").as("doc_id"), col("width"), col("height"),
        col("sum_r"), col("sum_g"), col("sum_b"))
      .orderBy("doc_id")
  }
  // closed-form pixel statistics of the per-doc gradient PNG that
  // qMultimodalDecode encodes then REALLY decodes via ImageIO:
  // Σ_{x<w,y<h} (base + a·x + b·y) = w·h·base + a·h·T(w) + b·w·T(h)
  // with T(n) = n(n-1)/2 (exact integers — PNG is lossless)
  gate("q71_multimodal_decode")(qMultimodalDecode(_, _))(
    """WITH p AS (
      |  SELECT doc_id,
      |         4 + doc_id % 13 AS w,
      |         4 + doc_id % 7  AS h,
      |         doc_id % 64     AS base
      |  FROM documents)
      |SELECT doc_id,
      |       w::INTEGER AS width,
      |       h::INTEGER AS height,
      |       (w*h*base + 3*h*(w*(w-1)//2) + 5*w*(h*(h-1)//2))::BIGINT AS sum_r,
      |       (w*h*base + 2*h*(w*(w-1)//2) + 7*w*(h*(h-1)//2))::BIGINT AS sum_g,
      |       (w*h*base + 1*h*(w*(w-1)//2) + 1*w*(h*(h-1)//2))::BIGINT AS sum_b
      |FROM p ORDER BY doc_id""".stripMargin)

  /** Real audio decode gate: WAV containers synthesized from `doc_id`
    * through the JDK's own WAVE writer, decoded by
    * [[graft.pipeline.Multimodal.decodeAudioFeatures]]. PCM is
    * lossless, so the oracle recomputes the exact per-asset amplitude
    * sums arithmetically (the audio analog of q71's pixel sums).
    */
  private def qAudioDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = graft.pipeline.Par.spread(
      t(s, dir, "documents").select(col("doc_id"))).as[Long]
    val assets = docs.mapPartitions(_.map { id =>
      val rate = 8000 + 1000 * (id % 4).toInt
      val n = 200 + (id % 50).toInt
      val samples = Array.tabulate(n)(i =>
        ((id * 31 + i * 17) % 4001 - 2000).toShort)
      graft.pipeline.Multimodal.Asset(id, "audio",
        graft.pipeline.Multimodal.encodeWav(rate, samples))
    })
    graft.pipeline.Multimodal.decodeAudioFeatures(assets)
      .toDF()
      .select(col("asset_id").as("doc_id"), col("sample_rate"),
        col("channels"), col("n_frames"), col("sum_abs"))
      .orderBy("doc_id")
  }
  // q74: WAV round trip through the JDK's own WAVE codec; PCM is
  // lossless so Σ|sample| is recomputed arithmetically over the
  // same per-doc synthesis formula (the audio analog of q71)
  gate("q74_audio_decode")(qAudioDecode(_, _))(
    """WITH p AS (
      |  SELECT doc_id,
      |         (8000 + 1000 * (doc_id % 4))::INTEGER AS sample_rate,
      |         200 + (doc_id % 50) AS cnt
      |  FROM documents),
      |s AS (
      |  SELECT p.doc_id, p.sample_rate, p.cnt,
      |         CAST(SUM(ABS((p.doc_id * 31 + g.i * 17) % 4001 - 2000)) AS BIGINT) AS sum_abs
      |  FROM p, generate_series(0, 249) AS g(i)
      |  WHERE g.i < p.cnt
      |  GROUP BY 1, 2, 3)
      |SELECT doc_id, sample_rate, 1::INTEGER AS channels,
      |       cnt::BIGINT AS n_frames, sum_abs
      |FROM s ORDER BY doc_id""".stripMargin)

  /** Deterministic sequence packing into 2048-token bins. */
  private def qSeqPacking(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Packing.packGreedy(t(s, dir, "documents"), "doc_id",
      size(split(col("text"), " ")), capacity = 2048)
      .orderBy("doc_id")
  gate("q52_seq_packing")(qSeqPacking(_, _))(
    """SELECT doc_id, n_tokens, start_tok,
      |       (start_tok // 2048)::BIGINT AS bin,
      |       (start_tok % 2048)::BIGINT AS "offset"
      |FROM (
      |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens,
      |         COALESCE(SUM(len(string_split(text, ' ')))
      |                  OVER (ORDER BY doc_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |                  0)::BIGINT AS start_tok
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin)

  /** Benchmark-contamination flags: corpus = doc_id % 100 != 0,
    * benchmark = doc_id % 100 == 0, 8-gram overlap.
    */
  private def qContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.pipeline.Contamination.flagNgramOverlap(
      docs.filter(col("doc_id") % 100 =!= 0),
      docs.filter(col("doc_id") % 100 === 0),
      "doc_id", "text", n = 8)
      .orderBy("doc_id")
  }
  gate("q53_contamination")(qContamination(_, _))(
    """WITH bsh AS (
      |  SELECT DISTINCT
      |    ('0x' || substr(md5('0:' || array_to_string(tok[i:i+7], ' ')), 1, 15))::BIGINT AS h
      |  FROM (SELECT string_split(text, ' ') AS tok FROM documents
      |        WHERE doc_id % 100 = 0),
      |       generate_series(1, 100000) t(i)
      |  WHERE i + 7 <= len(tok)
      |), csh AS (
      |  SELECT DISTINCT doc_id,
      |    ('0x' || substr(md5('0:' || array_to_string(tok[i:i+7], ' ')), 1, 15))::BIGINT AS h
      |  FROM (SELECT doc_id, string_split(text, ' ') AS tok FROM documents
      |        WHERE doc_id % 100 <> 0),
      |       generate_series(1, 100000) t(i)
      |  WHERE i + 7 <= len(tok)
      |), hits AS (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (h))
      |SELECT d.doc_id, (h.doc_id IS NOT NULL)::BIGINT AS contaminated
      |FROM documents d LEFT JOIN hits h USING (doc_id)
      |WHERE d.doc_id % 100 <> 0
      |ORDER BY doc_id""".stripMargin)

  /** End-to-end corpus curation (lang → quality → exact dedup → LSH
    * near-dedup) as ONE composed plan — the flagship training-data
    * pipeline ([[graft.pipeline.Curation]]).
    */
  private def qCuration(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Curation.curate(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  gate("q60_curation")(qCuration(_, _))(
    s"""WITH $curationCtes
       |SELECT doc_id, lang_pred, ws_tokens FROM surv
       |WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
       |ORDER BY doc_id""".stripMargin)

  private def qCurationFunnel(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Curation.funnel(t(s, dir, "documents"), "doc_id", "text")
  gate("q61_curation_funnel")(qCurationFunnel(_, _))(
    s"""WITH $curationCtes
       |SELECT stage, n_docs FROM (
       |  SELECT '1_raw' AS stage, COUNT(*)::BIGINT AS n_docs FROM scored
       |  UNION ALL SELECT '2_lang', COUNT(*) FROM scored WHERE lang_pred = 'en'
       |  UNION ALL SELECT '3_quality', COUNT(*) FROM elig
       |  UNION ALL SELECT '4_exact', COUNT(*) FROM keepids
       |  UNION ALL SELECT '5_neardup',
       |    (SELECT COUNT(*) FROM keepids) - (SELECT COUNT(DISTINCT doc_b) FROM pairs)
       |) ORDER BY stage""".stripMargin)

  /** Sliding-window chunking of long documents (size 64, stride 48 —
    * 16-token overlap), the complement of q52's packing
    * ([[graft.pipeline.Packing.chunk]]).
    */
  private def qChunking(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Packing.chunk(
      graft.pipeline.Par.spread(t(s, dir, "documents")), "doc_id", "text",
      chunkSize = 64, stride = 48)
      .select(col("doc_id"), col("chunk_id"), col("chunk_tokens"),
        md5(col("chunk")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  gate("q68_chunking")(qChunking(_, _))(
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents)
      |SELECT doc_id, i AS chunk_id,
      |       len(tok[i * 48 + 1 : i * 48 + 64])::BIGINT AS chunk_tokens,
      |       md5(array_to_string(tok[i * 48 + 1 : i * 48 + 64], ' ')) AS chunk_md5
      |FROM toks, generate_series(0, 100000) t(i)
      |WHERE i * 48 < len(tok)
      |  AND length(array_to_string(tok[i * 48 + 1 : i * 48 + 64], ' ')) > 0
      |ORDER BY doc_id, chunk_id""".stripMargin)

  /** Snapshot compaction ([[graft.pipeline.Snapshot.compact]]):
    * latest version per (user, event_type) — upsert semantics via
    * `max_by` aggregation (map-side combine), not a sorting window.
    */
  private def qSnapshotCompact(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    graft.pipeline.Snapshot.compact(e, Seq("user_id", "event_type"),
      Seq("ts", "event_id"))
      .select(col("user_id"), col("event_type"), col("n_versions"),
        col("latest.event_id").as("last_event_id"),
        round(col("latest.value"), 2).as("last_value"))
      .orderBy("user_id", "event_type")
  }
  gate("q78_snapshot_compact")(qSnapshotCompact(_, _))(
    """WITH rk AS (
      |  SELECT user_id, event_type, event_id, value,
      |         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                            ORDER BY ts DESC, event_id DESC) AS rn,
      |         COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_versions
      |  FROM events)
      |SELECT user_id, event_type, n_versions, event_id AS last_event_id,
      |       ROUND(value, 2) AS last_value
      |FROM rk WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)

  /** Table-diff gate ([[graft.pipeline.TableDiff]]): snapshot B is
    * documents with two deterministic perturbations (doc_id%200==7
    * rows modified, doc_id%250==3 rows dropped); the checksum diff
    * must surface exactly the buckets those rows hash into, with both
    * sides' digests. The row hash is the q49 md5 construction, so the
    * oracle reproduces every digest hex-exactly.
    */
  private def qTableDiff(s: SparkSession, dir: String): DataFrame = {
    val rowSql = "concat(cast(doc_id AS string), ':', text)"
    val docs = graft.pipeline.Par.spread(t(s, dir, "documents"))
    val b = docs.filter(col("doc_id") % 250 =!= 3)
      .withColumn("text",
        when(col("doc_id") % 200 === 7, concat(col("text"), lit("!")))
          .otherwise(col("text")))
    graft.pipeline.TableDiff.diff(docs, b, rowSql, buckets = 64)
      .orderBy("bucket")
  }
  // q109: same md5 row hash, same perturbations, same bucket fold
  gate("q109_table_diff")(qTableDiff(_, _))(
    """WITH a AS (SELECT ('0x' || substr(md5(doc_id::VARCHAR || ':' || text), 1, 15))::BIGINT AS h
      |           FROM documents),
      |b0 AS (SELECT doc_id,
      |              CASE WHEN doc_id % 200 = 7 THEN text || '!' ELSE text END AS text
      |       FROM documents WHERE doc_id % 250 <> 3),
      |b AS (SELECT ('0x' || substr(md5(doc_id::VARCHAR || ':' || text), 1, 15))::BIGINT AS h
      |      FROM b0),
      |ca AS (SELECT h % 64 AS bucket, COUNT(*) AS n, bit_xor(h) AS x FROM a GROUP BY 1),
      |cb AS (SELECT h % 64 AS bucket, COUNT(*) AS n, bit_xor(h) AS x FROM b GROUP BY 1)
      |SELECT bucket,
      |       COALESCE(ca.n, 0)::BIGINT AS a_rows, COALESCE(cb.n, 0)::BIGINT AS b_rows,
      |       COALESCE(ca.x, 0)::BIGINT AS a_xor, COALESCE(cb.x, 0)::BIGINT AS b_xor
      |FROM ca FULL OUTER JOIN cb USING (bucket)
      |WHERE COALESCE(ca.n, 0) <> COALESCE(cb.n, 0)
      |   OR COALESCE(ca.x, 0) <> COALESCE(cb.x, 0)
      |ORDER BY bucket""".stripMargin)

  /** Incremental-maintenance gate ([[graft.pipeline.Incremental]]):
    * events split deterministically 80/20 into base and delta batches,
    * each aggregated independently, states merged — the result must
    * equal the oracle's ONE-PASS aggregation over everything. Measures
    * are a row count and integer cents (`round(value·100)`), so the
    * monoid identity `agg(base ∪ delta) = merge(agg(base), agg(delta))`
    * is gated exactly, with no float-summation-order slack.
    */
  private def qIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val keys = Seq("event_type")
    val sums = Seq("cents")
    val ev = Tables.events(s, dir).select(col("event_type"), col("user_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val base = ev.filter(col("user_id") % 10 < 8)
    val delta = ev.filter(col("user_id") % 10 >= 8)
    graft.pipeline.Incremental.merge(
      graft.pipeline.Incremental.countSumState(base, keys, sums),
      graft.pipeline.Incremental.countSumState(delta, keys, sums),
      keys, sums)
      .orderBy("event_type")
  }
  // q111: the oracle aggregates base ∪ delta in ONE pass — the
  // merged two-batch state must land on the identical integers
  gate("q111_incremental_agg")(qIncrementalAgg(_, _))(
    """SELECT event_type, COUNT(*) AS n,
      |       SUM(ROUND(value * 100)::BIGINT)::BIGINT AS cents
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)

  /** Single-pass profiler gate ([[graft.pipeline.Profile]]): five
    * lineitem columns profiled in ONE scan + one aggregation
    * (count/nulls/exact NDV/min/max each); the oracle is the naive
    * five-scan UNION. Numeric-only so min/max stay doubles — no
    * engine-specific string formatting in the hash.
    */
  private def qProfile(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Profile.numericProfile(
      t(s, dir, "lineitem"),
      Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
        "l_discount"))
      .orderBy("column_name")
  // q121: the naive per-column formulation the one-pass operator
  // replaces
  gate("q121_profile")(qProfile(_, _))(
    Seq("l_orderkey", "l_partkey", "l_quantity",
      "l_extendedprice", "l_discount").map { c =>
      s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
         |  SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
         |  COUNT(DISTINCT $c) AS ndv,
         |  MIN($c)::DOUBLE AS min_v, MAX($c)::DOUBLE AS max_v
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name"))

  /** MERGE INTO / CDC apply ([[graft.pipeline.Snapshot.applyChanges]]):
    * a deterministic changelog over the orders snapshot — updates,
    * deletes, inserts, and conflicting multi-change keys where the
    * greatest sequence wins (U@1 overridden by D@2; D@1 resurrected by
    * U@2) — folded via one max_by net-effect reduction + one
    * full-outer join. Oracle replays the same changelog relationally.
    */
  private def qMergeApply(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey").cast("long").as("k"),
      col("o_custkey").cast("long").as("cust"),
      expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
    def ch(cond: Column, seq: Long, op: String, k: Column, cents: Column) =
      base.filter(cond).select(k.as("k"), lit(seq).as("seq"), lit(op).as("op"),
        col("cust"), cents.as("cents"))
    val changes =
      ch(col("k") % 3 === 0, 1, "U", col("k"), col("cents") + 100)
        .unionByName(ch(col("k") % 3 === 1, 1, "D", col("k"), col("cents")))
        .unionByName(ch(col("k") % 6 === 0, 2, "D", col("k"), col("cents")))
        .unionByName(ch(col("k") % 6 === 4, 2, "U", col("k"), col("cents") + 200))
        .unionByName(ch(col("k") % 7 === 0, 1, "U", -col("k"), col("k")))
    graft.pipeline.Snapshot.applyChanges(base, changes, Seq("k"), "seq", "op")
      .orderBy("k")
  }
  // q130: the same changelog replayed relationally — last change per
  // key by row_number, then the full-outer merge with D filtered
  gate("q130_merge_apply")(qMergeApply(_, _))(
    """WITH t AS (SELECT o_orderkey::BIGINT AS k, o_custkey::BIGINT AS cust,
      |                  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      |           FROM orders),
      |ch AS (
      |  SELECT k, 1 AS seq, 'U' AS op, cust, cents + 100 AS cents FROM t WHERE k % 3 = 0
      |  UNION ALL SELECT k, 1, 'D', cust, cents FROM t WHERE k % 3 = 1
      |  UNION ALL SELECT k, 2, 'D', cust, cents FROM t WHERE k % 6 = 0
      |  UNION ALL SELECT k, 2, 'U', cust, cents + 200 FROM t WHERE k % 6 = 4
      |  UNION ALL SELECT -k, 1, 'U', cust, k FROM t WHERE k % 7 = 0),
      |net AS (
      |  SELECT k, op, cust, cents FROM (
      |    SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      |    FROM ch) WHERE rn = 1)
      |SELECT COALESCE(t.k, n.k) AS k,
      |       CASE WHEN n.k IS NOT NULL THEN n.cust ELSE t.cust END AS cust,
      |       CASE WHEN n.k IS NOT NULL THEN n.cents ELSE t.cents END AS cents
      |FROM t FULL OUTER JOIN net n ON t.k = n.k
      |WHERE n.k IS NULL OR n.op <> 'D'
      |ORDER BY k""".stripMargin)

  /** Data-quality constraint gate
    * ([[graft.pipeline.Quality.checkConstraints]]) over lineitem —
    * range, domain-membership, completeness, cross-column, and
    * composite-key-uniqueness checks, all in one scan + one wide agg.
    * One check (a deliberately tight quantity ceiling) fails so the
    * violation-counting path is exercised, not just the zeros.
    */
  private def qQualityChecks(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Quality.checkConstraints(t(s, dir, "lineitem"),
      assertions = Seq(
        "qty_range" -> "l_quantity >= 1 AND l_quantity <= 50",
        "qty_tight" -> "l_quantity <= 25", // intentionally failing
        "discount_range" -> "l_discount >= 0.0 AND l_discount <= 0.1",
        "flag_domain" -> "l_returnflag IN ('A', 'N', 'R')",
        "status_domain" -> "l_linestatus IN ('F', 'O')",
        "keys_complete" -> "l_orderkey IS NOT NULL AND l_partkey IS NOT NULL",
        "price_positive" -> "l_extendedprice > 0.0"),
      uniqueKeys = Seq(
        "pk_unique" -> Seq("l_orderkey", "l_linenumber")))
      .orderBy("check")
  // q151: each constraint recomputed directly; NULL predicates count
  // as violations on both sides
  gate("q151_quality_checks")(qQualityChecks(_, _))(
    """WITH base AS (
      |  SELECT COUNT(*)::BIGINT AS n,
      |    SUM(CASE WHEN (l_quantity >= 1 AND l_quantity <= 50) IS NOT TRUE THEN 1 ELSE 0 END)::BIGINT AS v_qty_range,
      |    SUM(CASE WHEN (l_quantity <= 25) IS NOT TRUE THEN 1 ELSE 0 END)::BIGINT AS v_qty_tight,
      |    SUM(CASE WHEN (l_discount >= 0.0 AND l_discount <= 0.1) IS NOT TRUE THEN 1 ELSE 0 END)::BIGINT AS v_discount_range,
      |    SUM(CASE WHEN (l_returnflag IN ('A','N','R')) IS NOT TRUE THEN 1 ELSE 0 END)::BIGINT AS v_flag_domain,
      |    SUM(CASE WHEN (l_linestatus IN ('F','O')) IS NOT TRUE THEN 1 ELSE 0 END)::BIGINT AS v_status_domain,
      |    SUM(CASE WHEN (l_orderkey IS NOT NULL AND l_partkey IS NOT NULL) IS NOT TRUE THEN 1 ELSE 0 END)::BIGINT AS v_keys_complete,
      |    SUM(CASE WHEN (l_extendedprice > 0.0) IS NOT TRUE THEN 1 ELSE 0 END)::BIGINT AS v_price_positive,
      |    (COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)))::BIGINT AS v_pk_unique
      |  FROM lineitem)
      |SELECT c.check, base.n AS n_rows, c.v AS violations, c.v = 0 AS pass
      |FROM base, (
      |  SELECT 'qty_range' AS check, v_qty_range AS v FROM base
      |  UNION ALL SELECT 'qty_tight', v_qty_tight FROM base
      |  UNION ALL SELECT 'discount_range', v_discount_range FROM base
      |  UNION ALL SELECT 'flag_domain', v_flag_domain FROM base
      |  UNION ALL SELECT 'status_domain', v_status_domain FROM base
      |  UNION ALL SELECT 'keys_complete', v_keys_complete FROM base
      |  UNION ALL SELECT 'price_positive', v_price_positive FROM base
      |  UNION ALL SELECT 'pk_unique', v_pk_unique FROM base) c
      |ORDER BY c.check""".stripMargin)

  /** k-anonymity audit — the privacy-governance gate run before a
    * dataset release: group sizes over the quasi-identifier tuple
    * (user_id band, event_type), the size distribution, and which
    * equivalence classes violate k=5. Two partial-aggregated
    * groupBys, second over ≤ distinct-sizes rows.
    */
  private def qKAnonymity(s: SparkSession, dir: String): DataFrame = {
    val groups = Tables.events(s, dir)
      .select(expr("CAST(user_id % 20 AS BIGINT)").as("band"), col("event_type"))
      .groupBy("band", "event_type").agg(count(lit(1)).as("sz"))
    groups.groupBy(col("sz"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("sz")).as("n_rows"))
      .withColumn("violates_k5", col("sz") < 5L)
      .orderBy("sz")
  }
  // q208: identical quasi-identifier banding and size histogram
  gate("q208_k_anonymity")(qKAnonymity(_, _))(
    """WITH g AS (
      |  SELECT CAST(user_id % 20 AS BIGINT) AS band, event_type,
      |         COUNT(*)::BIGINT AS sz
      |  FROM events GROUP BY 1, 2)
      |SELECT sz, COUNT(*)::BIGINT AS n_groups, SUM(sz)::BIGINT AS n_rows,
      |       sz < 5 AS violates_k5
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Deterministic negative sampling for training pairs (the recsys /
    * contrastive-learning data op): per purchasing user, 10 hash-
    * probed candidate parts, anti-joined against the true purchase
    * set, first 2 survivors by (probe index, part). No RNG state —
    * the md5 probe chain is the engine-portable hash (q49/q204);
    * the anti-join is key-partitioned.
    */
  private def qNegativeSampling(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = t(s, dir, "orders").join(t(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user_id"), col("l_partkey").as("part"))
      .distinct()
    val nparts = t(s, dir, "part").agg(count(lit(1)).as("np"))
    val cand = pos.select(col("user_id")).distinct()
      .crossJoin(broadcast(nparts))
      .select(col("user_id"), col("np"),
        explode(sequence(lit(0), lit(9))).as("i"))
      .select(col("user_id"), col("i"),
        expr("conv(substring(md5(concat(user_id, ':', i)), 1, 15), 16, 10) " +
          "% np").as("part"))
    val firstProbe = cand
      .join(pos, Seq("user_id", "part"), "left_anti")
      .groupBy("user_id", "part").agg(min(col("i")).as("i"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("i"), col("part"))
    firstProbe.withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= 2)
      .select(col("user_id"), col("neg_rank"), col("part"))
      .orderBy("user_id", "neg_rank")
  }
  // q209: identical md5 probe chain, anti-join, (i, part) pick
  gate("q209_negative_sampling")(qNegativeSampling(_, _))(
    """WITH pos AS (
      |  SELECT DISTINCT o_custkey AS user_id, l_partkey AS part
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |np AS (SELECT COUNT(*)::BIGINT AS np FROM part),
      |cand AS (
      |  SELECT u.user_id, i,
      |    ('0x' || substr(md5(u.user_id::VARCHAR || ':' || i::VARCHAR), 1, 15))::BIGINT
      |      % np AS part
      |  FROM (SELECT DISTINCT user_id FROM pos) u,
      |       generate_series(0, 9) t(i), np),
      |neg AS (
      |  SELECT c.user_id, c.part, MIN(c.i) AS i
      |  FROM cand c ANTI JOIN pos p
      |    ON p.user_id = c.user_id AND p.part = c.part
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT user_id, part, i,
      |    row_number() OVER (PARTITION BY user_id ORDER BY i, part) AS neg_rank
      |  FROM neg)
      |SELECT user_id, CAST(neg_rank AS BIGINT) AS neg_rank, part
      |FROM r WHERE neg_rank <= 2 ORDER BY user_id, neg_rank""".stripMargin)

  /** Video-style frame sampling, end to end and REAL: deterministic
    * multi-frame animated GIFs synthesized from doc_id (the q71
    * discipline), [[graft.pipeline.Multimodal.sampleFrames]] pulls
    * every 2nd frame capped at 3 through the actual JDK ImageIO
    * reader, each sampled frame re-encodes as PNG and decodes again
    * for exact pixel sums. The oracle replays the stride/cap
    * arithmetic and uniform-gray sums in closed form — any container,
    * palette, or index slip breaks the hash.
    */
  private def qFrameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.pipeline.Multimodal
    val docs = graft.pipeline.Par.spread(
      t(s, dir, "documents").select(col("doc_id"))).as[Long]
    val assets = docs.map { id =>
      val n = 2 + (id % 6).toInt
      val w = 5 + (id % 4).toInt
      val h = 3 + (id % 5).toInt
      Multimodal.Asset(id, "video",
        Multimodal.encodeGif((0 until n).map(i =>
          Multimodal.grayFrame(w, h, ((17 * id + 31 * i) % 256).toInt))))
    }
    val frames = Multimodal.sampleFrames(assets, stride = 2, maxFrames = 3)
    val perFrame = frames.flatMap(f => f.frames.zipWithIndex.map {
      case (b, j) => Multimodal.Asset(f.asset_id * 1000 + j, "image", b)
    })
    Multimodal.decodeImageFeatures(perFrame).toDF()
      .select(expr("asset_id div 1000").as("doc_id"),
        expr("CAST(asset_id % 1000 AS INT)").as("frame_ord"),
        col("width"), col("height"), col("sum_r").as("sum_gray"))
      .orderBy("doc_id", "frame_ord")
  }
  // q178: closed-form stride/cap arithmetic — sampled original
  // index 2j exists iff 2j < n_frames; uniform gray ⇒ sum = w·h·lvl
  gate("q178_frame_sample")(qFrameSample(_, _))(
    """WITH p AS (
      |  SELECT doc_id, 2 + doc_id % 6 AS n,
      |         5 + doc_id % 4 AS w, 3 + doc_id % 5 AS h
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, w, h, j AS frame_ord,
      |         (17 * doc_id + 31 * (2 * j)) % 256 AS lvl
      |  FROM p, generate_series(0, 2) t(j) WHERE 2 * j < n)
      |SELECT doc_id, frame_ord::INTEGER AS frame_ord,
      |       w::INTEGER AS width, h::INTEGER AS height,
      |       (w * h * lvl)::BIGINT AS sum_gray
      |FROM f ORDER BY doc_id, frame_ord""".stripMargin)

  /** Leave-one-out target encoding (the leakage-safe categorical
    * feature transform): each lineitem's `l_returnflag` is encoded as
    * the mean target (quantity, exact cents) over all OTHER rows of
    * the same flag — (group_sum − own) / (group_count − 1). One
    * map-side-combined groupBy over 3 groups, broadcast back: no
    * per-row shuffle, no window over the whole table. Exact integer
    * numerator/denominator plus the floor-divided encoded value.
    */
  private def qTargetEncodeLoo(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"),
      col("l_linenumber").cast("long").as("l_linenumber"), col("l_returnflag"),
      expr("CAST(round(l_quantity * 100) AS BIGINT)").as("qc"))
    val g = li.groupBy("l_returnflag")
      .agg(sum(col("qc")).as("gs"), count(lit(1)).as("gn"))
    li.join(broadcast(g), "l_returnflag")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        (col("gs") - col("qc")).as("loo_num"),
        (col("gn") - lit(1L)).as("loo_den"),
        expr("CASE WHEN gn > 1 THEN CAST((gs - qc) DIV (gn - 1) AS BIGINT) END")
          .as("loo_enc_c"))
      .orderBy("l_orderkey", "l_linenumber")
  }
  // q211: identical exact-cents LOO arithmetic; both sides floor-
  // divide nonnegative integers
  gate("q211_target_encode_loo")(qTargetEncodeLoo(_, _))(
    """WITH li AS (
      |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |         l_returnflag, CAST(round(l_quantity * 100) AS BIGINT) AS qc
      |  FROM lineitem),
      |g AS (SELECT l_returnflag, SUM(qc)::BIGINT AS gs, COUNT(*)::BIGINT AS gn
      |      FROM li GROUP BY 1)
      |SELECT l_orderkey, l_linenumber, l.l_returnflag,
      |       gs - qc AS loo_num, gn - 1 AS loo_den,
      |       CASE WHEN gn > 1 THEN (gs - qc) // (gn - 1) END AS loo_enc_c
      |FROM li l JOIN g USING (l_returnflag)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin)

  /** l-diversity audit — q208's privacy-governance companion: within
    * each quasi-identifier equivalence class (user band, event type),
    * how many DISTINCT sensitive values appear (here the `props.k`
    * payload); classes with fewer than l=3 are vulnerable to homogeneity
    * attacks even when k-anonymous. One partial-aggregated groupBy.
    */
  private def qLDiversity(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(expr("CAST(user_id % 20 AS BIGINT)").as("band"), col("event_type"),
        expr("CAST(get_json_object(props, '$.k') AS BIGINT)").as("sens"))
      .groupBy("band", "event_type")
      .agg(count(lit(1)).as("sz"), countDistinct(col("sens")).as("l_div"))
      .withColumn("violates_l3", col("l_div") < 3L)
      .orderBy("band", "event_type")
  // q213: distinct-sensitive count per q208's QI tuple
  gate("q213_l_diversity")(qLDiversity(_, _))(
    """SELECT CAST(user_id % 20 AS BIGINT) AS band, event_type,
      |       COUNT(*)::BIGINT AS sz,
      |       COUNT(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT))::BIGINT AS l_div,
      |       COUNT(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT)) < 3 AS violates_l3
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Length bucketing for padded-batch efficiency (the ragged-batch
    * packing prep): 8 global equi-depth buckets over per-doc token
    * counts ([[graft.pipeline.Prefix.withGlobalPosition]] — never a
    * single-task NTILE), reporting per bucket the padding waste
    * n·max − Σtokens a fixed-shape batch would pay. The sort is the
    * range-partitioned global position; everything after is one
    * groupBy.
    */
  private def qLengthBucketing(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Prefix
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("toks"))
    val tot = docs.agg(count(lit(1)).as("n"))
    Prefix.withGlobalPosition(docs, Seq("toks", "doc_id"))
      .crossJoin(broadcast(tot))
      .withColumn("bucket", expr("pos * 8 DIV n"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), min(col("toks")).as("min_toks"),
        max(col("toks")).as("max_toks"), sum(col("toks")).as("sum_toks"))
      .withColumn("padding_waste",
        col("n_docs") * col("max_toks") - col("sum_toks"))
      .orderBy("bucket")
  }
  // q230: global row_number replays withGlobalPosition's total order
  gate("q230_length_bucketing")(qLengthBucketing(_, _))(
    """WITH d AS (
      |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS toks
      |  FROM documents),
      |n AS (SELECT COUNT(*)::BIGINT AS n FROM d),
      |p AS (SELECT doc_id, toks,
      |             ROW_NUMBER() OVER (ORDER BY toks, doc_id) - 1 AS pos
      |      FROM d)
      |SELECT (pos * 8 // n)::BIGINT AS bucket, COUNT(*)::BIGINT AS n_docs,
      |       MIN(toks)::BIGINT AS min_toks, MAX(toks)::BIGINT AS max_toks,
      |       SUM(toks)::BIGINT AS sum_toks,
      |       (COUNT(*) * MAX(toks) - SUM(toks))::BIGINT AS padding_waste
      |FROM p, n GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Feature-store materialization (the training-feature rollup): one
    * wide per-user feature vector — totals, per-type pivot counts,
    * activity span, recency, exact mean cents — in a single
    * partial-aggregated groupBy + pivot over the 5 known types.
    */
  private def qFeatureStore(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tu"), to_date(col("ts")).as("day"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    e.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_error"),
        sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("n_signup"),
        countDistinct(col("day")).as("days_active"),
        max(col("tu")).as("last_seen_us"),
        expr("CAST(sum(cents) DIV count(1) AS BIGINT)").as("mean_cents"))
      .orderBy("user_id")
  }
  // q239: one wide rollup; mean is the exact floor-divided cents
  gate("q239_feature_store")(qFeatureStore(_, _))(
    """SELECT user_id, COUNT(*)::BIGINT AS n_events,
      |       SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_view,
      |       SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_click,
      |       SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
      |       SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_error,
      |       SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS n_signup,
      |       COUNT(DISTINCT CAST(ts AS DATE))::BIGINT AS days_active,
      |       MAX(epoch_us(ts))::BIGINT AS last_seen_us,
      |       (SUM(CAST(round(value * 100) AS BIGINT)) // COUNT(*))::BIGINT
      |         AS mean_cents
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)

  /** k-anonymity enforcement by generalization (q208's audit turned
    * into the fix): QI classes violating k=5 coarsen their band one
    * level (band DIV 4); the gate re-audits after the step, proving
    * generalization monotonically shrinks the violating population.
    * Two aggregate passes + a broadcast semi-join of violating keys.
    */
  private def qGeneralization(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(expr("CAST(user_id % 20 AS BIGINT)").as("band"), col("event_type"))
    val bad = e.groupBy("band", "event_type").agg(count(lit(1)).as("sz"))
      .filter(col("sz") < 5L).select("band", "event_type")
    val gen = e.join(broadcast(bad), Seq("band", "event_type"), "left_semi")
      .select(expr("CAST(band DIV 4 AS BIGINT)").as("g_band"), col("event_type"),
        lit(1L).as("generalized"))
      .union(e.join(broadcast(bad), Seq("band", "event_type"), "left_anti")
        .select(col("band").as("g_band"), col("event_type"),
          lit(0L).as("generalized")))
    gen.groupBy("g_band", "event_type", "generalized")
      .agg(count(lit(1)).as("sz"))
      .withColumn("violates_k5", col("sz") < 5L)
      .orderBy("g_band", "event_type", "generalized")
  }
  // q240: same violating-class set, band // 4 coarsening, re-audit
  gate("q240_generalization")(qGeneralization(_, _))(
    """WITH e AS (
      |  SELECT CAST(user_id % 20 AS BIGINT) AS band, event_type FROM events),
      |bad AS (
      |  SELECT band, event_type FROM e GROUP BY 1, 2 HAVING COUNT(*) < 5),
      |gen AS (
      |  SELECT CASE WHEN bad.band IS NOT NULL THEN e.band // 4
      |              ELSE e.band END AS g_band,
      |         e.event_type,
      |         CASE WHEN bad.band IS NOT NULL THEN 1 ELSE 0 END AS generalized
      |  FROM e LEFT JOIN bad
      |    ON bad.band = e.band AND bad.event_type = e.event_type)
      |SELECT g_band, event_type, CAST(generalized AS BIGINT) AS generalized,
      |       COUNT(*)::BIGINT AS sz, COUNT(*) < 5 AS violates_k5
      |FROM gen GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)

  /** Unpivot / melt (Spark 4's `Dataset.unpivot`, the wide→long
    * reshape every feature store needs going INTO training): q239's
    * wide per-user features melt to (user_id, feature, value) rows.
    */
  private def qUnpivotMelt(s: SparkSession, dir: String): DataFrame =
    qFeatureStore(s, dir)
      .select("user_id", "n_view", "n_click", "n_purchase", "n_error", "n_signup")
      .unpivot(Array(col("user_id")),
        Array(col("n_view"), col("n_click"), col("n_purchase"),
          col("n_error"), col("n_signup")),
        "feature", "value")
      .orderBy("user_id", "feature")
  // q253: the melt of q239's pivot columns
  gate("q253_unpivot_melt")(qUnpivotMelt(_, _))(
    """WITH fs AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_view,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_click,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
      |    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_error,
      |    SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS n_signup
      |  FROM events GROUP BY 1)
      |SELECT user_id, feature, value FROM (
      |  SELECT user_id, 'n_view' AS feature, n_view AS value FROM fs
      |  UNION ALL SELECT user_id, 'n_click', n_click FROM fs
      |  UNION ALL SELECT user_id, 'n_purchase', n_purchase FROM fs
      |  UNION ALL SELECT user_id, 'n_error', n_error FROM fs
      |  UNION ALL SELECT user_id, 'n_signup', n_signup FROM fs)
      |ORDER BY user_id, feature""".stripMargin)

  /** Label-conflict detection (training-data QA): identical text
    * bodies carrying DIFFERENT language labels — exact-hash groups
    * with more than one distinct label, the annotation noise any
    * labeled corpus accumulates. One md5-keyed aggregate.
    */
  private def qLabelConflicts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(md5(col("text")).as("h"), col("lang"), col("doc_id"))
      .groupBy("h")
      .agg(countDistinct(col("lang")).as("n_labels"),
        count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"),
        sort_array(collect_set(col("lang"))).as("labels"))
      .filter(col("n_labels") > 1L)
      .select(col("first_doc"), col("n_docs"), col("n_labels"),
        concat_ws(",", col("labels")).as("labels"))
      .orderBy("first_doc")
  // q292: md5 groups carrying >1 distinct label
  gate("q292_label_conflicts")(qLabelConflicts(_, _))(
    """WITH g AS (
      |  SELECT md5(text) AS h, COUNT(DISTINCT lang) AS n_labels,
      |         COUNT(*) AS n_docs, MIN(doc_id) AS first_doc,
      |         array_to_string(list_sort(list_distinct(list(lang))), ',')
      |           AS labels
      |  FROM documents GROUP BY 1)
      |SELECT first_doc, n_docs::BIGINT AS n_docs,
      |       n_labels::BIGINT AS n_labels, labels
      |FROM g WHERE n_labels > 1 ORDER BY first_doc""".stripMargin)

  /** The training-data pipeline END TO END in one plan — quality
    * filter → exact-dup survivorship → 512-token chunking → hash
    * split — the composition a user actually ships, proving the
    * stages COMPOSE (each is individually gated elsewhere: q18/q290,
    * q11/q50, q68, q49). Per split: document, chunk and token mass.
    * One md5 shuffle for survivorship; chunk fanout is a per-row
    * sequence explode; the split is a pure hash function.
    */
  private def qPipelineE2e(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("uniq"))
      .filter(col("toks") >= 10L && col("uniq") * 3L > col("toks"))
    val survivors = docs
      .withColumn("h", md5(col("text")))
      .withColumn("keeper", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .filter(col("doc_id") === col("keeper"))
    val chunks = survivors
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(0, CAST((toks - 1) DIV 512 AS INT))")).as("ci"))
      .withColumn("chunk_toks",
        least(lit(512L), col("toks") - col("ci").cast("long") * 512L))
    chunks
      .withColumn("split",
        expr("CASE WHEN conv(substring(md5(concat('s:', doc_id)), 1, 15), 16, 10) " +
          "% 20 = 0 THEN 'val' ELSE 'train' END"))
      .groupBy("split")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"), sum(col("chunk_toks")).as("sum_tokens"))
      .orderBy("split")
  }
  // q295: the composed filter → survivor → chunk → split chain
  gate("q295_pipeline_e2e")(qPipelineE2e(_, _))(
    """WITH d AS (
      |  SELECT doc_id, text, len(string_split(text, ' '))::BIGINT AS toks,
      |         len(list_distinct(string_split(text, ' ')))::BIGINT AS uniq
      |  FROM documents),
      |elig AS (SELECT * FROM d WHERE toks >= 10 AND uniq * 3 > toks),
      |surv AS (
      |  SELECT e.doc_id, e.toks FROM elig e
      |  JOIN (SELECT md5(text) AS h, MIN(doc_id) AS keeper
      |        FROM elig GROUP BY 1) k
      |    ON md5(e.text) = k.h AND e.doc_id = k.keeper),
      |chunks AS (
      |  SELECT doc_id, toks, ci,
      |         LEAST(512, toks - ci * 512) AS chunk_toks
      |  FROM surv, generate_series(0, 100000) t(ci)
      |  WHERE ci <= (toks - 1) // 512),
      |sp AS (
      |  SELECT doc_id, chunk_toks,
      |    CASE WHEN ('0x' || substr(md5('s:' || doc_id::VARCHAR), 1, 15))::BIGINT
      |              % 20 = 0
      |         THEN 'val' ELSE 'train' END AS split
      |  FROM chunks)
      |SELECT split, COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
      |       COUNT(*)::BIGINT AS n_chunks,
      |       SUM(chunk_toks)::BIGINT AS sum_tokens
      |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Stratified k-fold assignment (exact per-stratum balance, not
    * expected balance): within each language, docs order by their md5
    * hash and take fold = rank % 5 — every stratum's folds differ by
    * at most one document, which a plain hash-mod split only achieves
    * in expectation. One per-stratum window; the assignment stays a
    * pure function of (corpus, lang, doc_id).
    */
  private def qStratifiedKfold(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      // conv returns STRING — cast, or the sort is lexicographic
      expr("CAST(conv(substring(md5(concat('f:', doc_id)), 1, 15), 16, 10) AS BIGINT)")
        .as("hk"))
    val w = Window.partitionBy(col("lang")).orderBy(col("hk"), col("doc_id"))
    d.withColumn("fold", (row_number().over(w) - 1) % 5)
      .groupBy(col("lang"), col("fold").cast("long").as("fold"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .orderBy("lang", "fold")
  }
  // q298: identical per-stratum (hash, doc_id) order and rank % 5
  gate("q298_stratified_kfold")(qStratifiedKfold(_, _))(
    """WITH d AS (
      |  SELECT doc_id, lang,
      |         ('0x' || substr(md5('f:' || doc_id::VARCHAR), 1, 15))::BIGINT AS hk
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, lang,
      |    (ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hk, doc_id) - 1) % 5
      |      AS fold
      |  FROM d)
      |SELECT lang, CAST(fold AS BIGINT) AS fold, COUNT(*)::BIGINT AS n_docs,
      |       MIN(doc_id)::BIGINT AS first_doc
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Near-zero-variance feature screen (caret's nzv, the silent
    * model-killer): for each q239-style feature, the most-common-value
    * share and distinct ratio in exact micros — a feature whose top
    * value covers ≥95% or with ≤2 distinct values carries no signal.
    * One melt + two aggregate levels.
    */
  private def qNzvScreen(s: SparkSession, dir: String): DataFrame = {
    val long = qFeatureStore(s, dir)
      .select("user_id", "n_view", "n_click", "n_purchase", "n_error",
        "n_signup", "days_active")
      .unpivot(Array(col("user_id")),
        Array(col("n_view"), col("n_click"), col("n_purchase"),
          col("n_error"), col("n_signup"), col("days_active")),
        "feature", "value")
    val vc = long.groupBy("feature", "value").agg(count(lit(1)).as("c"))
    vc.groupBy("feature")
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_freq"))
      .select(col("feature"), col("n_distinct"),
        expr("CAST(top_freq * 1000000 DIV n AS BIGINT)").as("top_share_micro"),
        expr("CAST(n_distinct * 1000000 DIV n AS BIGINT)").as("distinct_micro"),
        expr("top_freq * 100 >= n * 95 OR n_distinct <= 2").as("nzv_flag"))
      .orderBy("feature")
  }
  // q313: melt + two aggregate levels, exact micro shares
  gate("q313_nzv_screen")(qNzvScreen(_, _))(
    """WITH fs AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_view,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_click,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
      |    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_error,
      |    SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS n_signup,
      |    COUNT(DISTINCT CAST(ts AS DATE))::BIGINT AS days_active
      |  FROM events GROUP BY 1),
      |long AS (
      |  SELECT 'n_view' AS feature, n_view AS value FROM fs
      |  UNION ALL SELECT 'n_click', n_click FROM fs
      |  UNION ALL SELECT 'n_purchase', n_purchase FROM fs
      |  UNION ALL SELECT 'n_error', n_error FROM fs
      |  UNION ALL SELECT 'n_signup', n_signup FROM fs
      |  UNION ALL SELECT 'days_active', days_active FROM fs),
      |vc AS (SELECT feature, value, COUNT(*)::BIGINT AS c
      |       FROM long GROUP BY 1, 2)
      |SELECT feature, COUNT(*)::BIGINT AS n_distinct,
      |       (MAX(c) * 1000000 // SUM(c))::BIGINT AS top_share_micro,
      |       (COUNT(*) * 1000000 // SUM(c))::BIGINT AS distinct_micro,
      |       (MAX(c) * 100 >= SUM(c) * 95 OR COUNT(*) <= 2) AS nzv_flag
      |FROM vc GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Right-to-erasure audit with a legal hold: users with
    * user_id % 97 == 0 request deletion; purchases inside the last 7
    * days before the corpus horizon are retained (the retention
    * exemption), everything else of theirs is erased. Emits per event
    * type the before/erased/held/after counts plus `residual` — rows
    * of erasure users still present after the purge EXCLUDING held
    * rows, pinned to 0 in the hash. One anti-join + one scan; the
    * horizon is a broadcast one-row aggregate (never an eager
    * driver-side count).
    */
  private def qErasureAudit(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_type"), col("user_id"),
      unix_micros(col("ts")).as("tu"))
    val hz = e.agg(max(col("tu")).as("hz"))
    val tagged = e.crossJoin(broadcast(hz)).select(col("event_type"),
      col("user_id"), (col("user_id") % 97 === 0).as("req"),
      (col("event_type") === "purchase" &&
        col("tu") > col("hz") - lit(7L * 86400L * 1000000L)).as("hold"))
    val before = tagged.groupBy("event_type")
      .agg(count(lit(1)).as("n_before"),
        sum(when(col("req") && !col("hold"), 1L).otherwise(0L)).as("n_erased"),
        sum(when(col("req") && col("hold"), 1L).otherwise(0L)).as("n_held"))
    // the purge itself, then the audit re-checks the PURGED relation
    val purged = tagged.filter(!col("req") || col("hold"))
    val after = purged.groupBy("event_type")
      .agg(count(lit(1)).as("n_after"),
        sum(when(col("req") && !col("hold"), 1L).otherwise(0L)).as("residual"))
    before.join(after, "event_type")
      .select(col("event_type"), col("n_before"), col("n_erased"),
        col("n_held"), col("n_after"), col("residual"))
      .orderBy("event_type")
  }
  // q355: erasure-with-legal-hold audit; residual recomputed on the
  // purged relation and pinned to 0
  gate("q355_erasure_audit")(qErasureAudit(_, _))(
    """WITH e AS (
      |  SELECT event_type, user_id, epoch_us(ts) AS tu FROM events),
      |hz AS (SELECT MAX(tu) AS hz FROM e),
      |tagged AS (
      |  SELECT event_type, user_id, (user_id % 97 = 0) AS req,
      |         (event_type = 'purchase'
      |          AND tu > hz - 7 * 86400 * 1000000::BIGINT) AS hold
      |  FROM e CROSS JOIN hz),
      |before_a AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n_before,
      |         SUM(CASE WHEN req AND NOT hold THEN 1 ELSE 0 END)::BIGINT AS n_erased,
      |         SUM(CASE WHEN req AND hold THEN 1 ELSE 0 END)::BIGINT AS n_held
      |  FROM tagged GROUP BY 1),
      |purged AS (SELECT * FROM tagged WHERE NOT req OR hold),
      |after_a AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n_after,
      |         SUM(CASE WHEN req AND NOT hold THEN 1 ELSE 0 END)::BIGINT AS residual
      |  FROM purged GROUP BY 1)
      |SELECT event_type, n_before, n_erased, n_held, n_after, residual
      |FROM before_a JOIN after_a USING (event_type)
      |ORDER BY event_type""".stripMargin)

  /** Curriculum schedule: rank documents by an integer difficulty
    * score (chars + 10·"the"-count — a proxy both engines compute
    * identically) under the deterministic total order (score, doc_id)
    * and deal them into 4 curriculum stages with ntile's
    * remainder-first-fill semantics. Per stage: size and score
    * envelope.
    *
    * Scale shape: the global rank rides
    * [[graft.pipeline.Prefix.withGlobalPosition]]'s range-partitioned
    * two-pass scan — never ONE task sorting every document (the
    * unpartitioned `ntile(4)` window this replaces). The stage is then
    * pure arithmetic on (pos, n): ntile(k) gives the first n%k tiles
    * ⌈n/k⌉ rows and the rest ⌊n/k⌋ — identical in Spark and DuckDB,
    * so the oracle keeps its ntile window while the Spark plan scales.
    */
  private def qCurriculumSchedule(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Prefix
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        expr("size(filter(split(text, ' '), t -> t = 'the'))").cast("long")
          .as("the_n"))
      .withColumn("score", expr("n_chars + 10 * the_n"))
    val pos = Prefix.withGlobalPosition(d, Seq("score", "doc_id"))
    // broadcast one-row total; Prefix localCheckpoints, so this count
    // scans the checkpoint, not the documents table again
    val tot = pos.agg(count(lit(1)).as("n_tot"))
    pos.crossJoin(broadcast(tot))
      .withColumn("stage", expr(
        """CAST(CASE WHEN pos < (n_tot % 4) * (n_tot DIV 4 + 1)
          |     THEN pos DIV (n_tot DIV 4 + 1)
          |     ELSE (n_tot % 4) + (pos - (n_tot % 4) * (n_tot DIV 4 + 1))
          |          DIV (n_tot DIV 4)
          |END + 1 AS INT)""".stripMargin))
      .groupBy("stage").agg(count(lit(1)).as("n_docs"),
        sum(col("score")).as("sum_score"),
        min(col("score")).as("min_score"), max(col("score")).as("max_score"))
      .orderBy("stage")
  }
  // q370: ntile over the (score, doc_id) total order — same
  // equal-fill semantics in both engines
  gate("q370_curriculum_schedule")(qCurriculumSchedule(_, _))(
    """WITH d AS (
      |  SELECT doc_id,
      |         n_chars + 10 * len(list_filter(string_split(text, ' '),
      |           t -> t = 'the'))::BIGINT AS score
      |  FROM documents),
      |st AS (
      |  SELECT score, ntile(4) OVER (ORDER BY score, doc_id) AS stage FROM d)
      |SELECT stage::INT AS stage, COUNT(*)::BIGINT AS n_docs,
      |       SUM(score)::BIGINT AS sum_score,
      |       MIN(score)::BIGINT AS min_score, MAX(score)::BIGINT AS max_score
      |FROM st GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Preference-pair construction (the DPO/RLHF dataset primitive):
    * within each source, documents are scored by an integer quality
    * composite (stopword permille + length term), the argmax becomes
    * `chosen` and the argmin `rejected` under deterministic (score,
    * doc_id) orders, and the pair ships with its score margin — the
    * mining step that turns a scored corpus into preference training
    * rows, one bounded window per source.
    */
  private def qPreferencePairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.load(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        expr("""(1000 * size(filter(split(text, ' '),
               t -> t IN ('the', 'a', 'data', 'key', 'order'))))
               DIV size(split(text, ' ')) + n_chars DIV 10""").as("score"))
    val best = d.withColumn("rk", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rk") === 1)
      .select(col("source"), col("doc_id").as("chosen_id"),
        col("score").as("chosen_score"))
    val worst = d.withColumn("rk", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("score").asc, col("doc_id"))))
      .filter(col("rk") === 1)
      .select(col("source"), col("doc_id").as("rejected_id"),
        col("score").as("rejected_score"))
    val n = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
    best.join(worst, Seq("source")).join(n, Seq("source"))
      .withColumn("margin", col("chosen_score") - col("rejected_score"))
      .orderBy("source")
  }
  // q396: argmax/argmin per source under deterministic orders
  gate("q396_preference_pairs")(qPreferencePairs(_, _))(
    """WITH d AS (
      |  SELECT source, doc_id,
      |         (1000 * len(list_filter(string_split(text, ' '),
      |            t -> t IN ('the', 'a', 'data', 'key', 'order'))))
      |           // len(string_split(text, ' ')) + n_chars // 10 AS score
      |  FROM documents),
      |best AS (
      |  SELECT source, doc_id AS chosen_id, score AS chosen_score
      |  FROM (SELECT *, row_number() OVER (PARTITION BY source
      |          ORDER BY score DESC, doc_id) AS rk FROM d)
      |  WHERE rk = 1),
      |worst AS (
      |  SELECT source, doc_id AS rejected_id, score AS rejected_score
      |  FROM (SELECT *, row_number() OVER (PARTITION BY source
      |          ORDER BY score ASC, doc_id) AS rk FROM d)
      |  WHERE rk = 1),
      |n AS (SELECT source, COUNT(*)::BIGINT AS n_docs FROM d GROUP BY 1)
      |SELECT b.source, b.chosen_id, b.chosen_score::BIGINT AS chosen_score,
      |       w.rejected_id, w.rejected_score::BIGINT AS rejected_score,
      |       n.n_docs,
      |       (b.chosen_score - w.rejected_score)::BIGINT AS margin
      |FROM best b JOIN worst w ON b.source = w.source
      |JOIN n ON b.source = n.source
      |ORDER BY b.source""".stripMargin)

  /** t-closeness audit (Li–Li–Venkatasubramanian 2007 — the
    * distribution-aware step past q151's k-anonymity/l-diversity:
    * a group can be k-anonymous and l-diverse yet still leak because
    * its SENSITIVE-VALUE DISTRIBUTION differs from the table's):
    * quasi-identifier groups = market segment × region, sensitive
    * attribute = account-balance decile, and per group the 1-D EMD
    * between the group's decile distribution and the global one —
    * Σ|cdf_g − cdf_global| over the 10 fixed bins, both CDFs in
    * integer micros (the q360 machinery pointed at governance).
    * Groups and bins are both bounded; the global row broadcasts.
    */
  private def qTCloseness(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Tables.load(s, dir, "customer")
    val n = Tables.load(s, dir, "nation")
    val r = Tables.load(s, dir, "region")
    val cells = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("c_mktsegment").as("segment"), col("r_name").as("region"),
        expr("""least(CAST(9 AS BIGINT), greatest(CAST(0 AS BIGINT),
               |(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100000)
               |DIV 110000))""".stripMargin).as("bin"))
      .groupBy("segment", "region", "bin")
      .agg(count(lit(1)).as("cnt")).localCheckpoint()
    // dense 10-bin grid per group so every CDF step exists even where
    // a group has an empty decile
    val dense = cells.groupBy("segment", "region")
      .agg(sum(col("cnt")).as("gn_grp"))
      .withColumn("bin", explode(expr("sequence(CAST(0 AS BIGINT), 9)")))
      .join(cells, Seq("segment", "region", "bin"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val glob = cells.groupBy("bin").agg(sum(col("cnt")).as("gcnt"))
      .withColumn("cumg", sum(col("gcnt")).over(Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(cells.agg(sum(col("cnt")).as("gn"))))
      .select(col("bin"), expr("(1000000 * cumg) DIV gn").as("cdf_glob"))
    dense
      .withColumn("cumc", sum(col("cnt")).over(
        Window.partitionBy("segment", "region").orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cdf_grp", expr("(1000000 * cumc) DIV gn_grp"))
      .join(broadcast(glob), Seq("bin"))
      .groupBy("segment", "region")
      .agg(max(col("gn_grp")).as("n"),
        sum(abs(col("cdf_grp") - col("cdf_glob"))).as("emd_sum_micro"))
      .orderBy("segment", "region")
  }
  // q415: identical 10-bin decile grid; both CDFs in positive-operand
  // integer micros; inner join on globally-present bins only (the
  // Spark plan's glob side has no dense fill either)
  gate("q415_t_closeness")(qTCloseness(_, _))(
    """WITH cells AS (
      |  SELECT c.c_mktsegment AS segment, r.r_name AS region,
      |         least(9, greatest(0,
      |           (CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) + 100000)
      |           // 110000))::BIGINT AS bin,
      |         COUNT(*)::BIGINT AS cnt
      |  FROM customer c
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  GROUP BY 1, 2, 3),
      |grp AS (SELECT segment, region, SUM(cnt)::BIGINT AS gn_grp
      |        FROM cells GROUP BY 1, 2),
      |dense AS (
      |  SELECT g.segment, g.region, g.gn_grp, b.bin::BIGINT AS bin,
      |         COALESCE(c.cnt, 0)::BIGINT AS cnt
      |  FROM grp g
      |  CROSS JOIN generate_series(0, 9) b(bin)
      |  LEFT JOIN cells c ON c.segment = g.segment
      |    AND c.region = g.region AND c.bin = b.bin),
      |gl AS (SELECT bin, SUM(cnt)::BIGINT AS gcnt FROM cells GROUP BY 1),
      |gt AS (SELECT SUM(cnt)::BIGINT AS gn FROM cells),
      |gcdf AS (
      |  SELECT bin,
      |         ((1000000 * SUM(gcnt) OVER (ORDER BY bin
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) // gn)
      |           ::BIGINT AS cdf_glob
      |  FROM gl, gt),
      |cum AS (
      |  SELECT segment, region, gn_grp, bin,
      |         ((1000000 * SUM(cnt) OVER (PARTITION BY segment, region
      |            ORDER BY bin
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |          // gn_grp)::BIGINT AS cdf_grp
      |  FROM dense)
      |SELECT c.segment, c.region, MAX(c.gn_grp)::BIGINT AS n,
      |       SUM(ABS(c.cdf_grp - g.cdf_glob))::BIGINT AS emd_sum_micro
      |FROM cum c JOIN gcdf g ON c.bin = g.bin
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Token-budget waterfilling across corpus sources — the mixing
    * planner's allocation step (cap small sources at their full token
    * count, split the rest of the budget evenly): budget = 60% of
    * corpus tokens, and the water level comes from the CLOSED FORM
    * over the cap-ascending prefix (source i is fully funded iff
    * cap_i·(n−i+1) + prefix_{i−1} ≤ B; the funded set is a prefix of
    * the sort), so neither engine iterates. The integer remainder goes
    * to the first uncapped sources in sort order — allocations sum to
    * B exactly. Windows run over the ≤|sources| rollup, never rows.
    */
  private def qBudgetWaterfill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cap = t(s, dir, "documents")
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("tk"))
      .groupBy("source").agg(sum(col("tk")).as("cap"))
    val tot = cap.agg(sum(col("cap")).as("tt"), count(lit(1)).as("n"))
    val w = Window.orderBy("cap", "source")
    val wp = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val idx = cap.crossJoin(broadcast(tot))
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("p", sum(col("cap")).over(wp))
      .withColumn("b", expr("(6 * tt) DIV 10"))
      .withColumn("funded",
        col("cap") * (col("n") - col("i") + 1L) + col("p") - col("cap")
          <= col("b"))
    val cut = idx.agg(
      coalesce(max(when(col("funded"), col("i"))), lit(0L)).as("k"),
      coalesce(max(when(col("funded"), col("p"))), lit(0L)).as("pk"))
    idx.crossJoin(broadcast(cut))
      .select(col("source"), col("cap").as("cap_tokens"), col("b").as("budget"),
        col("funded").as("fully_funded"),
        expr("""CASE WHEN funded THEN cap
               |     WHEN i - k <= (b - pk) % (n - k)
               |       THEN (b - pk) DIV (n - k) + 1
               |     ELSE (b - pk) DIV (n - k) END""".stripMargin)
          .as("alloc_tokens"))
      .orderBy("source")
  }
  // q422: closed-form waterfill — funded set is a prefix of the
  // cap-ascending sort; remainder to the first uncapped sources
  gate("q422_budget_waterfill")(qBudgetWaterfill(_, _))(
    """WITH cap AS (
      |  SELECT source, SUM(len(string_split(text, ' ')))::BIGINT AS cap
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT SUM(cap)::BIGINT AS tt, COUNT(*)::BIGINT AS n
      |        FROM cap),
      |idx AS (
      |  SELECT source, cap, tt, n,
      |    ROW_NUMBER() OVER (ORDER BY cap, source)::BIGINT AS i,
      |    SUM(cap) OVER (ORDER BY cap, source
      |      ROWS UNBOUNDED PRECEDING)::BIGINT AS p,
      |    ((6 * tt) // 10)::BIGINT AS b
      |  FROM cap, tot),
      |f AS (
      |  SELECT *, cap * (n - i + 1) + p - cap <= b AS funded FROM idx),
      |cut AS (
      |  SELECT COALESCE(MAX(CASE WHEN funded THEN i END), 0)::BIGINT AS k,
      |         COALESCE(MAX(CASE WHEN funded THEN p END), 0)::BIGINT AS pk
      |  FROM f)
      |SELECT source, cap AS cap_tokens, b AS budget, funded AS fully_funded,
      |  (CASE WHEN funded THEN cap
      |        WHEN i - k <= (b - pk) % (n - k)
      |          THEN (b - pk) // (n - k) + 1
      |        ELSE (b - pk) // (n - k) END)::BIGINT AS alloc_tokens
      |FROM f, cut ORDER BY source""".stripMargin)

  /** k-anonymity generalization LADDER (Samarati 2001) — the planner
    * step q208's point check and q240's single coarsening don't do:
    * walk five pre-declared generalization levels of the
    * (geography, price, time) quasi-identifiers — nation→region,
    * $100→$1k→$10k bands, month→quarter→none — and census each
    * level's smallest equivalence class; the CHOSEN level is the
    * least-general one with min class size ≥ 5. Five bounded grouped
    * aggregations unioned into one plan; the release decision is in
    * the output, not a driver loop.
    */
  private def qAnonymityLadder(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val c = Tables.load(s, dir, "customer")
    val n = Tables.load(s, dir, "nation")
    val r = Tables.load(s, dir, "region")
    val base = o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("n_name"), col("r_name"),
        expr("CAST(floor(o_totalprice + 0.5) AS BIGINT)").as("p"),
        month(col("o_orderdate")).cast("long").as("mo"))
    def level(lvl: Long, geo: Column, band: Column, t: Column): DataFrame =
      base.groupBy(geo.as("g"), band.as("b"), t.as("t"))
        .agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_classes"), min(col("sz")).as("min_class"))
        .select(lit(lvl).as("level"), col("n_classes"), col("min_class"))
    val ladder = level(0L, col("n_name"), expr("p DIV 100"), col("mo"))
      .unionAll(level(1L, col("n_name"), expr("p DIV 1000"), col("mo")))
      .unionAll(level(2L, col("r_name"), expr("p DIV 1000"), col("mo")))
      .unionAll(level(3L, col("r_name"), expr("p DIV 10000"),
        expr("(mo - 1) DIV 3")))
      .unionAll(level(4L, col("r_name"), expr("p DIV 10000"), lit(0L)))
    val chosen = ladder.agg(
      coalesce(min(when(col("min_class") >= 5L, col("level"))), lit(-1L))
        .as("chosen_level"))
    ladder.crossJoin(broadcast(chosen))
      .select(col("level"), col("n_classes"), col("min_class"),
        (col("min_class") >= 5L).as("k5_ok"),
        (col("level") === col("chosen_level")).as("chosen"))
      .orderBy("level")
  }
  // q446: five generalization levels as UNION ALL'd bounded aggs;
  // chosen = least level with min class >= 5
  gate("q446_anonymity_ladder")(qAnonymityLadder(_, _))(
    """WITH base AS (
      |  SELECT nn.n_name, r.r_name,
      |    CAST(floor(o.o_totalprice + 0.5) AS BIGINT) AS p,
      |    month(o.o_orderdate)::BIGINT AS mo
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation nn ON c.c_nationkey = nn.n_nationkey
      |  JOIN region r ON nn.n_regionkey = r.r_regionkey),
      |ladder AS (
      |  SELECT 0::BIGINT AS level, COUNT(*)::BIGINT AS n_classes,
      |         MIN(sz)::BIGINT AS min_class
      |  FROM (SELECT COUNT(*)::BIGINT AS sz FROM base
      |        GROUP BY n_name, p // 100, mo) t
      |  UNION ALL
      |  SELECT 1, COUNT(*), MIN(sz)
      |  FROM (SELECT COUNT(*)::BIGINT AS sz FROM base
      |        GROUP BY n_name, p // 1000, mo) t
      |  UNION ALL
      |  SELECT 2, COUNT(*), MIN(sz)
      |  FROM (SELECT COUNT(*)::BIGINT AS sz FROM base
      |        GROUP BY r_name, p // 1000, mo) t
      |  UNION ALL
      |  SELECT 3, COUNT(*), MIN(sz)
      |  FROM (SELECT COUNT(*)::BIGINT AS sz FROM base
      |        GROUP BY r_name, p // 10000, (mo - 1) // 3) t
      |  UNION ALL
      |  SELECT 4, COUNT(*), MIN(sz)
      |  FROM (SELECT COUNT(*)::BIGINT AS sz FROM base
      |        GROUP BY r_name, p // 10000) t),
      |chosen AS (
      |  SELECT COALESCE(MIN(CASE WHEN min_class >= 5 THEN level END), -1)
      |    ::BIGINT AS chosen_level
      |  FROM ladder)
      |SELECT level, n_classes, min_class, min_class >= 5 AS k5_ok,
      |       level = chosen_level AS chosen
      |FROM ladder, chosen ORDER BY level""".stripMargin)

  /** Shared CTE chain of the curation oracles (q60/q61): language +
    * quality scoring (identical fragments to the q18/q19 oracles) →
    * eligible set → exact-dup min-id survivors → MinHash-LSH bucket
    * collisions among the survivors.
    */
  private def curationCtes: String =
    s"""scored AS (
       |  SELECT doc_id, text,
       |    CASE WHEN s_en + s_de + s_fr + s_es = 0 THEN 'und'
       |         WHEN s_es > greatest(s_en, s_de, s_fr) THEN 'es'
       |         WHEN s_fr > greatest(s_en, s_de) THEN 'fr'
       |         WHEN s_de > s_en THEN 'de'
       |         ELSE 'en' END AS lang_pred,
       |    len(string_split(text, ' '))::BIGINT AS ws_tokens,
       |    md5(text) AS h,
       |    (len(string_split(text, ' ')) BETWEEN 10 AND 100000
       |     AND len(list_filter(string_split(text, ' '),
       |          t -> t IN ('the', 'a', 'data', 'key', 'order')))::DOUBLE
       |          / len(string_split(text, ' ')) >= 0.01)::INT AS keep
       |  FROM (
       |    SELECT doc_id, text,
       |      len(list_filter(string_split(text, ' '),
       |          t -> t IN ('the', 'a', 'order', 'table', 'key'))) AS s_en,
       |      len(list_filter(string_split(text, ' '),
       |          t -> t IN ('window', 'group', 'batch', 'stream'))) AS s_de,
       |      len(list_filter(string_split(text, ' '),
       |          t -> t IN ('query', 'merge', 'vector', 'part'))) AS s_fr,
       |      len(list_filter(string_split(text, ' '),
       |          t -> t IN ('data', 'row', 'scan', 'filter'))) AS s_es
       |    FROM documents)
       |), elig AS (
       |  SELECT * FROM scored WHERE lang_pred = 'en' AND keep = 1
       |), keepids AS (
       |  SELECT h, MIN(doc_id) AS doc_id FROM elig GROUP BY 1
       |), surv AS (
       |  SELECT e.doc_id, e.text, e.lang_pred, e.ws_tokens
       |  FROM elig e JOIN keepids k ON e.h = k.h AND e.doc_id = k.doc_id
       |), ${minhashCtes("surv")},
       |pairs AS (
       |  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc < b.doc
       |)""".stripMargin
}
