package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora.
  *
  * Scale notes (the whole point of these designs):
  *  - Exact dedup is one hash-`groupBy` — a single shuffle on a 128-bit
  *    key, partial-aggregated map-side, no skew (md5 keys are uniform).
  *  - MinHash+LSH never materializes the O(n²) pair space: docs are
  *    shuffled once per band by a 128-bit bucket key, and only docs
  *    sharing a bucket meet in a self-join. Bucket sizes are bounded
  *    by signature quality, so the join is skew-safe at 100 TB where a
  *    naive cross join is impossible.
  *  - SimHash packs a document into one 60-bit integer, so the
  *    candidate stage is an equi-join on bit-bands (here: a bounded
  *    pair join for exactness at test scale; the banded variant is
  *    [[simhashBandPairs]]).
  *  - All hashes derive from `md5` (codegen'd, engine-portable) rather
  *    than JVM-specific hashing, so results are reproducible anywhere.
  *
  * Reference scope: the reference engine (mmw-geoprocessing) has no
  * dedup surface; these are the beyond-parity training-data operators
  * (builder brief; SURVEY.md §7 step 8).
  */
object Dedup {

  /** 60-bit uniform hash of a string column, seeded. Portable: decimal
    * value of the first 15 hex chars of md5("<seed>:<s>"), computed by
    * the native codegen expression `graft_md5hi60` (no intermediate
    * hex/decimal strings; bit-identical to the conv-chain — spec-pinned
    * against it and against the DuckDB oracles).
    */
  def hash60(sqlExpr: String, seed: Int): Column =
    expr(s"graft_md5hi60(concat('$seed:', $sqlExpr))")

  /** Exact duplicate groups: md5 over the raw text. One shuffle.
    * Returns (h, cnt, keep_id): the canonical survivor is min(id).
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("keep_id"))

  /** Distinct n-word shingles of `textCol` as one array column.
    * Guarded: Spark's `sequence(1, k)` for k < 1 counts DOWN, so a
    * short document must yield an empty array, not slice errors.
    */
  def wordShingles(textSql: String, n: Int): Column = {
    val toks = s"split($textSql, ' ')"
    expr(
      s"CASE WHEN size($toks) >= $n THEN " +
        s"array_distinct(transform(sequence(1, size($toks) - ${n - 1}), " +
        s"i -> concat_ws(' ', slice($toks, i, $n)))) " +
        s"ELSE CAST(array() AS ARRAY<STRING>) END")
  }

  /** Distinct n-word shingles hashed to 60-bit longs INSIDE the
    * generating lambda — value-identical to `hash60(shingle, seed)`
    * over [[wordShingles]] (same md5 of the same `"<seed>:<gram>"`
    * string), but no string shingle array is ever MATERIALIZED: each
    * gram is a transient concat consumed by the hash within the
    * codegen'd `transform`, `array_distinct` dedupes 8-byte longs
    * instead of strings, and downstream explodes ship BIGINTs.
    * Round-11 bench metrics measured the retained string arrays at
    * 33 s of task GC on q12 alone (and 22 s on q324) — the q181
    * hashed-token-plane fix applied at shingle GENERATION. Collision
    * probability over a corpus pair is ~|sh|²/2⁶⁰; every gate's
    * DuckDB oracle hashes the raw string sets, so a collision on the
    * fixture would surface as a hash mismatch.
    */
  def hashedWordShingles(textSql: String, n: Int, seed: Int = 0): Column =
    // round-14: the whole CASE/split/slice/concat/distinct chain runs
    // as ONE native scan ([[org.apache.spark.sql.graft.ShingleKernel]])
    // — value-identical (same md5 of the same gram bytes, same
    // first-occurrence distinct order, same short-doc/NULL → empty
    // guards), but with none of the per-position array/string
    // allocation that made the shingle gates the suite's GC storms
    expr(s"graft_shingles(($textSql), $n, $seed)")

  /** The pre-round-14 SQL formulation of [[hashedWordShingles]], kept
    * for the spec that pins the native kernel value-identical to it.
    */
  private[graft] def hashedWordShinglesSql(textSql: String, n: Int, seed: Int = 0): Column = {
    val toks = s"split($textSql, ' ')"
    expr(
      s"CASE WHEN size($toks) >= $n THEN " +
        s"array_distinct(transform(sequence(1, size($toks) - ${n - 1}), " +
        s"i -> graft_md5hi60(concat('$seed:', concat_ws(' ', slice($toks, i, $n)))))) " +
        s"ELSE CAST(array() AS ARRAY<BIGINT>) END")
  }

  /** Distinct n-word shingles as (h1, h2) MinHash base-hash pairs —
    * `graft_md5hi60(gram)` and `shiftright(graft_md5lo60(gram), 4)`,
    * the exact per-shingle values [[minhashSignatures]] has always
    * derived its k hash functions from — computed inside the
    * generating lambdas so (like [[hashedWordShingles]]) no string
    * shingle array survives the projection. Dedup over the 116-bit
    * (h1, h2) struct instead of the gram string: a signature can only
    * differ from the string-distinct path if BOTH 60-bit halves
    * collide — far below the 60-bit band-key collision floor the LSH
    * design already accepts, and oracle-gated like everything else.
    */
  private def shinglePairsSql(textSql: String, n: Int): String =
    // round-14: native one-pass scan (see [[hashedWordShingles]]) —
    // both md5 halves off one digest, distinct on the (h1, h2) struct
    s"graft_shingle_pairs(($textSql), $n)"

  /** The pre-round-14 SQL formulation of [[shinglePairsSql]], kept for
    * the value-identity spec.
    */
  private[graft] def shinglePairsSqlLegacy(textSql: String, n: Int): String = {
    val toks = s"split($textSql, ' ')"
    s"CASE WHEN size($toks) >= $n THEN " +
      s"array_distinct(transform(transform(sequence(1, size($toks) - ${n - 1}), " +
      s"i -> concat_ws(' ', slice($toks, i, $n))), " +
      "s -> named_struct('h1', graft_md5hi60(s), 'h2', shiftright(graft_md5lo60(s), 4)))) " +
      "ELSE CAST(array() AS ARRAY<STRUCT<h1: BIGINT, h2: BIGINT>>) END"
  }

  /** Exploded (id, 60-bit shingle hash) table: joins and minhash run
    * on fixed-width BIGINTs instead of long shingle strings — smaller
    * shuffle, cheaper comparisons, and (round-12) zero retained
    * string arrays via [[hashedWordShingles]].
    */
  private def hashedShingleTable(df: DataFrame, idCol: String, textCol: String,
                                 n: Int): DataFrame =
    df.select(col(idCol).as("doc"), explode(hashedWordShingles(textCol, n)).as("h"))

  /** All pairs with shingle-set Jaccard ≥ minJaccard.
    *
    * Exact (quadratic in co-shingled docs) — the verification kernel.
    * At corpus scale run it only on LSH candidate pairs; standalone it
    * is still shuffle-bounded: one self-equi-join on the shingle key
    * plus two broadcast-size joins for set sizes.
    *
    * Pairs come from a sort-merge SELF-equi-join on the shingle hash,
    * forced by hint("merge") so Catalyst can never pick broadcast or a
    * hash build. Memory stays bounded at ANY bucket heat: both sides
    * sort-spill to disk and the buffered side's current-key group sits
    * in a spillable row array — a hot (boilerplate) shingle costs
    * disk, never a GC storm. The exchange on `h` is reused by both
    * sides of the self-join.
    */
  def ngramJaccardPairs(df0: DataFrame, idCol: String, textCol: String,
                        n: Int = 5, minJaccard: Double = 0.8): DataFrame = {
    val df = Par.spread(df0)
    val sh = hashedShingleTable(df, idCol, textCol, n)
    // set sizes from the un-exploded scan (size of the distinct-shingle
    // array): no second explode+hash pass, and small enough to
    // broadcast — the shingle grouping stays the only real shuffle
    val sizes = df.select(col(idCol).as("doc"), size(hashedWordShingles(textCol, n)).as("n_sh"))
    val inter = sh.select(col("h"), col("doc").as("doc_a")).hint("merge")
      .join(sh.select(col("h"), col("doc").as("doc_b")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    // no broadcast hint on sizes: one row per doc is NOT broadcastable
    // at corpus scale — Catalyst auto-broadcasts when it actually fits
    inter
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
      .withColumn("jaccard", round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** MinHash signature columns h0..h{k-1}: per doc, min over shingles
    * of k hash functions derived by double hashing
    * hᵢ = h1 + i·(h2 >> 4) from ONE md5 per shingle (Kirsch &
    * Mitzenmacher 2006) — k independent md5s per shingle would
    * dominate the stage. The >>4 keeps i·h2 < 2⁶⁰ so the sum never
    * overflows a signed 64-bit value on any engine. One explode + one
    * groupBy (single shuffle); the k mins are codegen'd agg columns.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, numHashes: Int = 12): DataFrame = {
    val sh = Par.spread(df)
      .select(col(idCol).as("doc"), explode(expr(shinglePairsSql(textCol, n))).as("p"))
      .select(col("doc"), col("p.h1").as("h1"), col("p.h2").as("h2"))
    val aggs = (0 until numHashes).map(i => min(col("h1") + lit(i.toLong) * col("h2")).as(s"h$i"))
    sh.groupBy(col("doc")).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-ROW minhash signatures — no explode, no shuffle, so the same
    * column expressions run on a STREAMING DataFrame (stateless map),
    * where the explode+groupBy of [[minhashSignatures]] would need a
    * streaming aggregation. Identical double-hashing over the same
    * distinct-shingle set ⇒ identical signatures to the batch path
    * (spec-pinned). Docs with fewer than `n` tokens cannot minhash and
    * are dropped (their shingle set is empty).
    */
  def withMinhashSignature(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, numHashes: Int = 12): DataFrame =
    df.withColumn("__p", expr(shinglePairsSql(textCol, n)))
      .filter(size(col("__p")) > 0)
      .select(col(idCol).as("doc") +: (0 until numHashes).map(i =>
        expr(s"array_min(transform(__p, p -> p.h1 + $i * p.h2))").as(s"h$i")): _*)

  /** Banded bucket rows (doc, band, bkey) from a signature frame —
    * map-only, so it composes with both batch and streaming inputs.
    */
  def minhashBuckets(sigs: DataFrame, numHashes: Int = 12, bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // bkey is BINARY(16) (unhex of the md5), not the 32-char hex string
    // (round 15, guide §2.3 narrower types): the key is only ever an
    // equality join/distinct key inside the engine — every gate's
    // OUTPUT is doc ids/counts, and the DuckDB oracles derive their own
    // hex keys independently — and hex→binary is a bijection, so every
    // join/distinct result is bit-identical while the bucket rows that
    // dominate the minhash family's shuffles, stores, and parquet
    // round-trips (q13/q457/q460/q462/q463-class) carry 16 key bytes
    // instead of 32 (+ string overhead).
    val bandKeys = (0 until bands).map { b =>
      val parts = (0 until r).map(i => s"CAST(h${b * r + i} AS STRING)").mkString(", ")
      struct(lit(b).as("band"), unhex(md5(expr(s"concat_ws(',', $parts)"))).as("bkey"))
    }
    sigs.select(col("doc"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("doc"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** Dedup-at-ingest: screen incoming documents (batch OR streaming)
    * against a STATIC corpus by LSH bucket collision. The stream side
    * is stateless map-only ([[withMinhashSignature]] →
    * [[minhashBuckets]]); the corpus side is a static bucket table the
    * join probes — a stream-static join needs no watermark and holds
    * no streaming state. Emits one row per (arriving doc, colliding
    * corpus doc, band); route collisions to exact verification
    * ([[jaccardVerify]]) downstream.
    */
  def nearDupScreen(incoming: DataFrame, corpus: DataFrame, idCol: String,
                    textCol: String, n: Int = 3, numHashes: Int = 12,
                    bands: Int = 4): DataFrame = {
    val in = minhashBuckets(withMinhashSignature(incoming, idCol, textCol, n, numHashes),
      numHashes, bands)
    // persist the corpus bucket table for STREAMS only: a streaming
    // query re-evaluates the static side EVERY microbatch — without
    // the cache that is a full corpus re-hash per trigger. Long-running
    // screens should pass a corpus they manage (and unpersist)
    // themselves via [[minhashBuckets]]; this convenience cache lives
    // until the session drops it. A batch screen is one evaluation, so
    // caching there would only leak a session cache entry per call.
    val refBuckets = minhashBuckets(
      withMinhashSignature(corpus, idCol, textCol, n, numHashes), numHashes, bands)
      .withColumnRenamed("doc", "corpus_doc")
    val ref = if (incoming.isStreaming) refBuckets.persist() else refBuckets
    in.join(ref, Seq("band", "bkey"))
      .filter(col("doc") =!= col("corpus_doc"))
      .select(col("doc"), col("corpus_doc"), col("band"))
  }

  /** MinHash + LSH candidate pairs: signatures are cut into `bands`
    * bands of numHashes/bands rows; docs sharing any band bucket are
    * candidates. Collision probability ≈ 1-(1-j^r)^b (the standard LSH
    * S-curve). Returns distinct (doc_a, doc_b).
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, numHashes: Int = 12, bands: Int = 4): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, n, numHashes)
    val buckets = minhashBuckets(sigs, numHashes, bands)
    buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
  }

  /** Cross-snapshot INCREMENTAL MinHash dedup: screen a new corpus
    * delta against a PERSISTED band-bucket store without recomputing
    * anything over the existing corpus — the production dedup shape
    * for a continuously-ingested 100 TB corpus, where re-running
    * [[minhashLshPairs]] over (store ∪ delta) per ingest would redo
    * O(corpus) signature work for an O(delta) question.
    *
    * `storeBuckets` is the persisted `(doc, band, bkey)` table (what
    * [[minhashBuckets]] emitted when the store was built — an append-
    * only table in production). Work is delta-sized: signatures and
    * band keys are computed for delta docs only; `dup_of_store` is a
    * semi-join of delta buckets against the store on the `(band,
    * bkey)` key (store-side NEVER re-hashed, and at scale the delta
    * side is the small broadcastable one); `dup_in_delta` marks docs
    * sharing a bucket with a LOWER-id delta doc (the same keep-first
    * pair semantics as [[minhashLshPairs]] — transitive grouping is
    * [[Graph.connectedComponents]]'s job, exactly as in the batch
    * path). Docs with fewer than `n` tokens have no shingles and no
    * signature, so — like every minhash path here — they do not
    * appear. Returns one row per signed delta doc:
    * `(doc, dup_of_store, dup_in_delta, kept)`.
    */
  def minhashMergeDelta(storeBuckets: DataFrame, delta: DataFrame,
                        idCol: String, textCol: String,
                        n: Int = 3, numHashes: Int = 12,
                        bands: Int = 4): DataFrame = {
    val dSigs = minhashSignatures(delta, idCol, textCol, n, numHashes)
    val dBuckets = minhashBuckets(dSigs, numHashes, bands)
      .localCheckpoint() // store screen + within-delta pairs + rollup
    minhashMergeDeltaFromBuckets(storeBuckets, dBuckets)
  }

  /** [[minhashMergeDelta]] when the caller ALREADY holds the delta's
    * materialized bucket table (round 15: the q462/q463 loops build
    * `dB` for the append/entering step AND screened the same slice via
    * [[minhashMergeDelta]] — the delta's shingle+minhash pass ran
    * TWICE per batch). Verdicts are a pure function of the bucket
    * rows, so feeding the same table yields bit-identical verdicts
    * (spec-pinned in DedupSpec). `deltaBuckets` must be materialized
    * (checkpointed/persisted) by the caller — it is consumed three
    * times below.
    */
  def minhashMergeDeltaFromBuckets(storeBuckets: DataFrame,
                                   deltaBuckets: DataFrame): DataFrame = {
    val dBuckets = deltaBuckets
    val dupStore = dBuckets
      .join(storeBuckets.select(col("band"), col("bkey")),
        Seq("band", "bkey"), "left_semi")
      .select(col("doc")).distinct()
    val dupDelta = dBuckets.as("a").join(dBuckets.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc") < col("b.doc"))
      .select(col("b.doc").as("doc")).distinct()
    dBuckets.select(col("doc")).distinct()
      .join(dupStore.withColumn("ds", lit(true)), Seq("doc"), "left")
      .join(dupDelta.withColumn("dd", lit(true)), Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("ds"), lit(false)).as("dup_of_store"),
        coalesce(col("dd"), lit(false)).as("dup_in_delta"),
        (col("ds").isNull && col("dd").isNull).as("kept"))
  }

  /** The store-evolution step of the incremental merge: append the
    * KEPT delta docs' buckets to the persisted store (in production an
    * append/MERGE into the store table). Composes with
    * [[minhashMergeDelta]]'s verdicts; dropped docs never enter, so
    * the store stays a one-row-per-surviving-(doc, band) table.
    */
  def minhashStoreAppend(storeBuckets: DataFrame, deltaBuckets: DataFrame,
                         verdicts: DataFrame): DataFrame =
    storeBuckets.unionByName(
      deltaBuckets.join(verdicts.filter(col("kept")).select("doc"),
        Seq("doc"), "left_semi"))

  /** Compact N append-only band-bucket SEGMENTS into one canonical
    * store (round-12 north star — the maintenance job the incremental
    * family needs in production): the store the continuous-ingest
    * path builds ([[minhashMergeDelta]] screens, [[minhashStoreAppend]]
    * appends) physically accumulates one segment per ingest batch plus
    * a tombstone list (retention expiry, takedowns), and every screen
    * pays a multi-segment scan; the periodic compaction merges
    * segments, drops tombstoned docs' buckets, and dedupes the
    * (doc, band, bkey) key — after which a `(band, bkey)` screen
    * against the compacted store is row-identical to screening the
    * raw segments minus tombstones (spec-pinned, plus idempotence).
    * One union + one anti-join + one distinct: shuffle keyed by the
    * bucket row, linear at any store size, and in production an
    * overwrite of the store table partition-by-partition.
    */
  def minhashStoreCompact(segments: Seq[DataFrame],
                          tombstones: DataFrame): DataFrame = {
    require(segments.nonEmpty, "need at least one segment")
    segments.reduce(_ unionByName _)
      .join(tombstones.select(col("doc")).distinct(), Seq("doc"), "left_anti")
      .distinct()
  }

  /** Exact Jaccard verification RESTRICTED to candidate pairs — the
    * LSH→verify composition production dedup runs: candidates come
    * from [[minhashLshPairs]] (or any bucketing), and the exact
    * intersection is computed only for them, so shuffle volume is
    * O(candidates × shingles-per-doc) instead of quadratic in
    * co-shingled docs. Pairs sharing no shingle drop out of the inner
    * join — their Jaccard is 0, below any useful threshold.
    */
  def jaccardVerify(df: DataFrame, idCol: String, textCol: String,
                    candidates: DataFrame,
                    n: Int = 3, minJaccard: Double = 0.8): DataFrame = {
    val dfS = Par.spread(df)
    val sh = hashedShingleTable(dfS, idCol, textCol, n)
    val sizes = dfS.select(col(idCol).as("doc"), size(hashedWordShingles(textCol, n)).as("n_sh"))
    // distinct: bucketing emits one row per colliding band, and a
    // duplicated candidate pair would multiply the intersection count
    val inter = candidates.select(col("doc_a"), col("doc_b")).distinct()
      .join(sh.select(col("doc").as("doc_a"), col("h")), "doc_a")
      .join(sh.select(col("doc").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
      .withColumn("jaccard", round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** 60-bit frequency-weighted SimHash: each token contributes its
    * occurrence count (+c for a set bit, −c otherwise); fingerprint
    * bit j is set iff the weighted sum is positive. Frequency (not
    * distinct-token) weighting matters when the vocabulary is small
    * relative to document length. Three shuffles, all on doc keys,
    * all partial-aggregated map-side.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // ±1 per token OCCURRENCE sums to exactly the frequency-weighted
    // ±count per distinct token, so no (doc, token) pre-aggregation is
    // needed: one explode straight into the doc-keyed aggregation —
    // ONE shuffle carrying 60 partial sums per doc instead of two
    // (the dropped one carried every distinct (doc, token) string)
    val tok = Par.spread(df)
      .select(col(idCol).as("doc"), explode(split(col(textCol), " ")).as("t"))
      .withColumn("h", hash60("t", 7))
    // 60 wide agg columns instead of a 60× bit-explode: all bit-sums
    // partial-aggregated map-side in codegen
    val bitAggs = (0 until 60).map(j =>
      sum(expr(s"CASE WHEN (shiftright(h, $j) & 1) = 1 THEN 1 ELSE -1 END")).as(s"b$j"))
    val packed = (0 until 60)
      .map(j => s"(CASE WHEN b$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    tok.groupBy(col("doc")).agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc"), expr(packed).as("simhash"))
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ maxHamming over a
    * bounded id-range cross join (exact; test-scale verifier).
    */
  def simhashPairs(sims: DataFrame, maxHamming: Int = 3): DataFrame =
    sims.as("a").join(sims.as("b"), col("a.doc") < col("b.doc"))
      .withColumn("hamming", expr("CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"), col("hamming"))

  /** Scale path: Hamming ≤ 3 over 4 bands of 15 bits — any near-dup
    * pair shares at least one exact band (pigeonhole), so candidates
    * come from 4 equi-joins instead of a cross join.
    */
  def simhashBandPairs(sims: DataFrame, maxHamming: Int = 3): DataFrame = {
    val banded = sims.select(col("doc"), col("simhash"),
      explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bkey", expr("shiftright(simhash, band * 15) & 32767"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        expr("CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD '03 —
    * the MOSS algorithm): hash every k-gram positionally, then keep the
    * minimum hash of each sliding window of `w` consecutive k-gram
    * hashes. Guarantees every shared substring of ≥ w+k-1 tokens
    * produces at least one shared fingerprint, while storing ~2/(w+1)
    * of the hashes — the local-fingerprint sweet spot between full
    * shingle sets (q12) and one global hash (q16).
    *
    * Scale shape: the entire selection runs inside ONE codegen'd
    * projection — `transform` over the positional hash array + a
    * windowed `array_min` via `slice` — so it is map-only with zero
    * shuffle; the output explode feeds whatever join/dedup consumes the
    * fingerprints. No per-doc window function, no sort.
    *
    * Returns exploded (doc, fp) rows, distinct per doc.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 5, w: Int = 4, seed: Int = 7): DataFrame = {
    val toks = s"split($textCol, ' ')"
    // docs shorter than one full window (w+k-1 tokens) contribute no
    // fingerprints; filtering on the CHEAP token count (not the hash
    // array) matters because Catalyst pushes the filter below the
    // projection — a size(hs) predicate would re-hash every shingle a
    // second time inside the pushed-down Filter
    // round-14: all-position hashes through the native one-pass scan
    // (value-identical to the transform chain — same md5 of the same
    // gram bytes, position order preserved; the ≥ w+k−1 filter below
    // guarantees a non-degenerate gram count either way)
    val hs = s"graft_shingles_all(($textCol), $k, $seed)"
    df.filter(expr(s"size($toks) >= ${w + k - 1}"))
      .select(col(idCol).as("doc"), expr(hs).as("hs"))
      .select(col("doc"),
        explode(array_distinct(expr(
          s"transform(sequence(1, size(hs) - ${w - 1}), j -> array_min(slice(hs, j, $w)))")))
          .as("fp"))
  }

  /** Near-duplicate pairs by edit (Levenshtein) distance ≤ maxDist,
    * with length-bucket blocking: since |len(a) − len(b)| ≤ dist is a
    * lower bound on edit distance, any qualifying pair lands in the
    * same or an adjacent bucket of width ≥ maxDist — so candidates
    * come from an equi-join on bucket id (left side exploded to
    * {b−1, b, b+1}), never a cross join. Each pair meets exactly once
    * (one matching (bb, b) combination under doc_a < doc_b).
    *
    * The quadratic-in-text-length Levenshtein kernel runs only on
    * candidates that also pass the |Δlen| ≤ maxDist pre-filter, and
    * uses Spark's banded 3-arg `levenshtein(l, r, threshold)` which
    * abandons rows early once the distance exceeds the bound — O(n·d)
    * per pair, not O(n²).
    */
  /** Prefix-filtered set-similarity join (the SSJoin/PPJoin principle,
    * Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08): all document
    * pairs with token-set Jaccard ≥ tNum/tDen, WITHOUT the O(n²) pair
    * space. Tokens get a global rarity order (frequency asc, token —
    * built with the range-partitioned rank, no single-task window);
    * each doc keeps only its prefix of the
    * len − ⌈t·len⌉ + 1 rarest tokens; any qualifying pair provably
    * shares a prefix token, so candidates arrive through a prefix-
    * token equi-join (rare tokens first ⇒ bounded fanout) and the
    * exact integer Jaccard verify runs on candidates only. Output
    * equals the brute-force all-pairs join — the oracle IS the brute
    * force, so the gate proves the filter lossless.
    *
    * Exactness fine print (round-12 advisor note): the verify counts
    * the intersection over 60-bit `graft_md5hi60` token hashes, so
    * the operator is PROBABILISTICALLY exact on arbitrary corpora — a
    * per-pair collision probability of ~|tokens|²/2⁶¹ (two distinct
    * tokens merging would perturb inter/uni/len), undetected outside
    * the test fixture where the string-set oracle proves the hash
    * path collision-free. Key the token arrays on the 120-bit
    * (md5hi60, md5lo60) struct instead if a deployment needs strict
    * set equality; at ≤10⁶ tokens/doc the 60-bit bound is ~10⁻⁶ per
    * PAIR of identical-prefix docs and was chosen for the 2×-smaller
    * shuffle.
    */
  def prefixFilterJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                               tNum: Int = 1, tDen: Int = 2): DataFrame = {
    require(tNum > 0 && tNum <= tDen, "threshold must be a rational in (0, 1]")
    // tokens HASHED to 60-bit longs and SORTED once per doc (the
    // hashedShingleTable discipline, q12's precedent): the candidate
    // join then ships 8-byte-per-token long arrays instead of
    // variable-width strings, and the exact verify counts the
    // intersection with the native zero-allocation two-pointer merge
    // ([[org.apache.spark.sql.graft.SortedIntersectSizeLong]]) instead
    // of array_intersect's per-pair hash set — the verify runs per
    // CANDIDATE PAIR and its allocation was the suite's worst task-GC
    // cost (round-11 bench metrics: 9.5 s at sf0.1). Exactness: the
    // q181 oracle stays the brute force over RAW STRING sets, so the
    // gate's hash equality proves both the prefix filter lossless AND
    // the 60-bit hashing collision-free on the corpus; the global
    // rarity order below tie-breaks on hash rather than string, and
    // the prefix-filter theorem holds for ANY total token order.
    val docs = Par.spread(df)
      .select(col(idCol).as("doc"),
        expr(s"array_sort(array_distinct(transform(split(`$textCol`, ' '), " +
          "t -> graft_md5hi60(t))))").as("toks"))
      .withColumn("len", size(col("toks")).cast("long"))
      .localCheckpoint() // tokens + verify both read it; pin one evaluation
    val cand = prefixFilterCandidates(docs, tNum, tDen)
    cand
      .join(docs.select(col("doc").as("doc_a"), col("toks").as("ja")), "doc_a")
      .join(docs.select(col("doc").as("doc_b"), col("toks").as("jb")), "doc_b")
      .withColumn("inter", org.apache.spark.sql.graft.ArrayFunctions
        .sortedIntersectSizeLong(col("ja"), col("jb")))
      .withColumn("uni",
        expr("CAST(size(ja) AS BIGINT) + CAST(size(jb) AS BIGINT) - inter"))
      .filter(col("inter") * tDen >= col("uni") * tNum)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"))
  }

  /** The PPJoin candidate stage alone (distinct `(doc_a, doc_b)`
    * pairs surviving the prefix + length filters, before the exact
    * verify). `docs` must carry `(doc, toks, len)` as prepared by
    * [[prefixFilterJaccardPairs]].
    */
  private def prefixFilterCandidates(docs: DataFrame, tNum: Int, tDen: Int): DataFrame = {
    val toks = docs.select(col("doc"), explode(col("toks")).as("token"))
    val freq = toks.groupBy("token").agg(count(lit(1)).as("tf"))
    val ranked = Prefix.withGlobalPosition(freq, Seq("tf", "token"))
      .select(col("token"), col("pos").as("trank"))
    // prefix = the (len - ceil(t*len) + 1) globally rarest tokens;
    // rn (the token's 1-based position in the doc's rarity order)
    // rides along for the positional filter below
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc")).orderBy(col("trank"))
    val prefix = toks.join(ranked, "token")
      .withColumn("rn", row_number().over(w).cast("long"))
      .join(docs.select(col("doc"), col("len")), "doc")
      .filter(col("rn") <=
        col("len") - expr(s"(($tNum * len + $tDen - 1) div $tDen)") + 1L)
      .select(col("doc"), col("trank"), col("len"), col("rn"))
    // length filter (PPJoin): J ≥ t ⇒ t·|A| ≤ |B| ≤ |A|/t — prunes
    // incompatible-size candidates before they reach the exact verify.
    // Positional filter (the "P" of PPJoin, Xiao et al. WWW'08): a
    // shared prefix token at positions (i, j) caps the achievable
    // overlap at 1 + min(|A|−i, |B|−j); J ≥ t needs overlap ≥
    // ⌈t/(1+t)·(|A|+|B|)⌉, so occurrences whose suffixes are too short
    // to reach it are pruned BEFORE the distinct — exact integer math
    // ((1+min)·(tNum+tDen) ≥ tNum·(la+lb) ⟺ 1+min ≥ ⌈…⌉), provably
    // lossless, and on skewed shared-token fixtures it is the filter
    // that actually bites (length alone passes near-equal-size pairs).
    // Skew guard (lossless fragment-replicate salting): the verify work
    // per join key is quadratic in the key's row count, so one popular
    // prefix token — a tiny-vocabulary corpus concentrates almost all
    // candidate volume on a handful of tranks — serializes ~c²/2 pair
    // evaluations into ONE sort-merge task while 31 cores idle (and any
    // ambient load lands squarely on that task). Split each key's rows
    // into g = ⌈c/512⌉ (≤64) hash buckets; a pair (a, b) with buckets
    // (i, j) meets in exactly one (i, j) cell: the left copy fans its
    // bucket across all column coordinates (i, *), the right across all
    // row coordinates (*, j), so the equi-key grows to (trank, i, j)
    // and per-cell work drops ×g². Non-skewed keys get g = 1 — a
    // single-element explode, zero replication — and the per-key count
    // is a map-side-combined aggregate, linear at any corpus size.
    val cellRows = 512L
    val keyCount = prefix.groupBy("trank").agg(count(lit(1)).as("kc"))
    // round 15: materialize the salted prefix table ONCE — it feeds
    // BOTH sides of the candidate self-join below, and without the
    // checkpoint the whole prefix derivation (occurrence explode →
    // rarity join → per-doc rank window → length join → key-count
    // join) replayed twice per run (q181 plan before: 8 Window nodes /
    // 16 Exchanges; after the derivation runs exactly once and the
    // join-time plan is 0 Windows / 4 Exchanges over the pinned scan).
    // The table is prefix-sized (len − ⌈t·len⌉ + 1 tokens per doc — at
    // t = 9/10 about a tenth of the token occurrences), so pinning it
    // is cheap at any scale.
    val salted = prefix.join(keyCount, "trank")
      .withColumn("g",
        least(expr(s"(kc + ${cellRows - 1}) div $cellRows"), lit(64L)))
      .withColumn("bkt", pmod(hash(col("doc")).cast("long"), col("g")))
      .drop("kc")
      .localCheckpoint()
    val lhs = salted.withColumn("cc", explode(sequence(lit(0L), col("g") - 1L)))
    val rhs = salted.withColumn("cr", explode(sequence(lit(0L), col("g") - 1L)))
    lhs.as("a").join(rhs.as("b"),
        col("a.trank") === col("b.trank") &&
          col("a.bkt") === col("b.cr") && col("a.cc") === col("b.bkt") &&
          col("a.doc") < col("b.doc") &&
          col("b.len") * tDen >= col("a.len") * tNum &&
          col("a.len") * tDen >= col("b.len") * tNum &&
          (lit(1L) + least(col("a.len") - col("a.rn"),
            col("b.len") - col("b.rn"))) * (tNum + tDen) >=
            (col("a.len") + col("b.len")) * tNum)
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
  }

  /** Per-document boilerplate coverage: an n-gram is "boilerplate"
    * when it occurs in ≥ minDf distinct documents (navigation chrome,
    * license footers, template text — the curation step between exact
    * dedup and near-dedup). Reports, per doc, how many token
    * POSITIONS are covered by at least one boilerplate n-gram
    * occurrence — the mass a boilerplate-stripping pass would remove.
    *
    * Scale shape: grams travel as 60-bit hashes; the df rollup and
    * the boilerplate semi-join are gram-keyed aggregates/joins (the
    * q53 contamination-screen shape); covered positions explode only
    * from MATCHED occurrences (boilerplate is a small gram minority
    * by construction) and dedupe per (doc, pos) before counting.
    */
  def boilerplateCoverage(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 8, minDf: Long = 10L): DataFrame = {
    val docs = Par.spread(df).select(col(idCol).as("doc"),
        split(col(textCol), " ").as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .localCheckpoint() // occurrence + df + per-doc rollup share one eval
    // positional (non-distinct) n-grams: pos = 0-based start index;
    // hashed inside the lambda (round-12: no retained string arrays)
    val occ = docs
      .select(col("doc"), col("n_tokens"), posexplode(expr(
        s"CASE WHEN size(toks) >= $n THEN transform(sequence(1, size(toks) - ${n - 1}), " +
          s"i -> graft_md5hi60(concat('0:', concat_ws(' ', slice(toks, i, $n))))) " +
          "ELSE CAST(array() AS ARRAY<BIGINT>) END")).as(Seq("pos", "h")))
    val boiler = occ.select(col("doc"), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select("h")
    val covered = occ.join(boiler, "h")
      .select(col("doc"), explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .distinct()
      .groupBy("doc").agg(count(lit(1)).as("n_covered"))
    docs.select(col("doc"), col("n_tokens"))
      .join(covered, Seq("doc"), "left")
      .na.fill(0L, Seq("n_covered"))
      .select(col("doc"), col("n_tokens"), col("n_covered"),
        (col("n_tokens") - col("n_covered")).as("n_retained"))
  }

  /** Pairwise cross-source shingle overlap — the corpus-contamination
    * matrix: for every pair of sources, how many distinct n-gram
    * shingles they share, and the overlap coefficient
    * |A∩B| / min(|A|,|B|) in micros. The screen that catches one
    * source republishing another (or a benchmark leaking into a crawl
    * slice) BEFORE documents are compared pairwise.
    *
    * Scale shape: everything aggregates on the shingle hash. Pairs
    * emerge per-shingle from the sorted source list via the
    * posexplode-suffix pattern (bounded by the source count, not the
    * corpus), never from a document join.
    */
  def crossSourceOverlap(df: DataFrame, srcCol: String, textCol: String,
                         n: Int = 8): DataFrame = {
    val sh = Par.spread(df)
      .select(col(srcCol).as("src"), explode(hashedWordShingles(textCol, n)).as("h"))
      .distinct()
    val sizes = sh.groupBy("src").agg(count(lit(1)).as("n_sh"))
    val inter = sh.groupBy("h")
      .agg(sort_array(collect_list(col("src"))).as("ss"))
      .filter(size(col("ss")) > 1)
      .select(posexplode(col("ss")).as(Seq("i", "src_a")), col("ss"))
      .select(col("src_a"),
        explode(expr("slice(ss, i + 2, size(ss) - i - 1)")).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("src").as("src_a"), col("n_sh").as("na")), "src_a")
      .join(sizes.select(col("src").as("src_b"), col("n_sh").as("nb")), "src_b")
      .withColumn("overlap_micro",
        expr("inter * 1000000L DIV least(na, nb)"))
  }

  /** Rarity-weighted Jaccard verify over LSH candidate pairs: token
    * weight w(t) = N − df(t) + 1 (integer — rare tokens dominate, the
    * discrete stand-in for idf that needs no logarithm), pair score
    * wJ = Σ_{t∈A∩B} w / Σ_{t∈A∪B} w in exact micros. Boilerplate-heavy
    * corpora defeat unweighted Jaccard (shared chrome inflates every
    * pair); weighting by rarity restores the signal — with zero libm
    * surface, unlike idf-weighted variants.
    *
    * Scale shape: candidates come from [[minhashLshPairs]] (band
    * bucket equi-joins); the verify joins the exploded token table
    * twice on (doc, token) — candidate-bounded, never all-pairs. The
    * df rollup is one token-keyed aggregate; per-doc weight totals one
    * doc-keyed aggregate.
    */
  def weightedJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                           minMicro: Long = 500000L): DataFrame = {
    val docs = Par.spread(df)
      .select(col(idCol).as("doc"), col(textCol).as("text"))
      .localCheckpoint() // LSH candidates + token weights share one eval
    val cand = minhashLshPairs(docs, "doc", "text", n = 3, numHashes = 12, bands = 4)
    val toks = docs
      .select(col("doc"), explode(array_distinct(split(col("text"), " "))).as("t"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val wtoks = toks
      .join(toks.groupBy("t").agg(count(lit(1)).as("df")), "t")
      .crossJoin(broadcast(nDocs))
      .select(col("doc"), col("t"), (col("n_docs") - col("df") + 1L).as("w"))
    val wtot = wtoks.groupBy("doc").agg(sum(col("w")).as("wsum"))
    val interW = cand
      .join(wtoks.select(col("doc").as("doc_a"), col("t"), col("w")), "doc_a")
      .join(wtoks.select(col("doc").as("doc_b"), col("t")), Seq("doc_b", "t"))
      .groupBy("doc_a", "doc_b").agg(sum(col("w")).as("inter_w"))
    interW
      .join(wtot.select(col("doc").as("doc_a"), col("wsum").as("wa")), "doc_a")
      .join(wtot.select(col("doc").as("doc_b"), col("wsum").as("wb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("inter_w"),
        (col("wa") + col("wb") - col("inter_w")).as("union_w"))
      .withColumn("wj_micro", expr("inter_w * 1000000L DIV union_w"))
      .filter(col("wj_micro") >= minMicro)
  }

  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        maxDist: Int = 12, bucket: Int = 16): DataFrame = {
    require(bucket >= maxDist, "bucket width must be >= maxDist for sound blocking")
    val p = df.select(col(idCol).as("doc"), col(textCol).as("t"),
      length(col(textCol)).as("len"))
      .withColumn("b", floor(col("len") / bucket))
    val left = p.withColumn("bb", explode(array(col("b") - 1, col("b"), col("b") + 1)))
    left.as("a").join(p.as("b"),
        col("a.bb") === col("b.b") && col("a.doc") < col("b.doc") &&
          abs(col("a.len") - col("b.len")) <= maxDist)
      .withColumn("dist", levenshtein(col("a.t"), col("b.t"), maxDist).cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"), col("dist"))
  }
}
