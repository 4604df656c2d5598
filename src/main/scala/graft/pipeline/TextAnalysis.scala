package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * Everything here is built from codegen'd `org.apache.spark.sql.functions`
  * (split / higher-order filter / regexp_count / md5) — no Scala UDFs — so
  * the whole stage stays inside WholeStageCodegen and scales linearly with
  * input splits: at 100 TB these are embarrassingly parallel map-only
  * plans with zero shuffle until the final (tiny) aggregation, and the
  * parquet scan prunes to the `text` column only.
  */
object TextAnalysis {

  /** Whitespace tokens (literal single-space split — deterministic and
    * engine-portable; regex `\s+` dialects differ across engines).
    */
  def tokens(text: Column): Column = split(text, " ")

  /** Unicode normalization (codegen'd
    * [[org.apache.spark.sql.graft.UnicodeNormalize]] expression) —
    * canonicalize before hashing/dedup so precomposed and decomposed
    * spellings of the same text collide. `form` ∈ NFC/NFD/NFKC/NFKD;
    * NFKC additionally folds full-width forms and ligatures.
    */
  def normalize(text: Column, form: String = "NFC"): Column = form match {
    case "NFC" => call_function("graft_nfc", text)
    case "NFKC" => call_function("graft_nfkc", text)
    case other => throw new IllegalArgumentException(
      s"unregistered normalization form $other (register it in GraftExtensions)")
  }

  /** Token count under a simple BPE-ish lexer: runs of letters, runs of
    * digits, or single other non-space characters each count as one token.
    */
  def regexTokenCount(text: Column): Column =
    regexp_count(text, lit("[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]")).cast("long")

  /** Number of tokens of `text` that appear in `words`. Occurrence count,
    * not distinct (higher-order `filter`, codegen-friendly). Words are
    * passed as literal columns, never interpolated into SQL text, so
    * quotes/apostrophes in caller-supplied lists are safe.
    */
  def wordSetCount(text: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(split(text, " "), t => array_contains(set, t))).cast("long")
  }

  /** Canonical document fingerprint: md5 of case-folded,
    * whitespace-collapsed text. Exact-dup detection key.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "  +", " ")))

  /** PII redaction: emails, IPv4 literals, then long digit runs
    * (13–18 digits — card/account shaped) → typed placeholder tokens,
    * in that order so an address is never half-eaten by a later rule.
    * Patterns stay inside the Java-regex ∩ RE2 common subset so any
    * engine applies the same edits. Map-only, codegen'd.
    */
  def redact(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\b\\d{13,18}\\b", "<ID>")
  }

  /** Language markers for the n-gram/stopword heuristic language ID.
    * Word lists are the public "most distinctive frequent words"
    * approach; tie-breaks resolve in declaration order.
    */
  val defaultMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "order", "table", "key"),
    "de" -> Seq("window", "group", "batch", "stream"),
    "fr" -> Seq("query", "merge", "vector", "part"),
    "es" -> Seq("data", "row", "scan", "filter"),
  )

  /** Heuristic language ID: score per language = marker-word hits;
    * argmax with deterministic tie-break (declaration order), `und`
    * when nothing matches. Pure column expression → map-only at scale.
    */
  def languageId(text: Column, markers: Seq[(String, Seq[String])] = defaultMarkers): Column = {
    val scores = markers.map { case (lang, ws) => lang -> wordSetCount(text, ws) }
    val total = scores.map(_._2).reduce(_ + _)
    // argmax by fold: a later language wins only with a strictly greater
    // score, so ties resolve in declaration order
    val (bestLang, _) = scores.tail.foldLeft((lit(scores.head._1), scores.head._2)) {
      case ((bl, bs), (l, s)) =>
        (when(s > bs, lit(l)).otherwise(bl), when(s > bs, s).otherwise(bs))
    }
    when(total === 0, lit("und")).otherwise(bestLang)
  }

  /** Corpus-trained character-bigram language-model score: the
    * negative mean log of p(c₂|c₁) estimated from the corpus itself —
    * a perplexity-style fluency signal with no external model. High
    * score = improbable character sequences (boilerplate, garbage,
    * wrong-language text stand out).
    *
    * The per-doc bigram counts come from one native byte scan; the
    * corpus profile (and the first-char profile folded from it — both
    * tiny: |alphabet|² rows) broadcast-joins back onto them;
    * everything else is map-only.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // (doc, bigram, count) — at most |alphabet|² rows per doc, counted
    // per document by the native one-pass kernel
    // ([[org.apache.spark.sql.graft.TextStatsKernel.charBigramCounts]],
    // round 14): the SQL chain (`explode(transform(sequence(1,
    // length-1), i -> substring(text, i, 2)))` + a (doc, bg) groupBy)
    // allocated an index array + a substring per character position
    // and shuffled position-level rows; the kernel emits the distinct
    // (bg, c) pairs per doc directly, so the (doc, bg) aggregation —
    // the corpus-sized shuffle — disappears from the plan entirely.
    // Value-identical (spec-pinned in TextKernelsSpec): same code-point
    // bigrams, exact byte-compare counting, NULL/<2-char text → no rows
    // (the CASE's else branch).
    val docBi = Par.spread(df).select(col(idCol).as("doc"),
      explode(call_function("graft_char_bigram_counts", col(textCol))).as("kv"))
      .select(col("doc"), col("kv.bg").as("bg"), col("kv.c").as("c"))
    val prof = docBi.groupBy(col("bg")).agg(sum(col("c")).as("cb"))
    // first-char profile folded from the bigram profile (≤|alphabet|²
    // rows) instead of a third corpus pass: Σ_{bg: bg[0]=c1} cb(bg) is
    // the same integer sum grouped coarser
    val prof1 = prof.groupBy(substring(col("bg"), 1, 1).as("c1"))
      .agg(sum(col("cb")).as("c1n"))
    docBi.join(broadcast(prof), "bg")
      .join(broadcast(prof1), substring(col("bg"), 1, 1) === col("c1"))
      .groupBy(col("doc"))
      .agg(round(-(sum(col("c") * log(col("cb").cast("double") / col("c1n"))) /
        sum(col("c"))), 4).as("lm_score"))
  }

  /** Repetition metrics per document (the Gopher-rules family):
    * distinct-token ratio and top-bigram fraction — high top-bigram
    * fraction or low distinct ratio marks boilerplate/spam that
    * length/stopword filters miss. One native byte scan per document,
    * map-only at any corpus size.
    */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // the whole operator is ONE native byte scan per document
    // ([[org.apache.spark.sql.graft.TextStatsKernel.tokenStats]],
    // round 14): the SQL shape split every doc into a token string
    // array, built a second array of concat'd bigram strings, exploded
    // it through a (doc, bg) + (doc) double aggregation, and joined
    // the result back onto the per-doc stats — two shuffles and a join
    // for quantities that are all computable per row. The kernel
    // returns struct(n_tokens, n_distinct, n_bigrams, top_c) with
    // exact byte-compare distinct/count tables, so the plan is now
    // map-only (zero shuffle at any corpus size). Value identity is
    // spec-pinned in TextKernelsSpec: n_bigrams/top_c are NULL for
    // <2-token docs exactly like the left-join miss, so the
    // coalesce(…, 0.0) finish is byte-identical.
    val st = Par.spread(df).select(col(idCol).as("doc"),
      call_function("graft_token_stats", col(textCol)).as("ts"))
    st.select(col("doc").as(idCol),
      col("ts.n_tokens").as("n_tokens"),
      round(coalesce(col("ts.top_c").cast("double") / col("ts.n_bigrams"), lit(0.0)), 4)
        .as("top_bigram_frac"),
      round(col("ts.n_distinct").cast("double") / col("ts.n_tokens"), 4)
        .as("distinct_ratio"))
  }

  /** The `keep` decision of [[qualityMetrics]] as a standalone column
    * (length band + minimum stopword ratio) so pipelines can filter
    * without materializing the full metrics row.
    */
  /** Corpus-weighted adjacent character-pair counts — the statistic a
    * byte-pair-encoding trainer computes for its first merge (Sennrich
    * et al. 2016): for every occurrence of every word, every adjacent
    * 2-char window, weighted by word occurrence count. Returns the k
    * most frequent pairs (ties broken lexicographically) — the merge
    * candidates in priority order.
    *
    * Scale shape: words roll up FIRST (one token-keyed aggregate), so
    * the quadratic-ish pair explode runs over the distinct vocabulary
    * weighted by counts, not over the raw token stream — vocabulary is
    * sublinear in corpus size (Heaps' law), the stream is not.
    */
  def bpePairStats(df: DataFrame, textCol: String, k: Int = 20): DataFrame = {
    val words = df
      .select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_occ"))
    words
      .filter(length(col("w")) >= 2)
      .select(col("n_occ"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum(col("n_occ")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)
  }

  /** Cohen's kappa between two label columns in exact micros:
    * κ = (p_o − p_e)/(1 − p_e) — with observed agreement and chance
    * agreement both rationals in integer counts,
    * κ_micro = ⌊10⁶·(N·Σ_agree − Σ_l r_l·c_l)/(N² − Σ_l r_l·c_l)⌋ is
    * one integral division on DECIMAL(38,0) moments. The
    * inter-annotator (or model-vs-heuristic) consistency gate a
    * labeling pipeline runs before trusting either source.
    *
    * Scale shape: one cell rollup on (a, b); marginals and the finish
    * are broadcast-sized aggregates of the cell table.
    */
  def cohensKappa(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val cells = df.select(aCol.as("a"), bCol.as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("o"))
    val ra = cells.groupBy("a").agg(sum(col("o")).as("r"))
    val cb = cells.groupBy("b").agg(sum(col("o")).as("c"))
    val chance = ra.join(cb, col("a") === col("b"))
      .agg(sum(col("r").cast("decimal(38,0)") * col("c")).as("sum_rc"))
    val agree = cells.filter(col("a") === col("b"))
      .agg(coalesce(sum(col("o")), lit(0L)).as("n_agree"))
    val n = cells.agg(sum(col("o")).as("n"))
    broadcast(n).crossJoin(broadcast(agree)).crossJoin(broadcast(chance))
      .select(col("n"), col("n_agree"), col("sum_rc").cast("long").as("sum_rc"),
        expr("CAST(((CAST(n AS DECIMAL(38,0)) * n_agree - sum_rc) * 1000000) " +
          "DIV (CAST(n AS DECIMAL(38,0)) * n - sum_rc) AS BIGINT)")
          .as("kappa_micro"))
  }

  def keepFlag(t: Column,
               stopwords: Seq[String] = Seq("the", "a", "data", "key", "order")): Column = {
    val nTokens = size(tokens(t)).cast("long")
    (nTokens >= 10 && nTokens <= 100000 &&
      wordSetCount(t, stopwords).cast("double") / nTokens >= 0.01).cast("int")
  }

  /** Frequency-ranked vocabulary: `(token, cnt, token_id)` for the
    * `maxSize` most frequent whitespace tokens, id 1 = most frequent,
    * ties broken lexically — the deterministic word-count stage every
    * tokenizer build starts from. One explode + one count shuffle,
    * then `orderBy.limit` = TakeOrderedAndProject: per-partition
    * top-`maxSize` heaps, so a 10⁸-distinct-token vocabulary is never
    * globally sorted or ranked — only the ≤ maxSize survivors get ids
    * (a window over a frame already bounded by maxSize).
    */
  def vocabulary(df: DataFrame, textCol: String, maxSize: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = df.select(explode(split(col(textCol), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(maxSize)
    // partition-less window is fine HERE: the frame is already
    // limit(maxSize)-bounded, so the expected `WindowExec: No Partition
    // Defined` warning covers ≤ maxSize rows, not the corpus
    top.withColumn("token_id",
      row_number().over(Window.orderBy(col("cnt").desc, col("token"))).cast("long"))
  }

  /** Collocation mining by LIFT — the log-free monotone transform of
    * PMI: lift(x,y) = N·c(x,y) / (c(x)·c(y)), ranking exactly like
    * exp(PMI) while using only integer products and one double
    * division (IEEE-exact on any engine — no libm `log`, whose
    * last-ulp differences would make a cross-engine hash gate flaky).
    *
    * Scale shape: one bigram aggregation (the corpus-sized shuffle),
    * two joins against the unigram counts (vocabulary-sized, broadcast
    * in practice), one 1-row total.
    */
  def collocations(df: DataFrame, textCol: String, minCount: Long = 5): DataFrame = {
    // both token streams come from native one-pass kernels (round 14):
    // the bigram side emitted, per doc, a split array + an index
    // sequence + a struct per position with two element_at lookups;
    // [[org.apache.spark.sql.graft.TextStatsKernel.wordBigrams]] emits
    // the same (w1, w2) structs as zero-copy slices of the source
    // bytes. The unigram side pre-counts per doc
    // ([[org.apache.spark.sql.graft.TextStatsKernel.tokenCounts]]), so
    // the corpus count is sum(c) over per-doc-distinct rows — the same
    // integers the raw explode + count produced. Spec-pinned in
    // TextKernelsSpec.
    val bigrams = df.select(
      explode(call_function("graft_word_bigrams", col(textCol))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bc = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    val uni = df.select(
      explode(call_function("graft_token_counts", col(textCol))).as("tc"))
      .select(col("tc.w").as("w"), col("tc.c").as("c0"))
      .groupBy("w").agg(sum(col("c0")).as("c"))
    val n = uni.agg(sum(col("c")).as("n_tokens"))
    bc.join(uni.select(col("w").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c_xy"),
        round((col("n_tokens") * col("c_xy")).cast("double")
          / (col("c_x") * col("c_y")), 4).as("lift"))
  }

  /** Nucleus (top-p) vocabulary: the smallest prefix of the
    * frequency-ranked vocabulary whose cumulative token share reaches
    * `p` — a token survives iff the share of strictly higher-ranked
    * tokens is still < p. The rank order (cnt desc, token) is total,
    * so the cut is deterministic on any engine.
    *
    * Scale shape: the cumulative sum runs through
    * [[Prefix.withPrefixSum]] (range partition + per-partition
    * offsets) — no single-partition global window at any vocabulary
    * size, unlike the rank-then-cut a window cumsum would need.
    */
  def nucleusVocabulary(df: DataFrame, textCol: String,
                        p: Double = 0.95): DataFrame = {
    val tf = df.select(explode(split(col(textCol), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .withColumn("neg_cnt", -col("cnt"))
    val tot = tf.agg(sum(col("cnt")).as("total"))
    Prefix.withPrefixSum(tf, Seq("neg_cnt", "token"), "cnt")
      .crossJoin(broadcast(tot))
      .filter(col("prefix") < lit(p) * col("total"))
      .select(col("token"), col("cnt"),
        round((col("prefix") + col("cnt")).cast("double") / col("total"), 6)
          .as("cum_share"))
  }

  /** Quality metrics per document: token count, mean token length,
    * stopword ratio, punctuation ratio, and a boolean-ish keep flag —
    * the standard cheap pre-filters of web-scale corpus cleaning.
    */
  def qualityMetrics(df: DataFrame, idCol: String, textCol: String,
                     stopwords: Seq[String] = Seq("the", "a", "data", "key", "order")): DataFrame = {
    val t = col(textCol)
    val nTokens = size(tokens(t)).cast("long")
    val nChars = length(t).cast("long")
    val stopCnt = wordSetCount(t, stopwords)
    val punctCnt = (length(t) - length(regexp_replace(t, "[.,;:!?]", ""))).cast("long")
    df.select(
      col(idCol),
      nTokens.as("n_tokens"),
      nChars.as("n_chars_calc"),
      round(nChars.cast("double") / nTokens, 4).as("mean_token_len"),
      round(stopCnt.cast("double") / nTokens, 4).as("stopword_ratio"),
      round(punctCnt.cast("double") / greatest(nChars, lit(1L)), 4).as("punct_ratio"),
      keepFlag(t, stopwords).as("keep"),
    )
  }

  /** Per-document TF-IDF top-`k` terms: `(id, rank, term, tf, tfidf)`
    * with `tfidf = tf · ln(N / df)`, ranked per document by rounded
    * score (desc) then term (asc) — the rounding keeps the ranking
    * engine-portable when two scores differ only in the last ulps of
    * `ln`.
    *
    * Scale shape: one explode + one `(id, term)` count shuffle for TF;
    * the document-frequency side collapses to vocabulary cardinality
    * and is broadcast (as is the 1-row corpus count), so the join adds
    * NO shuffle of the TF table; the final top-k is a per-document
    * window over ≤ |vocab| rows per doc. Nothing here grows with
    * corpus size except the embarrassingly-parallel TF stage.
    */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3, roundTo: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = df.select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")
    val tf = tok.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tok.select(col(idCol), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.select(count(lit(1)).as("n"))
    val scored = tf.join(broadcast(dfreq), "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n").cast("double") / col("df")), roundTo))
    val w = Window.partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("tfidf"))
  }

  /** Shannon unigram entropy per document, in integer MICRO-NATS —
    * the information-density quality signal (near-zero entropy =
    * degenerate repetition, the gibberish/boilerplate end of the
    * quality spectrum; complements [[repetitionMetrics]]' top-bigram
    * fraction). H = ln(n) − (1/n)·Σ tf·ln(tf) over the term-frequency
    * distribution.
    *
    * Exactness follows the q139 micro-integer discipline: each libm
    * `ln` is quantized to micro-nats the moment it is computed
    * (floor(ln(tf)·1e6 + 0.5) — tf is a small integer, so both
    * engines see identical inputs), the weighted sum is a BIGINT
    * (order-insensitive), and the single division S/n happens once on
    * exact integers with an immediate floor. Two term-keyed
    * aggregations, no joins, no window — scale shape identical to the
    * TF stage of [[tfIdfTopTerms]].
    */
  def unigramEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df.select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    tf.groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(expr(
          "tf * CAST(floor(ln(CAST(tf AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"))
          .as("s_tf_ln"))
      .select(col(idCol), col("n_tokens"), expr(
        "CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) " +
          "- CAST(floor(CAST(s_tf_ln AS DOUBLE) / n_tokens + 0.5) AS BIGINT)")
        .as("entropy_micro"))
  }

  /** Pairwise vocabulary Jaccard between domains — the redundancy
    * matrix behind corpus-mixing decisions (two sources with
    * near-identical vocabularies add diversity the mixture weights
    * should know about; complements q66's size-based domain mix).
    * Output: one row per ordered pair (da < db) sharing ≥ 1 term, with
    * exact set sizes and `jaccard_micro = floor(|∩|·1e6/|∪| + 0.5)` —
    * integer set arithmetic end to end, one deterministic division.
    *
    * Scale shape: the (domain, term) vocabulary sets come from one
    * distinct aggregation; the intersection is a TERM-keyed self-join
    * (per-term fanout ≤ #domains containing the term, so cost is
    * Σ_term deg(term)² — the standard co-occurrence bound, never
    * all-docs × all-docs). For domain counts where D² per term is too
    * fat, the MinHash machinery (`Dedup.minhashSignatures`) estimates
    * the same matrix; this exact form is for the tens-of-domains
    * regime a mixture plan actually has.
    */
  def vocabularyJaccard(df: DataFrame, domainCol: String,
                        textCol: String): DataFrame = {
    val dv = df.select(col(domainCol).as("d"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "").distinct()
    val sizes = dv.groupBy("d").agg(count(lit(1)).as("nv"))
    dv.as("a").join(dv.as("b"),
        col("a.term") === col("b.term") && col("a.d") < col("b.d"))
      .groupBy(col("a.d").as("da"), col("b.d").as("db"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("d").as("da"), col("nv").as("na"))), "da")
      .join(broadcast(sizes.select(col("d").as("db"), col("nv").as("nb"))), "db")
      .select(col("da"), col("db"), col("inter"), col("na"), col("nb"),
        (col("na") + col("nb") - col("inter")).as("uni"),
        expr("CAST(floor(CAST(inter AS DOUBLE) / (na + nb - inter) * 1000000.0 + 0.5) AS BIGINT)")
          .as("jaccard_micro"))
  }

  /** Gopher-style document-quality rules (Rae et al. 2021, "Scaling
    * Language Models", table A1 — the public heuristics every web
    * corpus clean starts from): word-count band, mean-word-length
    * band, minimum fraction of words containing an alphabetic
    * character, and a minimum number of DISTINCT stopwords present.
    * Emits the metrics, one 0/1 flag per rule, and the conjunction as
    * `keep` — map-only pure column expressions (one pass, no shuffle,
    * no UDF), like the rest of this module.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 25, maxWords: Int = 100000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  minAlphaFrac: Double = 0.8, minStopHits: Int = 2,
                  stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in"))
  : DataFrame = {
    val words = filter(split(col(textCol), " "), w => w =!= "")
    val nWords = size(words).cast("long")
    val nW = greatest(nWords, lit(1L))
    val totalLen = aggregate(words, lit(0L), (acc, w) => acc + length(w))
    val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long")
    val stopHits = size(array_intersect(array_distinct(words),
      array(stopwords.map(lit): _*))).cast("long")
    val meanLen = totalLen.cast("double") / nW
    val alphaFrac = alphaWords.cast("double") / nW
    val pWords = (nWords >= minWords && nWords <= maxWords).cast("int")
    val pLen = (meanLen >= minMeanLen && meanLen <= maxMeanLen).cast("int")
    val pAlpha = (alphaFrac >= minAlphaFrac).cast("int")
    val pStop = (stopHits >= minStopHits).cast("int")
    df.select(
      col(idCol),
      nWords.as("n_words"),
      round(meanLen, 4).as("mean_word_len"),
      round(alphaFrac, 4).as("alpha_frac"),
      stopHits.as("stop_hits"),
      pWords.as("pass_words"),
      pLen.as("pass_word_len"),
      pAlpha.as("pass_alpha"),
      pStop.as("pass_stop"),
      (pWords * pLen * pAlpha * pStop).as("keep"))
  }

  /** Pretrained-linear-model scoring at scale (the fastText-classifier
    * shape every curation pipeline runs): integer text features →
    * integer centi-logit w·x + b → sigmoid score. Features (token
    * count, distinct-token count, char count) and the dot product are
    * exact BIGINTs; only the final sigmoid is a double chain, shared
    * verbatim with the oracle. Map-only — no shuffle at any scale.
    * The default weights are illustrative stand-ins for trained
    * coefficients (length up, vocabulary up, raw chars slightly down).
    */
  def logisticQuality(df: DataFrame, idCol: String, textCol: String,
                      wTok: Long = 30L, wUniq: Long = 7L,
                      wChar: Long = -1L, bias: Long = -500L): DataFrame =
    df.select(col(idCol), col(textCol).as("__t"))
      .withColumn("n_tok", size(split(col("__t"), " ")).cast("long"))
      .withColumn("n_uniq",
        size(array_distinct(split(col("__t"), " "))).cast("long"))
      .withColumn("n_chars", length(col("__t")).cast("long"))
      .withColumn("logit_centi",
        lit(wTok) * col("n_tok") + lit(wUniq) * col("n_uniq") +
          lit(wChar) * col("n_chars") + lit(bias))
      .select(col(idCol), col("n_tok"), col("n_uniq"), col("n_chars"),
        col("logit_centi"),
        expr("CAST(floor(1.0 / (1.0 + exp(-(logit_centi / 100.0))) " +
          "* 1000000.0 + 0.5) AS BIGINT)").as("score_micro"))
}
