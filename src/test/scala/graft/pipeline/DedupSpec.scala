package graft
package pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Dedup]] and [[Similarity]] screens: hashed word shingles, store
  * compaction, the semantic dedup screen, the hand-computed overlap
  * cases and the bucket-table merge delta. (The ngram-pair and
  * restart-seam cases are still in Round13Spec and Round14Spec.)
  */
class DedupSpec extends AnyFunSuite with SparkSpec {

  test("hashedWordShingles ≡ hash60 over wordShingles (the round-12 GC fix's value identity)") {
    import spark.implicits._
    import pipeline.Dedup
    val docs = Seq(
      (1L, "a b c d e f g a b c d e"), // repeated shingles → distinct matters
      (2L, "x y"),                     // shorter than n → empty
      (3L, "p q r s t"),
      (4L, "a b c a b c a b c")        // heavy repetition
    ).toDF("doc_id", "text")
    for (n <- Seq(3, 5); seed <- Seq(0, 7)) {
      val viaStrings = docs.select(col("doc_id"),
          explode(Dedup.wordShingles("text", n)).as("s"))
        .select(col("doc_id"), Dedup.hash60("s", seed).as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val hashedInline = docs.select(col("doc_id"),
          explode(Dedup.hashedWordShingles("text", n, seed)).as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaStrings == hashedInline, s"divergence at n=$n seed=$seed")
      // sizes agree too (the n_sh path)
      val szS = docs.select(col("doc_id"), size(Dedup.wordShingles("text", n)).as("z"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      val szH = docs.select(col("doc_id"), size(Dedup.hashedWordShingles("text", n, seed)).as("z"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      assert(szS == szH)
    }
  }

  test("minhashStoreCompact: screen equivalence, tombstone removal, idempotence") {
    import spark.implicits._
    import pipeline.Dedup
    val mk = (ids: Seq[Long]) => Dedup.minhashBuckets(
      Dedup.minhashSignatures(
        ids.map(i => (i, s"tok${i % 3} alpha beta gamma delta tok$i common words here"))
          .toDF("doc_id", "text"),
        "doc_id", "text", n = 3, numHashes = 12), numHashes = 12, bands = 4)
    // segments overlap on doc 5 (re-ingest); docs 2 and 7 tombstoned
    val segs = Seq(mk(Seq(1L, 2L, 5L)), mk(Seq(5L, 6L, 7L)), mk(Seq(8L)))
    val tomb = Seq(2L, 7L, 99L).toDF("doc") // 99: tombstone for an absent doc
    val compacted = Dedup.minhashStoreCompact(segs, tomb).localCheckpoint()
    // tombstoned docs gone, overlap collapsed to one row per (doc, band)
    val docs = compacted.select("doc").distinct().as[Long].collect().toSet
    assert(docs == Set(1L, 5L, 6L, 8L))
    assert(compacted.groupBy("doc", "band").count()
      .filter(col("count") > 1).isEmpty, "key dedup must collapse re-ingests")
    // SCREEN EQUIVALENCE: a delta screened against the compacted store
    // gives the same verdicts as against raw segments minus tombstones
    val delta = Seq((100L, "tok1 alpha beta gamma delta tok1 common words here"))
      .toDF("doc_id", "text")
    val raw = segs.reduce(_ unionByName _)
      .join(tomb, Seq("doc"), "left_anti")
    def screen(store: org.apache.spark.sql.DataFrame) =
      Dedup.minhashMergeDelta(store, delta, "doc_id", "text",
        n = 3, numHashes = 12, bands = 4)
        .orderBy("doc").collect().toSeq
    assert(screen(compacted) == screen(raw))
    // idempotence: compacting the compacted store is the identity
    val twice = Dedup.minhashStoreCompact(Seq(compacted), tomb)
    assert(twice.exceptAll(compacted).isEmpty &&
      compacted.exceptAll(twice).isEmpty)
  }

  test("semDedupScreen: batch flags == semDedupDelta dup_of_store; map-only incoming plan") {
    import spark.implicits._
    import pipeline.Similarity
    // two well-separated direction clusters in 4-d; store holds one
    // member of each, delta holds near-dups of cluster A plus an
    // orthogonal vector that matches nothing
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val store = Seq((1L, v(1, 0, 0, 0)), (2L, v(0, 1, 0, 0)))
      .toDF("vec_id", "embedding")
    val delta = Seq(
      (4L, v(0.999, 0.01, 0, 0)),  // dup of store 1
      (8L, v(0.01, 0.999, 0, 0)),  // dup of store 2
      (12L, v(0, 0, 1, 0)))        // matches nothing
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1000L, 0L, 0L, 0L)), (1L, Seq(0L, 1000L, 0L, 0L)))
    val centsDf = cents.toDF("cidx", "cq")
    val storeM = Similarity.semDedupMembers(store, "vec_id", "embedding",
      nClusters = 2, centroids = Some(centsDf))
    val deltaM = Similarity.semDedupMembers(delta, "vec_id", "embedding",
      nClusters = 2, centroids = Some(centsDf))
    // screen (the streamable stateless path) vs semDedupDelta (the
    // batch incremental path): dup_of_store flags must agree
    val screenFlags = Similarity.semDedupScreen(delta, "vec_id", "embedding",
        storeM, cents, tNum = 3, tDen = 4)
      .select("id").distinct().as[Long].collect().toSet
    val deltaFlags = Similarity.semDedupDelta(storeM, deltaM, tNum = 3, tDen = 4)
      .filter(col("dup_of_store")).select("id").as[Long].collect().toSet
    assert(screenFlags == deltaFlags && screenFlags == Set(4L, 8L))
    // the incoming side must stay join-free above the single
    // stream-static join: no aggregation/window below it (what makes
    // it run on an unbounded stream with zero state)
    val plan = Similarity.semDedupScreen(delta, "vec_id", "embedding",
      storeM, cents).queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"), "incoming side must be map-only")
  }

  test("boilerplateCoverage: a shared 2-gram covers both its positions") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val out = Dedup.boilerplateCoverage(df, "doc_id", "text", n = 2, minDf = 2L)
      .orderBy("doc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 3L, 2L, 1L), (2L, 3L, 2L, 1L)))
  }

  test("crossSourceOverlap: one shared 2-gram out of two per source") {
    import spark.implicits._
    val df = Seq(("s1", "a b c"), ("s2", "a b d")).toDF("source", "text")
    val r = Dedup.crossSourceOverlap(df, "source", "text", n = 2)
      .collect().head
    assert((r.getAs[String]("src_a"), r.getAs[String]("src_b"),
      r.getAs[Long]("inter"), r.getAs[Long]("na"), r.getAs[Long]("nb"),
      r.getAs[Long]("overlap_micro")) == (("s1", "s2", 1L, 2L, 2L, 500000L)))
  }

  test("weightedJaccardPairs: rare-token weighting separates pairs") {
    import spark.implicits._
    // three near-identical docs; w(t) = N − df + 1: shared-everywhere
    // tokens weigh 1, doc-unique tokens weigh 3
    val df = Seq((1L, "a b c d e f g h i j"), (2L, "a b c d e f g h i j"),
      (3L, "a b c d e f g h i zz")).toDF("doc_id", "text")
    val out = Dedup.weightedJaccardPairs(df, "doc_id", "text", minMicro = 0L)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSeq
    // identical docs MUST collide in every LSH band → wJ = 1
    assert(out.find(p => p._1 == 1L && p._2 == 2L).exists(_._3 == 1000000L))
    // the 'zz'-divergent pair: a..i shared by all 3 docs → df 3 → w 1;
    // j in docs 1,2 → w 2; zz only in 3 → w 3. inter(1,3) = 9,
    // wsum1 = 11, wsum3 = 12, union = 14 → ⌊9e6/14⌋ = 642857. LSH
    // candidates are probabilistic, so assert the VALUE only when the
    // bands surfaced the pair (recall has its own gates: q73/q81/q103)
    assert(out.find(p => p._1 == 1L && p._2 == 3L).forall(_._3 == 642857L))
  }

  test("minhashMergeDeltaFromBuckets ≡ minhashMergeDelta (shared bucket table)") {
    import spark.implicits._
    val docs = (Seq(
      (1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "a b c d e f"),
      (4L, "p q r s t u"), (5L, "zz yy xx ww vv")) ++
      (10L to 20L).map(i => (i, s"m$i n$i o$i p q r")))
      .toDF("doc_id", "text")
    val store = docs.filter(col("doc_id") % 3 =!= 0L)
    val delta = docs.filter(col("doc_id") % 3 === 0L)
    val storeBuckets = pipeline.Dedup.minhashBuckets(
      pipeline.Dedup.minhashSignatures(store, "doc_id", "text", n = 3, numHashes = 12),
      numHashes = 12, bands = 4)
    val a = pipeline.Dedup.minhashMergeDelta(storeBuckets, delta, "doc_id", "text",
      n = 3, numHashes = 12, bands = 4).orderBy("doc").collect().map(_.toSeq).toSeq
    val dB = pipeline.Dedup.minhashBuckets(
      pipeline.Dedup.minhashSignatures(delta, "doc_id", "text", n = 3, numHashes = 12),
      numHashes = 12, bands = 4).localCheckpoint()
    val b = pipeline.Dedup.minhashMergeDeltaFromBuckets(storeBuckets, dB)
      .orderBy("doc").collect().map(_.toSeq).toSeq
    assert(a == b, "verdicts must be a pure function of the bucket rows")
    assert(a.nonEmpty)
  }

  test("store compaction slices overlap: %101 re-crawl crosses %4 segments") {
    // with %100 (divisible by 4) the re-crawl slice was a SUBSET of
    // the %4 slice and no doc ever appeared in two segments — the
    // compactor's key dedup collapsed nothing
    val inTwo = (0L until 1000L).count { id =>
      val segs = (0L to 3L).filter(m => id % 4 == m || id % 101 == m)
      segs.size > 1
    }
    assert(inTwo > 0, "some docs must land in two segments")
  }
}
