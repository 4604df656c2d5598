package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

class IncrementalSpec extends AnyFunSuite with SparkSpec {

  private val keys = Seq("k")
  private val sums = Seq("v")

  test("merge(agg(base), agg(delta)) == agg(base union delta); new and absent groups") {
    import spark.implicits._
    val base = Seq(("a", 1L), ("a", 2L), ("b", 5L)).toDF("k", "v")
    val delta = Seq(("a", 10L), ("c", 7L)).toDF("k", "v") // c: new group
    val merged = Incremental.merge(
      Incremental.countSumState(base, keys, sums),
      Incremental.countSumState(delta, keys, sums), keys, sums)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val onePass = Incremental.countSumState(base.union(delta), keys, sums)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(merged == onePass)
    assert(merged("c") == ((1L, 7L)) && merged("b") == ((1L, 5L)))
  }

  test("minhashMergeDelta: delta verdicts vs persisted store; store append keeps only fresh") {
    import spark.implicits._
    // store: one doc; delta: an exact copy of it (dup_of_store), a
    // fresh pair of near-identical docs (the higher id dups the lower
    // WITHIN the delta), and one unique doc. Verdicts must equal the
    // batch LSH pair semantics, and the appended store must grow by
    // exactly the kept docs' buckets.
    val textA = (1 to 30).map(i => s"tok$i").mkString(" ")
    val textB = (100 to 130).map(i => s"w$i").mkString(" ")
    val store = Seq((1L, textA)).toDF("doc_id", "text")
    val delta = Seq(
      (10L, textA),            // exact copy of store doc 1
      (20L, textB), (21L, textB), // fresh near-pair: 21 dups 20 in-delta
      (30L, (200 to 230).map(i => s"u$i").mkString(" "))) // unique
      .toDF("doc_id", "text")
    val storeBuckets = Dedup.minhashBuckets(
      Dedup.minhashSignatures(store, "doc_id", "text", n = 3, numHashes = 12),
      numHashes = 12, bands = 4).localCheckpoint()
    val verdicts = Dedup.minhashMergeDelta(storeBuckets, delta,
      "doc_id", "text", n = 3, numHashes = 12, bands = 4)
    val got = verdicts.collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))))
      .toMap
    assert(got(10L) == ((true, false, false)))
    assert(got(20L) == ((false, false, true)))
    assert(got(21L) == ((false, true, false)))
    assert(got(30L) == ((false, false, true)))
    // store evolution: only kept docs' buckets append (20 and 30)
    val dBuckets = Dedup.minhashBuckets(
      Dedup.minhashSignatures(delta, "doc_id", "text", n = 3, numHashes = 12),
      numHashes = 12, bands = 4)
    val after = Dedup.minhashStoreAppend(storeBuckets, dBuckets, verdicts)
    assert(after.select("doc").distinct().collect().map(_.getLong(0)).toSet ==
      Set(1L, 20L, 30L))
    // delta-sized work claim, structurally: the verdict plan passes
    // the plan census (no CartesianProduct, no unpartitioned window)
    val census = graft.PlanCheck.check("minhash_merge_delta", verdicts)
    assert(census.status == "ok", census)
  }

  test("retractions: negative delta state subtracts; count can reach zero") {
    import spark.implicits._
    val state = Incremental.countSumState(
      Seq(("a", 3L), ("a", 4L), ("b", 1L)).toDF("k", "v"), keys, sums)
    // retract one 'a' row (n=-1, v=-3) and all of 'b'
    val retract = Seq(("a", -1L, -3L), ("b", -1L, -1L)).toDF("k", "n", "v")
    val got = Incremental.merge(state, retract, keys, sums)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map("a" -> ((1L, 4L)), "b" -> ((0L, 0L))))
  }
}
