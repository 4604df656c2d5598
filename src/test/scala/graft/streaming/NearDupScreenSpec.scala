package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.pipeline.Dedup

/** Dedup-at-ingest: the stateless per-row minhash path and the
  * stream-static bucket screen.
  */
class NearDupScreenSpec extends AnyFunSuite with SparkSpec {

  private def corpus = {
    import spark.implicits._
    Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (101L, "completely different words about spark query engines and data processing"),
    ).toDF("doc_id", "text")
  }

  test("per-row signatures equal the batch explode+groupBy signatures") {
    import spark.implicits._
    val docs = corpus.unionByName(
      Seq((102L, "short text only")).toDF("doc_id", "text"))
    val batch = Dedup.minhashSignatures(docs, "doc_id", "text", n = 3, numHashes = 12)
      .collect().map(r => r.getLong(0) -> (1 to 12).map(r.getLong)).toMap
    val perRow = Dedup.withMinhashSignature(docs, "doc_id", "text", n = 3, numHashes = 12)
      .collect().map(r => r.getLong(0) -> (1 to 12).map(r.getLong)).toMap
    assert(batch == perRow)
  }

  test("nearDupScreen flags a streaming near-dup against the static corpus") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val incoming = mem.toDF().toDF("doc_id", "text")
    val q = Dedup.nearDupScreen(incoming, corpus, "doc_id", "text")
      .writeStream.format("memory").queryName("screen")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2L, "nothing in common with anything stored so far whatsoever believe me"))
      q.processAllAvailable()
      val hits = spark.table("screen").collect()
        .map(r => (r.getLong(0), r.getLong(1))).distinct
      assert(hits.contains((1L, 100L))) // exact dup of corpus doc 100
      assert(!hits.exists(_._1 == 2L)) // novel doc passes
    } finally q.stop()
  }
}
