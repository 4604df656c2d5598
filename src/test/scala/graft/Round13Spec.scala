package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.ExactPercentiles
import graft.pipeline.Dedup

/** Pins not yet folded into their component specs: the ExactPercentiles
  * hot-group auto-switch, the n-gram pair self-join shape, the q169
  * hashed-token identity, the Dedup restart seam and the TrainedPlane
  * failure type. Each belongs in the spec of the component it pins
  * (ROADMAP item 9).
  */
class Round13Spec extends AnyFunSuite with SparkSpec {

  test("ExactPercentiles: ranged path is bit-identical to the window path") {
    import spark.implicits._
    // deterministic values with heavy ties, NULLs, a hot group, a
    // single-row group, and an all-NULL group
    val rows = (0 until 5000).map { i =>
      val g = if (i % 10 == 0) "cold" else "hot" // 90% of rows in one group
      val v: java.lang.Double =
        if (i % 37 == 0) null
        else math.floor((i * 2654435761L % 997).toDouble / 3.0)
      (g, v)
    } ++ Seq(("solo", java.lang.Double.valueOf(42.0)),
      ("allnull", null.asInstanceOf[java.lang.Double]),
      ("allnull", null.asInstanceOf[java.lang.Double]))
    val df = rows.toDF("g", "v").repartition(7)
    val ps = Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)
    val win = ExactPercentiles.exact(df, Seq("g"), "v", ps,
      maxGroupRows = Long.MaxValue).orderBy("g").collect().toSeq.map(_.toSeq)
    assert(ExactPercentiles.lastPath == "window-small")
    val ranged = ExactPercentiles.exact(df, Seq("g"), "v", ps,
      maxGroupRows = 1).orderBy("g").collect().toSeq.map(_.toSeq)
    assert(ExactPercentiles.lastPath == "ranged",
      "maxGroupRows=1 must drive the probe to the ranged path")
    assert(ranged == win, "ranged and window percentiles must be bit-identical")
    assert(win.size == 4) // hot, cold, solo, allnull all present
    val allnull = win.find(_.head == "allnull").get
    assert(allnull.tail.forall(_ == null), "all-NULL group keeps NULL percentiles")
    // and against Spark's own percentile (the bit-identity contract),
    // non-null groups only (built-in emits no row for them here)
    val builtin = df.filter(col("v").isNotNull).groupBy("g")
      .agg(expr("percentile(v, 0.25)").as("p25"),
        expr("percentile(v, 0.5)").as("p50"),
        expr("percentile(v, 0.9)").as("p90"),
        expr("percentile(v, 0.99)").as("p99"))
      .orderBy("g").collect().toSeq.map(_.toSeq)
    assert(win.filter(_.head != "allnull") == builtin)
  }

  test("ExactPercentiles: probe fires only above the bound; hot group switches") {
    import spark.implicits._
    val df = (0 until 1000).map(i => ("g", i.toDouble)).toDF("g", "v")
    // bound above the group size: probe resolves back to the window path
    ExactPercentiles.exact(df, Seq("g"), "v", Seq("p50" -> 0.5),
      maxGroupRows = 2000).collect(): Unit
    assert(Set("window-small", "window-probed").contains(ExactPercentiles.lastPath))
    // bound below: ranged
    ExactPercentiles.exact(df, Seq("g"), "v", Seq("p50" -> 0.5),
      maxGroupRows = 999).collect(): Unit
    assert(ExactPercentiles.lastPath == "ranged")
  }

  test("ngramJaccardPairs: pair generation is a reused-exchange sort-merge self-join") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g x"),
      (3L, "a b c d e f g h"), // exact dup of 1
      (4L, "z y x w v u t s")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, minJaccard = 0.5)
    val plan = pairs.queryExecution.executedPlan.toString
    // the join NODE keyed on the shingle hash must be the sort-merge —
    // the earlier `contains("SortMergeJoin")` alone could be satisfied
    // by some other join while the pair join silently broadcast
    assert(plan.linesIterator.exists(l =>
        l.contains("SortMergeJoin") && l.contains("[h#")),
      "pair generation must be a sort-merge join on the shingle hash " +
        "(spills, never hot-bucket arrays)")
    assert(!plan.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("[h#")),
      "pair join on the shingle hash must never be a broadcast")
    val got = pairs.orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // docs 1/3 identical (J=1.0); 1-2 and 2-3 share 5 of 7 shingles
    // (J = 5/(6+6-5) = 0.7143); doc 4 disjoint
    assert(got == Seq((1L, 2L, 0.7143), (1L, 3L, 1.0), (2L, 3L, 0.7143)))
  }

  test("q169 identity: hashed-token inter/uni equal string-token inter/uni") {
    import spark.implicits._
    // adversarial: shared tokens, distinct counts, duplicate tokens
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on a mat"),
      (3L, "completely different words here"),
      (4L, "the the the cat cat mat")
    ).toDF("doc_id", "text")
    val hashed = docs.select(col("doc_id"),
      expr("array_sort(array_distinct(transform(split(text, ' '), t -> xxhash64(t))))").as("h"),
      expr("array_sort(array_distinct(split(text, ' ')))").as("s"))
    val pairs = hashed.as("a").join(hashed.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(
        org.apache.spark.sql.graft.ArrayFunctions
          .sortedIntersectSizeLong(col("a.h"), col("b.h")).as("ih"),
        org.apache.spark.sql.graft.ArrayFunctions
          .sortedIntersectSize(col("a.s"), col("b.s")).as("is"),
        (size(col("a.h")) === size(col("a.s"))).as("na_eq"),
        (size(col("b.h")) === size(col("b.s"))).as("nb_eq"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), "hashed intersect == string intersect")
      assert(r.getBoolean(2) && r.getBoolean(3), "hashed sizes == string sizes")
    }
  }

  test("restart pin: a parquet round-trip through a FRESH session screens identically") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "alpha beta gamma delta epsilon zeta eta"), // dup of 1
      (10L, "alpha beta gamma delta epsilon zeta eta"), // delta dup of store
      (20L, "one two three four five six seven"),
      (30L, "one two three four five six seven"), // delta dup of delta 20
      (40L, "totally novel content nothing shared here")
    ).toDF("doc_id", "text")
    val store = docs.filter(col("doc_id") < 10)
    val delta = docs.filter(col("doc_id") >= 10)
    val dir = java.nio.file.Files.createTempDirectory("graft_restart").toFile
    try {
      val buckets = Dedup.minhashBuckets(
        Dedup.minhashSignatures(store, "doc_id", "text", n = 3, numHashes = 12),
        numHashes = 12, bands = 4)
      buckets.write.mode("overwrite").parquet(s"$dir/store")
      // single-session verdicts (no round-trip)
      val direct = Dedup.minhashMergeDelta(buckets, delta, "doc_id", "text",
        n = 3, numHashes = 12, bands = 4).orderBy("doc").collect().toSeq
      // fresh session: only the parquet bytes cross the seam
      val s2 = spark.newSession()
      val rt = Dedup.minhashMergeDelta(
        s2.read.parquet(s"$dir/store"),
        s2.createDataFrame(java.util.Arrays.asList(delta.collect(): _*),
          delta.schema),
        "doc_id", "text", n = 3, numHashes = 12, bands = 4)
        .orderBy("doc").collect().toSeq
      assert(rt == direct, "round-tripped store must screen identically")
      val kept = direct.filter(_.getAs[Boolean]("kept")).map(_.getLong(0))
      assert(kept.contains(40L) && !kept.contains(10L) && !kept.contains(30L))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("TrainedPlane: build failure surfaces with its ORIGINAL exception type") {
    sources.TrainedPlane.clear()
    class Boom extends RuntimeException("boom")
    val e = intercept[Boom] {
      sources.TrainedPlane.memo(spark, "/tmp/x", "boomtype")(throw new Boom)
    }
    assert(e.getMessage == "boom")
    sources.TrainedPlane.clear()
  }
}
