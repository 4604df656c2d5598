package graft
package sources

import org.scalatest.funsuite.AnyFunSuite

/** [[EdgePlane]]: the materialized edge sets equal the inline builds
  * they replaced, and the cache fingerprint follows the input content
  * and fails loudly on a missing table.
  */
class EdgePlaneSpec extends AnyFunSuite with SparkSpec {

  test("EdgePlane materializations equal the inline builds they replaced") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    // co-purchase: distinct oriented (p < q) pairs from lineitem
    val li = Tables.load(spark, dir, "lineitem")
    val po = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    val inline = po.join(po.withColumnsRenamed(Map("p" -> "q")), Seq("ok"))
      .filter(col("p") < col("q")).select("p", "q").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plane = graft.sources.EdgePlane.coPurchase(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plane == inline, "co-purchase plane drifted from the inline build")
    // LSH pairs: the canonical n=3 / 12 hashes / 4 bands candidates
    val docs = Tables.load(spark, dir, "documents")
    val inlineLsh = pipeline.Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, numHashes = 12, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planeLsh = graft.sources.EdgePlane.lshPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planeLsh == inlineLsh, "LSH pair plane drifted from the inline build")
  }

  test("EdgePlane fingerprint: content change or distinct root changes the cache dir") {
    val root1 = java.nio.file.Files.createTempDirectory("r12fp_a").toFile
    val root2 = java.nio.file.Files.createTempDirectory("r12fp_b").toFile
    def mk(root: java.io.File, bytes: Array[Byte]): Unit = {
      val f = new java.io.File(root, "lineitem.parquet")
      java.nio.file.Files.write(f.toPath, bytes): Unit
    }
    mk(root1, Array[Byte](1, 2, 3)); mk(root2, Array[Byte](1, 2, 3))
    val fp1 = sources.EdgePlane.fingerprint(root1.getPath, Seq("lineitem.parquet"))
    val fp1b = sources.EdgePlane.fingerprint(root1.getPath, Seq("lineitem.parquet"))
    assert(fp1 == fp1b, "fingerprint must be stable for unchanged content")
    // same basename-shaped content under a DIFFERENT root → different
    // fingerprint (the canonical path is part of the key)
    val fp2 = sources.EdgePlane.fingerprint(root2.getPath, Seq("lineitem.parquet"))
    assert(fp1 != fp2)
    // content growth under the SAME root → different fingerprint
    mk(root1, Array[Byte](1, 2, 3, 4))
    val fp1c = sources.EdgePlane.fingerprint(root1.getPath, Seq("lineitem.parquet"))
    assert(fp1 != fp1c)
  }

  test("EdgePlane fingerprint fails loudly on a missing table") {
    val root = java.nio.file.Files.createTempDirectory("graft_fp_missing").toFile
    val e = intercept[IllegalArgumentException] {
      EdgePlane.fingerprint(root.getPath, Seq("nope.parquet"))
    }
    assert(e.getMessage.contains("nope.parquet"))
    // nested partition dirs contribute (recursive walk)
    val sub = new java.io.File(root, "t.parquet/part=0")
    assert(sub.mkdirs())
    java.nio.file.Files.write(new java.io.File(sub, "f1").toPath, Array[Byte](1))
    val fp1 = EdgePlane.fingerprint(root.getPath, Seq("t.parquet"))
    java.nio.file.Files.write(new java.io.File(sub, "f2").toPath, Array[Byte](2))
    val fp2 = EdgePlane.fingerprint(root.getPath, Seq("t.parquet"))
    assert(fp1 != fp2, "a new nested file must change the fingerprint")
  }
}
