package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Winnowing fingerprints + edit-distance near-dup (Dedup additions). */
class WinnowEditSpec extends AnyFunSuite with SparkSpec {

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("winnowing guarantee: shared token run of >= w+k-1 => shared fingerprint") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(5000)}").mkString(" ")
    // k=5, w=4: any shared substring of >= 8 tokens must yield at least
    // one common selected fingerprint (SIGMOD '03 guarantee)
    val shared = words(8)
    val docs = Seq(
      (1L, words(30) + " " + shared + " " + words(25)),
      (2L, words(40) + " " + shared + " " + words(12)),
      (3L, words(60))).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text").collect()
      .groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
    assert((fps(1L) intersect fps(2L)).nonEmpty)
  }

  test("winnowFingerprints: short docs yield nothing; selection is a hash subset") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val out = Dedup.winnowFingerprints(docs, "doc_id", "text").collect()
    assert(!out.exists(_.getLong(0) == 1L)) // 3 tokens < k
    // doc 2: 10 tokens -> 6 5-gram hashes -> 3 windows of 4; selected
    // minima are a subset of the k-gram hash set and distinct
    val sel = out.filter(_.getLong(0) == 2L).map(_.getLong(1))
    assert(sel.nonEmpty && sel.length <= 3 && sel.distinct.length == sel.length)
  }

  test("editDistancePairs == brute force on a corpus spanning length buckets") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = Seq.tabulate(20)(i => (i.toLong, Seq.fill(8 + rnd.nextInt(30))(
      ('a' + rnd.nextInt(26)).toChar).mkString))
    // add true near-dups: single-char edits of some docs
    val mutated = base.take(6).map { case (i, t) =>
      (100L + i, t.updated(rnd.nextInt(t.length), 'z'))
    }
    val corpus = base ++ mutated
    val df = corpus.toDF("doc_id", "text")
    val maxDist = 3
    val got = Dedup.editDistancePairs(df, "doc_id", "text",
      maxDist = maxDist, bucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = (for {
      (ia, ta) <- corpus; (ib, tb) <- corpus if ia < ib
      d = lev(ta, tb) if d <= maxDist
    } yield (ia, ib, d.toLong)).toSet
    assert(want.nonEmpty && got == want)
  }

  test("editDistancePairs rejects unsound blocking") {
    import spark.implicits._
    val df = Seq((1L, "abc")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.editDistancePairs(df, "doc_id", "text", maxDist = 10, bucket = 4)
    }
  }
}
