package graft
package sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[TrainedPlane]] builds a given (dir, key) artifact at most once per
  * JVM and re-hydrates it as a LocalRelation in the CALLER's session —
  * the contract that lets q73/q81/q103/q455 share one training run
  * without coupling their sessions (Verify clones a session per
  * query). A failed build is retryable. (The failure-type test is still
  * in Round13Spec.)
  */
class TrainedPlaneSpec extends AnyFunSuite with SparkSpec {

  test("TrainedPlane memoizes per (dir, key) and rehydrates into the calling session") {
    import spark.implicits._
    graft.sources.TrainedPlane.clear()
    var builds = 0
    def build() = { builds += 1; Seq((1L, Seq(0.5, 0.25))).toDF("cid", "cv") }
    val a = graft.sources.TrainedPlane.memo(spark, "/dirA", "k:x=1")(build())
    val b = graft.sources.TrainedPlane.memo(spark, "/dirA", "k:x=1")(build())
    assert(builds == 1, "same (dir, key) must not rebuild")
    assert(a.collect().toSeq == b.collect().toSeq)
    // a different dir or key is a different artifact
    graft.sources.TrainedPlane.memo(spark, "/dirB", "k:x=1")(build())
    graft.sources.TrainedPlane.memo(spark, "/dirA", "k:x=2")(build())
    assert(builds == 3)
    // the rehydrated frame is a LocalRelation (collected rows), so a
    // blanket unpersist sweep (Bench's inter-query hygiene) can't
    // invalidate it and it broadcasts for free
    assert(a.queryExecution.optimizedPlan.collect {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => 1
    }.nonEmpty)
    graft.sources.TrainedPlane.clear()
  }

  test("TrainedPlane memo contract: build once, rebuild after clear, failures retryable") {
    import spark.implicits._
    sources.TrainedPlane.clear()
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def build() = { builds.incrementAndGet(); Seq((1L, "a"), (2L, "b")).toDF("k", "v") }
    val d1 = sources.TrainedPlane.memo(spark, "/tmp/x", "r12:contract")(build())
    val d2 = sources.TrainedPlane.memo(spark, "/tmp/x", "r12:contract")(build())
    assert(builds.get == 1, "memo hit must NOT rebuild")
    assert(d1.collect().toSeq == d2.collect().toSeq)
    // a different key builds independently
    sources.TrainedPlane.memo(spark, "/tmp/x", "r12:other")(build()): Unit
    assert(builds.get == 2)
    // clear() releases: the next call rebuilds
    val before = sources.TrainedPlane.size()
    assert(before >= 2)
    sources.TrainedPlane.clear()
    assert(sources.TrainedPlane.size() == 0)
    sources.TrainedPlane.memo(spark, "/tmp/x", "r12:contract")(build()): Unit
    assert(builds.get == 3, "clear() must force a rebuild")
    // a FAILED build is not cached — the next caller retries (the
    // round-12 future-claim rewrite removes the compute-lock hazard)
    intercept[RuntimeException] {
      sources.TrainedPlane.memo(spark, "/tmp/x", "r12:boom")(
        throw new RuntimeException("boom"))
    }
    val ok = sources.TrainedPlane.memo(spark, "/tmp/x", "r12:boom")(build())
    assert(ok.count() == 2L && builds.get == 4)
    // NESTED memo (a build that itself memoizes another key) must not
    // deadlock or throw IllegalStateException as computeIfAbsent did
    val nested = sources.TrainedPlane.memo(spark, "/tmp/x", "r12:outer") {
      val inner = sources.TrainedPlane.memo(spark, "/tmp/x", "r12:inner")(build())
      inner.withColumn("w", lit(1L))
    }
    assert(nested.count() == 2L)
    sources.TrainedPlane.clear()
  }
}
