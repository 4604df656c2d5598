package graft

import org.apache.spark.sql.types._

/** Guard against testdata regeneration drift (round-5 incident: the
  * driver regenerated `events.parquet` with `ts` as plain
  * `timestamp[us]` where previous generations used TIMESTAMP(NANOS),
  * and 27 event-table gates failed on one loader line). This spec pins
  * the *normalized* contract of [[Tables.events]] — `ts TIMESTAMP` plus
  * the other five columns — for whatever encoding the current fixture
  * uses, so a future regeneration breaks ONE spec with a clear message
  * instead of every downstream gate.
  */
class TablesSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  test("events loader normalizes ts to TIMESTAMP for the current fixture encoding") {
    assume(new java.io.File(s"$sfDir/events.parquet").exists(),
      s"driver testdata not present at $sfDir")
    val df = Tables.events(spark, sfDir)
    val ts = df.schema("ts")
    assert(ts.dataType == TimestampType,
      s"events.ts normalized to ${ts.dataType}, expected TIMESTAMP — " +
        "the testdata fixture encoding changed; extend Tables.events")
    val cols = df.columns.toSet
    val expected = Set("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(cols == expected, s"events columns drifted: got $cols")
    // the loader must not throw at action time either (lazy analysis
    // errors surface here, not at schema inspection)
    assert(df.limit(5).count() > 0)
  }

  test("driver-owned table contracts the gates depend on (drift tripwire)") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists(),
      s"driver testdata not present at $sfDir")
    val docs = Tables.load(spark, sfDir, "documents")
    assert(Set("doc_id", "text", "lang", "source").subsetOf(docs.columns.toSet),
      s"documents drifted: ${docs.columns.toSet}")
    assert(docs.schema("text").dataType == StringType)
    val emb = Tables.load(spark, sfDir, "embeddings")
    assert(Set("vec_id", "embedding").subsetOf(emb.columns.toSet),
      s"embeddings drifted: ${emb.columns.toSet}")
    // the ANN family quantizes via CAST(embedding[j] AS DOUBLE), which
    // tolerates float OR double elements — but must stay an array
    assert(emb.schema("embedding").dataType.isInstanceOf[ArrayType],
      s"embedding no longer an array: ${emb.schema("embedding").dataType}")
    val li = Tables.load(spark, sfDir, "lineitem")
    assert(Set[DataType](TimestampType, TimestampNTZType, DateType)
      .contains(li.schema("l_shipdate").dataType),
      s"l_shipdate encoding drifted: ${li.schema("l_shipdate").dataType}")
  }

  test("scratchDir takes the first entry of a comma-separated spark.local.dir") {
    // a private session: spark.local.dir is a core conf, settable on a
    // live session only with the legacy core-conf guard lifted
    val s = spark.newSession()
    s.conf.set("spark.sql.legacy.setCommandRejectsSparkCoreConfs", "false")
    s.conf.set("spark.local.dir", "/scratch/a, /scratch/b")
    assert(GraftSession.scratchDir(s) == "/scratch/a")
    s.conf.set("spark.local.dir", "/scratch/only")
    assert(GraftSession.scratchDir(s) == "/scratch/only")
  }

  test("events loader still accepts the legacy nanos-as-long encoding") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_events_legacy").toString
    // 2024-01-01T00:00:00 UTC in nanos, plus one microsecond
    val nanos = 1704067200000000000L + 1000L
    Seq((1L, nanos, 7L, "view", 2.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val df = Tables.events(spark, tmp)
    assert(df.schema("ts").dataType == TimestampType)
    val micros = df.select(org.apache.spark.sql.functions.unix_micros($"ts")).head().getLong(0)
    assert(micros == 1704067200000001L, s"nanos→micros truncation drifted: $micros")
  }
}
