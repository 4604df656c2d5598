package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

class EventStreamsSpec extends AnyFunSuite with SparkSpec {

  private def ts(min: Int) = new java.sql.Timestamp(min * 60000L)

  test("windowedTypeCounts aggregates a real stream incrementally") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.windowedTypeCounts(df, window = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      mem.addData((ts(1), "click", 1.0), (ts(2), "click", 2.0), (ts(11), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(rows.toSet == Set((0L, "click", 2L, 3.0), (10L, "view", 1L, 5.0)))
      // late-but-inside-watermark data still lands in its window
      mem.addData((ts(8), "click", 4.0))
      q.processAllAvailable()
      val rows2 = spark.table("win_counts").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2)))
      assert(rows2.contains((0L, "click", 3L)))
    } finally q.stop()
  }

  test("sessionize closes a session on gap and keeps the open one in state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionize(mem.toDS(), gapSeconds = 600)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // user 1: two events 5 min apart (one session), then 20 min gap
      mem.addData(
        EventStreams.Event(1, ts(0), 1, "a", 0),
        EventStreams.Event(2, ts(5), 1, "a", 0),
        EventStreams.Event(3, ts(30), 1, "a", 0))
      q.processAllAvailable()
      val closed = spark.table("sessions").as[EventStreams.SessionOut].collect()
      assert(closed.length == 1)
      assert(closed.head.n_events == 2 && closed.head.session_start == 0)
      assert(closed.head.session_end == 300)
    } finally q.stop()
  }

  test("cusumStream carries state across micro-batches; equals the batch fold") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.cusumStream(mem.toDS(), targetCents = 500L)
      .toDF().writeStream.format("memory").queryName("cusum_s")
      .outputMode("append").start()
    try {
      // batch 1: v=7,3 (cents 700,300): s=200, then max(0,200-200)=0
      mem.addData(EventStreams.Event(1, ts(0), 1, "a", 7.0),
        EventStreams.Event(2, ts(1), 1, "a", 3.0))
      q.processAllAvailable()
      // batch 2 continues THE SAME user's state: v=9: s=0+900-500=400
      mem.addData(EventStreams.Event(3, ts(2), 1, "a", 9.0))
      q.processAllAvailable()
      val got = spark.table("cusum_s").as[EventStreams.CusumOut].collect()
        .map(o => o.event_id -> o.cusum).toMap
      assert(got == Map(1L -> 200L, 2L -> 0L, 3L -> 400L))
    } finally q.stop()
  }

  test("distinctTypesStream (transformWithState) carries MapState across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[EventStreams.Event]
      val q = EventStreams.distinctTypesStream(mem.toDS())
        .toDF().writeStream.format("memory").queryName("tws_types")
        .outputMode("append").start()
      try {
        // batch 1: types a, a, b → counts 1, 1, 2
        mem.addData(EventStreams.Event(1, ts(0), 1, "a", 0.0),
          EventStreams.Event(2, ts(1), 1, "a", 0.0),
          EventStreams.Event(3, ts(2), 1, "b", 0.0))
        q.processAllAvailable()
        // batch 2: the SAME user's map state persists — a repeat stays
        // 2, a new type bumps to 3; a different user starts at 1
        mem.addData(EventStreams.Event(4, ts(3), 1, "b", 0.0),
          EventStreams.Event(5, ts(4), 1, "c", 0.0),
          EventStreams.Event(6, ts(4), 2, "a", 0.0))
        q.processAllAvailable()
        val got = spark.table("tws_types").as[EventStreams.DistinctTypesOut]
          .collect().map(o => o.event_id -> o.n_types).toMap
        assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L,
          4L -> 2L, 5L -> 3L, 6L -> 1L))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("timerSessionStream closes an idle session by watermark-fired timer") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ev(id: Long, min: Int, user: Long) =
        EventStreams.TsEvent(id, ts(min), user, min * 60000000L)
      val mem = MemoryStream[EventStreams.TsEvent]
      val q = EventStreams.timerSessionStream(mem.toDS(), gapSeconds = 600,
          watermark = "1 minute")
        .toDF().writeStream.format("memory").queryName("tws_timer")
        .outputMode("append").start()
      try {
        // user 1 has two in-gap events and then goes idle — no closing
        // event ever arrives for them
        mem.addData(ev(1, 10, 1), ev(2, 15, 1))
        q.processAllAvailable()
        assert(spark.table("tws_timer").count() == 0) // still open
        // an unrelated user's far-future event advances the watermark
        // (60 - 1 > 15 + 10); the NEXT batch fires user 1's timer
        mem.addData(ev(3, 60, 2))
        q.processAllAvailable()
        mem.addData(ev(4, 61, 2))
        q.processAllAvailable()
        val got = spark.table("tws_timer").as[EventStreams.TimerSessionOut]
          .collect().filter(_.user_id == 1L)
        assert(got.toSeq == Seq(EventStreams.TimerSessionOut(
          1L, 10 * 60000000L, 15 * 60000000L, 2L)))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("timerSessionStream: a cross-batch late event cannot regress session_end") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ev(id: Long, min: Int, user: Long) =
        EventStreams.TsEvent(id, ts(min), user, min * 60000000L)
      val mem = MemoryStream[EventStreams.TsEvent]
      val q = EventStreams.timerSessionStream(mem.toDS(), gapSeconds = 600,
          watermark = "20 minutes")
        .toDF().writeStream.format("memory").queryName("tws_timer_late")
        .outputMode("append").start()
      try {
        mem.addData(ev(1, 10, 1), ev(2, 15, 1))
        q.processAllAvailable()
        // a LATE event in the NEXT batch — allowed by the 20-min
        // watermark, inside the 10-min gap, but with tu < the session's
        // current last (min 12 < 15). Pre-fix this regressed `last` to
        // 12 and re-armed the timer early; it must instead only bump n.
        mem.addData(ev(3, 12, 1))
        q.processAllAvailable()
        // advance the watermark far enough to fire user 1's timer
        mem.addData(ev(4, 60, 2))
        q.processAllAvailable()
        mem.addData(ev(5, 61, 2))
        q.processAllAvailable()
        val got = spark.table("tws_timer_late").as[EventStreams.TimerSessionOut]
          .collect().filter(_.user_id == 1L)
        assert(got.toSeq == Seq(EventStreams.TimerSessionOut(
          1L, 10 * 60000000L, 15 * 60000000L, 3L)))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("rolling3Stream: a cross-batch late event lands in event-time position") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // tu carries the summed VALUE; event time is ts
      def ev(id: Long, min: Int, v: Long) =
        EventStreams.TsEvent(id, ts(min), 1L, v)
      val mem = MemoryStream[EventStreams.TsEvent]
      val q = EventStreams.rolling3Stream(mem.toDS())
        .toDF().writeStream.format("memory").queryName("tws_roll_late")
        .outputMode("append").start()
      try {
        mem.addData(ev(1, 10, 100L), ev(2, 20, 200L))
        q.processAllAvailable()
        // LATE event (min 15) arrives in the NEXT batch: it must
        // INSERT between the two seen events, not append after them
        mem.addData(ev(3, 15, 50L))
        q.processAllAvailable()
        // the next in-order event's window must be the BATCH answer
        // {15,20,30} = 50+200+400, not the arrival-order {20,15,30}
        // which a value-list state would also give here — and the
        // window after that must slide out min 15, not min 20
        mem.addData(ev(4, 30, 400L))
        q.processAllAvailable()
        mem.addData(ev(5, 40, 800L))
        q.processAllAvailable()
        val got = spark.table("tws_roll_late").as[EventStreams.Rolling3Out]
          .collect().map(o => o.event_id -> o.sum_last3).toMap
        assert(got(3L) == 150L)  // the late event's own window {10,15} — the batch answer
        assert(got(4L) == 650L)  // {15,20,30} = 50+200+400
        assert(got(5L) == 1400L) // {20,30,40} = 200+400+800
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("dedupStream drops exact duplicate keys within the watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("ts", "fp")
    val q = EventStreams.dedupStream(df, Seq("fp"), watermark = "10 minutes")
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    try {
      mem.addData((ts(1), "k1"), (ts(1), "k1"), (ts(2), "k2"))
      q.processAllAvailable()
      assert(spark.table("deduped").count() == 2)
    } finally q.stop()
  }

  test("stream-stream join matches within the time bound only") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val buys = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val cdf = clicks.toDF().toDF("user_id", "ts", "event_id")
    val bdf = buys.toDF().toDF("user_id", "ts", "event_id")
    val q = EventStreams.streamStreamJoin(cdf, bdf, "user_id", withinSeconds = 300)
      .writeStream.format("memory").queryName("ssjoin").outputMode("append").start()
    try {
      // away from epoch: Spark's initial watermark is 0, and rows at
      // or below the watermark are dropped as late
      clicks.addData((1L, ts(100), 100L), (2L, ts(100), 101L))
      buys.addData((1L, ts(102), 200L), // within 5 min of click 100
        (2L, ts(120), 201L)) // 20 min later: outside
      q.processAllAvailable()
      val got = spark.table("ssjoin").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((1L, 100L, 200L)))
    } finally q.stop()
  }

  test("stream-stream full-outer join emits both unmatched directions after watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val buys = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val cdf = clicks.toDF().toDF("user_id", "ts", "event_id")
    val bdf = buys.toDF().toDF("user_id", "ts", "event_id")
    val q = EventStreams.streamStreamFullOuterJoin(cdf, bdf, "user_id",
      withinSeconds = 300, watermark = "10 minutes")
      .writeStream.format("memory").queryName("fsjoin").outputMode("append").start()
    try {
      clicks.addData((1L, ts(100), 100L), (2L, ts(100), 101L))
      buys.addData((1L, ts(102), 200L), // matches click 100
        (3L, ts(102), 201L)) // right-only user: must null-extend left
      q.processAllAvailable()
      // push the watermark far past every row's expiry on both sides,
      // then one more batch to force the eviction that emits outers
      Seq(1, 2).foreach { r =>
        clicks.addData((99L, ts(2000 + r * 100), 900L + r))
        buys.addData((99L, ts(2000 + r * 100), 950L + r))
        q.processAllAvailable()
      }
      val got = spark.table("fsjoin").filter($"k" < 90).collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(got == Set(
        (1L, 100L, 200L), // matched pair
        (2L, 101L, -1L),  // left-only click
        (3L, -1L, 201L))) // right-only buy
    } finally q.stop()
  }

  test("stream-static enrich: stateless broadcast join, null-extended misses") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val stream = mem.toDF().toDF("event_id", "user_id")
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val q = EventStreams.streamStaticEnrich(stream, dim, "user_id")
      .writeStream.format("memory").queryName("enrich")
      .outputMode("append").start()
    try {
      mem.addData((10L, 1L), (11L, 3L)) // user 3 not in dim
      q.processAllAvailable()
      mem.addData((12L, 2L)) // second batch re-joins the dim
      q.processAllAvailable()
      val got = spark.table("enrich").collect().map { r =>
        val t = r.fieldIndex("tier")
        (r.getLong(r.fieldIndex("user_id")), r.getLong(r.fieldIndex("event_id")),
          if (r.isNullAt(t)) "-" else r.getString(t))
      }.toSet
      assert(got == Set((1L, 10L, "gold"), (3L, 11L, "-"), (2L, 12L, "silver")))
    } finally q.stop()
  }

  test("the same transform runs in batch mode (unified API)") {
    import spark.implicits._
    val batch = Seq((ts(1), "click", 1.0), (ts(2), "click", 2.0))
      .toDF("ts", "event_type", "value")
    val out = EventStreams.windowedTypeCounts(batch, "10 minutes").collect()
    assert(out.length == 1 && out.head.getLong(2) == 2)
  }
}
