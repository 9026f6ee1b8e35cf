package graft

import java.sql.Timestamp

import graft.streaming.StreamOps
import graft.streaming.StreamOps._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** MemoryStream-driven checks of the Structured Streaming operators —
  * state must survive across micro-batches, timeouts must fire, the
  * interval join must bound its state with watermarks. */
class StreamingSpec extends SparkSpec {

  // base offset of 1 day: an event at exactly epoch 0 is dropped by the
  // late-row filter (ts > initial watermark 0), which is an artifact of
  // synthetic test times, not operator behavior
  private def ts(minutes: Long): Timestamp = new Timestamp((24 * 60 + minutes) * 60 * 1000)

  private def runBatches[T](name: String)(build: MemoryStream[Evt] => org.apache.spark.sql.Dataset[T])(
    batches: Seq[Seq[Evt]]): Array[org.apache.spark.sql.Row] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val q = build(input).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      spark.table(name).collect()
    } finally q.stop()
  }

  test("sequenceCountStream: out-of-order arrivals match the batch greedy matcher") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val q = StreamOps.sequenceCountStream(input.toDS())
      .writeStream.format("memory").queryName("seqc")
      .outputMode("append").start()
    try {
      // user 1's purchase at t=2 ARRIVES before its matching view at
      // t=1 (same batch, reversed); user 2's view arrives a batch
      // EARLIER than a purchase that event-time-precedes it — the
      // buffer must reorder both before matching
      input.addData(Seq(
        Evt(12, 1, "purchase", 1.0, ts(2)), Evt(11, 1, "view", 0, ts(1)),
        Evt(22, 2, "view", 0, ts(5))))
      q.processAllAvailable()
      input.addData(Seq(
        Evt(21, 2, "purchase", 1.0, ts(4)),   // before user 2's view!
        Evt(23, 2, "purchase", 1.0, ts(6)),   // after it -> matches
        Evt(13, 1, "view", 0, ts(7)), Evt(14, 1, "purchase", 1.0, ts(8))))
      q.processAllAvailable()
      // ripen everything
      input.addData(Seq(Evt(99, 9, "view", 0, ts(120))))
      q.processAllAvailable()
      val got = spark.table("seqc").collect()
        .groupBy(_.getLong(0)).map { case (u, rows) =>
          u -> rows.map(_.getLong(1)).max }
      // user 1: v@1 p@2 v@7 p@8 -> 2; user 2: p@4 v@5 p@6 -> 1
      assert(got === Map(1L -> 2L, 2L -> 1L))
      // batch equivalence on the same event set
      val d = java.nio.file.Files.createTempDirectory("graft-seqc").toFile.getAbsolutePath
      Seq(
        (11L, ts(1), 1L, "view", 0.0, """{"k":1}"""),
        (12L, ts(2), 1L, "purchase", 1.0, """{"k":1}"""),
        (13L, ts(7), 1L, "view", 0.0, """{"k":1}"""),
        (14L, ts(8), 1L, "purchase", 1.0, """{"k":1}"""),
        (21L, ts(4), 2L, "purchase", 1.0, """{"k":1}"""),
        (22L, ts(5), 2L, "view", 0.0, """{"k":1}"""),
        (23L, ts(6), 2L, "purchase", 1.0, """{"k":1}"""),
        (99L, ts(120), 9L, "view", 0.0, """{"k":1}"""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$d/events.parquet")
      val batch = graft.operators.EventAnalytics.sequenceCount(spark, d)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // histogram: conversions -> users; stream totals fold to the same
      assert(batch === Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
    } finally q.stop()
  }

  test("route tags streams like the batch splitter") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val q = StreamOps.route(input.toDF()).writeStream.format("memory")
      .queryName("route_out").outputMode("append").start()
    try {
      input.addData(Seq(
        Evt(1, 1, "view", 1.0, ts(1)), Evt(2, 1, "signup", 1.0, ts(2)),
        Evt(3, 2, "purchase", 1.0, ts(3)), Evt(4, 2, "click", 1.0, ts(4))))
      q.processAllAvailable()
      val got = spark.table("route_out").select("event_id", "stream").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === Map(1L -> "page", 2L -> "start", 3L -> "other", 4L -> "page"))
    } finally q.stop()
  }

  test("newUserFlag state survives micro-batches") {
    val rows = runBatches("nuf")(in => StreamOps.newUserFlag(in.toDS()))(Seq(
      Seq(Evt(1, 7, "view", 0, ts(1)), Evt(2, 7, "view", 0, ts(2)), Evt(3, 8, "view", 0, ts(3))),
      Seq(Evt(4, 7, "view", 0, ts(10)), Evt(5, 9, "view", 0, ts(11)))))
    val flags = rows.map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(flags === Map(1L -> 1, 2L -> 0, 3L -> 1, 4L -> 0, 5L -> 1))
  }

  test("uniqueVisit emits first event per user-day across batches") {
    val day0 = ts(10)               // 1970-01-02
    val day1 = ts(24 * 60 + 10)     // 1970-01-03
    val rows = runBatches("uv")(in => StreamOps.uniqueVisit(in.toDS()))(Seq(
      Seq(Evt(1, 7, "view", 0, day0), Evt(2, 7, "view", 0, ts(20))),
      Seq(Evt(3, 7, "view", 0, ts(30)), Evt(4, 7, "view", 0, day1))))
    val visits = rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(visits.toSet === Set((7L, "1970-01-02", 1L), (7L, "1970-01-03", 4L)))
  }

  /** Runs `f` on the RocksDB state store, the analogue of the
    * reference's Flink state backend: the "on the RocksDB state store"
    * tests re-run the stateful mirrors' scenarios on it and assert the
    * same verdicts as on the default provider. */
  private def withRocksDb(f: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("newUserFlag on the RocksDB state store: state survives micro-batches") {
    withRocksDb {
      val rows = runBatches("nuf2")(in => StreamOps.newUserFlag(in.toDS()))(Seq(
        Seq(Evt(1, 7, "view", 0, ts(1)), Evt(2, 7, "view", 0, ts(2)), Evt(3, 8, "view", 0, ts(3))),
        Seq(Evt(4, 7, "view", 0, ts(10)), Evt(5, 9, "view", 0, ts(11)))))
      val flags = rows.map(r => r.getLong(0) -> r.getInt(2)).toMap
      assert(flags === Map(1L -> 1, 2L -> 0, 3L -> 1, 4L -> 0, 5L -> 1))
    }
  }

  test("uniqueVisit on the RocksDB state store: first visit per user-day, TTL dedup") {
    withRocksDb {
      // first-visit emission across batches (the default-provider test's data)
      val day0 = ts(10)
      val day1 = ts(24 * 60 + 10)
      val rows = runBatches("uv2")(in => StreamOps.uniqueVisit(in.toDS()))(Seq(
        Seq(Evt(1, 7, "view", 0, day0), Evt(2, 7, "view", 0, ts(20))),
        Seq(Evt(3, 7, "view", 0, ts(30)), Evt(4, 7, "view", 0, day1))))
      val visits = rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(visits.toSet === Set((7L, "1970-01-02", 1L), (7L, "1970-01-03", 4L)))
      // in-horizon late cross-day dedup (the TTL test's data)
      val rows2 = runBatches("uvttl3")(in => StreamOps.uniqueVisit(in.toDS()))(Seq(
        Seq(Evt(1, 7, "view", 0, day0)),
        Seq(Evt(2, 7, "view", 0, day1)),
        Seq(Evt(3, 7, "view", 0, ts(120)))))
      assert(rows2.map(r => (r.getString(1), r.getLong(2))).toSet ===
        Set(("1970-01-02", 1L), ("1970-01-03", 2L)))
    }
  }

  test("jumpDetect on the RocksDB state store: isolated and timed-out events are jumps") {
    withRocksDb {
      val batches = Seq(
        Seq(Evt(1, 7, "view", 0, ts(0)), Evt(10, 8, "view", 0, ts(1))),
        Seq(Evt(2, 7, "view", 0, ts(20)), Evt(3, 7, "view", 0, ts(21))),
        Seq(Evt(99, 999, "view", 0, ts(10000))),
        Seq(Evt(100, 999, "view", 0, ts(10001))))
      val rows = runBatches("jump2")(in => StreamOps.jumpDetect(in.toDS()))(batches)
      val ids = rows.map(_.getLong(0)).toSet
      assert(ids.contains(1L), "isolated first event must be a jump")
      assert(ids.contains(10L), "lone event must be confirmed via the event-time timeout")
      assert(!ids.contains(2L) && !ids.contains(3L), "clustered events are not jumps")
    }
  }

  test("uniqueVisit TTL: late cross-day events inside the horizon stay deduped") {
    val day0a = ts(10)
    val day1 = ts(24 * 60 + 10)
    val day0b = ts(120) // same calendar day as day0a, arrives after day1
    val rows = runBatches("uvttl")(in => StreamOps.uniqueVisit(in.toDS()))(Seq(
      Seq(Evt(1, 7, "view", 0, day0a)),
      Seq(Evt(2, 7, "view", 0, day1)),
      Seq(Evt(3, 7, "view", 0, day0b))))
    val visits = rows.map(r => (r.getString(1), r.getLong(2))).toSet
    // day0 is within the 1-day lateness horizon of day1, so it is
    // still in state and e3 must NOT re-emit a duplicate first visit
    assert(visits === Set(("1970-01-02", 1L), ("1970-01-03", 2L)))
  }

  test("uniqueVisit TTL: days beyond the horizon expire (reference 1-day TTL)") {
    val day0 = ts(10)
    val day5 = ts(5 * 24 * 60 + 10)
    val day0late = ts(120)
    val rows = runBatches("uvttl2")(in => StreamOps.uniqueVisit(in.toDS()))(Seq(
      Seq(Evt(1, 7, "view", 0, day0)),
      Seq(Evt(2, 7, "view", 0, day5)),
      Seq(Evt(3, 7, "view", 0, day0late))))
    val visits = rows.map(r => (r.getString(1), r.getLong(2))).toSet
    // day0 fell out of the bounded state (4 days beyond the horizon),
    // so the very-late e3 re-emits — the reference's TTL firing; such
    // an event is past the upstream watermark anyway
    assert(visits === Set(("1970-01-02", 1L), ("1970-01-07", 2L), ("1970-01-02", 3L)))
  }

  test("jumpDetect confirms isolated events and uses timeout for the tail") {
    // user 7: e1 isolated (next is 20 min later), e2+e3 close together
    // (not jumps), then nothing → e3 is NOT isolated (e2 is 1 min
    // before); user 8: single event confirmed by watermark timeout.
    val batches = Seq(
      Seq(Evt(1, 7, "view", 0, ts(0)), Evt(10, 8, "view", 0, ts(1))),
      Seq(Evt(2, 7, "view", 0, ts(20)), Evt(3, 7, "view", 0, ts(21))),
      // sentinel far in the future advances the watermark past all timeouts
      Seq(Evt(99, 999, "view", 0, ts(10000))),
      Seq(Evt(100, 999, "view", 0, ts(10001))))
    val rows = runBatches("jump")(in => StreamOps.jumpDetect(in.toDS()))(batches)
    val ids = rows.map(_.getLong(0)).toSet
    assert(ids.contains(1L), "isolated first event must be a jump")
    assert(ids.contains(10L), "lone event must be confirmed via timeout")
    assert(!ids.contains(2L) && !ids.contains(3L), "clustered events are not jumps")
  }

  test("dimEnrich joins each micro-batch against the static dim, keeping dim-less rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((7L, "gold"), (8L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[Evt]
    val q = StreamOps.dimEnrich(input.toDF(), dim, "user_id")
      .select("event_id", "user_id", "tier")
      .writeStream.format("memory").queryName("dimenrich")
      .outputMode("append").start()
    try {
      input.addData(Seq(Evt(1, 7, "view", 0, ts(1)), Evt(2, 9, "view", 0, ts(2))))
      q.processAllAvailable()
      input.addData(Seq(Evt(3, 8, "view", 0, ts(3))))
      q.processAllAvailable()
      val got = spark.table("dimenrich").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(2)) "-" else r.getString(2))).toMap
      // user 9 has no dim row: the left join keeps the fact record
      // (DimAsyncFunction's timeout branch keeps it too)
      assert(got === Map(1L -> "gold", 2L -> "-", 3L -> "silver"))
    } finally q.stop()
  }

  test("dedupWithinWatermark drops redelivered events across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val q = StreamOps.dedupWithinWatermark(input.toDF()).writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      input.addData(Seq(Evt(1, 7, "view", 0, ts(1)), Evt(2, 7, "view", 0, ts(2))))
      q.processAllAvailable()
      // redelivery of event 1 in a later micro-batch within the watermark
      input.addData(Seq(Evt(1, 7, "view", 0, ts(1)), Evt(3, 8, "view", 0, ts(3))))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("visitorStats windows and aggregates with a watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val q = StreamOps.visitorStats(input.toDF()).writeStream.format("memory")
      .queryName("vs").outputMode("append").start()
    try {
      input.addData(Seq(
        Evt(1, 1, "view", 10.0, ts(5)), Evt(2, 1, "click", 20.0, ts(10)),
        Evt(3, 11, "signup", 5.0, ts(15))))
      q.processAllAvailable()
      // advance watermark past the first hour window so it closes
      input.addData(Seq(Evt(4, 2, "view", 1.0, ts(200))))
      q.processAllAvailable()
      val rows = spark.table("vs").collect()
      val w0 = rows.filter(_.getString(0) == "1970-01-02 00:00:00")
      // users 1 and 11 both hash to channel 1 → a single row for window 0
      assert(w0.length === 1)
      val ch1 = w0.map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(ch1 === Set((1L, 2L, 3L))) // ch=1: pv=2, total events=3
    } finally q.stop()
  }

  test("visitorStatsHop lands each event in both sliding windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val q = StreamOps.visitorStatsHop(input.toDF()).writeStream.format("memory")
      .queryName("vsh").outputMode("append").start()
    try {
      // 01:30 (day 2) sits in windows [00:00, 02:00) and [01:00, 03:00)
      input.addData(Seq(Evt(1, 1, "view", 10.0, ts(90))))
      q.processAllAvailable()
      input.addData(Seq(Evt(2, 2, "view", 1.0, ts(600))))
      q.processAllAvailable()
      input.addData(Seq(Evt(3, 3, "view", 1.0, ts(900))))
      q.processAllAvailable()
      val starts = spark.table("vsh").collect()
        .filter(_.getLong(3) == 1L).map(_.getString(0)).toSet
      assert(starts.contains("1970-01-02 00:00:00"))
      assert(starts.contains("1970-01-02 01:00:00"))
    } finally q.stop()
  }

  test("keywordStats explodes tokens into windowed counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val q = StreamOps.keywordStats(input.toDF(), "event_type").writeStream
      .format("memory").queryName("kw").outputMode("append").start()
    try {
      input.addData(Seq(
        Evt(1, 1, "spark flink spark", 0, ts(5)),
        Evt(2, 2, "flink", 0, ts(10))))
      q.processAllAvailable()
      input.addData(Seq(Evt(3, 3, "later", 0, ts(300)))) // close the window
      q.processAllAvailable()
      val got = spark.table("kw").collect()
        .map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(got === Map("spark" -> 2L, "flink" -> 2L))
    } finally q.stop()
  }

  test("heavyHittersWindowed merges MG partials across micro-batches in window state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Graft.registerFunctions(spark)
    val input = MemoryStream[Evt]
    val q = StreamOps.heavyHittersWindowed(input.toDF(), "event_type", k = 8)
      .writeStream.format("memory").queryName("hh").outputMode("append").start()
    try {
      // same window, two micro-batches: the summary must merge state
      input.addData(Seq(
        Evt(1, 1, "spark spark flink", 0, ts(5)),
        Evt(2, 2, "spark kafka", 0, ts(10))))
      q.processAllAvailable()
      input.addData(Seq(Evt(3, 3, "spark flink", 0, ts(20))))
      q.processAllAvailable()
      input.addData(Seq(Evt(4, 4, "later", 0, ts(300)))) // close the window
      q.processAllAvailable()
      val got = spark.table("hh").collect()
        .filter(_.getString(0) == "1970-01-02 00:00:00")
        .map(r => r.getString(1) -> r.getLong(2)).toMap
      // 4 distinct terms <= k=8 -> Misra-Gries counts are EXACT
      assert(got === Map("spark" -> 4L, "flink" -> 2L, "kafka" -> 1L))
    } finally q.stop()
  }

  test("approxDistinctWindowed: HLL state merges across batches, exact at small n") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val q = StreamOps.approxDistinctWindowed(input.toDF())
      .writeStream.format("memory").queryName("adw").outputMode("append").start()
    try {
      input.addData(Seq(
        Evt(1, 10, "view", 0, ts(5)), Evt(2, 11, "view", 0, ts(10)),
        Evt(3, 10, "click", 0, ts(15))))
      q.processAllAvailable()
      // second batch, same window: new user + a repeat — sketch must union
      input.addData(Seq(Evt(4, 12, "view", 0, ts(30)), Evt(5, 11, "view", 0, ts(40))))
      q.processAllAvailable()
      input.addData(Seq(Evt(6, 99, "view", 0, ts(300)))) // close the window
      q.processAllAvailable()
      val row = spark.table("adw").collect()
        .find(_.getString(0) == "1970-01-02 00:00:00").get
      // HLL lgK=14 is exact at 3 distinct users; 5 events counted
      assert(row.getLong(1) === 3L)
      assert(row.getLong(2) === 5L)
    } finally q.stop()
  }

  test("latenessMonitor: per-arrival lateness, high-water mark survives batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val q = StreamOps.latenessMonitor(input.toDS())
      .writeStream.format("memory").queryName("lm").outputMode("append").start()
    try {
      // batch 1 (arrival = event_id): t100, t50 (50 min late), t200
      input.addData(Seq(
        Evt(1, 1, "view", 0, ts(100)), Evt(2, 1, "view", 0, ts(50)),
        Evt(3, 1, "view", 0, ts(200))))
      q.processAllAvailable()
      // batch 2: t199 arrives AFTER the hwm 200 persisted in state
      input.addData(Seq(Evt(4, 1, "view", 0, ts(199)), Evt(5, 2, "view", 0, ts(10))))
      q.processAllAvailable()
      val out = spark.table("lm").collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(out === Map(
        1L -> 0L, 2L -> 3000000000L, 3L -> 0L,
        4L -> 60000000L,   // vs the cross-batch high-water mark
        5L -> 0L))
    } finally q.stop()
  }

  test("bitmapDistinctWindowed: exact distinct via bitmap state, equals the HLL scenario") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val q = StreamOps.bitmapDistinctWindowed(input.toDF())
      .writeStream.format("memory").queryName("bdw").outputMode("append").start()
    try {
      input.addData(Seq(
        Evt(1, 10, "view", 0, ts(5)), Evt(2, 11, "view", 0, ts(10)),
        Evt(3, 10, "click", 0, ts(15))))
      q.processAllAvailable()
      // second batch, same window: the state-store bitmap must OR the
      // micro-batch partial — a repeat user cannot double-count
      input.addData(Seq(Evt(4, 12, "view", 0, ts(30)), Evt(5, 11, "view", 0, ts(40))))
      q.processAllAvailable()
      input.addData(Seq(Evt(6, 99, "view", 0, ts(300)))) // close the window
      q.processAllAvailable()
      val row = spark.table("bdw").collect()
        .find(_.getString(0) == "1970-01-02 00:00:00").get
      assert(row.getLong(1) === 3L, "exact distinct users in the window")
      assert(row.getLong(2) === 5L)
    } finally q.stop()
  }

  test("nearDupGate flags stream docs colliding with the corpus index, once per pair") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Graft.registerFunctions(spark)
    val boiler = "the quick brown fox jumps over the lazy dog again and again in the morning"
    val corpus = Seq(
      (100L, boiler),
      (101L, "completely different reference material about spark execution plans")
    ).toDF("doc_id", "text")
    val input = MemoryStream[Evt]
    // stream text rides in event_type; doc_id in event_id
    val stream = input.toDF().select(
      col("event_id").as("doc_id"), col("event_type").as("text"), col("ts"))
    val q = StreamOps.nearDupGate(stream, corpus)
      .writeStream.format("memory").queryName("ndg").outputMode("append").start()
    try {
      input.addData(Seq(
        Evt(1, 1, boiler + " tonight", 0, ts(5)),             // near-dup of 100
        Evt(2, 2, "unrelated text with zero shared shingles whatsoever", 0, ts(6))))
      q.processAllAvailable()
      // same near-dup arrives again inside the watermark: no re-emit
      input.addData(Seq(Evt(1, 1, boiler + " tonight", 0, ts(10))))
      q.processAllAvailable()
      val got = spark.table("ndg").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSet === Set((1L, 100L)))
      assert(got.length === 1, s"pair must emit exactly once, got ${got.toSeq}")
    } finally q.stop()
  }

  test("bloomAdmit: corpus dups flagged exactly at ingest, fresh docs admitted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Graft.registerFunctions(spark)
    val corpus = Seq(
      (100L, "the standing corpus holds this exact curated paragraph"),
      (101L, "and also a second completely different reference text")
    ).toDF("doc_id", "text")
    val input = MemoryStream[Evt]
    // stream text rides in event_type; doc_id in event_id (the
    // nearDupGate spec convention)
    val stream = input.toDF().select(
      col("event_id").as("doc_id"), col("event_type").as("text"), col("ts"))
    val q = StreamOps.bloomAdmit(stream, corpus)
      .writeStream.format("memory").queryName("badmit").outputMode("append").start()
    try {
      input.addData(Seq(
        // case/whitespace variant of corpus doc 100: SAME normalized
        // fingerprint → bloom_hit=1 AND is_dup=1
        Evt(1, 1, "  The STANDING corpus  holds this exact curated paragraph ", 0, ts(5)),
        // genuinely fresh: must be admitted (is_dup=0)
        Evt(2, 2, "a brand new crawl page with unseen content entirely", 0, ts(6))))
      q.processAllAvailable()
      input.addData(Seq(
        Evt(3, 3, "and also a second completely different reference text", 0, ts(7))))
      q.processAllAvailable()
      val got = spark.table("badmit").collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
      assert(got.keySet === Set(1L, 2L, 3L))
      assert(got(1L) === ((1, 1)), s"dup must flag: ${got(1L)}")
      assert(got(3L) === ((1, 1)), s"exact corpus copy must flag: ${got(3L)}")
      assert(got(2L)._2 === 0, "fresh doc must be admitted")
      // the Bloom invariant holds on every emitted row
      got.values.foreach { case (hit, dup) => if (dup == 1) assert(hit === 1) }
    } finally q.stop()
  }

  test("funnelStream: stages complete in order, out-of-order events replay correctly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val q = StreamOps.funnelStream(input.toDS()).writeStream.format("memory")
      .queryName("funnel").outputMode("append").start()
    try {
      // user 1: click BEFORE its view in event time (same batch) must
      // not count; the later click does. user 2: only views.
      input.addData(Seq(
        Evt(1, 1, "click", 0, ts(3)),
        Evt(2, 1, "view", 0, ts(5)),
        Evt(3, 1, "click", 0, ts(20)),
        Evt(4, 2, "view", 0, ts(7))))
      q.processAllAvailable()
      // advance the watermark gently (it must never pass an event's
      // time before that event arrives — the engine drops sub-watermark
      // rows before they reach the state machine)
      input.addData(Seq(Evt(5, 9, "view", 0, ts(25))))
      q.processAllAvailable()
      input.addData(Seq(Evt(6, 1, "purchase", 0, ts(40)), Evt(7, 9, "view", 0, ts(60))))
      q.processAllAvailable()
      // ripen everything; user 1 finishes via its event-time timer, no
      // further user-1 events needed
      input.addData(Seq(Evt(8, 9, "view", 0, ts(400))))
      q.processAllAvailable()
      input.addData(Seq(Evt(9, 9, "view", 0, ts(500))))
      q.processAllAvailable()
      val got = spark.table("funnel").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got.contains(("1_view", 1L)) && got.contains(("2_click", 1L)))
      assert(got.contains(("3_purchase", 1L)), s"purchase missing in $got")
      assert(got.contains(("1_view", 2L)))
      assert(!got.exists(h => h._1 != "1_view" && h._2 == 2L))
      // duplicate stages never emit twice
      assert(spark.table("funnel").collect().length ===
        spark.table("funnel").collect().map(r => (r.getString(0), r.getLong(1))).toSet.size)
    } finally q.stop()
  }

  test("attributionStream: first/last credit per conversion, lookback cut, batch-equal rollup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val q = StreamOps.attributionStream(input.toDS()).writeStream.format("memory")
      .queryName("attr").outputMode("append").start()
    try {
      // the batch ChunkedSessionSpec attribution scenario, streamed:
      // user 1: view → click → purchase(100): first=view, last=click;
      //   then signup, and a purchase(50) OUTSIDE the 1-day lookback
      //   → conversion 5 goes unattributed (emits nothing);
      // user 2: click → purchase(10): first=last=click; error events
      //   never credit. The purchase arrives BEFORE its touches in
      //   batch-arrival order — the watermark replay must fix it.
      input.addData(Seq(
        Evt(3, 1, "purchase", 100.0, ts(20)),
        Evt(1, 1, "view", 1.0, ts(0)),
        Evt(2, 1, "click", 1.0, ts(10)),
        Evt(4, 1, "signup", 1.0, ts(30)),
        Evt(6, 2, "click", 1.0, ts(0)),
        Evt(8, 2, "error", 1.0, ts(5)),
        Evt(7, 2, "purchase", 10.0, ts(10))))
      q.processAllAvailable()
      // sentinel user advances the watermark past both conversions
      input.addData(Seq(Evt(20, 9, "view", 1.0, ts(60))))
      q.processAllAvailable()
      // the out-of-lookback conversion (signup at +30 min, purchase
      // 25 h later), then two sentinels to ripen it via the timeout
      input.addData(Seq(Evt(5, 1, "purchase", 50.0, ts(30 + 1440 + 60))))
      q.processAllAvailable()
      input.addData(Seq(Evt(21, 9, "view", 1.0, ts(1600))))
      q.processAllAvailable()
      input.addData(Seq(Evt(22, 9, "view", 1.0, ts(1620))))
      q.processAllAvailable()
      val credits = spark.table("attr").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getDouble(4)))
      assert(credits.toSet === Set(
        (3L, 1L, "view", "click", 100.0),
        (7L, 2L, "click", "click", 10.0)),
        s"got ${credits.toSeq}")
      assert(credits.length === 2, "each conversion credits exactly once")

      // scenario-for-scenario: the batch operator on the same events
      // produces the rollup the ConvCredit stream aggregates to
      val d = java.nio.file.Files.createTempDirectory("graft-attr-stream")
        .toFile.getAbsolutePath
      val allEvts = Seq(
        (3L, 20L, 1L, "purchase", 100.0), (1L, 0L, 1L, "view", 1.0),
        (2L, 10L, 1L, "click", 1.0), (4L, 30L, 1L, "signup", 1.0),
        (5L, (30 + 1440 + 60).toLong, 1L, "purchase", 50.0),
        (6L, 0L, 2L, "click", 1.0), (8L, 5L, 2L, "error", 1.0),
        (7L, 10L, 2L, "purchase", 10.0),
        (20L, 60L, 9L, "view", 1.0), (21L, 1600L, 9L, "view", 1.0),
        (22L, 1620L, 9L, "view", 1.0))
      allEvts.map { case (id, min, uid, tpe, v) =>
        (id, (24 * 60 + min) * 60L * 1000000000L, uid, tpe, v, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
      val batch = graft.operators.EventAnalytics.attribution(spark, d).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
      val streamRollup = {
        val f = credits.groupBy(_._3).view.mapValues(cs => (cs.length.toLong, cs.map(_._5).sum))
        val l = credits.groupBy(_._4).view.mapValues(cs => (cs.length.toLong, cs.map(_._5).sum))
        (f.keySet ++ l.keySet).map { t =>
          val (fc, fg) = f.getOrElse(t, (0L, 0.0))
          val (lc, lg) = l.getOrElse(t, (0L, 0.0))
          t -> ((fc, lc, fg, lg))
        }.toMap
      }
      assert(streamRollup === batch,
        s"stream rollup $streamRollup != batch verdicts $batch")
    } finally q.stop()
  }

  test("attributionStream on the RocksDB state store: first/last credit, lookback cut") {
    withRocksDb {
      // the attributionStream scenario, batch-for-batch: out-of-order
      // purchase, lookback-cut second conversion, error never credits
      val batches = Seq(
        Seq(Evt(3, 1, "purchase", 100.0, ts(20)),
          Evt(1, 1, "view", 1.0, ts(0)),
          Evt(2, 1, "click", 1.0, ts(10)),
          Evt(4, 1, "signup", 1.0, ts(30)),
          Evt(6, 2, "click", 1.0, ts(0)),
          Evt(8, 2, "error", 1.0, ts(5)),
          Evt(7, 2, "purchase", 10.0, ts(10))),
        Seq(Evt(20, 9, "view", 1.0, ts(60))),
        Seq(Evt(5, 1, "purchase", 50.0, ts(30 + 1440 + 60))),
        Seq(Evt(21, 9, "view", 1.0, ts(1600))),
        Seq(Evt(22, 9, "view", 1.0, ts(1620))))
      def shape(rows: Array[org.apache.spark.sql.Row]) = rows
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getDouble(4)))
        .toSet
      val credits = shape(runBatches("attr_r")(in =>
        StreamOps.attributionStream(in.toDS()))(batches))
      assert(credits === Set(
        (3L, 1L, "view", "click", 100.0),
        (7L, 2L, "click", "click", 10.0)))
    }
  }

  test("jumpDetectStrict: exact CEP pairs, strict-consecutive kills, timeout fires") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val q = StreamOps.jumpDetectStrict(input.toDS()).writeStream.format("memory")
      .queryName("strict").outputMode("append").start()
    try {
      // the WarehouseOpsSpec planted scenarios, split across batches so
      // candidates must survive in state (ts() is minutes; in-stream
      // gaps beyond 10s resolve on the next event)
      input.addData(Seq(
        Evt(1, 1, "signup", 0, ts(0)),   // entry, view follows at +5min → in-stream timeout
        Evt(3, 2, "signup", 0, ts(0)),   // entry
        Evt(5, 3, "signup", 0, ts(0)),   // entry, view follows 5s later → killed
        Evt(6, 3, "view", 0, new java.sql.Timestamp(ts(0).getTime + 5000)),
        Evt(7, 4, "view", 0, ts(0)),     // never an entry → never a candidate
        Evt(8, 5, "signup", 0, ts(0)))) // entry, nothing ever follows → timeout
      q.processAllAvailable()
      input.addData(Seq(
        Evt(4, 2, "signup", 0, new java.sql.Timestamp(ts(0).getTime + 5000)), // pair with 3 (cross-batch)
        Evt(2, 1, "view", 0, ts(5)))) // 5 min after entry 1 → in-stream timeout for 1
      q.processAllAvailable()
      // advance the watermark far past every pending timeout
      input.addData(Seq(Evt(99, 9, "view", 0, ts(700))))
      q.processAllAvailable()
      input.addData(Seq(Evt(100, 9, "view", 0, ts(710))))
      q.processAllAvailable()
      val jumps = spark.table("strict").collect().map(_.getLong(0)).toSet
      // same verdicts as the batch strict op on these scenarios:
      // 1 (timeout), 3 (consecutive pair), 4 (timeout), 8 (timeout);
      // NOT 5 (killed by the 5s view), NOT 7 (not an entry)
      assert(jumps === Set(1L, 3L, 4L, 8L))
    } finally q.stop()
  }

  test("sessionizeStream: session windows extend within the gap and merge late events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val q = StreamOps.sessionizeStream(input.toDF()).writeStream.format("memory")
      .queryName("sess").outputMode("append").start()
    try {
      // session 1: events at 0 and 5 min (gap 5 < 10 → same session)
      input.addData(Seq(Evt(1, 1, "view", 1.0, ts(0)), Evt(2, 1, "click", 2.0, ts(5))))
      q.processAllAvailable()
      // an event at 12 min EXTENDS the session across micro-batches
      // (last event 5 + gap 10 ≥ 12); one at 40 min opens session 2
      input.addData(Seq(Evt(3, 1, "view", 4.0, ts(12)), Evt(4, 1, "view", 8.0, ts(40))))
      q.processAllAvailable()
      // close everything
      input.addData(Seq(Evt(99, 9, "view", 0, ts(200))))
      q.processAllAvailable()
      input.addData(Seq(Evt(100, 9, "view", 0, ts(210))))
      q.processAllAvailable()
      val rows = spark.table("sess").collect().filter(_.getLong(0) == 1L)
        .map(r => (r.getLong(1), r.getString(2), r.getDouble(4))).toSet
      assert(rows === Set(
        (3L, "1970-01-02 00:00:00", 7.0),   // events 1,2,3 in one session
        (1L, "1970-01-02 00:40:00", 8.0)))  // event 4 alone
    } finally q.stop()
  }

  test("jumpDetectStrict on the RocksDB state store: CEP pairs, kills, timeouts") {
    withRocksDb {
      val batches = Seq(
        Seq(Evt(1, 1, "signup", 0, ts(0)),
          Evt(3, 2, "signup", 0, ts(0)),
          Evt(5, 3, "signup", 0, ts(0)),
          Evt(6, 3, "view", 0, new java.sql.Timestamp(ts(0).getTime + 5000)),
          Evt(7, 4, "view", 0, ts(0)),
          Evt(8, 5, "signup", 0, ts(0))),
        Seq(Evt(4, 2, "signup", 0, new java.sql.Timestamp(ts(0).getTime + 5000)),
          Evt(2, 1, "view", 0, ts(5))),
        Seq(Evt(99, 9, "view", 0, ts(700))),
        Seq(Evt(100, 9, "view", 0, ts(710))))
      val jumps = runBatches("strict2")(in =>
        StreamOps.jumpDetectStrict(in.toDS()))(batches)
        .map(_.getLong(0)).toSet
      assert(jumps === Set(1L, 3L, 4L, 8L))
    }
  }

  test("jumpDetectStrict: out-of-order arrival cannot kill or pair a candidate falsely") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val q = StreamOps.jumpDetectStrict(input.toDS()).writeStream.format("memory")
      .queryName("strict_ooo").outputMode("append").start()
    try {
      // batch 1: the entry candidate
      input.addData(Seq(Evt(10, 1, "signup", 0, ts(10))))
      q.processAllAvailable()
      // batch 2: an EARLIER view arrives late (above watermark). In true
      // event-time order it PRECEDES the entry, so it must not kill it —
      // the entry is still followed by nothing and stays a bounce.
      input.addData(Seq(Evt(9, 1, "view", 0,
        new java.sql.Timestamp(ts(10).getTime - 5000))))
      q.processAllAvailable()
      // advance the watermark to finalize everything
      input.addData(Seq(Evt(99, 9, "view", 0, ts(700))))
      q.processAllAvailable()
      input.addData(Seq(Evt(100, 9, "view", 0, ts(710))))
      q.processAllAvailable()
      val jumps = spark.table("strict_ooo").collect().map(_.getLong(0)).toSet
      assert(jumps === Set(10L))
    } finally q.stop()
  }

  test("productStatsFullStream: two-phase chained agg gives exact distinct orders") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = MemoryStream[Evt]
    val li = MemoryStream[LiEvt]
    val events = ev.toDF().withColumn("sku", col("user_id").cast("int"))
    val q = StreamOps.productStatsFullStream(events, li.toDF())
      .writeStream.format("memory").queryName("psf").outputMode("append").start()
    try {
      ev.addData(Seq(
        Evt(1, 7, "view", 2.0, ts(5)),
        Evt(2, 7, "click", 3.0, ts(10)),
        Evt(3, 7, "purchase", 40.0, ts(20)),
        Evt(4, 9, "signup", 1.0, ts(30))))
      li.addData(Seq(
        LiEvt(100, 7, "N", 1.0, 10.0, ts(5)),
        LiEvt(100, 7, "R", 2.0, 20.0, ts(6)), // same order, R row → refund
        LiEvt(101, 7, "N", 3.0, 30.0, ts(7)),
        LiEvt(100, 9, "N", 1.0, 5.0, ts(8)))) // same order, other sku
      q.processAllAvailable()
      // order 100 keeps arriving in a LATER micro-batch, same window:
      // the per-order partial in state must absorb it, not double-count
      li.addData(Seq(LiEvt(100, 7, "N", 1.0, 15.0, ts(40))))
      q.processAllAvailable()
      // advance both inputs' watermarks past the window end
      ev.addData(Seq(Evt(99, 1, "view", 0, ts(200))))
      li.addData(Seq(LiEvt(999, 1, "N", 0, 0, ts(200))))
      q.processAllAvailable()
      val rows = spark.table("psf").collect()
        .filter(_.getString(0) == "1970-01-02 00:00:00")
        .map(r => r.getInt(1) -> r).toMap
      assert(rows.keySet === Set(7, 9))
      val s7 = rows(7)
      // display, click, favor, cart
      assert((s7.getLong(2), s7.getLong(3), s7.getLong(4), s7.getLong(5)) === ((1L, 1L, 0L, 1L)))
      assert(s7.getDouble(6) === 40.0)  // payment from the purchase event
      assert(s7.getLong(7) === 2L)      // orders 100, 101 — exact distinct
      assert(s7.getLong(8) === 1L)      // only order 100 has an R row
      assert(s7.getDouble(9) === 7.0)   // qty 1+2+1+3
      assert(s7.getDouble(10) === 75.0) // amount 10+20+15+30
      assert(s7.getDouble(11) === 20.0) // refund amount = R rows only
      val s9 = rows(9)
      assert((s9.getLong(4), s9.getLong(7), s9.getLong(8)) === ((1L, 1L, 0L)))
      assert(s9.getDouble(10) === 5.0)
    } finally q.stop()
  }

  test("provinceStatsStream: exact windowed distinct orders per province, late rows absorbed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamOps.ProvinceOrder
    val input = MemoryStream[ProvinceOrder]
    val q = StreamOps.provinceStatsStream(input.toDF())
      .writeStream.format("memory").queryName("pvs").outputMode("append").start()
    try {
      input.addData(Seq(
        ProvinceOrder(100, "CHINA", 10.0, ts(5)),
        ProvinceOrder(100, "CHINA", 20.0, ts(10)), // same order, 2nd detail row
        ProvinceOrder(101, "CHINA", 30.0, ts(15)),
        ProvinceOrder(200, "JAPAN", 5.0, ts(20))))
      q.processAllAvailable()
      // order 100 keeps arriving in a LATER micro-batch, same window:
      // the per-order partial in state absorbs it — distinct count
      // must stay 2 for CHINA, amounts must include it exactly once each
      input.addData(Seq(ProvinceOrder(100, "CHINA", 40.0, ts(40))))
      q.processAllAvailable()
      // advance the watermark past the window end to finalize
      input.addData(Seq(ProvinceOrder(999, "OTHER", 0.0, ts(5000))))
      q.processAllAvailable()
      val rows = spark.table("pvs").collect()
        .filter(_.getString(0) == "1970-01-02 00:00:00")
        .map(r => r.getString(2) -> ((r.getLong(3), r.getDouble(4)))).toMap
      assert(rows === Map(
        "CHINA" -> ((2L, 100.0)), // orders 100, 101 — NOT 3 rows
        "JAPAN" -> ((1L, 5.0))))
    } finally q.stop()
  }

  test("dauStream: chained agg counts each user once per day across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val q = StreamOps.dauStream(input.toDF())
      .writeStream.format("memory").queryName("dau").outputMode("append").start()
    try {
      input.addData(Seq(
        Evt(1L, 10L, "view", 1.0, ts(5)),
        Evt(2L, 10L, "click", 1.0, ts(10)),   // same user, same day
        Evt(3L, 20L, "view", 1.0, ts(15))))
      q.processAllAvailable()
      // user 10 returns in a LATER micro-batch, same day: the per-user
      // partial in state absorbs it — DAU must stay 2
      input.addData(Seq(Evt(4L, 10L, "view", 1.0, ts(30))))
      q.processAllAvailable()
      // advance the watermark past the day end to finalize the window
      input.addData(Seq(Evt(9L, 99L, "view", 0.0, ts(3 * 24 * 60))))
      q.processAllAvailable()
      val rows = spark.table("dau").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(rows === Map("1970-01-02" -> ((2L, 4L))))
    } finally q.stop()
  }

  test("intervalJoin matches details within the time bound") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[Evt]
    val details = MemoryStream[Evt]
    val joined = StreamOps.intervalJoin(orders.toDF(), details.toDF())
    val q = joined.writeStream.format("memory").queryName("ij")
      .outputMode("append").start()
    try {
      orders.addData(Seq(Evt(1, 7, "order", 0, ts(10))))
      details.addData(Seq(
        Evt(101, 7, "detail", 0, ts(15)),  // inside [10, 40]
        Evt(102, 7, "detail", 0, ts(55)),  // outside
        Evt(103, 8, "detail", 0, ts(12)))) // wrong key
      q.processAllAvailable()
      val got = spark.table("ij").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 101L)))
    } finally q.stop()
  }

  test("left-outer interval join emits unmatched orders once the watermark closes the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[Evt]
    val details = MemoryStream[Evt]
    val joined = StreamOps.intervalJoinLeftOuter(orders.toDF(), details.toDF())
    val q = joined.writeStream.format("memory").queryName("ijlo")
      .outputMode("append").start()
    try {
      orders.addData(Seq(
        Evt(1, 7, "order", 0, ts(10)),    // will match
        Evt(2, 8, "order", 0, ts(10))))   // no detail ever
      details.addData(Seq(Evt(101, 7, "detail", 0, ts(15))))
      q.processAllAvailable()
      // push both watermarks far past order 2's [10, 40] window, then
      // run another trigger so the expired state row is emitted
      orders.addData(Seq(Evt(9, 99, "order", 0, ts(300))))
      details.addData(Seq(Evt(199, 99, "detail", 0, ts(300))))
      q.processAllAvailable()
      orders.addData(Seq(Evt(10, 98, "order", 0, ts(400))))
      details.addData(Seq(Evt(198, 98, "detail", 0, ts(400))))
      q.processAllAvailable()
      val got = spark.table("ijlo").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      assert(got(1L) === 101L)   // matched pair joins normally
      assert(got(2L) === -1L)    // unmatched order emitted null-extended
      assert(spark.table("ijlo").filter("order_event = 2").count() === 1)
    } finally q.stop()
  }

  test("chained stream-stream interval joins (OrderWide -> PaymentWide topology)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[Evt]
    val details = MemoryStream[Evt]
    val payments = MemoryStream[Evt]
    // hop 1: order ⋈ detail (as in OrderWideApp)
    val orderWide = StreamOps.intervalJoin(orders.toDF(), details.toDF())
      .select(col("order_event").as("event_id"), col("user_id"),
        col("order_ts").as("ts"))
    // hop 2: order_wide ⋈ payment (as in PaymentWideApp); the left
    // side inherits hop 1's watermark, only the new stream needs one
    val paymentWide = StreamOps.intervalJoinOn(orderWide,
      payments.toDF().withWatermark("ts", "40 minutes"))
    val q = paymentWide.writeStream.format("memory").queryName("pw")
      .outputMode("append").start()
    try {
      orders.addData(Seq(Evt(1, 7, "order", 0, ts(10))))
      details.addData(Seq(Evt(101, 7, "detail", 0, ts(15))))
      payments.addData(Seq(
        Evt(201, 7, "payment", 0, ts(20)),   // within [10, 40] of the order
        Evt(202, 7, "payment", 0, ts(90)),   // outside
        Evt(203, 9, "payment", 0, ts(12))))  // wrong key
      q.processAllAvailable()
      val got = spark.table("pw").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 201L))) // (order_event, payment_event)
    } finally q.stop()
  }

  test("runningGmv maintains per-day totals across batches (update mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val q = StreamOps.runningGmv(input.toDF()).writeStream
      .format("memory").queryName("gmv").outputMode("update").start()
    try {
      input.addData(Seq(
        Evt(1, 1, "purchase", 10.0, ts(1)), Evt(2, 1, "view", 99.0, ts(2))))
      q.processAllAvailable()
      input.addData(Seq(Evt(3, 2, "purchase", 5.0, ts(3))))
      q.processAllAvailable()
      // update mode re-emits the day's row on each change; latest wins
      val latest = spark.table("gmv").collect()
        .map(r => (r.getDate(0).toString, r.getDouble(1), r.getLong(2)))
        .groupBy(_._1).map { case (d, rows) => d -> rows.last }
      assert(latest.values.map(v => (v._2, v._3)).toSet === Set((15.0, 2L)))
    } finally q.stop()
  }

  test("cdcRoute fans a micro-batch out to per-sink writers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val config = Seq(
      ("view", "dwd_page_log", "kafka"),
      ("error", "dim_error", "hbase")).toDF("src_type", "sink_table", "sink_type")
    val captured = scala.collection.concurrent.TrieMap[String, Set[Long]]()
    val q = StreamOps.cdcRoute(input.toDF(), config) { (sink, batch) =>
      val ids = batch.select("event_id").collect().map(_.getLong(0)).toSet
      captured.updateWith(sink)(prev => Some(prev.getOrElse(Set.empty) ++ ids))
      ()
    }
    try {
      input.addData(Seq(
        Evt(1, 1, "view", 0, ts(1)), Evt(2, 1, "error", 0, ts(2)),
        Evt(3, 2, "purchase", 0, ts(3))))
      q.processAllAvailable()
      assert(captured.get("hbase") === Some(Set(2L)))
      assert(captured.get("kafka") === Some(Set(1L, 3L)))
    } finally q.stop()
  }

  test("cdcEnvelope drops delete tombstones before they reach any sink") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val config = Seq(
      ("view", "dwd_page_log", "kafka"),
      ("error", "dim_error", "hbase")).toDF("src_type", "sink_table", "sink_type")
    val captured = scala.collection.concurrent.TrieMap[String, Set[Long]]()
    val q = StreamOps.cdcRoute(StreamOps.cdcEnvelope(input.toDF()), config) {
      (sink, batch) =>
        val ids = batch.select("event_id").collect().map(_.getLong(0)).toSet
        captured.updateWith(sink)(prev => Some(prev.getOrElse(Set.empty) ++ ids))
        ()
    }
    try {
      input.addData(Seq(
        Evt(5, 1, "view", 0, ts(1)),     // 5 % 5 == 0 → delete, dropped
        Evt(6, 1, "error", 0, ts(2)),    // update → routes to hbase
        Evt(7, 2, "purchase", 0, ts(3)), // insert → default kafka sink
        Evt(10, 2, "view", 0, ts(4))))   // delete, dropped
      q.processAllAvailable()
      assert(captured.get("hbase") === Some(Set(6L)))
      assert(captured.get("kafka") === Some(Set(7L)))
      assert(!captured.values.flatten.exists(id => id == 5L || id == 10L))
    } finally q.stop()
  }

  test("streaming dim upsert merges each micro-batch into the running snapshot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long, Long, String)]
    val initial = Seq((1L, "a"), (2L, "b")).toDF("key", "name")
    @volatile var last: Map[Long, String] = Map.empty
    val q = StreamOps.dimUpsertStream(
      input.toDF().toDF("key", "name", "version", "tie", "op"),
      initial, "key", "version", "tie", "op") { snap =>
      last = snap.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    try {
      input.addData(Seq((2L, "b2", 10L, 1L, "u"), (3L, "c-new", 1L, 2L, "u")))
      q.processAllAvailable()
      assert(last === Map(1L -> "a", 2L -> "b2", 3L -> "c-new"))
      // later batch: newer version replaces, tombstone deletes, and an
      // OLDER late version must NOT displace batch 1's winner
      input.addData(Seq((1L, "dead", 5L, 3L, "d"), (2L, "b-old", 4L, 4L, "u")))
      q.processAllAvailable()
      assert(last === Map(2L -> "b2", 3L -> "c-new"))
      // a pre-delete straggler must not resurrect the tombstoned key
      input.addData(Seq((1L, "late-resurrect", 3L, 5L, "u")))
      q.processAllAvailable()
      assert(last === Map(2L -> "b2", 3L -> "c-new"))
    } finally q.stop()
  }

  test("newUsersStream: one admission per user ever, across batches and days") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val q = StreamOps.newUsersStream(input.toDF())
      .writeStream.format("memory").queryName("nus").outputMode("append").start()
    try {
      input.addData(Seq(
        Evt(1, 10, "view", 1.0, ts(5)),
        Evt(2, 10, "click", 1.0, ts(10)),   // same user, same batch
        Evt(3, 20, "view", 1.0, ts(15))))
      q.processAllAvailable()
      // user 10 returns in a LATER batch and on a LATER day: the
      // seen-user state absorbs it — never a second admission
      input.addData(Seq(
        Evt(4, 10, "view", 1.0, ts(24 * 60 + 5)),
        Evt(5, 30, "view", 1.0, ts(24 * 60 + 10))))
      q.processAllAvailable()
      input.addData(Seq(Evt(9, 99, "view", 0.0, ts(5 * 24 * 60))))
      q.processAllAvailable()
      val rows = spark.table("nus").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows.getOrElse("1970-01-02", 0L) === 2L)  // users 10, 20
      assert(rows.getOrElse("1970-01-03", 0L) === 1L)  // user 30 only
    } finally q.stop()
  }

  test("trademarkTopNStream: brand windows close exactly, dim-less sku → UNKNOWN, serve-time rank") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val part = Seq((7L, "BRAND#A"), (8L, "BRAND#B")).toDF("p_partkey", "p_brand")
    val q = StreamOps.trademarkTopNStream(
      input.toDF().withColumn("sku", col("user_id")), part)
      .writeStream.format("memory").queryName("ttn").outputMode("append").start()
    try {
      input.addData(Seq(
        Evt(1, 7, "purchase", 10.0, ts(5)),
        Evt(2, 7, "purchase", 25.5, ts(10)),
        Evt(3, 8, "purchase", 7.25, ts(12)),
        Evt(4, 9, "purchase", 3.0, ts(14)),  // sku 9 has no dim row
        Evt(5, 7, "view", 99.0, ts(15))))    // non-purchase ignored
      q.processAllAvailable()
      // brand B keeps selling in a LATER micro-batch, same window
      input.addData(Seq(Evt(6, 8, "purchase", 2.75, ts(40))))
      q.processAllAvailable()
      input.addData(Seq(Evt(9, 1, "purchase", 0.0, ts(3 * 24 * 60))))
      q.processAllAvailable()
      val rows = spark.table("ttn").collect()
        .filter(_.getString(0) == "1970-01-02 00:00:00")
        .map(r => r.getString(1) -> ((r.getDouble(2), r.getLong(3)))).toMap
      assert(rows === Map(
        "BRAND#A" -> ((35.5, 2L)),
        "BRAND#B" -> ((10.0, 2L)),
        "UNKNOWN" -> ((3.0, 1L))))
      // serving rank over the closed window = the batch operator's order
      val ranked = rows.toSeq.sortBy { case (b, (amt, _)) => (-amt, b) }.map(_._1)
      assert(ranked === Seq("BRAND#A", "BRAND#B", "UNKNOWN"))
    } finally q.stop()
  }

  // ---- strict ripeness + equal-ts replay order (r9 `<=` → `<`) ------
  //
  // Ground truth probed on Spark 4.1 (see the funnelStream comment):
  // the EventTimeTimeout late filter DROPS incoming rows with event
  // time <= the current batch watermark. Two consequences pinned here:
  // (1) an event held at wm == ts can never gain a same-ts peer later
  //     — the strict `<` rule is a latency/framing choice, not a
  //     correctness fix; the funnel spec pins its contract (no
  //     consumption in the batch where wm == ts), and the admission
  //     spec pins the engine boundary the argument rests on;
  // (2) the REAL cross-batch equal-ts scenario is a lower-event_id
  //     peer arriving while wm is still BELOW the shared timestamp —
  //     the buffer sort on (ts_us, event_id) must replay it before
  //     its earlier-arrived twin or verdicts flip (the attribution /
  //     sequence-count / CEP specs; each notes the arrival-order
  //     verdict a sort-free matcher would produce).

  test("admission boundary: EventTimeTimeout drops incoming rows with ts <= watermark") {
    // The engine fact the strict-ripeness argument rests on, pinned so
    // a Spark upgrade that moves the boundary fails loudly: after the
    // watermark reaches ts(30), an incoming row AT ts(30) and one
    // BELOW it are dropped before the state function; one above passes.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val q = input.toDS().withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, (Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout) {
        case (u, evs, st: org.apache.spark.sql.streaming.GroupState[Long]) =>
          if (!st.exists) { st.update(0L); st.setTimeoutTimestamp(Long.MaxValue / 2000) }
          evs.map(e => (e.event_id, st.getCurrentWatermarkMs()))
      }
      .writeStream.format("memory").queryName("admission").outputMode("append").start()
    try {
      input.addData(Seq(Evt(1, 1, "view", 0, ts(30)), Evt(90, 9, "view", 0, ts(40))))
      q.processAllAvailable() // wm -> exactly ts(30)
      input.addData(Seq(
        Evt(2, 1, "view", 0, ts(30)),   // AT the watermark -> dropped
        Evt(3, 1, "view", 0, ts(31)),   // above -> admitted
        Evt(4, 1, "view", 0, ts(29)))) // below -> dropped
      q.processAllAvailable()
      val seen = spark.table("admission").collect().map(_.getLong(0)).toSet
      assert(seen === Set(1L, 90L, 3L),
        s"late-filter boundary moved: state function saw $seen")
      val dropped = q.recentProgress.flatMap(p =>
        Option(p.stateOperators).toSeq.flatten.map(_.numRowsDroppedByWatermark)).sum
      assert(dropped === 2L)
    } finally q.stop()
  }

  test("equal-ts replay order: a late-arriving lower-id touch still credits its conversion") {
    // click 3 shares ts(30) with purchase 5 but arrives a batch later
    // (wm = ts(25) < ts(30), so it is admitted); the (ts_us, event_id)
    // sort replays it BEFORE the purchase -> last_touch "click". An
    // arrival-order matcher would credit with pending = [view 1] only
    // -> last_touch "view".
    val batches = Seq(
      Seq(Evt(1, 1, "view", 1.0, ts(10)),
        Evt(5, 1, "purchase", 100.0, ts(30)),
        Evt(90, 9, "view", 1.0, ts(35))),   // wm -> ts(25), below the tie
      Seq(Evt(3, 1, "click", 1.0, ts(30))), // equal ts, smaller id
      Seq(Evt(91, 9, "view", 1.0, ts(100))),
      Seq(Evt(92, 9, "view", 1.0, ts(110))))
    def shape(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getDouble(4)))
      .toSet
    val credits = shape(runBatches("ripeattr_c")(in =>
      StreamOps.attributionStream(in.toDS()))(batches))
    assert(credits === Set((5L, 1L, "view", "click", 100.0)))
  }

  test("strict ripeness: funnel does not consume an event in the batch where wm == its ts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val q = StreamOps.funnelStream(input.toDS()).writeStream.format("memory")
      .queryName("ripefunnel").outputMode("append").start()
    try {
      input.addData(Seq(Evt(2, 1, "view", 0, ts(30)), Evt(90, 9, "view", 0, ts(40))))
      q.processAllAvailable() // wm now exactly ts(30)
      input.addData(Seq(Evt(1, 1, "view", 0, ts(30)))) // equal-ts peer
      q.processAllAvailable()
      // the old `<=` rule consumed view 2 THIS batch (wm == ts) and
      // emitted user 1's 1_view before its peer arrived
      assert(!spark.table("ripefunnel").collect().exists(_.getLong(1) == 1L),
        "at-watermark event consumed before its equal-ts peer could arrive")
      input.addData(Seq(Evt(91, 9, "view", 0, ts(100))))
      q.processAllAvailable()
      input.addData(Seq(Evt(92, 9, "view", 0, ts(110))))
      q.processAllAvailable()
      val user1 = spark.table("ripefunnel").collect().filter(_.getLong(1) == 1L)
        .map(r => (r.getString(0), r.getLong(1)))
      assert(user1.toSeq === Seq(("1_view", 1L))) // replayed once, duplicate suppressed
    } finally q.stop()
  }

  test("equal-ts replay order: a late-arriving lower-id view opens the bracket for its purchase") {
    // view 3 shares ts(30) with purchase 5 and arrives a batch later
    // while wm = ts(25); the sort replays (view 3, purchase 5) -> one
    // match. Arrival order would consume the purchase with open = 0 ->
    // no match ever.
    val batches = Seq(
      Seq(Evt(5, 1, "purchase", 1.0, ts(30)),
        Evt(90, 9, "view", 0, ts(35))),     // wm -> ts(25), below the tie
      Seq(Evt(3, 1, "view", 0, ts(30))),    // equal ts, smaller id
      Seq(Evt(91, 9, "view", 0, ts(100))),
      Seq(Evt(92, 9, "view", 0, ts(110))))
    val rows = runBatches("ripeseqc")(in =>
      StreamOps.sequenceCountStream(in.toDS()))(batches)
      .filter(_.getLong(0) == 1L).map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq === Seq((1L, 1L)))
  }

  test("equal-ts replay order: CEP verdict flips when the lower-id non-entry peer arrives late") {
    // user 1: signup 1 @T0, signup 3 @T0+5s, then the equal-ts
    // NON-entry view 2 arrives a batch later (wm still T0+4s, below
    // the tie). True (ts, id) order is (view 2, signup 3): the view
    // kills candidate 1 (real visit), signup 3 then times out alone ->
    // Jump(3). Arrival order would pair (1, 3) -> Jump(1), the exact
    // false-bounce verdict the buffer sort exists to prevent.
    val t5s = new java.sql.Timestamp(ts(0).getTime + 5000)
    val batches = Seq(
      Seq(Evt(1, 1, "signup", 0, ts(0)),
        Evt(3, 1, "signup", 0, t5s),
        Evt(90, 9, "view", 0, new java.sql.Timestamp(t5s.getTime + 599000L))), // wm -> T0+4s
      Seq(Evt(2, 1, "view", 0, t5s)),       // equal ts, smaller id
      Seq(Evt(91, 9, "view", 0, ts(60))),
      Seq(Evt(92, 9, "view", 0, ts(70))))
    val jumps = runBatches("ripecep_c")(in =>
      StreamOps.jumpDetectStrict(in.toDS()))(batches).map(_.getLong(0)).toSet
    assert(jumps === Set(3L))
  }
}
