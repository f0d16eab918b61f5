package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.functions._
import graft.SparkSpec
import EventStreams._

class EventStreamsSpec extends SparkSpec {
  import sqlImplicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("watermark drops late events and evicts closed-window state") {
    val mem = MemoryStream[(Timestamp, String, Double)]
    val q = windowedTypeCounts(
        mem.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("wm_sink")
      .outputMode(OutputMode.Append()).start()
    def step(rows: (Timestamp, String, Double)*): Unit = {
      mem.addData(rows: _*); q.processAllAvailable()
    }
    def stateRows: Long =
      q.recentProgress.filter(_.stateOperators.nonEmpty)
        .lastOption.map(_.stateOperators(0).numRowsTotal).getOrElse(-1L)
    def droppedTotal: Long =
      q.recentProgress.filter(_.stateOperators.nonEmpty)
        .map(_.stateOperators(0).numRowsDroppedByWatermark).sum

    // two open windows: 3 events in [10:00, 11:00), 1 in [11:00, 12:00);
    // watermark after this step is 11:05 - 10 min = 10:55 < 11:00, so
    // nothing is finalized yet (processAllAvailable includes the extra
    // no-data batch Spark runs when the watermark advances)
    step((ts("2023-01-01 10:00:00"), "view", 1.0),
         (ts("2023-01-01 10:10:00"), "view", 1.0),
         (ts("2023-01-01 10:20:00"), "view", 1.0),
         (ts("2023-01-01 11:05:00"), "view", 1.0))
    assert(spark.table("wm_sink").isEmpty) // windows still open: append emits nothing
    val stateBeforeClose = stateRows
    assert(stateBeforeClose === 2) // both windows held in state
    // advance the watermark past both window ends: 12:30 - 10 min = 12:20,
    // so both windows finalize (emitted once) and their state is evicted
    step((ts("2023-01-01 12:30:00"), "view", 1.0))
    val closed = spark.table("wm_sink")
      .select("window_start", "n").collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(closed === Map(ts("2023-01-01 10:00:00") -> 3L,
                          ts("2023-01-01 11:00:00") -> 1L))
    assert(stateRows < stateBeforeClose, "closed-window state must be evicted")
    // a late event behind the watermark is DROPPED, not re-aggregated
    assert(droppedTotal === 0L)
    step((ts("2023-01-01 10:05:00"), "view", 1.0))
    assert(droppedTotal >= 1L, "late event must be counted as dropped by watermark")
    // the finalized window's rows are unchanged: still one row, still n=3
    step((ts("2023-01-01 12:31:00"), "view", 1.0))
    val after = spark.table("wm_sink")
      .filter(col("window_start") === ts("2023-01-01 10:00:00"))
      .select("n").collect()
    assert(after.map(_.getLong(0)).toSeq === Seq(3L),
      "the late event must not reopen or double-emit the closed window")
    q.stop()
  }

  test("streamingAsOf: batch parity under reordered arrival; state compacts; timeout drains") {
    val base = ts("2024-01-01 00:00:00").getTime
    def at(s: Int) = new Timestamp(base + s * 1000L)
    // truth table (delay 10s), user 1 refs: r100@10 v1, r101/r102@40 (tie →
    // higher id 102) v2/v3, r103@60 v4, r104@80 v9; user 2: r200@20 v9,
    // r201@80 v9.9. Queries: q1@5→None, q2@30→r100, q3@45→r102, q4@65→r103,
    // q5@19→None, q6@20→r200 (at-instant matches), q7@21→r200
    val memL = MemoryStream[(Long, Timestamp, Long)]
    val memR = MemoryStream[(Long, Timestamp, Long, Double)]
    val q = streamingAsOf(
        memL.toDF().toDF("user_id", "ts", "event_id"),
        memR.toDF().toDF("user_id", "ts", "event_id", "value"),
        delay = "10 seconds")
      .writeStream.format("memory").queryName("asof_sink")
      .outputMode(OutputMode.Append()).start()
    def stateRows: Long =
      q.recentProgress.filter(_.stateOperators.nonEmpty)
        .lastOption.map(_.stateOperators(0).numRowsTotal).getOrElse(-1L)
    // chunk 0: both sides interleaved in one trigger
    memL.addData((1L, at(5), 1L), (2L, at(19), 5L), (2L, at(20), 6L))
    memR.addData((1L, at(10), 100L, 1.0), (2L, at(20), 200L, 9.0))
    q.processAllAvailable()
    // chunk 1: queries only — q3@45 will be enriched by refs that ARRIVE
    // in a later trigger (the reordering a naive enrich-on-arrival misses)
    memL.addData((1L, at(30), 2L), (1L, at(45), 3L), (2L, at(21), 7L))
    q.processAllAvailable()
    // chunk 2: the late-arriving (but in-watermark) refs for q3
    memR.addData((1L, at(40), 101L, 2.0), (1L, at(40), 102L, 3.0))
    q.processAllAvailable()
    // chunk 3: advances the watermark past q3
    memR.addData((1L, at(60), 103L, 4.0))
    q.processAllAvailable()
    // chunk 4: q4 held; chunk 5 advances the watermark via the OTHER key,
    // so q4 can only drain through the event-time timeout
    memL.addData((1L, at(65), 4L))
    q.processAllAvailable()
    memR.addData((1L, at(80), 104L, 9.0), (2L, at(80), 201L, 9.9))
    q.processAllAvailable()

    val got = spark.table("asof_sink")
      .select("event_id", "asof_event_id", "asof_value").collect()
      .map(r => r.getLong(0) ->
        (Option(r.getAs[java.lang.Long]("asof_event_id")).map(_.longValue),
          Option(r.getAs[java.lang.Double]("asof_value")).map(_.doubleValue)))
      .toMap
    assert(got === Map(
      1L -> (None, None), 5L -> (None, None),
      2L -> (Some(100L), Some(1.0)), 3L -> (Some(102L), Some(3.0)),
      4L -> (Some(103L), Some(4.0)),
      6L -> (Some(200L), Some(9.0)), 7L -> (Some(200L), Some(9.0))))
    assert(got.size === 7, "every query emitted exactly once")
    // state compaction: 6 user-1 refs + 2 user-2 refs collapse to one
    // state row per key (latest-at-watermark + ahead-of-watermark)
    assert(stateRows === 2, s"state must compact to one row per key, got $stateRows")
    q.stop()

    // batch parity: the batch as-of (non-strict backward, id tiebreak)
    // over the SAME data gives the same enrichment
    val lb = Seq((1L, at(5), 1L), (1L, at(30), 2L), (1L, at(45), 3L),
      (1L, at(65), 4L), (2L, at(19), 5L), (2L, at(20), 6L), (2L, at(21), 7L))
      .toDF("user_id", "ts", "event_id")
    val rb = Seq((1L, at(10), 100L, 1.0), (1L, at(40), 101L, 2.0),
      (1L, at(40), 102L, 3.0), (1L, at(60), 103L, 4.0), (1L, at(80), 104L, 9.0),
      (2L, at(20), 200L, 9.0), (2L, at(80), 201L, 9.9))
      .toDF("user_id", "ts", "event_id", "value")
    val batch = graft.operators.AsOfJoin.asOf(lb, rb, Seq("user_id"),
        "ts", "ts", "event_id", Seq("event_id", "value"), strict = false)
      .collect().map(r => r.getLong(2) ->
        (Option(r.getAs[java.lang.Long]("asof_event_id")).map(_.longValue),
          Option(r.getAs[java.lang.Double]("asof_value")).map(_.doubleValue)))
      .toMap
    assert(batch === got, "streaming enrichment must equal the batch as-of")
  }

  test("streamingAsOf idleTtlMs expires idle keys; queries drained first") {
    val base = ts("2024-01-01 00:00:00").getTime
    def at(s: Int) = new Timestamp(base + s * 1000L)
    val memL = MemoryStream[(Long, Timestamp, Long)]
    val memR = MemoryStream[(Long, Timestamp, Long, Double)]
    val q = streamingAsOf(
        memL.toDF().toDF("user_id", "ts", "event_id"),
        memR.toDF().toDF("user_id", "ts", "event_id", "value"),
        delay = "10 seconds", idleTtlMs = Some(5000L))
      .writeStream.format("memory").queryName("asof_ttl_sink")
      .outputMode(OutputMode.Append()).start()
    def stateRows: Long =
      q.recentProgress.filter(_.stateOperators.nonEmpty)
        .lastOption.map(_.stateOperators(0).numRowsTotal).getOrElse(-1L)
    // user 1 drains its one query, then goes idle with a kept reference
    memR.addData((1L, at(10), 100L, 1.0))
    memL.addData((1L, at(12), 1L))
    memR.addData((1L, at(25), 101L, 2.0)) // wm → 15: q1 drains
    q.processAllAvailable()
    assert(spark.table("asof_ttl_sink").count() === 1)
    assert(stateRows === 1, "user 1 holds compacted reference state")
    // traffic on ANOTHER key pushes the watermark 5s+ past user 1's idle
    // clock: the TTL timeout must drop user 1's state whole
    memR.addData((2L, at(60), 200L, 9.0))
    q.processAllAvailable()
    memR.addData((2L, at(80), 201L, 9.9))
    q.processAllAvailable()
    assert(stateRows === 1, s"idle user 1 expired; only user 2 remains")
    q.stop()
  }

  test("windowed counts: batch and streaming agree (API unification)") {
    val batch = Seq(
      (1L, ts("2024-01-01 00:05:00"), 10L, "click", 1.0, "{}"),
      (2L, ts("2024-01-01 00:15:00"), 10L, "click", 2.0, "{}"),
      (3L, ts("2024-01-01 01:05:00"), 11L, "view", 3.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    val res = windowedTypeCounts(batch).orderBy("window_start", "event_type").collect()
    assert(res.length === 2)
    assert(res(0).getAs[Long]("n") === 2) // two clicks in hour 0
    assert(res(1).getAs[Long]("n") === 1)

    // same transform through a real stream
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val sdf = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = windowedTypeCounts(sdf).writeStream.format("memory").queryName("wc_test")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData((1L, ts("2024-01-01 00:05:00"), 10L, "click", 1.0, "{}"),
                  (2L, ts("2024-01-01 00:15:00"), 10L, "click", 2.0, "{}"),
                  (3L, ts("2024-01-01 01:05:00"), 11L, "view", 3.0, "{}"))
      q.processAllAvailable()
      val streamed = spark.table("wc_test").orderBy("window_start", "event_type").collect()
      assert(streamed.map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"))).toSeq
        === res.map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"))).toSeq)
    } finally q.stop()
  }

  test("session windows split on the gap") {
    val batch = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10L, "click", 1.0, "{}"),
      (2L, ts("2024-01-01 00:10:00"), 10L, "click", 1.0, "{}"), // same session
      (3L, ts("2024-01-01 02:00:00"), 10L, "click", 1.0, "{}")  // new session
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val sessions = userSessions(batch).orderBy("session_start").collect()
    assert(sessions.length === 2)
    assert(sessions(0).getAs[Long]("n_events") === 2)
  }

  test("file-source stream over the driver events table reaches a sink") {
    // the file stream source needs a directory of files (at scale: a landing
    // dir receiving new parquet drops); stage the single testdata file
    val dir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("part-0.parquet"))
    val q = windowedTypeCounts(EventStreams.readEventStream(spark, dir.toString))
      .writeStream.format("memory").queryName("file_stream_test")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // append mode emits only windows the watermark has passed; the table
      // spans 30 days so nearly all windows are final
      assert(spark.table("file_stream_test").count() > 0)
    } finally q.stop()
  }

  test("stream is startable before the landing directory exists (r8 advice)") {
    // a MISSING dir must behave like an empty one: the footer probe throws
    // FileNotFoundException (not IllegalArgumentException) and the reader
    // must still wire with the current-producer schema, then pick up files
    // dropped after start
    val base = java.nio.file.Files.createTempDirectory("late_dir")
    val landing = base.resolve("landing") // never created before readEventStream
    val stream = EventStreams.readEventStream(spark, landing.toString)
    assert(stream.isStreaming)
    assert(stream.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    // readEventStream claimed (created) the landing dir itself
    assert(java.nio.file.Files.isDirectory(landing))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      landing.resolve("part-0.parquet"))
    val q = windowedTypeCounts(stream).writeStream.format("memory")
      .queryName("late_dir_test").outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("late_dir_test").count() > 0)
    } finally q.stop()
  }
}
