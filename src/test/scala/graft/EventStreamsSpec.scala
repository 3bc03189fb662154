package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams
import graft.streaming.EventStreams.SessionEvent

class EventStreamsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ts(min: Int): Timestamp = new Timestamp(1700000000000L + min * 60000L)

  test("watermarked tumbling windows finalize and drop late data") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("ts", "user_id", "event_type", "value")

    val q = EventStreams.windowedCounts(events, watermark = "10 minutes",
        windowLen = "60 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Append()).start()

    // window [0,60): 2 clicks; then advance the watermark far past it
    input.addData((ts(1), 1L, "click", 1.0), (ts(5), 2L, "click", 2.0))
    q.processAllAvailable()
    input.addData((ts(200), 3L, "click", 1.0)) // watermark -> ~190min
    q.processAllAvailable()
    // a straggler inside the finalized window must be dropped
    input.addData((ts(2), 9L, "click", 100.0))
    q.processAllAvailable()
    input.addData((ts(400), 3L, "view", 1.0)) // pushes watermark, finalizes [180,240)
    q.processAllAvailable()

    val rows = spark.table("win_counts")
      .select($"win_start", $"event_type", $"n").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
    q.stop()

    val firstWin = rows.filter(_._1 == 1700000000000L - (1700000000000L % 3600000L))
    // the [0,60) window of our epoch-aligned hour contains exactly the 2
    // on-time clicks; the late straggler (value 100) was dropped
    assert(firstWin.exists(r => r._2 == "click" && r._3 == 2), s"got ${rows.mkString(",")}")
  }

  test("a window ending at the final watermark is emitted (append, AvailableNow)") {
    // max(ts) = 01:10 with a 10-minute delay puts the final watermark at
    // 01:00, exactly the end of window [00:00, 01:00): Spark evicts a
    // window when end <= watermark, which the events_stream_tumbling
    // oracle mirrors with `<=`. Window [01:00, 02:00) stays open.
    val dir = java.nio.file.Files.createTempDirectory("graft_wm")
    val src = dir.resolve("src").toString
    def at(hhmm: String) = Timestamp.from(java.time.Instant.parse(s"2026-01-01T$hhmm:00Z"))
    Seq((at("00:00"), "a", 1.0), (at("00:30"), "a", 1.0), (at("01:10"), "a", 1.0))
      .toDF("ts", "event_type", "value")
      .coalesce(1).write.parquet(src)
    val schema = spark.read.parquet(src).schema
    val out = dir.resolve("out").toString
    EventStreams.windowedCounts(spark.readStream.schema(schema).parquet(src),
        watermark = "10 minutes", windowLen = "1 hour")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()

    val emitted = spark.read.parquet(out).select($"win_start", $"n").collect()
      .map(r => (r.getTimestamp(0).toInstant.toString, r.getLong(1))).toSeq
    assert(emitted == Seq(("2026-01-01T00:00:00Z", 2L)), s"got $emitted")
  }

  test("flatMapGroupsWithState sessionization closes on gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val sessions = EventStreams.sessionize(input.toDS(), gapMs = 10 * 60000L)

    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()

    // user 1: two events 5 min apart (one session), then a 30-min gap event
    input.addData(SessionEvent(1L, ts(0), "a"), SessionEvent(1L, ts(5), "b"))
    q.processAllAvailable()
    input.addData(SessionEvent(1L, ts(40), "c"))
    q.processAllAvailable()

    val closed = spark.table("sessions").as[EventStreams.Session].collect()
    q.stop()
    assert(closed.length == 1, s"expected the first session closed, got ${closed.toSeq}")
    assert(closed.head.nEvents == 2)
    assert(closed.head.startMs == ts(0).getTime && closed.head.endMs == ts(5).getTime)
  }

  test("sessionize: one user holding 100% of rows across multiple microbatches") {
    // Adversarial shape for the memory contract: ONE user owns the whole
    // stream, fed in bounded microbatches whose boundaries do NOT align
    // with session boundaries — each batch buffers only its own slice,
    // cross-batch continuation rides the O(1) open-session state. Events:
    // 4-min steps with a 19-min jump every 10th event → sessions are exact
    // runs of 10 under a 10-min gap; 300 events = 30 sessions, the last
    // still open at end.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val sessions = EventStreams.sessionize(input.toDS(), gapMs = 10 * 60000L)
    val q = sessions.writeStream.format("memory").queryName("hot_sessions")
      .outputMode(OutputMode.Append()).start()

    def minute(i: Int): Int = i * 4 + (i / 10) * 15
    val all = (0 until 300).map(i => SessionEvent(1L, ts(minute(i)), "e"))
    // chunks of 64: sessions of 10 span batch boundaries
    all.grouped(64).foreach { chunk => input.addData(chunk); q.processAllAvailable() }

    val closed = spark.table("hot_sessions").as[EventStreams.Session].collect()
      .sortBy(_.startMs)
    q.stop()
    assert(closed.length == 29, s"expected 29 closed sessions, got ${closed.length}")
    closed.zipWithIndex.foreach { case (sess, k) =>
      assert(sess.nEvents == 10, s"session $k: ${sess.nEvents} events")
      assert(sess.startMs == ts(minute(10 * k)).getTime &&
        sess.endMs == ts(minute(10 * k + 9)).getTime,
        s"session $k boundaries off: $sess")
    }
  }
}
