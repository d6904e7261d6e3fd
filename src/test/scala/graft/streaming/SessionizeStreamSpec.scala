package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.streaming.SessionizeStream.{Event, Sessionized}

class SessionizeStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val events = Seq(
    Event(1L, 10L, ts("2024-01-01 00:00:00")),
    Event(2L, 10L, ts("2024-01-01 00:10:00")), // same session (10 min gap)
    Event(3L, 10L, ts("2024-01-01 01:00:00")), // new session (50 min gap)
    Event(4L, 20L, ts("2024-01-01 00:00:00")),
    Event(5L, 20L, ts("2024-01-01 00:31:00")), // new session (31 min gap)
    Event(6L, 10L, ts("2024-01-01 01:20:00"))) // continues session 2

  private val expected = Set(
    Sessionized(1L, 10L, 1L), Sessionized(2L, 10L, 1L),
    Sessionized(3L, 10L, 2L), Sessionized(4L, 20L, 1L),
    Sessionized(5L, 20L, 2L), Sessionized(6L, 10L, 2L))

  test("stateful streaming sessionization matches expected sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = SessionizeStream.sessionize(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    // two micro-batches: state must carry across them
    mem.addData(events.take(4): _*)
    q.processAllAvailable()
    mem.addData(events.drop(4): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_out").as[Sessionized].collect().toSet
    assert(got == expected)
  }

  test("watermark timeout evicts idle state (session index restarts)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = SessionizeStream.sessionize(mem.toDS(), watermarkDelay = Some("1 minute"))
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_evict").start()

    // batch 1: user 10 establishes session 1
    mem.addData(Event(1L, 10L, ts("2024-01-01 00:00:00")))
    q.processAllAvailable()
    // batch 2: another user far in the future pushes the watermark past
    // user 10's last event + gap -> user 10's state is evicted on timeout
    mem.addData(Event(2L, 99L, ts("2024-01-02 00:00:00")))
    q.processAllAvailable()
    // batch 3: user 10 reappears; with state evicted the index restarts
    mem.addData(Event(3L, 10L, ts("2024-01-02 00:30:00")))
    q.processAllAvailable()
    q.stop()

    val byEvent = spark.table("sess_evict").as[Sessionized]
      .collect().map(s => s.event_id -> s.session_idx).toMap
    assert(byEvent(1L) == 1L)
    // restart at 1 proves the state was removed rather than continued to 2
    assert(byEvent(3L) == 1L, s"state not evicted: $byEvent")
  }

  test("streaming sessionizer agrees with the batch lag+cumsum form") {
    val batch = graft.SparkEntry.queries("q_sessionize")(
      spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "session_idx")
      .as[(Long, Long, Long)].collect().toSet

    val evts = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("user_id"), col("ts")).as[Event]
    val stateful = SessionizeStream.sessionize(evts)
      .as[Sessionized].collect()
      .map(s => (s.event_id, s.user_id, s.session_idx)).toSet
    assert(stateful == batch)
  }
}
