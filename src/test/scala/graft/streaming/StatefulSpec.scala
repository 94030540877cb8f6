package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** State must survive across micro-batches: feed two batches, expect the
  * second batch's emissions to include the first batch's tallies. */
class StatefulSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("flatMapGroupsWithState accumulates per-user totals across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Stateful.runningUserTotals(mem.toDS())
      .writeStream.format("memory").queryName("totals").outputMode("update").start()
    try {
      mem.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 2.0),
        Event(2, ts("2024-01-01 10:01:00"), 1, "click", 3.0),
        Event(3, ts("2024-01-01 10:02:00"), 2, "view", 1.0))
      q.processAllAvailable()
      mem.addData(
        Event(4, ts("2024-01-01 10:10:00"), 1, "view", 5.0))
      q.processAllAvailable()
    } finally q.stop()
    // last emission per user wins (update mode): user 1 = 3 events / 10.0
    val last = spark.table("totals")
      .groupBy("user_id").agg(
        org.apache.spark.sql.functions.max("n_events").as("n"),
        org.apache.spark.sql.functions.max("total_value").as("t"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(last(1L) === ((3L, 10.0)))
    assert(last(2L) === ((1L, 1.0)))
  }

  test("streaming transitions observe pairs across batch boundaries and equal the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Stateful.eventTransitions(mem.toDS())
      .writeStream.format("memory").queryName("trans").outputMode("append").start()
    // out-of-order WITHIN a batch (event 2 added before 1) must still pair
    // in (ts, event_id) order; the 4th event arrives a batch later and
    // must pair with the carried last event
    val all = Seq(
      Event(2, ts("2024-01-01 10:01:00"), 1, "click", 0.0),
      Event(1, ts("2024-01-01 10:00:00"), 1, "view", 0.0),
      Event(3, ts("2024-01-01 10:02:00"), 2, "view", 0.0))
    val late = Event(4, ts("2024-01-01 10:10:00"), 1, "buy", 0.0)
    try {
      mem.addData(all: _*)
      q.processAllAvailable()
      mem.addData(late)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("trans")
      .select("user_id", "from_type", "to_type")
      .as[(Long, String, String)].collect().toSeq.sorted
    assert(streamed === Seq((1L, "click", "buy"), (1L, "view", "click")))
    // the batch operator over the SAME rows is the oracle
    val batch = graft.ops.Series.transitions(
        (all :+ late).toDF(), "user_id", "ts", "event_type", "event_id")
      .select("from_type", "to_type", "cnt")
      .as[(String, String, Long)].collect().toSeq.sorted
    assert(batch === Seq(("click", "buy", 1L), ("view", "click", 1L)))
  }

  test("transitions order sub-millisecond neighbors like the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    // two events in the SAME millisecond, microseconds apart — a
    // getTime-based sort would see equal keys and order by event_id,
    // flipping the pair direction vs the batch twin's full-precision ts
    val early = Timestamp.valueOf("2024-01-01 10:00:00")
    early.setNanos(50000) // .000050
    val late = Timestamp.valueOf("2024-01-01 10:00:00")
    late.setNanos(100000) // .000100
    val evs = Seq(
      Event(9, early, 1, "click", 0.0), // higher id but EARLIER micros
      Event(2, late, 1, "view", 0.0))
    val mem = MemoryStream[Event]
    val q = Stateful.eventTransitions(mem.toDS())
      .writeStream.format("memory").queryName("subms").outputMode("append").start()
    try { mem.addData(evs: _*); q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("subms")
      .select("from_type", "to_type").as[(String, String)].collect().toSeq
    assert(streamed === Seq(("click", "view")))
    val batch = graft.ops.Series.transitions(
        evs.toDF(), "user_id", "ts", "event_type", "event_id")
      .select("from_type", "to_type").as[(String, String)].collect().toSeq
    assert(batch === streamed)
  }
}
