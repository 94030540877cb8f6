package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}
import graft.ops.Windows

/** Structured-Streaming twins of the batch event queries (SURVEY §2b E7).
  * Each applies a watermark (bounding state for append-mode sinks) and
  * delegates to the SHARED aggregation bodies in graft.ops.Windows — the
  * batch queries call the same functions, so batch and streaming semantics
  * cannot drift. StreamingSpec drives these through MemoryStream and
  * cross-checks against the batch results on identical data.
  *
  * Scale: watermark + tumbling window is Spark's bounded-state path — the
  * state store holds only open windows per key; session windows merge on
  * overlap with the same bound.
  */
object Streams {

  /** Streaming twin of q_window_tumbling: 1-hour tumbling counts/sums per
    * event type, 10-minute watermark for late data. */
  def tumblingByType(events: DataFrame): DataFrame =
    Windows.tumblingByType(events.withWatermark("ts", "10 minutes"))

  /** Streaming twin of q_session_window: native 30-minute-gap session
    * windows per user. */
  def sessionsByUser(events: DataFrame): DataFrame =
    Windows.sessionWindowByUser(events.withWatermark("ts", "10 minutes"))

  /** Streaming twin of q_window_sliding: 1-hour windows sliding every
    * 15 minutes. */
  def slidingByType(events: DataFrame): DataFrame =
    Windows.slidingByType(events.withWatermark("ts", "10 minutes"))

  /** Streaming exact dedup (the training-pipeline ingest primitive —
    * the stream sibling of Dedup.exact): keep the first event per id,
    * with state bounded by the watermark instead of growing forever.
    * Duplicates arriving within the watermark delay are dropped; the
    * state store evicts ids once the watermark passes them. */
  def dedupById(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Watermarked stream-stream inner join: pair each click with the views
    * the same user produced in the preceding hour — the canonical
    * two-stream event-time join. BOTH inputs carry watermarks and the
    * join predicate bounds event time on BOTH sides; together they let
    * the state store evict buffered rows once the watermark passes the
    * range, which is what keeps a stream-stream join's state finite.
    * Without the time-range predicate Spark would (rightly) have to
    * buffer both streams forever. Works unchanged on batch frames
    * (withWatermark is a no-op there) — StreamingSpec uses the batch
    * result as the oracle. */
  def clicksAfterViews(clicks: DataFrame, views: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(
        col("event_id").as("click_id"),
        col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    val v = views.withWatermark("ts", "10 minutes")
      .select(
        col("event_id").as("view_id"),
        col("user_id").as("v_user"),
        col("ts").as("view_ts"))
    c.join(v,
        col("c_user") === col("v_user") &&
          col("view_ts") <= col("click_ts") &&
          col("view_ts") >= col("click_ts") - expr("interval 1 hour"))
      .select(col("click_id"), col("view_id"),
        col("c_user").as("user_id"), col("click_ts"), col("view_ts"))
  }

  /** Streaming twin of the FLAGSHIP GSOD ETL (q_gsod_e2e's parse+rollup):
    * raw fixed-layout text lines arrive as a stream (a file tail, a
    * socket, an archive unpacker's output) and flow through the EXACT
    * batch parse — [[graft.ingest.GsodParser.parseLines]] is a stateless
    * per-line typed flatMap, plan-identical under micro-batching — into a
    * per-station-month rollup.
    *
    * The rollup aggregate differs from batch BY DESIGN: the reference's
    * exact median is not a mergeable streaming aggregate (its state is
    * the full value buffer — unbounded), so the streaming form uses
    * `percentile_approx` (GK sketch: bounded, mergeable state — the same
    * exact→approx swap SURVEY §2a A1 already prescribes for the 100 TB
    * batch path). StreamingSpec pins streamed == batch for the SAME
    * percentile_approx aggregate; the exact-median batch form remains
    * q_gsod_e2e's gate. Complete output mode: the station-month key
    * space is small and closed (stations × months), so complete-mode
    * state is a few thousand sketch rows even at 100 TB of observations. */
  def gsodMonthlyApprox(lines: DataFrame): DataFrame = {
    val obs = graft.ingest.GsodParser.parseLines(lines.sparkSession, lines)
    obs.groupBy(col("usaf"), col("wban"), col("year"), col("month"))
      .agg(
        expr("percentile_approx(temp, 0.5, 1000)").as("temp_med"),
        expr("percentile_approx(prcp, 0.5, 1000)").as("prcp_med"),
        expr("count(temp)").as("n_temp"),
        expr("count(1)").as("n_obs"))
  }
}
