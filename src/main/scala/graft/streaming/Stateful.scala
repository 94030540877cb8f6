package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** A typed event row for the stateful streaming API (matches the events
  * table; ts as java.sql.Timestamp for the case-class Encoder). */
final case class Event(
    event_id: Long,
    ts: Timestamp,
    user_id: Long,
    event_type: String,
    value: Double)

/** Per-user running totals carried across micro-batches. */
final case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

/** Custom streaming state (SURVEY §2b E7 / the Structured-Streaming
  * checklist): `flatMapGroupsWithState` over a `KeyValueGroupedDataset` —
  * the escape hatch for aggregations the built-in windowed operators can't
  * express (here: unbounded per-user running totals emitted on every
  * update, and per-user event transitions that straddle micro-batches).
  *
  * Scale: state lives in the state store, partitioned by group key —
  * executors hold only their keys' state; a production job bounds state
  * with a timeout (`GroupStateTimeout.ProcessingTimeTimeout` +
  * `state.setTimeoutDuration`) instead of NoTimeout.
  */
object Stateful {

  /** A (from → to) adjacent-event-type pair observed for one user — the
    * streaming increment of the Markov transition matrix
    * (graft.ops.Series.transitions is the batch twin). */
  final case class TransitionPair(
      user_id: Long, from_type: String, to_type: String)

  /** Last-seen event per user, carried across micro-batches so a
    * transition spanning two batches is still observed. */
  final case class LastEvent(ts: Timestamp, event_id: Long, tpe: String)

  /** Streaming transition tracker: per user, emit every adjacent
    * (from_type → to_type) pair in (ts, event_id) order, INCLUDING pairs
    * that straddle micro-batch boundaries (the carried state is exactly
    * one event per user — constant-size state, no timeout needed for
    * correctness, though production bounds idle keys with an event-time
    * timeout).
    *
    * Within a micro-batch the group iterator's order is not guaranteed,
    * so the batch's events sort in memory first — bounded by one USER's
    * events in one BATCH, not the stream. Downstream, a streaming
    * aggregate over the emitted pairs maintains the live transition
    * matrix; summed over all batches it equals the batch operator's
    * counts (StreamingSpec proves stream ≡ batch on identical data). */
  def eventTransitions(events: Dataset[Event]): Dataset[TransitionPair] = {
    implicit val stateEnc = Encoders.product[LastEvent]
    implicit val outEnc = Encoders.product[TransitionPair]
    implicit val longEnc = Encoders.scalaLong
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, evs: Iterator[Event], state: GroupState[LastEvent]) => {
          // micros, not getTime: millisecond truncation would order
          // sub-millisecond neighbors differently than the batch twin's
          // full-precision ts sort (breaking the stream ≡ batch contract)
          val ordered = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var last = state.getOption
          val out = Seq.newBuilder[TransitionPair]
          ordered.foreach { e =>
            last.foreach(l => out += TransitionPair(uid, l.tpe, e.event_type))
            // monotone state: an event arriving LATE across a batch
            // boundary still pairs (arrival-order semantics — append
            // mode cannot retract) but must not regress the carried
            // "latest event", or every subsequent pair would chain off
            // stale state. In production the watermark bounds how late
            // this case can occur.
            if (last.forall(l => Ordering[(Long, Long)].lt(
                (micros(l.ts), l.event_id), (micros(e.ts), e.event_id))))
              last = Some(LastEvent(e.ts, e.event_id, e.event_type))
          }
          last.foreach(state.update)
          out.result().iterator
        })
  }

  private def micros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L

  def runningUserTotals(events: Dataset[Event]): Dataset[UserTotals] = {
    implicit val stateEnc = Encoders.product[UserTotals]
    implicit val longEnc = Encoders.scalaLong
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (uid: Long, evs: Iterator[Event], state: GroupState[UserTotals]) => {
          val prev = state.getOption.getOrElse(UserTotals(uid, 0L, 0.0))
          var n = prev.n_events
          var total = prev.total_value
          // sorted fold, not iterator order: the group iterator's order
          // follows shuffle-read order, and double addition is not
          // commutative in the last ulp — the same determinism rule the
          // sibling operators apply (and PageRank's sorted-fold sums)
          evs.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            n += 1; total += e.value
          }
          val next = UserTotals(uid, n, total)
          state.update(next)
          Iterator(next)
        })
  }
}
