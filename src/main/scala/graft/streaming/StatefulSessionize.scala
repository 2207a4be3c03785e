package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Streaming sessionization with explicit keyed state (the custom-state
 * tier of the reference's freshness concern, README.md:83,117)
 * (`flatMapGroupsWithState`) — the custom-state streaming surface
 * complementing Spark's built-in `session_window`.
 *
 * Why explicit state when `session_window` exists: the state here is an
 * arbitrary case class, so this shape extends to stateful enrichment the
 * built-in can't express (per-device rolling counters feeding early-signal
 * thresholds, dedup-within-key, custom eviction). Sessionization doubles
 * as the reference implementation because the batch operator
 * ([[graft.operators.Sessionize]]) gives it an exact oracle.
 *
 * Semantics: events for a user belong to one session while consecutive
 * gaps are ≤ `gapSeconds`. A session is emitted when a later event in the
 * same key exceeds the gap (in-batch close) or when the event-time
 * watermark passes `last_event + gap` (timeout close). State per key is
 * O(1) — only the open session, never the event history — so state-store
 * size is bounded by |active keys| at any scale.
 */
object StatefulSessionize {

  final case class Event(user_id: Long, ts: Timestamp, event_id: Long)
  final case class OpenSession(startMs: Long, lastMs: Long, n: Int)
  final case class Session(user_id: Long, start_ts: Timestamp, end_ts: Timestamp,
                           n_events: Int, duration_sec: Long)

  /** Close an open session into its emitted row — public so the q129
    * batch replay can flush end-of-log state exactly as the stream's
    * watermark timeout does. */
  def closeSession(user: Long, s: OpenSession): Session =
    Session(user, new Timestamp(s.startMs), new Timestamp(s.lastMs), s.n,
      (s.lastMs - s.startMs) / 1000)

  /** The pure per-group session automaton body of [[apply]]'s
    * flatMapGroupsWithState closure — public so a batch replay (declared
    * query q129) exercises the EXACT transition logic the stream runs
    * (sort by (event-time millis, event_id), gap-close, O(1) carried
    * state). Only the state-store plumbing (GroupState update/timeout vs
    * a cogrouped state table) differs between stream and replay.
    * Returns (still-open session, sessions closed by this batch). */
  def transition(user: Long, events: Iterator[Event],
                 prev: Option[OpenSession],
                 gapMs: Long): (Option[OpenSession], Seq[Session]) = {
    val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    val closed = Seq.newBuilder[Session]
    var open = prev
    sorted.foreach { e =>
      val t = e.ts.getTime
      open match {
        case Some(s) if t - s.lastMs <= gapMs =>
          open = Some(s.copy(lastMs = math.max(s.lastMs, t), n = s.n + 1))
        case Some(s) =>
          closed += closeSession(user, s)
          open = Some(OpenSession(t, t, 1))
        case None =>
          open = Some(OpenSession(t, t, 1))
      }
    }
    (open, closed.result())
  }

  def apply(events: Dataset[Event], gapSeconds: Long,
            watermark: String = "2 hours"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapSeconds * 1000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[Event], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(closeSession(user, _)).iterator
            state.remove()
            out
          } else {
            val (open, closed) = transition(user, it, state.getOption, gapMs)
            open.foreach { s =>
              state.update(s)
              // fire once the watermark passes the session's gap horizon
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.iterator
          }
      }
  }
}
