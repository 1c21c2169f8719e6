package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming sessionization — the streaming twin of the batch
  * window sessionizer (SparkEntry q35): a gap > `gapUs` between consecutive
  * events of one user opens a new session. Per-user state
  * (last event time, running session index) lives in
  * `flatMapGroupsWithState`, so sessions span micro-batches — the
  * "custom state" tier of the Structured Streaming mandate
  * (KeyValueGroupedDataset.flatMapGroupsWithState).
  *
  * Ordering contract: events are processed in (ts, event_id) order WITHIN
  * each micro-batch (the group iterator is sorted here); cross-batch order
  * is the source's responsibility (bounded lateness via watermark +
  * ordered replay). StreamingSessionSpec pins batch ≡ streaming equality
  * across a multi-batch replay. */
object Sessionize {

  final case class SessionEvent(event_id: Long, user_id: Long, us: Long)
  final case class SessionState(lastUs: Long, idx: Long)
  final case class SessionAssign(event_id: Long, user_id: Long, session_idx: Long)

  /** Works on both a streaming and a batch frame with columns
    * (event_id, user_id, ts). Output: (event_id, user_id, session_idx),
    * session_idx 1-based per user — identical to the batch q35 rule. */
  def assign(events: DataFrame, gapUs: Long = 600000000L): Dataset[SessionAssign] = {
    val spark = events.sparkSession
    import spark.implicits._
    // null ts → MinValue+1: sorts first within its micro-batch (the batch
    // twin's nulls-first ordering) instead of an encoder NPE on the
    // non-nullable Long field, which would kill the whole streaming query
    // on one malformed event. MinValue itself
    // stays reserved for the no-events-seen state sentinel.
    events.select(col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"),
        coalesce(unix_micros(col("ts").cast("timestamp")),
          lit(Long.MinValue + 1)).as("us"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionAssign](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val sorted = it.toArray.sortBy(e => (e.us, e.event_id))
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L))
          val out = sorted.map { e =>
            // Sentinels short-circuit BEFORE any subtraction — the batch twin
            // (q35) gives every null-ts row prev_us NULL ⇒ new session, and
            // the first real event after one sees a NULL lag ⇒ new session:
            //  - e.us == MinValue+1: THIS event has null ts → always a new
            //    session (never left to signed-overflow wrap, which would
            //    glue it onto the prior session for lastUs <= 0);
            //  - st.lastUs <= MinValue+1: no-events-seen (MinValue) or the
            //    LAST event had null ts (MinValue+1) → new session.
            // Past the guards both operands are real microsecond timestamps,
            // so the subtraction cannot overflow.
            val newSess = e.us == Long.MinValue + 1 ||
              st.lastUs <= Long.MinValue + 1 || e.us - st.lastUs > gapUs
            st = SessionState(e.us, if (newSess) st.idx + 1 else st.idx)
            SessionAssign(e.event_id, e.user_id, st.idx)
          }
          state.update(st)
          out.iterator
      }
  }
}
