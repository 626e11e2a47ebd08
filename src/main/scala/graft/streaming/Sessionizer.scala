package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful gap-based sessionization via `flatMapGroupsWithState` — the
  * custom-state streaming operator the reference has no equivalent of
  * (SURVEY §2.11: streaming is green-field for this engine).
  *
  * State per user is one open session (start, last-seen, count); a new
  * event either extends it or closes it and emits the finished session.
  * With event-time timeout, sessions also close when the watermark passes
  * `gap` after the last event — bounded state at any scale (state size is
  * O(active users), not O(events)).
  *
  * The state store keeps [[SessionState]] rows and the output schema is
  * [[Session]]'s: changing either case class breaks every existing
  * checkpoint, which then has to be discarded and the stream replayed.
  */
object Sessionizer {

  case class Event(user_id: Long, ts: Timestamp, event_type: String)
  case class SessionState(start: Long, lastSeen: Long, nEvents: Long)
  case class Session(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long)

  def sessionize(
      events: Dataset[Event],
      gapSeconds: Long,
      streaming: Boolean): Dataset[Session] = {
    import events.sparkSession.implicits._
    val withWm =
      if (streaming) events.withWatermark("ts", s"$gapSeconds seconds")
      else events

    def fn(
        userId: Long,
        rows: Iterator[Event],
        state: GroupState[SessionState]): Iterator[Session] = {
      val out = Seq.newBuilder[Session]
      if (state.hasTimedOut) {
        val s = state.get
        out += Session(userId, new Timestamp(s.start), new Timestamp(s.lastSeen), s.nEvents)
        state.remove()
      } else {
        // Batch mode delivers all rows at once; micro-batches deliver
        // slices. Events inside a group are not ordering-guaranteed, so
        // sort the slice (per-user slices are small).
        val sorted = rows.toSeq.sortBy(_.ts.getTime)
        var cur = state.getOption
        sorted.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.lastSeen <= gapSeconds * 1000 =>
              cur = Some(s.copy(lastSeen = math.max(s.lastSeen, t), nEvents = s.nEvents + 1))
            case Some(s) =>
              out += Session(userId, new Timestamp(s.start), new Timestamp(s.lastSeen), s.nEvents)
              cur = Some(SessionState(t, t, 1))
            case None =>
              cur = Some(SessionState(t, t, 1))
          }
        }
        cur match {
          case Some(s) if streaming =>
            state.update(s)
            state.setTimeoutTimestamp(s.lastSeen + gapSeconds * 1000)
          case Some(s) =>
            // Batch: no more data is coming — emit the open session.
            out += Session(userId, new Timestamp(s.start), new Timestamp(s.lastSeen), s.nEvents)
            state.remove()
          case None => ()
        }
      }
      out.result().iterator
    }

    withWm
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append,
        if (streaming) GroupStateTimeout.EventTimeTimeout
        else GroupStateTimeout.NoTimeout)(fn)
  }

  /** Adapter from the raw events table. */
  def fromEventsTable(spark: SparkSession, events: org.apache.spark.sql.DataFrame): Dataset[Event] = {
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("event_type")).as[Event]
  }
}
