package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-event position-in-session, live — the streaming twin of e107's
  * position frame (Events.sessionPositionSql): for every event, its
  * 1-based position within the user's current 30-min-gap session. The
  * downstream consumers are the same as e107's batch rollup (does money
  * arrive on click 1?) plus live UX triggers ("third page this visit →
  * show the banner").
  *
  * State per user is (last event time, current position) — two fields.
  * Eviction via [[trackWithTimeout]] is PROVABLY lossless for on-time
  * traffic: once the watermark passes lastMs + gapMs, any future
  * on-time event starts a new session at position 1 whether or not the
  * state row still exists, so removing it cannot change any output.
  *
  * Out-of-order arrivals: within a batch, events are processed in
  * (event-time, event-id) order — the batch window's total order, so
  * intra-batch disorder is repaired exactly; a cross-batch late event
  * strictly older than the stored last event time is dropped (its
  * position was already implicitly assigned by the events around it).
  */
object SessionPositionStage {
  final case class Ev(userId: Long, eventId: Long, tsMs: Long)
  final case class Pos(userId: Long, eventId: Long, tsMs: Long, pos: Long)
  final case class PosState(lastMs: Long, pos: Long)

  val GapMs: Long = 30L * 60 * 1000

  /** NoTimeout form for watermark-free exact replay/parity; production
    * deployments should use [[trackWithTimeout]] (see class doc). */
  def track(events: Dataset[Ev], gapMs: Long = GapMs): Dataset[Pos] = {
    implicit val stEnc = Encoders.product[PosState]
    implicit val outEnc = Encoders.product[Pos]
    events
      .groupByKey(_.userId)(Encoders.scalaLong)
      .flatMapGroupsWithState[PosState, Pos](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[PosState]) =>
          var st = state.getOption.orNull
          val out = Seq.newBuilder[Pos]
          evs.toSeq.sortBy(e => (e.tsMs, e.eventId)).foreach { e =>
            if (st == null || e.tsMs >= st.lastMs) {
              st = if (st == null || e.tsMs - st.lastMs > gapMs)
                PosState(e.tsMs, 1L) else PosState(e.tsMs, st.pos + 1L)
              out += Pos(userId, e.eventId, e.tsMs, st.pos)
            } // else: late beyond the newest processed event — dropped
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
  }

  /** [[track]] with EVENT-TIME state eviction — the production shape.
    * `events` must carry `user_id`, `event_id`, and an `ets` timestamp
    * column (watermark source). Lossless eviction: the horizon is the
    * session gap itself (see class doc). */
  def trackWithTimeout(events: DataFrame, gapMs: Long = GapMs,
                       watermark: String = "10 minutes"): Dataset[Pos] = {
    implicit val stEnc = Encoders.product[PosState]
    implicit val outEnc = Encoders.product[Pos]
    implicit val inEnc =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.TIMESTAMP)
    events
      .withWatermark("ets", watermark)
      .select(col("user_id"), col("event_id"), col("ets"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[PosState, Pos](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, evs: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[PosState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.orNull
            val out = Seq.newBuilder[Pos]
            evs.toSeq.sortBy(e => (e._3.getTime, e._2)).foreach { e =>
              val ts = e._3.getTime
              if (st == null || ts >= st.lastMs) {
                st = if (st == null || ts - st.lastMs > gapMs)
                  PosState(ts, 1L) else PosState(ts, st.pos + 1L)
                out += Pos(userId, e._2, ts, st.pos)
              } // else: late beyond the newest processed event — dropped
            }
            if (st != null) {
              state.update(st)
              state.setTimeoutTimestamp(
                math.max(st.lastMs + gapMs, state.getCurrentWatermarkMs + 1))
            }
            out.result().iterator
          }
      }
  }
}
