package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Same-type run tracking — the streaming twin of the batch e98
  * profile: for every event, the length of the user's CURRENT
  * consecutive same-type run; `alerts` filters to runs ≥ a threshold
  * (a scripted view/click loop or a purchase double-submit, caught on
  * the event that crosses the line instead of in tomorrow's sweep).
  *
  * State per user is (last type, current run length, last event time)
  * — three fields regardless of event volume or run length, PER LIVE
  * KEY. The DEFAULT [[detect]] evicts users idle past a configurable
  * horizon (a run resuming after that horizon restarts at 1 — a
  * semantic choice, not an approximation: a "run" separated by a day
  * of silence is two behavioral episodes), so total state is bounded
  * by the LIVE key set. [[detectUnbounded]] is the NoTimeout
  * parity/test twin (watermark-free exact replay — state grows with
  * the key space); do not deploy it.
  *
  * Out-of-order arrivals: within a batch, events are processed in
  * (event-time, event-id) order — the same total order the batch
  * window uses, so intra-batch disorder is repaired exactly; a
  * cross-batch late event strictly older than the stored last event
  * time is dropped (splicing it into an already-emitted run would
  * re-emit lengths for a run the consumer has already seen).
  */
object RunLengthStage {
  final case class Ev(userId: Long, eventId: Long, tsMs: Long, eventType: String)
  final case class Run(userId: Long, tsMs: Long, eventType: String, runLen: Long)
  final case class RunState(lastType: String, runLen: Long, lastMs: Long)

  /** NoTimeout parity/replay twin of [[detect]] — state is never
    * evicted (grows with the key space); test/parity use only. */
  def detectUnbounded(events: Dataset[Ev]): Dataset[Run] = {
    implicit val stEnc = Encoders.product[RunState]
    implicit val outEnc = Encoders.product[Run]
    events
      .groupByKey(_.userId)(Encoders.scalaLong)
      .flatMapGroupsWithState[RunState, Run](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[RunState]) =>
          var st = state.getOption.orNull
          val out = Seq.newBuilder[Run]
          evs.toSeq.sortBy(e => (e.tsMs, e.eventId)).foreach { e =>
            if (st == null || e.tsMs >= st.lastMs) {
              val len = if (st != null && st.lastType == e.eventType) st.runLen + 1 else 1L
              st = RunState(e.eventType, len, e.tsMs)
              out += Run(userId, e.tsMs, e.eventType, len)
            } // else: late beyond the newest processed event — dropped
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
  }

  /** Runs at or above the alert threshold, on the unbounded parity
    * twin — production alerting filters [[detect]]'s output the same
    * way. */
  def alerts(events: Dataset[Ev], threshold: Long = 5L): Dataset[Run] =
    detectUnbounded(events).filter(_.runLen >= threshold)

  /** Run tracking with EVENT-TIME state eviction — the production
    * DEFAULT (bounded state).
    * `events` must carry `user_id`, `event_id`, `event_type`, and an
    * `ets` timestamp column (watermark source). A user idle past
    * `idleTimeoutMs` of event time is evicted; if they return with the
    * same event type, the run restarts at 1 (see the class doc — runs
    * are episodes, and the idle horizon defines the episode). Default
    * 24 h: far past any behavioral burst, so alert semantics match
    * [[detect]] on real traffic while dead keys stop accumulating. */
  def detect(events: DataFrame,
             idleTimeoutMs: Long = 24L * 3600 * 1000,
             watermark: String = "10 minutes"): Dataset[Run] = {
    implicit val stEnc = Encoders.product[RunState]
    implicit val outEnc = Encoders.product[Run]
    implicit val inEnc =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.TIMESTAMP, Encoders.STRING)
    events
      .withWatermark("ets", watermark)
      .select(col("user_id"), col("event_id"), col("ets"), col("event_type"))
      .as[(Long, Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[RunState, Run](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, evs: Iterator[(Long, Long, java.sql.Timestamp, String)],
         state: GroupState[RunState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.orNull
            val out = Seq.newBuilder[Run]
            evs.toSeq.sortBy(e => (e._3.getTime, e._2)).foreach { e =>
              val ts = e._3.getTime
              if (st == null || ts >= st.lastMs) {
                val len =
                  if (st != null && st.lastType == e._4) st.runLen + 1 else 1L
                st = RunState(e._4, len, ts)
                out += Run(userId, ts, e._4, len)
              } // else: late beyond the newest processed event — dropped
            }
            if (st != null) {
              state.update(st)
              state.setTimeoutTimestamp(
                math.max(st.lastMs + idleTimeoutMs,
                  state.getCurrentWatermarkMs + 1))
            }
            out.result().iterator
          }
      }
  }
}
