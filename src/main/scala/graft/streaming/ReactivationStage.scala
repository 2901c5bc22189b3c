package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Dormancy-reactivation alerts — the streaming twin of the batch e78
  * census: emit an alert the moment a user fires an event after ≥
  * `dormMs` of silence (the win-back trigger a nightly batch sees a day
  * late).
  *
  * State per user is ONE long (the last-seen event time) — O(active
  * users) regardless of event volume, and strictly smaller state than
  * the sessionizer's. ReactivationParitySpec holds the replayed stream
  * to e78's per-user reactivation frame exactly.
  *
  * Out-of-order arrivals: the stored last-seen time is MONOTONE — an
  * event at or before it is late, contributes no alert, and never
  * regresses the state (a late old event must not make the next
  * on-time event look like a reactivation). Within a batch events are
  * processed in event-time order, so intra-batch disorder is repaired
  * exactly; cross-batch late data is dropped from the dormancy clock.
  */
object ReactivationStage {
  final case class Ev(userId: Long, tsMs: Long)
  final case class Reactivation(userId: Long, prevMs: Long, tsMs: Long, dormMs: Long)

  val DormMs: Long = 2L * 86400000L

  def detect(events: Dataset[Ev], dormMs: Long = DormMs): Dataset[Reactivation] = {
    implicit val stEnc = Encoders.scalaLong
    implicit val outEnc = Encoders.product[Reactivation]
    events
      .groupByKey(_.userId)(Encoders.scalaLong)
      .flatMapGroupsWithState[Long, Reactivation](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[Long]) =>
          val sorted = evs.map(_.tsMs).toSeq.sorted
          val alerts = Seq.newBuilder[Reactivation]
          var last = state.getOption
          sorted.foreach { ts =>
            last match {
              case Some(prev) if ts <= prev => () // late: never regress state
              case Some(prev) =>
                if (ts - prev > dormMs)
                  alerts += Reactivation(userId, prev, ts, ts - prev)
                last = Some(ts)
              case None => last = Some(ts)
            }
          }
          last.foreach(state.update)
          alerts.result().iterator
      }
  }
}
