package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Ordered view→click→purchase funnel tracking — the streaming twin of
  * the batch e03 funnel: emit a stage-advance event the moment a user
  * first completes a stage (first view; first click strictly after that
  * view; first purchase strictly after that click).
  *
  * State per user is three longs (the stage timestamps, −1 = not
  * reached) — bounded at O(users) forever. Strict `>` stage ordering
  * makes same-millisecond arrival-order ties irrelevant, which is what
  * lets FunnelParitySpec hold the replayed stream to batch e03's exact
  * stage counts.
  */
object FunnelStage {
  final case class Ev(userId: Long, tsMs: Long, eventType: String)
  final case class FunnelState(vms: Long, cms: Long, pms: Long)
  final case class Advance(userId: Long, stage: String, tsMs: Long)

  def track(events: Dataset[Ev]): Dataset[Advance] = {
    implicit val stEnc = Encoders.product[FunnelState]
    implicit val outEnc = Encoders.product[Advance]
    events
      .groupByKey(_.userId)(Encoders.scalaLong)
      .flatMapGroupsWithState[FunnelState, Advance](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          val out = Seq.newBuilder[Advance]
          evs.toSeq.sortBy(_.tsMs).foreach { e =>
            e.eventType match {
              case "view" if st.vms < 0 =>
                st = st.copy(vms = e.tsMs)
                out += Advance(userId, "step1_view", e.tsMs)
              case "click" if st.vms >= 0 && st.cms < 0 && e.tsMs > st.vms =>
                st = st.copy(cms = e.tsMs)
                out += Advance(userId, "step2_click", e.tsMs)
              case "purchase" if st.cms >= 0 && st.pms < 0 && e.tsMs > st.cms =>
                st = st.copy(pms = e.tsMs)
                out += Advance(userId, "step3_purchase", e.tsMs)
              case _ => ()
            }
          }
          state.update(st)
          out.result().iterator
      }
  }
}
