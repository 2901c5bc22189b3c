package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Error-burst detection — the streaming twin of the batch e97 screen:
  * for every error event, the number of that user's errors in the
  * trailing `windowMs` (5 min) of EVENT time; `alerts` filters to
  * bursts ≥ a threshold (a stuck client / rage loop, caught live
  * instead of in tomorrow's batch sweep).
  *
  * State per user is the timestamps inside one trailing window —
  * bounded by window width × the user's error rate PER LIVE KEY.
  * The DEFAULT [[detect]] evicts a user once the event-time watermark
  * passes their newest error + windowMs — provably past the point
  * where the buffer could influence any future on-time count, so
  * total state is bounded by the LIVE key set. [[detectUnbounded]]
  * is the NoTimeout parity/test twin (watermark-free exact replay —
  * dead keys hold their last window forever); do not deploy it.
  *
  * Out-of-order arrivals: within a batch, events are processed in
  * event-time order (intra-batch disorder repaired exactly); a
  * cross-batch late event strictly older than the newest stored
  * timestamp is dropped — it can no longer change any future burst
  * count, and counting it against an already-emitted window would
  * double-fire. Equal-timestamp arrivals still count (the batch RANGE
  * frame treats ties as peers, so the LAST member of a tie group
  * carries the full group count — the per-user max matches the batch
  * frame either way, which is what ErrorBurstParitySpec pins).
  */
object ErrorBurstStage {
  final case class Ev(userId: Long, tsMs: Long)
  final case class Burst(userId: Long, tsMs: Long, count: Long)
  final case class BurstState(recent: Seq[Long])

  val WindowMs: Long = 5L * 60 * 1000

  /** NoTimeout parity/replay twin of [[detect]] — state is never
    * evicted (grows with the key space); test/parity use only. */
  def detectUnbounded(events: Dataset[Ev], windowMs: Long = WindowMs): Dataset[Burst] = {
    implicit val stEnc = Encoders.product[BurstState]
    implicit val outEnc = Encoders.product[Burst]
    events
      .groupByKey(_.userId)(Encoders.scalaLong)
      .flatMapGroupsWithState[BurstState, Burst](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[BurstState]) =>
          var buf = state.getOption.map(_.recent).getOrElse(Seq.empty)
          val out = Seq.newBuilder[Burst]
          evs.map(_.tsMs).toSeq.sorted.foreach { ts =>
            if (buf.isEmpty || ts >= buf.last) {
              buf = (buf :+ ts).dropWhile(_ < ts - windowMs)
              out += Burst(userId, ts, buf.size.toLong)
            } // else: late beyond the newest stored event — dropped
          }
          state.update(BurstState(buf))
          out.result().iterator
      }
  }

  /** Bursts at or above the alert threshold (e97's ≥3-in-5-min shape),
    * on the unbounded parity twin — production alerting filters
    * [[detect]]'s output the same way. */
  def alerts(events: Dataset[Ev], threshold: Long = 3L,
             windowMs: Long = WindowMs): Dataset[Burst] =
    detectUnbounded(events, windowMs).filter(_.count >= threshold)

  /** Burst detection with EVENT-TIME state eviction — the production
    * DEFAULT (bounded state).
    * `events` must carry `user_id` and an `ets` timestamp column (the
    * watermark source, same contract as SessionPipeline's
    * sessionizeWithTimeout). A user's state is removed once the
    * watermark passes their newest stored error + windowMs: at that
    * point every buffered timestamp is older than any on-time event's
    * trailing window, so eviction cannot change a future on-time count.
    * The one divergence from NoTimeout: an extremely late error (older
    * than an already-evicted buffer) restarts a fresh window of 1
    * instead of being recognized as older-than-newest and dropped —
    * visible only beyond the watermark delay + windowMs horizon. */
  def detect(events: DataFrame, windowMs: Long = WindowMs,
             watermark: String = "10 minutes"): Dataset[Burst] = {
    implicit val stEnc = Encoders.product[BurstState]
    implicit val outEnc = Encoders.product[Burst]
    implicit val tupEnc = Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP)
    events
      .withWatermark("ets", watermark)
      .select(col("user_id"), col("ets"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[BurstState, Burst](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, evs: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[BurstState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var buf = state.getOption.map(_.recent).getOrElse(Seq.empty)
            val out = Seq.newBuilder[Burst]
            evs.map(_._2.getTime).toSeq.sorted.foreach { ts =>
              if (buf.isEmpty || ts >= buf.last) {
                buf = (buf :+ ts).dropWhile(_ < ts - windowMs)
                out += Burst(userId, ts, buf.size.toLong)
              } // else: late beyond the newest stored event — dropped
            }
            state.update(BurstState(buf))
            // never set a horizon at/behind the current watermark (Spark
            // rejects it); a replayed old key just times out next batch
            state.setTimeoutTimestamp(
              math.max(buf.last + windowMs, state.getCurrentWatermarkMs + 1))
            out.result().iterator
          }
      }
  }
}
