package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Gap-based sessionization with custom state — the streaming twin of the
  * batch e01_sessionize operator, via flatMapGroupsWithState.
  *
  * State per user is one open session (bounded); an event-time timeout
  * closes idle sessions, so state size is O(active users), not O(events).
  */
object SessionPipeline {
  final case class Ev(userId: Long, tsMs: Long)
  final case class OpenSession(startMs: Long, lastMs: Long, n: Long)
  final case class Session(userId: Long, startMs: Long, endMs: Long, nEvents: Long, durMs: Long)

  val GapMs: Long = 30L * 60 * 1000

  /** Emits CLOSED sessions. Events within GapMs extend the open session;
    * a larger gap (or timeout) closes it. */
  def sessionize(events: Dataset[Ev]): Dataset[Session] = {
    implicit val stEnc = Encoders.product[OpenSession]
    implicit val outEnc = Encoders.product[Session]
    events
      .groupByKey(_.userId)(Encoders.scalaLong)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[OpenSession]) =>
          val sorted = evs.toSeq.sortBy(e => (e.tsMs))
          var open = state.getOption
          val closed = Seq.newBuilder[Session]
          sorted.foreach { e =>
            open match {
              case Some(s) if e.tsMs - s.lastMs <= GapMs =>
                open = Some(s.copy(lastMs = e.tsMs, n = s.n + 1))
              case Some(s) =>
                closed += Session(userId, s.startMs, s.lastMs, s.n, s.lastMs - s.startMs)
                open = Some(OpenSession(e.tsMs, e.tsMs, 1))
              case None =>
                open = Some(OpenSession(e.tsMs, e.tsMs, 1))
            }
          }
          open match {
            case Some(s) => state.update(s)
            case None    => state.remove()
          }
          closed.result().iterator
      }
  }

  final case class EvV(userId: Long, tsMs: Long, cents: Long)
  final case class OpenRev(startMs: Long, lastMs: Long, n: Long, cents: Long)
  final case class RevSession(userId: Long, startMs: Long, endMs: Long,
                              nEvents: Long, cents: Long)

  /** Revenue-carrying sessionizer: [[sessionize]] plus an exact
    * integer-cent accumulator per open session — the streaming twin of
    * the batch e66 per-session revenue frame (LambdaParitySpec holds
    * the two to the same multiset). State stays one open session per
    * user; revenue adds one long to it. */
  def sessionizeRevenue(events: Dataset[EvV]): Dataset[RevSession] = {
    implicit val stEnc = Encoders.product[OpenRev]
    implicit val outEnc = Encoders.product[RevSession]
    events
      .groupByKey(_.userId)(Encoders.scalaLong)
      .flatMapGroupsWithState[OpenRev, RevSession](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, evs: Iterator[EvV], state: GroupState[OpenRev]) =>
          val sorted = evs.toSeq.sortBy(_.tsMs)
          var open = state.getOption
          val closed = Seq.newBuilder[RevSession]
          sorted.foreach { e =>
            open match {
              case Some(s) if e.tsMs - s.lastMs <= GapMs =>
                open = Some(s.copy(lastMs = e.tsMs, n = s.n + 1, cents = s.cents + e.cents))
              case Some(s) =>
                closed += RevSession(userId, s.startMs, s.lastMs, s.n, s.cents)
                open = Some(OpenRev(e.tsMs, e.tsMs, 1, e.cents))
              case None =>
                open = Some(OpenRev(e.tsMs, e.tsMs, 1, e.cents))
            }
          }
          open match {
            case Some(s) => state.update(s)
            case None    => state.remove()
          }
          closed.result().iterator
      }
  }

  /** Sessionization with EVENT-TIME TIMEOUT: a user who goes silent has
    * their open session emitted (and state evicted) once the watermark
    * passes `lastMs + GapMs`. This is what makes the "bounded state"
    * claim true for dead keys — plain [[sessionize]] would hold their
    * open session forever. `events` must carry `user_id` and an `ets`
    * timestamp column (watermark source). */
  def sessionizeWithTimeout(events: DataFrame, watermark: String = "30 minutes"): Dataset[Session] = {
    implicit val stEnc = Encoders.product[OpenSession]
    implicit val outEnc = Encoders.product[Session]
    implicit val tupEnc = Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP)
    events
      .withWatermark("ets", watermark)
      .select(col("user_id"), col("ets"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, evs: Iterator[(Long, java.sql.Timestamp)], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.startMs, s.lastMs, s.n, s.lastMs - s.startMs))
          } else {
            val sorted = evs.map(_._2.getTime).toSeq.sorted
            var open = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { ms =>
              open match {
                case Some(s) if ms - s.lastMs <= GapMs =>
                  open = Some(s.copy(lastMs = ms, n = s.n + 1))
                case Some(s) =>
                  closed += Session(userId, s.startMs, s.lastMs, s.n, s.lastMs - s.startMs)
                  open = Some(OpenSession(ms, ms, 1))
                case None =>
                  open = Some(OpenSession(ms, ms, 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              // evict once the watermark passes the session's gap horizon
              state.setTimeoutTimestamp(s.lastMs + GapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** The DECLARATIVE form: Spark's built-in `session_window` aggregation.
    * Emits the same closed sessions as [[sessionizeWithTimeout]] — Spark
    * merges adjacent windows and evicts past-watermark state internally,
    * with zero user state code (and state-store/RocksDB support for
    * free). `session_window.end` is `last event + gap`, so `endMs`
    * subtracts the gap back to the last-event timestamp to match the
    * custom pipeline's schema bit-for-bit.
    *
    * Preference order at scale: this built-in when the per-session
    * output is pure aggregation; flatMapGroupsWithState only when
    * in-session logic can't be expressed as aggregates. */
  def sessionizeBuiltin(events: DataFrame, watermark: String = "30 minutes"): DataFrame = {
    import org.apache.spark.sql.functions._
    events
      .withWatermark("ets", watermark)
      .groupBy(col("user_id"), session_window(col("ets"), s"$GapMs milliseconds").as("w"))
      .agg(count(lit(1)).as("nEvents"))
      .select(col("user_id").as("userId"),
        unix_millis(col("w.start")).as("startMs"),
        (unix_millis(col("w.end")) - lit(GapMs)).as("endMs"),
        col("nEvents"),
        (unix_millis(col("w.end")) - lit(GapMs) - unix_millis(col("w.start"))).as("durMs"))
  }
}
