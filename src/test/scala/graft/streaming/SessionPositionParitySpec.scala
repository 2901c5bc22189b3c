package graft.streaming

import graft.SparkSpec
import graft.streaming.SessionPositionStage.{Ev, Pos}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Lambda parity for position-in-session: the streaming stage, replayed
  * over the real sf0.001 events, must assign every event the same
  * position as e107's position frame (the CTEs of the text e107
  * runs) — one definition of "position" for
  * the live tracker and the nightly rollup. */
class SessionPositionParitySpec extends SparkSpec {
  import spark.implicits._

  test("streaming positions over replayed sf0.001 events equal batch e107's frame") {
    implicit val sq = spark.sqlContext

    val batch = graft.engine.Tables.sql(spark, sf, graft.operators.Events.sessionPositionSql)
      .select("user_id", "event_id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

    val evs = graft.engine.Tables.events(spark, sf)
      .select("user_id", "event_id", "ms").collect()
      .map(r => Ev(r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(e => (e.tsMs, e.eventId))

    val input = MemoryStream[Ev]
    val query = SessionPositionStage.track(input.toDS()).writeStream
      .format("memory").queryName("parity_pos")
      .outputMode(OutputMode.Append())
      .start()
    val streamed =
      try {
        // replay in three arrival chunks so sessions straddle batches
        val chunks = evs.grouped(math.max(1, evs.length / 3 + 1)).toSeq
        chunks.foreach { c => input.addData(c.toIndexedSeq); query.processAllAvailable() }
        spark.table("parity_pos").as[Pos].collect()
      } finally query.stop()

    assert(streamed.length == batch.size,
      s"event coverage: streamed ${streamed.length} vs batch ${batch.size}")
    streamed.foreach { p =>
      assert(batch((p.userId, p.eventId)) == p.pos,
        s"position mismatch for user ${p.userId} event ${p.eventId}: " +
          s"streamed ${p.pos} batch ${batch((p.userId, p.eventId))}")
    }
  }

  test("gap reset, late drop, and lossless idle eviction") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    val m = 60000L
    val input = MemoryStream[Ev]
    val events = input.toDS()
      .select(col("userId").as("user_id"), col("eventId").as("event_id"),
        timestamp_millis(col("tsMs")).as("ets"))
    val query = SessionPositionStage.trackWithTimeout(events).writeStream
      .format("memory").queryName("pos_evict")
      .outputMode(OutputMode.Append())
      .start()
    def stateRows: Long =
      query.lastProgress.stateOperators(0).numRowsTotal
    val streamed =
      try {
        input.addData(Ev(1, 1, 10 * m), Ev(1, 2, 15 * m))
        query.processAllAvailable()
        // continuation across the batch boundary (within the 30-min gap)
        input.addData(Ev(1, 3, 20 * m))
        query.processAllAvailable()
        assert(stateRows == 1L, s"user 1 live: $stateRows")
        // u2@120m advances the watermark to 110m; user 1's horizon was
        // 20m + 30m = 50m < 110m → the follow-up batch evicts u1
        input.addData(Ev(2, 4, 120 * m))
        query.processAllAvailable()
        assert(stateRows == 1L, s"idle user 1 not evicted: $stateRows")
        // user 2 continues within the gap — position carries on
        input.addData(Ev(2, 5, 125 * m))
        query.processAllAvailable()
        spark.table("pos_evict").as[Pos].collect().toSeq
          .sortBy(p => (p.userId, p.tsMs))
      } finally query.stop()
    assert(streamed == Seq(
      Pos(1, 1, 10 * m, 1L), Pos(1, 2, 15 * m, 2L), Pos(1, 3, 20 * m, 3L),
      Pos(2, 4, 120 * m, 1L), Pos(2, 5, 125 * m, 2L)), s"got $streamed")
  }
}
