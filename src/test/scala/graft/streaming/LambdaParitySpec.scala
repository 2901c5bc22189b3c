package graft.streaming

import graft.SparkSpec
import graft.streaming.SessionPipeline.{Ev, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Lambda-architecture parity: the STREAMING session pipeline replayed
  * over the real sf0.001 events table must reproduce the BATCH
  * sessionizer (e01) exactly — same (user, start, end, n, duration)
  * multiset. This is the property that lets a backfill job and the live
  * stream share one definition of "session"; any drift between e01's
  * SQL text and SessionPipeline.sessionize fails here, not in
  * production reconciliation. */
class LambdaParitySpec extends SparkSpec {
  import spark.implicits._

  test("streaming sessionize over replayed sf0.001 events equals batch e01") {
    implicit val sq = spark.sqlContext

    // batch truth: e01's (user, sess) aggregate
    val batch = graft.Graft.run(spark, sf, "e01_sessionize")
      .select("user_id", "start_ms", "end_ms", "n_events", "dur_ms")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq.sorted

    // replay the same events into the streaming pipeline (arrival = event
    // order), then a per-user sentinel a day past the end to flush every
    // still-open session through the gap close
    val evs = graft.engine.Tables.events(spark, sf)
      .select("user_id", "ms").collect()
      .map(r => Ev(r.getLong(0), r.getLong(1)))
      .sortBy(_.tsMs)
    val flush = evs.map(_.userId).distinct
      .map(u => Ev(u, evs.last.tsMs + 86400000L))

    val input = MemoryStream[Ev]
    val query = SessionPipeline.sessionize(input.toDS()).writeStream
      .format("memory").queryName("parity_sessions")
      .outputMode(OutputMode.Append())
      .start()
    val streamed =
      try {
        input.addData(evs.toIndexedSeq)
        query.processAllAvailable()
        input.addData(flush.toIndexedSeq)
        query.processAllAvailable()
        spark.table("parity_sessions").as[Session].collect()
          .map(s => (s.userId, s.startMs, s.endMs, s.nEvents, s.durMs))
          .toSeq.sorted
      } finally query.stop()

    assert(streamed.size == batch.size,
      s"closed-session count: streaming ${streamed.size} vs batch ${batch.size}")
    assert(streamed == batch, "streaming/batch session multisets differ")
  }

  test("streaming session REVENUE over replayed sf0.001 events equals batch e66's frame") {
    import graft.streaming.SessionPipeline.{EvV, RevSession}
    implicit val sq = spark.sqlContext

    // batch truth: the per-session revenue frame e66 bands (the CTEs of
    // the text e66 runs)
    val batch = graft.engine.Tables.sql(spark, sf, graft.operators.Events.sessionRevenueSql)
      .select("user_id", "start_ms", "n_events", "cents")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted

    // replay with exact integer cents (purchase value → cents, else 0)
    val evs = graft.engine.Tables.events(spark, sf)
      .selectExpr("user_id", "ms",
        "coalesce(CASE WHEN event_type = 'purchase' " +
          "THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) END, CAST(0 AS BIGINT))")
      .collect()
      .map(r => EvV(r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_.tsMs)
    val flush = evs.map(_.userId).distinct
      .map(u => EvV(u, evs.last.tsMs + 86400000L, 0L))

    val input = MemoryStream[EvV]
    val query = SessionPipeline.sessionizeRevenue(input.toDS()).writeStream
      .format("memory").queryName("parity_rev_sessions")
      .outputMode(OutputMode.Append())
      .start()
    val streamed =
      try {
        input.addData(evs.toIndexedSeq)
        query.processAllAvailable()
        input.addData(flush.toIndexedSeq)
        query.processAllAvailable()
        spark.table("parity_rev_sessions").as[RevSession].collect()
          .map(s => (s.userId, s.startMs, s.nEvents, s.cents))
          .toSeq.sorted
      } finally query.stop()

    assert(streamed.size == batch.size,
      s"closed-session count: streaming ${streamed.size} vs batch ${batch.size}")
    assert(streamed == batch, "streaming/batch revenue-session multisets differ")
  }
}
