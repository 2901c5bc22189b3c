package graft.streaming

import graft.SparkSpec
import graft.streaming.RunLengthStage.{Ev, Run}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Lambda parity for run tracking: the streaming stage, replayed over
  * the real sf0.001 events, must report the same per-(user, type) MAX
  * run length as e98's run frame (the CTEs of the text e98 runs) — one
  * definition of "run"
  * for the live alert and the nightly profile. */
class RunLengthParitySpec extends SparkSpec {
  import spark.implicits._

  test("streaming runs over replayed sf0.001 events equal batch e98's per-user-type max") {
    implicit val sq = spark.sqlContext

    val batch = graft.engine.Tables.sql(spark, sf, graft.operators.Events.typeRunSql)
      .groupBy("user_id", "event_type").agg(org.apache.spark.sql.functions.max("run_len").as("mx"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq.sorted

    val evs = graft.engine.Tables.events(spark, sf)
      .select("user_id", "event_id", "ms", "event_type").collect()
      .map(r => Ev(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(e => (e.tsMs, e.eventId))

    val input = MemoryStream[Ev]
    val query = RunLengthStage.detectUnbounded(input.toDS()).writeStream
      .format("memory").queryName("parity_runs")
      .outputMode(OutputMode.Append())
      .start()
    val streamed =
      try {
        // replay in three arrival chunks so runs straddle batch boundaries
        val chunks = evs.grouped(math.max(1, evs.length / 3 + 1)).toSeq
        chunks.foreach { c => input.addData(c.toIndexedSeq); query.processAllAvailable() }
        spark.table("parity_runs").as[Run].collect()
      } finally query.stop()

    val rolled = streamed.groupBy(r => (r.userId, r.eventType)).map { case ((u, t), rs) =>
      (u, t, rs.map(_.runLen).max)
    }.toSeq.sorted

    assert(rolled == batch, "streaming/batch run frames differ")
  }

  test("run reset, continuation across batches, and late-drop semantics") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Ev]
    val query = RunLengthStage.detectUnbounded(input.toDS()).writeStream
      .format("memory").queryName("runs_sem")
      .outputMode(OutputMode.Append())
      .start()
    val streamed =
      try {
        input.addData(Ev(1, 1, 100, "view"), Ev(1, 2, 200, "view"))
        query.processAllAvailable()
        // continuation across the batch boundary, then a type switch
        input.addData(Ev(1, 3, 300, "view"), Ev(1, 4, 400, "click"))
        query.processAllAvailable()
        // late event (ts < 400) must drop, then the run continues
        input.addData(Ev(1, 5, 250, "view"), Ev(1, 6, 500, "click"))
        query.processAllAvailable()
        spark.table("runs_sem").as[Run].collect().toSeq.sortBy(_.tsMs)
      } finally query.stop()
    assert(streamed == Seq(
      Run(1, 100, "view", 1), Run(1, 200, "view", 2), Run(1, 300, "view", 3),
      Run(1, 400, "click", 1), Run(1, 500, "click", 2)), s"got $streamed")
  }

  test("default detect (event-time eviction) continues runs within the horizon and evicts idle state") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    val m = 60000L
    val input = MemoryStream[Ev]
    val events = input.toDS()
      .select(col("userId").as("user_id"), col("eventId").as("event_id"),
        timestamp_millis(col("tsMs")).as("ets"),
        col("eventType").as("event_type"))
    val query = RunLengthStage
      .detect(events, idleTimeoutMs = 5 * m).writeStream
      .format("memory").queryName("runs_evict")
      .outputMode(OutputMode.Append())
      .start()
    def stateRows: Long =
      query.lastProgress.stateOperators(0).numRowsTotal
    val streamed =
      try {
        input.addData(Ev(1, 1, 10 * m, "view"), Ev(1, 2, 12 * m, "view"))
        query.processAllAvailable()
        // run continues across the batch boundary, inside the horizon
        input.addData(Ev(1, 3, 13 * m, "view"))
        query.processAllAvailable()
        assert(stateRows == 1L, s"user 1 live: $stateRows")
        // u2@60m advances the watermark to 50m; user 1's horizon was
        // 13m + 5m = 18m < 50m, so the follow-up micro-batch fires
        // their timeout — state holds ONLY u2 afterwards
        input.addData(Ev(2, 4, 60 * m, "view"))
        query.processAllAvailable()
        assert(stateRows == 1L, s"idle user 1 not evicted: $stateRows")
        // u2's state survived the eviction sweep: its run continues
        input.addData(Ev(2, 5, 61 * m, "view"))
        query.processAllAvailable()
        assert(stateRows == 1L, s"unexpected state rows: $stateRows")
        spark.table("runs_evict").as[Run].collect().toSeq
          .sortBy(r => (r.userId, r.tsMs))
      } finally query.stop()
    assert(streamed == Seq(
      Run(1, 10 * m, "view", 1), Run(1, 12 * m, "view", 2),
      Run(1, 13 * m, "view", 3),
      Run(2, 60 * m, "view", 1), Run(2, 61 * m, "view", 2)), s"got $streamed")
  }
}
