package graft.streaming

import graft.SparkSpec
import graft.streaming.ReactivationStage.{Ev, Reactivation}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Lambda parity for dormancy detection: the streaming reactivation
  * alerts, replayed over the real sf0.001 events table and rolled up
  * per user, must equal e78's reactivation frame (the CTEs of the text
  * e78 runs) exactly —
  * same (user, n_react, max_dorm_ms) multiset on the users that
  * reactivate at all. One definition of "dormancy" for backfill and
  * live stream. */
class ReactivationParitySpec extends SparkSpec {
  import spark.implicits._

  test("streaming reactivation alerts over replayed sf0.001 events equal batch e78's frame") {
    implicit val sq = spark.sqlContext

    val batch = graft.engine.Tables.sql(spark, sf, graft.operators.Events.reactivationSql)
      .filter("n_react > 0")
      .select("user_id", "n_react", "max_dorm_ms")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted

    val evs = graft.engine.Tables.events(spark, sf)
      .select("user_id", "ms").collect()
      .map(r => Ev(r.getLong(0), r.getLong(1)))
      .sortBy(_.tsMs)

    val input = MemoryStream[Ev]
    val query = ReactivationStage.detect(input.toDS()).writeStream
      .format("memory").queryName("parity_react")
      .outputMode(OutputMode.Append())
      .start()
    val streamed =
      try {
        // replay in two arrival chunks to prove state carries across batches
        val (a, b) = evs.splitAt(evs.length / 2)
        input.addData(a.toIndexedSeq)
        query.processAllAvailable()
        input.addData(b.toIndexedSeq)
        query.processAllAvailable()
        spark.table("parity_react").as[Reactivation].collect()
      } finally query.stop()

    val rolled = streamed.groupBy(_.userId).map { case (u, rs) =>
      (u, rs.size.toLong, rs.map(_.dormMs).max)
    }.toSeq.sorted

    assert(rolled == batch, "streaming/batch reactivation frames differ")
    // alerts carry a real dormancy interval and correct arithmetic
    streamed.foreach { r =>
      assert(r.dormMs == r.tsMs - r.prevMs && r.dormMs > ReactivationStage.DormMs)
    }
  }

  test("a late cross-batch arrival never regresses state into a false alert") {
    implicit val sq = spark.sqlContext
    val day = 86400000L
    val input = MemoryStream[Ev]
    val query = ReactivationStage.detect(input.toDS()).writeStream
      .format("memory").queryName("react_ooo")
      .outputMode(OutputMode.Append())
      .start()
    val streamed =
      try {
        // batch 1: user seen at t=10d
        input.addData(Ev(1L, 10 * day))
        query.processAllAvailable()
        // batch 2: a LATE event from t=1d — must not rewind last-seen
        input.addData(Ev(1L, 1 * day))
        query.processAllAvailable()
        // batch 3: on-time event at t=11d — only 1d after the true
        // last-seen, so NO reactivation (the buggy form would measure
        // 10d of dormancy against the late event and fire)
        input.addData(Ev(1L, 11 * day))
        query.processAllAvailable()
        // batch 4: genuine 3-day gap still fires exactly once
        input.addData(Ev(1L, 14 * day))
        query.processAllAvailable()
        spark.table("react_ooo").as[Reactivation].collect()
      } finally query.stop()
    assert(streamed.toSeq ==
      Seq(Reactivation(1L, 11 * day, 14 * day, 3 * day)),
      s"expected exactly the one genuine reactivation, got ${streamed.toSeq}")
  }
}
