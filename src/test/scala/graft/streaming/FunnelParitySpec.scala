package graft.streaming

import graft.SparkSpec
import graft.streaming.FunnelStage.{Advance, Ev}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Lambda parity for the ordered funnel: streaming stage-advance events,
  * replayed over the real sf0.001 events table in time order, must roll
  * up to batch e03's exact per-stage user counts — one definition of
  * "converted" for the live dashboard and the backfill. */
class FunnelParitySpec extends SparkSpec {
  import spark.implicits._

  test("streaming funnel advances over replayed sf0.001 events equal batch e03") {
    implicit val sq = spark.sqlContext

    val batch = graft.Graft.run(spark, sf, "e03_funnel")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val evs = graft.engine.Tables.events(spark, sf)
      .select("user_id", "ms", "event_type").collect()
      .map(r => Ev(r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_.tsMs)

    val input = MemoryStream[Ev]
    val query = FunnelStage.track(input.toDS()).writeStream
      .format("memory").queryName("parity_funnel")
      .outputMode(OutputMode.Append())
      .start()
    val streamed =
      try {
        // two arrival chunks: funnel state must survive the batch boundary
        val (a, b) = evs.splitAt(evs.length / 2)
        input.addData(a.toIndexedSeq)
        query.processAllAvailable()
        input.addData(b.toIndexedSeq)
        query.processAllAvailable()
        spark.table("parity_funnel").as[Advance].collect()
      } finally query.stop()

    val counts = streamed.groupBy(_.stage).map { case (s, xs) =>
      s -> xs.map(_.userId).distinct.length.toLong
    }
    assert(counts == batch, s"streaming $counts vs batch $batch")

    // each user advances each stage at most once, in strictly rising time
    streamed.groupBy(_.userId).foreach { case (u, xs) =>
      val byStage = xs.groupBy(_.stage)
      assert(byStage.values.forall(_.size == 1), s"user $u repeated a stage")
      val t = byStage.view.mapValues(_.head.tsMs).toMap
      t.get("step2_click").foreach(c => assert(c > t("step1_view")))
      t.get("step3_purchase").foreach(p => assert(p > t("step2_click")))
    }
  }
}
