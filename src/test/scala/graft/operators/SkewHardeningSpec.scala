package graft.operators

import graft.{Graft, SparkSpec}

/** Equivalence of the whale-key-hardened (split-and-stitch) event
  * operators with their direct single-window counterparts, on synthetic
  * data engineered for the worst cases: one user holding most of the
  * events, sessions bridging block boundaries, and purchases whose
  * latest view lives many blocks back. */
class SkewHardeningSpec extends SparkSpec {
  import spark.implicits._

  private val BlockMs = 6L * 3600 * 1000
  private val GapMs = 30L * 60 * 1000

  /** Whale user 1: bursts placed to straddle block boundaries (events
    * GapMs-1 apart across the boundary => one session spanning blocks)
    * plus isolated events; users 2..4: sparse normal traffic. */
  private lazy val skewed = {
    val base = 1700000000000L
    val whale = (0 until 2000).map { i =>
      // 40 bursts of 50 events, 20 min apart (same session while < gap);
      // burst starts chosen so many bursts cross a 6h block edge
      val burst = i / 50
      val pos = i % 50
      val start = base + burst * (7L * 3600 * 1000) + (BlockMs - 25L * 60 * 1000)
      (i.toLong, 1L, if (pos % 7 == 0) "view" else if (pos % 11 == 3) "purchase" else "click",
        start + pos * (GapMs - 60000))
    }
    val normals = (0 until 300).map { i =>
      val u = 2L + i % 3
      (10000L + i, u, if (i % 5 == 0) "view" else if (i % 9 == 2) "purchase" else "click",
        base + i * 45L * 60 * 1000)
    }
    (whale ++ normals).toDF("event_id", "user_id", "event_type", "ms")
  }

  test("split-and-stitch sessionization equals the direct single-window form") {
    val direct = Events.sessionize(skewed, GapMs).collect().map(_.toString)
    val split = Events.sessionizeSplit(skewed, GapMs, BlockMs).collect().map(_.toString)
    assert(direct.nonEmpty && split.sameElements(direct))
    // sanity: the data genuinely exercises stitching — some session spans
    // a block boundary (duration pushes past the block edge)
    val spansBlocks = Events.sessionize(skewed, GapMs).collect().exists { r =>
      r.getAs[Long]("start_ms") / BlockMs != r.getAs[Long]("end_ms") / BlockMs
    }
    assert(spansBlocks, "synthetic data must contain block-bridging sessions")
  }

  test("split-and-stitch as-of join equals the direct single-window form") {
    val direct = Events.asofLatestView(skewed).collect().map(_.toString)
    val split = Events.asofLatestViewSplit(skewed, BlockMs).collect().map(_.toString)
    assert(direct.nonEmpty && split.sameElements(direct))
    // sanity: some purchase's latest view is in an EARLIER block
    val crossBlock = Events.asofLatestView(skewed).collect().exists { r =>
      r.getAs[Long]("gap_ms") > BlockMs
    }
    assert(crossBlock, "synthetic data must contain cross-block as-of matches")
  }

  test("randomized equivalence: split forms match direct forms on arbitrary event sets") {
    // 4 seeded trials x 400 events over a few users, timestamps drawn so
    // gaps straddle every regime (within-gap, over-gap, across-block)
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed * 7919)
      val base = 1690000000000L
      var cursor = base
      val rows = (0 until 400).map { i =>
        cursor += (rnd.nextInt(3) match {
          case 0 => rnd.nextInt(10 * 60 * 1000)            // in-session step
          case 1 => GapMs + rnd.nextInt(60 * 60 * 1000)    // session break
          case 2 => rnd.nextInt((BlockMs - GapMs).toInt)   // maybe cross-block
        }).toLong
        val et = Seq("view", "click", "purchase")(rnd.nextInt(3))
        (i.toLong, 1L + rnd.nextInt(3).toLong, et, cursor - rnd.nextInt(1000))
      }
      val df = rows.toDF("event_id", "user_id", "event_type", "ms")
      val s1 = Events.sessionize(df, GapMs).collect().map(_.toString)
      val s2 = Events.sessionizeSplit(df, GapMs, BlockMs).collect().map(_.toString)
      assert(s2.sameElements(s1), s"sessionize mismatch at seed $seed")
      val a1 = Events.asofLatestView(df).collect().map(_.toString)
      val a2 = Events.asofLatestViewSplit(df, BlockMs).collect().map(_.toString)
      assert(a2.sameElements(a1), s"asof mismatch at seed $seed")
    }
  }

  test("e09/e10 reproduce e01/e08 on the real events table") {
    assert(Events.e09(spark, sf).collect().map(_.toString)
      .sameElements(Graft.run(spark, sf, "e01_sessionize").collect().map(_.toString)))
    assert(Events.e10(spark, sf).collect().map(_.toString)
      .sameElements(Events.e08(spark, sf).collect().map(_.toString)))
  }
}
