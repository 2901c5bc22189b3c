package graft.operators

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.{Graft, SparkSpec}

class MemoSpec extends SparkSpec {

  test("concurrent requests for one shared key build and pin a single frame") {
    Graft.release(spark)
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val dir = "memo-spec"
    try {
      val requests = (1 to 2).map { _ =>
        pool.submit(() => {
          start.await()
          Memo.shared(spark, dir, Memo.Key.Sig) {
            builds.incrementAndGet()
            Thread.sleep(200) // widen the race window
            Memo.checkpoint(spark, spark.range(10).toDF("doc_id"))
          }
        })
      }
      start.countDown()
      val Seq(a, b) = requests.map(_.get(60, TimeUnit.SECONDS))
      assert(a eq b)
      assert(builds.get == 1)
      val pinned = spark.sparkContext.getPersistentRDDs.keySet.diff(baseline)
      assert(pinned.size == 1, s"pinned: $pinned")
    } finally {
      pool.shutdown()
      Graft.release(spark)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(baseline).isEmpty)
  }
}
