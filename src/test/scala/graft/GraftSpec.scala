package graft

class GraftSpec extends SparkSpec {

  test("registerViews exposes every table to plain SQL with graft functions") {
    Graft.registerViews(spark, sf)
    val n = spark.sql("SELECT COUNT(*) FROM lineitem").head().getLong(0)
    assert(n == 6000L)
    // derived event columns present
    val ms = spark.sql("SELECT ms, ets FROM events ORDER BY event_id LIMIT 1").head()
    assert(ms.getLong(0) > 1700000000000L)
    // graft SQL functions usable directly from SQL
    val cos = spark.sql(
      """SELECT vec_dot(a.embedding, b.embedding) / (vec_norm(a.embedding) * vec_norm(b.embedding))
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |ORDER BY a.vec_id LIMIT 1""".stripMargin).head().getDouble(0)
    assert(cos >= -1.0 && cos <= 1.0)
  }

  test("the driver's entry smoke contract returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("run dispatches named operators and rejects unknown names") {
    assert(Graft.run(spark, sf, "q06_forecast_revenue").count() == 1L)
    val e = intercept[IllegalArgumentException](Graft.run(spark, sf, "nope"))
    assert(e.getMessage.contains("unknown operator"))
    // the exact key set is pinned by OperatorSmokeSpec; here the dispatch
    // table itself must be total: every advertised name resolves in the
    // registry (no name drifts between the facade and SparkEntry)
    assert(Graft.operators.nonEmpty)
    Graft.operators.foreach(n => assert(SparkEntry.queries.contains(n), n))
    // and one name from a different operator family round-trips too
    assert(Graft.run(spark, sf, "d01_exact_dedup").count() > 0L)
  }

  test("every advertised operator runs end-to-end through the facade") {
    // the user-facing contract: each name in Graft.operators executes
    // against a warehouse dir — not just key-set consistency (which the
    // dispatch test pins) but an actual run. sf0.001 keeps the full
    // sweep cheap; Verify covers value correctness separately. The
    // session is shared across suites: their leftovers are the
    // baseline, and growth beyond it after release is a leak.
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    // results stay reachable until after release, as a user's would:
    // the ContextCleaner frees an unreachable frame's blocks on GC,
    // which would hide a leak behind GC timing
    val results = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val failures = Graft.operators.flatMap { name =>
      try { results += Graft.run(spark, sf, name); results.last.count(); None }
      catch { case e: Throwable =>
        Some(s"$name: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}")
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} operators failed via the facade:\n${failures.mkString("\n")}")
    Graft.release(spark) // don't pin the whole sweep's frames
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(baseline)
    assert(leaked.isEmpty,
      s"${leaked.size} RDDs still pinned after release: ${leaked.toSeq.sorted.take(10)}")
    results.clear()
  }
}
