package graft.engine

import org.apache.spark.sql.AnalysisException

import graft.{Graft, SparkSpec}

/** `Tables.sql` binds a text to one directory's loaders, whatever the
  * session's catalog holds. */
class TablesSqlSpec extends SparkSpec {

  test("a bound text reads dir's tables, not temp views of another dir") {
    Graft.registerViews(spark, sf.replace("sf0.001", "sf0.01"))
    try {
      val viewRows = spark.sql("SELECT COUNT(*) FROM lineitem").head().getLong(0)
      val bound = Tables.sql(spark, sf, "SELECT COUNT(*) FROM lineitem").head().getLong(0)
      assert(bound == spark.read.parquet(s"$sf/lineitem.parquet").count())
      assert(bound != viewRows)
    } finally Graft.tableNames.foreach(spark.catalog.dropTempView)
  }

  test("CTE names shadow table names; events carries its derived columns") {
    val df = Tables.sql(spark, sf,
      "WITH lineitem AS (SELECT 1 AS x) SELECT x FROM lineitem")
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(Tables.sql(spark, sf, "SELECT ms, ets FROM events").columns.toSeq ==
      Seq("ms", "ets"))
  }

  test("an unknown table name fails with an error that names it") {
    val e = intercept[IllegalArgumentException](
      Tables.sql(spark, sf, "SELECT * FROM lineitem JOIN no_such_table ON true"))
    assert(e.getMessage.contains("'no_such_table'"))
  }

  test("a BROADCAST hint plans a broadcast join with auto-broadcast off") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    def plan(hint: String): String = Tables.sql(spark, sf,
      s"""SELECT $hint c_custkey, n_name
         |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin)
      .queryExecution.executedPlan.toString
    try {
      assert(plan("/*+ BROADCAST(nation) */").contains("BroadcastHashJoin"))
      assert(!plan("").contains("BroadcastHashJoin"))
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("epoch_ms(ts) equals the loader's ms on every events row") {
    val r = Tables.sql(spark, sf,
      "SELECT COUNT(*), COUNT_IF(NOT (epoch_ms(ts) <=> ms)) FROM events").head()
    assert(r.getLong(0) > 0 && r.getLong(1) == 0)
  }

  test("divide is integer division truncating toward zero, as in DuckDB") {
    val r = Tables.sql(spark, sf, "SELECT divide(7, 2), divide(-7, 2)").head()
    assert(r.getLong(0) == 3 && r.getLong(1) == -3)
  }

  test("epoch_ms of a BIGINT fails analysis with an error that names epoch_ms") {
    // DuckDB reads epoch_ms(BIGINT) as ms -> timestamp; a cast would be wrong
    val e = intercept[AnalysisException](Tables.sql(spark, sf, "SELECT epoch_ms(ms) FROM events"))
    assert(e.getMessage.contains("epoch_ms"))
  }

  test("strftime formats a DATE and a TIMESTAMP as DuckDB does") {
    val formats = Seq("%Y-%m", "%Y-%m-%d", "%Y-%m-%d %H:00")
    def row(t: String): Seq[String] = {
      val r = Tables.sql(spark, sf,
        formats.map(f => s"strftime($t, '$f')").mkString("SELECT ", ", ", "")).head()
      formats.indices.map(r.getString)
    }
    // DuckDB 1.0.0's strings for the same calls
    assert(row("DATE '2024-03-07'") == Seq("2024-03", "2024-03-07", "2024-03-07 00:00"))
    assert(row("TIMESTAMP '2024-03-07 09:45:12'") ==
      Seq("2024-03", "2024-03-07", "2024-03-07 09:00"))
  }

  test("strftime with another specifier or a non-literal format fails naming strftime") {
    for (text <- Seq("SELECT strftime(ts, '%j') FROM events",
        "SELECT strftime(ts, event_type) FROM events")) {
      val e = intercept[AnalysisException](Tables.sql(spark, sf, text))
      // a type-check failure of the bound function, not an unknown routine
      assert(e.getCondition.startsWith("DATATYPE_MISMATCH"), e.getMessage)
      assert(e.getMessage.contains("strftime"), text)
    }
  }

  test("binding the DuckDB names registers no function in the session") {
    Tables.sql(spark, sf,
      "SELECT epoch_ms(ts), divide(ms, 1000), strftime(ts, '%Y-%m') FROM events").collect()
    assert(!spark.catalog.functionExists("epoch_ms"))
    assert(!spark.catalog.functionExists("divide"))
    assert(!spark.catalog.functionExists("strftime"))
  }
}
