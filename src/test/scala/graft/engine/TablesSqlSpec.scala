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

  test("list_value and generate_series build the lists DuckDB builds") {
    val r = Tables.sql(spark, sf,
      """SELECT list_value(1, 2, 3), generate_series(1, 4), generate_series(3, 1),
        |  generate_series(-2, -2), generate_series(NULL, 2)""".stripMargin).head()
    // DuckDB 1.0.0: [1, 2, 3] INTEGER[], [1, 2, 3, 4] BIGINT[], [], [-2], NULL
    assert(r.getSeq[Int](0) == Seq(1, 2, 3))
    assert(r.getSeq[Long](1) == Seq(1L, 2L, 3L, 4L))
    assert(r.getSeq[Long](2).isEmpty)
    assert(r.getSeq[Long](3) == Seq(-2L))
    assert(r.isNullAt(4))
  }

  test("unnest yields a row per element, and none for an empty or NULL list") {
    def rows(text: String): Seq[Seq[Any]] =
      Tables.sql(spark, sf, text).collect().map(_.toSeq).toSeq
    // DuckDB 1.0.0's rows for the same texts
    assert(rows("SELECT unnest(list_value(5, 6)) AS x") == Seq(Seq(5), Seq(6)))
    assert(rows(
      """SELECT k, unnest(generate_series(0, k)) AS i
        |FROM (SELECT unnest(generate_series(0, 2)) AS k) ORDER BY 1, 2""".stripMargin) ==
      Seq(Seq(0L, 0L), Seq(1L, 0L), Seq(1L, 1L), Seq(2L, 0L), Seq(2L, 1L), Seq(2L, 2L)))
    assert(rows("SELECT unnest(generate_series(3, 1)) AS x").isEmpty)
    assert(rows("SELECT unnest(CAST(NULL AS ARRAY<INT>)) AS x").isEmpty)
  }

  test("generate_series of a non-integral bound fails analysis naming generate_series") {
    for (text <- Seq("SELECT generate_series(1.5, 3)", "SELECT generate_series(ts, ts) FROM events")) {
      val e = intercept[AnalysisException](Tables.sql(spark, sf, text))
      assert(e.getCondition.startsWith("DATATYPE_MISMATCH"), e.getMessage)
      assert(e.getMessage.contains("generate_series"), text)
    }
  }

  test("binding the DuckDB names registers no function in the session") {
    Tables.sql(spark, sf,
      """SELECT epoch_ms(ts), divide(ms, 1000), strftime(ts, '%Y-%m'),
        |  list_value(ms), unnest(generate_series(0, 1)) FROM events""".stripMargin).collect()
    for (name <- Seq("epoch_ms", "divide", "strftime", "unnest", "list_value", "generate_series"))
      assert(!spark.catalog.functionExists(name), name)
  }
}
