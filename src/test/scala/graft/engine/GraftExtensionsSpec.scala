package graft.engine

import graft.SparkSpec
import graft.functions.VectorFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

/** The cluster deployment path is `spark.sql.extensions=graft.engine.
  * GraftExtensions` (no code changes on the submitting side), so the
  * extension registrations must be exercised directly — the rest of the
  * suite goes through [[VectorFunctions.register]] on the shared session.
  */
class GraftExtensionsSpec extends SparkSpec {

  /** Run `f` on a session built with `GraftExtensions`, then restore the
    * shared session. */
  private def withExtensions(f: SparkSession => Unit): Unit = {
    val base = spark // force shared-session init first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // `spark.sql.extensions` is a STATIC conf — it only takes effect when the
    // SparkContext is created, and the suite shares one context. withExtensions
    // runs the identical GraftExtensions.apply against a fresh session state.
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try f(s)
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("extensions-built session resolves all six SQL kernels") {
    val base = spark
    withExtensions { s =>
      try {
        import s.implicits._
        Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f)), (Array(-1.0f, 0.5f), Array(2.0f, 2.0f)))
          .toDF("a", "b").createOrReplaceTempView("ext_v")
        val rows = s.sql(
          """SELECT vec_dot(a, b) AS d, vec_norm(a) AS n,
            |       size(word_tokens('the quick brown fox')) AS tok,
            |       size(word_ngrams('a b c d e', 3)) AS ng,
            |       vec_sign_bits(a, 42, 8) AS sb,
            |       vec_lsh_keys(vec_sign_bits(a, 42, 64), 7, 64, 10, 4) AS lk
            |FROM ext_v ORDER BY d""".stripMargin).collect()
        assert(rows.length == 2)
        assert(rows(1).getAs[Double]("d") == 11.0)
        assert(rows(1).getAs[Double]("n") == math.sqrt(5.0))
        assert(rows(0).getAs[Int]("tok") == 4 && rows(0).getAs[Int]("ng") == 3)
        // packed signature: 8 bits -> 1 word; 4 LSH tables -> 4 keys
        assert(rows.forall(_.getAs[scala.collection.Seq[Long]]("sb").length == 1))
        assert(rows.forall(_.getAs[scala.collection.Seq[Long]]("lk").length == 4))

        // the extension path and the temp-registry path must be the same kernels
        VectorFunctions.register(base)
        val viaRegistry = {
          import base.implicits._
          Seq(Array(1.0f, 2.0f)).toDF("a")
            .select(expr("vec_sign_bits(a, 42, 8)")).head().getAs[scala.collection.Seq[Long]](0)
        }
        val viaExt = s.sql("SELECT vec_sign_bits(a, 42, 8) FROM ext_v WHERE a[0] = 1.0f")
          .head().getAs[scala.collection.Seq[Long]](0)
        assert(viaRegistry == viaExt)

        // planner strategy injected: CosineTopK logical nodes are plannable
        assert(s.sessionState.planner.strategies.exists(
          _.getClass.getName.contains("CosineTopK")))
      } finally s.catalog.dropTempView("ext_v")
    }
  }

  test("both registration paths resolve every function of the one table") {
    VectorFunctions.register(spark)
    val ngrams = "size(word_ngrams('a b c', 3L))"
    assert(spark.sql(s"SELECT $ngrams").head().getInt(0) == 1)
    withExtensions { s =>
      val missing = VectorFunctions.functions.map(_.name)
        .filterNot(name => s.catalog.functionExists(name))
      assert(missing.isEmpty, s"not in the extensions-built session: ${missing.mkString(", ")}")
      assert(s.sql(s"SELECT $ngrams").head().getInt(0) == 1)
    }
  }

  test("both registration paths record each function's expression class") {
    VectorFunctions.register(spark)
    def classes(s: SparkSession): Seq[String] = VectorFunctions.functions.map(f =>
      s.sessionState.catalog.lookupFunctionInfo(FunctionIdentifier(f.name)).getClassName)
    val expected = VectorFunctions.functions.map(_.cls.getName)
    assert(classes(spark) == expected)
    withExtensions(s => assert(classes(s) == expected))
  }
}
