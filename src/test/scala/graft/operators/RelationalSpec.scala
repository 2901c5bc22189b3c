package graft.operators

import graft.{Graft, SparkSpec}
import org.apache.spark.sql.functions._

/** Semantic assertions per relational family — independent of the DuckDB
  * oracle, so `sbt test` alone documents expected behavior. */
class RelationalSpec extends SparkSpec {

  test("q21 sketches track exact answers (HLL within rsd bounds, quantiles ordered)") {
    import org.apache.spark.sql.functions._
    val approx = Relational.q21(spark, sf).collect()
      .map(r => r.getAs[String]("l_returnflag") -> r).toMap
    val exact = graft.engine.Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("parts"),
           countDistinct(col("l_suppkey")).as("supps"),
           expr("percentile(l_extendedprice, 0.5)").as("p50"))
      .collect().map(r => r.getAs[String]("l_returnflag") -> r).toMap
    exact.foreach { case (flag, e) =>
      val a = approx(flag)
      // default HLL rsd 5% -> allow 3 sigma; explicit 1% column likewise
      assert(math.abs(a.getAs[Long]("approx_parts") - e.getAs[Long]("parts")).toDouble
        <= math.max(0.15 * e.getAs[Long]("parts"), 2.0), s"HLL parts off for $flag")
      assert(math.abs(a.getAs[Long]("approx_supps_1pct") - e.getAs[Long]("supps")).toDouble
        <= math.max(0.03 * e.getAs[Long]("supps"), 2.0), s"HLL supps off for $flag")
      // percentile columns must be ordered and straddle the exact median
      val (p50, p95, p99) = (a.getAs[Double]("price_p50"), a.getAs[Double]("price_p95"),
        a.getAs[Double]("price_p99"))
      assert(p50 <= p95 && p95 <= p99)
      assert(math.abs(p50 - e.getAs[Double]("p50")) <= 0.1 * e.getAs[Double]("p50"))
    }
  }

  test("q03 returns at most 10 orders, revenue non-increasing") {
    val rows = Graft.run(spark, sf, "q03_top_revenue").collect()
    assert(rows.length <= 10 && rows.nonEmpty)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
  }

  test("q09 rollup contains per-pair rows, per-flag margins, and a grand total") {
    val rows = Graft.run(spark, sf, "q09_rollup").collect()
    val grand = rows.filter(r => r.getAs[String]("rf") == "ALL" && r.getAs[String]("ls") == "ALL")
    assert(grand.length == 1)
    val flagMargins = rows.filter(r => r.getAs[String]("rf") != "ALL" && r.getAs[String]("ls") == "ALL")
    assert(flagMargins.length == 3) // A, N, R
    // margins sum to the grand total (exact: decimal-backed doubles)
    assert(flagMargins.map(_.getAs[Long]("n")).sum == grand.head.getAs[Long]("n"))
  }

  test("q24 cube additionally contains per-status margins") {
    val rows = Graft.run(spark, sf, "q24_cube").collect()
    val statusMargins = rows.filter(r => r.getAs[String]("rf") == "ALL" && r.getAs[String]("ls") != "ALL")
    assert(statusMargins.length == 2) // F, O
    assert(rows.length == Graft.run(spark, sf, "q09_rollup").collect().length + 2)
  }

  test("q12 set ops partition the 'A' partkeys") {
    val rows = Graft.run(spark, sf, "q12_set_ops").collect()
    val both = rows.filter(_.getAs[String]("tag") == "both").map(_.getAs[Long]("k")).toSet
    val onlyA = rows.filter(_.getAs[String]("tag") == "only_a").map(_.getAs[Long]("k")).toSet
    assert(both.intersect(onlyA).isEmpty)
    val allA = Tables_allA
    assert(both.union(onlyA) == allA)
  }
  private def Tables_allA: Set[Long] =
    graft.engine.Tables.lineitem(spark, sf)
      .filter(col("l_returnflag") === "A").select("l_partkey")
      .distinct().collect().map(_.getLong(0)).toSet

  test("q16 threshold: every returned part beats the global average") {
    val avg = Tables_avgPrice
    val rows = Relational.q16(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("p_retailprice") > avg))
  }
  private def Tables_avgPrice: Double = {
    val r = graft.engine.Tables.part(spark, sf)
      .agg(graft.engine.Qf.davg(col("p_retailprice"))).head()
    r.getDouble(0)
  }

  test("q23 moving average equals the monthly total for the first month") {
    val rows = Relational.q23(spark, sf).collect()
    val first = rows.head
    assert(first.getAs[Double]("mov_avg_3m") == first.getAs[Double]("monthly_total"))
    // all months present: window of 3 -> average between min and max of any 3 consecutive
    assert(rows.length >= 12)
  }

  test("e08 as-of: every gap is non-negative and views precede purchases") {
    val rows = Events.e08(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("gap_ms") >= 0L))
  }
}
