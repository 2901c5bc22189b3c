package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.Tables
import graft.engine.Qf._

/** Relational core (SURVEY.md §2.1): batch-analytics operators over the
  * TPC-H-ish tables, each written once.
  *
  *  - `sql`: operators that ARE their oracle text. `SparkEntry.queries`
  *    binds each text to the table loaders (`Tables.sql`) and DuckDB runs
  *    the same text, so the oracle compare for these keys is a
  *    cross-engine check, not a second implementation. Broadcast choices
  *    the scale posture relies on are explicit `/*+ BROADCAST(t) */`
  *    hints (a comment to DuckDB).
  *  - `queries`: DataFrame operators. q21 and q108 are sketches with no
  *    oracle text; each other key keeps its DuckDB text in `oracle`
  *    because the bound text plans differently, reads slower, or returns
  *    other values or types (`plans/r14/sql_dialect_parity.tsv` names
  *    each key's reason). The texts compute with the identical
  *    exact-arithmetic strategy (Qf) so result hashes match bit-wise.
  *
  * Catalyst owns pushdown / broadcast / AQE decisions in both forms.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  // revenue term used by several queries: exact decimal product
  private def revenueTerm(price: Column, disc: Column): Column =
    dec(price) * dec(lit(1) - disc)
  private val revenueSql =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))"

  // ---------------------------------------------------------------- q01
  /** TPC-H Q1-style pricing summary: multi-aggregate groupBy. */
  val q01Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       |  CAST(SUM($revenueSql) AS DOUBLE) AS sum_disc_price,
       |  CAST(SUM($revenueSql * CAST(1 + l_tax AS DECIMAL(12,2))) AS DOUBLE) AS sum_charge,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2001-09-01'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q02
  /** Predicate + projection pushdown scan over part. */
  val q02Sql: String =
    """SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
      |FROM part
      |WHERE p_size BETWEEN 5 AND 20 AND p_type IN ('PROMO','ECONOMY')
      |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q03
  /** TPC-H Q3-style: 3-table join + agg + top-k. */
  val q03Sql: String =
    s"""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-07-01'
       |  AND l_shipdate > TIMESTAMP '1998-07-01'
       |GROUP BY o_orderkey, o_orderdate
       |ORDER BY revenue DESC, o_orderkey
       |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q04
  /** EXISTS semi-join + agg (TPC-H Q4 adapted to available columns). */
  val q04Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q05
  /** 6-table star join; dims explicitly broadcast. */
  val q05Sql: String =
    s"""SELECT /*+ BROADCAST(supplier, nation, region) */ r_name, n_name,
       |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
       |GROUP BY r_name, n_name
       |ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------- q06
  /** Selective single-table agg (TPC-H Q6). */
  val q06Sql: String =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount >= CAST(0.04 AS DOUBLE) AND l_discount <= CAST(0.06 AS DOUBLE)
      |  AND l_quantity < CAST(24 AS DOUBLE)""".stripMargin

  // ---------------------------------------------------------------- q07
  /** rank() window: top-3 customers per market segment by balance. */
  val q07Sql: String =
    """SELECT c_mktsegment, c_custkey, c_name, c_acctbal, CAST(rnk AS BIGINT) AS rnk
      |FROM (SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
      |        RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rnk
      |      FROM customer)
      |WHERE rnk <= 3
      |ORDER BY c_mktsegment, rnk, c_custkey""".stripMargin

  // ---------------------------------------------------------------- q08
  /** Running total + lag windows per customer (decimal-exact cumsum). */
  val q08Sql: String =
    """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_day, o_totalprice,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
      |       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
      |  CAST(COALESCE(LAG(CAST(o_totalprice AS DECIMAL(12,2)))
      |       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |       CAST(0 AS DECIMAL(12,2))) AS DOUBLE) AS prev_price
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q09
  /** GROUP BY ROLLUP hierarchy aggregation. */
  val q09Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY rf, ls""".stripMargin

  // ---------------------------------------------------------------- q10
  /** Exact count-distinct per group. */
  val q10Sql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q11
  /** NOT EXISTS anti-join with extra predicate. */
  val q11Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > CAST(300000 AS DOUBLE))
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q12
  /** INTERSECT / EXCEPT set operators, tagged union of both results. */
  val q12Sql: String =
    """SELECT 'both' AS tag, k FROM (
      |  SELECT DISTINCT l_partkey AS k FROM lineitem WHERE l_returnflag = 'A'
      |  INTERSECT
      |  SELECT DISTINCT l_partkey AS k FROM lineitem WHERE l_returnflag = 'R')
      |UNION ALL
      |SELECT 'only_a' AS tag, k FROM (
      |  SELECT DISTINCT l_partkey AS k FROM lineitem WHERE l_returnflag = 'A'
      |  EXCEPT
      |  SELECT DISTINCT l_partkey AS k FROM lineitem WHERE l_returnflag = 'R')
      |ORDER BY tag, k""".stripMargin

  // ---------------------------------------------------------------- q13
  /** Pivot-style sum(CASE WHEN) matrix by line status. */
  val q13Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_f,
      |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_o,
      |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q14
  /** String functions: upper/substring/regexp_extract/concat/length. */
  val q14Sql: String =
    """SELECT c_custkey, UPPER(c_name) AS name_u, SUBSTRING(c_name, 10, 9) AS id_part,
      |  CAST(regexp_extract(c_name, '[0-9]+', 0) AS BIGINT) AS id_num,
      |  c_mktsegment || '/' || c_name AS tagged,
      |  CAST(LENGTH(c_name) AS BIGINT) AS name_len
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q15
  /** date_trunc / extract / year-month grouping. */
  val q15Sql: String =
    """SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr, CAST(MONTH(o_orderdate) AS BIGINT) AS mo,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
      |  MIN(strftime(o_orderdate, '%Y-%m-%d')) AS first_day
      |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin

  // ---------------------------------------------------------------- q16
  /** Scalar subquery comparison (price above global exact average). */
  def q16(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val avgDf = p.agg(davg(col("p_retailprice")).as("avg_price"))
    p.crossJoin(broadcast(avgDf))
      .filter(col("p_retailprice") > col("avg_price"))
      .select("p_partkey", "p_name", "p_retailprice")
      .orderBy("p_partkey")
  }
  val q16Sql: String =
    """SELECT p_partkey, p_name, p_retailprice
      |FROM part
      |WHERE p_retailprice > (SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) FROM part)
      |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q17
  /** Post-aggregation HAVING filter. */
  val q17Sql: String =
    """SELECT l_partkey, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
      |FROM lineitem GROUP BY l_partkey HAVING COUNT(*) >= 5
      |ORDER BY l_partkey""".stripMargin

  // ---------------------------------------------------------------- q18
  /** Exact median per group via row_number (no interpolation — identical
    * arithmetic on both engines: mean of the one or two middle values). */
  val q18Sql: String =
    """SELECT c_mktsegment,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS median_bal
      |FROM (SELECT c_mktsegment, c_acctbal,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS BIGINT) AS rn,
      |        COUNT(*) OVER (PARTITION BY c_mktsegment) AS cnt
      |      FROM customer)
      |WHERE rn = FLOOR((cnt + 1) / 2) OR rn = FLOOR((cnt + 2) / 2)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q19
  /** coalesce / nullif / null-safe comparisons. */
  val q19Sql: String =
    """SELECT l_returnflag,
      |  COUNT(NULLIF(l_discount, CAST(0 AS DOUBLE))) AS n_disc,
      |  CAST(SUM(CASE WHEN l_discount IS NOT DISTINCT FROM CAST(0 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |  CAST(SUM(CAST(COALESCE(NULLIF(l_discount, CAST(0 AS DOUBLE)), CAST(0.05 AS DOUBLE)) AS DECIMAL(12,2))) AS DOUBLE) AS disc_adj
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q20
  /** Supplier→nation revenue rollup (join + agg, broadcast dims). */
  val q20Sql: String =
    s"""SELECT /*+ BROADCAST(supplier, nation) */ n_name,
       |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- q21
  /** Sketch-based approximate aggregates — the 100 TB substitute for
    * exact distinct/percentile when cardinality explodes: HLL++ distinct
    * and t-digest-style quantiles in one pass, map-side combinable.
    * rows-only check (approximation has no DuckDB-equivalent bits). */
  def q21(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
           approx_count_distinct(col("l_suppkey"), rsd = 0.01).as("approx_supps_1pct"),
           // scalar columns (not one array<double>): the driver's rows-only
           // check sorts the output frame, and array cells break that sort
           expr("approx_percentile(l_extendedprice, 0.5)").as("price_p50"),
           expr("approx_percentile(l_extendedprice, 0.95)").as("price_p95"),
           expr("approx_percentile(l_extendedprice, 0.99)").as("price_p99"),
           count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  // ---------------------------------------------------------------- q22
  /** Dynamic pivot: one output column per line status (DataFrame .pivot
    * with pinned values so the schema is static and plannable). */
  def q22(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(dbl(sum(dec(col("l_quantity")))))
      .orderBy("l_returnflag")
  val q22Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS F,
      |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS O
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q23
  /** RANGE-frame window: 3-month moving average of monthly revenue.
    * The frame is value-based (month sequence number), not row-based —
    * missing months genuinely shrink the window.
    *
    * The frame input is ONE ROW PER CALENDAR MONTH (bounded by the data's
    * date span, not its volume — ~80 rows per century), so the frame is
    * evaluated as a broadcast RANGE SELF-JOIN on the month sequence
    * instead of a global window: a `partitionBy(lit(1))` window gets its
    * constant partition spec folded away by the optimizer, reintroducing
    * the single-partition WindowExec, while the join form has no window
    * node at all and stays fully parallel. Decimal sums are associative,
    * so the regrouped summation is bit-identical to the oracle's frame. */
  def q23(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
               month(col("o_orderdate")).cast("long").as("mo"))
      .agg(sum(dec(col("o_totalprice"))).as("total_dec"))
      .withColumn("mseq", col("yr") * 12 + col("mo"))
    val frame = broadcast(monthly.select(col("mseq").as("f_mseq"),
      col("total_dec").as("f_total")))
    monthly.join(frame,
        col("f_mseq").between(col("mseq") - 2, col("mseq")))
      .groupBy("yr", "mo", "total_dec")
      .agg((dbl(sum(col("f_total"))) / count(lit(1))).as("mov_avg_3m"))
      .select(col("yr"), col("mo"), dbl(col("total_dec")).as("monthly_total"),
        col("mov_avg_3m"))
      .orderBy("yr", "mo")
  }
  val q23Sql: String =
    """WITH m AS (
      |  SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr, CAST(MONTH(o_orderdate) AS BIGINT) AS mo,
      |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS total_dec
      |  FROM orders GROUP BY 1, 2),
      |s AS (SELECT *, yr * 12 + mo AS mseq FROM m)
      |SELECT yr, mo, CAST(total_dec AS DOUBLE) AS monthly_total,
      |  CAST(SUM(total_dec) OVER (ORDER BY mseq RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / COUNT(*) OVER (ORDER BY mseq RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_avg_3m
      |FROM s ORDER BY yr, mo""".stripMargin

  // ---------------------------------------------------------------- q24
  /** GROUP BY CUBE: all grouping-set combinations of flag x status. */
  val q24Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY rf, ls""".stripMargin

  // ---------------------------------------------------------------- q25
  /** Ranking-function suite: ntile / percent_rank / cume_dist per market
    * segment — the distribution-analytics windows q07 (rank) doesn't
    * cover. Partitioned by segment with a unique tie-break, so per-key
    * window state is bounded and both engines rank identically;
    * percent_rank/cume_dist are single IEEE divisions of identical
    * integers on both sides. */
  val q25Sql: String =
    """SELECT c_mktsegment, c_custkey, c_acctbal,
      |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
      |  PERCENT_RANK() OVER w AS pct_rank,
      |  CUME_DIST() OVER w AS cume
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
      |ORDER BY c_mktsegment, pct_rank, c_custkey""".stripMargin

  // ---------------------------------------------------------------- q26
  /** TPC-H Q21 shape (adapted to this schema): suppliers whose line
    * shipped LAST in a multi-supplier order — one correlated EXISTS
    * (another supplier in the order) plus one correlated NOT EXISTS (no
    * later ship in the order), then agg + deterministic top-10.
    *
    * Scale: both subqueries become lineitem self-joins keyed on
    * l_orderkey — the left-semi and left-anti shuffle on the SAME key,
    * so Spark reuses one exchange of the fact across all three legs;
    * order keys are uniform (no whale orders) and the supplier name join
    * broadcasts. The heaviest relational plan in the suite by design. */
  val q26Sql: String =
    """WITH l AS (SELECT l_orderkey, l_suppkey, l_shipdate FROM lineitem),
      |last AS (
      |  SELECT l1.l_orderkey, l1.l_suppkey FROM l l1
      |  WHERE EXISTS (SELECT 1 FROM l l2
      |                WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |    AND NOT EXISTS (SELECT 1 FROM l l3
      |                    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_shipdate > l1.l_shipdate))
      |SELECT /*+ BROADCAST(supplier) */ s_name, COUNT(DISTINCT l_orderkey) AS numwait
      |FROM last JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q27
  /** TPC-H Q17 shape (per-brand): revenue lost to "small-quantity"
    * lines — lines whose quantity is below 20% of that part's average
    * quantity — expressed as a yearly figure (sum/7).
    *
    * The correlated scalar subquery (avg qty per part) becomes a
    * part-level pre-aggregation joined back to lineitem on l_partkey —
    * both sides shuffle on the SAME uniform key, and the per-part agg is
    * map-side combinable, so the "subquery" costs one small-keyspace
    * join, not a per-row probe. The avg threshold compares by decimal
    * cross-multiplication (5*qty*cnt < sum_qty), no float boundary.
    * The part join is unhinted: AQE broadcasts it at test scale and
    * falls back to a shuffle join when part outgrows the threshold
    * (at TPC-H ratios part is lineitem/30 — not broadcastable forever). */
  val q27Sql: String =
    """WITH pq AS (SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq,
      |                   COUNT(*)::BIGINT AS cnt
      |            FROM lineitem GROUP BY 1)
      |SELECT p_brand, COUNT(*)::BIGINT AS n_small,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM lineitem JOIN pq USING (l_partkey) JOIN part ON p_partkey = l_partkey
      |WHERE CAST(l_quantity AS DECIMAL(12,2)) * 5 * cnt < sq
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q28
  /** TPC-H Q22 spirit adapted to this data (every customer has orders,
    * so Q22's literal "no orders" anti-join is vacuous here): "dormant
    * high-balance" customers — above the average positive balance AND
    * placing fewer orders than the per-customer average — counted and
    * totalled per nation.
    *
    * Both uncorrelated averages are 1-row aggregates broadcast in
    * (BroadcastNestedLoopJoin over a single row each, not a shuffle);
    * the order count attaches via a LEFT join of customer against the
    * groupBy(o_custkey) aggregate — both sides shuffle on the SAME
    * uniform custkey, no per-row EXISTS probe. Boundary arithmetic is
    * order-independent: the balance average is a decimal-exact sum
    * with ONE cast to double, and the order-count average is an exact
    * bigint sum / count, so the `>` / `<` threshold filters can't
    * flip with partial-aggregation order. */
  val q28Sql: String =
    """WITH ab AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
      |                   / COUNT(*) AS ab
      |            FROM customer WHERE c_acctbal > 0.0),
      |oc AS (SELECT o_custkey, COUNT(*)::BIGINT AS cnt FROM orders GROUP BY 1),
      |aoc AS (SELECT CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS ac FROM oc),
      |j AS (SELECT c.c_nationkey, c.c_acctbal, COALESCE(oc.cnt, 0) AS cnt
      |      FROM customer c LEFT JOIN oc ON oc.o_custkey = c.c_custkey)
      |SELECT /*+ BROADCAST(ab, aoc) */ CAST(j.c_nationkey AS BIGINT) AS c_nationkey,
      |  COUNT(*)::BIGINT AS numcust,
      |  CAST(SUM(CAST(j.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
      |FROM j, ab, aoc
      |WHERE j.c_acctbal > ab.ab AND CAST(j.cnt AS DOUBLE) < aoc.ac
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q29
  /** TPC-H Q15 shape: the top supplier(s) by quarterly revenue — a
    * per-supplier revenue aggregate whose MAX feeds back as a scalar
    * filter.
    *
    * The revenue view shuffles once on uniform l_suppkey (map-side
    * combinable); its max is a 1-row broadcast (never a shuffle-by-
    * constant); the supplier dimension join is AQE-broadcast. Revenue
    * stays DECIMAL end to end, so the `= max` equality is exact — the
    * float-equality trap in Q15 (ties silently dropped when sums drift)
    * can't occur, and ties emit every achieving supplier. */
  def q29(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(sum(revenueTerm(col("l_extendedprice"), col("l_discount"))).as("total_rev"))
    val mx = rev.agg(max(col("total_rev")).as("mx"))
    Tables.supplier(spark, dir)
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .crossJoin(broadcast(mx))
      .filter(col("total_rev") === col("mx"))
      .select(col("s_suppkey"), col("s_name"), dbl(col("total_rev")).as("total_rev"))
      .orderBy("s_suppkey")
  }
  val q29Sql: String =
    s"""WITH rev AS (SELECT l_suppkey, SUM($revenueSql) AS total_rev
       |             FROM lineitem
       |             WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       |               AND l_shipdate < TIMESTAMP '1996-04-01'
       |             GROUP BY 1)
       |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
       |FROM supplier JOIN rev ON s_suppkey = l_suppkey
       |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
       |ORDER BY s_suppkey""".stripMargin

  // ---------------------------------------------------------------- q30
  /** TPC-H Q13 shape: customer order-count distribution — how many
    * customers placed exactly N (non-urgent) orders, zeros included.
    *
    * The join condition carries the priority filter (pushed to the scan
    * side of the LEFT join, so excluded orders never shuffle);
    * count(o_orderkey) counts only matched rows, preserving zero-order
    * customers without a separate anti-join pass. Two map-side-
    * combinable aggregations: the first shuffles on uniform c_custkey,
    * the second on ~20 distinct counts — a few partial rows per task.
    * Output order (custdist, c_count) desc is total: c_count is unique
    * per row, so ties can't reorder. */
  val q30Sql: String =
    """SELECT c_count, COUNT(*)::BIGINT AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_orderkey)::BIGINT AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY 1)
      |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ---------------------------------------------------------------- q31
  /** TPC-H Q7 shape: bilateral shipping volume — revenue flowing between
    * two nations (supplier nation → customer nation, both directions) per
    * ship year.
    *
    * Scale: nation is a 25-row broadcast on BOTH legs; the only real
    * shuffles are lineitem→orders (uniform l_orderkey) and
    * orders→customer (uniform o_custkey). The nation-pair filter sits on
    * broadcast-joined columns, so it prunes BEFORE the groupBy shuffle;
    * the final aggregate has (2 nations × 2 directions × years) groups —
    * a few partial rows per task regardless of fact size. */
  val q31Sql: String =
    s"""SELECT /*+ BROADCAST(supplier, n1, n2) */ n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |  CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
       |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
       |  AND ((n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12')
       |    OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10'))
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------- q32
  /** TPC-H Q8 shape: market share — the fraction of ASIA-region STANDARD-
    * part revenue supplied by NATION_2, per order year.
    *
    * The share is TWO decimal-exact sums (conditional numerator via
    * sum(CASE WHEN), unconditional denominator) finished by ONE double
    * division — order-independent across partials, bit-identical on the
    * oracle. part/supplier/nation/region all broadcast; the share filter
    * (customer region) prunes on a broadcast column before the year
    * groupBy, which has ~3 groups. */
  val q32Sql: String =
    s"""SELECT /*+ BROADCAST(part, supplier, nation) */ CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       |  CAST(SUM(CASE WHEN n_name = 'NATION_2' THEN $revenueSql
       |           ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
       |    / CAST(SUM($revenueSql) AS DOUBLE) AS mkt_share,
       |  COUNT(*)::BIGINT AS n_lines
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE p_type = 'STANDARD'
       |  AND EXISTS (SELECT /*+ BROADCAST(cn, region) */ 1 FROM customer
       |              JOIN nation cn ON c_nationkey = cn.n_nationkey
       |              JOIN region ON cn.n_regionkey = r_regionkey
       |              WHERE c_custkey = o_custkey AND r_name = 'ASIA')
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q33
  /** TPC-H Q10 shape: returned-item reporting — the top 20 customers by
    * revenue lost to returns (l_returnflag = 'R') for orders placed in a
    * given quarter.
    *
    * The quarter filter pushes to the orders scan; the returnflag filter
    * pushes to the lineitem scan — both prune before any join. The
    * fact-fact join shuffles on uniform l_orderkey/o_orderkey; customer
    * attaches on uniform custkey; nation broadcasts. Top-20 is
    * TakeOrderedAndProject (per-partition partial top-k, never a global
    * sort), with c_custkey breaking revenue ties deterministically. */
  val q33Sql: String =
    s"""SELECT /*+ BROADCAST(nation) */ c_custkey, c_name, c_acctbal, n_name,
       |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |  AND o_orderdate >= TIMESTAMP '1997-01-01'
       |  AND o_orderdate < TIMESTAMP '1997-04-01'
       |GROUP BY 1, 2, 3, 4
       |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q34
  /** TPC-H Q14 shape, extended to a monthly series: PROMO parts' share of
    * revenue (percent) per ship month across the full history.
    *
    * One broadcast join (part, pruned to partkey+type), one groupBy on
    * ~80 month keys. Both sums are decimal-exact; the percentage is one
    * double multiply-divide at the end (100 * promo / total), the same
    * two IEEE ops in both engines. Month key via `strftime`, which
    * Spark binds as date_format. */
  val q34Sql: String =
    s"""SELECT /*+ BROADCAST(part) */ strftime(l_shipdate, '%Y-%m') AS ship_month,
       |  100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $revenueSql
       |               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
       |    / CAST(SUM($revenueSql) AS DOUBLE) AS promo_pct,
       |  COUNT(*)::BIGINT AS n_lines
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q35
  /** TPC-H Q18 shape: large-volume orders — orders whose total quantity
    * exceeds 250, with the buying customer, ordered by total price.
    *
    * The HAVING pre-aggregate shuffles lineitem once on uniform
    * l_orderkey (map-side combinable — partials collapse before the
    * wire) and survives ~0.1% of orders; only the survivors join back to
    * orders/customer, so the expensive joins see a thousandth of the
    * fact. Quantity stays decimal for the exact > 250 boundary. */
  val q35Sql: String =
    """WITH big AS (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty
      |             FROM lineitem GROUP BY 1
      |             HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250)
      |SELECT c_custkey, c_name, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice,
      |  CAST(sum_qty AS DOUBLE) AS sum_qty
      |FROM orders JOIN big ON o_orderkey = l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q36
  /** TPC-H Q19 shape: discounted revenue under disjunctive brand/size/
    * quantity predicates — three OR'd conjunct branches that a naive
    * planner turns into three scans.
    *
    * Expressed as ONE scan with the disjunction evaluated post-join:
    * part is pruned to the 3 columns the predicate needs and broadcast;
    * the common `p_size >= 1` conjunct is factored out so it pushes down
    * to the part scan. Catalyst keeps the whole disjunction inside one
    * codegen stage — no union-of-three-plans blow-up. */
  val q36Sql: String =
    s"""SELECT /*+ BROADCAST(part) */ CAST(SUM($revenueSql) AS DOUBLE) AS revenue, COUNT(*)::BIGINT AS n_lines
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
       |   OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  // ---------------------------------------------------------------- q37
  /** Exact frequent-items ("heavy hitters"): parts whose lineitem count
    * exceeds 1.25x the uniform share (n_lines * n_parts > 1.25 * n_total),
    * with the lift over uniform as the score.
    *
    * This is the exact form of the Misra–Gries / count-min "frequent
    * items" query: ONE map-side-combinable groupBy on uniform l_partkey
    * (the shuffle carries one partial row per part per task), then a
    * 1-row broadcast of the (total, part-count) pair — the same scalar-
    * subquery shape as q16/q28, never a shuffle-by-constant. The
    * threshold compares integer cross-products (n*P*4 > 5*T), exact in
    * bigint at any scale; lift is one IEEE division at the end. */
  def q37(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(spark, dir).groupBy("l_partkey")
      .agg(count(lit(1)).as("n_lines"))
    val totals = Tables.lineitem(spark, dir).agg(count(lit(1)).as("t_lines"))
      .crossJoin(Tables.part(spark, dir).agg(count(lit(1)).as("t_parts")))
    counts.crossJoin(broadcast(totals))
      .filter(col("n_lines") * col("t_parts") * 4 > col("t_lines") * 5)
      .select(col("l_partkey"), col("n_lines"),
        ((col("n_lines") * col("t_parts")).cast("double") / col("t_lines")).as("lift"))
      .orderBy(col("n_lines").desc, col("l_partkey"))
  }
  val q37Sql: String =
    """WITH c AS (SELECT l_partkey, COUNT(*) AS n_lines FROM lineitem GROUP BY 1),
      |t AS (SELECT (SELECT COUNT(*) FROM lineitem) AS t_lines,
      |             (SELECT COUNT(*) FROM part) AS t_parts)
      |SELECT l_partkey, n_lines,
      |  CAST(n_lines * t_parts AS DOUBLE) / t_lines AS lift
      |FROM c, t
      |WHERE n_lines * t_parts * 4 > t_lines * 5
      |ORDER BY n_lines DESC, l_partkey""".stripMargin

  // ---------------------------------------------------------------- q38
  /** Pearson correlation (quantity vs extended price per return flag) with
    * DISTRIBUTED-EXACT moment sums: built-in corr() accumulates running
    * float moments whose value depends on partition order, so it can never
    * hash-match a sequential oracle. Here all five moments (Σx Σy Σxy Σx²
    * Σy²) are DECIMAL — exact, associative, order-independent under
    * map-side combine — and the correlation is assembled from their double
    * casts with one fixed IEEE op sequence, identical on both engines.
    * One map-combinable groupBy; moment products stay inside DECIMAL(38,8)
    * headroom even at 10^12 rows. */
  val q38Sql: String =
    """WITH m AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx2,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy2
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, n,
      |  ROUND((n * sxy - sx * sy) / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)), 6) AS corr_qty_price
      |FROM m ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q39
  /** Year-over-year revenue growth per nation: yearly decimal-exact
    * revenue self-joined on (nation, year+1); growth is one IEEE
    * division of exact operands, round6. The yearly aggregate is tiny
    * (nations × years) so the self-join is broadcast-sized no matter how
    * large the fact; the only real shuffle is the first groupBy. */
  val q39Sql: String =
    s"""WITH y AS (
       |  SELECT /*+ BROADCAST(nation) */ n_name, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
       |    SUM($revenueSql) AS rev_dec
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1, 2)
       |SELECT a.n_name, a.yr, CAST(a.rev_dec AS DOUBLE) AS revenue,
       |  ROUND(CAST(a.rev_dec AS DOUBLE) / CAST(b.rev_dec AS DOUBLE) - 1.0, 6) AS yoy_growth
       |FROM y a JOIN y b ON a.n_name = b.n_name AND a.yr = b.yr + 1
       |ORDER BY a.n_name, a.yr""".stripMargin

  // ---------------------------------------------------------------- q40
  /** Cohort LTV matrix: customers grouped by FIRST-order year, revenue
    * tracked per subsequent order year — the classic lifetime-value
    * triangle. The first-order year is one map-combinable min-agg on
    * uniform custkey; attaching it to orders is a same-key shuffle join
    * (both legs co-keyed); the final matrix is (years × years)/2 groups.
    * Revenue stays DECIMAL until the last cast. */
  val q40Sql: String =
    """WITH o AS (SELECT o_custkey, o_totalprice,
      |             CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr
      |           FROM orders),
      |c AS (SELECT o_custkey, MIN(yr) AS cohort_yr FROM o GROUP BY 1)
      |SELECT cohort_yr, yr, COUNT(DISTINCT o.o_custkey) AS n_customers,
      |  COUNT(*)::BIGINT AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      |FROM o JOIN c ON o.o_custkey = c.o_custkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q41
  /** Median absolute deviation per market segment — the robust dispersion
    * pair to q18's exact median (stddev collapses under outliers; MAD is
    * the filter-threshold statistic robust pipelines actually use).
    *
    * Both medians use q18's two-middle-rows recipe; the center is
    * (min+max)/2 of the selected rows — one add and one divide of exact
    * doubles, identical on both engines — so the deviation column is
    * bit-identical before the second median pass. Scale: two window
    * passes partitioned by segment (bounded per-group state) plus a
    * |segments|-row broadcast back onto the table; no global sort. */
  val q41Sql: String =
    """WITH m AS (
      |  SELECT c_mktsegment, (MIN(c_acctbal) + MAX(c_acctbal)) / CAST(2.0 AS DOUBLE) AS median_bal
      |  FROM (SELECT c_mktsegment, c_acctbal,
      |          CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS BIGINT) AS rn,
      |          COUNT(*) OVER (PARTITION BY c_mktsegment) AS cnt
      |        FROM customer)
      |  WHERE rn = FLOOR((cnt + 1) / 2) OR rn = FLOOR((cnt + 2) / 2)
      |  GROUP BY c_mktsegment),
      |d AS (
      |  SELECT /*+ BROADCAST(m) */ c.c_mktsegment, m.median_bal, c.c_custkey,
      |    ABS(c.c_acctbal - m.median_bal) AS dev
      |  FROM customer c JOIN m ON c.c_mktsegment = m.c_mktsegment)
      |SELECT c_mktsegment, MIN(median_bal) AS median_bal,
      |  (MIN(dev) + MAX(dev)) / CAST(2.0 AS DOUBLE) AS mad
      |FROM (SELECT c_mktsegment, median_bal, dev,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY dev, c_custkey) AS BIGINT) AS rn,
      |        COUNT(*) OVER (PARTITION BY c_mktsegment) AS cnt
      |      FROM d)
      |WHERE rn = FLOOR((cnt + 1) / 2) OR rn = FLOOR((cnt + 2) / 2)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q42
  /** Explicit GROUPING SETS — the non-hierarchical cousin of q09's ROLLUP
    * and q24's CUBE: two independent single-dimension breakdowns plus the
    * cross product, in ONE aggregation pass (Expand + one shuffle, not
    * three scans unioned). */
  val q42Sql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |                        (o_orderstatus), (o_orderpriority))
      |ORDER BY status, priority""".stripMargin

  // ---------------------------------------------------------------- q43
  /** Exact skewness and excess kurtosis per return flag — the higher-
    * moment distribution profile (q38's machinery extended to 3rd/4th
    * powers). Quantities are exact 2-decimal values, so q = 100·qty is an
    * integer; Σq..Σq⁴ accumulate in DECIMAL(38,0) (map-side combinable,
    * order-independent), the central-moment numerators
    * A = n·Σq² − (Σq)², B = n²·Σq³ − 3n·Σq·Σq² + 2(Σq)³,
    * C = n³·Σq⁴ − 4n²·Σq·Σq³ + 6n·(Σq)²·Σq² − 3(Σq)⁴
    * are exact integers (the 100· scale cancels in both ratios), and
    * g1 = B/(A·√A), g2 = n·C/A² − 3 each take a handful of
    * correctly-rounded IEEE ops (A^{3/2} as A·sqrt(A), never pow —
    * libm pow is not correctly rounded), round6.
    *
    * Scale bound: C's n³·Σq⁴ term overflows 38 digits around n ≈ 10⁶·
    * (for 2-decimal values ≤ 50) — at that size, center on a first-pass
    * mean before the moment pass; the driver scales stay well inside. */
  val q43Sql: String =
    """WITH st AS (
      |  SELECT l_returnflag, CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
      |    SUM(q) AS s1, SUM(q*q) AS s2, SUM(q*q*q) AS s3, SUM((q*q)*(q*q)) AS s4
      |  FROM (SELECT l_returnflag,
      |          CAST(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS DECIMAL(10,0)) AS DECIMAL(38,0)) AS q
      |        FROM lineitem)
      |  GROUP BY l_returnflag),
      |m AS (
      |  SELECT l_returnflag, n,
      |    n*s2 - s1*s1 AS a,
      |    n*n*s3 - 3*n*s1*s2 + 2*s1*s1*s1 AS b,
      |    n*n*n*s4 - 4*n*n*s1*s3 + 6*n*s1*s1*s2 - 3*s1*s1*s1*s1 AS c
      |  FROM st)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
      |  ROUND(SQRT(CAST(a AS DOUBLE)) / CAST(n AS BIGINT), 6) AS sd_x100,
      |  ROUND(CAST(b AS DOUBLE) / (CAST(a AS DOUBLE) * SQRT(CAST(a AS DOUBLE))), 6) AS skewness,
      |  ROUND(CAST(c AS DOUBLE) * CAST(n AS DOUBLE) / (CAST(a AS DOUBLE) * CAST(a AS DOUBLE)) - 3.0, 6) AS kurtosis
      |FROM m ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q44
  /** Linearly-interpolated quartiles (PERCENTILE_CONT semantics) + IQR
    * per market segment — the box-plot profile. Built from q18's
    * row_number machinery rather than either engine's built-in quantile
    * so BOTH sides run the identical arithmetic: zero-based position
    * p = (n−1)·q, the two bracketing ranks are floor(p)/ceil(p), and
    * v = v_lo + (v_hi − v_lo)·(p − floor(p)) — multiply/add of exact
    * doubles, no library interpolation variant to disagree on.
    *
    * Scale: one segment-partitioned window (bounded state) + one
    * map-combinable conditional aggregation; the bracketing-rank
    * selection means only ≤6 rows per group carry values into the agg
    * combine. No global sort. */
  val q44Sql: String =
    """WITH r AS (
      |  SELECT c_mktsegment, c_acctbal,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS BIGINT) - 1 AS idx,
      |    COUNT(*) OVER (PARTITION BY c_mktsegment) AS cnt
      |  FROM customer),
      |a AS (
      |  SELECT c_mktsegment, MAX(cnt) AS n,
      |    MAX(CASE WHEN idx = FLOOR(CAST(cnt - 1 AS DOUBLE) * 0.25) THEN c_acctbal END) AS q1_lo,
      |    MAX(CASE WHEN idx = CEIL(CAST(cnt - 1 AS DOUBLE) * 0.25) THEN c_acctbal END) AS q1_hi,
      |    MAX(CASE WHEN idx = FLOOR(CAST(cnt - 1 AS DOUBLE) * 0.5) THEN c_acctbal END) AS q2_lo,
      |    MAX(CASE WHEN idx = CEIL(CAST(cnt - 1 AS DOUBLE) * 0.5) THEN c_acctbal END) AS q2_hi,
      |    MAX(CASE WHEN idx = FLOOR(CAST(cnt - 1 AS DOUBLE) * 0.75) THEN c_acctbal END) AS q3_lo,
      |    MAX(CASE WHEN idx = CEIL(CAST(cnt - 1 AS DOUBLE) * 0.75) THEN c_acctbal END) AS q3_hi
      |  FROM r GROUP BY c_mktsegment)
      |SELECT c_mktsegment, CAST(n AS BIGINT) AS n,
      |  q1_lo + (q1_hi - q1_lo) * (CAST(n - 1 AS DOUBLE) * 0.25 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.25)) AS p25,
      |  q2_lo + (q2_hi - q2_lo) * (CAST(n - 1 AS DOUBLE) * 0.5 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.5)) AS p50,
      |  q3_lo + (q3_hi - q3_lo) * (CAST(n - 1 AS DOUBLE) * 0.75 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.75)) AS p75,
      |  (q3_lo + (q3_hi - q3_lo) * (CAST(n - 1 AS DOUBLE) * 0.75 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.75)))
      |    - (q1_lo + (q1_hi - q1_lo) * (CAST(n - 1 AS DOUBLE) * 0.25 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.25))) AS iqr
      |FROM a ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q45
  /** Inter-order cadence per customer: lag() gap in days between
    * consecutive orders, summarized per customer (>= 5 orders). The gap
    * multiset is order-deterministic even under equal orderdates because
    * differences of consecutive SORTED dates don't depend on the
    * tie-break; the window partitions by custkey so state is bounded. */
  val q45Sql: String =
    """WITH g AS (
      |  SELECT o_custkey,
      |    CAST(CAST(o_orderdate AS DATE) -
      |      CAST(LAG(o_orderdate) OVER (PARTITION BY o_custkey
      |             ORDER BY o_orderdate, o_orderkey) AS DATE) AS BIGINT) AS gap
      |  FROM orders)
      |SELECT o_custkey, COUNT(*) + 1 AS n_orders,
      |  CAST(SUM(gap) AS DOUBLE) / COUNT(*) AS avg_gap_days,
      |  CAST(MAX(gap) AS BIGINT) AS max_gap_days,
      |  CAST(MIN(gap) AS BIGINT) AS min_gap_days
      |FROM g WHERE gap IS NOT NULL
      |GROUP BY 1 HAVING COUNT(*) + 1 >= 5
      |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q46
  /** Equi-width order-value histogram (50k buckets) on exact integer
    * cents — integer division avoids the float-boundary bucketing trap
    * entirely (no floor(double) at bucket edges). One map-side-combinable
    * groupBy; bucket count is bounded by the price domain, not N. */
  val q46Sql: String =
    """WITH b AS (
      |  SELECT o_totalprice,
      |    divide(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT), 5000000) AS bucket
      |  FROM orders)
      |SELECT bucket, bucket * 50000 AS bucket_lo, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q47
  /** Correlated-aggregate filter: orders priced above 1.5x their own
    * customer's average order value. The comparison is cross-multiplied
    * into exact integer cents (2·cents·n > 3·Σcents — no float compare,
    * no division) over a custkey-partitioned window; the rollup's one
    * division produces the per-customer share. */
  val q47Sql: String =
    """WITH c AS (
      |  SELECT o_custkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |w AS (
      |  SELECT o_custkey, cents,
      |    SUM(cents) OVER (PARTITION BY o_custkey) AS s,
      |    COUNT(*) OVER (PARTITION BY o_custkey) AS n
      |  FROM c)
      |SELECT o_custkey, CAST(MAX(n) AS BIGINT) AS n_orders,
      |  CAST(SUM(CASE WHEN cents * 2 * n > s * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
      |  CAST(SUM(CASE WHEN cents * 2 * n > s * 3 THEN 1 ELSE 0 END) AS DOUBLE) / MAX(n)
      |    AS above_share
      |FROM w GROUP BY 1 HAVING MAX(n) >= 3 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q48
  /** Order-to-ship latency histogram: days between order date and each
    * line's ship date, banded by integer compares, per order priority.
    * The fact-fact join shuffles on orderkey (AQE-sized); the band
    * rollup is map-combinable and bounded by |priorities| x |bands|. */
  val q48Sql: String =
    """WITH j AS (
      |  SELECT o_orderpriority,
      |    CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS BIGINT) AS lat
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      |SELECT o_orderpriority,
      |  CASE WHEN lat <= 30 THEN 'a<=30d' WHEN lat <= 60 THEN 'b<=60d'
      |       WHEN lat <= 90 THEN 'c<=90d' ELSE 'd>90d' END AS latency_band,
      |  COUNT(*) AS n_lines,
      |  CAST(SUM(lat) AS DOUBLE) / COUNT(*) AS avg_latency_days
      |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q49
  /** Supply-concentration risk: the 20 parts whose top supplier holds
    * the largest share of shipped quantity (with 2+ suppliers — sole
    * sourcing is trivially 100%). Two map-combinable aggregations on
    * lineitem (per (part, supplier), then per part), the dominant
    * supplier resolved by a join back on the exact DECIMAL max (min
    * suppkey on ties); share is ONE identical IEEE division of exact
    * operands in both engines, so the (share desc, partkey) total order
    * agrees and TakeOrdered prunes the head map-side — no global
    * window. */
  val q49Sql: String =
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq
      |  FROM lineitem GROUP BY 1, 2),
      |per AS (
      |  SELECT l_partkey, COUNT(*) AS n_suppliers, SUM(sq) AS tq, MAX(sq) AS msq
      |  FROM ps GROUP BY 1
      |  HAVING COUNT(*) >= 2)
      |SELECT per.l_partkey AS p_partkey,
      |  MAX(n_suppliers) AS n_suppliers,
      |  MIN(l_suppkey) AS top_suppkey,
      |  CAST(MAX(msq) AS DOUBLE) / CAST(MAX(tq) AS DOUBLE) AS top_share
      |FROM per JOIN ps ON per.l_partkey = ps.l_partkey AND ps.sq = per.msq
      |GROUP BY 1 ORDER BY top_share DESC, p_partkey LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q50
  /** Market-segment revenue mix per nation: order revenue rolled up to
    * (nation, segment) with each segment's share of its nation. The
    * star join broadcasts both dims (customer→nation is the only
    * shuffle-bearing edge at scale: orders shuffle on custkey once);
    * shares come from a nation-partitioned window over the
    * \|nations\|×\|segments\|-bounded rollup — DECIMAL-exact totals,
    * ONE IEEE division per row. */
  val q50Sql: String =
    """WITH rev AS (
      |  SELECT /*+ BROADCAST(nation) */ n_name, c_mktsegment,
      |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2)
      |SELECT n_name, c_mktsegment,
      |  CAST(rev AS DOUBLE) AS revenue,
      |  ROUND(CAST(rev AS DOUBLE) /
      |        CAST(SUM(rev) OVER (PARTITION BY n_name) AS DOUBLE), 6) AS share
      |FROM rev ORDER BY n_name, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q51
  /** Discount-band effect profile: lines, volume and revenue per integer
    * discount percentage — the "does a deeper discount actually move
    * quantity" table. The percentage band is one identical IEEE
    * round(x*100) in both engines (no tie values exist off the .5
    * boundary); quantity/revenue aggregate in exact DECIMAL; averages
    * are ONE division per emitted row; output bounded by the discount
    * domain (|bands| ≤ 101). */
  val q51Sql: String =
    s"""SELECT CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS band,
       |  COUNT(*) AS n_lines,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue
       |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q52
  /** Account-balance health matrix: customer counts and DECIMAL-exact
    * average balance per (market segment, balance band). Bands are
    * integer-cent CASE compares — `div`/`//` disagree on negative
    * truncation between engines, CASE edges don't; one map-combinable
    * groupBy, \|segments\|×\|bands\|-bounded output. */
  val q52Sql: String =
    """WITH c AS (
      |  SELECT c_mktsegment, c_acctbal,
      |    CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM customer)
      |SELECT c_mktsegment,
      |  CASE WHEN cents < 0 THEN 'a<0' WHEN cents < 250000 THEN 'b<2500'
      |       WHEN cents < 500000 THEN 'c<5000' WHEN cents < 750000 THEN 'd<7500'
      |       ELSE 'e>=7500' END AS balance_band,
      |  COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_balance
      |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q53
  /** Monthly repeat-buyer rate: of the customers ordering in month M,
    * how many also ordered in M-1 — the operational loyalty series.
    * Months are exact integers (year·12+month, no calendar strings);
    * repeat detection is one equi self-join of the DISTINCT
    * (customer, month) frame on (custkey, midx−1); the rate is ONE
    * division per month row; output bounded by the calendar. */
  def q53(spark: SparkSession, dir: String): DataFrame = {
    val cm = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).cast("long").as("midx"))
      .distinct()
      .cache() // both self-join sides
    cm.join(cm.select(col("o_custkey"), (col("midx") + 1).as("midx"), lit(1L).as("prev")),
        Seq("o_custkey", "midx"), "left")
      .groupBy("midx")
      .agg(count(lit(1)).as("n_buyers"),
           sum(coalesce(col("prev"), lit(0L))).as("n_repeat"))
      .withColumn("repeat_rate",
        round(dbl(col("n_repeat")) / col("n_buyers"), 6) + lit(0.0d))
      .orderBy("midx")
  }
  val q53Sql: String =
    """WITH cm AS (
      |  SELECT DISTINCT o_custkey,
      |    CAST(EXTRACT(YEAR FROM o_orderdate) * 12 + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS midx
      |  FROM orders)
      |SELECT a.midx AS midx, COUNT(*) AS n_buyers,
      |  SUM(CASE WHEN b.o_custkey IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_repeat,
      |  ROUND(CAST(SUM(CASE WHEN b.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |        / COUNT(*), 6) + 0.0 AS repeat_rate
      |FROM cm a LEFT JOIN cm b
      |  ON a.o_custkey = b.o_custkey AND b.midx = a.midx - 1
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q54
  /** Order-shape matrix: joint distribution of line count × value band
    * per order — the 2D histogram behind packing/fulfillment planning
    * (are big-ticket orders few-line or many-line). Line counts from one
    * orderkey rollup joined back to orders; value bands on exact integer
    * cents; \|line bands\|×\|value bands\|-bounded output. */
  val q54Sql: String =
    """WITH lines AS (
      |  SELECT l_orderkey, COUNT(*) AS n_lines FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT n_lines, o_totalprice,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM orders JOIN lines ON o_orderkey = l_orderkey)
      |SELECT
      |  CASE WHEN n_lines <= 2 THEN 'a1-2' WHEN n_lines <= 4 THEN 'b3-4'
      |       ELSE 'c5-7' END AS line_band,
      |  CASE WHEN cents < 5000000 THEN 'a<50k' WHEN cents < 15000000 THEN 'b<150k'
      |       WHEN cents < 30000000 THEN 'c<300k' ELSE 'd>=300k' END AS value_band,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_value
      |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q55
  /** Revenue concentration: the top-10 customers' share of total order
    * revenue — the "how dependent are we on whales" Pareto figure (e16
    * is its event-value analogue at decile granularity). Per-customer
    * DECIMAL rollup, deterministic (revenue desc, custkey) TakeOrdered
    * head, 1-row total broadcast, ONE division per emitted row. */
  val q55Sql: String =
    """WITH per AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      |  FROM orders GROUP BY 1),
      |top AS (
      |  SELECT COUNT(*) AS n_top, SUM(rev) AS top_rev
      |  FROM (SELECT rev FROM per ORDER BY rev DESC, o_custkey LIMIT 10)),
      |tot AS (SELECT SUM(rev) AS total_rev FROM per)
      |SELECT /*+ BROADCAST(tot) */ n_top, CAST(top_rev AS DOUBLE) AS top_revenue,
      |  CAST(total_rev AS DOUBLE) AS total_revenue,
      |  ROUND(CAST(top_rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 6) + 0.0 AS top_share
      |FROM top CROSS JOIN tot""".stripMargin

  // ---------------------------------------------------------------- q56
  /** Does account balance predict order volume? Exact Pearson
    * correlation (q38's DECIMAL-moment machinery) between each
    * customer's balance and ORDER COUNT — a correlation on a DERIVED
    * metric, with zero-order customers included via the left join
    * (dropping them biases r upward: the non-buying rich are the
    * signal). One uniform custkey shuffle, one global moment rollup,
    * round6-quantized r. */
  val q56Sql: String =
    """WITH oc AS (
      |  SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1),
      |j AS (
      |  SELECT CAST(c_acctbal AS DECIMAL(12,2)) AS x,
      |    CAST(COALESCE(n_orders, 0) AS DECIMAL(12,2)) AS y
      |  FROM customer LEFT JOIN oc ON c_custkey = o_custkey),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
      |    CAST(SUM(x * x) AS DOUBLE) AS sx2, CAST(SUM(y * y) AS DOUBLE) AS sy2
      |  FROM j)
      |SELECT n,
      |  ROUND((n * sxy - sx * sy) / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)), 6)
      |    AS corr_balance_orders
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- q57
  /** Fulfillment-latency percentiles per priority (p25/p50/p75 days,
    * PERCENTILE_CONT interpolation): the SLA table. NOT a row window —
    * a 5-partition window over the whole fact is a single-reducer
    * bottleneck at scale, so the quantile machinery runs over per-
    * (priority, latency-day) COUNTS (bounded by \|priorities\|×\|days\|,
    * independent of fact size; the q44/t14 trade). Bracketing ranks are
    * conditional mins against the cumulative counts; interpolation
    * arithmetic is identical in both engines. */
  val q57Sql: String =
    """WITH j AS (
      |  SELECT o_orderpriority,
      |    CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS BIGINT) AS lat
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |counts AS (
      |  SELECT o_orderpriority, lat, COUNT(*) AS c FROM j GROUP BY 1, 2),
      |cum AS (
      |  SELECT *, SUM(c) OVER (PARTITION BY o_orderpriority ORDER BY lat) AS cum
      |  FROM counts),
      |nn AS (SELECT o_orderpriority, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY 1),
      |a AS (
      |  SELECT /*+ BROADCAST(nn) */ cum.o_orderpriority AS o_orderpriority, MAX(n) AS n,
      |    MIN(CASE WHEN cum >= FLOOR(CAST(n - 1 AS DOUBLE) * 0.25) + 1 THEN lat END) AS q1_lo,
      |    MIN(CASE WHEN cum >= CEIL(CAST(n - 1 AS DOUBLE) * 0.25) + 1 THEN lat END) AS q1_hi,
      |    MIN(CASE WHEN cum >= FLOOR(CAST(n - 1 AS DOUBLE) * 0.5) + 1 THEN lat END) AS q2_lo,
      |    MIN(CASE WHEN cum >= CEIL(CAST(n - 1 AS DOUBLE) * 0.5) + 1 THEN lat END) AS q2_hi,
      |    MIN(CASE WHEN cum >= FLOOR(CAST(n - 1 AS DOUBLE) * 0.75) + 1 THEN lat END) AS q3_lo,
      |    MIN(CASE WHEN cum >= CEIL(CAST(n - 1 AS DOUBLE) * 0.75) + 1 THEN lat END) AS q3_hi
      |  FROM cum JOIN nn ON cum.o_orderpriority = nn.o_orderpriority
      |  GROUP BY 1)
      |SELECT o_orderpriority, n,
      |  CAST(q1_lo AS DOUBLE) + (CAST(q1_hi AS DOUBLE) - CAST(q1_lo AS DOUBLE))
      |    * (CAST(n - 1 AS DOUBLE) * 0.25 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.25)) AS p25,
      |  CAST(q2_lo AS DOUBLE) + (CAST(q2_hi AS DOUBLE) - CAST(q2_lo AS DOUBLE))
      |    * (CAST(n - 1 AS DOUBLE) * 0.5 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.5)) AS p50,
      |  CAST(q3_lo AS DOUBLE) + (CAST(q3_hi AS DOUBLE) - CAST(q3_lo AS DOUBLE))
      |    * (CAST(n - 1 AS DOUBLE) * 0.75 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.75)) AS p75
      |FROM a ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q58
  /** Order fill rate per priority: the share of orders whose LAST line
    * shipped within 90 days — the order-level SLA (q57's percentiles are
    * line-level; an order is only as done as its slowest line). One
    * orderkey rollup to the max line latency, integer-day compare, ONE
    * division per priority row. */
  val q58Sql: String =
    """WITH per AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    MAX(CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS BIGINT)) AS max_lat
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2)
      |SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  SUM(CASE WHEN max_lat <= 90 THEN 1 ELSE 0 END)::BIGINT AS n_filled_90d,
      |  ROUND(CAST(SUM(CASE WHEN max_lat <= 90 THEN 1 ELSE 0 END) AS DOUBLE)
      |        / COUNT(*), 6) + 0.0 AS fill_rate
      |FROM per GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q59
  /** TPC-H Q9 shape (adapted — no partsupp/supplycost in this schema):
    * "widget" product-line revenue per supplier nation per ship year.
    * The part filter prunes BEFORE the fact join (predicate pushdown on
    * the dimension, then the pruned ~1/3 of partkeys broadcast into
    * lineitem); supplier and nation are broadcast dims; the single
    * shuffle is the (nation, year) groupBy. Year comes from l_shipdate
    * so no orders join is needed. Revenue stays DECIMAL to the end. */
  val q59Sql: String =
    s"""SELECT /*+ BROADCAST(part, supplier, nation) */ n_name, CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
       |  COUNT(*) AS n_lines, CAST(SUM($revenueSql) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget'
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q60
  /** Nation trade balance: revenue SUPPLIED by each nation's suppliers
    * vs revenue SPENT by its customers, and the net balance — two
    * independent fact aggregates (each one shuffle on a 25-key group)
    * joined on the tiny nation dim. A full outer shape is unnecessary:
    * every nation has both suppliers and customers by construction, and
    * the inner join keeps the oracle simple. DECIMAL until the end. */
  val q60Sql: String =
    s"""WITH s AS (
       |  SELECT /*+ BROADCAST(supplier) */ s_nationkey AS nationkey, SUM($revenueSql) AS sup_dec
       |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1),
       |b AS (
       |  SELECT /*+ BROADCAST(customer) */ c_nationkey AS nationkey,
       |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS buy_dec
       |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1)
       |SELECT /*+ BROADCAST(nation) */ n_name, CAST(sup_dec AS DOUBLE) AS supplied_rev,
       |  CAST(buy_dec AS DOUBLE) AS bought_rev,
       |  CAST(sup_dec - buy_dec AS DOUBLE) AS balance
       |FROM s JOIN b USING (nationkey)
       |JOIN nation ON nationkey = n_nationkey
       |ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- q61
  /** Brand price-book profile: per brand, catalog size and the retail
    * price min / max / spread / mean — a single-table dimension agg
    * (bounded 25 brands) with order-independent decimal arithmetic and
    * ONE division for the mean. */
  val q61Sql: String =
    """SELECT p_brand, COUNT(*) AS n_parts,
      |  CAST(MIN(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS min_price,
      |  CAST(MAX(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price,
      |  CAST(MAX(CAST(p_retailprice AS DECIMAL(12,2)))
      |     - MIN(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS spread,
      |  ROUND(CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE)
      |        / COUNT(*), 6) AS mean_price
      |FROM part GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q62
  /** Quarterly revenue mix: order revenue per (year, quarter) with each
    * quarter's share of its year — the seasonality ledger. One fact
    * aggregate (bounded years×4 groups) + a window over the 4-row year
    * partition (never a single-partition window); the share is ONE
    * division of exact decimal operands, round6. */
  val q62Sql: String =
    """WITH q AS (
      |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
      |    CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS qtr,
      |    COUNT(*) AS n_orders,
      |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec
      |  FROM orders GROUP BY 1, 2)
      |SELECT yr, qtr, n_orders, CAST(rev_dec AS DOUBLE) AS revenue,
      |  ROUND(CAST(rev_dec AS DOUBLE)
      |        / CAST(SUM(rev_dec) OVER (PARTITION BY yr) AS DOUBLE), 6) AS share_of_year
      |FROM q ORDER BY yr, qtr""".stripMargin

  // ---------------------------------------------------------------- q63
  /** Monthly returns series: the share of lineitem revenue flagged
    * returned ('R') per calendar month — the merchandise quality
    * trendline. One scan, one bounded groupBy (months), conditional
    * decimal sums, ONE division per month row. */
  val q63Sql: String =
    s"""SELECT CAST(EXTRACT(year FROM l_shipdate) * 12
       |          + EXTRACT(month FROM l_shipdate) AS BIGINT) AS midx,
       |  COUNT(*) AS n_lines,
       |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue,
       |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN $revenueSql
       |                ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS returned_rev,
       |  ROUND(CAST(SUM(CASE WHEN l_returnflag = 'R' THEN $revenueSql
       |                      ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
       |        / CAST(SUM($revenueSql) AS DOUBLE), 6) AS returned_share
       |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q64
  /** Status × priority order matrix: joint counts and decimal-exact
    * value sums over the two categorical order axes (bounded 3×5 cells)
    * plus each cell's share of all orders — the order-book composition
    * view. One scan, one bounded groupBy; the global total attaches as
    * a 1-row broadcast (scalar subquery), not a shuffle-by-constant. */
  def q64(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dbl(sum(dec(col("o_totalprice")))).as("value"))
    val total = Tables.orders(spark, dir).agg(count(lit(1)).as("n_total"))
    cells.join(broadcast(total))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("n_orders"),
        col("value"),
        round(dbl(col("n_orders")) / col("n_total"), 6).as("share"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }
  val q64Sql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS value,
      |  ROUND(CAST(COUNT(*) AS DOUBLE)
      |        / (SELECT COUNT(*) FROM orders), 6) AS share
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q65
  /** Order-book aging snapshot: OPEN orders ('O') bucketed by how long
    * they have been open at the dataset's observation point (the max
    * order date — a 1-row broadcast, not a wall-clock dependency), per
    * priority, with decimal-exact open value — the receivables-aging
    * view of the order book.
    *
    * Scale: status filter prunes at the scan, the as-of date attaches as
    * a broadcast scalar, age banding is an integer day compare (CASE
    * edges, no float), and the rollup is one map-combinable groupBy onto
    * a \|priorities\|×\|bands\|-bounded output. */
  val q65Sql: String =
    """WITH snap AS (SELECT MAX(o_orderdate) AS as_of FROM orders),
      |b AS (SELECT /*+ BROADCAST(snap) */ o_orderpriority, o_totalprice,
      |    CAST(CAST(as_of AS DATE) - CAST(o_orderdate AS DATE) AS BIGINT) AS age_d
      |  FROM orders CROSS JOIN snap WHERE o_orderstatus = 'O')
      |SELECT o_orderpriority,
      |  CASE WHEN age_d <= 30 THEN 'a<=30d' WHEN age_d <= 90 THEN 'b<=90d'
      |       WHEN age_d <= 365 THEN 'c<=1y' ELSE 'd>1y' END AS age_band,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS open_value
      |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q66
  /** Customer lifetime-value quartiles per market segment (the CLV
    * distribution table behind segment budgets): per-customer decimal-
    * exact order revenue (zero-order customers kept at 0 via left join —
    * the mass at zero is the point), then q44's bracketing-rank
    * PERCENTILE_CONT machinery per segment. Windows partition by
    * segment; ≤6 bracketing rows per segment reach the final agg. */
  val q66Sql: String =
    """WITH rev AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS r
      |  FROM orders GROUP BY 1),
      |clv AS (
      |  SELECT c_mktsegment, c_custkey,
      |    COALESCE(CAST(r AS DOUBLE), 0.0) AS clv
      |  FROM customer LEFT JOIN rev ON c_custkey = o_custkey),
      |rk AS (
      |  SELECT c_mktsegment, clv,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY clv, c_custkey) AS BIGINT) - 1 AS idx,
      |    COUNT(*) OVER (PARTITION BY c_mktsegment) AS cnt
      |  FROM clv),
      |a AS (
      |  SELECT c_mktsegment, MAX(cnt) AS n,
      |    MAX(CASE WHEN idx = FLOOR(CAST(cnt - 1 AS DOUBLE) * 0.25) THEN clv END) AS q1_lo,
      |    MAX(CASE WHEN idx = CEIL(CAST(cnt - 1 AS DOUBLE) * 0.25) THEN clv END) AS q1_hi,
      |    MAX(CASE WHEN idx = FLOOR(CAST(cnt - 1 AS DOUBLE) * 0.5) THEN clv END) AS q2_lo,
      |    MAX(CASE WHEN idx = CEIL(CAST(cnt - 1 AS DOUBLE) * 0.5) THEN clv END) AS q2_hi,
      |    MAX(CASE WHEN idx = FLOOR(CAST(cnt - 1 AS DOUBLE) * 0.75) THEN clv END) AS q3_lo,
      |    MAX(CASE WHEN idx = CEIL(CAST(cnt - 1 AS DOUBLE) * 0.75) THEN clv END) AS q3_hi
      |  FROM rk GROUP BY c_mktsegment)
      |SELECT c_mktsegment, CAST(n AS BIGINT) AS n,
      |  q1_lo + (q1_hi - q1_lo) * (CAST(n - 1 AS DOUBLE) * 0.25 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.25)) AS p25,
      |  q2_lo + (q2_hi - q2_lo) * (CAST(n - 1 AS DOUBLE) * 0.5 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.5)) AS p50,
      |  q3_lo + (q3_hi - q3_lo) * (CAST(n - 1 AS DOUBLE) * 0.75 - FLOOR(CAST(n - 1 AS DOUBLE) * 0.75)) AS p75
      |FROM a ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q67
  /** Supplier-concentration HHI per nation: the Herfindahl–Hirschman
    * index of supplier revenue shares (Σ shareᵢ² — 1/n = perfectly
    * spread, 1 = single-supplier nation), the antitrust-style
    * concentration figure q49's top-share view summarizes per part.
    *
    * Exactness: HHI = Σrᵢ²/(Σrᵢ)² needs no per-supplier division —
    * per-supplier revenue is summed as DECIMAL then rescaled ×10⁴ into
    * an exact integer (scale-4 fixed point) in DECIMAL(38,0)/HUGEINT,
    * squares and sums stay exact integers (≈10²⁶ ≪ 10³⁸), and ONE IEEE
    * division lands the index. Two map-combinable aggs (suppkey, then
    * nation), dims broadcast, \|nations\|-bounded output. */
  def q67(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val rev = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"),
        revenueTerm(col("l_extendedprice"), col("l_discount")).as("rv"))
      .groupBy("l_suppkey").agg(sum(col("rv")).as("r"))
    val bySupp = rev
      .join(Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), (col("r") * 10000).cast(d38).as("ri"))
    bySupp.groupBy("n_name")
      .agg(count(lit(1)).as("n_suppliers"),
           sum(col("ri") * col("ri")).as("num"), sum(col("ri")).as("tot"))
      .select(col("n_name"), col("n_suppliers"),
        round(dbl(col("num")) / dbl(col("tot") * col("tot")), 6).as("hhi"))
      .orderBy("n_name")
  }
  val q67Sql: String =
    s"""WITH r AS (
       |  SELECT l_suppkey, SUM($revenueSql) AS rv FROM lineitem GROUP BY 1),
       |b AS (
       |  SELECT n_name, CAST(rv * 10000 AS HUGEINT) AS ri
       |  FROM r JOIN supplier ON l_suppkey = s_suppkey
       |         JOIN nation ON s_nationkey = n_nationkey)
       |SELECT n_name, COUNT(*) AS n_suppliers,
       |  ROUND(CAST(SUM(ri*ri) AS DOUBLE) / CAST(SUM(ri)*SUM(ri) AS DOUBLE), 6) AS hhi
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q68
  /** Market-basket part pairs: the top-20 part pairs co-ordered in the
    * same order, with lift vs independence — the association-mining
    * view over the order book (e31 does this for event types; this is
    * the relational basket).
    *
    * Scale: the pair generator self-joins lineitem ON ORDERKEY with
    * partkey< — pairs per order are bounded by lines-per-order squared
    * (≤ ~7² on TPC-H shapes), NOT by part count, so the join output is
    * a small constant × the fact table at any scale. Per-part order
    * counts and the order total attach as broadcasts; lift is computed
    * in exact integer cross-products with ONE IEEE division per
    * emitted row; deterministic TakeOrdered head. */
  val q68Sql: String =
    """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |pairs AS (
      |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_both
      |  FROM lp a JOIN lp b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2),
      |pc AS (SELECT l_partkey, COUNT(*) AS n_part FROM lp GROUP BY 1),
      |tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lp)
      |SELECT /*+ BROADCAST(tot) */ part_a, part_b, n_both, pa.n_part AS na, pb.n_part AS nb,
      |  ROUND(CAST(n_both * n_orders AS DOUBLE) / CAST(pa.n_part * pb.n_part AS DOUBLE), 6) AS lift
      |FROM pairs
      |JOIN pc pa ON part_a = pa.l_partkey
      |JOIN pc pb ON part_b = pb.l_partkey
      |CROSS JOIN tot
      |ORDER BY n_both DESC, part_a, part_b LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q69
  /** Order-intake weekday profile: volume and value per day-of-week ×
    * priority. One map-combinable groupBy over a 2-column scan; the
    * output is 7×|priorities|-bounded so each map task ships ≤35 partial
    * rows regardless of fact size. dow is 0=Sunday in both engines
    * (Spark `dayofweek` is 1-based Sunday-first, DuckDB's 0-based). */
  def q69(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy((dayofweek(col("o_orderdate")) - 1).cast("long").as("dow"),
               col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
           dsum(col("o_totalprice")).as("total_value"),
           round(davg(col("o_totalprice")), 6).as("avg_value"))
      .orderBy("dow", "o_orderpriority")
  val q69Sql: String =
    """SELECT dayofweek(o_orderdate) AS dow, o_orderpriority,
      |  COUNT(*)::BIGINT AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
      |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |        / COUNT(*), 6) AS avg_value
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q70
  /** Pareto concentration points: how many top-revenue parts cover 50 /
    * 80 / 90 % of total revenue. The ranked cumulative frame is the PART
    * AGGREGATE (≈fact/1000 rows), never the fact — and even that frame
    * is never sorted on one task: e48's banded two-level prefix sum
    * (partition-local window per revenue-cents band + a broadcast
    * cross-band offset join) replaces the global window, so the only
    * all-rows structure is the bounded band list. Threshold tests are
    * integer-cross-multiplied decimal compares (cum·100 ≥ pct·total) —
    * no float share is materialized before the final counts. */
  def q70(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    // revq: revenue in exact integer 1/100-cents (the decimal product has
    // scale 4), so every cumulative sum and threshold compare is integer
    val rev = Tables.lineitem(spark, dir)
      .groupBy("l_partkey")
      .agg((sum(revenueTerm(col("l_extendedprice"), col("l_discount"))) * 10000)
        .cast(d38).as("revq"))
      .withColumn("band", expr("cast(revq as long) div 100000000"))
      .cache()
    val wIn = Window.partitionBy("band")
      .orderBy(col("revq").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inBand = rev.withColumn("cumIn", sum(col("revq")).over(wIn))
    val bt = rev.groupBy("band").agg(sum(col("revq")).as("brev"))
    val off = bt.as("a")
      .join(broadcast(bt.select(col("band").as("hb"), col("brev").as("hrev"))),
        col("hb") > col("band"), "left")
      .groupBy("band")
      .agg(coalesce(sum(col("hrev")), lit(0)).cast(d38).as("off"))
    val tot = rev.agg(sum(col("revq")).as("tot"))
    val cum = inBand.join(broadcast(off), "band")
      .withColumn("cum", (col("cumIn") + col("off")).cast(d38))
    cum.join(broadcast(tot))
      .agg(count(lit(1)).as("n_parts"),
           count(when(col("cum") * 100 <= col("tot") * 50, lit(1))).as("below50"),
           count(when(col("cum") * 100 <= col("tot") * 80, lit(1))).as("below80"),
           count(when(col("cum") * 100 <= col("tot") * 90, lit(1))).as("below90"))
      // min k with cum ≥ pct: parts strictly below the threshold + 1
      .select(col("n_parts"),
        least(col("below50") + 1, col("n_parts")).as("parts_p50"),
        least(col("below80") + 1, col("n_parts")).as("parts_p80"),
        least(col("below90") + 1, col("n_parts")).as("parts_p90"))
  }
  val q70Sql: String =
    s"""WITH rev AS (
       |  SELECT l_partkey, CAST(SUM($revenueSql) * 10000 AS HUGEINT) AS revq
       |  FROM lineitem GROUP BY 1),
       |cum AS (
       |  SELECT revq, SUM(revq) OVER (ORDER BY revq DESC, l_partkey
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM rev),
       |tot AS (SELECT SUM(revq) AS tot FROM rev)
       |SELECT COUNT(*)::BIGINT AS n_parts,
       |  LEAST(COUNT(CASE WHEN cum * 100 <= tot * 50 THEN 1 END) + 1, COUNT(*))::BIGINT AS parts_p50,
       |  LEAST(COUNT(CASE WHEN cum * 100 <= tot * 80 THEN 1 END) + 1, COUNT(*))::BIGINT AS parts_p80,
       |  LEAST(COUNT(CASE WHEN cum * 100 <= tot * 90 THEN 1 END) + 1, COUNT(*))::BIGINT AS parts_p90
       |FROM cum CROSS JOIN tot""".stripMargin

  // ---------------------------------------------------------------- q71
  /** Monthly active customers with month-over-month delta. The fact
    * collapses to distinct (month, custkey) map-side, then to a ≤|months|
    * frame; the MoM lag is a broadcast-sized equi self-join on the month
    * index (months×12+month arithmetic), NOT a global window — the
    * all-months frame never lands on one task. First month's delta is
    * NULL in both engines. */
  val q71Sql: String =
    """WITH m AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |    year(o_orderdate) * 12 + month(o_orderdate) AS mkey,
      |    COUNT(DISTINCT o_custkey)::BIGINT AS active_customers,
      |    COUNT(*)::BIGINT AS n_orders
      |  FROM orders GROUP BY 1, 2)
      |SELECT /*+ BROADCAST(b) */ a.month, a.active_customers, a.n_orders,
      |  a.active_customers - b.active_customers AS mom_delta
      |FROM m a LEFT JOIN m b ON a.mkey = b.mkey + 1
      |ORDER BY a.month""".stripMargin

  // ---------------------------------------------------------------- q72
  /** Order-value inequality per market segment: exact Gini coefficient
    * of o_totalprice within each c_mktsegment. e48's banded two-level
    * prefix sum generalized to a grouped frame: ranks come from
    * (segment, cents-band)-partitioned windows over the distinct-value
    * frame plus a broadcast per-segment band-offset equi-join — no
    * global or segment-wide window ever forms. Arithmetic is integer
    * cents in DECIMAL(38,0) end-to-end (tie-block rank formula:
    * Σ c·(2·nc·m + nc·(nc+1)) with m = values-below count), ONE IEEE
    * division at the end, round6. */
  def q72(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val sc = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir).select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        (dec(col("o_totalprice")) * 100).cast("decimal(38,0)").cast("long").as("cents"))
      .groupBy("seg", "cents").agg(count(lit(1)).as("nc"))
      .withColumn("band", expr("cents div 1048576"))
      .cache()
    val wIn = Window.partitionBy("seg", "band").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    val inBelow = sc.withColumn("ibelow", coalesce(sum(col("nc")).over(wIn), lit(0L)))
    val bt = sc.groupBy("seg", "band").agg(sum(col("nc")).as("bc"))
    val off = bt.as("a")
      .join(broadcast(bt.select(col("seg").as("s2"), col("band").as("lb"), col("bc").as("lc"))),
        col("seg") === col("s2") && col("lb") < col("band"), "left")
      .groupBy("seg", "band").agg(coalesce(sum(col("lc")), lit(0L)).as("off"))
    val cD = col("cents").cast(d38); val ncD = col("nc").cast(d38)
    val mD = (col("ibelow") + col("off")).cast(d38)
    inBelow.join(broadcast(off), Seq("seg", "band"))
      .groupBy("seg")
      .agg(sum(col("nc")).as("n"),
           sum(cD * ncD).as("s"),
           sum(cD * (lit(2).cast(d38) * ncD * mD + ncD * (ncD + lit(1).cast(d38)))).as("w2"))
      .select(col("seg").as("c_mktsegment"), col("n").as("n_orders"),
        (dbl(col("s")) / 100).as("total_value"),
        round(dbl(col("w2") - (col("n").cast(d38) + lit(1).cast(d38)) * col("s"))
          / dbl(col("n").cast(d38) * col("s")), 6).as("gini"))
      .orderBy("c_mktsegment")
  }
  val q72Sql: String =
    """WITH oc AS (
      |  SELECT c_mktsegment AS seg,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |sc AS (SELECT seg, cents, COUNT(*)::BIGINT AS nc FROM oc GROUP BY 1, 2),
      |cum AS (SELECT seg, cents, nc, COALESCE(SUM(nc) OVER (PARTITION BY seg
      |    ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS m
      |  FROM sc),
      |agg AS (SELECT seg, SUM(nc)::BIGINT AS n,
      |    SUM(CAST(cents AS HUGEINT) * nc) AS s,
      |    SUM(CAST(cents AS HUGEINT) * (2 * CAST(nc AS HUGEINT) * m
      |        + CAST(nc AS HUGEINT) * (nc + 1))) AS w2
      |  FROM cum GROUP BY 1)
      |SELECT seg AS c_mktsegment, n AS n_orders,
      |  CAST(s AS DOUBLE) / 100 AS total_value,
      |  ROUND(CAST(w2 - (CAST(n AS HUGEINT) + 1) * s AS DOUBLE)
      |        / CAST(CAST(n AS HUGEINT) * s AS DOUBLE), 6) AS gini
      |FROM agg ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q73
  /** Does discounting move volume? Pearson correlation of line discount
    * vs quantity per part type — q38's DECIMAL-exact distributed-moment
    * recipe (order-independent under map-side combine) behind a
    * broadcast part-dim join; output is |p_type|-bounded. */
  val q73Sql: String =
    """WITH m AS (
      |  SELECT /*+ BROADCAST(part) */ p_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_discount AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(l_discount AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sx2,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sy2
      |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1)
      |SELECT p_type, n,
      |  ROUND((n * sxy - sx * sy) / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)), 6) AS corr_disc_qty
      |FROM m ORDER BY p_type""".stripMargin

  // ---------------------------------------------------------------- q74
  /** Returned-revenue exposure per supplier nation: total vs returned
    * revenue and the return rate. Broadcast supplier→nation dims, one
    * map-combinable decimal-exact rollup (|nations|-bounded), ONE IEEE
    * division per row, round6. Complements q63 (returns over time) and
    * q33 (per-customer returns) with the supply-side view. */
  val q74Sql: String =
    s"""WITH r AS (
       |  SELECT /*+ BROADCAST(supplier, nation) */ n_name, COUNT(*)::BIGINT AS n_lines,
       |    CAST(SUM($revenueSql) AS DOUBLE) AS total_revenue,
       |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN $revenueSql
       |             ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS returned_revenue
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  GROUP BY 1)
       |SELECT n_name, n_lines, total_revenue, returned_revenue,
       |  ROUND(returned_revenue / total_revenue, 6) AS return_rate
       |FROM r ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- q75
  /** Join-key skew census: the shuffle-planning numbers for the fact
    * tables' main join keys — rows, distinct keys, the hottest key's
    * row count, and the skew factor (max/avg). One map-combinable count
    * frame per key, each collapsing to a single row; at 100 TB this is
    * the profile that decides salting / AQE-skew thresholds BEFORE a
    * job hits the whale key. */
  val q75Sql: String = {
    def block(table: String, key: String) =
      s"""SELECT '$table.$key' AS key_col, SUM(cnt)::BIGINT AS n_rows,
         |  COUNT(*)::BIGINT AS n_keys, MAX(cnt) AS max_per_key,
         |  ROUND(CAST(SUM(cnt) AS DOUBLE) / COUNT(*), 6) AS avg_per_key,
         |  ROUND(CAST(MAX(cnt) * COUNT(*) AS DOUBLE) / SUM(cnt), 6) AS skew
         |FROM (SELECT $key, COUNT(*)::BIGINT AS cnt FROM $table GROUP BY 1)""".stripMargin
    Seq(block("lineitem", "l_orderkey"), block("lineitem", "l_partkey"),
        block("lineitem", "l_suppkey"), block("orders", "o_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY key_col")
  }

  // ---------------------------------------------------------------- q76
  /** Brand league table with rank shift: each brand's revenue rank per
    * quarter and its movement vs the previous quarter. The window is
    * partitioned per quarter over the |brands|-bounded aggregate (never
    * the fact); the quarter-over-quarter link is a broadcast equi
    * self-join on (brand, quarter-index). First-quarter shifts are NULL
    * in both engines. */
  val q76Sql: String =
    s"""WITH rev AS (
       |  SELECT /*+ BROADCAST(part) */ p_brand, year(l_shipdate) * 4 + quarter(l_shipdate) AS qkey,
       |    CAST(year(l_shipdate) AS STRING) || '-Q' || CAST(quarter(l_shipdate) AS STRING) AS quarter,
       |    SUM($revenueSql) AS rev
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY 1, 2, 3),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qkey
       |    ORDER BY rev DESC, p_brand) AS BIGINT) AS rnk
       |  FROM rev)
       |SELECT /*+ BROADCAST(b) */ a.quarter, a.p_brand, CAST(a.rev AS DOUBLE) AS revenue,
       |  a.rnk, b.rnk AS prev_rnk, b.rnk - a.rnk AS shift
       |FROM ranked a LEFT JOIN ranked b
       |  ON a.p_brand = b.p_brand AND a.qkey = b.qkey + 1
       |ORDER BY a.quarter, a.rnk""".stripMargin

  // ---------------------------------------------------------------- q77
  /** Seasonality index per calendar month: each month-of-year's revenue
    * against the uniform 1/12 share (index 1.0 = no seasonality). One
    * map-combinable groupBy to a 12-row frame, decimal-exact revenue,
    * 1-row total broadcast, ONE division per row. */
  val q77Sql: String =
    """WITH m AS (
      |  SELECT CAST(month(o_orderdate) AS BIGINT) AS moy, COUNT(*)::BIGINT AS n_orders,
      |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      |  FROM orders GROUP BY 1),
      |t AS (SELECT SUM(rev) AS trev FROM m)
      |SELECT /*+ BROADCAST(t) */ moy, n_orders, CAST(rev AS DOUBLE) AS revenue,
      |  ROUND(CAST(rev * 12 AS DOUBLE) / CAST(trev AS DOUBLE), 6) AS seasonality_index
      |FROM m CROSS JOIN t ORDER BY moy""".stripMargin

  // ---------------------------------------------------------------- q78
  /** Customer value-migration matrix: first-active-year spend band vs
    * last-active-year spend band for multi-year customers — who is
    * trading up, who is churning down. First/last-year revenues come
    * from map-combinable min/max(struct(year, revenue)) argmin/argmax
    * (year is unique per customer-year), bands are exact decimal
    * compares, output bounded at |bands|². */
  val q78Sql: String = {
    def band(e: String) =
      s"""CASE WHEN $e < 100000 THEN 'a<100k' WHEN $e < 250000 THEN 'b<250k'
         |       WHEN $e < 500000 THEN 'c<500k' ELSE 'd>=500k' END""".stripMargin
    s"""WITH cy AS (
       |  SELECT o_custkey, year(o_orderdate) AS yr,
       |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
       |  FROM orders GROUP BY 1, 2),
       |fl AS (
       |  SELECT o_custkey, min_by(rev, yr) AS frev, max_by(rev, yr) AS lrev
       |  FROM cy GROUP BY 1 HAVING MIN(yr) < MAX(yr))
       |SELECT ${band("frev")} AS band_first,
       |  ${band("lrev")} AS band_last,
       |  COUNT(*)::BIGINT AS n_customers
       |FROM fl GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- q79
  /** Referential-integrity census: orphan counts for every foreign key
    * in the star schema (lineitem→orders/part/supplier, orders→customer,
    * customer/supplier→nation, events→customer). Each relation is one
    * distinct-key collapse + one left-anti join on the key — the
    * data-quality gate a warehouse load runs before trusting its joins;
    * exact integer counts, ONE division per rate. */
  val q79Sql: String = {
    def block(label: String, fact: String, fk: String, dim: String, pk: String) =
      s"""SELECT '$label' AS relation, COUNT(*)::BIGINT AS n_rows,
         |  COUNT(CASE WHEN $pk IS NULL THEN 1 END)::BIGINT AS n_orphans,
         |  ROUND(CAST(COUNT(CASE WHEN $pk IS NULL THEN 1 END) AS DOUBLE)
         |        / NULLIF(COUNT(*), 0), 6)
         |    AS orphan_rate
         |FROM (SELECT $fk FROM $fact WHERE $fk IS NOT NULL) f
         |LEFT JOIN (SELECT DISTINCT $pk FROM $dim) d ON f.$fk = d.$pk""".stripMargin
    Seq(
      block("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      block("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
      block("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      block("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      block("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      block("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
      block("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY relation")
  }

  // ---------------------------------------------------------------- q80
  /** Order-position profile: does basket position change behavior?
    * Quantity/price/discount means per l_linenumber — one map-combinable
    * groupBy to a ≤|max linenumber| frame, decimal-exact sums, ONE
    * division per mean, round6. */
  val q80Sql: String =
    """SELECT CAST(l_linenumber AS BIGINT) AS position, COUNT(*)::BIGINT AS n_lines,
      |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
      |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
      |  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS avg_discount
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q81
  /** Customer-base demographics: customers and balance profile per
    * (nation, segment) cell — broadcast nation dim, one map-combinable
    * groupBy, |nations|×|segments|-bounded, decimal-exact balance
    * extrema and a single-division mean. */
  val q81Sql: String =
    """SELECT /*+ BROADCAST(nation) */ n_name, c_mktsegment, COUNT(*)::BIGINT AS n_customers,
      |  CAST(MIN(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS min_bal,
      |  CAST(MAX(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS max_bal,
      |  ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS avg_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q82
  /** Supply-chain redundancy census: suppliers-per-part histogram —
    * how much of the catalog is single-sourced (the procurement risk
    * q49's share concentration doesn't show). Distinct (part, supplier)
    * collapse map-side, two bounded groupBys. */
  val q82Sql: String =
    """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |pp AS (SELECT l_partkey, COUNT(*)::BIGINT AS n_suppliers FROM ps GROUP BY 1)
      |SELECT n_suppliers, COUNT(*)::BIGINT AS n_parts
      |FROM pp GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q83
  /** Order-priority mix trend: each priority's share of orders per year
    * — drift in the order book's urgency profile. Map-combinable census
    * to a |years|×|priorities| frame; the share window partitions by
    * year over that bounded frame (never the fact). */
  val q83Sql: String =
    """WITH m AS (
      |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderpriority,
      |    COUNT(*)::BIGINT AS n_orders
      |  FROM orders GROUP BY 1, 2)
      |SELECT yr, o_orderpriority, n_orders,
      |  ROUND(CAST(n_orders AS DOUBLE) /
      |        CAST(SUM(n_orders) OVER (PARTITION BY yr) AS DOUBLE), 6) AS share
      |FROM m ORDER BY yr, o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q84
  /** Do discounted lines come back? Return rate per integer discount
    * band — q51's banding (identical IEEE round both engines) with the
    * return dimension; one map-combinable groupBy, exact counts, ONE
    * division per band. */
  val q84Sql: String =
    """SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS discount_pct,
      |  COUNT(*)::BIGINT AS n_lines,
      |  COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END)::BIGINT AS n_returned,
      |  ROUND(CAST(COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS DOUBLE)
      |        / COUNT(*), 6) AS return_rate
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q85
  /** Fulfillment-window census: days between an order's first and last
    * line shipment, as a span histogram — how staggered multi-line
    * fulfillment is (q48 measures order→ship lag; this measures the
    * intra-order spread). One map-combinable min/max rollup per order,
    * then a bounded span-day histogram; integer day arithmetic only. */
  val q85Sql: String =
    """WITH o AS (
      |  SELECT l_orderkey,
      |    CAST(CAST(MAX(l_shipdate) AS DATE) - CAST(MIN(l_shipdate) AS DATE) AS BIGINT)
      |      AS span_days,
      |    COUNT(*)::BIGINT AS n_lines
      |  FROM lineitem GROUP BY 1)
      |SELECT span_days, COUNT(*)::BIGINT AS n_orders,
      |  CAST(SUM(n_lines) AS DOUBLE) / COUNT(*) AS avg_lines
      |FROM o GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q86
  /** Intra-order revenue concentration: how dominant is each order's
    * largest line? Decile bands of max-line-share computed with PURE
    * INTEGER arithmetic — revenue scaled to exact 4-decimal units, band
    * = (10·max)/total by integer division — so the band edge can never
    * drift between engines. Two map-combinable rollups, bounded output. */
  val q86Sql: String =
    s"""WITH l AS (
      |  SELECT l_orderkey,
      |    CAST($revenueSql * 10000 AS BIGINT) AS rev4
      |  FROM lineitem),
      |o AS (
      |  SELECT l_orderkey, MAX(rev4) AS max4, SUM(rev4) AS tot4,
      |    COUNT(*)::BIGINT AS n_lines
      |  FROM l GROUP BY 1)
      |SELECT LEAST(divide(max4 * 10, tot4), 9)::BIGINT AS band,
      |  COUNT(*)::BIGINT AS n_orders,
      |  CAST(SUM(n_lines) AS DOUBLE) / COUNT(*) AS avg_lines
      |FROM o GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q87
  /** Brand reorder rate: of each brand's distinct (customer, part)
    * pairs, how many bought that part in ≥2 distinct orders — the
    * repeat-purchase signal at catalog granularity (q53 is monthly
    * repeat rate at customer granularity). Fact-fact join shuffles on
    * orderkey (AQE-sized), the pair rollup on (cust, part), then a
    * broadcast part-dim join into a \|brands\|-bounded frame. */
  val q87Sql: String =
    """WITH pairs AS (
      |  SELECT o_custkey, l_partkey, COUNT(DISTINCT l_orderkey)::BIGINT AS n_orders
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2)
      |SELECT /*+ BROADCAST(part) */ p_brand, COUNT(*)::BIGINT AS n_pairs,
      |  COUNT(CASE WHEN n_orders >= 2 THEN 1 END)::BIGINT AS n_reordered,
      |  ROUND(CAST(COUNT(CASE WHEN n_orders >= 2 THEN 1 END) AS DOUBLE)
      |        / COUNT(*), 6) AS reorder_rate
      |FROM pairs JOIN part ON l_partkey = p_partkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q88
  /** Supplier health×activity matrix: account-balance tier (exact
    * decimal band compares) against shipped volume and revenue — do
    * financially-stressed suppliers carry real volume? Lineitem
    * pre-aggregates per suppkey BEFORE the dim join (the 100 TB side
    * collapses first); supplier side is a broadcast; left join keeps
    * inactive suppliers visible. */
  val q88Sql: String =
    s"""WITH act AS (
      |  SELECT l_suppkey, COUNT(*)::BIGINT AS n_lines, SUM($revenueSql) AS rev
      |  FROM lineitem GROUP BY 1)
      |SELECT CASE WHEN CAST(s_acctbal AS DECIMAL(12,2)) < 0 THEN 'a<0'
      |            WHEN CAST(s_acctbal AS DECIMAL(12,2)) < 2500 THEN 'b<2500'
      |            WHEN CAST(s_acctbal AS DECIMAL(12,2)) < 7500 THEN 'c<7500'
      |            ELSE 'd>=7500' END AS balance_tier,
      |  COUNT(*)::BIGINT AS n_suppliers,
      |  COUNT(n_lines)::BIGINT AS n_active,
      |  COALESCE(SUM(n_lines), 0)::BIGINT AS total_lines,
      |  CAST(COALESCE(SUM(rev), 0) AS DOUBLE) AS revenue
      |FROM supplier LEFT JOIN act ON s_suppkey = l_suppkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q89
  /** Basket brand diversity: distinct brands per order as a histogram —
    * single-brand baskets vs cross-brand shoppers (q68 finds WHICH
    * brands pair; this counts HOW diverse each basket is). Broadcast
    * part dim into the fact scan, per-order rollup, bounded histogram. */
  val q89Sql: String =
    """WITH o AS (
      |  SELECT /*+ BROADCAST(part) */ l_orderkey, COUNT(DISTINCT p_brand)::BIGINT AS n_brands,
      |    COUNT(*)::BIGINT AS n_lines
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1)
      |SELECT n_brands, COUNT(*)::BIGINT AS n_orders,
      |  CAST(SUM(n_lines) AS DOUBLE) / COUNT(*) AS avg_lines
      |FROM o GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q90
  /** Discount favoritism: the 20 customers with the highest average
    * line discount (≥10 lines) — the pricing-compliance audit list.
    * Per-customer discounts sum as exact integer percent points; ONE
    * division + round6, then a TakeOrderedAndProject top-20 with a
    * pinned custkey tiebreak (no global window/sort materializes). */
  val q90Sql: String =
    """WITH c AS (
      |  SELECT o_custkey, COUNT(*)::BIGINT AS n_lines,
      |    SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS pct_sum
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1 HAVING COUNT(*) >= 10)
      |SELECT o_custkey, n_lines,
      |  ROUND(CAST(pct_sum AS DOUBLE) / n_lines, 6) AS avg_discount_pct
      |FROM c ORDER BY avg_discount_pct DESC, o_custkey LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q91
  /** Yearly churn series: customers active in year Y who place no order
    * in Y+1 (last data year excluded — churn there is right-censored).
    * Orders collapse to distinct (year, customer) map-side; retention is
    * an equi self-join of that bounded frame on (customer, year+1); the
    * rollup is ≤\|years\| rows. The annual counterpart of q71's MoM
    * actives. */
  val q91Sql: String =
    """WITH yc AS (
      |  SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS yr, o_custkey
      |  FROM orders),
      |m AS (SELECT MAX(yr) AS max_yr FROM yc),
      |j AS (
      |  SELECT a.yr AS yr, a.o_custkey AS c, b.o_custkey AS nc
      |  FROM yc a LEFT JOIN yc b
      |    ON a.o_custkey = b.o_custkey AND b.yr = a.yr + 1)
      |SELECT /*+ BROADCAST(m) */ yr, COUNT(*)::BIGINT AS n_active, COUNT(nc)::BIGINT AS n_retained,
      |  (COUNT(*) - COUNT(nc))::BIGINT AS n_churned,
      |  ROUND(CAST(COUNT(*) - COUNT(nc) AS DOUBLE) / COUNT(*), 6) AS churn_rate
      |FROM j, m WHERE yr < max_yr
      |GROUP BY yr ORDER BY yr""".stripMargin

  // ---------------------------------------------------------------- q92
  /** Promo design grid: quantity band × integer discount band with line
    * counts and exact revenue — where on the (volume, discount) surface
    * the money actually sits (q73 gives the correlation; this gives the
    * cells). One map-combinable groupBy; both band edges are integer
    * compares. */
  val q92Sql: String =
    s"""SELECT CASE WHEN CAST(CAST(l_quantity AS DECIMAL(12,2)) AS BIGINT) <= 10 THEN 'a<=10'
       |            WHEN CAST(CAST(l_quantity AS DECIMAL(12,2)) AS BIGINT) <= 25 THEN 'b<=25'
       |            WHEN CAST(CAST(l_quantity AS DECIMAL(12,2)) AS BIGINT) <= 40 THEN 'c<=40'
       |            ELSE 'd>40' END AS qty_band,
       |  CAST(ROUND(l_discount * 100) AS BIGINT) AS discount_pct,
       |  COUNT(*)::BIGINT AS n_lines,
       |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue
       |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q93
  /** Customer tenure census: years between a customer's first and last
    * order, banded — the relationship-length profile behind q91's churn
    * rates. One map-combinable min/max pass per customer, integer year
    * arithmetic, ≤\|years\| output rows. */
  val q93Sql: String =
    """WITH c AS (
      |  SELECT o_custkey,
      |    CAST(year(MAX(o_orderdate)) - year(MIN(o_orderdate)) AS BIGINT) AS tenure_years,
      |    COUNT(*)::BIGINT AS n_orders
      |  FROM orders GROUP BY 1)
      |SELECT tenure_years, COUNT(*)::BIGINT AS n_customers,
      |  CAST(SUM(n_orders) AS DOUBLE) / COUNT(*) AS avg_orders
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q94
  /** Inter-region trade matrix: revenue by (supplier region → customer
    * region) — q60's nation trade balance rolled up one dim level to
    * the 5×5 flow matrix. The fact chain shuffles on its keys once;
    * all four dim hops (nation×2, region×2) broadcast; decimal-exact
    * revenue. */
  def q94(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_regionkey")
    val r = Tables.region(spark, dir).select("r_regionkey", "r_name")
    val supRegion = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("r_name").as("supp_region"))
    val custRegion = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("r_name").as("cust_region"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        revenueTerm(col("l_extendedprice"), col("l_discount")).as("rev"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supRegion), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(custRegion), col("o_custkey") === col("c_custkey"))
      .groupBy("supp_region", "cust_region")
      .agg(count(lit(1)).as("n_lines"), dbl(sum(col("rev"))).as("revenue"))
      .orderBy("supp_region", "cust_region")
  }
  val q94Sql: String =
    s"""WITH sr AS (
       |  SELECT s_suppkey, r_name AS supp_region
       |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey),
       |cr AS (
       |  SELECT c_custkey, r_name AS cust_region
       |  FROM customer JOIN nation ON c_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey)
       |SELECT supp_region, cust_region, COUNT(*)::BIGINT AS n_lines,
       |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN sr ON l_suppkey = s_suppkey
       |JOIN cr ON o_custkey = c_custkey
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q95
  /** Tax-incidence census per integer tax band (the one lineitem column
    * q01 touches and nothing profiles): line counts, decimal-exact base
    * revenue and collected tax, effective rate as ONE division of exact
    * operands. One map-combinable groupBy, ≤\|tax points\| (9) rows —
    * the band key is `round(l_tax·100)` so no float equality decides a
    * group at any scale. */
  val q95Sql: String =
    s"""WITH b AS (
       |  SELECT CAST(ROUND(l_tax * 100) AS BIGINT) AS tax_pct,
       |    COUNT(*)::BIGINT AS n_lines,
       |    CAST(SUM($revenueSql) AS DOUBLE) AS base_revenue,
       |    CAST(SUM($revenueSql * CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE) AS tax_amount
       |  FROM lineitem GROUP BY 1)
       |SELECT tax_pct, n_lines, base_revenue, tax_amount,
       |  ROUND(tax_amount / base_revenue, 6) AS eff_rate
       |FROM b ORDER BY tax_pct""".stripMargin

  // ---------------------------------------------------------------- q96
  /** Nation↔brand affinity matrix: purchase-count lift of each
    * (customer nation, part brand) cell vs the independence baseline —
    * q68's association lift lifted from within-order pairs to the
    * cross-dim market view ("which brands over-index where"). The fact
    * chain shuffles once; nation/part dims broadcast; the census frame
    * is \|nations\|×\|brands\|-bounded, its marginals are equi
    * broadcast joins on that bounded frame, the grand total is a 1-row
    * broadcast (q68's shape), and lift is cross-multiplied to ONE
    * division per cell. */
  val q96Sql: String =
    """WITH cell AS (
      |  SELECT /*+ BROADCAST(customer, nation, part) */ n_name, p_brand, COUNT(*)::BIGINT AS c
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |n AS (SELECT n_name, SUM(c)::BIGINT AS cn FROM cell GROUP BY 1),
      |b AS (SELECT p_brand, SUM(c)::BIGINT AS cb FROM cell GROUP BY 1),
      |t AS (SELECT SUM(c)::BIGINT AS t FROM cell)
      |SELECT /*+ BROADCAST(n, b, t) */ n_name, p_brand, c AS n_lines,
      |  ROUND(CAST(c * t AS DOUBLE) / CAST(cn * cb AS DOUBLE), 6) AS lift
      |FROM cell JOIN n USING (n_name) JOIN b USING (p_brand) CROSS JOIN t
      |ORDER BY n_name, p_brand""".stripMargin

  // ---------------------------------------------------------------- q97
  /** Brand-loyalty concentration: per customer, the share of their
    * lifetime lines going to their single top brand, banded — q89
    * measures within-order diversity, q87 reorder depth; this is the
    * lifetime concentration curve. Two map-combinable rollups; band
    * edges are integer CROSS-MULTIPLIED compares (`top·4 ≤ total·3` ⇔
    * share ≤ 75%), so no float share decides a band; ≤5 rows, one
    * division each. */
  val q97Sql: String =
    """WITH cb AS (
      |  SELECT /*+ BROADCAST(part) */ o_custkey, p_brand, COUNT(*)::BIGINT AS c
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |u AS (
      |  SELECT o_custkey, SUM(c)::BIGINT AS total, MAX(c) AS top,
      |    COUNT(*)::BIGINT AS n_brands
      |  FROM cb GROUP BY 1)
      |SELECT CASE WHEN top * 4 <= total THEN 'a<=25%'
      |            WHEN top * 2 <= total THEN 'b<=50%'
      |            WHEN top * 4 <= total * 3 THEN 'c<=75%'
      |            WHEN top < total THEN 'd<100%'
      |            ELSE 'e=100%' END AS loyalty_band,
      |  COUNT(*)::BIGINT AS n_customers,
      |  CAST(SUM(n_brands) AS DOUBLE) / COUNT(*) AS avg_brands
      |FROM u GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q98
  /** Return rate by customer tenure: do long-relationship customers
    * return fewer lines? Crosses q93's tenure bands with q74's return
    * share on the customer axis. The customer tenure frame is one
    * map-combinable min/max pass over orders; lineitem joins orders
    * once (its only wide shuffle) and the per-customer return rollup
    * joins the tenure frame co-keyed on the uniform custkey; exact
    * integer counts, ONE division per ≤\|years\| row. */
  val q98Sql: String =
    """WITH t AS (
      |  SELECT o_custkey AS custkey,
      |    CAST(year(MAX(o_orderdate)) - year(MIN(o_orderdate)) AS BIGINT) AS tenure_years
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT o_custkey, COUNT(*)::BIGINT AS n_lines,
      |    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS n_returned
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1)
      |SELECT tenure_years, COUNT(*)::BIGINT AS n_customers,
      |  SUM(n_lines)::BIGINT AS n_lines,
      |  ROUND(CAST(SUM(n_returned) AS DOUBLE) / SUM(n_lines), 6) AS return_rate
      |FROM r JOIN t ON o_custkey = custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q99
  /** Multi-year relationship census: customers by number of DISTINCT
    * active years (q93 measures first→last span; this measures how
    * many of those years actually saw an order — span 5 / active 2 is
    * a lapsing customer). One map-combinable pass per customer
    * (n_orders + exact distinct years), ≤\|years\| output rows. */
  val q99Sql: String =
    """WITH c AS (
      |  SELECT o_custkey, COUNT(*)::BIGINT AS n_orders,
      |    COUNT(DISTINCT year(o_orderdate))::BIGINT AS n_years
      |  FROM orders GROUP BY 1)
      |SELECT n_years, COUNT(*)::BIGINT AS n_customers,
      |  CAST(SUM(n_orders) AS DOUBLE) / COUNT(*) AS avg_orders
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q100
  /** Brand price-premium table: each brand's mean retail price vs its
    * part TYPE's market mean — the cross-level comparison q61's
    * per-brand book can't make (a $900 brand is cheap in one type,
    * premium in another). Two bounded dimension aggs off one `part`
    * scan; the type-market join is a broadcast of the \|types\|-row
    * frame; premium is ONE division of exact decimal-derived doubles
    * per \|types\|×\|brands\| cell. (A supplier customer-reach census
    * was tried first and measured degenerate: the synthetic bipartite
    * graph is near-complete — every supplier serves 139–679 customers
    * at every scale — so the banding carried zero information.) */
  val q100Sql: String =
    """WITH b AS (
      |  SELECT p_type, p_brand, COUNT(*)::BIGINT AS n_parts,
      |    SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS spd
      |  FROM part GROUP BY 1, 2),
      |t AS (SELECT p_type, SUM(n_parts)::BIGINT AS tn, SUM(spd) AS tpd
      |      FROM b GROUP BY 1)
      |SELECT /*+ BROADCAST(t) */ p_type, p_brand, n_parts,
      |  ROUND(CAST(spd AS DOUBLE) / n_parts, 2) AS brand_mean,
      |  ROUND(CAST(tpd AS DOUBLE) / tn, 2) AS type_mean,
      |  ROUND((CAST(spd AS DOUBLE) / n_parts) / (CAST(tpd AS DOUBLE) / tn), 6)
      |    AS premium
      |FROM b JOIN t USING (p_type) ORDER BY p_type, p_brand""".stripMargin

  // ---------------------------------------------------------------- q101
  /** Customer spend-trend census: per multi-order customer, the SIGN
    * of the OLS slope of order value over order date (rising / flat /
    * falling), censused — e56 fits one slope per event type; this
    * fits \|customers\| regressions and classifies by the slope
    * NUMERATOR's exact integer sign (`n·Σxy − Σx·Σy` in DECIMAL(38,0);
    * the denominator is positive whenever dates differ), so no float
    * division decides a class. One map-combinable moment pass, ≤3
    * output rows. */
  val q101Sql: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |    CAST(CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS DECIMAL(38,0)) AS x,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS DECIMAL(38,0)) AS y
      |  FROM orders),
      |u AS (
      |  SELECT o_custkey, COUNT(*)::BIGINT AS n,
      |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sx2
      |  FROM o GROUP BY 1 HAVING COUNT(*) >= 2),
      |c AS (
      |  SELECT n,
      |    CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS num,
      |    CAST(n AS DECIMAL(38,0)) * sx2 - sx * sx AS den
      |  FROM u)
      |SELECT CASE WHEN num > 0 THEN 'a_rising'
      |            WHEN num < 0 THEN 'c_falling'
      |            ELSE 'b_flat' END AS trend,
      |  COUNT(*)::BIGINT AS n_customers,
      |  CAST(SUM(n) AS DOUBLE) / COUNT(*) AS avg_orders
      |FROM c WHERE den > 0 GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q102
  /** Classical seasonal decomposition of monthly revenue:
    * revenue = year-trend + month-seasonal + residual — q77 gives the
    * seasonal INDEX; this gives the full additive decomposition table
    * an analyst actually plots. Three bounded rollups off one monthly
    * census (\|years\|×12 rows): the year mean is the trend, the mean
    * monthly deviation from trend is the seasonal component, and what
    * remains is the residual. All money stays decimal-exact until the
    * per-row divisions; joins are broadcasts of bounded frames. */
  val q102Sql: String =
    """WITH m AS (
      |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    CAST(month(o_orderdate) AS BIGINT) AS mo,
      |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      |  FROM orders GROUP BY 1, 2),
      |t AS (SELECT yr AS tyr, CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS trend
      |      FROM m GROUP BY 1),
      |d AS (
      |  SELECT /*+ BROADCAST(t) */ yr, mo, rev, trend, CAST(rev AS DOUBLE) - trend AS dev
      |  FROM m JOIN t ON yr = tyr),
      |s AS (SELECT mo AS smo,
      |        CAST(SUM(CAST(ROUND(dev, 6) AS DECIMAL(28,6))) AS DOUBLE)
      |          / COUNT(*) AS seasonal
      |      FROM d GROUP BY 1)
      |SELECT /*+ BROADCAST(s) */ yr, mo, CAST(rev AS DOUBLE) AS revenue,
      |  trend, seasonal,
      |  CAST(rev AS DOUBLE) - trend - seasonal AS residual
      |FROM d JOIN s ON mo = smo ORDER BY yr, mo""".stripMargin

  // ---------------------------------------------------------------- q103
  /** Quantity-WEIGHTED median retail price per brand: each part counts
    * by how much it actually SELLS (Σ l_quantity), so the median
    * reflects the price customers pay, not the price list — a
    * catalog-median (q18's recipe) calls a brand cheap when its unsold
    * long tail is cheap. The weighted lower median is the smallest
    * price whose cumulative sold-quantity reaches half the brand total;
    * the crossing test is an exact decimal cross-multiplication
    * (2·cumw ≥ totw — no float boundary), ties broken by partkey.
    *
    * Scale: one map-combinable quantity rollup on uniform l_partkey,
    * one part-side join, brand-partitioned cumulative windows (bounded
    * per brand), and a min-per-brand rollup — no global sort. */
  val q103Sql: String =
    """WITH sold AS (
      |  SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS wq
      |  FROM lineitem GROUP BY 1),
      |p AS (
      |  SELECT p_brand, p_partkey, p_retailprice, wq
      |  FROM part JOIN sold ON p_partkey = l_partkey),
      |c AS (
      |  SELECT p_brand, p_partkey, p_retailprice, wq,
      |    SUM(wq) OVER (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
      |    SUM(wq) OVER (PARTITION BY p_brand) AS totw
      |  FROM p)
      |SELECT p_brand, MIN(p_retailprice) AS weighted_median_price,
      |  CAST(MAX(totw) AS DOUBLE) AS total_qty
      |FROM c WHERE cumw * 2 >= totw
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q104
  /** Discount elasticity per brand: the per-brand OLS line of quantity
    * on discount (slope + intercept), the number q73's correlation only
    * hints at — "one more point of discount buys `slope` more units".
    * All five moments are DECIMAL-exact sums (order-independent under
    * map-side combine); slope/intercept are each ONE double division,
    * guarded against a zero-variance brand (all lines at one discount
    * ⇒ NULL slope in both engines, never a div-by-zero).
    *
    * Scale: broadcast part dim onto the fact scan, |brand|-bounded
    * moment frame, no shuffle beyond the groupBy. */
  val q104Sql: String =
    """WITH m AS (
      |  SELECT /*+ BROADCAST(part) */ p_brand, COUNT(*) AS n,
      |    CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_discount AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(l_discount AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sx2
      |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1)
      |SELECT p_brand, n,
      |  ROUND(CASE WHEN n * sx2 - sx * sx > 0
      |    THEN (n * sxy - sx * sy) / (n * sx2 - sx * sx) END, 6) AS slope_qty_per_disc,
      |  ROUND(CASE WHEN n * sx2 - sx * sx > 0
      |    THEN (sy - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sx) / n END, 6) AS intercept_qty
      |FROM m ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------- q105
  /** Return-abuse screen: customers whose lineitem return rate runs at
    * ≥1.5× their nation's baseline on a ≥5-line history — the classic
    * fraud-ops shortlist where the NATION baseline (not the global one)
    * absorbs regional returns-policy differences before a customer is
    * flagged. Rates are single divisions of exact counts; lift is one
    * further division, NULL-guarded for a returns-free nation.
    *
    * Scale: orders⋈lineitem shuffles once on the order key, customer
    * joins on its own key (AQE picks BHJ while it fits), the |nation|-
    * bounded baseline frame broadcasts. Output is the flagged tail. */
  val q105Sql: String =
    """WITH pc AS (
      |  SELECT c_custkey, c_nationkey, COUNT(*)::BIGINT AS n_lines,
      |    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS n_returned
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |pn AS (
      |  SELECT c_nationkey, SUM(n_lines)::BIGINT AS nat_lines,
      |    SUM(n_returned)::BIGINT AS nat_returned
      |  FROM pc GROUP BY 1)
      |SELECT /*+ BROADCAST(pn, nation) */ c_custkey, n_name, n_lines, n_returned,
      |  ROUND(CAST(n_returned AS DOUBLE) / n_lines, 6) AS return_rate,
      |  ROUND(CAST(nat_returned AS DOUBLE) / nat_lines, 6) AS nation_rate,
      |  ROUND((CAST(n_returned AS DOUBLE) / n_lines)
      |      / (CAST(nat_returned AS DOUBLE) / nat_lines), 6) AS lift
      |FROM pc
      |JOIN pn USING (c_nationkey)
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE n_lines >= 5 AND nat_returned > 0
      |  AND CAST(n_returned AS DOUBLE) / n_lines
      |      >= (CAST(nat_returned AS DOUBLE) / nat_lines) * 1.5
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q106
  /** Intra-part price dispersion rolled up to brand: for every part sold
    * on ≥3 lines, the relative spread between its cheapest and dearest
    * unit price (vs its exact volume-weighted mean unit price —
    * Σprice/Σqty, both DECIMAL), then per brand the count, mean and max
    * of those spreads. High dispersion = inconsistent pricing or data
    * entry drift; the per-row unit division is identical IEEE in both
    * engines and min/max/decimal-sums are order-independent.
    *
    * Scale: one groupBy on the part key (the fact table's natural
    * secondary key), brand attach via broadcast part dim, |brand|-
    * bounded final rollup over round6-quantized decimal spreads. */
  def q106(spark: SparkSession, dir: String): DataFrame = {
    val unit = col("l_extendedprice") / col("l_quantity")
    val perPart = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), unit.as("u"),
        dec(col("l_extendedprice")).as("ep"), dec(col("l_quantity")).as("qt"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_lines"), min(col("u")).as("mn"),
        max(col("u")).as("mx"), sum(col("ep")).as("sep"), sum(col("qt")).as("sqt"))
      .filter(col("n_lines") >= 3)
      .withColumn("spread",
        round((col("mx") - col("mn")) / (dbl(col("sep")) / dbl(col("sqt"))), 6))
    perPart
      .join(broadcast(Tables.part(spark, dir).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"),
        round(dbl(sum(col("spread").cast("decimal(18,6)"))) / count(lit(1)), 6)
          .as("mean_spread"),
        round(max(col("spread")), 6).as("max_spread"))
      .orderBy("p_brand")
  }
  val q106Sql: String =
    """WITH pp AS (
      |  SELECT l_partkey, COUNT(*)::BIGINT AS n_lines,
      |    MIN(l_extendedprice / l_quantity) AS mn,
      |    MAX(l_extendedprice / l_quantity) AS mx,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sep,
      |    SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sqt
      |  FROM lineitem GROUP BY 1),
      |sp AS (
      |  SELECT l_partkey,
      |    ROUND((mx - mn) / (CAST(sep AS DOUBLE) / CAST(sqt AS DOUBLE)), 6) AS spread
      |  FROM pp WHERE n_lines >= 3)
      |SELECT p_brand, COUNT(*)::BIGINT AS n_parts,
      |  ROUND(CAST(SUM(CAST(spread AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
      |    AS mean_spread,
      |  ROUND(MAX(spread), 6) AS max_spread
      |FROM sp JOIN part ON l_partkey = p_partkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q107
  /** Order-flow backlog series: per calendar month, orders placed and
    * order-lines shipped, plus the CUMULATIVE totals of both — the
    * intake-vs-fulfillment ledger where a persistently widening gap
    * between the two cumulative curves means shipping is falling
    * behind order intake.
    *
    * Scale: two map-combinable month rollups (one per fact scan), a
    * bounded |months| merge, and the cumulative columns via q23's
    * month-frame non-equi broadcast self-join — never a global window. */
  val q107Sql: String =
    """WITH p AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*)::BIGINT AS n_placed
      |  FROM orders GROUP BY 1),
      |s AS (
      |  SELECT strftime(l_shipdate, '%Y-%m') AS month, COUNT(*)::BIGINT AS n_shipped_lines
      |  FROM lineitem GROUP BY 1),
      |m AS (
      |  SELECT COALESCE(p.month, s.month) AS month,
      |    COALESCE(n_placed, 0)::BIGINT AS n_placed,
      |    COALESCE(n_shipped_lines, 0)::BIGINT AS n_shipped_lines
      |  FROM p FULL OUTER JOIN s ON p.month = s.month)
      |SELECT /*+ BROADCAST(b) */ a.month, a.n_placed, a.n_shipped_lines,
      |  SUM(b.n_placed)::BIGINT AS cum_placed,
      |  SUM(b.n_shipped_lines)::BIGINT AS cum_shipped_lines
      |FROM m a JOIN m b ON b.month <= a.month
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q108
  /** Quantile-sketch audit: approx_percentile (the mergeable sketch a
    * 1000-executor rollup actually ships — accuracy parameter 10⁴ ⇒
    * rank error ≤ 1/10⁴) against the exact p50/p95/p99 of extended
    * price, with the exact ±0.01-quantile envelope the rank guarantee
    * promises. The audit row is the evidence that the sketch path may
    * replace the exact global sort at 100 TB — exact percentiles do
    * not scale (single-partition sort), sketches do (map-side merge).
    * Rows-only: approx_percentile is Spark's sketch, not SQL-mirrorable;
    * the smoke spec pins in_bounds = true on every row.
    *
    * Scale: ONE pass builds all three sketches and the exact envelope
    * percentiles come from one percentile() aggregate (the test-scale
    * oracle side); output 3 rows. */
  def q108(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val qs = Seq(0.5d, 0.95d, 0.99d)
    val exact = li.agg(
      expr(s"percentile(l_extendedprice, array(${(qs.flatMap(q => Seq(q - 0.01, q, q + 0.01))).mkString(",")}))")
        .as("ex"),
      expr(s"approx_percentile(l_extendedprice, array(${qs.mkString(",")}), 10000)")
        .as("ap"))
    qs.zipWithIndex.map { case (q, i) =>
      exact.select(lit(q).as("quantile"),
        round(col("ex").getItem(3 * i + 1), 6).as("exact"),
        round(col("ap").getItem(i), 6).as("approx"),
        round(col("ex").getItem(3 * i), 6).as("lo_envelope"),
        round(col("ex").getItem(3 * i + 2), 6).as("hi_envelope"),
        (col("ap").getItem(i) >= col("ex").getItem(3 * i) &&
          col("ap").getItem(i) <= col("ex").getItem(3 * i + 2)).as("in_bounds"))
    }.reduce(_.unionByName(_)).orderBy("quantile")
  }

  // ---------------------------------------------------------------- q109
  /** Customer order-cadence regularity: inter-order day gaps per customer
    * (lag window over o_orderdate, ≥3 orders so ≥2 gaps), mean and
    * coefficient of variation from EXACT integer moments (gaps are whole
    * days: n·Σg² − (Σg)² is exact BIGINT arithmetic, so both engines
    * perform the identical two IEEE ops), rolled to market segment with
    * round6-quantized decimal sums (order-independent).
    *
    * Scale: the window partitions by o_custkey (no global sort); the
    * per-customer frame is |customers|-bounded; the segment rollup
    * joins customer on the already-shuffled custkey. */
  val q109Sql: String =
    """WITH g AS (
      |  SELECT o_custkey,
      |    CAST(CAST(o_orderdate AS DATE) - CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE) AS BIGINT) AS gap
      |  FROM orders),
      |p AS (
      |  SELECT o_custkey, COUNT(*)::BIGINT AS n, SUM(gap)::BIGINT AS s, SUM(gap * gap)::BIGINT AS ss
      |  FROM g WHERE gap IS NOT NULL GROUP BY 1 HAVING COUNT(*) >= 2),
      |c AS (
      |  SELECT o_custkey, n,
      |    CAST(s AS DOUBLE) / n AS mean_gap,
      |    sqrt(CAST(n * ss - s * s AS DOUBLE) / CAST(n * n AS DOUBLE)) AS sd_gap
      |  FROM p),
      |v AS (
      |  SELECT o_custkey, n, mean_gap,
      |    CASE WHEN mean_gap > 0 THEN sd_gap / mean_gap ELSE 0.0 END AS cv
      |  FROM c)
      |SELECT c_mktsegment, COUNT(*)::BIGINT AS n_customers,
      |  ROUND(CAST(SUM(CAST(ROUND(mean_gap, 6) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_mean_gap,
      |  ROUND(CAST(SUM(CAST(ROUND(cv, 6) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_cv,
      |  ROUND(MAX(mean_gap), 6) AS max_mean_gap
      |FROM v JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q110
  /** Two-sample account-balance census: customers WITH at least one order
    * vs customers with NONE (Q22's silent-customer shape made explicit),
    * per 1000-unit balance band — whether dormant accounts sit in a
    * different wealth band than active ones, the signal behind win-back
    * targeting. Per-group averages are decimal-exact sums with ONE IEEE
    * division; empty cells surface as NULL identically in both engines
    * (a SUM over no rows is NULL, never 0).
    *
    * Scale: orders collapses to DISTINCT custkeys (map-combinable),
    * joins customer on the co-keyed custkey shuffle, then a ≤12-key
    * band rollup — no window, no skew hazard. */
  val q110Sql: String =
    """WITH a AS (SELECT DISTINCT o_custkey FROM orders),
      |j AS (
      |  SELECT c_acctbal, (o_custkey IS NOT NULL) AS act,
      |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band
      |  FROM customer LEFT JOIN a ON c_custkey = o_custkey)
      |SELECT band,
      |  SUM(CASE WHEN act THEN 1 ELSE 0 END)::BIGINT AS n_active,
      |  SUM(CASE WHEN NOT act THEN 1 ELSE 0 END)::BIGINT AS n_inactive,
      |  ROUND(CAST(SUM(CASE WHEN NOT act THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
      |    AS inactive_share,
      |  ROUND(CAST(SUM(CASE WHEN act THEN CAST(c_acctbal AS DECIMAL(12,2)) END) AS DOUBLE)
      |    / SUM(CASE WHEN act THEN 1 END), 6) AS avg_bal_active,
      |  ROUND(CAST(SUM(CASE WHEN NOT act THEN CAST(c_acctbal AS DECIMAL(12,2)) END) AS DOUBLE)
      |    / SUM(CASE WHEN NOT act THEN 1 END), 6) AS avg_bal_inactive
      |FROM j GROUP BY band ORDER BY band""".stripMargin

  // ---------------------------------------------------------------- q111
  /** Benford first-digit audit of order totals: observed leading-digit
    * census of o_totalprice vs the Benford expectation log10(1 + 1/d),
    * with the per-digit chi-square contribution (O − E)²/E — the classic
    * fabricated-/synthetic-amount forensic screen an ingest pipeline runs
    * on any money column it did not generate itself. The digit is taken
    * from the DECIMAL(12,2) string (exact, no double-formatting drift);
    * the nine Benford constants are Scala doubles serialized into the
    * oracle SQL at 17 significant digits, so both engines fold the
    * IDENTICAL literal — expected/chi² are the same few IEEE ops on
    * exact operands.
    *
    * Scale: one map-combinable 9-key groupBy over the scan; the 1-row
    * order-count total broadcasts back onto the 9-row frame. */
  def q111(spark: SparkSession, dir: String): DataFrame = {
    val expCol = (2 to 9).foldLeft(when(col("digit") === 1, lit(q111Benford(1)))) {
      (acc, d) => acc.when(col("digit") === d, lit(q111Benford(d)))
    }.otherwise(lit(0d))
    val obs = Tables.orders(spark, dir)
      .select(regexp_extract(dec(col("o_totalprice")).cast("string"), "[1-9]", 0)
        .cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = Tables.orders(spark, dir).agg(count(lit(1)).as("n_total"))
    obs.join(broadcast(tot))
      .withColumn("e", expCol * dbl(col("n_total")))
      .select(col("digit"), col("n"),
        round(dbl(col("n")) / dbl(col("n_total")), 6).as("share"),
        round(expCol, 6).as("benford_share"),
        round((dbl(col("n")) - col("e")) * (dbl(col("n")) - col("e")) / col("e"), 6)
          .as("chi2_term"))
      .orderBy("digit")
  }
  /** Benford shares for digits 1..9 (index 0 unused) — single source of
    * truth for both engines. */
  private val q111Benford: Array[Double] =
    Array(0d) ++ (1 to 9).map(d => math.log10(1d + 1d / d))
  val q111Sql: String = {
    val lits = (1 to 9).map(d => f"WHEN $d THEN ${q111Benford(d)}%.17g").mkString(" ")
    s"""WITH o AS (
       |  SELECT CAST(regexp_extract(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS STRING),
       |    '[1-9]') AS BIGINT) AS digit FROM orders),
       |c AS (SELECT digit, COUNT(*)::BIGINT AS n FROM o GROUP BY 1),
       |t AS (SELECT COUNT(*)::BIGINT AS n_total FROM orders),
       |b AS (SELECT digit, n, n_total,
       |  (CASE digit $lits ELSE 0.0 END) AS bs,
       |  (CASE digit $lits ELSE 0.0 END) * CAST(n_total AS DOUBLE) AS e
       |  FROM c CROSS JOIN t)
       |SELECT digit, n,
       |  ROUND(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS share,
       |  ROUND(bs, 6) AS benford_share,
       |  ROUND((CAST(n AS DOUBLE) - e) * (CAST(n AS DOUBLE) - e) / e, 6) AS chi2_term
       |FROM b ORDER BY digit""".stripMargin
  }

  // ---------------------------------------------------------------- q112
  /** Theil-T inequality decomposition of customer spend by nation: the
    * total Theil index splits ADDITIVELY into a between-nation term
    * Σ s_g·ln(μ_g/μ) and spend-weighted within-nation terms s_g·T_g —
    * the census that says whether spend concentration is a geography
    * story or an individual-whale story (Gini, q72, can't decompose).
    * Per-customer ln terms are round9-quantized before the decimal sums
    * (order-independent); every mean is one IEEE division of exact
    * operands; the ln inputs are bit-identical doubles in both engines.
    *
    * Scale: one custkey groupBy (co-keyed with the customer join), a
    * ≤25-row nation frame and a 1-row global frame broadcast back onto
    * the per-customer stream; no window, no skew hazard. */
  def q112(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(dbl(sum(dec(col("o_totalprice")))).as("x"))
      .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nationkey"), col("x"),
        round(col("x"), 2).cast("decimal(18,2)").as("xd"))
    val perNation = spend.groupBy("nationkey")
      .agg(count(lit(1)).as("n_g"), sum(col("xd")).as("xg"))
      .withColumn("mu_g", dbl(col("xg")) / col("n_g"))
    val global = spend.agg(count(lit(1)).as("n"), sum(col("xd")).as("xt"))
      .withColumn("mu", dbl(col("xt")) / col("n"))
    val terms = spend.join(broadcast(perNation), Seq("nationkey"))
      .select(col("nationkey"),
        round((col("x") / col("mu_g")) * log(col("x") / col("mu_g")), 9)
          .cast("decimal(18,9)").as("term"))
      .groupBy("nationkey")
      .agg(dbl(sum(col("term"))).as("term_sum"))
    perNation.join(terms, Seq("nationkey")).join(broadcast(global))
      .select(col("nationkey"), col("n_g").as("n_cust"),
        round(dbl(col("xg")) / dbl(col("xt")), 6).as("spend_share"),
        round(col("term_sum") / col("n_g"), 6).as("theil_within"),
        round((dbl(col("xg")) / dbl(col("xt"))) * (col("term_sum") / col("n_g")), 6)
          .as("weighted_within"),
        round((dbl(col("xg")) / dbl(col("xt"))) * log(col("mu_g") / col("mu")), 6)
          .as("between_term"))
      .orderBy("nationkey")
  }
  val q112Sql: String =
    """WITH s AS (
      |  SELECT c_nationkey AS nationkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS x,
      |    CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
      |      AS DECIMAL(18,2)) AS xd
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY o_custkey, c_nationkey),
      |png AS (
      |  SELECT nationkey, COUNT(*)::BIGINT AS n_g, SUM(xd) AS xg,
      |    CAST(SUM(xd) AS DOUBLE) / COUNT(*) AS mu_g
      |  FROM s GROUP BY 1),
      |g AS (
      |  SELECT COUNT(*)::BIGINT AS n, SUM(xd) AS xt,
      |    CAST(SUM(xd) AS DOUBLE) / COUNT(*) AS mu
      |  FROM s),
      |t AS (
      |  SELECT s.nationkey,
      |    CAST(SUM(CAST(ROUND((x / mu_g) * ln(x / mu_g), 9) AS DECIMAL(18,9))) AS DOUBLE)
      |      AS term_sum
      |  FROM s JOIN png ON s.nationkey = png.nationkey
      |  GROUP BY 1)
      |SELECT png.nationkey, n_g AS n_cust,
      |  ROUND(CAST(xg AS DOUBLE) / CAST(xt AS DOUBLE), 6) AS spend_share,
      |  ROUND(term_sum / n_g, 6) AS theil_within,
      |  ROUND((CAST(xg AS DOUBLE) / CAST(xt AS DOUBLE)) * (term_sum / n_g), 6)
      |    AS weighted_within,
      |  ROUND((CAST(xg AS DOUBLE) / CAST(xt AS DOUBLE)) * ln(mu_g / mu), 6) AS between_term
      |FROM png JOIN t ON png.nationkey = t.nationkey CROSS JOIN g
      |ORDER BY png.nationkey""".stripMargin

  // ---------------------------------------------------------------- q113
  /** Monthly-revenue autocorrelation at lags 1–3: exact Pearson r between
    * the month series and its lagged self — the one-number momentum /
    * short-cycle tell that says whether q06's forecast can lean on last
    * month (high lag-1) and whether a quarterly cycle exists (lag-3
    * spike), where q102's decomposition assumes the period instead of
    * measuring it. Revenue is scaled to millions by ONE identical IEEE
    * division then round6-quantized, products round9-quantized before
    * the per-lag decimal sums; r is a fixed expression over exact
    * operands.
    *
    * Scale: the month rollup is map-combinable to a ≤few-hundred-row
    * series; the lag join is an equi-join on the shifted month key over
    * that bounded frame fanned out ×3 by a literal lag array — constant
    * post-rollup work at any corpus size. */
  val q113Sql: String =
    """WITH s AS (
      |  SELECT (CAST(year(o_orderdate) AS BIGINT) * 12 + month(o_orderdate)) AS mkey,
      |    CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / 1000000.0, 6)
      |      AS DECIMAL(18,6)) AS xm
      |  FROM orders GROUP BY 1),
      |l AS (
      |  SELECT mkey + lag AS tkey, CAST(lag AS BIGINT) AS lag, xm AS x
      |  FROM (SELECT mkey, xm, UNNEST(list_value(1, 2, 3)) AS lag FROM s)),
      |p AS (
      |  SELECT lag, x, s.xm AS y,
      |    CAST(ROUND(CAST(x AS DOUBLE) * CAST(s.xm AS DOUBLE), 9) AS DECIMAL(18,9)) AS xy,
      |    CAST(ROUND(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 9) AS DECIMAL(18,9)) AS xx,
      |    CAST(ROUND(CAST(s.xm AS DOUBLE) * CAST(s.xm AS DOUBLE), 9) AS DECIMAL(18,9)) AS yy
      |  FROM l JOIN s ON l.tkey = s.mkey),
      |m AS (
      |  SELECT lag, COUNT(*)::BIGINT AS n_pairs,
      |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(xy) AS DOUBLE) AS sxy, CAST(SUM(xx) AS DOUBLE) AS sxx,
      |    CAST(SUM(yy) AS DOUBLE) AS syy
      |  FROM p GROUP BY 1)
      |SELECT lag, n_pairs,
      |  ROUND((CAST(n_pairs AS DOUBLE) * sxy - sx * sy) /
      |    sqrt((CAST(n_pairs AS DOUBLE) * sxx - sx * sx) *
      |         (CAST(n_pairs AS DOUBLE) * syy - sy * sy)), 6) AS autocorr
      |FROM m ORDER BY lag""".stripMargin

  // ---------------------------------------------------------------- q114
  /** Seasonality and trend strength of monthly revenue (the FPP
    * STL-strength statistics on q102's additive decomposition):
    * F_seasonal = max(0, 1 − Var(R)/Var(S+R)) and
    * F_trend = max(0, 1 − Var(R)/Var(T+R)) — the one-row summary that
    * says whether q102's components carry signal or the series is noise
    * (both near 0) before anyone forecasts with them (q06) or reads the
    * seasonal index (q77). Components scale to millions by one IEEE
    * division, then round6/round9-quantized decimal moments; each
    * variance ratio is a fixed expression over exact operands.
    *
    * Scale: rides q102's month-bounded frame (map-combinable rollup +
    * ≤12-row broadcasts); the strength math is a 1-row aggregate. */
  val q114Sql: String =
    """WITH m AS (
      |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    CAST(month(o_orderdate) AS BIGINT) AS mo,
      |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      |  FROM orders GROUP BY 1, 2),
      |t AS (SELECT yr AS tyr, CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS trend
      |      FROM m GROUP BY 1),
      |d0 AS (
      |  SELECT /*+ BROADCAST(t) */ yr, mo, rev, trend, CAST(rev AS DOUBLE) - trend AS dev
      |  FROM m JOIN t ON yr = tyr),
      |s AS (SELECT mo AS smo,
      |        CAST(SUM(CAST(ROUND(dev, 6) AS DECIMAL(28,6))) AS DOUBLE)
      |          / COUNT(*) AS seasonal
      |      FROM d0 GROUP BY 1),
      |c AS (
      |  SELECT /*+ BROADCAST(s) */ trend, seasonal,
      |    CAST(rev AS DOUBLE) - trend - seasonal AS residual
      |  FROM d0 JOIN s ON mo = smo),
      |e AS (
      |  SELECT
      |    CAST(ROUND(residual / 1e6, 6) AS DECIMAL(18,6)) AS r,
      |    CAST(ROUND((seasonal + residual) / 1e6, 6) AS DECIMAL(18,6)) AS y,
      |    CAST(ROUND((trend + residual) / 1e6, 6) AS DECIMAL(18,6)) AS z
      |  FROM c),
      |f AS (
      |  SELECT r, y, z,
      |    CAST(ROUND(CAST(r AS DOUBLE) * CAST(r AS DOUBLE), 9) AS DECIMAL(18,9)) AS rr,
      |    CAST(ROUND(CAST(y AS DOUBLE) * CAST(y AS DOUBLE), 9) AS DECIMAL(18,9)) AS yy,
      |    CAST(ROUND(CAST(z AS DOUBLE) * CAST(z AS DOUBLE), 9) AS DECIMAL(18,9)) AS zz
      |  FROM e),
      |a AS (
      |  SELECT COUNT(*)::BIGINT AS n,
      |    CAST(SUM(r) AS DOUBLE) AS sr, CAST(SUM(rr) AS DOUBLE) AS qr,
      |    CAST(SUM(y) AS DOUBLE) AS sy, CAST(SUM(yy) AS DOUBLE) AS qy,
      |    CAST(SUM(z) AS DOUBLE) AS sz, CAST(SUM(zz) AS DOUBLE) AS qz
      |  FROM f)
      |SELECT n AS n_months,
      |  ROUND(greatest(0.0, 1.0 -
      |    ((CAST(n AS DOUBLE) * qr - sr * sr) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) /
      |    ((CAST(n AS DOUBLE) * qy - sy * sy) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))), 6)
      |    AS strength_seasonal,
      |  ROUND(greatest(0.0, 1.0 -
      |    ((CAST(n AS DOUBLE) * qr - sr * sr) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) /
      |    ((CAST(n AS DOUBLE) * qz - sz * sz) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))), 6)
      |    AS strength_trend
      |FROM a""".stripMargin

  // ---------------------------------------------------------------- q115
  /** RFM octant census of the customer base: recency (days since last
    * order, vs the corpus max date), frequency (order count), monetary
    * (lifetime spend), each split HIGH/LOW at its corpus mean → 8 cells
    * with population and per-cell averages — the classic
    * win-back / loyalty targeting grid (e29 builds the event-side RFM;
    * this is the orders-side one a marketer actually pulls). Mean splits
    * keep the shape scale-honest: true quartile cutoffs would ride
    * e16's two-level prefix-sum recipe, never a global ntile; the three
    * 1-row means broadcast, all sums are exact (days/counts integer,
    * spend decimal), each average is one IEEE division.
    *
    * Scale: one custkey groupBy (map-combinable) + a 1-row broadcast;
    * the 8-key rollup is trivially map-combinable. */
  val q115Sql: String =
    """WITH per AS (
      |  SELECT o_custkey, MAX(o_orderdate) AS last_dt, COUNT(*)::BIGINT AS freq,
      |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS spend
      |  FROM orders GROUP BY 1),
      |g AS (
      |  SELECT MAX(last_dt) AS max_dt,
      |    CAST(SUM(freq) AS DOUBLE) / COUNT(*) AS mean_f,
      |    CAST(SUM(spend) AS DOUBLE) / COUNT(*) AS mean_m
      |  FROM per),
      |s AS (
      |  SELECT /*+ BROADCAST(g) */ CAST(CAST(max_dt AS DATE) - CAST(last_dt AS DATE) AS BIGINT) AS rec,
      |    freq, spend, mean_f, mean_m
      |  FROM per CROSS JOIN g),
      |r AS (SELECT CAST(SUM(rec) AS DOUBLE) / COUNT(*) AS mean_r FROM s),
      |f AS (
      |  SELECT /*+ BROADCAST(r) */ (CAST(rec AS DOUBLE) < mean_r) AS recent,
      |    (CAST(freq AS DOUBLE) > mean_f) AS frequent,
      |    (CAST(spend AS DOUBLE) > mean_m) AS big_spender,
      |    rec, freq, spend
      |  FROM s CROSS JOIN r)
      |SELECT recent, frequent, big_spender, COUNT(*)::BIGINT AS n_customers,
      |  ROUND(CAST(SUM(rec) AS DOUBLE) / COUNT(*), 6) AS avg_recency_days,
      |  ROUND(CAST(SUM(freq) AS DOUBLE) / COUNT(*), 6) AS avg_orders,
      |  ROUND(CAST(SUM(CAST(spend AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_spend
      |FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------- q116
  /** Two-sample balance-distribution compare: customer vs supplier
    * account-balance empirical CDFs evaluated on a FIXED 21-point grid
    * (−1000 … 10000 step 550), with the per-point gap — the KS-style
    * "do these two populations share one generating process" check,
    * done e104's way: fixed evaluation points instead of a global sort,
    * so the statistic is exact integer counts + one division per point
    * and never ranks the corpus. max(|gap|) read off the frame is the
    * KS distance on the grid.
    *
    * Scale: each side is one map-combinable ≤21-key rollup after a
    * literal-array explode; the two 21-row frames join on the grid
    * point. */
  def q116(spark: SparkSession, dir: String): DataFrame = {
    val grid = (0 to 20).map(i => -1000L + 550L * i).toArray
    def cdf(df: DataFrame, bal: String, out: String): DataFrame = {
      val n1 = df.agg(count(lit(1)).as(s"n_$out"))
      df.select(col(bal).as("bal"), explode(lit(grid)).as("t"))
        .groupBy("t")
        .agg(sum(when(col("bal") <= dbl(col("t")), 1L).otherwise(0L)).as("le"))
        .crossJoin(broadcast(n1))
        .select(col("t"), (dbl(col("le")) / dbl(col(s"n_$out"))).as(out))
    }
    val c = cdf(Tables.customer(spark, dir).select(col("c_acctbal")),
      "c_acctbal", "cdf_customer")
    val s = cdf(Tables.supplier(spark, dir).select(col("s_acctbal")),
      "s_acctbal", "cdf_supplier")
    c.join(s, Seq("t"))
      .select(col("t"), round(col("cdf_customer"), 6).as("cdf_customer"),
        round(col("cdf_supplier"), 6).as("cdf_supplier"),
        round(abs(col("cdf_customer") - col("cdf_supplier")), 6).as("gap"))
      .orderBy("t")
  }
  val q116Sql: String =
    """WITH g AS (SELECT UNNEST(generate_series(0, 20)) AS i),
      |grid AS (SELECT CAST(-1000 + 550 * i AS BIGINT) AS t FROM g),
      |c AS (
      |  SELECT t,
      |    CAST(SUM(CASE WHEN c_acctbal <= CAST(t AS DOUBLE) THEN 1 ELSE 0 END) AS DOUBLE)
      |      / CAST((SELECT COUNT(*) FROM customer) AS DOUBLE) AS cdf_customer
      |  FROM customer CROSS JOIN grid GROUP BY t),
      |s AS (
      |  SELECT t,
      |    CAST(SUM(CASE WHEN s_acctbal <= CAST(t AS DOUBLE) THEN 1 ELSE 0 END) AS DOUBLE)
      |      / CAST((SELECT COUNT(*) FROM supplier) AS DOUBLE) AS cdf_supplier
      |  FROM supplier CROSS JOIN grid GROUP BY t)
      |SELECT c.t, ROUND(cdf_customer, 6) AS cdf_customer,
      |  ROUND(cdf_supplier, 6) AS cdf_supplier,
      |  ROUND(ABS(cdf_customer - cdf_supplier), 6) AS gap
      |FROM c JOIN s ON c.t = s.t ORDER BY c.t""".stripMargin


  // ---------------------------------------------------------------- q117
  /** Supplier-redundancy pricing: parts sourced from >= 2 distinct
    * suppliers, with the unit-price spread across those suppliers — the
    * table a procurement review reads to find parts whose multi-sourcing
    * is (or is not) buying price competition. Unit price per
    * (part, supplier) is total extended price / total quantity — one
    * IEEE division of DECIMAL-exact sums, never a per-row division that
    * a decimal cast could round differently mid-stream.
    *
    * Scale: two map-combinable rollups (lineitem → (part, supp) →
    * part); output bounded by \|parts\|. No window, no join until the
    * final broadcast of `part` for the brand label. */
  val q117Sql: String =
    """WITH unit AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
      |      / CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS unit
      |  FROM lineitem GROUP BY 1, 2),
      |spread AS (
      |  SELECT l_partkey, COUNT(*)::BIGINT AS n_suppliers,
      |    MIN(unit) AS unit_min, MAX(unit) AS unit_max
      |  FROM unit GROUP BY 1 HAVING COUNT(*) >= 2)
      |SELECT /*+ BROADCAST(part) */ p_partkey, p_brand, n_suppliers,
      |  ROUND(unit_min, 6) AS unit_min, ROUND(unit_max, 6) AS unit_max,
      |  ROUND((unit_max - unit_min) / unit_min, 6) AS rel_spread
      |FROM spread JOIN part ON l_partkey = p_partkey
      |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q118
  /** Discount × tax interaction matrix: line counts, DECIMAL-exact
    * revenue, and average quantity per (discount-percent, tax-percent)
    * cell — q51 prices the discount knob alone; the pricing team reads
    * this to see whether high-discount lines also cluster in high-tax
    * cells (compounding margin erosion). Integer-percent bands via the
    * q51 ROUND recipe (identical double multiply in both engines).
    *
    * Scale: ONE map-combinable groupBy over lineitem; output bounded by
    * \|discount pcts\| × \|tax pcts\| (~11 × 9). */
  val q118Sql: String =
    s"""SELECT CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS disc_pct,
       |  CAST(ROUND(l_tax * 100, 0) AS BIGINT) AS tax_pct,
       |  COUNT(*) AS n_lines,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue
       |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q119
  /** Brand share by ship year: each brand's revenue share WITHIN its
    * year — the market-share trend view (q32 slices one nation's share;
    * q76 ranks brands across halves; this is the full year × brand
    * share matrix a category review reads). Share = one IEEE division
    * of the cell's DECIMAL-exact revenue by the year's.
    *
    * Scale: lineitem ⋈ broadcast(part) then ONE map-combinable rollup;
    * year totals are a second tiny rollup of the first's output joined
    * back by year (broadcast — \|years\| rows). */
  val q119Sql: String =
    s"""WITH cell AS (
       |  SELECT /*+ BROADCAST(part) */ CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr, p_brand,
       |    SUM($revenueSql) AS rev
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY 1, 2),
       |yt AS (SELECT yr, SUM(rev) AS yr_rev FROM cell GROUP BY 1)
       |SELECT /*+ BROADCAST(yt) */ cell.yr, p_brand, CAST(rev AS DOUBLE) AS revenue,
       |  ROUND(CAST(rev AS DOUBLE) / CAST(yr_rev AS DOUBLE), 6) AS share
       |FROM cell JOIN yt ON cell.yr = yt.yr
       |ORDER BY cell.yr, p_brand""".stripMargin

  // ---------------------------------------------------------------- q120
  /** Order-price audit: per order year, how many orders' `o_totalprice`
    * reconciles against the DECIMAL-exact sum of line charges
    * (extendedprice × (1−discount) × (1+tax)) within 1% — the
    * fact-to-fact integrity check q79 (FK integrity) doesn't cover.
    * The within-1% test is a double compare of identical operands in
    * both engines; the max relative gap is a MAX (exact, no sum of
    * rounded terms).
    *
    * Scale: one lineitem rollup by orderkey (map-combinable), one join
    * to orders on the SAME key (co-partitioned shuffle join at scale),
    * then a \|years\|-bounded rollup. */
  val q120Sql: String =
    s"""WITH charge AS (
       |  SELECT l_orderkey,
       |    SUM($revenueSql * CAST(1 + l_tax AS DECIMAL(12,2))) AS charge
       |  FROM lineitem GROUP BY 1),
       |j AS (
       |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
       |    ABS(o_totalprice - CAST(charge AS DOUBLE)) / o_totalprice AS rel
       |  FROM orders JOIN charge ON o_orderkey = l_orderkey)
       |SELECT yr, COUNT(*)::BIGINT AS n_orders,
       |  SUM(CASE WHEN rel <= 0.01 THEN 1 ELSE 0 END)::BIGINT AS n_within_1pct,
       |  ROUND(CAST(SUM(CASE WHEN rel <= 0.01 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 6) AS share_within,
       |  ROUND(MAX(rel), 6) AS max_rel_gap
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q121
  /** Quantity × unit-price heatmap: line counts and DECIMAL-exact
    * revenue per (quantity decade, unit-price band) cell — the 2-D
    * volume/price mix view behind q46's 1-D price histogram. Bands are
    * integer CASE edges (no div-truncation ambiguity); unit price is
    * extendedprice/quantity, the same double in both engines.
    *
    * Scale: ONE map-combinable groupBy over lineitem; ≤ 5 × 6 cells. */
  val q121Sql: String =
    s"""SELECT CAST(FLOOR((l_quantity - 1) / 10) + 1 AS BIGINT) AS qty_decade,
       |  CAST(CASE WHEN l_extendedprice / l_quantity < 500 THEN 0
       |       WHEN l_extendedprice / l_quantity < 1000 THEN 1
       |       WHEN l_extendedprice / l_quantity < 1500 THEN 2
       |       WHEN l_extendedprice / l_quantity < 2000 THEN 3
       |       WHEN l_extendedprice / l_quantity < 2500 THEN 4
       |       ELSE 5 END AS BIGINT) AS price_band,
       |  COUNT(*) AS n_lines,
       |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue
       |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q122
  /** Per-brand quarterly seasonality: each brand's revenue share across
    * the four calendar quarters and the seasonality index (share × 4;
    * 1.0 = flat) — q77 indexes the whole business by month, this finds
    * the brands that swing. Shares are one IEEE division of
    * DECIMAL-exact sums.
    *
    * Scale: lineitem ⋈ broadcast(part), one map-combinable rollup to
    * \|brands\| × 4 cells, brand totals joined back by broadcast. */
  val q122Sql: String =
    s"""WITH cell AS (
       |  SELECT /*+ BROADCAST(part) */ p_brand, CAST(EXTRACT(quarter FROM l_shipdate) AS BIGINT) AS qtr,
       |    SUM($revenueSql) AS rev
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY 1, 2),
       |bt AS (SELECT p_brand, SUM(rev) AS b_rev FROM cell GROUP BY 1)
       |SELECT /*+ BROADCAST(bt) */ cell.p_brand, qtr, CAST(rev AS DOUBLE) AS revenue,
       |  ROUND(CAST(rev AS DOUBLE) / CAST(b_rev AS DOUBLE), 6) AS share,
       |  ROUND(CAST(rev AS DOUBLE) / CAST(b_rev AS DOUBLE) * 4, 6) AS season_index
       |FROM cell JOIN bt ON cell.p_brand = bt.p_brand
       |ORDER BY cell.p_brand, qtr""".stripMargin


  // ---------------------------------------------------------------- q123
  /** Return rate by unit-price band: does expensive merchandise come
    * back more? Counts, RETURN share (l_returnflag = 'R'), and exact
    * revenue per q121 price band — the pricing complement to q84's
    * discount-axis return screen. One map-combinable groupBy, ≤6 rows,
    * single divisions.
    */
  val q123Sql: String =
    s"""SELECT CAST(CASE WHEN l_extendedprice / l_quantity < 500 THEN 0
       |       WHEN l_extendedprice / l_quantity < 1000 THEN 1
       |       WHEN l_extendedprice / l_quantity < 1500 THEN 2
       |       WHEN l_extendedprice / l_quantity < 2000 THEN 3
       |       WHEN l_extendedprice / l_quantity < 2500 THEN 4
       |       ELSE 5 END AS BIGINT) AS price_band,
       |  COUNT(*) AS n_lines,
       |  SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS n_returned,
       |  ROUND(CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 6) AS return_rate,
       |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue
       |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q124
  /** Customer revenue concentration per nation: the HHI of customer
    * revenue shares within each nation (q67's supplier recipe pointed at
    * the demand side) — a nation whose revenue hangs on three whale
    * customers is a different risk than one with a thousand small ones.
    * Exact: revenue ×10000 into DECIMAL(38,0), Σshare² as one division
    * of exact sums.
    *
    * Scale: custkey rollup (map-combinable) ⋈ customer on its own key ⋈
    * broadcast nation; \|nations\| output rows. */
  def q124(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val rev = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"),
        revenueTerm(col("l_extendedprice"), col("l_discount")).as("rv"))
      .groupBy("o_custkey").agg(sum(col("rv")).as("r"))
    rev
      .join(Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), (col("r") * 10000).cast(d38).as("ri"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("ri") * col("ri")).as("num"), sum(col("ri")).as("tot"))
      .select(col("n_name"), col("n_customers"),
        round(dbl(col("num")) / dbl(col("tot") * col("tot")), 6).as("hhi"))
      .orderBy("n_name")
  }
  val q124Sql: String =
    s"""WITH r AS (
       |  SELECT o_custkey, SUM($revenueSql) AS rv
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1),
       |b AS (
       |  SELECT n_name, CAST(rv * 10000 AS HUGEINT) AS ri
       |  FROM r JOIN customer ON o_custkey = c_custkey
       |         JOIN nation ON c_nationkey = n_nationkey)
       |SELECT n_name, COUNT(*) AS n_customers,
       |  ROUND(CAST(SUM(ri*ri) AS DOUBLE) / CAST(SUM(ri)*SUM(ri) AS DOUBLE), 6) AS hhi
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin


  // ---------------------------------------------------------------- q125
  /** Discount depth by market segment and year: who actually gets the
    * discounts — DECIMAL-exact average discount, revenue, and line count
    * per (segment, ship year), the negotiated-pricing equity view (q90
    * screens per-customer favoritism; this is the segment-level trend).
    *
    * Scale: the 3-way key join (customer⋈orders⋈lineitem) shuffles on
    * natural keys both sides already carry; ONE bounded rollup
    * (5 segments × \|years\|). */
  val q125Sql: String =
    s"""SELECT c_mktsegment, CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
       |  COUNT(*) AS n_lines,
       |  CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_discount,
       |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin


  // ---------------------------------------------------------------- q126
  /** Brand momentum: month-over-month revenue growth per brand — q39
    * tracks the whole business year-over-year; this is the
    * brand-granular series a category manager watches. The lag window
    * partitions by brand over the bounded brand×month rollup (≤ 25×84
    * rows at any corpus size), growth is ONE division of exact sums.
    *
    * Scale: lineitem ⋈ broadcast(part) → one map-combinable rollup;
    * the window never sees raw rows. */
  val q126Sql: String =
    s"""WITH cell AS (
       |  SELECT /*+ BROADCAST(part) */ p_brand, strftime(l_shipdate, '%Y-%m') AS month,
       |    SUM($revenueSql) AS rev
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY 1, 2)
       |SELECT p_brand, month, CAST(rev AS DOUBLE) AS revenue,
       |  CASE WHEN LAG(rev) OVER (PARTITION BY p_brand ORDER BY month) IS NOT NULL
       |    THEN ROUND((CAST(rev AS DOUBLE)
       |        - CAST(LAG(rev) OVER (PARTITION BY p_brand ORDER BY month) AS DOUBLE))
       |      / CAST(LAG(rev) OVER (PARTITION BY p_brand ORDER BY month) AS DOUBLE), 6)
       |  END AS mom_growth
       |FROM cell ORDER BY p_brand, month""".stripMargin

  // ---------------------------------------------------------------- q127
  /** Part-size pricing & demand curve: per p_size, catalog breadth
    * (parts), DECIMAL-exact average list price in CENTS, line-item
    * demand (lines, quantity ×100), and each size's revenue share (ppm
    * of discounted revenue, scaled ×10⁴ so the 4-decimal revenue term
    * stays an exact integer). The merchandising view of whether price
    * tracks size and where demand actually sits. Integer-pure outputs.
    *
    * Scale: one part rollup + one lineitem⋈part key join (AQE
    * broadcasts part while it fits; both sides prune to 3 columns),
    * \|sizes\|-bounded result. */
  def q127(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_size"),
      col("p_retailprice"))
    val cat = p.groupBy("p_size").agg(count(lit(1)).as("n_parts"),
      sum(dec(col("p_retailprice"))).as("price_sum"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"))
      .join(p.select(col("p_partkey").as("l_partkey"), col("p_size")), "l_partkey")
      .groupBy("p_size")
      .agg(count(lit(1)).as("n_lines"),
        (sum(dec(col("l_quantity"))) * 100).cast("long").as("qty_x100"),
        (sum(revenueTerm(col("l_extendedprice"), col("l_discount"))) * 10000)
          .cast("decimal(38,0)").as("rev_x1e4"))
    val tot = li.agg(sum(col("rev_x1e4")).as("tot_rev"))
    cat.join(li, "p_size").crossJoin(broadcast(tot))
      .selectExpr("cast(p_size as bigint) as p_size", "n_parts",
        "cast(price_sum * 100 as decimal(38,0)) div n_parts as avg_price_cents",
        "n_lines", "qty_x100",
        "cast(rev_x1e4 as decimal(38,0)) as rev_x1e4",
        "(rev_x1e4 * 1000000) div tot_rev as rev_share_ppm")
      .orderBy("p_size")
  }
  val q127Sql: String =
    s"""WITH cat AS (
       |  SELECT p_size, COUNT(*)::BIGINT AS n_parts,
       |    SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS price_sum
       |  FROM part GROUP BY 1),
       |li AS (
       |  SELECT p_size, COUNT(*)::BIGINT AS n_lines,
       |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) AS qty_x100,
       |    CAST(SUM($revenueSql) * 10000 AS HUGEINT) AS rev_x1e4
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY 1),
       |tot AS (SELECT SUM(rev_x1e4)::HUGEINT AS tot_rev FROM li)
       |SELECT CAST(p_size AS BIGINT) AS p_size, n_parts,
       |  CAST(CAST(price_sum * 100 AS HUGEINT) // n_parts AS BIGINT) AS avg_price_cents,
       |  n_lines, qty_x100, CAST(rev_x1e4 AS BIGINT) AS rev_x1e4,
       |  CAST((rev_x1e4 * 1000000) // tot_rev AS BIGINT) AS rev_share_ppm
       |FROM cat JOIN li USING (p_size) CROSS JOIN tot
       |ORDER BY p_size""".stripMargin

  // ---------------------------------------------------------------- q128
  /** Brand catalog span: per brand, how wide the catalog is (distinct
    * types and sizes), its price floor/ceiling in exact CENTS and the
    * spread — the assortment-breadth audit beside q61's price book
    * (which prices brand×type cells; this sizes the brand's whole
    * envelope). Pure part scan, all-integer output.
    *
    * Scale: one map-combinable rollup over part; \|brands\| rows. */
  val q128Sql: String =
    """SELECT p_brand, COUNT(*)::BIGINT AS n_parts,
      |  COUNT(DISTINCT p_type)::BIGINT AS n_types,
      |  COUNT(DISTINCT p_size)::BIGINT AS n_sizes,
      |  CAST(MIN(CAST(p_retailprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS min_price_cents,
      |  CAST(MAX(CAST(p_retailprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS max_price_cents,
      |  CAST(MAX(CAST(p_retailprice AS DECIMAL(12,2))) * 100 AS BIGINT)
      |    - CAST(MIN(CAST(p_retailprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS span_cents
      |FROM part GROUP BY 1 ORDER BY p_brand""".stripMargin

  val queries: Map[String, Q] = Map(
    "q127_size_price_curve" -> (q127 _),
    "q124_nation_customer_hhi" -> (q124 _),
    "q116_balance_two_sample" -> (q116 _),
    "q112_theil_decomposition" -> (q112 _),
    "q111_benford_audit" -> (q111 _),
    "q108_approx_quantiles" -> (q108 _),
    "q106_price_dispersion" -> (q106 _),
    "q94_region_trade_matrix" -> (q94 _),
    "q72_segment_gini" -> (q72 _),
    "q70_pareto_points" -> (q70 _),
    "q69_weekday_profile" -> (q69 _),
    "q67_supplier_hhi" -> (q67 _),
    "q64_status_priority_matrix" -> (q64 _),
    "q53_repeat_rate" -> (q53 _),
    "q37_heavy_hitters" -> (q37 _),
    "q29_top_supplier" -> (q29 _),
    "q16_scalar_subquery" -> (q16 _),
    "q21_approx_stats" -> (q21 _),
    "q22_pivot" -> (q22 _),
    "q23_moving_avg" -> (q23 _),
  )

  val oracle: Map[String, String] = Map(
    "q127_size_price_curve" -> q127Sql,
    "q124_nation_customer_hhi" -> q124Sql,
    "q116_balance_two_sample" -> q116Sql,
    "q112_theil_decomposition" -> q112Sql,
    "q111_benford_audit" -> q111Sql,
    "q106_price_dispersion" -> q106Sql,
    "q94_region_trade_matrix" -> q94Sql,
    "q72_segment_gini" -> q72Sql,
    "q70_pareto_points" -> q70Sql,
    "q69_weekday_profile" -> q69Sql,
    "q67_supplier_hhi" -> q67Sql,
    "q64_status_priority_matrix" -> q64Sql,
    "q53_repeat_rate" -> q53Sql,
    "q16_scalar_subquery" -> q16Sql,
    "q22_pivot" -> q22Sql,
    "q23_moving_avg" -> q23Sql,
    "q29_top_supplier" -> q29Sql,
    "q37_heavy_hitters" -> q37Sql,
  )

  /** The operators that are their oracle text: `SparkEntry.queries`
    * binds each text to the table loaders with `Tables.sql`, and
    * `SparkEntry.oracleSql` hands the same text to DuckDB. */
  val sql: Map[String, String] = Map(
    "q119_year_brand_share" -> q119Sql,
    "q105_return_abuse" -> q105Sql,
    "q19_null_handling" -> q19Sql,
    "q122_brand_quarter_share" -> q122Sql,
    "q115_rfm_octants" -> q115Sql,
    "q113_revenue_autocorr" -> q113Sql,
    "q109_order_cadence" -> q109Sql,
    "q101_spend_trend_census" -> q101Sql,
    "q96_nation_brand_affinity" -> q96Sql,
    "q85_fulfillment_span" -> q85Sql,
    "q78_value_migration" -> q78Sql,
    "q77_seasonality_index" -> q77Sql,
    "q76_brand_rank_shift" -> q76Sql,
    "q65_orderbook_aging" -> q65Sql,
    "q58_fill_rate" -> q58Sql,
    "q57_latency_percentiles" -> q57Sql,
    "q48_ship_latency" -> q48Sql,
    "q45_order_gaps" -> q45Sql,
    "q14_string_ops" -> q14Sql,
    "q126_brand_mom_growth" -> q126Sql,
    "q15_date_ops" -> q15Sql,
    "q43_higher_moments" -> q43Sql,
    "q107_order_backlog" -> q107Sql,
    "q71_monthly_active" -> q71Sql,
    "q35_large_orders" -> q35Sql,
    "q34_promo_effect" -> q34Sql,
    "q08_running_total" -> q08Sql,
    "q03_top_revenue" -> q03Sql,
    "q86_line_dominance" -> q86Sql,
    "q46_price_histogram" -> q46Sql,
    "q128_brand_catalog_span" -> q128Sql,
    "q125_segment_discount_depth" -> q125Sql,
    "q123_price_band_returns" -> q123Sql,
    "q121_qty_price_heatmap" -> q121Sql,
    "q120_order_price_audit" -> q120Sql,
    "q118_promo_tax_matrix" -> q118Sql,
    "q117_multi_supplier_parts" -> q117Sql,
    "q114_seasonality_strength" -> q114Sql,
    "q110_balance_activity" -> q110Sql,
    "q104_discount_elasticity" -> q104Sql,
    "q103_weighted_median" -> q103Sql,
    "q102_seasonal_decomposition" -> q102Sql,
    "q100_brand_price_premium" -> q100Sql,
    "q99_active_years" -> q99Sql,
    "q98_return_by_tenure" -> q98Sql,
    "q97_brand_loyalty" -> q97Sql,
    "q95_tax_bands" -> q95Sql,
    "q93_tenure_census" -> q93Sql,
    "q92_promo_grid" -> q92Sql,
    "q91_churn_series" -> q91Sql,
    "q90_discount_favoritism" -> q90Sql,
    "q89_basket_brand_diversity" -> q89Sql,
    "q88_supplier_tiers" -> q88Sql,
    "q87_brand_reorder_rate" -> q87Sql,
    "q84_discount_return_rate" -> q84Sql,
    "q83_priority_mix_trend" -> q83Sql,
    "q82_supplier_redundancy" -> q82Sql,
    "q81_nation_segment_census" -> q81Sql,
    "q80_line_position_profile" -> q80Sql,
    "q79_fk_integrity" -> q79Sql,
    "q75_key_skew_census" -> q75Sql,
    "q74_nation_return_rate" -> q74Sql,
    "q73_discount_qty_corr" -> q73Sql,
    "q68_basket_pairs" -> q68Sql,
    "q66_clv_quartiles" -> q66Sql,
    "q63_returned_share_series" -> q63Sql,
    "q62_quarter_mix" -> q62Sql,
    "q61_brand_price_book" -> q61Sql,
    "q60_nation_trade_balance" -> q60Sql,
    "q59_product_line_profit" -> q59Sql,
    "q56_balance_order_corr" -> q56Sql,
    "q55_revenue_concentration" -> q55Sql,
    "q54_order_shape" -> q54Sql,
    "q52_balance_bands" -> q52Sql,
    "q51_discount_bands" -> q51Sql,
    "q50_segment_share" -> q50Sql,
    "q49_part_concentration" -> q49Sql,
    "q47_above_avg_orders" -> q47Sql,
    "q44_iqr_quartiles" -> q44Sql,
    "q41_mad_dispersion" -> q41Sql,
    "q42_grouping_sets" -> q42Sql,
    "q01_pricing_summary" -> q01Sql,
    "q02_filter_project" -> q02Sql,
    "q04_order_priority" -> q04Sql,
    "q05_region_revenue" -> q05Sql,
    "q06_forecast_revenue" -> q06Sql,
    "q07_window_rank" -> q07Sql,
    "q09_rollup" -> q09Sql,
    "q10_distinct_agg" -> q10Sql,
    "q11_anti_join" -> q11Sql,
    "q12_set_ops" -> q12Sql,
    "q13_conditional_agg" -> q13Sql,
    "q17_having" -> q17Sql,
    "q18_percentile" -> q18Sql,
    "q20_nation_revenue" -> q20Sql,
    "q24_cube" -> q24Sql,
    "q25_ranking_suite" -> q25Sql,
    "q26_last_shipper" -> q26Sql,
    "q27_small_quantity" -> q27Sql,
    "q28_dormant_balances" -> q28Sql,
    "q30_order_distribution" -> q30Sql,
    "q31_volume_shipping" -> q31Sql,
    "q32_market_share" -> q32Sql,
    "q33_returned_items" -> q33Sql,
    "q36_or_predicates" -> q36Sql,
    "q38_exact_corr" -> q38Sql,
    "q39_yoy_growth" -> q39Sql,
    "q40_cohort_ltv" -> q40Sql
  )
}
