package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.{Qf, Tables}
import graft.engine.Qf._

/** Event analytics (SURVEY.md §2.2): the KSE pipeline's query surface in
  * batch form over the `events` table. All time arithmetic runs on epoch
  * milliseconds (`ms`, = DuckDB `epoch_ms(ts)`) so both engines compare
  * identical integers regardless of ns/µs timestamp precision.
  *
  * Scale notes: every window partitions by `user_id` (bounded state per
  * key); aggregations are map-side-combinable; no driver-side loops.
  *
  * The keys in `sql` are operators that are their oracle text, bound to
  * the table loaders by `Tables.sql` (see `Relational`); their DuckDB
  * compare is a cross-engine check, not a second implementation.
  */
object Events {
  type Q = (SparkSession, String) => DataFrame

  private val GapMs = 30L * 60 * 1000 // 30-minute session gap

  // ---------------------------------------------------------------- e01
  /** Gap-based sessionization (30 min) via lag + cumulative-sum windows.
    * Core on a prepared (user_id, event_id, ms) frame so the skew-aware
    * variant (e09) can be equivalence-tested against it on synthetic data. */
  private[operators] def sessionize(events: DataFrame, gapMs: Long = GapMs): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), col("ms"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("sess_idx", sum(col("new_sess")).over(wr))
      .groupBy("user_id", "sess_idx")
      .agg(count(lit(1)).as("n_events"),
           min(col("ms")).as("start_ms"),
           max(col("ms")).as("end_ms"),
           (max(col("ms")) - min(col("ms"))).as("dur_ms"))
      .orderBy("user_id", "sess_idx")
  }

  def e01(spark: SparkSession, dir: String): DataFrame =
    sessionize(Tables.events(spark, dir))

  // ---------------------------------------------------------------- e09
  /** Whale-key-hardened sessionization: split-and-stitch. Identical output
    * to e01 (same oracle), but no window partition ever holds more than
    * one (user, time-block) of events — a user with 10^9 events no longer
    * pins a single task.
    *
    *  - Pass 1 (bounded): events are windowed per (user_id, block) where
    *    block = floor(ms / blockMs); gap-split into LOCAL sessions and
    *    pre-aggregated to (n_events, start_ms, end_ms) summaries. State
    *    per partition is one block of one user.
    *  - Pass 2 (small): local sessions are themselves sessionized per
    *    user — two summaries merge when start - prev_end <= gap. Valid
    *    because consecutive session intervals are disjoint and a session
    *    bridges a block boundary exactly when its boundary event pair is
    *    within the gap (requires blockMs > gapMs). Pass-2 volume is
    *    sessions + touched blocks per user, orders of magnitude below
    *    event count (a year of nonstop whale traffic is ~1.5k rows at
    *    6h blocks, vs 10^9 events). */
  private[operators] def sessionizeSplit(events: DataFrame, gapMs: Long = GapMs,
                                         blockMs: Long = 6L * 3600 * 1000): DataFrame = {
    require(blockMs > gapMs, "a session may only bridge ADJACENT blocks")
    val wB = Window.partitionBy("user_id", "blk").orderBy(col("ms"), col("event_id"))
    val wBr = wB.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = events
      .select(col("user_id"), col("event_id"), col("ms"))
      .withColumn("blk", floor(col("ms") / lit(blockMs)))
      .withColumn("prev_ms", lag(col("ms"), 1).over(wB))
      .withColumn("new_sess",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("lidx", sum(col("new_sess")).over(wBr))
      .groupBy("user_id", "blk", "lidx")
      .agg(count(lit(1)).as("ln"), min(col("ms")).as("lstart"), max(col("ms")).as("lend"))
    val wU = Window.partitionBy("user_id").orderBy(col("lstart"), col("blk"), col("lidx"))
    val wUr = wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local
      .withColumn("prev_end", lag(col("lend"), 1).over(wU))
      .withColumn("new_glob",
        when(col("prev_end").isNull || col("lstart") - col("prev_end") > gapMs, 1L).otherwise(0L))
      .withColumn("sess_idx", sum(col("new_glob")).over(wUr))
      .groupBy("user_id", "sess_idx")
      .agg(sum(col("ln")).as("n_events"),
           min(col("lstart")).as("start_ms"),
           max(col("lend")).as("end_ms"),
           (max(col("lend")) - min(col("lstart"))).as("dur_ms"))
      .orderBy("user_id", "sess_idx")
  }

  def e09(spark: SparkSession, dir: String): DataFrame =
    sessionizeSplit(Tables.events(spark, dir))
  val e01Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
       |l AS (SELECT *, LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e),
       |f AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > $GapMs THEN 1 ELSE 0 END AS new_sess FROM l),
       |s AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx FROM f)
       |SELECT user_id, sess_idx, COUNT(*) AS n_events, MIN(ms) AS start_ms, MAX(ms) AS end_ms,
       |  MAX(ms) - MIN(ms) AS dur_ms
       |FROM s GROUP BY user_id, sess_idx ORDER BY user_id, sess_idx""".stripMargin

  // ---------------------------------------------------------------- e02
  /** 1-hour tumbling window counts / sums / distinct users by type. */
  def e02(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_format(date_trunc("hour", col("ets")), "yyyy-MM-dd HH:00").as("hour"),
               col("event_type"))
      .agg(count(lit(1)).as("n"),
           dsum(col("value")).as("total_value"),
           countDistinct(col("user_id")).as("n_users"))
      .orderBy("hour", "event_type")
  val e02Sql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  // ---------------------------------------------------------------- e03
  /** Ordered funnel view → click → purchase (strictly increasing time). */
  def e03(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select("user_id", "event_type", "ms")
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ms").as("vms"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ms") > col("vms"))
      .groupBy("user_id").agg(min("ms").as("cms"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ms") > col("cms"))
      .groupBy("user_id").agg(min("ms").as("pms"))
    v.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("step1_view"))
      .unionByName(c.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("step2_click")))
      .unionByName(p.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("step3_purchase")))
      .select("stage", "n_users")
      .orderBy("stage")
  }
  val e03Sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |v AS (SELECT user_id, MIN(ms) AS vms FROM e WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(ms) AS cms FROM e JOIN v ON e.user_id = v.user_id
      |      WHERE event_type = 'click' AND ms > vms GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(ms) AS pms FROM e JOIN c ON e.user_id = c.user_id
      |      WHERE event_type = 'purchase' AND ms > cms GROUP BY e.user_id)
      |SELECT 'step1_view' AS stage, COUNT(*) AS n_users FROM v
      |UNION ALL SELECT 'step2_click', COUNT(*) FROM c
      |UNION ALL SELECT 'step3_purchase', COUNT(*) FROM p
      |ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------- e04
  /** Day-0 → day-N cohort retention on distinct active days. */
  def e04(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .select(col("user_id"), floor(col("ms") / lit(86400000.0d)).as("day"))
      .distinct()
    val f = d.groupBy("user_id").agg(min("day").as("day0"))
    d.join(f, "user_id")
      .withColumn("day_offset", (col("day") - col("day0")).cast("long"))
      .filter(col("day_offset").isin(0L, 1L, 2L, 3L, 7L, 14L))
      .groupBy("day_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("day_offset")
  }
  val e04Sql: String =
    """WITH d AS (SELECT DISTINCT user_id, CAST(FLOOR(epoch_ms(ts) / 86400000.0) AS BIGINT) AS day FROM events),
      |f AS (SELECT user_id, MIN(day) AS day0 FROM d GROUP BY user_id)
      |SELECT CAST(d.day - f.day0 AS BIGINT) AS day_offset, COUNT(DISTINCT d.user_id) AS n_users
      |FROM d JOIN f ON d.user_id = f.user_id
      |WHERE d.day - f.day0 IN (0, 1, 2, 3, 7, 14)
      |GROUP BY 1 ORDER BY day_offset""".stripMargin

  // ---------------------------------------------------------------- e05
  /** Top-k users by purchase value with rank.
    *
    * The global top-k is orderBy().limit(k) — planned as
    * TakeOrderedAndProject (per-partition partial top-k, k rows to the
    * driver-side reduce) — NOT a whole-table unpartitioned WindowExec.
    * The rank is then re-derived WITHOUT any window at all: a k x k
    * broadcast self-join counting strictly-better rows (a constant
    * `partitionBy(lit(1))` window gets its partition spec constant-folded
    * to empty by the optimizer, bringing the single-partition WindowExec
    * right back). RANK == count(better) + 1, and with the unique user_id
    * tie-break in the ordering it equals the oracle's RANK(). */
  def e05(spark: SparkSession, dir: String): DataFrame = {
    val top = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(dsum(col("value")).as("total_purchase"), count(lit(1)).as("n_purchases"))
      .orderBy(col("total_purchase").desc, col("user_id"))
      .limit(10)
    val other = broadcast(top.select(col("total_purchase").as("o_total"),
      col("user_id").as("o_user")))
    top.join(other,
        col("o_total") > col("total_purchase") ||
          (col("o_total") === col("total_purchase") && col("o_user") < col("user_id")),
        "left")
      .groupBy("user_id", "total_purchase", "n_purchases")
      .agg((count(col("o_user")) + 1L).as("rnk"))
      .select("user_id", "total_purchase", "n_purchases", "rnk")
      .orderBy("rnk", "user_id")
  }
  val e05Sql: String =
    """WITH p AS (SELECT user_id,
      |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_purchase,
      |    COUNT(*) AS n_purchases
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |r AS (SELECT *, CAST(RANK() OVER (ORDER BY total_purchase DESC, user_id) AS BIGINT) AS rnk FROM p)
      |SELECT user_id, total_purchase, n_purchases, rnk FROM r WHERE rnk <= 10
      |ORDER BY rnk, user_id""".stripMargin

  // ---------------------------------------------------------------- e06
  /** JSON property extraction from event payloads. */
  def e06(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           sum(col("k")).as("sum_k"),
           min(col("k")).as("min_k"),
           max(col("k")).as("max_k"))
      .orderBy("event_type")
  val e06Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(MIN(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
      |  CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- e07
  /** Per-user lifetime stats: activity span, per-type counts, purchase
    * value — the profile table a personalization pipeline materializes. */
  def e07(spark: SparkSession, dir: String): DataFrame = {
    def cntIf(t: String) = sum(when(col("event_type") === t, 1L).otherwise(0L))
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
           min(col("ms")).as("first_ms"),
           max(col("ms")).as("last_ms"),
           cntIf("view").as("n_views"),
           cntIf("click").as("n_clicks"),
           cntIf("purchase").as("n_purchases"),
           dbl(sum(when(col("event_type") === "purchase", dec(col("value")))
             .otherwise(lit(0).cast(Qf.D12)))).as("purchase_value"))
      .orderBy("user_id")
  }
  val e07Sql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  MIN(epoch_ms(ts)) AS first_ms, MAX(epoch_ms(ts)) AS last_ms,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_views,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS purchase_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- e08
  /** As-of join, batch form: each purchase picks the LATEST view at or
    * before it by the same user. Implemented Spark-first as a single
    * carried-forward window over the unioned event stream (one shuffle
    * by user, no range join blow-up); the oracle cross-validates against
    * DuckDB's native ASOF JOIN. Views are deduped to one per (user, ms)
    * keeping the max event id so both engines break ms-ties identically. */
  /** Deduped view / purchase marker rows shared by e08 and e10. */
  private def asofMarkerRows(e: DataFrame): DataFrame = {
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ms"))
      .agg(max(col("event_id")).as("view_id"))
      .select(col("user_id"), col("ms"), col("view_id"),
              lit(null).cast("long").as("purchase_id"), lit(0).as("marker"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ms"), lit(null).cast("long").as("view_id"),
              col("event_id").as("purchase_id"), lit(1).as("marker"))
    views.unionByName(purchases)
  }

  private[operators] def asofLatestView(e: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("marker"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    asofMarkerRows(e)
      .withColumn("last_view",
        last(when(col("marker") === 0, struct(col("ms").as("vms"), col("view_id"))), ignoreNulls = true).over(w))
      .filter(col("marker") === 1 && col("last_view").isNotNull)
      .select(col("purchase_id"), col("last_view.view_id").as("view_id"),
              (col("ms") - col("last_view.vms")).as("gap_ms"))
      .orderBy("purchase_id")
  }

  def e08(spark: SparkSession, dir: String): DataFrame =
    asofLatestView(Tables.events(spark, dir))

  // ---------------------------------------------------------------- e10
  /** Whale-key-hardened as-of join: identical output to e08 (same
    * oracle), with the carry-forward state split by (user, time-block).
    *
    *  - Pass 1 (bounded): the carried-forward "latest view" window runs
    *    per (user_id, block) — partitions hold one block of one user.
    *  - Pass 2 (small, per user over block summaries): each block's last
    *    view is carried across blocks (last ignoreNulls over PRIOR
    *    blocks), giving every (user, block) its carry-in view.
    *  - Pass 3: purchases that saw no view within their own block take
    *    the block's carry-in. A shuffle join on (user, blk) — uniform,
    *    since a whale's rows spread over its blocks. */
  private[operators] def asofLatestViewSplit(e: DataFrame,
                                             blockMs: Long = 6L * 3600 * 1000): DataFrame = {
    val marked = asofMarkerRows(e).withColumn("blk", floor(col("ms") / lit(blockMs)))
    val wB = Window.partitionBy("user_id", "blk").orderBy(col("ms"), col("marker"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = marked.withColumn("local_view",
      last(when(col("marker") === 0, struct(col("ms").as("vms"), col("view_id"))), ignoreNulls = true).over(wB))
    // one row per (user, block): that block's final view (may be null)
    val blockLast = local.groupBy("user_id", "blk")
      .agg(max(when(col("marker") === 0, struct(col("ms").as("vms"), col("view_id")))).as("blast"))
    val wU = Window.partitionBy("user_id").orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carryIn = blockLast
      .withColumn("carry_view", last(col("blast"), ignoreNulls = true).over(wU))
      .select(col("user_id"), col("blk"), col("carry_view"))
    local.filter(col("marker") === 1)
      .join(carryIn, Seq("user_id", "blk"), "left")
      .withColumn("best_view", coalesce(col("local_view"), col("carry_view")))
      .filter(col("best_view").isNotNull)
      .select(col("purchase_id"), col("best_view.view_id").as("view_id"),
              (col("ms") - col("best_view.vms")).as("gap_ms"))
      .orderBy("purchase_id")
  }

  def e10(spark: SparkSession, dir: String): DataFrame =
    asofLatestViewSplit(Tables.events(spark, dir))
  val e08Sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
      |v AS (SELECT user_id, ms, MAX(event_id) AS view_id FROM e
      |      WHERE event_type = 'view' GROUP BY user_id, ms),
      |p AS (SELECT user_id, ms, event_id AS purchase_id FROM e WHERE event_type = 'purchase')
      |SELECT purchase_id, view_id, p.ms - v.ms AS gap_ms
      |FROM p ASOF JOIN v ON p.user_id = v.user_id AND v.ms <= p.ms
      |ORDER BY purchase_id""".stripMargin

  // ---------------------------------------------------------------- e11
  /** Batch attribution window — an INTERVAL JOIN: for every purchase,
    * the views by the same user in the preceding hour (count + most
    * recent). The time-range predicate rides on an EQUI join on user_id,
    * so the plan is one shuffle by user with a per-user range filter —
    * never a time-range cross join — and AQE skew-join splits whale
    * users. (Streaming mirror: graft.streaming.AttributionJoin; as-of
    * variant: e08.) */
  private val AttrWinMs = 60L * 60 * 1000
  def e11(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
              col("ms").as("p_ms"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
              col("ms").as("v_ms"))
    purch.join(views,
        col("user_id") === col("v_user") &&
          col("v_ms") >= col("p_ms") - AttrWinMs && col("v_ms") < col("p_ms"),
        "left")
      .groupBy("purchase_id", "user_id", "p_ms", "value")
      .agg(count(col("view_id")).as("n_views_1h"),
           max(col("v_ms")).as("last_view_ms"))
      .orderBy("purchase_id")
  }
  val e11Sql: String =
    s"""WITH p AS (SELECT event_id AS purchase_id, user_id, epoch_ms(ts) AS p_ms, value
       |           FROM events WHERE event_type = 'purchase'),
       |v AS (SELECT user_id, event_id, epoch_ms(ts) AS ms
       |      FROM events WHERE event_type = 'view')
       |SELECT purchase_id, p.user_id, p_ms, value,
       |  COUNT(v.event_id) AS n_views_1h,
       |  CAST(MAX(v.ms) AS BIGINT) AS last_view_ms
       |FROM p LEFT JOIN v
       |  ON v.user_id = p.user_id AND v.ms >= p.p_ms - ${60L * 60 * 1000} AND v.ms < p.p_ms
       |GROUP BY 1, 2, 3, 4 ORDER BY purchase_id""".stripMargin

  // ---------------------------------------------------------------- e12
  /** Event-transition matrix: per-user next-event pairs (Markov
    * transition counts + mean gap). One lead() window partitioned by
    * user (bounded per-key state), then a map-side-combinable groupBy of
    * at most |types|^2 groups — the shuffle carries 25 partial rows per
    * task regardless of event volume. */
  def e12(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("gap_ms", lead(col("ms"), 1).over(w) - col("ms"))
      .filter(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n"),
           (dbl(sum(col("gap_ms"))) / count(lit(1))).as("avg_gap_ms"))
      .orderBy("event_type", "next_type")
  }
  val e12Sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
      |t AS (
      |  SELECT event_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS next_type,
      |    LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) - ms AS gap_ms
      |  FROM e)
      |SELECT event_type, next_type, COUNT(*) AS n,
      |  CAST(SUM(gap_ms) AS DOUBLE) / COUNT(*) AS avg_gap_ms
      |FROM t WHERE next_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY event_type, next_type""".stripMargin

  // ---------------------------------------------------------------- e13
  /** Hourly volume anomalies: (event_type, hour) buckets whose count
    * exceeds that type's mean by 3 sample standard deviations — the
    * ops-dashboard "traffic spike" query.
    *
    * The 3-sigma test runs entirely in integer arithmetic: with n hours,
    * S = sum(cnt), Q = sum(cnt^2) per type, the condition
    * `cnt > mean + 3*stddev` is cross-multiplied to
    * `(n*cnt - S)^2 * (n-1) > 9 * n * (n*Q - S^2)` (and `n*cnt > S` for
    * the high side) — no float boundary on the flag. Intermediates are
    * DECIMAL(38,0) (Spark) / HUGEINT (DuckDB): exact at any count
    * magnitude, so hourly volumes of 10^9 at cluster scale cannot
    * overflow the test. The per-type stats are one map-side-combinable
    * aggregation over at most |types| groups broadcast back onto the
    * hour buckets. The reported z-score is IEEE-exact both sides (one
    * cast, one subtract, one divide, one sqrt — all correctly rounded)
    * and rounded to 6dp. */
  def e13(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val h = Tables.events(spark, dir)
      .withColumn("hour_ms", col("ms") - col("ms") % 3600000L)
      .groupBy("event_type", "hour_ms")
      .agg(count(lit(1)).as("cnt"))
    val st = h.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cnt")).as("s"),
           sum(col("cnt") * col("cnt")).as("q"))
      .filter(col("n") >= 2)
    val nD  = col("n").cast(d38)
    val dev = nD * col("cnt").cast(d38) - col("s").cast(d38)
    val varNum = nD * col("q").cast(d38) - col("s").cast(d38) * col("s").cast(d38)
    h.join(st, "event_type")
      .filter(col("n") * col("cnt") > col("s") &&
              dev * dev * (nD - 1) > lit(9).cast(d38) * nD * varNum)
      .withColumn("mean_cnt", dbl(col("s")) / col("n"))
      .withColumn("z", round((dbl(col("cnt")) - col("mean_cnt")) /
        sqrt(dbl(col("n") * col("q") - col("s") * col("s")) / dbl(col("n") * (col("n") - 1))), 6))
      .select("event_type", "hour_ms", "cnt", "mean_cnt", "z")
      .orderBy("event_type", "hour_ms")
  }
  val e13Sql: String =
    """WITH h AS (SELECT event_type, epoch_ms(ts) - epoch_ms(ts) % 3600000 AS hour_ms,
      |                  COUNT(*)::BIGINT AS cnt
      |           FROM events GROUP BY 1, 2),
      |st AS (SELECT event_type, COUNT(*)::BIGINT AS n, SUM(cnt)::BIGINT AS s,
      |              SUM(cnt*cnt)::BIGINT AS q
      |       FROM h GROUP BY 1 HAVING COUNT(*) >= 2)
      |SELECT event_type, hour_ms, cnt,
      |  CAST(s AS DOUBLE) / n AS mean_cnt,
      |  ROUND((CAST(cnt AS DOUBLE) - CAST(s AS DOUBLE) / n)
      |        / sqrt(CAST(n*q - s*s AS DOUBLE) / CAST(n*(n-1) AS DOUBLE)), 6) AS z
      |FROM h JOIN st USING (event_type)
      |WHERE n*cnt > s
      |  AND (CAST(n AS HUGEINT)*cnt - s)*(CAST(n AS HUGEINT)*cnt - s)*(n-1)
      |      > 9*CAST(n AS HUGEINT)*(CAST(n AS HUGEINT)*q - CAST(s AS HUGEINT)*s)
      |ORDER BY event_type, hour_ms""".stripMargin

  // ---------------------------------------------------------------- e14
  /** Rolling engagement: per calendar day, the distinct users active
    * that day (DAU), the distinct users active in the trailing 7 days
    * (WAU), and the DAU/WAU stickiness ratio.
    *
    * The sliding distinct is NOT a window over raw events: events first
    * collapse to distinct (user, day) pairs (a map-side-combinable
    * dedup that shrinks the input by the user's daily event count),
    * then each pair fans out to the ≤7 window-end days it contributes
    * to, and one groupBy(day) counts distinct users. The fan-out is a
    * constant ×7 on the SMALL deduped frame, the shuffles key on the
    * uniform day grid, and phantom trailing days are pruned by the
    * inner join back to observed days. At extreme scale the exact
    * countDistinct swaps for an HLL sketch per (day, band) without
    * changing the plan shape. */
  def e14(spark: SparkSession, dir: String): DataFrame = {
    val DayMs = 86400000L
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), (col("ms") - pmod(col("ms"), lit(DayMs))).as("day_ms"))
      .distinct()
      .cache()
    val dau = ud.groupBy("day_ms").agg(countDistinct(col("user_id")).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(lit(0L), lit(6L))).as("k"), col("day_ms"))
      .select(col("user_id"), (col("day_ms") + col("k") * DayMs).as("day_ms"))
      .groupBy("day_ms")
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, "day_ms")
      .select(col("day_ms"), col("dau"), col("wau"),
        round(dbl(col("dau")) / dbl(col("wau")), 6).as("stickiness"))
      .orderBy("day_ms")
  }
  val e14Sql: String =
    """WITH ud AS (SELECT DISTINCT user_id,
      |                   epoch_ms(ts) - epoch_ms(ts) % 86400000 AS day_ms
      |            FROM events),
      |days AS (SELECT day_ms, COUNT(*)::BIGINT AS dau FROM ud GROUP BY 1)
      |SELECT d.day_ms AS day_ms, d.dau AS dau,
      |  COUNT(DISTINCT u.user_id) AS wau,
      |  ROUND(CAST(d.dau AS DOUBLE) / COUNT(DISTINCT u.user_id), 6) AS stickiness
      |FROM days d JOIN ud u
      |  ON u.day_ms BETWEEN d.day_ms - 6 * 86400000 AND d.day_ms
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e15
  /** Recency-weighted engagement: per-user half-life decay score
    * Σ value · 2^(−periods), periods = 3-day blocks elapsed before a
    * fixed reference instant (capped at 30 ≈ zero weight).
    *
    * The decay factor is a POWER OF TWO with an integer exponent — an
    * exact IEEE scale factor, so value·2^(−d) is an EXACT double
    * (mantissa unchanged, exponent shifted) on every engine; quantizing
    * that exact product to DECIMAL(28,12) makes the per-user sum pure
    * integer arithmetic — order-independent across partials and
    * bit-identical to the oracle. (exp(−Δt/τ) would differ by 1 ulp
    * between libm implementations; 2^(−⌊Δt⌋) cannot.) One scan, one
    * map-side-combinable groupBy(user_id) — nothing else. */
  def e15(spark: SparkSession, dir: String): DataFrame = {
    val RefMs = 1706745600000L // 2024-02-01T00:00Z, just past the data
    Tables.events(spark, dir)
      .withColumn("d",
        least(floor((lit(RefMs) - col("ms")) / lit(259200000.0d)), lit(30.0d)))
      .withColumn("w",
        round(col("value") * pow(lit(2.0d), -col("d")), 12).cast("decimal(28,12)"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum(col("w")).as("s"))
      .select(col("user_id"), col("n_events"),
        round(dbl(col("s")), 6).as("decay_score"))
      .orderBy("user_id")
  }
  val e15Sql: String =
    """SELECT user_id, COUNT(*)::BIGINT AS n_events,
      |  ROUND(CAST(SUM(CAST(ROUND(value * POWER(2.0,
      |    -LEAST(FLOOR((1706745600000 - epoch_ms(ts)) / 259200000.0), 30.0)), 12)
      |    AS DECIMAL(28,12))) AS DOUBLE), 6) AS decay_score
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e16
  /** Revenue-concentration (Pareto) deciles: users ranked by lifetime
    * purchase value, split into 10 value-threshold deciles, each with its
    * user count and share of total revenue — the "do the top 10% of
    * users drive 60% of revenue?" view.
    *
    * Scale shape: decile CUTOFFS, never a global per-user rank. A
    * ntile(10) over all users is a single-partition window at any real
    * user count; instead per-user values quantize to whole units (the
    * distinct-value domain is bounded by the VALUE RANGE, not the user
    * count) and the cumulative count runs as a distributed two-level
    * prefix sum: a window partitioned by 1000-unit band (bounded rows
    * per band) plus a broadcast band-offset join (bands are few) — no
    * unpartitioned WindowExec anywhere in the plan. Cut selection is
    * integer arithmetic (cum·10 ≥ k·n) on exact counts; users bucket by
    * comparing their quantized value against the 9 broadcast cutoffs.
    * Ties at a whole-unit boundary land in the higher decile
    * (deterministic; decile populations are threshold-defined, not
    * forced-equal). Revenue stays DECIMAL to the final single division. */
  def e16(spark: SparkSession, dir: String): DataFrame = {
    val uv = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(dec(col("value"))).as("v"))
    val q = uv.withColumn("vq", floor(dbl(col("v"))))
    val sc = q.groupBy("vq").agg(count(lit(1)).as("c"))
      .withColumn("band", floor(col("vq") / lit(1000.0d)))
    // two-level distributed prefix sum over the bounded value domain
    val inCum = sc.withColumn("icum",
      sum(col("c")).over(Window.partitionBy("band").orderBy(col("vq").desc)))
    val bt = sc.groupBy("band").agg(sum(col("c")).as("bc"))
    val off = bt.as("a")
      .join(broadcast(bt.select(col("band").as("hb"), col("bc").as("hc"))),
        col("hb") > col("band"), "left")
      .groupBy("band").agg(coalesce(sum(col("hc")), lit(0L)).as("off"))
    val cum = inCum.join(broadcast(off), "band")
      .withColumn("cum", col("icum") + col("off"))
    val n = q.agg(count(lit(1)).as("n"))
    val cutExprs = (1 to 9).map(k =>
      max(when(col("cum") * 10 >= col("n") * k, col("vq"))).as(s"d$k"))
    val cuts = cum.crossJoin(broadcast(n)).agg(cutExprs.head, cutExprs.tail: _*)
    val tot = uv.agg(sum(col("v")).as("t"))
    var decile: Column = when(col("vq") >= col("d1"), 1)
    for (k <- 2 to 9) decile = decile.when(col("vq") >= col(s"d$k"), k)
    q.crossJoin(broadcast(cuts))
      .withColumn("decile", decile.otherwise(10))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"), dbl(sum(col("v"))).as("total_value"))
      .crossJoin(broadcast(tot))
      .withColumn("pct_value",
        round(lit(100.0d) * col("total_value") / dbl(col("t")), 6))
      .select("decile", "n_users", "total_value", "pct_value")
      .orderBy("decile")
  }
  val e16Sql: String =
    """WITH uv AS (SELECT user_id, SUM(CAST(value AS DECIMAL(12,2))) AS v
      |            FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |q AS (SELECT user_id, v, FLOOR(CAST(v AS DOUBLE)) AS vq FROM uv),
      |sc AS (SELECT vq, COUNT(*)::BIGINT AS c FROM q GROUP BY 1),
      |cum AS (SELECT vq, SUM(c) OVER (ORDER BY vq DESC) AS cum FROM sc),
      |n AS (SELECT COUNT(*)::BIGINT AS n FROM q),
      |cuts AS (SELECT
      |  MAX(CASE WHEN cum * 10 >= n * 1 THEN vq END) AS d1,
      |  MAX(CASE WHEN cum * 10 >= n * 2 THEN vq END) AS d2,
      |  MAX(CASE WHEN cum * 10 >= n * 3 THEN vq END) AS d3,
      |  MAX(CASE WHEN cum * 10 >= n * 4 THEN vq END) AS d4,
      |  MAX(CASE WHEN cum * 10 >= n * 5 THEN vq END) AS d5,
      |  MAX(CASE WHEN cum * 10 >= n * 6 THEN vq END) AS d6,
      |  MAX(CASE WHEN cum * 10 >= n * 7 THEN vq END) AS d7,
      |  MAX(CASE WHEN cum * 10 >= n * 8 THEN vq END) AS d8,
      |  MAX(CASE WHEN cum * 10 >= n * 9 THEN vq END) AS d9
      |  FROM cum CROSS JOIN n),
      |tot AS (SELECT SUM(v) AS t FROM uv),
      |b AS (SELECT user_id, v,
      |  CASE WHEN vq >= d1 THEN 1 WHEN vq >= d2 THEN 2 WHEN vq >= d3 THEN 3
      |       WHEN vq >= d4 THEN 4 WHEN vq >= d5 THEN 5 WHEN vq >= d6 THEN 6
      |       WHEN vq >= d7 THEN 7 WHEN vq >= d8 THEN 8 WHEN vq >= d9 THEN 9
      |       ELSE 10 END AS decile
      |  FROM q CROSS JOIN cuts)
      |SELECT decile, COUNT(*)::BIGINT AS n_users,
      |  CAST(SUM(v) AS DOUBLE) AS total_value,
      |  ROUND(100.0 * CAST(SUM(v) AS DOUBLE) / CAST(t AS DOUBLE), 6) AS pct_value
      |FROM b CROSS JOIN tot GROUP BY 1, t ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e17
  /** Top event paths: per-user event TRIGRAMS (sequence mining over the
    * e12 transition machinery) — which 3-step journeys happen, how often,
    * and how long they take end-to-end.
    *
    * Same scale posture as e12: the two lead() windows partition by
    * user_id (bounded per-key state, one sort per user), and the final
    * groupBy has at most |types|^3 = 125 groups, map-side-combinable —
    * the shuffle carries ≤125 partial rows per task at any event volume.
    * span_ms sums are exact bigint; the mean is one IEEE division. */
  def e17(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ms"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .withColumn("span_ms", lead(col("ms"), 2).over(w) - col("ms"))
      .filter(col("t3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("t2").as("step2"), col("t3").as("step3"))
      .agg(count(lit(1)).as("n"),
           (dbl(sum(col("span_ms"))) / count(lit(1))).as("avg_span_ms"))
      .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
  }
  val e17Sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
      |t AS (
      |  SELECT event_type AS step1,
      |    LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS step2,
      |    LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS step3,
      |    LEAD(ms, 2) OVER (PARTITION BY user_id ORDER BY ms, event_id) - ms AS span_ms
      |  FROM e)
      |SELECT step1, step2, step3, COUNT(*) AS n,
      |  CAST(SUM(span_ms) AS DOUBLE) / COUNT(*) AS avg_span_ms
      |FROM t WHERE step3 IS NOT NULL
      |GROUP BY 1, 2, 3 ORDER BY n DESC, step1, step2, step3""".stripMargin

  // ---------------------------------------------------------------- e18
  /** Inter-event gap distribution per event type: how long users pause
    * before each event kind, in four latency bands. Bands are INTEGER
    * millisecond compares (never floor(log10(...)) — a float boundary at
    * exact powers of ten could bucket differently across engines).
    *
    * One lag window per user (bounded state), a ≤ |types|x4-group
    * map-combinable count, and a per-type total via an equi-join on
    * event_type (no 1-row broadcast needed); pct is one IEEE division. */
  def e18(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val gaps = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ms"))
      .withColumn("gap_ms", col("ms") - lag(col("ms"), 1).over(w))
      .filter(col("gap_ms").isNotNull)
      .withColumn("band",
        when(col("gap_ms") < 1000L, "a_lt_1s")
          .when(col("gap_ms") < 60000L, "b_lt_1m")
          .when(col("gap_ms") < 3600000L, "c_lt_1h")
          .otherwise("d_ge_1h"))
    val counts = gaps.groupBy("event_type", "band").agg(count(lit(1)).as("n"))
    val totals = gaps.groupBy("event_type").agg(count(lit(1)).as("t"))
    counts.join(totals, "event_type")
      .select(col("event_type"), col("band"), col("n"),
        (col("n").cast("double") / col("t")).as("pct"))
      .orderBy("event_type", "band")
  }
  val e18Sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
      |g AS (
      |  SELECT event_type,
      |    ms - LAG(ms, 1) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS gap_ms
      |  FROM e),
      |b AS (
      |  SELECT event_type,
      |    CASE WHEN gap_ms < 1000 THEN 'a_lt_1s'
      |         WHEN gap_ms < 60000 THEN 'b_lt_1m'
      |         WHEN gap_ms < 3600000 THEN 'c_lt_1h'
      |         ELSE 'd_ge_1h' END AS band
      |  FROM g WHERE gap_ms IS NOT NULL),
      |c AS (SELECT event_type, band, COUNT(*) AS n FROM b GROUP BY 1, 2),
      |t AS (SELECT event_type, COUNT(*) AS t FROM b GROUP BY 1)
      |SELECT c.event_type, band, n, CAST(n AS DOUBLE) / t AS pct
      |FROM c JOIN t ON c.event_type = t.event_type
      |ORDER BY c.event_type, band""".stripMargin

  // ---------------------------------------------------------------- e19
  /** Conversion lag: first-view → first-subsequent-purchase latency per
    * user, with the EXACT median (q18's row_number recipe — no
    * interpolation ambiguity) and user count per purchase month.
    *
    * Scale: two map-combinable min-aggregations on uniform user_id (the
    * fact never shuffles twice on the same key thanks to co-keyed
    * groupBys), a same-key join, then a per-month window over ≤ users
    * rows — grouped by calendar month so no global window exists at any
    * user count. */
  def e19(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val fv = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ms")).as("fv"))
    val fp = ev.filter(col("event_type") === "purchase")
      .join(fv, "user_id")
      .filter(col("ms") > col("fv"))
      .groupBy(col("user_id"), col("fv")).agg(min(col("ms")).as("fp"))
    val lags = fp.select(col("user_id"),
      date_format(timestamp_millis(col("fp")), "yyyy-MM").as("cmonth"),
      (col("fp") - col("fv")).as("lag_ms"))
    val w = Window.partitionBy("cmonth").orderBy(col("lag_ms"), col("user_id"))
    val wc = Window.partitionBy("cmonth")
    lags
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cnt", count(lit(1)).over(wc))
      .filter(col("rn") === floor((col("cnt") + 1) / 2) ||
              col("rn") === floor((col("cnt") + 2) / 2))
      .groupBy("cmonth")
      .agg((dbl(sum(col("lag_ms"))) / count(lit(1))).as("median_lag_ms"),
           max(col("cnt")).as("n_users"))
      .orderBy("cmonth")
  }
  val e19Sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |fv AS (SELECT user_id, MIN(ms) AS fv FROM e WHERE event_type = 'view' GROUP BY 1),
      |fp AS (
      |  SELECT e.user_id, fv, MIN(ms) AS fp
      |  FROM e JOIN fv ON e.user_id = fv.user_id
      |  WHERE event_type = 'purchase' AND ms > fv
      |  GROUP BY 1, 2),
      |lags AS (
      |  SELECT user_id, strftime(epoch_ms(fp), '%Y-%m') AS cmonth, fp - fv AS lag_ms
      |  FROM fp),
      |r AS (
      |  SELECT cmonth, lag_ms,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY cmonth ORDER BY lag_ms, user_id) AS BIGINT) AS rn,
      |    COUNT(*) OVER (PARTITION BY cmonth) AS cnt
      |  FROM lags)
      |SELECT cmonth,
      |  CAST(SUM(lag_ms) AS DOUBLE) / COUNT(*) AS median_lag_ms,
      |  MAX(cnt) AS n_users
      |FROM r
      |WHERE rn = FLOOR((cnt + 1) / 2) OR rn = FLOOR((cnt + 2) / 2)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e20
  /** Event-mix entropy per user: H = ln(n) − Σ cᵢ·ln(cᵢ)/n over the
    * user's event-type counts — the bot/monoculture signal (a user who
    * only ever fires one event type scores 0; a uniform mix scores
    * ln(|types|)).
    *
    * Float discipline (t11's recipe): each ln(cᵢ) is round9-quantized to
    * DECIMAL so the weighted sum is exact and order-independent under
    * map-side combine; the final H is one fixed IEEE op sequence,
    * round6. Two co-keyed uniform shuffles ((user, type) then user),
    * both map-combinable — never a per-user window. */
  val e20Sql: String =
    """WITH c AS (SELECT user_id, event_type, COUNT(*)::BIGINT AS c
      |           FROM events GROUP BY 1, 2),
      |q AS (SELECT user_id, c,
      |        CAST(ROUND(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lq
      |      FROM c),
      |u AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
      |        COUNT(*)::BIGINT AS n_types,
      |        SUM(CAST(c AS DECIMAL(10,0)) * lq) AS s
      |      FROM q GROUP BY 1)
      |SELECT user_id, n_events, n_types,
      |  ROUND(ln(CAST(n_events AS DOUBLE)) - CAST(s AS DOUBLE) / CAST(n_events AS DOUBLE), 6) AS entropy
      |FROM u ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- e21
  /** Seasonality heatmap: events per (day-of-week, hour-of-day) cell with
    * each cell's share of its weekday — the load-shape profile behind
    * capacity planning and anomaly baselines (e13's mean/σ per hour
    * assumes you know this shape).
    *
    * Day/hour come from integer epoch-ms arithmetic (epoch day 0 was a
    * Thursday → dow = (day+4) mod 7, 0=Sunday — matching DuckDB's
    * dayofweek), never from timezone-dependent timestamp formatting. One
    * map-combinable groupBy to ≤168 cells, a 7-row totals equi-join. */
  def e21(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(((floor(col("ms") / 86400000L) + 4) % 7).cast("long").as("dow"),
              floor((col("ms") % 86400000L) / 3600000L).cast("long").as("hod"))
      .groupBy("dow", "hod").agg(count(lit(1)).as("n"))
    val totals = cells.groupBy("dow").agg(sum(col("n")).as("t"))
    cells.join(totals, "dow")
      .select(col("dow"), col("hod"), col("n"),
        (col("n").cast("double") / col("t")).as("share_of_dow"))
      .orderBy("dow", "hod")
  }
  val e21Sql: String =
    """WITH e AS (SELECT epoch_ms(ts) AS ms FROM events),
      |c AS (SELECT CAST((FLOOR(ms / 86400000) + 4) % 7 AS BIGINT) AS dow,
      |             CAST(FLOOR((ms % 86400000) / 3600000) AS BIGINT) AS hod
      |      FROM e),
      |g AS (SELECT dow, hod, COUNT(*)::BIGINT AS n FROM c GROUP BY 1, 2),
      |t AS (SELECT dow, CAST(SUM(n) AS BIGINT) AS t FROM g GROUP BY 1)
      |SELECT g.dow, hod, n, CAST(n AS DOUBLE) / t AS share_of_dow
      |FROM g JOIN t ON g.dow = t.dow
      |ORDER BY g.dow, hod""".stripMargin

  // ---------------------------------------------------------------- e22
  /** Inter-event burstiness per user: coefficient of variation of the
    * user's gap distribution. CV ≈ 1 is Poisson-like arrival, CV ≫ 1 is
    * bursty sessions, CV ≈ 0 is metronomic — the cron/bot timing signal
    * that pairs with e20's event-mix entropy (monoculture) flag.
    *
    * Exactness: gaps are integer milliseconds; per-user n / Σg / Σg²
    * accumulate in DECIMAL(38,0) (map-side-combinable, order-independent,
    * overflow-proof at any event count — e13's recipe), and
    * CV = sqrt((n·Σg² − (Σg)²) · n / ((n−1) · (Σg)²)) is one identical
    * IEEE expression on both engines after the exact integer numerator,
    * rounded to 6dp. Scale: one window pass partitioned by user_id
    * (bounded state), one uniform-key aggregation. */
  def e22(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val gaps = Tables.events(spark, dir)
      .select(col("user_id"), col("ms"), col("event_id"))
      .withColumn("gap", lead(col("ms"), 1).over(w) - col("ms"))
      .filter(col("gap").isNotNull)
    val nD = col("n").cast(d38)
    gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
           sum(col("gap").cast(d38)).as("s"),
           sum(col("gap").cast(d38) * col("gap").cast(d38)).as("q"))
      .filter(col("n") >= 2 && col("s") > 0)
      .select(col("user_id"), col("n").as("n_gaps"),
        (dbl(col("s")) / col("n")).as("mean_gap_ms"),
        round(sqrt(dbl(nD * col("q") - col("s") * col("s")) * col("n") /
          (dbl(col("n") - 1) * dbl(col("s")) * dbl(col("s")))), 6).as("cv"))
      .orderBy("user_id")
  }
  val e22Sql: String =
    """WITH g AS (
      |  SELECT user_id,
      |    LEAD(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
      |      - epoch_ms(ts) AS gap
      |  FROM events),
      |st AS (
      |  SELECT user_id, COUNT(*)::BIGINT AS n,
      |    SUM(CAST(gap AS HUGEINT)) AS s,
      |    SUM(CAST(gap AS HUGEINT) * gap) AS q
      |  FROM g WHERE gap IS NOT NULL
      |  GROUP BY user_id HAVING COUNT(*) >= 2 AND SUM(gap) > 0)
      |SELECT user_id, n AS n_gaps,
      |  CAST(s AS DOUBLE) / n AS mean_gap_ms,
      |  ROUND(SQRT(CAST(n * q - s * s AS DOUBLE) * n /
      |    (CAST(n - 1 AS DOUBLE) * CAST(s AS DOUBLE) * CAST(s AS DOUBLE))), 6) AS cv
      |FROM st ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- e23
  /** Session-level conversion per user: e01's gap sessionization carried
    * through to the business metric — how many of a user's sessions
    * contain a purchase, the session-granular conversion rate, mean
    * session duration, and total purchase value. The metric a funnel
    * dashboard (e03) is ultimately normalized by.
    *
    * Same window recipe as e01 (user-partitioned, bounded state; e09's
    * split-and-stitch applies verbatim for whale users), then two
    * same-key aggregations. Purchase value sums in DECIMAL(12,2); the
    * conversion and mean duration are each ONE IEEE division of exact
    * operands. */
  def e23(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val zero = dec(lit(0.0d))
    val sess = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ms"), col("event_type"), col("value"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > GapMs, 1L).otherwise(0L))
      .withColumn("sess_idx", sum(col("new_sess")).over(wr))
      .groupBy("user_id", "sess_idx")
      .agg((max(col("ms")) - min(col("ms"))).as("dur_ms"),
           max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("has_purchase"),
           sum(when(col("event_type") === "purchase",
             dec(coalesce(col("value"), lit(0.0d)))).otherwise(zero)).as("rev"))
    sess.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
           sum(col("has_purchase")).as("n_purchase_sessions"),
           (dbl(sum(col("has_purchase"))) / count(lit(1))).as("conversion"),
           (dbl(sum(col("dur_ms"))) / count(lit(1))).as("avg_dur_ms"),
           dbl(sum(col("rev"))).as("purchase_value"))
      .orderBy("user_id")
  }
  val e23Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ms FROM events),
       |l AS (SELECT *, LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e),
       |f AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > $GapMs THEN 1 ELSE 0 END AS new_sess FROM l),
       |s AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx FROM f),
       |sess AS (
       |  SELECT user_id, sess_idx, MAX(ms) - MIN(ms) AS dur_ms,
       |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS has_purchase,
       |    SUM(CASE WHEN event_type = 'purchase'
       |        THEN CAST(COALESCE(value, CAST(0 AS DOUBLE)) AS DECIMAL(12,2))
       |        ELSE CAST(CAST(0 AS DOUBLE) AS DECIMAL(12,2)) END) AS rev
       |  FROM s GROUP BY 1, 2)
       |SELECT user_id, COUNT(*) AS n_sessions,
       |  CAST(SUM(has_purchase) AS BIGINT) AS n_purchase_sessions,
       |  CAST(SUM(has_purchase) AS DOUBLE) / COUNT(*) AS conversion,
       |  CAST(SUM(dur_ms) AS DOUBLE) / COUNT(*) AS avg_dur_ms,
       |  CAST(SUM(rev) AS DOUBLE) AS purchase_value
       |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- e24
  /** e14's promised sketch path: rolling DAU/WAU from mergeable HLL
    * sketches (Spark's DataSketches hll_sketch_agg/hll_union_agg)
    * instead of exact distincts. The scale difference is structural,
    * not just constant-factor: e14's sliding distinct fans out (user,
    * day) PAIRS to every window-end day — shuffle volume 7·|active
    * users| per day — while here each day collapses to ONE ~2.5 KB
    * sketch map-side and the 7-day window unions 7 SKETCHES per day.
    * Shuffle volume is |days|·KB regardless of user count; 10⁹ users
    * cost the same network as 10³. countDistinct partials cannot merge
    * across groups; HLL sketches can — that is the whole trick.
    *
    * lgConfigK = 12 → relative standard error ≈ 1.6%. Rows-only (an
    * estimate can't hash-match an exact oracle); the spec bounds every
    * day's DAU/WAU estimate against exact e14 and pins the row set. */
  def e24(spark: SparkSession, dir: String): DataFrame = {
    val DayMs = 86400000L
    // no pre-distinct: the sketch absorbs duplicate user hits map-side
    val daily = Tables.events(spark, dir)
      .withColumn("day_ms", col("ms") - pmod(col("ms"), lit(DayMs)))
      .groupBy("day_ms")
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      .cache()
    val dau = daily.select(col("day_ms"),
      hll_sketch_estimate(col("sk")).as("dau_est"))
    val wau = daily
      .select(col("day_ms"), explode(sequence(lit(0L), lit(6L))).as("k"), col("sk"))
      .select((col("day_ms") + col("k") * DayMs).as("day_ms"), col("sk"))
      .groupBy("day_ms")
      .agg(hll_union_agg(col("sk")).as("wk"))
      .select(col("day_ms"), hll_sketch_estimate(col("wk")).as("wau_est"))
    dau.join(wau, "day_ms")
      .select(col("day_ms"), col("dau_est"), col("wau_est"),
        round(col("dau_est") / col("wau_est"), 6).as("stickiness_est"))
      .orderBy("day_ms")
  }

  // ---------------------------------------------------------------- e25
  /** Time-BOUNDED funnel: view → click within 1 h of the first view →
    * purchase within 1 h of that click, counted in users per stage.
    * e03 is the unordered-lifetime funnel; this is the product-analytics
    * form where a conversion only counts inside the step window.
    *
    * Each stage is a min-agg on user_id (map-combinable) + one same-key
    * join carrying the previous stage's anchor timestamp — no windows,
    * no session state; at 100 TB the chain is three uniform-key
    * shuffles, each smaller than the last (the funnel IS the filter). */
  def e25(spark: SparkSession, dir: String): DataFrame = {
    val H = 3600000L
    val e = Tables.events(spark, dir).select(col("user_id"), col("event_type"), col("ms"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ms")).as("v_ms"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ms") > col("v_ms") && col("ms") <= col("v_ms") + H)
      .groupBy("user_id").agg(min(col("ms")).as("c_ms"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ms") > col("c_ms") && col("ms") <= col("c_ms") + H)
      .groupBy("user_id").agg(min(col("ms")).as("p_ms"))
    def lvl(df: DataFrame, step: Long, name: String) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(step).as("step"), lit(name).as("stage"), col("n_users"))
    lvl(v, 1L, "view").unionByName(lvl(c, 2L, "click_1h"))
      .unionByName(lvl(p, 3L, "purchase_1h"))
      .orderBy("step")
  }
  val e25Sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |v AS (SELECT user_id, MIN(ms) AS v_ms FROM e WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT user_id, MIN(ms) AS c_ms FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND ms > v_ms AND ms <= v_ms + 3600000 GROUP BY 1),
      |p AS (SELECT user_id, MIN(ms) AS p_ms FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND ms > c_ms AND ms <= c_ms + 3600000 GROUP BY 1)
      |SELECT CAST(1 AS BIGINT) AS step, 'view' AS stage, COUNT(*) AS n_users FROM v
      |UNION ALL SELECT CAST(2 AS BIGINT), 'click_1h', COUNT(*) FROM c
      |UNION ALL SELECT CAST(3 AS BIGINT), 'purchase_1h', COUNT(*) FROM p
      |ORDER BY step""".stripMargin

  // ---------------------------------------------------------------- e26
  /** First- vs last-touch revenue attribution. Each purchase credits its
    * value to (a) the purchasing user's FIRST event overall and (b) the
    * latest event strictly before the purchase in the (ms, event_id)
    * total order. Both touches resolve via row_number over bounded
    * per-key partitions (user history / per-purchase candidates); the
    * rollup is decimal-exact so the two engines' sum order can differ. */
  def e26(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ms"), col("value"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"), col("ms").as("p_ms"), col("value"))
    val wFirst = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val first = ev
      .withColumn("rn", row_number().over(wFirst)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("touch_type"))
    val firstModel = purch.join(first, "user_id")
      .select(lit("first_touch").as("model"), col("touch_type"), col("value"))
    val wLast = Window.partitionBy("pid").orderBy(col("ms").desc, col("event_id").desc)
    val lastModel = purch
      .join(ev.select(col("user_id"), col("event_id"), col("event_type"), col("ms")), Seq("user_id"))
      .filter(col("ms") < col("p_ms") ||
              (col("ms") === col("p_ms") && col("event_id") < col("pid")))
      .withColumn("rn", row_number().over(wLast)).filter(col("rn") === 1)
      .select(lit("last_touch").as("model"), col("event_type").as("touch_type"), col("value"))
    firstModel.unionByName(lastModel)
      .groupBy("model", "touch_type")
      .agg(count(lit(1)).as("n_purchases"), dsum(col("value")).as("total_value"))
      .orderBy("model", "touch_type")
  }
  val e26Sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms, value FROM events),
      |p AS (SELECT user_id, event_id AS pid, ms AS p_ms, value FROM e
      |      WHERE event_type = 'purchase'),
      |f AS (SELECT user_id, event_type AS touch_type
      |      FROM (SELECT user_id, event_type,
      |              ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ms, event_id) AS rn
      |            FROM e)
      |      WHERE rn = 1),
      |fm AS (SELECT 'first_touch' AS model, touch_type, p.value FROM p JOIN f USING (user_id)),
      |lm AS (SELECT 'last_touch' AS model, touch_type, value FROM (
      |    SELECT p.pid, e.event_type AS touch_type, p.value,
      |      ROW_NUMBER() OVER (PARTITION BY p.pid ORDER BY e.ms DESC, e.event_id DESC) AS rn
      |    FROM p JOIN e ON e.user_id = p.user_id
      |     AND (e.ms < p.p_ms OR (e.ms = p.p_ms AND e.event_id < p.pid)))
      |  WHERE rn = 1)
      |SELECT model, touch_type, COUNT(*) AS n_purchases,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM (SELECT * FROM fm UNION ALL SELECT * FROM lm)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- e27
  /** Session co-occurrence matrix: for each unordered event-type pair,
    * how many sessions contain both — the signal behind "views and
    * errors co-occur" style diagnoses. Reuses e01's gap-labeling window
    * chain (user-partitioned, bounded state); the pair join is a
    * self-join on (user, session) of the DISTINCT per-session type set,
    * so its width is bounded by |event types| per session, not events. */
  /** Per-event (user, sess_idx, event_type) rows off e01's gap-labeling
    * chain — the base of every session-granular view (e27/e31/e35). */
  private def sessionLabeled(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ms"), col("event_type"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > GapMs, 1L).otherwise(0L))
      .withColumn("sess_idx", sum(col("new_sess")).over(wr))
      .select(col("user_id"), col("sess_idx"), col("event_type"))
  }
  /** DISTINCT (user, session, event_type) triples — the frame behind e27
    * (co-occurrence) and e31 (lift). */
  private def sessionTypeSets(spark: SparkSession, dir: String): DataFrame =
    sessionLabeled(spark, dir).distinct()
  /** Shared CTE chain: `s` = per-event rows with sess_idx — the SQL
    * mirror of [[sessionLabeled]]. */
  private val sessionLabelCte: String =
    s"""e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
       |l AS (SELECT *, LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e),
       |f AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > $GapMs THEN 1 ELSE 0 END AS new_sess FROM l),
       |s AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx FROM f)""".stripMargin
  /** [[sessionLabelCte]] + `d` = the DISTINCT per-session type set —
    * the SQL mirror of [[sessionTypeSets]]. */
  private val sessionTypeSetsCte: String =
    s"""$sessionLabelCte,
       |d AS (SELECT DISTINCT user_id, sess_idx, event_type FROM s)""".stripMargin

  def e27(spark: SparkSession, dir: String): DataFrame = {
    val labeled = sessionTypeSets(spark, dir)
    labeled.as("a").join(labeled.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.sess_idx") === col("b.sess_idx") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy("type_a", "type_b")
  }
  val e27Sql: String =
    s"""WITH $sessionTypeSetsCte
       |SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_sessions
       |FROM d a JOIN d b
       |  ON a.user_id = b.user_id AND a.sess_idx = b.sess_idx
       | AND a.event_type < b.event_type
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- e28
  /** Weekly growth accounting: every active (user, week) classified as
    * new (first week ever), retained (active the week before) or
    * resurrected (returns after a gap), plus the implied churn count —
    * the standard startup growth ledger. Week index is integer division
    * of epoch-ms (no calendar parsing, identical in both engines); the
    * classification is a user-partitioned lag; churned(w) derives from
    * the WEEK-level frame (active(w-1) - retained(w)) via a broadcast
    * equi self-join of the |weeks|-bounded rollup shifted one week — no
    * single-partition window, no second pass over events. */
  def e28(spark: SparkSession, dir: String): DataFrame = {
    val WeekMs = 7L * 86400000L
    val uw = Tables.events(spark, dir)
      .select(col("user_id"), (col("ms") - pmod(col("ms"), lit(WeekMs))).as("wk"))
      .distinct()
    val lagW = Window.partitionBy("user_id").orderBy("wk")
    val cls = uw.withColumn("prev", lag(col("wk"), 1).over(lagW))
      .withColumn("state",
        when(col("prev").isNull, "new")
          .when(col("prev") === col("wk") - WeekMs, "retained")
          .otherwise("resurrected"))
    val g = cls.groupBy("wk")
      .agg(count(lit(1)).as("active"),
           sum(when(col("state") === "new", 1L).otherwise(0L)).as("n_new"),
           sum(when(col("state") === "retained", 1L).otherwise(0L)).as("n_retained"),
           sum(when(col("state") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"))
    g.join(broadcast(g.select((col("wk") + WeekMs).as("wk"),
                              col("active").as("prev_active"))),
           Seq("wk"), "left")
      .withColumn("n_churned",
        coalesce(col("prev_active") - col("n_retained"), lit(0L)))
      .drop("prev_active")
      .orderBy("wk")
  }
  val e28Sql: String =
    """WITH uw AS (SELECT DISTINCT user_id,
      |    epoch_ms(ts) - epoch_ms(ts) % 604800000 AS wk FROM events),
      |c AS (SELECT user_id, wk,
      |    LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev FROM uw),
      |s AS (SELECT wk,
      |    CASE WHEN prev IS NULL THEN 'new'
      |         WHEN prev = wk - 604800000 THEN 'retained'
      |         ELSE 'resurrected' END AS state FROM c),
      |g AS (SELECT wk, COUNT(*) AS active,
      |    SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END)::BIGINT AS n_new,
      |    SUM(CASE WHEN state = 'retained' THEN 1 ELSE 0 END)::BIGINT AS n_retained,
      |    SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)::BIGINT AS n_resurrected
      |  FROM s GROUP BY 1)
      |SELECT g.wk, g.active, g.n_new, g.n_retained, g.n_resurrected,
      |  COALESCE(p.active - g.n_retained, 0)::BIGINT AS n_churned
      |FROM g LEFT JOIN g p ON p.wk = g.wk - 604800000
      |ORDER BY g.wk""".stripMargin

  // ---------------------------------------------------------------- e29
  /** RFM customer segmentation: per-user recency (days since last
    * purchase, vs the corpus max day), frequency (purchase count) and
    * monetary (DECIMAL-exact value sum), each banded 1-3 by integer /
    * decimal compares (no float boundaries), rolled up per segment.
    * The corpus max day joins as a 1-row broadcast; output is bounded
    * by 27 segments at any scale. */
  def e29(spark: SparkSession, dir: String): DataFrame = {
    val DayMs = 86400000L
    val p = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), (col("ms") - pmod(col("ms"), lit(DayMs))).as("day_ms"),
              col("value"))
    val per = p.groupBy("user_id")
      .agg(max(col("day_ms")).as("last_day"), count(lit(1)).as("freq"),
           sum(dec(col("value"))).as("mon"))
    val mx = p.agg(max(col("day_ms")).as("max_day"))
    per.crossJoin(broadcast(mx))
      // day-aligned ms difference is an exact multiple of DayMs; compares
      // below are integer-vs-integer in both engines
      .withColumn("rec_days", ((col("max_day") - col("last_day")) / lit(DayMs)).cast("long"))
      .withColumn("r", when(col("rec_days") <= 7, "3").when(col("rec_days") <= 30, "2").otherwise("1"))
      .withColumn("f", when(col("freq") >= 20, "3").when(col("freq") >= 5, "2").otherwise("1"))
      .withColumn("m", when(col("mon") >= 500, "3").when(col("mon") >= 100, "2").otherwise("1"))
      .groupBy(concat(col("r"), col("f"), col("m")).as("segment"))
      .agg(count(lit(1)).as("n_users"), dbl(sum(col("mon"))).as("total_value"))
      .orderBy("segment")
  }
  val e29Sql: String =
    """WITH p AS (
      |  SELECT user_id, epoch_ms(ts) - epoch_ms(ts) % 86400000 AS day_ms, value
      |  FROM events WHERE event_type = 'purchase'),
      |per AS (
      |  SELECT user_id, MAX(day_ms) AS last_day, COUNT(*) AS freq,
      |    SUM(CAST(value AS DECIMAL(12,2))) AS mon
      |  FROM p GROUP BY 1),
      |mx AS (SELECT MAX(day_ms) AS max_day FROM p),
      |b AS (
      |  SELECT (max_day - last_day) // 86400000 AS rec_days, freq, mon FROM per CROSS JOIN mx),
      |seg AS (
      |  SELECT
      |    (CASE WHEN rec_days <= 7 THEN 3 WHEN rec_days <= 30 THEN 2 ELSE 1 END)::VARCHAR ||
      |    (CASE WHEN freq >= 20 THEN 3 WHEN freq >= 5 THEN 2 ELSE 1 END)::VARCHAR ||
      |    (CASE WHEN mon >= 500 THEN 3 WHEN mon >= 100 THEN 2 ELSE 1 END)::VARCHAR AS segment,
      |    mon FROM b)
      |SELECT segment, COUNT(*) AS n_users, CAST(SUM(mon) AS DOUBLE) AS total_value
      |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e30
  /** Engagement-depth histogram: how many users were active on exactly N
    * distinct days — the curve behind "casual vs core" segmentation.
    * Two map-combinable aggregations (distinct (user, day) → per-user
    * day count → per-count user count); output bounded by the calendar,
    * all integers. */
  def e30(spark: SparkSession, dir: String): DataFrame = {
    val DayMs = 86400000L
    Tables.events(spark, dir)
      .select(col("user_id"), (col("ms") - pmod(col("ms"), lit(DayMs))).as("day_ms"))
      .distinct()
      .groupBy("user_id").agg(count(lit(1)).as("n_days"))
      .groupBy("n_days").agg(count(lit(1)).as("n_users"))
      .orderBy("n_days")
  }
  val e30Sql: String =
    """WITH ud AS (SELECT DISTINCT user_id,
      |    epoch_ms(ts) - epoch_ms(ts) % 86400000 AS day_ms FROM events),
      |pu AS (SELECT user_id, COUNT(*) AS n_days FROM ud GROUP BY 1)
      |SELECT n_days, COUNT(*) AS n_users FROM pu GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e31
  /** Event-type association LIFT over sessions: for each unordered type
    * pair, P(a,b)/(P(a)·P(b)) = n_ab·S / (n_a·n_b) — e27's co-occurrence
    * counts normalized into the market-basket association measure. All
    * numerators/denominators are exact session counts; the cross-
    * multiplied ratio is ONE IEEE division (t23's recipe); the session
    * total joins as a 1-row broadcast. */
  def e31(spark: SparkSession, dir: String): DataFrame = {
    val st = sessionTypeSets(spark, dir).cache() // feeds pairs AND both marginals
    val total = st.select("user_id", "sess_idx").distinct()
      .agg(count(lit(1)).as("s_total"))
    val marg = st.groupBy("event_type").agg(count(lit(1)).as("n_t"))
    val pairs = st.as("a").join(st.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.sess_idx") === col("b.sess_idx") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(marg.select(col("event_type").as("type_a"), col("n_t").as("n_a"))), "type_a")
      .join(broadcast(marg.select(col("event_type").as("type_b"), col("n_t").as("n_b"))), "type_b")
      .crossJoin(broadcast(total))
      .select(col("type_a"), col("type_b"), col("n_ab"),
        (round(dbl(col("n_ab") * col("s_total")) / dbl(col("n_a") * col("n_b")), 6)
          + lit(0.0d)).as("lift"))
      .orderBy("type_a", "type_b")
  }
  val e31Sql: String =
    s"""WITH $sessionTypeSetsCte,
       |tot AS (SELECT COUNT(*) AS s_total FROM (SELECT DISTINCT user_id, sess_idx FROM d)),
       |marg AS (SELECT event_type, COUNT(*) AS n_t FROM d GROUP BY 1),
       |p AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_ab
       |  FROM d a JOIN d b
       |    ON a.user_id = b.user_id AND a.sess_idx = b.sess_idx
       |   AND a.event_type < b.event_type
       |  GROUP BY 1, 2)
       |SELECT type_a, type_b, n_ab,
       |  ROUND(CAST(n_ab * s_total AS DOUBLE) / CAST(ma.n_t * mb.n_t AS DOUBLE), 6) + 0.0 AS lift
       |FROM p JOIN marg ma ON p.type_a = ma.event_type
       |       JOIN marg mb ON p.type_b = mb.event_type
       |       CROSS JOIN tot
       |ORDER BY type_a, type_b""".stripMargin

  // ---------------------------------------------------------------- e32
  /** Daily peak-to-mean load ratio: each day's busiest hour vs its
    * 24-hour mean — the capacity-planning number that says how much
    * headroom a flat-provisioned cluster needs. Two map-combinable
    * aggregations (hour counts → day rollup); the ratio is exact-integer
    * cross multiplication (peak·24 / total) with ONE division per day
    * row; output bounded by the calendar. */
  def e32(spark: SparkSession, dir: String): DataFrame = {
    val HourMs = 3600000L
    val DayMs = 86400000L
    Tables.events(spark, dir)
      .select((col("ms") - pmod(col("ms"), lit(HourMs))).as("hour_ms"))
      .groupBy("hour_ms").agg(count(lit(1)).as("n"))
      .withColumn("day_ms", col("hour_ms") - pmod(col("hour_ms"), lit(DayMs)))
      .groupBy("day_ms")
      .agg(max(col("n")).as("peak_hour_n"), sum(col("n")).as("total_n"),
           count(lit(1)).as("active_hours"))
      .withColumn("peak_ratio",
        round(dbl(col("peak_hour_n") * 24) / dbl(col("total_n")), 6))
      .orderBy("day_ms")
  }
  val e32Sql: String =
    """WITH h AS (
      |  SELECT epoch_ms(ts) - epoch_ms(ts) % 3600000 AS hour_ms, COUNT(*) AS n
      |  FROM events GROUP BY 1),
      |d AS (
      |  SELECT hour_ms - hour_ms % 86400000 AS day_ms,
      |    CAST(MAX(n) AS BIGINT) AS peak_hour_n,
      |    CAST(SUM(n) AS BIGINT) AS total_n,
      |    COUNT(*) AS active_hours
      |  FROM h GROUP BY 1)
      |SELECT day_ms, peak_hour_n, total_n, active_hours,
      |  ROUND(CAST(peak_hour_n * 24 AS DOUBLE) / CAST(total_n AS DOUBLE), 6) AS peak_ratio
      |FROM d ORDER BY day_ms""".stripMargin

  // ---------------------------------------------------------------- e33
  /** New vs returning users per day: each active (user, day) classified
    * by whether it is the user's FIRST day ever — the acquisition-vs-
    * engagement split on every growth dashboard. First days come from
    * one map-combinable min-agg joined back on user_id (uniform hash
    * shuffle); output bounded by the calendar, all integers. */
  def e33(spark: SparkSession, dir: String): DataFrame = {
    val DayMs = 86400000L
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), (col("ms") - pmod(col("ms"), lit(DayMs))).as("day_ms"))
      .distinct()
      .cache() // feeds the first-day agg AND the classified rollup
    val first = ud.groupBy("user_id").agg(min(col("day_ms")).as("first_day"))
    ud.join(first, "user_id")
      .groupBy("day_ms")
      .agg(sum(when(col("day_ms") === col("first_day"), 1L).otherwise(0L)).as("n_new_users"),
           sum(when(col("day_ms") =!= col("first_day"), 1L).otherwise(0L)).as("n_returning_users"))
      .orderBy("day_ms")
  }
  val e33Sql: String =
    """WITH ud AS (SELECT DISTINCT user_id,
      |    epoch_ms(ts) - epoch_ms(ts) % 86400000 AS day_ms FROM events),
      |f AS (SELECT user_id, MIN(day_ms) AS first_day FROM ud GROUP BY 1)
      |SELECT day_ms,
      |  SUM(CASE WHEN day_ms = first_day THEN 1 ELSE 0 END)::BIGINT AS n_new_users,
      |  SUM(CASE WHEN day_ms <> first_day THEN 1 ELSE 0 END)::BIGINT AS n_returning_users
      |FROM ud JOIN f USING (user_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e34
  /** Audience overlap between event types: for each unordered type pair,
    * how many users do BOTH and the Jaccard of the two audiences —
    * e31's association question at user (not session) granularity, the
    * "are clickers also buyers" table. DISTINCT (user, type) first (one
    * map-combinable distinct bounded by users×|types|), |types|-bounded
    * self-join per user, exact-integer marginals via broadcast,
    * ONE division per emitted row. */
  val e34Sql: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |marg AS (SELECT event_type, COUNT(*) AS n_t FROM ut GROUP BY 1),
      |p AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_both
      |  FROM ut a JOIN ut b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT /*+ BROADCAST(ma, mb) */ type_a, type_b, n_both,
      |  ROUND(CAST(n_both AS DOUBLE) / CAST(ma.n_t + mb.n_t - n_both AS DOUBLE), 6) + 0.0
      |    AS audience_jaccard
      |FROM p JOIN marg ma ON p.type_a = ma.event_type
      |       JOIN marg mb ON p.type_b = mb.event_type
      |ORDER BY type_a, type_b""".stripMargin

  // ---------------------------------------------------------------- e35
  /** Session-size histogram: how many sessions contain exactly-banded
    * event counts (1 / 2-5 / 6-10 / 11-20 / >20) — the engagement-shape
    * curve that separates bounce traffic from binge sessions. Reuses the
    * gap-labeling chain; session sizes are one map-combinable groupBy on
    * (user, sess_idx); integer CASE bands; band-bounded output. */
  def e35(spark: SparkSession, dir: String): DataFrame = {
    val sizes = sessionLabeled(spark, dir)
      .groupBy("user_id", "sess_idx").agg(count(lit(1)).as("n"))
    val band = when(col("n") === 1L, "a=1").when(col("n") <= 5L, "b2-5")
      .when(col("n") <= 10L, "c6-10").when(col("n") <= 20L, "d11-20")
      .otherwise("e>20")
    sizes.groupBy(band.as("size_band"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"))
      .orderBy("size_band")
  }
  val e35Sql: String =
    s"""WITH $sessionLabelCte,
       |sz AS (SELECT user_id, sess_idx, COUNT(*) AS n FROM s GROUP BY 1, 2),
       |b AS (
       |  SELECT CASE WHEN n = 1 THEN 'a=1' WHEN n <= 5 THEN 'b2-5'
       |              WHEN n <= 10 THEN 'c6-10' WHEN n <= 20 THEN 'd11-20'
       |              ELSE 'e>20' END AS size_band, n
       |  FROM sz)
       |SELECT size_band, COUNT(*) AS n_sessions, CAST(SUM(n) AS BIGINT) AS n_events
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e36
  /** Velocity screen: users banded by events-per-active-day (the cheap
    * first-pass bot filter), with each band's share of purchase events —
    * a high-velocity band that never buys is automation, not engagement.
    * One per-user aggregation; band edges are exact-integer cross
    * multiplications (events ≥ k·days — no division, no float
    * boundary); ONE division per band row; 4-row-bounded output. */
  def e36(spark: SparkSession, dir: String): DataFrame = {
    val DayMs = 86400000L
    val per = Tables.events(spark, dir)
      .select(col("user_id"), (col("ms") - pmod(col("ms"), lit(DayMs))).as("day_ms"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("is_p"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), countDistinct(col("day_ms")).as("n_days"),
           sum(col("is_p")).as("n_purch"))
    val band = when(col("n_events") >= col("n_days") * 50, "d>=50/day")
      .when(col("n_events") >= col("n_days") * 20, "c>=20/day")
      .when(col("n_events") >= col("n_days") * 10, "b>=10/day")
      .otherwise("a<10/day")
    per.groupBy(band.as("velocity_band"))
      .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("total_events"),
           sum(col("n_purch")).as("total_purchases"))
      .withColumn("purchase_share",
        round(dbl(col("total_purchases")) / col("total_events"), 6) + lit(0.0d))
      .orderBy("velocity_band")
  }
  val e36Sql: String =
    """WITH per AS (
      |  SELECT user_id, COUNT(*) AS n_events,
      |    COUNT(DISTINCT epoch_ms(ts) - epoch_ms(ts) % 86400000) AS n_days,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purch
      |  FROM events GROUP BY 1),
      |b AS (
      |  SELECT CASE WHEN n_events >= n_days * 50 THEN 'd>=50/day'
      |              WHEN n_events >= n_days * 20 THEN 'c>=20/day'
      |              WHEN n_events >= n_days * 10 THEN 'b>=10/day'
      |              ELSE 'a<10/day' END AS velocity_band,
      |         n_events, n_purch
      |  FROM per)
      |SELECT velocity_band, COUNT(*) AS n_users,
      |  CAST(SUM(n_events) AS BIGINT) AS total_events,
      |  CAST(SUM(n_purch) AS BIGINT) AS total_purchases,
      |  ROUND(CAST(SUM(n_purch) AS DOUBLE) / SUM(n_events), 6) + 0.0 AS purchase_share
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e37
  /** First-session conversion: the share of users whose FIRST session
    * already contains a purchase — activation quality of the signup/
    * landing flow, read before any retention metric means anything.
    * Rides the gap-labeling chain (sess_idx = 1 is the first session by
    * construction); two scalar counts crossed as 1-row broadcasts, ONE
    * division. */
  def e37(spark: SparkSession, dir: String): DataFrame = {
    val st = sessionTypeSets(spark, dir)
    val conv = st.filter(col("sess_idx") === 1L && col("event_type") === "purchase")
      .agg(countDistinct(col("user_id")).as("n_converted"))
    val tot = st.agg(countDistinct(col("user_id")).as("n_users"))
    tot.crossJoin(broadcast(conv))
      .select(col("n_users"), col("n_converted"),
        (round(dbl(col("n_converted")) / col("n_users"), 6) + lit(0.0d)).as("conversion_rate"))
  }
  val e37Sql: String =
    s"""WITH $sessionTypeSetsCte,
       |conv AS (
       |  SELECT COUNT(DISTINCT user_id) AS n_converted FROM d
       |  WHERE sess_idx = 1 AND event_type = 'purchase'),
       |tot AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM d)
       |SELECT n_users, n_converted,
       |  ROUND(CAST(n_converted AS DOUBLE) / n_users, 6) + 0.0 AS conversion_rate
       |FROM tot CROSS JOIN conv""".stripMargin

  // ---------------------------------------------------------------- e38
  /** Weekly retention triangle: for every signup-week cohort, the share
    * of its users active again N weeks later — the full growth triangle
    * (e04 is one cohort's day curve; q40 is its revenue analogue). All
    * integer week arithmetic; cohort assignment is one min-agg joined
    * back on a uniform user_id shuffle; the triangle is
    * \|weeks\|²/2-bounded; cohort sizes join back as a broadcast of the
    * offset-0 diagonal; ONE division per cell. */
  def e38(spark: SparkSession, dir: String): DataFrame = {
    val WeekMs = 7L * 86400000L
    val uw = Tables.events(spark, dir)
      .select(col("user_id"), (col("ms") - pmod(col("ms"), lit(WeekMs))).as("wk"))
      .distinct()
      .cache() // feeds cohort min-agg AND the cell rollup
    val cohort = uw.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
    val cells = uw.join(cohort, "user_id")
      .withColumn("week_offset", ((col("wk") - col("cohort_wk")) / lit(WeekMs)).cast("long"))
      .groupBy("cohort_wk", "week_offset")
      .agg(count(lit(1)).as("n_active"))
    cells.join(broadcast(cells.filter(col("week_offset") === 0L)
        .select(col("cohort_wk"), col("n_active").as("cohort_size"))), "cohort_wk")
      .select(col("cohort_wk"), col("week_offset"), col("n_active"), col("cohort_size"),
        (round(dbl(col("n_active")) / col("cohort_size"), 6) + lit(0.0d)).as("retention"))
      .orderBy("cohort_wk", "week_offset")
  }
  val e38Sql: String =
    """WITH uw AS (SELECT DISTINCT user_id,
      |    epoch_ms(ts) - epoch_ms(ts) % 604800000 AS wk FROM events),
      |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM uw GROUP BY 1),
      |cells AS (
      |  SELECT cohort_wk, (wk - cohort_wk) // 604800000 AS week_offset,
      |    COUNT(*) AS n_active
      |  FROM uw JOIN c USING (user_id) GROUP BY 1, 2),
      |sz AS (SELECT cohort_wk, n_active AS cohort_size FROM cells WHERE week_offset = 0)
      |SELECT cohort_wk, week_offset, n_active, cohort_size,
      |  ROUND(CAST(n_active AS DOUBLE) / cohort_size, 6) + 0.0 AS retention
      |FROM cells JOIN sz USING (cohort_wk)
      |ORDER BY cohort_wk, week_offset""".stripMargin

  // ---------------------------------------------------------------- e39
  /** Revisit-gap histogram: time from one session's END to the next
    * session's START per user, banded — the "how long until they come
    * back" curve (e18 bands raw inter-EVENT gaps; this is the
    * session-level signal a re-engagement campaign is tuned on).
    * Session bounds are one map-combinable min/max over the gap-labeling
    * chain; the lag is a user-partitioned window over per-session rows
    * (bounded state); integer millisecond compares band the gaps. */
  def e39(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ms"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > GapMs, 1L).otherwise(0L))
      .withColumn("sess_idx", sum(col("new_sess")).over(wr))
      .groupBy("user_id", "sess_idx")
      .agg(min(col("ms")).as("start_ms"), max(col("ms")).as("end_ms"))
    val wS = Window.partitionBy("user_id").orderBy("sess_idx")
    val HourMs = 3600000L
    val gaps = sess
      .withColumn("prev_end", lag(col("end_ms"), 1).over(wS))
      .filter(col("prev_end").isNotNull)
      .withColumn("gap_ms", col("start_ms") - col("prev_end"))
    val band = when(col("gap_ms") <= 6 * HourMs, "a<=6h")
      .when(col("gap_ms") <= 24 * HourMs, "b<=24h")
      .when(col("gap_ms") <= 72 * HourMs, "c<=72h")
      .when(col("gap_ms") <= 168 * HourMs, "d<=7d")
      .otherwise("e>7d")
    gaps.groupBy(band.as("gap_band"))
      .agg(count(lit(1)).as("n_gaps"))
      .orderBy("gap_band")
  }
  val e39Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
       |l AS (SELECT *, LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e),
       |f AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > $GapMs THEN 1 ELSE 0 END AS new_sess FROM l),
       |s AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx FROM f),
       |sess AS (
       |  SELECT user_id, sess_idx, MIN(ms) AS start_ms, MAX(ms) AS end_ms
       |  FROM s GROUP BY 1, 2),
       |g AS (
       |  SELECT start_ms - LAG(end_ms) OVER (PARTITION BY user_id ORDER BY sess_idx) AS gap_ms
       |  FROM sess),
       |b AS (
       |  SELECT CASE WHEN gap_ms <= 21600000 THEN 'a<=6h'
       |              WHEN gap_ms <= 86400000 THEN 'b<=24h'
       |              WHEN gap_ms <= 259200000 THEN 'c<=72h'
       |              WHEN gap_ms <= 604800000 THEN 'd<=7d'
       |              ELSE 'e>7d' END AS gap_band
       |  FROM g WHERE gap_ms IS NOT NULL)
       |SELECT gap_band, COUNT(*) AS n_gaps FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e40
  /** Weekly event-type mix: each type's share of its week's volume —
    * the schema-drift series that catches an instrumented release
    * changing WHAT is emitted before any volume alarm fires (e13 sees
    * spikes; this sees composition). One map-combinable (week, type)
    * rollup; shares from a week-partitioned window over the
    * \|weeks\|×\|types\|-bounded frame; ONE division per row. */
  def e40(spark: SparkSession, dir: String): DataFrame = {
    val WeekMs = 7L * 86400000L
    val wt = Tables.events(spark, dir)
      .select((col("ms") - pmod(col("ms"), lit(WeekMs))).as("wk"), col("event_type"))
      .groupBy("wk", "event_type").agg(count(lit(1)).as("n"))
    val wW = Window.partitionBy("wk")
    wt.withColumn("wk_total", sum(col("n")).over(wW))
      .select(col("wk"), col("event_type"), col("n"),
        (round(dbl(col("n")) / dbl(col("wk_total")), 6) + lit(0.0d)).as("share"))
      .orderBy("wk", "event_type")
  }
  val e40Sql: String =
    """WITH wt AS (
      |  SELECT epoch_ms(ts) - epoch_ms(ts) % 604800000 AS wk, event_type,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT wk, event_type, n,
      |  ROUND(CAST(n AS DOUBLE) /
      |        CAST(SUM(n) OVER (PARTITION BY wk) AS DOUBLE), 6) + 0.0 AS share
      |FROM wt ORDER BY wk, event_type""".stripMargin

  // ---------------------------------------------------------------- e41
  /** Purchase-size histogram: TRANSACTION-level value bands (e16 is the
    * user-level decile view; basket-size shape drives pricing and fraud
    * thresholds, and its drift is invisible in user rollups). Exact
    * integer-cent CASE bands, one map-combinable groupBy, DECIMAL-exact
    * per-band value totals; band-bounded output. */
  val e41Sql: String =
    """WITH p AS (
      |  SELECT value, CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase')
      |SELECT CASE WHEN cents < 1000 THEN 'a<10' WHEN cents < 5000 THEN 'b<50'
      |            WHEN cents < 20000 THEN 'c<200' WHEN cents < 50000 THEN 'd<500'
      |            ELSE 'e>=500' END AS value_band,
      |  COUNT(*) AS n_purchases,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e42
  /** Day-of-week × event-type profile: counts plus each type's share of
    * its weekday — the staffing/capacity view by weekday (e21 is the
    * finer (dow, hour) heatmap WITHOUT the type axis). Weekday is pure
    * integer arithmetic on epoch-ms (day 0 = Thursday, +4 ⇒ 0 = Monday;
    * identical in both engines, no timezone/calendar parsing); one
    * map-combinable groupBy; the share window runs over bounded ≤5-row
    * (dow) partitions. */
  def e42(spark: SparkSession, dir: String): DataFrame = {
    val dt = Tables.events(spark, dir)
      .select(((floor(col("ms") / 86400000L) + 4) % 7).cast("long").as("dow"),
        col("event_type"))
      .groupBy("dow", "event_type").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("dow")
    dt.withColumn("dow_total", sum(col("n")).over(w))
      .select(col("dow"), col("event_type"), col("n"),
        (round(dbl(col("n")) / dbl(col("dow_total")), 6) + lit(0.0d)).as("share_of_dow"))
      .orderBy("dow", "event_type")
  }
  val e42Sql: String =
    """WITH dt AS (
      |  SELECT (epoch_ms(ts) // 86400000 + 4) % 7 AS dow, event_type,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT dow, event_type, n,
      |  ROUND(CAST(n AS DOUBLE) /
      |        CAST(SUM(n) OVER (PARTITION BY dow) AS DOUBLE), 6) + 0.0 AS share_of_dow
      |FROM dt ORDER BY dow, event_type""".stripMargin

  // ---------------------------------------------------------------- e43
  /** User-lifespan bands: every user banded by the span from first to
    * last event (inclusive days), with per-band user counts and the
    * mean events per user — the tenure mix behind retention planning.
    * One per-user min/max/count aggregate (map-combinable on uniform
    * user_id), integer CASE bands, ONE division per band row;
    * band-bounded output. */
  def e43(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(spark, dir)
      .select(col("user_id"), (col("ms") / lit(86400000L)).cast("long").as("day"))
      .groupBy("user_id")
      .agg((max(col("day")) - min(col("day")) + 1L).as("span_d"),
           count(lit(1)).as("n_events"))
    val band = when(col("span_d") === 1L, "a_1d").when(col("span_d") <= 7L, "b_2-7d")
      .when(col("span_d") <= 30L, "c_8-30d").when(col("span_d") <= 90L, "d_31-90d")
      .otherwise("e_90d+")
    per.groupBy(band.as("span_band"))
      .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("n_events"))
      .withColumn("events_per_user",
        round(dbl(col("n_events")) / col("n_users"), 6) + lit(0.0d))
      .orderBy("span_band")
  }
  val e43Sql: String =
    """WITH per AS (
      |  SELECT user_id,
      |    MAX(epoch_ms(ts) // 86400000) - MIN(epoch_ms(ts) // 86400000) + 1 AS span_d,
      |    COUNT(*) AS n_events
      |  FROM events GROUP BY 1),
      |b AS (SELECT CASE WHEN span_d = 1 THEN 'a_1d' WHEN span_d <= 7 THEN 'b_2-7d'
      |                  WHEN span_d <= 30 THEN 'c_8-30d' WHEN span_d <= 90 THEN 'd_31-90d'
      |                  ELSE 'e_90d+' END AS span_band, n_events FROM per)
      |SELECT span_band, COUNT(*) AS n_users, SUM(n_events)::BIGINT AS n_events,
      |  ROUND(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 6) + 0.0 AS events_per_user
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e44
  /** Cohort VALUE triangle: purchase revenue per signup-week cohort per
    * weeks-since-signup — the monetization companion to e38's retention
    * shares (who still spends, not just who still shows up). First week
    * is a map-combinable min-agg on user_id; attaching it is a same-key
    * shuffle join (both legs co-keyed on user_id); the triangle groupBy
    * is calendar-bounded. Value stays DECIMAL to the end. */
  def e44(spark: SparkSession, dir: String): DataFrame = {
    val WeekMs = 7L * 86400000L
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), (col("ms") - pmod(col("ms"), lit(WeekMs))).as("wk"),
        col("event_type"), col("value"))
    val first = ev.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
    ev.join(first, "user_id")
      .groupBy(col("cohort_wk"), ((col("wk") - col("cohort_wk")) / WeekMs).cast("long").as("widx"))
      .agg(countDistinct(col("user_id")).as("n_active"),
           sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
           dbl(sum(when(col("event_type") === "purchase", dec(col("value")))
             .otherwise(dec(lit(0))))).as("purchase_value"))
      .orderBy("cohort_wk", "widx")
  }
  val e44Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_ms(ts) - epoch_ms(ts) % 604800000 AS wk,
      |    event_type, value
      |  FROM events),
      |f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY 1)
      |SELECT cohort_wk, (wk - cohort_wk) // 604800000 AS widx,
      |  COUNT(DISTINCT ev.user_id) AS n_active,
      |  SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchases,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2))
      |                ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS purchase_value
      |FROM ev JOIN f USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- e45
  /** Daily conversion pulse: per calendar day, events, distinct active
    * users, purchases, and purchases-per-active-user — the topline ops
    * dashboard series. One groupBy with an exact distinct (uniform
    * user_id within day groups), ONE division per day row;
    * calendar-bounded output. */
  def e45(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy((col("ms") / lit(86400000L)).cast("long").as("day"))
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("user_id")).as("n_active"),
           sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"))
      .withColumn("purchases_per_user",
        round(dbl(col("n_purchases")) / col("n_active"), 6) + lit(0.0d))
      .orderBy("day")
  val e45Sql: String =
    """SELECT epoch_ms(ts) // 86400000 AS day, COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_active,
      |  SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchases,
      |  ROUND(CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)
      |        / COUNT(DISTINCT user_id), 6) + 0.0 AS purchases_per_user
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e46
  /** Peak hour per event type: the hour-of-day carrying each type's
    * maximum volume, with its share of the type's total — deterministic
    * ties (count DESC, hour ASC) via row_number over a ≤24-row per-type
    * partition (never single-partition). */
  def e46(spark: SparkSession, dir: String): DataFrame = {
    val th = Tables.events(spark, dir)
      .select(col("event_type"),
        (floor(col("ms") / 3600000L) % 24).cast("long").as("hr"))
      .groupBy("event_type", "hr").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type")
    th.withColumn("type_total", sum(col("n")).over(w))
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type").orderBy(col("n").desc, col("hr"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("hr").as("peak_hr"), col("n").as("n_at_peak"),
        (round(dbl(col("n")) / dbl(col("type_total")), 6) + lit(0.0d)).as("share_of_type"))
      .orderBy("event_type")
  }
  val e46Sql: String =
    """WITH th AS (
      |  SELECT event_type, (epoch_ms(ts) // 3600000) % 24 AS hr, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type, hr, n,
      |    SUM(n) OVER (PARTITION BY event_type) AS type_total,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n DESC, hr) AS rk
      |  FROM th)
      |SELECT event_type, hr AS peak_hr, n AS n_at_peak,
      |  ROUND(CAST(n AS DOUBLE) / CAST(type_total AS DOUBLE), 6) + 0.0 AS share_of_type
      |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- e47
  /** Type-diversity histogram: users by how many DISTINCT event types
    * they touch (1..|types|), with per-bucket event volume — the
    * breadth-of-engagement cut that e30's active-day depth misses. One
    * per-user exact distinct aggregate, one bounded groupBy, ONE
    * division per bucket row. */
  val e47Sql: String =
    """WITH per AS (
      |  SELECT user_id, COUNT(DISTINCT event_type) AS n_types, COUNT(*) AS n_events
      |  FROM events GROUP BY 1)
      |SELECT n_types, COUNT(*) AS n_users, SUM(n_events)::BIGINT AS n_events,
      |  ROUND(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 6) + 0.0 AS events_per_user
      |FROM per GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e48
  /** Exact Gini coefficient of per-user event volume — the one-number
    * load-inequality figure (0 = uniform, →1 = a few whales generate
    * everything) that sizes skew hardening and per-user rate limits.
    *
    * Gini needs a global rank over users; ranking 10^9 users in one
    * window is the forbidden single-partition sort. Instead users
    * collapse to their count VALUE (groupBy c → n_c users), and the rank
    * block each tie-group occupies is reconstructed arithmetically:
    * ties at value c with m users below occupy ranks m+1..m+n_c, whose
    * rank-weighted mass is c·(2·n_c·m + n_c·(n_c+1)) — summed in
    * DECIMAL(38,0)/HUGEINT so partial aggregation is exact at any scale.
    * The "users below" prefix uses e16's two-level trick (within-band
    * window + broadcast lower-band offsets), so no window ever sees more
    * than one band and no shuffle exceeds the distinct-count-value frame
    * (≤ max events/user rows, data-bounded). Final Gini is ONE IEEE
    * division of exact integers: G = (2W − (n+1)S) / (nS). */
  def e48(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    // cache: sc (the distinct-count frame, ≤ max-events/user rows) feeds
    // the window input AND both band-total sides — uncached, the full
    // events scan + per-user groupBy would run three times
    val sc = Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("c"))
      .groupBy("c").agg(count(lit(1)).as("nc"))
      .withColumn("band", expr("c div 64"))
      .cache()
    val wIn = Window.partitionBy("band").orderBy("c")
      .rowsBetween(Window.unboundedPreceding, -1)
    val inBelow = sc.withColumn("ibelow", coalesce(sum(col("nc")).over(wIn), lit(0L)))
    val bt = sc.groupBy("band").agg(sum(col("nc")).as("bc"))
    val off = bt.as("a")
      .join(broadcast(bt.select(col("band").as("lb"), col("bc").as("lc"))),
        col("lb") < col("band"), "left")
      .groupBy("band").agg(coalesce(sum(col("lc")), lit(0L)).as("off"))
    val cD = col("c").cast(d38); val ncD = col("nc").cast(d38)
    val mD = (col("ibelow") + col("off")).cast(d38)
    inBelow.join(broadcast(off), "band")
      .agg(sum(col("nc")).as("n"),
           sum(cD * ncD).as("s"),
           sum(cD * (lit(2).cast(d38) * ncD * mD + ncD * (ncD + lit(1).cast(d38)))).as("w2"))
      .select(col("n").as("n_users"), col("s").cast("long").as("total_events"),
        round(dbl(col("w2") - (col("n").cast(d38) + lit(1).cast(d38)) * col("s"))
          / dbl(col("n").cast(d38) * col("s")), 6).as("gini"))
  }
  val e48Sql: String =
    """WITH uc AS (SELECT user_id, COUNT(*)::BIGINT AS c FROM events GROUP BY 1),
      |sc AS (SELECT c, COUNT(*)::BIGINT AS nc FROM uc GROUP BY 1),
      |cum AS (SELECT c, nc, COALESCE(SUM(nc) OVER (
      |    ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS m
      |  FROM sc),
      |agg AS (SELECT SUM(nc)::BIGINT AS n,
      |    SUM(CAST(c AS HUGEINT) * nc) AS s,
      |    SUM(CAST(c AS HUGEINT) * (2 * CAST(nc AS HUGEINT) * m
      |        + CAST(nc AS HUGEINT) * (nc + 1))) AS w2
      |  FROM cum)
      |SELECT n AS n_users, CAST(s AS BIGINT) AS total_events,
      |  ROUND(CAST(w2 - (CAST(n AS HUGEINT) + 1) * s AS DOUBLE)
      |        / CAST(CAST(n AS HUGEINT) * s AS DOUBLE), 6) AS gini
      |FROM agg""".stripMargin

  // ---------------------------------------------------------------- e49
  /** DAU volatility: how noisy is the daily-active-users series — count,
    * mean, min/max, and the coefficient of variation of per-day DAU.
    * The capacity-planning stat behind "is traffic steady or spiky".
    *
    * Events collapse to distinct (user, day) map-side (e14's dedup
    * shrink), days aggregate to a ≤|days| frame, and the CV comes from
    * DECIMAL(38,0)-exact n/Σd/Σd² moments (e13's recipe — long n·Σd²
    * would overflow at 10^8-DAU scale) with ONE IEEE sqrt+division:
    * CV = √(nΣd²−S²)/S (population σ over μ, n-free form). */
  def e49(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val dau = Tables.events(spark, dir)
      .select(col("user_id"), expr("ms div 86400000").as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("dau"))
    val nD = count(lit(1)).cast(d38)
    val sD = sum(col("dau")).cast(d38)
    val qD = sum(col("dau") * col("dau")).cast(d38)
    dau.agg(count(lit(1)).as("n_days"), sum(col("dau")).as("active_user_days"),
        min(col("dau")).as("min_dau"), max(col("dau")).as("max_dau"),
        (dbl(sum(col("dau"))) / count(lit(1))).as("avg_dau"),
        round(sqrt(dbl(nD * qD - sD * sD)) / dbl(sum(col("dau"))), 6).as("cv_dau"))
      .select("n_days", "active_user_days", "min_dau", "max_dau", "avg_dau", "cv_dau")
  }
  val e49Sql: String =
    """WITH d AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
      |dau AS (SELECT day, COUNT(*)::BIGINT AS dau FROM d GROUP BY 1)
      |SELECT COUNT(*)::BIGINT AS n_days, SUM(dau)::BIGINT AS active_user_days,
      |  CAST(MIN(dau) AS BIGINT) AS min_dau, CAST(MAX(dau) AS BIGINT) AS max_dau,
      |  CAST(SUM(dau) AS DOUBLE) / COUNT(*) AS avg_dau,
      |  ROUND(sqrt(CAST(COUNT(*) * SUM(CAST(dau AS HUGEINT) * dau)
      |                  - CAST(SUM(dau) AS HUGEINT) * SUM(dau) AS DOUBLE))
      |        / CAST(SUM(dau) AS DOUBLE), 6) AS cv_dau
      |FROM dau""".stripMargin

  // ---------------------------------------------------------------- e50
  /** Activation lag: days from a user's FIRST signup to their FIRST
    * purchase, banded — the onboarding-funnel latency table (e19 measures
    * view→purchase lag; this is the account-level activation clock).
    * Pre-signup purchases land in their own band instead of poisoning a
    * negative integer division (Spark `div` truncates toward zero,
    * DuckDB `//` floors — negative operands would silently disagree).
    *
    * One map-combinable per-user min-pair, a bounded band CASE, and the
    * share denominator as a 1-row broadcast. */
  def e50(spark: SparkSession, dir: String): DataFrame = {
    val u = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "signup", col("ms"))).as("smin"),
           min(when(col("event_type") === "purchase", col("ms"))).as("pmin"))
      .filter(col("smin").isNotNull && col("pmin").isNotNull)
    val lagD = expr("(pmin - smin) div 86400000")
    val band = when(col("pmin") < col("smin"), "f_presignup")
      .when(lagD === 0, "a_0d").when(lagD <= 3, "b_1_3d")
      .when(lagD <= 7, "c_4_7d").when(lagD <= 30, "d_8_30d")
      .otherwise("e_gt30d")
    val total = u.agg(count(lit(1)).as("n_total"))
    u.withColumn("lag_band", band)
      .groupBy("lag_band").agg(count(lit(1)).as("n_users"))
      .join(broadcast(total))
      .withColumn("share", round(dbl(col("n_users")) / col("n_total"), 6) + lit(0.0d))
      .select("lag_band", "n_users", "share")
      .orderBy("lag_band")
  }
  val e50Sql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'signup' THEN epoch_ms(ts) END) AS smin,
      |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS pmin
      |  FROM events GROUP BY 1),
      |b AS (SELECT CASE WHEN pmin < smin THEN 'f_presignup'
      |      WHEN (pmin - smin) // 86400000 = 0 THEN 'a_0d'
      |      WHEN (pmin - smin) // 86400000 <= 3 THEN 'b_1_3d'
      |      WHEN (pmin - smin) // 86400000 <= 7 THEN 'c_4_7d'
      |      WHEN (pmin - smin) // 86400000 <= 30 THEN 'd_8_30d'
      |      ELSE 'e_gt30d' END AS lag_band
      |  FROM u WHERE smin IS NOT NULL AND pmin IS NOT NULL),
      |t AS (SELECT COUNT(*)::BIGINT AS n_total FROM b)
      |SELECT lag_band, COUNT(*) AS n_users,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(n_total AS DOUBLE), 6) + 0.0 AS share
      |FROM b CROSS JOIN t GROUP BY 1, n_total ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e51
  /** Daily error-rate series: events vs errors per calendar day with the
    * error share — the basic service-health trendline over the event
    * stream. One scan, integer epoch-day keys, one map-combinable
    * groupBy onto a ≤\|days\| frame, ONE division per row. */
  def e51(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(expr("ms div 86400000").as("day"),
        (col("event_type") === "error").cast("long").as("is_err"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_events"), sum(col("is_err")).as("n_errors"))
      .withColumn("err_share",
        round(dbl(col("n_errors")) / col("n_events"), 6) + lit(0.0d))
      .orderBy("day")
  val e51Sql: String =
    """SELECT epoch_ms(ts) // 86400000 AS day, COUNT(*) AS n_events,
      |  SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_errors,
      |  ROUND(CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE)
      |        / COUNT(*), 6) + 0.0 AS err_share
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e52
  /** Hourly-load percentiles per event type: p50/p95/p99 of events-per-
    * hour — the capacity-planning quantiles behind provisioning (e13
    * flags anomalous hours, e32 gives peak/mean; this is the
    * distribution the SLO lives on).
    *
    * Quantiles run over the per-(type, hour) COUNT frame (≤\|types\|×
    * \|hours\| rows — q57's bounded-frame machinery), never a window
    * over raw events; PERCENTILE_CONT interpolation arithmetic is
    * identical in both engines. */
  def e52(spark: SparkSession, dir: String): DataFrame = {
    val th = Tables.events(spark, dir)
      .select(col("event_type"), (col("ms") - col("ms") % 3600000L).as("hour_ms"))
      .groupBy("event_type", "hour_ms").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy(col("cnt"), col("hour_ms"))
    val wc = Window.partitionBy("event_type")
    val ranked = th.select(col("event_type"), col("cnt"),
      (row_number().over(w).cast("long") - 1).as("idx"),
      count(lit(1)).over(wc).as("n"))
    def pos(q: Double): Column = (col("n") - 1).cast("double") * lit(q)
    def lo(q: Double, nm: String): Column =
      max(when(col("idx") === floor(pos(q)), col("cnt"))).as(s"${nm}_lo")
    def hi(q: Double, nm: String): Column =
      max(when(col("idx") === ceil(pos(q)), col("cnt"))).as(s"${nm}_hi")
    def interp(nm: String, q: Double): Column = {
      val p = (col("nn") - 1).cast("double") * lit(q)
      col(s"${nm}_lo").cast("double") +
        (col(s"${nm}_hi").cast("double") - col(s"${nm}_lo").cast("double")) * (p - floor(p))
    }
    ranked.groupBy("event_type")
      .agg(max(col("n")).as("nn"),
           lo(0.5, "q50"), hi(0.5, "q50"), lo(0.95, "q95"), hi(0.95, "q95"),
           lo(0.99, "q99"), hi(0.99, "q99"))
      .select(col("event_type"), col("nn").as("n_hours"),
        interp("q50", 0.5).as("p50"), interp("q95", 0.95).as("p95"),
        interp("q99", 0.99).as("p99"))
      .orderBy("event_type")
  }
  val e52Sql: String =
    """WITH th AS (
      |  SELECT event_type, epoch_ms(ts) - epoch_ms(ts) % 3600000 AS hour_ms,
      |    COUNT(*)::BIGINT AS cnt
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, cnt,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cnt, hour_ms) AS BIGINT) - 1 AS idx,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM th),
      |a AS (
      |  SELECT event_type, MAX(n) AS nn,
      |    MAX(CASE WHEN idx = FLOOR(CAST(n - 1 AS DOUBLE) * 0.5) THEN cnt END) AS q50_lo,
      |    MAX(CASE WHEN idx = CEIL(CAST(n - 1 AS DOUBLE) * 0.5) THEN cnt END) AS q50_hi,
      |    MAX(CASE WHEN idx = FLOOR(CAST(n - 1 AS DOUBLE) * 0.95) THEN cnt END) AS q95_lo,
      |    MAX(CASE WHEN idx = CEIL(CAST(n - 1 AS DOUBLE) * 0.95) THEN cnt END) AS q95_hi,
      |    MAX(CASE WHEN idx = FLOOR(CAST(n - 1 AS DOUBLE) * 0.99) THEN cnt END) AS q99_lo,
      |    MAX(CASE WHEN idx = CEIL(CAST(n - 1 AS DOUBLE) * 0.99) THEN cnt END) AS q99_hi
      |  FROM r GROUP BY 1)
      |SELECT event_type, CAST(nn AS BIGINT) AS n_hours,
      |  CAST(q50_lo AS DOUBLE) + (CAST(q50_hi AS DOUBLE) - CAST(q50_lo AS DOUBLE))
      |    * (CAST(nn - 1 AS DOUBLE) * 0.5 - FLOOR(CAST(nn - 1 AS DOUBLE) * 0.5)) AS p50,
      |  CAST(q95_lo AS DOUBLE) + (CAST(q95_hi AS DOUBLE) - CAST(q95_lo AS DOUBLE))
      |    * (CAST(nn - 1 AS DOUBLE) * 0.95 - FLOOR(CAST(nn - 1 AS DOUBLE) * 0.95)) AS p95,
      |  CAST(q99_lo AS DOUBLE) + (CAST(q99_hi AS DOUBLE) - CAST(q99_lo AS DOUBLE))
      |    * (CAST(nn - 1 AS DOUBLE) * 0.99 - FLOOR(CAST(nn - 1 AS DOUBLE) * 0.99)) AS p99
      |FROM a ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- e53
  /** Entry-point profile: each user's FIRST-ever event type and its share
    * of the user base. The argmin is a map-combinable
    * min(struct(ms, event_id, type)) — deterministic under ties because
    * event_id is unique — so the fact collapses per-user without any
    * window; the share denominator is a 1-row broadcast. */
  def e53(spark: SparkSession, dir: String): DataFrame = {
    val first = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(min(struct(col("ms"), col("event_id"), col("event_type"))).as("f"))
      .select(col("f.event_type").as("event_type"))
    val tot = first.agg(count(lit(1)).as("total"))
    first.groupBy("event_type").agg(count(lit(1)).as("n_users"))
      .join(broadcast(tot))
      .select(col("event_type"), col("n_users"),
        round(dbl(col("n_users")) / col("total"), 6).as("share"))
      .orderBy("event_type")
  }
  val e53Sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type FROM events),
      |f AS (SELECT user_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ms, event_id) AS rn
      |  FROM e),
      |fe AS (SELECT event_type FROM f WHERE rn = 1),
      |t AS (SELECT COUNT(*)::BIGINT AS total FROM fe)
      |SELECT event_type, COUNT(*)::BIGINT AS n_users,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) / total, 6) AS share
      |FROM fe CROSS JOIN t GROUP BY event_type, total
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- e54
  /** Weekly-rhythm heatmap: traffic per (day-of-week × hour-of-day) cell
    * — events, distinct users, total value. Pure integer calendar
    * arithmetic on epoch-ms (e42's dow formula; 0=Sunday), one
    * map-combinable groupBy, output bounded at 7×24 rows at any scale. */
  def e54(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(((floor(col("ms") / 86400000L) + 4) % 7).cast("long").as("dow"),
        expr("(ms % 86400000) div 3600000").as("hod"),
        col("user_id"), col("value"))
      .groupBy("dow", "hod")
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("user_id")).as("n_users"),
           dsum(col("value")).as("total_value"))
      .orderBy("dow", "hod")
  val e54Sql: String =
    """SELECT (epoch_ms(ts) // 86400000 + 4) % 7 AS dow,
      |  (epoch_ms(ts) % 86400000) // 3600000 AS hod,
      |  COUNT(*)::BIGINT AS n_events,
      |  COUNT(DISTINCT user_id)::BIGINT AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- e55
  /** Session-duration histogram: 5-minute duration bands (capped at 12 =
    * "over an hour") with session counts and mean events per session.
    * Sessions come from the whale-hardened split-and-stitch sessionizer
    * (e09's machinery — no window partition ever exceeds one time-block
    * of one user), then collapse to a ≤13-row frame map-side. */
  def e55(spark: SparkSession, dir: String): DataFrame =
    sessionizeSplit(Tables.events(spark, dir))
      .groupBy(least(expr("dur_ms div 300000"), lit(12L)).as("dur_band"))
      .agg(count(lit(1)).as("n_sessions"),
           round(dbl(sum(col("n_events"))) / count(lit(1)), 6).as("avg_events"),
           max(col("dur_ms")).as("max_dur_ms"))
      .orderBy("dur_band")
  val e55Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
       |l AS (SELECT *, LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e),
       |f AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > $GapMs THEN 1 ELSE 0 END AS new_sess FROM l),
       |s AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx FROM f),
       |sess AS (SELECT user_id, sess_idx, COUNT(*) AS n_events,
       |    MAX(ms) - MIN(ms) AS dur_ms
       |  FROM s GROUP BY user_id, sess_idx)
       |SELECT LEAST(dur_ms // 300000, 12) AS dur_band,
       |  COUNT(*)::BIGINT AS n_sessions,
       |  ROUND(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 6) AS avg_events,
       |  MAX(dur_ms) AS max_dur_ms
       |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e56
  /** Daily-volume trend per event type: exact OLS slope of events/day
    * over epoch-day index. Moments (n, Σx, Σy, Σxy, Σx²) accumulate in
    * DECIMAL(38,0) over the ≤|types|×|days| daily frame — exact and
    * order-independent under map-side combine — then ONE IEEE division
    * forms the slope, round6. The trend-screen behind "is this event
    * type growing or dying". */
  def e56(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), expr("ms div 86400000").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val xD = col("day").cast(d38); val yD = col("cnt").cast(d38)
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("cnt")).as("total_events"),
           sum(xD).as("sx"), sum(yD).as("sy"),
           sum(xD * yD).as("sxy"), sum(xD * xD).as("sx2"))
      .select(col("event_type"), col("n_days"), col("total_events"),
        round(dbl(col("n_days").cast(d38) * col("sxy") - col("sx") * col("sy")) /
          dbl(col("n_days").cast(d38) * col("sx2") - col("sx") * col("sx")), 6)
          .as("slope_per_day"))
      .orderBy("event_type")
  }
  val e56Sql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day, COUNT(*)::BIGINT AS cnt
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n_days, SUM(cnt)::BIGINT AS total_events,
      |    SUM(CAST(day AS HUGEINT)) AS sx, SUM(CAST(cnt AS HUGEINT)) AS sy,
      |    SUM(CAST(day AS HUGEINT) * cnt) AS sxy, SUM(CAST(day AS HUGEINT) * day) AS sx2
      |  FROM daily GROUP BY 1)
      |SELECT event_type, n_days, total_events,
      |  ROUND(CAST(n_days * sxy - sx * sy AS DOUBLE)
      |        / CAST(n_days * sx2 - sx * sx AS DOUBLE), 6) AS slope_per_day
      |FROM m ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- e57
  /** Power-user concentration: the top decile of users by event count —
    * its size, entry threshold, and share of all events. The decile
    * boundary is found WITHOUT ranking users: e48's banded prefix-sum
    * machinery runs top-down over the distinct-count frame (users with
    * count ≥ c), the cut is the minimal c whose suffix population fits
    * ceil(n/10) (integer cross-multiplied compare), and the shares are
    * DECIMAL(38,0)-exact sums with ONE IEEE division. When the top
    * tie-block alone exceeds a decile (near-uniform traffic) the cut is
    * NULL and the top-share reports 0 — deterministic in both engines. */
  def e57(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val sc = Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("c"))
      .groupBy("c").agg(count(lit(1)).as("nc"))
      .withColumn("band", expr("c div 64"))
      .cache()
    val wIn = Window.partitionBy("band").orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inAbove = sc.withColumn("iabove", sum(col("nc")).over(wIn))
    val bt = sc.groupBy("band").agg(sum(col("nc")).as("bc"))
    val off = bt.as("a")
      .join(broadcast(bt.select(col("band").as("hb"), col("bc").as("hc"))),
        col("hb") > col("band"), "left")
      .groupBy("band").agg(coalesce(sum(col("hc")), lit(0L)).as("off"))
    val above = inAbove.join(broadcast(off), "band")
      .withColumn("above", col("iabove") + col("off"))
    val n = sc.agg(sum(col("nc")).as("n"))
    val cut = above.join(broadcast(n))
      .agg(min(when(col("above") * 10 <= col("n") + 9, col("c"))).as("cstar"))
    val cD = col("c").cast(d38); val ncD = col("nc").cast(d38)
    sc.join(broadcast(cut))
      .agg(sum(col("nc")).as("n_users"),
           sum(when(col("c") >= col("cstar"), col("nc")).otherwise(lit(0L))).as("top_users"),
           max(col("cstar")).as("threshold_events"),
           sum(cD * ncD).as("te"),
           sum(when(col("c") >= col("cstar"), cD * ncD).otherwise(lit(0).cast(d38))).as("tte"))
      .select(col("n_users"), col("top_users"), col("threshold_events"),
        col("te").cast("long").as("total_events"),
        col("tte").cast("long").as("top_events"),
        round(dbl(col("tte")) / dbl(col("te")), 6).as("top_share"))
  }
  val e57Sql: String =
    """WITH uc AS (SELECT user_id, COUNT(*)::BIGINT AS c FROM events GROUP BY 1),
      |sc AS (SELECT c, COUNT(*)::BIGINT AS nc FROM uc GROUP BY 1),
      |cum AS (SELECT c, nc, SUM(nc) OVER (ORDER BY c DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS above FROM sc),
      |n AS (SELECT SUM(nc)::BIGINT AS n FROM sc),
      |cut AS (SELECT MIN(CASE WHEN above * 10 <= n + 9 THEN c END) AS cstar
      |  FROM cum CROSS JOIN n)
      |SELECT SUM(nc)::BIGINT AS n_users,
      |  SUM(CASE WHEN c >= cstar THEN nc ELSE 0 END)::BIGINT AS top_users,
      |  MAX(cstar) AS threshold_events,
      |  CAST(SUM(CAST(c AS HUGEINT) * nc) AS BIGINT) AS total_events,
      |  CAST(SUM(CASE WHEN c >= cstar THEN CAST(c AS HUGEINT) * nc ELSE 0 END) AS BIGINT) AS top_events,
      |  ROUND(CAST(SUM(CASE WHEN c >= cstar THEN CAST(c AS HUGEINT) * nc ELSE 0 END) AS DOUBLE)
      |        / CAST(SUM(CAST(c AS HUGEINT) * nc) AS DOUBLE), 6) AS top_share
      |FROM sc CROSS JOIN cut""".stripMargin

  // ---------------------------------------------------------------- e58
  /** Per-user ML feature export: the wide feature vector a churn/LTV
    * model trains on — event counts per type (fixed-column pivot),
    * exact-decimal spend, active days, lifespan, and events-per-active-
    * day. ONE map-combinable groupBy over the fact (every feature is an
    * exact sum/min/max/conditional count — order-independent), one row
    * per user; at 100 TB this is the classic feature-store
    * materialization pass. */
  def e58(spark: SparkSession, dir: String): DataFrame = {
    def n(t: String) = count(when(col("event_type") === t, lit(1))).as(s"n_$t")
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
           n("click"), n("view"), n("purchase"), n("signup"), n("error"),
           dsum(col("value")).as("total_value"),
           countDistinct(expr("ms div 86400000")).as("n_active_days"),
           min(col("ms")).as("first_ms"), max(col("ms")).as("last_ms"))
      .withColumn("lifespan_days",
        expr("(last_ms div 86400000) - (first_ms div 86400000) + 1"))
      .withColumn("events_per_active_day",
        round(dbl(col("n_events")) / col("n_active_days"), 6))
      .orderBy("user_id")
  }
  val e58Sql: String =
    """SELECT user_id, COUNT(*)::BIGINT AS n_events,
      |  COUNT(CASE WHEN event_type = 'click' THEN 1 END)::BIGINT AS n_click,
      |  COUNT(CASE WHEN event_type = 'view' THEN 1 END)::BIGINT AS n_view,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)::BIGINT AS n_purchase,
      |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END)::BIGINT AS n_signup,
      |  COUNT(CASE WHEN event_type = 'error' THEN 1 END)::BIGINT AS n_error,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
      |  COUNT(DISTINCT epoch_ms(ts) // 86400000)::BIGINT AS n_active_days,
      |  MIN(epoch_ms(ts)) AS first_ms, MAX(epoch_ms(ts)) AS last_ms,
      |  (MAX(epoch_ms(ts)) // 86400000) - (MIN(epoch_ms(ts)) // 86400000) + 1 AS lifespan_days,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT epoch_ms(ts) // 86400000), 6)
      |    AS events_per_active_day
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e59
  /** Session entry→exit matrix: which event type opens a session vs
    * which closes it (|types|²-bounded). Sessions come from e01's gap
    * split; the boundary events are map-combinable min/max(struct(ms,
    * event_id, type)) argmin/argmax — deterministic under ties because
    * event_id is unique — so no per-session sort or second window ever
    * runs. The UX view e12's event-to-event transition matrix can't
    * give (it has no session boundary notion). */
  def e59(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ms"), col("event_type"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > GapMs, 1L).otherwise(0L))
      .withColumn("sess_idx", sum(col("new_sess")).over(wr))
      .groupBy("user_id", "sess_idx")
      .agg(min(struct(col("ms"), col("event_id"), col("event_type"))).as("f"),
           max(struct(col("ms"), col("event_id"), col("event_type"))).as("l"))
      .groupBy(col("f.event_type").as("entry_type"), col("l.event_type").as("exit_type"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy("entry_type", "exit_type")
  }
  val e59Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type FROM events),
       |l AS (SELECT *, LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e),
       |f AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > $GapMs THEN 1 ELSE 0 END AS new_sess FROM l),
       |s AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx FROM f),
       |r AS (SELECT user_id, sess_idx, event_type,
       |    ROW_NUMBER() OVER (PARTITION BY user_id, sess_idx ORDER BY ms, event_id) AS rf,
       |    ROW_NUMBER() OVER (PARTITION BY user_id, sess_idx ORDER BY ms DESC, event_id DESC) AS rl
       |  FROM s)
       |SELECT fe.event_type AS entry_type, le.event_type AS exit_type,
       |  COUNT(*)::BIGINT AS n_sessions
       |FROM (SELECT user_id, sess_idx, event_type FROM r WHERE rf = 1) fe
       |JOIN (SELECT user_id, sess_idx, event_type FROM r WHERE rl = 1) le
       |  USING (user_id, sess_idx)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- e60
  /** Segment 360 view: the KSE enrichment join in batch form — event
    * activity joined to the customer dimension and the order book, rolled
    * up per market segment. Both facts pre-aggregate per key BEFORE the
    * joins (map-combinable; the join inputs are |users| and |customers|
    * rows, never raw events), all money stays decimal-exact, output is
    * |segments|-bounded. */
  val e60Sql: String =
    """WITH ev AS (
      |  SELECT user_id, COUNT(*)::BIGINT AS n_events,
      |    SUM(CAST(value AS DECIMAL(12,2))) AS ev_value
      |  FROM events GROUP BY 1),
      |ord AS (
      |  SELECT o_custkey, COUNT(*)::BIGINT AS n_ord,
      |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS o_rev
      |  FROM orders GROUP BY 1)
      |SELECT c_mktsegment, COUNT(*)::BIGINT AS n_customers,
      |  COUNT(user_id)::BIGINT AS n_event_active,
      |  SUM(COALESCE(n_events, 0))::BIGINT AS n_events,
      |  CAST(SUM(COALESCE(ev_value, CAST(0 AS DECIMAL(12,2)))) AS DOUBLE) AS event_value,
      |  SUM(COALESCE(n_ord, 0))::BIGINT AS n_orders,
      |  CAST(SUM(COALESCE(o_rev, CAST(0 AS DECIMAL(12,2)))) AS DOUBLE) AS order_revenue
      |FROM customer
      |LEFT JOIN ev ON c_custkey = user_id
      |LEFT JOIN ord ON c_custkey = o_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e61
  /** Stream/warehouse reconciliation: monthly purchase-event value from
    * the event stream against booked order revenue from the warehouse,
    * full-outer-joined on month so either side's gaps surface as rows
    * with zero on the other side. Both sides pre-aggregate to ≤|months|
    * frames map-side; the delta is an exact decimal difference. The ops
    * check every Kafka→warehouse pipeline runs nightly. */
  def e61(spark: SparkSession, dir: String): DataFrame = {
    import graft.engine.Qf.dec
    val ev = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(date_format(col("ets"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_purchases"), sum(dec(col("value"))).as("pv"))
    val or_ = Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"), sum(dec(col("o_totalprice"))).as("ov"))
    ev.join(or_, Seq("month"), "full_outer")
      .select(col("month"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        dbl(coalesce(col("pv"), dec(lit(0)))).as("purchase_value"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        dbl(coalesce(col("ov"), dec(lit(0)))).as("order_value"),
        dbl(coalesce(col("pv"), dec(lit(0))) - coalesce(col("ov"), dec(lit(0)))).as("delta"))
      .orderBy("month")
  }
  val e61Sql: String =
    """WITH ev AS (
      |  SELECT strftime(ts, '%Y-%m') AS month, COUNT(*)::BIGINT AS n_purchases,
      |    SUM(CAST(value AS DECIMAL(12,2))) AS pv
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |o AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*)::BIGINT AS n_orders,
      |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS ov
      |  FROM orders GROUP BY 1)
      |SELECT COALESCE(ev.month, o.month) AS month,
      |  COALESCE(n_purchases, 0) AS n_purchases,
      |  CAST(COALESCE(pv, CAST(0 AS DECIMAL(12,2))) AS DOUBLE) AS purchase_value,
      |  COALESCE(n_orders, 0) AS n_orders,
      |  CAST(COALESCE(ov, CAST(0 AS DECIMAL(12,2))) AS DOUBLE) AS order_value,
      |  CAST(COALESCE(pv, CAST(0 AS DECIMAL(12,2)))
      |     - COALESCE(ov, CAST(0 AS DECIMAL(12,2))) AS DOUBLE) AS delta
      |FROM ev FULL OUTER JOIN o ON ev.month = o.month
      |ORDER BY month""".stripMargin

  // ---------------------------------------------------------------- e62
  /** Ingestion-completeness audit: is the event_id sequence dense, or
    * did the pipeline drop rows? Global min/max/count plus duplicate-id
    * count — all map-combinable exact aggregates, 1 row out. The
    * at-least-once / exactly-once health check a Kafka consumer group is
    * graded by. */
  val e62Sql: String =
    """WITH ids AS (SELECT event_id FROM events),
      |d AS (SELECT COUNT(CASE WHEN c >= 2 THEN 1 END)::BIGINT AS n_dup_ids
      |  FROM (SELECT event_id, COUNT(*) AS c FROM ids GROUP BY 1)),
      |a AS (SELECT COUNT(*)::BIGINT AS n_events, MIN(event_id) AS min_id,
      |    MAX(event_id) AS max_id FROM ids)
      |SELECT /*+ BROADCAST(d) */ n_events, min_id, max_id, n_dup_ids,
      |  max_id - min_id + 1 - n_events AS n_missing,
      |  ROUND(CAST(max_id - min_id + 1 - n_events AS DOUBLE)
      |        / (max_id - min_id + 1), 6) AS missing_rate
      |FROM a CROSS JOIN d""".stripMargin

  // ---------------------------------------------------------------- e63
  /** LTV driver screen: Pearson correlation of user lifespan (active-day
    * span) vs total spend — does retention actually buy revenue? Users
    * collapse map-side to (lifespan_days, value_cents) exact integers,
    * then q38's DECIMAL(38,0) distributed-moment recipe: one groupBy,
    * one 1-row result, ONE IEEE division chain, round6. */
  def e63(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val u = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg((expr("max(ms) div 86400000") - expr("min(ms) div 86400000") + 1)
             .as("lifespan"),
           sum((dec(col("value")) * 100).cast(d38)).as("cents"))
    val x = col("lifespan").cast(d38); val y = col("cents")
    u.agg(count(lit(1)).as("n"),
         dbl(sum(x)).as("sx"), dbl(sum(y)).as("sy"),
         dbl(sum(x * y)).as("sxy"),
         dbl(sum(x * x)).as("sx2"), dbl(sum(y * y)).as("sy2"))
      .select(col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sx2") - col("sx") * col("sx")) *
           sqrt(col("n") * col("sy2") - col("sy") * col("sy"))), 6)
          .as("corr_lifespan_value"))
  }
  val e63Sql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    MAX(epoch_ms(ts)) // 86400000 - MIN(epoch_ms(ts)) // 86400000 + 1 AS lifespan,
      |    SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS HUGEINT)) AS cents
      |  FROM events GROUP BY 1),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(CAST(lifespan AS HUGEINT)) AS DOUBLE) AS sx,
      |    CAST(SUM(cents) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(lifespan AS HUGEINT) * cents) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(lifespan AS HUGEINT) * lifespan) AS DOUBLE) AS sx2,
      |    CAST(SUM(cents * cents) AS DOUBLE) AS sy2
      |  FROM u)
      |SELECT n,
      |  ROUND((n * sxy - sx * sy) / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)), 6)
      |    AS corr_lifespan_value
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- e64
  /** Acquisition-quality table: for each entry event type (a user's
    * first-ever event — e53's argmin), how many of those users EVER
    * purchase, and the conversion rate. One map-combinable per-user
    * collapse carrying both the entry struct and the purchase flag —
    * no second scan, no join; output |types|-bounded. The
    * "which front door brings buyers" attribution read. */
  def e64(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(min(struct(col("ms"), col("event_id"), col("event_type"))).as("f"),
           max(when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L)))
             .as("converted"))
      .groupBy(col("f.event_type").as("entry_type"))
      .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_converted"))
      .select(col("entry_type"), col("n_users"), col("n_converted"),
        round(dbl(col("n_converted")) / col("n_users"), 6).as("conversion_rate"))
      .orderBy("entry_type")
  val e64Sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type FROM events),
      |f AS (SELECT user_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ms, event_id) AS rn
      |  FROM e),
      |conv AS (SELECT user_id,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS converted
      |  FROM e GROUP BY 1),
      |fe AS (SELECT user_id, event_type AS entry_type FROM f WHERE rn = 1)
      |SELECT entry_type, COUNT(*)::BIGINT AS n_users,
      |  SUM(converted)::BIGINT AS n_converted,
      |  ROUND(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 6) AS conversion_rate
      |FROM fe JOIN conv USING (user_id) GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e65
  /** Engagement→conversion curve: purchase rate per session-depth band
    * (sessions of 1, 2, … 10+ events). e01's gap split, a per-session
    * map-combinable (count, purchase-flag) collapse, then a ≤10-row
    * rollup — the curve that justifies (or kills) engagement-driven
    * ranking. */
  def e65(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ms"), col("event_type"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > GapMs, 1L).otherwise(0L))
      .withColumn("sess_idx", sum(col("new_sess")).over(wr))
      .groupBy("user_id", "sess_idx")
      .agg(count(lit(1)).as("n_events"),
           max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("has_purchase"))
      .groupBy(least(col("n_events"), lit(10L)).as("depth_band"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("has_purchase")).as("n_converted"))
      .select(col("depth_band"), col("n_sessions"), col("n_converted"),
        round(dbl(col("n_converted")) / col("n_sessions"), 6).as("conversion_rate"))
      .orderBy("depth_band")
  }
  val e65Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type FROM events),
       |l AS (SELECT *, LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e),
       |f AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > $GapMs THEN 1 ELSE 0 END AS new_sess FROM l),
       |s AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx FROM f),
       |sess AS (SELECT user_id, sess_idx, COUNT(*)::BIGINT AS n_events,
       |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS has_purchase
       |  FROM s GROUP BY 1, 2)
       |SELECT LEAST(n_events, 10) AS depth_band,
       |  COUNT(*)::BIGINT AS n_sessions, SUM(has_purchase)::BIGINT AS n_converted,
       |  ROUND(CAST(SUM(has_purchase) AS DOUBLE) / COUNT(*), 6) AS conversion_rate
       |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e66
  /** Session revenue histogram: purchase revenue per 30-min session,
    * banded on exact integer cents (zero-revenue sessions are their own
    * band) — the monetization profile e55's duration histogram and e65's
    * depth curve don't show. Same bounded per-user session windows as
    * e01; cents accumulate as integers so the band edge can't drift. */
  /** Per-session revenue frame (user_id, sess_idx, start_ms, n_events,
    * cents) — e66 bands it; LambdaParitySpec replays the same events
    * through the STREAMING revenue sessionizer and must reproduce this
    * frame exactly. */
  private[graft] def sessionRevenueFrame(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), col("ms"),
        when(col("event_type") === "purchase",
          (dec(col("value")) * 100).cast("long")).as("cents"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > GapMs, 1L).otherwise(0L))
      .withColumn("sess_idx", sum(col("new_sess")).over(wr))
      .groupBy("user_id", "sess_idx")
      .agg(min(col("ms")).as("start_ms"),
           count(lit(1)).as("n_events"),
           coalesce(sum(col("cents")), lit(0L)).as("cents"))
  }

  def e66(spark: SparkSession, dir: String): DataFrame = {
    val sess = sessionRevenueFrame(Tables.events(spark, dir))
    val band = when(col("cents") === 0, "a0").when(col("cents") <= 5000, "b<=50")
      .when(col("cents") <= 15000, "c<=150").when(col("cents") <= 30000, "d<=300")
      .otherwise("e>300")
    sess.groupBy(band.as("revenue_band"))
      .agg(count(lit(1)).as("n_sessions"),
           (sum(col("n_events")).cast("double") / count(lit(1))).as("avg_events"),
           (sum(col("cents")).cast("double") / 100).as("total_revenue"))
      .orderBy("revenue_band")
  }
  val e66Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
       |    CASE WHEN event_type = 'purchase'
       |         THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) END AS cents
       |  FROM events),
       |l AS (SELECT *, LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e),
       |f AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > $GapMs THEN 1 ELSE 0 END AS new_sess FROM l),
       |s AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx FROM f),
       |sess AS (SELECT user_id, sess_idx, COUNT(*)::BIGINT AS n_events,
       |    COALESCE(SUM(cents), 0)::BIGINT AS cents
       |  FROM s GROUP BY 1, 2)
       |SELECT CASE WHEN cents = 0 THEN 'a0' WHEN cents <= 5000 THEN 'b<=50'
       |            WHEN cents <= 15000 THEN 'c<=150' WHEN cents <= 30000 THEN 'd<=300'
       |            ELSE 'e>300' END AS revenue_band,
       |  COUNT(*)::BIGINT AS n_sessions,
       |  CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS avg_events,
       |  CAST(SUM(cents) AS DOUBLE) / 100 AS total_revenue
       |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e67
  /** Repurchase latency: gaps between a user's consecutive PURCHASES
    * (e18 bands all inter-event gaps; this is the buy-again cycle),
    * banded on integer hours. The lag window runs over the purchase
    * subset only — state per user is its purchase count, and the
    * filter reaches the scan before any shuffle. */
  def e67(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val gaps = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ms"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .filter(col("prev_ms").isNotNull)
      .withColumn("gap_h", expr("(ms - prev_ms) div 3600000"))
    val band = when(col("gap_h") <= 24, "a<=1d").when(col("gap_h") <= 168, "b<=7d")
      .when(col("gap_h") <= 720, "c<=30d").otherwise("d>30d")
    gaps.groupBy(band.as("gap_band"))
      .agg(count(lit(1)).as("n_gaps"),
           (sum(col("gap_h")).cast("double") / count(lit(1))).as("avg_gap_h"),
           max(col("gap_h")).as("max_gap_h"))
      .orderBy("gap_band")
  }
  val e67Sql: String =
    """WITH p AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events
       |  WHERE event_type = 'purchase'),
       |l AS (SELECT *, LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM p),
       |g AS (SELECT (ms - prev_ms) // 3600000 AS gap_h FROM l WHERE prev_ms IS NOT NULL)
       |SELECT CASE WHEN gap_h <= 24 THEN 'a<=1d' WHEN gap_h <= 168 THEN 'b<=7d'
       |            WHEN gap_h <= 720 THEN 'c<=30d' ELSE 'd>30d' END AS gap_band,
       |  COUNT(*)::BIGINT AS n_gaps,
       |  CAST(SUM(gap_h) AS DOUBLE) / COUNT(*) AS avg_gap_h,
       |  MAX(gap_h)::BIGINT AS max_gap_h
       |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e68
  /** Value front-loading: what share of each buyer's lifetime purchase
    * value lands within 7 days of their FIRST event (any type)? Decile
    * bands via pure integer arithmetic ((10·early) div total, like
    * q86), so no float share ever decides a band. Per-user window over
    * bounded partitions; buyers only. */
  def e68(spark: SparkSession, dir: String): DataFrame = {
    val weekMs = 7L * 24 * 3600 * 1000
    val u = Tables.events(spark, dir)
      .select(col("user_id"), col("ms"),
        when(col("event_type") === "purchase",
          (dec(col("value")) * 100).cast("long")).as("cents"))
      .withColumn("first_ms", min(col("ms")).over(Window.partitionBy("user_id")))
      .groupBy("user_id")
      .agg(sum(col("cents")).as("tot"),
           coalesce(sum(when(col("ms") < col("first_ms") + weekMs, col("cents"))),
             lit(0L)).as("early"))
      .filter(col("tot").isNotNull && col("tot") > 0)
    u.withColumn("frontload_band", least(expr("early * 10 div tot"), lit(9L)))
      .groupBy("frontload_band")
      .agg(count(lit(1)).as("n_users"),
           (sum(col("early")).cast("double") / 100).as("early_value"),
           (sum(col("tot")).cast("double") / 100).as("lifetime_value"))
      .orderBy("frontload_band")
  }
  val e68Sql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms,
       |    CASE WHEN event_type = 'purchase'
       |         THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) END AS cents
       |  FROM events),
       |w AS (SELECT *, MIN(ms) OVER (PARTITION BY user_id) AS first_ms FROM e),
       |u AS (SELECT user_id, SUM(cents) AS tot,
       |    COALESCE(SUM(CASE WHEN ms < first_ms + 604800000 THEN cents END), 0) AS early
       |  FROM w GROUP BY 1)
       |SELECT LEAST(early * 10 // tot, 9)::BIGINT AS frontload_band,
       |  COUNT(*)::BIGINT AS n_users,
       |  CAST(SUM(early) AS DOUBLE) / 100 AS early_value,
       |  CAST(SUM(tot) AS DOUBLE) / 100 AS lifetime_value
       |FROM u WHERE tot IS NOT NULL AND tot > 0
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e69
  /** Monthly stickiness (DAU/MAU): the engagement-frequency ratio per
    * calendar month — e49 measures DAU noise, this measures how much of
    * the monthly audience shows up daily. Events collapse to distinct
    * (month, day, user) map-side; each month's row needs two distinct
    * counts over that shrunken frame; ≤|months| output rows. Division
    * order is pinned ((aud/days)/mau) identically in both engines. */
  def e69(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(date_format(col("ets"), "yyyy-MM").as("month"),
        expr("ms div 86400000").as("day"), col("user_id"))
      .distinct()
      .groupBy("month")
      .agg(count(lit(1)).as("active_user_days"),
           countDistinct(col("day")).as("n_days"),
           countDistinct(col("user_id")).as("mau"))
      .withColumn("avg_dau", dbl(col("active_user_days")) / dbl(col("n_days")))
      .withColumn("stickiness", round(col("avg_dau") / dbl(col("mau")), 6))
      .orderBy("month")
  val e69Sql: String =
    """WITH d AS (SELECT DISTINCT strftime(ts, '%Y-%m') AS month,
      |    epoch_ms(ts) // 86400000 AS day, user_id FROM events),
      |m AS (SELECT month, COUNT(*)::BIGINT AS active_user_days,
      |    COUNT(DISTINCT day)::BIGINT AS n_days,
      |    COUNT(DISTINCT user_id)::BIGINT AS mau
      |  FROM d GROUP BY 1)
      |SELECT month, active_user_days, n_days, mau,
      |  CAST(active_user_days AS DOUBLE) / CAST(n_days AS DOUBLE) AS avg_dau,
      |  ROUND((CAST(active_user_days AS DOUBLE) / CAST(n_days AS DOUBLE))
      |        / CAST(mau AS DOUBLE), 6) AS stickiness
      |FROM m ORDER BY month""".stripMargin

  // ---------------------------------------------------------------- e70
  /** Error-recovery latency: for each error event, seconds until the
    * same user's next NON-error event, banded (plus never-recovered) —
    * the UX-impact table behind e51's error-rate series. One lead
    * window per user over (ms, event_id); integer-second bands. A
    * recovery is the next non-error AFTER the error; consecutive errors
    * look through to the first non-error via a reverse-ordered min
    * window over following rows. */
  def e70(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ms"), col("event_type"))
      .withColumn("next_ok_ms",
        min(when(col("event_type") =!= "error", col("ms"))).over(w))
    val err = ev.filter(col("event_type") === "error")
      .withColumn("rec_s",
        when(col("next_ok_ms").isNotNull, expr("(next_ok_ms - ms) div 1000")))
    val band = when(col("rec_s").isNull, "e_never")
      .when(col("rec_s") <= 60, "a<=1m").when(col("rec_s") <= 3600, "b<=1h")
      .when(col("rec_s") <= 86400, "c<=1d").otherwise("d>1d")
    err.groupBy(band.as("recovery_band"))
      .agg(count(lit(1)).as("n_errors"),
           coalesce((sum(col("rec_s")).cast("double") / count(col("rec_s"))), lit(0.0d))
             .as("avg_recovery_s"))
      .orderBy("recovery_band")
  }
  val e70Sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type FROM events),
      |w AS (SELECT *, MIN(CASE WHEN event_type <> 'error' THEN ms END)
      |    OVER (PARTITION BY user_id ORDER BY ms, event_id
      |          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_ok_ms
      |  FROM e),
      |err AS (SELECT CASE WHEN next_ok_ms IS NOT NULL
      |      THEN (next_ok_ms - ms) // 1000 END AS rec_s
      |  FROM w WHERE event_type = 'error')
      |SELECT CASE WHEN rec_s IS NULL THEN 'e_never'
      |            WHEN rec_s <= 60 THEN 'a<=1m' WHEN rec_s <= 3600 THEN 'b<=1h'
      |            WHEN rec_s <= 86400 THEN 'c<=1d' ELSE 'd>1d' END AS recovery_band,
      |  COUNT(*)::BIGINT AS n_errors,
      |  COALESCE(CAST(SUM(rec_s) AS DOUBLE) / COUNT(rec_s), 0.0) AS avg_recovery_s
      |FROM err GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e71
  /** ARPDAU series: monthly purchase revenue per active-user-day — the
    * monetization-intensity trend that e69's stickiness normalizes.
    * Revenue accumulates as exact integer cents per month; the DAU-day
    * denominator is e69's distinct (day, user) collapse; ONE division
    * per ≤\|months\| row. */
  def e71(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(date_format(col("ets"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_purchases"),
           sum((dec(col("value")) * 100).cast("long")).as("cents"))
    val aud = Tables.events(spark, dir)
      .select(date_format(col("ets"), "yyyy-MM").as("month"),
        expr("ms div 86400000").as("day"), col("user_id"))
      .distinct()
      .groupBy("month").agg(count(lit(1)).as("active_user_days"))
    aud.join(rev, Seq("month"), "left")
      .select(col("month"), col("active_user_days"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        (coalesce(col("cents"), lit(0L)).cast("double") / 100).as("revenue"),
        round((coalesce(col("cents"), lit(0L)).cast("double") / 100) /
          col("active_user_days"), 6).as("arpdau"))
      .orderBy("month")
  }
  val e71Sql: String =
    """WITH rev AS (
      |  SELECT strftime(ts, '%Y-%m') AS month, COUNT(*)::BIGINT AS n_purchases,
      |    SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |d AS (SELECT DISTINCT strftime(ts, '%Y-%m') AS month,
      |    epoch_ms(ts) // 86400000 AS day, user_id FROM events),
      |aud AS (SELECT month, COUNT(*)::BIGINT AS active_user_days FROM d GROUP BY 1)
      |SELECT aud.month AS month, active_user_days,
      |  COALESCE(n_purchases, 0)::BIGINT AS n_purchases,
      |  CAST(COALESCE(cents, 0) AS DOUBLE) / 100 AS revenue,
      |  ROUND((CAST(COALESCE(cents, 0) AS DOUBLE) / 100) / active_user_days, 6) AS arpdau
      |FROM aud LEFT JOIN rev ON aud.month = rev.month
      |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e72
  /** Conversion by market segment: per-user event/purchase rollup joined
    * to the customer dim (e60's enrichment key), conversion = buyers /
    * active users per segment. The event side collapses to \|users\| rows
    * BEFORE the join; customer side carries only (key, segment);
    * \|segments\|-bounded output, ONE division per row. */
  val e72Sql: String =
    """WITH ev AS (
      |  SELECT user_id, COUNT(*)::BIGINT AS n_events,
      |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)::BIGINT AS n_purchases
      |  FROM events GROUP BY 1)
      |SELECT c_mktsegment, COUNT(*)::BIGINT AS n_active_users,
      |  COUNT(CASE WHEN n_purchases > 0 THEN 1 END)::BIGINT AS n_buyers,
      |  SUM(n_events)::BIGINT AS n_events,
      |  SUM(n_purchases)::BIGINT AS n_purchases,
      |  ROUND(CAST(COUNT(CASE WHEN n_purchases > 0 THEN 1 END) AS DOUBLE)
      |        / COUNT(*), 6) AS conversion_rate
      |FROM customer JOIN ev ON c_custkey = user_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e73
  /** Revenue by day-of-week: e42 counts events per dow; this weighs the
    * week by exact integer-cent purchase revenue (plus per-purchase
    * mean) — the staffing/promo calendar view. Map-combinable 7-row
    * rollup; dow uses e42's epoch-day convention ((day+4) mod 7,
    * 0 = Sunday) so the two weekly profiles join cleanly. */
  def e73(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("(ms div 86400000 + 4) % 7").as("dow"))
      .agg(count(lit(1)).as("n_purchases"),
           sum((dec(col("value")) * 100).cast("long")).as("cents"))
      .select(col("dow"), col("n_purchases"),
        (col("cents").cast("double") / 100).as("revenue"),
        round((col("cents").cast("double") / 100) / col("n_purchases"), 6)
          .as("avg_purchase"))
      .orderBy("dow")
  val e73Sql: String =
    """SELECT (epoch_ms(ts) // 86400000 + 4) % 7 AS dow,
      |  COUNT(*)::BIGINT AS n_purchases,
      |  CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS DOUBLE) / 100
      |    AS revenue,
      |  ROUND((CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS DOUBLE) / 100)
      |        / COUNT(*), 6) AS avg_purchase
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e74
  /** First-purchase depth: at what event position within a session does
    * the FIRST purchase happen (converting sessions only) — the "how
    * much browsing precedes buying" histogram that prices e65's depth
    * curve. Session split + in-session row_number ride the same bounded
    * per-user windows as e01; min() picks the first purchase position
    * map-combinably. */
  def e74(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ws = Window.partitionBy("user_id", "sess_idx").orderBy(col("ms"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ms"), col("event_type"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > GapMs, 1L).otherwise(0L))
      .withColumn("sess_idx", sum(col("new_sess")).over(wr))
      .withColumn("pos", row_number().over(ws).cast("long"))
      .filter(col("event_type") === "purchase")
      .groupBy("user_id", "sess_idx")
      .agg(min(col("pos")).as("first_buy_pos"))
      .groupBy(least(col("first_buy_pos"), lit(10L)).as("depth_band"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy("depth_band")
  }
  val e74Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type FROM events),
       |l AS (SELECT *, LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e),
       |f AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > $GapMs THEN 1 ELSE 0 END AS new_sess FROM l),
       |s AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx FROM f),
       |p AS (SELECT *, CAST(row_number() OVER (PARTITION BY user_id, sess_idx
       |        ORDER BY ms, event_id) AS BIGINT) AS pos FROM s),
       |fb AS (SELECT user_id, sess_idx, MIN(pos) AS first_buy_pos
       |  FROM p WHERE event_type = 'purchase' GROUP BY 1, 2)
       |SELECT LEAST(first_buy_pos, 10) AS depth_band, COUNT(*)::BIGINT AS n_sessions
       |FROM fb GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e75
  /** Activity Zipf slope: least-squares slope of ln(events) vs ln(rank)
    * over the top-100 users — the skew exponent behind e48's Gini and
    * q75's hottest-key census (a slope near −1 says whale users follow
    * a power law; flatter says load is spread). t37's exact recipe:
    * TakeOrdered head, bounded 100×100 broadcast rank self-join (no
    * global window), round9-DECIMAL-quantized logs, exact regression
    * moments, ONE final expression. */
  def e75(spark: SparkSession, dir: String): DataFrame = {
    val head = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("user_id")).limit(100)
      .cache() // both sides of the bounded rank self-join
    val ranked = head.as("a")
      .join(broadcast(head.select(col("user_id").as("u2"), col("cnt").as("c2"))),
        col("c2") > col("cnt") || (col("c2") === col("cnt") && col("u2") < col("user_id")),
        "left")
      .groupBy(col("user_id"), col("cnt"))
      .agg((count(col("u2")) + 1).as("rank"))
    val q = ranked
      .withColumn("x", round(log(dbl(col("rank"))), 9).cast("decimal(18,9)"))
      .withColumn("y", round(log(dbl(col("cnt"))), 9).cast("decimal(18,9)"))
    q.agg(count(lit(1)).as("n"),
          dbl(sum(col("x"))).as("sx"), dbl(sum(col("y"))).as("sy"),
          dbl(sum(col("x") * col("y"))).as("sxy"),
          dbl(sum(col("x") * col("x"))).as("sx2"))
      .select(col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sx2") - col("sx") * col("sx")), 6).as("activity_slope"))
  }
  val e75Sql: String =
    """WITH head AS (
      |  SELECT user_id, COUNT(*) AS cnt FROM events
      |  GROUP BY 1 ORDER BY cnt DESC, user_id LIMIT 100),
      |r AS (
      |  SELECT cnt,
      |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS BIGINT) AS rank
      |  FROM head),
      |q AS (
      |  SELECT CAST(ROUND(ln(CAST(rank AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
      |         CAST(ROUND(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
      |  FROM r),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(x * y) AS DOUBLE) AS sxy, CAST(SUM(x * x) AS DOUBLE) AS sx2
      |  FROM q)
      |SELECT n,
      |  ROUND((n * sxy - sx * sy) / (n * sx2 - sx * sx), 6) AS activity_slope
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- e76
  /** Lifecycle census at the data horizon: every user classified as
    * new (first seen in the final 30 days), churned (silent for > 30
    * days), or active — the end-state snapshot behind e28's weekly
    * growth-accounting series. One map-combinable min/max pass per
    * user; the horizon is a 1-row broadcast max (q65's as-of shape);
    * 3-row output with exact tenure/recency means. */
  /** Per-user lifecycle frame (first/last/n_events/end_ms/stage) —
    * shared by e76's census and e80's per-stage behavior profile so
    * both views classify users identically. */
  private[graft] def lifecycleStages(events: DataFrame): DataFrame = {
    val dayMs = 86400000L
    val u = events
      .groupBy(col("user_id"))
      .agg(min(col("ms")).as("first_ms"), max(col("ms")).as("last_ms"),
           count(lit(1)).as("n_events"))
    val horizon = u.agg(max(col("last_ms")).as("end_ms"))
    u.join(broadcast(horizon))
      .withColumn("stage",
        when(col("first_ms") >= col("end_ms") - 30 * dayMs, "a_new")
          .when(col("last_ms") < col("end_ms") - 30 * dayMs, "c_churned")
          .otherwise("b_active"))
  }

  def e76(spark: SparkSession, dir: String): DataFrame =
    lifecycleStages(Tables.events(spark, dir))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_users"),
           sum(col("n_events")).as("n_events"),
           (sum(expr("(end_ms - last_ms) div 86400000")).cast("double") /
             count(lit(1))).as("avg_recency_days"))
      .orderBy("stage")
  val e76Sql: String =
    """WITH u AS (
      |  SELECT user_id, MIN(epoch_ms(ts)) AS first_ms, MAX(epoch_ms(ts)) AS last_ms,
      |    COUNT(*)::BIGINT AS n_events
      |  FROM events GROUP BY 1),
      |h AS (SELECT MAX(last_ms) AS end_ms FROM u)
      |SELECT CASE WHEN first_ms >= end_ms - 2592000000 THEN 'a_new'
      |            WHEN last_ms < end_ms - 2592000000 THEN 'c_churned'
      |            ELSE 'b_active' END AS stage,
      |  COUNT(*)::BIGINT AS n_users,
      |  SUM(n_events)::BIGINT AS n_events,
      |  CAST(SUM((end_ms - last_ms) // 86400000) AS DOUBLE) / COUNT(*) AS avg_recency_days
      |FROM u, h GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e77
  /** Habit-formation census: each user's LONGEST run of consecutive
    * active days, banded — the consecutiveness signal e30's distinct-day
    * histogram can't see (7 scattered days ≠ a 7-day streak). Classic
    * island detection: distinct (user, day) collapse map-side, then
    * `day − row_number()` is constant within a run (both windows
    * partition per user — bounded state at any user count), one count
    * per (user, island), one max per user, integer CASE bands. */
  def e77(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    val days = Tables.events(spark, dir)
      .select(col("user_id"), expr("ms div 86400000").as("day")).distinct()
    val streaks = days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      .groupBy("user_id").agg(max(col("len")).as("max_streak"),
        sum(col("len")).as("active_days"))
    streaks
      .groupBy(when(col("max_streak") === 1, "a_1")
        .when(col("max_streak") <= 3, "b_2-3")
        .when(col("max_streak") <= 6, "c_4-6")
        .when(col("max_streak") <= 13, "d_7-13")
        .otherwise("e_14+").as("streak_band"))
      .agg(count(lit(1)).as("n_users"),
           (sum(col("active_days")).cast("double") /
             count(lit(1))).as("avg_active_days"))
      .orderBy("streak_band")
  }
  val e77Sql: String =
    """WITH d AS (
      |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
      |i AS (
      |  SELECT user_id, day,
      |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |  FROM d),
      |s AS (SELECT user_id, grp, COUNT(*) AS len FROM i GROUP BY 1, 2),
      |u AS (SELECT user_id, MAX(len) AS max_streak, SUM(len) AS active_days
      |      FROM s GROUP BY 1)
      |SELECT CASE WHEN max_streak = 1 THEN 'a_1'
      |            WHEN max_streak <= 3 THEN 'b_2-3'
      |            WHEN max_streak <= 6 THEN 'c_4-6'
      |            WHEN max_streak <= 13 THEN 'd_7-13'
      |            ELSE 'e_14+' END AS streak_band,
      |  COUNT(*)::BIGINT AS n_users,
      |  CAST(SUM(active_days) AS DOUBLE) / COUNT(*) AS avg_active_days
      |FROM u GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e78
  /** Dormancy-reactivation census: users who come back after ≥2 silent
    * days, banded by how often — the win-back signal e28's weekly
    * "resurrected" bucket quantizes away (a dormancy shorter than the
    * week bin is invisible there; the threshold is a constant to tune
    * per corpus horizon). One lag window per user (bounded state), one
    * per-user rollup, integer-ms gap compares, ≤4 bands with a single
    * division each. */
  /** Per-user reactivation frame (n_react, max_dorm_ms) — shared by e78
    * and the streaming ReactivationStage parity spec, so batch and
    * stream are held to one definition of "dormancy". */
  private[graft] def reactivationFrame(events: DataFrame,
                                       dormMs: Long = 2L * 86400000L): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), col("ms"))
      .withColumn("gap", col("ms") - lag(col("ms"), 1).over(w))
      .groupBy("user_id")
      .agg(sum(when(col("gap") > dormMs, 1L).otherwise(0L)).as("n_react"),
           max(when(col("gap") > dormMs, col("gap"))).as("max_dorm_ms"))
  }

  def e78(spark: SparkSession, dir: String): DataFrame = {
    val u = reactivationFrame(Tables.events(spark, dir))
    u.groupBy(when(col("n_react") === 0, "a_none")
        .when(col("n_react") === 1, "b_once")
        .when(col("n_react") === 2, "c_twice")
        .otherwise("d_3plus").as("react_band"))
      .agg(count(lit(1)).as("n_users"),
           sum(col("n_react")).as("n_reactivations"),
           (sum(expr("max_dorm_ms div 86400000")).cast("double") /
             count(col("max_dorm_ms"))).as("avg_max_dormancy_days"))
      .orderBy("react_band")
  }
  val e78Sql: String =
    """WITH g AS (
      |  SELECT user_id,
      |    epoch_ms(ts) - LAG(epoch_ms(ts)) OVER
      |      (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS gap
      |  FROM events),
      |u AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN gap > 172800000 THEN 1 ELSE 0 END)::BIGINT AS n_react,
      |    MAX(CASE WHEN gap > 172800000 THEN gap END) AS max_dorm_ms
      |  FROM g GROUP BY 1)
      |SELECT CASE WHEN n_react = 0 THEN 'a_none'
      |            WHEN n_react = 1 THEN 'b_once'
      |            WHEN n_react = 2 THEN 'c_twice'
      |            ELSE 'd_3plus' END AS react_band,
      |  COUNT(*)::BIGINT AS n_users,
      |  SUM(n_react)::BIGINT AS n_reactivations,
      |  CAST(SUM(max_dorm_ms // 86400000) AS DOUBLE) / COUNT(max_dorm_ms)
      |    AS avg_max_dormancy_days
      |FROM u GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e79
  /** Per-type purchase-value outlier screen: events whose value sits
    * more than 3σ above their type's mean, rolled up to a
    * \|types\|-bounded census (n, outliers, and the value share they
    * carry). Moments are exact DECIMAL(38,0) integer-cent sums (e13's
    * recipe); the 3σ cut is ONE IEEE threshold per type computed from
    * those exact moments — both engines derive bit-identical doubles,
    * so the per-event compare `cents > thr` can't disagree, and
    * nothing divides or multiplies per event (overflow-free at any
    * per-type volume the d38 moments themselves survive). The moment
    * frame is tiny so the back-join broadcasts. */
  def e79(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
    val st = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           sum(col("cents").cast(d38)).as("s"),
           sum(col("cents").cast(d38) * col("cents").cast(d38)).as("q"))
      .filter(col("n") >= 2)
      .withColumn("thr", dbl(col("s")) / col("n") +
        lit(3.0) * sqrt(dbl(col("n") * col("q") - col("s") * col("s")) /
          dbl(col("n").cast(d38) * (col("n") - 1).cast(d38))))
    val isOut = dbl(col("cents")) > col("thr")
    ev.join(broadcast(st), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           sum(when(isOut, 1L).otherwise(0L)).as("n_outliers"),
           sum(when(isOut, col("cents")).otherwise(0L)).as("out_cents"),
           max(col("s")).as("tot_cents"))
      .select(col("event_type"), col("n_events"), col("n_outliers"),
        round(dbl(col("n_outliers")) / col("n_events"), 6).as("outlier_rate"),
        round(dbl(col("out_cents").cast(d38)) / dbl(col("tot_cents")), 6)
          .as("outlier_value_share"))
      .orderBy("event_type")
  }
  val e79Sql: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |st AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n,
      |    SUM(CAST(cents AS HUGEINT)) AS s,
      |    SUM(CAST(cents AS HUGEINT) * cents) AS q
      |  FROM ev GROUP BY 1 HAVING COUNT(*) >= 2),
      |t AS (
      |  SELECT event_type, n, s,
      |    CAST(s AS DOUBLE) / n +
      |      3.0 * sqrt(CAST(n*q - s*s AS DOUBLE)
      |                 / CAST(CAST(n AS HUGEINT)*(n-1) AS DOUBLE)) AS thr
      |  FROM st),
      |j AS (
      |  SELECT ev.event_type, cents, n, s,
      |    CAST(cents AS DOUBLE) > thr AS is_out
      |  FROM ev JOIN t USING (event_type))
      |SELECT event_type, COUNT(*)::BIGINT AS n_events,
      |  SUM(CASE WHEN is_out THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
      |  ROUND(CAST(SUM(CASE WHEN is_out THEN 1 ELSE 0 END) AS DOUBLE)
      |        / COUNT(*), 6) AS outlier_rate,
      |  ROUND(CAST(SUM(CASE WHEN is_out THEN cents ELSE 0 END) AS DOUBLE)
      |        / CAST(MAX(s) AS DOUBLE), 6) AS outlier_value_share
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e80
  /** Behavioral fingerprint by lifecycle stage: event-type mix of new /
    * active / churned users (e76's stages) — do churned users look
    * different BEFORE they leave? The stage frame collapses to one row
    * per user and re-joins events on the uniform user key (co-keyed
    * shuffle); the census is \|stages\|×\|types\|-bounded and the
    * within-stage share window partitions by stage over that bounded
    * frame only. */
  def e80(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val wStage = Window.partitionBy("stage")
    ev.select(col("user_id"), col("event_type"))
      .join(lifecycleStages(ev).select(col("user_id"), col("stage")), "user_id")
      .groupBy("stage", "event_type").agg(count(lit(1)).as("n_events"))
      .withColumn("share",
        round(dbl(col("n_events")) / sum(col("n_events")).over(wStage), 6))
      .orderBy("stage", "event_type")
  }
  val e80Sql: String =
    """WITH u AS (
      |  SELECT user_id, MIN(epoch_ms(ts)) AS first_ms, MAX(epoch_ms(ts)) AS last_ms
      |  FROM events GROUP BY 1),
      |h AS (SELECT MAX(last_ms) AS end_ms FROM u),
      |s AS (
      |  SELECT user_id,
      |    CASE WHEN first_ms >= end_ms - 2592000000 THEN 'a_new'
      |         WHEN last_ms < end_ms - 2592000000 THEN 'c_churned'
      |         ELSE 'b_active' END AS stage
      |  FROM u, h),
      |c AS (
      |  SELECT stage, event_type, COUNT(*)::BIGINT AS n_events
      |  FROM events JOIN s USING (user_id)
      |  GROUP BY 1, 2)
      |SELECT stage, event_type, n_events,
      |  ROUND(CAST(n_events AS DOUBLE)
      |        / SUM(n_events) OVER (PARTITION BY stage), 6) AS share
      |FROM c ORDER BY stage, event_type""".stripMargin

  // ---------------------------------------------------------------- e81
  /** Work-vs-leisure usage split: per-user weekend-activity share,
    * banded — the rhythm signal e42/e54 aggregate away (they profile
    * the CORPUS week; this profiles each USER's week and censuses the
    * result). Weekend test is pure epoch-day integer arithmetic in
    * e42's dow convention (`(day+4) mod 7` ∈ {0, 6} ⇔ Sun/Sat); band
    * edges are integer
    * cross-multiplied; one map-combinable per-user rollup then a
    * ≤4-row census with purchase share per band. */
  def e81(spark: SparkSession, dir: String): DataFrame = {
    val isWe = expr("(ms div 86400000 + 4) % 7").isin(0, 6)
    val u = Tables.events(spark, dir)
      .select(col("user_id"),
        when(isWe, 1L).otherwise(0L).as("we"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pu"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("total"), sum(col("we")).as("wkd"),
           sum(col("pu")).as("purch"))
    u.groupBy(when(col("wkd") * 10 < col("total"), "a<10%")
        .when(col("wkd") * 10 < col("total") * 3, "b<30%")
        .when(col("wkd") * 10 < col("total") * 6, "c<60%")
        .otherwise("d>=60%").as("weekend_band"))
      .agg(count(lit(1)).as("n_users"),
           sum(col("total")).as("n_events"),
           round(dbl(sum(col("purch"))) / dbl(sum(col("total"))), 6)
             .as("purchase_share"))
      .orderBy("weekend_band")
  }
  val e81Sql: String =
    """WITH u AS (
      |  SELECT user_id, COUNT(*)::BIGINT AS total,
      |    SUM(CASE WHEN (epoch_ms(ts) // 86400000 + 4) % 7 IN (0, 6)
      |             THEN 1 ELSE 0 END)::BIGINT AS wkd,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purch
      |  FROM events GROUP BY 1)
      |SELECT CASE WHEN wkd * 10 < total THEN 'a<10%'
      |            WHEN wkd * 10 < total * 3 THEN 'b<30%'
      |            WHEN wkd * 10 < total * 6 THEN 'c<60%'
      |            ELSE 'd>=60%' END AS weekend_band,
      |  COUNT(*)::BIGINT AS n_users,
      |  SUM(total)::BIGINT AS n_events,
      |  ROUND(CAST(SUM(purch) AS DOUBLE) / CAST(SUM(total) AS DOUBLE), 6)
      |    AS purchase_share
      |FROM u GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e82
  /** Count-min-sketch heavy hitters with exact verification: the
    * bounded-memory path for "top users by volume" when per-key state
    * is impossible (10⁹ distinct keys) — 4 hash rows × 1024 buckets of
    * map-combinable counts are the ONLY shuffled state (≤4096 rows per
    * partition regardless of key count), then the exact top-20 (e05's
    * TakeOrdered shape) is estimated from the sketch. `overcount ≥ 0`
    * is the CMS one-sided guarantee, asserted per row by the smoke
    * spec. Hash arithmetic is `(a·(u mod p) + b) mod p mod w` in plain
    * BIGINT — engine-portable, overflow-free for any long user id. */
  def e82(spark: SparkSession, dir: String): DataFrame = {
    val P = 2147483647L
    val W = 1024L
    val params = Seq((999983L, 12345L), (1000003L, 54321L),
      (1000033L, 77777L), (1000211L, 99991L))
    def bucket(a: Long, b: Long, u: Column): Column =
      (lit(a) * (u % P) + lit(b)) % P % W
    val ev = Tables.events(spark, dir).select(col("user_id"))
    val cms = ev
      .select(posexplode(array(
        params.map { case (a, b) => bucket(a, b, col("user_id")) }: _*))
        .as(Seq("i", "bucket")))
      .groupBy("i", "bucket").agg(count(lit(1)).as("c"))
    val top = ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("user_id")).limit(20)
    top
      .select(col("user_id"), col("exact_cnt"),
        posexplode(array(
          params.map { case (a, b) => bucket(a, b, col("user_id")) }: _*))
          .as(Seq("i", "bucket")))
      .join(broadcast(cms), Seq("i", "bucket"))
      .groupBy("user_id", "exact_cnt")
      .agg(min(col("c")).as("cms_est"))
      .select(col("user_id"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overcount"))
      .orderBy(col("exact_cnt").desc, col("user_id"))
  }
  val e82Sql: String =
    """WITH p(i, a, b) AS (VALUES
      |  (0, 999983, 12345), (1, 1000003, 54321),
      |  (2, 1000033, 77777), (3, 1000211, 99991)),
      |cms AS (
      |  SELECT i, (a * (user_id % 2147483647) + b) % 2147483647 % 1024 AS bucket,
      |    COUNT(*)::BIGINT AS c
      |  FROM events CROSS JOIN p GROUP BY 1, 2),
      |top AS (
      |  SELECT user_id, COUNT(*)::BIGINT AS exact_cnt
      |  FROM events GROUP BY 1
      |  ORDER BY exact_cnt DESC, user_id LIMIT 20),
      |est AS (
      |  SELECT t.user_id, t.exact_cnt, MIN(c) AS cms_est
      |  FROM top t CROSS JOIN p
      |  JOIN cms ON cms.i = p.i
      |    AND cms.bucket = (p.a * (t.user_id % 2147483647) + p.b) % 2147483647 % 1024
      |  GROUP BY 1, 2)
      |SELECT user_id, exact_cnt, cms_est, cms_est - exact_cnt AS overcount
      |FROM est ORDER BY exact_cnt DESC, user_id""".stripMargin

  // ---------------------------------------------------------------- e83
  /** Early-engagement LTV screen: Pearson corr(events in the user's
    * first 7 days, lifetime purchase cents) — does week-1 activity
    * predict value (e63 correlates LIFESPAN with spend; this tests the
    * onboarding window product teams can actually move). One
    * user-partitioned min window (no second scan), one per-user
    * rollup, q38's DECIMAL-exact moments, 1-row output. */
  def e83(spark: SparkSession, dir: String): DataFrame = {
    val wU = Window.partitionBy("user_id")
    val weekMs = 7L * 86400000L
    val u = Tables.events(spark, dir)
      .select(col("user_id"), col("ms"), col("event_type"), col("value"))
      .withColumn("first_ms", min(col("ms")).over(wU))
      .groupBy("user_id")
      .agg(sum(when(col("ms") < col("first_ms") + weekMs, 1L).otherwise(0L))
             .cast("decimal(18,0)").as("x"),
           coalesce(sum(when(col("event_type") === "purchase",
             round(col("value") * 100).cast("long"))), lit(0L))
             .cast("decimal(18,0)").as("y"))
    u.agg(count(lit(1)).as("n_users"),
          dbl(sum(col("x"))).as("sx"), dbl(sum(col("y"))).as("sy"),
          dbl(sum(col("x") * col("y"))).as("sxy"),
          dbl(sum(col("x") * col("x"))).as("sx2"),
          dbl(sum(col("y") * col("y"))).as("sy2"))
      .select(col("n_users"),
        round((col("n_users") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n_users") * col("sx2") - col("sx") * col("sx")) *
           sqrt(col("n_users") * col("sy2") - col("sy") * col("sy"))), 6)
          .as("corr_week1_ltv"))
  }
  val e83Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ms(ts) AS ms, event_type, value,
      |    MIN(epoch_ms(ts)) OVER (PARTITION BY user_id) AS first_ms
      |  FROM events),
      |u AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN ms < first_ms + 604800000 THEN 1 ELSE 0 END)
      |         AS DECIMAL(18,0)) AS x,
      |    CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(ROUND(value * 100) AS BIGINT) END), 0) AS DECIMAL(18,0)) AS y
      |  FROM e GROUP BY 1),
      |m AS (
      |  SELECT COUNT(*) AS n_users,
      |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
      |    CAST(SUM(x * x) AS DOUBLE) AS sx2, CAST(SUM(y * y) AS DOUBLE) AS sy2
      |  FROM u)
      |SELECT n_users,
      |  ROUND((n_users * sxy - sx * sy) /
      |        (sqrt(n_users * sx2 - sx * sx) * sqrt(n_users * sy2 - sy * sy)), 6)
      |    AS corr_week1_ltv
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- e84
  /** Truncated-EWMA daily volume smoother (α=0.3, 14-day horizon):
    * the load baseline behind alerting — e13 flags hourly spikes
    * against a STATIC mean; this gives the moving baseline. The decay
    * weights are 14 EXACT decimal literals (`0.3·0.7^k` written out),
    * so no engine's `pow` is ever called and every term/sum is exact
    * decimal arithmetic — bit-identical partial sums at any cluster
    * layout. Each observed day explodes into ≤14 (target-day, term)
    * contributions (map-combinable), then one equi join back to the
    * \|days\|-bounded daily frame. Gap-aware: weights key on CALENDAR
    * day distance, and contributions landing on unobserved days drop
    * with the inner join. */
  def e84(spark: SparkSession, dir: String): DataFrame = {
    // 0.3 * 0.7^k, k = 0..13, written exactly (decimal, never pow)
    val ws = Seq(
      "0.3", "0.21", "0.147", "0.1029", "0.07203", "0.050421",
      "0.0352947", "0.02470629", "0.017294403", "0.0121060821",
      "0.00847425747", "0.005931980229", "0.0041523861603",
      "0.00290667031221")
    val wExpr = ws.zipWithIndex
      .foldLeft(lit(null).cast("decimal(20,15)")) { case (acc, (w, k)) =>
        when(col("k") === k, lit(new java.math.BigDecimal(w)).cast("decimal(20,15)"))
          .otherwise(acc)
      }
    val daily = Tables.events(spark, dir)
      .groupBy(expr("ms div 86400000").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val contrib = daily
      .select(col("day").as("src_day"), col("n_events").as("x"),
        explode(sequence(lit(0), lit(13))).as("k"))
      .select((col("src_day") + col("k")).as("day"),
        (wExpr * col("x").cast("decimal(18,0)")).as("term"))
      .groupBy("day").agg(sum(col("term")).as("s"))
    daily.join(contrib, "day")
      .select(col("day"), col("n_events"),
        round(dbl(col("s")), 6).as("ewma"))
      .orderBy("day")
  }
  val e84Sql: String = {
    val ws = Seq(
      "0.3", "0.21", "0.147", "0.1029", "0.07203", "0.050421",
      "0.0352947", "0.02470629", "0.017294403", "0.0121060821",
      "0.00847425747", "0.005931980229", "0.0041523861603",
      "0.00290667031221")
    val cases = ws.zipWithIndex
      .map { case (w, k) => s"WHEN k = $k THEN CAST($w AS DECIMAL(20,15))" }
      .mkString(" ")
    s"""WITH daily AS (
       |  SELECT epoch_ms(ts) // 86400000 AS day, COUNT(*)::BIGINT AS n_events
       |  FROM events GROUP BY 1),
       |c AS (
       |  SELECT day + k AS day,
       |    (CASE $cases END) * CAST(n_events AS DECIMAL(18,0)) AS term
       |  FROM daily CROSS JOIN (SELECT UNNEST(range(0, 14)) AS k)),
       |s AS (SELECT day, SUM(term) AS s FROM c GROUP BY 1)
       |SELECT daily.day, n_events, ROUND(CAST(s AS DOUBLE), 6) AS ewma
       |FROM daily JOIN s USING (day) ORDER BY day""".stripMargin
  }

  // ---------------------------------------------------------------- e85
  /** Adaptive daily-volume anomaly screen: days whose volume deviates
    * from the PREVIOUS day's EWMA baseline by more than 3σ of the
    * residual distribution — e13 alarms against a static per-type
    * mean; this adapts to trend (a ramp that would permanently trip a
    * static alarm is absorbed into the baseline). Composes e84's
    * exact-decimal EWMA via a bounded equi shift-join (day = day+1);
    * residual moments are round9-quantized exact sums; the 3σ cut is
    * ONE IEEE threshold from a 1-row broadcast (e79's recipe). */
  def e85(spark: SparkSession, dir: String): DataFrame = {
    val base = e84(spark, dir) // day, n_events, ewma
    val resid = base.as("t")
      .join(broadcast(base.select((col("day") + 1).as("nday"), col("ewma").as("prev_ewma"))),
        col("day") === col("nday"))
      .select(col("day"), col("n_events"), col("prev_ewma"),
        round(dbl(col("n_events")) - col("prev_ewma"), 9)
          .cast("decimal(18,9)").as("r"))
    val st = resid.agg(count(lit(1)).as("n"),
        dbl(sum(col("r"))).as("s"),
        dbl(sum(col("r") * col("r"))).as("q"))
      .filter(col("n") >= 2)
      .select(col("n"), (col("s") / col("n")).as("mu"),
        sqrt((col("q") - col("s") * col("s") / col("n")) / (col("n") - 1))
          .as("sd"))
    resid.join(broadcast(st))
      .filter(abs(dbl(col("r")) - col("mu")) > lit(3.0) * col("sd"))
      .select(col("day"), col("n_events"),
        round(col("prev_ewma"), 6).as("baseline"),
        round((dbl(col("r")) - col("mu")) / col("sd"), 6).as("z"))
      .orderBy("day")
  }
  val e85Sql: String = {
    s"""WITH e AS (${e84Sql.replace("ORDER BY day", "")}),
       |r AS (
       |  SELECT t.day, t.n_events, p.ewma AS prev_ewma,
       |    CAST(ROUND(CAST(t.n_events AS DOUBLE) - p.ewma, 9) AS DECIMAL(18,9)) AS r
       |  FROM e t JOIN e p ON t.day = p.day + 1),
       |st AS (
       |  SELECT COUNT(*)::BIGINT AS n,
       |    CAST(SUM(r) AS DOUBLE) AS s, CAST(SUM(r * r) AS DOUBLE) AS q
       |  FROM r HAVING COUNT(*) >= 2),
       |th AS (
       |  SELECT n, s / n AS mu, sqrt((q - s * s / n) / (n - 1)) AS sd FROM st)
       |SELECT day, n_events, ROUND(prev_ewma, 6) AS baseline,
       |  ROUND((CAST(r AS DOUBLE) - mu) / sd, 6) AS z
       |FROM r CROSS JOIN th
       |WHERE abs(CAST(r AS DOUBLE) - mu) > 3.0 * sd
       |ORDER BY day""".stripMargin
  }

  // ---------------------------------------------------------------- e86
  /** Peak 7-day spending burst per user, banded: the rolling-window
    * shape (RANGE frame over event-time ms, per-user partitions) that
    * e14 deliberately avoids for DISTINCT counts is exactly right for
    * SUMS — additive state, bounded per key, no fan-out. Each
    * purchase row carries the user's trailing-7-day integer-cent
    * total; the per-user max is the "burst" and the census is ≤5
    * integer-edged bands. */
  def e86(spark: SparkSession, dir: String): DataFrame = {
    val weekMs = 7L * 86400000L
    val w = Window.partitionBy("user_id").orderBy("ms")
      .rangeBetween(-weekMs + 1, Window.currentRow)
    val u = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ms"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("roll", sum(col("cents")).over(w))
      .groupBy("user_id")
      .agg(max(col("roll")).as("burst"), count(lit(1)).as("n_purchases"))
    u.groupBy(when(col("burst") < 10000L, "a<$100")
        .when(col("burst") < 50000L, "b<$500")
        .when(col("burst") < 100000L, "c<$1000")
        .when(col("burst") < 200000L, "d<$2000")
        .otherwise("e>=$2000").as("burst_band"))
      .agg(count(lit(1)).as("n_users"),
           (sum(col("n_purchases")).cast("double") / count(lit(1)))
             .as("avg_purchases"))
      .orderBy("burst_band")
  }
  val e86Sql: String =
    """WITH p AS (
      |  SELECT user_id, epoch_ms(ts) AS ms,
      |    CAST(ROUND(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |r AS (
      |  SELECT user_id, cents,
      |    SUM(cents) OVER (PARTITION BY user_id ORDER BY ms
      |      RANGE BETWEEN 604799999 PRECEDING AND CURRENT ROW) AS roll
      |  FROM p),
      |u AS (
      |  SELECT user_id, MAX(roll) AS burst, COUNT(*)::BIGINT AS n_purchases
      |  FROM r GROUP BY 1)
      |SELECT CASE WHEN burst < 10000 THEN 'a<$100'
      |            WHEN burst < 50000 THEN 'b<$500'
      |            WHEN burst < 100000 THEN 'c<$1000'
      |            WHEN burst < 200000 THEN 'd<$2000'
      |            ELSE 'e>=$2000' END AS burst_band,
      |  COUNT(*)::BIGINT AS n_users,
      |  CAST(SUM(n_purchases) AS DOUBLE) / COUNT(*) AS avg_purchases
      |FROM u GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e87
  /** Session handoff matrix: how a user's session ENDS vs how their
    * NEXT session BEGINS (exit type → next entry type, with the
    * inter-session gap) — the cross-session intent signal e12 (within-
    * stream transitions) and e59 (within-session entry↔exit) both
    * stop short of. Rides e59's gap-split + min/max(struct) boundary
    * argmin/argmax; the handoff link is one lag window over the
    * per-session frame (per-user partitions, ≤\|sessions\| rows);
    * \|types\|²-bounded output with exact mean gaps. */
  def e87(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ms"), col("event_type"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > GapMs, 1L).otherwise(0L))
      .withColumn("sess_idx", sum(col("new_sess")).over(wr))
      .groupBy("user_id", "sess_idx")
      .agg(min(struct(col("ms"), col("event_id"), col("event_type"))).as("f"),
           max(struct(col("ms"), col("event_id"), col("event_type"))).as("l"))
    val ws = Window.partitionBy("user_id").orderBy("sess_idx")
    sess
      .withColumn("next_entry", lead(col("f.event_type"), 1).over(ws))
      .withColumn("next_start", lead(col("f.ms"), 1).over(ws))
      .filter(col("next_entry").isNotNull)
      .groupBy(col("l.event_type").as("exit_type"),
        col("next_entry").as("next_entry_type"))
      .agg(count(lit(1)).as("n_handoffs"),
           (sum(expr("(next_start - l.ms) div 60000")).cast("double") /
             count(lit(1))).as("avg_gap_minutes"))
      .orderBy("exit_type", "next_entry_type")
  }
  val e87Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type FROM events),
       |l AS (SELECT *, LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e),
       |f AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > $GapMs THEN 1 ELSE 0 END AS new_sess FROM l),
       |s AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx FROM f),
       |r AS (SELECT user_id, sess_idx, event_type, ms,
       |    ROW_NUMBER() OVER (PARTITION BY user_id, sess_idx ORDER BY ms, event_id) AS rf,
       |    ROW_NUMBER() OVER (PARTITION BY user_id, sess_idx ORDER BY ms DESC, event_id DESC) AS rl
       |  FROM s),
       |b AS (
       |  SELECT fe.user_id, fe.sess_idx,
       |    fe.event_type AS entry_type, fe.ms AS start_ms,
       |    le.event_type AS exit_type, le.ms AS end_ms
       |  FROM (SELECT user_id, sess_idx, event_type, ms FROM r WHERE rf = 1) fe
       |  JOIN (SELECT user_id, sess_idx, event_type, ms FROM r WHERE rl = 1) le
       |    USING (user_id, sess_idx)),
       |h AS (
       |  SELECT exit_type, end_ms,
       |    LEAD(entry_type) OVER (PARTITION BY user_id ORDER BY sess_idx) AS next_entry_type,
       |    LEAD(start_ms) OVER (PARTITION BY user_id ORDER BY sess_idx) AS next_start
       |  FROM b)
       |SELECT exit_type, next_entry_type, COUNT(*)::BIGINT AS n_handoffs,
       |  CAST(SUM((next_start - end_ms) // 60000) AS DOUBLE) / COUNT(*) AS avg_gap_minutes
       |FROM h WHERE next_entry_type IS NOT NULL
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- e88
  /** Alert-threshold calibration sweep: how many (type, hour) cells
    * would alarm at 2σ vs 3σ vs 4σ — the pager-budget table an SRE
    * reads before picking e13's threshold (e13 hardcodes 3σ; this
    * shows the cost of each choice). Rides e13's exact integer moment
    * frame; each type's σ-thresholds are IEEE values from exact
    * operands (e79's recipe) broadcast back; the sweep explodes ×3 on
    * the \|types\|×\|hours\|-bounded cell frame, never on raw events. */
  def e88(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables.events(spark, dir)
      .withColumn("hour_ms", col("ms") - col("ms") % 3600000L)
      .groupBy("event_type", "hour_ms")
      .agg(count(lit(1)).as("cnt"))
    val st = h.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cnt")).as("s"),
           sum(col("cnt") * col("cnt")).as("q"))
      .filter(col("n") >= 2)
      .select(col("event_type"),
        (dbl(col("s")) / col("n")).as("mean"),
        sqrt(dbl(col("n") * col("q") - col("s") * col("s")) /
          dbl(col("n") * (col("n") - 1))).as("sd"))
    h.join(broadcast(st), "event_type")
      .select(col("cnt"), col("mean"), col("sd"),
        explode(array(lit(2), lit(3), lit(4))).as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_cells"),
           sum(when(dbl(col("cnt")) > col("mean") + col("k") * col("sd"), 1L)
             .otherwise(0L)).as("n_alerts"))
      .select(col("k"), col("n_cells"), col("n_alerts"),
        round(dbl(col("n_alerts")) / col("n_cells"), 6).as("alert_rate"))
      .orderBy("k")
  }
  val e88Sql: String =
    """WITH h AS (
      |  SELECT event_type, epoch_ms(ts) - epoch_ms(ts) % 3600000 AS hour_ms,
      |    COUNT(*)::BIGINT AS cnt
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n, SUM(cnt)::BIGINT AS s,
      |    SUM(cnt*cnt)::BIGINT AS q
      |  FROM h GROUP BY 1 HAVING COUNT(*) >= 2),
      |t AS (
      |  SELECT event_type, CAST(s AS DOUBLE) / n AS mean,
      |    sqrt(CAST(n*q - s*s AS DOUBLE) / CAST(n*(n-1) AS DOUBLE)) AS sd
      |  FROM st),
      |j AS (
      |  SELECT cnt, mean, sd, k
      |  FROM h JOIN t USING (event_type)
      |  CROSS JOIN (VALUES (2), (3), (4)) ks(k))
      |SELECT k, COUNT(*)::BIGINT AS n_cells,
      |  SUM(CASE WHEN CAST(cnt AS DOUBLE) > mean + k * sd
      |      THEN 1 ELSE 0 END)::BIGINT AS n_alerts,
      |  ROUND(CAST(SUM(CASE WHEN CAST(cnt AS DOUBLE) > mean + k * sd
      |      THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS alert_rate
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e89
  /** Funnel step-dwell profile: per transition of e03's ordered funnel
    * (first view → first later click → first later purchase), the user
    * count, EXACT median dwell, and max dwell — e03 says how many users
    * survive each step and e19 prices the whole view→purchase journey;
    * this isolates WHICH hop users stall on, the number a funnel owner
    * tunes against.
    *
    * Scale: e03's chain of co-keyed min-aggregations (the fact shuffles
    * once per step on uniform user_id), then q18's bracketing-rank
    * median over windows partitioned by the transition label — 2 groups,
    * so the same per-group caveat as q18's segments (heavy groups spill;
    * at extreme scale the sketch path is a fixed-width dwell histogram).
    * Output is exactly 2 rows. */
  def e89(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select("user_id", "event_type", "ms")
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ms").as("vms"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ms") > col("vms"))
      .groupBy("user_id").agg(min("ms").as("cms"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c.select("user_id", "cms"), "user_id")
      .filter(col("ms") > col("cms"))
      .groupBy("user_id").agg(min("ms").as("pms"))
    val lags = c.join(v, "user_id")
      .select(lit("a_view_to_click").as("transition"), col("user_id"),
        (col("cms") - col("vms")).as("lag"))
      .unionByName(p.join(c, "user_id")
        .select(lit("b_click_to_purchase").as("transition"), col("user_id"),
          (col("pms") - col("cms")).as("lag")))
    val w = Window.partitionBy("transition").orderBy(col("lag"), col("user_id"))
    val wc = Window.partitionBy("transition")
    val med = lags
      .select(col("transition"), col("lag"),
        row_number().over(w).cast("long").as("rn"),
        count(lit(1)).over(wc).as("cnt"))
      .filter(col("rn") === floor((col("cnt") + 1) / 2) ||
        col("rn") === floor((col("cnt") + 2) / 2))
      .groupBy("transition")
      .agg(round(sum(col("lag")).cast("double") / count(lit(1)), 6)
        .as("median_lag_ms"))
    lags.groupBy("transition")
      .agg(count(lit(1)).as("n_users"), max(col("lag")).as("max_lag_ms"))
      .join(med, "transition")
      .select("transition", "n_users", "median_lag_ms", "max_lag_ms")
      .orderBy("transition")
  }
  val e89Sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |v AS (SELECT user_id, MIN(ms) AS vms FROM e WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(ms) AS cms FROM e JOIN v ON e.user_id = v.user_id
      |      WHERE event_type = 'click' AND ms > vms GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(ms) AS pms FROM e JOIN c ON e.user_id = c.user_id
      |      WHERE event_type = 'purchase' AND ms > cms GROUP BY e.user_id),
      |l AS (
      |  SELECT 'a_view_to_click' AS transition, c.user_id, cms - vms AS lag
      |  FROM c JOIN v ON c.user_id = v.user_id
      |  UNION ALL
      |  SELECT 'b_click_to_purchase', p.user_id, pms - cms
      |  FROM p JOIN c ON p.user_id = c.user_id),
      |r AS (
      |  SELECT transition, lag,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY transition ORDER BY lag, user_id) AS BIGINT) AS rn,
      |    COUNT(*) OVER (PARTITION BY transition) AS cnt
      |  FROM l),
      |med AS (
      |  SELECT transition, ROUND(CAST(SUM(lag) AS DOUBLE) / COUNT(*), 6) AS median_lag_ms
      |  FROM r WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2 GROUP BY 1),
      |stats AS (
      |  SELECT transition, COUNT(*)::BIGINT AS n_users, MAX(lag) AS max_lag_ms
      |  FROM l GROUP BY 1)
      |SELECT transition, n_users, median_lag_ms, max_lag_ms
      |FROM stats JOIN med USING (transition) ORDER BY transition""".stripMargin

  // ---------------------------------------------------------------- e90
  /** Transition-lag matrix: EXACT median and max gap per (event_type →
    * next_type) cell — the robust pricing of e12's Markov matrix, whose
    * MEAN gap a single dormant user can drag by orders of magnitude
    * (gaps are heavy-tailed by nature; the median is what "typical
    * dwell before the next step" actually means).
    *
    * Scale: e12's one lead() window partitioned by user (bounded
    * per-key state), then q18's bracketing-rank median over windows
    * partitioned by the ≤\|types\|² cell key — the same per-group spill
    * caveat as e89 with 25 groups. Output ≤25 rows. */
  def e90(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val lags = Tables.events(spark, dir)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("gap_ms", lead(col("ms"), 1).over(w) - col("ms"))
      .filter(col("next_type").isNotNull)
      .select(col("event_type"), col("next_type"), col("gap_ms"), col("event_id"))
    val wm = Window.partitionBy("event_type", "next_type")
      .orderBy(col("gap_ms"), col("event_id"))
    val wc = Window.partitionBy("event_type", "next_type")
    val med = lags
      .select(col("event_type"), col("next_type"), col("gap_ms"),
        row_number().over(wm).cast("long").as("rn"),
        count(lit(1)).over(wc).as("cnt"))
      .filter(col("rn") === floor((col("cnt") + 1) / 2) ||
        col("rn") === floor((col("cnt") + 2) / 2))
      .groupBy("event_type", "next_type")
      .agg(round(sum(col("gap_ms")).cast("double") / count(lit(1)), 6)
        .as("median_gap_ms"))
    lags.groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n"), max(col("gap_ms")).as("max_gap_ms"))
      .join(med, Seq("event_type", "next_type"))
      .select("event_type", "next_type", "n", "median_gap_ms", "max_gap_ms")
      .orderBy("event_type", "next_type")
  }
  val e90Sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
      |l AS (
      |  SELECT event_type, event_id,
      |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS next_type,
      |    LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) - ms AS gap_ms
      |  FROM e),
      |f AS (SELECT * FROM l WHERE next_type IS NOT NULL),
      |r AS (
      |  SELECT event_type, next_type, gap_ms,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type, next_type
      |                            ORDER BY gap_ms, event_id) AS BIGINT) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type, next_type) AS cnt
      |  FROM f),
      |med AS (
      |  SELECT event_type, next_type,
      |    ROUND(CAST(SUM(gap_ms) AS DOUBLE) / COUNT(*), 6) AS median_gap_ms
      |  FROM r WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2 GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type, next_type, COUNT(*)::BIGINT AS n, MAX(gap_ms) AS max_gap_ms
      |  FROM f GROUP BY 1, 2)
      |SELECT st.event_type, st.next_type, n, median_gap_ms, max_gap_ms
      |FROM st JOIN med USING (event_type, next_type)
      |ORDER BY event_type, next_type""".stripMargin

  // ---------------------------------------------------------------- e91
  /** Event-time disorder census — the artifact that PICKS the streaming
    * watermark instead of guessing it: per event, lateness = how far
    * its event time sits behind the running per-user maximum in ARRIVAL
    * order (event_id), banded into on-time / <1 min / <1 h / <1 d /
    * ≥1 d with shares. A `withWatermark("1 hour")` keeps exactly the
    * mass in the first three bands; whatever sits below is what the
    * stateful stages (sessionizer, funnel, reactivation) silently drop,
    * and ReactivationStage's monotone-state contract is sized by the
    * same number.
    *
    * The band DOMAIN is fixed (all five rows always present, zeros
    * explicit) so a perfectly ordered feed reads as the affirmative
    * answer it is — share 1.0 on-time, tighten the watermark — rather
    * than a collapsed histogram.
    *
    * Scale: ONE running-max window partitioned by user_id in arrival
    * order (bounded per-key state — the same key the streaming state
    * stores use, so the census measures the disorder those stores will
    * actually see), then a ≤5-row map-combinable rollup joined onto the
    * constant 5-row band domain and a 1-row total broadcast. */
  def e91(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val counted = Tables.events(spark, dir)
      .withColumn("lateness", max(col("ms")).over(w) - col("ms"))
      .groupBy(when(col("lateness") === 0L, "a_on_time")
        .when(col("lateness") < 60000L, "b_lt_1m")
        .when(col("lateness") < 3600000L, "c_lt_1h")
        .when(col("lateness") < 86400000L, "d_lt_1d")
        .otherwise("e_ge_1d").as("lateness_band"))
      .agg(count(lit(1)).as("n"), max(col("lateness")).as("mx"))
    import spark.implicits._
    val domain = Seq("a_on_time", "b_lt_1m", "c_lt_1h", "d_lt_1d", "e_ge_1d")
      .toDF("lateness_band")
    domain.join(counted, Seq("lateness_band"), "left")
      .join(broadcast(counted.agg(sum(col("n")).as("tot"))))
      .select(col("lateness_band"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        round(coalesce(dbl(col("n")), lit(0.0d)) / dbl(col("tot")), 6).as("share"),
        coalesce(col("mx"), lit(0L)).as("max_lateness_ms"))
      .orderBy("lateness_band")
  }
  val e91Sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
      |l AS (
      |  SELECT MAX(ms) OVER (PARTITION BY user_id ORDER BY event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ms AS lateness
      |  FROM e),
      |g AS (
      |  SELECT CASE WHEN lateness = 0 THEN 'a_on_time'
      |              WHEN lateness < 60000 THEN 'b_lt_1m'
      |              WHEN lateness < 3600000 THEN 'c_lt_1h'
      |              WHEN lateness < 86400000 THEN 'd_lt_1d'
      |              ELSE 'e_ge_1d' END AS lateness_band,
      |    COUNT(*)::BIGINT AS n, MAX(lateness) AS mx
      |  FROM l GROUP BY 1),
      |dom AS (SELECT * FROM (VALUES ('a_on_time'), ('b_lt_1m'), ('c_lt_1h'),
      |        ('d_lt_1d'), ('e_ge_1d')) v(lateness_band)),
      |t AS (SELECT SUM(n) AS tot FROM g)
      |SELECT dom.lateness_band,
      |  COALESCE(n, 0)::BIGINT AS n_events,
      |  ROUND(COALESCE(CAST(n AS DOUBLE), 0.0) / CAST(tot AS DOUBLE), 6) AS share,
      |  COALESCE(mx, 0)::BIGINT AS max_lateness_ms
      |FROM dom LEFT JOIN g ON dom.lateness_band = g.lateness_band
      |CROSS JOIN t ORDER BY dom.lateness_band""".stripMargin

  // ---------------------------------------------------------------- e92
  /** Week-1 retention by ENTRY type: for each user's first-ever event
    * type (e53's deterministic struct-argmin), the share of users active
    * on any of days 1–7 after day 0 — e04 says the base retains X%,
    * e53 says where users enter; this joins them into "which acquisition
    * flow retains", the number that reprioritizes onboarding work.
    *
    * Scale: one map-combinable struct-argmin per user (no window), the
    * distinct active-day frame e04 uses, one uniform user_id join, a
    * ≤\|types\|-row rollup with ONE division per row. */
  def e92(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val first = e.groupBy("user_id")
      .agg(min(struct(col("ms"), col("event_id"), col("event_type"))).as("f"))
      .select(col("user_id"), col("f.event_type").as("entry_type"),
        floor(col("f.ms") / lit(86400000.0d)).cast("long").as("day0"))
    val days = e.select(col("user_id"),
      floor(col("ms") / lit(86400000.0d)).cast("long").as("day")).distinct()
    val retained = days.join(first.select("user_id", "day0"), "user_id")
      .filter((col("day") - col("day0")).between(1L, 7L))
      .select("user_id").distinct()
      .withColumn("retained", lit(1L))
    first.join(retained, Seq("user_id"), "left")
      .groupBy("entry_type")
      .agg(count(lit(1)).as("n_users"),
        sum(coalesce(col("retained"), lit(0L))).as("n_retained"))
      .select(col("entry_type"), col("n_users"), col("n_retained"),
        round(col("n_retained").cast("double") / col("n_users"), 6)
          .as("week1_retention"))
      .orderBy("entry_type")
  }
  val e92Sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
      |f AS (
      |  SELECT user_id, event_type AS entry_type,
      |    CAST(FLOOR(ms / 86400000.0) AS BIGINT) AS day0
      |  FROM (SELECT user_id, event_type, ms,
      |          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ms, event_id) AS rn
      |        FROM e)
      |  WHERE rn = 1),
      |d AS (SELECT DISTINCT user_id, CAST(FLOOR(ms / 86400000.0) AS BIGINT) AS day FROM e),
      |r AS (
      |  SELECT DISTINCT d.user_id FROM d JOIN f ON d.user_id = f.user_id
      |  WHERE d.day - f.day0 BETWEEN 1 AND 7)
      |SELECT entry_type, COUNT(*)::BIGINT AS n_users,
      |  SUM(CASE WHEN r.user_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_retained,
      |  ROUND(CAST(SUM(CASE WHEN r.user_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |        / COUNT(*), 6) AS week1_retention
      |FROM f LEFT JOIN r ON f.user_id = r.user_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e93
  /** Session-gap calibration sweep: session count and mean
    * events-per-session at gap thresholds 15/30/60 min — the number
    * that makes e01's (and the streaming sessionizer's) 30-minute gap a
    * measured choice. The sweep needs NO per-threshold sessionization:
    * n_sessions(g) = n_users + #\{inter-event gaps > g\}, so ONE lag
    * window pass (user-partitioned, bounded state) and three
    * conditional sums answer every threshold; a flat count across
    * thresholds means sessions are robust to the knob, a steep slope
    * means the corpus has no natural session boundary.
    *
    * Scale: one window + one map-combinable 1-row aggregate, unpivoted
    * to 3 rows. */
  def e93(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val g = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ms"))
      .withColumn("gap", col("ms") - lag(col("ms"), 1).over(w))
    val a = g.agg(count(lit(1)).as("n_events"),
      countDistinct(col("user_id")).as("n_users"),
      sum(when(col("gap") > 15L * 60000L, 1L).otherwise(0L)).as("c15"),
      sum(when(col("gap") > 30L * 60000L, 1L).otherwise(0L)).as("c30"),
      sum(when(col("gap") > 60L * 60000L, 1L).otherwise(0L)).as("c60"))
    Seq((15L, "c15"), (30L, "c30"), (60L, "c60")).map { case (m, c) =>
      a.select(lit(m).as("gap_min"),
        (col("n_users") + col(c)).as("n_sessions"),
        round(col("n_events").cast("double") / (col("n_users") + col(c)), 6)
          .as("mean_events_per_session"))
    }.reduce(_.unionByName(_)).orderBy("gap_min")
  }
  val e93Sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
      |g AS (
      |  SELECT user_id,
      |    ms - LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS gap
      |  FROM e),
      |a AS (
      |  SELECT COUNT(*)::BIGINT AS n_events,
      |    COUNT(DISTINCT user_id)::BIGINT AS n_users,
      |    SUM(CASE WHEN gap > 900000 THEN 1 ELSE 0 END)::BIGINT AS c15,
      |    SUM(CASE WHEN gap > 1800000 THEN 1 ELSE 0 END)::BIGINT AS c30,
      |    SUM(CASE WHEN gap > 3600000 THEN 1 ELSE 0 END)::BIGINT AS c60
      |  FROM g)
      |SELECT 15::BIGINT AS gap_min, n_users + c15 AS n_sessions,
      |  ROUND(CAST(n_events AS DOUBLE) / (n_users + c15), 6) AS mean_events_per_session
      |FROM a
      |UNION ALL SELECT 30, n_users + c30,
      |  ROUND(CAST(n_events AS DOUBLE) / (n_users + c30), 6) FROM a
      |UNION ALL SELECT 60, n_users + c60,
      |  ROUND(CAST(n_events AS DOUBLE) / (n_users + c60), 6) FROM a
      |ORDER BY gap_min""".stripMargin

  // ---------------------------------------------------------------- e94
  /** Anomaly-method agreement: over the daily volume series, the days
    * flagged by a STATIC two-sided 3σ test (e13's exact integer
    * cross-multiplication, day grain) vs e85's ADAPTIVE EWMA-residual
    * screen, and their overlap — the artifact that decides which alarm
    * a team pages on: high static-only counts mean trend is being
    * mistaken for anomaly (ramps permanently trip a static mean),
    * high adaptive-only counts mean level shifts the static σ absorbs.
    *
    * Scale: both methods reduce the day-grain frame (≤ a few thousand
    * rows at ANY event volume — e84's aggregation is the only
    * data-sized pass, shared between them), so the agreement join is
    * constant-sized. 1-row output, exact integer flag arithmetic. */
  def e94(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val v = e84(spark, dir).select(col("day"), col("n_events")).cache()
    val st = v.agg(count(lit(1)).as("n"), sum(col("n_events")).as("s"),
      sum(col("n_events") * col("n_events")).as("q"))
    val nD = col("n").cast(d38)
    val dev = nD * col("n_events").cast(d38) - col("s").cast(d38)
    val varNum = nD * col("q").cast(d38) - col("s").cast(d38) * col("s").cast(d38)
    val sFlag = v.join(broadcast(st))
      .filter(col("n") >= 2 && dev * dev * (nD - 1) > lit(9).cast(d38) * nD * varNum)
      .select(col("day"))
    val aFlag = e85(spark, dir).select(col("day"))
    val both = sFlag.join(aFlag, "day")
    v.agg(count(lit(1)).as("n_days"))
      .join(broadcast(sFlag.agg(count(lit(1)).as("flagged_static"))))
      .join(broadcast(aFlag.agg(count(lit(1)).as("flagged_adaptive"))))
      .join(broadcast(both.agg(count(lit(1)).as("flagged_both"))))
  }
  val e94Sql: String =
    s"""WITH v AS (SELECT day, n_events FROM (${e84Sql.replace("ORDER BY day", "")})),
       |st AS (
       |  SELECT COUNT(*)::BIGINT AS n, SUM(n_events)::BIGINT AS s,
       |    SUM(n_events * n_events)::BIGINT AS q
       |  FROM v),
       |sflag AS (
       |  SELECT day FROM v CROSS JOIN st
       |  WHERE n >= 2 AND
       |    (CAST(n AS HUGEINT) * n_events - s) * (CAST(n AS HUGEINT) * n_events - s)
       |      * (n - 1)
       |    > 9 * CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s)),
       |aflag AS (SELECT day FROM ($e85Sql))
       |SELECT (SELECT COUNT(*) FROM v)::BIGINT AS n_days,
       |  (SELECT COUNT(*) FROM sflag)::BIGINT AS flagged_static,
       |  (SELECT COUNT(*) FROM aflag)::BIGINT AS flagged_adaptive,
       |  (SELECT COUNT(*) FROM sflag JOIN aflag USING (day))::BIGINT AS flagged_both""".stripMargin

  // ---------------------------------------------------------------- e95
  /** Payload-property lift screen: conversion and spend by decile band
    * of the event payload's `k` property — the first question asked of
    * any instrumented attribute ("does k predict purchase?"). Per
    * band: event count, purchase count, purchase rate, and mean
    * purchase value (cent-exact integer sum, ONE division, NULL for a
    * purchase-free band in both engines).
    *
    * Scale: one map-combinable pass over the fact scan (JSON extract is
    * codegen'd `get_json_object`); output bounded at 10 bands. */
  def e95(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(expr("least(cast(get_json_object(props, '$.k') as bigint) div 10, 9L)")
          .as("k_band"),
        col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("k_band")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        sum(when(col("event_type") === "purchase", col("cents"))
          .otherwise(0L)).as("pc"))
      .select(col("k_band"), col("n_events"), col("n_purchases"),
        round(dbl(col("n_purchases")) / col("n_events"), 6).as("purchase_rate"),
        round(when(col("n_purchases") > 0,
          dbl(col("pc")) / col("n_purchases") / 100.0d), 6)
          .as("mean_purchase_value"))
      .orderBy("k_band")
  val e95Sql: String =
    """WITH e AS (
      |  SELECT LEAST(CAST(props->>'$.k' AS BIGINT) // 10, 9) AS k_band,
      |    event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |a AS (
      |  SELECT k_band, COUNT(*)::BIGINT AS n_events,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchases,
      |    SUM(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)::BIGINT AS pc
      |  FROM e GROUP BY 1)
      |SELECT k_band, n_events, n_purchases,
      |  ROUND(CAST(n_purchases AS DOUBLE) / n_events, 6) AS purchase_rate,
      |  ROUND(CASE WHEN n_purchases > 0
      |    THEN CAST(pc AS DOUBLE) / n_purchases / 100.0 END, 6) AS mean_purchase_value
      |FROM a ORDER BY k_band""".stripMargin

  // ---------------------------------------------------------------- e96
  /** Peak session concurrency per day: sessions (e01's 30-min gap) are
    * expanded to the minutes they cover; concurrency at a minute is the
    * number of covering sessions, and each day reports its peak, the
    * earliest minute achieving it, and the count of minutes with any
    * load — the capacity-planning curve ("size for the peak, not the
    * mean") that DAU-style counts (e14/e49) structurally understate.
    * Days are epoch days (ms div 86 400 000), e04's convention.
    *
    * Scale: the explode is bounded by Σ session-minutes (a 30-min-gap
    * session covers its own duration, so total fan-out ≈ active user-
    * minutes — the quantity being measured); concurrency shuffles once
    * on the minute key and the day rollup rides a day-partitioned
    * window over the |minutes|-bounded frame. */
  def e96(spark: SparkSession, dir: String): DataFrame = {
    val wd = Window.partitionBy("day")
    sessionize(Tables.events(spark, dir))
      .select(explode(expr("sequence(start_ms div 60000, end_ms div 60000)"))
        .as("minute"))
      .groupBy("minute").agg(count(lit(1)).as("conc"))
      .withColumn("day", expr("minute div 1440"))
      .withColumn("peak_concurrency", max(col("conc")).over(wd))
      .withColumn("active_minutes", count(lit(1)).over(wd))
      .filter(col("conc") === col("peak_concurrency"))
      .groupBy("day", "peak_concurrency", "active_minutes")
      .agg(min(col("minute")).as("peak_minute"))
      .select("day", "peak_concurrency", "peak_minute", "active_minutes")
      .orderBy("day")
  }
  val e96Sql: String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
       |l AS (SELECT *, LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e),
       |f AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > $GapMs THEN 1 ELSE 0 END AS new_sess FROM l),
       |s AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx FROM f),
       |sess AS (SELECT user_id, sess_idx, MIN(ms) AS start_ms, MAX(ms) AS end_ms
       |  FROM s GROUP BY 1, 2),
       |mins AS (SELECT UNNEST(generate_series(start_ms // 60000, end_ms // 60000)) AS minute
       |  FROM sess),
       |c AS (SELECT minute, COUNT(*)::BIGINT AS conc FROM mins GROUP BY 1),
       |d AS (SELECT minute, conc, minute // 1440 AS day FROM c),
       |r AS (SELECT *, MAX(conc) OVER (PARTITION BY day) AS peak_concurrency,
       |        COUNT(*) OVER (PARTITION BY day)::BIGINT AS active_minutes FROM d)
       |SELECT day, peak_concurrency, MIN(minute) AS peak_minute, active_minutes
       |FROM r WHERE conc = peak_concurrency
       |GROUP BY day, peak_concurrency, active_minutes
       |ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- e97
  /** Error-burst screen: per user, the LARGEST number of error events
    * inside any trailing 5-minute window (a RANGE frame over event-time
    * ms), histogrammed by burst size (capped at 10+) with the share of
    * error-having users per band — ≥3 errors in 5 minutes is a stuck
    * client or a rage loop, and the burst histogram separates "errors
    * are diffuse background" from "errors concentrate on broken users".
    *
    * Scale: one filtered scan, a user-partitioned range window (never
    * global), a |user|-bounded max rollup, a ≤10-row histogram; the
    * share denominator is a 1-row broadcast. */
  /** Per-user max trailing-5-min error-burst size (e97's inner frame;
    * ErrorBurstParitySpec holds the streaming stage to it exactly). */
  private[graft] def errorBurstFrame(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"))
      .rangeBetween(-300000L, 0L)
    events
      .filter(col("event_type") === "error")
      .select(col("user_id"), col("ms"))
      .withColumn("burst", count(lit(1)).over(w))
      .groupBy("user_id").agg(max(col("burst")).as("max_burst"))
  }

  def e97(spark: SparkSession, dir: String): DataFrame = {
    val perUser = errorBurstFrame(Tables.events(spark, dir))
    val tot = perUser.agg(count(lit(1)).as("n_users_total"))
    perUser.groupBy(least(col("max_burst"), lit(10L)).as("burst_band"))
      .agg(count(lit(1)).as("n_users"))
      .join(broadcast(tot))
      .select(col("burst_band"), col("n_users"),
        round(dbl(col("n_users")) / col("n_users_total"), 6).as("share"))
      .orderBy("burst_band")
  }
  val e97Sql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events WHERE event_type = 'error'),
      |b AS (SELECT user_id,
      |    COUNT(*) OVER (PARTITION BY user_id ORDER BY ms
      |      RANGE BETWEEN 300000 PRECEDING AND CURRENT ROW) AS burst
      |  FROM e),
      |u AS (SELECT user_id, CAST(MAX(burst) AS BIGINT) AS max_burst FROM b GROUP BY 1),
      |t AS (SELECT COUNT(*)::BIGINT AS n_users_total FROM u)
      |SELECT LEAST(max_burst, 10) AS burst_band, COUNT(*)::BIGINT AS n_users,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) / n_users_total, 6) AS share
      |FROM u CROSS JOIN t
      |GROUP BY burst_band, n_users_total ORDER BY burst_band""".stripMargin

  // ---------------------------------------------------------------- e98
  /** Behavioral run-length profile: consecutive same-type event runs
    * per user (ordered by ms, event_id), rolled up per event type to
    * run count, mean run length (exact-integer division), and max run.
    * Long view/click runs are scripted scraping or a stuck client; a
    * purchase run >1 is usually double-submit — the census that says
    * which before anyone writes the filter.
    *
    * Scale: one user-partitioned lag/cumsum window pass (e01's shape),
    * a (user, run) rollup sharing the same partitioning, and a
    * |types|-bounded final frame. */
  /** The (user_id, run_idx, event_type, run_len) frame under e98's run
    * definition (RunLengthParitySpec holds the streaming stage to it). */
  private[graft] def typeRunFrame(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), col("event_type"), col("ms"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("new_run",
        when(col("prev_type").isNull || col("prev_type") =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run_idx", sum(col("new_run")).over(wr))
      .groupBy("user_id", "run_idx", "event_type")
      .agg(count(lit(1)).as("run_len"))
  }

  def e98(spark: SparkSession, dir: String): DataFrame = {
    typeRunFrame(Tables.events(spark, dir))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_runs"), sum(col("run_len")).as("n_events"),
        round(dbl(sum(col("run_len"))) / count(lit(1)), 6).as("mean_run_len"),
        max(col("run_len")).as("max_run_len"))
      .orderBy("event_type")
  }
  val e98Sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
      |l AS (SELECT *, LAG(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id)
      |        AS prev_type FROM e),
      |f AS (SELECT *, CASE WHEN prev_type IS NULL OR prev_type <> event_type
      |        THEN 1 ELSE 0 END AS new_run FROM l),
      |r AS (SELECT *, SUM(new_run) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_idx FROM f),
      |runs AS (SELECT user_id, run_idx, event_type, COUNT(*)::BIGINT AS run_len
      |  FROM r GROUP BY 1, 2, 3)
      |SELECT event_type, COUNT(*)::BIGINT AS n_runs, SUM(run_len)::BIGINT AS n_events,
      |  ROUND(CAST(SUM(run_len) AS DOUBLE) / COUNT(*), 6) AS mean_run_len,
      |  MAX(run_len) AS max_run_len
      |FROM runs GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e99
  /** User rhythm-regularity census: each user's modal-hour share (events
    * in their single busiest hour-of-day / total events, users ≥ 20
    * events), binned into ten share bands — bots and schedulers live in
    * the 0.9–1.0 band, diffuse human activity near 1/24. Share is one
    * IEEE division of exact integer counts; band = floor(share·10)
    * capped at 9; per-band share averages use round6-quantized decimal
    * sums so the rollup is order-independent.
    *
    * Scale: two map-combinable groupBys — (user, hr) then user (≤24 rows
    * folded via a max over the per-hour counts, never a window) — then a
    * 10-row band rollup. No window, no skew hazard. */
  def e99(spark: SparkSession, dir: String): DataFrame = {
    val uh = Tables.events(spark, dir)
      .select(col("user_id"), (floor(col("ms") / 3600000L) % 24).cast("long").as("hr"))
      .groupBy("user_id", "hr").agg(count(lit(1)).as("n"))
    val per = uh.groupBy("user_id")
      .agg(sum(col("n")).as("total"), max(col("n")).as("modal"))
      .filter(col("total") >= 20)
      .withColumn("share", dbl(col("modal")) / col("total"))
      .withColumn("band", least(floor(col("share") * 10), lit(9L)).cast("long"))
    per.groupBy("band")
      .agg(count(lit(1)).as("n_users"),
        round(dbl(sum(col("total"))) / count(lit(1)), 6).as("avg_events"),
        round(dbl(sum(round(col("share"), 6).cast("decimal(18,6)"))) / count(lit(1)), 6).as("avg_share"))
      .orderBy("band")
  }
  val e99Sql: String =
    """WITH uh AS (
      |  SELECT user_id, (epoch_ms(ts) // 3600000) % 24 AS hr, COUNT(*)::BIGINT AS n
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT user_id, SUM(n)::BIGINT AS total, MAX(n)::BIGINT AS modal
      |  FROM uh GROUP BY 1 HAVING SUM(n) >= 20),
      |s AS (
      |  SELECT user_id, total,
      |    CAST(modal AS DOUBLE) / total AS share
      |  FROM p),
      |b AS (
      |  SELECT total, share,
      |    CAST(least(floor(share * 10), 9) AS BIGINT) AS band
      |  FROM s)
      |SELECT band, COUNT(*)::BIGINT AS n_users,
      |  ROUND(CAST(SUM(total) AS DOUBLE) / COUNT(*), 6) AS avg_events,
      |  ROUND(CAST(SUM(CAST(ROUND(share, 6) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_share
      |FROM b GROUP BY band ORDER BY band""".stripMargin

  // ---------------------------------------------------------------- e100
  /** Behavioral-stability census: for each user with ≥ 20 events, the
    * cosine similarity between their FIRST-half and SECOND-half
    * event-type count vectors (timeline split at the per-user median
    * event index), banded into deciles — drifting users (new feature
    * adoption, account takeover, bot replacement) fall out of the top
    * band. All vector sums are exact BIGINT (counts and count products);
    * the cosine is one IEEE sqrt + one division of exact operands, so
    * both engines compute identical bits. Both halves are non-empty by
    * the ≥ 20-event gate, so no 0/0 corner exists.
    *
    * Scale: one user-partitioned window pass (count + row_number share
    * the shuffle), then two map-combinable groupBys — (user, type)
    * folding halves side by side (no self-join of half frames), then
    * user — and a 10-row band rollup. */
  def e100(spark: SparkSession, dir: String): DataFrame = {
    val wu = Window.partitionBy("user_id")
    val wo = Window.partitionBy("user_id").orderBy("ms", "event_id")
    val per = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ms"))
      .withColumn("n", count(lit(1)).over(wu))
      .filter(col("n") >= 20)
      .withColumn("h1", when(row_number().over(wo) * 2 <= col("n"), 1L).otherwise(0L))
      .groupBy("user_id", "event_type")
      .agg(sum(col("h1")).as("c1"), sum(lit(1L) - col("h1")).as("c2"))
      .groupBy("user_id")
      .agg(sum(col("c1") * col("c2")).as("s12"),
        sum(col("c1") * col("c1")).as("s11"),
        sum(col("c2") * col("c2")).as("s22"),
        sum(col("c1") + col("c2")).as("total"))
      .withColumn("cos", dbl(col("s12")) / sqrt(dbl(col("s11") * col("s22"))))
      .withColumn("band", least(floor(col("cos") * 10), lit(9L)).cast("long"))
    per.groupBy("band")
      .agg(count(lit(1)).as("n_users"),
        round(dbl(sum(round(col("cos"), 6).cast("decimal(18,6)"))) / count(lit(1)), 6)
          .as("avg_cos"),
        round(dbl(sum(col("total"))) / count(lit(1)), 6).as("avg_events"))
      .orderBy("band")
  }
  val e100Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn
      |  FROM events),
      |ut AS (
      |  SELECT user_id, event_type,
      |    SUM(CASE WHEN rn * 2 <= n THEN 1 ELSE 0 END)::BIGINT AS c1,
      |    SUM(CASE WHEN rn * 2 <= n THEN 0 ELSE 1 END)::BIGINT AS c2
      |  FROM e WHERE n >= 20 GROUP BY 1, 2),
      |u AS (
      |  SELECT user_id,
      |    SUM(c1 * c2)::BIGINT AS s12, SUM(c1 * c1)::BIGINT AS s11,
      |    SUM(c2 * c2)::BIGINT AS s22, SUM(c1 + c2)::BIGINT AS total
      |  FROM ut GROUP BY 1),
      |c AS (
      |  SELECT user_id, total,
      |    CAST(s12 AS DOUBLE) / sqrt(CAST(s11 * s22 AS DOUBLE)) AS cos
      |  FROM u),
      |b AS (
      |  SELECT total, cos,
      |    CAST(least(floor(cos * 10), 9) AS BIGINT) AS band
      |  FROM c)
      |SELECT band, COUNT(*)::BIGINT AS n_users,
      |  ROUND(CAST(SUM(CAST(ROUND(cos, 6) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_cos,
      |  ROUND(CAST(SUM(total) AS DOUBLE) / COUNT(*), 6) AS avg_events
      |FROM b GROUP BY band ORDER BY band""".stripMargin

  // --------------------------------------------------------------- e101
  /** HyperLogLog cardinality-sketch audit: per-day exact distinct users
    * vs Spark's approx_count_distinct (HLL++, rsd 0.05) with the signed
    * relative error — q108's sketch-vs-exact evidence pattern applied to
    * the OTHER sketch a 100 TB pipeline leans on. At target scale the
    * exact DISTINCT is the expensive side (a full user-day shuffle); the
    * sketch is one map-combinable pass with a few-KB state per day, and
    * this audit is the artifact that licenses replacing one with the
    * other. No DuckDB oracle (HLL++ is engine-specific) — rows-only, with
    * an EventsHllAuditSpec bound: every |rel_err| ≤ 3×rsd and the day
    * domain equals the exact day census. */
  def e101(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(expr("ms div 86400000").as("day"), col("user_id"))
    base.groupBy("day")
      .agg(countDistinct(col("user_id")).as("exact_dau"),
        approx_count_distinct(col("user_id"), 0.05).as("approx_dau"))
      .select(col("day"), col("exact_dau"), col("approx_dau"),
        round((dbl(col("approx_dau")) - dbl(col("exact_dau"))) / dbl(col("exact_dau")), 6)
          .as("rel_err"))
      .orderBy("day")
  }

  // --------------------------------------------------------------- e102
  /** Markov stationary mix of the event-type chain: e12's row-normalized
    * transition matrix powered through 8 fixed iterations from the
    * uniform start, next to the OBSERVED event-type share — if the
    * chain's long-run mix diverges from the observed mix the process is
    * non-stationary (mix drifting over the capture window) and any
    * "steady state" capacity model built on the observed shares is
    * wrong. Each iteration re-quantizes the v·P products to
    * DECIMAL(18,9) before the per-type sum (order-independent), so all
    * 8 rounds are bit-deterministic in both engines (d47's PageRank
    * recipe on the type chain).
    *
    * Scale: ONE user-partitioned lag pass builds the |types|²-bounded
    * (type, next type) count frame, which also yields the per-type event
    * counts. That frame and everything derived from it runs on one
    * partition, so the row-normalising window, the observed shares and
    * the 8 iterations need no shuffle, and the iterations run as one
    * stage — constant work regardless of corpus size. */
  def e102(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    // a user's last event keeps a null next_type, so summing n over
    // next_type gives each type's event count. coalesce(1): every
    // distribution required below is satisfied by SinglePartition
    val pairs = Tables.events(spark, dir)
      .select(col("event_type"), lead(col("event_type"), 1).over(w).as("next_type"))
      .groupBy("event_type", "next_type").agg(count(lit(1)).as("n"))
      .coalesce(1)
    val p = pairs.filter(col("next_type").isNotNull)
      .withColumn("row_n", sum(col("n")).over(Window.partitionBy("event_type")))
      .select(col("event_type").as("i"), col("next_type").as("j"),
        (dbl(col("n")) / dbl(col("row_n"))).as("p"))
    // coalesce: as non-nullable as a count
    val counts = pairs.groupBy("event_type")
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_events"))
    val typed = counts.crossJoin(broadcast(
      counts.agg(count(lit(1)).as("k"), sum(col("n_events")).as("tot"))))
    val v0 = typed.select(col("event_type").as("t"), (lit(1.0d) / dbl(col("k"))).as("v"))
    val vFinal = (1 to 8).foldLeft(v0) { (v, _) =>
      v.join(p, col("t") === col("i")).groupBy(col("j").as("t"))
        .agg(dbl(sum(round(col("v") * col("p"), 9).cast("decimal(18,9)"))).as("v"))
    }
    val observed = typed.select(col("event_type"), col("n_events"),
      (dbl(col("n_events")) / dbl(col("tot"))).as("observed_share"))
    vFinal.join(observed, col("t") === col("event_type"))
      .select(col("event_type"), col("n_events"),
        round(col("observed_share"), 6).as("observed_share"),
        round(col("v"), 6).as("stationary_prob"),
        round(col("v") - col("observed_share"), 6).as("mix_gap"))
      .orderBy("event_type")
  }
  val e102Sql: String = {
    val iters = (1 to 8).map { k =>
      s"""v$k AS (
         |  SELECT j AS t,
         |    CAST(SUM(CAST(ROUND(v * p, 9) AS DECIMAL(18,9))) AS DOUBLE) AS v
         |  FROM v${k - 1} JOIN p ON t = i GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
       |tr AS (
       |  SELECT event_type AS i,
       |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS j
       |  FROM e),
       |c AS (SELECT i, j, COUNT(*)::BIGINT AS n FROM tr WHERE j IS NOT NULL GROUP BY 1, 2),
       |p AS (
       |  SELECT i, j,
       |    CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY i) AS DOUBLE) AS p
       |  FROM c),
       |k AS (SELECT COUNT(DISTINCT event_type)::BIGINT AS k FROM events),
       |v0 AS (
       |  SELECT DISTINCT event_type AS t, 1.0::DOUBLE / CAST(k AS DOUBLE) AS v
       |  FROM events CROSS JOIN k),
       |$iters,
       |o AS (
       |  SELECT event_type, COUNT(*)::BIGINT AS n_events,
       |    CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS observed_share
       |  FROM events GROUP BY 1)
       |SELECT event_type, n_events,
       |  ROUND(observed_share, 6) AS observed_share,
       |  ROUND(v, 6) AS stationary_prob,
       |  ROUND(v - observed_share, 6) AS mix_gap
       |FROM v8 JOIN o ON t = event_type
       |ORDER BY event_type""".stripMargin
  }

  // --------------------------------------------------------------- e103
  /** KMV distinct sketch audit: per-day distinct users estimated by the
    * library's own kmv_distinct TypedImperativeAggregate (k = 64
    * minimum hash values; functions/SketchAggregates.scala) next to the
    * exact count — unlike e101's HLL++ row, this sketch's lattice-join
    * merge is order/partitioning-independent and its Carter–Wegman hash
    * is plain BIGINT arithmetic, so the estimate is reproduced
    * BIT-EXACTLY by the DuckDB oracle: a custom Catalyst aggregate with
    * a full hash-match correctness gate, not a rows-only pass. Days
    * under k are exact by construction (n_kept < k ⇒ est = n_kept);
    * above k the (k−1)·p/h_k estimator applies.
    *
    * Scale: state is 64 longs per open group regardless of user
    * cardinality; partial aggregation is map-side, so a 10⁹-user day
    * shuffles 64 values — the exact countDistinct alongside is the
    * expensive side and exists only as the audit's truth column. */
  def e103(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    Tables.events(spark, dir)
      .select(expr("ms div 86400000").as("day"), col("user_id"))
      .groupBy("day")
      .agg(countDistinct(col("user_id")).as("exact_dau"),
        expr("kmv_distinct(user_id, 64)").as("s"))
      .select(col("day"), col("exact_dau"),
        col("s.n_kept").as("n_kept"),
        col("s.kth_hash").as("kth_hash"),
        round(col("s.est_distinct"), 6).as("est_distinct"),
        round((col("s.est_distinct") - dbl(col("exact_dau"))) / dbl(col("exact_dau")), 6)
          .as("rel_err"))
      .orderBy("day")
  }
  val e103Sql: String =
    """WITH e AS (
      |  SELECT DISTINCT epoch_ms(ts) // 86400000 AS day,
      |    (1327217885 * (user_id % 2147483647) + 12345) % 2147483647 AS h,
      |    user_id
      |  FROM events),
      |x AS (SELECT day, COUNT(DISTINCT user_id)::BIGINT AS exact_dau FROM e GROUP BY 1),
      |hs AS (SELECT DISTINCT day, h FROM e),
      |r AS (
      |  SELECT day, h,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS BIGINT) AS rn
      |  FROM hs),
      |k AS (
      |  SELECT day, COUNT(*)::BIGINT AS n_kept,
      |    CAST(MAX(h) AS BIGINT) AS kth_hash
      |  FROM r WHERE rn <= 64 GROUP BY day)
      |SELECT k.day, exact_dau, n_kept, kth_hash,
      |  ROUND(CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
      |    ELSE CAST(63 AS DOUBLE) * CAST(2147483647 AS DOUBLE) / CAST(kth_hash AS DOUBLE)
      |  END, 6) AS est_distinct,
      |  ROUND((CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
      |    ELSE CAST(63 AS DOUBLE) * CAST(2147483647 AS DOUBLE) / CAST(kth_hash AS DOUBLE)
      |  END - CAST(exact_dau AS DOUBLE)) / CAST(exact_dau AS DOUBLE), 6) AS rel_err
      |FROM k JOIN x ON k.day = x.day
      |ORDER BY k.day""".stripMargin

  // --------------------------------------------------------------- e104
  /** Exponential goodness-of-fit for same-type interarrivals: per event
    * type, the empirical CDF of per-user same-type gaps at four fixed
    * horizons (1 m / 5 m / 30 m / 2 h) against the exponential CDF
    * 1 − e^(−t/mean) implied by the type's own mean gap — where the
    * empirical mass at short horizons EXCEEDS the exponential, arrivals
    * are bursty/self-exciting (retry loops, double-submits) and any
    * Poisson-based alert threshold (e13/e85's baselines) under-alarms.
    * Counts and gap sums are exact integers; the mean is one IEEE
    * division; exp() runs on bit-identical doubles in both engines.
    *
    * Scale: one (user, type)-partitioned lag pass (user-bounded,
    * skew-free — never partitioned by type alone), then a
    * |types|×4-key map-combinable rollup via a literal-array explode. */
  def e104(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ms"), col("event_id"))
    val gaps = Tables.events(spark, dir)
      .withColumn("gap", col("ms") - lag(col("ms"), 1).over(w))
      .filter(col("gap").isNotNull)
      .select(col("event_type"), col("gap"))
    gaps
      .select(col("event_type"), col("gap"),
        explode(lit(Array(60000L, 300000L, 1800000L, 7200000L))).as("t_ms"))
      .groupBy("event_type", "t_ms")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap")).as("gap_sum"),
        sum(when(col("gap") <= col("t_ms"), 1L).otherwise(0L)).as("n_le"))
      .select(col("event_type"), col("t_ms"), col("n_gaps"),
        round(dbl(col("n_le")) / col("n_gaps"), 6).as("emp_cdf"),
        round(lit(1.0d) - exp(-dbl(col("t_ms")) /
          (dbl(col("gap_sum")) / col("n_gaps"))), 6).as("exp_cdf"),
        round(dbl(col("n_le")) / col("n_gaps") -
          (lit(1.0d) - exp(-dbl(col("t_ms")) /
            (dbl(col("gap_sum")) / col("n_gaps")))), 6).as("burst_excess"))
      .orderBy("event_type", "t_ms")
  }
  val e104Sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
      |g AS (
      |  SELECT event_type,
      |    ms - LAG(ms) OVER (PARTITION BY user_id, event_type ORDER BY ms, event_id) AS gap
      |  FROM e),
      |f AS (
      |  SELECT event_type, gap, CAST(t_ms AS BIGINT) AS t_ms
      |  FROM g CROSS JOIN (SELECT UNNEST([60000, 300000, 1800000, 7200000]) AS t_ms)
      |  WHERE gap IS NOT NULL),
      |a AS (
      |  SELECT event_type, t_ms, COUNT(*)::BIGINT AS n_gaps,
      |    CAST(SUM(gap) AS BIGINT) AS gap_sum,
      |    SUM(CASE WHEN gap <= t_ms THEN 1 ELSE 0 END)::BIGINT AS n_le
      |  FROM f GROUP BY 1, 2)
      |SELECT event_type, t_ms, n_gaps,
      |  ROUND(CAST(n_le AS DOUBLE) / n_gaps, 6) AS emp_cdf,
      |  ROUND(1.0 - exp(-CAST(t_ms AS DOUBLE) / (CAST(gap_sum AS DOUBLE) / n_gaps)), 6)
      |    AS exp_cdf,
      |  ROUND(CAST(n_le AS DOUBLE) / n_gaps -
      |    (1.0 - exp(-CAST(t_ms AS DOUBLE) / (CAST(gap_sum AS DOUBLE) / n_gaps))), 6)
      |    AS burst_excess
      |FROM a ORDER BY event_type, t_ms""".stripMargin

  // --------------------------------------------------------------- e105
  /** Hourly-load autocorrelation at the rhythm lags: exact Pearson r of
    * the events-per-hour series against itself at lag 1 (momentum),
    * 24 (daily rhythm), and 168 (weekly rhythm) — the quantitative form
    * of e46/e54's visual profiles, and the statistic that says whether
    * load forecasting can key on hour-of-day/day-of-week at all. The
    * series values are exact BIGINT counts; every moment accumulates in
    * DECIMAL(38,0) (exact at any count magnitude), so r is a fixed
    * IEEE expression over exact operands — no rounding anywhere before
    * the output.
    *
    * Scale: the hour rollup is map-combinable; the lag join is an
    * equi-join on the shifted hour key over the bounded series frame
    * fanned ×3 by a literal lag array (q113's month recipe on the
    * hour domain). */
  def e105(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val series = Tables.events(spark, dir)
      .select(expr("ms div 3600000").as("hr"))
      .groupBy("hr").agg(count(lit(1)).as("x"))
    val lagged = series
      .select(col("hr"), col("x"), explode(lit(Array(1L, 24L, 168L))).as("lag"))
      .select((col("hr") + col("lag")).as("thr"), col("lag"), col("x"))
    val pairs = lagged.join(
        series.select(col("hr").as("thr"), col("x").as("y")), Seq("thr"))
    pairs.groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast(d38)).as("sxy"),
        sum((col("x") * col("x")).cast(d38)).as("sxx"),
        sum((col("y") * col("y")).cast(d38)).as("syy"))
      .select(col("lag"), col("n_pairs"),
        round((dbl(col("n_pairs")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))) /
          sqrt((dbl(col("n_pairs")) * dbl(col("sxx")) - dbl(col("sx")) * dbl(col("sx"))) *
               (dbl(col("n_pairs")) * dbl(col("syy")) - dbl(col("sy")) * dbl(col("sy")))), 6)
          .as("autocorr"))
      .orderBy("lag")
  }
  val e105Sql: String =
    """WITH s AS (
      |  SELECT epoch_ms(ts) // 3600000 AS hr, COUNT(*)::BIGINT AS x
      |  FROM events GROUP BY 1),
      |l AS (
      |  SELECT hr + lag AS thr, CAST(lag AS BIGINT) AS lag, x
      |  FROM s CROSS JOIN (SELECT UNNEST([1, 24, 168]) AS lag)),
      |p AS (SELECT lag, l.x AS x, s.x AS y FROM l JOIN s ON l.thr = s.hr),
      |m AS (
      |  SELECT lag, COUNT(*)::BIGINT AS n_pairs,
      |    SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
      |    CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
      |    CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
      |  FROM p GROUP BY 1)
      |SELECT lag, n_pairs,
      |  ROUND((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |      (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS autocorr
      |FROM m ORDER BY lag""".stripMargin


  // ---------------------------------------------------------------- e106
  /** LTV persistence: does a user's first-half spend predict their
    * second-half spend? Each user's lifetime is split at its own
    * midpoint (integer-ms midpoint of first/last event — exact in both
    * engines); per user the two half-spends are DECIMAL-exact cents;
    * the output is ONE exact-moment Pearson over users plus the
    * count — the number a retention team needs before trusting early
    * LTV as a targeting signal (e63 correlates lifespan with value;
    * this correlates value with value).
    *
    * Scale: one user-partitioned min/max (map-combinable), one
    * conditional cents rollup per user, one global moment rollup —
    * no window, 1-row output. */
  def e106(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .select(col("user_id"), col("ms"),
        when(col("event_type") === "purchase",
          (dec(col("value")) * 100).cast("long")).otherwise(0L).as("cents"))
      .withColumn("first_ms", min(col("ms")).over(Window.partitionBy("user_id")))
      .withColumn("last_ms", max(col("ms")).over(Window.partitionBy("user_id")))
      .groupBy("user_id")
      .agg(sum(when(col("ms") * 2 <= col("first_ms") + col("last_ms"),
          col("cents")).otherwise(0L)).as("v1"),
        sum(when(col("ms") * 2 > col("first_ms") + col("last_ms"),
          col("cents")).otherwise(0L)).as("v2"))
    // widen each factor BEFORE the product: lifetime half-cents past
    // ~3e9 would wrap v*v in LONG silently (DuckDB raises) — decimal
    // first keeps both engines exact at any whale size
    val d38 = "decimal(38,0)"
    perUser
      .agg(count(lit(1)).as("n_users"),
        sum(col("v1")).as("sx"), sum(col("v2")).as("sy"),
        sum(col("v1").cast(d38) * col("v2").cast(d38)).as("sxy"),
        sum(col("v1").cast(d38) * col("v1").cast(d38)).as("sx2"),
        sum(col("v2").cast(d38) * col("v2").cast(d38)).as("sy2"))
      .select(col("n_users"),
        round((dbl(col("n_users")) * dbl(col("sxy")) - dbl(col("sx")) * dbl(col("sy"))) /
          (sqrt(dbl(col("n_users")) * dbl(col("sx2")) - dbl(col("sx")) * dbl(col("sx"))) *
           sqrt(dbl(col("n_users")) * dbl(col("sy2")) - dbl(col("sy")) * dbl(col("sy")))), 6)
          .as("value_persistence"))
  }
  val e106Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ms(ts) AS ms,
      |    CASE WHEN event_type = 'purchase'
      |      THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) ELSE 0 END AS cents
      |  FROM events),
      |b AS (
      |  SELECT user_id, ms, cents,
      |    MIN(ms) OVER (PARTITION BY user_id) AS first_ms,
      |    MAX(ms) OVER (PARTITION BY user_id) AS last_ms
      |  FROM e),
      |u AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN ms * 2 <= first_ms + last_ms THEN cents ELSE 0 END)::BIGINT AS v1,
      |    SUM(CASE WHEN ms * 2 > first_ms + last_ms THEN cents ELSE 0 END)::BIGINT AS v2
      |  FROM b GROUP BY 1),
      |m AS (
      |  SELECT COUNT(*)::BIGINT AS n_users,
      |    SUM(v1)::BIGINT AS sx, SUM(v2)::BIGINT AS sy,
      |    SUM(v1::HUGEINT * v2) AS sxy,
      |    SUM(v1::HUGEINT * v1) AS sx2, SUM(v2::HUGEINT * v2) AS sy2
      |  FROM u)
      |SELECT n_users,
      |  ROUND((CAST(n_users AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    (sqrt(CAST(n_users AS DOUBLE) * CAST(sx2 AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |     sqrt(CAST(n_users AS DOUBLE) * CAST(sy2 AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS value_persistence
      |FROM m""".stripMargin

  // ---------------------------------------------------------------- e107
  /** Value by position-in-session: purchase count, conversion share and
    * DECIMAL-exact average purchase value at each event position within
    * its session (capped at 10; later positions pool into band 10) —
    * does money arrive on the first click or after browsing? (e89 times
    * the steps; this prices them.)
    *
    * Scale: the session index is the house user-partitioned prefix-sum
    * sessionizer; position is a row_number within (user, session) —
    * entity-partitioned windows only; final rollup is ≤ 10 rows. */
  /** Per-event position within its 30-min-gap session — e107's core
    * frame, shared with the streaming SessionPositionStage's parity
    * spec (one definition of "position" for the live tracker and the
    * batch rollup). Columns: user_id, event_id, ms, event_type, value,
    * pos. */
  private[graft] def sessionPositionFrame(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), col("ms"), col("event_type"), col("value"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > GapMs, 1L).otherwise(0L))
      .withColumn("sess_idx", sum(col("new_sess")).over(wr))
      .withColumn("pos", row_number().over(
        Window.partitionBy("user_id", "sess_idx").orderBy(col("ms"), col("event_id"))).cast("long"))
      .drop("prev_ms", "new_sess")
  }

  def e107(spark: SparkSession, dir: String): DataFrame = {
    val pos = sessionPositionFrame(Tables.events(spark, dir))
      .withColumn("pos_band", least(col("pos"), lit(10L)))
    pos.groupBy("pos_band")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
        sum(when(col("event_type") === "purchase",
          (dec(col("value")) * 100).cast("long")).otherwise(0L)).as("cents"))
      .select(col("pos_band"), col("n_events"), col("n_purchases"),
        round(dbl(col("n_purchases")) / dbl(col("n_events")), 6).as("purchase_rate"),
        round(when(col("n_purchases") > 0,
          dbl(col("cents")) / dbl(col("n_purchases")) / 100).otherwise(0d), 6)
          .as("avg_purchase_value"))
      .orderBy("pos_band")
  }
  val e107Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type, value,
      |    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
      |  FROM events),
      |s AS (
      |  SELECT *, SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000
      |    THEN 1 ELSE 0 END) OVER (
      |      PARTITION BY user_id ORDER BY ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
      |  FROM e),
      |p AS (
      |  SELECT event_type, value,
      |    LEAST(CAST(ROW_NUMBER() OVER (
      |      PARTITION BY user_id, sess_idx ORDER BY ms, event_id) AS BIGINT), 10) AS pos_band
      |  FROM s)
      |SELECT pos_band, COUNT(*)::BIGINT AS n_events,
      |  SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchases,
      |  ROUND(CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS purchase_rate,
      |  ROUND(CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
      |    THEN CAST(SUM(CASE WHEN event_type = 'purchase'
      |        THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) ELSE 0 END) AS DOUBLE)
      |      / SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) / 100
      |    ELSE 0.0 END, 6) AS avg_purchase_value
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e108
  /** The LTV curve: per user-age week (weeks since the user's first
    * event, integer-ms arithmetic), how many users are that old at all,
    * how many were active, and the DECIMAL-exact average purchase value
    * per ACTIVE user — the curve a finance model integrates to price
    * acquisition (e44 fixes the calendar cohort; this aligns cohorts by
    * age so curves stack).
    *
    * Scale: one min-agg per user joined back (uniform hash shuffle),
    * one (user, age-week) rollup, one \|weeks\|-bounded rollup. The
    * eligible-user denominator reuses the per-user frame (max age). */
  def e108(spark: SparkSession, dir: String): DataFrame = {
    val WeekMs = 7L * 86400000L
    val firsts = Tables.events(spark, dir)
      .groupBy("user_id").agg(min(col("ms")).as("first_ms"))
    val aged = Tables.events(spark, dir)
      .select(col("user_id"), col("ms"), col("event_type"), col("value"))
      .join(firsts, "user_id")
      // floor BEFORE the long cast: Spark's double->long cast truncates
      // toward zero while DuckDB's CAST rounds — floor is the one shared
      // semantic (ages are non-negative, so floor == truncate here, and
      // the SQL mirrors FLOOR explicitly)
      .withColumn("age_wk", floor((col("ms") - col("first_ms")) / lit(WeekMs)).cast("long"))
    val active = aged.groupBy("age_wk")
      .agg(count_distinct(col("user_id")).as("n_active"),
        sum(when(col("event_type") === "purchase",
          (dec(col("value")) * 100).cast("long")).otherwise(0L)).as("cents"))
    // users ELIGIBLE to be age w = users whose lifespan reaches w:
    // broadcast the |weeks|-bounded distinct-age frame against the
    // per-user max (bounded-build nested loop, the allow-listed shape)
    val mx = aged.groupBy("user_id").agg(max(col("age_wk")).as("max_wk"))
    val elig = broadcast(aged.select("age_wk").distinct())
      .join(mx, col("max_wk") >= col("age_wk"))
      .groupBy("age_wk").agg(count(lit(1)).as("n_eligible"))
    active.join(elig, Seq("age_wk"))
      .select(col("age_wk"), col("n_eligible"), col("n_active"),
        round(dbl(col("n_active")) / dbl(col("n_eligible")), 6).as("active_rate"),
        round(dbl(col("cents")) / dbl(col("n_active")) / 100, 6)
          .as("value_per_active"))
      .orderBy("age_wk")
  }
  val e108Sql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_type, value FROM events),
      |f AS (SELECT user_id, MIN(ms) AS first_ms FROM e GROUP BY 1),
      |aged AS (
      |  SELECT e.user_id, CAST(FLOOR((ms - first_ms) / 604800000.0) AS BIGINT) AS age_wk,
      |    event_type, value
      |  FROM e JOIN f USING (user_id)),
      |act AS (
      |  SELECT age_wk, COUNT(DISTINCT user_id)::BIGINT AS n_active,
      |    SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) ELSE 0 END)::BIGINT AS cents
      |  FROM aged GROUP BY 1),
      |mx AS (SELECT user_id, MAX(age_wk) AS max_wk FROM aged GROUP BY 1),
      |elig AS (
      |  SELECT a.age_wk, COUNT(*)::BIGINT AS n_eligible
      |  FROM (SELECT DISTINCT age_wk FROM aged) a JOIN mx ON mx.max_wk >= a.age_wk
      |  GROUP BY 1)
      |SELECT act.age_wk, n_eligible, n_active,
      |  ROUND(CAST(n_active AS DOUBLE) / CAST(n_eligible AS DOUBLE), 6) AS active_rate,
      |  ROUND(CAST(cents AS DOUBLE) / CAST(n_active AS DOUBLE) / 100, 6) AS value_per_active
      |FROM act JOIN elig ON act.age_wk = elig.age_wk
      |ORDER BY act.age_wk""".stripMargin

  // ---------------------------------------------------------------- e109
  /** Purchase regularity census: users with >= 3 purchases banded by the
    * coefficient of variation of their inter-purchase gaps — CV < 0.5
    * is a subscription-like rhythm, CV > 1.5 is bursty windfall buying;
    * the replenishment-vs-impulse split (e67 measures the latency level,
    * this its stability). Exact integer-ms moments per user, one sqrt +
    * one division at the end; band edges are double compares.
    *
    * Scale: user-partitioned lag window over purchases only (pushed
    * filter), per-user moment rollup, 4-row census. */
  def e109(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val gaps = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ms"), col("event_id"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .filter(col("prev_ms").isNotNull)
      .withColumn("gap", (col("ms") - col("prev_ms")).cast("long"))
    // widen before multiplying: a gap past ~35 days (√Long.Max ms)
    // would wrap gap*gap in LONG silently while DuckDB raises
    val perUser = gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap")).as("sg"),
        sum(col("gap").cast("decimal(38,0)") * col("gap").cast("decimal(38,0)"))
          .as("sg2"))
      .filter(col("n_gaps") >= 2) // >= 3 purchases
      .withColumn("mean_gap", dbl(col("sg")) / dbl(col("n_gaps")))
      .withColumn("cv",
        sqrt(greatest(dbl(col("n_gaps")) * dbl(col("sg2")) - dbl(col("sg")) * dbl(col("sg")),
          lit(0d))) / dbl(col("n_gaps")) / (dbl(col("sg")) / dbl(col("n_gaps"))))
    val band = when(col("cv") < 0.5, "a_clockwork")
      .when(col("cv") < 1.0, "b_regular")
      .when(col("cv") < 1.5, "c_loose")
      .otherwise("d_bursty")
    perUser.groupBy(band.as("regularity"))
      .agg(count(lit(1)).as("n_users"),
        round(dbl(sum(floor(col("mean_gap")))) / count(lit(1)) / 3600000d, 6)
          .as("avg_mean_gap_hours"))
      .orderBy("regularity")
  }
  val e109Sql: String =
    """WITH p AS (
      |  SELECT user_id, epoch_ms(ts) AS ms, event_id,
      |    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
      |  FROM events WHERE event_type = 'purchase'),
      |g AS (SELECT user_id, CAST(ms - prev_ms AS BIGINT) AS gap FROM p WHERE prev_ms IS NOT NULL),
      |u AS (
      |  SELECT user_id, COUNT(*)::BIGINT AS n_gaps, SUM(gap)::BIGINT AS sg,
      |    SUM(gap::HUGEINT * gap) AS sg2
      |  FROM g GROUP BY 1 HAVING COUNT(*) >= 2),
      |c AS (
      |  SELECT CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap,
      |    sqrt(GREATEST(CAST(n_gaps AS DOUBLE) * CAST(sg2 AS DOUBLE)
      |        - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE), 0.0))
      |      / CAST(n_gaps AS DOUBLE)
      |      / (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)) AS cv
      |  FROM u)
      |SELECT CASE WHEN cv < 0.5 THEN 'a_clockwork' WHEN cv < 1.0 THEN 'b_regular'
      |  WHEN cv < 1.5 THEN 'c_loose' ELSE 'd_bursty' END AS regularity,
      |  COUNT(*)::BIGINT AS n_users,
      |  ROUND(CAST(SUM(CAST(FLOOR(mean_gap) AS BIGINT)) AS DOUBLE) / COUNT(*) / 3600000, 6) AS avg_mean_gap_hours
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin


  // ---------------------------------------------------------------- e110
  /** Bounce census by entry type: per session-ENTRY event type, how many
    * sessions start there, how many bounce (exactly one event), and the
    * bounce rate — the landing-surface health table (e35 histograms
    * session sizes; e53 counts entries; this ties entry to outcome).
    *
    * Scale: the house prefix-sum sessionizer (user-partitioned windows
    * only); entry = min(struct(ms, event_id, type)) per session —
    * map-combinable; \|types\|-row output. */
  def e110(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ms"), col("event_type"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > GapMs, 1L).otherwise(0L))
      .withColumn("sess_idx", sum(col("new_sess")).over(wr))
      .groupBy("user_id", "sess_idx")
      .agg(count(lit(1)).as("n_events"),
        min(struct(col("ms"), col("event_id"), col("event_type"))).as("entry"))
      .select(col("entry").getField("event_type").as("entry_type"), col("n_events"))
    sess.groupBy("entry_type")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"))
      .select(col("entry_type"), col("n_sessions"), col("n_bounces"),
        round(dbl(col("n_bounces")) / dbl(col("n_sessions")), 6).as("bounce_rate"))
      .orderBy("entry_type")
  }
  val e110Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type,
      |    LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
      |  FROM events),
      |s AS (
      |  SELECT *, SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000
      |    THEN 1 ELSE 0 END) OVER (
      |      PARTITION BY user_id ORDER BY ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
      |  FROM e),
      |g AS (
      |  SELECT
      |    CAST(COUNT(*) OVER (PARTITION BY user_id, sess_idx) AS BIGINT) AS n_events,
      |    FIRST_VALUE(event_type) OVER (PARTITION BY user_id, sess_idx
      |      ORDER BY ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS entry_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, sess_idx ORDER BY ms, event_id) AS rn
      |  FROM s),
      |x AS (SELECT entry_type, n_events FROM g WHERE rn = 1)
      |SELECT entry_type, COUNT(*)::BIGINT AS n_sessions,
      |  SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::BIGINT AS n_bounces,
      |  ROUND(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS bounce_rate
      |FROM x GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e111
  /** LTV Gini: revenue concentration over users' lifetime purchase cents
    * (e48's event-count Gini pointed at MONEY — "what share of revenue
    * sits on the top users" in one exact coefficient). Same banded
    * prefix-sum construction: per-distinct-value counts, within-band
    * cumulative windows + a broadcast band-offset join — never a global
    * rank; DECIMAL(38,0) moments, ONE division.
    *
    * Zero-purchase users are INCLUDED (their cents are 0 — excluding
    * them would understate concentration). */
  def e111(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val sc = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase",
        (dec(col("value")) * 100).cast("long")).otherwise(0L)).as("c"))
      .groupBy("c").agg(count(lit(1)).as("nc"))
      .withColumn("band", expr("c div 1048576"))
      .cache()
    val wIn = Window.partitionBy("band").orderBy("c")
      .rowsBetween(Window.unboundedPreceding, -1)
    val inBelow = sc.withColumn("ibelow", coalesce(sum(col("nc")).over(wIn), lit(0L)))
    val bt = sc.groupBy("band").agg(sum(col("nc")).as("bc"))
    val off = bt.as("a")
      .join(broadcast(bt.select(col("band").as("lb"), col("bc").as("lc"))),
        col("lb") < col("band"), "left")
      .groupBy("band").agg(coalesce(sum(col("lc")), lit(0L)).as("off"))
    val cD = col("c").cast(d38); val ncD = col("nc").cast(d38)
    val mD = (col("ibelow") + col("off")).cast(d38)
    inBelow.join(broadcast(off), "band")
      .agg(sum(col("nc")).as("n"),
           sum(cD * ncD).as("s"),
           sum(cD * (lit(2).cast(d38) * ncD * mD + ncD * (ncD + lit(1).cast(d38)))).as("w2"))
      .select(col("n").as("n_users"), col("s").cast("long").as("total_cents"),
        round(dbl(col("w2") - (col("n").cast(d38) + lit(1).cast(d38)) * col("s"))
          / dbl(col("n").cast(d38) * col("s")), 6).as("value_gini"))
  }
  val e111Sql: String =
    """WITH uc AS (
      |  SELECT user_id, SUM(CASE WHEN event_type = 'purchase'
      |    THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
      |    ELSE 0 END)::BIGINT AS c
      |  FROM events GROUP BY 1),
      |sc AS (SELECT c, COUNT(*)::BIGINT AS nc FROM uc GROUP BY 1),
      |cum AS (SELECT c, nc, COALESCE(SUM(nc) OVER (
      |    ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS m
      |  FROM sc),
      |agg AS (SELECT SUM(nc)::BIGINT AS n,
      |    SUM(CAST(c AS HUGEINT) * nc) AS s,
      |    SUM(CAST(c AS HUGEINT) * (2 * nc * m + nc * (nc + 1))) AS w2
      |  FROM cum)
      |SELECT n AS n_users, CAST(s AS BIGINT) AS total_cents,
      |  ROUND(CAST(w2 - (n + 1) * s AS DOUBLE) / CAST(n * s AS DOUBLE), 6) AS value_gini
      |FROM agg""".stripMargin


  // ---------------------------------------------------------------- e112
  /** LTV by FIRST-touch event type: users grouped by the type of their
    * first-ever event (the acquisition-surface proxy), with count, mean
    * lifetime purchase value, and each group's share of corpus revenue —
    * e64 scores per-session entries; this prices the lifetime by the
    * original landing (what a marketing-mix model actually wants).
    *
    * Scale: one min(struct) per user + one cents rollup (both
    * map-combinable), \|types\| rows, single divisions. */
  def e112(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .select(col("user_id"), col("ms"), col("event_id"), col("event_type"),
        when(col("event_type") === "purchase",
          (dec(col("value")) * 100).cast("long")).otherwise(0L).as("cents"))
      .groupBy("user_id")
      .agg(min(struct(col("ms"), col("event_id"), col("event_type"))).as("f"),
        sum(col("cents")).as("c"))
      .select(col("f").getField("event_type").as("first_type"), col("c"))
    val tot = perUser.agg(sum(col("c")).as("tc"))
    perUser.groupBy("first_type")
      .agg(count(lit(1)).as("n_users"), sum(col("c")).as("cents"))
      .crossJoin(broadcast(tot))
      .select(col("first_type"), col("n_users"),
        round(dbl(col("cents")) / dbl(col("n_users")) / 100, 6).as("mean_ltv"),
        round(dbl(col("cents")) / dbl(col("tc")), 6).as("revenue_share"))
      .orderBy("first_type")
  }
  val e112Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type,
      |    CASE WHEN event_type = 'purchase'
      |      THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) ELSE 0 END AS cents
      |  FROM events),
      |u AS (
      |  SELECT user_id,
      |    FIRST_VALUE(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ms, event_id) AS rn,
      |    SUM(cents) OVER (PARTITION BY user_id) AS c
      |  FROM e),
      |f AS (SELECT first_type, CAST(c AS BIGINT) AS c FROM u WHERE rn = 1),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tc FROM f)
      |SELECT first_type, COUNT(*)::BIGINT AS n_users,
      |  ROUND(CAST(SUM(c) AS DOUBLE) / COUNT(*) / 100, 6) AS mean_ltv,
      |  ROUND(CAST(SUM(c) AS DOUBLE) / CAST(MAX(tc) AS DOUBLE), 6) AS revenue_share
      |FROM f CROSS JOIN tot GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e113
  /** Whale census: users whose lifetime purchase value sits more than 3
    * population standard deviations above the mean, their head-count
    * share, and — the number that matters — their share of total revenue
    * (e111 gives the whole concentration curve; this is the single
    * actionable cut a risk/VIP program keys on). Exact DECIMAL(38,0)
    * moments; the threshold compare uses identically-computed doubles.
    *
    * Scale: one per-user cents rollup, 1-row moment broadcast, one
    * conditional rollup — 1 row out. */
  def e113(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val u = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase",
        (dec(col("value")) * 100).cast("long")).otherwise(0L)).as("c"))
    val m = u.agg(count(lit(1)).as("n"),
      sum(col("c").cast(d38)).as("s"),
      // widen BEFORE multiplying (the oracle casts HUGEINT first): a
      // whale's c > ~3e9 cents would silently wrap c*c in LONG here
      // while DuckDB raises — widen-first keeps both engines exact
      sum(col("c").cast(d38) * col("c").cast(d38)).as("s2"))
    val mu = dbl(col("s")) / dbl(col("n"))
    val sigma = sqrt(greatest(
      (dbl(col("n")) * dbl(col("s2")) - dbl(col("s")) * dbl(col("s"))), lit(0d))) / dbl(col("n"))
    u.crossJoin(broadcast(m))
      .withColumn("is_whale", dbl(col("c")) > mu + lit(3d) * sigma)
      .agg(max(col("n")).as("n_users"),
        sum(when(col("is_whale"), 1L).otherwise(0L)).as("n_whales"),
        sum(when(col("is_whale"), col("c")).otherwise(0L)).as("whale_cents"),
        max(col("s")).as("total"))
      .select(col("n_users"), col("n_whales"),
        round(dbl(col("n_whales")) / dbl(col("n_users")), 6).as("whale_user_share"),
        round(dbl(col("whale_cents")) / dbl(col("total")), 6).as("whale_value_share"))
  }
  val e113Sql: String =
    """WITH u AS (
      |  SELECT user_id, SUM(CASE WHEN event_type = 'purchase'
      |    THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
      |    ELSE 0 END)::BIGINT AS c
      |  FROM events GROUP BY 1),
      |m AS (
      |  SELECT COUNT(*)::BIGINT AS n, SUM(CAST(c AS HUGEINT)) AS s,
      |    SUM(CAST(c AS HUGEINT) * c) AS s2
      |  FROM u),
      |f AS (
      |  SELECT c, n, s,
      |    CAST(c AS DOUBLE) > CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
      |      + 3 * (sqrt(GREATEST(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
      |          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE), 0.0)) / CAST(n AS DOUBLE))
      |      AS is_whale
      |  FROM u CROSS JOIN m)
      |SELECT MAX(n) AS n_users,
      |  SUM(CASE WHEN is_whale THEN 1 ELSE 0 END)::BIGINT AS n_whales,
      |  ROUND(CAST(SUM(CASE WHEN is_whale THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(MAX(n) AS DOUBLE), 6) AS whale_user_share,
      |  ROUND(CAST(SUM(CASE WHEN is_whale THEN c ELSE 0 END) AS DOUBLE)
      |    / CAST(MAX(s) AS DOUBLE), 6) AS whale_value_share
      |FROM f""".stripMargin


  // ---------------------------------------------------------------- e114
  /** Peak hour per weekday: each day-of-week's busiest hour, its event
    * count, and its share of the day's traffic — the one-line-per-day
    * capacity view distilled from e54's full 7×24 heatmap (argmax by
    * max(struct(n, -hour)) so ties break to the EARLIER hour in both
    * engines; dow is e42's pure-integer epoch-day formula, 0 = Sunday).
    * Exact integers, ONE division per row.
    *
    * Scale: one 168-cell map-combinable rollup, 7 rows out. */
  def e114(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(((floor(col("ms") / 86400000L) + 4) % 7).cast("long").as("dow"),
        expr("(ms % 86400000) div 3600000").as("hr"))
      .groupBy("dow", "hr").agg(count(lit(1)).as("n"))
    cells.groupBy("dow")
      .agg(max(struct(col("n"), (-col("hr")).as("nh"))).as("pk"),
        sum(col("n")).as("day_total"))
      .select(col("dow"), (-col("pk").getField("nh")).as("peak_hour"),
        col("pk").getField("n").as("peak_events"), col("day_total"),
        round(dbl(col("pk").getField("n")) / dbl(col("day_total")), 6)
          .as("peak_share"))
      .orderBy("dow")
  }
  val e114Sql: String =
    """WITH c AS (
      |  SELECT (epoch_ms(ts) // 86400000 + 4) % 7 AS dow,
      |    (epoch_ms(ts) % 86400000) // 3600000 AS hr,
      |    COUNT(*)::BIGINT AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT dow, hr, n, SUM(n) OVER (PARTITION BY dow) AS day_total,
      |    ROW_NUMBER() OVER (PARTITION BY dow ORDER BY n DESC, hr) AS rn
      |  FROM c)
      |SELECT dow, hr AS peak_hour, n AS peak_events,
      |  CAST(day_total AS BIGINT) AS day_total,
      |  ROUND(CAST(n AS DOUBLE) / CAST(day_total AS DOUBLE), 6) AS peak_share
      |FROM r WHERE rn = 1 ORDER BY dow""".stripMargin

  // ---------------------------------------------------------------- e115
  /** Seasonal-naive forecast error: predict each traffic hour by the SAME
    * hour one week earlier (the 168-hour lag — the baseline every real
    * forecaster must beat) and report per-weekday absolute error as ppm
    * of actual volume. The capacity-planning sanity table: a dow whose
    * seasonal-naive error is low is schedulable from last week's curve;
    * a high-error dow needs a real model. Integer-pure: |Δ| sums and one
    * integral division per row; hours compared only where BOTH weeks had
    * traffic (inner join — identical semantics in both engines).
    *
    * Scale: ONE hourly rollup (map-combinable, bounded by observed
    * hours), a self-join on hour−168 (bounded by hours, not events),
    * 7-row output. */
  def e115(spark: SparkSession, dir: String): DataFrame = {
    val hours = Tables.events(spark, dir)
      .select(expr("ms div 3600000").as("h"))
      .groupBy("h").agg(count(lit(1)).as("n"))
    val lagged = hours.select((col("h") + 168).as("h"), col("n").as("n_prev"))
    hours.join(lagged, "h")
      .select(expr("((h * 3600000) div 86400000 + 4) % 7").cast("long").as("dow"),
        col("n"), col("n_prev"))
      .withColumn("abs_err",
        when(col("n") >= col("n_prev"), col("n") - col("n_prev"))
          .otherwise(col("n_prev") - col("n")))
      .groupBy("dow")
      .agg(count(lit(1)).as("n_hours"), sum(col("n")).as("actual_events"),
        sum(col("abs_err")).as("abs_err_total"))
      .selectExpr("dow", "n_hours", "actual_events", "abs_err_total",
        "(cast(abs_err_total as decimal(38,0)) * 1000000) div actual_events as mae_ppm")
      .orderBy("dow")
  }
  val e115Sql: String =
    """WITH hours AS (
      |  SELECT epoch_ms(ts) // 3600000 AS h, COUNT(*)::BIGINT AS n
      |  FROM events GROUP BY 1),
      |j AS (
      |  SELECT a.h, a.n, b.n AS n_prev
      |  FROM hours a JOIN hours b ON a.h = b.h + 168),
      |e AS (
      |  SELECT ((h * 3600000) // 86400000 + 4) % 7 AS dow, n,
      |    CASE WHEN n >= n_prev THEN n - n_prev ELSE n_prev - n END AS abs_err
      |  FROM j)
      |SELECT CAST(dow AS BIGINT) AS dow, COUNT(*)::BIGINT AS n_hours,
      |  SUM(n)::BIGINT AS actual_events, SUM(abs_err)::BIGINT AS abs_err_total,
      |  CAST((SUM(abs_err)::HUGEINT * 1000000) // SUM(n) AS BIGINT) AS mae_ppm
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e116
  /** Weekly stickiness: per epoch-week, weekly actives, summed daily
    * actives, and the DAU/WAU ratio as ppm — e69's monthly stickiness at
    * the weekly cadence ops actually reviews (ratio near 1e6/7 ≈ "users
    * visit once a week"; near 1e6 ≈ "users visit daily"). Integer-pure:
    * two distinct-user rollups and one integral division; the ratio
    * denominator is wau × days-with-traffic so a partial week is not
    * penalized for days that don't exist in the data.
    *
    * Scale: two map-combinable distinct aggregations keyed by
    * (week[, day]); output is one row per week. */
  def e116(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(expr("ms div 86400000").as("day"), col("user_id"))
      .withColumn("week", expr("day div 7"))
    val daily = base.groupBy("week", "day")
      .agg(countDistinct(col("user_id")).as("dau"))
      .groupBy("week")
      .agg(count(lit(1)).as("active_days"), sum(col("dau")).as("dau_sum"))
    val weekly = base.groupBy("week")
      .agg(countDistinct(col("user_id")).as("wau"))
    weekly.join(daily, "week")
      .selectExpr("week", "active_days", "wau", "dau_sum",
        "(cast(dau_sum as decimal(38,0)) * 1000000) div (wau * active_days) as stickiness_ppm")
      .orderBy("week")
  }
  val e116Sql: String =
    """WITH base AS (
      |  SELECT epoch_ms(ts) // 86400000 AS day,
      |    (epoch_ms(ts) // 86400000) // 7 AS week, user_id
      |  FROM events),
      |daily AS (
      |  SELECT week, COUNT(*)::BIGINT AS active_days, SUM(dau)::BIGINT AS dau_sum
      |  FROM (SELECT week, day, COUNT(DISTINCT user_id)::BIGINT AS dau
      |        FROM base GROUP BY 1, 2)
      |  GROUP BY 1),
      |weekly AS (SELECT week, COUNT(DISTINCT user_id)::BIGINT AS wau FROM base GROUP BY 1)
      |SELECT CAST(week AS BIGINT) AS week, active_days, wau, dau_sum,
      |  CAST((dau_sum::HUGEINT * 1000000) // (wau * active_days) AS BIGINT) AS stickiness_ppm
      |FROM weekly JOIN daily USING (week)
      |ORDER BY week""".stripMargin

  // ---------------------------------------------------------------- e117
  /** Forecast-lag sweep: the naive baseline at horizons 24 h
    * (yesterday-same-hour) and 168 h (last-week-same-hour) — corpus-wide
    * hours compared, absolute error, and MAE as ppm of actual volume
    * per lag. The one-table answer to "does weekly seasonality beat
    * daily?" before anyone builds a model (e115 breaks the weekly lag
    * down by weekday; this picks the lag). Integer-pure.
    *
    * Scale: ONE hourly rollup reused by both lags; self-joins bounded
    * by observed hours; 2-row output. */
  def e117(spark: SparkSession, dir: String): DataFrame = {
    val hours = Tables.events(spark, dir)
      .select(expr("ms div 3600000").as("h"))
      .groupBy("h").agg(count(lit(1)).as("n"))
      .cache()
    Seq(24, 168).map { lag =>
      val lagged = hours.select((col("h") + lag).as("h"), col("n").as("n_prev"))
      hours.join(lagged, "h")
        .withColumn("abs_err",
          when(col("n") >= col("n_prev"), col("n") - col("n_prev"))
            .otherwise(col("n_prev") - col("n")))
        .agg(count(lit(1)).as("n_hours"), sum(col("n")).as("actual_events"),
          sum(col("abs_err")).as("abs_err_total"))
        .selectExpr(s"cast($lag as bigint) as lag_hours", "n_hours",
          "actual_events", "abs_err_total",
          "(cast(abs_err_total as decimal(38,0)) * 1000000) div actual_events as mae_ppm")
    }.reduce(_.unionByName(_)).orderBy("lag_hours")
  }
  val e117Sql: String = {
    val per = Seq(24, 168).map { lag =>
      s"""SELECT CAST($lag AS BIGINT) AS lag_hours, COUNT(*)::BIGINT AS n_hours,
         |  SUM(n)::BIGINT AS actual_events,
         |  SUM(CASE WHEN n >= n_prev THEN n - n_prev ELSE n_prev - n END)::BIGINT AS abs_err_total,
         |  CAST((SUM(CASE WHEN n >= n_prev THEN n - n_prev ELSE n_prev - n END)::HUGEINT * 1000000)
         |    // SUM(n) AS BIGINT) AS mae_ppm
         |FROM (SELECT a.n, b.n AS n_prev FROM hours a JOIN hours b ON a.h = b.h + $lag)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH hours AS (
       |  SELECT epoch_ms(ts) // 3600000 AS h, COUNT(*)::BIGINT AS n
       |  FROM events GROUP BY 1)
       |$per
       |ORDER BY lag_hours""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "e117_lag_sweep" -> (e117 _),
    "e116_weekly_stickiness" -> (e116 _),
    "e115_seasonal_naive_error" -> (e115 _),
    "e114_dow_peak_hour" -> (e114 _),
    "e113_whale_census" -> (e113 _),
    "e112_first_touch_ltv" -> (e112 _),
    "e111_value_gini" -> (e111 _),
    "e110_bounce_by_entry" -> (e110 _),
    "e109_purchase_regularity" -> (e109 _),
    "e108_age_value_curve" -> (e108 _),
    "e107_session_position_value" -> (e107 _),
    "e106_value_persistence" -> (e106 _),
    "e105_hourly_autocorr" -> (e105 _),
    "e104_exponential_fit" -> (e104 _),
    "e103_kmv_audit" -> (e103 _),
    "e102_markov_stationary" -> (e102 _),
    "e101_hll_audit" -> (e101 _),
    "e100_behavior_stability" -> (e100 _),
    "e99_hour_regularity" -> (e99 _),
    "e98_type_run_lengths" -> (e98 _),
    "e97_error_bursts" -> (e97 _),
    "e96_peak_concurrency" -> (e96 _),
    "e95_prop_band_lift" -> (e95 _),
    "e94_anomaly_agreement" -> (e94 _),
    "e93_gap_sweep" -> (e93 _),
    "e92_entry_retention" -> (e92 _),
    "e91_lateness_profile" -> (e91 _),
    "e90_type_lag_matrix" -> (e90 _),
    "e89_step_dwell" -> (e89 _),
    "e88_alert_threshold_sweep" -> (e88 _),
    "e87_session_handoff" -> (e87 _),
    "e86_rolling_value_bands" -> (e86 _),
    "e85_adaptive_anomaly_days" -> (e85 _),
    "e84_volume_ewma" -> (e84 _),
    "e83_early_engagement_ltv" -> (e83 _),
    "e82_cms_heavy_hitters" -> (e82 _),
    "e81_weekend_profile" -> (e81 _),
    "e80_lifecycle_type_mix" -> (e80 _),
    "e79_value_anomaly" -> (e79 _),
    "e78_reactivation_census" -> (e78 _),
    "e77_active_streaks" -> (e77 _),
    "e76_lifecycle_census" -> (e76 _),
    "e75_activity_zipf" -> (e75 _),
    "e74_first_purchase_depth" -> (e74 _),
    "e73_dow_revenue" -> (e73 _),
    "e71_arpdau" -> (e71 _),
    "e70_error_recovery" -> (e70 _),
    "e69_stickiness" -> (e69 _),
    "e68_value_frontload" -> (e68 _),
    "e67_repurchase_latency" -> (e67 _),
    "e66_session_revenue_hist" -> (e66 _),
    "e65_depth_conversion" -> (e65 _),
    "e64_entry_conversion" -> (e64 _),
    "e63_lifespan_value_corr" -> (e63 _),
    "e61_purchase_reconciliation" -> (e61 _),
    "e59_entry_exit_matrix" -> (e59 _),
    "e58_user_features" -> (e58 _),
    "e57_power_user_share" -> (e57 _),
    "e56_daily_trend" -> (e56 _),
    "e55_session_duration_hist" -> (e55 _),
    "e54_hour_dow_heatmap" -> (e54 _),
    "e53_entry_event" -> (e53 _),
    "e52_hourly_load_percentiles" -> (e52 _),
    "e51_error_rate_series" -> (e51 _),
    "e50_activation_lag" -> (e50 _),
    "e49_dau_volatility" -> (e49 _),
    "e48_user_gini" -> (e48 _),
    "e46_peak_hours" -> (e46 _),
    "e45_daily_purchase_rate" -> (e45 _),
    "e44_cohort_value" -> (e44 _),
    "e43_lifespan_bands" -> (e43 _),
    "e42_dow_profile" -> (e42 _),
    "e40_type_mix_trend" -> (e40 _),
    "e39_revisit_gaps" -> (e39 _),
    "e38_retention_triangle" -> (e38 _),
    "e37_first_session_conversion" -> (e37 _),
    "e36_velocity_screen" -> (e36 _),
    "e35_session_size_hist" -> (e35 _),
    "e33_new_vs_returning" -> (e33 _),
    "e32_load_ratio" -> (e32 _),
    "e31_type_lift" -> (e31 _),
    "e30_engagement_depth" -> (e30 _),
    "e29_rfm_segments" -> (e29 _),
    "e28_growth_accounting" -> (e28 _),
    "e27_session_cooccurrence" -> (e27 _),
    "e26_touch_attribution" -> (e26 _),
    "e25_funnel_windowed" -> (e25 _),
    "e24_rolling_active_sketch" -> (e24 _),
    "e23_session_conversion" -> (e23 _),
    "e22_burstiness" -> (e22 _),
    "e21_seasonality" -> (e21 _),
    "e19_conversion_lag" -> (e19 _),
    "e18_gap_bands" -> (e18 _),
    "e17_event_paths" -> (e17 _),
    "e16_value_deciles" -> (e16 _),
    "e15_decay_score" -> (e15 _),
    "e14_rolling_active" -> (e14 _),
    "e13_anomaly_hours" -> (e13 _),
    "e01_sessionize" -> (e01 _),
    "e02_tumbling_window" -> (e02 _),
    "e03_funnel" -> (e03 _),
    "e04_retention" -> (e04 _),
    "e05_top_users" -> (e05 _),
    "e06_json_extract" -> (e06 _),
    "e07_user_stats" -> (e07 _),
    "e08_asof_join" -> (e08 _),
    "e09_sessionize_scaleout" -> (e09 _),
    "e10_asof_join_scaleout" -> (e10 _),
    "e11_attribution_window" -> (e11 _),
    "e12_transitions" -> (e12 _),
  )

  val oracle: Map[String, String] = Map(
    "e117_lag_sweep" -> e117Sql,
    "e116_weekly_stickiness" -> e116Sql,
    "e115_seasonal_naive_error" -> e115Sql,
    "e114_dow_peak_hour" -> e114Sql,
    "e113_whale_census" -> e113Sql,
    "e112_first_touch_ltv" -> e112Sql,
    "e111_value_gini" -> e111Sql,
    "e110_bounce_by_entry" -> e110Sql,
    "e109_purchase_regularity" -> e109Sql,
    "e108_age_value_curve" -> e108Sql,
    "e107_session_position_value" -> e107Sql,
    "e106_value_persistence" -> e106Sql,
    "e105_hourly_autocorr" -> e105Sql,
    "e104_exponential_fit" -> e104Sql,
    "e103_kmv_audit" -> e103Sql,
    "e102_markov_stationary" -> e102Sql,
    "e100_behavior_stability" -> e100Sql,
    "e99_hour_regularity" -> e99Sql,
    "e98_type_run_lengths" -> e98Sql,
    "e97_error_bursts" -> e97Sql,
    "e96_peak_concurrency" -> e96Sql,
    "e95_prop_band_lift" -> e95Sql,
    "e94_anomaly_agreement" -> e94Sql,
    "e93_gap_sweep" -> e93Sql,
    "e92_entry_retention" -> e92Sql,
    "e91_lateness_profile" -> e91Sql,
    "e90_type_lag_matrix" -> e90Sql,
    "e89_step_dwell" -> e89Sql,
    "e88_alert_threshold_sweep" -> e88Sql,
    "e87_session_handoff" -> e87Sql,
    "e86_rolling_value_bands" -> e86Sql,
    "e85_adaptive_anomaly_days" -> e85Sql,
    "e84_volume_ewma" -> e84Sql,
    "e83_early_engagement_ltv" -> e83Sql,
    "e82_cms_heavy_hitters" -> e82Sql,
    "e81_weekend_profile" -> e81Sql,
    "e80_lifecycle_type_mix" -> e80Sql,
    "e79_value_anomaly" -> e79Sql,
    "e78_reactivation_census" -> e78Sql,
    "e77_active_streaks" -> e77Sql,
    "e76_lifecycle_census" -> e76Sql,
    "e75_activity_zipf" -> e75Sql,
    "e74_first_purchase_depth" -> e74Sql,
    "e73_dow_revenue" -> e73Sql,
    "e71_arpdau" -> e71Sql,
    "e70_error_recovery" -> e70Sql,
    "e69_stickiness" -> e69Sql,
    "e68_value_frontload" -> e68Sql,
    "e67_repurchase_latency" -> e67Sql,
    "e66_session_revenue_hist" -> e66Sql,
    "e65_depth_conversion" -> e65Sql,
    "e64_entry_conversion" -> e64Sql,
    "e63_lifespan_value_corr" -> e63Sql,
    "e61_purchase_reconciliation" -> e61Sql,
    "e59_entry_exit_matrix" -> e59Sql,
    "e58_user_features" -> e58Sql,
    "e57_power_user_share" -> e57Sql,
    "e56_daily_trend" -> e56Sql,
    "e55_session_duration_hist" -> e55Sql,
    "e54_hour_dow_heatmap" -> e54Sql,
    "e53_entry_event" -> e53Sql,
    "e52_hourly_load_percentiles" -> e52Sql,
    "e51_error_rate_series" -> e51Sql,
    "e50_activation_lag" -> e50Sql,
    "e49_dau_volatility" -> e49Sql,
    "e48_user_gini" -> e48Sql,
    "e46_peak_hours" -> e46Sql,
    "e45_daily_purchase_rate" -> e45Sql,
    "e44_cohort_value" -> e44Sql,
    "e43_lifespan_bands" -> e43Sql,
    "e42_dow_profile" -> e42Sql,
    "e16_value_deciles" -> e16Sql,
    "e15_decay_score" -> e15Sql,
    "e14_rolling_active" -> e14Sql,
    "e13_anomaly_hours" -> e13Sql,
    "e01_sessionize" -> e01Sql,
    "e02_tumbling_window" -> e02Sql,
    "e03_funnel" -> e03Sql,
    "e04_retention" -> e04Sql,
    "e05_top_users" -> e05Sql,
    "e06_json_extract" -> e06Sql,
    "e07_user_stats" -> e07Sql,
    "e08_asof_join" -> e08Sql,
    // the scale-out variants compute the same result — same oracles
    "e09_sessionize_scaleout" -> e01Sql,
    "e10_asof_join_scaleout" -> e08Sql,
    "e11_attribution_window" -> e11Sql,
    "e12_transitions" -> e12Sql,
    "e17_event_paths" -> e17Sql,
    "e18_gap_bands" -> e18Sql,
    "e19_conversion_lag" -> e19Sql,
    "e21_seasonality" -> e21Sql,
    "e22_burstiness" -> e22Sql,
    "e23_session_conversion" -> e23Sql,
    "e25_funnel_windowed" -> e25Sql,
    "e26_touch_attribution" -> e26Sql,
    "e27_session_cooccurrence" -> e27Sql,
    "e28_growth_accounting" -> e28Sql,
    "e29_rfm_segments" -> e29Sql,
    "e30_engagement_depth" -> e30Sql,
    "e31_type_lift" -> e31Sql,
    "e32_load_ratio" -> e32Sql,
    "e33_new_vs_returning" -> e33Sql,
    "e35_session_size_hist" -> e35Sql,
    "e36_velocity_screen" -> e36Sql,
    "e37_first_session_conversion" -> e37Sql,
    "e38_retention_triangle" -> e38Sql,
    "e39_revisit_gaps" -> e39Sql,
    "e40_type_mix_trend" -> e40Sql,
  )

  /** The operators that are their oracle text: `SparkEntry.queries`
    * binds each text to the table loaders with `Tables.sql`, and
    * `SparkEntry.oracleSql` hands the same text to DuckDB. */
  val sql: Map[String, String] = Map(
    "e72_segment_conversion" -> e72Sql,
    "e62_id_continuity" -> e62Sql,
    "e60_segment_360" -> e60Sql,
    "e47_type_diversity" -> e47Sql,
    "e20_type_entropy" -> e20Sql,
    "e34_audience_overlap" -> e34Sql,
    "e41_purchase_size_hist" -> e41Sql
  )
}
