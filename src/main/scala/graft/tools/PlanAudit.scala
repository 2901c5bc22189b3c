package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Scan every operator's physical plan for scale anti-patterns
  * (cartesian products, unexpected nested-loop joins, single-partition
  * windows). Runs as a dev tool (main) and as a regression spec
  * (PlanAuditSpec) so a new operator can't silently reintroduce one.
  *
  * Allow-listed BroadcastNestedLoopJoins — every one has a PROVABLY
  * bounded build side:
  *  - s03/s04: vector x k-centroid ranking pass (model broadcast, k<=16)
  *  - d05: the exact all-pairs BASELINE (non-equi vec_a < vec_b pair
  *    condition); its scale path is d07
  *  - d07: allow-listed for its documented cost-based fallback — when
  *    the LSH table count for tau=0.35 exceeds the L budget at the
  *    current corpus size (true at sf0.1: L≈681 > 96), d07 RETURNS
  *    d05's exact plan, so d05's allow-listed BNLJ shape appears under
  *    d07's name; at bucketable scales d07 plans no BNLJ (sf0.001
  *    audit proves it)
  *  - e05: k x k rank self-join AFTER limit(10)
  *  - q16/q28/t11/t12: scalar-subquery compare against a 1-row aggregate
  *  - q23: month-frame range self-join (one row per calendar month)
  *  - t09: corpus-count N joined in as a 1-row broadcast (idf input)
  *  - t14/p03: t11's corpus-total 1-row broadcast inside the LM scorer
  *  - t23: the corpus-total 1-row broadcast inside the KL term
  *  - e16: 1-row count/total broadcasts + the non-equi band-offset join
  *    over the BANDS table (bounded by the value range / 1000, not by
  *    user count)
  *  - q37: 1-row (total, part-count) broadcast for the lift threshold
  *  - q64: 1-row order-count broadcast attaching the share denominator
  *    to the bounded 3x5 status x priority matrix
  *  - q65: 1-row as-of-date broadcast for order-book aging
  *  - e50: 1-row activated-user-count broadcast (share denominator)
  *  - q68: 1-row distinct-order-count broadcast (lift denominator)
  *  - e48: broadcast band-offset join over the bounded distinct-count
  *    frame (e16's two-level prefix-sum shape)
  *  - s06: the SQ8 candidate scan — s01's brute-force contract over 4x-
  *    compressed int8 codes (non-equi q_id != n_id); bucketed variants
  *    (s02-s04) remain the massive-N path
  *  - s07: brute-force MIPS baseline, same non-equi contract as s01/s06
  *    (the augmented-vector trick reduces MIPS to s02's cosine LSH at
  *    massive N)
  *  - s08: cosine range search — the BROADCAST side is the small query
  *    set (1% of vectors); the corpus streams map-side (non-equi
  *    q_id != n_id), which is exactly the 100 TB posture
  *  - s09: recall harness — 1-row x 1-row crossJoin of the n_queries and
  *    n_hits aggregates (plus s01/s03's allow-listed shapes inline)
  *  - s10: cell-stats census — s03's vector x k-centroid ranking pass
  *    (model broadcast, k<=16)
  */
object PlanAudit {
  private val allowBnlj = Set(
    "s03_ann_ivf", "s04_ann_ivfpq", "d05_embedding_neardup",
    "d07_embedding_neardup_lsh", "d13_semdedup",
    "p02_embedding_pipeline",
    "e05_top_users", "q16_scalar_subquery", "q23_moving_avg",
    "q28_dormant_balances", "q29_top_supplier", "t09_tfidf_keywords",
    "t11_lm_score", "t12_lang_mix",
    "t14_ppl_buckets", "p03_token_budget_mix", "e16_value_deciles",
    "t23_source_divergence", "e29_rfm_segments", "t25_vocab_growth",
    "s11_cos_histogram", "e31_type_lift", "p10_mixture_epochs",
    "s12_neighbor_degree", "t29_gram_coverage", "s13_sq8_error_hist",
    "p12_shard_manifest", "p13_epoch_plan", "s14_recall_curve",
    "d29_lsh_candidate_report", "e37_first_session_conversion",
    "q55_revenue_concentration", "t36_bigram_entropy", "t37_zipf_slope",
    "q64_status_priority_matrix", "q65_orderbook_aging", "e48_user_gini",
    "e50_activation_lag", "q68_basket_pairs",
    "q37_heavy_hitters", "s06_ann_sq8", "s07_mips_topk", "s08_range_search",
    "s09_ann_recall", "s10_ivf_cell_stats",
    // q70: e48's band-offset broadcast join over the bounded revenue-band
    // list + a 1-row corpus-total broadcast for the Pareto thresholds
    "q70_pareto_points",
    // e53: 1-row user-base-total broadcast (entry-share denominator)
    "e53_entry_event",
    // t43: 1-row corpus-count broadcast inside the PMI term (t09's shape)
    "t43_pmi_collocations",
    // d35: 1-row × 1-row joins of the edge/wedge/triangle totals
    "d35_pair_transitivity",
    // e57: e48's band-offset broadcast + 1-row population/cut broadcasts
    "e57_power_user_share",
    // m15: 1-row corpus-total broadcast (prefix-share denominator)
    "m15_prefix_census",
    // d60: 1-row pair-cost-total broadcast (cost-share denominator)
    "d60_posting_skew",
    // e108: bounded |weeks|-list broadcast against per-user max ages
    // (eligible-user denominator) — q70/e48's band-offset shape
    "e108_age_value_curve",
    // p40/p41: 1-row corpus-total broadcasts (budget/share denominators)
    "p40_temperature_rebalance", "p41_accounting_drift",
    // p42: bounded 6-point gate-grid explode + 1-row corpus totals
    "p42_quality_gate_sweep",
    // s44: 1-row vector-count broadcast (share denominator)
    "s44_hub_census",
    // e111: e48's band-offset broadcast over the bounded distinct-cents
    // frame (the Gini construction) + 1-row totals
    "e111_value_gini",
    // m31: 1-row byte-total broadcasts (one per shard width)
    "m31_shard_width_sweep",
    // p43: 1-row corpus-total broadcast (p10's epoch-target shape)
    "p43_epoch_dup_exposure",
    // e112/e113: 1-row revenue-total / moment broadcasts (share + whale
    // threshold denominators)
    "e112_first_touch_ltv", "e113_whale_census",
    // p18: bounded 10×10 quality-decile broadcast join + 1-row totals
    "p18_quality_budget_curve",
    // q77: 1-row revenue-total broadcast (seasonality denominator)
    "q77_seasonality_index",
    // e62: 1-row × 1-row join of the id-range and dup-id aggregates
    "e62_id_continuity",
    // s21: 1-row totals broadcast (share + imbalance denominators)
    "s21_label_balance",
    // d41: 1-row cluster-totals broadcast (mixed-share denominator)
    "d41_cluster_source_purity",
    // q91: 1-row max-year broadcast (right-censors the churn series —
    // q65's as-of-date shape)
    "q91_churn_series",
    // e76: 1-row data-horizon broadcast (q65's as-of shape)
    "e76_lifecycle_census",
    // e75: t37's bounded rank self-join — both sides are the top-100
    // head after limit(100), so the BNLJ is a 100×100 constant
    "e75_activity_zipf",
    // q96: 1-row grand-total broadcast for the lift denominator (q68's
    // shape); the marginal joins are bounded-frame equi broadcasts
    "q96_nation_brand_affinity",
    // t49: 1-row corpus-max broadcast anchoring the integer deciles
    // (q65's as-of shape)
    "t49_ingestion_quality_drift",
    // e80: e76's 1-row data-horizon broadcast inside the shared
    // lifecycle-stage frame
    "e80_lifecycle_type_mix",
    // m21/s26/d46: t49's 1-row corpus-max broadcast anchoring integer
    // decile/half splits
    "m21_modality_mix_drift", "s26_embedding_drift", "d46_dup_rate_drift",
    // p26: the same 1-row max-id broadcast anchoring the half split
    "p26_snapshot_diff",
    // t51: the half-split max-id broadcast + the 1-row totals broadcast
    // feeding the JS terms
    "t51_vocab_half_divergence",
    // e85: 1-row residual-moment broadcast for the 3σ cut (e79's shape)
    "e85_adaptive_anomaly_days",
    // t52: t51's half-split max-id + 1-row totals broadcasts
    "t52_trending_terms",
    // d48: 1-row corpus-count broadcast inside the idf term (t09's shape)
    "d48_weighted_jaccard",
    // p27: 1-row token-total broadcast sizing the anneal phase
    "p27_anneal_plan",
    // s29: s06's allow-listed SQ8 candidate scan + s09's 1-row×1-row
    // recall crossJoin appear under this name
    "s29_sq8_recall",
    // d49: d48's 1-row corpus-count idf broadcast appears inline
    "d49_weighting_effect",
    // d50: three 1-row census frames (n/raw/norm) broadcast-joined
    "d50_norm_exact_dedup",
    // d51: per-width 1-row (n_docs × n_grams × n_pairs) broadcasts
    "d51_shingle_sensitivity",
    // s30: s07's allow-listed brute-MIPS non-equi scan appears inline
    "s30_metric_agreement",
    // p28: 1-row pair-total broadcast (leak-share denominator)
    "p28_split_leakage",
    // m24: t51's 1-row max-id half-split broadcast + 1-row half totals
    "m24_prefix_drift",
    // d52: per-config 1-row (candidates × verified × exact) broadcasts
    "d52_band_sweep",
    // s31: s03's allow-listed IVF shapes appear inline + 1-row joins
    "s31_label_recall",
    // e91: 1-row event-total broadcast (band-share denominator)
    "e91_lateness_profile",
    // s32: s03's allow-listed IVF shapes inline + 1-row×1-row recall rows
    "s32_recall_at_k",
    // p31: t51's 1-row max-id half-split broadcast
    "p31_split_stability",
    // d54: per-cap 1-row exact-baseline broadcasts (pairs_lost join)
    "d54_cap_sweep",
    // e94: 1-row×1-row joins of the day/flag-count aggregates (plus
    // e85's 1-row moment broadcasts inline)
    "e94_anomaly_agreement",
    // t57: per-n 1-row (total × distinct) count broadcasts
    "t57_gram_redundancy",
    // p32: five 1-row metric frames broadcast onto the 1-row doc count
    "p32_corpus_scorecard",
    // m25: m21's 1-row corpus-max broadcast (ingestion-half split)
    "m25_size_drift",
    // p33: per-α 1-row Σtokens^α denominator broadcasts onto the
    // |sources|-bounded token frame
    "p33_temperature_sweep",
    // s35: 1-row query-count broadcast (share denominator)
    "s35_neighbor_diversity",
    // p34: non-equi cumulative self-join on the |sources|-bounded frame
    // + 1-row token-total broadcast (p13's bounded-build shape)
    "p34_curriculum_plan",
    // e97: 1-row error-user-count broadcast (share denominator)
    "e97_error_bursts",
    // d55: 1-row pair-total broadcast (cost-share denominator)
    "d55_pair_cost_model",
    // p35: 1-row (total, |langs|) broadcast (uniform-target denominator)
    "p35_budget_gap",
    // q107: q23's bounded month-frame non-equi self-join (cumulative
    // backlog columns) — one row per calendar month
    "q107_order_backlog",
    // p36: per-fan-out 1-row corpus-token-total broadcasts
    "p36_shard_skew",
    // s37: 1-row truth-count broadcast (recall denominator)
    "s37_dim_truncation_recall",
    // m28: 1-row (payload, byte) totals broadcast onto the 16-shard
    // frame (m15's prefix-share shape)
    "m28_store_shard_balance",
    // d57: four 1-row count frames (buckets/candidates/exact/detected)
    // broadcast onto the 1-row doc count — the whole report is one row
    "d57_seed_buckets",
    // p37: 1-row raw-holdout-share broadcast (drift denominator)
    "p37_holdout_drift",
    // q111: 1-row order-count total broadcast onto the 9-digit frame
    "q111_benford_audit",
    // q112: 1-row global (N, X, mu) broadcast onto the ≤25-nation frame
    "q112_theil_decomposition",
    // e102: 1-row (type count, event total) broadcast onto the
    // |types|-bounded per-type count frame (uniform start, observed share)
    "e102_markov_stationary",
    // s43: per-round 1-row norm broadcasts + 1-row n/trace broadcasts
    // onto |dims|-bounded frames
    "s43_power_iteration",
    // t66: 1-row corpus-token-total broadcast onto the |langs| frame
    "t66_fertility",
    // q115: 1-row global-mean broadcasts (max date, mean F/M, mean R)
    "q115_rfm_octants",
    // q116: 1-row population-count broadcasts (CDF denominators)
    "q116_balance_two_sample",
    // d62: per-width 1-row (flagged docs/tokens) aggregates joined onto
    // the 1-row train-totals broadcast — the whole report is 3 rows
    "d62_decontam_gram_sweep",
    // t71: 1-row corpus-mean LM-threshold broadcast (gate denominator)
    "t71_gate_confusion",
    // q127: 1-row discounted-revenue-total broadcast (share denominator)
    "q127_size_price_curve",
    // p46: p34's bounded |sources|² non-equi cumulative self-join (the
    // rank/prefix/prev computation — no window) + the 1-row budget and
    // 1-row water-level broadcasts
    "p46_water_filling",
    // p47: 1-row (Σw_raw, Σw_dedup) weight-total broadcast
    "p47_dedup_temp_shift",
    // p49: 1-row (corpus total, |sources|) broadcast — p10's shape ×4 caps
    "p49_repeat_cap_sweep",
    // s48: s03's vector × 16-centroid ranking pass (model broadcast)
    // plus per-probe 1-row (cand/truth/recalled) count crossJoins
    "s48_probe_sweep")

  /** Returns flagged (name, reason) pairs; empty = clean. */
  def audit(spark: SparkSession, sfDir: String): Seq[(String, String)] =
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val qe = try Right(q(spark, sfDir).queryExecution)
        catch { case e: Exception => Left(e.getMessage) }
      val plan = qe.fold(msg => s"PLAN-ERROR $msg", _.executedPlan.toString)
      // a Window/WindowGroupLimit with an EMPTY partition spec is the
      // all-rows-to-one-task shape; checked on the tree (sparkPlan — the
      // pre-AQE physical plan, which collect() can traverse) rather than
      // by string match, because "SinglePartition" also appears in any
      // plan with a benign global aggregate (e.g. a 1-row corpus count)
      val globalWindow = qe.fold(_ => false, _.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
          if w.partitionSpec.isEmpty => w
      }.nonEmpty)
      val reasons = Seq(
        "cartesian" -> plan.contains("CartesianProduct"),
        "bnlj" -> (plan.contains("BroadcastNestedLoopJoin") && !allowBnlj(name)),
        "singlePartitionWindow" -> globalWindow,
        "planError" -> plan.startsWith("PLAN-ERROR"),
      ).collect { case (r, true) => r }
      if (reasons.isEmpty) Nil else Seq(name -> reasons.mkString("+"))
    }

  def main(args: Array[String]): Unit = {
    val spark = graft.engine.Engine.session(8, "graft-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    val flagged = audit(spark, args(0))
    flagged.foreach { case (n, r) => println(s"[audit] $n: $r") }
    println(s"[audit] done, ${flagged.size} flagged of ${SparkEntry.queries.size}")
    spark.stop()
  }
}
