package graft

/** Surface-wide plan-hygiene gate (round-8 judge task): walks the
  * optimized plan of EVERY SparkEntry query (in the shared
  * `QuerySweep`, on the frame Verify writes) and rejects the two
  * scale-killer shapes the per-round judge grep hunts by hand —
  *
  *   1. an UNPARTITIONED window (Spark's `WindowExec: No Partition
  *      Defined` — the whole relation sorts in ONE task; q_ntile ran
  *      this shape until round 8), and
  *   2. a non-equi join (CartesianProduct / BroadcastNestedLoopJoin
  *      at execution — O(n·m) pair work unless one side is k-bounded).
  *
  * Both patterns are legitimate on provably tiny relations (a k-row
  * centroid table, a 1-row count), so each violation must either not
  * exist or carry an explicit allowlist entry documenting the bound.
  * The allowlists are checked in BOTH directions: an entry whose
  * query no longer exhibits the pattern is stale and fails the spec,
  * so the list can never rot into a blanket waiver.
  *
  * Streaming twins are skipped: invoking them executes a full
  * micro-batch run whose returned relation is a memory-sink scan
  * (their plan shapes are covered by their own specs).
  */
class PlanHygieneSpec extends SparkSuite {

  /** Queries allowed an unpartitioned logical Window, with the bound
    * that makes the single-task sort irrelevant. */
  private val smallWindowOk: Map[String, String] = Map(
    "q_ntile" -> ("prefix-sum/total windows over the per-range-partition "
      + "count relation: ≤32 rows (one per shuffle partition); the "
      + "customer-table ranks are partition-local (distributedRank)"),
    "mix_rebalance" -> ("total-count/total-weight windows over the "
      + "per-source counts relation: |sources| rows (≤10), broadcast "
      + "back onto the scan"),
    "sample_temperature" -> ("sum-of-weights/total windows over the "
      + "per-source counts relation: |sources| rows (≤10), broadcast "
      + "back onto the scan"),
    "sample_shard_assign" -> ("prefix-sum/total windows over the "
      + "per-range-partition count relation: ≤32 rows (distributedRank "
      + "offsets — the document ranks themselves are partition-local)"),
    "sketch_qdigest" -> ("postorder cumulative-mass window over the "
      + "digest relation: ≤ K+levels ≈ 1k rows by construction "
      + "regardless of input size"),
    "q_mann_whitney" -> ("prefix-sum offsets window over the "
      + "per-range-partition count relation: ≤32 rows (the "
      + "distributedRank discipline applied to the global cumulative "
      + "count; the value-level cumsum is partition-local)"),
    "q_survival_km" -> ("risk-set / survival-product cumulative windows "
      + "over the per-day relation: calendar-bounded (≤ corpus span in "
      + "days) regardless of corpus size"),
    "q_ks_test" -> ("prefix-sum offsets window over the "
      + "per-range-partition count relation: ≤32 rows (the B73 "
      + "distributedRank cumsum; the value-level ECDF cumsums are "
      + "partition-local)"),
    "etl_crawl_schedule" -> ("size-descending ranking window over the "
      + "per-domain page-count relation: ≤|sources| rows (~20); "
      + "the in-slot cumsum is crawler-partitioned"),
    "q_bootstrap_ci" -> ("order-statistic rank window over the "
      + "replicate-mean relation: exactly 32 rows (B=32 bootstrap "
      + "replicates) regardless of input size"),
    "sample_coreset" -> ("rank + threshold-min windows over the "
      + "post-TakeOrdered relation: exactly 65 rows (the m+1 "
      + "priority-sampling cut) regardless of corpus size"),
    "q_gini_split" -> ("cumulative class-count window over the "
      + "per-threshold relation: |distinct feature values| rows "
      + "(50 — the fact table collapses to value counts BEFORE the "
      + "window, the B84 collapse-first discipline)"),
    "q_tree_depth2" -> ("root-level impurity curve + argmin windows "
      + "over the per-threshold relation: |distinct values| rows; "
      + "the child-level windows partition by tree side"),
    "q_roc_auc" -> ("cumulative TP/FP, lag, and trapezoid-sum windows "
      + "over the per-score relation: |distinct scores| rows (11 — "
      + "the same collapse-first discipline)"),
    "q_gbt_eval" -> ("B88's ROC windows over the per-score relation "
      + "(≤8 distinct scores — 2^3 stump outcomes) plus the training "
      + "rounds' 1-row argmin and |distinct values| curves (B91's "
      + "documented bounds)"),
    "q_forest_eval" -> ("B88's ROC windows over the per-score relation "
      + "(≤ leaf-combo sums, domain-bounded) plus the training levels' "
      + "per-node curves — |trees·nodes × distinct values| rows "
      + "(B90's documented bounds)"),
    "q_pr_curve" -> ("cumulative TP/FP, lag, and AP-sum windows over "
      + "the per-score relation: |distinct scores| rows (11 — the "
      + "collapse-first discipline, B88's shape with the step "
      + "integral)"),
    "q_oob_eval" -> ("B88's ROC windows over the per-score relation "
      + "(≤ |oob leaf-combo ratios|, domain-bounded) plus B90's "
      + "training-level windows — the B94 shape with per-row OOB "
      + "denominators"),
    "q_confusion" -> ("cumulative TP/FP + J-argmax windows over the "
      + "per-score relation: |distinct scores| rows (≤8 — 2^3 stump "
      + "outcomes, the collapse-first discipline)"),
    "q_cost_curve" -> ("B99's cumulative TP/FP windows over the "
      + "|distinct scores| collapsed relation (≤8 rows); the per-"
      + "ratio cost argmins PARTITION by (cost_fp, cost_fn)"))
  // q_isotonic_calibration's rank/cumulative windows run over the
  // ≤8-bin relation, which is eagerly localCheckpointed before the
  // PAV joins — the walk sees only a LogicalRDD leaf, so the shape
  // is documented here rather than allowlisted (the stale-entry
  // check would reject an unused entry; the q_tree_depthk pattern).
  // streaming_coreset shares the same 65-row windows and ≤10-row
  // centroid crosses post-sink, but streaming twins are excluded from
  // the walk below (their plans embed a consumed memory sink), so the
  // shape is documented here — the batch sample_coreset entry covers it.

  /** Queries allowed a non-equi (cartesian/BNLJ) join, with the
    * k-bound of the small side. */
  private val nonEquiOk: Map[String, String] = Map(
    "ann_bruteforce" -> ("corpus × broadcast(query set) with only the "
      + "vec_id =!= qid guard: query side ≤10 rows (exact scan is the "
      + "operator's definition; the corpus is never self-joined)"),
    "ann_filtered" -> ("corpus × broadcast(query set), =!= guard only: "
      + "query side ≤10 rows (E1's shape + label filter)"),
    "ann_rerank" -> ("int8 coarse scan corpus × broadcast(query set), "
      + "=!= guard only: query side ≤10 rows"),
    "ann_ivf" -> "crossJoin(broadcast(cell centroids)): ≤10 rows",
    "ann_ivf_segmented" -> ("crossJoin(broadcast(standing cell "
      + "centroids)): ≤10 rows, probe-cell selection + segment encode"),
    "ann_ivf_pq" -> "crossJoin(broadcast(cell centroids)): ≤10 rows",
    "ann_ivfpq_residual" -> "crossJoin(broadcast(cell centroids)): ≤10 rows",
    "ann_ivfpq_sweep" -> ("crossJoin(broadcast(cell centroids)) ≤10 rows "
      + "+ crossJoin(broadcast(1-row query count))"),
    "ann_residual_sweep" -> ("crossJoin(broadcast(cell centroids)) ≤10 rows "
      + "+ crossJoin(broadcast(1-row query count))"),
    "emb_incremental_encode" ->
      "crossJoin(broadcast(standing cell centroids)): ≤10 rows",
    "ann_centroid_drift" -> ("crossJoin(broadcast(standing cell "
      + "centroids)) ≤10 rows on both assignment scans + "
      + "crossJoin(broadcast(1-row share totals))"),
    "emb_semdedup" ->
      "crossJoin(broadcast(cell centroids)): ≤10 rows (E3 assignment kernel)",
    "emb_semdedup_sweep" -> ("crossJoin(broadcast(cell centroids)) ≤10 "
      + "rows + crossJoin(broadcast(5-row τ relation + 1-row corpus "
      + "count))"),
    "etl_profile" -> "profile assembly: joins of 1-row per-column aggregates",
    "ann_layered_sweep" -> ("crossJoin(broadcast(1-row exact-top5 "
      + "slot count)) onto the 6-row variant summary — every "
      + "traversal relation behind it (coarse scan, beam rounds, "
      + "exact reference) is eagerly localCheckpointed, so the walk "
      + "sees LogicalRDD leaves (the q_tree_depthk pattern)"),
    "q_threshold_transfer" -> ("crossJoin(broadcast(5-row fold "
      + "list)) over the ≤40-row collapsed (fold, score) bin "
      + "relation — the other-folds aggregation that derives each "
      + "fold's transferred threshold; bin-sized by construction"),
    "event_cooccurrence" -> "crossJoin(broadcast(1-row user count))",
    "q_assoc_rules" -> ("crossJoin(broadcast(1-row basket-count "
      + "scalar)) for lift; the basket self-join itself is EQUI on "
      + "orderkey with the p<p guard as a residual conjunct"),
    "q_gbt_eval" -> ("crossJoin(broadcast(1-row pivoted stump model)) "
      + "+ crossJoin(broadcast(1-row F0)) — scoring is a fused "
      + "projection over the facts; the training rounds' residual "
      + "crossJoins are B91's documented 1-row stumps"),
    "q_forest_eval" -> ("crossJoin(broadcast(1-row pivoted threshold "
      + "model)) — per-tree leaf routing as pure column expressions; "
      + "leaf-score lookups are EQUI broadcast joins on the leaf "
      + "string"),
    "q_calibration" -> ("crossJoin(broadcast(1-row pivoted stump "
      + "model + 1-row F0)) — B93's scoring projection; the grouping "
      + "after it is an ordinary shuffle on the ≤8 distinct scores"),
    "sample_holdout_eval" -> ("crossJoin(broadcast(1-row pivoted "
      + "stump model + 1-row F0)) — the holdout-trained scorer; the "
      + "AUC windows are PARTITIONED by split, so only the model "
      + "cross-join is non-equi"),
    "q_oob_eval" -> ("crossJoin(broadcast(1-row pivoted threshold "
      + "model)) — B94's routing shape; OOB flags are per-row hash "
      + "columns and leaf-score lookups are EQUI broadcast joins"),
    "q_confusion" -> ("crossJoin(broadcast(1-row pivoted stump model "
      + "+ 1-row F0)) — B93's scoring projection feeding the "
      + "operating-point argmax"),
    "q_gbt_importance" -> ("crossJoin(broadcast(1-row round-1 SSE "
      + "normalizer)) over the 3-row stored stump trajectory — the "
      + "whole plan is model-sized, no fact table anywhere"),
    "q_model_compare" -> ("crossJoin(broadcast(1-row pivoted forest "
      + "thresholds)) + crossJoin(broadcast(1-row GBT model)) — both "
      + "stored models score the same scan; leaf-score lookups are "
      + "EQUI broadcast joins and the only shuffle is the final "
      + "1-row aggregate"),
    "q_cost_curve" -> ("crossJoin(broadcast(1-row stored GBT model)) "
      + "for scoring + crossJoin(broadcast(3-row cost-ratio "
      + "relation)) onto the ≤8-row collapsed curve"),
    "sample_slice_eval" -> ("crossJoin(broadcast(1-row stored GBT "
      + "model)) — the scoring projection; every AUC window "
      + "PARTITIONS by the month slice"),
    "q_isotonic_calibration" -> ("crossJoin(broadcast(1-row stored "
      + "GBT model)) for scoring + the PAV interval/triple joins on "
      + "rank ranges over the ≤8-bin relation (≤36 intervals, ≤120 "
      + "triples — model-sized by construction)"),
    "sample_learning_curve" -> ("crossJoin(broadcast(4-row wide model "
      + "relation)) — every size's model scores the SAME held-out "
      + "split, so the test rows fan out over the 4-row broadcast; "
      + "training replication and all windows partition by size"),
    "sample_forest_curve" -> ("crossJoin(broadcast(4-row forest "
      + "threshold pivot)) — J19's fan-out shape on the forest "
      + "family; leaf-score lookups are EQUI broadcast joins and all "
      + "AUC windows partition by size"),
    // q_cv_auc has NO allowlist entry: the joint five-model loop's
    // fold replication optimizes to a plain join (the tfold =!= fold
    // filter rides the 5-row broadcast), scoring is an EQUI broadcast
    // join on the row's fold, and every window partitions by fold —
    // the whole protocol is hygiene-clean without exceptions.
    // q_tree_depthk's level-1 curve window and argmin join fold the
    // constant root path (the B86 shapes), but each level's argmin is
    // eagerly localCheckpointed, so the walk sees only LogicalRDD
    // leaves — documented here rather than allowlisted (the
    // stale-entry check would reject unused entries).
    "q_tree_depth2" -> ("crossJoin(broadcast(1-row root-threshold "
      + "argmin)) — the level-2 side assignment; never a driver "
      + "collect"),
    "q11_important_parts" -> "crossJoin(broadcast(1-row total-value scalar))",
    "q22_dormant_value" -> "crossJoin(broadcast(1-row avg-acctbal scalar))",
    "q_bootstrap_ci" -> ("crossJoin(broadcast(1-row ci_lo)) + "
      + "crossJoin(broadcast(1-row ci_hi)) onto the 1-row totals"),
    "q_ks_test" -> "crossJoin(broadcast(1-row group totals))",
    "q_rfm_segmentation" -> ("crossJoin(broadcast(1-row corpus-max "
      + "date)) + crossJoin(broadcast(1-row quintile boundaries))"),
    "sample_coreset" ->
      "crossJoin(broadcast(cell centroids)): ≤10 rows (E3 assignment kernel)",
    "sketch_hll_distinct" -> "crossJoin(broadcast(1-row alpha/m constants))",
    "sketch_kmv_setops" -> ("source-pair matrix src1 < src2: |sources|² "
      + "pairs, |sources| ≤ 10"),
    "sketch_source_similarity" -> ("source-pair matrix src1 < src2: "
      + "|sources|² pairs, |sources| ≤ 10"),
    "text_lm_score" -> "crossJoin(broadcast(1-row corpus totals))",
    "text_pmi" -> "crossJoin(broadcast(1-row token total))",
    "text_quality_gate" -> "crossJoin(broadcast(1-row quantile thresholds))",
    "text_tfidf" -> "crossJoin(broadcast(1-row document count))",
    "dedup_triangles" ->
      "census assembly: crossJoin(broadcast(1-row node/edge/triangle aggs))",
    "dedup_cluster_profile" -> ("crossJoin(broadcast(1-row corpus/"
      + "labeled-count scalars)) onto the ≤|sizes| histogram relation"),
    "q_psi_drift" -> "crossJoin(broadcast(1-row totals/type-count scalars))",
    "q_chisq_independence" ->
      "crossJoin(broadcast(1-row N/dof scalar)) onto the ≤k² cell relation",
    "q_benford" -> "crossJoin(broadcast(1-row digit-total scalar))",
    "q_k_anonymity" -> "crossJoin(broadcast(1-row table total))",
    "sketch_ams_f2" -> "crossJoin(broadcast(1-row exact-F2 scalar))",
    "text_bm25" -> "crossJoin(broadcast(1-row N/avgdl corpus scalar))",
    "text_kn_lm" -> "crossJoin(broadcast(1-row bigram-type-count scalar))",
    "ann_graph_sweep" -> ("the E1-style exact-reference cross: corpus × "
      + "10-query relation for the recall denominator (the traversal "
      + "itself sits below its per-round localCheckpoints) + "
      + "crossJoin(broadcast(1-row slots scalar))"),
    "q_markov_attribution" -> ("crossJoin(broadcast(1-row base "
      + "conversion prob)) + crossJoin(broadcast(1-row effect total)) — "
      + "the |channels|-row effect assembly; the variants × transition "
      + "cross sits below the matrix localCheckpoint"),
    "bm25_standing" -> ("crossJoin(broadcast(1-row N/avgdl corpus "
      + "scalar)) — the shared C17 scoring tail over the standing "
      + "segments"),
    "q_decay_agg" -> "crossJoin(broadcast(1-row max-timestamp anchor))",
    "dedup_pagerank" ->
      "crossJoin(broadcast(1-row node-count scalar)) per iteration",
    "emb_power_iteration" -> ("crossJoin(broadcast(1-row adaptive-"
      + "divisor scalar)): matrix rescale + one per iteration"),
    "q_abtest_ztest" ->
      "crossJoin(broadcast(1-row corpus purchase totals))",
    "q_seasonality" -> "crossJoin(broadcast(1-row grand-total scalar))",
    "q_event_paths" -> "crossJoin(broadcast(1-row path-total scalar))",
    "sketch_hll_calibration" ->
      "crossJoin(broadcast(32-row register grid)) — the I6 kernel's zero-fill",
    "sketch_qdigest" -> ("crossJoin(broadcast(1-row n/threshold + "
      + "digest-size scalars)) + the 7-target × ≤1k-node digest rank "
      + "probe (theta join, both sides k-bounded)"),
    "dedup_kcore" ->
      "census assembly: crossJoin(broadcast(1-row edge-count agg)) per k",
    "dedup_band_sweep" ->
      "crossJoin(broadcast(1-row superset-verified-count scalar))",
    "q_survival_km" -> ("crossJoin(broadcast(1-row corpus-max-ts + "
      + "1-row user-count scalars))"),
    "dedup_cluster_stability" ->
      "crossJoin(broadcast(1-row cluster-count scalars)) ×2",
    "sketch_bloom_calibration" -> ("crossJoin(broadcast(3-row m-config "
      + "relation)) on build+probe sides + crossJoin(broadcast(1-row "
      + "member count))"),
    "sample_dsir" -> ("crossJoin(broadcast(1-row bucket totals)) + "
      + "crossJoin(broadcast(1-row percentile threshold))"),
    "text_nb_classify" -> ("model grid assembly: train sources × "
      + "broadcast(200-row vocab) (≤|sources|·200 rows, the dense "
      + "zero-filled NB table) + holdout × broadcast(|sources|-row "
      + "class constants)"))
  // ann_sq_sweep's corpus × broadcast(≤10-row query set) =!= join sits
  // below its top-5 persist (an InMemoryRelation leaf in the optimized
  // plan), so the walk cannot see it — documented here rather than
  // allowlisted (the stale-entry check would reject an unused entry).

  test("no unpartitioned windows / non-equi joins outside the documented k-bounded allowlists") {
    val sweep = QuerySweep(spark, sf).get
    // a plan builder that throws is never walked, so it must fail here
    val unwalked = SparkEntry.queries.keySet
      .filterNot(_.startsWith("streaming_")) -- sweep.nodeCounts.keySet
    assert(unwalked.isEmpty, s"plans that could not be built: $unwalked")
    val winViol = sweep.unpartitionedWindows
    val nejViol = sweep.nonEquiJoins
    // lineage-replay lint: an iterative construction that
    // re-references its accumulating relation without checkpoint
    // truncation grows the plan TREE ~3^rounds (ann_mmr's 50.8 s /
    // the q-digest 2 GB explain string, both fixed this round by
    // eager localCheckpoint). Any such defect reappearing shows up
    // as an exploding optimized-plan node count long before it
    // OOMs — the widest honest plan on the surface is ~250 nodes.
    val bloated = sweep.nodeCounts.toSeq.sorted
      .collect { case (name, n) if n > 1500 => s"$name($n)" }
    assert(bloated.isEmpty,
      s"plan-tree blowup (likely unCheckpointed iteration): $bloated")
    assert((winViol -- smallWindowOk.keySet).isEmpty,
      s"unpartitioned window outside allowlist: ${winViol -- smallWindowOk.keySet}")
    assert((nejViol -- nonEquiOk.keySet).isEmpty,
      s"non-equi join outside allowlist: ${nejViol -- nonEquiOk.keySet}")
    assert((smallWindowOk.keySet -- winViol).isEmpty,
      s"stale window allowlist entries: ${smallWindowOk.keySet -- winViol}")
    assert((nonEquiOk.keySet -- nejViol).isEmpty,
      s"stale non-equi allowlist entries: ${nonEquiOk.keySet -- nejViol}")
  }
}
