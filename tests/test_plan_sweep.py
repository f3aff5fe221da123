"""Global physical-plan sweep over EVERY registry query — the repo-wide
invariants a single bad edit could silently break:

1. NO row-at-a-time Python (`BatchEvalPython`) anywhere, ever.
2. NO `CartesianProduct` anywhere (even the documented all-pairs baselines
   ride a broadcast nested-loop, which at least bounds one side).
3. Pandas execution nodes (`ArrowEvalPython` / `MapInPandas` /
   `FlatMapGroupsInPandas`) only in the queries that explicitly choose the
   vectorized-Python path.
4. `BroadcastNestedLoopJoin` (non-equi or all-pairs joins) only where the
   build side is bounded by construction.
5. NO single-partition (empty-partitionBy) Window except over inputs whose
   cardinality is bounded by construction (dim-sized aggregates) or where
   global total order IS the semantics (exact quantiles / cumulative sums
   over key tables, documented per query). Scalar broadcasts must use
   `crossJoin(F.broadcast(agg))`, never `Window.partitionBy()` — a global
   window funnels the whole input through ONE task at scale.

Any query newly joining these lists must justify itself here.
"""

from __future__ import annotations

import re

from breweries_data_engineering_case_spark.plans import registry

#: queries whose SEMANTICS are a non-equi / all-pairs join with a bounded
#: (broadcast) side — the documented exact baselines and scalar broadcasts
BNLJ_OK = {
    "ann_cosine_topk",  # exact baseline: ≤50 query vectors broadcast
    "ann_cosine_topk_ivf",  # the bounded oracle rides an exact
    #   brute-force recall witness in the same plan (≤5 query vectors
    #   broadcast, corpus streamed — the ann_cosine_topk shape), and the
    #   IVF path broadcasts ≤8-row centroid tables
    "embedding_matryoshka_recall",  # two exact ground-truth searches,
    #   5-query broadcast each (the ablation harness, not the serving path)
    "embedding_near_dup_exact",  # exact all-pairs ground-truth twin
    "doc_ngram_jaccard_pairs",  # exact verification primitive, bounded ids
    "doc_levenshtein_pairs",  # bounded-subset edit-distance join
    "tpch_q22_dormant_customers",  # single-row scalar subquery broadcast
    "key_skew_profile",  # single-row totals broadcast
    "events_watermark_lateness_profile",  # single-row event-total broadcast
    #   (the cum_ppm denominator)
    "doc_dsir_importance_select",  # two single-row scalar broadcasts (raw
    #   and target bigram totals feeding the smoothed log-ratio); the
    #   per-doc scoring join itself is an equi-join on the bucket id
    "doc_kneser_ney_ppl_filter",  # single-row train-bigram-total (T)
    #   broadcast (the key_skew_profile shape); the model joins themselves
    #   are equi-joins on (w1,w2)/w1/w2 with ≤V-row broadcast dims
    "events_seq_pattern_support",  # 5-row alphabet dim broadcast (the
    #   pattern fan-out is bounded by |Σ| by construction) + single-row
    #   user-count scalar broadcast for support_ppm
    "orders_theil_inequality_decomposition",  # single-row (S, N) totals
    #   broadcast (the key_skew_profile shape); per-row scoring join is an
    #   equi-join on the 25-row nation aggregate
    "range_join_value_bands",  # 4-row band dim broadcast
    "tpch_q11_important_parts",  # single-row global-threshold broadcast
    "source_mixture_weights",  # single-row normalizer broadcast
    "hard_negative_mining",  # ≤30 anchor vectors broadcast, corpus streamed
    "doc_tfidf_top_terms",  # single-row corpus doc-count broadcast
    "market_basket_rules",  # single-row basket-total broadcast
    "tpch_q15_top_supplier",  # single-row MAX-revenue scalar broadcast
    "orders_rfm_segments",  # single-row anchor-date scalar broadcast
    "graph_pagerank_bipartite",  # single-row node-count scalar broadcast
    "graph_pagerank_salted",  # same node-count scalar broadcast, salted gather
    "orders_abc_pareto",  # single-row grand-total scalar broadcast
    "orders_price_histogram_equidepth",  # single-row quartile-cutoff broadcast
    "kmeans_lloyd_step_int",  # 8-row centroid table broadcast, corpus streamed
    "events_distribution_drift",  # single-row bounds + totals broadcasts
    "kmeans_lloyd_converge_int",  # ≤8-row centroid tables broadcast twice
    "embedding_d4_prune",  # ≤⌊√N⌋-row centroid tables broadcast (the
    #   kmeans_lloyd_converge_int assignment kernel, reused twice, with
    #   k = max(8, ⌊√N⌋)); the SemDeDup pair join itself is an equi-join
    #   on the cluster id
    "vocab_heavy_hitters_pigeonhole",  # single-row corpus-total broadcast
    #   (twice: candidate threshold + final threshold)
    "ann_cosine_topk_ivf_portable",  # ≤8-row centroid tables broadcast
    #   (same shape as the kmeans_lloyd_* queries it reuses)
    "doc_idf_score_hotsalted",  # single-row doc-count + token-total
    #   broadcasts (the hot-key set itself rides broadcast HASH joins)
    "gdpr_delete_propagation",  # three single-row audit-count broadcasts
    "vocab_pmi_collocations",  # two single-row normalizer broadcasts
    #   (token total T, pair total P)
    "doc_bm25_topk",  # single-row corpus-totals (S, N) broadcast
    "hybrid_search_rrf",  # 1-row probe-vector + 1-row doc-count broadcasts
    "customer_segment_nation_chi2",  # 1-row grand-total + 1-row dof broadcasts
    "vocab_char_coverage",  # 1-row corpus-char-total broadcast
    "source_mixture_temperature",  # 1-row totals broadcast
    "lineitem_exact_median_two_pass",  # 1-row (n, lo, hi) stats broadcast
    "dataset_token_budget_allocation",  # 1-row total + 1-row shortfall
    #   broadcasts; the rank window runs over the handful of sources
    "events_shapley_attribution",  # dim-sized coalition lattice: ≤2^C-row
    #   subset/worth tables broadcast (C = bounded channel dimension) +
    #   1-row channel-count and phi-total scalar broadcasts
    "model_calibration_reliability",  # 1-row stats + 1-row nine-cutoff
    #   broadcasts (_exact_rank_cutoffs) + 1-row ECE scalar broadcast
    "events_nelson_aalen_hazard",  # 1-row total-count scalar broadcast
    "er_blocking_quality_eval",  # exact O(n²) ground-truth pair join on
    #   the fixed 800-record probe slice (the blocking audit harness, not
    #   the serving path — production matching rides the blocked equi-join)
    "model_isotonic_calibration",  # ≤10-row bin/prefix/pair-grid lattice
    #   joins (the bounded PAVA minimax) + the rank-kernel broadcasts
    "model_conformal_interval_calibration",  # 1-row q̂ scalar broadcast +
    #   the rank-kernel stats/cutoff broadcasts
    "events_logrank_test_heavy_users",  # 1-row cohort-totals + 1-row
    #   statistic-sums scalar broadcasts (NA-hazard risk-set class)
    "lineitem_price_index_laspeyres_paasche",  # 1-row (base, current) year
    #   bounds broadcast into the scan filter
    # orders_wagner_whitin_lotsize left this list in r14: the 8190-pattern
    #   setup-lattice × month-spine BNLJ joins it was allowlisted for are
    #   gone — the lattice now solves driver-side on a ≤12-row bounded
    #   collect (q_orders.py), so the plan is createDataFrame + one agg
    "orders_empirical_bayes_shrinkage",  # 1-row global-totals broadcast
    "orders_pinball_quantile_eval",  # 3-row quantile-cutoff broadcast +
    #   the rank-kernel stats/cutoff broadcasts
    "events_qini_uplift_curve",  # rank-kernel cutoff broadcasts into the
    #   per-user aggregate
    "events_ipw_treatment_effect",  # rank-kernel cutoff broadcasts + 1-row
    #   ATE scalar broadcast
    "graph_personalized_pagerank",  # 1-row seed-count scalar broadcast
    #   into the restart vector (same class as the node-count broadcast in
    #   graph_pagerank_bipartite)
    "embedding_jl_projection_distortion",  # bounded 20-probe pair join
    #   (the JL audit harness; the projection itself is scan-stage)
    "embedding_kcenter_greedy_init",  # ≤k-row chosen-center broadcast per
    #   iteration + 1-row argmax/min-id scalar broadcasts
    "events_ljung_box_daily",  # ≤31-row day table × 7-row lag lattice +
    #   1-row totals/c0/Q scalar broadcasts
    "events_markov_removal_attribution",  # (levels × states) micro-lattice
    #   broadcasts per absorption round + 1-row start-total/base/Σeffect
    #   scalar broadcasts
    "llm_curation_pipeline_end_to_end",  # 1-row token-total + 1-row
    #   shortfall scalar broadcasts (the Hamilton apportionment stage)
    "orders_profit_curve_threshold",  # rank-kernel cutoff broadcasts +
    #   1-row argmax scalar broadcast over the 10-row curve
    "embedding_seeding_cost_eval",  # ≤8-row seed tables broadcast against
    #   the corpus scan (kcenter machinery + first-k baseline)
    "orders_backlog_aging_waterfall",  # 1-row frontier + 1-row total
    #   scalar broadcasts
    "events_ordered_funnel_conversion",  # five 1-row stage-count scalar
    #   broadcasts into the single-row funnel ledger
    "dq_order_total_reconciliation",  # 1-row bucket-total scalar broadcast
    "events_topk_churn_drift",  # 1-row time-bounds broadcast + 1-row
    #   overlap-count scalar (top-k itself is TakeOrdered, not a window)
    "events_spc_imr_chart",  # 1-row control-limit stats broadcast over the
    #   ≤31-row day chart
    "events_growth_accounting_weekly",  # 1-row max-week scalar broadcast
    #   bounding the churn attribution
    "lineitem_cross_price_elasticity",  # 1-row year-bounds broadcast +
    #   ≤25-row brand table self-joined dim-side (≠ pair lattice)
    "customer_brand_switching_matrix",  # 1-row year-bounds broadcast +
    #   ≤25-row row-total broadcast into the transition matrix
    "part_demand_sbc_classification",  # 1-row span (total-months) scalar
    #   broadcast into the ≤25-row brand stats
    "orders_aov_mix_shift_decomposition",  # 1-row year-bounds + two 1-row
    #   per-year totals broadcasts into the 5-segment grid
    "embedding_clustering_rand_index",  # four 1-row contingency-reduction
    #   scalar broadcasts (idx, sa, sb, n)
    "customer_decay_weighted_value",  # 1-row anchor-date broadcast
    "graph_lpa_modularity",  # 1-row edge-count (m) scalar broadcast
    "doc_jaccard_threshold_sweep",  # exact O(n²) sweep on the bounded
    #   300-doc probe slice (the threshold-decision harness)
    "embedding_norm_audit",  # 1-row corpus-mean broadcast
    "recsys_coverage_diversity_eval",  # three 1-row metric scalars
    #   (catalog size, coverage, ILD) cross-joined into the final row
    "customer_segment_migration",  # 1-row midpoint-date scalar broadcast
    "orders_second_order_hazard",  # 1-row data-horizon scalar broadcast
    "events_type_affinity_lift",  # 1-row user-count scalar broadcast
    "simpsons_reversal_detector",  # 1-row overall-2x2 scalar broadcast
    "graph_bfs_distance_histogram",  # 1-row source-node scalar broadcast
    "orders_aov_mann_kendall",  # month-pair inequality join over the
    #   ~80-row pre-aggregated series + 1-row month-count scalar
    "orders_aov_theil_sen",  # same bounded month-pair inequality join
    "vocab_growth_heaps_curve",  # 1-row max-doc-id + 10-row checkpoint
    #   broadcasts (the conditional-distinct fan, not a data join)
    "doc_simhash_bit_balance",  # 32-row bit-index fan broadcast
    "events_dow_hour_heatmap",  # 1-row grand-total scalar broadcast
    "doc_lsh_candidate_eval",  # exact O(n²) ground-truth join on the
    #   bounded 400-doc probe slice (the evaluation harness, not the
    #   serving path — candidates themselves ride the banded equi-join)
    "events_locf_impute",  # dim-sized event-type list crossed with the spine
    "events_ab_proportion_test",  # single-row variant-totals broadcast
    "orders_decile_lift",  # single-row cutoffs + totals broadcasts and the
    #   triangular join of the TEN-row decile aggregate with itself
    "window_ntile_quartiles_scaled",  # 1-row stats + 1-row cutoffs
    #   broadcasts; the rank→bucket lookup is a 3×≤1024-row inequality
    #   join inside _exact_rank_cutoffs
    "customer_lorenz_deciles",  # 1-row stats + 1-row nine-cutoff broadcast
    #   (_exact_rank_cutoffs) into the per-customer aggregate
    "orders_abc_pareto_scaled",  # 1-row (lo, hi, total) stats broadcast
    "orders_rfm_segments_scaled",  # 1-row anchor + three 1-row cutoff
    #   broadcasts; three bounded rank→bucket lookups (_exact_rank_cutoffs)
    "lineitem_kruskal_wallis_qty_by_flag",  # 1-row totals × 1-row H-sum
    #   scalar broadcast
    "embedding_knn_label_accuracy",  # exact-baseline cosine kernel:
    #   50 probe vectors broadcast, corpus streamed (same as ann_cosine_topk)
    "embedding_centroid_silhouette",  # 10-row centroid table broadcast,
    #   corpus streamed
    "orders_auc_urgent_price",  # 1-row (lo, hi) stats broadcast for the
    #   two-phase prefix binning
    "orders_kaplan_meier_first_ship",  # 1-row total-count scalar broadcast
    "customer_segment_nation_cramers_v",  # 5-row × 25-row marginal grid
    #   expansion (full-grid chi² base) + 1-row scalar broadcasts
    "lineitem_jonckheere_dose_response",  # 1-row JT / null-mean scalar
    #   broadcasts; the cell-pair lookup is equi-on-value over the ≤550-cell
    #   contingency
    "orders_queue_depth_lindley",  # 1-row capacity scalar broadcast
    "lineitem_brown_forsythe_variance",  # 3-row group-median broadcast into
    #   the ≤150-cell histogram + 1-row meds scalar broadcast
    "events_mcnemar_paired_conversion",  # 1-row (lo, hi) bounds broadcast
    "events_cohens_kappa_agreement",  # 1-row totals scalar broadcast
    "events_capture_recapture_distinct",  # 1-row (lo, hi) bounds broadcast
    "retrieval_mmr_diversified_topk",  # exact-baseline cosine candidate
    #   scan (1 query vector broadcast, ann_cosine_topk shape) + the ≤8-row
    #   candidate/pair-matrix greedy re-rank joins
    "events_cem_att_matching",  # 1-row global error-rate scalar broadcast
    "events_competing_risks_cif",  # 1-row total-count scalar broadcast
    #   (the same risk-set shape as orders_kaplan_meier_first_ship)
    "events_conversion_latency_quartiles",  # 1-row stats + 1-row cutoffs
    #   broadcasts (_exact_rank_cutoffs) + the 1-row count x cutoffs join
    "dq_freshness_by_type",  # 1-row dataset-frontier scalar broadcast
    "doremi_domain_mixture_weights",  # 1-row vocab-total / max-excess /
    #   (S, K) / shortfall scalar broadcasts into the ≤K-row domain
    #   ledger (the Hamilton apportionment shape); the scoring joins are
    #   equi-joins on bucket id / domain with ≤V=1024-row broadcast dims
    "doc_quality_classifier_distill",  # 1-row class-token-totals (Np, Nn)
    #   and doc-prior (Dp, Dn) scalar broadcasts; the student scoring
    #   join is an equi-join on the ≤V=4096-row broadcast weight table
    "dataset_epoch_repetition_plan",  # 1-row (pool-budget, source-count)
    #   totals broadcast into the ≤K-row per-source plan
    "dataset_unimax_allocation",  # 1-row (budget, K) totals + 1-row
    #   water-fill split point (m, pfx_m) broadcasts into the ≤K-row
    #   language ledger
}

#: queries allowed a single-partition (global) Window. Each must justify the
#: bounded cardinality of the window INPUT, or the inherently-global
#: semantics, here:
GLOBAL_WINDOW_OK = {
    "orders_pettitt_changepoint",  # rank + CDF windows over the bounded
    #   calendar-day aggregate (~2.5k rows at any fact-table size)
    "events_watermark_lateness_profile",  # block-prefix max over the
    #   per-arrival-MINUTE aggregate (bounded by the time horizon, not by
    #   event count) + cumulative window over the ≤horizon-minute lateness
    #   histogram; the per-event pass partitions by arrival minute
    "hybrid_search_rrf",  # rank windows over the 50-row post-TakeOrdered
    #   per-modality top lists — O(k) rows through one task by design
    "vocab_char_coverage",  # coverage windows over the per-CHARACTER
    #   aggregate — O(|charset|) rows at any corpus size
    "dataset_token_budget_allocation",  # Hamilton rank window over the
    #   per-SOURCE aggregate — O(|sources|) rows at any corpus size
    "doremi_domain_mixture_weights",  # largest-remainder rank window over
    #   the per-DOMAIN allocation ledger — O(|domains|) rows at any
    #   corpus size (the dataset_token_budget_allocation shape)
    "dataset_unimax_allocation",  # capacity-sort rank + cumulative prefix
    #   window over the per-LANGUAGE ledger — O(|languages|) rows at any
    #   corpus size (the water-fill split needs the total capacity order)
    "doc_jaccard_threshold_sweep",  # cumulative window over the ≤11
    #   decile rows of the bucketed pair histogram
    "orders_aov_theil_sen",  # median-rank window over the ~3k-row
    #   month-pair slope set (bounded by months², not data size)
    "dq_benford_first_digit",  # window over the 9-row digit aggregate
    "orders_dow_seasonality",  # window over the 7-row day-of-week aggregate
    "embedding_top_pc_power_iter",  # windows over dim-sized (~128-row) vecs
    "orders_rfm_segments",  # exact-NTILE exercise over the per-customer KEY
    #   table — scale path IMPLEMENTED as orders_rfm_segments_scaled
    #   (exact rank cutoffs via _exact_rank_cutoffs, no key-table window)
    "orders_abc_pareto",  # cumulative revenue share REQUIRES a total order
    #   over the key table — scale path IMPLEMENTED as
    #   orders_abc_pareto_scaled (two-phase prefix sums over revenue bins)
    "window_ntile_quartiles",  # exact global quartiles over orders — the
    #   documented exact-quantile exercise; scale path IMPLEMENTED as
    #   window_ntile_quartiles_scaled (value buckets vs exact rank cutoffs)
    "window_ntile_quartiles_scaled",  # the ONLY global window is the
    #   cumulative walk over the ≤1024-row bin histogram (bounded by
    #   construction — _exact_rank_cutoffs)
    "orders_abc_pareto_scaled",  # ≤1024-row bin-offsets window only; the
    #   per-key running sum is partitioned by bin
    "orders_rfm_segments_scaled",  # three ≤1024-row histogram walks
    #   (one per RFM metric) — no per-customer row in a global window
    "customer_lorenz_deciles",  # kernel histogram walk + the ≤10-row
    #   decile-fold cumulative window — no per-customer global window
    "vocab_zipf_product_stability",  # rank/quartile windows over the
    #   100-row post-TakeOrdered head — O(1) rows at any corpus size
    "lineitem_kruskal_wallis_qty_by_flag",  # midrank walk over the
    #   ≤50-row global quantity histogram (the variable's whole domain)
    "orders_auc_urgent_price",  # bin-offsets window over the ≤1024-row
    #   prefix-sum bin table (two-phase AUC cumulative)
    "orders_kaplan_meier_first_ship",  # risk-set + product-limit windows
    #   over the ≤91-row censored day domain
    "events_competing_risks_cif",  # risk-set, survival-product, and CIF
    #   windows over the ≤31-row (observation month) event-time domain
    "events_conversion_latency_quartiles",  # the kernel's ≤1024-row
    #   histogram walk only (_exact_rank_cutoffs)
    "events_peak_concurrent_sessions",  # day-offsets window over the
    #   calendar-bounded day table (two-phase prefix sweep)
    "orders_queue_depth_lindley",  # running-sum + running-min windows over
    #   the calendar-bounded (~2.4k-row) day aggregate — the max-plus
    #   telescoped Lindley recursion
    "doc_pack_sequences",  # global greedy packing cumsum — order IS the
    #   semantics; scale path packs per source-shard
    "dataset_shuffle_deterministic",  # two-phase row numbering: the ONLY
    #   global window runs over the ≤16-row per-partition count table
    #   (offsets phase of the distributed zipWithIndex)
    "part_abc_xyz_matrix",  # ranking window over the ≤25-row brand
    #   aggregate (bounded by the brand domain)
    "orders_average_precision_urgent",  # two-phase ranking: the ONLY
    #   global window runs over the ≤16-row per-partition (row, positive)
    #   count table
    "model_calibration_reliability",  # _exact_rank_cutoffs internals: the
    #   cumulative walk over the ≤1024-row histogram + the per-rank-index
    #   row_number over the ~n/1024-row target-bucket slices
    "events_nelson_aalen_hazard",  # risk-set walk over the ≤31-row bounded
    #   day table (same class as orders_kaplan_meier_first_ship)
    "model_isotonic_calibration",  # rank-kernel internals + the prefix
    #   walk over the ≤10-row decile-bin table
    "model_conformal_interval_calibration",  # rank-kernel internals
    #   (histogram walk + target-bucket row_number) for the q̂ selection
    "events_logrank_test_heavy_users",  # risk-set walk over the ≤31-row
    #   bounded day table (same class as events_nelson_aalen_hazard)
    "orders_pinball_quantile_eval",  # rank-kernel internals (histogram
    #   walk + target-bucket row_number) for the three cutoffs
    "events_qini_uplift_curve",  # rank-kernel internals + the descending
    #   cumulation over the ≤10-row decile table
    "events_ipw_treatment_effect",  # rank-kernel internals (quartile
    #   cutoffs over the per-user activity column)
    "llm_curation_pipeline_end_to_end",  # largest-remainder rank window
    #   over the ~20-row source dimension (dataset_token_budget_allocation
    #   class)
    "orders_profit_curve_threshold",  # rank-kernel internals + the
    #   descending cumulation over the ≤10-row decile curve
    "events_spc_imr_chart",  # LAG over the bounded ≤31-row day table
    #   (KM-curve class)
    "orders_monthly_revenue_drawdown",  # running max over the bounded
    #   ≤96-row calendar-month table (fiscal-rollup class)
}

#: a Window whose child (through an optional Sort / WindowGroupLimit) is a
#: single-partition exchange = every input row through one task
_GLOBAL_WINDOW_RE = re.compile(
    r"Window [^\n]*\n(?:[\s:|]*\+- (?:Sort|WindowGroupLimit)[^\n]*\n)*"
    r"[\s:|]*\+- Exchange SinglePartition"
)

#: queries that explicitly run vectorized pandas (Arrow) stages
PANDAS_OK = {
    "embedding_near_dup",  # hyperplane-sign UDF over embeddings
    "ann_cosine_topk_lsh",
    "grouped_zscore_pandas",  # the applyInPandas twin, by definition
    "embedding_semantic_dedup",  # integer hyperplane-sign UDF
    "multimodal_feature_extract",
    "multimodal_real_codec_extract",
    "multimodal_resize",  # nearest-neighbor numpy kernel over mapInPandas
    "doc_udtf_sentence_split",  # Arrow-batched Python UDTF (ArrowEvalPythonUDTF)
    "embedding_semantic_dedup_portable",  # integer hyperplane-sign UDF
    "events_cogroup_purchase_attribution",  # cogrouped applyInPandas, by definition
    "doc_token_stats_arrow",  # mapInArrow pyarrow.compute kernel, by definition
    "grouped_stats_arrow",  # grouped applyInArrow pyarrow.compute kernel, by definition
    "events_arrow_udf_cents",  # scalar @arrow_udf kernel, by definition
    "grouped_agg_pandas_udf",  # GROUPED_AGG pandas UDF (AggregateInPandas)
    #   over 3 dim-sized returnflag groups, by definition
    "udtf_analyze_kv_columns",  # Arrow UDTF with analyze(), by definition
    "multimodal_video_shot_boundary",  # same image_dhash mapInPandas
    #   stage over the synthetic frame table
    "multimodal_audio_vad_segments",  # audio_frame_energy mapInPandas
    #   stage (stdlib-wave decode + framed Σs²)
    "multimodal_image_blur_laplacian",  # numpy Laplacian stencil over
    #   mapInPandas (vectorized shifts, no per-pixel Python)
    "multimodal_image_dhash_near_dup",  # PGM decode + dHash over
    #   mapInPandas, by definition (the join side is JVM banded)
    "multimodal_audio_fingerprint_dup",  # WAV decode + FFT fingerprint
    #   over mapInPandas, by definition (the pair join is JVM bucket)
    "multimodal_image_phash_near_dup",  # PGM decode + integer-DCT pHash
    #   over mapInPandas, by definition (the join side is JVM banded)
}

PANDAS_NODES = (
    "AggregateInPandas",
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow",
)


def test_every_query_plan_obeys_global_invariants(spark, sf_dir):
    violations: list[str] = []
    for name, fn in registry.queries().items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "BatchEvalPython" in plan:
            violations.append(f"{name}: row-at-a-time Python UDF")
        if "CartesianProduct" in plan:
            violations.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            violations.append(f"{name}: unexpected BroadcastNestedLoopJoin")
        if any(n in plan for n in PANDAS_NODES) and name not in PANDAS_OK:
            violations.append(f"{name}: unexpected pandas/Arrow node")
        if _GLOBAL_WINDOW_RE.search(plan) and name not in GLOBAL_WINDOW_OK:
            violations.append(f"{name}: single-partition global Window")
    assert not violations, "\n".join(violations)
