"""Driver contract for the inde1_spark engine.

``entry(spark)`` runs the flagship hourly-stats query on sf0.001.
``queries()`` exposes one callable per implemented operator from SURVEY.md §2
(plus the LLM-data-pipeline extensions); ``oracle_sql()`` gives the DuckDB
equivalent for each. Column names and value determinism are aligned between
the two (see inde1_spark/operators/analytics.py docstring for the strategy).

Every registered query is one ``Query`` record in the ordered ``_table()``.
Its ``surface`` is stated there once; the six accessors filter the table
(and ``inde1_spark.oracles.ORACLES``, one dict for every surface) by it.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"

# PRODUCTION is the driver-facing surface. STAGED holds verified operators
# until their window rotation (CLAUDE.md). TEST_ONLY holds the test
# infrastructure twins described in test_only_queries().
PRODUCTION, STAGED, TEST_ONLY = "production", "staged", "test_only"


class Query:
    """One registered query, callable as ``(spark, sf_dir) -> DataFrame``:
    ``fn(*tables loaded in order, *args, **kwargs)``.

    ``name`` defaults to ``fn.__name__``. ``scan_parallel`` loads the tables
    with the guide §2.5 unsplittable-input mitigation, for the queries whose
    map-side CPU (tokenize/ngram/frequency aggregation) dominates their
    runtime — measured 2-3x faster with the scan parallelized (r12).
    Self-disabling when the parquet layout already splits to the session's
    parallelism (real-scale inputs).
    """

    __slots__ = ("fn", "tables", "name", "surface", "scan_parallel", "args", "kwargs")

    def __init__(
        self,
        fn: Callable[..., DataFrame],
        *tables: str,
        name: str | None = None,
        surface: str = PRODUCTION,
        scan_parallel: bool = False,
        args: tuple = (),
        kwargs: dict | None = None,
    ) -> None:
        self.fn = fn
        self.tables = tables
        self.name = name or fn.__name__
        self.surface = surface
        self.scan_parallel = scan_parallel
        self.args = args
        self.kwargs = kwargs or {}

    def __call__(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        from inde1_spark.sources.readers import load_table

        frames = [
            load_table(spark, sf_dir, t, scan_parallel=self.scan_parallel)
            for t in self.tables
        ]
        return self.fn(*frames, *self.args, **self.kwargs)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: single-pass hourly parking-style aggregate (SURVEY §7.2.1)."""
    from inde1_spark.operators.analytics import hourly_stats

    return Query(hourly_stats, "events")(spark, SF0001)


def _select(surface: str) -> dict[str, Query]:
    return {q.name: q for q in _table() if q.surface == surface}


def _oracles(surface: str) -> dict[str, str]:
    from inde1_spark.oracles import ORACLES

    names = _select(surface)
    return {name: sql for name, sql in ORACLES.items() if name in names}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """name -> (spark, sf_dir) -> DataFrame, in ``_table()`` order.

    Dict ORDER IS LOAD-BEARING: the driver's correctness gate verifies the
    FIRST 50 entries. Rotation policy (CLAUDE.md invariant): entries that
    have never received a driver row come first, then entries whose output
    changed since their last driver row, then re-confirmations of the
    oldest greens. Everything behind the window stays pinned locally by
    tests/test_oracle_parity.py, which parametrizes ALL entries.

    STEADY-STATE CADENCE: every window slot not taken by a new query is
    a re-confirmation. Draw the entries whose last driver row is OLDEST
    (round number, then table order) so no query's last driver row ages
    past ~7 rounds (350/50 = 7); new queries, when staged batches
    promote, still jump the queue per the rotation policy above.
    """
    return _select(PRODUCTION)


def staged_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """STAGED surface — operators verified but not yet driver-facing (see
    CLAUDE.md). Each waits here behind the full five-pin checklist
    (double-SF parity, vanilla-session dtype, edge pins, plan pins,
    partition invariance) before promotion. Pinned by
    tests/test_staged_parity.py (same harness as queries()).
    """
    return _select(STAGED)


def test_only_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Bit-reproducible DuckDB twins of the scale-path dedups — TEST
    INFRASTRUCTURE, deliberately NOT part of the engine's query surface.

    Their plans are scale-killers by construction (a single-task sorted
    shingle dictionary for the minhash/simhash twins, a cartesian pair
    join for the embedding twin) and exist only to reproduce the fast
    paths' math digit-for-digit in DuckDB; the production names
    (dedup_minhash_lsh / dedup_simhash / dedup_embedding) delegate to the
    fast paths, whose gate entries hash against exact-ground-truth /
    contract oracles directly. Pinned by tests/test_oracle_parity.py,
    same harness as queries().
    """
    return _select(TEST_ONLY)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per production query."""
    return _oracles(PRODUCTION)


def staged_oracle_sql() -> dict[str, str]:
    return _oracles(STAGED)


def test_only_oracle_sql() -> dict[str, str]:
    return _oracles(TEST_ONLY)


@functools.cache
def _table() -> tuple[Query, ...]:
    """Every registered query, in accessor order (see queries() for the
    rotation policy that orders the production surface)."""
    from inde1_spark.operators import analytics as A
    from inde1_spark.operators import clustering as CL
    from inde1_spark.operators import corpus as C
    from inde1_spark.operators import dedup as D
    from inde1_spark.operators import joins as J
    from inde1_spark.operators import multimodal as M
    from inde1_spark.operators import scoring as SC
    from inde1_spark.operators import similarity as S
    from inde1_spark.operators import text as T
    from inde1_spark.operators import tpch as Q

    return (
        # ================= gate window (first 50) =========================
        # --- never driver-verified: the 12 ops staged through r10 ---
        Query(A.source_length_drift, "documents"),
        Query(A.copartition_audit, "events", "customer", "orders", "lineitem", "part"),
        Query(CL.semdedup_incremental, "embeddings"),
        Query(T.repetition_rules, "documents"),
        Query(D.dedup_winnow_incremental, "documents"),
        Query(D.shingle_df_cap_sweep, "documents"),
        Query(A.schema_evolution_audit, "events"),
        Query(A.compression_ratio_audit, "events"),
        Query(C.corpus_prep_cost_audit, "documents"),
        Query(C.mixture_epoch_plan, "documents"),
        Query(C.split_balance_audit, "documents"),
        Query(SC.perplexity_filter_sweep, "documents", scan_parallel=True),
        # --- output changed since the last driver row: the six r12 rewrites
        #     (inline fan-out, shared tokenization, row-local MMR, explicit-width
        #     re-spreads); hash-green only in the repo's own mirrors so far ---
        Query(D.label_propagation_communities, "documents"),
        Query(CL.semdedup, "embeddings"),
        Query(SC.unigram_logprob, "documents", scan_parallel=True),
        Query(S.knn_lsh_bucketed, "embeddings"),
        Query(S.knn_mmr_rerank, "embeddings"),
        Query(SC.kneser_ney_logprob, "documents", scan_parallel=True),
        # --- re-confirmations: head of the 45 remaining r04-era entries
        #     (last driver rows r04 — the oldest pool after a green r10) ---
        Query(Q.small_qty_revenue, "lineitem", "part"),
        Query(Q.large_volume_customers, "customer", "orders", "lineitem"),
        Query(Q.brand_filtered_revenue, "lineitem", "part"),
        Query(A.funnel_steps, "events"),
        Query(A.transition_matrix, "events"),
        Query(A.time_weighted_avg, "events"),
        Query(A.gap_histogram, "events"),
        Query(A.weekly_growth, "events"),
        Query(A.dau_wau, "events"),
        Query(A.cumulative_users, "events"),
        Query(A.attribution_first_touch, "events"),
        Query(A.retention_cohorts, "events"),
        Query(A.ewma_series, "events"),
        Query(A.ewma_anomaly, "events"),
        Query(CL.cluster_balance, "embeddings"),
        Query(S.embedding_outliers, "embeddings"),
        Query(C.weighted_sample, "documents"),
        Query(A.approx_percentiles, "events"),
        Query(D.dedup_incremental, "documents"),
        Query(T.lang_confusion, "documents"),
        Query(SC.vocab_coverage, "documents"),
        Query(SC.token_entropy, "documents"),
        Query(C.dup_rate_by_source, "documents"),
        Query(D.dedup_minhash_fast, "documents"),
        Query(
            D.dedup_minhash_fast, "documents", name="dedup_minhash_capped",
            kwargs={"max_shingle_df": 64},
        ),
        # contract shape (ground-truth count + recall/precision booleans):
        # the raw pair output is engine-specific, see dedup_simhash_contract
        Query(D.dedup_simhash_contract, "documents", name="dedup_simhash_fast"),
        Query(S.embedding_dim_stats, "embeddings"),
        Query(Q.min_cost_supplier, "part", "lineitem", "supplier", "nation", "region"),
        Query(Q.supplier_count_by_part_attr, "lineitem", "part", "supplier"),
        Query(Q.excess_qty_suppliers, "lineitem", "supplier", "nation"),
        Query(Q.sole_late_supplier, "orders", "lineitem", "supplier"),
        Query(A.grouping_sets_revenue, "events"),
        # ============== end gate window ===================================
        # --- the last six r04-era re-confirmations, pushed just behind the
        #     window by the six rewrites: first in line for the next one ---
        Query(A.holt_linear, "events"),
        Query(A.zscore_anomaly, "events"),
        Query(D.dedup_levenshtein, "documents"),
        Query(T.top_ngrams_per_lang, "documents"),
        Query(A.distinct_rollup_hll, "events"),
        Query(D.dedup_containment, "documents"),
        # r10 gate-green block (all 50 hash-green in CORRECTNESS_r10;
        # pinned locally by tests/test_oracle_parity.py every run).
        Query(A.archive_prune_audit, "events"),
        Query(A.salting_plan, "events"),
        Query(A.bucketing_plan, "events", "orders", "lineitem"),
        Query(A.window_completeness_audit, "events"),
        Query(A.value_drift_audit, "events"),
        Query(A.temporal_leakage_audit, "events"),
        Query(D.dedup_substring_incremental, "documents"),
        Query(D.dedup_pipeline_funnel, "documents"),
        Query(D.minhash_band_sweep, "documents"),
        Query(CL.semdedup_threshold_sweep, "embeddings"),
        Query(T.fertility_by_source, "documents"),
        Query(
            A.broadcast_plan_audit, "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem",
        ),
        # --- re-confirmations: the 33 remaining r03-era entries (last
        #     driver rows r03 — the oldest pool after a green r09) ---
        Query(S.knn_ivf, "embeddings"),
        Query(S.embedding_quantize, "embeddings"),
        Query(T.token_stats, "documents", name="text_token_stats"),
        Query(T.token_count_bpe, "documents", name="text_token_bpe"),
        Query(T.quality_score, "documents", name="text_quality"),
        Query(T.lang_id, "documents", name="text_lang_id"),
        Query(T.fingerprint, "documents", name="text_fingerprint"),
        Query(T.repetition_stats, "documents", name="text_repetition"),
        Query(T.gopher_rules, "documents", name="text_gopher"),
        Query(T.pii_redact, "documents"),
        Query(T.line_quality, "documents", name="text_lines"),
        Query(T.quality_bins, "documents"),
        Query(C.source_stats, "documents"),
        Query(T.train_test_split, "documents"),
        Query(T.train_test_split_grouped, "documents"),
        Query(T.stratified_sample, "documents"),
        Query(C.pack_sequences, "documents"),
        Query(C.ngram_vocab, "documents"),
        Query(C.contamination_check, "documents"),
        Query(C.mixture_sample, "documents"),
        Query(C.trim_outliers, "documents"),
        Query(C.shuffle_shards, "documents"),
        Query(M.binary_meta, "documents", name="multimodal_meta"),
        Query(M.feature_columns, "documents", name="multimodal_features"),
        Query(M.sample_frames, "documents", name="multimodal_frames"),
        Query(A.approx_distinct, "events"),
        Query(C.chunk_tokens, "documents"),
        Query(C.dsir_sample, "documents"),
        Query(T.quality_ntile, "documents"),
        Query(C.cross_source_overlap, "documents"),
        Query(SC.term_cooccurrence, "documents"),
        Query(C.length_mad_outliers, "documents"),
        Query(A.pivot_source_lang, "documents"),
        # --- re-confirmations: head of the r04 gate-green block ---
        Query(
            Q.cross_nation_volume, "supplier", "lineitem", "orders", "customer",
            "nation",
        ),
        Query(
            Q.nation_market_share, "region", "nation", "customer", "orders",
            "lineitem", "supplier",
        ),
        Query(
            Q.product_type_profit, "part", "supplier", "nation", "lineitem", "orders",
        ),
        Query(Q.returned_item_losses, "customer", "orders", "lineitem", "nation"),
        Query(Q.late_shipment_priority, "orders", "lineitem"),
        # r09 gate-green block (all 50 hash-green in CORRECTNESS_r09;
        # pinned locally by tests/test_oracle_parity.py every run).
        Query(A.nelson_aalen_hazard, "events"),
        Query(A.ndv_estimator_audit, "events"),
        Query(A.file_compaction_plan, "events"),
        Query(SC.jm_query_likelihood, "documents"),
        Query(D.dedup_substring_windows, "documents"),
        Query(A.sort_benefit_audit, "events"),
        Query(A.mcnemar_halves_test, "events"),
        Query(A.kmv_distinct_by_source, "documents"),
        Query(D.bridge_edges_audit, "documents"),
        Query(A.cochran_q_weeks, "events"),
        Query(SC.morisita_horn_overlap, "documents"),
        # (r09 window re-confirmations: the 25 r02-era entries)
        Query(A.enrich_users_ttl, "events", "customer"),
        Query(A.asof_join, "events"),
        Query(A.range_join_windows, "events"),
        Query(A.resample_ffill, "events"),
        Query(A.window_funcs, "events"),
        Query(A.percentiles, "events"),
        Query(A.corr_exact, "events"),
        Query(A.rollup_nation_region, "orders", "customer", "nation", "region"),
        Query(A.sessionize_gap, "events"),
        Query(A.cube_day_type, "events"),
        Query(A.value_histogram, "events"),
        Query(A.string_funcs, "events"),
        Query(A.revenue_daily_model, "events"),
        Query(A.exists_check, "events"),
        Query(A.json_document, "events"),
        Query(A.time_funcs, "events"),
        Query(
            Q.revenue_by_nation, "region", "nation", "customer", "orders", "lineitem",
        ),
        Query(Q.forecast_revenue, "lineitem"),
        Query(Q.order_priority_check, "orders", "lineitem"),
        Query(Q.customer_order_distribution, "customer", "orders"),
        Query(Q.promo_revenue, "lineitem", "part"),
        Query(Q.top_supplier, "supplier", "lineitem"),
        Query(Q.customers_without_orders, "customer", "orders"),
        Query(D.dedup_exact, "documents"),
        Query(D.dedup_ngram_jaccard, "documents"),
        # (r09 window re-confirmations: the first 13 r03-era entries)
        Query(D.dedup_embedding_lsh, "embeddings"),
        Query(CL.kmeans_assign, "embeddings"),
        Query(D.dedup_spans, "documents"),
        Query(D.dedup_winnow, "documents"),
        Query(T.winnow_fingerprints, "documents", name="text_winnow"),
        Query(D.dedup_clusters, "documents"),
        Query(D.dedup_keep_best, "documents"),
        Query(SC.tfidf_top_terms, "documents", scan_parallel=True),
        Query(SC.bm25_score, "documents"),
        Query(S.knn_brute_cosine, "embeddings"),
        # r08 gate-green block (all 50 hash-green in CORRECTNESS_r08;
        # pinned locally by tests/test_oracle_parity.py every run).
        Query(A.entropy_rate_markov, "events"),
        Query(S.ann_rank_overlap_rbo, "embeddings"),
        Query(A.sprt_entry_bias, "events"),
        Query(A.pacf_daily, "events"),
        Query(A.periodogram_daily, "events"),
        Query(SC.rm3_expansion, "documents"),
        Query(CL.prototypicality_prune, "embeddings"),
        Query(A.hill_tail_index, "events"),
        Query(A.did_estimate, "events"),
        Query(A.cuped_adjustment, "events"),
        Query(A.srm_check, "events"),
        Query(A.power_mde_plan, "events"),
        Query(A.wilson_intervals, "events"),
        Query(A.peak_detection, "events"),
        Query(A.hitting_time_markov, "events"),
        Query(A.dtw_entry_exit, "events"),
        Query(CL.clustering_agreement, "embeddings"),
        Query(S.embedding_drift, "embeddings"),
        Query(A.dispersion_check, "events"),
        Query(A.friedman_test, "events"),
        Query(A.ljung_box, "events"),
        Query(C.lorenz_curve, "documents"),
        Query(A.turning_points_test, "events"),
        Query(A.bartels_rank_vn, "events"),
        Query(A.poisson_rate_ci, "events"),
        Query(A.grubbs_daily_outlier, "events"),
        Query(A.odds_ratio_daily, "events"),
        Query(A.mood_median_test, "events"),
        Query(A.page_trend_test, "events"),
        Query(A.granger_daily, "events"),
        Query(A.zonemap_prune_audit, "events"),
        Query(A.ivm_merge_check, "events"),
        Query(A.winsorized_stats, "events"),
        Query(D.degree_assortativity, "documents"),
        Query(S.embedding_cka, "embeddings"),
        Query(S.ivf_nprobe_sweep, "embeddings"),
        Query(T.rake_keywords, "documents"),
        Query(A.cvm_two_sample, "events"),
        Query(A.two_proportion_z, "events"),
        Query(A.capture_recapture, "events"),
        Query(A.join_order_audit, "orders", "customer", "nation"),
        Query(A.cochran_armitage_trend, "events"),
        Query(C.lognormal_length_fit, "documents"),
        Query(A.hourly_stats, "events"),
        Query(A.occupancy_asof, "events"),
        Query(A.session_pairing, "events"),
        Query(A.alerts, "events", "customer"),
        Query(A.cumulative_series, "events"),
        Query(A.weekly_revenue_by_type, "events"),
        Query(Q.pricing_summary, "lineitem"),
        # r07 gate-green block (all 50 hash-green in CORRECTNESS_r07;
        # pinned locally by tests/test_oracle_parity.py every run).
        Query(A.market_basket_lift, "lineitem"),
        Query(A.new_vs_returning, "events"),
        Query(S.ann_mrr_ndcg, "embeddings"),
        Query(D.lsh_rebanding_planner, "documents"),
        Query(A.halflife_popularity, "events"),
        Query(C.span_corruption_plan, "documents"),
        Query(D.kcore_dup_graph, "documents"),
        Query(D.dedup_threshold_sweep, "documents"),
        Query(J.bloom_parameter_sweep, "orders", "customer"),
        Query(C.coverage_select, "documents"),
        Query(A.forecast_conformal, "events"),
        Query(D.bbit_minhash_est, "documents"),
        Query(A.moments_profile, "events"),
        Query(A.mann_whitney_pairs, "events"),
        Query(A.theil_sen_slope, "events"),
        Query(A.kruskal_wallis, "events"),
        Query(A.spearman_corr, "lineitem"),
        Query(A.cramers_v_matrix, "events"),
        Query(A.partition_skew_audit, "events"),
        Query(A.cross_correlation_lagged, "events"),
        Query(A.sax_symbolize, "events"),
        Query(C.stratified_sample_mad, "documents"),
        Query(C.token_budget_curriculum, "documents"),
        Query(D.simhash_hamming_histogram, "documents"),
        Query(D.dup_link_prediction, "documents"),
        Query(T.word_link_prediction, "documents"),
        Query(S.knn_ivf_pq, "embeddings"),
        Query(Q.cube_returnflag_status, "lineitem"),
        Query(A.funnel_windowed, "events"),
        Query(A.hurst_exponent, "events"),
        Query(A.burst_viterbi, "events"),
        Query(D.dedup_savings_by_source, "documents"),
        Query(C.padding_waste_sweep, "documents"),
        Query(A.mutual_info_matrix, "events"),
        Query(A.cusum_drift, "events"),
        Query(A.wilcoxon_signed_rank, "events"),
        Query(C.theil_index, "documents"),
        Query(A.kendall_tau_matrix, "lineitem"),
        Query(SC.jsd_sources, "documents"),
        Query(A.hilbert_layout, "events", scan_parallel=True),
        Query(A.brown_forsythe, "events"),
        Query(A.holt_winters, "events"),
        Query(D.fellegi_sunter_linkage, "documents"),
        Query(A.anova_oneway, "events"),
        Query(SC.dirichlet_query_likelihood, "documents"),
        Query(A.isotonic_daily, "events"),
        Query(C.diversity_profile, "documents"),
        Query(S.matryoshka_recall, "embeddings"),
        # r06 gate-green block (all 50 hash-green in CORRECTNESS_r06;
        # pinned locally by tests/test_oracle_parity.py every run).
        Query(C.gini_token_concentration, "documents"),
        Query(D.minhash_est_jaccard, "documents"),
        Query(S.embedding_isotropy, "embeddings"),
        Query(S.knn_pq, "embeddings"),
        Query(D.dup_cluster_histogram, "documents"),
        Query(T.ttr_profile, "documents"),
        Query(D.cdc_chunk_stats, "documents"),
        Query(SC.vocab_coverage_curve, "documents"),
        Query(A.merge_upsert, "documents"),
        Query(A.scd2_intervals, "events"),
        Query(A.scd2_asof_enrich, "events"),
        Query(A.salted_group_count, "events"),
        Query(T.bpe_learn_merges, "documents"),
        Query(T.bpe_apply, "documents"),
        Query(S.ann_paths_recall, "embeddings"),
        Query(A.kanonymity_audit, "events"),
        Query(A.ldiversity_audit, "events"),
        Query(D.cross_source_dup_matrix, "documents"),
        Query(CL.cluster_separation, "embeddings"),
        Query(A.tcloseness_audit, "events"),
        Query(A.bootstrap_mean_ci, "events"),
        Query(A.seasonal_decompose, "events"),
        Query(A.value_drift_psi, "events"),
        Query(T.modality_agreement, "documents", "embeddings"),
        Query(A.heavy_hitters_cms, "events"),
        Query(J.bloom_prefilter_join, "orders", "customer"),
        Query(T.keyword_textrank, "documents"),
        Query(A.chi2_independence, "events"),
        Query(A.acf_daily, "events"),
        Query(A.mann_kendall, "events"),
        Query(A.benford_deviation, "events"),
        Query(A.runs_test, "events"),
        Query(A.join_cardinality_audit, "events"),
        Query(A.audience_overlap, "events"),
        Query(C.quality_emd, "documents"),
        Query(A.markov_stationary, "events"),
        Query(SC.heaps_fit, "documents"),
        Query(SC.log_odds_distinctive_terms, "documents"),
        Query(A.pareto_frontier, "part"),
        Query(A.interval_coverage, "events"),
        Query(A.user_streaks, "events"),
        Query(T.symspell_neighbors, "part", args=("p_name",)),
        Query(S.mutual_nearest_neighbors, "embeddings"),
        Query(C.quality_quantile_normalize, "documents"),
        Query(A.session_paths, "events"),
        Query(A.kaplan_meier_retention, "events"),
        Query(A.asof_join_forward, "events"),
        Query(SC.cross_source_perplexity, "documents"),
        Query(SC.impact_postings, "documents", scan_parallel=True),
        Query(A.profile_columns, "events"),
        # r05 gate-green block (all 50 hash-green in CORRECTNESS_r05;
        # pinned locally by tests/test_oracle_parity.py every run).
        # --- r05-verified: deferred from the r04 window ---
        Query(A.rolling_daily_revenue, "events"),
        Query(A.dow_profile, "events"),
        Query(A.value_percentile_ranks, "events"),
        # --- never driver-verified: added late in r04 ---
        Query(Q.nation_stock_value, "lineitem", "supplier", "nation"),
        Query(D.similarity_join_allpairs, "documents"),
        Query(A.changepoint_meanshift, "events"),
        Query(S.embedding_dim_corr, "embeddings"),
        Query(T.tokenizer_fertility, "documents"),
        Query(A.zorder_layout, "events"),
        Query(SC.bigram_logprob, "documents"),
        Query(A.percentile_rollup_kll, "events"),
        Query(C.source_drift_ks, "documents"),
        Query(SC.zipf_fit, "documents"),
        Query(S.ann_recall_eval, "embeddings"),
        Query(D.chunk_dedup_cdc, "documents"),
        Query(D.dup_graph_transitivity, "documents"),
        Query(D.cdc_doc_overlap, "documents"),
        Query(S.knn_rrf_fusion, "embeddings"),
        Query(S.embedding_random_projection, "embeddings"),
        Query(S.knn_two_stage, "embeddings"),
        Query(C.mixture_temperature, "documents"),
        Query(T.hash_vectorize, "documents"),
        Query(S.embedding_top_component, "embeddings"),
        Query(T.doc_knn_hashed, "documents"),
        Query(A.rfm_segments, "events"),
        Query(A.cohort_ltv, "events"),
        Query(A.user_burstiness, "events"),
        # --- r05 re-confirmation block (the 7 oldest r01/r02 greens now sit
        # in the r08 gate window above; the rest stay here) ---
        Query(Q.top_revenue_orders, "customer", "orders", "lineitem"),
        Query(A.filter_project, "events"),
        Query(A.group_count, "events"),
        Query(A.global_counts, "events"),
        Query(A.occupancy_clamped, "events"),
        Query(A.revenue_duration, "events"),
        Query(A.avg_per_group, "events"),
        Query(A.daily_buckets, "events"),
        Query(A.duration_stats, "events"),
        Query(A.heatmap_hour, "events"),
        Query(A.entry_exit_ratio, "events"),
        Query(A.enrich_users, "events", "customer"),
        Query(A.occupancy_pct, "events", "customer", "nation"),
        Query(A.top_k_users, "events"),
        Query(A.max_ts, "events"),
        Query(A.set_ops, "events"),
        # r04 gate-green block, remaining 7 (all hash-green in
        # CORRECTNESS_r04; the first 5 were re-confirmed in the r10
        # window, the next 38 sit in the r11 gate window above;
        # pinned locally by tests/test_oracle_parity.py every run).
        Query(A.hopping_window_stats, "events"),
        Query(D.pagerank_dup_graph, "documents"),
        Query(A.json_props_audit, "events"),
        Query(A.conversion_lag_histogram, "events"),
        Query(A.daily_trend_regression, "events"),
        Query(A.join_key_skew, "events"),
        Query(C.shingle_novelty, "documents"),
        # ================= staged surface ================================
        # ----- r12 batch, first tranche (promotes in the r12 rotation) -----
        Query(A.jonckheere_terpstra_trend, "events", surface=STAGED),
        Query(A.mantel_haenszel_or, "events", surface=STAGED),
        Query(A.range_partition_plan, "events", surface=STAGED),
        Query(
            A.join_size_estimate_audit, "events", "customer", "orders", "lineitem",
            "part", surface=STAGED,
        ),
        Query(T.langid_calibration_audit, "documents", surface=STAGED),
        Query(D.graph_modularity_audit, "documents", surface=STAGED),
        Query(SC.bm25_parameter_sweep, "documents", surface=STAGED),
        Query(A.session_gap_sweep, "events", surface=STAGED),
        Query(A.predicate_selectivity_audit, "events", surface=STAGED),
        # ----- r12 batch, second tranche (staged in r11) -----
        Query(A.restart_cost_audit, "events", surface=STAGED),
        Query(A.backfill_skew_audit, "events", surface=STAGED),
        Query(
            A.fk_integrity_audit, "events", "customer", "orders", "lineitem", "part",
            "documents", "embeddings", surface=STAGED,
        ),
        # ----- r13 batch, first tranche (accumulating behind the r12 batch) -----
        Query(D.cdc_mask_sweep, "documents", surface=STAGED),
        Query(C.quality_dedup_interaction, "documents", surface=STAGED),
        Query(A.event_order_integrity_audit, "events", surface=STAGED),
        Query(D.minhash_perm_sweep, "documents", surface=STAGED),
        Query(C.curation_order_audit, "documents", surface=STAGED),
        Query(T.text_normalization_audit, "documents", surface=STAGED),
        Query(S.pq_distortion_sweep, "embeddings", surface=STAGED),
        Query(SC.lm_order_sweep, "documents", surface=STAGED),
        Query(D.keep_policy_audit, "documents", surface=STAGED),
        Query(D.hash_width_audit, "documents", surface=STAGED),
        Query(C.corpus_shard_plan, "documents", surface=STAGED),
        Query(A.state_size_profile, "events", surface=STAGED),
        # ----- r14 batch, first tranche (staged in r11) -----
        Query(A.cache_hit_curve, "events", surface=STAGED),
        Query(A.allowed_lateness_sweep, "events", surface=STAGED),
        Query(D.blocking_key_sweep, "documents", surface=STAGED),
        # ----- r14 batch, second tranche (staged in r11) -----
        Query(A.ttl_staleness_sweep, "events", surface=STAGED),
        Query(A.trigger_interval_sweep, "events", surface=STAGED),
        Query(C.truncation_loss_sweep, "documents", surface=STAGED),
        # ----- r14 batch, third tranche (staged in r11) -----
        Query(D.lsh_bucket_balance_audit, "documents", surface=STAGED),
        Query(A.shuffle_width_sweep, "events", surface=STAGED),
        Query(A.retention_policy_sweep, "events", surface=STAGED),
        # ----- r14 batch, fourth tranche (staged in r11) -----
        Query(A.column_completeness_audit, "events", surface=STAGED),
        Query(A.scan_split_sweep, "events", surface=STAGED),
        Query(A.rate_limit_sweep, "events", surface=STAGED),
        # ----- r15 batch, first tranche (staged in r11) -----
        Query(A.watermark_state_tradeoff, "events", surface=STAGED),
        Query(A.key_churn_audit, "events", surface=STAGED),
        # ----- r15 batch, second tranche (staged in r11) -----
        Query(A.lateness_attribution_audit, "events", surface=STAGED),
        Query(S.ivf_list_balance_audit, "embeddings", surface=STAGED),
        Query(C.pack_budget_sweep, "documents", surface=STAGED),
        # ================= test-only twins ===============================
        Query(D.dedup_minhash_oracle, "documents", surface=TEST_ONLY),
        Query(D.dedup_simhash_oracle, "documents", surface=TEST_ONLY),
        Query(D.dedup_embedding_oracle, "embeddings", surface=TEST_ONLY),
    )
