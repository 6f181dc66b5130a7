"""Driver-facing query registry.

Every operator from SURVEY.md §2 lands here as a named ``Query``:
a PySpark implementation ``fn(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) the equivalent ANSI SQL DuckDB runs as the correctness
oracle. The driver hash-matches the two at sf=0.01, sorting columns by name —
so every computed column is aliased identically on both sides, and floating
aggregates are rounded identically on both sides to absorb summation-order
differences between engines.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: add a query to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "", tags=tags)
        return fn

    return deco


# Driver-visit priority. The driver's correctness gate walks the queries()
# dict in insertion order and stops at 50 entries per round, so coverage is a
# rotation problem (VERDICT r3 #1). Round 15's 50 is the round-14 plan carried
# forward one round (the r14 gate re-ran r13's 50 instead): the 49-query
# r10-evidence cohort (hits the age-4 ceiling after r15) + the stalest
# r11-cohort query (cusum_changepoint_daily_revenue) in slot 50.
# ZERO registrations this round: the registry stays at 199/200 under the
# freeze, so _GATE_PLAN_CHANGED is empty.
# _PRIORITY_GATE must hold exactly _GATE_WINDOW names; a unit test pins the
# length, and tests/test_registry_rotation.py enforces the staleness budget
# (no query's driver evidence older than _MAX_EVIDENCE_AGE rounds after the
# next gate run — VERDICT r5 #5) plus the stalest-first ordering (gate slots
# may not go to fresh-evidence queries unless declared plan-changed).
#
# ---- REGISTRY CAPACITY POLICY (VERDICT r8 #2) -----------------------------
# Hard capacity: _GATE_WINDOW (50) x _MAX_EVIDENCE_AGE (4) = 200 registered
# queries. Beyond that the staleness invariant is arithmetically
# unsatisfiable. Standing policy, enforced by
# tests/test_registry_rotation.py::test_registry_within_gate_capacity:
#   1. REGISTRATION FREEZE at 199: after the two committed r10 registrations
#      (event_burstiness_fano, label_propagation_communities) the registry
#      holds 199 of 200 capacity. The 200th slot is reserved headroom for
#      plan-changed re-gates (a re-gated query consumes a gate slot out of
#      staleness order, which transiently tightens the budget) and is NOT
#      available for new registrations.
#   2. ONE-IN-ONE-OUT: any registration beyond 199 must delist a named query
#      in the same commit, with the rationale recorded here. Current delist
#      shortlist (near-duplicate demo pairs whose second member adds no
#      distinct operator evidence): simhash_fingerprints/simhash_near_dups
#      (the near-dups query exercises the fingerprint path end-to-end),
#      minhash_signatures/minhash_jaccard_estimate_error (ditto).
#   3. TESTS-ONLY LANE is the permanent default for new operator work:
#      implement + property-test + prepare the DuckDB oracle SQL as a module
#      constant + cross-check it in tests (pattern:
#      tests/test_round8_ops.py) WITHOUT an @register decorator.
#      Registration, if ever justified, is then a decorator move governed by
#      rules 1-2. Rows-only/unregistered surfaces lose nothing but the
#      driver-hash row; the oracle cross-check in pytest carries the same
#      comparison at the same scale factor.
#   4. LANE END-STATE (2026-08-16, VERDICT r11 #3 — decided before the lane
#      reaches 30 operators): LANE PERMANENCE IS THE END STATE. The lane is
#      not a waiting room for registration; it is the registry's permanent
#      overflow tier, and its growth is bounded by evidence quality, not by
#      a count. Rationale, in order of weight:
#        (a) Evidence parity: every lane operator runs the SAME comparison
#            the driver runs (prepared DuckDB SQL or independent library
#            recompute, sorted-column exact match, any SF) through ONE
#            command (tools/lane_check.py), and since r11 the result is a
#            committed per-round artifact (LANE_r{N}.json) with the same
#            audit trail as CORRECTNESS_r{N}.json. A driver-hash row would
#            DUPLICATE this evidence, not strengthen it.
#        (b) Swap arithmetic is net-negative: one-in-one-out would delist a
#            query (losing its driver row outright) to buy a duplicate row
#            for a lane operator — and the strongest swap candidates (the
#            two epoch compositions) are the lane's most EXPENSIVE checks
#            (18-19s at sf0.01, k BPE driver folds at plan-build); putting
#            one in the driver's 50-slot gate would eat sweep budget every
#            round for zero new information. VERDICT r11's own lane-cost
#            note says not to register either without a cheaper form.
#        (c) Growth bound: a lane operator is admitted only with (i) a
#            prepared oracle runnable by lane_check at any SF, (ii)
#            property/edge tests, (iii) a scale probe or memo-inheritance
#            note in SCALING.md. Operators that can't meet (i) get the
#            weaker pytest-pin class and are labeled as such in
#            OPERATORS.md. The lane may grow past 30 under these rules;
#            what is FROZEN is the registry (199) and the gate arithmetic.
#      Revisit trigger (unchanged from the r9 decision): a lane operator
#      whose plan changes in a way pytest cannot gate (e.g. a
#      nondeterministic form needing the driver's rows-only lane).
#   5. LANE sf0.1 CADENCE (2026-08-16, VERDICT r12 #3 — deciding the
#      two-SF evidence tier's rhythm so LANE_r12_sf0.1.json doesn't decay
#      into a stale one-off): LANE_r{N}.json at sf0.01 is committed EVERY
#      round (unchanged); LANE_r{N}_sf0.1.json is committed EVERY round
#      IN WHICH ANY LANE OPERATOR'S PLAN CHANGED (new operator, changed
#      query code, changed fixture/oracle) and otherwise at least every
#      SECOND round, so sf0.1 lane evidence is never older than 2 rounds
#      and never stale for a changed plan. Qualification: a run counts
#      only if the pre-run 1-min loadavg is below 2 (the round-close
#      protocol's noise rule); a louder run is rejected and re-taken,
#      logged in SCALING.md like any bursted probe.
# ---------------------------------------------------------------------------
_GATE_WINDOW = 50

_PRIORITY_GATE: tuple[str, ...] = (
    # The r10-evidence cohort (49) — the oldest driver evidence in the
    # repo (age 4 at the r15 gate, the staleness ceiling).
    "benford_first_digit_check",
    "calendar_gap_fill_revenue",
    "calibration_curve_bins",
    "cdc_merge_apply",
    "closeness_centrality_corr_graph",
    "cohort_retention_matrix",
    "cuped_experiment_readout",
    "customer_order_distribution",
    "degree_assortativity_corr_graph",
    "discount_band_revenue",
    "disjunctive_branch_revenue",
    "dsir_importance_selection",
    "gini_segment_mix",
    "hard_negative_mining",
    "harmonic_centrality_corr_graph",
    "important_part_value_share",
    "jackknife_ratio_readout",
    "join_key_skew_profile",
    "kmeans_silhouette_by_cluster",
    "late_order_priority_counts",
    "market_share_by_year",
    "min_cost_part_supplier",
    "mutual_information_flags",
    "ndcg_retrieval_eval",
    "near_dup_best_representative",
    "order_lineitem_reconciliation",
    "pareto_frontier_parts",
    "product_profit_by_nation_year",
    "reciprocal_rank_fusion",
    "referential_integrity_audit",
    "returned_item_report",
    "returnflag_priority_mix",
    "rfm_customer_segments",
    "rolling_revenue_anomaly",
    "salted_returnflag_stats",
    "snapshot_diff_changeset",
    "srm_guardrail",
    "stratified_kfold_assignment",
    "temporal_embargo_split",
    "top_revenue_suppliers",
    "vocab_oov_coverage",
    "volume_shipping_pair",
    "wealthy_inactive_customers",
    "weighted_reservoir_sample",
    "zipf_slope_tokens",
    "zone_map_stats",
    "event_burstiness_fano",
    "label_propagation_communities",
    "kaplan_meier_customer_gaps",
    # Slot 50: the stalest r11-cohort query, pulled one round early (no
    # plan-changed re-gate materialized this round).
    "cusum_changepoint_daily_revenue",
)

# Gate members whose slot is justified by a NEW or CHANGED plan rather than
# evidence staleness. tests/test_registry_rotation.py exempts these from the
# stalest-first ordering check (their evidence, if any, is legitimately
# fresh) — every other gate member must be at least as stale as everything
# left outside the gate. Round 15 has ZERO registrations and zero
# plan-changed re-gates (the registration freeze at 199 holds).
_GATE_PLAN_CHANGED: tuple[str, ...] = ()

# Slots 51+: refresh order for queries that already hold a green driver row
# — oldest evidence first. After the r15 gate runs, the 49 remaining
# r11-cohort queries (first block below) are the oldest evidence in the repo
# and head the round-16 gate (age hits the 4-round ceiling after r16); the
# r12 and r14 cohorts follow.
#
# Round-16 gate plan (written at r15 close): the r16 gate is the 49-query
# r11 remainder (every name in the first block below) + 1 headroom slot:
#   slot 50 — the stalest r12-cohort query (first name in the r12 block
#     below), pulled one round early; if a plan-changed re-gate
#     materializes in r16 it takes this slot instead.
# ZERO registrations in r16: the registry is at its 199 freeze; any new
# registration requires the one-in-one-out delist recorded in the CAPACITY
# POLICY above.
#
# ONE-IN-ONE-OUT DECISION (2026-08-15, VERDICT r9 #6): the tests-only lane
# operators (exact_substring_dup_stats, ivf_index_refresh_audit,
# lpa_community_modularity, bpe_top_merges, the gini scalable twin) STAY in
# the lane permanently; the shortlisted delists (simhash_fingerprints,
# minhash_signatures) are NOT executed.
# (2026-08-16 addendum: the round-10 lane additions — cross-source overlap
# matrix, bigram-LM quality filter, PQ / IVF-PQ ADC recall, Hilbert-vs-
# Z-order layout, temperature mixture sampling, split-conformal intervals,
# plus the earlier bpe_encode_stats / ivf_drift_retrain /
# deterministic_epoch_shuffle — all enter under rule 3 with zero gate
# slots; the lane gate is one command, tools/lane_check.py, runnable at
# any scale factor, so the lane's evidence is reproducible without
# trusting pytest internals.) Rationale: the driver-hash row a
# swap would buy duplicates evidence the lane already has — each lane
# operator's pytest oracle cross-check runs the SAME comparison (DuckDB
# SQL, sorted-column hash, sf0.01) the driver runs — while the delisted
# queries would LOSE their driver rows outright, and both shortlist members
# exercise a distinct registered surface (the raw fingerprint/signature
# tables feed downstream joins users run directly). Net evidence of a swap
# is negative. Revisit only if a lane operator's plan changes in a way
# pytest cannot gate (e.g. a nondeterministic form needing the driver's
# rows-only lane).
_PRIORITY_REST: tuple[str, ...] = (
    # r11-green refreshes (the round-11 gate: the 49-query r7 cohort +
    # price_band_lookup_binned in slot 50; cusum_changepoint_daily_revenue
    # moved to the r15 gate's slot 50)
    "basket_brand_lift",
    "minhash_jaccard_estimate_error",
    "shingle_novelty_ratio",
    "weekday_seasonality_revenue",
    "skew_adaptive_agg_stats",
    "shingle_containment_pairs",
    "ols_trend_by_brand",
    "adamic_adar_link_prediction",
    "revenue_by_nation",
    "parts_shipped_to_top_nation",
    "geo_pipeline_differential",
    "geo_pipeline_targets",
    "differential_expression",
    "ngram_jaccard_near_dups",
    "pricing_summary",
    "lsh_candidate_pairs",
    "benchmark_decontamination",
    "corr_edges_top_parts",
    "ann_ivf_bucketed_topk",
    "degree_centrality_corr_graph",
    "minhash_signatures",
    "exact_dedup_sha256",
    "top_orders_by_revenue",
    "order_priority_rollup",
    "supplier_part_distincts",
    "sliding_window_stats",
    "tumbling_event_counts",
    "blocklist_redaction_stats",
    "corpus_mixture_rebalance",
    "customers_without_orders",
    "doc_chunk_packing",
    "doc_length_histogram",
    "embedding_quantize_int8",
    "event_interarrival_stats",
    "event_type_pivot",
    "events_in_purchase_hour",
    "hash_stratified_sample",
    "latest_event_per_user",
    "media_audio_decode_stats",
    "media_image_decode_dims",
    "media_payload_digest",
    "mllib_corr_matrix_top",
    "mllib_minhash_neardups",
    "part_type_classifier",
    "per_source_doc_cap",
    "positional_zip_join",
    "small_lot_revenue",
    "source_lang_entropy",
    "price_band_lookup_binned",
    # r12-green refreshes (the round-12 gate: the 49-query r8 cohort +
    # auc_by_cohort in slot 50)
    "order_value_gini_by_nation",
    "hapax_ttr_by_source",
    "approx_distinct_parts",
    "approx_quantile_sketch_bounded",
    "asof_view_before_purchase",
    "betweenness_centrality_corr_graph",
    "bh_fdr_adjust",
    "bh_fdr_scalable_adjust",
    "bloom_filter_dedup_probe",
    "bm25_keyword_search",
    "centroid_assignment",
    "clustering_coefficient_corr_graph",
    "connected_components_near_dups",
    "conversion_funnel",
    "cosine_topk_bruteforce",
    "curation_pipeline_summary",
    "customer_cohort_set_ops",
    "data_quality_checks",
    "dedup_against_reference",
    "duplicate_span_detection",
    "eigenvector_centrality_corr_graph",
    "embedding_cosine_near_dups",
    "embedding_covariance",
    "embedding_pca_variance_explained",
    "fuzzy_part_name_matches",
    "gopher_quality_flags",
    "heavy_hitter_tokens",
    "json_props_extract",
    "leakage_safe_splits",
    "lineitem_measures_unpivot",
    "mann_whitney_u_by_part",
    "media_feature_extraction",
    "media_frame_sample",
    "media_resize_shapes",
    "media_video_decode_stats",
    "median_impute",
    "median_quantity_by_part",
    "moving_avg_daily_revenue",
    "network_target_scores",
    "normalized_dedup_groups",
    "price_percentiles_by_brand",
    "quantile_normalize_by_supplier",
    "robust_zscore_by_part",
    "scd2_user_value_history",
    "spearman_edges_top_parts",
    "unigram_logprob_quality",
    "view_purchase_attribution",
    "weighted_systematic_sample",
    "welch_t_by_part",
    "auc_by_cohort",
    # r14-green refreshes (the round-14 gate re-ran the round-13 plan: the
    # 49-query r9 cohort + ann_recall_eval in slot 50 — the freshest
    # evidence in the repo)
    "bigram_pmi_collocations",
    "boilerplate_ngram_stats",
    "chi2_status_priority",
    "conditional_log2",
    "core_numbers_corr_graph",
    "count_min_frequency_probe",
    "cube_order_stats",
    "curation_end_to_end",
    "embedding_label_stats",
    "event_transition_matrix",
    "grouping_sets_ship_stats",
    "hybrid_retrieval_rerank",
    "kmeans_lloyd_clusters",
    "ks_test_price_drift",
    "lang_id_stopwords",
    "large_quantity_orders",
    "late_sole_supplier_orders",
    "media_metadata_stats",
    "missing_census",
    "na_threshold_filter",
    "near_dup_groups",
    "ntile_price_bands",
    "pagerank_corr_graph",
    "part_name_analysis",
    "part_pair_affinity",
    "pr_curve_sampled",
    "promo_revenue_share",
    "psi_price_stability",
    "quantile_normalize_exact",
    "repeated_ngram_fraction",
    "revenue_pareto_deciles",
    "rolling_hash_fingerprint",
    "semantic_dedup_prune",
    "sequence_packing",
    "session_windows_builtin",
    "session_windows_gap",
    "simhash_fingerprints",
    "simhash_near_dups",
    "split_contamination_audit",
    "supplier_composite_score",
    "text_quality_scores",
    "tfidf_top_terms",
    "token_count_stats",
    "top_variance_parts",
    "training_shard_assignment",
    "winnowing_fingerprints",
    "winsorized_price_stats",
    "zorder_file_layout",
    "zscore_by_part",
    "ann_recall_eval",
)

# (The r13-close "round-14 gate plan" is executed at r15 — the r14 gate
# re-ran the round-13 plan — and is superseded by the round-16 plan
# comment above _PRIORITY_REST.)
_PRIORITY: tuple[str, ...] = _PRIORITY_GATE + _PRIORITY_REST


def all_queries() -> dict[str, Query]:
    """Import every query module (side-effect registration) and return all,
    ordered so the driver's gate reaches the highest-value queries first."""
    # Local import to avoid circulars; each module registers on import.
    from drug_target_discovery_spark.queries import (  # noqa: F401
        corpusstats,
        curation,
        dedup,
        drift,
        evalmetrics,
        events,
        experiments,
        graphq,
        graphx,
        layout,
        mllibq,
        multimodal,
        percentiles,
        pipelineq,
        quality,
        relational,
        round6a,
        round6b,
        round7,
        round7b,
        round8,
        selection,
        setops,
        similarity,
        stats,
        text,
        tpchx,
        tpchx2,
        tpchx3,
        windows,
    )

    ordered: dict[str, Query] = {}
    for name in _PRIORITY:
        if name in REGISTRY:
            ordered[name] = REGISTRY[name]
    rest = [n for n in REGISTRY if n not in ordered]
    # oracled queries (stronger evidence, usually cheaper) before rows-only
    for name in sorted(rest, key=lambda n: (REGISTRY[n].oracle is None, n)):
        ordered[name] = REGISTRY[name]
    return ordered
