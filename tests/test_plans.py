"""Physical-plan assertions (the '.explain and iterate' mandate): predicate
pushdown reaches the parquet scan, column pruning trims ReadSchema, small
dims broadcast, top-k plans as TakeOrderedAndProject, and pandas_udf stages
are Arrow-batched. These are the properties that decide 100 TB behavior —
asserted so a regression fails CI, not a cluster."""


from drug_target_discovery_spark.queries.registry import all_queries

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    q = all_queries()[name]
    return q.fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


def reads_memo(spark, name: str, memo) -> bool:
    """True when query ``name``'s optimized plan has a LogicalRDD leaf over
    the checkpointed ``memo`` frame's backing RDD (the consumer reads the
    memo instead of rebuilding it)."""
    memo_rdd = memo._jdf.queryExecution().analyzed().rdd().id()
    plan = all_queries()[name].fn(spark, SF)._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    return any(
        leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
        and leaves.apply(i).rdd().id() == memo_rdd
        for i in range(leaves.size())
    )


class TestPlanShape:
    def test_filter_pushdown_reaches_scan(self, spark):
        plan = plan_of(spark, "pricing_summary")
        # the shipdate filter must appear as a parquet PushedFilter
        assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan

    def test_column_pruning(self, spark):
        plan = plan_of(spark, "supplier_part_distincts")
        read = plan.split("ReadSchema:")[-1].splitlines()[0]
        # only the three referenced columns are read from the fact table
        assert "l_extendedprice" not in read and "l_shipdate" not in read, read

    def test_star_join_broadcasts_dims(self, spark):
        plan = plan_of(spark, "revenue_by_nation")
        assert plan.count("BroadcastHashJoin") >= 2, plan  # customer + nation

    def test_topk_is_take_ordered(self, spark):
        plan = plan_of(spark, "top_variance_parts")
        assert "TakeOrderedAndProject" in plan, plan

    def test_semi_join_form(self, spark):
        plan = plan_of(spark, "parts_shipped_to_top_nation")
        assert "LeftSemi" in plan, plan

    def test_anti_join_form(self, spark):
        plan = plan_of(spark, "customers_without_orders")
        assert "LeftAnti" in plan, plan

    def test_pandas_udf_is_arrow_batched(self, spark):
        plan = plan_of(spark, "differential_expression")
        assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan

    def test_zscore_single_shuffle(self, spark):
        # the whole per-key standardization is scan -> ONE exchange -> window
        plan = plan_of(spark, "zscore_by_part")
        assert plan.count("Exchange") == 1, plan
        read = plan.split("ReadSchema:")[-1].splitlines()[0]
        assert "l_shipdate" not in read, read  # pruned

    def test_partial_aggregation_before_shuffle(self, spark):
        # map-side partial_sum/partial_count proves two-phase aggregation
        plan = plan_of(spark, "pricing_summary")
        assert "partial_sum" in plan, plan

    def test_window_topk_pushes_group_limit(self, spark):
        # Spark 4 WindowGroupLimit: the rank<=3 filter runs BEFORE and after
        # the shuffle (partial/final) — per-group top-k never ships full
        # groups. df dim broadcast; <=5 exchanges total (tf, df x2, window).
        plan = plan_of(spark, "tfidf_top_terms")
        assert "WindowGroupLimit" in plan, plan
        assert "BroadcastExchange" in plan, plan
        assert plan.count("Exchange") <= 5, plan

    def test_hash_sample_is_shuffle_free_scan_filter(self, spark):
        # deterministic sampling must stay a map-side filter: no Exchange
        plan = plan_of(spark, "hash_stratified_sample")
        assert "Exchange" not in plan, plan
        read = plan.split("ReadSchema:")[-1].splitlines()[0]
        assert "text" not in read, read  # sampling never reads the payload

    def test_source_cap_plans_window_group_limit(self, spark):
        # per-source cap: rank<=K runs as WindowGroupLimit, one shuffle
        plan = plan_of(spark, "per_source_doc_cap")
        assert "WindowGroupLimit" in plan, plan
        assert plan.count("Exchange") == 1, plan

    def test_chunk_packing_is_shuffle_free(self, spark):
        # sequence+explode packing runs entirely inside the scan stage
        plan = plan_of(spark, "doc_chunk_packing")
        assert "Exchange" not in plan, plan
        assert "Generate explode" in plan, plan

    def test_curation_pipeline_two_shuffles(self, spark):
        # dedup window (sha digest) + cap window (source); the final agg
        # reuses the source partitioning or coalesces under AQE
        plan = plan_of(spark, "curation_pipeline_summary")
        assert plan.count("Exchange hashpartitioning") <= 3, plan
        assert "WindowGroupLimit" in plan, plan

    def test_sequence_packing_is_grouped_map(self, spark):
        # the reset-scan runs as ONE grouped-map Arrow stage, one shuffle
        plan = plan_of(spark, "sequence_packing")
        assert "FlatMapGroupsInPandas" in plan, plan
        assert plan.count("Exchange") == 1, plan

    def test_quantize_int8_is_map_only(self, spark):
        # per-vector quantization is pure array algebra: scan -> project,
        # zero exchanges, nothing leaves the JVM
        plan = plan_of(spark, "embedding_quantize_int8")
        assert "Exchange" not in plan, plan
        assert "Python" not in plan, plan
        read = plan.split("ReadSchema:")[-1].splitlines()[0]
        assert "label" not in read, read  # column pruning reaches the scan

    def test_normalized_dedup_shuffles_digests_only(self, spark):
        # the distinct-count expands to two digest-keyed aggregation
        # exchanges ((digest, raw_digest) partial, then digest) — fine; what
        # must never happen is the text payload reaching any exchange key
        plan = plan_of(spark, "normalized_dedup_groups")
        n = plan.count("Exchange hashpartitioning")
        assert 1 <= n <= 2, plan
        for part in plan.split("Exchange hashpartitioning")[1:]:
            key = part.split("\n")[0]
            assert "text" not in key, key

    def test_heavy_hitters_second_pass_broadcasts_candidates(self, spark):
        # pass 2's exact recount must semi-join the token stream against
        # the broadcast candidate set BEFORE aggregating — the full token
        # stream never becomes a shuffle key
        plan = plan_of(spark, "heavy_hitter_tokens")
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
        # pass 1 is the only Python stage (Arrow-batched MG summaries)
        assert "MapInPandas" in plan, plan

    def test_robust_zscore_single_shuffle_no_joins(self, spark):
        # stacked window medians: scan -> ONE exchange -> two window ops
        plan = plan_of(spark, "robust_zscore_by_part")
        assert plan.count("Exchange") == 1, plan
        assert "Join" not in plan, plan
        read = plan.split("ReadSchema:")[-1].splitlines()[0]
        assert "l_shipdate" not in read, read

    def test_unigram_model_is_broadcast_joined(self, spark):
        # the vocab-sized model reaches the token stream via broadcast;
        # the only hashpartitioning keys are token (model agg) and doc_id
        # (score agg) — never the text payload
        plan = plan_of(spark, "unigram_logprob_quality")
        assert "BroadcastHashJoin" in plan, plan
        for part in plan.split("Exchange hashpartitioning")[1:]:
            assert "text" not in part.split("\n")[0], plan

    def test_bm25_no_payload_shuffle(self, spark):
        # df + corpus stats reach the tf table via broadcast; no exchange
        # is keyed on the raw text payload. Asserted on the memo's BUILD
        # plan — the consumer plan is a checkpoint leaf since r14.
        from drug_target_discovery_spark.queries.corpusstats import (
            _bm25_plan,
            _bm25_scored,
        )

        plan = _bm25_plan(spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
        for part in plan.split("Exchange hashpartitioning")[1:]:
            assert "text" not in part.split("\n")[0], plan
        assert reads_memo(spark, "bm25_keyword_search", _bm25_scored(spark, SF))

    def test_interval_join_is_equi_with_range_filter(self, spark):
        # the attribution join plans as a hash/sort-merge EQUI join on the
        # user key with the time bounds as join-condition filters — never a
        # BroadcastNestedLoopJoin cross product
        plan = plan_of(spark, "view_purchase_attribution")
        assert "NestedLoop" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan, plan

    def test_mann_whitney_single_exchange(self, spark):
        # rank window (part) + tie window (part, value) + final agg all ride
        # ONE hashpartitioning(l_partkey) — the tie window's clustering is
        # satisfied by the subset rule, so only sorts are added
        plan = plan_of(spark, "mann_whitney_u_by_part")
        assert plan.count("Exchange") == 1, plan

    def test_span_detection_grams_hash_before_shuffle(self, spark):
        # duplicate_span_detection: the k-gram TEXT never becomes a shuffle
        # key — grams are md5-hashed map-side, so every exchange keys on
        # doc_id / h only; the dup-gram test is the min!=max doc_id window
        # over h (optimization r13 — replaced the countDistinct groupBy +
        # LeftSemi join pair, one h-keyed exchange instead of two), so the
        # gram table is built ONCE (no cache, no second shuffle)
        plan = plan_of(spark, "duplicate_span_detection")
        assert "LeftSemi" not in plan, plan
        assert plan.count("windowspecdefinition(h#") >= 2, plan  # min+max over h
        for part in plan.split("Exchange hashpartitioning")[1:]:
            key = part.split("\n")[0]
            assert "gram" not in key and "text" not in key, key

    def test_semantic_dedup_broadcast_and_cluster_local_gemm(self, spark):
        # semantic_dedup_prune: centroids broadcast into the E-step cross
        # join; the intra-cluster pair pass is ONE grouped-map Arrow stage
        # (numpy GEMM per cluster), not a relational self-join of members
        # centroid broadcast asserted on the E-step memo's BUILD plan —
        # the consumer plan is a checkpoint leaf since r14
        from drug_target_discovery_spark.queries.similarity import (
            _estep_cached,
            _estep_plan,
        )

        build = _estep_plan(spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in build, build
        plan = plan_of(spark, "semantic_dedup_prune")
        assert "FlatMapGroupsInPandas" in plan, plan
        assert reads_memo(spark, "semantic_dedup_prune", _estep_cached(spark, SF))

    def test_curation_end_to_end_scan_discipline(self, spark):
        # The composed pipeline must not re-read the corpus per tier: the
        # digest + quality features share ONE cached documents pass, the
        # LSH tier rides the sweep memos (InMemoryRelation leaves), and
        # only the verification step's two shingle-array sides touch the
        # source again. Counted on LOGICAL leaves — the physical plan
        # string re-prints cached build subtrees and over-counts.
        from drug_target_discovery_spark.queries.registry import all_queries

        df = all_queries()["curation_end_to_end"].fn(spark, SF)
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
        live = names.count("LogicalRelation")
        cached = names.count("InMemoryRelation")
        assert live <= 2, names  # verify tier's d1/d2 shingle sides only
        assert cached >= 1, names  # feature frame + LSH memos are cached

    def test_affinity_item_counts_not_force_broadcast(self, spark):
        # Item counts have cardinality = distinct parts — data-proportional,
        # so the plan must stay adaptive (AQE broadcasts only when actually
        # small); the only F.broadcast in the source is the 1-row total.
        import inspect

        from drug_target_discovery_spark.queries.registry import all_queries

        q = all_queries()["part_pair_affinity"]
        src = inspect.getsource(q.fn)
        assert src.count("F.broadcast") == 1 and "F.broadcast(n_ord)" in src, (
            "only the constant-size 1-row total may carry a broadcast hint"
        )
        plan = plan_of(spark, "part_pair_affinity")
        assert "AdaptiveSparkPlan" in plan, plan

    def test_no_forced_broadcast_of_corpus_proportional_tables(self, spark):
        # The part_pair_affinity rule, repo-wide: customer (scales with SF),
        # threshold-qualifying order sets, and near-dup candidate members
        # must never carry a forced broadcast hint — AQE broadcasts them
        # while small and degrades to a keyed shuffle at scale. Bounded
        # sets (nation, 1-row aggregates, stop-shingles <= avg_len/f,
        # MG/CMS candidates, fixed bins) keep their hints.
        import inspect

        from drug_target_discovery_spark.operators import dedup as dedup_ops
        from drug_target_discovery_spark.queries.registry import all_queries

        qs = all_queries()
        for name in ("revenue_by_nation", "parts_shipped_to_top_nation",
                     "large_quantity_orders"):
            src = inspect.getsource(qs[name].fn)
            assert "F.broadcast(cust" not in src, name
            assert "F.broadcast(big" not in src and "F.broadcast(joined" not in src, name
        src = inspect.getsource(dedup_ops.jaccard_verify_pairs)
        assert "F.broadcast(members" not in src

    def test_boilerplate_grams_hash_before_shuffle(self, spark):
        # template-fragment detection: gram strings are md5-hashed map-side,
        # so every exchange keys on (source, hg) / doc_id — never the gram
        # or text payload; the shared-gram join carries no broadcast hint
        # (corpus-derived set, AQE decides)
        import inspect

        from drug_target_discovery_spark.queries.registry import all_queries

        import re

        plan = plan_of(spark, "boilerplate_ngram_stats")
        for part in plan.split("Exchange hashpartitioning")[1:]:
            key = part.split("\n")[0]
            # \bg# matches the raw gram column but not the hashed hg# key
            assert not re.search(r"\bg#\d", key) and "text" not in key, key
        assert "F.broadcast" not in inspect.getsource(
            all_queries()["boilerplate_ngram_stats"].fn
        )

    def test_shard_assignment_exchange_budget(self, spark):
        # one corpus-wide window exchange (source) + the #sources-row offset
        # aggregate; the single-partition window runs over sources, never
        # the corpus. <=4 hash exchanges total (cum window, per-source agg
        # partial/final, join residue under AQE).
        plan = plan_of(spark, "training_shard_assignment")
        assert plan.count("Exchange hashpartitioning") <= 4, plan
        read = plan.split("ReadSchema:")[-1].splitlines()[0]
        assert "text" not in read, read  # packing never reads the payload

    def test_hybrid_retrieval_topk_is_take_ordered(self, spark):
        # the final top-k must plan as TakeOrderedAndProject (never a global
        # sort), and the token stream must not be a shuffle key
        plan = plan_of(spark, "hybrid_retrieval_rerank")
        assert "TakeOrderedAndProject" in plan, plan
        for part in plan.split("Exchange hashpartitioning")[1:]:
            assert "text" not in part.split("\n")[0], plan

    def test_simhash_near_dups_block_local(self, spark):
        # candidates must come from the (block_idx, block_value) equi-join —
        # never a cross/nested-loop product of fingerprints
        plan = plan_of(spark, "simhash_near_dups")
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
            "BroadcastHashJoin" in plan
        ), plan

    def test_count_min_cells_broadcast(self, spark):
        # the fixed d*w cell table reaches the probe side via broadcast; the
        # token stream shuffles only as map-side-combined partials
        plan = plan_of(spark, "count_min_frequency_probe")
        assert "BroadcastHashJoin" in plan, plan
        assert "partial_count" in plan, plan

    def test_leakage_splits_single_exchange_single_scan(self, spark):
        # the group rollup rides ONE digest-partitioned window: exactly one
        # exchange and one documents scan — never the 3-exchange
        # groupBy+join form that re-reads the scan
        plan = plan_of(spark, "leakage_safe_splits")
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert plan.count("Scan parquet") == 1, plan
        assert "Window" in plan, plan

    def test_priority_names_all_resolve(self, spark):
        # all_queries() silently skips unknown _PRIORITY names — a renamed
        # query would silently lose its gate-rotation slot, so pin every
        # name here instead
        from drug_target_discovery_spark.queries.registry import (
            _PRIORITY,
            all_queries,
        )

        reg = all_queries()
        missing = [n for n in _PRIORITY if n not in reg]
        assert not missing, f"_PRIORITY names absent from registry: {missing}"
        assert len(_PRIORITY) == len(set(_PRIORITY)), "duplicate _PRIORITY names"

    def test_priority_gate_window_is_exactly_50(self):
        # The driver's correctness gate visits the first 50 queries() entries
        # per round. _PRIORITY_GATE is the tuple of names promised gate
        # evidence this round — if its length drifts off the window, its
        # tail silently loses driver coverage (r4 code-review finding).
        from drug_target_discovery_spark.queries import registry

        assert len(registry._PRIORITY_GATE) == registry._GATE_WINDOW == 50, (
            f"_PRIORITY_GATE holds {len(registry._PRIORITY_GATE)} names; "
            "the driver gate stops at 50"
        )
        overlap = set(registry._PRIORITY_GATE) & set(registry._PRIORITY_REST)
        assert not overlap, f"names in both gate and rest tuples: {overlap}"
