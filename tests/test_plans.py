"""Physical-plan guardrails: the optimizations the engine relies on at
100 TB (predicate pushdown, column pruning, broadcast joins, top-k
without a full sort, single-exchange windows) must stay in the plan —
a correctness-preserving code change that silently loses one of these
is a performance regression this file catches."""

from __future__ import annotations

import pytest

from streamforge_spark import registry

registry.load_all()
SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = registry.QUERIES[name](spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def test_q1_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read l_orderkey/l_partkey/...
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in scan_schema
    assert "l_extendedprice" in scan_schema


def test_q3_broadcasts_and_topk(spark):
    plan = plan_of(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan           # dims broadcast
    assert "TakeOrderedAndProject" in plan       # top-k, no full sort
    assert "SortMergeJoin" not in plan           # lineitem never SMJs
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan


def test_q5_single_shuffle_join_chain(spark):
    plan = plan_of(spark, "q5_region_revenue")
    assert plan.count("SortMergeJoin") <= 1      # only orders join lineitem may shuffle
    assert "BroadcastHashJoin" in plan


def test_dedup_single_exchange(spark):
    plan = plan_of(spark, "dedup_first_seen")
    # one hash exchange for the window; no extra shuffles
    assert plan.count("Arguments: hashpartitioning") == 1


def test_static_join_is_broadcast(spark):
    plan = plan_of(spark, "static_join_enrich")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_events_scan(spark):
    plan = plan_of(spark, "dynamic_join_inner")
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)" in plan


def test_salted_aggregate_matches_direct(spark):
    from pyspark.sql import functions as F
    from streamforge_spark.io import load
    from streamforge_spark.operators.skew import salted_aggregate
    events = load(spark, SF, "events")
    direct = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"),
        F.min("user_id").alias("mn"), F.max("user_id").alias("mx"))
    salted = salted_aggregate(
        events.withColumn("vc", F.round(F.col("value") * 100).cast("long")),
        ["event_type"],
        {"n": ("event_type", "count"), "v": ("vc", "sum"),
         "mn": ("user_id", "min"), "mx": ("user_id", "max")},
        salt_buckets=8)
    d = {tuple(r) for r in direct.collect()}
    s = {tuple(r) for r in salted.collect()}
    assert d == s


def test_asof_join_is_not_a_join(spark):
    # the union+running-last rewrite must never plan a join operator —
    # a range/as-of expressed as a real join degrades to BNLJ/cartesian
    plan = plan_of(spark, "asof_join_latest_event")
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # purchases pre-agg + asof window; the final per-key rollup reuses
    # the window's exchange (asof_join emits the key from _k)
    assert plan.count("Arguments: hashpartitioning") <= 2


def test_q9_like_pushdown_and_broadcasts(spark):
    plan = plan_of(spark, "q9_nation_profit")
    assert "StringContains" in plan            # %red% reaches the part scan
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") <= 1    # only lineitem x orders may shuffle


def test_percentiles_single_exchange(spark):
    # window partition key == final group key: the aggregate must reuse
    # the window's hash exchange, not add its own
    plan = plan_of(spark, "event_value_percentiles")
    assert plan.count("Arguments: hashpartitioning") == 1


def test_grouping_sets_one_expand_one_exchange(spark):
    plan = plan_of(spark, "grouping_sets_revenue")
    assert "Expand" in plan                    # one multi-set pass, not 3 scans
    assert plan.count("Arguments: hashpartitioning") == 1


def test_pivot_two_phase_agg(spark):
    # Spark's pinned-value pivot plans exactly the two-phase aggregate
    # (user_id,event_type) -> (user_id); anything more means an extra
    # distinct-values job or shuffle crept in
    plan = plan_of(spark, "pivot_event_types")
    assert plan.count("Arguments: hashpartitioning") == 2


def test_q21_single_lineitem_scan(spark):
    # the EXISTS/NOT-EXISTS decorrelation must keep exactly one
    # lineitem scan; groupBy + per-order window reuse the join's
    # l_orderkey exchange rather than adding their own
    plan = plan_of(spark, "q21_waiting_supplier")
    assert plan.count("file:/root/testdata/sf0.001/lineitem.parquet") == 1
    assert plan.count("Arguments: hashpartitioning") <= 2  # l_orderkey + final rollup


def test_corpus_curation_single_digest_exchange(spark):
    # dedup -> gates -> rollup in one plan: one md5 exchange for the
    # window, one low-cardinality rollup exchange, nothing else
    plan = plan_of(spark, "corpus_curation")
    assert plan.count("file:/root/testdata/sf0.001/documents.parquet") == 1
    assert plan.count("Arguments: hashpartitioning") <= 2


def test_interval_join_no_bnlj(spark):
    # the bucketized range join must never fall back to a nested-loop
    # or cartesian plan — that's the entire point of the rewrite
    plan = plan_of(spark, "incident_window_impact")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ngram_jaccard_single_corpus_scan(spark):
    # the posting-list formulation must shingle the corpus ONCE — a
    # self-join regression doubles the dominant (string explode) cost.
    # The grams relation is pinned (lazy localCheckpoint: df-cap count
    # + posting join = 2 consumers), so the parquet scan sits above
    # the checkpoint boundary (truncated from the visible plan) and
    # every ExistingRDD scan node must reference the SAME pinned RDD.
    import re
    plan = plan_of(spark, "dedup_ngram_jaccard")
    assert plan.count("file:/root/testdata/sf0.001/documents.parquet") <= 1
    rdd_ids = set(re.findall(r"MapPartitionsRDD\[(\d+)\] at localCheckpoint",
                             plan))
    assert len(rdd_ids) == 1, f"grams pinned more than once: {rdd_ids}"


def test_contamination_benchmark_broadcasts(spark):
    # the benchmark shingle set must broadcast — the corpus side never
    # shuffles for the join, only the per-doc rollup combines
    plan = plan_of(spark, "contamination_check")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_token_pack_no_global_window(spark):
    # packing must run as parallel per-group prefix sums, never a
    # single-partition global-order window
    plan = plan_of(spark, "token_budget_pack")
    assert "SinglePartition" not in plan
    assert plan.count("Arguments: hashpartitioning") == 1  # the group window


def test_embedding_near_dup_no_bnlj_no_collect(spark):
    # block-pair form: broadcast only the constant pair list; the tile
    # scoring is a grouped applyInPandas after one hash exchange
    plan = plan_of(spark, "embedding_near_dup")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_stratified_sample_is_narrow(spark):
    # a pure filter on the scan: no exchange at all
    plan = plan_of(spark, "stratified_sample")
    assert "Exchange" not in plan


def test_gap_fill_no_join_single_scan(spark):
    # lead-based segment emission: the grid must come from explode on
    # the closes, never a grid-build + join (which scans events twice)
    plan = plan_of(spark, "gap_fill_daily")
    assert plan.count("file:/root/testdata/sf0.001/events.parquet") == 1
    assert "Join" not in plan
    assert plan.count("Arguments: hashpartitioning") == 2  # (user,day) rank + user lead


def test_ohlc_single_exchange(spark):
    # day projected before the windows so the (user_id, day) exchange
    # is shared by both rank windows AND the final groupBy
    plan = plan_of(spark, "ohlc_daily")
    assert plan.count("Arguments: hashpartitioning") == 1


def test_zscore_two_pass_broadcast_no_window(spark):
    # moments aggregate + broadcast back: never a window over
    # event_type (that shuffles the whole fact table into |types|
    # skewed partitions)
    plan = plan_of(spark, "zscore_outliers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Arguments: hashpartitioning") == 1  # the tiny stats agg


def test_value_histogram_single_exchange(spark):
    plan = plan_of(spark, "value_histogram")
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "Join" not in plan


def test_event_transitions_two_exchanges(spark):
    # user_id lag window + (prev,next) rollup; nothing else
    plan = plan_of(spark, "event_transitions")
    assert plan.count("Arguments: hashpartitioning") == 2
    assert "Join" not in plan


def test_quantize_one_row_cross_and_pruned_stats_scan(spark):
    # the limits attach is a ONE-row broadcast cross (scalar-subquery
    # pattern, q22 adjudication) — never a shuffle join; the stats
    # pass must scan only the embedding column (column pruning)
    plan = plan_of(spark, "embedding_quantize_int8")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    # only the 64-row dim-stats aggregate may hash-shuffle
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "ReadSchema: struct<embedding:array<float>>" in plan


def test_winsorize_single_fact_exchange(spark):
    # the p01/p99 limits reuse the window's event_type exchange; the
    # clip is a broadcast join back — the fact table shuffles once
    plan = plan_of(spark, "winsorized_values")
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_entity_match_no_cartesian(spark):
    # blocked self-join: always an equi-join on the block key, never a
    # cartesian pair explosion
    plan = plan_of(spark, "customer_entity_match")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_twap_single_exchange_no_join(spark):
    # lead window on (user, day) + groupBy on the same keys: one
    # exchange, and the duration weighting never joins
    plan = plan_of(spark, "twap_daily")
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "Join" not in plan


def test_rank_suite_one_window_pass(spark):
    # five ranking functions share one window spec: one exchange,
    # one sort
    plan = plan_of(spark, "window_rank_suite")
    assert plan.count("Arguments: hashpartitioning") == 1


def test_scd2_temporal_join_plans_no_join(spark):
    # the AS-OF temporal join is the union+running-last rewrite: a
    # range join operator here would be the BNLJ regression this
    # formulation exists to prevent
    plan = plan_of(spark, "scd2_temporal_join")
    assert "Join" not in plan
    assert plan.count("Arguments: hashpartitioning") <= 2


def test_negative_pairs_bucketed_ring(spark):
    # per-bucket ring: equi-join on (bkt, rn), never a cartesian or a
    # single-partition global window
    plan = plan_of(spark, "negative_pairs")
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_snapshot_diff_single_pass(spark):
    # both as-of snapshots reconstruct from one scan + one exchange
    # (filtered max_by pairs) — never two as-of views full-outer joined
    plan = plan_of(spark, "state_snapshot_diff")
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "Join" not in plan
    assert plan.count("file:/root/testdata/sf0.001/events.parquet") == 1


def test_gap_fill_interpolate_no_join_single_scan(spark):
    plan = plan_of(spark, "gap_fill_interpolate")
    assert plan.count("file:/root/testdata/sf0.001/events.parquet") == 1
    assert "Join" not in plan
    assert plan.count("Arguments: hashpartitioning") == 2


def test_rolling_range_stats_single_exchange_no_join(spark):
    # RANGE frame over event time: one user_id exchange + in-partition
    # sort — never a self-join against a date grid
    plan = plan_of(spark, "rolling_range_stats")
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "Join" not in plan
    assert plan.count("file:/root/testdata/sf0.001/events.parquet") == 1


def test_interval_concurrency_sweep_line_no_self_join(spark):
    # sweep line = explode + aggregate + running sum: two exchanges,
    # one scan, and crucially NO interval self-join (range join/BNLJ)
    plan = plan_of(spark, "interval_concurrency")
    assert "Join" not in plan
    assert plan.count("Arguments: hashpartitioning") == 2
    assert plan.count("file:/root/testdata/sf0.001/events.parquet") == 1


def test_mad_outliers_broadcast_medians(spark):
    # the two per-type median tables are tiny: both enrichment joins
    # must broadcast; the fact table never sort-merge-joins
    plan = plan_of(spark, "mad_outliers")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_sparse_retrieval_pushed_filter_and_topk(spark):
    # the query-term IN filter prunes before the tf aggregate, df/N
    # broadcast back, and top-k is a heap (TakeOrderedAndProject),
    # not a global sort
    plan = plan_of(spark, "sparse_retrieval_topk")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_weighted_pps_sample_single_exchange(spark):
    # both windows (prefix sum + stratum total) share the source
    # exchange; selection is pure column arithmetic afterwards
    plan = plan_of(spark, "weighted_pps_sample")
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "Join" not in plan


def test_triangle_count_equi_joins_only(spark):
    # wedge + closing-edge probes are hash equi-joins; the only
    # nested-loop allowed is the final 1-row global-counts cross
    plan = plan_of(spark, "triangle_count")
    assert "CartesianProduct" not in plan
    bnlj = plan.count("BroadcastNestedLoopJoin")
    # 1-row n_nodes × n_edges × n_triangles combine = 2 cross ops;
    # formatted plans mention each operator twice (tree + details)
    assert bnlj <= 4


def test_data_profile_single_scan(spark):
    # every column's profile comes from ONE scan + one Expand-based
    # aggregate — the oracle's per-column UNION rescans, Spark must not
    plan = plan_of(spark, "data_profile")
    assert plan.count("file:/root/testdata/sf0.001/orders.parquet") == 1
    assert "Expand" in plan


def test_cusum_single_fact_exchange(spark):
    # per-type totals broadcast back; all three windows (prefix sum,
    # running min, argmax rank) share ONE event_type exchange
    plan = plan_of(spark, "cusum_changepoint")
    assert plan.count("Arguments: hashpartitioning") == 2  # agg + window
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_asof_forward_same_plan_shape_as_backward(spark):
    # forward direction must stay the union+running-carry rewrite:
    # one exchange, no range join, no BNLJ
    plan = plan_of(spark, "asof_join_next_event")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_market_basket_broadcast_enrichment(spark):
    # pair support from the in-basket explode (no op self-join
    # shuffle); item counts broadcast; and because pair/item/total all
    # derive from the same per-order aggregate, AQE must reuse that
    # exchange at runtime instead of rescanning lineitem per branch
    df = registry.QUERIES["market_basket_lift"](spark, SF)
    df.collect()   # AQE exchange reuse appears in the FINAL plan
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "ReusedExchange" in plan


def test_key_skew_report_topk_heap(spark):
    plan = plan_of(spark, "key_skew_report")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_incremental_merge_pushes_disjoint_time_filters(spark):
    # both partials must push their time predicate into the scan
    plan = plan_of(spark, "incremental_agg_merge")
    assert "PushedFilters: [IsNotNull(ts), LessThan(ts" in plan
    assert "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts" in plan


def test_user_value_trend_single_exchange_moments(spark):
    # sufficient-statistics formulation: ONE hash exchange (the user
    # rollup) with map-side partial aggregation, no window, no sort
    plan = plan_of(spark, "user_value_trend")
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "Sort " not in plan
    assert plan.count("HashAggregate") >= 2   # partial + final


def test_equidepth_histogram_window_feeds_rollup(spark):
    # the (event_type, bucket) rollup extends the window partitioning,
    # so the ntile sort exchange is the only shuffle
    plan = plan_of(spark, "equidepth_histogram")
    assert plan.count("Arguments: hashpartitioning") == 1


def test_bfs_no_cartesian_and_edges_checkpointed(spark):
    plan = plan_of(spark, "bfs_reachability")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the edge list is materialized ONCE (eager localCheckpoint):
    # the audited final plan must not replay the lineitem⨝orders
    # extraction per BFS round (pre-fix: 24 lineitem scans)
    assert "lineitem" not in plan


def test_series_similarity_broadcasts_query_series(spark):
    # the query user's sparse series must broadcast onto the daily
    # rollup; top-k via heap, not a global sort
    plan = plan_of(spark, "series_similarity_topk")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_comovement_no_fact_self_join(spark):
    # pairs come from the in-set explode after one per-hour aggregate,
    # never an events-level self-join
    plan = plan_of(spark, "comovement_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rolling_active_users_no_range_nested_loop(spark):
    # windowed-distinct rewrite: offset explode + broadcast equi-join,
    # never a range-predicate nested loop
    plan = plan_of(spark, "rolling_active_users")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_interval_overlap_join_no_bnlj(spark):
    # interval x interval overlap via shared bucket cells — the literal
    # overlap predicate would plan a nested loop
    plan = plan_of(spark, "session_incident_overlap")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", [
    "boilerplate_strip", "bigram_lm_score", "session_paths",
    "embedding_random_projection", "allpairs_exact_jaccard",
    "weighted_shortest_path", "rfm_segments",
])
def test_round2_additions_no_nested_loops(spark, name):
    # every new shape is equi-join/aggregate algebra — a nested loop or
    # cartesian appearing here means a join key was lost
    plan = plan_of(spark, name)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_random_projection_is_scan_side_projection(spark):
    # JL projection must stay a codegen projection on the scan: no
    # exchange, no Python evaluation
    plan = plan_of(spark, "embedding_random_projection")
    assert "Arguments: hashpartitioning" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_session_paths_head_is_window_group_limit(spark):
    # the rn <= K filter must push into the user window as a per-group
    # heap, so each user ships at most K rows past the exchange
    plan = plan_of(spark, "session_paths")
    assert "WindowGroupLimit" in plan


@pytest.mark.parametrize("name", [
    "cms_user_counts", "m4_downsample",
    "attribution_linear", "source_overlap_matrix",
])
def test_round2_batch2_no_nested_loops(spark, name):
    plan = plan_of(spark, name)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sq8_only_nested_loop_is_quantizer_limits(spark):
    # int8_quantize's one-row broadcast cross (the adjudicated q22
    # scalar-subquery pattern) is the ONLY nested loop allowed here
    # (formatted plans name each node twice: tree + detail section)
    plan = plan_of(spark, "ann_sq8_rerank")
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "CartesianProduct" not in plan


def test_m4_single_exchange_no_window(spark):
    # first/last are arg-min/arg-max inside the ONE bucket aggregate —
    # a rank window appearing here doubles the shuffle
    plan = plan_of(spark, "m4_downsample")
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "WindowExec" not in plan


def test_sq8_coarse_scoring_is_codegen(spark):
    # query codes are plan literals: coarse scoring must not introduce
    # Python evaluation or a join before the candidate window
    plan = plan_of(spark, "ann_sq8_rerank")
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "WindowGroupLimit" in plan


@pytest.mark.parametrize("name", [
    "supplier_communities", "feature_hash_vectors", "source_token_drift",
])
def test_round2_batch3_no_nested_loops(spark, name):
    # source_token_drift's vocab x sources expansion is broadcast
    # crosses of one-row/source-count tables — those plan as
    # BroadcastNestedLoopJoin by construction (constant small side),
    # so only CartesianProduct is banned there
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan
    if name != "source_token_drift":
        assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_prune_join_prunes_scan_no_smj(spark):
    plan = plan_of(spark, "bloom_prune_join")
    # probe side: one lineitem scan reading only the 3 needed columns
    scan_schema = [l for l in plan.splitlines()
                   if "ReadSchema" in l and "l_orderkey" in l][0]
    assert "l_extendedprice" in scan_schema and "l_comment" not in scan_schema
    # bloom words + membership checks are broadcast joins; nothing SMJs
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_span_corruption_zero_shuffle(spark):
    plan = plan_of(spark, "span_corruption_masks")
    # the whole masking plan is a scan-side projection
    assert plan.count("Arguments: hashpartitioning") == 0
    assert "Exchange" not in plan.replace("rebalance", "")
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in scan_schema and "lang" not in scan_schema


def test_max_drawdown_single_exchange(spark):
    plan = plan_of(spark, "max_drawdown_user")
    assert plan.count("Arguments: hashpartitioning") == 1


def test_column_lineage_resolves_sources(spark):
    # lineage from the ANALYZED plan: projections, aggregates, and
    # join enrichments must trace back to the right fixture columns
    import pathlib
    import sys
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "tools"))
    from lineage import column_lineage
    lin = column_lineage(spark, registry.QUERIES["q1_pricing_summary"](spark, SF), SF)
    assert lin["sum_disc_price"] == {"lineitem.l_discount", "lineitem.l_extendedprice"}
    assert lin["l_returnflag"] == {"lineitem.l_returnflag"}
    lin5 = column_lineage(spark, registry.QUERIES["q5_region_revenue"](spark, SF), SF)
    assert lin5["n_name"] == {"nation.n_name"}
    assert lin5["revenue"] == {"lineitem.l_discount", "lineitem.l_extendedprice"}
    # a GDPR-style audit: which outputs of the enrichment query touch
    # the customer table at all?
    lin_e = column_lineage(spark, registry.QUERIES["static_join_enrich"](spark, SF), SF)
    touched = {c for c, s in lin_e.items() if any(x.startswith("customer.") for x in s)}
    assert "c_name" in touched and "event_id" not in touched


def test_measured_shuffle_volume_aggregations(spark):
    # measured (not eyeballed): map-side combine must keep the bytes
    # crossing the exchange at <1% of scanned bytes for the rollup
    # queries — losing a partial aggregate blows this up ~1000x
    import pathlib
    import sys
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "tools"))
    from shuffle_audit import audit_query
    for name in ("q1_pricing_summary", "q5_region_revenue"):
        a = audit_query(spark, registry.QUERIES[name], SF)
        assert a["scan_bytes"] > 0
        assert a["shuffle_bytes"] < 0.01 * a["scan_bytes"], (name, a)
    # and a scan-side projection must shuffle NOTHING
    a = audit_query(spark, registry.QUERIES["span_corruption_masks"], SF)
    assert a["shuffle_bytes"] == 0


def test_exact_substring_spans_exchanges_carry_no_text(spark):
    # window hashing is partition-local; only (doc_id, p, h) longs and
    # the pre-projected doc length may cross a post-explode exchange.
    # The ONE permitted text-bearing exchange is spread_for_compute's
    # small-input repartition of the raw (doc_id, text) rows — a
    # doc-level (not per-position) move that is skipped entirely when
    # the scan is already parallel (always at real scale).
    import re
    plan = plan_of(spark, "exact_substring_spans")
    text_exchanges = [
        m.group(1)
        for m in re.finditer(r"\(\d+\) Exchange\n(Input \[\d+\]: \[[^\]]*\])",
                             plan)
        if "text" in m.group(1)]
    assert len(text_exchanges) <= 1, text_exchanges
    for inp in text_exchanges:       # must be the raw 2-column spread
        assert re.match(r"Input \[2\]: \[doc_id#\d+L, text#\d+\]", inp), inp


def test_winnow_exchanges_carry_no_text(spark):
    # the char-gram explode and window minima are partition-local;
    # only (doc_id, fingerprint) longs may cross an exchange
    plan = plan_of(spark, "winnow_near_dup")
    import re
    for m in re.finditer(r"\(\d+\) Exchange\n(Input \[\d+\]: \[[^\]]*\])",
                         plan):
        assert "text" not in m.group(1), m.group(1)


def test_pack_chunk_token_count_is_scan_side(spark):
    # text is consumed by the token-count projection before the
    # source exchange: no exchange input may contain the text column
    plan = plan_of(spark, "pack_chunk_stats")
    import re
    for m in re.finditer(r"\(\d+\) Exchange\n(Input \[\d+\]: \[[^\]]*\])",
                         plan):
        assert "text" not in m.group(1), m.group(1)


def test_exact_percentiles_sorts_only_the_rollup(spark):
    # the cumulative window runs on the (type, cents) frequency
    # rollup: the plan must build the aggregate BEFORE any sort
    # (two-phase), and the scan reads only the two needed columns.
    # Formatted plans number operators leaves-first (Scan = (1), root
    # = highest), so two-phase means SOME HashAggregate carries a
    # LOWER id than the window Sort; a degenerate raw-data sort would
    # put the Sort below (= lower id than) every aggregate.
    plan = plan_of(spark, "exact_percentiles_by_type")
    import re
    agg_ids = [int(m.group(1)) for m in
               re.finditer(r"\((\d+)\) (?:Hash|ObjectHash)Aggregate", plan)]
    sort_ids = [int(m.group(1)) for m in
                re.finditer(r"\((\d+)\) Sort\b", plan)]
    assert agg_ids and sort_ids
    assert min(agg_ids) < min(sort_ids), (agg_ids, sort_ids)
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "user_id" not in scan_schema and "props" not in scan_schema


def test_session_dynamic_gap_single_exchange(spark):
    # dynamic-gap sessions cost the same ONE user_id exchange as the
    # static SessionAnalyzer (plus AQE's optional final coalesce)
    plan = plan_of(spark, "session_dynamic_gap")
    assert plan.count("Arguments: hashpartitioning(user_id") == 1


def test_funnel_stage_filter_pushes_to_scan(spark):
    # funnel_conversion's final plan is segmented by the stage-rollup
    # localCheckpoints (each rollup feeds two consumers), so assert the
    # pushdown on the stage shape itself: a type-filtered per-user MIN
    # must reach the parquet scan as an EqualTo filter
    from streamforge_spark.io import load
    from pyspark.sql import functions as F
    events = load(spark, SF, "events")
    stage = (events.where(F.col("event_type") == "signup")
             .groupBy("user_id").agg(F.min("ts").alias("_pt")))
    plan = stage._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "EqualTo(event_type,signup)" in plan


@pytest.mark.parametrize("name", [
    "shard_balance_report", "context_pack_efficiency",
    "loo_source_influence", "dp_noisy_release", "canary_probe_report",
    "quality_gate_roc", "quality_length_histogram",
    "reshard_migration_plan", "training_feed_manifest",
])
def test_r9_planning_governance_no_text_exchange_no_cartesian(spark, name):
    # the round-9 planning/governance batch projects text away before
    # every exchange (token counts / hashes / score ints move, never
    # documents) and uses only broadcast forms for its small sides
    import re
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"\(\d+\) Exchange\n(Input \[\d+\]: \[[^\]]*\])",
                         plan):
        assert "text" not in m.group(1), (name, m.group(1))


def test_shard_reports_single_exchange(spark):
    # shard assignment + token count are scan-side projections; the
    # only hash exchange is the N-row shard rollup (plus the broadcast
    # scalar total for the balance report)
    assert plan_of(spark, "reshard_migration_plan").count(
        "Arguments: hashpartitioning") == 1
    assert plan_of(spark, "dp_noisy_release").count(
        "Arguments: hashpartitioning") == 1


def test_canary_probe_is_broadcast_containment(spark):
    # the donor side must broadcast into a nested-loop containment
    # probe over the corpus scan — never a shuffle of document text
    plan = plan_of(spark, "canary_probe_report")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_quality_gate_roc_threshold_sweep_is_broadcast(spark):
    # the 11-row threshold relation broadcasts; the doc-side meet is a
    # doc_id hash join, and the confusion rollup partial-aggregates
    # (the crossed relation never materializes past map side)
    plan = plan_of(spark, "quality_gate_roc")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_feed_manifest_window_order(spark):
    # the prefix-sum window runs on the integer projection: the plan
    # sorts (stage, pos) within source AFTER the curriculum rank — and
    # no window input carries text (covered by the batch test above)
    import re
    plan = plan_of(spark, "training_feed_manifest")
    assert "SortMergeJoin" not in plan          # fq side broadcasts
    sorts = re.findall(r"\(\d+\) Sort\b", plan)
    assert sorts, "expected window sorts in the manifest plan"


def test_handoff_state_minimal_merge_shape(spark):
    """DBLog reconciliation: ONE full-outer merge join fed by exactly
    two exchanges (snapshot side + collapsed-log side, the agg
    exchange reused by the join), log collapsed with a partial agg
    BEFORE its exchange, and the n_chunks-row manifest broadcast —
    never shuffled."""
    plan = plan_of(spark, "snapshot_handoff_state")
    assert plan.count("SortMergeJoin FullOuter") == 1
    assert plan.count("Arguments: hashpartitioning") == 2
    assert "BroadcastHashJoin" in plan          # manifest attach
    # map-side combine: a partial aggregate below the log exchange
    assert "partial_max" in plan or "Partial" in plan


def test_schema_migration_zero_shuffle(spark):
    """The whole v1->v2->v3 upcast chain is one projection: no
    exchange, no join, no UDF in the plan."""
    plan = plan_of(spark, "schema_migration_report")
    assert plan.count("Arguments: hashpartitioning") == 0
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cdc_squash_single_rollup(spark):
    """Net-effect squash is ONE map-side-combined aggregation — no
    window, no join, the un-collapsed log never shuffles twice."""
    plan = plan_of(spark, "cdc_net_effect_squash")
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "Join" not in plan
    assert "Window" not in plan


def test_ndcg_eval_single_window_broadcast_counts(spark):
    """Ranking eval: queries ride as plan constants (no query-side
    shuffle), ONE window exchange for the top-k, label counts meet the
    per-query rows via broadcast — never a sort-merge join."""
    plan = plan_of(spark, "retrieval_ndcg_eval")
    assert plan.count("Arguments: hashpartitioning") == 2  # window + final agg
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_novelty_curve_single_text_scan_no_text_exchange(spark):
    """ngram_novelty_curve (r11): the text is read and shingled ONCE
    (a two-consumer formulation recomputed the explode per branch),
    and nothing text-bearing crosses an exchange except
    spread_for_compute's doc-level small-input repartition — the
    shuffled relation is (xxhash64, bucket) longs."""
    import re
    plan = plan_of(spark, "ngram_novelty_curve")
    assert len(re.findall(r"\(\d+\) Generate\b", plan)) == 1
    text_scans = [l for l in plan.splitlines()
                  if "ReadSchema" in l and "text" in l]
    assert len(text_scans) == 1, text_scans
    text_exchanges = [
        m.group(1)
        for m in re.finditer(r"\(\d+\) Exchange\n(Input \[\d+\]: \[[^\]]*\])",
                             plan)
        if "text" in m.group(1)]
    assert len(text_exchanges) <= 1, text_exchanges
    for inp in text_exchanges:       # must be the raw 2-column spread
        assert re.match(r"Input \[2\]: \[doc_id#\d+L, text#\d+\]", inp), inp
    assert "CartesianProduct" not in plan


def test_pack_xattn_no_text_exchange_no_global_sort(spark):
    """pack_cross_attention_report (r11): the scan projects to one
    BIGINT per document before any exchange; the prefix-sum windows
    are per-pack_group (no single-partition global window); pair
    counts are closed-form — no join, no cartesian."""
    import re
    plan = plan_of(spark, "pack_cross_attention_report")
    for m in re.finditer(r"\(\d+\) Exchange\n(Input \[\d+\]: \[[^\]]*\])",
                         plan):
        assert "text" not in m.group(1), m.group(1)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # the window partitions by pack_group, never a SinglePartition sort
    assert "Exchange SinglePartition" not in plan


def test_ann_filtered_pushes_label_filter_to_scan(spark):
    """ann_filtered_topk (r11): the metadata pre-filter must reach the
    parquet scan — distance math scales with the FILTERED corpus."""
    plan = plan_of(spark, "ann_filtered_topk")
    assert "PushedFilters: [In(label" in plan, \
        [l for l in plan.splitlines() if "PushedFilters" in l]


def test_filtered_probe_pushes_label_filter_to_scan(spark):
    """ann_filtered_probe_recall (r12): the filtered-IVF posting scan
    must carry the label pre-filter INTO the parquet read (applied on
    the scan projection, before the opaque Python assign stage), and
    the probe side's bounded results must broadcast into the recall
    rollup rather than shuffle the truth."""
    plan = plan_of(spark, "ann_filtered_probe_recall")
    assert "PushedFilters: [In(label" in plan, \
        [l for l in plan.splitlines() if "PushedFilters" in l]
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dlq_replay_outcome_single_exchange_no_join(spark):
    """dlq_replay_outcome (r12): the whole replay chain — pool
    selection, CASE-chain upcast, enforcer re-grade, deterministic
    stamp, to_json — is one zero-join projection; the ONLY exchange is
    the (key, value) distinct at O(recovered)."""
    plan = plan_of(spark, "dlq_replay_outcome")
    assert plan.count("Arguments: hashpartitioning") == 1, plan[:400]
    for node in ("SortMergeJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan, node


def test_arrival_lateness_no_global_sort_no_smj(spark):
    """arrival_lateness_histogram (r12): the two-level prefix max
    must never fall back to a global single-partition running-max
    window over the feed (the B-row bucket rollup's tiny global sort
    is post-checkpoint and bounded by buckets=64); no sort-merge or
    cartesian anywhere."""
    plan = plan_of(spark, "arrival_lateness_histogram")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
