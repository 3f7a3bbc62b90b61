#!/usr/bin/env python
"""Benchmark harness: runs the headline queries (or the NAMEs given on
the command line) at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric", "value", "unit", "sf", "passes", "queries", "min", "layers"}.

    python bench.py [NAME ...]
    python bench.py >> BENCH_SELF.jsonl     # record a run in the ledger

Each query runs ``PASSES`` times, cold, end-to-end into a noop sink (full
materialization, nothing collected to the driver).  ``queries`` holds the
per-query median wall, ``min`` the fastest pass, and ``layers`` the
median pass split into DataFrame build and noop execution, with its
Spark job counts.  ``value`` is the sum of the medians.  Nothing is read
from or written to disk."""

from __future__ import annotations

import json
import os
import pathlib
import re
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

from streamforge_spark import registry
from streamforge_spark.session import default_parallelism, get_spark

# Headline set: the flagship CDC chain pieces + heavy analytics +
# LLM-pipeline ops. Keep this list stable across rounds for comparable
# BENCH_r{N}.json numbers.
HEADLINE = [
    "cdc_op_normalize",
    "dedup_first_seen",
    "merger_suppress",
    "session_stats",
    "materialize_changelog",
    "static_join_enrich",
    "dynamic_join_inner",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q18_large_orders",
    "q7_volume_shipping",
    "q16_supplier_cnt",
    "q21_waiting_supplier",
    "q22_idle_customers",
    "salted_event_agg",
    "sliding_window_stats",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "incident_window_impact",
    "corpus_curation",
    "text_stats",
    "ann_cosine_topk",
    "embedding_near_dup",
    # round-2 capability additions (new keys just appear in vs_prev as
    # uncompared; the original 24 stay comparable across rounds)
    "gap_fill_daily",
    "supplier_pagerank",
    "embedding_quantize_int8",
    "value_drift_report",
    "customer_entity_match",
    # round-2 later additions: series search + rolling distinct actives
    # (single-DAG shapes; the iterative additions — fixed-point IVF,
    # fuzzy-dedup closure — are cost-profiled by the existing
    # dedup_clusters / supplier_pagerank entries and correctness-gated
    # in CORRECTNESS_r{N}, so they stay out of the wall-clock set)
    "series_similarity_topk",
    "rolling_active_users",
    # round-3 additions: corpus-trained LM scoring (model-as-aggregation
    # join shape), two-stage SQ8 ANN (quantize+codegen coarse+rerank),
    # corpus boilerplate removal (distinct-then-count + rebuild fold)
    "bigram_lm_score",
    "ann_sq8_rerank",
    "boilerplate_strip",
    # the capstone composition: the whole curation stack in one plan
    "training_data_release",
    # exact prefix-filter similarity join (lossless candidate pruning —
    # the scale-critical complement to the LSH approximate paths)
    "allpairs_exact_jaccard",
    # round-3 late additions: bloom-pruned join (runtime-filter shape),
    # distributed two-phase ECDF (KS drift), zero-shuffle span masking,
    # single-exchange drawdown ledger
    "bloom_prune_join",
    "ks_value_drift",
    "span_corruption_masks",
    "max_drawdown_user",
    # round-4 additions: winnowing fingerprints (char-gram explode +
    # partition-local window minima + posting join), sequence-packing
    # audit (per-source prefix sum), bloom FP static analysis
    "winnow_near_dup",
    "pack_chunk_stats",
    "bloom_fp_bound",
    # round-6 additions: span-level exact-substring dedup signal
    # (window-hash df + interval merge), vocabulary OOV rate
    # (broadcast vocab anti-join), hot-shingle cap audit
    "exact_substring_spans",
    "vocab_oov_rate",
    "hot_shingle_report",
    # round-7 additions: the remaining r6 queries (judge r7 item 7) —
    # ANN recall calibration (three retrievals + broadcast joins),
    # O(batch) substring admission gate, span-cut corpus release
    "ann_recall_eval",
    "incremental_substring_contamination",
    "exact_substring_cut_release",
    # round-7 new queries: DSIR importance weights (one rollup + two
    # broadcast joins), MinHash estimate-vs-exact calibration (banded
    # candidates + array zip)
    "dsir_importance_weight",
    "minhash_estimate_calibration",
    "lsh_band_recall_sweep",
    "gopher_quality_flags",
    "dsir_incremental_refit",
    "source_quality_summary",
    "dedup_yield_curve",
    "ann_ivf_probe_sweep",
    # round-8 additions: the composed funnel's batch face (five gates,
    # one plan) and the persisted-IVF semantic admission gate (probe
    # join + exact-cosine verdict); hot_band_report completes the
    # cap-audit pair in the wall-clock set
    "corpus_funnel_report",
    "semantic_ingest_gate",
    "hot_band_report",
    # round-9 addition: the composed funnel with the semantic gate
    # armed — the flagship six-stage certification plan
    "corpus_funnel_semantic_report",
    # round-9 late additions: training-shard balance audit (one rollup),
    # context-length packing curve (|sizes| broadcast multiply),
    # LOO source valuation (additive-sufficient-statistics subtraction —
    # the |sources|-retrains collapsed into one pass), noisy count
    # release, and the canary containment probe (bounded-small-side
    # BNLJ over the corpus scan)
    "shard_balance_report",
    "context_pack_efficiency",
    "loo_source_influence",
    "dp_noisy_release",
    "canary_probe_report",
    # gate-threshold ROC sweep (two doc-count relations meeting in one
    # doc_id join, 11-row conditional rollup), datasheet joint
    # histogram, and the power-of-two reshard traffic audit
    "quality_gate_roc",
    "quality_length_histogram",
    "reshard_migration_plan",
    # the composed feed plan: epoch quotas applied to curriculum order
    # (one |sources| rollup broadcast into one per-source window)
    "training_feed_manifest",
    # DBLog snapshot->stream handoff reconciliation: one map-side
    # max_by collapse of the log + one co-partitioned full-outer join
    # against the snapshot + an 8-row broadcast manifest
    "snapshot_handoff_state",
    # round-11 additions: the Heaps-law novelty saturation curve (one
    # (hash, doc_id) shuffle + 20-row cumsum) and the packing
    # attention-contamination report (per-group prefix-sum windows,
    # closed-form pair counts)
    "ngram_novelty_curve",
    "pack_cross_attention_report",
    # attribute-filtered exact vector search (scan-pushed label
    # pre-filter, broadcast queries, per-partition lossless top-k)
    "ann_filtered_topk",
    # round-12 additions: the DLQ replay's delivered-record relation
    # (zero-shuffle upcast+enforcer chain, one (key,value) distinct),
    # the filtered-IVF probe graded against exact filtered truth
    # (label-pushed posting scan, broadcast recall rollup), and the
    # two-level prefix-max lateness profile (partition-parallel
    # running max, B-row carry rollup)
    "dlq_replay_outcome",
    "ann_filtered_probe_recall",
    "arrival_lateness_histogram",
    # the filtered-path nprobe calibration (one index build + one
    # rank-tagged probe pass serves all four configs)
    "ann_filtered_probe_sweep",
]


PASSES = 3


def _run(spark, sf_dir: str, name: str, group: str) -> dict:
    """One cold run of ``name`` under Spark job group ``group``: the
    build (``fn(spark, sf_dir)``) and exec (noop write) walls, all the
    group's jobs, and those that ran while the DataFrame was built
    (eager checkpoints, driver collects)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, name)
    tracker = sc.statusTracker()
    t0 = time.perf_counter()
    df = registry.QUERIES[name](spark, sf_dir)
    t1 = time.perf_counter()
    build_jobs = len(tracker.getJobIdsForGroup(group))
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return {"wall": t2 - t0, "build_s": t1 - t0, "exec_s": t2 - t1,
            "jobs": len(tracker.getJobIdsForGroup(group)),
            "build_jobs": build_jobs}


def measure(spark, sf_dir: str, names: list[str]) -> dict[str, dict]:
    """``PASSES`` passes over ``names``, each query once per pass, so a
    burst of host contention hits one stretch of one pass, not every
    run of a query.  Per name: the ``median`` and ``min`` wall, and the
    median pass's ``build_s``, ``exec_s``, ``jobs`` and ``build_jobs``
    (so ``build_s + exec_s`` is the median wall; ``PASSES`` is odd)."""
    runs: dict[str, list[dict]] = {n: [] for n in names}
    for p in range(PASSES):
        for name in names:
            runs[name].append(_run(spark, sf_dir, name, f"{name}#{p}"))
    out = {}
    for name, rs in runs.items():
        mid = sorted(rs, key=lambda r: r["wall"])[len(rs) // 2]
        out[name] = {
            "median": round(mid["wall"], 3),
            "min": round(min(r["wall"] for r in rs), 3),
            "build_s": round(mid["build_s"], 3),
            "exec_s": round(mid["exec_s"], 3),
            "jobs": mid["jobs"],
            "build_jobs": mid["build_jobs"],
        }
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    names = sys.argv[1:] or HEADLINE

    registry.load_all()
    unknown = [n for n in names if n not in registry.QUERIES]
    if unknown:
        sys.exit(f"bench.py: unknown queries {unknown}")
    spark = get_spark("streamforge-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers with one cheap query, and the
    # reusable Python workers with one trivial Arrow stage — so the
    # first pandas-UDF headline query isn't charged interpreter spin-up
    registry.QUERIES["q6_forecast_revenue"](spark, sf_dir).collect()
    spark.range(64).repartition(default_parallelism()) \
        .mapInPandas(lambda it: it, "id long").collect()

    rec = measure(spark, sf_dir, names)
    print(json.dumps({
        "metric": "headline_queries_wall",
        "value": round(sum(r["median"] for r in rec.values()), 3),
        "unit": "sec",
        "sf": float(m.group(1)) if m else None,
        "passes": PASSES,
        "queries": {n: r["median"] for n, r in rec.items()},
        "min": {n: r["min"] for n, r in rec.items()},
        "layers": {n: {k: r[k] for k in
                       ("build_s", "exec_s", "jobs", "build_jobs")}
                   for n, r in rec.items()},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
