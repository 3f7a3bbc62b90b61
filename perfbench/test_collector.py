"""Tests of the benchmark's collector: spans, job attribution and the
streaming listener, on small inputs.

    python3 -m pytest perfbench/test_collector.py -q
"""

from __future__ import annotations

import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run as bench  # noqa: E402
from collector import Tracer, covered  # noqa: E402

MS = 1e-3   # the status store keeps job times in whole milliseconds


def test_covered_merges_overlapping_intervals():
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([]) == 0


def test_self_time_subtracts_what_children_cover():
    t = Tracer("t")
    root = t.add("root", 0.0, 10.0)
    t.add("a", 1.0, 4.0, root)
    t.add("b", 3.0, 5.0, root)
    t.add("c", 9.0, 12.0, root)     # clipped to the parent's end
    assert t.self_time(root) == pytest.approx(10 - 4 - 1)


@pytest.fixture(scope="module")
def runs(tmp_path_factory):
    """A traced two-query batch pass and a traced small CDC drain,
    sharing one session."""
    work = str(tmp_path_factory.mktemp("perfbench"))
    bench._prepare_env(work, 2)

    def make(workload, **spec):
        args = types.SimpleNamespace(workload=workload, seed=3, seconds=0,
                                     trace=1, cores=2)
        r = bench.Run(args, os.path.join(work, workload))
        r.spec = dict(r.spec, **spec)
        return r

    batch = make("batch_barrier", scale=0.1,
                 queries=["dedup_clusters", "q1_pricing_summary"])
    batch.batch()
    cdc = make("cdc_backfill", traffic=dict(
        bench.workload("cdc_backfill")["traffic"], files=4, per_file=200))
    cdc.backfill()
    yield batch, cdc
    cdc.spark.stop()


def test_batch_outputs_match_oracles(runs):
    batch, _ = runs
    assert batch.attempted == 2 and batch.failed == 0


def test_every_query_span_holds_a_job(runs):
    t = runs[0].tracer
    for q in (s for s in t.spans if s.name == "query"):
        phases = {p.span_id for p in t.children(q)}
        jobs = [s for s in t.spans
                if s.name.startswith("spark.job.") and s.parent in phases]
        assert jobs, q.attrs["query"]


def test_job_spans_lie_inside_their_query_span(runs):
    t = runs[0].tracer
    by_id = {s.span_id: s for s in t.spans}
    jobs = [s for s in t.spans if s.name.startswith("spark.job.")]
    assert jobs
    for job in jobs:
        query = by_id[by_id[job.parent].parent]
        assert query.name == "query"
        assert query.start - MS <= job.start <= job.end <= query.end + MS


def test_barrier_jobs_are_attributed_to_build(runs):
    layers = runs[0].layers
    assert layers["queries.build_jobs"] >= 1      # dedup_clusters checkpoints
    assert layers["exec.jobs"] >= 2
    assert 0 <= layers["queries.build_jobs_s"] <= layers["queries.build_s"]


def test_listener_row_totals_equal_sink_counts(runs):
    """File sinks report no output rows in their progress, so the check
    is on what the listener does report: every query read every
    envelope, and the rows leaving the stateful chain are exactly the
    rows of the two sinks behind it."""
    _, cdc = runs
    assert cdc.failed == 0
    layers = cdc.layers
    sent = cdc.attempted
    for q in bench.spec()["stream_queries"]:
        assert layers[f"streaming.{q}.input_rows"] == sent
    chain = layers["sinks.out_rows"] + layers["sinks.dlq_schema_rows"]
    assert layers["streaming.out.emitted_rows"] == chain
    assert layers["streaming.dlq_schema.emitted_rows"] == chain
    assert layers["streaming.out.state_dropped_by_watermark"] == 0
