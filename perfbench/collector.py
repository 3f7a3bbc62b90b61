"""Spans and per-layer records for the benchmark's traced runs.

Spans are recorded by the benchmark around its own calls into the
program (``Tracer.span``).  After the timed work, ``StatusStore`` reads
Spark's application status store once and ``Tracer.add_job_spans``
turns every Spark job into a child span of the phase that ran it,
matched by job group.  ``ProgressListener`` keeps every
``StreamingQueryProgress`` of the run; ``stream_record`` folds them into
per-query metrics.  Everything stays in memory until ``Tracer.write``.

Times are epoch seconds (``time.time()``) so that they line up with the
epoch-millisecond times of Spark's status store and progress events.
"""

from __future__ import annotations

import contextlib
import dataclasses
import datetime
import itertools
import json
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


@dataclasses.dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str
    attrs: dict = dataclasses.field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class Tracer:
    """In-memory span recorder for one run (one trace id)."""

    def __init__(self, trace_id: str) -> None:
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)

    def add(self, name: str, start: float, end: float,
            parent: Span | None = None, **attrs) -> Span:
        span = Span(next(self._ids), name, start, end,
                    parent.span_id if parent else None, self.trace_id, attrs)
        self.spans.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str, parent: Span | None = None, **attrs):
        """Record ``name`` around the ``with`` body; yields the span,
        whose ``end`` is set when the body exits (also on error)."""
        span = self.add(name, time.time(), 0.0, parent, **attrs)
        try:
            yield span
        finally:
            span.end = time.time()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def self_time(self, span: Span) -> float:
        """Duration of ``span`` minus what its children cover."""
        kids = [(max(c.start, span.start), min(c.end, span.end))
                for c in self.children(span)]
        return span.duration - covered([k for k in kids if k[1] > k[0]])

    def add_job_spans(self, jobs: list[dict], parents: dict[str, Span]) -> None:
        """One child span per Spark job whose group names a phase span."""
        for job in jobs:
            parent = parents.get(job.get("jobGroup") or "")
            if parent is None or not job.get("submissionTime"):
                continue
            end = job.get("completionTime") or job["submissionTime"]
            self.add(f"spark.job.{job['jobId']}", job["submissionTime"] / 1e3,
                     end / 1e3, parent, job_id=job["jobId"],
                     stage_ids=job["stageIds"], status=job["status"])

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(dataclasses.asdict(s)) + "\n")


class StatusStore:
    """One read of Spark's status store: every job and every stage
    attempt with its task list, as the REST API would serialize them."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jvm = sc._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala,
                               "DefaultScalaModule$").__getattr__("MODULE$")
        mapper.registerModule(scala_module)
        store = sc._jsc.sc().statusStore()
        empty = jvm.java.util.Collections.emptyList()
        self.jobs: list[dict] = json.loads(
            mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(mapper.writeValueAsString(store.stageList(
            empty, True, False, sc._gateway.new_array(jvm.double, 0), empty)))
        self.stages = {(s["stageId"], s["attemptId"]): s for s in stages}

    def jobs_in(self, groups: set[str]) -> list[dict]:
        return [j for j in self.jobs if j.get("jobGroup") in groups]

    def exec_record(self, jobs: list[dict]) -> dict:
        """Stage and task totals over the completed stages of ``jobs``."""
        ids = {sid for j in jobs for sid in j["stageIds"]}
        stages = [s for k, s in self.stages.items()
                  if k[0] in ids and s["status"] == "COMPLETE"]
        tasks = [t["duration"] for s in stages
                 for t in (s.get("tasks") or {}).values()
                 if t.get("duration") is not None]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "executor_run_ms": sum(s["executorRunTime"] for s in stages),
            "executor_cpu_ms": sum(s["executorCpuTime"] for s in stages) / 1e6,
            "gc_ms": sum(s["jvmGcTime"] for s in stages),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                               for s in stages),
            "task_p50_ms": statistics.median(tasks) if tasks else 0,
            "task_max_ms": max(tasks, default=0),
            "input_bytes": sum(s["inputBytes"] for s in stages),
            "input_rows": sum(s["inputRecords"] for s in stages),
        }


def _epoch(iso: str) -> float:
    return datetime.datetime.fromisoformat(
        iso.replace("Z", "+00:00")).timestamp()


class ProgressListener(StreamingQueryListener):
    """Keeps the start time and every progress event of each query."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.started: dict[str, float] = {}
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started[str(event.id)] = _epoch(event.timestamp)

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def starts(self) -> dict[str, float]:
        """Start time (epoch seconds) of every query seen so far, by id."""
        with self._lock:
            return dict(self.started)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def batches(self) -> dict[str, list[dict]]:
        """Executed micro-batches per sink name (last path component)."""
        out: dict[str, dict[int, dict]] = {}
        with self._lock:
            events = list(self.progress)
        for p in events:
            if "addBatch" not in p.get("durationMs", {}):
                continue
            sink = p["sink"]["description"].rstrip("]").rstrip("/")
            name = sink.rsplit("/", 1)[-1]
            out.setdefault(name, {})[p["batchId"]] = p
        return {k: [v[b] for b in sorted(v)] for k, v in out.items()}


STREAM_PHASES = {
    "trigger_ms_p50": "triggerExecution",
    "add_batch_ms_p50": "addBatch",
    "latest_offset_ms_p50": "latestOffset",
    "query_planning_ms_p50": "queryPlanning",
    "wal_commit_ms_p50": "walCommit",
    "commit_offsets_ms_p50": "commitOffsets",
}


def batch_end(p: dict) -> float:
    """Epoch seconds at which micro-batch ``p`` finished."""
    return _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3


def stream_record(batches: list[dict]) -> dict:
    """Per-query metrics over the executed micro-batches of one query."""
    rec: dict[str, float] = {"batches": len(batches)}
    for key, phase in STREAM_PHASES.items():
        vals = [b["durationMs"].get(phase, 0) for b in batches]
        rec[key] = statistics.median(vals) if vals else 0
    rows = sum(b["numInputRows"] for b in batches)
    busy_s = sum(b["durationMs"]["triggerExecution"] for b in batches) / 1e3
    rec["input_rows"] = rows
    rec["processed_rows_per_s"] = rows / busy_s if busy_s else 0
    # stateOperators lists the plan's stateful operators top-down, so the
    # first is the one whose new rows leave the stateful chain
    rec["emitted_rows"] = sum(b["stateOperators"][0]["numRowsUpdated"]
                              for b in batches if b.get("stateOperators"))
    ops = [op for b in batches for op in b.get("stateOperators", [])]
    rec["state_update_ms"] = sum(op["allUpdatesTimeMs"] for op in ops)
    rec["state_commit_ms"] = sum(op["commitTimeMs"] for op in ops)
    rec["state_dropped_by_watermark"] = sum(
        op["numRowsDroppedByWatermark"] for op in ops)
    last = batches[-1].get("stateOperators", []) if batches else []
    rec["state_rows_total"] = sum(op["numRowsTotal"] for op in last)
    rec["state_memory_bytes"] = sum(op["memoryUsedBytes"] for op in last)
    return rec
