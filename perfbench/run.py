"""StreamForge benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch_barrier --seed 1 --seconds 5 --trace 0

Workloads, metrics, units and bounds are those of ``BENCHMARK.json``;
``perfbench/spec.json`` adds each workload's parameters and each
metric's definition.

* ``batch_barrier``: one client, closed loop, one sequential pass over
  a fixed query list.  Each query is built through
  ``registry.QUERIES[name]`` and its result collected; the results are
  compared with the DuckDB oracles (``registry.ORACLES``) after the pass.
* ``cdc_backfill``: a seeded backlog of CDC envelope files drained by
  ``launcher.run_job("MongoToKafka", drain=True)``; the three sink
  counts are compared with the traffic model in ``cdcgen.py``.

Inputs are generated from ``--seed`` inside ``.perfbench_work/`` of the
checkout.  A run measures one unit of work (a pass or a drain), and
repeats it only while less than ``--seconds`` have been measured; the
metric is the median over the units.  ``--trace 1`` also reads Spark's
status store and streaming progress, writes the spans and the per-layer
record to ``.perfbench_work/traces/`` and prints the per-layer metrics
instead of the end-to-end ones.

The repository root is put on ``PYTHONPATH`` before Spark starts, so
that Spark's Python workers can import ``streamforge_spark`` (without
it the pandas-UDF queries fail with ``ModuleNotFoundError``).
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@functools.cache
def benchmark() -> dict:
    """``BENCHMARK.json``: workload names and metric names and units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@functools.cache
def spec() -> dict:
    """``spec.json``: workload parameters and metric definitions."""
    with open(os.path.join(HERE, "spec.json")) as fh:
        return json.load(fh)


def workload(name: str) -> dict:
    return spec()["workloads"][name]


def _prepare_env(work: str, cores: int) -> None:
    """Keep every file Spark and Python write inside ``work``."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.log.level=ERROR pyspark-shell")


def _peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` and its descendants' largest."""
    best = 0.0
    todo = [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]) / 1024)
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return best


class Run:
    """State of one benchmark run: its work dir, tracer and records."""

    def __init__(self, args, work: str) -> None:
        from collector import Tracer
        self.args = args
        self.work = work
        self.spec = workload(args.workload)
        self.tracer = Tracer(f"{args.workload}-seed{args.seed}")
        self.layers: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.setup_s = 0.0
        self.units: list[float] = []
        self.job_start_s: list[float] = []
        self.sink_rows: dict[str, int] = {}
        self.spark = None
        self.gateway = None

    def close(self) -> None:
        """Stop Spark and wait until its JVM has exited."""
        if self.spark is not None:
            self.spark.stop()
        if self.gateway is not None:
            proc = self.gateway.proc
            self.gateway.shutdown()
            proc.stdin.close()      # the gateway JVM exits when stdin closes
            proc.wait(timeout=60)

    # -- set-up -------------------------------------------------------
    def start_session(self, root_span):
        with self.tracer.span("session.get_spark", root_span) as s:
            from streamforge_spark.session import get_spark
            self.spark = get_spark(f"perfbench-{self.args.workload}")
            self.spark.sparkContext.setLogLevel("ERROR")
            self.gateway = self.spark.sparkContext._gateway
        self.layers["session.get_spark_s"] = s.duration

    # -- batch workloads ----------------------------------------------
    def batch(self) -> None:
        import tables
        data = os.path.join(self.work, "tables")
        tables.write_tables(data, self.args.seed, self.spec["scale"])
        names = self.spec["queries"]
        with self.tracer.span("setup") as setup:
            self.start_session(setup)
            with self.tracer.span("registry.load_all", setup) as s:
                from streamforge_spark import registry
                registry.load_all()
            self.layers["registry.load_all_s"] = s.duration
            with self.tracer.span("setup.warmup", setup) as s:
                registry.QUERIES[self.spec["warmup"]](self.spark, data).collect()
                n = int(os.environ["SPARK_GRAFT_CPUS"])
                self.spark.range(64).repartition(n).mapInPandas(
                    lambda it: it, "id long").collect()
            self.layers["setup.warmup_s"] = s.duration
        self.setup_s = setup.duration
        results: dict[str, object] = {}
        phases: dict[str, object] = {}
        sc = self.spark.sparkContext
        measured = 0.0
        unit = 0
        while unit == 0 or measured < self.args.seconds:
            with self.tracer.span("pass", unit=unit) as pass_span:
                for name in names:
                    results[name] = self._run_query(
                        sc, registry, name, data, pass_span, phases, unit)
            self.units.append(pass_span.duration)
            measured += pass_span.duration
            unit += 1
        self._check_batch(registry, data, names, results)
        if self.args.trace:
            self._batch_layers(phases)

    def _run_query(self, sc, registry, name, data, pass_span, phases, unit):
        with self.tracer.span("query", pass_span, query=name) as q:
            try:
                group = f"{self.tracer.trace_id}/{unit}/{name}"
                with self.tracer.span("queries.build", q, query=name) as b:
                    if self.args.trace:
                        sc.setJobGroup(f"{group}/build", name)
                    df = registry.QUERIES[name](self.spark, data)
                phases[f"{group}/build"] = b
                with self.tracer.span("exec.action", q, query=name) as a:
                    if self.args.trace:
                        sc.setJobGroup(f"{group}/action", name)
                    out = df.toPandas()
                phases[f"{group}/action"] = a
                return out
            except Exception as exc:  # a failing query is counted, not fatal
                traceback.print_exc()
                return exc

    def _check_batch(self, registry, data, names, results) -> None:
        from tests.oracle import compare, duck_con
        con = duck_con(data)
        try:
            for name in names:
                self.attempted += 1
                got = results[name]
                try:
                    if isinstance(got, Exception):
                        raise got
                    compare(got, con.execute(registry.ORACLES[name]).df(), name)
                except Exception as exc:  # noqa: BLE001 - reported, counted
                    print(f"FAIL {name}: {exc}"[:500], file=sys.stderr)
                    self.failed += 1
        finally:
            con.close()

    def _batch_layers(self, phases) -> None:
        from collector import StatusStore
        t0 = time.time()
        store = StatusStore(self.spark)
        self.tracer.add_job_spans(store.jobs, phases)
        build = [p for g, p in phases.items() if g.endswith("/build")]
        action = [p for g, p in phases.items() if g.endswith("/action")]
        build_jobs = store.jobs_in({g for g in phases if g.endswith("/build")})
        action_jobs = store.jobs_in({g for g in phases if g.endswith("/action")})
        self_s = sum(self.tracer.self_time(p) for p in build)
        L = self.layers
        L["queries.build_s"] = sum(p.duration for p in build)
        L["queries.build_jobs"] = len(build_jobs)
        L["queries.build_self_s"] = self_s
        L["queries.build_jobs_s"] = L["queries.build_s"] - self_s
        L["queries.build_executor_run_ms"] = store.exec_record(
            build_jobs)["executor_run_ms"]
        L["exec.action_s"] = sum(p.duration for p in action)
        for k, v in store.exec_record(action_jobs).items():
            L[f"exec.{k}"] = v
        L["trace.collect_s"] = time.time() - t0

    # -- CDC backfill -------------------------------------------------
    def backfill(self) -> None:
        import cdcgen
        from collector import ProgressListener
        traffic = cdcgen.TrafficSpec(**self.spec["traffic"])
        files = cdcgen.make_traffic(traffic, self.args.seed)
        expected = cdcgen.expected_counts(files)
        with self.tracer.span("setup") as setup:
            self.start_session(setup)
            from streamforge_spark import launcher
            from streamforge_spark.config import ScopedConfig
        # the listener's query-start times split each run_job call into
        # the job's start (set-up) and the drain (timed work)
        listener = ProgressListener()
        self.spark.streams.addListener(listener)
        measured = 0.0
        unit = 0
        while unit == 0 or measured < self.args.seconds:
            base = os.path.join(self.work, f"cdc{unit}")
            cdcgen.write_files(files, os.path.join(base, "source"))
            cfg = ScopedConfig(config_file=None, env_file=None, overrides={
                "SOURCE_PATH": os.path.join(base, "source"),
                "OUTPUT_PATH": os.path.join(base, "sinks"),
                "CHECKPOINT_DIR": os.path.join(base, "checkpoints")})
            seen = set(listener.starts())
            with self.tracer.span("launcher.run_job", unit=unit) as run_span:
                try:
                    launcher.run_job("MongoToKafka", cfg, self.spark, drain=True)
                    crashed = False
                except Exception:  # a crashed job counts as all failed
                    traceback.print_exc()
                    crashed = True
            started = max((t for q, t in listener.starts().items()
                           if q not in seen), default=run_span.end)
            self.job_start_s.append(started - run_span.start)
            self.units.append(run_span.end - started)
            measured += self.units[-1]
            self.attempted += traffic.envelopes
            if crashed:
                self.failed += traffic.envelopes
            else:
                self._check_sinks(base, expected, traffic.envelopes)
            unit += 1
        self.setup_s = setup.duration + self.job_start_s[0]
        self.spark.streams.removeListener(listener)
        if self.args.trace:
            self._stream_layers(listener, run_span)

    def _check_sinks(self, base, expected, envelopes) -> None:
        from pyspark.errors import AnalysisException
        got = {}
        for s in expected:
            try:
                got[s] = self.spark.read.parquet(
                    os.path.join(base, "sinks", s)).count()
            except AnalysisException:   # the sink never wrote a file
                got[s] = 0
        self.sink_rows = got
        off = sum(abs(got[s] - expected[s]) for s in expected)
        if off:
            print(f"FAIL sinks {got} != model {expected}", file=sys.stderr)
        self.failed += min(off, envelopes)

    def _stream_layers(self, listener, run_span) -> None:
        from collector import StatusStore, batch_end, stream_record
        t0 = time.time()
        store = StatusStore(self.spark)
        per_query = listener.batches()
        for name, batches in per_query.items():
            for b in batches:
                self.tracer.add(f"streaming.{name}.batch", batch_end(b)
                                - b["durationMs"]["triggerExecution"] / 1e3,
                                batch_end(b), run_span, batch_id=b["batchId"],
                                rows=b["numInputRows"])
        L = self.layers
        for name in spec()["stream_queries"]:
            for k, v in stream_record(per_query.get(name, [])).items():
                L[f"streaming.{name}.{k}"] = v
        L["jobs.build_s"] = self.job_start_s[-1]
        L["launcher.drain_s"] = self.units[-1]
        drain_jobs = [j for j in store.jobs
                      if (j.get("submissionTime") or 0) / 1e3 >= run_span.start
                      and (j.get("completionTime") or 0) / 1e3 <= run_span.end]
        self.tracer.add_job_spans(
            drain_jobs, {j.get("jobGroup") or "": run_span for j in drain_jobs})
        for k, v in store.exec_record(drain_jobs).items():
            L[f"exec.{k}"] = v
        L["exec.action_s"] = run_span.duration
        for sink, n in self.sink_rows.items():
            L[f"sinks.{sink}_rows"] = n
        L["trace.collect_s"] = time.time() - t0

    # -- result -------------------------------------------------------
    def finish(self) -> dict:
        wall = statistics.median(self.units)
        end_to_end = {"setup_s": self.setup_s, "wall_s": wall}
        if not self.args.trace:
            return end_to_end
        L = self.layers
        L["driver.peak_rss_mb"] = _peak_rss_mb(self.gateway.proc.pid)
        L["fail_ratio"] = self.failed / max(self.attempted, 1)
        L["trace.wall_s"] = wall
        if self.spec.get("scaling"):
            self.spark.stop()   # free this run's cores and memory first
            self.spark = None
            L["scaling.vs_1core"] = self._one_core_wall() / wall
        return L

    def _one_core_wall(self) -> float:
        """Wall of the same unit of work in a fresh local[1] process."""
        cmd = [sys.executable, os.path.abspath(__file__),
               "--workload", self.args.workload, "--seed", str(self.args.seed),
               "--seconds", "0", "--trace", "0", "--cores", "1"]
        out = subprocess.run(cmd, capture_output=True, text=True,
                             timeout=170, check=True).stdout
        res = json.loads(out.strip().splitlines()[-1])
        if not res["correct"]:
            raise RuntimeError("local[1] run produced wrong results")
        return res["metrics"]["wall_s"]["value"]


def _emit(run: Run, metrics: dict) -> None:
    kind = "per_layer" if run.args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in benchmark()[kind]}
    out = {name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
           for name, unit in units.items()}
    for name, m in out.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(f"fail_ratio {run.failed / max(run.attempted, 1):.6g} ratio "
          f"({run.failed} of {run.attempted})")
    print(json.dumps({"correct": run.failed == 0 and run.attempted > 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": out}))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in benchmark()["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int,
                    default=len(os.sched_getaffinity(0)))
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "streamforge_spark")):
        print(f"perfbench: no streamforge_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work, args.cores)
    sys.path[:0] = [ROOT, HERE]
    run = Run(args, work)
    try:
        if run.spec["kind"] == "batch":
            run.batch()
        else:
            run.backfill()
        metrics = run.finish()
        if args.trace:
            traces = os.path.join(work_root, "traces")
            os.makedirs(traces, exist_ok=True)
            stem = os.path.join(traces, run.tracer.trace_id)
            run.tracer.write(stem + "-spans.jsonl")
            with open(stem + "-layers.json", "w") as fh:
                json.dump(metrics, fh, indent=1, sort_keys=True)
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
    _emit(run, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
