"""Snapshot -> change-stream handoff (streaming/handoff.py +
jobs.py::SnapshotHandoff): DBLog watermark reconciliation proven
against a simulated live collection, the chunk-loop mechanics, and
the end-to-end job lifecycle including restart."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from streamforge_spark.config import ScopedConfig
from streamforge_spark.launcher import run_job
from tests.test_jobs import started_queries
from streamforge_spark.streaming.handoff import (
    CHUNK_RANK, POS_COL, RANK_COL, bootstrap_snapshot,
    handoff_merged, handoff_state,
)

# --- a deterministic mutating world: ops seq 0..N-1 over keys 0..9 ---

N_KEYS = 10
OPS = ["insert", "update", "delete"]


def op_at(seq: int) -> tuple[int, str, int]:
    """(key, op, value) for log position seq."""
    return seq % N_KEYS, OPS[(seq * 7) % 3], seq


def world_at(t: int) -> dict[int, int]:
    """Collection state after applying every op with seq <= t."""
    state: dict[int, int] = {}
    for s in range(t + 1):
        k, op, v = op_at(s)
        if op == "delete":
            state.pop(k, None)
        else:
            state[k] = v
    return state


def test_reconciliation_converges_to_world(spark):
    """The DBLog invariant: chunk c read UNLOCKED at any instant
    t_c in [lw_c, hw_c] (its rows = world_at(t_c), which already
    contains SOME in-window events) + the full log, reconciled by
    the watermark rule, equals the world after the last op — no lost
    updates, no resurrected deletes, regardless of select timing."""
    n_ops, n_chunks = 40, 4
    manifest = [(c, 10 + 5 * c, 15 + 5 * c) for c in range(n_chunks)]

    snap_rows = []
    for c, lw, hw in manifest:
        t_c = lw + 3  # mid-window unlocked select
        for k, v in world_at(t_c).items():
            if k % n_chunks == c:
                snap_rows.append((k, v))
    snapshot = spark.createDataFrame(snap_rows, "pk BIGINT, v BIGINT")

    log = spark.createDataFrame(
        [op_at(s) + (s,) for s in range(n_ops)],
        "k BIGINT, operation STRING, v BIGINT, seq BIGINT")

    wm = spark.createDataFrame(manifest, "chunk_id INT, lw BIGINT, hw BIGINT")
    merged = handoff_merged(
        snapshot, log, snap_key="pk", log_key="k", seq="seq",
        op="operation", n_chunks=n_chunks, watermarks=wm,
        snap_payload={"v": F.col("v")}, log_payload={"v": F.col("v")})

    got = {r.pk: r.v for r in handoff_state(merged).collect()}
    assert got == world_at(n_ops - 1)


def test_reconciliation_all_select_timings(spark):
    """Sweep the select instant across the whole window (t_c = lw_c,
    ..., hw_c): every timing converges to the same final world."""
    n_ops, n_chunks = 30, 3
    manifest = [(c, 8 + 4 * c, 12 + 4 * c) for c in range(n_chunks)]
    wm = spark.createDataFrame(manifest, "chunk_id INT, lw BIGINT, hw BIGINT")
    log = spark.createDataFrame(
        [op_at(s) + (s,) for s in range(n_ops)],
        "k BIGINT, operation STRING, v BIGINT, seq BIGINT")
    expected = world_at(n_ops - 1)

    for offset in range(5):
        snap_rows = []
        for c, lw, hw in manifest:
            t_c = min(lw + offset, hw)
            for k, v in world_at(t_c).items():
                if k % n_chunks == c:
                    snap_rows.append((k, v))
        snapshot = spark.createDataFrame(snap_rows, "pk BIGINT, v BIGINT")
        merged = handoff_merged(
            snapshot, log, snap_key="pk", log_key="k", seq="seq",
            op="operation", n_chunks=n_chunks, watermarks=wm,
            snap_payload={"v": F.col("v")}, log_payload={"v": F.col("v")})
        got = {r.pk: r.v for r in handoff_state(merged).collect()}
        assert got == expected, f"select offset {offset}"


def test_bootstrap_loop_mechanics(spark):
    """The chunk loop records lw BEFORE and hw AFTER each select, and
    positions every chunk row at ITS chunk's lw with CHUNK_RANK —
    against a log whose head advances between every head read."""
    heads = iter(range(9, 100, 3))
    captured: list[tuple[int, list]] = []

    snapshot = spark.createDataFrame(
        [(k, k * 11) for k in range(10)], "pk BIGINT, v BIGINT")

    manifest = bootstrap_snapshot(
        spark, snapshot=snapshot, key="pk", n_chunks=2,
        log_head=lambda: next(heads),
        apply_chunk=lambda df, c: captured.append((c, df.collect())))

    assert manifest == [(0, 9, 12), (1, 15, 18)]
    for c, rows in captured:
        lw = manifest[c][1]
        assert rows, f"chunk {c} empty"
        for r in rows:
            assert r[POS_COL] == lw
            assert r[RANK_COL] == CHUNK_RANK
            assert r.pk % 2 == c


# --- end-to-end job lifecycle --------------------------------------


def log_line(seq: int) -> str:
    k, op, v = op_at(seq)
    return json.dumps({
        "operation": op, "source": "sim", "primary_key": f"u{k}",
        "event_time": "2024-01-01 10:00:00",
        "payload_json": json.dumps({"v": v}),
        "metadata": {"seq": str(seq)},
    })


def write_log(path, seqs, name):
    path.mkdir(parents=True, exist_ok=True)
    (path / name).write_text("\n".join(log_line(s) for s in seqs) + "\n")


def state_of(spark, tmp_path) -> dict[str, int]:
    df = spark.read.parquet(str(tmp_path / "out" / "state"))
    return {r.primary_key: json.loads(r.payload_json)["v"]
            for r in df.collect()}


def handoff_cfg(tmp_path, snap_pos: int) -> ScopedConfig:
    return ScopedConfig(config_file=None, env_file=None, overrides={
        "SOURCE_PATH": str(tmp_path / "in"),
        "OUTPUT_PATH": str(tmp_path / "out"),
        "CHECKPOINT_DIR": str(tmp_path / "ckpt"),
        "SNAPSHOT_PATH": str(tmp_path / "snap"),
        "SNAPSHOT_POSITION": str(snap_pos),
        "N_CHUNKS": "4",
    })


def test_snapshot_handoff_job_and_restart(spark, tmp_path, monkeypatch):
    s0, n1, n2 = 14, 30, 36
    started = started_queries(monkeypatch, "SnapshotHandoff")

    # point-in-time dump consistent with log position s0
    snap = spark.createDataFrame(
        [(f"u{k}", json.dumps({"v": v})) for k, v in world_at(s0).items()],
        "primary_key STRING, payload_json STRING")
    snap.write.parquet(str(tmp_path / "snap"))
    # the log already holds the dump's prefix plus ops that landed
    # after the dump — the stream must apply only the suffix
    write_log(tmp_path / "in", range(n1), "batch0.txt")

    run_job("SnapshotHandoff", handoff_cfg(tmp_path, s0),
            spark=spark, drain=True)

    expected = {f"u{k}": v for k, v in world_at(n1 - 1).items()}
    assert state_of(spark, tmp_path) == expected

    manifest = spark.read.parquet(str(tmp_path / "out" / "handoff_manifest"))
    assert manifest.count() == 4
    assert {r.lw for r in manifest.collect()} == {s0}
    first_manifest = sorted(map(tuple, manifest.collect()))

    # restart: new log files arrive; manifest exists -> bootstrap is
    # skipped, the stream resumes from its checkpoint and advances
    write_log(tmp_path / "in", range(n1, n2), "batch1.txt")
    run_job("SnapshotHandoff", handoff_cfg(tmp_path, s0),
            spark=spark, drain=True)

    expected = {f"u{k}": v for k, v in world_at(n2 - 1).items()}
    assert state_of(spark, tmp_path) == expected
    assert [len(qs) for qs in started] == [1, 1]
    m2 = spark.read.parquet(str(tmp_path / "out" / "handoff_manifest"))
    assert sorted(map(tuple, m2.collect())) == first_manifest


def test_snapshot_handoff_replay_is_idempotent(spark, tmp_path):
    """A fresh checkpoint replaying the WHOLE log over an already-
    seeded state converges to the same result (merge order decides;
    nothing double-applies)."""
    s0, n1 = 14, 30
    snap = spark.createDataFrame(
        [(f"u{k}", json.dumps({"v": v})) for k, v in world_at(s0).items()],
        "primary_key STRING, payload_json STRING")
    snap.write.parquet(str(tmp_path / "snap"))
    write_log(tmp_path / "in", range(n1), "batch0.txt")

    cfg = handoff_cfg(tmp_path, s0)
    run_job("SnapshotHandoff", cfg, spark=spark, drain=True)
    before = state_of(spark, tmp_path)

    # wipe the stream checkpoint: the next run re-reads every log file
    # from scratch against the existing seeded state. Its batch ids
    # restart at 0, so the per-batch-id DLQ dirs go with it
    # (check_batch_output refuses to overwrite them otherwise)
    import shutil
    for d in ("ckpt/state", "out/dlq_parse", "out/dlq_noseq"):
        shutil.rmtree(str(tmp_path / d))
    run_job("SnapshotHandoff", cfg, spark=spark, drain=True)

    assert state_of(spark, tmp_path) == before
    assert before == {f"u{k}": v for k, v in world_at(n1 - 1).items()}


def test_bootstrap_crash_retry_converges(spark, tmp_path):
    """A crash mid-bootstrap (manifest never written) rolls the whole
    phase back to 'retry from scratch': the second full run re-applies
    every chunk through the idempotent upsert and converges to the
    same state and manifest as an uninterrupted run."""
    s0, n1 = 14, 30
    snap = spark.createDataFrame(
        [(f"u{k}", json.dumps({"v": v})) for k, v in world_at(s0).items()],
        "primary_key STRING, payload_json STRING")
    snap.write.parquet(str(tmp_path / "snap"))
    write_log(tmp_path / "in", range(n1), "batch0.txt")
    cfg = handoff_cfg(tmp_path, s0)

    # sabotage the second chunk apply once: the job dies mid-loop with
    # some chunks already upserted and NO manifest on disk
    from streamforge_spark.streaming import handoff as H
    real = H.bootstrap_snapshot
    calls = {"n": 0}

    def flaky(spark_, **kw):
        inner = kw["apply_chunk"]

        def boom(df, c):
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("simulated crash mid-bootstrap")
            inner(df, c)
        kw["apply_chunk"] = boom
        return real(spark_, **kw)

    # the job resolves bootstrap_snapshot from the module at call time
    # (function-level import), so patching the module attr intercepts it
    H.bootstrap_snapshot = flaky
    try:
        try:
            run_job("SnapshotHandoff", cfg, spark=spark, drain=True)
            raise AssertionError("expected simulated crash")
        except RuntimeError as e:
            assert "simulated crash" in str(e)
        import pathlib as _p
        assert not (_p.Path(tmp_path) / "out" / "handoff_manifest").exists()
    finally:
        H.bootstrap_snapshot = real

    run_job("SnapshotHandoff", cfg, spark=spark, drain=True)
    expected = {f"u{k}": v for k, v in world_at(n1 - 1).items()}
    assert state_of(spark, tmp_path) == expected


def test_snapshot_handoff_noseq_events_to_dlq(spark, tmp_path):
    """An envelope event WITHOUT metadata['seq'] cannot be ordered
    against the snapshot watermarks — it must land in dlq_noseq for
    triage (advisor r9: it used to coalesce to -1 and silently
    vanish under the resume filter), not in the state, and not lost."""
    s0, n1 = 14, 30
    snap = spark.createDataFrame(
        [(f"u{k}", json.dumps({"v": v})) for k, v in world_at(s0).items()],
        "primary_key STRING, payload_json STRING")
    snap.write.parquet(str(tmp_path / "snap"))
    lines = [log_line(s) for s in range(n1)]
    noseq = json.loads(log_line(0))
    noseq["primary_key"] = "u_noseq"
    noseq["metadata"] = {}                       # no seq position
    lines.append(json.dumps(noseq))
    (tmp_path / "in").mkdir(parents=True, exist_ok=True)
    (tmp_path / "in" / "batch0.txt").write_text("\n".join(lines) + "\n")

    run_job("SnapshotHandoff", handoff_cfg(tmp_path, s0),
            spark=spark, drain=True)

    assert "u_noseq" not in state_of(spark, tmp_path)
    dlq = spark.read.parquet(str(tmp_path / "out" / "dlq_noseq")).collect()
    assert len(dlq) == 1
    assert dlq[0].error_type == "HANDOFF_NO_POSITION"
    assert "u_noseq" in dlq[0].raw_event
    # positioned events are unaffected
    expected = {f"u{k}": v for k, v in world_at(n1 - 1).items()}
    assert state_of(spark, tmp_path) == expected


def test_state_audit_clean_and_corrupted(spark, tmp_path):
    """StateAudit on a freshly-handed-off state reports all-match;
    after injected corruption (altered payload, deleted key,
    resurrected key) it names each divergence class — and with an
    EXPLICIT AUDIT_POSITION (the sink's committed position), log
    events past it are not flagged (the default is the log head,
    correct for a drained sink)."""
    s0, n1 = 14, 30
    snap = spark.createDataFrame(
        [(f"u{k}", json.dumps({"v": v})) for k, v in world_at(s0).items()],
        "primary_key STRING, payload_json STRING")
    snap.write.parquet(str(tmp_path / "snap"))
    write_log(tmp_path / "in", range(n1), "batch0.txt")
    cfg = handoff_cfg(tmp_path, s0)
    run_job("SnapshotHandoff", cfg, spark=spark, drain=True)

    run_job("StateAudit", cfg, spark=spark, drain=True)
    rep = spark.read.parquet(str(tmp_path / "out" / "state_audit"))
    assert {r.verdict for r in rep.collect()} == {"match"}
    n_keys = rep.count()

    # --- inject corruption directly into the state target ----------
    from pyspark.sql import functions as F
    state_path = str(tmp_path / "out" / "state")
    st = spark.read.parquet(state_path).localCheckpoint()
    victims = sorted(r.primary_key for r in st.select("primary_key").collect())
    altered, dropped = victims[0], victims[1]
    corrupted = (st.filter(F.col("primary_key") != dropped)
                 .withColumn("payload_json",
                             F.when(F.col("primary_key") == altered,
                                    F.lit('{"v": -999}'))
                             .otherwise(F.col("payload_json"))))
    # a key whose log says deleted, resurrected into the state at the
    # audit position (orphan class)
    ghost = spark.createDataFrame(
        [("u_ghost", '{"v": 1}', "insert", 5, 1, 0)],
        "primary_key STRING, payload_json STRING, operation STRING, "
        "_pos LONG, _src_rank INT, _kb INT")
    corrupted = corrupted.unionByName(ghost)
    corrupted.write.mode("overwrite").parquet(str(tmp_path / "corrupt"))
    spark.read.parquet(str(tmp_path / "corrupt")).write.mode(
        "overwrite").parquet(state_path)

    # future log events beyond an EXPLICIT audit position (the sink's
    # committed position for a mid-stream audit) must NOT be flagged
    write_log(tmp_path / "in", range(n1, n1 + 4), "future.txt")
    cfg = handoff_cfg(tmp_path, s0)
    cfg.set("AUDIT_POSITION", str(n1 - 1))

    run_job("StateAudit", cfg, spark=spark, drain=True)
    rep2 = {r.primary_key: r.verdict for r in
            spark.read.parquet(str(tmp_path / "out" / "state_audit")).collect()}
    assert rep2[altered] == "stale_value"
    assert rep2[dropped] == "missing_in_state"
    assert rep2["u_ghost"] == "orphan_in_state"
    matches = [k for k, v in rep2.items() if v == "match"]
    assert len(matches) == n_keys - 2
