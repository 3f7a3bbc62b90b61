"""ScopedConfig layering (ScopedConfig.java:80-107 priority order)."""

from __future__ import annotations

import json

import pytest

from streamforge_spark.config import ScopedConfig


@pytest.fixture()
def files(tmp_path):
    cfgf = tmp_path / "streamforge.json"
    cfgf.write_text(json.dumps({
        "common": {"TOPIC": "common-topic", "ONLY_COMMON": "c"},
        "JobA": {"TOPIC": "joba-topic", "ONLY_JOB": "j"},
    }))
    envf = tmp_path / ".env"
    envf.write_text("TOPIC=dotenv-topic\n# comment\nDOTENV_ONLY='quoted'\n")
    return str(cfgf), str(envf)


def test_priority_order(files):
    cfgf, envf = files
    cfg = ScopedConfig(config_file=cfgf, env_file=envf,
                       environ={"TOPIC": "env-topic"},
                       overrides={"TOPIC": "override-topic"})
    cfg.activate_job("JobA")
    assert cfg.get("TOPIC") == "override-topic"            # overrides win
    cfg2 = ScopedConfig(config_file=cfgf, env_file=envf,
                        environ={"TOPIC": "env-topic"})
    assert cfg2.get("TOPIC") == "env-topic"                # then environ
    cfg3 = ScopedConfig(config_file=cfgf, env_file=envf, environ={})
    assert cfg3.get("TOPIC") == "dotenv-topic"             # then .env
    cfg4 = ScopedConfig(config_file=cfgf, env_file=None, environ={})
    cfg4.activate_job("JobA")
    assert cfg4.get("TOPIC") == "joba-topic"               # then json[job]
    assert cfg4.get("ONLY_COMMON") == "c"                  # then json[common]
    cfg4.activate_job("JobB")
    assert cfg4.get("TOPIC") == "common-topic"             # other job -> common


def test_exists_require_and_dotenv_quotes(files):
    cfgf, envf = files
    cfg = ScopedConfig(config_file=cfgf, env_file=envf, environ={})
    assert cfg.get("DOTENV_ONLY") == "quoted"
    assert cfg.exists("DOTENV_ONLY") and not cfg.exists("NOPE")
    with pytest.raises(KeyError, match="NOPE"):
        cfg.require("NOPE")
    cfg.activate_job("JobA")
    assert cfg.get("ONLY_JOB") == "j"
    assert cfg.get("MISSING", "dflt") == "dflt"


def test_bench_artifact_parser_survives_driver_wrapper_shapes(tmp_path, monkeypatch):
    # the driver wraps bench output as {"parsed": null, "tail": ...} on
    # partial captures; r3's artifact crashed the naive .get chain
    import json
    import bench as bench_mod
    root = tmp_path
    (root / "BENCH_r01.json").write_text(json.dumps(
        {"n": 1, "rc": 0, "sf": 0.1, "parsed": None, "tail": "garbage"}))
    (root / "BENCH_r02.json").write_text("not json at all {")
    (root / "BENCH_r03.json").write_text(json.dumps(
        {"parsed": {"sf": 0.1, "queries": {"q1": 1.5}, "value": 1.5}}))
    (root / "BENCH_r04.json").write_text(json.dumps([1, 2, 3]))  # non-dict
    monkeypatch.setattr(
        bench_mod.pathlib.Path, "resolve",
        lambda self: root / "bench.py", raising=False)
    name, data = bench_mod._latest_bench_artifact(0.1)
    assert name == "BENCH_r03.json" and data["queries"] == {"q1": 1.5}
    assert bench_mod._latest_bench_artifact(0.01) is None


def test_bench_vs_prev_reconstructs_truncated_wrapper_tail(tmp_path, monkeypatch):
    # the driver wrapper keeps a 2000-char stdout tail; once the
    # headline set outgrew it, `parsed` went null and vs_prev silently
    # fell back to the r01 artifact (judge r6 item 4).  The tail still
    # ends with [partial pass map] + complete vs_prev, so per-query MIN
    # timings reconstruct as prev_source + delta, and delta-uncovered
    # names fall back to the min over the visible raw pass values.
    import json
    import bench as bench_mod
    root = tmp_path
    (root / "BENCH_r01.json").write_text(json.dumps({
        "sf": 0.1,
        "parsed": {"sf": 0.1, "value": 3.0, "runs_per_query": 1,
                   "queries": {"old_a": 1.0, "old_b": 2.0}}}))
    tail = ('runcated_front... "new_c": 0.93, "old_b": 2.31}, '
            '{"new_c": 0.91, "old_b": 2.29}], '
            '"vs_prev": {"source": "BENCH_r01.json", "total_prev": 3.0, '
            '"total_delta": 1.2, "runs_per_query_prev": 1, '
            '"per_query_delta": {"old_a": 0.1, "old_b": 0.2}}}\n')
    (root / "BENCH_r06.json").write_text(json.dumps(
        {"n": 6, "rc": 0, "sf": 0.1, "parsed": None, "tail": tail}))
    monkeypatch.setattr(
        bench_mod.pathlib.Path, "resolve",
        lambda self: root / "bench.py", raising=False)
    name, data = bench_mod._latest_bench_artifact(0.1)
    assert name == "BENCH_r06.json" and data["reconstructed"] is True
    # delta-based exact mins beat raw pass values; uncovered names get
    # the min over visible passes
    assert data["queries"] == {"old_a": 1.1, "old_b": 2.2, "new_c": 0.91}
    assert data["value"] == 4.2  # total_prev + total_delta
    # a full untruncated line in the tail is preferred verbatim
    (root / "BENCH_r06.json").write_text(json.dumps(
        {"sf": 0.1, "parsed": None,
         "tail": 'noise\n{"metric": "m", "sf": 0.1, "value": 9.9, '
                 '"queries": {"q": 9.9}}\n'}))
    name, data = bench_mod._latest_bench_artifact(0.1)
    assert name == "BENCH_r06.json" and data["queries"] == {"q": 9.9}
    assert "reconstructed" not in data
    # the self-ledger outranks wrappers: the last line tagged with the
    # previous round (rounds_seen == max_wrapper_round - 1) is that
    # round's final (driver) run, untruncated
    m = "headline_queries_wall"   # the fold's entry filter (r10)
    (root / "BENCH_SELF.jsonl").write_text(
        json.dumps({"metric": m, "sf": 0.1, "rounds_seen": 4,
                    "value": 1.0, "queries": {"stale": 1.0}}) + "\n"
        + json.dumps({"metric": m, "sf": 0.1, "rounds_seen": 5,
                      "value": 5.5, "queries": {"fresh": 5.5}}) + "\n"
        + json.dumps({"metric": m, "sf": 0.01, "rounds_seen": 5,
                      "value": 0.5, "queries": {"wrong_sf": 0.5}}) + "\n")
    name, data = bench_mod._latest_bench_artifact(0.1)
    assert name.startswith("BENCH_SELF.jsonl") and \
        data["queries"] == {"fresh": 5.5}


def test_duplicate_query_registration_raises():
    # a silent last-writer-wins registry masked a dead funnel_conversion
    # for three rounds (judge r6 item 2) — dup names are now a hard error
    from streamforge_spark import registry
    registry.load_all()
    existing = next(iter(registry.QUERIES))
    with pytest.raises(ValueError, match="duplicate @query"):
        @registry.query(existing)
        def shadow(spark, sf_dir):  # pragma: no cover
            raise AssertionError
    # and the guard must not have clobbered the original binding
    assert registry.QUERIES[existing].__name__ != "shadow"


def test_registry_rejects_unoracled_registration():
    """The oracle-coverage gate (judge r10 item 1): load_all() must
    raise if any queries() name lacks an oracle_sql() entry — the
    driver has no rows-only protocol for registered names; an
    un-oracled registration is a guaranteed future red row."""
    import pytest as _pytest

    from streamforge_spark import registry
    registry.load_all()           # current registry must be clean
    assert list(registry.ORACLES) == \
        [n for n in registry.QUERIES if n in registry.ORACLES]

    @registry.query("_test_unoracled_q")
    def _q(spark, sf_dir):        # pragma: no cover - never runs
        raise AssertionError
    try:
        with _pytest.raises(AssertionError, match="_test_unoracled_q"):
            registry._assert_all_oracled()
    finally:
        del registry.QUERIES["_test_unoracled_q"]
    registry._assert_all_oracled()   # clean again after removal
