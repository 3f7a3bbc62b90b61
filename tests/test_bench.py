"""bench.py: the headline set stays runnable, and ``measure`` returns a
per-query record whose layers add up to the wall it reports."""

import bench

SF_SMALL = "/root/testdata/sf0.001"


def test_headline_names_are_registered_and_oracled():
    """A renamed/deregistered query must fail here, not crash the
    driver's round-end bench run (KeyError mid-measurement)."""
    from streamforge_spark import registry
    registry.load_all()
    missing = [n for n in bench.HEADLINE if n not in registry.QUERIES]
    assert not missing, missing
    unoracled = [n for n in bench.HEADLINE if n not in registry.ORACLES]
    assert not unoracled, unoracled
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


def test_measure_records_wall_split_and_job_counts(spark):
    """Each name gets its median and min wall over ``PASSES`` cold runs,
    and the median run's build/exec split and Spark job counts.
    ``dedup_clusters`` builds through connected_components, whose eager
    local checkpoints and convergence collects run before the final
    action, so it must report build-time jobs."""
    names = ["q1_pricing_summary", "dedup_clusters"]
    rec = bench.measure(spark, SF_SMALL, names)
    assert list(rec) == names
    for name, r in rec.items():
        assert r["jobs"] >= 1, (name, r)
        assert 0 <= r["build_jobs"] <= r["jobs"], (name, r)
        assert r["min"] <= r["median"], (name, r)
        assert abs(r["build_s"] + r["exec_s"] - r["median"]) <= 0.002, \
            (name, r)
    assert rec["dedup_clusters"]["build_jobs"] >= 1, rec["dedup_clusters"]
