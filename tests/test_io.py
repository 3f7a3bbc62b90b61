"""``io.in_flight``: concurrent builds keep order, job group and errors."""

from __future__ import annotations

import threading
import time

import pytest

from streamforge_spark.io import in_flight


def _sum_build(spark, n):
    def build():
        # later arguments finish first, so order cannot come from timing
        time.sleep(0.1 * (3 - n))
        return spark.range(n * 1000).selectExpr("sum(id) AS s").collect()[0].s
    return build


def _bounded(fn, timeout=120):
    """Run ``fn`` on a thread; return its result or exception, failing
    the test if it has not finished within ``timeout`` seconds."""
    out = {}

    def target():
        try:
            out["value"] = fn()
        except Exception as exc:  # noqa: BLE001 - handed to the test
            out["error"] = exc

    t = threading.Thread(target=target)
    t.start()
    t.join(timeout)
    assert not t.is_alive(), "in_flight did not return"
    return out


def test_in_flight_results_equal_sequential_in_order(spark):
    builds = [_sum_build(spark, n) for n in (1, 2, 3)]
    assert in_flight(spark, *builds) == [b() for b in builds]


def test_in_flight_jobs_run_under_callers_job_group(spark):
    sc = spark.sparkContext
    group = "in-flight-test"
    sc.setJobGroup(group, "in_flight job group")
    try:
        in_flight(spark, *(_sum_build(spark, n) for n in (1, 2, 3)))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # each build's collect runs at least one job, all under the group
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 3


def test_in_flight_error_reaches_caller(spark):
    def fails():
        raise ValueError("build failed")

    def spark_fails():
        return spark.range(5).selectExpr("assert_true(id < 1)").collect()

    out = _bounded(lambda: in_flight(spark, _sum_build(spark, 2), fails,
                                     spark_fails))
    # the first failing build in argument order wins
    assert isinstance(out.get("error"), ValueError)
    out = _bounded(lambda: in_flight(spark, spark_fails, fails))
    with pytest.raises(Exception, match="assert_true|id < 1"):
        raise out["error"]
