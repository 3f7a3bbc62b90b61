"""SparkSession construction and tuning.

Defaults are chosen for *scale*: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), UTC session time zone (deterministic
timestamp semantics against external oracles), Arrow for any
Python<->JVM data movement. On a real cluster the same conf applies;
only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf that is runtime-settable on an existing session (driver may hand
# us its own SparkSession — see __spark_entry__.py contract).
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # r12 (guide §2.2/§2.5): AQE's coalescer is bytes-based, but this
    # engine's hot stages are compute-dense (salted-md5 hashing, HOF
    # signature folds, exact-Jaccard array ops) — microseconds per row
    # over kilobytes of shuffle bytes.  With the default 1 MB floor,
    # parallelism-first coalescing collapses any sub-MB post-shuffle
    # stage to ONE task and serializes that compute (measured: the
    # funnel's substring+fuzzy gates ran 1-task/11.7s at sf0.1).  A
    # 64 KB floor keeps such stages at cluster parallelism; at 100 TB
    # post-shuffle partitions are advisory-sized (64 MB+) and this
    # floor is unreachable — scale-neutral by construction.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 100 TB hygiene: cap per-task input so scans parallelize evenly.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # the events fixture stores TIMESTAMP(NANOS) which Spark refuses by
    # default; read as long and truncate to micros in io.load (DuckDB
    # truncates ns->us the same way).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Python workers pay ~1s of pandas/numpy imports on spawn; reuse
    # them across tasks (mapInPandas/applyInPandas stages).
    "spark.python.worker.reuse": "true",
}


def default_parallelism() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on (its
    affinity mask, as ``nproc`` counts them — not the host's total)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def get_spark(app_name: str = "streamforge-spark") -> SparkSession:
    """Build a local session shaped like the target cluster.

    ``local[$SPARK_GRAFT_CPUS]`` here; on a cluster only ``master`` and
    executor sizing change — the engine itself is partition-count
    agnostic (AQE coalesces).

    Shuffle partitions are 2 × cores with no floor: AQE coalesces batch
    stages, but a stateful streaming operator keeps one state store per
    shuffle partition, each committed every batch and never coalesced,
    for the checkpoint's whole life (a restart restores the count from
    the offset log), so each partition beyond the cores is pure
    per-task and per-commit overhead.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return tune(spark)


# sessions already tuned — identity-keyed, weak so a stopped session's
# entry disappears with the object.  r12 (guide §5: the driver should
# do almost no work): tune() is called by every query via prep(); the
# ~12 conf round-trips per call cost ~20 ms x n_queries of pure py4j
# wall.  Conf values are constants, so one application per session is
# semantically identical.
_TUNED: "weakref.WeakSet[SparkSession]" = None  # type: ignore[assignment]


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally provided session
    (idempotent; once per session object)."""
    global _TUNED
    if _TUNED is None:
        import weakref
        _TUNED = weakref.WeakSet()
    if spark in _TUNED:
        return spark
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # static conf on a running session — ignore
            pass
    _TUNED.add(spark)
    return spark
