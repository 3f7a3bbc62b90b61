"""Batch table loading over the driver-provided parquet fixtures.

At 100 TB these reads become partitioned parquet/Delta scans; the
DataFrame-level code is identical — Catalyst pushes filters and prunes
columns into the scan automatically (verify with
``df.explain('formatted')`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Per-session plan memo for the fixture tables (r12, guide §5: the
# driver should do almost no work).  Every query re-loaded its tables
# (file listing + footer schema read, ~20-40 ms of driver wall each);
# the PLAN of an immutable fixture table is a constant per session, so
# build it once and hand the same DataFrame out.  This memoizes the
# unexecuted logical plan only — every action still scans parquet, so
# bench/oracle runs compute from the inputs exactly as before.  Weak
# keys: a stopped session releases its entry.
import weakref

_LOAD_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = \
    weakref.WeakKeyDictionary()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    per_session = _LOAD_MEMO.setdefault(spark, {})
    if (sf_dir, name) in per_session:
        return per_session[(sf_dir, name)]
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # events.ts normalization across fixture generations: TIMESTAMP(NANOS)
    # arrives as a long under nanosAsLong — truncate to micros (matching
    # DuckDB's ns->us truncation); TIMESTAMP_NTZ (micros, no zone) casts
    # to the session-zone type — identical instants under the UTC session
    # zone, and type-strict functions (unix_micros, watermarks) accept it.
    for f in df.schema.fields:
        if name == "events" and f.name == "ts":
            if f.dataType.typeName() == "long":
                df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
            elif f.dataType.typeName() == "timestamp_ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    per_session[(sf_dir, name)] = df
    return df


def scan_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s compiled plan, memoized on the
    DataFrame wrapper.  ``df.rdd`` compiles the full physical plan on
    the driver (~50-200 ms on a non-trivial plan); for the memoized
    fixture tables that cost is paid once per session instead of once
    per query.  Narrow transformations (select/filter/withColumn)
    preserve the scan's partitioning, so callers holding a projection
    of a loaded table may pass the loaded table itself as the probe."""
    n = getattr(df, "_sg_scan_parts", None)
    if n is None:
        n = df.rdd.getNumPartitions()
        df._sg_scan_parts = n
    return n


def spread_for_compute(df: DataFrame, key: str,
                       scan_of: DataFrame | None = None) -> DataFrame:
    """Ensure a compute-heavy downstream stage (shingle explode, Python
    scoring) gets at least cluster-parallelism partitions.

    A small input file otherwise pins the work to one task; but when
    the scan is already well-partitioned (always true at 100 TB under
    maxPartitionBytes) a repartition here would shuffle the full raw
    data for zero benefit — so it's a no-op unless the plan is actually
    under-partitioned. Partition count comes from the compiled plan
    (no job runs).  ``scan_of``: when ``df`` is a narrow projection of
    a (memoized) base table, pass the base so the partition probe hits
    its memoized count instead of recompiling the derived plan."""
    parts = df.sparkSession.sparkContext.defaultParallelism
    if scan_partitions(scan_of if scan_of is not None else df) >= parts:
        return df
    return df.repartition(parts, key)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def in_flight(spark: SparkSession, *builds: Callable[[], Any]) -> list:
    """Run independent zero-argument ``builds`` concurrently, one
    thread each, and return their results in argument order.

    For a query whose barriers (checkpoints, driver collects) do not
    depend on each other: each blocks its thread on its own Spark jobs,
    so the scheduler runs their stages side by side instead of one
    build's tail stages leaving the cores idle before the next starts.
    Each thread runs under ``inheritable_thread_target(spark)``, so its
    jobs keep the caller's job group, description and tags.  Every
    build finishes before this returns; the error of the first failing
    build, in argument order, is re-raised."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target
    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=len(builds)) as pool:
        futures = [pool.submit(inherit(b)) for b in builds]
        return [f.result() for f in futures]


def swap_dir(spark: SparkSession, path: str, tmp: str) -> None:
    """Atomically (rename-aside) replace directory ``path`` with
    ``tmp`` so no crash point loses data: the original survives (as
    __compact_old) until the new copy is in place.  Crash between the
    renames => data still on disk in __compact_old and/or ``tmp``;
    recovery = rename either back into place.  Used by the
    CorpusCompact and QuarantineReplay rewrites (jobs.py) and by
    functions/similarity.py."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    fs_path = jpath(path)
    fs = fs_path.getFileSystem(spark._jsc.hadoopConfiguration())
    tmp_path = jpath(tmp)
    old_path = jpath(path.rstrip("/") + "__compact_old")
    fs.delete(old_path, True)  # leftover from a previous crashed run
    if not fs.rename(fs_path, old_path):
        raise IOError(f"swap_dir: could not move {path} aside")
    if not fs.rename(tmp_path, fs_path):
        fs.rename(old_path, fs_path)  # restore the original
        raise IOError(f"swap_dir: could not move new data into {path}")
    fs.delete(old_path, True)


ZORDER_BITS = 16


def zorder_key(x, y, bits: int = ZORDER_BITS):
    """Morton (Z-order) interleave of two non-negative ``bits``-wide
    integer columns into one BIGINT sort key: bit b of x lands at
    position 2b, bit b of y at 2b+1. Sorting by this key clusters rows
    that are close in BOTH dimensions, so per-file min/max statistics
    become tight in both — the standard multi-dimensional data-skipping
    layout (Delta/Iceberg OPTIMIZE ZORDER) expressed as plain column
    algebra. The unrolled OR chain stays inside whole-stage codegen.

    Callers clamp/rank inputs into [0, 2^bits): interleaving wants
    uniform-ish fixed-width coordinates (ranks or clipped buckets),
    not raw unbounded values."""
    z = F.lit(0).cast("long")
    for b in range(bits):
        z = z.bitwiseOR(F.shiftleft(x.cast("long").bitwiseAND(F.lit(1 << b)), b))
        z = z.bitwiseOR(F.shiftleft(y.cast("long").bitwiseAND(F.lit(1 << b)), b + 1))
    return z
