"""Batch table loading over the driver-provided parquet fixtures.

At 100 TB these reads become partitioned parquet/Delta scans; the
DataFrame-level code is identical — Catalyst pushes filters and prunes
columns into the scan automatically (verify with
``df.explain('formatted')`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

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


def write_bucketed(df: DataFrame, table: str, key: str, buckets: int,
                   path: str) -> None:
    """Persist a table bucketed + sorted on its join key, so every
    subsequent equi-join or aggregation on that key is co-located —
    zero exchange, zero sort at read time.

    This is the 100 TB answer to a repeatedly-joined fact table (e.g.
    lineitem x orders on the orderkey): pay one shuffle at write time,
    then every downstream join plans SortMergeJoin with NO Exchange on
    either side (see tests/test_plans.py::test_bucketed_join_no_shuffle).
    Bucket count is a layout contract: choose ~(table_size /
    target_partition_size) at the largest consumer's scale."""
    (df.write.bucketBy(buckets, key).sortBy(key)
     .option("path", path).mode("overwrite").saveAsTable(table))


def write_partitioned(df: DataFrame, path: str, *,
                      partition_cols: list[str],
                      max_records_per_file: int = 1_000_000) -> None:
    """Persist a table hive-partitioned on low-cardinality columns
    (typically a derived date column), so any query filtering on them
    plans PartitionFilters — whole directories are skipped before a
    single row is read.

    This is the 100 TB answer to time-scoped scans (the dominant query
    shape on event/CDC data): a day-partitioned 100 TB table serves a
    one-week query by listing 7 directories. maxRecordsPerFile bounds
    file sizes so a skewed partition still splits across tasks."""
    (df.write.partitionBy(*partition_cols)
     .option("maxRecordsPerFile", max_records_per_file)
     .mode("overwrite").parquet(path))


def load_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory whose schema has WIDENED over time
    (columns added by newer writers — the standard additive-evolution
    policy for long-lived event/CDC archives): ``mergeSchema`` unions
    the per-file schemas and older files surface the new columns as
    NULL. Additive-only is the contract — renames/retypes need a
    rewrite (compact_files is the natural place).

    At 100 TB, schema merging reads every file FOOTER up front —
    that's why it is opt-in here rather than session-default; tables
    under a catalog (Delta/Iceberg/metastore) carry the merged schema
    in metadata and skip the footer sweep entirely."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def compact_files(spark: SparkSession, path: str, *,
                  target_file_bytes: int = 128 * 1024 * 1024) -> int:
    """Compact a parquet directory written by many small micro-batches
    into ~target-sized files; returns the resulting file count.

    Streaming foreachBatch sinks produce one file per partition per
    trigger — at a 10s trigger that's ~8.6k files/day/partition, and
    at 100 TB the scan's file-listing + footer reads dominate. This
    rewrites the directory via coalesce (no shuffle — existing
    partitions are merged, not repartitioned) into
    ceil(bytes/target) files. Run it on cold partitions (e.g. closed
    date= directories of a write_partitioned layout), never on the
    directory a live stream is appending to."""
    import math
    fs_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = fs_path.getFileSystem(spark._jsc.hadoopConfiguration())
    size = fs.getContentSummary(fs_path).getLength()
    n_files = max(1, math.ceil(size / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compact_tmp"
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    swap_dir(spark, path, tmp)
    return n_files


def swap_dir(spark: SparkSession, path: str, tmp: str) -> None:
    """Atomically (rename-aside) replace directory ``path`` with
    ``tmp`` so no crash point loses data: the original survives (as
    __compact_old) until the new copy is in place.  Crash between the
    renames => data still on disk in __compact_old and/or ``tmp``;
    recovery = rename either back into place.  Shared by
    compact_files and the CorpusCompact rewrite (jobs.py)."""
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


def write_zordered(df: DataFrame, path: str, zcol, *,
                   num_files: int = 16) -> None:
    """Lay a table out Z-ordered: range-partition on the Morton key
    (contiguous key ranges per file = disjoint Z-curve segments), sort
    within partitions, write one file each. Point/range predicates on
    EITHER interleaved dimension then skip most files on parquet
    min/max stats alone — the layout is the optimization; readers need
    nothing special."""
    (df.withColumn("_z", zcol)
     .repartitionByRange(num_files, F.col("_z"))
     .sortWithinPartitions("_z")
     .drop("_z")
     .write.mode("overwrite").parquet(path))


def backfill_partitions(df: DataFrame, target_path: str,
                        partition_col: str, values: list) -> None:
    """Recompute and replace ONLY the named partitions of a
    hive-partitioned target (the operational backfill: a late-data or
    bug-fix rebuild of specific days) — dynamic partition overwrite
    writes just the directories present in the corrected frame, so a
    3-day repair on a 100 TB table touches 3 directories and the other
    ~36,000 day-partitions are never read, rewritten, or locked.
    Pairs with incremental_agg_merge (algebraic re-aggregation) for
    derived tables; the same mechanism backs the upsert sink's bucket
    rewrite (streaming/sinks.py)."""
    out = df.filter(F.col(partition_col).isin(values))
    (out.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(partition_col)
     .parquet(target_path))


def plan_compaction(spark: SparkSession, path: str, *,
                    target_file_bytes: int = 128 * 1024 * 1024,
                    small_file_bytes: int | None = None) -> list[dict]:
    """Compaction PLANNER: inspect a parquet directory's file sizes
    (Hadoop FS listing — metadata only, no data read) and bin-pack the
    small files into merge groups of ~``target_file_bytes`` via
    first-fit-decreasing. Returns one dict per group:
    ``{"files": [...], "bytes": N}`` — the schedule an operator (or
    compact_files per group) executes, letting operations see and
    bound the rewrite cost BEFORE touching 100 TB of data.

    Files >= ``small_file_bytes`` (default: target/2) are already
    healthy and excluded. Deterministic: sizes descending, name
    ascending."""
    if small_file_bytes is None:
        small_file_bytes = target_file_bytes // 2
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = fs_path.getFileSystem(conf)
    files = []
    for st in fs.listStatus(fs_path):
        name = st.getPath().getName()
        if st.isFile() and name.endswith(".parquet"):
            size = st.getLen()
            if size < small_file_bytes:
                files.append((int(size), name))
    files.sort(key=lambda t: (-t[0], t[1]))
    groups: list[dict] = []
    for size, name in files:
        placed = False
        for g in groups:
            if g["bytes"] + size <= target_file_bytes:
                g["files"].append(name)
                g["bytes"] += size
                placed = True
                break
        if not placed:
            groups.append({"files": [name], "bytes": size})
    return groups


def read_csv_quarantine(spark: SparkSession, path: str, schema,
                        **options) -> tuple[DataFrame, DataFrame]:
    """CSV ingestion with format-error quarantine: parse in PERMISSIVE
    mode with a ``_corrupt_record`` capture column and split into the
    pipeline's dual-output ``(pass_df, dlq_df)`` protocol — extending
    the reference's DLQ discipline (DLQPublisher, SURVEY §2.2) from
    semantic violations down to the byte/format layer, where real feed
    breakage usually starts.

    A row is quarantined when the raw line failed to parse (corrupt
    column non-null).  The DLQ branch carries the ORIGINAL raw line as
    ``raw_event``, so the quarantine is replayable after a parser fix.

    Scale: PERMISSIVE parsing is a per-task scan concern — no shuffle;
    the split is two filters over one cached parse (Catalyst shares
    the scan), and schema/column pruning still applies to the clean
    branch.
    """
    from streamforge_spark.pipeline import dlq_event
    import pyspark.sql.types as T_
    full = T_.StructType(list(schema.fields)
                         + [T_.StructField("_corrupt_record", T_.StringType())])
    # Spark refuses to evaluate a plan that filters on the internal
    # corrupt-record column of a live scan (QUERY_ONLY_CORRUPT_RECORD
    # _COLUMN); materialize the parse once, then split — which is also
    # the right plan: one parse feeding both branches.
    raw = (spark.read.schema(full)
           .options(mode="PERMISSIVE", columnNameOfCorruptRecord="_corrupt_record",
                    **options)
           .csv(path)
           .localCheckpoint(eager=False))
    bad = raw.where(F.col("_corrupt_record").isNotNull())
    passed = (raw.where(F.col("_corrupt_record").isNull())
              .drop("_corrupt_record"))
    dlq = dlq_event(bad, "FORMAT_ERROR", F.lit("malformed csv record"),
                    source=path, raw_event=F.col("_corrupt_record"))
    return passed, dlq
