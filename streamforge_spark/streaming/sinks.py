"""Streaming sinks: idempotent upsert, compacted/tombstone output, DLQ.

Reference (SURVEY §2.2):
- MongoSinkBuilder.java:104-191 — idempotent upsert (ReplaceOne/
  DeleteOne by primary key), batched unordered bulk writes, per-record
  DLQ on failures;
- KafkaSinkBuilder.java:53-151 — at-least-once default, compacted mode
  keyed by primaryKey with NULL-value tombstones on DELETE;
- DLQPublisher.java — out-of-band dead-letter channel.

Spark mapping: ``foreachBatch`` is the idempotence boundary — the
micro-batch id makes replays detectable, and the upsert keyed by
primary key makes them harmless ("effectively once",
docs/recovery/fault-tolerance.md §4). The batch/flush cadence knobs
(500 docs / 1s) collapse into the trigger interval.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def kafka_compacted_output(df: DataFrame, key_col: str = "primary_key",
                           op_col: str = "operation",
                           delete_value: str = "delete") -> DataFrame:
    """Project to Kafka (key, value) with compaction semantics:
    key = primary key, value = full record JSON, DELETE -> null value
    tombstone (KafkaSinkBuilder.java:146-151). Feed the result to
    ``.writeStream.format('kafka')`` (at-least-once; pair with the
    upsert sink or downstream dedup for effectively-once)."""
    payload_cols = [c for c in df.columns if c != key_col]
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.when(F.col(op_col) == delete_value, F.lit(None).cast("string"))
        .otherwise(F.to_json(F.struct(*payload_cols))).alias("value"),
    )


#: storage-layout bucket column for the upsert target (derived from the
#: key, so key collisions are impossible across buckets).
UPSERT_BUCKET_COL = "_kb"


def upsert_batch(target_path: str, key_cols: list[str],
                 order_cols: list[str],
                 op_col: str | None = None, delete_value: str = "delete",
                 num_buckets: int = 64):
    """Build a foreachBatch function performing an idempotent
    latest-per-key upsert into a parquet target.

    Mirrors MongoSinkBuilder's ReplaceOne(upsert)/DeleteOne models
    (MongoSinkBuilder.java:104-139): merge with the existing snapshot,
    keep the newest row per key, drop keys whose newest row is a
    delete.

    Scale shape: the target is laid out as ``num_buckets`` hash
    partitions of the key (dir column ``_kb``). Each micro-batch
    touches only the buckets its keys hash into — we read *those*
    partitions (partition-pruned scan), merge, and rewrite *only them*
    via dynamic partition overwrite. Work per trigger is
    O(touched buckets), not O(table); at 100 TB with a small hot key
    set that is the difference between a sink and a full-table rewrite
    per trigger. A transactional MERGE target (Delta/Iceberg/Mongo)
    would replace the dynamic-overwrite commit; the batch function is
    the part the reference implements — the storage swap is config.
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException
        from pyspark.sql import Window
        spark = batch_df.sparkSession
        bucket = F.pmod(
            F.xxhash64(*[F.col(c).cast("string") for c in key_cols]),
            F.lit(num_buckets)).cast("int")
        batch_df = batch_df.withColumn(UPSERT_BUCKET_COL, bucket)
        # bucket ids only — bounded by num_buckets, never row data
        touched = [r[0] for r in
                   batch_df.select(UPSERT_BUCKET_COL).distinct().collect()]
        if not touched:
            return  # empty micro-batch: nothing to merge, touch nothing
        try:
            existing = (spark.read.parquet(target_path)
                        .filter(F.col(UPSERT_BUCKET_COL).isin(touched)))
        except AnalysisException:
            # target does not exist yet (first batch). Any other error
            # (IO, corrupt footer) propagates so the trigger fails and
            # retries instead of overwriting the snapshot with one
            # batch's worth of data.
            existing = None
        merged = batch_df if existing is None else existing.unionByName(batch_df)
        w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])
        latest = (merged.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1).drop("_rn"))
        if op_col is not None:
            latest = latest.filter(F.col(op_col) != delete_value)
        # we overwrite partitions we just read: cut the lineage first
        latest = latest.localCheckpoint()
        (latest.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(UPSERT_BUCKET_COL)
         .parquet(target_path))
        # dynamic overwrite only replaces partitions the write PRODUCES
        # — a delete that removes a bucket's last surviving key writes
        # zero rows for it, leaving the stale partition dir in place.
        # Drop touched-but-now-empty bucket dirs explicitly; a crash
        # before the drop replays the batch (foreachBatch is at-least-
        # once) and re-attempts it, so the repair is idempotent.
        if op_col is not None and existing is not None:
            survivors = {r[0] for r in
                         latest.select(UPSERT_BUCKET_COL).distinct().collect()}
            emptied = [b for b in touched if b not in survivors]
            if emptied:
                jvm = spark._jvm
                conf = spark._jsc.hadoopConfiguration()
                for b in emptied:
                    p = jvm.org.apache.hadoop.fs.Path(
                        f"{target_path}/{UPSERT_BUCKET_COL}={b}")
                    p.getFileSystem(conf).delete(p, True)

    return apply


def effectively_once(produce: Callable[[DataFrame, int], None],
                     ledger_path: str, retain: int = 1000):
    """Wrap a foreachBatch produce function with batchId-keyed
    idempotence — the Spark analog of the reference's EXACTLY_ONCE
    delivery mode (KafkaSinkBuilder.java:61-77: transactional id +
    checkpoint-aligned commits).

    Structured Streaming replays a failed micro-batch with the SAME
    batch_id after checkpoint recovery. We keep a commit ledger (one
    zero-byte file per batch id; ``createNewFile`` is atomic on HDFS-
    compatible stores): a replayed batch whose id is already in the
    ledger is skipped entirely, so the external system sees each batch
    at most once even though the transport is at-least-once. The
    ledger is O(#batches) tiny files, partition-count independent —
    nothing here scales with data volume.

    Failure window: a crash AFTER produce but BEFORE the ledger write
    replays the produce — by contract ``produce`` must therefore be
    idempotent per (batch content, batch_id), which the batch-id
    header/key gives the consumer; this matches Flink's "transaction
    may be re-committed" recovery semantics.

    The ledger self-compacts: checkpoint recovery only ever replays
    batches near the last commit, so markers older than
    ``batch_id - retain`` are pruned as new batches commit — steady-
    state ledger size is ``retain`` empty files regardless of stream
    lifetime.
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path
        dir_path = jpath(ledger_path)
        fs = dir_path.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.mkdirs(dir_path)
        marker = jpath(f"{ledger_path.rstrip('/')}/batch-{batch_id}")
        if fs.exists(marker):
            return  # replayed batch: already produced, skip
        produce(batch_df, batch_id)
        fs.createNewFile(marker)
        if batch_id > retain:
            for st in fs.listStatus(dir_path):
                name = st.getPath().getName()
                if (name.startswith("batch-")
                        and name[6:].isdigit()
                        and int(name[6:]) < batch_id - retain):
                    fs.delete(st.getPath(), False)

    return apply


def kafka_eo_producer(topic: str, bootstrap_servers: str,
                      key_col: str = "primary_key",
                      op_col: str = "operation"):
    """Batch-produce function for :func:`effectively_once` targeting a
    real Kafka cluster: compacted (key, value) projection plus a
    ``batchId`` header so downstream consumers can fence the
    crash-replay window (the reference's transactional.id analog)."""

    def produce(batch_df: DataFrame, batch_id: int) -> None:
        out = kafka_compacted_output(batch_df, key_col=key_col, op_col=op_col)
        (out.withColumn(
            "headers",
            F.array(F.struct(
                F.lit("batchId").alias("key"),
                F.lit(str(batch_id)).cast("binary").alias("value"))))
         .write.format("kafka")
         .option("kafka.bootstrap.servers", bootstrap_servers)
         .option("topic", topic)
         .option("includeHeaders", "true")
         .save())

    return produce


def foreach_batch_kafka_eo(df: DataFrame, topic: str, bootstrap_servers: str,
                           checkpoint: str, ledger_path: str):
    """Wire a streaming DataFrame into the effectively-once Kafka sink
    (EXACTLY_ONCE mode of KafkaSinkBuilder.java:51-53,61-77)."""
    return (df.writeStream.outputMode("update")
            .foreachBatch(effectively_once(
                kafka_eo_producer(topic, bootstrap_servers), ledger_path))
            .option("checkpointLocation", checkpoint))


def foreach_batch_upsert(df: DataFrame, target_path: str, key_cols: list[str],
                         order_cols: list[str], checkpoint: str,
                         op_col: str | None = None):
    """Wire a streaming DataFrame into the idempotent upsert sink."""
    return (df.writeStream.outputMode("update")
            .foreachBatch(upsert_batch(target_path, key_cols, order_cols, op_col))
            .option("checkpointLocation", checkpoint))


def foreach_batch_es_upsert(df: DataFrame, target_path: str, checkpoint: str,
                            id_col: str = "trace_id",
                            time_cols: list[str] | None = None):
    """ElasticsearchSinkBuilder analog (ElasticsearchSinkBuilder.java:
    doc id = traceId): document-id-keyed idempotent upsert — the exact
    semantics ES gives via `_id`-addressed index requests, expressed
    through the same partition-scoped upsert sink. Replays overwrite
    the same document ids, so at-least-once delivery is effectively
    once.  For the REAL wire protocol use
    :func:`foreach_batch_es_bulk`, which speaks the chunked ``_bulk``
    ndjson API over HTTP from the executors (integration-tested
    against an in-process bulk endpoint in tests/test_es_sink.py);
    this parquet-backed variant remains for offline/file targets."""
    return foreach_batch_upsert(
        df, target_path, key_cols=[id_col],
        order_cols=time_cols or ["processed_time"],
        checkpoint=checkpoint)


def es_bulk_writer(url: str, index: str, id_col: str,
                   op_col: str | None = None, delete_value: str = "delete",
                   chunk_docs: int = 500, max_retries: int = 4,
                   backoff_s: float = 0.5):
    """Partition-level Elasticsearch ``_bulk`` writer (pure stdlib
    HTTP, runs ON THE EXECUTORS — the driver never sees a document).

    Mirrors ElasticsearchSinkBuilder.java: document ``_id`` = the id
    column (so replays overwrite, at-least-once becomes effectively
    once), DELETE ops become bulk ``delete`` actions, requests are
    chunked at ``chunk_docs`` actions (the reference's 500-doc flush,
    ElasticsearchSinkBuilder.java bulk settings), and retryable
    statuses (429/5xx, connection resets) back off and retry —
    including ITEM-level 429s inside a 200 response (how real ES
    signals per-shard backpressure): only the rejected actions
    re-bulk through the backoff schedule.  Non-retryable item
    failures raise so the micro-batch fails and replays rather than
    dropping documents silently.

    At 1000 executors this fans the index traffic out per partition —
    size partitions so chunk_docs * doc_size fits the ES http limit,
    and cap parallelism with the stream's shuffle partitioning, not a
    driver-side collect.
    """
    RETRYABLE = (429, 502, 503, 504)

    def write_partition(rows) -> None:
        import json as _json
        import time as _time
        import urllib.error
        import urllib.request

        acts: list[list[str]] = []   # one entry per action (1-2 ndjson lines)

        def flush() -> None:
            if not acts:
                return
            # real ES signals backpressure two ways: a whole-request
            # 429/5xx (handled below), and a 200 ``_bulk`` response
            # whose ITEMS carry 429 — the common case under sustained
            # load.  Raising on the latter would fail the micro-batch
            # and crash-loop the stream replaying whole batches, so
            # instead the REJECTED actions alone re-bulk through the
            # same backoff schedule; anything non-retryable still
            # raises for an at-least-once replay.
            pending = list(acts)
            for attempt in range(max_retries):
                body = ("\n".join(ln for a in pending for ln in a)
                        + "\n").encode()
                req = urllib.request.Request(
                    f"{url.rstrip('/')}/_bulk", data=body,
                    headers={"Content-Type": "application/x-ndjson"})
                try:
                    with urllib.request.urlopen(req, timeout=30) as r:
                        resp = _json.load(r)
                except urllib.error.HTTPError as e:
                    if e.code not in RETRYABLE \
                            or attempt == max_retries - 1:
                        raise
                    _time.sleep(backoff_s * (2 ** attempt))
                    continue
                except urllib.error.URLError:
                    if attempt == max_retries - 1:
                        raise
                    _time.sleep(backoff_s * (2 ** attempt))
                    continue
                if not resp.get("errors"):
                    break
                retry_idx: list[int] = []
                fatal: list[dict] = []
                for i, it in enumerate(resp.get("items", [])):
                    info = next(iter(it.values()))
                    status = info.get("status", 200)
                    if status < 300:
                        continue
                    # a replayed delete of an already-deleted doc
                    # reports item status 404 — that is the
                    # idempotent outcome, not a failure
                    if "delete" in it and status == 404:
                        continue
                    if status in RETRYABLE:
                        retry_idx.append(i)
                    else:
                        fatal.append(it)
                if fatal:
                    raise RuntimeError(f"_bulk item failures: {fatal[:3]}")
                if not retry_idx:
                    break
                if attempt == max_retries - 1:
                    raise RuntimeError(
                        f"_bulk backpressure persisted after "
                        f"{max_retries} attempts: "
                        f"{len(retry_idx)} actions still rejected")
                pending = [pending[i] for i in retry_idx]
                _time.sleep(backoff_s * (2 ** attempt))
            acts.clear()

        for row in rows:
            d = row.asDict(recursive=True)
            doc_id = str(d[id_col])
            if op_col is not None and d.get(op_col) == delete_value:
                acts.append([_json.dumps(
                    {"delete": {"_index": index, "_id": doc_id}})])
            else:
                acts.append([_json.dumps(
                    {"index": {"_index": index, "_id": doc_id}}),
                    _json.dumps(d, default=str)])
            if len(acts) >= chunk_docs:
                flush()
        flush()

    return write_partition


def foreach_batch_es_bulk(df: DataFrame, url: str, index: str,
                          checkpoint: str, id_col: str = "trace_id",
                          order_cols: list[str] | None = None,
                          op_col: str | None = None):
    """ElasticsearchSinkBuilder over real HTTP: per micro-batch,
    reduce to the latest row per document id (so one replayed batch
    cannot interleave stale versions), then stream each partition
    through the chunked ``_bulk`` writer.  Idempotent under replay
    because the document id addresses the write."""
    from pyspark.sql import Window

    order = order_cols or ["processed_time"]

    def fn(batch: DataFrame, _bid: int) -> None:
        w = Window.partitionBy(id_col).orderBy(
            *[F.col(c).desc() for c in order])
        latest = (batch.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1).drop("_rn"))
        latest.foreachPartition(
            es_bulk_writer(url, index, id_col, op_col=op_col))

    return (df.writeStream.outputMode("update").foreachBatch(fn)
            .option("checkpointLocation", checkpoint))


BATCH_COL = "batch_id"


def write_batch(df: DataFrame, path: str, batch_id: int) -> None:
    """Exactly-once parquet write from inside a ``foreachBatch``:
    overwrite ``path/batch_id=<id>``, so a replayed batch id rewrites
    only its own directory and never duplicates rows. Readers see the
    id as a ``batch_id`` partition column of ``spark.read.parquet(path)``.
    Start the query behind :func:`check_batch_output`."""
    df.write.mode("overwrite").parquet(
        f"{path.rstrip('/')}/{BATCH_COL}={batch_id}")


def check_batch_output(spark: SparkSession, paths: Iterable[str],
                       checkpoint: str) -> None:
    """Refuse to start a query that writes ``paths`` through
    :func:`write_batch` over output it does not own, which it would
    hide or overwrite:

    - any entry but a ``batch_id=<n>`` dir — a parquet file sink's
      ``_spark_metadata`` (its readers see only the files it lists) or
      the flat files of an append writer (partition discovery drops
      them beside ``batch_id=`` dirs);
    - a ``batch_id=<n>`` dir beyond the last batch the checkpoint has
      planned (``offsets/``) — output of an older or archived
      checkpoint, whose ids a restarted numbering would overwrite.

    A planned but uncommitted batch is fine: its replay rewrites it.
    Such a deployment starts fresh (docs/RECOVERY.md §1)."""
    from streamforge_spark.streaming.recovery import _hadoop_fs
    fs, _JPath, log = _hadoop_fs(spark, f"{checkpoint.rstrip('/')}/offsets")
    planned = [int(st.getPath().getName()) for st in
               (fs.listStatus(log) if fs.exists(log) else [])
               if st.getPath().getName().isdigit()]
    last = max(planned, default=-1)
    for path in paths:
        fs, _JPath, root = _hadoop_fs(spark, path)
        if not fs.exists(root):
            continue
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            bid = name.removeprefix(f"{BATCH_COL}=")
            if not (st.isDirectory() and bid != name and bid.isdigit()):
                raise RuntimeError(
                    f"{path} holds {name!r}, which write_batch did not "
                    f"write; start from an empty output dir and a new "
                    f"checkpoint (docs/RECOVERY.md §1)")
            if int(bid) > last:
                raise RuntimeError(
                    f"{path}/{name} is beyond the last batch ({last}) of "
                    f"checkpoint {checkpoint}; a restarted batch numbering "
                    f"would overwrite it — start from an empty output dir "
                    f"(docs/RECOVERY.md §1)")


SINK_COL = "_sink"


def union_sinks(branches: dict[str, DataFrame]) -> DataFrame:
    """Several outputs as one streaming DataFrame, so one query (one
    checkpoint, one source offset per batch) carries them: each
    branch's rows are tagged with its output name (``_sink``) and its
    columns packed into a struct column of that name, so branches of
    any schemas union exactly. Unpack with :func:`split_sinks`."""
    packed = {name: df.select(F.struct(*df.columns).alias(name))
              for name, df in branches.items()}
    types = {name: df.schema[name].dataType for name, df in packed.items()}
    return reduce(DataFrame.unionByName, [
        df.select(F.lit(name).alias(SINK_COL),
                  *[F.col(n) if n == name else F.lit(None).cast(t).alias(n)
                    for n, t in types.items()])
        for name, df in packed.items()])


def split_sinks(writers: dict[str, Callable[[DataFrame, int], None]]):
    """The ``foreachBatch`` of a :func:`union_sinks` stream: persist the
    batch once and hand each writer its branch's unpacked rows and the
    batch id (ParallelSplitter's zero-copy side outputs, SURVEY §4)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for name, write in writers.items():
                write(batch_df.filter(F.col(SINK_COL) == name)
                      .select(f"{name}.*"), batch_id)
        finally:
            batch_df.unpersist()

    return apply
