"""Streaming dedup & no-op-update suppression.

Reference TTL state (Deduplicator.java:53-55 10m; StatefulMerger.java:
88-90 24h) maps to watermark-scoped streaming state:
``dropDuplicatesWithinWatermark`` keeps a key's dedup state only while
it is within the watermark — the event-time formulation of the
reference's processing-time TTL (SURVEY §7.5#1).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def streaming_dedup(df: DataFrame, key_cols: Sequence[str],
                    event_time_col: str, ttl: str = "10 minutes",
                    assign_watermark: bool = True) -> DataFrame:
    """First-seen-wins dedup within the watermark horizon.

    assign_watermark=False when the stream already carries a watermark
    (Spark forbids redefining one across chained stateful operators —
    assign once at ingest, like the reference assigns per-source
    watermarks at fan-in)."""
    if assign_watermark:
        df = df.withWatermark(event_time_col, ttl)
    return df.dropDuplicatesWithinWatermark(list(key_cols))


def streaming_merger(df: DataFrame, key_cols: Sequence[str],
                     payload_col: str, event_time_col: str,
                     ttl: str = "24 hours",
                     excluded_fields: Sequence[str] = (),
                     assign_watermark: bool = True) -> DataFrame:
    """Suppress updates whose content fingerprint repeats for the key
    within the TTL window. Approximates last-hash-per-key compare with
    (key, fingerprint) dedup — identical output whenever a payload
    doesn't revert to a previously-seen value within the window; for
    exact last-value semantics use ``streaming_merger_exact`` below."""
    df = df.withColumn(
        "_fp", content_fingerprint(F.col(payload_col), excluded_fields))
    if assign_watermark:
        df = df.withWatermark(event_time_col, ttl)
    return df.dropDuplicatesWithinWatermark([*key_cols, "_fp"]).drop("_fp")


_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


def start_without_idle_batches(writer: DataStreamWriter) -> StreamingQuery:
    """Start a query that runs data-bearing micro-batches only.

    Spark runs an extra no-input batch to evict state whenever the
    watermark moves and no input is waiting.  Only valid when EVERY
    stateful operator of the query is a watermark dedup
    (``streaming_dedup`` / ``streaming_merger``):
    ``dropDuplicatesWithinWatermark`` emits on arrival, never on
    eviction, so that batch writes nothing.  Eviction then rides the
    next data batch at the same watermark, which the commit log carries
    over a restart.  That batch behaves as if the stream had never
    paused: it cuts late rows at the previous batch's watermark and
    evicts after its input.  Never use it for operators that emit on
    eviction or timeout (windows, sessions, stream-stream joins,
    GroupState timeouts).

    The StreamExecution clones the session when the query is created
    and reads the flag from that clone, so setting it around
    ``start()`` reaches this query only."""
    conf = writer._spark.conf
    before = conf.get(_NO_DATA_BATCHES, None)
    conf.set(_NO_DATA_BATCHES, "false")
    try:
        return writer.start()
    finally:
        if before is None:
            conf.unset(_NO_DATA_BATCHES)
        else:
            conf.set(_NO_DATA_BATCHES, before)


def content_fingerprint(payload: Column,
                        excluded_fields: Sequence[str] = ()) -> Column:
    """64-bit content hash of a JSON payload minus excluded fields,
    order-normalized — the O(1)-per-event change detector
    (StatefulMerger.java:110-120's sorted-TreeMap hash as a codegen
    column expression)."""
    if excluded_fields:
        stripped = F.map_filter(
            F.from_json(payload, "map<string,string>"),
            lambda k, _: ~k.isin(*excluded_fields),
        )
        entries = F.array_sort(F.transform(
            F.map_entries(stripped),
            lambda e: F.concat_ws("\x01", e.key, e.value),
        ))
        return F.xxhash64(F.concat_ws("\x02", entries))
    return F.xxhash64(payload)


_MERGER_STATE = T.StructType([T.StructField("last_fp", T.LongType())])


def streaming_merger_exact(df: DataFrame, key_col: str, payload_col: str,
                           time_col: str,
                           excluded_fields: Sequence[str] = (),
                           ttl_ms: int | None = None) -> DataFrame:
    """Exact last-hash-per-key suppression (StatefulMerger.java:94-120
    semantics): an update passes iff its content hash differs from the
    key's CURRENT hash — so a payload that reverts to an earlier value
    re-emits, which the (key, fingerprint) watermark-dedup
    approximation in ``streaming_merger`` would wrongly suppress.

    Keyed GroupState holds one int64 per key (the same O(1) state bound
    as the reference's ValueState<Long>); ttl_ms maps its 24h
    StateTtlConfig onto a ProcessingTimeTimeout. Output = the passing
    rows as (key, payload, ts)."""
    out_schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("payload", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(columns=[f.name for f in out_schema])
            return
        (last,) = state.get if state.exists else (None,)
        out: list[dict] = []
        for pdf in pdfs:
            pdf = pdf.sort_values(by=[time_col])
            for row in pdf.itertuples(index=False):
                fp = getattr(row, "cfp0")
                if last is None or fp != last:
                    out.append(dict(key=key[0],
                                    payload=getattr(row, payload_col),
                                    ts=getattr(row, time_col)))
                    last = fp
        if last is not None:
            state.update((int(last),))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(out, columns=[f.name for f in out_schema])

    timeout = (GroupStateTimeout.ProcessingTimeTimeout if ttl_ms is not None
               else GroupStateTimeout.NoTimeout)
    prepared = df.withColumn(
        "cfp0", content_fingerprint(F.col(payload_col), excluded_fields))
    return prepared.groupBy(key_col).applyInPandasWithState(
        fn, outputStructType=out_schema, stateStructType=_MERGER_STATE,
        outputMode="append", timeoutConf=timeout)
