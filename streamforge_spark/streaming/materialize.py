"""Streaming latest-per-key materializer with changelog emission.

Reference: Materializer.java:53-164 (keyed ValueState + TTL, INSERT/
UPDATE/DELETE changelog, custom merge function). Spark mapping:
``applyInPandasWithState`` — keyed GroupState holding the latest value
per key, emitting ChangelogEvent rows per micro-batch, with a state
timeout as the TTL.

This is the one reference operator that genuinely needs user state in
streaming (SURVEY §7.4); everything state-related stays in the
sanctioned API — Arrow-batched, partitioned by key, no driver state.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

CHANGELOG_SCHEMA = T.StructType([
    T.StructField("change_type", T.StringType()),
    T.StructField("key", T.StringType()),
    T.StructField("before", T.StringType()),
    T.StructField("after", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])

_STATE_SCHEMA = T.StructType([T.StructField("latest", T.StringType())])


def streaming_materializer(df: DataFrame, key_col: str, value_col: str,
                           time_col: str,
                           delete_op_col: str | None = None,
                           delete_op_value: str = "delete",
                           ttl_ms: int | None = None,
                           merge_fn: Callable[[str, str], str] | None = None,
                           output_mode: str = "append") -> DataFrame:
    """Latest-value-per-key with changelog output.

    delete predicate = (delete_op_col == delete_op_value); merge_fn
    (old, new) -> merged defaults to replace (Materializer.java:57).

    ttl_ms (the reference's 24h state TTL) is opt-in: with a
    ProcessingTimeTimeout the engine schedules continuous state-cleanup
    micro-batches even when no data arrives (so processAllAvailable
    never idles); leave None unless unbounded key cardinality requires
    eviction.
    """

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(columns=[f.name for f in CHANGELOG_SCHEMA])
            return
        (latest,) = state.get if state.exists else (None,)
        out: list[dict] = []
        for pdf in pdfs:
            pdf = pdf.sort_values(by=[time_col])
            for row in pdf.itertuples(index=False):
                value = getattr(row, value_col)
                ts = getattr(row, time_col)
                is_delete = (delete_op_col is not None
                             and getattr(row, delete_op_col) == delete_op_value)
                if is_delete:
                    if latest is not None:
                        out.append(dict(change_type="DELETE", key=key[0],
                                        before=latest, after=None, ts=ts))
                        latest = None
                elif latest is None:
                    latest = value
                    out.append(dict(change_type="INSERT", key=key[0],
                                    before=None, after=value, ts=ts))
                else:
                    merged = merge_fn(latest, value) if merge_fn else value
                    out.append(dict(change_type="UPDATE", key=key[0],
                                    before=latest, after=merged, ts=ts))
                    latest = merged
        if latest is None:
            if state.exists:
                state.remove()
        else:
            state.update((latest,))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(out, columns=[f.name for f in CHANGELOG_SCHEMA])

    timeout = (GroupStateTimeout.ProcessingTimeTimeout if ttl_ms is not None
               else GroupStateTimeout.NoTimeout)
    return (
        df.groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=CHANGELOG_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode=output_mode,
            timeoutConf=timeout,
        )
    )
