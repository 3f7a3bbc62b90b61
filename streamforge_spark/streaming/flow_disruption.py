"""Per-key stream-silence detection.

Reference: FlowDisruptionDetector.java:28-89 — each element re-arms a
processing-time timer; if no element arrives within the timeout the
key is flagged disrupted, and the next element logs recovery.

Spark mapping: applyInPandasWithState with ProcessingTimeTimeout —
the state timeout IS the silence alarm (SURVEY §7.5#5: streaming-only,
no batch oracle; the auditable batch view is
operators.observability.flow_silence_report).

Emits status rows: (key, status, event_count) where status is
'active' | 'recovered' | 'disrupted'.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATUS_SCHEMA = T.StructType([
    T.StructField("key", T.StringType()),
    T.StructField("status", T.StringType()),
    T.StructField("event_count", T.LongType()),
])

_STATE_SCHEMA = T.StructType([
    T.StructField("disrupted", T.BooleanType()),
    T.StructField("count", T.LongType()),
])


def flow_disruption_detector(df: DataFrame, key_col: str,
                             timeout_ms: int = 5 * 60 * 1000) -> DataFrame:
    """Flag keys whose stream goes silent for longer than the timeout;
    emit recovery when data resumes (FlowDisruptionDetector.java:61-89).
    """

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in STATUS_SCHEMA]
        if state.hasTimedOut:
            _, count = state.get if state.exists else (False, 0)
            state.update((True, count))
            # no new data: the alarm itself (timer fire, :81-84)
            yield pd.DataFrame([dict(key=key[0], status="disrupted",
                                     event_count=count)], columns=cols)
            return
        was_disrupted, count = state.get if state.exists else (False, 0)
        n = sum(len(p) for p in pdfs)
        count += n
        state.update((False, count))
        state.setTimeoutDuration(timeout_ms)
        status = "recovered" if was_disrupted else "active"
        yield pd.DataFrame([dict(key=key[0], status=status, event_count=count)],
                           columns=cols)

    return (
        df.groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=STATUS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )

