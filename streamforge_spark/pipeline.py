"""The dual-output DLQ protocol.

Validating operators return ``(pass_df, dlq_df)`` pairs, and every DLQ
branch has the one DlqEvent shape that ``dlq_event`` projects. A job
composes its operators as plain function calls and writes the DLQ
branches as outputs of its one streaming query
(``jobs.py::_one_query``), so validity columns are computed inline and
the split happens once per stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dlq_event(df: DataFrame, error_type: str, error_message, source: str,
              raw_event=None) -> DataFrame:
    """Project any DataFrame to the DlqEvent shape
    (``core/model/DlqEvent.java:21-27``)."""
    msg = error_message if not isinstance(error_message, str) else F.lit(error_message)
    raw = raw_event if raw_event is not None else F.to_json(F.struct(*df.columns))
    return df.select(
        F.lit(error_type).alias("error_type"),
        msg.cast("string").alias("error_message"),
        F.lit(source).alias("source"),
        F.current_timestamp().alias("timestamp"),
        raw.cast("string").alias("raw_event"),
        F.lit(None).cast("string").alias("stacktrace"),
    )
