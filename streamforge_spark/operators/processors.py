"""Record processors (business transforms).

Reference: ``job/cdc/processor/MongoToKafkaProcessor.java:71-81`` /
``KafkaToMongoProcessor.java:70-83`` — stamp processedTime=now, assign
a trace id when missing, DLQ on processing errors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def stamp_processor(df: DataFrame, trace_col: str = "trace_id",
                    processed_col: str = "processed_time",
                    deterministic_from: Column | None = None) -> DataFrame:
    """Backfill missing trace ids and stamp processing time.

    The reference assigns ``trace-<UUID>`` (MongoToKafkaProcessor.java:
    75-78); for oracle-checkable batch runs pass ``deterministic_from``
    (any stable Column) and the backfill becomes
    ``trace-md5(<that>)`` instead of a random UUID.
    """
    if deterministic_from is not None:
        new_trace = F.concat(F.lit("trace-"), F.md5(deterministic_from.cast("string")))
        processed = F.col(processed_col) if processed_col in df.columns else F.current_timestamp()
    else:
        new_trace = F.concat(F.lit("trace-"), F.expr("uuid()"))
        processed = F.current_timestamp()
    return (
        df.withColumn(trace_col, F.coalesce(F.col(trace_col), new_trace))
        .withColumn(processed_col, processed)
    )
