"""Structured Streaming layer.

The reference is a streaming framework end-to-end; our batch operators
share their column algebra with these streaming forms:

- sources: file/rate/kafka readStream adapters (sources.py)
- dedup/suppression within watermark (dedup.py)
- stateful materializer via applyInPandasWithState (materialize.py)
- per-key silence detection via ProcessingTimeTimeout (flow_disruption.py)
- foreachBatch sinks: idempotent upsert, compacted/tombstone output,
  one query's per-batch-id output and DLQ fan-out (sinks.py)
"""

from streamforge_spark.streaming.dedup import streaming_dedup, streaming_merger
from streamforge_spark.streaming.materialize import streaming_materializer
from streamforge_spark.streaming.flow_disruption import flow_disruption_detector
from streamforge_spark.streaming.sources import file_stream, rate_stream, kafka_stream
from streamforge_spark.streaming.sinks import (
    foreach_batch_upsert, kafka_compacted_output,
)

__all__ = [
    "streaming_dedup", "streaming_merger", "streaming_materializer",
    "flow_disruption_detector", "file_stream", "rate_stream", "kafka_stream",
    "foreach_batch_upsert", "kafka_compacted_output",
]
