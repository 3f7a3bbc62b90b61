"""streamforge_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capability surface of
thjung123/streamforge (a Flink-based streaming-pattern framework, see
/root/reference) as an idiomatic Spark engine:

- operators are functions ``DataFrame -> DataFrame`` (or
  ``-> (pass_df, dlq_df)`` for validating operators — the dual-output
  DLQ protocol, cf. reference ``core/dlq/DLQPublisher.java``),
- pipelines are plain composition; each streaming job is one query
  (``jobs.py::_one_query``),
- batch and Structured Streaming share the same column algebra,
- everything stays in Catalyst-optimizable DataFrame expressions; no
  row-at-a-time Python in the hot path.
"""

from streamforge_spark.session import get_spark, tune

__all__ = ["get_spark", "tune"]
__version__ = "0.1.0"
