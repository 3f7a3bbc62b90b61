"""Streaming source adapters.

Reference sources (SURVEY §2.1): Kafka reader with offset management
(KafkaSourceBuilder.java:24-49), bounded Mongo snapshot, and a
resume-token CDC source (MongoChangeStreamSource.java). In Spark:
``readStream`` over Kafka/files; offset recovery IS the checkpoint
directory — the resume-token machinery collapses into
``checkpointLocation``. The hash-mod split parallelism of
MultiCdcSourceBuilder.java:21-42 is native partitioning here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def file_stream(spark: SparkSession, path: str, schema: T.StructType,
                fmt: str = "parquet", max_files_per_trigger: int | None = None) -> DataFrame:
    """File-based stream (each new file = one micro-batch input)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def kafka_stream(spark: SparkSession, bootstrap: str, topic: str,
                 starting_offsets: str = "latest",
                 exactly_once: bool = False) -> DataFrame:
    """Kafka reader mirroring KafkaSourceBuilder.java:24-49: committed
    offsets live in the Spark checkpoint; read_committed isolation
    under exactly-once upstream producers (KafkaSourceBuilder.java:
    44-49). Returns the raw (key, value, ...) frame; parse with
    envelope.parse_stream_envelop."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if exactly_once:
        reader = reader.option("kafka.isolation.level", "read_committed")
    return reader.load()
