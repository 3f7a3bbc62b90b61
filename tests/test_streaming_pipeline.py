"""End-to-end streaming pipeline tests.

1. The flagship CDC chain (filter -> dedup -> sessionize) running as a
   real watermarked stream over chronological micro-batches must emit
   exactly the batch result (a far-future sentinel event pushes the
   watermark past all real sessions — mirroring how the reference's
   session tests close windows).
2. Checkpoint recovery: stop the query, feed more data while it is
   down, restart from the same checkpoint — the sink must contain each
   record exactly once (the Spark analog of the reference's
   resume-token replay test, ResumeTokenRecoveryTest.java:24-56).
"""

from __future__ import annotations

import shutil
import tempfile
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from streamforge_spark.operators.dedup import deduplicator
from streamforge_spark.operators.sessions import session_analyzer
from streamforge_spark.streaming.dedup import streaming_dedup
from streamforge_spark.streaming.sources import file_stream
from tests.test_streaming import EVENTS_SCHEMA


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="sf_pipe_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


CHUNKS = [
    [  # chunk 1: session 1 for k1 (with a dup), k2 single
        (1, "k1", ts("2024-01-01 10:00:00"), "insert", "a"),
        (2, "k1", ts("2024-01-01 10:00:00"), "insert", "dup"),    # dup (key, t)
        (3, "k1", ts("2024-01-01 10:10:00"), "update", "b"),
        (4, "k2", ts("2024-01-01 10:05:00"), "insert", "c"),
        (5, "k1", ts("2024-01-01 10:12:00"), "unknown", "x"),     # filtered
    ],
    [  # chunk 2: k1 session 2 (>30min later), k2 continues
        (6, "k1", ts("2024-01-01 11:00:00"), "update", "d"),
        (7, "k2", ts("2024-01-01 10:20:00"), "update", "e"),
    ],
    [  # sentinel far in the future: pushes the watermark past everything
        (99, "zz", ts("2024-02-01 00:00:00"), "insert", "flush"),
    ],
]


def _batch_flagship(spark):
    rows = [r for c in CHUNKS for r in c]
    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    df = df.filter(F.col("op") != "unknown")
    df = deduplicator(df, ["key", "t"], ["event_id"])
    return session_analyzer(df, "key", "t", gap="30 minutes")


def test_streaming_flagship_matches_batch(spark, workdir):
    src = f"{workdir}/in"
    stream_rows = []

    def run_stream():
        stream = file_stream(spark, src, EVENTS_SCHEMA, max_files_per_trigger=1)
        # one watermark at ingest, shared by both stateful operators
        piped = (stream.withWatermark("t", "5 seconds")
                 .filter(F.col("op") != "unknown"))
        piped = streaming_dedup(piped, ["key", "t"], "t", assign_watermark=False)
        sessions = session_analyzer(piped, "key", "t", gap="30 minutes")
        q = (sessions.writeStream.format("memory").queryName("flagship_out")
             .outputMode("append").start())
        q.processAllAvailable()
        q.stop()

    for chunk in CHUNKS:
        spark.createDataFrame(chunk, EVENTS_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src)
    run_stream()
    stream_rows = spark.sql(
        "select * from flagship_out where key != 'zz'").collect()

    batch_rows = _batch_flagship(spark).filter(F.col("key") != "zz").collect()
    key = lambda r: (r.key, r.session_start, r.session_end, r.event_count)  # noqa: E731
    assert sorted(map(key, stream_rows)) == sorted(map(key, batch_rows))
    # sanity: the dup was dropped and sessions split at the gap
    counts = {(r.key, r.session_start): r.event_count for r in batch_rows}
    assert counts[("k1", ts("2024-01-01 10:00:00"))] == 2    # dup removed, 'unknown' removed
    assert ("k1", ts("2024-01-01 11:00:00")) in counts        # second session


def test_checkpoint_recovery_exactly_once(spark, workdir):
    src = f"{workdir}/in"
    out = f"{workdir}/out"
    ckpt = f"{workdir}/ckpt"

    def run_once():
        stream = file_stream(spark, src, EVENTS_SCHEMA)
        q = (stream.writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt).start())
        q.processAllAvailable()
        q.stop()

    # reader 1 processes chunk A and checkpoints
    spark.createDataFrame(CHUNKS[0], EVENTS_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    run_once()
    # stream is down; chunks B and C arrive (the reference writes B,C
    # while reader1 is stopped)
    spark.createDataFrame(CHUNKS[1], EVENTS_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    spark.createDataFrame(CHUNKS[2], EVENTS_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    # reader 2 resumes from the checkpoint: must replay exactly B,C
    run_once()

    got = sorted(r.event_id for r in spark.read.parquet(out).collect())
    want = sorted(r[0] for c in CHUNKS for r in c)
    assert got == want  # every record exactly once — no loss, no replay
