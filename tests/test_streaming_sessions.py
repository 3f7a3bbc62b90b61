"""Streaming sessionization (SURVEY §2.8 SessionAnalyzer) and
zero-copy multi-sink fan-out (§2.5 ParallelSplitter side outputs):
session windows close as the watermark passes, and one foreachBatch
writes every route from a single union of the routes."""

from __future__ import annotations

import shutil
import tempfile
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from streamforge_spark.operators.routing import parallel_splitter
from streamforge_spark.operators.sessions import session_analyzer
from streamforge_spark.streaming.sinks import split_sinks, union_sinks
from streamforge_spark.streaming.sources import file_stream

SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("user", T.StringType()),
    T.StructField("t", T.TimestampType()),
    T.StructField("op", T.StringType()),
])


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="sf_sess_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


ROWS = [
    # user a: two sessions (gap > 30 min between event 2 and 3)
    (1, "a", ts("2024-01-01 10:00:00"), "click"),
    (2, "a", ts("2024-01-01 10:10:00"), "click"),
    (3, "a", ts("2024-01-01 11:00:00"), "purchase"),
    # user b: one session
    (4, "b", ts("2024-01-01 10:05:00"), "signup"),
    (5, "b", ts("2024-01-01 10:20:00"), "click"),
]


def test_streaming_session_windows_match_batch(spark, workdir):
    src = f"{workdir}/in"
    _write(spark, src, ROWS)
    stream = file_stream(spark, src, SCHEMA)
    sess = session_analyzer(stream, "user", "t", gap="30 minutes",
                            watermark="10 seconds")
    q = (sess.writeStream.format("memory").queryName("sess_out")
         .outputMode("append").start())
    q.processAllAvailable()
    # advance the watermark far past every session so all of them close
    _write(spark, src, [(99, "zz", ts("2024-01-02 00:00:00"), "noop")])
    q.processAllAvailable()
    q.stop()

    got = {(r.user, r.session_start, r.session_end, r.event_count)
           for r in spark.sql(
               "select * from sess_out where user <> 'zz'").collect()}
    batch = spark.createDataFrame(ROWS, SCHEMA)
    want = {(r.user, r.session_start, r.session_end, r.event_count)
            for r in session_analyzer(batch, "user", "t", gap="30 minutes").collect()}
    assert got == want
    assert len(want) == 3  # a x2, b x1 — gap-merge actually split user a


def test_streaming_split_sinks_zero_copy_fanout(spark, workdir):
    src = f"{workdir}/in"
    _write(spark, src, ROWS)
    stream = union_sinks(parallel_splitter(file_stream(spark, src, SCHEMA), [
        ("purchases", F.col("op") == "purchase"),
        ("signups", F.col("op") == "signup"),
    ]))
    out = {name: f"{workdir}/{name}" for name in ("purchases", "signups", "main")}

    def write_to(path):
        return lambda df, _id: df.write.mode("append").parquet(path)

    q = (stream.writeStream
         .foreachBatch(split_sinks(
             {name: write_to(path) for name, path in out.items()}))
         .option("checkpointLocation", f"{workdir}/ckpt")
         .start())
    q.processAllAvailable()
    q.stop()

    purchases = spark.read.parquet(out["purchases"]).collect()
    signups = spark.read.parquet(out["signups"]).collect()
    main = spark.read.parquet(out["main"]).collect()
    assert [r.event_id for r in purchases] == [3]
    assert [r.event_id for r in signups] == [4]
    # exclusive routing: everything else lands on main, nothing is lost
    assert sorted(r.event_id for r in main) == [1, 2, 5]
    assert len(purchases) + len(signups) + len(main) == len(ROWS)


def test_streaming_sliding_window_matches_batch(spark, workdir):
    # sliding windows (1h width, 30m slide) close as the watermark
    # passes; streaming append output must equal the batch assignment
    src = f"{workdir}/in_slide"
    _write(spark, src, ROWS)
    stream = file_stream(spark, src, SCHEMA)
    agg = (stream.withWatermark("t", "10 seconds")
           .groupBy(F.window("t", "1 hour", "30 minutes").alias("w"))
           .agg(F.count(F.lit(1)).alias("n"))
           .select(F.col("w.start").alias("ws"), "n"))
    q = (agg.writeStream.format("memory").queryName("slide_out")
         .outputMode("append").start())
    q.processAllAvailable()
    _write(spark, src, [(99, "zz", ts("2024-01-02 00:00:00"), "noop")])
    q.processAllAvailable()
    q.stop()

    got = {(r.ws, r.n) for r in spark.sql(
        "select * from slide_out where ws < timestamp'2024-01-01 23:00:00'").collect()}
    batch = spark.createDataFrame(ROWS, SCHEMA)
    want = {(r.ws, r.n) for r in
            (batch.groupBy(F.window("t", "1 hour", "30 minutes").alias("w"))
             .agg(F.count(F.lit(1)).alias("n"))
             .select(F.col("w.start").alias("ws"), "n")).collect()}
    assert got == want
    # every event lands in exactly width/slide = 2 windows
    assert sum(n for _, n in want) == 2 * len(ROWS)
