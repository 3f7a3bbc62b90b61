"""FlowDisruptionDetector streaming test — driven with a real query but
stopped explicitly (ProcessingTimeTimeout schedules continuous cleanup
batches, so processAllAvailable alone would never idle)."""

from __future__ import annotations

import shutil
import tempfile
import time
from datetime import datetime

from streamforge_spark.streaming.flow_disruption import flow_disruption_detector
from streamforge_spark.streaming.sources import file_stream
from tests.test_streaming import EVENTS_SCHEMA


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_flow_disruption_active_then_disrupted(spark):
    d = tempfile.mkdtemp(prefix="sf_flow_")
    try:
        src = f"{d}/in"
        spark.createDataFrame(
            [(1, "k1", ts("2024-01-01 10:00:00"), "insert", "a"),
             (2, "k2", ts("2024-01-01 10:00:01"), "insert", "b")],
            EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(src)
        stream = file_stream(spark, src, EVENTS_SCHEMA)
        status = flow_disruption_detector(stream, "key", timeout_ms=2000)
        q = (status.writeStream.format("memory").queryName("flow_out")
             .outputMode("update").start())
        try:
            deadline = time.time() + 60
            seen_active = seen_disrupted = False
            while time.time() < deadline and not (seen_active and seen_disrupted):
                time.sleep(2)
                rows = spark.sql("select * from flow_out").collect()
                statuses = {(r.key, r.status) for r in rows}
                seen_active = any(s == "active" for _, s in statuses)
                seen_disrupted = any(s == "disrupted" for _, s in statuses)
            assert seen_active, "keys should report active on first data"
            # silence alarm: no further files -> timeout fires per key
            assert seen_disrupted, "silence should trigger disrupted status"
        finally:
            q.stop()
    finally:
        shutil.rmtree(d, ignore_errors=True)

