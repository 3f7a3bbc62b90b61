"""CDC token-expiry degrade path (streaming/recovery.py).

Simulates the Spark analog of a trimmed Mongo oplog
(MongoChangeStreamSource.java:260-266): the checkpoint demands a
replay of a batch whose source file has been deleted by retention.
Without recovery the restart crash-loops forever; with it the
pipeline archives the checkpoint, reports the gap, and resumes from
now without re-ingesting history.
"""

import glob
import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from tests.test_jobs import trim_commits

SCHEMA = T.StructType([T.StructField("id", T.LongType())])


def _write_src(path, ids):
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), path)


def _pipeline(spark, src, out_dir, ckpt):
    """One CDC-ish pipeline: file stream -> foreachBatch append sink.
    foreachBatch (not the file sink) so a post-recovery fresh
    checkpoint cannot collide with a sink-side _spark_metadata log."""
    from streamforge_spark.streaming.recovery import from_now_filter

    def start(resumed_at):
        stream = (spark.readStream.format("parquet").schema(SCHEMA)
                  .option("maxFilesPerTrigger", "1").load(src))
        stream = from_now_filter(stream, resumed_at)

        def sink(batch, _bid):
            batch.select("id").write.mode("append").parquet(out_dir)

        return (stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt).start())

    return start


def _out_ids(spark, out_dir):
    if not glob.glob(f"{out_dir}/*.parquet"):
        return set()
    return {r.id for r in spark.read.parquet(out_dir).collect()}


def test_token_expiry_restart_from_now_with_gap_report(spark, tmp_path):
    from streamforge_spark.streaming.recovery import start_with_token_recovery

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    gaps = str(tmp_path / "gaps")
    os.makedirs(src)
    os.makedirs(gaps)
    start_fn = _pipeline(spark, src, out, ckpt)

    # batch 0: normal start, f0 flows
    _write_src(f"{src}/f0.parquet", [1, 2, 3])
    q, resumed = start_with_token_recovery(
        spark, start_fn, checkpoint=ckpt, gap_report_path=gaps)
    assert resumed is None
    q.stop()
    assert _out_ids(spark, out) == {1, 2, 3}

    # batch 1: normal RESUME from checkpoint, f1 flows
    _write_src(f"{src}/f1.parquet", [4, 5, 6])
    q, resumed = start_with_token_recovery(
        spark, start_fn, checkpoint=ckpt, gap_report_path=gaps)
    assert resumed is None
    q.stop()
    assert _out_ids(spark, out) == {1, 2, 3, 4, 5, 6}

    # retention trims the oplog: batch 1's commit record and source
    # file vanish.  Measured Spark 4.1 behavior: a plain restart does
    # NOT fail — the lost file replays as an EMPTY batch with only a
    # WARN (even with ignoreMissingFiles=false), committing over the
    # hole silently.  Demonstrate that first; it is why the preflight
    # audit exists.
    trim_commits(ckpt, 1)
    os.remove(f"{src}/f1.parquet")
    q = start_fn(None)
    q.processAllAvailable()
    q.stop()
    assert _out_ids(spark, out) == {1, 2, 3, 4, 5, 6}   # silent: no error,
    # no replacement data, batch 1 re-committed empty over the hole

    # the degrade path: preflight catches the pending->missing file,
    # archives the checkpoint, reports the gap, restarts from now —
    # f0 (history, already in the sink) must NOT re-ingest
    trim_commits(ckpt, 1)   # the silent replay above re-committed batch 1
    q, resumed = start_with_token_recovery(
        spark, start_fn, checkpoint=ckpt, gap_report_path=gaps)
    assert resumed is not None
    assert _out_ids(spark, out) == {1, 2, 3, 4, 5, 6}   # no replay of f0

    # the gap report row landed on the DLQ channel
    reports = [json.loads(open(p).read())
               for p in glob.glob(f"{gaps}/gap-*.json")]
    assert len(reports) == 1 and reports[0]["kind"] == "cdc_token_expired"
    assert reports[0]["policy"] == "restart-from-now"
    assert "archived_to" in reports[0] and reports[0]["resumed_at"]
    # the expired checkpoint is archived for forensics, not destroyed
    assert glob.glob(f"{ckpt}.expired-*")

    # new data arriving after recovery flows normally
    time.sleep(1.2)   # file mtime granularity vs resumed_at
    _write_src(f"{src}/f2.parquet", [7, 8, 9])
    q.processAllAvailable()
    q.stop()
    assert _out_ids(spark, out) == {1, 2, 3, 4, 5, 6, 7, 8, 9}


def test_non_source_loss_errors_propagate(spark, tmp_path):
    # a sink bug must NOT be eaten by the degrade path: no checkpoint
    # archive, no gap row, exception propagates
    from streamforge_spark.streaming.recovery import start_with_token_recovery

    src = str(tmp_path / "src2")
    ckpt = str(tmp_path / "ckpt2")
    gaps = str(tmp_path / "gaps2")
    os.makedirs(src)
    os.makedirs(gaps)
    _write_src(f"{src}/f0.parquet", [1])

    def start(resumed_at):
        stream = (spark.readStream.format("parquet").schema(SCHEMA)
                  .load(src))

        def sink(batch, _bid):
            raise RuntimeError("sink exploded")

        return (stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt).start())

    with pytest.raises(Exception, match="sink exploded"):
        start_with_token_recovery(spark, start,
                                  checkpoint=ckpt, gap_report_path=gaps)
    assert not glob.glob(f"{gaps}/gap-*.json")
    assert not glob.glob(f"{ckpt}.expired-*")


def test_kafka_style_loud_loss_triggers_recovery(spark, tmp_path):
    # the Kafka spelling of token expiry surfaces as an exception
    # (trimmed segments -> "Offsets out of range"); the degrade path
    # must classify it as source loss and restart from now
    from streamforge_spark.streaming.recovery import start_with_token_recovery

    src = str(tmp_path / "src3")
    ckpt = str(tmp_path / "ckpt3")
    gaps = str(tmp_path / "gaps3")
    os.makedirs(src)
    os.makedirs(gaps)
    os.makedirs(ckpt)   # exists so archive has something to move
    _write_src(f"{src}/f0.parquet", [1, 2])
    calls = []

    def start(resumed_at):
        calls.append(resumed_at)
        if resumed_at is None:
            raise RuntimeError(
                "Offsets out of range with no configured reset policy")
        stream = (spark.readStream.format("parquet").schema(SCHEMA)
                  .load(src))
        return (stream.writeStream.format("memory")
                .queryName("kloss_out")
                .option("checkpointLocation", ckpt).start())

    q, resumed = start_with_token_recovery(
        spark, start, checkpoint=ckpt, gap_report_path=gaps)
    q.stop()
    assert calls[0] is None and resumed is not None
    reports = [json.loads(open(p).read())
               for p in glob.glob(f"{gaps}/gap-*.json")]
    assert len(reports) == 1
    assert "Offsets out of range" in reports[0]["error"]


def test_preflight_ignores_committed_batch_file_loss(spark, tmp_path):
    # files from COMMITTED batches may legitimately age out of the
    # source (sink already has the data) — preflight must not flag them
    from streamforge_spark.streaming.recovery import preflight_source_audit

    src = str(tmp_path / "src4")
    out = str(tmp_path / "out4")
    ckpt = str(tmp_path / "ckpt4")
    os.makedirs(src)
    _write_src(f"{src}/f0.parquet", [1, 2, 3])
    start_fn = _pipeline(spark, src, out, ckpt)
    q = start_fn(None)
    q.processAllAvailable()
    q.stop()
    # batch 0 is committed; deleting its source file is retention, not loss
    os.remove(f"{src}/f0.parquet")
    assert preflight_source_audit(spark, ckpt) == []


def test_preflight_reads_compact_source_logs(spark, tmp_path):
    # with a small compaction interval the pending batch's source log
    # is 'N.compact' holding the CUMULATIVE entry list; preflight must
    # (a) not skip the file, (b) gate only entries whose own batchId
    # is pending — a deleted COMMITTED file in the same compact log is
    # retention, not loss
    from streamforge_spark.streaming.recovery import preflight_source_audit

    src = str(tmp_path / "src5")
    out = str(tmp_path / "out5")
    ckpt = str(tmp_path / "ckpt5")
    os.makedirs(src)
    spark.conf.set("spark.sql.streaming.fileSource.log.compactInterval", "2")
    try:
        start_fn = _pipeline(spark, src, out, ckpt)
        for i in range(4):
            _write_src(f"{src}/f{i}.parquet", [i])
            q = start_fn(None)
            q.processAllAvailable()
            q.stop()
    finally:
        spark.conf.unset("spark.sql.streaming.fileSource.log.compactInterval")
    assert os.path.exists(f"{ckpt}/sources/0/3.compact")
    # make batch 3 pending again and trim its file AND an old committed one
    trim_commits(ckpt, 3)
    os.remove(f"{src}/f3.parquet")
    os.remove(f"{src}/f0.parquet")   # committed history — must NOT flag
    missing = preflight_source_audit(spark, ckpt)
    assert len(missing) == 1 and missing[0].endswith("f3.parquet")
