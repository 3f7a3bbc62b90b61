"""Progress counters: batch ``Observation``s and the streaming
listener (metrics.py, operators/observability.py)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_metrics_collector_streaming_and_batch(spark, tmp_path):
    import time
    from streamforge_spark.metrics import MetricsCollector, batch_observation
    from streamforge_spark.operators.observability import online_observer
    from streamforge_spark.streaming.sources import file_stream
    from pyspark.sql import types as T
    # batch: Observation counters
    df = spark.range(10).withColumn("flag", F.col("id") % 2 == 0)
    df, obs = batch_observation(df, [("evens", F.col("flag"))])
    df.write.format("noop").mode("overwrite").save()
    assert obs.get == {"events_total": 10, "evens": 5}
    # streaming: listener accumulates observe() metrics per micro-batch
    src = tmp_path / "metrics_in"
    src.mkdir()
    (src / "b0.txt").write_text("a\nb\n\n")
    collector = MetricsCollector()
    spark.streams.addListener(collector)
    try:
        stream = file_stream(spark, str(src),
                             T.StructType([T.StructField("value", T.StringType())]),
                             fmt="text")
        observed = online_observer(
            stream, [("nonempty", F.length("value") > 0)], observe_name="ingest")
        q = (observed.writeStream.format("memory").queryName("metrics_out")
             .outputMode("append").start())
        q.processAllAvailable()
        q.stop()
        for _ in range(50):           # listener delivery is async
            if collector.get("ingest", "events_total") >= 3:
                break
            time.sleep(0.2)
        # 3 lines in the file (one blank); the named check counts 2
        assert collector.get("ingest", "events_total") == 3
        assert collector.get("ingest", "nonempty") == 2
        text = collector.prometheus_text()
        assert "streamforge_ingest_events_total 3" in text
    finally:
        spark.streams.removeListener(collector)
