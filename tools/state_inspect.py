#!/usr/bin/env python
"""Inspect Structured Streaming state stores offline (ops/debug tool).

Spark 4's State Data Source reads a stopped (or live) query's keyed
state straight out of its CHECKPOINT — no code changes to the job, no
replay. This is the answer to the production questions the reference's
metrics registry can't see inside: "what keys are currently held by
the dedup operator?", "how big is the merger's state really?", "when
does key X expire?".

Usage:
    python tools/state_inspect.py <checkpointLocation> [--limit N]

Prints the operator/state metadata (state-metadata source), then a
sample of the keyed state rows (statestore source) with per-partition
row counts — the skew view that tells you which state partition is
hot. Works on any checkpoint written by this repo's streaming jobs
(dedup, merger, materializer, sessions, joins).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession, functions as F


def inspect(spark: SparkSession, checkpoint: str, limit: int = 20) -> dict:
    """Return {'operators': [...], 'n_state_rows': int} and print a
    human-readable report. Separated from main() for tests."""
    meta = (spark.read.format("state-metadata")
            .option("path", checkpoint).load())
    ops = [r.asDict() for r in meta.collect()]
    print("== operators ==")
    meta.show(truncate=False)

    state = (spark.read.format("statestore")
             .option("path", checkpoint).load())
    n = state.count()
    print(f"== state rows: {n} ==")
    state.show(limit, truncate=False)
    print("== rows per state partition (skew view) ==")
    (state.groupBy("partition_id").agg(F.count(F.lit(1)).alias("rows"))
     .orderBy("partition_id").show())
    return {"operators": ops, "n_state_rows": n}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("checkpoint")
    ap.add_argument("--limit", type=int, default=20)
    args = ap.parse_args()
    spark = (SparkSession.builder.master("local[4]")
             .appName("state-inspect").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    inspect(spark, args.checkpoint, args.limit)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
