"""Skew mitigation for hot keys at scale.

AQE (enabled by session.py) splits skewed join partitions at runtime;
for aggregations over pathologically hot keys, two-phase salted
aggregation bounds any single task's share of a key: partial-aggregate
on (key, salt), then final-aggregate on the key. Works for any
algebraic aggregate (sum/count/min/max — avg via sum+count).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: (merge phase1 -> phase2) for algebraic aggregates
_MERGE = {
    "sum": F.sum,
    "count": F.sum,     # counts combine by summing partials
    "min": F.min,
    "max": F.max,
}
_PARTIAL = {
    "sum": F.sum,
    "count": lambda c: F.count(c),
    "min": F.min,
    "max": F.max,
}


def salt_column(buckets: int, *cols: str) -> Column:
    """Deterministic salt in [0, buckets): hash of the full row key
    set, so identical rows land on the same salt (stable re-runs)."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(buckets))


def salted_aggregate(df: DataFrame, key_cols: Sequence[str],
                     aggs: dict[str, tuple[str, str]],
                     salt_buckets: int = 16,
                     salt_from: Sequence[str] | None = None) -> DataFrame:
    """Two-phase aggregation: groupBy(key, salt) -> groupBy(key).

    aggs: {output_alias: (column, fn)} with fn in {sum,count,min,max}.
    Identical results to a direct groupBy for these aggregates (they
    are associative), with the hot key's phase-1 load spread over
    ``salt_buckets`` tasks.
    """
    for _, (c, fn) in aggs.items():
        if fn not in _PARTIAL:
            raise ValueError(f"non-algebraic aggregate {fn!r}; use sum/count/min/max")
    salt_src = list(salt_from or df.columns)
    salted = df.withColumn("_salt", salt_column(salt_buckets, *salt_src))
    partial = salted.groupBy(*key_cols, "_salt").agg(*[
        _PARTIAL[fn](c).alias(f"_p_{alias}") for alias, (c, fn) in aggs.items()
    ])
    return partial.groupBy(*key_cols).agg(*[
        _MERGE[fn](f"_p_{alias}").alias(alias) for alias, (c, fn) in aggs.items()
    ])
