"""Exact order statistics from a value-frequency rollup.

The two-phase trick behind `exact_percentiles_by_type`: when values
are bounded integers (cents), the fact table collapses to a
(key, value, count) frequency rollup whose cardinality is the value
DOMAIN, not the row count — and exact percentile_disc selection is
then window algebra on the rollup.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def percentiles_from_frequencies(freq: DataFrame,
                                 key_cols: Sequence[str],
                                 value_col: str = "c",
                                 count_col: str = "k",
                                 percents: Sequence[int] = (50, 90, 99),
                                 ) -> DataFrame:
    """percentile_disc(p) per key from a (key, value, count) rollup:
    the smallest value whose cumulative count reaches ceil(p/100 * n).
    Pure integer arithmetic (cum*100 >= n*p), no float ranks."""
    keys = list(key_cols)
    wcum = (Window.partitionBy(*keys).orderBy(value_col)
            .rowsBetween(Window.unboundedPreceding, 0))
    wall = Window.partitionBy(*keys)
    r = freq.select(*keys, value_col,
                    F.sum(count_col).over(wcum).alias("cum"),
                    F.sum(count_col).over(wall).alias("n"))
    aggs = [F.min(F.when(F.col("cum") * 100 >= F.col("n") * p,
                         F.col(value_col))).alias(f"p{p}_cents")
            for p in percents]
    return r.groupBy(*keys).agg(*aggs)
