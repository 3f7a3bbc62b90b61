"""Server-side-parsed expression builders (r12, guide §5).

A ``F.array(*[F.lit(x) for x in xs])`` over a 64-dim vector costs one
py4j round-trip per element — the heavy literal pipelines (LSH
hyperplanes, IVF centroids, SQ8 query vectors, 32-permutation MinHash
signatures) were spending more driver wall constructing Column trees
than the cluster spent executing them.  Building the SAME expression
as a SQL string and parsing it server-side with ``F.expr`` is one
round-trip total and yields an identical expression tree (Literal
nodes of the same type and value), so plans and results are
bit-identical to the Column-API form.

Float literals are rendered with ``repr`` (shortest round-trip form —
Java's ``Double.parseDouble`` reconstructs the exact same IEEE bits)
and tagged ``D`` so the parser types them DOUBLE, matching
``F.lit(float(x))``.  Non-finite values have no SQL literal form and
fall back to the Column API.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

from pyspark.sql import Column, functions as F


def double_sql(x: float) -> str:
    """SQL DOUBLE literal with the exact bits of ``float(x)``."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"no SQL literal for {x!r}")
    return f"{x!r}D"


def lit_double_array(xs: Iterable[float]) -> Column:
    """``F.array(*[F.lit(float(x)) for x in xs])`` in one parse."""
    vals = [float(x) for x in xs]
    if not all(math.isfinite(v) for v in vals):
        return F.array(*[F.lit(v) for v in vals])
    return F.expr("array(" + ", ".join(f"{v!r}D" for v in vals) + ")")


def lit_int_array(xs: Iterable[int]) -> Column:
    """``F.array(*[F.lit(int(x)) for x in xs])`` in one parse.

    Bare integer literals type as INT when they fit and BIGINT
    otherwise — exactly the py4j coercion ``F.lit(int)`` applies — so
    the element type matches the Column-API form either way."""
    return F.expr(
        "array(" + ", ".join(str(int(x)) for x in xs) + ")")

