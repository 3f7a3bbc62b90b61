"""Distributed k-means over embedding columns (corpus clustering for
curation: semantic bucketing, cluster-balanced sampling, IVF cells).

FULL-corpus Lloyd's iterations in fixed-point arithmetic, not a
bounded driver sample:

- vectors quantize to integer units (``round(x * QUANT)`` — exact,
  order-independent);
- assignment distances are pure int64 algebra, so argmin is exact and
  reproducible regardless of partitioning, Arrow batching, or engine;
- the centroid update is one ``groupBy(cluster, dimension)`` over the
  exploded vectors, a map-side-combined integer SUM + a COUNT; the new
  centroid component is ``ROUND(CAST(sum AS DOUBLE) / count)`` — a
  single IEEE division (both operands exactly representable) followed
  by half-away rounding, which Spark (HALF_UP) and DuckDB (std::round)
  agree on. A rounding flip would need the true rational sum/count
  within one double ulp of a .5 boundary, impossible for count <= ~1e9
  at these magnitudes since non-half rationals sit >= 1/(2*count) away.

100 TB shape per round: one narrow corpus scan + matmul per Arrow batch
(no shuffle), one k*dim-row aggregation (partial aggregation does the
heavy lifting), and k*dim integers to the driver — never a vector of
corpus data. Rounds are a fixed small constant; total cost = rounds *
scan.

The same computation unrolls into pure SQL (see
queries/embeddings.py::_KMEANS_ORACLE) — the correctness gate covers
every iteration end-to-end, not just a final sanity count.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KMEANS_QUANT = 10000  # fixed-point units per 1.0 of embedding space


def quantize_vectors(emb: DataFrame, *, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     quant: int = KMEANS_QUANT) -> DataFrame:
    """(id, v: array<long>) — per-component ``round(x*quant)``."""
    return emb.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col).cast("array<double>"),
                    lambda x: F.round(x * quant).cast("long")).alias("v"))


def _make_assign(bc):
    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Cm = bc.value
        c2 = (Cm * Cm).sum(axis=1)
        for pdf in batches:
            X = np.stack(pdf["v"].to_numpy()).astype(np.int64)
            d2 = (X * X).sum(axis=1)[:, None] - 2 * (X @ Cm.T) + c2[None, :]
            yield pd.DataFrame({
                "_id": pdf["_id"], "v": pdf["v"],
                # argmin returns the FIRST minimum: lowest cluster id
                "cluster": d2.argmin(axis=1).astype(np.int64)})
    return assign


def kmeans_centroids(emb: DataFrame, *, k: int = 8, rounds: int = 3,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     quant: int = KMEANS_QUANT) -> np.ndarray:
    """Train the fixed-point quantizer: init = the ``k`` lowest-id
    vectors, then ``rounds - 1`` Lloyd update iterations. Returns the
    integer centroid matrix the FINAL assignment pass uses — i.e.
    ``kmeans_assignments(emb, k, rounds)`` assigns against exactly this
    matrix. Exposed so index builds (IVF cells) can reuse the trained
    centroids without re-deriving them from assignments."""
    spark = emb.sparkSession
    e = quantize_vectors(emb, id_col=id_col, vec_col=vec_col, quant=quant)
    init_rows = e.orderBy("_id").limit(k).select("v").collect()
    C = np.array([r.v for r in init_rows], dtype=np.int64)
    for _ in range(rounds - 1):
        bc = spark.sparkContext.broadcast(C)
        assigned = e.mapInPandas(_make_assign(bc),
                                 "_id long, v array<long>, cluster long")
        # centroid update: integer sums are exact in any order; the
        # division + HALF_UP round replays identically in the oracle.
        # One (cluster, dimension) aggregate keeps the plan the same
        # size at any dim (a per-dimension column list costs the
        # driver ~1 s of plan building per round at dim 64).
        upd = (assigned.select("cluster", F.posexplode("v").alias("j", "x"))
               .groupBy("cluster", "j")
               .agg(F.round(F.sum("x") / F.count(F.lit(1)))
                    .cast("long").alias("c"))
               .collect())
        newC = C.copy()
        for row in upd:
            newC[row["cluster"], row["j"]] = row["c"]
        C = newC
    return C


def kmeans_assignments(emb: DataFrame, *, k: int = 8, rounds: int = 3,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       quant: int = KMEANS_QUANT) -> DataFrame:
    """Cluster the corpus with ``rounds`` fixed-point Lloyd iterations.

    Deterministic by construction: init = the ``k`` lowest-id vectors,
    distance ties break to the lowest cluster id, empty clusters keep
    their previous centroid. Returns (id_col, cluster: long).
    """
    spark = emb.sparkSession
    C = kmeans_centroids(emb, k=k, rounds=rounds, id_col=id_col,
                         vec_col=vec_col, quant=quant)
    e = quantize_vectors(emb, id_col=id_col, vec_col=vec_col, quant=quant)
    bc = spark.sparkContext.broadcast(C)
    assigned = e.mapInPandas(_make_assign(bc),
                             "_id long, v array<long>, cluster long")
    return assigned.select(F.col("_id").alias(id_col), "cluster")


def gram_matrix(emb: DataFrame, *, id_col: str = "vec_id",
                vec_col: str = "embedding",
                quant: int = KMEANS_QUANT) -> DataFrame:
    """Exact integer Gram matrix G = XᵀX over the quantized corpus —
    the distributed building block for PCA / whitening / covariance
    shrinkage: G is d×d (tiny), the corpus is huge, and because the
    entries are INTEGER sums they are exact in any accumulation order
    (no float reduction nondeterminism), so the iterative-looking
    "second moment of 100 TB of vectors" is one oracle-checkable pass.

    Returns (i, j, g) for the upper triangle i <= j (G is symmetric).

    Scale shape: each Arrow batch contributes a d×d int64 partial via
    one matmul; partials collapse in a single d²-row aggregation —
    map-side combine does essentially all the work, the exchange
    carries n_partitions × d² small rows, and nothing scales with the
    corpus. Int64 headroom: |x| ≤ quant·‖x‖∞, so entries stay exact up
    to ~2⁶³/(quant²·‖x‖∞²) rows — 10⁹ rows at these magnitudes; widen
    to DECIMAL(38,0) partials beyond."""
    e = quantize_vectors(emb, id_col=id_col, vec_col=vec_col, quant=quant)

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = None
        for pdf in batches:
            X = np.stack(pdf["v"].to_numpy()).astype(np.int64)
            g = X.T @ X
            acc = g if acc is None else acc + g
        if acc is None:
            return
        d = acc.shape[0]
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame({"i": iu.astype(np.int64),
                            "j": ju.astype(np.int64),
                            "g": acc[iu, ju]})

    parts = e.mapInPandas(partial, "i long, j long, g long")
    return parts.groupBy("i", "j").agg(F.sum("g").alias("g"))
