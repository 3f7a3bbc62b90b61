"""Vector-similarity queries over the embeddings table
(LLM-training-data-pipeline surface: ANN search, embedding near-dup).

Heavy pair scoring runs as Arrow-batched mapInPandas with numpy —
vectorized across pairs but with SEQUENTIAL accumulation over the
vector dimension, so every cosine is bit-identical to the sequential
fold (and to DuckDB's list_dot_product loop). The pure-Column fold
(``dot``/``cosine``) measured ~30us per call in the expression VM —
fine for scalars, 100x too slow for millions of pairs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from streamforge_spark.queries.common import prep
from streamforge_spark.functions.exprs import lit_double_array, lit_int_array
from streamforge_spark.registry import query


def seq_dot_matrix(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(n,d)x(m,d) -> (n,m) dots, accumulated dim-by-dim: per pair the
    op sequence is ((0+x0)+x1)+... — exactly the sequential fold."""
    acc = np.zeros((A.shape[0], B.shape[0]))
    for j in range(A.shape[1]):
        acc += np.outer(A[:, j], B[:, j])
    return acc


def seq_norms(A: np.ndarray) -> np.ndarray:
    acc = np.zeros(A.shape[0])
    for j in range(A.shape[1]):
        acc += A[:, j] * A[:, j]
    return np.sqrt(acc)


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential-fold dot product of two array<double> columns —
    deterministic summation order (matches DuckDB's list_dot_product
    loop bit-for-bit).

    With ``dim`` known, unrolls to a flat codegen sum (x0*y0 + x1*y1 +
    ...) — identical IEEE result to the fold (0.0+x0 == x0) but ~10x
    faster than the higher-order-function VM."""
    if dim is not None:
        # balanced-tree association would be faster still but changes
        # the IEEE result; keep strict left-to-right to match the
        # oracle. NOTE: beyond ~32 terms the generated code can exceed
        # JIT limits and fall back to interpretation — measured slower
        # than the HOF fold on 64-dim; only use for small dims.
        terms = [a[i] * b[i] for i in range(dim)]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


TOPK_K = 10
TOPK_NQ = 10  # query vectors: vec_id < 10

_TOPK_ORACLE = f"""
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < {TOPK_NQ}),
c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
s AS (SELECT qid, cid,
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
      FROM q, c WHERE qid <> cid)
SELECT qid AS query_id, cid AS neighbor_id, CAST(rn AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn FROM s
) WHERE rn <= {TOPK_K}
"""


@query("ann_cosine_topk", oracle=_TOPK_ORACLE)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k: the small query set rides into every
    task as a numpy matrix (broadcast-variable pattern); the corpus
    stays partitioned — each Arrow batch scores batch x queries in one
    vectorized pass, each PARTITION prunes to its local top-k under
    the final (cos desc, cid) order (provably lossless), and only
    n_part*k rows per query reach the global window rank.
    At 100 TB the corpus is never collected; the candidate-pruned
    scale path is ann_lsh_topk.
    """
    (emb,) = prep(spark, sf_dir, "embeddings")
    q_rows = sorted(emb.filter(F.col("vec_id") < TOPK_NQ)
                    .select("vec_id", "embedding").collect())
    Q = np.array([r.embedding for r in q_rows], dtype=np.float64)
    qids = np.array([r.vec_id for r in q_rows])
    qn = seq_norms(Q)
    bq = spark.sparkContext.broadcast((Q, qids, qn))

    schema = T.StructType([
        T.StructField("qid", T.LongType()),
        T.StructField("cid", T.LongType()),
        T.StructField("cos", T.DoubleType()),
    ])

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Qm, ids, qnorm = bq.value
        cos_parts, cid_parts = [], []
        for pdf in batches:
            C = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cids = pdf["vec_id"].to_numpy()
            dots = seq_dot_matrix(C, Qm)                 # (batch, nq)
            cos = dots / np.outer(seq_norms(C), qnorm)   # dot/(cn*qn)
            cos[cids[:, None] == ids[None, :]] = -np.inf  # mask self
            cos_parts.append(cos)
            cid_parts.append(cids)
        if not cos_parts:
            return
        # per-PARTITION top-k pruning under the final (cos desc, cid
        # asc) order: any row dropped here has k better rows in this
        # partition, so it can't reach the global top-k — the shuffle
        # then carries n_part*k rows per query, not the whole corpus
        cos_all = np.concatenate(cos_parts)              # (p_rows, nq)
        cid_all = np.concatenate(cid_parts)
        out = {"qid": [], "cid": [], "cos": []}
        for j, qid in enumerate(ids):
            order = np.lexsort((cid_all, -cos_all[:, j]))[:TOPK_K]
            keep = order[np.isfinite(cos_all[order, j])]
            out["qid"].append(np.full(len(keep), qid))
            out["cid"].append(cid_all[keep])
            out["cos"].append(cos_all[keep, j])
        yield pd.DataFrame({k: np.concatenate(v) for k, v in out.items()})

    # score directly on the scan partitions — repartitioning the corpus
    # first would be a full extra shuffle of every vector for zero
    # benefit (maxPartitionBytes already parallelizes the scan, and the
    # per-partition top-k prune is partitioning-agnostic)
    scored = emb.mapInPandas(score, schema)
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK_K)
        .select(F.col("qid").alias("query_id"), F.col("cid").alias("neighbor_id"),
                F.col("rn").cast("long").alias("rank"))
    )


KMEANS_K = 8
KMEANS_ROUNDS = 3


def _kmeans_oracle(k: int, rounds: int, quant: int,
                   src: str = "embeddings") -> str:
    """Unroll the fixed-point Lloyd iterations into pure SQL: the same
    quantization, integer distances, argmin tie-break, and
    divide-then-round centroid update as functions/clustering.py —
    every iteration is oracle-checked, not just the final shape.
    ``src`` substitutes the training relation (default byte-identical
    to the original full-corpus form) so split-restricted trainers —
    queries/llm.py::semantic_ingest_gate trains on the established
    corpus only — reuse the chain verbatim."""
    ctes = [
        f"""e AS (
  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> CAST(ROUND(x * {quant}) AS BIGINT)) AS v
  FROM {src})""",
        """ed AS (SELECT vec_id, generate_subscripts(v, 1) AS j, unnest(v) AS x FROM e)""",
        f"""init AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl
  FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT {k}))""",
        """cd0 AS (SELECT i.cl, ed.j, ed.x FROM init i JOIN ed ON ed.vec_id = i.vec_id)""",
    ]
    for r in range(rounds):
        ctes.append(f"""a{r} AS (
  SELECT vec_id, cl FROM (
    SELECT ed.vec_id AS vec_id, cd.cl AS cl,
           SUM((ed.x - cd.x) * (ed.x - cd.x)) AS d2
    FROM ed JOIN cd{r} cd ON ed.j = cd.j
    GROUP BY 1, 2) t
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) = 1)""")
        if r < rounds - 1:
            ctes.append(f"""cd{r + 1} AS (
  SELECT p.cl, p.j, COALESCE(s.x, p.x) AS x
  FROM cd{r} p LEFT JOIN (
    SELECT a.cl, ed.j,
           CAST(ROUND(CAST(SUM(ed.x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS x
    FROM a{r} a JOIN ed ON ed.vec_id = a.vec_id
    GROUP BY 1, 2) s ON s.cl = p.cl AND s.j = p.j)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT vec_id, cl AS cluster FROM a{rounds - 1}")


@query("embedding_kmeans",
       oracle=_kmeans_oracle(KMEANS_K, KMEANS_ROUNDS, 10000))
def embedding_kmeans(spark, sf_dir):
    """Full-corpus distributed k-means (fixed-point Lloyd's) — semantic
    clustering for curation: per-cluster sampling quotas, semantic
    shard layout, IVF cell maps. Per round: one corpus scan with an
    Arrow-batched integer matmul (no shuffle), one k-row aggregation,
    k*dim integers to the driver. The integer arithmetic makes an
    ITERATIVE algorithm bit-reproducible and oracle-checkable
    end-to-end (see functions/clustering.py docstring)."""
    from streamforge_spark.functions.clustering import kmeans_assignments
    (emb,) = prep(spark, sf_dir, "embeddings")
    return kmeans_assignments(emb, k=KMEANS_K, rounds=KMEANS_ROUNDS)


NEAR_DUP_COS = 0.4

_NEAR_DUP_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
      FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT id1, id2, cos FROM s WHERE cos >= {NEAR_DUP_COS}
"""


NEAR_DUP_BLOCKS = 8


@query("embedding_near_dup", oracle=_NEAR_DUP_ORACLE)
def embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact all-pairs baseline,
    block-pair distributed).

    O(n²) *compute* by construction — the honest exactness baseline the
    LSH variant is judged against — but the data movement is the
    classic block-nested formulation: vectors hash into NB blocks, the
    NB(NB+1)/2 unordered block pairs shuffle independently, and each
    executor scores one (block_i x block_j) tile with a vectorized
    matmul. No vector ever reaches the driver (round-1 collect()
    removed); per-task memory is O((n/NB)²) tile — at real scale pick
    NB ≈ n·d·8 / target_tile_bytes. At 100 TB prefer the candidate-
    pruned dedup_minhash_lsh / ann_lsh_topk paths.
    """
    (emb,) = prep(spark, sf_dir, "embeddings")
    nb = NEAR_DUP_BLOCKS
    e = emb.select("vec_id", "embedding").withColumn(
        "blk", F.pmod(F.col("vec_id"), F.lit(nb)).cast("int"))
    # Each vector belongs to nb+1 tiles: (blk, j>=blk) as the left side
    # and (i<blk, blk) as the right side. Generating that membership
    # with a single explode keeps the corpus scan to ONE pass (the
    # previous two-join + union shape scanned it twice) — at 100 TB the
    # replication happens in the shuffle write, never at the source.
    membership = F.concat(
        F.transform(F.sequence(F.col("blk"), F.lit(nb - 1)),
                    lambda j: F.struct(F.col("blk").alias("bi"), j.alias("bj"),
                                       F.lit(0).alias("side"))),
        # 0..blk-1 via slice(0..blk, 1, blk): empty (not [0,-1] — Spark
        # sequences descend!) when blk == 0
        F.transform(F.slice(F.sequence(F.lit(0), F.col("blk")), 1, F.col("blk")),
                    lambda i: F.struct(i.alias("bi"), F.col("blk").alias("bj"),
                                       F.lit(1).alias("side"))))
    tagged = (e.select("vec_id", "embedding",
                       F.explode(membership).alias("t"))
              .select(F.col("t.bi").alias("bi"), F.col("t.bj").alias("bj"),
                      "vec_id", "embedding", F.col("t.side").alias("side")))

    schema = T.StructType([
        T.StructField("id1", T.LongType()),
        T.StructField("id2", T.LongType()),
        T.StructField("cos", T.DoubleType()),
    ])

    empty = pd.DataFrame({"id1": np.array([], dtype=np.int64),
                          "id2": np.array([], dtype=np.int64),
                          "cos": np.array([], dtype=np.float64)})

    def score_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        if a.empty:
            return empty
        A = np.stack(a["embedding"].to_numpy()).astype(np.float64)
        aids = a["vec_id"].to_numpy()
        # cos per pair is the same dim-by-dim sequential fold as the
        # round-1 single-matrix form — bit-identical to the oracle
        if b.empty:  # diagonal tile: self-pairs within one block
            cos = seq_dot_matrix(A, A) / np.outer(seq_norms(A), seq_norms(A))
            ai, bi = np.nonzero((aids[:, None] < aids[None, :])
                                & (cos >= NEAR_DUP_COS))
            return pd.DataFrame({"id1": aids[ai], "id2": aids[bi],
                                 "cos": cos[ai, bi]})
        B = np.stack(b["embedding"].to_numpy()).astype(np.float64)
        bids = b["vec_id"].to_numpy()
        cos = seq_dot_matrix(A, B) / np.outer(seq_norms(A), seq_norms(B))
        ai, bi = np.nonzero(cos >= NEAR_DUP_COS)
        # blocks are disjoint off-diagonal; order each pair by id
        return pd.DataFrame({"id1": np.minimum(aids[ai], bids[bi]),
                             "id2": np.maximum(aids[ai], bids[bi]),
                             "cos": cos[ai, bi]})

    return tagged.groupBy("bi", "bj").applyInPandas(score_tile, schema)


_QUANT_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ed AS (SELECT vec_id, generate_subscripts(v, 1) AS j, unnest(v) AS x FROM e),
st AS (SELECT j, MIN(x) AS mn, MAX(x) AS mx FROM ed GROUP BY j)
SELECT ed.vec_id, CAST(ed.j AS BIGINT) AS j,
       CAST(ROUND(CASE WHEN st.mx = st.mn THEN 0.0
                       ELSE (ed.x - st.mn) / (st.mx - st.mn) * 254.0 - 127.0
                  END) AS INT) AS qx
FROM ed JOIN st USING (j)
"""


@query("embedding_quantize_int8", oracle=_QUANT_ORACLE)
def embedding_quantize_int8(spark, sf_dir):
    """int8 scalar quantization of the corpus embeddings
    (functions/similarity.py::int8_quantize), flattened to
    (vec_id, dim, code) so EVERY code is oracle-checked — the array
    shape itself is pinned by the dimension count. The production
    operator returns the packed array<int> column; this query is its
    verification projection."""
    from streamforge_spark.functions.similarity import int8_quantize
    (emb,) = prep(spark, sf_dir, "embeddings")
    q = int8_quantize(emb)
    return q.select(
        "vec_id", F.posexplode("qvec").alias("j0", "qx")
    ).select("vec_id", (F.col("j0") + 1).cast("long").alias("j"), "qx")


CBS_QUOTA = 32
CBS_SALT = "cbs-v1"


def _cluster_sample_oracle(k: int, rounds: int, quant: int, quota: int) -> str:
    """Compose the unrolled k-means oracle with per-cluster quota
    sampling: reuse its CTE chain and rank within each final cluster
    by the deterministic salted hash."""
    base = _kmeans_oracle(k, rounds, quant)
    head, _ = base.rsplit("\nSELECT", 1)   # keep the CTE chain
    return f"""{head},
ranked AS (
  SELECT vec_id, cl,
         ROW_NUMBER() OVER (
           PARTITION BY cl
           ORDER BY CAST(('0x' || substr(md5('{CBS_SALT}:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
                    vec_id) AS rn
  FROM a{rounds - 1})
SELECT vec_id, cl AS cluster FROM ranked WHERE rn <= {quota}
"""


@query("cluster_balanced_sample",
       oracle=_cluster_sample_oracle(KMEANS_K, KMEANS_ROUNDS, 10000, CBS_QUOTA))
def cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced corpus sampling: k-means the embeddings
    (fixed-point, oracle-checked per iteration), then keep a fixed
    per-cluster quota chosen by a deterministic salted-hash rank —
    the semantic-diversity sampler (SemDeDup/DBSCAN-quota style) that
    prevents a dominant mode from monopolizing the training mix.

    Scale shape: the sampler adds ONE window over cluster id on top of
    the k-means assignment scan (k bounded, so per-cluster rank state
    is tiny); the hash coin makes reruns stable under corpus growth
    within each cluster's hash order. Composition is the point: the
    SAME assignments feed IVF cells, semantic shards, and this
    sampler without recomputation."""
    from streamforge_spark.functions.clustering import kmeans_assignments
    from streamforge_spark.functions.simdedup import oracle_hash60
    (emb,) = prep(spark, sf_dir, "embeddings")
    assigned = kmeans_assignments(emb, k=KMEANS_K, rounds=KMEANS_ROUNDS)
    w = Window.partitionBy("cluster").orderBy(
        oracle_hash60(F.col("vec_id").cast("string"), salt=CBS_SALT), "vec_id")
    return (assigned.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= CBS_QUOTA)
            .select("vec_id", "cluster"))


_GRAM_ORACLE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding::DOUBLE[],
           x -> CAST(ROUND(x * 10000) AS BIGINT)) AS v
  FROM embeddings),
ed AS (SELECT vec_id, generate_subscripts(v, 1) AS j, unnest(v) AS x FROM e)
SELECT CAST(a.j - 1 AS BIGINT) AS i, CAST(b.j - 1 AS BIGINT) AS j,
       SUM(a.x * b.x) AS g
FROM ed a JOIN ed b ON a.vec_id = b.vec_id AND a.j <= b.j
GROUP BY 1, 2
"""


@query("embedding_gram_matrix", oracle=_GRAM_ORACLE)
def embedding_gram_matrix(spark, sf_dir):
    """Distributed second-moment (Gram) matrix of the embedding corpus
    in exact fixed-point integers — the one-pass sufficient statistic
    PCA / whitening / covariance estimation needs
    (functions/clustering.py::gram_matrix). Every entry is an exact
    integer sum, so the oracle match covers the full d×(d+1)/2 upper
    triangle bit-for-bit."""
    from streamforge_spark.functions.clustering import gram_matrix
    (emb,) = prep(spark, sf_dir, "embeddings")
    return gram_matrix(emb)


def _quality_by_cluster_oracle(k: int, rounds: int, quant: int) -> str:
    """Compose the unrolled-Lloyd CTE chain with the quality-score
    expression over the documents table joined on id."""
    base = _kmeans_oracle(k, rounds, quant)
    head, _ = base.rsplit("\nSELECT", 1)
    return f"""{head},
q AS (
  SELECT doc_id,
         CAST(ROUND((0.4 * least(1.0, CAST(n_chars AS DOUBLE) / 500.0)
           + 0.3 * (1.0 - CASE WHEN n_chars > 0
               THEN CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                    / CAST(n_chars AS DOUBLE) ELSE 0.0 END)
           + 0.3 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0)) * 1000) AS BIGINT)
           AS q_milli
  FROM documents)
SELECT a.cl AS cluster, CAST(COUNT(*) AS BIGINT) AS n,
       SUM(q.q_milli) AS sum_quality_milli,
       MIN(q.q_milli) AS min_quality_milli,
       MAX(q.q_milli) AS max_quality_milli
FROM a{rounds - 1} a JOIN q ON q.doc_id = a.vec_id
GROUP BY a.cl
"""


@query("quality_by_semantic_cluster",
       oracle=_quality_by_cluster_oracle(KMEANS_K, KMEANS_ROUNDS, 10000))
def quality_by_semantic_cluster(spark, sf_dir):
    """Cross-modal curation readout: text-quality statistics per
    SEMANTIC cluster — join the document table onto the embedding
    k-means cells (doc_id = vec_id) and roll quality up per cluster.
    This is the triage view a curation pipeline acts on: a cluster
    with low quality mass gets down-sampled (corpus_mix_sample), a
    high-quality cluster keeps its quota (cluster_balanced_sample).
    Quality rides as exact milli-units (the IEEE score sequence is
    identical in both engines, proven by the quality_score query, so
    its rounding is too); the cluster map replays through the unrolled
    Lloyd oracle — the whole cross-table composition is exact.

    Scale shape: the k-means assignment scan (no shuffle) + ONE hash
    join docs⨝assignments on id + a k-row rollup. Nothing new moves:
    both inputs are one pass each."""
    from streamforge_spark.functions.clustering import kmeans_assignments
    from streamforge_spark.functions.text import quality_score
    docs, emb = prep(spark, sf_dir, "documents", "embeddings")
    assigned = kmeans_assignments(emb, k=KMEANS_K, rounds=KMEANS_ROUNDS)
    q = docs.select(
        "doc_id",
        F.round(quality_score(F.col("text"), F.col("n_chars")) * 1000)
        .cast("long").alias("q_milli"))
    return (q.join(assigned, q["doc_id"] == assigned["vec_id"])
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("q_milli").alias("sum_quality_milli"),
                 F.min("q_milli").alias("min_quality_milli"),
                 F.max("q_milli").alias("max_quality_milli")))


RP_DIM = 8       # Johnson-Lindenstrauss target dimensionality
RP_SCALE = 1000  # fixed-point milli-units for the projected components


def _rp_planes():
    from streamforge_spark.functions.similarity import _hyperplanes
    return _hyperplanes(64, RP_DIM, 1, seed=7)[0]


def _rp_oracle() -> str:
    rows = []
    for j, plane in enumerate(_rp_planes()):
        arr = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
        rows.append(f"({j}, CAST(ROUND(list_dot_product(v, {arr}) * {RP_SCALE}) AS BIGINT))")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT vec_id, CAST(t.j AS INTEGER) AS j, t.y
FROM e, LATERAL (VALUES {', '.join(rows)}) t(j, y)
"""


@query("embedding_random_projection", oracle=_rp_oracle())
def embedding_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss random projection 64-d -> ``RP_DIM``-d:
    the cheap, training-free dimensionality reduction used before
    coarse clustering / visualization / pre-filtering in curation
    stacks. Components are fixed-point milli-units so the output is
    integer-exact; the fixed-seed hyperplanes inline into the oracle
    as float literals (same proven pattern as ann_lsh_topk).

    Plan (100 TB): a pure codegen projection on the scan — RP_DIM
    sequential-fold dot products per row, no shuffle, no Python, no
    trained state to ship."""
    from streamforge_spark.functions.similarity import _dot
    (emb,) = prep(spark, sf_dir, "embeddings")
    planes = _rp_planes()
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    comps = [
        F.round(_dot(F.col("v"), lit_double_array(plane))
                * RP_SCALE).cast("long")
        for plane in planes]
    return (e.select("vec_id", F.posexplode(F.array(*comps)).alias("j", "y"))
            .select("vec_id", F.col("j").cast("int").alias("j"), "y"))


PQ_M = 4        # subspaces
PQ_SUB = 16     # dims per subspace (4 x 16 = 64)
PQ_K = 4        # codebook entries per subspace
PQ_ROUNDS = 2   # Lloyd rounds per sub-quantizer


def _pq_chain(m: int, k: int, rounds: int, quant: int) -> list[str]:
    """CTE chain for one subspace's fixed-point Lloyd quantizer —
    the _kmeans_oracle recurrence with prefixed names over the
    1-based slice [m*PQ_SUB+1 : (m+1)*PQ_SUB] of the embedding."""
    a, b = m * PQ_SUB + 1, (m + 1) * PQ_SUB
    p = f"s{m}_"
    ctes = [
        f"""{p}e AS (
  SELECT vec_id, list_transform((embedding::DOUBLE[])[{a}:{b}],
                                x -> CAST(ROUND(x * {quant}) AS BIGINT)) AS v
  FROM embeddings)""",
        f"""{p}ed AS (SELECT vec_id, generate_subscripts(v, 1) AS j, unnest(v) AS x FROM {p}e)""",
        f"""{p}init AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl
  FROM (SELECT vec_id FROM {p}e ORDER BY vec_id LIMIT {k}))""",
        f"""{p}cd0 AS (SELECT i.cl, ed.j, ed.x FROM {p}init i JOIN {p}ed ed ON ed.vec_id = i.vec_id)""",
    ]
    for r in range(rounds):
        ctes.append(f"""{p}a{r} AS (
  SELECT vec_id, cl FROM (
    SELECT ed.vec_id AS vec_id, cd.cl AS cl,
           SUM((ed.x - cd.x) * (ed.x - cd.x)) AS d2
    FROM {p}ed ed JOIN {p}cd{r} cd ON ed.j = cd.j
    GROUP BY 1, 2) t
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) = 1)""")
        if r < rounds - 1:
            ctes.append(f"""{p}cd{r + 1} AS (
  SELECT pr.cl, pr.j, COALESCE(s.x, pr.x) AS x
  FROM {p}cd{r} pr LEFT JOIN (
    SELECT a.cl, ed.j,
           CAST(ROUND(CAST(SUM(ed.x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS x
    FROM {p}a{r} a JOIN {p}ed ed ON ed.vec_id = a.vec_id
    GROUP BY 1, 2) s ON s.cl = pr.cl AND s.j = pr.j)""")
    return ctes


def _pq_oracle(m_sub: int, k: int, rounds: int, quant: int) -> str:
    ctes: list[str] = []
    selects = []
    for m in range(m_sub):
        ctes.extend(_pq_chain(m, k, rounds, quant))
        selects.append(
            f"SELECT vec_id, {m} AS sub, cl AS code FROM s{m}_a{rounds - 1}")
    return ("WITH " + ",\n".join(ctes) + "\n"
            + "\nUNION ALL\n".join(selects))


@query("pq_codes", oracle=_pq_oracle(PQ_M, PQ_K, PQ_ROUNDS, 10000))
def pq_codes(spark, sf_dir):
    """Product quantization (Jegou et al. 2011): the embedding splits
    into ``PQ_M`` subspaces, each compressed to a ``PQ_K``-entry
    codebook id by its own fixed-point Lloyd quantizer — the 64-dim
    float vector becomes PQ_M small integers (the IVF-PQ memory story:
    codes live in RAM at ~1/100 the footprint; distances come from
    per-query lookup tables). Emits (vec_id, sub, code); every training
    iteration of every sub-quantizer is replayed in the oracle.

    Plan (100 TB): per subspace, training is the kmeans shape (scan +
    k-row aggregate per round, never a corpus collect); encoding is one
    broadcast-codebook Arrow matmul pass. Subspaces are independent —
    the M chains share the scan and parallelize; the final result is a
    union of narrow (id, int, int) outputs."""
    from streamforge_spark.functions.clustering import kmeans_assignments
    (emb,) = prep(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    outs = []
    for m in range(PQ_M):
        sub = e.select("vec_id", F.slice("v", m * PQ_SUB + 1, PQ_SUB).alias("sub"))
        assigned = kmeans_assignments(sub, k=PQ_K, rounds=PQ_ROUNDS,
                                      id_col="vec_id", vec_col="sub")
        outs.append(assigned.select(
            "vec_id", F.lit(m).cast("int").alias("sub"),
            F.col("cluster").alias("code")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


SQ8_NQ = 10      # query vectors (vec_id < SQ8_NQ)
SQ8_C = 30       # coarse candidates per query fed to the exact rerank
SQ8_K = 10       # final neighbors per query


_SQ8_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ed AS (SELECT vec_id, generate_subscripts(v, 1) AS j, unnest(v) AS x FROM e),
st AS (SELECT j, MIN(x) AS mn, MAX(x) AS mx FROM ed GROUP BY j),
q8 AS (SELECT ed.vec_id, ed.j,
              CAST(ROUND(CASE WHEN st.mx = st.mn THEN 0.0
                              ELSE (ed.x - st.mn) / (st.mx - st.mn) * 254.0 - 127.0
                         END) AS BIGINT) AS qx
       FROM ed JOIN st USING (j)),
qq AS (SELECT * FROM q8 WHERE vec_id < {SQ8_NQ}),
coarse AS (SELECT qq.vec_id AS qid, c.vec_id AS cid,
                  SUM(qq.qx * c.qx) AS s
           FROM q8 c JOIN qq ON qq.j = c.j AND c.vec_id <> qq.vec_id
           GROUP BY 1, 2),
cand AS (SELECT qid, cid FROM (
           SELECT *, row_number() OVER (PARTITION BY qid
                                        ORDER BY s DESC, cid) AS rn
           FROM coarse) WHERE rn <= {SQ8_C}),
scored AS (SELECT c.qid, c.cid,
                  CASE WHEN sqrt(list_dot_product(eq.v, eq.v))
                            * sqrt(list_dot_product(ec.v, ec.v)) <> 0.0
                       THEN list_dot_product(eq.v, ec.v)
                            / (sqrt(list_dot_product(eq.v, eq.v))
                               * sqrt(list_dot_product(ec.v, ec.v)))
                       ELSE 0.0 END AS cos
           FROM cand c
           JOIN e eq ON eq.vec_id = c.qid
           JOIN e ec ON ec.vec_id = c.cid)
SELECT qid AS query_id, cid AS neighbor_id, CAST(rn AS BIGINT) AS rank, cos
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos DESC, cid) AS rn
      FROM scored)
WHERE rn <= {SQ8_K}
"""


@query("ann_sq8_rerank", oracle=_SQ8_ORACLE)
def ann_sq8_rerank(spark, sf_dir):
    """SQ8 two-stage ANN (the production scalar-quantization pattern,
    cf. FAISS SQ8 / Milvus IVF_SQ8): coarse scoring runs on int8 codes
    — exact integer dot products at 1/4 the memory bandwidth of floats
    — takes the top ``SQ8_C`` per query, and only those re-rank
    against the full-precision vectors with exact cosine. Integer
    coarse scores make the candidate set deterministic, so the WHOLE
    two-stage pipeline is oracle-replayable (quantization included).

    Plan (100 TB): the code table is the int8_quantize shape (two
    scan passes, no vector shuffle); query codes are ``SQ8_NQ`` literal
    arrays in the plan, so coarse scoring is pure codegen per corpus
    row — no join, no Python. The per-query top-C is a rank window
    over corpus*NQ narrow rows with WindowGroupLimit pruning; only
    C*NQ candidate ids reach the full-precision rerank join."""
    from streamforge_spark.functions.similarity import cosine, int8_quantize
    (emb,) = prep(spark, sf_dir, "embeddings")
    q8 = int8_quantize(emb)
    qrows = sorted((r.vec_id, r.qvec) for r in
                   q8.filter(F.col("vec_id") < SQ8_NQ).collect())
    per_q = [
        F.struct(
            F.lit(qid).cast("long").alias("qid"),
            F.aggregate(
                F.zip_with(F.col("qvec"),
                           lit_int_array(qvec),
                           lambda a, b: a.cast("long") * b.cast("long")),
                F.lit(0).cast("long"), lambda acc, x: acc + x).alias("s"))
        for qid, qvec in qrows]
    coarse = (q8.select(F.col("vec_id").alias("cid"),
                        F.explode(F.array(*per_q)).alias("g"))
              .select("cid", "g.qid", "g.s")
              .filter(F.col("cid") != F.col("qid")))
    wc = Window.partitionBy("qid").orderBy(F.col("s").desc(), F.col("cid"))
    cand = (coarse.withColumn("rn", F.row_number().over(wc))
            .filter(F.col("rn") <= SQ8_C).select("qid", "cid"))
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    scored = (cand
              .join(e.select(F.col("vec_id").alias("qid"),
                             F.col("v").alias("qv")), "qid")
              .join(e.select(F.col("vec_id").alias("cid"),
                             F.col("v").alias("cv")), "cid")
              .select("qid", "cid", cosine(F.col("qv"), F.col("cv")).alias("cos")))
    wk = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (scored.withColumn("rank", F.row_number().over(wk))
            .filter(F.col("rank") <= SQ8_K)
            .select(F.col("qid").alias("query_id"),
                    F.col("cid").alias("neighbor_id"),
                    F.col("rank").cast("long").alias("rank"), "cos"))


KCENTER_K = 8
KCENTER_QUANT = 10000


def _kcenter_oracle(k: int, quant: int) -> str:
    """Unroll greedy k-center: every round's min-distance argmax
    replays in SQL (farthest-point tie -> lowest vec_id)."""
    ctes = [
        f"""e AS (
  SELECT vec_id, list_transform(embedding::DOUBLE[],
                                x -> CAST(ROUND(x * {quant}) AS BIGINT)) AS v
  FROM embeddings)""",
        """ed AS MATERIALIZED (SELECT vec_id, generate_subscripts(v, 1) AS j,
                 unnest(v) AS x FROM e)""",
        """c0 AS MATERIALIZED (SELECT 0 AS rnd, vec_id FROM e ORDER BY vec_id LIMIT 1)""",
        """s0 AS MATERIALIZED (SELECT vec_id FROM c0)""",
    ]
    for r in range(1, k):
        ctes.append(f"""pd{r} AS MATERIALIZED (
  SELECT pe.vec_id, s.vec_id AS cid,
         SUM((pe.x - ce.x) * (pe.x - ce.x)) AS d2
  FROM s{r - 1} s
  JOIN ed ce ON ce.vec_id = s.vec_id
  JOIN ed pe ON pe.j = ce.j
  GROUP BY pe.vec_id, s.vec_id)""")
        ctes.append(f"""d{r} AS MATERIALIZED (
  SELECT vec_id, MIN(d2) AS mind FROM pd{r}
  WHERE vec_id NOT IN (SELECT vec_id FROM s{r - 1})
  GROUP BY vec_id)""")
        ctes.append(f"""c{r} AS MATERIALIZED (
  SELECT {r} AS rnd, vec_id FROM d{r}
  ORDER BY mind DESC, vec_id LIMIT 1)""")
        ctes.append(f"""s{r} AS MATERIALIZED (
  SELECT vec_id FROM s{r - 1} UNION ALL SELECT vec_id FROM c{r})""")
    sel = " UNION ALL ".join(f"SELECT rnd, vec_id FROM c{r}" for r in range(k))
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT CAST(rnd AS BIGINT) AS rnd, vec_id FROM ({sel})")


@query("kcenter_coreset", oracle=_kcenter_oracle(KCENTER_K, KCENTER_QUANT))
def kcenter_coreset(spark, sf_dir):
    """Greedy k-center coreset selection (Gonzalez 1985; the
    farthest-point diversity sampler behind coverage-maximizing data
    selection): start from the lowest-id vector, then repeatedly pick
    the point FARTHEST from everything chosen so far — 8 rounds, each
    a single corpus scan. Fixed-point integer distances make every
    argmax exact (ties -> lowest id), so the whole greedy trajectory
    is oracle-replayed round by round.

    Plan (100 TB): per round, min-distance-to-chosen is pure codegen
    (the <= 8 chosen centers are plan literals — no join), and the
    argmax is a 1-row TakeOrdered; only k ids ever reach the driver.
    The classic 2-approximation coverage guarantee comes for free."""
    (emb,) = prep(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: F.round(x * KCENTER_QUANT).cast("long"))
        .alias("v"))
    first = e.orderBy("vec_id").limit(1).select("vec_id", "v").collect()[0]
    chosen = [(0, first.vec_id, list(first.v))]
    for r in range(1, KCENTER_K):
        dists = [
            F.aggregate(
                F.zip_with(F.col("v"),
                           lit_int_array(cv),
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"), lambda acc, x: acc + x)
            for _, _, cv in chosen]
        cand = (e.filter(~F.col("vec_id").isin([cid for _, cid, _ in chosen]))
                .select("vec_id", "v",
                        (F.least(*dists) if len(dists) > 1 else dists[0])
                        .alias("mind"))
                .orderBy(F.col("mind").desc(), F.col("vec_id"))
                .limit(1).collect()[0])
        chosen.append((r, cand.vec_id, list(cand.v)))
    rows = [(r, int(cid)) for r, cid, _ in chosen]
    return spark.createDataFrame(rows, "rnd long, vec_id long")


KNN_NQ = 50   # vec_id < KNN_NQ are "unlabeled" prediction targets
KNN_K = 10


_KNN_ORACLE = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {KNN_NQ}),
c AS (SELECT vec_id AS cid, label, v AS cv FROM e WHERE vec_id >= {KNN_NQ}),
scored AS (
  SELECT q.qid, c.cid, c.label,
         CASE WHEN sqrt(list_dot_product(q.qv, q.qv))
                   * sqrt(list_dot_product(c.cv, c.cv)) <> 0.0
              THEN list_dot_product(q.qv, c.cv)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(c.cv, c.cv)))
              ELSE 0.0 END AS cos
  FROM q CROSS JOIN c),
topk AS (SELECT qid, cid, label FROM (
           SELECT *, row_number() OVER (PARTITION BY qid
                                        ORDER BY cos DESC, cid) AS rn
           FROM scored) WHERE rn <= {KNN_K}),
votes AS (SELECT qid, label, CAST(count(*) AS BIGINT) AS n_votes
          FROM topk GROUP BY qid, label)
SELECT qid AS vec_id, label AS predicted_label, n_votes
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY n_votes DESC, label) AS rn
      FROM votes) WHERE rn = 1
"""


@query("knn_label_predict", oracle=_KNN_ORACLE)
def knn_label_predict(spark, sf_dir):
    """Semantic auto-labeling by k-nearest-neighbor majority vote:
    the "unlabeled" targets (vec_id < {nq}) take the modal label of
    their {k} nearest labeled neighbors (cosine; ties -> lowest
    neighbor id, then lexicographic label) — the label-transfer /
    weak-supervision primitive for curation taxonomies.

    Plan (100 TB): this brute-force form reuses the ann_cosine_topk
    scoring shape (targets broadcast as plan constants, corpus stays
    partitioned, per-partition top-k prune); the production path swaps
    the scorer for ann_lsh/ivf/sq8 candidates and keeps the same vote.
    The vote itself is a tiny (nq x labels) aggregate.""".format(
        nq=KNN_NQ, k=KNN_K)
    from streamforge_spark.functions.similarity import cosine
    (emb,) = prep(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label",
                   F.col("embedding").cast("array<double>").alias("v"))
    qrows = sorted((r.vec_id, list(r.v)) for r in
                   e.filter(F.col("vec_id") < KNN_NQ).collect())
    per_q = [
        F.struct(F.lit(qid).cast("long").alias("qid"),
                 cosine(F.col("v"),
                        lit_double_array(qv)).alias("cos"))
        for qid, qv in qrows]
    scored = (e.filter(F.col("vec_id") >= KNN_NQ)
              .select(F.col("vec_id").alias("cid"), "label",
                      F.explode(F.array(*per_q)).alias("g"))
              .select("cid", "label", "g.qid", "g.cos"))
    wk = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    topk = (scored.withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") <= KNN_K))
    votes = topk.groupBy("qid", "label").agg(
        F.count(F.lit(1)).alias("n_votes"))
    wv = Window.partitionBy("qid").orderBy(
        F.col("n_votes").desc(), F.col("label"))
    return (votes.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select(F.col("qid").alias("vec_id"),
                    F.col("label").alias("predicted_label"), "n_votes"))


# -- embedding-space drift: per-label centroid vs global centroid -------

_CENTROID_ORACLE = """
WITH r AS (
  SELECT label, i AS dim, CAST(ROUND(e[i] * 1000000) AS BIGINT) AS m
  FROM (SELECT label, embedding::DOUBLE[] AS e FROM embeddings) t,
       unnest(generate_series(1, len(e))) AS u(i)),
per AS (SELECT label, dim, SUM(m) AS s, CAST(COUNT(*) AS BIGINT) AS n
        FROM r GROUP BY 1, 2),
lc AS (SELECT label,
              list(CAST(s AS DOUBLE) / CAST(n * 1000000 AS DOUBLE)
                   ORDER BY dim) AS cv,
              MIN(n) AS n_vecs
       FROM per GROUP BY label),
g AS (SELECT dim, SUM(s) AS s, SUM(n) AS n FROM per GROUP BY dim),
gc AS (SELECT list(CAST(s AS DOUBLE) / CAST(n * 1000000 AS DOUBLE)
                   ORDER BY dim) AS gv FROM g)
SELECT label, n_vecs,
       list_dot_product(cv, gv)
         / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(gv, gv)))
         AS cos_to_global
FROM lc, gc
"""


@query("label_centroid_shift", oracle=_CENTROID_ORACLE)
def label_centroid_shift(spark, sf_dir):
    """Embedding-space drift monitor: per label (stand-in for a data
    source / model version / time slice), the cosine between that
    slice's centroid and the global corpus centroid — cos near 1 means
    the slice sits where the corpus sits; a drop flags representation
    drift (new domain, encoder change, pipeline bug). The
    embedding-space complement of source_token_drift.

    Exactness: per-dimension sums run in integer micro-units (exact at
    any parallelism); centroids divide once per dimension with the
    identical IEEE expression in both engines; cosines are the
    sequential-fold dot product that matches DuckDB's
    list_dot_product bit-for-bit.

    Scale shape: ONE map-side-combined (label, dim) rollup of the
    corpus — everything after is |labels| x dims centroids (KBs), so
    the cosine stage is a broadcast cross of a dimension-sized table.
    Adding a day/source axis to the rollup key makes it the
    incremental drift dashboard (centroid sums are mergeable state,
    like the HLL sketch columns)."""
    (emb,) = prep(spark, sf_dir, "embeddings")
    rows = (emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>"))
        .alias("dim0", "v"))
        .select("label", (F.col("dim0") + 1).alias("dim"),
                F.round(F.col("v") * 1000000).cast("long").alias("m")))
    per = (rows.groupBy("label", "dim")
           .agg(F.sum("m").alias("s"), F.count(F.lit(1)).alias("n")))
    c = F.col("s").cast("double") / (F.col("n") * 1000000).cast("double")
    lc = (per.select("label", "dim", c.alias("c"), "n")
          .groupBy("label")
          .agg(F.transform(F.sort_array(F.collect_list(F.struct("dim", "c"))),
                           lambda x: x["c"]).alias("cv"),
               F.min("n").alias("n_vecs")))
    gper = (per.groupBy("dim")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n")))
    gc = (gper.select("dim", c.alias("c"))
          .agg(F.transform(F.sort_array(F.collect_list(F.struct("dim", "c"))),
                           lambda x: x["c"]).alias("gv")))
    return (lc.crossJoin(F.broadcast(gc))
            .select("label", "n_vecs",
                    cosine(F.col("cv"), F.col("gv")).alias("cos_to_global")))


# -- dimension-truncation (matryoshka) retrieval quality ----------------

TRUNC_DIMS = 16

_TRUNC_ORACLE = f"""
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < {TOPK_NQ}),
c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
s AS (SELECT qid, cid,
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosf,
             list_dot_product(qv[1:{TRUNC_DIMS}], cv[1:{TRUNC_DIMS}])
               / (sqrt(list_dot_product(qv[1:{TRUNC_DIMS}], qv[1:{TRUNC_DIMS}]))
                  * sqrt(list_dot_product(cv[1:{TRUNC_DIMS}], cv[1:{TRUNC_DIMS}]))) AS cost
      FROM q, c WHERE qid <> cid),
rf AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cosf DESC, cid) AS rn FROM s),
rt AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cost DESC, cid) AS rn FROM s)
SELECT rf.qid AS query_id,
       CAST(COUNT(rt.cid) AS BIGINT) AS overlap_at_k,
       CAST({TOPK_K} AS BIGINT) AS k
FROM rf LEFT JOIN rt
  ON rf.qid = rt.qid AND rf.cid = rt.cid AND rt.rn <= {TOPK_K}
WHERE rf.rn <= {TOPK_K}
GROUP BY rf.qid
"""


@query("embedding_trunc_overlap", oracle=_TRUNC_ORACLE)
def embedding_trunc_overlap(spark, sf_dir):
    """Matryoshka-style truncation audit: per query, how many of the
    full-dimension cosine top-k survive when retrieval runs on only
    the first {TRUNC_DIMS} of 64 dimensions — the measurement behind
    "can we cut vector storage/compute 4x?".

    Both retrievals run in ONE corpus pass: the mapInPandas scorer
    computes full and truncated cosines per Arrow batch (same
    dim-sequential accumulation as `ann_cosine_topk`, so both are
    bit-identical to DuckDB's fold), prunes each variant to its
    per-partition top-k, and ships n_part*k*2 rows per query to the
    global rank — the corpus is never collected and never scanned
    twice.  Output is pure integers (overlap counts).
    """
    (emb,) = prep(spark, sf_dir, "embeddings")
    q_rows = sorted(emb.filter(F.col("vec_id") < TOPK_NQ)
                    .select("vec_id", "embedding").collect())
    Q = np.array([r.embedding for r in q_rows], dtype=np.float64)
    qids = np.array([r.vec_id for r in q_rows])
    bq = spark.sparkContext.broadcast((Q, qids))

    schema = T.StructType([
        T.StructField("variant", T.StringType()),
        T.StructField("qid", T.LongType()),
        T.StructField("cid", T.LongType()),
        T.StructField("cos", T.DoubleType()),
    ])

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Qm, ids = bq.value
        parts: dict[str, tuple[list, list]] = {
            "full": ([], []), "trunc": ([], [])}
        for pdf in batches:
            C = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cids = pdf["vec_id"].to_numpy()
            for v, d in (("full", None), ("trunc", TRUNC_DIMS)):
                Cv, Qv = (C, Qm) if d is None else (C[:, :d], Qm[:, :d])
                cos = (seq_dot_matrix(Cv, Qv)
                       / np.outer(seq_norms(Cv), seq_norms(Qv)))
                cos[cids[:, None] == ids[None, :]] = -np.inf
                parts[v][0].append(cos)
                parts[v][1].append(cids)
        for v, (cos_parts, cid_parts) in parts.items():
            if not cos_parts:
                continue
            cos_all = np.concatenate(cos_parts)
            cid_all = np.concatenate(cid_parts)
            out = {"qid": [], "cid": [], "cos": []}
            for j, qid in enumerate(ids):
                order = np.lexsort((cid_all, -cos_all[:, j]))[:TOPK_K]
                keep = order[np.isfinite(cos_all[order, j])]
                out["qid"].append(np.full(len(keep), qid))
                out["cid"].append(cid_all[keep])
                out["cos"].append(cos_all[keep, j])
            pdf_out = pd.DataFrame({k: np.concatenate(v2)
                                    for k, v2 in out.items()})
            pdf_out.insert(0, "variant", v)
            yield pdf_out

    scored = emb.mapInPandas(score, schema)
    w = Window.partitionBy("variant", "qid").orderBy(
        F.col("cos").desc(), F.col("cid"))
    ranked = (scored.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= TOPK_K)
              .select("variant", "qid", "cid"))
    full = ranked.where(F.col("variant") == "full").drop("variant")
    trunc = (ranked.where(F.col("variant") == "trunc").drop("variant")
             .withColumn("_hit", F.lit(1)))
    return (full.join(trunc, ["qid", "cid"], "left")
            .groupBy(F.col("qid").alias("query_id"))
            .agg(F.count("_hit").alias("overlap_at_k"),
                 F.lit(TOPK_K).cast("long").alias("k")))


_EMB_OUTLIER_ORACLE = """
WITH r AS (
  SELECT i AS dim, CAST(ROUND(e[i] * 1000000) AS BIGINT) AS m
  FROM (SELECT embedding::DOUBLE[] AS e FROM embeddings) t,
       unnest(generate_series(1, len(e))) AS u(i)),
g AS (SELECT dim, SUM(m) AS s, CAST(COUNT(*) AS BIGINT) AS n FROM r GROUP BY dim),
gc AS (SELECT list(CAST(s AS DOUBLE) / CAST(n * 1000000 AS DOUBLE)
                   ORDER BY dim) AS gv FROM g)
SELECT vec_id, label,
       list_dot_product(embedding::DOUBLE[], gv)
         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
            * sqrt(list_dot_product(gv, gv))) AS cos_to_centroid
FROM embeddings, gc
ORDER BY cos_to_centroid, vec_id
LIMIT 20
"""


@query("embedding_outliers", oracle=_EMB_OUTLIER_ORACLE)
def embedding_outliers(spark, sf_dir):
    """Embedding-space outlier detection: the 20 vectors LEAST aligned
    with the global corpus centroid — the per-vector complement of
    `label_centroid_shift`'s per-slice view, surfacing mis-embedded /
    corrupted / off-domain items for manual review.

    Same exactness stack: integer micro-unit centroid sums (ONE
    map-side-combined dim rollup), one IEEE division per centroid
    dimension, sequential-fold cosines.  The per-vector cosine is a
    broadcast of the KB-sized centroid onto the corpus scan; bottom-20
    rides TakeOrderedAndProject.  (At 10⁹ vectors the HOF fold swaps
    for the mapInPandas matmul used by `ann_cosine_topk` — same
    values, vectorized.)
    """
    (emb,) = prep(spark, sf_dir, "embeddings")
    rows = (emb.select(
        F.posexplode(F.col("embedding").cast("array<double>"))
        .alias("dim0", "v"))
        .select((F.col("dim0") + 1).alias("dim"),
                F.round(F.col("v") * 1000000).cast("long").alias("m")))
    g = rows.groupBy("dim").agg(F.sum("m").alias("s"),
                                F.count(F.lit(1)).alias("n"))
    c = F.col("s").cast("double") / (F.col("n") * 1000000).cast("double")
    gc = (g.select("dim", c.alias("c"))
          .agg(F.transform(F.sort_array(F.collect_list(F.struct("dim", "c"))),
                           lambda x: x["c"]).alias("gv")))
    return (emb.crossJoin(F.broadcast(gc))
            .select("vec_id", "label",
                    cosine(F.col("embedding").cast("array<double>"),
                           F.col("gv")).alias("cos_to_centroid"))
            .orderBy("cos_to_centroid", "vec_id")
            .limit(20))


_SEPARATION_ORACLE = """
WITH q AS (
  SELECT vec_id, label, i AS dim,
         CAST(ROUND(e[i] / sqrt(list_dot_product(e, e)) * 1000) AS BIGINT) AS v
  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings) t,
       unnest(generate_series(1, len(e))) AS u(i)),
norms AS (
  SELECT vec_id, label, SUM(v * v) AS nrm FROM q GROUP BY 1, 2),
per_dim AS (
  SELECT label, dim, SUM(v) AS s FROM q GROUP BY 1, 2),
per_label AS (
  SELECT p.label, SUM(p.s * p.s) AS s2,
         (SELECT SUM(nrm) FROM norms n WHERE n.label = p.label) AS ssq,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM norms n
          WHERE n.label = p.label) AS n
  FROM per_dim p GROUP BY p.label),
gdim AS (SELECT dim, SUM(s) AS s FROM per_dim GROUP BY dim),
gstat AS (
  SELECT (SELECT SUM(s * s) FROM gdim) AS gs2,
         (SELECT SUM(s2) FROM per_label) AS sum_ls2,
         (SELECT SUM(n) FROM per_label) AS bign,
         (SELECT SUM(n * n) FROM per_label) AS sum_n2)
SELECT CAST(label AS VARCHAR) AS label, n AS n_vecs,
       (s2 - ssq) // (n * (n - 1)) AS intra_mean_micro
FROM per_label WHERE n >= 2
UNION ALL
SELECT '__inter__', bign,
       (gs2 - sum_ls2) // (bign * bign - sum_n2)
FROM gstat
"""


@query("label_separation", oracle=_SEPARATION_ORACLE)
def label_separation(spark, sf_dir):
    """Embedding-quality separation report: mean pairwise cosine
    WITHIN each label vs the mean cosine BETWEEN labels — computed
    WITHOUT generating a single pair, via the sum-of-sums identity
    Σ_{i≠j} vᵢ·vⱼ = ‖Σv‖² − Σ‖v‖² on unit vectors (milli-quantized
    after IEEE normalization, so every sum is an exact BIGINT and the
    pair means are exact floor divisions in micro-units).

    A healthy labeling shows intra ≫ inter; collapse of the gap means
    the labels aren't separable in this embedding space (the
    aggregate view behind `knn_label_predict`'s per-item votes).

    Scale: ONE (label, dim) rollup of the corpus — identical shape to
    `label_centroid_shift` — then label-count-sized arithmetic.
    O(n·d) total work for O(n²) pair semantics.
    """
    (emb,) = prep(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    nrm = F.sqrt(F.aggregate(F.transform(e, lambda x: x * x),
                             F.lit(0.0), lambda a, x: a + x))
    q = (emb.select("vec_id", "label",
                    F.posexplode(F.transform(
                        e, lambda x: F.round(x / nrm * 1000).cast("long")))
                    .alias("dim0", "v")))
    norms = q.groupBy("vec_id", "label").agg(F.sum(F.col("v") * F.col("v"))
                                             .alias("nrm"))
    per_dim = q.groupBy("label", "dim0").agg(F.sum("v").alias("s")) \
        .localCheckpoint(eager=False)
    lab_n = norms.groupBy("label").agg(F.count(F.lit(1)).alias("n"),
                                       F.sum("nrm").alias("ssq"))
    per_label = (per_dim.groupBy("label")
                 .agg(F.sum(F.col("s") * F.col("s")).alias("s2"))
                 .join(lab_n, "label")
                 .localCheckpoint(eager=False))
    intra = (per_label.where(F.col("n") >= 2)
             .select(F.col("label").cast("string").alias("label"),
                     F.col("n").alias("n_vecs"),
                     F.expr("(s2 - ssq) div (n * (n - 1))")
                     .alias("intra_mean_micro")))
    gdim = per_dim.groupBy("dim0").agg(F.sum("s").alias("s"))
    gs2 = gdim.agg(F.sum(F.col("s") * F.col("s")).alias("gs2"))
    tots = per_label.agg(F.sum("s2").alias("sum_ls2"),
                         F.sum("n").alias("bign"),
                         F.sum(F.col("n") * F.col("n")).alias("sum_n2"))
    inter = (gs2.crossJoin(tots)
             .select(F.lit("__inter__").alias("label"),
                     F.col("bign").alias("n_vecs"),
                     F.expr("(gs2 - sum_ls2) div (bign * bign - sum_n2)")
                     .alias("intra_mean_micro")))
    return intra.unionByName(inter)


# --- retrieval ranking-quality eval (NDCG@k / MRR / P@k) --------------

NDCG_K = 10
NDCG_NQ = 24  # query vectors: vec_id < 24; candidates: the rest

#: fixed-point rank discounts: DISC[r-1] = round(1e6 / log2(r+1)).
#: Literal integer tables on BOTH engines make DCG an exact integer
#: sum — no float-summation-order hazard can touch the hash.
_NDCG_DISC = (1000000, 630930, 500000, 430677, 386853,
              356207, 333333, 315465, 301030, 289065)
#: _NDCG_IDEAL[m] = sum of the first m discounts (ideal DCG with m
#: relevant candidates available, m <= k)
_NDCG_IDEAL = (0, 1000000, 1630930, 2130930, 2561607, 2948460,
               3304667, 3638000, 3953465, 4254495, 4543560)

_NDCG_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, label AS qlabel, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {NDCG_NQ}
),
c AS (
  SELECT vec_id AS cid, label, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id >= {NDCG_NQ}
),
s AS (
  SELECT qid, qlabel, cid, label,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
  FROM q, c
),
k AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
    FROM s
  ) WHERE rn <= {NDCG_K}
),
perq AS (
  SELECT qid, qlabel,
         CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         CAST(SUM(CASE WHEN label = qlabel
                       THEN {list(_NDCG_DISC)}[rn] ELSE 0 END) AS BIGINT) AS dcg_ppm,
         CAST(MIN(CASE WHEN label = qlabel THEN rn END) AS BIGINT) AS first_rel_rank
  FROM k GROUP BY 1, 2
),
cnt AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_rel FROM c GROUP BY 1)
SELECT qid, qlabel,
       COALESCE(n_rel, 0) AS n_rel, hits, first_rel_rank,
       CASE WHEN first_rel_rank IS NOT NULL
            THEN 1000000 // first_rel_rank ELSE 0 END AS rr_ppm,
       hits * 100000 AS p_at_k_ppm,
       dcg_ppm,
       CAST({list(_NDCG_IDEAL)}[LEAST({NDCG_K}, COALESCE(n_rel, 0)) + 1] AS BIGINT) AS idcg_ppm,
       CASE WHEN {list(_NDCG_IDEAL)}[LEAST({NDCG_K}, COALESCE(n_rel, 0)) + 1] > 0
            THEN dcg_ppm * 1000000
                 // {list(_NDCG_IDEAL)}[LEAST({NDCG_K}, COALESCE(n_rel, 0)) + 1]
            ELSE 0 END AS ndcg_ppm
FROM perq LEFT JOIN cnt ON perq.qlabel = cnt.label
"""


@query("retrieval_ndcg_eval", oracle=_NDCG_ORACLE)
def retrieval_ndcg_eval(spark, sf_dir):
    """Ranking-quality eval of the retrieval stack against the label
    ground truth: per query, NDCG@{k}, MRR, and P@{k} — relevance =
    same label as the query, the standard label-based proxy when no
    graded judgments exist. All three metrics are EXACT integer ppm:
    rank discounts are a literal fixed-point table (round(1e6 /
    log2(r+1))) on both engines, ideal DCG a literal prefix-sum
    lookup, so no float summation order can touch the hash — the same
    discipline as ann_recall_eval's integer recall.

    Plan (100 TB): reuses the knn_label_predict scoring shape — the
    {nq} queries ride into the scan as plan constants (no query-side
    shuffle), the corpus stays partitioned, one window takes top-{k},
    and everything after is a {nq}-row aggregate joined to a
    |labels|-row broadcast rollup. The production path swaps the
    brute-force scorer for the IVF/LSH candidates and keeps the same
    metric algebra; recall of that swap is priced separately by
    ann_recall_eval / ivf_frozen_vs_retrained_recall.
    """
    from streamforge_spark.functions.similarity import cosine
    (emb,) = prep(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label",
                   F.col("embedding").cast("array<double>").alias("v"))
    qrows = sorted((r.vec_id, r.label, list(r.v)) for r in
                   e.filter(F.col("vec_id") < NDCG_NQ).collect())
    per_q = [
        F.struct(F.lit(qid).cast("long").alias("qid"),
                 F.lit(ql).cast("int").alias("qlabel"),
                 cosine(F.col("v"),
                        lit_double_array(qv)).alias("cos"))
        for qid, ql, qv in qrows]
    cand = e.filter(F.col("vec_id") >= NDCG_NQ)
    scored = (cand.select(F.col("vec_id").alias("cid"), F.col("label"),
                          F.explode(F.array(*per_q)).alias("g"))
              .select("cid", "label", "g.qid", "g.qlabel", "g.cos"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    topk = (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= NDCG_K))
    rel = (F.col("label") == F.col("qlabel")).cast("int")
    disc = F.element_at(F.array(*[F.lit(d) for d in _NDCG_DISC]), F.col("rn"))
    perq = topk.groupBy("qid", "qlabel").agg(
        F.sum(rel).alias("hits"),
        F.sum(rel * disc).alias("dcg_ppm"),
        F.min(F.when(rel == 1, F.col("rn"))).cast("long").alias("first_rel_rank"))
    cnt = cand.groupBy(F.col("label").alias("_cl")).agg(
        F.count(F.lit(1)).alias("n_rel"))
    j = perq.join(F.broadcast(cnt), perq.qlabel == F.col("_cl"), "left")
    m = F.least(F.lit(NDCG_K), F.coalesce(F.col("n_rel"), F.lit(0)).cast("int"))
    j = j.withColumn("idcg_ppm", F.element_at(
        F.array(*[F.lit(p) for p in _NDCG_IDEAL]), m + 1).cast("long"))
    return j.select(
        "qid", "qlabel",
        F.coalesce(F.col("n_rel"), F.lit(0).cast("long")).alias("n_rel"),
        "hits", "first_rel_rank",
        F.when(F.col("first_rel_rank").isNotNull(),
               F.expr("1000000 div first_rel_rank"))
        .otherwise(F.lit(0).cast("long")).alias("rr_ppm"),
        (F.col("hits") * 100000).alias("p_at_k_ppm"),
        "dcg_ppm",
        "idcg_ppm",
        F.when(F.col("idcg_ppm") > 0,
               F.expr("(dcg_ppm * 1000000) div idcg_ppm"))
        .otherwise(F.lit(0).cast("long")).alias("ndcg_ppm"))


# a bare docstring with a trailing .format() is an expression
# statement, not a docstring (__doc__ would be None) — render the
# {k}/{nq} placeholders after the def, like heavy_hitters_misra_gries
retrieval_ndcg_eval.__doc__ = \
    retrieval_ndcg_eval.__doc__.format(k=NDCG_K, nq=NDCG_NQ)


# -- Matryoshka-style dimension-truncation recall (r10) -----------------

MRL_DIMS = (8, 16, 32, 64)   # prefix lengths evaluated (64 = fixture full)
MRL_FULL = 64
MRL_NQ = 8
MRL_K = 10

_MRL_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < {MRL_NQ}),
c AS (SELECT vec_id AS cid, v FROM e WHERE vec_id >= {MRL_NQ}),
dims AS (SELECT unnest({list(MRL_DIMS)}) AS dim),
scored AS (
  SELECT d.dim, q.qid, c.cid,
         CASE WHEN sqrt(list_dot_product(q.v[1:d.dim], q.v[1:d.dim]))
                   * sqrt(list_dot_product(c.v[1:d.dim], c.v[1:d.dim]))
                   = 0
              THEN 0.0
              ELSE list_dot_product(q.v[1:d.dim], c.v[1:d.dim])
                   / (sqrt(list_dot_product(q.v[1:d.dim], q.v[1:d.dim]))
                      * sqrt(list_dot_product(c.v[1:d.dim],
                                              c.v[1:d.dim])))
         END AS cos
  FROM c CROSS JOIN q CROSS JOIN dims d),
sel AS (
  SELECT dim, qid, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY dim, qid
                                 ORDER BY cos DESC, cid) AS rn
    FROM scored) WHERE rn <= {MRL_K}),
truth AS (SELECT qid, cid FROM sel WHERE dim = {MRL_FULL}),
hits AS (SELECT s.dim, s.qid, CAST(COUNT(*) AS BIGINT) AS n_hit
         FROM sel s JOIN truth t ON s.qid = t.qid AND s.cid = t.cid
         GROUP BY 1, 2),
grid AS (SELECT d.dim, q.qid FROM dims d CROSS JOIN q),
perq AS (SELECT g.dim, g.qid, COALESCE(h.n_hit, 0) AS n_hit
         FROM grid g LEFT JOIN hits h
           ON h.dim = g.dim AND h.qid = g.qid)
SELECT CAST(dim AS INTEGER) AS dim,
       CAST((1000000 * dim) // {MRL_FULL} AS BIGINT) AS kept_ppm,
       CAST((1000000 * SUM(n_hit)) // ({MRL_K} * {MRL_NQ}) AS BIGINT)
         AS mean_recall_ppm,
       CAST(MIN((1000000 * n_hit) // {MRL_K}) AS BIGINT)
         AS min_recall_ppm
FROM perq GROUP BY dim
"""


@query("embedding_dim_truncation_recall", oracle=_MRL_ORACLE)
def embedding_dim_truncation_recall(spark, sf_dir):
    """The storage/recall frontier of PREFIX-truncated embeddings
    (Matryoshka representation learning, Kusupati et al. 2022): for
    each prefix length d in {dims}, retrieval recall@{k} of
    cosine-over-first-d-dims against the full-dimension truth, as
    exact integer ppm (mean and worst-case over {nq} probe queries),
    next to the storage share kept (d/{full} in ppm).

    Why it matters at 100 TB: embedding IO dominates vector-heavy
    pipelines, and a prefix that keeps 25% of the bytes at ~90%
    recall is the difference between a fleet-wide scan and a quarter
    of one — this query is the measurement that licenses (or forbids)
    that truncation, the same decision ann_recall_eval makes for the
    IVF probe path.

    Plan shape: the {nq} probe vectors ride into the scan as plan
    literals sliced per dim (no query-side shuffle); ONE corpus scan
    projects |dims| x |queries| cosine structs, ONE window exchange
    takes top-{k} per (dim, query), and everything after is rollups
    over a k x dims x queries relation joined broadcast to the
    full-dim truth.  Output is integers only — overlap counts and
    floor-divided ppm — so no float summation order can touch the
    hash.
    """
    from pyspark.sql import Window

    from streamforge_spark.functions.similarity import cosine

    (emb,) = prep(spark, sf_dir, "embeddings")
    e = emb.select("vec_id",
                   F.col("embedding").cast("array<double>").alias("v"))
    qrows = sorted((r.vec_id, list(r.v)) for r in
                   e.filter(F.col("vec_id") < MRL_NQ).collect())
    per = []
    for d in MRL_DIMS:
        for qid, qv in qrows:
            qlit = lit_double_array(qv[:d])
            per.append(F.struct(
                F.lit(d).cast("int").alias("dim"),
                F.lit(qid).cast("long").alias("qid"),
                cosine(F.slice("v", 1, d), qlit).alias("cos")))
    scored = (e.filter(F.col("vec_id") >= MRL_NQ)
              .select(F.col("vec_id").alias("cid"),
                      F.explode(F.array(*per)).alias("s"))
              .select("cid", "s.dim", "s.qid", "s.cos"))
    w = Window.partitionBy("dim", "qid").orderBy(F.col("cos").desc(),
                                                 F.col("cid"))
    sel = (scored.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") <= MRL_K)
           .select("dim", "qid", "cid")
           .localCheckpoint())   # 2 consumers: truth + per-dim overlap
    truth = sel.filter(F.col("dim") == MRL_FULL).select("qid", "cid")
    hits = (sel.join(F.broadcast(truth), ["qid", "cid"])
            .groupBy("dim", "qid").agg(F.count(F.lit(1)).alias("n_hit")))
    grid = (spark.createDataFrame(
        [(int(d), int(qid)) for d in MRL_DIMS for qid, _ in qrows],
        "dim int, qid long"))
    perq = (grid.join(hits, ["dim", "qid"], "left")
            .select("dim", "qid",
                    F.coalesce("n_hit", F.lit(0).cast("long"))
                    .alias("n_hit")))
    return (perq.groupBy("dim")
            .agg(F.expr(f"(1000000 * sum(n_hit)) div "
                        f"({MRL_K} * {MRL_NQ})")
                 .alias("mean_recall_ppm"),
                 F.min(F.expr(f"(1000000 * n_hit) div {MRL_K}"))
                 .alias("min_recall_ppm"))
            .select("dim",
                    F.expr(f"(1000000 * dim) div {MRL_FULL}")
                    .cast("long").alias("kept_ppm"),
                    "mean_recall_ppm", "min_recall_ppm"))


embedding_dim_truncation_recall.__doc__ = \
    embedding_dim_truncation_recall.__doc__.format(
        dims=MRL_DIMS, k=MRL_K, nq=MRL_NQ, full=MRL_FULL)


# -- attribute-filtered vector search ------------------------------------

FILT_K = 10
FILT_NQ = 10   # query vectors: vec_id < 10

_FILT_TOPK_ORACLE = f"""
WITH q AS (SELECT vec_id AS qid, label AS ql, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < {FILT_NQ}),
c AS (SELECT vec_id AS cid, label AS cl, embedding::DOUBLE[] AS cv
      FROM embeddings),
s AS (SELECT qid, cid,
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(cv, cv))) AS cos
      FROM q JOIN c ON c.cl = q.ql AND qid <> cid)
SELECT qid AS query_id, cid AS neighbor_id, CAST(rn AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos DESC, cid) AS rn
      FROM s)
WHERE rn <= {FILT_K}
"""


@query("ann_filtered_topk", oracle=_FILT_TOPK_ORACLE)
def ann_filtered_topk(spark, sf_dir):
    """Attribute-filtered vector search — the named hard problem of
    production vector stores: top-k cosine neighbors restricted to
    candidates sharing the query's metadata attribute (here ``label``;
    in production the language, domain, or tenant).  This is the
    PRE-filter strategy: the predicate reaches the parquet scan as an
    ``In(label, ...)`` pushed filter BEFORE any distance math, so at
    1% selectivity the distance work drops 100x — whereas
    POST-filtering an unfiltered index probe (the naive composition of
    ann_ivf_topk + a WHERE) silently returns fewer than k when the
    filter decimates the probed cells.  Exact by construction, so it
    is also the recall truth for any future filtered-index path.

    Same execution discipline as ann_cosine_topk (embeddings.py:86):
    queries broadcast as a numpy matrix, corpus stays partitioned,
    cosine masked to label-matching pairs, per-partition lossless
    top-k prune under the final (cos desc, cid) order, global window
    rank over n_part*k rows per query.  At 100 TB nothing but the
    pruned candidates ever shuffles."""
    (emb,) = prep(spark, sf_dir, "embeddings")
    q_rows = sorted(emb.filter(F.col("vec_id") < FILT_NQ)
                    .select("vec_id", "label", "embedding").collect())
    Q = np.array([r.embedding for r in q_rows], dtype=np.float64)
    qids = np.array([r.vec_id for r in q_rows])
    qlabels = np.array([r.label for r in q_rows])
    qn = seq_norms(Q)
    bq = spark.sparkContext.broadcast((Q, qids, qlabels, qn))

    schema = T.StructType([
        T.StructField("qid", T.LongType()),
        T.StructField("cid", T.LongType()),
        T.StructField("cos", T.DoubleType()),
    ])

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Qm, ids, labels, qnorm = bq.value
        cos_parts, cid_parts = [], []
        for pdf in batches:
            C = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cids = pdf["vec_id"].to_numpy()
            clabels = pdf["label"].to_numpy()
            dots = seq_dot_matrix(C, Qm)                 # (batch, nq)
            cos = dots / np.outer(seq_norms(C), qnorm)
            cos[cids[:, None] == ids[None, :]] = -np.inf   # mask self
            cos[clabels[:, None] != labels[None, :]] = -np.inf  # filter
            cos_parts.append(cos)
            cid_parts.append(cids)
        if not cos_parts:
            return
        cos_all = np.concatenate(cos_parts)
        cid_all = np.concatenate(cid_parts)
        out = {"qid": [], "cid": [], "cos": []}
        for j, qid in enumerate(ids):
            order = np.lexsort((cid_all, -cos_all[:, j]))[:FILT_K]
            keep = order[np.isfinite(cos_all[order, j])]
            out["qid"].append(np.full(len(keep), qid))
            out["cid"].append(cid_all[keep])
            out["cos"].append(cos_all[keep, j])
        yield pd.DataFrame({k: np.concatenate(v) for k, v in out.items()})

    # the pre-filter: only labels any query carries reach the scorer —
    # pushed to the parquet scan (PushedFilters: In(label, ...)), so
    # distance math scales with the FILTERED corpus, not the corpus
    labels = sorted({int(x) for x in qlabels})
    cand = emb.filter(F.col("label").isin(labels))
    scored = cand.mapInPandas(score, schema)
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= FILT_K)
            .select(F.col("qid").alias("query_id"),
                    F.col("cid").alias("neighbor_id"),
                    F.col("rn").cast("long").alias("rank")))
