"""Similarity-based near-duplicate detection: MinHash+LSH and SimHash.

The scale path for document dedup (BASELINE.json north star): exact
shingle-join Jaccard (queries.text.dedup_ngram_jaccard) is the
baseline; MinHash/LSH cuts the candidate space to colliding buckets so
the pair computation is banded, not quadratic.

Content hashing is md5-derived (:func:`oracle_hash60`) with
per-permutation salts — deterministic across runs and partitions,
JVM-side, no Python in the loop, and bit-reproducible in the DuckDB
oracle so minhash/simhash outputs are exact-match checkable (xxhash64
would be ~2x faster but has no DuckDB analog; the hash is a few % of
these pipelines' cost). Join-only keys (band hashes) stay xxhash64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from streamforge_spark.functions.text import word_ngrams
from streamforge_spark.io import spread_for_compute

NUM_PERM = 32       # minhash permutations
LSH_BANDS = 8       # bands of NUM_PERM / LSH_BANDS rows each
SIMHASH_BITS = 60   # 15 hex chars of md5 -> SQL-reproducible fingerprint

#: Per-(band, band_hash) bucket membership cap for the LSH candidate
#: join (lowest-N doc_ids kept, N matching the NGRAM_MAX_DF=64 shingle
#: posting convention).  Without it a template family of m
#: near-identical documents collides in EVERY band and the self-join
#: emits O(m^2) pairs from one bucket — at crawl scale m reaches 10^6
#: (mirrors/boilerplate) and the join never finishes.  The cap bounds
#: any bucket's contribution to C(64,2) pairs; what it hides is
#: surfaced by the ``hot_band_report`` audit query (no silent caps).
BAND_MAX_BUCKET = 64


def oracle_hash60(col: Column, salt: str | None = None) -> Column:
    """60-bit content hash from the first 15 hex chars of md5.

    Bit-identical to the DuckDB expression
    ``CAST(('0x' || substr(md5([salt || ':' ||] x), 1, 15)) AS BIGINT)``
    (see :func:`hash60_sql`), which is what lets the similarity-dedup
    queries carry exact-match oracles instead of rows-only checks."""
    if salt is not None:
        col = F.concat(F.lit(f"{salt}:"), col)
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str, salt_expr: str | None = None) -> str:
    """The DuckDB-side twin of :func:`oracle_hash60` (same bits)."""
    if salt_expr is not None:
        expr = f"{salt_expr} || ':' || {expr}"
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def hash60_spark_sql(expr: str, salt: str | None = None) -> str:
    """Spark-SQL string form of :func:`oracle_hash60` — the SAME
    expression tree (md5 -> substr 1..15 -> conv base16 -> BIGINT),
    built by one server-side parse instead of ~10 py4j Column calls.
    r12: the 32-permutation signature pipelines construct 32 of these
    per query; the Column-API form spent more driver wall on py4j
    round-trips than the cluster spent hashing (guide §5 — the driver
    should do almost no work).  Bit-identical output to
    :func:`oracle_hash60` by construction."""
    if salt is not None:
        expr = f"concat('{salt}:', {expr})"
    return f"CAST(conv(substr(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def minhash_sig_agg_expr(num_perm: int = NUM_PERM,
                         gram_col: str = "g") -> Column:
    """The whole signature as ONE aggregate expression:
    ``array(min(h0), ..., min(h31)) AS sig`` — one server-side parse
    for the agg AND the array assembly (r12, guide §5; replaces 32
    parses + a 32-Column follow-up select).  Identical aggregation
    semantics: 32 min buffers, map-side combined, array built from the
    final buffers."""
    mins = ", ".join(f"min({hash60_spark_sql(gram_col, str(p))})"
                     for p in range(num_perm))
    return F.expr(f"array({mins})").alias("sig")


def cap_band_buckets(banded: DataFrame, id_col: str = "doc_id",
                     bucket_cols: tuple[str, ...] = ("band", "band_hash"),
                     cap: int = BAND_MAX_BUCKET) -> DataFrame:
    """Keep only the ``cap`` lowest ``id_col`` members of each LSH
    bucket — the hot-bucket bound every banded self-join must apply
    before joining (see :data:`BAND_MAX_BUCKET`).  Deterministic
    (doc ids are unique) and oracle-replayable
    (:func:`kept_bands_cte`).  The rank window shuffles on the same
    bucket key the candidate join uses, so the exchange is reused by
    the join, not added to it."""
    from pyspark.sql import Window
    w = Window.partitionBy(*bucket_cols).orderBy(id_col)
    return (banded.withColumn("_brn", F.row_number().over(w))
            .filter(F.col("_brn") <= cap).drop("_brn"))


def bucket_capped_pairs(banded: DataFrame, id_col: str = "doc_id",
                        bucket_cols: tuple[str, ...] = ("band", "band_hash"),
                        cap: int = BAND_MAX_BUCKET,
                        carry: tuple[str, ...] = ()) -> DataFrame:
    """Candidate (d1 < d2) pairs from capped LSH buckets via ONE
    grouped posting array instead of a bucket self-join (r12, guide
    §2.4/§3.3): rank-cap the bucket (:func:`cap_band_buckets` — the
    window streams its sorted partition, so no unbounded posting
    array ever materializes on a hot bucket), then collect the <= cap
    member ids per bucket and emit every i<j pair with array
    higher-order functions — the same posting-list shape
    ``shingle_pair_candidates`` already ships.

    The groupBy's clustering requirement is satisfied by the window's
    hash partitioning on the SAME bucket key, so candidate generation
    costs exactly one exchange of the banded table; the self-join
    shape paid that window exchange PLUS a sort of each join side
    (and the join itself) — at crawl scale those sorts are the
    candidate stage's dominant term.  Pair sets are identical to
    ``capped a JOIN capped b ON bucket-keys AND a.id < b.id``: ids
    are unique within a bucket, the posting array is the capped
    bucket's sorted member list, and i<j over a sorted array is
    exactly the d1 < d2 pair enumeration.  Callers dedup across
    buckets (`.distinct()`), as before.

    ``carry``: bucket-key columns to keep on the output pairs (e.g.
    the sweep's per-config ``bands`` column)."""
    capped = cap_band_buckets(banded, id_col, bucket_cols, cap)
    posting = (capped.groupBy(*bucket_cols)
               .agg(F.sort_array(F.collect_list(id_col)).alias("_ids")))
    pairs = posting.select(
        *carry,
        F.explode(F.expr(
            "flatten(transform(_ids, (x, i) -> "
            "transform(slice(_ids, i + 2, size(_ids) - i - 1), "
            "y -> struct(x AS d1, y AS d2))))")).alias("_p"))
    return pairs.select(*carry, "_p.d1", "_p.d2")


def kept_bands_cte(src: str = "bands", key: str = "band, bkey",
                   id_col: str = "doc_id",
                   cap: int = BAND_MAX_BUCKET) -> str:
    """DuckDB twin of :func:`cap_band_buckets`: a ``kept`` CTE body
    selecting the ``cap`` lowest-``id_col`` rows per bucket from the
    ``src`` CTE.  Splice as ``kept AS (<this>)`` right after the
    bands CTE and point the candidate join at ``kept``."""
    return (f"SELECT * EXCLUDE (_brn) FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY {key} "
            f"ORDER BY {id_col}) AS _brn FROM {src}) WHERE _brn <= {cap}")


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", ngram: int = 3,
                       num_perm: int = NUM_PERM) -> DataFrame:
    """(id, sig: array<long>[num_perm]) — min over shingle hashes per
    salted permutation. One explode + one groupBy (single shuffle on
    the doc id)."""
    grams = spread_for_compute(docs, id_col).select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), ngram)).alias("g"))
    return grams.groupBy(id_col).agg(minhash_sig_agg_expr(num_perm))


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id",
                        bands: int = LSH_BANDS,
                        num_perm: int = NUM_PERM,
                        cap: int = BAND_MAX_BUCKET) -> DataFrame:
    """Band the signature, hash each band, self-join on (band, hash):
    candidate pairs collide in >=1 band. Returns distinct (d1, d2).

    Each bucket is bounded to its ``cap`` lowest doc_ids before pair
    generation (:func:`cap_band_buckets`), so a hot template family
    contributes at most C(cap, 2) pairs per band instead of O(m^2) —
    candidate sets are cap-conditioned LOWER bounds, audited by
    ``hot_band_report``.  r12: pairs come from the grouped posting
    array (:func:`bucket_capped_pairs`) instead of a bucket
    self-join — identical pair set, one fewer sorted pass over the
    banded table."""
    rows = num_perm // bands
    bands_sql = ", ".join(
        "xxhash64(" + ", ".join(f"sig[{b * rows + r}]"
                                for r in range(rows)) + ")"
        for b in range(bands))
    banded = sigs.selectExpr(
        id_col,
        f"posexplode(array({bands_sql})) AS (band, band_hash)")
    return bucket_capped_pairs(banded, id_col, cap=cap).distinct()


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", ngram: int = 3,
                      threshold: float = 0.2) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> banded
    candidates -> exact Jaccard verification on candidates only.

    Output (d1, d2, jaccard >= threshold). vs the exact baseline this
    trades recall (pairs colliding in no band are missed) for pruning
    the quadratic pair space — the standard LSH contract.
    """
    # materialize the shingle arrays once — signatures, and both sides
    # of the verification join, reuse them without recomputing
    gram_sets = (spread_for_compute(docs, id_col)
                 .select(F.col(id_col), word_ngrams(F.col(text_col), ngram).alias("gs"))
                 .localCheckpoint())
    grams = gram_sets.select(F.col(id_col), F.explode("gs").alias("g"))
    sigs = grams.groupBy(id_col).agg(minhash_sig_agg_expr(NUM_PERM))
    cands = lsh_candidate_pairs(sigs, id_col)
    g1 = gram_sets.select(F.col(id_col).alias("d1"), F.col("gs").alias("gs1"))
    g2 = gram_sets.select(F.col(id_col).alias("d2"), F.col("gs").alias("gs2"))
    verified = (
        cands.join(g1, "d1").join(g2, "d2")
        .select(
            "d1", "d2",
            (F.size(F.array_intersect("gs1", "gs2")).cast("double")
             / F.size(F.array_union("gs1", "gs2")).cast("double")).alias("jaccard"))
    )
    return verified.filter(F.col("jaccard") >= threshold)


def simhash(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """60-bit SimHash over whitespace tokens weighted by term count.

    Token hashing stays JVM-side (oracle_hash60 — deterministic across
    runs/partitions AND replayable in the DuckDB oracle); the weighted
    bit-sums run vectorized in numpy via applyInPandas (the pure-
    aggregate form needs 60 conditional sum expressions over every
    token row — measured ~25s at sf0.1 vs ~2s for this shape).
    Integer-only math: fully deterministic.
    """
    import numpy as np
    import pandas as pd

    toks = spread_for_compute(docs, id_col).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    counted = (toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("cnt"))
               .withColumn("h", oracle_hash60(F.col("tok"))))

    def fp(pdf: pd.DataFrame) -> pd.DataFrame:
        # h < 2^60 (oracle_hash60), so the fingerprint stays a positive
        # long — no sign wraparound on either engine
        h = pdf["h"].to_numpy().astype(np.int64).view(np.uint64)
        c = pdf["cnt"].to_numpy().astype(np.int64)
        bits = ((h[:, None] >> np.arange(SIMHASH_BITS, dtype=np.uint64)) & 1).astype(np.int64)
        sums = ((2 * bits - 1) * c[:, None]).sum(axis=0)
        val = 0
        for i in range(SIMHASH_BITS):
            if sums[i] > 0:
                val |= 1 << i
        return pd.DataFrame({id_col: [pdf[id_col].iloc[0]], "simhash": [val]})

    return counted.groupBy(id_col).applyInPandas(fp, f"{id_col} long, simhash long")


def simhash_near_dup(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on 15-bit
    bands (4 bands over the 60-bit fingerprint: a pair within
    Hamming<=3 must collide in >=1 band; wider distances trade recall
    as usual)."""
    fp = simhash(docs, id_col, text_col)
    banded = fp.select(
        F.col(id_col), F.col("simhash"),
        F.posexplode(F.array(*[
            F.shiftrightunsigned(F.col("simhash"), b * 15).bitwiseAND(F.lit(0x7FFF))
            for b in range(4)
        ])).alias("band", "band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_val") == F.col("b.band_val"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                .alias("hamming"))
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)
