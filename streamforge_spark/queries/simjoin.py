"""Exact set-similarity join via prefix filtering (AllPairs / PPJoin
family, Bayardo et al. WWW'07; Xiao et al. WWW'08) and weighted graph
distance — the lossless complements to the approximate LSH paths.

``dedup_minhash_lsh`` trades recall for candidate count; the prefix
filter prunes candidates EXACTLY: under a global token order, two sets
with Jaccard >= t must share a token within their (1-t)-prefixes, so
only prefix tokens are indexed and no qualifying pair is ever missed.
The output is bit-identical to the quadratic all-pairs oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streamforge_spark.functions.simdedup import hash60_sql, oracle_hash60
from streamforge_spark.functions.text import word_ngrams
from streamforge_spark.io import in_flight, spread_for_compute
from streamforge_spark.queries.common import prep
from streamforge_spark.registry import query

# Jaccard threshold as an exact fraction T_NUM/T_DEN (integer prefix
# arithmetic — no float ceil ever decides soundness)
ALLPAIRS_T_NUM, ALLPAIRS_T_DEN = 3, 5          # t = 0.6
ALLPAIRS_T = ALLPAIRS_T_NUM / ALLPAIRS_T_DEN

_HASHED_SHINGLES_SQL = (
    "list_distinct(list_transform("
    "  generate_series(1, greatest(len(t) - 2, 1)),"
    "  i -> " + hash60_sql("concat_ws(' ', t[i], t[i+1], t[i+2])") + "))"
)

_ALLPAIRS_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
glist AS (SELECT doc_id, {_HASHED_SHINGLES_SQL} AS hs FROM toks),
p AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
             CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS i,
             CAST(len(a.hs) AS BIGINT) AS na,
             CAST(len(b.hs) AS BIGINT) AS nb
      FROM glist a JOIN glist b ON a.doc_id < b.doc_id)
SELECT d1, d2, CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) AS jaccard
FROM p
WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= {ALLPAIRS_T}
"""


@query("allpairs_exact_jaccard", oracle=_ALLPAIRS_ORACLE)
def allpairs_exact_jaccard(spark, sf_dir):
    """EXACT Jaccard-threshold similarity self-join (t=0.6) over
    word-3-gram shingle sets, via AllPairs prefix filtering — every
    qualifying pair is emitted with its exact similarity, no recall
    loss, yet candidates are generated from a small prefix index
    instead of full posting lists.

    Prefix filter: order all shingles globally by (document frequency
    asc, hash asc) — rarest first. A doc with n shingles indexes only
    its first ``n - ceil(t*n) + 1`` shingles in that order; two sets
    with J >= t must share an indexed shingle (PPJoin Lemma 1), so the
    posting-list pair generation over prefixes alone is lossless.
    ceil(t*n) is computed in integer arithmetic ((T_NUM*n + T_DEN - 1)
    div T_DEN) so float rounding can never shorten a prefix.

    Scale shape vs the full inverted index (dedup_ngram_jaccard): at
    t=0.6 only ~the rarest 40% of each doc's shingles are exploded
    into the index, and the hottest (most common, hence
    last-in-order) shingles — exactly the ones whose posting lists
    blow up quadratically — are the FIRST ones the prefix drops.
    Candidates additionally pass the integer size filter
    (T_DEN*min(na,nb) >= T_NUM*max(na,nb)) before verification, and
    verification joins candidate ids back to per-doc sorted hash
    arrays — set intersection per candidate, corpus never re-scanned.
    All exchanges carry 8-byte hashes, never shingle strings.
    """
    (docs,) = prep(spark, sf_dir, "documents")
    gram_sets = (spread_for_compute(docs, "doc_id")
                 .select("doc_id", word_ngrams(F.col("text"), 3)
                         .alias("gs")))
    return _allpairs_from_gram_sets(gram_sets)


def _allpairs_from_gram_sets(gram_sets):
    """The allpairs pipeline from a (doc_id, gs: array<string>) shingle
    relation — split out (r12) so lsh_band_recall_sweep can feed its
    already-pinned shingle arrays instead of re-tokenizing the corpus
    for the truth side.  Expression-identical to the inline form."""
    d = gram_sets.select("doc_id", F.array_distinct(
        F.transform("gs", lambda g: oracle_hash60(g))).alias("hs"))
    dfreq = (d.select(F.explode("hs").alias("h"))
             .groupBy("h").agg(F.count(F.lit(1)).alias("df")))
    # per-doc shingle hashes in canonical rarest-first order
    ranked = (d.select("doc_id", F.explode("hs").alias("h"))
              .join(dfreq, "h")
              .groupBy("doc_id")
              .agg(F.sort_array(F.collect_list(F.struct("df", "h"))).alias("s")))
    # materialize the canonical-order arrays ONCE: prefix extraction and
    # BOTH verification joins read from here — without this the
    # tokenize+hash+rank subtree replays per consumer (audited at 6
    # documents scans; 2 after). ~8 bytes/shingle — the "persist the
    # tokenized projection" tradeoff from training_data_release, applied.
    arr = ranked.select(
        "doc_id",
        F.transform("s", lambda x: x["h"]).alias("hs"),
        F.size("s").cast("long").alias("n")).localCheckpoint(eager=False)
    prefix_len = (F.col("n")
                  - F.expr(f"({ALLPAIRS_T_NUM} * n + {ALLPAIRS_T_DEN - 1}) "
                           f"div {ALLPAIRS_T_DEN}") + 1).cast("int")
    pre = arr.select("doc_id", "n",
                     F.slice("hs", F.lit(1), prefix_len).alias("prefix"))
    posting = (pre.select("doc_id", "n", F.explode("prefix").alias("h"))
               .groupBy("h")
               .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n")))
                    .alias("ds"))
               .filter(F.size("ds") >= 2))
    cand = (posting.select(F.explode(F.expr(
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, size(ds) - i - 1), "
        "y -> struct(x.doc_id AS d1, x.n AS na, y.doc_id AS d2, y.n AS nb))))"
    )).alias("p")).select("p.*")
        .filter(F.least("na", "nb") * ALLPAIRS_T_DEN
                >= F.greatest("na", "nb") * ALLPAIRS_T_NUM)
        .distinct())
    ver = (cand
           .join(arr.select(F.col("doc_id").alias("d1"),
                            F.col("hs").alias("h1")), "d1")
           .join(arr.select(F.col("doc_id").alias("d2"),
                            F.col("hs").alias("h2")), "d2")
           .select("d1", "d2",
                   F.size(F.array_intersect("h1", "h2")).cast("long").alias("i"),
                   "na", "nb"))
    jac = (ver.select(
        "d1", "d2",
        (F.col("i").cast("double")
         / (F.col("na") + F.col("nb") - F.col("i")).cast("double"))
        .alias("jaccard")))
    return jac.filter(F.col("jaccard") >= ALLPAIRS_T)


SSSP_ROUNDS = 3
SSSP_SEED_NATION = 0


def _sssp_oracle(rounds: int, seed_nation: int) -> str:
    """Unrolled Bellman-Ford min-plus relaxation; each round is the
    same full-relaxation step the Spark plan runs. MATERIALIZED stops
    DuckDB re-inlining the chain (3^rounds blowup otherwise)."""
    ctes = [
        """pairs AS MATERIALIZED (
  SELECT o.o_custkey AS c, l.l_suppkey AS s,
         MIN(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2)""",
        """edges AS MATERIALIZED (
  SELECT c * 2 AS src, s * 2 + 1 AS dst, w FROM pairs
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst, w FROM pairs)""",
        f"""d0 AS MATERIALIZED (
  SELECT c_custkey * 2 AS node, CAST(0 AS BIGINT) AS dist
  FROM customer WHERE c_nationkey = {seed_nation})""",
    ]
    for r in range(rounds):
        ctes.append(f"""d{r + 1} AS MATERIALIZED (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{r}
    UNION ALL
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM d{r} d JOIN edges e ON e.src = d.node) GROUP BY node)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, dist FROM d{rounds}")


@query("weighted_shortest_path",
       oracle=_sssp_oracle(SSSP_ROUNDS, SSSP_SEED_NATION))
def weighted_shortest_path(spark, sf_dir):
    """Weighted single-source shortest path (min-cost reachability)
    over the customer–supplier graph: cheapest path cost in integer
    cents from nation-{seed} customers within 3 Bellman-Ford rounds —
    the weighted complement of ``bfs_reachability`` (min-plus
    relaxation instead of hop counting; supply-chain cheapest-route /
    trust-propagation primitive).

    Scale shape: each round is one equi-join of the current distance
    vector against the edge list plus one map-side-combined MIN rollup
    — no windows, no driver state. Distances are exact BIGINT cents,
    so MIN is deterministic at any parallelism (no float-sum ties).
    The edge list materializes once (localCheckpoint) because every
    round re-joins it; distance vectors checkpoint lazily to keep the
    per-round DAG flat (the discipline proven in bfs_reachability /
    supplier_pagerank)."""
    lineitem, orders, customer = prep(spark, sf_dir,
                                      "lineitem", "orders", "customer")
    pairs = (lineitem.join(orders,
                           lineitem["l_orderkey"] == orders["o_orderkey"])
             .groupBy(F.col("o_custkey").alias("c"),
                      F.col("l_suppkey").alias("s"))
             .agg(F.min(F.round(F.col("l_extendedprice") * 100)
                        .cast("long")).alias("w")))
    edges = (pairs.select((F.col("c") * 2).alias("src"),
                          (F.col("s") * 2 + 1).alias("dst"), "w")
             .unionByName(pairs.select((F.col("s") * 2 + 1).alias("src"),
                                       (F.col("c") * 2).alias("dst"), "w"))
             .localCheckpoint(eager=True))
    dist = (customer.filter(F.col("c_nationkey") == SSSP_SEED_NATION)
            .select((F.col("c_custkey") * 2).alias("node"),
                    F.lit(0).cast("long").alias("dist")))
    for _ in range(SSSP_ROUNDS):
        relaxed = (edges.join(dist, edges["src"] == dist["node"])
                   .select(F.col("dst").alias("node"),
                           (F.col("dist") + F.col("w")).alias("dist")))
        dist = (dist.unionByName(relaxed)
                .groupBy("node").agg(F.min("dist").alias("dist"))
                .localCheckpoint(eager=False))
    return dist


_RFM_ORACLE = """
WITH base AS (
  SELECT o_custkey AS c_custkey,
         MAX(o_orderdate) AS last_order,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS spend_cents
  FROM orders GROUP BY o_custkey),
scored AS (
  SELECT c_custkey,
         ntile(5) OVER (ORDER BY last_order, c_custkey)  AS r_score,
         ntile(5) OVER (ORDER BY n_orders, c_custkey)    AS f_score,
         ntile(5) OVER (ORDER BY spend_cents, c_custkey) AS m_score,
         n_orders, spend_cents
  FROM base)
SELECT c_custkey,
       CAST(r_score AS INTEGER) AS r_score,
       CAST(f_score AS INTEGER) AS f_score,
       CAST(m_score AS INTEGER) AS m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS segment,
       n_orders, spend_cents
FROM scored
"""


@query("rfm_segments", oracle=_RFM_ORACLE)
def rfm_segments(spark, sf_dir):
    """RFM customer segmentation: quintile scores for Recency (last
    order date), Frequency (order count) and Monetary (exact-cent
    lifetime spend), concatenated into the classic 'RFM' segment code
    (555 = best on all three).

    Determinism: every ntile ORDER BY carries c_custkey as the final
    tiebreak, so quintile assignment is a total order — identical in
    both engines regardless of partitioning. Monetary is an integer
    cents sum (no float ties).

    Scale note: the three global ntile windows sort the per-customer
    rollup, which is dimension-sized (one row per customer, ~1e7 at
    100 TB facts) — the same customer-scale global sorts the TPC-H
    suite already performs. The orders->per-customer rollup itself is
    one map-side-combined exchange of the fact table."""
    (orders,) = prep(spark, sf_dir, "orders")
    from pyspark.sql import Window
    base = (orders.groupBy(F.col("o_custkey").alias("c_custkey"))
            .agg(F.max("o_orderdate").alias("last_order"),
                 F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                  .alias("spend_cents")))
    r = F.ntile(5).over(Window.orderBy("last_order", "c_custkey"))
    f = F.ntile(5).over(Window.orderBy("n_orders", "c_custkey"))
    m = F.ntile(5).over(Window.orderBy("spend_cents", "c_custkey"))
    scored = base.select(
        "c_custkey",
        r.alias("r_score"), f.alias("f_score"), m.alias("m_score"),
        "n_orders", "spend_cents")
    return scored.select(
        "c_custkey", "r_score", "f_score", "m_score",
        F.concat(F.col("r_score").cast("string"),
                 F.col("f_score").cast("string"),
                 F.col("m_score").cast("string")).alias("segment"),
        "n_orders", "spend_cents")


_WINNOW_K = 8    # k-gram length (chars)
_WINNOW_W = 4    # window of consecutive k-gram hashes
#: Posting-length cap: fingerprints selected in more than this many
#: documents are shared boilerplate and are dropped before the
#: self-join (same discipline as text.NGRAM_MAX_DF — bounds the
#: per-fingerprint pair fan-out at O(cap²)).  Far above any df seen
#: at test scale, and mirrored in the oracle, so small-SF results are
#: cap-invisible and parity holds at any scale.
_WINNOW_MAX_DF = 64

_WINNOW_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE length(text) >= {_WINNOW_K}),
pos AS (
  SELECT doc_id, text,
         unnest(generate_series(1, length(text) - {_WINNOW_K} + 1)) AS p
  FROM base),
hashed AS (
  SELECT doc_id, p,
         {hash60_sql(f"substr(text, p, {_WINNOW_K})", "'wk'")} AS h
  FROM pos),
win AS (
  SELECT doc_id,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN CURRENT ROW
                      AND {_WINNOW_W - 1} FOLLOWING) AS f,
         COUNT(*) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS BETWEEN CURRENT ROW
                        AND {_WINNOW_W - 1} FOLLOWING) AS c
  FROM hashed),
sel AS (SELECT DISTINCT doc_id, f FROM win WHERE c = {_WINNOW_W}),
keptf AS (SELECT f FROM sel GROUP BY f
          HAVING COUNT(*) BETWEEN 2 AND {_WINNOW_MAX_DF}),
kept AS (SELECT doc_id, f FROM sel JOIN keptf USING (f)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS shared
  FROM kept a JOIN kept b ON a.f = b.f AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
SELECT doc_a, doc_b, shared FROM pairs
"""


@query("winnow_near_dup", oracle=_WINNOW_ORACLE)
def winnow_near_dup(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every k=8-char gram, keep
    the MINIMUM hash of each w=4 window of consecutive grams, and
    report document pairs sharing >= 3 selected fingerprints.

    Why this beats the fixed-stride rolling hash (`doc_fingerprint`):
    winnowing GUARANTEES any shared substring of length >= w+k-1 = 11
    chars contributes a common fingerprint regardless of alignment —
    insertion of one char upstream shifts strides but not window
    minima.  Complements MinHash/SimHash (set similarity) with
    contiguous-substring evidence, the signal used for contamination
    and clone detection.

    Scale shape: the char-gram explode is len(text)x rows but stays
    PARTITION-LOCAL (hash + per-doc window min, no text in any
    exchange); the only shuffle is the (doc_id, fingerprint) pair
    list into the equi-join — 16 bytes/row, the same inverted-index
    shape as `dedup_ngram_jaccard`.  Fingerprints selected in more
    than _WINNOW_MAX_DF documents are dropped before the self-join
    (boilerplate cap, mirrored in the oracle) so one hot fingerprint
    can't make the candidate space quadratic; the df >= 2 side of the
    same filter also prunes singleton fingerprints — the vast
    majority — before they reach the join at all.

    Exactness: hash60 char-gram hashes on both engines; window frames
    are ROWS-based (no peer ambiguity); MIN over BIGINT; pair counts
    via integer COUNT.

    Output contract: shared-fingerprint counts are cap-conditioned
    LOWER BOUNDS (a fingerprint selected in > _WINNOW_MAX_DF docs is
    excluded as boilerplate); ``hot_shingle_report`` is the matching
    audit of what a df cap hides.
    """
    from pyspark.sql import Window

    (docs,) = prep(spark, sf_dir, "documents")
    k, w = _WINNOW_K, _WINNOW_W
    base = (spread_for_compute(docs, "doc_id")
            .select("doc_id", "text")
            .where(F.length("text") >= k))
    pos = base.select(
        "doc_id", "text",
        F.explode(F.sequence(F.lit(1),
                             F.length("text") - k + 1)).alias("p"))
    hashed = pos.select(
        "doc_id", "p",
        oracle_hash60(F.expr(f"substring(text, p, {k})"),
                      salt="wk").alias("h"))
    frame = (Window.partitionBy("doc_id").orderBy("p")
             .rowsBetween(Window.currentRow, w - 1))
    sel = (hashed.select(
        "doc_id",
        F.min("h").over(frame).alias("f"),
        F.count(F.lit(1)).over(frame).alias("c"))
        .where(F.col("c") == w)
        .select("doc_id", "f").distinct()
        # three consumers (df count + both join sides): pin it so the
        # char-gram explode runs once, not thrice
        .localCheckpoint(eager=False))
    keptf = (sel.groupBy("f").agg(F.count(F.lit(1)).alias("df"))
             .filter((F.col("df") >= 2) & (F.col("df") <= _WINNOW_MAX_DF))
             .select("f"))
    # r12 (guide §2.4/§3.3): pair generation via the grouped posting
    # list instead of the kept x kept self-join — the df cap still
    # runs BEFORE any posting array exists (no unbounded array on a
    # hot fingerprint), the posting groupBy reuses the df join's hash
    # partitioning on f, and i<j over the sorted <= 64-long array is
    # exactly the a.doc_id < b.doc_id enumeration (sel is distinct per
    # (doc_id, f)).  Same pair multiset, one fewer sorted join pass.
    posting = (sel.join(keptf, "f").groupBy("f")
               .agg(F.sort_array(F.collect_list("doc_id")).alias("_ids")))
    pairs = posting.select(F.explode(F.expr(
        "flatten(transform(_ids, (x, i) -> "
        "transform(slice(_ids, i + 2, size(_ids) - i - 1), "
        "y -> struct(x AS doc_a, y AS doc_b))))")).alias("_p"))
    return (pairs.groupBy("_p.doc_a", "_p.doc_b")
            .agg(F.count(F.lit(1)).alias("shared"))
            .where(F.col("shared") >= 3))


# -- LSH band-count recall sweep ----------------------------------------

LSH_SWEEP_BANDS = (4, 8, 16)


def _lsh_sweep_oracle() -> str:
    from streamforge_spark.functions.simdedup import NUM_PERM, kept_bands_cte
    from streamforge_spark.queries.llm import _SHINGLE_CTES
    cfg = ", ".join(str(b) for b in LSH_SWEEP_BANDS)
    return f"""
WITH truth AS ({_ALLPAIRS_ORACLE}),
{_SHINGLE_CTES},
mh AS (SELECT doc_id, p, MIN({hash60_sql('g', 'CAST(p AS VARCHAR)')}) AS sig
       FROM grams CROSS JOIN range({NUM_PERM}) t(p) GROUP BY doc_id, p),
cfg AS (SELECT unnest([{cfg}]) AS bands),
banded AS (SELECT c.bands, doc_id,
                  CAST(p // ({NUM_PERM} // c.bands) AS INTEGER) AS band,
                  list(sig ORDER BY p) AS bkey
           FROM mh CROSS JOIN cfg c GROUP BY 1, 2, 3),
kept AS ({kept_bands_cte(src="banded", key="bands, band, bkey")}),
cands AS (SELECT DISTINCT a.bands, a.doc_id AS d1, b.doc_id AS d2
          FROM kept a JOIN kept b
            ON a.bands = b.bands AND a.band = b.band
           AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
n_t AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
caught AS (SELECT c.bands, CAST(count(*) AS BIGINT) AS n_caught
           FROM cands c JOIN truth t ON t.d1 = c.d1 AND t.d2 = c.d2
           GROUP BY 1),
tot AS (SELECT bands, CAST(count(*) AS BIGINT) AS n_candidates
        FROM cands GROUP BY 1)
SELECT CAST(cfg.bands AS BIGINT) AS bands,
       CAST({NUM_PERM} // cfg.bands AS BIGINT) AS rows_per_band,
       n_t.n_truth,
       COALESCE(caught.n_caught, 0) AS n_caught,
       CASE WHEN n_t.n_truth = 0 THEN 0
            ELSE (1000000 * COALESCE(caught.n_caught, 0)) // n_t.n_truth
       END AS recall_ppm,
       COALESCE(tot.n_candidates, 0) AS n_candidates
FROM cfg CROSS JOIN n_t
LEFT JOIN caught ON caught.bands = cfg.bands
LEFT JOIN tot ON tot.bands = cfg.bands
"""


@query("lsh_band_recall_sweep", oracle=_lsh_sweep_oracle())
def lsh_band_recall_sweep(spark, sf_dir):
    """LSH banding calibration: for band counts 4/8/16 over the same
    32-permutation MinHash signatures, the measured recall of the
    band-collision candidate generator against the EXACT t=0.6
    Jaccard truth set (the prefix-filtered allpairs join — lossless
    by PPJoin Lemma 1), plus the candidate volume each config pays.
    This is the b-vs-r S-curve tuning table you consult before
    committing a corpus-wide LSH dedup: more bands buys recall
    (4->~6%, 8->~67%, 16->~99% at J=0.6 theoretically) at the price
    of candidate pairs to verify.  Pure integer counts and floor
    divisions; the zero-truth edge is a total CASE on both engines.

    Plan (100 TB): the truth set reuses allpairs' prefix-filter
    (never quadratic); signatures are one explode+rollup; each config
    is a banded bucket pairing on (band, 32/b-long key) — the same
    bounded LSH-bucket shape as production dedup (incl. the
    BAND_MAX_BUCKET hot-bucket cap, so the sweep measures the recall
    the CAPPED production pairing delivers), three configs unioned.  The
    1-row truth count broadcasts (adjudicated scalar pattern)."""
    from streamforge_spark.functions.simdedup import (
        NUM_PERM, bucket_capped_pairs, minhash_sig_agg_expr)
    (docs,) = prep(spark, sf_dir, "documents")
    # r12 (guide §1.2): the truth side and the signature side both
    # start from the same word-3-gram shingle arrays — pin that
    # relation once and feed BOTH pipelines, instead of tokenizing the
    # corpus twice (truth via _allpairs_from_gram_sets is
    # expression-identical to the standalone allpairs query).
    gram_sets = (spread_for_compute(docs, "doc_id")
                 .select("doc_id", word_ngrams(F.col("text"), 3).alias("gs"))
                 .localCheckpoint(eager=False))

    def candidates():
        grams = gram_sets.select("doc_id", F.explode("gs").alias("g"))
        sigs = (grams.groupBy("doc_id").agg(minhash_sig_agg_expr(NUM_PERM))
                # three banding consumers — hash the grams once
                .localCheckpoint(eager=False))
        # r12 (guide §2.4): band all three configs into ONE relation keyed
        # by (bands, band, band_hash), so the hot-bucket cap window and the
        # candidate self-join run ONCE over the union instead of once per
        # config (3 rank windows + 3 joins + a union-distinct collapsed to
        # 1 + 1 + 1).  Config keyspaces are disjoint on `bands`, so the
        # capped buckets, the join's collision pairs, and the global
        # distinct are row-identical to the per-config form.
        per_cfg = []
        for bands in LSH_SWEEP_BANDS:
            rows = NUM_PERM // bands
            per_cfg.append(sigs.selectExpr(
                f"CAST({bands} AS BIGINT) AS bands",
                "doc_id",
                "posexplode(array(" + ", ".join(
                    "xxhash64(" + ", ".join(f"sig[{b * rows + r}]"
                                            for r in range(rows)) + ")"
                    for b in range(bands)) + ")) AS (band, band_hash)"))
        banded = per_cfg[0]
        for p in per_cfg[1:]:
            banded = banded.unionByName(p)
        # r12 (guide §2.4/§3.3): pairs via the grouped posting array
        # (bucket_capped_pairs) instead of the capped bucket self-join —
        # identical pair set, one fewer sorted pass over the banded union.
        # Pinned: downstream of the Generate-shaped pair explode the
        # optimizer has no cardinality stats, and the truth-marker join
        # planned against the raw pipeline regressed the query ~35% solo
        # (same pathology, same fix as dedup_yield_curve's candidate pin).
        return (bucket_capped_pairs(
            banded, bucket_cols=("bands", "band", "band_hash"),
            carry=("bands",)).distinct().localCheckpoint())

    # the truth side and the signature -> candidate side share only the
    # pinned gram sets: pin both concurrently (io.in_flight)
    truth, cands = in_flight(
        spark,
        lambda: (_allpairs_from_gram_sets(gram_sets)
                 .select("d1", "d2").localCheckpoint()),
        candidates)
    n_t = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    # r12 (guide §2.4): n_candidates and n_caught fold into ONE pass —
    # a truth-marker left join (truth pairs are distinct, so no row
    # duplication) feeding a single per-bands rollup.  The old shape
    # read the candidate table twice (checkpoint + two aggregations);
    # with one consumer the checkpoint disappears too.  Counts are
    # row-identical: count(marker) over the left join == the inner
    # join's count, count(*) == the old n_candidates.
    caught = (cands.join(truth.withColumn("_t", F.lit(1)),
                         ["d1", "d2"], "left")
              .groupBy("bands")
              .agg(F.count(F.lit(1)).alias("n_candidates"),
                   F.count("_t").alias("n_caught")))
    cfg = spark.createDataFrame(
        [(b, NUM_PERM // b) for b in LSH_SWEEP_BANDS],
        "bands long, rows_per_band long")
    return (cfg.crossJoin(F.broadcast(n_t))
            .join(caught, "bands", "left")
            .select("bands", "rows_per_band", "n_truth",
                    F.coalesce("n_caught", F.lit(0)).alias("n_caught"),
                    F.when(F.col("n_truth") == 0, F.lit(0).cast("long"))
                     .otherwise(F.expr(
                         "(1000000 * coalesce(n_caught, 0)) div n_truth"))
                     .alias("recall_ppm"),
                    F.coalesce("n_candidates", F.lit(0))
                     .alias("n_candidates")))
