"""The capstone composition: one oracle-checked query that takes the
raw documents table to a releasable training-data build — the decision
a data engine actually ships, not the individual stages.

Pipeline (first failing gate wins, fixed precedence):
  benchmark hold-out -> MinHash/LSH fuzzy dedup (transitive closure,
  lowest-id survivor) -> language gate -> quality gate -> repetition
  gate -> benchmark decontamination -> token-budget shard assignment
  (per-source hash-ordered prefix sums).

Every stage reuses the SAME machinery its standalone query verifies
(minhash_lsh_pairs, connected_components, lang_id, quality_score,
segment stats, contamination grams, budget packing), and the oracle
replays all of it — signatures, banding, closure, gates, and the
shard prefix sums — in one SQL statement.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streamforge_spark.functions.simdedup import hash60_sql, oracle_hash60
from streamforge_spark.functions.text import lang_id, quality_score, token_count
from streamforge_spark.io import in_flight
from streamforge_spark.queries.common import prep
from streamforge_spark.registry import query

RELEASE_BENCH_MAX_ID = 20     # doc_id < 20 is the benchmark hold-out
RELEASE_MIN_SCORE = 0.5
# Repetition gate: drop when n_dup_segs * RELEASE_REP_MULT > n_segs
# (i.e. dup-segment fraction > 1/RELEASE_REP_MULT = 4%). Production
# pipelines use ~30%; the synthetic fixture tops out at ~5.6% dup
# fraction, so the demo threshold sits where the gate has real work.
RELEASE_REP_MULT = 25
RELEASE_SHARD_TOKENS = 500    # token budget per output shard


def _release_oracle() -> str:
    from streamforge_spark.queries.llm import _MINHASH_ORACLE
    from streamforge_spark.queries.repetition import _SEG_EXPR
    from streamforge_spark.queries.text import _SQL_SCORE, _lang_case_sql
    return f"""
WITH RECURSIVE pairs AS ({_MINHASH_ORACLE}),
edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION
  SELECT d2 AS a, d1 AS b FROM pairs),
reach(node, label) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
segs AS (SELECT doc_id, {_SEG_EXPR} AS sg FROM toks),
rep AS (SELECT doc_id,
               CAST(len(sg) AS BIGINT) AS n_segs,
               CAST(len(sg) - len(list_distinct(sg)) AS BIGINT) AS n_dup
        FROM segs),
grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(t) - 3, 1)),
            i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3])))) AS g
          FROM toks),
bench AS (SELECT DISTINCT g FROM grams
          WHERE doc_id < {RELEASE_BENCH_MAX_ID}),
contam AS (SELECT DISTINCT c.doc_id FROM grams c JOIN bench b ON c.g = b.g
           WHERE c.doc_id >= {RELEASE_BENCH_MAX_ID}),
verdicts AS (
  SELECT d.doc_id, d.source,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         CASE
           WHEN d.doc_id < {RELEASE_BENCH_MAX_ID} THEN 'benchmark'
           WHEN COALESCE(c.component, d.doc_id) <> d.doc_id THEN 'near_dup'
           WHEN ({_lang_case_sql()}) = 'unknown' THEN 'lang'
           WHEN ({_SQL_SCORE}) < {RELEASE_MIN_SCORE} THEN 'quality'
           WHEN r.n_dup * {RELEASE_REP_MULT} > r.n_segs
             THEN 'repetition'
           WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
           ELSE 'kept'
         END AS verdict
  FROM documents d
  LEFT JOIN comp c ON c.node = d.doc_id
  JOIN rep r ON r.doc_id = d.doc_id
  LEFT JOIN contam ct ON ct.doc_id = d.doc_id),
kept AS (
  SELECT doc_id, source, n_tokens,
         {hash60_sql("CAST(doc_id AS VARCHAR)", "'release'")} AS adm
  FROM verdicts WHERE verdict = 'kept'),
packed AS (
  SELECT doc_id, source,
         (CAST(sum(n_tokens) OVER (PARTITION BY source
                                   ORDER BY adm, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
          - n_tokens) // {RELEASE_SHARD_TOKENS} AS shard_num
  FROM kept)
SELECT v.doc_id, v.source, v.n_tokens, v.verdict,
       CASE WHEN v.verdict = 'kept'
            THEN v.source || '-' || CAST(p.shard_num AS VARCHAR) END AS shard
FROM verdicts v LEFT JOIN packed p ON p.doc_id = v.doc_id
"""


@query("training_data_release", oracle=_release_oracle())
def training_data_release(spark, sf_dir):
    """See module docstring — the raw corpus to a releasable build in
    ONE plan: per document the final verdict (first failing gate) and,
    for kept docs, the token-budget shard assignment.

    Scale shape, stage by stage: LSH pair generation is the bucketed
    band join (never all-pairs); closure runs on the pair graph only;
    gates are scan-side column algebra; decontamination joins distinct
    corpus shingles against the (small, broadcast) benchmark shingle
    set; shard packing is a per-source prefix-sum window — parallel
    across sources, never a global single-partition sort. The corpus-
    sized joins (verdict stamp, shard stamp) are doc_id equi-joins."""
    from streamforge_spark.operators.graph import connected_components
    from streamforge_spark.queries.llm import MINHASH_THRESHOLD, minhash_lsh_pairs
    from streamforge_spark.queries.repetition import _tokens_and_segments
    (docs,) = prep(spark, sf_dir, "documents")

    comp = connected_components(
        minhash_lsh_pairs(docs, threshold=MINHASH_THRESHOLD), "d1", "d2")
    rep = _tokens_and_segments(docs).select(
        "doc_id", F.size("segs").alias("n_segs"),
        (F.size("segs") - F.size(F.array_distinct("segs"))).alias("n_dup"))
    t = F.col("t")
    grams = (docs.select("doc_id", F.split("text", " ").alias("t"))
             .select("doc_id", F.explode(F.array_distinct(F.transform(
                 F.sequence(F.lit(1), F.greatest(F.size(t) - 3, F.lit(1))),
                 lambda i: F.concat_ws(
                     " ", F.try_element_at(t, i), F.try_element_at(t, i + 1),
                     F.try_element_at(t, i + 2), F.try_element_at(t, i + 3)))))
                 .alias("g")))
    bench = (grams.filter(F.col("doc_id") < RELEASE_BENCH_MAX_ID)
             .select("g").distinct())
    contam = (grams.filter(F.col("doc_id") >= RELEASE_BENCH_MAX_ID)
              .join(F.broadcast(bench), "g").select("doc_id").distinct()
              .withColumn("_contam", F.lit(True)))

    tx = F.col("text")
    verdicts = (docs
                .join(comp, docs["doc_id"] == comp["node"], "left")
                .join(rep, "doc_id")
                .join(contam, "doc_id", "left")
                .select(
                    "doc_id", "source",
                    token_count(tx).alias("n_tokens"),
                    F.when(F.col("doc_id") < RELEASE_BENCH_MAX_ID,
                           "benchmark")
                    .when(F.coalesce(F.col("component"), F.col("doc_id"))
                          != F.col("doc_id"), "near_dup")
                    .when(lang_id(tx) == "unknown", "lang")
                    .when(quality_score(tx, F.col("n_chars"))
                          < RELEASE_MIN_SCORE, "quality")
                    .when(F.col("n_dup") * RELEASE_REP_MULT
                          > F.col("n_segs"), "repetition")
                    .when(F.col("_contam"), "contaminated")
                    .otherwise("kept").alias("verdict"))
                # two consumers read the verdict table (shard packing +
                # the final stamp join); without this the entire gate
                # subtree — LSH signatures, closure, repetition stats,
                # contamination join — replays once per consumer. The
                # checkpointed table is corpus-sized but NARROW (5
                # small columns, no text) — this is the "persist the
                # tokenized projection" production note, applied to the
                # verdict ledger instead.
                .localCheckpoint(eager=False))
    kept = (verdicts.filter(F.col("verdict") == "kept")
            .withColumn("adm", oracle_hash60(
                F.col("doc_id").cast("string"), salt="release")))
    packed = kept.select(
        "doc_id",
        F.concat(F.col("source"), F.lit("-"),
                 F.expr(f"(sum(n_tokens) OVER (PARTITION BY source "
                        f"ORDER BY adm, doc_id ROWS BETWEEN UNBOUNDED "
                        f"PRECEDING AND CURRENT ROW) - n_tokens) "
                        f"DIV {RELEASE_SHARD_TOKENS}").cast("string"))
        .alias("shard"))
    return (verdicts.join(packed, "doc_id", "left")
            .select("doc_id", "source", "n_tokens", "verdict", "shard"))


_SUMMARY_ORACLE = f"""
WITH ledger AS ({_release_oracle().strip()})
SELECT source, verdict,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM ledger GROUP BY source, verdict
"""


@query("release_summary", oracle=_SUMMARY_ORACLE)
def release_summary(spark, sf_dir):
    """The release dashboard: per (source, verdict) document and token
    counts — what each gate costs each feed, and how many training
    tokens survive. A tiny rollup over the capstone ledger (the
    release plan's cost dominates; this adds one |sources x verdicts|
    aggregation)."""
    return (training_data_release(spark, sf_dir)
            .groupBy("source", "verdict")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens")))


# -- dataset content fingerprint (release integrity) --------------------

_FINGERPRINT_ORACLE = f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS n_tokens,
       bit_xor({hash60_sql("CAST(doc_id AS VARCHAR) || ':' || text")})
         AS content_xor
FROM documents
GROUP BY source
"""


@query("dataset_fingerprint", oracle=_FINGERPRINT_ORACLE)
def dataset_fingerprint(spark, sf_dir):
    """Order-insensitive per-source content fingerprint: XOR of 60-bit
    row digests plus doc/token counts. Two releases (or a release and
    its replica on another cluster) compare by fingerprint alone — a
    changed, dropped, or duplicated document flips the XOR — without
    moving any data. The cheap integrity check that catches silent
    corruption between pipeline hops (the batch analog of the sink
    idempotence tests).

    Scale shape: a pure scan-side digest followed by ONE
    map-side-combined rollup; XOR is commutative/associative so the
    aggregation is exact at any parallelism — the same mergeable-state
    argument as the sketch columns, with zero collision risk of a
    false MATCH beyond 2^-60 per differing row."""
    (docs,) = prep(spark, sf_dir, "documents")
    h = oracle_hash60(F.concat(F.col("doc_id").cast("string"),
                               F.lit(":"), F.col("text")))
    return (docs.select("source", h.alias("h"),
                        token_count(F.col("text")).alias("n_tokens"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens"),
                 F.expr("bit_xor(h)").alias("content_xor")))


# -- the composed online funnel, batch face ------------------------------

#: same ingest-batch convention as queries.llm.INGEST_SPLIT_ID /
#: queries.text.XS_SPLIT_ID / queries.curation.DSIR_SPLIT_ID (doc_id >=
#: split is the newly arriving batch); local constant to keep
#: registration import-free — test_ingest_split_constants_agree pins
#: all four together.
FUNNEL_SPLIT_ID = 400
#: == queries.text.VOCAB_TOP_K (pinned by the same test): the funnel's
#: vocabulary is built with the exact convention vocab_oov_rate verifies
FUNNEL_VOCAB_K = 16


def _funnel_vocab(est, k: int = FUNNEL_VOCAB_K):
    """The top-``k`` terms of the established split (count desc, term)."""
    return (est.select(F.explode(F.split("text", " ")).alias("term"))
            .groupBy("term").agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.col("c").desc(), "term").limit(k)
            .select("term"))


def _funnel_artifacts(spark, est, *extra):
    """The funnel gates' artifacts, built from the established split
    ``est``: ``(vocab, xs_index, mh_bands, mh_grams, llr, *rest)``,
    where ``rest`` holds the results of the ``extra`` zero-argument
    builds.  No artifact reads another, so each one is pinned
    (eager ``localCheckpoint``) in its own thread (io.in_flight): their
    jobs share the cores instead of running one build after another
    inside corpus_funnel_verdicts' gate barriers.  The gate chain that
    probes them is unchanged."""
    from streamforge_spark.functions.dsir import dsir_llr_model
    from streamforge_spark.functions.substring_index import (
        substring_index, window_hashes)
    from streamforge_spark.queries.curation import DSIR_TARGET_SOURCES
    from streamforge_spark.queries.text import XS_K
    from streamforge_spark.streaming.curation import minhash_corpus_index

    def minhash():
        bands, grams = minhash_corpus_index(est)
        # pinning the bands also fills the lazily checkpointed gram sets
        return bands.localCheckpoint(), grams

    vocab, xs_index, (mh_bands, mh_grams), llr, *rest = in_flight(
        spark,
        lambda: _funnel_vocab(est).localCheckpoint(),
        lambda: (substring_index(window_hashes(est, XS_K)).select("h")
                 .localCheckpoint()),
        minhash,
        lambda: dsir_llr_model(
            est, F.col("source").isin(*DSIR_TARGET_SOURCES)
        ).localCheckpoint(),
        *extra)
    return (vocab, xs_index, mh_bands, mh_grams, llr, *rest)


def _funnel_ivf(est_emb):
    """The semantic gate's index over the established embeddings:
    ``(centroids, ivf_vecs)`` with every vector's nearest cell."""
    from streamforge_spark.functions.clustering import kmeans_centroids
    from streamforge_spark.functions.similarity import ivf_probe_cells_expr
    from streamforge_spark.queries.llm import IVF_CELLS, IVF_ROUNDS
    C = kmeans_centroids(est_emb, k=IVF_CELLS, rounds=IVF_ROUNDS)
    raw = F.col("embedding").cast("array<double>")
    qv = F.transform(raw, lambda x: F.round(x * 10000).cast("long"))
    ivf_vecs = (est_emb.select("vec_id", raw.alias("v"), qv.alias("qv"))
                .withColumn("cell",
                            ivf_probe_cells_expr("qv", C, 1)[0])
                .drop("qv"))
    return C, ivf_vecs


#: independent-flags tail for the gate-ablation rollup: the SAME
#: gate-signal CTEs (gp / oov / contam / fz / semrej / dsa) as the
#: funnel oracle, but instead of first-failing-gate precedence every
#: doc carries ALL six booleans, so each gate's marginal value (docs
#: ONLY it would catch) is measurable.
_ABLATION_TAIL = """flags AS (
  SELECT n.doc_id,
         NOT g.gopher_pass AS f_gopher,
         o.oov_ppm > {oov_max} AS f_oov,
         ct.doc_id IS NOT NULL AS f_substring,
         f.doc_id IS NOT NULL AS f_fuzzy,
         {f_semantic} AS f_semantic,
         d.avg < {dsir_thr} AS f_dsir
  FROM newdocs n
  JOIN gp g USING (doc_id)
  JOIN oov o USING (doc_id)
  LEFT JOIN contam ct USING (doc_id)
  LEFT JOIN fz f USING (doc_id){sem_join}
  JOIN dsa d USING (doc_id)),
cnt AS (
  SELECT doc_id, f_gopher, f_oov, f_substring, f_fuzzy, f_semantic, f_dsir,
         CAST(f_gopher AS INT) + CAST(f_oov AS INT)
         + CAST(f_substring AS INT) + CAST(f_fuzzy AS INT)
         + CAST(f_semantic AS INT) + CAST(f_dsir AS INT) AS n_fails
  FROM flags),
adm AS (SELECT CAST(count(*) FILTER (WHERE n_fails = 0) AS BIGINT)
          AS n_admitted FROM cnt),
un AS (
            SELECT 'gopher' AS gate, f_gopher AS fail, n_fails FROM cnt
  UNION ALL SELECT 'oov', f_oov, n_fails FROM cnt
  UNION ALL SELECT 'substring', f_substring, n_fails FROM cnt
  UNION ALL SELECT 'fuzzy', f_fuzzy, n_fails FROM cnt
  UNION ALL SELECT 'semantic', f_semantic, n_fails FROM cnt
  UNION ALL SELECT 'dsir', f_dsir, n_fails FROM cnt)
SELECT gate,
       CAST(count(*) FILTER (WHERE fail) AS BIGINT) AS n_fail,
       CAST(count(*) FILTER (WHERE fail AND n_fails = 1) AS BIGINT)
         AS n_unique_kill,
       CAST(count(*) FILTER (WHERE fail)
            - count(*) FILTER (WHERE fail AND n_fails = 1) AS BIGINT)
         AS n_shadowed,
       n_admitted
FROM un CROSS JOIN adm
GROUP BY gate, n_admitted
"""


def _funnel_oracle(semantic: bool = False,
                   vocab_k: int = FUNNEL_VOCAB_K,
                   ablation: bool = False) -> str:
    from streamforge_spark.functions.dsir import (
        DSIR_BUCKETS, DSIR_MICRO, DSIR_SALT)
    from streamforge_spark.functions.simdedup import (
        LSH_BANDS, NUM_PERM, kept_bands_cte)
    from streamforge_spark.functions.text import (
        GOPHER_MAX_MWL_MILLI, GOPHER_MAX_WORDS, GOPHER_MIN_ALPHA_PPM,
        GOPHER_MIN_MWL_MILLI, GOPHER_MIN_STOPWORDS, GOPHER_MIN_WORDS,
        STOPWORDS)
    from streamforge_spark.queries.curation import _DSIR_TGT_SQL
    from streamforge_spark.queries.llm import _SHINGLE_CTES, MINHASH_THRESHOLD
    from streamforge_spark.queries.text import XS_K, _sql_markers
    from streamforge_spark.streaming.curation import (
        FUNNEL_DSIR_THRESHOLD_MICRO, FUNNEL_OOV_MAX_PPM)
    split, k = FUNNEL_SPLIT_ID, XS_K
    xs_hash = hash60_sql(f"substr(text, p, {k})", "'xs'")
    tok_hash = hash60_sql("tok", f"'{DSIR_SALT}'")
    sem_ctes = sem_case = sem_join = ""
    if semantic:
        # the sixth gate's SQL (semantic=True -> the six-stage oracle
        # behind corpus_funnel_semantic_report; semantic=False emits
        # the five-stage SQL byte-identically): the fixed-point Lloyd
        # chain trained on the ESTABLISHED embeddings, each arriving
        # vector's nprobe-cell probe, and the exact-cosine rejection —
        # verbatim the CTEs the green semantic_ingest_gate oracle uses
        from streamforge_spark.functions.similarity import SEM_THRESHOLD
        from streamforge_spark.queries.embeddings import _kmeans_oracle
        from streamforge_spark.queries.llm import (
            IVF_CELLS, IVF_ROUNDS, SEM_GATE_NPROBE)
        base = _kmeans_oracle(
            IVF_CELLS, IVF_ROUNDS, 10000,
            src=f"(SELECT * FROM embeddings WHERE vec_id < {split})")
        head, _ = base.rsplit("\nSELECT", 1)
        kchain = head[len("WITH "):]
        r = IVF_ROUNDS - 1
        sem_ctes = f""",
{kchain},
raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
nq AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
                x -> CAST(ROUND(x * 10000) AS BIGINT)) AS v
       FROM embeddings WHERE vec_id >= {split}),
nd AS (SELECT vec_id, generate_subscripts(v, 1) AS j, unnest(v) AS x
       FROM nq),
probe AS (
  SELECT qid, cl FROM (
    SELECT nd.vec_id AS qid, cd.cl AS cl,
           SUM((nd.x - cd.x) * (nd.x - cd.x)) AS d2
    FROM nd JOIN cd{r} cd ON nd.j = cd.j
    GROUP BY 1, 2) t
  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, cl)
            <= {SEM_GATE_NPROBE}),
cands AS (SELECT p.qid, a.vec_id AS cid
          FROM probe p JOIN a{r} a ON a.cl = p.cl),
semrej AS (SELECT DISTINCT c.qid AS doc_id
           FROM cands c
           JOIN raw rq ON rq.vec_id = c.qid
           JOIN raw rc ON rc.vec_id = c.cid
           WHERE list_dot_product(rq.v, rc.v)
                   / (sqrt(list_dot_product(rq.v, rq.v))
                      * sqrt(list_dot_product(rc.v, rc.v)))
                 >= {SEM_THRESHOLD})"""
        sem_case = ("\n              "
                    "WHEN sm.doc_id IS NOT NULL THEN 'semantic'")
        sem_join = "\n  LEFT JOIN semrej sm USING (doc_id)"
    tail = f"""graded AS (
  SELECT n.doc_id,
         CASE WHEN NOT g.gopher_pass THEN 'gopher'
              WHEN o.oov_ppm > {FUNNEL_OOV_MAX_PPM} THEN 'oov'
              WHEN ct.doc_id IS NOT NULL THEN 'substring'
              WHEN f.doc_id IS NOT NULL THEN 'fuzzy'{sem_case}
              WHEN d.avg < {FUNNEL_DSIR_THRESHOLD_MICRO} THEN 'dsir'
              ELSE 'admit' END AS verdict,
         d.avg
  FROM newdocs n
  JOIN gp g USING (doc_id)
  JOIN oov o USING (doc_id)
  LEFT JOIN contam ct USING (doc_id)
  LEFT JOIN fz f USING (doc_id){sem_join}
  JOIN dsa d USING (doc_id))
SELECT doc_id, verdict,
       CASE WHEN verdict = 'admit' THEN avg END AS avg_llr_micro
FROM graded
"""
    if ablation:
        tail = _ABLATION_TAIL.format(
            oov_max=FUNNEL_OOV_MAX_PPM,
            dsir_thr=FUNNEL_DSIR_THRESHOLD_MICRO,
            f_semantic=("sm.doc_id IS NOT NULL" if semantic else "FALSE"),
            sem_join=sem_join)
    return f"""
WITH {_SHINGLE_CTES},
newdocs AS (SELECT doc_id, text FROM documents WHERE doc_id >= {split}),
gm AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(length(text) - len(string_split(text, ' ')) + 1 AS BIGINT)
           AS swc,
         CAST(len(list_filter(string_split(text, ' '),
                   x -> x IN ({_sql_markers(STOPWORDS)}))) AS BIGINT)
           AS stopword_cnt,
         CAST(len(list_filter(string_split(text, ' '),
                   x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT)
           AS n_alpha
  FROM newdocs),
gp AS (
  SELECT doc_id,
         (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
         AND ((1000 * swc) // n_words
              BETWEEN {GOPHER_MIN_MWL_MILLI} AND {GOPHER_MAX_MWL_MILLI})
         AND stopword_cnt >= {GOPHER_MIN_STOPWORDS}
         AND (1000000 * n_alpha) // n_words >= {GOPHER_MIN_ALPHA_PPM}
           AS gopher_pass
  FROM gm),
etoks AS (SELECT unnest(string_split(text, ' ')) AS term
          FROM documents WHERE doc_id < {split}),
vocab AS (SELECT term FROM (SELECT term, CAST(count(*) AS BIGINT) AS c
                            FROM etoks GROUP BY term)
          ORDER BY c DESC, term LIMIT {vocab_k}),
ntoks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM newdocs),
oov AS (SELECT t.doc_id,
               (1000000 * CAST(count(*) FILTER (WHERE v.term IS NULL)
                               AS BIGINT)) // CAST(count(*) AS BIGINT)
                 AS oov_ppm
        FROM ntoks t LEFT JOIN vocab v ON v.term = t.term
        GROUP BY t.doc_id),
eidx AS (SELECT DISTINCT {xs_hash} AS h
         FROM (SELECT text,
                      unnest(generate_series(1, length(text) - {k} + 1)) AS p
               FROM documents
               WHERE doc_id < {split} AND length(text) >= {k})),
nhash AS (SELECT doc_id, {xs_hash} AS h
          FROM (SELECT doc_id, text,
                       unnest(generate_series(1, length(text) - {k} + 1)) AS p
                FROM newdocs WHERE length(text) >= {k})),
contam AS (SELECT DISTINCT doc_id FROM nhash
           WHERE h IN (SELECT h FROM eidx)),
mh AS (SELECT doc_id, p, MIN({hash60_sql('g', 'CAST(p AS VARCHAR)')}) AS sig
       FROM grams CROSS JOIN range({NUM_PERM}) t(p) GROUP BY doc_id, p),
bands AS (SELECT doc_id, CAST(p // {NUM_PERM // LSH_BANDS} AS INTEGER)
                   AS band,
                 list(sig ORDER BY p) AS bkey
          FROM mh GROUP BY 1, 2),
ebands AS (SELECT * FROM bands WHERE doc_id < {split}),
kept AS ({kept_bands_cte(src="ebands")}),
cand AS (SELECT DISTINCT a.doc_id AS cid, b.doc_id
         FROM kept a JOIN bands b
           ON a.band = b.band AND a.bkey = b.bkey
         WHERE b.doc_id >= {split}),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
          FROM grams GROUP BY doc_id),
inter AS (SELECT c.cid, c.doc_id, CAST(count(*) AS BIGINT) AS i
          FROM cand c
          JOIN grams a ON a.doc_id = c.cid
          JOIN grams b ON b.doc_id = c.doc_id AND b.g = a.g
          GROUP BY 1, 2),
fz AS (SELECT DISTINCT i.doc_id
       FROM inter i
       JOIN sizes sa ON sa.doc_id = i.cid
       JOIN sizes sb ON sb.doc_id = i.doc_id
       WHERE CAST(i.i AS DOUBLE) / CAST(sa.n + sb.n - i.i AS DOUBLE)
               >= {MINHASH_THRESHOLD}),
ebt AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE doc_id < {split}),
model AS (SELECT {tok_hash} % {DSIR_BUCKETS} AS bkt,
                 CAST(count(*) AS BIGINT) AS cr,
                 CAST(count(*) FILTER (WHERE source IN {_DSIR_TGT_SQL})
                      AS BIGINT) AS ct
          FROM ebt GROUP BY 1),
tots AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM model),
llr AS (SELECT bkt,
               CAST(ROUND(ln(CAST((ct + 1) * (nr + {DSIR_BUCKETS}) AS DOUBLE)
                             / CAST((cr + 1) * (nt + {DSIR_BUCKETS})
                                    AS DOUBLE))
                          * {DSIR_MICRO}) AS BIGINT) AS llr_micro
        FROM model CROSS JOIN tots),
nb AS (SELECT doc_id, {tok_hash} % {DSIR_BUCKETS} AS bkt
       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             FROM newdocs)),
ds AS (SELECT nb.doc_id,
              CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(COALESCE(SUM(l.llr_micro), 0) AS BIGINT) AS score
       FROM nb LEFT JOIN llr l USING (bkt) GROUP BY nb.doc_id),
dsa AS (SELECT doc_id,
               score // n_tokens
                 - CASE WHEN score % n_tokens <> 0 AND score < 0
                        THEN 1 ELSE 0 END AS avg
        FROM ds){sem_ctes},
{tail}"""


@query("corpus_funnel_report", oracle=_funnel_oracle())
def corpus_funnel_report(spark, sf_dir):
    """The composed online curation funnel's batch face — the r7
    verdict's item-2 composition with a full oracle: the newly
    arriving batch (doc_id >= FUNNEL_SPLIT_ID) flows through gopher ->
    vocab OOV -> exact-substring contamination -> fuzzy near-dup ->
    DSIR admission, every gate probing an artifact built from the
    ESTABLISHED corpus (doc_id < split) exactly as the production
    CorpusIngestV2 job probes its persisted model store.  One row per
    arriving doc: the first-failing-gate verdict and, for admits, the
    exact integer-floor DSIR weight.

    The verdict core is LITERALLY streaming/curation.py::
    corpus_funnel_verdicts — the function CorpusIngestV2 runs per
    micro-batch — so this oracle certifies the production job's
    composition, not a parallel reimplementation (the reference's
    analog: the composed 10-operator chain of MongoToKafkaJob.java:
    51-91 as the deliverable, not the operators alone).

    Scale shape: inherited stage by stage from the five standalone
    gates — gopher is scan-side column algebra, the vocab and llr
    model broadcast (16 rows / <=4096 rows), the substring probe is a
    semi-join against the window-hash index keyed on the 8-byte hash,
    the fuzzy probe is the capped band join (BAND_MAX_BUCKET) against
    the corpus index, and every per-doc rollup exchanges O(batch),
    never O(corpus)."""
    from streamforge_spark.queries.llm import MINHASH_THRESHOLD
    from streamforge_spark.queries.text import XS_K
    from streamforge_spark.streaming.curation import (
        FUNNEL_DSIR_THRESHOLD_MICRO, corpus_funnel_verdicts)
    (docs,) = prep(spark, sf_dir, "documents")
    est = docs.filter(F.col("doc_id") < FUNNEL_SPLIT_ID)
    new = docs.filter(F.col("doc_id") >= FUNNEL_SPLIT_ID)
    vocab, xs_index, mh_bands, mh_grams, llr = _funnel_artifacts(spark, est)
    out = corpus_funnel_verdicts(
        new, vocab=vocab, xs_index=xs_index,
        mh_bands=mh_bands, mh_grams=mh_grams, llr_model=llr,
        dsir_threshold_micro=FUNNEL_DSIR_THRESHOLD_MICRO,
        fuzzy_threshold=MINHASH_THRESHOLD,
        xs_k=XS_K)
    return out.select("doc_id", "verdict", "avg_llr_micro")


_FUNNEL_SUMMARY_ORACLE = f"""
WITH ledger AS ({{inner}})
SELECT verdict, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(avg_llr_micro), 0) AS BIGINT)
         AS admitted_llr_micro_sum
FROM ledger GROUP BY verdict
"""


@query("corpus_funnel_summary",
       oracle=_FUNNEL_SUMMARY_ORACLE.format(inner=_funnel_oracle().strip()))
def corpus_funnel_summary(spark, sf_dir):
    """The funnel's ops dashboard: per-verdict document counts over the
    arriving batch plus the admitted docs' total DSIR weight — what an
    ingest operator watches per window to spot a gate suddenly eating
    the corpus (a quality regression upstream shows up as a gopher/oov
    spike, a crawler loop as a substring/fuzzy spike).  A |verdicts|-
    row rollup over the corpus_funnel_report ledger; the funnel plan's
    cost dominates."""
    return (corpus_funnel_report(spark, sf_dir)
            .groupBy("verdict")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.coalesce(F.sum("avg_llr_micro"), F.lit(0))
                 .alias("admitted_llr_micro_sum")))


_FUNNEL_BY_SOURCE_ORACLE = """
WITH ledger AS ({inner}),
per AS (
  SELECT d.source, l.verdict,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(COALESCE(SUM(l.avg_llr_micro), 0) AS BIGINT)
           AS admitted_llr_micro_sum
  FROM ledger l JOIN documents d USING (doc_id)
  GROUP BY 1, 2),
tot AS (SELECT source, SUM(n_docs) AS t FROM per GROUP BY 1)
SELECT p.source, p.verdict, p.n_docs,
       CAST((1000000 * p.n_docs) // CAST(t.t AS BIGINT) AS BIGINT)
         AS source_share_ppm,
       p.admitted_llr_micro_sum
FROM per p JOIN tot t USING (source)
"""


@query("corpus_funnel_by_source",
       oracle=_FUNNEL_BY_SOURCE_ORACLE.format(inner=_funnel_oracle().strip()))
def corpus_funnel_by_source(spark, sf_dir):
    """The funnel dashboard CUT BY SOURCE — the diagnosis view behind
    corpus_funnel_summary's alarm: a gopher spike isolated to one
    crawler means that crawler broke (not the corpus); a substring or
    fuzzy spike concentrated in one source is a mirror/loop; a source
    whose admit share collapses is the one to pause at the intake.
    Per (source, verdict): doc count, the verdict's share of THAT
    source's arriving batch (integer ppm — comparable across sources
    of different volume), and the admitted DSIR weight sum.

    A |sources x verdicts|-row rollup joined onto the
    corpus_funnel_report ledger plus one per-source totals join; the
    funnel plan's cost dominates, the breakdown itself exchanges
    O(sources x verdicts)."""
    rep = corpus_funnel_report(spark, sf_dir)
    (docs,) = prep(spark, sf_dir, "documents")
    per = (rep.join(docs.select("doc_id", "source"), "doc_id")
           .groupBy("source", "verdict")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.coalesce(F.sum("avg_llr_micro"), F.lit(0))
                .alias("admitted_llr_micro_sum"))
           .localCheckpoint(eager=False))   # totals join reuses it
    tot = per.groupBy("source").agg(F.sum("n_docs").alias("t"))
    return (per.join(tot, "source")
            .select("source", "verdict", "n_docs",
                    F.expr("(1000000 * n_docs) div t")
                    .alias("source_share_ppm"),
                    "admitted_llr_micro_sum"))


_GATE_ORDER = ("gopher", "oov", "substring", "fuzzy", "dsir")

_GATE_COST_ORACLE_TMPL = """
WITH ledger AS ({inner}),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ledger),
rej AS (
  SELECT g.gate, g.stage,
         CAST(COALESCE(l.c, 0) AS BIGINT) AS n_rejected
  FROM (VALUES {gate_rows}) g(gate, stage)
  LEFT JOIN (SELECT verdict, count(*) AS c FROM ledger
             GROUP BY verdict) l ON l.verdict = g.gate),
cum AS (
  SELECT gate, stage, n_rejected,
         CAST(COALESCE(SUM(n_rejected) OVER (
           ORDER BY stage
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS rejected_before
  FROM rej)
SELECT c.gate, CAST(c.stage AS BIGINT) AS stage,
       t.n - c.rejected_before AS n_reached,
       c.n_rejected,
       CASE WHEN t.n - c.rejected_before > 0
            THEN (1000000 * c.n_rejected) // (t.n - c.rejected_before)
            ELSE 0 END AS rejected_share_ppm
FROM cum c CROSS JOIN tot t
"""


@query("funnel_gate_cost_report",
       oracle=_GATE_COST_ORACLE_TMPL.format(
           inner=_funnel_oracle().strip(),
           gate_rows=", ".join(f"('{g}', {i + 1})"
                               for i, g in enumerate(_GATE_ORDER))))
def funnel_gate_cost_report(spark, sf_dir):
    """The cheapest-first ordering, MEASURED: per funnel gate (in its
    fixed stage order), how many of the arriving batch's docs actually
    REACHED it — everything a cheaper earlier gate rejected never pays
    the later gate's join — how many it rejected, and the rejection
    share of its reached population (integer ppm).  n_reached is the
    gate's true cost driver at 100 TB: the report shows how much of
    the expensive fuzzy band join and DSIR scoring the scan-side
    gopher gate's rejections already paid for, and whether a
    reordering (e.g. a cheap gate that rejects almost nothing) is
    leaving savings on the table.

    A |gates|-row fold over the corpus_funnel_report ledger (one
    verdict rollup + a 5-row cumulative window); the funnel plan's
    cost dominates."""
    from pyspark.sql import Window
    # two consumers (totals + the per-verdict rollup): checkpoint so
    # the funnel computes once (the repo's 2-consumer discipline)
    rep = corpus_funnel_report(spark, sf_dir).localCheckpoint(eager=False)
    tot = rep.agg(F.count(F.lit(1)).alias("n"))
    gates = spark.createDataFrame(
        [(g, i + 1) for i, g in enumerate(_GATE_ORDER)],
        "gate string, stage long")
    rej = (gates.join(rep.groupBy("verdict")
                      .agg(F.count(F.lit(1)).alias("c")),
                      gates.gate == F.col("verdict"), "left")
           .select("gate", "stage",
                   F.coalesce("c", F.lit(0)).alias("n_rejected")))
    w = (Window.orderBy("stage")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum = rej.withColumn(
        "rejected_before",
        F.coalesce(F.sum("n_rejected").over(w), F.lit(0)))
    return (cum.crossJoin(F.broadcast(tot))
            .select("gate", "stage",
                    (F.col("n") - F.col("rejected_before"))
                    .alias("n_reached"),
                    "n_rejected",
                    F.when(F.col("n") - F.col("rejected_before") > 0,
                           F.expr("(1000000 * n_rejected) div "
                                  "(n - rejected_before)"))
                    .otherwise(0).alias("rejected_share_ppm")))


_WHAT_IF_ORACLE_TMPL = """
WITH v1 AS ({v1}),
v2 AS ({v2})
SELECT v1.doc_id,
       v1.verdict AS verdict_v1,
       v2.verdict AS verdict_v2,
       v1.verdict <> v2.verdict AS refiled
FROM v1 JOIN v2 USING (doc_id)
"""


@query("funnel_vocab_what_if",
       oracle=_WHAT_IF_ORACLE_TMPL.format(
           v1=_funnel_oracle().strip(),
           v2=_funnel_oracle(vocab_k=2 * FUNNEL_VOCAB_K).strip()))
def funnel_vocab_what_if(spark, sf_dir):
    """The replay decision table, oracle-certified: the SAME arriving
    batch graded under the current vocabulary artifact (v1, top
    FUNNEL_VOCAB_K terms) and under a candidate refit (v2, top 2K) —
    per doc both verdicts and a ``refiled`` flag.  This is the what-if
    an operator runs BEFORE shipping an artifact fix and triggering
    QuarantineReplay (jobs.py): the refiled set IS the set that replay
    would move, computed without touching the quarantine.  Verdict
    core shared with production both times (corpus_funnel_verdicts),
    so preview == replay by construction.

    Scale shape: the expensive artifacts (substring index, MinHash
    index, DSIR model) are built ONCE, concurrently with both
    vocabularies, and checkpointed for both funnel instances — only
    the 16-vs-32-row vocabulary differs.  The two gate chains run
    concurrently, and their verdict tables join on doc_id at
    O(batch)."""
    from streamforge_spark.queries.llm import MINHASH_THRESHOLD
    from streamforge_spark.queries.text import XS_K
    from streamforge_spark.streaming.curation import (
        FUNNEL_DSIR_THRESHOLD_MICRO, corpus_funnel_verdicts)
    (docs,) = prep(spark, sf_dir, "documents")
    est = docs.filter(F.col("doc_id") < FUNNEL_SPLIT_ID)
    new = docs.filter(F.col("doc_id") >= FUNNEL_SPLIT_ID)
    vocab1, xs_index, mh_bands, mh_grams, llr, vocab2 = _funnel_artifacts(
        spark, est,
        lambda: _funnel_vocab(est, 2 * FUNNEL_VOCAB_K).localCheckpoint())

    def graded(vocab, out_col):
        return corpus_funnel_verdicts(
            new, vocab=vocab, xs_index=xs_index,
            mh_bands=mh_bands, mh_grams=mh_grams, llr_model=llr,
            dsir_threshold_micro=FUNNEL_DSIR_THRESHOLD_MICRO,
            fuzzy_threshold=MINHASH_THRESHOLD, xs_k=XS_K
        ).select("doc_id", F.col("verdict").alias(out_col))

    # the two gate chains share only the pinned artifacts
    v1, v2 = in_flight(spark, lambda: graded(vocab1, "verdict_v1"),
                       lambda: graded(vocab2, "verdict_v2"))
    return (v1.join(v2, "doc_id")
            .select("doc_id", "verdict_v1", "verdict_v2",
                    (F.col("verdict_v1") != F.col("verdict_v2"))
                    .alias("refiled")))


@query("corpus_funnel_semantic_report", oracle=_funnel_oracle(semantic=True))
def corpus_funnel_semantic_report(spark, sf_dir):
    """The composed funnel with its SIXTH gate armed (r8-verdict item
    5): documents carrying an embedding probe the fixed-point IVF index
    built from the ESTABLISHED corpus between the fuzzy and DSIR
    stages — paraphrase-class near-dups that share no shingle band
    (so the fuzzy gate admits them) are caught semantically
    (SemDeDup-class admission, Abbas et al. 2023), verdict
    ``semantic``.  Documents WITHOUT an embedding skip the gate
    untouched: at sf0.1 three fifths of the corpus has no embedding
    row, so the NULL-skip path is exercised at bench scale, exactly
    the partially-embedded corpus a production ingest sees.

    The verdict core is LITERALLY streaming/curation.py::
    corpus_funnel_verdicts with ``ivf_centroids`` armed — the same
    call CorpusIngestV2 makes when IVF_INDEX_PATH is configured — and
    the semantic stage inside it is LITERALLY
    streaming_semantic_dedup_gate, the function the oracle-green
    semantic_ingest_gate certifies standalone.  Composition anchor:
    the reference ships composed chains, not loose operators
    (MongoToKafkaJob.java:51-91).

    Cost split (the >5s headline convention): the dominant cost here
    is ARTIFACT BUILD — vocab + substring index + MinHash index + DSIR
    model + the rounds-scan Lloyd trainer, all from the established
    split, rebuilt inline so the oracle can replay them.  The five
    builds share no intermediate and run concurrently
    (_funnel_artifacts), so they cost about their slowest member, the
    Lloyd trainer's sequential rounds, and the gate chain's own
    barriers follow.  Production
    (CorpusIngestV2) amortizes every one through the persisted model
    store and pays only the steady-state funnel: scan-side gopher,
    broadcast vocab/llr probes, two semi-joins against persisted
    indexes, the capped band join, the nprobe/k-pruned IVF probe join,
    and O(batch) verdict rollups — never O(corpus) per batch."""
    from streamforge_spark.functions.similarity import SEM_THRESHOLD
    from streamforge_spark.queries.llm import (
        MINHASH_THRESHOLD, SEM_GATE_NPROBE)
    from streamforge_spark.queries.text import XS_K
    from streamforge_spark.streaming.curation import (
        FUNNEL_DSIR_THRESHOLD_MICRO, corpus_funnel_verdicts)
    docs, emb = prep(spark, sf_dir, "documents", "embeddings")
    est = docs.filter(F.col("doc_id") < FUNNEL_SPLIT_ID)
    new = (docs.filter(F.col("doc_id") >= FUNNEL_SPLIT_ID)
           .join(emb.select(F.col("vec_id").alias("doc_id"), "embedding"),
                 "doc_id", "left"))
    est_emb = emb.filter(F.col("vec_id") < FUNNEL_SPLIT_ID)
    vocab, xs_index, mh_bands, mh_grams, llr, (C, ivf_vecs) = \
        _funnel_artifacts(spark, est, lambda: _funnel_ivf(est_emb))
    out = corpus_funnel_verdicts(
        new, vocab=vocab, xs_index=xs_index,
        mh_bands=mh_bands, mh_grams=mh_grams, llr_model=llr,
        dsir_threshold_micro=FUNNEL_DSIR_THRESHOLD_MICRO,
        fuzzy_threshold=MINHASH_THRESHOLD,
        xs_k=XS_K,
        ivf_centroids=C, ivf_vecs=ivf_vecs,
        semantic_threshold=SEM_THRESHOLD,
        semantic_nprobe=SEM_GATE_NPROBE)
    return out.select("doc_id", "verdict", "avg_llr_micro")


@query("corpus_funnel_ablation",
       oracle=_funnel_oracle(semantic=True, ablation=True))
def corpus_funnel_ablation(spark, sf_dir):
    """Gate-ablation report for the six-stage funnel: every gate is
    evaluated INDEPENDENTLY on the full arriving batch (no
    first-failing-gate precedence), and per gate the report counts
    total failures, UNIQUE kills (docs no other gate would catch),
    and shadowed failures (docs some other gate also rejects) plus
    the would-be admitted count.  This is the benefit side of
    funnel_gate_cost_report's cost-per-gate: a gate with near-zero
    unique kills is a candidate for removal or demotion regardless of
    how cheap it is, and a gate whose kills are all unique cannot be
    reordered behind a cheaper one without re-checking its survivors.

    The signals are LITERALLY the standalone gate functions
    (gopher_metrics, streaming_vocab_oov,
    streaming_substring_contamination, streaming_fuzzy_dedup_gate,
    streaming_semantic_dedup_gate, streaming_dsir_gate) run over the
    SAME persisted-artifact builds the funnel reports use — the only
    difference from corpus_funnel_semantic_report is that each gate
    sees the whole batch instead of the previous gate's survivors, so
    the flag table is the funnel's truth table, not a new semantics.

    Cost split (>5s headline convention): dominated by the inline
    artifact builds (vocab + substring index + MinHash index + DSIR
    model + Lloyd trainer) shared with corpus_funnel_semantic_report,
    run concurrently (_funnel_artifacts), so they cost about the
    slowest of them, the Lloyd trainer's sequential rounds;
    production amortizes them via the persisted model store, and the
    ablation itself adds one O(batch) six-flag join tree + a 6x-batch
    explode rollup.  Running every gate on the full batch costs more
    than the funnel's survivors-only chain BY DESIGN — that is the
    measurement, run per release candidate, not per micro-batch.

    Scale shape: each gate keeps its audited plan (scan-side algebra,
    broadcast probes, capped band join, nprobe-pruned IVF probe);
    the flag assembly is six per-doc equi-joins on doc_id (narrow
    boolean payloads), the unique-kill rollup is one map-side-combined
    aggregation over a 6-row-per-doc explode, and the admitted scalar
    is a one-row broadcast."""
    from streamforge_spark.functions.similarity import SEM_THRESHOLD
    from streamforge_spark.functions.text import gopher_metrics
    from streamforge_spark.queries.llm import (
        MINHASH_THRESHOLD, SEM_GATE_NPROBE)
    from streamforge_spark.queries.text import XS_K
    from streamforge_spark.streaming.curation import (
        FUNNEL_DSIR_THRESHOLD_MICRO, FUNNEL_OOV_MAX_PPM, streaming_dsir_gate,
        streaming_fuzzy_dedup_gate, streaming_semantic_dedup_gate,
        streaming_substring_contamination, streaming_vocab_oov)
    docs, emb = prep(spark, sf_dir, "documents", "embeddings")
    est = docs.filter(F.col("doc_id") < FUNNEL_SPLIT_ID)
    new = (docs.filter(F.col("doc_id") >= FUNNEL_SPLIT_ID)
           .select("doc_id", "text")
           .localCheckpoint(eager=False))
    est_emb = emb.filter(F.col("vec_id") < FUNNEL_SPLIT_ID)
    vocab, xs_index, mh_bands, mh_grams, llr, (C, ivf_vecs) = \
        _funnel_artifacts(spark, est, lambda: _funnel_ivf(est_emb))

    g = gopher_metrics(new)
    oov = streaming_vocab_oov(new, vocab)
    sub = streaming_substring_contamination(new, xs_index, k=XS_K)
    fz = streaming_fuzzy_dedup_gate(new, mh_bands, mh_grams,
                                    threshold=MINHASH_THRESHOLD)
    sem = streaming_semantic_dedup_gate(
        emb.filter(F.col("vec_id") >= FUNNEL_SPLIT_ID)
           .select("vec_id", "embedding"),
        C, ivf_vecs, threshold=SEM_THRESHOLD, nprobe=SEM_GATE_NPROBE)
    ds = streaming_dsir_gate(new, llr,
                             threshold_micro=FUNNEL_DSIR_THRESHOLD_MICRO)

    flags = (new.select("doc_id")
             .join(g.select("doc_id",
                            (~F.col("gopher_pass")).alias("f_gopher")),
                   "doc_id")
             .join(oov.select("doc_id",
                              (F.col("oov_ppm") > FUNNEL_OOV_MAX_PPM)
                              .alias("f_oov")), "doc_id")
             .join(sub.select("doc_id")
                   .withColumn("f_substring", F.lit(True)),
                   "doc_id", "left")
             .join(fz.select("doc_id",
                             (~F.col("admitted")).alias("f_fuzzy")),
                   "doc_id")
             .join(sem.select(F.col("vec_id").alias("doc_id"),
                              (~F.col("admitted")).alias("f_semantic")),
                   "doc_id", "left")
             .join(ds.select("doc_id",
                             (~F.col("admitted")).alias("f_dsir")),
                   "doc_id")
             .select("doc_id", "f_gopher", "f_oov",
                     F.coalesce("f_substring", F.lit(False))
                     .alias("f_substring"),
                     "f_fuzzy",
                     F.coalesce("f_semantic", F.lit(False))
                     .alias("f_semantic"),
                     "f_dsir"))
    gate_names = ["gopher", "oov", "substring", "fuzzy", "semantic", "dsir"]
    cnt = (flags.withColumn(
        "n_fails",
        sum(F.col(f"f_{n}").cast("int") for n in gate_names))
        .localCheckpoint(eager=False))
    adm = cnt.agg(F.count(F.when(F.col("n_fails") == 0, 1))
                  .alias("n_admitted"))
    ex = (cnt.select("n_fails", F.explode(F.array(*[
        F.struct(F.lit(n).alias("gate"), F.col(f"f_{n}").alias("fail"))
        for n in gate_names])).alias("g"))
        .select(F.col("g.gate").alias("gate"),
                F.col("g.fail").alias("fail"), "n_fails"))
    return (ex.groupBy("gate")
            .agg(F.count(F.when(F.col("fail"), 1)).alias("n_fail"),
                 F.count(F.when(F.col("fail") & (F.col("n_fails") == 1), 1))
                 .alias("n_unique_kill"))
            .withColumn("n_shadowed",
                        F.col("n_fail") - F.col("n_unique_kill"))
            .crossJoin(F.broadcast(adm)))
