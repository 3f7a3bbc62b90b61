"""Text-analysis + document-dedup queries over the documents table
(LLM-training-data-pipeline surface, BASELINE.json north star)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from streamforge_spark.functions.text import (
    BPE_PATTERN, LANG_MARKERS, STOPWORDS, bpe_token_count, bpe_tokens,
    distinct_token_count, fingerprint, lang_id, punct_count, quality_score,
    stopword_count, token_count, word_ngrams,
)
from streamforge_spark.io import spread_for_compute
from streamforge_spark.functions.simdedup import hash60_sql, oracle_hash60
from streamforge_spark.queries.common import prep
from streamforge_spark.registry import query


def _sql_markers(markers):
    return ", ".join(f"'{m}'" for m in markers)


@query(
    "text_stats",
    oracle=f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
       CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       CAST(len(list_filter(string_split(text, ' '),
                 x -> x IN ({_sql_markers(STOPWORDS)}))) AS BIGINT) AS n_stopwords
FROM documents
""",
)
def text_stats(spark, sf_dir):
    """Token counting + structural text statistics; pure column algebra
    on the scan (no shuffle, no UDF)."""
    (docs,) = prep(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        distinct_token_count(t).alias("n_distinct_tokens"),
        punct_count(t).alias("n_punct"),
        stopword_count(t).alias("n_stopwords"),
    )


@query(
    "doc_fingerprint",
    oracle="SELECT doc_id, md5(lower(text)) AS fp FROM documents",
)
def doc_fingerprint(spark, sf_dir):
    """Document content fingerprinting (md5 of normalized text)."""
    (docs,) = prep(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


@query(
    "quality_score",
    oracle="""
SELECT doc_id,
       0.4 * least(1.0, CAST(n_chars AS DOUBLE) / 500.0)
       + 0.3 * (1.0 - CASE WHEN n_chars > 0
                  THEN CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                       / CAST(n_chars AS DOUBLE) ELSE 0.0 END)
       + 0.3 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0) AS score
FROM documents
""",
)
def quality_score_q(spark, sf_dir):
    """Document quality scoring: length / punctuation / token-count
    heuristics composed into a [0,1] score."""
    (docs,) = prep(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", quality_score(F.col("text"), F.col("n_chars")).alias("score"))


def _lang_case_sql():
    langs = list(LANG_MARKERS)
    cnt = {
        lang: f"len(list_filter(string_split(text, ' '), x -> x IN ({_sql_markers(m)})))"
        for lang, m in LANG_MARKERS.items()
    }
    all_zero = " AND ".join(f"{cnt[lang]} = 0" for lang in langs)
    whens = []
    for i, lang in enumerate(langs[:-1]):
        cond = " AND ".join(f"{cnt[lang]} >= {cnt[later]}" for later in langs[i + 1:])
        whens.append(f"WHEN {cond} THEN '{lang}'")
    return (f"CASE WHEN {all_zero} THEN 'unknown' "
            + " ".join(whens) + f" ELSE '{langs[-1]}' END")


@query(
    "lang_id",
    oracle=f"SELECT doc_id, {_lang_case_sql()} AS lang_pred FROM documents",
)
def lang_id_q(spark, sf_dir):
    """Language ID by stopword-profile argmax (n-gram heuristic
    shape); deterministic tie-break by profile priority."""
    (docs,) = prep(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


@query(
    "dedup_exact",
    oracle="""
SELECT doc_id, fp FROM (
  SELECT doc_id, md5(text) AS fp,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
""",
)
def dedup_exact(spark, sf_dir):
    """Exact deduplication: hash-group by content digest, keep the
    lowest doc_id per group. At scale this is one shuffle on the
    digest; survivors stream out without collecting groups."""
    (docs,) = prep(spark, sf_dir, "documents")
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("fp"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


NGRAM_JACCARD_THRESHOLD = 0.2

#: Posting-length cap: shingles appearing in more than this many
#: documents are BOILERPLATE (license headers, navigation chrome,
#: templated phrases) and are dropped BEFORE the pair join.  Without
#: it one hot shingle in a boilerplate-heavy corpus makes the
#: candidate space quadratic in its posting length — the one
#: all-pairs escape hatch in the inverted-index design.  Evidence a
#: capped shingle would have carried is (a) redundant for true
#: near-dups (they share many RARE shingles too) and (b) noise for
#: everything else.  64 is far above the max df observed at the test
#: scales (25 at sf0.1), so small-scale results are cap-invisible;
#: the DuckDB oracles carry the identical cap so parity holds at any
#: scale.  test_posting_cap_linearity proves candidate growth stays
#: linear on a synthetic boilerplate corpus.
NGRAM_MAX_DF = 64

_NGRAM_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
glist AS (SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 2, 1)),
                   i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS gs
          FROM toks),
grams AS (SELECT doc_id, unnest(gs) AS g FROM glist),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM grams GROUP BY doc_id),
keptg AS (SELECT g FROM grams GROUP BY g
          HAVING count(*) BETWEEN 2 AND {NGRAM_MAX_DF}),
kept AS (SELECT doc_id, g FROM grams JOIN keptg USING (g)),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS i
          FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT d1, d2, CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = d1
JOIN sizes sb ON sb.doc_id = d2
WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= {NGRAM_JACCARD_THRESHOLD}
"""


def shingle_pair_candidates(docs, n: int = 3, max_df: int = NGRAM_MAX_DF):
    """Candidate near-dup pairs via a df-capped shingle inverted index
    — the shared machinery of dedup_ngram_jaccard and
    containment_near_dup.  Returns (d1, na, d2, nb) rows, one per
    (pair, shared-kept-shingle).

    Plan shape: one shingle explode (pinned — two consumers), a
    map-side-combined df count per 8-byte shingle hash, a
    `2 <= df <= max_df` filter, then a shuffle join of the surviving
    grams back on the hash.  The df filter runs BEFORE any posting
    list is materialised, so a hot shingle never builds an array row
    at all (the cap both bounds the i<j pair fan-out at O(max_df²)
    per shingle AND removes the single-giant-array executor OOM).
    The post-join groupBy("g") reuses the join's hash partitioning —
    no third exchange of the grams table.
    """
    grams = (
        spread_for_compute(docs, "doc_id")
        .select("doc_id", word_ngrams(F.col("text"), n).alias("gs"))
        # carry each doc's set size alongside its shingles so no
        # second text parse / size join is ever needed
        .select("doc_id", F.size("gs").cast("long").alias("n"),
                F.explode("gs").alias("g"))
        # shuffle 8-byte shingle hashes, not 20-40-byte strings: the
        # posting-list exchange is this query's dominant cost and the
        # hash is join-key-only (never in the output). Distinct-shingle
        # collisions (~n_grams²/2^65) can merge two posting lists —
        # immaterial for a near-dup metric and absent at oracle scale.
        .withColumn("g", F.xxhash64("g"))
        # two consumers (df count + join) — pin so the text scan and
        # shingle explode run once, not twice
        .localCheckpoint(eager=False)
    )
    keptg = (grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
             .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
             .select("g"))
    postings = (
        grams.join(keptg, "g")
        .groupBy("g")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n"))).alias("ds"))
    )
    return postings.select(F.explode(F.expr(
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, size(ds) - i - 1), "
        "y -> struct(x.doc_id AS d1, x.n AS na, y.doc_id AS d2, y.n AS nb))))"
    )).alias("p")).select("p.*")


@query("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE)
def dedup_ngram_jaccard(spark, sf_dir):
    """Near-duplicate pairs by word-3-gram (shingle) Jaccard.

    Distributed formulation (df-capped inverted-index blocking, ONE
    shingle pass — see shingle_pair_candidates): explode distinct
    shingles, drop shingles with document frequency > NGRAM_MAX_DF
    (boilerplate), group the posting list per surviving shingle, emit
    candidate i<j pairs with array higher-order functions, aggregate
    intersection counts, compute |A∩B| / (|A|+|B|-|A∩B|) with the
    FULL per-doc set sizes in the denominator (the cap prunes
    evidence, not the metric's normalisation).  MinHash+LSH
    (dedup_minhash_lsh) is the probabilistic variant that also cuts
    the candidate space.

    Output contract: because capped shingles are excluded from the
    intersection but not the denominator, the reported jaccard is a
    cap-conditioned LOWER BOUND — pairs linked mainly by boilerplate
    may fall below threshold.  ``hot_shingle_report`` is the audit of
    exactly what the cap excluded (which shingles, their df, example
    docs); run it alongside when tuning NGRAM_MAX_DF.
    """
    (docs,) = prep(spark, sf_dir, "documents")
    pairs = shingle_pair_candidates(docs, n=3)
    jac = (
        pairs.groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("i"),
             F.min("na").alias("na"), F.min("nb").alias("nb"))
        .select(
            "d1", "d2",
            (F.col("i").cast("double")
             / (F.col("na") + F.col("nb") - F.col("i")).cast("double")).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= NGRAM_JACCARD_THRESHOLD)


_SQL_BPE = BPE_PATTERN.replace("'", "''")   # SQL-literal-escaped regex


@query(
    "bpe_token_stats",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_SQL_BPE}')) AS BIGINT) AS n_bpe,
       CAST(len(list_distinct(regexp_extract_all(text, '{_SQL_BPE}'))) AS BIGINT)
         AS n_bpe_distinct
FROM documents
""",
)
def bpe_token_stats(spark, sf_dir):
    """BPE-ish regex pre-tokenization counts (token-budget estimation
    for training-data sizing). Pure column algebra on the scan — the
    regex runs inside codegen; DuckDB's RE2 and Spark's Java regex
    agree because the pattern uses only leftmost-first alternation."""
    (docs,) = prep(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        bpe_token_count(t).alias("n_bpe"),
        F.size(F.array_distinct(bpe_tokens(t))).cast("long").alias("n_bpe_distinct"),
    )


_SQL_SCORE = """0.4 * least(1.0, CAST(n_chars AS DOUBLE) / 500.0)
       + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                      / CAST(n_chars AS DOUBLE))
       + 0.3 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0)"""


@query(
    "corpus_curation",
    oracle=f"""
WITH survivors AS (
  SELECT doc_id, text, source, n_chars FROM (
    SELECT d.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents d
  ) WHERE rn = 1
),
scored AS (
  SELECT doc_id, source,
         {{lang_case}} AS lang_pred,
         {_SQL_SCORE} AS score,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM survivors
)
SELECT lang_pred, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(CAST(ROUND(score * 1000000) AS BIGINT)) AS BIGINT) AS score_sum_micros
FROM scored
WHERE lang_pred <> 'unknown' AND score >= 0.5
GROUP BY lang_pred, source
""".replace("{lang_case}", _lang_case_sql()),
)
def corpus_curation(spark, sf_dir):
    """End-to-end training-corpus curation pipeline in one plan:
    exact-dedup (md5 hash-group, lowest doc_id survives) -> language ID
    gate (drop 'unknown') -> quality-score gate (>= 0.5) -> per
    (lang, source) corpus stats (docs, tokens, integer-scaled score
    sum for bit-exact parity).

    Scale shape: lang/quality/token columns are computed ON THE SCAN
    (codegen, every row — including eventual dedup losers), so the one
    dedup shuffle carries only (digest, doc_id, 4 small derived
    columns) instead of the full text bytes: scoring a loser costs one
    in-cache pass over characters already read, while shuffling its
    text costs ~10x the bytes over the wire. Survivor selection is a
    map-side-combinable min_by on doc_id (no window sort); final
    rollup is a map-side-combined aggregate on a low-cardinality key.
    Measured ~30% faster than the window-after-shuffle form at sf0.1,
    and the gap widens with document size."""
    (docs,) = prep(spark, sf_dir, "documents")
    t = F.col("text")
    row = docs.select(
        F.md5(t).alias("digest"), "doc_id", "source",
        lang_id(t).alias("lang_pred"),
        quality_score(t, F.col("n_chars")).alias("score"),
        token_count(t).alias("n_tokens"))
    survivors = (row.groupBy("digest")
                 .agg(F.min_by(F.struct("source", "lang_pred", "score",
                                        "n_tokens"),
                               F.col("doc_id")).alias("s"))
                 .select("s.*"))
    return (
        survivors.filter((F.col("lang_pred") != "unknown")
                         & (F.col("score") >= 0.5))
        .groupBy("lang_pred", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tokens").alias("total_tokens"),
             F.sum(F.round(F.col("score") * 1000000).cast("long"))
              .alias("score_sum_micros"))
    )


@query(
    "dedup_clusters",
    oracle=f"""
WITH RECURSIVE pairs AS ({_NGRAM_ORACLE}),
edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION
  SELECT d2 AS a, d1 AS b FROM pairs
),
reach(node, label) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node
)
SELECT node AS doc_id, MIN(label) AS component
FROM reach GROUP BY node
""",
)
def dedup_clusters(spark, sf_dir):
    """Near-duplicate CLUSTERS: transitive closure of the n-gram
    Jaccard pair graph via iterative min-label propagation
    (operators/graph.py::connected_components) — pairs become groups,
    each labeled by its minimum doc_id (the canonical survivor). The
    oracle computes the same closure with a recursive CTE. Iterative /
    driver-looped, so this is the one query shape Catalyst can't plan
    in a single DAG; lineage is truncated per round."""
    from streamforge_spark.operators.graph import connected_components
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    return (connected_components(pairs, "d1", "d2")
            .select(F.col("node").alias("doc_id"), "component"))


CONTAINMENT_THRESHOLD = 0.8

_CONTAINMENT_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
glist AS (SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 2, 1)),
                   i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS gs
          FROM toks),
grams AS (SELECT doc_id, unnest(gs) AS g FROM glist),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM grams GROUP BY doc_id),
keptg AS (SELECT g FROM grams GROUP BY g
          HAVING count(*) BETWEEN 2 AND {NGRAM_MAX_DF}),
kept AS (SELECT doc_id, g FROM grams JOIN keptg USING (g)),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS i
          FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
directed AS (
  SELECT d1 AS contained, d2 AS container, i,
         CAST(i AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment
  FROM inter JOIN sizes sa ON sa.doc_id = d1
  UNION ALL
  SELECT d2 AS contained, d1 AS container, i,
         CAST(i AS DOUBLE) / CAST(sb.n AS DOUBLE) AS containment
  FROM inter JOIN sizes sb ON sb.doc_id = d2)
SELECT contained, container, i AS n_shared, containment
FROM directed WHERE containment >= {CONTAINMENT_THRESHOLD}
"""


@query("containment_near_dup", oracle=_CONTAINMENT_ORACLE)
def containment_near_dup(spark, sf_dir):
    """Asymmetric shingle *containment* |A∩B| / |A| — catches the dup
    class symmetric Jaccard misses: a short doc wholly embedded in a
    longer one (quote-plus-commentary, truncated re-crawls, snippet
    farms). The union denominator dilutes those pairs below any
    Jaccard threshold; the containment denominator does not.

    Scale shape: identical df-capped single-pass inverted-index
    blocking as dedup_ngram_jaccard (shared shingle_pair_candidates —
    one shingle explode, df cap before any posting list exists,
    posting lists on 8-byte shingle hashes, i<j pair aggregation),
    then each undirected pair fans into its two directed containments
    with a 2-element explode.  The cap matters doubly here: the old
    per-shingle collect_list built ONE unbounded array row for a hot
    shingle (executor OOM, not just pair blowup); now that shingle is
    dropped before the list aggregate.  Containment denominators stay
    the FULL per-doc set sizes.

    Output contract: reported containment is a cap-conditioned LOWER
    BOUND (capped shingles leave the numerator, not the denominator);
    ``hot_shingle_report`` audits what the cap excluded.
    """
    (docs,) = prep(spark, sf_dir, "documents")
    pairs = shingle_pair_candidates(docs, n=3)
    agg = pairs.groupBy("d1", "d2").agg(
        F.count(F.lit(1)).alias("i"),
        F.min("na").alias("na"), F.min("nb").alias("nb"))
    directed = agg.select(F.explode(F.array(
        F.struct(F.col("d1").alias("contained"), F.col("d2").alias("container"),
                 F.col("i").alias("n_shared"),
                 (F.col("i").cast("double") / F.col("na").cast("double"))
                 .alias("containment")),
        F.struct(F.col("d2").alias("contained"), F.col("d1").alias("container"),
                 F.col("i").alias("n_shared"),
                 (F.col("i").cast("double") / F.col("nb").cast("double"))
                 .alias("containment")),
    )).alias("c")).select("c.*")
    return directed.filter(F.col("containment") >= CONTAINMENT_THRESHOLD)


RETRIEVAL_TERMS = ("shuffle", "broadcast", "join", "window")
RETRIEVAL_K = 20

_RETRIEVAL_ORACLE = f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
ndocs AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
qtoks AS (SELECT doc_id, term FROM toks
          WHERE term IN {tuple(RETRIEVAL_TERMS)!r}),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM qtoks GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       FROM tf GROUP BY term)
SELECT tf.doc_id, SUM(tf.tf * (ndocs.nd - df.df)) AS score
FROM tf JOIN df USING (term) CROSS JOIN ndocs
GROUP BY tf.doc_id
ORDER BY score DESC, tf.doc_id
LIMIT {RETRIEVAL_K}
"""


@query("sparse_retrieval_topk", oracle=_RETRIEVAL_ORACLE)
def sparse_retrieval_topk(spark, sf_dir):
    """Sparse lexical retrieval: top-k documents for a term query,
    scored by tf × rarity (rarity = N − df — the integer-exact,
    log-free cousin of idf, so the oracle matches bit-for-bit; same
    convention as top_terms_per_doc). The retrieval counterpart to
    the dense ANN queries — the other half of a hybrid search stack.

    Scale shape: the query-term filter lands BEFORE any shuffle (the
    explode emits a token only if it's one of the handful of query
    terms — Catalyst pushes the IN filter into the same stage as the
    scan), so the aggregated tf table is |matching docs × terms|,
    not |corpus tokens|. df and N are tiny aggregates broadcast back;
    final top-k is TakeOrderedAndProject (per-partition heaps, no
    global sort). One corpus scan, one real shuffle (tf groupBy).
    """
    (docs,) = prep(spark, sf_dir, "documents")
    toks = (spread_for_compute(docs, "doc_id")
            .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
            .filter(F.col("term").isin(*RETRIEVAL_TERMS)))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df"))
    nd = docs.agg(F.count(F.lit(1)).alias("nd"))
    scored = (tf.join(F.broadcast(df), "term")
              .crossJoin(F.broadcast(nd))
              .groupBy("doc_id")
              .agg(F.sum(F.col("tf") * (F.col("nd") - F.col("df")))
                   .alias("score")))
    return scored.orderBy(F.col("score").desc(), "doc_id").limit(RETRIEVAL_K)


# -- document chunking (RAG / context-window preparation) ---------------

CHUNK_SIZE = 40     # tokens per chunk
CHUNK_STRIDE = 32   # tokens between chunk starts (size-stride overlap)

_CHUNK_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
idx AS (
  SELECT doc_id, t,
         generate_series(1, greatest(len(t) - 1, 0) // {CHUNK_STRIDE} + 1) AS ks
  FROM toks),
chunks AS (
  SELECT doc_id, CAST(k - 1 AS BIGINT) AS chunk_idx,
         t[(k - 1) * {CHUNK_STRIDE} + 1 :
           least((k - 1) * {CHUNK_STRIDE} + {CHUNK_SIZE}, len(t))] AS c
  FROM idx, unnest(idx.ks) AS u(k))
SELECT doc_id, chunk_idx,
       CAST(len(c) AS BIGINT) AS n_tokens,
       md5(array_to_string(c, ' ')) AS chunk_fp
FROM chunks
"""


@query("doc_chunks", oracle=_CHUNK_ORACLE)
def doc_chunks(spark, sf_dir):
    """Sliding-window document chunking — the RAG-indexing / context-
    window preparation step: every document becomes overlapping
    {SIZE}-token chunks at {STRIDE}-token stride (tail chunk keeps the
    remainder), each stamped with its token count and a content
    fingerprint (the id chunk-level dedup and vector indexes key on;
    segment_dedup and the embedding pipeline consume this shape).

    Pure array algebra on the scan: tokenize once, compute the chunk
    count arithmetically, explode chunk indexes, slice the shared
    token array per index — O(tokens·overlap_factor) per row, no
    shuffle, no Python, whole-stage codegen. At 100 TB chunking is a
    map-only stage that composes with any downstream exchange; the
    fingerprint means chunk text itself needs never be carried when
    only identity matters."""
    (docs,) = prep(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    nt = F.size(t)
    n_chunks = F.floor((F.greatest(nt - 1, F.lit(0))) / CHUNK_STRIDE) + 1
    tagged = docs.select(
        "doc_id", t.alias("t"),
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias("chunk_idx"))
    start = F.col("chunk_idx") * CHUNK_STRIDE + 1
    c = F.slice(F.col("t"), start, F.lit(CHUNK_SIZE))
    return tagged.select(
        "doc_id", F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(c).cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", c)).alias("chunk_fp"))


# -- hybrid retrieval (sparse + dense, reciprocal-rank fusion) ----------

RRF_K0 = 60          # standard RRF damping constant
RRF_DEPTH = 20       # per-system candidate depth
RRF_OUT = 10
RRF_QUERY_VEC = 0    # dense query: embedding of vec_id 0

_HYBRID_ORACLE = f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
ndocs AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
qtoks AS (SELECT doc_id, term FROM toks
          WHERE term IN {tuple(RETRIEVAL_TERMS)!r}),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM qtoks GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       FROM tf GROUP BY term),
sparse AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
  FROM (SELECT tf.doc_id, SUM(tf.tf * (ndocs.nd - df.df)) AS score
        FROM tf JOIN df USING (term) CROSS JOIN ndocs
        GROUP BY tf.doc_id)
  QUALIFY r <= {RRF_DEPTH}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = {RRF_QUERY_VEC}),
dense AS (
  SELECT vec_id AS doc_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS r
  FROM (SELECT e.vec_id,
               list_dot_product(e.v, q.qv)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
        FROM e CROSS JOIN q WHERE e.vec_id <> {RRF_QUERY_VEC})
  QUALIFY r <= {RRF_DEPTH})
SELECT doc_id, rrf_ppm, sparse_rank, dense_rank FROM (
  SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
         COALESCE(1000000 // ({RRF_K0} + s.r), 0)
           + COALESCE(1000000 // ({RRF_K0} + d.r), 0) AS rrf_ppm,
         s.r AS sparse_rank, d.r AS dense_rank,
         row_number() OVER (ORDER BY
           COALESCE(1000000 // ({RRF_K0} + s.r), 0)
             + COALESCE(1000000 // ({RRF_K0} + d.r), 0) DESC,
           COALESCE(s.doc_id, d.doc_id)) AS rn
  FROM sparse s FULL OUTER JOIN dense d ON d.doc_id = s.doc_id)
WHERE rn <= {RRF_OUT}
"""


@query("hybrid_retrieval_rrf", oracle=_HYBRID_ORACLE)
def hybrid_retrieval_rrf(spark, sf_dir):
    """Hybrid search: fuse the sparse lexical top-{D} (tf × rarity,
    sparse_retrieval_topk's scorer) with the dense embedding top-{D}
    (exact cosine to the query vector) by reciprocal-rank fusion —
    score = Σ 1/(60 + rank) over the systems a document appears in,
    here as exact integer parts-per-million (floor division) so the
    fused ranking is bit-portable. RRF is the standard production
    fusion: rank-based, so the two systems' incomparable score scales
    never meet.

    Scale shape: each leg is its own already-audited plan (sparse:
    filter-before-shuffle + TakeOrdered heap; dense: the cosine scan —
    swap in ann_lsh_topk/ann_ivf_fixed_topk for the candidate-pruned
    leg at 100 TB, fusion is rank-only and doesn't care); fusion
    itself is a {D}-row full-outer join + one {D}-row sort. The
    full-outer is the point: a doc ranked by either system alone
    still fuses."""
    docs, emb = prep(spark, sf_dir, "documents", "embeddings")
    toks = (spread_for_compute(docs, "doc_id")
            .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
            .filter(F.col("term").isin(*RETRIEVAL_TERMS)))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfr = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    nd = docs.agg(F.count(F.lit(1)).alias("nd"))
    sparse_scored = (tf.join(F.broadcast(dfr), "term")
                     .crossJoin(F.broadcast(nd))
                     .groupBy("doc_id")
                     .agg(F.sum(F.col("tf") * (F.col("nd") - F.col("df")))
                          .alias("score")))
    ws = Window.orderBy(F.col("score").desc(), "doc_id")
    sparse = (sparse_scored.withColumn("r", F.row_number().over(ws))
              .filter(F.col("r") <= RRF_DEPTH)
              .select("doc_id", F.col("r").alias("sr")))

    from streamforge_spark.queries.embeddings import cosine
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = (e.filter(F.col("vec_id") == RRF_QUERY_VEC)
         .select(F.col("v").alias("qv")))
    wd = Window.orderBy(F.col("cos").desc(), "vec_id")
    dense = (e.filter(F.col("vec_id") != RRF_QUERY_VEC)
             .crossJoin(F.broadcast(q))
             .select("vec_id", cosine(F.col("v"), F.col("qv")).alias("cos"))
             .withColumn("r", F.row_number().over(wd))
             .filter(F.col("r") <= RRF_DEPTH)
             .select(F.col("vec_id").alias("doc_id"), F.col("r").alias("dr")))

    fused = sparse.join(dense, "doc_id", "full_outer")
    contrib = (F.coalesce(F.expr(f"1000000 div ({RRF_K0} + sr)"), F.lit(0))
               + F.coalesce(F.expr(f"1000000 div ({RRF_K0} + dr)"), F.lit(0)))
    wr = Window.orderBy(F.col("rrf_ppm").desc(), "doc_id")
    return (fused.select("doc_id", contrib.alias("rrf_ppm"),
                         F.col("sr").cast("long").alias("sparse_rank"),
                         F.col("dr").cast("long").alias("dense_rank"))
            .withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") <= RRF_OUT).drop("rn"))


FH_DIM = 32  # feature-hashing target dimensionality


_FEATURE_HASH_ORACLE = f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents)
SELECT doc_id,
       CAST({hash60_sql('w')} % {FH_DIM} AS INTEGER) AS j,
       CAST(count(*) AS BIGINT) AS weight
FROM toks GROUP BY 1, 2
"""


@query("feature_hash_vectors", oracle=_FEATURE_HASH_ORACLE)
def feature_hash_vectors(spark, sf_dir):
    """Feature hashing (Weinberger et al. 2009): model-free document
    vectors — each token hashes to one of ``FH_DIM`` buckets, the
    bucket weight is the token count. The trick that gives every doc a
    fixed-width trainable/searchable vector with NO vocabulary table
    and NO training pass, which is why it scales embarrassingly: the
    "model" is a hash function.

    Emits sparse (doc_id, j, weight) triples — zero buckets cost
    nothing. Plan (100 TB): token explode + ONE map-side-combined
    aggregation on (doc_id, j); no joins, no broadcast state, no
    Python."""
    (docs,) = prep(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    return (toks.groupBy(
        "doc_id",
        (oracle_hash60(F.col("w")) % FH_DIM).cast("int").alias("j"))
        .agg(F.count(F.lit(1)).alias("weight")))


_SOURCE_DRIFT_ORACLE = """
WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w
              FROM documents),
sc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM toks
       GROUP BY source, w),
tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM sc GROUP BY source),
corpus AS (SELECT w, CAST(sum(c) AS BIGINT) AS cc FROM sc GROUP BY w),
nall AS (SELECT CAST(sum(cc) AS BIGINT) AS nc FROM corpus),
diff AS (
  SELECT t.source,
         abs(COALESCE(s.c, 0) * nall.nc - corpus.cc * t.n) AS d,
         t.n, nall.nc
  FROM corpus CROSS JOIN nall
  CROSS JOIN tot t
  LEFT JOIN sc s ON s.w = corpus.w AND s.source = t.source)
SELECT source,
       CAST(sum(d) AS DOUBLE) / (2.0 * CAST(max(n) AS DOUBLE)
                                 * CAST(max(nc) AS DOUBLE)) AS tv_distance
FROM diff GROUP BY source
"""


@query("source_token_drift", oracle=_SOURCE_DRIFT_ORACLE)
def source_token_drift(spark, sf_dir):
    """Per-source token-distribution drift: total-variation distance
    between each source's unigram distribution and the corpus-wide
    distribution — the corpus-mixing diagnostic that flags a feed whose
    text has shifted (new boilerplate, language mix change, scraper
    breakage). All comparisons are cross-multiplied BIGINTs (c_s*N -
    c*N_s), so the sum is exact and order-independent; the single
    closing division is the only float op.

    Plan (100 TB): token counts per (source, w) are one map-side
    combined shuffle; the corpus distribution is a rollup of that
    (vocab-sized, NOT corpus-sized). The vocab x sources expansion is
    |vocab| * |sources| rows of integer algebra — broadcast-joined
    against the tiny totals — and the result is one row per source."""
    (docs,) = prep(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("w"))
    sc = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    tot = sc.groupBy("source").agg(F.sum("c").alias("n"))
    corpus = sc.groupBy("w").agg(F.sum("c").alias("cc"))
    nc = corpus.agg(F.sum("cc").alias("nc"))
    expanded = (corpus.crossJoin(F.broadcast(nc))
                .crossJoin(F.broadcast(tot))
                .join(sc, ["w", "source"], "left")
                .select("source", "n", "nc",
                        F.abs(F.coalesce(F.col("c"), F.lit(0)) * F.col("nc")
                              - F.col("cc") * F.col("n")).alias("d")))
    return expanded.groupBy("source").agg(
        (F.sum("d").cast("double")
         / (F.lit(2.0) * F.max("n").cast("double") * F.max("nc").cast("double"))
         ).alias("tv_distance"))


_SIMPSON_ORACLE = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents),
cnt AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM toks
        GROUP BY doc_id, w)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       (1000000 * (sum(c) * sum(c) - sum(c * c)))
         // (sum(c) * sum(c)) AS diversity_ppm
FROM cnt GROUP BY doc_id
"""


@query("doc_diversity_simpson", oracle=_SIMPSON_ORACLE)
def doc_diversity_simpson(spark, sf_dir):
    """Lexical diversity via the Gini–Simpson index, 1 - sum(p_i^2):
    the probability two random tokens differ — near 0 flags degenerate
    repeated-token documents (a Gopher-style quality gate that, unlike
    entropy, is exact in integer arithmetic: ppm = (n^2 - sum c^2) *
    1e6 // n^2, truncating division on both engines).

    Plan (100 TB): token explode + ONE (doc_id, w) map-side-combined
    count, then a per-doc rollup that reuses the same doc_id-prefixed
    exchange. No joins, no floats."""
    (docs,) = prep(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    cnt = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c") * F.col("c")).alias("sum_c2"))
    return agg.select(
        "doc_id", "n_tokens", "n_types",
        F.expr("(1000000 * (n_tokens * n_tokens - sum_c2)) "
               "DIV (n_tokens * n_tokens)").alias("diversity_ppm"))



_FERTILITY_ORACLE = f"""
WITH per_doc AS (
  SELECT {_lang_case_sql()} AS lang_pred,
         CAST(len(regexp_extract_all(text, '{_SQL_BPE}')) AS BIGINT) AS n_bpe,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
  FROM documents)
SELECT lang_pred,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bpe) AS BIGINT) AS total_bpe,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       (1000000 * sum(n_bpe)) // sum(n_words) AS fertility_ppm
FROM per_doc GROUP BY lang_pred
"""


@query("tokenizer_fertility_by_lang", oracle=_FERTILITY_ORACLE)
def tokenizer_fertility_by_lang(spark, sf_dir):
    """Tokenizer fertility (BPE tokens per whitespace word) per
    detected language — the metric that decides whether a tokenizer
    taxes some languages with longer sequences (fertility >> 1e6 ppm
    means more compute per word for that language). Exact integer
    ppm over corpus-summed counts.

    Plan: language ID, BPE counting, and word counting are one
    scan-side projection; the rollup is a |langs|-row aggregate."""
    (docs,) = prep(spark, sf_dir, "documents")
    t = F.col("text")
    per_doc = docs.select(
        lang_id(t).alias("lang_pred"),
        bpe_token_count(t).alias("n_bpe"),
        token_count(t).alias("n_words"))
    return (per_doc.groupBy("lang_pred")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_bpe").alias("total_bpe"),
                 F.sum("n_words").alias("total_words"))
            .select("lang_pred", "n_docs", "total_bpe", "total_words",
                    F.expr("(1000000 * total_bpe) DIV total_words")
                    .alias("fertility_ppm")))


_SOFT_DEDUP_ORACLE = f"""
WITH RECURSIVE pairs AS ({_NGRAM_ORACLE}),
edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION
  SELECT d2 AS a, d1 AS b FROM pairs
),
reach(node, label) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node
),
comp AS (SELECT node AS doc_id, MIN(label) AS component
         FROM reach GROUP BY node),
sizes AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
          FROM comp GROUP BY component),
d AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents)
SELECT d.doc_id,
       COALESCE(c.component, d.doc_id) AS component,
       COALESCE(s.cluster_size, 1) AS cluster_size,
       1000000 // COALESCE(s.cluster_size, 1) AS weight_ppm,
       d.n_tokens,
       (d.n_tokens * (1000000 // COALESCE(s.cluster_size, 1))) // 1000000
         AS weighted_tokens
FROM d
LEFT JOIN comp c ON c.doc_id = d.doc_id
LEFT JOIN sizes s ON s.component = c.component
"""


@query("soft_dedup_weights", oracle=_SOFT_DEDUP_ORACLE)
def soft_dedup_weights(spark, sf_dir):
    """SOFT deduplication: instead of dropping near-duplicates, weight
    every document by 1/cluster_size (ppm-exact) so a k-way duplicate
    cluster contributes one document's worth of training mass in
    expectation (the Falcon/RefinedWeb-style alternative to hard
    removal — keeps benign repetition signal, kills over-sampling).
    Emits per-doc cluster id, cluster size, sampling weight, and the
    weighted token budget the doc contributes.

    Scale shape: rides dedup_ngram_jaccard's pair generation and the
    iterative min-label closure (operators/graph.py) unchanged; the
    additions are one map-side-combined size rollup over the
    (clustered-docs-only) component table and two LEFT equi-joins back
    to the corpus token counts. Weights are integer ppm with
    truncating division on both engines — no float sampling math."""
    from streamforge_spark.operators.graph import connected_components
    (docs,) = prep(spark, sf_dir, "documents")
    comp = (connected_components(
        dedup_ngram_jaccard(spark, sf_dir), "d1", "d2")
        .select(F.col("node").alias("doc_id"), "component"))
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    d = docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    return (d.join(comp, "doc_id", "left")
            .join(sizes, "component", "left")
            .select(
                "doc_id",
                F.coalesce("component", F.col("doc_id")).alias("component"),
                F.coalesce("cluster_size", F.lit(1)).cast("long")
                 .alias("cluster_size"),
                "n_tokens")
            .withColumn("weight_ppm", F.expr("1000000 div cluster_size"))
            .withColumn("weighted_tokens",
                        F.expr("(n_tokens * (1000000 div cluster_size)) "
                               "div 1000000"))
            .select("doc_id", "component", "cluster_size", "weight_ppm",
                    "n_tokens", "weighted_tokens"))


_NOVELTY_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
glist AS (SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 2, 1)),
                   i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS gs
          FROM toks),
grams AS (SELECT doc_id, unnest(gs) AS g FROM glist),
dfreq AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM grams GROUP BY g)
SELECT gr.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(CASE WHEN d.df = 1 THEN 1 END) AS BIGINT) AS n_unique,
       (1000000 * count(CASE WHEN d.df = 1 THEN 1 END)) // count(*)
         AS novelty_ppm
FROM grams gr JOIN dfreq d ON d.g = gr.g
GROUP BY gr.doc_id
"""


@query("doc_novelty", oracle=_NOVELTY_ORACLE)
def doc_novelty(spark, sf_dir):
    """Document novelty scoring: the fraction of a document's distinct
    word-3-gram shingles that appear NOWHERE else in the corpus
    (corpus-level document frequency = 1) — high novelty marks
    original content worth up-sampling; near-zero novelty marks
    template/boilerplate-dominated docs even when no single pair
    crosses a near-dup threshold. The per-document complement of
    boilerplate_strip's per-segment verdicts.

    Scale shape: same narrow discipline as boilerplate_strip — the
    shuffled rows are (doc_id, 8-byte shingle hash); document
    frequency is one map-side-combined rollup; the df table joins back
    on the hash and the per-doc ratio is an integer-ppm fold. No
    shingle strings in any exchange."""
    (docs,) = prep(spark, sf_dir, "documents")
    grams = (spread_for_compute(docs, "doc_id")
             .select("doc_id", F.explode(
                 word_ngrams(F.col("text"), 3)).alias("g"))
             .withColumn("h", F.xxhash64("g")).drop("g"))
    dfreq = grams.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    uniq = F.count(F.when(F.col("df") == 1, F.lit(1)))
    return (grams.join(dfreq, "h")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 uniq.alias("n_unique"))
            .withColumn("novelty_ppm",
                        F.expr("(1000000 * n_unique) div n_shingles")))


# -- collocation mining over a bounded vocabulary -----------------------

COLLOC_VOCAB = 100      # pair universe: top-df tokens only
COLLOC_MIN_DOCS = 5     # min co-occurrence support

_COLLOC_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(list_distinct(string_split(text, ' '))) AS tok
  FROM documents),
df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY tok),
vocab AS (
  SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT {COLLOC_VOCAB}),
vt AS (SELECT t.doc_id, t.tok FROM toks t JOIN vocab v ON t.tok = v.tok),
pairs AS (
  SELECT a.tok AS t1, b.tok AS t2, CAST(COUNT(*) AS BIGINT) AS both_docs
  FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2
  HAVING COUNT(*) >= {COLLOC_MIN_DOCS}),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents)
SELECT p.t1, p.t2, p.both_docs,
       (p.both_docs * n.nd * 1000000) // (v1.df * v2.df) AS lift_ppm
FROM pairs p
JOIN vocab v1 ON p.t1 = v1.tok
JOIN vocab v2 ON p.t2 = v2.tok
CROSS JOIN n
ORDER BY lift_ppm DESC, t1, t2
LIMIT 20
"""


@query("term_collocations", oracle=_COLLOC_ORACLE)
def term_collocations(spark, sf_dir):
    """Collocation mining: the 20 most-associated token pairs (by
    integer-ppm lift = P(both)/(P(a)P(b))) among the {COLLOC_VOCAB}
    highest-document-frequency tokens — phrase/entity discovery with
    the pair universe BOUNDED by construction, so the quadratic step
    can never follow corpus growth.

    Scale: one distinct-token projection (8-byte-ish tokens, text
    never shuffles), a df rollup, a top-{COLLOC_VOCAB} vocabulary via
    TakeOrderedAndProject that BROADCASTS into the token stream, and
    per-doc pair generation only over vocabulary hits (≤ vocab²/2
    per doc, typically far fewer).  Lift is floor-division ppm —
    exact, no logs.
    """
    from streamforge_spark.functions.text import tokens
    (docs,) = prep(spark, sf_dir, "documents")
    toks = (docs.select("doc_id",
                        F.explode(F.array_distinct(tokens(F.col("text"))))
                        .alias("tok"))
            .localCheckpoint(eager=False))
    df = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    vocab = df.orderBy(F.col("df").desc(), "tok").limit(COLLOC_VOCAB) \
              .localCheckpoint(eager=False)
    vt = toks.join(F.broadcast(vocab.select("tok")), "tok")
    a = vt.select("doc_id", F.col("tok").alias("t1"))
    b = vt.select(F.col("doc_id").alias("d2"), F.col("tok").alias("t2"))
    pairs = (a.join(b, (a["doc_id"] == b["d2"]) & (a["t1"] < b["t2"]))
             .groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("both_docs"))
             .where(F.col("both_docs") >= COLLOC_MIN_DOCS))
    nd = docs.agg(F.count(F.lit(1)).alias("nd"))
    v1 = vocab.select(F.col("tok").alias("t1"), F.col("df").alias("df1"))
    v2 = vocab.select(F.col("tok").alias("t2"), F.col("df").alias("df2"))
    return (pairs.join(F.broadcast(v1), "t1").join(F.broadcast(v2), "t2")
            .crossJoin(F.broadcast(nd))
            .select("t1", "t2", "both_docs",
                    F.expr("(both_docs * nd * 1000000) div (df1 * df2)")
                    .alias("lift_ppm"))
            .orderBy(F.col("lift_ppm").desc(), "t1", "t2")
            .limit(20))


# -- readability + Zipf-law corpus statistics ---------------------------

_ARI_ORACLE = """
WITH f AS (
  SELECT doc_id,
         CAST(len(replace(text, ' ', '')) AS BIGINT) AS chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
         GREATEST(CAST(len(text) - len(replace(replace(replace(text, '.', ''),
                  '!', ''), '?', '')) AS BIGINT), 1) AS sents
  FROM documents)
SELECT doc_id, chars, words, sents,
       (4.71 * (CAST(chars AS DOUBLE) / CAST(words AS DOUBLE)))
         + (0.5 * (CAST(words AS DOUBLE) / CAST(sents AS DOUBLE)))
         - 21.43 AS ari
FROM f WHERE words > 0
"""


@query("readability_ari", oracle=_ARI_ORACLE)
def readability_ari(spark, sf_dir):
    """Automated Readability Index per document — the grade-level
    score corpus-quality filters use alongside `quality_score`'s
    ratio gates (too-low = fragments/listicles, too-high = OCR noise
    and run-ons).

    Counts (chars sans spaces, whitespace tokens, sentence
    terminators with a floor of 1) are exact integers; the ARI
    itself is ONE fixed IEEE sequence — two divisions, two products,
    one subtraction, identical on both engines.  Pure scan-side
    projection: no shuffle, no Python.
    """
    (docs,) = prep(spark, sf_dir, "documents")
    tx = F.col("text")
    chars = F.length(F.regexp_replace(tx, " ", "")).cast("long")
    words = token_count(tx)
    sents = F.greatest(
        (F.length(tx) - F.length(F.regexp_replace(tx, "[.!?]", "")))
        .cast("long"), F.lit(1))
    f = docs.select("doc_id", chars.alias("chars"), words.alias("words"),
                    sents.alias("sents"))
    return (f.where(F.col("words") > 0)
            .select("doc_id", "chars", "words", "sents",
                    ((F.lit(4.71) * (F.col("chars").cast("double")
                                     / F.col("words").cast("double")))
                     + (F.lit(0.5) * (F.col("words").cast("double")
                                      / F.col("sents").cast("double")))
                     - F.lit(21.43)).alias("ari")))


_ZIPF_ORACLE = """
WITH tok AS (
  SELECT UNNEST(string_split(text, ' ')) AS t FROM documents),
freq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS f FROM tok
         WHERE t <> '' GROUP BY t),
ranked AS (
  SELECT t, f, ROW_NUMBER() OVER (ORDER BY f DESC, t) AS r
  FROM freq),
top AS (SELECT * FROM ranked WHERE r <= 50),
base AS (SELECT f AS f1 FROM top WHERE r = 1)
SELECT r AS rank, t AS token, f AS freq,
       (r * f * 1000000) // (SELECT f1 FROM base) AS zipf_product_ppm
FROM top
"""


@query("zipf_check", oracle=_ZIPF_ORACLE)
def zipf_check(spark, sf_dir):
    """Zipf's-law audit: for the 50 most frequent tokens, rank ×
    frequency normalized by the top frequency (ppm) — a healthy
    natural-language corpus keeps this product roughly flat; machine-
    generated or template-heavy corpora bend it, making this a cheap
    generation-artifact detector.

    One token rollup (map-side combined, tokens only — text never
    shuffles), top-50 via TakeOrderedAndProject, and the ppm products
    are exact floor-division integers.
    """
    from streamforge_spark.functions.text import tokens
    (docs,) = prep(spark, sf_dir, "documents")
    freq = (docs.select(F.explode(tokens(F.col("text"))).alias("t"))
            .where(F.col("t") != "")
            .groupBy("t").agg(F.count(F.lit(1)).alias("f")))
    ranked = (freq.orderBy(F.col("f").desc(), "t").limit(50)
              .select("t", "f",
                      F.row_number().over(
                          Window.orderBy(F.col("f").desc(), "t"))
                      .alias("r"))
              .localCheckpoint(eager=False))
    base = ranked.where(F.col("r") == 1).select(F.col("f").alias("f1"))
    return (ranked.crossJoin(F.broadcast(base))
            .select(F.col("r").alias("rank"), F.col("t").alias("token"),
                    F.col("f").alias("freq"),
                    F.expr("(r * f * 1000000) div f1")
                    .alias("zipf_product_ppm")))


# -- dedup-cluster quality audit (chaining detection) -------------------

_CLUSTER_AUDIT_ORACLE = f"""
WITH RECURSIVE pairs AS MATERIALIZED ({_NGRAM_ORACLE}),
edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION
  SELECT d2 AS a, d1 AS b FROM pairs
),
reach(node, label) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node
),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
per AS (
  SELECT c.component,
         CAST(COUNT(DISTINCT p.d1 || '-' || p.d2) AS BIGINT) AS n_edges,
         MIN(p.jaccard) AS min_edge_jaccard
  FROM pairs p JOIN comp c ON p.d1 = c.node
  GROUP BY c.component),
sizes AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS size
          FROM comp GROUP BY component)
SELECT s.component, s.size, per.n_edges, per.min_edge_jaccard,
       per.n_edges = s.size - 1 AND s.size >= 3 AS chain_risk
FROM sizes s JOIN per ON per.component = s.component
WHERE s.size >= 2
"""


@query("dedup_cluster_audit", oracle=_CLUSTER_AUDIT_ORACLE)
def dedup_cluster_audit(spark, sf_dir):
    """Quality audit of the near-dup clusters: per component, its
    size, detected-edge count, weakest edge similarity, and a
    CHAIN-RISK flag (tree-sparse components of size ≥ 3: A~B~C linked
    only through B means A and C may not resemble each other at all —
    the classic transitive-closure over-merge that deletes
    non-duplicates).

    Composes the existing pieces: the inverted-index pair generator +
    min-label closure; the audit adds one pairs⨝components join and
    two dimension-scale rollups.  min(jaccard) over an identical edge
    set is engine-deterministic, so the audit is fully
    oracle-checked.
    """
    from streamforge_spark.operators.graph import connected_components
    pairs = dedup_ngram_jaccard(spark, sf_dir).localCheckpoint(eager=False)
    comp = connected_components(pairs, "d1", "d2")
    per = (pairs.join(comp, pairs["d1"] == comp["node"])
           .groupBy("component")
           .agg(F.count(F.lit(1)).alias("n_edges"),
                F.min("jaccard").alias("min_edge_jaccard")))
    sizes = (comp.groupBy("component")
             .agg(F.count(F.lit(1)).alias("size")))
    return (sizes.join(per, "component")
            .where(F.col("size") >= 2)
            .select("component", "size", "n_edges", "min_edge_jaccard",
                    ((F.col("n_edges") == F.col("size") - 1)
                     & (F.col("size") >= 3)).alias("chain_risk")))


_LANG_CONFUSION_ORACLE = f"""
WITH pred AS (
  SELECT lang AS true_lang, {{lang_case}} AS pred_lang FROM documents)
SELECT true_lang, pred_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       (COUNT(*) * 1000000) // SUM(COUNT(*)) OVER (PARTITION BY true_lang)
         AS row_share_ppm
FROM pred GROUP BY true_lang, pred_lang
""".replace("{lang_case}", _lang_case_sql())


@query("lang_confusion_matrix", oracle=_LANG_CONFUSION_ORACLE)
def lang_confusion_matrix(spark, sf_dir):
    """Language-ID evaluation: the confusion matrix of the n-gram
    heuristic (`functions/text.py::lang_id`) against the fixture's
    ground-truth ``lang`` column, with per-true-language row shares
    in exact ppm — the accuracy report that justifies (or indicts)
    the curation pipeline's language gate.

    One scan-side prediction + one map-side-combined (true, pred)
    rollup; the row-share window runs over the tiny |langs|² matrix.
    """
    (docs,) = prep(spark, sf_dir, "documents")
    pred = docs.select(F.col("lang").alias("true_lang"),
                       lang_id(F.col("text")).alias("pred_lang"))
    m = (pred.groupBy("true_lang", "pred_lang")
         .agg(F.count(F.lit(1)).alias("n_docs")))
    w = Window.partitionBy("true_lang")
    return m.select("true_lang", "pred_lang", "n_docs",
                    F.expr("n_docs * 1000000").cast("long")
                    .alias("_num")) \
            .withColumn("row_share_ppm",
                        F.expr("_num div sum(n_docs) over "
                               "(partition by true_lang)")) \
            .drop("_num")


MG_K = 50   # heavy-hitter threshold: frequency > n_tokens / MG_K

_HEAVY_HITTERS_ORACLE = f"""
WITH t AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
tt AS (SELECT token FROM t WHERE token <> ''),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tt)
SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
FROM tt, n
GROUP BY token, n.n
HAVING COUNT(*) * {MG_K} > n.n
"""


@query("heavy_hitters_misra_gries", oracle=_HEAVY_HITTERS_ORACLE)
def heavy_hitters_misra_gries(spark, sf_dir):
    """EXACT corpus heavy hitters (tokens with frequency > n/k,
    k={k}) via the Misra-Gries mergeable-summary pattern (Agarwal et
    al., "Mergeable Summaries", PODS'12): each partition keeps a
    k-counter MG sketch of its own token stream (Arrow-batched
    mapInPandas — the sketch is WHY Python appears: it exists to
    avoid materializing the full token domain), the per-partition
    candidate sets union into a tiny driver-free DataFrame, and a
    second pass counts ONLY candidate tokens exactly.

    Correctness is unconditional: any token with global frequency
    > n/k must exceed n_p/k in at least one partition (pigeonhole),
    so the candidate union is a guaranteed superset whatever the
    partitioning; the exact verify pass then removes false
    candidates.  Result is deterministic even though the intermediate
    sketch contents aren't.

    100 TB shape: the full token stream is NEVER shuffled on token —
    the only token-keyed aggregation is over rows matching <= k x
    partitions candidate keys (semi-join filter before the exchange);
    everything else is partition-local.  Compare `groupBy(token)`:
    one shuffle of the entire token domain.
    """
    import pandas as pd

    (docs,) = prep(spark, sf_dir, "documents")
    toks = (spread_for_compute(docs, "doc_id")
            .select(F.explode(F.split("text", " ")).alias("token"))
            .where(F.col("token") != ""))

    k = MG_K

    def mg_candidates(batches):
        # classic Misra-Gries with batched decrement: merge each Arrow
        # batch's value_counts, then while more than k counters live,
        # subtract the overflow-th smallest count from all (equivalent
        # to that many k+1-way decrement rounds)
        counters: dict = {}
        for pdf in batches:
            for t, c in pdf["token"].value_counts().items():
                counters[t] = counters.get(t, 0) + int(c)
            if len(counters) > k:
                delta = sorted(counters.values())[len(counters) - k - 1]
                counters = {t: c - delta for t, c in counters.items()
                            if c > delta}
        yield pd.DataFrame({"token": list(counters)})

    cands = toks.mapInPandas(mg_candidates, "token string").distinct()
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    return (toks.join(F.broadcast(cands), "token")
            .groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
            .crossJoin(F.broadcast(total))
            .where(F.col("cnt") * k > F.col("n"))
            .select("token", "cnt"))


heavy_hitters_misra_gries.__doc__ = \
    heavy_hitters_misra_gries.__doc__.format(k=MG_K)
# heavy_hitters_misra_gries scans documents 3x (candidates / total /
# verify) by DESIGN: the exploded token stream is LARGER than the
# column-pruned source text, so re-deriving it per pass beats
# materializing it — the same adjudicated trade as bigram_lm_score's
# 3-scan plan (see PLANS.md note).


# -- exact-substring duplication (span-level dedup signal) --------------

XS_K = 30          # duplicated-window length (chars); real pipelines ~50
# no posting cap needed here (unlike shingle_pair_candidates): there is
# no pair self-join — a window hash hot in 10^6 docs costs one df row
# and a semi-join probe, never a quadratic candidate fan-out

_XS_HASH = hash60_sql(f"substr(text, p, {XS_K})", "'xs'")

_XS_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE length(text) >= {XS_K}),
pos AS (
  SELECT doc_id, text,
         unnest(generate_series(1, length(text) - {XS_K} + 1)) AS p
  FROM base),
hashed AS (SELECT doc_id, p, {_XS_HASH} AS h FROM pos),
hdf AS (SELECT h FROM (
          SELECT h, COUNT(DISTINCT doc_id) AS df FROM hashed GROUP BY h)
        WHERE df >= 2),
shared AS (SELECT doc_id, p FROM hashed JOIN hdf USING (h)),
flag AS (
  SELECT doc_id, p,
         CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
              THEN 1
              WHEN p > lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                   + {XS_K} THEN 1
              ELSE 0 END AS new_span
  FROM shared),
sid AS (
  SELECT doc_id, p,
         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY p
                             ROWS UNBOUNDED PRECEDING) AS s
  FROM flag),
spans AS (
  SELECT doc_id, MIN(p) AS sp, MAX(p) + {XS_K} - 1 AS ep
  FROM sid GROUP BY doc_id, s),
per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
         CAST(SUM(ep - sp + 1) AS BIGINT) AS dup_chars
  FROM spans GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(per.n_dup_spans, 0) AS n_dup_spans,
       COALESCE(per.dup_chars, 0) AS dup_chars,
       CASE WHEN length(d.text) = 0 THEN 0
            ELSE (1000000 * COALESCE(per.dup_chars, 0)) // length(d.text)
       END AS dup_char_ppm
FROM documents d LEFT JOIN per USING (doc_id)
"""


@query("exact_substring_spans", oracle=_XS_ORACLE)
def exact_substring_spans(spark, sf_dir):
    """Exact-substring duplication per document (the span-level dedup
    signal of Lee et al., "Deduplicating Training Data Makes Language
    Models Better": text that appears verbatim elsewhere in the corpus
    should be CUT, not the whole document dropped).  Every XS_K-char
    window is hashed; windows whose hash occurs in >= 2 documents are
    'duplicated'; overlapping/adjacent duplicated windows merge into
    maximal spans (gaps-and-islands on positions — ends are monotone
    for fixed K, so lag() alone finds the breaks).  Emits per doc the
    merged span count, duplicated char total and ppm fraction — the
    inputs a span-cutting pass needs to decide what to strip.

    Scale shape: the char-window explode stays PARTITION-LOCAL (text
    never crosses an exchange); cross-doc sharing is decided by a
    min/max(doc_id) ROLLUP per window hash — deliberately an
    aggregation + semi-join rather than a min/max window function
    over the h partition: the window form moves one fewer pass but
    puts every occurrence of a hot boilerplate window into ONE task's
    sort (window partitions cannot be skew-split), while the rollup's
    map-side combine collapses hot hashes to one partial per map task
    and the semi-join back is AQE-skew-splittable (and its right side
    — the genuinely SHARED hashes only — broadcasts outright on
    mostly-unique corpora, making the join exchange-free).  The
    pinned hashed relation has 2 consumers; the interval merge then
    exchanges only the shared positions on doc_id, and the final
    per-doc rollup is dimension-sized.  ANSI-safe: ppm uses integer
    `div` with an explicit zero-length guard.
    """
    from streamforge_spark.functions.substring_index import (
        merge_spans, span_stats, substring_index, window_hashes)
    (docs,) = prep(spark, sf_dir, "documents")
    k = XS_K
    hashed = window_hashes(docs, k).localCheckpoint(eager=False)
    sharedh = (substring_index(hashed)
               .where(F.col("mn") != F.col("mx"))
               .select("h"))
    shared = hashed.join(sharedh, "h", "left_semi").select("doc_id", "p")
    per = span_stats(merge_spans(shared, k))
    # project length BEFORE the join: only (doc_id, n_len) may cross
    # if the doc side ever exchanges — text stays at the scan
    base_len = docs.select("doc_id", F.length("text").alias("n_len"))
    return (base_len.join(per, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_dup_spans", F.lit(0)).cast("long")
                 .alias("n_dup_spans"),
                F.coalesce("dup_chars", F.lit(0)).cast("long")
                 .alias("dup_chars"),
                F.when(F.col("n_len") == 0, F.lit(0).cast("long"))
                 .otherwise(F.expr(
                     "(1000000 * coalesce(dup_chars, 0)) div n_len"))
                 .alias("dup_char_ppm")))


# -- vocabulary coverage (tokenizer-fit signal) -------------------------

VOCAB_TOP_K = 16   # corpus vocabulary size (top-K terms by frequency)

_OOV_ORACLE = f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents),
cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY term),
vocab AS (SELECT term FROM cnt ORDER BY c DESC, term LIMIT {VOCAB_TOP_K}),
per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_oov
        FROM toks WHERE term NOT IN (SELECT term FROM vocab)
        GROUP BY doc_id)
SELECT d.doc_id,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       COALESCE(per.n_oov, 0) AS n_oov,
       (1000000 * COALESCE(per.n_oov, 0))
         // len(string_split(d.text, ' ')) AS oov_ppm
FROM documents d LEFT JOIN per USING (doc_id)
"""


@query("vocab_oov_rate", oracle=_OOV_ORACLE)
def vocab_oov_rate(spark, sf_dir):
    """Out-of-vocabulary rate per document against the corpus's own
    top-K vocabulary — the tokenizer-fit signal (a doc full of tokens
    a fixed vocab can't cover trains badly / explodes its token
    count).  Vocabulary = top VOCAB_TOP_K terms by global frequency
    (count desc, term asc — a total order, so the vocab is identical
    in both engines).

    Scale shape: one token rollup (map-side combined — the exchange
    carries distinct (term, partial count) pairs, not tokens), top-K
    via TakeOrderedAndProject on the dimension-sized term table, then
    the vocab BROADCASTS back and ONE more token pass counts total
    and OOV tokens together per doc (marker left join + conditional
    count — every doc tokenizes to >= 1 token, so the per-doc rollup
    covers the whole corpus and no docs join is needed; the ppm
    division is total for the same reason).
    """
    (docs,) = prep(spark, sf_dir, "documents")
    toks = (spread_for_compute(docs, "doc_id")
            .select("doc_id", F.explode(F.split("text", " ")).alias("term")))
    vocab = (toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
             .orderBy(F.col("c").desc(), "term").limit(VOCAB_TOP_K)
             .select("term", F.lit(1).alias("_in_vocab")))
    marked = toks.join(F.broadcast(vocab), "term", "left")
    return (marked.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.count(F.when(F.col("_in_vocab").isNull(), 1))
                  .alias("n_oov"))
            .select(
                "doc_id", "n_tokens", "n_oov",
                F.expr("(1000000 * n_oov) div n_tokens").alias("oov_ppm")))


# -- boilerplate / hot-shingle audit ------------------------------------

HOT_SHINGLE_K = 20   # report size

_HOT_SHINGLE_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
glist AS (SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 2, 1)),
                   i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS gs
          FROM toks),
grams AS (SELECT doc_id, unnest(gs) AS g FROM glist),
df AS (SELECT g, CAST(count(*) AS BIGINT) AS df,
              CAST(MIN(doc_id) AS BIGINT) AS example_doc
       FROM grams GROUP BY g)
SELECT g AS shingle, df,
       df > {NGRAM_MAX_DF} AS capped,
       example_doc
FROM df
ORDER BY df DESC, g
LIMIT {HOT_SHINGLE_K}
"""


@query("hot_shingle_report", oracle=_HOT_SHINGLE_ORACLE)
def hot_shingle_report(spark, sf_dir):
    """Top-K hottest shingles by document frequency, flagged where the
    NGRAM_MAX_DF posting cap would drop them — the operational audit
    behind the cap ("no silent caps": a 100 TB run should SEE the
    license headers / navigation chrome it excluded from near-dup
    evidence, with an example document to inspect).  Deterministic
    total order (df desc, shingle asc).

    Scale shape: one shingle explode, one map-side-combined rollup on
    the shingle string (the string must survive to the report, so
    this query shuffles (shingle, partial-count/min) pairs — distinct
    shingles per map partition, the same exchange class as a term
    rollup), then TakeOrderedAndProject for the top-K.  No joins.
    """
    (docs,) = prep(spark, sf_dir, "documents")
    grams = (spread_for_compute(docs, "doc_id")
             .select("doc_id",
                     F.explode(word_ngrams(F.col("text"), 3)).alias("g")))
    df = (grams.groupBy("g")
          .agg(F.count(F.lit(1)).alias("df"),
               F.min("doc_id").alias("example_doc")))
    return (df.select(
        F.col("g").alias("shingle"), "df",
        (F.col("df") > NGRAM_MAX_DF).alias("capped"),
        "example_doc")
        .orderBy(F.col("df").desc(), "shingle")
        .limit(HOT_SHINGLE_K))


# -- incremental exact-substring contamination (ingest gate) ------------

#: same ingest-batch convention as queries.llm.INGEST_SPLIT_ID (doc_id
#: >= split is the "newly arriving" batch); kept as a local constant to
#: avoid a cross-module import that would reorder query registration —
#: test_ingest_split_constants_agree pins the two values together.
XS_SPLIT_ID = 400

_XS_INCR_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE length(text) >= {XS_K}),
pos AS (
  SELECT doc_id, text,
         unnest(generate_series(1, length(text) - {XS_K} + 1)) AS p
  FROM base),
hashed AS (SELECT doc_id, p, {_XS_HASH} AS h FROM pos),
flagged AS (
  SELECT doc_id, p,
         MIN(doc_id) OVER (PARTITION BY h) AS mn
  FROM hashed),
shared AS (
  SELECT doc_id, p FROM flagged
  WHERE doc_id >= {XS_SPLIT_ID} AND mn < {XS_SPLIT_ID}),
brk AS (
  SELECT doc_id, p,
         CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
              THEN 1
              WHEN p > lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                   + {XS_K} THEN 1
              ELSE 0 END AS new_span
  FROM shared),
sid AS (
  SELECT doc_id, p,
         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY p
                             ROWS UNBOUNDED PRECEDING) AS s
  FROM brk),
spans AS (
  SELECT doc_id, MIN(p) AS sp, MAX(p) + {XS_K} - 1 AS ep
  FROM sid GROUP BY doc_id, s),
per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
         CAST(SUM(ep - sp + 1) AS BIGINT) AS dup_chars
  FROM spans GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(per.n_dup_spans, 0) AS n_dup_spans,
       COALESCE(per.dup_chars, 0) AS dup_chars,
       CASE WHEN length(d.text) = 0 THEN 0
            ELSE (1000000 * COALESCE(per.dup_chars, 0)) // length(d.text)
       END AS dup_char_ppm
FROM documents d LEFT JOIN per USING (doc_id)
WHERE d.doc_id >= {XS_SPLIT_ID}
"""


@query("incremental_substring_contamination", oracle=_XS_INCR_ORACLE)
def incremental_substring_contamination(spark, sf_dir):
    """Incremental ingest gate: for each NEWLY arriving document
    (doc_id >= XS_SPLIT_ID), the exact-substring duplication stats
    against the EXISTING corpus only (min over each window hash's
    doc ids < split ⟺ some established doc already contains the
    window) — "how much of this incoming doc is already in my
    corpus verbatim", the span-level decon/admission signal, and the
    ingest twin of exact_substring_spans (which scores the whole
    corpus symmetrically).

    Scale property: the established-corpus window-hash index is a
    map-side-combined min(doc_id) rollup (skew-safe like
    exact_substring_spans — new-vs-new sharing is deliberately NOT
    flagged, so the min < split alone decides), and the join's LEFT
    side is pre-filtered to the new batch, so the match costs
    O(batch), never O(corpus); the interval merge touches only the
    new docs' shared positions. In production the corpus side's
    min-index is READ from a persisted index (appended per batch) —
    recomputed here because the fixture has no cross-run state, same
    caveat as incremental_fuzzy_dedup.
    """
    from streamforge_spark.functions.substring_index import (
        merge_spans, span_stats, substring_index, window_hashes)
    (docs,) = prep(spark, sf_dir, "documents")
    k, split = XS_K, XS_SPLIT_ID
    hashed = window_hashes(docs, k).localCheckpoint(eager=False)
    refh = (substring_index(hashed)
            .where(F.col("mn") < split).select("h"))
    shared = (hashed.where(F.col("doc_id") >= split)
              .join(refh, "h", "left_semi")
              .select("doc_id", "p"))
    per = span_stats(merge_spans(shared, k))
    new_docs = (docs.where(F.col("doc_id") >= split)
                .select("doc_id", F.length("text").alias("n_len")))
    return (new_docs.join(per, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_dup_spans", F.lit(0)).cast("long")
                 .alias("n_dup_spans"),
                F.coalesce("dup_chars", F.lit(0)).cast("long")
                 .alias("dup_chars"),
                F.when(F.col("n_len") == 0, F.lit(0).cast("long"))
                 .otherwise(F.expr(
                     "(1000000 * coalesce(dup_chars, 0)) div n_len"))
                 .alias("dup_char_ppm")))


# -- exact-substring CUT: emit the deduplicated corpus ------------------

_XS_CUT_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE length(text) >= {XS_K}),
pos AS (
  SELECT doc_id, text,
         unnest(generate_series(1, length(text) - {XS_K} + 1)) AS p
  FROM base),
hashed AS (SELECT doc_id, p, {_XS_HASH} AS h FROM pos),
owner AS (SELECT h, MIN(doc_id) AS mn FROM hashed GROUP BY h),
cutpos AS (
  SELECT hd.doc_id, hd.p FROM hashed hd JOIN owner o USING (h)
  WHERE o.mn < hd.doc_id),
brk AS (
  SELECT doc_id, p,
         CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
              THEN 1
              WHEN p > lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                   + {XS_K} THEN 1
              ELSE 0 END AS new_span
  FROM cutpos),
sid AS (
  SELECT doc_id, p,
         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY p
                             ROWS UNBOUNDED PRECEDING) AS s
  FROM brk),
spans AS (
  SELECT doc_id, MIN(p) AS sp, MAX(p) + {XS_K} - 1 AS ep
  FROM sid GROUP BY doc_id, s),
segs AS (
  SELECT doc_id,
         COALESCE(lag(ep) OVER (PARTITION BY doc_id ORDER BY sp), 0) + 1
           AS gs,
         sp - 1 AS ge
  FROM spans
  UNION ALL
  SELECT sp.doc_id, MAX(sp.ep) + 1, MAX(length(d.text))
  FROM spans sp JOIN documents d USING (doc_id)
  GROUP BY sp.doc_id),
kept AS (
  SELECT s.doc_id,
         string_agg(substr(d.text, CAST(s.gs AS BIGINT),
                           CAST(s.ge - s.gs + 1 AS BIGINT)),
                    '' ORDER BY s.gs) AS kept_text
  FROM segs s JOIN documents d USING (doc_id)
  GROUP BY s.doc_id)
SELECT d.doc_id,
       COALESCE(k.kept_text, d.text) AS kept_text,
       CAST(length(COALESCE(k.kept_text, d.text)) AS BIGINT) AS kept_len,
       CAST(length(d.text)
            - length(COALESCE(k.kept_text, d.text)) AS BIGINT) AS chars_cut
FROM documents d LEFT JOIN kept k USING (doc_id)
"""


@query("exact_substring_cut_release", oracle=_XS_CUT_ORACLE)
def exact_substring_cut_release(spark, sf_dir):
    """The ACTION behind exact_substring_spans: emit the corpus with
    duplicated spans CUT (Lee et al. ExactSubstr semantics at doc
    granularity — the window's lowest-doc_id owner keeps its text;
    every later doc has its copy of the span spliced out).  Output is
    the full release: doc_id, post-cut text, kept/cut char counts.
    Self-repetition inside the owning doc is preserved by design (the
    owner is never cut).

    Scale shape: the same skew-safe owner rollup as
    exact_substring_spans (map-side-combined min per window hash);
    cut positions come from one hash-equi join (AQE-skew-splittable),
    the span merge and the complement-segment derivation are window
    algebra over the CUT rows only, and the splice itself is a
    per-doc sorted-segment transform + array_join — document text
    crosses an exchange exactly once, doc-level, to meet its segment
    list.  Segments are provably non-negative-length (maximal merged
    spans are separated by >= 1 kept char), so the substring algebra
    is total.
    """
    from streamforge_spark.functions.substring_index import (
        merge_spans, substring_index, window_hashes)
    (docs,) = prep(spark, sf_dir, "documents")
    k = XS_K
    hashed = window_hashes(docs, k).localCheckpoint(eager=False)
    owner = substring_index(hashed).select("h", "mn")
    cutpos = (hashed.join(owner, "h")
              .where(F.col("mn") < F.col("doc_id"))
              .select("doc_id", "p"))
    spans = merge_spans(cutpos, k)
    ws = Window.partitionBy("doc_id").orderBy("sp")
    gaps = spans.select(
        "doc_id",
        (F.coalesce(F.lag("ep").over(ws), F.lit(0)) + 1).alias("gs"),
        (F.col("sp") - 1).alias("ge"))
    tails = (spans.groupBy("doc_id")
             .agg((F.max("ep") + 1).alias("gs"))
             .withColumn("ge", F.lit(None).cast("long")))
    segs = gaps.unionByName(tails)
    kept = (segs.groupBy("doc_id")
            .agg(F.sort_array(F.collect_list(F.struct(
                F.col("gs").cast("long").alias("gs"),
                F.col("ge").cast("long").alias("ge")))).alias("segs"))
            .join(docs.select("doc_id", "text"), "doc_id")
            .select(
                "doc_id",
                F.expr("array_join(transform(segs, s -> substring(text, "
                       "CAST(s.gs AS INT), CAST(coalesce(s.ge, "
                       "length(text)) - s.gs + 1 AS INT))), '')")
                 .alias("kept_text")))
    return (docs.join(kept, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("kept_text", F.col("text")).alias("kept_text"),
                F.length(F.coalesce("kept_text", F.col("text")))
                 .cast("long").alias("kept_len"),
                (F.length("text")
                 - F.length(F.coalesce("kept_text", F.col("text"))))
                 .cast("long").alias("chars_cut")))


# -- Gopher quality rules -----------------------------------------------

#: Gopher rule thresholds (Rae et al. 2021, Appendix A1.1), in the
#: repo's integer fixed-point units — the column logic is shared with
#: the online funnel's gopher stage via functions.text.gopher_metrics
from streamforge_spark.functions.text import (  # noqa: E402
    GOPHER_MAX_MWL_MILLI, GOPHER_MAX_WORDS, GOPHER_MIN_ALPHA_PPM,
    GOPHER_MIN_MWL_MILLI, GOPHER_MIN_STOPWORDS, GOPHER_MIN_WORDS,
    gopher_metrics,
)

_GOPHER_ORACLE = f"""
WITH m AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(length(text) - len(string_split(text, ' ')) + 1 AS BIGINT)
           AS sum_word_chars,
         CAST(len(list_filter(string_split(text, ' '),
                   x -> x IN ({_sql_markers(STOPWORDS)}))) AS BIGINT)
           AS stopword_cnt,
         CAST(len(list_filter(string_split(text, ' '),
                   x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT)
           AS n_alpha_words
  FROM documents),
r AS (
  SELECT doc_id, n_words,
         (1000 * sum_word_chars) // n_words AS mean_word_len_milli,
         stopword_cnt,
         (1000000 * n_alpha_words) // n_words AS alpha_word_ppm
  FROM m)
SELECT doc_id, n_words, mean_word_len_milli, stopword_cnt, alpha_word_ppm,
       n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
         AS flag_word_count,
       mean_word_len_milli
         BETWEEN {GOPHER_MIN_MWL_MILLI} AND {GOPHER_MAX_MWL_MILLI}
         AS flag_mean_word_len,
       stopword_cnt >= {GOPHER_MIN_STOPWORDS} AS flag_stopwords,
       alpha_word_ppm >= {GOPHER_MIN_ALPHA_PPM} AS flag_alpha,
       (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
         AND (mean_word_len_milli
              BETWEEN {GOPHER_MIN_MWL_MILLI} AND {GOPHER_MAX_MWL_MILLI})
         AND stopword_cnt >= {GOPHER_MIN_STOPWORDS}
         AND alpha_word_ppm >= {GOPHER_MIN_ALPHA_PPM} AS gopher_pass
FROM r
"""


@query("gopher_quality_flags", oracle=_GOPHER_ORACLE)
def gopher_quality_flags(spark, sf_dir):
    """Gopher quality rules (Rae et al. 2021, Appendix A1.1) as a
    per-document gate: word count in [50, 100k], mean word length in
    [3, 10] (integer milli-units), >=2 stopwords, >=80% of words
    containing an alphabetic character — plus the AND of all four as
    ``gopher_pass``.  The line-based rules (duplicate lines, bullet/
    ellipsis line starts) don't apply to the single-line fixture text
    and the within-doc duplicate-n-gram rules live in
    doc_repetition_stats; together they complete the published set.
    The mean-word-length identity ``sum(len(w)) = length(text) -
    (n_words - 1)`` holds exactly because tokens are single-space
    separated (the corpus contract every other token coin here uses).

    Plan (100 TB): pure column algebra on the scan — zero shuffles,
    zero joins, whole-stage codegen end to end; reads only (doc_id,
    text).  The cheapest possible quality gate, which is the point:
    Gopher rules run FIRST in a production funnel so the expensive
    dedup/model scoring stages see fewer documents."""
    (docs,) = prep(spark, sf_dir, "documents")
    return gopher_metrics(docs)


# -- per-source corpus report card --------------------------------------

_SOURCE_QUALITY_ORACLE = f"""
WITH m AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         (1000 * CAST(length(text) - len(string_split(text, ' ')) + 1
                      AS BIGINT)) // len(string_split(text, ' '))
           AS mwl_milli,
         CAST(len(list_filter(string_split(text, ' '),
                   x -> x IN ({_sql_markers(STOPWORDS)}))) AS BIGINT)
           AS stopword_cnt,
         (1000000 * CAST(len(list_filter(string_split(text, ' '),
                   x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT))
           // len(string_split(text, ' ')) AS alpha_ppm
  FROM documents),
g AS (
  SELECT doc_id, source, n_words,
         (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
           AND (mwl_milli BETWEEN {GOPHER_MIN_MWL_MILLI}
                AND {GOPHER_MAX_MWL_MILLI})
           AND stopword_cnt >= {GOPHER_MIN_STOPWORDS}
           AND alpha_ppm >= {GOPHER_MIN_ALPHA_PPM} AS gopher_pass
  FROM m),
freq AS (SELECT source, n_words, CAST(count(*) AS BIGINT) AS k
         FROM g GROUP BY source, n_words),
cums AS (SELECT source, n_words, k,
                SUM(k) OVER (PARTITION BY source ORDER BY n_words
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum,
                SUM(k) OVER (PARTITION BY source) AS n
         FROM freq),
med AS (SELECT source,
               CAST(MIN(CASE WHEN cum * 100 >= n * 50 THEN n_words END)
                    AS BIGINT) AS median_tokens
        FROM cums GROUP BY source)
SELECT g.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_tokens,
       MIN(med.median_tokens) AS median_tokens,
       (1000000 * CAST(count(*) FILTER (WHERE gopher_pass) AS BIGINT))
         // count(*) AS gopher_pass_ppm
FROM g JOIN med ON med.source = g.source
GROUP BY g.source
"""


@query("source_quality_summary", oracle=_SOURCE_QUALITY_ORACLE)
def source_quality_summary(spark, sf_dir):
    """Per-source corpus report card: document count, token volume,
    EXACT median document length (percentile_disc via the repo's
    two-phase frequency rollup — order statistics that stay exact at
    any scale), and the Gopher-rules pass rate in ppm.  This is the
    table a data-mix owner reads before adjusting source weights
    (mixture_temperature_weights) or tightening gates — each source's
    volume, shape, and quality yield on one row.

    Plan (100 TB): the Gopher metrics are scan-side column algebra;
    the ONLY corpus-sized exchange is the (source, n_words) frequency
    rollup (map-side combined, bounded by |sources| x |distinct
    lengths|, not by documents); the median selection and the pass-
    rate rollup both run on that bounded table.  No joins touch the
    corpus."""
    from streamforge_spark.functions.percentiles import (
        percentiles_from_frequencies)
    (docs,) = prep(spark, sf_dir, "documents")
    g = gopher_metrics(docs, id_cols=("doc_id", "source"))
    # ONE corpus pass: the (source, n_words, gopher_pass) rollup is
    # the only thing the scan feeds; medians and pass rates both
    # derive from this bounded table (checkpointed — two consumers)
    freq = (g.groupBy("source", "n_words", "gopher_pass")
            .agg(F.count(F.lit(1)).alias("k"))
            .localCheckpoint(eager=False))
    lenfreq = freq.groupBy("source", "n_words").agg(F.sum("k").alias("k"))
    med = (percentiles_from_frequencies(lenfreq, ["source"],
                                        value_col="n_words",
                                        count_col="k", percents=(50,))
           .select("source", F.col("p50_cents").alias("median_tokens")))
    agg = freq.groupBy("source").agg(
        F.sum("k").alias("n_docs"),
        F.sum(F.col("n_words") * F.col("k")).alias("total_tokens"),
        F.sum(F.when(F.col("gopher_pass"), F.col("k"))
              .otherwise(F.lit(0))).alias("_npass"))
    return (agg.join(med, "source")
            .select("source", "n_docs", "total_tokens", "median_tokens",
                    F.expr("(1000000 * _npass) div n_docs")
                    .alias("gopher_pass_ppm")))


# -- quality-based cluster representatives (SemDeDup keep-best) ----------

_REP_ORACLE = f"""
WITH RECURSIVE pairs AS ({{_NGRAM_ORACLE}}),
edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION
  SELECT d2 AS a, d1 AS b FROM pairs
),
reach(node, label) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node
),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
sc AS (SELECT doc_id, {{_SQL_SCORE}} AS score FROM documents),
m AS (SELECT c.component, c.node, s.score
      FROM comp c JOIN sc s ON s.doc_id = c.node),
r AS (SELECT component, node, score,
             ROW_NUMBER() OVER (PARTITION BY component
                                ORDER BY score DESC, node) AS rn
      FROM m),
cnt AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM comp GROUP BY component)
SELECT c.component, c.n_members, r.node AS rep_doc_id,
       r.node <> c.component AS rep_beats_min_id
FROM cnt c JOIN r ON r.component = c.component AND r.rn = 1
"""


@query("dedup_cluster_representatives",
       oracle=_REP_ORACLE.format(_NGRAM_ORACLE=_NGRAM_ORACLE,
                                 _SQL_SCORE=_SQL_SCORE))
def dedup_cluster_representatives(spark, sf_dir):
    """SemDeDup-style keep-BEST representative selection: the same
    near-dup clusters as dedup_clusters (shingle-Jaccard pair graph,
    min-label closure), but the survivor is the member with the
    HIGHEST quality score (tie-break lowest doc_id) instead of the
    lowest id — the production choice when near-dup groups mix a
    clean original with boilerplate-wrapped mirrors, reported with a
    flag for exactly how often quality beats the id convention.  One
    row per cluster: size, representative, and whether it differs
    from the min-id canonical.

    Scale shape: inherits dedup_clusters' closure cost (pair graph
    only, per-round checkpointed label propagation); scoring is
    scan-side column algebra joined once onto the (pairs-sized)
    member table; representative choice is one window over clusters
    (partition count = cluster count, never corpus-wide).  IEEE score
    determinism: the ranking compares the same doubles both engines
    compute bit-identically (quality_score's proven op order), with
    the doc_id tie-break making the order total."""
    from streamforge_spark.functions.text import quality_score
    from streamforge_spark.operators.graph import connected_components
    from pyspark.sql import Window
    (docs,) = prep(spark, sf_dir, "documents")
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    comp = connected_components(pairs, "d1", "d2")
    scored = docs.select(
        F.col("doc_id"),
        quality_score(F.col("text"), F.col("n_chars")).alias("score"))
    members = comp.join(scored, comp["node"] == scored["doc_id"])
    w = Window.partitionBy("component").orderBy(F.col("score").desc(),
                                                "node")
    ranked = members.withColumn("rn", F.row_number().over(w))
    cnt = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"))
    reps = (ranked.filter(F.col("rn") == 1)
            .select("component", F.col("node").alias("rep_doc_id")))
    return (cnt.join(reps, "component")
            .select("component", "n_members", "rep_doc_id",
                    (F.col("rep_doc_id") != F.col("component"))
                    .alias("rep_beats_min_id")))


# -- corpus quality by language (intake health + lang-id accuracy) ---------

_QUALITY_BY_LANG_ORACLE = f"""
WITH g AS ({{inner}}),
d AS (SELECT doc_id, lang, {{lang_case}} AS lang_pred FROM documents)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       (1000000 * CAST(count(*) FILTER (WHERE g.gopher_pass) AS BIGINT))
         // CAST(count(*) AS BIGINT) AS gopher_pass_ppm,
       CAST(SUM(g.n_words) AS BIGINT) // CAST(count(*) AS BIGINT)
         AS words_per_doc,
       (1000000 * CAST(count(*) FILTER (WHERE d.lang_pred = d.lang)
                       AS BIGINT))
         // CAST(count(*) AS BIGINT) AS langid_agree_ppm
FROM d JOIN g USING (doc_id)
GROUP BY 1
"""


@query("corpus_quality_by_lang",
       oracle=_QUALITY_BY_LANG_ORACLE
       .format(inner=_GOPHER_ORACLE.strip(), lang_case="{lang_case}")
       .replace("{lang_case}", _lang_case_sql()))
def corpus_quality_by_lang(spark, sf_dir):
    """The intake health dashboard cut by LABELED language: per lang,
    document volume, the Gopher pass rate (integer ppm), mean document
    length (exact floor words-per-doc), and — because the fixture
    carries ground truth — the stopword-profile language-ID's
    agreement rate with the label.  Two reports in one: a quality
    regression isolated to one language names the broken pipeline leg,
    and a langid_agree_ppm drop on a language flags the classifier
    (not the corpus) — the eval that decides whether the heuristic
    lang gate is trustworthy enough to filter on at 100 TB.

    Scale shape: gopher metrics and the language argmax are both
    scan-side column algebra (shared batch/stream expression sets);
    the rollup is ONE map-side-combined exchange of |langs| groups."""
    from streamforge_spark.functions.text import gopher_metrics, lang_id
    (docs,) = prep(spark, sf_dir, "documents")
    g = gopher_metrics(docs)
    d = docs.select("doc_id", "lang",
                    lang_id(F.col("text")).alias("lang_pred"))
    return (d.join(g.select("doc_id", "n_words", "gopher_pass"), "doc_id")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("gopher_pass").cast("long")).alias("_p"),
                 F.sum("n_words").alias("_w"),
                 F.sum((F.col("lang_pred") == F.col("lang"))
                       .cast("long")).alias("_a"))
            .select("lang", "n_docs",
                    F.expr("(1000000 * _p) div n_docs")
                    .alias("gopher_pass_ppm"),
                    F.expr("_w div n_docs").alias("words_per_doc"),
                    F.expr("(1000000 * _a) div n_docs")
                    .alias("langid_agree_ppm")))


# -- corpus novelty saturation curve -------------------------------------

NOVELTY_BUCKETS = 20   # ingestion-prefix buckets (doc_id value ranges)

_NOVELTY_CURVE_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
glist AS (SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 2, 1)),
                   i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS gs
          FROM toks),
grams AS (SELECT doc_id, unnest(gs) AS g FROM glist),
mx AS (SELECT MAX(doc_id) AS max_id FROM documents),
b AS (SELECT doc_id,
             CAST((doc_id * {NOVELTY_BUCKETS}) // (max_id + 1) AS BIGINT)
               AS bucket
      FROM documents CROSS JOIN mx),
inst AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS gram_instances
         FROM grams JOIN b USING (doc_id) GROUP BY bucket),
fst AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g),
nw AS (SELECT b.bucket, CAST(COUNT(*) AS BIGINT) AS new_grams
       FROM fst JOIN b ON fst.first_doc = b.doc_id GROUP BY b.bucket),
nd AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs
       FROM b GROUP BY bucket)
SELECT nd.bucket, nd.n_docs,
       CAST(SUM(nd.n_docs) OVER (ORDER BY nd.bucket
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_docs,
       inst.gram_instances,
       CAST(COALESCE(nw.new_grams, 0) AS BIGINT) AS new_grams,
       CAST(SUM(COALESCE(nw.new_grams, 0))
              OVER (ORDER BY nd.bucket ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_new_grams,
       CAST((COALESCE(nw.new_grams, 0) * 1000000)
            // inst.gram_instances AS BIGINT) AS novelty_ppm
FROM nd JOIN inst USING (bucket) LEFT JOIN nw USING (bucket)
"""


@query("ngram_novelty_curve", oracle=_NOVELTY_CURVE_ORACLE)
def ngram_novelty_curve(spark, sf_dir):
    """Corpus novelty-saturation curve (empirical Heaps' law): split
    the ingestion order (doc_id ranges) into {NOVELTY_BUCKETS} prefix
    buckets and report, per bucket, how many word-3-gram shingle types
    are seen for the FIRST time and what fraction of the bucket's
    shingle instances they are — the diminishing-returns curve that
    answers "does the next 10% of this source still add new content,
    or are we paying ingest+dedup cost for repeats?".  Complements
    doc_novelty (per-document uniqueness) with the corpus-growth view.

    Buckets are doc_id VALUE ranges against the broadcast max id, not
    ntile — a global ntile window is a single-partition sort, the
    classic scale bug; value-range bucketing is one scalar broadcast
    and stays scan-parallel at any corpus size.  The bucket function
    is monotone in doc_id, so a shingle's first-seen bucket is
    MIN(bucket) directly — no min-doc-then-join-back second pass.

    Scale shape: ONE shingle explode (the text is read and shingled
    exactly once — a two-consumer formulation recomputed the explode
    per branch, verified in the executed plan) feeds one map-side-
    combined (hash, bucket) rollup; a per-hash MIN window on that
    rollup marks each hash's first-seen bucket, and one final rollup
    to {NOVELTY_BUCKETS} rows produces instance and first-seen counts
    together.  The cumulative sums run on the {NOVELTY_BUCKETS}-row
    result, never on data.  Reference anchor: no analog (LLM-curation
    surplus, SURVEY.md §2.14)."""
    (docs,) = prep(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").alias("max_id"))
    bucket = F.expr(f"(doc_id * {NOVELTY_BUCKETS}) div (max_id + 1)")
    hb = (spread_for_compute(docs, "doc_id")
          .select("doc_id",
                  F.explode(word_ngrams(F.col("text"), 3)).alias("g"))
          .withColumn("h", F.xxhash64("g")).drop("g")
          .crossJoin(F.broadcast(mx))
          .groupBy("h", bucket.alias("bucket"))
          .agg(F.count(F.lit(1)).alias("n")))
    first = F.min("bucket").over(Window.partitionBy("h"))
    per = (hb.withColumn("first_bucket", first)
           .groupBy("bucket")
           .agg(F.sum("n").alias("gram_instances"),
                F.count(F.when(F.col("bucket") == F.col("first_bucket"),
                               F.lit(1))).alias("new_grams")))
    nd = (docs.crossJoin(F.broadcast(mx))
          .groupBy(bucket.alias("bucket"))
          .agg(F.count(F.lit(1)).alias("n_docs")))
    w = (Window.orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (nd.join(per, "bucket")
            .withColumn("cum_docs", F.sum("n_docs").over(w))
            .withColumn("cum_new_grams", F.sum("new_grams").over(w))
            .select("bucket", "n_docs", "cum_docs", "gram_instances",
                    "new_grams", "cum_new_grams",
                    F.expr("(new_grams * 1000000) div gram_instances")
                    .alias("novelty_ppm")))
