"""Text-analysis column functions over document tables.

Whitespace tokenization, quality heuristics, language-ID by stopword
profile, content fingerprinting. Everything is a Column expression —
at 100 TB these run inside whole-stage codegen on the scan, with only
the columns actually referenced read from parquet.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and", "to")

#: marker tokens per language for the n-gram/stopword language-ID
#: heuristic; priority order breaks ties deterministically.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "los", "las", "es", "y"),
    "fr": ("le", "les", "est", "et", "dans"),
}
PUNCT_CLASS = "[.,!?;:]"


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text))).cast("long")


def punct_count(text: Column) -> Column:
    return (F.length(text) - F.length(F.regexp_replace(text, PUNCT_CLASS, ""))).cast("long")


def stopword_count(text: Column, stopwords=STOPWORDS) -> Column:
    return F.size(F.filter(tokens(text), lambda t: t.isin(*stopwords))).cast("long")


def marker_count(text: Column, markers) -> Column:
    return F.size(F.filter(tokens(text), lambda t: t.isin(*markers))).cast("long")


def lang_id(text: Column) -> Column:
    """Stopword-profile language ID: argmax of per-language marker
    counts, ties broken by the LANG_MARKERS priority order; all-zero ->
    'unknown'. (An n-gram-frequency heuristic in the same shape —
    counts per profile -> argmax — swaps in without plan changes.)"""
    langs = list(LANG_MARKERS)
    counts = {lang: marker_count(text, m) for lang, m in LANG_MARKERS.items()}
    all_zero = F.lit(True)
    for lang in langs:
        all_zero = all_zero & (counts[lang] == 0)
    expr = F.when(all_zero, F.lit("unknown"))
    # first-match-wins argmax: lang i wins when >= every later lang
    for i, lang in enumerate(langs[:-1]):
        cond = F.lit(True)
        for later in langs[i + 1:]:
            cond = cond & (counts[lang] >= counts[later])
        expr = expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit(langs[-1]))


def quality_score(text: Column, n_chars: Column) -> Column:
    """Composite document quality in [0,1]:
    0.4*min(1, chars/500) + 0.3*(1 - punct_ratio) + 0.3*min(1, tokens/100).
    Deterministic IEEE expression (same op order as the SQL oracle)."""
    tc = token_count(text).cast("double")
    chars = n_chars.cast("double")
    # total on empty docs: 0/0 raises under Spark 4 ANSI mode — an
    # empty document scores its punct term as clean (ratio 0) and
    # bottoms out through the length terms instead of crashing the job
    punct_ratio = F.when(chars > 0,
                         punct_count(text).cast("double") / chars
                         ).otherwise(F.lit(0.0))
    return (
        F.lit(0.4) * F.least(F.lit(1.0), chars / 500.0)
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * F.least(F.lit(1.0), tc / 100.0)
    )


def fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 of the lowercased text. (For a rolling
    or locality-sensitive fingerprint see functions.simdedup.)"""
    return F.md5(F.lower(text))


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams (shingles) of a document.

    Formulated as zip_with over n shifted slices of the token array —
    O(tokens) per row. (The naive transform-over-indices form inlines
    the tokenizer expression into every lambda element, re-splitting
    the text per index: O(tokens²) per row, measured 25x slower.)
    Short docs (< n tokens) yield one partial shingle, matching
    concat_ws null-skipping on both engines.
    """
    t = tokens(text)
    m = F.greatest(F.size(t) - (n - 1), F.lit(1))
    z = F.slice(t, 1, m)
    for k in range(1, n):
        z = F.zip_with(z, F.slice(t, k + 1, m),
                       lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(z)


#: GPT-2-style pre-tokenizer shape: contraction suffixes, letter runs,
#: single digits, punctuation runs. Alternation is leftmost-first in
#: both Java regex (Spark) and RE2 (DuckDB), so counts agree.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_tokens(text: Column) -> Column:
    """BPE-ish word pieces via regex pre-tokenization (the stage before
    merge-table lookup in a real BPE encoder — the piece count is the
    token-budget estimator used for pipeline sizing)."""
    return F.regexp_extract_all(text, F.lit(BPE_PATTERN), F.lit(0))


def bpe_token_count(text: Column) -> Column:
    return F.size(bpe_tokens(text)).cast("long")


# -- Gopher quality rules (Rae et al. 2021, Appendix A1.1) ---------------

GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MWL_MILLI, GOPHER_MAX_MWL_MILLI = 3_000, 10_000
GOPHER_MIN_STOPWORDS = 2
GOPHER_MIN_ALPHA_PPM = 800_000


def gopher_metrics(df, id_cols=("doc_id",), text_col: str = "text"):
    """Per-row Gopher rule metrics and flags — shared by the batch
    query (queries/text.py::gopher_quality_flags) and the online
    funnel's first stage (streaming/curation.py::corpus_funnel_verdicts);
    pure column algebra, identical in both modes because there is no
    state.

    The mean-word-length identity ``sum(len(w)) == length(text) -
    (n_words - 1)`` is exact under the single-space corpus contract.
    """
    import pyspark.sql.functions as F
    t = F.split(text_col, " ")
    m = df.select(
        *id_cols,
        F.size(t).cast("long").alias("n_words"),
        (F.length(text_col) - F.size(t) + 1).cast("long")
        .alias("sum_word_chars"),
        F.size(F.filter(t, lambda x: x.isin(*STOPWORDS))).cast("long")
        .alias("stopword_cnt"),
        F.size(F.filter(t, lambda x: x.rlike("[a-zA-Z]"))).cast("long")
        .alias("n_alpha_words"))
    r = m.select(
        *id_cols, "n_words",
        F.expr("(1000 * sum_word_chars) div n_words")
        .alias("mean_word_len_milli"),
        "stopword_cnt",
        F.expr("(1000000 * n_alpha_words) div n_words")
        .alias("alpha_word_ppm"))
    f_wc = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    f_mwl = F.col("mean_word_len_milli").between(GOPHER_MIN_MWL_MILLI,
                                                 GOPHER_MAX_MWL_MILLI)
    f_stop = F.col("stopword_cnt") >= GOPHER_MIN_STOPWORDS
    f_alpha = F.col("alpha_word_ppm") >= GOPHER_MIN_ALPHA_PPM
    return r.select(
        *id_cols, "n_words", "mean_word_len_milli", "stopword_cnt",
        "alpha_word_ppm",
        f_wc.alias("flag_word_count"),
        f_mwl.alias("flag_mean_word_len"),
        f_stop.alias("flag_stopwords"),
        f_alpha.alias("flag_alpha"),
        (f_wc & f_mwl & f_stop & f_alpha).alias("gopher_pass"))
