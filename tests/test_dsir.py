"""Property tests for the round-7 selection/calibration operators:
DSIR importance weights, the LSH band sweep's monotonicity guarantee,
and the Gopher rule boundaries.  These pin the SEMANTICS the oracles
can't distinguish from coincidence on the fixture (the
winnowing-guarantee test pattern)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F
from pyspark.sql import types as T

DOCS = T.StructType([T.StructField("doc_id", T.LongType()),
                     T.StructField("source", T.StringType()),
                     T.StructField("text", T.StringType())])


def _python_dsir(rows, target_sources, buckets):
    """Reference implementation: exact float llr per bucket, rounded
    to micro-units the same way — validates the engine end to end."""
    import hashlib

    def bkt(tok):
        h = int(hashlib.md5(f"dsir:{tok}".encode()).hexdigest()[:15], 16)
        return h % buckets

    cr, ct = {}, {}
    for _, src, text in rows:
        for tok in text.split(" "):
            b = bkt(tok)
            cr[b] = cr.get(b, 0) + 1
            if src in target_sources:
                ct[b] = ct.get(b, 0) + 1
    nr, nt = sum(cr.values()), sum(ct.values())
    llr = {b: round(math.log((ct.get(b, 0) + 1) * (nr + buckets)
                             / ((cr[b] + 1) * (nt + buckets))) * 1_000_000)
           for b in cr}
    out = {}
    for did, _, text in rows:
        toks = text.split(" ")
        out[did] = (len(toks), sum(llr[bkt(t)] for t in toks))
    return out


def test_dsir_matches_python_reference(spark):
    from streamforge_spark.functions.dsir import (
        DSIR_BUCKETS, dsir_llr_model, dsir_score)
    rows = [(1, "tgt", "alpha beta alpha gamma alpha"),
            (2, "tgt", "alpha beta beta"),
            (3, "raw", "delta epsilon delta zeta"),
            (4, "raw", "beta delta zeta zeta eta"),
            (5, "raw", "alpha delta")]
    docs = spark.createDataFrame(rows, DOCS)
    model = dsir_llr_model(docs, F.col("source") == "tgt")
    got = {r.doc_id: (r.n_tokens, r.score_micro)
           for r in dsir_score(docs, model).collect()}
    assert got == _python_dsir(rows, {"tgt"}, DSIR_BUCKETS)


def test_dsir_target_like_docs_score_higher(spark):
    # monotonicity: a doc written in the target's vocabulary must
    # outscore a doc written in the raw-only vocabulary
    from streamforge_spark.functions.dsir import dsir_llr_model, dsir_score
    fit = spark.createDataFrame(
        [(i, "tgt", "good fine great nice") for i in range(5)]
        + [(10 + i, "raw", "bad worse awful poor") for i in range(5)],
        DOCS)
    model = dsir_llr_model(fit, F.col("source") == "tgt").localCheckpoint()
    probe = spark.createDataFrame(
        [(100, "?", "good great good nice"),
         (101, "?", "bad poor awful bad")], DOCS)
    s = {r.doc_id: r.score_micro for r in dsir_score(probe, model).collect()}
    assert s[100] > 0 > s[101]


def test_lsh_sweep_recall_monotone_in_bands(spark):
    """Nested banding guarantee: a band of 2r rows matching implies
    both r-row halves match, so candidates(4) ⊆ candidates(8) ⊆
    candidates(16) deterministically — recall and candidate volume
    must be nondecreasing in the band count."""
    from streamforge_spark import registry
    registry.load_all()
    rows = sorted(
        registry.QUERIES["lsh_band_recall_sweep"](
            spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r.bands)
    assert [r.bands for r in rows] == [4, 8, 16]
    assert all(r.n_truth == rows[0].n_truth for r in rows)
    for lo, hi in zip(rows, rows[1:]):
        assert lo.n_caught <= hi.n_caught
        assert lo.recall_ppm <= hi.recall_ppm
        assert lo.n_candidates <= hi.n_candidates


def test_gopher_rule_boundaries(spark):
    from streamforge_spark.queries.text import (
        GOPHER_MIN_MWL_MILLI, GOPHER_MIN_WORDS)
    from streamforge_spark import registry
    registry.load_all()
    # boundary docs: exactly 50 3-char words (both thresholds land
    # exactly on their inclusive bounds), 49 words (fails count), and
    # a mean word length just under 3 (fails length)
    texts = {
        1: " ".join(["the"] * 50),                       # all bounds met
        2: " ".join(["the"] * 49),                       # word count fails
        3: " ".join(["of"] * 49 + ["the"]),              # mwl 2040 fails
    }
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(k, v, "en", "s", len(v)) for k, v in texts.items()],
            "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(os.path.join(d, "documents.parquet"))
        rows = {r.doc_id: r for r in registry.QUERIES["gopher_quality_flags"](
            spark, d).collect()}
    assert rows[1].n_words == GOPHER_MIN_WORDS
    assert rows[1].mean_word_len_milli == GOPHER_MIN_MWL_MILLI
    assert rows[1].gopher_pass
    assert not rows[2].flag_word_count and not rows[2].gopher_pass
    assert not rows[3].flag_mean_word_len and not rows[3].gopher_pass


def test_dsir_counts_merge_and_persist_roundtrip(spark, tmp_path):
    """Mergeability + persistence: full-corpus counts == merge of two
    disjoint halves' counts, including through a parquet round-trip of
    the 'established' half (the production model-store path)."""
    from streamforge_spark.functions.dsir import (
        dsir_counts, load_dsir_counts, merge_dsir_counts,
        save_dsir_counts)
    rows = [(i, "tgt" if i % 3 == 0 else "raw",
             f"w{i % 7} w{i % 5} w{i % 3} common") for i in range(40)]
    docs = spark.createDataFrame(rows, DOCS)
    tgt = F.col("source") == "tgt"
    full = {(r.bkt): (r.cr, r.ct)
            for r in dsir_counts(docs, tgt).collect()}
    est = dsir_counts(docs.filter(F.col("doc_id") < 25), tgt)
    path = str(tmp_path / "model")
    save_dsir_counts(est, path)
    merged = merge_dsir_counts(
        load_dsir_counts(spark, path),
        dsir_counts(docs.filter(F.col("doc_id") >= 25), tgt))
    got = {(r.bkt): (r.cr, r.ct) for r in merged.collect()}
    assert got == full


def test_ivf_probe_sweep_recall_monotone(spark):
    """Probed cell sets nest (top-1 ⊆ top-2 ⊆ top-4), so each config's
    candidate pool nests and recall@k is nondecreasing in nprobe."""
    from streamforge_spark import registry
    registry.load_all()
    rows = registry.QUERIES["ann_ivf_probe_sweep"](
        spark, "/root/testdata/sf0.001").collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.nprobe, r.recall_ppm))
    assert len(by_q) == 10
    for q, pairs in by_q.items():
        pairs.sort()
        assert [p[0] for p in pairs] == [1, 2, 4]
        assert pairs[0][1] <= pairs[1][1] <= pairs[2][1], (q, pairs)
