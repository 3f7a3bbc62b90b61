"""Operator semantics on tiny crafted frames — mirrors the reference's
operator-harness unit tests (SURVEY §5: DeduplicatorTest,
MaterializerTest, DynamicJoinerTest, SessionAnalyzerTest, ...)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from streamforge_spark.operators.dedup import deduplicator, stateful_merger
from streamforge_spark.operators.joins import dynamic_joiner, static_joiner
from streamforge_spark.operators.materialize import materializer_changelog, materializer_latest
from streamforge_spark.operators.quality import (
    SchemaVersion, constraint_enforcer, date_rule, email_rule,
    not_null_rule, range_rule, schema_enforcer,
)
from streamforge_spark.operators.routing import parallel_splitter
from streamforge_spark.operators.sessions import ordered_fold, session_analyzer
from streamforge_spark.envelope import parse_stream_envelop
from streamforge_spark.functions.text import lang_id


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_deduplicator_first_seen_wins(spark):
    # DeduplicatorTest.java:22-38 — duplicates dropped, firsts pass
    df = spark.createDataFrame(
        [(1, "k1", ts("2024-01-01 10:00:00"), "a"),
         (2, "k1", ts("2024-01-01 10:00:00"), "b"),   # dup of (k1, t0)
         (3, "k1", ts("2024-01-01 10:05:00"), "c"),   # same key, new time
         (4, "k2", ts("2024-01-01 10:00:00"), "d")],
        "event_id long, key string, t timestamp, v string")
    out = deduplicator(df, ["key", "t"], ["event_id"]).orderBy("event_id").collect()
    assert [r.event_id for r in out] == [1, 3, 4]
    assert out[0].v == "a"  # first wins, not last


def test_stateful_merger_suppresses_noop_updates(spark):
    # StatefulMergerTest semantics: consecutive identical payloads drop;
    # a revert to an OLD value re-emits (last-hash compare, not a set)
    df = spark.createDataFrame(
        [(1, "k", 1, '{"a": 1}'),
         (2, "k", 2, '{"a": 1}'),    # no-op -> suppressed
         (3, "k", 3, '{"a": 2}'),    # changed -> emit
         (4, "k", 4, '{"a": 1}')],   # revert -> emit (differs from prev)
        "event_id long, key string, seq long, payload string")
    out = stateful_merger(df, ["key"], "payload", ["seq"])
    assert [r.event_id for r in out.orderBy("event_id").collect()] == [1, 3, 4]


def test_stateful_merger_excluded_fields(spark):
    # MongoToKafkaJob.java:70-79 — updatedAt/modifiedAt don't count as change
    df = spark.createDataFrame(
        [(1, "k", 1, '{"a": "1", "updatedAt": "t1"}'),
         (2, "k", 2, '{"a": "1", "updatedAt": "t2"}'),   # only excluded field changed
         (3, "k", 3, '{"a": "2", "updatedAt": "t3"}')],
        "event_id long, key string, seq long, payload string")
    out = stateful_merger(df, ["key"], "payload", ["seq"],
                          excluded_fields=("updatedAt", "modifiedAt"))
    assert [r.event_id for r in out.orderBy("event_id").collect()] == [1, 3]


def test_materializer_lifecycle(spark):
    # MaterializerTest.java:21-190 — INSERT/UPDATE/DELETE/re-INSERT
    df = spark.createDataFrame(
        [(1, "k", ts("2024-01-01 10:00:00"), "v1", "insert"),
         (2, "k", ts("2024-01-01 10:01:00"), "v2", "update"),
         (3, "k", ts("2024-01-01 10:02:00"), None, "delete"),
         (4, "k", ts("2024-01-01 10:03:00"), "v3", "insert"),
         (5, "x", ts("2024-01-01 10:00:00"), None, "delete")],  # delete w/o state -> no-op
        "event_id long, key string, t timestamp, v string, op string")
    log = materializer_changelog(df, ["key"], ["t", "event_id"], "v", "t",
                                 delete_predicate=F.col("op") == "delete")
    rows = log.orderBy("ts").collect()
    assert [(r.change_type, r.before, r.after) for r in rows if r.key == "k"] == [
        ("INSERT", None, "v1"),
        ("UPDATE", "v1", "v2"),
        ("DELETE", "v2", None),
        ("INSERT", None, "v3"),
    ]
    assert not [r for r in rows if r.key == "x"]  # empty-state delete dropped
    latest = materializer_latest(df, ["key"], ["t", "event_id"],
                                 delete_predicate=F.col("op") == "delete").collect()
    assert [(r.key, r.v) for r in latest] == [("k", "v3")]


def test_dynamic_joiner_nm_and_outer(spark):
    # DynamicJoinerTest — N:M cross product within key+TTL; outer emits
    left = spark.createDataFrame(
        [(1, "k", ts("2024-01-01 10:00:00")),
         (2, "k", ts("2024-01-01 10:01:00")),
         (3, "z", ts("2024-01-01 10:00:00"))],      # unmatched left
        "lid long, key string, t timestamp")
    right = spark.createDataFrame(
        [(10, "k", ts("2024-01-01 10:02:00")),
         (11, "k", ts("2024-01-01 10:03:00")),
         (12, "k", ts("2024-01-01 11:00:00")),      # outside TTL
         (13, "w", ts("2024-01-01 10:00:00"))],     # unmatched right
        "rid long, key string, t timestamp")
    inner = dynamic_joiner(left.alias("l"), right.alias("r"),
                           left_key="key", right_key="key",
                           left_time="t", right_time="t",
                           ttl_seconds=600, join_type="inner")
    pairs = sorted((r["lid"], r["rid"]) for r in inner.collect())
    assert pairs == [(1, 10), (1, 11), (2, 10), (2, 11)]  # 2x2 N:M

    full = dynamic_joiner(left.alias("l"), right.alias("r"),
                          left_key="key", right_key="key",
                          left_time="t", right_time="t",
                          ttl_seconds=600, join_type="full_outer")
    rows = full.select(F.col("lid"), F.col("rid")).collect()
    assert (3, None) in [(r.lid, r.rid) for r in rows]
    assert (None, 13) in [(r.lid, r.rid) for r in rows]
    assert (None, 12) in [(r.lid, r.rid) for r in rows]


def test_static_joiner_latest_per_key_and_passthrough(spark):
    # StaticJoiner.java:134-170 — latest ref value wins; miss passes through
    main = spark.createDataFrame([(1, "a"), (2, "b"), (3, "zz")],
                                 "id long, key string")
    ref = spark.createDataFrame(
        [("a", 1, "old"), ("a", 2, "new"), ("b", 1, "only")],
        "rkey string, version long, label string")
    out = static_joiner(main, ref, on=main["key"] == F.col("rkey"),
                        ref_key_cols=["rkey"], ref_order_cols=["version"])
    got = {r.id: r.label for r in out.collect()}
    assert got == {1: "new", 2: "only", 3: None}


def test_parallel_splitter_first_match_wins(spark):
    df = spark.createDataFrame([(1, 5), (2, 50), (3, 500), (4, -1)],
                               "id long, v long")
    routes = [("small", F.col("v") < 10), ("medium", F.col("v") < 100)]
    splits = parallel_splitter(df, routes)
    assert sorted(r.id for r in splits["small"].collect()) == [1, 4]
    assert sorted(r.id for r in splits["medium"].collect()) == [2]  # 1,4 taken by small
    assert sorted(r.id for r in splits["main"].collect()) == [3]

    copy = parallel_splitter(df, routes, copy_to_main=True)
    assert sorted(r.id for r in copy["main"].collect()) == [1, 2, 3, 4]
    assert sorted(r.id for r in copy["medium"].collect()) == [1, 2, 4]  # all matching


def test_session_analyzer_gap_semantics(spark):
    # SessionAnalyzerTest — gap splits sessions; single-event session
    df = spark.createDataFrame(
        [("u", ts("2024-01-01 10:00:00"), 1),
         ("u", ts("2024-01-01 10:10:00"), 2),
         ("u", ts("2024-01-01 11:00:00"), 3),   # 50 min gap -> new session
         ("w", ts("2024-01-01 10:00:00"), 4)],
        "key string, t timestamp, event_id long")
    out = session_analyzer(df, "key", "t", gap="30 minutes",
                           agg_exprs=[ordered_fold("t", "event_id", "event_id").alias("ids")])
    rows = sorted(((r.key, r.event_count, r.ids) for r in out.collect()))
    assert rows == [("u", 2, "1,2"), ("u", 1, "3"), ("w", 1, "4")] or \
           rows == [("u", 1, "3"), ("u", 2, "1,2"), ("w", 1, "4")]


def test_session_window_exact_gap_boundary(spark):
    # pins Spark's merge rule at exactly-gap spacing: merges (inclusive
    # window end) — the oracle's new-session condition must be strict >
    df = spark.createDataFrame(
        [("u", ts("2024-01-01 10:00:00")), ("u", ts("2024-01-01 10:30:00")),
         ("u", ts("2024-01-01 11:00:00.000001"))],   # 1us past gap -> split
        "key string, t timestamp")
    out = session_analyzer(df, "key", "t", gap="30 minutes").collect()
    assert sorted(r.event_count for r in out) == [1, 2]


def test_schema_enforcer_versions(spark):
    # SchemaEnforcer.java:66-104 — pass if ANY version matches
    df = spark.createDataFrame(
        [(1, '{"k": "12"}'),        # v1 ok (number)
         (2, '{"k": "abc"}'),       # k not numeric -> fail
         (3, '{"other": "1"}'),     # missing k -> fail
         (4, None)],                # null payload -> fail
        "id long, payload string")
    v1 = SchemaVersion("v1", required={"k": "number"})
    passed, dlq = schema_enforcer(df, "payload", [v1])
    assert [r.id for r in passed.orderBy("id").collect()] == [1]
    assert dlq.count() == 3
    assert {r.error_type for r in dlq.collect()} == {"SCHEMA_VIOLATION"}


def test_constraint_rules(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "a@b.com", "2024-01-01"),
         (2, None, "a@b.com", "2024-01-01"),        # null amount
         (3, 1e9, "a@b.com", "2024-01-01"),         # out of range
         (4, 10.0, "not-an-email", "2024-01-01"),   # bad email
         (5, 10.0, "a@b.com", "01/01/2024")],       # bad date
        "id long, amount double, email string, dt string")
    rules = [not_null_rule("amount"), range_rule("amount", 0, 1e6),
             email_rule("email"), date_rule("dt")]
    passed, dlq = constraint_enforcer(df, rules)
    assert [r.id for r in passed.collect()] == [1]
    msgs = {r.error_message for r in dlq.collect()}
    assert any("range" in m for m in msgs) and any("email" in m for m in msgs)


def test_constraint_null_rule_dead_letters(spark):
    # a caller-supplied rule Column that evaluates to SQL NULL (easy
    # with comparisons on nullable fields) must count as VIOLATED —
    # the reference dead-letters every non-passing record; a NULL
    # verdict must not make the row vanish from both branches
    df = spark.createDataFrame([(1, 10.0), (2, None), (3, -1.0)],
                               "id long, amount double")
    passed, dlq = constraint_enforcer(df, [("positive", F.col("amount") > 0)])
    assert [r.id for r in passed.collect()] == [1]
    bad = {r.raw_event for r in dlq.select(F.get_json_object(
        "raw_event", "$.id").alias("raw_event")).collect()}
    assert bad == {"2", "3"}  # row 2 (NULL verdict) is dead-lettered too
    assert passed.count() + dlq.count() == df.count()


def test_parse_stream_envelop_dlq_split(spark):
    # StreamEnvelopParser.java:39-86 — non-JSON to DLQ, defaults stamped
    df = spark.createDataFrame(
        [('{"operation": "insert", "primary_key": "p1", "source": "s"}',),
         ("not json at all",),
         ('{"operation": "update", "primary_key": "p2", '
          '"event_time": "2024-01-01T10:00:00Z"}',)],
        "value string")
    ok, dlq = parse_stream_envelop(df)
    rows = ok.orderBy("primary_key").collect()
    assert [r.operation for r in rows] == ["insert", "update"]
    assert all(r.event_time is not None for r in rows)       # defaulted
    assert all(r.processed_time is not None for r in rows)   # stamped
    bad = dlq.collect()
    assert len(bad) == 1 and bad[0].error_type == "PARSE_ERROR"
    assert bad[0].raw_event == "not json at all"


def test_parse_stream_envelop_camelcase_wire(spark):
    # the reference serializes via Jackson as camelCase
    # (StreamEnvelop.java:23-30); a reference-produced record must
    # parse into the same columns as our snake_case output — not slip
    # through with null payload/trace/primary_key
    ref_shaped = ('{"operation": "update", "source": "orders", '
                  '"payloadJson": "{\\"a\\": 1}", '
                  '"eventTime": "2024-01-01T10:00:00Z", '
                  '"traceId": "trace-7", "primaryKey": "o1", '
                  '"metadata": {"k": "v"}}')
    own_shaped = ('{"operation": "update", "source": "orders", '
                  '"payload_json": "{\\"a\\": 1}", '
                  '"event_time": "2024-01-01T10:00:00Z", '
                  '"trace_id": "trace-7", "primary_key": "o1", '
                  '"metadata": {"k": "v"}}')
    ok, dlq = parse_stream_envelop(
        spark.createDataFrame([(ref_shaped,), (own_shaped,)], "value string"))
    rows = ok.drop("processed_time").collect()
    assert dlq.count() == 0 and len(rows) == 2
    assert rows[0] == rows[1]  # wire naming is invisible downstream
    r = rows[0]
    assert (r.payload_json, r.trace_id, r.primary_key) == ('{"a": 1}', "trace-7", "o1")
    assert r.event_time is not None and r.metadata == {"k": "v"}


def test_lang_id_ties_and_unknown(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog"),       # en
         (2, "der hund ist das tier"),     # de
         (3, "xyz qqq zzz"),               # unknown
         (4, "the der")],                  # tie -> priority order (en)
        "id long, text string")
    got = {r.id: r.lang for r in
           df.select("id", lang_id(F.col("text")).alias("lang")).collect()}
    assert got == {1: "en", 2: "de", 3: "unknown", 4: "en"}


def test_asof_join_backward_with_ties(spark):
    # asof semantics: latest right with r.ts <= l.ts per key; equal-ts
    # right row matches; right-side ties broken by tiebreak (last wins)
    from streamforge_spark.operators.joins import asof_join
    left = spark.createDataFrame(
        [(1, "k1", ts("2024-01-01 10:00:00")),
         (2, "k1", ts("2024-01-01 10:10:00")),
         (3, "k1", ts("2024-01-01 09:00:00")),    # before any right row
         (4, "k2", ts("2024-01-01 10:00:00"))],   # key with no right rows
        "id long, key string, t timestamp")
    right = spark.createDataFrame(
        [(100, "k1", ts("2024-01-01 09:30:00"), "a"),
         (101, "k1", ts("2024-01-01 10:00:00"), "b"),   # ties with left id=1
         (102, "k1", ts("2024-01-01 10:00:00"), "c")],  # same ts, higher id wins
        "rid long, key string, t timestamp, v string")
    out = asof_join(left, right, key="key", left_ts="t", right_ts="t",
                    right_cols=["rid", "v"], right_tiebreak="rid")
    got = {r.id: (r.asof_rid, r.asof_v) for r in out.collect()}
    assert got == {1: (102, "c"), 2: (102, "c"), 3: (None, None), 4: (None, None)}


def test_asof_join_forward_with_ties(spark):
    # forward semantics: earliest right with r.ts >= l.ts per key;
    # equal-ts right matches; right ties broken by tiebreak (first wins)
    from streamforge_spark.operators.joins import asof_join
    left = spark.createDataFrame(
        [(1, "k1", ts("2024-01-01 10:00:00")),
         (2, "k1", ts("2024-01-01 09:00:00")),
         (3, "k1", ts("2024-01-01 11:00:00")),    # after any right row
         (4, "k2", ts("2024-01-01 10:00:00"))],   # key with no right rows
        "id long, key string, t timestamp")
    right = spark.createDataFrame(
        [(100, "k1", ts("2024-01-01 10:30:00"), "z"),
         (101, "k1", ts("2024-01-01 10:00:00"), "b"),   # ties with left id=1
         (102, "k1", ts("2024-01-01 10:00:00"), "c")],  # same ts, lower id wins
        "rid long, key string, t timestamp, v string")
    out = asof_join(left, right, key="key", left_ts="t", right_ts="t",
                    right_cols=["rid", "v"], right_tiebreak="rid",
                    direction="forward")
    got = {r.id: (r.asof_rid, r.asof_v) for r in out.collect()}
    assert got == {1: (101, "b"), 2: (101, "b"), 3: (None, None), 4: (None, None)}


def test_incremental_agg_merge_equals_full(spark):
    # the merged base+delta partials must equal the direct full
    # aggregate — the algebraic-mergeability contract
    from streamforge_spark.io import load
    from streamforge_spark.registry import QUERIES
    inc = QUERIES["incremental_agg_merge"](spark, "/root/testdata/sf0.001")
    events = load(spark, "/root/testdata/sf0.001", "events")
    full = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
    assert {tuple(r) for r in inc.collect()} == {tuple(r) for r in full.collect()}


def test_interval_join_boundary_semantics(spark):
    # bounds are [start, end); intervals spanning bucket boundaries
    # must still match every covered point exactly once
    from datetime import datetime
    from streamforge_spark.operators.joins import interval_join
    t = lambda s: datetime.fromisoformat(s)
    pts = spark.createDataFrame(
        [(1, t("2024-01-01 10:00:00")),   # == start: in
         (2, t("2024-01-01 10:09:59")),   # inside
         (3, t("2024-01-01 10:10:00")),   # == end: out
         (4, t("2024-01-01 09:59:59")),   # before: out
         (5, t("2024-01-01 10:07:30"))],  # inside, other bucket
        "id long, ts timestamp")
    iv = spark.createDataFrame(
        [(100, t("2024-01-01 10:00:00"), t("2024-01-01 10:10:00")),
         (200, t("2024-01-01 10:05:00"), t("2024-01-01 10:08:00"))],
        "iid long, s timestamp, e timestamp")
    out = interval_join(pts, iv, ts_col="ts", start_col="s", end_col="e",
                        bucket_seconds=300)  # bucket < interval length
    got = sorted((r.id, r.iid) for r in out.collect())
    assert got == [(1, 100), (2, 100), (5, 100), (5, 200)]


def test_materializer_history_scd2(spark):
    # deletes emit no version but close the predecessor's interval;
    # the last live version per key is current
    from streamforge_spark.operators.materialize import materializer_history
    df = spark.createDataFrame(
        [(1, "k", ts("2024-01-01 10:00:00"), "v1", "insert"),
         (2, "k", ts("2024-01-01 10:01:00"), "v2", "update"),
         (3, "k", ts("2024-01-01 10:02:00"), None, "delete"),
         (4, "k", ts("2024-01-01 10:03:00"), "v3", "insert")],
        "event_id long, key string, t timestamp, v string, op string")
    hist = materializer_history(df, ["key"], ["t", "event_id"], "t",
                                delete_predicate=F.col("op") == "delete")
    rows = {r.v: (r.valid_from, r.valid_to, r.is_current)
            for r in hist.collect()}
    assert rows["v1"] == (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:01:00"), False)
    assert rows["v2"] == (ts("2024-01-01 10:01:00"), ts("2024-01-01 10:02:00"), False)
    assert rows["v3"] == (ts("2024-01-01 10:03:00"), None, True)


def test_connected_components_chain_and_islands(spark):
    # a 4-node chain (worst-case diameter), a triangle, and an
    # isolated pair must each collapse to their min node id
    from streamforge_spark.operators.graph import connected_components
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain
         (10, 11), (11, 12), (12, 10),  # triangle
         (20, 21)],                     # pair
        "d1 long, d2 long")
    got = {r.node: r.component
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def _write_docs(spark, tmp_path, rows):
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string, lang string, "
                          "source string, n_chars long") \
         .coalesce(1).write.parquet(f"{path}/documents.parquet")
    return path


def test_segment_dedup_keeps_global_first_occurrence(spark, tmp_path):
    # doc 2 repeats doc 1's first segment; doc 3 repeats its own
    from streamforge_spark.queries.repetition import segment_dedup
    sf = _write_docs(spark, tmp_path, [
        (1, "a b c d e f", "en", "s", 11),
        (2, "a b c x y z", "en", "s", 11),
        (3, "p q r p q r", "en", "s", 11),
    ])
    got = {r.doc_id: (r.n_segs, r.n_kept, r.text_dedup)
           for r in segment_dedup(spark, sf).collect()}
    assert got == {1: (2, 2, "a b c d e f"),
                   2: (2, 1, "x y z"),
                   3: (2, 1, "p q r")}


def test_doc_repetition_stats_flags_repeats(spark, tmp_path):
    from streamforge_spark.queries.repetition import doc_repetition_stats
    sf = _write_docs(spark, tmp_path, [
        (1, "x y x y x y", "en", "s", 11),   # alternating: top 2-gram "x y" x3
        (2, "a a a a a a", "en", "s", 11),   # fully repeated: dup segment
    ])
    got = {r.doc_id: r for r in doc_repetition_stats(spark, sf).collect()}
    r1, r2 = got[1], got[2]
    assert (r1.n_segs, r1.n_dup_segs) == (2, 0)          # "x y x" != "y x y"
    assert (r1.top_2gram, r1.top2_count) == ("x y", 3)
    assert r1.top2_frac == 3 / 5
    assert (r2.n_segs, r2.n_dup_segs) == (2, 1)          # "a a a" twice
    assert r2.dup_seg_frac == 0.5
    assert (r2.top_2gram, r2.top2_count, r2.top2_frac) == ("a a", 5, 1.0)


def test_semantic_dup_marks_lowest_id_representative(spark):
    # colinear vectors are duplicates (cos 1) regardless of bucket
    # layout; orthogonal / opposite vectors never clear the threshold
    from streamforge_spark.functions.similarity import semantic_dup_marks
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0], 0),
         (1, [2.0, 0.0, 0.0, 0.0], 0),     # same direction as 0
         (2, [0.0, 1.0, 0.0, 0.0], 1),     # orthogonal
         (3, [-1.0, 0.0, 0.0, 0.0], 2)],   # opposite
        "vec_id long, embedding array<float>, label int")
    rows = semantic_dup_marks(emb).collect()
    assert [(r.vec_id, r.dup_of) for r in rows] == [(1, 0)]
    assert rows[0].cos == pytest.approx(1.0)


def test_kmeans_separates_clusters(spark):
    # 3 well-separated blobs, k=3, ids interleaved so the deterministic
    # lowest-id init seeds one centroid per blob: every blob must map to
    # exactly one cluster id and no two blobs share one
    from streamforge_spark.functions.clustering import kmeans_assignments
    rows = []
    for c in range(3):
        for i in range(15):
            v = [0.0] * 8
            v[c] = 1.0
            for j in range(8):
                v[j] += 0.02 * ((((i + 1) * (j + 2) * (c + 3)) % 7) - 3) / 3.0
            rows.append((i * 3 + c, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_assignments(emb, k=3, rounds=3).collect()
    assert len(out) == 45
    blob_to_clusters = {}
    for r in out:
        blob_to_clusters.setdefault(r.vec_id % 3, set()).add(r.cluster)
    assert all(len(s) == 1 for s in blob_to_clusters.values())
    ids = [next(iter(s)) for s in blob_to_clusters.values()]
    assert len(set(ids)) == 3


def test_kmeans_empty_clusters_keep_centroids(spark):
    # identical vectors: every point ties to all centroids and argmin
    # breaks to cluster 0; clusters 1..3 are empty every round and must
    # keep their init centroids without erroring
    from streamforge_spark.functions.clustering import kmeans_assignments
    rows = [(i, [0.25, -0.5, 0.125, 0.75]) for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_assignments(emb, k=4, rounds=2).collect()
    assert len(out) == 12
    assert {r.cluster for r in out} == {0}


def test_kmeans_deterministic_across_partitionings(spark):
    from streamforge_spark.functions.clustering import kmeans_assignments
    rows = [(i, [float(((i * 7 + j * 3) % 11) - 5) / 5.0 for j in range(6)])
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = {(r.vec_id, r.cluster)
         for r in kmeans_assignments(emb.repartition(1), k=4, rounds=2).collect()}
    b = {(r.vec_id, r.cluster)
         for r in kmeans_assignments(emb.repartition(13), k=4, rounds=2).collect()}
    assert a == b


def test_pagerank_star_and_determinism(spark):
    # star graph: the hub must out-rank every leaf; rank mass is
    # conserved up to rounding; repartitioning must not change a single
    # fixed-point rank (the bit-reproducibility contract)
    from streamforge_spark.operators.graph import pagerank
    hub_edges = [(0, i, 1) for i in range(1, 6)] + [(i, 0, 1) for i in range(1, 6)]
    edges = spark.createDataFrame(hub_edges, "src long, dst long, w long")
    got = {r.node: r.rank_ppb for r in pagerank(edges).collect()}
    assert set(got) == set(range(6))
    assert all(got[0] > got[i] for i in range(1, 6))
    leaf_ranks = {got[i] for i in range(1, 6)}
    assert len(leaf_ranks) == 1            # symmetry: all leaves equal
    again = {r.node: r.rank_ppb
             for r in pagerank(edges.repartition(7)).collect()}
    assert again == got


def test_pagerank_weighted_edges_shift_rank(spark):
    # 1 and 2 both point at 3 and 4, but with 9:1 weights — the
    # heavier-weighted target must collect more rank
    from streamforge_spark.operators.graph import pagerank
    edges = spark.createDataFrame(
        [(1, 3, 9), (1, 4, 1), (2, 3, 9), (2, 4, 1),
         (3, 1, 1), (4, 2, 1)], "src long, dst long, w long")
    got = {r.node: r.rank_ppb for r in pagerank(edges).collect()}
    assert got[3] > got[4]


@pytest.mark.parametrize("op", ["pagerank", "connected_components",
                                "label_propagation", "kcore_peel"])
def test_graph_op_unbounded_node_set_shuffles_same_result(
        spark, monkeypatch, op):
    # with the broadcast bound at 0 (and auto-broadcast off) every
    # node-set join shuffles both sides: the output must equal the
    # broadcast path's row for row
    from streamforge_spark.operators import graph
    run = {
        "pagerank": lambda e: graph.pagerank(e),
        "connected_components":
            lambda e: graph.connected_components(e, src="src", dst="dst"),
        "label_propagation": lambda e: graph.label_propagation(e),
        "kcore_peel": lambda e: graph.kcore_peel(e, k=2, rounds=2),
    }[op]
    pairs = [(1, 2, 3), (2, 3, 1), (1, 3, 2), (3, 4, 5), (4, 5, 1),
             (10, 11, 2), (11, 12, 2)]
    edges = spark.createDataFrame(
        pairs + [(b, a, w) for a, b, w in pairs], "src long, dst long, w long")
    broadcast = sorted(run(edges).collect())
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    monkeypatch.setattr(graph, "BROADCAST_MAX_NODES", 0)
    spark.conf.set(key, "-1")
    try:
        shuffled = sorted(run(edges).collect())
    finally:
        spark.conf.set(key, old)
    assert broadcast and shuffled == broadcast


def test_int8_quantize_endpoints_and_constant_dim(spark):
    # per-dim min -> -127, max -> 127, midpoint -> 0; a constant
    # dimension quantizes to 0 instead of dividing by zero
    from streamforge_spark.functions.similarity import int8_quantize
    emb = spark.createDataFrame(
        [(1, [0.0, 5.0]), (2, [10.0, 5.0]), (3, [5.0, 5.0])],
        "vec_id long, embedding array<float>")
    got = {r.vec_id: r.qvec for r in int8_quantize(emb).collect()}
    assert got[1] == [-127, 0]
    assert got[2] == [127, 0]
    assert got[3] == [0, 0]


def test_ab_cuped_zero_variance_covariate_degrades(spark):
    # all activity in the post-period (no pre-period history): theta's
    # denominator is 0 and the readout must fall back to the raw arm
    # mean instead of raising DIVIDE_BY_ZERO under ANSI mode
    import pandas as pd
    from streamforge_spark import registry
    registry.load_all()
    rows = [(i, i, "2024-01-20 10:00:00", "click", 10.0, "{}")
            for i in range(8)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=[
            "event_id", "user_id", "ts", "event_type", "value", "props"]))
    df = df.withColumn("ts", df.ts.cast("timestamp"))
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/events.parquet")
        out = registry.QUERIES["ab_test_cuped"](spark, d).collect()
    assert all(r.theta_den == 0 for r in out)
    assert all(r.adj_mean_millicents == 1000 * 1000 for r in out)  # raw mean 1000c


def test_zscore_constant_group_excluded_not_crashing(spark, tmp_path):
    # a zero-variance event_type would divide by sqrt(0) — it must be
    # excluded (no outliers in a constant group), not raise under ANSI
    import pandas as pd
    from streamforge_spark import registry
    registry.load_all()
    rows = ([(i, 1, "2024-01-05 10:00:00", "flat", 5.0, "{}") for i in range(6)]
            + [(10 + i, 1, "2024-01-05 10:00:00", "vary", float(i * i), "{}")
               for i in range(6)])
    df = spark.createDataFrame(pd.DataFrame(rows, columns=[
        "event_id", "user_id", "ts", "event_type", "value", "props"]))
    df = df.withColumn("ts", df.ts.cast("timestamp"))
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = registry.QUERIES["zscore_outliers"](spark, d).collect()
    assert all(r.event_type == "vary" for r in out)


def test_cosine_zero_vector_scores_zero_not_crashing(spark):
    from streamforge_spark.functions.similarity import cosine
    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0]), ([1.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>")
    got = [r.c for r in df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert got == [0.0, 1.0]


def test_decode_media_dispatches_all_three_real_codecs(spark):
    # magic-byte sniffing routes PNG / WAV / GIF payloads through
    # their real codecs in one decode stage
    from streamforge_spark.functions.gif import encode_gif
    from streamforge_spark.functions.png import encode_png
    from streamforge_spark.functions.wav import encode_wav
    from streamforge_spark.multimodal import decode_media
    png = encode_png(2, 2, bytes(range(12)))
    wav = encode_wav([100, -200, 300], framerate=8000)
    gif = encode_gif(3, 2, [bytes(6), bytes(range(6))])
    df = spark.createDataFrame(
        [(1, "image", bytearray(png), "s", {}),
         (2, "audio", bytearray(wav), "s", {}),
         (3, "video", bytearray(gif), "s", {})],
        "media_id long, media_type string, payload binary, "
        "source string, meta map<string,string>")
    got = {r.media_id: r for r in decode_media(df).collect()}
    assert (got[1].width, got[1].height) == (2, 2)
    assert (got[2].width, got[2].height) == (3, 8000)   # samples, rate
    assert (got[3].width, got[3].height) == (3, 2)


def test_asof_join_tolerance_nulls_stale_matches(spark):
    # staleness bound: a match farther than tolerance_seconds nulls
    # out; fresh matches are identical to the unbounded as-of
    import pandas as pd
    from pyspark.sql import functions as F
    from streamforge_spark.operators.joins import asof_join
    left = spark.createDataFrame(pd.DataFrame({
        "k": [1, 1], "lts": pd.to_datetime(
            ["2024-01-01 10:00:00", "2024-01-05 10:00:00"])}))
    right = spark.createDataFrame(pd.DataFrame({
        "k": [1], "rts": pd.to_datetime(["2024-01-01 09:00:00"]),
        "v": [42]}))
    out = asof_join(left, right, key="k", left_ts="lts", right_ts="rts",
                    right_cols=["v"], tolerance_seconds=86400)
    got = {r.lts.day: r.asof_v for r in out.collect()}
    assert got[1] == 42        # 1h old: fresh
    assert got[5] is None      # 4 days old: refused


def test_bloom_prune_superset_and_selective(spark):
    from streamforge_spark.operators.bloomjoin import bloom_prune, bloom_words
    m = 1 << 14
    build = spark.range(0, 1000).selectExpr("id AS k")          # members 0..999
    probe = spark.range(0, 20000).selectExpr("id AS k")         # 5% members
    words = bloom_words(build, "k", m)
    # the word table is tiny regardless of build cardinality
    assert words.count() <= m // 64
    kept = set(r.k for r in bloom_prune(probe, "k", words, m).collect())
    # no false negatives: every true member survives
    assert set(range(1000)) <= kept
    # real pruning: non-members mostly dropped (fp rate well under 50%)
    assert len(kept) < 1000 + 0.5 * 19000


def test_schema_migrator_chain(spark):
    from streamforge_spark.operators.quality import (
        SchemaMigration, schema_migrator,
    )
    import json as _json
    df = spark.createDataFrame(
        [(1, "v1", '{"k": "7", "amt": "100", "legacy_sig": "x"}'),
         (2, "v2", '{"k": "8", "amount": "200"}'),
         (3, "v2", '{"k": "9", "amount": "300", "currency": "EUR"}'),
         (4, "v3", '{"k": "10", "amount": "400", "currency": "GBP", "channel": "web"}'),
         (5, "v9", '{"k": "11"}'),       # unknown version -> DLQ
         (6, None, '{"k": "12"}')],      # null version -> DLQ
        "id long, ver string, payload string")
    chain = [
        SchemaMigration("v1", "v2", rename=(("amt", "amount"),),
                        drop=("legacy_sig",)),
        SchemaMigration("v2", "v3", defaults=(("currency", "USD"),
                                              ("channel", "unknown"))),
    ]
    from pyspark.sql import functions as F
    ok, dlq = schema_migrator(df, "payload", F.col("ver"), chain)
    got = {r.id: _json.loads(r.payload) for r in ok.collect()}
    assert got == {
        1: {"k": "7", "amount": "100", "currency": "USD", "channel": "unknown"},
        2: {"k": "8", "amount": "200", "currency": "USD", "channel": "unknown"},
        3: {"k": "9", "amount": "300", "currency": "EUR", "channel": "unknown"},
        4: {"k": "10", "amount": "400", "currency": "GBP", "channel": "web"},
    }
    assert all(r._schema_version == "v3" for r in ok.collect())
    assert {r._migrated_from for r in ok.collect()} == {"v1", "v2", "v3"}
    d = dlq.collect()
    assert len(d) == 2
    assert {r.error_type for r in d} == {"SCHEMA_UNMIGRATABLE"}
    assert any("v9" in r.error_message for r in d)
    assert any("<null>" in r.error_message for r in d)


def test_schema_migrator_target_rows_pass_byte_identical(spark):
    """Rows already at the target version must NOT round-trip through
    map<string,string> (advisor r9): a nested/typed payload at the
    target version passes through byte-identical, not re-typed."""
    from streamforge_spark.operators.quality import (
        SchemaMigration, schema_migrator,
    )
    from pyspark.sql import functions as F
    raw = '{"amt": 100, "nested": {"x": true}, "arr": [1, 2]}'
    df = spark.createDataFrame([(1, "v2", raw)],
                               "id long, ver string, payload string")
    ok, dlq = schema_migrator(
        df, "payload", F.col("ver"), [SchemaMigration("v1", "v2")])
    rows = ok.collect()
    assert len(rows) == 1 and rows[0].payload == raw
    assert dlq.count() == 0


def test_schema_migrator_nonflat_payload_to_dlq(spark):
    """A payload that NEEDS migrating but is not a flat string map
    (numbers / booleans / nested values the map type would re-type)
    dual-outputs to the DLQ as SCHEMA_NONFLAT_PAYLOAD instead of being
    silently coerced; unparseable JSON lands in the same class instead
    of emitting a null payload."""
    import json as _json
    from streamforge_spark.operators.quality import (
        SchemaMigration, schema_migrator,
    )
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(1, "v1", '{"amt": 100}'),                 # number -> DLQ
         (2, "v1", '{"ok": true}'),                 # bool -> DLQ
         (3, "v1", '{"nested": {"x": 1}}'),         # object -> DLQ
         (4, "v1", 'not json'),                     # malformed -> DLQ
         (5, "v1", '{"amt": "100", "n": null}'),    # flat -> migrates
         (6, "v9", '{"amt": 100}')],                # unknown version
        "id long, ver string, payload string")
    ok, dlq = schema_migrator(
        df, "payload", F.col("ver"),
        [SchemaMigration("v1", "v2", rename=(("amt", "amount"),))])
    rows = ok.collect()
    assert [r.id for r in rows] == [5]
    assert _json.loads(rows[0].payload) == {"amount": "100", "n": None}
    d = {r.error_type: 0 for r in dlq.collect()}
    for r in dlq.collect():
        d[r.error_type] += 1
    assert d == {"SCHEMA_NONFLAT_PAYLOAD": 4, "SCHEMA_UNMIGRATABLE": 1}


def test_schema_migrator_unsorted_flat_keys(spark):
    """Pins the Spark variant key-ordering assumption (advisor r10):
    the flat-payload check compares to_json(try_parse_json(payload))
    — whose object keys Spark's variant encoding emits SORTED —
    against the entry-sorted map parse.  A flat payload whose keys
    arrive UNSORTED must still be recognized as flat and migrate; if
    a Spark upgrade changes variant-to-JSON key ordering, this test
    fails loudly instead of the operator silently diverting such
    payloads to the SCHEMA_NONFLAT_PAYLOAD DLQ."""
    import json as _json
    from streamforge_spark.operators.quality import (
        SchemaMigration, schema_migrator,
    )
    from pyspark.sql import functions as F
    raw = '{"zeta": "1", "alpha": "2", "mid": null, "beta": "3"}'
    df = spark.createDataFrame([(1, "v1", raw)],
                               "id long, ver string, payload string")
    ok, dlq = schema_migrator(
        df, "payload", F.col("ver"),
        [SchemaMigration("v1", "v2", rename=(("zeta", "omega"),))])
    rows = ok.collect()
    assert [r.id for r in rows] == [1]
    assert _json.loads(rows[0].payload) == {
        "omega": "1", "alpha": "2", "mid": None, "beta": "3"}
    assert dlq.count() == 0


def test_schema_migrator_rejects_broken_chain(spark):
    from streamforge_spark.operators.quality import (
        SchemaMigration, schema_migrator,
    )
    from pyspark.sql import functions as F
    df = spark.createDataFrame([(1, "v1", "{}")],
                               "id long, ver string, payload string")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="broken chain"):
        schema_migrator(df, "payload", F.col("ver"),
                        [SchemaMigration("v1", "v2"),
                         SchemaMigration("v3", "v4")])
