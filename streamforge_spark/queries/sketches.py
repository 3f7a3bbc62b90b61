"""Mergeable-sketch columns (Apache DataSketches via Spark 4 built-ins):
HLL distinct-count sketches and Theta set-algebra sketches as
first-class BINARY aggregation state.

THE 100 TB story: a sketch is an aggregate you can keep — per-day /
per-partition sketches persist as binary columns, and any later
rollup (week, month, ad-hoc segment union) MERGES sketches instead of
re-scanning raw data. Estimation error is a few permille at any
cardinality; below the sketch's exact threshold (coupon/sample mode:
~thousands of distinct values) the estimate IS the exact count — and
the fixtures sit below that threshold, so these queries carry real
value-exact oracles at the driver's correctness scale (sf0.01: 150
users). `test_hll_estimate_error_bound_at_sf01` pins the approximate
regime at sf0.1 instead.

Correctness note: DataSketches hashing is deterministic, so a passing
estimate is stable across partitionings, retries, and merge orders —
the oracle equality is not luck, it is sparse-mode exactness.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streamforge_spark.queries.common import prep
from streamforge_spark.registry import query

_HLL_ORACLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS scope,
       CAST(count(DISTINCT user_id) AS BIGINT) AS est_users
FROM events GROUP BY 1
UNION ALL
SELECT 'total', CAST(count(DISTINCT user_id) AS BIGINT) FROM events
"""


@query("hll_daily_distinct", oracle=_HLL_ORACLE)
def hll_daily_distinct(spark, sf_dir):
    """Daily distinct users as HLL sketches, with the corpus total
    computed by UNIONING THE DAILY SKETCHES — never re-touching raw
    events — the incremental-rollup pattern that makes distinct counts
    maintainable at 100 TB (exact distinct is not mergeable; sketches
    are).

    Plan: one map-side-combined sketch aggregation per day (state =
    one sketch per day per partition), then a second aggregation over
    the ~365 sketch rows for the total. The oracle is exact distinct:
    equality holds because the fixture cardinality keeps every sketch
    in its exact (coupon) regime — see module docstring."""
    (events,) = prep(spark, sf_dir, "events")
    daily = (events
             .groupBy(F.date_format(F.date_trunc("day", "ts"),
                                    "yyyy-MM-dd").alias("scope"))
             .agg(F.hll_sketch_agg("user_id").alias("sk")))
    per_day = daily.select(
        "scope", F.hll_sketch_estimate("sk").alias("est_users"))
    total = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users")
    ).select(F.lit("total").alias("scope"), "est_users")
    return per_day.unionByName(total)


_THETA_ORACLE = """
WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT 'click_or_purchase' AS op,
       CAST((SELECT count(*) FROM (SELECT * FROM c UNION SELECT * FROM p)) AS BIGINT) AS est_users
UNION ALL
SELECT 'click_and_purchase',
       CAST((SELECT count(*) FROM (SELECT * FROM c INTERSECT SELECT * FROM p)) AS BIGINT)
UNION ALL
SELECT 'click_not_purchase',
       CAST((SELECT count(*) FROM (SELECT * FROM c EXCEPT SELECT * FROM p)) AS BIGINT)
"""


@query("theta_event_audiences", oracle=_THETA_ORACLE)
def theta_event_audiences(spark, sf_dir):
    """Audience set algebra WITHOUT materializing the sets: Theta
    sketches support union, intersection, AND difference on the sketch
    itself — overlap-of-segments questions (how many clickers also
    purchased?) answered from two binary values instead of a distinct
    self-join. Exact below the sketch's sample threshold (4096), which
    covers the driver-gate fixtures; a permille-error estimate beyond.

    Plan: the two per-type sketches build in ONE conditional-aggregate
    scan pass (map-side combined); the three set operations are
    driver-free scalar algebra on two sketch values, emitted as a
    3-row report."""
    (events,) = prep(spark, sf_dir, "events")
    sks = events.agg(
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("c"),
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("p"))
    ops = sks.select(
        F.theta_sketch_estimate(F.theta_union("c", "p")).alias("or_"),
        F.theta_sketch_estimate(F.theta_intersection("c", "p")).alias("and_"),
        F.theta_sketch_estimate(F.theta_difference("c", "p")).alias("not_"))
    rows = [("click_or_purchase", "or_"), ("click_and_purchase", "and_"),
            ("click_not_purchase", "not_")]
    out = None
    for name, col in rows:
        part = ops.select(F.lit(name).alias("op"),
                          F.col(col).alias("est_users"))
        out = part if out is None else out.unionByName(part)
    return out


_BLOOM_M = 65536

_BLOOM_FP_ORACLE = f"""
WITH keys AS (SELECT DISTINCT event_id AS k FROM events),
pos AS (
  SELECT k, CAST(('0x' || substr(md5('bp1:' || CAST(k AS VARCHAR)), 1, 15))
                 AS BIGINT) % {_BLOOM_M} AS p FROM keys
  UNION
  SELECT k, CAST(('0x' || substr(md5('bp2:' || CAST(k AS VARCHAR)), 1, 15))
                 AS BIGINT) % {_BLOOM_M} AS p FROM keys),
cnt AS (SELECT p, COUNT(*) AS nk FROM pos GROUP BY p),
shadow AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS shadowed_keys FROM (
    SELECT k FROM pos JOIN cnt USING (p)
    GROUP BY k HAVING MIN(nk) >= 2)),
stats AS (
  SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS n_keys,
         CAST(COUNT(DISTINCT p) AS BIGINT) AS set_bits
  FROM pos)
SELECT n_keys, set_bits,
       set_bits * set_bits * 1000000 // (CAST({_BLOOM_M} AS BIGINT) * {_BLOOM_M})
         AS fp_ppm,
       shadowed_keys
FROM stats, shadow
"""


@query("bloom_fp_bound", oracle=_BLOOM_FP_ORACLE)
def bloom_fp_bound(spark, sf_dir):
    """Static false-positive audit of a bloom-filter dedup: after
    inserting every key into an m=65536-bit filter with 2 md5-derived
    hash positions, report (a) the occupied-bit count and the
    resulting fresh-key false-positive rate (set_bits/m)^2 in ppm, and
    (b) the number of keys BOTH of whose positions are shared with
    other keys — the keys that would be suppressed if they arrived
    after their shadowers (VERDICT r3 item 6).

    Position math is the cross-engine 60-bit md5 hash
    (functions/simdedup.py::oracle_hash60), so the oracle is EXACT —
    integer ppm via floor division, no floats anywhere.

    Scale shape: distinct + two integer groupBys; position cardinality
    is capped at m (65536) regardless of key count, so the poscnt
    rollup is KB-scale at any data size.
    """
    from pyspark.sql import functions as F

    from streamforge_spark.functions.simdedup import oracle_hash60
    from streamforge_spark.queries.common import prep

    (events,) = prep(spark, sf_dir, "events")
    m = _BLOOM_M
    keys = events.select(F.col("event_id").alias("k")).distinct()

    def pos(salt):
        return F.pmod(oracle_hash60(F.col("k").cast("string"), salt=salt),
                      F.lit(m))

    # three consumers (poscnt, shadow, stats) — pin the rollup so the
    # fact scan happens once, not six times (union doubles each reuse)
    pos_df = (keys.select("k", pos("bp1").alias("p"))
              .unionAll(keys.select("k", pos("bp2").alias("p")))
              .distinct()
              .localCheckpoint(eager=False))
    poscnt = pos_df.groupBy("p").agg(F.count(F.lit(1)).alias("nk"))
    shadow = (pos_df.join(poscnt, "p")
              .groupBy("k").agg(F.min("nk").alias("minnk"))
              .where(F.col("minnk") >= 2)
              .agg(F.count(F.lit(1)).alias("shadowed_keys")))
    stats = pos_df.agg(F.countDistinct("k").alias("n_keys"),
                       F.countDistinct("p").alias("set_bits"))
    return (stats.crossJoin(shadow)
            .select("n_keys", "set_bits",
                    F.expr(f"set_bits * set_bits * 1000000L "
                           f"div (CAST({m} AS BIGINT) * {m})")
                    .alias("fp_ppm"),
                    "shadowed_keys"))
