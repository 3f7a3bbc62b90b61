"""Windowed-analytics & reshaping surplus queries (SURVEY §2.8
'absent' row): PIVOT, running-total window frames, exact percentiles.
The reference's only aggregation shape is a session-window list fold —
these demonstrate the analytic surface Spark adds for free.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from streamforge_spark.queries.common import prep, scaled_sum, sql_scaled_sum
from streamforge_spark.registry import query

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "pivot_event_types",
    oracle="""
SELECT user_id,
       CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
       CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
       CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
       CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
       CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
FROM events GROUP BY user_id
""",
)
def pivot_event_types(spark, sf_dir):
    """PIVOT reshaping: one row per user, one column per event type.
    The pivot value list is pinned (no extra distinct-values job — at
    100 TB an unpinned pivot is two passes over the fact table)."""
    (events,) = prep(spark, sf_dir, "events")
    out = (
        events.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES])


@query(
    "running_user_total",
    oracle="""
SELECT event_id, user_id,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq
FROM events
""",
)
def running_user_total(spark, sf_dir):
    """Running-total window frame per user (ROWS UNBOUNDED PRECEDING),
    ordered by (ts, event_id) — the unique tiebreak makes every row's
    prefix sum deterministic. One hash shuffle on user_id; the frame
    is a single forward scan per partition."""
    (events,) = prep(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id", "user_id",
        F.sum(F.round(F.col("value") * 100).cast("long")).over(w).alias("running_cents"),
        F.row_number().over(wo).cast("long").alias("seq"),
    )


@query(
    "event_value_percentiles",
    oracle="""
WITH ranked AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events)
SELECT event_type,
       MAX(CASE WHEN rn = CAST(CEIL(0.50 * n) AS BIGINT) THEN cents END) AS p50_cents,
       MAX(CASE WHEN rn = CAST(CEIL(0.90 * n) AS BIGINT) THEN cents END) AS p90_cents,
       MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN cents END) AS p99_cents,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM ranked GROUP BY event_type
""",
)
def event_value_percentiles(spark, sf_dir):
    """Exact distributed percentiles as order statistics: rank each
    value within its group (deterministic (value, event_id) order),
    pick the rows at rank ceil(q*n). One hash shuffle on the group key;
    no driver-side sort, no sketch approximation — identical window
    arithmetic on both sides keeps the oracle bit-exact. At 100 TB a
    skewed group is the bottleneck; the approximate alternative is
    percentile_approx (t-digest, mergeable map-side)."""
    (events,) = prep(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = events.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"))

    def at(q):
        return F.max(F.when(
            F.col("rn") == F.ceil(F.lit(q) * F.col("n")), F.col("cents")))

    return (ranked.groupBy("event_type")
            .agg(at(0.50).alias("p50_cents"), at(0.90).alias("p90_cents"),
                 at(0.99).alias("p99_cents"),
                 F.count(F.lit(1)).alias("n_events")))


@query(
    "grouping_sets_revenue",
    oracle="""
SELECT event_type,
       CAST(EXTRACT(dow FROM ts) AS BIGINT) AS dow,
       CAST(GROUPING(event_type) AS BIGINT) AS g_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
FROM events
GROUP BY GROUPING SETS ((event_type), (CAST(EXTRACT(dow FROM ts) AS BIGINT)), ())
""",
)
def grouping_sets_revenue(spark, sf_dir):
    """Explicit GROUPING SETS (per-type, per-day-of-week, grand total)
    through the SQL surface — one Expand + one aggregate, not three
    scans; GROUPING() flags disambiguate real NULL group keys. DuckDB's
    EXTRACT(dow) is 0=Sunday; Spark's dayofweek is 1=Sunday, hence the
    -1 on the Spark side."""
    (events,) = prep(spark, sf_dir, "events")
    events.createOrReplaceTempView("events_gs")
    return spark.sql("""
        SELECT event_type,
               CAST(dayofweek(ts) - 1 AS BIGINT) AS dow,
               CAST(grouping(event_type) AS BIGINT) AS g_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
        FROM events_gs
        GROUP BY GROUPING SETS ((event_type), (CAST(dayofweek(ts) - 1 AS BIGINT)), ())
    """)


@query(
    "sliding_window_stats",
    oracle=f"""
WITH assigned AS (
  SELECT date_trunc('hour', ts) AS s, value FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS s, value FROM events
)
SELECT s AS window_start,
       CAST(COUNT(*) AS BIGINT) AS event_count,
       {sql_scaled_sum('value')} AS total_value
FROM assigned GROUP BY s
""",
)
def sliding_window_stats(spark, sf_dir):
    """Sliding event-time windows (2h width, 1h slide) — capability
    surplus over the reference's session-only windowing (SURVEY §2.8).
    Built-in ``window()`` expands each row into width/slide = 2
    epoch-aligned windows BEFORE the shuffle, so the map-side partial
    aggregate still combines — at 100 TB the shuffle carries one
    partial row per (window, partition), not 2× the fact table. The
    oracle replays the same assignment as a two-branch UNION ALL."""
    (events,) = prep(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("event_count"),
             scaled_sum(F.col("value")).alias("total_value"))
        .select(F.col("w.start").alias("window_start"),
                "event_count", "total_value")
    )


@query(
    "cascading_rollup",
    oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
  FROM events GROUP BY 1
)
SELECT date_trunc('day', h) AS day,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS cents,
       CAST(COUNT(*) AS BIGINT) AS n_hours
FROM hourly GROUP BY 1
""",
)
def cascading_rollup(spark, sf_dir):
    """Hypertable-style continuous-aggregate cascade: the day rollup
    is computed FROM the hour rollup, not from raw events — at 100 TB
    the coarser resolutions aggregate a few thousand partial rows
    instead of rescanning the fact table (persist the hourly level and
    the daily refresh is O(hours), the continuous-aggregate pattern).
    Counts/sums stay integer-exact through both levels."""
    (events,) = prep(spark, sf_dir, "events")
    hourly = (events.groupBy(F.date_trunc("hour", "ts").alias("h"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")))
    return (hourly.groupBy(F.date_trunc("day", "h").alias("day"))
            .agg(F.sum("n").alias("n_events"),
                 F.sum("cents").alias("cents"),
                 F.count(F.lit(1)).alias("n_hours")))


@query(
    "topk_per_group",
    oracle="""
SELECT event_type, event_id, cents, CAST(rn AS BIGINT) AS rank FROM (
  SELECT event_type, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rn
  FROM events
) WHERE rn <= 3
""",
)
def topk_per_group(spark, sf_dir):
    """Top-k PER GROUP (vs the global TakeOrderedAndProject top-k):
    rank-within-partition + filter — one hash exchange on the group
    key, and Spark's WindowGroupLimit pushes the k-limit into the
    sort, so each partition keeps a k-row heap instead of fully
    sorting (the per-group analog of TakeOrderedAndProject)."""
    (events,) = prep(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id"))
    return (events.select(
                "event_type", "event_id",
                F.round(F.col("value") * 100).cast("long").alias("cents"),
                F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") <= 3)
            .select("event_type", "event_id", "cents",
                    F.col("rn").cast("long").alias("rank")))


@query(
    "window_rank_suite",
    oracle="""
SELECT event_id, event_type,
       CAST(NTILE(10) OVER w AS BIGINT) AS decile,
       CAST(RANK() OVER w AS BIGINT) AS rnk,
       CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
       CAST(ROUND(PERCENT_RANK() OVER w * 1000000) AS BIGINT) AS pct_rank_ppm,
       CAST(ROUND(CUME_DIST() OVER w * 1000000) AS BIGINT) AS cume_ppm
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
""",
)
def window_rank_suite(spark, sf_dir):
    """The full ranking-window surface in one pass: NTILE deciles,
    RANK/DENSE_RANK, PERCENT_RANK and CUME_DIST per event type under a
    deterministic (value, event_id) order. All five functions share
    ONE window spec — one hash exchange, one sort, five O(1)-state
    computations per row. percent_rank/cume_dist are (rank-1)/(n-1)
    and peers/n integer-derived divisions — identical IEEE ops in both
    engines, reported in ppm."""
    (events,) = prep(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return events.select(
        "event_id", "event_type",
        F.ntile(10).over(w).cast("long").alias("decile"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.round(F.percent_rank().over(w) * 1000000).cast("long").alias("pct_rank_ppm"),
        F.round(F.cume_dist().over(w) * 1000000).cast("long").alias("cume_ppm"))


_RUNS_ORACLE = """
WITH flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN LAG(event_type) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events),
islands AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged)
SELECT user_id, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS run_start,
       MAX(ts) AS run_end
FROM islands
GROUP BY user_id, event_type, island
"""


@query("event_runs", oracle=_RUNS_ORACLE)
def event_runs(spark, sf_dir):
    """Gaps-and-islands run-length encoding: collapse each user's
    CONSECUTIVE events of the same type (in (ts, event_id) order) into
    runs — the classic sessionize-by-value-change shape behind "3
    failed logins in a row" and retry-burst detection, complementing
    the time-gap sessionizer (SessionAnalyzer, SURVEY §2.8).

    Island id = running count of type-change flags (lag + prefix sum),
    NOT the textbook double-row-number difference: the change-flag form
    keeps every window on the SAME partition key (user_id), so the
    whole query is ONE hash exchange + a map-side-combined rollup,
    where rn_overall - rn_within_type would shuffle twice (user_id and
    (user_id, event_type) partitionings don't unify).
    """
    (events,) = prep(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = events.select(
        "user_id", "event_type", "ts", "event_id",
        F.when(F.lag("event_type").over(w).eqNullSafe(F.col("event_type")),
               F.lit(0)).otherwise(F.lit(1)).alias("chg"))
    islands = flagged.select(
        "user_id", "event_type", "ts",
        F.sum("chg").over(wc).alias("island"))
    return (islands.groupBy("user_id", "event_type", "island")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("ts").alias("run_start"),
                 F.max("ts").alias("run_end"))
            .drop("island"))


_TRIGRAM_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS t1,
         LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
         LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
  FROM events)
SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n
FROM seq WHERE t3 IS NOT NULL
GROUP BY t1, t2, t3
ORDER BY n DESC, t1, t2, t3
LIMIT 20
"""


@query("event_trigrams", oracle=_TRIGRAM_ORACLE)
def event_trigrams(spark, sf_dir):
    """Top-20 contiguous 3-step behavior patterns across all user
    streams — the order-3 upgrade of the Markov transition matrix
    (`event_transitions`), for "what do users actually DO in
    sequence" questions (click→click→error spikes, signup→click→
    purchase golden paths).

    ONE user_id window exchange produces both leads; the trigram
    rollup is map-side combined (|types|³ groups max) and the top-20
    rides TakeOrderedAndProject.
    """
    (events,) = prep(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"))
    return (seq.where(F.col("t3").isNotNull())
            .groupBy("t1", "t2", "t3")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "t1", "t2", "t3")
            .limit(20))


_TRANSIT_LAT_ORACLE = """
WITH hops AS (
  SELECT event_type AS t1,
         LEAD(event_type) OVER w AS t2,
         epoch_us(LEAD(ts) OVER w) - epoch_us(ts) AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
ranked AS (
  SELECT t1, t2, gap_us,
         ROW_NUMBER() OVER (PARTITION BY t1, t2 ORDER BY gap_us) AS rn,
         COUNT(*) OVER (PARTITION BY t1, t2) AS n
  FROM hops WHERE t2 IS NOT NULL)
SELECT t1, t2, CAST(MAX(n) AS BIGINT) AS n_hops,
       MAX(CASE WHEN rn = (n + 1) // 2 THEN gap_us END) AS median_gap_us,
       MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT) THEN gap_us END)
         AS p95_gap_us
FROM ranked GROUP BY t1, t2
"""


@query("transition_latency", oracle=_TRANSIT_LAT_ORACLE)
def transition_latency(spark, sf_dir):
    """Process-mining bottleneck finder: for every directly-follows
    transition (t1 -> t2) in user event streams, the median and p95
    dwell time — `event_transitions` says WHERE users go, this says
    how LONG each hop takes (the slow hop is the bottleneck).

    Exact integer microseconds; medians/p95 are order statistics
    (deterministic gap order).  Two exchanges: user_id for the lead
    window, (t1, t2) for the rank — both row-sized but narrow (two
    strings + one long), and the per-transition rank partitions
    parallelize across the |types|² transition key space.
    """
    (events,) = prep(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hops = (events.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type").over(w).alias("t2"),
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts"))
        .alias("gap_us"))
        .where(F.col("t2").isNotNull()))
    wr = Window.partitionBy("t1", "t2").orderBy("gap_us")
    wn = Window.partitionBy("t1", "t2")
    ranked = hops.select(
        "t1", "t2", "gap_us",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"))
    return (ranked.groupBy("t1", "t2")
            .agg(F.max("n").alias("n_hops"),
                 F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"),
                              F.col("gap_us"))).alias("median_gap_us"),
                 F.max(F.when(F.col("rn") == F.ceil(F.lit(0.95) * F.col("n"))
                              .cast("long"), F.col("gap_us")))
                 .alias("p95_gap_us")))
