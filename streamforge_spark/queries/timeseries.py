"""Time-series resampling & statistics queries.

The reference's only time-series shapes are session windows and
tumbling aggregates (SessionAnalyzer.java, SURVEY §2.8); a production
analytics engine over event streams also needs calendar resampling
(gap-filled regular grids, OHLC bars), distribution analysis
(histograms, outlier detection), and sequence analysis (transition
matrices). Each query here is exact-arithmetic (integer cents) so the
DuckDB oracle matches bit-for-bit.

Scale notes are per-query; the common theme is that every shape is one
or two hash shuffles on ``user_id``/``event_type`` with map-side
partial aggregation — no driver-side data movement, no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from streamforge_spark.queries.common import prep
from streamforge_spark.registry import query

def _cents():
    return F.round(F.col("value") * 100).cast("long")


@query(
    "gap_fill_daily",
    oracle="""
WITH per_day AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events),
closes AS (SELECT user_id, day, cents FROM per_day WHERE rn = 1),
spans AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM closes GROUP BY user_id),
grid AS (SELECT user_id, CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
         FROM spans)
SELECT g.user_id, CAST(g.day AS TIMESTAMP) AS day,
       LAST_VALUE(c.cents IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents,
       (c.cents IS NOT NULL) AS is_observed
FROM grid g LEFT JOIN closes c ON g.user_id = c.user_id AND g.day = c.day
""",
)
def gap_fill_daily(spark, sf_dir):
    """Calendar gap-fill: resample each user's event stream onto a
    daily grid over that user's own active span, forward-filling the
    last observed close value into silent days.

    Spark shape: each close row knows the NEXT close's day (``lead``),
    so it can emit its own forward-filled grid segment directly —
    ``explode(sequence(day, next_day - 1))``. ONE events scan, no
    grid⨝closes join (a join formulation scans the closes twice), two
    hash exchanges: (user_id, day) for the per-day close rank,
    user_id for the lead. The grid rows are generated at the
    executors, never the driver, and total grid size is the sum of
    per-user active spans — a 100 TB corpus of short-lived keys does
    not explode into |users| × global-span. No Python, no collect.
    """
    (events,) = prep(spark, sf_dir, "events")
    projected = events.select(
        "user_id", F.to_date("ts").alias("day"), _cents().alias("cents"),
        "ts", "event_id")
    per_day = projected.withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("user_id", "day")
            .orderBy(F.col("ts").desc(), F.col("event_id").desc())))
    closes = per_day.filter(F.col("rn") == 1).select("user_id", "day", "cents")
    nxt = closes.withColumn(
        "next_day", F.lead("day").over(
            Window.partitionBy("user_id").orderBy("day")))
    seg_end = F.coalesce(F.date_sub("next_day", 1), F.col("day"))
    grid = nxt.select(
        "user_id", "cents", F.col("day").alias("obs_day"),
        F.explode(F.sequence("day", seg_end, F.expr("interval 1 day"))).alias("day"))
    return grid.select(
        "user_id", F.col("day").cast("timestamp").alias("day"),
        F.col("cents").alias("filled_cents"),
        (F.col("day") == F.col("obs_day")).alias("is_observed"))


@query(
    "ohlc_daily",
    oracle="""
WITH ranked AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events)
SELECT user_id, CAST(day AS TIMESTAMP) AS day,
       MAX(CASE WHEN rn_a = 1 THEN cents END) AS open_cents,
       MAX(cents) AS high_cents,
       MIN(cents) AS low_cents,
       MAX(CASE WHEN rn_d = 1 THEN cents END) AS close_cents,
       CAST(COUNT(*) AS BIGINT) AS n_trades,
       SUM(cents) AS volume_cents
FROM ranked GROUP BY user_id, day
""",
)
def ohlc_daily(spark, sf_dir):
    """OHLC resampling: per (user, day) open/high/low/close/volume
    bars — the canonical downsample for any metering or market-style
    event stream. A SINGLE map-side-combinable aggregation (no rank
    window, no sort): open/close are min_by/max_by under the unique
    (ts, event_id) key — deterministic, and the identical result to
    the oracle's rank-1 formulation. Exact BIGINT cents throughout."""
    (events,) = prep(spark, sf_dir, "events")
    projected = events.select(
        "user_id", F.to_date("ts").alias("day"), _cents().alias("cents"),
        "ts", "event_id")
    seq = F.struct("ts", "event_id")
    return (projected.groupBy("user_id", "day")
            .agg(F.min_by("cents", seq).alias("open_cents"),
                 F.max("cents").alias("high_cents"),
                 F.min("cents").alias("low_cents"),
                 F.max_by("cents", seq).alias("close_cents"),
                 F.count(F.lit(1)).alias("n_trades"),
                 F.sum("cents").alias("volume_cents"))
            .select("user_id", F.col("day").cast("timestamp").alias("day"),
                    "open_cents", "high_cents", "low_cents", "close_cents",
                    "n_trades", "volume_cents"))


@query(
    "zscore_outliers",
    oracle="""
WITH stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s,
         SUM(CAST(ROUND(value * 100) AS BIGINT) * CAST(ROUND(value * 100) AS BIGINT)) AS sq
  FROM events GROUP BY event_type
  HAVING COUNT(*) * SUM(CAST(ROUND(value * 100) AS BIGINT) * CAST(ROUND(value * 100) AS BIGINT))
         > SUM(CAST(ROUND(value * 100) AS BIGINT)) * SUM(CAST(ROUND(value * 100) AS BIGINT))),
scored AS (
  SELECT e.event_id, e.event_type,
         CAST(ROUND(e.value * 100) AS BIGINT) AS cents,
         (CAST(ROUND(e.value * 100) AS BIGINT) - CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE))
           / SQRT(CAST(s.sq AS DOUBLE) / CAST(s.n AS DOUBLE)
                  - (CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE))
                    * (CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE))) AS z
  FROM events e JOIN stats s USING (event_type))
SELECT event_id, event_type, cents,
       CAST(ROUND(z * 1000) AS BIGINT) AS z_milli
FROM scored WHERE ABS(z) > 2.5
""",
)
def zscore_outliers(spark, sf_dir):
    """Per-group z-score outlier detection: flag events >2.5σ from
    their event_type mean. Two-pass shape chosen for scale: the
    per-type moment aggregate (n, Σx, Σx²) is map-side combinable and
    tiny (|types| rows), then broadcast back onto the scan — NO window
    over event_type, which would shuffle the whole fact table into
    |types| skewed partitions. Moments are exact BIGINTs; the mean/
    variance/z arithmetic is the identical IEEE sequence in both
    engines, so the oracle is bit-exact."""
    (events,) = prep(spark, sf_dir, "events")
    stats = (events.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(_cents()).alias("s"),
                  F.sum(_cents() * _cents()).alias("sq"))
             # zero-variance groups have no outliers by definition and
             # would divide by sqrt(0) (ANSI mode: crash) — exclude via
             # the EXACT test n·Σx² > (Σx)², computed in DECIMAL(38,0)
             # (int64 products overflow past ~10⁷ rows·10⁵ cents under
             # the very ANSI mode this guard protects; DuckDB's HAVING
             # promotes to HUGEINT — both sides stay exact)
             .filter(F.col("n").cast("decimal(19,0)")
                     * F.col("sq").cast("decimal(19,0)")
                     > F.col("s").cast("decimal(19,0)")
                     * F.col("s").cast("decimal(19,0)")))
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    var = F.col("sq").cast("double") / F.col("n").cast("double") - mean * mean
    scored = (events.select("event_id", "event_type", _cents().alias("cents"))
              .join(F.broadcast(stats), "event_type")
              .withColumn("z", (F.col("cents") - mean) / F.sqrt(var)))
    return (scored.filter(F.abs(F.col("z")) > 2.5)
            .select("event_id", "event_type", "cents",
                    F.round(F.col("z") * 1000).cast("long").alias("z_milli")))


@query(
    "value_histogram",
    oracle="""
SELECT event_type,
       CAST(FLOOR(CAST(ROUND(value * 100) AS BIGINT) / 5000) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(CAST(ROUND(value * 100) AS BIGINT)) AS min_cents,
       MAX(CAST(ROUND(value * 100) AS BIGINT)) AS max_cents
FROM events GROUP BY event_type, bucket
""",
)
def value_histogram(spark, sf_dir):
    """Equi-width value histogram ($50 buckets) per event type — the
    distribution-profiling primitive behind quality dashboards and
    skew diagnosis. Single map-side-combinable aggregate; bucket count
    is bounded by value range, so the shuffle payload is constant-size
    regardless of input rows."""
    (events,) = prep(spark, sf_dir, "events")
    bucket = F.floor(_cents() / F.lit(5000)).cast("long")
    return (events.groupBy("event_type", bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min(_cents()).alias("min_cents"),
                 F.max(_cents()).alias("max_cents")))


@query(
    "event_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events)
SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
""",
)
def event_transitions(spark, sf_dir):
    """First-order transition matrix over each user's event sequence
    (the Markov-chain building block for funnel and next-action
    models). One shuffle on user_id for the lag window — the
    per-user sequence never leaves its partition — then a tiny
    |types|² aggregate."""
    (events,) = prep(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id", "event_type",
        F.lag("event_type").over(w).alias("prev_type"))
    return (seq.filter(F.col("prev_type").isNotNull())
            .groupBy("prev_type", F.col("event_type").alias("next_type"))
            .agg(F.count(F.lit(1)).alias("n")))


@query(
    "value_drift_report",
    oracle="""
WITH b AS (
  SELECT event_type,
         CAST(FLOOR(CAST(ROUND(value * 100) AS BIGINT) / 5000) AS BIGINT) AS bucket,
         CAST(COUNT(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 1 END) AS BIGINT) AS na,
         CAST(COUNT(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16' THEN 1 END) AS BIGINT) AS nb
  FROM events GROUP BY 1, 2),
tot AS (SELECT event_type, SUM(na) AS ta, SUM(nb) AS tb FROM b GROUP BY event_type),
sh AS (
  SELECT b.event_type,
         CASE WHEN t.ta = 0 THEN 0
              ELSE CAST(ROUND(CAST(b.na AS DOUBLE) / CAST(t.ta AS DOUBLE) * 1000000) AS BIGINT)
         END AS sa,
         CASE WHEN t.tb = 0 THEN 0
              ELSE CAST(ROUND(CAST(b.nb AS DOUBLE) / CAST(t.tb AS DOUBLE) * 1000000) AS BIGINT)
         END AS sb,
         t.ta AS ta, t.tb AS tb
  FROM b JOIN tot t USING (event_type))
SELECT event_type, MIN(ta) AS n_first_half, MIN(tb) AS n_second_half,
       SUM(ABS(sa - sb)) AS tv2_ppm
FROM sh GROUP BY event_type
""",
)
def value_drift_report(spark, sf_dir):
    """Distribution-drift report: per event type, the total-variation
    distance (x2, in ppm) between the value histograms of the first
    and second half of the observation window — the monitoring
    primitive behind "did this feed's distribution shift?" alerts.
    Deliberately transcendental-free (no KL/PSI logs — libm ln is not
    bit-portable across engines); integer shares in ppm make the
    statistic exact and oracle-checkable.

    Scale shape: ONE pass over the fact table into a (type, bucket)
    conditional-count aggregate (map-side combined, bucket count
    bounded by the value range), then tiny broadcast rollups — the
    two time windows never scan separately."""
    (events,) = prep(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16").cast("date")
    b = (events.groupBy(
            "event_type",
            F.floor(_cents() / F.lit(5000)).cast("long").alias("bucket"))
         .agg(F.count(F.when(F.to_date("ts") < cutoff, 1)).alias("na"),
              F.count(F.when(F.to_date("ts") >= cutoff, 1)).alias("nb")))
    tot = b.groupBy("event_type").agg(
        F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    share = lambda n, t: F.when(  # noqa: E731
        F.col(t) == 0, F.lit(0).cast("long")
    ).otherwise(F.round(F.col(n).cast("double") / F.col(t).cast("double")
                        * 1000000).cast("long"))
    sh = (b.join(F.broadcast(tot), "event_type")
          .select("event_type", share("na", "ta").alias("sa"),
                  share("nb", "tb").alias("sb"), "ta", "tb"))
    return (sh.groupBy("event_type")
            .agg(F.min("ta").alias("n_first_half"),
                 F.min("tb").alias("n_second_half"),
                 F.sum(F.abs(F.col("sa") - F.col("sb"))).alias("tv2_ppm")))


@query(
    "winsorized_values",
    oracle="""
WITH ranked AS (
  SELECT event_id, event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events),
lims AS (
  SELECT event_type,
         MAX(CASE WHEN rn = CAST(CEIL(0.01 * n) AS BIGINT) THEN cents END) AS lo,
         MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN cents END) AS hi
  FROM ranked GROUP BY event_type)
SELECT r.event_id, r.event_type,
       LEAST(GREATEST(r.cents, l.lo), l.hi) AS cents_winsor,
       (r.cents < l.lo OR r.cents > l.hi) AS clipped
FROM ranked r JOIN lims l USING (event_type)
""",
)
def winsorized_values(spark, sf_dir):
    """Robust normalization: winsorize each event's value to its
    type's exact [p01, p99] band (clip, don't drop) — the outlier
    treatment feature pipelines apply before scaling. Exact order-
    statistic limits via the ranked-window trick (same machinery as
    event_value_percentiles: deterministic (value, event_id) order,
    rank ceil(q*n)); the |types|-row limits broadcast back onto the
    ranked rows, so the fact table shuffles once (the window) and the
    clip itself is codegen arithmetic."""
    (events,) = prep(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = events.select(
        "event_id", "event_type", _cents().alias("cents"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"))
    lims = (ranked.groupBy("event_type")
            .agg(F.max(F.when(F.col("rn") == F.ceil(0.01 * F.col("n")).cast("long"),
                              F.col("cents"))).alias("lo"),
                 F.max(F.when(F.col("rn") == F.ceil(0.99 * F.col("n")).cast("long"),
                              F.col("cents"))).alias("hi")))
    return (ranked.join(F.broadcast(lims), "event_type")
            .select("event_id", "event_type",
                    F.least(F.greatest(F.col("cents"), F.col("lo")),
                            F.col("hi")).alias("cents_winsor"),
                    ((F.col("cents") < F.col("lo"))
                     | (F.col("cents") > F.col("hi"))).alias("clipped")))


@query(
    "twap_daily",
    oracle="""
WITH seq AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) AS t_us,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY ts, event_id) AS nxt_us,
         epoch_us(CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 1 DAY) AS eod_us
  FROM events),
wt AS (SELECT user_id, day, cents, COALESCE(nxt_us, eod_us) - t_us AS dur_us FROM seq)
SELECT user_id, CAST(day AS TIMESTAMP) AS day,
       CAST(SUM(dur_us) AS BIGINT) AS active_us,
       CAST(ROUND(CAST(SUM(cents * dur_us) AS DOUBLE)
                  / CAST(SUM(dur_us) AS DOUBLE) * 1000) AS BIGINT) AS twap_millicents
FROM wt GROUP BY user_id, day
""",
)
def twap_daily(spark, sf_dir):
    """Time-weighted average value per (user, day): each observation
    holds until the next one (or the end of the day), weighted by its
    holding duration in exact integer microseconds — the standard
    TWAP/occupancy aggregate for metering and market data that a plain
    AVG silently gets wrong under irregular sampling.

    One (user_id, day) window for the lead (the final groupBy reuses
    its exchange), BIGINT µs·cents products summed exactly, one IEEE
    division at the end — bit-exact vs the oracle."""
    (events,) = prep(spark, sf_dir, "events")
    projected = events.select(
        "user_id", F.to_date("ts").alias("day"), _cents().alias("cents"),
        F.unix_micros("ts").alias("t_us"), "ts", "event_id")
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    seq = projected.select(
        "user_id", "day", "cents", "t_us",
        F.lead("t_us").over(w).alias("nxt_us"),
        F.unix_micros(F.date_add("day", 1).cast("timestamp")).alias("eod_us"))
    wt = seq.select(
        "user_id", "day", "cents",
        (F.coalesce("nxt_us", "eod_us") - F.col("t_us")).alias("dur_us"))
    return (wt.groupBy("user_id", "day")
            .agg(F.sum("dur_us").alias("active_us"),
                 F.round(F.sum(F.col("cents") * F.col("dur_us")).cast("double")
                         / F.sum("dur_us").cast("double") * 1000)
                 .cast("long").alias("twap_millicents"))
            .select("user_id", F.col("day").cast("timestamp").alias("day"),
                    "active_us", "twap_millicents"))


@query(
    "gap_fill_interpolate",
    oracle="""
WITH per_day AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events),
closes AS (SELECT user_id, day, cents FROM per_day WHERE rn = 1),
seg AS (
  SELECT user_id, day, cents,
         lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nday,
         lead(cents) OVER (PARTITION BY user_id ORDER BY day) AS ncents
  FROM closes),
grid AS (
  SELECT user_id, day AS obs_day, cents, nday, ncents,
         CAST(UNNEST(generate_series(day,
               COALESCE(nday - INTERVAL 1 DAY, CAST(day AS TIMESTAMP)),
               INTERVAL 1 DAY)) AS DATE) AS day
  FROM seg)
SELECT user_id, CAST(day AS TIMESTAMP) AS day,
       CASE WHEN nday IS NULL OR day = obs_day THEN cents
            ELSE cents + CAST(ROUND(
                   CAST(ncents - cents AS DOUBLE) * (day - obs_day)
                   / (nday - obs_day)) AS BIGINT)
       END AS interp_cents,
       (day = obs_day) AS is_observed
FROM grid
""",
)
def gap_fill_interpolate(spark, sf_dir):
    """Linear-interpolation gap-fill: silent days between two observed
    closes take the straight-line value between them (exact integer
    endpoints, one identically-ordered IEEE multiply/divide per grid
    day) — the resampling mode for continuous quantities where
    forward-fill (gap_fill_daily) would step. The trailing segment
    after a user's last close holds flat.

    Same single-scan lead-segment shape as gap_fill_daily: each close
    knows the NEXT close (day and value), so interpolated grid rows
    are emitted directly by explode — no grid⨝closes join, two hash
    exchanges total."""
    (events,) = prep(spark, sf_dir, "events")
    projected = events.select(
        "user_id", F.to_date("ts").alias("day"), _cents().alias("cents"),
        "ts", "event_id")
    per_day = projected.withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("user_id", "day")
            .orderBy(F.col("ts").desc(), F.col("event_id").desc())))
    closes = per_day.filter(F.col("rn") == 1).select("user_id", "day", "cents")
    wu = Window.partitionBy("user_id").orderBy("day")
    seg = closes.select(
        "user_id", F.col("day").alias("obs_day"), "cents",
        F.lead("day").over(wu).alias("nday"),
        F.lead("cents").over(wu).alias("ncents"))
    grid = seg.select(
        "user_id", "obs_day", "cents", "nday", "ncents",
        F.explode(F.sequence(
            "obs_day", F.coalesce(F.date_sub("nday", 1), F.col("obs_day")),
            F.expr("interval 1 day"))).alias("day"))
    interp = F.when(
        F.col("nday").isNull() | (F.col("day") == F.col("obs_day")),
        F.col("cents")
    ).otherwise(
        F.col("cents") + F.round(
            (F.col("ncents") - F.col("cents")).cast("double")
            * F.datediff("day", "obs_day")
            / F.datediff("nday", "obs_day")).cast("long"))
    return grid.select(
        "user_id", F.col("day").cast("timestamp").alias("day"),
        interp.alias("interp_cents"),
        (F.col("day") == F.col("obs_day")).alias("is_observed"))


@query(
    "rolling_range_stats",
    oracle="""
SELECT event_id, user_id, ts,
       SUM(cents) OVER w AS trail_cents,
       CAST(COUNT(*) OVER w AS BIGINT) AS trail_n,
       MAX(cents) OVER w AS trail_max
FROM (SELECT event_id, user_id, ts, epoch_us(ts) AS us,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
""",
)
def rolling_range_stats(spark, sf_dir):
    """Trailing 7-day per-user window statistics — a RANGE frame over
    event *time*, not row count, so sparse and bursty users both get
    the same calendar semantics. Classic feature-engineering shape
    (trailing spend, trailing activity) for model training tables.

    Scale shape: ONE hash exchange on user_id + per-partition sort by
    time; the range frame is evaluated with a sliding two-pointer over
    the sorted run, O(n) amortized, state bounded by the widest 7-day
    burst of a single user. All aggregates in the frame (sum/count/
    max of integer cents) are order-insensitive, so parallel peers at
    equal timestamps cannot change the result — bit-exact vs the
    oracle. No join, no self-join against a date grid, no Python.
    """
    (events,) = prep(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_micros("ts"))
         .rangeBetween(-604_800_000_000, 0))
    cents = _cents()
    return events.select(
        "event_id", "user_id", "ts",
        F.sum(cents).over(w).alias("trail_cents"),
        F.count(F.lit(1)).over(w).alias("trail_n"),
        F.max(cents).over(w).alias("trail_max"))


@query(
    "interval_concurrency",
    oracle="""
WITH iv AS (
  SELECT event_type, ts AS s,
         ts + to_microseconds((CAST(ROUND(value) AS BIGINT) % 120 + 1) * 60000000) AS e
  FROM events),
bounds AS (
  SELECT event_type, s AS t, CAST(1 AS BIGINT) AS delta FROM iv
  UNION ALL
  SELECT event_type, e AS t, CAST(-1 AS BIGINT) AS delta FROM iv),
steps AS (
  SELECT event_type, t, SUM(delta) AS net
  FROM bounds GROUP BY event_type, t)
SELECT event_type, t,
       SUM(net) OVER (PARTITION BY event_type ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS concurrent
FROM steps
""",
)
def interval_concurrency(spark, sf_dir):
    """Sweep-line interval concurrency: how many sessions are active
    at every instant, per event type. Each event opens an interval
    [ts, ts + 1..120 min) (duration derived from the value column);
    the answer is the step function of concurrent-open counts.

    Scale shape: the classic distributed sweep line — NO interval
    self-join (which is O(n·k) pairs and plans as a range join).
    One scan emits (+1 at start, −1 at end) boundary deltas via a
    2-element explode; deltas at identical timestamps collapse in a
    map-side-combined aggregate (also making tie order irrelevant —
    half-open intervals mean an end and a start at the same instant
    cancel before the scan); then ONE running-sum window per
    event_type. Two hash exchanges total. A hot event_type at 100 TB
    range-partitions by time inside the type with per-chunk offsets
    (the same partial-prefix-sum trick token_budget_pack uses).
    """
    (events,) = prep(spark, sf_dir, "events")
    dur_us = (F.round("value").cast("long") % 120 + 1) * 60_000_000
    iv = events.select(
        "event_type", F.col("ts").alias("s"),
        F.timestamp_micros(F.unix_micros("ts") + dur_us).alias("e"))
    bounds = iv.select(
        "event_type",
        F.explode(F.array(
            F.struct(F.col("s").alias("t"), F.lit(1).cast("long").alias("delta")),
            F.struct(F.col("e").alias("t"), F.lit(-1).cast("long").alias("delta")),
        )).alias("b")
    ).select("event_type", "b.t", "b.delta")
    steps = bounds.groupBy("event_type", "t").agg(F.sum("delta").alias("net"))
    w = (Window.partitionBy("event_type").orderBy("t")
         .rowsBetween(Window.unboundedPreceding, 0))
    return steps.select(
        "event_type", "t", F.sum("net").over(w).alias("concurrent"))


MAD_K = 5

_MAD_ORACLE = f"""
WITH v AS (
  SELECT event_id, event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events),
r1 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM v),
med AS (
  SELECT event_type, MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN cents END) AS med_cents
  FROM r1 GROUP BY event_type),
dev AS (
  SELECT v.event_id, v.event_type, v.cents, med.med_cents,
         ABS(v.cents - med.med_cents) AS adev
  FROM v JOIN med USING (event_type)),
r2 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY adev, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM dev),
mad AS (
  SELECT event_type, MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN adev END) AS mad_cents
  FROM r2 GROUP BY event_type)
SELECT d.event_id, d.event_type, d.cents, d.med_cents, mad.mad_cents
FROM dev d JOIN mad USING (event_type)
WHERE d.adev > {MAD_K} * mad.mad_cents
"""


@query("mad_outliers", oracle=_MAD_ORACLE)
def mad_outliers(spark, sf_dir):
    """Robust outlier detection via median absolute deviation:
    |x − median| > {K}·MAD per event type. Unlike z-scores
    (zscore_outliers), medians don't move when the outliers
    themselves get bigger — the robust path for heavy-tailed value
    distributions.

    Scale shape: two exact order-statistic passes (the same
    rank-at-ceil(n/2) machinery as event_value_percentiles) — each
    is one hash exchange + per-type sort; the per-type medians are a
    handful of rows, so both enrichment joins broadcast. Integer
    cents end-to-end: ABS/compare on BIGINT, no float tolerance
    anywhere. A skewed type at 100 TB swaps the exact rank pass for
    percentile_approx without changing the contract.
    """
    (events,) = prep(spark, sf_dir, "events")
    v = events.select("event_id", "event_type", _cents().alias("cents"))

    def exact_median(df, col, out):
        w = Window.partitionBy("event_type").orderBy(col, "event_id")
        wn = Window.partitionBy("event_type")
        ranked = df.withColumn("rn", F.row_number().over(w)) \
                   .withColumn("n", F.count(F.lit(1)).over(wn))
        return (ranked.groupBy("event_type")
                .agg(F.max(F.when(F.col("rn") == F.ceil(0.5 * F.col("n")),
                                  F.col(col))).alias(out)))

    med = exact_median(v, "cents", "med_cents")
    dev = (v.join(F.broadcast(med), "event_type")
           .withColumn("adev", F.abs(F.col("cents") - F.col("med_cents"))))
    mad = exact_median(dev.select("event_type", "adev", "event_id"),
                       "adev", "mad_cents")
    return (dev.join(F.broadcast(mad), "event_type")
            .filter(F.col("adev") > MAD_K * F.col("mad_cents"))
            .select("event_id", "event_type", "cents", "med_cents", "mad_cents"))


_CUSUM_ORACLE = """
WITH v AS (
  SELECT event_id, event_type, ts, CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events),
tot AS (
  SELECT event_type, SUM(cents) AS sc, CAST(COUNT(*) AS BIGINT) AS n
  FROM v GROUP BY event_type),
p AS (
  SELECT v.event_id, v.event_type, v.ts, tot.n,
         SUM(v.cents * tot.n - tot.sc) OVER (
           PARTITION BY v.event_type ORDER BY v.ts, v.event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS psum
  FROM v JOIN tot USING (event_type)),
s AS (
  SELECT *, psum - MIN(psum) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
  FROM p),
r AS (
  SELECT event_type, ts AS cp_ts, event_id AS cp_event_id, cusum, n,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY cusum DESC, ts, event_id) AS rn
  FROM s)
SELECT event_type, cp_ts, cp_event_id, cusum AS cusum_scaled, n AS n_events
FROM r WHERE rn = 1
"""


@query("cusum_changepoint", oracle=_CUSUM_ORACLE)
def cusum_changepoint(spark, sf_dir):
    """CUSUM changepoint estimation per event type: the classic
    argmax-of-cumulative-deviation statistic — the instant where the
    running sum of (x − mean) is furthest above its own running
    minimum is the most likely level-shift point in the series.

    The recursive textbook form S_i = max(0, S_{i-1} + d_i) looks
    sequential; the prefix-sum identity S_i = P_i − min_{j≤i} P_j
    turns it into two stock window functions over one sort — the
    trick that makes CUSUM distributable at all. Exact integers
    throughout: deviations are scaled by n (d = x·n − Σx) so the
    mean never becomes a float; cusum_scaled is that running excess
    in (cents · n) units.

    Scale shape: one tiny per-type aggregate broadcast back, then
    ONE hash exchange on event_type with a single in-partition sort
    shared by all three windows (prefix sum, running min, final
    rank). A year-long hot type at 100 TB range-partitions by time
    with per-chunk carry-in offsets, same as every prefix-sum op
    here (token_budget_pack, interval_concurrency).
    """
    (events,) = prep(spark, sf_dir, "events")
    v = events.select("event_id", "event_type", "ts", _cents().alias("cents"))
    tot = v.groupBy("event_type").agg(
        F.sum("cents").alias("sc"), F.count(F.lit(1)).alias("n"))
    wo = (Window.partitionBy("event_type").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, 0))
    p = (v.join(F.broadcast(tot), "event_type")
         .withColumn("psum", F.sum(F.col("cents") * F.col("n") - F.col("sc"))
                     .over(wo)))
    s = p.withColumn("cusum", F.col("psum") - F.min("psum").over(wo))
    wr = Window.partitionBy("event_type").orderBy(
        F.col("cusum").desc(), "ts", "event_id")
    return (s.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") == 1)
            .select("event_type", F.col("ts").alias("cp_ts"),
                    F.col("event_id").alias("cp_event_id"),
                    F.col("cusum").alias("cusum_scaled"),
                    F.col("n").alias("n_events")))


# -- per-user OLS trend (exact integer normal equations) ----------------

TREND_EPOCH = "2024-01-01"

_TREND_ORACLE = f"""
WITH v AS (
  SELECT user_id,
         CAST(datediff('day', DATE '{TREND_EPOCH}', CAST(ts AS DATE)) AS BIGINT) AS x,
         CAST(ROUND(value * 100) AS BIGINT) AS y
  FROM events),
m AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM v GROUP BY user_id)
SELECT user_id, n,
       n * sxy - sx * sy AS slope_num,
       n * sxx - sx * sx AS den,
       CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
         AS slope_cents_per_day,
       CAST(sy * sxx - sx * sxy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
         AS intercept_cents
FROM m WHERE n * sxx - sx * sx <> 0
"""


@query("user_value_trend", oracle=_TREND_ORACLE)
def user_value_trend(spark, sf_dir):
    """Per-user least-squares trend of event value over time — the
    grouped-regression primitive (drift per account, burn rate per
    tenant, engagement slope per cohort) computed from the normal
    equations on EXACT integer moments: x = day index, y = cents, and
    slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²) where every sum and
    product is int64 and only the final division is floating point
    (one identical IEEE op on both engines).

    Scale shape: ONE map-side-combinable groupBy carrying five integer
    sums per user — a single exchange of |users| tiny rows, no window,
    no sort, no second pass. That is the textbook "sufficient
    statistics" formulation: at 100 TB the moments fold into partial
    aggregates on the scan and the driver never sees data. Degenerate
    single-day users (den = 0) are filtered. Int64 headroom: day
    indexes are O(10³) and cents O(10⁶), so n·Σxy stays < 2⁶³ up to
    ~10⁹ rows per user; widen the moment columns to DECIMAL(38,0) past
    that."""
    (events,) = prep(spark, sf_dir, "events")
    v = events.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit(TREND_EPOCH)).cast("long").alias("x"),
        _cents().alias("y"))
    m = v.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    inum = F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")
    return (m.filter(den != 0)
            .select("user_id", "n",
                    num.alias("slope_num"), den.alias("den"),
                    (num.cast("double") / den.cast("double"))
                    .alias("slope_cents_per_day"),
                    (inum.cast("double") / den.cast("double"))
                    .alias("intercept_cents")))


# -- equi-depth histogram (exact quantile buckets) ----------------------

EDH_BUCKETS = 8

_EDH_ORACLE = f"""
WITH t AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents,
         ntile({EDH_BUCKETS}) OVER (
           PARTITION BY event_type ORDER BY value, event_id) AS bucket
  FROM events)
SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(cents) AS lo_cents, MAX(cents) AS hi_cents
FROM t GROUP BY event_type, bucket
"""


@query("equidepth_histogram", oracle=_EDH_ORACLE)
def equidepth_histogram(spark, sf_dir):
    """Exact equi-depth (equal-frequency) histogram per event type:
    ntile buckets over the value order with (value, event_id) total
    order so tie placement is deterministic. The complement of
    value_histogram's equi-WIDTH bars — equi-depth edges are what
    optimizers, drift monitors, and feature-binning pipelines want,
    because each bucket carries the same evidence mass.

    Scale shape: one hash exchange on event_type with an in-partition
    sort shared by the ntile window and the (event_type, bucket)
    rollup that follows — the rollup's grouping is a prefix extension
    of the window partitioning, so no second shuffle. A single
    monster type at 100 TB swaps ntile for rank-over-range chunks
    (a percentile_approx t-digest is the sketch fallback); the exact
    form is the auditable one."""
    (events,) = prep(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    t = events.select(
        "event_type", _cents().alias("cents"),
        F.ntile(EDH_BUCKETS).over(w).alias("bucket"))
    return (t.groupBy("event_type", F.col("bucket").cast("long").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("cents").alias("lo_cents"),
                 F.max("cents").alias("hi_cents")))


# -- time-series similarity search (dot-product decomposition) ----------

SERIES_QUERY_USER = 0
SERIES_TOPK = 10

_SERIES_ORACLE = f"""
WITH d AS (
  SELECT user_id, CAST(datediff('day', DATE '{TREND_EPOCH}', CAST(ts AS DATE)) AS BIGINT) AS day,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s
  FROM events GROUP BY 1, 2),
q AS (SELECT day, s AS sq FROM d WHERE user_id = {SERIES_QUERY_USER}),
b AS (SELECT SUM(sq * sq) AS bb FROM q),
a AS (SELECT user_id, SUM(s * s) AS aa FROM d WHERE user_id <> {SERIES_QUERY_USER} GROUP BY user_id),
c AS (SELECT d.user_id, SUM(d.s * q.sq) AS cc
      FROM d JOIN q ON q.day = d.day
      WHERE d.user_id <> {SERIES_QUERY_USER} GROUP BY d.user_id)
SELECT user_id, dist, CAST(rn AS BIGINT) AS rank FROM (
  SELECT a.user_id, a.aa + b.bb - 2 * COALESCE(c.cc, 0) AS dist,
         row_number() OVER (ORDER BY a.aa + b.bb - 2 * COALESCE(c.cc, 0), a.user_id) AS rn
  FROM a CROSS JOIN b LEFT JOIN c ON c.user_id = a.user_id)
WHERE rn <= {SERIES_TOPK}
"""


@query("series_similarity_topk", oracle=_SERIES_ORACLE)
def series_similarity_topk(spark, sf_dir):
    """Whole-series similarity search: the k users whose daily-value
    time series is closest (squared Euclidean distance, missing days
    = 0) to a query user's series — the "find accounts behaving like
    this one" primitive (EDBT'19/'20 distributed series-search
    workloads).

    The load-bearing rewrite is the dot-product decomposition
    ‖u − q‖² = Σu² + Σq² − 2·Σu·q over COMMON days only: no dense
    per-user day vector is ever materialized and absent days
    contribute through the Σ² terms automatically — so the plan is
    one daily rollup (map-side combined), a broadcast of the query
    user's sparse series onto it, and two per-user sums. All moments
    are exact int64 (cents²·days bounded), the distance is exact, and
    the top-k is a TakeOrdered heap — no global sort.

    At 100 TB: the daily rollup is the only corpus-sized exchange;
    everything after operates on |users| rows. Swapping the query
    series for a literal pattern (shapelet) or z-normalizing via the
    trend moments (user_value_trend) reuses the same skeleton."""
    (events,) = prep(spark, sf_dir, "events")
    d = (events.select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit(TREND_EPOCH)).cast("long").alias("day"),
            _cents().alias("c"))
         .groupBy("user_id", "day").agg(F.sum("c").alias("s")))
    q = d.filter(F.col("user_id") == SERIES_QUERY_USER) \
         .select("day", F.col("s").alias("sq"))
    rest = d.filter(F.col("user_id") != SERIES_QUERY_USER)
    a = rest.groupBy("user_id").agg(F.sum(F.col("s") * F.col("s")).alias("aa"))
    b = q.agg(F.sum(F.col("sq") * F.col("sq")).alias("bb"))
    c = (rest.join(F.broadcast(q), "day")
         .groupBy("user_id").agg(F.sum(F.col("s") * F.col("sq")).alias("cc")))
    dist = (F.col("aa") + F.col("bb") - 2 * F.coalesce(F.col("cc"), F.lit(0)))
    # a and c are both |users|-row aggregates: broadcast one so the
    # verdict join is exchange-free (past broadcast size, a shuffle
    # of |users| tiny rows is the correct fallback — never data-sized)
    scored = (a.crossJoin(F.broadcast(b))
              .join(F.broadcast(c), "user_id", "left")
              .select("user_id", dist.alias("dist")))
    w = Window.orderBy("dist", "user_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= SERIES_TOPK)
            .select("user_id", "dist", F.col("rank").cast("long").alias("rank")))


# -- co-movement pairs (temporal persistence via gap-and-island) --------

COMOVE_MIN_RUN = 3

_COMOVE_ORACLE = f"""
WITH act AS (
  SELECT DISTINCT user_id, CAST(date_diff('hour', TIMESTAMP '2024-01-01', date_trunc('hour', ts)) AS BIGINT) AS h
  FROM events),
sets AS (SELECT h, list_sort(list(user_id)) AS us FROM act GROUP BY h),
pairs AS (
  SELECT h, u1, u2 FROM (
    SELECT h, unnest(us) AS u1, us FROM sets) t1, unnest(t1.us) AS t2(u2)
  WHERE u1 < u2),
runs AS (
  SELECT u1, u2, h - row_number() OVER (PARTITION BY u1, u2 ORDER BY h) AS grp
  FROM pairs),
best AS (
  SELECT u1, u2, MAX(run) AS max_run, CAST(SUM(run) AS BIGINT) AS n_hours FROM (
    SELECT u1, u2, grp, CAST(COUNT(*) AS BIGINT) AS run
    FROM runs GROUP BY u1, u2, grp) GROUP BY u1, u2)
SELECT u1, u2, max_run, n_hours FROM best WHERE max_run >= {COMOVE_MIN_RUN}
"""


@query("comovement_pairs", oracle=_COMOVE_ORACLE)
def comovement_pairs(spark, sf_dir):
    """Co-movement detection: user pairs active in the SAME hour for at
    least {MIN_RUN} consecutive hours — the streaming-trajectories
    pattern (VLDB'19 co-movement) grounded on event data. Persistence
    is the point: one shared hour is coincidence, an unbroken run is a
    relationship (bot rings, session mirroring, paired devices).

    Scale shape: per-hour user sets come from one distinct + groupBy
    (hour cardinality is bounded); in-set pair explode — the same
    basket machinery as market_basket_lift, never a fact-table
    self-join; then the classic gap-and-island trick (hour − rank is
    constant within a consecutive run) turns run-length detection
    into one window + one aggregate on the PAIR table. Hot hours
    bound the pair blowup quadratically — cap or sample hub hours
    the way triangle_count orients hubs if user-per-hour counts are
    unbounded."""
    (events,) = prep(spark, sf_dir, "events")
    act = (events.select(
            "user_id",
            (F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
             / 3600 - F.unix_timestamp(F.lit("2024-01-01").cast("timestamp")) / 3600)
            .cast("long").alias("h"))
           .distinct())
    sets = act.groupBy("h").agg(F.sort_array(F.collect_set("user_id")).alias("us"))
    pairs = (sets.select("h", F.explode(F.expr(
        "flatten(transform(us, (x, i) -> "
        "transform(slice(us, i + 2, size(us) - i - 1), "
        "y -> struct(x AS u1, y AS u2))))")).alias("p"))
        .select("h", "p.*"))
    wrn = Window.partitionBy("u1", "u2").orderBy("h")
    runs = pairs.withColumn("grp", F.col("h") - F.row_number().over(wrn))
    per_run = (runs.groupBy("u1", "u2", "grp")
               .agg(F.count(F.lit(1)).alias("run")))
    best = (per_run.groupBy("u1", "u2")
            .agg(F.max("run").alias("max_run"), F.sum("run").alias("n_hours")))
    return best.filter(F.col("max_run") >= COMOVE_MIN_RUN)


# -- rolling distinct actives (windowed COUNT DISTINCT rewrite) ---------

WAU_WINDOW = 7

_WAU_ORACLE = f"""
WITH act AS (
  SELECT DISTINCT user_id,
         CAST(datediff('day', DATE '{TREND_EPOCH}', CAST(ts AS DATE)) AS BIGINT) AS day
  FROM events),
days AS (SELECT DISTINCT day FROM act),
contrib AS (
  SELECT DISTINCT a.user_id, d.day
  FROM act a JOIN days d ON d.day BETWEEN a.day AND a.day + {WAU_WINDOW - 1})
SELECT day, CAST(COUNT(*) AS BIGINT) AS wau
FROM contrib GROUP BY day
"""


@query("rolling_active_users", oracle=_WAU_ORACLE)
def rolling_active_users(spark, sf_dir):
    """Trailing {W}-day distinct active users per day (the WAU/MAU
    family) — the windowed COUNT DISTINCT that window frames cannot
    express (no DISTINCT inside a frame): REWRITTEN as a contribution
    explode. Each (user, active-day) row contributes that user to the
    {W} report days it can keep active; distinct-ing contributions
    then counting per day gives the exact rolling-distinct series.

    Scale shape: per-user-day activity is one distinct over the scan;
    the explode multiplies that SMALL table (|users|·|active days|) by
    the window length, never the raw events; the final count is a
    map-side-combinable rollup. Only report days that exist in the
    data appear (calendar gap-fill composes via gap_fill_daily). The
    sketch alternative at extreme scale is a mergeable HLL per day
    (approx_count_distinct) unioned across the window —
    this exact form is the audit baseline."""
    (events,) = prep(spark, sf_dir, "events")
    act = (events.select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit(TREND_EPOCH)).cast("long").alias("day"))
           .distinct())
    days = act.select("day").distinct()
    # window membership as an offset EXPLODE + broadcast equi-join on
    # the observed-day list — never a range-predicate join (which
    # Spark can only plan as a nested-loop against the broadcast side)
    spread = act.select(
        "user_id",
        F.explode(F.sequence(
            F.col("day"), F.col("day") + WAU_WINDOW - 1)).alias("day"))
    contrib = spread.join(F.broadcast(days), "day").distinct()
    return contrib.groupBy("day").agg(F.count(F.lit(1)).alias("wau"))


# -- seasonal baseline anomalies (weekday-hour profile) -----------------

SEASONAL_DEV_PCT = 50   # flag cells deviating >50% from their seasonal mean

_SEASONAL_ORACLE = f"""
WITH cells AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,  -- Spark: 1=Sun..7
         CAST(hour(ts) AS BIGINT) AS hr,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2, 3, 4),
base AS (
  SELECT event_type, dow, hr, SUM(c) AS s, CAST(COUNT(*) AS BIGINT) AS nw
  FROM cells GROUP BY 1, 2, 3)
SELECT c.event_type, CAST(c.day AS TIMESTAMP) AS day, c.dow, c.hr, c.c,
       b.s, b.nw
FROM cells c JOIN base b
  ON b.event_type = c.event_type AND b.dow = c.dow AND b.hr = c.hr
WHERE b.nw >= 2
  AND ABS(c.c * b.nw - b.s) * 100 > {SEASONAL_DEV_PCT} * b.s
"""


@query("seasonal_anomaly_cells", oracle=_SEASONAL_ORACLE)
def seasonal_anomaly_cells(spark, sf_dir):
    """Seasonal-baseline anomaly detection: per (event_type, weekday,
    hour) the historical mean count is the expectation; any concrete
    (day, hour) cell deviating more than {PCT}% from its own seasonal
    slot is flagged — the weekday/hour-profile monitor that catches
    "Tuesday 9am looks nothing like Tuesdays at 9" while a global
    z-score (zscore_outliers) would average the seasonality away.

    Exactness trick: the deviation test |c − S/nw| > p·(S/nw) cross-
    multiplies to |c·nw − S|·100 > p·S — pure int64, no division, no
    float, so the flagging boundary is bit-portable. Slots seen only
    once (nw < 2) have no basis and are excluded.

    Scale shape: one (type, day, dow, hr) count rollup (map-side
    combined), one |types|·168-row baseline aggregate broadcast back
    onto the cell table — the same two-pass moments-then-broadcast
    pattern as zscore_outliers, never a window over the fact table."""
    (events,) = prep(spark, sf_dir, "events")
    cells = (events.select(
            "event_type", F.to_date("ts").alias("day"),
            F.dayofweek("ts").cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hr"))
        .groupBy("event_type", "day", "dow", "hr")
        .agg(F.count(F.lit(1)).alias("c")))
    base = (cells.groupBy("event_type", "dow", "hr")
            .agg(F.sum("c").alias("s"), F.count(F.lit(1)).alias("nw")))
    dev = F.abs(F.col("c") * F.col("nw") - F.col("s")) * 100
    return (cells.join(F.broadcast(base), ["event_type", "dow", "hr"])
            .filter((F.col("nw") >= 2) & (dev > SEASONAL_DEV_PCT * F.col("s")))
            .select("event_type", F.col("day").cast("timestamp").alias("day"),
                    "dow", "hr", "c", "s", "nw"))


# -- EWMA smoothing (truncated, exact power-of-2 weights) ---------------

EWMA_TAPS = 16   # alpha = 1/2, truncated at 16 terms (weight < 2^-15 dropped)

_EWMA_ORACLE = f"""
WITH v AS (
  SELECT user_id, ts, event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events),
l AS (
  SELECT user_id, ts, event_id, cents,
         {' + '.join(
             f"COALESCE(lag(cents, {k}) OVER w, 0) * {1 << (EWMA_TAPS - 1 - k)}"
             for k in range(EWMA_TAPS))} AS ewma_scaled
  FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, ts, event_id, cents, ewma_scaled
FROM l
"""


@query("ewma_values", oracle=_EWMA_ORACLE)
def ewma_values(spark, sf_dir):
    """Exponentially weighted moving average per user (α = 1/2) — the
    classic smoothing/trend filter whose textbook form
    y_i = α·y_{i-1} + (1−α)·x_i is a SEQUENTIAL recurrence no engine
    can parallelize directly. Truncating at {TAPS} taps (dropped mass
    < 2⁻¹⁵) turns it into a fixed finite-impulse filter whose
    power-of-2 weights are exact integers: ewma_scaled =
    Σ_k lag(x,k)·2^(15−k) in int64, bit-portable, and the true EWMA
    to within one cent once 15+ observations exist (divide by 2¹⁵
    downstream for the float reading).

    Scale shape: ONE hash exchange on user_id with one in-partition
    sort shared by all {TAPS} lag terms (a single window frame —
    Catalyst evaluates the lags in one pass); no driver state, no
    recurrence. The same finite-tap trick distributes any IIR filter
    whose impulse response decays geometrically."""
    (events,) = prep(spark, sf_dir, "events")
    v = events.select("user_id", "ts", "event_id", _cents().alias("cents"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    terms = [F.coalesce(F.lag("cents", k).over(w), F.lit(0))
             * (1 << (EWMA_TAPS - 1 - k)) for k in range(EWMA_TAPS)]
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return v.withColumn("ewma_scaled", acc)


_M4_ORACLE = """
WITH pts AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, ts, event_id, value
  FROM events),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, bucket
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY user_id, bucket
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM pts)
SELECT user_id, bucket,
       CAST(count(*) AS BIGINT) AS n,
       min(value) AS vmin, max(value) AS vmax,
       min(CASE WHEN rn_a = 1 THEN value END) AS vfirst,
       min(CASE WHEN rn_d = 1 THEN value END) AS vlast
FROM ranked GROUP BY user_id, bucket
"""


@query("m4_downsample", oracle=_M4_ORACLE)
def m4_downsample(spark, sf_dir):
    """M4 time-series downsampling (Jugel et al. 2014): per series and
    per time bucket keep min/max/first/last — the four points that make
    a line chart pixel-identical at that resolution. The standard
    pre-aggregation for dashboards over raw 100 TB event streams.

    Plan: ONE exchange on (user_id, bucket); first/last ride the same
    aggregate as arg-min/arg-max over the lexicographic (ts, event_id)
    struct (no rank window, no second shuffle), and every reducer holds
    four scalars per open bucket — mergeable, so it also runs
    incrementally per day."""
    (events,) = prep(spark, sf_dir, "events")
    pts = events.select(
        "user_id", F.date_trunc("hour", "ts").alias("bucket"),
        "ts", "event_id", "value")
    return pts.groupBy("user_id", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("vmin"), F.max("value").alias("vmax"),
        F.min_by("value", F.struct("ts", "event_id")).alias("vfirst"),
        F.max_by("value", F.struct("ts", "event_id")).alias("vlast"))


_DISORDER_ORACLE = """
WITH arr AS (
  SELECT user_id, ts, event_id,
         max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS seen_max
  FROM events)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(CASE WHEN ts < seen_max THEN 1 END) AS BIGINT) AS n_late,
       CAST(coalesce(max(CASE WHEN ts < seen_max
                              THEN date_diff('microsecond', ts, seen_max) END),
                     0) AS BIGINT) AS max_lateness_micros
FROM arr GROUP BY user_id
"""


@query("event_disorder_report", oracle=_DISORDER_ORACLE)
def event_disorder_report(spark, sf_dir):
    """Event-time disorder profile: per key, how many events arrive
    with an event time EARLIER than something already seen (event_id
    as the arrival proxy), and the worst lateness — the measurement
    that SIZES the watermark delay: a watermark below
    max_lateness drops data, one far above it holds state for nothing.

    Plan (100 TB): one shuffle on user_id for the running-max window
    (arrival order is a sort within the partition), then the rollup
    reuses that exchange (same key). Lateness is exact integer
    microseconds."""
    from pyspark.sql import Window
    (events,) = prep(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    arr = events.select(
        "user_id", "ts", "event_id", F.max("ts").over(w).alias("seen_max"))
    late = F.col("ts") < F.col("seen_max")
    lateness = (F.unix_micros("seen_max") - F.unix_micros("ts"))
    return arr.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(late, F.lit(1))).alias("n_late"),
        F.coalesce(F.max(F.when(late, lateness)), F.lit(0))
        .alias("max_lateness_micros"))


# -- Holt linear-trend smoothing (exact recursive, Spark 4 WITH RECURSIVE)

_HOLT_BODY = """
WITH RECURSIVE s AS (
  SELECT o_custkey AS c, date_trunc('month', o_orderdate) AS m,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS y
  FROM {T} GROUP BY 1, 2),
seq AS (
  SELECT c, m, y, row_number() OVER (PARTITION BY c ORDER BY m) AS i FROM s),
r AS (
  SELECT c, i, m, y, y AS l, CAST(0 AS BIGINT) AS b FROM seq WHERE i = 1
  UNION ALL
  SELECT q.c, q.i, q.m, q.y,
         (q.y + r.l + r.b) {D} 2 AS l,
         (((q.y + r.l + r.b) {D} 2) - r.l + r.b) {D} 2 AS b
  FROM r JOIN seq q ON q.c = r.c AND q.i = r.i + 1)
SELECT c AS c_custkey, m AS month, y AS rev_cents, l AS level_cents,
       b AS trend_cents, l + b AS forecast_cents FROM r
"""


@query("holt_forecast", oracle=_HOLT_BODY.format(T="orders", D="//"))
def holt_forecast(spark, sf_dir):
    """Holt linear-trend exponential smoothing (level + trend,
    alpha = beta = 1/2) over each customer's monthly revenue series —
    the classic short-horizon forecaster; ``forecast_cents`` is the
    one-step-ahead prediction after each observation. The
    trend-tracking upgrade of ``ewma_values`` (level only).

    This is a genuinely recursive computation (state feeds the next
    step), expressed with Spark 4's WITH RECURSIVE — it runs entirely
    JVM-side as iterated equi-joins on (customer, step), no Python on
    the data path. The DuckDB oracle is the SAME recursive SQL (only
    the integer-division operator differs: Spark ``div`` and DuckDB
    ``//`` both truncate toward zero), and alpha = beta = 1/2 keeps
    every smoothing step in exact BIGINT halving — bit-identical
    across engines at any parallelism.

    Scale shape: the monthly rollup is one map-side-combined exchange
    of the fact table; each recursion round then joins the surviving
    frontier (rows at step i) against the step-indexed series — work
    per round decays with the number of customers still having that
    many months. Recursion depth = max series length (bounded by the
    calendar, ~80 here; spark.sql.cteRecursionLevelLimit defaults to
    100)."""
    (orders,) = prep(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("holt_orders_v")
    return spark.sql(_HOLT_BODY.format(T="holt_orders_v", D="div"))


# -- classical seasonal indices (ratio-to-moving-average) ---------------

_SEASONAL_IDX_ORACLE = """
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1),
w AS (
  SELECT month, cents,
         sum(cents) OVER (ORDER BY month
                          ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING) AS s12,
         count(*)  OVER (ORDER BY month
                          ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING) AS n12
  FROM m),
r AS (
  SELECT CAST(month(month) AS BIGINT) AS month_of_year,
         (cents * 12 * 1000000) // s12 AS r_ppm
  FROM w WHERE n12 = 12)
SELECT month_of_year,
       CAST(count(*) AS BIGINT) AS n_windows,
       SUM(r_ppm) // count(*) AS seasonal_index_ppm
FROM r GROUP BY month_of_year
"""


@query("seasonal_index_monthly", oracle=_SEASONAL_IDX_ORACLE)
def seasonal_index_monthly(spark, sf_dir):
    """Classical ratio-to-moving-average seasonal decomposition: each
    month's revenue is expressed as ppm of its trailing/leading
    12-month moving average, then averaged per calendar month — the
    textbook seasonal index (index > 1e6 = that calendar month runs
    above trend). The decomposition complement of
    seasonal_anomaly_cells (weekday/hour profile) at monthly grain.

    Exactness: the MA ratio is integer ppm against the 12-month SUM
    (cents*12e6 div s12 — no float division), and the per-calendar-
    month average is an integer div of summed ppms; incomplete edge
    windows (n12 < 12) are excluded, so every index averages only
    full-year-context ratios. int64 headroom: monthly revenue up to
    ~7.7e11 cents before cents*12e6 overflows — scale the unit (e.g.
    whole dollars) past that.

    Scale shape: the fact table reduces to one map-side-combined
    monthly rollup; the MA window and index rollup run on the
    ~|months| table (KBs at any corpus size)."""
    from pyspark.sql import Window
    (orders,) = prep(spark, sf_dir, "orders")
    m = (orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
         .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
              .alias("cents")))
    w = Window.orderBy("month").rowsBetween(-5, 6)
    sums = m.select("month", "cents",
                    F.sum("cents").over(w).alias("s12"),
                    F.count(F.lit(1)).over(w).alias("n12"))
    r = (sums.filter(F.col("n12") == 12)
         .select(F.month("month").cast("long").alias("month_of_year"),
                 F.expr("(cents * 12 * 1000000) div s12").alias("r_ppm")))
    return (r.groupBy("month_of_year")
            .agg(F.count(F.lit(1)).alias("n_windows"),
                 F.expr("sum(r_ppm) div count(*)")
                 .alias("seasonal_index_ppm")))


# -- Kaplan-Meier survival (signup -> first purchase, censored) ---------

_KM_BODY = """
WITH RECURSIVE su AS (
  SELECT user_id, MIN(ts) AS signup_ts FROM {T}
  WHERE event_type = 'signup' GROUP BY user_id),
conv AS (
  SELECT e.user_id, MIN(e.ts) AS convert_ts
  FROM {T} e JOIN su ON su.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= su.signup_ts
  GROUP BY e.user_id),
last AS (
  SELECT user_id, MAX(ts) AS last_ts FROM {T} GROUP BY user_id),
subj AS (
  SELECT su.user_id,
         CASE WHEN c.convert_ts IS NOT NULL
              THEN {DIFF_CONV} ELSE {DIFF_CENS} END AS day,
         (c.convert_ts IS NOT NULL) AS converted
  FROM su JOIN last l ON l.user_id = su.user_id
  LEFT JOIN conv c ON c.user_id = su.user_id),
agg AS (
  SELECT day,
         CAST(count(CASE WHEN converted THEN 1 END) AS BIGINT) AS d,
         CAST(count(CASE WHEN NOT converted THEN 1 END) AS BIGINT) AS c
  FROM subj GROUP BY day),
total AS (SELECT CAST(count(*) AS BIGINT) AS n0 FROM subj),
risk AS (
  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
         day, d, c,
         n0 - COALESCE(sum(d + c) OVER (ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS n
  FROM agg CROSS JOIN total),
r AS (
  SELECT i, day, d, c, n, (1000000 * (n - d)) {D} n AS s
  FROM risk WHERE i = 1
  UNION ALL
  SELECT q.i, q.day, q.d, q.c, q.n, (r.s * (q.n - q.d)) {D} q.n
  FROM r JOIN risk q ON q.i = r.i + 1)
SELECT day, n AS n_at_risk, d AS n_converted, c AS n_censored,
       s AS survival_ppm
FROM r
"""

_KM_SPARK = _KM_BODY.format(
    T="km_events_v", D="div",
    DIFF_CONV="CAST(datediff(to_date(c.convert_ts), to_date(su.signup_ts)) AS BIGINT)",
    DIFF_CENS="CAST(datediff(to_date(l.last_ts), to_date(su.signup_ts)) AS BIGINT)")
_KM_DUCK = _KM_BODY.format(
    T="events", D="//",
    DIFF_CONV="CAST(date_diff('day', CAST(su.signup_ts AS DATE), CAST(c.convert_ts AS DATE)) AS BIGINT)",
    DIFF_CENS="CAST(date_diff('day', CAST(su.signup_ts AS DATE), CAST(l.last_ts AS DATE)) AS BIGINT)")


@query("survival_curve", oracle=_KM_DUCK)
def survival_curve(spark, sf_dir):
    """Kaplan-Meier survival curve for signup -> first purchase:
    users who never convert are right-CENSORED at their last observed
    event (the estimator's whole point — dropping them would bias
    conversion down; counting them as non-converts forever would bias
    it up). Emits the at-risk/converted/censored counts per day since
    signup and the KM survival probability in exact ppm.

    The survival product S(t) = prod(1 - d_i/n_i) is genuinely
    recursive; like holt_forecast it runs JVM-side via Spark 4
    WITH RECURSIVE, with each step an integer ppm multiply-divide
    (truncating div on both engines) — so the curve is bit-identical
    to the DuckDB oracle at any parallelism. The curve table is
    |distinct days| rows; everything before it is two map-side-
    combined rollups of the events table and a windowed cumulative
    sum over that small table."""
    (events,) = prep(spark, sf_dir, "events")
    events.createOrReplaceTempView("km_events_v")
    return spark.sql(_KM_SPARK)


# -- clamped running balance (reflection identity, no recursion) --------

_CLAMP_ORACLE = """
WITH f AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase'
              THEN -CAST(ROUND(value * 100) AS BIGINT)
              ELSE  CAST(ROUND(value * 100) AS BIGINT) END AS flow
  FROM events),
w AS (
  SELECT user_id, ts, event_id, flow,
         sum(flow) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS s
  FROM f)
SELECT user_id, ts, event_id, flow,
       s - least(0, min(s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING))
         AS balance_cents
FROM w
"""


@query("clamped_balance", oracle=_CLAMP_ORACLE)
def clamped_balance(spark, sf_dir):
    """Floor-at-zero running balance per user (credits accrue, purchase
    debits spend, balance can never go negative — wallet/credit/
    inventory semantics). The naive definition is the recursion
    B_t = max(B_{t-1} + x_t, 0), which would force per-key sequential
    state; the REFLECTION identity B_t = S_t - min(0, min_{k<=t} S_k)
    (prefix sum minus its clamped running minimum) turns it into TWO
    stacked window aggregates over ONE exchange — the closed form that
    makes a 10^12-row clamped ledger a single shuffle on user_id.
    Exact integer cents throughout; ties ordered by (ts, event_id)."""
    from pyspark.sql import Window
    (events,) = prep(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    f = events.select(
        "user_id", "ts", "event_id",
        F.when(F.col("event_type") == "purchase", -cents)
        .otherwise(cents).alias("flow"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    s = f.withColumn("s", F.sum("flow").over(w))
    return (s.select("user_id", "ts", "event_id", "flow",
                     (F.col("s") - F.least(F.lit(0), F.min("s").over(w)))
                     .alias("balance_cents")))


# -- Holt-Winters additive seasonal smoothing (weekly period, exact) ----

_HW_BODY = """
WITH RECURSIVE hw_s AS (
  SELECT event_type AS c, date_trunc('day', ts) AS d,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS y
  FROM {T} GROUP BY 1, 2),
hw_seq AS (
  SELECT c, d, y, row_number() OVER (PARTITION BY c ORDER BY d) AS i FROM hw_s),
hw_r AS (
  SELECT c, i, d, y, y AS l, CAST(0 AS BIGINT) AS b,
         CAST(0 AS BIGINT) AS q1, CAST(0 AS BIGINT) AS q2,
         CAST(0 AS BIGINT) AS q3, CAST(0 AS BIGINT) AS q4,
         CAST(0 AS BIGINT) AS q5, CAST(0 AS BIGINT) AS q6,
         CAST(0 AS BIGINT) AS q7
  FROM hw_seq WHERE i = 1
  UNION ALL
  SELECT q.c, q.i, q.d, q.y,
         (q.y - r.q1 + r.l + r.b) {D} 2 AS l,
         (((q.y - r.q1 + r.l + r.b) {D} 2) - r.l + r.b) {D} 2 AS b,
         r.q2 AS q1, r.q3 AS q2, r.q4 AS q3, r.q5 AS q4,
         r.q6 AS q5, r.q7 AS q6,
         (q.y - ((q.y - r.q1 + r.l + r.b) {D} 2) + r.q1) {D} 2 AS q7
  FROM hw_r r JOIN hw_seq q ON q.c = r.c AND q.i = r.i + 1)
SELECT c AS event_type, d AS day, y AS rev_cents,
       l AS level_cents, b AS trend_cents, q7 AS seasonal_cents,
       l + b + q1 AS forecast_next_cents
FROM hw_r
"""


@query("holt_winters_weekly", oracle=_HW_BODY.format(T="events", D="//"))
def holt_winters_weekly(spark, sf_dir):
    """Holt-Winters ADDITIVE seasonal smoothing (level + trend +
    weekly seasonality, alpha = beta = gamma = 1/2) over each event
    type's daily revenue — the seasonal upgrade of `holt_forecast`
    for series where Monday simply isn't Sunday.

    The seasonal state is a 7-slot QUEUE carried through the
    recursion (q1 = the seasonal estimate for the CURRENT step): each
    step consumes q1, rotates, and appends the re-smoothed estimate —
    so the recursion needs only the previous ROW, never a look-back
    join to step i-7.  `forecast_next_cents` = l + b + (next slot) is
    the true one-step-ahead prediction.  All state is exact BIGINT
    halving (`div`/`//` both truncate toward zero), so the ENTIRE
    recursive computation is bit-identical to the DuckDB oracle.

    Scale: one map-side-combined (type, day) rollup, then Spark 4
    WITH RECURSIVE iterated equi-joins on (type, step) — JVM-side, no
    Python; depth = series length (30 here), parallel across types.
    """
    (events,) = prep(spark, sf_dir, "events")
    events.createOrReplaceTempView("hw_events_v")
    return spark.sql(_HW_BODY.format(T="hw_events_v", D="div"))


# -- moving-average crossover signals (division-free exact compare) -----

_MA_CROSS_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1),
w AS (
  SELECT day, cents,
         SUM(cents) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS s7,
         COUNT(*)  OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n7,
         SUM(cents) OVER (ORDER BY day ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) AS s28,
         COUNT(*)  OVER (ORDER BY day ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) AS n28
  FROM daily),
sig AS (
  SELECT day, s7 * 28 > s28 * 7 AS above,
         LAG(s7 * 28 > s28 * 7) OVER (ORDER BY day) AS prev_above
  FROM w WHERE n7 = 7 AND n28 = 28)
SELECT CAST(day AS TIMESTAMP) AS day,
       CASE WHEN above THEN 'golden_cross' ELSE 'death_cross' END AS signal
FROM sig
WHERE prev_above IS NOT NULL AND above <> prev_above
"""


@query("ma_crossover_signals", oracle=_MA_CROSS_ORACLE)
def ma_crossover_signals(spark, sf_dir):
    """Moving-average crossover detector on daily revenue: days where
    the 7-day MA crosses the 28-day MA (golden/death cross) — the
    classic momentum regime-change signal.

    Division-free exactness: avg7 > avg28 ⟺ s7·28 > s28·7 once both
    windows are FULL (partial windows excluded), so the comparison is
    a pure BIGINT predicate — no float MA ever computed.  One
    map-side-combined daily rollup; the frames and the lag share one
    ordered pass over the |days| series.
    """
    (orders,) = prep(spark, sf_dir, "orders")
    daily = (orders.groupBy(F.to_date("o_orderdate").alias("day"))
             .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                  .alias("cents")))
    w7 = Window.orderBy("day").rowsBetween(-6, 0)
    w28 = Window.orderBy("day").rowsBetween(-27, 0)
    w = (daily
         .withColumn("s7", F.sum("cents").over(w7))
         .withColumn("n7", F.count(F.lit(1)).over(w7))
         .withColumn("s28", F.sum("cents").over(w28))
         .withColumn("n28", F.count(F.lit(1)).over(w28)))
    sig = (w.where((F.col("n7") == 7) & (F.col("n28") == 28))
           .select("day",
                   (F.col("s7") * 28 > F.col("s28") * 7).alias("above"))
           .withColumn("prev_above",
                       F.lag("above").over(Window.orderBy("day"))))
    return (sig.where(F.col("prev_above").isNotNull()
                      & (F.col("above") != F.col("prev_above")))
            .select(F.col("day").cast("timestamp").alias("day"),
                    F.when(F.col("above"), "golden_cross")
                    .otherwise("death_cross").alias("signal")))


# -- SRE multiwindow SLO burn-rate alerts -------------------------------

#: error budget: 2% of events may be errors (20_000 ppm)
SLO_BUDGET_PPM = 20_000
#: Google-SRE multiwindow thresholds: fast burn 14.4x over 1h,
#: slow burn 6x over 6h
SLO_FAST_X, SLO_SLOW_X = 144, 60      # x10 to stay integer


_SLO_ORACLE = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS errs
  FROM events GROUP BY 1),
w AS (
  SELECT hour, n, errs,
         SUM(n) OVER (ORDER BY hour ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS n6,
         SUM(errs) OVER (ORDER BY hour ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS e6,
         COUNT(*) OVER (ORDER BY hour ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS k6
  FROM hourly)
SELECT hour, n AS n_events, errs AS n_errors,
       (errs * 1000000) // n AS error_ppm,
       errs * 1000000 * 10 > n * {SLO_BUDGET_PPM} * {SLO_FAST_X} AS fast_burn,
       k6 = 6 AND e6 * 1000000 * 10 > n6 * {SLO_BUDGET_PPM} * {SLO_SLOW_X}
         AS slow_burn
FROM w WHERE n > 0
"""


@query("slo_burn_rate", oracle=_SLO_ORACLE)
def slo_burn_rate(spark, sf_dir):
    """Multiwindow SLO burn-rate alerting (the Google SRE workbook
    policy): per hour, the error rate against a 2% error budget, with
    a FAST-burn flag (1-hour rate > 14.4x budget) and a SLOW-burn
    flag (6-hour rate > 6x budget, full windows only) — the paging
    rule that catches both sudden outages and slow leaks.

    Division-free exactness: `rate > X*budget` is evaluated as
    `errs*1e6*10 > n*budget*X10` — pure BIGINT cross products (the
    x10 keeps 14.4 integer), so the alert decision is bit-identical
    everywhere.  One map-side-combined hourly rollup; the 6-hour
    frame runs over the |hours| series.
    """
    (events,) = prep(spark, sf_dir, "events")
    hourly = (events.groupBy(F.date_trunc("hour", "ts").alias("hour"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.count(F.when(F.col("event_type") == "error", 1))
                   .alias("errs")))
    w6 = Window.orderBy("hour").rowsBetween(-5, 0)
    w = (hourly
         .withColumn("n6", F.sum("n").over(w6))
         .withColumn("e6", F.sum("errs").over(w6))
         .withColumn("k6", F.count(F.lit(1)).over(w6)))
    return (w.where(F.col("n") > 0)
            .select("hour", F.col("n").alias("n_events"),
                    F.col("errs").alias("n_errors"),
                    F.expr("(errs * 1000000) div n").alias("error_ppm"),
                    (F.col("errs") * 1000000 * 10
                     > F.col("n") * SLO_BUDGET_PPM * SLO_FAST_X)
                    .alias("fast_burn"),
                    ((F.col("k6") == 6)
                     & (F.col("e6") * 1000000 * 10
                        > F.col("n6") * SLO_BUDGET_PPM * SLO_SLOW_X))
                    .alias("slow_burn")))


_BANDS_ORACLE = """
WITH r AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY date_trunc('day', ts)
                            ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY date_trunc('day', ts)) AS n
  FROM events)
SELECT day,
       MAX(CASE WHEN rn = CAST(CEIL(0.10 * n) AS BIGINT) THEN cents END) AS p10_cents,
       MAX(CASE WHEN rn = CAST(CEIL(0.50 * n) AS BIGINT) THEN cents END) AS p50_cents,
       MAX(CASE WHEN rn = CAST(CEIL(0.90 * n) AS BIGINT) THEN cents END) AS p90_cents,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM r GROUP BY day
"""


@query("percentile_bands_daily", oracle=_BANDS_ORACLE)
def percentile_bands_daily(spark, sf_dir):
    """Daily p10/p50/p90 value ribbons — the banded time series every
    latency/value dashboard plots (the per-day sibling of the per-type
    `event_value_percentiles`).  Exact order statistics, one (day)
    rank window, map-side-combined band extraction.
    """
    (events,) = prep(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    w = Window.partitionBy(day).orderBy("value", "event_id")
    wn = Window.partitionBy(day)
    r = events.select(
        day.alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"))

    def band(q):
        return F.max(F.when(
            F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("long"),
            F.col("cents")))

    return (r.groupBy("day")
            .agg(band(0.10).alias("p10_cents"), band(0.50).alias("p50_cents"),
                 band(0.90).alias("p90_cents"),
                 F.count(F.lit(1)).alias("n_events")))


_PACING_ORACLE = """
WITH daily AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         CAST(day(o_orderdate) AS BIGINT) AS dom,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1, 2),
cum AS (
  SELECT month, dom, cents,
         SUM(cents) OVER (PARTITION BY month ORDER BY dom
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_cents,
         SUM(cents) OVER (PARTITION BY month) AS m_total
  FROM daily),
paced AS (
  SELECT dom, (cum_cents * 1000000) // m_total AS pace_ppm FROM cum)
SELECT dom AS day_of_month,
       CAST(COUNT(*) AS BIGINT) AS n_months,
       SUM(pace_ppm) // COUNT(*) AS mean_cum_share_ppm
FROM paced GROUP BY dom
"""


@query("revenue_pacing_curve", oracle=_PACING_ORACLE)
def revenue_pacing_curve(spark, sf_dir):
    """Intra-month revenue pacing: by day-of-month, the average
    cumulative share of that month's revenue already booked (exact
    ppm) — the curve finance tracks mid-month actuals against ("day
    12 usually means 40% booked; we're at 31% — miss coming").

    One (month, dom) rollup; per-month prefix sums partition by
    month (parallel windows); the dom rollup averages across months
    in floor-division ppm.
    """
    (orders,) = prep(spark, sf_dir, "orders")
    daily = (orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.dayofmonth("o_orderdate").cast("long").alias("dom"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
             .alias("cents")))
    wc = (Window.partitionBy("month").orderBy("dom")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wm = Window.partitionBy("month")
    paced = daily.select(
        "dom",
        F.expr("(sum(cents) over (partition by month order by dom "
               "rows between unbounded preceding and current row) "
               "* 1000000)").alias("_num"),
        F.sum("cents").over(wm).alias("_tot")) \
        .select("dom", F.expr("_num div _tot").alias("pace_ppm"))
    return (paced.groupBy(F.col("dom").alias("day_of_month"))
            .agg(F.count(F.lit(1)).alias("n_months"),
                 F.expr("sum(pace_ppm) div count(*)")
                 .alias("mean_cum_share_ppm")))


_TV_DRIFT_DAY_ORACLE = """
WITH h AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(FLOOR(CAST(ROUND(value * 100) AS BIGINT) / 5000) AS BIGINT)
           AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3),
ht AS (SELECT event_type, day, SUM(n) AS t FROM h GROUP BY 1, 2),
s AS (
  SELECT h.event_type, h.day, h.bucket,
         CAST(ROUND(CAST(n AS DOUBLE) / CAST(t AS DOUBLE) * 1000000)
              AS BIGINT) AS share
  FROM h JOIN ht USING (event_type, day)),
b0 AS (
  SELECT event_type,
         CAST(FLOOR(CAST(ROUND(value * 100) AS BIGINT) / 5000) AS BIGINT)
           AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-08' GROUP BY 1, 2),
bt AS (SELECT event_type, SUM(n) AS t FROM b0 GROUP BY 1),
base AS (
  SELECT b0.event_type, bucket,
         CAST(ROUND(CAST(n AS DOUBLE) / CAST(t AS DOUBLE) * 1000000)
              AS BIGINT) AS bppm
  FROM b0 JOIN bt USING (event_type)),
days AS (SELECT DISTINCT event_type, day FROM h),
bks AS (
  SELECT DISTINCT event_type, bucket FROM (
    SELECT event_type, bucket FROM h
    UNION SELECT event_type, bucket FROM base)),
grid AS (
  SELECT d.event_type, d.day, k.bucket
  FROM days d JOIN bks k USING (event_type))
SELECT g.event_type, g.day,
       CAST(SUM(ABS(COALESCE(s.share, 0) - COALESCE(base.bppm, 0)))
            AS BIGINT) AS tv2_ppm
FROM grid g
LEFT JOIN s ON s.event_type = g.event_type AND s.day = g.day
           AND s.bucket = g.bucket
LEFT JOIN base ON base.event_type = g.event_type
              AND base.bucket = g.bucket
GROUP BY 1, 2
"""


def drift_vs_baseline(hist: DataFrame, baseline: DataFrame) -> DataFrame:
    """Total-variation drift (x2, ppm) of each (event_type, day)
    histogram ``(event_type, day, bucket, n)`` against a static
    baseline distribution ``(event_type, bucket, share_ppm)`` — same
    transcendental-free integer statistic as the batch
    `value_drift_report`.

    Per-window totals are a tiny rollup; the baseline is KB-scale and
    broadcast; buckets absent on either side of a given (type, day)
    contribute their full share via the explicit (type, day) x bucket
    grid.

    Absence semantics: the distance is summed over the FULL grid of
    observed (event_type, day) windows crossed with the union of
    observed-and-baseline buckets per type.  A join keyed only on
    (event_type, bucket) would be wrong: a baseline bucket that
    matched SOME day of a type would never produce a null-day row, so
    days where that bucket has zero observations would silently lose
    their |0 - base_ppm| term — suppressing exactly the
    bucket-vanished-today signal the monitor exists to raise.
    """
    # the histogram is rollup-sized (types x windows x buckets);
    # materialize once so the three consumers below (shares, observed
    # windows, the bucket union) never replay the upstream scan, and
    # self-join lineage stays unambiguous
    hist = (hist.select("event_type", "day", "bucket", "n")
            .localCheckpoint(eager=False))
    t = F.sum("n").over(Window.partitionBy("event_type", "day"))
    sh = hist.select("event_type", "day", "bucket",
                     F.round(F.col("n").cast("double") / t.cast("double")
                             * 1000000).cast("long").alias("share_ppm"))
    base = F.broadcast(
        baseline.withColumnRenamed("share_ppm", "base_ppm"))
    days = hist.select("event_type", "day").distinct()
    buckets = (hist.select("event_type", "bucket")
               .unionByName(baseline.select("event_type", "bucket"))
               .distinct())
    grid = days.join(buckets, "event_type")
    return (grid.join(sh, ["event_type", "day", "bucket"], "left")
            .join(base, ["event_type", "bucket"], "left")
            .groupBy("event_type", "day")
            .agg(F.sum(F.abs(F.coalesce("share_ppm", F.lit(0))
                             - F.coalesce("base_ppm", F.lit(0))))
                 .alias("tv2_ppm")))


@query("tv_drift_by_day", oracle=_TV_DRIFT_DAY_ORACLE)
def tv_drift_by_day(spark, sf_dir):
    """Daily total-variation drift of each event type's value
    histogram against its first-week baseline — runs the ACTUAL
    monitoring operator (`drift_vs_baseline` above) so the independent
    DuckDB oracle covers the grid-absence semantics fixed this
    round: a baseline bucket with zero observations on some day MUST
    contribute its full |0 - base_ppm| term to that day (the old
    (type, bucket)-keyed outer join silently lost it — exactly the
    bucket-vanished signal the monitor exists to raise).

    Scale shape is the operator's: the histogram is a rollup (types x
    days x bounded buckets), the baseline broadcasts, the explicit
    (type, day) x bucket grid is rollup-sized algebra — the fact
    table is scanned twice (histogram + baseline) and never joined
    row-wise.
    """
    (events,) = prep(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    bucket = F.floor(cents / F.lit(5000)).cast("long").alias("bucket")
    hist = (events.groupBy("event_type",
                           F.date_trunc("day", "ts").alias("day"), bucket)
            .agg(F.count(F.lit(1)).alias("n")))
    b0 = (events.where(F.to_date("ts") < F.lit("2024-01-08").cast("date"))
          .groupBy("event_type", bucket)
          .agg(F.count(F.lit(1)).alias("n"))
          # two consumers (totals + share join): pin so the baseline
          # week is scanned once
          .localCheckpoint(eager=False))
    bt = b0.groupBy("event_type").agg(F.sum("n").alias("t"))
    baseline = (b0.join(bt, "event_type")
                .select("event_type", "bucket",
                        F.round(F.col("n").cast("double")
                                / F.col("t").cast("double") * 1000000)
                        .cast("long").alias("share_ppm")))
    return drift_vs_baseline(hist, baseline)


# -- watermark delay planner (r10, SURVEY §2.13's configuration input) ----

@query(
    "watermark_delay_planner",
    oracle="""
WITH seq AS (
  SELECT event_type,
         (max(epoch_us(ts)) OVER (PARTITION BY event_type
                                  ORDER BY event_id
                                  ROWS UNBOUNDED PRECEDING)
          - epoch_us(ts)) // 1000000 AS late_s
  FROM events),
ranked AS (
  SELECT event_type, late_s,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY late_s, event_type) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM seq)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_events,
       CAST((1000000 * SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END))
            // MAX(n) AS BIGINT) AS late_ppm,
       CAST(MAX(CASE WHEN rn = CAST(CEIL(0.50 * n) AS BIGINT)
                     THEN late_s END) AS BIGINT) AS p50_s,
       CAST(MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT)
                     THEN late_s END) AS BIGINT) AS p95_s,
       CAST(MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT)
                     THEN late_s END) AS BIGINT) AS p99_s,
       CAST(MAX(late_s) AS BIGINT) AS max_late_s
FROM ranked GROUP BY event_type
""",
)
def watermark_delay_planner(spark, sf_dir):
    """The number every withWatermark() call needs and nobody
    measures: per stream key, the out-of-orderness profile of the
    feed — how far behind the running event-time high-watermark each
    event arrives (arrival order = event_id, the fixture's ingest
    sequence).  Reports the late share (ppm) and exact p50/p95/p99/max
    lateness in whole seconds: configure allowedLateness ~ p99 and the
    watermark delay covers 99% of arrivals, with max_late_s telling
    you what the remaining tail would cost to keep.

    Too small a delay silently drops data (the reference's
    allowedLateness surface, SessionAnalyzer); too large a delay holds
    streaming state linearly longer at 100 TB/day — this query prices
    that dial from the feed's own history instead of folklore.

    Exact order statistics via the ranked-window trick
    (event_value_percentiles' machinery: deterministic order,
    rank == ceil(q*n)); integer floor seconds so no float touches the
    hash.  Plan: two windows over the same (event_type) partitioning —
    the running max in arrival order, the rank in lateness order —
    AQE reuses the exchange, then one map-side-combined rollup to
    |event_type| rows."""
    (events,) = prep(spark, sf_dir, "events")
    w_arr = (Window.partitionBy("event_type").orderBy("event_id")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    hw = F.max(F.unix_micros("ts")).over(w_arr)
    seq = events.select(
        "event_type",
        # integer floor division (no double in the middle): the diff
        # is a non-negative BIGINT by construction
        (hw - F.unix_micros("ts")).alias("_d")).selectExpr(
        "event_type", "_d div 1000000 AS late_s")
    w_rank = Window.partitionBy("event_type").orderBy("late_s",
                                                      "event_type")
    w_n = Window.partitionBy("event_type")
    ranked = seq.select(
        "event_type", "late_s",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n"))

    def at(q):
        return F.max(F.when(
            F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("long"),
            F.col("late_s")))

    return (ranked.groupBy("event_type")
            .agg(F.max("n").alias("n_events"),
                 F.expr("(1000000 * sum(CASE WHEN late_s > 0 THEN 1 "
                        "ELSE 0 END)) div max(n)").alias("late_ppm"),
                 at(0.50).alias("p50_s"),
                 at(0.95).alias("p95_s"),
                 at(0.99).alias("p99_s"),
                 F.max("late_s").alias("max_late_s")))


@query(
    "arrival_lateness_histogram",
    oracle="""
WITH arr AS (
  SELECT ((epoch_us(ts) // 60000000) * 10 + event_id % 7) * 100000000
         + event_id AS a, ts
  FROM events),
seq AS (
  SELECT (max(epoch_us(ts)) OVER (ORDER BY a ROWS UNBOUNDED PRECEDING)
          - epoch_us(ts)) // 1000000 AS late_s
  FROM arr)
SELECT CAST(LEAST(late_s // 10, 50) AS BIGINT) AS bucket_10s,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(late_s) AS BIGINT) AS min_late_s,
       CAST(MAX(late_s) AS BIGINT) AS max_late_s
FROM seq GROUP BY 1
""",
)
def arrival_lateness_histogram(spark, sf_dir):
    """GLOBAL-arrival-order lateness distribution of a feed — the
    calibration relation behind ``WATERMARK_DELAY_MODE=derived``
    (streaming/planner.py, jobs.py::_watermark_delay): every event's
    lag behind the running event-time high-watermark in arrival
    order, rolled into 10-second buckets (capped at bucket 50).
    watermark_delay_planner prices the per-stream-key dial; this is
    the single global watermark the Spark engine actually advances —
    one delay covers the whole union, exactly what derived-mode jobs
    consume.

    The fixture's ingest sequence (event_id) is perfectly event-time
    ordered — zero lateness would pin nothing — so arrival order is
    the standard calibration-harness REPLAY with deterministic
    bounded disorder: events shuffle within their event-time minute
    by a 7-way deterministic jitter (arrival key = (minute, id%7,
    id) packed into one BIGINT), yielding a real 0-59s lateness
    profile both engines reproduce bit-for-bit.

    The oracle computes the naive single-partition running max; the
    Spark side runs the production ``arrival_lateness`` two-level
    prefix-max (value-range buckets over the arrival key, exact
    running max within each bucket in parallel, a B-row rollup of
    bucket maxima re-broadcast as the prior-bucket high-watermark) —
    this row IS the proof that the partition-parallel formulation
    equals the global window exactly, including cross-bucket
    watermark carry.  At 100 TB the naive window is one partition;
    the bucketed plan's tallest shuffle is B rows.
    """
    from streamforge_spark.streaming.planner import arrival_lateness
    (events,) = prep(spark, sf_dir, "events")
    arr = events.select(
        ((F.expr("unix_micros(ts) div 60000000") * 10
          + F.pmod(F.col("event_id"), F.lit(7))) * 100000000
         + F.col("event_id")).alias("a"),
        "ts")
    late = arrival_lateness(arr, "ts", "a", buckets=64)
    return (late.groupBy(
                F.least(F.expr("late_s div 10"), F.lit(50)).cast("long")
                .alias("bucket_10s"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("late_s").alias("min_late_s"),
                 F.max("late_s").alias("max_late_s")))
