"""Time-series / event-analytics operators over ``events``.

The hypertable-style surface a metrics or product-analytics user expects
on top of the relational core: gap-filled resampling with
last-observation-carried-forward, signup-cohort retention matrices, and
ordered funnel analysis. All exact integer/fixed-point math so every
query hash-matches its DuckDB oracle.

Scale notes per query inline; the common shape is one bounded aggregate
(hour/week/user grain) with map-side partial aggregation — the shuffles
carry aggregated rows, never raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from iceberg_loader_spark.sources.tables import load_table
from iceberg_loader_spark.tables.materialize import materialize

QUERIES = {}
ORACLES = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_FMT = "yyyy-MM-dd HH:mm:ss"
_DUCK_FMT = "%Y-%m-%d %H:%M:%S"
_CENTS = "CAST(ROUND(value * 100, 0) AS BIGINT)"


# --------------------------------------------------------------------------
# Gap-filled hourly resample + LOCF. Real event streams have empty hours;
# a dashboard needs a row per hour anyway, with the running metric
# carried forward (TimescaleDB's time_bucket_gapfill + locf shape).
#
# Physical shape: ONE aggregate over events (hour × type grain), then a
# dense hour spine built from the aggregate's own min/max (a one-row
# frame exploded into |hours| rows — metadata-sized), cross-joined with
# the distinct types (bounded), left-joined to the aggregate, and an
# ignorenulls last() window per type for the carry-forward. The window
# partitions on event_type — parallel across types; |hours| rows per
# partition is dashboard-scale regardless of event volume.
# --------------------------------------------------------------------------
@_register(
    "gapfill_hourly_locf",
    f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             COUNT(*) AS n_events, SUM({_CENTS}) AS sum_cents
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
    spine AS (
      SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds
    ),
    grid AS (
      SELECT t.event_type, s.h
      FROM (SELECT DISTINCT event_type FROM hourly) t CROSS JOIN spine s
    ),
    joined AS (
      SELECT g.event_type, g.h,
             COALESCE(hh.n_events, 0) AS n_events,
             hh.sum_cents
      FROM grid g LEFT JOIN hourly hh
        ON hh.event_type = g.event_type AND hh.h = g.h
    )
    SELECT event_type,
           strftime(h, '{_DUCK_FMT}') AS hour,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(last_value(sum_cents IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS locf_cents
    FROM joined
    ORDER BY event_type, hour
    """,
)
def gapfill_hourly_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("n_events"), F.sum(cents).alias("sum_cents"))

    hourly = materialize(hourly)  # read by spine, types, and the join
    spine = (
        hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("h")
        )
    )
    types = hourly.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(spine))
    joined = grid.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "sum_cents",
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        joined.select(
            "event_type",
            F.date_format("h", _FMT).alias("hour"),
            "n_events",
            F.last("sum_cents", ignorenulls=True).over(w).alias("locf_cents"),
        )
        .orderBy("event_type", "hour")
    )


# --------------------------------------------------------------------------
# Weekly cohort retention — users grouped by signup week (their first
# event), tracked by weeks-since-signup: the product-analytics retention
# triangle. Week index is exact integer day-arithmetic from a fixed
# epoch, so both engines bucket identically.
#
# Physical shape: one per-user min aggregate (cohort), one
# (user, week)-distinct aggregate (activity), one broadcast-joinable
# merge on user_id, final count-distinct at (cohort_week, weeks_since)
# grain. Shuffles carry per-user/per-week rows only.
# --------------------------------------------------------------------------
_WEEK = "CAST(datediff('day', DATE '1995-01-01', ts) // 7 AS BIGINT)"


@_register(
    "cohort_retention_weekly",
    f"""
    WITH user_weeks AS (
      SELECT DISTINCT user_id, {_WEEK} AS week FROM events
    ),
    cohorts AS (
      SELECT user_id, MIN(week) AS cohort_week FROM user_weeks GROUP BY user_id
    )
    SELECT c.cohort_week,
           uw.week - c.cohort_week AS weeks_since,
           COUNT(*) AS n_users
    FROM user_weeks uw JOIN cohorts c USING (user_id)
    GROUP BY 1, 2
    ORDER BY cohort_week, weeks_since
    """,
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    week = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit("1995-01-01").cast("date"))
        / 7
    ).cast("bigint")
    user_weeks = ev.select(
        "user_id", week.alias("week")
    ).distinct()

    user_weeks = materialize(user_weeks)  # feeds cohorts AND the join
    cohorts = user_weeks.groupBy("user_id").agg(
        F.min("week").alias("cohort_week")
    )
    return (
        user_weeks.join(cohorts, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("weeks_since"),
        )
        .agg(F.count("*").alias("n_users"))
        .orderBy("cohort_week", "weeks_since")
    )


# --------------------------------------------------------------------------
# Ordered funnel — view → click → purchase, each stage strictly at or
# after the previous one's FIRST occurrence for that user. Three chained
# per-user min aggregates (each depends on the previous stage's
# timestamp), then one global count. Deterministic: only timestamp
# comparisons and counts cross the engine boundary.
#
# Physical shape: three (user_id)-keyed aggregates, each over a
# stage-filtered projection — shuffles carry one row per user. The
# chained joins stay on the same user_id key, so AQE coalesces them into
# co-partitioned stages without re-shuffling the larger side.
# --------------------------------------------------------------------------
@_register(
    "funnel_view_click_purchase",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts >= v.t1
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= c.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_view_click_purchase
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = [
        df.agg(F.count("*").alias(name))
        for df, name in (
            (v, "n_view"),
            (c, "n_view_click"),
            (p, "n_view_click_purchase"),
        )
    ]
    out = counts[0].crossJoin(counts[1]).crossJoin(counts[2])
    return out


# --------------------------------------------------------------------------
# Spike detection — hours where an event type's count exceeds 2× its
# trailing 24-hour average (the monitoring/alerting shape). The flag is
# EXACT integer math: n * trailing_hours > 2 * trailing_sum avoids any
# float threshold, so both engines agree bit-for-bit. One bounded
# aggregate + one per-type window over hour-grain rows.
# --------------------------------------------------------------------------
@_register(
    "spike_hours_detect",
    f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    trail AS (
      SELECT event_type, h, n,
             SUM(n) OVER w AS trail_sum,
             COUNT(*) OVER w AS trail_cnt
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type,
           strftime(h, '{_DUCK_FMT}') AS hour,
           CAST(n AS BIGINT) AS n,
           CAST(trail_sum AS BIGINT) AS trail_sum,
           CAST(trail_cnt AS BIGINT) AS trail_cnt,
           (n * trail_cnt > 2 * trail_sum) AS is_spike
    FROM trail
    WHERE trail_cnt > 0
    ORDER BY event_type, hour
    """,
)
def spike_hours_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("n"))
    w = W.partitionBy("event_type").orderBy("h").rowsBetween(-24, -1)
    trail = hourly.select(
        "event_type",
        "h",
        "n",
        F.sum("n").over(w).alias("trail_sum"),
        F.count("*").over(w).alias("trail_cnt"),
    )
    return (
        trail.filter(F.col("trail_cnt") > 0)
        .select(
            "event_type",
            F.date_format("h", _FMT).alias("hour"),
            "n",
            "trail_sum",
            "trail_cnt",
            (F.col("n") * F.col("trail_cnt") > 2 * F.col("trail_sum")).alias(
                "is_spike"
            ),
        )
        .orderBy("event_type", "hour")
    )


# --------------------------------------------------------------------------
# Exponentially weighted moving average (EWMA) of the hourly value
# series per event type — the metrics-dashboard smoother (Prometheus /
# pandas `ewm` shape). alpha = 1/2 over a 16-point trailing window: every
# weight is a power of two (shiftleft — exact BIGINT), the normalizer is
# 2^K − 2^(K−n), and the result is emitted as an integer-milli ratio, so
# both engines agree bit-for-bit where a float pow()-chain would not.
#
# Physical shape: ONE hour×type aggregate (map-side combined), then a
# 16-row trailing collect_list window partitioned by event_type —
# parallel across types, |hours| rows per partition (dashboard-scale).
# The weighted fold is per-row array math (zip_with + aggregate, JVM
# codegen), no Python, no extra shuffle.
# --------------------------------------------------------------------------
_EWMA_K = 16


@_register(
    "ewma_hourly_value",
    f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             SUM({_CENTS}) AS cents
      FROM events GROUP BY 1, 2
    ),
    arrs AS (
      SELECT event_type, h, cents,
             list(cents) OVER (PARTITION BY event_type ORDER BY h
                               ROWS 15 PRECEDING) AS arr
      FROM hourly
    )
    SELECT event_type,
           strftime(h, '{_DUCK_FMT}') AS hour,
           CAST(cents AS BIGINT) AS cents,
           CAST(
             (list_sum(list_transform(range(1, len(arr) + 1),
                j -> arr[j] * (1::BIGINT << ({_EWMA_K} - 1 - len(arr) + j))))
              * 1000)
             // ((1::BIGINT << {_EWMA_K}) - (1::BIGINT << ({_EWMA_K} - len(arr))))
             AS BIGINT) AS ewma_cents_m
    FROM arrs
    ORDER BY event_type, hour
    """,
)
def ewma_hourly_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.sum(cents).alias("cents"))
    w = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-(_EWMA_K - 1), 0)
    )
    arrs = hourly.withColumn("arr", F.collect_list("cents").over(w))
    # Weighted fold + exact integer normalization, spelled in SQL so the
    # division is BIGINT `div` (a float `/` would round-to-nearest where
    # DuckDB's `//` floors).
    ewma = F.expr(
        f"""CAST(
          aggregate(
            zip_with(arr, sequence(1, size(arr)),
                     (c, j) -> c * shiftleft(CAST(1 AS BIGINT),
                                   {_EWMA_K} - 1 - size(arr) + j)),
            CAST(0 AS BIGINT), (acc, x) -> acc + x) * 1000
          div (shiftleft(CAST(1 AS BIGINT), {_EWMA_K})
               - shiftleft(CAST(1 AS BIGINT), {_EWMA_K} - size(arr)))
          AS BIGINT)"""
    )
    return arrs.select(
        "event_type",
        F.date_format("h", _FMT).alias("hour"),
        F.col("cents").cast("bigint").alias("cents"),
        ewma.alias("ewma_cents_m"),
    ).orderBy("event_type", "hour")


# --------------------------------------------------------------------------
# Gap-filled hourly resample + LINEAR interpolation — the numeric twin of
# gapfill_hourly_locf (TimescaleDB's time_bucket_gapfill + interpolate
# shape). Empty hours get prev + (next - prev) * dt / DT in exact integer
# cents (truncating div — identical in Spark `div` and DuckDB `//`,
# both toward zero, verified on negatives); hours before the first / after
# the last observation stay NULL.
#
# Physical shape: same as the LOCF query — one hour×type aggregate, a
# metadata-sized spine cross-join, then TWO ignorenulls windows per type
# (carry-forward and carry-backward). Partitioned by event_type, |hours|
# rows per partition — dashboard-scale regardless of event volume.
# --------------------------------------------------------------------------
@_register(
    "gapfill_hourly_interp",
    f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             COUNT(*) AS n_events, SUM({_CENTS}) AS sum_cents
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
    spine AS (
      SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds
    ),
    grid AS (
      SELECT t.event_type, s.h
      FROM (SELECT DISTINCT event_type FROM hourly) t CROSS JOIN spine s
    ),
    joined AS (
      SELECT g.event_type, g.h,
             COALESCE(hh.n_events, 0) AS n_events,
             hh.sum_cents
      FROM grid g LEFT JOIN hourly hh
        ON hh.event_type = g.event_type AND hh.h = g.h
    ),
    ctx AS (
      SELECT event_type, h, n_events, sum_cents,
             last_value(sum_cents IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS UNBOUNDED PRECEDING) AS prev_c,
             last_value(CASE WHEN sum_cents IS NOT NULL THEN h END
                        IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS UNBOUNDED PRECEDING) AS prev_h,
             first_value(sum_cents IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_c,
             first_value(CASE WHEN sum_cents IS NOT NULL THEN h END
                         IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_h
      FROM joined
    )
    SELECT event_type,
           strftime(h, '{_DUCK_FMT}') AS hour,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(CASE
             WHEN sum_cents IS NOT NULL THEN sum_cents
             WHEN prev_c IS NOT NULL AND next_c IS NOT NULL THEN
               prev_c + ((next_c - prev_c) * date_diff('hour', prev_h, h))
                        // date_diff('hour', prev_h, next_h)
           END AS BIGINT) AS interp_cents
    FROM ctx
    ORDER BY event_type, hour
    """,
)
def gapfill_hourly_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-grid gap fill with exact-integer linear interpolation between
    the nearest observed hours per event_type (NULL outside the observed
    range). Oracle replays the identical grid + window + truncating-div
    math in DuckDB."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("n_events"), F.sum(cents).alias("sum_cents"))

    hourly = materialize(hourly)
    spine = (
        hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("h")
        )
    )
    types = hourly.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(spine))
    joined = grid.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "sum_cents",
    )
    back = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    fwd = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    known_h = F.when(F.col("sum_cents").isNotNull(), F.col("h"))
    ctx = joined.select(
        "event_type",
        "h",
        "n_events",
        "sum_cents",
        F.last("sum_cents", ignorenulls=True).over(back).alias("prev_c"),
        F.last(known_h, ignorenulls=True).over(back).alias("prev_h"),
        F.first("sum_cents", ignorenulls=True).over(fwd).alias("next_c"),
        F.first(known_h, ignorenulls=True).over(fwd).alias("next_h"),
    )
    hours = lambda a, b: (  # noqa: E731 — exact: hour-aligned timestamps
        F.unix_timestamp(b) - F.unix_timestamp(a)
    ) / 3600
    ctx = ctx.withColumn(
        "dt", hours(F.col("prev_h"), F.col("h")).cast("bigint")
    ).withColumn(
        "span", hours(F.col("prev_h"), F.col("next_h")).cast("bigint")
    )
    interp = F.when(F.col("sum_cents").isNotNull(), F.col("sum_cents")).when(
        F.col("prev_c").isNotNull() & F.col("next_c").isNotNull(),
        F.col("prev_c")
        + F.expr("((next_c - prev_c) * dt) div span"),
    )
    return (
        ctx.select(
            "event_type",
            F.date_format("h", _FMT).alias("hour"),
            "n_events",
            interp.cast("bigint").alias("interp_cents"),
        )
        .orderBy("event_type", "hour")
    )


# --------------------------------------------------------------------------
# SCD2 (slowly-changing-dimension type 2) history build — the ELT staple:
# fold an append-only event stream into validity intervals per user, each
# event opening a version that closes when the next one arrives (half-open
# [valid_from, valid_to) ranges; the latest version stays open,
# is_current = 1).
#
# Physical shape: ONE lead() window partitioned by user_id — a single
# shuffle on the natural key, no self-join (the naive spelling joins the
# stream to itself on "next change"). Microsecond-string timestamps keep
# the comparison engine-exact.
# --------------------------------------------------------------------------
@_register(
    "scd2_user_value_history",
    """
    SELECT user_id, event_id,
           STRFTIME(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           STRFTIME(LEAD(ts) OVER w, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           event_type AS state,
           CAST(ROUND(value * 100, 0) AS BIGINT) AS value_cents,
           CASE WHEN LEAD(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, valid_from, event_id
    """,
)
def scd2_user_value_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's event stream folded into SCD2 validity intervals via one
    lead() window (valid_to = next event's ts; NULL keeps the row current).
    Oracle replays the identical window in DuckDB."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    nxt = F.lead("ts").over(w)
    return (
        ev.select(
            "user_id",
            "event_id",
            F.date_format("ts", fmt).alias("valid_from"),
            F.date_format(nxt, fmt).alias("valid_to"),
            F.col("event_type").alias("state"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias(
                "value_cents"
            ),
            F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
        )
        .orderBy("user_id", "valid_from", "event_id")
    )


# --------------------------------------------------------------------------
# Rolling 7-day distinct users (trailing DAU-7) — EXACT distinct over a
# sliding window, the metric COUNT(DISTINCT) OVER (RANGE 6 PRECEDING)
# cannot partial-aggregate. Scalable spelling: per (user, active-day),
# the user contributes to the rolling count of days
# [d, min(d+6, next_active_day-1)] — disjoint intervals per user, so an
# explode + ONE hash aggregate on day replaces the quadratic
# day×user range join. Days with no contribution (or no activity) come
# back via a metadata-sized day spine with count 0.
#
# Scale: shuffles carry (user_id, day) distinct rows and (day, count)
# partials only; interval explode is ≤7 rows per user-day. The oracle
# recomputes the window brute-force (spine × 7-day range join + exact
# COUNT DISTINCT) — correct by construction, quadratic, and fine at
# oracle scale.
# --------------------------------------------------------------------------
@_register(
    "rolling_7d_distinct_users",
    """
    WITH ud AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d
      FROM events
    ),
    bounds AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM ud),
    spine AS (SELECT unnest(range(d0, d1 + 1)) AS day_idx FROM bounds)
    SELECT CAST(s.day_idx AS BIGINT) AS day_idx,
           COUNT(DISTINCT u.user_id) AS dau7
    FROM spine s LEFT JOIN ud u ON u.d BETWEEN s.day_idx - 6 AND s.day_idx
    GROUP BY s.day_idx
    ORDER BY day_idx
    """,
)
def rolling_7d_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact trailing-7-day distinct user count per day, via disjoint
    per-user contribution intervals (no day×user range join). The DuckDB
    oracle recomputes it brute-force with COUNT(DISTINCT) per day."""
    ev = load_table(spark, sf_dir, "events")
    ud = (
        ev.select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
            .cast("bigint")
            .alias("d"),
        )
        .distinct()
    )

    ud = materialize(ud)  # read by bounds and the interval explode
    w = W.partitionBy("user_id").orderBy("d")
    iv = ud.select(
        "d",
        F.least(
            F.col("d") + 6,
            F.coalesce(F.lead("d").over(w) - 1, F.col("d") + 6),
        ).alias("d_end"),
    )
    bounds = ud.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("day_idx")
    )
    contrib = (
        iv.select(F.explode(F.sequence("d", "d_end")).alias("day_idx"))
        .groupBy("day_idx")
        .agg(F.count("*").alias("dau7"))
    )
    return (
        spine.join(contrib, "day_idx", "left")
        .select(
            "day_idx",
            F.coalesce("dau7", F.lit(0)).cast("bigint").alias("dau7"),
        )
        .orderBy("day_idx")
    )


# --------------------------------------------------------------------------
# CUSUM mean-shift detection over hourly value per event_type. The
# textbook recursion S+_t = max(0, S+_{t-1} + dev_t) looks inherently
# sequential, but it equals P_t - min_{i<=t} P_i where P is the running
# sum of deviations — so the whole detector is TWO stacked window
# functions (running sum, then running min) per series key, fully
# parallel across keys and linear within them. Reference mean and slack
# are integer-derived (mu = sum div n, k = mu div 20, h = mu div 2), so
# every value is engine-exact.
#
# Scale: one hourly aggregate (map-side partial), one broadcast of the
# per-type reference means, two windows partitioned by event_type over
# |hours| rows per key — dashboard-scale state regardless of raw volume.
# --------------------------------------------------------------------------
@_register(
    "cusum_shift_detect",
    f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             SUM({_CENTS}) AS s, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    x AS (SELECT event_type, h, s // n AS x_cents FROM hourly),
    ref AS (
      SELECT event_type, SUM(s) // SUM(n) AS mu
      FROM hourly GROUP BY event_type
    ),
    dev AS (
      SELECT x.event_type, x.h, x.x_cents, ref.mu,
             x.x_cents - ref.mu - ref.mu // 20 AS d_pos,
             x.x_cents - ref.mu + ref.mu // 20 AS d_neg
      FROM x JOIN ref USING (event_type)
    ),
    pref AS (
      SELECT event_type, h, x_cents, mu,
             SUM(d_pos) OVER w AS p_pos,
             SUM(d_neg) OVER w AS p_neg
      FROM dev
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS UNBOUNDED PRECEDING)
    ),
    cusum AS (
      SELECT event_type, h, x_cents, mu,
             p_pos - LEAST(MIN(p_pos) OVER w, 0) AS s_pos,
             -(p_neg - GREATEST(MAX(p_neg) OVER w, 0)) AS s_neg
      FROM pref
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_type, strftime(h, '{_DUCK_FMT}') AS hour,
           CAST(x_cents AS BIGINT) AS x_cents,
           CAST(s_pos AS BIGINT) AS s_pos,
           CAST(s_neg AS BIGINT) AS s_neg,
           CASE WHEN s_pos > mu // 2 OR s_neg > mu // 2
                THEN 1 ELSE 0 END AS shift_flag
    FROM cusum
    ORDER BY event_type, hour
    """,
)
def cusum_shift_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour CUSUM statistics (upward s_pos / downward s_neg) against
    each event_type's integer reference mean, with a shift flag at
    h = mu/2 — the sequential recursion respelled as running-sum minus
    running-min prefix scans. Oracle replays the identical windows."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.sum(cents).alias("s"), F.count("*").alias("n"))

    hourly = materialize(hourly)  # read by both x and ref
    x = hourly.select(
        "event_type", "h", F.expr("s div n").alias("x_cents")
    )
    ref = hourly.groupBy("event_type").agg(
        F.expr("sum(s) div sum(n)").alias("mu")
    )
    dev = x.join(F.broadcast(ref), "event_type").select(
        "event_type",
        "h",
        "x_cents",
        "mu",
        (F.col("x_cents") - F.col("mu") - F.expr("mu div 20")).alias("d_pos"),
        (F.col("x_cents") - F.col("mu") + F.expr("mu div 20")).alias("d_neg"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    pref = dev.select(
        "event_type",
        "h",
        "x_cents",
        "mu",
        F.sum("d_pos").over(w).alias("p_pos"),
        F.sum("d_neg").over(w).alias("p_neg"),
    )
    cusum = pref.select(
        "event_type",
        "h",
        "x_cents",
        "mu",
        (F.col("p_pos") - F.least(F.min("p_pos").over(w), F.lit(0))).alias(
            "s_pos"
        ),
        (
            -(F.col("p_neg") - F.greatest(F.max("p_neg").over(w), F.lit(0)))
        ).alias("s_neg"),
    )
    return (
        cusum.select(
            "event_type",
            F.date_format("h", _FMT).alias("hour"),
            F.col("x_cents").cast("bigint").alias("x_cents"),
            F.col("s_pos").cast("bigint").alias("s_pos"),
            F.col("s_neg").cast("bigint").alias("s_neg"),
            F.when(
                (F.col("s_pos") > F.expr("mu div 2"))
                | (F.col("s_neg") > F.expr("mu div 2")),
                1,
            )
            .otherwise(0)
            .alias("shift_flag"),
        )
        .orderBy("event_type", "hour")
    )


# --------------------------------------------------------------------------
# U-shaped (position-based) multi-touch attribution — each purchase
# splits its value across the user's preceding touches (view/click)
# within a 24 h lookback: 40% first touch, 40% last touch, 20% spread
# over the middles (100% / 50-50 for 1- and 2-touch paths). Credit is
# integer ppm of the purchase's cents, so allocations are engine-exact.
#
# Physical shape: purchases equi-join touches on user_id with the
# lookback as a post-join range filter (per-user volume is bounded by
# user activity — the same key the skew diagnostics watch), then ONE
# window per conversion (row_number + count) and a final hash aggregate
# by touch channel. At 100 TB the join pre-partitions both sides by
# user_id; nothing here is all-pairs.
# --------------------------------------------------------------------------
@_register(
    "attribution_u_shape",
    f"""
    WITH touches AS (
      SELECT user_id, event_id AS touch_id, event_type AS channel, ts
      FROM events WHERE event_type IN ('view', 'click')
    ),
    conv AS (
      SELECT user_id, event_id AS conv_id, ts AS conv_ts,
             {_CENTS} AS conv_cents
      FROM events WHERE event_type = 'purchase'
    ),
    path AS (
      SELECT c.conv_id, c.conv_cents, t.touch_id, t.channel,
             ROW_NUMBER() OVER (PARTITION BY c.conv_id
                                ORDER BY t.ts, t.touch_id) AS pos,
             COUNT(*) OVER (PARTITION BY c.conv_id) AS k
      FROM conv c JOIN touches t
        ON t.user_id = c.user_id
       AND t.ts < c.conv_ts
       AND t.ts >= c.conv_ts - INTERVAL 24 HOURS
    ),
    credited AS (
      SELECT channel, conv_cents,
             CASE
               WHEN k = 1 THEN 1000000
               WHEN k = 2 THEN 500000
               WHEN pos = 1 OR pos = k THEN 400000
               ELSE 200000 // (k - 2)
             END AS ppm
      FROM path
    )
    SELECT channel,
           COUNT(*) AS n_touches,
           CAST(SUM(ppm) AS BIGINT) AS sum_ppm,
           CAST(SUM((conv_cents * ppm) // 1000000) AS BIGINT)
             AS credit_cents
    FROM credited
    GROUP BY channel
    ORDER BY channel
    """,
)
def attribution_u_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based attribution: per touch channel, the ppm credit and
    integer cents attributed from purchases' 24 h lookback windows
    (40/20/40 U-shape; 100% / 50-50 for short paths). Oracle replays the
    identical join + window + integer allocation."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("channel"),
        "ts",
    )
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        F.col("ts").alias("conv_ts"),
        cents.alias("conv_cents"),
    )
    path = (
        conv.join(touches, "user_id")
        .filter(
            (F.col("ts") < F.col("conv_ts"))
            & (
                F.col("ts")
                >= F.col("conv_ts") - F.expr("INTERVAL 24 HOURS")
            )
        )
        .select(
            "conv_id",
            "conv_cents",
            "touch_id",
            "channel",
            "ts",
        )
    )
    w_pos = W.partitionBy("conv_id").orderBy("ts", "touch_id")
    w_all = W.partitionBy("conv_id")
    scored = path.select(
        "channel",
        "conv_cents",
        F.row_number().over(w_pos).alias("pos"),
        F.count("*").over(w_all).alias("k"),
    )
    ppm = (
        F.when(F.col("k") == 1, F.lit(1000000))
        .when(F.col("k") == 2, F.lit(500000))
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("k")),
            F.lit(400000),
        )
        .otherwise(F.expr("200000 div (k - 2)"))
    )
    return (
        scored.select("channel", "conv_cents", ppm.alias("ppm"))
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_touches"),
            F.sum("ppm").cast("bigint").alias("sum_ppm"),
            F.sum(F.expr("(conv_cents * ppm) div 1000000"))
            .cast("bigint")
            .alias("credit_cents"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# Per-type OLS trend slope over hourly value — the "is this metric
# drifting" number next to CUSUM's "did it jump". The closed form
# slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) is FOUR integer sums per
# group (x = hour index, y = integer cents), so the whole regression is
# one map-side-partial hash aggregate; the slope ships in ppm-per-hour
# via truncating div — engine-exact, no floating point anywhere.
# --------------------------------------------------------------------------
@_register(
    "trend_slope_by_type",
    f"""
    WITH hourly AS (
      SELECT event_type,
             date_diff('hour', TIMESTAMP '2024-01-01 00:00:00',
                       date_trunc('hour', ts)) AS x,
             SUM({_CENTS}) // COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM hourly GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_hours,
           CAST((1000000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx)
                AS BIGINT) AS slope_ppm_per_hour,
           CAST(sy // n AS BIGINT) AS mean_cents
    FROM s
    ORDER BY event_type
    """,
)
def trend_slope_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer OLS slope (ppm of a cent per hour) of each event
    type's hourly mean value — one hash aggregate, closed-form sums, no
    floats. Oracle replays the identical arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    x = (
        F.unix_timestamp(F.date_trunc("hour", "ts"))
        - F.unix_timestamp(F.lit("2024-01-01 00:00:00").cast("timestamp"))
    ) / 3600
    hourly = (
        ev.groupBy("event_type", x.cast("bigint").alias("x"))
        .agg(F.expr(f"sum({_CENTS}) div count(*)").alias("y"))
    )
    s = hourly.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return (
        s.select(
            "event_type",
            F.col("n").cast("bigint").alias("n_hours"),
            F.expr(
                "(1000000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx)"
            ).alias("slope_ppm_per_hour"),
            F.expr("sy div n").alias("mean_cents"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Winsorized robust aggregate per event_type — clip values to the
# discrete [p1, p99] band before summing, the standard outlier guard on
# money-ish metrics. Discrete percentiles are defined positionally
# (value at row ceil(q·n) of the ascending sort — integer formula
# (q·n + 99) div 100), so both engines pick the identical element; ties
# in the sort cannot change the value at a position.
#
# Scale: one row_number window per type (parallel across types), the
# two cut rows reduce to a one-row-per-type frame that broadcasts back,
# then one clamped hash aggregate. No global sort.
# --------------------------------------------------------------------------
@_register(
    "winsorize_value_by_type",
    f"""
    WITH x AS (
      SELECT event_type, {_CENTS} AS c FROM events
    ),
    ranked AS (
      SELECT event_type, c,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM x
    ),
    cuts AS (
      SELECT event_type,
             MAX(CASE WHEN rn = (n + 99) // 100 THEN c END) AS p01,
             MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN c END) AS p99
      FROM ranked GROUP BY event_type
    )
    SELECT x.event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN x.c < cuts.p01 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_lo,
           CAST(SUM(CASE WHEN x.c > cuts.p99 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_hi,
           CAST(SUM(x.c) AS BIGINT) AS sum_cents_raw,
           CAST(SUM(LEAST(GREATEST(x.c, cuts.p01), cuts.p99)) AS BIGINT)
             AS sum_cents_winsorized,
           CAST(cuts.p01 AS BIGINT) AS p01_cents,
           CAST(cuts.p99 AS BIGINT) AS p99_cents
    FROM x JOIN cuts USING (event_type)
    GROUP BY x.event_type, cuts.p01, cuts.p99
    ORDER BY x.event_type
    """,
)
def winsorize_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type sums before/after clipping to the discrete [p1, p99]
    band, plus the cut values and clip counts. Positional percentile
    formula is pure integer, so the engines agree exactly."""
    ev = load_table(spark, sf_dir, "events")
    x = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
    )

    x = materialize(x)  # read by the ranking and the final aggregate
    wr = W.partitionBy("event_type").orderBy("c")
    wn = W.partitionBy("event_type")
    ranked = x.select(
        "event_type",
        "c",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    cuts = ranked.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 99) div 100"), F.col("c"))
        ).alias("p01"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(99 * n + 99) div 100"), F.col("c")
            )
        ).alias("p99"),
    )
    clipped = F.least(
        F.greatest(F.col("c"), F.col("p01")), F.col("p99")
    )
    return (
        x.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type", "p01", "p99")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("c") < F.col("p01"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_lo"),
            F.sum(F.when(F.col("c") > F.col("p99"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_hi"),
            F.sum("c").cast("bigint").alias("sum_cents_raw"),
            F.sum(clipped).cast("bigint").alias("sum_cents_winsorized"),
        )
        .select(
            "event_type",
            "n",
            "n_clipped_lo",
            "n_clipped_hi",
            "sum_cents_raw",
            "sum_cents_winsorized",
            F.col("p01").cast("bigint").alias("p01_cents"),
            F.col("p99").cast("bigint").alias("p99_cents"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# New-vs-returning users per day — the growth-accounting split every
# product dashboard leads with: a user's first-ever active day counts
# them "new", every later active day "returning". One per-user min
# aggregate (first_day) joined back to the distinct (user, day) activity
# frame, then a day-grain count — shuffles carry per-user and per-day
# rows only, never raw events.
# --------------------------------------------------------------------------
@_register(
    "new_vs_returning_daily",
    """
    WITH ud AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d
      FROM events
    ),
    first_day AS (SELECT user_id, MIN(d) AS d0 FROM ud GROUP BY user_id)
    SELECT CAST(ud.d AS BIGINT) AS day_idx,
           CAST(SUM(CASE WHEN ud.d = f.d0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(SUM(CASE WHEN ud.d > f.d0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_returning
    FROM ud JOIN first_day f USING (user_id)
    GROUP BY ud.d
    ORDER BY day_idx
    """,
)
def new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day split of active users into first-ever-day ("new") vs
    seen-before ("returning"). Oracle replays the same min-join."""
    ev = load_table(spark, sf_dir, "events")
    ud = (
        ev.select(
            "user_id",
            F.datediff(
                F.to_date("ts"), F.lit("2024-01-01").cast("date")
            )
            .cast("bigint")
            .alias("d"),
        )
        .distinct()
    )

    ud = materialize(ud)  # read by first_day and the join
    first_day = ud.groupBy("user_id").agg(F.min("d").alias("d0"))
    return (
        ud.join(first_day, "user_id")
        .groupBy(F.col("d").alias("day_idx"))
        .agg(
            F.sum(F.when(F.col("d") == F.col("d0"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
            F.sum(F.when(F.col("d") > F.col("d0"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_returning"),
        )
        .orderBy("day_idx")
    )


# --------------------------------------------------------------------------
# Batch sessionization via gaps-and-islands — the lag + cumulative-sum
# respelling of session assignment (a new session starts where the gap
# from the previous event exceeds 30 min), then per-user session stats.
# The batch twin of the streaming session_window queries: same 30-min
# gap rule, but spelled as pure windows so it runs on any historical log.
#
# Scale: two stacked windows partitioned by user_id (lag, then running
# sum of session-start flags) and one (user, session) aggregate — a
# single shuffle on user_id end-to-end; per-user state is the user's
# own event count, the same bound the streaming sessionizer keys on.
# --------------------------------------------------------------------------
@_register(
    "sessionize_gaps_islands",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    ),
    per_session AS (
      SELECT user_id, session_id, COUNT(*) AS n_events,
             date_diff('second', MIN(ts), MAX(ts)) AS span_s
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT user_id,
           COUNT(*) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS total_events,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events,
           CAST(SUM(span_s) AS BIGINT) AS total_span_s,
           CAST(MAX(span_s) AS BIGINT) AS max_span_s
    FROM per_session
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def sessionize_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session stats from 30-min-gap islands (lag flag +
    running sum), the batch twin of the streaming session window.
    Oracle replays the identical two-window spelling."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = ev.withColumn(
        "is_start",
        F.when(
            F.lag("ts").over(w).isNull() | (gap > 30 * 60), 1
        ).otherwise(0),
    )
    wc = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sessions = marked.withColumn(
        "session_id", F.sum("is_start").over(wc)
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max(F.unix_timestamp("ts")) - F.min(F.unix_timestamp("ts")))
        .cast("bigint")
        .alias("span_s"),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").cast("bigint").alias("total_events"),
            F.max("n_events").cast("bigint").alias("max_session_events"),
            F.sum("span_s").cast("bigint").alias("total_span_s"),
            F.max("span_s").cast("bigint").alias("max_span_s"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov drift statistic between the 'view' and
# 'purchase' value distributions — the distribution-shift gate a data
# pipeline runs before trusting a new batch. D = max |F1(v) - F2(v)|,
# computed entirely in integers: the numerator |cum1*n2 - cum2*n1| is
# exact, and ks_ppm renders D with staged floor divisions both engines
# evaluate identically.
#
# Scale: the ECDF needs a global prefix sum — respelled as the two-level
# binned scan (per-value counts → per-bin totals → bin offsets via a
# bounded triangular broadcast join → within-bin windows PARTITIONED BY
# bin). No unpartitioned window anywhere; the bin count is fixed (value
# range / 5000 cents), so the offset frame is O(1) and broadcast.
# --------------------------------------------------------------------------
@_register(
    "ks_value_drift",
    f"""
    WITH vals AS (
      SELECT {_CENTS} AS cents,
             COUNT(*) FILTER (WHERE event_type = 'view') AS c1,
             COUNT(*) FILTER (WHERE event_type = 'purchase') AS c2
      FROM events
      WHERE event_type IN ('view', 'purchase')
      GROUP BY 1
    ),
    cum AS (
      SELECT cents,
             SUM(c1) OVER w AS cum1, SUM(c2) OVER w AS cum2
      FROM vals
      WINDOW w AS (ORDER BY cents ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM vals),
    d AS (
      SELECT MAX(ABS(cum1 * t.n2 - cum2 * t.n1)) AS d_num
      FROM cum CROSS JOIN tot t
    )
    SELECT CAST(t.n1 AS BIGINT) AS n1, CAST(t.n2 AS BIGINT) AS n2,
           CAST(d.d_num AS BIGINT) AS d_num,
           CAST(((d.d_num * 1000) // t.n1) * 1000 // t.n2 AS BIGINT)
             AS ks_ppm
    FROM d CROSS JOIN tot t
    """,
)
def ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic (view vs purchase values) via a
    binned two-level prefix scan — no unpartitioned window. The oracle
    replays the ECDF with a plain global window (same rows; DuckDB is
    single-node so the physical shape doesn't matter there)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    vals = materialize(
        ev.groupBy(cents.alias("cents")).agg(
            F.count_if(F.col("event_type") == "view").alias("c1"),
            F.count_if(F.col("event_type") == "purchase").alias("c2"),
        )
        .withColumn("bin", F.expr("cents div 5000"))
    )  # read by bin totals, offsets, and the within-bin scan
    bins = vals.groupBy("bin").agg(
        F.sum("c1").alias("s1"), F.sum("c2").alias("s2")
    )
    # offsets: totals of all STRICTLY EARLIER bins — triangular join on
    # the O(1) bin frame (both sides broadcast-sized), not a window.
    b2 = bins.select(
        F.col("bin").alias("pbin"),
        F.col("s1").alias("p1"),
        F.col("s2").alias("p2"),
    )
    offs = (
        bins.join(F.broadcast(b2), F.col("pbin") < F.col("bin"), "left")
        .groupBy("bin")
        .agg(
            F.coalesce(F.sum("p1"), F.lit(0)).alias("off1"),
            F.coalesce(F.sum("p2"), F.lit(0)).alias("off2"),
        )
    )
    w = (
        W.partitionBy("bin")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = (
        vals.join(F.broadcast(offs), "bin")
        .select(
            "cents",
            (F.col("off1") + F.sum("c1").over(w)).alias("cum1"),
            (F.col("off2") + F.sum("c2").over(w)).alias("cum2"),
        )
    )
    tot = vals.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    d = (
        cum.join(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
            ).alias("d_num")
        )
    )
    return d.join(F.broadcast(tot)).select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.col("d_num").cast("bigint").alias("d_num"),
        F.expr(
            "CAST(((d_num * 1000) div n1) * 1000 div n2 AS BIGINT)"
        ).alias("ks_ppm"),
    )


# --------------------------------------------------------------------------
# Benford first-significant-digit audit over event values — the classic
# fabricated-data screen. The digit comes from the STRING rendering of
# integer cents (never floating log10, whose boundary cells differ by
# ulps across engines); expected Benford shares are fixed ppm literals.
#
# Scale: map-only digit extraction + one 9-group hash aggregate.
# --------------------------------------------------------------------------
_BENFORD_PPM = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]


@_register(
    "benford_first_digit",
    f"""
    WITH digits AS (
      SELECT CAST(SUBSTRING(CAST({_CENTS} AS VARCHAR), 1, 1) AS BIGINT)
               AS digit
      FROM events WHERE {_CENTS} >= 1
    ),
    cnt AS (SELECT digit, COUNT(*) AS observed FROM digits GROUP BY digit),
    tot AS (SELECT SUM(observed) AS total FROM cnt)
    SELECT c.digit, CAST(c.observed AS BIGINT) AS observed,
           CAST(t.total AS BIGINT) AS total,
           CAST(c.observed * 1000000 // t.total AS BIGINT) AS obs_ppm,
           CAST(([{','.join(str(x) for x in _BENFORD_PPM)}])[c.digit]
                AS BIGINT) AS benford_ppm,
           CAST(c.observed * 1000000 // t.total
                - ([{','.join(str(x) for x in _BENFORD_PPM)}])[c.digit]
                AS BIGINT) AS dev_ppm
    FROM cnt c CROSS JOIN tot t
    ORDER BY c.digit
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of value cents vs the
    Benford expectation, deviations in exact ppm."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    digits = ev.select(
        F.substring(cents.cast("string"), 1, 1).cast("bigint").alias("digit")
    ).filter(cents >= 1)
    cnt = digits.groupBy("digit").agg(F.count("*").alias("observed"))
    tot = cnt.agg(F.sum("observed").alias("total"))
    benford = F.array(*[F.lit(x) for x in _BENFORD_PPM])
    return (
        cnt.join(F.broadcast(tot))
        .select(
            "digit",
            F.col("observed").cast("bigint").alias("observed"),
            F.col("total").cast("bigint").alias("total"),
            F.expr("CAST(observed * 1000000 div total AS BIGINT)").alias(
                "obs_ppm"
            ),
            F.element_at(benford, F.col("digit").cast("int"))
            .cast("bigint")
            .alias("benford_ppm"),
            (
                F.expr("observed * 1000000 div total")
                - F.element_at(benford, F.col("digit").cast("int"))
            )
            .cast("bigint")
            .alias("dev_ppm"),
        )
        .orderBy("digit")
    )


# --------------------------------------------------------------------------
# Audience-overlap matrix: exact Jaccard between the user sets of every
# event-type pair — "do people who error also purchase?" The input is
# the (type, user)-distinct frame, so the self-join carries one row per
# active user per type and the pair space is |types|².
#
# Scale: distinct aggregate (map-side partial), self-join partitioned on
# user_id, 10-group final aggregate; per-type set sizes ride in via a
# broadcast of the |types|-sized count frame.
# --------------------------------------------------------------------------
@_register(
    "event_type_user_overlap",
    """
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY event_type),
    inter AS (
      SELECT a.event_type AS t1, b.event_type AS t2, COUNT(*) AS n_inter
      FROM tu a JOIN tu b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT i.t1, i.t2,
           CAST(s1.n AS BIGINT) AS n1, CAST(s2.n AS BIGINT) AS n2,
           CAST(i.n_inter AS BIGINT) AS n_inter,
           CAST(i.n_inter * 1000000 // (s1.n + s2.n - i.n_inter) AS BIGINT)
             AS jaccard_ppm
    FROM inter i
    JOIN sizes s1 ON s1.event_type = i.t1
    JOIN sizes s2 ON s2.event_type = i.t2
    ORDER BY i.t1, i.t2
    """,
)
def event_type_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise exact Jaccard overlap of per-event-type user sets."""
    ev = load_table(spark, sf_dir, "events")
    tu = materialize(
        ev.select("event_type", "user_id").distinct()
    )  # read by sizes and both join legs
    sizes = tu.groupBy("event_type").agg(F.count("*").alias("n"))
    a = tu.select(F.col("event_type").alias("t1"), "user_id")
    b = tu.select(F.col("event_type").alias("t2"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count("*").alias("n_inter"))
    )
    s1 = sizes.select(F.col("event_type").alias("t1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("event_type").alias("t2"), F.col("n").alias("n2"))
    return (
        inter.join(F.broadcast(s1), "t1")
        .join(F.broadcast(s2), "t2")
        .select(
            "t1",
            "t2",
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
            F.col("n_inter").cast("bigint").alias("n_inter"),
            F.expr(
                "CAST(n_inter * 1000000 div (n1 + n2 - n_inter) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("t1", "t2")
    )


# --------------------------------------------------------------------------
# Inter-arrival-time histogram: per event_type, the distribution of
# minutes since the same user's previous event (any type), capped at 10+
# — the latency fingerprint behind session-gap tuning. Gap seconds are
# boundary-exact (second-truncated timestamps on both engines).
#
# Scale: one lag window PARTITIONED BY user_id over raw events, then a
# (type × 12-bucket) hash aggregate — shuffle on user_id, then on the
# bounded histogram key.
# --------------------------------------------------------------------------
@_register(
    "interarrival_histogram",
    """
    WITH gaps AS (
      SELECT event_type,
             date_diff('second', LAG(ts) OVER w, ts) AS gap_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type,
           CAST(LEAST(gap_s // 60, 10) AS BIGINT) AS minute_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
    FROM gaps
    WHERE gap_s IS NOT NULL
    GROUP BY 1, 2
    ORDER BY event_type, minute_bucket
    """,
)
def interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type histogram of same-user inter-arrival minutes (capped)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (
        F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    ).alias("gap_s")
    gaps = ev.select("event_type", gap).filter(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy(
            "event_type",
            F.least(F.expr("gap_s div 60"), F.lit(10))
            .cast("bigint")
            .alias("minute_bucket"),
        )
        .agg(
            F.count("*").alias("n"),
            F.min("gap_s").cast("bigint").alias("min_gap_s"),
            F.max("gap_s").cast("bigint").alias("max_gap_s"),
        )
        .orderBy("event_type", "minute_bucket")
    )


# --------------------------------------------------------------------------
# Timezone conversion battery — naive UTC event times rendered as wall
# clocks in three IANA zones (incl. a DST-observing one), plus a
# business-hours classification on the New-York wall clock. Both engines
# resolve zone rules from the same IANA tzdata, so formatted strings are
# engine-exact; everything aggregates to the (type × 24-hour) grain.
#
# Scale: map-only conversions + one bounded hash aggregate.
# --------------------------------------------------------------------------
@_register(
    "tz_convert_battery",
    """
    WITH conv AS (
      SELECT event_type,
             timezone('America/New_York', timezone('UTC', ts)) AS ny,
             timezone('Asia/Tokyo',       timezone('UTC', ts)) AS tokyo
      FROM events
    )
    SELECT event_type,
           CAST(EXTRACT(hour FROM ny) AS BIGINT) AS ny_hour,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (
               WHERE EXTRACT(hour FROM ny) BETWEEN 9 AND 16) AS BIGINT)
             AS n_ny_business,
           strftime(MIN(tokyo), '%Y-%m-%d %H:%M:%S') AS min_tokyo,
           strftime(MAX(tokyo), '%Y-%m-%d %H:%M:%S') AS max_tokyo
    FROM conv
    GROUP BY 1, 2
    ORDER BY event_type, ny_hour
    """,
)
def tz_convert_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wall-clock rendering of UTC event times in New York and Tokyo
    (IANA rules, DST-aware) with a business-hours split per NY hour."""
    ev = load_table(spark, sf_dir, "events")
    ny = F.convert_timezone(F.lit("UTC"), F.lit("America/New_York"), "ts")
    tokyo = F.convert_timezone(F.lit("UTC"), F.lit("Asia/Tokyo"), "ts")
    conv = ev.select(
        "event_type", ny.alias("ny"), tokyo.alias("tokyo")
    )
    return (
        conv.groupBy(
            "event_type",
            F.hour("ny").cast("bigint").alias("ny_hour"),
        )
        .agg(
            F.count("*").alias("n"),
            F.count_if(F.hour("ny").between(9, 16)).alias("n_ny_business"),
            F.date_format(F.min("tokyo"), _FMT).alias("min_tokyo"),
            F.date_format(F.max("tokyo"), _FMT).alias("max_tokyo"),
        )
        .orderBy("event_type", "ny_hour")
    )


# --------------------------------------------------------------------------
# Ingestion-order audit: certifies that event_id is monotone within each
# user's time-ordered stream (an inversion = a row whose event_id is
# below the running max of its predecessors — late or re-sequenced
# ingestion). On clean data the counts are zero, and the oracle proves
# the engine derives the SAME zero — the point of a certifying audit
# (the referential-integrity audit plays the same role).
#
# Scale: one running-max window PARTITIONED BY user_id, one user-grain
# aggregate — a single shuffle on the natural key.
# --------------------------------------------------------------------------
@_register(
    "event_order_audit",
    """
    WITH x AS (
      SELECT user_id, event_id,
             MAX(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(event_id) AS BIGINT) AS min_event_id,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id,
           CAST(COUNT(*) FILTER (WHERE event_id < prev_max) AS BIGINT)
             AS n_inversions,
           CAST(COALESCE(MAX(prev_max - event_id)
                         FILTER (WHERE event_id < prev_max), 0) AS BIGINT)
             AS max_inversion_gap
    FROM x
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def event_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user monotonicity certificate for event_id along event time."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    x = ev.select(
        "user_id", "event_id", F.max("event_id").over(w).alias("prev_max")
    )
    inv = F.col("event_id") < F.col("prev_max")
    return (
        x.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
            F.count_if(inv).alias("n_inversions"),
            F.coalesce(
                F.max(F.when(inv, F.col("prev_max") - F.col("event_id"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("max_inversion_gap"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Feature engineering — equi-depth discretization: per event type, bin
# values into 8 equal-population quantile bins (NTILE with a unique-key
# tie-break) and report each bin's population and fixed-point value
# range — the bin-boundary table a feature pipeline persists before
# bucketizing at serve time.
#
# Scale: one window per event_type partition (parallel across types; no
# global window). At petabyte scale the same table comes from
# approx_percentile edges + a map-side assignment — this exact spelling
# is the audit twin that validates those edges on a sample.
# --------------------------------------------------------------------------
_N_QBINS = 8


@_register(
    "quantile_bins_value",
    f"""
    WITH fp AS (
      SELECT event_type, event_id,
             CAST(FLOOR(value * 1000000) AS BIGINT) AS v_fp
      FROM events
    ),
    binned AS (
      SELECT event_type, v_fp,
             NTILE({_N_QBINS}) OVER (PARTITION BY event_type
               ORDER BY v_fp, event_id) AS bin
      FROM fp
    )
    SELECT event_type, bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(v_fp) AS lo_fp,
           MAX(v_fp) AS hi_fp
    FROM binned
    GROUP BY event_type, bin
    ORDER BY event_type, bin
    """,
)
def quantile_bins_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type 8-bin equi-depth value discretization with exact ranges."""
    events = load_table(spark, sf_dir, "events")
    fp = events.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 1000000).cast("bigint").alias("v_fp"),
    )
    w = W.partitionBy("event_type").orderBy("v_fp", "event_id")
    return (
        fp.withColumn("bin", F.ntile(_N_QBINS).over(w))
        .groupBy("event_type", "bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("v_fp").alias("lo_fp"),
            F.max("v_fp").alias("hi_fp"),
        )
        .orderBy("event_type", "bin")
    )


# --------------------------------------------------------------------------
# Chi-square independence drift test — event_type × 4-hour time-of-day
# bucket, completing the drift-stat trio (KS for numeric distributions,
# Benford for digit laws, chi² for categorical mix). The statistic is
# computed entirely in integer fixed point so both engines agree
# bit-for-bit, with DIVISION-BEFORE-SQUARING so nothing data-sized is
# ever squared:
#
#   q_ppm     = col_tot · 10⁶ div n                 (column share, ppm)
#   exp_milli = max(row_tot · q_ppm div 10³, 1)     (expected ×10³;
#               the max(·,1) clamp keeps a sparse cell's division
#               defined — without it exp floors to 0, the cell's chi
#               becomes NULL and SUM silently DROPS the strongest drift
#               evidence; clamping inflates such a cell's contribution
#               instead, which errs toward raising the alarm)
#   adev_milli= |obs·10³ − exp_milli|
#   ratio_k   = adev_milli · 10³ div exp_milli      (dev/exp ×10³)
#   chi_m     = ratio_k · adev_milli div 10³        (cell χ² ×10³)
#
# abs() BEFORE any division — DuckDB's // floors while Spark's div
# truncates toward zero, so signed intermediate divisions would diverge;
# on non-negative operands they are identical. The alarm threshold is
# the p=0.001 critical value FOR THE REALIZED dof (a 20-entry integer
# table, dof=(r−1)(c−1)≤20 here) — a partial slice with fewer realized
# categories gets its own, smaller critical value instead of silently
# reusing dof=20's.
#
# Fixed-point headroom (exact-integer, no wraparound): col_tot·10⁶
# needs n ≤ 9·10¹²; ratio_k·adev_milli — the binding term — stays in
# BIGINT for per-slice n up to ~10⁹ rows even under total drift
# (chi ≤ n·(k−1) ⇒ product ≤ chi·10⁶). Beyond 10⁹-row slices, drop the
# milli scale to unit scale; the statistic's precision need shrinks as
# n grows.
#
# Scale: one partial-aggregated count per cell (30 cells), marginals are
# two tiny aggregates broadcast back onto the cell frame — the corpus is
# scanned once; everything after is constant-size.
# --------------------------------------------------------------------------

# χ² critical values at p = 0.001 for dof 1..20, ×1000 (Abramowitz &
# Stegun table 26.8 values, the standard published table)
_CHI2_CRIT_MILLI = {
    1: 10828, 2: 13816, 3: 16266, 4: 18467, 5: 20515,
    6: 22458, 7: 24322, 8: 26124, 9: 27877, 10: 29588,
    11: 31264, 12: 32909, 13: 34528, 14: 36123, 15: 37697,
    16: 39252, 17: 40790, 18: 42312, 19: 43820, 20: 45315,
}

_CRIT_CASE_SQL = (
    "CASE dof "
    + " ".join(f"WHEN {d} THEN {m}" for d, m in _CHI2_CRIT_MILLI.items())
    + " END"
)


@_register(
    "chi2_type_hour_drift",
    f"""
    WITH cells AS (
      SELECT event_type, hour(ts) // 4 AS hb, COUNT(*) AS obs
      FROM events GROUP BY 1, 2
    ),
    rows_ AS (SELECT event_type, SUM(obs) AS row_tot FROM cells GROUP BY 1),
    cols_ AS (SELECT hb, SUM(obs) AS col_tot FROM cells GROUP BY 1),
    tot AS (SELECT SUM(obs) AS n FROM cells),
    devs AS (
      SELECT c.event_type, c.hb, c.obs,
             greatest((r.row_tot * ((co.col_tot * 1000000) // t.n)) // 1000,
                      1) AS exp_milli
      FROM cells c
      JOIN rows_ r USING (event_type)
      JOIN cols_ co USING (hb)
      CROSS JOIN tot t
    ),
    contrib AS (
      SELECT event_type, hb,
             ((abs(obs * 1000 - exp_milli) * 1000) // exp_milli)
               * abs(obs * 1000 - exp_milli) // 1000 AS chi_m
      FROM devs
    ),
    stats AS (
      SELECT CAST(t.n AS BIGINT) AS n,
             CAST(COUNT(DISTINCT c.event_type) AS BIGINT) AS n_types,
             CAST(COUNT(DISTINCT c.hb) AS BIGINT) AS n_buckets,
             CAST((COUNT(DISTINCT c.event_type) - 1)
                  * (COUNT(DISTINCT c.hb) - 1) AS BIGINT) AS dof,
             CAST(SUM(c.chi_m) AS BIGINT) AS chi2_milli
      FROM contrib c CROSS JOIN tot t
      GROUP BY t.n
    )
    SELECT n, n_types, n_buckets, dof, chi2_milli,
           CAST({_CRIT_CASE_SQL} AS BIGINT) AS crit_milli,
           chi2_milli > {_CRIT_CASE_SQL} AS drift_alarm
    FROM stats
    """,
)
def chi2_type_hour_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        (F.hour("ts") / 4).cast("bigint").alias("hb"),
    ).agg(F.count("*").alias("obs"))
    rows_ = cells.groupBy("event_type").agg(F.sum("obs").alias("row_tot"))
    cols_ = cells.groupBy("hb").agg(F.sum("obs").alias("col_tot"))
    tot = cells.agg(F.sum("obs").alias("n"))
    devs = (
        cells.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "hb")
        .join(F.broadcast(tot))
        .select(
            "event_type",
            "hb",
            "obs",
            "n",
            F.expr(
                "greatest((row_tot * ((col_tot * 1000000) div n)) div 1000,"
                " 1)"
            ).alias("exp_milli"),
        )
    )
    contrib = devs.select(
        "event_type",
        "hb",
        "n",
        F.expr(
            "((abs(obs * 1000 - exp_milli) * 1000) div exp_milli)"
            " * abs(obs * 1000 - exp_milli) div 1000"
        ).alias("chi_m"),
    )
    crit = F.expr(_CRIT_CASE_SQL)
    return (
        contrib.groupBy("n")
        .agg(
            F.countDistinct("event_type").cast("bigint").alias("n_types"),
            F.countDistinct("hb").cast("bigint").alias("n_buckets"),
            (
                (F.countDistinct("event_type") - 1)
                * (F.countDistinct("hb") - 1)
            )
            .cast("bigint")
            .alias("dof"),
            F.sum("chi_m").cast("bigint").alias("chi2_milli"),
        )
        .select(
            F.col("n").cast("bigint").alias("n"),
            "n_types",
            "n_buckets",
            "dof",
            "chi2_milli",
            crit.cast("bigint").alias("crit_milli"),
            (F.col("chi2_milli") > crit).alias("drift_alarm"),
        )
    )


# --------------------------------------------------------------------------
# Mann-Whitney U / AUC drift test (view vs purchase values) — the
# nonparametric location-shift companion to the KS test above: U is a
# pure RANK SUM, so with doubled midranks everything stays an exact
# integer (a tie group spanning ranks [b+1, b+t] has doubled midrank
# 2b + t + 1). U1/(n1·n2) is the common-language effect size — the
# probability a random view value exceeds a random purchase value
# (AUC); 5000 bps = no shift. The alarm flags |AUC − 0.5| > 2.5 points.
#
# Scale: same binned two-level prefix scan as ks_value_drift — the
# strictly-before totals come from bin offsets (triangular join on the
# O(1) bin frame) + a WITHIN-BIN running sum, never an unpartitioned
# window. Fixed-point headroom: u1_doubled·10⁴ needs n1·n2 ≲ 4·10¹⁴
# (~2·10⁷ rows per side); beyond that compute auc in ppm of a sampled
# slice or drop to unit scale.
# --------------------------------------------------------------------------
@_register(
    "mannwhitney_value_drift",
    f"""
    WITH vals AS (
      SELECT {_CENTS} AS cents,
             COUNT(*) FILTER (WHERE event_type = 'view') AS c1,
             COUNT(*) FILTER (WHERE event_type = 'purchase') AS c2
      FROM events
      WHERE event_type IN ('view', 'purchase')
      GROUP BY 1
    ),
    cum AS (
      SELECT cents, c1, c2,
             SUM(c1 + c2) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
               AS cumt
      FROM vals
    ),
    tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM vals),
    rsum AS (
      SELECT SUM(c1 * (2 * (cumt - c1 - c2) + (c1 + c2) + 1)) AS r1d
      FROM cum
    )
    SELECT CAST(t.n1 AS BIGINT) AS n1,
           CAST(t.n2 AS BIGINT) AS n2,
           CAST(r.r1d - t.n1 * (t.n1 + 1) AS BIGINT) AS u1_doubled,
           CAST(2 * t.n1 * t.n2 - (r.r1d - t.n1 * (t.n1 + 1)) AS BIGINT)
             AS u2_doubled,
           CAST((r.r1d - t.n1 * (t.n1 + 1)) * 10000 // (2 * t.n1 * t.n2)
                AS BIGINT) AS auc_bps,
           abs((r.r1d - t.n1 * (t.n1 + 1)) * 10000 // (2 * t.n1 * t.n2)
               - 5000) > 250 AS drift_alarm
    FROM rsum r CROSS JOIN tot t
    """,
)
def mannwhitney_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    vals = materialize(
        ev.groupBy(cents.alias("cents"))
        .agg(
            F.count_if(F.col("event_type") == "view").alias("c1"),
            F.count_if(F.col("event_type") == "purchase").alias("c2"),
        )
        .withColumn("bin", F.expr("cents div 5000"))
    )
    bins = vals.groupBy("bin").agg(F.sum(F.col("c1") + F.col("c2")).alias("st"))
    b2 = bins.select(F.col("bin").alias("pbin"), F.col("st").alias("pt"))
    offs = (
        bins.join(F.broadcast(b2), F.col("pbin") < F.col("bin"), "left")
        .groupBy("bin")
        .agg(F.coalesce(F.sum("pt"), F.lit(0)).alias("offt"))
    )
    w = (
        W.partitionBy("bin")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = vals.join(F.broadcast(offs), "bin").select(
        "cents",
        "c1",
        "c2",
        (F.col("offt") + F.sum(F.col("c1") + F.col("c2")).over(w)).alias(
            "cumt"
        ),
    )
    rsum = cum.agg(
        F.sum(
            F.col("c1")
            * (
                2 * (F.col("cumt") - F.col("c1") - F.col("c2"))
                + (F.col("c1") + F.col("c2"))
                + 1
            )
        ).alias("r1d")
    )
    tot = vals.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    u1d = F.expr("r1d - n1 * (n1 + 1)")
    auc = F.expr("(r1d - n1 * (n1 + 1)) * 10000 div (2 * n1 * n2)")
    return rsum.join(F.broadcast(tot)).select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        u1d.cast("bigint").alias("u1_doubled"),
        F.expr("2 * n1 * n2 - (r1d - n1 * (n1 + 1))")
        .cast("bigint")
        .alias("u2_doubled"),
        auc.cast("bigint").alias("auc_bps"),
        (F.abs(auc - 5000) > 250).alias("drift_alarm"),
    )
