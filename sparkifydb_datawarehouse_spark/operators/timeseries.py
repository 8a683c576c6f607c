"""Event-time analytics over the change-log-shaped `events` table:
gap sessionization, SCD2 interval builds, and funnel conversion.

The reference's `time` dimension (/root/reference/sql_queries.py:161-173)
is the only temporal processing it does; these operators are the
general event-time surface a warehouse built on that schema needs.

Scale notes (100 TB): every operator here is one shuffle, partitioned
by user_id. Event logs are naturally user-partitioned, so a layout
bucketed by user_id makes all three shuffle-free. Per-user event
counts are bounded (human activity), so no skew mitigation is needed —
unlike entity keys, user_id cardinality grows with data volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load_table

# ---------------------------------------------------------------------------
# Gap-based sessionization: a session ends after >= 6h of inactivity.
# lag() marks boundaries, a running sum numbers the sessions — the
# classic two-window formulation, one shuffle on user_id.
# ---------------------------------------------------------------------------

_GAP_MINUTES = 360
_DAY_US = 86_400 * 1_000_000

_ORACLE_SESSIONIZE = f"""
WITH flagged AS (
    SELECT user_id, ts,
           CASE WHEN ts - LAG(ts) OVER w <= INTERVAL {_GAP_MINUTES} MINUTE
                THEN 0 ELSE 1 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
    SELECT user_id, ts,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_num
    FROM flagged
)
SELECT user_id,
       CAST(session_num AS BIGINT) AS session_num,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       ROUND(EXTRACT(EPOCH FROM MAX(ts) - MIN(ts)), 3) AS duration_sec
FROM numbered
GROUP BY user_id, session_num
ORDER BY user_id, session_num
"""


@query("q_sessionize_gap", oracle=_ORACLE_SESSIONIZE)
def sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # exact microsecond deltas, like the oracle's interval compare: a
    # whole-second cast would merge a 21600.5 s gap into one session
    gap_ok = (
        F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    ) <= _GAP_MINUTES * 60 * 1_000_000
    flagged = ev.withColumn(
        "is_new", F.when(gap_ok, F.lit(0)).otherwise(F.lit(1))
    )
    numbered = flagged.withColumn("session_num", F.sum("is_new").over(run))
    # duration_sec spells the oracle's double arithmetic step for step,
    # so both engines round the same double at micros ending in 500:
    # EXTRACT(EPOCH FROM interval) is whole days in seconds + the
    # sub-day remainder / 1e6, and DuckDB's ROUND(x, 3) is
    # round-half-away(x * 1000) / 1000
    span_us = F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
    rem_us = span_us % _DAY_US
    epoch_s = (span_us - rem_us) / 1e6 + rem_us / 1e6
    return (
        numbered.groupBy("user_id", "session_num")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            (F.round(epoch_s * 1000) / 1000).alias("duration_sec"),
        )
        .orderBy("user_id", "session_num")
    )


# ---------------------------------------------------------------------------
# SCD2 interval build: run-length-encode each user's event_type stream
# into [valid_from, valid_to) validity intervals — the standard way to
# turn a change log into a slowly-changing-dimension table. Same
# two-window shape as sessionization, then lead() closes each interval.
# ---------------------------------------------------------------------------

_ORACLE_SCD2 = """
WITH flagged AS (
    SELECT user_id, event_type, ts, event_id,
           CASE WHEN event_type = LAG(event_type) OVER w THEN 0 ELSE 1 END AS chg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
    SELECT user_id, event_type, ts,
           SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS run_id
    FROM flagged
), runs AS (
    SELECT user_id, event_type,
           CAST(run_id AS BIGINT) AS run_id,
           MIN(ts) AS valid_from,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, event_type, run_id
)
SELECT user_id, event_type, run_id, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
       (LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) IS NULL)
           AS is_current,
       n_events
FROM runs
ORDER BY user_id, run_id
"""


@query("q_scd2_intervals", oracle=_ORACLE_SCD2)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    flagged = ev.withColumn(
        "chg",
        F.when(F.col("event_type") == F.lag("event_type").over(w), F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    numbered = flagged.withColumn("run_id", F.sum("chg").over(run))
    runs = numbered.groupBy("user_id", "event_type", "run_id").agg(
        F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n_events")
    )
    wv = Window.partitionBy("user_id").orderBy("valid_from")
    return (
        runs.withColumn("valid_to", F.lead("valid_from").over(wv))
        .withColumn("is_current", F.col("valid_to").isNull())
        .select(
            "user_id",
            "event_type",
            "run_id",
            "valid_from",
            "valid_to",
            "is_current",
            "n_events",
        )
        .orderBy("user_id", "run_id")
    )


# ---------------------------------------------------------------------------
# Funnel conversion: users reaching view -> click-after-view ->
# purchase-after-click, with strictly increasing timestamps. Three
# cascading min-aggregations; each stage's output is tiny (one row per
# qualifying user), so the later joins broadcast under AQE.
# ---------------------------------------------------------------------------

_ORACLE_FUNNEL = """
WITH v AS (
    SELECT user_id, MIN(ts) AS view_ts FROM events
    WHERE event_type = 'view' GROUP BY user_id
), c AS (
    SELECT e.user_id, MIN(e.ts) AS click_ts
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND e.ts > v.view_ts
    GROUP BY e.user_id
), p AS (
    SELECT e.user_id, MIN(e.ts) AS purchase_ts
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
    GROUP BY e.user_id
)
SELECT stage, n_users FROM (
    SELECT 'view' AS stage, 1 AS ord, COUNT(*) AS n_users FROM v
    UNION ALL
    SELECT 'click', 2, COUNT(*) FROM c
    UNION ALL
    SELECT 'purchase', 3, COUNT(*) FROM p
) ORDER BY ord
"""


@query("q_funnel_conversion", oracle=_ORACLE_FUNNEL)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )

    def stage(df: DataFrame, name: str, ord_: int) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(name).alias("stage"),
            F.lit(ord_).alias("ord"),
            F.col("n_users"),
        )

    return (
        stage(v, "view", 1)
        .unionAll(stage(c, "click", 2))
        .unionAll(stage(p, "purchase", 3))
        .orderBy("ord")
        .select("stage", "n_users")
    )


# ---------------------------------------------------------------------------
# Cohort retention: users grouped by first-activity week, tracked by
# how many are still active N weeks later — the standard product-
# analytics matrix. Two aggs + one join, all partitioned by user_id;
# the cohort dim (weeks) is tiny, so the final matrix agg is cheap.
# ---------------------------------------------------------------------------

_ORACLE_RETENTION = """
WITH first_seen AS (
    SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
    FROM events GROUP BY user_id
), activity AS (
    SELECT DISTINCT e.user_id,
           f.cohort_week,
           CAST(date_diff('week', f.cohort_week, date_trunc('week', e.ts))
                AS BIGINT) AS weeks_since
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
)
SELECT cohort_week, weeks_since, COUNT(*) AS n_users
FROM activity
GROUP BY cohort_week, weeks_since
ORDER BY cohort_week, weeks_since
"""


@query("q_cohort_retention", oracle=_ORACLE_RETENTION)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                (
                    F.date_trunc("week", F.col("ts")).cast("long")
                    - F.col("cohort_week").cast("long")
                )
                / 604800
            ).alias("weeks_since"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_week", "weeks_since")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "weeks_since")
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: maximal runs of CONSECUTIVE active days per user.
# Complements q_sessionize_gap (which splits on a time-gap threshold
# at event granularity): islands operate on the calendar grid — the
# "current streak / longest streak" product metric.
# ---------------------------------------------------------------------------

_ORACLE_ISLANDS = """
WITH d AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
r AS (
    SELECT user_id, day,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
    FROM d
)
SELECT user_id,
       MIN(day) AS start_day,
       MAX(day) AS end_day,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM (
    SELECT user_id, day,
           date_diff('day', DATE '1970-01-01', day) - rn AS island
    FROM r
) t
GROUP BY user_id, island
ORDER BY user_id, start_day
"""


@query("q_islands_consecutive", oracle=_ORACLE_ISLANDS)
def islands_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity islands: for each user, the maximal runs of consecutive
    active days (start, end, length).

    The classic derivation: within a user, day_number - row_number is
    CONSTANT exactly while days are consecutive, so that difference is
    the island key — one window plus one hash agg, no self-join, no
    iteration.

    Scale design (100 TB): the DISTINCT collapses event volume to
    (user x active-day) rows BEFORE the window, so the per-user sort
    is bounded by calendar days, not events; all three steps shuffle
    on user_id and AQE coalesces the (tiny) post-distinct exchanges.
    A multi-year 100 TB log yields at most ~users x 365·years rows
    here — the window never sees raw events.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islanded = d.select(
        "user_id",
        "day",
        (
            F.datediff("day", F.lit("1970-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("island"),
    )
    return (
        islanded.groupBy("user_id", "island")
        .agg(
            F.min("day").alias("start_day"),
            F.max("day").alias("end_day"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .select("user_id", "start_day", "end_day", "n_days")
        .orderBy("user_id", "start_day")
    )


# ---------------------------------------------------------------------------
# Rolling 7-day distinct users (WAU) — sliding-window COUNT DISTINCT.
# Distinct does not partially aggregate across overlapping windows, so
# the scalable exact form inverts the problem: each active (user, day)
# CONTRIBUTES itself to the 7 window-end days it falls in (explode of
# a 7-element date sequence), then one distinct-agg per window end.
# ---------------------------------------------------------------------------

_ORACLE_ROLLING_WAU = """
WITH d AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
bounds AS (SELECT MAX(day) AS max_day FROM d),
contrib AS (
    SELECT user_id,
           UNNEST(generate_series(day, day + 6, INTERVAL 1 DAY))::DATE AS win_day
    FROM d
)
SELECT win_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau_7d
FROM contrib, bounds
WHERE win_day <= max_day
GROUP BY win_day
ORDER BY win_day
"""


@query("q_rolling_distinct_users", oracle=_ORACLE_ROLLING_WAU)
def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day distinct users active in the trailing 7-day window
    ending that day (rolling WAU).

    Contract: a day appears ONLY if its trailing window contains at
    least one active user-day — empty-window days emit no wau_7d=0
    row (the oracle shares this semantic). Callers needing a dense
    calendar left-join this against a date spine (F.sequence over the
    min..max day, as q_ts_resample builds one).

    Scale design (100 TB): COUNT DISTINCT over SLIDING windows is the
    one aggregate partial aggregation cannot save — overlapping
    windows cannot merge distinct sets. The exact scalable form here:
    (1) DISTINCT collapses events to (user, active-day) — event volume
    is gone before anything widens; (2) each user-day explodes into
    exactly window_width=7 (user, window-end) rows; (3) one hash
    distinct-agg per window end. Shuffle volume is bounded by
    active-user-days x 7, independent of raw event count, and the
    fan-out factor is the WINDOW WIDTH, not the data. For wide windows
    (rolling 90-day MAU) the factor grows linearly and the mergeable-
    sketch path takes over: per-day HLL sketches unioned across the
    window (q_agg_hll_sketch is that primitive) — exact here, approx
    there, same query shape.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    max_day = d.agg(F.max("day").alias("max_day"))
    contrib = d.select(
        "user_id",
        F.explode(F.sequence("day", F.date_add("day", 6))).alias("win_day"),
    )
    return (
        contrib.crossJoin(F.broadcast(max_day))
        .filter(F.col("win_day") <= F.col("max_day"))
        .groupBy("win_day")
        .agg(F.countDistinct("user_id").alias("wau_7d"))
        .orderBy("win_day")
    )


# ---------------------------------------------------------------------------
# EWMA — exponentially weighted moving average over each user's value
# stream, bounded lookback. The true EWMA recurrence (y_t = a*x_t +
# (1-a)*y_{t-1}) is sequential per key and would serialize the
# partition; the bounded form truncates the tail (decay 0.5 -> the
# 8th-oldest term already weighs 2^-7), turning it into a plain
# window computation. Weights are powers of two, so every weight and
# weight-sum is EXACT in doubles, and both engines fold the window
# array sequentially (Spark aggregate(), DuckDB list_dot_product —
# the same sequential-association pairing proven in the cosine
# oracle), making the comparison exact before the cosmetic ROUND.
#
# Scale design (100 TB): one shuffle on user_id, per-row state is the
# <=8-element frame array; no self-join, no fan-out. The W-element
# HOF fold is interpreted but O(W) per row with W=8 — far under the
# threshold where the explode+agg rewrite pays (SURVEY §4).
# ---------------------------------------------------------------------------

_EWMA_WINDOW = 8  # rows of lookback; decay 0.5 per step

_ORACLE_EWMA = f"""
WITH r AS (
    SELECT user_id, event_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
), framed AS (
    SELECT user_id, event_id, rn,
           list(value) OVER (PARTITION BY user_id ORDER BY rn
                             ROWS BETWEEN {_EWMA_WINDOW - 1} PRECEDING AND CURRENT ROW) AS vals
    FROM r
)
SELECT user_id, event_id, rn,
       ROUND(
         list_dot_product(
             vals,
             list_transform(generate_series(1, len(vals)),
                            i -> 1.0 / POWER(2.0, len(vals) - i))
         ) / (2.0 - 1.0 / POWER(2.0, len(vals) - 1)),
         6
       ) AS ewma_value
FROM framed
ORDER BY user_id, rn
"""


@query("q_ts_ewma", oracle=_ORACLE_EWMA)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_rn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.select(
        "user_id", "event_id", "value", F.row_number().over(w_rn).alias("rn")
    )
    w_frame = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(-(_EWMA_WINDOW - 1), 0)
    )
    framed = r.select(
        "user_id",
        "event_id",
        "rn",
        F.collect_list("value").over(w_frame).alias("vals"),
    )
    s = F.size("vals")
    # weights 2^-(s-1) .. 2^0 oldest->current; dot product folded
    # sequentially left-to-right, mirroring list_dot_product
    weights = F.transform(
        F.sequence(F.lit(1), s),
        lambda i: F.lit(1.0) / F.pow(F.lit(2.0), (s - i).cast("double")),
    )
    dot = F.aggregate(
        F.zip_with("vals", weights, lambda v, w: v * w),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    norm = F.lit(2.0) - F.lit(1.0) / F.pow(F.lit(2.0), (s - 1).cast("double"))
    return framed.select(
        "user_id", "event_id", "rn", F.round(dot / norm, 6).alias("ewma_value")
    ).orderBy("user_id", "rn")


# ---------------------------------------------------------------------------
# Event-transition matrix — first-order Markov view of user behavior:
# for each (from_type, to_type) pair of CONSECUTIVE events per user,
# the transition count and the row-normalized probability. One lag
# window on user_id + one pair-keyed hash agg; the matrix is
# event-type² rows (dimensions-sized) whatever the event volume.
# ---------------------------------------------------------------------------

_ORACLE_TRANSITIONS = """
WITH seq AS (
    SELECT user_id, event_type,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
    FROM events
), pairs AS (
    SELECT prev_type AS from_type, event_type AS to_type, COUNT(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
)
SELECT from_type, to_type,
       CAST(n AS BIGINT) AS n,
       ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_type), 6) AS p
FROM pairs
ORDER BY from_type, to_type
"""


@query("q_event_transitions", oracle=_ORACLE_TRANSITIONS)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # row-normalize OVER THE MATRIX (type² rows), never the event table
    # — the percent-of-total altitude rule (C76)
    w_row = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") * F.lit(1.0) / F.sum("n").over(w_row), 6).alias("p"),
    ).orderBy("from_type", "to_type")


# ---------------------------------------------------------------------------
# Cumulative distinct users (the "total unique users ever" growth
# curve). An EXPANDING COUNT DISTINCT window would re-scan every
# prefix; the scalable identity is that a user contributes exactly
# once — at their FIRST day: collapse events to (user, first_day),
# count per day, cumulative-sum over the days spine. Shuffles carry
# users then days; the window runs over the days-sized series (the
# C76 altitude rule again).
# ---------------------------------------------------------------------------

_ORACLE_CUMULATIVE_USERS = """
WITH first_seen AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
), per_day AS (
    SELECT first_day AS day, COUNT(*) AS new_users FROM first_seen GROUP BY first_day
)
SELECT day,
       CAST(new_users AS BIGINT) AS new_users,
       CAST(SUM(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS total_users
FROM per_day
ORDER BY day
"""


@query("q_cumulative_distinct_users", oracle=_ORACLE_CUMULATIVE_USERS)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    per_day = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("total_users"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Time-bounded funnel — conversions only count within an attribution
# window (view -> click within 3 days -> purchase within 3 days of the
# click): how real funnels are defined, vs the unbounded q_funnel_
# conversion. Same cascading min-agg shape; the window is a residual
# predicate on each stage's join, so the plan cost is unchanged.
# ---------------------------------------------------------------------------

_FUNNEL_WINDOW_DAYS = 3

_ORACLE_FUNNEL_BOUND = f"""
WITH v AS (
    SELECT user_id, MIN(ts) AS view_ts FROM events
    WHERE event_type = 'view' GROUP BY user_id
), c AS (
    SELECT e.user_id, MIN(e.ts) AS click_ts
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND e.ts > v.view_ts
      AND e.ts <= v.view_ts + INTERVAL {_FUNNEL_WINDOW_DAYS} DAY
    GROUP BY e.user_id
), p AS (
    SELECT e.user_id, MIN(e.ts) AS purchase_ts
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
      AND e.ts <= c.click_ts + INTERVAL {_FUNNEL_WINDOW_DAYS} DAY
    GROUP BY e.user_id
)
SELECT stage, n_users FROM (
    SELECT 'view' AS stage, 1 AS ord, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
    UNION ALL SELECT 'click_3d', 2, CAST(COUNT(*) AS BIGINT) FROM c
    UNION ALL SELECT 'purchase_3d', 3, CAST(COUNT(*) AS BIGINT) FROM p
) ORDER BY ord
"""


@query("q_funnel_time_bound", oracle=_ORACLE_FUNNEL_BOUND)
def funnel_time_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    win = F.expr(f"INTERVAL {_FUNNEL_WINDOW_DAYS} DAY")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("view_ts")) & (F.col("ts") <= F.col("view_ts") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("click_ts")) & (F.col("ts") <= F.col("click_ts") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )

    def stage(df: DataFrame, name: str, ord_: int) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.lit(ord_).alias("ord"),
            F.count(F.lit(1)).alias("n_users"),
        )

    return (
        stage(v, "view", 1)
        .unionByName(stage(c, "click_3d", 2))
        .unionByName(stage(p, "purchase_3d", 3))
        .orderBy("ord")
        .select("stage", "n_users")
    )


# ---------------------------------------------------------------------------
# Cohort LTV curve: cumulative revenue per acquisition cohort by age.
# ---------------------------------------------------------------------------

_ORACLE_LTV = """
WITH first_order AS (
    SELECT o_custkey,
           date_trunc('month', CAST(MIN(o_orderdate) AS DATE)) AS cohort_month
    FROM orders GROUP BY o_custkey
), cohort_size AS (
    SELECT cohort_month, COUNT(*) AS n_customers
    FROM first_order GROUP BY cohort_month
), rev AS (
    SELECT f.cohort_month,
           (YEAR(o.o_orderdate) - YEAR(f.cohort_month)) * 12
               + (MONTH(o.o_orderdate) - MONTH(f.cohort_month)) AS age_months,
           CAST(ROUND(SUM(o.o_totalprice) * 100) AS BIGINT) AS cents
    FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
    GROUP BY f.cohort_month, age_months
), curve AS (
    SELECT cohort_month, age_months,
           CAST(SUM(cents) OVER (PARTITION BY cohort_month ORDER BY age_months)
                AS BIGINT) AS cum_cents
    FROM rev
)
SELECT c.cohort_month, c.age_months,
       CAST(s.n_customers AS BIGINT) AS n_customers,
       ROUND(c.cum_cents / 100.0, 2) AS cum_revenue,
       CAST(FLOOR(c.cum_cents * 100.0 / s.n_customers) AS BIGINT) / 10000.0
           AS ltv_per_customer
FROM curve c JOIN cohort_size s ON c.cohort_month = s.cohort_month
ORDER BY c.cohort_month, c.age_months
"""


@query("q_cohort_ltv", oracle=_ORACLE_LTV)
def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTV curves: cumulative revenue per acquisition-month cohort by
    cohort age (months since first order), normalized per customer —
    the companion to q_cohort_retention with money instead of
    presence.

    Same altitude rule: the running sum is a window over the
    (cohort × age) AGGREGATE — calendar-bounded — never over orders.
    Revenue folds to integer cents before the cumulative (exact at any
    scale); ages are pure integer month arithmetic (no fractional
    months_between, whose day-of-month semantics differ by engine).
    """
    orders = load_table(spark, sf_dir, "orders")
    first_order = (
        orders.groupBy("o_custkey")
        .agg(
            F.date_trunc("month", F.min(F.col("o_orderdate").cast("date")))
            .cast("date")
            .alias("cohort_month")
        )
        .localCheckpoint(eager=True)  # consumed by cohort sizing AND revenue fold
    )
    cohort_size = first_order.groupBy("cohort_month").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    age = (F.year("o_orderdate") - F.year("cohort_month")) * 12 + (
        F.month("o_orderdate") - F.month("cohort_month")
    )
    rev = (
        orders.join(first_order, "o_custkey")
        .groupBy("cohort_month", age.alias("age_months"))
        .agg(F.round(F.sum("o_totalprice") * 100, 0).cast("long").alias("cents"))
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    curve = rev.withColumn("cum_cents", F.sum("cents").over(w))
    return (
        curve.join(F.broadcast(cohort_size), "cohort_month")
        .select(
            "cohort_month",
            "age_months",
            F.col("n_customers").cast("long").alias("n_customers"),
            F.round(F.col("cum_cents") / 100.0, 2).alias("cum_revenue"),
            # FLOOR-based fixed-point, not ROUND: cum_cents/(100·n) lands
            # exactly on half-way 4-decimal boundaries (integer/integer), where
            # Spark rounds half-up and DuckDB half-even (ORACLES.md)
            (
                F.floor(F.col("cum_cents") * 100.0 / F.col("n_customers"))
                .cast("long")
                / 10000.0
            ).alias("ltv_per_customer"),
        )
        .orderBy("cohort_month", "age_months")
    )


# ---------------------------------------------------------------------------
# New vs returning revenue split per month.
# ---------------------------------------------------------------------------

_ORACLE_NEW_RETURNING = """
WITH first_order AS (
    SELECT o_custkey,
           date_trunc('month', CAST(MIN(o_orderdate) AS DATE)) AS first_month
    FROM orders GROUP BY o_custkey
)
SELECT date_trunc('month', CAST(o.o_orderdate AS DATE)) AS month,
       CAST(COUNT(CASE WHEN date_trunc('month', CAST(o.o_orderdate AS DATE))
                            = f.first_month THEN 1 END) AS BIGINT) AS new_orders,
       CAST(COUNT(CASE WHEN date_trunc('month', CAST(o.o_orderdate AS DATE))
                            <> f.first_month THEN 1 END) AS BIGINT) AS returning_orders,
       ROUND(CAST(ROUND(SUM(CASE WHEN date_trunc('month', CAST(o.o_orderdate AS DATE))
                                      = f.first_month THEN o.o_totalprice
                                 ELSE 0 END) * 100) AS BIGINT) / 100.0, 2)
           AS new_revenue,
       ROUND(CAST(ROUND(SUM(CASE WHEN date_trunc('month', CAST(o.o_orderdate AS DATE))
                                      <> f.first_month THEN o.o_totalprice
                                 ELSE 0 END) * 100) AS BIGINT) / 100.0, 2)
           AS returning_revenue
FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
GROUP BY month
ORDER BY month
"""


@query("q_new_vs_returning", oracle=_ORACLE_NEW_RETURNING)
def new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue split between first-time and returning
    customers — a customer is "new" only in their acquisition month.
    One per-customer fold (first month), one broadcast-shaped join
    back to orders, conditional aggregation to the month grid;
    revenue reported through the integer-cents fold."""
    orders = load_table(spark, sf_dir, "orders")
    first_order = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min(F.col("o_orderdate").cast("date")))
        .cast("date")
        .alias("first_month")
    )
    month = F.date_trunc("month", F.col("o_orderdate").cast("date")).cast("date")
    joined = orders.join(first_order, "o_custkey").withColumn("month", month)
    is_new = F.col("month") == F.col("first_month")
    cents_if = lambda cond: F.round(
        F.sum(F.when(cond, F.col("o_totalprice")).otherwise(0.0)) * 100, 0
    ).cast("long")
    return (
        joined.groupBy("month")
        .agg(
            F.count(F.when(is_new, 1)).cast("long").alias("new_orders"),
            F.count(F.when(~is_new, 1)).cast("long").alias("returning_orders"),
            F.round(cents_if(is_new) / 100.0, 2).alias("new_revenue"),
            F.round(cents_if(~is_new) / 100.0, 2).alias("returning_revenue"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Purchase cadence: inter-order gap distribution.
# ---------------------------------------------------------------------------

_ORACLE_CADENCE = """
WITH gaps AS (
    SELECT o_custkey,
           DATE_DIFF('day',
                     LAG(CAST(o_orderdate AS DATE)) OVER (
                         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                     CAST(o_orderdate AS DATE)) AS gap_days
    FROM orders
)
SELECT CAST(COUNT(gap_days) AS BIGINT) AS n_gaps,
       quantile_disc(gap_days, 0.5) AS median_gap_days,
       quantile_disc(gap_days, 0.9) AS p90_gap_days,
       CAST(MIN(gap_days) AS BIGINT) AS min_gap_days,
       CAST(MAX(gap_days) AS BIGINT) AS max_gap_days
FROM gaps
WHERE gap_days IS NOT NULL
"""


@query("q_purchase_cadence", oracle=_ORACLE_CADENCE)
def purchase_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap distribution ("how often do customers come
    back?"): per-customer LAG over order dates, then discrete
    percentiles over the gap population — integer day counts
    end-to-end, so the cross-engine compare is exact with no rounding.
    One customer-keyed window shuffle; the percentile is computed over
    the gap HISTOGRAM, not the gap population: gap_days is a
    calendar-bounded small integer (≤ dataset span in days), so a hash
    agg collapses ~|orders| gaps to ≲ a-few-thousand (value, count)
    rows and the cumulative window runs over that bounded frame — no
    single-partition sort ever touches fact-scale data (the
    stats_tests.py discipline; quantile_disc over ties is identical on
    the histogram because tied ranks share the value)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    hist = gaps.groupBy("gap_days").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy("gap_days").rowsBetween(Window.unboundedPreceding, 0)
    ranked = hist.select(
        "gap_days",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )

    def disc(p: float):
        return F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(p) * F.col("n")), F.col("gap_days"))
        )

    return ranked.agg(
        F.max("n").cast("long").alias("n_gaps"),
        disc(0.5).alias("median_gap_days"),
        disc(0.9).alias("p90_gap_days"),
        F.min("gap_days").cast("long").alias("min_gap_days"),
        F.max("gap_days").cast("long").alias("max_gap_days"),
    )


# ---------------------------------------------------------------------------
# Time-in-state: duration-weighted aggregation over the event stream.
# ---------------------------------------------------------------------------

_ORACLE_TIME_IN_STATE = """
WITH spans AS (
    SELECT event_type,
           epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               - epoch_us(ts) AS dur_us
    FROM events
)
SELECT event_type AS state,
       CAST(COUNT(dur_us) AS BIGINT) AS n_spans,
       CAST(SUM(dur_us) AS BIGINT) AS total_us,
       ROUND(CAST(SUM(dur_us) AS BIGINT) / 3600000000.0, 4) AS total_hours,
       CAST(SUM(dur_us) AS BIGINT) // CAST(COUNT(dur_us) AS BIGINT) AS mean_us_floor
FROM spans
WHERE dur_us IS NOT NULL
GROUP BY event_type
ORDER BY state
"""


@query("q_time_in_state", oracle=_ORACLE_TIME_IN_STATE)
def time_in_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted state accounting: how long users SIT in each
    event state (an event's state lasts until the user's next event) —
    the time-in-state / time-weighted-average primitive behind uptime,
    stage-duration, and TWAP reports.

    One per-user LEAD window turns the point stream into spans; the
    rollup sums EXACT integer microseconds (epoch_us difference), so
    totals, hours, and the floored mean are all integer-derived and
    cross-engine deterministic with no float discipline at all. Each
    user's final open-ended event is excluded (NULL lead), matching on
    both engines. One shuffle on user_id + one states-sized rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    spans = ev.select(
        "event_type",
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    return (
        spans.groupBy(F.col("event_type").alias("state"))
        .agg(
            F.count("dur_us").cast("long").alias("n_spans"),
            F.sum("dur_us").cast("long").alias("total_us"),
            F.round(F.sum("dur_us") / 3600000000.0, 4).alias("total_hours"),
            F.floor(F.sum("dur_us") / F.count("dur_us")).cast("long").alias(
                "mean_us_floor"
            ),
        )
        .orderBy("state")
    )


# ---------------------------------------------------------------------------
# Fulfillment latency SLA: order -> last ship, disc percentiles per priority.
# ---------------------------------------------------------------------------

_ORACLE_FILL_LATENCY = """
WITH per_order AS (
    SELECT o.o_orderpriority AS priority,
           DATE_DIFF('day', CAST(o.o_orderdate AS DATE),
                     CAST(MAX(l.l_shipdate) AS DATE)) AS fill_days
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
)
SELECT priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       quantile_disc(fill_days, 0.5) AS median_fill_days,
       quantile_disc(fill_days, 0.95) AS p95_fill_days,
       CAST(COUNT(*) FILTER (WHERE fill_days > 120) AS BIGINT) AS n_sla_breaches
FROM per_order
GROUP BY priority
ORDER BY priority
"""


@query("q_fulfillment_latency", oracle=_ORACLE_FILL_LATENCY)
def fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-fulfillment SLA report: days from order to LAST line
    shipped, median/p95 per priority class plus breach counts (>120d).
    Integer days end-to-end; discrete percentiles per the
    q_percentile_bands rule; one fact join + per-order fold, then the
    percentiles come from the (priority, fill_days) HISTOGRAM — a hash
    agg collapses ~|orders| rows to ≤ 5·(day-span) histogram rows
    before any window touches them, so no per-priority partition ever
    sorts fact-scale data (same shape as q_purchase_cadence)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", F.col("o_orderpriority").alias("priority"), "o_orderdate")
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("last_ship"))
        .select(
            "priority",
            F.datediff("last_ship", F.col("o_orderdate").cast("date")).alias(
                "fill_days"
            ),
        )
    )
    hist = per_order.groupBy("priority", "fill_days").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_cum = (
        Window.partitionBy("priority")
        .orderBy("fill_days")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = hist.select(
        "priority",
        "fill_days",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("priority")).alias("n"),
    )

    def disc(p: float):
        return F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(p) * F.col("n")), F.col("fill_days"))
        )

    return (
        ranked.groupBy("priority")
        .agg(
            F.max("n").cast("long").alias("n_orders"),
            disc(0.5).alias("median_fill_days"),
            disc(0.95).alias("p95_fill_days"),
            F.sum(F.when(F.col("fill_days") > 120, F.col("cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_sla_breaches"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Churn-risk alerting: customers overdue vs their own cadence.
# ---------------------------------------------------------------------------

_ORACLE_OVERDUE = """
WITH snap AS (
    SELECT CAST(MAX(o_orderdate) AS DATE) AS s FROM orders
), per_cust AS (
    SELECT o_custkey,
           list_sort(list(CAST(o_orderdate AS DATE))) AS days
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 3
), gaps AS (
    SELECT o_custkey,
           DATE_DIFF('day', days[len(days)], (SELECT s FROM snap)) AS current_gap,
           list_sort(list_transform(range(2, len(days) + 1),
                     i -> DATE_DIFF('day', days[i - 1], days[i]))) AS g
    FROM per_cust
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(COUNT(*) FILTER (
           WHERE current_gap > 2 * g[CAST(CEIL(len(g) / 2.0) AS BIGINT)]
       ) AS BIGINT) AS n_overdue,
       ROUND(COUNT(*) FILTER (
           WHERE current_gap > 2 * g[CAST(CEIL(len(g) / 2.0) AS BIGINT)]
       ) * 1.0 / COUNT(*), 6) AS overdue_rate
FROM gaps
"""


@query("q_overdue_customers", oracle=_ORACLE_OVERDUE)
def overdue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-risk alert: customers (3+ orders) whose gap since their
    LAST order exceeds 2× their OWN median inter-order gap — cadence-
    personalized, unlike a global recency cutoff.

    Per-customer history collapses into ONE sorted array inside the
    aggregation buffer (bounded by orders-per-customer); gaps, the
    discrete median gap, and the overdue flag are all array
    expressions — integer days end-to-end, no second shuffle, no
    per-customer windows. The census output is 1 row."""
    orders = load_table(spark, sf_dir, "orders")
    snap = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("s"))
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.sort_array(
                F.collect_list(F.col("o_orderdate").cast("date"))
            ).alias("days")
        )
        .filter(F.size("days") >= 3)
        .crossJoin(F.broadcast(snap))
    )
    gaps = per_cust.select(
        F.datediff(F.col("s"), F.expr("element_at(days, -1)")).alias("current_gap"),
        F.expr(
            "sort_array(transform(sequence(2, size(days)), "
            "i -> datediff(element_at(days, i), element_at(days, i - 1))))"
        ).alias("g"),
    )
    median_gap = F.expr("element_at(g, cast(ceil(size(g) / 2.0) as int))")
    overdue = F.col("current_gap") > 2 * median_gap
    return gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.count(F.when(overdue, 1)).cast("long").alias("n_overdue"),
        # try_divide: on an EMPTY slice count=0 and ANSI division would
        # throw; NULL rate over zero customers is the audit semantic
        F.round(
            F.try_divide(F.count(F.when(overdue, 1)), F.count(F.lit(1))), 6
        ).alias("overdue_rate"),
    )


_ORACLE_COHORT_CONV = """
WITH first_touch AS (
    SELECT user_id,
           (MIN({'t': ts, 'e': event_id, 'ty': event_type})).ty AS entry_type
    FROM events GROUP BY user_id
), purchasers AS (
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
)
SELECT f.entry_type,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(p.user_id) AS BIGINT) AS n_converted,
       ROUND(COUNT(p.user_id) * 1.0 / COUNT(*), 6) AS conversion_rate
FROM first_touch f LEFT JOIN purchasers p ON p.user_id = f.user_id
GROUP BY f.entry_type
ORDER BY f.entry_type
"""


@query("q_cohort_conversion", oracle=_ORACLE_COHORT_CONV)
def cohort_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion rate by FIRST-TOUCH cohort: what a user's very first
    event was vs whether they ever purchased — "which entry point
    converts?". First touch via lexicographic struct-min (the C91
    arg-extrema discipline: (ts, event_id) total order, so both
    engines pick the same event); the purchaser set is a distinct
    semi-join side; the rollup is entry-type-sized with exact integer
    ratios."""
    ev = load_table(spark, sf_dir, "events")
    first_touch = ev.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id", "event_type"))["event_type"].alias(
            "entry_type"
        )
    )
    purchasers = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    return (
        first_touch.join(purchasers, "user_id", "left")
        .groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.count("converted").cast("long").alias("n_converted"),
            F.round(F.count("converted") / F.count(F.lit(1)), 6).alias(
                "conversion_rate"
            ),
        )
        .orderBy("entry_type")
    )


# ---------------------------------------------------------------------------
# Batch session_window (round 5) — the declarative API twin of
# q_sessionize_gap: Spark's F.session_window() computes gap-bounded
# sessions as a native aggregation (the same operator Structured
# Streaming uses for session windows, here in batch mode). The manual
# lag/sum-flag/window pipeline above shows the portable SQL form;
# this one proves the engine-native form agrees with it — the oracle
# IS the gap-split formulation, so the two formulations are
# value-checked against each other through DuckDB.
#
# Semantics pinned: an event extends the session while its timestamp
# is STRICTLY within gap of the previous event (Spark merges windows
# that overlap; [t, t+g) does not overlap [t+g, ...)), and the
# reported session end is last_ts + gap (the window bound, not the
# last event). The oracle mirrors both choices.
#
# Scale: one shuffle keyed on user_id; the session merge is a sorted
# in-partition pass (MergingSessionsExec), no second exchange.
# ---------------------------------------------------------------------------

_SW_GAP_MIN = 15

_ORACLE_SESSION_WINDOW = f"""
WITH fl AS (
    SELECT user_id, ts,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     < INTERVAL {_SW_GAP_MIN} MINUTE
                THEN 0 ELSE 1 END AS is_new
    FROM events
),
num AS (
    SELECT user_id, ts,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sn
    FROM fl
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL {_SW_GAP_MIN} MINUTE AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM num
GROUP BY user_id, sn
ORDER BY user_id, session_start
"""


@query("q_session_window_batch", oracle=_ORACLE_SESSION_WINDOW)
def session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id",
            F.session_window("ts", f"{_SW_GAP_MIN} minutes").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )
