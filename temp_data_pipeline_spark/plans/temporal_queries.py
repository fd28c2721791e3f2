"""Temporal-operator conformance queries (as-of join, sessions, range join).

These extend the reference's join surface (SURVEY.md §2.4 — inner
equi-joins only) with the three temporal operators a time-series /
event pipeline needs at scale.  Each is oracle-paired: DuckDB has a
native ``ASOF JOIN`` and full window SQL, so every query here gets
the strong hash-compare check.

Determinism notes:
- ``events`` has no duplicate (user_id, ts) pairs at any SF (checked),
  so the as-of match is unique; ``event_id`` tie-breaking is wired on
  the Spark side anyway for safety.
- Raw ``value`` doubles pass through unmodified on both sides — no
  float arithmetic, so exact equality holds without rounding.
- Timestamps are emitted as integer epoch-microseconds
  (``unix_micros`` ≡ DuckDB ``epoch_us``) to avoid tz/format drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from temp_data_pipeline_spark.operators.temporal import (
    asof_join,
    range_join,
    sessionize,
)
from temp_data_pipeline_spark.plans.declared import QuerySpec, registrar
from temp_data_pipeline_spark.sources.registry import load_table

TEMPORAL_QUERIES: dict[str, QuerySpec] = {}
_register = registrar(TEMPORAL_QUERIES)


@_register(
    "q_asof_join",
    ["extension-temporal", "J1"],
    """
    SELECT p.event_id,
           p.user_id,
           epoch_us(c.ts) AS click_ts_us,
           c.value AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts > c.ts
    ORDER BY p.event_id
    """,
    note=(
        "Attribution as-of join: each purchase matched to the user's "
        "latest strictly-earlier click. Spark side is the union+window "
        "single-shuffle plan (operators/temporal.py::asof_join); the "
        "oracle is DuckDB's native ASOF JOIN."
    ),
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value", F.col("event_id").alias("click_eid")
    )
    matched = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols={"value": "click_value"},
        direction="backward",
        strict=True,
        how="left",
        tie_break="click_eid",
    )
    return matched.select(
        "event_id",
        "user_id",
        F.unix_micros("ts_asof").alias("click_ts_us"),
        "click_value",
    ).orderBy("event_id")


@_register(
    "q_sessionize",
    ["extension-temporal", "W1", "A1"],
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS session_idx
      FROM flagged
    )
    SELECT user_id,
           CAST(session_idx AS BIGINT) AS session_idx,
           COUNT(*) AS n_events,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
    FROM sess
    GROUP BY user_id, session_idx
    ORDER BY user_id, session_idx
    """,
    note=(
        "Gap-based sessionization (30-min inactivity): lag + running "
        "sum assigns session ids in one shuffle, then a per-session "
        "rollup. Gap compare is integer-microsecond exact on both "
        "engines."
    ),
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    with_sessions = sessionize(
        events, key="user_id", ts="ts", gap_minutes=30.0, tie_break="event_id"
    )
    return (
        with_sessions.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
                "duration_us"
            ),
        )
        .orderBy("user_id", "session_idx")
    )


@_register(
    "q_range_join",
    ["extension-temporal", "J1"],
    """
    SELECT p.event_id, COUNT(e.event_id) AS n_next_hour
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN events e
      ON p.user_id = e.user_id
     AND e.ts >= p.ts
     AND e.ts < p.ts + INTERVAL 1 HOUR
    GROUP BY p.event_id
    ORDER BY p.event_id
    """,
    note=(
        "Bounded time-window join: activity within the hour after each "
        "purchase. Spark side buckets both sides by the window width "
        "so the inequality join becomes an equi-join on (user, bucket) "
        "+ exact filter (operators/temporal.py::range_join) — no "
        "nested-loop join at any scale. Self-match included (>= 0s)."
    ),
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    others = events.select("user_id", "ts", F.col("event_id").alias("eid"))
    pairs = range_join(
        purchases,
        others,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        lower_seconds=0.0,
        upper_seconds=3600.0,
        right_cols={"eid": "match_eid"},
    )
    return (
        pairs.groupBy("event_id")
        .agg(F.count("match_eid").alias("n_next_hour"))
        .orderBy("event_id")
    )


@_register(
    "q_session_window",
    ["extension-temporal", "A1"],
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts)) AS session_last_us,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    ORDER BY user_id, session_start_us
    """,
    note=(
        "Spark's NATIVE session operator (F.session_window) in batch "
        "form: dynamic-gap session assignment inside the aggregation "
        "operator itself — the same operator Structured Streaming uses "
        "with a watermark. Boundary semantics differ from sessionize(): "
        "the window is half-open, so a gap of EXACTLY the threshold "
        "starts a new session (oracle uses >=, q_sessionize uses >). "
        "window.end = last_event + gap, so the oracle pins min/max "
        "event times instead."
    ),
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            F.unix_micros(F.max("ts")).alias("session_last_us"),
        )
        .select("user_id", "session_start_us", "session_last_us", "n_events")
        .orderBy("user_id", "session_start_us")
    )


@_register(
    "q_asof_forward",
    ["extension-temporal", "J1"],
    """
    SELECT p.event_id,
           p.user_id,
           epoch_us(s.ts) AS next_signup_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND p.ts < s.ts
    ORDER BY p.event_id
    """,
    note=(
        "Forward as-of: each purchase matched to the user's EARLIEST "
        "strictly-later signup (next-event attribution). Same "
        "union+window plan scanned in reverse time order."
    ),
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = events.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("sig_eid")
    )
    matched = asof_join(
        purchases,
        signups,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols={"sig_eid": "next_signup_eid"},
        direction="forward",
        strict=True,
        how="left",
        tie_break="sig_eid",
    )
    return matched.select(
        "event_id",
        "user_id",
        F.unix_micros("ts_asof").alias("next_signup_us"),
    ).orderBy("event_id")


@_register(
    "q_gap_fill",
    ["extension-temporal", "W2"],
    """
    WITH src AS (
      SELECT user_id,
             CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) * 3600
               AS bucket, ts, value
      FROM events WHERE user_id % 10 = 0
    ), picked AS (
      SELECT user_id, bucket, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                                ORDER BY ts DESC, value DESC) AS rn
      FROM src
    ), per_bucket AS (
      SELECT user_id, bucket,
             COUNT(*) AS n_rows,
             MAX(CASE WHEN rn = 1 THEN value END) AS last_v
      FROM picked GROUP BY user_id, bucket
    ), bounds AS (
      SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi
      FROM per_bucket GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(range(lo, hi + 3600, 3600)) AS bucket
      FROM bounds
    )
    SELECT g.user_id,
           g.bucket AS bucket_start,
           CAST(COALESCE(p.n_rows, 0) AS BIGINT) AS n_rows,
           last_value(p.last_v IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
    FROM grid g LEFT JOIN per_bucket p
      ON g.user_id = p.user_id AND g.bucket = p.bucket
    ORDER BY g.user_id, g.bucket
    """,
    note=(
        "Hourly grid resample + forward fill per user (users sampled "
        "by id % 10): missing hours appear with n_rows=0 and the last "
        "observed value carried forward. Integer epoch-seconds buckets "
        "(unix_micros ≡ epoch_us) and raw value passthrough keep the "
        "compare float-arithmetic-free."
    ),
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.temporal import resample_fill

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    out = resample_fill(
        events, key_col="user_id", ts_col="ts", value_col="value", step_seconds=3600
    )
    return out.orderBy("user_id", "bucket_start")


@_register(
    "q_funnel",
    ["extension-temporal", "events"],
    """
    WITH t1 AS (
      SELECT user_id, MIN(ts) AS ts1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), t2 AS (
      SELECT e.user_id, MIN(e.ts) AS ts2
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.ts > t1.ts1
        AND e.ts <= t1.ts1 + INTERVAL 24 HOUR
      GROUP BY e.user_id
    ), t3 AS (
      SELECT e.user_id, MIN(e.ts) AS ts3
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.ts2
        AND e.ts <= t2.ts2 + INTERVAL 24 HOUR
      GROUP BY e.user_id
    )
    SELECT CAST(1 AS INT) AS step, 'view' AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users FROM t1
    UNION ALL SELECT 2, 'click', COUNT(*) FROM t2
    UNION ALL SELECT 3, 'purchase', COUNT(*) FROM t3
    ORDER BY step
    """,
    note=(
        "Ordered conversion funnel (view -> click -> purchase, each "
        "step within 24h of the previous step's earliest completion): "
        "per step one type-pruned groupBy(user) MIN + one user-keyed "
        "equi-join against the shrinking previous-step table — "
        "len(steps) passes, no cross product, per-user state is one "
        "timestamp (operators/temporal.py::funnel_counts)."
    ),
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.temporal import funnel_counts

    events = load_table(spark, sf_dir, "events")
    return funnel_counts(
        events, ["view", "click", "purchase"], within_hours=24
    ).orderBy("step")


@_register(
    "q_retention",
    ["extension-temporal", "events"],
    """
    WITH cohort AS (
      SELECT user_id, CAST(MIN(ts) AS DATE) AS c0
      FROM events GROUP BY user_id
    ), act AS (
      SELECT DISTINCT e.user_id, c.c0,
             datediff('day', c.c0, CAST(e.ts AS DATE)) AS offs
      FROM events e JOIN cohort c ON e.user_id = c.user_id
    )
    SELECT CAST(c0 AS VARCHAR) AS cohort_day,
           CAST(offs AS BIGINT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM act WHERE offs <= 7
    GROUP BY c0, offs ORDER BY cohort_day, day_offset
    """,
    note=(
        "Cohort retention triangle (first-activity day x day offset "
        "0..7, distinct user-days): cohort assignment and the "
        "activity join share one user-keyed exchange, then a tiny "
        "(cohort, offset) aggregation "
        "(operators/temporal.py::cohort_retention)."
    ),
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.temporal import cohort_retention

    events = load_table(spark, sf_dir, "events")
    return cohort_retention(events, max_offset_days=7).orderBy(
        "cohort_day", "day_offset"
    )
