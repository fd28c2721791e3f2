"""Oracle-checked queries that run the REAL pipeline operators.

The domain operators (clean_hourly, build_daily_tmax) can't run on
the reference's weather data inside the driver's oracle harness — the
harness only has the synthetic tables. So we adapt `events` to the
hourly_obs shape (ts→ts_utc, user_id→station_id, value→temp_c) and
run the actual stage code, with DuckDB oracle SQL that restates the
stage semantics relationally. This puts dedup-keep-first, QC flag
propagation, OOR nullification, spike detection, and the daily
rollup'S validity/coverage/bit_or logic under the driver's
hash-compare gate — not just unit tests.

tmax_f and updated_at_utc are excluded from the daily query's output:
the former because 1-dp rounding of arbitrary-precision doubles is
engine-divergent (see plans/declared.py rounding note), the latter
because it is an injected wall-clock stamp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from temp_data_pipeline_spark.operators.clean_hourly import clean_hourly_obs
from temp_data_pipeline_spark.operators.daily_tmax import build_daily_tmax
from temp_data_pipeline_spark.plans.declared import QuerySpec, _rnd, _rnd_sql, registrar
from temp_data_pipeline_spark.sources.registry import load_table

PIPELINE_QUERIES: dict[str, QuerySpec] = {}
_register = registrar(PIPELINE_QUERIES)


def _events_as_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt events to the hourly_obs shape, keeping event_id as the
    deterministic keep-first tie-breaker (SURVEY §4 item 4)."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        F.col("event_id"),
        F.col("ts").alias("ts_utc"),
        F.col("user_id").cast("string").alias("station_id"),
        F.lit(None).cast("double").alias("lat"),
        F.lit(None).cast("double").alias("lon"),
        F.col("value").alias("temp_c"),
        F.lit("events").alias("source"),
        F.lit(0).cast("long").alias("qc_flags"),
    )


@_register(
    "q_pipeline_clean",
    ["D1", "P9", "P10", "P11", "W1"],
    """
    WITH dedup AS (
        SELECT * FROM (
            SELECT event_id, ts, user_id, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id) AS rn
            FROM events) WHERE rn = 1
    ), flagged AS (
        SELECT event_id, ts, user_id,
               CASE WHEN value IS NULL THEN 1 ELSE 0 END
               + CASE WHEN value < -90 OR value > 60 THEN 2 ELSE 0 END AS qc0,
               CASE WHEN value < -90 OR value > 60 THEN NULL ELSE value END AS v
        FROM dedup
    )
    SELECT CAST(user_id AS VARCHAR) AS station_id, ts AS ts_utc, v AS temp_c,
           CAST(qc0 + CASE WHEN ABS(v - LAG(v) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)) > 15.0
                THEN 4 ELSE 0 END AS BIGINT) AS qc_flags
    FROM flagged
    ORDER BY station_id, ts_utc
    """,
    note=(
        "Runs the actual clean_hourly_obs operator chain; oracle restates "
        "dedup→missing→OOR-nullify→spike as SQL. qc contributions are "
        "disjoint bits, so + ≡ bitwise OR."
    ),
)
def q_pipeline_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _events_as_hourly(spark, sf_dir)
    cleaned = clean_hourly_obs(
        hourly, tie_breaker="event_id", validate_input=False, validate_output=False
    )
    return cleaned.select("station_id", "ts_utc", "temp_c", "qc_flags").orderBy(
        "station_id", "ts_utc"
    )


@_register(
    "q_skew_agg",
    ("A1", "skew"),
    f"""
    SELECT event_type, COUNT(*) AS n,
           {_rnd_sql("SUM(value)")} AS total,
           {_rnd_sql("MAX(value)")} AS vmax
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    note=(
        "Salted two-stage aggregation (operators/skew.py): scatter over "
        "32 buckets, partial agg, merge — result identical to the plain "
        "GROUP BY the oracle runs; no reducer sees a whole hot key."
    ),
)
def q_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.skew import salted_agg

    e = load_table(spark, sf_dir, "events")
    out = salted_agg(
        e,
        ["event_type"],
        [("n", "*", "count"), ("total", "value", "sum"), ("vmax", "value", "max")],
        salt_buckets=32,
    )
    return out.select(
        "event_type", "n", _rnd(F.col("total")).alias("total"), _rnd(F.col("vmax")).alias("vmax")
    ).orderBy("event_type")


@_register(
    "q_pipeline_daily",
    ["A1", "A2", "A3", "F3", "F4", "F5", "F8"],
    """
    WITH dedup AS (
        SELECT * FROM (
            SELECT event_id, ts, user_id, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id) AS rn
            FROM events) WHERE rn = 1
    ), flagged AS (
        SELECT event_id, ts, user_id,
               CASE WHEN value IS NULL THEN 1 ELSE 0 END
               + CASE WHEN value < -90 OR value > 60 THEN 2 ELSE 0 END AS qc0,
               CASE WHEN value < -90 OR value > 60 THEN NULL ELSE value END AS v
        FROM dedup
    ), cleaned AS (
        SELECT *, qc0 + CASE WHEN ABS(v - LAG(v) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id)) > 15.0
                 THEN 4 ELSE 0 END AS qc
        FROM flagged
    ), daily AS (
        SELECT CAST(ts AS DATE) AS date_local,
               CAST(user_id AS VARCHAR) AS station_id,
               MAX(v) AS tmax_c,
               COUNT(DISTINCT CASE WHEN v IS NOT NULL
                     THEN EXTRACT(HOUR FROM ts) END) AS coverage_hours,
               CAST(BIT_OR(qc) AS BIGINT) AS flags
        FROM cleaned
        GROUP BY 1, 2
    )
    SELECT date_local, station_id, tmax_c, coverage_hours,
           CAST(flags + CASE WHEN coverage_hours = 0 THEN 32
                             WHEN coverage_hours < 18 THEN 16
                             ELSE 0 END AS BIGINT) AS qc_flags
    FROM daily WHERE tmax_c IS NOT NULL
    ORDER BY station_id, date_local
    """,
    note=(
        "clean → build_daily_tmax (tz=UTC so the oracle avoids ICU tz "
        "functions; per-station tz is covered by Spark-side golden "
        "tests). Validity = not-null AND not-OOR; spike-flagged rows "
        "included; coverage counts distinct valid hours; bit_or over all "
        "rows. Low/incomplete coverage flags are disjoint from hourly "
        "bits, so + ≡ OR."
    ),
)
def q_pipeline_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _events_as_hourly(spark, sf_dir)
    cleaned = clean_hourly_obs(
        hourly, tie_breaker="event_id", validate_input=False, validate_output=False
    )
    daily = build_daily_tmax(cleaned, station_tz="UTC", validate=False)
    return daily.select(
        "date_local", "station_id", "tmax_c", "coverage_hours", "qc_flags"
    ).orderBy("station_id", "date_local")
