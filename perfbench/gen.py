"""Seeded input generators for the benchmark.

Every value is a pure function of ``(seed, row id)`` through
``xxhash64``, never of partitioning or scheduling, so the same seed
writes the same rows on any core count. Temperatures are quantized to
0.1 degC: ``tmax_f = round(c * 9 / 5 + 32, 1)`` then never lands on a
rounding tie, so the pandas oracle and Spark agree bit for bit.
"""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TIME_ZONES = (
    "America/New_York",
    "America/Chicago",
    "America/Denver",
    "America/Los_Angeles",
)
LEADS = (24, 48, 72)
UPDATED_AT = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)

# anomaly shares of the hourly input
P_NULL = 0.01
P_OUT_OF_RANGE = 0.005
P_SPIKE = 0.003
P_DUPLICATE = 0.02


def uniform(seed: int, salt: str, *cols) -> Column:
    """A [0, 1) double that depends only on (seed, salt, cols)."""
    h = F.xxhash64(F.lit(seed), F.lit(salt), *cols)
    return F.pmod(h, F.lit(1 << 40)).cast("double") / float(1 << 40)


def _pick(values, idx: Column) -> Column:
    """``values[idx % len(values)]`` as a column."""
    return F.element_at(F.array(*[F.lit(v) for v in values]), (idx % len(values)).cast("int") + 1)


def station_id(idx: Column) -> Column:
    return F.format_string("S%03d", idx)


def stations(spark: SparkSession, n: int) -> DataFrame:
    idx = F.col("id")
    return spark.range(0, n, 1, 1).select(
        station_id(idx).alias("station_id"),
        _pick(TIME_ZONES, idx).alias("tz"),
        (30.0 + (idx * 7) % 20 + 0.5).alias("lat"),
        (-120.0 + (idx * 13) % 40 + 0.25).alias("lon"),
    )


def _climate_c(st: Column, doy: Column, local_hour: Column, noise: Column) -> Column:
    """Seasonal + diurnal temperature with station offset, in degC."""
    season = -14.0 * F.cos(F.lit(2.0 * math.pi) * (doy - 15) / 365.25)
    diurnal = 5.0 * F.sin(F.lit(2.0 * math.pi) * (local_hour - 9) / 24.0)
    return 12.0 + (st % 7) + season + diurnal + noise


def hourly_obs(
    spark: SparkSession, seed: int, n_stations: int, start: dt.date, n_days: int
) -> DataFrame:
    """Hourly observations for ``n_stations`` x local days
    ``[start, start + n_days)``: every station reports the 24 local
    hours of each day (DST days keep 24 rows), plus duplicates with a
    later ``ingest_seq`` and a different reading, nulls, out-of-range
    readings and spikes."""
    per_station = n_days * 24
    idx = F.col("id")
    st = F.floor(idx / per_station).cast("long")
    h = idx % per_station
    tz = _pick(TIME_ZONES, st)
    local = F.timestamp_seconds(
        F.lit(int(dt.datetime(start.year, start.month, start.day, tzinfo=dt.timezone.utc).timestamp()))
        + h * 3600
    )
    base = spark.range(0, n_stations * per_station).select(
        idx.alias("id"),
        st.alias("st"),
        F.to_utc_timestamp(local, tz).alias("ts_utc"),
        F.dayofyear(local).alias("doy"),
        F.hour(local).alias("lh"),
    )
    noise = 3.0 * (uniform(seed, "n1", idx) + uniform(seed, "n2", idx) - 1.0)
    raw = F.round(_climate_c(F.col("st"), F.col("doy"), F.col("lh"), noise), 1)
    a = uniform(seed, "anomaly", idx)
    temp = (
        F.when(a < P_NULL, F.lit(None).cast("double"))
        .when(a < P_NULL + P_OUT_OF_RANGE, F.when(raw > 0, raw + 70.0).otherwise(raw - 95.0))
        .when(
            a < P_NULL + P_OUT_OF_RANGE + P_SPIKE,
            F.when(raw < 30, raw + 18.0).otherwise(raw - 18.0),
        )
        .otherwise(raw)
    )
    obs = base.select(
        F.col("id"),
        F.col("ts_utc"),
        station_id(F.col("st")).alias("station_id"),
        (30.0 + (F.col("st") * 7) % 20 + 0.5).alias("lat"),
        (-120.0 + (F.col("st") * 13) % 40 + 0.25).alias("lon"),
        temp.alias("temp_c"),
        F.lit("synthetic").alias("source"),
        F.lit(0).cast("long").alias("qc_flags"),
        (idx * 2).alias("ingest_seq"),
    )
    # late duplicates: same (station, ts), later ingest, another reading
    dups = obs.filter(uniform(seed, "dup", F.col("id")) < P_DUPLICATE).select(
        "id",
        "ts_utc",
        "station_id",
        "lat",
        "lon",
        F.round(F.coalesce(F.col("temp_c"), F.lit(10.0)) + 1.5, 1).alias("temp_c"),
        "source",
        "qc_flags",
        (F.col("ingest_seq") + 1).alias("ingest_seq"),
    )
    return obs.unionByName(dups).drop("id")


def forecasts(
    spark: SparkSession, seed: int, n_stations: int, start: dt.date, n_days: int
) -> DataFrame:
    """Daily Tmax forecasts at three leads for every station-day."""
    nl = len(LEADS)
    idx = F.col("id")
    st = F.floor(idx / (n_days * nl)).cast("long")
    d = F.floor((idx % (n_days * nl)) / nl).cast("int")
    lead = _pick(LEADS, idx).cast("long")
    target = F.date_add(F.lit(start), d)
    noise = 2.0 * (uniform(seed, "f1", idx) + uniform(seed, "f2", idx) - 1.0)
    pred_c = F.round(
        _climate_c(st, F.dayofyear(target), F.lit(15), noise) + (lead / 24 - 2) * 0.4, 1
    )
    return spark.range(0, n_stations * n_days * nl).select(
        station_id(st).alias("station_id"),
        (30.0 + (st * 7) % 20 + 0.5).alias("lat"),
        (-120.0 + (st * 13) % 40 + 0.25).alias("lon"),
        F.timestamp_seconds(F.unix_seconds(F.to_timestamp(target)) - lead * 3600).alias(
            "issue_time_utc"
        ),
        target.alias("target_date_local"),
        pred_c.alias("tmax_pred_c"),
        F.round(pred_c * 9 / 5 + 32, 1).alias("tmax_pred_f"),
        lead.alias("lead_hours"),
        F.lit("synthetic_nwp").alias("model"),
        F.lit("synthetic").alias("source"),
        F.lit(UPDATED_AT).alias("ingested_at_utc"),
    )


def daily_rows(
    spark: SparkSession, seed: int, n_stations: int, start: dt.date, n_days: int, salt: str = "d"
) -> DataFrame:
    """Daily-Tmax rows (table schema) generated directly, for tables
    whose history is not the benchmark's subject."""
    idx = F.col("id")
    st = F.floor(idx / n_days).cast("long")
    d = (idx % n_days).cast("int")
    day = F.date_add(F.lit(start), d)
    noise = 3.0 * (uniform(seed, salt + "1", idx) + uniform(seed, salt + "2", idx) - 1.0)
    tmax_c = F.round(_climate_c(st, F.dayofyear(day), F.lit(15), noise), 1)
    return spark.range(0, n_stations * n_days).select(
        day.alias("date_local"),
        station_id(st).alias("station_id"),
        tmax_c.alias("tmax_c"),
        F.round(tmax_c * 9 / 5 + 32, 1).alias("tmax_f"),
        (20 + (F.pmod(F.xxhash64(F.lit(seed), F.lit(salt + "c"), idx), F.lit(5)))).cast("long").alias("coverage_hours"),
        F.lit("synthetic").alias("source"),
        F.lit(0).cast("long").alias("qc_flags"),
        F.lit(UPDATED_AT).alias("updated_at_utc"),
    )
