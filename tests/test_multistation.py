"""Multi-station scale rehearsal (verdict r6 #5).

The reference pipeline (`src/tempdata/clean/clean_hourly.py`,
`aggregate/build_daily_tmax.py`, `features/build_train_daily_tmax.py`)
processes ONE station per call with one literal timezone. This
engine's stated advantage is running HUNDREDS of stations across
MIXED IANA zones in one frame (per-row `from_utc_timestamp(ts, tz)`,
`functions/scalars.py:46-76`) — rehearsed here end-to-end:

- 240 stations × 6 IANA zones (incl. a half-hour-offset zone) × 10
  days of hourly obs in ONE DataFrame, with per-station QC anomalies
  (duplicates, out-of-range, spikes, missing values) spread by
  station index so every QC path runs in the combined frame;
- per-station EQUALITY: the combined run's slice for a station is
  row-identical to a single-station run with its literal tz — the
  reference's semantics, preserved under consolidation;
- ONE data shuffle per stage: clean (shared station window), daily
  (group agg), features (shared rolling-window partitioning; the
  truth join is broadcast) — the plan shape that survives 1000×.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from temp_data_pipeline_spark.operators.clean_hourly import clean_hourly_obs
from temp_data_pipeline_spark.operators.daily_tmax import build_daily_tmax
from temp_data_pipeline_spark.operators.features import build_train_daily_tmax

N_STATIONS = 240
N_DAYS = 10
ZONES = [
    "America/New_York",
    "America/Los_Angeles",
    "Europe/Berlin",
    "Asia/Tokyo",
    "Asia/Kolkata",       # +05:30 — half-hour offset edge
    "Australia/Sydney",
]
STAMP = dt.datetime(2026, 2, 1, tzinfo=dt.timezone.utc)


def _tz_of(i: int) -> str:
    return ZONES[i % len(ZONES)]


def _hourly(spark, station_ids):
    """Deterministic hourly obs for the given stations, with
    per-station anomalies: every station gets one duplicate ts, and by
    index class one missing value (i%4==0), one out-of-range reading
    (i%4==1), one spike pair (i%4==2), or a clean series (i%4==3)."""
    rows = []
    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    for sid in station_ids:
        i = int(sid[1:])
        for h in range(24 * N_DAYS):
            ts = t0 + dt.timedelta(hours=h)
            temp = 10.0 + (i % 30) + 8.0 * ((h % 24) / 24.0)
            if i % 4 == 0 and h == 30:
                temp = None          # missing
            elif i % 4 == 1 and h == 31:
                temp = 99.0          # out of range
            elif i % 4 == 2 and h == 32:
                temp = temp + 20.0   # spike
            rows.append((ts, sid, 40.0, -70.0, temp, "noaa_isd", 0, h))
        # one exact-duplicate timestamp per station (later source tag —
        # keep-first must drop it)
        rows.append(
            (t0 + dt.timedelta(hours=5), sid, 40.0, -70.0, -5.0, "zdup", 0, 9999)
        )
    return spark.createDataFrame(
        rows,
        "ts_utc timestamp, station_id string, lat double, lon double, "
        "temp_c double, source string, qc_flags long, ingest_seq long",
    )


def _forecasts(spark, daily):
    """One synthetic forecast per (station, day): predicted = actual
    + deterministic offset, issued at local-midnight-minus-24h."""
    return daily.select(
        "station_id",
        (F.col("date_local").cast("timestamp") - F.expr("INTERVAL 24 HOURS")).alias(
            "issue_time_utc"
        ),
        F.col("date_local").alias("target_date_local"),
        (F.col("tmax_f") + (F.crc32(F.col("station_id")) % 5).cast("double") - 2.0).alias(
            "tmax_pred_f"
        ),
        F.lit(24).alias("lead_hours"),
        F.lit("synthetic").alias("source"),
    )


def _run_pipeline(spark, hourly, tz):
    """clean → daily → train features, exactly as a user would chain
    them; ``tz`` is a literal zone (single-station runs) or a stations
    DIMENSION frame (station_id, tz) broadcast-joined after the clean
    (the clean stage's output schema is the canonical hourly table,
    which carries no tz column)."""
    clean = clean_hourly_obs(hourly, tie_breaker="ingest_seq",
                             validate_input=False, validate_output=False)
    timed = clean
    tz_arg = tz
    if not isinstance(tz, str):
        timed = clean.join(F.broadcast(tz), "station_id")
        tz_arg = F.col("tz")
    daily = build_daily_tmax(
        timed, station_tz=tz_arg, updated_at_utc=STAMP, validate=False
    )
    fc = _forecasts(spark, daily)
    train = build_train_daily_tmax(fc, daily, validate=False)
    return clean, daily, train


@pytest.fixture(scope="module")
def combined(spark):
    sids = [f"S{i:03d}" for i in range(N_STATIONS)]
    hourly = _hourly(spark, sids)
    stations = spark.createDataFrame(
        [(s, _tz_of(int(s[1:]))) for s in sids], "station_id string, tz string"
    )
    clean, daily, train = _run_pipeline(spark, hourly, stations)
    return {
        "clean": clean.localCheckpoint(),
        "daily": daily.localCheckpoint(),
        "train": train.localCheckpoint(),
    }


def _rows(df, cols=None):
    cols = cols or df.columns
    return sorted(
        (tuple(r[c] for c in cols) for r in df.collect()), key=repr
    )


def test_combined_covers_all_stations_and_zones(spark, combined):
    assert combined["daily"].select("station_id").distinct().count() == N_STATIONS
    # every station contributes every full local day (boundary days may
    # be partial per zone, but no station drops out entirely)
    per_station = (
        combined["train"].groupBy("station_id").count().collect()
    )
    assert len(per_station) == N_STATIONS
    assert all(r["count"] >= N_DAYS - 2 for r in per_station)


@pytest.mark.parametrize("i", [0, 1, 2, 3, 4, 5, 10, 237])
def test_per_station_equality_with_single_station_run(spark, combined, i):
    """The combined multi-tz frame must reproduce the single-station
    runs row-for-row — stations spanning every zone and every QC
    anomaly class (dup / missing / out-of-range / spike)."""
    sid = f"S{i:03d}"
    single_hourly = _hourly(spark, [sid])
    _, s_daily, s_train = _run_pipeline(spark, single_hourly, _tz_of(i))
    c_daily = combined["daily"].filter(F.col("station_id") == sid)
    c_train = combined["train"].filter(F.col("station_id") == sid)
    assert _rows(c_daily) == _rows(s_daily)
    assert _rows(c_train) == _rows(s_train)


def test_one_shuffle_per_stage(spark):
    """The plan contract at 1000×: clean = ONE exchange (dedup and
    spike windows share the station_id partitioning), daily = ONE
    group-agg exchange, features = ONE rolling-window exchange (the
    truth join is broadcast, no data shuffle). With validation on,
    each stage's checks are in its plan and add no exchange: the
    uniqueness windows' keys contain the stage's shuffle key. Chained
    without a checkpoint, clean → daily is still one exchange."""
    sids = [f"S{i:03d}" for i in range(8)]
    hourly = _hourly(spark, sids)
    stations = spark.createDataFrame(
        [(s, _tz_of(int(s[1:]))) for s in sids], "station_id string, tz string"
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def one_shuffle(df, checked):
        p = plan(df)
        assert p.count("Exchange hashpartitioning") == 1
        assert ("raise_error" in p) == checked

    for validate in (False, True):
        clean = clean_hourly_obs(hourly, tie_breaker="ingest_seq",
                                 validate_input=False, validate_output=validate)
        one_shuffle(clean, validate)
        chained = build_daily_tmax(
            clean.join(F.broadcast(stations), "station_id"),
            station_tz=F.col("tz"), updated_at_utc=STAMP, validate=validate,
        )
        one_shuffle(chained, validate)
        clean_m = clean.localCheckpoint()
        daily = build_daily_tmax(
            clean_m.join(F.broadcast(stations), "station_id"),
            station_tz=F.col("tz"),
            updated_at_utc=STAMP, validate=validate,
        )
        one_shuffle(daily, validate)
        daily_m = daily.localCheckpoint()
        train = build_train_daily_tmax(
            _forecasts(spark, daily_m), daily_m, validate=validate
        )
        one_shuffle(train, validate)
        assert "BroadcastHashJoin" in plan(train)  # truth join never shuffles data
