"""Pipeline-stage checks compiled into the plan (schemas/validate.py).

Each table's rules are declared once (``TableRules``) and read by two
evaluators: ``check_rules`` (eager aggregate) and ``assert_rules``
(in the plan of the frame a stage returns). Pinned here:

- every declared rule raises by name in both forms;
- a violating stage output, run through ``commit_version``,
  ``write_daily_tmax`` or a plain ``write.parquet``, fails loudly; the
  two atomic sinks raise ``SchemaValidationError`` (rule name, ≤5
  sample rows), publish nothing, leave no staging dir, and the next
  write succeeds;
- the one-day clean → daily Tmax → commit shape runs at most 5 jobs.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from temp_data_pipeline_spark.operators.clean_hourly import clean_hourly_obs
from temp_data_pipeline_spark.operators.daily_tmax import build_daily_tmax, write_daily_tmax
from temp_data_pipeline_spark.operators.features import build_train_daily_tmax
from temp_data_pipeline_spark.operators.versioned import commit_version, read_version, versions
from temp_data_pipeline_spark.schemas import tables as T
from temp_data_pipeline_spark.schemas import validate as V

UTC = dt.timezone.utc
T0 = dt.datetime(2024, 7, 1, tzinfo=UTC)
D0 = dt.date(2024, 7, 1)

# one valid row per table; every rule's violating frame mutates it
GOOD = {
    "hourly_obs": (
        T.HOURLY_OBS_SCHEMA,
        (T0, "S1", 40.0, -70.0, 20.0, "src", 0),
        V.hourly_obs_rules,
    ),
    "daily_tmax": (
        T.DAILY_TMAX_SCHEMA,
        (D0, "S1", 20.0, 68.0, 24, "src", 0, T0),
        V.daily_tmax_rules,
    ),
    "daily_tmax_forecast": (
        T.DAILY_TMAX_FORECAST_SCHEMA,
        (
            "S1", 40.0, -70.0, T0, D0, 20.0, 68.0, 24, "m", "src", T0,
        ),
        V.daily_tmax_forecast_rules,
    ),
    "train_daily_tmax": (
        T.TRAIN_DAILY_TMAX_SCHEMA,
        (
            "S1", T0, D0, 68.0, 24, "src", 0.5, 0.5, 7,
            1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 69.0,
        ),
        lambda: V.train_daily_tmax_rules(allow_warmup_nulls=False),
    ),
}


def _nullable(schema: StructType) -> StructType:
    return StructType([StructField(f.name, f.dataType, True) for f in schema.fields])


def _violating(row: dict, rule: str) -> list[dict]:
    """Rows of the table that violate ``rule`` and no rule declared
    before it (the in-plan CASE raises the first rule a row breaks)."""
    kind, arg = re.match(r"(\w+)\[(.*)\]$", rule).groups()
    bad = dict(row)
    if kind == "unique":
        return [row, row]
    if kind == "no_nulls":
        bad[arg] = None
    elif kind == "nonnegative":
        bad[arg] = -1
    elif kind == "range":
        col, hi = re.match(r"(\w+)∈\[[^,]+,([^\]]+)\]$", arg).groups()
        bad[col] = type(row[col])(float(hi)) + 1
    elif kind == "close":
        col = arg.split("≈")[0]
        bad[col] = row[col] + 1.0
    else:
        raise AssertionError(f"no violating row for {rule}")
    return [bad]


@pytest.mark.parametrize("table", sorted(GOOD))
def test_every_declared_rule_raises_by_name(spark, table):
    schema, values, make = GOOD[table]
    rules = make()
    row = dict(zip(schema.fieldNames(), values))
    cols = schema.fieldNames()

    def frame(rows):
        return spark.createDataFrame([tuple(r[c] for c in cols) for r in rows], _nullable(schema))

    good = frame([row])
    V.check_rules(good, rules)
    assert V.assert_rules(good, rules).count() == 1
    # eager: one aggregate names every failing row rule
    names = [n for n, _ in rules.checks]
    with pytest.raises(V.SchemaValidationError) as eager:
        V.check_rules(frame([b for n in names for b in _violating(row, n)]), rules)
    assert eager.value.dataset == table and eager.value.rule == names[0]
    assert f"{len(names)} rule(s) failed" in str(eager.value)
    assert all(f"{n} (" in str(eager.value) for n in names)
    # in plan: each row rule raises by name (no window: one cheap job)
    row_rules = dataclasses.replace(rules, unique=())
    for name in names:
        with pytest.raises(Exception, match=re.escape(f"[{table}] rule '{name}' failed")):
            V.assert_rules(frame(_violating(row, name)), row_rules).collect()
    # uniqueness, both forms
    unique = V.unique_rule(rules.unique)
    dup = frame(_violating(row, unique))
    with pytest.raises(V.SchemaValidationError) as eager:
        V.check_rules(dup, rules)
    assert eager.value.rule == unique and len(eager.value.samples) == 1
    with pytest.raises(Exception, match=re.escape(f"[{table}] rule '{unique}' failed")):
        V.assert_rules(dup, rules).collect()


# -- failure paths through each consumer --------------------------------


def _hourly(spark, lat=40.0, temp=20.0, n_bad=0, stations=8):
    """24 hours per station; the first ``n_bad`` stations read ``lat``
    and ``temp`` at hour 5."""
    rows = []
    for s in range(stations):
        for h in range(24):
            bad = s < n_bad and h == 5
            rows.append((
                T0 + dt.timedelta(hours=h), f"S{s}",
                lat if bad else 40.0, -70.0, temp if bad else 20.0 + h / 10, "src", 0,
            ))
    return spark.createDataFrame(rows, T.HOURLY_OBS_SCHEMA)


def _stage_output(spark, table: str, bad: bool):
    """(frame, rule) for one table's stage output; ``bad`` breaks
    ``rule`` on 8 rows."""
    if table == "hourly_obs":
        # validate_input=False: the bad lat reaches the output check
        hourly = _hourly(spark, lat=95.0, n_bad=8 if bad else 0)
        return clean_hourly_obs(hourly, validate_input=False), "range[lat∈[-90,90]]"
    if table == "daily_tmax":
        # an unflagged 70 °C reading is a valid hour for the daily
        # stage and a tmax_c outside the table's range
        hourly = _hourly(spark, temp=70.0, n_bad=8 if bad else 0)
        return build_daily_tmax(hourly, updated_at_utc=T0), "range[tmax_c∈[-90,60]]"
    issue = dt.datetime(2024, 6, 30, 12, tzinfo=UTC)
    fc = spark.createDataFrame(
        [
            ("S1", 40.0, -70.0, issue + dt.timedelta(days=i), D0 + dt.timedelta(days=i),
             20.0, None if bad and i < 8 else 68.0, 24, "m", "src", issue)
            for i in range(10)
        ],
        _nullable(T.DAILY_TMAX_FORECAST_SCHEMA),
    )
    truth = spark.createDataFrame(
        [(D0 + dt.timedelta(days=i), "S1", 20.0, 68.0, 24, "src", 0, T0) for i in range(10)],
        T.DAILY_TMAX_SCHEMA,
    )
    return build_train_daily_tmax(fc, truth), "no_nulls[tmax_pred_f]"


def _assert_report(err, table, rule):
    assert isinstance(err, V.SchemaValidationError)
    assert err.dataset == table and err.rule == rule
    assert rule in str(err)
    assert 1 <= len(err.samples) <= 5


CASES = [
    (table, sink)
    for table in ("hourly_obs", "daily_tmax", "train_daily_tmax")
    for sink in ("commit_version", "write_daily_tmax", "write.parquet")
    # write_daily_tmax takes daily-shaped frames: the hourly case
    # reaches it through the daily stage
    if not (table == "train_daily_tmax" and sink == "write_daily_tmax")
]


@pytest.mark.parametrize("table,sink", CASES)
def test_violating_stage_output_publishes_nothing(spark, tmp_path, table, sink):
    good, rule = _stage_output(spark, table, bad=False)
    bad, _ = _stage_output(spark, table, bad=True)
    if sink == "write_daily_tmax" and table == "hourly_obs":
        good = build_daily_tmax(good, updated_at_utc=T0)
        bad = build_daily_tmax(bad, updated_at_utc=T0)
    out = str(tmp_path / "out")

    if sink == "commit_version":
        assert commit_version(good, out) == 1
        with pytest.raises(V.SchemaValidationError) as ei:
            commit_version(bad, out)
        _assert_report(ei.value, table, rule)
        assert versions(spark, out) == [1]
        assert not [d for d in os.listdir(out) if d.startswith(".tmp-") or d == "v=2"]
        assert commit_version(good, out) == 2
        assert read_version(spark, out).count() == good.count()
    elif sink == "write_daily_tmax":
        write_daily_tmax(good, out)
        n = spark.read.parquet(out).count()
        with pytest.raises(V.SchemaValidationError) as ei:
            write_daily_tmax(bad, out)
        _assert_report(ei.value, table, rule)
        assert spark.read.parquet(out).count() == n  # the previous output stands
        assert sorted(os.listdir(tmp_path)) == ["out"]  # no staging sibling
        write_daily_tmax(good, out)
        assert spark.read.parquet(out).count() == n
    else:
        with pytest.raises(Exception) as ei:
            bad.write.parquet(out)
        assert f"[{table}] rule '{rule}' failed" in str(ei.value)
        assert not os.path.exists(os.path.join(out, "_SUCCESS"))
        good.write.mode("overwrite").parquet(out)
        assert os.path.exists(os.path.join(out, "_SUCCESS"))


def test_report_follows_an_upstream_check(spark):
    """When re-checking a stage's frame for the report trips an
    upstream stage's check (both stages had bad rows, and the
    downstream one aborted the job first), the report is the upstream
    stage's. An unknown check reports the row its message carries."""
    clean = clean_hourly_obs(_hourly(spark, lat=95.0, n_bad=8), validate_input=False)
    build_daily_tmax(clean, updated_at_utc=T0)
    daily_check = next(reversed(V._checked(spark)))
    msg = "[daily_tmax] rule '{}' failed (stage check #{}) on row {{\"k\":1}}"
    report = V.check_failure(spark, RuntimeError(msg.format("x", daily_check)))
    _assert_report(report, "hourly_obs", "range[lat∈[-90,90]]")
    report = V.check_failure(spark, RuntimeError(msg.format("y", "0")))
    _assert_report(report, "daily_tmax", "y")
    assert report.samples == ['{"k":1}']
    assert V.check_failure(spark, RuntimeError("disk full")) is None


def test_one_day_pipeline_commit_job_count(spark, tmp_path):
    """The benchmark's one-day shape (generated hourly obs → clean →
    stations join → daily Tmax → metadata append) runs 5 jobs: the
    eager input check (2) and the commit's write (3). The stage checks
    ride the write; checking each stage eagerly ran 17."""
    from perfbench import gen

    n = 5
    start = dt.date(2024, 1, 1)
    path = str(tmp_path / "daily")
    stations = gen.stations(spark, n)
    v = commit_version(gen.daily_rows(spark, 1, n, start, 2), path)
    sc = spark.sparkContext
    group = f"stage-checks-{os.getpid()}-{id(tmp_path)}"
    sc.setJobGroup(group, "one-day pipeline")
    try:
        hourly = gen.hourly_obs(spark, 3, n, start + dt.timedelta(days=2), 1)
        clean = clean_hourly_obs(hourly, tie_breaker="ingest_seq")
        tz = clean.join(F.broadcast(stations.select("station_id", "tz")), "station_id")
        daily = build_daily_tmax(
            tz, station_tz=F.col("tz"), updated_at_utc=gen.UPDATED_AT, source="synthetic"
        )
        v = commit_version(daily, path, carry_from=v)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert v == 2
    assert jobs <= 5, jobs
    assert read_version(spark, path).filter(F.col("date_local") == start + dt.timedelta(days=2)).count() == n
