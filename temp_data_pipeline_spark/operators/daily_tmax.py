"""Daily Tmax aggregation — the pipeline's first shuffle-bearing stage.

Re-expresses the reference aggregate stage
(`src/tempdata/aggregate/build_daily_tmax.py:39-122`) as one
`groupBy().agg()`:

    tz-convert → local date/hour → validity mask → group by
    (date_local, station_id): max(valid temp), countDistinct(valid
    hour), bit_or(qc_flags) → derived cols → coverage flags → drop
    null days

Semantic pins (each guarded by tests/test_daily_tmax.py, mirroring
the reference's `tests/test_build_daily_tmax.py`):
- validity: temp not null AND NOT out-of-range; spike-flagged rows
  ARE included (reference `:71-78`, pinned by its tests `:179-202`)
- coverage = count of DISTINCT valid local hours (sub-hourly obs
  count once; `:82-94`, tests `:434-491`)
- qc bit_or runs over ALL the day's rows, valid or not (`:92-96`)
- coverage==0 → |= QC_INCOMPLETE_DAY; 0<coverage<min → |=
  QC_LOW_COVERAGE (`:107-113`); then null-tmax days dropped (`:117`)
- tmax_f = round(c·9/5+32, 1) — plain Spark round here (1 dp on a
  value derived from float temps; not oracle-compared) (`:102`)
- updated_at_utc injected by caller for reproducible artifacts
  (reference uses wall-clock `now()`, `:105` — SURVEY §7.4 item 7)

Scale: ONE shuffle on (date_local, station_id) with map-side partial
aggregation — the distinct-hour count is computed as
`bit_count(bit_or(1 << hour))` (hours are 0..23, so the bitmask IS
the distinct set), where `countDistinct` would add Spark's second
two-phase-distinct exchange; per-station timezones via
`from_utc_timestamp(ts, tz_col)` keep multi-station frames in a
single query (the reference handles one tz per call). The output
checks, uniqueness on (date_local, station_id) included, are compiled
into the same plan (`schemas/validate.py::assert_rules`); the
uniqueness window reuses the aggregate's exchange. Plan pinned by
tests/test_multistation.py::test_one_shuffle_per_stage.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from temp_data_pipeline_spark.schemas import qc_flags as qc
from temp_data_pipeline_spark.schemas.tables import DAILY_TMAX_FIELDS
from temp_data_pipeline_spark.schemas.validate import (
    assert_rules,
    check_failure,
    daily_tmax_rules,
)

MIN_COVERAGE_HOURS = 18


def build_daily_tmax(
    hourly_df: DataFrame,
    station_tz: str | Column = "America/New_York",
    min_coverage_hours: int = MIN_COVERAGE_HOURS,
    updated_at_utc: _dt.datetime | None = None,
    source: str = "noaa_isd",
    validate: bool = True,
) -> DataFrame:
    """Aggregate hourly observations to daily Tmax.

    ``station_tz`` may be a literal tz string or a Column (e.g. from a
    broadcast-joined stations dim) — `from_utc_timestamp` accepts both,
    so one query serves stations in different time zones.

    ``validate`` compiles the daily-Tmax rules into the returned
    frame's plan: they run in the job that consumes it, not here.
    """
    tz = F.lit(station_tz) if isinstance(station_tz, str) else station_tz
    ts_local = F.from_utc_timestamp(F.col("ts_utc"), tz)

    is_valid = F.col("temp_c").isNotNull() & (
        F.col("qc_flags").bitwiseAND(qc.QC_OUT_OF_RANGE) == 0
    )

    prepared = hourly_df.select(
        F.to_date(ts_local).alias("date_local"),
        F.col("station_id"),
        F.when(is_valid, F.col("temp_c")).alias("temp_c_valid"),
        F.when(is_valid, F.hour(ts_local)).alias("hour_valid"),
        F.col("qc_flags"),
    )

    daily = prepared.groupBy("date_local", "station_id").agg(
        F.max("temp_c_valid").alias("tmax_c"),
        # count of DISTINCT valid hours, but hours live in 0..23, so
        # the exact distinct-count is bit_count(bit_or(1<<hour)) — one
        # plain map-side-combining aggregate. countDistinct would
        # expand to a second exchange on (date, station, hour)
        # (Spark's two-phase distinct), doubling the stage's shuffles.
        F.coalesce(
            F.bit_count(F.expr("bit_or(shiftleft(1L, hour_valid))")),
            F.lit(0),
        )
        .cast("long")
        .alias("coverage_hours"),
        F.expr("bit_or(qc_flags)").alias("qc_flags"),
    )

    stamp = updated_at_utc or _dt.datetime.now(_dt.timezone.utc)
    incomplete = F.col("coverage_hours") == 0
    low = (F.col("coverage_hours") < min_coverage_hours) & (F.col("coverage_hours") > 0)

    daily = (
        daily.withColumn("source", F.lit(source))
        .withColumn("tmax_f", F.round(F.col("tmax_c") * 9 / 5 + 32, 1))
        .withColumn("updated_at_utc", F.lit(stamp))
        .withColumn(
            "qc_flags",
            F.when(incomplete, F.col("qc_flags").bitwiseOR(qc.QC_INCOMPLETE_DAY))
            .when(low, F.col("qc_flags").bitwiseOR(qc.QC_LOW_COVERAGE))
            .otherwise(F.col("qc_flags")),
        )
        .filter(F.col("tmax_c").isNotNull())
        .select(*DAILY_TMAX_FIELDS)
    )
    if validate:
        daily = assert_rules(daily, daily_tmax_rules())
    return daily


def write_daily_tmax(daily_df: DataFrame, output_path: str, validate: bool = True) -> str:
    """Validated partitioned write, visible all at once (the reference
    writes tmp+rename per file, `build_daily_tmax.py:147-150`).

    The frame is written into a sibling staging dir, and the daily-Tmax
    rules run inside that write (``validate``; skipped when the frame
    already carries them from ``build_daily_tmax``). Only a write that
    passed replaces ``output_path``. A failed check deletes the staging
    dir, leaves the previous output as it was and raises
    ``SchemaValidationError``.
    """
    import uuid

    from temp_data_pipeline_spark.operators.versioned import _fs

    if validate and getattr(daily_df, "_sg_checked", None) != "daily_tmax":
        daily_df = assert_rules(daily_df, daily_tmax_rules())
    fs, jvm = _fs(daily_df.sparkSession, output_path)
    Path = jvm.org.apache.hadoop.fs.Path
    out = Path(output_path)
    staging = Path(f"{output_path.rstrip('/')}.tmp-{uuid.uuid4().hex[:12]}")
    try:
        (
            daily_df.withColumn("year", F.year("date_local"))
            .write.mode("errorifexists")
            .partitionBy("station_id", "year")
            .parquet(str(staging))
        )
    except Exception as exc:
        fs.delete(staging, True)
        report = check_failure(daily_df.sparkSession, exc)
        if report is None:
            raise
        raise report from exc
    if fs.exists(out):
        fs.delete(out, True)
    if not fs.rename(staging, out):
        raise OSError(f"could not move {staging} to {output_path}")
    return output_path
