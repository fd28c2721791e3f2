"""Clean hourly observations — one lazy DataFrame chain, no sorts.

Re-expresses the reference's clean stage
(`src/tempdata/clean/clean_hourly.py:220-280`) Spark-first:

    dedup keep-first → flag missing → flag+nullify out-of-range
    → flag spikes

The reference materializes a sort (`clean_hourly.py:257`) and then
runs four sequential pandas passes. Here the whole stage is a single
logical plan: the only physical exchange is ONE shuffle on
`station_id` that both the dedup window and the spike-lag window
share (same partition key → Catalyst reuses the exchange). Ordering
is carried by window `orderBy`, never a global sort. The output checks
(`schemas/validate.py::assert_rules`) are part of the same plan: no
validation query of their own, no second exchange.

Scale: partitioned by station; each station-partition holds ≤ a few
hundred k rows/decade, so no skew mitigation is needed. Works
identically on a 1000-executor cluster — nothing touches the driver.

Semantics (pinned by tests/test_clean_hourly.py, mirroring the
reference's tests):
- dedup: keep FIRST occurrence per (ts_utc, station_id). Pandas
  "first" = input file order; Spark has no stable input order, so the
  caller provides `tie_breaker` (default: `ingest_seq` if present,
  else the source column) — reference `clean_hourly.py:40-62`.
- missing: temp_c null → |= QC_MISSING_VALUE (`:65-82`)
- out-of-range: temp outside [-90, 60] → |= QC_OUT_OF_RANGE and
  temp := NULL (`:85-114`)
- spike: |temp − lag(temp)| > 15 per station in ts order, computed
  AFTER nullify so null deltas never flag (`:117-142`; pandas diff
  over NaN → NaN → no flag, Spark null comparison → false → same)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from temp_data_pipeline_spark.schemas import qc_flags as qc
from temp_data_pipeline_spark.schemas.tables import HOURLY_OBS_FIELDS
from temp_data_pipeline_spark.schemas.validate import (
    assert_rules,
    hourly_obs_rules,
    validate_hourly_obs,
)

TEMP_MIN_C = -90.0
TEMP_MAX_C = 60.0
SPIKE_THRESHOLD_C = 15.0


def dedupe_hourly(df: DataFrame, tie_breaker: str | None = None) -> DataFrame:
    """Keep-first dedup on (ts_utc, station_id), expressed as a lag
    window over station_id alone: in (ts_utc, tie_breaker) order, a
    row is a duplicate iff the previous row has the same ts_utc.

    Same result as row_number over (station_id, ts_utc), but the
    partition key now matches the spike-lag window's, so the whole
    clean stage runs on ONE exchange (asserted by tests/test_plans.py
    — a (station_id, ts_utc)-keyed dedup window would force a second
    shuffle of the full table).

    The dropped duplicates are flagged QC_DUPLICATE_TS in the
    reference and then immediately removed (`clean_hourly.py:54-62`),
    so flagging them has no downstream effect — we drop directly.
    """
    order = [F.col(tie_breaker)] if tie_breaker and tie_breaker in df.columns else [F.col("source")]
    w = Window.partitionBy("station_id").orderBy(F.col("ts_utc"), *order)
    return (
        df.withColumn("_prev_ts", F.lag("ts_utc", 1).over(w))
        .filter(F.col("_prev_ts").isNull() | (F.col("_prev_ts") != F.col("ts_utc")))
        .drop("_prev_ts")
    )


def flag_missing_values(df: DataFrame) -> DataFrame:
    missing = F.col("temp_c").isNull()
    return df.withColumn(
        "qc_flags",
        F.when(missing, F.col("qc_flags").bitwiseOR(qc.QC_MISSING_VALUE)).otherwise(
            F.col("qc_flags")
        ),
    )


def flag_out_of_range(
    df: DataFrame, temp_min: float = TEMP_MIN_C, temp_max: float = TEMP_MAX_C
) -> DataFrame:
    oor = (F.col("temp_c") < temp_min) | (F.col("temp_c") > temp_max)
    return df.withColumn(
        "qc_flags",
        F.when(oor, F.col("qc_flags").bitwiseOR(qc.QC_OUT_OF_RANGE)).otherwise(
            F.col("qc_flags")
        ),
    ).withColumn("temp_c", F.when(oor, F.lit(None).cast("double")).otherwise(F.col("temp_c")))


def flag_spikes(df: DataFrame, threshold: float = SPIKE_THRESHOLD_C) -> DataFrame:
    """Hour-to-hour spike detect per station (reference diffs the whole
    sorted single-station frame; partitioning by station generalizes)."""
    w = Window.partitionBy("station_id").orderBy("ts_utc")
    delta = F.abs(F.col("temp_c") - F.lag("temp_c", 1).over(w))
    return df.withColumn(
        "qc_flags",
        F.when(delta > threshold, F.col("qc_flags").bitwiseOR(qc.QC_SPIKE_DETECTED)).otherwise(
            F.col("qc_flags")
        ),
    )


def clean_hourly_obs(
    df: DataFrame,
    tie_breaker: str | None = None,
    validate_input: bool = True,
    validate_output: bool = True,
) -> DataFrame:
    """Full clean stage as one lazy chain (reference clean_hourly.py:220-280).

    Input validation is eager and skips uniqueness (dedup is this
    stage's job): a bad input raises ``SchemaValidationError`` here,
    at call time. Output validation, uniqueness included, is compiled
    into the returned frame's plan (``assert_rules``): the job that
    consumes it checks every row, and the uniqueness window rides the
    station_id exchange the dedup and spike windows already share.
    """
    if validate_input:
        validate_hourly_obs(df, check_unique=False, check_temp_range=False)
    out = dedupe_hourly(df, tie_breaker)
    out = flag_missing_values(out)
    out = flag_out_of_range(out)
    out = flag_spikes(out)
    out = out.select(*[c for c in HOURLY_OBS_FIELDS if c in out.columns])
    if validate_output:
        out = assert_rules(out, hourly_obs_rules())
    return out
