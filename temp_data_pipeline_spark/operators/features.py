"""Training-set feature build: join + seasonal encodings + causal windows.

Re-expresses the reference feature stage
(`src/tempdata/features/build_train_daily_tmax.py:147-216` and
`features/rolling_stats.py`) as one lazy plan:

    truth coverage gate → broadcast inner join on
    (station_id, target_date_local == date_local) → residual →
    sin/cos/month → causal row windows over (station_id, lead_hours)

Causality invariant (the reference's signature semantics,
`rolling_stats.py:1-8`): every rolling feature excludes the current
row — pandas `shift(1).rolling(w)` ≙ Spark `rowsBetween(-w, -1)`.
ddof semantics: `sigma_lead` is pandas `.std()` (ddof=1) →
`stddev_samp` (SURVEY §4 item 2; crossing these silently changes
every calibration number).

Null semantics line up exactly without special cases:
- bias (min_periods=1): pandas yields NaN only when zero preceding
  rows; Spark `avg` over an empty frame is null. (`rolling_stats.py:50`)
- rmse (min_periods=1): same, sqrt(null) = null. (`:94`)
- sigma (min_periods=2): pandas needs ≥2 prior values; Spark
  `stddev_samp` over <2 rows is null. (`:132`)

Scale: the truth side is tiny (≤ a few k rows per station-decade) →
`broadcast(truth)`; the rows are hash-partitioned on station_id once,
which clusters both the rolling windows (station_id, lead_hours) and
the output's uniqueness check (station_id, issue_time_utc,
target_date_local, compiled into the plan by
`schemas/validate.py::assert_rules`), so a task holds a few station
series and neither window adds a shuffle. One shuffle for the window
stage and its checks; zero for the join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from temp_data_pipeline_spark.schemas.tables import TRAIN_DAILY_TMAX_FIELDS
from temp_data_pipeline_spark.schemas.validate import assert_rules, train_daily_tmax_rules

MIN_COVERAGE_HOURS = 18
ROLLING_COLS = ["bias_7d", "bias_14d", "bias_30d", "rmse_14d", "rmse_30d", "sigma_lead"]


def join_forecast_to_truth(
    forecast_df: DataFrame,
    truth_df: DataFrame,
    min_coverage_hours: int = MIN_COVERAGE_HOURS,
) -> DataFrame:
    """Inner join forecasts to coverage-gated truth + residual.

    Reference `build_train_daily_tmax.py:27-94`. The low-coverage gate
    is a pre-join filter on the truth side (NOT an anti-join). Truth
    columns are renamed (`tmax_f`→`tmax_actual_f`,
    `qc_flags`→`truth_qc_flags`) before the join so no ambiguity.
    """
    truth = (
        truth_df.filter(F.col("coverage_hours") >= min_coverage_hours)
        .select(
            "station_id",
            F.to_date("date_local").alias("target_date_local"),
            F.col("tmax_f").alias("tmax_actual_f"),
            F.col("qc_flags").alias("truth_qc_flags"),
        )
    )
    fc = forecast_df.withColumn("target_date_local", F.to_date("target_date_local"))
    joined = fc.join(F.broadcast(truth), ["station_id", "target_date_local"], "inner")
    return joined.withColumn("residual", F.col("tmax_pred_f") - F.col("tmax_actual_f"))


def add_seasonal_features(df: DataFrame, date_col: str = "target_date_local") -> DataFrame:
    """sin/cos day-of-year (365.25 wraparound) + month.

    Reference `build_train_daily_tmax.py:97-124`. NOTE the eval-side
    fallback uses 365 (`eval/data.py:212-213`) — that constant lives
    in eval/data.py here too; this is the 365.25 feature-build path.
    """
    doy = F.dayofyear(date_col).cast("double")
    two_pi = F.lit(2.0 * math.pi)
    return (
        df.withColumn("sin_doy", F.sin(two_pi * doy / F.lit(365.25)))
        .withColumn("cos_doy", F.cos(two_pi * doy / F.lit(365.25)))
        .withColumn("month", F.month(date_col))
    )


def add_rolling_features(
    df: DataFrame,
    residual_col: str = "residual",
    bias_windows: tuple[int, ...] = (7, 14, 30),
    rmse_windows: tuple[int, ...] = (14, 30),
    group_cols: tuple[str, ...] = ("station_id", "lead_hours"),
    order_cols: tuple[str, ...] = ("issue_time_utc",),
) -> DataFrame:
    """Causal rolling bias/RMSE + expanding σ (reference rolling_stats.py).

    All windows share ONE partitioning (group_cols, ordered by
    order_cols) → a single exchange feeds every feature column.
    """
    base = Window.partitionBy(*group_cols).orderBy(*[F.col(c) for c in order_cols])
    r = F.col(residual_col)
    out = df
    for w in bias_windows:
        out = out.withColumn(f"bias_{w}d", F.avg(r).over(base.rowsBetween(-w, -1)))
    for w in rmse_windows:
        out = out.withColumn(
            f"rmse_{w}d", F.sqrt(F.avg(r * r).over(base.rowsBetween(-w, -1)))
        )
    out = out.withColumn(
        "sigma_lead",
        F.stddev_samp(r).over(base.rowsBetween(Window.unboundedPreceding, -1)),
    )
    return out


def build_train_daily_tmax(
    forecast_df: DataFrame,
    truth_df: DataFrame,
    min_coverage_hours: int = MIN_COVERAGE_HOURS,
    drop_warmup_nulls: bool = False,
    validate: bool = True,
) -> DataFrame:
    """Full feature pipeline (reference build_train_daily_tmax.py:147-216).

    No explicit sort: ordering is carried by the window orderBy
    (the reference's `sort_values` at `:183` is a physical no-op here).
    ``validate`` compiles the training-table rules into the returned
    frame's plan: they run in the job that consumes it, not here.
    """
    df = join_forecast_to_truth(forecast_df, truth_df, min_coverage_hours)
    df = add_seasonal_features(df)
    # one exchange for every window below: hash(station_id) clusters
    # the rolling windows' (station_id, lead_hours) and the uniqueness
    # check's (station_id, issue_time_utc, target_date_local) alike
    df = df.withColumn("forecast_source", F.col("source")).repartition("station_id")
    df = add_rolling_features(df)
    df = df.withColumn("lead_hours", F.col("lead_hours").cast("long")).select(
        *TRAIN_DAILY_TMAX_FIELDS
    )
    if drop_warmup_nulls:
        df = df.na.drop(subset=ROLLING_COLS)
    if validate:
        df = assert_rules(df, train_daily_tmax_rules(allow_warmup_nulls=not drop_warmup_nulls))
    return df
