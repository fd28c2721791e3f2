"""Eval data loading: join → filters → ensure-features → split.

Reference `eval/data.py:51-237`. One lazy plan up to the split
numbering; the truth side of the join is broadcast (tiny). The
numbered frame is cached once: the empty-input check is the job that
fills that cache, and train, val and test are filters over it.

NOTE the reference quirk preserved on purpose: the eval-side seasonal
fallback uses 365 (`eval/data.py:212-213`) while the feature-build
stage uses 365.25 — if the input already carries sin_doy/cos_doy from
the feature stage they are kept, otherwise the 365 variant is added.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from temp_data_pipeline_spark.eval.config import EvalConfig
from temp_data_pipeline_spark.eval.splits import _numbered, _strip, create_split


class EvalDataset:
    """The filtered eval frame, numbered once (``numbered``, cached by
    ``load_eval_data``), and its splits as filters over it."""

    def __init__(self, numbered: DataFrame, conditions: tuple[Column, Column, Column]):
        self.numbered = numbered
        self.conditions = conditions
        self.train, self.val, self.test = (_strip(numbered.filter(c)) for c in conditions)
        self.full = _strip(numbered)

    def counts(self) -> dict[str, int]:
        """Split sizes in one aggregate over the numbered frame."""
        names = ("n_train", "n_val", "n_test")
        row = self.numbered.agg(
            *[F.count_if(c).alias(k) for k, c in zip(names, self.conditions)],
            F.count(F.lit(1)).alias("n_full"),
        ).first()
        return {k: int(row[k]) for k in (*names, "n_full")}


def join_forecast_truth(forecast_df: DataFrame, truth_df: DataFrame) -> DataFrame:
    """Inner join on (station_id, target_date_local); truth projected +
    deduped + broadcast (reference `eval/data.py:101-151`)."""
    truth_cols = ["station_id", "target_date_local", "tmax_actual_f"]
    truth = truth_df
    if "date_local" in truth.columns and "target_date_local" not in truth.columns:
        truth = truth.withColumn("target_date_local", F.to_date("date_local"))
    if "tmax_f" in truth.columns and "tmax_actual_f" not in truth.columns:
        truth = truth.withColumn("tmax_actual_f", F.col("tmax_f"))
    for opt in ("coverage_hours", "qc_flags"):
        if opt in truth.columns:
            truth_cols.append(opt)
    truth = truth.select(*truth_cols).dropDuplicates()
    fc = forecast_df.withColumn("target_date_local", F.to_date("target_date_local"))
    # drop forecast-side cols that would collide with truth extras
    for opt in ("coverage_hours", "qc_flags"):
        if opt in fc.columns:
            fc = fc.drop(opt)
    return fc.join(F.broadcast(truth), ["station_id", "target_date_local"], "inner")


def apply_filters(df: DataFrame, config: EvalConfig) -> DataFrame:
    """Station/date/coverage/lead/NaN filters (reference `eval/data.py:154-194`)."""
    out = df.filter(F.col("station_id").isin(config.station_ids)).filter(
        F.col("target_date_local").between(
            F.lit(config.start_date_local).cast("date"),
            F.lit(config.end_date_local).cast("date"),
        )
    )
    if "coverage_hours" in out.columns:
        out = out.filter(F.col("coverage_hours") >= config.min_coverage_hours)
    if config.lead_hours_allowed and "lead_hours" in out.columns:
        out = out.filter(F.col("lead_hours").isin(config.lead_hours_allowed))
    return out.na.drop(subset=[c for c in ("tmax_pred_f", "tmax_actual_f") if c in out.columns])


def ensure_features(df: DataFrame) -> DataFrame:
    """Add missing engineered features (reference `eval/data.py:197-237`).

    - sin/cos doy fallback with period 365 (NOT 365.25 — eval quirk)
    - month
    - zero-fill absent rolling columns
    - per-station lag1 of the label for the Persistence baseline
    """
    out = df
    if "sin_doy" not in out.columns or "cos_doy" not in out.columns:
        doy = F.dayofyear("target_date_local").cast("double")
        two_pi = F.lit(2.0 * math.pi)
        out = (
            out.withColumn("sin_doy", F.sin(two_pi * doy / F.lit(365.0)))
            .withColumn("cos_doy", F.cos(two_pi * doy / F.lit(365.0)))
            .withColumn("doy", F.dayofyear("target_date_local"))
        )
    if "month" not in out.columns:
        out = out.withColumn("month", F.month("target_date_local"))
    for col in ("bias_7d", "bias_14d", "rmse_30d", "sigma_lead"):
        if col not in out.columns:
            out = out.withColumn(col, F.lit(0.0))
    if "tmax_actual_f_lag1" not in out.columns and "tmax_actual_f" in out.columns:
        w = Window.partitionBy("station_id").orderBy("target_date_local")
        out = out.withColumn("tmax_actual_f_lag1", F.lag("tmax_actual_f", 1).over(w))
    return out


def load_eval_data(
    config: EvalConfig,
    forecast_df: DataFrame,
    truth_df: DataFrame,
    feature_df: DataFrame | None = None,
) -> EvalDataset:
    """Full eval-data pipeline (reference `eval/data.py:51-98`)."""
    df = feature_df if feature_df is not None else join_forecast_truth(forecast_df, truth_df)
    df = apply_filters(df, config)
    numbered = _numbered(ensure_features(df)).cache()
    if numbered.isEmpty():  # the one window pass, filling the cache
        numbered.unpersist()
        raise ValueError("No data remaining after filters.")
    return EvalDataset(numbered, create_split(config.split).conditions())
