"""Evaluation metrics as grouped aggregates (reference eval/metrics.py).

Every model's predictions are stacked into one frame keyed by its
index in the run (`MODEL`, see `stack_models`), and a metric family is
ONE aggregate grouped by model (`grouped_by_model`): the runner
evaluates all models in one pass, and `compute_forecast_metrics` /
`compute_calibration_metrics` are the one-model case of the same
aggregate. No driver-side arrays. ddof pins (SURVEY §4 item 2):
std_error uses np.std semantics → `stddev_pop`.

scipy isn't available here; `norm_ppf` uses exact precomputed z for
the standard levels and Acklam's rational approximation (public
algorithm, |rel err| < 1.15e-9) for arbitrary levels — well below the
4-decimal rounding of every reported metric.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

# a stacked frame's model column: the model's index in the run
MODEL = "_model"
DEFAULT_COVERAGE_LEVELS = (0.50, 0.80, 0.90)

# z = norm.ppf(1 - (1-level)/2) for the reference's coverage levels
_Z_TABLE = {
    0.50: 0.6744897501960817,
    0.80: 1.2815515655446004,
    0.90: 1.6448536269514722,
    0.95: 1.959963984540054,
    0.99: 2.5758293035489004,
}


def norm_ppf(p: float) -> float:
    """Inverse standard-normal CDF (Acklam's approximation)."""
    if not 0.0 < p < 1.0:
        raise ValueError("p must be in (0, 1)")
    a = (-3.969683028665376e01, 2.209460984245205e02, -2.759285104469687e02,
         1.383577518672690e02, -3.066479806614716e01, 2.506628277459239e00)
    b = (-5.447609879822406e01, 1.615858368580409e02, -1.556989798598866e02,
         6.680131188771972e01, -1.328068155288572e01)
    c = (-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e00,
         -2.549732539343734e00, 4.374664141464968e00, 2.938163982698783e00)
    d = (7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e00,
         3.754408661907416e00)
    plow, phigh = 0.02425, 1 - 0.02425
    if p < plow:
        q = math.sqrt(-2 * math.log(p))
        return (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1
        )
    if p > phigh:
        q = math.sqrt(-2 * math.log(1 - p))
        return -(((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1
        )
    q = p - 0.5
    r = q * q
    return (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]) * q / (
        ((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1
    )


def z_for_level(level: float) -> float:
    return _Z_TABLE.get(round(level, 2), None) or norm_ppf(1 - (1 - level) / 2)


@dataclass
class ForecastMetrics:
    n_samples: int
    mae: float
    rmse: float
    bias: float
    std_error: float
    r2: float | None = None

    def to_dict(self) -> dict[str, Any]:
        d = {
            "n_samples": self.n_samples,
            "mae": round(self.mae, 4),
            "rmse": round(self.rmse, 4),
            "bias": round(self.bias, 4),
            "std_error": round(self.std_error, 4),
        }
        if self.r2 is not None:
            d["r2"] = round(self.r2, 4)
        return d


@dataclass
class CalibrationMetrics:
    coverage_50: float
    coverage_80: float
    coverage_90: float
    mean_sigma: float
    sharpness_50: float
    sharpness_80: float
    sharpness_90: float

    def to_dict(self) -> dict[str, Any]:
        return {k: round(v, 4) for k, v in self.__dict__.items()}


@dataclass
class EvalMetrics:
    forecast: ForecastMetrics
    calibration: CalibrationMetrics | None = None
    slices: dict[str, dict] = field(default_factory=dict)

    def to_dict(self) -> dict[str, Any]:
        out: dict[str, Any] = {"forecast": self.forecast.to_dict()}
        if self.calibration is not None:
            out["calibration"] = self.calibration.to_dict()
        if self.slices:
            out["slices"] = self.slices
        return out


def stack_models(frames: list[DataFrame]) -> DataFrame:
    """One frame of every model's rows, ``frames[i]`` tagged ``MODEL = i``."""
    return reduce(
        DataFrame.unionByName,
        [f.withColumn(MODEL, F.lit(i)) for i, f in enumerate(frames)],
    )


def forecast_metric_aggs() -> list[Column]:
    """MAE/RMSE/bias/std/R² inputs (see ``_metrics_from_row``)."""
    e = (F.col("y_pred_f") - F.col("y_true_f")).cast("double")
    y = F.col("y_true_f").cast("double")
    return [
        F.count(F.lit(1)).alias("n_samples"),
        F.avg(F.abs(e)).alias("mae"),
        F.sqrt(F.avg(e * e)).alias("rmse"),
        F.avg(e).alias("bias"),
        F.stddev_pop(e).alias("std_error"),
        F.sum(e * e).alias("_ss_res"),
        F.var_pop(y).alias("_var_y"),
    ]


def calibration_aggs(levels=DEFAULT_COVERAGE_LEVELS) -> list[Column]:
    """Gaussian PI coverage + sharpness for ALL levels (reference
    metrics.py:141-197 loops levels over numpy arrays)."""
    y, mu, sig = F.col("y_true_f"), F.col("y_pred_f"), F.col("y_pred_sigma_f")
    aggs = [F.avg(sig).alias("mean_sigma")]
    for lv in levels:
        z = z_for_level(lv)
        lo, hi = mu - z * sig, mu + z * sig
        tag = str(int(lv * 100))
        aggs.append(F.avg(((y >= lo) & (y <= hi)).cast("double")).alias(f"cov_{tag}"))
        aggs.append(F.avg(hi - lo).alias(f"sharp_{tag}"))
    return aggs


def grouped_by_model(stacked: DataFrame, keys=(), aggs: list[Column] = ()) -> list[Row]:
    """``aggs`` over a stacked frame per model and per (model, k) for
    each of ``keys``: the groups of GROUPING SETS ``(MODEL)``,
    ``(MODEL, k)``, ... Each row carries ``MODEL``, ``_set`` (0 on a
    model's own row, i + 1 for ``keys[i]``) and ``_key`` (that key's
    value as a string; null on a model's own row).

    The rows are fanned out to their groups by ``inline``, not by
    GROUPING SETS: Expand's output has no known partitioning, so a
    GROUPING SETS aggregate always shuffles (two jobs), while
    ``inline`` keeps its input's. Over a one-partition stack (the
    runner's) the aggregate then needs no exchange and runs as one
    job."""
    fan = ["named_struct('_set', 0, '_key', CAST(NULL AS STRING))"] + [
        f"named_struct('_set', {i + 1}, '_key', CAST({k} AS STRING))"
        for i, k in enumerate(keys)
    ]
    return (
        stacked.selectExpr("*", f"inline(array({', '.join(fan)}))")
        .groupBy(MODEL, "_set", "_key")
        .agg(*aggs)
        .collect()
    )


def _metrics_from_row(row) -> ForecastMetrics:
    n = row["n_samples"]
    ss_tot = (row["_var_y"] or 0.0) * n
    r2 = 1 - (row["_ss_res"] / ss_tot) if ss_tot > 0 else 0.0
    return ForecastMetrics(
        n_samples=n,
        mae=float(row["mae"]),
        rmse=float(row["rmse"]),
        bias=float(row["bias"]),
        std_error=float(row["std_error"] or 0.0),
        r2=float(r2),
    )


def _calibration_from_row(row) -> CalibrationMetrics:
    get = lambda k: float(row[k]) if row[k] is not None else 0.0
    return CalibrationMetrics(
        coverage_50=get("cov_50"),
        coverage_80=get("cov_80"),
        coverage_90=get("cov_90"),
        mean_sigma=get("mean_sigma"),
        sharpness_50=get("sharp_50"),
        sharpness_80=get("sharp_80"),
        sharpness_90=get("sharp_90"),
    )


def compute_forecast_metrics(predictions_df: DataFrame) -> ForecastMetrics:
    """MAE/RMSE/bias/std/R² in one pass (reference metrics.py:108-138)."""
    rows = grouped_by_model(stack_models([predictions_df]), aggs=forecast_metric_aggs())
    if not rows:
        raise ValueError("No rows to compute forecast metrics over.")
    return _metrics_from_row(rows[0])


def compute_calibration_metrics(
    predictions_df: DataFrame, coverage_levels: list[float] | None = None
) -> CalibrationMetrics:
    """Gaussian PI coverage + sharpness, one pass for all levels; all
    zero over no rows."""
    levels = coverage_levels or DEFAULT_COVERAGE_LEVELS
    rows = grouped_by_model(stack_models([predictions_df]), aggs=calibration_aggs(levels))
    return _calibration_from_row(rows[0]) if rows else CalibrationMetrics(*[0.0] * 7)


def compute_pinball_loss(
    predictions_df: DataFrame, quantiles: list[float] | None = None
) -> dict[float, float]:
    """Quantile (pinball) loss per q-column (reference metrics.py:200-236)."""
    qs = quantiles or [0.10, 0.50, 0.90]
    aggs, present = [], []
    for q in qs:
        col = f"q{int(q * 100)}"
        if col not in predictions_df.columns:
            continue
        err = F.col("y_true_f") - F.col(col)
        aggs.append(
            F.avg(F.when(err >= 0, q * err).otherwise((q - 1) * err)).alias(col)
        )
        present.append((q, col))
    if not aggs:
        return {}
    row = predictions_df.agg(*aggs).first()
    return {q: float(row[col]) for q, col in present}
