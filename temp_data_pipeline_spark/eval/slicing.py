"""Every model's metrics, calibration and slices in ONE aggregate
(reference eval/slicing.py).

The reference runs, per model, 4 sequential pandas passes (month,
season, lead bucket, temp regime, `slicing.py:22-53`) beside its
headline metrics. Here the slice keys are derived columns of the
stacked predictions frame (`metrics.stack_models`) and one aggregate
over the groups of GROUPING SETS ``(model)``, ``(model, month)``,
``(model, season)``, ``(model, regime)``, ``(model, lead_bucket)``
(`metrics.grouped_by_model`) computes every model's forecast and
calibration metrics and every slice. The
temperature-regime cut points (q25/q75 of y_true_f) are exact
interpolated percentiles (`percentile`, matching np.percentile) that
every row carries in ``_q``. The runner takes them by a window over its
test split (`with_regime_cuts`), which is one partition, so the window
needs no exchange; `compute_metrics_by_slice`, whose input may be of
any size, takes them by a global aggregate that aggregates each
partition in parallel. `evaluate_models` carries them through, and the
labels are built on the driver from the values the rows were cut by.

Slices with <10 rows are dropped (`slicing.py:72,100,129,152`), and
output labels/dict shape match the reference so run artifacts stay
comparable. Slice keys come out in a fixed order: months ascending,
seasons DJF→SON, lead buckets from short to long, regimes from cold
to hot, not in the aggregate's hash order.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from temp_data_pipeline_spark.eval.metrics import (
    MODEL,
    EvalMetrics,
    _calibration_from_row,
    _metrics_from_row,
    calibration_aggs,
    forecast_metric_aggs,
    grouped_by_model,
    stack_models,
)

SEASON_OF_MONTH = {
    12: "DJF", 1: "DJF", 2: "DJF",
    3: "MAM", 4: "MAM", 5: "MAM",
    6: "JJA", 7: "JJA", 8: "JJA",
    9: "SON", 10: "SON", 11: "SON",
}
SEASONS = ("DJF", "MAM", "JJA", "SON")
LEAD_BUCKETS = [(0, 24), (24, 48), (48, 72), (72, 120)]
MIN_SLICE_ROWS = 10
COLD, NORMAL, HOT = 0, 1, 2


def _season_sql() -> str:
    whens = " ".join(
        f"WHEN month IN ({', '.join(str(m) for m, x in SEASON_OF_MONTH.items() if x == s)})"
        f" THEN '{s}'"
        for s in SEASONS
    )
    return f"CASE {whens} END"


def _lead_bucket_sql() -> str:
    whens = " ".join(
        f"WHEN lead_hours >= {lo} AND lead_hours < {hi} THEN '{lo}-{hi}h'"
        for lo, hi in LEAD_BUCKETS
    )
    return f"CASE {whens} END"


def _regime_labels(q25: float, q75: float) -> dict[int, str]:
    return {
        COLD: f"cold (<{q25:.0f}°F)",
        NORMAL: f"normal ({q25:.0f}-{q75:.0f}°F)",
        HOT: f"hot (>{q75:.0f}°F)",
    }


def _regime_cuts(exact_percentile: bool) -> Column:
    fn = "percentile" if exact_percentile else "percentile_approx"
    return F.expr(f"{fn}(y_true_f, array(0.25D, 0.75D))")


def with_regime_cuts(predictions_df: DataFrame) -> DataFrame:
    """``predictions_df`` plus ``_q``: the q25/q75 of its y_true_f,
    the temperature-regime cut points, by a window with no partition
    key. That window moves every row to one task, so use it only on a
    frame that is one partition already (the runner's test split)."""
    return predictions_df.withColumn("_q", _regime_cuts(True).over(Window.partitionBy()))


def evaluate_models(stacked: DataFrame) -> dict[int, EvalMetrics]:
    """Forecast metrics, calibration (when the frame has
    ``y_pred_sigma_f``) and all slice families of each model in
    ``stacked``, keyed by its ``MODEL`` value, from one aggregate. Each
    row carries its model's regime cut points in ``_q``. A model with
    no rows has no entry."""
    cols = set(stacked.columns)
    has_month = "month" in cols
    has_lead = "lead_hours" in cols
    has_sigma = "y_pred_sigma_f" in cols

    derived = [
        f"CASE WHEN y_true_f < _q[0] THEN {COLD} WHEN y_true_f > _q[1] THEN {HOT}"
        f" ELSE {NORMAL} END AS _regime"
    ]
    keys = ["_regime"]
    if has_month:
        derived += ["month AS _month", f"{_season_sql()} AS _season"]
        keys = ["_month", "_season"] + keys
    if has_lead:
        derived.append(f"{_lead_bucket_sql()} AS _lead_bucket")
        keys.append("_lead_bucket")
    df = stacked.selectExpr("*", *derived)

    aggs = [F.max(F.col("_q")[0]).alias("_q25"), F.max(F.col("_q")[1]).alias("_q75")]
    if has_sigma:
        aggs += calibration_aggs()
    rows = grouped_by_model(df, keys, forecast_metric_aggs() + aggs)

    heads = {row[MODEL]: row for row in rows if row["_set"] == 0}
    cells: dict[int, dict[str, dict]] = {i: {k: {} for k in keys} for i in heads}
    for row in rows:
        if row["_set"] and row["_key"] is not None and row["n_samples"] >= MIN_SLICE_ROWS:
            key = keys[row["_set"] - 1]
            cells[row[MODEL]][key][row["_key"]] = _metrics_from_row(row).to_dict()

    out = {}
    for i, head in heads.items():
        got = cells[i]
        slices: dict[str, dict[str, Any]] = {}
        if has_month:
            slices["by_month"] = {m: got["_month"][m] for m in sorted(got["_month"], key=int)}
            slices["by_season"] = {s: got["_season"][s] for s in SEASONS if s in got["_season"]}
        if has_lead:
            slices["by_lead_bucket"] = {
                b: got["_lead_bucket"][b]
                for b in (f"{lo}-{hi}h" for lo, hi in LEAD_BUCKETS)
                if b in got["_lead_bucket"]
            }
        labels = _regime_labels(float(head["_q25"]), float(head["_q75"]))
        regimes = got["_regime"]
        slices["by_temp_regime"] = {
            labels[r]: regimes[str(r)] for r in (COLD, NORMAL, HOT) if str(r) in regimes
        }
        out[i] = EvalMetrics(
            forecast=_metrics_from_row(head),
            calibration=_calibration_from_row(head) if has_sigma else None,
            slices=slices,
        )
    return out


def compute_metrics_by_slice(
    predictions_df: DataFrame, exact_percentile: bool = True
) -> dict[str, dict[str, Any]]:
    """All four slice families of one model: the one-model case of
    ``evaluate_models``.

    exact_percentile=True (default) reproduces the reference's
    np.percentile cut points exactly; False switches the regime cuts
    to the bounded-memory sketch (operators/quantiles.py) for
    100 TB-scale prediction frames — regime labels then shift by at
    most the sketch's ±0.01 % rank error. Either way the cut points
    come from a global aggregate, partially aggregated per partition.
    """
    cuts = predictions_df.agg(_regime_cuts(exact_percentile).alias("_q"))
    got = evaluate_models(stack_models([predictions_df.crossJoin(cuts)]))
    if not got:
        raise ValueError("No rows to slice.")
    return got[0].slices
