"""The stacked evaluation (eval/runner.py): every model's σ fit,
metrics, calibration and slices run once for all models.

Pinned here:

- a pandas/numpy oracle for every number the run reports
  (passthrough, persistence, ridge and kNN; global, bucketed and
  rolling σ; with and without lead_hours), within 1e-9 — slices within
  their 4-decimal rounding;
- the report's artifact tree, and that every predictions/residuals
  dir reads back the rows and schema of the run's predictions;
- the job counts of the benchmark's eval shape (3 models, bucketed σ):
  at most 6 eval jobs and 2 report jobs; `EvalDataset.counts()` in one;
- no temp view is registered or replaced, and an input with no rows
  after the filters raises ``ValueError``;
- over no rows, the one-model metric functions raise ``ValueError``
  (calibration reads all zero), and a model without rows has no entry
  in ``evaluate_models``.
"""

from __future__ import annotations

import math
import os
from datetime import date, timedelta

import numpy as np
import pandas as pd
import pytest

from temp_data_pipeline_spark.eval.config import EvalConfig, ModelConfig
from temp_data_pipeline_spark.eval.data import load_eval_data
from temp_data_pipeline_spark.eval.metrics import (
    compute_calibration_metrics,
    compute_forecast_metrics,
    stack_models,
    z_for_level,
)
from temp_data_pipeline_spark.eval.report import load_run, write_all_artifacts
from temp_data_pipeline_spark.eval.runner import run_multi_model_evaluation
from temp_data_pipeline_spark.eval.slicing import (
    LEAD_BUCKETS,
    SEASON_OF_MONTH,
    compute_metrics_by_slice,
    evaluate_models,
    with_regime_cuts,
)
from temp_data_pipeline_spark.eval.uncertainty import DEFAULT_BUCKETS

STATIONS = ["A", "B", "C"]
LEADS = [12, 30, 50, 70, 100, 130]  # 130 h is in no σ bucket and no slice bucket
K = 5
MODELS = [
    ModelConfig(type="passthrough"),
    ModelConfig(type="persistence"),
    ModelConfig(type="ridge"),
    ModelConfig(type="knn", n_neighbors=K),
]
SCHEMA = (
    "station_id string, target_date_local date, tmax_pred_f double, "
    "tmax_actual_f double, lead_hours bigint, sigma_lead double"
)
TOL = 1e-9
LEVELS = (0.50, 0.80, 0.90)


def _rows(seed: int, days: int = 150) -> list[tuple]:
    """Several stations over Nov–Mar (three seasons), one row per
    station-day with a varying lead; some sigma_lead values missing."""
    rng = np.random.default_rng(seed)
    rows = []
    for s in STATIONS:
        for d in range(days):
            day = date(2023, 11, 1) + timedelta(days=d)
            truth = 55 + 15 * math.sin(2 * math.pi * d / 365) + rng.normal(0, 6)
            pred = truth + rng.normal(0.5, 2.5)
            lead = LEADS[(d + ord(s)) % len(LEADS)]
            sig = None if d % 7 == 0 else float(abs(rng.normal(2.5, 1.0)))
            rows.append((s, day, float(pred), float(truth), lead, sig))
    return rows


def _frame(spark, seed: int, lead: bool = True):
    df = spark.createDataFrame(_rows(seed), SCHEMA)
    return df if lead else df.drop("lead_hours")


def _config(models, sigma_type: str) -> EvalConfig:
    return EvalConfig(
        station_ids=STATIONS,
        start_date_local="2023-01-01",
        end_date_local="2024-12-31",
        models=models,
        sigma_type=sigma_type,
    )


# ---------------------------------------------------------------- oracle


def _features(pdf: pd.DataFrame) -> pd.DataFrame:
    """eval/data.py::ensure_features on pandas (period 365, zero-filled
    biases, per-station lag of the label)."""
    out = pdf.sort_values(["station_id", "target_date_local"]).reset_index(drop=True)
    doy = pd.to_datetime(out["target_date_local"]).dt.dayofyear.astype(float)
    out["sin_doy"] = np.sin(2.0 * math.pi * doy / 365.0)
    out["cos_doy"] = np.cos(2.0 * math.pi * doy / 365.0)
    out["month"] = pd.to_datetime(out["target_date_local"]).dt.month
    out["bias_7d"] = 0.0
    out["bias_14d"] = 0.0
    out["lag1"] = out.groupby("station_id")["tmax_actual_f"].shift(1)
    return out


def _predict(kind: str, train: pd.DataFrame, df: pd.DataFrame, has_lead: bool) -> np.ndarray:
    y = train["tmax_actual_f"].to_numpy()
    if kind == "passthrough":
        return df["tmax_pred_f"].to_numpy()
    if kind == "persistence":
        return df["lag1"].fillna(0.0).to_numpy()
    if kind == "ridge":  # sklearn Ridge(alpha=1): centered, unpenalized intercept
        feats = ["tmax_pred_f", "sin_doy", "cos_doy", "bias_7d", "bias_14d"]
        x = train[feats].to_numpy()
        xc, yc = x - x.mean(0), y - y.mean()
        w = np.linalg.solve(xc.T @ xc + np.eye(len(feats)), xc.T @ yc)
        return (y.mean() - x.mean(0) @ w) + df[feats].to_numpy() @ w
    feats = ["tmax_pred_f", "sin_doy", "cos_doy"] + (["lead_hours"] if has_lead else [])
    tx, q = train[feats].to_numpy(float), df[feats].to_numpy(float)
    d2 = ((q[:, None, :] - tx[None, :, :]) ** 2).sum(axis=2)
    return y[np.argsort(d2, axis=1)[:, :K]].mean(axis=1)


def _sigma(sigma_type, train, train_pred, test, has_lead, floor=1.0) -> np.ndarray:
    if sigma_type == "rolling":
        s = test["sigma_lead"].fillna(3.0).to_numpy()
        return np.maximum(s, floor)
    resid = train_pred - train["tmax_actual_f"].to_numpy()
    glob = max(float(np.std(resid)), floor)
    out = np.full(len(test), glob)
    if sigma_type == "bucketed" and has_lead:
        tl, el = train["lead_hours"].to_numpy(), test["lead_hours"].to_numpy()
        for lo, hi in DEFAULT_BUCKETS:
            m = (tl >= lo) & (tl < hi)
            if m.sum() >= 10:
                out[(el >= lo) & (el < hi)] = max(float(np.std(resid[m])), floor)
    return out


def _forecast(y, mu) -> dict:
    e = mu - y
    ss_tot = float(np.var(y)) * len(y)
    return {
        "n_samples": len(y),
        "mae": float(np.mean(np.abs(e))),
        "rmse": float(np.sqrt(np.mean(e * e))),
        "bias": float(np.mean(e)),
        "std_error": float(np.std(e)),
        "r2": 1 - float(np.sum(e * e)) / ss_tot if ss_tot > 0 else 0.0,
    }


def _slices(test: pd.DataFrame, y, mu, has_month: bool, has_lead: bool) -> dict:
    """Months ascending, seasons DJF→SON, lead buckets and regimes from
    cold to hot."""
    def fam(keys, order):
        out = {}
        for k in order:
            m = keys == k
            if m.sum() >= 10:
                out[k] = _forecast(y[m], mu[m])
        return out

    slices = {}
    if has_month:
        month = test["month"].to_numpy()
        slices["by_month"] = {str(k): v for k, v in fam(month, range(1, 13)).items()}
        season = np.array([SEASON_OF_MONTH[m] for m in month])
        slices["by_season"] = fam(season, ["DJF", "MAM", "JJA", "SON"])
    if has_lead:
        lead = test["lead_hours"].to_numpy()
        label = np.array([
            next((f"{lo}-{hi}h" for lo, hi in LEAD_BUCKETS if lo <= v < hi), "") for v in lead
        ])
        slices["by_lead_bucket"] = fam(label, [f"{lo}-{hi}h" for lo, hi in LEAD_BUCKETS])
    q25, q75 = np.percentile(y, [25, 75])
    labels = [f"cold (<{q25:.0f}°F)", f"normal ({q25:.0f}-{q75:.0f}°F)", f"hot (>{q75:.0f}°F)"]
    regime = np.where(y < q25, labels[0], np.where(y > q75, labels[2], labels[1]))
    slices["by_temp_regime"] = fam(regime, labels)
    return slices


def _oracle(rows, sigma_type: str, has_lead: bool) -> dict:
    pdf = _features(pd.DataFrame(rows, columns=[c.split()[0] for c in SCHEMA.split(", ")]))
    n = len(pdf)
    train = pdf.iloc[: math.floor(n * 0.70)]
    test = pdf.iloc[math.floor(n * (0.70 + 0.15)):].reset_index(drop=True)
    y = test["tmax_actual_f"].to_numpy()
    out = {}
    for mc in MODELS:
        mu = _predict(mc.type, train, test, has_lead)
        sig = _sigma(sigma_type, train, _predict(mc.type, train, train, has_lead), test, has_lead)
        cal = {"mean_sigma": float(np.mean(sig))}
        for lv in LEVELS:
            z = z_for_level(lv)
            lo, hi = mu - z * sig, mu + z * sig
            cal[f"coverage_{int(lv * 100)}"] = float(np.mean((y >= lo) & (y <= hi)))
            cal[f"sharpness_{int(lv * 100)}"] = float(np.mean(hi - lo))
        out[mc.display_name()] = {
            "keys": test[["station_id", "target_date_local"]],
            "mu": mu,
            "sigma": sig,
            "forecast": _forecast(y, mu),
            "calibration": cal,
            "slices": _slices(test, y, mu, True, has_lead),
        }
    return out


def _close(got, want) -> bool:
    return math.isclose(got, want, rel_tol=TOL, abs_tol=TOL)


def _assert_slices(got: dict, want: dict) -> None:
    """Same families, keys (in order) and values; a reported slice
    value is rounded to 4 decimals."""
    assert list(got) == list(want)
    for fam, cells in want.items():
        assert list(got[fam]) == list(cells), fam
        for key, w in cells.items():
            g = got[fam][key]
            assert g["n_samples"] == w["n_samples"], (fam, key)
            for m in ("mae", "rmse", "bias", "std_error", "r2"):
                assert abs(g[m] - w[m]) <= 0.5e-4 + TOL, (fam, key, m, g[m], w[m])


@pytest.mark.parametrize(
    "sigma_type,has_lead",
    [("global", True), ("bucketed", True), ("rolling", True), ("bucketed", False)],
)
def test_stacked_eval_matches_numpy_oracle(spark, sigma_type, has_lead):
    rows = _rows(seed=11)
    res = run_multi_model_evaluation(
        _config(MODELS, sigma_type), None, None, feature_df=_frame(spark, 11, has_lead)
    )
    want = _oracle(rows, sigma_type, has_lead)
    assert list(res.models) == [mc.display_name() for mc in MODELS]
    for name, w in want.items():
        m = res.models[name].metrics
        for k, v in w["forecast"].items():
            assert _close(getattr(m.forecast, k), v), (name, k, getattr(m.forecast, k), v)
        for k, v in w["calibration"].items():
            assert _close(getattr(m.calibration, k), v), (name, k, getattr(m.calibration, k), v)
        _assert_slices(m.slices, w["slices"])
        pred = (
            res.models[name].predictions.toPandas()
            .sort_values(["station_id", "target_date_local"])
            .reset_index(drop=True)
        )
        assert pred[["station_id", "target_date_local"]].equals(w["keys"])
        assert np.allclose(pred["y_pred_f"], w["mu"], rtol=TOL, atol=TOL), name
        assert np.allclose(pred["y_pred_sigma_f"], w["sigma"], rtol=TOL, atol=TOL), name


def test_slices_without_month_or_lead_match_numpy(spark):
    rng = np.random.default_rng(3)
    y = rng.normal(60, 10, 300)
    mu = y + rng.normal(0.3, 2.0, 300)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(mu, y)], "y_pred_f double, y_true_f double"
    )
    got = compute_metrics_by_slice(df)
    want = _slices(pd.DataFrame(), y, mu, has_month=False, has_lead=False)
    assert list(got) == ["by_temp_regime"]
    _assert_slices(got, want)


# ---------------------------------------------------------------- report


def test_report_tree_and_parquet_round_trip(spark, tmp_path):
    cfg = _config(MODELS, "bucketed")
    res = run_multi_model_evaluation(cfg, None, None, feature_df=_frame(spark, 5), run_id="r1")
    run_dir = write_all_artifacts(res, base_path=tmp_path)
    names = [mc.display_name() for mc in cfg.models]
    assert sorted(p.name for p in run_dir.iterdir()) == [
        "comparison.json", "config.json", "meta.json", "models",
    ]
    assert sorted(p.name for p in (run_dir / "models").iterdir()) == sorted(names)
    for name in names:
        mdir = run_dir / "models" / name
        assert sorted(p.name for p in mdir.iterdir()) == [
            "metrics.json", "predictions.parquet", "residuals.parquet", "slices.json",
        ]
        pred = res.models[name].predictions
        for kind in ("predictions", "residuals"):
            files = {p.name for p in (mdir / f"{kind}.parquet").iterdir()}
            assert "_SUCCESS" in files and any(f.endswith(".parquet") for f in files)
        cols = ["station_id", "target_date_local", "lead_hours", "y_true_f", "y_pred_f",
                "y_pred_sigma_f"]
        back = spark.read.parquet(str(mdir / "predictions.parquet"))
        assert back.dtypes == pred.select(*cols).dtypes
        assert sorted(back.collect()) == sorted(pred.select(*cols).collect())
        resid = spark.read.parquet(str(mdir / "residuals.parquet"))
        want = pred.selectExpr(
            *cols[:3],
            "y_pred_f - y_true_f AS residual_f",
            "abs(y_pred_f - y_true_f) AS abs_error_f",
            "pow(y_pred_f - y_true_f, 2) AS sq_error_f",
        )
        assert resid.dtypes == want.dtypes
        assert sorted(resid.collect()) == sorted(want.collect())
    back = load_run("r1", base_path=tmp_path)
    assert sorted(back["models"]) == sorted(names)
    assert back["models"]["Ridge"]["metrics"] == res.models["Ridge"].metrics.to_dict()


# ---------------------------------------------------------------- job counts


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_benchmark_shape_job_counts(spark, tmp_path):
    """3 models, bucketed σ: the eval runs at most 6 jobs (31 when each
    model ran its own passes) and the report 2 (one per model and
    file kind before)."""
    cfg = _config(MODELS[:3], "bucketed")
    tag = f"{os.getpid()}-{id(tmp_path)}"
    frame = _frame(spark, 17)
    res, eval_jobs = _jobs(
        spark, f"eval-{tag}",
        lambda: run_multi_model_evaluation(cfg, None, None, feature_df=frame, run_id="j"),
    )
    _, report_jobs = _jobs(
        spark, f"report-{tag}", lambda: write_all_artifacts(res, base_path=tmp_path)
    )
    assert eval_jobs <= 6, eval_jobs
    assert report_jobs <= 2, report_jobs
    counts, count_jobs = _jobs(spark, f"counts-{tag}", res.dataset.counts)
    n = len(STATIONS) * 150
    train_end, val_end = math.floor(n * 0.70), math.floor(n * (0.70 + 0.15))
    assert counts == {
        "n_train": train_end,
        "n_val": val_end - train_end,
        "n_test": n - val_end,
        "n_full": n,
    }
    assert count_jobs == 1, count_jobs


# ---------------------------------------------------------------- edges


def test_eval_leaves_temp_views_alone(spark):
    spark.createDataFrame([(42,)], "marker int").createOrReplaceTempView("_slice_input")
    try:
        before = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        res = run_multi_model_evaluation(
            _config(MODELS[:2], "global"), None, None, feature_df=_frame(spark, 23)
        )
        assert res.models["Passthrough"].metrics.slices["by_temp_regime"]
        assert {t.name for t in spark.catalog.listTables() if t.isTemporary} == before
        assert spark.table("_slice_input").collect() == [(42,)]
    finally:
        spark.catalog.dropTempView("_slice_input")


def test_no_rows_after_filters_raises(spark):
    cfg = _config(MODELS[:1], "global")
    cfg.station_ids = ["nowhere"]
    with pytest.raises(ValueError, match="No data remaining after filters"):
        load_eval_data(cfg, None, None, feature_df=_frame(spark, 29))


def test_one_model_functions_over_no_rows(spark):
    empty = spark.createDataFrame(
        [], "y_pred_f double, y_true_f double, y_pred_sigma_f double"
    )
    with pytest.raises(ValueError, match="No rows"):
        compute_forecast_metrics(empty)
    assert set(compute_calibration_metrics(empty).to_dict().values()) == {0.0}
    with pytest.raises(ValueError, match="No rows"):
        compute_metrics_by_slice(empty)


def test_model_without_rows_has_no_entry(spark):
    df = spark.createDataFrame(
        [(float(i), float(i) + 0.5) for i in range(20)], "y_true_f double, y_pred_f double"
    ).coalesce(1)
    cut = with_regime_cuts(df)
    got = evaluate_models(stack_models([cut, cut.filter("y_true_f < 0")]))
    assert list(got) == [0]
    assert got[0].forecast.n_samples == 20
