"""Evaluation runner (reference eval/runner.py).

One lazy plan carries join→filter→features→split, cached once after
the split numbering (data.py). The reference loops over models and
runs each model's σ fit, metrics and slices on its own (SURVEY §3.3);
here each step runs ONCE for all models over their predictions
stacked into one frame keyed by model (`metrics.stack_models`):

- each model's own fit (tiny aggregate or driver collect, models.py);
- every σ model from one aggregate over the stacked train predictions
  (`uncertainty.fit_stacked`);
- every model's forecast metrics, calibration and slices from one
  aggregate over the stacked, σ'd test predictions
  (`slicing.evaluate_models`).

Every model's frame is one partition (the split numbering is, see
splits.py), and the stacks are coalesced to one partition too, so
neither aggregate needs an exchange: each is one job.

A single-model evaluation is the one-model case of the same runner.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from temp_data_pipeline_spark.eval.config import EvalConfig, ModelConfig
from temp_data_pipeline_spark.eval.data import EvalDataset, load_eval_data
from temp_data_pipeline_spark.eval.metrics import MODEL, EvalMetrics, stack_models
from temp_data_pipeline_spark.eval.models import create_forecaster
from temp_data_pipeline_spark.eval.slicing import evaluate_models, with_regime_cuts
from temp_data_pipeline_spark.eval.uncertainty import create_uncertainty_model, fit_stacked


@dataclass
class ModelEvalResult:
    model_name: str
    metrics: EvalMetrics
    predictions: DataFrame  # test frame + y_true_f / y_pred_f / y_pred_sigma_f
    index: int = 0  # the model's MODEL value in EvalRunResult.predictions


@dataclass
class EvalRunResult:
    run_id: str
    config: EvalConfig
    dataset: EvalDataset
    models: dict[str, ModelEvalResult] = field(default_factory=dict)
    # every model's test predictions, keyed by MODEL (config.models order),
    # with their regime cut points (`_q`)
    predictions: DataFrame | None = None

    def comparison(self) -> dict[str, Any]:
        """Cross-model comparison + rankings (reference report.py:221-287)."""
        comp: dict[str, Any] = {"run_id": self.run_id, "models": {}, "ranking": {}}
        for name, res in self.models.items():
            f = res.metrics.forecast
            comp["models"][name] = {
                "mae": round(f.mae, 4),
                "rmse": round(f.rmse, 4),
                "bias": round(f.bias, 4),
                "r2": round(f.r2, 4) if f.r2 is not None else None,
                "n_samples": f.n_samples,
            }
        if comp["models"]:
            by = lambda k, f=abs: sorted(
                comp["models"], key=lambda m: f(comp["models"][m][k])
            )
            comp["ranking"]["by_mae"] = sorted(
                comp["models"], key=lambda m: comp["models"][m]["mae"]
            )
            comp["ranking"]["by_rmse"] = sorted(
                comp["models"], key=lambda m: comp["models"][m]["rmse"]
            )
            comp["ranking"]["by_abs_bias"] = by("bias")
        return comp


def _make_run_id(now: _dt.datetime | None = None) -> str:
    now = now or _dt.datetime.now(_dt.timezone.utc)
    return now.strftime("%Y%m%d_%H%M%S")


def _stack(frames: list[DataFrame]) -> DataFrame:
    """The models' frames, each one partition, stacked into one."""
    return stack_models(frames).coalesce(1)


def _evaluate(
    config: EvalConfig,
    model_cfgs: list[ModelConfig],
    dataset: EvalDataset,
    run_id: str | None,
) -> EvalRunResult:
    """Fit → predict → σ → metrics for every model, each step once for
    all models (reference runner.py:212-281 does it per model)."""
    models = [create_forecaster(mc) for mc in model_cfgs]
    for m in models:
        m.fit(dataset.train)

    # uncertainty fits on TRAIN residuals (reference runner.py:193-196)
    sigmas = [
        create_uncertainty_model(config.sigma_type, config.sigma_buckets, config.sigma_floor)
        for _ in models
    ]
    fit_stacked(sigmas, _stack([m.predict_mu(dataset.train) for m in models]))

    # every model is scored on the same test rows, so they share y_true_f
    # and its regime cut points
    test = with_regime_cuts(
        dataset.test.withColumn("y_true_f", F.col("tmax_actual_f").cast("double"))
    )
    stacked = _stack([s.predict_sigma(m.predict_mu(test)) for m, s in zip(models, sigmas)])
    metrics = evaluate_models(stacked)

    result = EvalRunResult(
        run_id=run_id or _make_run_id(), config=config, dataset=dataset, predictions=stacked
    )
    for i, mc in enumerate(model_cfgs):
        if i not in metrics:
            raise ValueError(f"No test rows to evaluate {mc.display_name()} on.")
        result.models[mc.display_name()] = ModelEvalResult(
            model_name=mc.display_name(),
            metrics=metrics[i],
            predictions=stacked.filter(F.col(MODEL) == i).drop(MODEL, "_q"),
            index=i,
        )
    return result


def run_evaluation(
    config: EvalConfig,
    forecast_df: DataFrame,
    truth_df: DataFrame,
    feature_df: DataFrame | None = None,
    run_id: str | None = None,
) -> EvalRunResult:
    """Single-model evaluation (reference runner.py:64-158): the first
    configured model through the stacked runner."""
    dataset = load_eval_data(config, forecast_df, truth_df, feature_df)
    return _evaluate(config, config.models[:1], dataset, run_id)


def run_multi_model_evaluation(
    config: EvalConfig,
    forecast_df: DataFrame,
    truth_df: DataFrame,
    feature_df: DataFrame | None = None,
    run_id: str | None = None,
) -> EvalRunResult:
    """All configured models over one shared dataset (reference
    runner.py:284-403)."""
    dataset = load_eval_data(config, forecast_df, truth_df, feature_df)
    return _evaluate(config, config.models, dataset, run_id)
