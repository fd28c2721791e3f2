"""Uncertainty (σ) models (reference eval/uncertainty.py).

All three models reduce to aggregates + column expressions:
- GlobalSigma: `stddev_pop` over train residuals (ddof=0 — the
  reference uses np.std, `uncertainty.py:71`; SURVEY §4 item 2).
- BucketedSigma: `stddev_pop` and count per lead bucket; buckets
  with <10 samples fall back to the global σ; floor applied.
- RollingSigma: pure expression over the precomputed `sigma_lead`
  feature: greatest(coalesce(sigma_lead, fallback), floor).

`fit_stacked` fits one σ model per model of a run from the stacked
train predictions (`metrics.stack_models`) in ONE aggregate
(`metrics.grouped_by_model`): per model for the global σ and per
(model, bucket) for the bucket σs. Each model's `fit` is its
one-model case.
`predict_sigma(df)` appends a `y_pred_sigma_f` column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from temp_data_pipeline_spark.eval.metrics import MODEL, grouped_by_model, stack_models

DEFAULT_BUCKETS = [(0, 36), (36, 60), (60, 84), (84, 120)]


def _residual_col():
    return (F.col("y_pred_f") - F.col("tmax_actual_f")).cast("double")


class GlobalSigma:
    def __init__(self, sigma_floor: float = 1.0) -> None:
        self.sigma_floor = sigma_floor
        self._fallback: float | None = None

    def fit(self, df_train_with_pred: DataFrame) -> None:
        fit_stacked([self], stack_models([df_train_with_pred]))

    @property
    def sigma(self) -> float:
        if self._fallback is None:
            raise RuntimeError("Model not fitted.")
        return self._fallback

    def predict_sigma(self, df: DataFrame) -> DataFrame:
        return df.withColumn("y_pred_sigma_f", F.lit(self.sigma))


class BucketedSigma:
    def __init__(self, buckets=None, sigma_floor: float = 1.0, min_samples: int = 10):
        self.buckets = [tuple(b) for b in (buckets or DEFAULT_BUCKETS)]
        self.sigma_floor = sigma_floor
        self.min_samples = min_samples
        self._bucket_sigmas: dict[tuple[int, int], float] = {}
        self._fallback: float | None = None

    def _bucket_expr(self):
        expr = F.lit(None).cast("int")
        # reverse so the first matching bucket wins in the when-chain
        for i, (lo, hi) in reversed(list(enumerate(self.buckets))):
            expr = F.when(
                (F.col("lead_hours") >= lo) & (F.col("lead_hours") < hi), F.lit(i)
            ).otherwise(expr)
        return expr

    def fit(self, df_train_with_pred: DataFrame) -> None:
        fit_stacked([self], stack_models([df_train_with_pred]))

    def get_bucket_sigmas(self) -> dict[tuple[int, int], float]:
        return dict(self._bucket_sigmas)

    def predict_sigma(self, df: DataFrame) -> DataFrame:
        if self._fallback is None:
            raise RuntimeError("Model not fitted.")
        if "lead_hours" not in df.columns or not self._bucket_sigmas:
            return df.withColumn("y_pred_sigma_f", F.lit(self._fallback))
        expr = F.lit(self._fallback)
        for (lo, hi), s in self._bucket_sigmas.items():
            expr = F.when(
                (F.col("lead_hours") >= lo) & (F.col("lead_hours") < hi), F.lit(s)
            ).otherwise(expr)
        return df.withColumn("y_pred_sigma_f", expr)


class RollingSigma:
    def __init__(self, sigma_floor: float = 1.0, fallback_sigma: float = 3.0) -> None:
        self.sigma_floor = sigma_floor
        self.fallback_sigma = fallback_sigma

    def fit(self, df_train_with_pred: DataFrame) -> None:
        pass  # uses the precomputed sigma_lead feature

    def predict_sigma(self, df: DataFrame) -> DataFrame:
        if "sigma_lead" not in df.columns:
            return df.withColumn("y_pred_sigma_f", F.lit(self.fallback_sigma))
        sig = F.greatest(
            F.coalesce(
                F.when(F.isnan("sigma_lead"), None).otherwise(F.col("sigma_lead")),
                F.lit(self.fallback_sigma),
            ),
            F.lit(self.sigma_floor),
        )
        return df.withColumn("y_pred_sigma_f", sig)


def fit_stacked(models: list, stacked: DataFrame) -> None:
    """Fit ``models[i]`` on the rows of ``stacked`` whose ``MODEL`` is
    i, all in one aggregate. The models come from one
    ``create_uncertainty_model`` call each, so they share type, floor
    and buckets."""
    first = models[0]
    if isinstance(first, RollingSigma):
        return  # uses the precomputed sigma_lead feature
    keys = []
    if isinstance(first, BucketedSigma) and "lead_hours" in stacked.columns:
        stacked = stacked.withColumn("_bkt", first._bucket_expr())
        keys = ["_bkt"]
    rows = grouped_by_model(
        stacked, keys, [F.stddev_pop(_residual_col()).alias("s"), F.count(F.lit(1)).alias("n")]
    )
    for m in models:  # a model without train rows: σ of nothing, floored
        m._fallback = m.sigma_floor
        if isinstance(m, BucketedSigma):
            m._bucket_sigmas = {}
    floored = lambda m, row: max(float(row["s"] or 0.0), m.sigma_floor)
    bucket_rows = []
    for row in rows:
        m = models[row[MODEL]]
        if row["_set"] == 0:
            m._fallback = floored(m, row)
        elif row["_key"] is not None and row["n"] >= m.min_samples:
            bucket_rows.append(row)
    for row in sorted(bucket_rows, key=lambda r: int(r["_key"])):  # declared bucket order
        m = models[row[MODEL]]
        m._bucket_sigmas[m.buckets[int(row["_key"])]] = floored(m, row)


def create_uncertainty_model(sigma_type: str, sigma_buckets=None, sigma_floor: float = 1.0):
    """Factory (reference uncertainty.py:221-244)."""
    if sigma_type == "global":
        return GlobalSigma(sigma_floor=sigma_floor)
    if sigma_type == "bucketed":
        return BucketedSigma(buckets=sigma_buckets, sigma_floor=sigma_floor)
    if sigma_type == "rolling":
        return RollingSigma(sigma_floor=sigma_floor)
    raise ValueError(f"Unknown sigma type: {sigma_type}")
