"""Run artifacts: write + read-back (reference eval/report.py).

Artifact tree (same layout as the reference so its read-back/comparison
logic carries over):

    runs/<run_id>/
      config.json, meta.json, comparison.json
      models/<model_name>/
        config.json, metrics.json, slices.json
        predictions.parquet, residuals.parquet

Timestamps are injectable for reproducible diffs (SURVEY §7.4 item 7).
JSON artifacts are driver-side (they are tiny). Predictions and
residuals are written by Spark (the data may be large): all models'
predictions in ONE write partitioned by model index, all residuals in
a second, each into a `.tmp-*` dir under the run dir; each partition
dir is then renamed to `models/<model_name>/{predictions,residuals}
.parquet`. The index, not the name, is the partition value, so no
model name needs path escaping.
"""

from __future__ import annotations

import datetime as _dt
import json
import platform
import shutil
import uuid
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from temp_data_pipeline_spark.eval.metrics import MODEL
from temp_data_pipeline_spark.eval.runner import EvalRunResult

PRED_COLS = [
    "station_id",
    "target_date_local",
    "lead_hours",
    "y_true_f",
    "y_pred_f",
    "y_pred_sigma_f",
]


def _write_json(path: Path, obj: Any) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(obj, indent=2, default=str))


def _meta(run_id: str, now: _dt.datetime | None = None) -> dict[str, Any]:
    now = now or _dt.datetime.now(_dt.timezone.utc)
    return {
        "run_id": run_id,
        "timestamp_utc": now.isoformat(),
        "python_version": platform.python_version(),
        "engine": "temp_data_pipeline_spark",
    }


def _write_by_model(frame: DataFrame, run_dir: Path, names: dict[int, str], kind: str) -> None:
    """One write of ``frame`` (keyed by MODEL), partitioned by model
    index; partition i becomes ``models/<names[i]>/<kind>.parquet``."""
    tmp = run_dir / f".tmp-{kind}-{uuid.uuid4().hex[:8]}"
    frame.withColumnRenamed(MODEL, "model").write.partitionBy("model").parquet(str(tmp))
    try:
        for i, name in names.items():
            dest = run_dir / "models" / name / f"{kind}.parquet"
            shutil.rmtree(dest, ignore_errors=True)
            (tmp / f"model={i}").rename(dest)
            for marker in tmp.glob("*_SUCCESS*"):  # the write's marker and its checksum
                shutil.copy(marker, dest / marker.name)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def write_all_artifacts(
    result: EvalRunResult,
    base_path: str | Path = "runs",
    now: _dt.datetime | None = None,
    write_parquet: bool = True,
) -> Path:
    run_dir = Path(base_path) / result.run_id
    run_dir.mkdir(parents=True, exist_ok=True)
    _write_json(run_dir / "config.json", result.config.to_dict())
    _write_json(run_dir / "meta.json", _meta(result.run_id, now))
    comparison = result.comparison()
    comparison["timestamp_utc"] = (now or _dt.datetime.now(_dt.timezone.utc)).isoformat()
    _write_json(run_dir / "comparison.json", comparison)
    for name, res in result.models.items():
        _write_json(run_dir / "models" / name / "metrics.json", res.metrics.to_dict())
        _write_json(run_dir / "models" / name / "slices.json", res.metrics.slices)
    if write_parquet:
        pred = result.predictions
        names = {res.index: name for name, res in result.models.items()}
        cols = [c for c in PRED_COLS if c in pred.columns]
        err = F.col("y_pred_f") - F.col("y_true_f")
        _write_by_model(pred.select(MODEL, *cols), run_dir, names, "predictions")
        resid = pred.select(
            MODEL,
            *[c for c in cols if c.startswith(("station", "target", "lead"))],
            err.alias("residual_f"),
            F.abs(err).alias("abs_error_f"),
            F.pow(err, 2).alias("sq_error_f"),
        )
        _write_by_model(resid, run_dir, names, "residuals")
    return run_dir


def load_run(run_id: str, base_path: str | Path = "runs") -> dict[str, Any]:
    """Read-back API (reference report.py:349-462)."""
    run_dir = Path(base_path) / run_id
    if not run_dir.exists():
        raise FileNotFoundError(f"Run not found: {run_dir}")
    out: dict[str, Any] = {"run_id": run_id, "run_dir": str(run_dir)}
    for name in ("config", "meta", "comparison"):
        p = run_dir / f"{name}.json"
        if p.exists():
            out[name] = json.loads(p.read_text())
    models_dir = run_dir / "models"
    if models_dir.exists():
        out["models"] = {}
        for mdir in sorted(models_dir.iterdir()):
            if mdir.is_dir():
                entry: dict[str, Any] = {}
                for name in ("metrics", "slices"):
                    p = mdir / f"{name}.json"
                    if p.exists():
                        entry[name] = json.loads(p.read_text())
                out["models"][mdir.name] = entry
    return out


def load_multi_model_run(run_id: str, base_path: str | Path = "runs") -> dict[str, Any]:
    return load_run(run_id, base_path)


def list_runs(base_path: str | Path = "runs") -> list[str]:
    base = Path(base_path)
    if not base.exists():
        return []
    return sorted(p.name for p in base.iterdir() if (p / "meta.json").exists())
