"""Smoke test of the benchmark at tiny size (about 6 minutes).

    python3 -m pytest perfbench/test_smoke.py -q

Every workload runs twice with one seed, untraced then traced, with
all output checks on. Both runs must pass their checks, print the
result line, and record identical input and output hashes: the inputs
are a function of the seed alone, and tracing changes no output.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from run import END_TO_END, PER_LAYER  # noqa: E402
from spans import LAYER_METRICS, LAYERS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _run(tmp_path, workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    line = p.stdout.strip().splitlines()[-1]
    assert len(line) <= 2000
    result = json.loads(line)
    with open(tmp_path / ".perfbench" / "results" / f"{workload}-s3-t{trace}.json") as f:
        return result, json.load(f)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_checks_and_determinism(tmp_path, workload):
    plain, plain_art = _run(tmp_path, workload, 0)
    traced, traced_art = _run(tmp_path, workload, 1)
    for r in (plain, traced):
        assert set(r) == {"correct", "attempted", "failed", "metrics"}
        assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1
    assert set(plain["metrics"]) == {k for k, _u in END_TO_END}
    assert set(traced["metrics"]) == set(PER_LAYER)
    every_layer = {f"{layer}.{k}" for layer in LAYERS for k, _u in LAYER_METRICS}
    assert every_layer <= set(traced_art["per_layer"])
    assert all(v["value"] > 0 for v in plain["metrics"].values())
    assert plain_art["hashes"] and plain_art["hashes"] == traced_art["hashes"]
    assert not [p for p in os.listdir(tmp_path / ".perfbench") if p.startswith("work-")]
