"""Spans around calls into the engine's layers, with Spark counters.

A span is opened by the benchmark around a call into one layer's
public function (``Tracer.span``), or by a wrapper that ``Tracer.patch``
installs over an engine function, so calls the engine makes into its
own layers (SQL MERGE -> operators.merge -> operators.versioned) get
spans too. Patching rebinds module attributes at run time only; no
engine file changes.

Each span tags the Spark jobs it submits with its id through the
thread-local ``spark.jobGroup.id`` property, so a job belongs to the
innermost open span exactly, however short. After each top-level
operation ``collect`` drains the listener bus and reads every tagged
job's stages from the status store: tasks, executor CPU, input,
shuffle and spill bytes, input and output records, and the job's own
submit/complete span. Nothing here touches the session config, and
the untraced run uses ``NullTracer``, which does none of this.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = (
    "session",
    "sources",
    "operators.clean_hourly",
    "operators.daily_tmax",
    "operators.features",
    "operators.versioned",
    "operators.merge",
    "operators.deletion_vectors",
    "operators.matview",
    "sql",
    "eval",
    "eval.report",
)
LAYER_METRICS = (
    ("wall_s", "s"),
    ("calls", "count"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("cpu_s", "s"),
    ("input_bytes", "B"),
    ("shuffle_bytes", "B"),
    ("driver_gap_s", "s"),
)
EXTRA_METRICS = (
    ("operators.versioned.files_written_per_commit", "count"),
    ("operators.versioned.bytes_written_per_commit", "B"),
    ("sql.plan_s", "s"),
    ("sql.exec_s", "s"),
    ("sql.dml_s", "s"),
    ("sql.input_rows_per_result_row", "ratio"),
    ("operators.clean_hourly.rows_out_per_in", "ratio"),
    ("trace.overhead_ratio", "ratio"),
)

# engine functions wrapped in the traced run: (module, attribute, layer)
PATCHES = (
    ("temp_data_pipeline_spark.sources.registry", "load_table", "sources"),
    ("temp_data_pipeline_spark.operators.versioned", "commit_version", "operators.versioned"),
    ("temp_data_pipeline_spark.operators.versioned", "commit_cdc_cow", "operators.versioned"),
    ("temp_data_pipeline_spark.operators.versioned", "read_version", "operators.versioned"),
    ("temp_data_pipeline_spark.operators.merge", "commit_merge_into", "operators.merge"),
    ("temp_data_pipeline_spark.operators.deletion_vectors", "commit_delete_mor", "operators.deletion_vectors"),
    ("temp_data_pipeline_spark.operators.deletion_vectors", "read_table", "operators.deletion_vectors"),
    ("temp_data_pipeline_spark.operators.matview", "build_agg_view", "operators.matview"),
    ("temp_data_pipeline_spark.operators.matview", "refresh_agg_view", "operators.matview"),
    ("temp_data_pipeline_spark.eval.runner", "run_multi_model_evaluation", "eval"),
    ("temp_data_pipeline_spark.eval.report", "write_all_artifacts", "eval.report"),
)


def table_files(root: str) -> dict[str, int]:
    """Relative path -> size of every file under a table root."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def _union_len(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class NullTracer:
    """The untraced run: spans cost one generator frame, nothing else."""

    enabled = False

    @contextmanager
    def span(self, layer: str, name: str = "", **attrs):
        yield {"attrs": attrs}

    def collect(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pending: list[dict] = []
        self._seen_stages: set[int] = set()
        self.bookkeeping_s = 0.0
        self._patched: list[tuple] = []

    # -- spans --------------------------------------------------------
    def record(self, layer: str, name: str, t0: float, t1: float) -> None:
        """A span for a call made before the tracer existed."""
        self.spans.append(
            {"id": len(self.spans), "layer": layer, "name": name, "parent": None,
             "op": "setup", "attrs": {}, "jobs": [], "t0": t0, "t1": t1}
        )

    @contextmanager
    def span(self, layer: str, name: str = "", **attrs):
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "layer": layer,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else attrs.pop("op", None),
            "attrs": attrs,
            "jobs": [],
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._pending.append(sp)
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb{sp['id']}")
        self.bookkeeping_s += time.perf_counter() - b0
        sp["t0"] = time.time()
        try:
            yield sp
        finally:
            sp["t1"] = time.time()
            b1 = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", f"pb{parent['id']}" if parent else None
            )
            self.bookkeeping_s += time.perf_counter() - b1

    def patch(self) -> None:
        """Wrap the engine functions in ``PATCHES`` everywhere they are
        bound: the defining module and every module that imported the
        name."""
        import importlib

        for mod_name, attr, layer in PATCHES:
            orig = getattr(importlib.import_module(mod_name), attr)
            wrapped = self._wrap(layer, attr, orig)
            for m in list(sys.modules.values()):
                for k, v in list(getattr(m, "__dict__", {}).items()):
                    if v is orig:
                        setattr(m, k, wrapped)
                        self._patched.append((m, k, orig))
        from temp_data_pipeline_spark.sql import SqlEngine

        orig_sql = SqlEngine.sql
        tracer = self

        @functools.wraps(orig_sql)
        def sql(engine, statement):
            verb = statement.strip().split(None, 1)[0].upper()
            with tracer.span("sql", "plan:" + verb, kind="plan"):
                return orig_sql(engine, statement)

        SqlEngine.sql = sql
        self._patched.append((SqlEngine, "sql", orig_sql))

    def unpatch(self) -> None:
        for owner, k, orig in reversed(self._patched):
            setattr(owner, k, orig)
        self._patched.clear()

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if name != "commit_version":
                with tracer.span(layer, name):
                    return fn(*args, **kwargs)
            b0 = time.perf_counter()
            path = kwargs.get("path", args[1] if len(args) > 1 else None)
            files0 = table_files(path)
            tracer.bookkeeping_s += time.perf_counter() - b0
            with tracer.span(layer, name) as sp:
                out = fn(*args, **kwargs)
            b1 = time.perf_counter()
            new = {
                k: v for k, v in table_files(path).items()
                if k not in files0 and not os.path.basename(k).startswith(".")
            }
            sp["attrs"].update(files_written=len(new), bytes_written=sum(new.values()))
            tracer.bookkeeping_s += time.perf_counter() - b1
            return out

        return wrapper

    # -- counters -----------------------------------------------------
    def _drain(self) -> None:
        try:
            self._bus.waitUntilEmpty()
        except Exception:  # noqa: BLE001 - older signature takes a timeout
            self._bus.waitUntilEmpty(60_000)

    def collect(self) -> None:
        """Attach job and stage counters to every span closed since the
        last call. Call between operations, outside any span."""
        b0 = time.perf_counter()
        self._drain()
        tracker = self.sc._jsc.sc().statusTracker()
        for sp in self._pending:
            for jid in tracker.getJobIdsForGroup(f"pb{sp['id']}"):
                sp["jobs"].append(self._job(int(jid)))
        self._pending = [s for s in self._pending if "t1" not in s]
        self.bookkeeping_s += time.perf_counter() - b0

    def _job(self, jid: int) -> dict:
        j = self._store.job(jid)
        sub, comp = j.submissionTime(), j.completionTime()
        out = {
            "id": jid,
            "t0": sub.get().getTime() / 1e3 if sub.isDefined() else None,
            "t1": comp.get().getTime() / 1e3 if comp.isDefined() else None,
            "tasks": 0,
            "cpu_ns": 0,
            "input_bytes": 0,
            "input_records": 0,
            "output_records": 0,
            "shuffle_bytes": 0,
            "spill_bytes": 0,
            "stages": 0,
        }
        it = j.stageIds().iterator()
        while it.hasNext():
            sid = int(str(it.next()))
            if sid in self._seen_stages:
                continue
            try:
                s = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - a stage that never ran
                continue
            if str(s.status()) == "SKIPPED":
                continue
            self._seen_stages.add(sid)
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["cpu_ns"] += s.executorCpuTime()
            out["input_bytes"] += s.inputBytes()
            out["input_records"] += s.inputRecords()
            out["output_records"] += s.outputRecords()
            out["shuffle_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out

    # -- aggregation --------------------------------------------------
    def layer_metrics(self, overhead_ratio: float) -> dict[str, float]:
        """Per-layer totals over every closed span; wall_s is self time
        (the span minus its child spans). ``sql.plan_s`` counts SELECT
        statements only; MERGE and DELETE statements, which commit
        before ``sql()`` returns, go to ``sql.dml_s``."""
        child_wall = defaultdict(float)
        for sp in self.spans:
            if sp["parent"] is not None:
                child_wall[sp["parent"]] += sp["t1"] - sp["t0"]
        m = {f"{layer}.{k}": 0.0 for layer in LAYERS for k, _u in LAYER_METRICS}
        commits = files = nbytes = 0
        plan_s = exec_s = dml_s = in_rows = out_rows = 0.0
        clean_in = clean_out = 0.0
        for sp in self.spans:
            layer = sp["layer"]
            if layer not in LAYERS:
                continue
            wall = sp["t1"] - sp["t0"]
            self_wall = max(0.0, wall - child_wall[sp["id"]])
            jobs = sp["jobs"]
            busy = _union_len(
                (max(j["t0"], sp["t0"]), min(j["t1"], sp["t1"]))
                for j in jobs
                if j["t0"] is not None and j["t1"] is not None and j["t1"] > j["t0"]
            )
            p = layer + "."
            m[p + "wall_s"] += self_wall
            m[p + "calls"] += 1
            m[p + "jobs"] += len(jobs)
            m[p + "tasks"] += sum(j["tasks"] for j in jobs)
            m[p + "cpu_s"] += sum(j["cpu_ns"] for j in jobs) / 1e9
            m[p + "input_bytes"] += sum(j["input_bytes"] for j in jobs)
            m[p + "shuffle_bytes"] += sum(j["shuffle_bytes"] for j in jobs)
            m[p + "driver_gap_s"] += max(0.0, self_wall - busy)
            a = sp["attrs"]
            if "files_written" in a:
                commits += 1
                files += a["files_written"]
                nbytes += a["bytes_written"]
            if layer == "sql":
                if a.get("kind") == "exec":
                    exec_s += wall
                    in_rows += sum(j["input_records"] for j in jobs)
                    out_rows += a.get("result_rows", 0)
                elif sp["name"] == "plan:SELECT":
                    plan_s += wall
                else:  # MERGE and DELETE run their commit inside sql()
                    dml_s += wall
            if "rows_in" in a:
                clean_in += a["rows_in"]
                clean_out += sum(j["output_records"] for j in jobs)
        m["operators.versioned.files_written_per_commit"] = files / commits if commits else 0.0
        m["operators.versioned.bytes_written_per_commit"] = nbytes / commits if commits else 0.0
        m["sql.plan_s"] = plan_s
        m["sql.exec_s"] = exec_s
        m["sql.dml_s"] = dml_s
        m["sql.input_rows_per_result_row"] = in_rows / out_rows if out_rows else 0.0
        m["operators.clean_hourly.rows_out_per_in"] = clean_out / clean_in if clean_in else 0.0
        m["trace.overhead_ratio"] = overhead_ratio
        return m

    def self_time_by_op(self) -> dict:
        """Per top-level operation: wall, and the sum of layer self
        times under it (the blocking path: one client, one thread)."""
        out: dict = {}
        child_wall = defaultdict(float)
        for sp in self.spans:
            if sp["parent"] is not None:
                child_wall[sp["parent"]] += sp["t1"] - sp["t0"]
        for sp in self.spans:
            op = sp["op"]
            if op is None:
                continue
            d = out.setdefault(op, {"wall_s": 0.0, "layer_self_s": 0.0})
            if sp["parent"] is None:
                d["wall_s"] += sp["t1"] - sp["t0"]
            if sp["layer"] in LAYERS:
                d["layer_self_s"] += max(0.0, sp["t1"] - sp["t0"] - child_wall[sp["id"]])
        return out

    def dump_spans(self) -> list[dict]:
        return [
            {
                "id": s["id"],
                "layer": s["layer"],
                "name": s["name"],
                "parent": s["parent"],
                "op": s["op"],
                "t0": s["t0"],
                "t1": s["t1"],
                "jobs": [j["id"] for j in s["jobs"]],
                "attrs": s["attrs"],
            }
            for s in self.spans
        ]
