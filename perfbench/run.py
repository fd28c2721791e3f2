"""End-to-end benchmark of the temperature pipeline engine.

    python3 perfbench/run.py --workload pipeline_full --seed 1 --seconds 4 --trace 0

Runs one workload (workloads.py) in this process with one closed-loop
client on ``local[<nproc>]``, through the engine's own
``session.get_spark`` with ``SPARK_GRAFT_CPUS=<nproc>`` and no session
config of its own. Inputs come from ``--seed``; every output is checked
against a pandas oracle (oracle.py) and a failed check exits 1.

The last line of stdout is one compact JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run tags
every call into an engine layer with a span (spans.py) and reports the
per-layer counters instead. Per-operation samples, percentiles, the
effective session config, host conditions and (traced) spans go to
``.perfbench/results/<workload>-s<seed>-t<trace>.json``.

Every end-to-end time is host-adjusted: the wall time times ``REF_S``
over the median wall time of the run's reference jobs (a fixed Spark job
run before every recorded operation, workloads.Ctx.reference). On a
4-vCPU VM of a shared host the same code ran up to 1.7x slower in one
run than in another, on every operation alike, and the reference job
slowed with it. The raw wall times and reference times are in the
artifact; the per-layer metrics of a traced run are not adjusted.

Files are written only under ``.perfbench/`` in the current directory
(the JVM's scratch and temp dirs included); the work dir is removed
and the JVM stopped before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = (
    ("setup_s", "s"),
    ("pipeline_rows_per_s", "rows/s"),
    ("append_p50_s", "s"),
    ("merge_p50_s", "s"),
    ("delete_p50_s", "s"),
    ("read_after_write_p50_s", "s"),
    ("reads_per_s", "1/s"),
    ("bytes_per_user_byte", "ratio"),
)
# over every sample, not a median: a run has a few of each read kind
MEANS = ("reads_per_s", "bytes_per_user_byte")
# operation kind -> the end-to-end metric of its median time
OP_METRICS = {
    "append": "append_p50_s",
    "merge": "merge_p50_s",
    "delete": "delete_p50_s",
    "read_after_write": "read_after_write_p50_s",
}
# the reference job's wall time on a quiet 4-vCPU host: the scale of
# every host-adjusted time
REF_S = 0.07
# reported by traced runs only: a tail needs >= 10 samples beyond it
# and no run has that many writes; the matview refresh runs on sql_reads
# only (0 elsewhere); the JVM's peak RSS follows its heap growth
# (2.1-2.9 GB on the same code)
TRACED_E2E = (
    ("refresh_s", "s"),
    ("write_tail_s", "s"),
    ("read_tail_s", "s"),
    ("peak_rss_mb", "MB"),
)
WRITES = ("append", "merge", "delete")
# the reads of the read-only phase; a read back after a write is not one
READS = ("point", "scan", "version", "view")
# the per-layer metrics the result line carries (every layer's full set
# is in the artifact): the ones the optimisations this benchmark is for
# should move, kept under the 2000-character line
PER_LAYER = (
    "session.wall_s",
    "sources.wall_s",
    "operators.clean_hourly.wall_s",
    "operators.clean_hourly.shuffle_bytes",
    "operators.clean_hourly.rows_out_per_in",
    "operators.daily_tmax.wall_s",
    "operators.features.wall_s",
    "eval.jobs",
    "eval.driver_gap_s",
    "eval.report.wall_s",
    "operators.versioned.jobs",
    "operators.versioned.driver_gap_s",
    "operators.versioned.files_written_per_commit",
    "operators.versioned.bytes_written_per_commit",
    "operators.merge.wall_s",
    "operators.deletion_vectors.wall_s",
    "operators.matview.wall_s",
    "sql.plan_s",
    "sql.exec_s",
    "sql.tasks",
    "sql.input_rows_per_result_row",
    "trace.overhead_ratio",
    "refresh_s",
    "write_tail_s",
    "read_tail_s",
    "peak_rss_mb",
)
CONFIG_KEYS = (
    "spark.master",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.session.timeZone",
)


def tail(values: list[float]) -> tuple[float, float | None]:
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile); the maximum with percentile None when the
    sample is too small to have one."""
    n = len(values)
    if n < 11:
        return max(values), None
    pct = 100.0 * (n - 10) / n
    return statistics.quantiles(values, n=100, method="inclusive")[max(0, int(pct) - 1)], int(pct)


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop: host steal shows here."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole VM since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(base: str) -> None:
    """Keep Spark's scratch, the JVM's temp dir and Python's temp dir
    under ``base``; size the session to the host's cores."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(base, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(base, "spark-local")
    os.environ["TMPDIR"] = os.path.join(base, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(base, 'tmp')}' pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None


def jvm_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - still alive: kill and reap
                proc.kill()
                proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(ctx, session_s: float, rss_mb: float) -> tuple[dict, dict]:
    """Metric values plus per-metric detail (samples, percentile)."""
    s = ctx.samples
    med = statistics.median
    scale = REF_S / med(ctx.refs)  # host-adjusted seconds per wall second
    writes = [x for k in WRITES for x in s[k]]
    reads = [x for k in READS for x in s[k]]
    vals = {
        "setup_s": ((session_s + med(ctx.setup_builds)) * scale, len(ctx.setup_builds)),
        "pipeline_rows_per_s": (ctx.counts["pipeline_rows"] / (med(s["pipeline"]) * scale), len(s["pipeline"])),
        "reads_per_s": (len(reads) / (sum(reads) * scale), len(reads)),
        "bytes_per_user_byte": (ctx.counts["bytes_per_user_byte"], 1),
    }
    vals.update({name: (med(s[kind]) * scale, len(s[kind])) for kind, name in OP_METRICS.items()})
    detail = {k: {"value": v, "samples": n, "percentile": None if k in MEANS else 50} for k, (v, n) in vals.items()}
    detail["reference"] = {"median_s": med(ctx.refs), "samples": len(ctx.refs), "scale": scale}
    # the unadjusted wall times, and every kind's median
    detail["wall"] = {
        "setup_s": session_s + med(ctx.setup_builds),
        "pipeline_rows_per_s": ctx.counts["pipeline_rows"] / med(s["pipeline"]),
        "write_ops_per_min": 60.0 * len(writes) / sum(writes),
        "reads_per_s": len(reads) / sum(reads),
        **{f"{kind}_p50_s": med(xs) for kind, xs in s.items() if xs},
    }
    for name, xs in (("write_tail_s", writes), ("read_tail_s", reads)):
        v, pct = tail(xs)
        detail[name] = {"value": v, "samples": len(xs), "percentile": pct}
    detail["peak_rss_mb"] = {"value": rss_mb, "samples": 1, "percentile": None}
    refresh = s["refresh"]
    detail["refresh_s"] = {"value": med(refresh) if refresh else 0.0, "samples": len(refresh), "percentile": 50}
    return {k: v for k, (v, _n) in vals.items()}, detail


def trace_overhead(results: str, workload: str, size: str, samples: dict) -> tuple[float | None, int]:
    """The traced run's time over what the same operations took
    untraced: each traced op kind's samples against the median of that
    kind in every untraced artifact of the workload in ``results``.
    Returns (ratio, untraced artifacts used); ratio None without any."""
    import glob

    base: dict[str, list[float]] = {}
    used = 0
    for f in sorted(glob.glob(os.path.join(results, f"{workload}-s*-t0.json"))):
        with open(f) as fh:
            a = json.load(fh)
        if a.get("size") != size:
            continue
        used += 1
        for k, xs in a["samples"].items():
            base.setdefault(k, []).extend(xs)
    traced = untraced = 0.0
    for k, xs in samples.items():
        if base.get(k):
            traced += sum(xs)
            untraced += len(xs) * statistics.median(base[k])
    return (traced / untraced if untraced else None), used


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", help="input size preset: full or tiny")
    args = ap.parse_args(argv)

    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    results = os.path.join(base, "results")
    prepare_env(work)
    sys.path[:0] = [HERE, ROOT]

    # the engine and the workloads import before any JVM starts, so a
    # checkout without the engine fails fast and prints no result
    try:
        import workloads as wl
    except ImportError as e:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    from spans import EXTRA_METRICS, LAYER_METRICS, LAYERS, NullTracer, Tracer

    os.makedirs(results, exist_ok=True)

    if args.workload not in wl.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}")
    host = {
        "nproc": nproc(),
        "loadavg_1m_start": os.getloadavg()[0],
        "cpu_probe_s": cpu_probe(),
    }
    steal0 = steal_ticks()

    from temp_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    t0_wall = time.time()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = NullTracer()
        if args.trace:
            tracer = Tracer(spark)
            tracer.record("session", "get_spark", t0_wall, t0_wall + session_s)
            tracer.patch()
        ctx = wl.Ctx(spark, work, args.seed, wl.SIZES[args.size], tracer, args.seconds)
        t_run = time.perf_counter()
        info = wl.WORKLOADS[args.workload](ctx)
        run_s = time.perf_counter() - t_run
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024 + jvm_rss_mb(spark)
        config = {k: spark.conf.get(k, None) for k in CONFIG_KEYS}
        correct, error = True, None
    except wl.oracle.CheckFailed as e:
        correct, error = False, str(e)
    finally:
        if args.trace:
            tracer.unpatch()
        host["loadavg_1m_end"] = os.getloadavg()[0]
        steal1 = steal_ticks()
        host["steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = ctx.attempted(), len(ctx.failures)
    if not correct:
        print(f"perfbench: output check failed: {error}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": max(attempted, 1), "failed": failed, "metrics": {}}))
        return 1

    values, detail = end_to_end(ctx, session_s, rss_mb)
    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "size": args.size,
        "trace": args.trace,
        "host": host,
        "session_config": config,
        "session_start_s": session_s,
        "setup_builds_s": ctx.setup_builds,
        "window_s": ctx.window_s,
        "run_s": run_s,
        "info": info,
        "error_rate": failed / attempted,
        "failures": ctx.failures,
        "hashes": ctx.hashes,
        "samples": dict(ctx.samples),
        "reference_s": ctx.refs,
        "end_to_end": detail,
    }
    if args.trace:
        # tracing overhead against untraced runs of the same workload in
        # this directory; without one, the tracer's own bookkeeping
        # (span tagging, counter collection, table listings) over the
        # traced run's time, plus one
        overhead, used = trace_overhead(results, args.workload, args.size, ctx.samples)
        artifact["overhead_basis"] = f"untraced artifacts: {used}" if overhead else "bookkeeping"
        if overhead is None:
            overhead = 1.0 + tracer.bookkeeping_s / max(run_s - tracer.bookkeeping_s, 1e-9)
        per_layer = tracer.layer_metrics(overhead)
        for k, _u in TRACED_E2E:
            per_layer[k] = detail[k]["value"]
        units = {f"{layer}.{k}": u for layer in LAYERS for k, u in LAYER_METRICS}
        units.update(dict(EXTRA_METRICS))
        units.update(dict(TRACED_E2E))
        metrics = {k: {"value": per_layer[k], "unit": units[k]} for k in PER_LAYER}
        artifact["per_layer"] = per_layer
        ops = tracer.self_time_by_op()
        artifact["ops"] = ops
        artifact["blocking_path"] = {
            "op_wall_s": sum(o["wall_s"] for o in ops.values()),
            "layer_self_s": sum(o["layer_self_s"] for o in ops.values()),
        }
        artifact["spans"] = tracer.dump_spans()
    else:
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    out = os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(out, "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    print(json.dumps({"correct": True, "attempted": attempted, "failed": failed, "metrics": metrics}, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
