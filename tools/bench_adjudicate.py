"""Bench-spike adjudication: five-run isolated timing + pure-CPU probe.

Implements SURVEY §6's noisy-host protocol for a handful of suspect
queries: before every timed run, a pure-numpy matmul probe measures
ambient CPU steal; each query then runs N times (noop sink, block
hygiene between runs, exactly as bench.py times it).  A run whose
probe is inflated is flagged so slow readings can be attributed to
the host rather than the code.

Usage:
  python tools/bench_adjudicate.py --repo /root/repo \
      --queries llm_embed_neardup,llm_ivf_index_topk --runs 5

``--repo`` points at the tree whose engine should be imported — pass a
worktree checkout of an older tip for A/B runs.  The script itself is
tree-independent (no imports from the repo at module level).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import pandas as pd  # module-level: pandas_udf type hints resolve here


def probe_seconds(n: int = 768, reps: int = 12) -> float:
    """Pure-CPU matmul probe; single-thread-ish, ~0.3 s on an idle host."""
    import numpy as np

    a = np.random.default_rng(0).standard_normal((n, n))
    t0 = time.perf_counter()
    for _ in range(reps):
        a = a @ a / n  # keep values bounded
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--queries", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--label", default="")
    args = ap.parse_args()

    repo = os.path.abspath(args.repo)
    sys.path.insert(0, repo)
    names = [q.strip() for q in args.queries.split(",") if q.strip()]

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("bench-adjudicate")
        .config("spark.sql.shuffle.partitions", args.cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        # the same cached-plan setting bench.py measures with, so an
        # A/B run here judges the configuration the bench reported
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    queries = entrymod.queries()

    # Warm-up (mirrors bench.py's: scan, Arrow-UDF numpy import,
    # grouped-map path, joins/windows) so run 1 isn't charged for JIT.
    spark.read.parquet(f"{args.sf_dir}/region.parquet").count()
    spark.range(1000).join(spark.range(1000), "id").count()
    spark.range(100).mapInPandas(lambda it: it, "id long").count()
    spark.range(100).groupBy((F.col("id") % 4).alias("g")).applyInPandas(
        lambda pdf: pdf[["id"]], "id long"
    ).count()

    @F.pandas_udf("double")
    def _warm_np(v: pd.Series) -> pd.Series:
        import numpy as np

        return v * float(np.float64(1.0))

    spark.range(2000).repartition(int(args.cpus)).select(
        _warm_np(F.col("id").cast("double"))
    ).write.mode("overwrite").format("noop").save()

    def _release_blocks() -> None:
        try:
            for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
                jrdd.unpersist(True)
            spark.catalog.clearCache()
        except Exception as exc:  # noqa: BLE001
            print(f"CLEANUP: {exc}", file=sys.stderr)

    results: dict[str, dict] = {}
    for name in names:
        if name not in queries:
            print(f"SKIP unknown query {name}", file=sys.stderr)
            continue
        runs = []
        for i in range(args.runs):
            p = probe_seconds()
            load = round(os.getloadavg()[0], 2)
            t0 = time.perf_counter()
            queries[name](spark, args.sf_dir).write.mode("overwrite").format("noop").save()
            t = round(time.perf_counter() - t0, 3)
            _release_blocks()
            runs.append({"t": t, "probe": p, "load_1m": load})
            print(f"  {name} run {i+1}: {t}s (probe {p}s, load {load})", file=sys.stderr)
        results[name] = {
            "runs": runs,
            "min": min(r["t"] for r in runs),
            "median": sorted(r["t"] for r in runs)[len(runs) // 2],
        }

    payload = {
        "label": args.label or repo,
        "repo": repo,
        "sf_dir": args.sf_dir,
        "results": results,
    }
    print(json.dumps(payload, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
