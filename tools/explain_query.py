"""Dump `.explain("formatted")` for declared queries to files.

Usage:
  python tools/explain_query.py q_delete_mor q_cdf_keyed \
      [--out plans/r11] [--suffix before|after] \
      [--sf-dir /root/testdata/sf0.01] [--cpus 32] \
      [--entry /root/repo/__spark_entry__.py]

Runs on the engine's session (``session.get_spark``, ``--cpus``
cores). Builds each declared query's DataFrame (running whatever lifecycle
commits the builder performs) and writes the FORMATTED physical plan
of the returned frame to <out>/<name>_<suffix>.txt — the evidence
files the optimization rounds commit alongside plan claims.
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--out", default=os.path.join(_REPO, "plans", "r11"))
    ap.add_argument("--suffix", default="after")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument(
        "--entry", default=os.path.join(_REPO, "__spark_entry__.py")
    )
    args = ap.parse_args()

    entry_dir = str(Path(args.entry).resolve().parent)
    if entry_dir not in sys.path:
        sys.path.insert(0, entry_dir)

    # the engine's own session (Arrow, broadcast threshold, cached-plan
    # setting), so the dumped plans are the plans the engine runs; the
    # core count is read when the session module is imported
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    from temp_data_pipeline_spark.session import get_spark

    spark = get_spark("explain-query")
    spark.sparkContext.setLogLevel("ERROR")

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", args.entry
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    queries = mod.queries()

    os.makedirs(args.out, exist_ok=True)
    for name in args.names:
        df = queries[name](spark, args.sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        dest = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(dest, "w") as fh:
            fh.write(plan)
        print(f"wrote {dest} ({len(plan)} bytes)")
        try:
            for jrdd in list(
                spark.sparkContext._jsc.getPersistentRDDs().values()
            ):
                jrdd.unpersist(True)
            spark.catalog.clearCache()
        except Exception:
            pass
    spark.stop()


if __name__ == "__main__":
    main()


