"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — every implemented operator family from SURVEY.md §2
(declared conformance queries + LLM-data-pipeline operators).
``oracle_sql()`` — DuckDB-equivalent SQL per query (omitted only for
genuinely non-SQL-expressible operators, which the driver checks
rows-only).
"""

from __future__ import annotations

import json
import re
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _all_specs():
    # Plain imports on purpose: a plan module that fails to import must
    # fail queries() and oracle_sql(), not silently drop its queries.
    from temp_data_pipeline_spark.plans.declared import DECLARED_QUERIES
    from temp_data_pipeline_spark.plans.function_queries import FUNCTION_QUERIES
    from temp_data_pipeline_spark.plans.llm_queries import LLM_QUERIES
    from temp_data_pipeline_spark.plans.pipeline_queries import PIPELINE_QUERIES
    from temp_data_pipeline_spark.plans.relational_queries import RELATIONAL_QUERIES
    from temp_data_pipeline_spark.plans.streaming_queries import STREAMING_QUERIES
    from temp_data_pipeline_spark.plans.temporal_queries import TEMPORAL_QUERIES

    return {
        **DECLARED_QUERIES,
        **LLM_QUERIES,
        **PIPELINE_QUERIES,
        **FUNCTION_QUERIES,
        **STREAMING_QUERIES,
        **TEMPORAL_QUERIES,
        **RELATIONAL_QUERIES,
    }


# The driver snapshots the FIRST 50 entries of queries() each round.
# To keep cumulative coverage fresh, order mechanically by how stale a
# query's last green driver record is:
#   priority 0 — no green record, or in _RECHECK (implementation or its
#                inputs changed since its last green record);
#   priority N — latest green record in CORRECTNESS_r{N}.json (oldest
#                first).
# Ties keep registration order.  If priority-0 entries alone overflow
# the window, loudly warn — silent truncation is how regressions hide.
_DRIVER_WINDOW = 50


def _latest_green() -> dict[str, int]:
    """name -> latest round N whose CORRECTNESS_r{N}.json record matched
    on rows, schema and hash with no error."""
    latest: dict[str, int] = {}
    for path in Path(_REPO).glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m is None:
            continue
        for name, rec in json.loads(path.read_text()).items():
            green = rec.get("err") is None and all(
                rec.get(k) is True for k in ("rows_match", "schema_match", "hash_match")
            )
            if green:
                latest[name] = max(latest.get(name, 0), int(m.group(1)))
    return latest


_LATEST_GREEN = _latest_green()

# Queries whose implementation or inputs changed after their latest
# green record: they re-enter the window until a newer record lands.
# Drop an entry once CORRECTNESS_r{N}.json shows it green again.
_RECHECK: list[str] = []


def _ordered_specs():
    specs = _all_specs()
    recheck = set(_RECHECK)
    prio = {n: 0 if n in recheck else _LATEST_GREEN.get(n, 0) for n in specs}
    names = sorted(specs, key=prio.__getitem__)  # stable: ties keep registration order
    urgent = sum(1 for n in names if prio[n] == 0)
    if urgent > _DRIVER_WINDOW:
        print(
            f"WARNING: {urgent} unverified/recheck queries exceed the "
            f"{_DRIVER_WINDOW}-slot driver window; tail entries get no "
            "fresh record this round",
            file=sys.stderr,
        )
    return {n: specs[n] for n in names}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Uses q_agg (the TPC-H Q1 shape): scan → partial agg → shuffle →
    final agg → sort, i.e. every structural layer of the engine.
    """
    from temp_data_pipeline_spark.plans.declared import DECLARED_QUERIES

    return DECLARED_QUERIES["q_agg"].builder(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.builder for name, spec in _ordered_specs().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query key (same parquet views)."""
    return {
        name: spec.oracle
        for name, spec in _ordered_specs().items()
        if spec.oracle is not None
    }
