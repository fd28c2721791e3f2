"""Declared conformance queries (SURVEY.md §2.12).

Each query exercises one family of the reference's operator inventory
(SURVEY §2) and is paired with an ANSI-SQL oracle that DuckDB runs on
the same parquet tables. Spark side and oracle side use the *same
expression text* wherever floats are involved, so both engines perform
the identical double arithmetic before the final ROUND — the only
remaining divergence source is aggregation order (mitigated by the
2-decimal round declared in SURVEY §2.12).

Scale notes are attached per query: what shuffles, what broadcasts,
what prunes. These are the plans reviewed with `.explain("formatted")`
in tests/test_plans.py.

Adding a conformance query: each plan module binds its public
``*_QUERIES`` dict once with ``_register = registrar(TABLE)`` and
decorates a ``(spark, sf_dir) -> DataFrame`` builder with
``@_register(name, families, oracle, note=...)``;
``__spark_entry__._all_specs`` imports each module's table. A builder that
needs files on disk (a versioned table, a stream checkpoint) adds
``@scratch_table(prefix)`` under the registration and takes the
directory as a third argument: the helper owns the directory, removes
it on success and on error, and ``localCheckpoint()``s the returned
frame first, so the builder just returns its lazy result. The oracle
is DuckDB SQL over the same parquet views; it must alias every column
exactly as the Spark side does, round computed floats with the shared
``_rnd``/``_rnd_sql`` formula on both sides, and cast HUGEINT sums to
BIGINT. The oracle text is what the conformance check runs in DuckDB,
so a refactor of a builder must leave it (and its families and note)
byte-identical.
"""

from __future__ import annotations

import functools
import math
import shutil
import tempfile
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from temp_data_pipeline_spark.sources.registry import load_table


@dataclass(frozen=True)
class QuerySpec:
    """One conformance query: Spark builder + DuckDB oracle SQL."""

    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → non-SQL-expressible, rows-only check
    families: tuple[str, ...] = field(default=())  # SURVEY §2 operator ids
    note: str = ""


def registrar(table: dict[str, QuerySpec]):
    """Return the ``register(name, families, oracle, note="")``
    decorator that records builders into ``table`` in definition
    order (ties in the ``queries()`` order keep it)."""

    def register(name, families, oracle, note=""):
        def deco(fn):
            table[name] = QuerySpec(
                name=name, builder=fn, oracle=oracle, families=tuple(families), note=note
            )
            return fn

        return deco

    return register


def scratch_table(prefix: str):
    """Run a ``(spark, sf_dir, scratch)`` builder in a fresh scratch
    directory and expose it as a ``(spark, sf_dir)`` builder.

    The returned frame is materialized with ``localCheckpoint()`` BEFORE
    the directory is removed (a lazy frame over deleted files would fail
    at collect), and the directory is removed whether the builder
    returns or raises.
    """

    def deco(fn):
        @functools.wraps(fn)
        def builder(spark: SparkSession, sf_dir: str) -> DataFrame:
            scratch = tempfile.mkdtemp(prefix=prefix)
            try:
                return fn(spark, sf_dir, scratch).localCheckpoint()
            finally:
                shutil.rmtree(scratch, ignore_errors=True)

        return builder

    return deco


DECLARED_QUERIES: dict[str, QuerySpec] = {}
_register = registrar(DECLARED_QUERIES)


# --------------------------------------------------------------------------
# Cross-engine deterministic rounding
# --------------------------------------------------------------------------
# Spark ROUND (BigDecimal HALF_UP on the exact binary value) and DuckDB
# ROUND (float multiply + nearbyint) disagree on boundary values like
# x.xx5, which breaks value-hash comparison. Both sides therefore use
# the identical pure-double formula FLOOR(x*10^p + 0.5)/10^p — the same
# IEEE-754 ops in the same order produce bit-identical doubles in any
# engine.


def _rnd(c, p: int = 2):
    scale = float(10**p)
    return F.floor(c * scale + F.lit(0.5)) / scale


def _rnd_sql(expr: str, p: int = 2) -> str:
    scale = float(10**p)
    return f"FLOOR(({expr}) * {scale} + 0.5) / {scale}"


def presorted(df: DataFrame, *keys: str) -> DataFrame:
    """Globally order by unique `keys` BEFORE expensive projections.

    ``orderBy`` placed after a computed projection executes the whole
    child twice: once for the range-partitioner's sample pass, once
    for the real run. Range-partition + in-partition sort on the cheap
    scan instead, then add the expensive columns; per-partition order
    and ordered partition ranges together give the same global order
    (keys must be unique), and the sampler only re-reads the scan.

    The partition count is explicit (AQE leaves user-specified numbers
    alone): without it, adaptive coalescing folds the small-by-bytes
    shuffle back to one partition and the CPU-bound projection that
    follows runs on one core.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartitionByRange(n, *[F.col(k) for k in keys]).sortWithinPartitions(
        *[F.col(k) for k in keys]
    )


# --------------------------------------------------------------------------
# Scans
# --------------------------------------------------------------------------


@_register(
    "q_scan",
    ["S1"],
    "SELECT COUNT(*) AS n FROM lineitem",
    note="Full-table count; at scale this is metadata-only per row group.",
)
def q_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n"))


# --------------------------------------------------------------------------
# Filters / projections
# --------------------------------------------------------------------------


@_register(
    "q_filter",
    ["P2", "P3", "P4", "P5", "P6", "P7"],
    """
    SELECT l_orderkey, l_linenumber FROM lineitem
    WHERE l_quantity >= 30 AND l_discount BETWEEN 0.02 AND 0.06
    ORDER BY l_orderkey, l_linenumber
    """,
    note="Both predicates push into the parquet scan (PushedFilters).",
)
def q_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_quantity") >= 30) & F.col("l_discount").between(0.02, 0.06))
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    )


@_register(
    "q_project",
    ["P1", "F1"],
    """
    SELECT l_orderkey, l_linenumber,
           FLOOR((l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) / 100.0 AS disc_price
    FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
    note="Projection-only: ReadSchema must be exactly 4 columns.",
)
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _rnd(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("disc_price"),
    ).orderBy("l_orderkey", "l_linenumber")


@_register(
    "q_case",
    ["P9", "P10", "P11", "F13"],
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 200000 THEN 'big'
                WHEN o_totalprice > 50000 THEN 'mid'
                ELSE 'small' END AS bucket
    FROM orders ORDER BY o_orderkey
    """,
)
def q_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 200000, F.lit("big"))
        .when(F.col("o_totalprice") > 50000, F.lit("mid"))
        .otherwise(F.lit("small"))
        .alias("bucket"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# Dedup
# --------------------------------------------------------------------------


@_register(
    "q_dedup",
    ["D1", "D2", "D3"],
    "SELECT DISTINCT c_nationkey FROM customer ORDER BY c_nationkey",
    note="distinct = partial-agg then exchange on the key; tiny output.",
)
def q_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select("c_nationkey").distinct().orderBy("c_nationkey")


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------


@_register(
    "q_join",
    ["J1", "J2"],
    """
    SELECT c.c_custkey, FLOOR((SUM(o.o_totalprice)) * 100.0 + 0.5) / 100.0 AS total
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey ORDER BY c.c_custkey
    """,
    note=(
        "Fact-fact equi-join. At 100 TB both sides shuffle on the key; "
        "AQE picks SMJ vs broadcast by runtime size. Aggregation is "
        "partial (map-side) before the exchange."
    ),
)
def q_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "inner")
        .groupBy("c_custkey")
        .agg(_rnd(F.sum("o_totalprice")).alias("total"))
        .orderBy("c_custkey")
    )


@_register(
    "q_multijoin",
    ["J1", "J3"],
    """
    SELECT n.n_name, COUNT(*) AS cnt
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name ORDER BY n.n_name
    """,
    note="nation/region are dims → both broadcast; zero shuffles before the agg.",
)
def q_multijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# Aggregations
# --------------------------------------------------------------------------


@_register(
    "q_agg",
    ["A1", "A2", "A3", "A4", "A5"],
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           FLOOR((SUM(l_quantity)) * 100.0 + 0.5) / 100.0 AS sq,
           FLOOR((AVG(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS ap,
           FLOOR((MAX(l_tax)) * 100.0 + 0.5) / 100.0 AS mt,
           COUNT(DISTINCT l_suppkey) AS ds
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    note="TPC-H Q1 shape: one shuffle on the grouping key, partial aggs map-side.",
)
def q_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _rnd(F.sum("l_quantity")).alias("sq"),
            _rnd(F.avg("l_extendedprice")).alias("ap"),
            _rnd(F.max("l_tax")).alias("mt"),
            F.countDistinct("l_suppkey").alias("ds"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@_register(
    "q_bitor",
    ["A2", "F8"],
    """
    SELECT l_orderkey, CAST(BIT_OR(l_linenumber) AS BIGINT) AS flags
    FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey
    """,
    note="The reference's only custom aggregate (qc-flag OR rollup) is a Spark built-in.",
)
def q_bitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.expr("CAST(bit_or(l_linenumber) AS BIGINT)").alias("flags"))
        .orderBy("l_orderkey")
    )


# --------------------------------------------------------------------------
# Window functions (causal semantics — SURVEY §2.6)
# --------------------------------------------------------------------------

def _w_cust():
    # Per-customer event-time order; one shuffle on the partition key.
    return Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")


@_register(
    "q_window_lag",
    ["W1", "W5"],
    """
    SELECT o_custkey, o_orderkey,
           o_orderkey - LAG(o_orderkey, 1) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS d
    FROM orders ORDER BY o_custkey, o_orderkey
    """,
    note="lag() ≙ spike-detect / persistence-lag; one shuffle on the partition key.",
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        (F.col("o_orderkey") - F.lag("o_orderkey", 1).over(_w_cust())).alias("d"),
    ).orderBy("o_custkey", "o_orderkey")


@_register(
    "q_window_roll",
    ["W2", "W3"],
    """
    SELECT o_custkey, o_orderkey,
           FLOOR((AVG(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) * 100.0 + 0.5) / 100.0 AS b7
    FROM orders ORDER BY o_custkey, o_orderkey
    """,
    note="Causal row window: rowsBetween(-7,-1) — the reference's shift(1).rolling(7).",
)
def q_window_roll(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = _w_cust().rowsBetween(-7, -1)
    return o.select(
        "o_custkey",
        "o_orderkey",
        _rnd(F.avg("o_totalprice").over(w)).alias("b7"),
    ).orderBy("o_custkey", "o_orderkey")


@_register(
    "q_window_expand",
    ["W4"],
    """
    SELECT o_custkey, o_orderkey,
           FLOOR((STDDEV_SAMP(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) * 100.0 + 0.5) / 100.0 AS sl
    FROM orders ORDER BY o_custkey, o_orderkey
    """,
    note="Expanding causal σ (ddof=1): stddev_samp ≙ pandas expanding().std().",
)
def q_window_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = _w_cust().rowsBetween(Window.unboundedPreceding, -1)
    return o.select(
        "o_custkey",
        "o_orderkey",
        _rnd(F.stddev_samp("o_totalprice").over(w)).alias("sl"),
    ).orderBy("o_custkey", "o_orderkey")


# --------------------------------------------------------------------------
# Sorts / splits / unions
# --------------------------------------------------------------------------


@_register(
    "q_split",
    ["O1", "O2"],
    """
    SELECT o_orderkey FROM (
        SELECT o_orderkey,
               ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS rn,
               COUNT(*) OVER () AS n
        FROM orders
    ) WHERE rn <= CAST(FLOOR(0.7 * n) AS BIGINT)
    ORDER BY o_orderkey
    """,
    note=(
        "Positional 70% split. FLOOR on both sides: DuckDB CAST(double AS "
        "BIGINT) rounds while Spark truncates — FLOOR makes them identical. "
        "Global row_number is single-partition by design: splits run on the "
        "joined eval frame (thousands of rows), never the raw-data path."
    ),
)
def q_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w_all = Window.partitionBy(F.lit(1)).orderBy("o_orderdate", "o_orderkey")
    w_cnt = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    numbered = o.select(
        "o_orderkey",
        F.row_number().over(w_all).alias("rn"),
        F.count(F.lit(1)).over(w_cnt).alias("n"),
    )
    return (
        numbered.filter(F.col("rn") <= F.floor(0.7 * F.col("n")).cast("long"))
        .select("o_orderkey")
        .orderBy("o_orderkey")
    )


@_register(
    "q_union",
    ["U1", "U2"],
    """
    SELECT x FROM (
        SELECT o_orderkey AS x FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 1
    ) ORDER BY x
    """,
    note="unionByName of per-source filtered scans (the hybrid-load pattern U2).",
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    evens = o.filter(F.col("o_orderkey") % 2 == 0).select(F.col("o_orderkey").alias("x"))
    odds = o.filter(F.col("o_orderkey") % 2 == 1).select(F.col("o_orderkey").alias("x"))
    return evens.unionByName(odds).orderBy("x")


# --------------------------------------------------------------------------
# Datetime / scalar functions
# --------------------------------------------------------------------------


@_register(
    "q_datetime",
    ["F3", "F4", "F5", "F6"],
    """
    SELECT o_orderkey,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS y,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m,
           CAST(EXTRACT(DOY FROM o_orderdate) AS BIGINT) AS doy
    FROM orders ORDER BY o_orderkey
    """,
)
def q_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.dayofyear("o_orderdate").cast("long").alias("doy"),
    ).orderBy("o_orderkey")


@_register(
    "q_harmonic",
    ["F7"],
    """
    SELECT o_orderkey,
           FLOOR((SIN(2 * PI() * CAST(EXTRACT(DOY FROM o_orderdate) AS DOUBLE) / 365.25)) * 100.0 + 0.5) / 100.0 AS s
    FROM orders ORDER BY o_orderkey
    """,
    note="Seasonal harmonic encoding (sin_doy); scalar-only, no shuffle.",
)
def q_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    doy = F.dayofyear("o_orderdate").cast("double")
    return o.select(
        "o_orderkey",
        _rnd(F.sin(F.lit(2.0) * F.lit(math.pi) * doy / F.lit(365.25))).alias("s"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# Quantiles / metrics
# --------------------------------------------------------------------------


@_register(
    "q_quantile",
    ["A10"],
    """
    SELECT FLOOR((CAST(quantile_cont(l_extendedprice, 0.25) AS DOUBLE)) * 100.0 + 0.5) / 100.0 AS q25,
           FLOOR((CAST(quantile_cont(l_extendedprice, 0.75) AS DOUBLE)) * 100.0 + 0.5) / 100.0 AS q75
    FROM lineitem
    """,
    note=(
        "Spark `percentile` (exact, interpolating) matches DuckDB "
        "quantile_cont; percentile_approx would NOT. At 100 TB switch "
        "callers to approx_percentile and accept ±ε — exact percentile "
        "is reserved for the oracle tier."
    ),
)
def q_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.expr("percentile(l_extendedprice, array(0.25D, 0.75D))").alias("qs")
    ).select(
        _rnd(F.col("qs")[0]).alias("q25"),
        _rnd(F.col("qs")[1]).alias("q75"),
    )


@_register(
    "q_metrics",
    ["A5", "F14"],
    """
    SELECT COUNT(*) AS n,
           FLOOR((AVG(ABS(l_extendedprice - l_extendedprice * (1 - l_discount)))) * 100.0 + 0.5) / 100.0 AS mae,
           FLOOR((SQRT(AVG(POW(l_extendedprice * l_discount, 2)))) * 100.0 + 0.5) / 100.0 AS rmse
    FROM lineitem
    """,
    note="MAE/RMSE shape of eval/metrics; single partial-agg pass.",
)
def q_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    err = F.col("l_extendedprice") - F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.agg(
        F.count(F.lit(1)).alias("n"),
        _rnd(F.avg(F.abs(err))).alias("mae"),
        _rnd(F.sqrt(F.avg(F.pow(F.col("l_extendedprice") * F.col("l_discount"), 2)))).alias("rmse"),
    )


# --------------------------------------------------------------------------
# Events (streaming-shape batch)
# --------------------------------------------------------------------------


@_register(
    "q_events_window",
    ["W2", "A1"],
    """
    SELECT user_id, CAST(date_trunc('hour', ts) AS VARCHAR) AS h, COUNT(*) AS n
    FROM events GROUP BY user_id, date_trunc('hour', ts)
    ORDER BY user_id, h
    """,
    note=(
        "Tumbling-window-per-user count: identical logical shape to the "
        "Structured Streaming hourly rollup in streaming/; batch here so "
        "the oracle can check it."
    ),
)
def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "user_id",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("h"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("user_id", "h")
    )


@_register(
    "q_quantile_group",
    ["A10"],
    f"""
    SELECT o_orderpriority,
           {_rnd_sql("CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE)")} AS p50,
           {_rnd_sql("CAST(quantile_cont(o_totalprice, 0.9) AS DOUBLE)")} AS p90
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    note=(
        "Per-group EXACT percentiles (the per-slice regime cut of A10, "
        "keyed): Spark `percentile` interpolates identically to DuckDB "
        "quantile_cont; percentile_approx would not hash-match. Groups "
        "bound the sort so the exact algorithm stays partition-local "
        "per key at scale."
    ),
)
def q_quantile_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    grouped = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, array(0.5, 0.9))").alias("_q")
    )
    return grouped.select(
        "o_orderpriority",
        _rnd(F.col("_q")[0]).alias("p50"),
        _rnd(F.col("_q")[1]).alias("p90"),
    ).orderBy("o_orderpriority")
