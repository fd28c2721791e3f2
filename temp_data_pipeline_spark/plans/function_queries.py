"""Conformance queries for the scalar function library (SURVEY §2.9).

The raw-feed parsers (F9–F11) and lead-hours math (F12) have no
natural column in the synthetic star schema, so each query *constructs*
deterministic raw inputs from table columns with identical expression
text in both engines (including malformed/sentinel branches), then
applies the function under test. This proves the parse semantics
bit-for-bit without needing feed fixtures in the oracle harness.

Timezone note: the oracle queries use a fixed-offset zone (+05:30)
because named-zone conversion parity between engines is not
guaranteed; real IANA zones (DST transitions included) are pinned by
tests/test_functions.py instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from temp_data_pipeline_spark.functions import scalars as fx
from temp_data_pipeline_spark.plans.declared import (
    QuerySpec,
    _rnd,
    _rnd_sql,
    presorted,
    registrar,
)
from temp_data_pipeline_spark.sources.registry import load_table

FUNCTION_QUERIES: dict[str, QuerySpec] = {}
_register = registrar(FUNCTION_QUERIES)


# --------------------------------------------------------------------------
# F9 — ISD temperature parse
# --------------------------------------------------------------------------

_ISD_RAW_SQL = """CASE WHEN l_orderkey % 10 = 0 THEN '+9999,9'
         WHEN l_orderkey % 10 = 1 THEN ''
         WHEN l_orderkey % 10 = 2 THEN 'abc,1'
         ELSE concat(CASE WHEN l_discount >= 0.05 THEN '+' ELSE '-' END,
                     CAST(CAST(FLOOR(l_quantity * 10) AS BIGINT) AS VARCHAR), ',1')
    END"""

_ISD_PARSE_SQL = """CASE
      WHEN trim(string_split(raw, ',')[1]) = '' THEN NULL
      WHEN abs(TRY_CAST(trim(string_split(raw, ',')[1]) AS DOUBLE)) >= 9990.0 THEN NULL
      ELSE TRY_CAST(trim(string_split(raw, ',')[1]) AS DOUBLE) / 10.0
    END"""


@_register(
    "q_isd_parse",
    ["F9", "S3"],
    f"""
    WITH r AS (SELECT l_orderkey, l_linenumber, {_ISD_RAW_SQL} AS raw FROM lineitem)
    SELECT l_orderkey, l_linenumber, raw, {_ISD_PARSE_SQL} AS temp_c
    FROM r ORDER BY l_orderkey, l_linenumber
    """,
    note="Sentinel (+9999), empty, unparseable, and signed-tenths branches.",
)
def q_isd_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = presorted(load_table(spark, sf_dir, "lineitem"), "l_orderkey", "l_linenumber")
    raw = (
        F.when(F.col("l_orderkey") % 10 == 0, F.lit("+9999,9"))
        .when(F.col("l_orderkey") % 10 == 1, F.lit(""))
        .when(F.col("l_orderkey") % 10 == 2, F.lit("abc,1"))
        .otherwise(
            F.concat(
                F.when(F.col("l_discount") >= 0.05, F.lit("+")).otherwise(F.lit("-")),
                F.floor(F.col("l_quantity") * 10).cast("bigint").cast("string"),
                F.lit(",1"),
            )
        )
    )
    return (
        li.select("l_orderkey", "l_linenumber", raw.alias("raw"))
        .withColumn("temp_c", fx.isd_parse_temp("raw"))
    )


# --------------------------------------------------------------------------
# F10 — GHCNh temperature parse
# --------------------------------------------------------------------------

_GHCNH_RAW_SQL = """CASE WHEN l_partkey % 8 = 0 THEN ''
         WHEN l_partkey % 8 = 1 THEN '-9999'
         WHEN l_partkey % 8 = 2 THEN '  150  '
         WHEN l_partkey % 8 = 3 THEN 'x9'
         WHEN l_partkey % 8 = 4 THEN '9995'
         ELSE CAST(CAST(FLOOR(l_extendedprice) % 700 AS BIGINT) - 350 AS VARCHAR)
    END"""

_GHCNH_PARSE_SQL = """CASE
      WHEN trim(raw) = '' OR trim(raw) = '-9999' THEN NULL
      WHEN TRY_CAST(trim(raw) AS DOUBLE) <= -9990.0
        OR TRY_CAST(trim(raw) AS DOUBLE) >= 9990.0 THEN NULL
      ELSE TRY_CAST(trim(raw) AS DOUBLE) / 10.0
    END"""


@_register(
    "q_ghcnh_parse",
    ["F10", "S4"],
    f"""
    WITH r AS (SELECT l_orderkey, l_linenumber, {_GHCNH_RAW_SQL} AS raw FROM lineitem)
    SELECT l_orderkey, l_linenumber, raw, {_GHCNH_PARSE_SQL} AS temp_c
    FROM r ORDER BY l_orderkey, l_linenumber
    """,
    note="Empty/-9999 sentinels, whitespace trim, out-of-band, signed tenths.",
)
def q_ghcnh_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = presorted(load_table(spark, sf_dir, "lineitem"), "l_orderkey", "l_linenumber")
    raw = (
        F.when(F.col("l_partkey") % 8 == 0, F.lit(""))
        .when(F.col("l_partkey") % 8 == 1, F.lit("-9999"))
        .when(F.col("l_partkey") % 8 == 2, F.lit("  150  "))
        .when(F.col("l_partkey") % 8 == 3, F.lit("x9"))
        .when(F.col("l_partkey") % 8 == 4, F.lit("9995"))
        .otherwise(
            (F.floor(F.col("l_extendedprice")) % 700 - 350).cast("bigint").cast("string")
        )
    )
    return (
        li.select("l_orderkey", "l_linenumber", raw.alias("raw"))
        .withColumn("temp_c", fx.ghcnh_parse_temp("raw"))
    )


# --------------------------------------------------------------------------
# F11 — timestamp parse with coerce-to-null
# --------------------------------------------------------------------------


@_register(
    "q_ts_parse",
    ["F11"],
    """
    WITH r AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN 'not-a-ts'
                    ELSE concat(CAST(o_orderdate AS VARCHAR), ' 12:34:56') END AS raw
        FROM orders
    )
    SELECT o_orderkey, TRY_CAST(raw AS TIMESTAMP) AS ts
    FROM r ORDER BY o_orderkey
    """,
)
def q_ts_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = presorted(load_table(spark, sf_dir, "orders"), "o_orderkey")
    raw = F.when(F.col("o_orderkey") % 5 == 0, F.lit("not-a-ts")).otherwise(
        F.concat(F.col("o_orderdate").cast("string"), F.lit(" 12:34:56"))
    )
    return (
        o.select("o_orderkey", raw.alias("raw"))
        .withColumn("ts", fx.ts_parse_utc("raw"))
        .select("o_orderkey", "ts")
    )


# --------------------------------------------------------------------------
# F12 — forecast lead hours (fixed-offset zone for engine parity)
# --------------------------------------------------------------------------


@_register(
    "q_lead_hours",
    ["F12"],
    """
    WITH r AS (
        SELECT event_id, ts,
               CAST(ts + (user_id % 5) * INTERVAL 1 DAY AS DATE) AS target_date
        FROM events
    )
    SELECT event_id,
           greatest(
             CAST(FLOOR((FLOOR(epoch(CAST(target_date AS TIMESTAMP)
                                - INTERVAL '5 hours 30 minutes'))
                         - FLOOR(epoch(ts))) / 3600.0) AS BIGINT),
             0) AS lead_h
    FROM r ORDER BY event_id
    """,
    note=(
        "Target-midnight-in-zone minus issue time, floored to hours and "
        "clamped at 0; +05:30 so zone math is engine-independent."
    ),
)
def q_lead_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    target = F.date_add(F.to_date("ts"), (F.col("user_id") % 5).cast("int"))
    return (
        e.select("event_id", "ts", target.alias("target_date"))
        .withColumn("lead_h", fx.lead_hours("ts", "target_date", "+05:30"))
        .select("event_id", "lead_h")
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# F13 — season map
# --------------------------------------------------------------------------


@_register(
    "q_season",
    ["F13"],
    """
    SELECT o_orderkey,
           CASE WHEN EXTRACT(MONTH FROM o_orderdate) IN (12, 1, 2) THEN 'DJF'
                WHEN EXTRACT(MONTH FROM o_orderdate) IN (3, 4, 5) THEN 'MAM'
                WHEN EXTRACT(MONTH FROM o_orderdate) IN (6, 7, 8) THEN 'JJA'
                ELSE 'SON' END AS season
    FROM orders ORDER BY o_orderkey
    """,
)
def q_season(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey", fx.season_of(F.month("o_orderdate")).alias("season")
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# F1/F2 — unit conversions round-tripped
# --------------------------------------------------------------------------


@_register(
    "q_units",
    ["F1", "F2"],
    f"""
    WITH r AS (SELECT o_orderkey, (o_totalprice % 60.0) - 20.0 AS c FROM orders)
    SELECT o_orderkey,
           {_rnd_sql("c * 9.0 / 5.0 + 32.0")} AS temp_f,
           {_rnd_sql("(c + 273.15) - 273.15", 4)} AS c_roundtrip
    FROM r ORDER BY o_orderkey
    """,
    note="C→F and K→C applied to a synthetic Celsius column.",
)
def q_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = (F.col("o_totalprice") % 60.0) - 20.0
    return (
        o.select("o_orderkey", c.alias("c"))
        .select(
            "o_orderkey",
            _rnd(fx.c_to_f("c")).alias("temp_f"),
            _rnd(fx.k_to_c(F.col("c") + 273.15), 4).alias("c_roundtrip"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# F17 (extension) — JSON path extraction / typed parse / serialization
# --------------------------------------------------------------------------


@_register(
    "q_json_extract",
    ["F17"],
    """
    WITH j AS (
      SELECT event_id, props,
             concat('{"meta": {"vals": [', CAST(event_id % 7 AS VARCHAR), ',',
                    CAST(user_id % 5 AS VARCHAR), ']}, "tag": "', event_type,
                    '"}') AS nested,
             concat('[', CAST(event_id % 7 AS VARCHAR), ',',
                    CAST(user_id % 5 AS VARCHAR), ']') AS arr
      FROM events)
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_path,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed,
           CAST(json_extract_string(nested, '$.meta.vals[1]') AS BIGINT) AS v1,
           json_extract_string(nested, '$.tag') AS tag,
           CAST(json_extract_string(arr, '$[1]') AS BIGINT) AS arr2,
           CAST(json_object('k', CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS VARCHAR) AS rt
    FROM j ORDER BY event_id
    """,
    note=(
        "JSON tier: ad-hoc get_json_object paths (nested object + array "
        "index), one-parse from_json typed struct, array<bigint> parse, "
        "and to_json round-trip — all JVM expressions, no UDFs. The "
        "nested document is constructed identically in both engines so "
        "the oracle checks extraction, not fixture plumbing."
    ),
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.functions import json as jx

    # presorted BEFORE the JSON projection: a trailing orderBy would
    # run the parse expressions twice (range-sampler pass + real pass)
    ev = presorted(
        load_table(spark, sf_dir, "events").select(
            "event_id", "props", "user_id", "event_type"
        ),
        "event_id",
    )
    nested = F.concat(
        F.lit('{"meta": {"vals": ['),
        (F.col("event_id") % 7).cast("string"),
        F.lit(","),
        (F.col("user_id") % 5).cast("string"),
        F.lit(']}, "tag": "'),
        F.col("event_type"),
        F.lit('"}'),
    )
    arr_src = F.concat(
        F.lit("["),
        (F.col("event_id") % 7).cast("string"),
        F.lit(","),
        (F.col("user_id") % 5).cast("string"),
        F.lit("]"),
    )
    return (
        ev.select("event_id", "props", nested.alias("nested"), arr_src.alias("arr"))
        .select(
            "event_id",
            jx.json_long("props", "$.k").alias("k_path"),
            jx.json_typed("props", "k bigint").getField("k").alias("k_typed"),
            jx.json_long("nested", "$.meta.vals[1]").alias("v1"),
            jx.json_str("nested", "$.tag").alias("tag"),
            F.element_at(jx.json_array_longs("arr"), 2).alias("arr2"),
            jx.json_of(jx.json_long("props", "$.k").alias("k")).alias("rt"),
        )
    )
