"""Relational-completeness conformance queries.

The reference uses only inner equi-joins and plain GROUP BY
(SURVEY.md §2.4, §2.8 — "no intersect/except anywhere").  A drop-in
engine still needs the rest of the relational algebra surface; these
queries pin semi/anti joins, set operations, hierarchical rollup, and
pivot against the DuckDB oracle.

Scale notes: semi/anti joins broadcast the (distinct-keyed) orders
side when small and degrade to shuffled hash joins otherwise — both
strictly cheaper than the inner-join + distinct a naive rewrite would
use, because no payload columns move and rows short-circuit on first
match.  ROLLUP/CUBE expand grouping sets BEFORE the exchange, so all
levels still cost one shuffle (same trick as eval/slicing.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from temp_data_pipeline_spark.plans.declared import (
    QuerySpec,
    _rnd,
    _rnd_sql,
    registrar,
    scratch_table,
)
from temp_data_pipeline_spark.sources.registry import load_table

RELATIONAL_QUERIES: dict[str, QuerySpec] = {}
_register = registrar(RELATIONAL_QUERIES)


@_register(
    "q_semi_join",
    ["extension-relational"],
    """
    SELECT c.c_custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c.c_custkey
    """,
    note="EXISTS ≡ left-semi join: no payload shuffle, first-match short-circuit.",
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left_semi"
        )
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@_register(
    "q_anti_join",
    ["extension-relational"],
    """
    SELECT c.c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c.c_custkey
    """,
    note="NOT EXISTS ≡ left-anti join (the scalable form of 'set difference on keys').",
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left_anti"
        )
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@_register(
    "q_intersect",
    ["extension-relational"],
    """
    SELECT c_custkey AS k FROM customer
    INTERSECT
    SELECT o_custkey FROM orders
    ORDER BY k
    """,
    note="INTERSECT (distinct semantics on both engines).",
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    orders = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    return customer.intersect(orders).orderBy("k")


@_register(
    "q_except",
    ["extension-relational"],
    """
    SELECT c_custkey AS k FROM customer
    EXCEPT
    SELECT o_custkey FROM orders
    ORDER BY k
    """,
    note="EXCEPT (distinct) ≡ DataFrame.subtract.",
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    orders = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    return customer.subtract(orders).orderBy("k")


@_register(
    "q_rollup",
    ["extension-relational", "A10"],
    f"""
    SELECT COALESCE(l_returnflag, 'ALL') AS rf,
           COALESCE(l_linestatus, 'ALL') AS ls,
           COUNT(*) AS n,
           {_rnd_sql('SUM(l_quantity)')} AS sq
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY rf, ls
    """,
    note=(
        "Hierarchical totals in ONE shuffle: Expand emits all rollup "
        "levels map-side, so subtotal+grand-total cost the same "
        "exchange as the plain GROUP BY. (Group columns are non-null "
        "in this data, so COALESCE('ALL') is unambiguous.)"
    ),
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), _rnd(F.sum("l_quantity")).alias("sq"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "n",
            "sq",
        )
        .orderBy("rf", "ls")
    )


@_register(
    "q_pivot",
    ["extension-relational", "A10"],
    """
    SELECT user_id,
           COUNT(*) FILTER (event_type = 'click')    AS click,
           COUNT(*) FILTER (event_type = 'error')    AS error,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'signup')   AS signup,
           COUNT(*) FILTER (event_type = 'view')     AS view
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    note=(
        "Pivot with an EXPLICIT value list: without it Spark runs an "
        "extra distinct pass over the data to discover columns — at "
        "100 TB that is a full second scan. Fixed lists keep pivot a "
        "single-shuffle conditional aggregation."
    ),
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    pivoted = (
        events.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves absent combinations null; the oracle's FILTER
    # counts yield 0 — normalize.
    return pivoted.select(
        "user_id", *[F.coalesce(F.col(k), F.lit(0)).alias(k) for k in kinds]
    ).orderBy("user_id")


@_register(
    "q_cube",
    ["extension-relational", "A10"],
    f"""
    SELECT COALESCE(l_returnflag, 'ALL') AS rf,
           COALESCE(l_linestatus, 'ALL') AS ls,
           COUNT(*) AS n,
           {_rnd_sql('SUM(l_quantity)')} AS sq
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY rf, ls
    """,
    note=(
        "Full cross-dimensional totals: CUBE adds the per-linestatus "
        "marginals ROLLUP omits, still via one Expand + one exchange."
    ),
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), _rnd(F.sum("l_quantity")).alias("sq"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "n",
            "sq",
        )
        .orderBy("rf", "ls")
    )


@_register(
    "q_rank_topn",
    ["extension-window"],
    """
    SELECT o_custkey, o_orderkey, rk, drk, ntl
    FROM (
        SELECT o_custkey, o_orderkey,
               RANK()       OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS rk,
               DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS drk,
               NTILE(4)     OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS ntl
        FROM orders
    )
    WHERE rk <= 3
    ORDER BY o_custkey, o_orderkey
    """,
    note=(
        "Ranking-window family (SURVEY §2.6 has only lag/rolling/"
        "expanding): per-customer earliest-3 orders via RANK (ties on "
        "o_orderdate share a rank, so >3 rows can survive — exactly the "
        "top-N-with-ties semantics), plus DENSE_RANK and a quartile "
        "NTILE over a fully deterministic (date, key) order.  All three "
        "specs share one hash partitioning on o_custkey, so the plan is "
        "ONE exchange + in-partition sorts; the rk<=3 filter prunes "
        "before the final global sort.  Ranks cast to long: Spark emits "
        "int32, DuckDB BIGINT, and the driver compares schemas."
    ),
)
def q_rank_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w_date = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    w_full = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w_date).cast("long").alias("rk"),
        F.dense_rank().over(w_date).cast("long").alias("drk"),
        F.ntile(4).over(w_full).cast("long").alias("ntl"),
    )
    return ranked.filter(F.col("rk") <= 3).orderBy("o_custkey", "o_orderkey")


@_register(
    "q_keep_latest",
    ["extension-relational"],
    """
    SELECT user_id, event_id, ts_us, event_type
    FROM (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts) DESC, event_id DESC
               ) AS rn
        FROM events
    )
    WHERE rn = 1
    ORDER BY user_id
    """,
    note=(
        "CDC keep-latest (operators/upsert.py): latest event per user, "
        "deterministic tiebreak on event_id — the MERGE 'last writer "
        "wins' resolution as one hash exchange + in-partition sort. "
        "Ordering compares micro-truncated timestamps on both sides "
        "(events.parquet is nanos; Spark reads it truncated)."
    ),
)
def q_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.upsert import keep_latest

    events = load_table(spark, sf_dir, "events")
    latest = keep_latest(events, ["user_id"], "ts", tiebreak="event_id")
    return latest.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
    ).orderBy("user_id")


@_register(
    "q_cardinality",
    ["aggregation"],
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    note=(
        "Grouped distinct cardinality, exact tier "
        "(operators/sketches.py): per-type unique users. The "
        "HyperLogLog++ tier (approx_count_distinct, constant-size "
        "mergeable registers for the 100 TB posture) is pinned within "
        "its rsd envelope by tests/test_quantiles.py."
    ),
)
def q_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.sketches import distinct_count

    events = load_table(spark, sf_dir, "events")
    uniques = distinct_count(
        events, "user_id", by=["event_type"], exact=True
    ).withColumnRenamed("n_distinct", "n_users")
    counts = events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return uniques.join(counts, "event_type").orderBy("event_type")


@_register(
    "q_window_range",
    ["window"],
    """
    SELECT user_id, event_id,
           CAST(SUM(CAST(1 AS BIGINT)) OVER w AS BIGINT) AS n_3d,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us
    FROM events
    WINDOW w AS (
        PARTITION BY user_id ORDER BY epoch_us(ts)
        RANGE BETWEEN 259200000000 PRECEDING AND CURRENT ROW
    )
    ORDER BY user_id, ts_us, event_id
    """,
    note=(
        "RANGE-frame window (time-interval frames — §2.6 covers only "
        "ROWS frames): events per user in the trailing 3 days "
        "INCLUDING all rows that share the boundary timestamp, which "
        "a ROWS frame cannot express. Ordering key is epoch "
        "micros on both sides (events.parquet is nanos; Spark reads "
        "micro-truncated), frame width 3 days in microseconds."
    ),
)
def q_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-259_200_000_000, Window.currentRow)
    )
    return (
        events.select(
            "user_id",
            "event_id",
            F.sum(F.lit(1).cast("long")).over(w).alias("n_3d"),
            us.alias("ts_us"),
        )
        .orderBy("user_id", "ts_us", "event_id")
    )


@_register(
    "q_incr_rollup",
    ["aggregation"],
    """
    SELECT user_id, CAST(ts AS DATE) AS day,
           COUNT(*) AS n, MAX(value) AS mx
    FROM events GROUP BY user_id, CAST(ts AS DATE)
    ORDER BY user_id, day
    """,
    note=(
        "Incremental rollup maintenance (operators/incremental.py): "
        "the daily rollup is computed as a MERGE of two disjoint "
        "batch partials (continuous-aggregate refresh without "
        "rescanning old data); the oracle aggregates the whole table "
        "directly, proving merge(partials) == full recompute."
    ),
)
def q_incr_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.incremental import merge_rollups

    events = load_table(spark, sf_dir, "events")

    def partial(df):
        return df.groupBy(
            "user_id", F.to_date("ts").alias("day")
        ).agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("mx"))

    h1 = partial(events.filter(F.col("event_id") % 2 == 0))
    h2 = partial(events.filter(F.col("event_id") % 2 == 1))
    merged = merge_rollups(
        [h1, h2], keys=["user_id", "day"], mergers={"n": "sum", "mx": "max"}
    )
    return merged.orderBy("user_id", "day")


@_register(
    "q_analyze",
    ["extension-relational", "maintenance"],
    """
    WITH a AS (
      SELECT COUNT(*) AS n_rows,
             SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nu0,
             COUNT(DISTINCT o_orderkey) AS nd0,
             CAST(MIN(o_orderkey) AS VARCHAR) AS mn0,
             CAST(MAX(o_orderkey) AS VARCHAR) AS mx0,
             SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nu1,
             COUNT(DISTINCT o_custkey) AS nd1,
             CAST(MIN(o_custkey) AS VARCHAR) AS mn1,
             CAST(MAX(o_custkey) AS VARCHAR) AS mx1,
             SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS nu2,
             COUNT(DISTINCT o_orderstatus) AS nd2,
             CAST(MIN(o_orderstatus) AS VARCHAR) AS mn2,
             CAST(MAX(o_orderstatus) AS VARCHAR) AS mx2,
             SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS nu3,
             COUNT(DISTINCT o_orderpriority) AS nd3,
             CAST(MIN(o_orderpriority) AS VARCHAR) AS mn3,
             CAST(MAX(o_orderpriority) AS VARCHAR) AS mx3
      FROM orders
    )
    SELECT col_name,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_null AS BIGINT) AS n_null,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           min_s, max_s
    FROM (
      SELECT 'o_orderkey' AS col_name, n_rows, nu0 AS n_null,
             nd0 AS n_distinct, mn0 AS min_s, mx0 AS max_s FROM a
      UNION ALL
      SELECT 'o_custkey', n_rows, nu1, nd1, mn1, mx1 FROM a
      UNION ALL
      SELECT 'o_orderstatus', n_rows, nu2, nd2, mn2, mx2 FROM a
      UNION ALL
      SELECT 'o_orderpriority', n_rows, nu3, nd3, mn3, mx3 FROM a
    )
    ORDER BY col_name
    """,
    note=(
        "ANALYZE-style per-column statistics (null count, exact NDV, "
        "native-typed min/max stringified for a uniform report "
        "schema) in ONE pass — Catalyst rewrites the multiple "
        "DISTINCT aggregates into a single Expand + two-stage hash "
        "agg, then stack() unpivots the 1-row result. The CBO / "
        "data-skipping / quality-monitor input (operators/stats.py; "
        "approx=True swaps exact NDV for HyperLogLog++ at the "
        "100 TB tier)."
    ),
)
def q_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.stats import analyze_table

    orders = load_table(spark, sf_dir, "orders")
    return analyze_table(
        orders,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    ).orderBy("col_name")


@_register(
    "q_hidden_partition",
    ["extension-relational", "maintenance"],
    """
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-08 00:00:00'
                 AND TIMESTAMP '2024-01-14 23:59:59'
    ORDER BY event_id
    """,
    note=(
        "Hidden-partitioning lifecycle (operators/partitioning.py): "
        "commit events to a versioned table under a days(ts) "
        "transform (layout derived by the engine, spec recorded in "
        "the manifest), then read with a filter on the SOURCE ts "
        "column only — read_version_pruned adds the implied "
        "_p_days_ts range predicate, so the scan prunes to 7 of 30 "
        "day directories at planning time. Values must equal the "
        "plain BETWEEN over the raw table (pruning never changes "
        "results)."
    ),
)
@scratch_table("hidden_part_")
def q_hidden_partition(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    from datetime import datetime

    from temp_data_pipeline_spark.operators.partitioning import (
        commit_version_transformed,
        read_version_pruned,
    )

    e = load_table(spark, sf_dir, "events")
    commit_version_transformed(e, path, ["days(ts)"])
    out = read_version_pruned(
        spark,
        path,
        between={
            "ts": (
                datetime(2024, 1, 8, 0, 0, 0),
                datetime(2024, 1, 14, 23, 59, 59),
            )
        },
    )
    return (
        out.select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "user_id",
            "event_type",
            "value",
        )
        .orderBy("event_id")
    )


@_register(
    "q_fk_orphans",
    ["extension-relational", "maintenance"],
    """
    WITH parent AS (
      SELECT DISTINCT c_custkey FROM customer WHERE c_custkey % 10 <> 0
    )
    SELECT o.o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_custkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM parent p
                      WHERE p.c_custkey = o.o_custkey)
    GROUP BY o.o_custkey
    ORDER BY o.o_custkey
    """,
    note=(
        "Referential-integrity audit (schemas/validate.py::fk_orphans): "
        "child rows with no matching parent via ONE key-only left-anti "
        "join (parent side projects just its key — nothing but keys "
        "shuffles, broadcast under AQE). The conformance query drops "
        "every 10th customer from the parent side so the audit has "
        "real violations to find."
    ),
)
def q_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.schemas.validate import fk_orphans

    orders = load_table(spark, sf_dir, "orders")
    parent = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 10 != 0
    )
    orphans = fk_orphans(orders, parent, "o_custkey", "c_custkey")
    return (
        orphans.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy("o_custkey")
    )


@_register(
    "q_matview_refresh",
    ["extension-relational", "maintenance"],
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
    FROM orders
    WHERE o_orderkey % 4 IN (0, 1)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    note=(
        "Incrementally maintained aggregate view lifecycle "
        "(operators/matview.py): base v1 = orders keys%4=0, base v2 "
        "merges in keys%4=1, the view (per-priority count + key sum) "
        "is built at v1 and REFRESHED to v2 — the refresh recomputes "
        "only the groups whose per-group fingerprints changed and "
        "applies them as "
        "one COW CDC commit. The refreshed view must equal a plain "
        "GROUP BY over the final base state."
    ),
)
@scratch_table("matview_")
def q_matview_refresh(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.matview import (
        build_agg_view,
        refresh_agg_view,
    )
    from temp_data_pipeline_spark.operators.versioned import (
        commit_merge_cow,
        read_version,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    bp, vp = f"{scratch}/base", f"{scratch}/view"

    def agg(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )

    commit_merge_cow(
        orders.filter(F.col("o_orderkey") % 4 == 0),
        bp, ["o_orderkey"], "o_orderkey", "o_orderpriority",
    )
    build_agg_view(spark, bp, vp, agg, ["o_orderpriority"])
    commit_merge_cow(
        orders.filter(F.col("o_orderkey") % 4 == 1),
        bp, ["o_orderkey"], "o_orderkey", "o_orderpriority",
    )
    refresh_agg_view(spark, bp, vp, agg, ["o_orderpriority"])
    return (
        read_version(spark, vp)
        .select("o_orderpriority", "n", "sum_key")
        .orderBy("o_orderpriority")
    )


@_register(
    "q_constraints",
    ["extension-relational", "governance"],
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_totalprice <= 400000.0
    ORDER BY o_orderkey
    """,
    note=(
        "Persisted table constraints (versioned.add_table_constraint "
        "— Delta's ALTER TABLE ADD CONSTRAINT): the constraint lands "
        "as one metadata-level commit after validating existing rows; "
        "a later append whose batch violates it must ABORT before its "
        "manifest (nothing becomes visible — the query asserts the "
        "rejection), while the clean batch lands; every writer "
        "inherits the set from the latest manifest and carries it "
        "forward. Final rows ≡ the constraint-satisfying subset."
    ),
)
@scratch_table("constr_")
def q_constraints(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.versioned import (
        add_table_constraint,
        commit_version,
        read_version,
        versions,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    ok = orders.filter(F.col("o_totalprice") <= 400000.0)
    path = f"{scratch}/t"
    commit_version(ok.filter(F.col("o_orderkey") % 2 == 0).repartition(4), path)
    add_table_constraint(spark, path, "price_cap", "o_totalprice <= 400000.0")
    # a violating batch must abort with nothing visible
    before = versions(spark, path)[-1]
    try:
        commit_version(
            orders.filter(F.col("o_totalprice") > 400000.0),
            path,
            carry_from=before,
        )
        raise AssertionError("violating commit must abort")
    except ValueError:
        pass
    if versions(spark, path)[-1] != before:
        raise AssertionError("aborted commit minted a version")
    # the clean complement lands and carries the constraint
    commit_version(
        ok.filter(F.col("o_orderkey") % 2 == 1).repartition(2),
        path,
        carry_from=before,
    )
    return read_version(spark, path).orderBy("o_orderkey")


@_register(
    "q_merge_into",
    ["extension-relational", "maintenance", "cdc"],
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 8 = 0
                THEN o_totalprice + 50.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE NOT (o_orderkey % 8 = 4 AND o_custkey % 10 = 7)
    UNION ALL
    SELECT o_orderkey + 30000000, CAST(3 AS BIGINT), o_totalprice
    FROM orders WHERE o_orderkey % 10 = 1 AND o_totalprice > 1000.0
    ORDER BY o_orderkey
    """,
    note=(
        "Conditional MERGE INTO (operators/merge.py — Delta's full "
        "clause family in ONE merge-on-read commit): the source "
        "re-lands keys %4=0 with price+50 on %8=0 but price-50 on "
        "%8=4, plus fresh +30M keys. WHEN MATCHED AND s.price > "
        "t.price UPDATE takes only the %8=0 half; WHEN MATCHED AND "
        "t.custkey%10=7 DELETE (after the update clause, Delta "
        "order) removes the matched-but-not-updated %8=4∧custkey7 "
        "rows; matched rows firing neither clause are UNTOUCHED "
        "(bytes never rewritten); WHEN NOT MATCHED AND price>1000 "
        "INSERT gates the fresh keys. One zone-map-prunable position "
        "scan + one classifying join + one delta append; the final "
        "snapshot must equal this oracle. IEEE-exact ±50.0 keeps the "
        "compare bit-exact."
    ),
)
@scratch_table("minto_")
def q_merge_into(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        read_table,
    )
    from temp_data_pipeline_spark.operators.merge import commit_merge_into
    from temp_data_pipeline_spark.operators.versioned import commit_version

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = f"{scratch}/t"
    commit_version(orders.repartition(4), path)
    source = (
        orders.filter(F.col("o_orderkey") % 4 == 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 8 == 0,
                F.col("o_totalprice") + F.lit(50.0),
            ).otherwise(F.col("o_totalprice") - F.lit(50.0)),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 10 == 1).select(
                (F.col("o_orderkey") + F.lit(30000000)).alias(
                    "o_orderkey"
                ),
                F.lit(3).cast("long").alias("o_custkey"),
                "o_totalprice",
            )
        )
    )
    commit_merge_into(
        source,
        path,
        ["o_orderkey"],
        update_when="s.o_totalprice > t.o_totalprice",
        delete_when="t.o_custkey % 10 = 7",
        insert_when="o_totalprice > 1000.0",
    )
    return (
        read_table(spark, path)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@_register(
    "q_expectations",
    ["extension-relational", "governance"],
    """
    SELECT o_orderkey,
           concat_ws(',',
             CASE WHEN NOT COALESCE(o_custkey % 10 <> 7, FALSE)
                  THEN 'custkey_not7' END,
             CASE WHEN NOT COALESCE(o_totalprice <= 400000.0, FALSE)
                  THEN 'price_cap' END
           ) AS violations
    FROM orders ORDER BY o_orderkey
    """,
    note=(
        "Row-level expectations with quarantine "
        "(operators/expectations.py — DLT's EXPECT ... ON VIOLATION): "
        "orders commit through two named gates; passing rows land as "
        "the table version, violators append to the sibling "
        "_quarantine versioned table carrying a _violations column "
        "naming every failed gate in declaration order (queryable / "
        "replayable, never silently dropped), and both manifests "
        "record the gate set + violation count. The split is one "
        "map-only projection — zero shuffles at any scale. The query "
        "unions (table rows, '') with (quarantine rows, tags) and "
        "must reproduce the oracle's per-row violation calculus."
    ),
)
@scratch_table("expect_")
def q_expectations(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.expectations import (
        commit_with_expectations,
    )
    from temp_data_pipeline_spark.operators.versioned import read_version

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = f"{scratch}/orders"
    commit_with_expectations(
        orders.repartition(4),
        path,
        {
            "custkey_not7": "o_custkey % 10 <> 7",
            "price_cap": "o_totalprice <= 400000.0",
        },
    )
    good = read_version(spark, path).select(
        "o_orderkey", F.lit("").alias("violations")
    )
    bad = read_version(spark, f"{path}_quarantine").select(
        "o_orderkey", F.col("_violations").alias("violations")
    )
    return good.unionByName(bad).orderBy("o_orderkey")


@_register(
    "q_matview_mor",
    ["extension-relational", "maintenance", "cdc"],
    """
    WITH final AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 8 = 4 THEN '9-SPECIAL'
                  ELSE o_orderpriority END AS o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 8 <> 0
      UNION ALL
      SELECT o_orderkey + 20000000, o_orderpriority
      FROM orders WHERE o_orderkey % 8 = 3
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
    FROM final GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    note=(
        "Aggregate matview over a MERGE-ON-READ base: the view is "
        "built on even orders, then the base takes a MOR delete "
        "(keys %8=0, deletion vector only) and a MOR upsert (keys "
        "%8=4 moved to a NEW group '9-SPECIAL', fresh +20M keys "
        "inserted) — no partition rewrites on the base — and ONE "
        "refresh catches the view up: touched groups are the "
        "distinct keys of the O(delta) change feed (DV-delta scans "
        "pruned to the files the DVs name), recomputed DV-resolved, "
        "applied as one COW CDC commit (groups may shrink, move, "
        "appear, or vanish). The refreshed view must equal a plain "
        "GROUP BY over the final visible state."
    ),
)
@scratch_table("mvmor_")
def q_matview_mor(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        commit_delete_mor,
        commit_upsert_mor,
    )
    from temp_data_pipeline_spark.operators.matview import (
        build_agg_view,
        refresh_agg_view,
    )
    from temp_data_pipeline_spark.operators.versioned import (
        commit_version,
        read_version,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    bp, vp = f"{scratch}/base", f"{scratch}/view"

    def agg(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )

    commit_version(orders.filter(F.col("o_orderkey") % 2 == 0).repartition(4), bp)
    build_agg_view(spark, bp, vp, agg, ["o_orderpriority"])
    commit_delete_mor(spark, bp, "o_orderkey % 8 = 0")
    commit_upsert_mor(
        orders.filter(F.col("o_orderkey") % 8 == 4)
        .withColumn("o_orderpriority", F.lit("9-SPECIAL"))
        .unionByName(
            orders.filter(F.col("o_orderkey") % 8 == 3).select(
                (F.col("o_orderkey") + F.lit(20000000)).alias(
                    "o_orderkey"
                ),
                "o_orderpriority",
            )
        ),
        bp,
        ["o_orderkey"],
    )
    refresh_agg_view(spark, bp, vp, agg, ["o_orderpriority"])
    return (
        read_version(spark, vp)
        .select("o_orderpriority", "n", "sum_key")
        .orderBy("o_orderpriority")
    )


@_register(
    "q_zorder_skip",
    ["extension-relational", "maintenance"],
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 299
      AND o_totalprice BETWEEN 50000.0 AND 150000.0
    ORDER BY o_orderkey
    """,
    note=(
        "Data-skipping lifecycle (operators/zonemap.py): commit orders "
        "to a versioned table, OPTIMIZE ZORDER BY (o_custkey, "
        "o_totalprice) — linear-scaled width_bucket cells bit-"
        "interleaved into one BIGINT, range-partitioned + sorted so "
        "each file covers a compact z-range — build the per-file "
        "min/max zone maps, then answer a 2-column box query through "
        "read_version_skipped: the driver opens only the files whose "
        "cells intersect the box (file-level skipping on top of "
        "partition pruning, the Delta/Iceberg stats move). Values "
        "must equal the plain BETWEEN over the raw table — skipping "
        "never changes results."
    ),
)
@scratch_table("zorder_")
def q_zorder_skip(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.versioned import commit_version
    from temp_data_pipeline_spark.operators.zonemap import (
        optimize_zorder,
        read_version_skipped,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    commit_version(orders, path)
    v = optimize_zorder(spark, path, ["o_custkey", "o_totalprice"], target_files=16)
    out = read_version_skipped(
        spark,
        path,
        [
            ("o_custkey", ">=", 100),
            ("o_custkey", "<=", 299),
            ("o_totalprice", ">=", 50000.0),
            ("o_totalprice", "<=", 150000.0),
        ],
        version=v,
    )
    return out.select("o_orderkey", "o_custkey", "o_totalprice").orderBy("o_orderkey")


@_register(
    "q_meta_agg",
    ["extension-relational", "maintenance"],
    """
    SELECT col_name, n_rows, n_null, min_s, max_s FROM (
      SELECT 'o_custkey' AS col_name,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             CAST(MIN(o_custkey) AS VARCHAR) AS min_s,
             CAST(MAX(o_custkey) AS VARCHAR) AS max_s
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(MIN(o_orderstatus) AS VARCHAR),
             CAST(MAX(o_orderstatus) AS VARCHAR)
      FROM orders
    )
    ORDER BY col_name
    """,
    note=(
        "Metadata-only aggregation (operators/zonemap.py::stats_summary): "
        "COUNT(*)/MIN/MAX/null-count answered from the per-file zone-map "
        "sidecar alone — per-file stats compose (sum of counts, min of "
        "mins, max of maxes), so the query reads KB of metadata instead "
        "of the corpus. Must equal the full-scan aggregate; exact NDV "
        "does not compose and stays with q_analyze's full pass."
    ),
)
@scratch_table("metaagg_")
def q_meta_agg(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.versioned import commit_version
    from temp_data_pipeline_spark.operators.zonemap import (
        stats_summary,
        write_zone_maps,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus"
    )
    commit_version(orders.repartition(8), path)
    write_zone_maps(spark, path, ["o_custkey", "o_orderstatus"])
    return stats_summary(spark, path).orderBy("col_name")


@_register(
    "q_bloom_lookup",
    ["extension-relational", "maintenance"],
    """
    SELECT o_orderkey, o_custkey, o_orderstatus
    FROM orders
    WHERE o_orderkey = 577
    ORDER BY o_orderkey
    """,
    note=(
        "Bloom-index point lookup (operators/zonemap.py): commit "
        "orders hash-distributed over 8 files (every file spans the "
        "full key range — zone maps prune nothing), build a per-file "
        "Bloom sidecar on o_orderkey (Kirsch–Mitzenmacher double "
        "hashing over xxhash64, sparse set-bit lists), then answer "
        "an equality lookup opening only the files whose filters "
        "admit the key (~1 of 8 at fpp=1%). False positives fall out "
        "of the on-top equality filter, so results equal the plain "
        "WHERE — the Delta bloom-filter-index move for "
        "high-cardinality columns."
    ),
)
@scratch_table("bloom_")
def q_bloom_lookup(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.versioned import commit_version
    from temp_data_pipeline_spark.operators.zonemap import (
        read_version_bloom,
        write_bloom_index,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    commit_version(orders.repartition(8, "o_orderkey"), path)
    write_bloom_index(spark, path, "o_orderkey")
    return read_version_bloom(spark, path, "o_orderkey", 577).orderBy("o_orderkey")


@_register(
    "q_delete_mor",
    ["extension-relational", "maintenance"],
    """
    SELECT o_orderkey, o_custkey, o_orderstatus
    FROM orders
    WHERE NOT (o_custkey % 10 = 3)
    ORDER BY o_orderkey
    """,
    note=(
        "Merge-on-read DELETE via positional deletion vectors "
        "(operators/deletion_vectors.py): commit orders, delete every "
        "customer-%10=3 row as a (file, row_index) sidecar — zero "
        "data files rewritten, cost scales with matches — then read "
        "through the DV-aware reader (broadcast anti-join on the "
        "positions, map-side). Must equal the plain negated WHERE; "
        "note DuckDB's NOT(x%10=3) keeps NULL o_custkey rows exactly "
        "like the DV reader's SQL-DELETE null semantics."
    ),
)
@scratch_table("mor_")
def q_delete_mor(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        commit_delete_mor,
        read_table,
    )
    from temp_data_pipeline_spark.operators.versioned import commit_version

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    commit_version(orders.repartition(8), path)
    commit_delete_mor(spark, path, "o_custkey % 10 = 3")
    return read_table(spark, path).orderBy("o_orderkey")


@_register(
    "q_replace_where",
    ["extension-relational", "maintenance"],
    """
    SELECT o_orderkey, o_custkey, o_orderstatus FROM (
      SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      WHERE NOT (o_orderkey % 7 = 3)
      UNION ALL
      SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus FROM orders
      WHERE o_orderkey % 7 = 3
    ) ORDER BY o_orderkey
    """,
    note=(
        "Delta-style replaceWhere (deletion_vectors."
        "commit_replace_where): commit orders, then atomically swap "
        "the o_orderkey%7=3 window for recomputed rows (status 'R') "
        "in ONE merge-on-read commit — matching rows DV'd out, new "
        "rows appended, untouched files carried by reference. The "
        "partition-backfill shape at O(window), never a table "
        "rewrite; incoming rows are validated against the predicate "
        "(the pytest pins the abort)."
    ),
)
@scratch_table("rw_")
def q_replace_where(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        commit_replace_where,
        read_table,
    )
    from temp_data_pipeline_spark.operators.versioned import commit_version

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    commit_version(orders.repartition(8), path)
    replacement = orders.filter(F.col("o_orderkey") % 7 == 3).withColumn(
        "o_orderstatus", F.lit("R")
    )
    commit_replace_where(spark, replacement, path, "o_orderkey % 7 = 3")
    return read_table(spark, path).orderBy("o_orderkey")


@_register(
    "q_change_feed",
    ["extension-relational", "maintenance", "cdc"],
    """
    SELECT o_orderkey, o_custkey, change_type FROM (
      SELECT o_orderkey, o_custkey, 'insert' AS change_type FROM orders
      WHERE o_orderkey % 2 = 1 AND NOT (o_custkey % 10 = 7)
      UNION ALL
      SELECT o_orderkey, o_custkey, 'delete' AS change_type FROM orders
      WHERE o_orderkey % 2 = 0 AND o_custkey % 10 = 7
    ) ORDER BY o_orderkey, change_type
    """,
    note=(
        "Incremental change feed (operators/changes.py): commit the "
        "even-key orders as v1, append the odd keys metadata-level "
        "(carry_from), MOR-delete custkey%10=7, then ask 'what changed "
        "since v1'. The feed diffs the two manifests' FILE sets "
        "driver-side (metadata plane) and scans ONLY added/removed "
        "files plus the DV delta — inserts are the appended rows that "
        "survived the delete, deletes are the v1-visible rows the DV "
        "newly covers; the carried v1 files are never opened. The "
        "Delta CDF idea recovered from commit metadata, at O(delta) "
        "cost."
    ),
)
@scratch_table("cdf_")
def q_change_feed(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.changes import changes_between
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        commit_delete_mor,
    )
    from temp_data_pipeline_spark.operators.versioned import commit_version

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    commit_version(orders.filter(F.col("o_orderkey") % 2 == 0).repartition(4), path)
    commit_version(
        orders.filter(F.col("o_orderkey") % 2 == 1).repartition(2),
        path,
        carry_from=1,
    )
    v3 = commit_delete_mor(spark, path, "o_custkey % 10 = 7")
    return (
        changes_between(spark, path, 1, v3)
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("_change_type").alias("change_type"),
        )
        .orderBy("o_orderkey", "change_type")
    )


@_register(
    "q_update_mor",
    ["extension-relational", "maintenance"],
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_custkey % 10 = 4
                THEN o_totalprice + 1000000.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    ORDER BY o_orderkey
    """,
    note=(
        "Merge-on-read UPDATE via deletion vectors "
        "(deletion_vectors.commit_update_mor): matching rows are DV'd "
        "out of their files and re-appended with the SET applied — "
        "cost scales with matches, zero partitions rewritten (the "
        "Delta DV-based UPDATE). The DV-aware read must equal the "
        "plain CASE projection over the raw table."
    ),
)
@scratch_table("morup_")
def q_update_mor(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        commit_update_mor,
        read_table,
    )
    from temp_data_pipeline_spark.operators.versioned import commit_version

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    commit_version(orders.repartition(8), path)
    commit_update_mor(
        spark,
        path,
        "o_custkey % 10 = 4",
        {"o_totalprice": "o_totalprice + 1000000.0"},
    )
    return read_table(spark, path).orderBy("o_orderkey")


@_register(
    "q_lakehouse_scan",
    ["extension-relational", "maintenance"],
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_totalprice >= 50000.0
      AND o_totalprice <= 150000.0
      AND NOT (o_custkey % 10 = 7)
    ORDER BY o_orderkey
    """,
    note=(
        "The composed lakehouse read (operators/zonemap.py::scan_version): "
        "orders committed hash-distributed, zone maps on o_totalprice, "
        "a Bloom index on o_orderkey, and a merge-on-read DELETE of "
        "custkey%10=7 — then ONE unified scan that intersects the "
        "zone-map range verdict with the row filter and subtracts the "
        "broadcast deletion vector. Every layer must stay transparent: "
        "the result equals the plain WHERE + NOT over the raw table."
    ),
)
@scratch_table("lake_")
def q_lakehouse_scan(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        commit_delete_mor,
    )
    from temp_data_pipeline_spark.operators.versioned import commit_version
    from temp_data_pipeline_spark.operators.zonemap import (
        scan_version,
        write_bloom_index,
        write_zone_maps,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    commit_version(orders.repartition(8, "o_orderkey"), path)
    write_zone_maps(spark, path, ["o_totalprice"])
    write_bloom_index(spark, path, "o_orderkey")
    commit_delete_mor(spark, path, "o_custkey % 10 = 7")
    # sidecars describe v1; rebuild incrementally for the DV commit
    write_zone_maps(spark, path, ["o_totalprice"], incremental_from=1)
    out = scan_version(
        spark,
        path,
        [
            ("o_totalprice", ">=", 50000.0),
            ("o_totalprice", "<=", 150000.0),
        ],
    )
    return out.orderBy("o_orderkey")


@_register(
    "q_jsonl_ingest",
    ["extension-relational", "sources"],
    """
    SELECT doc_id, lang, text FROM documents ORDER BY doc_id
    """,
    note=(
        "Crawl-dump ingestion (sources/crawl.py::read_jsonl_docs): the "
        "documents table serialized to JSONL with deterministic junk "
        "lines injected (raw garbage + truncated JSON), read back "
        "through the text+from_json quarantine reader — the good side "
        "must round-trip every document exactly (JSON string escaping "
        "inverts itself) while the junk lands in quarantine instead of "
        "crashing the scan or leaking into results. The raw JSON "
        "source cannot express this split without caching the parse "
        "(QUERY_ONLY_CORRUPT_RECORD_COLUMN); text+from_json can."
    ),
)
@scratch_table("jsonl_")
def q_jsonl_ingest(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.sources.crawl import read_jsonl_docs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    dump = f"{scratch}/dump"
    jsonl = docs.select(F.to_json(F.struct("doc_id", "lang", "text")).alias("value"))
    from temp_data_pipeline_spark.session import local_df

    junk = local_df(
        spark,
        [("this line is not json",), ('{"doc_id": -1, "lang": "xx', )],
        "value string",
    )
    jsonl.unionByName(junk).coalesce(4).write.text(dump)
    good, quarantine = read_jsonl_docs(
        spark, dump, "doc_id long, lang string, text string"
    )
    if quarantine.count() != 2:
        raise AssertionError("junk lines must quarantine, not vanish")
    return good.select("doc_id", "lang", "text").orderBy("doc_id")


@_register(
    "q_star_revenue",
    ["extension-relational", "J1", "A1"],
    """
    SELECT n.n_name,
           CAST(SUM(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000
                          + 0.5)) AS BIGINT) AS revenue_e4,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    note=(
        "TPC-H Q5 shape — the classic 6-table star join (local-supplier "
        "revenue per nation of one region). Scale posture: the REGION "
        "filter is pushed all the way down — customer (and supplier) "
        "are broadcast-SEMI-joined against the ASIA nation-key set "
        "BEFORE the fact chain, so the customer⋈orders⋈lineitem "
        "shuffles carry only the ~1/5 of rows that can survive "
        "(verdict r6 #2: filtering last shuffled 5× the needed bytes "
        "at scale). region/nation/supplier remain broadcast dims (no "
        "shuffle for any of them), the fact chain shuffles on its keys "
        "once each, and revenue is quantized per row to integer e4 "
        "units BEFORE the SUM so partial-aggregation order can't move "
        "a bit (the float-sum determinism rule every oracle-compared "
        "aggregate follows). Exercises supplier + region + nation."
    ),
)
def q_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    asia = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            nation.n_regionkey == region.r_regionkey,
        ).select("n_nationkey", "n_name")
    )
    # push the region restriction below the fact shuffles: only ASIA
    # customers/suppliers can contribute (the s_nationkey=c_nationkey
    # local-supplier condition transits through the asia join), so the
    # broadcast semi-joins drop ~4/5 of the fact chain's input before
    # any exchange instead of after all of them
    asia_keys = asia.select("n_nationkey")
    customer = customer.join(
        F.broadcast(asia_keys),
        customer.c_nationkey == asia_keys.n_nationkey,
        "left_semi",
    )
    supplier = supplier.join(
        F.broadcast(asia_keys),
        supplier.s_nationkey == asia_keys.n_nationkey,
        "left_semi",
    )
    j = (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, lineitem.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(supplier),
            (supplier.s_suppkey == lineitem.l_suppkey)
            & (supplier.s_nationkey == customer.c_nationkey),
        )
        .join(F.broadcast(asia), asia.n_nationkey == supplier.s_nationkey)
    )
    rev = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    )
    return (
        j.groupBy("n_name")
        .agg(
            F.sum(rev).cast("long").alias("revenue_e4"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
        .orderBy("n_name")
    )


@_register(
    "q_part_agg",
    ["extension-relational", "A1"],
    """
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(l.l_quantity) AS BIGINT) AS sum_qty,
           CAST(MAX(p.p_size) AS BIGINT) AS max_size
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_type LIKE '%BRASS%' OR p.p_size >= 10
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
    note=(
        "Part-dimension rollup: lineitem ⋈ broadcast part with a "
        "dimension-side predicate (pushed into the dim scan before the "
        "broadcast), brand-level quantity totals. Exercises the part "
        "table; integer aggregates keep the compare exact."
    ),
)
def q_part_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type").like("%BRASS%") | (F.col("p_size") >= 10)
    )
    return (
        lineitem.join(
            F.broadcast(part), part.p_partkey == lineitem.l_partkey
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.max("p_size").cast("long").alias("max_size"),
        )
        .orderBy("p_brand")
    )


@_register(
    "q_rename_evolution",
    ["extension-relational", "maintenance", "governance"],
    """
    SELECT o_orderkey,
           o_totalprice AS price,
           CASE WHEN o_orderkey % 2 = 1 THEN o_custkey END AS buyer
    FROM orders
    ORDER BY o_orderkey
    """,
    note=(
        "Metadata-only schema evolution (versioned.rename_column / "
        "drop_column): commit even-key orders as v1 with "
        "(o_orderkey, o_custkey, o_totalprice), RENAME o_totalprice->"
        "price and o_custkey->buyer, DROP buyer, append the odd keys "
        "under the evolved schema re-adding buyer (fresh field id), "
        "then read latest. Old files resolve under the NEW names by "
        "stable field id (Iceberg name mapping — zero bytes "
        "rewritten), and the re-added buyer reads NULL from "
        "pre-re-add files instead of resurrecting the dropped bytes; "
        "the oracle is the equivalent projection over raw orders."
    ),
)
@scratch_table("evo_")
def q_rename_evolution(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.versioned import (
        commit_version,
        drop_column,
        read_version,
        rename_column,
        versions,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    commit_version(orders.filter(F.col("o_orderkey") % 2 == 0).repartition(4), path)
    rename_column(spark, path, "o_totalprice", "price")
    rename_column(spark, path, "o_custkey", "buyer")
    drop_column(spark, path, "buyer")
    commit_version(
        orders.filter(F.col("o_orderkey") % 2 == 1)
        .select(
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
            F.col("o_custkey").alias("buyer"),
        )
        .repartition(2),
        path,
        carry_from=versions(spark, path)[-1],
        allow_evolution=True,
    )
    return (
        read_version(spark, path)
        .select("o_orderkey", "price", "buyer")
        .orderBy("o_orderkey")
    )


@_register(
    "q_cdf_keyed",
    ["extension-relational", "maintenance", "cdc"],
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    )
    SELECT * FROM (
      SELECT o_orderkey, o_custkey, o_totalprice,
             'delete' AS change_type
      FROM base WHERE o_custkey % 10 = 7
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice,
             'update_preimage' AS change_type
      FROM base WHERE o_custkey % 10 <> 7 AND o_orderkey % 10 = 3
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice + 1000.0,
             'update_postimage' AS change_type
      FROM base WHERE o_custkey % 10 <> 7 AND o_orderkey % 10 = 3
      UNION ALL
      SELECT o_orderkey + 10000000, CAST(1 AS BIGINT), o_totalprice,
             'insert' AS change_type
      FROM base WHERE o_orderkey % 10 = 5
    ) ORDER BY o_orderkey, change_type
    """,
    note=(
        "Key-level change feed (changes.table_changes_keyed — Delta "
        "table_changes semantics): commit orders as v1, MOR-upsert a "
        "batch that CHANGES keys %10=3 (+1000), re-lands keys %10=4 "
        "IDENTICALLY (rewrite noise), and inserts fresh keys "
        "(%10=5 shifted +10M), then MOR-delete custkey%10=7. The "
        "keyed feed reconciles the file-level delete+insert pairs in "
        "ONE null-safe full-outer join over the (delta-sized) feed: "
        "identical pairs are SUPPRESSED, changed pairs become "
        "update_preimage/update_postimage, and a key updated then "
        "deleted inside the window nets to one delete of its ORIGINAL "
        "row. IEEE-exact +1000.0 keeps the compare bit-exact."
    ),
)
@scratch_table("cdfk_")
def q_cdf_keyed(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.changes import (
        table_changes_keyed,
    )
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        commit_delete_mor,
        commit_upsert_mor,
    )
    from temp_data_pipeline_spark.operators.versioned import commit_version

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    commit_version(orders.repartition(4), path)
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 3)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
        .unionByName(orders.filter(F.col("o_orderkey") % 10 == 4))
        .unionByName(
            orders.filter(F.col("o_orderkey") % 10 == 5).select(
                (F.col("o_orderkey") + F.lit(10000000)).alias(
                    "o_orderkey"
                ),
                F.lit(1).cast("long").alias("o_custkey"),
                F.col("o_totalprice"),
            )
        )
    )
    commit_upsert_mor(updates, path, ["o_orderkey"])
    v3 = commit_delete_mor(spark, path, "o_custkey % 10 = 7")
    return (
        table_changes_keyed(spark, path, ["o_orderkey"], 1, v3)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.col("_change_type").alias("change_type"),
        )
        .orderBy("o_orderkey", "change_type")
    )


@_register(
    "q_replicate",
    ["extension-relational", "maintenance", "cdc"],
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 10 = 3
                THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_custkey % 10 <> 7
    UNION ALL
    SELECT o_orderkey + 10000000, CAST(1 AS BIGINT), o_totalprice
    FROM orders WHERE o_orderkey % 10 = 5
    ORDER BY o_orderkey
    """,
    note=(
        "CDC replication (operators/replicate.py — Delta Live "
        "Tables' APPLY CHANGES INTO): seed a replica from the "
        "source's snapshot, then catch it up TWICE through the "
        "key-level change feed — an upsert window (keys %10=3 "
        "repriced +1000, fresh +10M keys inserted) and a delete "
        "window (custkey%10=7) — each catch-up ONE delta-sized "
        "keyed feed applied as ONE merge-on-read commit: upserted "
        "keys DV'd out and re-appended, deleted keys DV'd out with "
        "no replacement, zero partition rewrites, O(change) cost. "
        "The replica's manifest records which source version it "
        "reflects, making catch-up a pure incremental pull. The "
        "replica's final rows must equal the source's final "
        "snapshot (this oracle); IEEE-exact +1000.0 keeps the "
        "compare bit-exact."
    ),
)
@scratch_table("repl_")
def q_replicate(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        commit_delete_mor,
        commit_upsert_mor,
        read_table,
    )
    from temp_data_pipeline_spark.operators.replicate import (
        replicate_incremental,
        replicate_seed,
    )
    from temp_data_pipeline_spark.operators.versioned import commit_version

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    src, dst = f"{scratch}/src", f"{scratch}/replica"
    commit_version(orders.repartition(4), src)
    replicate_seed(spark, src, dst, ["o_orderkey"])
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 3)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
        .unionByName(
            orders.filter(F.col("o_orderkey") % 10 == 5).select(
                (F.col("o_orderkey") + F.lit(10000000)).alias(
                    "o_orderkey"
                ),
                F.lit(1).cast("long").alias("o_custkey"),
                F.col("o_totalprice"),
            )
        )
    )
    commit_upsert_mor(updates, src, ["o_orderkey"])
    replicate_incremental(spark, src, dst, ["o_orderkey"])
    commit_delete_mor(spark, src, "o_custkey % 10 = 7")
    replicate_incremental(spark, src, dst, ["o_orderkey"])
    return (
        read_table(spark, dst)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@_register(
    "q_scd2",
    ["extension-relational", "maintenance", "cdc"],
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    )
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(1 AS BIGINT) AS _valid_from,
           CASE WHEN o_orderkey % 10 = 3 THEN CAST(2 AS BIGINT)
                WHEN o_custkey % 10 = 7 THEN CAST(3 AS BIGINT)
                ELSE CAST(NULL AS BIGINT) END AS _valid_to
    FROM base
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice + 1000.0,
           CAST(2 AS BIGINT),
           CASE WHEN o_custkey % 10 = 7 THEN CAST(3 AS BIGINT)
                ELSE CAST(NULL AS BIGINT) END
    FROM base WHERE o_orderkey % 10 = 3
    UNION ALL
    SELECT o_orderkey + 10000000, CAST(1 AS BIGINT), o_totalprice,
           CAST(2 AS BIGINT), CAST(NULL AS BIGINT)
    FROM base WHERE o_orderkey % 10 = 5
    ORDER BY o_orderkey, _valid_from
    """,
    note=(
        "SCD Type-2 dimension maintenance (operators/scd.py — the "
        "Kimball full-history dimension, fed by the key-level change "
        "feed): seed from the source snapshot, then fold an upsert "
        "window (keys %10=3 repriced, fresh +10M keys) and a delete "
        "window (custkey%10=7), each as ONE merge-on-read commit — "
        "the affected keys' CURRENT rows are DV'd out and re-appended "
        "closed (_valid_to = source version), new content appends as "
        "the new current row, and closed history is NEVER rewritten; "
        "O(change) per window. Interval boundaries are source "
        "versions, so scd2_snapshot_at reconstructs any ingested "
        "source snapshot even after the source vacuums its history. "
        "The final dimension must equal this oracle's interval "
        "algebra; IEEE-exact +1000.0 keeps the compare bit-exact."
    ),
)
@scratch_table("scd2_")
def q_scd2(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        commit_delete_mor,
        commit_upsert_mor,
        read_table,
    )
    from temp_data_pipeline_spark.operators.scd import (
        scd2_catchup,
        scd2_init,
    )
    from temp_data_pipeline_spark.operators.versioned import commit_version

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    src, dim = f"{scratch}/src", f"{scratch}/dim"
    commit_version(orders.repartition(4), src)
    scd2_init(spark, src, dim, ["o_orderkey"])
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 3)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
        .unionByName(
            orders.filter(F.col("o_orderkey") % 10 == 5).select(
                (F.col("o_orderkey") + F.lit(10000000)).alias(
                    "o_orderkey"
                ),
                F.lit(1).cast("long").alias("o_custkey"),
                F.col("o_totalprice"),
            )
        )
    )
    commit_upsert_mor(updates, src, ["o_orderkey"])
    commit_delete_mor(spark, src, "o_custkey % 10 = 7")
    scd2_catchup(spark, src, dim, ["o_orderkey"])
    return (
        read_table(spark, dim)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "_valid_from",
            "_valid_to",
        )
        .orderBy("o_orderkey", "_valid_from")
    )


@_register(
    "q_partition_evolution",
    ["extension-relational", "maintenance", "governance"],
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE o_orderstatus = 'F'
    ORDER BY o_orderkey
    """,
    note=(
        "Partition layout evolution (Iceberg-style): commit even-key "
        "orders UNPARTITIONED as v1, carry-append the odd keys "
        "partitioned by o_orderstatus as v2 — each dir keeps its "
        "physical layout, and a status filter prunes each branch ITS "
        "way (PushedFilters into the legacy dir's parquet scan, "
        "planning-time PartitionFilters on the hive dir). The read "
        "over the evolved table must equal the plain filtered SELECT; "
        "compact_snapshot normalizes to the latest layout when wanted."
    ),
)
@scratch_table("pevo_")
def q_partition_evolution(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.versioned import (
        commit_version,
        read_version,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    commit_version(orders.filter(F.col("o_orderkey") % 2 == 0).repartition(4), path)
    commit_version(
        orders.filter(F.col("o_orderkey") % 2 == 1).repartition(2),
        path,
        carry_from=1,
        partition_by=["o_orderstatus"],
    )
    return (
        read_version(spark, path)
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    )


@_register(
    "q_sql_dml",
    ["extension-relational", "maintenance", "sql"],
    """
    WITH t1 AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE NOT (o_custkey % 10 = 7)
    ),
    t2 AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 10 = 3
                  THEN o_totalprice + 100.0
                  ELSE o_totalprice END AS o_totalprice
      FROM t1
    ),
    t3 AS (
      SELECT * FROM t2
      UNION ALL
      SELECT o_orderkey + 50000000, CAST(9 AS BIGINT), o_totalprice
      FROM t2 WHERE o_orderkey % 100 = 11
    )
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 10 = 6 AND o_totalprice + 10.0 > 500.0
                THEN o_totalprice + 10.0
                ELSE o_totalprice END AS o_totalprice
    FROM t3
    WHERE NOT (o_orderkey % 10 = 6 AND o_totalprice + 10.0 <= 500.0)
    ORDER BY o_orderkey
    """,
    note=(
        "SQL statement surface (sql.py::SqlEngine — the engine.sql() "
        "front the r8 verdict listed): the full DML family typed as "
        "SQL text against a catalog of versioned tables. DELETE FROM "
        "(MOR deletion vector), UPDATE .. SET .. WHERE (DV + "
        "delta-sized re-append), INSERT INTO .. SELECT (carry-commit "
        "append with store-assignment casts), and MERGE INTO with a "
        "parenthesized subquery source, alias rewriting, and the "
        "update/delete clause family — each statement delegating to "
        "the oracle-verified MOR operators, so the SQL front adds "
        "parsing, not new semantics. The final snapshot must equal "
        "this oracle; IEEE-exact +100.0/+10.0 keeps the compare "
        "bit-exact."
    ),
)
@scratch_table("sqldml_")
def q_sql_dml(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        read_table,
    )
    from temp_data_pipeline_spark.operators.versioned import commit_version
    from temp_data_pipeline_spark.sql import SqlEngine

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = f"{scratch}/t"
    commit_version(orders.repartition(4), path)
    eng = SqlEngine(spark, {"t": path})
    eng.sql("DELETE FROM t WHERE o_custkey % 10 = 7")
    eng.sql(
        "UPDATE t SET o_totalprice = o_totalprice + 100.0 "
        "WHERE o_orderkey % 10 = 3"
    )
    eng.sql(
        "INSERT INTO t SELECT o_orderkey + 50000000, "
        "CAST(9 AS BIGINT), o_totalprice FROM t "
        "WHERE o_orderkey % 100 = 11"
    )
    eng.sql(
        """
        MERGE INTO t USING (
          SELECT o_orderkey, o_custkey,
                 o_totalprice + 10.0 AS o_totalprice
          FROM t WHERE o_orderkey % 10 = 6
        ) s ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED AND s.o_totalprice > 500.0 THEN UPDATE SET *
        WHEN MATCHED THEN DELETE
        """
    )
    return (
        read_table(spark, path)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@_register(
    "q_compact_partitions",
    ["extension-relational", "maintenance"],
    """
    SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
    ORDER BY o_orderkey
    """,
    note=(
        "Partition-scoped OPTIMIZE (versioned.compact_partitions): "
        "seed orders partitioned by o_orderstatus (the %3 split), "
        "fragment it with two hive-partitioned appends, then compact "
        "ONLY the 'O' partition by value and the >= 'P' window by "
        "where-predicate — each rewrite touches the selected "
        "partitions and carries the rest as nested v=N/col=x manifest "
        "references (the Delta OPTIMIZE ... WHERE shape: one hot "
        "partition at O(partition), never a table rewrite). The "
        "visible multiset must stay exactly the raw table."
    ),
)
@scratch_table("cp_")
def q_compact_partitions(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.versioned import (
        commit_version,
        compact_partitions,
        read_version,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    key = F.col("o_orderkey")
    commit_version(
        orders.filter(key % 3 != 0).repartition(4),
        path,
        partition_by=["o_orderstatus"],
    )
    for j, pred in enumerate(
        [(key % 3 == 0) & (key % 2 == 0), (key % 3 == 0) & (key % 2 == 1)]
    ):
        commit_version(
            orders.filter(pred),
            path,
            carry_from=j + 1,
            partition_by=["o_orderstatus"],
        )
    compact_partitions(spark, path, "o_orderstatus", values=["O"])
    compact_partitions(spark, path, "o_orderstatus", where="o_orderstatus >= 'P'")
    return read_version(spark, path).orderBy("o_orderkey")


@_register(
    "q_sql_ddl",
    ["extension-relational", "maintenance", "sql"],
    """
    WITH agg AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(o_orderkey) AS BIGINT) AS keysum
      FROM orders GROUP BY o_custkey
    ),
    replaced AS (
      SELECT o_custkey, n,
             CASE WHEN o_custkey % 10 = 4 THEN NULL ELSE keysum END
               AS keysum
      FROM agg
    )
    SELECT o_custkey, n, keysum FROM replaced
    WHERE n > 1 ORDER BY o_custkey
    """,
    note=(
        "SQL DDL + lifecycle surface (sql.py::SqlEngine, the r10 "
        "statement additions): CREATE TABLE ... AS without LOCATION "
        "(lands at the engine's warehouse root), a named-column "
        "INSERT composed with REPLACE WHERE (the o_custkey%10=4 "
        "window is atomically swapped for (o_custkey, n)-only rows — "
        "keysum null-fills, one MOR commit via "
        "commit_replace_where), CREATE VIEW re-planned over the "
        "CURRENT snapshot, and the final SELECT through the view. "
        "Each statement delegates to oracle-verified operators; the "
        "SQL front adds parsing, not semantics."
    ),
)
@scratch_table("sqlddl_")
def q_sql_ddl(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.sql import SqlEngine

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    from temp_data_pipeline_spark.operators.versioned import (
        commit_version,
    )

    commit_version(orders.repartition(4), f"{scratch}/src")
    eng = SqlEngine(spark, {"src": f"{scratch}/src"}, warehouse=f"{scratch}/wh")
    eng.sql(
        "CREATE TABLE agg AS SELECT o_custkey, "
        "CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(o_orderkey) AS BIGINT) AS keysum "
        "FROM src GROUP BY o_custkey"
    )
    eng.sql(
        "INSERT INTO agg (o_custkey, n) "
        "REPLACE WHERE o_custkey % 10 = 4 "
        "SELECT o_custkey, CAST(count(*) AS BIGINT) FROM src "
        "WHERE o_custkey % 10 = 4 GROUP BY o_custkey"
    )
    eng.sql(
        "CREATE VIEW big AS SELECT o_custkey, n, keysum "
        "FROM agg WHERE n > 1"
    )
    return eng.sql("SELECT o_custkey, n, keysum FROM big ORDER BY o_custkey")


@_register(
    "q_sql_merge",
    ["extension-relational", "maintenance", "sql"],
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ),
    src AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 10.0 AS o_totalprice
      FROM base WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey + 60000000, o_custkey, o_totalprice
      FROM base WHERE o_orderkey % 100 = 17
    ),
    pair AS (
      SELECT b.o_orderkey AS t_key, b.o_custkey AS t_cust,
             b.o_totalprice AS t_price,
             s.o_orderkey AS s_key, s.o_custkey AS s_cust,
             s.o_totalprice AS s_price
      FROM base b LEFT JOIN src s ON b.o_orderkey = s.o_orderkey
    )
    SELECT o_orderkey, o_custkey, o_totalprice FROM (
      -- WHEN MATCHED AND s.price > 500 THEN UPDATE SET *
      SELECT t_key AS o_orderkey, s_cust AS o_custkey,
             s_price AS o_totalprice
      FROM pair WHERE s_key IS NOT NULL AND s_price > 150000.0
      UNION ALL
      -- WHEN NOT MATCHED BY SOURCE AND t.cust % 5 = 0
      --   THEN UPDATE SET price = price + 1.0
      SELECT t_key, t_cust, t_price + 1.0
      FROM pair WHERE s_key IS NULL AND t_cust % 5 = 0
      UNION ALL
      -- by-source rows neither updated nor deleted: untouched
      SELECT t_key, t_cust, t_price
      FROM pair WHERE s_key IS NULL AND t_cust % 5 NOT IN (0, 1)
      UNION ALL
      -- WHEN NOT MATCHED THEN INSERT *
      SELECT s.o_orderkey, s.o_custkey, s.o_totalprice
      FROM src s LEFT JOIN base b ON s.o_orderkey = b.o_orderkey
      WHERE b.o_orderkey IS NULL
    )
    ORDER BY o_orderkey
    """,
    note=(
        "MERGE with the FULL Delta clause family including WHEN NOT "
        "MATCHED BY SOURCE (sql.py -> operators/merge.py, r11): one "
        "statement updates matched rows passing the condition, "
        "deletes the remaining matched rows, inserts unmatched "
        "source rows, and ages/deletes target rows ABSENT from the "
        "source by t-only predicates — the sync-deletes move. "
        "By-source semantics force the full-table position scan "
        "(pruning to source keys would hide the clause's rows) and a "
        "full-outer classifying join, exactly Delta's cost model; "
        "still ONE MOR commit: DV for updated/deleted positions + "
        "delta-sized append. +10.0/+1.0 keep the compare IEEE-exact."
    ),
)
@scratch_table("sqlmerge_")
def q_sql_merge(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        read_table,
    )
    from temp_data_pipeline_spark.operators.versioned import commit_version
    from temp_data_pipeline_spark.sql import SqlEngine

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = f"{scratch}/t"
    commit_version(orders.repartition(4), path)
    eng = SqlEngine(spark, {"t": path})
    eng.sql(
        """
        MERGE INTO t USING (
          SELECT o_orderkey, o_custkey,
                 o_totalprice + 10.0 AS o_totalprice
          FROM t WHERE o_orderkey % 3 = 0
          UNION ALL
          SELECT o_orderkey + 60000000, o_custkey, o_totalprice
          FROM t WHERE o_orderkey % 100 = 17
        ) s ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED AND s.o_totalprice > 150000.0 THEN UPDATE SET *
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED BY TARGET THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND t.o_custkey % 5 = 0
          THEN UPDATE SET o_totalprice = t.o_totalprice + 1.0
        WHEN NOT MATCHED BY SOURCE AND t.o_custkey % 5 = 1
          THEN DELETE
        """
    )
    return (
        read_table(spark, path)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@_register(
    "q_quarantine_replay",
    ["extension-relational", "maintenance", "governance"],
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           CASE WHEN o_custkey % 10 = 7 AND o_orderkey % 3 = 0
                THEN 'quarantined' ELSE 'live' END AS state
    FROM orders
    ORDER BY o_orderkey
    """,
    note=(
        "Quarantine replay lifecycle (operators/expectations.py::"
        "replay_quarantine — the DLT 'reprocess quarantine' move, "
        "verdict r8 #7): ingest gated on custkey%10<>7 quarantines "
        "the violating tenth; after the gate fix (okey%3<>0) ONE "
        "replay re-appends the now-passing rows as a conflict-safe "
        "carry commit and rewrites the quarantine to the still-"
        "violating remainder re-tagged under the new gate — replay "
        "is idempotent (a second replay appends nothing). The final "
        "live table ∪ remaining quarantine must equal this row "
        "classification."
    ),
)
@scratch_table("qrep_")
def q_quarantine_replay(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.expectations import (
        commit_with_expectations,
        replay_quarantine,
    )
    from temp_data_pipeline_spark.operators.versioned import (
        read_version,
        versions,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = f"{scratch}/t"
    commit_with_expectations(
        orders.repartition(4),
        path,
        {"tenant_ok": "o_custkey % 10 <> 7"},
    )
    replay_quarantine(spark, path, {"fixed_gate": "o_orderkey % 3 <> 0"})
    # idempotence: the second replay must append nothing
    n_before = len(versions(spark, path))
    _, n_pass, _ = replay_quarantine(spark, path, {"fixed_gate": "o_orderkey % 3 <> 0"})
    assert n_pass == 0 and len(versions(spark, path)) == n_before
    live = read_version(spark, path).withColumn(
        "state", F.lit("live")
    )
    quarantined = (
        read_version(spark, f"{path}_quarantine")
        .drop("_violations")
        .withColumn("state", F.lit("quarantined"))
    )
    return live.unionByName(quarantined).orderBy("o_orderkey")


@_register(
    "q_clone",
    ["extension-relational", "maintenance", "lakehouse"],
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_custkey % 10 = 3 THEN o_totalprice + 5.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE o_orderkey % 7 <> 0
    ORDER BY o_orderkey
    """,
    note=(
        "SHALLOW CLONE lifecycle (versioned.shallow_clone, r11): "
        "zero-copy clone of a versioned orders table (v1 references "
        "the source's dirs via _dir_roots — no data copied), then an "
        "INDEPENDENT life: MOR delete (okey%7=0) and MOR upsert "
        "(+5.0 where custkey%10=3) commit locally on the clone while "
        "an append to the SOURCE stays invisible (the clone pinned "
        "its version). Root-aware readers resolve carried dirs in "
        "the source table; sidecar keys are relative, so DV "
        "subtraction works unchanged. Exact +5.0 keeps the compare "
        "IEEE-exact."
    ),
)
@scratch_table("clone_")
def q_clone(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        commit_delete_mor,
        commit_upsert_mor,
        read_table,
    )
    from temp_data_pipeline_spark.operators.versioned import (
        commit_version,
        shallow_clone,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    src, dst = f"{scratch}/src", f"{scratch}/dst"
    commit_version(orders.repartition(4), src)
    shallow_clone(spark, src, dst)
    commit_delete_mor(spark, dst, "o_orderkey % 7 = 0")
    ups = read_table(spark, dst).filter("o_custkey % 10 = 3").select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(5.0)).alias("o_totalprice"),
    )
    commit_upsert_mor(ups, dst, ["o_orderkey"])
    # source moves on — the clone pinned version 1 and must not see
    commit_version(
        orders.limit(10).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(90000000)
        ),
        src,
        carry_from=1,
    )
    return read_table(spark, dst).orderBy("o_orderkey")


@_register(
    "q_show_partitions",
    ["extension-relational", "maintenance", "sql"],
    """
    SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority
    """,
    note=(
        "SHOW PARTITIONS (versioned.snapshot_partitions, r11): a "
        "metadata-plane dir walk of the manifest's data dirs — hive "
        "col=value segments decoded and typed per the manifest "
        "schema, one FS listing per referenced dir, NEVER a data "
        "scan (at 100 TB a DISTINCT over rows is a full shuffle; the "
        "listing is O(partitions)). The table is seeded in two "
        "carry commits so the walk spans referenced dirs, not just "
        "the latest write."
    ),
)
@scratch_table("showparts_")
def q_show_partitions(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.versioned import (
        commit_version,
        snapshot_partitions,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    path = f"{scratch}/t"
    first = orders.filter("o_orderkey % 2 = 0")
    rest = orders.filter("o_orderkey % 2 <> 0")
    commit_version(first.repartition(4), path, partition_by=["o_orderpriority"])
    commit_version(rest.repartition(4), path, carry_from=1)
    return snapshot_partitions(spark, path).orderBy("o_orderpriority")


@_register(
    "q_add_column",
    ["extension-relational", "maintenance", "sql"],
    """
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice END AS bonus,
           CASE WHEN o_orderkey % 10 = 0 THEN 'credited' END AS note
    FROM orders
    ORDER BY o_orderkey
    """,
    note=(
        "Metadata-only ADD COLUMN (versioned.add_column + SQL ALTER "
        "TABLE ADD COLUMN(S), r11): two columns appended with fresh "
        "field ids and ZERO data rewritten — old files surface them "
        "as typed NULLs via the explicit-schema parquet scan; a "
        "subsequent MOR UPDATE fills them for one row slice (DV + "
        "delta-sized append), proving DML composes with the widened "
        "schema. The oracle is the NULL-fill contract itself."
    ),
)
@scratch_table("addcol_")
def q_add_column(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.versioned import commit_version
    from temp_data_pipeline_spark.sql import SqlEngine

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = f"{scratch}/t"
    commit_version(orders.repartition(4), path)
    eng = SqlEngine(spark, {"t": path})
    eng.sql("ALTER TABLE t ADD COLUMNS (bonus double, note string)")
    eng.sql(
        "UPDATE t SET bonus = o_totalprice, note = 'credited' "
        "WHERE o_orderkey % 10 = 0"
    )
    return eng.sql(
        "SELECT o_orderkey, o_totalprice, bonus, note FROM t "
        "ORDER BY o_orderkey"
    )


@_register(
    "q_copy_into",
    ["extension-relational", "ingestion", "sql"],
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_orderkey
    """,
    note=(
        "COPY INTO (operators/copy_into.py, r11): idempotent "
        "incremental file loading — a landing dir is written in two "
        "waves of parquet files; the first COPY loads wave 1, the "
        "second loads ONLY wave 2's new files (the ledger rides the "
        "commit manifest, so ledger-update and data-append are one "
        "atomic rename), and a third run loads ZERO files. The final "
        "table must equal orders exactly — duplicated loads or "
        "dropped files both break the compare. Data path is one "
        "distributed read of only the new files + one carry append; "
        "the glob listing and ledger walk are metadata-plane."
    ),
)
@scratch_table("copyinto_")
def q_copy_into(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.copy_into import copy_into
    from temp_data_pipeline_spark.operators.versioned import read_version

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    land, path = f"{scratch}/landing", f"{scratch}/t"
    orders.filter("o_orderkey % 2 = 0").repartition(3).write.parquet(f"{land}/wave1")
    v, n1 = copy_into(spark, path, land, pattern="*/part-*.parquet")
    assert v == 1 and n1 >= 1
    orders.filter("o_orderkey % 2 <> 0").repartition(3).write.parquet(f"{land}/wave2")
    v, n2 = copy_into(spark, path, land, pattern="*/part-*.parquet")
    assert v == 2 and n2 >= 1
    v, n3 = copy_into(spark, path, land, pattern="*/part-*.parquet")
    assert (v, n3) == (2, 0), "COPY INTO re-run must load nothing"
    return read_version(spark, path).orderBy("o_orderkey")


@_register(
    "q_sql_cdf",
    ["extension-relational", "cdc", "sql"],
    """
    SELECT o_orderkey, o_custkey, o_totalprice, _change_type FROM (
      SELECT o_orderkey, o_custkey, o_totalprice,
             'delete' AS _change_type
      FROM orders WHERE o_custkey % 10 = 7
      UNION ALL
      SELECT o_orderkey + 60000000, o_custkey, o_totalprice,
             'insert' AS _change_type
      FROM orders
      WHERE o_orderkey % 100 = 42 AND o_custkey % 10 <> 7
    )
    ORDER BY o_orderkey, _change_type
    """,
    note=(
        "table_changes() SQL surface (sql.py -> operators/changes."
        "changes_between, r11): Delta's CDF table function inside a "
        "plain SELECT — the window since version 1 over one MOR "
        "DELETE commit and one INSERT commit yields exactly the "
        "deleted rows ('delete') and the inserted rows ('insert'). "
        "The feed is delta-sized (DV positions + appended files), "
        "never a table diff: reading the window costs O(change), the "
        "rewrite registers a temp view and the rest of the query "
        "reaches Spark SQL untouched."
    ),
)
@scratch_table("sqlcdf_")
def q_sql_cdf(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.versioned import commit_version
    from temp_data_pipeline_spark.sql import SqlEngine

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = f"{scratch}/t"
    commit_version(orders.repartition(4), path)
    eng = SqlEngine(spark, {"t": path})
    eng.sql("DELETE FROM t WHERE o_custkey % 10 = 7")
    eng.sql(
        "INSERT INTO t SELECT o_orderkey + 60000000, o_custkey, "
        "o_totalprice FROM t WHERE o_orderkey % 100 = 42"
    )
    return eng.sql(
        "SELECT o_orderkey, o_custkey, o_totalprice, "
        "_change_type FROM table_changes('t', 1) "
        "ORDER BY o_orderkey, _change_type"
    )


@_register(
    "q_merge_cdc",
    ["extension-relational", "cdc", "sql"],
    """
    WITH feed AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0 THEN 'D'
                  WHEN o_orderkey % 2 = 0 THEN 'U'
                  ELSE 'I' END AS op,
             o_custkey, o_totalprice
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey + 60000000,
             CASE WHEN o_custkey % 13 = 0 THEN 'D' ELSE 'I' END AS op,
             o_custkey, o_totalprice
      FROM orders WHERE o_orderkey % 100 = 17
    )
    SELECT o_orderkey, o_custkey, o_totalprice FROM (
      -- matched, op='D' -> deleted; op='U' -> price doubled;
      -- op='I' (matched catch-all) -> price + 1.0
      SELECT b.o_orderkey, b.o_custkey,
             CASE WHEN f.op = 'U' THEN b.o_totalprice * 2.0
                  ELSE b.o_totalprice + 1.0 END AS o_totalprice
      FROM orders b JOIN feed f ON b.o_orderkey = f.o_orderkey
      WHERE f.op <> 'D'
      UNION ALL
      -- matched rows with no feed entry: untouched
      SELECT b.o_orderkey, b.o_custkey, b.o_totalprice
      FROM orders b LEFT JOIN feed f ON b.o_orderkey = f.o_orderkey
      WHERE f.o_orderkey IS NULL
      UNION ALL
      -- unmatched feed rows insert unless op='D'
      SELECT f.o_orderkey, f.o_custkey, f.o_totalprice
      FROM feed f LEFT JOIN orders b ON f.o_orderkey = b.o_orderkey
      WHERE b.o_orderkey IS NULL AND f.op <> 'D'
    )
    ORDER BY o_orderkey
    """,
    note=(
        "Ordered multi-clause MERGE — the canonical CDC apply "
        "(operators/merge.py matched_clauses, r11): THREE WHEN "
        "MATCHED clauses walk in order (DELETE on op='D', UPDATE "
        "price*2 on op='U', catch-all UPDATE price+1.0) and the "
        "first satisfied condition wins; unmatched feed rows insert "
        "unless op='D'. Clause count only widens the projection and "
        "filter expressions over the SINGLE classifying right-outer "
        "join on the zone-map-pruned position scan — one keyed "
        "shuffle of the delta, one delta-sized append, zero "
        "partition rewrites regardless of clause count. *2.0/+1.0 "
        "keep the compare IEEE-exact."
    ),
)
@scratch_table("mergecdc_")
def q_merge_cdc(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        read_table,
    )
    from temp_data_pipeline_spark.operators.versioned import commit_version
    from temp_data_pipeline_spark.sql import SqlEngine

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = f"{scratch}/t"
    commit_version(orders.repartition(4), path)
    feed = spark.sql(
        """
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 11 = 0 THEN 'D'
                    WHEN o_orderkey % 2 = 0 THEN 'U'
                    ELSE 'I' END AS op,
               o_custkey, o_totalprice
        FROM {o} WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey + 60000000,
               CASE WHEN o_custkey % 13 = 0 THEN 'D'
                    ELSE 'I' END AS op,
               o_custkey, o_totalprice
        FROM {o} WHERE o_orderkey % 100 = 17
        """,
        o=orders,
    )
    feed.createOrReplaceTempView("cdc_feed")
    eng = SqlEngine(spark, {"t": path})
    eng.sql(
        """
        MERGE INTO t USING (
          SELECT o_orderkey, o_custkey, o_totalprice, op
          FROM cdc_feed
        ) s ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED AND s.op = 'D' THEN DELETE
        WHEN MATCHED AND s.op = 'U'
          THEN UPDATE SET o_totalprice = t.o_totalprice * 2.0
        WHEN MATCHED
          THEN UPDATE SET o_totalprice = t.o_totalprice + 1.0
        WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *
        """
    )
    return (
        read_table(spark, path)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@_register(
    "q_sql_console",
    ["extension-relational", "sql"],
    """
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 2 = 0 THEN 'std' ELSE 'alt' END AS grade
    FROM orders
    ORDER BY o_orderkey
    """,
    note=(
        "Typed-DDL console lifecycle (sql.py, r11): CREATE TABLE with "
        "an explicit column list (empty typed v1), column DEFAULT set "
        "then re-set between two named-column INSERT..SELECTs (each "
        "batch takes the default in force when it was written — the "
        "SQL default contract, metadata-plane), TBLPROPERTIES riding "
        "the commits, VACUUM DRY RUN touching nothing. The final "
        "table must equal orders + the write-time grade assignment."
    ),
)
@scratch_table("sqlconsole_")
def q_sql_console(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.sql import SqlEngine

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    orders.createOrReplaceTempView("q_console_orders")
    eng = SqlEngine(spark, {}, warehouse=scratch)
    eng.sql(
        "CREATE TABLE con (o_orderkey BIGINT, o_totalprice DOUBLE, "
        "grade STRING)"
    )
    eng.sql("ALTER TABLE con ALTER COLUMN grade SET DEFAULT 'std'")
    eng.sql(
        "ALTER TABLE con SET TBLPROPERTIES ('source' = 'orders')"
    )
    eng.sql(
        "INSERT INTO con (o_orderkey, o_totalprice) "
        "SELECT o_orderkey, o_totalprice FROM q_console_orders "
        "WHERE o_orderkey % 2 = 0"
    )
    eng.sql("ALTER TABLE con ALTER COLUMN grade SET DEFAULT 'alt'")
    eng.sql(
        "INSERT INTO con (o_orderkey, o_totalprice) "
        "SELECT o_orderkey, o_totalprice FROM q_console_orders "
        "WHERE o_orderkey % 2 <> 0"
    )
    props = {
        r["key"]: r["value"]
        for r in eng.sql("SHOW TBLPROPERTIES con").collect()
    }
    assert props == {"source": "orders"}, props
    dry = eng.sql("VACUUM con RETAIN 1 VERSIONS DRY RUN").count()
    assert dry >= 1  # expirable history reported, nothing deleted
    return eng.sql(
        "SELECT o_orderkey, o_totalprice, grade FROM con "
        "ORDER BY o_orderkey"
    )


@_register(
    "q_bucket_join",
    ["extension-relational", "maintenance"],
    """
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           FLOOR(SUM(o.o_totalprice) * 100.0 + 0.5) / 100.0 AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    note=(
        "Bucketed-lakehouse lifecycle (operators/bucketing.py): commit "
        "customer and 2/3 of orders as BUCKETED versioned snapshots "
        "(Spark-native bucket files written through the commit "
        "protocol, spec in the manifest), append the last third as a "
        "plain carry commit (spec inherited, physical co-location "
        "broken), rebucket() to restore the layout, then join the two "
        "tables through the catalog-registered bucketed scans — the "
        "plan is a SortMergeJoin with ZERO Exchange on either side "
        "(pinned by tests/test_bucketing.py; at 100 TB this is the "
        "join that never shuffles the fact table again).  Values must "
        "equal the plain shuffling join over the raw parquet."
    ),
)
@scratch_table("bkt_")
def q_bucket_join(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.bucketing import (
        bucketed_join,
        commit_bucketed,
        rebucket,
    )
    from temp_data_pipeline_spark.operators.versioned import commit_version

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    o_path, c_path = f"{scratch}/o", f"{scratch}/c"
    # bucket count is a LAKE constant: both sides must agree for
    # the co-located plan (8 here; ~1024 at 100 TB)
    commit_bucketed(customer, c_path, bucket_by=["custkey"], n_buckets=8)
    key = F.col("o_orderkey")
    commit_bucketed(
        orders.filter(key % 3 != 0),
        o_path,
        bucket_by=["custkey"],
        n_buckets=8,
    )
    # plain append: correct rows immediately, locality deferred
    commit_version(orders.filter(key % 3 == 0), o_path, carry_from=1)
    rebucket(spark, o_path)  # one rewrite, co-location back
    joined = bucketed_join(spark, o_path, c_path, ["custkey"])
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            _rnd(F.sum("o_totalprice")).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


@_register(
    "q_sql_generated",
    ["extension-relational", "sql"],
    """
    SELECT o_orderkey AS k,
           o_totalprice AS price,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
           o_orderkey % 7 AS k_mod
    FROM orders
    ORDER BY o_orderkey
    """,
    note=(
        "GENERATED ALWAYS AS columns (versioned.generated_columns + "
        "sql.py typed CREATE): declare two generation expressions at "
        "CREATE TABLE, land 2/3 of orders through named-column INSERT "
        "(columns omitted -> computed), the rest through MERGE WHEN "
        "NOT MATCHED INSERT (computed on the insert branch), with "
        "every commit's __generated_ auto-check validating the stored "
        "values.  The final table must equal the oracle computing the "
        "same expressions directly."
    ),
)
@scratch_table("gen_")
def q_sql_generated(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.sql import SqlEngine

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    orders.createOrReplaceTempView("q_gen_orders")
    eng = SqlEngine(spark, {}, warehouse=scratch)
    eng.sql(
        "CREATE TABLE gt (k BIGINT, price DOUBLE, "
        "price_floor BIGINT GENERATED ALWAYS AS "
        "(CAST(FLOOR(price) AS BIGINT)), "
        "k_mod BIGINT GENERATED ALWAYS AS (k % 7))"
    )
    eng.sql(
        "INSERT INTO gt (k, price) "
        "SELECT k, price FROM q_gen_orders WHERE k % 3 <> 0"
    )
    eng.sql(
        "MERGE INTO gt USING "
        "(SELECT k, price FROM q_gen_orders WHERE k % 3 = 0) s "
        "ON gt.k = s.k "
        "WHEN NOT MATCHED THEN INSERT (k, price) VALUES (s.k, s.price)"
    )
    return eng.sql("SELECT k, price, price_floor, k_mod FROM gt ORDER BY k")



@_register(
    "q_sql_identity",
    ["extension-relational", "sql"],
    """
    SELECT CAST(COUNT(*) AS BIGINT)        AS n_rows,
           CAST(COUNT(*) AS BIGINT)        AS n_distinct_ids,
           TRUE                            AS merge_batch_above_insert,
           TRUE                            AS update_kept_ids
    FROM orders
    """,
    note=(
        "GENERATED ALWAYS AS IDENTITY (versioned.identity_columns + "
        "assign_identity): ids allocate as watermark + "
        "monotonically_increasing_id()*step on the commit's own write "
        "pass (observe-folded watermark advance, no second job; gaps "
        "allowed, the Delta identity trade).  The query lands 2/3 of "
        "orders by INSERT, the rest by MERGE NOT-MATCHED INSERT, then "
        "MERGE-updates the first batch — and projects the CONTRACT "
        "(values are allocation-order dependent, so the oracle checks "
        "the invariants, not the ids): every row got an id, all ids "
        "distinct, every MERGE-inserted id strictly above the INSERT "
        "batch's watermark, and updates preserved existing ids."
    ),
)
@scratch_table("ident_")
def q_sql_identity(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.versioned import (
        identity_columns,
    )
    from temp_data_pipeline_spark.sql import SqlEngine

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    orders.createOrReplaceTempView("q_ident_orders")
    eng = SqlEngine(spark, {}, warehouse=scratch)
    eng.sql(
        "CREATE TABLE it (id BIGINT GENERATED ALWAYS AS IDENTITY, "
        "k BIGINT, price DOUBLE)"
    )
    v_ins = eng.sql(
        "INSERT INTO it (k, price) "
        "SELECT k, price FROM q_ident_orders WHERE k % 3 <> 0"
    )
    high_insert = identity_columns(spark, f"{scratch}/it")["id"]["high"]
    eng.sql(
        "MERGE INTO it USING "
        "(SELECT k, price FROM q_ident_orders) s ON it.k = s.k "
        "WHEN MATCHED THEN UPDATE SET price = s.price + 1 "
        "WHEN NOT MATCHED THEN INSERT (k, price) VALUES (s.k, s.price)"
    )
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        read_table,
    )

    final = eng.sql("SELECT k, id FROM it")
    # id stability under UPDATE: join the final snapshot to the
    # pre-merge version (time travel) on the key — distributed,
    # no driver materialization of the data
    before = read_table(spark, f"{scratch}/it", v_ins).select(
        "k", F.col("id").alias("id0")
    )
    kept_flag = (
        final.join(before, "k")
        .agg(F.every(F.col("id") == F.col("id0")).alias("update_kept_ids"))
    )
    return (
        final.groupBy()
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("id").alias("n_distinct_ids"),
            (
                F.min(F.when(F.col("k") % 3 == 0, F.col("id")))
                > F.lit(int(high_insert))
            ).alias("merge_batch_above_insert"),
        )
        .crossJoin(kept_flag)  # two single-row aggregates
    )


@_register(
    "q_merge_evolve",
    ["extension-relational", "sql"],
    """
    WITH target AS (
      SELECT o_orderkey AS k, o_totalprice AS price FROM orders
      WHERE o_orderkey % 3 <> 0
    ),
    source AS (
      SELECT o_orderkey AS k, o_totalprice + 5 AS price,
             o_orderpriority AS priority
      FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT COALESCE(s.k, t.k) AS k,
           COALESCE(s.price, t.price) AS price,
           s.priority AS priority
    FROM target t FULL OUTER JOIN source s ON t.k = s.k
    ORDER BY k
    """,
    note=(
        "MERGE WITH SCHEMA EVOLUTION (operators/merge.py "
        "allow_evolution — Delta autoMerge): the source carries a "
        "column the target lacks; SET * / INSERT * widen the target "
        "schema (new column appended LAST, untouched rows read NULL "
        "via add-column evolution), matched rows take the source's "
        "values, unmatched source rows insert.  The final table must "
        "equal the oracle's full-outer reconstruction."
    ),
)
@scratch_table("mevo_")
def q_merge_evolve(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    from temp_data_pipeline_spark.sql import SqlEngine

    orders = load_table(spark, sf_dir, "orders")
    from temp_data_pipeline_spark.operators.versioned import (
        commit_version,
    )

    commit_version(
        orders.filter(F.col("o_orderkey") % 3 != 0).select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
        ),
        f"{scratch}/t",
    )
    orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice") + 5).alias("price"),
        F.col("o_orderpriority").alias("priority"),
    ).createOrReplaceTempView("q_mevo_src")
    eng = SqlEngine(spark, {"t": f"{scratch}/t"})
    eng.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO t USING "
        "(SELECT k, price, priority FROM q_mevo_src) s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    return eng.sql("SELECT k, price, priority FROM t ORDER BY k")
