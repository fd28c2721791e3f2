"""SparkSession factory with scale-oriented defaults.

Every entry point in the engine goes through :func:`get_spark` so that
the session settings that correctness depends on (UTC timezone, ANSI
off for permissive casts, Arrow for pandas interchange) and the
settings performance depends on (AQE, skew-join handling, broadcast
threshold) are applied uniformly.

The reference pins no session config at all (single-process pandas);
these settings are the Spark-native equivalent of its implicit
assumptions: timestamps are UTC (`schemas/validate.py` in the
reference requires tz-aware UTC), and stages are idempotent re-runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local test parallelism. On a real cluster these come from
# spark-submit / cluster manager config instead.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "temp_data_pipeline_spark") -> SparkSession:
    """Return (or create) the engine's SparkSession.

    Scale posture: AQE on (runtime coalescing of shuffle partitions,
    skew-join splitting, dynamic join-strategy switch), auto-broadcast
    for dim tables, UTC session tz so local-date math is explicit via
    ``from_utc_timestamp(ts, tz)``.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{_DEFAULT_CPUS}]"))
        # -- correctness-bearing --
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # parquet timestamps in the lake are written/read as UTC instants
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # -- scale-bearing --
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-optimize (coalesce) the output partitioning of
        # cached plans: a persisted delta-sized CDC feed otherwise
        # materializes with the full shuffle-partition fan-out, and a
        # MOR append written from it emits one near-empty file per
        # partition — every later position scan then pays a task per
        # tiny file. Scale-neutral: AQE sizes partitions by bytes
        # (advisoryPartitionSizeInBytes), so a genuinely large cached
        # frame keeps its parallelism.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", _DEFAULT_CPUS),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


# one repartition target slice per this many bytes of (compressed)
# input when rescuing a too-few-partitions scan: CPU-dense per-row
# work (tokenize + hash) over a 2 MB parquet slice is a fraction of a
# second of single-core time — fanning a 0.6 MB file out to 32
# partitions just buys 32 Python-task launches (measured: the llm
# signature tier ran FASTER at 8 cores than 32 at sf0.1, scaling
# ratios 0.18-0.42 in BENCH_r11). Size-derived targets grow with the
# data until the core count caps them — guide §2's "derive the
# partitioning from input size, not a constant tuned for the cluster".
_ENSURE_BYTES_PER_SLICE = 2 * 1024 * 1024


def ensure_parallelism(df):
    """Repartition a DataFrame toward the cluster's core count when the
    source produced fewer partitions (e.g. one small parquet file →
    one partition → CPU-bound array/hash work runs on a single core).

    The target is SIZE-ADAPTIVE: one slice per ~2 MB of the plan's
    estimated input bytes, capped at the core count — a tiny corpus
    gets a handful of partitions (per-task Python/Arrow overhead would
    swamp 32-way fan-out), a big one saturates the cluster. No-op when
    the scan is already parallel enough for its size (the 100 TB case:
    thousands of file splits), so it never *adds* a shuffle on the
    big-data path — it only rescues the small-file-single-split case.
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    target = cores
    try:
        # optimizedPlan stats only — no job, no RDD materialization;
        # for the plain scans this rescues, sizeInBytes IS the file
        # bytes. Unknown/absurd estimates (post-join frames) keep the
        # core-count target.
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        if 0 <= size < (1 << 50):
            target = min(cores, max(2, -(-size // _ENSURE_BYTES_PER_SLICE)))
    except Exception:  # noqa: BLE001 - internal API drift: keep core count
        pass
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def local_df(spark: SparkSession, rows, schema):
    """A small driver-local frame as a PURE-JVM plan (guide §4).

    ``spark.createDataFrame(list, schema)`` routes tiny metadata-ish
    frames (SQL-surface DESCRIBE/SHOW results, history listings,
    one-row broadcast payloads) through ``sc.parallelize`` — a
    Python-RDD parent fanned over defaultParallelism slices, paying a
    Python-worker round trip per slice on EVERY evaluation (r11
    measured ~0.5 s/evaluation at 32 cores vs ~0.18 s for a one-task
    scan). This builds the same rows as a JSON literal decoded by
    ``from_json`` + ``explode`` — a deterministic, foldable JVM
    expression: zero Python workers, one task, every evaluation.

    ``rows`` is a list of tuples (or Rows); ``schema`` a DDL string or
    StructType. Values must be JSON-representable (str/int/float/bool/
    None, nested arrays) — exactly the metadata frames this replaces;
    floats round-trip exactly (shortest-repr JSON), integral JSON
    tokens parse as longs. Not for timestamp/binary payloads.

    Strict, never silently null: a row whose arity differs from the
    schema and a value JSON cannot encode raise here; a value that
    does not fit its field (an int beyond int64, a string in a numeric
    column) fails the decode (FAILFAST) when the frame is evaluated.
    The frame is one split, so every evaluation is one task."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, StructType

    st = (
        schema
        if isinstance(schema, StructType)
        else StructType.fromDDL(schema)
    )
    names = [f.name for f in st.fields]
    rows = [tuple(r) for r in rows]
    for r in rows:
        if len(r) != len(names):
            raise ValueError(
                f"local_df: row {r!r} has {len(r)} values, the schema "
                f"has {len(names)} fields {names}"
            )
    payload = _json.dumps([dict(zip(names, r)) for r in rows])
    return (
        spark.range(0, 1, 1, 1)
        .select(
            F.explode(
                F.from_json(
                    F.lit(payload), ArrayType(st), {"mode": "FAILFAST"}
                )
            ).alias("_r")
        )
        .select("_r.*")
    )


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
