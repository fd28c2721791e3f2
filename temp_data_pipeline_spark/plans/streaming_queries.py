"""Streaming conformance queries.

q_stream_events runs the Structured Streaming hourly rollup
(streaming/rollups.py) over the static events table with an
availableNow trigger into a memory sink, and returns the materialized
result — so the driver's DuckDB oracle checks the *streaming* engine
path against the exact same SQL as the batch q_events_window query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from temp_data_pipeline_spark.plans.declared import QuerySpec, registrar, scratch_table

STREAMING_QUERIES: dict[str, QuerySpec] = {}
_register = registrar(STREAMING_QUERIES)


@_register(
    "q_stream_events",
    ("streaming", "A1", "W2"),
    """
    SELECT user_id, CAST(date_trunc('hour', ts) AS VARCHAR) AS h, COUNT(*) AS n
    FROM events GROUP BY user_id, date_trunc('hour', ts)
    ORDER BY user_id, h
    """,
    note=(
        "Structured Streaming tumbling-hour rollup executed availableNow "
        "into a memory sink; oracle identical to batch q_events_window."
    ),
)
def q_stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.streaming.rollups import run_events_rollup_batchlike

    return run_events_rollup_batchlike(spark, sf_dir)


@_register(
    "q_stream_join",
    ("streaming", "extension-temporal"),
    """
    SELECT p.event_id AS p_id, p.user_id, c.event_id AS c_id,
           CAST(epoch_us(p.ts) AS BIGINT) AS p_us,
           CAST(epoch_us(c.ts) AS BIGINT) AS c_us
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND epoch_us(c.ts) >= epoch_us(p.ts)
     AND epoch_us(c.ts) <= epoch_us(p.ts) + 3600000000
    ORDER BY p_id, c_id
    """,
    note=(
        "Watermarked STREAM-STREAM interval join (streaming/joins.py): "
        "purchases ⋈ clicks within the following hour per user, both "
        "sides unbounded streams — the time-interval predicate is what "
        "lets Spark bound join state to O(watermark+interval). Executed "
        "availableNow over the static table; oracle = the batch "
        "interval join in µs (events.parquet is nanos, truncated "
        "identically on both sides)."
    ),
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.streaming.joins import run_interval_join_batchlike

    return run_interval_join_batchlike(spark, sf_dir)


@_register(
    "q_stream_sessions",
    ("streaming", "extension-temporal"),
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts)) AS session_last_us,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    ORDER BY user_id, session_start_us
    """,
    note=(
        "The NATIVE session-window operator under Structured Streaming "
        "(availableNow, complete mode, memory sink): final streaming "
        "state must equal the batch lag/cumsum oracle — same SQL as "
        "q_session_window, proving batch/stream session parity."
    ),
)
def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.streaming.sessions import run_sessions_batchlike

    return run_sessions_batchlike(spark, sf_dir)


def _neardup_oracle() -> str:
    from temp_data_pipeline_spark.plans.llm_queries import _SIMHASH_PAIR_CTES

    ctes = _SIMHASH_PAIR_CTES.replace(
        "FROM documents", "FROM documents WHERE doc_id % 3 = 0", 1
    )
    return f"""
    WITH {ctes}
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id % 3 = 0 AND d.doc_id NOT IN (
      SELECT id_b FROM cand WHERE bit_count(xor(sa, sb)) <= 3
    )
    ORDER BY d.doc_id
    """


@_register(
    "q_stream_neardup",
    ("streaming", "dedup", "LLM-dedup"),
    _neardup_oracle(),
    note=(
        "Cross-batch streaming near-dup ingest (streaming/neardup.py): "
        "two arrival batches against a persistent SimHash band index "
        "must reproduce the batch drop-any-lower-id dedup exactly — "
        "the oracle is the same pair CTE as llm_simhash_neardup."
    ),
)
@scratch_table("neardup_idx_")
def q_stream_neardup(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    """Incremental near-dup ingest over the documents table split into
    two arrival batches (ids in order), via the persistent band-index
    path — the surviving doc ids must equal the batch drop-any-lower-id
    SimHash dedup the oracle computes."""
    from pyspark.sql import functions as F

    from temp_data_pipeline_spark.sources.registry import load_table
    from temp_data_pipeline_spark.streaming.neardup import neardup_ingest_batch

    # demo subset (q_gap_fill precedent): a third of the corpus keeps
    # the two-batch ingest meaningful while bounding conformance cost
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
    )
    mid = d.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    # the incremental ingest is a chain of small materialized steps;
    # per-stage fixed cost dominates at conformance scale, so pin the
    # stream-runner partition count for the duration (same pattern as
    # streaming/rollups.py) and restore after; the union is
    # materialized here, while the pin still holds
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        s1 = neardup_ingest_batch(
            d.filter(F.col("doc_id") <= mid), scratch, hash_fn="md5", nbits=60
        )
        s2 = neardup_ingest_batch(
            d.filter(F.col("doc_id") > mid), scratch, hash_fn="md5", nbits=60
        )
        return (
            s1.select("doc_id")
            .union(s2.select("doc_id"))
            .orderBy("doc_id")
            .localCheckpoint()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


@_register(
    "q_stream_dedup",
    ("streaming", "D1", "D2"),
    """
    SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, user_id
    FROM events ORDER BY event_id
    """,
    note=(
        "Streaming exact dedup via dropDuplicatesWithinWatermark: the "
        "event stream is deterministically doubled (every 10th event "
        "twice) and the watermark-bounded state must collapse it back "
        "to exactly the source rows (oracle = plain batch SELECT). "
        "State is one key per event inside the watermark and expires "
        "with it — the unbounded-stream-safe dedup."
    ),
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.streaming.ingest import (
        run_events_dedup_batchlike,
    )

    return run_events_dedup_batchlike(spark, sf_dir)


@_register(
    "q_stream_matview",
    ("streaming", "maintenance", "matview"),
    """
    SELECT event_type,
           CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_e4,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    note=(
        "Streaming matview maintenance (verdict r6 #6): the composed "
        "sink appends each micro-batch exactly-once into a versioned "
        "table and refreshes an aggregate view to the table's latest "
        "in the same foreachBatch — idempotent at both steps, so "
        "replays never double-refresh and a crash between the two "
        "leaves the view at most one batch behind, caught up by the "
        "next refresh. Streamed view ≡ batch GROUP BY (this oracle)."
    ),
)
@scratch_table("smview_")
def q_stream_matview(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    """Events streamed file-by-file through the view-maintaining
    exactly-once sink (streaming/sink.py::
    stream_append_versioned_with_view): each micro-batch lands as one
    metadata-level commit AND advances a per-event-type aggregate
    matview (group-fingerprint-pruned refresh, COW per partition),
    including a restart over the same checkpoint (replays nothing,
    refresh is a no-op). The VIEW's final rows must equal the plain
    batch GROUP BY of the source — per-row integer e4 quantization
    keeps the float sum order-independent (the engine-wide exact-sum
    rule)."""
    from pyspark.sql import functions as F

    from temp_data_pipeline_spark.operators.versioned import read_version
    from temp_data_pipeline_spark.sources.registry import load_table
    from temp_data_pipeline_spark.streaming.sink import (
        stream_append_versioned_with_view,
    )

    def agg(df):
        return df.groupBy("event_type").agg(
            F.sum(F.floor(F.col("value") * 10000 + 0.5).cast("long"))
            .cast("long")
            .alias("value_e4"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )

    src, dest = f"{scratch}/src", f"{scratch}/table"
    view, ckpt = f"{scratch}/view", f"{scratch}/ckpt"
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    # 3 source files → 3 micro-batches (append + refresh each);
    # enough to exercise multi-batch maintenance + the restart
    # without timing a fourth identical lifecycle iteration
    e.repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def run(reader):
        q = stream_append_versioned_with_view(
            reader,
            dest,
            ckpt,
            view_path=view,
            agg=agg,
            keys=["event_type"],
        )
        q.awaitTermination()

    run(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # restart on the same checkpoint: no replays, view already
    # reflects the table's latest — both stay put
    run(spark.readStream.schema(schema).parquet(src))
    return (
        read_version(spark, view)
        .select("event_type", "value_e4", "n_events")
        .orderBy("event_type")
    )


@_register(
    "q_stream_versioned",
    ("streaming", "S10", "maintenance"),
    """
    SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, user_id,
           event_type, value
    FROM events ORDER BY event_id
    """,
    note=(
        "Exactly-once streaming ingestion into a versioned table: "
        "each micro-batch lands as one O(batch) metadata-level commit "
        "(carry_from manifest references), a restart over the same "
        "checkpoint replays nothing (batch-id high-water mark over "
        "all live manifests), and the manifested snapshot equals the "
        "batch SELECT — the Delta-style transactional streaming sink."
    ),
)
@scratch_table("svers_")
def q_stream_versioned(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    """Events streamed file-by-file through the exactly-once versioned
    sink (streaming/sink.py::stream_append_versioned), INCLUDING a
    restart over the same checkpoint (must replay nothing); the final
    snapshot read back via read_version must equal the plain batch
    SELECT of the source."""
    from pyspark.sql import functions as F

    from temp_data_pipeline_spark.operators.versioned import read_version
    from temp_data_pipeline_spark.sources.registry import load_table
    from temp_data_pipeline_spark.streaming.sink import stream_append_versioned

    src, dest, ckpt = f"{scratch}/src", f"{scratch}/table", f"{scratch}/ckpt"
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # 4 source files → 4 micro-batches → 4 metadata-level commits
    e.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    q = stream_append_versioned(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        dest,
        ckpt,
    )
    q.awaitTermination()
    # restart on the same checkpoint: exactly-once means no growth
    q2 = stream_append_versioned(
        spark.readStream.schema(schema).parquet(src), dest, ckpt
    )
    q2.awaitTermination()
    return (
        read_version(spark, dest)
        .select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "user_id",
            "event_type",
            "value",
        )
        .orderBy("event_id")
    )


@_register(
    "q_stream_source",
    ("streaming", "maintenance", "cdc"),
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey % 2 = 1 OR NOT (o_custkey % 10 = 7)
    ORDER BY o_orderkey
    """,
    note=(
        "Streaming SOURCE over a versioned table (Spark 4 Python "
        "DataSource, streaming/source.py): offsets are committed "
        "versions, planning is driver-side manifest JSON with the "
        "dir-level diff, and file reads are DISTRIBUTED (one input "
        "partition per added file, pyarrow on executors, hive values "
        "recovered from paths, the endpoint DV subtracted by row "
        "position). Two availableNow passes over one checkpoint — "
        "initial snapshot then exact delta — must union to the batch "
        "answer: evens minus the MOR-deleted custkeys, plus the odd "
        "keys appended between the passes."
    ),
)
@scratch_table("vtsrc_")
def q_stream_source(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    """The versioned-table STREAMING SOURCE (streaming/source.py, a
    Spark 4 Python DataSource): commit orders in two metadata-level
    versions plus a MOR delete, stream the table with availableNow
    into a parquet sink, then run a SECOND pass over the same
    checkpoint after one more append — the union of the two passes
    must equal the final snapshot (initial snapshot + exact delta,
    nothing re-emitted, DV applied)."""
    from pyspark.sql import functions as F

    from temp_data_pipeline_spark.operators.deletion_vectors import (
        commit_delete_mor,
    )
    from temp_data_pipeline_spark.operators.versioned import commit_version
    from temp_data_pipeline_spark.sources.registry import load_table
    from temp_data_pipeline_spark.streaming.source import (
        register_versioned_source,
    )

    path, ckpt, out = f"{scratch}/tbl", f"{scratch}/ckpt", f"{scratch}/out"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    commit_version(orders.filter(F.col("o_orderkey") % 2 == 0).repartition(4), path)
    v2 = commit_delete_mor(spark, path, "o_custkey % 10 = 7")
    register_versioned_source(spark)

    def one_pass():
        q = (
            spark.readStream.format("versioned_table")
            .option("path", path)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    one_pass()  # initial snapshot: evens minus the MOR delete
    commit_version(
        orders.filter(F.col("o_orderkey") % 2 == 1).repartition(2),
        path,
        carry_from=v2,
    )
    one_pass()  # delta only: the odd keys
    return spark.read.parquet(out).orderBy("o_orderkey")


@_register(
    "q_stream_cdc",
    ("streaming", "maintenance", "cdc"),
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           'insert' AS _change_type
    FROM orders
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, 'delete'
    FROM orders WHERE o_orderkey % 2 = 0 AND o_custkey % 10 = 7
    ORDER BY o_orderkey, _change_type
    """,
    note=(
        "Streaming CDC SOURCE (mode=cdc on the versioned_table Python "
        "DataSource): the offset range's full change feed — inserts "
        "from added files, deletes from removed files, and the "
        "deletion-vector delta over shared files, with shared-file "
        "scans pruned to the files either endpoint's DV names (the "
        "batch feed's O(delta) plan, executed distributed: one input "
        "partition per file). Two availableNow passes over one "
        "checkpoint: snapshot inserts, then a MOR delete's DV-delta "
        "deletes plus appended inserts — unioning to the oracle: "
        "every order inserted once, the deleted even custkeys "
        "re-emitted as deletes."
    ),
)
@scratch_table("vtcdc_")
def q_stream_cdc(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    """The streaming source's mode=cdc FULL change feed: commit the
    even orders, stream pass 1 (initial snapshot = inserts), then a
    MOR delete plus an append between passes — pass 2 must emit the
    DV delta as deletes (pruned to the files the DV names, never the
    whole carried set) and the appended files as inserts. The two
    passes together are the oracle's union."""
    from pyspark.sql import functions as F

    from temp_data_pipeline_spark.operators.deletion_vectors import (
        commit_delete_mor,
    )
    from temp_data_pipeline_spark.operators.versioned import commit_version
    from temp_data_pipeline_spark.sources.registry import load_table
    from temp_data_pipeline_spark.streaming.source import (
        register_versioned_source,
    )

    path, ckpt, out = f"{scratch}/tbl", f"{scratch}/ckpt", f"{scratch}/out"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    commit_version(orders.filter(F.col("o_orderkey") % 2 == 0).repartition(4), path)
    register_versioned_source(spark)

    def one_pass():
        q = (
            spark.readStream.format("versioned_table")
            .option("path", path)
            .option("mode", "cdc")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    one_pass()  # initial snapshot: evens as inserts
    v2 = commit_delete_mor(spark, path, "o_custkey % 10 = 7")
    commit_version(
        orders.filter(F.col("o_orderkey") % 2 == 1).repartition(2),
        path,
        carry_from=v2,
    )
    one_pass()  # delta: DV deletes + the odd-key inserts
    return spark.read.parquet(out).orderBy("o_orderkey", "_change_type")


@_register(
    "q_stream_replicate",
    ("streaming", "maintenance", "cdc"),
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 4 = 0
                THEN o_totalprice + 100.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE (o_orderkey % 2 = 0
           AND (o_custkey % 10 <> 7 OR o_orderkey % 4 = 0))
       OR o_orderkey % 2 = 1
    ORDER BY o_orderkey
    """,
    note=(
        "Continuous CDC replication (streaming/sink.py::"
        "stream_replicate_versioned): the source's change feed reads "
        "through the cdc streaming source and each micro-batch's NET "
        "effect lands on the replica as one merge-on-read commit "
        "(operators/replicate.apply_changes_into) — upserts for keys "
        "with a replacement row, DV-only deletes for keys without — "
        "exactly-once via the replica's batch-id high-water mark. "
        "Two availableNow passes: snapshot seed, then ONE window "
        "covering a MOR delete + MOR upsert (+100 on keys %4=0, "
        "resurrecting deleted custkey%10=7 keys it touches) + an "
        "append — the replica's final rows must equal the source's "
        "final snapshot (this oracle). O(change) per trigger on both "
        "sides; IEEE-exact +100.0 keeps the compare bit-exact."
    ),
)
@scratch_table("srepl_")
def q_stream_replicate(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    """End-to-end continuous replication: source versioned table →
    streaming cdc source → apply_changes_into on the replica, two
    availableNow passes over one checkpoint with a MOR delete, a MOR
    upsert, and an append between them. The replica's final snapshot
    must equal the source's."""
    from pyspark.sql import functions as F

    from temp_data_pipeline_spark.operators.deletion_vectors import (
        commit_delete_mor,
        commit_upsert_mor,
        read_table,
    )
    from temp_data_pipeline_spark.operators.versioned import (
        commit_version,
        versions,
    )
    from temp_data_pipeline_spark.sources.registry import load_table
    from temp_data_pipeline_spark.streaming.sink import (
        stream_replicate_versioned,
    )

    src = f"{scratch}/src"
    dst, ckpt = f"{scratch}/replica", f"{scratch}/ckpt"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    commit_version(orders.filter(F.col("o_orderkey") % 2 == 0).repartition(4), src)

    def one_pass():
        q = stream_replicate_versioned(spark, src, dst, ckpt, ["o_orderkey"])
        q.awaitTermination()

    one_pass()  # seeds the replica with the initial snapshot
    commit_delete_mor(spark, src, "o_custkey % 10 = 7")
    commit_upsert_mor(
        orders.filter(F.col("o_orderkey") % 4 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(100.0)
        ),
        src,
        ["o_orderkey"],
    )
    commit_version(
        orders.filter(F.col("o_orderkey") % 2 == 1).repartition(2),
        src,
        carry_from=versions(spark, src)[-1],
    )
    one_pass()  # one cdc window covering delete + upsert + append
    return (
        read_table(spark, dst)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@_register(
    "q_stream_upsert",
    ("streaming", "maintenance", "cdc"),
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 3 = 0
                THEN o_totalprice + 500.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    UNION ALL
    SELECT o_orderkey + 20000000, CAST(2 AS BIGINT), o_totalprice
    FROM orders WHERE o_orderkey % 3 = 1
    ORDER BY o_orderkey
    """,
    note=(
        "Exactly-once CDC UPSERT stream into a versioned table "
        "(stream_upsert_versioned): each micro-batch is one "
        "merge-on-read MERGE commit — matched rows DV'd out at "
        "O(matches), the batch appended, zero partition rewrites — "
        "with the batch-id high-water mark rejecting replays (the "
        "restart adds no versions) and conflict-checked commits. The "
        "final DV-aware read must equal the batch CASE projection "
        "plus the streamed inserts; IEEE-exact +500.0 keeps the "
        "compare bit-exact."
    ),
)
@scratch_table("supsert_")
def q_stream_upsert(spark: SparkSession, sf_dir: str, scratch: str) -> DataFrame:
    """CDC upsert stream into a versioned table
    (streaming/sink.py::stream_upsert_versioned): base orders land as
    version 1, then an update batch (keys %3=0 repriced +500) and an
    insert batch (fresh keys +20M) stream through one-file-per-trigger
    merge-on-read MERGE commits, INCLUDING a restart over the same
    checkpoint (replays nothing). The final DV-aware snapshot must
    equal the batch CASE projection."""
    from pyspark.sql import functions as F

    from temp_data_pipeline_spark.operators.deletion_vectors import (
        read_table,
    )
    from temp_data_pipeline_spark.sources.registry import load_table
    from temp_data_pipeline_spark.streaming.sink import (
        stream_upsert_versioned,
    )

    src, dest, ckpt = f"{scratch}/src", f"{scratch}/tbl", f"{scratch}/ckpt"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    with_ts = lambda df, ts: df.withColumn("ts", F.lit(ts).cast("long"))
    # batch 0: the full base; batch 1: repriced updates; batch 2:
    # fresh inserts — one file each, one MOR commit each
    with_ts(orders, 0).coalesce(1).write.parquet(src)
    with_ts(
        orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(500.0)
        ),
        1,
    ).coalesce(1).write.mode("append").parquet(src)
    with_ts(
        orders.filter(F.col("o_orderkey") % 3 == 1).select(
            (F.col("o_orderkey") + F.lit(20000000)).alias("o_orderkey"),
            F.lit(2).cast("long").alias("o_custkey"),
            "o_totalprice",
        ),
        2,
    ).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    q = stream_upsert_versioned(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        dest,
        ckpt,
        ["o_orderkey"],
        "ts",
    )
    q.awaitTermination()
    # restart on the same checkpoint: exactly-once means no growth
    q2 = stream_upsert_versioned(
        spark.readStream.schema(schema).parquet(src),
        dest,
        ckpt,
        ["o_orderkey"],
        "ts",
    )
    q2.awaitTermination()
    return (
        read_table(spark, dest)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )
