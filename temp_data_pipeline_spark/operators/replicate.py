"""CDC replication: apply a change feed into a downstream versioned
table (Delta Live Tables' APPLY CHANGES INTO / the Fivetran-style
continuous sync, re-expressed over this repo's versioned tables).

``apply_changes_into`` consumes one window of a change feed — the
file-level ``changes_between`` output, the key-level
``table_changes_keyed`` output, or a micro-batch from the streaming
``versioned_table`` source in ``mode=cdc`` — and lands its NET effect
on the target as ONE merge-on-read commit:

  - keys carrying an 'insert' / 'update_postimage' row are upserted
    (their old target rows DV'd out, the new rows appended),
  - keys carrying only 'delete' rows leave the table (DV'd out, no
    replacement),
  - 'update_preimage' rows are dropped (the postimage carries the new
    content), and the file-level feed's COW-rewrite pairs (identical
    delete+insert) degrade to an idempotent upsert.

Cost per apply: one position-finding scan of the target (the standard
MOR merge cost — nothing but keys and positions shuffle) plus one
write of the delta-sized upsert batch; no partition rewrites. The
feed is the NET change between two source versions, so applying
windows in order makes the replica's visible rows track the source's
snapshots exactly — the multiset invariant
``visible(until) = visible(since) − deletes + inserts`` transfers.

KEY CONTRACT: ``keys`` must uniquely identify rows in every source
snapshot (the same contract as ``table_changes_keyed`` /
``commit_upsert_mor``). A non-key-unique source needs the multiset
semantics of the raw feed, which a keyed apply cannot express.

``replicate_incremental`` is the batch catch-up loop: the replica's
manifest records WHICH source version it reflects
(``replica_of_version``), and each call pulls
``table_changes_keyed(src, since=reflected)`` — delta-sized, O(change)
— and applies it. A window crossing a full-table rewrite raises the
feed's ``FeedResetRequired``; re-seed with ``replicate_seed``.

No reference counterpart (the reference has no table format); the
semantics follow Delta's APPLY CHANGES / MERGE composition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from temp_data_pipeline_spark.operators.deletion_vectors import (
    _commit_with_dv,
    _observed_count,
    _positions,
    _visible_tagged_for_keys,
    semi_on_keys,
)
from temp_data_pipeline_spark.operators.versioned import (
    commit_version,
    read_manifest,
    versions,
)

__all__ = [
    "apply_changes_into",
    "replicate_seed",
    "replicate_incremental",
    "replica_of_version",
]

_UPSERT_TYPES = ("insert", "update_postimage")


def apply_changes_into(
    spark: SparkSession,
    feed: DataFrame,
    path: str,
    keys: list[str],
    *,
    meta: dict | None = None,
) -> int:
    """Apply one change-feed window to the versioned table at
    ``path`` as one MOR commit; returns the committed version (the
    current one when the feed nets to nothing). See module docstring
    for the feed contract."""
    if "_change_type" not in feed.columns:
        raise ValueError("feed must carry a _change_type column")
    missing = [k for k in keys if k not in feed.columns]
    if missing:
        raise ValueError(f"key columns absent from the feed: {missing}")
    data_cols = [c for c in feed.columns if c != "_change_type"]

    # the apply runs several actions over the feed (DV write, append,
    # key sets); cache the delta-sized frame so a recompute-expensive
    # feed (the keyed CDF's join, the cdc streaming source's python
    # reads) materializes once
    feed = feed.persist()
    try:
        return _apply(spark, feed, path, keys, data_cols, meta)
    finally:
        feed.unpersist()


def _apply(
    spark: SparkSession,
    feed: DataFrame,
    path: str,
    keys: list[str],
    data_cols: list[str],
    meta: dict | None,
) -> int:
    ups = feed.filter(F.col("_change_type").isin(*_UPSERT_TYPES)).select(
        *data_cols
    )
    # keys with a delete and NO replacement row leave the table; a
    # delete+insert pair (file-level rewrite noise / an update) is an
    # upsert — the anti-join nets it out. All frames here are
    # delta-sized: the shuffles are O(change), never O(table).
    del_keys = (
        feed.filter(F.col("_change_type") == "delete")
        .select(*keys)
        .join(ups.select(*keys), keys, "left_anti")
        .distinct()
    )

    vs = versions(spark, path)
    if not vs:
        # first apply seeds the replica: the initial-snapshot window
        # is all inserts; deletes against nothing are dropped
        return commit_version(ups, path, meta=meta, expected_base=0)
    base = vs[-1]
    man = read_manifest(spark, path, base)
    # add-column evolution on the source flows through: the feed
    # carries the until-schema (old rows null-filled), and the apply
    # widens the replica the same way an add-column append would —
    # carried replica dirs read the new column back as NULL. Dropped
    # or retyped source columns still fail loudly (re-seed).
    have = {
        f["name"] for f in (man.get("_schema") or {}).get("fields", [])
    }
    evolve = bool(have) and set(data_cols) > have
    # emptiness probe folded into the position scan (the scd.py r10
    # pattern): the Observation rides ONE branch of the affected-keys
    # union — its metrics node sits below that branch's filter, so it
    # still counts every feed row, and appearing once keeps Spark's
    # duplicate-observed-metrics check happy.  The scan's eager bounds
    # aggregation populates it; a replica without zone maps (nothing
    # eager ran) falls back to the explicit probe.
    from pyspark.sql import Observation

    obs = Observation()
    affected = (
        feed.observe(obs, F.count(F.lit(1)).alias("n"))
        .filter(F.col("_change_type").isin(*_UPSERT_TYPES))
        .select(*keys)
        .unionByName(del_keys)
        .distinct()
    )
    # the one position-finding scan (keys-only semi join, same plan
    # as commit_upsert_mor), pruned by the delta's key bounding box
    # when the replica keeps zone maps on the keys
    tagged = _visible_tagged_for_keys(spark, path, base, man, keys, affected)
    n = _observed_count(obs)
    if (n == 0) if n is not None else feed.isEmpty():
        # empty window (a metadata-only source commit): advance the
        # bookkeeping with one carry commit — no position scan
        return commit_version(
            ups.limit(0), path, carry_from=base, meta=meta,
            expected_base=base, allow_evolution=evolve,
        )
    dv_new = _positions(semi_on_keys(tagged, affected, keys))
    return _commit_with_dv(
        spark, path, base, man, dv_new, ups, meta, allow_evolution=evolve
    )


def replica_of_version(spark: SparkSession, replica_path: str) -> int:
    """The source version the replica's LATEST snapshot reflects."""
    man = read_manifest(spark, replica_path, versions(spark, replica_path)[-1])
    return int(man["replica_of_version"])


def replicate_seed(
    spark: SparkSession,
    src_path: str,
    replica_path: str,
    keys: list[str],
    *,
    partition_by: list[str] | None = None,
) -> int:
    """Seed (or re-seed) the replica with the source's latest
    DV-resolved snapshot; returns the committed replica version."""
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        read_table,
    )

    src_v = versions(spark, src_path)[-1]
    return commit_version(
        read_table(spark, src_path, src_v),
        replica_path,
        partition_by=partition_by,
        meta={"replica_of": src_path, "replica_of_version": src_v,
              "replica_keys": keys},
    )


def replicate_incremental(
    spark: SparkSession,
    src_path: str,
    replica_path: str,
    keys: list[str],
) -> int:
    """Catch the replica up to the source's latest version at
    O(change) cost: pull the key-level feed since the reflected
    version and apply it. No-op (returns the current replica version)
    when already current. Raises ``FeedResetRequired`` when the
    window crosses a full-table rewrite — re-seed with
    ``replicate_seed``."""
    from temp_data_pipeline_spark.operators.changes import (
        table_changes_keyed,
    )
    from temp_data_pipeline_spark.operators.scd import (
        _window_changes_rows,
    )

    src_latest = versions(spark, src_path)[-1]
    reflected = replica_of_version(spark, replica_path)
    if src_latest == reflected:
        return versions(spark, replica_path)[-1]
    meta = {"replica_of": src_path, "replica_of_version": src_latest,
            "replica_keys": keys}
    if not _window_changes_rows(spark, src_path, reflected, src_latest):
        # metadata-only window (same dirs, same DV): advance the
        # bookkeeping with one carry commit — no feed pull, no
        # isEmpty probe, zero Spark jobs
        base = versions(spark, replica_path)[-1]
        from pyspark.sql.types import StructType

        man = read_manifest(spark, replica_path, base)
        from temp_data_pipeline_spark.operators.versioned import empty_df

        empty = empty_df(spark, StructType.fromJson(man["_schema"]))
        return commit_version(
            empty, replica_path, carry_from=base, meta=meta,
            expected_base=base,
        )
    feed = table_changes_keyed(spark, src_path, keys, reflected, src_latest)
    return apply_changes_into(spark, feed, replica_path, keys, meta=meta)
