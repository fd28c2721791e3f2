"""Bucketed snapshot layout inside the versioned table format:
shuffle-free co-located joins WITH time travel.

`sources/bucketed.py` already gives Spark-native bucketing through the
session catalog (``bucketBy().saveAsTable``), but a table written that
way has no versions, no manifest, no time travel and no maintenance
story — it lives outside the lakehouse.  This module puts the bucket
layout INSIDE a versioned table's commit protocol:

- ``commit_bucketed`` writes the snapshot's files in Spark's native
  bucket-file format (``part-...-_00003`` bucket-id suffixes) by
  pointing a throwaway external catalog table at the commit's private
  staging dir and INSERTing through it — the only API Spark exposes
  for bucket-named writes.  The slot-claim rename then publishes the
  files unchanged, and the manifest records ``_bucket_spec``
  (bucket_by / n / sort_by), exactly like Iceberg records a
  ``bucket(n, col)`` partition-spec entry.
- ``read_bucketed`` re-registers a committed snapshot's single data
  dir as an external bucketed catalog table (schema from the
  manifest, spec from ``_bucket_spec``) and returns ``spark.table``
  over it — Spark's planner then sees ``HashPartitioning(bucket_by,
  n)`` on the scan, so an equi-join of two co-bucketed tables is a
  SortMergeJoin with ZERO Exchange (pinned by tests/test_bucketing.py)
  and an equality filter on the bucket key prunes to 1 of n buckets
  (``SelectedBucketsCount`` in the plan).  Registrations are
  per-(table, version) and cached in the session catalog; committed
  versions are immutable, so a cached registration can never go stale.
- Appends and COW/MOR commits keep working unmodified — bucket files
  are plain parquet to every other reader — and carry commits inherit
  ``_bucket_spec`` so the table remembers its layout.  A snapshot
  whose manifest lists MORE than one live data dir (post-append) has
  lost physical co-location; reads fall back to the canonical
  full-fidelity reader (loudly), and ``rebucket`` restores locality
  with one full rewrite (the same contract as Iceberg's
  rewrite_data_files after the table drifts from its clustering).
  Empty own dirs from metadata-style commits (DV deletes, SET
  TBLPROPERTIES, tags) are ignored — footer row counts decide — and a
  DELETION VECTOR costs no co-location at all: the reader subtracts
  it with a broadcast anti-join, which preserves the bucketed scan's
  HashPartitioning, so MOR deletes ride along with zero extra
  shuffles until rebucket() materializes them.

Scale notes (100 TB): pick the bucket count once per lake — e.g. 1024
buckets over a 100 TB fact ≈ 100 GB/bucket of raw scan per join task
chain before column pruning.  The co-located join then never shuffles
either fact table again; only the first write pays the exchange.  The
rewrite in ``rebucket`` is one distributed pass (read ∪ dirs →
hash-repartition(n) → bucket write) — O(table) but embarrassingly
parallel, the standard clustering-maintenance cost.
"""

from __future__ import annotations

import hashlib
import uuid

from pyspark.sql import DataFrame, SparkSession

from temp_data_pipeline_spark.operators.versioned import (
    _dir_abs,
    _dir_mapping,
    _manifest_dirs,
    _resolve_version,
    commit_version,
    read_manifest,
)

__all__ = [
    "bucket_spec",
    "bucketed_join",
    "commit_bucketed",
    "read_bucketed",
    "rebucket",
]


def _ddl(df: DataFrame) -> str:
    # exact DDL (nested types included) via the JVM schema — the
    # simpleString round trip mangles nothing this way
    return df._jdf.schema().toDDL()


def _q(cols: list[str]) -> str:
    return ", ".join(f"`{c}`" for c in cols)


def commit_bucketed(
    df: DataFrame,
    path: str,
    *,
    bucket_by: list[str],
    n_buckets: int,
    sort_by: list[str] | None = None,
    meta: dict | None = None,
    checks: dict[str, str] | None = None,
    expected_base: int | None = None,
    meta_late=None,
) -> int:
    """Commit ``df`` as the next version of ``path`` with its files in
    Spark's native bucket layout.  Same atomicity / conflict contract
    as ``commit_version`` (this IS ``commit_version`` with a custom
    physical writer); the manifest additionally records
    ``_bucket_spec`` so readers can reconstruct the catalog
    registration.

    The frame is hash-repartitioned into ``n_buckets`` tasks on the
    bucket columns first: ``repartition(n, cols)`` and Spark's bucket
    assignment use the same ``pmod(murmur3, n)``, so every task holds
    exactly one bucket's rows and the snapshot lands as ONE file per
    bucket — the shape bucketed scans are fastest on (and the one that
    keeps a later sorted-scan optimization available).

    Bucketing composes with everything manifest-level (constraints,
    properties, defaults, tags, time travel) but not with hive
    ``partition_by`` in this layer — Spark supports partitioned+
    bucketed tables, but the COW partition-carve machinery here
    assumes plain hive dirs, so the combination is refused loudly
    rather than half-supported.
    """
    if not bucket_by:
        raise ValueError("bucket_by must name at least one column")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    missing = [c for c in bucket_by if c not in df.columns]
    if missing:
        raise ValueError(
            f"bucket_by columns {missing} not in frame columns {df.columns}"
        )
    sort_by = list(sort_by or bucket_by)
    spec = {
        "bucket_by": list(bucket_by),
        "n": int(n_buckets),
        "sort_by": sort_by,
    }
    spark = df.sparkSession

    def _write(d: DataFrame, staging: str) -> None:
        from temp_data_pipeline_spark.operators.versioned import _fs

        # pre-create the location: CREATE TABLE probes it for
        # streaming-sink metadata and logs a full FileNotFound stack
        # (harmless but alarming) when it doesn't exist yet
        fs, jvm = _fs(spark, staging)
        fs.mkdirs(jvm.org.apache.hadoop.fs.Path(staging))
        tmp = f"bkt_w_{uuid.uuid4().hex[:12]}"
        spark.sql(
            f"CREATE TABLE {tmp} ({_ddl(d)}) USING parquet "
            f"CLUSTERED BY ({_q(bucket_by)}) "
            f"SORTED BY ({_q(sort_by)}) INTO {int(n_buckets)} BUCKETS "
            f"LOCATION '{staging}'"
        )
        try:
            # one task per bucket: repartition's HashPartitioning and
            # the bucket-id expression are the same pmod(murmur3, n)
            d.repartition(int(n_buckets), *bucket_by).write.mode(
                "append"
            ).insertInto(tmp)
        finally:
            # external table: DROP unregisters, the files stay put
            spark.sql(f"DROP TABLE IF EXISTS {tmp}")

    return commit_version(
        df,
        path,
        meta={**(meta or {}), "_bucket_spec": spec},
        checks=checks,
        expected_base=expected_base,
        meta_late=meta_late,
        write_fn=_write,
    )


def bucket_spec(
    spark: SparkSession, path: str, version: int | None = None
) -> dict | None:
    """The ``_bucket_spec`` recorded at ``version`` (latest by
    default), or None for never-bucketed tables."""
    version = _resolve_version(spark, path, version)
    return read_manifest(spark, path, version).get("_bucket_spec")


def _colocated_dir(spark: SparkSession, path: str, version: int):
    """The snapshot's single physically-bucketed data dir, or None if
    co-location is broken (multi-dir snapshot, nested COW carve).  A
    deletion vector does NOT break co-location: the reader subtracts
    it with a broadcast anti-join, which PRESERVES the scan's
    HashPartitioning — callers that need a clean rewrite target
    (rebucket) additionally check ``man['_dv']``."""
    man = read_manifest(spark, path, version)
    spec = man.get("_bucket_spec")
    if not spec:
        return None, None, None, man
    dirs = _manifest_dirs(man)
    # metadata-style commits (DV deletes, SET TBLPROPERTIES, tags)
    # append an EMPTY own dir — it holds no data files, so it cannot
    # break physical co-location.  One listStatus per dir
    # (metadata plane) filters them out.
    if len(dirs) > 1:
        from temp_data_pipeline_spark.operators.versioned import _fs

        fs, jvm = _fs(spark, path)
        Path = jvm.org.apache.hadoop.fs.Path
        live = []
        for d in dirs:
            p = Path(_dir_abs(path, man, d))
            try:
                statuses = fs.listStatus(p)
            except Exception:
                live.append(d)  # unreadable: assume data, disqualify
                continue
            if any(st.isDirectory() for st in statuses):
                live.append(d)  # hive subdirs: data (or disqualifying)
                continue
            # an empty commit (DV delete, SET TBLPROPERTIES, tag)
            # still writes one ZERO-ROW parquet file — row counts
            # from the footers (pyarrow, metadata-plane) decide;
            # any read error conservatively counts the dir as live
            # (the reader then falls back — correct, just slower)
            n_rows = 0
            for st in statuses:
                name = st.getPath().getName()
                if st.isDirectory() or not name.endswith(".parquet"):
                    continue
                try:
                    import pyarrow.parquet as _pq

                    n_rows += _pq.ParquetFile(
                        st.getPath().toUri().getPath()
                    ).metadata.num_rows
                except Exception:
                    n_rows += 1  # unreadable footer: assume data
                if n_rows:
                    break
            if n_rows:
                live.append(d)
        dirs = live or dirs[:1]
    if (
        len(dirs) != 1
        or "/" in dirs[0]
        or _dir_mapping(man, dirs[0]) is not None
    ):
        return None, None, spec, man
    return _dir_abs(path, man, dirs[0]), dirs[0], spec, man


def read_bucketed(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    *,
    _pre=None,
) -> DataFrame:
    """Bucket-aware time-travel read.  When the snapshot is one clean
    bucketed dir, returns a catalog-backed scan that carries the
    bucketing into the planner (shuffle-free joins, bucket pruning);
    otherwise falls back to the canonical full-fidelity reader —
    identical rows, just without the co-location fast path.

    ``_pre`` (private) is a ``(version, abs_dir, rel_dir, spec, man)``
    tuple from a caller that already resolved the snapshot
    (sql._snapshot runs per registered table per statement — without
    this the metadata-plane reads would double on the console path).
    """
    if _pre is not None:
        version, abs_dir, rel_dir, spec, man = _pre
    else:
        version = _resolve_version(spark, path, version)
        abs_dir, rel_dir, spec, man = _colocated_dir(spark, path, version)
    if spec is None:
        raise ValueError(
            f"{path} v{version} has no _bucket_spec — not a bucketed "
            "table (commit with commit_bucketed, or read with "
            "read_version)"
        )
    if abs_dir is None:
        # post-append / MOR snapshot: correct rows, no co-location.
        # Loud so a pipeline counting on the shuffle-free join learns
        # it needs a rebucket() pass.
        import warnings

        warnings.warn(
            f"bucketed table {path} v{version} lost physical "
            "co-location (multi-dir snapshot); falling back to "
            "the plain reader — run rebucket() to restore",
            stacklevel=2,
        )
        from temp_data_pipeline_spark.operators.deletion_vectors import (
            read_table,
        )

        return read_table(spark, path, version)
    # deterministic per-(dir) name: committed versions are immutable,
    # so an existing registration over the same location is never
    # stale and re-reads skip the DDL round trip
    import json as _json

    from pyspark.sql.types import StructType

    schema = StructType.fromJson(man["_schema"])
    # the cache key fingerprints dir + SPEC + SCHEMA: the same live
    # dir can serve different manifests (ADD COLUMN metadata commits,
    # scratch-path reuse with a different bucket_by/n) — a dir-only
    # key would hand back a registration with the wrong schema or,
    # worse, silently wrong bucketing metadata
    tname = "bkt_r_" + hashlib.md5(
        _json.dumps(
            [abs_dir, spec, man["_schema"]], sort_keys=True
        ).encode()
    ).hexdigest()[:16]
    if spark.catalog.tableExists(tname):
        # committed versions are immutable, but a scratch path can be
        # torn down and re-created between sessions' tests — drop the
        # cached file listing so the scan re-lists the location
        spark.catalog.refreshTable(tname)
    else:
        ddl = spark.createDataFrame([], schema)._jdf.schema().toDDL()
        spark.sql(
            f"CREATE TABLE {tname} ({ddl}) USING parquet "
            f"CLUSTERED BY ({_q(spec['bucket_by'])}) "
            f"SORTED BY ({_q(spec['sort_by'])}) "
            f"INTO {int(spec['n'])} BUCKETS "
            f"LOCATION '{abs_dir}'"
        )
    scan = spark.table(tname)
    if man.get("_dv"):
        # MOR deletes without losing co-location: tag the CATALOG
        # bucketed scan with (file, pos) from the parquet metadata
        # columns and subtract the DV by broadcast anti-join — a
        # broadcast join PRESERVES the streamed side's
        # HashPartitioning, so a downstream co-bucketed join still
        # plans with zero Exchange (pinned in tests).  Past the
        # broadcast cap the anti-join shuffles (correct, just no
        # longer co-located) — rebucket()/materialize_deletes is the
        # maintenance answer at that point.
        from temp_data_pipeline_spark.operators.deletion_vectors import (
            _anti_dv,
            read_dv,
        )
        from temp_data_pipeline_spark.operators.versioned import _rel_file

        from pyspark.sql import functions as F

        tagged = scan.select(
            _rel_file(rel_dir).alias("_dv_file"),
            F.col("_metadata.row_index").alias("_dv_pos"),
            *scan.columns,
        )
        return _anti_dv(
            tagged, read_dv(spark, path, version), man.get("_dv_rows")
        ).drop("_dv_file", "_dv_pos")
    return scan


def bucketed_join(
    spark: SparkSession,
    left_path: str,
    right_path: str,
    on: list[str],
    how: str = "inner",
    *,
    left_version: int | None = None,
    right_version: int | None = None,
) -> DataFrame:
    """Join two bucketed tables on their shared bucket key.  Refuses
    mismatched layouts (different bucket columns, or counts Spark's
    coalesce rule can't bridge) instead of silently planning a
    shuffle — the caller asked for the co-located join, so a layout
    that can't deliver it is an error, not a degradation.  The join
    keys must COVER the bucket columns (extra equality conditions on
    top are fine — co-location survives); joining on a strict subset
    of the bucket key cannot elide the exchange and is refused."""
    ls = bucket_spec(spark, left_path, left_version)
    rs = bucket_spec(spark, right_path, right_version)
    if not ls or not rs:
        raise ValueError("both sides must be bucketed tables")
    if ls["bucket_by"] != rs["bucket_by"]:
        raise ValueError(
            f"bucket layouts differ: left {ls['bucket_by']}×{ls['n']} "
            f"vs right {rs['bucket_by']}×{rs['n']} — rebucket one side"
        )
    if ls["n"] != rs["n"]:
        # Spark can still elide the exchange when one count is an
        # integer multiple of the other by COALESCING the finer side
        # (spark.sql.bucketing.coalesceBucketsInJoin) — accept exactly
        # the layouts that planner rule handles, refuse the rest
        big, small = max(ls["n"], rs["n"]), min(ls["n"], rs["n"])
        enabled = (
            spark.conf.get(
                "spark.sql.bucketing.coalesceBucketsInJoin.enabled",
                "false",
            ).lower()
            == "true"
        )
        ratio = int(
            spark.conf.get(
                "spark.sql.bucketing.coalesceBucketsInJoin.maxBucketRatio",
                "4",
            )
        )
        if not enabled or big % small != 0 or big // small > ratio:
            raise ValueError(
                f"bucket counts differ: left {ls['n']} vs right "
                f"{rs['n']} — rebucket one side, or enable "
                "spark.sql.bucketing.coalesceBucketsInJoin.enabled "
                f"with an integer ratio ≤ maxBucketRatio ({ratio})"
            )
    if not set(ls["bucket_by"]).issubset(on):
        raise ValueError(
            f"join keys {on} must cover the bucket columns "
            f"{ls['bucket_by']} for the co-located plan"
        )
    left = read_bucketed(spark, left_path, left_version)
    right = read_bucketed(spark, right_path, right_version)
    return left.join(right, on, how)


def rebucket(spark: SparkSession, path: str) -> int:
    """Restore physical co-location after appends/merges drifted the
    table from its bucket layout: one full rewrite of the latest
    visible rows under the recorded spec.  Returns the new version.
    No-op (returns the current version) when the snapshot is already
    one clean bucketed dir."""
    version = _resolve_version(spark, path, None)
    abs_dir, _rel, spec, _man = _colocated_dir(spark, path, version)
    if spec is None:
        raise ValueError(f"{path} has no _bucket_spec to rebucket to")
    if abs_dir is not None and not _man.get("_dv"):
        return version
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        read_table,
    )

    df = read_table(spark, path, version)
    return commit_bucketed(
        df,
        path,
        bucket_by=spec["bucket_by"],
        n_buckets=spec["n"],
        sort_by=spec.get("sort_by"),
        expected_base=version,
        meta={"_op": "rebucket"},
    )
