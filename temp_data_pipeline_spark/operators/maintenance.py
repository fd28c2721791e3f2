"""Auto-maintenance for versioned tables: one nightly entry point.

Every maintenance primitive in this engine is a deliberate, separate
decision — compaction (chain length), DV materialization (read-time
subtraction cost), vacuum (storage), sidecar rebuilds (skippability).
An operator running hundreds of tables does not want to re-derive the
decision logic per table; ``maintain_table`` is the policy-driven
driver that inspects a table's metadata (manifests only — KB of JSON,
no data scanned for the DECISIONS) and runs the minimum set of
actions, in dependency order:

  1. materialize merge-on-read deletes when the DV covers more than
     ``max_dv_frac`` of the table's rows (reads pay the subtraction
     on every scan; past a few percent the rewrite amortizes) — also
     REQUIRED before compaction/z-order can run on a DV table;
  2. compact when the manifest chain exceeds ``max_chain`` dirs
     (every read unions that many roots), or z-order instead when
     ``zorder`` columns are configured (a superset of compaction);
  3. rebuild the zone-map / Bloom sidecars for the new latest version
     (incrementally when only appends happened; full after a rewrite);
  4. vacuum history beyond ``keep_last`` (also reaps expired sidecars
     and unreferenced DV files).

Row counts for the DV-fraction decision come from the zone-map
sidecar when one exists (metadata-only) and fall back to one count
over the data otherwise. Returns the ordered list of actions taken —
an empty list means the table was already healthy, and the function
is idempotent: a second run right after is a no-op.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from temp_data_pipeline_spark.operators.versioned import (
    _manifest_dirs,
    commit_with_retries,
    compact_snapshot,
    read_manifest,
    read_version,
    vacuum,
    versions,
)


@dataclass
class MaintenancePolicy:
    max_chain: int = 8          # manifest data-dir count before compaction
    max_dv_frac: float = 0.05   # deleted fraction before materialization
    keep_last: int = 3          # versions vacuum keeps
    stats_columns: list[str] = field(default_factory=list)
    bloom_columns: list[str] = field(default_factory=list)
    zorder: list[str] = field(default_factory=list)
    zorder_files: int = 16
    # opt-in INCREMENTAL compaction: dirs under this size collapse
    # into one (compact_incremental) BEFORE the full-rewrite decision;
    # on streaming append chains (many tiny per-batch dirs riding one
    # big dir) this usually brings the chain under max_chain at
    # O(small dirs), and the full O(table) compact_snapshot never runs
    small_dir_bytes: int | None = None


def _row_count(spark: SparkSession, path: str, version: int) -> int:
    """Rows of a version: from the zone-map sidecar when present
    (metadata-only), else one count over the data."""
    from temp_data_pipeline_spark.operators.zonemap import read_zone_maps

    try:
        zm = read_zone_maps(spark, path, version)
        return int(zm.agg(F.sum("n_rows")).collect()[0][0] or 0)
    except FileNotFoundError:
        return read_version(spark, path, version).count()


def maintain_table(
    spark: SparkSession,
    path: str,
    policy: MaintenancePolicy | None = None,
) -> list[str]:
    """Run the minimum maintenance a table needs under ``policy``;
    returns the actions taken in order (empty = healthy). See module
    docstring for the decision rules."""
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        materialize_deletes,
        read_dv,
    )
    from temp_data_pipeline_spark.operators.zonemap import (
        optimize_zorder,
        write_bloom_index,
        write_zone_maps,
    )

    policy = policy or MaintenancePolicy()
    actions: list[str] = []
    vs = versions(spark, path)
    if not vs:
        return actions
    latest = vs[-1]
    man = read_manifest(spark, path, latest)

    # 1. DV materialization (DV size from the manifest when recorded —
    # metadata-only decision; legacy sidecars pay one count)
    if man.get("_dv"):
        n_dv = (
            int(man["_dv_rows"])
            if "_dv_rows" in man
            else read_dv(spark, path, latest).count()
        )
        n_rows = _row_count(spark, path, latest)
        frac = n_dv / n_rows if n_rows else 1.0
        needs_rewrite = bool(policy.zorder) or len(
            _manifest_dirs(man)
        ) > policy.max_chain
        if frac > policy.max_dv_frac or needs_rewrite:
            # retried on conflict with a concurrent writer (a stream
            # batch landing mid-maintenance): materialize_deletes
            # re-resolves the latest version on every attempt
            latest = commit_with_retries(
                lambda: materialize_deletes(spark, path)
            )
            man = read_manifest(spark, path, latest)
            actions.append(f"materialize_deletes -> v{latest}")

    # 2. chain compaction / clustering rewrite — incremental first
    # when configured: collapse the small-dir tail cheaply, and only
    # full-rewrite if the chain is STILL too long after that
    chain = len(_manifest_dirs(man))
    if (
        policy.small_dir_bytes is not None
        and not policy.zorder
        and chain > policy.max_chain
    ):
        from temp_data_pipeline_spark.operators.versioned import (
            compact_incremental,
        )

        v = commit_with_retries(
            lambda: compact_incremental(
                spark, path, small_bytes=policy.small_dir_bytes
            )
        )
        if v != latest:
            latest = v
            man = read_manifest(spark, path, latest)
            chain = len(_manifest_dirs(man))
            actions.append(f"compact_incremental -> v{latest}")
    if policy.zorder and (chain > policy.max_chain or actions):
        latest = commit_with_retries(
            lambda: optimize_zorder(
                spark,
                path,
                policy.zorder,
                target_files=policy.zorder_files,
                partition_by=man.get("_partition_by") or None,
            )
        )
        actions.append(f"optimize_zorder{tuple(policy.zorder)} -> v{latest}")
        rewrote = True
    elif chain > policy.max_chain:
        latest = commit_with_retries(lambda: compact_snapshot(spark, path))
        actions.append(f"compact_snapshot -> v{latest}")
        rewrote = True
    else:
        rewrote = False

    # 3. sidecar freshness for the (possibly new) latest version
    def _sidecar_current(kind: str, suffix: str) -> bool:
        from temp_data_pipeline_spark.operators.versioned import _fs

        fs, jvm = _fs(spark, path)
        return fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{path}/{kind}/{latest}{suffix}")
        )

    if policy.stats_columns and not _sidecar_current("_zonemaps", ".parquet"):
        prev = None
        if not rewrote:
            # pure-append chains refresh incrementally off the newest
            # version that has a sidecar
            prev = next(
                (
                    v
                    for v in reversed(versions(spark, path)[:-1])
                    if _zm_exists(spark, path, v)
                ),
                None,
            )
        try:
            write_zone_maps(
                spark,
                path,
                policy.stats_columns,
                version=latest,
                incremental_from=prev,
            )
        except (FileNotFoundError, ValueError):
            write_zone_maps(spark, path, policy.stats_columns, version=latest)
        actions.append(f"write_zone_maps(v{latest})")
    for bc in policy.bloom_columns:
        if not _sidecar_current("_blooms", f".{bc}.parquet"):
            prev = None
            if not rewrote:
                prev = next(
                    (
                        v
                        for v in reversed(versions(spark, path)[:-1])
                        if _bloom_exists(spark, path, v, bc)
                    ),
                    None,
                )
            try:
                write_bloom_index(
                    spark, path, bc, version=latest, incremental_from=prev
                )
            except FileNotFoundError:
                write_bloom_index(spark, path, bc, version=latest)
            actions.append(f"write_bloom_index({bc!r}, v{latest})")

    # 4. history expiry (reference-aware; reaps expired sidecars too)
    dropped = vacuum(spark, path, keep_last=policy.keep_last)
    if dropped:
        actions.append(f"vacuum dropped {dropped}")

    # 4b. history-clock index: keep the timestamp-travel sidecar in
    # sync with the surviving versions (a cache of immutable facts —
    # refreshed silently, not an "action": stale means incomplete,
    # never wrong, and version_as_of falls back per-manifest for any
    # version it misses)
    import json as _json

    from temp_data_pipeline_spark.operators.versioned import (
        _history_index_path,
        read_text,
        write_history_index,
    )

    current = {str(v) for v in versions(spark, path)}
    try:
        have = set(
            _json.loads(
                read_text(spark, _history_index_path(path))
            ).get("clocks", {})
        )
    except (FileNotFoundError, ValueError):  # missing/corrupt: rebuild
        have = set()
    if have != current:
        write_history_index(spark, path)

    # 5. quarantine sibling (expectations gating): ``<path>_quarantine``
    # gains a version per gated commit and per replay and would
    # otherwise accumulate forever — run the same compaction + expiry
    # over it under a sidecar-free policy (quarantines are
    # violation-sized; they are read whole on replay, never
    # merge-read, so stats/bloom/zorder buy nothing).  The replay
    # linkage survives: compact_snapshot carries the extra manifest
    # keys (``_quarantine_of`` / ``_replayed_to_version``), and if
    # expiry ever drops the newest ``_replayed_to_version`` marker,
    # ``_pending_replay``'s walk degrades to one redundant —
    # idempotent, self-restamping — remainder rewrite, never a double
    # append.  One level only: a quarantine has no quarantine.
    if not path.endswith("_quarantine"):
        qpath = f"{path}_quarantine"
        qvs = versions(spark, qpath)
        # an unrelated table that merely LIVES at '<path>_quarantine'
        # must not inherit the parent's expiry policy (ADVICE r10 #3):
        # real quarantines stamp `_quarantine_of == path` in their
        # manifests — require the linkage on the latest manifest
        if qvs and read_manifest(spark, qpath, qvs[-1]).get(
            "_quarantine_of"
        ) == path:
            from dataclasses import replace as _dc_replace

            for act in maintain_table(
                spark,
                qpath,
                _dc_replace(
                    policy, stats_columns=[], bloom_columns=[], zorder=[]
                ),
            ):
                actions.append(f"quarantine: {act}")
    return actions


def _zm_exists(spark: SparkSession, path: str, version: int) -> bool:
    from temp_data_pipeline_spark.operators.versioned import _fs

    fs, jvm = _fs(spark, path)
    return fs.exists(
        jvm.org.apache.hadoop.fs.Path(
            f"{path}/_zonemaps/{version}.parquet"
        )
    )


def _bloom_exists(
    spark: SparkSession, path: str, version: int, column: str
) -> bool:
    from temp_data_pipeline_spark.operators.versioned import _fs

    fs, jvm = _fs(spark, path)
    return fs.exists(
        jvm.org.apache.hadoop.fs.Path(
            f"{path}/_blooms/{version}.{column}.parquet"
        )
    )
