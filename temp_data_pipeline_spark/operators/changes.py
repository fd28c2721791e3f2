"""Incremental change feed between versions — metadata-driven CDF.

A downstream consumer of a versioned table (a feature-store sync, a
search-index updater, a replication job) wants "what changed since
the version I last read", at a cost proportional to the CHANGE, not
the table. The manifests already encode that: a metadata-level append
adds data dirs, a merge-on-read delete adds deletion-vector
positions, a COW merge swaps partition dirs. This module turns those
diffs into row-level feeds without any extra bookkeeping at write
time (the Delta CDF idea, recovered from the commit metadata instead
of written change files):

- ``read_appended(path, since)`` — rows in data FILES the newer
  manifest resolves that the older one didn't, minus rows the newer
  version's DV hides. For append-only / carry_from / MOR chains this
  IS the insert feed, and it scans ONLY the new files (O(delta)).
- ``changes_between(path, since, until)`` — the full feed: one row
  per changed row with ``_change_type`` ∈ {'insert', 'delete'}:
    inserts = added-file rows visible at ``until``
              + shared-file rows UN-deleted (DV shrank: a rollback
                re-referencing an older, smaller DV);
    deletes = shared-file rows newly covered by ``until``'s DV
              + removed-file rows that were visible at ``since``.

The diff runs at DIRECTORY granularity first, FILE granularity
second: data dirs are immutable in this protocol, so a dir name both
manifests list resolves to the identical file set and cancels WITHOUT
being listed — the driver metadata walk touches only the
symmetric-difference dirs, O(delta dirs) per incremental read and per
streaming micro-batch (a COW chain that re-references ``v=1/part=b``
while the other endpoint lists the whole ``v=1`` still reconciles at
file level: only those two entries are listed). Files are immutable
too, so identical paths ⇒ identical rows: the feed for a rewritten
partition is its old files (deletes) + new files (inserts) — correct,
coarser than key-level; key reconciliation is
``versioned.snapshot_diff``'s job.

Deletion-vector deltas are pruned the same way: only the SHARED files
either endpoint's DV actually names are scanned (the DV's distinct
file list is metadata-sized — bounded by file count), so a MOR window
costs O(files the deletes touch), never O(table).

A compaction / restore / delete-materialization rewrites everything
and would produce a full-table pair feed; feed windows that cross
such a commit raise the retryable ``FeedResetRequired`` so the
consumer resyncs from the snapshot instead of replaying the table as
churn — pass ``allow_reset=True`` to get the (correct, full-pair)
feed anyway.

Invariant (property-tested): visible(until) == visible(since)
minus deletes plus inserts, as multisets.

No reference counterpart (the reference is a single-process pandas
ETL, `src/tempdata/clean/clean_hourly.py`); semantics follow Delta's
table_changes / Iceberg's incremental read as published.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from temp_data_pipeline_spark.operators.deletion_vectors import (
    _DV_BROADCAST_MAX,
    _anti_dv,
    read_dv,
)
from temp_data_pipeline_spark.operators.versioned import (
    _REWRITE_KEYS,
    _fs,
    _manifest_dirs,
    _resolve_version,
    read_manifest,
)


class FeedResetRequired(RuntimeError):
    """The since→until window crosses a commit that rewrote the whole
    table (compaction, restore, delete materialization), so the
    file-level feed would pair-emit the ENTIRE table as deletes +
    inserts — technically correct, useless as a delta, and O(table)
    expensive. RETRYABLE by design: resync from the snapshot
    (``read_table`` at ``until``) and continue the feed from there,
    or pass ``allow_reset=True`` to get the full-pair feed anyway."""

    def __init__(self, path: str, version: int, kind: str):
        self.path = path
        self.version = version
        self.kind = kind
        super().__init__(
            f"change feed on {path} crosses version {version} "
            f"({kind}: a full-table rewrite) — resync from the "
            "snapshot, or pass allow_reset=True for the full-pair feed"
        )


def _check_window(
    spark: SparkSession, path: str, since: int, until: int, allow_reset: bool
) -> None:
    """Raise ``FeedResetRequired`` when any committed version in
    (since, until] records a full-table rewrite. Driver-side manifest
    walk (KB of JSON) over the window's versions only."""
    if allow_reset:
        return
    from temp_data_pipeline_spark.operators.versioned import versions

    for v in versions(spark, path):
        if not (since < v <= until):
            continue
        man = read_manifest(spark, path, v)
        for k in _REWRITE_KEYS:
            if man.get(k) is not None:
                raise FeedResetRequired(path, v, k)


def _list_dir_files(spark: SparkSession, path: str, d: str) -> set[str]:
    """TABLE-RELATIVE data files under one manifest dir — one
    recursive driver-side listing (metadata plane). A referenced dir
    that no longer exists raises (the loud-failure rule: a silent
    omission would mis-report the diff)."""
    fs, jvm = _fs(spark, path)
    base = jvm.org.apache.hadoop.fs.Path(f"{path}/{d}")
    if not fs.exists(base):
        raise FileNotFoundError(
            f"change feed references missing dir {d} under {path}"
        )
    out: set[str] = set()
    it = fs.listFiles(base, True)
    marker = f"/{d}/"
    while it.hasNext():
        st = it.next()
        uri = st.getPath().toString()
        name = uri.rsplit("/", 1)[-1]
        if name.startswith(("_", ".")):
            continue  # _SUCCESS / checksums / hidden
        i = uri.rfind(marker)
        if i < 0:
            raise ValueError(f"file {uri} not under its dir {d}")
        out.add(uri[i + 1 :])
    return out


def _files_in_dirs(
    spark: SparkSession, path: str, dirs: list[str]
) -> set[str]:
    out: set[str] = set()
    for d in dirs:
        out |= _list_dir_files(spark, path, d)
    return out


def _rel_files_of(spark: SparkSession, path: str, version: int) -> set[str]:
    """The full TABLE-RELATIVE file set a version's manifest resolves
    — the unpruned form (matview's superset probe); the feed itself
    diffs at dir level via ``_dir_diff`` and never needs it."""
    man = read_manifest(spark, path, version)
    return _files_in_dirs(spark, path, _manifest_dirs(man))


def _dir_diff(
    spark: SparkSession, path: str, man_old: dict, man_new: dict
) -> tuple[set[str], set[str], list[str], set[str]]:
    """(added, removed, shared_dirs, shared_overlap) between two
    manifests, listing ONLY the symmetric-difference dirs: a dir name
    both manifests carry is immutable, so it cancels exactly without
    a listing — the O(delta) metadata walk. ``shared_overlap`` holds
    files reached by BOTH sides' unshared dir entries (nesting
    granularity drift: one manifest lists ``v=1`` whole, the other a
    COW-carried ``v=1/part=b``); ``shared_dirs`` are the
    string-identical dirs, NOT listed here — DV pruning resolves
    membership by prefix instead."""
    dirs_old = set(_manifest_dirs(man_old))
    dirs_new = set(_manifest_dirs(man_new))
    only_old = _files_in_dirs(spark, path, sorted(dirs_old - dirs_new))
    only_new = _files_in_dirs(spark, path, sorted(dirs_new - dirs_old))
    return (
        only_new - only_old,
        only_old - only_new,
        sorted(dirs_old & dirs_new),
        only_new & only_old,
    )


def appended_files_if_superset(
    spark: SparkSession, path: str, since: int, until: int
) -> list[str] | None:
    """The files ``until`` resolves beyond ``since`` when its file set
    is a SUPERSET of ``since``'s (append-only windows — the matview
    fast path's probe), else None. When the dir sets nest by name
    (every carry_from append chain), this is pure manifest arithmetic:
    zero listings for the carried dirs, one listing per NEW dir."""
    man_old = read_manifest(spark, path, since)
    man_new = read_manifest(spark, path, until)
    added, removed, _, _ = _dir_diff(spark, path, man_old, man_new)
    if removed:
        return None
    return sorted(added)


def _scan_files(
    spark: SparkSession, path: str, version: int, files: list[str]
) -> DataFrame | None:
    """Position-tagged scan of an explicit relative-file subset of a
    version (zonemap's grouped basePath reader). None when empty."""
    if not files:
        return None
    from temp_data_pipeline_spark.operators.zonemap import _read_files

    return _read_files(spark, path, version, files, with_positions=True)


def _dv_frame(spark: SparkSession, path: str, version: int, man: dict):
    """The version's DV as (frame, row count), or (None, None) when it
    carries none. The count comes from the manifest's ``_dv_rows``
    when recorded (zero jobs) — it gates the broadcast decisions."""
    if not man.get("_dv"):
        return None, None
    dv = read_dv(spark, path, version)
    n = man.get("_dv_rows")
    return dv, (int(n) if n is not None else dv.count())


def _minus(
    tagged: DataFrame | None, dv: DataFrame | None, n: int | None = None
) -> DataFrame | None:
    """Tagged rows NOT covered by the DV (deletion_vectors' gated
    broadcast anti-join — map-side while the DV is driver-sized)."""
    if tagged is None:
        return None
    if dv is None:
        return tagged
    return _anti_dv(tagged, dv, n)


def _only(
    tagged: DataFrame | None, dv: DataFrame | None, n: int | None = None
) -> DataFrame | None:
    """Tagged rows covered by the DV — same broadcast gate as the
    anti form."""
    if tagged is None or dv is None:
        return None
    dv2 = dv.select(
        F.col("file").alias("_dv_file"), F.col("pos").alias("_dv_pos")
    )
    if (n if n is not None else dv.count()) <= _DV_BROADCAST_MAX:
        dv2 = F.broadcast(dv2)
    return tagged.join(dv2, ["_dv_file", "_dv_pos"], "left_semi")


def _until_schema(spark: SparkSession, path: str, until: int, man_new: dict):
    """The feed's output schema: ``until``'s recorded writer schema,
    reconstructed from the data when a legacy manifest predates
    recorded schemas."""
    from pyspark.sql.types import StructType

    if "_schema" in man_new:
        return StructType.fromJson(man_new["_schema"])
    from temp_data_pipeline_spark.operators.versioned import read_version

    return read_version(spark, path, until).schema


def _project_to(
    tagged: DataFrame | None,
    schema,
    man_old: dict | None = None,
    man_new: dict | None = None,
) -> DataFrame | None:
    """Align a scanned frame to the feed's output schema: since-side
    scans run under ``since``'s (narrower) schema, so an add-column
    evolution inside the window would otherwise fail the union —
    absent columns surface as typed NULLs, exactly how read_version
    reads old files under an evolved schema.

    When BOTH endpoint manifests are passed (the delete side — its
    scan resolves under ``since``'s schema), columns map by STABLE
    FIELD ID first: a window spanning a metadata-only rename_column
    would otherwise align by name and emit NULL in the renamed
    column, mis-keying table_changes_keyed / replication / SCD2 when
    it is a key (ADVICE r8 #4). A field id absent at ``since``
    (column added inside the window) null-fills as before."""
    if tagged is None:
        return None
    rename: dict[str, str] = {}
    if man_old is not None and man_new is not None:
        from temp_data_pipeline_spark.operators.versioned import (
            _dir_mapping,
        )

        ids_new = man_new.get("_field_ids") or {}
        inv_old = {
            fid: n for n, fid in (man_old.get("_field_ids") or {}).items()
        }
        if ids_new and not inv_old:
            # tracking engaged INSIDE the window: since's current
            # names ARE its dirs' disk names, and the newer manifest
            # records those per-dir (carry commits propagate
            # _dir_fields for every referenced version root)
            for d in _manifest_dirs(man_old):
                m = _dir_mapping(man_new, d)
                if m:
                    for disk, fid in m.items():
                        inv_old.setdefault(fid, disk)
        rename = {
            name: inv_old[fid]
            for name, fid in ids_new.items()
            if fid in inv_old and inv_old[fid] != name
        }
    have = set(tagged.columns)
    cols = []
    for f in schema.fields:
        src = rename.get(f.name, f.name)
        if src in have:
            cols.append(F.col(src).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return tagged.select(*cols)


def read_appended(
    spark: SparkSession,
    path: str,
    since: int,
    until: int | None = None,
    *,
    allow_reset: bool = False,
) -> DataFrame:
    """Rows ADDED between ``since`` (exclusive) and ``until``
    (inclusive, default latest): the contents of data FILES ``until``
    resolves that ``since`` did not, minus rows ``until``'s deletion
    vector already hides. For append-only / carry_from chains this
    scans only the new files — and lists only the new DIRS (carried
    dirs cancel by name without a metadata walk) — the O(delta)
    incremental read a downstream sync wants. Raises
    ``FeedResetRequired`` when the window crosses a full-table
    rewrite (see ``changes_between``)."""
    until = _resolve_version(spark, path, until)
    since = _resolve_version(spark, path, since)
    _check_window(spark, path, since, until, allow_reset)
    man_new = read_manifest(spark, path, until)
    man_old = read_manifest(spark, path, since)
    added, _, _, _ = _dir_diff(spark, path, man_old, man_new)
    tagged = _scan_files(spark, path, until, sorted(added))
    if tagged is None:
        from temp_data_pipeline_spark.operators.versioned import empty_df

        return empty_df(spark, _until_schema(spark, path, until, man_new))
    out_cols = [
        c for c in tagged.columns if c not in ("_dv_file", "_dv_pos")
    ]
    dv, n_dv = _dv_frame(spark, path, until, man_new)
    return _minus(tagged, dv, n_dv).select(*out_cols)


def _dv_candidate_files(
    spark: SparkSession,
    path: str,
    man_new: dict,
    man_old: dict,
    shared_dirs: list[str],
    shared_overlap: set[str],
) -> list[str]:
    """The SHARED files a DV delta can possibly touch: the distinct
    files either endpoint's DV names (metadata-sized — bounded by
    file count), filtered to shared membership by dir prefix. A
    shared file neither DV names is covered by neither, so it can
    contribute no delete and no resurrection — it is never opened
    (the O(table)-scan trap ADVICE r7 flagged). File names come from
    ``dv_file_names`` — a driver-side pyarrow read for local small
    sidecars, so the common case launches zero Spark jobs."""
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        dv_file_names,
    )

    named: set[str] = set()
    for man in (man_new, man_old):
        if man.get("_dv"):
            named.update(dv_file_names(spark, path, man["_dv"]))
    prefixes = tuple(f"{d}/" for d in shared_dirs)
    return sorted(
        f
        for f in named
        if f in shared_overlap or (prefixes and f.startswith(prefixes))
    )


def changes_between(
    spark: SparkSession,
    path: str,
    since: int,
    until: int | None = None,
    *,
    allow_reset: bool = False,
) -> DataFrame:
    """The row-level change feed from ``since`` (exclusive) to
    ``until`` (inclusive, default latest): the table's columns plus
    ``_change_type`` ('insert' | 'delete'). See the module docstring
    for the file-level granularity contract; the multiset invariant
    visible(until) = visible(since) − deletes + inserts always
    holds. Raises the retryable ``FeedResetRequired`` when the window
    crosses a compaction / restore / delete-materialization commit
    (a full-table rewrite: the pair feed would BE the table) unless
    ``allow_reset=True``."""
    until = _resolve_version(spark, path, until)
    since = _resolve_version(spark, path, since)
    _check_window(spark, path, since, until, allow_reset)
    man_new = read_manifest(spark, path, until)
    man_old = read_manifest(spark, path, since)
    added, removed, shared_dirs, shared_overlap = _dir_diff(
        spark, path, man_old, man_new
    )
    dv_new, n_new = _dv_frame(spark, path, until, man_new)
    dv_old, n_old = _dv_frame(spark, path, since, man_old)
    out_schema = _until_schema(spark, path, until, man_new)

    frames: list[DataFrame] = []

    def _emit(
        tagged: DataFrame | None, change: str, *, since_side: bool = False
    ) -> None:
        if tagged is None:
            return
        aligned = (
            _project_to(tagged, out_schema, man_old, man_new)
            if since_side
            else _project_to(tagged, out_schema)
        )
        frames.append(aligned.withColumn("_change_type", F.lit(change)))

    # inserts: rows of the added files, minus what until's DV hides
    _emit(
        _minus(_scan_files(spark, path, until, sorted(added)), dv_new, n_new),
        "insert",
    )
    # deletes: rows of the removed files that were VISIBLE at since —
    # scanned under SINCE's schema, so they align to the output names
    # by stable field id (a rename inside the window)
    _emit(
        _minus(_scan_files(spark, path, since, sorted(removed)), dv_old, n_old),
        "delete",
        since_side=True,
    )
    # DV delta over the shared files — pruned to the files either DV
    # actually names, so a 3-row MOR delete scans the files holding
    # those 3 rows, not every carried file
    if dv_new is not None or dv_old is not None:
        cands = _dv_candidate_files(
            spark, path, man_new, man_old, shared_dirs, shared_overlap
        )
        tagged_shared = _scan_files(spark, path, until, cands)
        newly = _minus(tagged_shared, dv_old, n_old)  # visible at since
        _emit(_only(newly, dv_new, n_new), "delete")
        # ... and resurrected rows (until's DV no longer covers them —
        # a rollback to a pre-delete version re-references a smaller DV)
        if dv_old is not None:
            hidden_then = _only(tagged_shared, dv_old, n_old)
            _emit(_minus(hidden_then, dv_new, n_new), "insert")

    if not frames:
        from temp_data_pipeline_spark.operators.versioned import empty_df

        return (
            empty_df(spark, out_schema)
            .withColumn("_change_type", F.lit("insert"))
            .limit(0)
        )
    return reduce(lambda a, b: a.unionByName(b), frames)


def table_changes_keyed(
    spark: SparkSession,
    path: str,
    keys: list[str],
    since: int,
    until: int | None = None,
    *,
    allow_reset: bool = False,
) -> DataFrame:
    """KEY-LEVEL change feed — Delta's ``table_changes`` semantics on
    top of the file-level feed: one row per NET change with
    ``_change_type`` ∈ {'insert', 'delete', 'update_preimage',
    'update_postimage'}. ``keys`` must uniquely identify rows in both
    endpoint versions (the snapshot_diff contract).

    The file-level feed is exact but coarse: a COW partition rewrite
    (or an idempotent upsert re-landing identical rows) pair-emits
    every surviving row as delete+insert. This wrapper reconciles the
    pairs per key in ONE null-safe full-outer join on the feed —
    which is already delta-sized, so the join shuffles the CHANGE,
    not the table:

      key only deleted            → 'delete' (old row)
      key only inserted           → 'insert' (new row)
      both, payload identical     → suppressed (rewrite noise)
      both, payload changed       → 'update_preimage' (old row)
                                  + 'update_postimage' (new row)

    The four outcomes emit from a single pass over the join (an
    array-of-struct per row, exploded — empty arrays vanish), so the
    join is never recomputed per change class. Same
    ``FeedResetRequired`` guard and ``allow_reset`` passthrough as
    ``changes_between``.
    """
    feed = changes_between(
        spark, path, since, until, allow_reset=allow_reset
    )
    cols = [c for c in feed.columns if c != "_change_type"]
    missing = [k for k in keys if k not in cols]
    if missing:
        raise ValueError(f"key columns absent from the feed: {missing}")
    old = feed.filter(F.col("_change_type") == "delete").select(
        *[F.col(k).alias(f"_ko_{k}") for k in keys],
        F.struct(*cols).alias("_ro"),
    )
    new = feed.filter(F.col("_change_type") == "insert").select(
        *[F.col(k).alias(f"_kn_{k}") for k in keys],
        F.struct(*cols).alias("_rn"),
    )
    cond = None
    for k in keys:
        c = F.col(f"_ko_{k}").eqNullSafe(F.col(f"_kn_{k}"))
        cond = c if cond is None else (cond & c)
    j = old.join(new, cond, "full_outer")
    has_old = F.col("_ro").isNotNull()
    has_new = F.col("_rn").isNotNull()
    changed = ~F.col("_ro").eqNullSafe(F.col("_rn"))
    # the otherwise-branch needs a TYPED empty array (unchanged pairs
    # vanish at the explode); slice(array(struct...), 1, 0) builds one
    # with the same element type as the event branches
    events = (
        F.when(
            has_old & ~has_new,
            F.array(
                F.struct(F.lit("delete").alias("_t"), F.col("_ro").alias("_r"))
            ),
        )
        .when(
            has_new & ~has_old,
            F.array(
                F.struct(F.lit("insert").alias("_t"), F.col("_rn").alias("_r"))
            ),
        )
        .when(
            changed,
            F.array(
                F.struct(
                    F.lit("update_preimage").alias("_t"),
                    F.col("_ro").alias("_r"),
                ),
                F.struct(
                    F.lit("update_postimage").alias("_t"),
                    F.col("_rn").alias("_r"),
                ),
            ),
        )
        .otherwise(
            F.slice(
                F.array(
                    F.struct(
                        F.lit("x").alias("_t"), F.col("_ro").alias("_r")
                    )
                ),
                1,
                0,
            )
        )
    )
    ex = j.select(F.explode(events).alias("_e"))
    return ex.select(
        *[F.col(f"_e._r.{c}").alias(c) for c in cols],
        F.col("_e._t").alias("_change_type"),
    )
