"""Versioned snapshot tables: atomic commits + time-travel reads.

The missing piece between "write parquet" and a table format: readers
must never see a half-written snapshot, yesterday's pipeline output
must stay queryable after today's run, and a crashed writer must leave
nothing visible. The standard lakehouse answer (Delta/Iceberg) is a
commit log of manifests; this is that protocol reduced to public
Hadoop-FS primitives:

  <path>/v=<N>/...parquet     immutable snapshot data, one dir/version
  <path>/_manifest/<N>.json   commit marker — a version EXISTS only
                              once its manifest file does

Write protocol: data lands in ``v=<N>`` first (invisible — readers
only trust manifested versions), then the manifest is created with a
write-temp-then-rename, which is atomic on HDFS and object-store
committers alike. A crash at any point leaves an orphan data dir that
no reader resolves; ``vacuum`` deletes it later. Rename-onto-existing
fails, so two racing writers of the same version cannot both commit —
the loser retries at the next number (single-writer pipelines never
hit this).

Scale posture: a commit costs ONE distributed write of the snapshot
plus two driver-side metadata ops (mkdir + rename); reads are plain
parquet scans of the manifested directories, so partition pruning,
pushdown, and every other Catalyst behavior apply unchanged.

Incremental (metadata-level) commits: a manifest lists its DATA DIRS
(plural). ``commit_version(df, path, carry_from=N)`` writes only
``df`` into its own ``v=<M>`` dir and records version N's dirs plus
the new one — version M *references* version N's bytes instead of
copying them, exactly the Iceberg/Delta move where a new snapshot's
manifest lists the previous snapshot's unchanged files. An append-
only backfill therefore costs O(batch), not O(corpus): at 100 TB a
daily append writes the day's partitions and one JSON file. ``vacuum``
respects references — a version's data dir survives as long as ANY
kept manifest lists it, even after its own manifest expires.
Fully-independent snapshots (no ``carry_from``) still behave as
before: total isolation, storage traded for simplicity.

Empty versions: a commit whose frame provably has zero rows (rollback,
schema evolution, table-metadata commits, typed CREATE TABLE) writes
NO data files — its ``v=<N>`` dir exists but holds no parquet. That is
a valid metadata-only version, not corruption: readers take the schema
from the manifest's ``_schema``, and vacuum/verify treat the dir like
any other. External readers scanning a ``v=<N>`` dir directly must
expect it to be file-less.

Manifest keys fall into four classes, each declared once below:

  class        tuple              rewrite / restore / clone commits
  per-commit   _PER_COMMIT_KEYS   never copy them (shape, rewrite
                                  markers, quarantine/replay promises)
  sticky       _STICKY_KEYS       copy them; EVERY commit also inherits
                                  them from the latest manifest until
                                  its ``meta`` sets them
  layout       _LAYOUT_KEYS       copy them only with dirs carried
                                  verbatim; commit_version re-derives
                                  them for the dirs a rewrite carries
  undeclared   (anything else)    copy them, so high-water marks read
                                  from the latest manifest
                                  (``_stream_batch_id``,
                                  ``replica_of_version``) survive
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F_sql

from temp_data_pipeline_spark.operators.upsert import keep_latest, merge_upsert


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, jvm) for ``path``, memoized per session and
    per scheme://authority. Resolving the FS costs ~4 py4j round trips
    (Path ctor, hadoopConfiguration, getFileSystem); commit-heavy
    lifecycles call this hundreds of times per query (137 calls ≈ 1.1 s
    of the q_replicate profile, guide §1 measured), and Hadoop's own
    FileSystem.CACHE already guarantees the same instance comes back
    for one scheme+authority, so the python-side memo changes nothing
    but the chatter. Cached on the SparkSession python object: a
    stopped/recreated session gets a fresh wrapper, so no stale
    gateway refs."""
    if "://" in path:
        scheme_auth = path.split("://", 1)[0] + "://" + (
            path.split("://", 1)[1].split("/", 1)[0]
        )
    else:
        scheme_auth = ""
    cache = getattr(spark, "_sg_fs_cache", None)
    if cache is None:
        cache = {}
        try:
            spark._sg_fs_cache = cache
        except Exception:  # noqa: BLE001 - frozen wrapper: skip memo
            pass
    hit = cache.get(scheme_auth)
    if hit is not None:
        return hit
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    out = jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm
    cache[scheme_auth] = out
    return out


def _local_meta_path(path: str, spark: SparkSession | None = None) -> str | None:
    """``path`` as a driver-readable LOCAL filesystem path for the
    metadata fast paths (manifest listings, small JSON reads), or None
    when it lives behind a non-local scheme. The one local gate for
    driver-side metadata I/O: manifest listings and reads, and
    deletion-vector sidecar reads.

    ``file://`` URIs resolve only with an EMPTY or localhost authority
    — ``file://host/path`` names a remote-host location the driver
    cannot see, so it keeps the Hadoop FS path (ADVICE r11). Hadoop's
    qualified form ``file:/abs/path`` (``makeQualified``, as shallow
    clones record their roots) is the local ``/abs/path``. When
    ``spark`` is passed, scheme-less paths additionally require
    ``fs.defaultFS`` to be local: under an hdfs/s3a default FS a bare
    path names a REMOTE table, and consulting a same-named local dir
    would silently misread it (ADVICE r11 on versions())."""
    if path.startswith("file://"):
        rest = path[len("file://"):]
        if rest.startswith("/"):
            return rest
        auth, sep, p = rest.partition("/")
        if auth.lower() == "localhost" and sep:
            return "/" + p
        return None
    if path.startswith("file:"):
        rest = path[len("file:"):]
        return rest if rest.startswith("/") else None
    if "://" in path:
        return None
    if spark is not None and not _defaultfs_local(spark):
        return None
    return path


def _defaultfs_local(spark: SparkSession) -> bool:
    """True when ``fs.defaultFS`` is the local filesystem (the
    out-of-the-box 'file:///'), memoized per session — one py4j call
    per session, not per metadata read."""
    hit = getattr(spark, "_sg_defaultfs_local", None)
    if hit is None:
        try:
            dfs = (
                spark._jsc.hadoopConfiguration().get("fs.defaultFS")
                or "file:///"
            )
        except Exception:  # noqa: BLE001 - gateway hiccup: assume local
            dfs = "file:///"
        hit = dfs.startswith("file:")
        try:
            spark._sg_defaultfs_local = hit
        except Exception:  # noqa: BLE001 - frozen wrapper: skip memo
            pass
    return hit


from contextlib import contextmanager as _contextmanager


@_contextmanager
def job_desc(spark: SparkSession, desc: str):
    """Label the Spark jobs submitted inside the block (guide §1.5)
    so profiles and the UI attribute actions to engine operations.
    Restores the caller's label (thread-local) on exit."""
    sc = spark.sparkContext
    old = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try:
        yield
    finally:
        sc.setJobDescription(old)


def empty_df(spark: SparkSession, schema) -> DataFrame:
    """A zero-row frame of ``schema`` that the optimizer can PROVE is
    empty (``analyzed().maxRows() == 0``).

    Built as ``range(0).select(lit(None).cast(...))`` — a pure-JVM
    plan that folds to an empty LocalRelation: no Python-RDD parent,
    so an action on it pays zero Python-worker round trips (the
    ``parallelize([], 1)`` form this replaces cost one round trip per
    evaluation), and ``commit_version`` recognizes it statically and
    skips the snapshot write job entirely (the metadata-only empty
    commit). The frame's own fields come back nullable=True (a null
    literal cannot be non-nullable, and ``DataFrame.to`` refuses the
    narrowing), so the CALLER'S declared StructType rides along as
    ``_sg_declared_schema`` and ``commit_version`` records IT in the
    manifest — a typed CREATE TABLE's v1 keeps its declared
    nullability instead of persisting all-nullable (verdict r11 #2).
    """
    from pyspark.sql import functions as F

    df = spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )
    try:
        df._sg_declared_schema = schema
    except Exception:  # noqa: BLE001 - frozen wrapper: manifest falls back
        pass
    return df


def _statically_empty(df: DataFrame) -> bool:
    """True when the ANALYZED plan proves ``df`` has zero rows
    (``maxRows`` = 0: ``empty_df`` frames, ``limit(0)`` plans).
    Analysis is cached on the DataFrame and needed by every consumer
    anyway, so the probe costs two py4j calls, no job."""
    try:
        mr = df._jdf.queryExecution().analyzed().maxRows()
        return bool(mr.isDefined()) and int(mr.get()) == 0
    except Exception:  # noqa: BLE001 - internal API drift: no fast path
        return False


class CommitConflictError(RuntimeError):
    """Optimistic-concurrency conflict: the table advanced past the
    version this commit planned against, so publishing it would
    silently drop the intervening writer's changes (the lost-update
    anomaly). RETRYABLE by construction — re-read the latest version,
    re-plan the mutation against it, and commit again; the retried
    commit then contains both writers' changes. The Delta/Iceberg
    commit-protocol behavior, arbitrated here by the manifest rename
    at exactly ``expected_base + 1`` (rename-onto-existing fails, so
    at most one of N racers wins a slot).

    FILESYSTEM REQUIREMENT: the arbiter is only as atomic as the
    store's ``rename``. HDFS, local filesystems, and ABFS/GCS expose
    the needed atomic, fail-onto-existing directory/file rename; raw
    S3 through S3A emulates rename as copy+delete behind a
    check-then-act existence probe, leaving a window where two racers
    both believe they won ``expected_base + 1``. On such stores plug
    an external arbiter through ``set_commit_arbiter`` (a DynamoDB/
    ZooKeeper lock or a conditional-PUT commit object — exactly what
    Delta's S3 LogStore and Iceberg's lock-manager catalogs exist
    for); the default arbiter assumes rename is the lock."""

    def __init__(self, path: str, expected_base: int, actual: int):
        self.path = path
        self.expected_base = expected_base
        self.actual = actual
        super().__init__(
            f"commit conflict on {path}: planned against version "
            f"{expected_base} but the table is at {actual} — re-plan "
            "against the latest version and retry"
        )


def commit_with_retries(plan_fn, max_attempts: int = 5, backoff: float = 0.0):
    """Run a conflict-aware commit with the standard optimistic-
    concurrency retry loop: ``plan_fn()`` must RE-PLAN against the
    table's current latest on every call (every mutation helper in
    this engine — commit_delete_mor, compact_snapshot, commit_merge_cow
    — re-resolves the latest version internally, so passing a bound
    call is enough) and is retried on ``CommitConflictError`` up to
    ``max_attempts`` total attempts. Returns ``plan_fn``'s result;
    re-raises the final conflict when contention outlasts the budget
    (the caller decides whether to queue or fail).

    Each retried attempt is planned against the version the previous
    winner committed, so N concurrent writers all eventually land and
    the final table holds the UNION of their changes — the manual
    replan loop tests/test_conflicts.py demonstrates, packaged.
    ``backoff`` seconds (× attempt number) de-correlates herds; the
    default 0 keeps single-process callers deterministic. Non-conflict
    errors propagate immediately — only the retryable anomaly retries.
    """
    import time as _time

    last: CommitConflictError | None = None
    for attempt in range(1, max_attempts + 1):
        try:
            return plan_fn()
        except CommitConflictError as exc:
            last = exc
            if backoff and attempt < max_attempts:
                _time.sleep(backoff * attempt)
    assert last is not None
    raise last


# --- commit-arbiter seam ---------------------------------------------
# The manifest publish ("this version number is now taken, and this is
# its content") must be atomic-iff-absent. The default arbiter is the
# Hadoop temp+rename (rename onto an EXISTING FILE fails on HDFS, local
# FS, ABFS/GCS — verified for files, unlike directories, see
# commit_version's slot claim). Object stores whose rename is
# copy+delete behind a check-then-act probe (raw S3 via S3A) need an
# external primitive instead — a conditional PUT, DynamoDB lock, or
# ZooKeeper lease, exactly what Delta's S3 LogStore / Iceberg's
# lock-manager catalogs provide. ``set_commit_arbiter`` is that
# injection point: every manifest publish in this module AND the LLM
# index commit log (llm/index_commit.py) routes through it.

_COMMIT_ARBITER = None


def default_rename_arbiter(
    spark: SparkSession, final_path: str, payload: bytes
) -> bool:
    """Publish ``payload`` at ``final_path`` iff absent: write a
    per-writer temp (unique name — two racers sharing one temp would
    let the loser's bytes win the winner's rename) and rename onto the
    final name. True = this writer owns the path."""
    import uuid as _uuid

    fs, jvm = _fs(spark, final_path)
    Path = jvm.org.apache.hadoop.fs.Path
    d, name = final_path.rsplit("/", 1)
    tmp = Path(f"{d}/.{name}.{_uuid.uuid4().hex[:8]}.tmp")
    out = fs.create(tmp, True)
    out.write(bytearray(payload))
    out.close()
    if fs.rename(tmp, Path(final_path)):
        return True
    fs.delete(tmp, False)
    return False


def set_commit_arbiter(fn) -> None:
    """Install a custom commit arbiter: ``fn(spark, final_path, payload)
    -> bool`` must atomically publish ``payload`` at ``final_path`` iff
    nothing is published there yet, returning True only for the single
    winner. Pass None to restore the rename-based default."""
    global _COMMIT_ARBITER
    _COMMIT_ARBITER = fn


def _arbiter():
    return _COMMIT_ARBITER or default_rename_arbiter


def atomic_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small metadata file with the temp+rename commit point
    (overwriting any previous file): readers either see the complete
    old content or the complete new content, never a partial write.
    The shared primitive behind this module's manifests and the
    vector-index manifest (llm/vector_index.py).

    Overwrites go through ``FileContext.rename(..., Rename.OVERWRITE)``
    — a SINGLE atomic swap, so a concurrent reader never observes the
    file absent (ADVICE r5: delete-then-rename had a not-found window).
    Filesystems without FileContext support fall back to
    delete+rename, where that transient-absence window exists; callers
    on such stores should retry a FileNotFoundError once."""
    import uuid as _uuid

    fs, jvm = _fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    tmp = Path(f"{path}.{_uuid.uuid4().hex[:8]}.tmp")
    out = fs.create(tmp, True)
    out.write(bytearray(text.encode("utf-8")))
    out.close()
    final = Path(path)
    try:
        gw = spark.sparkContext._gateway
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            final.toUri(), spark._jsc.hadoopConfiguration()
        )
        opts = gw.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
        opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        fc.rename(tmp, final, opts)
        return
    except Exception:
        pass  # FS without FileContext: legacy two-step swap below
    if fs.exists(final):
        fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise IOError(f"atomic rename failed for {path}")


def read_text(spark: SparkSession, path: str) -> str:
    """Read a small metadata file. Local files read directly on the
    driver (zero py4j round trips — a Hadoop-FS open/drain/close costs
    3+ round trips and measured ~10-45 ms each under the profile,
    44 manifest reads ≈ 1.9 s of one q_replicate run); non-local
    schemes go through the Hadoop FS (py4j COPIES byte[] args, so a
    fill-this-buffer loop reads nothing — drain the stream JVM-side
    instead). A missing file raises FileNotFoundError on either path
    — a local miss without touching the JVM."""
    lp = _local_meta_path(path, spark)
    if lp is not None:
        with open(lp, "rb") as fh:
            return fh.read().decode("utf-8")
    from py4j.protocol import Py4JJavaError

    fs, jvm = _fs(spark, path)
    try:
        stream = fs.open(jvm.org.apache.hadoop.fs.Path(path))
    except Py4JJavaError as exc:
        if exc.java_exception.getClass().getName() == (
            "java.io.FileNotFoundException"
        ):
            raise FileNotFoundError(path) from exc
        raise
    try:
        return bytes(
            jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        ).decode("utf-8")
    finally:
        stream.close()


def _rel_file(d: str | None = None):
    """``_metadata.file_path`` of a scan rooted at table-relative dir
    ``d``, re-expressed RELATIVE to the table root — e.g.
    ``v=3/date=2026-01-01/part-0.parquet``. Sidecars (deletion
    vectors, zone maps, Bloom indexes) key files by this form so a
    copied/relocated table keeps resolving them — the same reason
    manifests store relative ``data_dirs`` (ADVICE r6). The extractor
    splits on the LAST occurrence of ``/<d>/`` in the absolute URI; a
    hive partition column literally named ``v`` with integer values
    could alias the boundary, so scans of such tables tag per dir.

    With no ``d`` it anchors at the last ``/v=`` segment instead — the
    one-scan form for files of many dirs. That equals ``_rel_file(<the
    file's own dir>)`` whenever no segment below the version dir
    starts with ``v=``, i.e. unless a partition column is named
    ``v``."""
    fp = F_sql.col("_metadata.file_path")
    sep = "/v=" if d is None else "/" + d + "/"
    return F_sql.concat(F_sql.lit(sep[1:]), F_sql.substring_index(fp, sep, -1))


def _rel_path(f: str) -> str:
    """Python twin of ``_rel_from_any`` for one stored file entry."""
    if f.startswith("/") or "://" in f:
        m = re.search(r"(?:^|/)(v=\d+/.*)$", f)
        return m.group(1) if m else ""
    return f


def _rel_from_any(col):
    """Normalize a stored file path to the table-relative form: legacy
    absolute entries (pre-r7 sidecars) are cut at the last
    ``/v=<digits>/`` DIRECTORY boundary; relative entries pass through
    unchanged. The anchor is a real version-dir segment, not a bare
    ``/v=`` substring — a hive partition dir whose escaped value
    contains 'v=' (``k=v=3``) must not alias the boundary (ADVICE r7:
    the substring cut silently resurrected deleted rows on such
    layouts). regexp_extract returns '' on no match, so a legacy
    entry that genuinely lacks a version segment surfaces as a
    never-matching key instead of a wrong one."""
    legacy = col.startswith("/") | col.contains("://")
    return F_sql.when(
        legacy,
        F_sql.regexp_extract(col, r"(?:^|/)(v=\d+/.*)$", 1),
    ).otherwise(col)


def _dir_mapping(man: dict, d: str) -> dict | None:
    """The ``on_disk_name -> field id`` mapping for data dir ``d`` of
    a manifest, or None when the dir's on-disk names match the
    manifest's current names (identity — every dir written under the
    current schema, and every manifest predating rename tracking).
    Nested entries share their version root's mapping: one commit
    wrote the whole ``v=<N>`` dir under one schema."""
    dirf = man.get("_dir_fields") or {}
    if d in dirf:
        return dirf[d]
    head = d.split("/", 1)[0]
    if head in dirf:
        return dirf[head]
    for k, v in dirf.items():
        if k.split("/", 1)[0] == head:
            return v
    return None


def _disk_schema_and_rename(man: dict, d: str):
    """How to read data dir ``d`` under manifest ``man`` when column
    renames/drops are in play: returns ``(read_schema, align_fn)``.
    ``read_schema`` is the dir's ON-DISK schema restricted to the
    columns that still exist (matched by stable field id — the
    Iceberg name-mapping move), and ``align_fn(df, keep=())`` projects
    the scanned frame to the manifest's CURRENT names, surfacing
    columns added after the dir was written as typed NULLs.
    ``align_fn`` is None for identity dirs (the overwhelmingly common
    case): the caller reads with the manifest schema as before."""
    from pyspark.sql.types import StructField, StructType

    cur = StructType.fromJson(man["_schema"]) if "_schema" in man else None
    mapping = _dir_mapping(man, d)
    if cur is None or mapping is None:
        return cur, None
    ids = man.get("_field_ids") or {}
    inv = {fid: disk for disk, fid in mapping.items()}
    disk_fields: list[StructField] = []
    select = []
    for f in cur.fields:
        disk = inv.get(ids.get(f.name))
        if disk is None:
            # column added after this dir was written (including
            # drop-then-re-add: the new column has a NEW id)
            select.append(F_sql.lit(None).cast(f.dataType).alias(f.name))
        else:
            disk_fields.append(StructField(disk, f.dataType, True))
            select.append(F_sql.col(disk).alias(f.name))

    def align(df: DataFrame, keep: tuple = ()) -> DataFrame:
        return df.select(*[F_sql.col(c) for c in keep], *select)

    return StructType(disk_fields), align


def _evolution_meta(
    df: DataFrame, carried_dirs: list[str], base_man: dict | None
) -> dict:
    """The rename-tracking manifest fields a carry commit must
    propagate, once a rename/drop has engaged tracking on the base:
    ``_field_ids`` (current name -> stable id; new columns get fresh
    ids — a re-added name never aliases a dropped column's bytes) and
    ``_dir_fields`` (per carried dir, its on-disk-name -> id map;
    identity mappings are elided to keep manifests small). Empty for
    untracked tables — zero overhead until the first rename."""
    if not base_man or "_field_ids" not in base_man:
        return {}
    base_ids = dict(base_man["_field_ids"])
    ids = dict(base_ids)
    # fresh ids allocate past the table's HIGH-WATER id, never past
    # the current max: a column re-added after a drop must not reuse
    # the dropped column's id, or old files' bytes would resurrect
    # under the new column
    nxt = (
        int(base_man.get("_last_field_id", max(base_ids.values(), default=0)))
        + 1
    )
    for c in df.columns:
        if c not in ids:
            ids[c] = nxt
            nxt += 1
    ids = {c: ids[c] for c in df.columns}
    dir_fields = _changed_dir_fields(base_man, carried_dirs, base_ids, ids)
    out: dict = {"_field_ids": ids, "_last_field_id": nxt - 1}
    if dir_fields:
        out["_dir_fields"] = dir_fields
    return out


def _changed_dir_fields(
    base_man: dict, dirs: list[str], base_ids: dict, ids: dict
) -> dict[str, dict]:
    """``_dir_fields`` for ``dirs`` of ``base_man`` under the new field
    ids ``ids``: each dir's on-disk-name -> id map, identity mappings
    elided to keep manifests small."""
    base_names = [f["name"] for f in base_man["_schema"]["fields"]]
    out: dict[str, dict] = {}
    for d in dirs:
        m = _dir_mapping(base_man, d)
        if m is None:
            # dir written under the base's current names
            m = {n: base_ids[n] for n in base_names}
        if any(ids.get(disk) != fid for disk, fid in m.items()):
            out[d] = m
    return out


def _check_schema_against_manifest(
    df: DataFrame,
    base_man: dict,
    *,
    what: str,
    allow_evolution: bool = False,
) -> None:
    """Shared carry-commit schema gate: a commit that REFERENCES a
    base version's files must read them back under a schema the bytes
    on disk still satisfy. Columns must match the base exactly
    (``allow_evolution=True`` relaxes to a strict add-column
    superset), and every shared column must keep its type — a dropped
    or retyped column needs a rewrite (compact_snapshot after a
    select/cast), never a metadata carry."""
    if "_schema" not in base_man:
        return  # legacy manifest without a recorded schema
    base_fields = base_man["_schema"]["fields"]
    base_cols = sorted(f["name"] for f in base_fields)
    if sorted(df.columns) != base_cols:
        new_cols = set(df.columns)
        if not (allow_evolution and new_cols > set(base_cols)):
            raise ValueError(
                f"{what} schema mismatch: carried {base_cols} vs new "
                f"{sorted(df.columns)}"
                + (
                    ""
                    if allow_evolution
                    else " (add-column appends need allow_evolution=True)"
                )
            )
    base_types = {f["name"]: f["type"] for f in base_fields}
    retyped = [
        f.name
        for f in df.schema.fields
        if f.name in base_types and f.dataType.jsonValue() != base_types[f.name]
    ]
    if retyped:
        raise ValueError(
            f"{what} retypes column(s) {retyped} — rewrite "
            "(compact_snapshot after a cast), don't carry"
        )


def _manifest_dir(path: str) -> str:
    return f"{path}/_manifest"


# --- manifest key policy (see the module docstring's key table) -------
# The commit's own shape, written by commit_version from its arguments.
_COMMIT_SHAPE_KEYS = (
    "version", "data_dir", "data_dirs", "committed_at", "_schema",
    "_partition_by", "_checks",
)
# Rewrite markers: a version recording one of these replaced the
# table's files wholesale, so change feeds crossing it need a reset.
_REWRITE_KEYS = ("compacted_from", "restored_from", "materialized_from")
# Facts about ONE commit: never copied by rewrite/restore/clone commits.
_PER_COMMIT_KEYS = (
    *_COMMIT_SHAPE_KEYS, *_REWRITE_KEYS, "compacted_dirs", "cloned_from",
    "_quarantined", "_quarantine_table", "_quarantine_for_version",
    "_replayed_from", "_replayed_rows",
)
# Table metadata: set once, inherited from the latest manifest by
# every commit until a commit overrides it via ``meta``.
_STICKY_KEYS = (
    "_table_constraints", "_tblproperties", "_column_defaults",
    "_generated_columns", "_identity_columns",
)
# Rename tracking: commit_version recomputes it unless meta sets it.
_RENAME_KEYS = ("_field_ids", "_dir_fields", "_last_field_id")
# Layout facts about specific data dirs: they ride only with dirs
# carried verbatim (commit_version re-derives them for carried dirs).
_LAYOUT_KEYS = (
    "_dv", "_dv_rows", "_dir_roots", "_bucket_spec", *_RENAME_KEYS,
)


def _carried_meta(man: dict, *, keep_layout: bool) -> dict:
    """The keys of ``man`` a rewrite/restore/clone commit copies:
    everything but the per-commit keys, and — for rewrites
    (``keep_layout=False``), whose fresh files no longer match them —
    the layout keys. Undeclared keys ride forward."""
    drop = _PER_COMMIT_KEYS if keep_layout else _PER_COMMIT_KEYS + _LAYOUT_KEYS
    return {k: v for k, v in man.items() if k not in drop}


def _carry_bound_meta(
    base_man: dict | None, carried_dirs: list[str], meta: dict,
    carry_from: int | None,
) -> dict:
    """Layout keys a carry commit inherits for the dirs it references,
    unless ``meta`` sets them. Each rule has its own condition."""
    out: dict = {}
    if base_man is None:
        return out
    # a deletion vector rides along with the bytes it deletes from: an
    # append on a DV version must keep subtracting it, or the deleted
    # rows silently resurrect (its row count travels with it). Only
    # carry_from appends inherit it; carry_dirs writers own their DV.
    if carry_from is not None and base_man.get("_dv") and "_dv" not in meta:
        out["_dv"] = base_man["_dv"]
        if "_dv_rows" in base_man and "_dv_rows" not in meta:
            out["_dv_rows"] = base_man["_dv_rows"]
    # shallow-clone references: each still-carried dir keeps resolving
    # under its source root (nested COW entries fall back to their
    # version head)
    br = base_man.get("_dir_roots")
    if br and meta.get("_dir_roots") is None:
        roots = {}
        for d in carried_dirs:
            r = br.get(d) or br.get(d.split("/", 1)[0])
            if r:
                roots[d] = r
        if roots:
            out["_dir_roots"] = roots
    # the carried bytes ARE bucket files, so the spec rides while any
    # dir is carried (operators/bucketing.py decides per snapshot
    # whether co-location still holds); a full rewrite drops it
    if (
        carried_dirs
        and meta.get("_bucket_spec") is None
        and base_man.get("_bucket_spec")
    ):
        out["_bucket_spec"] = base_man["_bucket_spec"]
    return out


def _manifest_dirs(man: dict) -> list[str]:
    """A manifest's data dirs as RELATIVE paths under the table root.
    Stored relative since round 6 so a copied/relocated table resolves
    its own files, not the committer's absolute location. Entries are
    either a whole version dir (``v=<N>``) or — for partition-level
    copy-on-write commits — one partition subdir of a version
    (``v=<N>/date=2026-01-01``). Absolute legacy entries (and the
    single ``data_dir`` field) predate both forms and were always
    top-level, so they normalize by basename."""
    dirs = man.get("data_dirs") or [man["data_dir"]]
    out = []
    for d in dirs:
        d = d.rstrip("/")
        if d.startswith("/") or "://" in d:
            d = d.rsplit("/", 1)[-1]
        out.append(d)
    return out


def _data_dir(path: str, version: int) -> str:
    return f"{path}/v={version}"


def _dir_root(path: str, man: dict, d: str) -> str:
    """The absolute root under which relative dir ``d`` of manifest
    ``man`` lives: the table's own ``path`` unless the manifest marks
    the dir as a SHALLOW-CLONE reference into another table
    (``_dir_roots``: entry dir -> absolute source root, nested COW
    entries falling back to their ``v=<N>`` head). Every reader and
    maintenance listing resolves through this, so a cloned table's
    zero-copy references scan in place; sidecar keys stay valid
    because they use the table-RELATIVE ``v=<N>/...`` form, which is
    root-agnostic."""
    roots = man.get("_dir_roots") or {}
    if not roots:
        return path
    return roots.get(d) or roots.get(d.split("/", 1)[0]) or path


def _dir_abs(path: str, man: dict, d: str) -> str:
    return f"{_dir_root(path, man, d)}/{d}"


def _claim_slot(
    fs, Path, path: str, staging: str, claim: str, token: str,
    data_slot: int, probe=None,
) -> tuple[str, int]:
    """Move the staged snapshot into the first free ``v=K`` slot and
    PROVE ownership before returning ``(data_dir, slot)``. The exists
    probe dodges occupied slots cheaply, but probe→rename is
    check-then-act: a slot claimed in the gap makes Hadoop's rename
    return true by moving the staging INTO the winner's dir instead of
    failing. The ``claim`` sentinel (written inside the staging dir by
    the caller) travels with the bytes, so ownership is decided by
    where it surfaces: directly under ``v=K`` = claimed; nested under
    ``v=K/.tmp-<token>`` = race lost — the staging is recovered intact
    and retried at the next slot, and the winner's data is never
    touched. ``probe`` is a test seam simulating the race window."""
    exists = probe or (lambda p: fs.exists(Path(p)))
    while True:
        data = _data_dir(path, data_slot)
        if exists(data) or not fs.rename(Path(staging), Path(data)):
            data_slot += 1
            continue
        if fs.exists(Path(f"{data}/{claim}")):
            fs.delete(Path(f"{data}/{claim}"), False)
            return data, data_slot  # owned: OUR bytes occupy v=K
        nested = Path(f"{data}/.tmp-{token}")
        if not fs.exists(nested) or not fs.rename(nested, Path(staging)):
            raise IOError(
                f"slot claim for {data} lost and the staging dir "
                f".tmp-{token} could not be recovered — filesystem "
                "rename semantics violated the move-into contract"
            )
        data_slot += 1


def _manifest_listing(
    spark: SparkSession, path: str, *, stamp: bool = False
) -> tuple[list[int], tuple | None]:
    """(committed versions ascending, latest manifest's (mtime,
    length) stamp or None). The one manifest-dir listing: local tables
    list on the driver (a Hadoop listStatus costs 2 py4j round trips
    per entry; 76 calls ≈ 1.6 s of one q_replicate profile); non-local
    schemes — and scheme-less paths under a non-local fs.defaultFS,
    which the _local_meta_path gate filters out (ADVICE r11) — keep
    the Hadoop FS listing. The stamp is only taken with
    ``stamp=True``."""
    lp = _local_meta_path(path, spark)
    statuses = None
    if lp is not None:
        mdir = os.path.join(lp, "_manifest")
        try:
            names = os.listdir(mdir)
        except (FileNotFoundError, NotADirectoryError):
            return [], None
    else:
        fs, jvm = _fs(spark, path)
        mdir = jvm.org.apache.hadoop.fs.Path(_manifest_dir(path))
        if not fs.exists(mdir):
            return [], None
        statuses = {st.getPath().getName(): st for st in fs.listStatus(mdir)}
        names = list(statuses)
    found: dict[int, str] = {}
    for name in names:
        if name.endswith(".json") and not name.startswith("."):
            try:
                found[int(name[: -len(".json")])] = name
            except ValueError:
                continue
    out = sorted(found)
    if not (stamp and out):
        return out, None
    name = found[out[-1]]
    if statuses is not None:
        st = statuses[name]
        return out, (st.getModificationTime(), st.getLen())
    st = os.stat(os.path.join(mdir, name))
    return out, (st.st_mtime_ns, st.st_size)


def versions(spark: SparkSession, path: str) -> list[int]:
    """Committed versions, ascending. Orphan data dirs (crashed or
    in-flight writers) are excluded by construction — only the
    manifest names count. Never cached — the version list is the one
    piece of metadata that changes under commits."""
    return _manifest_listing(spark, path)[0]


def commit_version(
    df: DataFrame,
    path: str,
    *,
    meta: dict | None = None,
    partition_by: list[str] | None = None,
    carry_from: int | None = None,
    carry_dirs: list[str] | None = None,
    allow_evolution: bool = False,
    checks: dict[str, str] | None = None,
    expected_base: int | None = None,
    meta_late=None,
    write_fn=None,
) -> int:
    """Write ``df`` as the next snapshot version and make it visible
    atomically. Returns the committed version number.

    ``meta_late`` (optional) is a zero-arg callable resolved AFTER the
    snapshot's data write but before the manifest publish, merged into
    the manifest last. It exists for metadata only known once the
    write action ran — e.g. a ``df.observe`` metric collected on the
    commit pass itself (expectations' violation counts) — without a
    second job over the data. Keys that steer the commit itself
    (``_dv``, ``_table_constraints``, ``_field_ids``) must go in
    ``meta``, which is read before the write.

    Data first (invisible until manifested), then the manifest via
    temp-file + rename. The snapshot is written ONCE into a private
    ``.tmp-*`` staging dir and claims its ``v=K`` slot by one atomic
    directory rename — racing writers can never interleave inside one
    slot's committer workspace, and a slot collision dodges to the
    next number by re-renaming metadata, not rewriting bytes. A
    manifest rename that loses to a concurrent committer bumps to the
    next manifest number and retries — optimistic concurrency without
    a lock service. Orphan data/staging dirs from crashed writers are
    skipped (never reused) so a crash can never wedge future commits;
    vacuum reclaims them. The manifest rename is the single commit
    point.

    ``carry_from=N`` makes this a METADATA-LEVEL append: only ``df``
    (the new rows) is written; the manifest's ``data_dirs`` lists
    version N's directories plus the new one, so the committed
    snapshot = N's rows ∪ df without copying a byte of N. Requirements
    the caller owns: ``df``'s columns must match N's schema (checked
    by name here), and ``partition_by`` must match N's layout so the
    union of directories stays one consistent partitioned table.

    ``carry_dirs`` is the finer-grained form ``commit_merge_cow`` uses:
    an explicit list of RELATIVE dirs (whole versions ``v=<N>`` or
    single partition subdirs ``v=<N>/date=x``) to reference instead of
    deriving them from one base version. Mutually exclusive with
    ``carry_from``; schema compatibility is the caller's contract.

    ``allow_evolution=True`` relaxes the ``carry_from`` schema check
    to ADD-COLUMN evolution: ``df`` may carry a strict superset of
    the base's columns. The manifest records the NEW (widest) schema,
    and ``read_version`` applies the manifest schema to every carried
    dir — parquet scans with an explicit schema surface absent
    columns as NULL, so old files read back with the new column null
    (the Iceberg/Delta add-column semantics) without rewriting a
    byte. Dropping or retyping columns stays an error: those change
    the meaning of bytes already on disk and need a rewrite
    (``compact_snapshot`` after a select/cast), not metadata.

    ``checks`` are named SQL CHECK constraints (``{"name": "<bool
    expr>"}``) enforced on the rows THIS commit writes: after the
    data lands but BEFORE the manifest rename, the written files are
    scanned once and any row where a check evaluates FALSE (NULL
    passes, per SQL) aborts the commit — the data dir is deleted and
    nothing becomes visible, so readers can rely on every manifested
    version satisfying its constraints. Validating the written bytes
    (not ``df``) costs one cheap parquet re-read instead of
    recomputing an expensive lineage twice. Carried dirs were
    validated by their own commits; the constraint set is recorded in
    the manifest (``_checks``) for auditability.

    ``write_fn(df, staging_dir)`` (optional) replaces the default
    parquet writer for the snapshot's own bytes — the claim/rename/
    manifest protocol around it is unchanged.  Used by
    ``operators/bucketing.py`` to lay the files out in Spark's native
    bucket format; any custom writer must leave ordinary
    parquet-readable files under ``staging_dir``.

    ``expected_base=B`` turns on COMMIT-TIME CONFLICT DETECTION (the
    Delta-style optimistic-concurrency check): the caller planned this
    commit against version B, and publishing it is only safe while B
    is still the latest — an intervening commit's changes would
    otherwise be silently dropped (a MOR delete's carried dirs, a
    COW merge's rewritten partitions, a maintenance compaction: all
    embed the base they read). With it set, the manifest slot is
    pinned to exactly ``B + 1`` — never renumbered — so the atomic
    rename of ``<B+1>.json`` is the single arbiter between racing
    writers: the loser's rename fails, its data dir is cleaned up,
    and ``CommitConflictError`` (retryable: re-plan against the new
    latest, commit again) is raised instead of a silent lost update.
    The DATA dir may still dodge to a free ``v=K`` slot past an
    orphan — manifests reference dirs by name, so slot K need not
    equal the version number. Default ``None`` keeps the historical
    renumber-and-retry behavior for independent appends that cannot
    conflict semantically.
    """
    if carry_from is not None and carry_dirs is not None:
        raise ValueError("pass carry_from or carry_dirs, not both")
    spark = df.sparkSession
    fs, jvm = _fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    fs.mkdirs(Path(_manifest_dir(path)))
    meta = dict(meta or {})
    carried_dirs: list[str] = list(carry_dirs or [])
    base_man: dict | None = None
    if carry_dirs is not None and expected_base:
        # COW/MOR carry commits plan against the latest version and
        # pin it via expected_base — that manifest is the base whose
        # layout fields (if any) must propagate
        base_man = read_manifest(spark, path, expected_base)
    if carry_from is not None:
        base_man = read_manifest(spark, path, carry_from)
        carried_dirs = _manifest_dirs(base_man)
        _check_schema_against_manifest(
            df,
            base_man,
            what=f"carry_from={carry_from}",
            allow_evolution=allow_evolution,
        )
    if partition_by is None and base_man is not None:
        # a carry commit's own dir must keep the table's hive layout
        # (COW commits and compact_partitions carve by subdir), and
        # the manifest must keep recording it: callers of plain
        # appends (SQL INSERT INTO) don't know the layout — inherit
        # the base's rather than silently committing '_partition_by':
        # [] onto a partitioned table
        partition_by = base_man.get("_partition_by") or None
    meta.update(_carry_bound_meta(base_man, carried_dirs, meta, carry_from))
    # next slot must clear BOTH committed versions and orphan data
    # dirs (a crashed writer's v=N would otherwise collide with every
    # future slot claim until vacuum — the table would wedge)
    committed = versions(spark, path)
    # sticky table metadata inherits from the latest manifest
    # regardless of carry style — every writer (append, MOR, COW,
    # maintenance rewrite) enforces constraints on its newly written
    # rows and carries the set forward; setters override via meta
    sticky: dict = {}
    unset = [k for k in _STICKY_KEYS if meta.get(k) is None]
    if committed and unset:
        prev_man = (
            base_man
            if carry_from == committed[-1] and base_man is not None
            else read_manifest(spark, path, committed[-1])
        )
        sticky = {k: prev_man[k] for k in unset if prev_man.get(k)}
    if expected_base is not None:
        latest = committed[-1] if committed else 0
        if latest != expected_base:
            raise CommitConflictError(path, expected_base, latest)
    taken = set(committed)
    # carried dir names claim their slots too: a shallow-clone carry
    # references EXTERNAL dirs that don't exist locally — the own dir
    # must not reuse a carried name or the manifest would list the
    # same relative dir twice (resolved to the source: double read)
    for d in carried_dirs:
        head = d.split("/", 1)[0]
        if head.startswith("v="):
            try:
                taken.add(int(head[2:]))
            except ValueError:
                pass
    root = Path(path)
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith("v="):
                try:
                    taken.add(int(name[2:]))
                except ValueError:
                    pass
    # DATA slot: any free v=K (dodges orphans and racers). MANIFEST
    # slot: normally tracks the data slot; under conflict detection
    # it is PINNED to expected_base+1 so the <B+1>.json rename is the
    # one atomic arbiter between racing writers — manifests reference
    # data dirs by name, so the two numbers may legitimately diverge.
    data_slot = (max(taken) + 1) if taken else 1
    # rename-tracking propagation: computed from the base manifest
    # unless the caller manages the fields itself (rename_column /
    # drop_column / rollback commits pass them in meta)
    evo = (
        {}
        if meta.get("_field_ids") is not None
        else _evolution_meta(df, carried_dirs, base_man)
    )
    # the snapshot is written ONCE into a private staging dir, then
    # CLAIMS its v=K slot by one atomic directory rename: two racing
    # writers can never interleave inside one dir's _temporary
    # committer workspace (the errorifexists check is check-then-act
    # and does not protect same-slot concurrent writes), and a loser
    # dodges to the next slot by re-renaming METADATA, not rewriting
    # bytes. A crash leaves an orphan .tmp-* dir; vacuum reclaims it.
    import uuid as _uuid

    token = _uuid.uuid4().hex[:12]
    staging = f"{path}/.tmp-{token}"
    # METADATA-ONLY empty commit: when the analyzed plan proves df has
    # zero rows (empty_df frames, limit(0) carries — every MOR pure
    # delete, evolution/properties/constraint carry, CDC empty window,
    # typed CREATE TABLE), writing it would launch a Spark job to
    # produce an empty parquet file nobody needs: readers already
    # handle file-less dirs through the manifest's declared ``_schema``
    # (the documented empty-partitioned-snapshot path), CHECK
    # constraints are vacuous over zero rows, and the claim/rename
    # protocol only needs the staging DIR to exist. Excluded when a
    # ``meta_late`` Observation must ride the write action (identity
    # watermarks, expectations) or a custom ``write_fn`` owns the
    # bytes.
    statically_empty = (
        write_fn is None and meta_late is None and _statically_empty(df)
    )
    if statically_empty:
        fs.mkdirs(Path(staging))
    elif write_fn is not None:
        # custom physical layout inside the slot (operators/bucketing.py
        # writes Spark-native bucket files via a catalog table at the
        # staging location) — the claim/rename/manifest protocol is
        # unchanged, only the bytes' producer differs
        with job_desc(spark, f"commit_version: custom write {path}"):
            write_fn(df, staging)
    else:
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        with job_desc(spark, f"commit_version: snapshot write {path}"):
            writer.parquet(staging)
    # ownership sentinel: Hadoop's rename onto a dir that APPEARED
    # between the exists probe and the rename returns true by moving
    # the source INTO it (verified on the bundled local FS, which
    # falls through to FileUtil.copy; HDFS documents the same
    # move-into semantics) — so a true rename is NOT proof the slot
    # was claimed. A hidden marker file named after the staging token
    # travels with the bytes; only the writer that finds ITS marker
    # directly under v=K owns the slot. The loser's staging lands
    # nested as v=K/.tmp-<token> — recovered intact, retried at the
    # next slot (ADVICE r8 #1: without this, the loser's conflict
    # cleanup deleted the WINNER's committed data).
    claim = f"._claim-{token}"
    fs.create(Path(f"{staging}/{claim}"), True).close()
    data, data_slot = _claim_slot(
        fs, Path, path, staging, claim, token, data_slot
    )
    version = expected_base + 1 if expected_base is not None else data_slot
    # GENERATED columns validate like auto-constraints: every commit's
    # own rows must carry col == generation-expr (null-safe — the
    # Delta contract: writers either omit the column, in which case
    # the SURFACE layer computed it, or provide matching values).
    # Columns absent from this commit's frame (pre-evolution carries)
    # skip — old files read the column as NULL via the manifest schema
    # and were written before the declaration.
    table_meta = {**meta, **sticky}  # sticky only fills keys meta left None
    gen_cols = table_meta.get("_generated_columns") or {}
    enforce = {
        **(table_meta.get("_table_constraints") or {}),
        **(checks or {}),
        **{
            f"__generated_{c}": f"`{c}` <=> ({e})"
            for c, e in gen_cols.items()
            if c in df.columns
        },
    }
    if enforce and not statically_empty:
        written = spark.read.schema(df.schema).parquet(data)
        with job_desc(spark, f"commit_version: CHECK validation {path}"):
            viol_row = written.agg(
                *[
                    F_sql.sum(
                        F_sql.expr(s)
                        .eqNullSafe(F_sql.lit(False))
                        .cast("long")
                    ).alias(n)
                    for n, s in enforce.items()
                ]
            ).collect()[0]
        bad = {n: viol_row[n] for n in enforce if (viol_row[n] or 0) > 0}
        if bad:
            fs.delete(Path(data), True)
            raise ValueError(
                f"commit rejected: CHECK constraint violations {bad}"
            )
    late = dict(meta_late() if meta_late is not None else {})
    # the recorded writer schema: empty_df frames carry the caller's
    # DECLARED StructType (null literals force nullable=True on the
    # frame itself) — record the declaration when names+types agree,
    # so a typed CREATE TABLE's manifest keeps its nullability
    rec_schema = df.schema
    declared = getattr(df, "_sg_declared_schema", None)
    if declared is not None and [
        (f.name, f.dataType) for f in declared.fields
    ] == [(f.name, f.dataType) for f in rec_schema.fields]:
        rec_schema = declared
    while True:
        import time as _time

        doc = {
            "version": version,
            "data_dir": data,
            # wall-clock commit point: drives timestamp time travel
            # (read_as_of) the way Delta's commit timestamps do;
            # monotonicity across versions is as good as the writer
            # clocks, so read_as_of resolves by scanning ALL manifests
            "committed_at": _time.time(),
            # every directory this snapshot is the union of: carried
            # (referenced, not copied) dirs first, own dir last —
            # RELATIVE names, so the table survives relocation
            "data_dirs": carried_dirs + [f"v={data_slot}"],
            # writer schema: lets read_version reconstruct EMPTY
            # partitioned snapshots (no part files to infer from)
            "_schema": rec_schema.jsonValue(),
            # recorded layout: maintenance ops (compact_snapshot)
            # must preserve it or COW commits on the compacted
            # table would find no hive subdirs to carry
            "_partition_by": list(partition_by or []),
            **({"_checks": checks} if checks else {}),
            **sticky,
            **evo,
            **meta,
            **late,
        }
        if _arbiter()(
            spark,
            f"{_manifest_dir(path)}/{version}.json",
            json.dumps(doc).encode("utf-8"),
        ):
            return version
        # lost the manifest race for this number
        if expected_base is not None:
            # a competitor won the <B+1>.json slot — its commit was
            # planned against the same base, so ours is now stale:
            # surface the conflict (and reclaim our data dir) instead
            # of silently renumbering past (and thereby dropping) the
            # winner's changes
            fs.delete(Path(data), True)
            raise CommitConflictError(
                path, expected_base, expected_base + 1
            )
        # independent append: keep the claimed data dir (manifests
        # reference dirs by name) and take the next manifest number
        version += 1


def _resolve_version(
    spark: SparkSession, path: str, version: int | None
) -> int:
    committed = versions(spark, path)
    if not committed:
        raise FileNotFoundError(f"no committed versions under {path}")
    if version is None:
        return committed[-1]
    if version not in committed:
        raise FileNotFoundError(
            f"version {version} not committed under {path} (have {committed})"
        )
    return version


def read_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Time-travel read: the snapshot at ``version``, or the latest
    committed one. Plain parquet scan of the manifest's ``data_dirs``
    (one dir for independent snapshots, several for metadata-level
    appends) — one file scan however many dirs (``_scan``),
    pruning/pushdown unchanged.

    An EMPTY partitioned snapshot has no part files to infer a schema
    from (the dir holds only _SUCCESS); the manifest records the
    writer's schema for exactly this case — the Delta/Iceberg answer
    — so empty versions read back as empty frames instead of
    UNABLE_TO_INFER_SCHEMA, and appends to an all-filtered first
    commit don't wedge the table."""
    version = _resolve_version(spark, path, version)
    man = read_manifest(spark, path, version)
    return _scan(spark, path, man, _manifest_dirs(man))


def _align_partition_types(df: DataFrame, man: dict) -> DataFrame:
    """Cast partition columns back to the manifest schema's types.

    Partition VALUES come from Spark's dir-name inference, which
    cannot reconstruct every type the writer declared — booleans stay
    strings ('true' dirs), integral values come back as the narrowest
    int — so without this a snapshot reads back with a different
    schema than it was written with, and a partition-scoped rewrite
    (compact_partitions) would then COMMIT the drifted type into the
    next manifest. Data columns are untouched (parquet footers carry
    their real types)."""
    pb = man.get("_partition_by") or []
    if not pb or "_schema" not in man:
        return df
    from pyspark.sql.types import StructType

    want = {
        f.name: f.dataType
        for f in StructType.fromJson(man["_schema"]).fields
    }
    have = {f.name: f.dataType for f in df.schema.fields}
    for c in pb:
        w = want.get(c)
        if w is not None and c in have and have[c] != w:
            df = df.withColumn(c, F_sql.col(c).cast(w))
    return df


# what Spark raises when the dirs of one multi-path read have different
# partition layouts (``_scan`` then reads them per dir)
_LAYOUT_CONFLICTS = (
    "CONFLICTING_PARTITION_COLUMN_NAMES",
    "CONFLICTING_DIRECTORY_STRUCTURES",
)


# the position tags ``_scan(positions=True)`` adds: the row's file
# (``_rel_file`` form) and its row index in that file — a DV's keys
_POSITIONS = ("_dv_file", "_dv_pos")


def _scan(
    spark: SparkSession,
    path: str,
    man: dict,
    entries: list[str],
    positions: bool = False,
) -> DataFrame:
    """The one scan builder behind every snapshot reader: ``entries``
    — table-relative data dirs of manifest ``man`` (``v=3``, or a
    nested COW entry ``v=3/date=x``) or part files of them — read as
    one frame under the manifest schema (declared: inferring it would
    run a footer-read job per read). ``positions`` prepends the
    (``_dv_file``, ``_dv_pos``) tags deletion vectors are defined
    over, the file in ``_rel_file``'s table-relative form.

    Entries read as ONE file scan (one file index, whatever the
    history). Entries of one version dir scan with ``basePath`` at
    that dir. An unpartitioned snapshot of several needs none: each
    listed dir is its own root, so no ``v`` column appears. A
    partitioned one needs it — without it, sibling ``v=<N>`` dirs are
    CONFLICTING_DIRECTORY_STRUCTURES — and with it at the table root
    Spark adds an int partition column ``v``, dropped here.

    The rest read per dir, each branch tagged at its own dir:
    - in an unpartitioned snapshot of several dirs, a nested entry or
      a file below a ``k=v`` subdir (carried from a partitioned
      layout): as its own root it would lose the ``k`` column;
    - a partitioned table with a column named ``v`` (any case): the
      synthetic column would silently REPLACE that column's values;
    - a partitioned snapshot whose shallow-clone roots (``_dir_roots``)
      differ: one ``basePath`` cannot cover them;
    - the dirs of a table whose partition layout evolved (a carry
      commit with a new ``partition_by``): Spark refuses to list them
      as one table (``_LAYOUT_CONFLICTS``);
    - dirs written before a column rename/drop (``_dir_fields``): they
      scan under their ON-DISK schema, aligned to the current names by
      stable field id (``_disk_schema_and_rename``);
    - a legacy manifest without a recorded schema: inferred per dir;
      a dir with nothing to infer from is skipped."""
    from functools import reduce

    from pyspark.errors.exceptions.captured import (
        AnalysisException,
        SparkRuntimeException,
    )
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(man["_schema"]) if "_schema" in man else None
    tags = _POSITIONS if positions else ()

    def tagged(df: DataFrame, rel) -> DataFrame:
        if not positions:
            return df
        pos = F_sql.col("_metadata.row_index")
        return df.select(rel.alias(tags[0]), pos.alias(tags[1]), *df.columns)

    if not entries:
        if schema is None:
            schema = read_version(spark, path, man["version"]).schema
        empty = empty_df(spark, schema)
        if not positions:
            return empty
        return empty.select(
            F_sql.lit(None).cast("string").alias(tags[0]),
            F_sql.lit(None).cast("long").alias(tags[1]),
            *empty.columns,
        )

    def head(e: str) -> str:
        return e.split("/", 1)[0]

    pb = man.get("_partition_by") or []
    roots = {_dir_root(path, man, e) for e in entries}
    one = schema is not None and (
        not pb
        or (len(roots) == 1 and all(f.name.lower() != "v" for f in schema))
    )
    plain = [e for e in entries if one and _dir_mapping(man, e) is None]
    if not pb and len({head(e) for e in plain}) > 1:
        # with no basePath each listed path is its own base, so a path
        # below a k=v subdir of its version dir would lose that column
        plain = [e for e in plain if "=" not in e.partition("/")[2]]
    frames = []
    if plain:
        heads = sorted({head(e) for e in plain})
        r = spark.read.schema(schema)
        root = _dir_root(path, man, heads[0])
        if len(heads) == 1:
            r = r.option("basePath", f"{root}/{heads[0]}")
        elif pb:
            r = r.option("basePath", root)
        paths = [f"{_dir_root(path, man, e)}/{e}" for e in plain]
        try:
            df = r.parquet(*paths)
        except SparkRuntimeException as exc:
            # a carry commit may change partition_by while old dirs keep
            # their layout; dirs of two layouts cannot share one file
            # index, and Spark says so here — they read per dir below
            if exc.getCondition() not in _LAYOUT_CONFLICTS:
                raise
            plain = []
        else:
            if pb and len(heads) > 1:
                df = df.drop("v")
            frames.append(tagged(df, _rel_file()))
    # per-dir branches: one per dir entry, and one per version dir for
    # part-file entries (a part file's name holds no "="), each tagged
    # at that dir exactly as the sidecars written per dir were
    groups: dict[str, list[str]] = {}
    unified = set(plain)
    for e in entries:
        if e not in unified:
            anchor = e if "=" in e.rsplit("/", 1)[-1] else head(e)
            groups.setdefault(anchor, []).append(e)
    for anchor, group in sorted(groups.items()):
        read_schema, align = _disk_schema_and_rename(man, anchor)
        r = spark.read
        if read_schema is not None:
            r = r.schema(read_schema)
        root = _dir_root(path, man, anchor)
        if group != [head(anchor)]:
            r = r.option("basePath", f"{root}/{head(anchor)}")
        try:
            branch = r.parquet(*[f"{root}/{e}" for e in group])
        except AnalysisException as exc:
            # only a genuinely EMPTY dir of a legacy commit (no recorded
            # schema to scan under) is skippable; an unreadable or
            # mis-vacuumed carried dir must propagate (ADVICE r6)
            if "UNABLE_TO_INFER_SCHEMA" in str(exc):
                continue
            raise
        branch = tagged(branch, _rel_file(anchor))
        frames.append(branch if align is None else align(branch, keep=tags))
    if not frames:
        raise FileNotFoundError(
            f"version {man.get('version')} under {path} has no data files"
        )
    return _align_partition_types(
        reduce(lambda a, b: a.unionByName(b), frames), man
    )


# Manifest cache for LOCAL tables, keyed on the file's identity
# (realpath, inode, mtime_ns, size): a manifest file is immutable once
# published (the commit protocol only ever creates new numbers), and a
# rewritten/vacuumed file changes inode+mtime, so a stale hit is
# impossible — the stat IS the freshness token. One lifecycle query
# re-reads the same manifests dozens of times (44 reads ≈ 1.9 s in the
# q_replicate profile); the cache turns each repeat into a stat + a
# ~10 µs json.loads. Values are the RAW BYTES, parsed fresh per call,
# so every caller gets its own dict — a consumer mutating a returned
# manifest can never poison later reads (verdict r11 #1; pinned by
# tests/test_versioned_meta_fastpath.py).
_MANIFEST_CACHE: dict[tuple, bytes] = {}
_MANIFEST_CACHE_MAX = 4096


def read_manifest(
    spark: SparkSession, path: str, version: int | None = None
) -> dict:
    """The commit manifest of ``version`` (default: latest) — the
    metadata a committer recorded (pipeline parameters, row/token
    stats), parsed from the commit marker itself."""
    version = _resolve_version(spark, path, version)
    mpath = f"{_manifest_dir(path)}/{version}.json"
    lp = _local_meta_path(mpath, spark)
    if lp is not None:
        try:
            st = os.stat(lp)
        except OSError:
            st = None
        if st is not None:
            key = (os.path.realpath(lp), st.st_ino, st.st_mtime_ns, st.st_size)
            raw = _MANIFEST_CACHE.get(key)
            if raw is None:
                with open(lp, "rb") as fh:
                    raw = fh.read()
                if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
                    _MANIFEST_CACHE.clear()
                _MANIFEST_CACHE[key] = raw
            return json.loads(raw.decode("utf-8"))
    return json.loads(read_text(spark, mpath))


def _history_index_path(path: str) -> str:
    return f"{path}/_history/clock.json"


def write_history_index(spark: SparkSession, path: str) -> int:
    """Materialize every committed version's ``committed_at`` clock
    into ONE sidecar (``_history/clock.json``, atomic tmp+rename).
    Timestamp time travel then resolves from a single driver-side
    JSON read instead of O(versions) manifest reads — the difference
    between milliseconds and minutes on a 90-day per-minute commit
    history (time-based retention makes such histories routine).
    Entries are immutable facts (a version's clock never changes;
    expired versions are filtered against the live version list at
    READ time), so a stale index is merely incomplete, never wrong.
    Maintenance refreshes it; returns the entry count.

    Incremental: entries are immutable, so an existing index's clocks
    are REUSED and only versions it misses read their manifest — on a
    90-day history the steady-state refresh reads one new manifest,
    not thousands (verdict r11 time-travel ergonomics)."""
    prior: dict[str, float] = {}
    try:
        prior = json.loads(
            read_text(spark, _history_index_path(path))
        ).get("clocks", {})
    except (FileNotFoundError, ValueError):  # missing/corrupt: full rebuild
        prior = {}
    clocks = {
        str(v): (
            float(prior[str(v)])
            if str(v) in prior
            else float(
                read_manifest(spark, path, v).get("committed_at", 0.0)
            )
        )
        for v in versions(spark, path)
    }
    atomic_write_text(
        spark, _history_index_path(path), json.dumps({"clocks": clocks})
    )
    return len(clocks)


def version_as_of(spark: SparkSession, path: str, ts) -> int:
    """The newest version committed at or before ``ts`` (a unix epoch
    float or a datetime) — timestamp time travel's resolver, driven
    by the ``committed_at`` wall clock each manifest records. Clocks
    come from the maintenance-written history index when present
    (one driver-side JSON read); only versions the index does not
    cover (committed since the last maintenance) read their own
    manifest — so the scan is O(delta since maintenance), not
    O(versions). Commit ORDER is authoritative, so a later version
    with an earlier clock (writer skew) never shadows an earlier one
    — the scan takes the max version among those with committed_at ≤
    ts. Legacy manifests without a clock count as epoch 0 (always
    eligible). Raises FileNotFoundError when the table is empty or
    ``ts`` predates every commit."""
    from datetime import datetime as _dt

    if isinstance(ts, _dt):
        ts = ts.timestamp()
    committed = versions(spark, path)
    if not committed:
        raise FileNotFoundError(f"no committed versions under {path}")
    try:
        clocks = json.loads(
            read_text(spark, _history_index_path(path))
        ).get("clocks", {})
    except (FileNotFoundError, ValueError):  # no/corrupt index: plain scan
        clocks = {}

    def _clock(v: int) -> float:
        c = clocks.get(str(v))
        if c is not None:
            return float(c)
        return float(read_manifest(spark, path, v).get("committed_at", 0.0))

    eligible = [v for v in committed if _clock(v) <= ts]
    if not eligible:
        raise FileNotFoundError(
            f"no version of {path} committed at or before {ts}"
        )
    return max(eligible)


def read_as_of(spark: SparkSession, path: str, ts) -> DataFrame:
    """Timestamp time travel: the snapshot as of wall-clock ``ts`` —
    ``SELECT ... FOR TIMESTAMP AS OF`` for versioned tables. Sugar
    over ``version_as_of`` + ``read_version``."""
    return read_version(spark, path, version_as_of(spark, path, ts))


def commit_merge(
    updates: DataFrame,
    path: str,
    keys: list[str],
    ts_col: str,
    *,
    tiebreak: str | None = None,
    meta: dict | None = None,
) -> int:
    """MERGE-with-history: resolve ``updates`` against the latest
    snapshot (last-writer-wins per key, operators/upsert.py) and
    commit the result as a NEW version — previous versions stay
    queryable. First commit = the updates themselves."""
    spark = updates.sparkSession
    if versions(spark, path):
        base = read_version(spark, path)
        merged = merge_upsert(base, updates, keys, ts_col, tiebreak)
    else:
        merged = updates
    return commit_version(merged, path, meta=meta)


_HIVE_NULL_DIR = "__HIVE_DEFAULT_PARTITION__"


def _require_no_dv(man: dict, op: str) -> None:
    """Rewrite-style maintenance reads via ``read_version`` (PRE-delete
    rows) and would either resurrect deleted rows or re-point the DV
    at files whose row indexes changed — both silent corruption. Such
    ops refuse on DV tables; ``materialize_deletes`` first."""
    if man.get("_dv"):
        raise ValueError(
            f"{op} on a table with merge-on-read deletes would "
            "resurrect deleted rows — run "
            "deletion_vectors.materialize_deletes first"
        )


def _partition_dir_value(name: str) -> str | None:
    """Decode one Hive partition dir name (``col=escaped-value``) to
    its raw value string; None for the null-partition sentinel. Hive
    escaping is %XX on a fixed char set — urllib's unquote inverts it."""
    from urllib.parse import unquote

    raw = name.split("=", 1)[1]
    return None if raw == _HIVE_NULL_DIR else unquote(raw)


def _touched_values(df: DataFrame, partition_col: str) -> set[str | None]:
    """The distinct partition values of ``df`` as SPARK-cast strings.

    COW commits compare partition values in three places — the base
    filter (``cast('string')``), the Hive dir names the writer
    produced, and this touched set — and all three must agree on one
    string form. Spark's cast and its partition-dir encoder share a
    representation (booleans 'true'/'false', dates/timestamps ISO),
    while Python ``str()`` does not (``str(True)`` = 'True'), so the
    set is collected FROM the cast, never from driver-side str()."""
    from pyspark.sql import functions as F

    rows = (
        df.select(F.col(partition_col).cast("string").alias("_v"))
        .distinct()
        .collect()
    )
    return {r["_v"] for r in rows}


def _in_partitions(partition_col: str, touched: set[str | None]):
    """The filter keeping rows whose partition value, in the
    ``_touched_values`` string form, is in ``touched`` (None selects
    the NULL partition)."""
    col = F_sql.col(partition_col)
    cond = col.cast("string").isin([t for t in touched if t is not None])
    return cond | col.isNull() if None in touched else cond


def _require_matching_layout(
    man: dict, partition_col: str, op: str
) -> list[str]:
    """Partition-level COW carves on the FIRST hive level: the carve
    column must lead the base layout. Multi-level layouts
    (``partition_by=[a, b]``) carve on ``a`` — each carried
    ``v=<N>/a=x`` reference brings its whole ``b=*`` subtree, and the
    rewrite re-commits under the FULL recorded layout (returned here)
    so deeper levels survive the maintenance pass. Carving a
    NON-leading column refuses loudly: its values are spread across
    every first-level dir, so there is no subtree to carry."""
    pb = man.get("_partition_by") or []
    if pb and pb[0] != partition_col:
        raise ValueError(
            f"{op} carves by {partition_col!r} but the base layout is "
            f"partition_by={pb} — partition-level COW carves the "
            "FIRST-level column only"
        )
    return pb or [partition_col]


def commit_merge_cow(
    updates: DataFrame,
    path: str,
    keys: list[str],
    ts_col: str,
    partition_col: str,
    *,
    tiebreak: str | None = None,
    meta: dict | None = None,
) -> int:
    """Partition-level COPY-ON-WRITE merge: like ``commit_merge``, but
    the new version rewrites ONLY the partitions the update batch
    touches and carries every other partition of the previous snapshot
    by reference (nested ``v=<N>/part=x`` manifest entries) — the
    Delta/Iceberg copy-on-write MERGE at partition granularity. A
    daily CDC batch touching 1 of 1000 date partitions reads and
    writes that one partition plus one JSON manifest; cost scales with
    the batch, not the corpus, closing the same O(corpus)-rewrite gap
    for MERGE that ``carry_from`` closed for appends.

    Semantics match ``commit_merge`` exactly (last-writer-wins per key
    via operators/upsert.py; first commit = the updates themselves);
    every prior version stays time-travel readable. Requirements: the
    base snapshot must have been committed ``partition_by=[partition_col]``,
    update rows must carry ``partition_col``, and a key must never
    MOVE between partitions (its old-partition row would survive — the
    standard partition-pruned-merge contract). Upserts only, no
    deletes. Driver holds one string per touched / carried partition.
    """
    vs = versions(updates.sparkSession, path)
    if not vs:
        return commit_version(
            updates, path, partition_by=[partition_col], meta=meta
        )
    return _cow_commit(
        updates.sparkSession, path, vs[-1], lambda _: updates, partition_col,
        lambda base: merge_upsert(base, updates, keys, ts_col, tiebreak),
        op="commit_merge_cow", meta=meta,
    )


def commit_cdc_cow(
    changes: DataFrame,
    path: str,
    keys: list[str],
    ts_col: str,
    partition_col: str,
    *,
    op_col: str = "op",
    tiebreak: str | None = None,
    meta: dict | None = None,
) -> int:
    """Apply a FULL CDC batch — inserts, updates, AND deletes — as one
    partition-level copy-on-write commit. ``changes`` carries an
    ``op_col`` with 'I'/'U' (upsert, payload rows) or 'D' (delete by
    key; payload ignored). The union of partitions any change touches
    is rewritten once; everything else is carried by reference — the
    Debezium-batch-to-lake apply step at O(batch) cost.

    Within one batch, a key's upserts resolve last-writer-wins first
    (merge_upsert on ts_col), then a delete for that key wins
    REGARDLESS of timestamps — the Delta MERGE ``WHEN MATCHED DELETE``
    convention (a batch is applied as a set, not a log replay; feed
    finer-grained orderings as separate batches). Same contracts as
    ``commit_merge_cow``: base committed partition_by=[partition_col],
    keys never move partitions, delete rows must carry the partition
    value of the rows they delete.
    """
    is_del = F_sql.upper(F_sql.col(op_col)) == "D"
    upserts = changes.filter(~is_del).drop(op_col)
    deletes = changes.filter(is_del).select(*keys).distinct()

    def minus_deletes(rows: DataFrame) -> DataFrame:
        return rows.join(deletes, keys, "left_anti")

    vs = versions(changes.sparkSession, path)
    if not vs:
        # same within-batch resolution as the merge path: upserts
        # collapse last-writer-wins per key BEFORE deletes win —
        # the first commit honors the batch-as-a-set contract too
        first = minus_deletes(keep_latest(upserts, keys, ts_col, tiebreak))
        return commit_version(
            first, path, partition_by=[partition_col], meta=meta
        )
    return _cow_commit(
        changes.sparkSession, path, vs[-1], lambda _: changes, partition_col,
        lambda base: minus_deletes(
            merge_upsert(base, upserts, keys, ts_col, tiebreak)
        ),
        op="commit_cdc_cow", meta=meta,
    )


def _cow_commit(
    spark: SparkSession,
    path: str,
    latest: int,
    touching,
    partition_col: str,
    rewrite,
    *,
    op: str,
    meta: dict | None,
    skip_untouched: bool = False,
) -> int:
    """The partition carve every COW writer commits through: the
    partitions of ``latest`` that ``touching(base)`` has rows in (base
    = the snapshot's rows) are read, mapped to their new rows by
    ``rewrite`` and re-committed under the base's layout; every other
    partition is carried by reference (``_cow_carried_dirs``).
    ``skip_untouched`` returns ``latest`` unchanged, committing
    nothing, when no partition is touched."""
    base_man = read_manifest(spark, path, latest)
    _require_no_dv(base_man, op)
    layout = _require_matching_layout(base_man, partition_col, op)
    base = read_version(spark, path, latest)
    touched = _touched_values(touching(base), partition_col)
    if skip_untouched and not touched:
        return latest
    return commit_version(
        rewrite(base.filter(_in_partitions(partition_col, touched))),
        path,
        partition_by=layout,
        carry_dirs=_cow_carried_dirs(
            spark, path, base_man, partition_col, touched
        ),
        meta=meta,
        expected_base=latest,
    )


def _cow_carried_dirs(
    spark: SparkSession,
    path: str,
    base_man: dict,
    partition_col: str,
    touched: set[str | None],
) -> list[str]:
    """The manifest entries a COW commit carries forward: every
    partition of ``base_man``'s dirs whose value is NOT in ``touched``,
    expressed as nested ``v=<N>/col=x`` references. Raises when the
    base was not committed ``partition_by=[partition_col]``."""
    fs, jvm = _fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    prefix = f"{partition_col}="
    carried: list[str] = []
    for d in _manifest_dirs(base_man):
        if "/" in d:
            # already a single-partition reference from a prior COW
            # commit: carry unless this batch supersedes it
            root, part = d.split("/", 1)
            if not part.startswith(prefix):
                raise ValueError(
                    f"base entry {d!r} is not partitioned by "
                    f"{partition_col!r} — COW commits require a stable "
                    "partition layout"
                )
            if _partition_dir_value(part) not in touched:
                carried.append(d)
            continue
        # whole version dir: reference each untouched partition subdir
        # (resolved under its root — a shallow-clone reference lists
        # in the SOURCE table, the carried entries stay relative)
        statuses = list(
            fs.listStatus(Path(_dir_abs(path, base_man, d)))
        )
        subdirs = [
            st.getPath().getName() for st in statuses if st.isDirectory()
        ]
        part_subdirs = [s for s in subdirs if s.startswith(prefix)]
        # an unpartitioned base writes part-*.parquet files directly at
        # the version root — COW needs hive subdirs to carry by reference
        loose_data = any(
            not st.isDirectory()
            and not st.getPath().getName().startswith(("_", "."))
            for st in statuses
        )
        if (loose_data or subdirs) and not part_subdirs:
            raise ValueError(
                f"base dir {d!r} has no {prefix}* subdirs — the base "
                f"snapshot was not committed partition_by=[{partition_col!r}]"
            )
        carried.extend(
            f"{d}/{s}"
            for s in sorted(part_subdirs)  # listStatus order is not stable
            if _partition_dir_value(s) not in touched
        )
    return carried


def commit_delete_cow(
    spark: SparkSession,
    path: str,
    predicate,
    partition_col: str,
    *,
    meta: dict | None = None,
) -> int:
    """Partition-level copy-on-write DELETE: commit a new version with
    every row matching ``predicate`` removed, rewriting ONLY the
    partitions that contain matching rows — the Delta-style
    ``DELETE WHERE`` for right-to-erasure / retention sweeps. A GDPR
    delete of one user whose rows live in 3 of 1000 date partitions
    reads and rewrites those 3; everything else is carried by
    reference. Returns the new version, or the CURRENT version
    unchanged when nothing matches (an empty delete is a no-op, not
    an empty commit).

    ``predicate`` is a Column or SQL string. Prior versions still
    contain the deleted rows (time travel is the versioned contract);
    physical erasure = this delete + ``compact_snapshot`` +
    ``vacuum`` of the old versions.
    """
    latest = _resolve_version(spark, path, None)
    if isinstance(predicate, str):
        predicate = F_sql.expr(predicate)
    # SQL DELETE semantics: remove rows where predicate is TRUE; rows
    # where it evaluates NULL are kept (a bare ~predicate would drop
    # them — NULL negates to NULL, and filter discards NULL)
    return _cow_commit(
        spark, path, latest, lambda base: base.filter(predicate),
        partition_col,
        lambda base: base.filter(~F_sql.coalesce(predicate, F_sql.lit(False))),
        op="commit_delete_cow", meta=meta, skip_untouched=True,
    )


def snapshot_diff(
    spark: SparkSession,
    path: str,
    v_old: int,
    v_new: int,
    keys: list[str],
) -> "DataFrame":
    """Row-level change feed between two committed versions: which
    keys were added, removed, or changed — the audit/debug query a
    versioned table exists to answer ("what did yesterday's run do").
    ``keys`` must uniquely identify rows in BOTH versions; on
    non-unique keys the full-outer join pairs every old row with
    every new row per key (m×n). For change detection at a coarser
    grain, aggregate per group first (operators/matview.py's
    fingerprint compare is that shape).

    One full-outer join on the keys; non-key columns compare as a
    single struct with null-safe equality, so a value flipping to or
    from NULL counts as changed. Columns are aligned by name on the
    intersection of the two schemas (schema evolution: a column only
    one version has can't be compared, so it doesn't vote). Emits
    only changed rows — at 100 TB the join is one hash exchange per
    side and unchanged keys never leave the reducers.

    Returns (keys..., change_type ∈ {added, removed, changed}).
    """
    from pyspark.sql import functions as F

    old = read_version(spark, path, v_old)
    new = read_version(spark, path, v_new)
    shared = [c for c in new.columns if c in set(old.columns)]
    missing = [k for k in keys if k not in shared]
    if missing:
        raise ValueError(
            f"key columns absent from at least one version: {missing}"
        )
    val_cols = [c for c in shared if c not in keys]
    # all-key tables degrade to presence-only diff (added/removed)
    payload = (lambda: F.struct(*val_cols)) if val_cols else (lambda: F.lit(True))
    o = old.select(
        *[F.col(k).alias(f"_ko_{k}") for k in keys], payload().alias("_vo")
    ).withColumn("_po", F.lit(True))
    n = new.select(
        *[F.col(k).alias(f"_kn_{k}") for k in keys], payload().alias("_vn")
    ).withColumn("_pn", F.lit(True))
    # NULL-safe key equality: a plain equi-join never matches NULL
    # keys, which would report an unchanged NULL-key row as both
    # added and removed
    cond = None
    for k in keys:
        c = F.col(f"_ko_{k}").eqNullSafe(F.col(f"_kn_{k}"))
        cond = c if cond is None else (cond & c)
    j = o.join(n, cond, "full_outer")
    change = (
        F.when(F.col("_po").isNull(), F.lit("added"))
        .when(F.col("_pn").isNull(), F.lit("removed"))
        .when(~F.col("_vo").eqNullSafe(F.col("_vn")), F.lit("changed"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"_kn_{k}"), F.col(f"_ko_{k}")).alias(k)
                for k in keys
            ],
            "change_type",
        )
    )


def compact_snapshot(
    spark: SparkSession,
    path: str,
    *,
    partition_by: list[str] | None = None,
    meta: dict | None = None,
) -> int:
    """Rewrite the LATEST snapshot as one fresh, self-contained
    version — the maintenance counterpart of ``carry_from`` appends
    (Delta OPTIMIZE / Iceberg rewrite_data_files). After K daily
    appends a snapshot's manifest lists K+1 dirs and every read
    unions K+1 partitioned roots; compaction collapses the chain back
    to one dir (and one coherent file-size distribution), after which
    vacuum can reclaim every superseded dir once the old versions
    expire. Runs as ONE distributed read→write of the live snapshot —
    schedule it when the chain length, not the data, is the problem.
    By default the compacted version KEEPS the layout the latest
    manifest records (``_partition_by``) — compacting a COW table
    must not flatten its hive subdirs, or every later COW commit
    would fail to find partitions to carry. Pass ``partition_by``
    explicitly (``[]`` for unpartitioned) to change the layout.

    Returns the new version number; history stays queryable."""
    latest = versions(spark, path)
    if not latest:
        raise FileNotFoundError(f"no committed versions under {path}")
    man = read_manifest(spark, path, latest[-1])
    _require_no_dv(man, "compact_snapshot")
    if partition_by is None:
        partition_by = man.get("_partition_by") or None
    # a rewrite drops the layout keys: every byte lands under the
    # CURRENT column names in PLAIN parquet files (bucketed tables
    # compact with bucketing.rebucket — the SQL console routes
    # OPTIMIZE there)
    return commit_version(
        read_version(spark, path, latest[-1]),
        path,
        partition_by=partition_by or None,
        meta={
            **_carried_meta(man, keep_layout=False),
            **(meta or {}),
            "compacted_from": latest[-1],
        },
        expected_base=latest[-1],
    )


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    values: list | None = None,
    *,
    where: str | None = None,
    target_files: int = 1,
    cluster_by: list[str] | None = None,
    meta: dict | None = None,
) -> int:
    """Partition-scoped OPTIMIZE (Delta's ``OPTIMIZE t WHERE part=x``):
    rewrite ONLY the selected partitions' files — coalesced toward
    ``target_files`` per partition, optionally sorted on
    ``cluster_by`` — and carry every OTHER partition of the previous
    snapshot by reference (nested ``v=<N>/col=x`` manifest entries,
    the ``commit_merge_cow`` layout). Cost scales with the selected
    partitions, not the table: compacting yesterday's streaming
    partition on a 100 TB table reads and writes one partition plus
    one JSON manifest, while ``compact_snapshot`` would rewrite the
    world.

    Select partitions with explicit ``values`` (Spark-cast string
    forms; ``None`` selects the NULL partition) or a ``where`` SQL
    predicate over the partition column — evaluated driver-side
    against the table's DISTINCT partition values recovered from the
    manifest's dir names, so selection is metadata-plane (no data
    scan). Requires a DV-free base committed
    ``partition_by=[partition_col]`` (the ``maintain_table`` order:
    materialize deletes first). Returns the new version; prior
    versions stay time-travel readable, and extra manifest keys
    (constraints, expectations bookkeeping) carry like
    ``compact_snapshot``."""
    from pyspark.sql import functions as F

    if (values is None) == (where is None):
        raise ValueError("pass exactly one of values= or where=")
    vs = versions(spark, path)
    if not vs:
        raise FileNotFoundError(f"no committed versions under {path}")
    latest = vs[-1]
    man = read_manifest(spark, path, latest)
    _require_no_dv(man, "compact_partitions")
    layout = _require_matching_layout(man, partition_col, "compact_partitions")
    # every partition value the snapshot holds, from dir names —
    # _cow_carried_dirs with an empty touched set enumerates ALL
    # partitions as nested refs (and validates the layout)
    all_refs = _cow_carried_dirs(spark, path, man, partition_col, set())
    all_vals = {_partition_dir_value(d.split("/", 1)[1]) for d in all_refs}
    if values is not None:
        # normalize user-supplied values through the SAME Spark
        # cast-to-string round trip the dir decoder and _touched_values
        # use — Python str() disagrees with Spark's partition-dir
        # forms for some types (str(True)='True' vs dir 'true',
        # datetime reprs), which made valid selections fail the
        # unknown-partition check (ADVICE r10 #5)
        from pyspark.sql.types import StructType as _St

        dtype = _St.fromJson(man["_schema"])[partition_col].dataType
        vals = [v for v in values if v is not None]
        touched: set[str | None] = {None for v in values if v is None}
        if vals:
            # try_cast: malformed input yields NULL under ANSI too,
            # so the loud guard below fires instead of a cast error
            row = spark.range(1).select(
                *[
                    F.lit(v).try_cast(dtype).cast("string").alias(f"_c{i}")
                    for i, v in enumerate(vals)
                ]
            ).first()
            for i, v in enumerate(vals):
                s = row[f"_c{i}"]
                if s is None:
                    raise ValueError(
                        f"value {v!r} does not cast to the partition "
                        f"column's type {dtype.simpleString()} (would "
                        "silently select the NULL partition)"
                    )
                touched.add(s)
        unknown = touched - all_vals
        if unknown:
            raise ValueError(
                f"partition value(s) {sorted(unknown, key=repr)} not in "
                f"{partition_col}= dirs (have {sorted(all_vals, key=repr)})"
            )
    else:
        from pyspark.sql.types import StringType, StructField, StructType

        dtype = StructType.fromJson(man["_schema"])[partition_col].dataType
        from temp_data_pipeline_spark.session import local_df

        cand = local_df(
            spark,
            [(v,) for v in all_vals if v is not None],
            StructType([StructField(partition_col, StringType())]),
        ).select(F.col(partition_col).cast(dtype).alias(partition_col))
        touched = {
            r["_s"]
            for r in cand.filter(F.expr(where))
            .select(F.col(partition_col).cast("string").alias("_s"))
            .collect()
        }
        if not touched:
            return latest  # predicate selects nothing: no-op
    rows = read_version(spark, path, latest).filter(
        _in_partitions(partition_col, touched)
    )
    n_out = max(len(touched), 1) * max(int(target_files), 1)
    if cluster_by:
        rows = rows.repartitionByRange(
            n_out, partition_col, *cluster_by
        ).sortWithinPartitions(partition_col, *cluster_by)
    else:
        # hash on the partition column: each hive partition's rows
        # land in target_files tasks -> that many files per dir
        rows = rows.repartition(n_out, F.col(partition_col))
    carried = _cow_carried_dirs(spark, path, man, partition_col, touched)
    # untouched partitions ride verbatim, their clone roots and bucket
    # spec with them; rename tracking is recomputed for the new dir
    keep = _carried_meta(man, keep_layout=True)
    for k in _RENAME_KEYS:
        keep.pop(k, None)
    return commit_version(
        rows,
        path,
        partition_by=layout,
        carry_dirs=carried,
        meta={
            **keep,
            **(meta or {}),
            "compacted_from": latest,
            "_compacted_partitions": sorted(
                ("NULL" if t is None else t) for t in touched
            ),
        },
        expected_base=latest,
    )


def compact_incremental(
    spark: SparkSession,
    path: str,
    *,
    small_bytes: int = 128 * 1024 * 1024,
    min_dirs: int = 2,
    meta: dict | None = None,
) -> int:
    """INCREMENTAL small-dir compaction: rewrite only the manifest
    dirs smaller than ``small_bytes`` into one fresh dir and carry
    every large dir by reference — Delta OPTIMIZE's bin-packing at
    dir granularity, priced O(small dirs) instead of O(table).

    The shape it exists for: a streaming appender mints one tiny dir
    per micro-batch; after a day the chain is 1000 dirs of KBs riding
    on one big historical dir. ``compact_snapshot`` would rewrite the
    big dir too; this collapses just the tail. Sizes come from one
    driver-side ``getContentSummary`` per dir (metadata plane).

    NOT a full-table rewrite: the commit records ``compacted_dirs``
    (not ``compacted_from``), so incremental change-feed windows keep
    flowing — the file feed pair-emits only the compacted rows, and
    the KEYED feed (table_changes_keyed) suppresses them entirely as
    identical pairs. Returns the new version, or the CURRENT one when
    fewer than ``min_dirs`` dirs qualify (a no-op never mints a
    version). DV tables refuse (positions reference the files being
    rewritten) — ``materialize_deletes`` first."""
    fs, jvm = _fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    latest = _resolve_version(spark, path, None)
    man = read_manifest(spark, path, latest)
    _require_no_dv(man, "compact_incremental")
    dirs = _manifest_dirs(man)
    small = [
        d
        for d in dirs
        if fs.getContentSummary(Path(_dir_abs(path, man, d))).getLength()
        < small_bytes
    ]
    if len(small) < min_dirs:
        return latest
    big = [d for d in dirs if d not in set(small)]
    rows = _scan(spark, path, man, small)
    part = man.get("_partition_by") or None
    # the rewritten small-dir files are PLAIN: commit_version re-derives
    # the layout keys for the big dirs it still carries
    return commit_version(
        rows,
        path,
        partition_by=part,
        carry_dirs=big,
        meta={
            **_carried_meta(man, keep_layout=False),
            **(meta or {}),
            "compacted_dirs": small,
        },
        expected_base=latest,
    )


def _evolution_base(
    spark: SparkSession, path: str, op: str, *, require_no_dv: bool = True
):
    """Shared entry for the metadata-only schema-evolution commits:
    (latest version, its manifest, current schema, field ids —
    assigning 1..n in field order when tracking is not yet engaged,
    the moment a first rename/drop baselines the ids).
    ``require_no_dv=False`` is for add_column: appending a field never
    disturbs file row positions, so a deletion vector stays valid and
    rides the carry commit like any other manifest meta."""
    from pyspark.sql.types import StructType

    latest = _resolve_version(spark, path, None)
    man = read_manifest(spark, path, latest)
    if require_no_dv:
        _require_no_dv(man, op)
    if "_schema" not in man:
        raise ValueError(
            f"{op} needs the manifest-recorded schema (legacy version "
            f"{latest} predates recorded schemas — compact_snapshot "
            "first)"
        )
    schema = StructType.fromJson(man["_schema"])
    names = [f.name for f in schema.fields]
    ids = man.get("_field_ids") or {n: i + 1 for i, n in enumerate(names)}
    return latest, man, schema, ids


def _commit_evolution(
    spark: SparkSession,
    path: str,
    latest: int,
    man: dict,
    new_schema,
    new_ids: dict,
    marker: dict,
    meta: dict | None,
) -> int:
    """Publish a rename/drop as ONE metadata-only commit: an empty own
    dir plus every dir of ``latest`` carried by reference — zero data
    rewritten, the Iceberg metadata-only evolution. ``_dir_fields``
    pins each carried dir's ON-DISK names so old files keep resolving
    by stable field id under the new schema."""
    names = [f["name"] for f in man["_schema"]["fields"]]
    base_ids = man.get("_field_ids") or {n: i + 1 for i, n in enumerate(names)}
    last_id = int(man.get("_last_field_id", max(base_ids.values(), default=0)))
    dir_fields = _changed_dir_fields(
        man, _manifest_dirs(man), base_ids, new_ids
    )
    # every dir rides verbatim (a DV stays valid); the rename-tracking
    # keys are recomputed below
    carried_meta = _carried_meta(man, keep_layout=True)
    for k in _RENAME_KEYS:
        carried_meta.pop(k, None)
    empty = empty_df(spark, new_schema)
    return commit_version(
        empty,
        path,
        partition_by=man.get("_partition_by") or None,
        carry_dirs=_manifest_dirs(man),
        meta={
            **carried_meta,
            **(meta or {}),
            "_field_ids": new_ids,
            # the high-water id survives drops, so a re-added name can
            # never reuse a dropped column's id
            "_last_field_id": max(
                [last_id, *new_ids.values()] if new_ids else [last_id]
            ),
            **({"_dir_fields": dir_fields} if dir_fields else {}),
            **marker,
        },
        expected_base=latest,
    )


def rename_column(
    spark: SparkSession,
    path: str,
    old: str,
    new: str,
    *,
    meta: dict | None = None,
) -> int:
    """Metadata-only column RENAME (Iceberg ``ALTER TABLE ... RENAME
    COLUMN``): commit a new version whose schema carries ``new`` in
    place of ``old`` — no byte of data is rewritten. Old files keep
    resolving through the stable field id recorded per data dir
    (``_dir_fields``), so ``read_version`` on the new version surfaces
    pre-rename files under the new name, and time travel to older
    versions still reads the old name. Partition columns are physical
    dir names and cannot rename (rewrite via ``compact_snapshot``
    after a select); DV tables must ``materialize_deletes`` first.

    Ref parity: the reference pipeline renames via pandas
    ``DataFrame.rename`` rewrites (`src/tempdata` ETL steps); here the
    lakehouse tier makes it a catalog operation, per Iceberg's
    published name-mapping spec."""
    latest, man, schema, ids = _evolution_base(spark, path, "rename_column")
    from pyspark.sql.types import StructField, StructType

    names = [f.name for f in schema.fields]
    if old not in names:
        raise ValueError(f"no column {old!r} to rename (have {names})")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    if old in (man.get("_partition_by") or []):
        raise ValueError(
            f"partition column {old!r} is a physical dir layout — "
            "rewrite (compact_snapshot after a select) instead"
        )
    new_schema = StructType(
        [
            StructField(new if f.name == old else f.name, f.dataType, f.nullable)
            for f in schema.fields
        ]
    )
    new_ids = {(new if n == old else n): ids[n] for n in names}
    dflt = man.get("_column_defaults") or {}
    if old in dflt:
        # the default follows its column across the rename
        meta = {
            **(meta or {}),
            "_column_defaults": {
                **{k: v for k, v in dflt.items() if k != old},
                new: dflt[old],
            },
        }
    return _commit_evolution(
        spark, path, latest, man, new_schema, new_ids,
        {"renamed_column": {"from": old, "to": new}}, meta,
    )


def drop_column(
    spark: SparkSession,
    path: str,
    col: str,
    *,
    meta: dict | None = None,
) -> int:
    """Metadata-only column DROP: commit a new version whose schema
    omits ``col`` — old files keep their bytes (time travel still
    reads them), readers of the new version simply never select the
    column. A later add-column append may REUSE the name: it gets a
    fresh field id, so the re-added column reads NULL from files
    written before the re-add instead of resurrecting the dropped
    bytes (the Iceberg id-based guarantee). Partition columns cannot
    drop; the last column cannot drop."""
    latest, man, schema, ids = _evolution_base(spark, path, "drop_column")
    from pyspark.sql.types import StructType

    names = [f.name for f in schema.fields]
    if col not in names:
        raise ValueError(f"no column {col!r} to drop (have {names})")
    if col in (man.get("_partition_by") or []):
        raise ValueError(
            f"partition column {col!r} is a physical dir layout — "
            "rewrite (compact_snapshot after a select) instead"
        )
    part_cols = set(man.get("_partition_by") or [])
    remaining = [n for n in names if n != col]
    if not [n for n in remaining if n not in part_cols]:
        raise ValueError(
            "cannot drop the last data column (a snapshot needs at "
            "least one non-partition column)"
        )
    new_schema = StructType([f for f in schema.fields if f.name != col])
    new_ids = {n: ids[n] for n in names if n != col}
    dflt = man.get("_column_defaults") or {}
    if col in dflt:
        meta = {
            **(meta or {}),
            "_column_defaults": {
                k: v for k, v in dflt.items() if k != col
            },
        }
    return _commit_evolution(
        spark, path, latest, man, new_schema, new_ids,
        {"dropped_column": col}, meta,
    )


def snapshot_partitions(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """SHOW PARTITIONS: one row per live partition of the snapshot at
    ``version`` (default latest), typed per the manifest schema.

    Metadata-plane only — a directory walk of the manifest's data
    dirs (hive ``col=value`` segments decoded, nested carried entries
    contribute their own segment), never a data scan: at 100 TB the
    cost is one FS listing per referenced dir, not a distinct over
    rows. Multi-level layouts descend one level per partition column
    in ``_partition_by`` order. A partition whose rows are all
    MOR-deleted still lists (its files are still referenced) — the
    same contract as Hive/Spark SHOW PARTITIONS over file layouts."""
    version = _resolve_version(spark, path, version)
    man = read_manifest(spark, path, version)
    pb = man.get("_partition_by") or []
    if not pb:
        raise ValueError(f"table at {path} is not partitioned")
    fs, jvm = _fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    combos: set[tuple] = set()

    def _descend(abs_dir: str, acc: tuple):
        if len(acc) == len(pb):
            combos.add(acc)
            return
        want = pb[len(acc)] + "="
        for stt in fs.listStatus(Path(abs_dir)):
            if stt.isDirectory():
                nm = stt.getPath().getName()
                if nm.startswith(want):
                    _descend(
                        f"{abs_dir}/{nm}",
                        (*acc, _partition_dir_value(nm)),
                    )

    for d in _manifest_dirs(man):
        acc: tuple = ()
        for seg in d.split("/")[1:]:  # segments after the v=N root
            if "=" in seg and seg.startswith(pb[len(acc)] + "="):
                acc = (*acc, _partition_dir_value(seg))
        _descend(_dir_abs(path, man, d), acc)

    from pyspark.sql.types import StringType, StructField, StructType

    from temp_data_pipeline_spark.session import local_df

    raw = local_df(
        spark,
        sorted(combos, key=lambda t: [(v is None, v or "") for v in t]),
        StructType([StructField(c, StringType(), True) for c in pb]),
    )
    if "_schema" in man:
        want = {
            f.name: f.dataType
            for f in StructType.fromJson(man["_schema"]).fields
        }
        for c in pb:
            if c in want:
                raw = raw.withColumn(c, F_sql.col(c).cast(want[c]))
    return raw


def add_column(
    spark: SparkSession,
    path: str,
    col: str,
    dtype,
    *,
    default: str | None = None,
    meta: dict | None = None,
) -> int:
    """Metadata-only column ADD (Iceberg/Delta ``ALTER TABLE ... ADD
    COLUMN``): commit a new version whose schema appends ``col`` of
    ``dtype`` (a DataType or a DDL string like ``'decimal(12,2)'``) —
    no byte of data is rewritten. Files written before the add read
    the column as typed NULL: every reader scans carried dirs with an
    explicit schema (identity dirs get the manifest schema, renamed
    dirs go through _disk_schema_and_rename's added-column branch), so
    parquet surfaces the absent column as NULL — the published
    add-column semantics. The new column takes a FRESH field id past
    the table's high-water mark, so re-adding a previously dropped
    name can never resurrect the dropped column's bytes.

    Unlike rename/drop, a deletion vector is no obstacle: positions
    are untouched and the DV meta rides the carry commit unchanged."""
    from pyspark.sql.types import DataType, StructField, StructType

    if isinstance(dtype, str):
        try:
            dtype = DataType.fromDDL(dtype)
        except Exception as e:
            raise ValueError(f"cannot parse column type {dtype!r}: {e}")
    latest, man, schema, ids = _evolution_base(
        spark, path, "add_column", require_no_dv=False
    )
    names = [f.name for f in schema.fields]
    if col in names:
        raise ValueError(f"column {col!r} already exists (have {names})")
    new_schema = StructType(
        [*schema.fields, StructField(col, dtype, True)]
    )
    last_id = int(man.get("_last_field_id", max(ids.values(), default=0)))
    new_ids = {**{n: ids[n] for n in names}, col: last_id + 1}
    if default is not None:
        # Delta semantics: the default applies to rows written AFTER
        # this commit; existing rows still read NULL
        F_sql.expr(default)  # parse check
        spark.range(1).select(F_sql.expr(default).cast(dtype)).collect()
        meta = {
            **(meta or {}),
            "_column_defaults": {
                **(man.get("_column_defaults") or {}),
                col: default,
            },
        }
    return _commit_evolution(
        spark, path, latest, man, new_schema, new_ids,
        {"added_column": {"name": col, "type": dtype.simpleString()}},
        meta,
    )


def history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per committed version —
    (version, committed_at epoch seconds, n_data_dirs, carries
    references?, has deletion vector?, restored_from, compacted_from,
    extra commit-meta keys as JSON). Driver-side manifest walk
    (KB of JSON), returned as a DataFrame for joins/filters."""
    import json as _json

    rows = []
    # shape and layout plumbing, plus the keys with their own column
    reserved = {
        *_COMMIT_SHAPE_KEYS, *_LAYOUT_KEYS, "restored_from", "compacted_from",
    }
    # named refs surface per version (time-travel ergonomics: the
    # reader of DESCRIBE HISTORY sees which versions carry tags
    # without a second SHOW REFS round trip)
    by_version: dict[int, list[str]] = {}
    for rname, rver in list_refs(spark, path).items():
        by_version.setdefault(rver, []).append(rname)
    for v in versions(spark, path):
        man = read_manifest(spark, path, v)
        dirs = _manifest_dirs(man)
        extra = {k: man[k] for k in man if k not in reserved}
        rows.append(
            (
                v,
                float(man.get("committed_at", 0.0)),
                len(dirs),
                any(not d.startswith(f"v={v}") for d in dirs),
                bool(man.get("_dv")),
                man.get("restored_from"),
                man.get("compacted_from"),
                ",".join(sorted(by_version.get(v, []))),
                _json.dumps(extra, sort_keys=True, default=str),
            )
        )
    from temp_data_pipeline_spark.session import local_df

    return local_df(
        spark,
        rows,
        "version int, committed_at double, n_data_dirs int, "
        "carries_refs boolean, has_dv boolean, restored_from int, "
        "compacted_from int, tags string, meta_json string",
    )


def verify_table(spark: SparkSession, path: str) -> list[str]:
    """Read-only consistency check ("fsck for the lake"): walk every
    committed manifest and report anything a reader could trip over —
    unreadable manifests, data dirs a manifest references that no
    longer exist (the failure a mis-scoped external cleanup causes),
    stale sidecars describing expired versions, and unmanifested
    orphan data dirs (crashed writers awaiting vacuum). Returns a
    list of human-readable issue strings, empty when healthy; driver-
    side metadata walk only, no data is scanned — safe to run on a
    live 100 TB table."""
    fs, jvm = _fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    issues: list[str] = []
    committed = versions(spark, path)
    if not committed:
        return [f"no committed versions under {path}"]
    referenced: set[str] = set()
    for v in committed:
        try:
            man = read_manifest(spark, path, v)
        except Exception as exc:  # unreadable/corrupt JSON
            issues.append(f"version {v}: manifest unreadable ({exc})")
            continue
        if man.get("version") != v:
            issues.append(
                f"version {v}: manifest claims version {man.get('version')}"
            )
        for d in _manifest_dirs(man):
            referenced.add(d.split("/", 1)[0])
            if not fs.exists(Path(_dir_abs(path, man, d))):
                issues.append(f"version {v}: missing data dir {d}")
        dv = man.get("_dv")
        if dv and not fs.exists(Path(f"{path}/_dv/{dv}")):
            issues.append(f"version {v}: missing deletion vector _dv/{dv}")
        # quarantine linkage: a gated commit promises its violating
        # rows to a sibling table BEFORE that second commit runs; a
        # crash in the window leaves the promise unfulfilled —
        # flagged here so the forensic gap is visible from metadata
        qtable = man.get("_quarantine_table")
        if qtable and int(man.get("_quarantined") or 0) > 0:
            expect_n = int(man["_quarantined"])
            found = False
            for qv in versions(spark, qtable):
                try:
                    qman = read_manifest(spark, qtable, qv)
                except Exception:
                    continue
                # batch commits link by target version, streaming
                # commits by the micro-batch id (the sink's
                # exactly-once key) — accept either
                linked = qman.get("_quarantine_for_version") == v or (
                    man.get("_stream_batch_id") is not None
                    and qman.get("_stream_batch_id")
                    == man.get("_stream_batch_id")
                )
                if linked and qman.get("_quarantine_of") == path:
                    found = True
                    qn = qman.get("_quarantined")
                    if qn is not None and int(qn) != expect_n:
                        issues.append(
                            f"version {v}: quarantine batch row count "
                            f"{qn} != promised {expect_n} ({qtable})"
                        )
                    break
            if not found:
                issues.append(
                    f"version {v}: promised quarantine batch "
                    f"({expect_n} rows -> {qtable}) never committed — "
                    "crash between the gated commit and its "
                    "quarantine leg; re-run the gate to re-append"
                )
    # replay linkage: the newest replay append promises a quarantine
    # rewrite stamped _replayed_to_version >= its version; a missing
    # stamp is the replay crash window (re-running the replay first
    # completes the predecessor's rewrite — expectations.py)
    replays = []
    for v in committed:
        try:
            man = read_manifest(spark, path, v)
        except Exception:
            continue
        if man.get("_replayed_from"):
            replays.append((v, man["_replayed_from"]))
    if replays:
        rv, rq = replays[-1]
        done_to = 0
        for qv in reversed(versions(spark, rq)):
            try:
                t = read_manifest(spark, rq, qv).get(
                    "_replayed_to_version"
                )
            except Exception:
                continue
            if t is not None:
                done_to = int(t)
                break
        if done_to < rv:
            issues.append(
                f"version {rv}: quarantine replay never rewrote {rq} "
                "(crash between the append and the rewrite — the "
                "replayed rows are still quarantined; re-run "
                "replay_quarantine to complete it)"
            )
    # sidecars for versions that no longer resolve
    for side in ("_zonemaps", "_blooms"):
        sdir = Path(f"{path}/{side}")
        if not fs.exists(sdir):
            continue
        for st in fs.listStatus(sdir):
            name = st.getPath().getName()
            head = name.split(".", 1)[0]
            if head.isdigit() and int(head) not in committed:
                issues.append(
                    f"stale sidecar {side}/{name} (version {head} expired)"
                )
    # deletion-vector files no manifest names: crashed DV writers
    dv_dir = Path(f"{path}/_dv")
    if fs.exists(dv_dir):
        live_dvs = set()
        for v in committed:
            try:
                name = read_manifest(spark, path, v).get("_dv")
            except Exception:
                continue
            if name:
                live_dvs.add(name)
        for st in fs.listStatus(dv_dir):
            name = st.getPath().getName()
            if name.startswith("dv-") and name not in live_dvs:
                issues.append(
                    f"unreferenced deletion vector _dv/{name} "
                    "(vacuum reclaims)"
                )
    # unmanifested, unreferenced v= dirs: crashed writers
    root = Path(path)
    known = {f"v={v}" for v in committed} | referenced
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("v=") and name not in known:
            issues.append(f"orphan data dir {name} (no manifest; vacuum reclaims)")
    # named refs pointing at versions that no longer resolve (an
    # external cleanup deleted manifests a ref still pins)
    for rname, rv in list_refs(spark, path).items():
        if rv not in committed:
            issues.append(
                f"dangling ref {rname!r} -> version {rv} (not committed)"
            )
    return issues


def rollback(
    spark: SparkSession,
    path: str,
    to_version: int,
    *,
    meta: dict | None = None,
) -> int:
    """Delta-style RESTORE: commit a NEW version whose content is
    exactly ``to_version``'s — history moves forward (the bad
    versions stay queryable for the post-mortem), readers of
    "latest" see the restored state immediately.

    METADATA-ONLY: the new manifest lists ``to_version``'s data dirs
    by reference (``carry_dirs``) plus an empty own dir — no data is
    read or copied, the rollback of a 100 TB table costs one empty
    write and one JSON rename. The restored version inherits the
    target's schema and partition layout, so COW maintenance keeps
    working; reference-aware ``vacuum`` keeps the carried bytes alive
    as long as the restored version lives."""
    from pyspark.sql.types import StructType

    man = read_manifest(spark, path, to_version)  # raises if unknown
    if "_schema" not in man:
        raise ValueError(
            f"version {to_version} predates recorded schemas — "
            "rollback needs the manifest schema to type its commit"
        )
    # empty_df, not createDataFrame([]): the analyzed plan PROVES zero
    # rows, so the rollback commit skips its snapshot-write job
    # entirely (metadata-only empty commit) and the manifest records
    # the declared schema
    empty = empty_df(spark, StructType.fromJson(man["_schema"]))
    part = man.get("_partition_by") or None
    # the target's dirs ride verbatim, so its layout keys ride too: a
    # restored DV version must keep naming its deletion-vector sidecar
    return commit_version(
        empty,
        path,
        partition_by=part,
        carry_dirs=_manifest_dirs(man),
        meta={
            **_carried_meta(man, keep_layout=True),
            **(meta or {}),
            "restored_from": to_version,
        },
    )


def shallow_clone(
    spark: SparkSession,
    src: str,
    dst: str,
    version: int | None = None,
    *,
    meta: dict | None = None,
) -> int:
    """Delta-style SHALLOW CLONE: materialize a NEW table at ``dst``
    whose version 1 references ``src``'s data dirs at ``version``
    (default latest) — ZERO data copied, a 100 TB clone costs one
    empty write, one small sidecar copy, and one JSON rename.

    The clone's manifest records each referenced dir's absolute
    source root (``_dir_roots``); every reader and maintenance
    listing resolves through ``_dir_root``, and sidecar keys stay
    valid because they use the root-agnostic relative form. The clone
    then lives its own life: appends/MOR DML/COW rewrites commit
    locally, carry commits propagate the source roots for dirs still
    referenced, and OPTIMIZE (compact_snapshot) localizes everything.
    A deletion-vector sidecar is copied (delta-sized metadata, not
    data) so a MOR source version clones with its deletes intact.

    CAVEATS (Delta's own, published): vacuuming the SOURCE can remove
    files a clone still references — the source's keep-last/ref
    pinning is per-table and does not see clones. Streaming reads of
    an un-localized clone refuse loudly.

    Oracle-parity note: semantics follow Delta Lake's SHALLOW CLONE
    as published; no reference-repo counterpart."""
    from pyspark.sql.types import StructType

    fs, jvm = _fs(spark, src)
    Path = jvm.org.apache.hadoop.fs.Path
    src_q = str(fs.makeQualified(Path(src)))
    dst_q = str(fs.makeQualified(Path(dst)))
    if src_q == dst_q:
        raise ValueError("CLONE source and target are the same path")
    if versions(spark, dst):
        raise ValueError(f"CLONE target {dst} already has versions")
    v = _resolve_version(spark, src, version)
    man = read_manifest(spark, src, v)
    if "_schema" not in man:
        raise ValueError(
            f"version {v} predates recorded schemas — clone needs the "
            "manifest schema to type its commit"
        )
    dirs = _manifest_dirs(man)
    src_roots = man.get("_dir_roots") or {}
    roots = {
        # clone-of-clone flattens to the ORIGINAL byte owner
        d: (src_roots.get(d) or src_roots.get(d.split("/", 1)[0]) or src_q)
        for d in dirs
    }
    if man.get("_dv"):
        # the DV sidecar is delta-sized metadata keyed by relative
        # file paths (root-agnostic) — copy it so the clone's own
        # DV lifecycle (reads, later MOR commits, vacuum) stays local
        FileUtil = jvm.org.apache.hadoop.fs.FileUtil
        conf = spark._jsc.hadoopConfiguration()
        dv = man["_dv"]
        fs.mkdirs(Path(f"{dst}/_dv"))
        if not FileUtil.copy(
            fs, Path(f"{src}/_dv/{dv}"), fs, Path(f"{dst}/_dv/{dv}"),
            False, False, conf,
        ):
            raise IOError(f"failed to copy deletion vector {dv}")
    empty = empty_df(spark, StructType.fromJson(man["_schema"]))
    return commit_version(
        empty,
        dst,
        partition_by=man.get("_partition_by") or None,
        carry_dirs=dirs,
        meta={
            **_carried_meta(man, keep_layout=True),
            **(meta or {}),
            "_dir_roots": roots,
            "cloned_from": {"path": src_q, "version": v},
        },
        expected_base=0,
    )


def _refs_dir(path: str) -> str:
    return f"{path}/_refs"


def _check_ref_name(name: str) -> None:
    import re as _re

    if not _re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name or ""):
        raise ValueError(
            f"invalid ref name {name!r} (letters, digits, '.', '_', '-'; "
            "must start alphanumeric)"
        )


def _latest_meta(spark: SparkSession, path: str, key: str) -> dict:
    """Sticky key ``key`` of the table's latest manifest (``{}`` when
    unset or when the table has no versions)."""
    vs = versions(spark, path)
    if not vs:
        return {}
    return dict(read_manifest(spark, path, vs[-1]).get(key) or {})


def _commit_sticky(
    spark: SparkSession, path: str, meta: dict, latest: int | None = None
) -> int:
    """One metadata-only commit of sticky table metadata: an empty own
    dir, every dir of ``latest`` (default: the latest version) carried
    by reference, and ``meta`` overriding the inherited keys. Pinned
    to ``latest`` so a racing writer surfaces as a conflict."""
    from pyspark.sql.types import StructType

    if latest is None:
        vs = versions(spark, path)
        if not vs:
            raise FileNotFoundError(f"no committed versions under {path}")
        latest = vs[-1]
    man = read_manifest(spark, path, latest)
    if "_schema" not in man:
        raise ValueError(
            "table metadata commits need the manifest-recorded schema "
            "(compact_snapshot first)"
        )
    return commit_version(
        empty_df(spark, StructType.fromJson(man["_schema"])),
        path,
        carry_from=latest,
        expected_base=latest,
        meta=meta,
    )


def table_constraints(spark: SparkSession, path: str) -> dict[str, str]:
    """The PERSISTED named CHECK constraints of the table's latest
    version (``{} `` when none)."""
    return _latest_meta(spark, path, "_table_constraints")


def add_table_constraint(
    spark: SparkSession, path: str, name: str, sql: str
) -> int:
    """Persist a named CHECK constraint on the table (Delta's ALTER
    TABLE ADD CONSTRAINT): existing VISIBLE rows are validated first
    (one scan — rows where the predicate is FALSE reject the add;
    NULL passes, per SQL), then one metadata-level carry commit
    records the constraint. From that version on EVERY writer —
    append, MOR merge, COW, maintenance rewrite — enforces it on the
    rows it writes and carries it forward, so a manifested version
    can never violate its constraints. Returns the committed
    version."""
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        read_table,
    )

    vs = versions(spark, path)
    if not vs:
        raise FileNotFoundError(f"no committed versions under {path}")
    current = table_constraints(spark, path)
    if name in current:
        raise ValueError(f"constraint {name!r} already exists on {path}")
    n_bad = (
        read_table(spark, path)
        .filter(F_sql.expr(sql).eqNullSafe(F_sql.lit(False)))
        .count()
    )
    if n_bad:
        raise ValueError(
            f"cannot add constraint {name!r}: {n_bad} existing row(s) "
            "violate it"
        )
    # pinned to the validated version: a commit landing during the
    # scan wrote rows nobody checked, so this commit must conflict
    return _commit_sticky(
        spark, path, {"_table_constraints": {**current, name: sql}}, vs[-1]
    )


def column_defaults(spark: SparkSession, path: str) -> dict[str, str]:
    """The table's persisted column DEFAULT expressions (latest
    manifest): ``col -> SQL expr`` applied by writers (INSERT without
    the column, MERGE INSERT VALUES with the column unlisted, COPY
    INTO files lacking it). Existing rows are untouched — the Delta
    contract: a default applies to rows written AFTER it is set."""
    return _latest_meta(spark, path, "_column_defaults")


def generated_columns(spark: SparkSession, path: str) -> dict[str, str]:
    """The table's GENERATED-ALWAYS-AS expressions (latest manifest):
    ``col -> SQL expr``.  Declared at table creation (the Delta
    restriction — a generation expression can't be bolted onto
    existing rows), persisted in the manifest and inherited by every
    commit.  Surface writers (SQL INSERT, MERGE INSERT, COPY INTO)
    COMPUTE an omitted generated column from the row's base columns;
    every commit VALIDATES provided values against the expression via
    the constraint scan (`__generated_<col>` auto-checks in
    commit_version).  Expressions may reference only non-generated
    columns of the same row."""
    return _latest_meta(spark, path, "_generated_columns")


def identity_columns(spark: SparkSession, path: str) -> dict[str, dict]:
    """The table's GENERATED ALWAYS AS IDENTITY specs (latest
    manifest): ``col -> {"start", "step", "high"}`` where ``high`` is
    the last allocated value (None before any allocation).  Writers
    that allocate (SQL INSERT, COPY INTO, MERGE insert branches)
    assign ``high + step + monotonically_increasing_id() * step`` —
    values are UNIQUE and MONOTONICALLY INCREASING across commits but
    carry GAPS (the Delta identity contract: mono-ids are sparse per
    partition, and the watermark advances to the max assigned via an
    ``observe`` on the commit's own write pass, never a second job).
    Explicit values are refused — ALWAYS, not BY DEFAULT."""
    return _latest_meta(spark, path, "_identity_columns")


def assign_identity(df: DataFrame, spec: dict):
    """Assign fresh identity values for every column in ``spec``
    (``identity_columns`` shape) over ``df``; returns ``(frame,
    meta_late)`` where the frame carries the assigned values plus an
    ``observe`` of their max (min for negative step), and
    ``meta_late`` — passed to ``commit_version`` — resolves the
    advanced watermark AFTER the commit's own write pass ran (no
    second job over the data).  Values are ``high + step +
    monotonically_increasing_id() * step``: unique and monotonic
    across commits, gaps allowed (mono-ids are sparse per partition —
    the Delta identity trade; contiguity would cost a global
    shuffle).  Callers own conflict safety: allocate INSIDE a
    commit closure that pins ``expected_base`` so a racing allocator
    conflicts instead of double-assigning."""
    from pyspark.sql import Observation

    obs = Observation()
    out = df
    aggs = []
    for c, s in spec.items():
        step = int(s.get("step", 1))
        high = s.get("high")
        nxt = (int(high) + step) if high is not None else int(s.get("start", 1))
        out = out.withColumn(
            c,
            (
                F_sql.lit(nxt)
                + F_sql.monotonically_increasing_id() * F_sql.lit(step)
            ).cast("long"),
        )
        aggs.append(
            (F_sql.max if step > 0 else F_sql.min)(F_sql.col(c)).alias(c)
        )
    out = out.observe(obs, *aggs)

    def meta_late() -> dict:
        got = obs.get
        return {
            "_identity_columns": {
                c: {
                    **s,
                    "high": (
                        int(got[c])
                        if got.get(c) is not None
                        else s.get("high")
                    ),
                }
                for c, s in spec.items()
            }
        }

    return out, meta_late


def set_column_default(
    spark: SparkSession, path: str, col: str, expr: str | None
) -> int:
    """ALTER TABLE ... ALTER COLUMN col SET DEFAULT <expr> (or DROP
    DEFAULT with ``expr=None``): one metadata-level carry commit; the
    default is validated by evaluating it under the column's type
    before recording."""
    vs = versions(spark, path)
    if not vs:
        raise FileNotFoundError(f"no committed versions under {path}")
    man = read_manifest(spark, path, vs[-1])
    names = [f["name"] for f in (man.get("_schema") or {}).get("fields", [])]
    if col not in names:
        raise ValueError(f"no column {col!r} (have {names})")
    cur = dict(man.get("_column_defaults") or {})
    if expr is None:
        if col not in cur:
            raise ValueError(f"column {col!r} has no default to drop")
        del cur[col]
        marker = {"dropped_default": col}
    else:
        from pyspark.sql import functions as F_

        # evaluating the expression catches typos at DDL time, not at
        # the first INSERT that relies on it
        spark.range(1).select(F_.expr(expr)).collect()
        cur[col] = expr
        marker = {"set_default": {col: expr}}
    return _commit_sticky(spark, path, {"_column_defaults": cur, **marker})


def table_properties(spark: SparkSession, path: str) -> dict[str, str]:
    """The table's persisted key->value properties (latest manifest;
    empty when none were ever set)."""
    return _latest_meta(spark, path, "_tblproperties")


def set_table_properties(
    spark: SparkSession, path: str, props: dict[str, str]
) -> int:
    """ALTER TABLE ... SET TBLPROPERTIES: one metadata-level carry
    commit records the merged map; every later commit inherits it
    (the constraint-propagation pattern), and time travel sees each
    version's own properties. Returns the committed version."""
    if not props:
        raise ValueError("SET TBLPROPERTIES needs at least one pair")
    merged = {**table_properties(spark, path), **{
        str(k): str(v) for k, v in props.items()
    }}
    return _commit_sticky(
        spark, path,
        {"_tblproperties": merged, "set_properties": sorted(props)},
    )


def unset_table_properties(
    spark: SparkSession, path: str, keys: list[str]
) -> int:
    """ALTER TABLE ... UNSET TBLPROPERTIES (missing keys are a loud
    error, matching the non-IF-EXISTS SQL form)."""
    cur = table_properties(spark, path)
    missing = [k for k in keys if k not in cur]
    if missing:
        raise ValueError(f"no such table propert{'y' if len(missing)==1 else 'ies'}: {missing}")
    remaining = {k: v for k, v in cur.items() if k not in set(keys)}
    return _commit_sticky(
        spark, path,
        {"_tblproperties": remaining, "unset_properties": sorted(keys)},
    )


def drop_table_constraint(spark: SparkSession, path: str, name: str) -> int:
    """Remove a persisted constraint (one metadata-level carry
    commit); earlier versions keep theirs for time travel. Returns
    the committed version."""
    current = table_constraints(spark, path)
    if name not in current:
        raise ValueError(f"no constraint {name!r} on {path}")
    rest = {k: v for k, v in current.items() if k != name}
    return _commit_sticky(spark, path, {"_table_constraints": rest})


def tag_version(
    spark: SparkSession,
    path: str,
    name: str,
    version: int | None = None,
) -> int:
    """Create or retarget a NAMED REF pointing at a committed version
    (Iceberg tags / git-style refs for the table): one atomic JSON
    write under ``_refs/<name>.json`` — so 'the snapshot the Q3 model
    trained on' is addressable as ``resolve_ref(path, 'q3-train')``
    instead of a version number in a notebook. Refs PIN history:
    ``vacuum`` never expires a tagged version (delete the ref first),
    and ``verify_table`` flags a ref whose target stopped resolving.
    Returns the tagged version number."""
    _check_ref_name(name)
    version = _resolve_version(spark, path, version)
    import time as _time

    atomic_write_text(
        spark,
        f"{_refs_dir(path)}/{name}.json",
        json.dumps(
            {"name": name, "version": version, "created_at": _time.time()}
        ),
    )
    return version


def list_refs(spark: SparkSession, path: str) -> dict[str, int]:
    """All named refs of the table as {name: version}. Driver-side
    listing of ``_refs/`` (KB of JSON)."""
    fs, jvm = _fs(spark, path)
    rd = jvm.org.apache.hadoop.fs.Path(_refs_dir(path))
    if not fs.exists(rd):
        return {}
    out: dict[str, int] = {}
    for st in fs.listStatus(rd):
        fname = st.getPath().getName()
        if not fname.endswith(".json") or fname.startswith("."):
            continue
        doc = json.loads(read_text(spark, f"{_refs_dir(path)}/{fname}"))
        out[fname[: -len(".json")]] = int(doc["version"])
    return out


def resolve_ref(spark: SparkSession, path: str, name: str) -> int:
    """The version a named ref points at; raises FileNotFoundError for
    an unknown ref."""
    _check_ref_name(name)
    fs, jvm = _fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(f"{_refs_dir(path)}/{name}.json")
    if not fs.exists(p):
        raise FileNotFoundError(f"no ref {name!r} under {path}")
    return int(
        json.loads(read_text(spark, f"{_refs_dir(path)}/{name}.json"))[
            "version"
        ]
    )


def read_ref(spark: SparkSession, path: str, name: str) -> DataFrame:
    """The snapshot at a named ref — ``SELECT ... VERSION AS OF
    'tag'``. DV-AWARE: a tagged merge-on-read version reads through
    the deletion-vector subtraction (deletion_vectors.read_table), so
    tagging a MOR version never resurrects its deleted rows."""
    version = resolve_ref(spark, path, name)
    if read_manifest(spark, path, version).get("_dv"):
        from temp_data_pipeline_spark.operators.deletion_vectors import (
            read_table,
        )

        return read_table(spark, path, version)
    return read_version(spark, path, version)


def delete_ref(spark: SparkSession, path: str, name: str) -> bool:
    """Remove a named ref (its target becomes vacuum-expirable again).
    Returns whether the ref existed."""
    _check_ref_name(name)
    fs, jvm = _fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(f"{_refs_dir(path)}/{name}.json")
    if not fs.exists(p):
        return False
    fs.delete(p, False)
    return True


def vacuum(
    spark: SparkSession,
    path: str,
    keep_last: int = 2,
    orphan_grace: float = 86400.0,
    older_than: float | None = None,
    dry_run: bool = False,
) -> list[int]:
    """Expire history: keep the newest ``keep_last`` versions, delete
    older snapshots AND orphan data dirs (crashed writers). Manifest
    removal first, then data — a reader holding an expired version
    number fails loudly at manifest resolution instead of scanning a
    half-deleted directory. Returns the dropped version numbers.

    ``older_than`` (seconds) adds TIME-BASED retention on top of the
    count floor — the production contract ("keep a week of history"):
    a version beyond ``keep_last`` is only expired once its
    ``committed_at`` clock is older than the horizon, so a burst of
    commits never erases recent history just by outnumbering
    ``keep_last``. Decided from the candidates' manifests
    (driver-side KB of JSON); legacy manifests without a clock count
    as epoch 0 (always expirable).

    An unmanifested ``v=N`` dir is only an *orphan* once it is older
    than ``orphan_grace`` seconds (modification time): a concurrent
    writer sits in exactly that state between its parquet write and
    its manifest rename, and deleting the in-flight dir would let the
    rename still succeed and commit a version pointing at deleted
    data (ADVICE r4). Pass ``orphan_grace=0`` only when no writer can
    be running. Expired *committed* versions carry no such race —
    their manifests exist and are removed first.

    Metadata-level appends make data dirs SHARED: a kept version's
    manifest may reference an expired version's ``v=M`` dir
    (``carry_from`` commits). Referenced dirs are never deleted — not
    in the expiry pass (the manifest goes, the bytes stay) and not in
    the orphan pass (a reference outlives its own manifest) — so time
    travel on every KEPT version keeps working after vacuum; only the
    expired version numbers stop resolving."""
    import time

    fs, jvm = _fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    committed = versions(spark, path)
    drop = committed[:-keep_last] if keep_last > 0 else committed
    if older_than is not None:
        cutoff = time.time() - older_than
        drop = [
            v
            for v in drop
            if float(
                read_manifest(spark, path, v).get("committed_at", 0.0)
            )
            < cutoff
        ]
    # named refs PIN their targets: a tagged version never expires
    # (delete the ref first) — the Iceberg tag-retention behavior
    pinned = set(list_refs(spark, path).values())
    drop = [v for v in drop if v not in pinned]
    keep = set(committed) - set(drop)
    dropped = set(drop)
    # version numbers whose v=<N> dir a KEPT manifest still references
    # — a nested COW-merge entry (v=<N>/date=x) pins the WHOLE v=<N>
    # dir: deletion is dir-granular, so one referenced partition
    # keeps its version dir alive (conservative; compact_snapshot +
    # a later vacuum reclaim it fully)
    referenced: set[int] = set()
    for v in keep:
        for name in _manifest_dirs(read_manifest(spark, path, v)):
            head = name.split("/", 1)[0]
            if head.startswith("v="):
                try:
                    referenced.add(int(head[2:]))
                except ValueError:
                    pass
    if dry_run:
        # VACUUM ... DRY RUN: report what WOULD expire, touch nothing
        return drop
    now_ms = time.time() * 1000.0
    for v in drop:
        fs.delete(Path(f"{_manifest_dir(path)}/{v}.json"), False)
        if v not in referenced:
            fs.delete(Path(_data_dir(path, v)), True)
        # derived sidecars (zone maps / bloom indexes) describe ONE
        # version; once it stops resolving they are dead weight
        for side in ("_zonemaps", "_blooms"):
            sdir = Path(f"{path}/{side}")
            if not fs.exists(sdir):
                continue
            for st in fs.listStatus(sdir):
                # names are <version>.parquet / <version>.<col>.parquet
                if st.getPath().getName().startswith(f"{v}."):
                    fs.delete(st.getPath(), True)
    # deletion-vector sidecars are SHARED (rollback re-references them):
    # reap only dv files no kept manifest names
    dv_dir = Path(f"{path}/_dv")
    if fs.exists(dv_dir):
        live_dvs = set()
        for v in keep:
            name = read_manifest(spark, path, v).get("_dv")
            if name:
                live_dvs.add(name)
        for st in fs.listStatus(dv_dir):
            name = st.getPath().getName()
            if name.startswith("dv-") and name not in live_dvs:
                if now_ms - st.getModificationTime() >= orphan_grace * 1000.0:
                    fs.delete(st.getPath(), True)
    root = Path(path)
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith(".tmp-"):
                # crashed writer's staging dir (written but never
                # renamed into a v= slot): same grace as orphans
                if now_ms - st.getModificationTime() >= orphan_grace * 1000.0:
                    fs.delete(st.getPath(), True)
                continue
            if name.startswith("v="):
                try:
                    v = int(name[2:])
                except ValueError:
                    continue
                if v in keep or v in dropped or v in referenced:
                    continue
                # never-manifested dir: possibly an in-flight writer
                if now_ms - st.getModificationTime() >= orphan_grace * 1000.0:
                    fs.delete(st.getPath(), True)
    return drop
