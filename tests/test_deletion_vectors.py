"""Merge-on-read deletes (operators/deletion_vectors.py).

The contract: `read_table` after `commit_delete_mor` equals the plain
filter — while NO data dir is rewritten (the commit is positions +
manifest only); `materialize_deletes` compacts back to a DV-free
table with identical rows.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from temp_data_pipeline_spark.operators.deletion_vectors import (
    commit_delete_mor,
    has_deletes,
    materialize_deletes,
    read_dv,
    read_table,
)
from temp_data_pipeline_spark.operators.versioned import (
    commit_version,
    read_version,
    versions,
)


def _mtimes(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        if "/_dv" in dirpath or "/_manifest" in dirpath:
            continue
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.path.getmtime(p)
    return out


@pytest.fixture()
def table(spark, tmp_path):
    path = os.path.join(str(tmp_path), "mor")
    df = spark.createDataFrame(
        [(i, f"u{i % 7}", i * 1.0) for i in range(1000)],
        "k long, user string, val double",
    )
    commit_version(df.repartition(8), path)
    return path


def test_delete_is_logical_and_transparent(spark, table):
    before = _mtimes(table)
    v = commit_delete_mor(spark, table, F.col("user") == "u3")
    assert v == 2 and has_deletes(spark, table, v)
    # zero data files rewritten: every pre-existing byte untouched
    after = _mtimes(table)
    assert all(after[p] == t for p, t in before.items())
    got = {r["k"] for r in read_table(spark, table).collect()}
    want = {
        r["k"]
        for r in read_version(spark, table, 1)
        .filter(F.col("user") != "u3")
        .collect()
    }
    assert got == want and len(got) < 1000
    # time travel: v1 still shows everything
    assert read_version(spark, table, 1).count() == 1000
    # lower-level readers see PRE-delete rows by contract
    assert read_version(spark, table, v).count() == 1000


def test_deletes_accumulate_and_dedupe(spark, table):
    v2 = commit_delete_mor(spark, table, "user = 'u1'")
    v3 = commit_delete_mor(spark, table, "user = 'u2'")
    assert v3 == v2 + 1
    got = {r["user"] for r in read_table(spark, table).collect()}
    assert got == {"u0", "u3", "u4", "u5", "u6"}
    # re-deleting already-deleted rows is a no-op (no new version)
    assert commit_delete_mor(spark, table, "user = 'u1'") == v3
    assert versions(spark, table)[-1] == v3
    # DV holds each position once
    dv = read_dv(spark, table, v3)
    assert dv.count() == dv.distinct().count()


def test_null_predicate_rows_are_kept(spark, tmp_path):
    path = os.path.join(str(tmp_path), "mornull")
    commit_version(
        spark.createDataFrame(
            [(1, 10.0), (2, None), (3, 99.0)], "k long, t double"
        ),
        path,
    )
    commit_delete_mor(spark, path, F.col("t") > 50)
    assert {r["k"] for r in read_table(spark, path).collect()} == {1, 2}


def test_materialize_compacts_to_dv_free(spark, table):
    commit_delete_mor(spark, table, "user = 'u5'")
    v = materialize_deletes(spark, table)
    assert not has_deletes(spark, table, v)
    got = {r["k"] for r in read_version(spark, table, v).collect()}
    want = {r["k"] for r in read_table(spark, table, v - 1).collect()}
    assert got == want
    # the compacted table reads identically through both entry points
    assert {r["k"] for r in read_table(spark, table, v).collect()} == want


def test_dv_on_carried_append_chain(spark, tmp_path):
    path = os.path.join(str(tmp_path), "morchain")
    commit_version(
        spark.createDataFrame([(i, "old") for i in range(50)], "k long, tag string"),
        path,
    )
    commit_version(
        spark.createDataFrame([(i, "new") for i in range(50, 100)], "k long, tag string"),
        path,
        carry_from=1,
    )
    commit_delete_mor(spark, path, "k % 10 = 0")  # hits BOTH dirs
    got = {r["k"] for r in read_table(spark, path).collect()}
    assert got == {k for k in range(100) if k % 10 != 0}


def test_rollback_preserves_deletes(spark, table):
    """A restored DV version must keep subtracting its sidecar — the
    manifest names the immutable dv file, rollback carries the meta."""
    from temp_data_pipeline_spark.operators.versioned import rollback

    v_dv = commit_delete_mor(spark, table, "user = 'u4'")
    commit_version(
        spark.createDataFrame([(7777, "extra", 0.0)], "k long, user string, val double"),
        table,
        carry_from=v_dv,
    )
    v_restored = rollback(spark, table, v_dv)
    assert has_deletes(spark, table, v_restored)
    got = {r["user"] for r in read_table(spark, table, v_restored).collect()}
    assert "u4" not in got and "extra" not in got


def test_vacuum_keeps_referenced_dv_reaps_orphans(spark, table, tmp_path):
    import pathlib

    from temp_data_pipeline_spark.operators.versioned import vacuum, verify_table

    commit_delete_mor(spark, table, "user = 'u6'")
    # orphan dv: crashed writer's sidecar no manifest names
    orphan = pathlib.Path(table) / "_dv" / "dv-deadbeef.parquet"
    orphan.mkdir(parents=True, exist_ok=True)
    (orphan / "part-0.parquet").write_bytes(b"junk")
    issues = "\n".join(verify_table(spark, table))
    assert "unreferenced deletion vector _dv/dv-deadbeef.parquet" in issues
    vacuum(spark, table, keep_last=1, orphan_grace=0)
    names = sorted(p.name for p in (pathlib.Path(table) / "_dv").iterdir())
    assert "dv-deadbeef.parquet" not in names
    assert len(names) == 1  # the referenced DV survived
    got = {r["user"] for r in read_table(spark, table).collect()}
    assert "u6" not in got and len(got) == 6


def test_append_on_dv_table_keeps_deletes(spark, table):
    v_dv = commit_delete_mor(spark, table, "user = 'u0'")
    commit_version(
        spark.createDataFrame(
            [(5000, "u9", 1.0)], "k long, user string, val double"
        ),
        table,
        carry_from=v_dv,
    )
    got = {r["user"] for r in read_table(spark, table).collect()}
    assert "u0" not in got and "u9" in got


def test_rewrite_maintenance_refuses_on_dv(spark, table):
    from temp_data_pipeline_spark.operators.versioned import compact_snapshot
    from temp_data_pipeline_spark.operators.zonemap import optimize_zorder

    commit_delete_mor(spark, table, "user = 'u2'")
    with pytest.raises(ValueError, match="materialize_deletes"):
        compact_snapshot(spark, table)
    with pytest.raises(ValueError, match="materialize_deletes"):
        optimize_zorder(spark, table, ["val"], target_files=4)
    # after materializing, both work again
    materialize_deletes(spark, table)
    v = optimize_zorder(spark, table, ["val"], target_files=4)
    assert not has_deletes(spark, table, v)


def test_update_mor_rewrites_only_matches(spark, table):
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        commit_update_mor,
    )

    before = _mtimes(table)
    v = commit_update_mor(
        spark, table, "user = 'u1'", {"val": F.col("val") + 100000.0}
    )
    after = _mtimes(table)
    assert all(after[p] == t for p, t in before.items())  # no rewrite
    got = read_table(spark, table, v)
    assert got.count() == 1000  # updates, not deletes
    u1 = got.filter(F.col("user") == "u1")
    assert u1.filter(F.col("val") < 100000.0).count() == 0
    others = got.filter(F.col("user") != "u1")
    assert others.filter(F.col("val") >= 100000.0).count() == 0
    # no-op predicate returns the current version
    assert commit_update_mor(spark, table, "user = 'zz'", {"val": F.lit(0.0)}) == v


def test_upsert_mor_updates_and_inserts(spark, table):
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        commit_upsert_mor,
    )

    updates = spark.createDataFrame(
        [(0, "u0", -1.0), (1, "u1", -2.0), (9999, "new", -3.0)],
        "k long, user string, val double",
    )
    v = commit_upsert_mor(updates, table, ["k"])
    got = {r["k"]: r["val"] for r in read_table(spark, table, v).collect()}
    assert got[0] == -1.0 and got[1] == -2.0 and got[9999] == -3.0
    assert len(got) == 1001  # 1000 base + 1 insert, matched keys replaced
    # chained MOR ops compose: delete on top of the upsert
    v2 = commit_delete_mor(spark, table, "k = 9999")
    assert 9999 not in {
        r["k"] for r in read_table(spark, table, v2).collect()
    }


def test_update_mor_unknown_column_rejected(spark, table):
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        commit_update_mor,
    )

    with pytest.raises(ValueError, match="unknown column"):
        commit_update_mor(spark, table, "k = 1", {"nope": F.lit(1)})


def test_dv_over_hive_partitioned_cow_table(spark, tmp_path):
    """MOR delete on a COW-maintained table whose manifest carries
    NESTED v=N/part=x entries: positions resolve through basePath
    branches; further COW maintenance then refuses until
    materialized."""
    from temp_data_pipeline_spark.operators.versioned import commit_merge_cow

    path = os.path.join(str(tmp_path), "morcow")
    base = spark.createDataFrame(
        [(i, "a" if i < 50 else "b", i) for i in range(100)],
        "k long, part string, ts long",
    )
    commit_merge_cow(base, path, ["k"], "ts", "part")
    upd = spark.createDataFrame(
        [(1, "a", 1000)], "k long, part string, ts long"
    )
    commit_merge_cow(upd, path, ["k"], "ts", "part")  # nested carry of 'b'
    commit_delete_mor(spark, path, "k % 7 = 0")
    got = {r["k"] for r in read_table(spark, path).collect()}
    assert got == {k for k in range(100) if k % 7 != 0}
    assert read_table(spark, path).filter(F.col("k") == 1).first()["ts"] == 1000
    with pytest.raises(ValueError, match="materialize_deletes"):
        commit_merge_cow(
            spark.createDataFrame([(2, "a", 2000)], "k long, part string, ts long"),
            path, ["k"], "ts", "part",
        )


def test_matview_on_dv_base_is_dv_resolved(spark, tmp_path):
    """r8: matviews no longer refuse DV bases — the build aggregates
    VISIBLE rows (deleted ones excluded), so views sit on MOR
    upsert/delete targets directly (full lifecycle in test_matview)."""
    from temp_data_pipeline_spark.operators.matview import build_agg_view
    from temp_data_pipeline_spark.operators.versioned import read_version

    path = os.path.join(str(tmp_path), "morview")
    commit_version(
        spark.createDataFrame([(1, "x"), (2, "y")], "k long, g string"), path
    )
    commit_delete_mor(spark, path, "k = 1")

    def agg(df):
        return df.groupBy("g").agg(F.count(F.lit(1)).alias("n"))

    vp = os.path.join(str(tmp_path), "v")
    build_agg_view(spark, path, vp, agg, ["g"])
    got = {r["g"]: r["n"] for r in read_version(spark, vp).collect()}
    assert got == {"y": 1}  # the DV'd row never reached the view


def test_export_snapshot_plain_parquet(spark, table, tmp_path):
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        export_snapshot,
    )

    commit_delete_mor(spark, table, "user = 'u3'")
    out = os.path.join(str(tmp_path), "export")
    export_snapshot(spark, table, out)
    plain = spark.read.parquet(out)
    assert "u3" not in {r["user"] for r in plain.collect()}
    assert plain.count() == read_table(spark, table).count()
    # no protocol artifacts in the export
    assert not os.path.exists(os.path.join(out, "_manifest"))
    # refuses to clobber
    import pytest as _pytest

    with _pytest.raises(Exception):
        export_snapshot(spark, table, out)


def test_deletion_vectors_survive_table_relocation(spark, tmp_path):
    """ADVICE r6 (medium): DVs used to key rows by ABSOLUTE
    _metadata.file_path, so a copied/relocated table matched nothing
    and every deleted row silently resurrected. Paths are now stored
    relative to the table root, like manifest data_dirs."""
    import shutil

    src = os.path.join(str(tmp_path), "dvsrc")
    commit_version(
        spark.createDataFrame(
            [(i, f"u{i % 5}", float(i)) for i in range(50)],
            "k long, user string, t double",
        ),
        src,
    )
    commit_delete_mor(spark, src, "user = 'u2'")
    dst = os.path.join(str(tmp_path), "dvdst")
    shutil.copytree(src, dst)
    shutil.rmtree(src)  # old absolute paths must be truly dead
    got = {r["user"] for r in read_table(spark, dst).collect()}
    assert got == {"u0", "u1", "u3", "u4"}
    # further MOR mutations keep working at the new location
    commit_delete_mor(spark, dst, "user = 'u4'")
    got = {r["user"] for r in read_table(spark, dst).collect()}
    assert got == {"u0", "u1", "u3"}


def test_missing_carried_dir_fails_loudly_in_mor(spark, tmp_path):
    """ADVICE r6 (low): a mis-vacuumed carried dir must propagate out
    of the position scan — a GDPR delete that silently skips a dir
    would miss rows without any error."""
    import shutil

    import pytest as _pytest

    path = os.path.join(str(tmp_path), "morgone")
    commit_version(
        spark.createDataFrame([(1, "a")], "k long, user string"), path
    )
    commit_version(
        spark.createDataFrame([(2, "b")], "k long, user string"),
        path,
        carry_from=1,
    )
    shutil.rmtree(os.path.join(path, "v=1"))
    with _pytest.raises(Exception, match="PATH_NOT_FOUND|Path does not exist"):
        commit_delete_mor(spark, path, "user = 'a'")


def test_replace_where_swaps_window_in_one_commit(spark, tmp_path):
    """Delta replaceWhere parity: matching rows leave via DV, incoming
    rows append, untouched files are carried — one commit; NULL
    predicate rows are outside the window (kept)."""
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        commit_replace_where,
        read_table,
    )
    from temp_data_pipeline_spark.operators.versioned import read_manifest

    path = os.path.join(str(tmp_path), "rw")
    commit_version(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "a", 30), (4, None, 40)],
            "k long, part string, v long",
        ),
        path,
    )
    v = commit_replace_where(
        spark,
        spark.createDataFrame(
            [(9, "a", 90), (10, "a", 100)], "k long, part string, v long"
        ),
        path,
        "part = 'a'",
    )
    assert v == 2
    got = {
        (r["k"], r["part"], r["v"])
        for r in read_table(spark, path).collect()
    }
    # part='a' rows replaced; part='b' kept; NULL-part row kept (the
    # predicate is NULL there -> outside the window)
    assert got == {
        (2, "b", 20), (4, None, 40), (9, "a", 90), (10, "a", 100)
    }
    # one MOR commit: v2 carries v1's dir by reference + a DV sidecar
    man = read_manifest(spark, path, 2)
    assert man.get("_dv")
    # empty window still lands the incoming rows (Delta semantics)
    v = commit_replace_where(
        spark,
        spark.createDataFrame([(11, "zz", 1)], "k long, part string, v long"),
        path,
        "part = 'zz'",
    )
    assert v == 3
    assert (11, "zz", 1) in {
        (r["k"], r["part"], r["v"])
        for r in read_table(spark, path).collect()
    }


def test_replace_where_validates_incoming_rows(spark, tmp_path):
    """A backfill leaking rows outside its declared window aborts
    BEFORE writing; validate=False opts out (rows land, window still
    cleared)."""
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        commit_replace_where,
        read_table,
    )

    path = os.path.join(str(tmp_path), "rwv")
    commit_version(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "k long, part string, v long"
        ),
        path,
    )
    leak = spark.createDataFrame(
        [(9, "a", 90), (8, "b", 80)], "k long, part string, v long"
    )
    with pytest.raises(ValueError, match="outside the predicate window"):
        commit_replace_where(spark, leak, path, "part = 'a'")
    assert versions(spark, path) == [1]  # nothing written
    v = commit_replace_where(
        spark, leak, path, "part = 'a'", validate=False
    )
    assert v == 2
    got = {
        (r["k"], r["part"]) for r in read_table(spark, path).collect()
    }
    assert got == {(2, "b"), (9, "a"), (8, "b")}


def test_observed_count_fast_path(spark, tmp_path):
    """The non-blocking Observation read (_observed_count) must
    actually POPULATE on a zone-mapped table — the feed-emptiness
    probe rides the position scan's eager bounds aggregation, so a
    Spark-internal API drift (obs._jo.getRowOrEmpty) would silently
    re-enable the extra isEmpty job on every scd2/replicate apply.
    This test turns that drift into a loud failure (ADVICE r10 #4)."""
    import os

    from pyspark.sql import Observation

    from temp_data_pipeline_spark.operators.deletion_vectors import (
        _observed_count,
        _visible_tagged_for_keys,
    )
    from temp_data_pipeline_spark.operators.versioned import read_manifest
    from temp_data_pipeline_spark.operators.zonemap import write_zone_maps

    path = os.path.join(str(tmp_path), "obsfast")
    commit_version(
        spark.createDataFrame(
            [(i, "a", i) for i in range(20)], "k long, part string, v long"
        ),
        path,
    )
    write_zone_maps(spark, path, ["k"], version=1)
    feed = spark.createDataFrame([(3, "a", 30), (7, "a", 70)],
                                 "k long, part string, v long")
    obs = Observation()
    keyed = feed.observe(obs, F.count(F.lit(1)).alias("n")).select("k")
    man = read_manifest(spark, path, 1)
    # the pruned scan's bounding-box agg is the EAGER action the
    # Observation rides — after it, the metric must already be there
    _visible_tagged_for_keys(spark, path, 1, man, ["k"], keyed)
    n = _observed_count(obs)
    assert n == 2, (
        "fast path did not populate — obs._jo.getRowOrEmpty drifted "
        f"(got {n!r}); scd2/replicate now pay an isEmpty probe per apply"
    )
    # and the no-zonemap path (nothing eager ran) stays None -> callers
    # fall back to the explicit probe instead of blocking forever
    path2 = os.path.join(str(tmp_path), "obsnone")
    commit_version(
        spark.createDataFrame([(1, "a", 1)], "k long, part string, v long"),
        path2,
    )
    obs2 = Observation()
    keyed2 = feed.observe(obs2, F.count(F.lit(1)).alias("n")).select("k")
    _visible_tagged_for_keys(
        spark, path2, 1, read_manifest(spark, path2, 1), ["k"], keyed2
    )
    assert _observed_count(obs2) is None


# --- one-scan reads: parity with the per-dir union ---------------------


def _per_dir_union(spark, path, version):
    """Reference reader: one scan per manifest dir, each tagged with
    ``_rel_file(<that dir>)``, unioned by name — the read path before
    snapshots became one file scan."""
    from functools import reduce

    from temp_data_pipeline_spark.operators.versioned import (
        _align_partition_types,
        _dir_root,
        _disk_schema_and_rename,
        _manifest_dirs,
        _rel_file,
        read_manifest,
    )

    man = read_manifest(spark, path, version)
    frames = []
    for d in _manifest_dirs(man):
        read_schema, align = _disk_schema_and_rename(man, d)
        r = spark.read.schema(read_schema)
        root = _dir_root(path, man, d)
        if "/" in d:
            r = r.option("basePath", f"{root}/{d.split('/', 1)[0]}")
        b = r.parquet(f"{root}/{d}")
        b = b.select(
            _rel_file(d).alias("_dv_file"),
            F.col("_metadata.row_index").alias("_dv_pos"),
            *b.columns,
        )
        frames.append(align(b, keep=("_dv_file", "_dv_pos")) if align else b)
    tagged = _align_partition_types(
        reduce(lambda a, b: a.unionByName(b), frames), man
    )
    if man.get("_dv"):
        dv = read_dv(spark, path, version).select(
            F.col("file").alias("_dv_file"), F.col("pos").alias("_dv_pos")
        )
        tagged = tagged.join(dv, ["_dv_file", "_dv_pos"], "left_anti")
    return tagged


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_parity(spark, path, version):
    """``read_table`` and the MOR writers' tagged scan equal the per-dir
    union row for row, tags included."""
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        _visible_tagged,
    )
    from temp_data_pipeline_spark.operators.versioned import read_manifest

    ref = _per_dir_union(spark, path, version)
    got = read_table(spark, path, version)
    data = [c for c in ref.columns if c not in ("_dv_file", "_dv_pos")]
    assert got.columns == data
    assert _rows(got) == _rows(ref.select(*data))
    tagged = _visible_tagged(
        spark, path, version, read_manifest(spark, path, version)
    )
    assert tagged.columns == ref.columns
    assert _rows(tagged) == _rows(ref)


def _clone_table(spark, tmp_path):
    from temp_data_pipeline_spark.operators.versioned import shallow_clone

    src = os.path.join(str(tmp_path), "src")
    dst = os.path.join(str(tmp_path), "dst")
    s = "k long, part string, ts long"
    v = commit_version(
        spark.createDataFrame([(i, f"p{i % 3}", i) for i in range(30)], s),
        src, partition_by=["part"],
    )
    commit_version(
        spark.createDataFrame([(i, f"p{i % 3}", i) for i in range(30, 40)], s),
        src, carry_from=v,
    )
    shallow_clone(spark, src, dst)
    commit_version(
        spark.createDataFrame([(i, "p9", i) for i in range(40, 45)], s),
        dst, carry_from=versions(spark, dst)[-1],
    )
    return dst


def _renamed_table(spark, tmp_path):
    from temp_data_pipeline_spark.operators.versioned import rename_column

    path = os.path.join(str(tmp_path), "ren")
    s = "k long, val string"
    v = commit_version(
        spark.createDataFrame([(i, f"a{i}") for i in range(20)], s), path
    )
    v = commit_version(
        spark.createDataFrame([(i, f"b{i}") for i in range(20, 30)], s),
        path, carry_from=v,
    )
    v = rename_column(spark, path, "val", "label")
    commit_version(
        spark.createDataFrame([(i, f"c{i}") for i in range(30, 35)],
                              "k long, label string"),
        path, carry_from=v,
    )
    return path


def _nested_cow_table(spark, tmp_path):
    from temp_data_pipeline_spark.operators.versioned import commit_merge_cow

    path = os.path.join(str(tmp_path), "cow")
    s = "k long, part string, ts long"
    commit_merge_cow(
        spark.createDataFrame(
            [(i, "a" if i < 20 else "b", i) for i in range(40)], s
        ),
        path, ["k"], "ts", "part",
    )
    commit_merge_cow(
        spark.createDataFrame([(1, "a", 1000)], s), path, ["k"], "ts", "part"
    )
    return path


def _bool_partitioned_table(spark, tmp_path):
    path = os.path.join(str(tmp_path), "bool")
    s = "k long, flag boolean"
    v = commit_version(
        spark.createDataFrame([(i, i % 2 == 0) for i in range(20)], s),
        path, partition_by=["flag"],
    )
    commit_version(
        spark.createDataFrame([(i, i % 2 == 0) for i in range(20, 26)], s),
        path, carry_from=v,
    )
    return path


def _empty_commit_table(spark, tmp_path):
    path = os.path.join(str(tmp_path), "empty")
    s = "k long, part string"
    v = commit_version(
        spark.createDataFrame([(i, f"p{i % 2}") for i in range(20)], s),
        path, partition_by=["part"],
    )
    v = commit_version(spark.createDataFrame([], s), path, carry_from=v)
    commit_version(
        spark.createDataFrame([(i, "p0") for i in range(20, 24)], s),
        path, carry_from=v,
    )
    return path


def _evolved_layout_table(spark, tmp_path):
    path = os.path.join(str(tmp_path), "evo")
    s = "k long, part string"
    rows = [(i, f"p{i % 2}") for i in range(30)]
    v = commit_version(
        spark.createDataFrame(rows[:10], s), path, partition_by=["part"]
    )
    v = commit_version(
        spark.createDataFrame(rows[10:20], s), path, carry_from=v,
        partition_by=[],
    )
    commit_version(
        spark.createDataFrame(rows[20:], s), path, carry_from=v,
        partition_by=["part"],
    )
    return path


@pytest.mark.parametrize(
    "build",
    [
        _clone_table,
        _renamed_table,
        _nested_cow_table,
        _bool_partitioned_table,
        _empty_commit_table,
        _evolved_layout_table,
    ],
)
@pytest.mark.parametrize("literal_max", [None, 0])
def test_one_scan_read_matches_per_dir_union(
    spark, tmp_path, monkeypatch, build, literal_max
):
    """Every layout the one-scan builder handles — or hands to its
    per-dir fallback, as for a partition layout that evolved across
    carry commits — reads the same rows, and tags every row with
    the same (file, pos), as one scan per dir: before any delete and
    after one, with the DV applied as a literal filter (the default
    for a small DV) and as an anti-join (``literal_max=0``)."""
    from temp_data_pipeline_spark.operators import deletion_vectors as DV

    if literal_max is not None:
        monkeypatch.setattr(DV, "_DV_LITERAL_MAX", literal_max)
    path = build(spark, tmp_path)
    _assert_parity(spark, path, versions(spark, path)[-1])
    v = commit_delete_mor(spark, path, "k % 5 = 0")
    assert has_deletes(spark, path, v)
    _assert_parity(spark, path, v)


def test_unpartitioned_carry_over_hive_dirs_keeps_partition_values(
    spark, tmp_path
):
    """A carry commit with ``partition_by=[]`` over dirs written
    ``part=x``-partitioned: every reader of that version — the snapshot,
    the MOR position scan, explicit-file scans of all its files and of
    one file below a ``part=x`` subdir — keeps ``part`` from the dir
    names, as one scan per dir does."""
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        _visible_tagged_for_keys,
    )
    from temp_data_pipeline_spark.operators.versioned import (
        _manifest_dirs,
        read_manifest,
    )
    from temp_data_pipeline_spark.operators.zonemap import (
        _read_files,
        write_zone_maps,
    )

    path = _evolved_layout_table(spark, tmp_path)
    for v in versions(spark, path):
        _assert_parity(spark, path, v)
    v = versions(spark, path)[1]
    man = read_manifest(spark, path, v)
    assert man["_partition_by"] == []
    ref = _per_dir_union(spark, path, v)
    assert ref.filter("part IS NULL").count() == 0
    files = sorted(
        os.path.relpath(os.path.join(d, f), path)
        for e in _manifest_dirs(man)
        for d, _, names in os.walk(os.path.join(path, e))
        for f in names
        if f.endswith(".parquet")
    )
    got = _read_files(spark, path, v, files, with_positions=True)
    assert _rows(got.select(*ref.columns)) == _rows(ref)
    nested = next(f for f in files if "/part=" in f)
    got = _read_files(spark, path, v, [nested], with_positions=True)
    assert _rows(got.select(*ref.columns)) == _rows(
        ref.filter(F.col("_dv_file") == nested)
    )
    write_zone_maps(spark, path, ["k"], v)
    got = _visible_tagged_for_keys(
        spark, path, v, man, ["k"], spark.createDataFrame([(3,)], "k long")
    )
    assert _rows(got.select(*ref.columns)) == _rows(ref.filter("k = 3"))


@pytest.mark.parametrize("name", ["v", "V"])
def test_partitioned_table_with_a_v_column_reads_its_own_values(
    spark, tmp_path, name
):
    """A table column named ``v`` (any case) must not be replaced by
    the version number Spark parses from the ``v=<N>`` dirs when a
    multi-dir partitioned snapshot scans from the table root."""
    path = os.path.join(str(tmp_path), "vcol")
    s = f"{name} long, k long, part string"
    rows = [(0, 0, "a"), (7, 1, "b")]
    v = commit_version(
        spark.createDataFrame(rows[:1], s), path, partition_by=["part"]
    )
    commit_version(spark.createDataFrame(rows[1:], s), path, carry_from=v)
    got = read_version(spark, path)
    assert got.columns == [name, "k", "part"]
    assert _rows(got) == sorted(rows, key=repr)
    v = commit_delete_mor(spark, path, "k = 1")
    assert _rows(read_table(spark, path, v)) == [rows[0]]


def _data_file_scans(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("FileScan parquet")


def test_many_carried_dirs_plan_one_file_scan(spark, tmp_path):
    """A snapshot of 25 carried dirs is ONE data FileScan, with and
    without a deletion vector — not one scan (and one DV broadcast)
    per dir."""
    path = os.path.join(str(tmp_path), "dirs25")
    s = "k long, val double"
    v = None
    for i in range(25):
        v = commit_version(
            spark.createDataFrame([(i, i * 1.0)], s), path, carry_from=v
        )
    assert _data_file_scans(read_version(spark, path).filter("k = 3")) == 1
    v = commit_delete_mor(spark, path, "k = 4")
    df = read_table(spark, path, v).filter("k < 6")
    assert _data_file_scans(df) == 1
    assert sorted(r["k"] for r in df.collect()) == [0, 1, 2, 3, 5]


def test_point_read_on_dv_snapshot_runs_no_extra_jobs(spark, table):
    """A trickle-delete DV is applied inside the scan: the point read
    of a DV'd snapshot runs exactly as many Spark jobs as the same
    read of the DV-free version before it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(version):
        group = f"dvjobs-{version}"
        sc.setJobGroup(group, "point read")
        try:
            rows = read_table(spark, table, version).filter("k = 7").collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return rows, len(tracker.getJobIdsForGroup(group))

    v = commit_delete_mor(spark, table, "k = 8")
    plain_rows, plain_jobs = jobs(v - 1)
    dv_rows, dv_jobs = jobs(v)
    assert dv_rows == plain_rows and len(dv_rows) == 1
    assert dv_jobs == plain_jobs
