"""Versioned snapshot tables: atomic commits, time travel, merge
history, crash-orphan invisibility, vacuum."""

from __future__ import annotations

import os

import pytest

from temp_data_pipeline_spark.operators.versioned import (
    commit_merge,
    commit_version,
    read_version,
    vacuum,
    versions,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, val string, ts long")


class TestCommitAndTimeTravel:
    def test_versions_accumulate_and_stay_queryable(self, spark, tmp_path):
        p = str(tmp_path / "tbl")
        v1 = commit_version(_df(spark, [(1, "a", 10)]), p)
        v2 = commit_version(_df(spark, [(1, "b", 20), (2, "c", 20)]), p)
        assert (v1, v2) == (1, 2)
        assert versions(spark, p) == [1, 2]
        assert read_version(spark, p, 1).count() == 1
        assert read_version(spark, p, 2).count() == 2
        # latest = v2
        assert {r["val"] for r in read_version(spark, p).collect()} == {"b", "c"}

    def test_missing_version_raises(self, spark, tmp_path):
        p = str(tmp_path / "tbl")
        with pytest.raises(FileNotFoundError):
            read_version(spark, p)
        commit_version(_df(spark, [(1, "a", 10)]), p)
        with pytest.raises(FileNotFoundError, match="not committed"):
            read_version(spark, p, 7)

    def test_partitioned_snapshot(self, spark, tmp_path):
        p = str(tmp_path / "tbl")
        commit_version(_df(spark, [(1, "a", 10), (2, "b", 10)]), p,
                       partition_by=["k"])
        got = read_version(spark, p)
        assert got.count() == 2
        assert os.path.isdir(str(tmp_path / "tbl" / "v=1" / "k=1"))


class TestCrashSafety:
    def test_orphan_data_dir_is_invisible(self, spark, tmp_path):
        p = str(tmp_path / "tbl")
        commit_version(_df(spark, [(1, "a", 10)]), p)
        # simulate a writer that crashed after data, before manifest
        _df(spark, [(9, "ghost", 1)]).write.parquet(f"{p}/v=2")
        assert versions(spark, p) == [1]
        assert {r["val"] for r in read_version(spark, p).collect()} == {"a"}
        # a later commit must NOT wedge on the orphan dir: it skips to
        # the next free number and the ghost rows never surface
        v = commit_version(_df(spark, [(2, "b", 20)]), p)
        assert v == 3
        assert versions(spark, p) == [1, 3]
        assert {r["val"] for r in read_version(spark, p).collect()} == {"b"}
        # default vacuum leaves a FRESH unmanifested dir alone — it is
        # indistinguishable from a writer mid-commit (data written,
        # manifest rename pending); deleting it would race the rename
        dropped = vacuum(spark, p, keep_last=5)
        assert dropped == []
        assert os.path.exists(f"{p}/v=2")
        # with the grace window waived (no concurrent writers), the
        # orphan is reclaimed
        dropped = vacuum(spark, p, keep_last=5, orphan_grace=0)
        assert dropped == []
        assert not os.path.exists(f"{p}/v=2")
        assert versions(spark, p) == [1, 3]


class TestCommitMerge:
    def test_merge_history(self, spark, tmp_path):
        p = str(tmp_path / "tbl")
        commit_merge(_df(spark, [(1, "a", 10), (2, "b", 10)]), p, ["k"], "ts")
        commit_merge(_df(spark, [(1, "a2", 20), (3, "c", 20)]), p, ["k"], "ts")
        latest = {r["k"]: r["val"] for r in read_version(spark, p).collect()}
        assert latest == {1: "a2", 2: "b", 3: "c"}
        # time travel: version 1 still shows the pre-merge world
        first = {r["k"]: r["val"] for r in read_version(spark, p, 1).collect()}
        assert first == {1: "a", 2: "b"}

    def test_stale_update_loses(self, spark, tmp_path):
        p = str(tmp_path / "tbl")
        commit_merge(_df(spark, [(1, "new", 100)]), p, ["k"], "ts")
        commit_merge(_df(spark, [(1, "old", 50)]), p, ["k"], "ts")
        latest = {r["k"]: r["val"] for r in read_version(spark, p).collect()}
        assert latest == {1: "new"}


class TestVacuum:
    def test_expires_old_versions_keeps_recent(self, spark, tmp_path):
        p = str(tmp_path / "tbl")
        for i in range(4):
            commit_version(_df(spark, [(i, f"v{i}", i)]), p)
        dropped = vacuum(spark, p, keep_last=2)
        assert dropped == [1, 2]
        assert versions(spark, p) == [3, 4]
        assert not os.path.exists(f"{p}/v=1")
        assert read_version(spark, p, 4).count() == 1
        with pytest.raises(FileNotFoundError):
            read_version(spark, p, 1)


class TestSnapshotDiff:
    def test_added_removed_changed(self, spark, tmp_path):
        from temp_data_pipeline_spark.operators.versioned import snapshot_diff

        p = str(tmp_path / "tbl")
        commit_version(_df(spark, [(1, "a", 10), (2, "b", 10), (3, "c", 10)]), p)
        commit_version(_df(spark, [(1, "a", 10), (2, "B", 20), (4, "d", 20)]), p)
        got = {
            r["k"]: r["change_type"]
            for r in snapshot_diff(spark, p, 1, 2, ["k"]).collect()
        }
        # 1 unchanged (absent), 2 changed, 3 removed, 4 added
        assert got == {2: "changed", 3: "removed", 4: "added"}

    def test_null_transitions_count_as_changed(self, spark, tmp_path):
        from temp_data_pipeline_spark.operators.versioned import snapshot_diff

        p = str(tmp_path / "tbl")
        commit_version(_df(spark, [(1, None, 10), (2, "x", 10)]), p)
        commit_version(_df(spark, [(1, "now-set", 10), (2, "x", 10)]), p)
        got = {
            r["k"]: r["change_type"]
            for r in snapshot_diff(spark, p, 1, 2, ["k"]).collect()
        }
        assert got == {1: "changed"}

    def test_missing_key_raises(self, spark, tmp_path):
        import pytest as _pytest

        from temp_data_pipeline_spark.operators.versioned import snapshot_diff

        p = str(tmp_path / "tbl")
        commit_version(_df(spark, [(1, "a", 10)]), p)
        commit_version(_df(spark, [(1, "a", 10)]), p)
        with _pytest.raises(ValueError, match="absent"):
            snapshot_diff(spark, p, 1, 2, ["no_such_col"])


def test_snapshot_diff_null_keys_match_nullsafe(spark, tmp_path):
    """An unchanged NULL-key row must NOT be reported (plain equi-join
    would split it into added+removed)."""
    from temp_data_pipeline_spark.operators.versioned import snapshot_diff

    p = str(tmp_path / "tbl")
    df1 = spark.createDataFrame(
        [(None, "a", 10), (1, "b", 10)], "k long, val string, ts long"
    )
    df2 = spark.createDataFrame(
        [(None, "a", 10), (1, "B", 20)], "k long, val string, ts long"
    )
    commit_version(df1, p)
    commit_version(df2, p)
    got = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(spark, p, 1, 2, ["k"]).collect()
    }
    assert got == {1: "changed"}  # the NULL-key row is unchanged


def test_read_manifest_returns_commit_meta(spark, tmp_path):
    from temp_data_pipeline_spark.operators.versioned import read_manifest

    p = str(tmp_path / "tbl")
    commit_version(_df(spark, [(1, "a", 10)]), p, meta={"note": "first"})
    commit_version(_df(spark, [(2, "b", 20)]), p, meta={"note": "second"})
    assert read_manifest(spark, p)["note"] == "second"
    assert read_manifest(spark, p, 1)["note"] == "first"
    assert read_manifest(spark, p, 1)["version"] == 1
    with pytest.raises(FileNotFoundError):
        read_manifest(spark, p, 99)


def test_table_survives_relocation(spark, tmp_path):
    """Manifests record data dirs RELATIVE to the table root (review
    r6): a copied/moved table must resolve its own files, not the
    committer's absolute location."""
    import shutil

    from temp_data_pipeline_spark.operators.versioned import read_manifest

    p = str(tmp_path / "tbl")
    commit_version(_df(spark, [(1, "a", 10)]), p)
    commit_version(_df(spark, [(2, "b", 20)]), p, carry_from=1)
    assert read_manifest(spark, p, 2)["data_dirs"] == ["v=1", "v=2"]

    moved = str(tmp_path / "moved")
    shutil.copytree(p, moved)
    shutil.rmtree(p)  # the original is GONE — no silent fallback
    got = {r["val"] for r in read_version(spark, moved, 2).collect()}
    assert got == {"a", "b"}
    assert read_version(spark, moved, 1).count() == 1


class TestSchemaEvolution:
    """Add-column appends: metadata-level schema evolution — old files
    read back with the new column NULL, nothing is rewritten."""

    def test_add_column_append(self, spark, tmp_path):
        import pyspark.sql.functions as F

        path = str(tmp_path / "evolve")
        v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, val string")
        commit_version(v1, path)
        v2_rows = spark.createDataFrame(
            [(3, "c", 0.5)], "k long, val string, score double"
        )
        v = commit_version(v2_rows, path, carry_from=1, allow_evolution=True)
        out = read_version(spark, path, v)
        assert set(out.columns) == {"k", "val", "score"}
        got = {(r["k"], r["val"], r["score"]) for r in out.collect()}
        assert got == {(1, "a", None), (2, "b", None), (3, "c", 0.5)}
        # time travel to v1 still shows the original schema
        assert set(read_version(spark, path, 1).columns) == {"k", "val"}
        # chain: another evolved append carries the widened schema
        v3_rows = spark.createDataFrame(
            [(4, "d", 1.5, True)],
            "k long, val string, score double, flag boolean",
        )
        v3 = commit_version(v3_rows, path, carry_from=v, allow_evolution=True)
        out3 = read_version(spark, path, v3)
        assert out3.filter(F.col("flag").isNull()).count() == 3

    def test_requires_flag(self, spark, tmp_path):
        path = str(tmp_path / "noflag")
        commit_version(
            spark.createDataFrame([(1, "a")], "k long, val string"), path
        )
        import pytest as _pytest

        with _pytest.raises(ValueError, match="allow_evolution"):
            commit_version(
                spark.createDataFrame(
                    [(2, "b", 1.0)], "k long, val string, score double"
                ),
                path,
                carry_from=1,
            )

    def test_drop_and_retype_rejected(self, spark, tmp_path):
        import pytest as _pytest

        path = str(tmp_path / "reject")
        commit_version(
            spark.createDataFrame([(1, "a")], "k long, val string"), path
        )
        with _pytest.raises(ValueError, match="schema mismatch"):
            commit_version(
                spark.createDataFrame([(2,)], "k long"),
                path,
                carry_from=1,
                allow_evolution=True,
            )
        with _pytest.raises(ValueError, match="retypes"):
            commit_version(
                spark.createDataFrame(
                    [(2, 7, 0.1)], "k long, val long, score double"
                ),
                path,
                carry_from=1,
                allow_evolution=True,
            )


class TestChecksAndAsOf:
    def test_check_constraints_gate_the_commit(self, spark, tmp_path):
        import pytest as _pytest

        path = str(tmp_path / "checked")
        ok = spark.createDataFrame(
            [(1, 10.0), (2, None)], "k long, temp double"
        )
        v = commit_version(
            ok,
            path,
            checks={"temp_range": "temp BETWEEN -90 AND 60"},  # NULL passes
        )
        assert v == 1
        bad = spark.createDataFrame([(3, 999.0)], "k long, temp double")
        with _pytest.raises(ValueError, match="temp_range"):
            commit_version(
                bad,
                path,
                carry_from=1,
                checks={"temp_range": "temp BETWEEN -90 AND 60"},
            )
        # the rejected commit left nothing visible and nothing wedged
        assert versions(spark, path) == [1]
        v2 = commit_version(
            spark.createDataFrame([(3, 55.0)], "k long, temp double"),
            path,
            carry_from=1,
            checks={"temp_range": "temp BETWEEN -90 AND 60"},
        )
        assert read_version(spark, path, v2).count() == 3
        from temp_data_pipeline_spark.operators.versioned import read_manifest

        man = read_manifest(spark, path, v2)
        assert man["_checks"] == {"temp_range": "temp BETWEEN -90 AND 60"}

    def test_read_as_of_timestamps(self, spark, tmp_path):
        import time

        import pytest as _pytest

        from temp_data_pipeline_spark.operators.versioned import (
            read_as_of,
            version_as_of,
        )

        path = str(tmp_path / "asof")
        commit_version(spark.createDataFrame([(1,)], "k long"), path)
        t_between = time.time()
        time.sleep(0.05)
        commit_version(spark.createDataFrame([(2,)], "k long"), path, carry_from=1)
        assert version_as_of(spark, path, t_between) == 1
        assert version_as_of(spark, path, time.time()) == 2
        assert {r["k"] for r in read_as_of(spark, path, t_between).collect()} == {1}
        with _pytest.raises(FileNotFoundError, match="at or before"):
            version_as_of(spark, path, 0.0)


class TestRollback:
    def test_metadata_only_restore(self, spark, tmp_path):
        import os

        from temp_data_pipeline_spark.operators.versioned import rollback

        path = str(tmp_path / "rb")
        commit_version(
            spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
            path,
        )
        commit_version(
            spark.createDataFrame([(3, "c")], "k long, v string"),
            path,
            carry_from=1,
        )
        v3 = rollback(spark, path, 1)
        assert v3 == 3
        got = {(r["k"], r["v"]) for r in read_version(spark, path).collect()}
        assert got == {(1, "a"), (2, "b")}
        # history intact: the bad version is still time-travelable
        assert read_version(spark, path, 2).count() == 3
        # metadata-only: the rollback's own data dir carries NO data
        # files at all (r12: the statically-empty commit skips the
        # snapshot-write job entirely; readers resolve empty dirs
        # through the manifest's declared _schema)
        own = os.path.join(path, "v=3")
        assert [
            f for f in os.listdir(own) if not f.startswith(("_", "."))
        ] == []
        from temp_data_pipeline_spark.operators.versioned import read_manifest

        assert read_manifest(spark, path, v3)["restored_from"] == 1

    def test_restore_survives_vacuum(self, spark, tmp_path):
        from temp_data_pipeline_spark.operators.versioned import rollback, vacuum

        path = str(tmp_path / "rbv")
        commit_version(spark.createDataFrame([(1,)], "k long"), path)
        commit_version(
            spark.createDataFrame([(2,)], "k long"), path, carry_from=1
        )
        rollback(spark, path, 1)
        vacuum(spark, path, keep_last=1, orphan_grace=0)
        # v=1's bytes are carried by the restored version → still alive
        assert {r["k"] for r in read_version(spark, path).collect()} == {1}


class TestVerifyTable:
    def test_healthy_table_reports_nothing(self, spark, tmp_path):
        from temp_data_pipeline_spark.operators.versioned import verify_table

        p = str(tmp_path / "ok")
        commit_version(_df(spark, [(1, "a", 10)]), p)
        commit_version(_df(spark, [(2, "b", 20)]), p, carry_from=1)
        assert verify_table(spark, p) == []

    def test_detects_missing_dir_stale_sidecar_and_orphan(self, spark, tmp_path):
        import shutil as _shutil

        from temp_data_pipeline_spark.operators.versioned import (
            vacuum,
            verify_table,
        )
        from temp_data_pipeline_spark.operators.zonemap import write_zone_maps

        p = str(tmp_path / "sick")
        commit_version(_df(spark, [(1, "a", 10)]), p)
        write_zone_maps(spark, p, ["k"])
        commit_version(_df(spark, [(2, "b", 20)]), p, carry_from=1)
        # orphan: crashed writer's unmanifested dir
        _df(spark, [(9, "ghost", 1)]).write.parquet(f"{p}/v=9")
        # missing carried dir: simulate a mis-scoped external cleanup
        _shutil.rmtree(f"{p}/v=1")
        issues = "\n".join(verify_table(spark, p))
        assert "missing data dir v=1" in issues
        assert "orphan data dir v=9" in issues
        # stale sidecar: expire version 1 (its zone maps linger only if
        # vacuum is bypassed — simulate by restoring dir then expiring
        # manifests without the sidecar sweep)
        assert "stale sidecar" not in issues  # not stale yet

    def test_detects_stale_sidecar(self, spark, tmp_path):
        import os as _os

        from temp_data_pipeline_spark.operators.versioned import verify_table
        from temp_data_pipeline_spark.operators.zonemap import write_zone_maps

        p = str(tmp_path / "stale")
        commit_version(_df(spark, [(1, "a", 10)]), p)
        write_zone_maps(spark, p, ["k"])
        commit_version(_df(spark, [(2, "b", 20)]), p)
        # expire v1 the crude way (manifest removal only)
        _os.remove(f"{p}/_manifest/1.json")
        issues = "\n".join(verify_table(spark, p))
        assert "stale sidecar _zonemaps/1.parquet" in issues


def test_history_describes_commits(spark, tmp_path):
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        commit_delete_mor,
    )
    from temp_data_pipeline_spark.operators.versioned import history, rollback

    p = str(tmp_path / "hist")
    commit_version(_df(spark, [(1, "a", 10)]), p, meta={"job": "ingest"})
    commit_version(_df(spark, [(2, "b", 20)]), p, carry_from=1)
    commit_delete_mor(spark, p, "k = 1")
    rollback(spark, p, 2)
    h = {r["version"]: r for r in history(spark, p).collect()}
    assert sorted(h) == [1, 2, 3, 4]
    assert not h[1]["carries_refs"] and h[2]["carries_refs"]
    assert h[3]["has_dv"] and not h[4]["has_dv"]
    assert h[4]["restored_from"] == 2
    assert '"job": "ingest"' in h[1]["meta_json"]
    assert all(h[v]["committed_at"] > 0 for v in h)


def test_rel_from_any_anchors_version_segment(spark):
    """ADVICE r7: legacy absolute sidecar paths must cut at a real
    /v=<digits>/ segment — a hive partition value containing 'v='
    (k=v=3) must not alias the boundary, and a path with no version
    segment normalizes to '' (a never-matching key, loud in effect)."""
    from pyspark.sql import functions as F

    from temp_data_pipeline_spark.operators.versioned import _rel_from_any

    rows = [
        ("/tmp/t/v=1/part-0.parquet", "v=1/part-0.parquet"),
        # the escaped-value alias: cut must stay at v=1, not v=3
        ("/tmp/t/v=1/k=v=3/part-0.parquet", "v=1/k=v=3/part-0.parquet"),
        (
            "file:///x/t/v=12/date=2026-01-01/f.parquet",
            "v=12/date=2026-01-01/f.parquet",
        ),
        ("v=2/f.parquet", "v=2/f.parquet"),  # relative passthrough
        ("/weird/no-version/f.parquet", ""),  # no segment: never matches
    ]
    df = spark.createDataFrame([(a,) for a, _ in rows], "p string")
    got = [r[0] for r in df.select(_rel_from_any(F.col("p"))).collect()]
    assert got == [b for _, b in rows]


def test_named_refs_pin_and_resolve(spark, tmp_path):
    """Named refs (Iceberg-style tags): addressable snapshots, vacuum
    pinning, dangling-ref fsck."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from temp_data_pipeline_spark.operators.versioned import (
        commit_version,
        delete_ref,
        list_refs,
        read_ref,
        resolve_ref,
        tag_version,
        vacuum,
        verify_table,
        versions,
    )

    path = os.path.join(str(tmp_path), "refs")
    for i in range(4):
        commit_version(
            spark.createDataFrame([(i, i * 10)], "k long, v long"), path
        )
    tag_version(spark, path, "q3-train", 2)
    assert resolve_ref(spark, path, "q3-train") == 2
    assert list_refs(spark, path) == {"q3-train": 2}
    assert [r["k"] for r in read_ref(spark, path, "q3-train").collect()] == [1]
    # default target: latest; retarget allowed
    assert tag_version(spark, path, "prod") == 4
    tag_version(spark, path, "prod", 3)
    assert resolve_ref(spark, path, "prod") == 3
    # vacuum keeps the tagged versions alive, expires the rest
    dropped = vacuum(spark, path, keep_last=1, orphan_grace=0.0)
    assert dropped == [1]  # 2 and 3 pinned by refs, 4 by keep_last
    assert versions(spark, path) == [2, 3, 4]
    assert [r["k"] for r in read_ref(spark, path, "q3-train").collect()] == [1]
    assert verify_table(spark, path) == []
    # deleting the ref releases the pin
    assert delete_ref(spark, path, "q3-train") is True
    assert delete_ref(spark, path, "q3-train") is False
    assert vacuum(spark, path, keep_last=1, orphan_grace=0.0) == [2]
    # a ref whose target was externally destroyed is flagged
    tag_version(spark, path, "stale", 3)
    os.remove(os.path.join(path, "_manifest", "3.json"))
    issues = verify_table(spark, path)
    assert any("dangling ref 'stale'" in i for i in issues)
    with pytest.raises(ValueError, match="invalid ref name"):
        tag_version(spark, path, "../escape")


def test_read_ref_is_dv_aware(spark, tmp_path):
    import os

    from temp_data_pipeline_spark.operators.deletion_vectors import (
        commit_delete_mor,
    )
    from temp_data_pipeline_spark.operators.versioned import (
        commit_version,
        read_ref,
        tag_version,
    )

    path = os.path.join(str(tmp_path), "dvref")
    commit_version(
        spark.createDataFrame([(i, i) for i in range(5)], "k long, v long"),
        path,
    )
    v2 = commit_delete_mor(spark, path, "k >= 3")
    tag_version(spark, path, "after-erasure", v2)
    got = sorted(r["k"] for r in read_ref(spark, path, "after-erasure").collect())
    assert got == [0, 1, 2]  # deleted rows must not resurrect via the tag


def test_partition_layout_evolution(spark, tmp_path):
    """Iceberg-style partition evolution: a carry-append may change
    partition_by — old dirs keep their physical layout, reads stay
    correct, and a filter prunes each dir ITS way (PushedFilters on
    the unpartitioned branch, PartitionFilters on the hive branch).
    compact_snapshot normalizes to the latest layout."""
    import os

    from pyspark.sql import functions as F

    from temp_data_pipeline_spark.operators.versioned import (
        commit_version,
        compact_snapshot,
        read_manifest,
        read_version,
        verify_table,
    )

    path = os.path.join(str(tmp_path), "pevo")
    commit_version(
        spark.createDataFrame(
            [(i, "a" if i < 3 else "b", i) for i in range(6)],
            "k long, part string, v long",
        ),
        path,  # v1: unpartitioned
    )
    commit_version(
        spark.createDataFrame(
            [(6, "a", 60), (7, "b", 70)], "k long, part string, v long"
        ),
        path,
        carry_from=1,
        partition_by=["part"],  # v2: layout evolves
    )
    cur = read_version(spark, path)
    assert sorted(r["k"] for r in cur.collect()) == list(range(8))
    got_b = cur.filter(F.col("part") == "b")
    assert sorted(r["k"] for r in got_b.collect()) == [3, 4, 5, 7]
    plan = got_b._jdf.queryExecution().executedPlan().toString()
    # the hive branch prunes at planning time; the legacy branch pushes
    assert "PartitionFilters: [isnotnull(part" in plan
    assert "EqualTo(part,b)" in plan
    assert read_manifest(spark, path, 2)["_partition_by"] == ["part"]
    assert verify_table(spark, path) == []
    # compaction lands everything under the latest layout
    v3 = compact_snapshot(spark, path)
    assert read_manifest(spark, path, v3)["_partition_by"] == ["part"]
    assert sorted(
        r["k"] for r in read_version(spark, path, v3).collect()
    ) == list(range(8))


def test_compact_incremental_rewrites_only_small_dirs(spark, tmp_path):
    """Incremental OPTIMIZE: tiny append-chain dirs collapse into one,
    the big dir is carried by reference untouched, content is
    unchanged, and the keyed change feed sees NOTHING."""
    import os

    from temp_data_pipeline_spark.operators.changes import (
        table_changes_keyed,
    )
    from temp_data_pipeline_spark.operators.versioned import (
        commit_version,
        compact_incremental,
        read_manifest,
        read_version,
        verify_table,
        versions,
    )

    path = os.path.join(str(tmp_path), "inc")
    # v1: the "big" dir (by row count; size threshold separates below)
    commit_version(
        spark.createDataFrame(
            [(i, i) for i in range(5000)], "k long, v long"
        ).coalesce(2),
        path,
    )
    big_size = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs_ in os.walk(os.path.join(path, "v=1"))
        for f in fs_
        if f.endswith(".parquet")
    )
    # v2..v5: tiny per-batch appends
    for i in range(4):
        commit_version(
            spark.createDataFrame([(10000 + i, i)], "k long, v long"),
            path,
            carry_from=versions(spark, path)[-1],
        )
    latest = versions(spark, path)[-1]
    before = sorted(
        tuple(r) for r in read_version(spark, path, latest).collect()
    )
    v6 = compact_incremental(spark, path, small_bytes=big_size)
    man = read_manifest(spark, path, v6)
    # the big dir is carried BY NAME; the four tiny dirs are gone
    assert "v=1" in man["data_dirs"]
    assert len(man["data_dirs"]) == 2
    assert man["compacted_dirs"] == [f"v={i}" for i in range(2, 6)]
    assert "compacted_from" not in man
    assert sorted(
        tuple(r) for r in read_version(spark, path, v6).collect()
    ) == before
    # the big dir's bytes were never rewritten
    assert sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs_ in os.walk(os.path.join(path, "v=1"))
        for f in fs_
        if f.endswith(".parquet")
    ) == big_size
    # keyed feed across the compaction: pure noise, nets to zero
    assert table_changes_keyed(spark, path, ["k"], latest, v6).count() == 0
    # idempotent: one merged dir + one big dir -> nothing small enough
    # to collapse twice (min_dirs=2)
    assert compact_incremental(spark, path, small_bytes=big_size) == v6
    assert verify_table(spark, path) == []


def test_vacuum_time_based_retention(spark, tmp_path, monkeypatch):
    """older_than adds a time horizon on top of the count floor: a
    burst of commits never erases recent history just by outnumbering
    keep_last; SQL VACUUM ... RETAIN n HOURS maps onto it."""
    import os as _os

    from temp_data_pipeline_spark.operators import versioned as V

    path = _os.path.join(str(tmp_path), "t")
    for i in range(5):
        V.commit_version(
            spark.createDataFrame([(i,)], "k long"),
            path,
            carry_from=(i if i else None),
        )
    # ALL five versions committed "now": nothing is older than 1h even
    # though keep_last=1 would drop four of them
    assert V.vacuum(spark, path, keep_last=1, older_than=3600) == []
    assert V.versions(spark, path) == [1, 2, 3, 4, 5]
    # age versions 1-3 artificially past the horizon
    import json as _json

    for v in (1, 2, 3):
        man = V.read_manifest(spark, path, v)
        man["committed_at"] = man["committed_at"] - 7200
        V.atomic_write_text(
            spark, f"{V._manifest_dir(path)}/{v}.json", _json.dumps(man)
        )
    dropped = V.vacuum(spark, path, keep_last=1, older_than=3600)
    assert dropped == [1, 2, 3]
    assert V.versions(spark, path) == [4, 5]
    assert {r["k"] for r in V.read_version(spark, path).collect()} == {
        0, 1, 2, 3, 4,
    }  # carried data intact


def test_vacuum_retain_hours_sql(spark, tmp_path):
    import os as _os

    from temp_data_pipeline_spark.operators import versioned as V
    from temp_data_pipeline_spark.sql import SqlEngine

    path = _os.path.join(str(tmp_path), "t")
    for i in range(3):
        V.commit_version(
            spark.createDataFrame([(i,)], "k long"),
            path,
            carry_from=(i if i else None),
        )
    e = SqlEngine(spark, {"t": path})
    e.sql("VACUUM t RETAIN 1 HOURS")  # everything is fresh: no-op
    assert V.versions(spark, path) == [1, 2, 3]
    e.sql("VACUUM t RETAIN 1 VERSIONS")  # count form still works
    assert V.versions(spark, path) == [3]


def test_history_clock_index(spark, tmp_path):
    """version_as_of resolves from the maintenance-written clock
    index (one JSON read) and falls back per-manifest for versions
    the index does not cover; maintenance keeps it in sync across
    vacuum."""
    import json as _json
    import os as _os

    from temp_data_pipeline_spark.operators import versioned as V
    from temp_data_pipeline_spark.operators.maintenance import (
        MaintenancePolicy,
        maintain_table,
    )

    path = _os.path.join(str(tmp_path), "t")
    clocks = []
    for i in range(4):
        V.commit_version(
            spark.createDataFrame([(i,)], "k long"),
            path,
            carry_from=(i if i else None),
        )
        clocks.append(V.read_manifest(spark, path, i + 1)["committed_at"])
    n = V.write_history_index(spark, path)
    assert n == 4
    # resolution identical to the manifest scan, for each boundary
    for i, c in enumerate(clocks):
        assert V.version_as_of(spark, path, c + 1e-4) == i + 1
    # a version committed AFTER the index still resolves (fallback)
    V.commit_version(
        spark.createDataFrame([(9,)], "k long"), path, carry_from=4
    )
    c5 = V.read_manifest(spark, path, 5)["committed_at"]
    assert V.version_as_of(spark, path, c5 + 1e-4) == 5
    # maintenance refreshes the index after expiry
    maintain_table(spark, path, MaintenancePolicy(keep_last=2))
    idx = _json.loads(
        V.read_text(spark, V._history_index_path(path))
    )["clocks"]
    assert set(idx) == {"4", "5"}
    assert V.version_as_of(spark, path, c5 + 1e-4) == 5
    # a corrupt index never breaks resolution (plain scan fallback)
    V.atomic_write_text(spark, V._history_index_path(path), "not json")
    assert V.version_as_of(spark, path, c5 + 1e-4) == 5


def test_history_surfaces_tags(spark, tmp_path):
    """DESCRIBE HISTORY shows named refs per version — no second
    SHOW REFS round trip (r11 time-travel ergonomics)."""
    import os as _os

    from temp_data_pipeline_spark.operators.versioned import (
        history,
        tag_version,
    )

    path = _os.path.join(str(tmp_path), "tags")
    for i in range(3):
        commit_version(
            spark.createDataFrame([(i,)], "k long"),
            path,
            carry_from=(i if i else None),
        )
    tag_version(spark, path, "rc1", 2)
    tag_version(spark, path, "prod", 2)
    tag_version(spark, path, "latest-good", 3)
    tags = {r["version"]: r["tags"] for r in history(spark, path).collect()}
    assert tags == {1: "", 2: "prod,rc1", 3: "latest-good"}


def test_history_index_idle_noop_and_incremental(spark, tmp_path, monkeypatch):
    """Maintenance leaves a fresh index untouched (no rewrite on an
    idle table), and a refresh after one new commit reads ONLY the
    missing manifest — steady-state O(1), not O(versions)."""
    import json as _json
    import os as _os

    from temp_data_pipeline_spark.operators import versioned as V
    from temp_data_pipeline_spark.operators.maintenance import (
        MaintenancePolicy,
        maintain_table,
    )

    path = _os.path.join(str(tmp_path), "idx")
    for i in range(4):
        V.commit_version(
            spark.createDataFrame([(i,)], "k long"),
            path,
            carry_from=(i if i else None),
        )
    V.write_history_index(spark, path)
    idx_file = V._history_index_path(path)
    mtime = _os.path.getmtime(idx_file)
    # idle maintenance: index already covers every version -> no write
    maintain_table(spark, path, MaintenancePolicy(keep_last=10))
    assert _os.path.getmtime(idx_file) == mtime
    # one new commit: the refresh reads exactly ONE manifest
    V.commit_version(
        spark.createDataFrame([(9,)], "k long"), path, carry_from=4
    )
    reads = []
    real = V.read_manifest

    def counting(spark_, path_, version=None):
        reads.append(version)
        return real(spark_, path_, version)

    monkeypatch.setattr(V, "read_manifest", counting)
    V.write_history_index(spark, path)
    monkeypatch.undo()
    assert reads == [5]
    idx = _json.loads(V.read_text(spark, idx_file))["clocks"]
    assert set(idx) == {"1", "2", "3", "4", "5"}
    assert idx["5"] == V.read_manifest(spark, path, 5)["committed_at"]


def test_compaction_after_rollback_is_not_a_restore(spark, tmp_path):
    """Rewrite markers are per-commit: a compaction of a restored
    version must not copy ``restored_from``, or history reports it as
    a restore and change feeds across it demand a reset."""
    from temp_data_pipeline_spark.operators.changes import changes_between
    from temp_data_pipeline_spark.operators.versioned import (
        compact_incremental,
        history,
        read_manifest,
        rollback,
    )

    p = str(tmp_path / "tbl")
    commit_version(_df(spark, [(1, "a", 10)]), p)
    for v in (1, 2, 3):
        commit_version(_df(spark, [(v + 1, "b", 20)]), p, carry_from=v)
    rb = rollback(spark, p, 3)
    cv = compact_incremental(spark, p)
    assert cv == rb + 1
    man = read_manifest(spark, p, cv)
    assert "restored_from" not in man
    assert man["compacted_dirs"]
    h = {r["version"]: r for r in history(spark, p).collect()}
    assert h[rb]["restored_from"] == 3
    assert h[cv]["restored_from"] is None
    # compact_incremental keeps change feeds flowing: no reset needed
    feed = changes_between(spark, p, rb, cv)
    n_ins = feed.filter("_change_type = 'insert'").count()
    assert n_ins == feed.filter("_change_type = 'delete'").count()
    got = sorted(r["k"] for r in read_version(spark, p, cv).collect())
    assert got == [1, 2, 3]


def test_sticky_keys_survive_every_commit_kind(spark, tmp_path):
    """Every declared sticky key, once set, rides an append, a MOR
    delete, its materialization and both compactions unchanged. The
    expected map must cover the declared tuple exactly, so a new
    sticky key cannot be left out of this check."""
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        commit_delete_mor,
        materialize_deletes,
    )
    from temp_data_pipeline_spark.operators.versioned import (
        _STICKY_KEYS,
        add_table_constraint,
        compact_incremental,
        compact_snapshot,
        read_manifest,
        set_column_default,
        set_table_properties,
    )

    schema = "k long, k2 long, id long, val string"
    p = str(tmp_path / "tbl")
    expected = {
        "_generated_columns": {"k2": "k * 2"},
        "_identity_columns": {"id": {"start": 1, "step": 1, "high": 2}},
        "_table_constraints": {"k_pos": "k > 0"},
        "_tblproperties": {"owner": "etl"},
        "_column_defaults": {"val": "'dflt'"},
    }
    assert set(expected) == set(_STICKY_KEYS)
    commit_version(
        spark.createDataFrame([(1, 2, 1, "a"), (2, 4, 2, "b")], schema),
        p,
        meta={
            "_generated_columns": expected["_generated_columns"],
            "_identity_columns": expected["_identity_columns"],
        },
    )
    add_table_constraint(spark, p, "k_pos", "k > 0")
    set_table_properties(spark, p, {"owner": "etl"})
    set_column_default(spark, p, "val", "'dflt'")

    def _append(k: int) -> None:
        commit_version(
            spark.createDataFrame([(k, 2 * k, k, "c")], schema),
            p,
            carry_from=versions(spark, p)[-1],
        )

    steps = [
        ("setters", lambda: None),
        ("append", lambda: _append(3)),
        ("MOR delete", lambda: commit_delete_mor(spark, p, "k = 1")),
        ("materialize", lambda: materialize_deletes(spark, p)),
        ("compact_snapshot", lambda: compact_snapshot(spark, p)),
        ("append", lambda: _append(4)),
        ("compact_incremental", lambda: compact_incremental(spark, p)),
    ]
    for what, step in steps:
        before = versions(spark, p)[-1]
        step()
        latest = versions(spark, p)[-1]
        assert what == "setters" or latest > before, what
        man = read_manifest(spark, p, latest)
        for key in _STICKY_KEYS:
            assert man.get(key) == expected[key], (what, key)
    got = sorted(r["k"] for r in read_version(spark, p).collect())
    assert got == [2, 3, 4]
