"""Row-level expectations with quarantine (operators/expectations.py
+ the streaming sink's gated ingest).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from temp_data_pipeline_spark.operators.expectations import (
    ExpectationError,
    commit_with_expectations,
    split_expectations,
)
from temp_data_pipeline_spark.operators.versioned import (
    read_version,
    versions,
)

SCHEMA = "k long, v long"
EXPECT = {"v_positive": "v > 0", "k_small": "k < 100"}


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_split_and_null_violates(spark):
    good, bad = split_expectations(
        _df(spark, [(1, 5), (2, -1), (200, 5), (300, None)]), EXPECT
    )
    assert sorted(r["k"] for r in good.collect()) == [1]
    got = {r["k"]: r["_violations"] for r in bad.collect()}
    # NULL predicate = violation (DLT semantics); tags in declaration
    # order, comma-joined
    assert got == {
        2: "v_positive",
        200: "k_small",
        300: "v_positive,k_small",
    }


def test_commit_quarantine_and_append(spark, tmp_path):
    path = os.path.join(str(tmp_path), "t")
    v, n = commit_with_expectations(
        _df(spark, [(1, 5), (2, -1)]), path, EXPECT
    )
    assert (v, n) == (1, 1)
    v2, n2 = commit_with_expectations(
        _df(spark, [(3, 7), (200, 1)]), path, EXPECT
    )
    assert (v2, n2) == (2, 1)
    # table accumulated the passing rows across both commits
    assert sorted(
        r["k"] for r in read_version(spark, path).collect()
    ) == [1, 3]
    q = read_version(spark, f"{path}_quarantine")
    assert sorted(
        (r["k"], r["_violations"]) for r in q.collect()
    ) == [(2, "v_positive"), (200, "k_small")]
    # manifests carry the audit trail
    from temp_data_pipeline_spark.operators.versioned import read_manifest

    man = read_manifest(spark, path, 2)
    assert man["_quarantined"] == 1 and "v_positive" in man["_expectations"]


def test_on_violation_drop_and_fail(spark, tmp_path):
    path = os.path.join(str(tmp_path), "d")
    _, n = commit_with_expectations(
        _df(spark, [(1, 5), (2, -1)]), path, EXPECT, on_violation="drop"
    )
    assert n == 1
    assert not versions(spark, f"{path}_quarantine")
    with pytest.raises(ExpectationError, match="v_positive"):
        commit_with_expectations(
            _df(spark, [(2, -1)]),
            os.path.join(str(tmp_path), "f"),
            EXPECT,
            on_violation="fail",
        )
    # fail aborts BEFORE any commit
    assert not versions(spark, os.path.join(str(tmp_path), "f"))


def test_streaming_gated_ingest_exactly_once(spark, tmp_path):
    """Two micro-batches through the gated sink, then a restart over
    the same checkpoint: table and quarantine both exactly-once."""
    from temp_data_pipeline_spark.streaming.sink import (
        stream_append_versioned,
    )

    src = os.path.join(str(tmp_path), "src")
    dest = os.path.join(str(tmp_path), "tbl")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    _df(spark, [(1, 5), (2, -1)]).coalesce(1).write.parquet(src)
    _df(spark, [(3, 7), (200, 1)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def run(reader):
        q = stream_append_versioned(
            reader, dest, ckpt, expectations=EXPECT
        )
        q.awaitTermination(180)

    run(
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run(spark.readStream.schema(SCHEMA).parquet(src))  # restart: no-op
    assert sorted(
        r["k"] for r in read_version(spark, dest).collect()
    ) == [1, 3]
    assert sorted(
        (r["k"], r["_violations"])
        for r in read_version(spark, f"{dest}_quarantine").collect()
    ) == [(2, "v_positive"), (200, "k_small")]


def test_streaming_upsert_gated(spark, tmp_path):
    """The upsert sink gates batches too: violators quarantine, clean
    rows merge, restart exactly-once on both tables."""
    from temp_data_pipeline_spark.streaming.sink import (
        stream_upsert_versioned,
    )

    src = os.path.join(str(tmp_path), "src")
    dest = os.path.join(str(tmp_path), "tbl")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    _df(spark, [(1, 5), (2, -1)]).coalesce(1).write.parquet(src)
    _df(spark, [(1, 7), (200, 1)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def run(reader):
        q = stream_upsert_versioned(
            reader, dest, ckpt, ["k"], expectations=EXPECT
        )
        q.awaitTermination(180)

    run(
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run(spark.readStream.schema(SCHEMA).parquet(src))  # restart no-op
    from temp_data_pipeline_spark.operators.deletion_vectors import (
        read_table,
    )

    got = {r["k"]: r["v"] for r in read_table(spark, dest).collect()}
    assert got == {1: 7}  # k=1 upserted 5 -> 7; violators never merged
    q = read_version(spark, f"{dest}_quarantine")
    assert sorted((r["k"], r["_violations"]) for r in q.collect()) == [
        (2, "v_positive"),
        (200, "k_small"),
    ]


def test_concurrent_writer_mid_gate_retries_to_union(
    spark, tmp_path, monkeypatch
):
    """ADVICE r8 #3: a concurrent append landing between the gate's
    versions() read and its commit must surface as a retried re-plan
    (expected_base + commit_with_retries), never a silent renumber
    that carries the STALE base's dir list and drops the winner's
    rows from the new latest manifest."""
    from temp_data_pipeline_spark.operators import expectations as E
    from temp_data_pipeline_spark.operators.versioned import commit_version

    path = os.path.join(str(tmp_path), "race")
    commit_version(_df(spark, [(1, 5)]), path)
    real_versions = E.versions
    fired = []

    def racing_versions(s, p):
        vs = real_versions(s, p)
        if p == path and not fired:
            fired.append(True)
            # the competitor's append lands right after our read
            commit_version(
                _df(spark, [(50, 9)]), path, carry_from=vs[-1]
            )
        return vs

    monkeypatch.setattr(E, "versions", racing_versions)
    v, n = commit_with_expectations(
        _df(spark, [(2, 7), (3, -1)]), path, EXPECT
    )
    monkeypatch.setattr(E, "versions", real_versions)
    assert n == 1
    # the final version contains BOTH writers' rows — no lost update
    assert sorted(r["k"] for r in read_version(spark, path).collect()) == [
        1,
        2,
        50,
    ]


def test_gating_adds_no_extra_job(spark, tmp_path):
    """Verdict r8 #4: the violation count rides the commit's write
    pass as an observed metric. A drop-policy gated commit therefore
    runs exactly ONE job (the append) — the old bad.count() second
    job is gone."""
    sc = spark.sparkContext
    path = os.path.join(str(tmp_path), "jobs")
    sc.setJobGroup("gate-baseline", "ungated commit")
    from temp_data_pipeline_spark.operators.versioned import commit_version

    commit_version(_df(spark, [(1, 5)]), os.path.join(str(tmp_path), "b"))
    base_jobs = len(
        sc.statusTracker()._jtracker.getJobIdsForGroup("gate-baseline")
    )
    sc.setJobGroup("gate-test", "gated commit, drop policy")
    v, n = commit_with_expectations(
        _df(spark, [(1, 5), (2, -1)]), path, EXPECT, on_violation="drop"
    )
    got_jobs = len(
        sc.statusTracker()._jtracker.getJobIdsForGroup("gate-test")
    )
    sc.setJobGroup("gate-done", "")
    assert (v, n) == (1, 1)
    assert got_jobs == base_jobs  # gating itself costs zero extra jobs


def test_quarantine_linkage_and_fsck(spark, tmp_path):
    """Verdict r8 #5: the data commit's manifest records the promised
    quarantine batch (table + row count) BEFORE the quarantine leg
    runs; verify_table flags a version whose promise went unfulfilled
    (crash between the two commits)."""
    import json

    from temp_data_pipeline_spark.operators.versioned import (
        read_manifest,
        verify_table,
    )

    path = os.path.join(str(tmp_path), "link")
    v, n = commit_with_expectations(
        _df(spark, [(1, 5), (2, -1), (3, -2)]), path, EXPECT
    )
    assert n == 2
    man = read_manifest(spark, path, v)
    assert man["_quarantined"] == 2
    assert man["_quarantine_table"] == f"{path}_quarantine"
    # healthy: the quarantine batch landed, fsck is clean
    assert verify_table(spark, path) == []
    # simulate the crash window: the quarantine commit never happened
    qman_dir = os.path.join(f"{path}_quarantine", "_manifest")
    for name in os.listdir(qman_dir):
        os.remove(os.path.join(qman_dir, name))
    issues = verify_table(spark, path)
    assert any("quarantine batch" in i and "never committed" in i for i in issues)


def test_clean_gated_commit_records_no_quarantine_table(spark, tmp_path):
    from temp_data_pipeline_spark.operators.versioned import read_manifest

    path = os.path.join(str(tmp_path), "clean")
    v, n = commit_with_expectations(_df(spark, [(1, 5)]), path, EXPECT)
    assert n == 0
    man = read_manifest(spark, path, v)
    assert man["_quarantined"] == 0
    assert "_quarantine_table" not in man


def test_replay_crash_window_recovers_without_duplicates(
    spark, tmp_path
):
    """The replay's two transactions (main append, quarantine rewrite)
    are crash-separable: simulate the crash by rolling the quarantine
    back to its pre-replay state after a successful replay, then run
    the replay again — the recovery must complete the predecessor's
    rewrite (removing the already-appended rows from the quarantine)
    instead of appending them a second time; verify_table flags the
    window from metadata alone."""
    import shutil

    from temp_data_pipeline_spark.operators.expectations import (
        replay_quarantine,
    )
    from temp_data_pipeline_spark.operators.versioned import (
        read_version,
        verify_table,
        versions,
    )

    path = os.path.join(str(tmp_path), "crash")
    qpath = f"{path}_quarantine"
    commit_with_expectations(
        _df(spark, [(1, 5), (2, -1), (4, -9)]), path, EXPECT
    )
    # snapshot the quarantine's pre-replay state
    qman_dir = os.path.join(qpath, "_manifest")
    pre = {
        n: open(os.path.join(qman_dir, n), "rb").read()
        for n in os.listdir(qman_dir)
        if n.endswith(".json")
    }
    v, n_pass, n_still = replay_quarantine(
        spark, path, {"fix": "v <> -9"}
    )
    assert (n_pass, n_still) == (1, 1)
    # simulate the crash: the quarantine rewrite never happened
    for n in os.listdir(qman_dir):
        if n.endswith(".json") and n not in pre:
            os.remove(os.path.join(qman_dir, n))
    issues = verify_table(spark, path)
    assert any("replay never rewrote" in i for i in issues)
    # second replay: recovery completes the rewrite; the row appended
    # by the first replay must NOT re-append
    v2, n_pass2, n_still2 = replay_quarantine(
        spark, path, {"fix": "v <> -9"}
    )
    assert n_pass2 == 0 and n_still2 == 1
    got = sorted(r["k"] for r in read_version(spark, path).collect())
    assert got == [1, 2]  # exactly once
    assert verify_table(spark, path) == []
    q = read_version(spark, qpath).collect()
    assert [(r["k"], r["_violations"]) for r in q] == [(4, "fix")]


def test_maintenance_after_quarantine_keeps_fsck_clean(spark, tmp_path):
    """The quarantine promise is per-commit: a compaction or rollback
    after a quarantining commit must not copy it, or verify_table
    reports a crash that never happened for the maintenance
    version."""
    from temp_data_pipeline_spark.operators.versioned import (
        compact_snapshot,
        read_manifest,
        rollback,
        verify_table,
    )

    path = os.path.join(str(tmp_path), "t")
    v, n = commit_with_expectations(
        _df(spark, [(1, 5), (2, -1)]), path, EXPECT
    )
    assert n == 1
    assert verify_table(spark, path) == []
    cv = compact_snapshot(spark, path)
    assert "_quarantined" not in read_manifest(spark, path, cv)
    assert verify_table(spark, path) == []
    rollback(spark, path, v)
    assert verify_table(spark, path) == []
    # the table's expectation set still rides forward
    assert read_manifest(spark, path)["_expectations"] == EXPECT


def test_compaction_after_replay_keeps_fsck_clean(spark, tmp_path):
    """The replay marker is per-commit too: a compaction after a
    completed replay is not an unfinished replay."""
    from temp_data_pipeline_spark.operators.expectations import (
        replay_quarantine,
    )
    from temp_data_pipeline_spark.operators.versioned import (
        compact_snapshot,
        verify_table,
    )

    path = os.path.join(str(tmp_path), "t")
    commit_with_expectations(_df(spark, [(1, 5), (2, -1)]), path, EXPECT)
    _, n_pass, n_still = replay_quarantine(spark, path, {"any": "v > -5"})
    assert (n_pass, n_still) == (1, 0)
    assert verify_table(spark, path) == []
    compact_snapshot(spark, path)
    assert verify_table(spark, path) == []
