"""SQL statement surface (temp_data_pipeline_spark/sql.py): SELECT
passthrough over DV-aware snapshots and the DML family delegating to
the MOR operators (verdict r8 'What's missing' #3)."""

from __future__ import annotations

import os

import pytest

from temp_data_pipeline_spark.operators.deletion_vectors import read_table
from temp_data_pipeline_spark.operators.versioned import (
    commit_version,
    versions,
)
from temp_data_pipeline_spark.sql import SqlEngine

SCHEMA = "k long, v long, status string"


@pytest.fixture()
def eng(spark, tmp_path):
    p = os.path.join(str(tmp_path), "t")
    commit_version(
        spark.createDataFrame(
            [(1, 10, "live"), (2, 20, "live"), (3, 30, "expired")], SCHEMA
        ),
        p,
    )
    return SqlEngine(spark, {"t": p}), p


def _rows(spark, p):
    return {
        r["k"]: (r["v"], r["status"])
        for r in read_table(spark, p).collect()
    }


def test_select_sees_dv_resolved_snapshot(spark, eng):
    e, p = eng
    e.sql("DELETE FROM t WHERE k = 2")
    got = e.sql("SELECT k, v FROM t ORDER BY k").collect()
    assert [(r["k"], r["v"]) for r in got] == [(1, 10), (3, 30)]


def test_delete_update_insert(spark, eng):
    e, p = eng
    v = e.sql("DELETE FROM t WHERE status = 'expired'")
    assert v == 2
    v = e.sql("UPDATE t SET v = v + 1, status = 'bumped' WHERE k = 1")
    assert v == 3
    v = e.sql("INSERT INTO t SELECT 9, 90, 'new'")
    assert v == 4
    assert _rows(spark, p) == {
        1: (11, "bumped"),
        2: (20, "live"),
        9: (90, "new"),
    }


def test_merge_full_clause_family(spark, eng):
    e, p = eng
    batch = spark.createDataFrame(
        [(1, 99, "x"), (2, 5, "x"), (3, 1, "x"), (50, 500, "new"),
         (51, -1, "new")],
        SCHEMA,
    )
    batch.createOrReplaceTempView("batch")
    v = e.sql(
        """
        MERGE INTO t AS tgt USING batch AS b ON tgt.k = b.k
        WHEN MATCHED AND b.v > tgt.v THEN UPDATE SET v = b.v, status = b.status
        WHEN MATCHED AND tgt.status = 'live' THEN DELETE
        WHEN NOT MATCHED AND b.v > 0 THEN INSERT *
        """
    )
    assert v == 2
    # k=1 updated (99>10); k=2 deleted (5<20, matched+live); k=3
    # matched but neither clause (status 'expired', v not greater):
    # untouched; 50 inserted; 51 filtered by insert_when
    assert _rows(spark, p) == {
        1: (99, "x"),
        3: (30, "expired"),
        50: (500, "new"),
    }


def test_merge_subquery_source_and_case_when(spark, eng):
    e, p = eng
    v = e.sql(
        """
        MERGE INTO t USING (
          SELECT k, v * 2 AS v, status FROM t WHERE k <= 2
        ) s ON t.k = s.k
        WHEN MATCHED AND (CASE WHEN s.v > 25 THEN true ELSE false END)
          THEN UPDATE SET *
        """
    )
    assert v == 2
    assert _rows(spark, p) == {
        1: (10, "live"),       # 20 <= 25: untouched
        2: (40, "live"),       # 40 > 25: doubled
        3: (30, "expired"),
    }


def test_merge_not_matched_by_source(spark, eng):
    """Delta-parity sync clauses: BY SOURCE UPDATE/DELETE over target
    rows absent from the source, mixed with the matched/insert family;
    BY TARGET is the standard spelling of the plain insert branch."""
    e, p = eng
    batch = spark.createDataFrame([(1, 99, "x"), (9, 90, "new")], SCHEMA)
    batch.createOrReplaceTempView("bsbatch")
    v = e.sql(
        """
        MERGE INTO t AS tgt USING bsbatch AS b ON tgt.k = b.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED BY TARGET THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND tgt.status = 'live'
          THEN UPDATE SET v = tgt.v + 1, status = 'aged'
        WHEN NOT MATCHED BY SOURCE THEN DELETE
        """
    )
    assert v == 2
    # k=1 matched-updated; k=2 live -> by-source updated; k=3
    # expired -> by-source deleted; k=9 inserted
    assert _rows(spark, p) == {
        1: (99, "x"),
        2: (21, "aged"),
        9: (90, "new"),
    }


def test_merge_by_source_guards(spark, eng):
    e, p = eng
    with pytest.raises(ValueError, match="no BY qualifier"):
        e.sql(
            "MERGE INTO t USING t AS s ON t.k = s.k "
            "WHEN MATCHED BY SOURCE THEN DELETE"
        )
    with pytest.raises(ValueError, match="no SET \\*"):
        e.sql(
            "MERGE INTO t USING t AS s ON t.k = s.k "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *"
        )
    # Delta's dead-clause rule: an unconditional clause that is not
    # LAST in its family makes the later clauses unreachable
    with pytest.raises(ValueError, match="only the last by-source"):
        e.sql(
            "MERGE INTO t USING t AS s ON t.k = s.k "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE "
            "WHEN NOT MATCHED BY SOURCE AND t.v > 0 THEN DELETE"
        )
    with pytest.raises(ValueError, match="BY SOURCE supports"):
        e.sql(
            "MERGE INTO t USING t AS s ON t.k = s.k "
            "WHEN NOT MATCHED BY SOURCE THEN INSERT *"
        )


def test_guards(spark, eng):
    e, p = eng
    with pytest.raises(ValueError, match="unknown table"):
        e.sql("DELETE FROM nope WHERE k = 1")
    with pytest.raises(ValueError, match="same-named"):
        e.sql(
            "MERGE INTO t USING t AS s ON t.k = s.v "
            "WHEN MATCHED THEN DELETE"
        )
    with pytest.raises(ValueError, match="conjunction"):
        e.sql(
            "MERGE INTO t USING t AS s ON t.k = s.k OR t.v = s.v "
            "WHEN MATCHED THEN DELETE"
        )
    with pytest.raises(ValueError, match="unsupported statement"):
        e.sql("TRUNCATE TABLE t")


def test_utility_statements(spark, eng):
    e, p = eng
    e.sql("DELETE FROM t WHERE k = 2")
    hist = e.sql("DESCRIBE HISTORY t")
    assert [r["version"] for r in hist.collect()] == [1, 2]
    v = e.sql("RESTORE t TO VERSION AS OF 1")
    assert v == 3
    got = sorted(r["k"] for r in e.sql("SELECT k FROM t").collect())
    assert got == [1, 2, 3]  # the delete rolled back
    v = e.sql("OPTIMIZE t")
    assert v == 4
    e.sql("VACUUM t RETAIN 1 VERSIONS")
    assert [r["version"] for r in e.sql("DESCRIBE HISTORY t").collect()] == [4]
    assert sorted(r["k"] for r in e.sql("SELECT k FROM t").collect()) == [
        1, 2, 3,
    ]


def test_optimize_zorder_statement(spark, eng):
    e, p = eng
    v = e.sql("OPTIMIZE t ZORDER BY (k, v)")
    assert v == 2
    assert sorted(r["k"] for r in e.sql("SELECT k FROM t").collect()) == [
        1, 2, 3,
    ]


def test_time_travel_select(spark, eng):
    e, p = eng
    e.sql("DELETE FROM t WHERE k = 2")
    e.sql("INSERT INTO t SELECT 7, 70, 'new'")
    # current = {1, 3, 7}; v1 = {1, 2, 3}; v2 (post-delete) = {1, 3}
    assert sorted(
        r["k"] for r in e.sql("SELECT k FROM t").collect()
    ) == [1, 3, 7]
    assert sorted(
        r["k"] for r in e.sql("SELECT k FROM t VERSION AS OF 1").collect()
    ) == [1, 2, 3]
    assert sorted(
        r["k"] for r in e.sql("SELECT k FROM t VERSION AS OF 2").collect()
    ) == [1, 3]
    # mixed: current joined to history
    got = e.sql(
        "SELECT cur.k FROM t cur LEFT ANTI JOIN "
        "t VERSION AS OF 1 old ON cur.k = old.k"
    ).collect()
    assert [r["k"] for r in got] == [7]


def test_parser_robustness(spark, eng):
    e, p = eng
    # string literal containing keywords must not split clauses
    e.sql(
        "MERGE INTO t USING t AS s ON t.k <=> s.k "
        "WHEN MATCHED AND s.status = 'WHEN MATCHED THEN DELETE' "
        "THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = s.v + 1"
    )
    got = {r["k"]: r["v"] for r in e.sql("SELECT k, v FROM t").collect()}
    assert got == {1: 11, 2: 21, 3: 31}
    # nested function parens inside SET expressions
    e.sql(
        "UPDATE t SET v = CAST(round(v / 2.0, 0) AS BIGINT), "
        "status = concat(status, '!') WHERE k IN (1, 3)"
    )
    got = {r["k"]: (r["v"], r["status"]) for r in e.sql(
        "SELECT k, v, status FROM t"
    ).collect()}
    assert got[1] == (6, "live!") and got[3] == (16, "expired!")
    assert got[2] == (21, "live")


def test_merge_null_safe_on_and_insert_values(spark, tmp_path):
    from temp_data_pipeline_spark.operators.versioned import commit_version
    from temp_data_pipeline_spark.sql import SqlEngine

    p = os.path.join(str(tmp_path), "nt")
    commit_version(
        spark.createDataFrame([(None, 1), (5, 2)], "k long, v long"), p
    )
    e = SqlEngine(spark, {"t": p})
    e.sql("INSERT INTO t VALUES (7, 3)")
    spark.createDataFrame(
        [(None, 100), (7, 300)], "k long, v long"
    ).createOrReplaceTempView("nbatch")
    # NULL-safe ON: the NULL-key row matches and updates
    e.sql(
        "MERGE INTO t USING nbatch AS s ON t.k <=> s.k "
        "WHEN MATCHED THEN UPDATE SET *"
    )
    got = {r["k"]: r["v"] for r in e.sql("SELECT k, v FROM t").collect()}
    assert got == {None: 100, 5: 2, 7: 300}


def test_alter_table_ddl(spark, eng):
    e, p = eng
    v = e.sql("ALTER TABLE t RENAME COLUMN v TO val")
    assert v == 2
    got = {r["k"]: r["val"] for r in e.sql("SELECT k, val FROM t").collect()}
    assert got == {1: 10, 2: 20, 3: 30}
    v = e.sql("ALTER TABLE t ADD CONSTRAINT val_pos CHECK (val > 0)")
    assert v == 3
    import pytest as _pytest

    with _pytest.raises(ValueError, match="CHECK constraint"):
        e.sql("INSERT INTO t VALUES (9, -5, 'bad')")
    e.sql("ALTER TABLE t DROP CONSTRAINT val_pos")
    e.sql("INSERT INTO t VALUES (9, -5, 'ok now')")
    v = e.sql("ALTER TABLE t DROP COLUMN status")
    cols = e.sql("SELECT * FROM t").columns
    assert cols == ["k", "val"]
    # metadata-only ADD COLUMN: old rows read typed NULL
    e.sql("ALTER TABLE t ADD COLUMN score double")
    got = e.sql("SELECT k, score FROM t WHERE k = 1").collect()
    assert [(r["k"], r["score"]) for r in got] == [(1, None)]
    e.sql("INSERT INTO t VALUES (11, 110, 0.5)")
    got = {r["k"]: r["score"] for r in e.sql("SELECT k, score FROM t").collect()}
    assert got[11] == 0.5 and got[2] is None
    # plural form with complex types
    e.sql("ALTER TABLE t ADD COLUMNS (amt decimal(12,2), note string)")
    sch = {f.name: f.dataType.simpleString() for f in e.sql("SELECT * FROM t").schema.fields}
    assert sch["amt"] == "decimal(12,2)" and sch["note"] == "string"


def test_create_table_as(spark, eng, tmp_path):
    e, p = eng
    loc = os.path.join(str(tmp_path), "derived")
    v = e.sql(
        f"CREATE TABLE derived LOCATION '{loc}' "
        "PARTITIONED BY (status) AS "
        "SELECT k, v * 10 AS v10, status FROM t WHERE k <= 2"
    )
    assert v == 1
    got = {r["k"]: (r["v10"], r["status"]) for r in e.sql(
        "SELECT k, v10, status FROM derived"
    ).collect()}
    assert got == {1: (100, "live"), 2: (200, "live")}
    # the new table is a full citizen: DML + history work
    e.sql("DELETE FROM derived WHERE k = 1")
    assert [r["k"] for r in e.sql("SELECT k FROM derived").collect()] == [2]
    with pytest.raises(ValueError, match="already in the catalog"):
        e.sql(f"CREATE TABLE derived LOCATION '{loc}2' AS SELECT 1 AS x")


def test_keyword_bearing_identifiers(spark, tmp_path):
    """Identifiers containing AND/THEN as substrings (`operand`,
    `x_then`) must not split mid-token (verdict r9 nit #1)."""
    p = os.path.join(str(tmp_path), "kw")
    commit_version(
        spark.createDataFrame(
            [(1, 10, 100), (2, 20, 200)], "operand long, x_then long, v long"
        ),
        p,
    )
    e = SqlEngine(spark, {"t": p})
    spark.createDataFrame(
        [(1, 10, 111), (3, 33, 333)], "operand long, x_then long, v long"
    ).createOrReplaceTempView("kwbatch")
    e.sql(
        "MERGE INTO t USING kwbatch AS s "
        "ON t.operand = s.operand AND t.x_then = s.x_then "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {
        r["operand"]: (r["x_then"], r["v"])
        for r in e.sql("SELECT * FROM t").collect()
    }
    assert got == {1: (10, 111), 2: (20, 200), 3: (33, 333)}
    # SET list naming the keyword-bearing column directly
    e.sql("UPDATE t SET x_then = x_then + 1 WHERE operand = 2")
    got = {
        r["operand"]: r["x_then"] for r in e.sql("SELECT * FROM t").collect()
    }
    assert got[2] == 21
    # DELETE predicate conjunction over the same identifiers
    e.sql("DELETE FROM t WHERE operand = 3 AND x_then = 33")
    assert sorted(
        r["operand"] for r in e.sql("SELECT operand FROM t").collect()
    ) == [1, 2]


def test_timestamp_as_of_quoted_literal(spark, eng):
    from datetime import datetime, timezone

    from temp_data_pipeline_spark.operators.versioned import read_manifest

    e, p = eng
    import time as _time

    _time.sleep(0.05)
    e.sql("DELETE FROM t WHERE k = 2")  # v2
    t1 = read_manifest(spark, p, 1)["committed_at"]
    # isoformat truncates the float epoch to microseconds — nudge up
    # a millisecond so the literal lands at-or-after the commit clock
    # (still well before v2, which slept 50ms)
    iso = datetime.fromtimestamp(t1 + 0.001, tz=timezone.utc).isoformat()
    got = sorted(
        r["k"]
        for r in e.sql(
            f"SELECT k FROM t TIMESTAMP AS OF '{iso}'"
        ).collect()
    )
    assert got == [1, 2, 3]
    # naive literal (no offset) is interpreted as UTC
    naive = datetime.fromtimestamp(t1 + 0.001, tz=timezone.utc).replace(
        tzinfo=None
    ).isoformat(sep=" ")
    got = sorted(
        r["k"]
        for r in e.sql(
            f"SELECT k FROM t TIMESTAMP AS OF '{naive}'"
        ).collect()
    )
    assert got == [1, 2, 3]
    # numeric epoch form still works
    got = sorted(
        r["k"]
        for r in e.sql(f"SELECT k FROM t TIMESTAMP AS OF {t1}").collect()
    )
    assert got == [1, 2, 3]


def test_time_travel_grammar_matrix(spark, eng):
    """Pin what the time-travel rewrite DOES support (verdict r9 #7):
    aliased refs, CTE referenced twice, subquery position."""
    e, p = eng
    e.sql("DELETE FROM t WHERE k = 2")  # v2: {1, 3}
    # aliased: t VERSION AS OF 1 AS x
    got = sorted(
        r["k"]
        for r in e.sql("SELECT x.k FROM t VERSION AS OF 1 AS x").collect()
    )
    assert got == [1, 2, 3]
    # bare alias (no AS)
    got = sorted(
        r["k"]
        for r in e.sql("SELECT x.k FROM t VERSION AS OF 1 x").collect()
    )
    assert got == [1, 2, 3]
    # CTE referencing the SAME historical version twice
    got = e.sql(
        "WITH old AS (SELECT k FROM t VERSION AS OF 1) "
        "SELECT a.k FROM old a JOIN old b ON a.k = b.k ORDER BY a.k"
    ).collect()
    assert [r["k"] for r in got] == [1, 2, 3]
    # subquery position
    got = e.sql(
        "SELECT k FROM t WHERE k IN "
        "(SELECT k FROM t VERSION AS OF 1) ORDER BY k"
    ).collect()
    assert [r["k"] for r in got] == [1, 3]
    # two DIFFERENT versions in one statement
    got = e.sql(
        "SELECT (SELECT count(*) FROM t VERSION AS OF 1) AS n1, "
        "(SELECT count(*) FROM t VERSION AS OF 2) AS n2"
    ).collect()[0]
    assert (got["n1"], got["n2"]) == (3, 2)
    # non-catalog names pass through untouched (no rewrite, loud
    # Spark error — not a silent misparse)
    with pytest.raises(Exception):
        e.sql("SELECT k FROM nosuch VERSION AS OF 1")


def test_insert_named_columns(spark, eng):
    e, p = eng
    e.sql("INSERT INTO t (v, k) SELECT 70, 7")
    got = _rows(spark, p)
    assert got[7] == (70, None)  # status unnamed -> NULL
    e.sql("INSERT INTO t (k, status) VALUES (8, 'part')")
    got = _rows(spark, p)
    assert got[8] == (None, "part")
    with pytest.raises(ValueError, match="unknown"):
        e.sql("INSERT INTO t (k, nope) VALUES (9, 9)")
    with pytest.raises(ValueError, match="duplicate"):
        e.sql("INSERT INTO t (k, k) VALUES (9, 9)")
    with pytest.raises(ValueError, match="column list names"):
        e.sql("INSERT INTO t (k, v) VALUES (9, 9, 'x')")


def test_create_table_warehouse_default(spark, eng, tmp_path):
    e, p = eng
    wh = os.path.join(str(tmp_path), "wh")
    e.warehouse = wh
    v = e.sql("CREATE TABLE summary AS SELECT status, count(*) AS n FROM t GROUP BY status")
    assert v == 1
    assert e.catalog["summary"] == f"{wh}/summary"
    got = {
        r["status"]: r["n"]
        for r in e.sql("SELECT * FROM summary").collect()
    }
    assert got == {"live": 2, "expired": 1}
    # without a warehouse root the LOCATION-less form is a loud error
    e2 = SqlEngine(spark, {"t": p})
    with pytest.raises(ValueError, match="warehouse"):
        e2.sql("CREATE TABLE x AS SELECT 1 AS a")


def test_insert_replace_where_statement(spark, eng):
    e, p = eng
    v = e.sql(
        "INSERT INTO t REPLACE WHERE status = 'live' "
        "SELECT 7, 70, 'live'"
    )
    assert v == 2
    got = _rows(spark, p)
    assert got == {3: (30, "expired"), 7: (70, "live")}
    # leaking outside the window aborts (validation inside the op)
    with pytest.raises(ValueError, match="outside the predicate window"):
        e.sql(
            "INSERT INTO t REPLACE WHERE status = 'live' "
            "SELECT 8, 80, 'dead'"
        )
    # a balanced subquery predicate parses (the lazy capture extends
    # past '(SELECT' because no whitespace precedes it) and validates:
    # k=9 is not in t, so the incoming row is outside the window
    with pytest.raises(ValueError, match="outside the predicate window"):
        e.sql(
            "INSERT INTO t REPLACE WHERE k IN (SELECT k FROM t) "
            "SELECT 9, 90, 'x'"
        )
    # named-column form composes with REPLACE WHERE
    v = e.sql(
        "INSERT INTO t (k, status) REPLACE WHERE status = 'expired' "
        "VALUES (12, 'expired')"
    )
    got = _rows(spark, p)
    assert got[12] == (None, "expired") and 3 not in got


def test_show_tables_and_describe_detail(spark, eng, tmp_path):
    e, p = eng
    got = {(r["name"], r["location"]) for r in e.sql("SHOW TABLES").collect()}
    assert got == {("t", p)}
    e.sql("DELETE FROM t WHERE k = 2")
    d = e.sql("DESCRIBE DETAIL t").collect()[0]
    assert d["name"] == "t" and d["location"] == p
    assert d["version"] == 2 and d["has_deletion_vector"]
    assert d["dv_rows"] == 1 and d["num_columns"] == 3
    assert d["committed_at"] > 0


def test_create_and_drop_view(spark, eng):
    e, p = eng
    e.sql("CREATE VIEW live AS SELECT k, v FROM t WHERE status = 'live'")
    assert sorted(
        r["k"] for r in e.sql("SELECT k FROM live").collect()
    ) == [1, 2]
    # views see the CURRENT snapshot, not the definition-time one
    e.sql("DELETE FROM t WHERE k = 2")
    assert sorted(
        r["k"] for r in e.sql("SELECT k FROM live").collect()
    ) == [1]
    # view over view
    e.sql("CREATE VIEW live_small AS SELECT k FROM live WHERE v < 15")
    assert [r["k"] for r in e.sql("SELECT * FROM live_small").collect()] == [1]
    # bad definitions fail at CREATE, and don't clobber the prior one
    with pytest.raises(Exception):
        e.sql("CREATE OR REPLACE VIEW live AS SELECT nope FROM t")
    assert sorted(
        r["k"] for r in e.sql("SELECT k FROM live").collect()
    ) == [1]
    with pytest.raises(ValueError, match="exists"):
        e.sql("CREATE VIEW live AS SELECT 1 AS x")
    e.sql("DROP VIEW live_small")
    with pytest.raises(ValueError, match="unknown view"):
        e.sql("DROP VIEW live_small")
    # replace narrows the view; dependents were dropped above (a
    # replace that breaks a dependent fails loudly at replace time)
    e.sql("CREATE OR REPLACE VIEW live AS SELECT k FROM t")
    assert sorted(
        r["k"] for r in e.sql("SELECT k FROM live").collect()
    ) == [1, 3]


def test_drop_table_managed_vs_external(spark, eng, tmp_path):
    import os as _os

    e, p = eng
    wh = os.path.join(str(tmp_path), "wh")
    e.warehouse = wh
    e.sql("CREATE TABLE managed AS SELECT k FROM t")
    assert _os.path.isdir(f"{wh}/managed")
    e.sql("DROP TABLE managed")
    assert "managed" not in e.catalog
    assert not _os.path.exists(f"{wh}/managed")  # managed: storage reclaimed
    # external table (explicit LOCATION): catalog-only removal
    loc = os.path.join(str(tmp_path), "ext")
    e.sql(f"CREATE TABLE ext LOCATION '{loc}' AS SELECT k FROM t")
    e.sql("DROP TABLE ext")
    assert "ext" not in e.catalog and _os.path.isdir(loc)
    e.sql("DROP TABLE IF EXISTS nosuch")  # quiet
    with pytest.raises(ValueError, match="unknown table"):
        e.sql("DROP TABLE nosuch")


def test_drop_table_cascades_invalid_views(spark, eng, tmp_path, capsys):
    """ADVICE r10 #1: DROP TABLE must not leave dangling views —
    _register_views re-analyzes every view EAGERLY on every statement,
    so one dangling view used to wedge the whole session. The cascade
    is analysis-based and transitive (view over view), loud on
    stderr, and unrelated views survive."""
    e, p = eng
    wh = os.path.join(str(tmp_path), "wh")
    e.warehouse = wh
    e.sql("CREATE TABLE base AS SELECT k, v FROM t")
    e.sql("CREATE VIEW on_base AS SELECT k FROM base")
    e.sql("CREATE VIEW on_on_base AS SELECT * FROM on_base WHERE k > 0")
    e.sql("CREATE VIEW on_t AS SELECT k FROM t")  # unrelated, survives
    e.sql("DROP TABLE base")
    err = capsys.readouterr().err
    assert "invalidated view 'on_base'" in err
    assert "invalidated view 'on_on_base'" in err
    # the session stays usable: statements not touching the views work
    assert [r["k"] for r in e.sql("SELECT k FROM on_t ORDER BY k").collect()
            ] == [1, 2, 3]
    assert "on_base" not in e.views and "on_on_base" not in e.views
    # and the dropped views are gone from the Spark catalog too
    with pytest.raises(Exception):
        e.sql("SELECT * FROM on_base")


def test_ctas_rejects_existing_view_name(spark, eng, tmp_path):
    """ADVICE r10 #2: a view with the same name would silently SHADOW
    the new table in SELECTs (views register after tables) while DML
    writes the table — CTAS must refuse the name."""
    e, p = eng
    e.warehouse = os.path.join(str(tmp_path), "wh")
    e.sql("CREATE VIEW taken AS SELECT k FROM t")
    with pytest.raises(ValueError, match="is a view"):
        e.sql("CREATE TABLE taken AS SELECT k FROM t")
    assert "taken" not in e.catalog


def test_insert_overwrite(spark, eng):
    e, p = eng
    v = e.sql(
        "INSERT OVERWRITE t SELECT k, v * 2 AS v, status FROM t "
        "WHERE status = 'live'"
    )
    assert v == 2
    assert _rows(spark, p) == {1: (20, "live"), 2: (40, "live")}
    # history stays queryable (rewrite lineage, not a carry)
    assert sorted(
        r["k"] for r in e.sql("SELECT k FROM t VERSION AS OF 1").collect()
    ) == [1, 2, 3]
    # TABLE keyword form; VALUES source
    v = e.sql("INSERT OVERWRITE TABLE t VALUES (9, 90, 'only')")
    assert _rows(spark, p) == {9: (90, "only")}
    # OVERWRITE + REPLACE WHERE is contradictory — loud error
    with pytest.raises(ValueError, match="WHOLE table"):
        e.sql(
            "INSERT OVERWRITE t REPLACE WHERE k = 1 SELECT 1, 1, 'x'"
        )


def test_time_travel_quoted_identifier_not_rewritten(spark, eng):
    """Backquoted identifiers are OUTSIDE the rewrite grammar: the
    time-travel regex only matches bare \\w+ names, so a quoted ref
    passes through to Spark and fails loudly — never a silent
    misparse (verdict r9 #7's remaining cell)."""
    e, p = eng
    with pytest.raises(Exception):
        e.sql("SELECT k FROM `t` VERSION AS OF 1")


def test_delete_update_with_subquery_predicates(spark, eng):
    """Subquery predicates resolve against the catalog's snapshot
    views, and see the PRE-statement state (standard SQL DML
    semantics)."""
    e, p = eng
    e.sql("DELETE FROM t WHERE k IN (SELECT k FROM t WHERE v > 15)")
    assert sorted(r["k"] for r in e.sql("SELECT k FROM t").collect()) == [1]
    e.sql("INSERT INTO t VALUES (5, 50, 'x')")
    e.sql(
        "UPDATE t SET v = (SELECT max(v) FROM t) + 1 WHERE k = 1"
    )
    got = {r["k"]: r["v"] for r in e.sql("SELECT k, v FROM t").collect()}
    assert got == {1: 51, 5: 50}


def test_tags_sql_surface(spark, eng):
    """Named refs through SQL: CREATE/DROP TAG, SHOW REFS, and
    VERSION AS OF '<tag>' time travel; tagged versions survive
    VACUUM (refs pin history)."""
    e, p = eng
    v = e.sql("ALTER TABLE t CREATE TAG baseline")
    assert v == 1
    e.sql("DELETE FROM t WHERE k = 2")  # v2
    e.sql("ALTER TABLE t CREATE TAG post-delete AS OF VERSION 2")
    got = {(r["name"], r["version"]) for r in e.sql("SHOW REFS t").collect()}
    assert got == {("baseline", 1), ("post-delete", 2)}
    assert sorted(
        r["k"]
        for r in e.sql("SELECT k FROM t VERSION AS OF 'baseline'").collect()
    ) == [1, 2, 3]
    # a tag pins its version through VACUUM
    e.sql("INSERT INTO t SELECT 7, 70, 'new'")  # v3
    e.sql("VACUUM t RETAIN 1 VERSIONS")
    assert sorted(
        r["k"]
        for r in e.sql("SELECT k FROM t VERSION AS OF 'baseline'").collect()
    ) == [1, 2, 3]
    e.sql("ALTER TABLE t DROP TAG post-delete")
    assert {r["name"] for r in e.sql("SHOW REFS t").collect()} == {"baseline"}
    with pytest.raises(ValueError, match="no tag"):
        e.sql("ALTER TABLE t DROP TAG nope")


def test_describe_table_and_show_create(spark, eng, tmp_path):
    """Introspection round-out (verdict r10 #6): DESCRIBE [EXTENDED]
    prints the column section (+ manifest detail: partition columns,
    checks, refs, history-index freshness) and SHOW CREATE TABLE
    reconstructs a createtab_stmt — all metadata-plane."""
    from temp_data_pipeline_spark.operators.versioned import (
        tag_version,
        write_history_index,
    )

    e, p = eng
    e.sql("ALTER TABLE t ADD CONSTRAINT v_pos CHECK (v > 0)")
    tag_version(spark, p, "rc1", 1)

    cols = {r["col_name"]: r["data_type"]
            for r in e.sql("DESCRIBE t").collect()}
    assert cols == {"k": "bigint", "v": "bigint", "status": "string"}
    assert cols == {r["col_name"]: r["data_type"]
                    for r in e.sql("DESCRIBE TABLE t").collect()}

    ext = {r["col_name"]: (r["data_type"], r["comment"])
           for r in e.sql("DESCRIBE EXTENDED t").collect()}
    assert ext["Name"][0] == "t" and ext["Location"][0] == p
    assert ext["Check: v_pos"][0] == "v > 0"
    assert ext["Ref: rc1"][0] == "1"
    assert ext["History Index"][0] == "absent"
    write_history_index(spark, p)
    ext = {r["col_name"]: r["data_type"]
           for r in e.sql("DESCRIBE EXTENDED t").collect()}
    assert ext["History Index"] == "fresh"

    stmt = e.sql("SHOW CREATE TABLE t").collect()[0]["createtab_stmt"]
    assert "CREATE TABLE t (" in stmt
    assert "k BIGINT" in stmt and "status STRING" in stmt
    assert f"LOCATION '{p}'" in stmt
    assert "ADD CONSTRAINT v_pos CHECK (v > 0)" in stmt

    # partitioned table: spec surfaces in both outputs
    from temp_data_pipeline_spark.operators.versioned import commit_version

    pp = os.path.join(str(tmp_path), "parts")
    commit_version(
        spark.createDataFrame([(1, 5, "a")], SCHEMA),
        pp,
        partition_by=["status"],
    )
    e.catalog["parts"] = pp
    ext = {r["col_name"]: (r["data_type"], r["comment"])
           for r in e.sql("DESCRIBE EXTENDED parts").collect()}
    assert ext["status"][1] == "partition column"
    assert ext["Partition Columns"][0] == "status"
    stmt = e.sql("SHOW CREATE TABLE parts").collect()[0]["createtab_stmt"]
    assert "PARTITIONED BY (status)" in stmt


def test_merge_multi_clause_cdc(spark, eng):
    """Delta's multi-clause MERGE: several WHEN MATCHED clauses walk
    in order, first satisfied condition wins; several WHEN NOT
    MATCHED inserts OR together."""
    e, p = eng
    spark.createDataFrame(
        [
            (1, 0, "D"),      # matched -> delete (first clause)
            (2, 99, "U"),     # matched -> conditional update
            (3, 77, "X"),     # matched -> catch-all update
            (8, 80, "I"),     # unmatched -> inserted (first insert)
            (9, 90, "U"),     # unmatched -> inserted (second insert)
            (10, 5, "D"),     # unmatched delete -> ignored
        ],
        SCHEMA,
    ).createOrReplaceTempView("cdc_src")
    v = e.sql(
        """
        MERGE INTO t USING cdc_src AS s ON t.k = s.k
        WHEN MATCHED AND s.status = 'D' THEN DELETE
        WHEN MATCHED AND s.status = 'U'
          THEN UPDATE SET v = s.v, status = 'upd'
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED AND s.status = 'I' THEN INSERT *
        WHEN NOT MATCHED AND s.status = 'U' THEN INSERT *
        """
    )
    assert v == 2
    assert _rows(spark, p) == {
        2: (99, "upd"),
        3: (77, "X"),
        8: (80, "I"),
        9: (90, "U"),
    }


def test_merge_multi_clause_dead_clause_guard(spark, eng):
    e, p = eng
    with pytest.raises(ValueError, match="only the last matched"):
        e.sql(
            "MERGE INTO t USING t AS s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN MATCHED AND s.v > 0 THEN DELETE"
        )


def test_show_partitions(spark, eng, tmp_path):
    e, p = eng
    loc = os.path.join(str(tmp_path), "parts")
    e.sql(
        f"CREATE TABLE parts LOCATION '{loc}' PARTITIONED BY (status) "
        "AS SELECT k, v, status FROM t"
    )
    got = e.sql("SHOW PARTITIONS parts")
    assert got.columns == ["status"]
    assert sorted(r["status"] for r in got.collect()) == [
        "expired", "live",
    ]
    # a later insert adds a partition; VERSION AS OF sees the old set
    e.sql("INSERT INTO parts VALUES (9, 90, 'new')")
    assert sorted(
        r["status"] for r in e.sql("SHOW PARTITIONS parts").collect()
    ) == ["expired", "live", "new"]
    assert sorted(
        r["status"]
        for r in e.sql("SHOW PARTITIONS parts VERSION AS OF 1").collect()
    ) == ["expired", "live"]
    # typed per the manifest: an int partition comes back as a long
    loc2 = os.path.join(str(tmp_path), "bynum")
    e.sql(
        f"CREATE TABLE bynum LOCATION '{loc2}' PARTITIONED BY (k) "
        "AS SELECT k, v FROM t"
    )
    got = e.sql("SHOW PARTITIONS bynum")
    assert got.schema["k"].dataType.simpleString() == "bigint"
    assert sorted(r["k"] for r in got.collect()) == [1, 2, 3]
    with pytest.raises(ValueError, match="not partitioned"):
        e.sql("SHOW PARTITIONS t")


def test_table_changes_cdf(spark, eng):
    """Delta's table_changes('t', since[, until]) rewrites to the
    row-level change feed."""
    e, p = eng
    e.sql("DELETE FROM t WHERE k = 2")            # v2
    e.sql("INSERT INTO t SELECT 9, 90, 'new'")    # v3
    got = sorted(
        (r["k"], r["_change_type"])
        for r in e.sql(
            "SELECT k, _change_type FROM table_changes('t', 1)"
        ).collect()
    )
    assert got == [(2, "delete"), (9, "insert")]
    # bounded window: only the delete
    got = sorted(
        (r["k"], r["_change_type"])
        for r in e.sql(
            "SELECT k, _change_type FROM table_changes('t', 1, 2)"
        ).collect()
    )
    assert got == [(2, "delete")]
    # composes with aggregation over the feed
    n = e.sql(
        "SELECT COUNT(*) AS n FROM table_changes('t', 1) "
        "WHERE _change_type = 'insert'"
    ).collect()[0]["n"]
    assert n == 1
    with pytest.raises(ValueError, match="unknown table"):
        e.sql("SELECT * FROM table_changes('nope', 1)")


def test_create_table_explicit_schema(spark, eng, tmp_path):
    e, p = eng
    loc = os.path.join(str(tmp_path), "empty")
    v = e.sql(
        f"CREATE TABLE fresh (k BIGINT, amt DECIMAL(12,2), tag STRING) "
        f"LOCATION '{loc}'"
    )
    assert v == 1
    got = e.sql("SELECT * FROM fresh")
    assert got.count() == 0
    assert [f.dataType.simpleString() for f in got.schema.fields] == [
        "bigint", "decimal(12,2)", "string",
    ]
    e.sql("INSERT INTO fresh VALUES (1, 9.50, 'a')")
    assert e.sql("SELECT * FROM fresh").count() == 1
    # partitioned empty table
    loc2 = os.path.join(str(tmp_path), "p")
    e.sql(
        f"CREATE TABLE pfresh (k BIGINT, part STRING) "
        f"PARTITIONED BY (part) LOCATION '{loc2}'"
    )
    e.sql("INSERT INTO pfresh VALUES (1, 'x')")
    assert sorted(
        r["part"] for r in e.sql("SHOW PARTITIONS pfresh").collect()
    ) == ["x"]


def test_tblproperties(spark, eng):
    e, p = eng
    v = e.sql(
        "ALTER TABLE t SET TBLPROPERTIES ('owner' = 'etl', "
        "'pipeline.tier' = 'gold')"
    )
    assert v == 2
    got = {
        r["key"]: r["value"]
        for r in e.sql("SHOW TBLPROPERTIES t").collect()
    }
    assert got == {"owner": "etl", "pipeline.tier": "gold"}
    # properties ride later commits
    e.sql("INSERT INTO t SELECT 9, 90, 'new'")
    got = {
        r["key"]: r["value"]
        for r in e.sql("SHOW TBLPROPERTIES t").collect()
    }
    assert got["owner"] == "etl"
    e.sql("ALTER TABLE t UNSET TBLPROPERTIES ('owner')")
    got = {
        r["key"]: r["value"]
        for r in e.sql("SHOW TBLPROPERTIES t").collect()
    }
    assert "owner" not in got and got["pipeline.tier"] == "gold"
    with pytest.raises(ValueError, match="no such table propert"):
        e.sql("ALTER TABLE t UNSET TBLPROPERTIES ('nope')")


def test_vacuum_dry_run_and_restore_timestamp(spark, eng):
    e, p = eng
    e.sql("DELETE FROM t WHERE k = 2")     # v2
    e.sql("INSERT INTO t SELECT 9, 90, 'new'")  # v3
    # dry run: reports expirable versions, deletes nothing
    got = [r["version"] for r in e.sql("VACUUM t RETAIN 1 VERSIONS DRY RUN").collect()]
    assert got == [1, 2]
    assert [r["version"] for r in e.sql("DESCRIBE HISTORY t").collect()] == [
        1, 2, 3,
    ]
    # restore by timestamp: land between v1 and v2 -> restores v1
    from temp_data_pipeline_spark.operators.versioned import read_manifest

    t1 = float(read_manifest(spark, p, 1)["committed_at"]) + 0.001
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(t1, tz=timezone.utc).isoformat()
    v = e.sql(f"RESTORE t TO TIMESTAMP AS OF '{iso}'")
    assert v == 4
    assert sorted(r["k"] for r in e.sql("SELECT k FROM t").collect()) == [
        1, 2, 3,
    ]


def test_merge_insert_values_and_partial_set(spark, eng):
    """INSERT (cols) VALUES (exprs) + the published partial-SET
    contract (unlisted columns keep the TARGET's value)."""
    e, p = eng
    spark.createDataFrame(
        [(1, 99, "zz"), (8, 80, "hot"), (9, 90, "cold")], SCHEMA
    ).createOrReplaceTempView("ivsrc")
    v = e.sql(
        """
        MERGE INTO t USING ivsrc AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED AND s.status = 'hot'
          THEN INSERT (k, v, status) VALUES (s.k, s.v * 2, 'H')
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
        """
    )
    assert v == 2
    assert _rows(spark, p) == {
        1: (99, "live"),      # partial SET: status stays the target's
        2: (20, "live"),
        3: (30, "expired"),
        8: (160, "H"),        # first insert clause
        9: (90, None),        # catch-all: status unlisted -> NULL
    }
    with pytest.raises(ValueError, match="VALUES has"):
        e.sql(
            "MERGE INTO t USING ivsrc AS s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k)"
        )


def test_column_defaults(spark, eng, tmp_path):
    """Column DEFAULTs: apply to rows written AFTER the default is
    set (INSERT named-columns, MERGE INSERT VALUES, COPY INTO);
    existing rows keep NULL — the Delta contract."""
    e, p = eng
    e.sql("ALTER TABLE t ADD COLUMN score double DEFAULT 1.5")
    # existing rows: NULL (the default is not a backfill)
    assert all(
        r["score"] is None
        for r in e.sql("SELECT score FROM t WHERE k <= 3").collect()
    )
    # INSERT without the column applies the default
    e.sql("INSERT INTO t (k, v, status) VALUES (7, 70, 'new')")
    got = {r["k"]: r["score"] for r in e.sql("SELECT k, score FROM t").collect()}
    assert got[7] == 1.5 and got[1] is None
    # MERGE INSERT VALUES with the column unlisted
    spark.createDataFrame(
        [(8, 80, "m", 0.0)], "k long, v long, status string, score double"
    ).createOrReplaceTempView("dsrc")
    e.sql(
        "MERGE INTO t USING dsrc AS s ON t.k = s.k "
        "WHEN NOT MATCHED THEN INSERT (k, v, status) "
        "VALUES (s.k, s.v, s.status)"
    )
    got = {r["k"]: r["score"] for r in e.sql("SELECT k, score FROM t").collect()}
    assert got[8] == 1.5
    # SET DEFAULT replaces, DROP DEFAULT reverts to NULL fill
    e.sql("ALTER TABLE t ALTER COLUMN score SET DEFAULT 9.0")
    e.sql("INSERT INTO t (k, v, status) VALUES (9, 90, 'x')")
    e.sql("ALTER TABLE t ALTER COLUMN score DROP DEFAULT")
    e.sql("INSERT INTO t (k, v, status) VALUES (10, 100, 'y')")
    got = {r["k"]: r["score"] for r in e.sql("SELECT k, score FROM t").collect()}
    assert got[9] == 9.0 and got[10] is None
    # COPY INTO files lacking the column apply the default too
    e.sql("ALTER TABLE t ALTER COLUMN score SET DEFAULT 2.5")
    land = os.path.join(str(tmp_path), "landing")
    spark.createDataFrame(
        [(20, 200, "c")], "k long, v long, status string"
    ).coalesce(1).write.parquet(os.path.join(land, "w"))
    e.sql(
        f"COPY INTO t FROM '{land}' FILEFORMAT = PARQUET "
        "PATTERN = '*/part-*.parquet'"
    )
    got = {r["k"]: r["score"] for r in e.sql("SELECT k, score FROM t").collect()}
    assert got[20] == 2.5
    # validation happens at DDL time
    with pytest.raises(Exception):
        e.sql("ALTER TABLE t ALTER COLUMN score SET DEFAULT not_a_func(")
    with pytest.raises(ValueError, match="no default to drop"):
        e.sql("ALTER TABLE t ALTER COLUMN v DROP DEFAULT")


def test_bucketed_ctas_console_lifecycle(spark, tmp_path):
    """CLUSTERED BY CTAS -> zero-Exchange console join -> INSERT INTO
    drifts -> OPTIMIZE rebuckets -> introspection shows the spec."""
    from temp_data_pipeline_spark.operators.bucketing import bucket_spec

    wh = str(tmp_path / "wh")
    src = os.path.join(str(tmp_path), "src")
    commit_version(
        spark.createDataFrame(
            [(i % 16, i, float(i)) for i in range(400)],
            "k long, seq long, x double",
        ),
        src,
    )
    e = SqlEngine(spark, {"src": src}, warehouse=wh)
    e.sql(
        "CREATE TABLE fact CLUSTERED BY (k) INTO 4 BUCKETS "
        "AS SELECT k, seq, x FROM src"
    )
    e.sql(
        "CREATE TABLE dim CLUSTERED BY (k) INTO 4 BUCKETS "
        "AS SELECT DISTINCT k, k * 100 AS label FROM src"
    )
    assert bucket_spec(spark, f"{wh}/fact") == {
        "bucket_by": ["k"], "n": 4, "sort_by": ["k"],
    }
    # console join between the two co-bucketed tables: zero Exchange
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        df = e.sql(
            "SELECT f.k, f.seq, d.label FROM fact f "
            "JOIN dim d ON f.k = d.k"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "Exchange" not in plan
        assert df.count() == 400
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old)
    # DESCRIBE DETAIL / SHOW CREATE surface the layout
    d = e.sql("DESCRIBE DETAIL fact").collect()[0]
    assert d["bucket_columns"] == "k" and d["num_buckets"] == 4
    stmt = e.sql("SHOW CREATE TABLE fact").collect()[0]["createtab_stmt"]
    assert "CLUSTERED BY (k) INTO 4 BUCKETS" in stmt
    # INSERT INTO appends (spec inherited, locality deferred) ...
    e.sql("INSERT INTO fact SELECT k, seq + 1000, x FROM src WHERE k = 3")
    assert bucket_spec(spark, f"{wh}/fact") is not None
    assert e.sql("SELECT COUNT(*) AS n FROM fact").collect()[0]["n"] == 425
    # ... and OPTIMIZE is the rebucket pass: back to one clean dir
    e.sql("OPTIMIZE fact")
    d2 = e.sql("DESCRIBE DETAIL fact").collect()[0]
    assert d2["num_data_dirs"] == 1 and d2["num_buckets"] == 4
    assert e.sql("SELECT COUNT(*) AS n FROM fact").collect()[0]["n"] == 425


def test_bucketed_ctas_rejects_partitioned_combo(spark, tmp_path):
    src = os.path.join(str(tmp_path), "src")
    commit_version(
        spark.createDataFrame([(1, 10, "a")], SCHEMA), src
    )
    e = SqlEngine(spark, {"src": src}, warehouse=str(tmp_path / "wh"))
    with pytest.raises(ValueError, match="mutually exclusive"):
        e.sql(
            "CREATE TABLE t2 PARTITIONED BY (status) "
            "CLUSTERED BY (k) INTO 4 BUCKETS AS SELECT * FROM src"
        )


def test_engines_sharing_a_table_name_read_their_own(spark, tmp_path):
    """Temp views are session-wide: two engines on one session that
    both name a table ``daily`` (and a view ``hot``) each read their
    own, however their statements interleave."""
    pa = os.path.join(str(tmp_path), "a")
    pb = os.path.join(str(tmp_path), "b")
    commit_version(spark.createDataFrame([(1, "A")], "k long, s string"), pa)
    commit_version(spark.createDataFrame([(2, "B")], "k long, s string"), pb)
    ea = SqlEngine(spark, {"daily": pa})
    eb = SqlEngine(spark, {"daily": pb})

    def read(e, name):
        return [tuple(r) for r in e.sql(f"SELECT * FROM {name}").collect()]

    assert read(ea, "daily") == [(1, "A")]
    assert read(eb, "daily") == [(2, "B")]
    assert read(ea, "daily") == [(1, "A")]
    ea.sql("CREATE VIEW hot AS SELECT s FROM daily")
    eb.sql("CREATE VIEW hot AS SELECT s FROM daily")
    assert read(ea, "hot") == [("A",)]
    assert read(eb, "hot") == [("B",)]
    assert read(ea, "hot") == [("A",)]
    assert read(eb, "daily") == [(2, "B")]


def test_time_travel_text_inside_a_literal_is_data(spark, eng):
    e, p = eng
    got = e.sql(
        "SELECT 't VERSION AS OF 1' AS s, k FROM t -- t VERSION AS OF 1\n"
        "WHERE k = 1"
    ).collect()
    assert [(r["s"], r["k"]) for r in got] == [("t VERSION AS OF 1", 1)]


def test_backtick_targets(spark, eng):
    e, p = eng
    e.sql("UPDATE `t` SET v = v + 1 WHERE k = 1")
    e.sql("DELETE FROM `t` WHERE k = 2")
    spark.createDataFrame([(3, 33, "m")], SCHEMA).createOrReplaceTempView("btsrc")
    e.sql(
        "MERGE INTO `t` USING btsrc AS `s` ON `t`.`k` = s.k "
        "WHEN MATCHED THEN UPDATE SET `v` = `s`.v"
    )
    assert _rows(spark, p) == {1: (11, "live"), 3: (33, "expired")}


def test_comments_escapes_and_double_quotes(spark, eng):
    """A ``--`` comment holding ``(`` and WHEN, a ``''`` escape in a
    literal that looks like an aliased column, and a double-quoted
    string with a comma in a SET list all reach the operators as
    written."""
    e, p = eng
    e.sql(
        "MERGE INTO t AS a USING t AS b ON a.k = b.k -- ( WHEN MATCHED THEN DELETE\n"
        "WHEN MATCHED AND b.k = 1 THEN UPDATE SET status = 'b.v''s'"
    )
    e.sql('UPDATE t SET status = "a,b", v = v + 1 WHERE k = 2')
    assert _rows(spark, p) == {
        1: (10, "b.v's"),
        2: (21, "a,b"),
        3: (30, "expired"),
    }


def test_merge_case_in_when_condition_unparenthesized(spark, eng):
    e, p = eng
    e.sql(
        "MERGE INTO t USING (SELECT k, v * 2 AS v, status FROM t) s "
        "ON t.k = s.k "
        "WHEN MATCHED AND CASE WHEN s.v > 25 THEN true ELSE false END "
        "THEN UPDATE SET v = s.v"
    )
    assert _rows(spark, p) == {
        1: (10, "live"),
        2: (40, "live"),
        3: (60, "expired"),
    }


def test_merge_clause_family_order(spark, eng):
    """MATCHED, then NOT MATCHED [BY TARGET], then NOT MATCHED BY
    SOURCE — Spark's grammar and Delta's rule, named in the error."""
    e, p = eng
    with pytest.raises(ValueError, match="clause families go in the order"):
        e.sql(
            "MERGE INTO t USING t AS s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT * "
            "WHEN MATCHED THEN DELETE"
        )


def test_update_and_merge_star_up_cast_values(spark, eng):
    """UPDATE SET and MERGE SET * / INSERT * values are cast to the
    target column's type when the cast is a widening one (INT literal
    into BIGINT), and the rows read back typed."""
    e, p = eng
    e.sql("UPDATE t SET v = 7 WHERE k = 1")
    e.sql(
        "MERGE INTO t USING (SELECT 2 AS k, 99 AS v, 'm' AS status) s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    e.sql(
        "MERGE INTO t USING (SELECT 4 AS k, 40 AS v, 'n' AS status) s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    snap = read_table(spark, p)
    assert dict(snap.dtypes) == {"k": "bigint", "v": "bigint", "status": "string"}
    assert _rows(spark, p) == {
        1: (7, "live"),
        2: (99, "m"),
        3: (30, "expired"),
        4: (40, "n"),
    }


def test_update_refuses_narrowing_and_incompatible_values(spark, tmp_path):
    """Only a widening cast is applied: a BIGINT value into an INT
    column and a string into a numeric column still fail the commit's
    schema check instead of writing NULL."""
    p = os.path.join(str(tmp_path), "ti")
    commit_version(
        spark.createDataFrame([(1, 10, 100)], "k long, i int, v long"), p
    )
    e = SqlEngine(spark, {"t": p})
    with pytest.raises(ValueError, match="retypes"):
        e.sql("UPDATE t SET i = 3000000000 WHERE k = 1")
    with pytest.raises(ValueError, match="retypes"):
        e.sql("UPDATE t SET v = 'abc' WHERE k = 1")
    assert versions(spark, p) == [1]
    assert [tuple(r) for r in read_table(spark, p).collect()] == [(1, 10, 100)]
    # a value is checked only once the UPDATE matched a row
    assert e.sql("UPDATE t SET v = 'abc' WHERE k = 999") == 1
    assert versions(spark, p) == [1]


def test_nondeterministic_conditions_are_refused(spark, eng):
    """A WHERE or clause condition the DV write and the append would
    each evaluate differently is refused before anything is written."""
    e, p = eng
    before = versions(spark, p)
    with pytest.raises(ValueError, match="nondeterministic"):
        e.sql("UPDATE t SET v = 0 WHERE rand() < 0.5")
    with pytest.raises(ValueError, match="nondeterministic"):
        e.sql(
            "MERGE INTO t USING (SELECT 1 AS k) s ON t.k = s.k "
            "WHEN MATCHED AND rand() < 0.5 THEN DELETE"
        )
    assert versions(spark, p) == before
    assert e.sql(
        "UPDATE t SET v = CAST(rand() * 100 AS BIGINT) WHERE k = 1"
    ) == before[-1] + 1


def test_update_set_values_read_the_old_row(spark, eng):
    """Every SET value is computed from the row as it was before the
    UPDATE (SQL semantics), so one statement can swap two columns."""
    e, p = eng
    e.sql("UPDATE t SET k = v, v = k WHERE k = 1")
    assert _rows(spark, p) == {
        10: (1, "live"),
        2: (20, "live"),
        3: (30, "expired"),
    }


# Spark jobs each DML statement below runs; pinned so a change to the
# row-change path cannot add a job unnoticed. DELETE is the sidecar
# write (a shuffle-map job and a write job). UPDATE first materializes
# the persisted rows its WHERE matched (both the sidecar write and the
# append read them) and then appends the rewritten rows; one that
# matches nothing writes the sidecar, sees no new position in its
# observed count and commits nothing.
_DML_JOBS = {
    "delete": 2,
    "update": 4,
    "update_nothing": 3,
    "merge": 5,
}


def test_dml_statement_job_counts(spark, tmp_path):
    """The perfbench DELETE and MERGE shapes plus a matching and a
    non-matching UPDATE, each counted under its own job group."""
    import datetime as dt

    p = os.path.join(str(tmp_path), "daily")
    schema = "station_id string, date_local date, tmax_c double"
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    rows = [(f"S{i}", d, float(i)) for i in range(4) for d in (d1, d2)]
    commit_version(spark.createDataFrame(rows, schema), p)
    e = SqlEngine(spark, {"daily": p})
    spark.createDataFrame(
        [("S1", d2, 50.0), ("S9", d2, 9.0)], schema
    ).createOrReplaceTempView("corrections")
    statements = {
        "delete": "DELETE FROM daily WHERE station_id = 'S0' "
        "AND date_local = DATE'2024-01-01'",
        "update": "UPDATE daily SET tmax_c = tmax_c + 1 WHERE station_id = 'S2'",
        "update_nothing": "UPDATE daily SET tmax_c = 0 WHERE station_id = 'none'",
        "merge": "MERGE INTO daily t USING corrections s "
        "ON t.station_id = s.station_id AND t.date_local = s.date_local "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    }
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    got = {}
    for name, stmt in statements.items():
        group = f"dmljobs-{name}-{os.getpid()}-{id(tmp_path)}"
        sc.setJobGroup(group, name)
        try:
            e.sql(stmt)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        got[name] = len(tracker.getJobIdsForGroup(group))
    assert versions(spark, p) == [1, 2, 3, 4]
    snap = {
        (r["station_id"], r["date_local"]): r["tmax_c"]
        for r in read_table(spark, p).collect()
    }
    assert ("S0", d1) not in snap and snap[("S2", d1)] == 3.0
    assert snap[("S1", d2)] == 50.0 and snap[("S9", d2)] == 9.0
    assert len(snap) == 8
    assert got == _DML_JOBS
