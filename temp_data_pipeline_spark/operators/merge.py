"""Conditional MERGE INTO for versioned tables — the full Delta MERGE
clause family, executed as ONE merge-on-read commit:

    commit_merge_into(source, path, keys,
        update_when="s.price > t.price",       # WHEN MATCHED AND ...
        update_set={"price": "s.price"},       #   THEN UPDATE SET ...
        delete_when="t.status = 'expired'",    # WHEN MATCHED AND ...
        insert_when="amount > 0")              # WHEN NOT MATCHED AND ...

or, the general ordered form (Delta's multi-clause MERGE — clauses of
a family evaluate IN ORDER, first satisfied condition wins):

    commit_merge_into(source, path, keys,
        matched_clauses=[
            ("delete", "s.op = 'D'", None),
            ("update", "s.op = 'U'", {"price": "s.price"}),
            ("update", True, None),            # catch-all SET *
        ],
        insert_whens=["s.op <> 'D'"],
        by_source_clauses=[("delete", "t.stale", None)])

Clause semantics (Delta's):

  - each matched (target row, source row) pair walks the
    ``matched_clauses`` list in order; the FIRST clause whose
    condition holds fires. ``("update", cond, set)`` DVs the target
    row's position and appends one replacement built from ``set``
    (``col -> SQL expr`` over ``s.*``/``t.*``; None = SET * = take
    the source row; a PARTIAL set keeps every unlisted column from
    the TARGET — the published UPDATE contract);
    ``("delete", cond, None)`` DVs only. Pairs satisfying no clause
    are UNTOUCHED — their bytes are never rewritten (the MOR
    advantage over COW merge);
  - unmatched source rows walk ``insert_clauses`` — ordered
    ``(condition, values)`` pairs, first satisfied condition wins.
    ``values=None`` is INSERT * (take the source row); a dict is the
    explicit ``INSERT (cols) VALUES (exprs)`` form — expressions over
    the source's PLAIN column names, unlisted target columns fill
    typed NULL. ``insert_whens`` is shorthand for all-INSERT-*
    clauses. NO insert clause means unmatched source rows are
    IGNORED — the SQL MERGE contract;
  - a target row with NO matching source row ("NOT MATCHED BY
    SOURCE", Delta's sync-deletes family) walks
    ``by_source_clauses`` the same ordered way; conditions and SET
    expressions reference ``t.*`` only (there is no source row, so
    an update clause REQUIRES an explicit set dict — no SET * here).

The legacy one-per-kind kwargs (``update_when``/``update_set``/
``delete_when``/``insert_when``/``*_by_source_*``) remain and are
exactly the two-clause ordered form update → delete. Conditions are
SQL booleans over the aliased pair — ``s.<col>`` source, ``t.<col>``
target; ``True`` = unconditional. A condition-less clause must be
LAST in its family (everything after it would be dead — checked
loudly, the Delta rule). No clauses at all = validation error.

Plan shape: this module only normalizes and checks the clause lists
and picks the target scan; the rows are classified and committed by
the one merge-on-read row-change executor that DELETE, UPDATE,
REPLACE WHERE and upsert also run (deletion_vectors._row_change). The
target's position-finding scan is pruned to the files whose zone-map
key ranges can contain the source's keys
(deletion_vectors._visible_tagged_for_keys — O(candidate files) on
key-clustered tables), then ONE join against the source classifies
every pair: inner when there is no NOT MATCHED clause, so Spark can
broadcast the source, right-outer with one. Only the rows some clause
fires on are kept, and they persist only when both the DV write and
the append read them; clause conditions must therefore be
deterministic (Spark and Delta refuse ``rand()`` there too). Cost: one pruned scan + one keyed shuffle of the delta + one
delta-sized append; zero partition rewrites. Clause count only widens
the projection/filter expressions on that one frame — never adds a
job. SET * / INSERT * values are cast to the target column's type
where the cast widens (INT -> BIGINT); any other mismatch is refused
at commit.

With a by-source clause the pruned scan is impossible BY SEMANTICS —
every target row whose key is absent from the source is a candidate,
so the position scan is the full visible table and the classifying
join keeps the unmatched target rows (left- or full-outer: exactly what Delta does: NOT MATCHED BY
SOURCE reads the whole target). The join still shuffles only once,
only the rows a clause fires on persist, and only changed positions
join the DV; at 100 TB the full-scan cost is the clause's inherent
price, paid only when the clause is present.

CONTRACTS: ``keys`` must uniquely identify SOURCE rows (resolve
last-writer-wins upstream via operators/upsert.keep_latest); target
rows need not be unique per key — every matched target row is
updated/deleted per its pair. Appends project onto the TARGET's
columns: the source may carry EXTRA columns (CDC op codes, sequence
numbers) referenced only in clause conditions, but must contain every
target column; on an EMPTY target the insert defines the schema.
``allow_evolution=True`` (SQL: ``MERGE WITH SCHEMA EVOLUTION INTO``)
is Delta's autoMerge: new source columns the merge ASSIGNS (via
SET * / INSERT * or an explicit SET/VALUES name) are ADDED to the
target schema — appended last, existing rows reading NULL by the
add-column evolution contract — while merely-referenced extras still
never land. No reference counterpart; semantics follow Delta's MERGE
as published.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from temp_data_pipeline_spark.operators.deletion_vectors import (
    _cond,
    _row_change,
    _visible_tagged,
    _visible_tagged_for_keys,
)
from temp_data_pipeline_spark.operators.versioned import (
    commit_version,
    read_manifest,
    versions,
)

__all__ = ["commit_merge_into"]


def _check_order(conds: list, family: str) -> None:
    """The Delta rule: only the LAST clause of a family may be
    unconditional (everything after an always-true clause is dead)."""
    for i, c in enumerate(conds[:-1]):
        if c is None or c is True:
            raise ValueError(
                f"only the last {family} clause may omit its condition "
                f"(clause {i + 1} of {len(conds)} is unconditional — "
                "later clauses would be dead)"
            )


def _clause_family(
    clauses: list | None, update_when, update_set, delete_when, family: str
) -> list:
    """One family's ordered ``(kind, condition, set)`` list: the
    explicit ``clauses`` (validated: kinds, set dicts, and
    ``_check_order``), or else the one-per-kind kwargs as update, then
    delete. The kwargs form keeps its documented update-wins-over-
    delete precedence even when both are unconditional, so order is
    not checked there. A by-source update needs a set dict: there is
    no source row to SET * from."""
    by_source = family == "by-source"
    sfx = "_by_source" if by_source else ""
    if clauses is not None:
        if update_when is not None or delete_when is not None or update_set:
            raise ValueError(
                f"pass {family.replace('-', '_')}_clauses OR update{sfx}_"
                f"when/update{sfx}_set/delete{sfx}_when, not both"
            )
        for kind, _cond_, aset in clauses:
            if kind not in ("update", "delete"):
                raise ValueError(
                    f"{family} clause kind must be update|delete, got {kind!r}"
                )
            if kind == "delete" and aset:
                raise ValueError(f"{family} delete clause takes no set dict")
            if kind == "update" and by_source and not aset:
                raise ValueError(
                    f"{family} update clause requires a set dict "
                    "(there is no source row to SET * from)"
                )
        _check_order([c for _k, c, _a in clauses], family)
        return clauses
    if update_set and update_when is None:
        raise ValueError(
            f"update{sfx}_set without update{sfx}_when does nothing"
        )
    if by_source and update_when is not None and not update_set:
        raise ValueError(
            "update_by_source_when requires update_by_source_set "
            "(there is no source row to SET * from)"
        )
    return [
        (kind, cond, aset)
        for kind, cond, aset in (
            ("update", update_when, update_set),
            ("delete", delete_when, None),
        )
        if cond is not None
    ]


def commit_merge_into(
    source: DataFrame,
    path: str,
    keys: list[str],
    *,
    update_when=None,
    update_set: dict[str, object] | None = None,
    delete_when=None,
    insert_when=None,
    update_by_source_when=None,
    update_by_source_set: dict[str, object] | None = None,
    delete_by_source_when=None,
    matched_clauses: list | None = None,
    insert_whens: list | None = None,
    insert_clauses: list | None = None,
    by_source_clauses: list | None = None,
    meta: dict | None = None,
    allow_evolution: bool = False,
) -> int:
    """Run one conditional MERGE of ``source`` into the versioned
    table at ``path``; returns the committed version. See module
    docstring for clause semantics and the two parameter forms."""
    # -- normalize the legacy one-per-kind kwargs to ordered lists ----
    matched_clauses = _clause_family(
        matched_clauses, update_when, update_set, delete_when, "matched"
    )
    by_source_clauses = _clause_family(
        by_source_clauses, update_by_source_when, update_by_source_set,
        delete_by_source_when, "by-source",
    )
    if insert_clauses is not None:
        if insert_when is not None or insert_whens is not None:
            raise ValueError("pass insert_clauses OR insert_when(s), not both")
        _check_order([c for c, _v in insert_clauses], "insert")
    elif insert_whens is not None:
        if insert_when is not None:
            raise ValueError("pass insert_whens OR insert_when, not both")
        insert_clauses = [(c, None) for c in insert_whens]
    else:
        insert_clauses = [(insert_when, None)] if insert_when is not None else []
    if any(v is not None and not isinstance(v, dict) for _c, v in insert_clauses):
        raise ValueError(
            "insert clause values must be a col->expr dict or None "
            "(INSERT *)"
        )
    if not matched_clauses and not insert_clauses and not by_source_clauses:
        raise ValueError(
            "MERGE needs at least one clause (update_when / "
            "delete_when / insert_when / *_by_source_when)"
        )

    spark = source.sparkSession
    missing = [k for k in keys if k not in source.columns]
    if missing:
        raise ValueError(f"key columns absent from the source: {missing}")

    vs = versions(spark, path)
    if not vs:
        # empty target: only insert clauses can fire (none -> empty v1)
        if any(v is not None for _c, v in insert_clauses):
            raise ValueError(
                "INSERT (cols) VALUES (..) needs an existing typed "
                "target (an empty target takes the source schema via "
                "INSERT *)"
            )
        ins_any = [_cond(c) for c, _v in insert_clauses]
        return commit_version(
            source.filter(reduce(Column.__or__, ins_any, F.lit(False))),
            path,
            meta=meta,
            expected_base=0,
        )
    base = vs[-1]
    man = read_manifest(spark, path, base)
    _idents = man.get("_identity_columns") or {}
    needs_star = any(
        k == "update" and aset is None for k, _c, aset in matched_clauses
    ) or any(v is None for _c, v in insert_clauses)
    if _idents:
        # GENERATED ALWAYS AS IDENTITY: no clause may write the column
        written = {
            c for _k, _c, aset in matched_clauses + by_source_clauses
            for c in aset or ()
        } | {c for _c, vals in insert_clauses for c in vals or ()}
        if written & set(_idents):
            raise ValueError(
                f"MERGE writes IDENTITY column(s) "
                f"{sorted(written & set(_idents))} — GENERATED ALWAYS "
                "AS IDENTITY values are engine-assigned"
            )
        if needs_star:
            raise ValueError(
                "MERGE SET * / INSERT * into a table with IDENTITY "
                "columns would take the source's values — use an "
                "explicit SET list / INSERT (cols) VALUES (..) omitting "
                "the identity column"
            )
    # the Delta contract: appends project onto the TARGET's columns —
    # the source may carry EXTRA columns (CDC op codes, sequence
    # numbers) that clauses reference via s.<col> but that never land
    # in the table. A target column ABSENT from the source only errors
    # when a star action needs it (SET * / INSERT *); explicit SET /
    # VALUES lists build their own rows.
    t_cols = [f["name"] for f in man["_schema"]["fields"]]
    missing_t = [c for c in t_cols if c not in source.columns]
    if missing_t and needs_star:
        raise ValueError(
            f"source lacks target column(s) {missing_t} — SET * "
            "/ INSERT * need every target column"
        )
    # schema evolution (Delta autoMerge / MERGE WITH SCHEMA EVOLUTION):
    # columns the merge ASSIGNS that the target lacks widen the table —
    # source extras under SET * / INSERT *, plus any explicitly
    # SET/VALUES-named new columns. Source columns merely REFERENCED
    # (CDC op codes, sequence numbers) still never land.
    new_cols: list[str] = []
    if allow_evolution:
        assigned = set(source.columns) if needs_star else set()
        for _k, _c, aset in matched_clauses + by_source_clauses:
            assigned.update(aset or ())
        for _c, vals in insert_clauses:
            assigned.update(vals or ())
        assigned -= set(t_cols)
        new_cols = [c for c in source.columns if c in assigned] + sorted(
            c for c in assigned if c not in source.columns
        )
    bad_vals = [
        c for _c, vals in insert_clauses for c in vals or ()
        if c not in t_cols and c not in new_cols
    ]
    if bad_vals:
        raise ValueError(
            f"INSERT VALUES names unknown target column(s) {bad_vals}"
            + (
                ""
                if allow_evolution
                else " (pass allow_evolution=True / MERGE WITH "
                "SCHEMA EVOLUTION to add them)"
            )
        )

    if by_source_clauses:
        # NOT MATCHED BY SOURCE must see EVERY visible target row —
        # zone-map pruning to the source's keys would hide exactly the
        # rows the clause targets
        target = _visible_tagged(spark, path, base, man)
    else:
        target = _visible_tagged_for_keys(
            spark, path, base, man, keys, source.select(*keys).distinct()
        )
    return _row_change(
        spark, path, base, man, target, source=source, keys=keys,
        matched=matched_clauses, inserts=insert_clauses,
        by_source=by_source_clauses, new_cols=new_cols, meta=meta,
    )
