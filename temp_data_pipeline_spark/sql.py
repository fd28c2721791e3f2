"""SQL statement surface over versioned tables — ``engine.sql()``.

Plain-parquet Spark has no MERGE/DELETE/UPDATE statements; this
engine's mutation family exists as Python APIs (operators/merge.py,
operators/deletion_vectors.py) with full oracle parity. This module
is the thin statement front over them: parse the statement, resolve
table names through a caller-supplied catalog (``name -> versioned
table root``), and delegate —

  SELECT / WITH ...            -> Spark SQL over DV-aware snapshot
                                  views of every catalog table
                                  (returns a DataFrame)
  DELETE FROM t WHERE p        -> commit_delete_mor      (returns int)
  UPDATE t SET a=e, .. WHERE p -> commit_update_mor      (returns int)
  INSERT INTO t [(cols)] <query>
  INSERT OVERWRITE [TABLE] t <query>
                               -> carry-commit append / rewrite
                                                         (returns int)
  INSERT INTO t [(cols)] REPLACE WHERE p <query>
                               -> commit_replace_where   (returns int)
  MERGE [WITH SCHEMA EVOLUTION] INTO t [AS] a USING (src|name) [AS] b
    ON a.k = b.k [AND ..]
    WHEN MATCHED [AND c] THEN UPDATE SET x = e, .. | SET * | DELETE
    WHEN NOT MATCHED [BY TARGET] [AND c]
      THEN INSERT * | INSERT (cols) VALUES (exprs)
    WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET x = e, .. | DELETE
                               -> commit_merge_into      (returns int)
  CREATE TABLE (cols) / CREATE TABLE .. AS / CREATE [OR REPLACE] VIEW,
  DROP TABLE / VIEW, ALTER TABLE (columns, defaults, CHECK constraints),
  DESCRIBE [EXTENDED], SHOW TABLES / CREATE TABLE / TBLPROPERTIES /
  PARTITIONS               -> the versioned.py metadata operations

DELETE, UPDATE, REPLACE WHERE and MERGE all end in one merge-on-read
row-change executor (``deletion_vectors._row_change``): the operator
only builds its clause list — a WHERE is one target-only clause, a
MERGE its three ordered clause families — and the executor classifies
the target's rows once, writes one DV sidecar and appends the rows the
clauses build. UPDATE SET and MERGE SET * / INSERT * values are cast
to the target column's type where the cast widens (INT -> BIGINT);
any other mismatch is refused at commit.

Parsing is Spark's own: ``sessionState().sqlParser().parsePlan`` turns
the statement into a logical plan, and the statement kind is the plan's
class. Every predicate, SET value, generation expression and query
reaches the operators as the exact text the user wrote, sliced from the
statement by the AST nodes' source positions — backticks, comments,
double-quoted strings, ``''`` escapes and CASE inside a WHEN condition
all work as Spark SQL defines them. Time travel (``t VERSION AS OF n``,
``t VERSION AS OF 'tag'``, ``t TIMESTAMP AS OF ts``) and Delta's
``table_changes('t', since[, until])`` are found in the AST as well, so
text inside a string literal or a comment is never rewritten.

Verbs Spark's grammar lacks keep a small grammar of their own, matched
before the parser runs: VACUUM, OPTIMIZE, RESTORE, COPY INTO, CREATE
TABLE .. SHALLOW CLONE, DESCRIBE HISTORY | DETAIL (Spark reads these as
a column DESCRIBE), SHOW REFS, SHOW PARTITIONS .. VERSION AS OF,
ALTER TABLE .. CREATE | DROP TAG, and ALTER TABLE .. SET | UNSET
TBLPROPERTIES (Spark reserves keys such as ``owner``; the engine's
properties are free-form). ``INSERT INTO t (cols) REPLACE WHERE``, which
Spark's grammar refuses, is parsed with the column list blanked out.

Rules (checked loudly):
  - MERGE ON is a conjunction of same-named equality pairs (``a.k =
    b.k`` or null-safe ``<=>``) — exactly ``commit_merge_into``'s key
    contract.
  - MERGE clause families come in the order WHEN MATCHED, WHEN NOT
    MATCHED [BY TARGET], WHEN NOT MATCHED BY SOURCE (Spark's grammar
    and Delta's rule). Clauses of a family may repeat and evaluate IN
    ORDER (first satisfied condition wins); an unconditional clause
    that is not last in its family is rejected (the dead-clause rule).
  - BY SOURCE conditions and SET expressions may reference only the
    target alias (there is no source row on that branch); SET * is
    likewise unavailable there.
  - A time-travel relation names a catalog table as the catalog spells
    it; any other relation (a quoted name, a view) is left to Spark,
    which refuses time travel on it.

Catalog tables and CREATE VIEW views are temp views of the SparkSession
under their bare names. Temp views are session-wide, so what is
registered under each name is tracked once per session (name ->
freshness token) and shared by every engine on it: an engine
re-registers a name that another engine overwrote, and a token-keyed
skip is only taken when the session still holds what the token says.
Mutations inherit the operators' MOR cost model: one pruned position
scan + delta-sized append, zero partition rewrites,
optimistic-concurrency commits.

No reference counterpart (the reference has no SQL mutation surface);
statement semantics follow Delta's SQL DML as published.
"""

from __future__ import annotations

import json
import re
import sys
import uuid
from datetime import datetime, timezone

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException, ParseException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StructField,
    StructType,
    _parse_datatype_json_string,
)

from temp_data_pipeline_spark.operators import versioned as vt
from temp_data_pipeline_spark.operators.bucketing import (
    _colocated_dir,
    bucket_spec,
    commit_bucketed,
    read_bucketed,
    rebucket,
)
from temp_data_pipeline_spark.operators.changes import changes_between
from temp_data_pipeline_spark.operators.copy_into import copy_into
from temp_data_pipeline_spark.operators.deletion_vectors import (
    _fill_generated,
    commit_delete_mor,
    commit_replace_where,
    commit_update_mor,
    read_table,
)
from temp_data_pipeline_spark.operators.merge import commit_merge_into
from temp_data_pipeline_spark.operators.zonemap import optimize_zorder
from temp_data_pipeline_spark.session import local_df as _local_df

__all__ = ["SqlEngine", "sql"]

# sessionUUID -> {temp view name: token of what an engine registered
# there}. Temp views live in the JVM session, which outlives every
# engine and may be reached through more than one Python wrapper, so
# the registry is keyed by the session's id and shared by its engines.
_REGISTRIES: dict[str, dict[str, tuple]] = {}

# a cheap pre-check: a query without these words has no time travel
# and no table_changes, so its AST is not walked
_TRAVEL_HINT = re.compile(r"\bAS\s+OF\b|\btable_changes\s*\(", re.I)

# a predicate (IN, LIKE, BETWEEN, IS ..., NOT IN) is positioned from
# its keyword; its operand lies further left, in its first child
_PREDICATE_HEAD = re.compile(
    r"(NOT|IN|LIKE|ILIKE|RLIKE|REGEXP|BETWEEN|IS)\b", re.I
)

# Spark's REPLACE WHERE takes no column list: the engine's does
_INSERT_COLS_REPLACE = re.compile(
    r"INSERT\s+INTO\s+(?:TABLE\s+)?[\w`.]+\s*(\([^()]*\))\s*REPLACE\s+WHERE\b",
    re.I,
)

# Spark parse errors the engine explains in its own terms
_PARSE_ERRORS = {
    "NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION":
        "only the last matched clause may omit its condition",
    "NON_LAST_NOT_MATCHED_BY_TARGET_CLAUSE_OMIT_CONDITION":
        "only the last insert clause may omit its condition",
    "NON_LAST_NOT_MATCHED_BY_SOURCE_CLAUSE_OMIT_CONDITION":
        "only the last by-source clause may omit its condition",
    "MERGE_WITHOUT_WHEN": "MERGE needs at least one WHEN clause",
}
_PARSE_HINTS = [
    (re.compile(p, re.I | re.S), hint)
    for p, hint in (
        (r"\bWHEN\s+MATCHED\s+BY\b", "WHEN MATCHED takes no BY qualifier"),
        (
            r"\bBY\s+SOURCE\b(?:(?!\bWHEN\b).)*\bTHEN\s+UPDATE\s+SET\s+\*",
            "BY SOURCE UPDATE has no SET * (no source row)",
        ),
        (
            r"\bBY\s+SOURCE\b(?:(?!\bWHEN\b).)*\bTHEN\s+INSERT\b",
            "WHEN NOT MATCHED BY SOURCE supports THEN DELETE | UPDATE SET ..",
        ),
        (
            r"\bNOT\s+MATCHED\b.*\bWHEN\s+MATCHED\b"
            r"|\bBY\s+SOURCE\b.*\bWHEN\s+NOT\s+MATCHED\b(?!\s+BY\s+SOURCE)",
            "MERGE clause families go in the order WHEN MATCHED, WHEN NOT "
            "MATCHED [BY TARGET], WHEN NOT MATCHED BY SOURCE",
        ),
        (
            r"^INSERT\s+OVERWRITE\b.*\bREPLACE\s+WHERE\b",
            "INSERT OVERWRITE replaces the WHOLE table — use INSERT INTO "
            "... REPLACE WHERE for a predicate window",
        ),
        (
            r"number of inserted values",
            "INSERT (cols) VALUES (..): VALUES has a different number of "
            "expressions than the column list",
        ),
    )
]


def _seq(s) -> list:
    """A Scala Seq as a Python list."""
    return [s.apply(i) for i in range(s.length())]


def _opt(o):
    """A Scala Option's value, or None."""
    return None if o.isEmpty() else o.get()


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _span(node) -> tuple[int, int] | None:
    """[start, end) of the statement text the parser built ``node``
    from, or None for a node the parser did not position."""
    ctx = node.origin().context()
    a = ctx.startIndex()
    return None if a < 0 else (a, ctx.stopIndex() + 1)


def _parts(names) -> list[str]:
    """A Scala Seq of name parts as a Python list (one round trip)."""
    return names.mkString("\x1f").split("\x1f")


def _ident(names) -> str:
    """A catalog name: one part."""
    parts = _parts(names)
    if len(parts) != 1:
        raise ValueError(
            f"catalog names have one part, got {'.'.join(parts)!r}"
        )
    return parts[0]


def _table(node) -> tuple[str, str | None]:
    """(name, alias) of a DML target or a MERGE source relation."""
    alias = None
    if _kind(node) == "SubqueryAlias":
        alias, node = node.alias(), node.child()
    return _ident(node.multipartIdentifier()), alias


def _dtype(jtype):
    return _parse_datatype_json_string(jtype.json())


def _quote(part: str) -> str:
    if re.fullmatch(r"[A-Za-z_]\w*", part):
        return part
    return "`" + part.replace("`", "``") + "`"


def _walk(node):
    """Every expression node under ``node`` (itself included)."""
    todo = [node]
    while todo:
        n = todo.pop()
        yield n, _kind(n)
        todo.extend(_seq(n.children()))


def _epoch(lit: str) -> float:
    """A TIMESTAMP AS OF operand: a quoted ISO-8601 literal (naive =
    UTC, the zone of the manifest clock) or epoch seconds."""
    if lit[:1] in "'\"":
        t = datetime.fromisoformat(lit[1:-1].replace(" ", "T"))
        return (t if t.tzinfo else t.replace(tzinfo=timezone.utc)).timestamp()
    return float(lit)


def _parse_error(text: str, e: ParseException) -> str:
    msg = str(e).strip().splitlines()[0]
    if e.getCondition() in _PARSE_ERRORS:
        return _PARSE_ERRORS[e.getCondition()]
    for rx, hint in _PARSE_HINTS:
        if rx.search(text) or rx.search(msg):
            return f"{hint} ({msg})"
    return f"cannot parse statement: {msg}"


class SqlEngine:
    """Statement executor bound to a catalog of versioned tables.

    ``catalog`` maps bare table names to table roots
    (operators/versioned.py layout). SELECTs see every catalog table
    as its latest DV-resolved snapshot; mutations commit new versions
    through the MOR operators and return the committed version."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: dict[str, str],
        warehouse: str | None = None,
    ):
        self.spark = spark
        self.catalog = dict(catalog)
        # default root for CREATE TABLE without LOCATION: new tables
        # land at <warehouse>/<name>
        self.warehouse = warehouse.rstrip("/") if warehouse else None
        # CREATE VIEW text, re-planned over the CURRENT snapshots on
        # every statement (insertion order = dependency order for
        # views over views, since Spark analyzes view SQL eagerly)
        self.views: dict[str, str] = {}
        jss = spark._jsparkSession
        self._parser = jss.sessionState().sqlParser()
        self._registered = _REGISTRIES.setdefault(jss.sessionUUID(), {})
        cls = spark._jvm.java.lang.Class
        # a parsed plan of these kinds is a statement, not a query
        self._statement_kinds = [
            cls.forName(f"org.apache.spark.sql.catalyst.plans.logical.{n}")
            for n in ("Command", "ParsedStatement")
        ]

    # -- helpers -----------------------------------------------------
    def _path(self, name: str) -> str:
        if name not in self.catalog:
            raise ValueError(
                f"unknown table {name!r} (catalog has "
                f"{sorted(self.catalog)})"
            )
        return self.catalog[name]

    def _parse(self, text: str):
        try:
            return self._parser.parsePlan(text)
        except ParseException as e:
            raise ValueError(_parse_error(text, e)) from e

    def _snapshot(self, name: str) -> DataFrame:
        path = self._path(name)
        try:
            # bucketed tables read through the catalog registration
            # while physically co-located, so console joins between
            # co-bucketed tables plan with zero Exchange; any drifted
            # or never-bucketed snapshot takes the canonical reader
            v = vt._resolve_version(self.spark, path, None)
            abs_dir, rel, spec, man = _colocated_dir(self.spark, path, v)
            if abs_dir is not None and spec is not None:
                return read_bucketed(
                    self.spark,
                    path,
                    _pre=(v, abs_dir, rel, spec, man),
                )
        except FileNotFoundError:
            pass  # no committed versions: read_table raises uniformly
        return read_table(self.spark, path)

    def _reg_tokens(self) -> dict:
        """Cheap per-table freshness tokens: (path, latest committed
        version, its manifest's (mtime, length)). Fully determines what
        ``_snapshot`` would return — manifests and DV sidecars are
        immutable per version — so an unchanged token means the
        registered temp view is current. The mtime+length guard keeps
        a table dropped and re-created at the same path with the same
        version number from reading as current. One manifest-dir
        listing per table (driver-local for local tables), no Spark
        jobs."""
        toks = {}
        for name, path in self.catalog.items():
            try:
                vs, st_tok = vt._manifest_listing(self.spark, path, stamp=True)
                toks[name] = (path, vs[-1], st_tok) if vs else (path, None)
            except (OSError, Py4JJavaError):  # unreadable: treat as changed
                toks[name] = (path, uuid.uuid4().hex)
        return toks

    def _register_views(self, cascade: str | None = None) -> None:
        """(Re-)register catalog snapshots + view texts as temp views,
        skipping whatever the session provably holds already:
        re-analyzing every view over rebuilt snapshot plans on EVERY
        statement was the dominant driver-side cost of multi-statement
        console sessions (profiled at ~0.5-1 s per statement) for zero
        semantic gain — a table's snapshot can only change when its
        version does. Any table or view change re-analyzes every view
        (a view's plan captures its bases), in insertion order.

        With ``cascade`` (the statement that removed a base), a view
        that no longer ANALYZES is dropped loudly instead of raising —
        analysis-based, not textual, so a view mentioning the name in
        a string literal survives — and the rest keep working."""
        reg = self._registered
        toks = self._reg_tokens()
        for name, tok in toks.items():
            if reg.get(name) != tok:
                self._snapshot(name).createOrReplaceTempView(name)
                reg[name] = tok
        base = (tuple(toks.items()), tuple(self.views.items()))
        for vname, vtext in list(self.views.items()):
            if reg.get(vname) == (vtext, base):
                continue
            try:
                self.spark.sql(self._resolve(vtext)[0])\
                    .createOrReplaceTempView(vname)
            except AnalysisException as e:
                if cascade is None:
                    raise
                del self.views[vname]
                self.spark.catalog.dropTempView(vname)
                reg.pop(vname, None)
                print(
                    f"WARNING: {cascade} invalidated view {vname!r}; "
                    f"dropped ({type(e).__name__})",
                    file=sys.stderr,
                )
                return self._register_views(cascade)
            reg[vname] = (vtext, base)

    def _resolve(self, text: str, plan=None) -> tuple[str, object]:
        """``text`` with each catalog time-travel relation and
        table_changes() call replaced by a uniquely-named temp view of
        that snapshot (DV-resolved for versions; manifest-clock for
        timestamps; operators/changes.changes_between for the change
        feed), and its parsed plan — None once the text has changed."""
        if not _TRAVEL_HINT.search(text):
            return text, plan
        plan = plan if plan is not None else self._parse(text)
        reps, todo = [], [plan]
        while todo:
            n = todo.pop()
            kind = _kind(n)
            if kind == "RelationTimeTravel":
                (s, e), end = _span(n.relation()), _span(n)[1]
                if text[s:e] in self.catalog:
                    reps.append((s, end, self._travel_view(text, n, text[s:e])))
            elif kind == "UnresolvedTableValuedFunction" and (
                n.name().mkString(".").lower() == "table_changes"
            ):
                args = [_span(x) for x in _seq(n.functionArgs())]
                view = self._changes_view([text[slice(*x)] for x in args])
                reps.append((_span(n)[0], text.index(")", args[-1][1]) + 1, view))
            todo += _seq(n.children()) + _seq(n.innerChildren())
        if not reps:
            return text, plan
        for s, e, view in sorted(reps, reverse=True):
            text = text[:s] + view + text[e:]
        return text, None

    def _frame(self, plan) -> DataFrame:
        """The query ``plan`` (a node of a parsed statement) as a
        DataFrame, exactly as ``spark.sql`` would run it."""
        jdf = self.spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            self.spark._jsparkSession, plan
        )
        return DataFrame(jdf, self.spark)

    def _travel_view(self, text: str, node, name: str) -> str:
        path = self.catalog[name]
        ts = _opt(node.timestamp())
        if ts is not None:
            lit = text[slice(*_span(ts))]
            view = f"{name}__ts{abs(hash(lit)) % 10**8}"
            vt.read_as_of(self.spark, path, _epoch(lit))\
                .createOrReplaceTempView(view)
            return view
        ref = _opt(node.version())
        # a quoted ref is a tag: VERSION AS OF 'q3-train'
        quoted = text[_span(node)[1] - 1] in "'\""
        v = vt.resolve_ref(self.spark, path, ref) if quoted else int(ref)
        view = f"{name}__v{v}"
        read_table(self.spark, path, v).createOrReplaceTempView(view)
        return view

    def _changes_view(self, args: list[str]) -> str:
        """Delta's CDF table function: table_changes('t', since
        [, until]) — the row-level change feed (the table's columns +
        _change_type) as a temp view."""
        name, since = args[0].strip("'\""), int(args[1])
        until = int(args[2]) if len(args) > 2 else None
        if name not in self.catalog:
            raise ValueError(f"table_changes: unknown table {name!r}")
        view = f"{name}__cdf{since}_{until or 'latest'}"
        changes_between(
            self.spark, self.catalog[name], since, until
        ).createOrReplaceTempView(view)
        return view

    def _expr(self, text: str, node, qualifiers: dict | None = None) -> str:
        """Expression ``node`` as written in ``text``. ``qualifiers``
        maps a lower-case alias to the prefix that replaces it in
        every column reference (``'t.'``, ``'s.'``, or ``''`` to drop
        it); string literals and comments are left alone."""
        if _kind(node) == "Literal" and node.dataType().typeName() == "boolean":
            # the parser shares one TRUE / FALSE literal object between
            # statements, so its position belongs to some other text
            return node.sql().lower()
        a, b = _span(node)
        n, start = node, a
        while _PREDICATE_HEAD.match(text, start) and not n.children().isEmpty():
            n = n.children().head()
            start = _span(n)[0]
            a = min(a, start)
        if not qualifiers or "." not in text[a:b]:
            return text[a:b]
        reps = []
        for n, kind in _walk(node):
            if kind == "UnresolvedAttribute":
                parts = _parts(n.nameParts())
                if len(parts) > 1 and parts[0].lower() in qualifiers:
                    new = qualifiers[parts[0].lower()] + ".".join(
                        _quote(p) for p in parts[1:]
                    )
                    reps.append((*_span(n), new))
        out = text[a:b]
        for s, e, new in sorted(reps, reverse=True):
            out = out[: s - a] + new + out[e - a :]
        return out

    def _assignments(self, text: str, action, qualifiers) -> dict:
        keys = [_parts(x.key().nameParts())[-1] for x in _seq(action.assignments())]
        if len(set(keys)) != len(keys):
            raise ValueError(f"duplicate column in SET/INSERT list {keys}")
        return {
            k: self._expr(text, x.value(), qualifiers)
            for k, x in zip(keys, _seq(action.assignments()))
        }

    def _location(self, name: str, location: str | None) -> str:
        """Root of a NEW table: the statement's LOCATION, else
        ``<warehouse>/<name>``."""
        if name in self.catalog:
            raise ValueError(f"table {name!r} already in the catalog")
        if name in self.views:
            # views register after tables, so an existing view would
            # silently SHADOW the new table in every later SELECT while
            # DML writes the table
            raise ValueError(f"{name!r} is a view (DROP VIEW {name} first)")
        if location is not None:
            return location
        if self.warehouse is None:
            raise ValueError(
                f"CREATE TABLE {name}: no LOCATION given and the engine "
                "has no warehouse root — construct SqlEngine(..., "
                "warehouse='<dir>') or add LOCATION '<path>'"
            )
        return f"{self.warehouse}/{name}"

    # -- statements --------------------------------------------------
    def sql(self, statement: str):
        """Execute one statement. Returns a DataFrame for queries,
        the committed version (int) for mutations."""
        text = statement.strip().rstrip(";").strip()
        for rx, handler in self._OWN_GRAMMAR:
            m = rx.fullmatch(text)
            if m:
                return handler(self, *m.groups())
        m = _INSERT_COLS_REPLACE.match(text)
        cols = None
        if m:
            # parse the column list on its own, the statement without it
            cols = _seq(
                self._parse(f"INSERT INTO x {m.group(1)} SELECT 1")
                .userSpecifiedCols()
            )
            s, e = m.span(1)
            text = text[:s] + " " * (e - s) + text[e:]
        plan = self._parse(text)
        kind = _kind(plan)
        handler = self._PLANS.get(kind)
        if handler is None and any(
            k.isInstance(plan) for k in self._statement_kinds
        ):
            raise ValueError(
                "unsupported statement (SELECT/WITH, DELETE, UPDATE, "
                "INSERT, MERGE INTO, COPY INTO, ALTER TABLE, CREATE "
                "TABLE/VIEW, DROP TABLE/VIEW, VACUUM, OPTIMIZE, SHOW, "
                f"DESCRIBE, RESTORE): {text[:80]!r}"
            )
        if kind != "CreateView":  # a view's text resolves at each registration
            text, plan = self._resolve(text, plan)
        if handler is None:  # a query
            self._register_views()
            return self.spark.sql(text) if plan is None else self._frame(plan)
        if plan is None:
            plan = self._parse(text)
        if cols is not None:
            return self._insert(plan, text, cols)
        return handler(self, plan, text)

    def _delete(self, p, text: str) -> int:
        name, alias = _table(p.table())
        path = self._path(name)
        # subquery predicates (k IN (SELECT ...)) resolve against the
        # catalog's snapshot views
        self._register_views()
        return commit_delete_mor(
            self.spark,
            path,
            self._expr(text, p.condition(), {alias.lower(): ""} if alias else None),
        )

    def _update(self, p, text: str) -> int:
        name, alias = _table(p.table())
        path = self._path(name)
        strip = {alias.lower(): ""} if alias else None
        sets = self._assignments(text, p, strip)
        cond = _opt(p.condition())
        # subquery predicates / SET scalars resolve against the
        # catalog's snapshot views
        self._register_views()
        return commit_update_mor(
            self.spark,
            path,
            F.expr(self._expr(text, cond, strip)) if cond is not None else F.lit(True),
            sets,
        )

    def _insert(self, p, text: str, cols: list[str] | None = None) -> int:
        name = _ident(p.table().multipartIdentifier())
        replace_pred, overwrite = None, False
        if _kind(p) == "OverwriteByExpression":
            # INSERT INTO t REPLACE WHERE <pred> <query>
            replace_pred = self._expr(text, p.deleteExpr())
        else:
            if not p.partitionSpec().isEmpty() or p.byName():
                raise ValueError("INSERT takes no PARTITION or BY NAME clause")
            cols = _seq(p.userSpecifiedCols()) or None
            overwrite = p.overwrite()
        path = self._path(name)
        self._register_views()
        rows = self._frame(p.query())
        idents = vt.identity_columns(self.spark, path)
        if idents and replace_pred is not None:
            raise ValueError(
                "REPLACE WHERE on a table with IDENTITY columns is "
                "not supported (the replace commit can't advance the "
                "identity watermark atomically) — DELETE + INSERT"
            )
        target = self._snapshot(name).schema
        if cols is not None:
            # named-column INSERT: values map positionally onto the
            # NAMED columns; every unnamed table column gets NULL
            field_names = {f.name for f in target.fields}
            unknown = [c for c in cols if c not in field_names]
            if unknown:
                raise ValueError(
                    f"INSERT INTO {name} {cols}: unknown "
                    f"column(s) {unknown}; table has {sorted(field_names)}"
                )
            if len(set(cols)) != len(cols):
                raise ValueError(f"INSERT INTO {name} {cols}: duplicate column")
            if len(rows.columns) != len(cols):
                raise ValueError(
                    f"INSERT INTO {name}: query yields "
                    f"{len(rows.columns)} columns, column list names "
                    f"{len(cols)}"
                )
            # unnamed columns take their recorded DEFAULT (NULL when
            # none) — the SQL column-default contract
            dflt = vt.column_defaults(self.spark, path)
            gcols = vt.generated_columns(self.spark, path)
            listed_ident = [c for c in cols if c in idents]
            if listed_ident:
                raise ValueError(
                    f"INSERT INTO {name}: column(s) {listed_ident} are "
                    "GENERATED ALWAYS AS IDENTITY — omit them from the "
                    "column list; the engine assigns the values"
                )
            pos = {c: i for i, c in enumerate(cols)}
            rows = rows.select(
                *[
                    (
                        F.col(rows.columns[pos[f.name]])
                        if f.name in pos
                        else F.expr(dflt[f.name])
                        if f.name in dflt
                        and f.name not in gcols
                        and f.name not in idents
                        else F.lit(None)
                    ).cast(f.dataType).alias(f.name)
                    for f in target.fields
                ]
            )
            # unlisted GENERATED columns compute from the row's base
            # columns in a second pass (the frame above has every base
            # column bound under its table name)
            rows = _fill_generated(
                rows, gcols, pos, {f.name: f.dataType for f in target.fields}
            )
        elif len(rows.columns) != len(target.fields):
            raise ValueError(
                f"INSERT INTO {name}: query yields {len(rows.columns)} "
                f"columns, table has {len(target.fields)}"
            )
        else:
            # positional with store-assignment casts — SQL INSERT
            # semantics (a literal 9 must land in a BIGINT column)
            if idents:
                raise ValueError(
                    f"INSERT INTO {name}: table has GENERATED ALWAYS "
                    f"AS IDENTITY column(s) {sorted(idents)} — use a "
                    "named column list omitting them"
                )
            rows = rows.select(
                *[
                    F.col(rows.columns[i]).cast(f.dataType).alias(f.name)
                    for i, f in enumerate(target.fields)
                ]
            )

        if replace_pred is not None:
            # the Delta partition-overwrite statement: one MOR commit
            # swaps the predicate window for the incoming rows
            # (validated against the window inside commit_replace_where)
            return vt.commit_with_retries(
                lambda: commit_replace_where(
                    self.spark, rows, path, replace_pred
                )
            )

        def _commit() -> int:
            vs = vt.versions(self.spark, path)
            base = vs[-1] if vs else 0
            batch, meta_late = rows, None
            if idents:
                # allocate INSIDE the retried closure: each attempt
                # re-reads the watermark, and expected_base makes a
                # racing allocator conflict instead of double-assign
                batch, meta_late = vt.assign_identity(
                    rows, vt.identity_columns(self.spark, path)
                )
            if overwrite:
                # a truncating rewrite on a BUCKETED table keeps the
                # declared layout: the overwrite writes bucket files
                # under the same spec (plain commit_version would
                # land plain files and the spec would rightly drop —
                # silently un-bucketing the table)
                bspec = bucket_spec(self.spark, path)
                if bspec:
                    return commit_bucketed(
                        batch,
                        path,
                        bucket_by=bspec["bucket_by"],
                        n_buckets=bspec["n"],
                        sort_by=bspec.get("sort_by"),
                        expected_base=base,
                        meta_late=meta_late,
                    )
            return vt.commit_version(
                batch,
                path,
                # OVERWRITE starts a rewrite lineage (no carry): the
                # new version is exactly the query result, history
                # stays time-travelable
                carry_from=(base if vs and not overwrite else None),
                expected_base=base,
                meta_late=meta_late,
            )

        return vt.commit_with_retries(_commit)

    def _merge(self, p, text: str) -> int:
        target, t_alias = _table(p.targetTable())
        t_alias = t_alias or target
        src, s_alias = p.sourceTable(), None
        if _kind(src) == "SubqueryAlias":
            s_alias, src = src.alias(), src.child()
        if _kind(src) == "UnresolvedRelation":
            sname = _ident(src.multipartIdentifier())
            s_alias = s_alias or sname
            if sname in self.catalog:
                frame = self._snapshot(sname)
            else:
                self._register_views()
                frame = self.spark.table(sname)
        else:
            self._register_views()
            frame = self._frame(src)
            s_alias = s_alias or "s"
        keys = self._merge_keys(text, p.mergeCondition(), t_alias, s_alias)
        # clause text names the pair commit_merge_into's way: t. / s.
        pair = {
            a.lower(): prefix
            for a, prefix in ((t_alias, "t."), (s_alias, "s."))
            if a.lower() + "." != prefix
        }
        # insert conditions and VALUES expressions are over PLAIN
        # source column names (there is no target row)
        plain = {s_alias.lower(): ""}

        def cond(action, qualifiers):
            c = _opt(action.condition())
            return True if c is None else self._expr(text, c, qualifiers)

        def clauses(actions):
            return [
                ("delete", cond(a, pair), None)
                if _kind(a) == "DeleteAction"
                else (
                    "update",
                    cond(a, pair),
                    None if _kind(a) == "UpdateStarAction"
                    else self._assignments(text, a, pair),
                )
                for a in _seq(actions)
            ]

        # Delta's multi-clause rule — an unconditional clause that is
        # not LAST in its family makes later clauses dead — is checked
        # by the parser and again by commit_merge_into
        return commit_merge_into(
            frame,
            self._path(target),
            keys,
            matched_clauses=clauses(p.matchedActions()),
            insert_clauses=[
                (
                    cond(a, plain),
                    None if _kind(a) == "InsertStarAction"
                    else self._assignments(text, a, plain),
                )
                for a in _seq(p.notMatchedActions())
            ],
            by_source_clauses=clauses(p.notMatchedBySourceActions()),
            allow_evolution=p.withSchemaEvolution(),
        )

    def _merge_keys(self, text: str, on, t_alias: str, s_alias: str) -> list[str]:
        """The ON clause restricted to commit_merge_into's contract:
        a conjunction of same-named equality pairs across the two
        aliases (``=`` or null-safe ``<=>``)."""
        keys, todo = [], [on]
        while todo:
            n = todo.pop(0)
            kind = _kind(n)
            kids = _seq(n.children())
            if kind == "And":
                todo[:0] = kids
                continue
            names = [
                _parts(k.nameParts())
                for k in kids
                if kind in ("EqualTo", "EqualNullSafe")
                and _kind(k) == "UnresolvedAttribute"
            ]
            if len(names) != 2 or any(len(x) != 2 for x in names):
                raise ValueError(
                    "MERGE ON must be a conjunction of "
                    "alias.col = alias.col equality terms "
                    f"(got {self._expr(text, n)!r})"
                )
            pair = {a.lower(): c for a, c in names}
            if set(pair) != {t_alias.lower(), s_alias.lower()}:
                raise ValueError(
                    f"ON term {self._expr(text, n)!r} must join "
                    f"{t_alias}.<col> to {s_alias}.<col>"
                )
            if pair[t_alias.lower()] != pair[s_alias.lower()]:
                raise ValueError(
                    "MERGE keys must be same-named on both sides "
                    f"(got {self._expr(text, n)!r}) — rename the source "
                    "column upstream"
                )
            keys.append(pair[t_alias.lower()])
        return keys

    def _create_table(self, p, text: str) -> int:
        """CREATE TABLE t (a BIGINT, b DECIMAL(12,2), ...)
        [PARTITIONED BY (col, ...)] [LOCATION '<path>'] — an EMPTY
        table. Inline ``GENERATED ALWAYS AS (expr)`` and ``GENERATED
        ALWAYS AS IDENTITY [(START WITH n INCREMENT BY m)]`` clauses
        are recorded in the manifest — the Delta rule: generation
        expressions are declared at CREATION, computed by surface
        writers when omitted, validated on every commit when provided.
        A column DEFAULT is set with ALTER TABLE .. ALTER COLUMN."""
        name = _ident(p.name().nameParts())
        location = self._location(name, _opt(p.tableSpec().location()))
        pcols, bucket = self._layout(p)
        if bucket:
            raise ValueError(
                "CLUSTERED BY needs the CREATE TABLE .. AS <query> form"
            )
        fields, gen, ident = [], {}, {}
        for c in _seq(p.columns()):
            cname, comment = c.name(), _opt(c.comment())
            fields.append(
                StructField(
                    cname,
                    _dtype(c.dataType()),
                    c.nullable(),
                    {"comment": comment} if comment is not None else None,
                )
            )
            if not c.defaultValue().isEmpty():
                raise ValueError(
                    f"column {cname!r}: set a DEFAULT with ALTER TABLE "
                    f"{name} ALTER COLUMN {cname} SET DEFAULT <expr>"
                )
            g, i = _opt(c.generationExpression()), _opt(c.identityColumnSpec())
            if g is not None:
                gen[cname] = g
            if i is not None:
                if i.isAllowExplicitInsert() or i.getStep() == 0:
                    raise ValueError(
                        f"IDENTITY column {cname!r}: GENERATED ALWAYS AS "
                        "IDENTITY with a nonzero INCREMENT BY only"
                    )
                ident[cname] = {
                    "start": i.getStart(), "step": i.getStep(), "high": None
                }
        refs = {
            _parts(n.nameParts())[0].lower()
            for expr in gen.values()
            for n, kind in _walk(self._parser.parseExpression(expr))
            if kind == "UnresolvedAttribute"
        }
        gen_bad = {c for c in gen if c.lower() in refs}
        if gen_bad:
            raise ValueError(
                f"generated column(s) {sorted(gen_bad)} reference "
                "generated columns — expressions may use only "
                "non-generated columns of the row"
            )
        cmeta = {
            k: v
            for k, v in (
                ("_generated_columns", gen),
                ("_identity_columns", ident),
            )
            if v
        }
        v = vt.commit_version(
            vt.empty_df(self.spark, StructType(fields)),
            location,
            partition_by=pcols or None,
            expected_base=0,
            meta=cmeta or None,
        )
        self.catalog[name] = location
        return v

    def _ctas(self, p, text: str) -> int:
        """CREATE TABLE name [LOCATION '<path>'] [PARTITIONED BY (col,
        ...)] [CLUSTERED BY (col, ...) INTO n BUCKETS] AS <query>.
        CLUSTERED BY gives the bucketed snapshot layout
        (operators/bucketing.py): console joins between co-bucketed
        tables plan with zero Exchange, OPTIMIZE becomes rebucket().
        The query runs over the catalog views; the result commits as
        version 1 of a fresh table, and the catalog gains the name."""
        name = _ident(p.name().nameParts())
        location = self._location(name, _opt(p.tableSpec().location()))
        pcols, bucket = self._layout(p)
        if pcols and bucket:
            # the bucketed layout layer refuses hive partition_by too —
            # one loud contract, not two half-supported ones
            raise ValueError(
                "CREATE TABLE: PARTITIONED BY and CLUSTERED BY are "
                "mutually exclusive in this engine"
            )
        self._register_views()
        rows = self._frame(p.query())
        if bucket:
            v = commit_bucketed(
                rows, location, bucket_by=bucket[1], n_buckets=bucket[0],
                expected_base=0,
            )
        else:
            v = vt.commit_version(
                rows, location, partition_by=pcols or None, expected_base=0
            )
        self.catalog[name] = location
        return v

    @staticmethod
    def _layout(p) -> tuple[list[str], tuple[int, list[str]] | None]:
        """(partition columns, (bucket count, bucket columns) or None)
        of a CREATE TABLE; any other table clause is refused."""
        spec = p.tableSpec()
        if not (spec.provider().isEmpty() and spec.properties().isEmpty()
                and spec.comment().isEmpty()):
            raise ValueError(
                "CREATE TABLE takes LOCATION, PARTITIONED BY and "
                "CLUSTERED BY .. INTO n BUCKETS only"
            )
        pcols, bucket = [], None
        for t in _seq(p.partitioning()):
            # Spark's canonical transform rendering:
            # identity(col) / bucket(n, col, ...)
            kind, args = re.fullmatch(r"(\w+)\((.*)\)", t.toString()).groups()
            cols = [c.strip().strip("`") for c in args.split(",")]
            if kind == "identity":
                pcols += cols
            elif kind == "bucket":
                bucket = (int(cols[0]), cols[1:])
            else:
                raise ValueError(f"unsupported table layout {t.toString()}")
        return pcols, bucket

    def _create_view(self, p, text: str) -> None:
        name = _ident(p.child().nameParts())
        if name in self.catalog:
            raise ValueError(f"{name!r} is a table in the catalog")
        if name in self.views and not p.replace():
            raise ValueError(f"view {name!r} exists (CREATE OR REPLACE VIEW)")
        prior = self.views.get(name)
        self.views[name] = _opt(p.originalText())
        try:
            # registering eagerly analyzes the view SQL — a bad
            # definition fails HERE, not at first use
            self._register_views()
        except Exception:  # parse, analysis or I/O: restore, then re-raise it
            if prior is None:
                del self.views[name]
            else:
                self.views[name] = prior
            raise
        return None

    def _drop_table(self, p, text: str) -> None:
        """DROP TABLE [IF EXISTS] t. Removes the name from the catalog;
        storage is deleted ONLY for managed tables (roots at
        ``<warehouse>/<name>``) — external LOCATION tables keep their
        files, the Hive external-table contract."""
        name = _ident(p.child().nameParts())
        if name not in self.catalog and p.ifExists():
            return None
        path = self._path(name)
        del self.catalog[name]
        self.spark.catalog.dropTempView(name)
        self._registered.pop(name, None)
        # views over the dropped table would otherwise fail every
        # later statement's registration
        self._register_views(cascade=f"DROP TABLE {name}")
        if self.warehouse and path == f"{self.warehouse}/{name}":
            fs, jvm = vt._fs(self.spark, path)
            fs.delete(jvm.org.apache.hadoop.fs.Path(path), True)
        return None

    def _drop_view(self, p, text: str) -> None:
        name = _ident(p.child().nameParts())
        if name not in self.views:
            if p.ifExists():
                return None
            raise ValueError(
                f"unknown view {name!r} (views: {sorted(self.views)})"
            )
        del self.views[name]
        self.spark.catalog.dropTempView(name)
        self._registered.pop(name, None)
        return None

    # -- ALTER TABLE: each one metadata-level commit -----------------
    def _add_columns(self, p, text: str) -> int:
        """ADD COLUMN a <type> [DEFAULT e] / ADD COLUMNS (a <type>, ..):
        old files read NULL; DEFAULT applies to future writes."""
        path = self._path(_ident(p.table().multipartIdentifier()))
        v = None
        for c in _seq(p.columnsToAdd()):
            d = _opt(c.default())
            v = vt.add_column(
                self.spark, path, c.colName(), _dtype(c.dataType()),
                default=None if d is None else d.originalSQL(),
            )
        return v

    def _alter_columns(self, p, text: str) -> int:
        """ALTER COLUMN a SET DEFAULT <expr> | DROP DEFAULT."""
        path = self._path(_ident(p.table().multipartIdentifier()))
        v = None
        for spec in _seq(p.specs()):
            d = _opt(spec.newDefaultExpression())
            if d is None and not spec.dropDefault():
                raise ValueError(
                    "ALTER COLUMN supports SET DEFAULT <expr> | DROP DEFAULT"
                )
            v = vt.set_column_default(
                self.spark, path, _ident(spec.column().name()),
                None if d is None else d.originalSQL(),
            )
        return v

    def _rename_column(self, p, text: str) -> int:
        return vt.rename_column(
            self.spark,
            self._path(_ident(p.table().multipartIdentifier())),
            _ident(p.column().name()),
            p.newName(),
        )

    def _drop_columns(self, p, text: str) -> int:
        path = self._path(_ident(p.table().multipartIdentifier()))
        v = None
        for c in _seq(p.columnsToDrop()):
            v = vt.drop_column(self.spark, path, _ident(c.name()))
        return v

    def _add_constraint(self, p, text: str) -> int:
        cc = p.checkConstraint()
        return vt.add_table_constraint(
            self.spark, self._path(cc.tableName()),
            cc.userProvidedName(), cc.condition(),
        )

    def _drop_constraint(self, p, text: str) -> int:
        return vt.drop_table_constraint(
            self.spark,
            self._path(_ident(p.table().multipartIdentifier())),
            p.name(),
        )

    # -- introspection -----------------------------------------------
    def _latest(self, name: str) -> tuple[str, list[int], dict]:
        path = self._path(name)
        vs = vt.versions(self.spark, path)
        if not vs:
            raise ValueError(f"table {name!r} has no committed versions")
        return path, vs, vt.read_manifest(self.spark, path, vs[-1])

    def _describe(self, p, text: str) -> DataFrame:
        """DESCRIBE [EXTENDED] [TABLE] t — Spark's three-column layout
        (col_name, data_type, comment): one row per column (partition
        columns annotated), and with EXTENDED a detail section from
        the manifest — location, version + clock, partition columns /
        transform specs, CHECK constraints, named refs, history-index
        freshness. Metadata-only: manifest + sidecar JSON reads, no
        Spark job beyond the local DataFrame."""
        name = _ident(p.relation().multipartIdentifier())
        path, vs, man = self._latest(name)
        pcols = man.get("_partition_by") or []
        rows = [
            (
                f.name,
                f.dataType.simpleString(),
                "partition column" if f.name in pcols else "",
            )
            for f in StructType.fromJson(man["_schema"]).fields
        ]
        if p.isExtended():
            rows += [
                ("", "", ""),
                ("# Detailed Table Information", "", ""),
                ("Name", name, ""),
                ("Location", path, ""),
                ("Version", str(vs[-1]), ""),
                ("Committed At", str(man.get("committed_at", "")), ""),
            ]
            if pcols:
                rows.append(("Partition Columns", ", ".join(pcols), ""))
            if man.get("transforms"):
                rows.append(
                    (
                        "Partition Transforms",
                        ", ".join(man["transforms"]),
                        "hidden partitioning (partitioning.py)",
                    )
                )
            for cname, cpred in sorted(
                (man.get("_table_constraints") or {}).items()
            ):
                rows.append((f"Check: {cname}", cpred, ""))
            for rname, rver in sorted(vt.list_refs(self.spark, path).items()):
                rows.append((f"Ref: {rname}", str(rver), ""))
            try:
                clocks = json.loads(
                    vt.read_text(self.spark, vt._history_index_path(path))
                ).get("clocks", {})
                fresh = set(clocks) == {str(v) for v in vs}
                rows.append(
                    (
                        "History Index",
                        "fresh" if fresh else "stale",
                        f"{len(clocks)} clocks / {len(vs)} versions",
                    )
                )
            except (OSError, ValueError, Py4JJavaError):  # not built yet
                rows.append(("History Index", "absent", ""))
        return _local_df(
            self.spark, rows, "col_name string, data_type string, comment string"
        )

    def _show_create(self, p, text: str) -> DataFrame:
        """SHOW CREATE TABLE t — one createtab_stmt row (Spark's
        layout) reconstructed from the manifest: columns, partition
        spec (explicit columns or transform specs), location, and one
        ALTER TABLE ... ADD CONSTRAINT line per recorded check."""
        name = _ident(p.child().multipartIdentifier())
        path, _vs, man = self._latest(name)
        gen = man.get("_generated_columns") or {}
        ident = man.get("_identity_columns") or {}
        cols = ",\n".join(
            f"  {f.name} {f.dataType.simpleString().upper()}"
            + (
                f" GENERATED ALWAYS AS ({gen[f.name]})"
                if f.name in gen
                else (
                    " GENERATED ALWAYS AS IDENTITY (START WITH "
                    f"{ident[f.name]['start']} INCREMENT BY "
                    f"{ident[f.name]['step']})"
                )
                if f.name in ident
                else ""
            )
            for f in StructType.fromJson(man["_schema"]).fields
        )
        stmt = f"CREATE TABLE {name} (\n{cols}\n)"
        if man.get("transforms"):
            stmt += (
                "\nPARTITIONED BY TRANSFORMS ("
                + ", ".join(man["transforms"]) + ")"
            )
        elif man.get("_partition_by"):
            stmt += (
                "\nPARTITIONED BY ("
                + ", ".join(man["_partition_by"]) + ")"
            )
        if man.get("_bucket_spec"):
            bs = man["_bucket_spec"]
            stmt += (
                "\nCLUSTERED BY (" + ", ".join(bs["bucket_by"]) + ")"
                f" INTO {bs['n']} BUCKETS"
            )
        stmt += f"\nLOCATION '{path}'"
        for cname, cpred in sorted(
            (man.get("_table_constraints") or {}).items()
        ):
            stmt += (
                f"\n-- ALTER TABLE {name} ADD CONSTRAINT {cname} "
                f"CHECK ({cpred})"
            )
        return _local_df(self.spark, [(stmt,)], "createtab_stmt string")

    def _show_tables(self, p, text: str) -> DataFrame:
        if not p.pattern().isEmpty():
            raise ValueError("SHOW TABLES takes no pattern")
        return _local_df(
            self.spark, sorted(self.catalog.items()),
            "name string, location string",
        )

    def _show_properties(self, p, text: str) -> DataFrame:
        path = self._path(_ident(p.table().multipartIdentifier()))
        return _local_df(
            self.spark,
            sorted(vt.table_properties(self.spark, path).items()),
            "key string, value string",
        )

    def _show_partitions(self, p, text: str) -> DataFrame:
        return self._partitions(_ident(p.table().multipartIdentifier()), None)

    _PLANS = {
        "MergeIntoTable": _merge,
        "UpdateTable": _update,
        "DeleteFromTable": _delete,
        "InsertIntoStatement": _insert,
        "OverwriteByExpression": _insert,
        "CreateTable": _create_table,
        "CreateTableAsSelect": _ctas,
        "CreateView": _create_view,
        "DropTable": _drop_table,
        "DropView": _drop_view,
        "AddColumns": _add_columns,
        "AlterColumns": _alter_columns,
        "RenameColumn": _rename_column,
        "DropColumns": _drop_columns,
        "AddCheckConstraint": _add_constraint,
        "DropConstraint": _drop_constraint,
        "DescribeRelation": _describe,
        "ShowCreateTable": _show_create,
        "ShowTables": _show_tables,
        "ShowTableProperties": _show_properties,
        "ShowPartitions": _show_partitions,
    }

    # -- the verbs Spark's grammar lacks ------------------------------
    def _vacuum(self, name, n, unit, dry):
        """VACUUM t [RETAIN n VERSIONS|HOURS|DAYS] [DRY RUN]."""
        unit = (unit or "").upper()
        if unit in ("HOURS", "DAYS"):
            # time-based retention (the Delta VACUUM contract): keep
            # the current version + everything inside the horizon
            kw: dict = {
                "keep_last": 1,
                "older_than": int(n) * (3600 if unit == "HOURS" else 86400),
            }
        else:
            kw = {"keep_last": int(n or 3)}
        dropped = vt.vacuum(
            self.spark, self._path(name), dry_run=bool(dry), **kw
        )
        if dry:
            # DRY RUN reports the expirable versions, touches nothing
            return _local_df(
                self.spark, [(int(v),) for v in dropped], "version long"
            )
        return None

    def _optimize(self, name, pred, zcols):
        """OPTIMIZE t [WHERE p] [ZORDER BY (a, b)] -> compact_snapshot
        / optimize_zorder / compact_partitions; on a bucketed table,
        rebucket."""
        path = self._path(name)
        cols = [c.strip() for c in zcols.split(",")] if zcols else None
        if pred:
            # partition-scoped OPTIMIZE: rewrite only the selected
            # partitions, carry the rest by reference
            pcols = self._latest(name)[2].get("_partition_by") or []
            if not pcols:
                raise ValueError(
                    "OPTIMIZE ... WHERE needs a partitioned table "
                    "(the predicate selects first-level partitions)"
                )
            return vt.compact_partitions(
                self.spark, path, pcols[0], where=pred, cluster_by=cols
            )
        if cols:
            return optimize_zorder(self.spark, path, cols)
        if bucket_spec(self.spark, path):
            # a bucketed table's OPTIMIZE is the clustering-
            # maintenance pass: restore one-file-per-bucket
            # co-location (no-op when already co-located) —
            # compact_snapshot would rewrite the layout AWAY
            return rebucket(self.spark, path)
        return vt.compact_snapshot(self.spark, path)

    def _restore(self, name, kind, ref):
        """RESTORE t TO VERSION|TIMESTAMP AS OF ref -> versioned.rollback."""
        path = self._path(name)
        if kind.upper() == "TIMESTAMP":
            ref = vt.version_as_of(self.spark, path, _epoch(ref))
        return vt.rollback(self.spark, path, int(ref))

    def _copy(self, name, source, fmt, pattern):
        """COPY INTO t FROM '<dir>' [FILEFORMAT = PARQUET|JSON|CSV]
        [PATTERN = '<glob>'] — idempotent incremental file loading
        (operators/copy_into.py); returns the committed version (the
        current one when every file was already loaded)."""
        return copy_into(
            self.spark, self._path(name), source,
            file_format=fmt or "parquet", pattern=pattern or "*",
        )[0]

    def _clone(self, name, src, ver, location):
        """CREATE TABLE name SHALLOW CLONE src [VERSION AS OF n]
        [LOCATION '<path>'] — a zero-copy reference."""
        location = self._location(name, location)
        v = vt.shallow_clone(
            self.spark, self._path(src), location, int(ver) if ver else None
        )
        self.catalog[name] = location
        return v

    def _history(self, name):
        return vt.history(self.spark, self._path(name))

    def _describe_detail(self, name):
        """DESCRIBE DETAIL t — ONE metadata-only row (the Delta
        utility): location, latest version + commit clock, data-dir
        chain length, deletion-vector presence + row count, partition
        columns, column count, recorded CHECK constraints.  Pure
        driver-side manifest read, no Spark job beyond the local
        DataFrame."""
        path, vs, man = self._latest(name)
        bs = man.get("_bucket_spec") or {}
        return _local_df(
            self.spark,
            [
                (
                    name,
                    path,
                    int(vs[-1]),
                    float(man.get("committed_at", 0.0)),
                    len(vt._manifest_dirs(man)),
                    bool(man.get("_dv")),
                    int(man.get("_dv_rows") or 0),
                    ",".join(man.get("_partition_by") or []),
                    len((man.get("_schema") or {}).get("fields", [])),
                    json.dumps(man.get("_checks") or {}, sort_keys=True),
                    ",".join(bs.get("bucket_by", [])),
                    int(bs.get("n") or 0),
                )
            ],
            "name string, location string, version long, "
            "committed_at double, num_data_dirs long, "
            "has_deletion_vector boolean, dv_rows long, "
            "partition_columns string, num_columns long, checks string, "
            "bucket_columns string, num_buckets long",
        )

    def _show_refs(self, name):
        return _local_df(
            self.spark,
            sorted(vt.list_refs(self.spark, self._path(name)).items()),
            "name string, version long",
        )

    def _partitions(self, name, ver):
        """SHOW PARTITIONS t [VERSION AS OF n] — metadata dir walk."""
        return vt.snapshot_partitions(
            self.spark, self._path(name), int(ver) if ver else None
        )

    def _create_tag(self, name, tag, ver):
        return vt.tag_version(
            self.spark, self._path(name), tag, int(ver) if ver else None
        )

    def _drop_tag(self, name, tag):
        if not vt.delete_ref(self.spark, self._path(name), tag):
            raise ValueError(f"no tag {tag!r} on {name}")
        return None

    def _tblproperties(self, name, verb, body):
        """ALTER TABLE t SET TBLPROPERTIES ('k' = 'v', ..) / UNSET
        TBLPROPERTIES ('k', ..)."""
        unset = verb.upper() == "UNSET"
        item = r"\s*'([^']+)'\s*" if unset else r"\s*'([^']+)'\s*=\s*'([^']*)'\s*"
        if not re.fullmatch(f"{item}(?:,{item})*", body):
            raise ValueError(
                f"cannot parse TBLPROPERTIES list {body!r} (expected "
                + ("'key', .." if unset else "'key' = 'value', ..") + ")"
            )
        found = re.findall(item, body)
        path = self._path(name)
        if unset:
            return vt.unset_table_properties(self.spark, path, found)
        return vt.set_table_properties(self.spark, path, dict(found))

    _OWN_GRAMMAR = [
        (re.compile(p, re.I | re.S), handler)
        for p, handler in (
            (
                r"VACUUM\s+(\w+)(?:\s+RETAIN\s+(\d+)\s+"
                r"(VERSIONS|HOURS|DAYS))?(\s+DRY\s+RUN)?",
                _vacuum,
            ),
            (
                r"OPTIMIZE\s+(\w+)(?:\s+WHERE\s+(.+?))?"
                r"(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?",
                _optimize,
            ),
            (
                r"RESTORE\s+(\w+)\s+TO\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+"
                r"('[^']+'|[0-9.]+)",
                _restore,
            ),
            (
                r"COPY\s+INTO\s+(\w+)\s+FROM\s+'([^']+)'"
                r"(?:\s+FILEFORMAT\s*=\s*(\w+))?"
                r"(?:\s+PATTERN\s*=\s*'([^']+)')?",
                _copy,
            ),
            (
                r"CREATE\s+TABLE\s+(\w+)\s+SHALLOW\s+CLONE\s+(\w+)"
                r"(?:\s+VERSION\s+AS\s+OF\s+(\d+))?"
                r"(?:\s+LOCATION\s+'([^']+)')?",
                _clone,
            ),
            (r"DESCRIBE\s+HISTORY\s+(\w+)", _history),
            (r"DESCRIBE\s+DETAIL\s+(\w+)", _describe_detail),
            (r"SHOW\s+REFS\s+(\w+)", _show_refs),
            (
                r"SHOW\s+PARTITIONS\s+(\w+)\s+VERSION\s+AS\s+OF\s+(\d+)",
                _partitions,
            ),
            (
                r"ALTER\s+TABLE\s+(\w+)\s+CREATE\s+TAG\s+([\w.\-]+)"
                r"(?:\s+AS\s+OF\s+VERSION\s+(\d+))?",
                _create_tag,
            ),
            (r"ALTER\s+TABLE\s+(\w+)\s+DROP\s+TAG\s+([\w.\-]+)", _drop_tag),
            (
                r"ALTER\s+TABLE\s+(\w+)\s+(SET|UNSET)\s+TBLPROPERTIES"
                r"\s*\((.+)\)",
                _tblproperties,
            ),
        )
    ]


def sql(spark: SparkSession, statement: str, catalog: dict[str, str]):
    """One-shot convenience: ``SqlEngine(spark, catalog).sql(...)``."""
    return SqlEngine(spark, catalog).sql(statement)
