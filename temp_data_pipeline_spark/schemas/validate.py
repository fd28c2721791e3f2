"""Each table's rules, declared once, and the two ways to check them.

The reference validates eagerly per rule with pandas boolean masks
(`src/tempdata/schemas/validate.py:39-482`, 10 generic validators) and
reports the failing count + first-5 failing rows. Here a table's rules
are DATA: a ``TableRules`` names its required columns, its
(rule_name, is-violation SQL predicate) checks and its unique keys
(``hourly_obs_rules``, ``daily_tmax_rules``, ...). The predicates are
SQL text, so building a check is string work plus a few plan calls,
not hundreds of Column round trips to the JVM. Two evaluators read
the same declaration:

- ``check_rules`` runs them EAGERLY as one aggregate: every row rule
  becomes a `sum(CASE WHEN violation THEN 1 ELSE 0 END)` in a single
  `selectExpr` (one scan, predicate columns only, regardless of rule
  count), uniqueness a `groupBy(keys).count() > 1`; only on failure
  does a `limit(5)` job sample offending rows. The ``validate_*``
  functions are this form.
- ``assert_rules`` compiles them INTO THE PLAN of the frame a stage
  returns: one row-preserving `filter("CASE … END")` that raises
  (`raise_error`) on the first violated rule of a row, with uniqueness
  as a `count(*) over (partition by keys)` window. Every row is still
  checked, but by whatever job consumes the frame; no query of its
  own. The windows' keys contain the stage's shuffle key, so they
  ride its exchange. A failing row aborts the consuming job with
  "[dataset] rule '<name>' failed (stage check #N) on row {...}".

A sink that publishes atomically (``commit_version``,
``write_daily_tmax``) catches that abort before its publish, drops its
staging dir and turns it into the eager report via ``check_failure``:
the aggregate runs over the unchecked frame, on the failure path only,
and raises ``SchemaValidationError`` with counts and ≤5 sample rows.
Any other consumer (``write.parquet``, ``collect``) fails with the
Spark error, which names the dataset, the rule and the row.
"""

from __future__ import annotations

import re
import uuid
from collections import OrderedDict
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from temp_data_pipeline_spark.schemas import qc_flags as qc
from temp_data_pipeline_spark.schemas.tables import (
    DAILY_TMAX_FIELDS,
    DAILY_TMAX_FORECAST_FIELDS,
    HOURLY_OBS_FIELDS,
    TRAIN_DAILY_TMAX_FIELDS,
)


class SchemaValidationError(ValueError):
    """Raised with dataset name, rule, failing count and sample rows.

    ``dataset``, ``rule`` (the first failing rule) and ``samples``
    (≤5 offending rows as dicts, or the one row's JSON text when only
    an in-plan check's message is known) carry the same facts as the
    message.
    """

    def __init__(self, message: str, dataset=None, rule=None, samples=()):
        super().__init__(message)
        self.dataset = dataset
        self.rule = rule
        self.samples = list(samples)


# ---------------------------------------------------------------------------
# Structural checks (no data pass)
# ---------------------------------------------------------------------------


def require_columns(df: DataFrame, required: list[str], dataset: str) -> None:
    missing = [c for c in required if c not in df.columns]
    if missing:
        raise SchemaValidationError(
            f"[{dataset}] missing required columns: {missing}; has {df.columns}",
            dataset=dataset,
        )


# ---------------------------------------------------------------------------
# Eager evaluator: row checks batched into one aggregation
# ---------------------------------------------------------------------------


def violation_checks(df: DataFrame, checks: list[tuple[str, str]], dataset: str) -> None:
    """Run all (rule_name, is-violation SQL predicate) checks in one pass.

    Raises SchemaValidationError naming every failing rule, with ≤5
    sample rows for the first one (mirrors the reference's error
    ergonomics, `validate.py:18-36`, without an O(n) collect).
    """
    if not checks:
        return
    counts = df.selectExpr(
        *[f"sum(CASE WHEN {pred} THEN 1 ELSE 0 END)" for _, pred in checks]
    ).first()
    failed = [(name, n) for (name, _), n in zip(checks, counts) if (n or 0) > 0]
    if not failed:
        return
    first_rule = failed[0][0]
    first_pred = dict(checks)[first_rule]
    sample = [r.asDict() for r in df.filter(first_pred).limit(5).collect()]
    raise SchemaValidationError(
        f"[{dataset}] {len(failed)} rule(s) failed: "
        + "; ".join(f"{n} ({c} rows)" for n, c in failed)
        + f"; first offending rows for '{first_rule}': {sample}",
        dataset=dataset,
        rule=first_rule,
        samples=sample,
    )


def unique_rule(keys) -> str:
    return f"unique[{','.join(keys)}]"


def require_unique(df: DataFrame, keys: list[str], dataset: str) -> None:
    """Key-uniqueness as an aggregation (reference validate.py:158-192)."""
    dups = [
        r.asDict()
        for r in df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .limit(5)
        .collect()
    ]
    if dups:
        rule = unique_rule(keys)
        raise SchemaValidationError(
            f"[{dataset}] rule '{rule}' failed: duplicate keys on {keys}: {dups}",
            dataset=dataset,
            rule=rule,
            samples=dups,
        )


# -- check builders (each returns a rule name and an is-violation SQL predicate) --


def _ident(col: str) -> str:
    return "`" + col.replace("`", "``") + "`"


def _num(v: float) -> str:
    """A SQL literal of the same type a Column literal of ``v`` has:
    INT for an int, DOUBLE (not DECIMAL) for a float."""
    return repr(v) + ("D" if isinstance(v, float) else "")


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def null_check(col: str) -> tuple[str, str]:
    return (f"no_nulls[{col}]", f"{_ident(col)} IS NULL")


def range_check(col: str, lo: float, hi: float, nullable: bool = True) -> tuple[str, str]:
    c = _ident(col)
    v = f"({c} < {_num(lo)} OR {c} > {_num(hi)})"
    if nullable:
        v = f"{c} IS NOT NULL AND {v}"
    return (f"range[{col}∈[{lo},{hi}]]", v)


def nonneg_check(col: str) -> tuple[str, str]:
    c = _ident(col)
    return (f"nonnegative[{col}]", f"{c} IS NOT NULL AND {c} < 0")


def close_check(col_f: str, col_c: str, tol: float = 0.2) -> tuple[str, str]:
    """C/F consistency: |f − (c·9/5+32)| ≤ tol (reference validate.py:373-425)."""
    return (
        f"close[{col_f}≈{col_c}*9/5+32±{tol}]",
        f"abs({_ident(col_f)} - ({_ident(col_c)} * 9 / 5 + 32)) > {_num(tol)}",
    )


# ---------------------------------------------------------------------------
# Per-table rule declarations
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class TableRules:
    """One table's rules: required columns, named is-violation SQL
    predicates and unique keys."""

    dataset: str
    required: tuple[str, ...]
    checks: tuple[tuple[str, str], ...]
    unique: tuple[str, ...] = ()


def hourly_obs_rules(check_unique: bool = True, check_temp_range: bool = True) -> TableRules:
    """Reference hourly_obs.py:77-123.

    ``check_temp_range=False`` mirrors the clean stage's lighter input
    validation (`clean_hourly.py:145-177`): structure and types but not
    temp range — fixing out-of-range temps is the clean stage's job.
    """
    checks = [
        null_check("ts_utc"),
        null_check("station_id"),
        null_check("source"),
        null_check("qc_flags"),
        range_check("lat", -90, 90),
        range_check("lon", -180, 180),
        nonneg_check("qc_flags"),
    ]
    if check_temp_range:
        checks.insert(4, range_check("temp_c", -90, 60))
    keys = ("ts_utc", "station_id") if check_unique else ()
    return TableRules("hourly_obs", tuple(HOURLY_OBS_FIELDS), tuple(checks), keys)


def daily_tmax_rules() -> TableRules:
    """Reference daily_tmax.py:77-134 (incl. C/F closeness ≤ 0.2)."""
    checks = (
        null_check("date_local"),
        null_check("station_id"),
        null_check("tmax_c"),
        null_check("tmax_f"),
        null_check("updated_at_utc"),
        range_check("tmax_c", -90, 60),
        range_check("tmax_f", -130, 140),
        range_check("coverage_hours", 0, 24, nullable=False),
        nonneg_check("qc_flags"),
        close_check("tmax_f", "tmax_c", 0.2),
    )
    return TableRules("daily_tmax", tuple(DAILY_TMAX_FIELDS), checks, ("date_local", "station_id"))


def daily_tmax_forecast_rules() -> TableRules:
    """Reference daily_tmax_forecast.py:77-134."""
    checks = (
        null_check("station_id"),
        null_check("issue_time_utc"),
        null_check("target_date_local"),
        range_check("tmax_pred_c", -90, 60),
        range_check("tmax_pred_f", -130, 140),
        range_check("lead_hours", -24, 720, nullable=False),
        range_check("lat", -90, 90),
        range_check("lon", -180, 180),
        close_check("tmax_pred_f", "tmax_pred_c", 0.2),
    )
    return TableRules(
        "daily_tmax_forecast",
        tuple(DAILY_TMAX_FORECAST_FIELDS),
        checks,
        ("station_id", "issue_time_utc", "target_date_local"),
    )


def train_daily_tmax_rules(allow_warmup_nulls: bool = True) -> TableRules:
    """Reference train_daily_tmax.py:126-210."""
    checks = [
        null_check("station_id"),
        null_check("issue_time_utc"),
        null_check("target_date_local"),
        null_check("tmax_pred_f"),
        null_check("tmax_actual_f"),
        range_check("sin_doy", -1, 1),
        range_check("cos_doy", -1, 1),
        range_check("month", 1, 12, nullable=False),
        range_check("bias_7d", -50, 50),
        range_check("bias_14d", -50, 50),
        range_check("bias_30d", -50, 50),
        range_check("rmse_14d", 0, 50),
        range_check("rmse_30d", 0, 50),
        range_check("sigma_lead", 0, 50),
        range_check("tmax_actual_f", -130, 140),
    ]
    if not allow_warmup_nulls:
        checks += [
            null_check(c)
            for c in ["bias_7d", "bias_14d", "bias_30d", "rmse_14d", "rmse_30d", "sigma_lead"]
        ]
    return TableRules(
        "train_daily_tmax",
        tuple(TRAIN_DAILY_TMAX_FIELDS),
        tuple(checks),
        ("station_id", "issue_time_utc", "target_date_local"),
    )


# ---------------------------------------------------------------------------
# The two evaluators
# ---------------------------------------------------------------------------


def check_rules(df: DataFrame, rules: TableRules) -> None:
    """Eager form: one aggregate over every row rule, one uniqueness
    aggregate; raises ``SchemaValidationError`` at call time."""
    require_columns(df, list(rules.required), rules.dataset)
    violation_checks(df, list(rules.checks), rules.dataset)
    if rules.unique:
        require_unique(df, list(rules.unique), rules.dataset)


_TAG = "stage check #"
_FAILED = re.compile(
    r"\[(?P<ds>[^\]]+)\] rule '(?P<rule>.*?)' failed \("
    + re.escape(_TAG)
    + r"(?P<id>[0-9a-f]+)\) on row (?P<row>\{.*\})"
)
_DUP = "__sg_key_rows"
# a session's in-plan checks by id -> (rules, unchecked frame), for the
# failure-path report; bounded: an older check reports the one row its
# assertion saw instead of counts and samples
_KEEP = 64


def _checked(spark) -> OrderedDict:
    reg = getattr(spark, "_sg_stage_checks", None)
    if reg is None:
        reg = spark._sg_stage_checks = OrderedDict()
    return reg


def assert_rules(df: DataFrame, rules: TableRules) -> DataFrame:
    """In-plan form: ``df`` with every rule compiled into its plan.

    Structural checks run now (no job). Row rules and uniqueness run
    inside whatever job consumes the result: one filter that keeps
    every row and raises on the first rule it violates.
    """
    require_columns(df, list(rules.required), rules.dataset)
    cid = uuid.uuid4().hex[:12]
    row = f"to_json(struct({', '.join(_ident(c) for c in df.columns)}))"

    def fail(rule: str) -> str:
        msg = f"[{rules.dataset}] rule '{rule}' failed ({_TAG}{cid}) on row "
        return f"raise_error(concat({_sql_str(msg)}, {row}))"

    branches = list(rules.checks)
    out = df
    if rules.unique:
        keys = ", ".join(_ident(k) for k in rules.unique)
        out = out.selectExpr("*", f"count(1) OVER (PARTITION BY {keys}) AS {_DUP}")
        branches.append((unique_rule(rules.unique), f"{_DUP} > 1"))
    whens = " ".join(f"WHEN {pred} THEN {fail(name)}" for name, pred in branches)
    out = out.filter(f"CASE {whens} ELSE true END")
    if rules.unique:
        out = out.drop(_DUP)
    reg = _checked(df.sparkSession)
    reg[cid] = (rules, df)
    while len(reg) > _KEEP:
        reg.popitem(last=False)
    out._sg_checked = rules.dataset  # a sink that would check again skips
    return out


def check_failure(spark, exc: BaseException) -> SchemaValidationError | None:
    """The report for an in-plan assertion that aborted a job with
    ``exc``, or None when ``exc`` is something else. Runs the eager
    aggregate over the unchecked frame (failure path only); when that
    finds nothing (the frame is no longer known, or its input changed)
    the report holds the row the assertion saw."""
    m = _FAILED.search(str(exc))
    if m is None:
        return None
    entry = _checked(spark).get(m["id"])
    if entry is not None:
        rules, frame = entry
        try:
            check_rules(frame, rules)
        except SchemaValidationError as report:
            return report
        except (PySparkException, Py4JJavaError) as inner:
            # an upstream stage's in-plan check fired first
            report = check_failure(spark, inner)
            if report is None:
                raise
            return report
    return SchemaValidationError(
        f"[{m['ds']}] rule '{m['rule']}' failed; offending row: {m['row']}",
        dataset=m["ds"],
        rule=m["rule"],
        samples=[m["row"]],
    )


# ---------------------------------------------------------------------------
# Per-table eager validators
# ---------------------------------------------------------------------------


def validate_hourly_obs(
    df: DataFrame, check_unique: bool = True, check_temp_range: bool = True
) -> None:
    check_rules(df, hourly_obs_rules(check_unique, check_temp_range))


def validate_daily_tmax(df: DataFrame) -> None:
    check_rules(df, daily_tmax_rules())


def validate_daily_tmax_forecast(df: DataFrame) -> None:
    check_rules(df, daily_tmax_forecast_rules())


def validate_train_daily_tmax(df: DataFrame, allow_warmup_nulls: bool = True) -> None:
    check_rules(df, train_daily_tmax_rules(allow_warmup_nulls))


__all__ = [
    "SchemaValidationError",
    "TableRules",
    "require_columns",
    "require_unique",
    "violation_checks",
    "null_check",
    "range_check",
    "nonneg_check",
    "close_check",
    "hourly_obs_rules",
    "daily_tmax_rules",
    "daily_tmax_forecast_rules",
    "train_daily_tmax_rules",
    "check_rules",
    "assert_rules",
    "check_failure",
    "validate_hourly_obs",
    "validate_daily_tmax",
    "validate_daily_tmax_forecast",
    "validate_train_daily_tmax",
    "qc",
]


def fk_orphans(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
) -> DataFrame:
    """Referential-integrity violations: child rows whose key has NO
    matching parent — the FK audit a warehouse runs after every load.
    One left-anti join on the key (parent side carries only its key
    column, so nothing but keys shuffles; broadcast under AQE when
    the parent key set is small). SQL FK semantics: a NULL child key
    is NOT a violation (MATCH SIMPLE), so NULL-key rows are excluded
    — a plain anti-join would report them, since NULL never equals a
    parent key. Returns the orphan child rows unchanged; aggregate
    downstream for a report."""
    keys = parent.select(F.col(parent_key).alias(child_key)).distinct()
    return child.filter(F.col(child_key).isNotNull()).join(
        keys, child_key, "left_anti"
    )
