"""The workloads, driven closed-loop by one client.

Each workload runs in phases:

- ``setup``: build the inputs and tables it needs, ``SETUP_REPEATS``
  times into fresh directories (timed as set-up; the median counts);
- ``window``: the measured operations (in a traced run: a fixed list,
  so counters repeat);
- ``check``: compare every output with pandas answers (oracle.py).

Every workload runs each kind of operation the end-to-end metrics
name, so every run reports every metric; the workloads differ in where
the volume and the reads are:

- ``pipeline_full``: one pass of the paper's batch path over 120 days
  of hourly observations (clean -> daily Tmax -> features -> three-model
  eval -> artifacts -> bulk commits of the daily and train tables), an
  untimed write round of late corrections on the committed daily table,
  then, for ``--seconds``, point and date-range reads of the result;
- ``sql_reads``: a 300-day daily table given a history (an untimed
  round of one day of hourly obs through clean and daily Tmax, two
  one-day appends, a MERGE and a DELETE, so its snapshots carry deletion
  vectors; then one untimed and two timed days through clean and daily
  Tmax) and a by-station matview; then, for ``--seconds``, a seeded mix
  of point, date-range, ``VERSION AS OF`` and matview reads with no
  commits, checked against answers computed before the window.

Between the two, both run ``Size.rounds`` timed write rounds (two
one-day appends, a MERGE, a DELETE and a read back), each on a fresh
300-day table, so every round's samples come from the same table
state. The untimed round warms the JVM's code for them; one untimed
block of reads warms the reads.

Before every recorded operation the client runs a reference job: a
fixed Spark job that no engine code takes part in. On a shared host the
same code runs up to 1.7x slower in one run than in another, and the
reference job slows with it; run.py scales every time by it.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import re
import shutil
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass

import gen
import oracle
import pandas as pd
from pyspark.sql import functions as F

from temp_data_pipeline_spark.eval import report as eval_report
from temp_data_pipeline_spark.eval import runner as eval_runner
from temp_data_pipeline_spark.eval.config import EvalConfig, ModelConfig
from temp_data_pipeline_spark.operators import clean_hourly, daily_tmax, features, matview, versioned
from temp_data_pipeline_spark.sources import registry
from temp_data_pipeline_spark.sql import SqlEngine

START = dt.date(2022, 1, 1)
MODELS = ("passthrough", "persistence", "ridge")
# set-up builds per run: the first runs on a cold JVM, so the median of
# three is a warm build
SETUP_REPEATS = 3
# the reference job's rows and slices; fixed, so it is the same job on
# any core count
REF_ROWS = 2_000_000
REF_SLICES = 4
# reference jobs run untimed after the session starts, for the JIT
REF_WARMUP = 5
READ_KINDS = ("point", "scan", "version", "view")
# blocks of one read of each kind in the seeded sql_reads mix
PLAN_BLOCKS = 16
# timed days of hourly obs through the pipeline operators in sql_reads
PIPELINE_DAYS = 2


@dataclass(frozen=True)
class Size:
    stations: int  # stations in every table and batch
    pipeline_days: int  # local days of hourly input in pipeline_full
    table_days: int  # days in the sql_reads table and in each fresh round table
    rounds: int  # timed write rounds, one fresh table each
    traced_reads: int  # blocks of one read of each kind in a traced sql_reads window


SIZES = {
    "full": Size(stations=5, pipeline_days=120, table_days=300, rounds=3, traced_reads=2),
    "tiny": Size(stations=3, pipeline_days=20, table_days=40, rounds=1, traced_reads=1),
}


class Ctx:
    """Run state shared by the workload phases."""

    def __init__(self, spark, work: str, seed: int, size: Size, tracer, seconds: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.seconds = seconds
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.refs: list[float] = []  # wall seconds of each reference job
        self.warm_ops = 0
        for _ in range(REF_WARMUP):
            self.reference()
        self.refs.clear()
        self.failures: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.window_s = 0.0
        self.setup_builds: list[float] = []
        self.hashes: dict[str, str] = {}
        self.frames: dict[tuple, pd.DataFrame] = {}  # generated inputs as pandas, for the oracle
        self.op_seq = 0

    def timed(self, kind: str, fn, warm: bool = False):
        """Run one operation as a top-level span and record its time,
        after a reference job; a warm-up operation (``warm``) is not
        recorded. An operation that raises is counted as failed, not
        timed; the output checks then find what it left undone."""
        if not warm:
            self.reference()
        self.op_seq += 1
        with self.tracer.span("op", kind, op=f"{kind}#{self.op_seq}"):
            t0 = time.perf_counter()
            try:
                out = fn()
            except oracle.CheckFailed:
                raise
            except Exception as e:  # noqa: BLE001 - counted into `failed`
                self.failures.append({"kind": kind, "op": self.op_seq, "error": repr(e)[:500]})
                traceback.print_exc(file=sys.stderr)
                out = None
            else:
                if warm:
                    self.warm_ops += 1
                else:
                    self.samples[kind].append(time.perf_counter() - t0)
        self.tracer.collect()
        return out

    def reference(self) -> None:
        """Time the reference job: a global aggregate over a generated
        range, so neither engine code nor the shuffle-partition setting
        reaches it."""
        t0 = time.perf_counter()
        self.spark.range(0, REF_ROWS, 1, REF_SLICES).selectExpr("sum(id % 7) AS s", "max(sqrt(id)) AS m").collect()
        self.refs.append(time.perf_counter() - t0)

    def attempted(self) -> int:
        return sum(len(v) for v in self.samples.values()) + self.warm_ops + len(self.failures)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def stations_list(self) -> list[str]:
        return [f"S{i:03d}" for i in range(self.size.stations)]


def frame_hash(*frames: pd.DataFrame) -> str:
    """Order-independent content hash of pandas frames."""
    import hashlib

    h = hashlib.sha256()
    for f in frames:
        f = f[sorted(f.columns)]
        h.update(",".join(f.columns).encode())
        h.update(sorted(pd.util.hash_pandas_object(f, index=False).tolist()).__repr__().encode())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------- lake


class Lake:
    """A daily-Tmax versioned table, its by-station matview and a SQL
    console over both. Every mutation and read is logged for the
    oracle."""

    def __init__(self, ctx: Ctx, root: str, inputs: str, n_days: int, name: str = "daily"):
        self.ctx = ctx
        self.spark = ctx.spark
        self.path = os.path.join(root, "daily")
        self.view = os.path.join(root, "daily_by_station")
        self.days = [START + dt.timedelta(days=i) for i in range(n_days)]
        self.inputs = inputs
        self.stations = registry.load_table(self.spark, inputs, "stations")
        # one catalog name per table: the console's temp views are
        # session-wide
        self.name = name
        self.engine = SqlEngine(self.spark, {name: self.path})
        self.log: list[tuple] = []
        self.reads: list[tuple] = []
        self.version = 0
        self.view_version: int | None = None
        self.next_day = START + dt.timedelta(days=n_days)

    @staticmethod
    def agg(df):
        return df.groupBy("station_id").agg(
            F.count(F.lit(1)).alias("n_days"), F.max("tmax_c").alias("tmax_max")
        )

    def create(self, df, entry: tuple) -> None:
        self.version = versioned.commit_version(df, self.path)
        self.log.append((*entry, self.version))

    def append_rows(self) -> None:
        """One new day of daily-Tmax rows for every station, committed as
        a metadata-level append: the commit path alone."""
        day = self.next_day
        seed = self.ctx.seed * 7919 + day.toordinal()
        rows = gen.daily_rows(self.spark, seed, self.ctx.size.stations, day, 1)
        self.version = versioned.commit_version(rows, self.path, carry_from=self.version)
        self.days.append(day)
        self.next_day += dt.timedelta(days=1)
        self.log.append(("append_rows", day, seed, self.version))

    def append_day(self) -> None:
        """One new day of hourly obs for every station through clean and
        daily Tmax, committed as a metadata-level append."""
        day = self.next_day
        seed = self.ctx.seed * 7919 + day.toordinal()
        hourly = gen.hourly_obs(self.spark, seed, self.ctx.size.stations, day, 1)
        tr = self.ctx.tracer
        with tr.span("operators.clean_hourly", "clean_hourly_obs"):
            clean = clean_hourly.clean_hourly_obs(hourly, tie_breaker="ingest_seq")
        tz = clean.join(F.broadcast(self.stations.select("station_id", "tz")), "station_id")
        with tr.span("operators.daily_tmax", "build_daily_tmax"):
            daily = daily_tmax.build_daily_tmax(
                tz, station_tz=F.col("tz"), updated_at_utc=gen.UPDATED_AT, source="synthetic"
            )
        self.version = versioned.commit_version(daily, self.path, carry_from=self.version)
        self.days.append(day)
        self.next_day += dt.timedelta(days=1)
        self.log.append(("append", day, seed, self.version))

    def merge(self, day: dt.date, salt: str, stations: list[str]) -> None:
        """Late corrections for one older day: MERGE ... UPDATE SET * /
        INSERT * (a station-day deleted earlier is re-inserted)."""
        seed = self.ctx.seed * 104729 + day.toordinal()
        src = gen.daily_rows(self.spark, seed, self.ctx.size.stations, day, 1, salt=salt)
        src.filter(F.col("station_id").isin(stations)).createOrReplaceTempView("corrections")
        self.version = self.engine.sql(
            f"MERGE INTO {self.name} t USING corrections s "
            "ON t.station_id = s.station_id AND t.date_local = s.date_local "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
        self.log.append(("merge", day, seed, salt, tuple(stations), self.version))

    def delete(self, station: str, day: dt.date) -> None:
        self.version = self.engine.sql(
            f"DELETE FROM {self.name} WHERE station_id = '{station}' AND date_local = DATE'{day}'"
        )
        self.log.append(("delete", station, day, self.version))

    def read(self, kind: str, statement: str) -> None:
        """Run one SELECT: plan through the console, collect the rows."""
        df = self.engine.sql(statement)
        with self.ctx.tracer.span("sql", "exec", kind="exec") as sp:
            rows = [tuple(r) for r in df.collect()]
            sp["attrs"]["result_rows"] = len(rows)
        self.reads.append((kind, statement, rows, self.version, self.view_version))

    def build_view(self) -> None:
        matview.build_agg_view(self.spark, self.path, self.view, self.agg, ["station_id"])
        self.engine.catalog["daily_by_station"] = self.view
        self.view_version = self.version

    def refresh_view(self) -> None:
        matview.refresh_agg_view(self.spark, self.path, self.view, self.agg, ["station_id"])
        self.view_version = self.version

    # -- the operations a round is made of ------------------------------
    def write_round(self, rng: random.Random, pipeline: bool, warm: bool = False) -> None:
        """[one day through the pipeline operators] -> two one-day
        appends -> MERGE -> DELETE -> read back, each timed."""
        ctx = self.ctx
        if pipeline:
            ctx.timed("pipeline", self.append_day, warm)
        for _ in range(2):
            ctx.timed("append", self.append_rows, warm)
        old = self.days[rng.randrange(len(self.days))]
        picked = sorted(rng.sample(ctx.stations_list(), max(1, len(ctx.stations_list()) // 4)))
        ctx.timed("merge", lambda: self.merge(old, f"m{rng.random():.6f}", picked), warm)
        victim = (ctx.stations_list()[rng.randrange(ctx.size.stations)], self.days[rng.randrange(len(self.days))])
        ctx.timed("delete", lambda: self.delete(*victim), warm)
        probe = self.days[-1]
        ctx.timed(
            "read_after_write",
            lambda: self.read(
                "raw",
                f"SELECT count(*) AS n, max(tmax_c) AS mx, min(tmax_c) AS mn FROM {self.name} "
                f"WHERE date_local = DATE'{probe}'",
            ),
            warm,
        )

    def read_plan(self, rng: random.Random, kinds: list[str]) -> list[tuple[str, str]]:
        """One seeded SELECT per entry of ``kinds``."""
        plan = []
        stations = self.ctx.stations_list()
        for kind in kinds:
            st = stations[rng.randrange(len(stations))]
            a = rng.randrange(len(self.days))
            d, lo, hi = self.days[a], self.days[a], self.days[min(len(self.days) - 1, a + 60)]
            if kind == "point":
                q = (
                    f"SELECT station_id, date_local, tmax_c, coverage_hours FROM {self.name} "
                    f"WHERE station_id = '{st}' AND date_local = DATE'{d}'"
                )
            elif kind == "scan":
                q = (
                    "SELECT station_id, count(*) AS n, max(tmax_c) AS mx, min(tmax_c) AS mn "
                    f"FROM {self.name} WHERE date_local BETWEEN DATE'{lo}' AND DATE'{hi}' "
                    "GROUP BY station_id ORDER BY station_id"
                )
            elif kind == "version":
                # one step back: older snapshots differ in deletion
                # vectors, so a seeded depth would make the cost vary
                v = self.log[-2][-1]
                q = (
                    f"SELECT count(*) AS n, max(tmax_c) AS mx, min(tmax_c) AS mn FROM {self.name} VERSION AS OF {v} "
                    f"WHERE date_local BETWEEN DATE'{lo}' AND DATE'{hi}'"
                )
            elif kind == "view":
                q = f"SELECT station_id, n_days, tmax_max FROM daily_by_station WHERE station_id = '{st}'"
            else:
                raise ValueError(kind)
            plan.append((kind, q))
        return plan

    def read_window(self, plan: list[tuple[str, str]], block: int) -> list[int]:
        """Run ``plan`` in order, cycling, in whole blocks of ``block``
        reads so every run reads each kind equally often: one untimed
        block, then blocks for ``--seconds`` (a traced run: a fixed
        number). Returns the plan index of every read that returned."""
        ctx = self.ctx
        done: list[int] = []

        def run(j: int, warm: bool) -> None:
            kind, statement = plan[j % len(plan)]
            n0 = len(self.reads)
            ctx.timed(kind, lambda: self.read(kind, statement), warm)
            if len(self.reads) > n0:
                done.append(j % len(plan))

        for j in range(block):
            run(j, True)
        t_window = time.perf_counter()
        b = 1
        while b <= ctx.size.traced_reads if ctx.tracer.enabled else (
            b == 1 or time.perf_counter() - t_window < ctx.seconds
        ):
            for j in range(b * block, (b + 1) * block):
                run(j, False)
            b += 1
        ctx.window_s = time.perf_counter() - t_window
        return done

    # -- bytes on disk ------------------------------------------------------
    def bytes_per_user_byte(self) -> float:
        from temp_data_pipeline_spark.operators.deletion_vectors import read_table

        on_disk = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.path) for f in fs)
        compact = self.ctx.path("compact_copy")
        read_table(self.spark, self.path).coalesce(1).write.mode("overwrite").parquet(compact)
        user = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(compact) for f in fs)
        return on_disk / user

    # -- oracle replay ------------------------------------------------------
    def replay(self, initial: pd.DataFrame | None = None) -> oracle.TableModel:
        """Re-derive every committed version in pandas from the logged
        operations and regenerated inputs."""
        model = oracle.TableModel()
        n = self.ctx.size.stations
        tz_of = dict(self._frame(("stations",), lambda: self.stations.select("station_id", "tz")).values)
        inputs = []
        for e in self.log:
            kind = e[0]
            if kind == "create_rows":
                _, seed, n_days, v = e
                inputs.append(self._frame(e[:3], lambda: gen.daily_rows(self.spark, seed, n, START, n_days)))
                model.upsert(inputs[-1])
            elif kind == "create_daily":
                _, v = e
                model.upsert(initial)
            elif kind == "append_rows":
                _, day, seed, v = e
                inputs.append(self._frame(e[:3], lambda: gen.daily_rows(self.spark, seed, n, day, 1)))
                model.upsert(inputs[-1])
            elif kind == "append":
                _, day, seed, v = e
                h = self._frame(e[:3], lambda: gen.hourly_obs(self.spark, seed, n, day, 1))
                inputs.append(h)
                model.upsert(oracle.daily_tmax(h, tz_of))
            elif kind == "merge":
                _, day, seed, salt, stations, v = e
                src = self._frame(e[:4], lambda: gen.daily_rows(self.spark, seed, n, day, 1, salt=salt))
                inputs.append(src)
                model.upsert(src[src["station_id"].isin(stations)])
            elif kind == "delete":
                _, station, day, v = e
                model.delete(station, day)
            model.commit(v)
        self.ctx.hashes["lake_inputs"] = frame_hash(*inputs) if inputs else ""
        return model

    def _frame(self, key: tuple, make) -> pd.DataFrame:
        """``make()`` as pandas, once per run: the fresh tables share
        their generated inputs."""
        if key not in self.ctx.frames:
            self.ctx.frames[key] = make().toPandas()
        return self.ctx.frames[key]

    def check_reads(self, reads: list[tuple], wants: list[list[tuple]]) -> None:
        for (kind, statement, rows, _v, _vv), want in zip(reads, wants):
            oracle.require(same_rows(normalize(kind, rows), want), f"{kind} read {statement!r}: got {rows[:3]}, want {want[:3]}")

    def check_final(self, model: oracle.TableModel) -> None:
        got = self.engine.sql(f"SELECT * FROM {self.name}").toPandas()
        oracle.compare_daily(got, model.frame(), "daily table")
        self.ctx.hashes["daily_table"] = frame_hash(got.drop(columns=["updated_at_utc"]))
        if self.view_version is not None:
            v = self.engine.sql("SELECT station_id, n_days, tmax_max FROM daily_by_station").toPandas()
            want = oracle.by_station(model.frame(self.view_version))
            v = v.sort_values("station_id").reset_index(drop=True)
            oracle.require(
                v["station_id"].tolist() == want["station_id"].tolist()
                and v["n_days"].tolist() == want["n_days"].tolist()
                and v["tmax_max"].tolist() == want["tmax_max"].tolist(),
                "matview differs from the table model",
            )


def answer(kind: str, statement: str, model: oracle.TableModel, version: int, view_version: int | None) -> list[tuple]:
    """The rows a logged SELECT must return, from the table model."""

    def day(s):
        return dt.date.fromisoformat(s)

    def stats(sel):
        return [(len(sel), sel.max() if len(sel) else None, sel.min() if len(sel) else None)]

    frame = model.frame(version)
    if kind == "raw":
        d = day(re.search(r"date_local = DATE'([\d-]+)'", statement).group(1))
        return stats(frame[frame["date_local"] == d]["tmax_c"])
    if kind == "point":
        st, d = re.search(r"station_id = '(\w+)' AND date_local = DATE'([\d-]+)'", statement).groups()
        sel = frame[(frame["station_id"] == st) & (frame["date_local"] == day(d))]
        return [(st, day(d), r.tmax_c, r.coverage_hours) for r in sel.itertuples()]
    if kind in ("scan", "version"):
        lo, hi = (day(x) for x in re.findall(r"DATE'([\d-]+)'", statement))
        if kind == "version":
            frame = model.frame(int(re.search(r"VERSION AS OF (\d+)", statement).group(1)))
        sel = frame[(frame["date_local"] >= lo) & (frame["date_local"] <= hi)]
        if kind == "version":
            return stats(sel["tmax_c"])
        g = sel.groupby("station_id")["tmax_c"].agg(["size", "max", "min"]).sort_index()
        return [(s, int(r["size"]), r["max"], r["min"]) for s, r in g.iterrows()]
    if kind == "view":
        st = re.search(r"station_id = '(\w+)'", statement).group(1)
        g = oracle.by_station(model.frame(view_version))
        return [(r.station_id, r.n_days, r.tmax_max) for r in g[g["station_id"] == st].itertuples()]
    raise ValueError(kind)


def normalize(kind: str, rows: list[tuple]) -> list[tuple]:
    if kind == "point":
        return [(r[0], _as_date(r[1]), r[2], r[3]) for r in rows]
    return rows


def same_rows(a: list[tuple], b: list[tuple]) -> bool:
    return len(a) == len(b) and all(
        len(x) == len(y) and all(_eq(u, w) for u, w in zip(x, y)) for x, y in zip(a, b)
    )


def _as_date(v):
    return v if isinstance(v, dt.date) and not isinstance(v, dt.datetime) else pd.Timestamp(v).date()


def _eq(a, b) -> bool:
    if a is None or (isinstance(a, float) and pd.isna(a)):
        return b is None or (isinstance(b, float) and pd.isna(b))
    if isinstance(a, float) or isinstance(b, float):
        return b is not None and oracle.close(float(a), float(b))
    return a == b


# ---------------------------------------------------------------- inputs


def write_inputs(ctx: Ctx, dest: str, hourly_days: int) -> int:
    """The seeded inputs as parquet tables the sources layer reads.
    Returns the hourly row count."""
    s = ctx.size
    os.makedirs(dest, exist_ok=True)
    gen.stations(ctx.spark, s.stations).write.parquet(os.path.join(dest, "stations.parquet"))
    n = 0
    if hourly_days:
        gen.hourly_obs(ctx.spark, ctx.seed, s.stations, START, hourly_days).write.parquet(
            os.path.join(dest, "hourly_obs.parquet")
        )
        gen.forecasts(ctx.spark, ctx.seed, s.stations, START, hourly_days).write.parquet(
            os.path.join(dest, "forecasts.parquet")
        )
        n = ctx.spark.read.parquet(os.path.join(dest, "hourly_obs.parquet")).count()
    return n


def fresh_rounds(ctx: Ctx, inputs: str, rng: random.Random) -> None:
    """``ctx.size.rounds`` write rounds, each on a fresh table of
    ``table_days`` generated days (its commit untimed), so every round
    starts from the same state; then check every table against its
    pandas model."""
    s = ctx.size
    lakes = []
    for i in range(s.rounds):
        lake = Lake(ctx, ctx.path("rounds", str(i)), inputs, s.table_days, name=f"daily_r{i}")
        lake.create(
            gen.daily_rows(ctx.spark, ctx.seed, s.stations, START, s.table_days),
            ("create_rows", ctx.seed, s.table_days),
        )
        lake.write_round(rng, pipeline=False)
        lakes.append(lake)
    for lake in lakes:
        model = lake.replay()
        lake.check_reads(lake.reads, [answer(k, q, model, v, vv) for k, q, _r, v, vv in lake.reads])
        lake.check_final(model)


def repeated_setup(ctx: Ctx, build) -> object:
    """Run ``build(dest)`` ``SETUP_REPEATS`` times into fresh dirs,
    timing each; keep the last build as the run's state."""
    out = None
    for i in range(SETUP_REPEATS):
        dest = ctx.path(f"setup{i}")
        t0 = time.perf_counter()
        out = build(dest)
        ctx.setup_builds.append(time.perf_counter() - t0)
        if i + 1 < SETUP_REPEATS:
            shutil.rmtree(dest, ignore_errors=True)
            ctx.spark.catalog.clearCache()
    return out


# ---------------------------------------------------------------- workloads


def pipeline_full(ctx: Ctx) -> dict:
    s = ctx.size
    spark = ctx.spark
    rows = {}

    def build(dest):
        rows["hourly"] = write_inputs(ctx, dest, s.pipeline_days)
        return dest

    inputs = repeated_setup(ctx, build)
    rng = random.Random(ctx.seed)
    cfg = EvalConfig(
        station_ids=ctx.stations_list(),
        start_date_local=str(START),
        end_date_local=str(START + dt.timedelta(days=s.pipeline_days)),
        lead_hours_allowed=[gen.LEADS[0]],
        models=[ModelConfig(type=m) for m in MODELS],
        sigma_type="bucketed",
    )
    lake = Lake(ctx, ctx.path("tables"), inputs, s.pipeline_days)
    train_path = ctx.path("tables", "train")
    out = {"passthrough": None}

    def one_pass():
        tr = ctx.tracer
        stage = ctx.path("stages")
        hourly = registry.load_table(spark, inputs, "hourly_obs")
        fc = registry.load_table(spark, inputs, "forecasts")
        st = registry.load_table(spark, inputs, "stations")
        with tr.span("operators.clean_hourly", "clean_hourly_obs", rows_in=rows["hourly"]):
            clean_hourly.clean_hourly_obs(hourly, tie_breaker="ingest_seq").write.parquet(
                os.path.join(stage, "clean")
            )
        clean = spark.read.parquet(os.path.join(stage, "clean"))
        with tr.span("operators.daily_tmax", "build_daily_tmax"):
            daily_tmax.build_daily_tmax(
                clean.join(F.broadcast(st.select("station_id", "tz")), "station_id"),
                station_tz=F.col("tz"),
                updated_at_utc=gen.UPDATED_AT,
                source="synthetic",
            ).write.parquet(os.path.join(stage, "daily"))
        daily = spark.read.parquet(os.path.join(stage, "daily"))
        with tr.span("operators.features", "build_train_daily_tmax"):
            features.build_train_daily_tmax(fc, daily).write.parquet(os.path.join(stage, "train"))
        train = spark.read.parquet(os.path.join(stage, "train"))
        result = eval_runner.run_multi_model_evaluation(cfg, fc, daily, feature_df=train, run_id="bench")
        eval_report.write_all_artifacts(result, base_path=ctx.path("runs"), now=gen.UPDATED_AT)
        lake.version = versioned.commit_version(daily, lake.path)
        versioned.commit_version(train, train_path)
        out["passthrough"] = result.models["Passthrough"].metrics.forecast
        spark.catalog.clearCache()

    ctx.timed("pipeline", one_pass)
    ctx.counts["pipeline_rows"] = rows["hourly"]
    lake.log.append(("create_daily", lake.version))
    # late corrections on the result, untimed: they warm the write path
    # and leave deletion vectors for the reads
    lake.write_round(rng, pipeline=False, warm=True)
    fresh_rounds(ctx, inputs, rng)
    lake.read_window(lake.read_plan(rng, ["point", "scan"] * PLAN_BLOCKS), 2)
    ctx.counts["bytes_per_user_byte"] = lake.bytes_per_user_byte()

    # -- checks --
    daily_frame = spark.read.parquet(ctx.path("stages", "daily")).toPandas()
    h = spark.read.parquet(os.path.join(inputs, "hourly_obs.parquet")).toPandas()
    fc = spark.read.parquet(os.path.join(inputs, "forecasts.parquet")).toPandas()
    tz_of = dict(lake.stations.select("station_id", "tz").toPandas().values)
    want = oracle.daily_tmax(h, tz_of)
    oracle.compare_daily(daily_frame, want, "pipeline daily Tmax")
    ctx.hashes["pipeline_inputs"] = frame_hash(h, fc)
    ctx.hashes["pipeline_daily"] = frame_hash(daily_frame.drop(columns=["updated_at_utc"]))
    mae, bias, n = oracle.passthrough_metrics(
        fc, want, gen.LEADS[0], cfg.split.train_frac, cfg.split.val_frac
    )
    got = out["passthrough"]
    ctx.hashes["passthrough"] = f"{got.n_samples}:{got.mae!r}:{got.bias!r}"
    oracle.require(
        got.n_samples == n and oracle.close(got.mae, mae) and oracle.close(got.bias, bias),
        f"Passthrough metrics: got n={got.n_samples} mae={got.mae} bias={got.bias}, "
        f"want n={n} mae={mae} bias={bias}",
    )
    model = lake.replay(initial=want)
    lake.check_reads(lake.reads, [answer(k, q, model, v, vv) for k, q, _r, v, vv in lake.reads])
    lake.check_final(model)
    return {"rounds": s.rounds, "reads": len(lake.reads)}


def sql_reads(ctx: Ctx) -> dict:
    s = ctx.size
    rng = random.Random(ctx.seed)

    def build(dest):
        write_inputs(ctx, os.path.join(dest, "inputs"), 0)
        lake = Lake(ctx, dest, os.path.join(dest, "inputs"), s.table_days)
        lake.create(
            gen.daily_rows(ctx.spark, ctx.seed, s.stations, START, s.table_days),
            ("create_rows", ctx.seed, s.table_days),
        )
        return lake

    lake = repeated_setup(ctx, build)
    # history: an untimed write round (one day of hourly obs through the
    # pipeline operators, appends, and a MERGE and a DELETE that leave
    # deletion vectors), one more untimed day through the pipeline
    # operators (the JIT is still compiling them) and PIPELINE_DAYS timed
    # ones; then the timed rounds on fresh tables, then the view over
    # the history. A refresh over the history takes 9-10 s even on the
    # tiny table, so only a traced run builds the view first and refreshes
    # it after the history.
    if ctx.tracer.enabled:
        ctx.timed("view_build", lake.build_view)
    lake.write_round(rng, pipeline=True, warm=True)
    ctx.timed("pipeline", lake.append_day, warm=True)
    for _ in range(PIPELINE_DAYS):
        ctx.timed("pipeline", lake.append_day)
    fresh_rounds(ctx, lake.inputs, rng)
    ctx.timed("refresh" if ctx.tracer.enabled else "view_build", lake.refresh_view if ctx.tracer.enabled else lake.build_view)
    ctx.counts["pipeline_rows"] = s.stations * 24  # hourly rows of one day
    ctx.counts["bytes_per_user_byte"] = lake.bytes_per_user_byte()

    # the read mix and its answers, fixed before the window
    model = lake.replay()
    history_reads = list(lake.reads)
    lake.check_reads(history_reads, [answer(k, q, model, v, vv) for k, q, _r, v, vv in history_reads])
    kinds = []
    for _ in range(PLAN_BLOCKS):  # every prefix of whole blocks has each kind equally
        block = list(READ_KINDS)
        rng.shuffle(block)
        kinds += block
    plan = lake.read_plan(rng, kinds)
    wants = [answer(k, q, model, lake.version, lake.view_version) for k, q in plan]

    lake.reads.clear()
    done = lake.read_window(plan, len(READ_KINDS))
    lake.check_reads(lake.reads, [wants[j] for j in done])
    lake.check_final(model)
    return {"rounds": s.rounds, "reads": len(lake.reads)}


WORKLOADS = {
    "pipeline_full": pipeline_full,
    "sql_reads": sql_reads,
}
