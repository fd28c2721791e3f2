"""Output checks that do not use the engine: pandas restatements of the
clean -> daily-Tmax stage, of the Passthrough eval metrics, and a model
of the daily table that replays every append, MERGE and DELETE.

The constants below restate the engine's documented contract
(schemas/qc_flags.py, operators/clean_hourly.py, operators/daily_tmax.py)
instead of importing it, so a change to the engine cannot move the
oracle with it.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

QC_MISSING, QC_OOR, QC_SPIKE, QC_LOW, QC_INCOMPLETE = 1, 2, 4, 16, 32
TEMP_MIN, TEMP_MAX, SPIKE_C, MIN_COVERAGE = -90.0, 60.0, 15.0, 18
KEY = ["station_id", "date_local"]


class CheckFailed(AssertionError):
    pass


def _utc(s: pd.Series) -> pd.Series:
    return s.dt.tz_localize("UTC") if s.dt.tz is None else s.dt.tz_convert("UTC")


def daily_tmax(hourly: pd.DataFrame, tz_of: dict[str, str]) -> pd.DataFrame:
    """clean (keep-first dedup, missing / out-of-range / spike flags)
    then the local-day aggregate: max valid temp, distinct valid local
    hours, OR of the day's flags, coverage flags, null days dropped."""
    h = hourly.sort_values(["station_id", "ts_utc", "ingest_seq"], kind="mergesort")
    h = h.drop_duplicates(["station_id", "ts_utc"], keep="first").reset_index(drop=True)
    t = h["temp_c"].astype("float64")
    oor = (t < TEMP_MIN) | (t > TEMP_MAX)
    qc = np.where(t.isna(), QC_MISSING, 0) | np.where(oor, QC_OOR, 0)
    t = t.mask(oor)
    prev = t.groupby(h["station_id"]).shift(1)
    qc = qc | np.where((t - prev).abs() > SPIKE_C, QC_SPIKE, 0)
    ts = _utc(h["ts_utc"])
    local = pd.Series(index=h.index, dtype="object")
    hour = pd.Series(index=h.index, dtype="int64")
    for tz, idx in h.groupby(h["station_id"].map(tz_of)).groups.items():
        lt = ts.loc[idx].dt.tz_convert(tz)
        local.loc[idx] = lt.dt.date
        hour.loc[idx] = lt.dt.hour
    f = pd.DataFrame(
        {
            "station_id": h["station_id"],
            "date_local": local,
            "t": t,
            "valid_hour": hour.where(t.notna()),
            "b1": (qc & QC_MISSING) > 0,
            "b2": (qc & QC_OOR) > 0,
            "b4": (qc & QC_SPIKE) > 0,
        }
    )
    g = f.groupby(KEY, sort=False).agg(
        tmax_c=("t", "max"),
        coverage_hours=("valid_hour", "nunique"),
        b1=("b1", "any"),
        b2=("b2", "any"),
        b4=("b4", "any"),
    )
    g = g.reset_index()
    qc_day = g["b1"] * QC_MISSING + g["b2"] * QC_OOR + g["b4"] * QC_SPIKE
    cov = g["coverage_hours"]
    qc_day = qc_day | np.where(cov == 0, QC_INCOMPLETE, np.where(cov < MIN_COVERAGE, QC_LOW, 0))
    out = pd.DataFrame(
        {
            "station_id": g["station_id"],
            "date_local": g["date_local"],
            "tmax_c": g["tmax_c"],
            "tmax_f": np.round(g["tmax_c"] * 9 / 5 + 32, 1),
            "coverage_hours": cov.astype("int64"),
            "qc_flags": qc_day.astype("int64"),
        }
    )
    return out[out["tmax_c"].notna()].reset_index(drop=True)


def passthrough_metrics(
    forecasts: pd.DataFrame, daily: pd.DataFrame, lead: int, train_frac: float, val_frac: float
) -> tuple[float, float, int]:
    """MAE, bias and n of the raw forecast on the static split's test
    rows: forecasts at ``lead`` joined to covered truth days, ordered by
    (station, date), test = rows after floor(n * (train + val))."""
    fc = forecasts[forecasts["lead_hours"] == lead][
        ["station_id", "target_date_local", "tmax_pred_f"]
    ]
    truth = daily[daily["coverage_hours"] >= MIN_COVERAGE][["station_id", "date_local", "tmax_f"]]
    j = fc.merge(
        truth, left_on=["station_id", "target_date_local"], right_on=["station_id", "date_local"]
    ).sort_values(["station_id", "target_date_local"], kind="mergesort")
    n = len(j)
    test = j.iloc[math.floor(n * (train_frac + val_frac)):]
    e = test["tmax_pred_f"] - test["tmax_f"]
    return float(e.abs().mean()), float(e.mean()), len(test)


def require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def close(a: float, b: float, rel: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=rel)


def compare_daily(got: pd.DataFrame, want: pd.DataFrame, what: str) -> None:
    """Same key set; identical tmax_c, coverage and flags; tmax_f to
    1e-9 (Spark rounds through BigDecimal, numpy through a scaled rint)."""
    cols = ["tmax_c", "tmax_f", "coverage_hours", "qc_flags"]
    g = got[KEY + cols].copy()
    w = want[KEY + cols].copy()
    for d in (g, w):
        d["date_local"] = pd.to_datetime(d["date_local"]).dt.date
    require(len(g) == len(w), f"{what}: {len(g)} rows, expected {len(w)}")
    m = g.merge(w, on=KEY, how="outer", suffixes=("_g", "_w"), indicator=True)
    bad = m[m["_merge"] != "both"]
    require(bad.empty, f"{what}: {len(bad)} keys differ, e.g. {bad.head(3).to_dict('records')}")
    for c in ("tmax_c", "coverage_hours", "qc_flags"):
        diff = m[m[c + "_g"] != m[c + "_w"]]
        require(diff.empty, f"{what}: {c} differs on {len(diff)} rows, e.g. {diff.head(3).to_dict('records')}")
    require(
        bool(np.allclose(m["tmax_f_g"], m["tmax_f_w"], rtol=0, atol=1e-9)),
        f"{what}: tmax_f differs",
    )


class TableModel:
    """The daily table as a dict (station_id, date) -> row values,
    with a snapshot per committed version for time-travel reads."""

    COLS = ("tmax_c", "tmax_f", "coverage_hours", "qc_flags")

    def __init__(self):
        self.rows: dict[tuple, tuple] = {}
        self.snapshots: dict[int, dict] = {}

    def upsert(self, df: pd.DataFrame) -> None:
        for r in df.itertuples(index=False):
            self.rows[(r.station_id, _day(r.date_local))] = tuple(getattr(r, c) for c in self.COLS)

    def delete(self, station: str, day) -> None:
        self.rows.pop((station, _day(day)), None)

    def commit(self, version: int) -> None:
        self.snapshots[version] = dict(self.rows)

    def frame(self, version: int | None = None) -> pd.DataFrame:
        rows = self.rows if version is None else self.snapshots[version]
        return pd.DataFrame(
            [(k[0], k[1], *v) for k, v in rows.items()], columns=[*KEY, *self.COLS]
        )


def _day(d):
    return pd.Timestamp(d).date()


def by_station(frame: pd.DataFrame) -> pd.DataFrame:
    """The matview's aggregate, restated."""
    g = frame.groupby("station_id").agg(n_days=("tmax_c", "size"), tmax_max=("tmax_c", "max"))
    return g.reset_index().sort_values("station_id").reset_index(drop=True)
