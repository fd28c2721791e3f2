"""Temporal train/val/test splits on DataFrames (reference eval/splits.py).

Positional splits need a total order. The eval frame is the *joined*
forecast⋈truth output — thousands of rows per station-decade, never
the raw-data path — so a single-partition `row_number` window is the
right tool (SURVEY §4 item 3). The numbering is computed once and each
split is a filter over it (`conditions`); `data.load_eval_data` caches
the numbered frame once and filters train, val and test out of that
cache.

Semantics mirror pandas `iloc` cuts exactly:
- static: train = rows [0, int(n·train_frac)), val = next
  int(n·(train+val)) − train_end rows, test = rest
  (`splits.py:59-76`)
- walk_forward final fold: test = last step_size rows, train = the
  window_size rows before them (all prior rows if expanding)
  (`splits.py:96-125`); `generate_folds` yields every fold
  (`splits.py:127-157`)

int() truncation in the reference == floor for the non-negative row
counts involved, so `F.floor` is exact parity.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from temp_data_pipeline_spark.eval.config import SplitConfig

ORDER_COLS = ("station_id", "target_date_local")


def _numbered(df: DataFrame, order_cols=ORDER_COLS) -> DataFrame:
    """Attach 1-based global row_number `_rn` and total count `_n`.

    The windows have no partition key, so the result is ONE partition
    and a global aggregate over it (a model fit, the split counts)
    needs no exchange of its own."""
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return df.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(w_all)
    )


def _strip(df: DataFrame) -> DataFrame:
    return df.drop("_rn", "_n")


class _PositionalSplit:
    def conditions(self) -> tuple[Column, Column, Column]:
        """The (train, val, test) filters over a `_numbered` frame."""
        raise NotImplementedError

    def split(self, df: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
        nd = _numbered(df)
        train, val, test = (_strip(nd.filter(c)) for c in self.conditions())
        return train, val, test


@dataclass
class StaticSplit(_PositionalSplit):
    train_frac: float = 0.70
    val_frac: float = 0.15
    test_frac: float = 0.15

    def conditions(self) -> tuple[Column, Column, Column]:
        rn = F.col("_rn")
        train_end = F.floor(F.col("_n") * self.train_frac)
        val_end = F.floor(F.col("_n") * (self.train_frac + self.val_frac))
        return rn <= train_end, (rn > train_end) & (rn <= val_end), rn > val_end


@dataclass
class WalkForwardSplit(_PositionalSplit):
    window_size: int
    step_size: int
    expanding: bool = False

    def conditions(self) -> tuple[Column, Column, Column]:
        rn = F.col("_rn")
        test_start = F.col("_n") - self.step_size  # rows with _rn > test_start
        train = rn <= test_start
        if not self.expanding:
            train = (rn > test_start - self.window_size) & train
        return train, F.lit(False), rn > test_start  # walk-forward has no val set

    def generate_folds(self, df: DataFrame) -> list[tuple[DataFrame, DataFrame]]:
        """All folds as filter pairs over one numbered frame.

        The fold count needs the total row count — one cheap count()
        action on the (small) eval frame.
        """
        nd = _numbered(df).cache()
        n = nd.count()
        folds = []
        start = self.window_size
        while start + self.step_size <= n:
            train_start = 0 if self.expanding else start - self.window_size
            train = _strip(
                nd.filter((F.col("_rn") > train_start) & (F.col("_rn") <= start))
            )
            test = _strip(
                nd.filter(
                    (F.col("_rn") > start) & (F.col("_rn") <= start + self.step_size)
                )
            )
            folds.append((train, test))
            start += self.step_size
        return folds


def create_split(config: SplitConfig):
    if config.type == "static":
        return StaticSplit(config.train_frac, config.val_frac, config.test_frac)
    if config.type == "walk_forward":
        return WalkForwardSplit(
            config.window_size, config.step_size, config.expanding
        )
    raise ValueError(f"Unknown split type: {config.type}")
