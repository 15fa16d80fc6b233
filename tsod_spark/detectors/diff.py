"""DiffDetector — sudden shifts between consecutive samples.

Reference: /root/reference/tsod/detectors.py:139-183. One ``lag`` over
the per-series ordered window; the fit aggregate is the *signed* max of
diffs — a reference quirk (a large negative training jump is ignored,
detectors.py:169) reproduced deliberately.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..expressions import as_pred
from ..frame import TimeSeriesFrame
from .base import SparkDetector

VALID_DIRECTIONS = ("both", "positive", "negative")


def direction_pred(d: Column, threshold: Column, direction: str) -> Column:
    """Shared direction logic (detectors.py:172-178, also used by D3)."""
    if direction == "both":
        return F.abs(d) > threshold
    if direction == "positive":
        return d > threshold
    return d < -threshold


class DiffDetector(SparkDetector):
    def __init__(self, max_diff=math.inf, direction: str = "both"):
        super().__init__()
        self._max_diff = max_diff
        if direction not in VALID_DIRECTIONS:
            raise ValueError(
                f"Selected direction, '{direction}' is not a valid direction. "
                f"Valid directions are: {VALID_DIRECTIONS}"
            )
        self._direction = direction

    def _diff(self, tsf: TimeSeriesFrame) -> Column:
        return tsf.value - F.lag(tsf.value).over(tsf.w())

    def _fit_spec(self, tsf: TimeSeriesFrame):
        # diff is a window expression, so it is a column before the fit
        # aggregation (groupBy can't nest window fns).
        return {"d": self._diff(tsf)}, {"max_diff": F.max(F.col(self.tmp("d")))}

    def _adopt(self, params: dict) -> None:
        super()._adopt(params)
        self._max_diff = params["max_diff"]

    def _threshold(self) -> Column:
        if self._params_df is not None:
            return self.p("max_diff")
        return F.lit(float(self._max_diff))

    def _attach(self, tsf: TimeSeriesFrame, out_col: str) -> DataFrame:
        d = self._diff(tsf)
        # First row diff is NULL (pandas NaN) -> never an anomaly.
        return tsf.df.withColumn(
            out_col, as_pred(direction_pred(d, self._threshold(), self._direction))
        )

    def fit_detect(self, data, out_col: str = "is_anomaly") -> DataFrame:
        """Single-pass: per-series signed-max threshold via window agg."""
        from .base import as_tsf

        tsf = as_tsf(data)
        dcol = self.tmp("d")
        df = tsf.df.withColumn(dcol, self._diff(tsf))
        tsf2 = tsf.with_df(df)
        t = F.max(F.col(dcol)).over(tsf2.w_all())
        df = df.withColumn(
            out_col, as_pred(direction_pred(F.col(dcol), t, self._direction))
        )
        return df.drop(dcol)

    def __str__(self):
        return f"{self.__class__.__name__}({self._max_diff}, direction:{self._direction})"
