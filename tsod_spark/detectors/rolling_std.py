"""RollingStandardDeviationDetector — windows of excessive local variance.

Reference: /root/reference/tsod/detectors.py:186-219. pandas-exact
details (SURVEY §2.1 D4):

- pandas ``.std()`` is *sample* stddev (ddof=1) -> ``stddev_samp``;
- ``min_periods`` defaults to the window size -> count guard;
- centered even window w spans ``[i - w//2, i + w - w//2 - 1]``;
- fit uses a *trailing* window while detect defaults to centered
  (detectors.py:206 has no ``center=``) — asymmetry kept;
- ``anomalies[0] = False`` forced (detectors.py:215) -> first row per
  series masked.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..expressions import as_pred
from ..frame import TimeSeriesFrame
from ..windows import rolling
from .base import SparkDetector, as_tsf


class RollingStandardDeviationDetector(SparkDetector):
    def __init__(self, window_size: int = 10, max_std=math.inf, center: bool = True):
        super().__init__()
        self._window_size = window_size
        self._max_std = max_std
        self._center = center

    def _fit_spec(self, tsf: TimeSeriesFrame):
        """max trailing rolling std of normal data (detectors.py:205-208)."""
        std = rolling(F.stddev_samp, tsf.value, tsf.w(), self._window_size, center=False)
        return {"s": std}, {"max_std": F.max(F.col(self.tmp("s")))}

    def _adopt(self, params: dict) -> None:
        super()._adopt(params)
        self._max_std = params["max_std"]

    def _threshold(self):
        if self._params_df is not None:
            return self.p("max_std")
        return F.lit(float(self._max_std))

    def _attach(self, tsf: TimeSeriesFrame, out_col: str) -> DataFrame:
        std = rolling(
            F.stddev_samp, tsf.value, tsf.w(), self._window_size, center=self._center
        )
        first = F.row_number().over(tsf.w()) == 1
        flag = as_pred(std > self._threshold()) & ~first
        return tsf.df.withColumn(out_col, flag)

    def fit_detect(self, data, out_col: str = "is_anomaly") -> DataFrame:
        tsf = as_tsf(data)
        scol, tcol = self.tmp("s"), self.tmp("t")
        trail = rolling(F.stddev_samp, tsf.value, tsf.w(), self._window_size, center=False)
        cent = rolling(
            F.stddev_samp, tsf.value, tsf.w(), self._window_size, center=self._center
        )
        df = tsf.df.withColumn(scol, cent).withColumn(tcol, trail)
        tsf2 = tsf.with_df(df)
        thr = F.max(F.col(tcol)).over(tsf2.w_all())
        first = F.row_number().over(tsf2.w()) == 1
        df = df.withColumn(out_col, as_pred(F.col(scol) > thr) & ~first)
        return df.drop(scol, tcol)

    def __str__(self):
        return f"{self.__class__.__name__}(window_size:{self._window_size}, max_std:{self._max_std})"
