"""RangeDetector — values outside [min, max].

Reference: /root/reference/tsod/detectors.py:58-136. A pure
projection+predicate (no window, no shuffle): at any scale this is a
parquet scan with the predicate evaluated in whole-stage codegen, and
with a literal threshold Catalyst can even push the comparison to the
scan when used as a filter.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..expressions import as_pred
from ..frame import TimeSeriesFrame
from .base import SparkDetector


class RangeDetector(SparkDetector):
    def __init__(self, min_value=-math.inf, max_value=math.inf, quantiles=None):
        super().__init__()
        self._min = min_value
        self._max = max_value
        if quantiles is None:
            # default [0,1] == min/max, detectors.py:97-98
            self._quantiles = [0.0, 1.0]
        else:
            assert 0.0 <= quantiles[0] <= 1.0  # detectors.py:100-101
            assert 0.0 <= quantiles[1] <= 1.0
            self._quantiles = list(quantiles)

    def _fit_spec(self, tsf: TimeSeriesFrame):
        """min/max from exact quantiles of normal data (detectors.py:104-119).

        Exact ``percentile`` (linear interpolation, same as
        ``np.nanquantile``); at 100 TB swap for ``percentile_approx``
        with a documented tolerance — kept exact here for oracle parity.
        """
        ql, qh = self._quantiles
        q = F.percentile(tsf.value, F.lit([float(ql), float(qh)]))
        return {}, {"min": F.array_min(q), "max": F.array_max(q)}

    def _adopt(self, params: dict) -> None:
        super()._adopt(params)
        self._min, self._max = params["min"], params["max"]
        assert self._max >= self._min  # detectors.py:118

    def _bounds(self, tsf):
        if self._params_df is not None:
            return self.p("min"), self.p("max")
        return (
            None if self._min is None else F.lit(float(self._min)),
            None if self._max is None else F.lit(float(self._max)),
        )

    def _attach(self, tsf: TimeSeriesFrame, out_col: str) -> DataFrame:
        v = tsf.value
        mn, mx = self._bounds(tsf)
        # One-sided variants per detectors.py:124-130.
        if mx is None:
            pred = v < mn
        elif mn is None:
            pred = v > mx
        else:
            pred = (v < mn) | (v > mx)
        return tsf.df.withColumn(out_col, as_pred(pred))

    def fit_detect(self, data, out_col: str = "is_anomaly") -> DataFrame:
        """Single-pass per-series quantile fit + detect (whole-partition
        window aggregate instead of a separate fit job)."""
        from .base import as_tsf

        tsf = as_tsf(data)
        ql, qh = self._quantiles
        q = F.percentile(tsf.value, F.lit([float(ql), float(qh)])).over(tsf.w_all())
        mn, mx = F.array_min(q), F.array_max(q)
        return tsf.df.withColumn(out_col, as_pred((tsf.value < mn) | (tsf.value > mx)))

    def __repr__(self):
        return f"{self.__class__.__name__}(min: {self._min}, max: {self._max})"
