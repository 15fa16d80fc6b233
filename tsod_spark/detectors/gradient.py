"""GradientDetector — abrupt changes in value per *second*.

Reference: /root/reference/tsod/detectors.py:282-324 with the shared
gradient kernel at /root/reference/tsod/base.py:82-90. The time delta is
exact integer-microsecond arithmetic / 1e6 so results match pandas
``total_seconds`` bit-for-bit. The reference's monotone-index guard
(base.py:85-87) is inlined as a zero-extra-pass CASE WHEN + raise_error.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..expressions import as_pred, guarded_dt, seconds_between
from ..frame import TimeSeriesFrame
from .base import SparkDetector, as_tsf
from .diff import VALID_DIRECTIONS, direction_pred


def gradient_col(tsf: TimeSeriesFrame, periods: int = 1, strict: bool = True) -> Column:
    """pandas ``data.diff(periods) / index.diff().total_seconds()``.

    Note the reference quirk for periods=-1 (used by
    ConstantGradientDetector): the *forward* value difference is divided
    by the *backward* time delta (base.py:85-89) — reproduced literally.
    """
    w = tsf.w()
    dt = guarded_dt(seconds_between(tsf.ts, F.lag(tsf.ts).over(w)), strict)
    if periods == 1:
        dv = tsf.value - F.lag(tsf.value).over(w)
    elif periods == -1:
        dv = tsf.value - F.lead(tsf.value).over(w)
    else:
        dv = tsf.value - F.lag(tsf.value, periods).over(w)
    return dv / dt


class GradientDetector(SparkDetector):
    def __init__(self, max_gradient=math.inf, direction: str = "both"):
        super().__init__()
        self._max_gradient = max_gradient
        if direction not in VALID_DIRECTIONS:
            raise ValueError(
                f"Selected direction, '{direction}' is not a valid direction. "
                f"Valid directions are: {VALID_DIRECTIONS}"
            )
        self._direction = direction

    def _fit_spec(self, tsf: TimeSeriesFrame):
        """max |gradient| of normal data (detectors.py:305-309)."""
        return (
            {"g": gradient_col(tsf)},
            {"max_gradient": F.max(F.abs(F.col(self.tmp("g"))))},
        )

    def _adopt(self, params: dict) -> None:
        super()._adopt(params)
        self._max_gradient = params["max_gradient"]

    def _threshold(self) -> Column:
        if self._params_df is not None:
            return self.p("max_gradient")
        return F.lit(float(self._max_gradient))

    def _attach(self, tsf: TimeSeriesFrame, out_col: str) -> DataFrame:
        g = gradient_col(tsf)
        return tsf.df.withColumn(
            out_col, as_pred(direction_pred(g, self._threshold(), self._direction))
        )

    def fit_detect(self, data, out_col: str = "is_anomaly") -> DataFrame:
        tsf = as_tsf(data)
        gcol = self.tmp("g")
        df = tsf.df.withColumn(gcol, gradient_col(tsf))
        tsf2 = tsf.with_df(df)
        t = F.max(F.abs(F.col(gcol))).over(tsf2.w_all())
        df = df.withColumn(
            out_col, as_pred(direction_pred(F.col(gcol), t, self._direction))
        )
        return df.drop(gcol)

    def __str__(self):
        return f"{self.__class__.__name__}({self._max_gradient * 3600.0}/hr, direction:{self._direction})"
