"""SeasonalResidualDetector — seasonal-aware residual thresholding.

The seasonal extension of the detector family (the reference's rule
detectors treat every hour alike, so a RangeDetector flags every rush
hour; this one learns the pattern and flags departures from it —
cf. the decomposition operator in ``analytics/temporal.py``, here with
the fit/detect/save/stream lifecycle of ``/root/reference/tsod``'s
detectors, base.py:25).

fit() learns, per series (or globally without a series key):

- ``seasonal``: the 24 hour-of-day mean offsets (phase mean minus the
  grand mean) in EXACT integer-cent sums — one grouped aggregate;
- ``thr``: the exact ``quantile`` of ``|value - trend - seasonal|``
  over the training data, where ``trend`` is the centered moving
  average over ``2*trend_window + 1`` rows (full windows only).

detect() joins the (broadcast) params and flags
``|value - trend - seasonal[hour]| > thr`` — one sort shuffle, same
profile as every window detector. The same fitted params drive the
streaming kernel (``streaming/kernels.py:seasonal_residual_kernel``)
with lookback = lookahead = ``trend_window``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..expressions import as_pred
from ..frame import TimeSeriesFrame
from .base import SparkDetector, fit_fused


def _seasonal_lit(values):
    """Literal array column from a fitted profile; phases with no
    training data are NULL (their rows flag False at detect)."""
    return F.array(
        *[
            F.lit(float(x)) if x is not None else F.lit(None).cast("double")
            for x in values
        ]
    )


_N_PHASES = {"hour": 24, "dow": 7}


class SeasonalResidualDetector(SparkDetector):
    def __init__(
        self,
        trend_window: int = 12,
        quantile: float = 0.99,
        phase_unit: str = "hour",
    ):
        super().__init__()
        self._trend_window = trend_window
        self._quantile = quantile
        if phase_unit not in _N_PHASES:
            raise ValueError(f"phase_unit must be one of {sorted(_N_PHASES)}")
        self._phase_unit = phase_unit

    def _phase(self, tsf: TimeSeriesFrame):
        # 0-based phase index: hour 0-23, or day-of-week 0-6
        # (Spark dayofweek is 1=Sunday..7=Saturday)
        if self._phase_unit == "hour":
            return F.hour(tsf.ts)
        return F.dayofweek(tsf.ts) - 1

    # -- shared plan pieces ---------------------------------------------
    def _cents(self, tsf: TimeSeriesFrame):
        return F.round(tsf.value * 100).cast("long")

    def _trend(self, tsf: TimeSeriesFrame):
        w = self._trend_window
        full = 2 * w + 1
        win = tsf.w().rowsBetween(-w, w)
        vc = self._cents(tsf)
        return F.when(
            F.count(vc).over(win) == full,
            F.sum(vc).over(win) / (100.0 * full),
        )

    def _resid(self, tsf: TimeSeriesFrame, seasonal_col):
        vc = self._cents(tsf)
        seasonal = F.element_at(seasonal_col, self._phase(tsf) + 1)
        return vc / 100.0 - self._trend(tsf) - seasonal

    # -- fit -------------------------------------------------------------
    def _fit(self, tsf: TimeSeriesFrame) -> None:
        vc = self._cents(tsf)
        ph = self._phase(tsf)
        grand = F.sum(vc) / (100.0 * F.count(vc))
        seasonal = F.array(
            *[
                F.sum(F.when(ph == h, vc)) / (100.0 * F.count(F.when(ph == h, vc)))
                - grand
                for h in range(_N_PHASES[self._phase_unit])
            ]
        )
        # pass 1: the seasonal profile (one grouped aggregate)
        fit_fused(tsf, [(self, ({}, {"seasonal": seasonal}))])
        # pass 2: residual threshold with the profile applied
        if self._params_df is not None:
            joined = tsf.with_df(
                tsf.df.join(F.broadcast(self._params_df), on=tsf.series, how="left")
            )
            resid = self._resid(joined, self.p("seasonal"))
            thr = joined.df.select(
                *tsf.series, resid.alias("__r")
            )
            thr_df = thr.groupBy(*tsf.series).agg(
                F.percentile(F.abs(F.col("__r")), F.lit(self._quantile)).alias(
                    self.tmp("thr")
                )
            )
            self._params_df = self._params_df.join(thr_df, on=tsf.series, how="left")
        else:
            resid = self._resid(tsf, _seasonal_lit(self._params["seasonal"]))
            row = (
                tsf.df.select(resid.alias("__r"))
                .agg(
                    F.percentile(F.abs(F.col("__r")), F.lit(self._quantile)).alias(
                        "t"
                    )
                )
                .first()
            )
            self._params["thr"] = row["t"]

    # -- detect ----------------------------------------------------------
    def _attach(self, tsf: TimeSeriesFrame, out_col: str) -> DataFrame:
        if self._params_df is not None:
            seasonal, thr = self.p("seasonal"), self.p("thr")
        else:
            if self._params is None or "thr" not in self._params:
                from ..exceptions import NotFittedError

                raise NotFittedError("detect")
            if self._params["thr"] is None:
                # degenerate training data (no complete trend window /
                # all missing): threshold undefined -> nothing flags,
                # matching the NULL-threshold per-series behavior
                return tsf.df.withColumn(out_col, F.lit(False))
            seasonal = _seasonal_lit(self._params["seasonal"])
            thr = F.lit(float(self._params["thr"]))
        resid = self._resid(tsf, seasonal)
        return tsf.df.withColumn(out_col, as_pred(F.abs(resid) > thr))
