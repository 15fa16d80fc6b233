"""HampelDetector — rolling median/MAD outlier filter.

Reference: /root/reference/tsod/hampel.py. The numba row loop (:27-60)
becomes pure Column algebra over the per-series sort — no Python in the
hot path. Semantics reproduced exactly:

- **half-open window** ``[t - w, t + w)`` — the python slice at
  hampel.py:51 *excludes* the right edge -> ``rowsBetween(-w, w-1)``
  (2w rows including the current one);
- nanmedian / nanMAD (NaN-skipping -> NULL-skipping after ingest
  normalization): exact medians from ``sort_array(collect_list(v))``
  with linear interpolation for even counts;
- scale factor k = 1.4826 (hampel.py:13) applied to the MAD;
- only interior points ``t in [w, n - w)`` are ever flagged
  (loop bounds hampel.py:50).

Memory per row is O(w) for the collected window (w≈5-20 by design —
fine at any row count since it does not grow with data size). Argument
validation mirrors hampel.py:16-24.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..exceptions import InvalidArgumentError, NotIntegerError
from ..expressions import array_median, as_pred
from ..frame import TimeSeriesFrame
from .base import SparkDetector

GAUSSIAN_SCALE_FACTOR = 1.4826  # 1/Phi^-1(3/4), hampel.py:10-13


# The collect_list window materializes 2w values per ROW, so memory and
# compute are O(w) per row — fine at the reference's documented w≈5-20,
# quadratic-feeling at w in the thousands. The guard backs the
# documented contract with code instead of a docstring.
MAX_WINDOW_SIZE = 1000


def _validate_arguments(window_size, threshold):
    if not isinstance(window_size, int):
        raise NotIntegerError("window_size")
    if window_size <= 0:
        raise InvalidArgumentError("window_size", "nonnegative")
    if window_size > MAX_WINDOW_SIZE:
        raise InvalidArgumentError(
            "window_size",
            f"<= {MAX_WINDOW_SIZE} (the exact-median plan keeps 2w values "
            "per row; larger windows need an approximate-quantile design)",
        )
    if threshold < 0:
        raise InvalidArgumentError("threshold", "positive")


class HampelDetector(SparkDetector):
    """Rolling median/MAD outlier filter (see module docstring for the
    exact reference-parity semantics).

    **Reference-compat delta**: ``window_size`` is capped at
    ``MAX_WINDOW_SIZE`` (1000). The reference implementation
    (reference tsod/hampel.py ``_validate_arguments``) accepts any
    positive int; this engine's exact-median plan keeps ``2w`` values
    per row, so the cap backs the O(w)-per-row memory contract with a
    raise instead of an OOM. Callers migrating with larger windows get
    an ``InvalidArgumentError`` pointing at an approximate-quantile
    design rather than a runtime blow-up.
    """

    def __init__(self, window_size: int = 5, threshold: float = 3):
        super().__init__()
        _validate_arguments(window_size, threshold)
        self._window_size = window_size
        self._threshold = threshold

    def _attach(self, tsf: TimeSeriesFrame, out_col: str) -> DataFrame:
        w = self._window_size
        win = tsf.w()
        frame = win.rowsBetween(-w, w - 1)  # half-open [t-w, t+w)
        arr_col, med_col = self.tmp("arr"), self.tmp("med")
        dev_col, mad_col, rn_col = self.tmp("dev"), self.tmp("mad"), self.tmp("rn")

        # Each sorted array is its own column: array_median reads its
        # argument four times and Catalyst does not dedupe repeated
        # higher-order subtrees, so an inline sort would run per read.
        # sort_array is codegen'd and orders like array_sort here (the
        # arrays are NULL-free: collect_list drops NULLs).
        df = tsf.df.withColumn(arr_col, F.sort_array(F.collect_list(tsf.value).over(frame)))
        df = df.withColumn(rn_col, F.row_number().over(win))
        df = df.withColumn(med_col, array_median(F.col(arr_col)))
        absdev_arr = F.transform(F.col(arr_col), lambda x: F.abs(x - F.col(med_col)))
        df = df.withColumn(dev_col, F.sort_array(absdev_arr))
        df = df.withColumn(
            mad_col, F.lit(GAUSSIAN_SCALE_FACTOR) * array_median(F.col(dev_col))
        )

        rn = F.col(rn_col)
        cnt = F.count(F.lit(1)).over(tsf.with_df(df).w_all())
        interior = (rn > w) & (rn <= cnt - w)  # loop bounds hampel.py:50
        dev = F.abs(tsf.value - F.col(med_col))
        flag = interior & as_pred(dev > F.lit(float(self._threshold)) * F.col(mad_col))
        return df.withColumn(out_col, as_pred(flag))

    def __str__(self):
        return f"{self.__class__.__name__}({self._window_size}, {self._threshold})"
