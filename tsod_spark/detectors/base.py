"""Detector base class — the Spark replacement for the reference ABC.

Reference template (/root/reference/tsod/base.py:25-104):
``fit = validate -> _fit`` and ``detect = validate -> _detect ->
_postprocess``. Here the same template produces *lazy plans*:

- ``fit(tsf)`` runs a tiny aggregation job and stores 1-2 scalars per
  series (the reference's learned state, SURVEY §1.1). With a ``series``
  key the params live in a small DataFrame that detect() broadcast-joins
  back — never a shuffle of the big side. A CombinedDetector fits all
  its plain-aggregate leaves in one such aggregation (``fit_fused``).
- ``detect(tsf)`` appends an ``is_anomaly BOOLEAN`` column to a lazy
  DataFrame; nothing executes until the caller acts. All detectors window
  over the same ``partitionBy(series).orderBy(ts)`` spec, so Catalyst
  plans exactly one Exchange+Sort no matter how many detectors compose.
- ``fit_detect(tsf)`` is the single-pass variant (threshold as a
  whole-partition window aggregate) for fit-and-detect-on-same-data,
  which is also what the SQL oracle can express directly.
"""

from __future__ import annotations

import abc
import itertools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..exceptions import WrongInputDataTypeError
from ..frame import TimeSeriesFrame

_ids = itertools.count()


def as_tsf(data) -> TimeSeriesFrame:
    """Input gate, mirroring Detector.validate (/root/reference/tsod/base.py:74-80)."""
    if isinstance(data, TimeSeriesFrame):
        return data
    if isinstance(data, DataFrame):
        return TimeSeriesFrame(data)
    raise WrongInputDataTypeError()


class SparkDetector(abc.ABC):
    """Abstract base for all detectors (cf. /root/reference/tsod/base.py:25)."""

    def __init__(self):
        self._uid = f"d{next(_ids)}"
        self._params: dict[str, float] | None = None
        self._params_df: DataFrame | None = None

    # -- naming ---------------------------------------------------------
    def tmp(self, name: str) -> str:
        return f"__{self._uid}_{name}"

    def p(self, name: str) -> Column:
        """Fitted-parameter accessor: literal (global fit) or joined column
        (per-series fit)."""
        if self._params_df is not None:
            return F.col(self.tmp(name))
        if self._params is not None and name in self._params:
            return F.lit(self._params[name])
        raise KeyError(name)

    # -- public template ------------------------------------------------
    def fit(self, data) -> "SparkDetector":
        """Learn parameters from normal data (cf. base.py:31-41).

        With a series key, parameters are learned per series and kept in
        a small params DataFrame; otherwise collected to driver scalars.
        """
        tsf = as_tsf(data)
        spec = self._fit_spec(tsf)
        if spec is None:
            self._fit(tsf)
        else:
            fit_fused(tsf, [(self, spec)])
        return self

    def _fit_spec(self, tsf: TimeSeriesFrame):
        """``(window_columns, aggregates)`` when the fit is one plain
        aggregation, else None (the fit runs through ``_fit``).

        Window columns are computed over ``tsf.w()`` before the
        aggregation; aggregates may read them as ``F.col(self.tmp(name))``.
        A fit given as a spec can share its aggregation with other
        leaves (see :func:`fit_fused`).
        """
        return None

    def _fit(self, tsf: TimeSeriesFrame) -> None:
        # Default is a no-op, like /root/reference/tsod/base.py:43-45.
        return None

    def _adopt(self, params: dict) -> None:
        """Take globally-fitted scalars (no series key)."""
        self._params = params

    def detect(self, data, out_col: str = "is_anomaly") -> DataFrame:
        """Append a boolean anomaly column; True == anomaly (base.py:47-63)."""
        tsf = as_tsf(data)
        keep = set(tsf.df.columns) | {out_col}
        if self._params_df is not None:
            tsf = tsf.with_df(join_params(tsf.df, self._params_df, tsf.series))
        out = self._attach(tsf, out_col)
        out = out.drop(*[c for c in out.columns if c not in keep])
        return self._postprocess(out, out_col)

    def _postprocess(self, df: DataFrame, out_col: str) -> DataFrame:
        # Hook kept from base.py:65-67 (a no-op TODO in the reference).
        return df

    @abc.abstractmethod
    def _attach(self, tsf: TimeSeriesFrame, out_col: str) -> DataFrame:
        """Build the lazy plan appending ``out_col`` (temps allowed)."""

    # -- misc -----------------------------------------------------------
    def __str__(self):
        return self.__class__.__name__


def join_params(df: DataFrame, params_df: DataFrame, series) -> DataFrame:
    """Broadcast-join a params frame, unless its columns are already on
    ``df`` (a CombinedDetector joins a frame its leaves share once)."""
    if set(params_df.columns) <= set(df.columns):
        return df
    return df.join(F.broadcast(params_df), on=series, how="left")


def fit_fused(tsf: TimeSeriesFrame, specs) -> None:
    """Fit several leaves in one aggregation.

    ``specs`` pairs each leaf with its ``_fit_spec``. Every window
    column goes over the one ``tsf.w()`` sort, then one
    ``groupBy(series).agg`` (or, without a series key, one ``.first()``)
    computes every leaf's aggregates. Keyed leaves all hold the same
    params frame, so saving, loading and detecting touch it once.
    """
    df = tsf.df
    for leaf, (cols, _) in specs:
        for name, col in cols.items():
            df = df.withColumn(leaf.tmp(name), col)
    named = [
        agg.alias(leaf.tmp(k)) for leaf, (_, aggs) in specs for k, agg in aggs.items()
    ]
    if tsf.series:
        params_df = df.groupBy(*tsf.series).agg(*named)
        for leaf, _ in specs:
            leaf._params_df, leaf._params = params_df, None
        return
    row = df.agg(*named).first()
    for leaf, (_, aggs) in specs:
        leaf._params_df = None
        leaf._adopt({k: row[leaf.tmp(k)] for k in aggs})
