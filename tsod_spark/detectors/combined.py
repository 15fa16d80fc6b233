"""CombinedDetector — boolean-OR composition of detectors.

Reference: /root/reference/tsod/detectors.py:10-55. Where the reference
loops detectors sequentially (N full passes over the series,
detectors.py:43-49), this builds ONE lazy plan: every child appends its
flag column over the same per-series sort, then the flags OR-fold.
Catalyst collapses the shared scan and the identical window specs, so N
detectors cost one shuffle + one sort regardless of N — the headline
"declare the plan, let the optimizer fuse it" win (SURVEY §2.1 D8).
``fit`` fuses the same way: one aggregation job for all leaves whose
fit is a plain aggregate, one shared params frame.

Implements the Sequence protocol like the reference (indexable, len).
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frame import TimeSeriesFrame
from .base import SparkDetector, as_tsf, fit_fused, join_params


class CombinedDetector(SparkDetector, Sequence):
    def __init__(self, detectors):
        super().__init__()
        for detector in detectors:
            if not isinstance(detector, SparkDetector):
                # message mirrors detectors.py:31-34
                raise ValueError(
                    f"{detector} is not a Detector. Did you forget to create "
                    "an instance, e.g. ConstantValueDetector()?"
                )
        self._detectors = list(detectors)

    def fit(self, data):
        """Fan-out fit (detectors.py:38-41) in one aggregation: every leaf
        whose fit is a plain aggregate adds its window columns over the
        shared sort and its aggregates to one ``groupBy`` (or one
        ``.first()`` without a series key); the others fit on their own."""
        tsf = as_tsf(data)
        fused = []
        for leaf in self.leaves():
            spec = leaf._fit_spec(tsf)
            if spec is None:
                leaf.fit(tsf)
            else:
                fused.append((leaf, spec))
        if fused:
            fit_fused(tsf, fused)
        return self

    def leaves(self):
        """Leaf detectors in deterministic (depth-first) order."""
        for det in self._detectors:
            if isinstance(det, CombinedDetector):
                yield from det.leaves()
            else:
                yield det

    def _attach(self, tsf: TimeSeriesFrame, out_col: str) -> DataFrame:
        df = tsf.df
        # A params frame that several leaves share (a fused fit) is
        # joined once here; each leaf then finds its columns present.
        frames = [leaf._params_df for leaf in self.leaves() if leaf._params_df is not None]
        counts = Counter(id(f) for f in frames)
        for f in {id(f): f for f in frames if counts[id(f)] > 1}.values():
            df = join_params(df, f, tsf.series)
        flag_cols = []
        for i, det in enumerate(self._detectors):
            c = self.tmp(f"flag{i}")
            df = det.detect(tsf.with_df(df), out_col=c)
            flag_cols.append(c)
        combined = reduce(lambda a, b: a | b, [F.col(c) for c in flag_cols])
        return df.withColumn(out_col, combined)

    # Sequence protocol (detectors.py:51-55)
    def __getitem__(self, index):
        return self._detectors[index]

    def __len__(self):
        return len(self._detectors)
