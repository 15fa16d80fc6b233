"""MLlib-backed detectors — the reference's "advanced detectors" vision.

The reference README names autoencoder-style learned detectors as
future work (/root/reference/README.md:43) and ships the feature
plumbing for them (lag features + windowed tensors,
/root/reference/tsod/features.py). This module closes the loop with
Spark MLlib:

- :class:`RegressionResidualDetector`: fit a linear model
  value ~ lagged values on normal data; flag points whose prediction
  residual exceeds ``n_sigmas`` times the training residual stddev.
  This is the classic learned generalization of DiffDetector (a
  one-lag model with coefficient 1 and threshold = max residual).
- :class:`KMeansDistanceDetector`: cluster lag-window vectors; flag
  points far from every centroid — the "shape novelty" detector.

Both follow the same fit -> detect contract as the rule-based
detectors and run fully distributed (MLlib estimators + a
VectorAssembler over the lag features from features.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..features import create_dataset
from ..util import lit_double_array2d
from .base import SparkDetector, as_tsf


def _lag_matrix(tsf, time_steps: int) -> DataFrame:
    """create_dataset output with an MLlib vector column."""
    from pyspark.ml.functions import array_to_vector

    df = create_dataset(tsf, time_steps=time_steps)
    return df.withColumn("features_vec", array_to_vector("features"))


class RegressionResidualDetector(SparkDetector):
    """value ~ linear(lags) residual thresholding.

    ``per_series=True`` fits ONE SMALL MODEL PER SERIES instead of a
    single global model: the per-series lag matrices are tiny (rows x
    T), so the right scale shape is embarrassingly-parallel numpy
    ridge solves inside ``applyInPandas`` — a million series means a
    million 5x5 normal-equation solves spread across executors, not
    one distributed solver. The fitted (coef, intercept, thr) frame is
    the same broadcast-params shape every per-series detector uses, so
    detect and the streaming kernel are shared with the global path.
    """

    def __init__(
        self,
        time_steps: int = 5,
        n_sigmas: float = 4.0,
        per_series: bool = False,
        reg: float = 1e-6,
    ):
        super().__init__()
        self._time_steps = time_steps
        self._n_sigmas = n_sigmas
        self._per_series = per_series
        self._reg = reg
        self._model = None
        self._resid_std = None
        self._closed_form = None  # (coef, intercept) of the T=1 OLS fast path

    def fit(self, data):
        tsf = as_tsf(data)
        if self._per_series and tsf.series:
            if self._time_steps == 1:
                self._fit_per_series_t1(tsf)
            else:
                self._fit_per_series(tsf)
            return self
        if self._time_steps == 1 and self._reg == 0.0:
            self._fit_global_t1(tsf)
            return self
        from pyspark.ml.regression import LinearRegression

        train = _lag_matrix(tsf, self._time_steps)
        # "normal" = closed-form normal equations: one distributed pass
        # to build X'X (time_steps x time_steps), no iterative solver
        # rounds. reg=0 makes the fit exact OLS — bit-for-bit the
        # analytic closed form, which is what lets the T=1 variant be
        # reproduced by a SQL oracle.
        lr = LinearRegression(
            featuresCol="features_vec",
            labelCol="y",
            regParam=self._reg,
            solver="normal",
        )
        self._model = lr.fit(train)
        pred = self._model.transform(train)
        self._resid_std = (
            pred.select(F.stddev_samp(F.col("y") - F.col("prediction")).alias("s"))
            .first()["s"]
        )
        return self

    @staticmethod
    def _finite(c):
        """Column mirror of ``np.isfinite``: non-null, not NaN, not
        +/-inf (the frame already nulls NaN values on ingest, but the
        kernel this path replaces re-checked, so the fast path does
        too)."""
        return c.isNotNull() & ~F.isnan(c) & (F.abs(c) < F.lit(float("inf")))

    def _fit_per_series_t1(self, tsf) -> None:
        """T=1 per-series fit as pure JVM aggregation — the closed-form
        2x2 ridge solve the numpy kernel computes, without the Python
        boundary (r14, guide §4: the applyInPandas path shipped every
        training row to Python to solve a 2x2 system per series; the
        same normal-equation sums are one partial-aggregating groupBy).
        Arithmetic mirrors ``solve(A'A + reg*I, A'y)`` via Cramer's
        rule — the exact form the SQL oracle uses; the boolean output
        absorbs the solver's last-ulp association differences (the
        registered T=1 query is verified output-equal across all three
        fixtures and oracle-green). Produces the SAME ``_params_df``
        schema as the numpy path, so detect() and the streaming kernel
        are untouched. The groupBy keys match the lag window's
        partition key, so the whole fit adds ZERO exchanges beyond the
        one the window already pays (guide §2.4)."""
        from pyspark.sql import Window

        reg, n_sig = self._reg, self._n_sigmas
        keys = list(tsf.series)
        train = create_dataset(tsf, time_steps=1).select(
            *keys, "features", "y"
        )
        c_coef, c_int, c_thr = (
            self.tmp("coef"),
            self.tmp("intercept"),
            self.tmp("thr"),
        )
        x = F.element_at("features", 1)
        y = F.col("y")
        ok = self._finite(x) & self._finite(y)
        ws = Window.partitionBy(*keys)
        n = F.count(F.when(ok, 1)).over(ws).cast("double")
        sx = F.sum(F.when(ok, x)).over(ws)
        sy = F.sum(F.when(ok, y)).over(ws)
        sxx = F.sum(F.when(ok, x * x)).over(ws)
        sxy = F.sum(F.when(ok, x * y)).over(ws)
        det = (sxx + reg) * (n + reg) - sx * sx
        coef = ((n + reg) * sxy - sx * sy) / det
        icpt = ((sxx + reg) * sy - sx * sxy) / det
        resid = y - (coef * x + icpt)
        scored = train.select(
            *keys,
            n.alias("__n"),
            det.alias("__det"),
            coef.alias("__coef"),
            icpt.alias("__icpt"),
            F.when(ok, resid).alias("__resid"),
        )
        # underdetermined series (< T + 2 finite rows) get no model —
        # the numpy kernel's guard. det == 0 (reg = 0 over a
        # constant-x series) is the singular system the numpy kernel
        # raised LinAlgError on; dividing through would emit Inf/NaN
        # params whose NaN residual compare silently flags nothing, so
        # treat it like the underdetermined case: no model (ADVICE r14)
        fitted = (F.first("__n") >= 3) & (F.first("__det") != 0)
        self._params_df = scored.groupBy(*keys).agg(
            F.when(fitted, F.array(F.first("__coef"))).alias(c_coef),
            F.when(fitted, F.first("__icpt")).alias(c_int),
            F.when(
                fitted, F.lit(n_sig) * F.stddev_samp("__resid")
            ).alias(c_thr),
        )
        self._model = None
        self._resid_std = None

    def _fit_global_t1(self, tsf) -> None:
        """T=1 global exact-OLS fit as one aggregate pass — the
        closed-form normal equations MLlib's ``solver="normal"`` builds
        anyway, without the estimator's ~10 scheduler-bound jobs (r14,
        guide §1.2/§4: measured 2.7-3.9 s of driver-round-trip latency
        to compute five sums). Two tiny actions (sums, then the
        residual stddev with the fitted line inlined as literals)
        replace the fit + transform + stddev chain; coef/intercept/
        resid_std land in the same fields the MLlib path fills, so
        detect() and the streaming kernel read them unchanged."""
        train = create_dataset(tsf, time_steps=1)
        x = F.element_at("features", 1)
        y = F.col("y")
        ok = self._finite(x) & self._finite(y)
        r = train.agg(
            F.count(F.when(ok, 1)).cast("double").alias("n"),
            F.sum(F.when(ok, x)).alias("sx"),
            F.sum(F.when(ok, y)).alias("sy"),
            F.sum(F.when(ok, x * x)).alias("sxx"),
            F.sum(F.when(ok, x * y)).alias("sxy"),
        ).first()
        n, sx, sy, sxx, sxy = r
        det = sxx * n - sx * sx
        coef = (n * sxy - sx * sy) / det
        icpt = (sxx * sy - sx * sxy) / det
        self._closed_form = (float(coef), float(icpt))
        resid = y - (F.lit(coef) * x + F.lit(icpt))
        self._resid_std = train.agg(
            F.stddev_samp(F.when(ok, resid)).alias("s")
        ).first()["s"]
        self._model = None
        self._params_df = None

    def _fit_per_series(self, tsf) -> None:
        import numpy as np
        import pandas as pd  # noqa: PLC0415

        T, reg, n_sig = self._time_steps, self._reg, self._n_sigmas
        keys = list(tsf.series)
        train = create_dataset(tsf, time_steps=T).select(*keys, "features", "y")
        c_coef, c_int, c_thr = (
            self.tmp("coef"),
            self.tmp("intercept"),
            self.tmp("thr"),
        )

        def solve(pdf: pd.DataFrame) -> pd.DataFrame:
            X = np.stack(pdf["features"].to_numpy())
            y = pdf["y"].to_numpy(dtype=float)
            ok = np.isfinite(X).all(axis=1) & np.isfinite(y)
            key_vals = {k: pdf[k].iloc[0] for k in keys}
            if ok.sum() < T + 2:  # underdetermined series: no model
                return pd.DataFrame(
                    [{**key_vals, c_coef: None, c_int: None, c_thr: None}]
                )
            Xo, yo = X[ok], y[ok]
            A = np.hstack([Xo, np.ones((len(Xo), 1))])
            G = A.T @ A + reg * np.eye(T + 1)
            w = np.linalg.solve(G, A.T @ yo)
            resid = yo - A @ w
            std = float(resid.std(ddof=1))
            return pd.DataFrame(
                [
                    {
                        **key_vals,
                        c_coef: list(w[:T].astype(float)),
                        c_int: float(w[T]),
                        c_thr: n_sig * std,
                    }
                ]
            )

        key_schema = ", ".join(
            f"{k} {dict(train.dtypes)[k]}" for k in keys
        )
        self._params_df = train.groupBy(*keys).applyInPandas(
            solve,
            f"{key_schema}, {c_coef} array<double>, {c_int} double, {c_thr} double",
        )
        self._model = None
        self._resid_std = None

    def _attach(self, tsf, out_col: str):
        raise NotImplementedError("use detect()")

    def detect(self, data, out_col: str = "is_anomaly") -> DataFrame:
        tsf = as_tsf(data)
        if self._params_df is not None:
            feats = create_dataset(tsf, time_steps=self._time_steps)
            joined = feats.join(
                F.broadcast(self._params_df), on=tsf.series, how="left"
            )
            # fold matches the streaming kernel's accumulation order:
            # start at the intercept, add coef[i]*lag[i] in lag order
            pred = F.aggregate(
                F.zip_with(
                    F.col("features"), self.p("coef"), lambda a, c: a * c
                ),
                self.p("intercept"),
                lambda acc, x: acc + x,
            )
            resid = F.abs(F.col("y") - pred)
            out = joined.withColumn(
                out_col, F.coalesce(resid > self.p("thr"), F.lit(False))
            )
            return out.drop(
                "features",
                *[c for c in out.columns if c.startswith(f"__{self._uid}_")],
                "y",
            )
        if self._resid_std is None or (
            self._model is None and self._closed_form is None
        ):
            from ..exceptions import NotFittedError

            raise NotFittedError("detect")
        if self._closed_form is not None:
            # T=1 OLS fast path: the fitted line as literals — the same
            # coef*x + intercept arithmetic model.transform applies
            coef, icpt = self._closed_form
            scored = create_dataset(tsf, time_steps=1).withColumn(
                "prediction",
                F.lit(coef) * F.element_at("features", 1) + F.lit(icpt),
            )
        else:
            scored = self._model.transform(_lag_matrix(tsf, self._time_steps))
        resid = F.abs(F.col("y") - F.col("prediction"))
        thr = float(self._n_sigmas * self._resid_std)
        out = scored.withColumn(out_col, F.coalesce(resid > thr, F.lit(False)))
        return out.drop("features", "features_vec", "y", "prediction")


class KMeansDistanceDetector(SparkDetector):
    """Distance-to-nearest-centroid over lag-window vectors.

    Centroids train ON THE DRIVER from a bounded sample (4096 lag
    windows, seeded vectorized-numpy Lloyd's — the PQ-codebook pattern,
    :func:`tsod_spark.pipeline.similarity.pq_train`): centroids only
    STEER scoring, while the novelty threshold below is the exact
    ``quantile`` of the FULL distance distribution, so the flagged
    fraction stays pinned at ~(1 - quantile) by construction no matter
    how representative the sample is. The alternative — a distributed
    MLlib fit — costs ~10 scheduler-bound jobs per fit (measured 3.5s
    vs ~1s for the whole sf0.1 query) to compute k x T numbers.
    Scoring is pure Column algebra (min distance over the broadcast
    centroid matrix) — fully distributed, no Python in the hot path.
    """

    def __init__(self, time_steps: int = 8, k: int = 8, quantile: float = 0.99):
        super().__init__()
        self._time_steps = time_steps
        self._k = k
        self._quantile = quantile
        self._centers: list[list[float]] | None = None
        self._threshold = None

    def fit(self, data):
        import numpy as np

        tsf = as_tsf(data)
        train = create_dataset(tsf, time_steps=self._time_steps)
        # Deterministic bounded sample: an unordered limit(4096) depends
        # on partition/scan order, so centroids — and hence which rows
        # land past the quantile threshold — would differ run to run.
        # orderBy a stable key first (TakeOrderedAndProject: one pass,
        # 4096 rows on the driver, same PQ-codebook pattern as
        # similarity.py).
        rows = (
            train.select(*tsf.series, tsf.ts_col, *tsf.tiebreak, "features")
            .orderBy(*tsf.series, tsf.ts_col, *tsf.tiebreak)
            .limit(4096)
            .select("features")
            .collect()
        )
        X = np.asarray([[float(v) for v in r[0]] for r in rows])
        rng = np.random.default_rng(42)
        k = min(self._k, len(X))
        cents = X[rng.choice(len(X), k, replace=False)].copy()
        for _ in range(10):
            d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cents[c] = X[mask].mean(axis=0)
        self._centers = [[float(x) for x in c] for c in cents]
        # exact quantile over the FULL distance distribution — one
        # distributed pass; this is what pins the flagged fraction
        self._threshold = train.agg(
            F.percentile(self._distance_col(), F.lit(self._quantile)).alias("q")
        ).first()["q"]
        return self

    def _distance_col(self):
        centers_arr = lit_double_array2d(self._centers)
        vec = F.col("features")
        d2 = F.transform(
            centers_arr,
            lambda ctr: F.aggregate(
                F.zip_with(vec, ctr, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        return F.sqrt(F.array_min(d2))

    def _attach(self, tsf, out_col: str):
        raise NotImplementedError("use detect()")

    def detect(self, data, out_col: str = "is_anomaly") -> DataFrame:
        if self._centers is None or self._threshold is None:
            from ..exceptions import NotFittedError

            raise NotFittedError("detect")
        tsf = as_tsf(data)
        scored = create_dataset(tsf, time_steps=self._time_steps)
        out = scored.withColumn(
            out_col,
            F.coalesce(self._distance_col() > float(self._threshold), F.lit(False)),
        )
        return out.drop("features", "y")
