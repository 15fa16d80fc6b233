"""Per-series pandas kernels for the streaming state operator.

Inside ``applyInPandasWithState`` the per-key buffer is a small pandas
frame, so each detector needs a pandas formulation of the SAME
semantics the batch Column-algebra plans implement. These mirror the
reference kernels line-for-line (citations inline) and are asserted
equal to the batch plans in tests/test_streaming.py.

Each kernel takes (ts: Series[datetime64], value: Series[float]) for a
contiguous slice of one series (buffer = lookback tail + new rows) plus
``offset`` = the global 0-based index of buffer row 0 within the full
series (for edge masks), and ``total_unknown`` — in a stream there is
no "last row", so end-of-series masks are skipped (documented delta vs
batch).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd


def cents(v: float) -> int:
    """Integer cents of ``v``, rounded half away from zero: the twin of
    Spark's ``F.round(v * 100)`` (HALF_UP). Python's ``round`` is
    half-even and would put 0.125 at 12, not 13."""
    return (-1 if v < 0 else 1) * int(math.floor(abs(v) * 100 + 0.5))


def cents_array(v: np.ndarray) -> np.ndarray:
    """:func:`cents` over an array, as float (NaN stays NaN)."""
    return np.sign(v) * np.floor(np.abs(v) * 100 + 0.5)


def range_kernel(ts, value, offset, mn, mx):
    # /root/reference/tsod/detectors.py:121-130
    if mx is None:
        out = value < mn
    elif mn is None:
        out = value > mx
    else:
        out = (value < mn) | (value > mx)
    return out.fillna(False).to_numpy(dtype=bool)


def diff_kernel(ts, value, offset, max_diff, direction="both"):
    # /root/reference/tsod/detectors.py:172-178
    d = value.diff()
    if direction == "both":
        out = d.abs() > max_diff
    elif direction == "positive":
        out = d > max_diff
    else:
        out = d < -max_diff
    if offset > 0:
        # row 0 of the buffer has a real predecessor in the lookback
        # tail, which is already included; nothing to fix here.
        pass
    return out.fillna(False).to_numpy(dtype=bool)


def gradient_kernel(ts, value, offset, max_gradient, direction="both"):
    # /root/reference/tsod/base.py:82-90 + detectors.py:311-318
    dt = ts.diff().dt.total_seconds()
    g = value.diff() / dt
    if direction == "both":
        out = g.abs() > max_gradient
    elif direction == "positive":
        out = g > max_gradient
    else:
        out = g < -max_gradient
    return out.fillna(False).to_numpy(dtype=bool)


def rolling_std(value, window_size, center):
    """``value.rolling(window_size, center=center).std()`` computed the
    way the batch plan's ``stddev_samp`` over a sliding frame is: each
    full window re-aggregated from its first row with Spark's Welford
    update (CentralMomentAgg). pandas' running add/remove sum rounds
    differently in the last bits, which flips a row whose std equals a
    fitted max_std (the max of these same windows). A window with a NaN
    stays NaN, like the batch plan's min_periods guard."""
    x = value.to_numpy(dtype=float)
    w = window_size
    out = np.full(len(x), np.nan)
    if len(x) < w:
        return out
    win = np.lib.stride_tricks.sliding_window_view(x, w)
    avg = np.zeros(len(win))
    m2 = np.zeros(len(win))
    for j in range(w):
        delta = win[:, j] - avg
        delta_n = delta / (j + 1)
        avg = avg + delta_n
        m2 = m2 + delta * (delta - delta_n)
    with np.errstate(invalid="ignore", divide="ignore"):
        std = np.sqrt(m2 / (w - 1))
    start = w // 2 if center else w - 1  # row of each window's first label
    out[start : start + len(win)] = std
    return out


def rolling_std_kernel(ts, value, offset, window_size, max_std, center=True):
    # /root/reference/tsod/detectors.py:210-216 (min_periods = window)
    with np.errstate(invalid="ignore"):
        out = rolling_std(value, window_size, center) > max_std
    if offset == 0 and len(out):
        out[0] = False  # anomalies[0] = False, detectors.py:215
    return out


def _constant_core(series, window_size, threshold, offset):
    # /root/reference/tsod/detectors.py:237-242: centered rolling
    # max-min (min_periods = window -> NaN-bearing windows never flag),
    # first row of the SERIES forced False. The last-row mask is
    # undefined on a stream (no last row until it ends); for window
    # sizes with a non-empty trailing centered span (w - w//2 - 1 >= 1,
    # i.e. every odd w >= 3 incl. the reference default) min_periods
    # already forces those rows False, so semantics match batch exactly.
    mx = series.rolling(window_size, center=True).max()
    mn = series.rolling(window_size, center=True).min()
    core = ((mx - mn).abs() < threshold).fillna(False).to_numpy(dtype=bool)
    if offset == 0 and len(core):
        core[0] = False
    return core


def _dilate(core):
    # /root/reference/tsod/detectors.py:243-249: ±1-position dilation
    out = core.copy()
    out[1:] |= core[:-1]
    out[:-1] |= core[1:]
    return out


def constant_value_kernel(ts, value, offset, window_size, threshold):
    # /root/reference/tsod/detectors.py:237-251
    return _dilate(_constant_core(value, window_size, threshold, offset))


def constant_gradient_kernel(ts, value, offset, window_size, threshold=1e-7):
    # /root/reference/tsod/detectors.py:271-276: constant-run pipeline
    # over the forward and backward gradients (both divided by the
    # backward Δt, mirroring base.py:89 diff(periods)/dt), OR-combined.
    dt = ts.diff().dt.total_seconds()
    gf = value.diff() / dt
    gb = value.diff(-1) / dt
    cf = _constant_core(gf, window_size, threshold, offset)
    cb = _constant_core(gb, window_size, threshold, offset)
    return _dilate(cf) | _dilate(cb)


def seasonal_residual_kernel(ts, value, offset, seasonal, thr, trend_window, phase_unit="hour"):
    """Streaming twin of SeasonalResidualDetector.detect: residual =
    cents/100 - centered-MA trend (full windows only, exact cent sums
    divided once — identical arithmetic to the batch Column plan) -
    fitted seasonal offset for the row's hour; flag |resid| > thr.
    NULL/edge trends and NULL seasonal phases emit False, like batch.
    """
    if seasonal is None or thr is None:
        return np.zeros(len(value), dtype=bool)
    full = 2 * trend_window + 1
    v = value.to_numpy(dtype=float)
    vc = cents_array(v)
    tr = (
        pd.Series(vc).rolling(full, center=True, min_periods=full).sum().to_numpy()
        / (100.0 * full)
    )
    season = np.asarray(
        [float("nan") if s is None else float(s) for s in seasonal], dtype=float
    )
    if phase_unit == "hour":
        idx = ts.dt.hour.to_numpy()
    else:  # dow: map pandas Mon=0..Sun=6 onto Spark's 0-based Sun=0
        idx = ((ts.dt.dayofweek.to_numpy() + 1) % 7)
    resid = vc / 100.0 - tr - season[idx]
    with np.errstate(invalid="ignore"):
        out = np.abs(resid) > float(thr)
    return np.where(np.isnan(resid), False, out)


def regression_residual_kernel(ts, value, offset, coef, intercept, threshold):
    """Streaming twin of RegressionResidualDetector.detect: the fitted
    model is just coefficients, so scoring is a dot product over the
    trailing ``T = len(coef)`` values (features for row j are
    ``v[j-T .. j-1]``, matching create_dataset's window order).

    Rows the batch plan does not score — the first T rows of a series
    (incomplete window) and rows whose window or own value is NaN
    (prediction/residual NaN, coalesced False in batch) — emit False,
    as do series with no fitted model (per_series fit on an
    underdetermined or unseen key).
    """
    v = value.to_numpy(dtype=float)
    n = len(v)
    if coef is None or intercept is None or threshold is None:
        return np.zeros(n, dtype=bool)
    T = len(coef)
    out = np.zeros(n, dtype=bool)
    if n <= T:
        return out
    pred = np.full(n, np.nan)
    acc = np.full(n - T, float(intercept))
    for i, c in enumerate(coef):
        acc += float(c) * v[i : n - T + i]
    pred[T:] = acc
    resid = np.abs(v - pred)
    with np.errstate(invalid="ignore"):
        out = resid > threshold
    return np.where(np.isnan(resid), False, out)


def kmeans_distance_kernel(ts, value, offset, centers, threshold):
    """Streaming twin of KMeansDistanceDetector.detect: the fitted
    model is the k x T centroid matrix plus a scalar distance
    threshold — plain numbers, closure-captured exactly like the
    regression coefficients, so KMeans novelty scoring needs no model
    object inside the state operator.

    Row j's feature vector is the trailing exclusive window
    ``v[j-T .. j-1]`` (create_dataset order); the score is the
    Euclidean distance to the nearest centroid. Per-centroid squared
    distances accumulate component-by-component in index order — the
    same association as the batch plan's ``aggregate(zip_with(...))``
    Column fold — so the float result is bit-identical and threshold
    comparisons cannot flip. Rows the batch plan does not score
    (incomplete window, NaN anywhere in the window -> NaN distance,
    coalesced False in batch) emit False.
    """
    v = value.to_numpy(dtype=float)
    n = len(v)
    if centers is None or threshold is None:
        return np.zeros(n, dtype=bool)
    C = [list(map(float, c)) for c in centers]
    T = len(C[0])
    out = np.zeros(n, dtype=bool)
    if n <= T:
        return out
    m = n - T  # scored rows j = T .. n-1
    best = None
    for c in C:
        acc = np.zeros(m)
        for i in range(T):
            acc += (v[i : m + i] - c[i]) ** 2
        best = acc if best is None else np.minimum(best, acc)
    dist = np.sqrt(best)
    with np.errstate(invalid="ignore"):
        flags = dist > float(threshold)
    out[T:] = np.where(np.isnan(dist), False, flags)
    return out


def hampel_kernel(ts, value, offset, window_size, threshold, k=1.4826):
    # /root/reference/tsod/hampel.py:27-60 (half-open [t-w, t+w) window,
    # interior points only). The n-w upper bound is enforced by the
    # caller's lookahead-based emission, not here (stream has no n).
    v = value.to_numpy(dtype=float)
    n = len(v)
    w = window_size
    out = np.zeros(n, dtype=bool)
    for t in range(n):
        if offset + t < w:  # global interior guard, left edge
            continue
        lo, hi = t - w, t + w  # half-open slice
        if lo < 0:
            continue  # insufficient lookback in buffer (shouldn't happen)
        window = v[lo:hi]
        med = np.nanmedian(window)
        mad = k * np.nanmedian(np.abs(window - med))
        dev = abs(v[t] - med)
        out[t] = bool(dev > threshold * mad) if not np.isnan(dev) else False
    return out
