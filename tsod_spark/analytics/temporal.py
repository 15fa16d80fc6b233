"""Temporal join + resampling operators the reference's domain implies.

tsod's docs describe sensor series with irregular steps feeding
simulation engines (/root/reference/README.md:11-13;
/root/reference/tests/data/example.csv has a 59-minute irregular step)
— an engine for that domain needs as-of joins (align a series with the
latest reading of another) and resample/gap-fill/interpolate (regular
grid for downstream models). The reference has neither (SURVEY §2.4);
these are north-star additions built from stock Spark primitives.

Scale design:

- ``asof_join`` uses the union + ordered-window forward-fill plan: tag
  right rows, union both sides, one window per key ordered by (ts,
  side) with ``last(..., ignorenulls=True)``, keep left rows. That is
  exactly ONE shuffle on the join key — no range-condition
  cross-product, no per-row subquery — and it streams through each
  partition, so it survives a 1000-executor, 100 TB run as long as keys
  are reasonably distributed (same profile as any keyed window).
- ``resample`` aggregates to buckets first (map-side partial combine
  shrinks data by the bucket ratio BEFORE the shuffle), then builds the
  dense per-key grid from each key's own [min, max] bucket span via
  ``sequence`` + ``explode`` — grid size is bounded by time span, not
  row count — and fills gaps with one more keyed window.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..util import default_parallelism, lit_int_array, round_half_away6


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: Sequence[str] = ("value",),
    prefix: str = "asof_",
    direction: str = "backward",
    tolerance: str | None = None,
) -> DataFrame:
    """As-of join: each left row gets the nearest right row for the
    same key — ``backward`` (default) the greatest ``right_ts <=
    left_ts`` (SQL ``ASOF JOIN ... ON l.ts >= r.ts``), ``forward`` the
    smallest ``right_ts >= left_ts``. Equal timestamps match in both
    directions. Left outer: unmatched left rows keep NULLs.

    ``tolerance`` (an SQL interval string, e.g. ``"1 HOUR"``) mirrors
    pandas ``merge_asof(tolerance=...)``: a match farther than the
    tolerance from the left timestamp is nulled out. Applied as a
    post-fill predicate — the single-shuffle union+fill plan is
    unchanged.

    Plan: union + ordered window fill (one shuffle, no range join) —
    the forward variant just reverses the window's sort. See module
    docstring.
    """
    keys = list(keys)
    out_ts = f"{prefix}{right_ts}"
    left_payload = [c for c in left.columns if c not in keys]

    l_side = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.struct(*left_payload).alias("__row"),
        F.lit(None).cast(right.schema[right_ts].dataType).alias(out_ts),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"{prefix}{c}")
            for c in value_cols
        ],
    )
    r_side = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(l_side.schema["__row"].dataType).alias("__row"),
        F.col(right_ts).alias(out_ts),
        *[F.col(c).alias(f"{prefix}{c}") for c in value_cols],
    )

    # Right rows (__side=0) sort before left rows at equal ts so an
    # equal-timestamp right row is visible to the left row's fill; the
    # forward variant scans time in reverse, same tiebreak.
    ts_order = F.col("__ts").asc() if direction == "backward" else F.col("__ts").desc()
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_order, F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fill_cols = [out_ts] + [f"{prefix}{c}" for c in value_cols]
    u = l_side.unionByName(r_side)
    for c in fill_cols:
        u = u.withColumn(c, F.last(c, ignorenulls=True).over(w))
    if tolerance is not None:
        tol = F.expr(f"INTERVAL {tolerance}")
        ok = (
            F.col(out_ts) >= F.col("__ts") - tol
            if direction == "backward"
            else F.col(out_ts) <= F.col("__ts") + tol
        )
        for c in fill_cols:
            u = u.withColumn(c, F.when(ok, F.col(c)))
    return u.where(F.col("__side") == 1).select(*keys, F.col("__row.*"), *fill_cols)


_TRUNC_UNITS = {"minute", "hour", "day", "week", "month", "quarter", "year"}


def _bucket(ts_col: str, unit: str) -> Column:
    """Bucket start for a calendar unit (date_trunc) or an arbitrary
    duration like "15 minutes" (epoch-aligned tumbling window — same
    alignment as SQL time_bucket)."""
    if unit in _TRUNC_UNITS:
        return F.date_trunc(unit, F.col(ts_col))
    return F.window(ts_col, unit)["start"]


def _step(unit: str) -> Column:
    return F.expr(f"interval 1 {unit}" if unit in _TRUNC_UNITS else f"interval {unit}")


def resample(
    events: DataFrame,
    keys: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    unit: str = "hour",
) -> DataFrame:
    """Resample an irregular series to a dense per-key time grid with
    forward-fill (locf) and linear interpolation over gap buckets.

    Per key: aggregate to ``date_trunc(unit)`` buckets (exact integer
    cents for the mean so partial-agg order can't perturb floats), then
    explode ``sequence(min_bucket, max_bucket, 1 unit)`` into the dense
    grid, left-join the aggregates back, and fill:

    - ``v_avg``   bucket mean (NULL on gap buckets),
    - ``v_locf``  last non-null bucket mean at or before this bucket,
    - ``v_lerp``  linear interpolation between the previous and next
      non-null bucket means, positioned by bucket timestamp,
    - ``n_events`` 0 on gaps, ``is_gap`` flag.

    Interior gaps always have both anchors (the grid spans each key's
    own observed range), so ``v_lerp`` is total. Floats are computed
    with one fixed association and rounded to 6 decimals (oracle
    discipline, see registry module docstring).
    """
    keys = list(keys)
    v = F.when(F.isnan(value_col) | F.col(value_col).isNull(), None).otherwise(
        F.col(value_col)
    )
    cents = F.round(v * 100).cast("long")
    agg = events.groupBy(*keys, _bucket(ts_col, unit).alias("bucket")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.count(v).alias("__nv"),
        F.sum(cents).alias("__cents"),
    )
    avg = F.when(
        F.col("__nv") > 0, F.round(F.col("__cents") / 100.0 / F.col("__nv"), 6)
    )
    a = agg.withColumn("v_avg", avg)

    # All fill anchors are computed on the COMPACT aggregate rows (one
    # per present bucket), then gap buckets are generated by exploding
    # sequence(bucket, next_bucket - 1 unit) from each row, inheriting
    # its anchors. Never compute ignore-null window fills on the dense
    # exploded grid: Spark's (currentRow, unboundedFollowing) frame
    # re-evaluates per row — O(n^2) per key partition, ~20s at sf0.1
    # vs <2s this way (and the grid join disappears too).
    w = Window.partitionBy(*keys).orderBy("bucket")
    prev = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nxt = w.rowsBetween(1, Window.unboundedFollowing)
    has = F.col("v_avg").isNotNull()
    a = a.select(
        "*",
        F.lead("bucket").over(w).alias("__nb"),
        F.last("v_avg", ignorenulls=True).over(prev).alias("__pv"),
        F.last(F.when(has, F.col("bucket")), ignorenulls=True).over(prev).alias("__pt"),
        F.first("v_avg", ignorenulls=True).over(nxt).alias("__fv"),
        F.first(F.when(has, F.col("bucket")), ignorenulls=True).over(nxt).alias("__ft"),
    )

    step = _step(unit)
    g = a.withColumn(
        "__gb",
        F.explode(
            F.sequence(
                F.col("bucket"),
                F.coalesce(F.col("__nb") - step, F.col("bucket")),
                step,
            )
        ),
    )
    present = F.col("__gb") == F.col("bucket")
    # A present row's own (non-null) value is its prev anchor (__pv
    # includes the current row); generated gap rows between bucket and
    # __nb see the same prev anchor and the first non-null value at or
    # after __nb (__fv/__ft, frame starts 1 row following).
    frac = (F.unix_micros(F.col("__gb")) - F.unix_micros(F.col("__pt"))) / (
        F.unix_micros(F.col("__ft")) - F.unix_micros(F.col("__pt"))
    )
    # No rounding here: both anchors are already 6-decimal-rounded and
    # the op sequence is fixed, so the IEEE result is bit-identical in
    # any engine (re-rounding would re-introduce tie-breaking skew).
    lerp = F.when(present & has, F.col("v_avg")).otherwise(
        F.when(
            F.col("__pv").isNotNull() & F.col("__fv").isNotNull(),
            F.col("__pv") + (F.col("__fv") - F.col("__pv")) * frac,
        ).otherwise(F.col("__pv"))
    )
    v_avg_out = F.when(present, F.col("v_avg"))
    return g.select(
        *keys,
        F.col("__gb").alias("bucket"),
        F.when(present, F.col("__n")).otherwise(F.lit(0)).alias("n_events"),
        v_avg_out.alias("v_avg"),
        F.col("__pv").alias("v_locf"),
        lerp.alias("v_lerp"),
        v_avg_out.isNull().alias("is_gap"),
    )


def ewma(
    df: DataFrame,
    alpha: float = 0.25,
    series: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: Sequence[str] = ("event_id",),
    out_col: str = "ewma",
) -> DataFrame:
    """Exact per-series exponentially-weighted moving average:
    ``y_t = (1-α)·y_{t-1} + α·x_t`` over the non-null values in
    (ts, tiebreak) order; null/NaN rows carry the previous smoothed
    value forward (null until the first observation).

    A sequential recurrence does NOT decompose into Spark window
    functions (no scan/fold builtin, and the closed-form power trick
    overflows on long series), so this is the documented legitimate
    ``applyInPandas`` case: the recurrence runs in pandas' vectorized C
    ``ewm`` kernel (zero per-row Python math), and the per-series
    partition is the irreducible unit of sequential state — exactly
    what a 1000-executor cluster parallelizes over.

    Batching: grouping Spark-side by the raw series key ships ONE Arrow
    batch per series — for many small series the per-batch overhead
    dominates (measured 4.6s for 1.5k series at sf0.1). Instead the
    shuffle key is ``hash(series) % n_buckets`` and the kernel runs the
    per-series recurrence inside each bucket — 23× fewer Arrow batches,
    same results, and per-task memory is bounded by corpus/n_buckets
    (raise ``n_buckets`` for bigger corpora).

    Cross-engine exactness: with ``adjust=False`` pandas computes
    ``((1-α)·y + α·x) / ((1-α) + α)`` — for α whose complement is an
    exact double (0.25, 0.5, …) every operation is reproducible
    IEEE-754, so a SQL recursion computing ``y*(1-α) + x*α`` matches
    bit-for-bit before the final round(6).
    """
    import pandas as pd  # noqa: PLC0415

    keys = list(series)
    order = keys + [ts_col, *tiebreak]
    out_fields = keys + list(tiebreak) + [ts_col, out_col]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order)
        parts = []
        for _, g in pdf.groupby(keys, sort=False):
            v = g[value_col]
            compact = v.dropna()
            y = compact.ewm(alpha=alpha, adjust=False).mean()
            # no rounding here: pandas .round is half-even, Spark/DuckDB
            # round() is half-away — callers round JVM-side for parity
            parts.append(g.assign(**{out_col: y.reindex(v.index).ffill()}))
        return pd.concat(parts)[out_fields]

    schema_parts = []
    for c in out_fields:
        if c == out_col:
            schema_parts.append(f"{out_col} double")
        else:
            schema_parts.append(f"{c} {dict(df.dtypes)[c]}")
    n_buckets = default_parallelism(df.sparkSession) * 2
    bucket = F.pmod(F.xxhash64(*keys), F.lit(n_buckets))
    return (
        df.withColumn("__bk", bucket)
        .groupBy("__bk")
        .applyInPandas(kernel, ", ".join(schema_parts))
    )


def holt(
    df: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.25,
    series: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: Sequence[str] = ("event_id",),
    level_col: str = "level",
    trend_col: str = "trend",
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per series:

    ``level_t = α·y_t + (1-α)·(level + trend)``;
    ``trend_t = β·(level_t - level) + (1-β)·trend``,

    initialized at the first observation with ``trend = 0``. Null/NaN
    rows carry the state forward unchanged (null until first obs) —
    identical null semantics to :func:`ewma`.

    Like EWMA this is a genuinely sequential two-state recurrence (no
    window-function decomposition; the closed form overflows), so it
    runs in the same bucketed ``applyInPandas`` shape: shuffle key is
    ``hash(series) % n_buckets`` so many small series share one Arrow
    batch. The kernel compacts each series to its non-NaN observations
    first and runs the two-state recurrence once per OBSERVATION (the
    irreducible sequential unit a 1000-executor cluster parallelizes
    over); the null-carry rows never enter the loop — they get their
    state from a vectorized searchsorted forward-fill, so sparse
    series cost observations, not rows. Per-task memory is bounded by
    corpus/n_buckets.

    Cross-engine exactness: with dyadic α/β (0.5, 0.25) every multiply
    is IEEE-exact-reproducible, and the kernel's operation order —
    ``nl = α·y + (1-α)·(l+t)`` then ``t = β·(nl-l) + (1-β)·t`` —
    matches the SQL recursion term-for-term, so results are
    bit-identical before the final round(6).
    """
    import math  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    keys = list(series)
    order = keys + [ts_col, *tiebreak]
    out_fields = keys + list(tiebreak) + [ts_col, level_col, trend_col]
    a, b = float(alpha), float(beta)
    ca, cb = 1.0 - a, 1.0 - b

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order)
        parts = []
        for _, g in pdf.groupby(keys, sort=False):
            v = g[value_col].to_numpy(dtype="float64")
            n = len(v)
            lv = np.full(n, math.nan)
            tr = np.full(n, math.nan)
            obs = np.flatnonzero(~np.isnan(v))
            if obs.size:
                y = v[obs]
                ol = np.empty(obs.size)
                ot = np.empty(obs.size)
                l, t = y[0], 0.0
                ol[0], ot[0] = l, t
                for i in range(1, obs.size):
                    nl = a * y[i] + ca * (l + t)
                    t = b * (nl - l) + cb * t
                    l = nl
                    ol[i], ot[i] = l, t
                idx = np.searchsorted(obs, np.arange(n), side="right") - 1
                seen = idx >= 0
                lv[seen] = ol[idx[seen]]
                tr[seen] = ot[idx[seen]]
            parts.append(g.assign(**{level_col: lv, trend_col: tr}))
        return pd.concat(parts)[out_fields]

    schema_parts = []
    for c in out_fields:
        if c in (level_col, trend_col):
            schema_parts.append(f"{c} double")
        else:
            schema_parts.append(f"{c} {dict(df.dtypes)[c]}")
    n_buckets = default_parallelism(df.sparkSession) * 2
    bucket = F.pmod(F.xxhash64(*keys), F.lit(n_buckets))
    return (
        df.withColumn("__bk", bucket)
        .groupBy("__bk")
        .applyInPandas(kernel, ", ".join(schema_parts))
    )


def benchmark_correlation(
    df: DataFrame,
    series: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "hour",
) -> DataFrame:
    """Cross-series statistics: per series, the Pearson correlation
    between its per-bucket value totals and the GLOBAL per-bucket
    totals — the "beta to the benchmark" screen (which sensors track
    the aggregate signal, which move independently).

    Exactness discipline: totals are integer cents, so every Pearson
    term (``n·Σxy − Σx·Σy`` etc.) is an exact int64 product-sum and
    the final expression divides deterministically — a float-mean
    formulation would be summation-order sensitive. Shuffle shape: the
    FACT scans once into the (series, bucket) aggregate; the global
    bucket totals come from a window over that COMPACT frame (a
    separate aggregate branch would re-scan the fact — Catalyst has no
    cross-branch CSE); then one per-series aggregate.
    """
    from ..expressions import nan_to_null

    keys = list(series)
    cents = F.round(nan_to_null(F.col(value_col)) * 100).cast("long")
    per = df.groupBy(*keys, F.date_trunc(bucket, F.col(ts_col)).alias("__b")).agg(
        F.sum(cents).alias("__x")
    )
    j = per.withColumn(
        "__y", F.sum("__x").over(Window.partitionBy("__b"))
    ).where(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    n = F.count(F.lit(1)).cast("long")
    sx, sy = F.sum("__x").cast("long"), F.sum("__y").cast("long")
    sxy = F.sum(F.col("__x") * F.col("__y")).cast("long")
    sxx = F.sum(F.col("__x") * F.col("__x")).cast("long")
    syy = F.sum(F.col("__y") * F.col("__y")).cast("long")
    num = (n * sxy - sx * sy).cast("double")
    den = F.sqrt((n * sxx - sx * sx).cast("double")) * F.sqrt(
        (n * syy - sy * sy).cast("double")
    )
    return j.groupBy(*keys).agg(
        n.alias("n_buckets"),
        F.when(den > 0, F.round(num / den, 6)).alias("benchmark_corr"),
    )


def benchmark_spearman(
    df: DataFrame,
    series: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "hour",
) -> DataFrame:
    """Per-series SPEARMAN rank correlation to the global per-bucket
    benchmark — the robust twin of :func:`benchmark_correlation`:
    monotone association on ranks, immune to the heavy-tailed bucket
    totals that dominate a Pearson estimate.

    Exactness discipline: ties take the AVERAGE rank, but instead of
    the fractional average this uses its integer double,
    ``2*avg_rank = 2*min_rank + ties - 1`` (Pearson is scale/shift
    invariant, so the correlation of doubled ranks IS the Spearman
    rho) — every product-sum stays exact int64 and the single double
    division is engine-deterministic, the house pattern.

    Shuffle shape matches benchmark_correlation: one fact scan into
    the (series, bucket) aggregate, global totals via a window over
    that compact frame, then two rank windows (per-series sorts over
    ~bucket-count rows each) and one per-series aggregate.
    """
    from ..expressions import nan_to_null

    keys = list(series)
    cents = F.round(nan_to_null(F.col(value_col)) * 100).cast("long")
    per = df.groupBy(*keys, F.date_trunc(bucket, F.col(ts_col)).alias("__b")).agg(
        F.sum(cents).alias("__x")
    )
    j = per.withColumn(
        "__y", F.sum("__x").over(Window.partitionBy("__b"))
    ).where(F.col("__x").isNotNull() & F.col("__y").isNotNull())

    def rank2(col: str) -> Column:
        wr = Window.partitionBy(*keys).orderBy(col)
        wt = Window.partitionBy(*keys, col)
        return (
            F.lit(2) * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - F.lit(1)
        ).cast("long")

    r = j.select(*keys, rank2("__x").alias("__rx"), rank2("__y").alias("__ry"))
    n = F.count(F.lit(1)).cast("long")
    sx, sy = F.sum("__rx").cast("long"), F.sum("__ry").cast("long")
    sxy = F.sum(F.col("__rx") * F.col("__ry")).cast("long")
    sxx = F.sum(F.col("__rx") * F.col("__rx")).cast("long")
    syy = F.sum(F.col("__ry") * F.col("__ry")).cast("long")
    num = (n * sxy - sx * sy).cast("double")
    den = F.sqrt((n * sxx - sx * sx).cast("double")) * F.sqrt(
        (n * syy - sy * sy).cast("double")
    )
    return r.groupBy(*keys).agg(
        n.alias("n_buckets"),
        F.when(den > 0, F.round(num / den, 6)).alias("spearman"),
    )


def runs_test(
    df: DataFrame,
    series: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Wald-Wolfowitz runs test per series: is the sign sequence of
    (value - series median) random, or does it trend/cluster?  Emits
    the observed above/below counts, the run count, and the normal-
    approximation z-score — the classic distribution-free "is this
    sensor drifting" screen.

    Exactness discipline: values quantize to int64 cents; the median
    compares in the bit-exact Spark interpolation both engines
    reproduce (`spark_quantile_sql`); ties with the median are
    EXCLUDED (standard treatment).  ``2*n1*n2`` stays int64 (safe to
    ~3e9 observations per series); the variance expression converts
    each factor to double in a fixed textual order so the z-score is
    engine-deterministic before the final round.

    Shuffle shape: one per-series median aggregate joined back on the
    series key (no broadcast assumption — series count can be
    arbitrarily large), one ordered window for the sign-change scan,
    one per-series aggregate.
    """
    from ..expressions import nan_to_null

    keys = list(series)
    order = [F.col(ts_col)] + [F.col(t) for t in tiebreak]
    cents = F.round(nan_to_null(F.col(value_col)) * 100).cast("long")
    obs = df.select(*keys, *[F.col(ts_col)], *[F.col(t) for t in tiebreak],
                    cents.alias("__c")).where(F.col("__c").isNotNull())
    med = obs.groupBy(*keys).agg(F.percentile(F.col("__c"), F.lit(0.5)).alias("__m"))
    signed = (
        obs.join(med, keys)
        .where(F.col("__c") != F.col("__m"))
        .withColumn("__s", F.when(F.col("__c") > F.col("__m"), F.lit(1)).otherwise(F.lit(-1)))
    )
    w = Window.partitionBy(*keys).orderBy(*order)
    runs = signed.withColumn(
        "__chg",
        F.when(
            F.lag("__s").over(w).isNull() | (F.col("__s") != F.lag("__s").over(w)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    n1 = F.sum(F.when(F.col("__s") == 1, 1).otherwise(0)).cast("long")
    n2 = F.sum(F.when(F.col("__s") == -1, 1).otherwise(0)).cast("long")
    r = F.sum("__chg").cast("long")
    agg = runs.groupBy(*keys).agg(
        n1.alias("n_pos"), n2.alias("n_neg"), r.alias("runs")
    )
    n = (F.col("n_pos") + F.col("n_neg")).cast("long")
    a = (F.lit(2) * F.col("n_pos") * F.col("n_neg")).cast("long")
    e = F.lit(1.0) + a.cast("double") / n.cast("double")
    v = (a.cast("double") * (a - n).cast("double")) / (
        n.cast("double") * n.cast("double") * (n - F.lit(1)).cast("double")
    )
    return agg.select(
        *keys,
        "n_pos",
        "n_neg",
        "runs",
        # Nested guards: `(n > 1) & (v > 0)` still evaluates v's
        # n²(n−1) denominator when n == 1 (one non-median observation),
        # so n > 1 must gate v's computation, not just the result.
        F.when(
            n > 1,
            F.when(v > 0, F.round((F.col("runs").cast("double") - e) / F.sqrt(v), 6)),
        ).alias("runs_z"),
    ).orderBy(*keys)


def robust_trend(
    df: DataFrame,
    series: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    z_crit: float = 1.96,
) -> DataFrame:
    """Robust trend screen per series: Theil-Sen slope (median of all
    pairwise daily-total slopes) plus the Mann-Kendall S statistic and
    its tie-corrected z — the standard distribution-free "is this
    sensor trending" battery (outlier-immune where OLS slope is not).

    Scale shape: the fact table reduces once to per-(series, day)
    int64 cent totals; the pairwise self-join runs on that CACHED
    bucketed frame keyed by series (n_days^2/2 rows per series —
    bounded by the observation horizon, ~435 pairs per 30-day series —
    never by the event count; re-bucket coarser for multi-year
    horizons).  Slopes are single double divisions of int64 deltas,
    the Sen slope is the engine-exact percentile interpolation both
    engines share, and the MK variance converts one int64 expression
    to double before a lone division by 18.
    """
    from ..expressions import nan_to_null

    keys = list(series)
    cents = F.round(nan_to_null(F.col(value_col)) * 100).cast("long")
    day = F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01")).cast("int")
    daily = (
        df.groupBy(*keys, day.alias("__d"))
        .agg(F.sum(cents).alias("__x"))
        .where(F.col("__x").isNotNull())
        .cache()
    )
    a, b = daily.alias("a"), daily.alias("b")
    cond = (F.col("a.__d") < F.col("b.__d"))
    for c in keys:
        cond = (F.col(f"a.{c}") == F.col(f"b.{c}")) & cond
    pairs = a.join(b, cond).select(
        *[F.col(f"a.{c}").alias(c) for c in keys],
        (
            (F.col("b.__x") - F.col("a.__x")).cast("double")
            / (F.col("b.__d") - F.col("a.__d")).cast("double")
        ).alias("__slope"),
        F.when(F.col("b.__x") > F.col("a.__x"), F.lit(1))
        .when(F.col("b.__x") < F.col("a.__x"), F.lit(-1))
        .otherwise(F.lit(0))
        .alias("__sgn"),
    )
    agg = pairs.groupBy(*keys).agg(
        F.percentile(F.col("__slope"), F.lit(0.5)).alias("__sen"),
        F.sum("__sgn").cast("long").alias("mk_s"),
    )
    nd = daily.groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    tie = (
        daily.groupBy(*keys, "__x")
        .agg(F.count(F.lit(1)).cast("long").alias("__t"))
        .groupBy(*keys)
        .agg(
            F.sum(
                F.col("__t") * (F.col("__t") - 1) * (F.lit(2) * F.col("__t") + 5)
            )
            .cast("long")
            .alias("__tsum")
        )
    )
    j = nd.join(agg, keys).join(tie, keys)
    n = F.col("n_days")
    var = (
        n * (n - 1) * (F.lit(2) * n + 5) - F.col("__tsum")
    ).cast("double") / F.lit(18.0)
    num = (
        F.when(F.col("mk_s") > 0, (F.col("mk_s") - 1).cast("double"))
        .when(F.col("mk_s") < 0, (F.col("mk_s") + 1).cast("double"))
        .otherwise(F.lit(0.0))
    )
    # z only ever materializes under var > 0 (nested-when ANSI guard:
    # the division itself is the guarded condition's payload — a series
    # whose daily totals all tie has var = 0 and must yield NULL z /
    # FALSE flag, matching the oracle, not DIVIDE_BY_ZERO).
    z = F.when(var > 0, num / F.sqrt(var))
    return j.select(
        *keys,
        "n_days",
        F.round(F.col("__sen"), 6).alias("sen_slope"),
        "mk_s",
        F.round(z, 6).alias("mk_z"),
        F.coalesce(F.abs(z) > F.lit(z_crit), F.lit(False)).alias("trend_flag"),
    ).orderBy(*keys)


def rolling_benchmark_correlation(
    df: DataFrame,
    series: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "hour",
    window_buckets: int = 24,
) -> DataFrame:
    """Rolling Pearson correlation between each series' per-bucket
    totals and the global per-bucket totals over a trailing
    ``window_buckets`` window — the time-varying version of
    :func:`benchmark_correlation` (regime changes show as correlation
    breaks). Same exactness discipline: every Pearson term is a
    windowed sum of int64 products, divided once per row; full windows
    only (NULL until ``window_buckets`` buckets have accumulated).
    Fact scanned once (global totals via a window over the compact
    bucket frame), then one (series) sort shuffle.
    """
    from ..expressions import nan_to_null

    keys = list(series)
    cents = F.round(nan_to_null(F.col(value_col)) * 100).cast("long")
    per = df.groupBy(*keys, F.date_trunc(bucket, F.col(ts_col)).alias("bucket")).agg(
        F.sum(cents).alias("__x")
    )
    j = per.withColumn(
        "__y", F.sum("__x").over(Window.partitionBy("bucket"))
    ).where(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    w = (
        Window.partitionBy(*keys)
        .orderBy("bucket")
        .rowsBetween(-(window_buckets - 1), 0)
    )
    n = F.count(F.lit(1)).over(w).cast("long")
    sx = F.sum("__x").over(w).cast("long")
    sy = F.sum("__y").over(w).cast("long")
    sxy = F.sum(F.col("__x") * F.col("__y")).over(w).cast("long")
    sxx = F.sum(F.col("__x") * F.col("__x")).over(w).cast("long")
    syy = F.sum(F.col("__y") * F.col("__y")).over(w).cast("long")
    num = (n * sxy - sx * sy).cast("double")
    den = F.sqrt((n * sxx - sx * sx).cast("double")) * F.sqrt(
        (n * syy - sy * sy).cast("double")
    )
    corr = F.when((n == window_buckets) & (den > 0), F.round(num / den, 6))
    return j.select(*keys, "bucket", corr.alias("rolling_corr"))


def seasonal_decompose(
    df: DataFrame,
    series: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: Sequence[str] = ("event_id",),
    trend_window: int = 12,
    phase_unit: str = "hour",
) -> DataFrame:
    """Additive seasonal decomposition: ``value = trend + seasonal +
    residual`` per series, the classic pre-pass for seasonal-aware
    anomaly detection (a rule detector on raw values flags every rush
    hour; on residuals it flags only departures from the pattern).
    ``phase_unit`` picks the cycle: "hour" (hour-of-day, intraday
    pattern) or "dow" (day-of-week, weekly pattern).

    - **trend**: centered moving average over ``2*trend_window + 1``
      rows, full windows only (edges and windows containing missing
      values yield NULL — the min_periods discipline every detector
      here uses).
    - **seasonal**: mean by (series, hour-of-day phase) minus the
      series grand mean — the mean-by-phase estimator, which unlike
      the detrended-mean variant stays in EXACT integer-cent sums
      (sums of longs divided once), so both engines produce identical
      doubles with no float-summation order sensitivity.
    - **residual**: ``value - trend - seasonal`` (NULL where trend is).

    Semantics are defined on cent-quantized values (``round(v*100)``
    as int64) like every money-exact aggregate in this repo.

    Scale: ONE sort shuffle per series for the row window, plus the
    (series, phase) and (series) partial aggregates — the phase/grand
    means ride window functions over the same data, no joins. At 100 TB
    this is the same profile as any keyed window detector.
    """
    from ..expressions import nan_to_null

    keys = list(series)
    full = 2 * trend_window + 1
    w_row = (
        Window.partitionBy(*keys)
        .orderBy(ts_col, *tiebreak)
        .rowsBetween(-trend_window, trend_window)
    )
    w_phase = Window.partitionBy(*keys, "__phase")
    w_series = Window.partitionBy(*keys)

    phase_fns = {"hour": F.hour, "dow": F.dayofweek}
    out = df.withColumn(
        "__vc", F.round(nan_to_null(F.col(value_col)) * 100).cast("long")
    ).withColumn("__phase", phase_fns[phase_unit](ts_col))
    trend = F.when(
        F.count("__vc").over(w_row) == full,
        F.sum("__vc").over(w_row) / (100.0 * full),
    )
    seasonal = F.sum("__vc").over(w_phase) / (
        100.0 * F.count("__vc").over(w_phase)
    ) - F.sum("__vc").over(w_series) / (100.0 * F.count("__vc").over(w_series))
    resid = F.col("__vc") / 100.0 - trend - seasonal
    return (
        out.withColumn("trend", trend)
        .withColumn("seasonal", seasonal)
        .withColumn("resid", resid)
        .drop("__vc", "__phase")
    )


def seasonal_anomaly(
    df: DataFrame,
    series: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: Sequence[str] = ("event_id",),
    trend_window: int = 12,
    quantile: float = 0.99,
    phase_unit: str = "hour",
) -> DataFrame:
    """Seasonal-aware anomaly flags: ``|residual|`` above the per-series
    exact ``quantile`` of ``|residual|``. Exact percentile (not stddev)
    keeps the threshold deterministic across engines — float stddev is
    summation-order sensitive, order statistics are not."""
    keys = list(series)
    dec = seasonal_decompose(
        df, series, ts_col, value_col, tiebreak, trend_window, phase_unit
    )
    w_series = Window.partitionBy(*keys)
    thr = F.percentile(F.abs(F.col("resid")), F.lit(quantile)).over(w_series)
    return dec.withColumn(
        "is_anomaly", F.coalesce(F.abs(F.col("resid")) > thr, F.lit(False))
    )


def range_join(
    left: DataFrame,
    intervals: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Point-in-interval range join, decomposed into an EQUI-join.

    The naive ``l.ts BETWEEN i.start AND i.end`` predicate gives Spark
    no equi-key beyond ``keys`` — low-cardinality keys degenerate into
    near-cross products (and keyless input into BroadcastNestedLoop).
    The scale-correct shape: explode each interval into the coarse
    time BUCKETS it covers, hash-join rows to interval-buckets on
    ``(keys..., bucket)``, then post-filter the exact bounds. Shuffle
    volume is rows + interval·buckets_covered — linear as long as
    ``bucket_seconds`` is chosen near the typical interval length
    (cost knob, not correctness knob).

    Inclusive bounds on both ends (``BETWEEN`` semantics). Returns
    left rows matched with every covering interval's columns.
    """
    def bstart(col: str) -> Column:
        # epoch-aligned tumbling grid, plain arithmetic (F.window can't
        # appear twice in one projection)
        return F.timestamp_seconds(
            F.floor(F.unix_seconds(F.col(col)) / bucket_seconds).cast("long")
            * bucket_seconds
        )

    # Explicit side aliases: `lt[c] == iv[c]` attribute-style conditions
    # rely on Spark's auto-disambiguation when both frames derive from
    # the same source (the self-join case), which emits the "trivially
    # true equals predicate" warning — string-qualified columns are the
    # robust shape (same style as interval_overlap_join).
    iv = intervals.withColumn(
        "__b",
        F.explode(
            F.sequence(
                bstart(start_col),
                bstart(end_col),
                F.expr(f"INTERVAL {bucket_seconds} SECOND"),
            )
        ),
    ).alias("iv")
    lt = left.withColumn("__b", bstart(ts_col)).alias("lt")
    cond = [F.col(f"lt.{c}") == F.col(f"iv.{c}") for c in keys] + [
        F.col("lt.__b") == F.col("iv.__b")
    ]
    out = lt.join(iv, cond, "inner").where(
        (F.col(f"lt.{ts_col}") >= F.col(f"iv.{start_col}"))
        & (F.col(f"lt.{ts_col}") <= F.col(f"iv.{end_col}"))
    )
    return out.select(
        *[F.col(f"lt.{c}") for c in left.columns],
        *[F.col(f"iv.{c}") for c in intervals.columns if c not in keys],
    )


def rollup_hierarchy(
    df: DataFrame,
    keys: Sequence[str] = (),
    ts_col: str = "ts",
    value_col: str = "value",
    levels: Sequence[str] = ("hour", "day"),
) -> DataFrame:
    """Hypertable-style multi-resolution continuous-aggregate rollup:
    one pass over the raw data builds the FINEST level; every coarser
    level re-aggregates the previous level's partials (count/sum
    in exact integer cents, min/max) — the raw table is scanned ONCE
    no matter how many levels, which is what makes a 100 TB hypertable
    rollup a cheap nightly job instead of L full scans. Output is the
    union of all levels tagged with a ``level`` column; avg is derived
    at the end from exact sums.
    """
    from ..expressions import nan_to_null

    cents = F.round(nan_to_null(F.col(value_col)) * 100).cast("long")
    finest, *coarser = levels
    cur = (
        df.groupBy(*keys, F.date_trunc(finest, F.col(ts_col)).alias("bucket"))
        .agg(
            F.count(cents).alias("n"),
            F.sum(cents).alias("sum_cents"),
            F.min(cents).alias("min_cents"),
            F.max(cents).alias("max_cents"),
        )
        # each level IS the materialized continuous aggregate (tiny:
        # bounded by time-span x key cardinality, not row count); the
        # cache makes the output union and the next level read it
        # instead of re-scanning raw — Catalyst has no cross-branch CSE
        .cache()
    )
    out = cur.withColumn("level", F.lit(finest))
    for lvl in coarser:
        cur = (
            cur.groupBy(*keys, F.date_trunc(lvl, F.col("bucket")).alias("bucket"))
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_cents").alias("sum_cents"),
                F.min("min_cents").alias("min_cents"),
                F.max("max_cents").alias("max_cents"),
            )
            .cache()
        )
        out = out.unionByName(cur.withColumn("level", F.lit(lvl)))
    return out.select(
        "level",
        *keys,
        "bucket",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("sum_cents") / 100.0, 6).alias("sum_value"),
        F.round(F.col("min_cents") / 100.0, 6).alias("min_value"),
        F.round(F.col("max_cents") / 100.0, 6).alias("max_value"),
        F.round(F.col("sum_cents") / (100.0 * F.col("n")), 6).alias("avg_value"),
    )

def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    keys: Sequence[str],
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bucket_seconds: int = 3600,
    suffix: str = "_b",
) -> DataFrame:
    """Interval×interval overlap join (``a.start <= b.end AND b.start
    <= a.end``, inclusive), bucketized like :func:`range_join`.

    Both sides explode into the epoch-aligned buckets they cover and
    equi-join on ``(keys, bucket)``. A pair overlapping several shared
    buckets would match once per bucket, so each pair is attributed to
    ONE canonical bucket — the bucket of ``greatest(a.start,
    b.start)``, which every overlapping pair covers on both sides —
    making the join emit each pair exactly once with no ``distinct``
    shuffle. Output: ``a``'s columns plus ``b``'s non-key columns
    renamed with ``suffix``.
    """
    keys = list(keys)

    def bstart(c: Column) -> Column:
        return F.timestamp_seconds(
            F.floor(F.unix_seconds(c) / bucket_seconds).cast("long")
            * bucket_seconds
        )

    def explode_buckets(df: DataFrame, s: str, e: str) -> DataFrame:
        return df.withColumn(
            "__bk",
            F.explode(
                F.sequence(
                    bstart(F.col(s)),
                    bstart(F.col(e)),
                    F.expr(f"INTERVAL {bucket_seconds} SECOND"),
                )
            ),
        )

    b_ren = b.select(
        *keys,
        *[F.col(c).alias(f"{c}{suffix}") for c in b.columns if c not in keys],
    )
    ea = explode_buckets(a, start_col, end_col).alias("a")
    eb = explode_buckets(
        b_ren, f"{start_col}{suffix}", f"{end_col}{suffix}"
    ).alias("b")
    sa, ea_end = F.col(f"a.{start_col}"), F.col(f"a.{end_col}")
    sb, eb_end = F.col(f"b.{start_col}{suffix}"), F.col(f"b.{end_col}{suffix}")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in keys] + [
        F.col("a.__bk") == F.col("b.__bk")
    ]
    joined = ea.join(eb, cond).where(
        (sa <= eb_end) & (sb <= ea_end) & (F.col("a.__bk") == bstart(F.greatest(sa, sb)))
    )
    return joined.select(
        *[F.col(f"a.{c}") for c in a.columns],
        *[F.col(f"b.{c}{suffix}") for c in b.columns if c not in keys],
    )


def lttb_downsample(
    events: DataFrame,
    n_out: int = 20,
    keys: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling, parallel
    fixed-anchor variant: per series, split the (non-null) points into
    ``n_out`` equal-count buckets and keep, per bucket, the point
    maximizing the triangle area against the NEIGHBOR BUCKET AVERAGES
    (classic LTTB anchors on the previously *selected* point, which is
    sequential; anchoring on bucket means is the standard
    deterministic parallelization — every bucket decides
    independently, so the whole operator is two window passes and one
    small join, no per-series sequential scan). First/last buckets pin
    the series endpoints, as in the original algorithm.

    Cross-engine exactness: bucket assignment is pure integer math
    ``(rn-1)*n_out div cnt``; anchor coordinates are exact integer
    sums (rebased micros, value cents) divided once, and the area is
    one fixed-order cross-product expression — bit-identical in any
    engine, so the per-bucket argmax (ties to first row) is
    hash-stable.
    """
    keys = list(keys)
    v = F.when(
        F.isnan(value_col) | F.col(value_col).isNull(), None
    ).otherwise(F.col(value_col))
    pw = Window.partitionBy(*keys)
    ow = pw.orderBy(ts_col, *tiebreak)
    d = (
        events.withColumn("__v", v)
        .where(F.col("__v").isNotNull())
        .select(
            *keys,
            *tiebreak,
            ts_col,
            F.col("__v").alias("__y"),
            F.row_number().over(ow).alias("__rn"),
            F.count(F.lit(1)).over(pw).alias("__cnt"),
            (
                F.unix_micros(F.col(ts_col))
                - F.min(F.unix_micros(F.col(ts_col))).over(pw)
            ).alias("__x"),
        )
        .withColumn(
            "bucket",
            # floor() before the cast: DuckDB CAST(double AS BIGINT)
            # rounds while Spark truncates — floor makes both exact
            F.floor((F.col("__rn") - 1) * n_out / F.col("__cnt")).cast(
                "long"
            ),
        )
    )
    agg = d.groupBy(*keys, "bucket").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum(F.round(F.col("__y") * 100).cast("long")).alias("__sc"),
    )
    bw = Window.partitionBy(*keys).orderBy("bucket")
    ax = F.col("__sx").cast("double") / F.col("__n")
    ay = F.col("__sc").cast("double") / F.col("__n") / 100.0
    anchors = agg.select(
        *keys,
        "bucket",
        F.lag(ax).over(bw).alias("__pax"),
        F.lag(ay).over(bw).alias("__pay"),
        F.lead(ax).over(bw).alias("__nax"),
        F.lead(ay).over(bw).alias("__nay"),
        (F.row_number().over(bw) == 1).alias("__is_first"),
        (
            F.row_number().over(Window.partitionBy(*keys).orderBy(F.desc("bucket")))
            == 1
        ).alias("__is_last"),
    )
    j = d.join(anchors, [*keys, "bucket"])
    area = F.abs(
        (F.col("__pax") - F.col("__nax")) * (F.col("__y") - F.col("__pay"))
        - (F.col("__pax") - F.col("__x")) * (F.col("__nay") - F.col("__pay"))
    )
    # endpoint buckets pin the series endpoints; middle buckets rank by
    # area (desc, row-order tiebreak)
    rank_key = F.when(
        F.col("__is_first"), F.col("__rn").cast("double")
    ).otherwise(
        F.when(F.col("__is_last"), -F.col("__rn").cast("double")).otherwise(
            -area
        )
    )
    sel = Window.partitionBy(*keys, "bucket").orderBy(rank_key, "__rn")
    return (
        j.withColumn("__sel", F.row_number().over(sel))
        .where(F.col("__sel") == 1)
        .select(
            *keys,
            *tiebreak,
            ts_col,
            F.col("__y").alias(value_col),
            F.col("bucket").cast("long").alias("bucket"),
        )
    )


def time_weighted_avg(
    events: DataFrame,
    keys: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: Sequence[str] = ("event_id",),
    unit: str = "hour",
) -> DataFrame:
    """Time-weighted average per key per ``unit`` bucket — the
    irregular-sampling-proof aggregate (a sensor emitting 1000 readings
    in one minute and one reading for the rest of the hour should not
    average as if the burst lasted the hour): each (non-null)
    observation is weighted by its holding time until the next
    observation in the bucket; single-observation buckets fall back to
    the plain mean.

    All sums are exact integers (value cents x gap micros fit int64
    with 5 orders of margin), divided once at the end — engine
    summation order cannot perturb the result. One shuffle on
    (keys, bucket); the lead() window rides the same partitioning.
    """
    keys = list(keys)
    v = F.when(
        F.isnan(value_col) | F.col(value_col).isNull(), None
    ).otherwise(F.col(value_col))
    d = (
        events.withColumn("__v", v)
        .where(F.col("__v").isNotNull())
        .withColumn("bucket", _bucket(ts_col, unit))
    )
    w = Window.partitionBy(*keys, "bucket").orderBy(ts_col, *tiebreak)
    mu = F.unix_micros(F.col(ts_col))
    d = d.select(
        *keys,
        "bucket",
        F.round(F.col("__v") * 100).cast("long").alias("__c"),
        (F.coalesce(F.lead(mu).over(w), mu) - mu).alias("__w"),
    )
    g = d.groupBy(*keys, "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("__w").alias("__sw"),
        F.sum(F.col("__c") * F.col("__w")).alias("__scw"),
        F.sum("__c").alias("__sc"),
    )
    twa = F.when(
        F.col("__sw") > 0,
        F.col("__scw") / F.col("__sw").cast("double") / 100.0,
    ).otherwise(F.col("__sc").cast("double") / F.col("n_events") / 100.0)
    return g.select(
        *keys, "bucket", "n_events", F.round(twa, 6).alias("time_weighted_avg")
    )


def winsorize(
    events: DataFrame,
    lower: float = 0.05,
    upper: float = 0.95,
    keys: Sequence[str] = ("user_id",),
    value_col: str = "value",
    id_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Per-series winsorization: clip values to the exact
    [q_lower, q_upper] percentile band — the outlier-robust
    normalization applied before training-statistics jobs.

    Exact ``percentile`` (linear interpolation == DuckDB
    ``quantile_cont``; the repo-wide fit pattern, detectors/range.py)
    per key in one grouped pass, broadcast back, clip with
    ``least(greatest(...))``. At 100 TB swap the exact percentile for
    ``percentile_approx`` with a documented tolerance certificate
    (the ts_range_quantile_approx scheme).
    """
    keys = list(keys)
    v = F.when(
        F.isnan(value_col) | F.col(value_col).isNull(), None
    ).otherwise(F.col(value_col))
    d = events.withColumn("__v", v)
    q = d.groupBy(*keys).agg(
        F.percentile("__v", F.lit(float(lower))).alias("__lo"),
        F.percentile("__v", F.lit(float(upper))).alias("__hi"),
    )
    j = d.join(F.broadcast(q), keys)
    # guard on non-null v: least/greatest SKIP nulls in both Spark and
    # DuckDB, so an unguarded clip would turn a NULL value into q_lo
    clipped = F.when(
        F.col("__v").isNotNull(),
        F.least(F.greatest(F.col("__v"), F.col("__lo")), F.col("__hi")),
    )
    return j.select(
        *id_cols,
        *keys,
        F.round("__v", 6).alias(value_col),
        F.round(clipped, 6).alias("value_winsorized"),
        F.coalesce(
            (F.col("__v") < F.col("__lo")) | (F.col("__v") > F.col("__hi")),
            F.lit(False),
        ).alias("is_clipped"),
    )


def esd_anomalies(
    events: DataFrame,
    rounds: int = 3,
    z: int = 3,
    keys: Sequence[str] = ("user_id",),
    value_col: str = "value",
    id_col: str = "event_id",
    precomputed_cents: bool = False,
) -> DataFrame:
    """Generalized-ESD-style iterative outlier peeling (the z-score
    variant of Rosner's test, fixed threshold ``z`` instead of the
    t-distribution critical value): per series, ``rounds`` times,
    remove the single most deviant remaining point if its deviation
    exceeds ``z``·stddev of the remaining points — the classic fix for
    ordinary z-scores' masking problem (one huge outlier inflates σ
    and hides the second outlier; peeling re-estimates σ without it).

    EXACT integer formulation: with cents ``c``, ``S=Σc``, ``Q=Σc²``,
    ``n`` over the unflagged rows, the test ``|c-μ| > z·σ`` is
    equivalent to ``(n·c-S)²·(n-1) > z²·n·(n·Q-S²)`` — pure int64
    arithmetic, so candidate ranking and the flag decision are
    bit-identical in any engine (no float summation order anywhere).
    Magnitude bound: |n·c| ≲ n·maxcents must fit int64 — holds to
    ~1e9 rows × 1e4-cent values; beyond that, segment the series.

    Plan: each round is one UNORDERED whole-partition window (n, S, Q
    over the unflagged rows) + one argmax window over the same
    partitioning — a LINEAR chain, one shuffle total, round sorts
    reuse the partitioning. ``rounds`` is a small constant (deeper
    peeling at 100 TB would switch to the sketch-threshold form).
    An earlier grouped-aggregate + broadcast-join-back formulation
    referenced the previous round's frame TWICE per round; Catalyst
    has no cross-branch CSE, so the base recomputed 2^rounds times
    (measured 2.5-7.4s at sf0.1 for rounds=3 on the S-H-ESD stack —
    the window-over-aggregate chain removes the blowup).
    """
    keys = list(keys)
    if precomputed_cents:
        # caller already quantized (e.g. S-H-ESD on decomposition
        # residuals, which needs the half-away quantizer mirroring
        # DuckDB's round() for tie behavior on quotient doubles)
        c = F.col(value_col).cast("long")
    else:
        v = F.when(
            F.isnan(value_col) | F.col(value_col).isNull(), None
        ).otherwise(F.col(value_col))
        c = F.round(v * 100).cast("long")
    d = events.select(*keys, id_col, c.alias("__c")).withColumn(
        "__f", F.lit(False)
    )
    z2 = z * z
    wk = Window.partitionBy(*keys)
    for _ in range(rounds):
        live = F.when(~F.col("__f"), F.col("__c"))
        d = (
            d.withColumn("__n", F.count(live).over(wk))
            .withColumn("__s", F.coalesce(F.sum(live).over(wk), F.lit(0)))
            .withColumn(
                "__q", F.coalesce(F.sum(live * live).over(wk), F.lit(0))
            )
        )
        dev = F.col("__n") * F.col("__c") - F.col("__s")
        dev2 = F.when(~F.col("__f") & F.col("__c").isNotNull(), dev * dev)
        d = d.withColumn("__dev2", dev2)
        w = Window.partitionBy(*keys).orderBy(F.desc("__dev2"), id_col)
        crit = (
            F.col("__dev2") * (F.col("__n") - 1)
            > z2 * F.col("__n")
            * (F.col("__n") * F.col("__q") - F.col("__s") * F.col("__s"))
        )
        hit = (
            F.col("__dev2").isNotNull()
            & (F.row_number().over(w) == 1)
            & crit
        )
        d = d.withColumn(
            "__f", F.col("__f") | F.coalesce(hit, F.lit(False))
        ).select(*keys, id_col, "__c", "__f")
    return d.select(*keys, id_col, F.col("__f").alias("is_anomaly"))


def lagged_cross_correlation(
    df: DataFrame,
    max_lag: int = 3,
    series: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "hour",
) -> DataFrame:
    """Cross-correlation function (CCF): per series, the Pearson
    correlation between its per-bucket totals and the GLOBAL totals
    shifted by each lag in [-max_lag, +max_lag] — the lead/lag screen
    (does this sensor anticipate the aggregate signal, follow it, or
    co-move?). Lag ``k`` correlates x_t with y_{t+k}.

    Same exactness discipline as :func:`benchmark_correlation`: integer
    cents, int64 product-sums, one deterministic division (the n·Σy²
    term bounds the exact-int64 domain at roughly 1e9 cent-sum
    benchmarks × 1e3 buckets; beyond that, rescale cents or demean in
    int128/decimal — same caveat as the benchmark-correlation family). Shuffle
    shape: the fact scans ONCE into the (series, bucket) aggregate;
    the global bucket-totals table is bucket-count-sized and
    BROADCASTS to the lag join (each series row explodes into
    2·max_lag+1 lag rows — constant fan-out, not data growth); one
    final (series, lag) aggregate. Missing buckets drop out of the
    pairing naturally (the join is on the shifted bucket), so gaps
    never misalign the lag the way a row-number shift would.
    """
    from ..expressions import nan_to_null

    keys = list(series)
    cents = F.round(nan_to_null(F.col(value_col)) * 100).cast("long")
    per = df.groupBy(
        *keys, F.date_trunc(bucket, F.col(ts_col)).alias("__b")
    ).agg(F.sum(cents).alias("__x"))
    # both the lag-exploded side AND the global-totals side derive from
    # this compact frame; Catalyst has no cross-branch CSE, so without
    # the checkpoint the 100 TB fact would scan twice (the per-frame is
    # series-x-buckets-sized — cheap to pin; plan-asserted in tests)
    per = per.where(F.col("__x").isNotNull()).localCheckpoint(eager=False)
    glob = per.groupBy("__b").agg(F.sum("__x").alias("__y"))
    lags = lit_int_array(range(-max_lag, max_lag + 1))
    e = per.select(
        *keys, "__b", "__x", F.explode(lags).alias("lag")
    ).withColumn(
        "__tb",
        F.col("__b")
        + F.col("lag") * F.expr(f"INTERVAL 1 {bucket}"),
    )
    j = e.join(
        F.broadcast(glob.select(F.col("__b").alias("__tb"), "__y")), "__tb"
    )
    n = F.count(F.lit(1)).cast("long")
    sx, sy = F.sum("__x").cast("long"), F.sum("__y").cast("long")
    sxy = F.sum(F.col("__x") * F.col("__y")).cast("long")
    sxx = F.sum(F.col("__x") * F.col("__x")).cast("long")
    syy = F.sum(F.col("__y") * F.col("__y")).cast("long")
    num = (n * sxy - sx * sy).cast("double")
    den = F.sqrt((n * sxx - sx * sx).cast("double")) * F.sqrt(
        (n * syy - sy * sy).cast("double")
    )
    return j.groupBy(*keys, "lag").agg(
        n.alias("n_buckets"),
        F.when(den > 0, F.round(num / den, 6)).alias("ccf"),
    )


def changepoint_mean_shift(
    df: DataFrame,
    series: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Single mean-shift changepoint per series via the exact CUSUM
    argmax estimator: the changepoint after position ``k`` maximizes
    ``G_k = |n*S_k - k*S_n|`` (the scaled deviation of the prefix sum
    from the global trend line), the classical AMOC estimator for a
    mean shift. Where :func:`tsod_spark.queries.functions.ts_cusum`
    DETECTS drift (threshold excursion), this LOCALIZES it — the row
    after which the level changed, with pre/post means and the shift.

    Exactness: values accumulate as integer cents (longs), the
    statistic is pure int64 (``n*S_k`` at n=10^6 rows of ~150.00
    values stays under 2^62), and the argmax tie-breaks on smallest k
    — so the selected row is bit-identical in any engine, no float
    accumulation-order hazard (the ts_cusum / ts_esd discipline).

    Scale shape: three window passes over ONE series-partitioned
    shuffle (prefix sums, per-series totals, argmax rank) — no join,
    no iteration; a million series cost one exchange. NULL/NaN rows
    are dropped before positions are assigned (they carry no level
    information). Series with fewer than 2 observations emit nothing.
    Binary segmentation at depth d = d recursive applications on the
    emitted sub-segments; depth 1 is registered as the oracle query.
    """
    sl = [F.col(c) for c in series]
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak]]
    v = F.col(value_col)
    f = df.where(~F.isnan(v) & v.isNotNull()).select(
        *series, ts_col, *tiebreak, F.round(v * 100).cast("long").alias("__c")
    )
    w = Window.partitionBy(*sl).orderBy(*order)
    wall = Window.partitionBy(*sl)
    p = f.select(
        *series,
        ts_col,
        F.row_number().over(w).alias("__k"),
        F.sum("__c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("__sk"),
        F.count(F.lit(1)).over(wall).alias("__n"),
        F.sum("__c").over(wall).alias("__sn"),
    )
    g = p.where(F.col("__k") < F.col("__n")).withColumn(
        "__g", F.abs(F.col("__n") * F.col("__sk") - F.col("__k") * F.col("__sn"))
    )
    r = g.withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy(*sl).orderBy(F.col("__g").desc(), F.col("__k"))
        ),
    ).where(F.col("__rn") == 1)
    return r.select(
        *series,
        F.col(ts_col).alias("cp_ts"),
        F.col("__k").cast("long").alias("k_pre"),
        F.col("__n").cast("long").alias("n_rows"),
        F.col("__g").cast("long").alias("gstat"),
        round_half_away6(F.col("__sk") / (100.0 * F.col("__k"))).alias("pre_mean"),
        round_half_away6(
            (F.col("__sn") - F.col("__sk")) / (100.0 * (F.col("__n") - F.col("__k")))
        ).alias("post_mean"),
    )


def changepoint_binseg(
    df: DataFrame,
    depth: int = 2,
    series: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Binary-segmentation changepoints: recursively apply the AMOC
    argmax (:func:`changepoint_mean_shift`) to the sub-segments left
    and right of each found changepoint, ``depth`` levels deep — up to
    ``2^depth - 1`` changepoints per series.

    Declarative recursion, not iteration over data: the integer-cent
    prefix sums ``(k, S_k, n, S_n)`` are computed ONCE (one
    series-partitioned window pass, cached); every deeper level is a
    slim equi-join of that frame against the previous level's segment
    bounds, because a segment's local statistic needs only global
    prefix sums at its endpoints: ``S_local = S_k - S_lo``,
    ``n_local = hi - lo``. No re-sort, no re-scan — depth d costs d
    joins over an already-partitioned cached frame.

    Same exactness contract as the single-changepoint operator: pure
    int64 statistic, smallest-k tie-break, NULL rows dropped before
    positions. Segments shorter than 2 observations stop splitting.
    Emits (series, level, seg_lo, seg_hi, cp_ts, k_pre, gstat,
    pre_mean, post_mean) with k positions GLOBAL to the series.
    """
    sl = [F.col(c) for c in series]
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak]]
    v = F.col(value_col)
    f = df.where(~F.isnan(v) & v.isNotNull()).select(
        *series, ts_col, *tiebreak, F.round(v * 100).cast("long").alias("__c")
    )
    w = Window.partitionBy(*sl).orderBy(*order)
    wall = Window.partitionBy(*sl)
    p = f.select(
        *series,
        ts_col,
        F.row_number().over(w).alias("__k"),
        F.sum("__c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("__sk"),
        F.count(F.lit(1)).over(wall).alias("__n"),
        F.sum("__c").over(wall).alias("__sn"),
    ).cache()

    segs = (
        p.groupBy(*series)
        .agg(F.max("__n").alias("hi"), F.max("__sn").alias("sk_hi"))
        .select(
            *series,
            F.lit(0).cast("long").alias("lo"),
            F.lit(0).cast("long").alias("sk_lo"),
            F.col("hi").cast("long"),
            "sk_hi",
        )
    )
    outs = []
    for level in range(1, depth + 1):
        j = p.join(segs, list(series)).where(
            (F.col("__k") > F.col("lo")) & (F.col("__k") < F.col("hi"))
        )
        n_loc = F.col("hi") - F.col("lo")
        k_loc = F.col("__k") - F.col("lo")
        s_loc = F.col("__sk") - F.col("sk_lo")
        sn_loc = F.col("sk_hi") - F.col("sk_lo")
        g = j.withColumn("__g", F.abs(n_loc * s_loc - k_loc * sn_loc))
        cp = g.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(*sl, "lo").orderBy(
                    F.col("__g").desc(), F.col("__k")
                )
            ),
        ).where(F.col("__rn") == 1)
        outs.append(
            cp.select(
                *series,
                F.lit(level).alias("level"),
                F.col("lo").alias("seg_lo"),
                F.col("hi").alias("seg_hi"),
                F.col(ts_col).alias("cp_ts"),
                F.col("__k").cast("long").alias("k_pre"),
                F.col("__g").cast("long").alias("gstat"),
                round_half_away6(s_loc / (100.0 * k_loc)).alias("pre_mean"),
                round_half_away6(
                    (sn_loc - s_loc) / (100.0 * (n_loc - k_loc))
                ).alias("post_mean"),
            )
        )
        if level < depth:
            halves = F.array(
                F.struct(
                    F.col("lo").alias("lo"),
                    F.col("sk_lo").alias("sk_lo"),
                    F.col("__k").cast("long").alias("hi"),
                    F.col("__sk").alias("sk_hi"),
                ),
                F.struct(
                    F.col("__k").cast("long").alias("lo"),
                    F.col("__sk").alias("sk_lo"),
                    F.col("hi").alias("hi"),
                    F.col("sk_hi").alias("sk_hi"),
                ),
            )
            segs = (
                cp.select(*series, F.explode(halves).alias("h"))
                .select(*series, "h.lo", "h.sk_lo", "h.hi", "h.sk_hi")
                .where(F.col("hi") - F.col("lo") >= 2)
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def holt_winters(
    df: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.25,
    gamma: float = 0.25,
    period: int = 24,
    series: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Additive Holt-Winters triple exponential smoothing per series
    over HOURLY cent totals, seasonals anchored to the CALENDAR hour
    of day (``hour_bucket % period``), not the observation index:

    ``level_t = α·(y_t − s_h) + (1−α)·(level + trend)``;
    ``trend_t = β·(level_t − level) + (1−β)·trend``;
    ``s_h     = γ·(y_t − level_t) + (1−γ)·s_h``.

    Calendar anchoring makes gaps well-defined — a missing hour simply
    doesn't advance the recurrence, and the next observation still
    lands on its true hour-of-day slot (index-anchored HW silently
    shifts the season across every gap).  Initialization: at a
    series' first bucket ``level = y, trend = 0`` and all ``period``
    seasonals start at 0 (the first visit to each slot therefore
    learns ``γ·(y − level)``); ``season`` in the output is the slot's
    value AFTER the row's update.

    State is level + trend + a ``period``-slot seasonal vector — a
    genuinely sequential recurrence (the seasonal cross-coupling kills
    any window decomposition), so it runs in the holt/ewma bucketed
    ``applyInPandas`` shape after a first (series, hour) aggregate:
    the irreducible sequential unit is buckets-per-series, and many
    small series share one Arrow batch via ``hash(series) % B``.

    Cross-engine exactness: with dyadic α/β/γ (0.5, 0.25, 0.25) every
    multiply is IEEE-exact and the kernel's operation order matches
    the recursive-CTE oracle term-for-term — bit-identical before
    round(6).
    """
    import math  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from ..expressions import nan_to_null

    keys = list(series)
    a, b, g = float(alpha), float(beta), float(gamma)
    ca, cb, cg = 1.0 - a, 1.0 - b, 1.0 - g
    m = int(period)

    cents = F.round(nan_to_null(F.col(value_col)) * 100).cast("long")
    buckets = (
        df.select(
            *keys,
            F.expr(f"unix_micros({ts_col}) div 3600000000").alias("hour_bucket"),
            cents.alias("__vc"),
        )
        .where(F.col("__vc").isNotNull())
        .groupBy(*keys, "hour_bucket")
        .agg(F.sum("__vc").cast("double").alias("__y"))
    )

    out_fields = keys + ["hour_bucket", "bucket_cents", "level", "trend", "season", "forecast"]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(keys + ["hour_bucket"])
        parts = []
        for _, grp in pdf.groupby(keys, sort=False):
            y = grp["__y"].to_numpy(dtype="float64")
            hb = grp["hour_bucket"].to_numpy(dtype="int64")
            n = len(y)
            lv = np.empty(n)
            tr = np.empty(n)
            se = np.empty(n)
            fc = np.full(n, math.nan)  # one-step-ahead forecast (pre-update)
            s = [0.0] * m
            l, t = float(y[0]), 0.0
            h0 = int(hb[0] % m)
            s[h0] = g * (float(y[0]) - l) + cg * s[h0]  # = 0.0 exactly
            lv[0], tr[0], se[0] = l, t, s[h0]
            for i in range(1, n):
                h = int(hb[i] % m)
                yi = float(y[i])
                fc[i] = (l + t) + s[h]
                nl = a * (yi - s[h]) + ca * (l + t)
                t = b * (nl - l) + cb * t
                s[h] = g * (yi - nl) + cg * s[h]
                l = nl
                lv[i], tr[i], se[i] = l, t, s[h]
            parts.append(
                grp.assign(
                    bucket_cents=y, level=lv, trend=tr, season=se, forecast=fc
                )
            )
        return pd.concat(parts)[out_fields]

    schema_parts = []
    dt = dict(buckets.dtypes)
    for c in out_fields:
        if c in ("bucket_cents", "level", "trend", "season", "forecast"):
            schema_parts.append(f"{c} double")
        else:
            schema_parts.append(f"{c} {dt[c]}")
    n_buckets = default_parallelism(df.sparkSession) * 2
    bucket = F.pmod(F.xxhash64(*keys), F.lit(n_buckets))
    return (
        buckets.withColumn("__bk", bucket)
        .groupBy("__bk")
        .applyInPandas(kernel, ", ".join(schema_parts))
    )
