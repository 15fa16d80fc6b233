"""Structured Streaming anomaly detection (SURVEY §7 phase S).

The reference states real-time detection as a vision
(/root/reference/README.md:42); this module delivers it on Structured
Streaming:

- **Stateless detectors** (Range): the batch plan is a pure projection,
  so ``detector.detect(stream_df)`` works unchanged on a streaming
  DataFrame — use :func:`stream_detect_stateless`.
- **Window detectors** (Diff, Gradient, RollingStd, Hampel): ordinary
  window functions are unsupported on streams, so
  :func:`stream_detect` runs an ``applyInPandasWithState`` operator
  keyed by series. Per-series state is a tail buffer of
  ``lookback + lookahead`` rows plus global row counters; each
  micro-batch recomputes flags over (tail + new rows) with the pandas
  kernels in :mod:`.kernels` (same semantics as the batch plans,
  asserted equal in tests).

Non-causal (centered / right-open) windows emit with a ``lookahead``-row
delay per series: a row is only emitted once its full future context has
arrived. This exactly reproduces the batch edge semantics for every
emitted row; the final ``lookahead`` rows of a terminated stream are
never emitted (a stream has no last row until it ends — documented
delta vs batch, where those rows are always flagged False anyway by the
min_periods/interior guards).

Late data: rows are sorted by event time within the buffer, but rows
arriving after their position was emitted would corrupt the cursor and
are dropped (count the upstream watermark as the contract: set
``withWatermark`` so the source bounds disorder before this operator).

Scale: state per key is O(lookback + lookahead) — constant — so a
million series cost a million small buffers spread across executors by
the groupBy hash. No global ordering is ever required.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..detectors import (
    CombinedDetector,
    ConstantGradientDetector,
    ConstantValueDetector,
    DiffDetector,
    GradientDetector,
    HampelDetector,
    RangeDetector,
    RollingStandardDeviationDetector,
)
from ..util import lit_double_array2d
from . import kernels
from ._fold import keyed_fold, micros


def stream_detect_stateless(detector: RangeDetector, stream_df: DataFrame, **tsf_kwargs) -> DataFrame:
    """Projection-only detectors run on streams as-is."""
    from ..frame import TimeSeriesFrame

    return detector.detect(TimeSeriesFrame(stream_df, **tsf_kwargs))


def _leaf_plan(detector, kernel, lookback, lookahead, scalars, fit_map):
    """Build (kernel, lookback, lookahead, make_kwargs, params_df).

    ``make_kwargs(row)`` resolves the kernel kwargs for one series key:
    per-series fitted values (broadcast-joined param columns, read from
    ``row``) override the constructor/globally-fitted scalars; an
    unfitted key (NULL after the left join) falls back to the scalars.
    """
    param_cols = (
        {kw: detector.tmp(fit_name) for fit_name, kw in fit_map.items()}
        if detector._params_df is not None
        else {}
    )

    def make_kwargs(row):
        kw = dict(scalars)
        if row is not None:
            for k, c in param_cols.items():
                v = row.get(c)
                if v is None:
                    continue
                # array-valued params (e.g. a seasonal profile) can't go
                # through scalar pd.isna
                if np.ndim(v) == 0 and pd.isna(v):
                    continue
                kw[k] = v
        return kw

    return (
        kernel,
        lookback,
        lookahead,
        make_kwargs,
        [detector._params_df] if detector._params_df is not None else None,
    )


def _plan(detector):
    """(kernel, lookback, lookahead, make_kwargs, params_dfs)."""
    if isinstance(detector, RangeDetector):
        return _leaf_plan(
            detector,
            kernels.range_kernel,
            0,
            0,
            {"mn": detector._min, "mx": detector._max},
            {"min": "mn", "max": "mx"},
        )
    if isinstance(detector, DiffDetector):
        return _leaf_plan(
            detector,
            kernels.diff_kernel,
            1,
            0,
            {"max_diff": detector._max_diff, "direction": detector._direction},
            {"max_diff": "max_diff"},
        )
    if isinstance(detector, GradientDetector):
        return _leaf_plan(
            detector,
            kernels.gradient_kernel,
            1,
            0,
            {"max_gradient": detector._max_gradient, "direction": detector._direction},
            {"max_gradient": "max_gradient"},
        )
    if isinstance(detector, RollingStandardDeviationDetector):
        w = detector._window_size
        if detector._center:
            lookback, lookahead = w // 2, w - w // 2 - 1
        else:
            lookback, lookahead = w - 1, 0
        return _leaf_plan(
            detector,
            kernels.rolling_std_kernel,
            lookback,
            lookahead,
            {"window_size": w, "max_std": detector._max_std, "center": detector._center},
            {"max_std": "max_std"},
        )
    if isinstance(detector, HampelDetector):
        w = detector._window_size
        # lookahead = w reproduces the batch interior bound t < n - w
        return _leaf_plan(
            detector,
            kernels.hampel_kernel,
            w,
            w,
            {"window_size": w, "threshold": detector._threshold},
            {},
        )
    if isinstance(detector, ConstantGradientDetector):
        # centered span ±(w//2 | w-w//2-1), +1 for the gradient's
        # neighbor, +1 for the flag dilation
        w = detector._window_size
        return _leaf_plan(
            detector,
            kernels.constant_gradient_kernel,
            w // 2 + 2,
            w - w // 2 + 1,
            {"window_size": w, "threshold": detector._threshold},
            {},
        )
    if isinstance(detector, ConstantValueDetector):
        # centered span +1 for the flag dilation
        w = detector._window_size
        return _leaf_plan(
            detector,
            kernels.constant_value_kernel,
            w // 2 + 1,
            w - w // 2,
            {"window_size": w, "threshold": detector._threshold},
            {},
        )
    from ..detectors.seasonal import SeasonalResidualDetector

    if isinstance(detector, SeasonalResidualDetector):
        w = detector._trend_window
        p = detector._params or {}
        return _leaf_plan(
            detector,
            kernels.seasonal_residual_kernel,
            w,
            w,
            {
                "trend_window": w,
                "phase_unit": detector._phase_unit,
                "seasonal": p.get("seasonal"),
                "thr": p.get("thr"),
            },
            {"seasonal": "seasonal", "thr": "thr"},
        )
    from ..detectors.mllib import RegressionResidualDetector

    if isinstance(detector, RegressionResidualDetector):
        # The fitted "model" is T coefficients + intercept + a residual
        # stddev — plain scalars, so streaming scoring is a per-row dot
        # product over the trailing lag window, same state shape as the
        # rule-based window detectors. (KMeans novelty is the one
        # learned detector that genuinely needs model state and stays
        # batch-only — see the NotImplementedError below.)
        if detector._params_df is not None:  # per-series numpy fit
            return _leaf_plan(
                detector,
                kernels.regression_residual_kernel,
                detector._time_steps,
                0,
                {"coef": None, "intercept": None, "threshold": None},
                {"coef": "coef", "intercept": "intercept", "thr": "threshold"},
            )
        if detector._resid_std is None or (
            detector._model is None and detector._closed_form is None
        ):
            from ..exceptions import NotFittedError

            raise NotFittedError("stream_detect")
        if detector._closed_form is not None:  # T=1 OLS fast path
            coef = [float(detector._closed_form[0])]
            icpt = float(detector._closed_form[1])
            return _leaf_plan(
                detector,
                kernels.regression_residual_kernel,
                1,
                0,
                {
                    "coef": coef,
                    "intercept": icpt,
                    "threshold": float(
                        detector._n_sigmas * detector._resid_std
                    ),
                },
                {},
            )
        coef = [float(c) for c in detector._model.coefficients]
        return _leaf_plan(
            detector,
            kernels.regression_residual_kernel,
            len(coef),
            0,
            {
                "coef": coef,
                "intercept": float(detector._model.intercept),
                "threshold": float(detector._n_sigmas * detector._resid_std),
            },
            {},
        )
    from ..detectors.mllib import KMeansDistanceDetector

    if isinstance(detector, KMeansDistanceDetector):
        # The fitted "model" is the k x T centroid matrix + a scalar
        # threshold — closure-captured floats, same leaf shape as the
        # regression coefficients. Scoring state is the trailing
        # T-value window the rule-based detectors already keep.
        if detector._centers is None or detector._threshold is None:
            from ..exceptions import NotFittedError

            raise NotFittedError("stream_detect")
        centers = [[float(x) for x in c] for c in detector._centers]
        return _leaf_plan(
            detector,
            kernels.kmeans_distance_kernel,
            detector._time_steps,
            0,
            {"centers": centers, "threshold": float(detector._threshold)},
            {},
        )
    if isinstance(detector, CombinedDetector):
        plans = [_plan(d) for d in detector._detectors]
        lookback = max(p[1] for p in plans)
        lookahead = max(p[2] for p in plans)
        # the closures ship to the Python workers: keep the params
        # DataFrames (driver-only handles) out of what they capture
        kerns = [p[0] for p in plans]
        makers = [p[3] for p in plans]

        def combined_kernel(ts, value, offset, resolved=None):
            out = np.zeros(len(value), dtype=bool)
            for kern, kw in zip(kerns, resolved):
                out |= kern(ts, value, offset, **kw)
            return out

        def make_kwargs(row):
            return {"resolved": [mk(row) for mk in makers]}

        # leaves of one fused fit share a params frame: join it once
        params_dfs = list({id(df): df for p in plans if p[4] for df in p[4]}.values()) or None
        return combined_kernel, lookback, lookahead, make_kwargs, params_dfs
    raise NotImplementedError(
        f"streaming not implemented for {type(detector).__name__}; "
        "score it in micro-batches via foreachBatch with detector.detect"
    )


def stream_rollup(
    stream_df: DataFrame,
    keys: Sequence[str] = ("event_type",),
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked windowed rollup — the streaming analogue of the
    batch ``events_daily`` hypertable rollup.

    Event-time tumbling windows with a late-data bound: rows later than
    ``watermark`` are dropped and state for closed windows is evicted,
    so state size is O(open windows x keys) regardless of stream
    length. The mean uses the exact-cents trick so a replayed batch
    gives bit-identical averages.
    """
    v = F.when(F.isnan(value_col) | F.col(value_col).isNull(), None).otherwise(
        F.col(value_col)
    )
    cents = F.round(v * 100).cast("long")
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, bucket).alias("win"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(v).alias("__nv"),
            F.sum(cents).alias("__cents"),
        )
        .select(
            F.col("win.start").alias("bucket"),
            *keys,
            "n_events",
            F.when(
                F.col("__nv") > 0,
                F.round(F.col("__cents") / 100.0 / F.col("__nv"), 6),
            ).alias("avg_value"),
        )
    )


def stream_detect(
    detector,
    stream_df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    series: Sequence[str] = ("user_id",),
    idle_timeout: str | None = None,
) -> DataFrame:
    """Streaming variant of ``detector.detect`` keyed by series columns.

    Returns a streaming DataFrame ``(*series, ts, value, is_anomaly)``
    in update output mode.

    Per-series fitted detectors work: each distinct small params
    DataFrame (a fused CombinedDetector fit has one) is broadcast-joined
    onto the stream (stream-static left join — no stream shuffle beyond
    the keyed grouping) and the kernel thresholds resolve per key
    inside the state operator; keys absent from the fit fall back to
    the constructor scalars.

    ``idle_timeout`` (e.g. ``"1 hour"``) evicts the state of series
    that stop sending (the :mod:`~tsod_spark.streaming._fold`
    contract): each tail buffer is O(lookback+lookahead), but the KEY
    COUNT is what needs a bound on a 100 TB stream.
    """
    kernel, lookback, lookahead, make_kwargs, params_dfs = _plan(detector)
    keep = lookback + lookahead
    series = list(series)
    # Only these columns reach the state operator: keep the rest of the
    # event row out of the keyed shuffle and the Arrow hop.
    stream_df = stream_df.select(*dict.fromkeys([*series, ts_col, value_col]))

    param_cols: list[str] = []
    if params_dfs:
        for pdf_small in params_dfs:
            stream_df = stream_df.join(F.broadcast(pdf_small), on=series, how="left")
            param_cols.extend(c for c in pdf_small.columns if c not in series)

    def fold(key, new, st):
        params = make_kwargs(new.iloc[0].to_dict() if param_cols else None)
        seen, emitted, tail_ts, tail_vals = st
        tail_ts, tail_vals = list(tail_ts), list(tail_vals)

        new_ts = micros(new[ts_col])
        # Drop rows at or before the buffered cursor: a row older than
        # the tail would land before already-emitted positions and
        # corrupt the sorted-buffer invariant. The tail is the cursor
        # here, so this fold keeps its own (see ``_fold``).
        if tail_ts:
            ok = new_ts > tail_ts[-1]
            if not ok.all():
                new, new_ts = new[ok.to_numpy()], new_ts[ok]
            if len(new) == 0:
                return None, None
        new_vals = new[value_col].astype(float)

        buf_ts = pd.Series(tail_ts + new_ts.tolist(), dtype="int64")
        buf_vals = pd.Series(tail_vals + new_vals.tolist(), dtype=float)
        buf_offset = seen - len(tail_ts)

        flags = kernel(
            pd.to_datetime(buf_ts, unit="us"), buf_vals, buf_offset, **params
        )

        new_seen = seen + len(new)
        emit_hi = new_seen - lookahead  # exclusive global bound
        if emit_hi > emitted:
            lo_pos = emitted - buf_offset
            hi_pos = emit_hi - buf_offset
            out = {
                "ts": pd.to_datetime(buf_ts.iloc[lo_pos:hi_pos], unit="us"),
                "value": buf_vals.iloc[lo_pos:hi_pos].to_numpy(),
                "is_anomaly": flags[lo_pos:hi_pos],
            }
            emitted = emit_hi
        else:
            out = None
        return (
            new_seen,
            emitted,
            buf_ts.iloc[len(buf_ts) - min(keep, len(buf_ts)) :].tolist(),
            buf_vals.iloc[len(buf_vals) - min(keep, len(buf_vals)) :].tolist(),
        ), out

    return keyed_fold(
        stream_df,
        series,
        [
            StructField("seen", LongType()),
            StructField("emitted", LongType()),
            StructField("tail_ts", ArrayType(LongType())),  # micros
            StructField("tail_vals", ArrayType(DoubleType())),
        ],
        [
            StructField("ts", stream_df.schema[ts_col].dataType),
            StructField("value", DoubleType()),
            StructField("is_anomaly", BooleanType()),
        ],
        fold,
        init=(0, 0, (), ()),
        order=ts_col,
        idle_timeout=idle_timeout,
    )


def stream_sessionize(
    stream_df: DataFrame,
    keys: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming gap-sessionization via native session windows.

    ``F.session_window`` merges events closer than ``gap`` into one
    growing window per key; the watermark closes a session once event
    time passes its end, emits it exactly once (append mode), and
    evicts its state — so state is O(open sessions), not O(history).
    This is the streaming twin of the batch ``events_session_window``
    query (identical partition of events into sessions; a session is
    emitted only when the watermark guarantees no more members).
    """
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(*keys, F.session_window(ts_col, gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *keys,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def _first_arrival(df, keys, item, first_col, idle_timeout):
    """Online first-arrival screen shared by the document dedup twins.

    State per key is the FIRST ``doc_id`` seen (rows fold in
    ``doc_id`` order); every later arrival on the key emits
    ``(doc_id, item, first_col)`` naming it.
    """

    def fold(key, new, st):
        (first_doc,) = st
        upd = None
        if first_doc is None:
            first_doc = int(new["doc_id"].iloc[0])
            upd = (first_doc,)
        hits = new[new["doc_id"] != first_doc]
        if not len(hits):
            return upd, None
        return upd, {
            "doc_id": hits["doc_id"].astype("int64"),
            item: hits[item].astype("int64"),
            first_col: first_doc,
        }

    return keyed_fold(
        df,
        keys,
        [StructField("first_doc", LongType())],
        [
            StructField("doc_id", LongType()),
            StructField(item, LongType()),
            StructField(first_col, LongType()),
        ],
        fold,
        init=(None,),
        order="doc_id",
        idle_timeout=idle_timeout,
        emit_keys=False,
    )


def stream_dedup_minhash(
    stream_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    idle_timeout: str | None = None,
) -> DataFrame:
    """Online near-duplicate detection over a document stream.

    Per-row MinHash signatures (array-HOF column algebra — stateless,
    no stream aggregation needed), exploded into LSH band keys; a
    state operator keyed by ``(band, key)`` remembers the FIRST doc
    seen per bucket and emits ``(doc_id, band, dup_of)`` for every
    later arrival that collides — the streaming twin of
    ``minhash_band_pairs`` restricted to earlier-arrival matches,
    which is exactly the online semantics a training-data firehose
    wants ("is this document a near-dup of anything already taken?").

    State is one doc id per occupied bucket; ``idle_timeout`` bounds
    bucket-count growth on unbounded streams. Aggregate per doc
    downstream (any collision in >= 1 band => near-dup).
    """
    from ..pipeline.dedup import minhash_signatures_rowwise

    # per-row signatures: stateless and shuffle-free, which is what a
    # stream stage needs (the batch explode->groupBy shape would be a
    # stateful aggregation here); the rowwise formulation shares
    # digests across components (k/4 md5s per shingle, not k)
    sigs = minhash_signatures_rowwise(
        stream_docs.select(F.col(id_col).alias("doc_id"), text_col),
        text_col,
        k,
        shingle_n,
    )
    r = k // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat(*[F.col(f"mh{b * r + i}") for i in range(r)])).alias("key"),
        )
        for b in range(bands)
    ]
    exploded = sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", "bk.band", "bk.key").where(F.col("key").isNotNull())

    return _first_arrival(exploded, ["band", "key"], "band", "dup_of", idle_timeout)


def stream_winnow_overlap(
    stream_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    idle_timeout: str | None = None,
) -> DataFrame:
    """Online span-overlap screening over a document stream — the
    streaming twin of :func:`tsod_spark.pipeline.dedup.
    winnow_overlap_pairs`, in the incremental-dedup shape: "does this
    incoming document share a span with anything already taken?"

    Per-row winnowing fingerprints (:func:`tsod_spark.pipeline.text.
    winnow_fingerprints` is pure per-row Column algebra — its barrier
    explodes are stateless Generate nodes, so the batch plan streams
    unchanged); a state operator keyed by ``fp`` remembers the FIRST
    doc seen per fingerprint and emits ``(doc_id, fp, overlap_with)``
    for every later arrival that collides. The MOSS guarantee carries
    over: a new doc sharing a token run of >= ``window + k - 1`` with
    any earlier doc collides on at least one fingerprint.

    Aggregate downstream per ``(doc_id, overlap_with)`` and threshold
    on the collision count for the batch operator's ``min_shared``
    semantics (collision events keep this operator single-stateful —
    chaining a second stateful aggregation inside one update-mode
    query is the Structured Streaming restriction this shape avoids).

    State is one doc id per distinct fingerprint ever seen;
    ``idle_timeout`` bounds growth on unbounded streams (evicting a
    fingerprint forgets overlaps against docs idle longer than the
    timeout — the same horizon trade-off ``stream_dedup_exact``
    documents for its watermark).
    """
    from ..pipeline.text import winnow_fingerprints

    fps = winnow_fingerprints(
        stream_docs.select(F.col(id_col).alias("doc_id"), text_col),
        text_col,
        k,
        window,
        spread=False,  # keep the stream plan exchange-free (stateless Generates only)
    )

    return _first_arrival(fps, ["fp"], "fp", "overlap_with", idle_timeout)


def stream_dedup_exact(
    stream_df: DataFrame,
    keys: Sequence[str] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exact deduplication with BOUNDED state.

    ``dropDuplicatesWithinWatermark`` keeps a key only until the
    watermark passes its event time, then evicts it — so state is
    O(keys per watermark window), not O(all keys ever seen) as with
    plain ``dropDuplicates`` on an unbounded stream. Duplicates that
    arrive further apart than the watermark are NOT caught (documented
    trade-off; widen the watermark to widen the dedup horizon — the
    batch ``exact_duplicates`` pass is the full-history ground truth).
    """
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_heavy_hitters(
    stream_items: DataFrame,
    item_col: str = "item",
    k: int = 64,
    n_buckets: int = 8,
) -> DataFrame:
    """Bounded-state streaming frequency tracking — the streaming twin
    of :func:`tsod_spark.pipeline.frequent.heavy_hitters`' candidate
    pass, for firehoses whose distinct-item space cannot live in a
    stateful ``groupBy(item).count()`` (every distinct n-gram ever
    seen would be a state row).

    Items route to ``n_buckets`` deterministic hash buckets
    (``pmod(xxhash64(item), B)``); each bucket key folds its batch
    counts into ONE Misra-Gries summary of at most ``k`` counters held
    in grouped state (:func:`tsod_spark.pipeline.frequent.mg_fold` —
    the same pure kernel the batch pass runs, so the MG bound is
    shared, not re-derived).  Hard global state bound: ``B * k``
    counters, regardless of stream length or vocabulary.

    Because routing is deterministic, an item's ENTIRE history lands
    in one bucket, so the per-bucket MG guarantee applies to its full
    stream-lifetime count: any item with true count >
    ``bucket_rows / (k + 1)`` is guaranteed present in that bucket's
    summary, with ``mg_count`` a lower bound within
    ``bucket_rows / (k + 1)`` of exact.  Each batch emits the
    bucket's refreshed summary (update mode) with ``bucket_rows`` so
    downstream can apply the threshold; confirm candidates exactly
    with the batch pass 2 (broadcast semi-join re-count) — the same
    two-phase contract as the batch operator.
    """
    from ..pipeline.frequent import mg_fold

    routed = stream_items.select(
        F.col(item_col).alias("item"),
        F.pmod(F.xxhash64(F.col(item_col)), F.lit(n_buckets)).alias("bucket"),
    ).where(F.col("item").isNotNull())

    out_schema = StructType(
        [
            StructField("bucket", LongType()),
            StructField("item", StringType()),
            StructField("mg_count", LongType()),
            StructField("bucket_rows", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("items", ArrayType(StringType())),
            StructField("counts", ArrayType(LongType())),
            StructField("rows", LongType()),
        ]
    )

    def process(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            items, counts, rows = state.get
            cnt = dict(zip(list(items), [int(c) for c in counts]))
            rows = int(rows)
        else:
            cnt, rows = {}, 0
        for pdf in pdfs:
            col = pdf["item"].dropna()
            rows += len(col)
            cnt = mg_fold(cnt, col.value_counts().to_dict(), k)
        state.update((list(cnt.keys()), [int(v) for v in cnt.values()], rows))
        if cnt:
            out = sorted(cnt.items(), key=lambda t: (-t[1], t[0]))
            yield pd.DataFrame(
                {
                    "bucket": int(key[0]),
                    "item": [it for it, _ in out],
                    "mg_count": [c for _, c in out],
                    "bucket_rows": rows,
                }
            )

    return routed.groupBy("bucket").applyInPandasWithState(
        process,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_containment_screen(
    stream_docs: DataFrame,
    corpus_index: DataFrame,
    thr_pct: int = 80,
    text_col: str = "text",
    block_col: str = "source",
    shingle_n: int = 1,
) -> DataFrame:
    """Streaming one-sided containment screen — the streaming twin of
    :func:`tsod_spark.pipeline.dedup.containment_screen_new_docs`
    (VERDICT r9 missing #4): each arriving document's distinct grams
    stream-static join the frozen corpus inverted index
    (:func:`~tsod_spark.pipeline.dedup.containment_index` — pass it
    CACHED or persisted; Structured Streaming re-reads the static side
    every micro-batch), and an update-mode aggregation counts
    intersection elements per (doc, corpus match), emitting
    ``(doc_id, match_id, shared_grams, containment)`` rows once the
    int64-exact threshold ``100*inter >= pct*|B|`` holds.

    Batch equivalence: a document that arrives WHOLE inside one
    micro-batch produces its final row that trigger, byte-identical to
    the batch twin (tested across micro-batch boundaries). A document
    split across triggers upgrades monotonically — update mode
    re-emits (doc, match) with the growing count, and the
    last emission equals the batch row (take the max ``shared_grams``
    per key downstream).

    State: one int64 count per candidate (doc, match) pair that shares
    at least one gram — the aggregation state of the update-mode
    groupBy, bounded by the screen's own output-sensitivity (a doc
    only pairs with corpus docs it actually intersects). On unbounded
    streams add an upstream watermark + drop emitted docs downstream;
    the honest horizon trade is the one stream_dedup_exact documents.

    All stream-side work before the aggregation is stateless Column
    algebra (tokenize -> distinct grams -> xxhash64 -> explode), so
    the plan streams unchanged from the batch twin's probe leg.
    """
    from ..pipeline.text import shingles, tokens

    pct = int(thr_pct)
    if not 0 < pct <= 100:
        raise ValueError("thr_pct must be in (0, 100]")
    grams = (
        (lambda t: shingles(t, shingle_n))
        if shingle_n > 1
        else (lambda t: F.array_distinct(t))
    )
    btok = stream_docs.select(
        "doc_id",
        F.col(block_col).alias("blk"),
        F.transform(
            grams(tokens(F.col(text_col))), lambda x: F.xxhash64(x)
        ).alias("__gh"),
    ).withColumn("__nb", F.size("__gh").cast("long"))
    bg = btok.select("doc_id", "blk", "__nb", F.explode("__gh").alias("gh"))
    hits = bg.join(corpus_index, ["blk", "gh"])
    out = (
        hits.groupBy("doc_id", "match_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("shared_grams"),
            F.first("__nb").alias("__nb"),
        )
        .where(F.lit(100) * F.col("shared_grams") >= F.lit(pct) * F.col("__nb"))
    )
    cont = F.round(
        F.col("shared_grams").cast("double") / F.col("__nb").cast("double"), 6
    )
    return out.select(
        "doc_id", "match_id", "shared_grams", cont.alias("containment")
    )


def stream_pack_sequences(
    stream_docs: DataFrame,
    budget: int = 256,
    text_col: str = "text",
    part_col: str = "source",
    idle_timeout: str | None = None,
) -> DataFrame:
    """Streaming greedy sequence packing — the twin of
    :func:`tsod_spark.pipeline.curate.pack_sequences` for a continuous
    ingest pipeline that assigns every arriving document its training
    sequence id/offset at ingest time instead of re-packing the corpus
    per snapshot.

    State per partition key is ONE int64 (the cumulative token count)
    — the smallest state of any twin in the repo — because greedy
    in-order packing is a running sum: a doc's placement depends only
    on the tokens before it. Rows within a micro-batch are processed
    in ``doc_id`` order per partition; the batch-equivalence contract
    is the batch operator's own ordering contract (docs packed in
    doc_id order per ``part_col``), so a stream delivering docs in
    that order emits byte-identical rows across any micro-batch
    split (tested). Out-of-order arrivals get the NEXT offsets — in a
    real ingest that IS the pack order (arrival order), and doc_id
    order is just the replayable convention the fixtures use.

    Tokenization is the stateless Column expression of the batch twin,
    computed BEFORE the stateful operator so the state kernel only
    sees (doc_id, n_tokens).
    """
    from ..pipeline.text import tokens

    slim = stream_docs.select(
        F.col(part_col).alias("part"),
        "doc_id",
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )

    def fold(key, new, st):
        cum = int(st[0])
        rows = []
        for doc_id, nt in zip(
            new["doc_id"].astype("int64"), new["n_tokens"].astype("int64")
        ):
            nt = int(nt)
            seq_id, offset = cum // budget, cum % budget
            end_seq = (cum + nt - 1) // budget if nt > 0 else seq_id
            rows.append(
                {
                    "doc_id": int(doc_id),
                    "part": key[0],
                    "n_tokens": nt,
                    "seq_id": seq_id,
                    "seq_offset": offset,
                    "straddles_boundary": bool(nt > 0 and end_seq > seq_id),
                }
            )
            cum += nt
        return (cum,), rows

    return keyed_fold(
        slim,
        ["part"],
        [StructField("cum", LongType())],
        [
            StructField("doc_id", LongType()),
            StructField("part", StringType()),
            StructField("n_tokens", LongType()),
            StructField("seq_id", LongType()),
            StructField("seq_offset", LongType()),
            StructField("straddles_boundary", BooleanType()),
        ],
        fold,
        init=(0,),
        order="doc_id",
        idle_timeout=idle_timeout,
        emit_keys=False,
    )


def stream_ivfpq_encode(
    stream_df: DataFrame,
    centroids: "list[list[float]]",
    codebooks: "list[list[list[float]]]",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Streaming IVF+PQ ingest — the continuous twin of the fused
    batch index build (``similarity.ivfpq_index_build``'s encode
    pass): vectors arriving on a stream are assigned their coarse cell
    and PQ codes against a FROZEN index (centroids + codebooks trained
    by the batch build), ready for an append to the cell-partitioned
    codes store. This is the production shape of a growing 100 TB
    embedding index: train rarely, encode continuously; re-training is
    a batch job that swaps the index metadata.

    STATELESS by construction — assignment is a pure per-row function
    of the broadcast index metadata, so the operator carries no state
    store, no watermark, no output-mode constraint, and its emissions
    are bit-identical to running the batch kernel over the same rows
    (the differential test feeds the same vectors through both).
    Deliberately parameterized like the drift monitors: an encoder
    that re-trained its codebooks from the stream would silently
    shift every stored code's meaning.
    """
    cents = np.asarray(centroids)
    bks = np.asarray(codebooks)
    m, _, dsub = bks.shape

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            # subtraction d2 form — same arithmetic as the batch
            # ivfpq_index_build kernel (ADVICE r12: the matmul
            # expansion rounds differently and can flip
            # near-equidistant cells)
            cd2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            cell = cd2.argmin(axis=1).astype(np.int32)
            codes = np.empty((len(X), m), dtype=np.int32)
            dist = np.zeros(len(X), dtype=np.float64)
            for j in range(m):
                S = X[:, j * dsub : (j + 1) * dsub]
                d2 = ((S[:, None, :] - bks[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
                dist += d2.min(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cell": cell,
                    "codes": list(codes),
                    "distortion": dist,
                }
            )

    return stream_df.select(id_col, vec_col).mapInPandas(
        kernel,
        f"{id_col} long, cell int, codes array<int>, distortion double",
    )


def stream_governance_rollup(
    stream_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    k: int = 8,
    bands: int = 4,
    min_est_jaccard: float = 0.5,
    max_bucket_occupants: int | None = None,
) -> DataFrame:
    """Continuous governance deltas — the streaming twin of the batch
    :func:`tsod_spark.pipeline.dedup.governance_rollup` over
    :func:`~tsod_spark.pipeline.dedup.governance_flags` (VERDICT r12
    #6): per source, cumulative docs seen / exact dups / near-only
    dups / accepted / dup rate, updated every micro-batch as documents
    arrive and are screened against the PERSISTED LSH corpus index
    (:func:`~tsod_spark.pipeline.dedup.build_corpus_index` — pass it
    cached or persisted; Structured Streaming re-reads the static side
    every micro-batch).

    The whole stream side is stateless per-row algebra (rowwise
    MinHash, md5, band keys) plus row-preserving stream-static left
    joins (distinct hash set; per-band pre-grouped occupant arrays),
    so the ONE stateful operator is the final update-mode per-source
    aggregation — the Structured Streaming single-stateful-agg shape
    every rollup twin here uses. Batch equivalence: after all files
    are consumed, the last emission per source equals the batch
    rollup on the same frame field-for-field (tested across
    micro-batch boundaries).

    Production loop: accepted docs append their own index rows between
    ticks (``build_corpus_index(accepted)`` + append), so the frozen
    index this query joins is the previous tick's corpus — the same
    contract as :func:`stream_containment_screen`.
    """
    from ..pipeline.dedup import governance_flags, governance_rollup

    flags = governance_flags(
        stream_docs,
        index,
        text_col=text_col,
        k=k,
        bands=bands,
        min_est_jaccard=min_est_jaccard,
        max_bucket_occupants=max_bucket_occupants,
    )
    return governance_rollup(flags, group_col)


def stream_ivfpq_search(
    stream_queries: DataFrame,
    codes: DataFrame,
    meta: dict,
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "query_id",
) -> DataFrame:
    """Continuous ANN SERVING — the query-stream twin of
    :func:`tsod_spark.pipeline.similarity.ivfpq_persisted_topk`,
    completing the persisted-index triangle: batch build
    (``ivfpq_index_write``), continuous ingest
    (:func:`stream_ivfpq_encode`), and now continuous search. Query
    vectors arrive on a stream; each is routed to its ``n_probe``
    nearest cells against the FROZEN index metadata and served from
    the stored codes table, emitting the ADC top-k per query
    (``query_id, vec_id, adc_d2, rank``).

    Stage shapes (one stateful operator, everything else stateless):

    1. probe routing — pure Column algebra over the broadcast centroid
       literals (same d2 arithmetic as ``ivf_assign_expr``; ties to
       the lowest cell id like ``_nearest_cells``), top-n_probe via
       array_sort on (d2, cell) structs, then explode: n_probe rows
       per query;
    2. candidate fetch — stream-static equi-join against the codes
       table on ``cell`` (pass it CACHED, or the cell-partitioned
       parquet — partition pruning cannot apply to a stream-side key,
       so the static side should be the slim codes projection, never
       the float vectors);
    3. ADC scoring — stateless Arrow ``mapInPandas``: per batch, one
       distance table per DISTINCT query vector (n_probe rows per
       query share it), then a gather-sum per candidate;
    4. per-query top-k — ``applyInPandasWithState`` keyed by query id
       holding the running top-k (O(k) state per query), re-emitting a
       query's current top-k whenever new candidates arrive (update
       mode), with the batch twin's exact (round(adc,6), vec_id) tie
       order.

    The emission is the ADC SHORTLIST (refine=0 semantics): the exact
    float re-rank is a downstream batch join against the vector store
    — at 100 TB the serving tier holds codes, not floats, and the
    refine is paid only for displayed results. Batch equivalence vs
    ``_adc_topk(..., refine=0)`` is tested per query across
    micro-batch boundaries.
    """
    n_cells = int(meta["n_cells"])
    centroids = meta["centroids"]
    bks = np.asarray(meta["codebooks"])
    m, _, dsub = bks.shape

    # --- 1. probe routing (stateless Column algebra) ---
    cents = lit_double_array2d(centroids)
    v = F.col(vec_col)
    d2s = F.transform(
        cents,
        lambda c: F.aggregate(
            F.zip_with(
                v, c, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    ranked = F.array_sort(
        F.zip_with(
            d2s,
            F.sequence(F.lit(0), F.lit(n_cells - 1)),
            lambda d, i: F.struct(d.alias("d"), i.alias("i")),
        )
    )
    probe = F.transform(F.slice(ranked, 1, n_probe), lambda s: s["i"])
    routed = stream_queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__q"),
        F.explode(probe).alias("cell"),
    )

    # --- 2. candidate fetch (stream-static join, slim static side) ---
    cand = routed.join(
        codes.select("cell", "vec_id", "codes"), "cell"
    ).select("query_id", "__q", "vec_id", "codes")

    # --- 3. ADC scoring (stateless Arrow kernel) ---
    def adc_kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_adc = np.empty(len(pdf), dtype=np.float64)
            C = np.asarray(
                [np.asarray(c, dtype=np.int64) for c in pdf["codes"]]
            )
            qkeys = pdf["query_id"].to_numpy()
            for qid in pd.unique(qkeys):
                sel = qkeys == qid
                q = np.asarray(
                    pdf["__q"][sel].iloc[0], dtype=np.float64
                )
                # per-subspace table, SAME subtraction/sum shape as
                # the batch _adc_topk driver-side table
                dt = np.asarray(
                    [
                        ((q[j * dsub : (j + 1) * dsub] - bks[j]) ** 2).sum(
                            axis=1
                        )
                        for j in range(m)
                    ]
                )
                Cs = C[sel]
                acc = np.zeros(Cs.shape[0], dtype=np.float64)
                for j in range(m):
                    acc += dt[j][Cs[:, j]]
                out_adc[sel] = acc
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "vec_id": pdf["vec_id"],
                    "adc_d2": out_adc,
                }
            )

    # rounding happens JVM-side with F.round so the stream's 6-decimal
    # boundary behavior is BIT-identical to the batch _adc_topk chain
    # (np.round is half-even on binary doubles; F.round is HALF_UP on
    # the shortest decimal repr — the repo-wide gotcha)
    scored = cand.mapInPandas(
        adc_kernel, "query_id long, vec_id long, adc_d2 double"
    ).select("query_id", "vec_id", F.round("adc_d2", 6).alias("adc_d2"))

    # --- 4. per-query running top-k (the one stateful operator) ---

    def fold(key, new, st):
        pairs = list(zip(new["adc_d2"].astype(float), new["vec_id"].astype(int)))
        pairs.extend(zip(*st))
        # dedup by vec_id keeping the best adc: a replayed/duplicated
        # source file re-sends a query_id's candidates, and without
        # this the same vec_id would occupy multiple top-k slots
        # (ADVICE r13). min-by-(adc, vec_id) is idempotent under
        # replay, preserving the batch tie order.
        best: dict = {}
        for adc, vid in pairs:
            if vid not in best or adc < best[vid]:
                best[vid] = adc
        top = sorted((adc, vid) for vid, adc in best.items())[:k]
        return ([p[0] for p in top], [p[1] for p in top]), {
            "vec_id": [p[1] for p in top],
            "adc_d2": [p[0] for p in top],
            "rank": range(1, len(top) + 1),
        }

    return keyed_fold(
        scored,
        ["query_id"],
        [
            StructField("adcs", ArrayType(DoubleType())),
            StructField("ids", ArrayType(LongType())),
        ],
        [
            StructField("vec_id", LongType()),
            StructField("adc_d2", DoubleType()),
            StructField("rank", LongType()),
        ],
        fold,
        init=((), ()),
    )


def stream_hamming_screen(
    stream_fps: DataFrame,
    chunk_index: DataFrame,
    id_col: str = "asset_id",
    fp_col: str = "fingerprint",
    bits: int = 64,
    max_hamming: int = 3,
) -> DataFrame:
    """Streaming perceptual-hash near-dup screen — the incremental
    twin of :func:`tsod_spark.pipeline.dedup.hamming_near_pairs`, in
    the "is this new asset a near-dup of the corpus?" shape every
    other incremental-dedup operator here uses: fingerprints arriving
    on a stream (image dHash, audio energy hashes — any int64
    fingerprint) split into their pigeonhole chunks and stream-static
    equi-join the FROZEN corpus chunk index
    (:func:`~tsod_spark.pipeline.dedup.hamming_chunk_index` — pass it
    cached or persisted; Structured Streaming re-reads the static
    side every micro-batch), with ``bit_count(xor)`` verifying the
    exact radius. Full recall at the advertised radius by pigeonhole
    — same provable contract as the batch engine, unlike the
    probabilistic MinHash band screens.

    Everything stream-side before the final aggregation is stateless
    Column algebra (chunk split -> equi-join -> xor verify), so the
    ONE stateful operator is the update-mode ``min(hamming)`` per
    (asset, match) — deduplicating multi-chunk hits exactly like the
    batch ``.distinct()``, with state bounded by the screen's own
    output sensitivity (an asset only pairs with corpus entries it
    actually collides with). Emits ``(asset_id, match_id, hamming)``;
    batch equivalence across micro-batch boundaries is tested in
    tests/test_round14.py. Self-matches (an asset re-screened against
    its own corpus row) are dropped by the ``asset_id != match_id``
    guard, so a corpus member can re-arrive idempotently.

    Production loop: accepted new assets append their own chunk rows
    between ticks (``hamming_chunk_index(new)`` + append) — the
    frozen index this screen joins is the previous tick's corpus,
    the same contract as ``stream_containment_screen``.
    """
    from ..pipeline.dedup import _hamming_chunks

    probe = _hamming_chunks(
        stream_fps, id_col, fp_col, bits, max_hamming
    )
    hits = probe.join(chunk_index, ["c", "v"]).where(
        F.col("__id") != F.col("match_id")
    )
    ham = F.bit_count(
        F.col("__fp").bitwiseXOR(F.col("match_fp"))
    ).cast("long")
    return (
        hits.select(
            F.col("__id").alias(id_col), "match_id", ham.alias("hamming")
        )
        .where(F.col("hamming") <= max_hamming)
        .groupBy(id_col, "match_id")
        .agg(F.min("hamming").alias("hamming"))
    )
