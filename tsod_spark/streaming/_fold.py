"""One keyed-fold skeleton for every stateful streaming operator.

:func:`keyed_fold` wraps ``applyInPandasWithState``. An operator gives
it the state schema, an initial state, and a fold; the skeleton owns
the steps every operator shares:

- **Eviction.** With ``idle_timeout`` (a duration such as ``"1 hour"``,
  or milliseconds) the query runs under ``ProcessingTimeTimeout`` and
  every call that sees rows re-arms the key's timeout. A key that
  receives nothing for that long is called once with
  ``hasTimedOut``; its state is removed and nothing is emitted.
  Without ``idle_timeout`` the query runs under ``NoTimeout`` and
  per-key state lives forever, so key COUNT is unbounded on a
  churning stream.
- **Rows.** The group's Arrow chunks are concatenated; an empty
  group returns at once; otherwise rows are stably (mergesort)
  sorted by ``order``.
- **Late rows.** With ``cursor=(ts_col, tiebreak)`` the state ends
  in ``cur_ts`` (event time, micros) and ``cur_tb`` (tiebreak) of the
  last row folded. A row at or behind that cursor (``ts`` lower, or
  equal ``ts`` and an equal or lower tiebreak) would land before
  positions already emitted, so it is dropped. When a whole batch is
  late the timeout is re-armed and the state is left untouched.
  Bound disorder upstream with ``withWatermark``: late rows are the
  documented contract, not an error.
- **State and emit.** ``fold(key, rows, state)`` gets the stored state
  (or ``init``) without the cursor fields and returns
  ``(new_state, out)``. ``new_state=None`` keeps the stored state;
  ``out=None`` emits nothing. ``out`` is a dict of columns or a list
  of row dicts; the key columns are put first. A fold that returns
  ``None`` skips the key entirely: no state write, no timeout.

``transformWithStateInPandas`` is not the base: in pyspark 4.1.2 its
examples configure ``RocksDBStateStoreProvider``, and switching would
change the state store under every existing checkpoint. The state
partition count is ``spark.sql.shuffle.partitions`` when a query
first starts (the checkpoint freezes it); its policy, one partition
per core, lives in :func:`tsod_spark.conf.recommended_conf`, not
here: :func:`keyed_fold` only builds a DataFrame, Spark reads the
count when ``writeStream.start()`` first runs, and setting it from
here would mean a ``spark.conf.set`` on the caller's session that
leaks into every later batch query. The key count, which a policy
could also weigh, is unknown when the plan is built.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

_CURSOR_FIELDS = [StructField("cur_ts", LongType()), StructField("cur_tb", LongType())]
_UNIT_MS = {
    "millisecond": 1,
    "second": 1_000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
    "week": 604_800_000,
}


def micros(col: pd.Series) -> pd.Series:
    """Event times as int64 epoch microseconds."""
    return pd.to_datetime(col).astype("int64") // 1000


def after_cursor(new, ts_col, tiebreak, cur_ts, cur_tb):
    """``(rows, ts_micros, tiebreak)`` strictly after the cursor."""
    ts, tb = micros(new[ts_col]), new[tiebreak].astype("int64")
    if cur_ts is not None:
        ok = (ts > cur_ts) | ((ts == cur_ts) & (tb > cur_tb))
        if not ok.all():
            new, ts, tb = new[ok.to_numpy()], ts[ok], tb[ok]
    return new, ts, tb


def duration_ms(d: str | int | None) -> int | None:
    """``"1 hour"`` / ``"2 days 30 minutes"`` / milliseconds -> ms."""
    if d is None or isinstance(d, int):
        return d
    parts = d.lower().split()
    units = [_UNIT_MS.get(u[:-1] if u.endswith("s") else u) for u in parts[1::2]]
    if len(parts) % 2 or None in units:
        raise ValueError(f"idle_timeout {d!r} is not '<n> <unit>' (milliseconds .. weeks)")
    return sum(int(float(n) * u) for n, u in zip(parts[::2], units))


def keyed_fold(
    df,
    keys,
    state_fields,
    out_fields,
    fold,
    *,
    init,
    order=None,
    cursor=None,
    idle_timeout=None,
    output_mode="update",
    emit_keys=True,
):
    """``df.groupBy(*keys).applyInPandasWithState`` around ``fold``.

    The output schema is the key fields then ``out_fields``
    (``emit_keys=False``: ``out_fields`` alone, and the fold emits
    every column itself). With ``cursor`` the state schema is
    ``state_fields`` then ``cur_ts``/``cur_tb``.
    """
    keys = list(keys)
    timeout = duration_ms(idle_timeout)
    pad = (None, None) if cursor else ()

    def process(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        new = pd.concat(list(pdfs), ignore_index=True)
        if len(new) == 0:
            return
        if order is not None:
            new = new.sort_values(order, kind="mergesort")
        st = state.get if state.exists else (*init, *pad)
        if cursor:
            new, ts, tb = after_cursor(new, *cursor, *st[-2:])
            st = st[:-2]
        res = fold(key, new, st) if len(new) else (None, None)
        if res is None:
            return
        upd, out = res
        if upd is not None:
            state.update((*upd, int(ts.iloc[-1]), int(tb.iloc[-1])) if cursor else upd)
        if timeout is not None:
            state.setTimeoutDuration(timeout)
        if out is not None:
            kc = dict(zip(keys, key)) if emit_keys else {}
            yield pd.DataFrame(
                {**kc, **out} if isinstance(out, dict) else [{**kc, **r} for r in out]
            )

    head = [df.schema[k] for k in keys] if emit_keys else []
    return df.groupBy(*keys).applyInPandasWithState(
        process,
        outputStructType=StructType(head + list(out_fields)),
        stateStructType=StructType(list(state_fields) + (_CURSOR_FIELDS if cursor else [])),
        outputMode=output_mode,
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if idle_timeout is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
