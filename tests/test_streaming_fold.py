"""The keyed-fold skeleton behind every stateful streaming operator,
driven in-process: ``GroupState`` is built directly, so eviction,
the late-row cursor and the emitted layout are checked without a
stream (the end-to-end twins live in tests/test_streaming.py)."""

import ast
import pathlib
import random

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from tsod_spark.streaming._fold import duration_ms, keyed_fold
from tsod_spark.streaming.kernels import cents, cents_array

T0 = pd.Timestamp("2024-01-01 00:00:00")
T0_US = T0.value // 1000
NOW_MS = 1_000_000


class _Stub:
    """Stands in for a DataFrame: records the applyInPandasWithState call."""

    def __init__(self, *fields):
        self.schema = {f.name: f for f in fields}

    def groupBy(self, *keys):
        self.keys = keys
        return self

    def applyInPandasWithState(self, func, **kw):
        self.func, self.kw = func, kw
        return self


def _state(value=None, timeout=GroupStateTimeout.ProcessingTimeTimeout, timed_out=False):
    return GroupState(
        optionalValue=None if value is None else Row(*value),
        batchProcessingTimeMs=NOW_MS,
        eventTimeWatermarkMs=GroupState.NO_TIMESTAMP,
        timeoutConf=timeout,
        hasTimedOut=timed_out,
        watermarkPresent=False,
        defined=value is not None,
        updated=False,
        removed=False,
        timeoutTimestamp=GroupState.NO_TIMESTAMP,
        keyAsUnsafe=b"",
        valueSchema=StructType(),
    )


def _counting_op(idle_timeout="1 hour", cursor=("ts", "event_id")):
    """A fold that counts rows and emits the event ids it saw."""
    seen = []

    def fold(key, new, st):
        seen.append(new["event_id"].tolist())
        return (st[0] + len(new),), {"event_id": new["event_id"].to_numpy()}

    op = keyed_fold(
        _Stub(
            StructField("user_id", LongType()),
            StructField("ts", StringType()),
            StructField("event_id", LongType()),
        ),
        ["user_id"],
        [StructField("n", LongType())],
        [StructField("event_id", LongType())],
        fold,
        init=(0,),
        order=["ts", "event_id"],
        cursor=cursor,
        idle_timeout=idle_timeout,
    )
    return op, seen


def _rows(*pairs):
    """(minutes after T0, event_id) pairs as one Arrow chunk."""
    return pd.DataFrame(
        {
            "user_id": [7] * len(pairs),
            "ts": [T0 + pd.Timedelta(minutes=m) for m, _ in pairs],
            "event_id": [e for _, e in pairs],
        }
    )


def test_timed_out_key_removes_state_and_emits_nothing():
    op, seen = _counting_op()
    state = _state((3, T0_US, 5), timed_out=True)
    assert list(op.func((7,), iter([]), state)) == []
    assert not state.exists and state._removed
    assert seen == []


def test_wholly_late_batch_refreshes_timeout_and_keeps_state():
    op, seen = _counting_op()
    state = _state((3, T0_US, 5))
    out = list(op.func((7,), iter([_rows((0, 5), (-10, 9), (0, 2))]), state))
    assert out == [] and seen == []
    assert state.get == (3, T0_US, 5) and not state._updated
    assert state._timeout_timestamp == NOW_MS + 3_600_000


def test_cursor_tiebreak_at_same_ts():
    op, seen = _counting_op()
    state = _state((3, T0_US, 5))
    # same ts: tiebreak 4 and 5 are at/behind the cursor, 6 is after it
    (out,) = op.func((7,), iter([_rows((0, 6), (0, 4)), _rows((0, 5))]), state)
    assert seen == [[6]]
    assert out["event_id"].tolist() == [6]
    assert state.get == (4, T0_US, 6)


def test_cursor_advances_to_last_row_in_order():
    op, seen = _counting_op()
    state = _state()  # first call for the key: init, no cursor yet
    (out,) = op.func((7,), iter([_rows((2, 1), (1, 9)), _rows((2, 0))]), state)
    assert seen == [[9, 0, 1]]  # (ts, event_id) mergesort order
    assert state.get == (3, T0_US + 120_000_000, 1)


def test_key_columns_come_first():
    op, _ = _counting_op()
    (out,) = op.func((7,), iter([_rows((1, 1), (2, 2))]), _state())
    assert list(out.columns) == ["user_id", "event_id"]
    assert out["user_id"].tolist() == [7, 7]
    assert [f.name for f in op.kw["outputStructType"].fields] == ["user_id", "event_id"]
    assert [f.name for f in op.kw["stateStructType"].fields] == ["n", "cur_ts", "cur_tb"]


def test_row_list_output_and_emit_keys_off():
    def fold(key, new, st):
        return None, [{"k": key[0], "x": float(len(new))}]

    op = keyed_fold(
        _Stub(StructField("k", StringType())),
        ["k"],
        [StructField("s", LongType())],
        [StructField("k", StringType()), StructField("x", DoubleType())],
        fold,
        init=(0,),
        emit_keys=False,
    )
    state = _state(timeout=GroupStateTimeout.NoTimeout)
    (out,) = op.func(("a",), iter([pd.DataFrame({"k": ["a", "a"]})]), state)
    assert out.to_dict("records") == [{"k": "a", "x": 2.0}]
    assert not state.exists  # new_state=None keeps (here: no) state
    assert [f.name for f in op.kw["outputStructType"].fields] == ["k", "x"]


def test_no_idle_timeout_means_no_timeout():
    op, _ = _counting_op(idle_timeout=None)
    assert op.kw["timeoutConf"] == GroupStateTimeout.NoTimeout
    assert op.kw["outputMode"] == "update"
    # under NoTimeout a refresh would raise; the skeleton never tries
    state = _state(timeout=GroupStateTimeout.NoTimeout)
    assert len(list(op.func((7,), iter([_rows((1, 1))]), state))) == 1
    assert state._timeout_timestamp == GroupState.NO_TIMESTAMP
    assert _counting_op()[0].kw["timeoutConf"] == GroupStateTimeout.ProcessingTimeTimeout


def test_skipped_key_writes_nothing():
    op = keyed_fold(
        _Stub(StructField("k", StringType())),
        ["k"],
        [StructField("s", LongType())],
        [],
        lambda key, new, st: None,
        init=(0,),
        idle_timeout=60_000,
    )
    state = _state()
    assert list(op.func(("a",), iter([pd.DataFrame({"k": ["a"]})]), state)) == []
    assert not state.exists and state._timeout_timestamp == GroupState.NO_TIMESTAMP


def test_idle_timeout_string_runs_end_to_end(spark, tmp_path):
    """A duration string is what the operators document; pyspark's
    GroupState only takes milliseconds, so the skeleton converts it."""
    from tsod_spark.streaming import stream_cusum

    schema = "event_id long, user_id long, ts timestamp, value double"
    for i in range(2):
        pdf = pd.DataFrame(
            {
                "event_id": [10 * i + 1, 10 * i + 2],
                "user_id": [1, 2],
                "ts": [T0 + pd.Timedelta(hours=i)] * 2,
                "value": [1.0, 2.0],
            }
        )
        spark.createDataFrame(pdf, schema).coalesce(1).write.parquet(f"{tmp_path}/b{i}")
    got = {}
    for timeout in (None, "1 hour"):
        src = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(
            f"{tmp_path}/b*"
        )
        name = f"t_idle_{timeout is None}"
        q = (
            stream_cusum(src, idle_timeout=timeout)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None
        got[timeout] = sorted(tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect())
    assert len(got[None]) == 4 and got["1 hour"] == got[None]


@pytest.mark.parametrize(
    "text, ms",
    [("1 hour", 3_600_000), ("30 minutes", 1_800_000), ("2 days 1 second", 172_801_000)],
)
def test_idle_timeout_durations(text, ms):
    assert duration_ms(text) == ms
    assert duration_ms(ms) == ms


def test_idle_timeout_rejects_unknown_units():
    with pytest.raises(ValueError):
        duration_ms("3 fortnights")


def test_cent_quantizer_scalar_and_vector_forms_agree():
    rng = random.Random(20240101)
    vals = [0.0, -0.0, 0.005, -0.005, 0.125, -0.125, 0.375, -1.625, 2.5, -2.5]
    vals += [rng.randint(-10**6, 10**6) / 8 for _ in range(500)]  # exact halves
    vals += [rng.uniform(-1e4, 1e4) for _ in range(500)]
    vec = cents_array(np.asarray(vals)).astype("int64")
    for v, c in zip(vals, vec):
        # the truncating form int(x + 0.5) agrees on these inputs too
        twa = -int(-v * 100 + 0.5) if v < 0 else int(v * 100 + 0.5)
        assert cents(v) == int(c) == twa, v
    assert (cents(0.125), cents(-0.125), cents(-0.0)) == (13, -13, 0)
    assert np.isnan(cents_array(np.array([np.nan]))[0])


# Operators that call applyInPandasWithState themselves, with the reason
# the skeleton's concatenate-then-fold does not fit them.
_DIRECT_CALLS = {
    ("detect.py", "stream_heavy_hitters"): (
        "folds one Misra-Gries step per Arrow chunk; concatenating the "
        "chunks first can change the summary"
    ),
}


def test_only_the_skeleton_calls_apply_in_pandas_with_state():
    pkg = pathlib.Path(__file__).resolve().parents[1] / "tsod_spark"
    found = set()
    for path in pkg.rglob("*.py"):
        for top in ast.parse(path.read_text()).body:
            where = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if isinstance(node, ast.Attribute) and node.attr == "applyInPandasWithState":
                    found.add((path.relative_to(pkg).as_posix(), where))
    outside = {
        hit
        for hit in found
        if hit[0] != "streaming/_fold.py"
        and (hit[0].removeprefix("streaming/"), hit[1]) not in _DIRECT_CALLS
    }
    assert not outside, f"hand-rolled stateful operators; use keyed_fold: {outside}"
    assert ("streaming/_fold.py", "keyed_fold") in found
