"""Round-15 wave 10: one-round-trip literal arrays.

Pins bit-exact equivalence between the SQL-string literal helpers
(util.lit_double_array / lit_double_array2d / lit_int_array /
lit_map_int_double2d) and the per-element F.lit construction they
replace — the helpers must change ONLY driver-side construction cost,
never a single bit of any value that reaches a query result.
"""

import random
import struct

import pytest
from pyspark.sql import functions as F

from tsod_spark.util import (
    lit_double_array,
    lit_double_array2d,
    lit_int_array,
    lit_map_int_double2d,
)


def _pack(vals):
    return [struct.pack("<d", float(v)) for v in vals]


def _awkward_doubles(rng, n):
    """Doubles that stress shortest-repr round-tripping: tiny/huge
    exponents, negatives, -0.0, integral values, long mantissas."""
    out = []
    for _ in range(n):
        kind = rng.randrange(6)
        if kind == 0:
            out.append(rng.uniform(-1e3, 1e3))
        elif kind == 1:
            out.append(rng.uniform(-1, 1) * 10 ** rng.randrange(-300, 300))
        elif kind == 2:
            out.append(float(rng.randrange(-10**9, 10**9)))
        elif kind == 3:
            out.append(-0.0 if rng.random() < 0.5 else 0.0)
        elif kind == 4:
            # subnormal territory
            out.append(rng.uniform(-1, 1) * 1e-310)
        else:
            out.append(struct.unpack("<d", struct.pack("<Q", rng.getrandbits(63)))[0])
            if out[-1] != out[-1]:  # reroll NaN (finite path under test)
                out[-1] = 1.25
    return out


def test_lit_double_array_bit_exact(spark):
    rng = random.Random(151)
    vals = _awkward_doubles(rng, 64)
    row = spark.range(1).select(
        lit_double_array(vals).alias("a"),
        F.array(*[F.lit(float(v)) for v in vals]).alias("b"),
    ).first()
    assert _pack(row["a"]) == _pack(row["b"])
    # and both equal the driver-side source values bit-for-bit
    assert _pack(row["a"]) == _pack(vals)


def test_lit_double_array2d_bit_exact(spark):
    rng = random.Random(152)
    rows = [_awkward_doubles(rng, 16) for _ in range(16)]
    row = spark.range(1).select(
        lit_double_array2d(rows).alias("a"),
        F.array(
            *[F.array(*[F.lit(float(v)) for v in r]) for r in rows]
        ).alias("b"),
    ).first()
    flat_a = [v for r in row["a"] for v in r]
    flat_b = [v for r in row["b"] for v in r]
    assert _pack(flat_a) == _pack(flat_b)
    assert _pack(flat_a) == _pack([v for r in rows for v in r])


def test_lit_int_array_matches(spark):
    vals = [-(2**31), -7, 0, 3, 2**31 - 1]
    row = spark.range(1).select(
        lit_int_array(vals).alias("a"),
        F.array(*[F.lit(int(v)) for v in vals]).alias("b"),
    ).first()
    assert list(row["a"]) == list(row["b"]) == vals
    # dtype parity with the F.lit construction (int32, not long)
    df = spark.range(1).select(
        lit_int_array(vals).alias("a"),
        F.array(*[F.lit(int(v)) for v in vals]).alias("b"),
    )
    assert dict(df.dtypes)["a"] == dict(df.dtypes)["b"]


def test_lit_map_int_double2d_bit_exact(spark):
    rng = random.Random(153)
    items = [(c, [_awkward_doubles(rng, 8) for _ in range(8)]) for c in (2, 5, 11, 15)]
    legacy = []
    for c, rows in items:
        legacy.append(F.lit(int(c)))
        legacy.append(
            F.array(*[F.array(*[F.lit(float(v)) for v in r]) for r in rows])
        )
    row = spark.range(1).select(
        lit_map_int_double2d(items).alias("a"),
        F.create_map(*legacy).alias("b"),
    ).first()
    assert set(row["a"].keys()) == set(row["b"].keys())
    for c in row["a"]:
        fa = [v for r in row["a"][c] for v in r]
        fb = [v for r in row["b"][c] for v in r]
        assert _pack(fa) == _pack(fb)


def test_fallbacks_preserve_reference_path(spark):
    # non-finite and empty inputs route through the per-element path
    row = spark.range(1).select(
        lit_double_array([1.0, float("inf")]).alias("a"),
        lit_double_array2d([[float("nan")]]).alias("b"),
    ).first()
    assert row["a"][1] == float("inf")
    assert row["b"][0][0] != row["b"][0][0]
    assert spark.range(1).select(lit_int_array([2**40]).alias("c")).first()["c"] == [2**40]
    # a key with an empty table must not reach the SQL path (a bare
    # array() has no element type) — the per-element path handles it
    row = spark.range(1).select(
        lit_map_int_double2d([(1, [[1.5]]), (2, [])]).alias("m")
    ).first()
    assert list(row["m"][2]) == [] and row["m"][1][0][0] == 1.5


def test_lit_map_int_double2d_rejects_duplicate_keys():
    with pytest.raises(ValueError, match=r"duplicate map keys \[5\]"):
        lit_map_int_double2d([(5, [[1.0]]), (2, [[2.0]]), (5, [[3.0]])])
