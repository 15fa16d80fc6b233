"""Each detector computation runs once: the Hampel plan sorts each
window array once, and a CombinedDetector fits, saves, loads and joins
its plain-aggregate leaves' params as one frame, while the earlier
one-sidecar-per-leaf files still load."""

import itertools
import json
import math
import re

import pytest
from pyspark.sql import functions as F

from tsod_spark import (
    CombinedDetector,
    DiffDetector,
    GradientDetector,
    HampelDetector,
    RangeDetector,
    RollingStandardDeviationDetector,
    TimeSeriesFrame,
    load,
    save,
)
from tsod_spark.persistence import to_dict

_groups = itertools.count()


def _series_frame(spark, keyed=True):
    rows = []
    for s in range(3):
        for i in range(40):
            v = math.sin(i / 3.0) * (s + 1) + (25.0 if i % 13 == 7 else 0.0)
            rows.append((s, i, v))
    df = spark.createDataFrame(rows, "series int, minute int, value double").select(
        "series", F.timestamp_seconds(F.col("minute") * 60).alias("ts"), "value"
    )
    return TimeSeriesFrame(df, series=["series"] if keyed else [])


def _three_leaves():
    return CombinedDetector(
        [
            RangeDetector(quantiles=[0.05, 0.95]),
            DiffDetector(),
            RollingStandardDeviationDetector(10),
        ]
    )


def _flags(det, tsf):
    cols = [*tsf.series, "ts", "is_anomaly"]
    return sorted(tuple(r) for r in det.detect(tsf).select(*cols).collect())


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, job count)."""
    sc = spark.sparkContext
    group = f"fusion-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_hampel_plan_sorts_each_window_once(spark):
    out = HampelDetector(5, 3).detect(_series_frame(spark))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    sorts = re.findall(r"\b(?:sort_array|array_sort)\(", plan)
    assert len(sorts) == 2, plan
    assert len(re.findall(r"\brow_number\(\)", plan)) == 1, plan


@pytest.mark.parametrize("keyed", [True, False])
def test_fused_fit_matches_per_leaf_fits(spark, keyed):
    tsf = _series_frame(spark, keyed)
    fused = _three_leaves().fit(tsf)
    alone = CombinedDetector([leaf.fit(tsf) for leaf in _three_leaves()])
    if keyed:
        frames = {id(leaf._params_df) for leaf in fused}
        assert len(frames) == 1 and None not in {leaf._params_df for leaf in fused}
    else:
        for a, b in zip(fused, alone):
            assert a._params == b._params
        assert fused[0]._min == alone[0]._min and fused[0]._max == alone[0]._max
    assert _flags(fused, tsf) == _flags(alone, tsf)
    assert any(r[-1] for r in _flags(fused, tsf))


def test_nested_and_mixed_leaves_fit_together(spark):
    """Leaves under a nested CombinedDetector join the fused fit; a
    leaf with nothing to fit (Hampel) keeps its own no-op path."""
    tsf = _series_frame(spark)
    det = CombinedDetector(
        [RangeDetector(quantiles=[0.1, 0.9]), CombinedDetector([GradientDetector(), HampelDetector(5, 3)])]
    ).fit(tsf)
    rng, grad, hampel = det.leaves()
    assert rng._params_df is grad._params_df and hampel._params_df is None
    alone = CombinedDetector(
        [RangeDetector(quantiles=[0.1, 0.9]).fit(tsf), GradientDetector().fit(tsf), HampelDetector(5, 3)]
    )
    assert _flags(det, tsf) == _flags(alone, tsf)


def test_fused_fit_save_load_job_counts(spark, tmp_path):
    tsf = _series_frame(spark)
    p = tmp_path / "model.json"

    def fit_save():
        save(_three_leaves().fit(tsf), p)

    _, n = _jobs(spark, fit_save)
    assert n == 2  # the params aggregation's shuffle + the one sidecar write
    loaded, n = _jobs(spark, lambda: load(p, spark))
    assert n == 1  # one sidecar schema read
    assert len({id(leaf._params_df) for leaf in loaded}) == 1
    assert len(json.loads(p.read_text())["sidecars"]) == 1

    # Without a series key all three leaves share one .first(): the
    # same jobs as one leaf's fit (under AQE the single-partition
    # exchange's map stage is a job of its own, then the result).
    unkeyed = _series_frame(spark, keyed=False)
    _, one = _jobs(spark, lambda: RangeDetector().fit(unkeyed))
    _, n = _jobs(spark, lambda: _three_leaves().fit(unkeyed))
    assert n == one == 2


def test_fused_sidecar_roundtrip_detects_like_fitted(spark, tmp_path):
    tsf = _series_frame(spark)
    fitted = _three_leaves().fit(tsf)
    p = tmp_path / "model.json"
    save(fitted, p)
    assert _flags(load(p, spark), tsf) == _flags(fitted, tsf)


def test_per_leaf_sidecar_layout_still_loads(spark, tmp_path):
    """The earlier layout: one parquet sidecar per fitted leaf at
    ``{path}.params/{i}`` with unprefixed columns and ``param_cols``."""
    tsf = _series_frame(spark)
    fitted = _three_leaves().fit(tsf)
    alone = [leaf.fit(tsf) for leaf in _three_leaves()]
    p = tmp_path / "old.json"
    doc = {"spec": to_dict(CombinedDetector(alone)), "sidecars": []}
    for i, leaf in enumerate(alone):
        prefix = f"__{leaf._uid}_"
        params = [c for c in leaf._params_df.columns if c.startswith(prefix)]
        pdf = leaf._params_df.withColumnsRenamed({c: c[len(prefix):] for c in params})
        sidecar = f"{p}.params/{i}"
        pdf.coalesce(1).write.mode("overwrite").parquet(sidecar)
        doc["sidecars"].append(
            {"leaf": i, "path": sidecar, "param_cols": sorted(c[len(prefix):] for c in params)}
        )
    p.write_text(json.dumps(doc, indent=2))

    loaded = load(p, spark)
    assert all(leaf._params_df is not None for leaf in loaded)
    assert _flags(loaded, tsf) == _flags(fitted, tsf)
