"""Streaming-vs-batch equivalence: feed the events table through
Structured Streaming in multiple micro-batches and assert the emitted
flags equal the batch detector's output row-for-row."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tsod_spark import (
    CombinedDetector,
    ConstantGradientDetector,
    ConstantValueDetector,
    DiffDetector,
    GradientDetector,
    HampelDetector,
    RangeDetector,
    RollingStandardDeviationDetector,
)
from tsod_spark import registry
from tsod_spark.frame import TimeSeriesFrame
from tsod_spark.streaming import stream_detect, stream_detect_stateless

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_batches(spark):
    """events split into 4 time-ordered parquet files (= micro-batches)."""
    df = registry.table(spark, SF, "events")
    rows = df.orderBy("ts").collect()
    tmp = tempfile.mkdtemp(prefix="stream_src_")
    n = len(rows)
    chunk = (n + 3) // 4
    for i in range(4):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, df.schema).coalesce(1).write.parquet(
                f"{tmp}/batch_{i}", mode="overwrite"
            )
    yield tmp, df.schema
    shutil.rmtree(tmp, ignore_errors=True)


def run_stream(spark, events_batches, detector):
    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_detect(detector, src, series=["user_id"])
    qname = f"t_{id(detector)}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT user_id, ts, is_anomaly FROM {qname}").collect()


def batch_flags(spark, detector):
    df = registry.table(spark, SF, "events")
    tsf = TimeSeriesFrame(df, series=["user_id"], tiebreak=["event_id"])
    rows = detector.detect(tsf).select("user_id", "ts", "is_anomaly").collect()
    return {(r.user_id, r.ts): r.is_anomaly for r in rows}


@pytest.mark.parametrize(
    "detector",
    [
        DiffDetector(50.0),
        GradientDetector(0.005),
        RollingStandardDeviationDetector(10, 60.0),
        HampelDetector(5, 3),
        ConstantValueDetector(3, 5.0),
        ConstantGradientDetector(3),
    ],
    ids=["diff", "gradient", "rolling_std", "hampel", "constant_value", "constant_gradient"],
)
def test_stream_matches_batch(spark, events_batches, detector):
    got = run_stream(spark, events_batches, detector)
    assert len(got) > 0
    expected = batch_flags(spark, type(detector)(*_args(detector)))
    mismatches = [
        (r.user_id, r.ts, r.is_anomaly, expected[(r.user_id, r.ts)])
        for r in got
        if expected[(r.user_id, r.ts)] != r.is_anomaly
    ]
    assert not mismatches, f"{len(mismatches)} mismatches, first: {mismatches[:3]}"
    # emitted coverage: everything except each series' lookahead tail
    n_expected = len(expected)
    assert len(got) >= n_expected - 11 * 150  # 150 users, lookahead <= 11


def _args(det):
    if isinstance(det, DiffDetector):
        return (det._max_diff, det._direction)
    if isinstance(det, GradientDetector):
        return (det._max_gradient, det._direction)
    if isinstance(det, RollingStandardDeviationDetector):
        return (det._window_size, det._max_std, det._center)
    if isinstance(det, HampelDetector):
        return (det._window_size, det._threshold)
    if isinstance(det, ConstantGradientDetector):
        return (det._window_size,)
    if isinstance(det, ConstantValueDetector):
        return (det._window_size, det._threshold)
    raise AssertionError


def test_stream_combined_matches_batch(spark, events_batches):
    def make():
        return CombinedDetector(
            [RangeDetector(1.0, 300.0), DiffDetector(50.0), ConstantValueDetector(3, 5.0)]
        )

    got = run_stream(spark, events_batches, make())
    assert len(got) > 0
    expected = batch_flags(spark, make())
    mismatches = [
        (r.user_id, r.ts, r.is_anomaly, expected[(r.user_id, r.ts)])
        for r in got
        if expected[(r.user_id, r.ts)] != r.is_anomaly
    ]
    assert not mismatches, f"{len(mismatches)} mismatches, first: {mismatches[:3]}"


def test_stream_fitted_per_series_matches_batch(spark, events_batches):
    """A per-series-fitted detector must stream with each key's OWN
    thresholds (broadcast-joined params), not the constructor's ±inf
    defaults — the silent-no-anomalies failure mode."""
    df = registry.table(spark, SF, "events")
    tsf = TimeSeriesFrame(df, series=["user_id"], tiebreak=["event_id"])
    det = RangeDetector(quantiles=[0.05, 0.95]).fit(tsf)
    assert det._params_df is not None

    got = run_stream(spark, events_batches, det)
    assert len(got) > 0
    assert any(r.is_anomaly for r in got), "per-key quantile fit must flag tails"
    rows = det.detect(tsf).select("user_id", "ts", "is_anomaly").collect()
    expected = {(r.user_id, r.ts): r.is_anomaly for r in rows}
    mismatches = [
        (r.user_id, r.ts) for r in got if expected[(r.user_id, r.ts)] != r.is_anomaly
    ]
    assert not mismatches, f"{len(mismatches)} mismatches: {mismatches[:3]}"


def test_operational_lifecycle_fit_save_load_stream(spark, events_batches, tmp_path):
    """The reference's documented production pattern end-to-end
    (docs/getting_started.rst:40-51: configure + fit offline, save,
    load in production, detect on incoming data) — here with
    per-series fitted thresholds surviving the parquet sidecar AND
    driving the streaming operator."""
    from tsod_spark import load, save

    df = registry.table(spark, SF, "events")
    tsf = TimeSeriesFrame(df, series=["user_id"], tiebreak=["event_id"])
    fitted = RangeDetector(quantiles=[0.05, 0.95]).fit(tsf)
    p = tmp_path / "prod_model.json"
    save(fitted, p)

    loaded = load(p, spark)
    got = run_stream(spark, events_batches, loaded)
    assert len(got) > 0 and any(r.is_anomaly for r in got)
    rows = fitted.detect(tsf).select("user_id", "ts", "is_anomaly").collect()
    expected = {(r.user_id, r.ts): r.is_anomaly for r in rows}
    mismatches = [
        (r.user_id, r.ts) for r in got if expected[(r.user_id, r.ts)] != r.is_anomaly
    ]
    assert not mismatches, f"{len(mismatches)} mismatches: {mismatches[:3]}"


def test_fused_combined_fit_save_load_stream(spark, events_batches, tmp_path):
    """A per-series fitted CombinedDetector gives its leaves one shared
    params frame: one sidecar through save/load, joined onto the stream
    once, and the stream still equals batch detect row for row."""
    from tsod_spark import load, save

    df = registry.table(spark, SF, "events")
    tsf = TimeSeriesFrame(df, series=["user_id"], tiebreak=["event_id"])
    fitted = CombinedDetector(
        [
            RangeDetector(quantiles=[0.05, 0.95]),
            DiffDetector(),
            RollingStandardDeviationDetector(10),
        ]
    ).fit(tsf)
    p = tmp_path / "fused_model.json"
    save(fitted, p)

    loaded = load(p, spark)
    assert len({id(leaf._params_df) for leaf in loaded}) == 1
    got = run_stream(spark, events_batches, loaded)
    assert len(got) > 0 and any(r.is_anomaly for r in got)
    rows = fitted.detect(tsf).select("user_id", "ts", "is_anomaly").collect()
    expected = {(r.user_id, r.ts): r.is_anomaly for r in rows}
    mismatches = [
        (r.user_id, r.ts) for r in got if expected[(r.user_id, r.ts)] != r.is_anomaly
    ]
    assert not mismatches, f"{len(mismatches)} mismatches: {mismatches[:3]}"


def test_stream_drops_pre_cursor_late_rows(spark, tmp_path):
    """A row older than the buffered tail is dropped, not emitted out
    of order (the documented contract)."""
    import pandas as pd

    schema = "user_id long, ts timestamp, value double"
    b0 = spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": [1, 1, 1],
                "ts": pd.to_datetime(["2020-01-01 00:00", "2020-01-01 01:00", "2020-01-01 02:00"]),
                "value": [1.0, 2.0, 3.0],
            }
        ),
        schema,
    )
    b1 = spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": [1, 1],
                # 00:30 is older than the buffered tail (02:00) -> dropped
                "ts": pd.to_datetime(["2020-01-01 00:30", "2020-01-01 03:00"]),
                "value": [99.0, 4.0],
            }
        ),
        schema,
    )
    src_dir = str(tmp_path / "late_src")
    b0.coalesce(1).write.parquet(f"{src_dir}/b0")
    b1.coalesce(1).write.parquet(f"{src_dir}/b1")
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src_dir}/b*")
    )
    out = stream_detect(DiffDetector(50.0), src, series=["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT ts, value FROM t_late ORDER BY ts").collect()
    values = [r.value for r in got]
    assert 99.0 not in values, "pre-cursor late row must be dropped"
    assert values == [1.0, 2.0, 3.0, 4.0]


def test_stream_rollup_matches_batch(spark, events_batches):
    from tsod_spark.streaming import stream_rollup

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_rollup(src, keys=["event_type"], bucket="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("rollup_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode re-emits refined windows; the LAST emit per key wins.
    got = {
        (r["bucket"], r["event_type"]): (r["n_events"], r["avg_value"])
        for r in spark.sql("SELECT * FROM rollup_stream").collect()
    }

    # batch twin computed directly (watermark doesn't apply to batch)
    batch = registry.table(spark, SF, "events")
    from pyspark.sql import functions as FF

    v = FF.when(FF.isnan("value") | FF.col("value").isNull(), None).otherwise(FF.col("value"))
    cents = FF.round(v * 100).cast("long")
    exp_rows = (
        batch.groupBy(FF.window("ts", "1 hour").alias("win"), "event_type")
        .agg(FF.count(FF.lit(1)).alias("n"), FF.count(v).alias("nv"), FF.sum(cents).alias("c"))
        .select(
            FF.col("win.start").alias("bucket"),
            "event_type",
            "n",
            FF.when(FF.col("nv") > 0, FF.round(FF.col("c") / 100.0 / FF.col("nv"), 6)).alias("avg"),
        )
        .collect()
    )
    expected = {(r["bucket"], r["event_type"]): (r["n"], r["avg"]) for r in exp_rows}
    assert got == expected


def test_stream_stateless_range(spark, events_batches):
    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_detect_stateless(
        RangeDetector(1.0, 300.0), src, series=["user_id"], tiebreak=["event_id"]
    )
    q = (
        out.writeStream.format("memory")
        .queryName("range_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT user_id, ts, is_anomaly FROM range_stream"
    ).collect()
    assert len(got) == 1000
    expected = batch_flags(spark, RangeDetector(1.0, 300.0))
    assert all(expected[(r.user_id, r.ts)] == r.is_anomaly for r in got)


def test_stream_sessionize_emits_closed_sessions(spark, events_batches):
    from tsod_spark.streaming import stream_sessionize

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_sessionize(src, keys=["user_id"], gap="30 minutes", watermark="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in spark.sql("SELECT * FROM sess_stream").collect()
    }

    batch = registry.table(spark, SF, "events")
    exp_rows = (
        batch.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .collect()
    )
    max_ts = batch.agg(F.max("ts")).first()[0]
    # watermark 0s => final watermark == global max event time; append
    # mode emits exactly the sessions whose end precedes it (each user's
    # trailing session stays open and unemitted — by design)
    expected = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in exp_rows
        if r["session_end"] <= max_ts
    }
    closed_subset = {k: v for k, v in got.items()}
    # every emitted session must be a real final session with the exact
    # member count (append emits once, post-merge), and all closed
    # sessions must have been emitted
    full = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in exp_rows
    }
    for k, v in got.items():
        assert full[k] == v
    missing = {k for k in expected if k not in got}
    assert not missing, f"{len(missing)} closed sessions never emitted"


def test_stream_dedup_minhash_flags_near_dups_online(spark, tmp_path):
    """Online LSH near-dup detection: a document arriving after a
    near-identical one is flagged against the earlier arrival, across
    micro-batch boundaries; unrelated docs are not flagged. Matches
    the batch minhash_band_pairs verdict for the planted pair."""
    import pandas as pd

    from tsod_spark.pipeline import dedup
    from tsod_spark.streaming import stream_dedup_minhash

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    base = {r.doc_id: r.text for r in docs.limit(3).collect()}
    # batch 0: originals; batch 1: a near-copy of doc 0 + an unrelated doc
    b0 = pd.DataFrame({"doc_id": list(base), "text": list(base.values())})
    b1 = pd.DataFrame(
        {
            "doc_id": [901, 902],
            "text": [base[0] + " zzz", "totally unrelated words " * 10],
        }
    )
    src_dir = str(tmp_path / "docs_src")
    schema = "doc_id long, text string"
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(f"{src_dir}/b0")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src_dir}/b1")

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src_dir}/b*")
    )
    out = stream_dedup_minhash(src)
    q = (
        out.writeStream.format("memory")
        .queryName("t_neardup")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT DISTINCT doc_id, dup_of FROM t_neardup").collect()
    flagged = {r.doc_id for r in got}
    assert 901 in flagged, "near-copy must collide with an earlier bucket holder"
    assert any(r.doc_id == 901 and r.dup_of == 0 for r in got)
    assert 902 not in flagged, "unrelated doc must not be flagged"

    # batch twin agrees the planted pair is a candidate pair
    both = spark.createDataFrame(pd.concat([b0, b1]), schema)
    pairs = dedup.minhash_band_pairs(
        both.withColumn("lang", F.lit("en"))
        .withColumn("source", F.lit("t"))
        .withColumn("n_chars", F.length("text"))
    ).collect()
    assert any({p.doc_a, p.doc_b} == {0, 901} for p in pairs)
    spark.catalog.clearCache()


def test_stream_winnow_overlap_flags_shared_span_online(spark, tmp_path):
    """Online span-overlap screening: a document arriving with a
    >= window + k - 1 = 8 token run copied from an earlier arrival
    must collide on at least one winnowing fingerprint (the MOSS
    guarantee), across micro-batch boundaries; an unrelated doc must
    not. Matches the batch winnow_overlap_pairs verdict for the
    planted pair."""
    import pandas as pd

    from tsod_spark.pipeline import dedup
    from tsod_spark.streaming import stream_winnow_overlap

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    base = {r.doc_id: r.text for r in docs.limit(2).collect()}
    span = " ".join(f"planted{i}" for i in range(30))
    first = base[0] + " " + span
    # batch 0: original + span; batch 1: different doc carrying the
    # same span + an unrelated doc
    b0 = pd.DataFrame({"doc_id": [0], "text": [first]})
    b1 = pd.DataFrame(
        {
            "doc_id": [901, 902],
            "text": [span + " " + base[1], "totally unrelated words " * 10],
        }
    )
    src_dir = str(tmp_path / "wdocs_src")
    schema = "doc_id long, text string"
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(f"{src_dir}/b0")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src_dir}/b1")

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src_dir}/b*")
    )
    out = stream_winnow_overlap(src)
    q = (
        out.writeStream.format("memory")
        .queryName("t_winnow")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT doc_id, overlap_with, count(*) AS shared FROM t_winnow "
        "GROUP BY doc_id, overlap_with"
    ).collect()
    hits = {(r.doc_id, r.overlap_with): r.shared for r in got}
    assert (901, 0) in hits, "span carrier must collide with the earlier doc"
    assert hits[(901, 0)] >= 2, "a 30-token span shares many fingerprints"
    assert not any(d == 902 for d, _ in hits), "unrelated doc must not collide"

    # batch twin agrees the planted pair overlaps
    both = spark.createDataFrame(pd.concat([b0, b1]), schema).select(
        "doc_id",
        "text",
        F.lit("en").alias("lang"),
        F.lit("t").alias("source"),
        F.length("text").alias("n_chars"),
    )
    pairs = dedup.winnow_overlap_pairs(both).collect()
    assert any({p.doc_a, p.doc_b} == {0, 901} for p in pairs)
    spark.catalog.clearCache()


def test_stream_dedup_exact_drops_within_watermark(spark, events_batches):
    """Duplicate rows re-injected in the NEXT micro-batch (well inside
    the watermark) must be dropped; every original row must survive."""
    import glob

    from tsod_spark.streaming import stream_dedup_exact

    tmp, schema = events_batches
    # build a doubled source: each batch plus a copy of the previous
    # batch's rows (exact duplicates arriving one trigger later)
    dup_src = tempfile.mkdtemp(prefix="stream_dup_")
    batches = sorted(glob.glob(f"{tmp}/batch_*"))
    prev = None
    for i, b in enumerate(batches):
        cur = spark.read.parquet(b)
        out = cur if prev is None else cur.unionByName(prev)
        out.coalesce(1).write.parquet(f"{dup_src}/batch_{i}", mode="overwrite")
        prev = cur
    try:
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{dup_src}/batch_*")
        )
        out = stream_dedup_exact(src, keys=["event_id"], watermark="10 hours")
        q = (
            out.writeStream.format("memory")
            .queryName("dedup_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT event_id FROM dedup_stream").collect()
        ids = [r.event_id for r in got]
        base = spark.read.parquet(f"{tmp}/batch_*")
        assert len(ids) == len(set(ids)), "duplicates leaked through"
        assert set(ids) == {r.event_id for r in base.collect()}, "rows lost"
    finally:
        shutil.rmtree(dup_src, ignore_errors=True)


def test_stream_detect_to_file_sink(spark, events_batches):
    """Operational sink path: stream detections to a partitioned
    parquet sink with a checkpoint, then read the files back and
    compare against the batch detector — the deploy pattern
    (configure + fit offline, detect online, land results)."""
    tmp, schema = events_batches
    out_dir = tempfile.mkdtemp(prefix="stream_sink_")
    try:
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/batch_*")
        )
        out = stream_detect_stateless(
            RangeDetector(1.0, 300.0), src, series=["user_id"], tiebreak=["event_id"]
        )
        q = (
            out.select("user_id", "ts", "is_anomaly")
            .writeStream.format("parquet")
            .option("path", f"{out_dir}/data")
            .option("checkpointLocation", f"{out_dir}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        landed = {
            (r.user_id, r.ts): r.is_anomaly
            for r in spark.read.parquet(f"{out_dir}/data").collect()
        }
        expected = batch_flags(spark, RangeDetector(1.0, 300.0))
        assert landed == expected
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


# --- streaming twins of the r3 temporal operators -------------------------


def test_stream_ewma_matches_batch(spark, events_batches):
    """EWMA recurrence continues bit-identically across micro-batch
    boundaries: state is just the prior smoothed value."""
    from tsod_spark.analytics import temporal
    from tsod_spark.streaming import stream_ewma

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_ewma(src, alpha=0.25, series=["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("ewma_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["event_id"]: r["ewma"]
        for r in spark.sql("SELECT event_id, ewma FROM ewma_stream").collect()
    }
    batch = temporal.ewma(registry.table(spark, SF, "events"))
    expected = {r["event_id"]: r["ewma"] for r in batch.collect()}
    assert len(got) == len(expected) == 1000  # causal: every row emits
    mism = [
        (k, got[k], expected[k])
        for k in expected
        if got[k] != expected[k] and not (got[k] is None and expected[k] is None)
    ]
    assert not mism, f"{len(mism)} mismatches, first: {mism[:3]}"


def test_stream_holt_matches_batch(spark, events_batches):
    """Holt's two-state recurrence continues bit-identically across
    micro-batch boundaries: state is exactly the (level, trend) pair."""
    import math

    from tsod_spark.analytics import temporal
    from tsod_spark.streaming import stream_holt

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_holt(src, alpha=0.5, beta=0.25, series=["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("holt_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["event_id"]: (r["level"], r["trend"])
        for r in spark.sql("SELECT event_id, level, trend FROM holt_stream").collect()
    }
    batch = temporal.holt(registry.table(spark, SF, "events"))
    expected = {
        r["event_id"]: (r["level"], r["trend"]) for r in batch.collect()
    }
    assert len(got) == len(expected) == 1000  # causal: every row emits

    def same(x, y):
        if x is None or y is None:
            return x is y
        return x == y or (math.isnan(x) and math.isnan(y))

    mism = [
        (k, got[k], expected[k])
        for k in expected
        if not (same(got[k][0], expected[k][0]) and same(got[k][1], expected[k][1]))
    ]
    assert not mism, f"{len(mism)} mismatches, first: {mism[:3]}"


def test_stream_latest_by_key_matches_batch(spark, events_batches):
    """CDC keep-last: the final emission per key equals the batch
    window-compaction result."""
    from tsod_spark.analytics import olap
    from tsod_spark.streaming import stream_latest_by_key

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_latest_by_key(src, keys=["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("latest_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM latest_stream").collect()
    # emissions per key are strictly increasing in (ts, event_id), so
    # the final state is the per-key max over emitted rows
    final = {}
    for r in emitted:
        k = r["user_id"]
        if k not in final or (r["ts"], r["event_id"]) > (final[k]["ts"], final[k]["event_id"]):
            final[k] = r
    batch = olap.latest_by_key(registry.table(spark, SF, "events"))
    expected = {r["user_id"]: r for r in batch.collect()}
    assert set(final) == set(expected)
    for k, e in expected.items():
        g = final[k]
        assert (g["event_id"], g["ts"], g["event_type"], g["value"]) == (
            e["event_id"], e["ts"], e["event_type"], e["value"]
        ), k
    # changelog compaction: at most one emission per key per micro-batch
    assert len(emitted) <= 4 * len(expected)


def test_stream_rollup_hierarchy_matches_batch(spark, events_batches):
    """Chained continuous aggregates (hour -> day partial re-agg):
    append-mode emissions are final and equal the batch rollup for the
    same buckets."""
    from tsod_spark.analytics import temporal as batch_temporal
    from tsod_spark.streaming import stream_rollup_hierarchy

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    levels = stream_rollup_hierarchy(src, keys=["event_type"], watermark="2 hours")
    for name, df in levels.items():
        q = (
            df.writeStream.format("memory")
            .queryName(f"rollup_{name}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    batch = batch_temporal.rollup_hierarchy(
        registry.table(spark, SF, "events"), keys=("event_type",), levels=("hour", "day")
    )
    expected = {
        (r["level"], r["event_type"], r["bucket"]): (
            r["n"], r["sum_value"], r["min_value"], r["max_value"], r["avg_value"]
        )
        for r in batch.collect()
    }
    n_emitted = 0
    for name in levels:
        for r in spark.sql(f"SELECT * FROM rollup_{name}").collect():
            k = (r["level"], r["event_type"], r["bucket"])
            assert k in expected, k
            assert (
                r["n"], r["sum_value"], r["min_value"], r["max_value"], r["avg_value"]
            ) == expected[k], k
            n_emitted += 1
    # the watermark must have closed a substantial share of windows
    assert n_emitted >= len(expected) // 2, (n_emitted, len(expected))


def test_stream_regression_residual_matches_batch(spark, events_batches):
    """The fitted linear model is coefficients + a scalar threshold, so
    it streams through the same state operator as the rule detectors."""
    from tsod_spark.detectors.mllib import RegressionResidualDetector

    tmp, schema = events_batches
    df = registry.table(spark, SF, "events")
    tsf = TimeSeriesFrame(df, series=["user_id"], tiebreak=["event_id"])
    det = RegressionResidualDetector(time_steps=5, n_sigmas=4.0).fit(tsf)

    got = run_stream(spark, events_batches, det)
    assert len(got) > 0
    batch_rows = det.detect(tsf).select("user_id", "ts", "is_anomaly").collect()
    expected = {(r.user_id, r.ts): r.is_anomaly for r in batch_rows}
    mismatches = []
    for r in got:
        k = (r.user_id, r.ts)
        # rows the batch plan drops (incomplete/NaN lag windows) must
        # stream as False
        want = expected.get(k, False)
        if want != r.is_anomaly:
            mismatches.append((k, r.is_anomaly, want))
    assert not mismatches, f"{len(mismatches)} mismatches, first: {mismatches[:3]}"
    # every batch-scored row is eventually emitted (causal detector)
    assert len(got) >= len(expected)


def test_stream_seasonal_residual_matches_batch(spark, events_batches):
    """Seasonal detector streams with per-series ARRAY params (the
    24-phase profile broadcast-joins onto the stream and resolves
    inside the state operator) — flags match batch row-for-row."""
    from tsod_spark import SeasonalResidualDetector

    df = registry.table(spark, SF, "events")
    tsf = TimeSeriesFrame(df, series=["user_id"], tiebreak=["event_id"])
    det = SeasonalResidualDetector(trend_window=12, quantile=0.99).fit(tsf)

    got = run_stream(spark, events_batches, det)
    assert len(got) > 0
    expected = batch_flags(spark, det)
    mismatches = [
        (r.user_id, r.ts, r.is_anomaly, expected[(r.user_id, r.ts)])
        for r in got
        if expected[(r.user_id, r.ts)] != r.is_anomaly
    ]
    assert not mismatches, f"{len(mismatches)} mismatches, first: {mismatches[:3]}"
    # the stream must actually emit flags, not all-False
    assert any(r.is_anomaly for r in got)


def test_stream_per_series_regression_matches_batch(spark, events_batches):
    """Per-series-fitted linear models (numpy ridge per key) stream
    through the same state operator: coef arrays broadcast-join onto
    the stream and resolve per key."""
    from tsod_spark.detectors.mllib import RegressionResidualDetector

    df = registry.table(spark, SF, "events")
    tsf = TimeSeriesFrame(df, series=["user_id"], tiebreak=["event_id"])
    det = RegressionResidualDetector(time_steps=3, n_sigmas=3.0, per_series=True).fit(tsf)

    got = run_stream(spark, events_batches, det)
    assert len(got) > 0
    batch_rows = det.detect(tsf).select("user_id", "ts", "is_anomaly").collect()
    expected = {(r.user_id, r.ts): r.is_anomaly for r in batch_rows}
    mismatches = []
    for r in got:
        want = expected.get((r.user_id, r.ts), False)
        if want != r.is_anomaly:
            mismatches.append(((r.user_id, r.ts), r.is_anomaly, want))
    assert not mismatches, f"{len(mismatches)} mismatches, first: {mismatches[:3]}"
    assert any(r.is_anomaly for r in got)


def test_stream_attribution_join_matches_batch(spark, events_batches):
    """Watermarked stream-stream join (views -> purchases within 30min
    per user): emitted pairs equal the batch interval join. The time
    bound is the state-retention contract — without it a stream-stream
    join buffers forever."""
    from tsod_spark.streaming.temporal import stream_attribution_join

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    views = src.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    buys = src.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("ts_r"),
        F.col("event_id").alias("buy_id"),
    )
    out = stream_attribution_join(views, buys, max_delay="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("attrib_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["view_id"], r["buy_id"])
        for r in spark.sql("SELECT view_id, buy_id FROM attrib_stream").collect()
    }

    batch = registry.table(spark, SF, "events")
    bv = batch.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    bb = batch.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u2"),
        F.col("ts").alias("ts_r"),
        F.col("event_id").alias("buy_id"),
    )
    expected = {
        (r["view_id"], r["buy_id"])
        for r in bv.join(
            bb,
            (F.col("user_id") == F.col("u2"))
            & (F.col("ts_r") >= F.col("ts"))
            & (F.col("ts_r") <= F.col("ts") + F.expr("INTERVAL 30 MINUTES")),
        ).collect()
    }
    # append-mode inner join with availableNow emits every matched pair
    assert got == expected and len(expected) > 0


def test_stream_kmeans_distance_matches_batch(spark, events_batches):
    """KMeans novelty scoring streams through the SAME state operator
    as the rule detectors: the fitted model is a k x T centroid matrix
    + scalar threshold (closure-captured floats), and the per-row
    feature vector is the trailing T-value window the operator already
    buffers. Flags match batch detect row-for-row; rows the batch plan
    drops (incomplete lag windows) stream as False."""
    from tsod_spark.detectors.mllib import KMeansDistanceDetector

    df = registry.table(spark, SF, "events")
    tsf = TimeSeriesFrame(df, series=["user_id"], tiebreak=["event_id"])
    det = KMeansDistanceDetector(time_steps=4, k=4, quantile=0.95).fit(tsf)

    got = run_stream(spark, events_batches, det)
    assert len(got) > 0
    batch_rows = det.detect(tsf).select("user_id", "ts", "is_anomaly").collect()
    expected = {(r.user_id, r.ts): r.is_anomaly for r in batch_rows}
    mismatches = []
    for r in got:
        k = (r.user_id, r.ts)
        want = expected.get(k, False)
        if want != r.is_anomaly:
            mismatches.append((k, r.is_anomaly, want))
    assert not mismatches, f"{len(mismatches)} mismatches, first: {mismatches[:3]}"
    assert len(got) >= len(expected)
    # the stream must actually emit flags, not all-False
    assert any(r.is_anomaly for r in got)


def test_stream_kmeans_via_foreachbatch(spark, events_batches):
    """The alternative micro-batch path: score each micro-batch with
    detector.detect inside foreachBatch. Deterministic per-batch
    scoring (the model is frozen at fit time); rows whose lag window
    spans a micro-batch boundary are simply unscored in that batch —
    the stated delta vs the stateful kernel path above."""
    from tsod_spark.detectors.mllib import KMeansDistanceDetector

    tmp, schema = events_batches
    df = registry.table(spark, SF, "events")
    tsf = TimeSeriesFrame(df, series=["user_id"], tiebreak=["event_id"])
    det = KMeansDistanceDetector(time_steps=4, k=4, quantile=0.95).fit(tsf)

    scored = []

    def score(batch_df, batch_id):
        out = det.detect(
            TimeSeriesFrame(batch_df, series=["user_id"], tiebreak=["event_id"])
        )
        scored.extend(out.select("user_id", "ts", "is_anomaly").collect())

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    q = src.writeStream.foreachBatch(score).trigger(availableNow=True).start()
    q.awaitTermination(120)

    assert len(scored) > 0
    # per-batch scoring must agree with batch detect restricted to the
    # same rows (same frozen model; windows are batch-local)
    rows = df.orderBy("ts").collect()
    n = len(rows)
    chunk = (n + 3) // 4
    for i in range(4):
        part = rows[i * chunk : (i + 1) * chunk]
        if not part:
            continue
        sub = spark.createDataFrame(part, df.schema)
        exp = {
            (r["user_id"], r["ts"]): r["is_anomaly"]
            for r in det.detect(
                TimeSeriesFrame(sub, series=["user_id"], tiebreak=["event_id"])
            ).select("user_id", "ts", "is_anomaly").collect()
        }
        for key, flag in [((r["user_id"], r["ts"]), r["is_anomaly"]) for r in scored]:
            if key in exp:
                assert exp[key] == flag, key


def test_stream_histogram_drift_matches_batch(spark, events_batches):
    """Windowed drift vs a static reference: append-mode emissions are
    final and equal a batch computation of the identical exact-integer
    formula for the same windows."""
    from tsod_spark.streaming import stream_histogram_drift

    tmp, schema = events_batches
    batch = registry.table(spark, SF, "events")
    reference = batch.where(F.col("ts") < F.lit("2024-01-16").cast("timestamp"))

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_histogram_drift(src, reference, window="1 day", watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("drift_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["bucket"], r["event_type"]): (r["n_window"], r["n_reference"], r["l1_drift"])
        for r in spark.sql("SELECT * FROM drift_stream").collect()
    }
    assert len(got) > 0

    # batch twin: same formula per (day window, key) over the full data
    v = F.when(F.isnan("value") | F.col("value").isNull(), None).otherwise(F.col("value"))
    binc = F.floor(v / 10.0).cast("long")
    wb = (
        batch.withColumn("__bin", binc)
        .where(F.col("__bin").isNotNull())
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type", "__bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    )
    rb = (
        reference.withColumn("__bin", binc)
        .where(F.col("__bin").isNotNull())
        .groupBy("event_type", "__bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    )
    ref = {}
    for r in rb:
        ref.setdefault(r["event_type"], {})[r["__bin"]] = r["n"]
    per_win = {}
    for r in wb:
        per_win.setdefault((r["win"]["start"], r["event_type"]), {})[r["__bin"]] = r["n"]
    for (bucket, key), (n_win, n_ref, drift) in got.items():
        bins = per_win[(bucket, key)]
        rbins = ref[key]
        t_win, t_ref = sum(bins.values()), sum(rbins.values())
        assert (n_win, n_ref) == (t_win, t_ref), (bucket, key)
        num = sum(abs(n * t_ref - rbins.get(b, 0) * t_win) for b, n in bins.items())
        num += sum(n * t_win for b, n in rbins.items() if b not in bins)
        assert drift == round(num / (t_win * t_ref), 6), (bucket, key)


def test_stream_seasonal_dow_matches_batch(spark, events_batches):
    """Day-of-week phase streams through the same kernel (pandas
    Mon=0 dayofweek remapped onto Spark's Sunday-first indexing)."""
    from tsod_spark import SeasonalResidualDetector

    df = registry.table(spark, SF, "events")
    tsf = TimeSeriesFrame(df, series=["user_id"], tiebreak=["event_id"])
    det = SeasonalResidualDetector(
        trend_window=6, quantile=0.95, phase_unit="dow"
    ).fit(tsf)
    got = run_stream(spark, events_batches, det)
    assert len(got) > 0
    expected = batch_flags(spark, det)
    mismatches = [
        (r.user_id, r.ts) for r in got
        if expected[(r.user_id, r.ts)] != r.is_anomaly
    ]
    assert not mismatches, f"{len(mismatches)} mismatches: {mismatches[:3]}"
    assert any(r.is_anomaly for r in got)


def test_stream_time_weighted_avg_matches_batch(spark, events_batches):
    """Every CLOSED bucket (a later-bucket observation arrived for the
    series) emits exactly once and equals the batch TWA bit-for-bit;
    each series' open head bucket has not emitted yet."""
    from pyspark.sql import functions as F

    from tsod_spark.analytics import temporal
    from tsod_spark.streaming import stream_time_weighted_avg

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_time_weighted_avg(src)
    q = (
        out.writeStream.format("memory")
        .queryName("twa_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.bucket): (r.n_events, r.time_weighted_avg)
        for r in spark.sql("SELECT * FROM twa_stream").collect()
    }
    batch = temporal.time_weighted_avg(registry.table(spark, SF, "events"))
    # drop each series' LAST bucket: still open at stream head
    last = batch.groupBy("user_id").agg(F.max("bucket").alias("bucket"))
    closed = batch.join(last, ["user_id", "bucket"], "left_anti")
    expected = {
        (r.user_id, r.bucket): (r.n_events, r.time_weighted_avg)
        for r in closed.collect()
    }
    assert len(expected) > 50
    assert got == expected


def test_stream_cusum_matches_batch(spark, events_batches):
    """The CUSUM running sum continues exactly across micro-batch
    boundaries: state is one int64. Every row's flag must equal the
    batch ts_cusum query's flag for the same event."""
    from tsod_spark.streaming import stream_cusum

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_cusum(src, target=150.0, h=5000.0, series=["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("cusum_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["event_id"]: r["is_anomaly"]
        for r in spark.sql("SELECT event_id, is_anomaly FROM cusum_stream").collect()
    }
    expected = {
        r["event_id"]: r["is_anomaly"]
        for r in registry.QUERIES["ts_cusum"](spark, SF).collect()
    }
    assert len(got) == len(expected) == 1000
    mism = [(k, got[k], expected[k]) for k in expected if got[k] != expected[k]]
    assert not mism, f"{len(mism)} mismatches, first: {mism[:3]}"


def test_stream_heavy_hitters_bounded_state_summary(spark, tmp_path):
    """Streaming MG summary across micro-batches: state stays bounded
    at k counters per bucket, heavy items survive with lower-bound
    counts, and the no-false-negative guarantee holds vs exact counts
    of the full stream (the batch two-pass contract, online)."""
    import pandas as pd

    from tsod_spark.streaming import stream_heavy_hitters

    k, n_buckets = 4, 2
    # heavy items dominate; rare tail forces eviction pressure (>k
    # distinct per bucket)
    heavy = ["aaa"] * 40 + ["bbb"] * 30
    rare = [f"r{i}" for i in range(30)]
    b0 = heavy[:35] + rare[:15]
    b1 = heavy[35:] + rare[15:]
    src_dir = str(tmp_path / "items_src")
    schema = "item string"
    spark.createDataFrame(pd.DataFrame({"item": b0}), schema).coalesce(1).write.parquet(
        f"{src_dir}/b0"
    )
    spark.createDataFrame(pd.DataFrame({"item": b1}), schema).coalesce(1).write.parquet(
        f"{src_dir}/b1"
    )
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src_dir}/b*")
    )
    out = stream_heavy_hitters(src, "item", k=k, n_buckets=n_buckets)
    q = (
        out.writeStream.format("memory")
        .queryName("t_hh")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last emitted summary per bucket = the final state
    rows = spark.sql(
        """SELECT * FROM (
             SELECT *, max(bucket_rows) OVER (PARTITION BY bucket) AS mr
             FROM t_hh) WHERE bucket_rows = mr"""
    ).collect()
    by_bucket: dict = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, {})[r.item] = (r.mg_count, r.bucket_rows)
    exact: dict = {}
    for it in b0 + b1:
        exact[it] = exact.get(it, 0) + 1
    # state bound: at most k counters per bucket
    for b, summ in by_bucket.items():
        assert len(summ) <= k
    # guarantee: items above bucket_rows/(k+1) of their bucket must be
    # present with a sound lower bound
    all_items = {it for summ in by_bucket.values() for it in summ}
    for b, summ in by_bucket.items():
        rows_b = next(iter(summ.values()))[1]
        for it, (c, _) in summ.items():
            assert c <= exact[it]
            assert exact[it] - c <= rows_b / (k + 1)
    for it in ("aaa", "bbb"):
        assert it in all_items, f"heavy item {it} evicted — MG bound violated"


def test_stream_type_entropy_matches_batch(spark, events_batches):
    """The LAST emission per user from the streaming entropy monitor
    equals the batch events_type_entropy result over the same rows
    (counts are exact int64 in both; floats derive from counts)."""
    from tsod_spark.queries.round8 import type_entropy
    from tsod_spark.streaming import stream_type_entropy

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_type_entropy(src, series=["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("t_entropy")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # memory sink in update mode APPENDS each emission; the final
    # snapshot per key is the one with the largest running count
    got: dict = {}
    for r in spark.sql("SELECT * FROM t_entropy").collect():
        if r.user_id not in got or r.n_events > got[r.user_id].n_events:
            got[r.user_id] = r

    batch = {r.user_id: r for r in type_entropy(registry.table(spark, SF, "events")).collect()}
    assert set(got) == set(batch)
    for u, b in batch.items():
        s = got[u]
        assert (s.n_events, s.k_types) == (b.n_events, b.k_types)
        assert s.entropy_nats == pytest.approx(b.entropy_nats, abs=2e-6)
        assert s.perplexity == pytest.approx(b.perplexity, abs=2e-6)
        if b.entropy_norm is None:
            assert s.entropy_norm is None
        else:
            assert s.entropy_norm == pytest.approx(b.entropy_norm, abs=2e-6)


def test_stream_dispersion_matches_batch(spark, events_batches):
    """The LAST emission per user from the streaming dispersion
    monitor equals the batch events_dispersion result over the same
    rows — including micro-batch boundaries that split hours (the
    per-hour count-vector state merges exactly)."""
    from tsod_spark.queries.round8 import dispersion_profile
    from tsod_spark.streaming import stream_dispersion

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_dispersion(src, series=["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("t_disp")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got: dict = {}
    for r in spark.sql("SELECT * FROM t_disp").collect():
        if r.user_id not in got or r.n_events > got[r.user_id].n_events:
            got[r.user_id] = r

    batch = {r.user_id: r for r in dispersion_profile(
        registry.table(spark, SF, "events")).collect()}
    assert set(got) == set(batch)
    for u, b in batch.items():
        s = got[u]
        assert (s.n_buckets, s.n_events) == (b.n_buckets, b.n_events), u
        assert s.mean_per_hour == pytest.approx(b.mean_per_hour, abs=2e-6)
        assert s.dispersion == pytest.approx(b.dispersion, abs=2e-6)
        assert s.overdispersed == b.overdispersed


def test_stream_holt_winters_matches_batch(spark, events_batches):
    """Closed-bucket emissions from the streaming Holt-Winters equal
    the batch result row-for-row; each user's final bucket stays
    pending (its sum is not final until the bucket is over)."""
    from tsod_spark.analytics.temporal import holt_winters
    from tsod_spark.streaming import stream_holt_winters

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_holt_winters(src, series=["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("t_hw")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.user_id, r.hour_bucket): (r.level, r.trend, r.season)
           for r in spark.sql("SELECT * FROM t_hw").collect()}

    batch_rows = holt_winters(registry.table(spark, SF, "events")).collect()
    last_hb: dict = {}
    for r in batch_rows:
        last_hb[r.user_id] = max(last_hb.get(r.user_id, -1), r.hour_bucket)
    expected = {(r.user_id, r.hour_bucket): (r.level, r.trend, r.season)
                for r in batch_rows if r.hour_bucket < last_hb[r.user_id]}

    assert set(got) == set(expected)
    assert len(got) > 0
    for k, (el, et, es) in expected.items():
        gl, gt, gs = got[k]
        assert gl == el and gt == et and gs == es, k  # bit-identical


def test_stream_peaks_matches_batch(spark, events_batches):
    """Decided emissions from the streaming peak detector equal the
    batch ts_peaks result restricted to buckets whose +12h horizon a
    later bucket has passed (the explicit lookahead cost)."""
    from tsod_spark.queries.round8 import peaks
    from tsod_spark.streaming import stream_peaks

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_peaks(src, series=["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("t_peaks")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r.user_id, r.hour_bucket): (r.y_cents, r.kind, r.height_cents)
           for r in spark.sql("SELECT * FROM t_peaks").collect()}

    events = registry.table(spark, SF, "events")
    batch_rows = peaks(events).collect()
    # decidability horizon: the max hour bucket each user OPENED
    from pyspark.sql import functions as F

    maxhb = {
        r.user_id: r.mx
        for r in events.where(~F.isnan("value") & F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(F.expr("max(unix_micros(ts) div 3600000000)").alias("mx"))
        .collect()
    }
    expected = {
        (r.user_id, r.hour_bucket): (r.y_cents, r.kind, r.height_cents)
        for r in batch_rows
        if r.hour_bucket + 12 < maxhb[r.user_id]
    }
    assert set(got) == set(expected)
    assert len(got) > 0
    for k, v in expected.items():
        assert got[k] == v, k


def test_stream_benford_matches_batch(spark, events_batches):
    """The LAST emission per event_type from the streaming Benford
    screen equals the batch events_benford row over the same rows
    (digit counts exact int64; chi2 derives from counts with the
    identical term order and literals)."""
    from tsod_spark.queries.round7 import benford_screen
    from tsod_spark.streaming import stream_benford

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_benford(src, series=["event_type"])
    q = (
        out.writeStream.format("memory")
        .queryName("t_benford")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got: dict = {}
    for r in spark.sql("SELECT * FROM t_benford").collect():
        if r.event_type not in got or r.n > got[r.event_type].n:
            got[r.event_type] = r

    batch = {
        r.event_type: r
        for r in benford_screen(registry.table(spark, SF, "events")).collect()
    }
    assert set(got) == set(batch)
    for t, b in batch.items():
        s = got[t]
        assert s.n == b.n
        assert s.chi2 == b.chi2  # bit-identical: same counts, same fold
        assert s.benford_flag == b.benford_flag


def test_stream_interarrival_matches_batch(spark, events_batches):
    """The LAST emission per user from the streaming arrival profiler
    equals the batch events_interarrival row — the cross-micro-batch
    boundary gap must be accounted exactly once."""
    from tsod_spark.queries.round7 import interarrival_profile
    from tsod_spark.streaming import stream_interarrival

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_interarrival(src, series=["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("t_interarrival")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got: dict = {}
    for r in spark.sql("SELECT * FROM t_interarrival").collect():
        if r.user_id not in got or r.n_gaps > got[r.user_id].n_gaps:
            got[r.user_id] = r

    batch = {
        r.user_id: r
        for r in interarrival_profile(registry.table(spark, SF, "events")).collect()
    }
    assert set(got) == set(batch)
    for u, b in batch.items():
        s = got[u]
        assert s.n_gaps == b.n_gaps
        assert s.mean_gap_s == b.mean_gap_s  # exact int64 moments
        assert s.std_gap_s == b.std_gap_s
        assert s.cv == b.cv
        assert s.burstiness == b.burstiness


def test_stream_record_stats_matches_batch(spark, events_batches):
    """The LAST emission per user from the streaming record counter
    equals the batch ts_record_stats row — records are fully online, so
    the twin carries no approximation at the micro-batch boundary."""
    from tsod_spark.queries.round8 import record_stats
    from tsod_spark.streaming import stream_record_stats

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_record_stats(src, series=["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("t_records")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got: dict = {}
    for r in spark.sql("SELECT * FROM t_records").collect():
        if r.user_id not in got or r.n_obs > got[r.user_id].n_obs:
            got[r.user_id] = r

    batch = {
        r.user_id: r
        for r in record_stats(registry.table(spark, SF, "events")).collect()
    }
    assert set(got) == set(batch)
    for u, b in batch.items():
        s = got[u]
        assert (s.n_obs, s.hi_records, s.lo_records) == (
            b.n_obs,
            b.hi_records,
            b.lo_records,
        )
        assert s.expected_records == pytest.approx(b.expected_records, abs=2e-6)
        assert s.hi_ratio == pytest.approx(b.hi_ratio, abs=2e-6)
        assert s.lo_ratio == pytest.approx(b.lo_ratio, abs=2e-6)


def test_stream_markov_counts_matches_batch(spark, events_batches):
    """The final (max-count) emission per (user, from, to) equals a
    per-user lag-pair count over the same rows — the cross-batch
    boundary transition is counted exactly once."""
    from tsod_spark.streaming import stream_markov_counts

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_markov_counts(src, series=["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("t_markov")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got: dict = {}
    for r in spark.sql("SELECT * FROM t_markov").collect():
        k = (r.user_id, r.from_type, r.to_type)
        if k not in got or r.transitions > got[k]:
            got[k] = r.transitions

    from pyspark.sql import Window as W2

    e = registry.table(spark, SF, "events")
    w = W2.partitionBy("user_id").orderBy("ts", "event_id")
    batch = {
        (r.user_id, r.f, r.t): r.c
        for r in e.select(
            "user_id",
            F.lag("event_type").over(w).alias("f"),
            F.col("event_type").alias("t"),
        )
        .where(F.col("f").isNotNull())
        .groupBy("user_id", "f", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .collect()
    }
    assert got == batch


def test_stream_permutation_entropy_matches_batch(spark, events_batches):
    """The LAST emission per user equals the batch ts_permutation_
    entropy over CLOSED buckets (every hour before the user's latest
    open one) — pattern counts exact, entropy from counts."""
    from tsod_spark.queries.round8 import permutation_entropy
    from tsod_spark.streaming import stream_permutation_entropy

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_permutation_entropy(src, series=["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("t_pe")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got: dict = {}
    for r in spark.sql("SELECT * FROM t_pe").collect():
        if r.user_id not in got or r.n_triples > got[r.user_id].n_triples:
            got[r.user_id] = r

    from pyspark.sql import Window as W3

    e = registry.table(spark, SF, "events")
    closed = e.withColumn(
        "__hb", F.expr("unix_micros(ts) div 3600000000")
    ).withColumn(
        "__mx",
        F.max(
            F.when(
                ~F.isnan("value") & F.col("value").isNotNull(), F.col("__hb")
            )
        ).over(W3.partitionBy("user_id")),
    ).where(F.col("__hb") < F.col("__mx")).drop("__hb", "__mx")
    batch = {r.user_id: r for r in permutation_entropy(closed).collect()}
    assert set(got) == set(batch)
    assert len(got) > 0
    for u, b in batch.items():
        s = got[u]
        assert (s.n_triples, s.k_patterns) == (b.n_triples, b.k_patterns)
        assert s.pe_nats == pytest.approx(b.pe_nats, abs=2e-6)
        assert s.pe_norm == pytest.approx(b.pe_norm, abs=2e-6)


def test_stream_periodogram_matches_batch(spark, events_batches):
    """The LAST emission per user equals the batch ts_periodogram over
    CLOSED buckets: the decomposition sum z*cos = (sum y*cos - mu*sum
    cos)/sigma makes the whole-series normalization streamable; float
    sums carry association noise only (counts exact)."""
    from tsod_spark.queries.round8 import periodogram
    from tsod_spark.streaming import stream_periodogram

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_periodogram(src, series=["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("t_pgram")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got: dict = {}
    for r in spark.sql("SELECT * FROM t_pgram").collect():
        k = (r.user_id, r.period)
        if k not in got or r.n_hours > got[k].n_hours:
            got[k] = r

    from pyspark.sql import Window as W4

    e = registry.table(spark, SF, "events")
    closed = (
        e.withColumn("__hb", F.expr("unix_micros(ts) div 3600000000"))
        .withColumn(
            "__mx",
            F.max(
                F.when(
                    ~F.isnan("value") & F.col("value").isNotNull(),
                    F.col("__hb"),
                )
            ).over(W4.partitionBy("user_id")),
        )
        .where(F.col("__hb") < F.col("__mx"))
        .drop("__hb", "__mx")
    )
    batch = {(r.user_id, r.period): r for r in periodogram(closed).collect()}
    assert set(got) == set(batch)
    assert len(got) > 0
    # dominance is ranked on ROUNDED powers; when a user's top-2 batch
    # powers sit within the float-association tolerance of each other a
    # 1-ulp difference in the stream's recombined trig sums can
    # legitimately flip the argmax, so the is_dominant assert only
    # applies where the batch top-2 gap clears the tolerance (ADVICE
    # r8; the stream's own flag stays internally consistent with its
    # own rounded powers by construction).
    top2gap: dict = {}
    by_user: dict = {}
    for (u, _p), b in batch.items():
        by_user.setdefault(u, []).append(b.power)
    for u, ps in by_user.items():
        ps = sorted(ps, reverse=True)
        top2gap[u] = ps[0] - ps[1] if len(ps) > 1 else 1.0
    for k, b in batch.items():
        s = got[k]
        assert s.n_hours == b.n_hours
        assert s.power == pytest.approx(b.power, abs=5e-5)
        assert s.power_share == pytest.approx(b.power_share, abs=5e-5)
        if top2gap[k[0]] > 1e-4:
            assert s.is_dominant == b.is_dominant, k


def test_stream_conformal_snaive_matches_batch(spark, events_batches):
    """The LAST emission per user equals the batch ts_conformal_snaive
    over CLOSED hourly buckets: residual multisets are exact int64
    cents, the conformal quantile is an exact order statistic (value is
    tie-order independent), and coverage rounds through py_round6 (the
    F.round twin) — so every field compares EXACTLY, across micro-batch
    boundaries. Users below the n_cal >= 9 certification bound must be
    absent on BOTH sides."""
    from tsod_spark.queries.round8 import conformal_snaive
    from tsod_spark.streaming import stream_conformal_snaive

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_conformal_snaive(src, series=["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("t_conf")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got: dict = {}
    for r in spark.sql("SELECT * FROM t_conf").collect():
        k = r.user_id
        if k not in got or (r.n_cal + r.n_test) > (
            got[k].n_cal + got[k].n_test
        ):
            got[k] = r

    from pyspark.sql import Window as W5

    e = registry.table(spark, SF, "events")
    closed = (
        e.withColumn("__hb", F.expr("unix_micros(ts) div 3600000000"))
        .withColumn(
            "__mx",
            F.max(
                F.when(
                    ~F.isnan("value") & F.col("value").isNotNull(),
                    F.col("__hb"),
                )
            ).over(W5.partitionBy("user_id")),
        )
        .where(F.col("__hb") < F.col("__mx"))
        .drop("__hb", "__mx")
    )
    batch = {r.user_id: r for r in conformal_snaive(closed).collect()}
    assert set(got) == set(batch)
    assert len(got) > 0
    for k, b in batch.items():
        s = got[k]
        assert s.n_cal == b.n_cal, k
        assert s.qhat_cents == b.qhat_cents, k
        assert s.n_test == b.n_test, k
        assert s.n_flagged == b.n_flagged, k
        assert s.coverage == b.coverage, k


def test_stream_sax_matches_batch(spark, events_batches):
    """The LAST emission per user equals the batch ts_sax_motifs over
    CLOSED hourly buckets: identical double expressions for mu/sigma/z,
    the shared N(0,1) quartile literal, (count desc, word) tie order,
    py_round6 shares — every field compares exactly."""
    from tsod_spark.queries.round8 import sax_motifs
    from tsod_spark.streaming import stream_sax

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_sax(src, series=["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("t_sax")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # the emitted n_hours (closed-bucket count) grows monotonically, so
    # each user's LAST emission is the one with max n_hours
    per_user: dict = {}
    for r in spark.sql("SELECT * FROM t_sax").collect():
        per_user.setdefault(r.user_id, []).append(r)
    got: dict = {}
    for u, rows in per_user.items():
        mx = max(r.n_hours for r in rows)
        got[u] = {r.rank: r for r in rows if r.n_hours == mx}

    from pyspark.sql import Window as W6

    e = registry.table(spark, SF, "events")
    closed = (
        e.withColumn("__hb", F.expr("unix_micros(ts) div 3600000000"))
        .withColumn(
            "__mx",
            F.max(
                F.when(
                    ~F.isnan("value") & F.col("value").isNotNull(),
                    F.col("__hb"),
                )
            ).over(W6.partitionBy("user_id")),
        )
        .where(F.col("__hb") < F.col("__mx"))
        .drop("__hb", "__mx")
    )
    batch = {}
    for r in sax_motifs(closed).collect():
        batch.setdefault(r.user_id, {})[r.rank] = r
    assert set(got) == set(batch)
    assert len(got) > 0
    for u, b in batch.items():
        s = got[u]
        assert set(s) == set(b), u
        for rk, br in b.items():
            assert s[rk].word == br.word, (u, rk)
            assert s[rk].n_word == br.n_word, (u, rk)
            assert s[rk].share == br.share, (u, rk)


def test_stream_quality_budget_matches_batch(spark, tmp_path):
    """The LAST emission per source equals the batch
    quality_budget_curve(by=('source',)) over the same documents —
    every field exactly (the int64 threshold compare has no float
    boundary, and shares round through py_round6 = F.round)."""
    from tsod_spark.pipeline.curate import quality_budget_curve
    from tsod_spark.streaming import stream_quality_budget

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    rows = docs.collect()
    schema = "doc_id long, source string, text string"
    src_dir = str(tmp_path / "qb_src")
    n = len(rows)
    chunk = (n + 2) // 3
    for i in range(3):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, schema).coalesce(1).write.parquet(
                f"{src_dir}/b{i}"
            )
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src_dir}/b*")
    )
    out = stream_quality_budget(src, series=["source"])
    q = (
        out.writeStream.format("memory")
        .queryName("t_qb")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got: dict = {}
    for r in spark.sql("SELECT * FROM t_qb").collect():
        k = (r.source, r.thr_milli)
        # n_docs_kept at thr=0 counts every doc -> monotone; use the
        # thr_milli=0 row's count per emission as the emission clock
        if k not in got or r.n_docs_kept >= got[k].n_docs_kept:
            got[k] = r
    batch = {
        (r.source, r.thr_milli): r
        for r in quality_budget_curve(docs, by=("source",)).collect()
    }
    assert set(got) == set(batch)
    assert len(got) > 0
    for k, b in batch.items():
        s = got[k]
        assert s.n_docs_kept == b.n_docs_kept, k
        assert s.n_tokens_kept == b.n_tokens_kept, k
        assert s.doc_share == b.doc_share, k
        assert s.token_share == b.token_share, k


def test_stream_psi_drift_matches_batch(spark, tmp_path):
    """A stream that has consumed exactly the batch query's
    current-half rows, scored against the frozen reference stats the
    batch derives, must emit the batch PSI per type exactly."""
    from tsod_spark.queries.round9 import psi_ref_stats
    from tsod_spark.registry import QUERIES
    from tsod_spark.registry import table as rt
    from tsod_spark.streaming import stream_psi_drift

    e = rt(spark, SF, "events")
    ref = {
        r.event_type: (list(r.bounds), list(r.ref_counts), r.n_ref)
        for r in psi_ref_stats(e).collect()
    }
    # current half = hb >= mid, the batch split
    from pyspark.sql import functions as F2

    d = e.withColumn("__hb", F2.expr("unix_micros(ts) div 3600000000"))
    lo, hi = d.agg(F2.min("__hb"), F2.max("__hb")).first()
    mid = (lo + hi + 1) // 2
    cur = d.where(F2.col("__hb") >= mid).drop("__hb").orderBy("ts", "event_id")
    rows = cur.collect()
    src_dir = str(tmp_path / "psi_src")
    n = len(rows)
    chunk = (n + 2) // 3
    for i in range(3):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, cur.schema).coalesce(1).write.parquet(
                f"{src_dir}/b{i}"
            )
    src = (
        spark.readStream.schema(cur.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src_dir}/b*")
    )
    out = stream_psi_drift(src, ref)
    q = (
        out.writeStream.format("memory")
        .queryName("t_psi")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got: dict = {}
    for r in spark.sql("SELECT * FROM t_psi").collect():
        if r.event_type not in got or r.n_cur > got[r.event_type].n_cur:
            got[r.event_type] = r
    batch = {
        r.event_type: r for r in QUERIES["events_psi_drift"](spark, SF).collect()
    }
    assert set(got) == set(batch)
    assert len(got) > 0
    for et, b in batch.items():
        s = got[et]
        assert s.n_ref == b.n_ref, et
        assert s.n_cur == b.n_cur, et
        assert s.psi == b.psi, et
        assert bool(s.drift_flag) == bool(b.drift_flag), et
    spark.catalog.clearCache()


def test_stream_conformal_by_segment_matches_batch(spark, events_batches):
    """VERDICT r10 #8: the per-(event_type, cohort) streaming conformal
    twin equals the batch conformal_snaive_by over CLOSED hourly
    buckets, field-exact across micro-batch boundaries — same int64
    residual multisets, same order-statistic q-hat, same refuse-to-
    certify absences on both sides. Cohort = user_id %% 2 here: at the
    sf0.001 fixture the registered %% 8 grain never reaches n_cal >= 9
    (max 3 residuals per series — both sides empty, a vacuous pass),
    while %% 2 certifies real series (checked: 16 residuals max)."""
    from tsod_spark.queries.round10 import conformal_snaive_by
    from tsod_spark.streaming import stream_conformal_by_segment

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
        .withColumn("cohort", F.col("user_id") % 2)
    )
    out = stream_conformal_by_segment(src)
    q = (
        out.writeStream.format("memory")
        .queryName("t_conf_seg")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got: dict = {}
    for r in spark.sql("SELECT * FROM t_conf_seg").collect():
        k = (r.event_type, r.cohort)
        if k not in got or (r.n_cal + r.n_test) > (
            got[k].n_cal + got[k].n_test
        ):
            got[k] = r

    from pyspark.sql import Window as W6

    e = registry.table(spark, SF, "events").withColumn(
        "cohort", F.col("user_id") % 2
    )
    closed = (
        e.withColumn("__hb", F.expr("unix_micros(ts) div 3600000000"))
        .withColumn(
            "__mx",
            F.max(
                F.when(
                    ~F.isnan("value") & F.col("value").isNotNull(),
                    F.col("__hb"),
                )
            ).over(W6.partitionBy("event_type", "cohort")),
        )
        .where(F.col("__hb") < F.col("__mx"))
        .drop("__hb", "__mx")
    )
    batch = {
        (r.event_type, r.user_id): r
        for r in conformal_snaive_by(
            closed.withColumn("user_id", F.col("cohort"))
        ).collect()
    }
    assert set(got) == set(batch)
    assert len(got) > 0
    for k, b in batch.items():
        s = got[k]
        assert s.n_cal == b.n_cal, k
        assert s.qhat_cents == b.qhat_cents, k
        assert s.n_test == b.n_test, k
        assert s.n_flagged == b.n_flagged, k
        assert s.coverage == b.coverage, k


def test_stream_conformal_curve_matches_batch(spark, events_batches):
    """VERDICT r11 #7: the alpha-grid streaming conformal twin equals
    the batch conformal_curve over CLOSED hourly buckets, per
    (user, alpha) cell and field-exact — residual multisets are exact
    int64 cents, the per-alpha quantile is an exact order statistic
    (value tie-order independent), coverage rounds through py_round6.
    Cells refused on one side (rank > n_cal) must be absent on BOTH;
    the alpha=20 cells must also reproduce stream_conformal_snaive's
    single-alpha fields exactly (the generalized rank reduces to it)."""
    from tsod_spark.queries.round9 import conformal_curve
    from tsod_spark.streaming import stream_conformal_curve

    tmp, schema = events_batches
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    out = stream_conformal_curve(src, series=["user_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("t_conf_curve")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got: dict = {}
    for r in spark.sql("SELECT * FROM t_conf_curve").collect():
        k = (r.user_id, r.alpha_pct)
        if k not in got or (r.n_cal + r.n_test) > (
            got[k].n_cal + got[k].n_test
        ):
            got[k] = r

    from pyspark.sql import Window as W6

    e = registry.table(spark, SF, "events")
    closed = (
        e.withColumn("__hb", F.expr("unix_micros(ts) div 3600000000"))
        .withColumn(
            "__mx",
            F.max(
                F.when(
                    ~F.isnan("value") & F.col("value").isNotNull(),
                    F.col("__hb"),
                )
            ).over(W6.partitionBy("user_id")),
        )
        .where(F.col("__hb") < F.col("__mx"))
        .drop("__hb", "__mx")
    )
    batch = {
        (r.user_id, r.alpha_pct): r for r in conformal_curve(closed).collect()
    }
    assert set(got) == set(batch)
    assert len(got) > 0
    assert len({a for (_, a) in got}) > 1  # more than one certified alpha
    for k, b in batch.items():
        s = got[k]
        assert s.n_cal == b.n_cal, k
        assert s.qhat_cents == b.qhat_cents, k
        assert s.n_test == b.n_test, k
        assert s.n_flagged == b.n_flagged, k
        assert s.coverage == b.coverage, k

    # alpha=20 reduction: identical to the single-alpha streaming kernel
    from tsod_spark.streaming import stream_conformal_snaive

    src2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp}/batch_*")
    )
    q2 = (
        stream_conformal_snaive(src2, series=["user_id"])
        .writeStream.format("memory")
        .queryName("t_conf_single")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    single: dict = {}
    for r in spark.sql("SELECT * FROM t_conf_single").collect():
        if r.user_id not in single or (r.n_cal + r.n_test) > (
            single[r.user_id].n_cal + single[r.user_id].n_test
        ):
            single[r.user_id] = r
    curve20 = {u: r for (u, a), r in got.items() if a == 20}
    assert set(curve20) == set(single)
    for u, sr in single.items():
        cr = curve20[u]
        assert (cr.n_cal, cr.qhat_cents, cr.n_test, cr.n_flagged, cr.coverage) == (
            sr.n_cal,
            sr.qhat_cents,
            sr.n_test,
            sr.n_flagged,
            sr.coverage,
        ), u
