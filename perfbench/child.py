"""The measured process: one workload in a fresh Spark session.

Started by ``run.py`` with a JSON config; builds the session from
``tsod_spark.conf.recommended_conf``, absorbs JIT warm-up with
``bench.converged_warm``, runs timed passes for the configured seconds
and prints one JSON line of raw measurements. Inputs are generated
beforehand and correctness is checked afterwards, both by the parent,
so neither is inside this process tree.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import sys
import time

# ts_rolling_std_fit is left out: on some seeds it disagrees with its
# oracle (see NOTES.md, "Known oracle mismatches"); ts_rolling_std runs
# the same centered rolling-stddev window against a fixed threshold.
FLEET_QUERIES = [
    "ts_range_quantile", "ts_diff_fit", "ts_gradient_fit", "ts_rolling_std",
    "ts_constant_value", "ts_hampel", "ts_combined",
]
CORPUS_QUERIES = [
    "doc_stats", "dedup_exact", "dedup_minhash_groups", "dedup_simhash_pairs",
    "dedup_incremental", "doc_decontaminate", "doc_curation_pipeline",
]
API_OP = "detector_api"
# the median of three passes drops a slow first pass after warm-up
MIN_PASSES = 3
STREAM_OP = "stream_detect"


# ---------------------------------------------------------------------------
# session


def build_session(cfg):
    from pyspark.sql import SparkSession

    from tsod_spark.conf import recommended_conf

    nproc = cfg["nproc"]
    work = cfg["work_dir"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = SparkSession.builder.master(f"local[{nproc}]").appName(f"perfbench-{cfg['workload']}")
    for k, v in recommended_conf(nproc).items():
        b = b.config(k, v)
    # local-run overrides: UI off, fixed driver heap, JIT code cache, and
    # every working path inside the working directory
    b = (
        b.config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing "
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        )
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    if cfg["trace"]:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{log_dir}")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# ops: each is (name, build, sink); build() constructs the DataFrame
# (driver-side work, including any eager jobs) and sink(df) executes it


def _parquet_sink(path):
    def sink(df):
        df.write.mode("overwrite").parquet(path)

    return sink


def query_ops(names, in_dir, out_dir, spark):
    import __spark_entry__

    qs = __spark_entry__.queries()
    return [
        (n, (lambda n=n: qs[n](spark, in_dir)), _parquet_sink(os.path.join(out_dir, n)))
        for n in names
    ]


def api_detector():
    from tsod_spark import (
        CombinedDetector, DiffDetector, RangeDetector, RollingStandardDeviationDetector,
    )

    return CombinedDetector(
        [RangeDetector(quantiles=[0.02, 0.98]), DiffDetector(), RollingStandardDeviationDetector(10)]
    )


class ApiLoop:
    """The user loop: fit a per-series detector on normal (non-error)
    events, ``save`` it, ``load`` it back and detect on every event."""

    def __init__(self, spark, in_dir, out_dir, tracer):
        self.spark, self.in_dir, self.tracer = spark, in_dir, tracer
        self.model_path = os.path.join(out_dir, "detector_api_model.json")
        self.sink = _parquet_sink(os.path.join(out_dir, API_OP))
        self.fitted = None

    def _tsf(self, df):
        from tsod_spark import TimeSeriesFrame

        return TimeSeriesFrame(df, series=["user_id"], tiebreak=["event_id"])

    def build(self):
        import tsod_spark
        from tsod_spark.queries._base import table

        t = self.tracer
        events = table(self.spark, self.in_dir, "events")
        with t.span("detectors.fit"):
            det = api_detector().fit(self._tsf(events.where("event_type <> 'error'")))
        with t.span("persistence.save", group="save"):
            tsod_spark.save(det, self.model_path)
        with t.span("persistence.load", group="load"):
            loaded = tsod_spark.load(self.model_path, self.spark)
        with t.span("detectors.plan"):
            out = loaded.detect(self._tsf(events)).select("event_id", "is_anomaly")
        self.fitted = det
        return out

    def reference(self, path):
        """Detect with the in-memory fitted detector of the last build."""
        from tsod_spark.queries._base import table

        events = table(self.spark, self.in_dir, "events")
        out = self.fitted.detect(self._tsf(events)).select("event_id", "is_anomaly")
        out.write.mode("overwrite").parquet(path)


def stream_detector():
    from tsod_spark import CombinedDetector, ConstantValueDetector, DiffDetector, RangeDetector

    # ts_combined's detector
    return CombinedDetector(
        [RangeDetector(1.0, 300.0), DiffDetector(80.0), ConstantValueDetector(3, 5.0)]
    )


class Drain:
    """One full drain of the file stream from a fresh checkpoint:
    ``maxFilesPerTrigger=1`` with ``availableNow``, detections appended
    to parquet through ``foreachBatch``. The next file is read only
    after the previous batch commits (a closed loop)."""

    def __init__(self, spark, src_dir, files, out_dir):
        self.spark, self.src_dir, self.files = spark, src_dir, files
        self.out = os.path.join(out_dir, STREAM_OP)
        self.ckpt = os.path.join(out_dir, f"{STREAM_OP}.ckpt")
        self.progress: list[dict] = []

    def build(self):
        from tsod_spark.encodings import normalize_ts
        from tsod_spark.streaming import stream_detect

        for p in (self.out, self.ckpt):
            shutil.rmtree(p, ignore_errors=True)
        schema = self.spark.read.parquet(os.path.join(self.src_dir, "events.parquet")).schema
        src = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(self.src_dir, "stream"))
        )
        return stream_detect(stream_detector(), normalize_ts(src), series=["user_id"])

    def sink(self, df):
        out = self.out

        def write_batch(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            df.writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", self.ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.progress = [json.loads(p.json) for p in q.recentProgress]
        if len([p for p in self.progress if p["numInputRows"]]) < self.files:
            raise RuntimeError(f"drain saw {len(self.progress)} batches for {self.files} files")


# ---------------------------------------------------------------------------
# runner


class Runner:
    def __init__(self, spark, tracer):
        self.spark, self.tracer = spark, tracer
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def run_op(self, name, build, sink, timed):
        """Construct + execute one op; returns wall seconds."""
        t = self.tracer
        t0 = time.perf_counter()
        if timed:
            self.attempted += 1
        try:
            with t.span(f"op.{name}"):
                with t.span(f"op.{name}.construct", group=f"{name}|construct"):
                    df = build()
                with t.span(f"op.{name}.exec", group=f"{name}|exec"):
                    sink(df)
        except Exception as e:  # noqa: BLE001 - counted and reported per op
            if not timed:
                raise
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:300]}")
        elapsed = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        gc.collect()
        return elapsed


def main():
    cfg = json.loads(sys.argv[1])
    t_spawn = cfg["t_spawn"]
    sys.path.insert(0, cfg["repo"])
    import bench

    from tracing import NullTracer, Tracer, tree_cpu_s

    tracer = Tracer() if cfg["trace"] else NullTracer()
    spark = build_session(cfg)
    tracer.install(spark)
    runner = Runner(spark, tracer)
    wl, in_dir, out_dir = cfg["workload"], cfg["in_dir"], cfg["out_dir"]
    os.makedirs(out_dir, exist_ok=True)

    api = None
    if wl == "fleet_detect":
        ops = query_ops(FLEET_QUERIES, in_dir, out_dir, spark)
        api = ApiLoop(spark, in_dir, out_dir, tracer)
        ops.append((API_OP, api.build, api.sink))
    elif wl == "corpus_curate":
        ops = query_ops(CORPUS_QUERIES, in_dir, out_dir, spark)
    else:
        drain = Drain(spark, in_dir, cfg["params"]["files"], out_dir)
        ops = [(STREAM_OP, drain.build, drain.sink)]

    def one_pass(timed):
        t0 = time.perf_counter()
        times = {name: runner.run_op(name, build, sink, timed) for name, build, sink in ops}
        return time.perf_counter() - t0, times

    # untimed warm-up: whole passes until the pass time stops falling
    tracer.start_pass("warm")
    bench.converged_warm(lambda: one_pass(False)[0])
    setup_s = time.time() - t_spawn

    passes = []
    deadline = time.perf_counter() + cfg["seconds"]
    while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
        tracer.start_pass(f"p{len(passes)}")
        c0 = tree_cpu_s()
        rec = {"start": time.time()}
        rec["wall_s"], rec["ops"] = one_pass(True)
        rec["cpu_s"] = tree_cpu_s() - c0
        rec["end"] = time.time()
        if wl == "stream_monitor":
            rec["progress"] = drain.progress
        passes.append(rec)

    tracer.start_pass("check")
    if api is not None:
        api.reference(os.path.join(out_dir, API_OP + "_ref"))
    result = {
        "setup_s": setup_s,
        "passes": passes,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "errors": runner.errors,
    }
    spark.stop()
    result["peak_rss_mb"] = tracer.finish(os.path.join(cfg["work_dir"], "spans.jsonl"))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
