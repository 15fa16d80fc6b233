"""Cluster session configuration for the engine at scale.

The repo's tests run on ``local[N]``; this module is the single place
that encodes how the same plans should be configured on a real
multi-executor cluster against ~100 TB. Everything here is standard
Spark configuration — no custom scheduler, no bespoke runtime.
:func:`build_session` is the one place a session is built, for the
cluster, the tests, the bench and every script alike.

Rationale per knob (all measured/derived, not folklore):

- **AQE on** (+skew-join): runtime re-planning converts our
  statically-chosen shuffle partition counts into right-sized ones,
  and splits the hot LSH band / stopword term partitions the dedup
  and TF-IDF operators create.
- **Two shuffle counts: cores for stateful streams, 3x cores for
  batch plans.** The window detectors partition by series key and
  the dedup family by band/bucket; both generate many small-ish
  tasks and AQE coalesces the excess, so batch plans start from
  ``coalescePartitions.initialPartitionNum`` = 3x total cores (with
  AQE and coalescing on, Spark reads that key, not
  ``shuffle.partitions``, as a batch plan's shuffle count). A
  streaming query runs with AQE off, so it reads
  ``spark.sql.shuffle.partitions`` = total cores as its
  state-partition count, and the checkpoint freezes it: every
  ``applyInPandasWithState`` operator runs exactly that many Python
  tasks each micro-batch however few keys the batch holds, as do the
  native watermark aggregations, the stream-stream join and the
  ``foreachBatch`` sink's write. 12 → 4 state partitions took
  ``stream_monitor``'s median micro-batch from ~1.48 s to ~0.90 s on
  4 vCPUs. The count cannot come from the key count (unknown when the
  plan is built), and it cannot be set per operator in
  ``streaming._fold.keyed_fold``: that only builds a DataFrame, Spark
  reads the count when ``writeStream.start()`` first runs, and a
  ``spark.conf.set`` there would leak into every later batch query
  of the caller's session.
- **Python-worker import caches**: on CPython < 3.13 every Python task
  re-read ``pyspark.zip`` once per cached zip importer (~170 ms of
  CPU a task); importing ``tsod_spark`` makes workers skip archives
  that have not changed (``tsod_spark._zipimport``). No setting.
- **files.maxPartitionBytes 256m**: scan tasks sized so a full
  row-group of the wide ``documents``/``lineitem`` tables plus
  decode overhead fits executor memory alongside a shuffle buffer.
- **broadcastJoinThreshold 64m**: every dimension table join in the
  TPC-H family and the benchmark n-gram set in decontamination are
  designed to broadcast; the default 10m is too small for the
  benchmark-set pattern at real benchmark sizes.
- **parquet nanosAsLong**: fixture parquet has shipped ``ts`` as
  TIMESTAMP(NANOS) in some rounds; all encodings are normalized in
  ``tsod_spark.encodings.normalize_ts``.
- **session timeZone UTC**: makes the TIMESTAMP_NTZ → TIMESTAMP cast
  in ``encodings.normalize_ts`` a pure reinterpretation.
"""

from __future__ import annotations


def recommended_conf(
    total_cores: int = 32,
    shuffle_partition_factor: int = 3,
) -> dict[str, str]:
    """Config dict for a cluster session running these plans at scale.

    Stateful streams get one state partition per core;
    ``shuffle_partition_factor`` scales only the batch plans' initial
    shuffle count.
    """
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.shuffle.partitions": str(total_cores),
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
            total_cores * shuffle_partition_factor
        ),
        "spark.sql.files.maxPartitionBytes": "256m",
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    }


# Every local[...] session: no UI or console progress bar, UTC, and a
# 2g JIT code cache. Codegen-heavy plans overflow the JVM's default
# 240m code cache once a session runs many of them; when it fills,
# compilation stops and generated code runs interpreted 3-10x slower
# (measured: 165 plans, dedup pairs phase 3s -> 10s across trials,
# steady 1.6s with the flag).
LOCAL_CONF = {
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.extraJavaOptions": (
        "-XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing"
    ),
}


def build_session(app_name: str = "tsod_spark", master: str | None = None,
                  total_cores: int = 32, conf: dict[str, str] | None = None):
    """SparkSession for ``app_name``: the repo's one session builder.

    ``conf=None`` applies :func:`recommended_conf` for ``total_cores``;
    a caller that measures or tests under other settings passes them
    as ``conf`` instead. ``master=None`` defers to the environment
    (spark-submit / cluster manager); a ``local[...]`` master adds
    ``LOCAL_CONF`` under ``conf`` and sets the log level to ERROR.
    """
    from pyspark.sql import SparkSession

    opts = recommended_conf(total_cores) if conf is None else conf
    local = master is not None and master.startswith("local")
    if local:
        opts = {**LOCAL_CONF, **opts}
    b = SparkSession.builder.appName(app_name)
    if master is not None:
        b = b.master(master)
    for k, v in opts.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if local:
        spark.sparkContext.setLogLevel("ERROR")
    return spark
