"""The partition contract of ``recommended_conf``: a stateful stream
takes ``spark.sql.shuffle.partitions`` (one per core) as its state
partition count and the checkpoint freezes it, while batch plans start
from AQE's ``initialPartitionNum`` (3x cores)."""

import ast
import json
import pathlib
import re

import pandas as pd
from pyspark.sql import functions as F

from tsod_spark import DiffDetector
from tsod_spark.conf import build_session, recommended_conf
from tsod_spark.streaming import stream_detect, stream_histogram_drift

SCHEMA = "user_id long, event_type string, ts timestamp, value double"
T0 = pd.Timestamp("2024-01-01 00:00:00")


def _write_file(spark, path, i):
    pdf = pd.DataFrame(
        {
            "user_id": list(range(6)),
            "event_type": ["a", "b"] * 3,
            "ts": [T0 + pd.Timedelta(hours=i)] * 6,
            "value": [float(10 * i + u) for u in range(6)],
        }
    )
    spark.createDataFrame(pdf, SCHEMA).coalesce(1).write.parquet(f"{path}/b{i}")


def _state_partitions(ckpt):
    """``{operator id: sorted partition ids}`` under a checkpoint."""
    return {
        op.name: sorted(int(p.name) for p in op.iterdir() if p.name.isdigit())
        for op in (ckpt / "state").iterdir()
        if op.name.isdigit()
    }


def _offset_conf(ckpt, batch_id):
    # offsets/<id>: a version line, the batch metadata, then source offsets
    return json.loads((ckpt / "offsets" / str(batch_id)).read_text().splitlines()[1])["conf"]


def _drain_detect(spark, src_dir, ckpt, got):
    src = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(f"{src_dir}/b*")
    q = (
        stream_detect(DiffDetector(50.0), src, series=["user_id"])
        .writeStream.foreachBatch(lambda df, _: got.extend(df.collect()))
        .option("checkpointLocation", str(ckpt))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None


def test_state_partitions_follow_cores_and_batch_plans_keep_3x(restore_conf, tmp_path):
    spark = build_session("state-partitions", total_cores=2)
    src_dir, ckpt = tmp_path / "src", tmp_path / "ckpt_detect"
    for i in range(2):
        _write_file(spark, src_dir, i)

    got = []
    _drain_detect(spark, src_dir, ckpt, got)
    assert len(got) == 12
    assert _state_partitions(ckpt) == {"0": [0, 1]}
    assert _offset_conf(ckpt, 0)["spark.sql.shuffle.partitions"] == "2"

    # a native watermark aggregation gets the same count
    drift_ckpt = tmp_path / "ckpt_drift"
    src = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(f"{src_dir}/b*")
    reference = spark.read.schema(SCHEMA).parquet(f"{src_dir}/b0")
    q = (
        stream_histogram_drift(src, reference, window="1 hour", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("state_partitions_drift")
        .option("checkpointLocation", str(drift_ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    parts = _state_partitions(drift_ckpt)
    assert parts and all(p == [0, 1] for p in parts.values()), parts

    # batch plans on the same session start from 3x cores
    plan = (
        spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert set(re.findall(r"hashpartitioning\(.*, (\d+)\)", plan)) == {"6"}, plan

    # the checkpoint keeps its count when restarted under another one
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    _write_file(spark, src_dir, 2)
    _drain_detect(spark, src_dir, ckpt, got)
    assert len(got) == 18
    assert _state_partitions(ckpt) == {"0": [0, 1]}
    assert _offset_conf(ckpt, 2)["spark.sql.shuffle.partitions"] == "2"


def _literal_set_calls(tree, key):
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "set"
        and node.args
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == key
    ]


def test_no_module_sets_shuffle_partitions_per_operator():
    """The state-partition count is a session policy in
    ``recommended_conf``: an operator only builds a DataFrame, and a
    ``spark.conf.set`` there would leak into every later batch query."""
    key = "spark.sql.shuffle.partitions"
    pkg = pathlib.Path(__file__).resolve().parents[1] / "tsod_spark"
    hits = {
        path.relative_to(pkg).as_posix(): lines
        for path in pkg.rglob("*.py")
        if (lines := _literal_set_calls(ast.parse(path.read_text()), key))
    }
    assert not hits, f"conf.set({key!r}) outside recommended_conf: {hits}"
    conf = recommended_conf(4)
    assert conf[key] == "4"
    assert conf["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] == "12"


def test_sessions_are_built_only_by_build_session():
    """``conf.build_session`` is the one place a session is configured,
    so the tests, the bench and the scripts cannot drift apart. Exempt:
    ``perfbench/`` and the fresh-JVM probe in ``test_zipimport_cache``."""
    repo = pathlib.Path(__file__).resolve().parents[1]
    exempt = {"tsod_spark/conf.py", "tests/test_zipimport_cache.py"}
    hits = {}
    for path in repo.rglob("*.py"):
        rel = path.relative_to(repo)
        if rel.as_posix() in exempt or rel.parts[0] == "perfbench" or any(
            part.startswith(".") for part in rel.parts
        ):
            continue
        lines = [
            node.lineno
            for node in ast.walk(ast.parse(path.read_text()))
            if isinstance(node, ast.Attribute)
            and node.attr == "builder"
            and isinstance(node.value, ast.Name)
            and node.value.id == "SparkSession"
        ]
        if lines:
            hits[rel.as_posix()] = lines
    assert not hits, f"SparkSession.builder outside conf.build_session: {hits}"
