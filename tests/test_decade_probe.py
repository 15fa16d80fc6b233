"""The decade probe's materializer keeps the horizontal-growth contract
on both layers: 10x rows with unique keys and intact foreign keys, fixed
dims at 1x, and a per-copy word salt on the documents."""

import importlib.util
import pathlib

from pyspark.sql import functions as F

from tsod_spark.registry import table

SF = "/root/testdata/sf0.001"
PROBE = pathlib.Path(__file__).resolve().parents[1] / "scripts" / "decade_probe.py"


def _probe():
    spec = importlib.util.spec_from_file_location("decade_probe", PROBE)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_materialized_layers_keep_the_growth_contract(spark, tmp_path):
    probe = _probe()
    src = SF
    for decade in ("sf1", "sf10"):
        dst = str(tmp_path / decade)
        probe.materialize(spark, src, dst, decade)
        for name in probe.STRIDES:
            mult = 1 if name in probe.FIXED_DIMS else probe.MULT
            assert table(spark, dst, name).count() == mult * table(spark, src, name).count(), (
                decade, name,
            )
        for name, key in (
            ("events", "event_id"),
            ("documents", "doc_id"),
            ("embeddings", "vec_id"),
            ("orders", "o_orderkey"),
        ):
            df = table(spark, dst, name)
            assert df.select(key).distinct().count() == df.count(), (decade, key)
        li, orders = table(spark, dst, "lineitem"), table(spark, dst, "orders")
        orphans = li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
        assert orphans.count() == 0, decade

        d = probe.DECADES[decade]
        stride = probe.STRIDES["documents"]["doc_id"] * d.stride_mult
        copy = F.floor(F.col("doc_id") / stride)
        prefix = F.concat(F.lit(d.salt), copy.cast("string"))
        words = F.filter(F.split("text", r"\s+"), lambda w: w != "")
        docs = table(spark, dst, "documents").where(copy > 0)
        assert docs.count() == (probe.MULT - 1) * table(spark, src, "documents").count()
        assert docs.where(~F.forall(words, lambda w: w.startswith(prefix))).count() == 0, decade
        src = dst
