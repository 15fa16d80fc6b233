"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``tsod_spark`` package (see SURVEY.md §2
for the operator inventory each query implements).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from tsod_spark import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the fused
    five-detector anomaly sweep over the events stream."""
    return registry.flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # the driver's oracle run covers the first 50 entries per round, so
    # order by the committed CORRECTNESS_r*.json records: names without
    # a verdict on their current code first, then stalest verdict first
    return registry.ordered_queries()


def oracle_sql() -> dict[str, str]:
    return registry.ordered_oracle()
