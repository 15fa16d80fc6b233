"""Isolated warm re-timer for a single registered query.

Usage: python scripts/time_one.py <query_name> [sf_dir] [n_runs]

Discipline (VERDICT r9/r10 adjudication protocol): one compile pass at
sf0.001, one absorber run at the target sf, then n timed runs; prints
each run and the median. clearCache between runs.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    import bench
    from tsod_spark import registry
    from tsod_spark.conf import build_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(
        "tsod_spark-bench", f"local[{cpus}]", conf=bench.session_conf(cpus)
    )
    q = registry.QUERIES[name]

    def _noop(df):
        df.write.format("noop").mode("overwrite").save()

    # compile pass at sf0.001
    _noop(q(spark, "/root/testdata/sf0.001"))
    spark.catalog.clearCache()
    # converged-warm absorbers at target sf (bench.py discipline: up to
    # 3 untimed runs, stop once non-increasing and within 1.3x of best)
    def _once():
        t0 = time.monotonic()
        _noop(q(spark, sf_dir))
        el = time.monotonic() - t0
        spark.catalog.clearCache()
        return el

    bench.converged_warm(_once)
    times = []
    for _ in range(n):
        t0 = time.monotonic()
        _noop(q(spark, sf_dir))
        times.append(round(time.monotonic() - t0, 3))
        spark.catalog.clearCache()
    import statistics

    print(json.dumps({"query": name, "sf_dir": sf_dir, "runs": times,
                      "median": round(statistics.median(times), 3)}))


if __name__ == "__main__":
    main()
