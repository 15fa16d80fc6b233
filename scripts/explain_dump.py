"""Dump `.explain("formatted")` for registered queries to files.

Usage: python scripts/explain_dump.py <out_dir> <suffix> <query> [query ...]

Writes <out_dir>/<query>_<suffix>.txt for each query — the plan
evidence the optimization rounds commit under plans/r<N>/.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    import bench
    from tsod_spark import registry
    from tsod_spark.conf import build_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(
        "tsod_spark-bench", f"local[{cpus}]", conf=bench.session_conf(cpus)
    )
    for name in names:
        df = registry.QUERIES[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")


if __name__ == "__main__":
    main()
