"""Oracle sweep: check event queries against their DuckDB oracle on many
seeds, in one Spark session, without timing anything.

    python3 perfbench/sweep.py 1001 1002 1003
    python3 perfbench/sweep.py --query ts_rolling_std_fit 1372344807

By default it checks ``fleet_detect``'s queries plus
``ts_rolling_std_fit``, which the workload leaves out (NOTES.md, "Known
oracle mismatches"). Inputs are generated with ``fleet_detect``'s
default traffic dimensions into the benchmark's cache. Prints one line
per seed and exits with 1 if any query disagrees with its oracle.
"""

from __future__ import annotations

import argparse
import os
import sys

import run


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("seeds", type=int, nargs="+")
    ap.add_argument("--query", action="append", help="query to check (default: see above)")
    args = ap.parse_args(argv)
    run._require_repo()

    import duckdb
    from parity_check import compare
    from pyspark.sql import SparkSession

    import __spark_entry__
    import child
    import gen

    names = args.query or child.FLEET_QUERIES + ["ts_rolling_std_fit"]
    params = run.WORKLOADS["fleet_detect"]["params"]
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.warehouse.dir", str(run.STATE / "work" / "sweep-warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    bad_seeds = 0
    try:
        for seed in args.seeds:
            d = gen.write_events(str(run.STATE / "cache"), seed, **params)
            con = duckdb.connect()
            con.sql(f"CREATE VIEW events AS SELECT * FROM '{os.path.join(d, 'events.parquet')}'")
            bad = [
                f"{q}: {'; '.join(p)}"
                for q in names
                if (p := compare(q, queries[q](spark, str(d)).toPandas(), con.sql(oracles[q]).df()))
            ]
            bad_seeds += bool(bad)
            print(seed, "ok" if not bad else " | ".join(bad), flush=True)
    finally:
        spark.stop()
    print(f"{len(args.seeds) - bad_seeds} of {len(args.seeds)} seeds match on {', '.join(names)}")
    sys.exit(1 if bad_seeds else 0)


if __name__ == "__main__":
    main()
