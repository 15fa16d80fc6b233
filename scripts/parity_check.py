"""Replicates the driver's t2 correctness gate locally.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row counts, column names, and
values (order-insensitive, exact after normalization) — stricter than
any hash compare, so passing here implies passing the driver gate.

Usage: python scripts/parity_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if s.dtype == object and len(s) and isinstance(s.iloc[0], (bool,)):
            df[c] = s.astype(bool)
        try:
            import numpy as np

            if s.dtype.kind in "iu":
                df[c] = s.astype("int64")
            elif s.dtype.kind == "f":
                df[c] = s.astype("float64")
            elif s.dtype.kind == "M":
                df[c] = pd.to_datetime(s).dt.tz_localize(None)
        except (TypeError, ValueError):
            pass
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count {len(spark_pdf)} vs {len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns {sc} vs {dc}")
        return problems
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c], b[c]
            if av.dtype.kind == "f":
                eq = (av.fillna(math.nan) == bv.fillna(math.nan)) | (av.isna() & bv.isna())
                # exact float equality expected — count mismatches
                n_bad = int((~eq).sum())
                if n_bad:
                    idx = (~eq).idxmax()
                    problems.append(
                        f"col {c}: {n_bad} value mismatches, first at {idx}: {av[idx]!r} vs {bv[idx]!r}"
                    )
            else:
                eq = (av == bv) | (av.isna() & bv.isna())
                n_bad = int((~eq).sum())
                if n_bad:
                    idx = (~eq).idxmax()
                    problems.append(
                        f"col {c}: {n_bad} value mismatches, first at {idx}: {av[idx]!r} vs {bv[idx]!r}"
                    )
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from tsod_spark.conf import build_session

    spark = build_session(
        "parity", "local[8]", conf={"spark.sql.shuffle.partitions": "8"}
    )
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(spark_pdf)} rows  ({time.time() - t0:.1f}s)")
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({time.time() - t0:.1f}s): " + "; ".join(problems))
        else:
            n_pass += 1
            print(f"PASS {name}: {len(spark_pdf)} rows  ({time.time() - t0:.1f}s)")
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
