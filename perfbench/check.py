"""Correctness gate: every sink the timed passes wrote is read back with
DuckDB and compared to the engine's own oracle, ``oracle_sql()``, with
``scripts/parity_check.compare``. Oracle results are cached next to the
generated inputs, keyed like them by (seed, params).
"""

from __future__ import annotations

import hashlib
import os

import duckdb

# ConstantValueDetector(3) looks two rows ahead (w - w // 2), the most of
# ts_combined's three detectors, so a drain may hold back up to two rows
# per series in state.
STREAM_LOOKAHEAD = 2


def _sink(path):
    return duckdb.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()


class Gate:
    def __init__(self, in_dir, table):
        import __spark_entry__
        from parity_check import compare

        self.compare = compare
        self.oracles = __spark_entry__.oracle_sql()
        self.in_dir = in_dir
        self.con = duckdb.connect()
        self.con.sql(
            f"CREATE VIEW {table} AS SELECT * FROM '{os.path.join(in_dir, table)}.parquet'"
        )
        self.problems: list[str] = []

    def oracle(self, name):
        """Oracle result as a DuckDB relation, computed once per input and
        oracle text."""
        sql = self.oracles[name]
        digest = hashlib.sha1(sql.encode()).hexdigest()[:12]
        cached = os.path.join(f"{self.in_dir}.oracle", f"{name}-{digest}.parquet")
        if not os.path.exists(cached):
            os.makedirs(os.path.dirname(cached), exist_ok=True)
            tmp = cached + ".tmp"
            self.con.sql(f"COPY ({sql}) TO '{tmp}' (FORMAT parquet)")
            os.replace(tmp, cached)
        return f"read_parquet('{cached}')"

    def fail(self, name, msg):
        self.problems.append(f"{name}: {msg}")

    def query(self, name, out_dir):
        got = _sink(os.path.join(out_dir, name))
        want = self.con.sql(f"SELECT * FROM {self.oracle(name)}").df()
        for p in self.compare(name, got, want):
            self.fail(name, p)

    def same(self, name, path, ref_path, rows):
        """Two Spark sinks must hold the same rows (``rows`` of them)."""
        got, want = _sink(path), _sink(ref_path)
        if len(got) != rows:
            self.fail(name, f"{len(got)} rows for {rows} input rows")
        for p in self.compare(name, got, want):
            self.fail(name, p)

    def stream(self, name, out_path, series):
        """Every emitted (user_id, ts) flag equals ts_combined's oracle,
        no row is emitted twice, and at most lookahead x series rows are
        held back. Returns (rows emitted, rows held)."""
        emitted, distinct, unmatched, wrong, total = self.con.sql(
            f"""WITH s AS (SELECT * FROM read_parquet('{out_path}/*.parquet')),
            j AS (SELECT s.is_anomaly AS got, o.is_anomaly AS want
                  FROM s LEFT JOIN events e ON e.user_id = s.user_id AND e.ts = s.ts
                  LEFT JOIN {self.oracle("ts_combined")} o ON o.event_id = e.event_id)
            SELECT (SELECT count(*) FROM s),
                   (SELECT count(*) FROM (SELECT DISTINCT user_id, ts FROM s)),
                   (SELECT count(*) FROM j WHERE want IS NULL),
                   (SELECT count(*) FROM j WHERE got IS DISTINCT FROM want AND want IS NOT NULL),
                   (SELECT count(*) FROM events)"""
        ).fetchone()
        held = total - distinct
        if emitted != distinct:
            self.fail(name, f"{emitted - distinct} rows emitted more than once")
        if unmatched:
            self.fail(name, f"{unmatched} emitted rows match no input row")
        if wrong:
            self.fail(name, f"{wrong} flags differ from the ts_combined oracle")
        if not 0 <= held <= STREAM_LOOKAHEAD * series:
            self.fail(name, f"{held} rows never emitted (bound {STREAM_LOOKAHEAD * series})")
        return emitted, held
