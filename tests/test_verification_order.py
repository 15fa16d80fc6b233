"""The driver's verification order, derived from the committed
CORRECTNESS_r*.json records: the record reader, the order it gives the
driver's 50-name window, and the CHANGED table that feeds it."""

import json
import pathlib
import subprocess
import sys

import pytest

from tsod_spark import registry

ROOT = pathlib.Path(__file__).resolve().parents[1]
GREEN = {"rows_match": True, "schema_match": True, "hash_match": True,
         "spark_rows": 3, "oracle_rows": 3, "err": None}


def _write(root, rnd, rows):
    (root / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(rows))


@pytest.mark.parametrize("reverse", [False, True])
def test_reader_takes_latest_green_round(tmp_path, monkeypatch, reverse):
    _write(tmp_path, "03", {
        "a": GREEN, "b": GREEN, "c": GREEN, "d": GREEN, "e": GREEN,
    })
    _write(tmp_path, "07", {
        "a": GREEN,
        "b": {**GREEN, "hash_match": False},
        "c": {**GREEN, "err": "AnalysisException"},
        # rows-only: no oracle to compare against
        "d": {"rows_match": None, "schema_match": None, "hash_match": None,
              "spark_rows": 3, "oracle_rows": None, "err": "no_oracle"},
        "f": {**GREEN, "rows_match": False},
    })
    _write(tmp_path, "99", {"e": GREEN})
    _write(tmp_path, "100", {"e": GREEN, "g": GREEN})
    glob = pathlib.Path.glob
    monkeypatch.setattr(
        pathlib.Path, "glob",
        lambda self, pat: iter(sorted(glob(self, pat), reverse=reverse)),
    )
    assert registry._latest_verified_rounds(tmp_path) == {
        "a": 7, "b": 3, "c": 3, "d": 3, "e": 100, "g": 100,
    }


def test_reader_without_records(tmp_path):
    assert registry._latest_verified_rounds(tmp_path) == {}


def test_committed_records_fold_r14_and_r15():
    assert registry._latest_verified_round("ts_theil_sen") == 15


def test_changed_names_lead_the_window():
    latest = registry._latest_verified_rounds()
    pending = {
        n for n, rnd in registry.CHANGED.items() if latest.get(n, 0) < rnd
    }
    window = list(registry.ordered_queries())[:50]
    assert pending <= set(window)
    r15 = json.loads((ROOT / "CORRECTNESS_r15.json").read_text())
    assert len(set(window) & set(r15)) <= len(pending)


def test_oracle_order_matches_query_order():
    assert list(registry.ordered_oracle()) == list(registry.ordered_queries())
    assert len(registry.ordered_oracle()) == len(registry.QUERIES)


def test_changed_names_are_registered():
    assert set(registry.CHANGED) <= set(registry.QUERIES)


def test_import_reads_no_record():
    code = (
        "import sys\n"
        "opened = []\n"
        "sys.addaudithook(lambda ev, args: ev == 'open'"
        " and 'CORRECTNESS_r' in str(args[0]) and opened.append(args[0]))\n"
        "import tsod_spark.registry as r\n"
        "print(len(opened))\n"
        "r.ordered_queries()\n"
        "print(len(opened) > 0)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, check=True,
    ).stdout.split()
    assert out[-2:] == ["0", "True"]
