"""The zip-directory cache of ``tsod_spark._zipimport``: an unchanged
archive is not re-read on ``importlib.invalidate_caches()``, a changed
one is, and the patch reaches the Python workers of a Spark session."""

import importlib
import json
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport
from pathlib import Path

import pytest

from tsod_spark import _zipimport  # importing tsod_spark installs the patch

REPO = Path(__file__).resolve().parents[1]

eager = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this CPython's zipimporter already re-reads lazily",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding one imported module, plus a counter of
    directory reads of that zip."""
    path = tmp_path / "pkgs.zip"
    first = f"zc_{uuid.uuid4().hex[:8]}"
    _write_zip(path, {first: "X = 1\n"})
    monkeypatch.syspath_prepend(str(path))
    importlib.import_module(first)
    importlib.invalidate_caches()  # records the archive's stamp

    reads = []
    real = zipimport._read_directory

    def counting(p):
        if p == str(path):
            reads.append(p)
        return real(p)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, first, reads
    for name in [n for n in sys.modules if n.startswith("zc_")]:
        del sys.modules[name]


@eager
def test_unchanged_archive_is_not_reread(archive):
    _, _, reads = archive
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


@eager
@pytest.mark.parametrize("how", ["size", "mtime", "replace"])
def test_rewritten_archive_is_reread(archive, how):
    path, first, reads = archive
    added = "zc_" + uuid.uuid4().hex[:8]  # same length as ``first``
    st = os.stat(path)
    if how == "size":
        _write_zip(path, {first: "X = 1\n", added: "X = 2\n"})
        assert os.stat(path).st_size != st.st_size
    elif how == "mtime":
        # same size, same inode: only the content and mtime differ
        _write_zip(path, {added: "X = 2\n"})
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        st2 = os.stat(path)
        assert (st2.st_size, st2.st_ino) == (st.st_size, st.st_ino)
    else:
        tmp = path.with_suffix(".new")
        _write_zip(tmp, {first: "X = 1\n", added: "X = 2\n"})
        os.replace(tmp, path)
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module(added).X == 2
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_install_twice_is_a_noop():
    before = zipimport.zipimporter.invalidate_caches
    patched = _zipimport.install()
    assert _zipimport.install() == patched
    assert zipimport.zipimporter.invalidate_caches is before
    assert (before.__module__ == _zipimport.__name__) == patched


def test_nothing_installed_on_a_lazy_importer():
    class LazyImporter:
        def _get_files(self):
            return {}

        def invalidate_caches(self):
            pass

    original = LazyImporter.invalidate_caches
    assert _zipimport.install(LazyImporter) is False
    assert LazyImporter.invalidate_caches is original


# A fresh local[2] session, 16 tasks a job. Each task reports the
# directory reads its worker made since the previous task there (so the
# reads of the task's own start-up cache reset), and which
# invalidate_caches it saw. The first job's function does not reference
# the engine; the second's does, so unpickling it imports tsod_spark in
# the worker.
_WORKER_PROBE = r"""
import json, os, sys, zipimport
import pandas as pd
from pyspark.sql import SparkSession
import tsod_spark

def probe(batches, engine):
    st = getattr(zipimport, "_zc_probe", None)
    if st is None:
        st = zipimport._zc_probe = {"reads": 0, "seen": 0, "tasks": 0}
        real = zipimport._read_directory
        def counting(p):
            st["reads"] += 1
            return real(p)
        zipimport._read_directory = counting
    reads, st["seen"] = st["reads"] - st["seen"], st["reads"]
    st["tasks"] += 1
    for _ in batches:
        pass
    zips = sum(isinstance(f, zipimport.zipimporter)
               for f in sys.path_importer_cache.values())
    yield pd.DataFrame({
        "pid": [os.getpid()], "task": [st["tasks"]], "engine": [engine],
        "reads": [reads], "zips": [zips],
        "module": [zipimport.zipimporter.invalidate_caches.__module__],
    })

def plain(batches):
    yield from probe(batches, False)

def engine(batches):
    tsod_spark.__version__
    yield from probe(batches, True)

spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
schema = "pid long, task long, engine boolean, reads long, zips long, module string"
rows = []
for fn in (plain, engine):
    df = spark.range(0, 32, 1, 16).mapInPandas(fn, schema)
    rows += [r.asDict() for r in df.collect()]
spark.stop()
print(json.dumps(rows))
"""


@eager
def test_patch_reaches_python_workers():
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join([str(REPO), env.get("PYTHONPATH", "")])
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE],
        cwd=str(REPO), env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rows = json.loads(out.stdout.strip().splitlines()[-1])
    if not any(r["zips"] for r in rows):
        pytest.skip("the Python workers import nothing from a zip archive")

    # Control: without the engine, every later task re-reads the zips.
    plain = [r for r in rows if not r["engine"] and r["task"] > 1]
    assert plain and all(r["reads"] > 0 for r in plain)

    # Every engine task runs with the patch installed. A worker's first
    # engine task imports the engine (its start-up reset was unpatched)
    # and its second records each archive's stamp with one read; from
    # then on a task's cache reset reads nothing.
    by_pid = {}
    for r in sorted(rows, key=lambda r: r["task"]):
        if r["engine"]:
            assert r["module"] == "tsod_spark._zipimport"
            by_pid.setdefault(r["pid"], []).append(r)
    settled = [r for tasks in by_pid.values() for r in tasks[2:]]
    assert settled
    assert all(r["reads"] == 0 for r in settled), settled
