"""Skip re-reading unchanged zip archives on ``importlib.invalidate_caches()``.

A PySpark Python worker calls ``importlib.invalidate_caches()`` at the
start of every task. Before CPython 3.13, ``zipimporter.invalidate_caches``
re-reads the archive's whole central directory at once, and a worker
holds one importer per package path inside ``pyspark.zip`` (16-18 of
them), so each task reads the 1,328-entry directory that many times.

``install()`` replaces that method with one that re-reads an archive
only when its ``(st_mtime_ns, st_size, st_ino)`` changed since the last
read, and otherwise reuses ``zipimport._zip_directory_cache``. CPython
3.13+ already re-reads lazily (its importer has ``_get_files``), so
nothing is installed there. ``tsod_spark/__init__.py`` calls
``install()``, so every worker that unpickles an engine UDF gets it.
"""

from __future__ import annotations

import os
import zipimport

_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _make_invalidate_caches(reread):
    def invalidate_caches(self):
        """Reload the archive's file data only if the archive changed."""
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        # Stat before reading: a write racing the read leaves a stale
        # stamp, so the next call reads again.
        reread(self)
        _stamps[self.archive] = stamp

    return invalidate_caches


def install(importer=zipimport.zipimporter) -> bool:
    """Patch ``importer.invalidate_caches``; return whether it is patched.

    Idempotent, and a no-op where the stdlib importer already re-reads
    lazily."""
    current = importer.invalidate_caches
    if current.__module__ == __name__:
        return True
    if hasattr(importer, "_get_files"):
        return False
    importer.invalidate_caches = _make_invalidate_caches(current)
    return True
