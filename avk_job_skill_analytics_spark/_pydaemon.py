"""Python-worker daemon: ``pyspark.daemon`` with a stat-keyed zip cache.

Every task a Python worker runs calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), so that a file added with
``addPyFile`` since the last task becomes importable. On CPython up to
3.12 that call makes every ``zipimporter`` on ``sys.path`` re-read its
whole archive (``pyspark.zip`` once per importer over it). Here an
archive is re-read only when its ``(st_ino, st_size, st_mtime_ns)``
changed since the last read, and is otherwise served from
``zipimport._zip_directory_cache``: the directory dict is the same, so
no import resolves differently. ``plans.session.get_spark`` names this
module as ``spark.python.daemon.module``; the ``plans.session`` module
docstring gives the measured cost.
"""

from __future__ import annotations

import os
import runpy
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# keyed by archive path, like zipimport._zip_directory_cache, so one
# read serves every importer over the same archive
_read_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while
    the archive's stat stamp equals the one taken before its last
    read. The stamp is taken before the read, so a rewrite racing the
    read makes the next call read again."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate(self)
    _read_stamps[self.archive] = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
