"""The Python-worker daemon (``avk_job_skill_analytics_spark._pydaemon``).

Its ``zipimporter.invalidate_caches`` must give the same directory as
the stock one, re-reading an archive only when the archive changed. In
a ``get_spark`` session every worker must run it (no per-task re-read),
still import a ``.py`` file added after the session started, and start
whatever the driver's cwd and ``PYTHONPATH``: a daemon that fails to
import fails every Python task.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from avk_job_skill_analytics_spark import _pydaemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def _count_reads(monkeypatch) -> list:
    reads = []
    stock = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pd_same_a": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    _pydaemon.invalidate_caches(imp)  # first call reads and stamps
    before = dict(imp._files)
    reads = _count_reads(monkeypatch)
    for _ in range(3):
        _pydaemon.invalidate_caches(imp)
    assert reads == []
    assert imp._files == before == zipimport._read_directory(archive)


def test_rewritten_archive_makes_new_module_importable(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _pydaemon.invalidate_caches)
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pd_rw_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("pd_rw_a").X == 1
        _write_zip(archive, {"pd_rw_a": "X = 1\n", "pd_rw_b": "Y = 2\n"})
        reads = _count_reads(monkeypatch)
        importlib.invalidate_caches()
        assert archive in reads
        assert importlib.import_module("pd_rw_b").Y == 2
    finally:
        sys.modules.pop("pd_rw_a", None)
        sys.modules.pop("pd_rw_b", None)


def test_missing_archive_behaves_like_stock(tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pd_gone_a": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    _pydaemon.invalidate_caches(imp)
    os.remove(archive)
    for invalidate in (_pydaemon.invalidate_caches,
                       _pydaemon._stock_invalidate):
        imp._files = {"stale": None}
        invalidate(imp)  # no raise
        assert imp._files == {}
        assert archive not in zipimport._zip_directory_cache


def test_session_workers_skip_rereads_and_see_added_py_files(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == _pydaemon.__name__

    def reads_per_invalidate(_it):
        import importlib
        import zipimport

        reads = []
        stock = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return stock(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        n = sum(isinstance(v, zipimport.zipimporter)
                for v in sys.path_importer_cache.values())
        yield len(reads), n

    got = sc.parallelize(range(2), 2).mapPartitions(reads_per_invalidate).collect()
    assert [r for r, _ in got] == [0, 0]
    assert all(n > 0 for _, n in got)  # the workers do hold zip importers

    added = tmp_path / "pd_added_later.py"
    added.write_text("VALUE = 41\n")
    sc.addPyFile(str(added))

    def import_added(_it):
        import pd_added_later

        yield pd_added_later.VALUE + 1

    assert sc.parallelize(range(2), 2).mapPartitions(import_added).collect() == [42, 42]


def test_session_from_foreign_cwd_without_pythonpath_runs_pandas_udf(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from avk_job_skill_analytics_spark.plans.session import get_spark

        spark = get_spark(app_name="pydaemon-cwd", master="local[1]",
                          shuffle_partitions=1)

        @pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        rows = spark.range(3).select(plus_one("id").alias("v")).collect()
        print("RESULT", sorted(r.v for r in rows))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert "RESULT [1, 2, 3]" in out.stdout, out.stderr[-3000:]
