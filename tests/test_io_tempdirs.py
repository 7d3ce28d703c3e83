"""IO queries that stage data in a ``mkdtemp`` directory register it for
removal at exit, as every query in ``registry/io_queries.py`` does: a
long-lived session running them once per refresh would otherwise fill
the temp dir with one directory per call."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

import pytest

from avk_job_skill_analytics_spark.registry.io_queries import QUERIES

from conftest import SF_DIR


@pytest.mark.parametrize("name, prefix", [
    ("s2_s5_csv_roundtrip", "csv_roundtrip_"),
    ("s7_manifest_new_files", "manifest_"),
])
def test_query_temp_dir_is_removed_at_exit(spark, monkeypatch, name, prefix):
    registered, made = [], []
    mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        made.append(mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    monkeypatch.setattr(atexit, "register",
                        lambda fn, *a, **kw: registered.append((fn, a, kw)))
    try:
        QUERIES[name](spark, SF_DIR)
        ours = [d for d in made if os.path.basename(d).startswith(prefix)]
        assert len(ours) == 1, made
        assert (shutil.rmtree, (ours[0],), {"ignore_errors": True}) in registered
    finally:
        for d in made:
            shutil.rmtree(d, ignore_errors=True)
