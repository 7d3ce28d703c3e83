"""The one availableNow drain (streaming/incremental.drain_available_now):
it owns the throwaway checkpoint and the shuffle-partition scope, so
both must be cleaned up and restored whether the drain succeeds or the
batch function raises, and a caller-owned checkpoint must survive."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.errors import StreamingQueryException

from avk_job_skill_analytics_spark.streaming.incremental import (
    drain_available_now,
)

SHUFFLE = "spark.sql.shuffle.partitions"


@pytest.fixture
def drain_env(spark, tmp_path, monkeypatch):
    """A one-file parquet source, a private temp dir for throwaway
    checkpoints, a scoped count of 3 and a session count of 5."""
    src = str(tmp_path / "src")
    spark.range(10).coalesce(1).write.parquet(src)
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE", "3")
    old = spark.conf.get(SHUFFLE)
    spark.conf.set(SHUFFLE, "5")
    stream = spark.readStream.schema("id long").parquet(src)
    yield stream, tmp
    spark.conf.set(SHUFFLE, old)


def test_drain_scopes_shuffle_and_removes_checkpoint(spark, drain_env):
    stream, tmp = drain_env
    seen = []

    def batch(bdf, _epoch):
        seen.append((
            bdf.count(),
            bdf.sparkSession.conf.get(SHUFFLE),
            sorted(p.name[:5] for p in tmp.iterdir()),
        ))

    drain_available_now(spark, stream.writeStream.foreachBatch(batch))
    assert seen == [(10, "3", ["ckpt_"])]
    assert list(tmp.iterdir()) == []
    assert spark.conf.get(SHUFFLE) == "5"


def test_drain_cleans_up_when_the_batch_raises(spark, drain_env):
    stream, tmp = drain_env

    def batch(_bdf, _epoch):
        assert len(list(tmp.iterdir())) == 1
        raise RuntimeError("sink exploded")

    with pytest.raises(StreamingQueryException, match="sink exploded"):
        drain_available_now(spark, stream.writeStream.foreachBatch(batch))
    assert list(tmp.iterdir()) == []
    assert spark.conf.get(SHUFFLE) == "5"


def test_drain_keeps_caller_owned_checkpoint(spark, drain_env, tmp_path):
    stream, tmp = drain_env
    ckpt = str(tmp_path / "ckpt")
    rows = []

    def batch(bdf, _epoch):
        rows.append(bdf.count())

    writer = stream.writeStream.foreachBatch(batch)
    drain_available_now(spark, writer, checkpoint=ckpt)
    assert rows == [10]
    assert os.path.isdir(os.path.join(ckpt, "commits"))
    # the kept checkpoint remembers the file: a re-drain reads nothing
    drain_available_now(spark, writer, checkpoint=ckpt)
    assert sum(rows) == 10
    assert list(tmp.iterdir()) == []
    assert spark.conf.get(SHUFFLE) == "5"


def test_drain_defaults_to_one_wave_of_task_slots(spark, drain_env, monkeypatch):
    stream, _tmp = drain_env
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE")
    seen = []

    def batch(bdf, _epoch):
        seen.append(bdf.sparkSession.conf.get(SHUFFLE))

    drain_available_now(spark, stream.writeStream.foreachBatch(batch))
    assert seen == [str(min(8, spark.sparkContext.defaultParallelism))]
    assert spark.conf.get(SHUFFLE) == "5"
