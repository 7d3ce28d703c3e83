"""Shared commit-protocol hardening (ADVICE r7): tombstone grace for
in-flight readers, journal overwrite refusal, create-only markers,
bounded epoch-guard state, and the versioned cutover's crash windows
and per-trigger filesystem calls."""

from __future__ import annotations

import collections
import os

import pytest
from conftest import is_dir
from pyspark.sql import functions as F

from avk_job_skill_analytics_spark.streaming.fsio import (
    Cutover,
    IndexFS,
    committed_batch_ids,
    read_journal,
    write_journal,
)
from avk_job_skill_analytics_spark.streaming.batched_index import (
    committed_table_dirs,
)
from avk_job_skill_analytics_spark.streaming.minhash_stream import (
    _lsh_maintain_batch_fn,
    compact_lsh_index,
)

T = "the quick brown fox jumps over the lazy dog again and again"


def test_inflight_reader_snapshot_survives_compaction(spark, tmp_path):
    """ADVICE r7 #2: a reader that resolved its committed set an
    instant BEFORE a compaction commits must still find every file of
    that snapshot alive when it scans — consumed leaves are
    tombstoned for one full cycle, not deleted at apply."""
    d = str(tmp_path / "idx")
    os.makedirs(d)
    fs = IndexFS(spark, d)
    sink = _lsh_maintain_batch_fn(d, "doc_id", "text", 3, 16, 8, 0.5, 7)
    sink(spark.createDataFrame([(1, T)], "doc_id long, text string"), 0)
    sink(spark.createDataFrame(
        [(2, "entirely different corpus words")],
        "doc_id long, text string"), 1)
    # the in-flight reader: resolves NOW, scans LATER (lazy plan)
    pre_dirs = committed_table_dirs(fs, "bands")
    lazy = spark.read.parquet(*pre_dirs).select("_idx_id", "band", "sig")
    snapshot = sorted(map(tuple, lazy.collect()))
    compact_lsh_index(spark, d)
    # post-compaction: the pre-compaction snapshot's files are intact
    assert sorted(map(tuple, lazy.collect())) == snapshot
    assert sorted(
        map(tuple, spark.read.parquet(*pre_dirs)
            .select("_idx_id", "band", "sig").collect())
    ) == snapshot
    # while NEW readers resolve only the generation (no double-count)
    post = sorted(
        map(tuple, spark.read.parquet(*committed_table_dirs(fs, "bands"))
            .select("_idx_id", "band", "sig").collect())
    )
    assert post == snapshot


def test_v2_root_still_drops_uncommitted_generation(spark, tmp_path):
    """An unmarkered negative generation is pre-commit garbage: it is
    never read and the next compaction reclaims it."""
    d = str(tmp_path / "idx")
    os.makedirs(d)
    fs = IndexFS(spark, d)
    sink = _lsh_maintain_batch_fn(d, "doc_id", "text", 3, 16, 8, 0.5, 7)
    sink(spark.createDataFrame([(1, T)], "doc_id long, text string"), 0)
    # a compaction that crashed BEFORE its journal commit
    spark.createDataFrame(
        [(77, 0, 1)], "_idx_id long, band int, sig long"
    ).write.parquet(f"{d}/bands/batch=-1")
    spark.createDataFrame(
        [(77, [1], 1)], "_idx_id long, _idx_sh array<long>, _idx_n int"
    ).write.parquet(f"{d}/sets/batch=-1")
    assert "-1" not in committed_batch_ids(fs)
    compact_lsh_index(spark, d)
    rows = sorted(
        map(tuple, spark.read.parquet(*committed_table_dirs(fs, "bands"))
            .select("_idx_id", "band", "sig").collect())
    )
    assert not any(r[0] == 77 for r in rows)  # garbage reclaimed


def test_write_journal_refuses_pending_overwrite(spark, tmp_path):
    """ADVICE r7 #4: a pending (committed, unapplied) journal must
    never be overwritten — the new compaction has to recover first."""
    d = str(tmp_path / "idx")
    os.makedirs(d)
    fs = IndexFS(spark, d)
    write_journal(fs, -1, ["0"])
    with pytest.raises(IOError, match="pending compaction journal"):
        write_journal(fs, -2, ["1"])
    assert read_journal(fs) == {"gen": -1, "consumed": ["0"]}


def test_touch_is_create_only(spark, tmp_path):
    """Markers are create-only: re-touching an existing file is a
    no-op, never a truncate-recreate."""
    d = str(tmp_path / "idx")
    os.makedirs(d)
    fs = IndexFS(spark, d)
    fs.write_text("_batch_7", "sentinel-content")
    fs.touch("_batch_7")
    assert fs.read_text("_batch_7") == "sentinel-content"


def test_epoch_guard_state_is_bounded():
    """ADVICE r7 #5: the foreachBatch epoch-guard set prunes behind
    the redelivery horizon instead of growing one entry per trigger
    forever — while every applied epoch still reads as applied."""
    from avk_job_skill_analytics_spark.streaming.incremental import (
        epoch_already_applied,
        epoch_mark_applied,
    )

    state = {"seen": set()}
    for e in range(5000):
        assert not epoch_already_applied(state, e)
        epoch_mark_applied(state, e, horizon=128)
        assert epoch_already_applied(state, e)
    assert len(state["seen"]) <= 129
    # every historical epoch is still guarded (floor semantics)
    assert all(epoch_already_applied(state, e) for e in range(0, 5000, 97))
    # and a genuinely new epoch is not
    assert not epoch_already_applied(state, 5000)


def test_upsert_retire_grace(spark, tmp_path):
    """ADVICE r7 #5: the immediately-superseded upsert state version
    survives one extra batch (snapshot isolation); the next cutover
    retires it."""
    from avk_job_skill_analytics_spark.streaming.incremental import (
        _STATE,
        foreach_batch_upsert,
        upsert_state,
    )

    d = str(tmp_path / "state")
    os.makedirs(d)
    fs = IndexFS(spark, d)
    import glob
    import shutil

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def drop(rows, name):
        # the file stream source lists FILES under src, not nested
        # dirs: stage the write, move the single part file in
        stage = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(
            rows, "user_id long, ts long, event_id long"
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        shutil.copy(glob.glob(f"{stage}/part-*.parquet")[0],
                    f"{src}/{name}.parquet")

    stream = (
        spark.readStream.format("parquet")
        .schema("user_id long, ts long, event_id long")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )

    def drain():
        q = (
            foreach_batch_upsert(stream, d)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def committed():
        return sorted(
            int(n[len("_commit_state_"):])
            for n in fs.listdir()
            if n.startswith("_commit_state_")
        )

    drop([(1, 10, 100), (2, 10, 101)], "f0")
    drain()
    drop([(1, 20, 200), (3, 20, 201)], "f1")
    drain()
    merged = {
        r["user_id"]: r["ts"] for r in upsert_state(spark, d).collect()
    }
    assert merged == {1: 20, 2: 10, 3: 20}
    # the superseded version survives its grace cycle
    v_old, v_now = committed()
    assert is_dir(fs, f"state_{v_old}")
    # third batch: a new version commits -> grace rolls forward
    drop([(4, 30, 300)], "f2")
    drain()
    # newest + exactly one superseded version remain; the oldest retired
    assert committed() == [v_now, Cutover(fs, *_STATE).resolve()]
    assert not is_dir(fs, f"state_{v_old}")
    assert {
        r["user_id"] for r in upsert_state(spark, d).collect()
    } == {1, 2, 3, 4}


def _layouts():
    from avk_job_skill_analytics_spark.operators.ann_index import VERSIONS
    from avk_job_skill_analytics_spark.streaming.incremental import (
        _STATE,
        _bucket,
    )

    return [_STATE, _bucket(3), VERSIONS]


@pytest.mark.parametrize("layout", _layouts(),
                         ids=["state", "bucket", "index"])
def test_cutover_crash_windows(spark, tmp_path, layout):
    """Every versioned layout resolves past the cutover's crash
    leftovers: a commit file without its directory, an uncommitted
    higher-numbered directory, and a retire that died between its
    commit-file delete and its directory delete."""
    d = str(tmp_path / "root")
    os.makedirs(d)
    fs = IndexFS(spark, d)
    commit, vdir = layout

    def resolve():
        return Cutover(fs, *layout).resolve()

    def publish(v, retire=True):
        cut = Cutover(fs, *layout)
        fs.mkdirs(cut.path(v))
        cut.commit(v)
        if retire:
            cut.retire(v)
        return cut

    publish(0)
    publish(1)
    assert resolve() == 1
    # a commit file whose directory is gone is skipped
    fs.touch(f"{commit}5")
    assert resolve() == 1
    # a higher-numbered uncommitted directory is never resolved
    fs.mkdirs(vdir.format(7))
    assert resolve() == 1
    # the next cutover reclaims both leftovers and the oldest version
    publish(2)
    assert resolve() == 2
    assert not fs.exists(f"{commit}5")
    assert not is_dir(fs, vdir.format(7))
    assert not fs.exists(f"{commit}0")
    assert not is_dir(fs, vdir.format(0))
    # crash between retire's two deletes: version 1's commit file is
    # gone, its directory is not
    cut = publish(3, retire=False)
    real_delete = fs.delete

    def crash(rel):
        if not rel.startswith(commit):
            raise RuntimeError("crash before the directory delete")
        real_delete(rel)

    fs.delete = crash
    with pytest.raises(RuntimeError):
        cut.retire(3)
    del fs.delete
    assert resolve() == 3
    assert is_dir(fs, vdir.format(1))
    committed = [int(n[len(commit):]) for n in fs.listdir()
                 if n.startswith(commit)]
    assert sorted(committed) == [2, 3]
    assert all(is_dir(fs, vdir.format(v)) for v in committed)
    # the uncommitted directory goes with the next retire
    publish(4)
    assert resolve() == 4 and not is_dir(fs, vdir.format(1))


def test_cutover_fs_calls_per_trigger(spark, tmp_path, monkeypatch):
    """IndexFS calls of one upsert trigger and one 8-bucket partitioned
    trigger over a root that already holds one committed version. Each
    trigger lists the root once; the partitioned one also lists each
    touched bucket's leaf directory once."""
    from pyspark.sql.streaming import DataStreamWriter

    from avk_job_skill_analytics_spark.streaming import incremental

    schema = "user_id long, ts long, event_id long"
    os.makedirs(tmp_path / "src")
    stream = spark.readStream.schema(schema).parquet(str(tmp_path / "src"))
    # the sinks hand their per-batch body to foreachBatch: keep it
    monkeypatch.setattr(DataStreamWriter, "foreachBatch",
                        lambda self, fn: fn)
    calls = collections.Counter()
    for name, fn in list(vars(IndexFS).items()):
        if callable(fn) and not name.startswith("_"):
            def counted(self, *a, _fn=fn, _name=name, **k):
                calls[_name] += 1
                return _fn(self, *a, **k)

            monkeypatch.setattr(IndexFS, name, counted)
    counts = {}
    for label, make in (
        ("upsert", incremental.foreach_batch_upsert),
        ("partitioned", lambda s, d: incremental
         .foreach_batch_upsert_partitioned(s, d, buckets=8)),
    ):
        d = str(tmp_path / label)
        os.makedirs(d)
        sink = make(stream, d)
        sink(spark.createDataFrame(
            [(k, 1, k) for k in range(8)], schema), 0)
        calls.clear()
        sink(spark.createDataFrame(
            [(k, 2, 10 + k) for k in range(8)], schema), 1)
        counts[label] = dict(calls)
    # before fsio.Cutover the same triggers made 11 calls (4 root
    # listings) and 67 calls (32 listings, 16 directory probes)
    assert counts["upsert"]["listdir"] == 1
    assert sum(counts["upsert"].values()) <= 6, counts
    assert counts["partitioned"]["listdir"] <= 1 + 8
    assert sum(counts["partitioned"].values()) <= 28, counts
