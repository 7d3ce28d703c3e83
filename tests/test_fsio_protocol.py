"""Shared commit-protocol hardening (ADVICE r7): tombstone grace for
in-flight readers, legacy (pre-v2) on-disk format migration, journal
overwrite refusal, create-only markers, bounded epoch-guard state."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from avk_job_skill_analytics_spark.streaming.fsio import (
    PROTOCOL,
    IndexFS,
    committed_batch_ids,
    ensure_protocol,
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


def test_legacy_pre_v2_root_migrates_not_destroyed(spark, tmp_path):
    """ADVICE r7 #3: a pre-round-7 index root — unmarkered batch=-1
    compacted sentinel + list-form journal — must be adopted, not
    silently excluded and then deleted as a stale generation."""
    d = str(tmp_path / "legacy")
    os.makedirs(d)
    # fabricate the legacy layout: real batch 0 absorbed into an
    # UNMARKERED batch=-1 sentinel (its dir deleted), marker kept,
    # and a stale legacy list-form journal from a crashed apply
    sig = spark.createDataFrame(
        [(1, 0, "11_22"), (1, 1, "33_44")],
        "_idx_id long, band int, sig string",
    )
    sig.write.parquet(f"{d}/bands/batch=-1")
    spark.createDataFrame(
        [(1, [11, 22], 2)], "_idx_id long, _idx_sh array<long>, _idx_n int"
    ).write.parquet(f"{d}/sets/batch=-1")
    open(f"{d}/_batch_0", "w").close()   # real marker (data absorbed)
    with open(f"{d}/_compact_commit", "w") as f:
        json.dump(["0"], f)              # legacy list-form journal
    fs = IndexFS(spark, d)
    # the legacy journal parses (gen=-1 sentinel) instead of raising
    assert read_journal(fs) == {"gen": -1, "consumed": ["0"]}
    # first v2 contact (the maintenance sink) adopts the sentinel
    sink = _lsh_maintain_batch_fn(d, "doc_id", "text", 3, 16, 8, 0.5, 7)
    sink(spark.createDataFrame(
        [(5, "new words arriving after the upgrade")],
        "doc_id long, text string"), 1)
    assert fs.exists(PROTOCOL)
    assert fs.exists("_batch_-1")
    assert {"-1", "1"} <= committed_batch_ids(fs)
    rows = sorted(
        map(tuple, spark.read.parquet(*committed_table_dirs(fs, "bands"))
            .select("_idx_id", "band", "sig").collect())
    )
    assert (1, 0, "11_22") in rows       # legacy rows survived
    assert any(r[0] == 5 for r in rows)  # and the new batch appended
    # a compaction does NOT drop the adopted sentinel as stale
    compact_lsh_index(spark, d)
    rows2 = sorted(
        map(tuple, spark.read.parquet(*committed_table_dirs(fs, "bands"))
            .select("_idx_id", "band", "sig").collect())
    )
    assert rows2 == rows


def test_v2_root_still_drops_uncommitted_generation(spark, tmp_path):
    """Once stamped, an unmarkered negative generation is pre-commit
    garbage (the migration must not weaken v2 crash recovery)."""
    d = str(tmp_path / "idx")
    os.makedirs(d)
    fs = IndexFS(spark, d)
    sink = _lsh_maintain_batch_fn(d, "doc_id", "text", 3, 16, 8, 0.5, 7)
    sink(spark.createDataFrame([(1, T)], "doc_id long, text string"), 0)
    assert fs.exists(PROTOCOL)
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


def test_ensure_protocol_probe_skipped_once_stamped(spark, tmp_path):
    """The legacy probe (a directory listing on object stores) runs
    only while the root is unstamped."""
    d = str(tmp_path / "idx")
    os.makedirs(d)
    fs = IndexFS(spark, d)
    calls = {"n": 0}

    def probe():
        calls["n"] += 1
        return False

    ensure_protocol(fs, probe, lambda b: True)
    assert calls["n"] == 1 and fs.exists(PROTOCOL)
    ensure_protocol(fs, probe, lambda b: True)
    assert calls["n"] == 1  # stamped: one exists() check, no probe


def test_unstamped_precommit_garbage_not_adopted(spark, tmp_path):
    """An UNSTAMPED root whose batch=-1 came from a CRASHED pre-commit
    compaction (every real marker still has its data dir) must NOT be
    adopted as committed — adopting it would double-count the batches
    it half-copied. Only a root with legacy-apply evidence (a real
    marker whose dir was consumed, or no real markers at all) is
    migrated."""
    d = str(tmp_path / "idx")
    os.makedirs(d)
    fs = IndexFS(spark, d)
    sig = spark.createDataFrame(
        [(1, 0, "11_22")], "_idx_id long, band int, sig string"
    )
    sets = spark.createDataFrame(
        [(1, [11, 22], 2)],
        "_idx_id long, _idx_sh array<long>, _idx_n int",
    )
    sig.write.parquet(f"{d}/bands/batch=0")
    sets.write.parquet(f"{d}/sets/batch=0")
    open(f"{d}/_batch_0", "w").close()
    # crashed compaction's half-written generation: batch 0's dir is
    # still present alongside it
    sig.write.parquet(f"{d}/bands/batch=-1")
    sets.write.parquet(f"{d}/sets/batch=-1")
    sink = _lsh_maintain_batch_fn(d, "doc_id", "text", 3, 16, 8, 0.5, 7)
    sink(spark.createDataFrame(
        [(5, "fresh words")], "doc_id long, text string"), 1)
    assert fs.exists(PROTOCOL)
    assert not fs.exists("_batch_-1")  # garbage stayed garbage
    assert {"0", "1"} <= committed_batch_ids(fs)
    # the next compaction reclaims it as a stale generation
    compact_lsh_index(spark, d)
    rows = sorted(
        map(tuple, spark.read.parquet(*committed_table_dirs(fs, "bands"))
            .select("_idx_id", "band", "sig").collect())
    )
    # exactly one copy of doc 1's legacy row — no double-count
    assert rows.count((1, 0, "11_22")) == 1


def test_readonly_overlay_serves_legacy_without_writing(spark, tmp_path):
    """serve paths on a pre-v2 root must see the legacy sentinel WITHOUT
    writing anything to the root (read-only serving credentials)."""
    from avk_job_skill_analytics_spark.streaming.lexical_stream import (
        serve_bm25,
    )

    d = str(tmp_path / "idx")
    os.makedirs(d)
    # pure legacy base: postings at batch=-1, no markers at all
    spark.createDataFrame(
        [(1, "spark", 3), (2, "spark", 1)],
        "doc_id long, term string, _tf long",
    ).write.parquet(f"{d}/postings/batch=-1")
    spark.createDataFrame(
        [(1, 5), (2, 5)], "doc_id long, _dl long"
    ).write.parquet(f"{d}/doclen/batch=-1")
    before = sorted(os.listdir(d))
    out = serve_bm25(spark, d, ["spark"], "doc_id", k=10).collect()
    assert {r["doc_id"] for r in out} == {1, 2}
    assert sorted(os.listdir(d)) == before  # nothing written


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


def test_upsert_retire_grace_and_legacy_migration(spark, tmp_path):
    """ADVICE r7 #5: the immediately-superseded upsert state version
    survives one extra batch (snapshot isolation), and a
    pre-versioning ``current/`` state dir is adopted as the merge
    source instead of silently restarting from empty."""
    from avk_job_skill_analytics_spark.streaming.incremental import (
        _resolve_state,
        foreach_batch_upsert,
        upsert_state,
    )

    d = str(tmp_path / "state")
    os.makedirs(d)
    # legacy layout: a rename-swapped current/ dir (its _batch_*
    # markers stay valid only with the ORIGINAL checkpoint, whose
    # batch numbering continues — this fixture models the fresh-
    # checkpoint migration, so no legacy markers carry over)
    spark.createDataFrame(
        [(1, 10, 100), (2, 10, 101)], "user_id long, ts long, event_id long"
    ).write.parquet(f"{d}/current")
    fs = IndexFS(spark, d)
    assert _resolve_state(fs) is None
    # reader falls back to the legacy dir pre-migration
    assert sorted(
        r["user_id"] for r in upsert_state(spark, d).collect()
    ) == [1, 2]
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

    drop([(1, 20, 200), (3, 20, 201)], "f1")
    stream = (
        spark.readStream.format("parquet")
        .schema("user_id long, ts long, event_id long")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    q = (
        foreach_batch_upsert(stream, d)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # merged with the LEGACY state: users 1 (updated), 2 (kept), 3 (new)
    merged = {
        r["user_id"]: r["ts"] for r in upsert_state(spark, d).collect()
    }
    assert merged == {1: 20, 2: 10, 3: 20}
    # legacy dir survives its grace cycle (no older committed version)
    assert fs.is_dir("current")
    # second batch: a new version commits -> grace rolls forward
    drop([(4, 30, 300)], "f2")
    q = (
        foreach_batch_upsert(stream, d)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    v_now = _resolve_state(fs)
    committed = sorted(
        int(n[len("_commit_state_"):])
        for n in fs.listdir()
        if n.startswith("_commit_state_")
    )
    # newest + exactly one superseded version remain; legacy retired
    assert len(committed) == 2 and committed[-1] == v_now
    assert not fs.is_dir("current")
    assert {
        r["user_id"] for r in upsert_state(spark, d).collect()
    } == {1, 2, 3, 4}
