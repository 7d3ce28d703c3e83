"""Stored IVF-PQ index lifecycle — compaction, crash recovery,
auto-compaction, serving degeneracy (VERDICT r6 asks #2/#6/#7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from avk_job_skill_analytics_spark.operators import ann_index
from avk_job_skill_analytics_spark.streaming.ann_maintain import (
    _RAW_LAYOUT,
    _auto_retrain_batch_fn,
    _ivfpq_append_batch_fn,
)
from avk_job_skill_analytics_spark.streaming.batched_index import (
    committed_table_dirs,
    compact_batched_index,
    make_delete_batches,
)
from avk_job_skill_analytics_spark.streaming.fsio import (
    Cutover,
    IndexFS,
    committed_batch_ids,
    read_journal,
    recover_compaction,
    write_journal,
)

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _resolve_version(fs):
    return Cutover(fs, *ann_index.VERSIONS).resolve()


def _grown_index(spark, d: str, compact_every=None):
    """Base index over even vec_ids + two absorbed odd-id batches —
    the fixture every lifecycle test starts from."""
    e = spark.read.parquet(EMB)
    ann_index.build_index(
        spark, e.filter(F.col("vec_id") % 2 == 0), "vec_id", "embedding", d
    )
    sink = _ivfpq_append_batch_fn(
        d, "vec_id", "embedding", 8, 8, compact_every=compact_every
    )
    sink(e.filter(F.col("vec_id") % 4 == 1), 0)
    sink(e.filter(F.col("vec_id") % 4 == 3), 1)
    return e, sink


def _served(spark, d: str, n_probe: int = 2):
    q = spark.read.parquet(EMB).filter(F.col("vec_id") < 10)
    return sorted(
        map(tuple,
            ann_index.serve_topk(
                spark, d, q, "vec_id", "embedding",
                n_probe=n_probe, sub_d=8, k=5,
            ).collect())
    )


def _dir_ids(fs, table: str = "cells") -> set[str]:
    """Batch ids owning a ``<table>/batch=<id>`` directory."""
    return {
        name.split("=", 1)[1]
        for name in fs.listdir(table)
        if name.startswith("batch=")
    }


def _committed_cells(spark, fs):
    """The committed inventory rows, read the way serving reads."""
    return sorted(
        (int(r["_id"]), int(r["_cell"]), tuple(r["_codes"]))
        for r in spark.read.option("basePath", fs.uri("cells"))
        .parquet(*committed_table_dirs(fs, "cells"))
        .collect()
    )


def test_cells_compaction_preserves_serving(spark, tmp_path):
    """compact_cells merges the committed cells/batch=<id> dirs into
    one fresh generation, still _cell-partitioned: file count bounded,
    inventory row-identical, serving hash-unchanged, and
    post-compaction absorption + serving still work."""
    d = str(tmp_path / "idx")
    e, sink = _grown_index(spark, d)
    fs = IndexFS(spark, d)
    before_rows = _committed_cells(spark, fs)
    served_before = _served(spark, d)
    stats = ann_index.compact_cells(spark, d)
    assert stats["rows"] == len(before_rows)
    assert stats["files_after"] <= stats["files_before"]
    # the committed VIEW collapsed to the single generation; consumed
    # dirs survive one tombstone grace cycle for in-flight readers
    assert committed_batch_ids(fs) & _dir_ids(fs) == {"-2"}
    assert {"-1", "0", "1"} <= _dir_ids(fs)
    assert any(n.startswith("_cell=") for n in fs.listdir("cells/batch=-2"))
    assert _committed_cells(spark, fs) == before_rows
    assert _served(spark, d) == served_before
    # real-batch markers survive: a redelivered absorbed batch
    # short-circuits instead of re-appending into the generation
    sink(e.filter(F.col("vec_id") % 4 == 1), 0)
    assert committed_batch_ids(fs) & _dir_ids(fs) == {"-2"}
    # and a genuinely new batch appends + serves on top
    n = e.count()
    extra = spark.createDataFrame(
        [(n + 7, [0.01] * 64)], "vec_id long, embedding array<double>"
    )
    sink(extra, 2)
    assert committed_batch_ids(fs) & _dir_ids(fs) == {"-2", "2"}
    assert len(_served(spark, d)) == len(served_before)
    # the NEXT compaction's apply purges the previous cycle's
    # tombstones — grace is one cycle, not forever
    ann_index.compact_cells(spark, d)
    assert not ({"-1", "0", "1"} & _dir_ids(fs))


def test_cells_compaction_recovers_from_mid_apply_crash(spark, tmp_path):
    """A SECOND compaction (consuming the previous generation) that
    crashes between installing its generation and clearing the
    journal is finished idempotently — serving identical throughout,
    the fresh generation never deleted (the ADVICE r6 window, on the
    cells layout)."""
    d = str(tmp_path / "idx")
    e, sink = _grown_index(spark, d)
    ann_index.compact_cells(spark, d)  # -> generation -2
    sink(e.filter(F.col("vec_id") % 2 == 1).limit(5), 2)
    served = _served(spark, d)
    fs = IndexFS(spark, d)
    delete_cells = make_delete_batches(tuple(ann_index.CELLS_LAYOUT))
    # second compaction crash-simulated mid-apply: generation -3
    # written + journal committed (consumed includes '-2'), marker
    # touched, ONE consumed batch deleted, then "crash"
    inv = (
        spark.read.option("basePath", fs.uri("cells"))
        .parquet(*committed_table_dirs(fs, "cells"))
        .select("_id", "_codes", F.col("_cell").cast("long").alias("_cell"))
    )
    ann_index.write_cells(inv, fs.uri("cells/batch=-3"))
    write_journal(fs, -3, ["-2", "2"])
    fs.touch("_batch_-3")
    delete_cells(fs, ["-2"])
    assert _served(spark, d) == served  # journal overlay: view whole
    recover_compaction(fs, delete_cells)
    assert read_journal(fs) is None
    # committed view is exactly the fresh generation; batch 2's data
    # is tombstoned (one grace cycle), the first cycle's tombstones
    # (-1, 0, 1) were purged by this apply
    assert committed_batch_ids(fs) & _dir_ids(fs) == {"-3"}
    assert _dir_ids(fs) == {"-3", "2"}
    assert not fs.exists("_batch_-2")
    assert _served(spark, d) == served
    # double recovery is a no-op, not data loss
    recover_compaction(fs, delete_cells)
    assert _served(spark, d) == served


def test_ivfpq_auto_compaction_bounds_leaves(spark, tmp_path):
    """compact_every: sustained absorption with the sink's own
    trigger keeps the batch-directory count bounded and serving
    identical to an uncompacted twin — no operator-initiated
    maintenance call anywhere."""
    d_plain = str(tmp_path / "plain")
    d_auto = str(tmp_path / "auto")
    e, _ = _grown_index(spark, d_plain)
    _grown_index(spark, d_auto, compact_every=2)
    # two more batches: the auto run compacts again, the plain one
    # keeps accumulating batch dirs
    for d, every in ((d_plain, None), (d_auto, 2)):
        sink = _ivfpq_append_batch_fn(
            d, "vec_id", "embedding", 8, 8, compact_every=every
        )
        sink(e.filter(F.col("vec_id") % 8 == 1).limit(5), 2)
        sink(e.filter(F.col("vec_id") % 8 == 3).limit(5), 3)
    fs_auto = IndexFS(spark, d_auto)
    fs_plain = IndexFS(spark, d_plain)
    com_auto = committed_batch_ids(fs_auto) & _dir_ids(fs_auto)
    com_plain = committed_batch_ids(fs_plain) & _dir_ids(fs_plain)
    real_plain = {b for b in com_plain if int(b) >= 0}
    assert len(real_plain) == 4  # 0,1,2,3 all still separate dirs
    # every trigger point absorbed the real batches out of the
    # committed view (their dirs may linger one tombstone cycle)
    assert {b for b in com_auto if int(b) >= 0} == set()
    assert len(com_auto) < len(com_plain)
    assert _served(spark, d_auto) == _served(spark, d_plain)


def test_empty_arrivals_batch_commits_serves_and_compacts(spark, tmp_path):
    """A micro-batch with no rows still commits (its batch dir holds
    no cell directory), serving reads past it, and compaction folds
    it away with the rest."""
    d = str(tmp_path / "idx")
    e, sink = _grown_index(spark, d)
    served = _served(spark, d)
    fs = IndexFS(spark, d)
    before_rows = _committed_cells(spark, fs)
    sink(spark.createDataFrame([], "vec_id long, embedding array<double>"),
         2)
    assert fs.exists("_batch_2")
    assert "2" in committed_batch_ids(fs) & _dir_ids(fs)
    assert _served(spark, d) == served
    stats = ann_index.compact_cells(spark, d)
    assert stats["rows"] == len(before_rows)
    assert committed_batch_ids(fs) & _dir_ids(fs) == {"-2"}
    assert _committed_cells(spark, fs) == before_rows
    assert _served(spark, d) == served


def test_serve_topk_probe_degeneracy(spark, tmp_path):
    """serve_topk degeneracy guards: an EMPTY query frame returns a
    typed empty result (no crash, no empty-isin scan), and a probe
    set covering ALL cells makes pruning a no-op but stays correct."""
    d = str(tmp_path / "idx")
    e = spark.read.parquet(EMB)
    ann_index.build_index(spark, e, "vec_id", "embedding", d)
    empty_q = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    out = ann_index.serve_topk(
        spark, d, empty_q, "vec_id", "embedding", n_probe=2, sub_d=8, k=5
    )
    assert out.columns == ["query_id", "neighbor_id", "adc_dist", "rk"]
    assert out.count() == 0
    # n_probe = n_cells: every cell probed, pruning prunes nothing
    q = e.filter(F.col("vec_id") < 5)
    full = ann_index.serve_topk(
        spark, d, q, "vec_id", "embedding", n_probe=8, sub_d=8, k=5
    ).collect()
    assert {int(r["query_id"]) for r in full} == {0, 1, 2, 3, 4}
    assert all(1 <= int(r["rk"]) <= 5 for r in full)
    narrow = ann_index.serve_topk(
        spark, d, q, "vec_id", "embedding", n_probe=2, sub_d=8, k=5
    ).collect()
    # widening the probe set can only improve (never change the set
    # arbitrarily): the full-probe ADC distances at rank 1 are <= the
    # 2-probe ones for every query
    best_full = {r["query_id"]: r["adc_dist"] for r in full if r["rk"] == 1}
    best_narrow = {
        r["query_id"]: r["adc_dist"] for r in narrow if r["rk"] == 1
    }
    assert all(
        best_full[q] <= best_narrow[q] for q in best_narrow
    )


def test_rebuild_swap_versioned_cutover(spark, tmp_path):
    """Retrain + swap: serving resolves the highest COMMITTED version
    only — a half-built next version is invisible, the cutover is one
    create-only marker, and the superseded version retires."""
    root = str(tmp_path / "vroot")
    e = spark.read.parquet(EMB)
    v0 = ann_index.rebuild_swap(
        spark, root, e.filter(F.col("vec_id") % 2 == 0),
        "vec_id", "embedding",
    )
    assert v0 == 0
    fs = IndexFS(spark, root)
    q = e.filter(F.col("vec_id") < 10)

    def serve():
        return sorted(
            map(tuple,
                ann_index.serve_current(
                    spark, root, q, "vec_id", "embedding",
                    n_probe=2, sub_d=8, k=5,
                ).collect())
        )

    served_v0 = serve()
    # crash mid-build of v1: directory exists, no commit marker —
    # serving must keep resolving v0. Plant what a crashed attempt
    # could leave that the retry's build would not overwrite: a
    # pre-commit note naming another batch and a batch dir beside
    # the base build — without the pre-build clear the retry's
    # commit marker would commit both
    fs.touch("v1/_base_includes_7")
    spark.createDataFrame(
        [(999999, [1] * 8)], "_id long, _codes array<int>"
    ).withColumn("_cell", F.lit(424242)).write.partitionBy(
        "_cell"
    ).parquet(fs.uri("v1/cells/batch=0"))
    fs.touch("v1/_batch_0")
    assert _resolve_version(fs) == 0
    assert serve() == served_v0
    # the real retrain clears the crashed dir, rebuilds, and cuts over
    v1 = ann_index.rebuild_swap(spark, root, e, "vec_id", "embedding")
    assert v1 == 1
    assert _resolve_version(fs) == 1
    # the crashed attempt's stale artifacts are gone
    assert not fs.is_dir("v1/cells/batch=0")
    assert not fs.exists("v1/_batch_0")
    assert not fs.exists("v1/_base_includes_7")
    served_v1 = serve()
    assert served_v1 != served_v0  # retrained quantizers really serve
    # superseded version retires with ONE version of grace: v0 stays
    # committed while v1 is newest (a reader that resolved v0 an
    # instant before the cutover still finds its files mid-scan)
    assert fs.exists("_commit_index_0") and fs.is_dir("v0")
    # and the v1 result equals serving the v1 dir directly
    direct = sorted(
        map(tuple,
            ann_index.serve_topk(
                spark, fs.uri("v1"), q, "vec_id", "embedding",
                n_probe=2, sub_d=8, k=5,
            ).collect())
    )
    assert served_v1 == direct
    # a SECOND cutover ends v0's grace: commit file first, then dir
    v2 = ann_index.rebuild_swap(
        spark, root, e.filter(F.col("vec_id") % 3 != 2),
        "vec_id", "embedding",
    )
    assert v2 == 2
    assert not fs.exists("_commit_index_0") and not fs.is_dir("v0")
    assert fs.exists("_commit_index_1") and fs.is_dir("v1")


@pytest.mark.parametrize("scheme", [True])
def test_ivfpq_lifecycle_on_file_scheme_path(spark, tmp_path, scheme):
    """Build → absorb → compact → serve with the index root as an
    explicit ``file:`` URI: green proves no os.* call remains on
    IVF-PQ index paths."""
    d = "file:" + str(tmp_path / "idx")
    e = spark.read.parquet(EMB)
    ann_index.build_index(
        spark, e.filter(F.col("vec_id") % 2 == 0), "vec_id", "embedding", d
    )
    sink = _ivfpq_append_batch_fn(d, "vec_id", "embedding", 8, 8)
    sink(e.filter(F.col("vec_id") % 2 == 1), 0)
    served = _served(spark, d)
    assert served
    stats = ann_index.compact_cells(spark, d)
    assert stats["rows"] > 0
    assert _served(spark, d) == served

def _shifted(e):
    plus2 = F.transform(F.col("embedding"),
                        lambda x: x.cast("double") + F.lit(2.0))
    plain = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.when(F.col("vec_id") % 4 == 2, plus2).otherwise(plain)
        .alias("embedding"),
    )


def test_auto_retrain_policy_and_crash_windows(spark, tmp_path):
    """The self-retraining sink: calm batches absorb frozen, the
    drifted batch fires a retrain + atomic cutover, and every
    redelivery window converges — including the crash between the
    version commit and the root marker (the _base_includes note) and
    between a calm append's version marker and the root marker."""
    e2 = _shifted(spark.read.parquet(EMB))
    base = e2.filter(F.col("vec_id") % 4 == 0)
    root = str(tmp_path / "aroot")
    assert ann_index.rebuild_swap(
        spark, root, base, "vec_id", "embedding"
    ) == 0
    sink = _auto_retrain_batch_fn(root, base, "vec_id", "embedding")
    fs = IndexFS(spark, root)
    b0 = e2.filter(F.col("vec_id") % 4 == 1)
    b1 = e2.filter(F.col("vec_id") % 4 == 2)
    b2 = e2.filter(F.col("vec_id") % 4 == 3)

    sink(b0, 0)
    assert _resolve_version(fs) == 0  # calm: absorbed frozen
    assert fs.exists("_batch_0")
    # the calm append committed through the cells sink inside v0
    assert IndexFS(spark, fs.uri("v0")).exists("_batch_0")
    assert _dir_ids(IndexFS(spark, fs.uri("v0"))) == {"-1", "0"}
    sink(b1, 1)
    assert _resolve_version(fs) == 1  # drifted: fired
    assert IndexFS(spark, fs.uri("v1")).exists("_base_includes_1")
    # the retrain folded the log's committed batches into a generation
    assert committed_batch_ids(fs) & _dir_ids(fs, "raw") == {"-1", "1"}
    sink(b2, 2)
    assert _resolve_version(fs) == 1  # calm vs NEW quantizers

    q = e2.filter(F.col("vec_id") < 10)

    def serve():
        return sorted(
            map(tuple,
                ann_index.serve_current(
                    spark, root, q, "vec_id", "embedding",
                    n_probe=2, sub_d=8, k=5,
                ).collect())
        )

    served = serve()
    # clean redelivery short-circuits on the root marker
    sink(b2, 2)
    assert serve() == served
    # crash window: v1 committed but the root marker was lost — the
    # redelivered batch must NOT be double-absorbed (its rows are in
    # v1's base); the sink just restores the marker
    fs.delete("_batch_1")
    sink(b1, 1)
    assert fs.exists("_batch_1")
    assert serve() == served
    # crash window: the calm append committed inside v1 but the root
    # marker was lost — the redelivery short-circuits in v1's sink
    v1 = IndexFS(spark, fs.uri("v1"))
    cells_before = v1.listdir("cells/batch=2")
    fs.delete("_batch_2")
    sink(b2, 2)
    assert fs.exists("_batch_2")
    assert v1.listdir("cells/batch=2") == cells_before
    assert serve() == served
    # the final state equals a fresh reference: one-shot build on
    # base ∪ calm ∪ shifted, with the last batch absorbed frozen
    ref = str(tmp_path / "ref")
    ann_index.build_index(
        spark, base.unionByName(b0).unionByName(b1),
        "vec_id", "embedding", ref,
    )
    _ivfpq_append_batch_fn(ref, "vec_id", "embedding", 8, 8)(b2, 0)
    direct = sorted(
        map(tuple,
            ann_index.serve_topk(
                spark, ref, q, "vec_id", "embedding",
                n_probe=2, sub_d=8, k=5,
            ).collect())
    )
    assert served == direct
    # raw-log compaction through the shared compactor: committed
    # dirs fold into one generation, the retrain corpus read is
    # unchanged, and a re-run is a no-op
    def committed_raw_ids():
        return sorted(
            r["vec_id"]
            for r in spark.read.parquet(*committed_table_dirs(fs, "raw"))
            .select("vec_id").collect()
        )

    ids_before = committed_raw_ids()
    stats = compact_batched_index(spark, root, _RAW_LAYOUT)
    assert stats["rows"] == len(ids_before)
    # committed view = the generation; consumed dirs are tombstoned
    # one grace cycle for in-flight readers
    assert committed_batch_ids(fs) & _dir_ids(fs, "raw") == {"-2"}
    assert committed_raw_ids() == ids_before  # lossless for retrains
    again = compact_batched_index(spark, root, _RAW_LAYOUT)
    assert again["rows"] == 0  # single committed generation: no-op
    assert committed_batch_ids(fs) & _dir_ids(fs, "raw") == {"-2"}
    assert serve() == served  # serving untouched by log maintenance
