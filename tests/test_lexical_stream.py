"""Growing BM25 lexical index — exactly-once appends, committed-only
serving, lossless journaled compaction (the shared protocol's fourth
layout, locked on its own tables)."""

from __future__ import annotations

import os

from conftest import is_dir
from pyspark.sql import functions as F

from avk_job_skill_analytics_spark.streaming.fsio import IndexFS
from avk_job_skill_analytics_spark.streaming.lexical_stream import (
    _bm25_maintain_batch_fn,
    compact_bm25_index,
    serve_bm25,
)

DOCS = [
    (1, "spark shuffle join spark spark"),
    (2, "spark scan filter pad pad pad"),
    (3, "pad pad pad pad"),
    (4, "spark spark pad"),
]


def _b(spark, ids):
    return spark.createDataFrame(
        [d for d in DOCS if d[0] in ids], "doc_id long, text string"
    )


def _serve(spark, d):
    return sorted(
        map(tuple, serve_bm25(spark, d, ["spark"], "doc_id", k=10)
            .collect())
    )


def test_bm25_index_grows_and_redelivery_converges(spark, tmp_path):
    d = str(tmp_path / "idx")
    os.makedirs(d)
    sink = _bm25_maintain_batch_fn(d, "doc_id", "text")
    sink(_b(spark, {1, 2}), 0)
    after_b0 = _serve(spark, d)
    assert [r[0] for r in after_b0] == [1, 2]  # more tf ranks first
    sink(_b(spark, {3, 4}), 1)
    grown = _serve(spark, d)
    assert {r[0] for r in grown} == {1, 2, 4}  # doc 3 has no hits
    # clean redelivery short-circuits; marker-lost redelivery rewrites
    # identical rows — serving unchanged either way
    sink(_b(spark, {3, 4}), 1)
    assert _serve(spark, d) == grown
    fs = IndexFS(spark, d)
    fs.delete("_batch_1")
    sink(_b(spark, {3, 4}), 1)
    assert _serve(spark, d) == grown
    # dl is corpus-wide: doc 3 contributes to avgdl even with no hits
    dl_docs = {
        r["doc_id"]
        for r in spark.read.parquet(f"{d}/doclen").collect()
    }
    assert dl_docs == {1, 2, 3, 4}


def test_bm25_halfwritten_append_invisible(spark, tmp_path):
    """A crashed append (postings written, marker lost before the
    doclen write) must not serve — committed partitions only."""
    d = str(tmp_path / "idx")
    os.makedirs(d)
    sink = _bm25_maintain_batch_fn(d, "doc_id", "text")
    sink(_b(spark, {1, 2}), 0)
    served = _serve(spark, d)
    # fabricate the crash: batch 1's postings dir exists, no marker
    spark.createDataFrame(
        [(4, "spark", 2)], "doc_id long, term string, _tf long"
    ).write.parquet(f"{d}/postings/batch=1")
    assert _serve(spark, d) == served
    # the redelivered batch overwrites the orphan and commits whole
    sink(_b(spark, {3, 4}), 1)
    assert {r[0] for r in _serve(spark, d)} == {1, 2, 4}


def test_bm25_compaction_lossless_on_file_scheme(spark, tmp_path):
    """Compaction folds committed batches into a generation with
    serving hash-unchanged, on an explicit file: URI root (no os.*
    on index paths), and the sink keeps appending on top."""
    d = "file:" + str(tmp_path / "idx")
    sink = _bm25_maintain_batch_fn(d, "doc_id", "text")
    sink(_b(spark, {1, 2}), 0)
    sink(_b(spark, {3}), 1)
    served = _serve(spark, d)
    stats = compact_bm25_index(spark, d)
    assert stats["rows"] > 0
    assert _serve(spark, d) == served
    fs = IndexFS(spark, d)
    assert fs.exists("_batch_-1") and fs.exists("_batch_0")
    sink(_b(spark, {4}), 2)
    assert {r[0] for r in _serve(spark, d)} == {1, 2, 4}
    # second compaction purges the first cycle's tombstones
    compact_bm25_index(spark, d)
    assert not is_dir(fs, "postings/batch=0")


def test_bm25_empty_index_serves_typed_empty(spark, tmp_path):
    d = str(tmp_path / "idx")
    os.makedirs(d)
    out = serve_bm25(spark, d, ["spark"], "doc_id", k=10)
    assert out.columns == ["doc_id", "n_terms", "bm25_fp", "rk"]
    assert out.count() == 0


def test_bm25_served_equals_batch(spark, tmp_path):
    """Serving from the grown+compacted store equals the one-shot
    batch BM25 over the same documents — the stored index is a cache
    of the computation, not a different ranking function."""
    from avk_job_skill_analytics_spark.operators.retrieval import (
        bm25_topk,
    )

    d = str(tmp_path / "idx")
    os.makedirs(d)
    sink = _bm25_maintain_batch_fn(d, "doc_id", "text", compact_every=2)
    sink(_b(spark, {1, 2}), 0)
    sink(_b(spark, {3, 4}), 1)
    batch = sorted(
        map(tuple, bm25_topk(
            spark.createDataFrame(DOCS, "doc_id long, text string"),
            "doc_id", "text", ["spark"], k=10,
        ).collect())
    )
    assert _serve(spark, d) == batch


def test_nb_train_sum_merge_compaction_and_redelivery(spark, tmp_path):
    """The NB trainer's compaction SUM-merges the delta partitions:
    served weights identical before/after, redelivery neither
    double-counts nor loses deltas, and the compacted store holds one
    row per term."""
    from avk_job_skill_analytics_spark.streaming.classify_stream import (
        _nb_train_batch_fn,
        compact_nb_counts,
        serve_nb_weights,
    )
    from avk_job_skill_analytics_spark.streaming.fsio import IndexFS

    d = str(tmp_path / "model")
    os.makedirs(d)
    sink = _nb_train_batch_fn(d, "doc_id", "text", "y")
    b0 = spark.createDataFrame(
        [(1, "alpha alpha beta", 1), (2, "beta gamma", 0)],
        "doc_id long, text string, y int",
    )
    b1 = spark.createDataFrame(
        [(3, "alpha gamma gamma", 0)], "doc_id long, text string, y int"
    )
    sink(b0, 0)
    sink(b1, 1)
    w = lambda: sorted(
        map(tuple, serve_nb_weights(spark, d).collect())
    )
    before = w()
    # marker-lost redelivery rewrites identical deltas
    fs = IndexFS(spark, d)
    fs.delete("_batch_1")
    sink(b1, 1)
    assert w() == before
    stats = compact_nb_counts(spark, d)
    assert stats["rows"] == len(before)  # one summed row per term
    assert w() == before                 # weights invariant
    # counts really merged: the generation holds cross-batch sums
    com = {
        r["term"]: (r["c1"], r["c0"])
        for r in spark.read.parquet(f"{d}/counts/batch=-1").collect()
    }
    assert com["alpha"] == (2, 1) and com["gamma"] == (0, 3)
    # post-compaction training keeps absorbing
    sink(spark.createDataFrame(
        [(4, "delta", 1)], "doc_id long, text string, y int"), 2)
    terms = {r["term"] for r in serve_nb_weights(spark, d).collect()}
    assert "delta" in terms and "alpha" in terms
