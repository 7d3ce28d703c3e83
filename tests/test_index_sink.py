"""The one growing-index sink (streaming/batched_index.index_sink),
locked once over all six layouts that append through it: minhash
(LSH bands/sets), ssjoin (prefix postings), semantic (embedding
bands), lexical (BM25 postings), classify (Naive Bayes count deltas,
SUM-merge compaction) and linear (logistic-regression state journal,
latest-state compaction).

Each layout runs through its own ``_*_batch_fn`` factory; the sink
contract checked here is the part the factories no longer spell out:
a clean redelivery writes nothing, a pending compaction journal is
finished before the batch reads or writes, and ``compact_every``
folds committed batches into one generation without changing what
is served. Compaction of those six plus the IVF-PQ cells and the
auto-retrain raw log is also checked to need no ``localCheckpoint``
staging."""

from __future__ import annotations

import os

import pytest
from conftest import SF_DIR

from avk_job_skill_analytics_spark.streaming import (
    batched_index,
    classify_stream,
    lexical_stream,
    linear_stream,
    minhash_stream,
    semantic_stream,
    ssjoin_stream,
)
from avk_job_skill_analytics_spark.streaming.batched_index import (
    committed_table_dirs,
)
from avk_job_skill_analytics_spark.streaming.fsio import (
    JOURNAL,
    IndexFS,
    write_journal,
)

T = "the quick brown fox jumps over the lazy dog again and again"
TEXTS = [
    [(1, T)],
    [(2, T + " tail")],
    [(3, "entirely different corpus words about spark")],
    [(4, T + " extended")],
    [(5, "entirely different corpus words about spark engines")],
]
DOCS = [
    [(1, "spark shuffle join spark spark")],
    [(2, "spark scan filter pad pad pad")],
    [(3, "pad pad pad pad")],
    [(4, "spark spark pad")],
    [(5, "spark join pad")],
]
LABELED = [
    [(1, "alpha alpha beta", 1), (2, "beta gamma", 0)],
    [(3, "alpha gamma gamma", 0)],
    [(4, "delta beta", 1)],
    [(5, "gamma delta", 0)],
    [(6, "alpha delta delta", 1)],
]
STEPS = [
    [(1.0, 0.1, 0.0), (1.0, 0.2, 0.0), (1.0, 0.9, 1.0)],
    [(1.0, 0.8, 1.0), (1.0, 0.3, 0.0)],
    [(1.0, 0.95, 1.0)],
    [(1.0, 0.05, 0.0)],
    [(1.0, 0.6, 1.0)],
]


def _vec(seed: float, flip: int = 0) -> list:
    v = [((seed * (i + 3)) % 7) - 3.0 for i in range(8)]
    v[0] += 0.01 * flip
    return v


VECS = [
    [(1, _vec(1.0))],
    [(2, _vec(1.0, flip=1))],
    [(3, _vec(5.3))],
    [(4, _vec(1.0, flip=2))],
    [(5, _vec(5.3, flip=1))],
]


def _rows(df):
    return sorted(map(tuple, df.select(sorted(df.columns)).collect()))


def _pairs_and_index(probe):
    """Served view of a pair-emitting layout: every batch's pairs plus
    the committed rows of the probe table."""
    def served(spark, d):
        fs = IndexFS(spark, d)
        return (_rows(spark.read.parquet(f"{d}/pairs")),
                _rows(spark.read.parquet(
                    *committed_table_dirs(fs, probe))))

    return served


# (module, factory(d, compact_every), batches, schema, served(spark, d))
CASES = {
    "minhash": (
        minhash_stream,
        lambda d, ce: minhash_stream._lsh_maintain_batch_fn(
            d, "doc_id", "text", 3, 16, 8, 0.5, 7, compact_every=ce),
        TEXTS, "doc_id long, text string", _pairs_and_index("bands"),
    ),
    "ssjoin": (
        ssjoin_stream,
        lambda d, ce: ssjoin_stream._ssjoin_maintain_batch_fn(
            d, "doc_id", "text", 3, 1, 2, compact_every=ce),
        TEXTS, "doc_id long, text string", _pairs_and_index("postings"),
    ),
    "semantic": (
        semantic_stream,
        lambda d, ce: semantic_stream._semantic_maintain_batch_fn(
            d, "vec_id", "embedding", 8, bands=2, rows_per_band=4,
            threshold=0.9, compact_every=ce),
        VECS, "vec_id long, embedding array<double>",
        _pairs_and_index("bands"),
    ),
    "lexical": (
        lexical_stream,
        lambda d, ce: lexical_stream._bm25_maintain_batch_fn(
            d, "doc_id", "text", compact_every=ce),
        DOCS, "doc_id long, text string",
        lambda spark, d: _rows(lexical_stream.serve_bm25(
            spark, d, ["spark", "pad"], "doc_id", k=10)),
    ),
    "classify": (
        classify_stream,
        lambda d, ce: classify_stream._nb_train_batch_fn(
            d, "doc_id", "text", "y", compact_every=ce),
        LABELED, "doc_id long, text string, y int",
        lambda spark, d: _rows(classify_stream.serve_nb_weights(spark, d)),
    ),
    "linear": (
        linear_stream,
        lambda d, ce: linear_stream._logreg_train_batch_fn(
            d, ["x0", "x1"], "y", 1.0, 2.0, compact_every=ce),
        STEPS, "x0 double, x1 double, y double",
        lambda spark, d: _rows(linear_stream.serve_logreg_weights(
            spark, d, ["w_bias", "w_x"])),
    ),
}


def _files(d):
    """Every file under the index root with its size and mtime."""
    out = []
    for root, _, names in os.walk(d):
        for n in names:
            p = os.path.join(root, n)
            st = os.stat(p)
            out.append((os.path.relpath(p, d), st.st_size, st.st_mtime_ns))
    return sorted(out)


def _run(spark, sink, batches, schema, n, first=0):
    for i in range(first, n):
        sink(spark.createDataFrame(batches[i], schema), i)


def _spy_writes(monkeypatch, mod):
    """Route ``mod``'s factory through a wrapper that records, per
    ``write_batch`` call, the batch id, whether a compaction journal
    was still pending and the committed set the sink handed over."""
    seen = []
    real = batched_index.index_sink

    def wrapped(index_dir, layout, write_batch, compact_every=None):
        def spy(bdf, fs, batch_id, committed):
            seen.append((batch_id, fs.exists(JOURNAL), set(committed)))
            write_batch(bdf, fs, batch_id, committed)

        return real(index_dir, layout, spy, compact_every)

    monkeypatch.setattr(mod, "index_sink", wrapped)
    return seen


@pytest.mark.parametrize("case", sorted(CASES))
def test_clean_redelivery_writes_nothing(spark, tmp_path, monkeypatch,
                                         case):
    mod, factory, batches, schema, served = CASES[case]
    d = str(tmp_path / "idx")
    os.makedirs(d)
    seen = _spy_writes(monkeypatch, mod)
    sink = factory(d, None)
    _run(spark, sink, batches, schema, 2)
    before, view = _files(d), served(spark, d)
    sink(spark.createDataFrame(batches[1], schema), 1)
    assert _files(d) == before
    assert [b for b, _, _ in seen] == [0, 1]
    assert served(spark, d) == view


@pytest.mark.parametrize("case", sorted(CASES))
def test_pending_journal_finished_before_write(spark, tmp_path,
                                               monkeypatch, case):
    mod, factory, batches, schema, served = CASES[case]
    ref = str(tmp_path / "ref")
    d = str(tmp_path / "idx")
    os.makedirs(ref)
    os.makedirs(d)
    _run(spark, factory(ref, None), batches, schema, 3)
    seen = _spy_writes(monkeypatch, mod)
    sink = factory(d, None)
    _run(spark, sink, batches, schema, 2)
    # a compaction that committed its journal and crashed before
    # apply: generation -1 (the committed rows of every layout table)
    # at its final path, journal consuming batches 0 and 1
    fs = IndexFS(spark, d)
    for table in mod._LAYOUT:
        spark.read.parquet(*committed_table_dirs(fs, table)).write \
            .parquet(fs.uri(f"{table}/batch=-1"))
    write_journal(fs, -1, ["0", "1"])
    _run(spark, sink, batches, schema, 3, first=2)
    assert seen[-1] == (2, False, {"-1"})
    assert not fs.exists(JOURNAL) and fs.exists("_batch_-1")
    assert served(spark, d) == served(spark, ref)


@pytest.mark.parametrize("case", sorted(CASES))
def test_compact_every_leaves_one_generation(spark, tmp_path, case):
    mod, factory, batches, schema, served = CASES[case]
    plain = str(tmp_path / "plain")
    auto = str(tmp_path / "auto")
    os.makedirs(plain)
    os.makedirs(auto)
    _run(spark, factory(plain, None), batches, schema, len(batches))
    _run(spark, factory(auto, 2), batches, schema, len(batches))
    probe = next(iter(mod._LAYOUT))
    ids = sorted(p.rsplit("=", 1)[1] for p in committed_table_dirs(
        IndexFS(spark, auto), probe))
    # batches 0-1 fold into -1, then -1 and 2-3 into -2; 4 is later
    assert ids == ["-2", "4"], ids
    assert served(spark, auto) == served(spark, plain)


EMB = f"{SF_DIR}/embeddings.parquet"


def _grow_ivfpq(spark, d):
    """A base IVF-PQ index over even vec_ids plus two absorbed
    batches; the cells layout compacts through ``compact_cells``."""
    from pyspark.sql import functions as F

    from avk_job_skill_analytics_spark.operators import ann_index
    from avk_job_skill_analytics_spark.streaming import ann_maintain

    e = spark.read.parquet(EMB)
    ann_index.build_index(
        spark, e.filter(F.col("vec_id") % 2 == 0), "vec_id", "embedding", d)
    sink = ann_maintain._ivfpq_append_batch_fn(d, "vec_id", "embedding",
                                               8, 8)
    sink(e.filter(F.col("vec_id") % 4 == 1), 0)
    sink(e.filter(F.col("vec_id") % 4 == 3), 1)
    q = e.filter(F.col("vec_id") < 10)
    return (
        lambda: ann_index.compact_cells(spark, d),
        lambda: _rows(ann_index.serve_topk(
            spark, d, q, "vec_id", "embedding", n_probe=2, sub_d=8, k=5)),
    )


def _grow_raw(spark, d):
    """A versioned root whose auto-retrain sink logged two calm
    batches (the ratio never fires); the raw log compacts through
    ``compact_batched_index`` over its layout."""
    from pyspark.sql import functions as F

    from avk_job_skill_analytics_spark.operators import ann_index
    from avk_job_skill_analytics_spark.streaming import ann_maintain

    e = spark.read.parquet(EMB)
    base = e.filter(F.col("vec_id") % 4 == 0)
    ann_index.rebuild_swap(spark, d, base, "vec_id", "embedding")
    sink = ann_maintain._auto_retrain_batch_fn(
        d, base, "vec_id", "embedding", ratio_num=10 ** 6)
    sink(e.filter(F.col("vec_id") % 4 == 1), 0)
    sink(e.filter(F.col("vec_id") % 4 == 3), 1)
    fs = IndexFS(spark, d)
    return (
        lambda: batched_index.compact_batched_index(
            spark, d, ann_maintain._RAW_LAYOUT),
        lambda: _rows(spark.read.parquet(*committed_table_dirs(fs, "raw"))),
    )


def _grow_case(case):
    def grow(spark, d):
        mod, factory, batches, schema, served = CASES[case]
        _run(spark, factory(d, None), batches, schema, 3)
        return (
            lambda: batched_index.compact_batched_index(
                spark, d, mod._LAYOUT),
            lambda: served(spark, d),
        )

    return grow


GROW = {case: _grow_case(case) for case in CASES}
GROW["ivfpq"] = _grow_ivfpq
GROW["raw"] = _grow_raw


@pytest.mark.parametrize("case", sorted(GROW))
def test_compaction_never_stages_through_local_checkpoint(
        spark, tmp_path, monkeypatch, case):
    """Every layout's compaction reads committed batch dirs and writes
    a fresh generation dir, so no layout spec or compactor needs a
    ``localCheckpoint`` staging: compacting with it raising succeeds
    and serves what was served before."""
    from pyspark.sql import DataFrame

    d = str(tmp_path / "idx")
    os.makedirs(d)
    compact, served = GROW[case](spark, d)
    view = served()

    def staged(*args, **kwargs):
        raise AssertionError("compaction staged through localCheckpoint")

    with monkeypatch.context() as mp:
        for cls in {DataFrame, type(spark.range(0))}:
            mp.setattr(cls, "localCheckpoint", staged)
        stats = compact()
    assert stats["rows"] > 0
    assert served() == view
