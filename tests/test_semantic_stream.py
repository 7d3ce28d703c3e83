"""Crash-window and exactness tests for the growing SEMANTIC
(embedding) banded index (streaming/semantic_stream) — the same
discipline the ssjoin/LSH maintenance suites lock: redelivery neither
duplicates index rows nor re-emits pairs, a pre-marker crash replays
identically, compaction preserves behavior, and the drained pairs
equal the one-shot batch banding."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from avk_job_skill_analytics_spark.operators.similarity import (
    _signatures,
    band_sig_structs_np,
    knn_graph,
)
from avk_job_skill_analytics_spark.streaming.batched_index import (
    committed_table_dirs,
)
from avk_job_skill_analytics_spark.streaming.fsio import IndexFS
from avk_job_skill_analytics_spark.streaming.semantic_stream import (
    _semantic_maintain_batch_fn,
    compact_semantic_index,
)

DIM = 8


def _vec(seed: float, flip: int = 0) -> list:
    """Deterministic vector; ``flip`` perturbs one component a little
    (near-dup) — cosine to the unflipped vector stays ~1."""
    v = [((seed * (i + 3)) % 7) - 3.0 for i in range(DIM)]
    if flip:
        v[0] += 0.01 * flip
    return v


def _df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _pairs(spark, d):
    return {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(f"{d}/pairs").collect()
    }


def _sink(d, **kw):
    return _semantic_maintain_batch_fn(
        d, "vec_id", "embedding", DIM, bands=2, rows_per_band=4,
        threshold=0.9, **kw,
    )


def test_semantic_maintain_detects_cross_batch_pair(spark, tmp_path):
    d = str(tmp_path / "idx")
    os.makedirs(d)
    sink = _sink(d)
    sink(_df(spark, [(1, _vec(1.0)), (2, _vec(5.3))]), 0)
    sink(_df(spark, [(3, _vec(1.0, flip=1))]), 1)
    got = _pairs(spark, d)
    assert (1, 3) in got
    # and the pair's cosine is the exact rounded cosine
    row = spark.read.parquet(f"{d}/pairs").filter(
        (F.col("id_a") == 1) & (F.col("id_b") == 3)
    ).collect()[0]
    import math

    a, b = _vec(1.0), _vec(1.0, flip=1)
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    assert abs(row["cosine"] - round(dot / (na * nb), 6)) < 1e-9


def test_semantic_maintain_intra_batch_pair(spark, tmp_path):
    """Co-arriving near-dups pair INSIDE their own batch — the frozen
    gate's blind spot this module exists to close."""
    d = str(tmp_path / "idx")
    os.makedirs(d)
    sink = _sink(d)
    sink(_df(spark, [(4, _vec(2.0)), (5, _vec(2.0, flip=1))]), 0)
    assert (4, 5) in _pairs(spark, d)


def test_semantic_redelivery_is_exactly_once(spark, tmp_path):
    d = str(tmp_path / "idx")
    os.makedirs(d)
    fs = IndexFS(spark, d)
    sink = _sink(d)
    sink(_df(spark, [(1, _vec(1.0))]), 0)
    sink(_df(spark, [(3, _vec(1.0, flip=1))]), 1)

    def idx_rows():
        return sorted(
            map(tuple,
                spark.read.parquet(*committed_table_dirs(fs, "bands"))
                .collect())
        )

    before = idx_rows()
    pairs_before = _pairs(spark, d)
    sink(_df(spark, [(1, _vec(1.0))]), 0)   # clean replay: marker skip
    sink(_df(spark, [(3, _vec(1.0, flip=1))]), 1)
    assert idx_rows() == before
    assert _pairs(spark, d) == pairs_before
    assert (1, 3) in pairs_before


def test_semantic_crash_before_marker_replays_identically(spark, tmp_path):
    """Artifacts written, marker lost: the redelivered batch must not
    see its own half-written dirs (candidates come from the batch
    self-join + COMMITTED bands only) and must converge to the
    crash-free result."""
    d = str(tmp_path / "idx")
    os.makedirs(d)
    fs = IndexFS(spark, d)
    sink = _sink(d)
    sink(_df(spark, [(1, _vec(1.0))]), 0)
    sink(_df(spark, [(3, _vec(1.0, flip=1)), (4, _vec(1.0, flip=2))]), 1)
    fs.delete("_batch_1")                   # simulate marker loss
    sink(_df(spark, [(3, _vec(1.0, flip=1)), (4, _vec(1.0, flip=2))]), 1)
    got = _pairs(spark, d)
    assert got == {(1, 3), (1, 4), (3, 4)}
    assert fs.exists("_batch_1")


def test_semantic_compaction_preserves_behavior(spark, tmp_path):
    d = str(tmp_path / "idx")
    os.makedirs(d)
    fs = IndexFS(spark, d)
    sink = _sink(d)
    sink(_df(spark, [(1, _vec(1.0))]), 0)
    sink(_df(spark, [(2, _vec(9.7))]), 1)

    def rows():
        return sorted(
            map(tuple,
                spark.read.parquet(*committed_table_dirs(fs, "bands"))
                .collect())
        )

    before = rows()
    stats = compact_semantic_index(spark, d)
    assert stats["files_after"] <= stats["files_before"]
    assert rows() == before
    # redelivered pre-compaction batch still short-circuits
    sink(_df(spark, [(1, _vec(1.0))]), 0)
    assert rows() == before
    # a genuinely new batch appends and collides with compacted rows
    sink(_df(spark, [(31, _vec(1.0, flip=1))]), 2)
    assert (1, 31) in _pairs(spark, d)


def test_semantic_auto_compaction_bounds_files(spark, tmp_path):
    d = str(tmp_path / "idx")
    os.makedirs(d)
    fs = IndexFS(spark, d)
    sink = _sink(d, compact_every=2)
    for b in range(6):
        sink(_df(spark, [(100 + b, _vec(1.0, flip=b))]), b)
    view = committed_table_dirs(fs, "bands")
    real_in_view = [p for p in view if "batch=-" not in p]
    gens_in_view = [p for p in view if "batch=-" in p]
    assert len(real_in_view) <= 2, view
    assert gens_in_view, view
    # the near-dup chain was detected across generations
    assert len(_pairs(spark, d)) >= 5


def test_semantic_drain_equals_batch_banding(spark, tmp_path):
    """Any arrival batching drains EXACTLY the one-shot batch banding
    pair set — the invariant the DuckDB oracle of
    stream_semantic_index_maintain relies on."""
    d = str(tmp_path / "idx")
    os.makedirs(d)
    rows = [(i, _vec(float(1 + i % 3), flip=i // 3)) for i in range(12)]
    sink = _sink(d)
    sink(_df(spark, rows[:5]), 0)
    sink(_df(spark, rows[5:9]), 1)
    sink(_df(spark, rows[9:]), 2)
    df = _df(spark, rows)
    sigs = df.select(
        F.col("vec_id"),
        F.explode(band_sig_structs_np("embedding", DIM, 2, 4)).alias("_bs"),
    ).select("vec_id", "_bs.band", "_bs.sig")
    b2 = sigs.select(
        F.col("vec_id").alias("_v2"), "band", "sig"
    )
    cand = (
        sigs.join(b2, ["band", "sig"])
        .filter(F.col("vec_id") < F.col("_v2"))
        .select(F.col("vec_id").alias("id_a"),
                F.col("_v2").alias("id_b"))
        .distinct()
    )
    va = df.select(F.col("vec_id").alias("id_a"),
                   F.col("embedding").alias("_a"))
    vb = df.select(F.col("vec_id").alias("id_b"),
                   F.col("embedding").alias("_b"))
    from avk_job_skill_analytics_spark.operators.similarity import (
        _dot,
        _norm,
    )

    batch_pairs = {
        (r["id_a"], r["id_b"])
        for r in cand.join(va, "id_a").join(vb, "id_b")
        .withColumn(
            "cos",
            F.round(_dot(F.col("_a"), F.col("_b"))
                    / (_norm(F.col("_a")) * _norm(F.col("_b"))), 6),
        )
        .filter(F.col("cos") >= 0.9)
        .collect()
    }
    assert _pairs(spark, d) == batch_pairs
    assert batch_pairs, "fixture should produce at least one pair"


def test_nan_embedding_fails_loudly(spark):
    """The signature kernel raises on a NaN element instead of
    signing the vector to 0 (the oracles' fold would set bits for
    it), in its banded form and in its packed form behind
    lsh_topk / knn_graph; NULL vectors, NULL elements and
    wrong-length vectors — NaN-bearing or not — still sign to 0."""
    nan = float("nan")
    ok = _df(spark, [
        (1, None),
        (2, [1.0, None] + [0.5] * (DIM - 2)),
        (3, [1.0] * 3),
        (4, [nan] * 3),
    ])
    sigs = ok.select(
        F.explode(band_sig_structs_np("embedding", DIM, 2, 4)).alias("s")
    ).select("s.sig").collect()
    assert len(sigs) == 8 and all(r.sig == 0 for r in sigs)
    packed = ok.select(
        F.element_at(_signatures("embedding", DIM, range(4), 4), 1)
        .alias("sig")
    ).collect()
    assert len(packed) == 4 and all(r.sig == 0 for r in packed)
    bad = _df(spark, [(1, _vec(1.0)), (2, [nan] + _vec(2.0)[1:])])
    for signed in (
        lambda: bad.select(
            band_sig_structs_np("embedding", DIM, 2, 4).alias("s")
        ),
        lambda: knn_graph(bad, "vec_id", "embedding", DIM, k=1, planes=4),
    ):
        with pytest.raises(Exception, match="ValueError: NaN element"):
            signed().collect()
