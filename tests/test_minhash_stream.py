"""Streaming MinHash-LSH — expression/batch parity and replay dedup.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from avk_job_skill_analytics_spark.operators.dedup import (
    minhash_signatures,
    word_shingles,
)
from avk_job_skill_analytics_spark.operators.hashing import md5_long
from avk_job_skill_analytics_spark.plans.schemas import load
from avk_job_skill_analytics_spark.streaming.minhash_stream import (
    build_lsh_index,
    shingle_hash_array,
    signature_columns,
    stream_minhash_dedup,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load(spark, SF_DIR, "documents").select("doc_id", "text")


def test_shingle_expression_matches_batch_operator(spark, docs):
    """The in-row shingle-hash array must equal the exploded batch
    word_shingles + md5_long set, doc by doc."""
    expr_side = docs.select(
        "doc_id",
        F.sort_array(shingle_hash_array(F.col("text"))).alias("sh"),
    )
    batch_side = (
        word_shingles(docs, "doc_id", "text")
        .select("doc_id", md5_long(F.col("shingle")).alias("h"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("h")).alias("sh"))
    )
    e = expr_side.alias("e")
    b = batch_side.alias("b")
    diff = e.join(b, "doc_id").filter(F.col("e.sh") != F.col("b.sh"))
    # short-doc rows (< k words) are absent from batch_side entirely
    missing = e.join(b, "doc_id", "left_anti")
    assert diff.count() == 0
    assert missing.filter(F.size("sh") > 0).count() == 0


def test_signature_expressions_match_batch_signatures(spark, docs):
    sh = word_shingles(docs, "doc_id", "text")
    batch_sig = minhash_signatures(sh, "doc_id", num_hashes=16)
    expr_sig = docs.select(
        "doc_id", shingle_hash_array(F.col("text")).alias("_sh")
    ).filter(F.size("_sh") > 0).select(
        "doc_id", *signature_columns(F.col("_sh"), num_hashes=16)
    )
    cols = [f"m{j}" for j in range(16)]
    joined = batch_sig.alias("b").join(expr_sig.alias("e"), "doc_id")
    mism = joined.filter(
        " OR ".join(f"b.{c} <> e.{c}" for c in cols)
    )
    assert batch_sig.count() == expr_sig.count()
    assert mism.count() == 0


def test_stream_matches_batch_and_replay_is_exactly_once(spark, docs):
    """The registry query streams the odd docs TWICE; its drained
    output must equal the one-shot batch run of the same plan."""
    import __spark_entry__ as E

    static = docs.filter(F.col("doc_id") % 2 == 0)
    index_bands, index_sets = build_lsh_index(static, "doc_id", "text")
    batch_out = stream_minhash_dedup(
        docs.filter(F.col("doc_id") % 2 == 1),
        index_bands, index_sets, "doc_id", "text",
    )
    expected = {
        (r["doc_a"], r["doc_b"], r["jaccard"]) for r in batch_out.collect()
    }
    streamed = E.queries()["stream_minhash_dedup"](spark, SF_DIR)
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"]) for r in streamed.collect()
    }
    assert got == expected
    # append sink + double delivery: equality above already proves no
    # pair surfaced twice (a set can't show it) — check row count too
    assert streamed.count() == len(expected)


def test_lsh_maintain_grows_index_and_survives_redelivery(spark, tmp_path):
    """Growing-index maintenance sink: batch 1 pairs exist only
    because batch 0 grew the index; a re-presented batch (clean
    replay AND crash replay with the marker gone) neither duplicates
    index rows nor re-emits pairs."""
    import os

    from avk_job_skill_analytics_spark.streaming.minhash_stream import (
        _lsh_maintain_batch_fn,
    )

    d = str(tmp_path / "idx")
    os.makedirs(d)
    sink = _lsh_maintain_batch_fn(d, "doc_id", "text", 3, 16, 8, 0.5, 7)
    t = "the quick brown fox jumps over the lazy dog again and again"
    b0 = spark.createDataFrame(
        [(1, t), (2, "completely different text about spark engines here")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(11, t + " tail"), (12, "nothing like anything indexed before")],
        "doc_id long, text string",
    )

    def state():
        bands = spark.read.parquet(f"{d}/bands").count()
        pairs = sorted(
            map(tuple, spark.read.parquet(f"{d}/pairs")
                .select("doc_a", "doc_b", "jaccard").collect())
        )
        return bands, pairs

    sink(b0, 0)
    bands0, pairs0 = state()
    assert bands0 > 0 and pairs0 == []  # empty index -> no pairs
    sink(b1, 1)
    bands1, pairs1 = state()
    assert bands1 > bands0  # the index grew
    assert any(a == 1 and b == 11 for a, b, _ in pairs1), pairs1
    # clean replay: marker short-circuits
    sink(b1, 1)
    assert state() == (bands1, pairs1)
    # crash replay: marker lost mid-batch -> rewrite converges
    os.remove(f"{d}/_batch_1")
    sink(b1, 1)
    assert state() == (bands1, pairs1)


def test_lsh_index_compaction_preserves_behavior(spark, tmp_path):
    """Compaction rewrites the batch dirs into one bounded layout:
    row-identical index, fewer files, markers preserved, and the
    maintenance sink keeps working (appends + pair detection) on the
    compacted index."""
    import os

    from avk_job_skill_analytics_spark.streaming.fsio import IndexFS
    from avk_job_skill_analytics_spark.streaming.batched_index import (
        committed_table_dirs,
    )
    from avk_job_skill_analytics_spark.streaming.minhash_stream import (
        _lsh_maintain_batch_fn,
        compact_lsh_index,
    )

    d = str(tmp_path / "idx")
    os.makedirs(d)
    fs = IndexFS(spark, d)
    sink = _lsh_maintain_batch_fn(d, "doc_id", "text", 3, 16, 8, 0.5, 7)
    t = "the quick brown fox jumps over the lazy dog again and again"
    sink(spark.createDataFrame([(1, t)], "doc_id long, text string"), 0)
    sink(spark.createDataFrame(
        [(2, "unrelated words entirely about other topics")],
        "doc_id long, text string"), 1)

    def rows():
        return sorted(
            map(tuple,
                spark.read.parquet(*committed_table_dirs(fs, "bands"))
                .select("_idx_id", "band", "sig").collect())
        )

    rows_before = rows()
    stats = compact_lsh_index(spark, d)
    assert stats["bands_files_after"] <= stats["bands_files_before"]
    assert rows() == rows_before
    # consumed batch dirs survive one tombstone grace cycle for
    # in-flight readers, excluded from the committed view above
    assert os.path.exists(f"{d}/bands/batch=0")
    # redelivered pre-compaction batch still skips on its marker
    sink(spark.createDataFrame([(1, t)], "doc_id long, text string"), 0)
    assert rows() == rows_before
    # and a genuinely new batch appends + collides with compacted rows
    sink(spark.createDataFrame(
        [(31, t + " extended")], "doc_id long, text string"), 2)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(f"{d}/pairs").collect()
    }
    assert (1, 31) in pairs, pairs


def test_lsh_maintain_crash_before_marker_with_intra_batch_dups(
        spark, tmp_path):
    """Crash window: bands+sets written but the marker lost. The
    redelivered batch must NOT see its own half-written directories
    in the index (no intra-batch self-collision pairs) — the pair set
    must equal a crash-free run's."""
    import os

    from avk_job_skill_analytics_spark.streaming.minhash_stream import (
        _lsh_maintain_batch_fn,
    )

    t = "the quick brown fox jumps over the lazy dog again and again"
    # batch 1 contains TWO mutual near-dups (11, 12): a redelivery
    # that reads its own bands would emit (11, 12) spuriously
    b0 = spark.createDataFrame([(1, t)], "doc_id long, text string")
    b1 = spark.createDataFrame(
        [(11, t + " tail"), (12, t + " tail")],
        "doc_id long, text string",
    )

    def run(d):
        sink = _lsh_maintain_batch_fn(
            str(d), "doc_id", "text", 3, 16, 8, 0.5, 7
        )
        os.makedirs(str(d), exist_ok=True)
        sink(b0, 0)
        sink(b1, 1)
        return sink

    clean = tmp_path / "clean"
    run(clean)
    clean_pairs = sorted(
        map(tuple, spark.read.parquet(f"{clean}/pairs")
            .select("doc_a", "doc_b").collect())
    )
    crash = tmp_path / "crash"
    sink = run(crash)
    os.remove(f"{crash}/_batch_1")  # simulate crash before marker
    sink(b1, 1)                     # redelivery
    crash_pairs = sorted(
        map(tuple, spark.read.parquet(f"{crash}/pairs")
            .select("doc_a", "doc_b").collect())
    )
    assert crash_pairs == clean_pairs
    assert (11, 12) not in crash_pairs  # intra-batch docs joined later


def test_lsh_compaction_recovers_from_mid_apply_crash(spark, tmp_path):
    """A compaction that committed its journal but crashed mid-apply
    is finished idempotently by the next sink call — row-identical
    index, no empty-index window, and a second compaction works."""
    import json
    import os

    from avk_job_skill_analytics_spark.streaming.fsio import IndexFS
    from avk_job_skill_analytics_spark.streaming.batched_index import (
        committed_table_dirs,
    )
    from avk_job_skill_analytics_spark.streaming.minhash_stream import (
        _lsh_maintain_batch_fn,
        compact_lsh_index,
    )

    d = str(tmp_path / "idx")
    os.makedirs(d)
    fs = IndexFS(spark, d)
    sink = _lsh_maintain_batch_fn(d, "doc_id", "text", 3, 16, 8, 0.5, 7)
    t = "the quick brown fox jumps over the lazy dog again and again"
    sink(spark.createDataFrame([(1, t)], "doc_id long, text string"), 0)
    sink(spark.createDataFrame(
        [(2, "different corpus text about engines")],
        "doc_id long, text string"), 1)

    def rows():
        dirs = committed_table_dirs(fs, "bands")
        return sorted(
            map(tuple, spark.read.parquet(*dirs)
                .select("_idx_id", "band", "sig").collect())
        )

    expected = rows()
    # simulate: generation written at its final path + journal
    # committed, apply never ran (crash right after the atomic
    # commit point)
    b = spark.read.parquet(*committed_table_dirs(fs, "bands"))
    s = spark.read.parquet(*committed_table_dirs(fs, "sets"))
    b.write.parquet(f"{d}/bands/batch=-1")
    s.write.parquet(f"{d}/sets/batch=-1")
    with open(f"{d}/_compact_commit", "w") as f:
        json.dump({"gen": -1, "consumed": ["0", "1"]}, f)
    # journal overlay: readers already see exactly the committed rows
    assert rows() == expected
    # next batch triggers recovery first, then appends on top
    sink(spark.createDataFrame(
        [(31, t + " extended")], "doc_id long, text string"), 2)
    assert not os.path.exists(f"{d}/_compact_commit")
    assert os.path.exists(f"{d}/_batch_-1")
    # consumed batch dirs are TOMBSTONED, not deleted at apply: their
    # data stays one grace cycle for in-flight readers, excluded from
    # every new committed-view resolution (ADVICE r7 #2)
    assert os.path.exists(f"{d}/bands/batch=0")
    after = rows()
    assert [r for r in after if r[0] in (1, 2)] == expected
    assert any(r[0] == 31 for r in after)
    # the redelivered pair for (1, 31) was found against the
    # recovered (compacted) index
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(f"{d}/pairs").collect()
    }
    assert (1, 31) in pairs
    # and a straight compaction still works afterwards — its apply is
    # the point where the previous cycle's tombstones get purged
    stats = compact_lsh_index(spark, d)
    assert stats["rows"] == len(after)
    assert rows() == after
    assert not os.path.exists(f"{d}/bands/batch=0")


def test_lsh_second_compaction_crash_window_preserves_index(
        spark, tmp_path):
    """ADVICE r6 (high): a SECOND compaction — whose consumed list
    includes the previous generation — crashing between installing
    the new generation and clearing the journal must not lose the
    compacted content on recovery. Under the generation protocol the
    new generation is never in its own consumed list, so no recovery
    path can delete it; this locks that for every mid-apply window."""
    import os

    from avk_job_skill_analytics_spark.streaming.fsio import (
        IndexFS,
        read_journal,
        recover_compaction,
        write_journal,
    )
    from avk_job_skill_analytics_spark.streaming.batched_index import (
        committed_table_dirs,
        make_delete_batches,
    )
    from avk_job_skill_analytics_spark.streaming.minhash_stream import (
        _lsh_maintain_batch_fn,
        compact_lsh_index,
    )

    d = str(tmp_path / "idx")
    os.makedirs(d)
    fs = IndexFS(spark, d)
    sink = _lsh_maintain_batch_fn(d, "doc_id", "text", 3, 16, 8, 0.5, 7)
    t = "the quick brown fox jumps over the lazy dog again and again"
    sink(spark.createDataFrame([(1, t)], "doc_id long, text string"), 0)
    compact_lsh_index(spark, d)  # first compaction -> generation -1
    sink(spark.createDataFrame(
        [(2, "other corpus words entirely")],
        "doc_id long, text string"), 1)

    def rows():
        return sorted(
            map(tuple,
                spark.read.parquet(*committed_table_dirs(fs, "bands"))
                .select("_idx_id", "band", "sig").collect())
        )

    expected = rows()
    # second compaction, crash-simulated mid-apply: generation -2
    # written and journal committed (consumed includes '-1'), then the
    # apply is interrupted after the marker touch and ONE consumed
    # delete — the exact shape of the round-6 ADVICE window
    b = spark.read.parquet(*committed_table_dirs(fs, "bands"))
    s = spark.read.parquet(*committed_table_dirs(fs, "sets"))
    b.localCheckpoint().write.parquet(f"{d}/bands/batch=-2")
    s.localCheckpoint().write.parquet(f"{d}/sets/batch=-2")
    write_journal(fs, -2, ["-1", "1"])
    fs.touch("_batch_-2")
    delete_lsh = make_delete_batches(("bands", "sets"))
    delete_lsh(fs, ["-1"])  # partial apply, then "crash"
    assert rows() == expected    # journal overlay keeps the view whole
    recover_compaction(fs, delete_lsh)  # any later caller finishes it
    assert read_journal(fs) is None
    assert rows() == expected
    assert os.path.exists(f"{d}/bands/batch=-2")
    assert not os.path.exists(f"{d}/bands/batch=-1")
    assert not os.path.exists(f"{d}/_batch_-1")
    # running recovery AGAIN (double crash) is a no-op, not data loss
    recover_compaction(fs, delete_lsh)
    assert rows() == expected
    # and the sink keeps working on top of generation -2
    sink(spark.createDataFrame(
        [(31, t + " extended")], "doc_id long, text string"), 2)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(f"{d}/pairs").collect()
    }
    assert (1, 31) in pairs


def test_lsh_maintain_on_file_scheme_path(spark, tmp_path):
    """The whole maintenance + compaction cycle must run with the
    index root given as an explicit ``file:`` URI — any leftover
    ``os.*`` call on index paths would fail on the scheme prefix, so
    green here proves the Hadoop FS shim covers every touch point."""
    from avk_job_skill_analytics_spark.streaming.fsio import IndexFS
    from avk_job_skill_analytics_spark.streaming.batched_index import (
        committed_table_dirs,
    )
    from avk_job_skill_analytics_spark.streaming.minhash_stream import (
        _lsh_maintain_batch_fn,
        compact_lsh_index,
    )

    d = "file:" + str(tmp_path / "idx")
    sink = _lsh_maintain_batch_fn(d, "doc_id", "text", 3, 16, 8, 0.5, 7)
    t = "the quick brown fox jumps over the lazy dog again and again"
    sink(spark.createDataFrame([(1, t)], "doc_id long, text string"), 0)
    sink(spark.createDataFrame(
        [(11, t + " tail")], "doc_id long, text string"), 1)
    stats = compact_lsh_index(spark, d)
    assert stats["rows"] > 0
    fs = IndexFS(spark, d)
    assert fs.exists("_batch_0") and fs.exists("_batch_-1")
    # post-compaction append + pair detection still work
    sink(spark.createDataFrame(
        [(31, t + " extended")], "doc_id long, text string"), 2)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(f"{d}/pairs").collect()
    }
    assert (1, 11) in pairs and (1, 31) in pairs
    assert len(committed_table_dirs(fs, "bands")) == 2  # gen + batch 2


def test_lsh_marker_retirement_bounds_root_metadata(spark, tmp_path):
    """retire_real_markers: markers further behind the newest real
    batch than the horizon are GC'd after compaction (the index root
    would otherwise accumulate one marker per micro-batch forever),
    while rows and recent-redelivery protection are untouched."""
    import os

    from avk_job_skill_analytics_spark.streaming.fsio import IndexFS
    from avk_job_skill_analytics_spark.streaming.batched_index import (
        committed_table_dirs,
    )
    from avk_job_skill_analytics_spark.streaming.minhash_stream import (
        _lsh_maintain_batch_fn,
        compact_lsh_index,
    )

    d = str(tmp_path / "idx")
    os.makedirs(d)
    fs = IndexFS(spark, d)
    sink = _lsh_maintain_batch_fn(d, "doc_id", "text", 3, 16, 8, 0.5, 7)
    for i in range(4):
        sink(spark.createDataFrame(
            [(100 + i, f"document number {i} about different topics")],
            "doc_id long, text string"), i)

    def rows():
        return sorted(
            map(tuple,
                spark.read.parquet(*committed_table_dirs(fs, "bands"))
                .select("_idx_id", "band", "sig").collect())
        )

    expected = rows()
    compact_lsh_index(spark, d, marker_horizon=1)
    markers = sorted(
        n for n in os.listdir(d) if n.startswith("_batch_")
    )
    # ids 0 and 1 are > horizon behind max id 3: retired; 2, 3 and
    # the generation marker stay
    assert markers == ["_batch_-1", "_batch_2", "_batch_3"], markers
    assert rows() == expected
    # the most recent batch still short-circuits on redelivery
    sink(spark.createDataFrame(
        [(103, "document number 3 about different topics")],
        "doc_id long, text string"), 3)
    assert rows() == expected


def test_lsh_auto_compaction_bounds_files(spark, tmp_path):
    """compact_every: a long run (8 batches) with the sink's own
    compaction trigger keeps the committed directory count bounded
    with NO manual maintenance call, and the index content stays
    identical to an uncompacted run's."""
    import os

    from avk_job_skill_analytics_spark.streaming.fsio import IndexFS
    from avk_job_skill_analytics_spark.streaming.batched_index import (
        committed_table_dirs,
    )
    from avk_job_skill_analytics_spark.streaming.minhash_stream import (
        _lsh_maintain_batch_fn,
    )

    texts = [
        (i, f"document number {i} about topic {i % 3} with words "
            f"shared across batches {i}")
        for i in range(8)
    ]

    def run(d, compact_every):
        sink = _lsh_maintain_batch_fn(
            d, "doc_id", "text", 3, 16, 8, 0.5, 7,
            compact_every=compact_every,
        )
        for i, (doc_id, text) in enumerate(texts):
            sink(spark.createDataFrame(
                [(doc_id, text)], "doc_id long, text string"), i)
        fs = IndexFS(spark, d)
        rows = sorted(
            map(tuple,
                spark.read.parquet(*committed_table_dirs(fs, "bands"))
                .select("_idx_id", "band", "sig").collect())
        )
        return fs, rows

    d_plain = str(tmp_path / "plain")
    d_auto = str(tmp_path / "auto")
    os.makedirs(d_plain)
    os.makedirs(d_auto)
    fs_plain, rows_plain = run(d_plain, None)
    fs_auto, rows_auto = run(d_auto, 3)
    assert rows_auto == rows_plain
    n_dirs = len(committed_table_dirs(fs_auto, "bands"))
    # never more than compact_every-1 real batches + one generation,
    # where the uncompacted run keeps all 8 batch directories
    assert n_dirs <= 3, n_dirs
    assert len(committed_table_dirs(fs_plain, "bands")) == 8
    assert fs_auto.count_files("bands") < fs_plain.count_files("bands")
