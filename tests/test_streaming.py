"""Streaming/incremental tests: the file-source checkpoint subsumes
the reference's loaded-files tracker (SURVEY.md §2.9) — a re-run with
the same checkpoint must be a no-op, and newly arrived files must be
processed exactly once."""

from __future__ import annotations

from conftest import is_dir
from pyspark.sql import functions as F
from pyspark.sql import types as T

from avk_job_skill_analytics_spark.streaming.incremental import (
    incremental_file_pipeline,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("val", T.StringType()),
    ]
)


def _write_file(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_incremental_pipeline_exactly_once(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    seen: list[int] = []

    def sink(df, _epoch):
        seen.append(df.count())

    _write_file(spark, src, [(1, "a"), (2, "b")])
    incremental_file_pipeline(spark, src, SCHEMA, ckpt, sink)
    assert sum(seen) == 2

    # idle re-run: nothing new arrived -> no rows delivered
    incremental_file_pipeline(spark, src, SCHEMA, ckpt, sink)
    assert sum(seen) == 2

    # a new file arrives -> exactly its rows are delivered
    _write_file(spark, src, [(3, "c")])
    incremental_file_pipeline(spark, src, SCHEMA, ckpt, sink)
    assert sum(seen) == 3


def test_incremental_pipeline_applies_transform(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    got: list[str] = []

    def sink(df, _epoch):
        got.extend(r["val"] for r in df.collect())

    _write_file(spark, src, [(1, "x"), (2, "y")])
    incremental_file_pipeline(
        spark, src, SCHEMA, ckpt, sink,
        transform=lambda df: df.filter(df.id > 1),
    )
    assert got == ["y"]


def test_foreachbatch_upsert_replay_is_noop(spark, tmp_path):
    import os

    from avk_job_skill_analytics_spark.streaming.incremental import (
        foreach_batch_upsert,
        upsert_state,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, 10, 100, 1.0), (1, 20, 101, 2.0), (2, 5, 102, 3.0)],
        "user_id long, ts long, event_id long, value double",
    ).coalesce(1).write.mode("append").parquet(src)
    state = str(tmp_path / "state")
    os.makedirs(state)

    def drain():
        ckpt = str(tmp_path / f"ckpt_{len(os.listdir(str(tmp_path)))}")
        q = (
            foreach_batch_upsert(
                spark.readStream.schema(
                    "user_id long, ts long, event_id long, value double"
                ).parquet(src),
                state,
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    first = {
        r["user_id"]: (r["ts"], r["event_id"])
        for r in upsert_state(spark, state).collect()
    }
    assert first == {1: (20, 101), 2: (5, 102)}
    # fresh checkpoint redelivers batch 0 — the marker must no-op it
    drain()
    again = {
        r["user_id"]: (r["ts"], r["event_id"])
        for r in upsert_state(spark, state).collect()
    }
    assert again == first
    assert os.path.exists(f"{state}/_batch_0")
    # create-only commit artifacts: versioned dir + its commit file
    assert os.path.exists(f"{state}/_commit_state_0")
    assert os.path.isdir(f"{state}/state_0")
    # crash window: committed but the replay marker was lost — the
    # redelivery must recognize its own committed output (resolution
    # names this batch) and finish cleanup instead of merging the
    # batch into itself
    os.remove(f"{state}/_batch_0")
    drain()
    assert {
        r["user_id"]: (r["ts"], r["event_id"])
        for r in upsert_state(spark, state).collect()
    } == first
    assert os.path.exists(f"{state}/_batch_0")
    assert [d for d in os.listdir(state) if d.startswith("state_")] == [
        "state_0"
    ]


def test_transform_with_state_gated_or_runs(spark):
    """user_ledger_tws is env-gated on protobuf (the v2 state API's
    worker protocol). With protobuf absent it must fail fast with a
    clear NotImplementedError at plan time — not crash mid-stream;
    with protobuf present it must produce the per-user ledger."""
    import pandas as pd  # noqa: F401
    import pytest

    from avk_job_skill_analytics_spark.streaming.incremental import (
        user_ledger_tws,
    )

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value % 3 as user_id", "cast(value as double) as value")
    )
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="protobuf"):
            user_ledger_tws(stream)
        return
    assert user_ledger_tws(stream).isStreaming


def test_stream_mg_heavy_hitters_merges_batches_exactly(spark, tmp_path):
    """Two micro-batches of known items: with k above the per-batch
    vocabulary the merged MG counters are exact sums across batches;
    with tiny k the true heavy item still survives (lower bound)."""
    import pyspark.sql.functions as F

    from avk_job_skill_analytics_spark.streaming.incremental import (
        stream_mg_heavy_hitters,
    )

    src = tmp_path / "src"
    src.mkdir()
    df1 = spark.createDataFrame(
        [("hot",)] * 30 + [("warm",)] * 10, "item string"
    )
    df2 = spark.createDataFrame(
        [("hot",)] * 20 + [("cold",)] * 5, "item string"
    )
    df1.coalesce(1).write.parquet(str(src / "b1"))
    df2.coalesce(1).write.parquet(str(src / "b2"))
    stream = (
        spark.readStream.format("parquet")
        .schema("item string")
        .option("maxFilesPerTrigger", 1)
        .load(str(src) + "/*")
    )
    counters, n = stream_mg_heavy_hitters(stream, "item", k=100)
    assert n == 65
    assert counters == {"hot": 50, "warm": 10, "cold": 5}

    stream2 = (
        spark.readStream.format("parquet")
        .schema("item string")
        .option("maxFilesPerTrigger", 1)
        .load(str(src) + "/*")
    )
    tiny, n2 = stream_mg_heavy_hitters(stream2, "item", k=1)
    assert n2 == 65
    assert "hot" in tiny and tiny["hot"] <= 50  # lower bound survives


def test_stream_mg_replay_same_epoch_is_noop(spark):
    """foreachBatch is at-least-once: delivering the SAME epoch twice
    (crash redelivery) must leave the MG counters and total untouched
    — the epoch-versioned fold, mirroring the JDBC staging merge."""
    from avk_job_skill_analytics_spark.streaming.incremental import (
        mg_apply_epoch,
    )

    state = {"counters": {}, "n": 0, "last_epoch": -1}
    assert mg_apply_epoch(state, {"hot": 30, "warm": 10}, 40, 0, 100)
    assert mg_apply_epoch(state, {"hot": 20, "cold": 5}, 25, 1, 100)
    snap = (dict(state["counters"]), state["n"], state["last_epoch"])
    # redeliver epoch 1 (and a stale epoch 0): both must be no-ops
    assert not mg_apply_epoch(state, {"hot": 20, "cold": 5}, 25, 1, 100)
    assert not mg_apply_epoch(state, {"hot": 30, "warm": 10}, 40, 0, 100)
    assert (dict(state["counters"]), state["n"], state["last_epoch"]) == snap
    assert state["counters"] == {"hot": 50, "warm": 10, "cold": 5}
    assert state["n"] == 65


def test_stream_kmv_distinct_bounded_and_replay_idempotent(spark, tmp_path):
    """Two deliveries of overlapping batches: the sketch stays <= k
    longs, the estimate is exact below k, and replaying identical
    data changes nothing (idempotent merge)."""
    from avk_job_skill_analytics_spark.streaming.incremental import (
        stream_kmv_distinct,
    )

    src = tmp_path / "src"
    src.mkdir()
    spark.range(60).selectExpr("id AS uid").coalesce(1).write.parquet(
        str(src / "b1")
    )
    spark.range(30, 90).selectExpr("id AS uid").coalesce(1).write.parquet(
        str(src / "b2")
    )

    def make_stream():
        return (
            spark.readStream.format("parquet")
            .schema("uid long")
            .option("maxFilesPerTrigger", 1)
            .load(str(src) + "/*")
        )

    sk, n, rows = stream_kmv_distinct(make_stream(), "uid", k=128)
    assert n == 2
    assert rows == 120            # split-invariant drained volume
    assert len(sk) == 90          # 90 distinct < k: sketch IS the set
    sk2, _, _ = stream_kmv_distinct(make_stream(), "uid", k=128)
    assert sk2 == sk              # replay is a no-op
    sk_small, _, _ = stream_kmv_distinct(make_stream(), "uid", k=16)
    assert len(sk_small) == 16    # bounded state at tiny k
    assert sk_small == sk[:16]    # and it IS the global bottom-k


def test_ivfpq_append_redelivery_converges(spark, tmp_path):
    """Incremental IVF-PQ append: a redelivered batch (clean replay
    AND crash replay with the marker gone) leaves the stored code
    inventory row-identical — the overwrite of the batch's own
    cells/batch=<id> directory converges."""
    import os

    from pyspark.sql import functions as F

    from avk_job_skill_analytics_spark.operators import similarity
    from avk_job_skill_analytics_spark.operators.ann_index import (
        write_cells,
    )
    from avk_job_skill_analytics_spark.streaming.ann_maintain import (
        _ivfpq_append_batch_fn,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = e.filter(F.col("vec_id") % 2 == 0)
    cell_rows = (
        base.orderBy("vec_id").limit(4)
        .select(
            F.col("vec_id").cast("long").alias("_cell"),
            F.transform(F.col("embedding"),
                        lambda x: F.round(x.cast("double"), 6)).alias("_cv"),
        ).collect()
    )
    coarse = [(int(r["_cell"]), list(r["_cv"])) for r in cell_rows]
    asg = similarity._ivfpq_assign(base, "vec_id", "embedding", coarse, 6)
    cbs = similarity._ivfpq_seed_cbs(asg, 2, 8, 4, 6)
    d = str(tmp_path / "idx")
    write_cells(
        similarity.ivfpq_encode(asg, cbs, 2, 8, 6), f"{d}/cells/batch=-1"
    )
    spark.createDataFrame(
        list(coarse), "cell long, cv array<double>"
    ).write.parquet(f"{d}/coarse")
    spark.createDataFrame(
        [(s, cid, bv) for s, sub in enumerate(cbs) for cid, bv in sub],
        "s int, cid long, bv array<double>",
    ).write.parquet(f"{d}/pq")

    sink = _ivfpq_append_batch_fn(d, "vec_id", "embedding", 2, 8)
    arrivals = e.filter(F.col("vec_id") % 2 == 1).limit(20)

    def inv():
        return sorted(
            (int(r["_id"]), int(r["_cell"]), tuple(r["_codes"]))
            for r in spark.read.parquet(f"{d}/cells").collect()
        )

    n_base = len(inv())
    sink(arrivals, 0)
    after = inv()
    assert len(after) > n_base  # the index grew
    sink(arrivals, 0)           # clean replay: marker short-circuits
    assert inv() == after
    os.remove(f"{d}/_batch_0")  # crash replay: rewrite converges
    sink(arrivals, 0)
    assert inv() == after


def test_mix_fold_redelivery_guard(spark, tmp_path):
    """The mixture fold is epoch-guarded: draining the SAME source
    twice (fresh checkpoint, same state — a full clean replay) must
    not double-count any source's token mass."""
    from pyspark.sql import functions as F

    from avk_job_skill_analytics_spark.streaming.incremental import (
        foreach_batch_mix_fold,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "web", "a b c"), (2, "web", "d e"), (3, "book", "f g h i")],
        "doc_id long, source string, text string",
    ).coalesce(1).write.parquet(src)
    tokens_expr = F.size(
        F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    )
    state = {"tokens": {}, "seen": set()}

    def drain(ck):
        q = (
            foreach_batch_mix_fold(
                spark.readStream.format("parquet")
                .schema("doc_id long, source string, text string")
                .load(src),
                "source", tokens_expr, state,
            )
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain("ck1")
    assert state["tokens"] == {"web": 5, "book": 4}
    drain("ck2")  # clean replay re-presents epoch 0 -> guard skips
    assert state["tokens"] == {"web": 5, "book": 4}


def test_partitioned_upsert_touches_only_batch_buckets(spark, tmp_path):
    """The fact-sized-state contract: a batch whose keys hash to one
    bucket must leave every other bucket's committed version
    untouched (no rewrite, no retire), and the state reads back
    merged across bucket generations."""
    import os

    from avk_job_skill_analytics_spark.streaming.fsio import Cutover, IndexFS
    from avk_job_skill_analytics_spark.streaming.incremental import (
        _bucket,
        _partitioned_state_batch_fn,
        _latest_merge,
        _latest_reduce,
        upsert_state_partitioned,
    )

    def _resolve_bucket(fs, b):
        return Cutover(fs, *_bucket(b)).resolve()

    d = str(tmp_path / "state")
    os.makedirs(d)
    B = 4
    sink = _partitioned_state_batch_fn(
        d, _latest_reduce("user_id", ("ts", "event_id"), B),
        _latest_merge("user_id", ("ts", "event_id")),
        lambda df: df.withColumn(
            "_b", F.pmod(F.col("user_id").cast("long"), F.lit(B))
        ),
    )
    schema = "user_id long, ts long, event_id long"
    sink(spark.createDataFrame(
        [(0, 10, 1), (1, 10, 2), (2, 10, 3)], schema), 0)
    fs = IndexFS(spark, d)
    assert _resolve_bucket(fs, 0) == 0 and _resolve_bucket(fs, 2) == 0
    # batch 1 touches ONLY bucket 1 (keys 1 and 5)
    sink(spark.createDataFrame([(1, 20, 4), (5, 20, 5)], schema), 1)
    assert _resolve_bucket(fs, 1) == 1
    assert _resolve_bucket(fs, 0) == 0  # untouched: version unchanged
    assert _resolve_bucket(fs, 2) == 0
    assert not is_dir(fs, "data/_b=0/_v=1")  # no rewrite happened
    state = {
        r["user_id"]: r["ts"]
        for r in upsert_state_partitioned(spark, d).collect()
    }
    assert state == {0: 10, 1: 20, 2: 10, 5: 20}


def test_partitioned_upsert_partial_commit_redelivery(spark, tmp_path):
    """Crash after SOME bucket commits but before the root marker:
    the redelivered batch must skip the committed buckets (their
    version already is this batch's output — re-merging would be
    reading a leaf while overwriting it) and finish the rest; the
    final state equals a crash-free run's."""
    import os

    from avk_job_skill_analytics_spark.streaming.fsio import IndexFS
    from avk_job_skill_analytics_spark.streaming.incremental import (
        _partitioned_state_batch_fn,
        _latest_merge,
        _latest_reduce,
        upsert_state_partitioned,
    )

    B = 4
    schema = "user_id long, ts long, event_id long"
    b0 = spark.createDataFrame(
        [(0, 10, 1), (1, 10, 2), (2, 10, 3)], schema)
    b1 = spark.createDataFrame(
        [(0, 20, 4), (1, 20, 5)], schema)

    def mk(d):
        os.makedirs(d)
        return _partitioned_state_batch_fn(
            d, _latest_reduce("user_id", ("ts", "event_id"), B),
            _latest_merge("user_id", ("ts", "event_id")),
            lambda df: df.withColumn(
                "_b", F.pmod(F.col("user_id").cast("long"), F.lit(B))
            ),
        )

    clean_d = str(tmp_path / "clean")
    sink = mk(clean_d)
    sink(b0, 0)
    sink(b1, 1)
    expected = sorted(
        map(tuple, upsert_state_partitioned(spark, clean_d)
            .select("user_id", "ts", "event_id").collect())
    )
    crash_d = str(tmp_path / "crash")
    sink = mk(crash_d)
    sink(b0, 0)
    sink(b1, 1)
    fs = IndexFS(spark, crash_d)
    # simulate: root marker lost, AND bucket 1's commit lost while
    # its data leaf survives (the worst partial window)
    fs.delete("_batch_1")
    fs.delete("_commit_b1_1")
    sink(b1, 1)  # redelivery
    assert fs.exists("_batch_1") and fs.exists("_commit_b1_1")
    got = sorted(
        map(tuple, upsert_state_partitioned(spark, crash_d)
            .select("user_id", "ts", "event_id").collect())
    )
    assert got == expected


def test_partitioned_upsert_retire_grace(spark, tmp_path):
    """A bucket rewritten twice keeps exactly its newest version plus
    one superseded version (snapshot isolation), retiring older ones
    commit-file-first."""
    import os

    from avk_job_skill_analytics_spark.streaming.fsio import IndexFS
    from avk_job_skill_analytics_spark.streaming.incremental import (
        _partitioned_state_batch_fn,
        _latest_merge,
        _latest_reduce,
    )

    B = 2
    schema = "user_id long, ts long, event_id long"
    d = str(tmp_path / "state")
    os.makedirs(d)
    sink = _partitioned_state_batch_fn(
        d, _latest_reduce("user_id", ("ts", "event_id"), B),
        _latest_merge("user_id", ("ts", "event_id")),
        lambda df: df.withColumn(
            "_b", F.pmod(F.col("user_id").cast("long"), F.lit(B))
        ),
    )
    for i in range(3):
        sink(spark.createDataFrame([(0, 10 + i, i)], schema), i)
    fs = IndexFS(spark, d)
    markers = sorted(
        n for n in fs.listdir() if n.startswith("_commit_b0_")
    )
    assert markers == ["_commit_b0_1", "_commit_b0_2"]
    leaves = sorted(
        n for n in fs.listdir("data/_b=0") if n.startswith("_v=")
    )
    assert leaves == ["_v=1", "_v=2"]


def test_dedup_ledger_partial_commit_redelivery(spark, tmp_path):
    """The media-dedup ledger's additive count fold must survive the
    worst crash window WITHOUT double-counting: after a crash where
    SOME bucket committed but the root marker (and one bucket commit)
    was lost, the redelivered batch skips already-committed buckets
    and recomputes the rest from their previous versions — final
    (hash -> n_copies, keep_id, first_format) equals a crash-free
    run's. This is the property that makes the production sink shape
    safe: a complete-mode drain is trivially idempotent, a
    sum-folding ledger is only exactly-once because of the per-bucket
    create-only commit protocol."""
    import os

    from avk_job_skill_analytics_spark.streaming.fsio import IndexFS
    from avk_job_skill_analytics_spark.streaming.incremental import (
        _composite_bucket_col,
        _dedup_ledger_merge,
        _dedup_ledger_reduce,
        _partitioned_state_batch_fn,
        upsert_state_partitioned,
    )

    B = 4
    keys = ("ahash_hi", "ahash_lo")
    mins = {"keep_id": "doc_id", "first_format": "format"}
    schema = ("ahash_hi long, ahash_lo long, doc_id long, "
              "format string")
    # two hashes; batch 1 re-delivers hash (1,1) and adds (2,2)
    b0 = spark.createDataFrame(
        [(1, 1, 10, "png"), (1, 1, 11, "bmp"), (7, 7, 12, "jpeg")],
        schema)
    b1 = spark.createDataFrame(
        [(1, 1, 13, "webp"), (2, 2, 14, "png")], schema)

    def mk(d):
        os.makedirs(d)
        return _partitioned_state_batch_fn(
            d, _dedup_ledger_reduce(keys, "n_copies", mins, B),
            _dedup_ledger_merge(keys, "n_copies", mins),
            lambda df: df.withColumn(
                "_b", _composite_bucket_col(keys, B)),
        )

    def ledger(d):
        return sorted(map(tuple, upsert_state_partitioned(spark, d)
                          .select("ahash_hi", "ahash_lo", "n_copies",
                                  "keep_id", "first_format")
                          .collect()))

    clean_d = str(tmp_path / "clean")
    sink = mk(clean_d)
    sink(b0, 0)
    sink(b1, 1)
    expected = ledger(clean_d)
    assert (1, 1, 3, 10, "bmp") in expected  # counts fold across batches
    crash_d = str(tmp_path / "crash")
    sink = mk(crash_d)
    sink(b0, 0)
    sink(b1, 1)
    fs = IndexFS(spark, crash_d)
    # worst window: root marker lost AND one touched bucket's commit
    # lost while its data leaf survives
    fs.delete("_batch_1")
    lost = next(n for n in fs.listdir() if n.endswith("_1")
                and n.startswith("_commit_b"))
    fs.delete(lost)
    sink(b1, 1)  # redelivery — must NOT double n_copies anywhere
    assert fs.exists("_batch_1")
    assert ledger(crash_d) == expected


def test_cdc_tombstone_blocks_late_update(spark, tmp_path):
    """A delete must not be resurrected by a LOWER-seq update arriving
    in a LATER micro-batch — the tombstone-retention contract of
    foreach_batch_cdc."""
    import os

    from avk_job_skill_analytics_spark.streaming.incremental import (
        cdc_state,
        foreach_batch_cdc,
        upsert_state,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "k long, v double, op string, seq int"
    drops = [
        ("f0.parquet", [(1, 1.0, "U", 0), (2, 2.0, "U", 0)]),
        ("f1.parquet", [(1, None, "D", 5)]),       # delete k=1
        ("f2.parquet", [(1, 99.0, "U", 3)]),       # late, lower seq
    ]
    for i, (name, rows) in enumerate(drops):
        tmp = str(tmp_path / "_tmp")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        import glob
        import shutil as sh

        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        sh.move(part, f"{src}/{name}")
        sh.rmtree(tmp, ignore_errors=True)
        os.utime(f"{src}/{name}", (1_000_000_000 + i, 1_000_000_000 + i))
    state = str(tmp_path / "state")
    os.makedirs(state)
    q = (
        foreach_batch_cdc(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            state, "k",
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    live = {r["k"]: r["v"] for r in cdc_state(spark, state).collect()}
    assert live == {2: 2.0}  # k=1 stays dead
    # the tombstone itself is retained in the raw state with its seq
    raw = {(r["k"], r["op"], r["seq"])
           for r in upsert_state(spark, state).collect()}
    assert (1, "D", 5) in raw


def test_cdc_apply_batch_semantics(spark):
    from avk_job_skill_analytics_spark.operators.setops import cdc_apply

    target = spark.createDataFrame(
        [(1, 1.0, "U", 0), (2, 2.0, "U", 0), (3, 3.0, "U", 0)],
        "k long, v double, op string, seq int",
    )
    changes = spark.createDataFrame(
        [(1, 10.0, "U", 1),   # update
         (1, None, "D", 2),   # ...then delete the same key
         (4, 4.0, "U", 1),    # insert unseen key
         (2, 20.0, "U", 1)],  # plain update
        "k long, v double, op string, seq int",
    )
    got = {r["k"]: r["v"]
           for r in cdc_apply(target, changes, ["k"], "seq").collect()}
    assert got == {2: 20.0, 3: 3.0, 4: 4.0}


def test_freshness_fold_merges_and_guards_redelivery(spark):
    """The streaming freshness fold: (sum, max) merge across batches,
    epoch redelivery is ignored, and the drained report equals the
    batch freshness arithmetic."""
    from datetime import datetime as dt

    from avk_job_skill_analytics_spark.streaming.dq_stream import (
        foreach_batch_freshness_fold,
        freshness_report_rows,
    )

    class _FakeStream:
        class writeStream:  # noqa: N801 — mimic the attribute chain
            @staticmethod
            def foreachBatch(fn):
                return fn

    state: dict = {"seen": set()}
    fn = foreach_batch_freshness_fold(_FakeStream(), "src", "ts", state)
    b0 = spark.createDataFrame(
        [("a", dt(2024, 1, 5, 12, 0, 0)),
         ("b", dt(2024, 1, 5, 11, 0, 0))],
        "src string, ts timestamp",
    )
    b1 = spark.createDataFrame(
        [("a", dt(2024, 1, 5, 14, 0, 0))], "src string, ts timestamp"
    )
    fn(b0, 0)
    fn(b0, 0)                     # redelivered epoch: ignored
    fn(b1, 1)
    rows = {r[0]: r for r in freshness_report_rows(state,
                                                   max_lag_s=3600)}
    assert rows["a"][1] == 2 and rows["a"][2] == 0
    assert not rows["a"][3]
    # b last seen 11:00, global max 14:00 -> 3h lag, stale
    assert rows["b"][1] == 1 and rows["b"][2] == 10_800
    assert rows["b"][3] is True


def test_key_count_fold_merges_and_guards_redelivery(spark):
    """Per-key counts merge by addition across batches; epoch
    redelivery is ignored; the drained series equals the batch
    aggregate over the union."""
    from pyspark.sql import functions as F

    from avk_job_skill_analytics_spark.streaming.dq_stream import (
        foreach_batch_key_count_fold,
        key_count_rows,
    )

    class _FakeStream:
        class writeStream:  # noqa: N801 — mimic the attribute chain
            @staticmethod
            def foreachBatch(fn):
                return fn

    state: dict = {"seen": set()}
    fn = foreach_batch_key_count_fold(_FakeStream(), F.col("k"), state)
    b0 = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
    b1 = spark.createDataFrame([("a",), ("c",)], "k string")
    fn(b0, 0)
    fn(b0, 0)                  # redelivered epoch: ignored
    fn(b1, 1)
    assert dict(key_count_rows(state)) == {"a": 3, "b": 1, "c": 1}


def test_stream_media_dedup_matches_batch_ledger(spark):
    """Ingest-time perceptual dedup must agree with the batch sweep:
    the streaming drain (every asset delivered twice across two
    micro-batches) and mm_ahash_dedup's batch grouping produce the
    SAME (hash, n_copies, keep_id) ledger — re-deliveries land on
    their existing state key and divide back out exactly."""
    import __spark_entry__ as E

    qs = E.queries()
    sf = "/root/testdata/sf0.001"
    batch = {
        (r.ahash_hi, r.ahash_lo): (r.n_copies, r.keep_id)
        for r in qs["mm_ahash_dedup"](spark, sf).collect()
    }
    streamed = {
        (r.ahash_hi, r.ahash_lo): (r.n_copies, r.keep_id)
        for r in qs["stream_media_dedup"](spark, sf).collect()
    }
    assert streamed == batch
    assert any(n >= 2 for n, _ in batch.values())  # clones present


def test_stream_semantic_dedup_exactly_once_pairs(spark):
    """The embedding ingest gate must emit each verified
    (vec_id, dominator) pair exactly once despite the doubled
    delivery (re-deliveries and band collisions collapse in
    dropDuplicates state), dominators must be even (index side) and
    vec_ids odd (arrival side), and every emitted cosine clears the
    threshold."""
    import __spark_entry__ as E

    rows = E.queries()["stream_semantic_dedup"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "gate emitted nothing — banding broken?"
    pairs = [(r.vec_id, r.dominator) for r in rows]
    assert len(pairs) == len(set(pairs))        # exactly once
    assert all(v % 2 == 1 and d % 2 == 0 for v, d in pairs)
    assert all(r.cosine >= 0.4 for r in rows)
