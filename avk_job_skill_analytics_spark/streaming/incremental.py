"""Structured Streaming — the incremental file-arrival pattern
(SURVEY.md §2.9) plus beyond-reference event-time windowing.

The reference's operational core is micro-batch incremental
processing: list the bucket, diff against processed names, handle new
files, mark them done (src/transform.py:186-198,
src/load_sqlserver.py:110-127). In Spark that whole mechanism IS the
file streaming source: the checkpoint tracks processed files
(subsuming S7/S8 and the loaded_files tracker), and
``trigger(availableNow=True)`` gives the reference's "drain whatever
arrived, then stop" daily-batch behavior. ``foreachBatch`` carries the
JDBC/idempotent sink.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def epoch_already_applied(state: dict, epoch_id: int) -> bool:
    """Redelivery guard for driver-side foreachBatch folds: True when
    this epoch's contribution is already in ``state``. Epochs at or
    below the pruned floor were applied before their ids were dropped
    from the seen-set (see :func:`epoch_mark_applied`)."""
    return epoch_id <= state.get("_floor", -1) or epoch_id in state["seen"]


def epoch_mark_applied(state: dict, epoch_id: int,
                       horizon: int = 128) -> None:
    """Record an applied epoch and PRUNE the guard set to a bounded
    redelivery horizon (ADVICE r7 #5: the bare ``seen`` set grows one
    entry per trigger for the life of the stream — pure driver-memory
    leak). Safe because foreachBatch only re-presents epochs at/after
    the last uncommitted trigger: an id ``horizon`` batches behind the
    max can never arrive again, so ids below the floor collapse into
    one integer."""
    seen = state["seen"]
    seen.add(epoch_id)
    floor = max(state.get("_floor", -1), max(seen) - horizon)
    if floor > state.get("_floor", -1):
        state["seen"] = {e for e in seen if e > floor}
        state["_floor"] = floor


def drain_available_now(spark: SparkSession, writer,
                        checkpoint: str | None = None) -> None:
    """Run one streaming query to completion: start ``writer`` (a
    ``DataStreamWriter``) with ``trigger(availableNow=True)`` and block
    until every available input is processed. The one drain of the
    package; every call site hands it a configured writer.

    ``checkpoint=None`` drains against a throwaway checkpoint created
    here and deleted when the query ends, failed or not: a reused
    availableNow checkpoint would consider its files already processed
    and drain nothing. Pass a directory only when re-runs must resume
    from it; it is left in place.

    ``spark.sql.shuffle.partitions`` is scoped to
    ``SPARK_GRAFT_STREAM_SHUFFLE`` for the drain and restored after;
    unset, it is ``min(8, defaultParallelism)``. Every stateful operator
    materializes one state store PER shuffle partition, and each store
    pays commit/maintenance overhead per micro-batch; for one-shot
    drains that fixed cost dominates (measured 13.1s -> 3.9s on
    stream_stream_left_join at sf0.1 going 32 -> 8). Below 8 task slots
    the count drops to one wave of slots: 8 stores on 4 slots run in two
    waves and pay each task's fixed cost (Python worker set-up, store
    commit) twice per slot. Size state-store count to the data volume
    per trigger, not to machine cores; on a production cluster with a
    long-lived query, raise SPARK_GRAFT_STREAM_SHUFFLE toward cores*k.
    Varying it per query is safe because the checkpoint pins the count
    for a query's lifetime: a throwaway one lives for this drain only,
    and a kept one holds the count of its first run."""
    n = int(os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE")
            or min(8, spark.sparkContext.defaultParallelism))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    ckpt = checkpoint
    try:
        ckpt = checkpoint or tempfile.mkdtemp(prefix="ckpt_")
        (
            writer.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        if checkpoint is None and ckpt is not None:
            shutil.rmtree(ckpt, ignore_errors=True)


def incremental_file_pipeline(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    checkpoint_dir: str,
    sink: Callable[[DataFrame, int], None],
    transform: Callable[[DataFrame], DataFrame] | None = None,
    fmt: str = "parquet",
) -> None:
    """Process exactly the files not yet seen by the checkpoint, apply
    ``transform``, hand each micro-batch to ``sink(df, epoch_id)``, and
    stop (availableNow). Re-running with the same checkpoint is a no-op
    when nothing new arrived — the reference's idle-scan behavior.

    ``sink`` runs per micro-batch on the driver; write idempotently
    (e.g. overwrite-by-epoch or manifest-append) for exactly-once."""
    reader = spark.readStream.format(fmt).schema(schema)
    if fmt == "csv":
        reader = reader.option("header", True)
    stream = reader.load(source_dir)
    if transform is not None:
        stream = transform(stream)
    drain_available_now(spark, stream.writeStream.foreachBatch(sink),
                        checkpoint_dir)


def tumbling_window_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window counts with a watermark for late
    data (beyond-reference: the reference stamps processing time and
    has no event-time semantics). Works on both batch and streaming
    DataFrames — same plan, Catalyst handles either mode."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), window), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            key_col,
            "n",
            "total_value",
        )
    )


def sliding_window_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "4 hours",
) -> DataFrame:
    """Event-time sliding-window counts: each event lands in
    window/slide overlapping windows (here 2). Spark expands the
    event into its windows before the hash aggregate — shuffle volume
    is rows x (window/slide), so keep the overlap factor small at
    scale."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), window, slide), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            key_col,
            "n",
            "total_value",
        )
    )


def session_window_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "4 hours",
) -> DataFrame:
    """Per-key session windows (dynamic gap-based windows): a session
    closes after ``gap`` of inactivity. Spark's native session_window
    merges adjacent events within the gap inside one stateful
    aggregate — one shuffle on the key."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            key_col,
            "n_events",
            "total_value",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    left_ts: str = "left_ts",
    right_ts: str = "right_ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with an event-time range condition:
    pair each left event with right events for the same key landing in
    [left_ts, left_ts + within]. Watermarks on BOTH sides bound the
    join state (Spark buffers only rows inside the watermark horizon —
    without them a stream-stream join holds state forever)."""
    lw = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    rw = (
        right.withWatermark(right_ts, watermark)
        if right.isStreaming
        else right
    )
    cond = (
        f"{right_ts} >= {left_ts} AND "
        f"{right_ts} <= {left_ts} + interval {within}"
    )
    return lw.join(rw, on=[lw[key_col] == rw[key_col], F.expr(cond)]).select(
        lw[key_col].alias(key_col), left_ts, right_ts
    )


def stateful_user_stats(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running statistics (event count, value sum, first/last event time)
    carried in explicit GroupState across micro-batches. This is the
    escape hatch for stateful logic Spark's built-in windows can't
    express (the upstream analogue: per-entity accumulators over an
    unbounded stream). Each key's state is a fixed-width tuple —
    memory is O(distinct keys), not O(events)."""
    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    out_schema = (
        f"{key_col} long, n_events long, total_value double, "
        "first_ts timestamp, last_ts timestamp"
    )
    state_schema = (
        "n long, total double, first_us long, last_us long"
    )

    def update(key, pdfs, state: GroupState):
        n, total, first_us, last_us = (
            state.get if state.exists else (0, 0.0, None, None)
        )
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            ts_us = pdf[ts_col].astype("int64") // 1000
            lo, hi = int(ts_us.min()), int(ts_us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        state.update((n, total, first_us, last_us))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "n_events": [n],
                "total_value": [round(total, 2)],
                "first_ts": [pd.Timestamp(first_us, unit="us")],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "Update",
        GroupStateTimeout.NoTimeout,
    )


def stream_interval_join_outer(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    left_ts: str = "left_ts",
    right_ts: str = "right_ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Left-outer stream-stream interval join: every left event
    emits — matched rows as they pair, unmatched rows null-extended
    only once the watermark passes the end of their join window
    (before that, a matching right event could still arrive, so the
    engine must hold the row in state). This is the attribution
    shape where the NON-conversion matters: clicks that led to no
    purchase within the hour.

    State stays bounded exactly as in the inner variant; the extra
    machinery is the eviction-time null emission, driven by the
    no-data batch that availableNow runs after the last file (the
    same mechanism that finalizes append-mode windows). Unmatched
    left rows younger than (watermark - within) remain in state at
    drain end and are NOT emitted — deterministic, and mirrored by
    the oracle's watermark cutoff."""
    lw = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    rw = (
        right.withWatermark(right_ts, watermark)
        if right.isStreaming
        else right
    )
    cond = (
        f"{right_ts} >= {left_ts} AND "
        f"{right_ts} <= {left_ts} + interval {within}"
    )
    return lw.join(
        rw, on=[lw[key_col] == rw[key_col], F.expr(cond)], how="leftOuter"
    ).select(lw[key_col].alias(key_col), left_ts, right_ts)


def foreach_batch_upsert(
    stream: DataFrame,
    state_dir: str,
    key_col: str = "user_id",
    order_cols: tuple = ("ts", "event_id"),
) -> "object":
    """Exactly-once keyed upsert sink via ``foreachBatch`` — the
    production pattern for maintaining a latest-state table from a
    stream when the target is a plain file store (the reference's SQL
    Server append, src/load_sqlserver.py:70-98, upgraded to
    merge-on-key semantics). Per micro-batch: reduce the batch to its
    latest row per key, merge with the current state, keep the
    overall latest, write the result as a NEW versioned directory
    ``state_<batch_id>``, and commit it by CREATING the
    ``_commit_state_<batch_id>`` marker — readers resolve the highest
    committed version. Create-only commits: no directory rename, no
    pointer overwrite, so the cutover holds on object stores where
    rename is copy+delete and a delete-then-replace pointer would
    have a lost-pointer crash window (all metadata goes through the
    Hadoop FS shim, fsio.IndexFS; read the state back with
    :func:`upsert_state`). A ``_batch_<id>`` marker makes replays
    no-ops — foreachBatch re-delivers a batch after a crash, so the
    sink, not the engine, owns idempotency (same contract the parquet
    Manifest gives file loads). Crash windows: before the commit
    marker, the redelivered batch recomputes from the OLD resolved
    state and overwrites its own versioned dir (converges); after the
    commit but before cleanup/marker, resolution already names the
    batch's own output, so the redelivery just finishes cleanup
    (retire the older version's commit file first, then its
    directory) — readers always resolve a complete directory. On a
    real lake you'd land this on a transactional table format and
    MERGE.

    Scale: state rewrite cost is O(state) per batch — right for
    dimension-sized latest-state tables (users, sessions); for
    fact-sized state use the partitioned variant (rewrite only the
    key partitions present in the batch)."""
    from .fsio import IndexFS

    spark = stream.sparkSession

    def sink(bdf: DataFrame, batch_id: int) -> None:
        fs = IndexFS(spark, state_dir)
        if fs.exists(f"_batch_{batch_id}"):
            return
        from pyspark.sql import Window

        cur = _resolve_state(fs)
        if cur == batch_id:
            # crashed after the commit marker: the state is already
            # this batch's output — finish cleanup, don't recompute
            # (recomputing would read the dir it overwrites)
            _retire_older_states(fs, batch_id)
            fs.touch(f"_batch_{batch_id}")
            return
        w = Window.partitionBy(key_col).orderBy(
            *[F.desc(c) for c in order_cols]
        )
        latest = (
            bdf.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if cur is not None:
            prev = fs.uri(f"state_{cur}")
        elif fs.is_dir("current"):
            # pre-versioning layout (rename-swapped ``current/`` dir):
            # adopt it as the merge source so upgrading doesn't
            # silently restart the state from empty (ADVICE r7 #3's
            # upsert twin); it retires after one full versioned cycle
            prev = fs.uri("current")
        else:
            prev = None
        if prev is not None:
            latest = (
                spark.read.parquet(prev)
                .unionByName(latest)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        latest.write.mode("overwrite").parquet(fs.uri(f"state_{batch_id}"))
        fs.touch(f"_commit_state_{batch_id}")  # the atomic cutover
        _retire_older_states(fs, batch_id)
        fs.touch(f"_batch_{batch_id}")

    return stream.writeStream.foreachBatch(sink)


def _resolve_state(fs) -> int | None:
    """Highest committed state version whose directory exists (a
    commit file without its directory means retirement crashed
    between the two deletes — skip it)."""
    versions = sorted(
        (
            int(n[len("_commit_state_"):])
            for n in fs.listdir()
            if n.startswith("_commit_state_")
        ),
        reverse=True,
    )
    for b in versions:
        if fs.is_dir(f"state_{b}"):
            return b
    return None


def _retire_older_states(fs, keep: int) -> None:
    """Garbage-collect superseded versions with ONE version of grace
    (ADVICE r7 #5): the immediately-superseded version stays committed
    so a reader that resolved it an instant before the cutover still
    finds its files mid-scan — the rebuild_swap two-version
    discipline. Everything older retires commit-file-first (a crash
    between the deletes leaves an uncommitted dir, not a committed
    dangle). The legacy pre-versioning ``current/`` dir retires once a
    full versioned cycle has superseded it."""
    committed = sorted(
        int(n[len("_commit_state_"):])
        for n in fs.listdir()
        if n.startswith("_commit_state_")
    )
    older = [v for v in committed if v < keep]
    grace = {keep} | set(older[-1:])
    for n in fs.listdir():
        if n.startswith("_commit_state_") and int(
            n[len("_commit_state_"):]
        ) not in grace:
            fs.delete(n)
    for n in fs.listdir():
        if (n.startswith("state_") and n[len("state_"):].isdigit()
                and int(n[len("state_"):]) not in grace):
            fs.delete(n)
    if older and fs.is_dir("current"):
        # migrated pre-versioning state: superseded at least one full
        # cycle ago, every in-flight legacy reader has finished
        fs.delete("current")


def foreach_batch_cdc(
    stream: DataFrame,
    state_dir: str,
    key_col: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> "object":
    """Exactly-once CDC-apply sink: the versioned upsert sink driven
    by the change-log SEQUENCE instead of event time, with DELETE
    tombstones RETAINED in the stored state.

    Retention is the correctness point: if the sink dropped a
    tombstone at apply time, a late-arriving update with a LOWER
    sequence number in a later micro-batch would find no state row
    and resurrect the deleted key. Keeping the tombstone (it wins the
    per-key max-seq merge like any other row) makes the final state
    independent of how the log is sliced into batches — any arrival
    order converges to the same table. The read view
    (:func:`cdc_state`) filters tombstones out; a production
    deployment purges them once the log's replay horizon has passed.
    Sequence ties (same key, same seq, different op) break toward the
    update — ``op`` descends in the merge order ('U' > 'D').
    """
    return foreach_batch_upsert(
        stream, state_dir, key_col=key_col, order_cols=(seq_col, op_col)
    )


def foreach_batch_topk_sample(
    stream: DataFrame,
    state_dir: str,
    key_col: str,
    k: int,
    seed: str = "psample-v1",
) -> "object":
    """Bounded-state streaming uniform sample: maintain the bottom-k
    priority sample (operators/sampling.priority_sample) across
    micro-batches on the versioned create-only commit machinery.

    The merge is min-k of a union — associative, commutative, and
    IDEMPOTENT (a redelivered or double-sourced row carries the same
    deterministic priority, and dropDuplicates on the key collapses
    it before the cut), so any slicing of the stream converges to
    exactly the sample a one-shot batch pass would draw. State is k
    rows forever — the streaming reservoir whose memory does not grow
    with the stream."""
    from ..operators.hashing import md5_long
    from .fsio import IndexFS

    spark = stream.sparkSession

    def sink(bdf: DataFrame, batch_id: int) -> None:
        fs = IndexFS(spark, state_dir)
        if fs.exists(f"_batch_{batch_id}"):
            return
        cur = _resolve_state(fs)
        if cur == batch_id:
            _retire_older_states(fs, batch_id)
            fs.touch(f"_batch_{batch_id}")
            return
        pr = md5_long(
            F.concat(F.lit(seed + "|"), F.col(key_col).cast("string"))
        )
        botk = (
            bdf.withColumn("priority", pr).orderBy("priority").limit(k)
        )
        if cur is not None:
            botk = (
                spark.read.parquet(fs.uri(f"state_{cur}"))
                .unionByName(botk)
                .dropDuplicates([key_col])
                .orderBy("priority")
                .limit(k)
            )
        botk.write.mode("overwrite").parquet(fs.uri(f"state_{batch_id}"))
        fs.touch(f"_commit_state_{batch_id}")
        _retire_older_states(fs, batch_id)
        fs.touch(f"_batch_{batch_id}")

    return stream.writeStream.foreachBatch(sink)


def cdc_state(spark, state_dir: str, op_col: str = "op") -> DataFrame:
    """Live-rows view of a :func:`foreach_batch_cdc` state: resolved
    committed version minus the retained tombstones."""
    return upsert_state(spark, state_dir).filter(F.col(op_col) != "D")


def upsert_state(spark, state_dir: str) -> DataFrame:
    """The latest-state table maintained by
    :func:`foreach_batch_upsert`: resolve the highest committed
    version, read that directory."""
    from .fsio import IndexFS

    fs = IndexFS(spark, state_dir)
    cur = _resolve_state(fs)
    if cur is None:
        if fs.is_dir("current"):
            # pre-versioning layout, not yet superseded by a
            # versioned commit — still the live state
            return spark.read.parquet(fs.uri("current"))
        raise FileNotFoundError(
            f"no upsert state committed under {state_dir}"
        )
    return spark.read.parquet(fs.uri(f"state_{cur}"))


# -------------------------------------- partitioned (fact-sized) upsert
#
# foreach_batch_upsert rewrites the WHOLE state per trigger — right
# for dimension-sized tables, wrong for fact-sized ones. The
# partitioned variant hash-buckets the key space and rewrites ONLY
# the buckets the batch touches, each bucket committing its own
# create-only version: per-trigger cost is O(touched buckets), and
# an untouched bucket's files are never opened, written, or retired.


def _bucket_col(key_col: str, buckets: int):
    """Deterministic, engine-portable bucket id: non-negative modulo
    of the key (pmod — Spark's % is sign-preserving)."""
    return F.pmod(F.col(key_col).cast("long"), F.lit(int(buckets)))


def _resolve_bucket(fs, b: int, exclude: int | None = None) -> int | None:
    """Highest committed version of bucket ``b`` whose data leaf
    exists; ``exclude`` skips the version a redelivery is currently
    rewriting (reading it while dynamically overwriting it would race
    the write's own scan)."""
    versions = sorted(
        (
            int(n.rsplit("_", 1)[1])
            for n in fs.listdir()
            if n.startswith(f"_commit_b{b}_")
        ),
        reverse=True,
    )
    for v in versions:
        if v != exclude and fs.is_dir(f"data/_b={b}/_v={v}"):
            return v
    return None


def _retire_bucket_versions(fs, b: int, keep: int) -> None:
    """Per-bucket GC with one version of grace (the upsert-state
    discipline): commit file first, then the leaf."""
    committed = sorted(
        int(n.rsplit("_", 1)[1])
        for n in fs.listdir()
        if n.startswith(f"_commit_b{b}_")
    )
    older = [v for v in committed if v < keep]
    grace = {keep} | set(older[-1:])
    for v in committed:
        if v not in grace:
            fs.delete(f"_commit_b{b}_{v}")
    for name in fs.listdir(f"data/_b={b}"):
        if name.startswith("_v=") and int(name[3:]) not in grace:
            fs.delete(f"data/_b={b}/{name}")


def _partitioned_state_batch_fn(state_dir: str, reduce_batch,
                                merge, with_bucket):
    """Per-batch body of the partitioned state sink, exposed for
    crash-window tests. ``reduce_batch(bdf) -> df`` collapses the
    micro-batch to one row per key WITH a ``_b`` bucket column;
    ``merge(old, new) -> df`` folds the previous bucket state with the
    reduced batch (must be idempotent under re-merge of its own
    output — latest-row and associative aggregates both are);
    ``with_bucket(df) -> df`` re-stamps ``_b`` on state read back from
    leaf directories (leaf reads don't carry partition columns).

    Exactly-once: the batch's rows land as ``data/_b=<b>/_v=<id>``
    leaves via ONE dynamic-partition-overwrite write, then each
    touched bucket commits with a create-only ``_commit_b<b>_<id>``
    marker; the root ``_batch_<id>`` marker (last) short-circuits
    clean replays. A redelivery after a PARTIAL commit skips the
    already-committed buckets (their version already IS this batch's
    output) and recomputes only the rest from their previous
    versions — dynamic overwrite rewrites identical leaves and
    converges."""
    from .fsio import IndexFS

    def sink(bdf: DataFrame, batch_id: int) -> None:
        spark = bdf.sparkSession
        fs = IndexFS(spark, state_dir)
        if fs.exists(f"_batch_{batch_id}"):
            return
        reduced = reduce_batch(bdf).localCheckpoint()
        touched = sorted(
            int(r["_b"])
            for r in reduced.select("_b").distinct().collect()
        )
        todo, prev = [], {}
        for b in touched:
            cur = _resolve_bucket(fs, b)
            if cur == batch_id:
                continue  # committed by a crashed earlier attempt
            todo.append(b)
            prev[b] = _resolve_bucket(fs, b, exclude=batch_id)
        if todo:
            new_rows = reduced.filter(F.col("_b").isin(todo))
            old_paths = [
                fs.uri(f"data/_b={b}/_v={prev[b]}")
                for b in todo
                if prev[b] is not None
            ]
            if old_paths:
                old = with_bucket(spark.read.parquet(*old_paths))
                merged = merge(old, new_rows)
            else:
                merged = merge(None, new_rows)
            (
                merged.withColumn("_v", F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_b", "_v")
                .parquet(fs.uri("data"))
            )
            for b in todo:
                fs.touch(f"_commit_b{b}_{batch_id}")
        for b in touched:
            _retire_bucket_versions(fs, b, batch_id)
        fs.touch(f"_batch_{batch_id}")

    return sink


def _latest_reduce(key_col: str, order_cols: tuple, buckets: int):
    def reduce_batch(bdf: DataFrame) -> DataFrame:
        w = Window.partitionBy(key_col).orderBy(
            *[F.desc(c) for c in order_cols]
        )
        return (
            bdf.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .withColumn("_b", _bucket_col(key_col, buckets))
        )

    return reduce_batch


def _latest_merge(key_col: str, order_cols: tuple):
    def merge(old: DataFrame | None, new: DataFrame) -> DataFrame:
        if old is None:
            return new
        w = Window.partitionBy(key_col).orderBy(
            *[F.desc(c) for c in order_cols]
        )
        return (
            old.unionByName(new)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    return merge


def foreach_batch_upsert_partitioned(
    stream: DataFrame,
    state_dir: str,
    key_col: str = "user_id",
    order_cols: tuple = ("ts", "event_id"),
    buckets: int = 16,
) -> "object":
    """Latest-row-per-key upsert with per-bucket rewrites — the
    fact-sized-state variant :func:`foreach_batch_upsert`'s docstring
    defers to: per trigger only the hash buckets containing the
    batch's keys rewrite (O(touched buckets), not O(state)), each
    committing its own create-only version with one version of
    retire grace. Read the state back with
    :func:`upsert_state_partitioned`."""
    sink = _partitioned_state_batch_fn(
        state_dir,
        _latest_reduce(key_col, order_cols, buckets),
        _latest_merge(key_col, order_cols),
        lambda df: df.withColumn("_b", _bucket_col(key_col, buckets)),
    )
    return stream.writeStream.foreachBatch(sink)


def foreach_batch_agg_mv_partitioned(
    stream: DataFrame,
    state_dir: str,
    key_col: str,
    sums: dict[str, str],
    buckets: int = 16,
) -> "object":
    """Incrementally-maintained aggregate materialized view: per
    trigger the batch's PARTIAL sums/counts fold into the per-key
    running aggregates — the associative-merge twin of the latest-row
    upsert on the same per-bucket commit machinery. ``sums``:
    {out_col: input_col} summed per key (plus an automatic ``n_rows``
    count). Equivalent to recomputing the groupBy from scratch, at
    O(batch + touched buckets) per trigger instead of O(history)."""
    out_cols = dict(sums)

    def reduce_batch(bdf: DataFrame) -> DataFrame:
        return (
            bdf.groupBy(key_col)
            .agg(
                *[
                    F.sum(F.col(src)).alias(dst)
                    for dst, src in out_cols.items()
                ],
                F.count(F.lit(1)).cast("long").alias("n_rows"),
            )
            .withColumn("_b", _bucket_col(key_col, buckets))
        )

    def merge(old: DataFrame | None, new: DataFrame) -> DataFrame:
        if old is None:
            return new
        return (
            old.unionByName(new)
            .groupBy(key_col, "_b")
            .agg(
                *[
                    F.sum(F.col(dst)).alias(dst)
                    for dst in out_cols
                ],
                F.sum("n_rows").cast("long").alias("n_rows"),
            )
        )

    sink = _partitioned_state_batch_fn(
        state_dir, reduce_batch, merge,
        lambda df: df.withColumn("_b", _bucket_col(key_col, buckets)),
    )
    return stream.writeStream.foreachBatch(sink)


def _composite_bucket_col(key_cols: tuple, buckets: int):
    """Bucket id for a COMPOSITE key: xxhash64 over all key columns,
    folded non-negative. Only Spark ever computes this (state-internal
    layout, never compared against another engine), so xxhash64's
    engine-specificity is fine where :func:`_bucket_col`'s pmod had to
    stay portable."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]),
                  F.lit(int(buckets)))


def _dedup_ledger_reduce(key_cols: tuple, count_col: str,
                         min_cols: dict, buckets: int):
    def reduce_batch(bdf: DataFrame) -> DataFrame:
        return (
            bdf.groupBy(*key_cols)
            .agg(
                F.count(F.lit(1)).cast("long").alias(count_col),
                *[
                    F.min(F.col(src)).alias(dst)
                    for dst, src in min_cols.items()
                ],
            )
            .withColumn("_b", _composite_bucket_col(key_cols, buckets))
        )

    return reduce_batch


def _dedup_ledger_merge(key_cols: tuple, count_col: str,
                        min_cols: dict):
    def merge(old: DataFrame | None, new: DataFrame) -> DataFrame:
        if old is None:
            return new
        return (
            old.unionByName(new)
            .groupBy(*key_cols, "_b")
            .agg(
                F.sum(count_col).cast("long").alias(count_col),
                *[F.min(F.col(dst)).alias(dst) for dst in min_cols],
            )
        )

    return merge


def foreach_batch_dedup_ledger_partitioned(
    stream: DataFrame,
    state_dir: str,
    key_cols: tuple = ("ahash_hi", "ahash_lo"),
    count_col: str = "n_copies",
    min_cols: dict | None = None,
    buckets: int = 16,
) -> "object":
    """Content-hash dedup ledger with per-bucket rewrites — the
    ingest-gate state shape for perceptual/exact media dedup at fact
    scale: per trigger the micro-batch collapses to one row per
    content hash (count + deterministic min-folds such as keep_id and
    first_format), and ONLY the hash buckets the batch touches
    rewrite, each committing its own create-only version
    (O(touched buckets) per trigger where a complete-mode aggregate
    re-emits — and a memory sink re-materializes — the ENTIRE ledger
    every trigger). Counts fold additively and mins associatively, so
    the drained ledger equals the one-shot batch groupBy; the
    create-only commit protocol of :func:`_partitioned_state_batch_fn`
    makes crash redeliveries converge without double-counting. Read
    the ledger back with :func:`upsert_state_partitioned`."""
    if min_cols is None:
        min_cols = {"keep_id": "doc_id", "first_format": "format"}
    sink = _partitioned_state_batch_fn(
        state_dir,
        _dedup_ledger_reduce(key_cols, count_col, min_cols, buckets),
        _dedup_ledger_merge(key_cols, count_col, min_cols),
        lambda df: df.withColumn(
            "_b", _composite_bucket_col(key_cols, buckets)
        ),
    )
    return stream.writeStream.foreachBatch(sink)


def upsert_state_partitioned(spark, state_dir: str) -> DataFrame:
    """The partitioned state table: per bucket, resolve the highest
    committed version and union the leaves (an untouched bucket's
    latest version may be many batches old — that is the point)."""
    from .fsio import IndexFS

    fs = IndexFS(spark, state_dir)
    paths = []
    for name in fs.listdir("data"):
        if not name.startswith("_b="):
            continue
        b = int(name[3:])
        v = _resolve_bucket(fs, b)
        if v is not None:
            paths.append(fs.uri(f"data/_b={b}/_v={v}"))
    if not paths:
        raise FileNotFoundError(
            f"no partitioned state committed under {state_dir}"
        )
    return spark.read.parquet(*paths)


def foreach_batch_jdbc_upsert(
    stream: DataFrame,
    url: str,
    table: str,
    key_col: str = "user_id",
    order_cols: tuple = ("ts", "event_id"),
    properties: dict[str, str] | None = None,
    batchsize: int = 1000,
) -> "object":
    """Exactly-once keyed upsert into a JDBC warehouse via
    ``foreachBatch`` — the reference's SQL Server append
    (src/load_sqlserver.py:70-98) upgraded to merge-on-key semantics
    through the staging-table pattern:

    1. reduce the micro-batch to its latest row per key (window);
    2. bulk-load it into ``<table>_stage`` with the distributed JDBC
       writer (one connection per partition, ``batchsize`` rows per
       round trip — rows never funnel through the driver);
    3. driver-side set-based merge: DELETE target keys present in the
       stage, INSERT the stage (targets with MERGE support would run
       a single MERGE INTO here).

    Replay-safe: foreachBatch re-delivers a batch after a crash, and
    re-running overwrite-stage + delete + insert with identical rows
    converges to the same state, so the sink owns idempotency. State
    cost is O(batch) per trigger — nothing rewrites the full table."""
    sink_fn = _jdbc_upsert_batch_fn(
        url, table, key_col, order_cols, properties, batchsize
    )
    return stream.writeStream.foreachBatch(sink_fn)


def _jdbc_upsert_batch_fn(url, table, key_col, order_cols, properties,
                          batchsize):
    """The per-batch merge body, exposed for direct redelivery tests."""

    def sink(bdf: DataFrame, batch_id: int) -> None:
        from ..sources.sinks import jdbc_exec, jdbc_sink

        spark = bdf.sparkSession
        stage = f"{table}_stage"
        w = Window.partitionBy(key_col).orderBy(
            *[F.desc(c) for c in order_cols]
        )
        latest = (
            bdf.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        jdbc_sink(
            latest, url, stage, properties=properties,
            batchsize=batchsize, mode="overwrite",
        )
        # quote identifiers: Spark's JDBC writer creates case-preserved
        # quoted columns, while unquoted SQL would be case-folded by
        # the target (Derby uppercases) and miss them.
        cols = ", ".join(f'"{c}"' for c in latest.columns)
        k = f'"{key_col}"'
        jdbc_exec(
            spark,
            url,
            f"DELETE FROM {table} WHERE {k} IN "
            f"(SELECT {k} FROM {stage})",
            f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {stage}",
            properties=properties,
        )

    return sink


# ------------------------- transformWithState (Spark 4 state API v2)
try:  # pragma: no cover - import guard for older Spark
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserLedgerProcessor(StatefulProcessor):
        """Per-user running ledger in explicit ValueState — the
        transformWithState (state API v2) twin of
        ``stateful_user_stats``'s applyInPandasWithState. The v2 API
        is what new stateful operators should target: typed state
        primitives (value/list/map), timers, and TTL live on the
        handle instead of one opaque GroupState blob.

        State: (n_events, total_cents, max_value) per user; cents keep
        the running sum integer-exact across any batch/partition order
        (float accumulation would drift with delivery order). Emits
        the running totals each micro-batch — monotone fields, so the
        caller's final ``max`` per key reads the end state without
        needing emission-order bookkeeping."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState(
                "agg", "n bigint, cents bigint, mx double"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n, cents, mx = 0, 0, None
            for pdf in rows:
                n += len(pdf)
                cents += int(
                    pdf["value"].astype(float).mul(100).round()
                    .astype("int64").sum()
                )
                m = float(pdf["value"].max())
                mx = m if mx is None else max(mx, m)
            if self._agg.exists():
                pn, pc, pm = self._agg.get()
                n, cents = n + pn, cents + pc
                mx = pm if mx is None else max(mx, pm)
            self._agg.update((n, cents, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_cents": [cents],
                    "max_value": [mx],
                }
            )

        def close(self) -> None:
            pass

except ImportError:  # pragma: no cover
    UserLedgerProcessor = None


def user_ledger_tws(stream: DataFrame) -> DataFrame:
    """Keyed arbitrary-state transform via transformWithStateInPandas:
    groupBy user, carry the integer-exact ledger across micro-batches,
    emit running totals in Update mode.

    ENV-GATED in this sandbox: the v2 state API's worker protocol
    imports ``google.protobuf`` (pyspark's [connect] extra), which is
    not installed here and cannot be — the operator raises cleanly at
    plan time in that case and is exercised by a skip-gated test; the
    applyInPandasWithState twin (``stateful_user_stats``) carries the
    oracle-verified coverage for keyed state."""
    if UserLedgerProcessor is None:  # pragma: no cover
        raise NotImplementedError(
            "transformWithState requires Spark >= 4.0"
        )
    try:
        import google.protobuf  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "transformWithStateInPandas needs the protobuf package "
            "(pip install 'pyspark[connect]' or protobuf)"
        ) from e
    return stream.select("user_id", "value").groupBy(
        "user_id"
    ).transformWithStateInPandas(
        UserLedgerProcessor(),
        "user_id bigint, n_events bigint, total_cents bigint, max_value double",
        "Update",
        "None",
    )


def mg_apply_epoch(state: dict, batch_counts: dict, n_batch: int,
                   epoch_id: int, k: int) -> bool:
    """Fold one micro-batch's candidate counts into the driver-side
    Misra-Gries state, EXACTLY ONCE per epoch: foreachBatch is
    at-least-once, so a crash-redelivered batch arrives again with
    the SAME epoch_id — the guard makes the re-fold a no-op, the
    same epoch-versioned discipline as foreach_batch_jdbc_upsert's
    staging merge. The new summary is computed fully before any
    state field mutates, so a mid-fold failure leaves the previous
    (epoch, counters, n) intact and the redelivery repairs it.
    Returns True if the epoch was applied, False if skipped."""
    from ..operators.sketches import _mg_fold

    if epoch_id <= state["last_epoch"]:
        return False
    new_counters = _mg_fold(state["counters"], batch_counts, k)
    state["counters"] = new_counters
    state["n"] += n_batch
    state["last_epoch"] = epoch_id
    return True


def stream_mg_heavy_hitters(stream, item_col: str, k: int = 2000):
    """Streaming heavy hitters: fold each micro-batch into a bounded
    Misra-Gries summary (operators/sketches) held driver-side — the
    streaming twin of the batch two-scan ``heavy_hitters``.

    Per micro-batch the work is DISTRIBUTED and bounded end-to-end:
    the MG candidate pass ships <= k rows per partition, the exact
    recount of candidates is a broadcast semi-join + aggregate, and
    only that bounded candidate-count table reaches the driver, where
    it merges into the running k-counter summary (Agarwal et al.
    mergeable-summaries merge — so the cross-batch error bound
    composes to N/(k+1), exactly as for partition merges). Counts are
    EXACT while the per-batch distinct-item count stays <= k (no
    decrement ever fires); beyond that they degrade to lower bounds
    and a final batch recount (agg_heavy_hitters) restores exactness.

    State is a Python dict of <= k counters plus one total, versioned
    by epoch_id (``mg_apply_epoch``): foreachBatch redelivery of a
    failed batch re-presents the same epoch_id and the fold skips it,
    so counters never double-count — replay-safe like the KMV twin
    (whose set-merge is naturally idempotent), proven by the
    double-delivery test.

    Returns (counters dict, total item count) after the drain."""
    from pyspark.sql import functions as SF

    from ..operators.sketches import mg_candidates

    state = {"counters": {}, "n": 0, "last_epoch": -1}

    def batch_fn(bdf, epoch_id):
        if epoch_id <= state["last_epoch"]:
            return  # redelivered epoch: skip even the Spark jobs
        from pyspark.sql import Observation

        items = bdf.select(item_col)
        cand = mg_candidates(items, item_col, k).distinct()
        # observe the batch size on the PROBE side (below the
        # semi-join, so it sees every row) instead of a separate
        # items.count() job that re-scanned the batch (guide §1.2)
        obs = Observation()
        agg = (
            items.observe(obs, SF.count(SF.lit(1)).alias("n"))
            .join(SF.broadcast(cand), item_col, "left_semi")
            .groupBy(item_col)
            .agg(SF.count(SF.lit(1)).alias("freq"))
        )
        batch_counts = {r[item_col]: r["freq"] for r in agg.collect()}
        mg_apply_epoch(state, batch_counts, obs.get["n"], epoch_id, k)

    drain_available_now(stream.sparkSession,
                        stream.writeStream.foreachBatch(batch_fn))
    return state["counters"], state["n"]


def stream_kmv_distinct(stream, value_col: str, k: int = 128):
    """Streaming distinct-count tracking with BOUNDED state: fold each
    micro-batch's KMV bottom-k sketch (operators/sketches) into a
    running k-long driver-side sketch — the streaming twin of
    agg_kmv_distinct / agg_kmv_rollup.

    Why not a plain streaming dropDuplicates + count? Its state grows
    with the true distinct count (unbounded on a 100 TB stream); the
    KMV sketch caps state at k longs FOREVER, stays engine-portable
    (same MD5 hash family), and merging per-batch sketches is exact:
    bottom-k(union) == bottom-k(per-batch bottom-k's). Per batch the
    distributed work is one distinct + bounded rank (kmv_sketch);
    only k longs reach the driver. Same at-least-once replay caveat
    as stream_mg_heavy_hitters — harmless here because kmv_merge is
    idempotent (re-merging the same sketch changes nothing).

    Returns (sketch list[int], n_batches, n_rows) after an
    availableNow drain; estimate via sketches.kmv_estimate. n_batches
    is the TRIGGER count — a function of how the source is split into
    files, so scale fixtures that stage a table as N part files see N
    triggers per delivery; n_rows (total input rows drained) is the
    split-invariant volume number callers should report when they
    mean "how many deliveries of the table arrived"."""
    from pyspark.sql import functions as SF

    from ..operators.sketches import kmv_merge, kmv_sketch

    state = {"sketch": [], "batches": 0, "rows": 0}

    def batch_fn(bdf, epoch_id):
        from pyspark.sql import Observation

        # observe the batch size BELOW the sketch's distinct, inside
        # the same job — a separate bdf.count() re-scanned the batch
        obs = Observation()
        sk = kmv_sketch(
            bdf.observe(obs, SF.count(SF.lit(1)).alias("n"))
            .withColumn("_g", SF.lit(1)),
            ["_g"], value_col, k,
        ).collect()
        if sk:
            batch_sketch = sk[0]["sketch"]
            merged = sorted(set(state["sketch"]) | set(batch_sketch))[:k]
            state["sketch"] = merged
        state["batches"] += 1
        state["rows"] += obs.get["n"]

    drain_available_now(stream.sparkSession,
                        stream.writeStream.foreachBatch(batch_fn))
    _ = kmv_merge  # the driver-side fold above IS kmv_merge's set form
    return state["sketch"], state["batches"], state["rows"]


def foreach_batch_mix_fold(stream, source_col: str, tokens_expr,
                           state: dict):
    """Streaming mixture monitor — the data-mixing twin of the ANN
    drift fold: per micro-batch, arrivals' per-source token masses
    aggregate DISTRIBUTED (one bounded |sources|-row collect) and fold
    into exact driver integers, epoch-guarded against foreachBatch
    redelivery. The drained state feeds the SAME planning expressions
    as ``pipeline_mix_planner`` (registry.scale_queries.
    mix_plan_from_tokens), so the online mixture plan is bit-identical
    to the offline one over the same arrivals — the signal that tells
    a continuously-ingesting curation pipeline when its source mix has
    wandered from the published data card, computed next to the sink
    instead of by a periodic corpus rescan.

    ``state``: {"tokens": {source: int}, "seen": set()} — the guard
    set stays bounded (epoch_mark_applied prunes behind the
    redelivery horizon)."""
    from pyspark.sql import functions as SF

    def batch_fn(bdf, epoch_id):
        if epoch_already_applied(state, epoch_id):
            return
        rows = (
            bdf.select(
                SF.col(source_col).alias("_src"),
                tokens_expr.cast("long").alias("_t"),
            )
            .groupBy("_src")
            .agg(SF.sum("_t").cast("long").alias("_ts"))
            .collect()
        )
        for r in rows:
            state["tokens"][r["_src"]] = (
                state["tokens"].get(r["_src"], 0) + int(r["_ts"] or 0)
            )
        epoch_mark_applied(state, epoch_id)

    return stream.writeStream.foreachBatch(batch_fn)
