"""Layout-generic maintenance for growing ``table/batch=<id>``
indexes on the shared fsio commit protocol.

Every growing-index layout appends through the one sink
(:func:`index_sink`) and compacts through the one compactor
(:func:`compact_batched_index`): the banded LSH index
(``minhash_stream``), the exact prefix-postings index
(``ssjoin_stream``), the embedding band index (``semantic_stream``),
the BM25 postings (``lexical_stream``), the Naive Bayes count deltas
(``classify_stream``), the logistic-regression state journal
(``linear_stream``), the IVF-PQ cells inventory (``ann_index``) and
the auto-retrain raw arrivals log (``ann_maintain``). Each persists
per-batch artifacts as one ``<table>/batch=<id>`` directory per
table, committed by a ``_batch_<id>`` marker, and periodically folds
committed batches into a negative GENERATION partition via the
journaled, rename-free cutover documented in ``fsio``. The only
layout-specific facts are the table names, each table's compaction
spec and the per-batch write — this module parameterizes exactly
those, so the crash-window guarantees the LSH compactor's pytest
suite locks down are inherited by every index built on it instead
of re-implemented per family.
"""

from __future__ import annotations

from pyspark.sql import Observation
from pyspark.sql import functions as F

from .fsio import (
    MARKER,
    IndexFS,
    committed_batch_ids,
    count_committed_files,
    drop_stale_generations,
    next_generation,
    recover_compaction,
    retire_real_markers,
    write_journal,
)

__all__ = [
    "make_delete_batches",
    "committed_table_dirs",
    "index_sink",
    "compact_batched_index",
    "spread_batch",
    "parallel_writes",
]


def parallel_writes(*thunks) -> None:
    """Run INDEPENDENT write jobs concurrently from a small driver
    thread pool (guide-§2.6 job overlap: the scheduler back-fills
    idle cores with the next job's tasks while the current one drains
    its tail), joining every thunk — and re-raising the first
    failure — before returning, so a commit marker written after this
    call still lands after ALL of the writes.

    MEASURED CAVEAT (r14): use this only when at most one thunk
    carries a non-trivial plan. Overlapping several medium-sized
    FIRST-RUN writes convoys on plan compilation (the streaming index
    maintainers measured 62 -> 80 s of cold first-run wall across the
    family when their 3 per-trigger table writes were overlapped —
    reverted; warm runs were a wash). The surviving user is
    ann_index.build_index, whose shape is one heavy cells write plus
    two trivial side-table writes: there the tiny jobs back-fill the
    big write's tail and the cold lifecycle measured faster
    (autocompact 13.0 -> 10.9, auto_retrain 12.8 -> 11.2 in the
    single-pass sweep)."""
    if len(thunks) == 1:
        thunks[0]()
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        for f in futures:
            f.result()


def spread_batch(bdf):
    """Spread a micro-batch across the drain's shuffle parallelism
    before per-row-heavy signing/tokenizing work.

    ``availableNow`` file sources with ``maxFilesPerTrigger=1``
    deliver each micro-batch as ONE input partition, which serializes
    the expensive per-document column work (MD5 shingle hashing,
    tokenization) onto a single core — measured 4.1 s -> 1.9 s on a
    2.5K-doc batch at sf0.1 (round 10). Values are per-row column
    expressions, so repartitioning cannot change any result. On a
    real cluster a large micro-batch already arrives as many
    partitions and this is a no-op."""
    try:
        target = int(bdf.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        # some distributions allow non-numeric values here ("auto");
        # fall back rather than fail every micro-batch of the drain
        target = bdf.sparkSession.sparkContext.defaultParallelism
    if bdf.rdd.getNumPartitions() >= target:
        return bdf
    return bdf.repartition(target)


def make_delete_batches(tables: tuple[str, ...]):
    """The shared protocol's layout callback: batch ``b``'s data is
    one ``<table>/batch=<b>`` directory per table."""
    def _delete(fs: IndexFS, bs: list[str]) -> None:
        for table in tables:
            for b in bs:
                fs.delete(f"{table}/batch={b}")

    return _delete


def committed_table_dirs(fs: IndexFS, table: str,
                         committed: set[str] | None = None
                         ) -> list[str]:
    """``batch=<id>`` directories of ``table`` whose batch is
    COMMITTED (marker present or journal-committed generation, minus
    journal-consumed and tombstoned batches). Markers are written
    AFTER all of a batch's artifacts, so this never lists a
    half-written directory. Pass ``committed`` to reuse one
    resolution across tables."""
    if committed is None:
        committed = committed_batch_ids(fs)
    return [
        fs.uri(f"{table}/{name}")
        for name in fs.listdir(table)
        if name.startswith("batch=")
        and name.split("=", 1)[1] in committed
    ]


def index_sink(index_dir: str, layout: dict, write_batch,
               compact_every: int | None = None):
    """The ``foreachBatch`` body every growing-index layout appends
    through — the exactly-once marker discipline in one place:

    1. a present ``_batch_<id>`` marker short-circuits a clean
       redelivery (nothing is written);
    2. ``recover_compaction`` finishes any journal-committed
       compaction before this batch reads the index;
    3. ONE committed-set resolution (root listing + journal read) is
       handed to ``write_batch(bdf, fs, batch_id, committed)``, which
       writes every artifact of the batch as ``<table>/batch=<id>``
       overwrite directories and reads the index through
       :func:`committed_table_dirs` — a crash-redelivered batch never
       sees its own half-written directories, so its rewrite is
       identical and converges;
    4. the marker lands LAST, committing all of the batch's artifacts;
    5. with ``compact_every`` set, once that many committed REAL-batch
       directories of the probe table have accumulated, the sink runs
       :func:`compact_batched_index` over ``layout`` itself — bounded
       amortized maintenance with no operator involvement.

    ``layout`` is the ``{table: compaction spec}`` dict the compactor
    takes; its FIRST table is the probe table. All index-path I/O
    goes through ``fsio.IndexFS``, so the root may be
    file:/hdfs:/s3a:."""
    tables = tuple(layout)
    probe = tables[0]
    delete_fn = make_delete_batches(tables)

    def sink(bdf, batch_id: int) -> None:
        fs = IndexFS(bdf.sparkSession, index_dir)
        if fs.exists(f"{MARKER}{batch_id}"):
            return
        recover_compaction(fs, delete_fn)
        committed = committed_batch_ids(fs)
        write_batch(bdf, fs, batch_id, committed)
        fs.touch(f"{MARKER}{batch_id}")
        if compact_every:
            # the resolution above is still valid (single writer)
            # plus the id just committed
            live = committed | {str(batch_id)}
            n_real = sum(
                1
                for name in fs.listdir(probe)
                if name.startswith("batch=")
                and not name.startswith("batch=-")
                and name.split("=", 1)[1] in live
            )
            if n_real >= compact_every:
                compact_batched_index(bdf.sparkSession, index_dir, layout)

    return sink


def compact_batched_index(spark, index_dir: str,
                          cluster_cols: dict,
                          buckets: int = 1,
                          marker_horizon: int = 1000) -> dict:
    """Fold every COMMITTED ``batch=<id>`` directory into one fresh
    generation partition per table — the file-count bound that keeps
    a growing index's per-trigger listing from degrading as batches
    accumulate.

    ``cluster_cols`` maps table name -> how to lay out the compacted
    generation: a list of join-key columns to hash-cluster on, None
    for a plain repartition, a CALLABLE ``fn(df, buckets) -> df``
    for layouts the two simple forms can't express (an associative
    SUM-merge, a sortWithinPartitions for row-group pruning), or
    ``{"partition_by": [cols]}`` to hash-cluster on ``cols`` AND
    write them as directory partitions inside the generation (the
    IVF-PQ cells, whose serving prunes probed cells at the directory
    listing). Each table's committed directories are read with
    ``basePath`` at the table root, so nested directory partitions
    come back as columns, and the generation goes to a fresh
    ``batch=<gen>`` directory that no read of this compaction lists —
    nothing is staged. The FIRST table is the probe table (file
    counts and row count — counted AFTER the transform, so a merging
    compactor reports merged rows); a probe table whose committed
    view is already one generation has nothing to fold, so a re-run
    is a no-op. The cutover is the journaled rename-free protocol of
    ``fsio``: write the generation directly at its final
    (invisible-until-committed) path, publish the journal atomically,
    apply idempotently — every crash window recovers via
    ``recover_compaction``, consumed data survives one tombstone
    grace cycle for in-flight readers, and real batch markers persist
    so redelivered batches still short-circuit. Returns
    {'files_before', 'files_after', 'rows'} for the probe table,
    counted over the COMMITTED view."""
    tables = tuple(cluster_cols)
    probe = tables[0]
    delete_fn = make_delete_batches(tables)
    fs = IndexFS(spark, index_dir)
    recover_compaction(fs, delete_fn)
    # reclaim half-written generations from a pre-commit crash
    stale = [
        int(name.split("=", 1)[1])
        for table in tables
        for name in fs.listdir(table)
        if name.startswith("batch=-")
    ]
    drop_stale_generations(fs, delete_fn, stale)
    before = fs.count_files(probe)
    committed = committed_batch_ids(fs)
    dirs = {t: committed_table_dirs(fs, t, committed) for t in tables}
    ids = [d.rsplit("=", 1)[1] for d in dirs[probe]]
    if not ids or (len(ids) == 1 and int(ids[0]) < 0):
        # nothing committed, or already one generation: nothing to fold
        return {"files_before": before, "files_after": before,
                "rows": 0}
    gen = next_generation(fs)
    rows = 0
    consumed: set[str] = set()
    for t in tables:
        df = (
            spark.read.option("basePath", fs.uri(t))
            .parquet(*dirs[t])
            .drop("batch")
        )
        spec = cluster_cols[t]
        parts = []
        if isinstance(spec, dict):
            parts = spec["partition_by"]
            rep = df.repartition(buckets, *parts)
        elif callable(spec):
            rep = spec(df, buckets)
        elif spec:
            rep = df.repartition(buckets, *spec)
        else:
            rep = df.repartition(buckets)
        obs = None
        if t == probe:
            # observe the row count INSIDE the write job: a separate
            # count() action re-ran the whole committed-batches read +
            # repartition a second time per compaction (guide §1.2 —
            # the probe table is the big one, so this halved its cost)
            obs = Observation()
            rep = rep.observe(obs, F.count(F.lit(1)).alias("rows"))
        rep.write.mode("overwrite").partitionBy(*parts).parquet(
            fs.uri(f"{t}/batch={gen}"))
        if obs is not None:
            rows = obs.get["rows"]
        consumed |= {d.rsplit("=", 1)[1] for d in dirs[t]}
    write_journal(fs, gen, sorted(consumed))  # the atomic commit point
    recover_compaction(fs, delete_fn)  # apply via the idempotent path
    retire_real_markers(fs, marker_horizon)
    return {
        "files_before": before,
        "files_after": count_committed_files(fs, probe),
        "rows": rows,
    }
