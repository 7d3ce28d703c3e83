"""Streaming / incremental-processing inventory (SURVEY.md §2.9).

Every query here runs a REAL Structured Streaming query (parquet file
source → event-time operator → availableNow → memory sink) and
returns the drained result — the engine's event-time path exercised
end-to-end, not a batch approximation:

- ``stream_tumbling_counts`` — tumbling 1h windows (+watermark);
  oracle: epoch-aligned 1h windows equal date_trunc('hour').
- ``stream_sliding_counts`` — sliding 2h/1h windows; oracle: each
  event unnested into its 2 covering windows.
- ``stream_session_windows`` — gap-based session windows per user;
  oracle: gaps-and-islands (lag + running break-sum).
- ``stream_stateful_user_stats`` — custom stateful operator
  (applyInPandasWithState) carrying per-user accumulators in explicit
  GroupState; oracle: per-user aggregates (one batch → one final
  emission per key).

The reference has no streaming engine at all (SURVEY.md §2.9) — its
incremental file pattern is subsumed by the file-source checkpoint
(streaming/incremental.incremental_file_pipeline); the event-time and
stateful operators are the beyond-reference scale surface.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.schemas import load, parquet_schema
from ..plans.session import tiny_df
from ._fixtures import FixtureMemo
from ..streaming.incremental import (
    drain_available_now,
    session_window_counts,
    sliding_window_counts,
    stateful_user_stats,
    foreach_batch_upsert,
    stream_interval_join,
    stream_interval_join_outer,
    tumbling_window_counts,
)

QUERIES = {}
ORACLES = {}


def _q(name, oracle=None):
    def reg(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return reg


# events.parquet ts encoding varies by testdata generation: INT64
# TIMESTAMP(NANOS) (reads as long under nanosAsLong, needs div 1000)
# or TIMESTAMP(MICROS) no-tz (reads natively as TIMESTAMP_NTZ).
# readStream needs an explicit schema, so sniff the encoding from the
# file's footer (plans.schemas' schema cache, keyed by file version)
# and build the matching schema — hard-coding either guess silently
# corrupts timestamps by 1000× when the data regenerates the other way.
def _events_ts_type(spark, sf_dir: str):
    return parquet_schema(spark, f"{sf_dir}/events.parquet")["ts"].dataType


def _events_schema(ts_type) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


# Source dirs are immutable symlink layouts over read-only testdata, so
# one per (sf_dir, layout) is cached for the process lifetime and
# removed at exit — repeated bench/verify runs must not leak a /tmp dir
# per invocation. Checkpoints, by contrast, must be FRESH per run (a
# reused availableNow checkpoint would consider the files already
# processed and drain nothing), so they're created per drain and
# deleted as soon as the query terminates.
_SRC_DIRS: dict = {}


def _source_dir(sf_dir: str, links: dict) -> str:
    # abspath the cache KEY too: the symlink targets below resolve
    # against the CWD at first call, so a relative sf_dir reused
    # after a chdir must not hit a cache entry whose links point at
    # paths resolved against the OLD working directory.
    key = (os.path.abspath(sf_dir), tuple(sorted(links)))
    if key not in _SRC_DIRS:
        d = tempfile.mkdtemp(prefix="stream_src_")
        for link_name, target in links.items():
            # absolutize: the symlink lives under /tmp, so a relative
            # sf_dir (e.g. `.bench_sf1/sf1`) would otherwise produce a
            # dangling link that Spark's file listing silently skips —
            # the stream "succeeds" having drained zero rows
            tpath = os.path.abspath(f"{sf_dir}/{target}")
            if os.path.isdir(tpath):
                # Spark-written dataset (sf1 replica): the file source
                # does NOT recurse through a symlinked directory entry,
                # so a plain dir symlink silently drains ZERO rows —
                # expose each part file under a per-link prefix instead
                stem = link_name.rsplit(".parquet", 1)[0]
                parts = sorted(
                    p for p in os.listdir(tpath)
                    if p.endswith(".parquet")
                )
                for i, part in enumerate(parts):
                    os.symlink(f"{tpath}/{part}",
                               f"{d}/{stem}_{i:05d}.parquet")
            else:
                os.symlink(tpath, f"{d}/{link_name}")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _SRC_DIRS[key] = d
    return _SRC_DIRS[key]


def _events_stream(spark, sf_dir, links=None, **reader_options):
    """Streaming DataFrame over the events table: the file source
    wants a directory, so expose the parquet through a (cached)
    temp-dir symlink layout; normalize ts to event-time in-plan:
    nanos-long → timestamp_micros(div 1000), TIMESTAMP_NTZ → cast to
    plain TIMESTAMP (withWatermark rejects NTZ; the session timezone
    is pinned UTC so the cast is wall-time preserving)."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    ts_type = _events_ts_type(spark, sf_dir)
    src_dir = _source_dir(
        sf_dir, links or {"events.parquet": "events.parquet"}
    )
    reader = spark.readStream.format("parquet").schema(
        _events_schema(ts_type)
    )
    for k, v in reader_options.items():
        reader = reader.option(k, v)
    stream = reader.load(src_dir)
    if isinstance(ts_type, T.LongType):
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif isinstance(ts_type, T.TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _drops_stream(spark, src: str, schema):
    """Parquet file stream over ``src`` that reads ONE file per
    micro-batch, so each drop (``_single_file_drops``' mtime-ordered
    files, or each link of a doubled ``_source_dir``) arrives as its
    own trigger, in order."""
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )


def _drain(spark, agg, mode, name):
    """Run to completion (availableNow) into a memory sink; return the
    drained table. The sink name is deterministic per query, so a
    re-run replaces the session's previous temp view instead of
    accumulating one per invocation."""
    drain_available_now(
        spark,
        agg.writeStream.outputMode(mode).format("memory").queryName(name),
    )
    return spark.table(name)


@_q(
    "stream_tumbling_counts",
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
              count(*) AS n, round(sum(value), 2) AS total_value
       FROM events GROUP BY window_start, event_type""",
)
def stream_tumbling_counts(spark, sf_dir):
    """Event-time tumbling 1-hour window counts via an actual
    streaming query (availableNow drain into a memory sink)."""
    agg = tumbling_window_counts(_events_stream(spark, sf_dir))
    return _drain(spark, agg, "complete", "st_tumbling")


@_q(
    "stream_sliding_counts",
    """WITH w AS (
         SELECT event_type, value,
                unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                        date_trunc('hour', ts)]) AS window_start
         FROM events)
       SELECT window_start, event_type, count(*) AS n,
              round(sum(value), 2) AS total_value
       FROM w GROUP BY window_start, event_type""",
)
def stream_sliding_counts(spark, sf_dir):
    """Sliding 2h windows every 1h: each event contributes to exactly
    two windows (the oracle unnests both covering window starts)."""
    agg = sliding_window_counts(
        _events_stream(spark, sf_dir), window="2 hours", slide="1 hour"
    )
    return _drain(spark, agg, "complete", "st_sliding")


@_q(
    "stream_session_windows",
    """WITH o AS (
         SELECT user_id, ts, value,
                CASE WHEN epoch(ts) - epoch(lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts)) < 1800
                     THEN 0 ELSE 1 END AS brk
         FROM events),
       g AS (SELECT user_id, ts, value,
                    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS grp
             FROM o)
       SELECT min(ts) AS session_start, user_id,
              count(*) AS n_events, round(sum(value), 2) AS total_value
       FROM g GROUP BY user_id, grp""",
)
def stream_session_windows(spark, sf_dir):
    """Gap-based session windows (30-min inactivity closes a session)
    per user — Spark's native session_window inside a streaming
    aggregate; the oracle replays it as gaps-and-islands SQL."""
    agg = session_window_counts(
        _events_stream(spark, sf_dir), gap="30 minutes"
    )
    return _drain(spark, agg, "complete", "st_session")


@_q(
    "stream_dedup_counts",
    """SELECT event_type, count(*) AS n FROM events GROUP BY event_type""",
)
def stream_dedup_counts(spark, sf_dir):
    """Streaming deduplication: the source directory exposes the SAME
    events file twice (two symlinks), so every event arrives as an
    exact duplicate; dropDuplicates on the key keeps one copy in
    streaming state. The oracle counts the single-copy table — equal
    counts prove the dedup removed exactly the duplicates. At real
    scale, pair the key with a watermark (dropDuplicatesWithinWatermark)
    so state ages out."""
    stream = _events_stream(
        spark,
        sf_dir,
        links={"events_a.parquet": "events.parquet",
               "events_b.parquet": "events.parquet"},
    )
    deduped = stream.dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return _drain(spark, agg, "complete", "st_dedup")


@_q(
    "stream_stream_join",
    """SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
       FROM events c JOIN events p
         ON c.user_id = p.user_id
        AND c.event_type = 'click' AND p.event_type = 'purchase'
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""",
)
def stream_stream_join(spark, sf_dir):
    """Stream-stream interval join: attribute each purchase to clicks
    by the same user in the preceding hour. Both sides are the events
    stream (filtered), both carry watermarks so join state stays
    bounded; availableNow drains the complete deterministic pair set."""
    ev = _events_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    ).withColumnRenamed("p_user_id", "user_id")
    joined = stream_interval_join(
        clicks, purchases, "user_id", "click_ts", "purchase_ts",
        within="1 hour", watermark="2 hours",
    )
    return _drain(spark, joined, "append", "st_ssjoin")


@_q(
    "stream_stateful_user_stats",
    """SELECT user_id, count(*) AS n_events,
              round(sum(value), 2) AS total_value,
              min(ts) AS first_ts, max(ts) AS last_ts
       FROM events GROUP BY user_id""",
)
def stream_stateful_user_stats(spark, sf_dir):
    """Custom stateful operator: per-user accumulators in explicit
    GroupState (applyInPandasWithState). One availableNow batch →
    exactly one final emission per key, so the oracle is the per-user
    aggregate."""
    agg = stateful_user_stats(_events_stream(spark, sf_dir))
    return _drain(spark, agg, "update", "st_stateful")


@_q(
    "stream_static_enrich",
    """SELECT c.c_mktsegment, count(*) AS n_events,
              round(sum(e.value), 2) AS total_value
       FROM events e JOIN customer c ON e.user_id = c.c_custkey
       GROUP BY c.c_mktsegment""",
)
def stream_static_enrich(spark, sf_dir):
    """Stream-static enrichment join: the events stream joined to the
    static customer dimension, aggregated by market segment. The
    static side is a plain batch DataFrame — Spark re-plans it per
    micro-batch and (at dim scale) broadcasts it, so the stream is
    never shuffled for the join; this is THE pattern for enriching a
    100 TB/day event firehose against reference data. availableNow
    drains the deterministic full aggregate."""
    ev = _events_stream(spark, sf_dir)
    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    agg = (
        ev.join(dim, ev.user_id == dim.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    return _drain(spark, agg, "complete", "st_enrich")


@_q(
    "stream_append_late_windows",
    """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
       wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM ev)
       SELECT date_trunc('hour', e.ts) AS window_start, count(*) AS n
       FROM ev e, wm
       GROUP BY window_start
       HAVING window_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)""",
)
def stream_append_late_windows(spark, sf_dir):
    """APPEND-mode tumbling windows under a 2-hour watermark — the
    late-data contract made observable: a window is emitted exactly
    once, only after the watermark (max observed event time minus the
    allowed lateness) passes its end; still-open windows at the head
    of the stream are withheld. availableNow runs the data batch plus
    the final no-data batch (SPARK-24156) that advances the watermark
    and flushes closed windows, so the emitted set is exactly
    {windows : end <= max_ts - 2h} — which is what the oracle
    computes. Casting nanos→micros on both sides keeps the max-ts
    boundary identical."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    return _drain(spark, agg, "append", "st_append_late")


@_q(
    "stream_stream_left_join",
    """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                  FROM events),
       c AS (SELECT user_id, ts AS click_ts FROM e
             WHERE event_type = 'click'),
       p AS (SELECT user_id, ts AS purchase_ts FROM e
             WHERE event_type = 'purchase'),
       m AS (SELECT c.user_id, c.click_ts, p.purchase_ts
             FROM c JOIN p ON c.user_id = p.user_id
              AND p.purchase_ts >= c.click_ts
              AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR),
       wm AS (SELECT least((SELECT max(click_ts) FROM c),
                           (SELECT max(purchase_ts) FROM p))
                     - INTERVAL 2 HOUR AS w),
       um AS (SELECT c.user_id, c.click_ts,
                     CAST(NULL AS TIMESTAMP) AS purchase_ts
              FROM c, wm
              WHERE c.click_ts + INTERVAL 1 HOUR < wm.w
                AND NOT EXISTS (SELECT 1 FROM m
                                WHERE m.user_id = c.user_id
                                  AND m.click_ts = c.click_ts))
       SELECT * FROM m UNION ALL SELECT * FROM um""",
)
def stream_stream_left_join(spark, sf_dir):
    """Left-outer stream-stream interval join: every click emits —
    paired with each purchase by the same user in the following hour,
    or null-extended once the watermark proves no purchase can still
    arrive. The oracle mirrors the engine's eviction rule exactly:
    unmatched clicks emit iff click_ts + 1h < min(max click ts, max
    purchase ts) - 2h (the two-side watermark), younger ones stay in
    state at drain end."""
    ev = _events_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    ).withColumnRenamed("p_user_id", "user_id")
    joined = stream_interval_join_outer(
        clicks, purchases, "user_id", "click_ts", "purchase_ts",
        within="1 hour", watermark="2 hours",
    )
    return _drain(spark, joined, "append", "st_ssljoin")


@_q(
    "stream_foreachbatch_upsert",
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                         event_id, value
                  FROM events),
       r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC,
                                                   event_id DESC) AS rn
             FROM e)
       SELECT user_id, ts AS last_ts, event_id AS last_event_id,
              round(value, 2) AS last_value
       FROM r WHERE rn = 1""",
)
def stream_foreachbatch_upsert(spark, sf_dir):
    """Latest-state table maintained by the exactly-once foreachBatch
    upsert sink (streaming/incremental.foreach_batch_upsert): the
    events stream is fed as TWO files drained one per micro-batch
    (maxFilesPerTrigger=1), so the merge-with-current-state path and
    the batch-id replay guard genuinely execute across batches; the
    final state is the per-user latest event — which is exactly the
    batch argmax the oracle computes, BECAUSE the sink is
    idempotent and order-merging (duplicate delivery collapses)."""
    stream = _events_stream(
        spark,
        sf_dir,
        links={"events_a.parquet": "events.parquet",
               "events_b.parquet": "events.parquet"},
        maxFilesPerTrigger=1,
    ).select("user_id", "ts", "event_id", "value")
    state_dir = tempfile.mkdtemp(prefix="upsert_state_")
    atexit.register(shutil.rmtree, state_dir, ignore_errors=True)
    drain_available_now(spark, foreach_batch_upsert(stream, state_dir))
    from ..streaming.incremental import upsert_state

    state = upsert_state(spark, state_dir)
    return state.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.round("value", 2).alias("last_value"),
    )


@_q(
    "stream_dedup_watermarked",
    """SELECT event_type, count(*) AS n FROM events GROUP BY event_type""",
)
def stream_dedup_watermarked(spark, sf_dir):
    """Streaming dedup with BOUNDED state — the 100 TB-correct variant
    of stream_dedup_counts: dropDuplicatesWithinWatermark keeps a key
    in state only until the watermark passes its event time, so state
    size tracks the lateness window instead of the full key history
    (plain dropDuplicates state grows forever on an unbounded
    stream). The duplicated source (same events file linked twice)
    arrives within one trigger, well inside the 1-hour window, so
    exactly the duplicates collapse and the oracle is the single-copy
    count."""
    stream = _events_stream(
        spark,
        sf_dir,
        links={"events_a.parquet": "events.parquet",
               "events_b.parquet": "events.parquet"},
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return _drain(spark, agg, "complete", "st_dedup_wm")


# ------------------------------------------- streaming MinHash-LSH dedup
def _stream_minhash_sql(num_hashes: int, bands: int,
                        threshold: float) -> str:
    """Oracle for stream_minhash_dedup: the batch MinHash SQL from
    scale_queries restricted to cross-increment candidates — static
    index side = even doc_ids, streamed side = odd doc_ids. Generated
    from the same hash constants as the Spark plan."""
    from .scale_queries import _SHINGLE_CTE, _VERIFY_SQL
    from ..operators.hashing import (
        MERSENNE_P,
        affine_hash_sql,
        md5_long_sql,
        minhash_coeffs,
    )

    rows = num_hashes // bands
    h = f"({md5_long_sql('shingle')} % {MERSENNE_P})"
    mins = ",\n            ".join(
        f"min({affine_hash_sql(h, a, b)}) AS m{j}"
        for j, (a, b) in enumerate(minhash_coeffs(num_hashes))
    )
    band_selects = "\n    UNION ALL\n".join(
        "    SELECT doc_id, {b} AS band, concat({cols}) AS sig FROM sig_t".format(
            b=b,
            cols=", '_', ".join(
                f"CAST(m{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return f"""WITH {_SHINGLE_CTE},
  sig_t AS (SELECT doc_id,
            {mins}
            FROM sh GROUP BY doc_id),
  bands_t AS (
{band_selects}),
  cand AS (SELECT DISTINCT least(x.doc_id, y.doc_id) AS a,
                  greatest(x.doc_id, y.doc_id) AS b
           FROM bands_t x JOIN bands_t y
             ON x.band = y.band AND x.sig = y.sig
            AND x.doc_id % 2 = 0 AND y.doc_id % 2 = 1),
{_VERIFY_SQL.format(thr=threshold)}"""


_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


@_q("stream_minhash_dedup", _stream_minhash_sql(16, 8, 0.5))
def stream_minhash_dedup(spark, sf_dir):
    """Streaming near-dup dedup (streaming/minhash_stream.py): even
    doc_ids form the curated static corpus whose banded LSH index and
    shingle-set table are built batch-side and frozen
    (localCheckpoint — the stream re-scans static frames every
    micro-batch otherwise); odd doc_ids arrive on the file stream,
    TWICE (same parquet linked twice, one file per trigger), so the
    second delivery exercises the replay path: every pair it
    re-generates is already in dropDuplicates state and the sink sees
    each verified pair exactly once. Signatures on the stream side
    are pure column expressions — no stream aggregation before the
    index join. Oracle: the batch MinHash SQL restricted to
    even-vs-odd candidate pairs."""
    from ..streaming.minhash_stream import (
        build_lsh_index,
        stream_minhash_dedup as _op,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    static = docs.filter(F.col("doc_id") % 2 == 0)
    index_bands, index_sets = build_lsh_index(static, "doc_id", "text")
    index_bands = index_bands.localCheckpoint()
    index_sets = index_sets.localCheckpoint()

    src_dir = _source_dir(
        sf_dir,
        {"docs_a.parquet": "documents.parquet",
         "docs_b.parquet": "documents.parquet"},
    )
    stream = (
        _drops_stream(spark, src_dir, _DOCS_SCHEMA)
        .filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
    )
    out = _op(stream, index_bands, index_sets, "doc_id", "text",
              k=3, num_hashes=16, bands=8, threshold=0.5)
    return _drain(spark, out, "append", "st_minhash_dedup")


# ------------------------------------------ growing LSH index maintenance


@_q("stream_lsh_index_maintain", _stream_minhash_sql(16, 8, 0.5))
def stream_lsh_index_maintain(spark, sf_dir):
    """Streaming LSH dedup with a GROWING index
    (streaming/minhash_stream.foreach_batch_lsh_maintain): unlike
    stream_minhash_dedup's frozen batch-built index, here the stream
    itself maintains the banded index — each micro-batch is verified
    against everything indexed so far, then its own signatures are
    appended exactly once (marker + per-batch overwrite directories).
    The even-id documents arrive as batch 0 (empty index — no pairs,
    signatures appended), the odd-id documents as batch 1, whose
    pairs exist ONLY because batch 0 grew the index; the final pair
    set therefore equals the frozen-index query's, and the oracle is
    the same batch MinHash SQL restricted to even-vs-odd pairs.
    Redelivery discipline is pytest-locked (a re-presented batch
    neither duplicates index rows nor re-emits pairs)."""
    from ..streaming.minhash_stream import foreach_batch_lsh_maintain

    src = _single_file_drops(
        spark, sf_dir, "documents", ["doc_id", "text"],
        [("0_even.parquet", F.col("doc_id") % 2 == 0),
         ("1_odd.parquet", F.col("doc_id") % 2 == 1)],
        "lsh_stream_src_",
    )
    index_dir = tempfile.mkdtemp(prefix="lsh_index_")
    atexit.register(shutil.rmtree, index_dir, ignore_errors=True)
    stream = _drops_stream(spark, src, "doc_id long, text string")
    drain_available_now(
        spark,
        foreach_batch_lsh_maintain(
            stream, index_dir, "doc_id", "text",
            k=3, num_hashes=16, bands=8, threshold=0.5,
            # self-compacting: after the second batch commits,
            # the sink folds both batch dirs into generation
            # -1 (journaled, rename-free) — the maintenance
            # path the bench therefore measures end-to-end
            compact_every=2,
        ),
    )
    return (
        spark.read.parquet(f"{index_dir}/pairs")
        .select("doc_a", "doc_b", "jaccard")
    )


# --------------------------------------- incremental IVF-PQ index append
_IVFPQ_INC_DIRS: dict = FixtureMemo()


def _ivfpq_base_index_dir(spark, sf_dir: str) -> str:
    """Base IVF-PQ index over the EVEN vec_ids only: quantizers
    trained on the base corpus and persisted as side tables; base
    codes written as the cells/batch=-1 directory (partitioned by
    _cell) of the layout the streaming append extends
    (operators/ann_index.build_index — the one implementation of the
    layout contract)."""
    from ..operators import ann_index

    if sf_dir not in _IVFPQ_INC_DIRS:
        e = load(spark, sf_dir, "embeddings")
        base = e.filter(F.col("vec_id") % 2 == 0)
        d = tempfile.mkdtemp(prefix="ann_ivfpq_inc_")
        ann_index.build_index(spark, base, "vec_id", "embedding", d)
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _IVFPQ_INC_DIRS[sf_dir] = d
    return _IVFPQ_INC_DIRS[sf_dir]


_SPLIT_DROP_DIRS: dict = {}


def _single_file_drops(spark, sf_dir: str, table: str, cols: list[str],
                       drops: list[tuple[str, "object"]],
                       prefix: str, mutate=None) -> str:
    """Write one single-file parquet drop per (name, predicate) pair,
    mtime-ordered, so maxFilesPerTrigger=1 feeds them as distinct
    micro-batches — shared by every multi-batch streaming fixture.
    ``mutate(df) -> df`` transforms the source frame before the drop
    predicates apply (e.g. the auto-retrain fixture's distribution
    shift); callers passing one must use a distinct ``prefix`` (the
    memo key)."""
    key = (sf_dir, table, prefix)
    if key not in _SPLIT_DROP_DIRS:
        import glob as _glob

        d = tempfile.mkdtemp(prefix=prefix)
        src = load(spark, sf_dir, table).select(*cols)
        if mutate is not None:
            src = mutate(src)
        for i, (name, pred) in enumerate(drops):
            tmp = f"{d}/_tmp"
            src.filter(pred).coalesce(1).write.mode("overwrite").parquet(
                tmp
            )
            part = _glob.glob(f"{tmp}/part-*.parquet")[0]
            shutil.move(part, f"{d}/{name}")
            shutil.rmtree(tmp, ignore_errors=True)
            os.utime(f"{d}/{name}",
                     (1_000_000_000 + i * 100, 1_000_000_000 + i * 100))
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _SPLIT_DROP_DIRS[key] = d
    return _SPLIT_DROP_DIRS[key]


def _ivfpq_append_sql() -> str:
    from .scale_queries import _ivfpq_sql

    # the stored index after streaming absorption must serve results
    # identical to the one-shot pipeline whose QUANTIZERS come from
    # the base (even-id) corpus but whose codes cover everyone
    return _ivfpq_sql(8, 2, 8, 8, 8, 10, 5, seed_pred="vec_id % 2 = 0")


def _absorb_stream(spark, sf_dir: str, index_dir: str,
                   drops: list, prefix: str,
                   compact_every=None) -> None:
    """Drain the given odd-id single-file drops into ``index_dir``
    through the IVF-PQ append sink — the shared absorption step of
    the incremental-index queries. Markers make a re-drain (fresh
    checkpoint, same dir) a no-op, so memoized callers stay
    replay-safe."""
    from ..streaming.ann_maintain import foreach_batch_ivfpq_append

    src = _single_file_drops(
        spark, sf_dir, "embeddings", ["vec_id", "embedding"],
        drops, prefix,
    )
    stream = _drops_stream(spark, src, "vec_id long, embedding array<double>")
    drain_available_now(
        spark,
        foreach_batch_ivfpq_append(
            stream, index_dir, "vec_id", "embedding",
            m=8, sub_d=8, compact_every=compact_every,
        ),
    )


_IVFPQ_ABSORBED: dict = FixtureMemo()


def _ivfpq_absorbed_dir(spark, sf_dir: str) -> str:
    """The even-id base index with the odd vec_ids absorbed as TWO
    streaming micro-batches — shared by the append and recall-served
    queries (memoized; a second build would only replay markers)."""
    if sf_dir not in _IVFPQ_ABSORBED:
        d = _ivfpq_base_index_dir(spark, sf_dir)
        _absorb_stream(
            spark, sf_dir, d,
            [("0_first.parquet", F.col("vec_id") % 4 == 1),
             ("1_second.parquet", F.col("vec_id") % 4 == 3)],
            "emb_stream_src_",
        )
        _IVFPQ_ABSORBED[sf_dir] = d
    return _IVFPQ_ABSORBED[sf_dir]


@_q("stream_ivfpq_index_append", _ivfpq_append_sql())
def stream_ivfpq_index_append(spark, sf_dir):
    """Incremental IVF-PQ index absorption
    (streaming/ann_maintain.foreach_batch_ivfpq_append): the base
    index is built over the even vec_ids (quantizers frozen + side
    tables persisted, loaded ONCE per sink — not per trigger), the
    odd vec_ids arrive as TWO micro-batches and are encoded with the
    FROZEN quantizers, each batch an overwrite of its own
    cells/batch=<id> directory through the shared index sink — so
    redelivery converges and the marker short-circuits clean replays
    (pytest-locked). Serving then
    reads the grown index (probed-cell literal pruning, stored-code
    ADC) and must hash-match the oracle's one-shot replay:
    base-trained quantizers, codes for the whole corpus — proving
    absorption is lossless."""
    from ..operators import ann_index

    d = _ivfpq_absorbed_dir(spark, sf_dir)
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10)
    return ann_index.serve_topk(
        spark, d, queries, "vec_id", "embedding", n_probe=2, sub_d=8, k=5
    )


_IVFPQ_AC_DIRS: dict = FixtureMemo()


@_q("stream_ivfpq_autocompact", _ivfpq_append_sql())
def stream_ivfpq_autocompact(spark, sf_dir):
    """Self-compacting incremental IVF-PQ index
    (ann_maintain compact_every + operators/ann_index.compact_cells):
    the odd vec_ids arrive as FOUR micro-batches on a fresh even-id
    base, and the shared index sink itself compacts the committed
    cells/batch=<id> directories whenever two committed real batches
    have accumulated — two journaled, rename-free compactions run
    inside the drain with no operator call. Serving from the
    compacted generations must hash-match the SAME one-shot oracle as
    the append query: the oracle-gate proof that compaction is
    lossless and the directory count stays bounded under sustained
    streaming (the file-count bound and crash recovery are
    pytest-locked in tests/test_ann_index.py)."""
    from ..operators import ann_index

    if sf_dir not in _IVFPQ_AC_DIRS:
        e = load(spark, sf_dir, "embeddings")
        d = tempfile.mkdtemp(prefix="ann_ivfpq_ac_")
        ann_index.build_index(
            spark, e.filter(F.col("vec_id") % 2 == 0),
            "vec_id", "embedding", d,
        )
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _absorb_stream(
            spark, sf_dir, d,
            [("0_q1.parquet", F.col("vec_id") % 8 == 1),
             ("1_q3.parquet", F.col("vec_id") % 8 == 3),
             ("2_q5.parquet", F.col("vec_id") % 8 == 5),
             ("3_q7.parquet", F.col("vec_id") % 8 == 7)],
            "emb_ac_src_",
            compact_every=2,
        )
        _IVFPQ_AC_DIRS[sf_dir] = d
    d = _IVFPQ_AC_DIRS[sf_dir]
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10)
    return ann_index.serve_topk(
        spark, d, queries, "vec_id", "embedding", n_probe=2, sub_d=8, k=5
    )


def _stream_drift_sql() -> str:
    from .scale_queries import _drift_sql

    # the streaming fold only ever sees the arrivals cohort; its
    # drained totals must equal the batch monitor's arrivals row
    return (f"WITH d AS ({_drift_sql()}) "
            "SELECT cohort, n_vecs, total_err, mean_err_fp FROM d "
            "WHERE cohort = 'arrivals'")


@_q("stream_drift_monitor", _stream_drift_sql())
def stream_drift_monitor(spark, sf_dir):
    """Streaming quantizer drift monitor
    (streaming/ann_maintain.foreach_batch_drift_fold): the odd
    vec_ids arrive as TWO micro-batches and their quantization error
    under the base-trained FROZEN quantizers folds into two exact
    driver-side integers per trigger — the retrain signal computed
    ONLINE, next to the absorption sink, instead of by a periodic
    batch scan. Exact integer folding is order-free, so the drained
    totals hash-match the batch monitor's arrivals row (the oracle) —
    proving the online monitor loses nothing vs the offline one."""
    import math

    from ..streaming.ann_maintain import foreach_batch_drift_fold
    from .scale_queries import _drift_quantizers

    e = load(spark, sf_dir, "embeddings")
    coarse, cbs = _drift_quantizers(spark, e)
    src = _single_file_drops(
        spark, sf_dir, "embeddings", ["vec_id", "embedding"],
        [("0_first.parquet", F.col("vec_id") % 4 == 1),
         ("1_second.parquet", F.col("vec_id") % 4 == 3)],
        "emb_stream_src_",
    )
    stream = _drops_stream(spark, src, "vec_id long, embedding array<double>")
    state: dict = {"n": 0, "total": 0, "seen": set()}
    drain_available_now(
        spark,
        foreach_batch_drift_fold(
            stream, coarse, cbs, 8, 8, state,
            "vec_id", "embedding",
        ),
    )
    # identical float discipline to the SQL: floor(double / double)
    mean_fp = (
        int(math.floor(float(state["total"]) / float(state["n"])))
        if state["n"] else 0
    )
    return tiny_df(
        spark,
        [("arrivals", state["n"], state["total"], mean_fp)],
        "cohort string, n_vecs long, total_err long, mean_err_fp long",
    )


def _auto_retrain_sql() -> str:
    from .scale_queries import _ivfpq_sql

    # final state of the self-retraining stream: the retrain fires on
    # the SHIFTED second batch, so quantizers derive from base ∪ calm
    # batch ∪ shifted batch (vec_id % 4 < 3) while codes cover the
    # whole corpus (batch 3 absorbed frozen after the cutover). The
    # shadow CTE applies the same +2.0 distribution shift to the
    # % 4 == 2 cohort the Spark fixture streams in.
    sql = _ivfpq_sql(8, 2, 8, 8, 8, 10, 5, seed_pred="vec_id % 4 < 3")
    shadow = (
        "emb_shifted AS MATERIALIZED ("
        "SELECT vec_id, CASE WHEN vec_id % 4 = 2 "
        "THEN list_transform(embedding, x -> CAST(x AS DOUBLE) + 2.0) "
        "ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END "
        "AS embedding FROM embeddings),\n"
    )
    return sql.replace("FROM embeddings", "FROM emb_shifted").replace(
        "WITH ", "WITH " + shadow, 1
    )


_AUTO_RETRAIN_ROOTS: dict = FixtureMemo()


def _shifted_embeddings(df):
    """The drift fixture: the ``vec_id % 4 == 2`` cohort moves +2.0 in
    every dimension — a real distribution shift (far past the 2x drift
    ratio at any scale factor), applied identically by the oracle's
    shadow CTE."""
    shifted = F.transform(
        F.col("embedding"), lambda x: x.cast("double") + F.lit(2.0)
    )
    plain = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return df.select(
        "vec_id",
        F.when(F.col("vec_id") % 4 == 2, shifted)
        .otherwise(plain)
        .alias("embedding"),
    )


@_q("stream_index_auto_retrain", _auto_retrain_sql())
def stream_index_auto_retrain(spark, sf_dir):
    """Self-retraining index stream
    (streaming/ann_maintain.foreach_batch_auto_retrain) — the full
    lifecycle loop CLOSED inside one sink: v0 trains on the base
    quarter (vec_id % 4 == 0), then three micro-batches arrive. The
    calm first batch (% 4 == 1) absorbs frozen — its per-trigger drift
    ratio vs the base cohort stays under 2x. The SHIFTED second batch
    (% 4 == 2, every dimension +2.0) blows past the ratio, so the sink
    retrains on base ∪ raw log ∪ batch and cuts over to v1 with the
    create-only versioned commit — no operator intervention. The calm
    third batch (% 4 == 3) absorbs frozen against v1's NEW quantizers.
    Serving the final root must hash-match the one-shot oracle whose
    quantizers derive from exactly the pre-retrain corpus
    (vec_id % 4 < 3, shifted cohort included) with codes for everyone —
    proving the policy fired on precisely the drifted batch and the
    cutover/absorption sequence is lossless. The drift trigger is an
    exact-integer cross-multiplication, so WHERE it fires is
    deterministic at every scale factor."""
    from ..operators import ann_index
    from ..streaming.ann_maintain import foreach_batch_auto_retrain

    if sf_dir not in _AUTO_RETRAIN_ROOTS:
        e2 = _shifted_embeddings(load(spark, sf_dir, "embeddings"))
        base = e2.filter(F.col("vec_id") % 4 == 0)
        root = tempfile.mkdtemp(prefix="ann_autoretrain_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        v0 = ann_index.rebuild_swap(
            spark, root, base, "vec_id", "embedding"
        )
        assert v0 == 0
        src = _single_file_drops(
            spark, sf_dir, "embeddings", ["vec_id", "embedding"],
            [("0_calm.parquet", F.col("vec_id") % 4 == 1),
             ("1_shifted.parquet", F.col("vec_id") % 4 == 2),
             ("2_calm.parquet", F.col("vec_id") % 4 == 3)],
            "emb_ar_src_", mutate=_shifted_embeddings,
        )
        stream = _drops_stream(
            spark, src, "vec_id long, embedding array<double>"
        )
        drain_available_now(
            spark,
            foreach_batch_auto_retrain(
                stream, root, base, "vec_id", "embedding",
            ),
        )
        # the policy must have fired exactly once, on the shifted batch
        from ..streaming.fsio import Cutover, IndexFS

        fs = IndexFS(spark, root)
        assert Cutover(fs, *ann_index.VERSIONS).resolve() == 1
        assert IndexFS(spark, fs.uri("v1")).exists("_base_includes_1")
        _AUTO_RETRAIN_ROOTS[sf_dir] = root
    root = _AUTO_RETRAIN_ROOTS[sf_dir]
    e2 = _shifted_embeddings(load(spark, sf_dir, "embeddings"))
    queries = e2.filter(F.col("vec_id") < 10)
    return ann_index.serve_current(
        spark, root, queries, "vec_id", "embedding",
        n_probe=2, sub_d=8, k=5,
    )


def _mix_monitor_sql() -> str:
    from .scale_queries import ORACLES as _SCALE_ORACLES

    # the drained fold over ALL arrival batches must replay the batch
    # planner exactly — same corpus, same planning math
    return _SCALE_ORACLES["pipeline_mix_planner"]


@_q("stream_mix_monitor", _mix_monitor_sql())
def stream_mix_monitor(spark, sf_dir):
    """Streaming mixture monitor
    (streaming/incremental.foreach_batch_mix_fold) — the data-mixing
    twin of stream_drift_monitor: documents arrive as TWO micro-batches
    and each batch's per-source token masses fold into exact driver
    integers (bounded by |sources|, epoch-guarded). The drained state
    runs through the SAME planning expressions as the batch
    pipeline_mix_planner (mix_plan_from_tokens), so the online mixture
    plan hash-matches the offline one over the identical corpus —
    proving a continuously-ingesting pipeline can watch its source mix
    against the data card without a periodic corpus rescan."""
    from ..streaming.incremental import foreach_batch_mix_fold
    from .scale_queries import mix_plan_from_tokens

    src = _single_file_drops(
        spark, sf_dir, "documents", ["doc_id", "source", "text"],
        [("0_even.parquet", F.col("doc_id") % 2 == 0),
         ("1_odd.parquet", F.col("doc_id") % 2 == 1)],
        "docs_mix_src_",
    )
    stream = _drops_stream(
        spark, src, "doc_id long, source string, text string"
    )
    state: dict = {"tokens": {}, "seen": set()}
    tokens_expr = F.size(
        F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    )
    drain_available_now(
        spark, foreach_batch_mix_fold(stream, "source", tokens_expr, state)
    )
    per_src = tiny_df(
        spark, sorted(state["tokens"].items()), "source string, t_s long"
    )
    return mix_plan_from_tokens(per_src)


def _recall_served_sql() -> str:
    from .scale_queries import ORACLES as _SCALE_ORACLES

    # served top-5 from the absorbed store == the one-shot replay
    # (the append oracle); recall measured against the exact
    # brute-force top-5 over the SAME union corpus
    return f"""WITH ivfpq AS ({_ivfpq_append_sql()}),
       brute AS ({_SCALE_ORACLES["ann_cosine_topk"]})
       SELECT b.query_id,
              count(i.neighbor_id) AS n_hits,
              round(count(i.neighbor_id) / 5.0, 4) AS recall_at_5
       FROM brute b LEFT JOIN ivfpq i
         ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
       GROUP BY b.query_id"""


@_q("ann_recall_served", _recall_served_sql())
def ann_recall_served(spark, sf_dir):
    """Recall@5 of the SERVED, absorbed index (VERDICT r6 ask #5):
    after round 6 the store is the product, so the honesty ledger
    must measure what serving actually returns — stored codes, grown
    by streaming absorption, read through probed-cell pruning — not
    the in-memory pipeline ann_recall_report measures. Per query: how
    many of the exact brute-force top-5 over the UNION corpus
    (base + absorbed) the stored index returned. Green here proves
    absorbed vectors are retrievable at the same recall as base ones,
    not merely hash-present in the inventory."""
    from ..operators import ann_index, similarity

    d = _ivfpq_absorbed_dir(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    brute = similarity.cosine_topk(e, q, "vec_id", "embedding", k=5)
    served = ann_index.serve_topk(
        spark, d, q, "vec_id", "embedding", n_probe=2, sub_d=8, k=5
    ).select(
        F.col("query_id"), F.col("neighbor_id"), F.lit(1).alias("_hit")
    )
    return (
        brute.join(served, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.col("_hit")).alias("n_hits"),
            F.round(F.count(F.col("_hit")) / F.lit(5.0), 4)
            .alias("recall_at_5"),
        )
    )


# --------------------------------------------- streaming decontamination
def _stream_decon_sql() -> str:
    """Oracle for stream_decontaminate: the batch decontamination SQL
    (scale_queries) restricted to contaminated docs — a stream can
    only emit rows for documents that HIT the benchmark index (there
    is no outer join against an unbounded stream), so the contract is
    the alert set, not the full ledger."""
    from .scale_queries import _DECON_SHINGLE_CTE

    return f"""WITH {_DECON_SHINGLE_CTE},
       b AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0')
       SELECT s.doc_id, count(*) AS n_shared
       FROM sh s JOIN b USING (shingle)
       WHERE s.source <> 'src0'
       GROUP BY s.doc_id"""


@_q("stream_decontaminate", _stream_decon_sql())
def stream_decontaminate(spark, sf_dir):
    """Streaming benchmark decontamination: documents arriving on the
    file stream are checked against the STATIC held-out set's 5-word
    shingle index (source 'src0', hashed + frozen batch-side, as in
    dd_decontaminate); every contaminated doc is emitted with its
    shared-shingle count. Stream side is an in-row shingle expression
    (streaming/minhash_stream.shingle_hash_array at k=5) + stateless
    explode + stream-static join; the per-doc count is the one
    stateful aggregation, drained in update mode. Per-trigger shuffle
    is O(new_docs x shingles), independent of corpus size — the
    incremental twin of dd_decontaminate's alert half."""
    from ..operators.dedup import word_shingles
    from ..operators.hashing import md5_long
    from ..streaming.minhash_stream import shingle_hash_array

    docs = load(spark, sf_dir, "documents")
    bench = (
        word_shingles(
            docs.filter(F.col("source") == "src0"), "doc_id", "text", 5
        )
        .select(md5_long(F.col("shingle")).alias("_h"))
        .distinct()
        .localCheckpoint()
    )
    src_dir = _source_dir(sf_dir, {"docs.parquet": "documents.parquet"})
    stream = (
        spark.readStream.format("parquet")
        .schema(_DOCS_SCHEMA)
        .load(src_dir)
        .filter(F.col("source") != "src0")
    )
    ex = stream.select(
        "doc_id",
        F.explode(shingle_hash_array(F.col("text"), 5)).alias("_h"),
    )
    hits = ex.join(bench, "_h").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    return _drain(spark, hits, "update", "st_decontaminate")


@_q(
    "stream_heavy_hitters",
    r"""WITH w AS (SELECT list_filter(string_split_regex(text, '\s+'),
                                     x -> x <> '') AS w
                  FROM documents),
       g AS (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1])) AS ngram
             FROM w WHERE len(w) >= 2),
       tot AS (SELECT count(*) AS n FROM g)
       SELECT ngram, count(*) * 2 AS freq
       FROM g, tot GROUP BY ngram, n
       HAVING count(*) * 2 * 1000 > n * 2""",
)
def stream_heavy_hitters(spark, sf_dir):
    """Streaming frequent-ngram tracking: documents arrive on the
    file stream in TWO micro-batches (the same parquet linked twice,
    one file per trigger), bigrams expand statelessly in-row, and each
    batch folds into the bounded driver-side Misra-Gries summary
    (streaming/incremental.stream_mg_heavy_hitters) — per batch only
    the MG-candidate recount table moves, never the vocabulary. The
    double delivery makes the cross-batch merge observable: every
    count is exactly 2x the corpus count, which the oracle mirrors.
    k=2000 exceeds the per-batch distinct-bigram count, so the merged
    counts are exact and hash-match; the emitted set is
    freq * 1000 > N, the same relative threshold as
    agg_heavy_hitters."""
    from ..streaming.incremental import stream_mg_heavy_hitters

    src_dir = _source_dir(
        sf_dir,
        {"docs_a.parquet": "documents.parquet",
         "docs_b.parquet": "documents.parquet"},
    )
    stream = _drops_stream(spark, src_dir, _DOCS_SCHEMA)
    w = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_w") - 1),
        lambda i: F.array_join(F.slice(F.col("_w"), i, 2), " "),
    )
    items = (
        stream.select(w.alias("_w"))
        .filter(F.size("_w") >= 2)
        .select(F.explode(grams).alias("ngram"))
    )
    counters, n = stream_mg_heavy_hitters(items, "ngram", k=2000)
    hot = [(t, int(c)) for t, c in counters.items() if c * 1000 > n]
    return tiny_df(spark, hot, "ngram string, freq long")


def _stream_kmv_sql(k: int) -> str:
    from ..operators.hashing import md5_long_sql
    from ..operators.sketches import HASH_SPACE

    h = md5_long_sql("CAST(user_id AS VARCHAR)")
    return f"""WITH h AS (SELECT DISTINCT {h} AS h FROM events),
       r AS (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM h),
       s AS (SELECT count(*) AS n,
                    max(CASE WHEN rk = {k} THEN h END) AS hk
             FROM r WHERE rk <= {k})
       SELECT CASE WHEN hk IS NULL THEN n
                   ELSE CAST(({k - 1} * CAST({HASH_SPACE} AS HUGEINT)) // hk
                             AS BIGINT)
              END AS est_users,
              2 AS n_batches
       FROM s"""


@_q("stream_kmv_distinct", _stream_kmv_sql(128))
def stream_kmv_distinct(spark, sf_dir):
    """Streaming distinct-user tracking with BOUNDED state
    (streaming/incremental.stream_kmv_distinct): events arrive in two
    micro-batches (same parquet linked twice — KMV merging is
    idempotent, so the double delivery is absorbed, unlike the
    heavy-hitter counts) and each batch's bottom-128 sketch folds
    into a 128-long driver sketch. The estimate hash-matches the
    oracle's direct global sketch: bottom-k(union) == bottom-k of
    per-batch bottom-k's, and the state never grows past k longs on
    an unbounded stream — the property plain streaming
    dropDuplicates+count lacks. n_batches reports DELIVERIES of the
    table (drained rows // table rows), not raw trigger count: at the
    sf1+ replicas the staged table is N part files, so trigger count
    is 2N — a fixture-layout number the sf1 sweep caught leaking into
    the oracle comparison — while volume-over-table is 2 at every
    scale and proves the same double-delivery absorption."""
    from ..streaming.incremental import stream_kmv_distinct as _op
    from ..operators.sketches import HASH_SPACE

    src_dir = _source_dir(
        sf_dir,
        {"ev_a.parquet": "events.parquet",
         "ev_b.parquet": "events.parquet"},
    )
    ts_type = _events_ts_type(spark, sf_dir)
    stream = (
        _drops_stream(spark, src_dir, _events_schema(ts_type))
        .select("user_id")
    )
    sketch, _triggers, n_rows = _op(stream, "user_id", k=128)
    if len(sketch) < 128:
        est = len(sketch)
    else:
        est = (127 * HASH_SPACE) // sketch[127]
    n_events = load(spark, sf_dir, "events").count()
    deliveries = n_rows // n_events if n_events else 0
    return tiny_df(
        spark, [(int(est), int(deliveries))], "est_users long, n_batches int"
    )


# ----------------------------------------------- streaming IVF assignment
def _stream_ivf_sql() -> str:
    from .scale_queries import _cos_sql

    cos = _cos_sql("e.embedding", "c.cv")
    return f"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv
                     FROM embeddings ORDER BY vec_id LIMIT 8),
       asg AS (SELECT e.vec_id, c.cid,
                      row_number() OVER (PARTITION BY e.vec_id
                        ORDER BY round({cos}, 6) DESC, c.cid) AS rk
               FROM embeddings e, cent c)
       SELECT vec_id, cid FROM asg WHERE rk = 1"""


@_q("stream_ivf_assign", _stream_ivf_sql())
def stream_ivf_assign(spark, sf_dir):
    """Streaming IVF index maintenance: the coarse quantizer is
    frozen batch-side (collected 8-cell codebook, inlined as
    literals) and newly arriving vectors ride a parquet file stream
    through the SAME zero-shuffle cell-assignment expression the
    batch index build uses (similarity.ivf_cell_assign) — a pure
    stateless projection, so the streaming plan carries no state
    store at all and the per-trigger cost is exactly one scan of the
    new files. This is how a production ANN index absorbs arrivals:
    train/freeze the quantizer, stream assignments into the cell
    inventory. Oracle: the batch assignment of the full table."""
    from ..operators import similarity

    e = load(spark, sf_dir, "embeddings")
    cb_src = e.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("_cid"), F.col("embedding").alias("_cv")
    )
    cb = similarity.collect_cosine_codebook(cb_src)
    src_dir = _source_dir(sf_dir, {"embeddings.parquet": "embeddings.parquet"})
    emb_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    stream = _drops_stream(spark, src_dir, emb_schema)
    out = similarity.ivf_cell_assign(stream, "vec_id", "embedding", cb)
    return _drain(spark, out, "append", "st_ivf_assign")


# ------------------------------------------ growing BM25 lexical index
def _stream_bm25_sql() -> str:
    from .scale_queries import _bm25_sql

    return _bm25_sql()


@_q("stream_bm25_index_maintain", _stream_bm25_sql())
def stream_bm25_index_maintain(spark, sf_dir):
    """Growing lexical (BM25) index on a document stream
    (streaming/lexical_stream.foreach_batch_bm25_maintain — the shared
    journal protocol's fourth instantiation): even-id documents arrive
    as batch 0, odd-id as batch 1, each batch's (doc, term, tf)
    postings and (doc, dl) lengths append exactly once, and
    ``compact_every=2`` makes the sink fold both batches into a
    generation inside the drain — so serving (serve_bm25: committed
    partitions only, query-term parquet pushdown, the shared
    bm25_rank core) runs against the COMPACTED store and must still
    hash-match the one-shot batch BM25 over all documents (the
    txt_bm25_topk oracle)."""
    from .scale_queries import _BM25_TERMS
    from ..streaming.lexical_stream import (
        foreach_batch_bm25_maintain,
        serve_bm25,
    )

    src = _single_file_drops(
        spark, sf_dir, "documents", ["doc_id", "text"],
        [("0_even.parquet", F.col("doc_id") % 2 == 0),
         ("1_odd.parquet", F.col("doc_id") % 2 == 1)],
        "bm25_stream_src_",
    )
    index_dir = tempfile.mkdtemp(prefix="bm25_index_")
    atexit.register(shutil.rmtree, index_dir, ignore_errors=True)
    stream = _drops_stream(spark, src, "doc_id long, text string")
    drain_available_now(
        spark,
        foreach_batch_bm25_maintain(
            stream, index_dir, "doc_id", "text",
            compact_every=2,
        ),
    )
    return serve_bm25(spark, index_dir, list(_BM25_TERMS), "doc_id",
                      k=10)


def _priority_sample_oracle() -> str:
    from .core_queries import _priority_sample_sql

    return _priority_sample_sql(200)


@_q("stream_priority_sample", _priority_sample_oracle())
def stream_priority_sample(spark, sf_dir):
    """Streaming exact-k uniform sample with k-ROW state
    (incremental.foreach_batch_topk_sample): the documents table
    arrives through the duplicated two-file source (every row
    delivered twice across micro-batches) and the sink folds each
    batch's bottom-k priorities into the stored sample on the
    versioned commit protocol. Because min-k merging is idempotent
    and associative, the doubled delivery and the batch slicing must
    both be invisible — the final sample equals the one-shot batch
    draw, which is exactly o4_priority_sample's oracle."""
    from ..streaming.incremental import (
        foreach_batch_topk_sample,
        upsert_state,
    )

    src_dir = _source_dir(
        sf_dir,
        {"docs_a.parquet": "documents.parquet",
         "docs_b.parquet": "documents.parquet"},
    )
    stream = _drops_stream(spark, src_dir, _DOCS_SCHEMA).select("doc_id")
    state_dir = tempfile.mkdtemp(prefix="psample_state_")
    atexit.register(shutil.rmtree, state_dir, ignore_errors=True)
    drain_available_now(
        spark,
        foreach_batch_topk_sample(stream, state_dir, "doc_id",
                                  k=200),
    )
    return upsert_state(spark, state_dir).select("doc_id", "priority")


def _cdc_log(src):
    """orders → a 3-epoch CDC change log: the snapshot as seq-0
    upserts, re-pricing updates + brand-new keys at seq 1, delete
    tombstones at seq 2 (same synthesis as u6_cdc_apply's)."""
    target = src.select(
        "o_orderkey", "o_totalprice",
        F.lit("U").alias("op"), F.lit(0).alias("seq"),
    )
    upd = src.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.round(
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.lit("0.9").cast("decimal(2,1)"), 2,
        ).cast("double").alias("o_totalprice"),
        F.lit("U").alias("op"), F.lit(1).alias("seq"),
    )
    ins = src.filter(F.col("o_orderkey") % 100 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        F.lit(42.42).alias("o_totalprice"),
        F.lit("U").alias("op"), F.lit(1).alias("seq"),
    )
    dels = src.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit("D").alias("op"), F.lit(2).alias("seq"),
    )
    return target.unionByName(upd).unionByName(ins).unionByName(dels)


@_q(
    "stream_cdc_apply",
    """WITH log AS (
         SELECT o_orderkey, o_totalprice, 'U' AS op, 0 AS seq, 0 AS src
         FROM orders
         UNION ALL
         SELECT o_orderkey,
                CAST(round(CAST(o_totalprice AS DECIMAL(18,2))
                           * CAST('0.9' AS DECIMAL(2,1)), 2) AS DOUBLE),
                'U', 1, 1
         FROM orders WHERE o_orderkey % 7 = 0
         UNION ALL
         SELECT o_orderkey + 10000000, CAST(42.42 AS DOUBLE), 'U', 1, 1
         FROM orders WHERE o_orderkey % 100 = 0
         UNION ALL
         SELECT o_orderkey, CAST(NULL AS DOUBLE), 'D', 2, 1
         FROM orders WHERE o_orderkey % 10 = 0),
       merged AS (
         SELECT *, row_number() OVER (PARTITION BY o_orderkey
                     ORDER BY seq DESC, src DESC) AS rn
         FROM log)
       SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
       FROM merged WHERE rn = 1 AND op <> 'D'""",
)
def stream_cdc_apply(spark, sf_dir):
    """CDC changelog applied FROM A STREAM
    (incremental.foreach_batch_cdc): the u6_cdc_apply log arrives as
    three single-file micro-batches (snapshot, updates+inserts,
    deletes) through the versioned exactly-once sink. Tombstones are
    RETAINED in the stored state — that's what makes the final table
    independent of how the log is sliced into batches (a late
    lower-seq update can never resurrect a deleted key) — and
    filtered only in the read view. Must equal the one-shot batch
    apply (the same oracle as u6_cdc_apply): streaming is a cost
    choice, never an answer choice."""
    from ..streaming.incremental import cdc_state, foreach_batch_cdc

    src = _single_file_drops(
        spark, sf_dir, "orders", ["o_orderkey", "o_totalprice"],
        [("log0.parquet", F.col("seq") == 0),
         ("log1.parquet", F.col("seq") == 1),
         ("log2.parquet", F.col("seq") == 2)],
        prefix="cdc_log_", mutate=_cdc_log,
    )
    stream = _drops_stream(
        spark, src, "o_orderkey long, o_totalprice double, op string, seq int"
    )
    state_dir = tempfile.mkdtemp(prefix="cdc_state_")
    atexit.register(shutil.rmtree, state_dir, ignore_errors=True)
    drain_available_now(
        spark, foreach_batch_cdc(stream, state_dir, "o_orderkey")
    )
    live = cdc_state(spark, state_dir)
    return live.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


# ----------------------------------- partitioned (fact-sized) upsert state
@_q(
    "stream_upsert_partitioned",
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                         event_id, value
                  FROM events),
       r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC,
                                                   event_id DESC) AS rn
             FROM e)
       SELECT user_id, ts AS last_ts, event_id AS last_event_id,
              round(value, 2) AS last_value
       FROM r WHERE rn = 1""",
)
def stream_upsert_partitioned(spark, sf_dir):
    """Fact-sized exactly-once upsert
    (incremental.foreach_batch_upsert_partitioned): the state is
    hash-bucketed on the key and each micro-batch rewrites ONLY the
    buckets its keys touch, every bucket committing its own
    create-only version with one retire-grace version — per-trigger
    cost O(touched buckets) where the plain upsert pays O(state).
    Same two-file drain and the same latest-row oracle as
    stream_foreachbatch_upsert: the partitioning must change the
    COST, never the answer."""
    from ..streaming.incremental import (
        foreach_batch_upsert_partitioned,
        upsert_state_partitioned,
    )

    stream = _events_stream(
        spark,
        sf_dir,
        links={"events_a.parquet": "events.parquet",
               "events_b.parquet": "events.parquet"},
        maxFilesPerTrigger=1,
    ).select("user_id", "ts", "event_id", "value")
    state_dir = tempfile.mkdtemp(prefix="upsert_part_state_")
    atexit.register(shutil.rmtree, state_dir, ignore_errors=True)
    drain_available_now(
        spark,
        foreach_batch_upsert_partitioned(
            stream, state_dir, buckets=8
        ),
    )
    state = upsert_state_partitioned(spark, state_dir)
    return state.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.round("value", 2).alias("last_value"),
    )


@_q(
    "stream_agg_mv_partitioned",
    """SELECT user_id,
              round(sum(value), 2) AS sum_value,
              CAST(count(*) AS BIGINT) AS n_rows
       FROM events GROUP BY user_id""",
)
def stream_agg_mv_partitioned(spark, sf_dir):
    """Incrementally-maintained aggregate materialized view
    (incremental.foreach_batch_agg_mv_partitioned): per trigger the
    batch's PARTIAL per-key sums fold into the stored running
    aggregates on the same per-bucket create-only commit machinery —
    the streaming answer to 'keep this groupBy current' at
    O(batch + touched buckets) per trigger instead of re-scanning
    history. Drained over two micro-batches, the view must equal the
    one-shot groupBy (the oracle). Unlike the latest-row sinks the
    additive fold is NOT duplicate-tolerant across redeliveries of
    different batch ids, so the fixture drains two DISJOINT halves
    (the upsert fixtures' duplicated source would legitimately
    double-count here)."""
    from ..streaming.incremental import (
        foreach_batch_agg_mv_partitioned,
        upsert_state_partitioned,
    )

    src = _single_file_drops(
        spark, sf_dir, "events", ["user_id", "value", "event_id"],
        [("0_even.parquet", F.col("event_id") % 2 == 0),
         ("1_odd.parquet", F.col("event_id") % 2 == 1)],
        "agg_mv_src_",
    )
    stream = _drops_stream(
        spark, src, "user_id long, value double, event_id long"
    ).select("user_id", "value")
    state_dir = tempfile.mkdtemp(prefix="agg_mv_state_")
    atexit.register(shutil.rmtree, state_dir, ignore_errors=True)
    drain_available_now(
        spark,
        foreach_batch_agg_mv_partitioned(
            stream, state_dir, "user_id",
            {"sum_value": "value"}, buckets=8,
        ),
    )
    state = upsert_state_partitioned(spark, state_dir)
    return state.select(
        "user_id",
        F.round("sum_value", 2).alias("sum_value"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


# ------------------------------------------ NB classifier gate at ingest
def _nb_gate_sql() -> str:
    from .scale_queries import _nb_sql

    return f"""WITH nb AS ({_nb_sql()})
       SELECT pred, actual, CAST(count(*) AS BIGINT) AS n
       FROM nb GROUP BY pred, actual"""


@_q("stream_nb_gate", _nb_gate_sql())
def stream_nb_gate(spark, sf_dir):
    """Classifier gate at ingest (operators/classify + the
    epoch-guarded driver fold): the Naive Bayes model trains OFFLINE
    on the corpus — weight table and prior both frozen — and each
    micro-batch of arriving documents is scored with exact integer
    sums against the broadcast weights, folding a (pred, actual)
    confusion matrix into exact driver counters. The drained matrix
    hash-matches the batch scoring of the same documents: gating at
    the stream is the same function as gating the lake, which is the
    property that lets a pipeline move its quality filter upstream
    without re-auditing it."""
    from ..operators import classify
    from ..streaming.incremental import (
        epoch_already_applied,
        epoch_mark_applied,
    )

    docs = load(spark, sf_dir, "documents").withColumn(
        "_y", (F.col("lang") == "en").cast("int")
    )
    weights = classify.nb_train_weights(
        docs, "doc_id", "text", "_y"
    ).localCheckpoint()
    prior_fp = classify.nb_prior_fp(docs, "_y")
    src = _single_file_drops(
        spark, sf_dir, "documents", ["doc_id", "text", "lang"],
        [("0_even.parquet", F.col("doc_id") % 2 == 0),
         ("1_odd.parquet", F.col("doc_id") % 2 == 1)],
        "nb_gate_src_",
    )
    stream = _drops_stream(spark, src, "doc_id long, text string, lang string")
    state: dict = {"counts": {}, "seen": set()}

    def fold(bdf, epoch_id):
        if epoch_already_applied(state, epoch_id):
            return
        scored = classify.nb_score(
            bdf.withColumn("_y", (F.col("lang") == "en").cast("int")),
            weights, "doc_id", "text", "_y", prior_fp=prior_fp,
        )
        for r in scored.groupBy("pred", "actual").agg(
            F.count(F.lit(1)).alias("n")
        ).collect():
            key = (int(r["pred"]), int(r["actual"]))
            state["counts"][key] = state["counts"].get(key, 0) + int(r["n"])
        epoch_mark_applied(state, epoch_id)

    drain_available_now(spark, stream.writeStream.foreachBatch(fold))
    return tiny_df(
        spark,
        [(p, a, n) for (p, a), n in sorted(state["counts"].items())],
        "pred long, actual long, n long",
    )


# ------------------------------------------ incremental NB model training
def _nb_weights_sql() -> str:
    """The weight-table arm of scale_queries._nb_sql — batch training
    over ALL documents, the oracle the incrementally-trained model
    must equal."""
    return r"""WITH lab AS (
         SELECT doc_id, text,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         FROM documents),
       tok AS (SELECT doc_id, y,
                      unnest(list_filter(string_split_regex(text, '\s+'),
                                         x -> x <> '')) AS term
               FROM lab),
       cnt AS (SELECT term, sum(y) AS c1, sum(1 - y) AS c0
               FROM tok GROUP BY term),
       tot AS (SELECT sum(y) AS t1, sum(1 - y) AS t0,
                      count(DISTINCT term) AS v
               FROM tok)
       SELECT term,
              CAST(floor(
                ln(CAST((c1 + 1) * (t0 + v) AS DOUBLE)
                   / CAST((c0 + 1) * (t1 + v) AS DOUBLE))
                * CAST(1000000 AS DOUBLE) + CAST('0.5' AS DOUBLE))
                AS BIGINT) AS w_fp
       FROM cnt, tot"""


@_q("stream_nb_train", _nb_weights_sql())
def stream_nb_train(spark, sf_dir):
    """Incrementally-TRAINED Naive Bayes
    (streaming/classify_stream.foreach_batch_nb_train — the shared
    journal protocol's fifth layout, and the first whose compaction
    SUM-merges instead of concatenating): labeled documents arrive as
    two disjoint micro-batches, each appending only its per-term
    count deltas; ``compact_every=2`` folds both delta partitions
    into one summed generation inside the drain. The weights served
    from the compacted store must be bit-identical to one-shot batch
    training over all documents — associative integer statistics are
    WHY a classifier can train continuously without rescanning its
    corpus, and this query is that claim under the hash gate."""
    from ..streaming.classify_stream import (
        foreach_batch_nb_train,
        serve_nb_weights,
    )

    src = _single_file_drops(
        spark, sf_dir, "documents", ["doc_id", "text", "lang"],
        [("0_even.parquet", F.col("doc_id") % 2 == 0),
         ("1_odd.parquet", F.col("doc_id") % 2 == 1)],
        "nb_train_src_",
    )
    index_dir = tempfile.mkdtemp(prefix="nb_model_")
    atexit.register(shutil.rmtree, index_dir, ignore_errors=True)
    stream = _drops_stream(
        spark, src, "doc_id long, text string, lang string"
    ).withColumn("_y", (F.col("lang") == "en").cast("int"))
    drain_available_now(
        spark,
        foreach_batch_nb_train(
            stream, index_dir, "doc_id", "text", "_y",
            compact_every=2,
        ),
    )
    return serve_nb_weights(spark, index_dir)


# ------------------------------------ growing EXACT prefix-postings index
def _ssjoin_stream_sql(tn: int = 1, td: int = 2) -> str:
    """Oracle for the streaming exact ss-join drain: because the
    operator is EXACT over ALL ingested pairs (committed-index AND
    co-arrival candidates, no false negatives at the threshold), the
    oracle needs no prefix machinery and no batch bookkeeping at all
    — brute-force distinct 3-shingle Jaccard over every document
    pair. Intersections count DISTINCT shingles, matching the
    hash-set arithmetic (60-bit MD5 collisions absent at this
    scale)."""
    return f"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents),
       sh AS (SELECT DISTINCT doc_id,
                     unnest(list_transform(
                       generate_series(1, len(w) - 2),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                         AS term
              FROM w WHERE len(w) >= 3),
       siz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       ov AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     count(*) AS inter
              FROM sh a JOIN sh b
                ON a.term = b.term AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
       j AS (SELECT ov.id_a, ov.id_b, ov.inter,
                    x.n + y.n - ov.inter AS uni
             FROM ov JOIN siz x ON x.doc_id = ov.id_a
                     JOIN siz y ON y.doc_id = ov.id_b)
       SELECT CAST(id_a AS BIGINT) AS id_a,
              CAST(id_b AS BIGINT) AS id_b,
              CAST(inter AS BIGINT) AS inter,
              CAST(uni AS BIGINT) AS uni,
              CAST(floor(1000000 * inter / uni) AS BIGINT) AS jacc_fp
       FROM j
       WHERE inter * {td} >= {tn} * uni"""


@_q("stream_ssjoin_maintain", _ssjoin_stream_sql())
def stream_ssjoin_maintain(spark, sf_dir):
    """Streaming EXACT near-dup detection with a growing
    prefix-postings index (streaming/ssjoin_stream) — the
    no-false-negative twin of stream_lsh_index_maintain: each
    micro-batch's arrivals are verified against everything indexed so
    far AND against their own co-arrivals (batch prefix self-join —
    no co-arriving-duplicate blind spot), then their postings append
    exactly once under the shared marker protocol; compact_every=2
    makes the drain exercise the journaled generation fold
    end-to-end. Even-id documents arrive as batch 0, odd-id as batch
    1, and the drained pairs are exactly the FULL exact Jaccard>=1/2
    pair set regardless of arrival batching — which is what the
    brute-force oracle checks, no prefix machinery needed (exactness
    makes the filter invisible in the result)."""
    from ..streaming.ssjoin_stream import foreach_batch_ssjoin_maintain

    src = _single_file_drops(
        spark, sf_dir, "documents", ["doc_id", "text"],
        [("0_even.parquet", F.col("doc_id") % 2 == 0),
         ("1_odd.parquet", F.col("doc_id") % 2 == 1)],
        "ssjoin_stream_src_",
    )
    index_dir = tempfile.mkdtemp(prefix="ssjoin_index_")
    atexit.register(shutil.rmtree, index_dir, ignore_errors=True)
    stream = _drops_stream(spark, src, "doc_id long, text string")
    drain_available_now(
        spark,
        foreach_batch_ssjoin_maintain(
            stream, index_dir, "doc_id", "text",
            k=3, t_num=1, t_den=2, compact_every=2,
        ),
    )
    return (
        spark.read.parquet(f"{index_dir}/pairs")
        .select("id_a", "id_b", "inter", "uni", "jacc_fp")
    )


def _stream_dq_sql() -> str:
    from .dq_queries import _LANDING_SQL

    return f"""WITH landing AS ({_LANDING_SQL}),
       m AS (SELECT
           CAST(floor(1000000 * count(custkey) / count(*)) AS BIGINT)
               AS completeness_custkey,
           CAST(floor(1000000 * count(CASE WHEN price BETWEEN 0
                    AND 600000 THEN 1 END) / count(price)) AS BIGINT)
               AS range_price,
           CAST(floor(1000000 * count(CASE WHEN status IN
                    ('F','O','P') THEN 1 END) / count(status))
               AS BIGINT) AS membership_status,
           CAST(floor(1000000 * count(CASE WHEN price >= 0 THEN 1
                    END) / count(price)) AS BIGINT) AS nonneg_price
           FROM landing)
       SELECT "constraint", metric_fp, metric_fp = 1000000 AS passed
       FROM (
           SELECT 'completeness_custkey' AS "constraint",
                  completeness_custkey AS metric_fp FROM m
           UNION ALL SELECT 'range_price', range_price FROM m
           UNION ALL SELECT 'membership_status', membership_status
               FROM m
           UNION ALL SELECT 'nonneg_price', nonneg_price FROM m
       )"""


@_q("stream_dq_gate", _stream_dq_sql())
def stream_dq_gate(spark, sf_dir):
    """Streaming data-quality gate
    (streaming/dq_stream.foreach_batch_dq_fold): the orders feed
    arrives as TWO micro-batches, the landing-zone dirt map is
    applied per batch, and the mergeable constraint suite
    (completeness / range / membership / non-negativity) folds into
    two exact integers per constraint. Integer folding is
    order-free, so the drained report hash-matches the one-shot
    batch suite over the full feed (the oracle) — data quality
    verified AS data lands, no nightly re-scan. Uniqueness is
    excluded by construction (countDistinct does not merge; KMV
    covers streaming cardinality)."""
    from ..streaming.dq_stream import (
        dq_state_report_rows,
        foreach_batch_dq_fold,
    )
    from .dq_queries import landing_map

    src = _single_file_drops(
        spark, sf_dir, "orders",
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"],
        [("0_even.parquet", F.col("o_orderkey") % 2 == 0),
         ("1_odd.parquet", F.col("o_orderkey") % 2 == 1)],
        "orders_dq_src_",
    )
    stream = _drops_stream(
        spark, src, "o_orderkey long, o_custkey long, "
        "o_orderstatus string, o_totalprice double",
    )

    checks = [
        ("completeness_custkey", "completeness", "custkey"),
        ("range_price", "range", "price", 0, 600000),
        ("membership_status", "membership", "status", ["F", "O", "P"]),
        ("nonneg_price", "non_negative", "price"),
    ]
    state: dict = {"seen": set()}
    drain_available_now(
        spark,
        foreach_batch_dq_fold(stream, checks, state,
                              transform=landing_map),
    )
    return tiny_df(
        spark,
        dq_state_report_rows(state),
        "constraint string, metric_fp long, passed boolean",
    )


def _stream_freshness_sql() -> str:
    from .dq_queries import ORACLES as _DQO

    return _DQO["dq_freshness"]


@_q("stream_freshness_monitor", _stream_freshness_sql())
def stream_freshness_monitor(spark, sf_dir):
    """Streaming feed-freshness monitor
    (streaming/dq_stream.foreach_batch_freshness_fold): events arrive
    as TWO micro-batches; each pays one per-slice (count, max-micros)
    aggregate folded into two driver integers per slice — sum and max
    both merge order-free, so the drained report hash-matches the
    batch dq_freshness over the full feed (the shared oracle). The
    monitor that notices a feed STOPPING as it stops, not at the
    nightly scan."""
    from ..streaming.dq_stream import (
        foreach_batch_freshness_fold,
        freshness_report_rows,
    )

    src = _single_file_drops(
        spark, sf_dir, "events", ["event_id", "ts", "event_type"],
        [("0_even.parquet", F.col("event_id") % 2 == 0),
         ("1_odd.parquet", F.col("event_id") % 2 == 1)],
        "events_fresh_src_",
    )
    stream = _drops_stream(
        spark, src, "event_id long, ts timestamp_ntz, event_type string"
    )
    state: dict = {"seen": set()}
    drain_available_now(
        spark,
        foreach_batch_freshness_fold(
            stream, "event_type", "ts", state
        ),
    )
    return tiny_df(
        spark,
        freshness_report_rows(state, max_lag_s=600),
        "event_type string, n long, lag_s long, stale boolean",
    )


def _stream_cusum_sql() -> str:
    from .window_queries import ORACLES as _WO

    return _WO["win_cusum_changepoint"]


@_q("stream_cusum_monitor", _stream_cusum_sql())
def stream_cusum_monitor(spark, sf_dir):
    """Online CUSUM changepoint monitor
    (streaming/dq_stream.foreach_batch_key_count_fold +
    operators/analytics.cusum_changepoint): events arrive as TWO
    micro-batches; per batch one per-day count aggregate folds into
    one driver integer per day (addition merges order-free,
    epoch-guarded), and the drain runs the exact integer CUSUM over
    the merged daily series — so the online chart hash-matches the
    batch win_cusum_changepoint over the full feed (the shared
    oracle). Sustained small drifts caught as data lands."""
    from ..operators import analytics as A
    from ..streaming.dq_stream import (
        foreach_batch_key_count_fold,
        key_count_rows,
    )

    src = _single_file_drops(
        spark, sf_dir, "events", ["event_id", "ts"],
        [("0_even.parquet", F.col("event_id") % 2 == 0),
         ("1_odd.parquet", F.col("event_id") % 2 == 1)],
        "events_cusum_src_",
    )
    stream = _drops_stream(spark, src, "event_id long, ts timestamp_ntz")
    state: dict = {"seen": set()}
    drain_available_now(
        spark,
        foreach_batch_key_count_fold(
            stream, F.dayofmonth("ts"), state
        ),
    )
    daily = tiny_df(spark, key_count_rows(state), "d int, x long")
    return A.cusum_changepoint(daily, "d", "x", baseline_w=7)


def _stream_psi_sql() -> str:
    from .dq_queries import _PSI_SQL

    return _PSI_SQL


@_q("stream_psi_drift", _stream_psi_sql())
def stream_psi_drift(spark, sf_dir):
    """Streaming PSI drift monitor
    (streaming/dq_stream.foreach_batch_psi_fold): the second half of
    the month arrives as TWO micro-batches whose bucket counts fold
    into n_buckets driver integers (exact, order-free, epoch-guarded);
    the drain delegates to the SAME psi_from_counts core as the batch
    report, so online == offline by construction — and the oracle IS
    the batch dq_psi_drift SQL. Distribution drift watched as data
    lands, no nightly re-bucket of the arrivals."""
    from ..streaming.dq_stream import (
        foreach_batch_psi_fold,
        psi_report_from_state,
    )

    src = _single_file_drops(
        spark, sf_dir, "events", ["ts", "value"],
        [("0_w3.parquet", (F.dayofmonth("ts") > 15)
          & (F.dayofmonth("ts") <= 22)),
         ("1_w4.parquet", F.dayofmonth("ts") > 22)],
        "events_psi_src_",
    )
    stream = _drops_stream(spark, src, "ts timestamp, value double")
    state: dict = {"seen": set()}
    drain_available_now(
        spark,
        foreach_batch_psi_fold(stream, "value", 0.0, 500.0,
                               10, state),
    )
    ref = load(spark, sf_dir, "events").filter(F.dayofmonth("ts") <= 15)
    return psi_report_from_state(
        spark, ref, "value", 0.0, 500.0, 10, state
    )


def _stream_ab_sql() -> str:
    from .scale_queries import _ARM_SQL

    fp = ("CAST(floor(({x}) * CAST(1000000 AS DOUBLE)"
          " + CAST('0.5' AS DOUBLE)) AS BIGINT)")
    return f"""WITH e AS (SELECT {_ARM_SQL} AS arm,
           CASE WHEN event_type = 'purchase'
                THEN CAST(round(value * 100, 0) AS BIGINT)
                ELSE 0 END AS cents
           FROM events),
       t AS (SELECT
           sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na,
           sum(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS ca,
           sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb,
           sum(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS cb
           FROM e)
       SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
              CAST(ca AS BIGINT) AS cents_a,
              CAST(cb AS BIGINT) AS cents_b,
              CASE WHEN na > 0 THEN CAST(floor(1000000 * ca / na)
                  AS BIGINT) END AS rev_per_event_a_fp,
              CASE WHEN nb > 0 THEN CAST(floor(1000000 * cb / nb)
                  AS BIGINT) END AS rev_per_event_b_fp,
              CASE WHEN na > 0 AND nb > 0 THEN
                  {fp.format(x=("CAST(cb AS DOUBLE) / nb"
                                " - CAST(ca AS DOUBLE) / na"))}
                  END AS lift_fp
       FROM t"""


@_q("stream_ab_monitor", _stream_ab_sql())
def stream_ab_monitor(spark, sf_dir):
    """Live experiment dashboard
    (streaming/dq_stream.foreach_batch_ab_fold): per-arm event
    counts and revenue cents folded per micro-batch — the metrics
    that MERGE (event-level, not per-user: 'ever converted' needs
    user-keyed state and stays a batch readout). Four exact driver
    integers, epoch-guarded; the drained card hash-matches the
    one-shot batch aggregate over the full feed."""
    from ..streaming.dq_stream import (
        ab_monitor_card,
        foreach_batch_ab_fold,
    )

    src = _single_file_drops(
        spark, sf_dir, "events", ["user_id", "event_type", "value"],
        [("0_even.parquet", F.col("user_id") % 2 == 0),
         ("1_odd.parquet", F.col("user_id") % 2 == 1)],
        "events_ab_src_",
    )
    stream = _drops_stream(
        spark, src, "user_id long, event_type string, value double"
    )
    cents = F.when(F.col("event_type") == "purchase",
                   F.round(F.col("value") * 100).cast("long")) \
        .otherwise(F.lit(0))
    state: dict = {"seen": set()}
    drain_available_now(
        spark, foreach_batch_ab_fold(stream, "user_id", cents, state)
    )
    return tiny_df(
        spark,
        ab_monitor_card(state),
        "n_a long, n_b long, cents_a long, cents_b long, "
        "rev_per_event_a_fp long, rev_per_event_b_fp long, "
        "lift_fp long",
    )


def _media_dedup_oracle() -> str:
    from .scale_queries import AHASH_HASHES_CTE

    return f"""WITH {AHASH_HASHES_CTE},
       named AS (SELECT doc_id, hi, lo,
                   CASE m WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
                          WHEN 2 THEN 'jpeg' ELSE 'webp' END AS fmt
                 FROM hashes)
       SELECT CAST(hi AS BIGINT) AS ahash_hi,
              CAST(lo AS BIGINT) AS ahash_lo,
              count(*) AS n_copies,
              CAST(min(doc_id) AS BIGINT) AS keep_id,
              min(fmt) AS first_format
       FROM named GROUP BY hi, lo"""


@_q("stream_media_dedup", _media_dedup_oracle())
def stream_media_dedup(spark, sf_dir):
    """Ingest-time perceptual media dedup — the streaming twin of
    mm_ahash_dedup, and the shape that matters at 100 TB: binary
    assets are decoded and content-hashed AS THEY ARRIVE (two
    micro-batches via maxFilesPerTrigger over a doubled source dir:
    every asset arrives twice, the second arrival a byte-identical
    re-delivery), with streaming state keyed by the 64-bit average
    hash of the DECODED pixels (multimodal.image_ahash over
    attach_ahash_media's four-codec corpus incl. the re-encoded
    clones). The complete-mode aggregate carries (n_copies, keep_id,
    first_format) per content hash; re-deliveries and cross-codec
    clones both land on their existing key instead of growing state.
    The ledger is PRODUCTION-SHAPED state, not a complete-mode memory
    drain: per trigger the batch collapses to one row per content
    hash and folds into a hash-bucketed on-disk ledger via the
    journaled per-bucket create-only upsert
    (incremental.foreach_batch_dedup_ledger_partitioned on the
    stream_upsert_partitioned commit machinery) — per-trigger cost
    O(batch + touched buckets) and bounded per-trigger output, where
    complete mode re-emits the entire distinct-asset ledger every
    trigger. Deterministic reductions only (count folds additively,
    keep_id/first_format fold by min — no first-arrival races), so
    the batch oracle replays the exact table halved: the doubled
    delivery doubles n_copies, which the final projection divides
    back out to prove exactly-two-deliveries accounting."""
    from ..operators import multimodal
    from ..streaming.incremental import (
        foreach_batch_dedup_ledger_partitioned,
        upsert_state_partitioned,
    )

    src_dir = _source_dir(
        sf_dir,
        {"docs_a.parquet": "documents.parquet",
         "docs_b.parquet": "documents.parquet"},
    )
    # one micro-batch per delivery at ANY source layout: single files
    # give 2 files total (1 per trigger), the sf1 directory replica
    # gives 2N part files (N per trigger)
    n_files = len(os.listdir(src_dir))
    stream = (
        spark.readStream.format("parquet")
        .schema(_DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max(1, n_files // 2))
        .load(src_dir)
        .select("doc_id")
    )
    hashed = multimodal.image_ahash(
        multimodal.attach_ahash_media(stream, "doc_id")
    ).select("ahash_hi", "ahash_lo", "doc_id", "format")
    state_dir = tempfile.mkdtemp(prefix="media_ledger_state_")
    atexit.register(shutil.rmtree, state_dir, ignore_errors=True)
    drain_available_now(
        spark,
        foreach_batch_dedup_ledger_partitioned(
            hashed, state_dir, buckets=8
        ),
    )
    ledger = upsert_state_partitioned(spark, state_dir)
    return ledger.select(
        "ahash_hi", "ahash_lo",
        (F.col("n_copies") / 2).cast("long").alias("n_copies"),
        "keep_id", "first_format",
    )


def _stream_semantic_sql(dim: int = 64, bands: int = 4,
                         threshold: float = 0.4) -> str:
    """DuckDB twin of the streaming semantic ingest gate: the batch
    banding SQL at the ADAPTIVE width (shared
    _banded_sigs_adaptive_ctes — same deterministic hyperplane
    constants as similarity.band_sig_structs_np, width resolves to the
    historical 8 at every verified gate scale) restricted to
    even-index vs odd-arrival candidate pairs, verified by the
    strict-left-fold cosine — the doubled delivery collapses in
    stream state, so the batch replay needs no halving."""
    from .scale_common import _banded_sigs_adaptive_ctes, _cos_sql

    cos = _cos_sql("va.embedding", "vb.embedding")
    return f"""WITH {_banded_sigs_adaptive_ctes(dim, bands)},
       cand AS (SELECT DISTINCT s.vec_id AS vec_id,
                       i.vec_id AS dominator
                FROM sigs i JOIN sigs s
                  ON i.band = s.band AND i.sig = s.sig
                 AND i.vec_id % 2 = 0 AND s.vec_id % 2 = 1)
       SELECT CAST(c.vec_id AS BIGINT) AS vec_id,
              CAST(c.dominator AS BIGINT) AS dominator,
              round({cos}, 6) AS cosine
       FROM cand c
       JOIN embeddings va ON va.vec_id = c.dominator
       JOIN embeddings vb ON vb.vec_id = c.vec_id
       WHERE round({cos}, 6) >= {threshold}"""


@_q("stream_semantic_dedup", _stream_semantic_sql())
def stream_semantic_dedup(spark, sf_dir):
    """Ingest-time SEMANTIC dedup (r12) — the embedding analog of
    stream_minhash_dedup, completing the one-gate-per-family pattern
    (text: MinHash bands; media: perceptual-hash ledger; embeddings:
    THIS): even vec_ids form the curated corpus whose banded
    hyperplane index is built batch-side with the SAME deterministic
    constants as dd_semantic_prune_lsh and frozen (localCheckpoint);
    odd vec_ids arrive on the file stream TWICE (doubled source, one
    file per trigger) so the second delivery exercises the replay
    path — every re-generated candidate is already in dropDuplicates
    state and the sink sees each verified (vec_id, dominator) pair
    exactly once. Signatures on the stream side are pure Column
    expressions; per-trigger work is O(batch x matched buckets),
    independent of corpus size. Band width is the adaptive
    corpus-sized choice (r14: adaptive_rows_per_band — 8 at every
    verified gate scale). Oracle: the batch banding SQL restricted
    to even-vs-odd pairs with exact cosine >= 0.4."""
    from ..operators import similarity

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    rpb = similarity.adaptive_rows_per_band(emb.count())
    static = emb.filter(F.col("vec_id") % 2 == 0)
    index_bands, index_vecs = similarity.build_semantic_lsh_index(
        static, "vec_id", "embedding", dim=64, bands=4,
        rows_per_band=rpb,
    )
    index_bands = index_bands.localCheckpoint()
    index_vecs = index_vecs.localCheckpoint()
    src_dir = _source_dir(
        sf_dir,
        {"emb_a.parquet": "embeddings.parquet",
         "emb_b.parquet": "embeddings.parquet"},
    )
    stream = (
        _drops_stream(spark, src_dir, "vec_id long, embedding array<double>")
        .filter(F.col("vec_id") % 2 == 1)
    )
    out = similarity.stream_semantic_dedup_pairs(
        stream, index_bands, index_vecs, "vec_id", "embedding",
        dim=64, bands=4, rows_per_band=rpb, threshold=0.4,
    )
    drained = _drain(spark, out, "append", "st_semantic_dedup")
    return drained.select(
        F.col("vec_id").cast("long"),
        F.col("dominator").cast("long"),
        "cosine",
    )


def _stream_semantic_maintain_sql(dim: int = 64, bands: int = 4,
                                  threshold: float = 0.4) -> str:
    """DuckDB twin of the GROWING semantic index drain at the
    ADAPTIVE band width (shared _banded_sigs_adaptive_ctes): every
    ingested pair sharing a band signature is checked exactly once
    (intra-batch or against-the-committed-index), so the drained pair
    set equals the one-shot batch banding over the full corpus —
    distinct (id_a < id_b) band collisions verified by the
    strict-left-fold exact cosine. No batch bookkeeping needed."""
    from .scale_common import _banded_sigs_adaptive_ctes, _cos_sql

    cos = _cos_sql("va.embedding", "vb.embedding")
    return f"""WITH {_banded_sigs_adaptive_ctes(dim, bands)},
       cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                FROM sigs a JOIN sigs b
                  ON a.band = b.band AND a.sig = b.sig
                 AND a.vec_id < b.vec_id)
       SELECT CAST(c.id_a AS BIGINT) AS id_a,
              CAST(c.id_b AS BIGINT) AS id_b,
              round({cos}, 6) AS cosine
       FROM cand c
       JOIN embeddings va ON va.vec_id = c.id_a
       JOIN embeddings vb ON vb.vec_id = c.id_b
       WHERE round({cos}, 6) >= {threshold}"""


@_q("stream_semantic_index_maintain", _stream_semantic_maintain_sql())
def stream_semantic_index_maintain(spark, sf_dir):
    """GROWING-index streaming semantic dedup (r13, VERDICT r12 #6 —
    streaming/semantic_stream): the production twin of
    stream_semantic_dedup, completing the journaled incremental-index
    family for embeddings the way minhash/BM25/ssjoin/IVF-PQ already
    have. Even vec_ids arrive as batch 0, odd as batch 1; each
    batch's arrivals band with the SAME hyperplanes as the batch
    prune, verify by exact cosine against everything indexed so far
    AND their own co-arrivals (the frozen gate's blind spot), then
    their band postings append exactly once under the shared marker
    protocol; compact_every=2 exercises the journaled generation
    fold end-to-end. No per-pair operator state — dedup is the
    on-disk ledger, which is the ADVICE-r12 answer to the frozen
    gate's unbounded dropDuplicates. Because every ingested pair
    sharing a band is checked exactly once, the drained pairs equal
    the one-shot batch banding over the full corpus — the oracle.
    Band width is chosen at INDEX CREATION from the corpus size
    (r14: adaptive_rows_per_band; 8 at every verified gate scale) —
    the deployment contract every stored-signature index carries:
    when the corpus outgrows the width, rebuild wider through the
    retrain/swap lifecycle (ann_index_rebuild_swap), exactly like
    the IVF-PQ quantizer refresh."""
    from ..operators.similarity import adaptive_rows_per_band
    from ..streaming.semantic_stream import (
        foreach_batch_semantic_maintain,
    )

    rpb = adaptive_rows_per_band(
        load(spark, sf_dir, "embeddings").count()
    )
    src = _single_file_drops(
        spark, sf_dir, "embeddings", ["vec_id", "embedding"],
        [("0_even.parquet", F.col("vec_id") % 2 == 0),
         ("1_odd.parquet", F.col("vec_id") % 2 == 1)],
        "semantic_stream_src_",
    )
    index_dir = tempfile.mkdtemp(prefix="semantic_index_")
    atexit.register(shutil.rmtree, index_dir, ignore_errors=True)
    stream = _drops_stream(spark, src, "vec_id long, embedding array<double>")
    drain_available_now(
        spark,
        foreach_batch_semantic_maintain(
            stream, index_dir, "vec_id", "embedding",
            dim=64, bands=4, rows_per_band=rpb, threshold=0.4,
            compact_every=2,
        ),
    )
    return (
        spark.read.parquet(f"{index_dir}/pairs")
        .select("id_a", "id_b", "cosine")
    )


# --------------------------------- incremental GD logistic regression
_LOGREG_BATCH_PREDS = (
    "(l_orderkey % 3) = 0",
    "(l_orderkey % 3) = 1",
    "(l_orderkey % 3) = 2",
)


def _logreg_stream_sql() -> str:
    """Oracle for the streaming mini-batch SGD drain: the trajectory
    is ORDER-DEPENDENT (each step is evaluated at the previous
    step's weights), so the SQL replays the batch sequence exactly —
    one (source, count, gradient, update) CTE quartet per arrival in
    mtime order, sharing the margin/residual/gradient generators
    with the Spark plan (operators/linearmodel). Batch predicates
    are guaranteed non-empty at every sf, so no round degenerates."""
    from ..operators import linearmodel as lm
    from .scale_common import (
        LOGREG_FEATURES,
        LOGREG_LABEL,
        LOGREG_LR,
        LOGREG_STATS,
        LOGREG_WHERE,
    )

    names = [n for n, _ in LOGREG_FEATURES]
    nd = len(names)
    lr_num, lr_den = LOGREG_LR
    fsel = ", ".join(f"{sql} AS {n}" for n, sql in LOGREG_FEATURES)
    ctes = [
        "sw0 AS (SELECT " + ", ".join(
            f"CAST(0 AS BIGINT) AS w{j}" for j in range(nd)
        ) + ")",
    ]
    for i, pred in enumerate(_LOGREG_BATCH_PREDS, start=1):
        ctes.append(
            f"ssf{i} AS MATERIALIZED (SELECT {fsel}, {LOGREG_LABEL} "
            f"AS y FROM lineitem WHERE ({pred}) AND {LOGREG_WHERE})"
        )
        ctes.append(f"ssn{i} AS (SELECT count(*) AS n FROM ssf{i})")
        ws = [f"c.w{j}" for j in range(nd)]
        grads = lm.grad_exprs(ws, names, "y", as_literal=False)
        gsel = ", ".join(f"{g} AS g{j}" for j, g in enumerate(grads))
        ctes.append(
            f"ssg{i} AS (SELECT {gsel} FROM ssf{i}, sw{i - 1} c)"
        )
        upd = ", ".join(
            f"c.w{j} - CAST(floor(({lr_num!r} * CAST(g.g{j} AS DOUBLE))"
            f" / ({lr_den!r} * CAST(n.n AS DOUBLE))) AS BIGINT) AS w{j}"
            for j in range(nd)
        )
        ctes.append(
            f"sw{i} AS (SELECT {upd} FROM sw{i - 1} c, ssg{i} g, "
            f"ssn{i} n)"
        )
    last = len(_LOGREG_BATCH_PREDS)
    nseen = " + ".join(f"n{i}.n" for i in range(1, last + 1))
    nfrom = ", ".join(f"ssn{i} n{i}" for i in range(1, last + 1))
    stats = "\n UNION ALL ".join(
        f"SELECT '{s}' AS stat, CAST(c.w{j} AS BIGINT) AS value "
        f"FROM sw{last} c"
        for j, s in enumerate(LOGREG_STATS)
    )
    joined = ",\n".join(ctes)
    return (
        f"WITH {joined}\n{stats}\n"
        f" UNION ALL SELECT 'n_batches', CAST({last} AS BIGINT)\n"
        f" UNION ALL SELECT 'n_seen', CAST({nseen} AS BIGINT) "
        f"FROM {nfrom}"
    )


@_q("stream_logreg_train", _logreg_stream_sql())
def stream_logreg_train(spark, sf_dir):
    """Incrementally-TRAINED logistic regression
    (streaming/linear_stream.foreach_batch_logreg_train — the commit
    protocol's latest-state layout): labeled lineitem rows arrive as
    three disjoint micro-batches; each takes ONE exact GD step from
    the latest committed weights and journals the new state exactly
    once; ``compact_every=2`` folds the state partitions into one
    newest-seq generation mid-drain. Because an SGD trajectory is
    order-dependent, the oracle replays the batch SEQUENCE — three
    unrolled (gradient, update) rounds over the same deterministic
    splits — so the served weights are hash-verified as exact
    mini-batch SGD, not an associative approximation. The per-batch
    work is one aggregate over the arrivals (d BIGINT micro-gradient
    sums) + a d-row state write: O(batch) compute, O(d) state, no
    corpus rescan at any scale."""
    from ..streaming.linear_stream import (
        foreach_batch_logreg_train,
        serve_logreg_weights,
    )
    from .scale_common import (
        LOGREG_FEATURES,
        LOGREG_LABEL,
        LOGREG_LR,
        LOGREG_STATS,
        LOGREG_WHERE,
    )

    names = [n for n, _ in LOGREG_FEATURES]
    src = _single_file_drops(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_quantity", "l_discount", "l_returnflag"],
        [(f"{i}_mod3.parquet", F.expr(pred))
         for i, pred in enumerate(_LOGREG_BATCH_PREDS)],
        "logreg_train_src_",
    )
    index_dir = tempfile.mkdtemp(prefix="logreg_model_")
    atexit.register(shutil.rmtree, index_dir, ignore_errors=True)
    stream = (
        _drops_stream(spark, src, "l_orderkey long, l_quantity double, "
                      "l_discount double, l_returnflag string")
        .filter(LOGREG_WHERE)
        .selectExpr(
            *(f"{sql} AS {n}" for n, sql in LOGREG_FEATURES),
            f"{LOGREG_LABEL} AS y",
        )
    )
    drain_available_now(
        spark,
        foreach_batch_logreg_train(
            stream, index_dir, names, "y",
            lr_num=LOGREG_LR[0], lr_den=LOGREG_LR[1],
            compact_every=2,
        ),
    )
    return serve_logreg_weights(spark, index_dir, list(LOGREG_STATS))
