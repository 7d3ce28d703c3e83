"""Streaming EXACT set-similarity dedup with a growing
prefix-postings index.

The streaming LSH family (``minhash_stream``) admits false negatives
by construction; this module is its exact counterpart, the streaming
twin of ``operators/ssjoin.prefix_filter_pairs``: every arriving
document is checked against everything indexed so far AND against
its own micro-batch's co-arrivals (a self-join of the batch's prefix
postings — co-arriving duplicates are the common case for
crawl/replay bursts), so the emitted pair set carries a
NO-FALSE-NEGATIVE guarantee at the Jaccard threshold over ALL
ingested pairs; then the arrivals' prefix postings join the index
exactly once.

The one semantic adaptation for incremental ingest: the batch
operator orders tokens by global document frequency (best pruning),
but df churns as documents arrive — so the streaming index orders by
the 60-bit shingle HASH instead. The prefix-filter theorem holds for
ANY fixed total order on the universe (Bayardo et al. WWW'07 §3 —
frequency ordering is purely a pruning heuristic), so hash order
keeps the index append-only and the result exact, trading some
candidate pruning for order stability under ingestion.

Spark-first shape (mirrors the LSH maintenance sink):

- shingle-hash set, size, and prefix slice are PURE column
  expressions (``sort_array`` + ``slice`` on the in-row array — the
  per-doc ORDER needs no window because the set is one row);
- candidate generation is a stream-static equi-join of the arrival
  batch's prefix hashes against the committed postings, with the
  exact-integer size filter ``min*den >= num*max`` pruning before
  verification;
- verification is ``array_intersect`` over the two sorted hash sets
  (the sets table carries each doc's full set in-row), exact integer
  Jaccard in 1e-6 fixed point — over the distinct-shingle-HASH sets,
  the same convention the LSH verify path uses;
- exactly-once maintenance, committed-batch reads, tombstoned
  journaled compaction, and auto-compaction all come from the shared
  protocol (``fsio`` + ``batched_index``) — markers after artifacts,
  per-batch overwrite directories, rename-free cutover; the index
  root may be file:/hdfs:/s3a:.

At 100 TB: per trigger the shuffle is O(new_prefix_postings) joined
against the hash-clustered committed postings; the corpus enters only
through that join and the bounded candidate verification. Compaction
keeps the committed file count constant, clustered on the posting
hash so the per-trigger join reads stay local.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .batched_index import (
    committed_table_dirs,
    compact_batched_index,
    index_sink,
    spread_batch,
)
from .minhash_stream import shingle_hash_array

_LAYOUT = {"postings": ["h"], "sets": None}


def signed_sets(df: DataFrame, id_col: str, text_col: str, k: int,
                t_num: int, t_den: int) -> DataFrame:
    """Per document: the sorted distinct shingle-hash set ``_sh``,
    its size ``_n``, and the hash-order prefix ``_pref`` of length
    ``n - ceil(t*n) + 1`` (exact-integer ceil) — all column
    expressions, no aggregation, so a stream signs statelessly."""
    sh = F.sort_array(shingle_hash_array(F.col(text_col), k))
    out = (
        df.select(F.col(id_col), sh.alias("_sh"))
        .withColumn("_n", F.size("_sh"))
        .filter(F.col("_n") >= 1)
    )
    plen = (
        F.col("_n")
        - F.floor(
            (F.lit(t_num) * F.col("_n") + F.lit(t_den - 1))
            / F.lit(t_den)
        )
        + F.lit(1)
    ).cast("int")
    return out.withColumn(
        "_pref", F.slice(F.col("_sh"), F.lit(1), plen)
    )


def _ssjoin_maintain_batch_fn(index_dir: str, id_col: str,
                              text_col: str, k: int, t_num: int,
                              t_den: int,
                              compact_every: int | None = None):
    """The per-batch maintenance body, exposed for redelivery tests —
    ``batched_index.index_sink`` over the prefix-postings layout:
    every artifact of batch b is a ``<table>/batch=<b>`` overwrite
    directory, the ``_batch_<b>`` marker commits them all, clean
    replays short-circuit, and the index view is committed batches
    only (a redelivered batch never sees its own half-written
    directories, so recomputed pairs are identical and overwrite
    themselves)."""

    def write_batch(bdf: DataFrame, fs, batch_id: int,
                    committed: set[str]) -> None:
        spark = bdf.sparkSession
        signed = signed_sets(
            spread_batch(bdf), id_col, text_col, k, t_num, t_den
        ).localCheckpoint()
        post_new = signed.select(
            F.col(id_col).alias("_idx_id"),
            F.col("_n").alias("_idx_n"),
            F.explode("_pref").alias("h"),
        )
        sets_new = signed.select(
            F.col(id_col).alias("_idx_id"),
            F.col("_sh").alias("_idx_sh"),
            F.col("_n").alias("_idx_n"),
        )
        committed_p = committed_table_dirs(fs, "postings", committed)
        committed_s = committed_table_dirs(fs, "sets", committed)
        probe = post_new.select(
            F.col("_idx_id").alias("_new_id"),
            F.col("_idx_n").alias("_new_n"),
            "h",
        )
        # Intra-batch candidates: the arrivals' prefix postings
        # self-joined (strict id order keeps each unordered pair
        # once and drops self-pairs). Prefix-vs-prefix is still
        # no-false-negative (Bayardo et al. WWW'07 §3 — two sets at
        # the threshold must collide inside BOTH prefixes), and the
        # join is O(batch postings)² per hash — batch-sized, the
        # price of not silently missing co-arriving duplicates
        # (crawl/replay bursts are exactly that case).
        right = post_new.select(
            F.col("_idx_id").alias("_r_id"),
            F.col("_idx_n").alias("_r_n"),
            F.col("h").alias("_r_h"),
        )
        cand = (
            probe.join(right, F.col("h") == F.col("_r_h"))
            .filter(F.col("_new_id") < F.col("_r_id"))
            .select(
                "_new_id", "_new_n", "h",
                F.col("_r_id").alias("_idx_id"),
                F.col("_r_n").alias("_idx_n"),
            )
        )
        idx_sets = sets_new.select("_idx_id", "_idx_sh")
        if committed_p:
            idx_p = spark.read.parquet(*committed_p)
            idx_s = spark.read.parquet(*committed_s)
            cand = cand.unionByName(probe.join(idx_p, "h"))
            idx_sets = idx_s.select("_idx_id", "_idx_sh").unionByName(
                sets_new.select("_idx_id", "_idx_sh")
            )
        cand = (
            cand.filter(
                F.least("_new_n", "_idx_n") * F.lit(t_den)
                >= F.lit(t_num) * F.greatest("_new_n", "_idx_n")
            )
            .select("_new_id", "_idx_id", "_new_n", "_idx_n")
            .distinct()
        )
        inter = F.size(F.array_intersect("_new_sh", "_idx_sh"))
        uni = F.col("_new_n") + F.col("_idx_n") - F.col("inter")
        pairs = (
            cand.join(
                signed.select(
                    F.col(id_col).alias("_new_id"),
                    F.col("_sh").alias("_new_sh"),
                ),
                "_new_id",
            )
            .join(
                idx_sets,
                "_idx_id",
            )
            .withColumn("inter", inter)
            .filter(
                F.col("inter") * F.lit(t_den) >= F.lit(t_num) * uni
            )
            .select(
                F.least("_new_id", "_idx_id").cast("long")
                .alias("id_a"),
                F.greatest("_new_id", "_idx_id").cast("long")
                .alias("id_b"),
                F.col("inter").cast("long").alias("inter"),
                uni.cast("long").alias("uni"),
                F.floor(F.lit(1_000_000) * F.col("inter") / uni)
                .cast("long").alias("jacc_fp"),
            )
        )
        pairs.write.mode("overwrite").parquet(
            fs.uri(f"pairs/batch={batch_id}")
        )
        post_new.write.mode("overwrite").parquet(
            fs.uri(f"postings/batch={batch_id}")
        )
        sets_new.write.mode("overwrite").parquet(
            fs.uri(f"sets/batch={batch_id}")
        )

    return index_sink(index_dir, _LAYOUT, write_batch, compact_every)


def compact_ssjoin_index(spark, index_dir: str, buckets: int = 1,
                         marker_horizon: int = 1000) -> dict:
    """Fold committed postings/sets batches into one generation
    partition, postings hash-clustered on the join hash ``h`` — the
    shared journaled rename-free cutover (``batched_index``), so a
    long-running stream's per-trigger join never degrades into a
    small-files listing. Returns {'files_before', 'files_after',
    'rows'} over the postings table."""
    return compact_batched_index(
        spark, index_dir, _LAYOUT,
        buckets=buckets, marker_horizon=marker_horizon,
    )


def foreach_batch_ssjoin_maintain(stream: DataFrame, index_dir: str,
                                  id_col: str, text_col: str,
                                  k: int = 3, t_num: int = 1,
                                  t_den: int = 2,
                                  compact_every: int | None = None
                                  ) -> "object":
    """Growing-index streaming EXACT dedup: per micro-batch, (1)
    arrivals are verified against every document indexed so far AND
    against each other (batch prefix-postings self-join) —
    prefix-postings candidates, size filter, exact
    ``array_intersect`` Jaccard, no false negative possible at the
    threshold — and the pairs land in ``pairs/batch=<b>``; (2) the
    arrivals' own prefix postings and sets append exactly once under
    the shared marker protocol; (3) with ``compact_every`` set the
    sink self-compacts, bounding the committed file count. Returns
    the DataStreamWriter (caller starts it with its checkpoint)."""
    sink = _ssjoin_maintain_batch_fn(
        index_dir, id_col, text_col, k, t_num, t_den, compact_every
    )
    return stream.writeStream.foreachBatch(sink)
