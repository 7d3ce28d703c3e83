"""Streaming SEMANTIC (embedding) dedup with a growing banded index.

``similarity.stream_semantic_dedup_pairs`` is the frozen-index ingest
gate: arrivals band against a batch-built index that never grows, and
re-delivered candidates collapse in unbounded ``dropDuplicates``
state (the ADVICE r12 caveat). This module is its production
growing-index twin — the embedding member of the journaled
incremental-index family (minhash_stream: text LSH; ssjoin_stream:
exact sets; lexical_stream: BM25; ann_maintain: IVF-PQ):

- arrivals band with the SAME deterministic hyperplanes as the batch
  prune through ``similarity.band_sig_structs_np`` — the one
  hyperplane-signature kernel, a pandas UDF that signs each Arrow
  batch with NumPy in the left-fold order the DuckDB oracles replay,
  no shuffle to sign;
- candidates come from the arrivals' band signatures joined against
  (a) the COMMITTED band postings (everything indexed so far) and
  (b) their own micro-batch's co-arrivals (batch self-join with
  strict id order — co-arriving near-dups are the crawl-burst common
  case the frozen gate misses);
- every candidate verifies by EXACT cosine against the vector table
  before emitting ``(id_a, id_b, cosine)`` with ``id_a < id_b``;
- the arrivals' band postings and vectors append exactly once under
  the shared marker protocol (``fsio`` + ``batched_index``): every
  artifact of batch b is a ``<table>/batch=<b>`` overwrite
  directory, the ``_batch_<b>`` marker commits them all, clean
  replays short-circuit, and a pre-marker crash recomputes an
  identical pair set that overwrites itself — NO per-pair operator
  state anywhere, so a continuous deployment's state is the on-disk
  index, not a growing dropDuplicates map;
- ``compact_every`` folds committed batches into one generation
  partition clustered on (band, sig) through the shared journaled
  rename-free cutover, so the per-trigger candidate join reads stay
  local and the file count stays bounded.

At 100 TB: per trigger the shuffle is O(batch × matched buckets) —
the corpus enters only through the (band, sig)-clustered postings
join and the bounded candidate verification, exactly the
stream-static gate's cost shape but with the index growing in place.

Because every ingested pair that shares a band signature is checked
exactly once (intra-batch OR against-the-index, never both), the
drained pair set equals the one-shot batch banding over the full
corpus — which is what the DuckDB oracle replays, no batch
bookkeeping needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.similarity import _dot, _norm, band_sig_structs_np
from .batched_index import (
    committed_table_dirs,
    compact_batched_index,
    index_sink,
    spread_batch,
)

_LAYOUT = {"bands": ["band", "sig"], "vecs": None}


def _semantic_maintain_batch_fn(index_dir: str, id_col: str,
                                vec_col: str, dim: int,
                                bands: int = 4, rows_per_band: int = 8,
                                threshold: float = 0.4,
                                round_digits: int = 6,
                                compact_every: int | None = None):
    """The per-batch maintenance body, exposed for redelivery tests:
    ``batched_index.index_sink`` over the bands/vecs layout."""

    def write_batch(bdf: DataFrame, fs, batch_id: int,
                    committed: set[str]) -> None:
        spark = bdf.sparkSession
        arr = spread_batch(bdf).select(
            F.col(id_col), F.col(vec_col)
        ).localCheckpoint()
        bands_new = arr.select(
            F.col(id_col).alias("_idx_id"),
            F.explode(
                band_sig_structs_np(vec_col, dim, bands, rows_per_band)
            ).alias("_bs"),
        ).select("_idx_id", F.col("_bs.band").alias("band"),
                 F.col("_bs.sig").alias("sig")).localCheckpoint()
        vecs_new = arr.select(
            F.col(id_col).alias("_idx_id"),
            F.col(vec_col).alias("_idx_vec"),
            _norm(F.col(vec_col)).alias("_idx_norm"),
        )
        # intra-batch candidates: strict id order keeps each unordered
        # co-arriving pair once and drops self-pairs
        right = bands_new.select(
            F.col("_idx_id").alias("_r_id"), "band", "sig"
        )
        cand = (
            bands_new.join(right, ["band", "sig"])
            .filter(F.col("_idx_id") < F.col("_r_id"))
            .select(F.col("_idx_id").alias("_new_id"),
                    F.col("_r_id").alias("_idx_id"))
        )
        idx_vecs = vecs_new
        if committed:
            committed_b = committed_table_dirs(fs, "bands", committed)
            committed_v = committed_table_dirs(fs, "vecs", committed)
            idx_b = spark.read.parquet(*committed_b)
            cand = cand.unionByName(
                bands_new.select(
                    F.col("_idx_id").alias("_new_id"), "band", "sig"
                ).join(idx_b, ["band", "sig"])
                .filter(F.col("_new_id") != F.col("_idx_id"))
                .select("_new_id", "_idx_id")
            )
            idx_vecs = spark.read.parquet(*committed_v).unionByName(
                vecs_new
            )
        cand = cand.distinct()
        new_vecs = vecs_new.select(
            F.col("_idx_id").alias("_new_id"),
            F.col("_idx_vec").alias("_new_vec"),
            F.col("_idx_norm").alias("_new_norm"),
        )
        cos = F.round(
            _dot(F.col("_new_vec"), F.col("_idx_vec"))
            / (F.col("_new_norm") * F.col("_idx_norm")),
            round_digits,
        )
        pairs = (
            cand.join(new_vecs, "_new_id")
            .join(idx_vecs, "_idx_id")
            .withColumn("cosine", cos)
            .filter(F.col("cosine") >= threshold)
            .select(
                F.least("_new_id", "_idx_id").cast("long")
                .alias("id_a"),
                F.greatest("_new_id", "_idx_id").cast("long")
                .alias("id_b"),
                "cosine",
            )
        )
        pairs.write.mode("overwrite").parquet(
            fs.uri(f"pairs/batch={batch_id}")
        )
        bands_new.write.mode("overwrite").parquet(
            fs.uri(f"bands/batch={batch_id}")
        )
        vecs_new.write.mode("overwrite").parquet(
            fs.uri(f"vecs/batch={batch_id}")
        )

    return index_sink(index_dir, _LAYOUT, write_batch, compact_every)


def compact_semantic_index(spark, index_dir: str, buckets: int = 1,
                           marker_horizon: int = 1000) -> dict:
    """Fold committed bands/vecs batches into one generation
    partition, band postings clustered on (band, sig) — the shared
    journaled rename-free cutover, so the per-trigger candidate join
    never degrades into a small-files listing."""
    return compact_batched_index(
        spark, index_dir, _LAYOUT,
        buckets=buckets, marker_horizon=marker_horizon,
    )


def foreach_batch_semantic_maintain(stream: DataFrame, index_dir: str,
                                    id_col: str, vec_col: str,
                                    dim: int, bands: int = 4,
                                    rows_per_band: int = 8,
                                    threshold: float = 0.4,
                                    round_digits: int = 6,
                                    compact_every: int | None = None
                                    ) -> "object":
    """Growing-index streaming SEMANTIC dedup (module docstring):
    per micro-batch, arrivals band, verify by exact cosine against
    the committed index AND their co-arrivals, emit
    ``pairs/batch=<b>``, and append their own band postings exactly
    once. Returns the DataStreamWriter (caller starts it with its
    checkpoint)."""
    sink = _semantic_maintain_batch_fn(
        index_dir, id_col, vec_col, dim, bands, rows_per_band,
        threshold, round_digits, compact_every,
    )
    return stream.writeStream.foreachBatch(sink)
