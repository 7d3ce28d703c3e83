"""Incremental Naive Bayes TRAINING on a labeled document stream —
the shared commit protocol's fifth layout, and the first whose
compaction is a SUM-merge rather than a concatenation.

The model's sufficient statistics are per-term integer count pairs
(c1, c0): they are associative and commutative, so

- each micro-batch appends only its own count DELTAS
  (``counts/batch=<id>``: (term, c1, c0) — O(arrivals) per trigger,
  the corpus is never rescanned);
- serving derives the weights from the SUM of committed deltas —
  totals (t1, t0) and the vocabulary size fall out of the same
  aggregate, so the served weight table is bit-identical to batch
  training over the union of arrivals;
- compaction folds committed delta partitions into one summed
  generation — same journaled rename-free tombstone-graced protocol,
  but the generation holds ``SUM(deltas)``, not their concatenation,
  and serving is invariant because integer addition is associative.

This closes the classifier lifecycle the way the ANN family closed
retrieval's: train incrementally (here), gate at ingest
(``stream_nb_gate``), serve batch (``txt_nb_classifier``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.classify import _llr_fp
from ..operators.textstats import tokens
from ..plans.session import tiny_df
from .batched_index import (
    committed_table_dirs,
    compact_batched_index,
    index_sink,
)
from .fsio import IndexFS

__all__ = [
    "foreach_batch_nb_train",
    "serve_nb_weights",
    "compact_nb_counts",
]


def _sum_counts(df: DataFrame, b: int) -> DataFrame:
    """The SUM-merge compaction spec: one row per term holding the
    summed deltas."""
    return (
        df.groupBy("term")
        .agg(
            F.sum("c1").cast("long").alias("c1"),
            F.sum("c0").cast("long").alias("c0"),
        )
        .repartition(b)
    )


_LAYOUT = {"counts": _sum_counts}


def _batch_deltas(bdf: DataFrame, id_col: str, text_col: str,
                  label_col: str) -> DataFrame:
    """One micro-batch's sufficient-statistic deltas: per-term
    (c1, c0) token counts by class."""
    toks = tokens(bdf, id_col, text_col).join(
        bdf.select(F.col(id_col), F.col(label_col).alias("_y")), id_col
    )
    return toks.groupBy("term").agg(
        F.sum(F.col("_y")).cast("long").alias("c1"),
        F.sum(F.lit(1) - F.col("_y")).cast("long").alias("c0"),
    )


def _nb_train_batch_fn(index_dir: str, id_col: str, text_col: str,
                       label_col: str,
                       compact_every: int | None = None):
    """Per-batch training body, exposed for redelivery tests."""

    def write_batch(bdf: DataFrame, fs, batch_id: int,
                    committed: set[str]) -> None:
        deltas = _batch_deltas(bdf, id_col, text_col, label_col)
        deltas.write.mode("overwrite").parquet(
            fs.uri(f"counts/batch={batch_id}")
        )

    return index_sink(index_dir, _LAYOUT, write_batch, compact_every)


def foreach_batch_nb_train(stream: DataFrame, index_dir: str,
                           id_col: str, text_col: str, label_col: str,
                           compact_every: int | None = None) -> "object":
    """Train the NB model incrementally: each labeled micro-batch
    appends its per-term count deltas exactly once; the served
    weights always reflect every committed arrival, with no corpus
    rescan and no model rebuild."""
    sink = _nb_train_batch_fn(index_dir, id_col, text_col, label_col,
                              compact_every=compact_every)
    return stream.writeStream.foreachBatch(sink)


def serve_nb_weights(spark, index_dir: str) -> DataFrame:
    """The CURRENT model: sum the committed count deltas per term,
    derive totals and vocabulary from the same aggregate, and emit
    the fixed-point log-likelihood-ratio weights — bit-identical to
    batch-training on the union of committed arrivals, because the
    sufficient statistics are exact integers and the one float op per
    term consumes identical operands. Read-only: nothing is written
    to the index root."""
    fs = IndexFS(spark, index_dir)
    dirs = committed_table_dirs(fs, "counts")
    if not dirs:
        return tiny_df(spark, [], "term string, w_fp long")
    cnt = (
        spark.read.parquet(*dirs)
        .groupBy("term")
        .agg(F.sum("c1").alias("_c1"), F.sum("c0").alias("_c0"))
    )
    tot = cnt.agg(
        F.sum("_c1").alias("_t1"),
        F.sum("_c0").alias("_t0"),
        F.count(F.lit(1)).alias("_v"),
    )
    return cnt.crossJoin(F.broadcast(tot)).select(
        "term",
        _llr_fp(
            F.col("_c1") + F.lit(1), F.col("_t1") + F.col("_v"),
            F.col("_c0") + F.lit(1), F.col("_t0") + F.col("_v"),
        ).alias("w_fp"),
    )


def compact_nb_counts(spark, index_dir: str, buckets: int = 1,
                      marker_horizon: int = 1000) -> dict:
    """Fold committed delta partitions into ONE summed generation:
    the protocol's first associative-merge compaction — the
    generation holds per-term SUM(c1), SUM(c0) over everything it
    consumed, so the post-compaction serve aggregates fewer rows to
    the same integers. The cutover body is the layout-generic
    ``batched_index.compact_batched_index`` with a CALLABLE layout
    (the SUM-merge; the compactor observes the row count inside the
    write job) — journal, tombstone grace, and crash recovery are the
    shared machinery unchanged."""
    return compact_batched_index(
        spark, index_dir, _LAYOUT,
        buckets=buckets, marker_horizon=marker_horizon,
    )
