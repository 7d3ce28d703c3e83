"""Incremental (mini-batch SGD) logistic-regression training on a
labeled stream — the shared commit protocol's latest-state layout.

Unlike Naive Bayes (``classify_stream``), whose sufficient
statistics are associative deltas, a gradient-descent trajectory is
ORDER-DEPENDENT: the step taken on batch k is evaluated at the
weights left by batch k-1. The journal therefore stores the model
STATE after each committed step (d+0 micro-weight rows per batch —
bytes, not corpus), not deltas:

- each micro-batch reads the latest committed state, takes ONE exact
  GD step on its own rows (the engine-exact integer micro-gradient
  arithmetic of ``operators/linearmodel`` — one aggregate over the
  batch, a d-integer driver update), and appends the new state
  exactly once under the marker protocol (redelivered batches
  short-circuit, so a crash between step and commit replays to the
  identical state);
- serving reads the max-``seq`` committed state — O(batches) tiny
  files, bounded by compaction;
- compaction is the protocol's latest-state merge: fold committed
  state partitions into one generation holding only the newest
  ``seq`` (journaled rename-free cutover, tombstone grace, crash
  recovery — the shared ``batched_index`` machinery unchanged).

The registry oracle replays the whole trajectory in SQL — per-batch
source CTEs in arrival order, one unrolled (gradient, update) pair
per batch — so the served weights are hash-verified against the
exact mini-batch SGD semantics, not merely "some converged model".

Empty micro-batches (no rows surviving the feature filter) commit a
marker but take no step — ``seq`` advances only with real steps, so
the trajectory is invariant to empty-trigger noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import linearmodel as lm
from ..plans.session import tiny_df
from .batched_index import (
    committed_table_dirs,
    compact_batched_index,
    index_sink,
)
from .fsio import IndexFS, committed_batch_ids

__all__ = [
    "foreach_batch_logreg_train",
    "serve_logreg_weights",
    "compact_logreg_weights",
]

_SCHEMA = "j int, w_micro long, cum_n long, seq long"


def _newest_state(df: DataFrame, b: int) -> DataFrame:
    """The latest-state compaction spec: keep only the rows of the
    newest ``seq`` — older steps are superseded by construction."""
    mx = df.agg(F.max("seq").alias("m"))
    return (
        df.join(F.broadcast(mx), df.seq == mx.m, "left_semi")
        .repartition(b)
    )


_LAYOUT = {"weights": _newest_state}


def _latest_state(spark, fs, d: int,
                  committed: set[str]) -> tuple[list[int], int, int]:
    """(micro-weights, cum_n, seq) of the newest step among the
    ``committed`` batches — zeros before the first. Reads
    O(batches·d) tiny rows; the 1-row collect per field is the
    bounded-driver discipline."""
    dirs = committed_table_dirs(fs, "weights", committed)
    if not dirs:
        return [0] * d, 0, 0
    df = spark.read.schema(_SCHEMA).parquet(*dirs)
    top = df.orderBy(F.desc("seq"), "j").limit(d).collect()
    if not top:
        return [0] * d, 0, 0
    w = [0] * d
    for r in top:
        w[r["j"]] = int(r["w_micro"])
    return w, int(top[0]["cum_n"]), int(top[0]["seq"])


def _logreg_train_batch_fn(index_dir: str, feature_cols: list[str],
                           label_col: str,
                           lr_num: float, lr_den: float,
                           compact_every: int | None = None):
    """Per-batch training body, exposed for redelivery tests."""

    def write_batch(bdf: DataFrame, fs, batch_id: int,
                    committed: set[str]) -> None:
        spark = bdf.sparkSession
        d = len(feature_cols)
        w, cum_n, seq = _latest_state(spark, fs, d, committed)
        exprs = ["count(*) AS n"] + [
            f"{g} AS g{j}"
            for j, g in enumerate(
                lm.grad_exprs(w, feature_cols, label_col))
        ]
        row = bdf.selectExpr(*exprs).collect()[0]
        n = int(row["n"])
        if n > 0:
            grads = [int(row[f"g{j}"]) for j in range(d)]
            w = lm.update_weights(w, grads, n, lr_num, lr_den)
            rows = [(j, w[j], cum_n + n, seq + 1) for j in range(d)]
            tiny_df(spark, rows, _SCHEMA).write.mode("overwrite").parquet(
                fs.uri(f"weights/batch={batch_id}")
            )

    return index_sink(index_dir, _LAYOUT, write_batch, compact_every)


def foreach_batch_logreg_train(stream: DataFrame, index_dir: str,
                               feature_cols: list[str],
                               label_col: str,
                               lr_num: float = 1.0,
                               lr_den: float = 2.0,
                               compact_every: int | None = None
                               ) -> "object":
    """Train the logistic model incrementally: each labeled
    micro-batch takes one exact GD step from the latest committed
    state and journals the new state exactly once."""
    sink = _logreg_train_batch_fn(
        index_dir, feature_cols, label_col, lr_num, lr_den,
        compact_every=compact_every,
    )
    return stream.writeStream.foreachBatch(sink)


def serve_logreg_weights(spark, index_dir: str,
                         stat_names: list[str]) -> DataFrame:
    """The CURRENT model as a (stat, value) BIGINT ledger:
    per-feature micro-weights of the newest committed step plus the
    step count and cumulative rows consumed."""
    fs = IndexFS(spark, index_dir)
    d = len(stat_names)
    w, cum_n, seq = _latest_state(
        spark, fs, d, committed_batch_ids(fs)
    )
    rows = [(s, w[j]) for j, s in enumerate(stat_names)]
    rows += [("n_batches", seq), ("n_seen", cum_n)]
    return tiny_df(spark, rows, "stat string, value long")


def compact_logreg_weights(spark, index_dir: str,
                           marker_horizon: int = 1000) -> dict:
    """Fold committed state partitions into ONE generation holding
    only the newest ``seq`` — the latest-state merge: older steps
    are superseded by construction, so serving is invariant while
    the committed file count drops to one."""
    return compact_batched_index(
        spark, index_dir, _LAYOUT, marker_horizon=marker_horizon,
    )
