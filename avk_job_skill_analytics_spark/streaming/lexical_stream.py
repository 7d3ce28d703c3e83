"""Growing lexical (BM25) index maintenance on a document stream —
the fourth instantiation of the shared exactly-once commit protocol
(streaming/fsio: LSH bands/sets, IVF-PQ cells, the raw-arrivals log,
now term postings).

A stored lexical index is two tables under one root, both plain
``batch=<id>``-partitioned parquet on any Hadoop filesystem:

- ``postings/batch=<id>``: (doc_id, term, tf) — each arriving
  document's term frequencies, written once per micro-batch;
- ``doclen/batch=<id>``: (doc_id, dl) — the per-document token
  counts the BM25 length normalization needs corpus-wide.

Appends are per-batch overwrite directories committed by the
``_batch_<id>`` marker (a redelivered batch rewrites identical rows
and converges; a clean replay short-circuits); compaction folds
committed batches into a negative generation under the journaled,
rename-free, tombstone-graced protocol — identical semantics to the
LSH/IVF-PQ indexes because it IS the same code.

Serving (:func:`serve_bm25`) reads ONLY committed partitions, pushes
the query-term predicate into the postings scan (parquet row-group
pruning on the sorted term column), and hands the statistics to the
same ``retrieval.bm25_rank`` core the batch query uses — so a drained
stream's served ranking hash-matches the one-shot batch BM25 over the
same documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.retrieval import bm25_rank
from ..operators.textstats import tokens
from ..plans.session import tiny_df
from .batched_index import (
    committed_table_dirs,
    compact_batched_index,
    index_sink,
    spread_batch,
)
from .fsio import IndexFS, committed_batch_ids

__all__ = [
    "foreach_batch_bm25_maintain",
    "serve_bm25",
    "compact_bm25_index",
]

# postings re-sorted on term in the generation so serving keeps its
# row-group pruning; doclen plain
_LAYOUT = {
    "postings": lambda df, b: df.repartition(b).sortWithinPartitions("term"),
    "doclen": None,
}


def _bm25_maintain_batch_fn(index_dir: str, id_col: str, text_col: str,
                            compact_every: int | None = None):
    """The per-batch maintenance body, exposed for redelivery tests.
    Per trigger: one explode over the ARRIVALS only → their (doc,
    term, tf) postings and (doc, dl) lengths land in per-batch
    overwrite directories, the marker commits them. O(arrivals) per
    trigger; the index is never rewritten (compaction amortizes)."""

    def write_batch(bdf: DataFrame, fs, batch_id: int,
                    committed: set[str]) -> None:
        toks = tokens(
            spread_batch(bdf), id_col, text_col
        ).localCheckpoint()
        tf = toks.groupBy(id_col, "term").agg(
            F.count(F.lit(1)).alias("_tf")
        )
        dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("_dl"))
        # term-sorted postings: serving's isin(term) predicate prunes
        # parquet row groups instead of decoding every posting.
        # sortWithinPartitions, not a global sort: row-group pruning
        # only needs tight per-row-group term ranges (each output
        # FILE sorted), and the global sort paid a range-sampling job
        # plus a rangepartitioning exchange per micro-batch for
        # cross-file ordering nothing reads (guide §2.4 — the
        # compactor re-clusters the generation the same way)
        tf.sortWithinPartitions("term").write.mode("overwrite").parquet(
            fs.uri(f"postings/batch={batch_id}")
        )
        dl.write.mode("overwrite").parquet(
            fs.uri(f"doclen/batch={batch_id}")
        )

    return index_sink(index_dir, _LAYOUT, write_batch, compact_every)


def foreach_batch_bm25_maintain(stream: DataFrame, index_dir: str,
                                id_col: str, text_col: str,
                                compact_every: int | None = None
                                ) -> "object":
    """Maintain the stored BM25 index from a document stream: each
    micro-batch's postings and lengths append exactly once;
    ``compact_every`` bounds the partition count with the sink's own
    journaled compaction trigger. Serving picks the new documents up
    on its next committed-set resolution — no index rebuild."""
    sink = _bm25_maintain_batch_fn(index_dir, id_col, text_col,
                                   compact_every=compact_every)
    return stream.writeStream.foreachBatch(sink)


def serve_bm25(spark, index_dir: str, terms: list[str], id_col: str,
               k: int = 10, k1: str = "1.2", b: str = "0.75",
               digits: int = 4) -> DataFrame:
    """BM25 top-k FROM the stored index: committed postings
    partitions only (marker/journal overlay — a half-written append
    is invisible), the query-term filter pushed into the parquet scan,
    and the shared ``bm25_rank`` scoring core — hash-identical to the
    batch BM25 over the same committed documents."""
    fs = IndexFS(spark, index_dir)
    committed = committed_batch_ids(fs)
    p_dirs = committed_table_dirs(fs, "postings", committed)
    d_dirs = committed_table_dirs(fs, "doclen", committed)
    if not p_dirs:
        return tiny_df(
            spark, [], f"{id_col} long, n_terms long, bm25_fp long, rk long"
        )
    tf = (
        spark.read.parquet(*p_dirs)
        .filter(F.col("term").isin(list(terms)))
        .select(id_col, "term", "_tf")
    )
    dl = spark.read.parquet(*d_dirs).select(id_col, "_dl")
    return bm25_rank(tf, dl, id_col, k=k, k1=k1, b=b, digits=digits)


def compact_bm25_index(spark, index_dir: str, buckets: int = 1,
                       marker_horizon: int = 1000) -> dict:
    """Fold the committed per-batch posting/length directories into
    one fresh negative generation per table — the same journaled,
    rename-free, tombstone-graced protocol as the LSH and IVF-PQ
    compactors (fsio module docstring), with the generation's
    postings re-sorted on term so serving keeps its row-group
    pruning. Returns {'postings_files_before', 'postings_files_after',
    'rows'}. The cutover body is the layout-generic
    ``batched_index.compact_batched_index`` (postings via a CALLABLE
    layout for the sortWithinPartitions, doclen plain)."""
    stats = compact_batched_index(
        spark, index_dir, _LAYOUT,
        buckets=buckets, marker_horizon=marker_horizon,
    )
    return {
        "postings_files_before": stats["files_before"],
        "postings_files_after": stats["files_after"],
        "rows": stats["rows"],
    }
