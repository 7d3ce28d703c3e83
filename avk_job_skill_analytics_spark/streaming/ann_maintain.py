"""Incremental IVF-PQ index maintenance on a file stream.

Completes the online-index story the serving path
(``registry/io_queries.ann_ivfpq_served``) and the streaming cell
assignment (``stream_ivf_assign``) left open: new vectors arriving on
a stream are ENCODED with the quantizers frozen on the base corpus
(coarse centroids + per-subspace PQ codebooks from the index's side
tables — the standard FAISS-style discipline: retraining is an
offline batch job, absorption is cheap) and their codes are appended
into the cell-partitioned inventory exactly once per micro-batch.

Layout contract (``operators/ann_index``): the code inventory is the
shared ``table/batch=<id>`` commit unit, each batch one
``cells/batch=<b>`` directory written ``partitionBy("_cell")`` — cell
directories inside, so probed serving reads still prune at the
directory listing. Appends go through ``batched_index.index_sink``: a
crash-redelivered batch overwrites its own directory and converges,
and the ``_batch_<id>`` marker short-circuits clean replays — the
same exactly-once sink as every other growing index. The base build
writes ``batch=-1`` (an id foreachBatch never assigns).

Per-trigger cost is O(arrivals): one codegen encode projection (the
inlined-codebook argmins — zero Exchange) + one partitioned write.
The corpus-sized index is never rewritten.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.ann_index import (
    CELLS_LAYOUT,
    VERSIONS,
    load_codebooks,
    rebuild_swap,
    write_cells,
)
from .batched_index import (
    committed_table_dirs,
    compact_batched_index,
    index_sink,
    spread_batch,
)

# the auto-retrain root's raw arrivals log: one unpartitioned
# raw/batch=<id> directory per batch, plain-repartitioned on compaction
_RAW_LAYOUT = {"raw": None}

__all__ = [
    "foreach_batch_ivfpq_append",
    "foreach_batch_drift_fold",
    "foreach_batch_auto_retrain",
]


def foreach_batch_drift_fold(stream: DataFrame, coarse: list, cbs: list,
                             m: int, sub_d: int, state: dict,
                             id_col: str, vec_col: str,
                             round_digits: int = 6) -> "object":
    """Streaming twin of the quantizer drift monitor
    (similarity.quantization_error): per micro-batch, the arrivals'
    quantization error under the FROZEN quantizers folds into bounded
    driver state — two exact integers (count, total error), so the
    fold is order-free and the drained totals are bit-identical to a
    one-shot batch scan of the same arrivals. The operational shape:
    the absorption sink's co-resident monitor; when the running
    arrivals mean pulls away from the base cohort's, schedule the
    offline retrain. Epoch-guarded against foreachBatch's
    at-least-once redelivery (same discipline as the heavy-hitter
    fold). ``state``: {"n": int, "total": int, "seen": set} — the
    guard set stays bounded (incremental.epoch_mark_applied prunes
    behind the redelivery horizon)."""
    from pyspark.sql import functions as SF

    from .incremental import epoch_already_applied, epoch_mark_applied

    def batch_fn(bdf: DataFrame, epoch_id: int) -> None:
        from ..operators import similarity

        if epoch_already_applied(state, epoch_id):
            return
        asg = similarity._ivfpq_assign(
            spread_batch(bdf), id_col, vec_col, coarse, round_digits
        )
        qe = similarity.quantization_error(asg, cbs, m, sub_d,
                                           round_digits)
        row = qe.agg(
            SF.count(SF.lit(1)).alias("n"),
            SF.sum(SF.col("_qerr").cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        if row["n"]:
            state["n"] += int(row["n"])
            state["total"] += int(row["s"])
        epoch_mark_applied(state, epoch_id)

    return stream.writeStream.foreachBatch(batch_fn)


def _ivfpq_append_batch_fn(index_dir: str, id_col: str, vec_col: str,
                           m: int, sub_d: int, round_digits: int = 6,
                           compact_every: int | None = None):
    """The per-batch append body, exposed for redelivery tests: the
    shared ``batched_index.index_sink`` over the cells layout, so
    ``compact_every`` is the sink's own auto-compaction.

    The quantizers are FROZEN by this module's contract, so they load
    ONCE per sink (on its first batch) and live in the closure — not
    two parquet reads + two collect()s per trigger."""
    frozen: dict = {}

    def write_batch(bdf: DataFrame, fs, batch_id: int,
                    committed: set[str]) -> None:
        from ..operators import similarity

        if "cb" not in frozen:
            frozen["cb"] = load_codebooks(bdf.sparkSession, index_dir)
        coarse, cbs = frozen["cb"]
        asg = similarity._ivfpq_assign(
            spread_batch(bdf), id_col, vec_col, coarse, round_digits
        )
        codes = similarity.ivfpq_encode(asg, cbs, m, sub_d, round_digits)
        write_cells(codes, fs.uri(f"cells/batch={batch_id}"))

    return index_sink(index_dir, CELLS_LAYOUT, write_batch, compact_every)


def _auto_retrain_batch_fn(root_dir: str, base: DataFrame, id_col: str,
                           vec_col: str, n_cells: int = 8, m: int = 8,
                           sub_d: int = 8, k_star: int = 8,
                           round_digits: int = 6, ratio_num: int = 2,
                           ratio_den: int = 1):
    """Per-batch body of the self-retraining index sink, exposed for
    the redelivery / crash-window tests.

    The POLICY that closes the lifecycle loop: per trigger, the
    arrivals' quantization error under the CURRENT version's frozen
    quantizers is compared against the base cohort's — both exact
    driver integers, so the trigger test is the cross-multiplication
    ``batch_total * base_n * ratio_den > ratio_num * base_total *
    batch_n`` (no float division, deterministic at every scale). Below
    the ratio, the batch is absorbed frozen (the ann_maintain append
    discipline, into the current version's cells). At or above it, the
    sink RETRAINS: quantizers refit on base ∪ committed raw arrivals ∪
    this batch, built under the next version directory and cut over by
    ``rebuild_swap``'s create-only commit — serving flips atomically,
    and later batches absorb against the NEW frozen quantizers.

    Exactly-once machinery — the root is an ``index_sink`` over the
    raw log (:data:`_RAW_LAYOUT`), all I/O through the Hadoop FS shim:

    - every batch's RAW vectors land first in ``raw/batch=<id>`` (an
      overwrite of its own directory — redelivery rewrites identical
      bytes), so the retrain corpus is recoverable from storage, not
      from stream history;
    - the root-level ``_batch_<id>`` marker is created LAST by the
      sink and short-circuits clean redeliveries;
    - a calm batch appends into ``v<v>`` through the cells sink, whose
      own ``v<v>/_batch_<id>`` marker makes a redelivery after a crash
      before the root marker converge;
    - the retrain branch writes ``_base_includes_<id>`` INSIDE the new
      version (via ``rebuild_swap``'s pre-commit hook, so it is
      visible iff the version is committed): a crash between the
      version commit and the root marker re-delivers the batch, and
      the note tells the sink its rows are already in the new base —
      it just restores the marker instead of double-absorbing;
    - after a retrain, the log's committed batches fold into one
      generation (``compact_batched_index``) while the full log read
      is fresh, so its directory count stays bounded.

    Per-version state (quantizers + the base cohort's exact error
    stats) loads once per version per sink lifetime, not per trigger.
    """
    from pyspark.sql import functions as SF

    from .fsio import Cutover, IndexFS

    state: dict = {}

    def _err_stats(qe: DataFrame) -> tuple[int, int]:
        row = qe.agg(
            SF.count(SF.lit(1)).alias("n"),
            SF.sum(SF.col("_qerr").cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        return int(row["n"] or 0), int(row["s"] or 0)

    def write_batch(bdf: DataFrame, fs, batch_id: int,
                    committed: set[str]) -> None:
        from ..operators import similarity

        spark = bdf.sparkSession
        rows = bdf.select(SF.col(id_col), SF.col(vec_col))
        # 1. raw arrivals log — the durable retrain corpus
        rows.write.mode("overwrite").parquet(fs.uri(f"raw/batch={batch_id}"))
        # 2. current version's quantizers + base error stats (memoized
        #    per version — reloaded only after a cutover)
        cut = Cutover(fs, *VERSIONS)
        v = cut.resolve()
        vdir = fs.uri(cut.path(v))
        if state.get("v") != v:
            coarse, cbs = load_codebooks(spark, vdir)
            basg = similarity._ivfpq_assign(
                base, id_col, vec_col, coarse, round_digits
            )
            bn, btot = _err_stats(
                similarity.quantization_error(basg, cbs, m, sub_d,
                                              round_digits)
            )
            state.update(v=v, cb=(coarse, cbs), base_n=bn, base_total=btot)
        # 3. crash between version-commit and root marker: the batch's
        #    rows are already in this version's base — the sink just
        #    restores the marker
        if IndexFS(spark, vdir).exists(f"_base_includes_{batch_id}"):
            return
        coarse, cbs = state["cb"]
        # 4. this batch's drift under the current frozen quantizers
        asg = similarity._ivfpq_assign(
            spread_batch(bdf), id_col, vec_col, coarse, round_digits
        )
        qe = similarity.quantization_error(asg, cbs, m, sub_d, round_digits)
        n, total = _err_stats(qe)
        fired = n > 0 and (
            total * state["base_n"] * ratio_den
            > ratio_num * state["base_total"] * n
        )
        if fired:
            # committed raw batches INCLUDING compacted generations
            # (markers + journal overlay — the shared reader rule)
            corpus = base.select(SF.col(id_col), SF.col(vec_col))
            dirs = committed_table_dirs(fs, "raw", committed)
            if dirs:
                corpus = corpus.unionByName(
                    spark.read.parquet(*dirs)
                    .select(SF.col(id_col), SF.col(vec_col))
                )
            rebuild_swap(
                spark, root_dir, corpus.unionByName(rows), id_col,
                vec_col, n_cells=n_cells, m=m, sub_d=sub_d,
                k_star=k_star, round_digits=round_digits,
                pre_commit=lambda nvfs: nvfs.touch(
                    f"_base_includes_{batch_id}"
                ),
            )
            state.pop("v", None)  # force reload against the new version
            compact_batched_index(spark, root_dir, _RAW_LAYOUT)
        else:
            codes = similarity.ivfpq_encode(asg, cbs, m, sub_d,
                                            round_digits)
            index_sink(
                vdir, CELLS_LAYOUT,
                lambda _bdf, vfs, b, _committed: write_cells(
                    codes, vfs.uri(f"cells/batch={b}")),
            )(bdf, batch_id)

    return index_sink(root_dir, _RAW_LAYOUT, write_batch)


def foreach_batch_auto_retrain(stream: DataFrame, root_dir: str,
                               base: DataFrame, id_col: str, vec_col: str,
                               n_cells: int = 8, m: int = 8,
                               sub_d: int = 8, k_star: int = 8,
                               round_digits: int = 6, ratio_num: int = 2,
                               ratio_den: int = 1) -> "object":
    """Self-retraining IVF-PQ index sink over a versioned root: absorb
    calm batches frozen, and when a batch's drift ratio vs the base
    cohort crosses ``ratio_num/ratio_den``, retrain on everything seen
    and cut serving over atomically (see :func:`_auto_retrain_batch_fn`
    for the exactly-once protocol)."""
    sink = _auto_retrain_batch_fn(
        root_dir, base, id_col, vec_col, n_cells=n_cells, m=m,
        sub_d=sub_d, k_star=k_star, round_digits=round_digits,
        ratio_num=ratio_num, ratio_den=ratio_den,
    )
    return stream.writeStream.foreachBatch(sink)


def foreach_batch_ivfpq_append(stream: DataFrame, index_dir: str,
                               id_col: str, vec_col: str, m: int = 8,
                               sub_d: int = 8, round_digits: int = 6,
                               compact_every: int | None = None
                               ) -> "object":
    """Absorb streaming vector arrivals into a stored IVF-PQ index:
    encode with the frozen quantizers (loaded once, not per trigger),
    append codes exactly once per micro-batch, and — with
    ``compact_every`` — self-compact the batch directories so the
    inventory's file count stays bounded under sustained streaming.
    Serving (``ivfpq_score`` over the probed cells) immediately sees
    the new vectors — no index rebuild."""
    sink = _ivfpq_append_batch_fn(
        index_dir, id_col, vec_col, m, sub_d, round_digits,
        compact_every=compact_every,
    )
    return stream.writeStream.foreachBatch(sink)
