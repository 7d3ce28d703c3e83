"""Stored IVF-PQ index lifecycle — ONE implementation of the layout
contract shared by the batch serving queries (registry/io_queries),
the streaming absorption sink (streaming/ann_maintain), and tests.

Layout: ``<index_dir>/cells`` is the code inventory in the shared
``table/batch=<id>`` commit unit of ``streaming/batched_index`` — one
``cells/batch=<b>`` directory per committed batch (``batch=-1`` is
the base build), each written ``partitionBy("_cell")`` so probed
reads prune at the directory listing — plus two tiny side tables,
``coarse/`` (cell, cv) and ``pq/`` (s, cid, bv), persisting the
frozen quantizers (n_cells·d + m·k*·sub_d doubles; parquet
round-trips doubles bit-exact). Appends go through
``batched_index.index_sink`` and compaction through
``compact_batched_index`` over :data:`CELLS_LAYOUT`, like every other
growing index.

Cited design: the IVF-PQ pipeline is Jégou et al. TPAMI'11; the
store-offline/probe-pruned/absorb-online discipline mirrors how FAISS
deployments separate index training from serving.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.session import tiny_df

# the cells compaction spec: hash-cluster on _cell and keep _cell a
# directory partition inside each generation, so serving still prunes
CELLS_LAYOUT = {"cells": {"partition_by": ["_cell"]}}


def write_cells(codes: DataFrame, batch_dir: str) -> None:
    """Write one batch's (_id, _cell, _codes) rows as a plain
    overwrite of its own ``cells/batch=<id>`` directory, partitioned
    by ``_cell`` — a redelivered batch rewrites the same directory
    and converges.

    The codes hash-cluster by ``_cell`` first (file sizing):
    without it every input partition opens a file in every cell
    directory it touches — input_partitions × cells tiny files per
    batch (measured 64 files for a 250-row batch at sf0.1); clustered,
    each cell lands wholly in one task, so each ``_cell`` directory of
    a batch is exactly one file. The shuffle moves only (id, cell,
    m-byte codes) — the lightweight proxy, never vectors."""
    (
        codes.repartition("_cell")
        .write.mode("overwrite")
        .partitionBy("_cell")
        .parquet(batch_dir)
    )


def load_codebooks(spark, index_dir: str) -> tuple[list, list]:
    """Read the frozen quantizers back from the side tables as the
    (coarse, cbs) lists the similarity operators consume."""
    coarse = [
        (int(r["cell"]), list(r["cv"]))
        for r in spark.read.parquet(f"{index_dir}/coarse").collect()
    ]
    pq_rows = spark.read.parquet(f"{index_dir}/pq").collect()
    m = 1 + max(int(r["s"]) for r in pq_rows)
    cbs = [
        sorted(
            (int(r["cid"]), list(r["bv"]))
            for r in pq_rows
            if int(r["s"]) == s
        )
        for s in range(m)
    ]
    return coarse, cbs


def build_index(spark, corpus: DataFrame, id_col: str, vec_col: str,
                index_dir: str, n_cells: int = 8, m: int = 8,
                sub_d: int = 8, k_star: int = 8,
                round_digits: int = 6) -> tuple[list, list]:
    """Train the (deterministic-seed) quantizers on ``corpus``,
    encode it, and persist the full index: cells inventory under
    ``cells/batch=-1`` plus both codebook side tables. Returns
    (coarse, cbs) so the builder can keep serving in-process."""
    from . import similarity

    # r15 MEASURED REVERT: a one-head-collect variant (coarse + PQ
    # seeds from one TakeOrdered, seed residuals via a tiny literal
    # frame) removed the second corpus TakeOrdered but lost the
    # interleaved A/B on the lifecycle queries (retrain ~10.0 -> ~12.1
    # s; per-phase, the seed frame's 512-literal plan cost more
    # analysis+job time than the corpus TakeOrdered it saved at this
    # SF). Kept the r14 shape; at true scale, revisit with a cheap
    # local-relation seed.
    cell_rows = (
        corpus.orderBy(id_col)
        .limit(n_cells)
        .select(
            F.col(id_col).cast("long").alias("_cell"),
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double"), round_digits),
            ).alias("_cv"),
        )
        .collect()
    )
    coarse = [(int(r["_cell"]), list(r["_cv"])) for r in cell_rows]
    # deliberately NOT checkpointed/cached: assignment is one codegen
    # projection, and its two consumers (the 8-row PQ seed TakeOrdered
    # and the encode pass) re-derive it cheaper than a corpus-sized
    # materialization — which at the 100 TB design point would pin
    # the whole assignment in executor storage (round 10; was
    # localCheckpoint, ~1.2 s/build at sf0.1 for zero scan savings)
    asg = similarity._ivfpq_assign(
        corpus, id_col, vec_col, coarse, round_digits
    )
    cbs = similarity._ivfpq_seed_cbs(asg, m, sub_d, k_star, round_digits)
    codes = similarity.ivfpq_encode(asg, cbs, m, sub_d, round_digits)
    # The three writes (cells inventory, coarse, pq) share no lineage
    # with each other, so they overlap from a driver thread pool (guide
    # §2.6) — the tiny side-table jobs back-fill cores while the cells
    # write drains its tail; the commit markers below land after ALL
    # three.
    from ..streaming.batched_index import parallel_writes

    parallel_writes(
        lambda: write_cells(codes, f"{index_dir}/cells/batch=-1"),
        lambda: tiny_df(
            spark, coarse, "cell long, cv array<double>"
        ).write.mode("overwrite").parquet(f"{index_dir}/coarse"),
        lambda: tiny_df(
            spark,
            [(s, cid, bv) for s, sub in enumerate(cbs) for cid, bv in sub],
            "s int, cid long, bv array<double>",
        ).write.mode("overwrite").parquet(f"{index_dir}/pq"),
    )
    # commit the base build under the shared marker protocol: readers
    # (serve_topk, compact_cells) only trust marker-committed batches
    from ..streaming.fsio import IndexFS

    IndexFS(spark, index_dir).touch("_batch_-1")
    return coarse, cbs


def serve_topk(spark, index_dir: str, queries: DataFrame, id_col: str,
               vec_col: str, n_probe: int = 2, sub_d: int = 8,
               k: int = 5, round_digits: int = 6,
               allowed: DataFrame | None = None) -> DataFrame:
    """IVF-PQ retrieval FROM the stored index — no raw corpus
    embedding is read: quantizers load from the side tables, the
    query vectors probe their ``n_probe`` nearest cells, the probed
    cell set becomes a LITERAL isin() on the partition column
    (directory pruning — the probed fraction of the index bytes is
    all that's opened), and scoring is the stored-code integer-ADC
    join. The probed-cell collect is tiny (≤ n_cells values from the
    probe frame — the bounded driver discipline of the codebook
    collects)."""
    from . import similarity

    from ..streaming.batched_index import committed_table_dirs
    from ..streaming.fsio import IndexFS

    coarse, cbs = load_codebooks(spark, index_dir)
    # ONE job computes the probe frame AND the probed-cell literal
    # set: collect the probes (bounded by |queries| x n_probe rows —
    # the query frame is serving-tier sized by contract, same bounded
    # driver discipline as the codebook collects) and rebuild them as
    # a single-partition tiny frame for the broadcast score join. The
    # former spelling paid a localCheckpoint job PLUS a separate
    # distinct+collect job per serve (guide §1.2). All probe values
    # are exact longs / integer micro-distances — the driver round
    # trip is bit-lossless.
    probe_rows = similarity.ivfpq_probes(
        queries, id_col, vec_col, coarse, cbs,
        n_probe=n_probe, m=len(cbs), sub_d=sub_d,
        round_digits=round_digits,
    ).collect()
    probed = sorted({int(r["_cell"]) for r in probe_rows})
    if not probed:
        # degenerate query frame (no rows -> no probes): a typed
        # empty result, not an empty-isin scan or a crash
        return tiny_df(
            spark, [], "query_id long, neighbor_id long, adc_dist long, rk int"
        )
    probes = tiny_df(
        spark,
        [(r["_qid"], r["_cell"], r["_tbls"]) for r in probe_rows],
        "_qid long, _cell long, _tbls array<map<long,long>>",
    )
    fs = IndexFS(spark, index_dir)
    # only marker/journal-committed batch dirs are read (a crashed
    # append's half-written dir is invisible; compaction's journal
    # overlay swaps generations atomically), with basePath at cells/
    # so every dir's _cell subdirectories read as one partition column
    dirs = committed_table_dirs(fs, "cells")
    inv = (
        spark.read.option("basePath", fs.uri("cells"))
        .parquet(*dirs)
        .filter(F.col("_cell").isin(probed))
        .select("_id", F.col("_cell").cast("long").alias("_cell"), "_codes")
    )
    if allowed is not None:
        # filtered serving over the SHARED stored index: the metadata
        # predicate's id table broadcast-semi-joins the probed
        # inventory BEFORE ranking (best eligible candidates, not a
        # post-filtered stump) — directory pruning still applies, the
        # filter only thins what the probed cells yielded
        inv = inv.join(
            F.broadcast(
                allowed.select(F.col(id_col).alias("_id")).distinct()
            ),
            "_id",
            "semi",
        )
    return similarity.ivfpq_score(inv, probes, k)


# a versioned root's cutover (fsio.Cutover): index version v<v>,
# committed by _commit_index_<v>
VERSIONS = ("_commit_index_", "v{}")


def rebuild_swap(spark, root_dir: str, corpus: DataFrame, id_col: str,
                 vec_col: str, n_cells: int = 8, m: int = 8,
                 sub_d: int = 8, k_star: int = 8,
                 round_digits: int = 6, pre_commit=None) -> int:
    """The RETRAIN arm of the index lifecycle: when the drift monitor
    fires, build a FRESH index (quantizers retrained on the current
    corpus) under the next version directory of a versioned root and
    commit it by creating its ``_commit_index_<v>`` marker — serving
    (:func:`serve_current`) cuts over atomically to the new version,
    and superseded versions retire commit-file-first (a crash between
    the deletes leaves an uncommitted dir, never a committed dangle).
    The old version keeps serving until the exact commit instant;
    a crash mid-build leaves an uncommitted ``v<v>`` directory that
    the next rebuild overwrites. Offline retraining with an atomic
    swap is the standard FAISS-deployment discipline the frozen
    absorption path (ann_maintain) pairs with.

    ``pre_commit(vfs)``: optional hook handed the new version's
    IndexFS after the build but BEFORE the commit marker — extra
    per-version metadata written here (e.g. the auto-retrain sink's
    ``_base_includes_<batch>`` note) becomes visible atomically with
    the version itself. A root written before round 7 is no longer
    adopted."""
    from ..streaming.fsio import Cutover, IndexFS

    fs = IndexFS(spark, root_dir)
    cut = Cutover(fs, *VERSIONS)
    cur = cut.resolve()
    v = 0 if cur is None else cur + 1
    # a prior rebuild may have crashed mid-build at this same version:
    # its uncommitted dir may hold artifacts this build would not
    # overwrite (a pre-commit note naming another batch, a batch dir
    # beside the base build) that the marker touch below would commit
    # — clearing it makes the retry a genuinely fresh build.
    fs.delete(cut.path(v))
    vdir = fs.uri(cut.path(v))
    build_index(spark, corpus, id_col, vec_col, vdir,
                n_cells=n_cells, m=m, sub_d=sub_d, k_star=k_star,
                round_digits=round_digits)
    if pre_commit is not None:
        pre_commit(IndexFS(spark, vdir))
    cut.commit(v)
    # one version of GRACE: a reader that resolved the superseded
    # version an instant before the cutover still finds its files
    # (snapshot isolation for in-flight queries)
    cut.retire(v)
    return v


def serve_current(spark, root_dir: str, queries: DataFrame, id_col: str,
                  vec_col: str, n_probe: int = 2, sub_d: int = 8,
                  k: int = 5, round_digits: int = 6) -> DataFrame:
    """Serve from the versioned root: resolve the highest committed
    version, then the standard probed-cell stored-index retrieval."""
    from ..streaming.fsio import Cutover, IndexFS

    fs = IndexFS(spark, root_dir)
    cut = Cutover(fs, *VERSIONS)
    v = cut.resolve()
    if v is None:
        raise FileNotFoundError(
            f"no committed index version under {root_dir}"
        )
    return serve_topk(spark, fs.uri(cut.path(v)), queries, id_col, vec_col,
                      n_probe=n_probe, sub_d=sub_d, k=k,
                      round_digits=round_digits)


def compact_cells(spark, index_dir: str, buckets: int = 1,
                  marker_horizon: int = 1000) -> dict:
    """Merge the committed ``cells/batch=<id>`` directories into one
    fresh negative GENERATION, still partitioned by ``_cell`` — the
    file-count bound for sustained streaming absorption, through the
    shared ``batched_index.compact_batched_index`` (:data:`CELLS_LAYOUT`).
    Returns {'files_before', 'files_after', 'rows'}."""
    from ..streaming.batched_index import compact_batched_index

    return compact_batched_index(spark, index_dir, CELLS_LAYOUT,
                                 buckets=buckets,
                                 marker_horizon=marker_horizon)
