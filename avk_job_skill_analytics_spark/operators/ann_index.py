"""Stored IVF-PQ index lifecycle — ONE implementation of the layout
contract shared by the batch serving queries (registry/io_queries),
the streaming absorption sink (streaming/ann_maintain), and tests.

Layout: ``<index_dir>/cells`` is the code inventory partitioned
``(_cell, _batch)`` — cell first so probed reads prune at the
directory listing, batch second so appends are dynamic partition
overwrites of exactly their own leaves (``_batch=-1`` is the base
build) — plus two tiny side tables, ``coarse/`` (cell, cv) and
``pq/`` (s, cid, bv), persisting the frozen quantizers
(n_cells·d + m·k*·sub_d doubles; parquet round-trips doubles
bit-exact).

Cited design: the IVF-PQ pipeline is Jégou et al. TPAMI'11; the
store-offline/probe-pruned/absorb-online discipline mirrors how FAISS
deployments separate index training from serving.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.session import tiny_df


def _delete_cells_batches(fs, bs: list[str]) -> None:
    """Layout callback for the shared commit protocol
    (streaming/fsio): each batch's codes live in one ``_batch=<b>``
    leaf under every ``_cell=<c>`` directory — the cells enumeration
    is paid once for the whole batch list."""
    cells = [cd for cd in fs.listdir("cells") if cd.startswith("_cell=")]
    for cd in cells:
        for b in bs:
            fs.delete(f"cells/{cd}/_batch={b}")


def _recover_cells(fs) -> None:
    """Finish a journal-committed cells compaction — idempotent,
    no-op without a journal."""
    from ..streaming.fsio import recover_compaction

    recover_compaction(fs, _delete_cells_batches)


def _leaf_batch_ids(fs) -> set[str]:
    """Batch ids that actually own data leaves under cells/ — the
    bounded set (post-compaction: one generation + recent batches)
    that keeps reader predicates independent of how many markers
    exist."""
    return {
        name.split("=", 1)[1]
        for cd in fs.listdir("cells")
        if cd.startswith("_cell=")
        for name in fs.listdir(f"cells/{cd}")
        if name.startswith("_batch=")
    }


def write_cells(codes: DataFrame, cells_path: str,
                batch_id: int, distribute: bool = True) -> None:
    """Write one batch's (_id, _cell, _codes) rows into the two-level
    layout as a DYNAMIC partition overwrite of its own leaves — a
    redelivered batch rewrites identical directories and converges.

    ``distribute`` hash-clusters the codes by ``_cell`` before the
    partitioned write (guide §6 file sizing): without it every input
    partition opens a file in every cell directory it touches —
    input_partitions × cells tiny files per batch (measured 64 files
    for a 250-row batch at sf0.1); clustered, each cell lands wholly
    in one task, so each ``(_cell, _batch)`` leaf is exactly one
    file. The shuffle moves only (id, cell, m-byte codes) — the
    lightweight proxy, never vectors. Callers that already clustered
    (compact_cells' bucketed repartition) pass ``distribute=False``."""
    if distribute:
        codes = codes.repartition("_cell")
    (
        codes.withColumn("_batch", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_cell", "_batch")
        .parquet(cells_path)
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
    ``_batch=-1`` plus both codebook side tables. Returns
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
        lambda: write_cells(codes, f"{index_dir}/cells", -1),
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
    from ..streaming.fsio import PROTOCOL, IndexFS

    fs = IndexFS(spark, index_dir)
    fs.touch("_batch_-1")
    fs.touch(PROTOCOL)  # fresh roots are v2 from birth
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

    from ..streaming.fsio import (
        IndexFS,
        committed_batch_ids,
        legacy_overlay_ids,
    )

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
    # pre-v2 compat, READ-ONLY: a legacy base build never touched
    # _batch_-1 — overlay it into this read's committed view instead
    # of silently serving nothing (serving tiers may lack write
    # permission on the index root; the next writer stamps durably)
    leaves = _leaf_batch_ids(fs)
    overlay = legacy_overlay_ids(
        fs, lambda: "-1" in leaves, lambda b: b in leaves
    )
    # committed ∩ leaves-that-exist: the predicate stays bounded by
    # LIVE leaves (one generation + recent batches after compaction),
    # not by how many redelivery markers have ever been written
    committed = sorted(
        int(b)
        for b in (committed_batch_ids(fs) | overlay) & leaves
    )
    inv = (
        spark.read.parquet(f"{index_dir}/cells")
        .filter(F.col("_cell").isin(probed))
        # trust only marker/journal-committed batches: a crashed
        # append's half-written leaves are invisible, and compaction's
        # journal overlay swaps generations atomically for readers
        .filter(F.col("_batch").cast("long").isin(committed))
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


def resolve_version(fs) -> int | None:
    """Highest committed index version under a versioned root (a
    ``_commit_index_<v>`` marker whose ``v<v>`` directory exists) —
    the same create-only resolution discipline as the upsert state
    cutover: no pointer file to overwrite, no rename, no window where
    a reader resolves a half-built index."""
    versions = sorted(
        (
            int(n[len("_commit_index_"):])
            for n in fs.listdir()
            if n.startswith("_commit_index_")
        ),
        reverse=True,
    )
    for v in versions:
        if fs.is_dir(f"v{v}"):
            return v
    return None


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
    the version itself."""
    from ..streaming.fsio import IndexFS

    fs = IndexFS(spark, root_dir)
    cur = resolve_version(fs)
    v = 0 if cur is None else cur + 1
    # a prior rebuild may have crashed mid-build at this same version:
    # build_index's cells write is a DYNAMIC partition overwrite that
    # only rewrites partitions present in the NEW codes, so a crashed
    # attempt whose corpus produced different coarse seed ids would
    # leave stale _cell=*/_batch=-1 leaves that this retry never
    # touches — and the marker touch below would commit them for every
    # full-inventory reader (ADVICE r7 #1). Serving was safe (stale
    # cells are never probed); clearing the uncommitted dir makes the
    # retry a genuinely fresh build.
    fs.delete(f"v{v}")
    build_index(spark, corpus, id_col, vec_col, fs.uri(f"v{v}"),
                n_cells=n_cells, m=m, sub_d=sub_d, k_star=k_star,
                round_digits=round_digits)
    if pre_commit is not None:
        pre_commit(IndexFS(spark, fs.uri(f"v{v}")))
    fs.touch(f"_commit_index_{v}")  # the atomic cutover
    # retire with one version of GRACE: the immediately-superseded
    # version stays committed so a reader that resolved it an instant
    # before the cutover still finds its files (snapshot isolation for
    # in-flight queries — the standard two-version discipline); only
    # versions at least two generations back retire, commit-file-first
    # so a crash between the deletes leaves an uncommitted dir, never
    # a committed dangle
    for n in fs.listdir():
        if n.startswith("_commit_index_") and int(
            n[len("_commit_index_"):]
        ) < v - 1:
            fs.delete(n)
    for n in fs.listdir():
        if (n.startswith("v") and n[1:].isdigit()
                and int(n[1:]) < v - 1):
            fs.delete(n)
    return v


def serve_current(spark, root_dir: str, queries: DataFrame, id_col: str,
                  vec_col: str, n_probe: int = 2, sub_d: int = 8,
                  k: int = 5, round_digits: int = 6) -> DataFrame:
    """Serve from the versioned root: resolve the highest committed
    version, then the standard probed-cell stored-index retrieval."""
    from ..streaming.fsio import IndexFS

    fs = IndexFS(spark, root_dir)
    v = resolve_version(fs)
    if v is None:
        raise FileNotFoundError(
            f"no committed index version under {root_dir}"
        )
    return serve_topk(spark, fs.uri(f"v{v}"), queries, id_col, vec_col,
                      n_probe=n_probe, sub_d=sub_d, k=k,
                      round_digits=round_digits)


def compact_cells(spark, index_dir: str, buckets: int = 1,
                  marker_horizon: int = 1000) -> dict:
    """Merge the cells inventory's committed ``_batch`` leaves into a
    single fresh negative GENERATION per cell — the IVF-PQ twin of
    minhash_stream.compact_lsh_index, closing the small-files growth
    of sustained streaming absorption (one ``(_cell, _batch)`` leaf
    per micro-batch forever otherwise — VERDICT r6 ask #2).

    Same rename-free journaled protocol (streaming/fsio docstring):
    the compacted generation writes DIRECTLY into its final
    ``_cell=*/_batch=<gen>`` leaves via dynamic partition overwrite
    (invisible until committed — readers only trust marker/journal
    batches), the ``_compact_commit`` journal is the atomic commit
    point, and the idempotent apply deletes consumed leaves + retired
    sentinel markers. Real batch markers survive so redelivered
    pre-compaction batches still short-circuit. The committed
    snapshot localCheckpoints before the rewrite (same-root read →
    write); at cluster scale this staging lands on reliable storage.
    Returns {'files_before', 'files_after', 'rows'}."""
    from ..streaming.fsio import (
        IndexFS,
        committed_batch_ids,
        count_committed_files,
        drop_stale_generations,
        ensure_protocol,
        next_generation,
        retire_real_markers,
        write_journal,
    )

    fs = IndexFS(spark, index_dir)
    _leaves0 = _leaf_batch_ids(fs)
    ensure_protocol(fs, lambda: "-1" in _leaves0,
                    lambda b: b in _leaves0)
    _recover_cells(fs)
    # reclaim half-written generations from a pre-commit crash
    stale = sorted(
        int(b) for b in _leaf_batch_ids(fs) if int(b) < 0
    )
    drop_stale_generations(fs, _delete_cells_batches, stale)
    committed = committed_batch_ids(fs) & _leaf_batch_ids(fs)
    before = fs.count_files("cells")
    if not committed:
        return {"files_before": before, "files_after": before, "rows": 0}
    inv = (
        spark.read.parquet(fs.uri("cells"))
        .filter(
            F.col("_batch").cast("string").isin(sorted(committed))
        )
        .select("_id", "_codes", F.col("_cell").cast("long").alias("_cell"))
        .repartition(buckets, "_cell")
        .localCheckpoint()
    )
    # observe the row count inside the generation write instead of a
    # separate count() job over the checkpointed snapshot (guide §1.2)
    from pyspark.sql import Observation

    obs = Observation()
    inv = inv.observe(obs, F.count(F.lit(1)).alias("rows"))
    gen = next_generation(fs)
    # inv is already bucket-clustered by _cell — no second shuffle
    write_cells(inv, fs.uri("cells"), gen, distribute=False)
    rows = obs.get["rows"]
    write_journal(fs, gen, sorted(committed))  # the atomic commit point
    _recover_cells(fs)  # apply via the shared idempotent path
    # every committed real batch is now absorbed — retire markers far
    # behind the redelivery horizon so root metadata stays bounded
    retire_real_markers(fs, marker_horizon)
    # files_after is the COMMITTED view (what every new reader opens):
    # consumed leaves' data survives one tombstone grace cycle for
    # in-flight scans and is purged at the next compaction's apply
    committed_now = committed_batch_ids(fs)
    after = sum(
        count_committed_files(fs, f"cells/{cd}", prefix="_batch=",
                              committed=committed_now)
        for cd in fs.listdir("cells")
        if cd.startswith("_cell=")
    )
    return {
        "files_before": before,
        "files_after": after,
        "rows": rows,
    }
