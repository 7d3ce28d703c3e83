"""Streaming MinHash-LSH near-duplicate detection.

Closes the gap between the batch dedup family (operators/dedup.py)
and the incremental-ingest story: documents arriving on a file stream
are checked against a STATIC banded LSH index of the already-curated
corpus, emitting exact-Jaccard-verified near-dup pairs per
micro-batch. The reference has no streaming at all (SURVEY.md §2.9);
this is the beyond-reference surface a continuously-fed corpus needs
— drop a day's crawl into the zone, get back the pairs that collide
with the curated set before they enter it.

Spark-first shape — chosen so the STREAM side needs no aggregation:

- shingling + MinHash signatures are PURE column expressions (array
  ops over the in-row token array; ``array_min`` replaces the batch
  ``groupBy(id).agg(min)``), so signing a document is stateless and
  whole-stage-codegen'd;
- candidate generation is a stream-static equi-join on (band, sig);
  Spark broadcasts the index when it fits, shuffle-hashes otherwise;
- band-collision dedup is a keyed ``dropDuplicates`` — the one
  stateful op; its state is one small row per emitted pair. A
  continuous deployment bounds it with a watermark on arrival time;
  the availableNow drains used for verification are naturally
  bounded. The same state ALSO absorbs at-least-once file
  re-deliveries: a replayed document re-generates the same pairs and
  they are filtered, so the sink sees each pair exactly once;
- exact-Jaccard verification is a second stream-static join against
  the per-doc shingle-set table, then pure array-intersection math —
  only bucket-colliding pairs are ever scored, same as batch.

All hashing is the engine-portable MD5/affine family from
operators/hashing.py, so the streaming result is bit-identical to the
batch operator over the same increment — which is exactly how the
oracle checks it.

At 100 TB: the index frames are produced by the batch pipeline
(``build_lsh_index``) and refreshed on its cadence; the stream scans
them per micro-batch, so persist/checkpoint them (the registry query
``localCheckpoint``s; a cluster deployment would DISK_ONLY-persist or
write them to a fast table). Shuffle volume per trigger is
O(new_docs × bands) — independent of corpus size; the corpus appears
only through the (pruned) index join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .batched_index import (
    committed_table_dirs,
    compact_batched_index,
    index_sink,
    spread_batch,
)

from ..operators.dedup import minhash_signatures, word_shingles
from ..operators.hashing import (
    MERSENNE_P,
    md5_long,
    minhash_coeffs,
)
from ..plans.session import tiny_df


def shingle_hash_array(text_col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of ``text_col`` as an ``array<long>``
    of 60-bit MD5 hashes — the expression twin of
    ``dedup.word_shingles`` + ``md5_long`` (same tokenization, same
    hash, same distinct), flattened into one row so a stream can sign
    documents without an aggregation.

    The token array is LET-BOUND through a one-element ``transform``
    before anything iterates over it: a higher-order function's lambda
    re-evaluates every free sub-expression PER ELEMENT, so the former
    spelling — ``split(text)`` referenced inside the offset filter and
    the shingle-slice lambdas — re-split the document once per token
    and once per shingle, O(words²) characters of work per document
    (measured ~2 s per 2.5 K-doc micro-batch at sf0.1, the dominant
    signing cost). Bound as a lambda variable, the split runs once per
    row and every slice reads the materialized array (guide §1.2
    per-task work). Same tokens, same shingles, same hashes —
    bit-identical output, including NULL text → NULL result."""
    toks = F.split(text_col, " ")

    def body(w):
        n = F.size(w)
        # valid shingle start offsets; empty when the doc has < k
        # words (a bare sequence(1, n-k+1) would flip DESCENDING for
        # short docs and explode garbage offsets; the second WHEN
        # keeps NULL input NULL instead of coercing it to empty)
        idx = (
            F.when(n >= k, F.sequence(F.lit(1), n - (k - 1)))
            .when(n >= 0, F.array().cast("array<int>"))
        )
        shingles = F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(w, i, k), " "))
        )
        return F.transform(shingles, lambda s: md5_long(s))

    return F.element_at(F.transform(F.array(toks), body), 1)


def signature_columns(sh60: Column, num_hashes: int = 16,
                      seed: int = 7) -> list[Column]:
    """MinHash signature as column expressions over a shingle-hash
    array: m_j = array_min((a_j * (h % P) + b_j) % P). Same constants,
    same arithmetic as ``dedup.minhash_signatures`` — bit-identical
    signatures, no groupBy."""
    def _affine(a: int, b: int):
        # closure factory: PySpark inspects the lambda's arity, so
        # binding a/b via default args would mis-declare 3 parameters
        return lambda h: (
            (F.lit(a) * (h % MERSENNE_P) + F.lit(b)) % MERSENNE_P
        )

    out = []
    for j, (a, b) in enumerate(minhash_coeffs(num_hashes, seed)):
        out.append(
            F.array_min(F.transform(sh60, _affine(a, b))).alias(f"m{j}")
        )
    return out


def band_structs(bands: int, rows_per_band: int) -> Column:
    """(band, sig) structs from m0..m{n-1} columns — expression twin
    of ``dedup.lsh_bands``'s unpivot."""
    pairs = []
    for b in range(bands):
        cols = [
            F.col(f"m{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        pairs.append(
            F.struct(
                F.lit(b).alias("band"), F.concat_ws("_", *cols).alias("sig")
            )
        )
    return F.array(*pairs)


def build_lsh_index(static_df: DataFrame, id_col: str, text_col: str,
                    k: int = 3, num_hashes: int = 16, bands: int = 8,
                    seed: int = 7) -> tuple[DataFrame, DataFrame]:
    """Batch-side index over the curated corpus: the banded signature
    table ``(band, sig, id)`` the stream joins for candidates, and the
    per-doc shingle-set table ``(id, sh60 array<long>, n)`` it joins
    for exact verification. Built from the SAME batch operators the
    offline dedup uses (dedup.word_shingles/minhash_signatures), so
    batch and stream agree bit-for-bit."""
    rows_per_band = num_hashes // bands
    from ..operators.dedup import _minhash_signatures_h60, hashed_shingles

    # hash the shingle frame ONCE: both index tables consume hashes
    # only (signatures take _h60 % P, the set table collects _h60)
    sh = hashed_shingles(
        word_shingles(static_df, id_col, text_col, k), id_col
    )
    sig = _minhash_signatures_h60(sh, id_col, num_hashes, seed)
    index_bands = sig.select(
        F.col(id_col).alias("_idx_id"),
        F.explode(band_structs(bands, rows_per_band)).alias("bs"),
    ).select(
        "_idx_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )
    index_sets = (
        sh.groupBy(id_col)
        .agg(F.sort_array(F.collect_set("_h60")).alias("_idx_sh"))
        .select(
            F.col(id_col).alias("_idx_id"),
            "_idx_sh",
            F.size("_idx_sh").alias("_idx_n"),
        )
    )
    return index_bands, index_sets


def _sign_documents(df: DataFrame, id_col: str, text_col: str, k: int,
                    num_hashes: int, seed: int) -> DataFrame:
    """(id, _sh, _n, m0..m{n-1}) via pure column expressions — the
    stateless signing pass shared by the frozen-index dedup and the
    growing-index maintenance sink."""
    return df.select(
        F.col(id_col),
        shingle_hash_array(F.col(text_col), k).alias("_sh"),
    ).select(
        id_col,
        "_sh",
        F.size("_sh").alias("_n"),
        *[c for c in signature_columns(F.col("_sh"), num_hashes, seed)],
    )


def _banded(signed: DataFrame, id_col: str, bands: int,
            rows_per_band: int) -> DataFrame:
    return signed.select(
        id_col, "_sh", "_n",
        F.explode(band_structs(bands, rows_per_band)).alias("bs"),
    ).select(
        id_col, "_sh", "_n",
        F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"),
    )


def _verified_pairs(banded: DataFrame, index_bands: DataFrame,
                    index_sets: DataFrame, id_col: str,
                    threshold: float) -> DataFrame:
    """Candidate generation (band equi-join) + exact-Jaccard verify —
    identical math to the batch operator."""
    cand = (
        banded.join(index_bands, ["band", "sig"])
        .filter(F.col(id_col) != F.col("_idx_id"))
        .dropDuplicates([id_col, "_idx_id"])
    )
    verified = (
        cand.join(index_sets, "_idx_id")
        .withColumn(
            "_i", F.size(F.array_intersect(F.col("_sh"), F.col("_idx_sh")))
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("_i")
                / (F.col("_n") + F.col("_idx_n") - F.col("_i")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select(
        F.least(F.col(id_col), F.col("_idx_id")).alias("doc_a"),
        F.greatest(F.col(id_col), F.col("_idx_id")).alias("doc_b"),
        "jaccard",
    )


def stream_minhash_dedup(stream: DataFrame, index_bands: DataFrame,
                         index_sets: DataFrame, id_col: str, text_col: str,
                         k: int = 3, num_hashes: int = 16, bands: int = 8,
                         threshold: float = 0.5, seed: int = 7) -> DataFrame:
    """Verified near-dup pairs between streaming documents and the
    static index: (doc_a, doc_b, jaccard) with doc_a < doc_b, exact
    Jaccard >= threshold, each pair emitted once (band collisions and
    file re-deliveries deduplicated in state)."""
    rows_per_band = num_hashes // bands
    signed = _sign_documents(stream, id_col, text_col, k, num_hashes, seed)
    banded = _banded(signed, id_col, bands, rows_per_band)
    return _verified_pairs(banded, index_bands, index_sets, id_col,
                           threshold)


_LAYOUT = {"bands": ["band", "sig"], "sets": None}


def _lsh_maintain_batch_fn(index_dir: str, id_col: str, text_col: str,
                           k: int, num_hashes: int, bands: int,
                           threshold: float, seed: int,
                           compact_every: int | None = None):
    """The per-batch maintenance body, exposed for redelivery tests:
    ``batched_index.index_sink`` over this module's layout (bands
    clustered on the (band, sig) join key, sets plain), which owns
    the marker short-circuit, crash recovery, the marker commit and
    the ``compact_every`` trigger. Every artifact of batch b — its
    verified pairs, band signatures and shingle sets — lands in its
    own ``batch=<b>`` overwrite directory, so the index gains each
    document's signatures exactly once and no pair is ever
    re-emitted (pairs are per-batch artifacts, not appends)."""
    rows_per_band = num_hashes // bands

    def write_batch(bdf: DataFrame, fs, batch_id: int,
                    committed: set[str]) -> None:
        spark = bdf.sparkSession
        # localCheckpoint: one micro-batch of signatures, reused by
        # the pair join AND both index appends without re-signing
        signed = _sign_documents(
            spread_batch(bdf), id_col, text_col, k, num_hashes, seed
        ).withColumn("_sh", F.sort_array("_sh")).localCheckpoint()
        banded_new = signed.select(
            F.col(id_col).alias("_idx_id"),
            F.explode(band_structs(bands, rows_per_band)).alias("bs"),
        ).select(
            "_idx_id", F.col("bs.band").alias("band"),
            F.col("bs.sig").alias("sig"),
        )
        sets_new = signed.select(
            F.col(id_col).alias("_idx_id"),
            F.col("_sh").alias("_idx_sh"),
            F.col("_n").alias("_idx_n"),
        )
        # the index view is the COMMITTED batches only — a crash
        # between the bands and sets writes can't break the read (the
        # uncommitted dirs are simply not in the view until the
        # rewrite completes and the marker lands)
        committed_b = committed_table_dirs(fs, "bands", committed)
        committed_s = committed_table_dirs(fs, "sets", committed)
        if committed_b:
            idx_b = spark.read.parquet(*committed_b)
            idx_s = spark.read.parquet(*committed_s)
            pairs = _verified_pairs(
                _banded(signed, id_col, bands, rows_per_band),
                idx_b, idx_s, id_col, threshold,
            )
        else:
            pairs = tiny_df(
                spark, [], "doc_a long, doc_b long, jaccard double"
            )
        pairs.write.mode("overwrite").parquet(
            fs.uri(f"pairs/batch={batch_id}")
        )
        banded_new.write.mode("overwrite").parquet(
            fs.uri(f"bands/batch={batch_id}")
        )
        sets_new.write.mode("overwrite").parquet(
            fs.uri(f"sets/batch={batch_id}")
        )

    return index_sink(index_dir, _LAYOUT, write_batch, compact_every)


def compact_lsh_index(spark, index_dir: str, buckets: int = 1,
                      marker_horizon: int = 1000) -> dict:
    """Compact the growing index's COMMITTED ``batch=<id>`` directories
    — the periodic maintenance job that keeps the per-trigger index
    join from degrading into a thousands-of-small-files listing as
    batches accumulate.

    All committed rows rewrite into a single fresh GENERATION
    partition ``batch=<gen>`` (negative, below every previous
    generation — ids a foreachBatch never assigns), hash-clustered on
    the join key and bounded to ``buckets`` files per table — the
    layout stays uniform, so readers and future appends are
    untouched.

    Rename-free journaled cutover (fsio module docstring has the full
    protocol): (1) write the compacted generation DIRECTLY at its
    final path — invisible until committed, because readers only
    trust marker/journal batches; (2) commit by atomically publishing
    the ``_compact_commit`` journal {gen, consumed}; (3) apply —
    marker the generation, delete consumed dirs and consumed sentinel
    markers, clear the journal. A crash BEFORE commit leaves the live
    index untouched (the half-written generation is invisible and
    reclaimed next run); a crash AFTER commit — in any window,
    including mid-recovery or a later compaction consuming a previous
    generation — is finished idempotently by the shared
    ``recover_compaction``, which this function and the maintenance
    sink both run first. No directory is ever renamed, so the
    protocol holds on object stores. REAL batch markers are
    preserved: a redelivered pre-compaction batch still
    short-circuits instead of re-appending rows that now live in the
    generation partition. An uncommitted (mid-redelivery) batch
    directory is NOT consumed — its batch still owns the rewrite.
    Returns {'bands_files_before', 'bands_files_after', 'rows'}.

    The protocol body lives in the layout-generic
    ``batched_index.compact_batched_index`` (this module's layout:
    bands clustered on the (band, sig) join key, sets plain) — one
    implementation of the cutover shared with every growing-index
    family, crash windows locked by this module's pytest suite."""
    stats = compact_batched_index(
        spark, index_dir, _LAYOUT,
        buckets=buckets, marker_horizon=marker_horizon,
    )
    return {
        "bands_files_before": stats["files_before"],
        "bands_files_after": stats["files_after"],
        "rows": stats["rows"],
    }


def foreach_batch_lsh_maintain(stream: DataFrame, index_dir: str,
                               id_col: str, text_col: str, k: int = 3,
                               num_hashes: int = 16, bands: int = 8,
                               threshold: float = 0.5, seed: int = 7,
                               compact_every: int | None = None
                               ) -> "object":
    """Growing-index streaming LSH dedup — the 100 TB maintenance
    path the frozen-index ``stream_minhash_dedup`` defers to batch
    refreshes: per micro-batch, (1) arrivals are verified against the
    CURRENT banded index (pairs emitted exactly once, to a per-batch
    artifact), then (2) their signatures and shingle sets are APPENDED
    to the index, so later batches collide with everything that came
    before. The index lives as plain ``batch=<id>``-partitioned
    parquet on ANY Hadoop filesystem (file:/hdfs:/s3a: — all commit
    metadata goes through fsio.IndexFS), with journaled rename-free
    compaction of the batch directories; ``compact_every`` makes the
    sink self-compact whenever that many real batches have
    accumulated."""
    sink = _lsh_maintain_batch_fn(
        index_dir, id_col, text_col, k, num_hashes, bands, threshold,
        seed, compact_every=compact_every,
    )
    return stream.writeStream.foreachBatch(sink)
