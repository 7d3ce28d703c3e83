"""Deduplication operators for large-scale corpus curation.

Beyond-reference capabilities (the reference's only dedup is the
exact keep-first U2, src/transform.py:138): the standard toolbox a
training-data pipeline needs at 100 TB, each built from shuffles that
scale linearly in corpus size — never an all-pairs comparison:

- exact dedup: hash-groupBy on the full text (one shuffle);
- MinHash + LSH near-dup: shingle → minhash signature → band buckets →
  candidate pairs only within buckets → exact-Jaccard verification
  (Broder 1997; the shuffle volume is O(docs × bands), and candidate
  verification touches only bucket-colliding pairs);
- SimHash: 64 locality-sensitive signature bits per doc, near-dups
  collide on signature (Charikar 2002); one shuffle;
- n-gram Jaccard: exact all-pairs similarity via an inverted-index
  join on shingles — the exact (expensive) baseline the approximate
  ops are judged against; the shingle join explodes quadratically in
  per-shingle document frequency, so it is only for validation scale;
- embedding near-dup: blocked cosine pairs (see similarity.py for the
  ANN path).

All hashing is the engine-portable MD5/affine family from hashing.py,
so results are reproducible across engines and across runs — a hard
requirement for incremental dedup of a growing corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.session import scratch_persist
from .graph import connected_components_twostar
from .hashing import MERSENNE_P, affine_hash, md5_long, minhash_coeffs

# ------------------------------------------------------------- exact dedup

def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups: one row per distinct text with the
    surviving (minimum) id and the group size. Single hash-aggregate
    shuffle on the text value.

    At scale, group on ``md5(text)`` instead of the raw text to keep
    shuffle rows small (collision probability negligible)."""
    return df.groupBy(text_col).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# --------------------------------------------------------------- shingles

def word_shingles(df: DataFrame, id_col: str, text_col: str,
                  k: int = 3) -> DataFrame:
    """Distinct k-word shingles per document: (id, shingle). Documents
    with fewer than k words produce no shingles."""
    # project the split once (inlining re-evaluates it per consumer);
    # slice + array_join is ~2x faster than per-offset element_at here
    # (one array view per shingle instead of k positional lookups)
    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_w")
    ).filter(F.size("_w") >= k)
    shingle = F.transform(
        F.sequence(F.lit(1), F.size("_w") - (k - 1)),
        lambda i: F.array_join(F.slice(F.col("_w"), i, k), " "),
    )
    return toks.select(
        F.col(id_col), F.explode(shingle).alias("shingle")
    ).distinct()


# ---------------------------------------------------------- MinHash + LSH

def hashed_shingles(shingles: DataFrame, id_col: str) -> DataFrame:
    """(id, _h60): each distinct shingle STRING's 60-bit MD5 hash —
    the one shared representation every downstream LSH stage consumes
    (signatures take ``_h60 %% P``, the verify stages collect ``_h60``
    sets). Hashing ONCE here, after the string-level distinct, keeps
    the per-doc row count equal to the distinct-string count (the
    engine-exact convention) while every later shuffle moves 8-byte
    longs instead of shingle strings (guide §2.3 shuffle fewer
    bytes)."""
    return shingles.select(
        F.col(id_col), md5_long(F.col("shingle")).alias("_h60")
    )


def _minhash_signatures_h60(hashed: DataFrame, id_col: str,
                            num_hashes: int = 16,
                            seed: int = 7) -> DataFrame:
    """MinHash signatures over a pre-hashed (id, _h60) shingle frame —
    same arithmetic as :func:`minhash_signatures` (which wraps this),
    without re-hashing a shingle frame the caller already hashed."""
    h = hashed.select(
        F.col(id_col), (F.col("_h60") % MERSENNE_P).alias("_h")
    )
    aggs = [
        F.min(affine_hash(F.col("_h"), a, b)).alias(f"m{j}")
        for j, (a, b) in enumerate(minhash_coeffs(num_hashes, seed))
    ]
    return h.groupBy(id_col).agg(*aggs)


def minhash_signatures(shingles: DataFrame, id_col: str,
                       num_hashes: int = 16, seed: int = 7) -> DataFrame:
    """MinHash signature per document: m_j = min over shingles of
    (a_j * h(shingle) + b_j) mod P. One aggregate over the shingle
    frame — num_hashes mins computed in a single pass. The base hash
    is projected once before the aggregate so the md5 runs once per
    shingle, not once per hash function."""
    return _minhash_signatures_h60(
        hashed_shingles(shingles, id_col), id_col, num_hashes, seed
    )


def lsh_bands(signatures: DataFrame, id_col: str, bands: int,
              rows_per_band: int) -> DataFrame:
    """Unpivot a signature into (id, band, sig): the band signature is
    the '_'-joined row values. Docs sharing any (band, sig) are
    candidates."""
    pairs = []
    for b in range(bands):
        cols = [
            F.col(f"m{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        pairs.append(
            F.struct(F.lit(b).alias("band"),
                     F.concat_ws("_", *cols).alias("sig"))
        )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*pairs)).alias("bs")
    ).select(id_col, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def candidate_pairs(bands_df: DataFrame, id_col: str,
                    max_bucket_size: int = 10_000) -> DataFrame:
    """Distinct (a, b) id pairs (a < b) sharing a band signature.

    Fused bucket expansion: ONE groupBy shuffle collects each
    bucket's id set, pairs expand map-side from the sorted array
    (i < j ⇒ a < b, so no post-filter), then one distinct shuffle
    de-dups pairs that collide in several bands. The former
    self-join spelling shuffled the bands frame twice and filtered
    half the join output away; this shuffles it once and never
    materializes a (a ≥ b) pair.

    Degenerate buckets — a boilerplate band signature shared by n
    docs — would expand O(n²) pairs inside ONE task's array
    expansion (no AQE skew rescue here, unlike the join spelling),
    OOM-ing or straggling a single executor at 100 TB. So buckets
    with more than ``max_bucket_size`` ids are dropped: a band
    signature shared by that many documents prunes nothing and is
    near-certainly template noise. Pass ``max_bucket_size=None`` to
    disable the cap (exact small-corpus runs)."""
    buckets = (
        bands_df.groupBy("band", "sig")
        .agg(F.collect_set(F.col(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        # free runtime metric (no extra job): dropped-bucket count is
        # published to QueryExecutionListeners under 'lsh_bucket_cap'
        buckets = buckets.observe(
            "lsh_bucket_cap",
            F.count(F.when(F.size("ids") > max_bucket_size, 1)).alias(
                "dropped_buckets"
            ),
        ).filter(F.size("ids") <= max_bucket_size)
    buckets = buckets.select(F.array_sort("ids").alias("ids"))
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda a, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.a", "p.b")
        .distinct()
    )


def lsh_bucket_census(bands_df: DataFrame, id_col: str,
                      max_bucket_size: int = 10_000) -> DataFrame:
    """Relational twin of candidate_pairs' observe('lsh_bucket_cap')
    runtime metric — the no-silent-caps artifact: per band, how many
    buckets collide, the largest one, how many the production cap
    DROPS, and the candidate-pair mass those dropped buckets would
    have expanded (n·(n−1)/2 each). Publish this next to any capped
    LSH run so pruning is a number in the release card, not a
    footnote. One extra groupBy over the bands frame the dedup run
    already materializes — no new corpus scan."""
    bsz = (
        bands_df.groupBy("band", "sig")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    dropped = F.col("n") > max_bucket_size
    return bsz.groupBy(F.col("band").cast("long").alias("band")).agg(
        F.count(F.lit(1)).alias("colliding_buckets"),
        F.max("n").cast("long").alias("max_bucket"),
        F.count(F.when(dropped, 1)).alias("dropped_buckets"),
        F.coalesce(
            F.sum(
                F.when(
                    dropped,
                    F.expr("CAST(n AS BIGINT) * (n - 1) div 2"),
                )
            ),
            F.lit(0),
        ).cast("long").alias("pruned_pairs"),
    )


def _candidate_shingle_arrays(pairs: DataFrame, hashed: DataFrame,
                              id_col: str) -> DataFrame:
    """Each candidate document as its sorted shingle-hash set plus its
    exact shingle count: (id, _sh array<long>, _n). ONE aggregate over
    the candidate-semi-joined hashed shingle frame (id, _h60 — see
    :func:`hashed_shingles`) — the verify stages score pairs map-side
    from these arrays (array_intersect), replacing the former
    full-corpus sizes aggregate + two per-side semi-joined hash
    projections + token-level equijoin + per-pair groupBy (three extra
    exchanges, and a hot-shingle pair blowup the semi-join only
    bounded, not removed). ``_n`` counts shingle ROWS (distinct
    shingle strings — the hash projection is row-preserving), matching
    the oracle's per-doc size exactly even if two strings were ever to
    share a 60-bit hash."""
    ids = (
        pairs.select(F.col("a").alias(id_col))
        .unionByName(pairs.select(F.col("b").alias(id_col)))
        .distinct()
    )
    return (
        hashed.join(F.broadcast(ids), id_col, "left_semi")
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_set(F.col("_h60"))).alias("_sh"),
            F.count(F.lit(1)).alias("_n"),
        )
    )


def verify_jaccard(pairs: DataFrame, hashed: DataFrame, id_col: str,
                   threshold: float) -> DataFrame:
    """Exact Jaccard over candidate pairs, scored map-side: each
    candidate doc is materialized once as its sorted shingle-hash
    array (``_candidate_shingle_arrays``), the pair frame joins the
    array for each side, and |A∩B| is a per-row ``array_intersect`` —
    no token-level equijoin, so a hot shingle shared by many
    candidates costs nothing beyond its array slots. Only candidate
    pairs are ever scored, and only candidate documents' arrays are
    ever built (semi-join pruning). |A∪B| = |A| + |B| - |A∩B|.
    ``hashed`` is the (id, _h60) frame from :func:`hashed_shingles`."""
    arrs = _candidate_shingle_arrays(pairs, hashed, id_col)
    va = arrs.select(
        F.col(id_col).alias("a"), F.col("_sh").alias("_sha"),
        F.col("_n").alias("na"),
    )
    vb = arrs.select(
        F.col(id_col).alias("b"), F.col("_sh").alias("_shb"),
        F.col("_n").alias("nb"),
    )
    return (
        pairs.join(va, "a").join(vb, "b")
        .withColumn(
            "i", F.size(F.array_intersect("_sha", "_shb")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), "jaccard"
        )
    )


def verify_containment(pairs: DataFrame, hashed: DataFrame,
                       id_col: str, threshold: float) -> DataFrame:
    """Broder containment over candidate survivors — the same
    semi-join-pruned inverted-index shape as ``verify_jaccard``, but
    scoring BOTH directions: C(A in B) = |A∩B|/|A| and C(B in A) =
    |A∩B|/|B|, keeping pairs where either reaches the threshold.

    This is the scale path for asymmetric duplicates (prefix dumps,
    quoted articles, boilerplate-wrapped copies): candidates come
    from LSH banding — a mostly-contained document still collides
    with its container through the shared shingles dominating its
    (smaller) shingle set — and only the survivors pay the exact
    intersection, scored map-side from the per-doc sorted hash arrays
    (same shape as ``verify_jaccard``). ``containment_pairs`` is the
    validation-scale all-pairs twin of this composition. ``hashed`` is
    the (id, _h60) frame from :func:`hashed_shingles`."""
    arrs = _candidate_shingle_arrays(pairs, hashed, id_col)
    va = arrs.select(
        F.col(id_col).alias("a"), F.col("_sh").alias("_sha"),
        F.col("_n").alias("na"),
    )
    vb = arrs.select(
        F.col(id_col).alias("b"), F.col("_sh").alias("_shb"),
        F.col("_n").alias("nb"),
    )
    return (
        pairs.join(va, "a").join(vb, "b")
        .withColumn(
            "i", F.size(F.array_intersect("_sha", "_shb")).cast("long")
        )
        .withColumn("cont_a_in_b", F.round(F.col("i") / F.col("na"), 4))
        .withColumn("cont_b_in_a", F.round(F.col("i") / F.col("nb"), 4))
        .filter(F.greatest("cont_a_in_b", "cont_b_in_a") >= threshold)
        .select(
            F.col("a").alias("doc_a"), F.col("b").alias("doc_b"),
            "cont_a_in_b", "cont_b_in_a",
        )
    )


def containment_lsh(df: DataFrame, id_col: str, text_col: str,
                    k: int = 3, num_hashes: int = 16, bands: int = 8,
                    threshold: float = 0.8, seed: int = 7) -> DataFrame:
    """End-to-end LSH-scale asymmetric near-dup detection: MinHash
    banding generates candidates (O(docs×bands) shuffle, bucket-capped
    — the 100 TB regime), then ``verify_containment`` scores exact
    containment on the survivors only. Recall on a contained fraction
    f follows the banding curve at Jaccard≈f/(1+... ) — both engines
    share the deterministic hash family, so misses are identical."""
    rows_per_band = num_hashes // bands
    # persist the HASHED shingle frame: both consumers (signatures,
    # verify arrays) read hashes only, so the md5 runs once at
    # materialization and the pinned/scanned bytes are 8-byte longs,
    # not shingle strings (guide §2.3)
    sh = scratch_persist(hashed_shingles(
        word_shingles(df, id_col, text_col, k), id_col
    ))
    sig = _minhash_signatures_h60(sh, id_col, num_hashes, seed)
    # persist: three verify-side consumers would otherwise re-run the
    # band/bucket pipeline (see minhash_lsh_dedup)
    cand = scratch_persist(candidate_pairs(
        lsh_bands(sig, id_col, bands, rows_per_band), id_col
    ))
    return verify_containment(cand, sh, id_col, threshold)


def minhash_lsh_dedup(df: DataFrame, id_col: str, text_col: str,
                      k: int = 3, num_hashes: int = 16, bands: int = 8,
                      threshold: float = 0.5, seed: int = 7) -> DataFrame:
    """End-to-end MinHash-LSH near-duplicate pairs ≥ threshold.
    bands × rows_per_band must equal num_hashes; with 8 bands × 2 rows
    the candidate probability at Jaccard j is 1-(1-j²)⁸ (≈0.90 at
    j=0.5, ≈1.0 at j=0.8)."""
    rows_per_band = num_hashes // bands
    # the HASHED shingle frame feeds both the signature aggregate and
    # the verify stage; persist it so the (explode + distinct) shuffle
    # AND the md5 pass run once — at cluster scale this is the stage
    # you'd checkpoint
    sh = scratch_persist(hashed_shingles(
        word_shingles(df, id_col, text_col, k), id_col
    ))
    sig = _minhash_signatures_h60(sh, id_col, num_hashes, seed)
    # the candidate frame feeds verify_jaccard's TWO semi-join id
    # sets and its pair filter — three consumers, and without a
    # persist each one re-runs the whole signature → bands → bucket
    # expansion pipeline (measured 6.9 s -> 4.8 s e2e at sf0.1).
    # Post-cap candidates are O(colliding pairs), far smaller than
    # the corpus, so pinning them is scale-safe.
    cand = scratch_persist(candidate_pairs(
        lsh_bands(sig, id_col, bands, rows_per_band), id_col
    ))
    return verify_jaccard(cand, sh, id_col, threshold)


# ------------------------------------------------- exact n-gram Jaccard

def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        k: int = 3, threshold: float = 0.5) -> DataFrame:
    """Exact all-pairs shingle-Jaccard ≥ threshold via the inverted
    index (no LSH pruning): the correctness baseline for
    ``minhash_lsh_dedup``. Cost grows with Σ_shingle df² — use only at
    validation scale or after aggressive shingle-df capping."""
    # persist the HASHED shingle frame: the size aggregate and both
    # self-join sides read hashes only, so the md5 runs once and the
    # pinned/joined bytes are longs, not shingle strings (guide §2.3)
    sh = scratch_persist(hashed_shingles(
        word_shingles(df, id_col, text_col, k), id_col
    ))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    # single self-join on the hashed shingle: intersection counts come
    # straight out of the join's groupBy — no separate candidate pass
    hashed = sh.select(F.col(id_col), F.col("_h60").alias("sh"))
    inter = (
        hashed.select(F.col(id_col).alias("a"), "sh")
        .join(hashed.select(F.col(id_col).alias("b"), "sh"), "sh")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na = sizes.select(F.col(id_col).alias("a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "a").join(nb, "b")
        .withColumn(
            "jaccard",
            F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), "jaccard"
        )
    )


def containment_pairs(df: DataFrame, id_col: str, text_col: str,
                      k: int = 3, threshold: float = 0.8) -> DataFrame:
    """Asymmetric near-dup detection via Broder's containment
    coefficient C(A in B) = |A cap B| / |A| over k-word shingle sets.
    Catches a document wholly (or mostly) INCLUDED in a larger one —
    a prefix dump, a quoted article, a boilerplate-wrapped copy —
    which Jaccard misses when the size ratio is large (|A|=n, |B|=10n
    identical prefix: containment 1.0, Jaccard 0.1).

    Returns (doc_a, doc_b, cont_a_in_b, cont_b_in_a) for pairs where
    EITHER direction reaches the threshold; doc_a < doc_b.

    Same inverted-index regime as ``ngram_jaccard_pairs`` (exact,
    grows with Sigma_shingle df^2) — the validation-scale twin of
    ``containment_lsh``, which composes the MinHash-LSH candidate
    generator with ``verify_containment`` for the 100 TB path."""
    sh = scratch_persist(hashed_shingles(
        word_shingles(df, id_col, text_col, k), id_col
    ))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    hashed = sh.select(F.col(id_col), F.col("_h60").alias("sh"))
    inter = (
        hashed.select(F.col(id_col).alias("a"), "sh")
        .join(hashed.select(F.col(id_col).alias("b"), "sh"), "sh")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na = sizes.select(F.col(id_col).alias("a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "a").join(nb, "b")
        .withColumn("cont_a_in_b", F.round(F.col("i") / F.col("na"), 4))
        .withColumn("cont_b_in_a", F.round(F.col("i") / F.col("nb"), 4))
        .filter(
            F.greatest("cont_a_in_b", "cont_b_in_a") >= threshold
        )
        .select(
            F.col("a").alias("doc_a"), F.col("b").alias("doc_b"),
            "cont_a_in_b", "cont_b_in_a",
        )
    )


def decontaminate(df: DataFrame, benchmark: DataFrame, id_col: str,
                  text_col: str, k: int = 5) -> DataFrame:
    """Benchmark decontamination (the GPT-3/PaLM n-gram rule): flag
    every training document that shares at least one k-word shingle
    with a held-out benchmark/eval set. Returns (id, n_shared,
    contaminated) for ALL training docs — callers drop the flagged
    ones before training.

    One shingle explode per side, an equi-join on the shingle, and a
    per-doc count: linear passes plus one join keyed by shingle. The
    benchmark side is tiny in practice (eval sets are thousands of
    docs, the corpus is billions) so AQE runtime-broadcasts its
    distinct-shingle set; no hard hint, because nothing forces callers
    to pass a small frame."""
    doc_sh = word_shingles(df, id_col, text_col, k)
    bench_sh = (
        word_shingles(benchmark, id_col, text_col, k)
        .select("shingle")
        .distinct()
    )
    hits = (
        doc_sh.join(bench_sh, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# ----------------------------------------------------------------- SimHash

def simhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       bits: int = 16) -> DataFrame:
    """Per-document SimHash (Charikar 2002) over distinct word tokens:
    bit j of the signature is the sign of Σ_token (±1 by bit j of the
    token hash). Near-duplicate docs agree on most bits; equal
    signatures form dedup buckets. One explode + one aggregate."""
    toks = (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    h = md5_long(F.col("tok"))
    votes = [
        F.sum(
            (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    sig = toks.groupBy(id_col).agg(*votes)
    sim = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1)).otherwise(F.lit(0))
        term = (bit * F.lit(1 << j)).cast("long")
        sim = term if sim is None else sim + term
    return sig.select(F.col(id_col), sim.alias("simhash"))


def substring_spans(df: DataFrame, id_col: str, text_col: str,
                    min_tokens: int = 8) -> DataFrame:
    """Exact shared-substring spans across documents (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better",
    ACL'22): every maximal run of >= ``min_tokens`` consecutive words
    that two documents share verbatim, with its position in both. The
    suffix-array method of the paper is a single-machine construction;
    the relational equivalent is a POSITIONAL L-gram inverted index —
    the same exact spans, built from three linear passes that
    partition by construction:

    1. (doc, pos, hash(L-gram)) — one explode, no shuffle;
    2. index self-join on the 60-bit gram hash (doc_a < doc_b) — the
       join key is content-distributed; boilerplate grams are the
       skew axis and AQE's skew split handles the hot hashes;
    3. adjacent matches merge into maximal spans with the diagonal
       trick: matches of the same pair on the same diagonal
       (pos_a - pos_b) with consecutive pos_a form one span — a
       gaps-and-islands window per (pair, diagonal), tiny partitions
       by construction.

    Returns (doc_a, doc_b, start_a, start_b, span_tokens), 1-based
    positions, one row per MAXIMAL span (runs shorter than min_tokens
    have no matching L-gram and never appear). MD5-based gram hashes
    make the result engine-exact."""
    L = min_tokens
    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_w")
    ).filter(F.size("_w") >= L)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_w") - (L - 1)),
        lambda i: F.struct(
            i.alias("pos"),
            md5_long(F.array_join(F.slice(F.col("_w"), i, L), " ")).alias(
                "h"
            ),
        ),
    )
    g = toks.select(F.col(id_col), F.explode(grams).alias("s")).select(
        F.col(id_col).alias("doc"),
        F.col("s.pos").alias("pos"),
        F.col("s.h").alias("h"),
    )
    a = g.select(
        F.col("doc").alias("da"), F.col("pos").alias("pa"), "h"
    )
    b = g.select(
        F.col("doc").alias("db"), F.col("pos").alias("pb"), "h"
    )
    p = a.join(b, "h").filter(F.col("da") < F.col("db")).select(
        "da", "db", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag")
    )
    w = Window.partitionBy("da", "db", "diag").orderBy("pa")
    r = p.withColumn("isl", F.col("pa") - F.row_number().over(w))
    return (
        r.groupBy("da", "db", "diag", "isl")
        .agg(
            F.min("pa").alias("min_pa"),
            F.min("pb").alias("min_pb"),
            F.max("pa").alias("max_pa"),
        )
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.col("min_pa").cast("long").alias("start_a"),
            F.col("min_pb").cast("long").alias("start_b"),
            (F.col("max_pa") - F.col("min_pa") + L)
            .cast("long")
            .alias("span_tokens"),
        )
    )


def boilerplate_fraction(df: DataFrame, id_col: str, text_col: str,
                         k: int = 3, df_frac: float = 0.2) -> DataFrame:
    """Template/boilerplate contamination ledger: a k-word shingle is
    'boilerplate' when it appears in more than ``df_frac`` of all
    documents (headers, footers, license blocks, scraped nav chrome —
    the cross-document repetition C4's within-line rules can't see).
    Each document is scored by the fraction of its shingle POSITIONS
    covered by boilerplate shingles — the curation signal for
    template-heavy sources.

    Shape: one shingle document-frequency aggregate (map-side
    combined), the boilerplate set joined back onto the positional
    shingle stream (shuffle keyed by shingle — at 100 TB the
    boilerplate set is small but its members are the HOT keys, so the
    join deliberately stays a shuffle join and lets AQE split the hot
    partitions), one per-doc ratio. Returns (id, n_shingles,
    n_boiler, boiler_frac rounded 4)."""
    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_w")
    ).filter(F.size("_w") >= k)
    shingle = F.transform(
        F.sequence(F.lit(1), F.size("_w") - (k - 1)),
        lambda i: F.array_join(F.slice(F.col("_w"), i, k), " "),
    )
    pos = toks.select(F.col(id_col), F.explode(shingle).alias("shingle"))
    n_docs = df.select(F.countDistinct(id_col).alias("nd"))
    docfreq = (
        pos.select(id_col, "shingle")
        .distinct()
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    boiler = (
        docfreq.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") > F.col("nd") * df_frac)
        .select("shingle")
    )
    marked = pos.join(
        boiler.withColumn("_b", F.lit(1)), "shingle", "left"
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce("_b", F.lit(0))).alias("n_boiler"),
        )
        .select(
            F.col(id_col),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.col("n_boiler").cast("long").alias("n_boiler"),
            F.round(F.col("n_boiler") / F.col("n_shingles"), 4).alias(
                "boiler_frac"
            ),
        )
    )


def duplicate_weights(docs: DataFrame, id_col: str,
                      pairs: DataFrame) -> DataFrame:
    """Count-aware duplicate DOWNWEIGHTING — the alternative to
    dropping: every document trains, but a document in a k-member
    near-dup cluster carries weight 1/k, so duplicated content
    contributes once in expectation (the standard remedy for
    memorization-prone repeated text when hard dedup is too lossy).

    Returns one row per document: (id, cluster_id, cluster_size,
    weight_fp) with weight = floor(1e6 / cluster_size); documents in
    no pair are their own singleton (weight exactly 1e6). Cost on
    top of the pair evidence: the cluster map (the two-star CC of
    ``graph.connected_components_twostar`` over PAIRS, never the
    corpus), one broadcast-or-shuffle left join to stamp it, one
    cluster-size aggregate."""
    clusters = connected_components_twostar(pairs)
    stamped = docs.select(F.col(id_col)).join(
        clusters.withColumnRenamed("doc_id", id_col), id_col, "left"
    ).select(
        F.col(id_col),
        F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
    )
    sizes = stamped.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        stamped.join(sizes, "cluster_id")
        .select(
            F.col(id_col),
            F.col("cluster_id"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.floor(F.lit(1_000_000) / F.col("cluster_size"))
            .cast("long").alias("weight_fp"),
        )
    )


def source_overlap_matrix(df: DataFrame, source_col: str,
                          text_col: str, k: int = 5) -> DataFrame:
    """Pairwise cross-source k-shingle overlap matrix: for every
    unordered source pair (a < b) that shares at least one distinct
    k-word shingle, the shared-shingle count, each side's
    distinct-shingle total, and the fp6 Jaccard between the two
    shingle sets. ``decontaminate`` answers "is doc X contaminated
    vs THE benchmark"; this answers the corpus-level question a
    curation team asks first — which source pairs bleed into each
    other at all, and how badly.

    Scale shape: ONE groupBy collects each shingle's source set
    (bounded by the number of sources, not the corpus), pairs expand
    map-side from the sorted array (i < j ⇒ a < b), and the final
    aggregate is keyed by source pairs — output is at most
    |sources|², never corpus-sized. The shingle relation is never
    self-joined. Totals are a |sources|-row broadcast."""
    sh = word_shingles(df, source_col, text_col, k=k)
    totals = sh.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    groups = (
        sh.groupBy("shingle")
        .agg(F.array_sort(F.collect_set(source_col)).alias("_s"))
        .filter(F.size("_s") > 1)
    )
    pairs = F.flatten(
        F.transform(
            F.col("_s"),
            lambda a, i: F.transform(
                F.slice(F.col("_s"), i + 2, F.size("_s")),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )
    shared = (
        groups.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.a").alias("source_a"),
            F.col("p.b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ta = totals.select(
        F.col(source_col).alias("source_a"), F.col("_n").alias("n_a")
    )
    tb = totals.select(
        F.col(source_col).alias("source_b"), F.col("_n").alias("n_b")
    )
    return (
        shared.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("shared").cast("long").alias("shared"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.floor(
                F.lit(1_000_000) * F.col("shared")
                / (F.col("n_a") + F.col("n_b") - F.col("shared"))
            ).cast("long").alias("jaccard_fp"),
        )
    )
