"""Similarity search over embedding columns (beyond-reference).

Approximate-nearest-neighbor over an ``array<float>`` column:

- ``cosine_topk``: brute-force exact top-k for a (small) query set —
  broadcast the queries, stream the corpus once, per-query bounded
  heap via window rank. The correctness baseline.
- ``blocked_cosine_pairs``: all-pairs cosine ≥ threshold within a
  blocking key (cluster/label/LSH bucket) — near-dup detection where
  candidate pairs are confined to blocks.
- ``lsh_topk``: random-hyperplane LSH (sign-bit signatures) bucketing
  the corpus so each query only scores its bucket — the scale path
  when the query set is itself huge.

Cosine dot products run as JVM-side higher-order functions
(``zip_with`` + ``aggregate``) in double precision. Hyperplane
signatures (``lsh_topk``, ``knn_graph``, the banded semantic family)
all come from one NumPy pandas-UDF kernel, ``_signatures``, which
signs each Arrow batch in the same left-to-right summation order and
runs once per vector per query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.session import scratch_persist, tiny_df
from .hashing import md5_long


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision via a left-fold (deterministic
    summation order — reproducible across engines)."""
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def l2_normalize(df: DataFrame, vec_col: str, out: str = "unit",
                 norm_col: str = "norm") -> DataFrame:
    """Append the unit-length vector (and its norm) for ``vec_col``.

    The norm is projected into its own column FIRST and the transform
    divides by that column — embedding the aggregate inside the
    lambda would re-evaluate it per element (the HOF re-evaluation
    trap; see dedup shingles). Zero vectors map to NULL, not a
    divide-by-zero vector of NaNs."""
    normed = df.withColumn(norm_col, _norm(F.col(vec_col)))
    return normed.withColumn(
        out,
        F.when(
            F.col(norm_col) > 0.0,
            F.transform(
                F.col(vec_col),
                lambda x: x.cast("double") / F.col(norm_col),
            ),
        ),
    )


def quantize_int8(df: DataFrame, id_col: str, vec_col: str,
                  keep: tuple = ()) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization (the standard ANN
    index compression: 4x smaller than float32, dot products stay
    proportional): scale = max|xᵢ|/127, codeᵢ = round(xᵢ/scale).

    Pure per-row array math — no shuffle, runs inside codegen at scan
    speed over any corpus size. The abs-max is projected into its own
    column first so the fold runs once, not once per element (HOF
    re-evaluation trap). All arithmetic is in double so every engine
    derives bit-identical codes from float32 inputs; zero vectors get
    scale 0 and all-zero codes."""
    amax = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    )
    proj = df.select(
        F.col(id_col), F.col(vec_col), amax.alias("_amax"),
        *[F.col(c) for c in keep],
    )
    scale = F.when(F.col("_amax") > 0.0, F.col("_amax") / F.lit(127.0))
    codes = F.when(
        F.col("_amax") > 0.0,
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") / (F.col("_amax") / F.lit(127.0)))
            .cast("int"),
        ),
    ).otherwise(F.transform(F.col(vec_col), lambda x: F.lit(0)))
    return proj.select(
        F.col(id_col),
        F.coalesce(scale, F.lit(0.0)).alias("scale"),
        codes.alias("codes"),
        *[F.col(c) for c in keep],
    )


def cosine_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                vec_col: str, k: int = 5,
                round_digits: int = 6) -> DataFrame:
    """Exact brute-force cosine top-k per query vector.

    queries is broadcast (it must be small — the brute-force regime);
    the corpus is scanned exactly once with no shuffle of the vectors;
    only (query, candidate, cosine) triples reach the per-query top-k
    window. Ranking uses the ROUNDED cosine with an id tie-break so
    results are deterministic and engine-portable.

    Self-matches (same id) are excluded."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("_qv"), F.col("_cv"))
                / (F.col("_qn") * F.col("_cn")),
                round_digits,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine",
                F.col("rk").cast("long").alias("rk"))
    )


def hard_negative_topk(corpus: DataFrame, queries: DataFrame,
                       id_col: str, vec_col: str, label_col: str,
                       k: int = 5, round_digits: int = 6) -> DataFrame:
    """Hard-negative mining for contrastive training data: per anchor
    (query), the top-k most-similar corpus vectors whose LABEL
    DIFFERS from the anchor's — the highest-value negatives for a
    contrastive or reranker objective (the in-batch-negatives
    literature's "hard negative" selection, done corpus-side).

    Same plan shape as :func:`cosine_topk` — anchors broadcast,
    single corpus scan, label-mismatch filter evaluated before the
    cosine so matching-label rows never pay the dot product, bounded
    per-anchor top-k window. The 100 TB path swaps the scan for the
    stored IVF-PQ index probed per anchor with a label partition
    filter (ann_index.serve_topk + filtered serving), trading recall
    for the probed-cell bound; this exact form is its oracle."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("_ql"),
        F.col(vec_col).alias("_qv"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("_cl"),
        F.col(vec_col).alias("_cv"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("_cl") != F.col("_ql"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("_qv"), F.col("_cv"))
                / (F.col("_qn") * F.col("_cn")),
                round_digits,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine",
                F.col("rk").cast("long").alias("rk"))
    )


def blocked_cosine_pairs(df: DataFrame, id_col: str, vec_col: str,
                         block_col: str, threshold: float,
                         round_digits: int = 6) -> DataFrame:
    """Near-duplicate pairs (cosine ≥ threshold) within each block.
    The equi-join on the block key bounds the pair explosion to
    Σ_block n²; blocks come from labels, clusters, or LSH buckets."""
    a = df.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        _norm(F.col(vec_col)).alias("_na"),
    )
    b = df.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        _norm(F.col(vec_col)).alias("_nb"),
    )
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb")),
                round_digits,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _neg_cos_entries(cb, vec_sql: str, nrm_sql: str,
                     round_digits: int) -> str:
    """named_struct entries for the max-cosine argmin against a
    collected [(cid, values, norm)] codebook: negated ROUNDED cosine
    (so struct array_min orders cosine DESC, cid ASC), arithmetic
    bit-identical to a joined-column plan (literal doubles ==
    cast-to-double of the original values, dot_sql replays the fold
    order).

    A zero-norm codebook entry (or row vector) makes the divisor 0:
    under ANSI that raises, and with ANSI off the NULL cosine would
    sort FIRST in struct ``array_min`` — making the degenerate entry
    win every assignment, the opposite of the window-rank plan's DESC
    NULLS LAST and of the DuckDB oracles. nullif() turns the zero
    divisor into a NULL cosine on every config, and
    coalesce(…, +Infinity) pins it to the losing end."""
    from .clustering import dot_sql, sql_double

    return ", ".join(
        "named_struct('d', coalesce(-round("
        f"{dot_sql(vec_sql, cv)} / "
        f"nullif({nrm_sql} * {sql_double(cn)}, CAST(0.0 AS DOUBLE)), "
        f"{round_digits}), CAST('Infinity' AS DOUBLE)), "
        f"'c', CAST({cid} AS BIGINT))"
        for cid, cv, cn in cb
    )


def collect_cosine_codebook(cb_src: DataFrame) -> list:
    """Collect a (_cid, _cv) codebook frame WITH its Spark-computed
    norms as [(cid, values, norm)] — the input shape of
    _neg_cos_entries / ivf_cell_assign."""
    return [
        (int(r["_cid"]), list(r["_cv"]), float(r["_cn"]))
        for r in cb_src.select(
            "_cid", "_cv", _norm(F.col("_cv")).alias("_cn")
        ).collect()
    ]


def _empty_topk(corpus: DataFrame, score_col: str,
                score_type: str) -> DataFrame:
    """Correctly-typed empty (query_id, neighbor_id, <score>, rk)
    frame — the empty-codebook result shape shared by every top-k
    variant (an empty inlined codebook cannot render a valid
    array_min expression)."""
    return tiny_df(
        corpus.sparkSession, [],
        f"query_id long, neighbor_id long, {score_col} {score_type}, "
        "rk long",
    )


def ivf_cell_assign(df: DataFrame, id_col: str, vec_col: str, cb: list,
                    round_digits: int = 6, keep: tuple = ()) -> DataFrame:
    """Nearest-cell assignment against a FROZEN collected codebook —
    one pure projection: no state, no join, no shuffle, which makes
    it safe on a STREAMING DataFrame as-is. This is how an IVF index
    absorbs new vectors in production: the coarse quantizer is
    trained/frozen batch-side, arrivals ride a file stream through
    this expression, and the (id, cid) assignments append straight
    to the cell inventory. Returns (id, cid)."""
    proj = df.select(
        F.col(id_col),
        F.col(vec_col).alias("_cv"),
        _norm(F.col(vec_col)).alias("_cn"),
        *[F.col(c) for c in keep],
    )
    if not cb:
        # empty codebook would render array_min(array()).c — analysis
        # error on the untyped empty array; same guard as
        # clustering.assign_clusters: a correctly-typed empty frame
        return proj.select(
            F.col(id_col),
            F.lit(None).cast("long").alias("cid"),
            *[F.col(c) for c in keep],
        ).limit(0)
    return proj.select(
        F.col(id_col),
        F.expr(
            "array_min(array("
            f"{_neg_cos_entries(cb, '`_cv`', '`_cn`', round_digits)})).c"
        ).alias("cid"),
        *[F.col(c) for c in keep],
    )


def ivf_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
             vec_col: str, k: int = 5, n_centroids: int = 8,
             n_probe: int = 2, round_digits: int = 6,
             centroids: DataFrame | None = None) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus
    into centroid cells, search only the ``n_probe`` cells nearest to
    each query.

    ``centroids`` (a (cluster, centroid) table, e.g. from
    clustering.kmeans_fit) is the trained codebook; when omitted, the
    ``n_centroids`` lowest-id corpus vectors stand in — deterministic
    and oracle-friendly. Either way the (<=k)-row codebook is
    COLLECTED and inlined as literal arrays, so both cell assignment
    and query probing run as pure codegen expressions (``array_min`` /
    ``array_sort`` over (−cosine, cid) structs): the corpus is scanned
    once with ZERO Exchange — no crossJoin, no per-row window — and
    only probed-cell candidates are scored. Recall < 1 by
    construction when n_probe < n_centroids.

    All rankings use the ROUNDED cosine with an id tie-break so
    results are deterministic and engine-portable (argmin on the
    negated rounded cosine ≡ cosine DESC, cid ASC)."""
    if centroids is not None:
        cb_src = centroids.select(
            F.col("cluster").alias("_cid"), F.col("centroid").alias("_cv")
        )
    else:
        cb_src = corpus.orderBy(id_col).limit(n_centroids).select(
            F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cv")
        )
    # collect values AND the Spark-computed norm, so the inlined norm
    # is bit-identical to the old joined _ctn column at zero per-row
    # cost (HOFs over literals don't constant-fold)
    cb = collect_cosine_codebook(cb_src)
    if not cb:
        return _empty_topk(corpus, "cosine", "double")
    cells = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        _norm(F.col(vec_col)).alias("_cn"),
    ).select(
        "neighbor_id", "_cv", "_cn",
        F.expr(
            "array_min(array("
            f"{_neg_cos_entries(cb, '`_cv`', '`_cn`', round_digits)})).c"
        ).alias("cid"),
    )
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _norm(F.col(vec_col)).alias("_qn"),
    ).select(
        "query_id", "_qv", "_qn",
        F.explode(
            F.expr(
                "slice(array_sort(array("
                f"{_neg_cos_entries(cb, '`_qv`', '`_qn`', round_digits)}"
                f")), 1, {int(n_probe)})"
            )
        ).alias("_p"),
    ).select(
        "query_id", "_qv", "_qn", F.col("_p").getField("c").alias("cid")
    )
    scored = (
        cells.join(F.broadcast(probes), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("_qv"), F.col("_cv"))
                / (F.col("_qn") * F.col("_cn")),
                round_digits,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine",
                F.col("rk").cast("long").alias("rk"))
    )


def _plane_sign(p: int, i: int) -> float:
    """±1 component of pseudo-random hyperplane p at dim i, derived
    from md5 of a fixed string — computed driver-side (it's a pure
    constant) so the plan carries literals, not 64×planes hash calls."""
    import hashlib

    h = int(hashlib.md5(f"plane:{p}:{i}".encode()).hexdigest()[:15], 16)
    return 1.0 if h % 2 == 0 else -1.0


def _pack_signs(V, S, width: int):
    """Packed hyperplane signatures of the rows of ``V`` (n, dim)
    against the ±1 plane matrix ``S`` (planes, dim): column g of the
    (n, planes // width) int64 result packs the sign bits of planes
    g*width .. g*width + width - 1, plane g*width + r at bit r.

    Each dot is accumulated dimension by dimension, ``acc = acc +
    x_i·s_i`` from acc = 0.0 — the left-to-right IEEE order of the
    DuckDB oracles' ``list_reduce`` — in O(n × planes) memory. A row
    of zeros signs to 0."""
    import numpy as np

    acc = np.zeros((V.shape[0], S.shape[0]))
    for i in range(V.shape[1]):
        acc += V[:, i, None] * S[None, :, i]
    bits = (acc > 0).reshape(V.shape[0], -1, width).astype(np.int64)
    return bits @ (np.int64(1) << np.arange(width, dtype=np.int64))


def _signatures(vec_col: str, dim: int, plane_ids, width: int) -> Column:
    """The one hyperplane-signature kernel: ``array<long>`` holding one
    packed signature per consecutive group of ``width`` ids in
    ``plane_ids`` (:func:`_pack_signs` over each Arrow batch, planes
    from :func:`_plane_sign`).

    NULL vectors, vectors with a NULL element and vectors whose length
    is not ``dim`` sign to 0 in every group. A NaN element in a
    full-length vector raises ``ValueError``: NaN embeddings are
    outside the contract, and the oracles' fold would set sign bits
    for them. Arrow hands NULL elements to pandas as NaN too, so the
    NaN test is a Spark-side ``array_contains(vec, NaN)`` flag (NULL
    elements do not match) passed in next to the vector."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    S = np.asarray([[_plane_sign(p, i) for i in range(dim)]
                    for p in plane_ids])

    def _sign(vec, has_nan):
        V = np.zeros((len(vec), dim))
        for j, (v, nan) in enumerate(zip(vec, has_nan)):
            if v is None or len(v) != dim:
                continue
            if nan:
                raise ValueError(
                    f"NaN element in embedding column {vec_col!r}: "
                    "NaN embeddings cannot be signed"
                )
            a = np.asarray(v, dtype=np.float64)
            if not np.isnan(a).any():  # NaN here is a NULL element
                V[j] = a
        return pd.Series(list(_pack_signs(V, S, width)))

    # annotations as REAL objects: pandas is imported locally, so
    # string hints would not resolve during pandas_udf introspection
    _sign.__annotations__ = {"vec": pd.Series, "has_nan": pd.Series,
                             "return": pd.Series}
    return F.pandas_udf(T.ArrayType(T.LongType()))(_sign)(
        F.col(vec_col), F.array_contains(F.col(vec_col), float("nan"))
    )


def _signed(df: DataFrame, id_col: str, vec_col: str, dim: int,
            planes: int) -> DataFrame:
    """``(_id, _v, _n, _sig)``: each row of ``df`` with its norm and
    its ``planes``-bit signature, persisted so the kernel runs once
    per row however often the frame is read (a self-join reads it
    twice, and a join on ``_sig`` infers an ``IS NOT NULL`` filter
    that would otherwise copy the kernel call below the projection)."""
    sig = F.element_at(_signatures(vec_col, dim, range(planes), planes), 1)
    return scratch_persist(df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col)).alias("_n"),
        sig.alias("_sig"),
    ))


def lsh_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
             vec_col: str, dim: int, k: int = 5, planes: int = 8,
             round_digits: int = 6, multiprobe: int = 0) -> DataFrame:
    """Approximate top-k: bucket corpus and queries by hyperplane
    signature, score only within matching buckets. Recall < 1 by
    construction (a neighbor in a different bucket is missed). This is
    the path when |queries| is too large to broadcast-score the whole
    corpus.

    ``multiprobe=m`` additionally probes every bucket at Hamming
    distance 1 on the first m planes (the standard recall/cost dial:
    m extra buckets per query, no extra corpus passes — queries are
    expanded, the corpus side is untouched).

    Each vector is signed once; passing the same frame as ``corpus``
    and ``queries`` (:func:`knn_graph`) signs it once for both sides.
    A NaN element in an embedding raises ``ValueError`` (see
    :func:`_signatures`); NULL and wrong-length vectors bucket at
    signature 0."""
    cs = _signed(corpus, id_col, vec_col, dim, planes)
    signed_q = cs if queries is corpus else _signed(
        queries, id_col, vec_col, dim, planes
    )
    sig = F.col("_sig")
    qs = signed_q.select(
        F.col("_id").alias("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_n").alias("_qn"),
        F.explode(F.array(
            sig, *[sig.bitwiseXOR(F.lit(1 << p)) for p in range(multiprobe)]
        )).alias("_sig"),
    )
    scored = (
        cs.select(F.col("_id").alias("neighbor_id"),
                  F.col("_v").alias("_cv"), F.col("_n").alias("_cn"),
                  "_sig")
        .join(qs, "_sig")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("_qv"), F.col("_cv"))
                / (F.col("_qn") * F.col("_cn")),
                round_digits,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine",
                F.col("rk").cast("long").alias("rk"))
    )


def adaptive_planes(n: int, target_bucket: int = 128, lo: int = 4,
                    hi: int = 12) -> int:
    """Plane count that holds expected LSH bucket population at
    ~``target_bucket`` as the corpus grows: ceil(log2(n / target)),
    clamped to [lo, hi]. This is THE scale lever for the self-join
    families (knn_graph, banded prune): with planes fixed, in-bucket
    pair cost is n²/2^planes — quadratic; growing planes with
    log(corpus) keeps buckets flat and total pair work ~linear. The
    formula is replayed verbatim in SQL by the adaptive oracle CTEs
    (LEAST/GREATEST/CEIL/LOG2 over count(*)), so both engines pick
    the same bucketing at every scale."""
    import math

    if n <= 0:
        return lo
    return min(hi, max(lo, math.ceil(math.log2(n / target_bucket))))


def knn_graph_adaptive(df: DataFrame, id_col: str, vec_col: str,
                       dim: int, k: int = 3, target_bucket: int = 128,
                       lo_planes: int = 4, hi_planes: int = 12,
                       round_digits: int = 6) -> DataFrame:
    """:func:`knn_graph` with the plane count chosen from the corpus
    size (:func:`adaptive_planes`) — one count() job (parquet footer
    metadata, near-free) buys a bucketing that survives 10×/100×
    growth instead of going quadratic. At the verified gate scales
    (n ≤ 2048 with the defaults) this resolves to exactly
    ``planes=4``, so results are bit-identical to the fixed
    parameterization there."""
    planes = adaptive_planes(df.count(), target_bucket, lo_planes,
                             hi_planes)
    return knn_graph(df, id_col, vec_col, dim, k=k, planes=planes,
                     round_digits=round_digits)


def knn_graph(df: DataFrame, id_col: str, vec_col: str, dim: int,
              k: int = 3, planes: int = 4,
              round_digits: int = 6) -> DataFrame:
    """Approximate k-NN graph: every vector is simultaneously query
    and corpus, bucketed by hyperplane signature, with top-k cosine
    neighbors ranked within each node's bucket only.

    This is the all-pairs regime where brute force is n^2 and even
    per-query IVF probing is n·cells — LSH bucketing caps the join at
    sum(bucket^2) pairs, and planes is the dial: each extra plane
    halves expected bucket size (quartering pair cost) at some recall
    loss. The graph (src, neighbor_id, cosine, rk) feeds mutual-kNN
    clustering, SemDeDup-style pruning, and graph-based diversity
    sampling downstream."""
    return lsh_topk(
        df, df, id_col, vec_col, dim=dim, k=k, planes=planes,
        round_digits=round_digits,
    ).select(
        F.col("query_id").alias("src"), "neighbor_id", "cosine", "rk"
    )


def semantic_prune(df: DataFrame, id_col: str, vec_col: str,
                   k: int = 8, iters: int = 2, threshold: float = 0.4,
                   round_digits: int = 6) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al.,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", 2023): cluster the corpus with the deterministic
    k-means, then within each cluster drop every vector that has a
    LOWER-ID neighbor at cosine >= threshold. Returns one row per
    input vector: (id, cluster, keep).

    The drop rule is "dominated by any lower id", not the paper's
    sequential greedy sweep: it is order-free (one join, no
    iteration), deterministic, and strictly more aggressive — if B
    duplicates A and C duplicates B, both B and C go (the greedy
    sweep would re-admit C when C~A is below threshold). For corpus
    curation that bias is the safe direction.

    Scale shape: k-means is the existing broadcast-argmin loop;
    within-cluster pairing is Sigma_cluster n^2, so k must scale with
    the corpus (target 1-10K vectors per cluster at 100 TB — SemDeDup
    itself runs ~100K clusters for web scale). Everything downstream
    of the centroid fit is two shuffles: one cluster-keyed pair join,
    one left join for the keep flag."""
    from .clustering import assign_clusters, kmeans_fit

    cents = kmeans_fit(df, id_col, vec_col, k=k, iters=iters,
                       round_digits=round_digits)
    assigned = assign_clusters(df, cents, id_col, vec_col,
                               round_digits).localCheckpoint()
    pairs = blocked_cosine_pairs(
        assigned, id_col, vec_col, "cluster", threshold, round_digits
    )
    dropped = (
        pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return (
        assigned.join(dropped, id_col, "left")
        .select(
            id_col,
            "cluster",
            F.coalesce(F.col("_drop"), F.lit(False)).alias("_d"),
        )
        .select(id_col, "cluster", (~F.col("_d")).alias("keep"))
    )


# Adaptive band widening draws EXTRA sign bits (rows 8..15 of a
# band) from a plane range disjoint from every historical plane
# index, so the first 8 bits of band b are bit-identical to the
# fixed rows_per_band=8 parameterization at every corpus size —
# hashes at the verified gate scales cannot move when a query
# switches to the adaptive width.
EXT_PLANE_OFFSET = 4096
_BASE_ROWS = 8


def adaptive_rows_per_band(n: int, target_bucket: int = 128,
                           lo: int = 8, hi: int = 16) -> int:
    """Band width (sign bits per band) that holds expected semantic
    LSH bucket population at ~``target_bucket`` as the corpus grows —
    :func:`adaptive_planes` with the banded family's clamps. With the
    width fixed at 8, the per-band key space is 256 buckets FOREVER,
    so in-bucket pair cost is n²/256 — quadratic (the sf10 probe
    filled 78 GB of spill exactly this way); growing the width with
    log(corpus) keeps buckets flat. At n ≤ 32768·target the formula
    resolves to 8 = the historical fixed parameterization, so every
    recorded gate/sf0.1/sf1 hash is unchanged."""
    return adaptive_planes(n, target_bucket, lo, hi)


def _band_planes(bands: int, rows_per_band: int) -> list:
    """The (band, row) -> plane-id map of :func:`band_sig_structs_np`
    (replayed by the SQL oracles)."""
    planes = []
    for b in range(bands):
        for r in range(rows_per_band):
            if rows_per_band <= _BASE_ROWS:
                pl = b * rows_per_band + r
            elif r < _BASE_ROWS:
                pl = b * _BASE_ROWS + r
            else:
                pl = EXT_PLANE_OFFSET + b * _BASE_ROWS + (r - _BASE_ROWS)
            planes.append(pl)
    return planes


def band_sig_structs_np(vec_col: str, dim: int, bands: int,
                        rows_per_band: int) -> Column:
    """array<struct<band, sig>> of banded hyperplane signatures from
    the one kernel (:func:`_signatures`): band b packs
    ``rows_per_band`` sign bits over the :func:`_band_planes` plane
    ids, so the batch prune, the streaming ingest gate and the SQL
    oracles all band identically. NULL, NULL-element and wrong-length
    vectors sign to 0 in every band; a NaN element raises.

    For ``rows_per_band > 8`` (the adaptive widths of
    :func:`adaptive_rows_per_band`) the first 8 bits keep the
    historical planes ``b*8 + r`` and bits 8.. draw from
    ``EXT_PLANE_OFFSET + b*8 + (r-8)`` — a disjoint plane range —
    so widening REFINES the historical buckets (every wide bucket is
    a subset of a base bucket) and the base-8 signatures never
    change."""
    sigs = _signatures(vec_col, dim, _band_planes(bands, rows_per_band),
                       rows_per_band)
    return F.transform(
        sigs, lambda sig, b: F.struct(b.alias("band"), sig.alias("sig"))
    )


def build_semantic_lsh_index(static_df: DataFrame, id_col: str,
                             vec_col: str, dim: int, bands: int = 4,
                             rows_per_band: int = 8) -> tuple:
    """Batch-side index over the curated embedding corpus for the
    streaming ingest gate: the banded signature table
    ``(band, sig, _idx_id)`` arriving vectors join for candidates,
    and the vector table ``(_idx_id, _idx_vec, _idx_norm)`` they
    join for exact cosine verification. Built from the SAME banding
    as :func:`banded_semantic_prune`, so batch and stream agree
    bit-for-bit (the embedding analog of
    streaming/minhash_stream.build_lsh_index)."""
    sigs = static_df.select(
        F.col(id_col).alias("_idx_id"),
        F.explode(band_sig_structs_np(vec_col, dim, bands,
                                      rows_per_band)).alias("_bs"),
    ).select("_idx_id", F.col("_bs.band").alias("band"),
             F.col("_bs.sig").alias("sig"))
    vecs = static_df.select(
        F.col(id_col).alias("_idx_id"),
        F.col(vec_col).alias("_idx_vec"),
        _norm(F.col(vec_col)).alias("_idx_norm"),
    )
    return sigs, vecs


def stream_semantic_dedup_pairs(stream: DataFrame,
                                index_bands: DataFrame,
                                index_vecs: DataFrame, id_col: str,
                                vec_col: str, dim: int,
                                bands: int = 4,
                                rows_per_band: int = 8,
                                threshold: float = 0.4,
                                round_digits: int = 6) -> DataFrame:
    """Ingest-time semantic dedup — the embedding analog of the
    MinHash ingest gate (streaming/minhash_stream): arriving vectors
    band with the SAME deterministic hyperplanes as the batch prune,
    candidates come from a stream-static join against the frozen
    banded index (per-trigger work O(batch x matched buckets),
    independent of corpus size — the corpus appears only through the
    index), band collisions and file re-deliveries collapse in
    dropDuplicates state, and every candidate verifies by EXACT
    cosine before emitting (vec_id, dominator, cosine).

    State caveat (ADVICE r12): the dropDuplicates has NO watermark,
    so its state grows with the number of distinct (id, index-id)
    pairs ever seen — exact and fine for the availableNow drain shape
    this engine ships (state dies with the run), but a CONTINUOUS
    deployment must bound it: add an event-time column and
    ``withWatermark`` before the dropDuplicates (collapsing only
    re-deliveries inside the lateness window), or use
    :func:`streaming.batched_index`'s journaled growing-index shape
    (stream_semantic_index_maintain) where dedup is a keyed ledger
    upsert instead of operator state."""
    sigs = stream.select(
        F.col(id_col), F.col(vec_col),
        F.explode(band_sig_structs_np(vec_col, dim, bands,
                                      rows_per_band)).alias("_bs"),
    ).select(F.col(id_col), F.col(vec_col),
             F.col("_bs.band").alias("band"),
             F.col("_bs.sig").alias("sig"))
    cand = (
        sigs.join(index_bands, ["band", "sig"])
        .filter(F.col("_idx_id") != F.col(id_col))
        .select(F.col(id_col), F.col(vec_col), "_idx_id")
        .dropDuplicates([id_col, "_idx_id"])
    )
    cos = F.round(
        _dot(F.col(vec_col), F.col("_idx_vec"))
        / (_norm(F.col(vec_col)) * F.col("_idx_norm")),
        round_digits,
    )
    return (
        cand.join(index_vecs, "_idx_id")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select(F.col(id_col), F.col("_idx_id").alias("dominator"),
                "cosine")
    )



def banded_semantic_prune(df: DataFrame, id_col: str, vec_col: str,
                          dim: int, bands: int = 4,
                          rows_per_band: int = 8,
                          threshold: float = 0.4,
                          max_bucket: int = 256,
                          round_digits: int = 6) -> DataFrame:
    """SemDeDup at the production scale shape: banded random-hyperplane
    LSH replaces :func:`semantic_prune`'s fixed-k k-means partition.
    Each vector gets ``bands`` signatures of ``rows_per_band`` sign
    bits (Charikar hyperplanes, deterministic ±1 constants — the same
    :func:`_plane_sign` family the LSH top-k uses, so a SQL oracle
    replays every bit); vectors sharing ANY band signature become
    candidate pairs, candidates verify by EXACT cosine, and a vector
    with a verified lower-id neighbor is dropped (keep = false,
    ``dominator`` = its smallest such neighbor).

    Scale shape vs the fixed-k audit: no iterative centroid fit (one
    corpus scan signs every vector once, through one ``(band, sig)``
    aggregation), candidates are the pairs inside a bucket (never
    all-pairs), and buckets larger than ``max_bucket`` are dropped
    ENTIRELY before pair expansion — the boilerplate-noise guard,
    same discipline as dedup.py's LSH cap: a degenerate embedding
    cluster costs one id list, where its pairs would expand O(n²)
    inside one task. ``rows_per_band`` is the scale lever (bucket
    population halves per bit; grow it with log(corpus) to hold
    bucket sizes flat), and the cap bounds the worst case whatever
    the parameters. Recall < 1 by construction — the price of
    linearity, measured by the exact twin on samples."""
    # one aggregation over the signed rows: each bucket's sorted
    # members, the cap, then every in-bucket pair id_a < id_b
    buckets = (
        df.select(F.col(id_col),
                  F.explode(band_sig_structs_np(
                      vec_col, dim, bands, rows_per_band
                  )).alias("_bs"))
        .groupBy("_bs.band", "_bs.sig")
        .agg(F.array_sort(F.collect_list(id_col)).alias("_ids"))
        .filter(F.size("_ids") <= max_bucket)
    )
    cand = (
        buckets.select("_ids", F.posexplode("_ids").alias("_p", "id_a"))
        .select("id_a", F.explode(F.slice(
            "_ids", F.col("_p") + 2, F.size("_ids")
        )).alias("id_b"))
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"),
                   F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("id_b"),
                   F.col(vec_col).alias("_vb"))
    cos = F.round(
        _dot(F.col("_va"), F.col("_vb"))
        / (_norm(F.col("_va")) * _norm(F.col("_vb"))),
        round_digits,
    )
    dominated = (
        cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("_cos", cos)
        .filter(F.col("_cos") >= threshold)
        .groupBy("id_b")
        .agg(F.min("id_a").alias("dominator"))
    )
    return (
        df.select(F.col(id_col))
        .join(dominated.withColumnRenamed("id_b", id_col), id_col,
              "left")
        .select(
            F.col(id_col),
            F.col("dominator").isNull().alias("keep"),
            "dominator",
        )
    )


def standardize_dims(df: DataFrame, id_col: str, vec_col: str,
                     scale: int = 10 ** 6,
                     round_digits: int = 4) -> DataFrame:
    """Per-dimension z-score standardization of an embedding column —
    the whitening-lite preprocessing step before distance-based
    curation (k-means, cosine pruning) when dimensions have uneven
    variance.

    Engine-exact by the same trick as linalg.gram_matrix: values are
    quantized to integer ``scale``-ths first, the per-dimension
    sum / sum-of-squares / count aggregate over EXACT integers (the
    z-score is scale-invariant, so quantization only perturbs at
    1/scale), and the float math happens once per output value from
    identical integer operands with an identical expression tree —
    so the rounded z-scores hash-match any engine.

    Shape: one posexplode + one 64-key aggregate, then the d-row
    stats table broadcast back onto the exploded rows. Nothing
    row-scaled shuffles except the (id, dim, q) explosion itself,
    which is the output's own cardinality. Returns (id, dim [1-based],
    z) with constant dimensions yielding NULL z."""
    e = df.select(
        F.col(id_col),
        F.posexplode(vec_col).alias("_p", "_x"),
    ).select(
        F.col(id_col),
        (F.col("_p") + 1).alias("dim"),
        F.floor(F.col("_x").cast("double") * scale).cast("long").alias("_q"),
    )
    s = e.groupBy("dim").agg(
        F.sum("_q").cast("double").alias("_s"),
        F.sum(F.col("_q") * F.col("_q")).cast("double").alias("_ss"),
        F.count(F.lit(1)).cast("double").alias("_n"),
    )
    mean = F.col("_s") / F.col("_n")
    var = F.col("_ss") / F.col("_n") - mean * mean
    return (
        e.join(F.broadcast(s), "dim")
        .select(
            F.col(id_col),
            F.col("dim").cast("int").alias("dim"),
            F.when(
                var > 0.0,
                # + 0.0 collapses IEEE -0.0 (a value that rounds to
                # zero from below) onto +0.0 so every engine and hash
                # normalization agrees on the textual form
                F.round((F.col("_q") - mean) / F.sqrt(var), round_digits)
                + F.lit(0.0),
            ).alias("z"),
        )
    )


def pq_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
            vec_col: str, k: int = 5, m: int = 8, sub_d: int = 8,
            k_star: int = 8, round_digits: int = 6,
            codebooks: list | None = None) -> DataFrame:
    """Product-quantization ANN (Jégou et al., "Product quantization
    for nearest neighbor search", TPAMI'11): split each vector into
    ``m`` subspaces, quantize each sub-vector to its nearest codebook
    centroid, and score queries against the CODES via asymmetric
    distance computation (ADC) — per query, one m x k* lookup table
    replaces all float math against the corpus.

    Why it matters at 100 TB: the corpus representation shrinks from
    d floats to m small codes (here 64x4B -> 8 codes, ~32x less
    memory traffic), which is what makes exhaustive re-ranking of
    billions of vectors feasible; compose with the IVF cells
    (ivf_topk) for the standard IVF-PQ pipeline. Codebooks come
    from ``codebooks`` (per-subspace trained (cid, sub-vector)
    tables, e.g. clustering.kmeans_fit per subspace — see
    pq_train_codebooks) or default to the deterministic seed (first
    k* ids' sub-vectors, rounded).

    Scale shape: the (m x k*)-entry codebooks are collected and
    inlined, so encoding is ONE corpus scan producing all m codes as
    a codegen argmin projection (no crossJoin, no per-row window, no
    union of m passes — ZERO Exchange on the corpus side); each query
    carries its m integer ADC lookup tables as literal-keyed maps,
    scoring is a broadcast join + an m-term fold. Only the final
    per-query top-k window shuffles, and it moves (query, id, adc)
    triples, never vectors.

    Engine-exact: assignments argmin on (rounded distance, centroid
    id) via struct ordering; ADC entries are INTEGER micro-distances
    (single-rounding: floor(d*1e6 + 0.5)), so per-pair sums are exact and the
    ranking (adc ASC, neighbor ASC) is deterministic on any engine.
    Returns (query_id, neighbor_id, adc_dist, rk)."""
    from .clustering import codebook_argmin, sqdist_sql

    if codebooks is None:
        seed_rows = (
            corpus.orderBy(id_col)
            .limit(k_star)
            .select(
                F.col(id_col).cast("long").alias("_cid"),
                F.transform(
                    F.col(vec_col),
                    lambda x: F.round(x.cast("double"), round_digits),
                ).alias("_cv"),
            )
            .collect()
        )
        # python slicing of the Spark-rounded values is positional —
        # no arithmetic, so sub-codebooks are bit-exact
        codebooks = [
            [
                (int(r["_cid"]), list(r["_cv"][s * sub_d:(s + 1) * sub_d]))
                for r in seed_rows
            ]
            for s in range(m)
        ]

    if not codebooks or not codebooks[0]:
        return _empty_topk(corpus, "adc_dist", "long")

    def micro(dist_sql):
        return (
            f"CAST(floor(({dist_sql}) * 1000000 "
            "+ CAST(0.5 AS DOUBLE)) AS BIGINT)"
        )

    def dist(vec_sql, cv, s):
        return (
            f"round({sqdist_sql(vec_sql, cv, offset=s * sub_d)}, "
            f"{round_digits})"
        )

    codes = corpus.select(
        F.col(id_col).alias("_id"),
        F.array(*[
            codebook_argmin(
                lambda cv, s=s: dist(f"`{vec_col}`", cv, s),
                codebooks[s],
            ).getField("c")
            for s in range(m)
        ]).alias("_codes"),
    )

    def adc_map(vec_sql, s):
        keys = ", ".join(
            f"CAST({int(cid)} AS BIGINT)" for cid, _ in codebooks[s]
        )
        vals = ", ".join(
            micro(sqdist_sql(vec_sql, cv, offset=s * sub_d))
            for _, cv in codebooks[s]
        )
        return f"map_from_arrays(array({keys}), array({vals}))"

    qtbl = queries.select(
        F.col(id_col).alias("_qid"),
        F.expr(
            "array("
            + ", ".join(adc_map(f"`{vec_col}`", s) for s in range(m))
            + ")"
        ).alias("_tbls"),
    )
    scored = (
        codes.crossJoin(F.broadcast(qtbl))
        .filter(F.col("_id") != F.col("_qid"))
        .select(
            "_qid", "_id",
            F.aggregate(
                F.zip_with(
                    F.col("_codes"), F.col("_tbls"),
                    lambda c, t: F.element_at(t, c),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("adc_dist"),
        )
    )
    wq = Window.partitionBy("_qid").orderBy(F.asc("adc_dist"), F.asc("_id"))
    return (
        scored.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("_id").alias("neighbor_id"),
            F.col("adc_dist").cast("long").alias("adc_dist"),
            "rk",
        )
    )


def mmr_select(corpus: DataFrame, id_col: str, vec_col: str,
               k: int = 6, lam: float = 0.7,
               round_digits: int = 6) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein,
    SIGIR'98): greedily pick k items maximizing
    λ·rel(x) − (1−λ)·max_{s∈S} cos(x, s) — the relevance/diversity
    trade-off behind retrieval reranking and diverse training-data
    selection (λ=1 is pure top-k, λ=0 is pure diversity).

    The query is the lowest-id vector (deterministic, excluded from
    candidates); rel(x) is its cosine, computed against the COLLECTED
    query vector inlined as literals — one scan, no join.

    The diversity term carries as a RUNNING MAX: the candidate frame
    keeps a ``_ms = max_{s∈S} cos(x, s)`` column, and each of the k−1
    rounds folds in ONLY the newest selected vector —
    ``greatest(_ms, cos(x, new))`` against the 1-row collected vector
    inlined as literals (max is associative, and the per-pair cosine
    is rounded before the max exactly as before, so the selection is
    unchanged). That's one corpus scan + one 1-row argmax collect per
    round, O(n·k) total — not the O(n·k²) re-score of broadcasting
    all |S| selected vectors every round. Every ranking is on the
    (rounded score DESC, id ASC) convention with a +0.0 to collapse
    IEEE −0.0 in the emitted score.

    Returns (sel_order, vec_id, score); the seed's score is its
    relevance."""
    from .clustering import dot_sql, sql_double

    q_rows = (
        corpus.orderBy(id_col)
        .limit(1)
        .select(
            F.col(id_col).cast("long").alias("_qid"),
            F.col(vec_col).alias("_qv"),
            _norm(F.col(vec_col)).alias("_qn"),
        )
        .collect()
    )
    if not q_rows:
        return tiny_df(
            corpus.sparkSession, [], "sel_order int, vec_id long, score double"
        )
    q_row = q_rows[0]
    qid, qv, qn = int(q_row["_qid"]), list(q_row["_qv"]), float(q_row["_qn"])
    base = (
        corpus.filter(F.col(id_col) != qid)
        .select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            _norm(F.col(vec_col)).alias("_n"),
        )
        .withColumn(
            "_rel",
            F.expr(
                f"round({dot_sql('`_v`', qv)} / "
                f"(`_n` * {sql_double(qn)}), {round_digits})"
            ),
        )
        .localCheckpoint()
    )
    first_rows = (
        base.select("_id", "_rel", "_v", "_n")
        .orderBy(F.desc("_rel"), F.asc("_id"))
        .limit(1)
        .collect()
    )
    if not first_rows:
        return tiny_df(
            corpus.sparkSession, [], "sel_order int, vec_id long, score double"
        )
    first = first_rows[0]
    selected = [(1, int(first["_id"]), float(first["_rel"]) + 0.0)]
    oml = 1.0 - lam

    def fold_newest(df, row):
        """Remove the newly selected id and fold its (collected,
        inlined) vector into the running max of rounded cosines."""
        sv, sn = list(row["_v"]), float(row["_n"])
        cos_new = F.expr(
            f"round({dot_sql('`_v`', sv)} / "
            f"(`_n` * {sql_double(sn)}), {round_digits})"
        )
        prev = (
            F.col("_ms") if "_ms" in df.columns
            else F.lit(None).cast("double")
        )
        return (
            df.filter(F.col("_id") != int(row["_id"]))
            .withColumn("_ms", F.greatest(prev, cos_new))
        )

    cand = fold_newest(base, first).localCheckpoint()
    for step in range(2, k + 1):
        top = (
            cand.withColumn(
                "_score",
                F.round(
                    F.lit(lam) * F.col("_rel")
                    - F.lit(oml) * F.col("_ms"),
                    round_digits,
                ) + F.lit(0.0),
            )
            .orderBy(F.desc("_score"), F.asc("_id"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        selected.append(
            (step, int(top[0]["_id"]), float(top[0]["_score"]) + 0.0)
        )
        if step < k:  # no fold after the final selection
            cand = fold_newest(cand, top[0]).localCheckpoint()
    return tiny_df(corpus.sparkSession, selected,
                   "sel_order int, vec_id long, score double")


def pq_train_codebooks(corpus: DataFrame, id_col: str, vec_col: str,
                       m: int = 8, sub_d: int = 8, k_star: int = 8,
                       iters: int = 1,
                       round_digits: int = 6) -> list:
    """Train per-subspace PQ codebooks with the deterministic k-means
    conventions (clustering.kmeans_fit: lowest-id rounded seeds,
    argmin on (rounded distance, cluster id), per-dimension rounded
    means) — the trained path Jégou et al. TPAMI'11 §II prescribes.
    Returns the [(cid, [floats])]-per-subspace structure pq_topk
    consumes (m·k*·sub_d doubles, bounded driver cost).

    All m trainings are BATCHED: the corpus explodes once into
    (id, subspace, sub-vector) rows and every Lloyd round is ONE
    distributed assignment+update job covering all subspaces (the
    per-subspace argmin selected by a CASE on the subspace id, the
    mean update a single (s, cluster, dim)-keyed aggregate) — m
    independent kmeans_fit calls would pay m sizing scans, m seed
    collects, and m checkpoint round-trips per iteration for the
    same arithmetic."""
    from .clustering import sqdist_sql

    sub_structs = ", ".join(
        f"named_struct('s', {s}, "
        f"'sv', slice(`{vec_col}`, {s * sub_d + 1}, {sub_d}))"
        for s in range(m)
    )
    e = corpus.select(
        F.col(id_col).alias("_id"),
        F.expr(f"explode(array({sub_structs}))").alias("_e"),
    ).select(
        "_id", F.col("_e").getField("s").alias("_s"),
        F.col("_e").getField("sv").alias("_sv"),
    )
    # one seed collect serves every subspace (seeds are the k* lowest
    # ids in ALL of them; python slicing is positional — exact)
    seed_rows = (
        corpus.orderBy(id_col)
        .limit(k_star)
        .select(
            F.col(id_col).cast("long").alias("_cid"),
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double"), round_digits),
            ).alias("_cv"),
        )
        .collect()
    )
    cbs = [
        [
            (int(r["_cid"]), list(r["_cv"][s * sub_d:(s + 1) * sub_d]))
            for r in seed_rows
        ]
        for s in range(m)
    ]
    for _ in range(iters):
        branches = " ".join(
            "WHEN {s} THEN array_min(array({entries})).c".format(
                s=s,
                entries=", ".join(
                    "named_struct('d', round({dist}, {rd}), "
                    "'c', CAST({cid} AS BIGINT))".format(
                        dist=sqdist_sql("`_sv`", vals),
                        rd=round_digits,
                        cid=int(cid),
                    )
                    for cid, vals in cbs[s]
                ),
            )
            for s in range(m)
        )
        asg = e.select(
            "_s", F.expr(f"CASE `_s` {branches} END").alias("_c"), "_sv"
        )
        means = (
            asg.select("_s", "_c", F.posexplode("_sv").alias("_dim", "_x"))
            .groupBy("_s", "_c", "_dim")
            .agg(
                F.round(F.avg(F.col("_x").cast("double")),
                        round_digits).alias("_m")
            )
            .collect()
        )
        acc: dict = {}
        for r in means:
            acc.setdefault((int(r["_s"]), int(r["_c"])), {})[
                int(r["_dim"])
            ] = float(r["_m"])
        cbs = [
            sorted(
                (
                    (cid, [dims[i] for i in sorted(dims)])
                    for (s2, cid), dims in acc.items()
                    if s2 == s
                ),
            )
            for s in range(m)
        ]
    return cbs


def ivfpq_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
               vec_col: str, k: int = 5, n_cells: int = 8,
               n_probe: int = 2, m: int = 8, sub_d: int = 8,
               k_star: int = 8, round_digits: int = 6,
               allowed: DataFrame | None = None) -> DataFrame:
    """IVF-PQ — the standard billion-scale ANN pipeline (Jégou et al.
    TPAMI'11 §IV): a coarse quantizer partitions the corpus into
    cells, each vector stores only its cell id + m PQ codes of its
    RESIDUAL (x − cell centroid), and a query scores just the
    ``n_probe`` nearest cells through per-cell integer ADC tables.
    Search cost ∝ probed fraction; memory ∝ m bytes/vector — the two
    levers that make 10^9+ corpora searchable.

    All the determinism conventions of ivf_topk/pq_topk compose
    unchanged: L2 everywhere, argmin on (rounded distance, id),
    integer micro-distance ADC sums, (adc ASC, id ASC) ranking —
    engine-exact end to end. Codebooks are deterministic seeds
    (coarse: first n_cells vectors; PQ: first k_star residuals);
    kmeans_fit slots into either role for trained quantizers.

    Scale shape: both codebooks are collected (<= n_cells·d +
    k*·d doubles) and inlined, so cell assignment, residual
    encoding, and ALL m PQ code assignments happen in one codegen
    corpus scan with ZERO Exchange — the old plan's m+2
    crossJoin+window passes (each a full-corpus hash Exchange) are
    gone. Queries carry per-probed-cell integer ADC maps; scoring is
    one broadcast equi-join on the cell id + an m-term fold; only
    the final top-k window shuffles (adc triples, never vectors).
    Returns (query_id, neighbor_id, adc_dist, rk)."""
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
    if not coarse:
        return _empty_topk(corpus, "adc_dist", "long")
    asg = _ivfpq_assign(corpus, id_col, vec_col, coarse,
                        round_digits).localCheckpoint()
    cbs = _ivfpq_seed_cbs(asg, m, sub_d, k_star, round_digits)
    codes = ivfpq_encode(asg, cbs, m, sub_d, round_digits)
    if allowed is not None:
        # filtered vector search over a SHARED index: quantizers stay
        # trained on the full corpus, only the inventory the ADC join
        # scores is restricted — a broadcast semi-join on the id
        # (the metadata-predicate table is tiny next to the vectors)
        codes = codes.join(
            F.broadcast(
                allowed.select(F.col(id_col).alias("_id")).distinct()
            ),
            "_id",
            "semi",
        )
    probes = ivfpq_probes(queries, id_col, vec_col, coarse, cbs,
                          n_probe, m, sub_d, round_digits)
    return ivfpq_score(codes, probes, k)


def _rdist(vec_sql: str, vals, offset: int, round_digits: int) -> str:
    from .clustering import sqdist_sql

    return (
        f"round({sqdist_sql(vec_sql, vals, offset=offset)}, "
        f"{round_digits})"
    )


def _ivfpq_assign(corpus: DataFrame, id_col: str, vec_col: str,
                  coarse: list, round_digits: int) -> DataFrame:
    """Cell assignment + residual in one projection: the argmin struct
    carries the centroid vector (third field, never compared — cell
    ids are unique) so the residual subtracts the exact inlined
    centroid. Returns (_id, _cell, _res)."""
    from .clustering import codebook_argmin

    best_cell = codebook_argmin(
        lambda cv: _rdist("`_v`", cv, 0, round_digits), coarse,
        carry_vec=True,
    )
    return (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        # project the argmin struct into its own column FIRST so the
        # two field reads below don't each re-expand the whole
        # array_min expression (HOF re-evaluation trap)
        .select("_id", "_v", best_cell.alias("_b"))
        .select(
            "_id",
            F.col("_b").getField("c").alias("_cell"),
            F.zip_with(
                F.col("_v"), F.col("_b").getField("v"),
                lambda x, y: x.cast("double") - y,
            ).alias("_res"),
        )
    )


def _ivfpq_seed_cbs(asg: DataFrame, m: int, sub_d: int, k_star: int,
                    round_digits: int) -> list:
    """Per-subspace PQ codebooks over residual sub-vectors (seed:
    first k_star ids), collected once, python-sliced per subspace
    (positional — exact)."""
    seed_rows = (
        asg.orderBy("_id")
        .limit(k_star)
        .select(
            F.col("_id").cast("long").alias("_cid"),
            F.transform(
                F.col("_res"), lambda x: F.round(x, round_digits)
            ).alias("_rv"),
        )
        .collect()
    )
    return [
        [
            (int(r["_cid"]), list(r["_rv"][s * sub_d:(s + 1) * sub_d]))
            for r in seed_rows
        ]
        for s in range(m)
    ]


def ivfpq_encode(asg: DataFrame, cbs: list, m: int, sub_d: int,
                 round_digits: int = 6) -> DataFrame:
    """PQ-encode assigned residuals against inlined per-subspace
    codebooks — all m argmins in ONE codegen projection (zero
    Exchange). Returns the index inventory (_id, _cell, _codes):
    m small integers per vector, the representation a stored
    IVF-PQ index persists."""
    from .clustering import codebook_argmin

    return asg.select(
        "_id",
        "_cell",
        F.array(*[
            codebook_argmin(
                lambda bv, s=s: _rdist("`_res`", bv, s * sub_d,
                                       round_digits),
                cbs[s],
            ).getField("c")
            for s in range(m)
        ]).alias("_codes"),
    )


def quantization_error(asg: DataFrame, cbs: list, m: int, sub_d: int,
                       round_digits: int = 6) -> DataFrame:
    """Per-vector PQ quantization error in exact micro units — the
    RETRAIN TRIGGER of the frozen-quantizer index lifecycle: encode
    quality of a cohort (absorbed arrivals vs the base corpus) is the
    sum over subspaces of the MIN rounded-squared-distance between
    the residual sub-vector and the frozen codebook. Arrivals that
    drift from the distribution the quantizers were trained on show a
    rising error long before recall visibly degrades, turning "when
    do we retrain?" into a monitored number (the FAISS-style
    operational answer to frozen codebooks).

    Engine-exact: micro-quantization floor(d·10⁶ + 0.5) is monotone,
    so min(micro(d)) == micro(min(d)) and the expression reuses
    ``codebook_argmin``'s 'd' field directly; the per-vector sum of m
    BIGINTs is exact. One codegen projection over the assignment
    frame — zero Exchange, same scan discipline as ivfpq_encode.
    Returns (_id, _cell, _qerr)."""
    from .clustering import codebook_argmin

    def micro(d_sql: str) -> str:
        return (
            f"CAST(floor({d_sql} * 1000000 + CAST(0.5 AS DOUBLE)) "
            "AS BIGINT)"
        )

    per_s = [
        codebook_argmin(
            lambda bv, s=s: micro(
                _rdist("`_res`", bv, s * sub_d, round_digits)
            ),
            cbs[s],
        ).getField("d")
        for s in range(m)
    ]
    err = per_s[0]
    for c in per_s[1:]:
        err = err + c
    return asg.select("_id", "_cell", err.alias("_qerr"))


def ivfpq_probes(queries: DataFrame, id_col: str, vec_col: str,
                 coarse: list, cbs: list, n_probe: int, m: int,
                 sub_d: int, round_digits: int = 6) -> DataFrame:
    """Query side of IVF-PQ: probe the n_probe nearest cells (codegen
    top-n over the inlined coarse codebook, centroid carried for the
    residual), then per-(query, cell) integer ADC lookup maps over the
    inlined PQ codebooks. Returns (_qid, _cell, _tbls)."""
    from .clustering import codebook_topn, sqdist_sql

    def micro(dist_sql):
        return (
            f"CAST(floor(({dist_sql}) * 1000000 "
            "+ CAST(0.5 AS DOUBLE)) AS BIGINT)"
        )

    return (
        queries.select(
            F.col(id_col).alias("_qid"), F.col(vec_col).alias("_qv")
        )
        .select(
            "_qid",
            F.explode(
                codebook_topn(
                    lambda cv: _rdist("`_qv`", cv, 0, round_digits),
                    coarse, n_probe, carry_vec=True,
                )
            ).alias("_p"),
            F.col("_qv"),
        )
        .select(
            "_qid",
            F.col("_p").getField("c").alias("_cell"),
            F.zip_with(
                F.col("_qv"), F.col("_p").getField("v"),
                lambda x, y: x.cast("double") - y,
            ).alias("_qres"),
        )
        .select(
            "_qid",
            "_cell",
            F.expr(
                "array(" + ", ".join(
                    "map_from_arrays(array({k}), array({v}))".format(
                        k=", ".join(
                            f"CAST({int(cid)} AS BIGINT)"
                            for cid, _ in cbs[s]
                        ),
                        v=", ".join(
                            micro(
                                sqdist_sql("`_qres`", bv,
                                           offset=s * sub_d)
                            )
                            for _, bv in cbs[s]
                        ),
                    )
                    for s in range(m)
                ) + ")"
            ).alias("_tbls"),
        )
    )


def ivfpq_score(codes: DataFrame, probes: DataFrame,
                k: int) -> DataFrame:
    """ADC scoring of a (stored or freshly encoded) code inventory
    against probe tables: broadcast equi-join on the cell id + an
    m-term integer fold; only the final per-query top-k window
    shuffles (adc triples, never vectors or codes)."""
    scored = (
        codes.join(F.broadcast(probes), "_cell")
        .filter(F.col("_id") != F.col("_qid"))
        .select(
            "_qid", "_id",
            F.aggregate(
                F.zip_with(
                    F.col("_codes"), F.col("_tbls"),
                    lambda c, t: F.element_at(t, c),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("adc_dist"),
        )
    )
    wq = Window.partitionBy("_qid").orderBy(F.asc("adc_dist"), F.asc("_id"))
    return (
        scored.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("_id").alias("neighbor_id"),
            F.col("adc_dist").cast("long").alias("adc_dist"),
            "rk",
        )
    )


def semihard_negative_topk(corpus: DataFrame, queries: DataFrame,
                           id_col: str, vec_col: str, label_col: str,
                           k: int = 5,
                           round_digits: int = 6) -> DataFrame:
    """SEMI-HARD negative mining (the FaceNet criterion — Schroff,
    Kalenichenko & Philbin, CVPR'15 §3.2): per anchor, the top-k
    most-similar different-label vectors that are still LESS similar
    than the anchor's nearest same-label vector — negatives inside
    the margin band, the ones that tighten a triplet/contrastive
    objective without collapsing it the way hardest-negatives can.

    Two broadcast-anchor corpus scans (one for the same-label
    positive bar, one for the mismatch candidates — the scans
    recompute rather than cache: at corpus scale a second columnar
    scan is cheaper than materializing the |anchors| x |corpus|
    scored relation), then a bounded per-anchor top-k. Anchors with
    no same-label neighbor yield no rows (no bar to be under).
    Returns (query_id, neighbor_id, cosine, pos_sim, rk)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("_ql"),
        F.col(vec_col).alias("_qv"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("_cl"),
        F.col(vec_col).alias("_cv"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    cos = F.round(
        _dot(F.col("_qv"), F.col("_cv"))
        / (F.col("_qn") * F.col("_cn")),
        round_digits,
    )
    pos_bar = (
        c.crossJoin(F.broadcast(q))
        .filter(
            (F.col("_cl") == F.col("_ql"))
            & (F.col("neighbor_id") != F.col("query_id"))
        )
        .withColumn("_cos", cos)
        .groupBy("query_id")
        .agg(F.max("_cos").alias("pos_sim"))
    )
    negs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("_cl") != F.col("_ql"))
        .withColumn("cosine", cos)
        .join(F.broadcast(pos_bar), "query_id")
        .filter(F.col("cosine") < F.col("pos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        negs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "pos_sim",
                F.col("rk").cast("long").alias("rk"))
    )


def similarity_histogram(df: DataFrame, id_col: str, vec_col: str,
                         sample_k: int = 128, n_buckets: int = 16,
                         round_digits: int = 6) -> DataFrame:
    """Embedding-space health histogram: the distribution of pairwise
    cosines over a deterministic bounded sample — the anisotropy /
    collapse audit run before trusting an embedding column for dedup
    or retrieval (a healthy space centers near 0; mass piled at
    cos ~ 1 means the encoder collapsed and every downstream
    similarity op is noise).

    Scale design: the sample is a TakeOrderedAndProject of exactly
    ``sample_k`` rows ordered by (knuth32(id), id) — deterministic at
    every corpus size, no full sort — and the pair expansion is a
    broadcast self-join of that k-row frame (k·(k−1)/2 pairs, fixed
    cost regardless of corpus). The corpus itself is scanned once.
    Cosines follow the repo's left-fold dot / rounded-fp6 convention;
    bucket ids and per-bucket means are exact integer arithmetic on
    the fp6 values."""
    from .hashing import knuth32

    s = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(knuth32(F.col(id_col)), F.col(id_col))
        .limit(sample_k)
        .select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            _norm(F.col(vec_col)).alias("_nm"),
        )
    )
    a = s.select(
        F.col("_id").alias("_ia"),
        F.col("_v").alias("_va"),
        F.col("_nm").alias("_na"),
    )
    b = s.select(
        F.col("_id").alias("_ib"),
        F.col("_v").alias("_vb"),
        F.col("_nm").alias("_nb"),
    )
    cos = (
        _dot(F.col("_va"), F.col("_vb"))
        / (F.col("_na") * F.col("_nb"))
    )
    # single-rounding fp6 (exactlog discipline, round 10): no
    # round() before the floor — the quantization IS the rounding
    cos_fp = F.floor(
        cos * F.lit(1_000_000.0) + F.lit(0.5)
    ).cast("long")
    pairs = (
        F.broadcast(a)
        .join(F.broadcast(b), F.col("_ia") < F.col("_ib"))
        .select(cos_fp.alias("_cfp"))
    )
    width = 2_000_000 // n_buckets
    bucket = F.least(
        F.floor(
            (F.col("_cfp") + F.lit(1_000_000)) / F.lit(width)
        ).cast("long"),
        F.lit(n_buckets - 1).cast("long"),
    )
    return (
        pairs.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.floor(F.sum("_cfp") / F.count(F.lit(1)))
            .cast("long")
            .alias("mean_cos_fp"),
        )
    )
