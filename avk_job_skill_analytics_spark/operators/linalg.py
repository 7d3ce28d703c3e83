"""Distributed dense linear algebra over embedding columns.

The communication pattern that makes second-order statistics viable at
100 TB: never shuffle the vectors. Each partition folds its rows into
a d x d partial Gram matrix locally (numpy matmul over an Arrow batch),
and only those d*(d+1)/2-entry partials — kilobytes, independent of
row count — move in the final aggregate. This is the standard
tree-aggregated Gram/covariance scheme (e.g. Spark MLlib's
RowMatrix.computeGramianMatrix; re-derived here over DataFrames so the
result is engine-checkable).

Exactness: inputs are quantized to integer ``scale``-ths BEFORE any
sum (float32 -> float64 widening is exact, one IEEE multiply, floor).
All accumulation is int64, so the Gram entries are bit-identical
across engines, partition layouts, and reruns — unlike a float
covariance, whose partition-order accumulation the DuckDB oracle could
never reproduce. |q| <= scale and int64 holds ~9.2e18, so overflow
needs n * (scale*max|v|)^2 > 9.2e18 — at scale=1e6 and unit-normish
embeddings that is ~3e6 rows per PARTITION-fold times... the partials
are per-partition, bounded by rows-per-partition (~50k by SCALING.md),
and the final cross-partition sum is widened to DECIMAL(38,0) before
the cast back, so the headroom at cluster scale is 1e20+.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.session import tiny_df

QUANT_SCALE = 10 ** 6


def gram_matrix(df: DataFrame, vec_col: str, d: int,
                scale: int = QUANT_SCALE) -> DataFrame:
    """Upper-triangle integer Gram matrix of the quantized vectors:
    (i, j, gram) for 1 <= i <= j <= d, where gram =
    sum over rows of floor(v_i*scale) * floor(v_j*scale).

    One mapInPandas pass emitting d*(d+1)/2 partial rows per
    partition, one groupBy sum over (i, j) — the shuffle payload is
    O(d^2 * partitions), never O(rows)."""
    iu, ju = zip(*[(i, j) for i in range(1, d + 1)
                   for j in range(i, d + 1)])

    def part(pdfs):
        import numpy as np
        import pandas as pd

        acc = np.zeros((d, d), dtype=np.int64)
        for pdf in pdfs:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            q = np.floor(m * scale).astype(np.int64)
            acc += q.T @ q
        tri = acc[np.array(iu) - 1, np.array(ju) - 1]
        yield pd.DataFrame(
            {"i": np.array(iu, dtype=np.int32),
             "j": np.array(ju, dtype=np.int32),
             "part_gram": tri}
        )

    partials = df.select(vec_col).mapInPandas(part, "i int, j int, part_gram long")
    return (
        partials.groupBy("i", "j")
        .agg(
            F.sum(F.col("part_gram").cast("decimal(38,0)"))
            .cast("long")
            .alias("gram")
        )
    )


def _integer_cov_stats(df: DataFrame, vec_col: str, d: int,
                       scale: int) -> tuple[list, list, int]:
    """The shared exact-integer second-order statistics both PCA
    variants consume: the symmetric d×d Gram matrix (as a nested
    list of Python ints), the column-sum vector, and the row count —
    one quantization convention (floor(x·scale) int64), so the
    eigensolve and the power-iteration oracle can never diverge on
    their inputs."""
    g = {
        (int(r["i"]), int(r["j"])): int(r["gram"])
        for r in gram_matrix(df, vec_col, d, scale).collect()
    }
    sums_rows = (
        df.select(F.posexplode(vec_col).alias("p", "x"))
        .groupBy("p")
        .agg(
            F.sum(F.floor(F.col("x").cast("double") * scale).cast("long"))
            .alias("s")
        )
        .collect()
    )
    n = df.count()
    s = [0] * d
    for r in sums_rows:
        s[int(r["p"])] = int(r["s"])
    gm = [[0] * d for _ in range(d)]
    for (i, j), v in g.items():
        gm[i - 1][j - 1] = v
        gm[j - 1][i - 1] = v
    return gm, s, n


def pca_top_component(df: DataFrame, vec_col: str, d: int,
                      scale: int = QUANT_SCALE) -> DataFrame:
    """Leading principal component of the embedding cloud — the
    direction a curation pipeline whitens against or prunes along
    (e.g. SemDeDup-style anisotropy checks).

    Distributed part: the integer Gram matrix above plus the integer
    column-sum vector — both O(d^2)/O(d) aggregates. Driver part: a
    d x d eigensolve (trivial; d is 64-1024 for embedding tables,
    never row-scaled). Sign convention: the largest-|loading|
    coordinate is made positive so the answer is unique. Returns
    (dim, loading, explained_frac) with loading the unit eigenvector
    entry, rounded to 6 to absorb LAPACK's platform variance."""
    import numpy as np

    gm_i, s_i, n = _integer_cov_stats(df, vec_col, d, scale)
    gm = np.array(gm_i, dtype=np.float64)
    s = np.array(s_i, dtype=np.float64)
    cov = (gm - np.outer(s, s) / n) / n / (scale * scale)
    w, vecs = np.linalg.eigh(cov)
    top = vecs[:, -1]
    top = top * np.sign(top[np.argmax(np.abs(top))] or 1.0)
    frac = float(w[-1] / w.sum()) if w.sum() else 0.0
    spark = df.sparkSession
    rows = [(i + 1, round(float(top[i]), 6), round(frac, 6))
            for i in range(d)]
    return tiny_df(
        spark, rows, "dim int, loading double, explained_frac double"
    )


def _rp_sign(seed: int, j: int, i: int) -> float:
    """Deterministic ±1 component (out-dim j, in-dim i) of the sign
    projection matrix, derived from md5 of a fixed string — computed
    driver-side once (it's a pure constant baked into the plan AND
    into the oracle SQL from the same call)."""
    import hashlib

    h = int(hashlib.md5(f"rp:{seed}:{j}:{i}".encode()).hexdigest()[:15], 16)
    return 1.0 if h % 2 == 0 else -1.0


def rp_signs(seed: int, d_in: int, d_out: int) -> list:
    """The full d_out × d_in sign matrix as Python floats — shared by
    the Spark expression builder and the oracle generator so both
    engines project with bit-identical constants."""
    return [
        [_rp_sign(seed, j, i) for i in range(d_in)] for j in range(d_out)
    ]


def random_projection(df: DataFrame, id_col: str, vec_col: str,
                      d_in: int, d_out: int = 16, seed: int = 7,
                      round_digits: int = 6) -> DataFrame:
    """Johnson–Lindenstrauss sign random projection (Achlioptas 2003,
    "Database-friendly random projections"): y_j = <x, s_j>/√d_out
    with deterministic ±1 signs — the dimensionality-reduction front
    end for ANN/clustering when d is large (distances preserved within
    (1±ε) at d_out = O(log n / ε²)).

    Scale shape: the projection matrix is d_out·d_in LITERALS inlined
    into one SQL-string expression (same build trick as the codebook
    argmin — one expr() parse, not thousands of py4j calls), so the
    whole projection is a single corpus scan with zero shuffle and no
    Python in the hot path; output is the exploded (id, out_dim,
    value) long form, d_out rows per vector. Values round at 6 digits
    with a +0.0 to collapse IEEE -0.0 (oracle hash convention).
    """
    import math

    from .clustering import dot_sql, sql_double

    signs = rp_signs(seed, d_in, d_out)
    scale = sql_double(math.sqrt(float(d_out)))
    entries = ", ".join(
        f"named_struct('out_dim', CAST({j + 1} AS BIGINT), "
        f"'value', round({dot_sql(f'`{vec_col}`', signs[j])} / {scale}, "
        f"{round_digits}) + CAST(0.0 AS DOUBLE))"
        for j in range(d_out)
    )
    return df.select(
        F.col(id_col), F.expr(f"explode(array({entries}))").alias("_rp")
    ).select(
        id_col,
        F.col("_rp").getField("out_dim").alias("out_dim"),
        F.col("_rp").getField("value").alias("value"),
    )


def pca_power_component(df: DataFrame, vec_col: str, d: int,
                        iters: int = 12,
                        scale: int = QUANT_SCALE) -> DataFrame:
    """Leading principal component via FIXED-POINT power iteration —
    the engine-exact twin of :func:`pca_top_component` (which uses a
    LAPACK eigensolve no SQL engine reproduces).

    Exactness design (the fixed-point pagerank pattern): the integer
    Gram matrix and column sums make the covariance numerator
    ``C_ij = n·g_ij − s_i·s_j`` an EXACT integer, so every
    matrix-vector product ``w = C·v`` is a sum of exact integers —
    associative, order-free, reproducible on any engine. The only
    float ops are the per-step max-norm normalization
    ``floor(double(w_i·scale) / double(max|w|))`` — identical
    operands through identical IEEE ops on both engines — so after a
    FIXED number of unrolled steps from the all-ones seed, the
    micro-unit loading vector hash-matches a plain-SQL replay.
    Scaling C by any positive constant only rescales w (normalized
    away), so dividing by n or scale² is unnecessary.

    Distributed part: unchanged (gram + column sums, O(d²)/O(d)
    aggregates; vectors never shuffle). Driver part: iters·d² exact
    integer multiplies (d ≤ 1024 — microseconds). Sign convention:
    the largest-|loading| coordinate (lowest dim on ties) is made
    positive. Returns (dim, loading_fp) with loading_fp in micro
    units of the max-norm eigenvector estimate."""
    import math

    gm, s, n = _integer_cov_stats(df, vec_col, d, scale)
    C = [
        [n * gm[i][j] - s[i] * s[j] for j in range(d)]
        for i in range(d)
    ]
    v = [scale] * d
    for _ in range(iters):
        w = [sum(C[i][j] * v[j] for j in range(d)) for i in range(d)]
        mx = max(abs(x) for x in w)
        if mx == 0:
            break
        v = [math.floor(float(x * scale) / float(mx)) for x in w]
    mxv = max(abs(x) for x in v)
    jstar = min(i for i in range(d) if abs(v[i]) == mxv)
    if v[jstar] < 0:
        v = [-x for x in v]
    return tiny_df(
        df.sparkSession, [(i + 1, int(v[i])) for i in range(d)],
        "dim int, loading_fp long",
    )
