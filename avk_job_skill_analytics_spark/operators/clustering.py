"""K-means clustering over embedding columns (beyond-reference).

The iterative-algorithm pattern done Spark-first: Lloyd iterations as
pure DataFrame ops — assignment inlines the (tiny) centroid table as
literal arrays and computes the argmin as a single codegen
``array_min`` over (dist, cid) structs (zero Exchange, zero join —
the corpus vectors never move); the centroid update is a posexplode
over dimensions + per-(cluster, dim) average + re-assembly with
``array_agg`` ordered by dimension. No UDFs, no driver-side vector
math beyond the k×dim centroid collect between rounds (k·dim doubles
— negligible), so the per-round cost is the centroid-update shuffle
over the exploded dims, nothing else.

Initialization is deterministic (the k lowest-id vectors), matching
the engine-wide no-RNG verification rule; swap in k-means|| offline
for production quality — the loop body is unchanged.

Rankings/assignments use the ROUNDED distance with a centroid-id
tie-break so results are engine-portable (same convention as
similarity.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.session import run_rounds, tiny_df


def _sqdist(a: Column, b: Column) -> Column:
    """Squared L2 distance as a strict left fold (deterministic
    summation order, reproducible across engines)."""
    d = F.zip_with(a, b, lambda x, y: x.cast("double") - y.cast("double"))
    return F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x * x)


def collect_codebook(df: DataFrame, id_field: str,
                     vec_field: str) -> list:
    """Collect a (<=k)-row codebook to the driver as [(cid, [floats])].
    k*dim doubles — the same bounded driver discipline as
    kcenter_coreset's per-round argmax row. Any rounding that should
    apply to the codebook values must already be in ``df``'s plan so
    the collected values are exactly what the engine would compute."""
    rows = df.select(id_field, vec_field).collect()
    return [
        (int(r[id_field]), [float(x) for x in r[vec_field]]) for r in rows
    ]


# Inlined-codebook expressions are built as ONE SQL string and parsed
# with F.expr: assembling the same tree through the Column API costs
# thousands of py4j round trips (~3s for an 8x8-codebook argmin —
# measured, and it dwarfed the actual execution), while one expr()
# parse is milliseconds. repr(float) is the shortest round-tripping
# decimal, and CAST('<repr>' AS DOUBLE) parses back to the identical
# IEEE double, so inlined values stay bit-exact.

def sql_double(v) -> str:
    # Spark's string->double cast only accepts 'NaN'/'Infinity'
    # spellings; repr() of a non-finite float ('nan'/'inf') would
    # parse to NULL and silently corrupt an inlined codebook — fail
    # loudly at build time instead.
    import math

    f = float(v)
    if not math.isfinite(f):
        raise ValueError(f"non-finite codebook value: {v!r}")
    return f"CAST('{f!r}' AS DOUBLE)"


def sql_lit_arr(values) -> str:
    return "array(" + ", ".join(sql_double(v) for v in values) + ")"


def sqdist_sql(vec_sql: str, values, offset: int = 0) -> str:
    """Squared-L2 SQL against literal values: the exact fold shape of
    ``_sqdist`` (zip_with diff, left-fold acc + x*x — deterministic
    summation order), over ``vec[offset+1 .. offset+len]``. The slice
    keeps zip_with lengths equal (it null-pads mismatches)."""
    src = f"slice({vec_sql}, {offset + 1}, {len(values)})"
    return (
        f"aggregate(zip_with({src}, {sql_lit_arr(values)}, "
        "(x, y) -> CAST(x AS DOUBLE) - y), CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + x * x)"
    )


def dot_sql(vec_sql: str, values) -> str:
    """Dot-product SQL against literal values — the exact fold shape
    of similarity._dot."""
    return (
        f"aggregate(zip_with(slice({vec_sql}, 1, {len(values)}), "
        f"{sql_lit_arr(values)}, (x, y) -> CAST(x AS DOUBLE) * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _entries_sql(dist_sql_fn, codebook, carry_vec: bool) -> str:
    entries = []
    for cid, vals in codebook:
        fields = [
            f"'d', {dist_sql_fn(vals)}",
            f"'c', CAST({int(cid)} AS BIGINT)",
        ]
        if carry_vec:
            fields.append(f"'v', {sql_lit_arr(vals)}")
        entries.append("named_struct(" + ", ".join(fields) + ")")
    return ", ".join(entries)


def codebook_argmin(dist_sql_fn, codebook,
                    carry_vec: bool = False) -> Column:
    """Argmin over an inlined codebook: an array of (dist, cid[, vec])
    structs reduced with ``array_min`` — Spark's struct ordering is
    lexicographic, so the (dist ASC, cid ASC) tie-break is the
    ordering itself. One pure expression: ZERO Exchange, zero join —
    the corpus never moves to meet the codebook (this replaces the old
    crossJoin+row_number window, whose Window.partitionBy(id) forced a
    full-corpus hash Exchange).

    ``dist_sql_fn(centroid_values: list[float]) -> str`` renders the
    (rounded) distance SQL — compose sqdist_sql/dot_sql; ``carry_vec``
    additionally carries the centroid vector in the struct (third
    field — never reached by the comparison since cid is unique, and
    a folded constant) for residual computation downstream."""
    return F.expr(
        f"array_min(array({_entries_sql(dist_sql_fn, codebook, carry_vec)}))"
    )


def codebook_topn(dist_sql_fn, codebook, n: int,
                  carry_vec: bool = False) -> Column:
    """Top-n over an inlined codebook: ``array_sort`` on the same
    (dist, cid[, vec]) structs, sliced to the first n. Explode the
    result to get one row per probed entry — still no Exchange."""
    return F.expr(
        "slice(array_sort(array("
        f"{_entries_sql(dist_sql_fn, codebook, carry_vec)})), 1, {int(n)})"
    )


def assign_clusters(df: DataFrame, centroids: DataFrame, id_col: str,
                    vec_col: str, round_digits: int = 6) -> DataFrame:
    """Nearest-centroid assignment: collect the (<=k)-row centroid
    table driver-side and inline it as literal arrays; argmin by
    (rounded distance, centroid id) runs as a single ``array_min``
    expression inside whole-stage codegen. Output: (id, cluster, vec)
    — one corpus scan, ZERO Exchange (the vectors never shuffle; the
    k*dim-double collect is the bounded driver cost)."""
    cb = collect_codebook(centroids, "cluster", "centroid")
    if not cb:
        return df.select(
            F.col(id_col),
            F.lit(None).cast("long").alias("cluster"),
            F.col(vec_col),
        ).limit(0)
    best = codebook_argmin(
        lambda cv: f"round({sqdist_sql(f'`{vec_col}`', cv)}, {round_digits})",
        cb,
    )
    return df.select(
        F.col(id_col),
        best.getField("c").alias("cluster"),
        F.col(vec_col),
    )


def update_centroids(assigned: DataFrame, vec_col: str,
                     round_digits: int = 6) -> DataFrame:
    """Mean vector per cluster via posexplode → per-(cluster, dim)
    average → ordered re-assembly. Two narrow shuffles keyed on
    (cluster, dim) then cluster — never on the raw vectors. Averages
    are rounded so subsequent assignments are engine-portable."""
    dims = assigned.select(
        "cluster", F.posexplode(F.col(vec_col)).alias("dim", "x")
    )
    per_dim = dims.groupBy("cluster", "dim").agg(
        F.round(F.avg(F.col("x").cast("double")), round_digits).alias("m")
    )
    return per_dim.groupBy("cluster").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("dim"), F.col("m")))
        ).alias("_dm")
    ).select(
        "cluster",
        F.transform(F.col("_dm"), lambda s: s.getField("m")).alias("centroid"),
    )


def kmeans_fit(df: DataFrame, id_col: str, vec_col: str, k: int = 4,
               iters: int = 2, round_digits: int = 6,
               init: DataFrame | None = None) -> DataFrame:
    """Lloyd's algorithm for ``iters`` rounds from the deterministic
    seed (k lowest-id vectors), or from a supplied ``init``
    (cluster, centroid) frame — e.g. ``kmeans_parallel_init``'s
    quality-aware seeds. Returns the final (cluster, centroid)
    table. Empty clusters keep their previous centroid absent (they
    drop out) — acceptable for the dedup/IVF uses here; production
    k-means re-seeds them."""
    if init is not None:
        centroids = init.select("cluster", "centroid").localCheckpoint()
    else:
        centroids = (
            df.orderBy(id_col)
            .limit(k)
            .select(
                F.col(id_col).cast("long").alias("cluster"),
                F.transform(
                    F.col(vec_col),
                    lambda x: F.round(x.cast("double"), round_digits),
                ).alias("centroid"),
            )
            .localCheckpoint()
        )
    # size the loop's shuffles to the exploded (row × dim) volume the
    # centroid update actually moves: the row count and the dimension
    # come from one column-pruned aggregate, against per-iteration
    # full scans.
    shape = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.size(F.col(vec_col))).alias("d"),
    ).first()
    dim = max(int(shape["d"] or 1), 1)
    return run_rounds(
        lambda c: update_centroids(
            assign_clusters(df, c, id_col, vec_col, round_digits),
            vec_col, round_digits,
        ),
        centroids, shape["n"] * dim, iters,
    )


def inertia(df: DataFrame, centroids: DataFrame, id_col: str,
            vec_col: str) -> float:
    """Sum of squared distances to the assigned centroid — the k-means
    objective (for tests / elbow diagnostics)."""
    assigned = assign_clusters(df, centroids, id_col, vec_col)
    c = centroids.select(
        F.col("cluster"), F.col("centroid").alias("_cv")
    )
    return (
        assigned.join(F.broadcast(c), "cluster")
        .agg(F.sum(_sqdist(F.col(vec_col), F.col("_cv"))).alias("s"))
        .collect()[0]["s"]
    )


def kcenter_coreset(df: DataFrame, id_col: str, vec_col: str,
                    k: int = 8, round_digits: int = 6) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985's 2-approx
    farthest-point traversal; the geometric coreset rule behind
    data-efficient training selection à la Sener & Savarese ICLR'18):
    start from the lowest id, then repeatedly add the point farthest
    from the current selection. The selected k points cover the corpus
    within the final max-min radius — the diverse subset you label,
    distill on, or seed centroids from.

    Per round: one broadcast of the (tiny, <= k-row) selected set,
    one corpus scan computing each point's min distance to it (pure
    HOF fold, no vector shuffle), and ONE aggregated argmax row
    collected to the driver — k bounded rounds, same driver
    discipline as kmeans_fit/k_core. The argmax ranks on the rounded
    distance with an id tie-break, so the selection order is
    engine-exact. Returns (sel_order, vec_id, maxmin_dist) where
    maxmin_dist is the integer micro-distance of the point from the
    PREVIOUS selection (0 for the seed)."""
    from pyspark.sql import Window

    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    seed = base.orderBy("_id").limit(1).collect()[0]
    selected = [(1, int(seed["_id"]), 0)]
    sel_vecs = base.orderBy("_id").limit(1).select(
        F.col("_id").alias("_sid"), F.col("_v").alias("_sv")
    ).localCheckpoint()
    for step in range(2, k + 1):
        dmin = (
            base.join(F.broadcast(sel_vecs), F.col("_id") != F.col("_sid"))
            .withColumn(
                "_d",
                F.round(_sqdist(F.col("_v"), F.col("_sv")), round_digits),
            )
            .groupBy("_id")
            .agg(F.min("_d").alias("_dm"))
            .join(
                sel_vecs.select(F.col("_sid").alias("_id")),
                "_id",
                "left_anti",
            )
        )
        top = (
            dmin.orderBy(F.desc("_dm"), F.asc("_id")).limit(1).collect()
        )
        if not top:
            break
        nid, nd = int(top[0]["_id"]), top[0]["_dm"]
        selected.append(
            (step, nid, int(nd * 1_000_000 + 0.5))
        )
        sel_vecs = sel_vecs.unionByName(
            base.filter(F.col("_id") == nid).select(
                F.col("_id").alias("_sid"), F.col("_v").alias("_sv")
            )
        ).localCheckpoint()
    return tiny_df(
        df.sparkSession, selected,
        "sel_order int, vec_id long, maxmin_dist long",
    )


def kmeans_parallel_init(df: DataFrame, id_col: str, vec_col: str,
                         k: int = 4, rounds: int = 3, l: int | None = None,
                         seed: int = 7,
                         round_digits: int = 6) -> DataFrame:
    """k-means‖ scalable initialization (Bahmani et al., "Scalable
    k-means++", VLDB'12): instead of k sequential k-means++ passes,
    run ``rounds`` FIXED oversampling rounds that each select ~``l``
    candidates in parallel with probability l·d²(x,C)/φ, then reduce
    the weighted candidate set to k seeds. Quality-aware where the
    lowest-id seeding is quality-blind, and O(rounds) corpus passes
    where k-means++ needs k.

    Engine-exact determinism (the oracle replays every round):
    distances quantize to integer micro-units before the cost sum φ
    (order-free exact integer aggregation), and the "coin flip" is the
    engine-portable 60-bit MD5 of (seed, round, id) — selection is the
    pure integer comparison u·φ < d²·l·2⁶⁰ in DECIMAL(38,0)/HUGEINT,
    no RNG. The reduction takes the k heaviest candidates (weight =
    points assigned under the (rounded distance, cid) argmin; ties →
    lowest id) — the deterministic stand-in for Bahmani's weighted
    k-means++ recluster; the Lloyd path downstream is unchanged.

    Per round: one codegen argmin scan for the micro-distances (the
    (id, dq) frame checkpoints — 16 bytes/row), one bounded-expected
    selection collect (E[|sel|] = l per round — driver cost is the
    oversampled candidate set, ~l·rounds vectors, same order as the
    codebook collects), one pushdown-filtered vector fetch. Returns a
    (cluster, centroid) frame usable as kmeans_fit/ivf seeds."""
    from ..operators.hashing import md5_long

    if l is None:
        l = 2 * k
    U = 1 << 60
    seed_rows = (
        df.orderBy(id_col)
        .limit(1)
        .select(
            F.col(id_col).cast("long").alias("_cid"),
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double"), round_digits),
            ).alias("_cv"),
        )
        .collect()
    )
    if not seed_rows:
        return tiny_df(
            df.sparkSession, [], "cluster long, centroid array<double>"
        )
    cands = [(int(r["_cid"]), list(r["_cv"])) for r in seed_rows]
    have = {cands[0][0]}

    def micro(cv):
        return (
            f"CAST(floor(({sqdist_sql(f'`{vec_col}`', cv)})"
            " * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT)"
        )

    dec = "decimal(38,0)"
    for r in range(1, rounds + 1):
        dq = (
            df.select(
                F.col(id_col).alias("_id"),
                codebook_argmin(micro, cands).getField("d").alias("_dq"),
            )
            .localCheckpoint()
        )
        # sum in DECIMAL(38,0): a BIGINT sum of micro-distances wraps
        # silently long before the decimal selection products overflow
        phi_row = dq.agg(
            F.sum(F.col("_dq").cast(dec)).alias("p")
        ).collect()[0]
        phi = int(phi_row["p"]) if phi_row["p"] else 0
        if phi == 0:
            break
        # overflow guard: both comparison sides live in DECIMAL(38,0);
        # the larger is _dq * l*2^60 with _dq <= phi (and uq < 2^60 <=
        # l*2^60 on the left), so phi < 10^38 / (l*2^60) keeps every
        # product representable. Past that bound Spark's non-ANSI
        # decimal multiply yields NULL and would silently DROP
        # candidates while the HUGEINT oracle keeps selecting — fail
        # loudly instead (the sql_double non-finite discipline).
        phi_max = 10**38 // (l * U)
        if phi >= phi_max:
            raise ValueError(
                f"kmeans_parallel_init: round-{r} cost phi={phi} would "
                f"overflow DECIMAL(38,0) selection products (max "
                f"{phi_max}); rescale the corpus or lower round_digits"
            )
        uq = md5_long(
            F.concat(F.lit(f"km||:{seed}:{r}:"), F.col("_id").cast("string"))
        )
        sel = (
            dq.filter(
                uq.cast(dec) * F.lit(str(phi)).cast(dec)
                # l*2^60 exceeds int64 at l=8 — string-literal decimal
                < F.col("_dq").cast(dec) * F.lit(str(l * U)).cast(dec)
            )
            .select("_id")
            .collect()
        )
        new_ids = sorted(
            int(x["_id"]) for x in sel if int(x["_id"]) not in have
        )
        if not new_ids:
            continue
        fetched = (
            df.filter(F.col(id_col).isin(new_ids))
            .select(
                F.col(id_col).cast("long").alias("_cid"),
                F.transform(
                    F.col(vec_col),
                    lambda x: F.round(x.cast("double"), round_digits),
                ).alias("_cv"),
            )
            .collect()
        )
        cands.extend(
            sorted((int(x["_cid"]), list(x["_cv"])) for x in fetched)
        )
        have.update(new_ids)
    best = codebook_argmin(
        lambda cv: f"round({sqdist_sql(f'`{vec_col}`', cv)}, {round_digits})",
        cands,
    )
    weights = (
        df.select(best.getField("c").alias("_cid"))
        .groupBy("_cid")
        .agg(F.count(F.lit(1)).alias("_w"))
        .orderBy(F.desc("_w"), F.asc("_cid"))
        .limit(k)
        .collect()
    )
    keep = {int(r["_cid"]) for r in weights}
    rows = [(cid, cv) for cid, cv in cands if cid in keep]
    return tiny_df(
        df.sparkSession, rows, "cluster long, centroid array<double>"
    )
