"""KMV (k-minimum-values / bottom-k) distinct sketches.

``agg_approx_distinct`` covers HyperLogLog++, but HLL register
contents are engine-specific — the driver can only rows-only-check
it. KMV (Bar-Yossef et al., "Counting distinct elements in a data
stream", RANDOM'02; Beyer et al. SIGMOD'07 for the unbiased
estimator) is the sketch you reach for when the pipeline ALSO needs
cross-engine reproducibility: the sketch is just the k smallest
values of a deterministic hash, so two engines that share the hash
produce byte-identical sketches and identical estimates — fully
oracle-verifiable, like every other operator here.

Properties the 100 TB design point cares about:

- one hash + one bounded per-group top-k — no full distinct shuffle;
  the shuffled payload per group is capped at k longs;
- MERGEABLE: union two sketches and re-take the k smallest — daily
  sketches roll up to monthly without touching raw data
  (:func:`kmv_merge`);
- estimator (k-1) * H / h_k (H = hash-space size, h_k = k-th
  smallest hash) with exact integer arithmetic, so the estimate is
  bit-identical across engines and runs — usable as a stable
  filter/alert threshold, which an HLL estimate is not.

All hashing is the engine-portable 60-bit MD5 family
(operators/hashing.py); error is ~1/sqrt(k-2) (≈13% at k=64,
≈6% at k=256).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.session import tiny_df
from .hashing import affine_hash, md5_long, minhash_coeffs

HASH_SPACE = 1 << 60  # md5_long yields the top 60 bits of the digest


def kmv_sketch(df: DataFrame, group_cols: list[str], value_col: str,
               k: int = 64) -> DataFrame:
    """Per-group KMV sketch: (group..., sketch array<long> of the k
    smallest distinct hash values, ascending).

    Shape: distinct on (group, hash) — one hash-aggregate shuffle —
    then a per-group bounded rank. The rank window sorts only each
    group's distinct hashes; payload leaving the shuffle is <= k rows
    per group either way because row_number is applied before the
    collect."""
    h = (
        df.select(*group_cols, md5_long(F.col(value_col).cast("string")).alias("_h"))
        .distinct()
    )
    w = Window.partitionBy(*group_cols).orderBy("_h")
    return (
        h.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .groupBy(*group_cols)
        .agg(F.sort_array(F.collect_list("_h")).alias("sketch"))
    )


def kmv_estimate(sketch: Column, k: int = 64) -> Column:
    """Distinct-count estimate from a KMV sketch column: exact size
    when the group had fewer than k distinct values (the sketch IS
    the distinct set), else (k-1) * HASH_SPACE div h_k in exact
    decimal arithmetic (no float rounding — engine-portable)."""
    h_k = F.element_at(sketch, k)
    num = (
        F.lit(k - 1).cast("decimal(38,0)")
        * F.lit(HASH_SPACE).cast("decimal(38,0)")
    )
    return F.when(F.size(sketch) < k, F.size(sketch).cast("long")).otherwise(
        F.floor(num / h_k.cast("decimal(38,0)")).cast("long")
    )


def kmv_merge(a: Column, b: Column, k: int = 64) -> Column:
    """Merge two sketches: union, dedup, keep the k smallest — the
    rollup operation (day -> month) that never touches raw data."""
    return F.slice(F.array_sort(F.array_union(a, b)), 1, k)


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (exact two-pass)
# ---------------------------------------------------------------------------

def _mg_fold(counters: dict, batch_counts, k: int) -> dict:
    """Fold one batch's exact value_counts into a running Misra-Gries
    summary, keeping <= k counters (Agarwal et al., "Mergeable
    summaries", PODS'12 merge: combine, subtract the (k+1)-th largest
    count from everything, drop the non-positives)."""
    import heapq

    for term, c in batch_counts.items():
        counters[term] = counters.get(term, 0) + int(c)
    if len(counters) > k:
        kth = heapq.nlargest(k + 1, counters.values())[-1]
        counters = {t: c - kth for t, c in counters.items() if c > kth}
    return counters


def mg_candidates(items: DataFrame, item_col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries candidate pass: <= k candidate items
    per partition, NO shuffle, bounded memory no matter how large the
    item vocabulary is.

    Guarantee (what makes the exact second pass safe): a Misra-Gries
    summary with k counters retains every item whose partition
    frequency exceeds n_p/(k+1). Any item with GLOBAL frequency
    > N/(k+1) must exceed that relative share in at least one
    partition (pigeonhole over sum(n_p) = N), so the union of
    partition candidates is a superset of the true heavy hitters.

    The fold is Arrow-batched and vectorized: pandas ``value_counts``
    (C) per batch, then a dict merge over the batch's UNIQUE items —
    Python cost is O(distinct-per-batch), never O(tokens). The output
    schema mirrors the input item type, so numeric keys survive the
    downstream semi-join without a cast mismatch."""
    item_type = dict(items.dtypes)[item_col]
    out_schema = f"{item_col} {item_type}"

    def part(pdfs):
        import pandas as pd

        counters: dict = {}
        for pdf in pdfs:
            vc = pdf[item_col].value_counts()
            counters = _mg_fold(counters, vc, k)
        yield pd.DataFrame({item_col: list(counters)})

    return items.select(item_col).mapInPandas(part, out_schema)


def heavy_hitters(items: DataFrame, item_col: str, k: int) -> DataFrame:
    """EXACT heavy hitters — every item with frequency > N/(k+1), with
    its exact count — without ever shuffling the full vocabulary.

    At 100 TB a naive ``groupBy(item).count()`` over n-grams shuffles
    trillions of distinct keys to build counts that are then almost
    all thrown away. This is the classic two-scan fix:

    1. candidate pass: per-partition Misra-Gries (:func:`mg_candidates`)
       — map-only, <= k rows leave each partition;
    2. exact pass: broadcast the candidate set, semi-join it into the
       scan (the filter runs map-side, before any shuffle), and count
       only the survivors — the aggregate's key space is <= k * P
       candidates instead of the full vocabulary.

    Because pass 2 recounts exactly and re-applies the threshold, the
    result is bit-identical to the naive exact query (the MG pass only
    ever over-selects). Returns (item, freq) with freq * (k+1) > N."""
    cand = mg_candidates(items, item_col, k).distinct()
    tot = items.agg(F.count(F.lit(1)).alias("_n"))
    counts = (
        items.join(F.broadcast(cand), on=item_col, how="left_semi")
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .filter(F.col("freq") * (k + 1) > F.col("_n"))
        .select(item_col, "freq")
    )


def histogram_quantiles(df: DataFrame, value_col: str, n_bins: int = 64,
                        ps: tuple = (0.5, 0.9, 0.99),
                        round_digits: int = 4) -> DataFrame:
    """Quantile estimates from a fixed-width histogram sketch — the
    one-extra-pass, fully mergeable alternative to an exact global
    sort when a pipeline needs p50/p90/p99 thresholds at 100 TB.

    Two linear passes: a (min, max) aggregate, then per-bin counts —
    both partial-aggregate map-side, and the bin table is ``n_bins``
    rows no matter the input size (daily histograms ADD for rollups,
    like the KMV sketch above). The quantile itself interpolates
    linearly inside the covering bin: error is bounded by one bin
    width, chosen by ``n_bins``, not by data order — unlike
    approx_percentile's engine-specific sketch, every term here
    (integer counts, one float expression from identical operands) is
    engine-portable, so the estimates hash-match an oracle.

    The cumulative window runs over <= n_bins rows (single partition
    by design — bounded cardinality, not a data-scaled sort). A
    degenerate column (min == max) short-circuits to that constant.
    Returns (p, n_total, estimate)."""
    mm = df.agg(
        F.min(F.col(value_col).cast("double")).alias("lo"),
        F.max(F.col(value_col).cast("double")).alias("hi"),
        F.count(value_col).alias("n"),
    )
    binned = (
        df.select(F.col(value_col).cast("double").alias("x"))
        .crossJoin(F.broadcast(mm))
        .select(
            F.when(F.col("hi") == F.col("lo"), F.lit(0))
            .otherwise(
                F.least(
                    F.floor(
                        (F.col("x") - F.col("lo"))
                        / ((F.col("hi") - F.col("lo")) / n_bins)
                    ),
                    F.lit(n_bins - 1),
                )
            )
            .cast("int")
            .alias("bin")
        )
    )
    counts = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "cum_before", F.col("cum") - F.col("cnt")
    )
    spark = df.sparkSession
    pf = tiny_df(spark, [(float(p),) for p in ps], "p double")
    cand = (
        cum.crossJoin(F.broadcast(pf))
        .crossJoin(F.broadcast(mm))
        .filter(F.col("cum") >= F.col("p") * F.col("n"))
    )
    pick = Window.partitionBy("p").orderBy("bin")
    width = (F.col("hi") - F.col("lo")) / n_bins
    est = F.when(F.col("hi") == F.col("lo"), F.col("lo")).otherwise(
        F.col("lo")
        + width
        * (
            F.col("bin")
            + (F.col("p") * F.col("n") - F.col("cum_before")) / F.col("cnt")
        )
    )
    return (
        cand.withColumn("_rk", F.row_number().over(pick))
        .filter(F.col("_rk") == 1)
        .select(
            "p",
            F.col("n").cast("long").alias("n_total"),
            (F.round(est, round_digits) + F.lit(0.0)).alias("estimate"),
        )
    )


def global_kmv(df: DataFrame, value_col: str, k: int = 256) -> DataFrame:
    """ONE table-wide KMV sketch as a 1-row frame (sketch
    array<long>, n_rows long).

    The k smallest distinct hashes are found with orderBy(h).limit(k)
    — Spark plans that as TakeOrderedAndProject (per-partition top-k
    merged on the driver), so no single-partition sort and no
    data-scaled window ever materializes; the only shuffle is the
    distinct. n_rows rides along from a separate count branch of the
    same scan."""
    hashed = df.select(
        md5_long(F.col(value_col).cast("string")).alias("_h")
    )
    bottom = (
        hashed.distinct().orderBy("_h").limit(k)
        .agg(F.sort_array(F.collect_list("_h")).alias("sketch"))
    )
    n = df.agg(F.count(F.col(value_col)).alias("n_rows"))
    return bottom.crossJoin(F.broadcast(n))


def kmv_join_estimate(df_a: DataFrame, key_a: str,
                      df_b: DataFrame, key_b: str,
                      k: int = 256) -> DataFrame:
    """Join-cardinality estimate from two KMV sketches — the
    planner's question ('how big is A ⋈ B on this key?') answered
    WITHOUT shuffling either table: each side pays one distinct +
    TakeOrdered top-k, and everything after runs on two k-element
    arrays.

    Estimator (Beyer et al., SIGMOD'07): the union's bottom-k
    estimates |A ∪ B|; the fraction of that bottom-k present in BOTH
    sketches estimates the Jaccard similarity; their product
    estimates the matched key count; and uniform-multiplicity
    scaling (n_a/d_a rows per key, n_b/d_b) turns matched keys into
    join rows — all exact integer/decimal arithmetic, so the
    estimate replays bit-for-bit in the oracle.

    Returns 1 row: (n_a, n_b, d_a_est, d_b_est, d_union_est,
    inter_keys_est, est_join_rows)."""
    a = global_kmv(df_a, key_a, k).select(
        F.col("sketch").alias("sk_a"), F.col("n_rows").alias("n_a"))
    b = global_kmv(df_b, key_b, k).select(
        F.col("sketch").alias("sk_b"), F.col("n_rows").alias("n_b"))
    j = a.crossJoin(F.broadcast(b))
    union_k = kmv_merge(F.col("sk_a"), F.col("sk_b"), k)
    j = j.select(
        "n_a", "n_b", "sk_a", "sk_b", union_k.alias("sk_u"),
        F.size(F.array_intersect(
            union_k, F.array_intersect(F.col("sk_a"), F.col("sk_b"))
        )).alias("_inter_in_u"),
    )
    d_a = kmv_estimate(F.col("sk_a"), k)
    d_b = kmv_estimate(F.col("sk_b"), k)
    d_u = kmv_estimate(F.col("sk_u"), k)
    dec = "decimal(38,0)"
    # matched keys = (inter-fraction of union bottom-k) * |A ∪ B|
    inter_est = F.floor(
        F.col("_inter_in_u").cast(dec) * d_u.cast(dec)
        / F.greatest(F.size("sk_u"), F.lit(1)).cast(dec)
    ).cast("long")
    est_rows = F.floor(
        inter_est.cast(dec) * F.col("n_a").cast(dec)
        * F.col("n_b").cast(dec)
        / F.greatest((d_a.cast(dec) * d_b.cast(dec)), F.lit(1).cast(dec))
    ).cast("long")
    return j.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        d_a.alias("d_a_est"),
        d_b.alias("d_b_est"),
        d_u.alias("d_union_est"),
        inter_est.alias("inter_keys_est"),
        est_rows.alias("est_join_rows"),
    )


def cms_counts(items: DataFrame, item_col: str, d: int = 4,
               w: int = 256, seed: int = 31) -> DataFrame:
    """Count-Min sketch of an item stream as a (row, bucket, cnt)
    frame — d·w cells total (Cormode & Muthukrishnan, J.Alg'05).

    Each item increments one bucket per row j, where bucket_j =
    affine_j(md5(item)) mod w from the engine-portable hash family.
    The ONLY shuffle groups on (row, bucket) — at most d·w distinct
    keys with map-side combine, so the vocabulary itself never
    shuffles (the same reason heavy_hitters exists). Counts are exact
    integers; two sketches with the same (d, w, seed) merge by
    adding cells."""
    cs = minhash_coeffs(d, seed=seed)
    # hash ONCE per item in its own projection — referencing the md5
    # expression from all d array slots would re-evaluate it d times
    # per row (no CSE across array(struct(...)) slots): measured 17.5s
    # -> the affine remaps then cost almost nothing
    hashed = items.select(
        md5_long(F.col(item_col).cast("string")).alias("_h")
    )
    rows = F.array(*[
        F.struct(
            F.lit(j).alias("row"),
            (affine_hash(F.col("_h"), a, b) % w).cast("int")
            .alias("bucket"),
        )
        for j, (a, b) in enumerate(cs)
    ])
    return (
        hashed.select(F.explode(rows).alias("_c"))
        .groupBy(F.col("_c.row").alias("row"),
                 F.col("_c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(items: DataFrame, item_col: str, probes,
                 d: int = 4, w: int = 256,
                 seed: int = 31) -> DataFrame:
    """Frequency estimates for ``probes`` from a Count-Min sketch of
    ``items``, side by side with the exact counts: one row per probe
    (item, est_freq, exact_freq). est >= exact always (CM
    overestimates, never under); the error bound is N·e/w with
    probability 1−e^−d.

    The sketch build is the only corpus pass (d·w-key aggregate);
    estimates read d cells per probe from the broadcast sketch; the
    exact twin is a map-side isin filter + count — validation-scale
    honesty, never needed in production."""
    cs = minhash_coeffs(d, seed=seed)
    sk = cms_counts(items, item_col, d, w, seed)
    spark = items.sparkSession
    probe_df = tiny_df(spark, [(p,) for p in probes], f"{item_col} string")
    h = md5_long(F.col(item_col).cast("string"))
    probe_cells = probe_df.select(
        item_col,
        *[
            (affine_hash(h, a, b) % w).cast("int").alias(f"b{j}")
            for j, (a, b) in enumerate(cs)
        ],
    )
    est = probe_cells
    for j in range(d):
        cell = sk.filter(F.col("row") == j).select(
            F.col("bucket").alias(f"b{j}"),
            F.col("cnt").alias(f"c{j}"),
        )
        est = est.join(F.broadcast(cell), f"b{j}", "left")
    est = est.select(
        item_col,
        F.least(*[
            F.coalesce(F.col(f"c{j}"), F.lit(0)) for j in range(d)
        ]).cast("long").alias("est_freq"),
    )
    exact = (
        items.filter(F.col(item_col).isin(list(probes)))
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("exact_freq"))
    )
    return (
        est.join(F.broadcast(exact), item_col, "left")
        .select(
            item_col,
            "est_freq",
            F.coalesce("exact_freq", F.lit(0)).cast("long")
            .alias("exact_freq"),
        )
    )
