"""Data-quality validation — the Deequ-style gate a training
pipeline runs before any corpus snapshot is allowed downstream
(constraint suites, column profiles, referential orphan audits, and
PSI distribution drift between snapshots).

Design rule: a quality check may not cost more than the scan it
validates. Every suite here is a SINGLE pass over the table —
constraints become conditional aggregates fused into one `agg` (one
job, map-side combined, 1-row result exploded to the long-form
report); profiles fuse per-column stats the same way; only the
orphan audit pays joins, and those are key-only anti-join counts.
All metrics are 1e-6 fixed-point integers so the report replays
bit-for-bit in the SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "check_num_den",
    "expectation_report",
    "expectation_trend",
    "column_profile",
    "referential_orphans",
    "psi_drift",
    "psi_bucket",
    "psi_from_counts",
    "information_value",
    "skew_report",
    "freshness",
]

from ..plans.session import tiny_df
from .exactlog import as_dec

_MIL = 1_000_000


def check_num_den(kind: str, args):
    """The (numerator, denominator) aggregate pair of one
    expectation check — shared between the batch suite and the
    streaming fold. All pairs except ``uniqueness`` are plain
    conditional COUNTs, i.e. exact integers that MERGE by addition
    across micro-batches; uniqueness (countDistinct) does not merge
    and is therefore batch-only (the streaming gate uses the KMV
    sketch family for cardinality instead)."""
    if kind == "completeness":
        c = F.col(args[0])
        return F.count(c), F.count(F.lit(1))
    if kind == "uniqueness":
        c = F.col(args[0])
        return F.countDistinct(c), F.count(c)
    if kind == "range":
        c, lo, hi = F.col(args[0]), args[1], args[2]
        return (F.count(F.when(c.between(F.lit(lo), F.lit(hi)), 1)),
                F.count(c))
    if kind == "membership":
        c, vals = F.col(args[0]), list(args[1])
        return F.count(F.when(c.isin(vals), 1)), F.count(c)
    if kind == "non_negative":
        c = F.col(args[0])
        return F.count(F.when(c >= 0, 1)), F.count(c)
    raise ValueError(f"unknown expectation kind: {kind}")


def expectation_report(df: DataFrame, checks) -> DataFrame:
    """Evaluate a constraint suite in ONE aggregate pass.

    ``checks`` is a list of (name, kind, args) with kinds:
      - ("completeness", col)            — fraction non-null
      - ("uniqueness", col)              — distinct / total
      - ("range", col, lo, hi)           — fraction of non-null in [lo, hi]
      - ("membership", col, values)      — fraction of non-null in set
      - ("non_negative", col)            — fraction of non-null >= 0
    Each yields a row (constraint, metric_fp, passed) where metric is
    the satisfied fraction (uniqueness: distinct ratio) in 1e-6 fixed
    point and passed = metric == 1.0. All constraints share one scan:
    they are conditional aggregates inside a single ``agg`` whose
    1-row result is exploded into the long-form report — no per-check
    jobs, no second pass, no shuffle beyond the final 1-row explode.
    """
    aggs, names = [], []
    for chk in checks:
        name = chk[0]
        names.append(name)
        num, den = check_num_den(chk[1], chk[2:])
        # exact integer fraction in 1e-6 fixed point (floor), NULL-den -> 0
        metric = F.when(
            den > 0, F.floor(F.lit(_MIL) * num / den)
        ).otherwise(F.lit(0)).cast("long")
        aggs.append(metric.alias(name))
    one = df.agg(*aggs)
    pairs = F.array(*[
        F.struct(
            F.lit(n).alias("constraint"),
            F.col(n).alias("metric_fp"),
        )
        for n in names
    ])
    return (
        one.select(F.explode(pairs).alias("r"))
        .select(
            F.col("r.constraint").alias("constraint"),
            F.col("r.metric_fp").alias("metric_fp"),
            (F.col("r.metric_fp") == _MIL).alias("passed"),
        )
    )


def column_profile(df: DataFrame, cols) -> DataFrame:
    """Long-form per-column profile in ONE pass: rows of
    (column, n_rows, n_null, n_distinct, min_str, max_str,
    avg_len_fp). min/max are stringified so numeric and text columns
    share one report schema; avg_len is the mean of the stringified
    value length (1e-6 fixed point, floor). One fused aggregate, one
    1-row explode."""
    aggs = []
    for c in cols:
        col = F.col(c)
        s = col.cast("string")
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(col.isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(col).alias(f"{c}__distinct"),
            F.min(s).alias(f"{c}__min"),
            F.max(s).alias(f"{c}__max"),
            # decimal multiply: sum(length) reaches ~5e14 at 1e12
            # rows x 500 chars, and x1e6 would wrap a long inside
            # the 100 TB design point (the pure-count metrics stay
            # long: 1e6 x row-count fits to ~9e12 rows)
            F.coalesce(
                F.floor(F.lit(_MIL).cast("decimal(38,0)")
                        * F.sum(F.length(s)) / F.count(s)),
                F.lit(0),
            ).cast("long").alias(f"{c}__avglen"),
        ]
    one = df.agg(*aggs)
    rows = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__n").alias("n_rows"),
            F.col(f"{c}__nulls").alias("n_null"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_str"),
            F.col(f"{c}__max").alias("max_str"),
            F.col(f"{c}__avglen").alias("avg_len_fp"),
        )
        for c in cols
    ])
    return one.select(F.explode(rows).alias("r")).select("r.*")


def referential_orphans(pairs) -> DataFrame:
    """Referential-integrity audit: for each (name, child_df,
    child_key, parent_df, parent_key), count child rows whose key has
    no parent (NULL keys are orphans — a NULL FK cannot reference).
    Key-only projections feed LEFT ANTI joins, so each relation costs
    a join on two single-column frames. No explicit distinct on the
    parent: an anti-join only asks "exists?", its build side dedups
    internally, and a distinct-first would add a second full shuffle
    of the parent keys for nothing. Results union into
    (relation, n_orphans)."""
    out = None
    for name, child, ck, parent, pk in pairs:
        orphans = (
            child.select(F.col(ck).alias("_k"))
            .join(
                parent.select(F.col(pk).alias("_k")),
                on="_k", how="left_anti",
            )
            .agg(
                F.lit(name).alias("relation"),
                F.count(F.lit(1)).cast("long").alias("n_orphans"),
            )
        )
        out = orphans if out is None else out.unionByName(orphans)
    return out


def psi_drift(df_a: DataFrame, df_b: DataFrame, value_col: str,
              lo: float, hi: float, n_buckets: int) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column over fixed-width buckets on [lo, hi) (out-of-range values
    clamp into the edge buckets, NULLs drop).

    Returns one row per bucket (bucket, share_a_fp, share_b_fp,
    contrib_fp) plus the psi_fp total repeated on every row, so one
    report carries both the headline number and where the drift
    lives. PSI = sum((pa - pb) * ln(pa / pb)) with 1e-6 Laplace-style
    smoothing on each share so empty buckets stay finite; every float
    op keeps one canonical operand order so the statistic replays in
    the oracle. Cost: one aggregate per snapshot (n_buckets rows),
    then a broadcast-sized join."""
    def bucketed(df, tag):
        b = psi_bucket(value_col, lo, hi, n_buckets)
        return (
            df.filter(F.col(value_col).isNotNull())
            .groupBy(b.alias("bucket"))
            .agg(F.count(F.lit(1)).alias(f"n_{tag}"))
        )
    a, b = bucketed(df_a, "a"), bucketed(df_b, "b")
    return psi_from_counts(a, b, n_buckets)


def psi_bucket(value_col: str, lo: float, hi: float,
               n_buckets: int):
    """The shared bucketing Column: fixed width on [lo, hi),
    out-of-range clamps into the edge buckets. One definition so the
    batch report and the streaming fold can never disagree."""
    width = (hi - lo) / n_buckets
    return F.least(
        F.greatest(
            F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)),
            F.lit(0),
        ),
        F.lit(n_buckets - 1),
    ).cast("int")


def psi_from_counts(a: DataFrame, b: DataFrame,
                    n_buckets: int) -> DataFrame:
    """The PSI report from two pre-bucketed count frames
    (bucket int, n_a|n_b long) — the shared core of the batch
    ``psi_drift`` and the streaming fold's drain, so the online
    monitor is bit-identical to the offline report BY CONSTRUCTION.

    Evaluation (r14 optimization, guide §1.2 per-task work): the
    distributed part of this report is the two bucket-count
    aggregates the CALLER built — everything after them touches at
    most ``n_buckets`` rows. Compiling the 24-step decimal(38,0)
    intlog ladder into codegen cost ~2 s of driver/compile time per
    run for those ≤10 rows (generated code varies by expression id,
    so no compile cache ever hits), so the ladder now evaluates on
    the driver via intlog's property-tested pure-Python twins
    (``ln14_py`` et al. — bit-identical by tests/test_intlog.py, and
    the ``dq_intlog_probe``/``dq_fp6_probe`` sentinels keep proving
    the in-plan SQL ladder against the oracle). The collect is
    bounded by ``n_buckets`` — the same bounded-driver discipline as
    the codebook collects. Degenerate totals (an empty snapshot)
    fall back to the expression plan so null-propagation semantics
    stay exactly the engine's."""
    arows = {int(r["bucket"]): int(r["n_a"] or 0) for r in a.collect()}
    brows = {int(r["bucket"]): int(r["n_b"] or 0) for r in b.collect()}
    na = [arows.get(i, 0) for i in range(n_buckets)]
    nb = [brows.get(i, 0) for i in range(n_buckets)]
    ta, tb = sum(na), sum(nb)
    if ta > 0 and tb > 0:
        from .intlog import (
            contrib_fp6_py, fp6_ratio_py, ln14_py, sdiv10_py,
        )

        m = _MIL
        per_rows = []
        for i in range(n_buckets):
            pa_num = na[i] * m + ta
            pb_num = nb[i] * m + tb
            lnum, lden = pa_num * tb, pb_num * ta
            lr14 = ln14_py(lnum, lden, k_exp=24)
            d10 = sdiv10_py(lnum - lden, ta * tb * m)
            per_rows.append((
                i,
                fp6_ratio_py(pa_num, ta * m),
                fp6_ratio_py(pb_num, tb * m),
                contrib_fp6_py(d10, lr14),
            ))
        psi_fp = sum(r[3] for r in per_rows)
        spark = a.sparkSession
        return tiny_df(
            spark, [r + (psi_fp,) for r in per_rows],
            "bucket int, share_a_fp long, share_b_fp long, "
            "contrib_fp long, psi_fp long",
        )
    return _psi_from_counts_expr(a, b, n_buckets)


def _psi_from_counts_expr(a: DataFrame, b: DataFrame,
                          n_buckets: int) -> DataFrame:
    """The in-plan expression spelling of the PSI report — the
    degenerate-totals fallback, and the reference the driver-side
    fast path must stay bit-identical to (same steps, same
    constants; tests/test_dataquality.py locks the equivalence)."""
    all_b = a.sparkSession.range(n_buckets) \
        .select(F.col("id").cast("int").alias("bucket"))
    j = (
        all_b.join(F.broadcast(a), "bucket", "left")
        .join(F.broadcast(b), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
    )
    tot = j.agg(
        F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb")
    )
    # eps-smoothed shares as EXACT integer fractions (eps = 1e-6):
    #   pa = n_a/ta + 1e-6 = (n_a·M + ta) / (ta·M),  M = 1e6
    # and from round 10 the ln itself is LIBM-FREE: intlog evaluates
    # ln(pa_num·tb / (pb_num·ta)) in pure decimal(38,0) integer
    # arithmetic (HUGEINT in the oracle), so every compared column is
    # an exact integer with NO float anywhere in its lineage — the
    # round-8/9 driver-gate 1-ulp libm skew has nothing left to act
    # on. Shares use the exact half-up integer ratio; the
    # (pa−pb)·ln(pa/pb) contribution multiplies the scale-1e10 signed
    # difference by the scale-1e14 log and quantizes once.
    from .intlog import (
        apply_steps, contrib_fp6_sql, fp6_ratio_sql, ln14_steps,
        sdiv10_steps,
    )

    m = F.lit(_MIL).cast("decimal(38,0)")
    na, nb = as_dec(F.col("n_a")), as_dec(F.col("n_b"))
    ta, tb = as_dec(F.col("ta")), as_dec(F.col("tb"))
    base = (
        j.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (na * m + ta).alias("_pa_num"),
            (nb * m + tb).alias("_pb_num"),
            ta.alias("_ta"), tb.alias("_tb"),
        )
    )
    _m = "CAST(1000000 AS DECIMAL(38,0))"
    # the whole derivation — cross-multiplied log operands, the
    # integer ln ladder, the signed difference ratio, and the three
    # fixed-point outputs — is ONE lateral-alias projection (one
    # analysis pass; a withColumn chain re-analyzes per step)
    steps = [
        ("_lnum", "(_pa_num * _tb)"),
        ("_lden", "(_pb_num * _ta)"),
        ("_dnum", "(_lnum - _lden)"),
        ("_dden", f"(_ta * _tb * {_m})"),
        # K=24 exponent chain: the 1e-6 smoothing bounds the ratio
        # within [1/(M+1), M+1] ⊂ [2^-20, 2^20]; shorter chains are
        # value-identical in range and ~40% less plan to analyze
        *ln14_steps("_lnum", "_lden", "_lr14", "spark", k_exp=24),
        *sdiv10_steps("_dnum", "_dden", "_d10", "spark"),
        ("share_a_fp", fp6_ratio_sql("_pa_num", f"(_ta * {_m})",
                                     "spark")),
        ("share_b_fp", fp6_ratio_sql("_pb_num", f"(_tb * {_m})",
                                     "spark")),
        ("contrib_fp", contrib_fp6_sql("_d10", "_lr14", "spark")),
    ]
    per = apply_steps(base, steps).select(
        "bucket", "share_a_fp", "share_b_fp", "contrib_fp",
    )
    # total = integer sum of the per-bucket fixed-point contribs:
    # float addition is not associative, so summing doubles would
    # depend on partition order — the integer sum replays anywhere.
    total = per.agg(F.sum("contrib_fp").alias("psi_fp"))
    return (
        per.crossJoin(F.broadcast(total))
        .select("bucket", "share_a_fp", "share_b_fp",
                "contrib_fp", "psi_fp")
    )


def skew_report(df: DataFrame, key_col: str, top_k: int = 10,
                target_rows_per_task: int = 1_000_000) -> DataFrame:
    """Join-key skew audit: the report an operator reads BEFORE
    shipping a big join, so the hot keys get salted (or AQE skew
    thresholds tuned) instead of discovered as a straggler task.

    Rows are the ``top_k`` hottest keys by frequency (count desc,
    key asc tie-break), each carrying: the stringified key, its row
    count, its share of all rows (1e-6 fixed point), its multiple of
    the mean per-key count (how lopsided), and ``salt_factor`` — the
    number of salt buckets that brings the key under
    ``target_rows_per_task`` rows per reduce task (1 = no salting
    needed). n_rows/n_keys totals repeat on every row so one report
    answers both "how bad" and "where".

    Cost: the same single hash-agg shuffle the audited join would
    pay on its build of the key, a TakeOrdered top-k, and 1-row
    broadcast totals — strictly cheaper than the join it protects.
    """
    counts = df.groupBy(
        F.col(key_col).cast("string").alias("key")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("key")).limit(top_k)
    return (
        top.crossJoin(F.broadcast(totals))
        .select(
            "key",
            F.col("cnt").cast("long").alias("cnt"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_keys").cast("long").alias("n_keys"),
            F.floor(F.lit(_MIL) * F.col("cnt") / F.col("n_rows"))
            .cast("long").alias("share_fp"),
            # cnt / (n_rows / n_keys): exact decimal product (the
            # long form wraps once cnt * n_keys passes ~9e12), then
            # the same double division as the oracle
            F.floor(
                (F.lit(_MIL).cast("decimal(38,0)") * F.col("cnt")
                 * F.col("n_keys")).cast("double") / F.col("n_rows")
            ).cast("long").alias("x_avg_fp"),
            F.ceil(F.col("cnt") / F.lit(target_rows_per_task))
            .cast("long").alias("salt_factor"),
        )
        .orderBy(F.col("cnt").desc(), F.col("key"))
    )


def information_value(df: DataFrame, value_col: str, label_expr,
                      lo: float, hi: float,
                      n_buckets: int) -> DataFrame:
    """Weight-of-Evidence / Information Value report — the standard
    feature-screening card (credit-scoring lineage): how well do
    buckets of a numeric feature separate a binary outcome.

    Per bucket: WOE = ln(share_of_positives / share_of_negatives)
    and the IV contribution (p_share − n_share) · WOE; the headline
    IV (> 0.3 ≈ strong predictor) repeats on every row. Same
    discipline as the PSI report it mirrors: one aggregate pass
    (bucket × outcome counts are exact integers), 1e-6 smoothing
    keeps empty cells finite, canonical float order, and the
    headline sums the per-bucket FIXED-POINT integers so it replays
    regardless of partition order."""
    b = psi_bucket(value_col, lo, hi, n_buckets)
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(b.alias("bucket"))
        .agg(
            F.sum(label_expr.cast("long")).alias("n_pos"),
            F.sum((~label_expr).cast("long")).alias("n_neg"),
        )
    )
    # driver-side ladder over the ≤n_buckets count rows — same
    # rationale and same py-twin discipline as psi_from_counts (the
    # distributed work is the one bucket×outcome aggregate above)
    crows = {
        int(r["bucket"]): (int(r["n_pos"] or 0), int(r["n_neg"] or 0))
        for r in counts.collect()
    }
    np_l = [crows.get(i, (0, 0))[0] for i in range(n_buckets)]
    nn_l = [crows.get(i, (0, 0))[1] for i in range(n_buckets)]
    tp_i, tn_i = sum(np_l), sum(nn_l)
    if tp_i > 0 and tn_i > 0:
        from .intlog import (
            contrib_fp6_py, fp6_from_ln14_py, ln14_py, sdiv10_py,
        )

        m = _MIL
        per_rows = []
        for i in range(n_buckets):
            ps_num = np_l[i] * m + tp_i
            ns_num = nn_l[i] * m + tn_i
            lnum, lden = ps_num * tn_i, ns_num * tp_i
            woe14 = ln14_py(lnum, lden, k_exp=24)
            d10 = sdiv10_py(lnum - lden, tp_i * tn_i * m)
            per_rows.append((
                i, np_l[i], nn_l[i],
                fp6_from_ln14_py(woe14),
                contrib_fp6_py(d10, woe14),
            ))
        iv_fp = sum(r[4] for r in per_rows)
        spark = df.sparkSession
        return tiny_df(
            spark, [r + (iv_fp,) for r in per_rows],
            "bucket int, n_pos long, n_neg long, woe_fp long, "
            "iv_contrib_fp long, iv_fp long",
        )
    all_b = df.sparkSession.range(n_buckets) \
        .select(F.col("id").cast("int").alias("bucket"))
    j = (
        all_b.join(F.broadcast(counts), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_pos", F.lit(0)).alias("n_pos"),
            F.coalesce("n_neg", F.lit(0)).alias("n_neg"),
        )
    )
    tot = j.agg(F.sum("n_pos").alias("tp"), F.sum("n_neg").alias("tn"))
    # Same libm-free integer spelling as psi_from_counts (round 10):
    # ps = n_pos/tp + 1e-6 = (n_pos·M + tp)/(tp·M); WOE is intlog's
    # pure-integer ln of the cross-multiplied fraction; the IV
    # contribution quantizes (ps−ns)·WOE from exact integer factors.
    from .intlog import (
        apply_steps, contrib_fp6_sql, fp6_from_ln14_sql, ln14_steps,
        sdiv10_steps,
    )

    m = F.lit(_MIL).cast("decimal(38,0)")
    np_, nn_ = as_dec(F.col("n_pos")), as_dec(F.col("n_neg"))
    tp, tn = as_dec(F.col("tp")), as_dec(F.col("tn"))
    base = (
        j.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.col("n_pos").cast("long").alias("n_pos"),
            F.col("n_neg").cast("long").alias("n_neg"),
            (np_ * m + tp).alias("_ps_num"),
            (nn_ * m + tn).alias("_ns_num"),
            tp.alias("_tp"), tn.alias("_tn"),
        )
    )
    _m = "CAST(1000000 AS DECIMAL(38,0))"
    # one lateral-alias projection, same as psi_from_counts
    steps = [
        ("_lnum", "(_ps_num * _tn)"),
        ("_lden", "(_ns_num * _tp)"),
        ("_dnum", "(_lnum - _lden)"),
        ("_dden", f"(_tp * _tn * {_m})"),
        *ln14_steps("_lnum", "_lden", "_woe14", "spark", k_exp=24),
        *sdiv10_steps("_dnum", "_dden", "_d10", "spark"),
        ("woe_fp", fp6_from_ln14_sql("_woe14", "spark")),
        ("iv_contrib_fp", contrib_fp6_sql("_d10", "_woe14", "spark")),
    ]
    per = apply_steps(base, steps).select(
        "bucket", "n_pos", "n_neg", "woe_fp", "iv_contrib_fp",
    )
    total = per.agg(F.sum("iv_contrib_fp").alias("iv_fp"))
    return (
        per.crossJoin(F.broadcast(total))
        .select("bucket", "n_pos", "n_neg", "woe_fp",
                "iv_contrib_fp", "iv_fp")
    )


def expectation_trend(df: DataFrame, slice_col: str,
                      checks) -> DataFrame:
    """The constraint suite PER SLICE (per day, per source, per
    partition) — 'which day broke the feed', not just 'the feed is
    broken'. Same fused conditional aggregates as
    ``expectation_report``, grouped by the slice: one hash-agg
    shuffle on the slice key, then the per-slice 1-row explode.
    Rows: (slice, constraint, metric_fp, passed)."""
    aggs, names = [], []
    for chk in checks:
        name = chk[0]
        names.append(name)
        num, den = check_num_den(chk[1], chk[2:])
        metric = F.when(
            den > 0, F.floor(F.lit(_MIL) * num / den)
        ).otherwise(F.lit(0)).cast("long")
        aggs.append(metric.alias(name))
    per_slice = df.groupBy(F.col(slice_col).alias("slice")).agg(*aggs)
    pairs = F.array(*[
        F.struct(
            F.lit(n).alias("constraint"),
            F.col(n).alias("metric_fp"),
        )
        for n in names
    ])
    return (
        per_slice.select("slice", F.explode(pairs).alias("r"))
        .select(
            "slice",
            F.col("r.constraint").alias("constraint"),
            F.col("r.metric_fp").alias("metric_fp"),
            (F.col("r.metric_fp") == _MIL).alias("passed"),
        )
    )


def freshness(df: DataFrame, dim_col: str, ts_col: str,
              max_lag_s: int = 86_400) -> DataFrame:
    """Per-slice data-freshness audit — the first page of every
    pipeline-health dashboard: for each ``dim_col`` slice, the row
    count, the latest event time, the staleness lag behind the
    freshest slice, and a boolean gate at ``max_lag_s``. A feed that
    silently stopped landing shows up here hours before any
    distribution test notices.

    Exact and engine-portable: event times reduce to integer epoch
    MICROSECONDS (max over longs), the lag is one floor-divide to
    whole seconds, and the gate compares integers. Only the
    DIFFERENCE is emitted, never an absolute epoch — the testdata
    timestamps are tz-naive (TIMESTAMP_NTZ), and any fixed
    session-timezone offset the epoch extraction applies cancels in
    the subtraction (the core_queries dwell-time convention), so the
    card replays under any driver session timezone. One hash
    aggregate keyed by the slice column plus a 1-row broadcast of the
    global max — no windows, corpus scans once."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    per = df.groupBy(dim_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max(us).alias("_us"),
    )
    g = per.agg(F.max("_us").alias("_g"))
    lag = F.floor(
        (F.col("_g") - F.col("_us")) / F.lit(1_000_000)
    ).cast("long")
    return per.crossJoin(F.broadcast(g)).select(
        dim_col,
        "n",
        lag.alias("lag_s"),
        (lag > F.lit(max_lag_s)).alias("stale"),
    )
