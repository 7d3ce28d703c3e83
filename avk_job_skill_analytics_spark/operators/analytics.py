"""Analytics query library — the reference's BI layer as DataFrame builders.

Every dashboard query in the reference's Power BI semantic model
(``job-skill.pbix``; SURVEY.md §2.4–2.6: A1–A12, J2/J3, O1–O3)
re-expressed as a parameterized, Catalyst-compiled query builder.
All functions are lazy: they return DataFrames, never collect.

Scale notes (100 TB design point):
- every grouped aggregate here is a hash aggregate with map-side
  partial aggregation (Catalyst default) — one shuffle on the group key;
- Top-N uses ``TakeOrderedAndProject`` (per-partition limit, then a
  single-reducer merge of N-row heaps) — no global sort;
- Top-N *semi-joins* broadcast the N-row side (explicit
  ``F.broadcast``), so the fact table is never shuffled for them;
- distinct counts have ``approx_`` variants for interactive use at
  scale (A2; SURVEY.md §4).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .exactlog import fp6_floor


def _apply_filters(df: DataFrame, filters: Sequence[Column] | None) -> DataFrame:
    """P7 slicer/filter context: every BI query is parameterized by
    optional WHERE clauses (site, month/day slicers in the reference)."""
    for f in filters or ():
        df = df.filter(f)
    return df


# ---------------------------------------------------------------- A1-A5: KPIs
def count_nonnull(df: DataFrame, col: str, alias: str = "n", filters=None) -> DataFrame:
    """A1 — CountNonNull(col): 'Total Jobs Posted' card."""
    return _apply_filters(df, filters).agg(F.count(col).alias(alias))


def kpi_cards(df: DataFrame, measures: dict[str, Column], filters=None) -> DataFrame:
    """A1–A5 combined — one pass over the fact table computing every
    scalar card (count/min/max/avg/sum) in a single hash-less global
    aggregate, instead of one scan per card as a BI engine would."""
    return _apply_filters(df, filters).agg(
        *[expr.alias(name) for name, expr in measures.items()]
    )


# ------------------------------------------------------- A6/A7: grouped aggs
def grouped_agg(df: DataFrame, keys: Sequence[str], aggs: dict[str, Column],
                filters=None) -> DataFrame:
    """A6/A7 — grouped aggregation by one or more dimensions (donut,
    treemap, stacked-area visuals). Partial+final aggregation is
    Catalyst-automatic; one shuffle on `keys`."""
    return (
        _apply_filters(df, filters)
        .groupBy(*keys)
        .agg(*[expr.alias(name) for name, expr in aggs.items()])
    )


def count_by_dim(df: DataFrame, dim: str, alias: str = "cnt", filters=None) -> DataFrame:
    """A6 — jobs per site / company / city / type / skill."""
    return grouped_agg(df, [dim], {alias: F.count(F.lit(1))}, filters)


# ------------------------------------------------- A8/O1-O3: argmax & top-N
def top_n_by_agg(df: DataFrame, dim: str, agg: Column, n: int,
                 agg_alias: str = "cnt", filters=None) -> DataFrame:
    """O3 + A8 — top-N categories by an aggregate, deterministic
    tie-break on the dimension value. n=1 is the argmax ('Top Hiring
    City' — exact DAX recovered in job-skill.pbix →
    DAXQueries/Query%201.dax: TOPN(1, SUMMARIZE(...), [c], DESC)).

    Physical plan: hash agg → TakeOrderedAndProject (bounded heap per
    partition; no global sort) — survives any fact-table size since
    only |distinct dim| rows reach the ordering."""
    return (
        _apply_filters(df, filters)
        .groupBy(dim)
        .agg(agg.alias(agg_alias))
        .orderBy(F.desc(agg_alias), F.asc(dim))
        .limit(n)
    )


def top_n_rows(df: DataFrame, order: Sequence[Column], n: int, filters=None) -> DataFrame:
    """O1–O3 — top-N raw rows by an ordering (e.g. highest-salary
    postings). TakeOrderedAndProject; pass deterministic tie-breaks."""
    return _apply_filters(df, filters).orderBy(*order).limit(n)


def topn_semijoin(fact: DataFrame, dim: str, agg: Column, n: int,
                  filters=None) -> DataFrame:
    """J2 — the PBIX Top-N filter: keep fact rows whose `dim` is in the
    top-N by `agg` (Where In(subquery) in every 'Top 10 ...' visual).

    The N-row build side is broadcast — the fact side is NOT shuffled,
    which is the only viable physical strategy at 100 TB."""
    fact = _apply_filters(fact, filters)
    top = top_n_by_agg(fact, dim, agg, n).select(dim)
    return fact.join(F.broadcast(top), dim, "left_semi")


def topn_by_rank(df: DataFrame, dim: str, agg: Column, n: int,
                 agg_alias: str = "cnt", filters=None) -> DataFrame:
    """J2 (window-rank form) — equivalent alternative to the semi-join:
    rank aggregated categories and keep rank <= n. Single partition-less
    window over the (small) aggregated result, not over the fact table."""
    grouped = (
        _apply_filters(df, filters).groupBy(dim).agg(agg.alias(agg_alias))
    )
    w = Window.orderBy(F.desc(agg_alias), F.asc(dim))
    return (
        grouped.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n)
        .drop("_rk")
    )


# ------------------------------------------------------ A9-A11: BI measures
def time_scoped_count(df: DataFrame, ts_col: str, alias: str = "n",
                      filters=None) -> DataFrame:
    """A9 — 'Jobs this month': count rows in the month of max(ts).
    'Current' month = month of the latest timestamp, for determinism
    (the reference counts the latest loaded month). The 1-row max side
    is broadcast; the fact side streams through a filter."""
    df = _apply_filters(df, filters)
    latest = df.agg(
        F.date_trunc("month", F.max(ts_col)).alias("_latest_month")
    )
    return (
        df.join(
            F.broadcast(latest),
            F.date_trunc("month", F.col(ts_col)) == F.col("_latest_month"),
        )
        .agg(F.count(F.lit(1)).alias(alias))
    )


def ratio_per_day(df: DataFrame, ts_col: str, alias: str = "per_day",
                  filters=None) -> DataFrame:
    """A10 — 'Average Jobs per Day' = count(*) / countDistinct(date)."""
    return _apply_filters(df, filters).agg(
        F.round(
            F.count(F.lit(1)) / F.countDistinct(F.to_date(ts_col)), 4
        ).alias(alias)
    )


def pct_of_total(df: DataFrame, dim: str, cnt_alias: str = "cnt",
                 pct_alias: str = "pct", filters=None) -> DataFrame:
    """A11 — percent-of-total per category (donut labels: '83.06%').
    Window over the aggregated result (|distinct dim| rows), never over
    the fact table."""
    grouped = count_by_dim(df, dim, cnt_alias, filters)
    total = Window.partitionBy()
    return grouped.withColumn(
        pct_alias,
        F.round(F.col(cnt_alias) * 100.0 / F.sum(cnt_alias).over(total), 4),
    )


def salted_count_by_dim(df: DataFrame, dim: str, buckets: int = 16,
                        alias: str = "cnt", filters=None) -> DataFrame:
    """A6 under key skew: two-phase aggregate with an explicit salt.
    Phase 1 groups on (dim, hash(row) % buckets) so a hot key's rows
    spread over ``buckets`` reducers; phase 2 sums the partial counts
    on dim alone (tiny input). Same result as count_by_dim — use when
    one category dominates (the reference's 'amazon'/'remote' heads,
    SURVEY.md §7.4) and AQE skew handling isn't enough (it splits
    joins, not aggregates)."""
    salted = _apply_filters(df, filters).withColumn(
        "_salt", F.pmod(F.xxhash64(*df.columns), F.lit(buckets))
    )
    partial = salted.groupBy(dim, "_salt").agg(
        F.count(F.lit(1)).alias("_partial")
    )
    return partial.groupBy(dim).agg(F.sum("_partial").alias(alias))


# ----------------------------------------- beyond-reference: OLAP windows
def rollup_agg(df: DataFrame, keys: Sequence[str], aggs: dict[str, Column],
               fill: str = "ALL", filters=None) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (beyond-reference: the BI
    layer's date-hierarchy drill implies but never materializes
    these). One shuffle; Catalyst expands the grouping sets with
    partial aggregation per set. NULL grouping keys are labeled
    ``fill`` for presentation."""
    out = (
        _apply_filters(df, filters)
        .rollup(*keys)
        .agg(*[expr.alias(name) for name, expr in aggs.items()])
    )
    for k in keys:
        out = out.withColumn(k, F.coalesce(F.col(k), F.lit(fill)))
    return out


def cube_agg(df: DataFrame, keys: Sequence[str], aggs: dict[str, Column],
             fill: str = "ALL", filters=None) -> DataFrame:
    """All-combinations subtotals via CUBE — 2^|keys| grouping sets in
    one shuffle (keep |keys| small; the expansion is multiplicative).
    Same NULL-labeling convention as rollup_agg."""
    out = (
        _apply_filters(df, filters)
        .cube(*keys)
        .agg(*[expr.alias(name) for name, expr in aggs.items()])
    )
    for k in keys:
        out = out.withColumn(k, F.coalesce(F.col(k), F.lit(fill)))
    return out


def running_total(df: DataFrame, part_col: str, order_cols: Sequence[Column],
                  value_col: str, alias: str = "running_total",
                  round_digits: int = 2) -> DataFrame:
    """Cumulative sum per partition in a deterministic order (frame =
    unbounded-preceding → current row). The window shuffles on the
    partition key only — no global sort; skew in a hot key is the
    thing to watch at scale (salt or pre-aggregate per day first)."""
    w = (
        Window.partitionBy(part_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        alias, F.round(F.sum(value_col).over(w), round_digits)
    )


def lag_delta(df: DataFrame, order_col: str, value_col: str,
              alias: str = "delta") -> DataFrame:
    """Step-over-step change via lag(1) — the trend-visual 'vs previous
    day' measure. Use over an already-aggregated frame (one row per
    step), never the raw fact table."""
    w = Window.orderBy(order_col)
    return df.withColumn(
        alias, F.col(value_col) - F.lag(value_col, 1).over(w)
    )


def group_percentiles(df: DataFrame, key: str, col: str,
                      probs: Sequence[float],
                      round_digits: int = 2, filters=None) -> DataFrame:
    """Exact interpolated percentiles per group (beyond-reference; the
    BI layer has only min/max/avg). Exact percentile sorts within the
    hash aggregate; at 100 TB swap in ``approx_percentile`` (t-digest
    sketch, mergeable, no sort) — same call shape."""
    # ONE percentile aggregate over an array of probabilities: each
    # F.percentile(col, p) agg holds (and sorts) its own copy of every
    # group's values, so k probs paid k buffers + k sorts; the array
    # form buffers and sorts once and interpolates all k (measured
    # 3.0 s -> 1.1 s at sf0.1 for k=3; values bit-identical)
    arr = _apply_filters(df, filters).groupBy(key).agg(
        F.percentile(
            col, F.array(*[F.lit(float(p)) for p in probs])
        ).alias("_ps")
    )
    return arr.select(
        key,
        *[
            F.round(F.col("_ps")[i], round_digits).alias(
                f"p{int(p * 100)}"
            )
            for i, p in enumerate(probs)
        ],
    )


# ------------------------------------------------- A12/F6/J3: skills bridge
def explode_delimited(df: DataFrame, id_cols: Sequence[str], list_col: str,
                      token_alias: str, sep: str = r",\s*") -> DataFrame:
    """F6 — unnest a delimited-string list column into one row per
    (id, token): the PBIX `jobskills` bridge. Empty tokens dropped,
    tokens trimmed+lowercased (matching the reference's normalization,
    src/transform.py:128-134)."""
    tok = F.explode(F.split(F.col(list_col), sep)).alias(token_alias)
    out = df.select(*id_cols, tok)
    return out.filter(F.trim(F.col(token_alias)) != "").withColumn(
        token_alias, F.lower(F.trim(F.col(token_alias)))
    )


def bridge_join(fact: DataFrame, bridge: DataFrame, key: str) -> DataFrame:
    """J3 — job_data ⋈ jobskills on the surrogate key (1-to-many).
    Plain equi join; Catalyst/AQE picks broadcast when the dim side is
    small, sort-merge otherwise."""
    return fact.join(bridge, key, "inner")


def exploded_counts(df: DataFrame, id_cols: Sequence[str], list_col: str,
                    token_alias: str = "token", n: int | None = None,
                    sep: str = r",\s*") -> DataFrame:
    """A12 — per-token counts over the exploded bridge ('Top 10 Skills':
    python 3480, sql 2248, ...)."""
    out = (
        explode_delimited(df, id_cols, list_col, token_alias, sep)
        .groupBy(token_alias)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if n is not None:
        out = out.orderBy(F.desc("cnt"), F.asc(token_alias)).limit(n)
    return out


def sessionize(df: DataFrame, key: str, ts_col: str, gap_seconds: int,
               tiebreak: str | None = None,
               out: str = "session_idx") -> DataFrame:
    """Assign gap-based session indexes per key (batch sessionization —
    the batch twin of Structured Streaming's session_window, same
    merge rule: events merge while the gap is strictly under
    ``gap_seconds``).

    One window shuffle on the key: a lag marks session breaks
    (gap >= threshold), a running sum of breaks numbers the sessions.
    ``session_idx`` is 1-based and per-key; (key, session_idx) is the
    session identity. ``tiebreak`` orders simultaneous events
    deterministically."""
    order = [F.asc(ts_col)] + ([F.asc(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    prev = F.lag(ts_col).over(w)
    # cast to plain timestamp: unix_micros rejects TIMESTAMP_NTZ (the
    # type tz-less parquet loads as in Spark 4), accepts LTZ unchanged.
    brk = F.when(
        prev.isNull()
        | (
            F.unix_micros(F.col(ts_col).cast("timestamp"))
            - F.unix_micros(prev.cast("timestamp"))
            >= gap_seconds * 1_000_000
        ),
        1,
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("_brk", brk).withColumn(
        out, F.sum("_brk").over(run)
    ).drop("_brk")


def peak_concurrency(intervals: DataFrame, start_col: str,
                     end_col: str) -> DataFrame:
    """Daily peak concurrency of a set of intervals — the classic
    sweep-line, partitioned so it scales: 'how many sessions were
    simultaneously active at the busiest instant of each day'.

    Multi-day intervals are SPLIT at day boundaries (explode over
    the day sequence, clip to [day 00:00, next-day 00:00)), so the
    running sum is windowed PARTITION BY day — no global single-
    partition window, and a day's sweep never reads another day's
    rows. Each clipped interval emits (+1 at clip-start, -1 at
    clip-end); the sweep orders (ts, delta DESC), i.e. starts before
    ends at the same instant, so touching and instantaneous
    intervals count as concurrent. The per-day maximum of the
    running sum is deterministic under that ordering.

    Cost: one explode (bounded by interval span in days), one
    window shuffle on the day key, one aggregate. At 1000 executors
    each day's sweep is an independent partition; for a single
    mega-hot day the same split applies recursively (hour buckets) —
    the day grain is the deliberate default."""
    day_seq = F.explode(
        F.sequence(F.to_date(start_col), F.to_date(end_col))
    ).alias("day")
    clipped = intervals.select(start_col, end_col, day_seq).select(
        "day",
        F.greatest(F.col(start_col),
                   F.col("day").cast("timestamp")).alias("_cs"),
        F.least(
            F.col(end_col),
            F.date_add(F.col("day"), 1).cast("timestamp"),
        ).alias("_ce"),
    )
    # one explode, NOT a union: a union would re-evaluate the whole
    # upstream (sessionization included) once per branch
    deltas = clipped.select(
        "day",
        F.explode(F.array(
            F.struct(F.col("_cs").alias("_ts"), F.lit(1).alias("_delta")),
            F.struct(F.col("_ce").alias("_ts"),
                     F.lit(-1).alias("_delta")),
        )).alias("_e"),
    ).select("day", F.col("_e._ts").alias("_ts"),
             F.col("_e._delta").alias("_delta"))
    w = (
        Window.partitionBy("day")
        .orderBy(F.asc("_ts"), F.desc("_delta"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        deltas.withColumn("_run", F.sum("_delta").over(w))
        .groupBy("day")
        .agg(F.max("_run").cast("long").alias("peak_concurrency"))
    )


def survival_curve(users: DataFrame, duration_col: str,
                   censored_col: str) -> DataFrame:
    """Kaplan-Meier survival estimate over right-censored lifetimes
    (the churn/retention curve BI actually wants: 'what fraction of
    users survive past t, accounting for users we simply stopped
    observing').

    Input: one row per subject with an integer ``duration_col`` and
    boolean ``censored_col`` (True = observation ended, no churn
    event). Output: one row per duration where anyone left the risk
    set — (t, n_risk, n_churn, n_censored, hazard_fp, survival_fp)
    with hazard = d/n and S(t) = prod_{s<=t} (1 - d(s)/n(s)).

    Determinism: the curve is a SEQUENTIAL product of per-day
    factors; both this plan and the oracle multiply the identical
    doubles in ascending-duration order (here: a left fold over an
    ordered collect_list; there: DuckDB's ordered product window),
    so even the chained float product hash-matches. The windows run
    on the per-duration frame — at most max-duration rows, corpus-
    size independent (the post-aggregate window class plan_audit
    allowlists)."""
    per_t = users.groupBy(
        F.col(duration_col).cast("long").alias("t")
    ).agg(
        F.sum((~F.col(censored_col)).cast("long")).alias("n_churn"),
        F.sum(F.col(censored_col).cast("long")).alias("n_censored"),
    )
    w_all = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    w_prev = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1)
    total = per_t.agg(
        F.sum(F.col("n_churn") + F.col("n_censored")).alias("_tot")
    )
    risk = (
        per_t.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("_tot")
            - F.coalesce(
                F.sum(F.col("n_churn") + F.col("n_censored"))
                .over(w_prev),
                F.lit(0),
            ),
        )
    )
    factor = (
        F.lit(1.0)
        - F.col("n_churn").cast("double") / F.col("n_risk")
    )
    fp6 = fp6_floor  # single-rounding half-up (exactlog, round 10)
    surv = F.aggregate(
        F.collect_list(factor).over(w_all),
        F.lit(1.0),
        lambda acc, x: acc * x,
    )
    return risk.select(
        "t",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("n_churn").cast("long").alias("n_churn"),
        F.col("n_censored").cast("long").alias("n_censored"),
        fp6(F.col("n_churn").cast("double") / F.col("n_risk"))
        .alias("hazard_fp"),
        fp6(surv).alias("survival_fp"),
    )


def ewma_control(series: DataFrame, t_col: str, x_col: str,
                 alpha: float = 0.3, k: float = 3.0) -> DataFrame:
    """EWMA control chart over an ordered series (the monitoring
    query behind 'did today's volume drift?'): e(t) = α·x(t) +
    (1−α)·e(t−1) with e(t₀) = x(t₀), alarm when the residual against
    the PRIOR smoothed level exceeds k population sigmas.

    Determinism: the recurrence is a SEQUENTIAL fold in ascending t —
    computed here as an ordered left fold (collect_list over the
    ordered window, NULL-seeded so the first element initializes),
    and in the oracle as a recursive CTE applying the identical
    α·x + (1−α)·e literal order — so the float chain hash-matches.
    Sigma comes from exact integer moments (sqrt(n·Σx² − (Σx)²)/n).
    The window runs on the aggregated series frame (days, not
    events) — corpus-size independent."""
    w = Window.orderBy(t_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    xs = F.collect_list(F.col(x_col).cast("double")).over(w)
    ewma = F.aggregate(
        xs,
        F.lit(None).cast("double"),
        lambda acc, x: F.coalesce(
            F.lit(alpha) * x + F.lit(1.0 - alpha) * acc, x
        ),
    )
    moments = series.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col(x_col)).alias("_sx"),
        F.sum((F.col(x_col) * F.col(x_col)).cast("decimal(38,0)"))
        .alias("_sxx"),
    )
    sigma = (
        F.sqrt((F.col("_sxx").cast("double") * F.col("_n")
                - F.col("_sx").cast("double") * F.col("_sx")))
        / F.col("_n")
    )
    fp6 = fp6_floor  # single-rounding half-up (exactlog, round 10)
    with_e = series.select(
        F.col(t_col), F.col(x_col), ewma.alias("_e")
    ).withColumn("_e_prev", F.lag("_e").over(Window.orderBy(t_col)))
    resid = F.col(x_col) - F.col("_e_prev")
    return (
        with_e.crossJoin(F.broadcast(moments))
        .select(
            F.col(t_col),
            F.col(x_col).cast("long").alias("x"),
            fp6(F.col("_e")).alias("ewma_fp"),
            F.when(F.col("_e_prev").isNotNull(), fp6(resid))
            .alias("resid_fp"),
            fp6(sigma).alias("sigma_fp"),
            F.when(
                F.col("_e_prev").isNotNull(),
                F.abs(resid) > F.lit(k) * sigma,
            ).alias("alarm"),
        )
    )


def longest_streak(series: DataFrame, key_col: str, t_col: str,
                   x_col: str) -> DataFrame:
    """Longest consecutive-period streak above the slice's own median
    — the classic gaps-and-islands readout ('how long did the surge
    last?'), one row per slice with the streak length and its span.
    Islands form with the textbook identity: among qualifying periods
    ordered by t, ``t − row_number()`` is constant exactly within a
    consecutive run. The qualifying bar is the slice's order-statistic
    LOWER median (exact integer, no interpolation, the
    robust_anomaly_mad discipline), ``x > median`` strictly — so
    roughly half the periods qualify and ties at the median do not.
    Tie between equal-length streaks breaks to the earliest start.

    Scale: every window is PARTITIONED by the slice key over the
    AGGREGATED period frame (periods, not events); the island
    groupBy is keyed by (slice, island) — bounded by the period
    count."""
    wx = Window.partitionBy(key_col).orderBy(
        F.asc(x_col), F.asc(t_col))
    s = series.select(
        F.col(key_col), F.col(t_col), F.col(x_col)
    ).withColumn("_rx", F.row_number().over(wx))
    n = series.groupBy(key_col).agg(F.count(F.lit(1)).alias("_n"))
    med = (
        s.join(F.broadcast(n), key_col)
        .filter(F.col("_rx") == F.floor((F.col("_n") + 1) / 2))
        .select(
            F.col(key_col),
            F.col(x_col).cast("long").alias("_med"),
        )
    )
    qual = (
        s.join(F.broadcast(med), key_col)
        .filter(F.col(x_col) > F.col("_med"))
    )
    wq = Window.partitionBy(key_col).orderBy(t_col)
    isl = qual.withColumn(
        "_grp", F.col(t_col) - F.row_number().over(wq)
    )
    runs = isl.groupBy(key_col, "_med", "_grp").agg(
        F.count(F.lit(1)).cast("long").alias("_len"),
        F.min(t_col).alias("_start"),
        F.max(t_col).alias("_end"),
    )
    wr = Window.partitionBy(key_col).orderBy(
        F.desc("_len"), F.asc("_start"))
    return (
        runs.withColumn("_rk", F.row_number().over(wr))
        .filter(F.col("_rk") == 1)
        .select(
            F.col(key_col),
            F.col("_med").alias("median_x"),
            F.col("_len").alias("longest_streak"),
            F.col("_start").cast("long").alias("streak_start"),
            F.col("_end").cast("long").alias("streak_end"),
        )
    )


def rolling_median(series: DataFrame, t_col: str, x_col: str,
                   w: int = 7) -> DataFrame:
    """Rolling w-point median over an ordered integer series — the
    robust trend line that a weekend dip or a single spike cannot
    bend, where the rolling MEAN follows every outlier. Exact order
    statistics: the window's values sort in an array and the LOWER
    median (rank floor((n+1)/2), no interpolation) is selected, so
    every value is an integer from the input and both engines agree
    bit-for-bit. Warm-up rows use the shorter available window
    (standard min_periods=1 semantics), making the first w−1 rows
    well-defined instead of NULL.

    Scale: the frame is the AGGREGATED series (days, not events);
    the per-row sort is over ≤ w elements."""
    win = Window.orderBy(t_col).rowsBetween(-(w - 1), 0)
    xs = F.array_sort(F.collect_list(F.col(x_col)).over(win))
    med = F.element_at(
        xs, F.floor((F.size(xs) + 1) / 2).cast("int")
    ).cast("long")
    return series.select(
        F.col(t_col),
        F.col(x_col).cast("long").alias("x"),
        med.alias("med"),
        (F.col(x_col) - med).cast("long").alias("dev"),
    )


def robust_anomaly_mad(series: DataFrame, t_col: str, x_col: str,
                       k: int = 3) -> DataFrame:
    """Median/MAD robust anomaly flags over an ordered integer series
    — the twin of the z-score chart that a single huge outlier cannot
    blind: one bad day inflates the mean AND the sigma, so the
    z-score test under-flags exactly when it matters; the median and
    the median-absolute-deviation barely move.

    Exact integers end-to-end: the median is the ORDER STATISTIC at
    rank floor((n+1)/2) under the total (x, t) order (no
    interpolation, so no float ever appears), MAD is the same rank of
    the integer deviations, and the flag compares dev > k·MAD. A
    zero MAD (over half the points identical) degrades to flagging
    any deviation, documented rather than dividing. Scale: two
    row_number windows and three 1-row broadcasts over the AGGREGATED
    series frame — days, not events."""
    wx = Window.orderBy(F.asc(x_col), F.asc(t_col))
    s = series.select(F.col(t_col), F.col(x_col)).withColumn(
        "_rx", F.row_number().over(wx)
    )
    n1 = s.agg(F.count(F.lit(1)).alias("_n"))
    med_rank = F.floor((F.col("_n") + 1) / 2)
    med = (
        s.crossJoin(F.broadcast(n1))
        .filter(F.col("_rx") == med_rank)
        .select(F.col(x_col).cast("long").alias("_med"))
    )
    dv = s.crossJoin(F.broadcast(med)).withColumn(
        "_dev", F.abs(F.col(x_col) - F.col("_med")).cast("long")
    )
    wd = Window.orderBy(F.asc("_dev"), F.asc(t_col))
    r = dv.withColumn("_rd", F.row_number().over(wd))
    mad = (
        r.crossJoin(F.broadcast(n1))
        .filter(F.col("_rd") == med_rank)
        .select(F.col("_dev").alias("_mad"))
    )
    return r.crossJoin(F.broadcast(mad)).select(
        F.col(t_col),
        F.col(x_col).cast("long").alias("x"),
        F.col("_med").alias("median_x"),
        F.col("_dev").alias("dev"),
        F.col("_mad").alias("mad"),
        F.when(
            F.col("_mad") > 0, F.col("_dev") > F.lit(k) * F.col("_mad")
        )
        .otherwise(F.col("_dev") > 0)
        .alias("anomaly"),
    )


def holt_linear(series: DataFrame, t_col: str, x_col: str,
                alpha: float = 0.5, beta: float = 0.25) -> DataFrame:
    """Holt's linear-trend double exponential smoothing over an
    ordered series — the one-step forecaster that tracks a DRIFTING
    level, where plain EWMA lags a trending metric by a constant:

        l(t) = α·x(t) + (1−α)·(l(t−1) + b(t−1))
        b(t) = β·(l(t) − l(t−1)) + (1−β)·b(t−1)

    with l(t₀) = x(t₀), b(t₀) = 0, forecast(t+1) = l(t) + b(t).

    Determinism follows the ewma_control discipline: the two-state
    recurrence is a SEQUENTIAL left fold in ascending t (struct
    accumulator over the ordered prefix list; the oracle replays a
    recursive CTE inlining the IDENTICAL arithmetic, including the
    doubled l(t) subexpression inside b(t)), and the smoothing
    constants default to exactly-representable binary fractions
    (0.5, 0.25, 0.75) so no literal can differ by an ulp. Windows run
    over the aggregated series frame, never the corpus."""
    w = Window.orderBy(t_col).rowsBetween(
        Window.unboundedPreceding, 0)
    xs = F.collect_list(F.col(x_col).cast("double")).over(w)

    def step(acc, x):
        prev_l = acc.getField("l")
        prev_b = acc.getField("b")
        new_l = F.when(prev_l.isNull(), x).otherwise(
            F.lit(alpha) * x + F.lit(1.0 - alpha) * (prev_l + prev_b)
        )
        new_b = F.when(prev_l.isNull(), F.lit(0.0)).otherwise(
            F.lit(beta)
            * ((F.lit(alpha) * x
                + F.lit(1.0 - alpha) * (prev_l + prev_b)) - prev_l)
            + F.lit(1.0 - beta) * prev_b
        )
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    init = F.struct(
        F.lit(None).cast("double").alias("l"),
        F.lit(None).cast("double").alias("b"),
    )
    st = F.aggregate(xs, init, step)
    # single-rounding fixed point (exactlog.fp6_floor): floor(round(
    # x,6)·1e6+0.5) is the engine-divergent double-rounding spelling
    # (Spark BigDecimal HALF_UP vs DuckDB float round) removed
    # repo-wide in round 9 — this was the last holdout (ADVICE r9).
    from .exactlog import fp6_floor as fp6

    return series.select(
        F.col(t_col),
        F.col(x_col).cast("long").alias("x"),
        fp6(st.getField("l")).alias("level_fp"),
        fp6(st.getField("b")).alias("trend_fp"),
        fp6(st.getField("l") + st.getField("b")).alias("forecast_fp"),
    )


def cusum_changepoint(series: DataFrame, t_col: str, x_col: str,
                      baseline_w: int = 7) -> DataFrame:
    """Two-sided CUSUM changepoint detector over an ordered integer
    series — the control chart that catches SUSTAINED small shifts
    EWMA's per-point residual test misses (a 10 % volume drift that
    never trips a 3-sigma alarm accumulates here within days).

    Classic page scheme, kept in EXACT integers end-to-end: the first
    ``baseline_w`` points set the reference total t_w; deviations are
    scaled by ``baseline_w`` (dev = w·x − t_w, i.e. w·(x − mean_w)) so
    no division ever happens; the allowance is half the baseline mean
    in the same scale (ks = floor(t_w/2), exact) and the decision
    threshold h = 2·t_w (4 baseline-means in scaled units). Instead
    of the sequential max(0, S + dev − ks) fold, S⁺ uses the prefix-sum
    identity S⁺ᵢ = Pᵢ − min(0, min_{j≤i} Pⱼ) with P the running sum of
    (dev − ks) — two stacked windows over the AGGREGATED series frame
    (days, not events), pure integer arithmetic, no recursion — so
    both engines reproduce identical rows trivially. S⁻ is the same
    with dev negated. Returns (t, x, cusum_up, cusum_down, alarm_up,
    alarm_down)."""
    wr = Window.orderBy(t_col)
    wcum = wr.rowsBetween(Window.unboundedPreceding, 0)
    s = series.select(
        F.col(t_col), F.col(x_col), F.row_number().over(wr).alias("_rn")
    )
    tw = s.agg(
        F.sum(F.when(F.col("_rn") <= baseline_w, F.col(x_col)))
        .cast("long")
        .alias("_tw")
    )
    base = s.crossJoin(F.broadcast(tw)).select(
        F.col(t_col),
        F.col(x_col).cast("long").alias("x"),
        (F.lit(baseline_w) * F.col(x_col) - F.col("_tw"))
        .cast("long")
        .alias("_dev"),
        F.floor(F.col("_tw") / 2).cast("long").alias("_ks"),
        (F.lit(2) * F.col("_tw")).cast("long").alias("_h"),
    )
    p = base.select(
        F.col(t_col),
        "x",
        "_h",
        F.sum(F.col("_dev") - F.col("_ks")).over(wcum).alias("_pu"),
        F.sum(-F.col("_dev") - F.col("_ks")).over(wcum).alias("_pd"),
    )
    up = F.col("_pu") - F.least(
        F.lit(0).cast("long"), F.min("_pu").over(wcum)
    )
    down = F.col("_pd") - F.least(
        F.lit(0).cast("long"), F.min("_pd").over(wcum)
    )
    return p.select(
        F.col(t_col),
        "x",
        up.cast("long").alias("cusum_up"),
        down.cast("long").alias("cusum_down"),
        (up > F.col("_h")).alias("alarm_up"),
        (down > F.col("_h")).alias("alarm_down"),
    )


def seasonal_backtest(series: DataFrame, t_col: str, x_col: str,
                      season: int = 7) -> DataFrame:
    """Forecast-quality card for the seasonal-naive baseline
    (forecast(t) = x(t − season)) — the number every fancier model
    must beat, and the honest first question of any volume forecast.

    Returns 1 row: (n_scored, mae_fp, mape_fp, bias_fp) over the
    points that have a lagged ancestor. All three metrics reduce to
    exact integer sums (|err|, err, and per-point 1e6-quantized
    |err|/actual) before one final division, so the card is
    order-free and hash-replays. The lag runs on the aggregated
    series frame — days, not events."""
    w = Window.orderBy(t_col)
    scored = series.select(
        F.col(x_col).alias("_x"),
        F.lag(x_col, season).over(w).alias("_f"),
    ).filter(F.col("_f").isNotNull())
    err = F.col("_x") - F.col("_f")
    ape_fp = F.when(
        F.col("_x") != 0,
        F.floor(F.lit(1_000_000) * F.abs(err) / F.col("_x")),
    )
    agg = scored.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.abs(err)).alias("_sae"),
        F.sum(err).alias("_se"),
        F.sum(ape_fp).alias("_sape"),
        F.count(ape_fp).alias("_nape"),
    )
    return agg.select(
        F.col("_n").cast("long").alias("n_scored"),
        F.when(F.col("_n") > 0,
               F.floor(F.lit(1_000_000) * F.col("_sae") / F.col("_n")))
        .cast("long").alias("mae_fp"),
        F.when(F.col("_nape") > 0,
               F.floor(F.col("_sape") / F.col("_nape")))
        .cast("long").alias("mape_fp"),
        F.when(F.col("_n") > 0,
               F.floor(F.lit(1_000_000) * F.col("_se") / F.col("_n")))
        .cast("long").alias("bias_fp"),
    )
