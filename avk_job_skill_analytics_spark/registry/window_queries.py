"""Beyond-reference OLAP surface: rollup subtotals, analytic windows,
percentiles, approximate distinct (SURVEY.md §2.4-2.5 'not present'
rows, implemented because Spark has them built-in and the 100 TB
design point wants them).

- ``agg_rollup_region_nation`` — ROLLUP subtotal hierarchy over the
  region→nation dimension chain (3 broadcast joins + 1 shuffle).
- ``win_running_revenue`` — per-customer cumulative revenue
  (deterministic frame; window shuffles on the partition key only).
- ``win_day_over_day`` — lag-1 delta over an aggregated daily trend.
- ``agg_percentiles`` — exact interpolated percentiles per group
  (both engines use the same linear interpolation).
- ``agg_approx_distinct`` — HyperLogLog++ distinct (sketch values are
  engine-specific → rows-only check; tier-1 bounds its error against
  the exact distinct count).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import analytics as A
from ..plans.schemas import load

QUERIES = {}
ORACLES = {}


def _q(name, oracle=None):
    def reg(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return reg


@_q(
    "agg_rollup_region_nation",
    """SELECT coalesce(r_name, 'ALL') AS region,
              coalesce(n_name, 'ALL') AS nation,
              count(*) AS n_orders,
              round(sum(o_totalprice), 2) AS revenue
       FROM orders o
       JOIN customer c ON o.o_custkey = c.c_custkey
       JOIN nation n ON c.c_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey
       GROUP BY ROLLUP(r_name, n_name)""",
)
def agg_rollup_region_nation(spark, sf_dir):
    """Revenue at nation, region-subtotal, and grand-total grain in
    one pass (grouping-set expansion, single shuffle). nation/region
    (fixed-cardinality dims) broadcast; customer scales with SF, so
    its join is left to AQE — at bench scale AQE runtime-broadcasts
    it, at 100 TB it shuffle-joins without driver OOM."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return A.rollup_agg(
        joined,
        ["r_name", "n_name"],
        {
            "n_orders": F.count(F.lit(1)),
            "revenue": F.round(F.sum("o_totalprice"), 2),
        },
    ).select(
        F.col("r_name").alias("region"),
        F.col("n_name").alias("nation"),
        "n_orders",
        "revenue",
    )


@_q(
    "win_running_revenue",
    """SELECT o_custkey, o_orderkey,
              round(sum(o_totalprice) OVER (
                PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey
                ROWS UNBOUNDED PRECEDING), 2) AS running_revenue
       FROM orders""",
)
def win_running_revenue(spark, sf_dir):
    """Per-customer cumulative revenue in order-date order (ties
    broken by key). Frame-spec window — the capability class the
    reference's BI layer lacks entirely (SURVEY.md §2.5)."""
    o = load(spark, sf_dir, "orders")
    return A.running_total(
        o,
        "o_custkey",
        [F.asc("o_orderdate"), F.asc("o_orderkey")],
        "o_totalprice",
        alias="running_revenue",
    ).select("o_custkey", "o_orderkey", "running_revenue")


@_q(
    "win_day_over_day",
    """WITH d AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
                 FROM events GROUP BY day)
       SELECT day, n, n - lag(n) OVER (ORDER BY day) AS delta
       FROM d""",
)
def win_day_over_day(spark, sf_dir):
    """Daily event volume with day-over-day delta: aggregate first
    (one row per day), then a single-partition lag window over the
    tiny trend frame — never a window over raw events."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return A.lag_delta(daily, "day", "n", alias="delta")


@_q(
    "win_month_over_month",
    """WITH m AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                                    AS DOUBLE), 2) AS revenue
                  FROM orders GROUP BY month)
       SELECT month, revenue,
              round(revenue - lag(revenue) OVER (ORDER BY month), 2) AS mom_delta,
              round(100.0 * (revenue - lag(revenue) OVER (ORDER BY month))
                    / lag(revenue) OVER (ORDER BY month), 2) AS mom_pct
       FROM m""",
)
def win_month_over_month(spark, sf_dir):
    """Monthly revenue trend with month-over-month delta and percent
    change. Aggregate to month grain first (one shuffle, ~dozens of
    rows), then the single-partition lag window runs over the tiny
    trend frame — the raw fact table never sees a window. Deltas are
    computed from the ROUNDED monthly revenue so both engines
    subtract identical doubles; the monthly sum itself runs over
    DECIMAL(18,2) (o_totalprice is cents-exact, so the cast is
    lossless) — an exact sum can't round differently across engines'
    float-addition orders."""
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.trunc("o_orderdate", "month").alias("month")
    ).agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
        ).alias("revenue")
    )
    prev = F.lag("revenue").over(Window.orderBy("month"))
    return monthly.select(
        "month",
        "revenue",
        F.round(F.col("revenue") - prev, 2).alias("mom_delta"),
        F.round(F.lit(100.0) * (F.col("revenue") - prev) / prev, 2).alias(
            "mom_pct"
        ),
    )


@_q(
    "agg_weighted_median",
    """WITH j AS (
         SELECT p.p_type,
                CAST(floor(l.l_extendedprice * 100) AS BIGINT)
                    AS cents,
                CAST(floor(l.l_quantity) AS BIGINT) AS w
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
       g AS (SELECT p_type, cents, sum(w) AS w FROM j
             GROUP BY p_type, cents),
       c AS (SELECT p_type, cents, w,
               sum(w) OVER (PARTITION BY p_type ORDER BY cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cw,
               sum(w) OVER (PARTITION BY p_type) AS tw
             FROM g),
       m AS (SELECT p_type, cents, tw,
               row_number() OVER (PARTITION BY p_type
                                  ORDER BY cents) AS rk
             FROM c WHERE 2 * cw >= tw)
       SELECT p_type, CAST(tw AS BIGINT) AS total_w,
              CAST(cents AS BIGINT) AS wmedian_cents
       FROM m WHERE rk = 1""",
)
def agg_weighted_median(spark, sf_dir):
    """Exact quantity-weighted median unit revenue per part type —
    the weighted order statistic percentile sketches approximate:
    the smallest cents value whose cumulative quantity weight covers
    half the group's total (lower weighted median, integer-exact via
    the 2*cumw >= totw spelling — no halving, no interpolation, no
    floats). Scale shape: one (type, cents) hash aggregate collapses
    the fact table to DISTINCT price points; every window after that
    is PARTITIONED by type over that granularity-bounded frame. The
    dimension side broadcasts."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_quantity"
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(
        F.broadcast(p), li.l_partkey == p.p_partkey
    ).select(
        "p_type",
        F.floor(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("cents"),
        F.floor("l_quantity").cast("long").alias("w"),
    )
    g = j.groupBy("p_type", "cents").agg(F.sum("w").alias("w"))
    wc = Window.partitionBy("p_type").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("p_type")
    c = g.select(
        "p_type",
        "cents",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    )
    wr = Window.partitionBy("p_type").orderBy("cents")
    return (
        c.filter(2 * F.col("cw") >= F.col("tw"))
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "p_type",
            F.col("tw").cast("long").alias("total_w"),
            F.col("cents").cast("long").alias("wmedian_cents"),
        )
    )


@_q(
    "agg_percentiles",
    """SELECT l_returnflag,
              round(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
              round(quantile_cont(l_extendedprice, 0.9), 2) AS p90,
              round(quantile_cont(l_extendedprice, 0.99), 2) AS p99
       FROM lineitem GROUP BY l_returnflag""",
)
def agg_percentiles(spark, sf_dir):
    """Exact interpolated percentiles of price per return flag —
    Spark ``percentile`` and DuckDB ``quantile_cont`` share the
    linear-interpolation definition, so values match to the cent."""
    li = load(spark, sf_dir, "lineitem")
    return A.group_percentiles(
        li, "l_returnflag", "l_extendedprice", [0.5, 0.9, 0.99]
    )


def _kmv_sql(k: int) -> str:
    """DuckDB twin of sketches.kmv_sketch + kmv_estimate over
    (o_orderstatus, o_custkey): same 60-bit MD5, same bottom-k, same
    exact-integer estimator — byte-identical sketch and estimate."""
    from ..operators.hashing import md5_long_sql
    from ..operators.sketches import HASH_SPACE

    h = md5_long_sql("CAST(o_custkey AS VARCHAR)")
    return f"""WITH h AS (SELECT DISTINCT o_orderstatus, {h} AS h FROM orders),
       r AS (SELECT o_orderstatus, h, row_number() OVER (
                PARTITION BY o_orderstatus ORDER BY h) AS rk FROM h),
       s AS (SELECT o_orderstatus, count(*) AS n,
                    max(CASE WHEN rk = {k} THEN h END) AS hk
             FROM r WHERE rk <= {k} GROUP BY o_orderstatus)
       SELECT o_orderstatus,
              CASE WHEN hk IS NULL THEN n
                   ELSE CAST(({k - 1} * CAST({HASH_SPACE} AS HUGEINT)) // hk
                             AS BIGINT)
              END AS est_customers,
              CAST(n AS INT) AS sketch_size
       FROM s"""


@_q("agg_kmv_distinct", _kmv_sql(256))
def agg_kmv_distinct(spark, sf_dir):
    """A2 at the 100 TB design point, VERIFIABLY: KMV bottom-256
    distinct-customer sketch per order status
    (operators/sketches.py). Unlike the HLL twin (rows-only below),
    the sketch is the k smallest engine-portable MD5 hashes and the
    estimator is exact integer arithmetic, so the DuckDB oracle
    reproduces the estimate bit-for-bit — a mergeable distinct sketch
    that still passes a value-hash gate."""
    from ..operators.sketches import kmv_estimate, kmv_sketch

    o = load(spark, sf_dir, "orders")
    sk = kmv_sketch(o, ["o_orderstatus"], "o_custkey", k=256)
    return sk.select(
        "o_orderstatus",
        kmv_estimate(F.col("sketch"), 256).alias("est_customers"),
        F.size("sketch").alias("sketch_size"),
    )


@_q("agg_approx_distinct")  # sketch values are engine-specific -> rows-only
def agg_approx_distinct(spark, sf_dir):
    """A2 at the 100 TB design point: HyperLogLog++ distinct customers
    per order status (mergeable sketch, no exact-distinct shuffle).
    Estimates are engine-specific, so the driver records rows-only;
    tests/test_scale_ops.py::test_approx_distinct_near_exact holds
    each estimate within 3 × rsd of the exact ``countDistinct``."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx_customers")
    )


@_q(
    "agg_heavy_hitters",
    r"""WITH w AS (SELECT list_filter(string_split_regex(text, '\s+'),
                                     x -> x <> '') AS w
                  FROM documents),
       g AS (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1])) AS ngram
             FROM w WHERE len(w) >= 2),
       tot AS (SELECT count(*) AS n FROM g)
       SELECT ngram, count(*) AS freq
       FROM g, tot GROUP BY ngram, n HAVING count(*) * 1000 > n""",
)
def agg_heavy_hitters(spark, sf_dir):
    """EXACT frequent n-grams (freq > N/1000) via the two-scan
    Misra-Gries pattern (operators/sketches.heavy_hitters): a map-only
    bounded-memory candidate pass (<= k rows leave each partition),
    then a broadcast-semi-join exact recount of candidates only. At
    100 TB the full n-gram vocabulary is trillions of keys — this
    never shuffles it, yet the output is bit-identical to the naive
    exact groupBy-HAVING the oracle runs."""
    from ..operators.sketches import heavy_hitters

    d = load(spark, sf_dir, "documents")
    w = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    toks = d.select(w.alias("_w")).filter(F.size("_w") >= 2)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_w") - 1),
        lambda i: F.array_join(F.slice(F.col("_w"), i, 2), " "),
    )
    items = toks.select(F.explode(grams).alias("ngram"))
    return heavy_hitters(items, "ngram", k=999)


_PRIORITIES = [
    ("1-URGENT", "n_urgent"),
    ("2-HIGH", "n_high"),
    ("3-MEDIUM", "n_medium"),
    ("4-NOT SPECIFIED", "n_notspec"),
    ("5-LOW", "n_low"),
]


@_q(
    "agg_pivot_status_priority",
    f"""SELECT o_orderstatus AS status,
              {", ".join(f"CAST(sum(CASE WHEN o_orderpriority = '{v}' THEN 1 ELSE 0 END) AS BIGINT) AS {a}" for v, a in _PRIORITIES)}
       FROM orders GROUP BY o_orderstatus""",
)
def agg_pivot_status_priority(spark, sf_dir):
    """BI cross-tab: status rows × priority columns in one pivot
    aggregate (single shuffle; the pivot values are declared, so no
    extra distinct-scan job to discover them — always declare them at
    scale). Absent cells are 0, not NULL, to match the oracle's
    sum-of-cases."""
    o = load(spark, sf_dir, "orders")
    piv = o.groupBy("o_orderstatus").pivot(
        "o_orderpriority", [v for v, _ in _PRIORITIES]
    ).agg(F.count(F.lit(1)))
    return piv.select(
        F.col("o_orderstatus").alias("status"),
        *[
            F.coalesce(F.col(f"`{v}`"), F.lit(0)).alias(a)
            for v, a in _PRIORITIES
        ],
    )


@_q(
    "agg_unpivot_measures",
    """WITH a AS (SELECT o_orderstatus AS status,
                        round(sum(o_totalprice), 2) AS total_price,
                        round(avg(o_totalprice), 2) AS avg_price,
                        CAST(count(*) AS DOUBLE) AS n_orders
                 FROM orders GROUP BY o_orderstatus)
       SELECT status, 'total_price' AS metric, total_price AS value FROM a
       UNION ALL SELECT status, 'avg_price', avg_price FROM a
       UNION ALL SELECT status, 'n_orders', n_orders FROM a""",
)
def agg_unpivot_measures(spark, sf_dir):
    """The inverse reshape: per-status measures melted to long
    (status, metric, value) form — the layout BI tools and plotting
    pipelines want. unpivot is a zero-shuffle expression over the
    already-aggregated frame."""
    o = load(spark, sf_dir, "orders")
    agg = o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        F.count(F.lit(1)).cast("double").alias("n_orders"),
    )
    return agg.unpivot(
        "status",
        ["total_price", "avg_price", "n_orders"],
        "metric",
        "value",
    )


@_q(
    "win_sessionize",
    """WITH x AS (SELECT user_id, ts, event_id,
                        CASE WHEN lag(ts) OVER w IS NULL
                              OR epoch_us(ts - lag(ts) OVER w) >= 1800000000
                             THEN 1 ELSE 0 END AS brk
                 FROM events
                 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       s AS (SELECT user_id, ts,
                    CAST(sum(brk) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
             FROM x)
       SELECT user_id, session_idx, count(*) AS n_events,
              min(ts) AS session_start, max(ts) AS session_end
       FROM s GROUP BY user_id, session_idx""",
)
def win_sessionize(spark, sf_dir):
    """Batch sessionization: gap-based session assignment per user
    (30-min gap, same strict-< merge rule as session_window), then
    per-session rollup. One window shuffle on the user key + one
    aggregate — the batch twin of stream_session_windows."""
    e = load(spark, sf_dir, "events")
    s = A.sessionize(e, "user_id", "ts", 1800, tiebreak="event_id")
    return s.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@_q("agg_approx_percentiles")  # sketch estimates are engine-specific -> rows-only
def agg_approx_percentiles(spark, sf_dir):
    """agg_percentiles at the 100 TB design point: Greenwald-Khanna
    sketches merge across partitions, so the per-group state is
    bounded (~1/accuracy) instead of requiring the full sorted value
    set that exact interpolation needs. Estimates are
    engine-specific, so the driver records rows-only; exact
    semantics are covered by agg_percentiles."""
    li = load(spark, sf_dir, "lineitem")
    q = F.percentile_approx(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), 10000
    )
    return li.groupBy("l_returnflag").agg(q.alias("_q")).select(
        "l_returnflag",
        F.round(F.element_at("_q", 1), 2).alias("p50"),
        F.round(F.element_at("_q", 2), 2).alias("p90"),
        F.round(F.element_at("_q", 3), 2).alias("p99"),
    )


@_q(
    "agg_cube_status_priority",
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
              coalesce(o_orderpriority, 'ALL') AS priority,
              count(*) AS n_orders,
              round(avg(o_totalprice), 2) AS avg_price
       FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""",
)
def agg_cube_status_priority(spark, sf_dir):
    """CUBE over (status, priority): every subtotal combination in one
    grouping-set shuffle — the all-slices matrix behind a BI
    cross-tab."""
    o = load(spark, sf_dir, "orders")
    return A.cube_agg(
        o,
        ["o_orderstatus", "o_orderpriority"],
        {
            "n_orders": F.count(F.lit(1)),
            "avg_price": F.round(F.avg("o_totalprice"), 2),
        },
    ).select(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
        "n_orders",
        "avg_price",
    )


@_q(
    "agg_grouping_sets",
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
              coalesce(o_orderpriority, 'ALL') AS priority,
              count(*) AS n_orders,
              round(sum(o_totalprice), 2) AS total_price
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""",
)
def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS — the two one-dimensional subtotal
    slices (by status, by priority) in ONE shuffle, without the full
    CUBE matrix (agg_cube_status_priority) when only named slices are
    wanted. At scale this halves the Expand fan-out vs CUBE: each
    input row expands to exactly len(sets) rows before the single
    hash aggregate."""
    o = load(spark, sf_dir, "orders")
    g = o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"]],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )
    return g.select(
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
        "n_orders",
        "total_price",
    )


@_q(
    "win_ntile_quartiles",
    """SELECT c_mktsegment, quartile, count(*) AS n_customers,
              round(min(c_acctbal), 2) AS lo_bal,
              round(max(c_acctbal), 2) AS hi_bal
       FROM (SELECT c_mktsegment, c_acctbal,
                    ntile(4) OVER (PARTITION BY c_mktsegment
                                   ORDER BY c_acctbal, c_custkey) AS quartile
             FROM customer) t
       GROUP BY c_mktsegment, quartile""",
)
def win_ntile_quartiles(spark, sf_dir):
    """Partitioned ntile: account-balance quartile boundaries per
    market segment. The window partitions by segment, so each
    segment sorts independently inside its own shuffle partition —
    no global sort. The (balance, custkey) ordering is a total order,
    which makes ntile's bucket assignment deterministic and
    engine-portable. The quartile column then feeds an ordinary
    hash aggregate for the per-bucket boundaries."""
    from pyspark.sql.window import Window

    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.asc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.select(
            "c_mktsegment",
            "c_acctbal",
            F.ntile(4).over(w).alias("quartile"),
        )
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.min("c_acctbal"), 2).alias("lo_bal"),
            F.round(F.max("c_acctbal"), 2).alias("hi_bal"),
        )
    )


@_q(
    "win_percent_rank_deciles",
    """SELECT o_orderpriority, decile, count(*) AS n_orders,
              round(max(o_totalprice), 2) AS hi_price
       FROM (SELECT o_orderpriority, o_totalprice,
                    CAST(floor(percent_rank() OVER (
                        PARTITION BY o_orderpriority
                        ORDER BY o_totalprice, o_orderkey) * 10) AS INT)
                        AS decile
             FROM orders) t
       GROUP BY o_orderpriority, decile""",
)
def win_percent_rank_deciles(spark, sf_dir):
    """percent_rank bucketed to deciles per order priority — the
    relative-standing analytic (cume_dist's sibling). Partitioned by
    priority so each group ranks inside its own shuffle partition (no
    global sort); the (price, orderkey) total order makes the rank —
    and therefore the floor(·×10) bucket — deterministic in both
    engines. The top row of each partition lands in bucket 10
    (percent_rank = 1.0), a documented fencepost both engines share."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_orderpriority",
            "o_totalprice",
            F.floor(F.percent_rank().over(w) * 10)
            .cast("int")
            .alias("decile"),
        )
        .groupBy("o_orderpriority", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.max("o_totalprice"), 2).alias("hi_price"),
        )
    )


@_q(
    "win_rolling_7d",
    """WITH d AS (
         SELECT CAST(o_orderdate AS DATE) AS day,
                CAST(100 * sum(CAST(o_totalprice AS DECIMAL(18,2)))
                     AS BIGINT) AS rev_cents
         FROM orders GROUP BY day)
       SELECT day, round(rev_cents / 100.0, 2) AS revenue,
              round(sum(rev_cents) OVER (
                    ORDER BY day
                    RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
                    / 100.0, 2) AS rev_7d
       FROM d""",
)
def win_rolling_7d(spark, sf_dir):
    """Trailing-7-day revenue: aggregate to day grain first (one
    shuffle; the raw fact never meets a window), then a RANGE frame
    over day distance — NOT a 7-ROW frame, so calendar gaps shorten
    the window instead of silently reaching further back. Daily
    revenue is carried as exact integer CENTS through the rolling sum
    (a rolling sum of rounded doubles re-adds them in engine-specific
    incremental orders; integer cents cannot drift), converting to
    currency only on output. The trend frame is tiny, so the
    single-partition window is fine; at finer grains partition the
    window by a dimension."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("rev_cents")
    )
    w = (
        Window.orderBy(F.datediff(F.col("day"), F.lit("1995-01-01").cast("date")))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "day",
        F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
        F.round(F.sum("rev_cents").over(w) / 100.0, 2).alias("rev_7d"),
    )


@_q(
    "agg_distinct_suppliers_by_type",
    """SELECT p.p_type,
              count(DISTINCT l.l_suppkey) AS supplier_cnt,
              count(*) AS n_lines
       FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       WHERE p.p_brand <> 'Brand#5'
       GROUP BY p.p_type""",
)
def agg_distinct_suppliers_by_type(spark, sf_dir):
    """TPC-H Q16 shape: distinct supplier count per part type (minus
    an excluded brand) alongside a plain count — a mixed
    distinct/non-distinct aggregate, which Catalyst expands into the
    two-phase distinct-aggregate plan (partial count + exact distinct
    on (type, suppkey)). The exact path is the oracle-checkable twin
    of agg_approx_distinct's HLL sketch."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#5")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_type")
        .agg(
            F.countDistinct("l_suppkey").alias("supplier_cnt"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@_q(
    "win_scd2_intervals",
    """WITH ordered AS (
         SELECT o_custkey, o_orderstatus,
                CAST(o_orderdate AS DATE) AS odate, o_orderkey,
                lag(o_orderstatus) OVER (
                    PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) AS prev_status
         FROM orders),
       changes AS (
         SELECT o_custkey, o_orderstatus, odate, o_orderkey
         FROM ordered
         WHERE prev_status IS NULL OR prev_status <> o_orderstatus)
       SELECT o_custkey, o_orderstatus,
              odate AS valid_from,
              lead(odate) OVER (
                  PARTITION BY o_custkey
                  ORDER BY odate, o_orderkey) AS valid_to
       FROM changes""",
)
def win_scd2_intervals(spark, sf_dir):
    """Slowly-changing-dimension type-2 build: collapse each
    customer's order-status history into change intervals
    [valid_from, valid_to), open-ended for the current version — the
    standard warehouse dimension-versioning op, done as two window
    passes (change detection via lag, interval close via lead) over
    ONE hash partitioning on the customer key: Catalyst plans a
    single Exchange, both sorts reuse it. Orderkey breaks same-day
    ties deterministically."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = (
        o.select(
            "o_custkey", "o_orderstatus",
            F.col("o_orderdate").cast("date").alias("odate"),
            "o_orderkey",
            F.lag("o_orderstatus").over(w).alias("prev_status"),
        )
        .filter(
            F.col("prev_status").isNull()
            | (F.col("prev_status") != F.col("o_orderstatus"))
        )
    )
    w2 = Window.partitionBy("o_custkey").orderBy("odate", "o_orderkey")
    return changes.select(
        "o_custkey", "o_orderstatus",
        F.col("odate").alias("valid_from"),
        F.lead("odate").over(w2).alias("valid_to"),
    )


@_q(
    "win_cume_dist",
    """SELECT o_orderpriority, o_orderkey,
              round(cume_dist() OVER (
                  PARTITION BY o_orderpriority
                  ORDER BY o_totalprice, o_orderkey), 6) AS cd
       FROM orders WHERE o_orderkey % 100 = 0""",
)
def win_cume_dist(spark, sf_dir):
    """cume_dist within order priority — the last member of the
    rank-function family (rank/dense_rank/percent_rank/ntile are
    covered elsewhere). The orderkey tie-break makes every row's
    frame — and therefore the distribution value — deterministic;
    the %100 filter keeps the oracle frame small without changing
    the plan shape."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice", "o_orderkey")
    )
    return o.select(
        "o_orderpriority", "o_orderkey",
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@_q(
    "win_funnel_steps",
    """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                  FROM events),
       s1 AS (SELECT user_id,
                     min(ts) FILTER (WHERE event_type = 'view') AS t1
              FROM e GROUP BY user_id),
       s2 AS (SELECT e.user_id, min(e.ts) AS t2
              FROM e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'click' AND e.ts > s1.t1
              GROUP BY e.user_id),
       s3 AS (SELECT e.user_id, min(e.ts) AS t3
              FROM e JOIN s2 ON e.user_id = s2.user_id
              WHERE e.event_type = 'purchase' AND e.ts > s2.t2
              GROUP BY e.user_id),
       u AS (SELECT s1.user_id, s1.t1, s2.t2, s3.t3
             FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
                     LEFT JOIN s3 ON s1.user_id = s3.user_id
             WHERE s1.t1 IS NOT NULL)
       SELECT count(*) AS n_view_users,
              count(t2) AS n_click_users,
              count(t3) AS n_purchase_users,
              round(CAST(sum(CAST(epoch(t3) - epoch(t1)
                                  AS DECIMAL(18, 6))) AS DOUBLE)
                    / count(t3), 2) AS avg_view_to_purchase_sec
       FROM u""",
)
def win_funnel_steps(spark, sf_dir):
    """Ordered conversion funnel (view → click → purchase) over the
    event stream: per user, the first view, the first click AFTER
    that view, the first purchase AFTER that click — the sequential
    pattern a slowly-changing BI funnel shows as stage drop-off. The
    three stage timestamps are windows over the same user partition
    (nested conditional mins can't stack in one Window node), and the
    per-user reduce groups by that same key — so the whole funnel
    runs on ONE hash Exchange; only the final 1-row rollup crosses a
    SinglePartition. Conversion time is summed as DECIMAL so both
    engines divide identical exact sums (float addition order
    differs)."""
    w = Window.partitionBy("user_id")
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = ev.withColumn(
        "t1",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    s2 = s1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = (
        s3.groupBy("user_id")
        .agg(
            F.first("t1").alias("t1"),
            F.first("t2").alias("t2"),
            F.first("t3").alias("t3"),
        )
        .filter(F.col("t1").isNotNull())
    )
    # unix_micros over a plain-timestamp cast works for both LTZ and
    # NTZ inputs (NTZ -> DOUBLE is not a legal cast in Spark 4 ANSI).
    sec = (
        (
            F.unix_micros(F.col("t3").cast("timestamp"))
            - F.unix_micros(F.col("t1").cast("timestamp"))
        )
        / F.lit(1000000)
    ).cast("decimal(18,6)")
    return per_user.agg(
        F.count(F.lit(1)).alias("n_view_users"),
        F.count("t2").alias("n_click_users"),
        F.count("t3").alias("n_purchase_users"),
        F.round(
            F.sum(sec).cast("double") / F.count("t3"), 2
        ).alias("avg_view_to_purchase_sec"),
    )


@_q(
    "agg_trend_slope",
    """WITH e AS (SELECT event_type,
                     (epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000)
                       // 1000000 AS ix,
                     CAST(round(value * 100) AS BIGINT) AS iy
              FROM events),
       s AS (SELECT event_type, count(*) AS n,
                    CAST(sum(ix) AS BIGINT) AS sx,
                    CAST(sum(iy) AS BIGINT) AS sy,
                    CAST(sum(ix * iy) AS BIGINT) AS sxy,
                    CAST(sum(ix * ix) AS BIGINT) AS sxx
             FROM e GROUP BY event_type)
       SELECT event_type, n,
              round((n * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (n * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * 864.0, 6) AS slope_per_day
       FROM s""",
)
def agg_trend_slope(spark, sf_dir):
    """Per-type least-squares trend of event value over time — the
    regression-line KPI a BI tool drops on a scatter, computed the
    parity-safe way: x (seconds since a fixed epoch constant, no
    timezone functions) and y (cent-scaled value) are INTEGERS, so
    the four sufficient statistics are exact integer aggregates that
    cannot drift with partition order; only the final closed-form
    slope is double arithmetic, in a fixed operation order both
    engines execute identically. The built-in ``regr_slope`` is the
    one-liner twin, but its internal double accumulation is
    order-dependent — the decomposition here is what you'd run when
    the slope feeds a threshold at 100 TB. One shuffle (the groupBy);
    sums fit BIGINT through sf0.1-scale epochs — rebase the epoch
    constant per partition window beyond that."""
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.expr(
            "(unix_micros(cast(ts as timestamp)) - 1704067200000000)"
            " div 1000000"
        ).alias("ix"),
        F.round(F.col("value") * 100).cast("long").alias("iy"),
    )
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ix").alias("sx"),
        F.sum("iy").alias("sy"),
        F.sum(F.col("ix") * F.col("iy")).alias("sxy"),
        F.sum(F.col("ix") * F.col("ix")).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    slope = (
        (n * sxy.cast("double") - sx.cast("double") * sy.cast("double"))
        / (n * sxx.cast("double") - sx.cast("double") * sx.cast("double"))
        * 864.0
    )
    return s.select(
        "event_type", "n", F.round(slope, 6).alias("slope_per_day")
    )


@_q(
    "win_sliding_distinct_users",
    """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id
              FROM events),
       w AS (SELECT DISTINCT dd.d AS window_end, du.user_id
             FROM du JOIN (SELECT DISTINCT d FROM du) dd
               ON du.d > dd.d - 7 AND du.d <= dd.d)
       SELECT window_end, count(*) AS n_active_users
       FROM w GROUP BY window_end""",
)
def win_sliding_distinct_users(spark, sf_dir):
    """Exact COUNT DISTINCT over sliding windows — the 7-day-active-
    users KPI, which has no direct window-function spelling (DISTINCT
    inside a frame isn't supported, and collect_set over a range frame
    holds a whole window's users in one task). The scale spelling:
    collapse events to distinct (day, user) FIRST (the mass killer —
    events per user per day collapse to 1), explode each day-user into
    the ≤7 window-ends it influences via sequence(), dedup
    (window, user), count per window. Two hash shuffles over the
    collapsed frame, no per-window state concentration; the same shape
    computes any windowed exact-cardinality KPI. (At extreme scale
    swap the final distinct for a per-window HLL sketch — the
    agg_approx_distinct twin.) Oracle: day × window range join."""
    ev = load(spark, sf_dir, "events")
    du = ev.select(
        F.to_date(F.col("ts")).alias("d"), "user_id"
    ).distinct()
    exploded = du.select(
        F.explode(
            F.sequence(
                F.col("d"), F.date_add(F.col("d"), 6)
            )
        ).alias("window_end"),
        "user_id",
    )
    # only windows that end on an OBSERVED day (oracle's dd set)
    days = du.select("d").distinct()
    return (
        exploded.join(
            F.broadcast(days), exploded.window_end == days.d, "left_semi"
        )
        .distinct()
        .groupBy("window_end")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


@_q(
    "agg_histogram_quantiles",
    """WITH mm AS (SELECT min(CAST(l_extendedprice AS DOUBLE)) AS lo,
                          max(CAST(l_extendedprice AS DOUBLE)) AS hi,
                          count(l_extendedprice) AS n
               FROM lineitem),
       b AS (SELECT CAST(least(floor((CAST(l_extendedprice AS DOUBLE) - lo)
                                     / ((hi - lo) / 64)), 63) AS INT)
                        AS bin
             FROM lineitem, mm),
       c AS (SELECT bin, count(*) AS cnt FROM b GROUP BY bin),
       cu AS (SELECT bin, cnt,
                     sum(cnt) OVER (ORDER BY bin) AS cum,
                     sum(cnt) OVER (ORDER BY bin) - cnt AS cum_before
              FROM c),
       ps AS (SELECT CAST(p AS DOUBLE) AS p
              FROM (VALUES (0.5), (0.9), (0.99)) t(p)),
       cand AS (SELECT p, bin, cnt, cum, cum_before,
                       row_number() OVER (PARTITION BY p ORDER BY bin)
                           AS rk
                FROM cu, ps, mm WHERE cum >= p * n)
       SELECT p, CAST(n AS BIGINT) AS n_total,
              round(lo + ((hi - lo) / 64)
                         * (bin + (p * n - cum_before) / cnt), 4) + 0.0
                  AS estimate
       FROM cand, mm WHERE rk = 1""",
)
def agg_histogram_quantiles(spark, sf_dir):
    """p50/p90/p99 of l_extendedprice from a 64-bin fixed-width
    histogram sketch (operators/sketches.histogram_quantiles): two
    linear map-side-combining passes and an n_bins-row cumulative
    window — the mergeable, engine-portable way to get quantile
    thresholds at 100 TB (agg_percentiles is the exact twin;
    agg_approx_percentiles the engine-specific one). Counts are
    integers and the interpolation is one float expression from
    identical operands, so estimates hash-match the oracle."""
    from ..operators.sketches import histogram_quantiles

    li = load(spark, sf_dir, "lineitem")
    return histogram_quantiles(li, "l_extendedprice", n_bins=64)


@_q(
    "win_retention_cohorts",
    """WITH e AS (SELECT user_id,
                        CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
                 FROM events),
       f AS (SELECT user_id,
                    CAST(date_trunc('week', min(d)) AS DATE) AS cohort_week
             FROM e GROUP BY user_id)
       SELECT cohort_week,
              CAST(datediff('day', cohort_week,
                            CAST(date_trunc('week', d) AS DATE)) // 7
                   AS INT) AS week_offset,
              count(DISTINCT e.user_id) AS n_users
       FROM e JOIN f ON e.user_id = f.user_id
       GROUP BY cohort_week, week_offset""",
)
def win_retention_cohorts(spark, sf_dir):
    """Weekly cohort retention matrix — users grouped by first-seen
    week, counted distinct in every later week they return (the BI
    staple behind every retention curve). Two shuffles total: the
    first-seen aggregate keyed by user (its join back to events stays
    on the same key, so no extra exchange) and the final
    (cohort, offset) aggregate whose key space is weeks^2 — tiny at
    any corpus scale. The distinct count partial-aggregates on
    (cohort, offset, user) map-side."""
    e = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    f = e.groupBy("user_id").agg(
        F.trunc(F.min("d"), "week").alias("cohort_week")
    )
    return (
        e.join(f, "user_id")
        .select(
            "cohort_week",
            F.floor(
                F.datediff(F.trunc("d", "week"), F.col("cohort_week")) / 7
            )
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@_q(
    "win_dau_mau",
    """WITH e AS (SELECT user_id,
                        CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
                 FROM events),
       day AS (SELECT d, count(DISTINCT user_id) AS dau
               FROM e GROUP BY d),
       mon AS (SELECT CAST(date_trunc('month', d) AS DATE) AS month,
                      count(DISTINCT user_id) AS mau
               FROM e GROUP BY month)
       SELECT m.month, count(*) AS n_days,
              CAST(max(m2.mau) AS BIGINT) AS mau,
              round(CAST(sum(day.dau) AS DOUBLE) / count(*), 4) AS avg_dau,
              round(CAST(sum(day.dau) AS DOUBLE)
                    / (count(*) * max(m2.mau)), 4) AS stickiness
       FROM day
       JOIN (SELECT CAST(date_trunc('month', d) AS DATE) AS month, d
             FROM day) m ON m.d = day.d
       JOIN mon m2 ON m2.month = m.month
       GROUP BY m.month""",
)
def win_dau_mau(spark, sf_dir):
    """DAU/MAU stickiness per month — the engagement ratio every
    activity dashboard leads with. Two distinct-count aggregates
    (day- and month-grain, both partial-aggregated on (grain, user)
    map-side) and a months-sized final join; the ratio is one float
    division of exact integers, so it hash-matches. At 100 TB the
    day/month collapse-first shape is what keeps the distinct counts
    off the raw event stream."""
    e = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    day = e.groupBy("d").agg(F.countDistinct("user_id").alias("dau"))
    mon = e.groupBy(F.trunc("d", "month").alias("month")).agg(
        F.countDistinct("user_id").alias("mau")
    )
    return (
        day.withColumn("month", F.trunc("d", "month"))
        .join(mon, "month")
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.max("mau").cast("long").alias("mau"),
            F.round(
                F.sum("dau").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_dau"),
            F.round(
                F.sum("dau").cast("double")
                / (F.count(F.lit(1)) * F.max("mau")),
                4,
            ).alias("stickiness"),
        )
    )


def _kmv_rollup_sql(k: int) -> str:
    """Direct global KMV estimate over user_id — the merged daily
    sketches must equal it exactly (bottom-k of a union == bottom-k
    of the per-day bottom-k's)."""
    from ..operators.hashing import md5_long_sql
    from ..operators.sketches import HASH_SPACE

    h = md5_long_sql("CAST(user_id AS VARCHAR)")
    return f"""WITH h AS (SELECT DISTINCT {h} AS h FROM events),
       r AS (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM h),
       s AS (SELECT count(*) AS n,
                    max(CASE WHEN rk = {k} THEN h END) AS hk
             FROM r WHERE rk <= {k})
       SELECT CASE WHEN hk IS NULL THEN n
                   ELSE CAST(({k - 1} * CAST({HASH_SPACE} AS HUGEINT)) // hk
                             AS BIGINT)
              END AS est_users,
              (SELECT count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE))
               FROM events) AS n_days_merged
       FROM s"""


@_q("agg_kmv_rollup", _kmv_rollup_sql(128))
def agg_kmv_rollup(spark, sf_dir):
    """The KMV rollup path PROVEN, not just documented: per-day
    bottom-128 user sketches (the daily artifact a pipeline would
    persist) fold into one sketch via kmv_merge, and the resulting
    distinct-users estimate hash-matches the oracle's DIRECT sketch
    of the whole table — bottom-k of a union equals bottom-k of the
    per-day bottom-k's, so day->month rollups never need raw data.
    The fold runs as an aggregate expression over the collected daily
    sketches (<= days x k longs)."""
    from ..operators.sketches import kmv_estimate, kmv_merge, kmv_sketch

    e = load(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "user_id"
    )
    daily = kmv_sketch(e, ["d"], "user_id", k=128)
    merged = daily.agg(
        F.aggregate(
            F.collect_list("sketch"),
            F.expr("CAST(array() AS ARRAY<BIGINT>)"),
            lambda acc, x: kmv_merge(acc, x, 128),
        ).alias("sketch"),
        F.count(F.lit(1)).alias("n_days_merged"),
    )
    return merged.select(
        kmv_estimate(F.col("sketch"), 128).alias("est_users"),
        "n_days_merged",
    )


@_q(
    "win_gap_fill",
    """WITH base AS (
         SELECT CAST(o_orderdate AS DATE) AS day,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                           AS DOUBLE), 2) AS rev
         FROM orders
         WHERE day(CAST(o_orderdate AS DATE)) % 3 <> 0
         GROUP BY day),
       mm AS (SELECT min(day) AS lo, max(day) AS hi FROM base),
       spine AS (SELECT CAST(unnest(generate_series(lo, hi,
                           INTERVAL 1 DAY)) AS DATE) AS day FROM mm),
       j AS (SELECT s.day, b.rev FROM spine s
             LEFT JOIN base b ON b.day = s.day),
       f AS (SELECT day, rev,
                    last_value(rev IGNORE NULLS) OVER w_p AS pv,
                    last_value(CASE WHEN rev IS NOT NULL THEN day END
                               IGNORE NULLS) OVER w_p AS pd,
                    first_value(rev IGNORE NULLS) OVER w_n AS nv,
                    first_value(CASE WHEN rev IS NOT NULL THEN day END
                                IGNORE NULLS) OVER w_n AS nd
             FROM j
             WINDOW w_p AS (ORDER BY day ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW),
                    w_n AS (ORDER BY day ROWS BETWEEN CURRENT ROW
                            AND UNBOUNDED FOLLOWING))
       SELECT day, rev AS revenue_raw,
              CASE WHEN rev IS NOT NULL THEN rev
                   WHEN pv IS NOT NULL AND nv IS NOT NULL
                   THEN round(pv + (nv - pv)
                              * datediff('day', pd, day)
                              / datediff('day', pd, nd), 4) + 0.0
                   ELSE coalesce(pv, nv) END AS revenue_filled,
              CASE WHEN rev IS NOT NULL THEN 'actual'
                   WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
                   ELSE 'edge' END AS fill_method
       FROM f""",
)
def win_gap_fill(spark, sf_dir):
    """Calendar gap-filling with linear interpolation — the
    time-series completeness operator (TimescaleDB's gapfill /
    locf+interpolate): aggregate to day grain FIRST (gaps synthesized
    deterministically: every 3rd calendar day dropped), build the
    min-to-max date spine, left-join, and fill holes by interpolating
    between the previous and next known values (nearest known at the
    edges). The windows run over the bounded day-grain spine — never
    the raw facts; the daily sum itself is DECIMAL-exact before
    rounding, so both engines interpolate identical doubles."""
    o = load(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day"), "o_totalprice"
    ).filter(F.dayofmonth("day") % 3 != 0)
    base = o.groupBy("day").agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                "double"
            ),
            2,
        ).alias("rev")
    )
    mm = base.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = mm.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    j = spine.join(base, "day", "left")
    w_p = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_n = Window.orderBy("day").rowsBetween(0, Window.unboundedFollowing)
    known_day = F.when(F.col("rev").isNotNull(), F.col("day"))
    f = j.select(
        "day",
        "rev",
        F.last("rev", ignorenulls=True).over(w_p).alias("pv"),
        F.last(known_day, ignorenulls=True).over(w_p).alias("pd"),
        F.first("rev", ignorenulls=True).over(w_n).alias("nv"),
        F.first(known_day, ignorenulls=True).over(w_n).alias("nd"),
    )
    interp = (
        F.round(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * F.datediff("day", F.col("pd"))
            / F.datediff(F.col("nd"), F.col("pd")),
            4,
        )
        + F.lit(0.0)
    )
    return f.select(
        "day",
        F.col("rev").alias("revenue_raw"),
        F.when(F.col("rev").isNotNull(), F.col("rev"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp
        )
        .otherwise(F.coalesce("pv", "nv"))
        .alias("revenue_filled"),
        F.when(F.col("rev").isNotNull(), F.lit("actual"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.lit("interp"),
        )
        .otherwise(F.lit("edge"))
        .alias("fill_method"),
    )


@_q(
    "win_scd2_merge",
    """WITH o AS (SELECT o_custkey AS k, o_orderpriority AS attr,
                       CAST(o_orderdate AS DATE) AS d, o_orderkey AS ok
              FROM orders),
       cur0 AS (SELECT k, attr, d FROM (
                 SELECT *, row_number() OVER (PARTITION BY k
                    ORDER BY d DESC, ok DESC) AS rn
                 FROM o WHERE d < DATE '1997-01-01') t WHERE rn = 1),
       snap AS (SELECT k, attr, d FROM (
                 SELECT *, row_number() OVER (PARTITION BY k
                    ORDER BY d DESC, ok DESC) AS rn
                 FROM o) t WHERE rn = 1)
       SELECT s.k AS custkey, c.attr AS attr, c.d AS valid_from,
              s.d AS valid_to, FALSE AS is_current
       FROM snap s JOIN cur0 c ON c.k = s.k AND c.attr <> s.attr
       UNION ALL
       SELECT s.k, s.attr,
              CASE WHEN c.k IS NULL OR c.attr <> s.attr
                   THEN s.d ELSE c.d END,
              NULL, TRUE
       FROM snap s LEFT JOIN cur0 c ON c.k = s.k""",
)
def win_scd2_merge(spark, sf_dir):
    """Incremental SCD2 merge, declaratively — the warehouse MERGE
    the reference performs row-by-row over pyodbc (SURVEY.md §3.3),
    re-expressed as two set operations: the current dimension (latest
    attribute before the cutoff) merged with an incoming snapshot
    closes changed rows (valid_to = change date), opens new versions,
    and inserts unseen keys — all in one shuffle per argmax plus one
    key-partitioned join, no per-row driver loop. The same plan IS
    Delta/Iceberg's MERGE INTO logical form; here it lands as plain
    rows so any sink (JDBC staging-merge, parquet overwrite) applies
    it idempotently."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderpriority").alias("attr"),
        F.to_date("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("ok"),
    )
    w = Window.partitionBy("k").orderBy(F.desc("d"), F.desc("ok"))

    def latest(df):
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("k", "attr", "d")
        )

    cur0 = latest(o.filter(F.col("d") < F.lit("1997-01-01").cast("date")))
    snap = latest(o)
    c = cur0.select(
        F.col("k"), F.col("attr").alias("c_attr"), F.col("d").alias("c_d")
    )
    joined = snap.join(c, "k", "left")
    closed = (
        joined.filter(
            F.col("c_attr").isNotNull() & (F.col("c_attr") != F.col("attr"))
        )
        .select(
            F.col("k").alias("custkey"),
            F.col("c_attr").alias("attr"),
            F.col("c_d").alias("valid_from"),
            F.col("d").alias("valid_to"),
            F.lit(False).alias("is_current"),
        )
    )
    opened = joined.select(
        F.col("k").alias("custkey"),
        F.col("attr"),
        F.when(
            F.col("c_attr").isNull() | (F.col("c_attr") != F.col("attr")),
            F.col("d"),
        )
        .otherwise(F.col("c_d"))
        .alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return closed.unionByName(opened)


@_q(
    "win_anomaly_zscore",
    """WITH d AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                        count(*) AS n
                 FROM events GROUP BY day),
       s AS (SELECT CAST(sum(n) AS DOUBLE) AS sm,
                    CAST(sum(n * n) AS DOUBLE) AS ss,
                    CAST(count(*) AS DOUBLE) AS c
             FROM d)
       SELECT day, CAST(n AS BIGINT) AS n,
              round((n - sm / c)
                    / sqrt(ss / c - (sm / c) * (sm / c)), 4) + 0.0 AS z,
              abs((n - sm / c)
                  / sqrt(ss / c - (sm / c) * (sm / c))) > 2.0
                  AS is_anomaly
       FROM d, s""",
)
def win_anomaly_zscore(spark, sf_dir):
    """Volume-anomaly screen over the daily event series: z-score of
    each day's count against the global mean/std computed from EXACT
    integer sums (one day-grain aggregate + a broadcast 1-row stats
    join — the same integer-sufficient-statistics trick as
    emb_standardize, so the flags are engine-identical). The
    monitoring query a pipeline health dashboard runs after every
    load."""
    e = load(spark, sf_dir, "events")
    d = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    s = d.agg(
        F.sum("n").cast("double").alias("sm"),
        F.sum(F.col("n") * F.col("n")).cast("double").alias("ss"),
        F.count(F.lit(1)).cast("double").alias("c"),
    )
    mean = F.col("sm") / F.col("c")
    var = F.col("ss") / F.col("c") - mean * mean
    z = (F.col("n") - mean) / F.sqrt(var)
    return d.crossJoin(F.broadcast(s)).select(
        "day",
        F.col("n").cast("long").alias("n"),
        (F.round(z, 4) + F.lit(0.0)).alias("z"),
        (F.abs(z) > 2.0).alias("is_anomaly"),
    )


@_q(
    "win_rfm_segments",
    """WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS ref
              FROM orders),
       c AS (SELECT o_custkey AS k,
                    datediff('day',
                             max(CAST(o_orderdate AS DATE)),
                             (SELECT ref FROM mx)) AS recency_days,
                    count(*) AS frequency,
                    round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                               AS DOUBLE), 2) AS monetary
             FROM orders GROUP BY o_custkey),
       q AS (SELECT quantile_cont(recency_days, 0.25) AS r25,
                    quantile_cont(recency_days, 0.50) AS r50,
                    quantile_cont(recency_days, 0.75) AS r75,
                    quantile_cont(frequency, 0.25) AS f25,
                    quantile_cont(frequency, 0.50) AS f50,
                    quantile_cont(frequency, 0.75) AS f75,
                    quantile_cont(monetary, 0.25) AS m25,
                    quantile_cont(monetary, 0.50) AS m50,
                    quantile_cont(monetary, 0.75) AS m75
             FROM c),
       t AS (SELECT k, recency_days, frequency, monetary,
                    4 - (CAST(recency_days > r25 AS INT)
                         + CAST(recency_days > r50 AS INT)
                         + CAST(recency_days > r75 AS INT)) AS r,
                    1 + CAST(frequency > f25 AS INT)
                      + CAST(frequency > f50 AS INT)
                      + CAST(frequency > f75 AS INT) AS f,
                    1 + CAST(monetary > m25 AS INT)
                      + CAST(monetary > m50 AS INT)
                      + CAST(monetary > m75 AS INT) AS m
             FROM c, q)
       SELECT concat('R', r, 'F', f, 'M', m) AS segment,
              count(*) AS n_customers,
              CAST(min(recency_days) AS BIGINT) AS min_recency,
              CAST(max(frequency) AS BIGINT) AS max_frequency,
              round(sum(monetary), 2) AS total_monetary
       FROM t GROUP BY segment""",
)
def win_rfm_segments(spark, sf_dir):
    """RFM customer segmentation — the BI-staple behavioral cube:
    recency / frequency / monetary per customer, bucketed by the
    distribution's exact quartile THRESHOLDS (broadcast as one row)
    rather than a global ntile window: an unpartitioned rank over the
    per-customer frame would concentrate every customer in one task
    at 100 TB, while threshold buckets cost one aggregate + a
    broadcast compare — and put tied values in the same bucket, which
    is the better-defined semantics anyway. Spark ``percentile`` and
    DuckDB ``quantile_cont`` share the interpolation (the
    agg_percentiles convention); agg_histogram_quantiles is the
    sketch path for the thresholds when even one exact sort-agg is
    too much. R4 = most recent quartile."""
    o = load(spark, sf_dir, "orders")
    mx = o.agg(F.max(F.to_date("o_orderdate")).alias("ref"))
    c = (
        o.groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_d"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("monetary"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "k",
            F.datediff("ref", "last_d").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    # one array-percentile agg per column (not one agg per (col, prob):
    # each percentile agg buffers+sorts its own copy of the column, so
    # 9 aggs paid 9 sorts where 3 suffice — the group_percentiles fix)
    probs = F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75))
    q = c.agg(
        *[
            F.percentile(col, probs).alias(f"_{al}")
            for col, al in (
                ("recency_days", "r"),
                ("frequency", "f"),
                ("monetary", "m"),
            )
        ]
    ).select(
        *[
            F.col(f"_{al}")[i].alias(f"{al}{int(pp * 100)}")
            for al in ("r", "f", "m")
            for i, pp in enumerate((0.25, 0.50, 0.75))
        ]
    )
    t = c.crossJoin(F.broadcast(q)).select(
        "recency_days",
        "frequency",
        "monetary",
        (
            F.lit(4)
            - (
                (F.col("recency_days") > F.col("r25")).cast("int")
                + (F.col("recency_days") > F.col("r50")).cast("int")
                + (F.col("recency_days") > F.col("r75")).cast("int")
            )
        ).alias("r"),
        (
            F.lit(1)
            + (F.col("frequency") > F.col("f25")).cast("int")
            + (F.col("frequency") > F.col("f50")).cast("int")
            + (F.col("frequency") > F.col("f75")).cast("int")
        ).alias("f"),
        (
            F.lit(1)
            + (F.col("monetary") > F.col("m25")).cast("int")
            + (F.col("monetary") > F.col("m50")).cast("int")
            + (F.col("monetary") > F.col("m75")).cast("int")
        ).alias("m"),
    )
    return (
        t.select(
            F.concat(
                F.lit("R"), F.col("r").cast("string"),
                F.lit("F"), F.col("f").cast("string"),
                F.lit("M"), F.col("m").cast("string"),
            ).alias("segment"),
            "recency_days",
            "frequency",
            "monetary",
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("recency_days").cast("long").alias("min_recency"),
            F.max("frequency").cast("long").alias("max_frequency"),
            F.round(F.sum("monetary"), 2).alias("total_monetary"),
        )
    )


@_q(
    "win_peak_concurrency",
    """WITH x AS (SELECT user_id, ts, event_id,
                        CASE WHEN lag(ts) OVER w IS NULL
                              OR epoch_us(ts - lag(ts) OVER w) >= 1800000000
                             THEN 1 ELSE 0 END AS brk
                 FROM events
                 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       s AS (SELECT user_id, ts,
                    CAST(sum(brk) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
             FROM x),
       sess AS (SELECT user_id, session_idx,
                       min(ts) AS st, max(ts) AS en
                FROM s GROUP BY user_id, session_idx),
       d AS (SELECT st, en,
                    CAST(unnest(generate_series(CAST(st AS DATE),
                        CAST(en AS DATE), INTERVAL 1 DAY)) AS DATE)
                        AS day
             FROM sess),
       c AS (SELECT day,
                    greatest(st, CAST(day AS TIMESTAMP)) AS cs,
                    least(en, CAST(day + 1 AS TIMESTAMP)) AS ce
             FROM d),
       ev AS (SELECT day, cs AS ts, 1 AS delta FROM c
              UNION ALL SELECT day, ce, -1 FROM c),
       r AS (SELECT day, sum(delta) OVER (
                 PARTITION BY day ORDER BY ts, delta DESC
                 ROWS UNBOUNDED PRECEDING) AS run
             FROM ev)
       SELECT day, CAST(max(run) AS BIGINT) AS peak_concurrency
       FROM r GROUP BY day""",
)
def win_peak_concurrency(spark, sf_dir):
    """Daily peak simultaneous sessions
    (operators/analytics.peak_concurrency): gap-sessionize the event
    stream (same 30-min rule as win_sessionize), then sweep-line the
    session intervals — split at day boundaries so the running sum
    windows PARTITION BY day, never a global single-partition sort.
    The 'how many users were on at the busiest moment' card, computed
    with a plan that holds when one day alone has billions of
    intervals."""
    e = load(spark, sf_dir, "events")
    sess = (
        A.sessionize(e, "user_id", "ts", 1800, tiebreak="event_id")
        .groupBy("user_id", "session_idx")
        .agg(F.min("ts").alias("st"), F.max("ts").alias("en"))
    )
    return A.peak_concurrency(sess, "st", "en")


@_q(
    "win_survival_curve",
    """WITH pu AS (SELECT user_id,
                          min(day(ts)) AS first_day,
                          max(day(ts)) AS last_day
               FROM events GROUP BY user_id),
       obs AS (SELECT max(day(ts)) AS obs_end FROM events),
       subj AS (SELECT
           CASE WHEN last_day = obs_end THEN obs_end - first_day
                ELSE last_day - first_day END AS t,
           last_day = obs_end AS censored
           FROM pu, obs),
       per AS (SELECT t,
                      sum(CASE WHEN censored THEN 0 ELSE 1 END)
                          AS n_churn,
                      sum(CASE WHEN censored THEN 1 ELSE 0 END)
                          AS n_censored
               FROM subj GROUP BY t),
       tot AS (SELECT sum(n_churn + n_censored) AS total FROM per),
       risk AS (SELECT t, n_churn, n_censored,
                       total - coalesce(sum(n_churn + n_censored)
                           OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND 1 PRECEDING), 0)
                           AS n_risk
                FROM per, tot),
       surv AS (SELECT t, n_risk, n_churn, n_censored,
                       product(1.0 - CAST(n_churn AS DOUBLE) / n_risk)
                           OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW) AS s
                FROM risk)
       SELECT CAST(t AS BIGINT) AS t,
              CAST(n_risk AS BIGINT) AS n_risk,
              CAST(n_churn AS BIGINT) AS n_churn,
              CAST(n_censored AS BIGINT) AS n_censored,
              CAST(floor((CAST(n_churn AS DOUBLE) / n_risk)
                   * CAST(1000000 AS DOUBLE) + CAST('0.5' AS DOUBLE))
                   AS BIGINT) AS hazard_fp,
              CAST(floor((s)
                   * CAST(1000000 AS DOUBLE) + CAST('0.5' AS DOUBLE))
                   AS BIGINT) AS survival_fp
       FROM surv""",
)
def win_survival_curve(spark, sf_dir):
    """Kaplan-Meier churn/retention curve
    (operators/analytics.survival_curve): user lifetime = first to
    last active day, right-censored for users still active at the
    observation end. The chained survival product is SEQUENTIAL in
    ascending duration on BOTH engines (ordered left fold here,
    DuckDB's ordered product window there), so even the float chain
    hash-matches. All windows run on the <=31-row per-duration
    frame — corpus-size independent."""
    ev = load(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.min(F.dayofmonth("ts")).alias("first_day"),
        F.max(F.dayofmonth("ts")).alias("last_day"),
    )
    obs = ev.agg(F.max(F.dayofmonth("ts")).alias("obs_end"))
    subj = pu.crossJoin(F.broadcast(obs)).select(
        F.when(F.col("last_day") == F.col("obs_end"),
               F.col("obs_end") - F.col("first_day"))
        .otherwise(F.col("last_day") - F.col("first_day")).alias("dur"),
        (F.col("last_day") == F.col("obs_end")).alias("censored"),
    )
    return A.survival_curve(subj, "dur", "censored")


@_q(
    "win_ewma_control",
    """WITH daily AS (SELECT day(ts) AS d, count(*) AS x
               FROM events GROUP BY 1),
       seq AS (SELECT d, x, row_number() OVER (ORDER BY d) AS rn
               FROM daily),
       rec AS (
           WITH RECURSIVE r(rn, d, x, e) AS (
               SELECT rn, d, x, CAST(x AS DOUBLE) FROM seq
               WHERE rn = 1
               UNION ALL
               SELECT s.rn, s.d, s.x, 0.3 * s.x + 0.7 * r.e
               FROM seq s JOIN r ON s.rn = r.rn + 1)
           SELECT * FROM r),
       m AS (SELECT count(*) AS n, sum(x) AS sx,
                    sum(CAST(x AS HUGEINT) * x) AS sxx
             FROM daily),
       p AS (SELECT rn, d, x, e,
                    lag(x) OVER (ORDER BY d) AS x_prev,
                    lag(e) OVER (ORDER BY d) AS e_prev
             FROM rec),
       s AS (SELECT sqrt(CAST(sxx AS DOUBLE) * n
                         - CAST(sx AS DOUBLE) * sx) / n AS sigma
             FROM m)
       SELECT CAST(d AS BIGINT) AS d, CAST(x AS BIGINT) AS x,
              CAST(floor((e) * CAST(1000000 AS DOUBLE)
                   + CAST('0.5' AS DOUBLE)) AS BIGINT) AS ewma_fp,
              CASE WHEN e_prev IS NOT NULL THEN
                  CAST(floor((x - e_prev)
                       * CAST(1000000 AS DOUBLE)
                       + CAST('0.5' AS DOUBLE)) AS BIGINT)
                  END AS resid_fp,
              CAST(floor((sigma) * CAST(1000000 AS DOUBLE)
                   + CAST('0.5' AS DOUBLE)) AS BIGINT) AS sigma_fp,
              CASE WHEN e_prev IS NOT NULL THEN
                  abs(x - e_prev) > 3.0 * sigma END AS alarm
       FROM p, s""",
)
def win_ewma_control(spark, sf_dir):
    """EWMA control chart over daily event volume
    (operators/analytics.ewma_control): the monitoring query behind
    'did today drift?'. The recurrence is a sequential fold in
    ascending day on BOTH engines (ordered left fold here, recursive
    CTE with the identical literal order in the oracle), so the
    float chain hash-matches; sigma from exact integer moments. The
    window runs on the 30-row daily frame, never events."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.dayofmonth("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    return A.ewma_control(daily, "d", "x", alpha=0.3, k=3.0)


@_q(
    "win_longest_streak",
    """WITH daily AS (SELECT event_type, day(ts) AS d, count(*) AS x
               FROM events GROUP BY event_type, day(ts)),
       s AS (SELECT event_type, d, x,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY x, d) AS rx,
               count(*) OVER (PARTITION BY event_type) AS n
             FROM daily),
       med AS (SELECT event_type, x AS m FROM s
               WHERE rx = floor((n + 1) / 2)),
       qual AS (SELECT s.event_type, s.d, med.m FROM s
                JOIN med ON med.event_type = s.event_type
                WHERE s.x > med.m),
       isl AS (SELECT event_type, d, m,
                 d - row_number() OVER (PARTITION BY event_type
                                        ORDER BY d) AS grp
               FROM qual),
       runs AS (SELECT event_type, m, grp, count(*) AS len,
                       min(d) AS st, max(d) AS en
                FROM isl GROUP BY event_type, m, grp),
       best AS (SELECT *, row_number() OVER (PARTITION BY event_type
                  ORDER BY len DESC, st ASC) AS rk
                FROM runs)
       SELECT event_type, CAST(m AS BIGINT) AS median_x,
              CAST(len AS BIGINT) AS longest_streak,
              CAST(st AS BIGINT) AS streak_start,
              CAST(en AS BIGINT) AS streak_end
       FROM best WHERE rk = 1""",
)
def win_longest_streak(spark, sf_dir):
    """Longest above-median surge per event type
    (operators/analytics.longest_streak): the gaps-and-islands idiom
    — t minus row_number is constant within a consecutive run — over
    each slice's own order-statistic median bar. Every window is
    partitioned by the slice key over the ~30-row daily frame."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.dayofmonth("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("x"))
    return A.longest_streak(daily, "event_type", "d", "x")


@_q(
    "win_rolling_median",
    """WITH daily AS (SELECT day(ts) AS d, count(*) AS x
               FROM events GROUP BY 1),
       l AS (SELECT d, x,
               list_sort(list(x) OVER (ORDER BY d ROWS BETWEEN 6
                 PRECEDING AND CURRENT ROW)) AS ls
             FROM daily)
       SELECT CAST(d AS BIGINT) AS d, CAST(x AS BIGINT) AS x,
              CAST(ls[CAST(floor((len(ls) + 1) / 2) AS INT)]
                   AS BIGINT) AS med,
              CAST(x - ls[CAST(floor((len(ls) + 1) / 2) AS INT)]
                   AS BIGINT) AS dev
       FROM l""",
)
def win_rolling_median(spark, sf_dir):
    """Rolling 7-day median of daily event volume
    (operators/analytics.rolling_median): the robust trend line a
    spike cannot bend, via exact order statistics (sorted window
    array, lower median, no interpolation); min_periods=1 warm-up.
    Windows on the ~30-row daily frame."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.dayofmonth("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    return A.rolling_median(daily, "d", "x", w=7)


@_q(
    "win_anomaly_mad",
    """WITH daily AS (SELECT day(ts) AS d, count(*) AS x
               FROM events GROUP BY 1),
       s AS (SELECT d, x, row_number() OVER (ORDER BY x, d) AS rx
             FROM daily),
       n AS (SELECT count(*) AS n FROM daily),
       m AS (SELECT x AS med FROM s, n WHERE rx = floor((n + 1) / 2)),
       dv AS (SELECT d, x, med, abs(x - med) AS dev FROM s, m),
       r AS (SELECT *, row_number() OVER (ORDER BY dev, d) AS rd
             FROM dv),
       md AS (SELECT dev AS mad FROM r, n
              WHERE rd = floor((n + 1) / 2))
       SELECT CAST(d AS BIGINT) AS d, CAST(x AS BIGINT) AS x,
              CAST(med AS BIGINT) AS median_x,
              CAST(dev AS BIGINT) AS dev,
              CAST(mad AS BIGINT) AS mad,
              CASE WHEN mad > 0 THEN dev > 3 * mad
                   ELSE dev > 0 END AS anomaly
       FROM r, md""",
)
def win_anomaly_mad(spark, sf_dir):
    """Median/MAD robust anomaly flags over daily event volume
    (operators/analytics.robust_anomaly_mad) — the outlier test a
    single huge spike cannot blind, unlike win_anomaly_zscore whose
    mean and sigma the spike itself inflates. Order-statistic median
    (no interpolation), integer deviations, dev > 3*MAD gate; windows
    on the ~30-row daily frame."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.dayofmonth("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    return A.robust_anomaly_mad(daily, "d", "x", k=3)


@_q(
    "win_holt_linear",
    """WITH daily AS (SELECT day(ts) AS d, count(*) AS x
               FROM events GROUP BY 1),
       seq AS (SELECT d, x, row_number() OVER (ORDER BY d) AS rn
               FROM daily),
       rec AS (
           WITH RECURSIVE r(rn, d, x, l, b) AS (
               SELECT rn, d, x, CAST(x AS DOUBLE), CAST(0 AS DOUBLE)
               FROM seq WHERE rn = 1
               UNION ALL
               SELECT s.rn, s.d, s.x,
                      0.5 * s.x + 0.5 * (r.l + r.b),
                      0.25 * ((0.5 * s.x + 0.5 * (r.l + r.b)) - r.l)
                          + 0.75 * r.b
               FROM seq s JOIN r ON s.rn = r.rn + 1)
           SELECT * FROM r)
       SELECT CAST(d AS BIGINT) AS d, CAST(x AS BIGINT) AS x,
              CAST(floor((l) * CAST(1000000 AS DOUBLE)
                   + CAST('0.5' AS DOUBLE)) AS BIGINT) AS level_fp,
              CAST(floor((b) * CAST(1000000 AS DOUBLE)
                   + CAST('0.5' AS DOUBLE)) AS BIGINT) AS trend_fp,
              CAST(floor((l + b) * CAST(1000000 AS DOUBLE)
                   + CAST('0.5' AS DOUBLE)) AS BIGINT) AS forecast_fp
       FROM rec""",
)
def win_holt_linear(spark, sf_dir):
    """Holt linear-trend smoothing over daily event volume
    (operators/analytics.holt_linear): level + trend double
    recurrence as an ordered two-state fold, oracle-replayed by a
    recursive CTE inlining the identical arithmetic; smoothing
    constants are exact binary fractions. forecast_fp is the
    one-step-ahead prediction EWMA structurally lags on trends."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.dayofmonth("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    return A.holt_linear(daily, "d", "x", alpha=0.5, beta=0.25)


@_q(
    "win_cusum_changepoint",
    """WITH daily AS (SELECT day(ts) AS d, count(*) AS x
               FROM events GROUP BY 1),
       seq AS (SELECT d, x, row_number() OVER (ORDER BY d) AS rn
               FROM daily),
       t AS (SELECT sum(CASE WHEN rn <= 7 THEN x END) AS tw
             FROM seq),
       base AS (SELECT d, x, 7 * x - tw AS dev,
                       CAST(floor(tw / 2) AS BIGINT) AS ks,
                       2 * tw AS h
                FROM seq, t),
       p AS (SELECT d, x, h,
               sum(dev - ks) OVER w AS pu,
               sum(-dev - ks) OVER w AS pd
             FROM base
             WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW)),
       c AS (SELECT d, x, h, pu, pd,
               least(0, min(pu) OVER w) AS mu,
               least(0, min(pd) OVER w) AS md
             FROM p
             WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW))
       SELECT CAST(d AS BIGINT) AS d, CAST(x AS BIGINT) AS x,
              CAST(pu - mu AS BIGINT) AS cusum_up,
              CAST(pd - md AS BIGINT) AS cusum_down,
              (pu - mu) > h AS alarm_up,
              (pd - md) > h AS alarm_down
       FROM c""",
)
def win_cusum_changepoint(spark, sf_dir):
    """Two-sided CUSUM changepoint chart over daily event volume
    (operators/analytics.cusum_changepoint): catches SUSTAINED small
    drifts the EWMA residual test misses. Exact integers end-to-end
    (7-scaled deviations vs the first-week baseline, half-mean
    allowance, prefix-sum/running-min identity instead of the
    sequential fold); windows run on the ~30-row daily frame."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.dayofmonth("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    return A.cusum_changepoint(daily, "d", "x", baseline_w=7)


@_q(
    "win_seasonal_backtest",
    """WITH daily AS (SELECT day(ts) AS d, count(*) AS x
               FROM events GROUP BY 1),
       s AS (SELECT x, lag(x, 7) OVER (ORDER BY d) AS f FROM daily),
       sc AS (SELECT x, f, x - f AS err FROM s WHERE f IS NOT NULL),
       a AS (SELECT count(*) AS n,
                    sum(abs(err)) AS sae, sum(err) AS se,
                    sum(CASE WHEN x <> 0 THEN
                        CAST(floor(1000000 * abs(err) / x) AS BIGINT)
                        END) AS sape,
                    count(CASE WHEN x <> 0 THEN 1 END) AS nape
             FROM sc)
       SELECT CAST(n AS BIGINT) AS n_scored,
              CASE WHEN n > 0 THEN CAST(floor(1000000 * sae / n)
                  AS BIGINT) END AS mae_fp,
              CASE WHEN nape > 0 THEN CAST(floor(sape / nape)
                  AS BIGINT) END AS mape_fp,
              CASE WHEN n > 0 THEN CAST(floor(1000000 * se / n)
                  AS BIGINT) END AS bias_fp
       FROM a""",
)
def win_seasonal_backtest(spark, sf_dir):
    """Seasonal-naive forecast backtest
    (operators/analytics.seasonal_backtest): forecast tomorrow's
    event volume as last week's same weekday, score MAE/MAPE/bias
    over the days that have an ancestor — the baseline every model
    must beat. Exact integer error sums, one final division each;
    the lag runs on the 30-row daily frame."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.dayofmonth("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    return A.seasonal_backtest(daily, "d", "x", season=7)
