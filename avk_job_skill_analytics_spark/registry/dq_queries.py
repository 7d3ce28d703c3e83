"""Data-quality query family (dq_*) — the validation gate a corpus
snapshot passes before it may feed training or BI (Deequ-style
constraint suites, column profiles, referential orphan audits, PSI
distribution drift).

Like the er_* family, failing inputs are synthesized in-query with
deterministic dirt (the driver testdata is clean by construction):
a "landing-zone" view of orders NULLs every 97th custkey, shifts
every 89th beyond the customer key range, negates every 131st total
price, and mangles every 113th order status — so the suite reports
real violations the oracle can replay exactly.

Every metric is a 1e-6 fixed-point integer and every float pipeline
keeps one canonical operand order, so all four reports hash-match
the DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dataquality as DQ
from ..plans.schemas import load
from ..plans.session import tiny_df

QUERIES = {}
ORACLES = {}


def _q(name, oracle=None):
    def reg(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return reg


# ------------------------------------------------ dirty landing zone
def landing_map(df):
    """The deterministic dirt map (one definition — the batch suite,
    the streaming gate, and the oracle SQL must corrupt identical
    rows): NULL FK every 97th key, out-of-range FK every 89th,
    unknown status every 113th, negative price every 131st."""
    k = F.col("o_orderkey")
    return df.select(
        k.alias("okey"),
        F.when(k % 97 == 0, F.lit(None).cast("long"))
        .when(k % 89 == 0, F.col("o_custkey") + F.lit(10_000_000))
        .otherwise(F.col("o_custkey")).alias("custkey"),
        F.when(k % 113 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus")).alias("status"),
        F.when(k % 131 == 0, -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice")).alias("price"),
    )


def landing_orders(spark, sf_dir):
    """The synthesized landing-zone orders feed (see landing_map)."""
    return landing_map(load(spark, sf_dir, "orders"))


_LANDING_SQL = """
    SELECT o_orderkey AS okey,
           CASE WHEN o_orderkey % 97 = 0 THEN NULL
                WHEN o_orderkey % 89 = 0 THEN o_custkey + 10000000
                ELSE o_custkey END AS custkey,
           CASE WHEN o_orderkey % 113 = 0 THEN 'X'
                ELSE o_orderstatus END AS status,
           CASE WHEN o_orderkey % 131 = 0 THEN -o_totalprice
                ELSE o_totalprice END AS price
    FROM orders
"""


# ------------------------------------------------ constraint suite
@_q(
    "dq_expectations",
    f"""WITH landing AS ({_LANDING_SQL}),
       m AS (SELECT
           CAST(floor(1000000 * count(custkey) / count(*)) AS BIGINT)
               AS completeness_custkey,
           CAST(floor(1000000 * count(DISTINCT okey) / count(okey))
               AS BIGINT) AS uniqueness_orderkey,
           CAST(floor(1000000 * count(CASE WHEN price BETWEEN 0
                    AND 600000 THEN 1 END) / count(price)) AS BIGINT)
               AS range_price,
           CAST(floor(1000000 * count(CASE WHEN status IN
                    ('F','O','P') THEN 1 END) / count(status))
               AS BIGINT) AS membership_status,
           CAST(floor(1000000 * count(CASE WHEN price >= 0 THEN 1
                    END) / count(price)) AS BIGINT) AS nonneg_price
           FROM landing)
       SELECT "constraint", metric_fp, metric_fp = 1000000 AS passed
       FROM (
           SELECT 'completeness_custkey' AS "constraint",
                  completeness_custkey AS metric_fp FROM m
           UNION ALL SELECT 'uniqueness_orderkey', uniqueness_orderkey
               FROM m
           UNION ALL SELECT 'range_price', range_price FROM m
           UNION ALL SELECT 'membership_status', membership_status
               FROM m
           UNION ALL SELECT 'nonneg_price', nonneg_price FROM m
       )""",
)
def dq_expectations(spark, sf_dir):
    """The pre-publish constraint gate
    (operators/dataquality.expectation_report): five constraints —
    FK completeness, PK uniqueness, price range, status domain
    membership, price non-negativity — evaluated over the dirty
    landing feed in ONE fused aggregate pass (conditional aggs in a
    single agg, 1-row result exploded to the long-form report). A
    quality check may not cost more than the scan it validates."""
    return DQ.expectation_report(
        landing_orders(spark, sf_dir),
        [
            ("completeness_custkey", "completeness", "custkey"),
            ("uniqueness_orderkey", "uniqueness", "okey"),
            ("range_price", "range", "price", 0, 600000),
            ("membership_status", "membership", "status",
             ["F", "O", "P"]),
            ("nonneg_price", "non_negative", "price"),
        ],
    )


# ------------------------------------------------ column profile
@_q(
    "dq_profile",
    """WITH m AS (SELECT
           count(*) AS n,
           sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS k_nulls,
           count(DISTINCT c_custkey) AS k_dist,
           min(CAST(c_custkey AS VARCHAR)) AS k_min,
           max(CAST(c_custkey AS VARCHAR)) AS k_max,
           CAST(floor(1000000 *
                sum(length(CAST(c_custkey AS VARCHAR)))
                / count(c_custkey)) AS BIGINT) AS k_avglen,
           sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS nm_nulls,
           count(DISTINCT c_name) AS nm_dist,
           min(c_name) AS nm_min, max(c_name) AS nm_max,
           CAST(floor(1000000 * sum(length(c_name)) / count(c_name))
               AS BIGINT) AS nm_avglen,
           sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END)
               AS sg_nulls,
           count(DISTINCT c_mktsegment) AS sg_dist,
           min(c_mktsegment) AS sg_min, max(c_mktsegment) AS sg_max,
           CAST(floor(1000000 * sum(length(c_mktsegment))
                / count(c_mktsegment)) AS BIGINT) AS sg_avglen
           FROM customer)
       SELECT 'c_custkey' AS "column", n AS n_rows,
              CAST(k_nulls AS BIGINT) AS n_null, k_dist AS n_distinct,
              k_min AS min_str, k_max AS max_str, k_avglen AS avg_len_fp
       FROM m
       UNION ALL
       SELECT 'c_name', n, CAST(nm_nulls AS BIGINT), nm_dist,
              nm_min, nm_max, nm_avglen FROM m
       UNION ALL
       SELECT 'c_mktsegment', n, CAST(sg_nulls AS BIGINT), sg_dist,
              sg_min, sg_max, sg_avglen FROM m""",
)
def dq_profile(spark, sf_dir):
    """Column profile card (operators/dataquality.column_profile):
    rows/nulls/distinct/min/max/avg-length for the customer key,
    name, and segment, in ONE fused aggregate (min/max stringified so
    every column type shares the report schema). The thing an
    operator reads before trusting a new snapshot."""
    return DQ.column_profile(
        load(spark, sf_dir, "customer"),
        ["c_custkey", "c_name", "c_mktsegment"],
    )


# ------------------------------------------------ referential audit
@_q(
    "dq_referential",
    f"""WITH landing AS ({_LANDING_SQL})
       SELECT 'lineitem->orders' AS relation,
              CAST(count(*) AS BIGINT) AS n_orphans
       FROM (SELECT l_orderkey AS k FROM lineitem) c
       LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) p
           ON c.k = p.k WHERE p.k IS NULL
       UNION ALL
       SELECT 'landing_orders->customer',
              CAST(count(*) AS BIGINT)
       FROM (SELECT custkey AS k FROM landing) c
       LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p
           ON c.k = p.k WHERE p.k IS NULL
       UNION ALL
       SELECT 'events->customer', CAST(count(*) AS BIGINT)
       FROM (SELECT user_id AS k FROM events) c
       LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p
           ON c.k = p.k WHERE p.k IS NULL""",
)
def dq_referential(spark, sf_dir):
    """Referential-integrity audit
    (operators/dataquality.referential_orphans): orphan counts for
    three FK relations — the clean lineitem->orders (0), the dirty
    landing feed's custkey (NULLed + out-of-range keys surface
    here), and events->customer (0). Key-only anti-joins, parent
    side deduplicated."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    ev = load(spark, sf_dir, "events")
    return DQ.referential_orphans([
        ("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
        ("landing_orders->customer",
         landing_orders(spark, sf_dir), "custkey", c, "c_custkey"),
        ("events->customer", ev, "user_id", c, "c_custkey"),
    ])


# ------------------------------------------------ PSI drift
def _psi_sql() -> str:
    """The PSI oracle on the round-10 LIBM-FREE discipline: every
    compared column is an exact HUGEINT — shares via the half-up
    integer ratio, ln via intlog's pure-integer series, the
    contribution via one quantized integer product. Generated from
    the SAME intlog spellings the Spark plan uses, so neither the
    algorithm nor a libm build can make the engines disagree."""
    from ..operators.intlog import (
        contrib_fp6_sql, fp6_ratio_sql, ln14_ctes, sdiv10_ctes,
    )

    pa_num = "(CAST(n_a AS HUGEINT) * 1000000 + CAST(ta AS HUGEINT))"
    pb_num = "(CAST(n_b AS HUGEINT) * 1000000 + CAST(tb AS HUGEINT))"
    ln_frag, ln_rel = ln14_ctes(
        "base", "(_pa_num * _tb)", "(_pb_num * _ta)", "_lr14",
        k_exp=24)
    sd_frag, sd_rel = sdiv10_ctes(
        ln_rel, "(_pa_num * _tb - _pb_num * _ta)",
        "(_ta * _tb * CAST(1000000 AS HUGEINT))", "_d10")
    return f"""WITH a AS (SELECT least(greatest(CAST(floor((value - 0.0)
                      / 50.0) AS INT), 0), 9) AS bucket,
                      count(*) AS n_a
              FROM events
              WHERE value IS NOT NULL AND day(ts) <= 15
              GROUP BY 1),
       b AS (SELECT least(greatest(CAST(floor((value - 0.0)
                      / 50.0) AS INT), 0), 9) AS bucket,
                      count(*) AS n_b
              FROM events
              WHERE value IS NOT NULL AND day(ts) > 15
              GROUP BY 1),
       g AS (SELECT CAST(range AS INT) AS bucket FROM range(10)),
       j AS (SELECT g.bucket,
                    coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
             FROM g LEFT JOIN a ON g.bucket = a.bucket
                    LEFT JOIN b ON g.bucket = b.bucket),
       t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM j),
       base AS (SELECT bucket, {pa_num} AS _pa_num,
                       {pb_num} AS _pb_num,
                       CAST(ta AS HUGEINT) AS _ta,
                       CAST(tb AS HUGEINT) AS _tb
                FROM j, t),
       {ln_frag},
       {sd_frag},
       per AS (SELECT bucket,
           {fp6_ratio_sql("_pa_num",
                          "(_ta * CAST(1000000 AS HUGEINT))",
                          "duckdb")} AS share_a_fp,
           {fp6_ratio_sql("_pb_num",
                          "(_tb * CAST(1000000 AS HUGEINT))",
                          "duckdb")} AS share_b_fp,
           {contrib_fp6_sql("_d10", "_lr14", "duckdb")} AS contrib_fp
           FROM {sd_rel})
       SELECT bucket, share_a_fp, share_b_fp, contrib_fp,
              CAST((SELECT sum(contrib_fp) FROM per) AS BIGINT)
                  AS psi_fp
       FROM per"""


_PSI_SQL = _psi_sql()


@_q("dq_psi_drift", _PSI_SQL)
def dq_psi_drift(spark, sf_dir):
    """Population Stability Index drift report
    (operators/dataquality.psi_drift): event-value distribution of
    the first half of the month vs the second, 10 fixed-width
    buckets on [0, 500). Per-bucket shares and PSI contributions in
    fixed point, with the integer-summed headline PSI on every row —
    where the drift lives, not just that it exists. One aggregate per
    snapshot, then broadcast-sized joins."""
    ev = load(spark, sf_dir, "events")
    a = ev.filter(F.dayofmonth("ts") <= 15)
    b = ev.filter(F.dayofmonth("ts") > 15)
    return DQ.psi_drift(a, b, "value", 0.0, 500.0, 10)


# ------------------------------------------------ driver-env probes
#
# Three rounds of increasingly rigorous local PSI/IV fixes passed in
# this container while the driver's gate stayed red (VERDICT r8-r10);
# round 11 localized the divergence to HUGEINT fetch rendering and
# fixed it (CAST ... AS BIGINT above). These probes stay registered —
# and in the driver-sample PRIORITY window — so if any future red row
# reappears, the failing LAYER names itself in CORRECTNESS_r{N}.json:
#   dq_psi_buckets   red => upstream day(ts)/float-bucket/parquet read
#   dq_intlog_probe  red => integer ln ladder in the driver's DuckDB
#   dq_fp6_probe     red => fixed-point quantizers / signed division
#   dq_psi_drift     red (others green) => report assembly only
# Each is a sub-second scan (buckets) or a literal-driven ladder with
# no table input at all.

_LN_PROBE = [
    # (name, num, den): fixed integer fractions spanning the PSI/IV
    # operating envelope — exponent extremes (+-24 with the k_exp=24
    # chain), mantissa corners, near-1 ratios, and 29-30 digit
    # operands that exercise HUGEINT *, %, // near the 38-digit cap.
    ("unit", 1, 1),
    ("ratio_2", 2, 1),
    ("ratio_half", 1, 2),
    ("e_hi_24", 1 << 24, 1),
    ("e_lo_24", 1, 1 << 24),
    ("near1_up", 10**6 + 1, 10**6),
    ("near1_dn", 10**6 - 1, 10**6),
    ("third", 1, 3),
    ("two_thirds", 2, 3),
    ("mant_mid", 3, 2),
    ("mant_hi", (1 << 24) - 1, 1 << 23),
    ("psi_like", 632097 * 10**22 + 123456789,
     618000 * 10**22 + 987654321),
    ("woe_like", 496 * 10**6 + 4960, 964 * 10**6 + 9640),
    ("big_close", 10**29 + 7, 10**29 - 63),
    ("big_pow2", 3 * (1 << 50), 1 << 49),
    ("huge_ops", 14 * 10**28 + 3, 9 * 10**28 + 1),
]

_FP6_PROBE = [
    # (name, dnum, dden, ln14, pnum, pden): signed scale-1e10 ratio
    # inputs, a fixed scale-1e14 log, and a positive ratio — driving
    # sdiv10, contrib_fp6 (incl. exact half-up ties on both signs),
    # and fp6_ratio through the same spellings PSI/IV use.
    ("zero", 0, 10**12, 0, 1, 2),
    ("tie_ratio", 1, 10**10, 0, 1, 2 * 10**6),
    ("tie_contrib", 1, 2, 10**8, 3, 4),
    ("neg_tie", -1, 2, 10**8, 1, 10**6),
    ("neg", -3, 7, -69314718055994, 5, 8),
    ("pos_small", 123456, 10**10, 69314718055994, 1, 3),
    ("big_ops", 10**28 + 7, 10**29 + 11, 1386294361119890,
     10**28 + 7, 3 * 10**28),
    ("neg_big", -(10**28), 10**29, -2772588722239780,
     999999, 10**6),
]


def _psi_buckets_sql() -> str:
    return """WITH a AS (SELECT least(greatest(CAST(floor((value - 0.0)
                      / 50.0) AS INT), 0), 9) AS bucket,
                      count(*) AS n_a
              FROM events
              WHERE value IS NOT NULL AND day(ts) <= 15
              GROUP BY 1),
       b AS (SELECT least(greatest(CAST(floor((value - 0.0)
                      / 50.0) AS INT), 0), 9) AS bucket,
                      count(*) AS n_b
              FROM events
              WHERE value IS NOT NULL AND day(ts) > 15
              GROUP BY 1),
       g AS (SELECT CAST(range AS INT) AS bucket FROM range(10))
       SELECT g.bucket,
              CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
              CAST(coalesce(n_b, 0) AS BIGINT) AS n_b
       FROM g LEFT JOIN a ON g.bucket = a.bucket
              LEFT JOIN b ON g.bucket = b.bucket"""


@_q("dq_psi_buckets", _psi_buckets_sql())
def dq_psi_buckets(spark, sf_dir):
    """PSI upstream probe: the exact per-bucket counts feeding
    dq_psi_drift — same day(ts) split, same float bucket expression,
    no log/fixed-point downstream. Integer counts only, so a red
    driver row here indicts the scan/bucket layer, not arithmetic."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())

    def counts(df, tag):
        return df.groupBy(
            DQ.psi_bucket("value", 0.0, 500.0, 10).alias("bucket")
        ).agg(F.count(F.lit(1)).alias(f"n_{tag}"))

    a = counts(ev.filter(F.dayofmonth("ts") <= 15), "a")
    b = counts(ev.filter(F.dayofmonth("ts") > 15), "b")
    g = spark.range(10).select(
        F.col("id").cast("int").alias("bucket"))
    return (
        g.join(F.broadcast(a), "bucket", "left")
        .join(F.broadcast(b), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
            F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
        )
    )


def _intlog_probe_sql() -> str:
    from ..operators.intlog import fp6_from_ln14_sql, ln14_ctes

    vals = ",\n              ".join(
        f"('{n}', CAST('{a}' AS HUGEINT), CAST('{b}' AS HUGEINT))"
        for n, a, b in _LN_PROBE
    )
    frag, rel = ln14_ctes("src", "num", "den", "_ln14", k_exp=24)
    return f"""WITH src(probe, num, den) AS (VALUES
              {vals}),
       {frag}
       SELECT probe, CAST(_ln14 AS BIGINT) AS ln14,
              {fp6_from_ln14_sql("_ln14", "duckdb")} AS ln_fp6
       FROM {rel}"""


@_q("dq_intlog_probe", _intlog_probe_sql())
def dq_intlog_probe(spark, sf_dir):
    """Integer-ln probe: the intlog ladder (exactly as PSI/IV run it,
    k_exp=24) over fixed literal fractions — no table input, so a red
    driver row here means the driver's DuckDB disagrees on pure
    HUGEINT arithmetic, independent of any data or timestamp."""
    from ..operators.intlog import (
        apply_steps, fp6_from_ln14_sql, ln14_steps,
    )

    rows = [(n, str(a), str(b)) for n, a, b in _LN_PROBE]
    df = tiny_df(spark, rows, "probe string, num_s string, den_s string")
    base = df.select(
        "probe",
        F.col("num_s").cast("decimal(38,0)").alias("_num"),
        F.col("den_s").cast("decimal(38,0)").alias("_den"),
    )
    steps = [
        *ln14_steps("_num", "_den", "_ln14", "spark", k_exp=24),
        ("ln14", "CAST(_ln14 AS BIGINT)"),
        ("ln_fp6", fp6_from_ln14_sql("_ln14", "spark")),
    ]
    return apply_steps(base, steps).select("probe", "ln14", "ln_fp6")


def _fp6_probe_sql() -> str:
    from ..operators.intlog import (
        contrib_fp6_sql, fp6_ratio_sql, sdiv10_ctes,
    )

    vals = ",\n              ".join(
        f"('{n}', CAST('{dn}' AS HUGEINT), CAST('{dd}' AS HUGEINT),"
        f" CAST('{l}' AS HUGEINT), CAST('{pn}' AS HUGEINT),"
        f" CAST('{pd}' AS HUGEINT))"
        for n, dn, dd, l, pn, pd in _FP6_PROBE
    )
    frag, rel = sdiv10_ctes("src", "dnum", "dden", "_d10")
    return f"""WITH src(probe, dnum, dden, ln14, pnum, pden) AS (VALUES
              {vals}),
       {frag}
       SELECT probe, CAST(_d10 AS BIGINT) AS d10,
              {contrib_fp6_sql("_d10", "ln14", "duckdb")}
                  AS contrib_fp,
              {fp6_ratio_sql("pnum", "pden", "duckdb")} AS ratio_fp
       FROM {rel}"""


@_q("dq_fp6_probe", _fp6_probe_sql())
def dq_fp6_probe(spark, sf_dir):
    """Fixed-point quantizer probe: sdiv10 signed division, the
    contrib product quantizer (with exact half-up ties on both
    signs), and the fp6 ratio — over literals, through the same
    spellings PSI/IV compile to. Localizes quantizer-layer
    divergence away from the ln ladder and the data scan."""
    from ..operators.intlog import (
        apply_steps, contrib_fp6_sql, fp6_ratio_sql, sdiv10_steps,
    )

    rows = [
        (n, str(dn), str(dd), str(l), str(pn), str(pd))
        for n, dn, dd, l, pn, pd in _FP6_PROBE
    ]
    df = tiny_df(
        spark, rows,
        "probe string, dnum_s string, dden_s string, ln14_s string,"
        " pnum_s string, pden_s string",
    )
    base = df.select(
        "probe",
        F.col("dnum_s").cast("decimal(38,0)").alias("_dnum"),
        F.col("dden_s").cast("decimal(38,0)").alias("_dden"),
        F.col("ln14_s").cast("decimal(38,0)").alias("_ln14"),
        F.col("pnum_s").cast("decimal(38,0)").alias("_pnum"),
        F.col("pden_s").cast("decimal(38,0)").alias("_pden"),
    )
    steps = [
        *sdiv10_steps("_dnum", "_dden", "_d10", "spark"),
        ("d10", "CAST(_d10 AS BIGINT)"),
        ("contrib_fp", contrib_fp6_sql("_d10", "_ln14", "spark")),
        ("ratio_fp", fp6_ratio_sql("_pnum", "_pden", "spark")),
    ]
    return apply_steps(base, steps).select(
        "probe", "d10", "contrib_fp", "ratio_fp")


# ------------------------------------------------ join-key skew audit
@_q(
    "dq_skew_report",
    """WITH f AS (SELECT CASE WHEN user_id % 10 < 7 THEN '0'
                    ELSE CAST(user_id AS VARCHAR) END AS key
              FROM events),
       c AS (SELECT key, count(*) AS cnt FROM f GROUP BY key),
       t AS (SELECT sum(cnt) AS n_rows, count(*) AS n_keys FROM c),
       top AS (SELECT key, cnt FROM c
               ORDER BY cnt DESC, key LIMIT 10)
       SELECT key, CAST(cnt AS BIGINT) AS cnt,
              CAST(n_rows AS BIGINT) AS n_rows,
              CAST(n_keys AS BIGINT) AS n_keys,
              CAST(floor(1000000 * cnt / n_rows) AS BIGINT)
                  AS share_fp,
              CAST(floor(1000000 * cnt * n_keys / n_rows) AS BIGINT)
                  AS x_avg_fp,
              CAST(ceil(cnt / 2000.0) AS BIGINT) AS salt_factor
       FROM top, t
       ORDER BY cnt DESC, key""",
)
def dq_skew_report(spark, sf_dir):
    """Join-key skew audit (operators/dataquality.skew_report): the
    report an operator reads BEFORE shipping a big join — hottest
    keys, their share of all rows, their multiple of the mean
    per-key count, and the salt factor that brings each under the
    target rows-per-task. The key is the j8-style head-category
    remap of events.user_id (70% of rows collapse onto one hot key),
    so the report demonstrably finds real skew. Costs one hash-agg
    shuffle + top-k — strictly cheaper than the join it protects."""
    ev = load(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 10 < 7, F.lit("0"))
        .otherwise(F.col("user_id").cast("string")).alias("k")
    )
    return DQ.skew_report(ev, "k", top_k=10,
                          target_rows_per_task=2000)


# ------------------------------------------------ join-size estimate
def _join_est_sql() -> str:
    from ..operators.hashing import md5_long_sql
    from ..operators.sketches import HASH_SPACE

    k = 256
    ha = md5_long_sql("CAST(o_custkey AS VARCHAR)")
    hb = md5_long_sql("CAST(user_id AS VARCHAR)")
    est = (f"CASE WHEN cnt < {k} THEN cnt ELSE CAST(({k - 1} * "
           f"CAST({HASH_SPACE} AS HUGEINT)) // hk AS BIGINT) END")
    return f"""WITH ska AS (
           SELECT h, row_number() OVER (ORDER BY h) AS rk
           FROM (SELECT DISTINCT {ha} AS h FROM orders)
           QUALIFY rk <= {k}),
       skb AS (
           SELECT h, row_number() OVER (ORDER BY h) AS rk
           FROM (SELECT DISTINCT {hb} AS h FROM events)
           QUALIFY rk <= {k}),
       sku AS (
           SELECT h, row_number() OVER (ORDER BY h) AS rk
           FROM (SELECT h FROM ska UNION SELECT h FROM skb)
           QUALIFY rk <= {k}),
       sa AS (SELECT count(*) AS cnt,
                     max(CASE WHEN rk = {k} THEN h END) AS hk
              FROM ska),
       sb AS (SELECT count(*) AS cnt,
                     max(CASE WHEN rk = {k} THEN h END) AS hk
              FROM skb),
       su AS (SELECT count(*) AS cnt,
                     max(CASE WHEN rk = {k} THEN h END) AS hk
              FROM sku),
       ii AS (SELECT count(*) AS inter_in_u FROM sku
              WHERE h IN (SELECT h FROM ska)
                AND h IN (SELECT h FROM skb)),
       nn AS (SELECT
                (SELECT count(o_custkey) FROM orders) AS n_a,
                (SELECT count(user_id) FROM events) AS n_b),
       est AS (SELECT n_a, n_b,
           (SELECT {est} FROM sa) AS d_a_est,
           (SELECT {est} FROM sb) AS d_b_est,
           (SELECT {est} FROM su) AS d_union_est,
           (SELECT inter_in_u FROM ii) AS inter_in_u,
           (SELECT greatest(cnt, 1) FROM su) AS u_cnt
           FROM nn),
       e2 AS (SELECT n_a, n_b, d_a_est, d_b_est, d_union_est,
           CAST((CAST(inter_in_u AS HUGEINT) * d_union_est) // u_cnt
               AS BIGINT) AS inter_keys_est
           FROM est)
       SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
              CAST(d_a_est AS BIGINT) AS d_a_est,
              CAST(d_b_est AS BIGINT) AS d_b_est,
              CAST(d_union_est AS BIGINT) AS d_union_est,
              inter_keys_est,
              CAST((CAST(inter_keys_est AS HUGEINT) * n_a * n_b)
                   // greatest(CAST(d_a_est AS HUGEINT) * d_b_est, 1)
                   AS BIGINT) AS est_join_rows
       FROM e2"""


@_q("dq_join_estimate", _join_est_sql())
def dq_join_estimate(spark, sf_dir):
    """Join-cardinality estimate (operators/sketches.
    kmv_join_estimate, Beyer et al. SIGMOD'07): how big is
    orders ⋈ events on the customer key — answered from two
    256-hash KMV sketches without shuffling either table. Each side
    pays a distinct + TakeOrdered top-k; union/intersection/scaling
    run on two k-element arrays in exact integer arithmetic, so the
    estimate itself hash-replays in the oracle. The planner tool
    that pairs with dq_skew_report: size the join before you ship
    it."""
    from ..operators.sketches import kmv_join_estimate

    o = load(spark, sf_dir, "orders")
    ev = load(spark, sf_dir, "events")
    return kmv_join_estimate(o, "o_custkey", ev, "user_id", k=256)


# ------------------------------------------------ WOE / IV screening
def _iv_sql() -> str:
    """IV oracle on the same round-10 libm-free intlog discipline as
    the PSI twin — WOE and the IV contribution are exact integers on
    both engines."""
    from ..operators.intlog import (
        contrib_fp6_sql, fp6_from_ln14_sql, ln14_ctes, sdiv10_ctes,
    )

    ps_num = "(CAST(n_pos AS HUGEINT) * 1000000 + CAST(tp AS HUGEINT))"
    ns_num = "(CAST(n_neg AS HUGEINT) * 1000000 + CAST(tn AS HUGEINT))"
    ln_frag, ln_rel = ln14_ctes(
        "base", "(_ps_num * _tn)", "(_ns_num * _tp)", "_woe14",
        k_exp=24)
    sd_frag, sd_rel = sdiv10_ctes(
        ln_rel, "(_ps_num * _tn - _ns_num * _tp)",
        "(_tp * _tn * CAST(1000000 AS HUGEINT))", "_d10")
    return f"""WITH c AS (SELECT
           least(greatest(CAST(floor((o_totalprice - 0.0) / 50000.0)
               AS INT), 0), 9) AS bucket,
           sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
               AS n_pos,
           sum(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
               AS n_neg
           FROM orders WHERE o_totalprice IS NOT NULL
           GROUP BY 1),
       g AS (SELECT CAST(range AS INT) AS bucket FROM range(10)),
       j AS (SELECT g.bucket, coalesce(n_pos, 0) AS n_pos,
                    coalesce(n_neg, 0) AS n_neg
             FROM g LEFT JOIN c ON g.bucket = c.bucket),
       t AS (SELECT sum(n_pos) AS tp, sum(n_neg) AS tn FROM j),
       base AS (SELECT bucket,
                       CAST(n_pos AS BIGINT) AS n_pos,
                       CAST(n_neg AS BIGINT) AS n_neg,
                       {ps_num} AS _ps_num, {ns_num} AS _ns_num,
                       CAST(tp AS HUGEINT) AS _tp,
                       CAST(tn AS HUGEINT) AS _tn
                FROM j, t),
       {ln_frag},
       {sd_frag},
       per AS (SELECT bucket, n_pos, n_neg,
           {fp6_from_ln14_sql("_woe14", "duckdb")} AS woe_fp,
           {contrib_fp6_sql("_d10", "_woe14", "duckdb")}
               AS iv_contrib_fp
           FROM {sd_rel})
       SELECT bucket, n_pos, n_neg, woe_fp, iv_contrib_fp,
              CAST((SELECT sum(iv_contrib_fp) FROM per) AS BIGINT)
                  AS iv_fp
       FROM per"""


@_q("ml_information_value", _iv_sql())
def ml_information_value(spark, sf_dir):
    """Weight-of-Evidence / Information Value screening
    (operators/dataquality.information_value): does order value
    predict fulfilment ('F' status)? Ten 50k-wide price buckets,
    per-bucket WOE and IV contribution, headline IV as the integer
    sum of fixed-point contributions — the supervised mirror of the
    PSI report, same one-aggregate discipline."""
    o = load(spark, sf_dir, "orders")
    return DQ.information_value(
        o, "o_totalprice", F.col("o_orderstatus") == "F",
        0.0, 500_000.0, 10,
    )


# ------------------------------------------------ per-slice trend
@_q(
    "dq_expectations_by_day",
    f"""WITH landing AS (
           SELECT day(o_orderdate) AS d,
                  CASE WHEN o_orderkey % 97 = 0 THEN NULL
                       ELSE o_custkey END AS custkey,
                  CASE WHEN o_orderkey % 131 = 0 THEN -o_totalprice
                       ELSE o_totalprice END AS price
           FROM orders),
       m AS (SELECT d,
           CAST(floor(1000000 * count(custkey) / count(*)) AS BIGINT)
               AS completeness_custkey,
           CAST(floor(1000000 * count(CASE WHEN price >= 0 THEN 1
                    END) / count(price)) AS BIGINT) AS nonneg_price
           FROM landing GROUP BY d)
       SELECT d AS slice, "constraint", metric_fp,
              metric_fp = 1000000 AS passed
       FROM (
           SELECT d, 'completeness_custkey' AS "constraint",
                  completeness_custkey AS metric_fp FROM m
           UNION ALL SELECT d, 'nonneg_price', nonneg_price FROM m
       )""",
)
def dq_expectations_by_day(spark, sf_dir):
    """The constraint suite per ORDER DAY
    (operators/dataquality.expectation_trend): which day the landing
    feed broke, not just that it broke — the triage view an on-call
    engineer actually opens. Same fused conditional aggregates as
    the one-shot suite, grouped by day: one shuffle on the day key."""
    o = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    landing = o.select(
        F.dayofmonth("o_orderdate").alias("d"),
        F.when(k % 97 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("o_custkey")).alias("custkey"),
        F.when(k % 131 == 0, -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice")).alias("price"),
    )
    return DQ.expectation_trend(landing, "d", [
        ("completeness_custkey", "completeness", "custkey"),
        ("nonneg_price", "non_negative", "price"),
    ])


@_q(
    "dq_freshness",
    """WITH per AS (SELECT event_type,
                CAST(count(*) AS BIGINT) AS n,
                max(epoch_us(ts)) AS max_ts_us
         FROM events GROUP BY event_type),
       g AS (SELECT max(max_ts_us) AS gm FROM per)
       SELECT event_type, n,
              CAST(floor((gm - max_ts_us) / 1000000) AS BIGINT)
                  AS lag_s,
              floor((gm - max_ts_us) / 1000000) > 600 AS stale
       FROM per, g""",
)
def dq_freshness(spark, sf_dir):
    """Per-slice feed-freshness audit over event types
    (operators/dataquality.freshness): row count, whole-second
    staleness lag behind the freshest slice, and a 10-minute gate — a feed that stopped
    landing trips this before any distribution test notices. One
    hash aggregate + a 1-row broadcast."""
    ev = load(spark, sf_dir, "events")
    return DQ.freshness(ev, "event_type", "ts", max_lag_s=600)
