"""Scalar-function inventory (SURVEY.md §2.8) bound to driver testdata.

Each F-series curation function runs over synthesized dirty inputs
built *inside the query* from testdata columns (identically on both
engines), so the DuckDB oracle checks the scalar semantics themselves:
regex dialect, null propagation, numeric edge rules.

Cross-engine notes baked into these oracles:
- DuckDB regexp_replace needs the 'g' flag (Spark is global by default);
- DuckDB has no initcap → title cleaner compared in lowercase form
  (Title Case itself is pinned by tests/test_functions.py);
- double→string casts are shortest-roundtrip in both engines, so
  parse(format(x)) == x and numeric results agree exactly;
- floor() before int casts (DuckDB rounds on double→int, Spark truncates).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import jobtype, salary, sentinels, text
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


# --------------------------------------------- F1/F14: normalize + concat
@_q(
    "f1_normalize_text",
    """SELECT lower(trim(concat(p_type, ' ', p_brand))) AS norm, count(*) AS cnt
       FROM part GROUP BY norm""",
)
def f1_normalize_text(spark, sf_dir):
    """F1 lower/strip over F14 concat — the transform's text-normalize
    pass (src/transform.py:107-111)."""
    p = load(spark, sf_dir, "part")
    return (
        p.select(
            text.normalize_text(
                text.concat_fields("p_type", "p_brand")
            ).alias("norm")
        )
        .groupBy("norm")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ------------------------------------------------- F2: clean_job_title
# One alternation shared with the Spark side (functions/text.py) so the
# oracle can't drift from the implementation (VERDICT r1 §wrong-1).
TITLE_NOISE_RE = "|".join(text.TITLE_NOISE_WORDS)

@_q(
    "f2_clean_title",
    f"""SELECT p_partkey,
              trim(regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      (string_split_regex(
                         regexp_replace(
                           lower(concat(p_name, ' (Remote) - ', p_brand)),
                           '\\(.*?\\)|\\[.*?\\]|\\{{.*?\\}}', ' ', 'g'),
                         '[-#|/]'))[1],
                      '[^a-z ]', ' ', 'g'),
                    '\\b[ivx]+\\b', ' ', 'g'),
                  '\\b({TITLE_NOISE_RE})\\b',
                  ' ', 'g'),
                '\\s+', ' ', 'g')) AS cleaned
       FROM part""",
)
def f2_clean_title(spark, sf_dir):
    """F2 — title-cleaning regex pipeline (src/transform.py:67-96) over
    a synthesized dirty title: '<p_name> (Remote) - <p_brand>' exercises
    bracket-drop, head-split, noise-word removal, and char stripping.
    Compared lowercase (DuckDB lacks initcap); Title Case pinned in
    pytest."""
    p = load(spark, sf_dir, "part")
    dirty = F.concat(F.col("p_name"), F.lit(" (Remote) - "), F.col("p_brand"))
    return p.select(
        "p_partkey",
        text.clean_job_title(dirty, title_case=False).alias("cleaned"),
    )


# -------------------------------------------------- F3: infer_job_type
_F3_LABELS = {  # label -> detection regex over document text
    "filter": r"\bfilter\b",
    "hash": r"\bhash\b",
    "join": r"\bjoin\b",
    "scan": r"\bscan\b",
    "sort": r"\bsort\b",
    "window": r"\bwindow\b",
}
_F3_CASES = ",\n".join(
    f"CASE WHEN regexp_matches(text, '{rx}') THEN '{label}' END"
    for label, rx in sorted(_F3_LABELS.items())
).replace("\\b", "\\b")

@_q(
    "f3_infer_multilabel",
    f"""SELECT label, count(*) AS cnt FROM (
          SELECT coalesce(nullif(concat_ws(', ',
            {_F3_CASES}), ''), 'none') AS label
          FROM documents) t
        GROUP BY label""",
)
def f3_infer_multilabel(spark, sf_dir):
    """F3 — multi-label regex inference, sorted ', '-joined with a
    default (src/transform.py:44-64), over document text: which
    operator keywords appear. Alphabetical label order on both sides
    (Spark: array_sort; SQL: hand-ordered concat_ws)."""
    d = load(spark, sf_dir, "documents")
    label = jobtype.infer_job_type(
        F.col("text"), patterns=_F3_LABELS, default="none"
    )
    return (
        d.select(label.alias("label"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ------------------------------------------------ F4/F8: salary normalize
@_q(
    "f4_normalize_salary",
    """SELECT p_partkey,
              CAST(floor(CASE WHEN num <= 1000 THEN num * 2000 ELSE num END)
                   AS INTEGER) AS salary
       FROM (
         SELECT p_partkey,
                TRY_CAST(regexp_replace(raw, '[$,]', '', 'g') AS DOUBLE) AS num
         FROM (
           SELECT p_partkey,
                  CASE p_partkey % 3
                    WHEN 0 THEN concat('$', CAST(p_retailprice AS VARCHAR))
                    WHEN 1 THEN CAST(p_retailprice / 100 AS VARCHAR)
                    ELSE 'N/A' END AS raw
           FROM part) r) n""",
)
def f4_normalize_salary(spark, sf_dir):
    """F4 — '$X' strip, hourly(<=1000)x2000 annualization, floor-to-int,
    unparseable→NULL (src/data_extract.py:205-212). Inputs synthesized
    three ways: '$<price>' (annual), '<price/100>' (hourly branch),
    'N/A' (coerce-to-null branch)."""
    p = load(spark, sf_dir, "part")
    raw = (
        F.when(F.col("p_partkey") % 3 == 0,
               F.concat(F.lit("$"), F.col("p_retailprice").cast("string")))
        .when(F.col("p_partkey") % 3 == 1,
              (F.col("p_retailprice") / 100).cast("string"))
        .otherwise(F.lit("N/A"))
    )
    return p.select("p_partkey", salary.normalize_salary(raw).alias("salary"))


# --------------------------------------------- F5: skill-list normalize
@_q(
    "f5_skill_list_norm",
    """SELECT doc_id,
              CASE WHEN text IS NULL OR trim(text) = '' THEN 'not listed'
                   ELSE coalesce(nullif(array_to_string(
                     list_transform(
                       list_filter(string_split(text, ' '),
                                   x -> trim(x) <> ''),
                       x -> lower(trim(x))), ', '), ''), 'not listed')
              END AS skills
       FROM documents""",
)
def f5_skill_list_norm(spark, sf_dir):
    """F5 — delimited-list normalization via higher-order array
    functions (split → filter empties → trim+lower → rejoin ', ';
    src/transform.py:128-134), with the 'not listed' sentinel."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.normalize_skill_list("text", sep=" ").alias("skills"),
    )


# -------------------------------------- F7/F9/F12: dates & the hierarchy
@_q(
    "f7_f12_date_hierarchy",
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
              CAST(month(o_orderdate) AS BIGINT) AS m,
              count(*) AS cnt,
              round(sum(o_totalprice), 2) AS total
       FROM orders GROUP BY y, m""",
)
def f7_f12_date_hierarchy(spark, sf_dir):
    """F7 timestamp handling + F9/F12 year/month hierarchy — the BI
    auto-date-hierarchy drill (Month/Day slicers), as a grouped
    rollup by (year, month)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("y"),
            F.month("o_orderdate").cast("long").alias("m"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


# ----------------------------------------------------- F10: city split
@_q(
    "f10_city_from_location",
    """SELECT city, count(*) AS cnt FROM (
         SELECT CASE WHEN contains(loc, ',')
                     THEN trim(string_split(loc, ',')[1])
                     ELSE loc END AS city
         FROM (SELECT CASE WHEN p_partkey % 2 = 0
                           THEN concat(p_brand, ', ', p_type)
                           ELSE p_brand END AS loc
               FROM part) l) c
       GROUP BY city""",
)
def f10_city_from_location(spark, sf_dir):
    """F10 — city = text before first comma, else whole string
    (src/transform.py:147-148); half the synthesized locations have a
    comma, half don't."""
    p = load(spark, sf_dir, "part")
    loc = F.when(
        F.col("p_partkey") % 2 == 0,
        F.concat(F.col("p_brand"), F.lit(", "), F.col("p_type")),
    ).otherwise(F.col("p_brand"))
    return (
        p.select(text.city_from_location(loc).alias("city"))
        .groupBy("city")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ------------------------------------------------- F8: numeric from text
@_q(
    "f8_parse_numeric_props",
    """SELECT event_type,
              round(avg(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1)
                             AS DOUBLE)), 4) AS avg_k
       FROM events GROUP BY event_type""",
)
def f8_parse_numeric_props(spark, sf_dir):
    """F8 — pd.to_numeric(errors='coerce') over a value extracted from
    a semi-structured string column (regex capture group + cast)."""
    ev = load(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("double")
    return ev.groupBy("event_type").agg(F.round(F.avg(k), 4).alias("avg_k"))


# --------------------------------------- F8 twin: VARIANT shredding
@_q(
    "f8_props_variant",
    """SELECT event_type,
              CAST(json_extract(props, '$.k')::BIGINT % 10 AS BIGINT)
                AS k_bucket,
              count(*) AS n,
              CAST(sum(json_extract(props, '$.k')::BIGINT) AS BIGINT)
                AS sum_k
       FROM events GROUP BY event_type, k_bucket""",
)
def f8_props_variant(spark, sf_dir):
    """F8 on the Spark 4 VARIANT path: ``parse_json`` shreds the
    semi-structured props column ONCE into a variant, and every field
    access is a typed ``variant_get`` — the open-schema design for
    event payloads at scale (one binary decode per row; adding a field
    later costs nothing, versus the regex twin f8_parse_numeric_props
    which re-scans the string per field and silently mis-parses nested
    shapes). Grouped ledger per (event_type, k%10) so the extraction
    feeds keys AND measures; DuckDB's JSON extraction is the oracle
    twin."""
    ev = load(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "long")
    return (
        ev.select("event_type", k.alias("_k"))
        .groupBy("event_type", (F.col("_k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_k").alias("sum_k"),
        )
    )


# ------------------------------------------------ F13: sentinel fills
@_q(
    "f13_sentinel_fill",
    """SELECT company_name, count(*) AS cnt FROM (
         SELECT CASE WHEN raw IS NULL OR trim(raw) = '' THEN 'Unknown'
                     ELSE raw END AS company_name
         FROM (SELECT nullif(event_type, 'error') AS raw FROM events) r) f
       GROUP BY company_name""",
)
def f13_sentinel_fill(spark, sf_dir):
    """F13 — NULL/empty → sentinel fill ('Unknown' for company_name;
    src/transform.py:121-125), with NULLs synthesized via nullif."""
    ev = load(spark, sf_dir, "events")
    raw = ev.select(
        F.nullif(F.col("event_type"), F.lit("error")).alias("company_name")
    )
    filled = sentinels.fill_sentinels(raw, {"company_name": "Unknown"})
    return filled.groupBy("company_name").agg(F.count(F.lit(1)).alias("cnt"))


# ------------------------------------------ P1: column-mapping projection
@_q(
    "p1_colmap_projection",
    """SELECT name, location, count(*) AS cnt FROM (
         SELECT s_name AS name, '' AS location FROM supplier) n
       GROUP BY name, location""",
)
def p1_colmap_projection(spark, sf_dir):
    """P1 — normalize(df, colmap): select renamed source columns,
    empty-string literal when the source column is absent
    (src/data_extract.py:166-200)."""
    from ..sources.normalize import normalize_columns

    s = load(spark, sf_dir, "supplier")
    out = normalize_columns(
        s, {"name": "s_name", "location": "job_location_missing"}
    )
    return out.groupBy("name", "location").agg(F.count(F.lit(1)).alias("cnt"))


# --------------------------------------------------- F11: time stamping
_F11_T = ("(CAST(concat('0x', substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))"
          " AS BIGINT) % 50400)")

@_q(
    "f11_stamp_times",
    f"""SELECT o_orderkey,
              make_timestamp(year(o_orderdate), month(o_orderdate),
                             day(o_orderdate),
                             9 + {_F11_T} // 3600,
                             ({_F11_T} // 60) % 60,
                             CAST({_F11_T} % 60 AS DOUBLE)) AS posted_ts
       FROM orders""",
)
def f11_stamp_times(spark, sf_dir):
    """F11 — stamp each row with its date plus a business-hours time
    (09:00-22:59). The reference draws random times at extract
    (src/data_extract.py:217-225); here the time is hash-derived from
    the row key, so it is reproducible across runs and engines."""
    from ..functions import dates

    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        dates.stamp_business_hours(
            F.col("o_orderdate"), F.col("o_orderkey")
        ).alias("posted_ts"),
    )
