"""The full curation pipeline as one oracle-verified query.

Synthesizes the reference's dirty raw-jobs table from ``orders``
columns (identically in Spark and SQL), then runs the ENTIRE
transform stage (SURVEY.md §3.2: casts → normalize → title clean →
type inference → fills → skill normalize → keep-first dedup → salary
band → derived cols) through ``plans.pipeline.curate``. The oracle
replays the same chain in DuckDB SQL — one end-to-end value-parity
check over the composed pipeline, on top of the per-operator checks.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import text as _text
from ..plans import pipeline
from ..plans.schemas import load

QUERIES = {}
ORACLES = {}

# Noise alternation shared with functions/text.py so the oracle can't
# drift from the implementation (VERDICT r1 §wrong-1).
_NOISE_RE = "|".join(_text.TITLE_NOISE_WORDS)

_TITLE_CLEAN_SQL = f"""trim(regexp_replace(
  regexp_replace(
    regexp_replace(
      regexp_replace(
        (string_split_regex(
           regexp_replace(lower(job_title),
             '\\(.*?\\)|\\[.*?\\]|\\{{.*?\\}}', ' ', 'g'),
           '[-#|/]'))[1],
        '[^a-z ]', ' ', 'g'),
      '\\b[ivx]+\\b', ' ', 'g'),
    '\\b({_NOISE_RE})\\b',
    ' ', 'g'),
  '\\s+', ' ', 'g'))"""

_TYPE_INFER_SQL = """coalesce(nullif(concat_ws(', ',
  CASE WHEN regexp_matches(type_src, '(?i)\\bcontract(or)?\\b') THEN 'Contract' END,
  CASE WHEN regexp_matches(type_src, '(?i)\\bfreelanc(e|er|ing)\\b') THEN 'Freelance' END,
  CASE WHEN regexp_matches(type_src, '(?i)\\bfull[\\s_-]?time\\b|\\bft\\b') THEN 'Full-Time' END,
  CASE WHEN regexp_matches(type_src, '(?i)\\bintern(ship)?\\b') THEN 'Internship' END,
  CASE WHEN regexp_matches(type_src, '(?i)\\bpart[\\s_-]?time\\b|\\bpt\\b') THEN 'Part-Time' END,
  CASE WHEN regexp_matches(type_src, '(?i)\\btemp(orary)?\\b') THEN 'Temporary' END), ''),
  'Not specified')"""

_SKILL_NORM_SQL = """CASE WHEN {c} IS NULL OR trim({c}) = '' THEN 'not listed'
  ELSE coalesce(nullif(array_to_string(
    list_transform(list_filter(string_split({c}, ','), x -> trim(x) <> ''),
                   x -> lower(trim(x))), ', '), ''), 'not listed') END"""

_SOFT_PREFILL = ("(CASE WHEN soft_skills IS NULL OR trim(soft_skills) = '' "
                 "THEN 'communication, teamwork' ELSE soft_skills END)")
_TECH_NORM = _SKILL_NORM_SQL.format(c="technical_skills")
_SOFT_NORM = _SKILL_NORM_SQL.format(c=_SOFT_PREFILL)

_PIPELINE_SQL = f"""
WITH raw AS (
  SELECT o_orderkey AS rid,
         CASE WHEN o_orderkey % 7 = 0 THEN '' ELSE o_orderstatus END AS company_name,
         concat(o_orderpriority, ' Engineer II - ', o_orderstatus, ' (Remote)') AS job_title,
         CASE o_orderkey % 4 WHEN 0 THEN 'full-time' WHEN 1 THEN 'part time intern'
              WHEN 2 THEN '' ELSE 'contractor temp' END AS job_type,
         CASE WHEN o_orderkey % 2 = 0 THEN concat(o_orderstatus, ', ', o_orderpriority)
              ELSE o_orderstatus END AS job_location,
         'usa' AS country,
         CASE o_orderkey % 3 WHEN 0 THEN concat('$', CAST(o_totalprice AS VARCHAR))
              WHEN 1 THEN CAST(o_totalprice / 10000 AS VARCHAR)
              ELSE 'N/A' END AS salary,
         CASE WHEN o_orderkey % 11 = 0 THEN 'not a date'
              ELSE CAST(o_orderdate AS VARCHAR) END AS job_posted_date,
         CASE WHEN o_orderkey % 10 < 8 THEN 'Indeed' ELSE 'Zip Recruiter' END AS job_posted_site,
         CASE WHEN o_orderkey % 5 = 0 THEN '' ELSE 'Python, SQL , spark,,AWS' END AS technical_skills,
         '' AS soft_skills
  FROM orders),
typed AS (
  SELECT rid,
         lower(trim(company_name)) AS company_name,
         lower(trim(job_title)) AS job_title,
         job_type,
         lower(trim(job_location)) AS job_location,
         lower(trim(country)) AS country,
         lower(trim(job_posted_site)) AS job_posted_site,
         TRY_CAST(job_posted_date AS TIMESTAMP) AS job_posted_date,
         CAST(floor(CASE WHEN num <= 1000 THEN num * 2000 ELSE num END) AS INTEGER) AS salary,
         technical_skills, soft_skills
  FROM (SELECT *, TRY_CAST(regexp_replace(salary, '[$,]', '', 'g') AS DOUBLE) AS num
        FROM raw) r),
cleaned AS (
  SELECT *,
         {_TITLE_CLEAN_SQL} AS cleaned_job_title,
         concat_ws(' ', job_type, job_title) AS type_src
  FROM typed),
inferred AS (
  SELECT rid, company_name, job_title, cleaned_job_title, job_location,
         country, job_posted_site, job_posted_date, salary,
         {_TYPE_INFER_SQL} AS job_type,
         technical_skills, soft_skills
  FROM cleaned),
filled AS (
  SELECT rid, job_title, cleaned_job_title, job_location, job_posted_site,
         job_posted_date, salary, job_type,
         CASE WHEN company_name IS NULL OR trim(company_name) = ''
              THEN 'Unknown' ELSE company_name END AS company_name,
         CASE WHEN country IS NULL OR trim(country) = ''
              THEN 'United States' ELSE country END AS country,
         {_TECH_NORM} AS technical_skills,
         {_SOFT_NORM} AS soft_skills
  FROM inferred),
deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY company_name, job_title, job_location, job_posted_site
      ORDER BY rid) AS rn
    FROM filled) t
  WHERE rn = 1)
SELECT rid, company_name, cleaned_job_title, job_type, salary,
       technical_skills, soft_skills,
       CAST(year(job_posted_date) AS BIGINT) AS job_posted_year,
       CASE WHEN contains(job_location, ',')
            THEN trim(string_split(job_location, ',')[1])
            ELSE job_location END AS city
FROM deduped
WHERE salary BETWEEN 20000 AND 400000
"""


def pipeline_curate(spark, sf_dir):
    """Full transform-stage pipeline over a synthesized dirty raw-jobs
    table (src/transform.py:99-150 end-to-end; see module docstring)."""
    o = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    raw = o.select(
        k.alias("rid"),
        F.when(k % 7 == 0, F.lit("")).otherwise(F.col("o_orderstatus")).alias("company_name"),
        F.concat(F.col("o_orderpriority"), F.lit(" Engineer II - "),
                 F.col("o_orderstatus"), F.lit(" (Remote)")).alias("job_title"),
        F.when(k % 4 == 0, F.lit("full-time"))
         .when(k % 4 == 1, F.lit("part time intern"))
         .when(k % 4 == 2, F.lit(""))
         .otherwise(F.lit("contractor temp")).alias("job_type"),
        F.when(k % 2 == 0,
               F.concat(F.col("o_orderstatus"), F.lit(", "), F.col("o_orderpriority")))
         .otherwise(F.col("o_orderstatus")).alias("job_location"),
        F.lit("usa").alias("country"),
        F.when(k % 3 == 0, F.concat(F.lit("$"), F.col("o_totalprice").cast("string")))
         .when(k % 3 == 1, (F.col("o_totalprice") / 10000).cast("string"))
         .otherwise(F.lit("N/A")).alias("salary"),
        F.when(k % 11 == 0, F.lit("not a date"))
         .otherwise(F.col("o_orderdate").cast("string")).alias("job_posted_date"),
        F.when(k % 10 < 8, F.lit("Indeed"))
         .otherwise(F.lit("Zip Recruiter")).alias("job_posted_site"),
        F.when(k % 5 == 0, F.lit(""))
         .otherwise(F.lit("Python, SQL , spark,,AWS")).alias("technical_skills"),
        F.lit("").alias("soft_skills"),
    )
    curated = pipeline.curate(raw, order=[F.asc("rid")], title_case=False)
    return curated.select(
        "rid", "company_name", "cleaned_job_title", "job_type", "salary",
        "technical_skills", "soft_skills",
        F.col("job_posted_year").cast("long").alias("job_posted_year"),
        "city",
    )


QUERIES["pipeline_curate"] = pipeline_curate
ORACLES["pipeline_curate"] = _PIPELINE_SQL


# ------------------------------------------------- extract stage (P1+P2+U1+F4)
_EXTRACT_SQL = """
WITH a AS (
  SELECT c_name AS company_name,
         concat('Data Engineer - ', c_mktsegment) AS job_title,
         CAST(c_acctbal AS VARCHAR) AS salary,
         'kaggle' AS source
  FROM customer),
b AS (
  SELECT s_name AS company_name, 'Analyst' AS job_title,
         '' AS salary, '' AS source
  FROM supplier),
u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
SELECT company_name, job_title, source,
       CAST(floor(CASE WHEN num <= 1000 THEN num * 2000 ELSE num END)
            AS INTEGER) AS salary
FROM (SELECT *, TRY_CAST(regexp_replace(salary, '[$,]', '', 'g') AS DOUBLE)
             AS num
      FROM u) t
"""


def pipeline_extract(spark, sf_dir):
    """Extract stage end-to-end (src/data_extract.py:160-214): two
    heterogeneous 'sources' (different column names; one missing the
    salary/source columns entirely) are column-mapped (P1), conformed
    to the canonical 11-column schema (P2), unioned by name (U1), and
    salary-normalized (F4) — one lazy plan, no per-source loop."""
    from ..functions import normalize_salary
    from ..plans import pipeline as P
    from ..sources.normalize import normalize_columns

    c = load(spark, sf_dir, "customer").select(
        F.col("c_name").alias("employer"),
        F.concat(F.lit("Data Engineer - "), F.col("c_mktsegment")).alias("role"),
        F.col("c_acctbal").cast("string").alias("pay"),
        F.lit("kaggle").alias("origin"),
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("company"), F.lit("Analyst").alias("role")
    )
    a = normalize_columns(
        c, {"company_name": "employer", "job_title": "role",
            "salary": "pay", "source": "origin"}
    )
    b = normalize_columns(
        s, {"company_name": "company", "job_title": "role",
            "salary": "pay_missing", "source": "origin_missing"}
    )
    u = P.extract_normalize([a, b])
    return u.select(
        "company_name", "job_title", "source",
        normalize_salary("salary").alias("salary"),
    )


QUERIES["pipeline_extract"] = pipeline_extract
ORACLES["pipeline_extract"] = _EXTRACT_SQL


# --------------------------------------------- warehouse stage (stable ids)
_SEP = "chr(31)"
_WAREHOUSE_SQL = f"""
WITH base AS (
{_PIPELINE_SQL}
)
SELECT CAST(concat('0x', substring(md5(concat_ws({_SEP},
         company_name, cleaned_job_title, city, CAST(salary AS VARCHAR))),
       1, 15)) AS BIGINT) AS job_id,
       company_name, cleaned_job_title, salary
FROM base
"""


def pipeline_warehouse(spark, sf_dir):
    """Load stage: the curated frame plus the engine-portable surrogate
    job_id (md5 of the identifying columns — stable across re-runs AND
    across engines, proven by the oracle computing the same ids)."""
    from ..plans import pipeline as P

    curated = pipeline_curate(spark, sf_dir)
    w = P.to_warehouse(
        curated, id_cols=("company_name", "cleaned_job_title", "city", "salary")
    )
    return w.select("job_id", "company_name", "cleaned_job_title", "salary")


QUERIES["pipeline_warehouse"] = pipeline_warehouse
ORACLES["pipeline_warehouse"] = _WAREHOUSE_SQL


# ------------------------------------------ jobskills bridge (F6+J3+A12)
_BRIDGE_SQL = f"""
WITH base AS (
{_PIPELINE_SQL}
),
bridge AS (
  SELECT CAST(concat('0x', substring(md5(concat_ws(chr(31),
           company_name, cleaned_job_title, city, CAST(salary AS VARCHAR))),
         1, 15)) AS BIGINT) AS job_id,
         unnest(string_split_regex(technical_skills, ',\\s*')) AS technical_skill
  FROM base)
SELECT technical_skill, count(*) AS n_jobs,
       CAST(count(DISTINCT job_id) AS BIGINT) AS n_distinct_jobs
FROM bridge WHERE trim(technical_skill) <> ''
GROUP BY technical_skill
"""


def pipeline_jobskills_bridge(spark, sf_dir):
    """The PBIX jobskills entity end-to-end: curate → warehouse (stable
    ids) → explode the normalized skill list to one row per (job_id,
    skill) → per-skill job counts ('Top 10 Skills' semantics over REAL
    curated data, not a synthetic token column)."""
    from ..plans import pipeline as P

    curated = pipeline_curate(spark, sf_dir)
    w = P.to_warehouse(
        curated, id_cols=("company_name", "cleaned_job_title", "city", "salary")
    )
    bridge = P.jobskills_bridge(
        w.withColumnRenamed("cleaned_job_title", "job_title")
    )
    return bridge.groupBy("technical_skill").agg(
        F.count(F.lit(1)).alias("n_jobs"),
        F.countDistinct("job_id").alias("n_distinct_jobs"),
    )


QUERIES["pipeline_jobskills_bridge"] = pipeline_jobskills_bridge
ORACLES["pipeline_jobskills_bridge"] = _BRIDGE_SQL


_SOURCE_MIX_SQL = r"""
WITH s AS (SELECT source, count(*) AS n_docs,
                  sum(len(list_filter(string_split_regex(text, '\s+'),
                                      x -> x <> ''))) AS n_tokens
           FROM documents GROUP BY source),
     t AS (SELECT sum(pow(n_tokens, 0.7)) AS z FROM s)
SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(pow(n_tokens, 0.7) / z, 6) AS mix_weight,
       round(1000000 * (pow(n_tokens, 0.7) / z) / n_tokens, 6)
           AS expected_epochs
FROM s, t"""


def pipeline_source_mix(spark, sf_dir):
    """Temperature-based source mixing plan (the multilingual /
    multi-corpus sampling rule of Devlin et al. 2019 §multilingual and
    GPT-3 Table 2.2): per-source sampling weight proportional to
    n_tokens^0.7, plus the expected epochs each source sees under a
    fixed 1M-token budget — >1 means the source up-samples (repeats),
    <1 down-samples. The whole computation is one per-source aggregate
    (exact integer token counts partial-aggregated map-side) and a
    broadcast 1-row normalizer: nothing scales with corpus size except
    the first scan, so the plan is identical at 100 TB."""
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(
        F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    ).cast("long")
    s = docs.select("source", n_tok.alias("_t")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("_t").alias("n_tokens")
    )
    z = s.agg(F.sum(F.pow("n_tokens", 0.7)).alias("z"))
    w = F.pow("n_tokens", 0.7) / F.col("z")
    return s.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(w, 6).alias("mix_weight"),
        F.round(F.lit(1_000_000) * w / F.col("n_tokens"), 6).alias(
            "expected_epochs"
        ),
    )


QUERIES["pipeline_source_mix"] = pipeline_source_mix
ORACLES["pipeline_source_mix"] = _SOURCE_MIX_SQL
