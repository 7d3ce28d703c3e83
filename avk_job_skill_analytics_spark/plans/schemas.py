"""Explicit StructType schemas, and the parquet schema cache.

The reference infers schemas on every read (``src/transform.py:158``)
and re-checks column existence defensively. We declare them once
(SURVEY.md §1.3-1.4): raw job postings (``FINAL_COLS``,
``src/data_extract.py:160-164``), the curated fact table, the exploded
``jobskills`` bridge, the idempotency manifest, and the driver
testdata tables.

Parquet schema cache. A plain ``spark.read.parquet(path)`` infers the
schema by reading footers in a Spark job, on every read. :func:`load`
and :func:`parquet_schema` infer each input's schema once per file
version and read with ``spark.read.schema(cached)`` afterwards, which
launches no job. The cache contract:

- **Key**: the path's qualified Hadoop path, the session's
  parquet-inference settings (``_INFERENCE_CONFS``) and the
  ``(name, length, modificationTime)`` of every file the path resolves
  to (the file itself, or the files directly inside a directory),
  read through the Hadoop ``FileSystem`` (``streaming.fsio.IndexFS``)
  so ``file:``, ``hdfs:`` and ``s3a:`` paths take one code path.
  Rewriting a file, adding or removing one, or changing a setting is a
  miss, and a miss infers exactly as a plain read does.
- **Not cached**: a directory that holds a subdirectory (partitioned
  layouts, whose partition columns come from directory names) and a
  path that does not exist. Both are read exactly as before, so a
  missing path raises the same ``AnalysisException``.
- One entry per (path, settings); a new file version replaces it.
- **Recorded entries**: a directory the package has just written with
  Spark's parquet writer is stored by :func:`record_written` under the
  same key, with the file statuses listed right after the write and
  the written frame's schema in nullable form (what a plain read of
  the directory returns), so reading it back infers nothing. A later
  rewrite changes the statuses, and the next read is an ordinary miss.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Canonical 11-column raw schema (reference FINAL_COLS,
# src/data_extract.py:160-164). All strings at the raw boundary —
# CSV interchange carries no types.
RAW_JOBS = T.StructType(
    [
        T.StructField("company_name", T.StringType()),
        T.StructField("job_title", T.StringType()),
        T.StructField("job_type", T.StringType()),
        T.StructField("job_location", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("salary", T.StringType()),
        T.StructField("job_posted_date", T.StringType()),
        T.StructField("job_posted_site", T.StringType()),
        T.StructField("technical_skills", T.StringType()),
        T.StructField("soft_skills", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)

FINAL_COLS = [f.name for f in RAW_JOBS.fields]

# Curated fact table: raw cols after typing + cleaning, plus derived
# columns (src/transform.py:145-148) and the BI surrogate key /
# cleaned title (job-skill.pbix semantic model, SURVEY.md §1.1).
JOBS_CURATED = T.StructType(
    [
        T.StructField("job_id", T.LongType()),
        T.StructField("company_name", T.StringType()),
        T.StructField("job_title", T.StringType()),
        T.StructField("cleaned_job_title", T.StringType()),
        T.StructField("job_type", T.StringType()),
        T.StructField("job_location", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("salary", T.IntegerType()),
        T.StructField("job_posted_date", T.TimestampType()),
        T.StructField("job_posted_year", T.IntegerType()),
        T.StructField("job_posted_site", T.StringType()),
        T.StructField("technical_skills", T.StringType()),
        T.StructField("soft_skills", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)

# Exploded skills bridge (PBIX jobskills entity, SURVEY.md §1.1(4)).
JOBSKILLS = T.StructType(
    [
        T.StructField("job_id", T.LongType()),
        T.StructField("job_title", T.StringType()),
        T.StructField("technical_skills", T.StringType()),  # single token
    ]
)

# Idempotent-load manifest (src/load_sqlserver.py:16; loaded_files.db).
MANIFEST = T.StructType([T.StructField("file_name", T.StringType())])

# Driver testdata (TESTDATA.md / FIXTURES.md §B). Parquet already
# carries these; declared here for streaming reads (readStream needs
# an explicit schema) and for documentation.
EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# testdata columns stored as INT64 TIMESTAMP(NANOS) in parquet; Spark
# reads them as long nanos (spark.sql.legacy.parquet.nanosAsLong) and
# we convert to micro-precision timestamps here. DuckDB truncates
# nanos→micros the same way (integer div by 1000).
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


# Session settings that change the schema parquet inference returns.
_INFERENCE_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# (qualified path, settings) -> (file statuses, StructType). One get and
# one set per call, each atomic: threads missing together both infer
# and store the same schema.
_SCHEMAS: dict = {}


def _cache_key(spark, path: str):
    """``((qualified path, settings), file statuses)`` for ``path``, or
    None when it is missing or holds a subdirectory (not cached)."""
    from ..streaming.fsio import IndexFS

    found = IndexFS(spark, path).statuses()
    if found is None:
        return None
    qualified, statuses = found
    if any(is_dir for _, is_dir, _, _ in statuses):
        return None
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    return (qualified, confs), tuple(statuses)


def _cached_schema(spark, path: str) -> T.StructType | None:
    """The schema of ``path`` from the cache, inferred and stored on a
    miss; None when the path is not cached."""
    key = _cache_key(spark, path)
    if key is None:
        return None
    where, statuses = key
    hit = _SCHEMAS.get(where)
    if hit is not None and hit[0] == statuses:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[where] = (statuses, schema)
    return schema


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, array element and map value nullable:
    the form a parquet read reports for the schema a writer stored."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def record_written(spark, path: str, schema: T.StructType) -> None:
    """Record ``schema`` for the parquet directory ``path`` that was
    just written from a frame with that schema, so the next
    :func:`parquet_schema` of it launches no inference job. Call it
    right after the write, before anything else can change the files.
    A partitioned or missing path is not cached and records nothing."""
    key = _cache_key(spark, path)
    if key is not None:
        where, statuses = key
        _SCHEMAS[where] = (statuses, _nullable(schema))


def parquet_schema(spark, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, cached as the
    module docstring describes."""
    schema = _cached_schema(spark, path)
    return spark.read.parquet(path).schema if schema is None else schema


def load(spark, sf_dir: str, name: str):
    """Read one driver testdata table as a DataFrame (timestamps
    normalized to TimestampType)."""
    from pyspark.sql import functions as F

    try:
        # self-heal on externally created sessions (the driver hands us
        # one): without this, TIMESTAMP(NANOS) parquet columns are
        # unreadable. Runtime-settable; verified on Spark 4.1.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    path = f"{sf_dir}/{name}.parquet"
    schema = _cached_schema(spark, path)
    if schema is None:
        df = spark.read.parquet(path)
        schema = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    for c in _NANO_TS_COLS.get(name, ()):
        if c in schema.fieldNames() and isinstance(schema[c].dataType, T.LongType):
            # integer div keeps full precision (ns epoch > 2^53 would
            # lose bits through double division)
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df
