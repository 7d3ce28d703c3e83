"""plans.schemas' parquet schema cache.

The contract: a warm ``load()`` launches no Spark job, returns exactly
what a plain inferred ``spark.read.parquet`` (plus load's nanos
conversion) returns, and notices a rewritten file or a changed
inference setting. Missing paths and partitioned directories are not
cached and behave as before.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from avk_job_skill_analytics_spark.plans import schemas
from avk_job_skill_analytics_spark.plans.inspect import build_jobs
from avk_job_skill_analytics_spark.registry.streaming_queries import (
    _events_ts_type,
)

from conftest import SF_DIR

NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _inferred(spark, sf_dir, name):
    """The reference: a plain inferred read with load's conversion of
    nanos longs to timestamps."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in schemas._NANO_TS_COLS.get(name, ()):
        if isinstance(df.schema[c].dataType, T.LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def _digest(df):
    return df.schema, sorted(repr(tuple(r)) for r in df.collect())


def _write_ts(src, dst, unit):
    """Copy a parquet file with its timestamp columns in ``unit``
    ("ns": INT64 TIMESTAMP(NANOS); "us": TIMESTAMP(MICROS), no tz)."""
    table = pq.read_table(src)
    fields = [
        pa.field(f.name, pa.timestamp(unit))
        if pa.types.is_timestamp(f.type) else f
        for f in table.schema
    ]
    pq.write_table(table.cast(pa.schema(fields)), dst)


@pytest.fixture(scope="module")
def nanos_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("nanos")
    for name in schemas._NANO_TS_COLS:
        _write_ts(f"{SF_DIR}/{name}.parquet", str(d / f"{name}.parquet"), "ns")
    return str(d)


def test_warm_load_launches_no_job(spark):
    schemas.load(spark, SF_DIR, "orders")
    _, jobs = build_jobs(spark, lambda: schemas.load(spark, SF_DIR, "orders"))
    assert jobs == 0


@pytest.mark.parametrize("name", schemas.TESTDATA_TABLES)
def test_cached_load_matches_inferred_read(spark, name):
    schemas.load(spark, SF_DIR, name)  # warm
    assert _digest(schemas.load(spark, SF_DIR, name)) == _digest(
        _inferred(spark, SF_DIR, name))


@pytest.mark.parametrize("name", sorted(schemas._NANO_TS_COLS))
def test_cached_load_matches_inferred_read_nanos(spark, nanos_dir, name):
    schemas.load(spark, nanos_dir, name)
    got = schemas.load(spark, nanos_dir, name)
    for c in schemas._NANO_TS_COLS[name]:
        assert got.schema[c].dataType == T.TimestampType()
    assert _digest(got) == _digest(_inferred(spark, nanos_dir, name))


def test_rewritten_table_is_picked_up(spark, tmp_path):
    d = str(tmp_path)
    src = f"{SF_DIR}/events.parquet"
    _write_ts(src, f"{d}/events.parquet", "us")
    assert _events_ts_type(spark, d) == T.TimestampNTZType()
    before = _digest(schemas.load(spark, d, "events"))
    assert before[0]["ts"].dataType == T.TimestampNTZType()

    _write_ts(src, f"{d}/events.parquet", "ns")
    assert _events_ts_type(spark, d) == T.LongType()
    after = schemas.load(spark, d, "events")
    assert after.schema["ts"].dataType == T.TimestampType()
    assert _digest(after) == _digest(_inferred(spark, d, "events"))


def test_inference_setting_is_part_of_the_key(spark):
    path = f"{SF_DIR}/events.parquet"
    old = spark.conf.get(NTZ_CONF)
    try:
        spark.conf.set(NTZ_CONF, "true")
        assert schemas.parquet_schema(spark, path)["ts"].dataType == (
            T.TimestampNTZType())
        spark.conf.set(NTZ_CONF, "false")
        assert schemas.parquet_schema(spark, path)["ts"].dataType == (
            T.TimestampType())
        assert schemas.load(spark, SF_DIR, "events").schema == (
            spark.read.parquet(path).schema)
    finally:
        spark.conf.set(NTZ_CONF, old)


def _condition(fn):
    with pytest.raises(AnalysisException) as info:
        fn()
    return info.value.getCondition()


def test_missing_path_raises_as_before(spark, tmp_path):
    d = str(tmp_path)
    plain = _condition(lambda: spark.read.parquet(f"{d}/nope.parquet"))
    assert _condition(lambda: schemas.load(spark, d, "nope")) == plain
    assert plain == "PATH_NOT_FOUND"


def test_partitioned_directory_is_not_cached(spark, tmp_path):
    d = str(tmp_path)
    spark.range(6).selectExpr("id", "id % 2 AS k").write.partitionBy(
        "k").parquet(f"{d}/part.parquet")
    got = schemas.load(spark, d, "part")
    assert _digest(got) == _digest(spark.read.parquet(f"{d}/part.parquet"))
    assert "k" in got.columns
    assert not any(where.endswith(f"{d}/part.parquet")
                   for where, _ in schemas._SCHEMAS)


def _uncached(spark, path):
    return spark.read.parquet(path).schema


def _recorded_hit(spark, path):
    """The cached schema of ``path``, asserting it came with no job."""
    got, jobs = build_jobs(spark, lambda: schemas.parquet_schema(spark, path))
    assert jobs == 0, path
    return got


@pytest.mark.parametrize("which", ["small", "compacted"])
def test_recorded_fixture_schema_matches_uncached_read(spark, which):
    """io_compact_roundtrip's fixture records its accreted ``small`` dir
    and compact_parquet records its output: both read back with no
    inference job and equal what a plain read infers."""
    import os

    from avk_job_skill_analytics_spark.registry import io_queries

    io_queries._COMPACT_DIRS.pop(SF_DIR, None)
    compacted = io_queries._compacted_events(spark, SF_DIR)
    path = os.path.join(os.path.dirname(compacted), which)
    assert _recorded_hit(spark, path) == _uncached(spark, path)


def test_recorded_schema_is_the_nullable_form(spark, tmp_path):
    from avk_job_skill_analytics_spark.sources.sinks import compact_parquet

    df = spark.range(6).groupBy((F.col("id") % 2).alias("k")).agg(
        F.count("id").alias("n")
    ).select(
        "k", "n", F.lit(1).alias("one"),
        F.array(F.lit(1)).alias("arr"),
        F.create_map(F.lit("a"), F.lit(2)).alias("m"),
        F.struct(F.lit(3).alias("x")).alias("st"),
    )
    assert not df.schema["n"].nullable and not df.schema["one"].nullable
    path = str(tmp_path / "written")
    df.write.parquet(path)
    schemas.record_written(spark, path, df.schema)
    got = _recorded_hit(spark, path)
    assert got == _uncached(spark, path) != df.schema
    dst = str(tmp_path / "compacted")
    compact_parquet(spark, path, dst)
    assert _recorded_hit(spark, dst) == _uncached(spark, dst) == got


def test_overwritten_recorded_dir_is_a_miss(spark, tmp_path):
    path = str(tmp_path / "t")
    first = spark.range(3)
    first.write.parquet(path)
    schemas.record_written(spark, path, first.schema)
    assert _recorded_hit(spark, path) == _uncached(spark, path)

    spark.range(3).selectExpr("CAST(id AS STRING) AS id", "id AS n").write.mode(
        "overwrite").parquet(path)
    got, jobs = build_jobs(spark, lambda: schemas.parquet_schema(spark, path))
    assert jobs == 1
    assert got == _uncached(spark, path)
    assert got.fieldNames() == ["id", "n"]
