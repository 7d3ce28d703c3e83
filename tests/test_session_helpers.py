"""plans.session.tiny_df — the single-partition tiny-frame builder.

The optimization contract: same rows and dtypes as
``spark.createDataFrame(rows, schema)`` (results must never change),
but exactly ONE partition from birth (the round-10/round-14 tiny-frame
discipline: no 32-way pickled spread, no sequential coalesce(1)).
"""

from __future__ import annotations

from avk_job_skill_analytics_spark.plans.session import tiny_df


def test_tiny_df_single_partition(spark):
    df = tiny_df(spark, [(1, "a"), (2, "b")], "k long, v string")
    assert df.rdd.getNumPartitions() == 1


def test_tiny_df_matches_createdataframe(spark):
    rows = [(1, "a", 1.5, [1, 2]), (2, "b", -0.25, []), (3, None, 0.0, [7])]
    schema = "k long, v string, x double, arr array<long>"
    a = tiny_df(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert a.schema == b.schema
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_tiny_df_empty(spark):
    df = tiny_df(spark, [], "k long, v string")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["k", "v"]


def test_tiny_df_nested_struct_array(spark):
    rows = [("z", [(1, 2), (3, 4)])]
    schema = "zone string, verts array<struct<lat: long, lon: long>>"
    a = tiny_df(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert a.schema == b.schema
    assert a.collect() == b.collect()


def test_scratch_persist_bounds_storage(spark):
    """scratch_persist keeps at most `keep` frames pinned: a session
    running many persist-bearing queries must not grow storage memory
    without bound (round-15 unpersist discipline)."""
    from avk_job_skill_analytics_spark.plans.session import (
        _SCRATCH_PERSISTED,
        scratch_persist,
    )

    start = spark.sparkContext._jsc.getPersistentRDDs().size()
    frames = []
    for i in range(12):
        df = spark.range(10 + i).selectExpr("id", "id * 2 AS y")
        frames.append(scratch_persist(df, keep=4))
        df.count()  # materialize the persist
    live = spark.sparkContext._jsc.getPersistentRDDs().size() - start
    assert live <= 4, f"{live} scratch frames still pinned (keep=4)"
    assert len(_SCRATCH_PERSISTED) <= 4
    # evicted frames still compute correctly (recompute, not corruption)
    assert frames[0].count() == 10


def test_scratch_persist_keeps_cache_of_equal_newer_plan(spark):
    """Spark keeps one cache entry per plan: evicting an old frame must
    not unpersist the entry a newer frame with the same plan reads."""
    from pyspark import StorageLevel

    from avk_job_skill_analytics_spark.plans.session import scratch_persist

    def frame():
        return spark.range(37).selectExpr("id", "id * 3 AS y")

    a = scratch_persist(frame(), keep=2)
    b = scratch_persist(frame(), keep=2)
    assert a.sameSemantics(b)
    b.count()
    scratch_persist(spark.range(5), keep=2)  # evicts a
    assert b.storageLevel != StorageLevel.NONE
    b.unpersist()
