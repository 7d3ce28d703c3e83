"""plans.session helpers: ``tiny_df``, ``scratch_persist`` and the
``run_rounds`` round runner.

``tiny_df`` is the one constructor for driver-built frames. Its
contract: the same schema and rows as
``spark.createDataFrame(rows, schema)`` (results must never change),
built as one Arrow table on the driver and planned as a
``LocalTableScan`` (no pickled Python RDD, no Python worker on the
first action), coalesced to exactly ONE partition so a write of it
is one file.
"""

from __future__ import annotations

import datetime
import decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from avk_job_skill_analytics_spark.plans import inspect as I
from avk_job_skill_analytics_spark.plans.schemas import MANIFEST
from avk_job_skill_analytics_spark.plans.session import run_rounds, tiny_df

_TS = datetime.datetime(2025, 10, 1, 9, 15, 30, 123456)

# one case per schema shape a call site passes, plus the column types
# the converter treats specially (decimal, boolean, date, timestamp)
_CASES = {
    "manifest": ([("a.csv",), (None,)], MANIFEST),
    "empty_manifest": ([], MANIFEST),
    "empty_struct": ([], T.StructType([])),
    "empty_ddl": ([], "doc_a long, doc_b long, jaccard double"),
    "s6_events_target": (
        [(1, _TS, 7, "click", 2.5, None)],
        T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]),
    ),
    "linear_state": ([(0, -12, 40, 3), (1, 7, 40, 3)],
                     "j int, w_micro long, cum_n long, seq long"),
    "zone_verts": (
        [("z", [(1, 2), (3, 4)]), ("empty", []), ("null", None)],
        "zone string, verts array<struct<lat: long, lon: long>>",
    ),
    "ivfpq_probes": (
        [(1, 3, [{0: 5, 1: 9}, {}]), (2, 4, [None, {2: None}])],
        "_qid long, _cell long, _tbls array<map<long,long>>",
    ),
    "coarse_cells": (
        [(0, [0.5, -1.25, 1e300]), (1, [])],
        "cell long, cv array<double>",
    ),
    "dq_constraints": (
        [("completeness", 999000, True), ("uniqueness", None, False),
         ("range", 0, None)],
        "constraint string, metric_fp long, passed boolean",
    ),
    "int_and_decimal": (
        [(1, decimal.Decimal("3.14159"), 2**40),
         (-2147483648, decimal.Decimal("-0.5"), None),
         (None, None, -1)],
        "k int, d decimal(10,4), n long",
    ),
    "bpe_merges": ([(1, "t", "h", 12), (2, "th", "e", 9)],
                   "step int, left_sym string, right_sym string, "
                   "pair_count long"),
    "dates_and_timestamps": (
        [(datetime.date(2024, 2, 29), _TS),
         (datetime.date(1970, 1, 1), datetime.datetime(1970, 1, 1)),
         (None, None)],
        "d date, ts timestamp",
    ),
    "all_null_row": ([(None, None, None)],
                     "sel_order int, vec_id long, score double"),
}


@pytest.mark.parametrize("case", sorted(_CASES))
def test_tiny_df_equals_createdataframe(spark, case):
    """Same schema and rows as the pickled-RDD spelling it replaced,
    under the session's pinned UTC timezone."""
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    rows, schema = _CASES[case]
    a = tiny_df(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert a.schema == b.schema
    assert a.collect() == b.collect()


def test_tiny_df_plans_a_local_table_scan(spark):
    df = tiny_df(spark, [(1, "a"), (2, "b")], "k long, v string")
    assert I.has_node(df, "LocalTableScan")
    assert "ExistingRDD" not in I.plan_string(df)


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


def test_run_rounds_fixed_count_and_cap(spark):
    """Without a probe the runner runs exactly ``rounds`` rounds; with
    one whose value never repeats it raises at the cap instead of
    returning the unconverged frame."""
    base = spark.range(5).localCheckpoint()
    calls = []

    def shift(f):
        calls.append(f)
        return f.select((F.col("id") + 1).alias("id"))

    out = run_rounds(shift, base, 5, 3)
    assert len(calls) == 3
    assert sorted(r.id for r in out.collect()) == [3, 4, 5, 6, 7]
    assert run_rounds(shift, base, 5, 0) is base

    calls.clear()
    with pytest.raises(RuntimeError, match="no fixed point within 3"):
        run_rounds(shift, base, 5, 3, probe=(F.sum("id").alias("s"),))
    assert len(calls) == 3
