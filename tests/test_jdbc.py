"""S6 JDBC warehouse edge against a REAL database (embedded Derby —
its jars ship inside pyspark/jars, so no install is needed).

The reference appends to SQL Server in 100-row pyodbc batches
(src/load_sqlserver.py:70-98); these tests prove the Spark twin's
contract end-to-end: batched distributed append + read-back parity,
and the exactly-once foreachBatch upsert (stage bulk-load + set-based
merge) including the crash-redelivery replay that motivates it.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from avk_job_skill_analytics_spark.sources import sinks
from avk_job_skill_analytics_spark.streaming.incremental import (
    _jdbc_upsert_batch_fn,
)

DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


@pytest.fixture()
def derby_url():
    tmp = tempfile.mkdtemp(prefix="derby_test_")
    yield f"jdbc:derby:{tmp}/db;create=true"
    shutil.rmtree(tmp, ignore_errors=True)


def test_jdbc_roundtrip_batched_append(spark, derby_url):
    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") * 2.5).alias("v"),
        F.concat(F.lit("row_"), F.col("id").cast("string")).alias("s"),
    )
    sinks.jdbc_sink(
        df, derby_url, "t_roundtrip", properties=DERBY_PROPS,
        batchsize=16, num_partitions=4, mode="overwrite",
    )
    back = spark.read.jdbc(derby_url, "t_roundtrip", properties=DERBY_PROPS)
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )


def test_foreach_batch_jdbc_upsert_merges_and_replays(spark, derby_url):
    cols = ["user_id", "ts", "event_id", "value"]
    empty = spark.createDataFrame([], "user_id long, ts long, event_id long, value double")
    sinks.jdbc_sink(empty, derby_url, "state", properties=DERBY_PROPS,
                    mode="overwrite")
    sink = _jdbc_upsert_batch_fn(
        derby_url, "state", "user_id", ("ts", "event_id"), DERBY_PROPS, 100
    )

    b0 = spark.createDataFrame(
        [(1, 10, 100, 1.0), (1, 20, 101, 2.0), (2, 10, 102, 3.0)], cols
    )
    sink(b0, 0)
    # crash-redelivery of the SAME batch must be a no-op state-wise
    sink(b0, 0)
    got = {
        r.user_id: (r.ts, r.event_id, r.value)
        for r in spark.read.jdbc(derby_url, "state",
                                 properties=DERBY_PROPS).collect()
    }
    assert got == {1: (20, 101, 2.0), 2: (10, 102, 3.0)}

    # a later batch upserts existing keys and inserts new ones
    b1 = spark.createDataFrame(
        [(1, 30, 103, 9.0), (3, 5, 104, 4.0)], cols
    )
    sink(b1, 1)
    got = {
        r.user_id: (r.ts, r.event_id, r.value)
        for r in spark.read.jdbc(derby_url, "state",
                                 properties=DERBY_PROPS).collect()
    }
    assert got == {
        1: (30, 103, 9.0),
        2: (10, 102, 3.0),
        3: (5, 104, 4.0),
    }


# ------------------------------------- the registry's one warehouse
def _oracle_digest(sf_dir, name):
    import duckdb

    from avk_job_skill_analytics_spark.registry import all_oracles
    from tools.verify_local import TABLES, table_hash

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    res = con.execute(all_oracles()[name])
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    return len(rows), sorted(cols), table_hash(cols, rows)


def _warehouse_schemas(spark, url):
    conn = sinks.jdbc_connect(spark, url, DERBY_PROPS)
    try:
        found = conn.createStatement().executeQuery(
            "SELECT SCHEMANAME FROM SYS.SYSSCHEMAS")
        names = set()
        while found.next():
            names.add(found.getString(1))
        return names
    finally:
        conn.close()


def test_s6_queries_share_one_warehouse_and_drop_their_schemas(
        spark, monkeypatch):
    """upsert → roundtrip → upsert in one session: each equals its
    oracle, each works in a schema of its own in the process's one
    warehouse, and none of its schemas outlives the call."""
    from avk_job_skill_analytics_spark.registry import all_queries, io_queries
    from tools.verify_local import table_hash

    from conftest import SF_DIR

    created = []
    exec_ = sinks.jdbc_exec

    def spy(spark_, url, *statements, **kw):
        created.extend(s.split()[-1] for s in statements
                       if s.startswith("CREATE SCHEMA "))
        return exec_(spark_, url, *statements, **kw)

    monkeypatch.setattr(sinks, "jdbc_exec", spy)
    qs = all_queries()
    urls = set()
    for name in ("s6_jdbc_stream_upsert", "s6_jdbc_roundtrip",
                 "s6_jdbc_stream_upsert"):
        before = len(created)
        df = qs[name](spark, SF_DIR)
        cols, rows = df.columns, [tuple(r) for r in df.collect()]
        assert (len(rows), sorted(cols), table_hash(cols, rows)) == (
            _oracle_digest(SF_DIR, name)), name
        assert len(created) == before + 1, created
        url = io_queries._warehouse(spark)
        urls.add(url)
        assert not set(created) & _warehouse_schemas(spark, url), created
    assert len(urls) == 1 and len(set(created)) == 3, (urls, created)


def test_warehouse_directory_is_removed_at_exit(tmp_path):
    """A process that ran an S6 query leaves no warehouse behind: the
    exit hook shuts the engine down and removes its directory."""
    import os
    import subprocess
    import sys
    import textwrap

    from conftest import SF_DIR

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    script = textwrap.dedent(f"""
        import os, sys
        sys.path.insert(0, {root!r})
        from avk_job_skill_analytics_spark.plans.session import get_spark
        from avk_job_skill_analytics_spark.registry import all_queries
        from avk_job_skill_analytics_spark.registry import io_queries

        spark = get_spark(app_name="warehouse-exit", master="local[2]",
                          shuffle_partitions=2)
        n = all_queries()["s6_jdbc_roundtrip"](spark, {SF_DIR!r}).count()
        url = io_queries._warehouse(spark)
        d = os.path.dirname(url[len("jdbc:derby:"):])
        print("RESULT", n, d, os.path.isdir(d))
    """)
    env = dict(os.environ, TMPDIR=str(scratch), SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    line = next((x for x in out.stdout.splitlines()
                 if x.startswith("RESULT ")), None)
    assert line is not None, out.stderr[-3000:]
    _, n, d, existed = line.split()
    assert int(n) > 0 and existed == "True"
    assert d.startswith(str(scratch)), d
    assert not os.path.exists(d)
    assert not any(p.name.startswith("derby_warehouse_")
                   for p in scratch.iterdir())
