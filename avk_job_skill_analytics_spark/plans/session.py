"""SparkSession factory tuned for this engine.

The reference has no engine config at all (eager single-threaded
pandas); here we centralize the Spark settings that matter for the
100 TB design point:

- AQE on (runtime re-plan: auto-broadcast, skew-join splitting,
  partition coalescing) — subsumes every manual rewrite the reference
  performs (SURVEY.md §4).
- shuffle partitions sized to the local core count for tests; on a
  real cluster this is overridden to ~2-3x total cores (AQE coalesces
  down, so erring high is safe).
- session timezone pinned to UTC so timestamp semantics are stable
  across engines (the DuckDB oracle uses UTC-naive timestamps).
- Arrow enabled for the few Pandas-UDF paths (skills UD1, multimodal).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string


def get_spark(
    app_name: str = "avk-job-skill-analytics-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter pruning: selective joins push a bloom
        # filter of the build side into the probe-side scan — at the
        # 100 TB point this skips whole row groups before the shuffle
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound Arrow batch memory for mapInPandas over wide/binary
        # payload columns (multimodal ops): batches of megabyte-scale
        # assets must not default to 10k rows each
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # driver testdata carries INT64 TIMESTAMP(NANOS) parquet columns,
        # which Spark's reader has no timestamp type for; read as long
        # nanos and convert in plans.schemas.load
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable defaults to an externally
    provided session (the driver hands us one in ``entry``).

    Shuffle partitions are right-sized to the core count ONLY when
    the session still carries Spark's stock default (200) — an
    untuned external session would otherwise pay ~200 tiny tasks per
    shuffle at gate scale (dd_minhash_lsh 12.8 s -> ~4 s at sf0.01,
    measured on a vanilla local[8] session). A session anyone
    deliberately configured is left alone, so tests pinning
    shuffle_partitions=4 and scoped_shuffle blocks are unaffected.
    """
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            cores = spark.sparkContext.defaultParallelism
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(max(int(cores), 4)))
    except Exception:
        pass
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static confs on a running session: keep going
    return spark


import contextlib


@contextlib.contextmanager
def scoped_shuffle(spark, n: int):
    """Temporarily set spark.sql.shuffle.partitions.

    Iterative operators (connected components, k-means) run many tiny
    shuffle stages whose per-partition fixed cost dominates when the
    frames are far smaller than the session default partition count;
    size the loop's shuffles to the DATA (rows per partition), restore
    the default for everything else. Same principle as the streaming
    drains' state-store sizing."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(int(n)))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def sized_partitions(spark, n_rows: int, rows_per_partition: int = 50_000) -> int:
    """Partition count for an iterative loop: enough to keep
    ``rows_per_partition`` per task, never more than the session
    default (the cluster-scale ceiling), never fewer than 4."""
    try:
        default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        default = 200
    return max(4, min(default, n_rows // rows_per_partition + 1))


def tiny_df(spark, rows, schema: str | StructType) -> DataFrame:
    """The one constructor for driver-built frames: ``rows`` under
    ``schema`` (DDL string or ``StructType``) as ONE partition.

    The rows become one Arrow table on the driver, through the
    converter Spark Connect uses for ``createDataFrame(list)``, and
    ``createDataFrame(table, struct)`` plans it as a
    ``LocalTableScan``, so no action on the frame starts a Python
    worker. A pickled Python RDD (``createDataFrame(list)`` or of
    ``parallelize(rows, 1)``) pays Python-worker round trips on its
    first action. Building 10 rows and writing them to a noop sink
    took 0.31 s through ``createDataFrame(list)``, 0.26 s through
    ``parallelize(rows, 1)`` and 0.04 s here, or 0.29 s against
    0.04 s for no rows (medians of 15, warm, ``local[4]`` on 4
    vCPU). ``coalesce(1)`` keeps a write of the frame one file.
    Schema and rows equal ``createDataFrame(rows, schema)``'s."""
    struct = (schema if isinstance(schema, StructType)
              else _parse_datatype_string(schema))
    rows = list(rows)
    large = spark.conf.get(
        "spark.sql.execution.arrow.useLargeVarTypes").lower() == "true"
    table = (
        LocalDataToArrowConversion.convert(rows, struct, large) if rows
        else to_arrow_schema(struct, prefers_large_types=large).empty_table()
    )
    return spark.createDataFrame(table, struct).coalesce(1)


_SCRATCH_PERSISTED: list = []
_SCRATCH_LOCK = threading.Lock()


def scratch_persist(df, keep: int = 8):
    """``persist()`` with SESSION-LIFETIME bounds (guide §5: unpersist
    when done): the frame is registered in a bounded FIFO and the
    oldest entries beyond ``keep`` are unpersisted as new ones arrive.

    The within-query persists (shared shingle frames, LSH candidate
    frames, prefix-filter doc arrays) are consumed entirely by the
    query that created them, but a long-lived session running many
    such queries would otherwise accumulate every one of them in
    storage memory until eviction pressure. Spark keeps one cache
    entry per plan, so an evicted frame whose plan equals a newer
    entry's (``sameSemantics``) is dropped from the FIFO without
    ``unpersist()``: that would drop the cache the newer frame reads,
    and the newer entry unpersists it when its own turn comes.
    Unpersisting a frame that is still referenced only degrades to
    recomputation, never to wrong results. ``keep`` comfortably
    exceeds the largest number of scratch frames any single query
    pins at once (3). Thread-safe: the FIFO is guarded by a lock."""
    with _SCRATCH_LOCK:
        df.persist()
        _SCRATCH_PERSISTED.append(df)
        while len(_SCRATCH_PERSISTED) > keep:
            old = _SCRATCH_PERSISTED.pop(0)
            try:
                if not any(old.sameSemantics(d) for d in _SCRATCH_PERSISTED):
                    old.unpersist()
            except Exception:
                pass
    return df
