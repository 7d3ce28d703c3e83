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
- Python workers start from ``_pydaemon`` (``spark.python.daemon.module``)
  instead of ``pyspark.daemon``. Each task calls
  ``importlib.invalidate_caches()``, and on CPython 3.12 and older that
  makes every ``zipimporter`` over ``pyspark.zip`` re-read the archive
  (1,328 entries, 16 importers in a worker that ran a pandas UDF):
  0.13-0.24 s per task, measured inside the worker (``local[2]`` on 4 vCPU,
  CPython 3.11.7). ``_pydaemon`` re-reads an archive only when its stat
  stamp changed, which makes the call 0.12-0.19 ms; CPython 3.13 reads
  zip directories lazily and gains nothing. The package root goes on
  ``spark.executorEnv.PYTHONPATH`` so the daemon imports whatever the
  driver's cwd or ``PYTHONPATH``. Both confs are static: a session
  built elsewhere (``tune_session``) keeps the stock daemon.
"""

from __future__ import annotations

import contextlib
import os
import threading

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string

from .. import _pydaemon

# the directory holding the package, so Python workers can import it
_PACKAGE_ROOT = os.path.dirname(
    os.path.dirname(os.path.abspath(_pydaemon.__file__)))


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
        .config("spark.python.daemon.module", _pydaemon.__name__)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
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

    Static confs cannot change on a running session, so such a session
    (``__spark_entry__.py``) keeps the stock ``pyspark.daemon`` and its
    per-task zip re-reads; only ``get_spark`` sessions start workers
    from ``_pydaemon``.

    Shuffle partitions are right-sized to the core count ONLY when
    the session still carries Spark's stock default (200) — an
    untuned external session would otherwise pay ~200 tiny tasks per
    shuffle at gate scale (dd_minhash_lsh 12.8 s -> ~4 s at sf0.01,
    measured on a vanilla local[8] session). A session anyone
    deliberately configured is left alone, so tests pinning
    shuffle_partitions=4 and run_rounds loops are unaffected.
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


@contextlib.contextmanager
def _scoped_shuffle(spark, n: int):
    """Temporarily set spark.sql.shuffle.partitions to ``n``."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(int(n)))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


_ROWS_PER_PARTITION = 50_000


def _sized_partitions(spark, n_rows: int) -> int:
    """Partition count for a round loop: enough to keep
    ``_ROWS_PER_PARTITION`` rows per task, never more than the session
    default (the cluster-scale ceiling), never fewer than 4."""
    try:
        default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        default = 200
    return max(4, min(default, n_rows // _ROWS_PER_PARTITION + 1))


def counted_checkpoint(df: DataFrame) -> tuple[DataFrame, int]:
    """``df.localCheckpoint()`` and its row count. The count is an
    ``Observation`` filled by the checkpoint's own job, so it costs no
    separate ``count()`` job. This is how a round loop's pre-loop
    frame yields the row count :func:`run_rounds` sizes from."""
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    return out, obs.get["n"]


def run_rounds(step, state: DataFrame, rows: int, rounds: int,
               probe=()) -> DataFrame:
    """The one fixed-point round runner: ``state = step(state)`` up to
    ``rounds`` times, each round's frame ``localCheckpoint``-ed.

    Shuffles: iterative operators run many tiny shuffle stages whose
    per-partition fixed cost dominates when the frames are far
    smaller than the session default partition count, so the loop's
    shuffles are sized to ``rows`` (the data the loop moves; take it
    from :func:`counted_checkpoint` on the pre-loop frame) and the
    session default is restored afterwards. The default stays the
    cluster-scale ceiling.

    Checkpoints: iterative lineage otherwise grows a plan per round
    and re-optimization dominates wall clock. On a cluster with
    failure-recovery requirements use ``checkpoint()`` instead.

    Convergence: with ``probe`` aggregate columns, each round's frame
    is ``observe``-d with them before its checkpoint, so the checkpoint
    job itself fills the probe (no separate 1-row ``collect()``). The
    loop stops at the first round whose probe equals the previous
    round's. The probe must pin the frame (a row count for a step that
    only drops rows, a content hash otherwise): an unchanged probe then
    means an unchanged frame, and as ``step`` is deterministic, the
    fixed point. Reaching ``rounds`` first raises
    ``RuntimeError`` rather than return an unconverged frame. Without
    ``probe`` it runs exactly ``rounds`` rounds (a fixed-round
    contract).

    The argmax loops (``clustering.kcenter_coreset`` and
    ``kmeans_parallel_init``, ``textstats.bpe_merges``,
    ``similarity.mmr_select``) stay outside: each round needs the
    winning ROW back on the driver to build the next round's frame,
    which a frame-to-frame step cannot express without a
    caller-specific branch, and none of them sizes a shuffle scope."""
    spark = state.sparkSession
    prev = None
    with _scoped_shuffle(spark, _sized_partitions(spark, rows)):
        for _ in range(rounds):
            state = step(state)
            if probe:
                obs = Observation()
                state = state.observe(obs, *probe)
            state = state.localCheckpoint()
            if probe:
                cur = obs.get
                if cur == prev:
                    return state
                prev = cur
    if probe:
        raise RuntimeError(f"no fixed point within {rounds} rounds")
    return state


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
