"""IO + UD1 inventory (SURVEY.md §2.1, §2.10) bound to driver testdata.

- ``s2_s5_csv_roundtrip`` — CSV sink (S5) then CSV source with an
  explicit schema (S2), aggregated after the round trip; the oracle
  aggregates the original parquet, so the check proves the CSV
  boundary is lossless for the carried types.
- ``s7_manifest_new_files`` — the idempotent-load tracker: a parquet
  manifest marks half the candidate files loaded; the query returns
  the S8 set-difference via the broadcast anti-join (J1). The
  mark-twice/no-op idempotency property is covered in tests.
- ``ud1_skill_extract`` — the reference's one irreducible UDF
  (LLM skill extraction, src/data_extract.py:108-135) through its
  deterministic RuleSkillExtractor stand-in: P6 short-text guard,
  4000-char truncation, sorted ', '-joined keyword lists. The oracle
  is generated from the same keyword constants.
"""

from __future__ import annotations

import atexit
import contextlib
import itertools
import shutil
import tempfile
import threading

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.skills import (
    MAX_PROMPT_CHARS,
    MIN_TEXT_LEN,
    SOFT_KEYWORDS,
    TECH_KEYWORDS,
    RuleSkillExtractor,
)
from ..plans.bucketing import time_clustered
from ..plans.schemas import load, parquet_schema, record_written
from ..plans.session import tiny_df
from ._fixtures import FixtureMemo
from ..sources import readers, sinks
from ..sources.manifest import Manifest

QUERIES = {}
ORACLES = {}


def _q(name, oracle=None):
    def reg(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return reg


# ------------------------------------------------------ S2+S5 CSV boundary
@_q(
    "s2_s5_csv_roundtrip",
    """SELECT o_orderstatus, o_orderpriority,
              count(*) AS n, round(sum(o_totalprice), 2) AS total_price
       FROM orders GROUP BY o_orderstatus, o_orderpriority""",
)
def s2_s5_csv_roundtrip(spark, sf_dir):
    """Write orders scalars through the CSV sink, read them back with
    an explicit schema (no inference pass), aggregate. Value-parity
    against the parquet original proves the CSV edge round-trips
    longs/doubles/strings exactly."""
    tmp = tempfile.mkdtemp(prefix="csv_roundtrip_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    sinks.csv_sink(o, f"{tmp}/orders_csv")
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_orderpriority", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    back = readers.csv_source(spark, f"{tmp}/orders_csv", schema=schema)
    return back.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


# -------------------------------------------------- S7/S8 manifest tracker
@_q(
    "s7_manifest_new_files",
    """SELECT DISTINCT concat('file_', CAST(o_orderkey % 20 AS VARCHAR))
              AS file_name
       FROM orders WHERE (o_orderkey % 20) % 2 = 1""",
)
def s7_manifest_new_files(spark, sf_dir):
    """Idempotent-load tracker: 20 candidate file names derived from
    order keys; the even ones are marked loaded in a parquet manifest;
    the query returns the still-unloaded set via the broadcast
    anti-join (S8/J1 — src/transform.py:186-196 done Spark-native)."""
    tmp = tempfile.mkdtemp(prefix="manifest_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    m = Manifest(spark, f"{tmp}/manifest")
    m.mark_loaded([f"file_{k}" for k in range(0, 20, 2)])
    cand = (
        load(spark, sf_dir, "orders")
        .select(
            F.concat(
                F.lit("file_"), (F.col("o_orderkey") % 20).cast("string")
            ).alias("file_name")
        )
        .distinct()
    )
    return m.new_files(cand)


# --------------------------------------------------------------- UD1 skills
def _skill_sql(keywords: tuple[str, ...]) -> str:
    """DuckDB twin of RuleSkillExtractor.match_list, generated from
    the same keyword constants (same sorted order, same guard)."""
    items = ", ".join(
        f"CASE WHEN contains(lower(substring(doc_text, 1, {MAX_PROMPT_CHARS})),"
        f" '{kw}') THEN '{kw}' END"
        for kw in sorted(keywords)
    )
    return (
        f"CASE WHEN length(trim(doc_text)) >= {MIN_TEXT_LEN} THEN "
        f"coalesce(array_to_string(list_filter([{items}],"
        f" x -> x IS NOT NULL), ', '), '') "
        f"ELSE '' END"
    )


@_q(
    "ud1_skill_extract",
    f"""WITH d AS (SELECT doc_id,
                 CASE WHEN doc_id % 10 = 0 THEN 'short' ELSE text END
                   AS doc_text
          FROM documents)
       SELECT doc_id,
              {_skill_sql(TECH_KEYWORDS)} AS technical_skills,
              {_skill_sql(SOFT_KEYWORDS)} AS soft_skills
       FROM d""",
)
def ud1_skill_extract(spark, sf_dir):
    """UD1 via the deterministic rule extractor: keyword containment
    over the truncated lowercased text. Every 10th doc is shortened
    below the P6 guard in-query so the skip path is exercised (the
    testdata texts are all long)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 0, F.lit("short"))
        .otherwise(F.col("text"))
        .alias("doc_text"),
    )
    out = RuleSkillExtractor().extract(d, "doc_text")
    return out.select("doc_id", "technical_skills", "soft_skills")


# ------------------------------------------- S1/S5 partitioned layout
# One partitioned copy per (process, sf_dir), removed at exit — the
# write is the setup, the PRUNED READ is the operator under test.
_PART_DIRS: dict = FixtureMemo()


def _partitioned_events(spark, sf_dir: str) -> str:
    if sf_dir not in _PART_DIRS:
        d = tempfile.mkdtemp(prefix="events_bydate_")
        (
            load(spark, sf_dir, "events")
            .withColumn("event_date", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(f"{d}/events_bydate")
        )
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _PART_DIRS[sf_dir] = d
    return f"{_PART_DIRS[sf_dir]}/events_bydate"


@_q(
    "io_partitioned_prune",
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
       FROM events
       WHERE CAST(ts AS DATE) >= DATE '2024-01-10'
         AND CAST(ts AS DATE) <= DATE '2024-01-19'
       GROUP BY event_type""",
)
def io_partitioned_prune(spark, sf_dir):
    """Hive-style partition pruning — the 100 TB layout move the
    reference's flat per-day CSV drops emulate by filename games
    (src/transform.py:186-196): events re-written
    ``partitionBy(event_date)``, then a 10-day slice read back. The
    date predicate is resolved against the DIRECTORY LISTING
    (PartitionFilters in the scan — asserted in
    tests/test_plan_quality.py), so the engine never opens a file
    outside the window: at a year of 100 TB that's a ~97% I/O skip
    before the first byte is read. The oracle runs the same slice as
    a row filter on the flat table."""
    path = _partitioned_events(spark, sf_dir)
    ev = spark.read.parquet(path)
    return (
        ev.filter(
            (F.col("event_date") >= F.lit("2024-01-10").cast("date"))
            & (F.col("event_date") <= F.lit("2024-01-19").cast("date"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# ------------------------------------------- ANN index physical layout
# One cell-partitioned inventory per (process, sf_dir): the write is
# the setup; the CELL-PRUNED read is the operator under test.
_ANN_DIRS: dict = FixtureMemo()


def _ann_index_dir(spark, sf_dir: str) -> str:
    from ..operators import similarity

    if sf_dir not in _ANN_DIRS:
        e = load(spark, sf_dir, "embeddings")
        cb = similarity.collect_cosine_codebook(
            e.orderBy("vec_id").limit(8).select(
                F.col("vec_id").alias("_cid"),
                F.col("embedding").alias("_cv"),
            )
        )
        # ONE pipelined projection computes cell id + int8 payload —
        # no self-join to recombine (the keep= pass-throughs exist for
        # exactly this inventory-build shape)
        inv = similarity.quantize_int8(
            similarity.ivf_cell_assign(
                e, "vec_id", "embedding", cb, keep=("embedding",)
            ),
            "vec_id", "embedding", keep=("cid",),
        )
        d = tempfile.mkdtemp(prefix="ann_cells_")
        inv.write.mode("overwrite").partitionBy("cid").parquet(
            f"{d}/ann_cells"
        )
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _ANN_DIRS[sf_dir] = d
    return f"{_ANN_DIRS[sf_dir]}/ann_cells"


def _ann_layout_sql() -> str:
    from .scale_queries import _cos_sql

    cos = _cos_sql("e.embedding", "c.cv")
    return f"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv
                     FROM embeddings ORDER BY vec_id LIMIT 8),
       asg AS (SELECT e.vec_id, c.cid,
                      row_number() OVER (PARTITION BY e.vec_id
                        ORDER BY round({cos}, 6) DESC, c.cid) AS rk
               FROM embeddings e, cent c),
       a AS (SELECT vec_id, cid FROM asg WHERE rk = 1),
       q AS (SELECT vec_id,
                    list_max(list_transform(embedding,
                             x -> abs(CAST(x AS DOUBLE)))) AS amax,
                    embedding
             FROM embeddings)
       SELECT q.vec_id,
              CASE WHEN amax > 0.0 THEN amax / 127.0 ELSE 0.0 END AS scale,
              CASE WHEN amax > 0.0
                   THEN list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) / (amax / 127.0))
                                  AS INT))
                   ELSE list_transform(embedding, x -> 0) END AS codes,
              a.cid
       FROM q JOIN a USING (vec_id)
       WHERE a.cid IN (0, 1)"""


@_q("io_ann_cell_prune", _ann_layout_sql())
def io_ann_cell_prune(spark, sf_dir):
    """The physical layout that makes IVF probing an I/O reduction on
    object storage: the index inventory (vec_id, int8 codes, scale)
    is written ``partitionBy(cell)``, so probing 2 of 8 cells resolves
    against the DIRECTORY LISTING (PartitionFilters — asserted in
    tests/test_plan_quality.py) and the engine never opens a file of
    an unprobed cell: at a billion-vector index that's the
    n_probe/n_cells fraction of the bytes, skipped before the first
    read. Inventory build is one pipelined projection (assignment +
    quantization, no self-join); the oracle replays assignment and
    quantization as row filters on the flat table."""
    path = _ann_index_dir(spark, sf_dir)
    inv = spark.read.parquet(path)
    return inv.filter(F.col("cid").isin(0, 1)).select(
        "vec_id", "scale", "codes", F.col("cid").cast("long").alias("cid")
    )


# ----------------------------------------- int8 stored-index serving
def _int8_served_sql() -> str:
    from .scale_queries import _DOT, _cos_sql

    cos_e = _cos_sql("e.embedding", "c.cv")
    cos_q = _cos_sql("q.embedding", "c.cv")
    cn2 = ("list_reduce(list_prepend(CAST(0 AS BIGINT), "
           "list_transform(codes, c -> CAST(c AS BIGINT) * c)), "
           "(x, y) -> x + y)")
    dot_cq = _DOT.format(a="n.codes", b="q.embedding")
    qn = f"sqrt({_DOT.format(a='q.embedding', b='q.embedding')})"
    return f"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv
                     FROM embeddings ORDER BY vec_id LIMIT 8),
       asg AS MATERIALIZED (SELECT vec_id, cid FROM (
           SELECT e.vec_id, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round({cos_e}, 6) DESC, c.cid) AS rk
           FROM embeddings e, cent c) t WHERE rk = 1),
       qc AS MATERIALIZED (
           SELECT vec_id,
                  CASE WHEN amax > 0.0
                       THEN list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE)
                                      / (amax / 127.0)) AS INT))
                       ELSE list_transform(embedding, x -> 0) END AS codes
           FROM (SELECT vec_id, embedding,
                        list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) AS amax
                 FROM embeddings) t),
       nbr AS MATERIALIZED (
           SELECT a.vec_id, a.cid, qc.codes, {cn2} AS cn2
           FROM asg a JOIN qc ON qc.vec_id = a.vec_id),
       probes AS MATERIALIZED (SELECT qid, cid FROM (
           SELECT q.vec_id AS qid, c.cid,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY round({cos_q}, 6) DESC, c.cid) AS rk
           FROM (SELECT * FROM embeddings WHERE vec_id < 10) q, cent c) t
           WHERE rk <= 2),
       sc AS (SELECT p.qid AS query_id, n.vec_id AS neighbor_id,
                     round({dot_cq} / ({qn} * sqrt(CAST(n.cn2 AS DOUBLE))),
                           6) AS score
              FROM probes p
              JOIN nbr n ON n.cid = p.cid AND n.vec_id <> p.qid
              JOIN embeddings q ON q.vec_id = p.qid
              WHERE n.cn2 > 0)
       SELECT query_id, neighbor_id, score, CAST(rk AS BIGINT) AS rk
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id) AS rk FROM sc) t
       WHERE rk <= 5"""


@_q("ann_int8_served", _int8_served_sql())
def ann_int8_served(spark, sf_dir):
    """Approximate cosine top-k served from the STORED int8 cell
    inventory (the io_ann_cell_prune layout) — the quantized serving
    path: probing turns into a literal isin() on the cell partition
    column (directory pruning — n_probe/n_cells of the index bytes
    are never read), and scoring uses ONLY stored fields. The
    per-vector scale cancels out of the cosine — score =
    Σ(codeᵢ·qᵢ) / (‖q‖ · √Σcodeᵢ²) — so the dequantized-cosine
    ranking needs no side lookup of norms or scales: 4× less memory
    traffic than float32 with the stored codes self-normalizing.
    Engine-exact: the code dot replays the HOF fold order, Σcode² is
    an exact integer, zero-code vectors are filtered (not NULL-d)."""
    from ..operators import similarity
    from ..operators.similarity import _neg_cos_entries, _norm

    path = _ann_index_dir(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings")
    cb = similarity.collect_cosine_codebook(
        e.orderBy("vec_id").limit(8).select(
            F.col("vec_id").alias("_cid"),
            F.col("embedding").alias("_cv"),
        )
    )
    probes = (
        e.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("_qv"),
            _norm(F.col("embedding")).alias("_qn"),
        )
        .select(
            "query_id", "_qv", "_qn",
            F.explode(
                F.expr(
                    "slice(array_sort(array("
                    f"{_neg_cos_entries(cb, '`_qv`', '`_qn`', 6)})), 1, 2)"
                )
            ).alias("_p"),
        )
        .select(
            "query_id", "_qv", "_qn",
            F.col("_p").getField("c").alias("cid"),
        )
        .localCheckpoint()
    )
    probed = sorted(
        int(r["cid"]) for r in probes.select("cid").distinct().collect()
    )
    inv = (
        spark.read.parquet(path)
        .filter(F.col("cid").isin(probed))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            "codes",
            F.col("cid").cast("long").alias("cid"),
        )
    )
    scored = (
        inv.join(F.broadcast(probes), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "_cn2",
            F.aggregate(
                F.col("codes"), F.lit(0).cast("long"),
                lambda acc, c: acc + c.cast("long") * c.cast("long"),
            ),
        )
        .filter(F.col("_cn2") > 0)
        .withColumn(
            "_cd",
            F.aggregate(
                F.zip_with(
                    F.col("codes"), F.col("_qv"),
                    lambda c, q: c.cast("double") * q.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        .withColumn(
            "score",
            F.round(
                F.col("_cd")
                / (F.col("_qn") * F.sqrt(F.col("_cn2").cast("double"))),
                6,
            ),
        )
    )
    from pyspark.sql import Window as W

    wq = W.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id", "score",
                F.col("rk").cast("long").alias("rk"))
    )


# ---------------------------------------- IVF-PQ stored-index serving
# Build-once IVF-PQ index per (process, sf_dir): coarse codebook,
# per-subspace PQ codebooks, and the cell-partitioned code inventory
# are all PERSISTED — the serving query below reads stored artifacts
# only, never recomputing codes from raw corpus embeddings.
_IVFPQ_DIRS: dict = FixtureMemo()


def _ann_ivfpq_index_dir(spark, sf_dir: str) -> str:
    from ..operators import ann_index

    if sf_dir not in _IVFPQ_DIRS:
        e = load(spark, sf_dir, "embeddings")
        d = tempfile.mkdtemp(prefix="ann_ivfpq_")
        ann_index.build_index(spark, e, "vec_id", "embedding", d)
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _IVFPQ_DIRS[sf_dir] = d
    return _IVFPQ_DIRS[sf_dir]


def _ivfpq_served_sql() -> str:
    from .scale_queries import _ivfpq_sql

    # the serving path must hash-match the in-memory ivfpq pipeline on
    # the same probe set — same oracle, same parameters
    return _ivfpq_sql(8, 2, 8, 8, 8, 10, 5)


@_q("ann_ivfpq_served", _ivfpq_served_sql())
def ann_ivfpq_served(spark, sf_dir):
    """IVF-PQ retrieval FROM THE STORED INDEX — the 100 TB serving
    path: no raw corpus embedding is ever read. The coarse + PQ
    codebooks load from their side tables (n_cells·d + m·k*·sub_d
    doubles), the query vectors probe their 2 nearest cells, and the
    probed cell set becomes a LITERAL isin() on the partition column,
    so the cell-partitioned code inventory resolves the probe against
    the DIRECTORY LISTING (PartitionFilters — asserted in
    tests/test_plan_quality.py): unprobed cells' files are never
    opened. Scoring is the stored-code ADC join (ivfpq_score) —
    hash-identical to ann_ivfpq_topk's in-memory composition, proving
    index persistence is lossless end to end.

    Bench note: the FIRST call per process pays the one-time index
    build (codebook training + encode + partitioned write — the
    offline job in a real deployment); steady-state serving against
    the cached index is ~8x faster (measured: 12.5s first call vs
    1.6s serve-only at sf0.1)."""
    from ..operators import ann_index

    d = _ann_ivfpq_index_dir(spark, sf_dir)
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10)
    return ann_index.serve_topk(
        spark, d, queries, "vec_id", "embedding", n_probe=2, sub_d=8, k=5
    )


_REBUILD_ROOTS: dict = FixtureMemo()


@_q("ann_index_rebuild_swap", _ivfpq_served_sql())
def ann_index_rebuild_swap(spark, sf_dir):
    """Versioned index RETRAIN + atomic swap
    (operators/ann_index.rebuild_swap) — what happens when the drift
    monitor (`ann_drift_monitor`) fires: v0 is the stale index
    (quantizers trained on the even-id half only), the retrain builds
    v1 with quantizers from the FULL corpus under the next version
    directory, and a single create-only ``_commit_index_1`` marker
    cuts serving over (create-only resolution — no pointer overwrite,
    no rename, no window where a reader sees a half-built index; the
    superseded version retires commit-file-first). Serving from the
    resolved current version must hash-match the full-corpus one-shot
    oracle — proving the retrained index lands byte-identical to a
    fresh offline build, with v0 serving until the commit instant."""
    from ..operators import ann_index

    if sf_dir not in _REBUILD_ROOTS:
        e = load(spark, sf_dir, "embeddings")
        root = tempfile.mkdtemp(prefix="ann_vroot_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        # v0: the stale pre-retrain index (base cohort quantizers)
        ann_index.rebuild_swap(
            spark, root, e.filter(F.col("vec_id") % 2 == 0),
            "vec_id", "embedding",
        )
        # drift fired -> retrain on the full corpus, atomic cutover
        v = ann_index.rebuild_swap(spark, root, e, "vec_id", "embedding")
        assert v == 1
        _REBUILD_ROOTS[sf_dir] = root
    root = _REBUILD_ROOTS[sf_dir]
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10)
    return ann_index.serve_current(
        spark, root, queries, "vec_id", "embedding",
        n_probe=2, sub_d=8, k=5,
    )


# ------------------------------------------- bucketed CTAS co-located join
# One bucketed copy per (process, sf_dir): the CTAS pays the shuffle
# at write time; the QUERY below joins with zero Exchange before the
# final rollup (plan asserted in tests/test_plan_quality.py).
_BUCKETED: dict = FixtureMemo()


def _bucketed_tables(spark, sf_dir: str) -> tuple[str, str]:
    from ..plans import bucketing

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    t_o, t_l = f"bkt_orders_{tag}", f"bkt_lineitem_{tag}"
    if _BUCKETED.get(sf_dir) is None or not spark.catalog.tableExists(t_o):
        # external tables in a per-process tmpdir: a managed table's
        # warehouse dir would outlive the in-memory catalog and break
        # the next session with LOCATION_ALREADY_EXISTS
        d = tempfile.mkdtemp(prefix="bucketed_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        bucketing.write_bucketed(
            load(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority", "o_orderstatus"
            ),
            t_o, "o_orderkey", buckets=8, path=f"{d}/{t_o}",
        )
        bucketing.write_bucketed(
            load(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            t_l, "l_orderkey", buckets=8, path=f"{d}/{t_l}",
        )
        _BUCKETED[sf_dir] = (t_o, t_l)
    return t_o, t_l


@_q(
    "io_bucketed_join",
    """SELECT o_orderpriority,
              count(*) AS n_lines,
              round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18, 4))
                            * CAST(1 - l_discount AS DECIMAL(18, 4)))
                         AS DOUBLE), 2) AS revenue
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY o_orderpriority""",
)
def io_bucketed_join(spark, sf_dir):
    """Load-once-join-many: orders and lineitem CTAS'd as parquet
    tables bucketed+sorted on the order key (plans/bucketing.py), then
    sort-merge-joined straight off storage — the scans report their
    hash partitioning, so the join plans NO Exchange and NO Sort; the
    only shuffle left is the final priority rollup. At 100 TB this
    converts the biggest fact-fact shuffle in the system into a
    write-time cost amortized over every later join on the key. The
    merge hint pins the join strategy so the bucketed path is
    exercised at every SF (AQE would otherwise broadcast the small
    side at test scale)."""
    t_o, t_l = _bucketed_tables(spark, sf_dir)
    li, o = spark.table(t_l).hint("merge"), spark.table(t_o)
    revenue = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(18,4)")
        - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(revenue).cast("double"), 2).alias("revenue"),
        )
    )


# ----------------------------------------- range-sorted clustered layout
# One time-clustered copy per (process, sf_dir). repartitionByRange +
# sortWithinPartitions give every output file a narrow disjoint ts
# range, so each parquet footer's min/max stats let a time-windowed
# scan skip whole files before reading a data page — the sort-based
# data-skipping companion to io_partitioned_prune's directory pruning
# (clustering keeps file counts flat where per-key directories would
# explode: at 100 TB you partition by day AND range-sort within it).
_SORTED_DIRS: dict = FixtureMemo()


def sorted_events_layout(spark, sf_dir: str) -> str:
    if sf_dir not in _SORTED_DIRS:
        d = tempfile.mkdtemp(prefix="events_sorted_")
        (
            time_clustered(load(spark, sf_dir, "events"), "ts", 8)
            .write.mode("overwrite")
            .parquet(f"{d}/events_sorted")
        )
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _SORTED_DIRS[sf_dir] = d
    return f"{_SORTED_DIRS[sf_dir]}/events_sorted"


@_q(
    "io_sorted_skip",
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
       FROM events
       WHERE ts >= TIMESTAMP '2024-01-10'
         AND ts < TIMESTAMP '2024-01-12'
       GROUP BY event_type""",
)
def io_sorted_skip(spark, sf_dir):
    """Two-day slice off the time-clustered events copy. The ts
    predicates reach the parquet reader (PushedFilters — asserted in
    tests/test_plan_quality.py), where the per-file min/max stats of
    the range-sorted layout satisfy or reject whole files: the scan
    reads ~2 days of bytes regardless of how many years the table
    holds. The oracle runs the same slice as a row filter on the flat
    table."""
    ev = spark.read.parquet(sorted_events_layout(spark, sf_dir))
    return (
        ev.filter(
            (F.col("ts") >= F.to_timestamp(F.lit("2024-01-10")))
            & (F.col("ts") < F.to_timestamp(F.lit("2024-01-12")))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# --------------------------------------------- bloom-filtered layout
_BLOOM_DIRS: dict = FixtureMemo()


def bloom_events_layout(spark, sf_dir: str) -> str:
    """Events rewritten WITHOUT any clustering (hash repartition, so
    every file's event_id min/max spans the full key range and
    stats-based skipping is useless) but WITH a parquet bloom filter
    on the unique event_id key — dictionary encoding disabled for
    that column (a dictionary over unique values is pure overhead,
    and parquet-mr omits the bloom filter for fully dict-encoded
    chunks because the dictionary already answers membership
    exactly). This is the point-lookup layout for high-cardinality
    NON-sort keys at the 100 TB point: the sort key buys min/max
    skipping for one dimension; bloom filters buy probabilistic
    row-group rejection for everything else at ~1 byte/key. Footer
    presence is asserted in tests/test_io_bloom.py via parquet-mr."""
    if sf_dir not in _BLOOM_DIRS:
        d = tempfile.mkdtemp(prefix="events_bloom_")
        (
            load(spark, sf_dir, "events")
            .repartition(8)
            .write.mode("overwrite")
            .option("parquet.bloom.filter.enabled#event_id", "true")
            .option("parquet.bloom.filter.expected.ndv#event_id",
                    "1000000")
            .option("parquet.enable.dictionary#event_id", "false")
            .parquet(f"{d}/events_bloom")
        )
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _BLOOM_DIRS[sf_dir] = d
    return f"{_BLOOM_DIRS[sf_dir]}/events_bloom"


@_q(
    "io_bloom_skip",
    """SELECT event_type, count(*) AS n,
              round(sum(value), 2) AS total_value
       FROM events
       WHERE event_id IN (13, 777, 131313131)
       GROUP BY event_type""",
)
def io_bloom_skip(spark, sf_dir):
    """Point lookups by primary key on the bloom-filtered,
    deliberately UNclustered events copy. The IN predicate reaches
    the parquet reader (PushedFilters — asserted in tests), where
    parquet-mr tests each row group's bloom filter BEFORE decoding:
    groups that provably lack all probed keys (like the absent
    131313131) are rejected without reading data pages — min/max
    stats cannot help because the hash layout spreads every key
    range across every file, and there is no dictionary to consult
    on the plain-encoded unique key. The oracle replays the lookup
    as a row filter on the flat table."""
    ev = spark.read.parquet(bloom_events_layout(spark, sf_dir))
    return (
        ev.filter(F.col("event_id").isin(13, 777, 131313131))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@_q(
    "io_dict_skip",
    """SELECT event_type, count(*) AS n,
              round(sum(value), 2) AS total_value
       FROM events
       WHERE user_id IN (7, 93, 987654321)
       GROUP BY event_type""",
)
def io_dict_skip(spark, sf_dir):
    """Dictionary-based row-group pruning — the EXACT sibling of
    io_bloom_skip, on the same unclustered layout: user_id stays
    dictionary-encoded there (low cardinality), so parquet-mr's
    dictionary filter reads each row group's dictionary page and
    rejects groups where NO probed key appears — exact membership,
    no false-positive reads, at the cost of one dictionary page per
    group. The division of labor at 100 TB: dictionary pruning for
    low-cardinality keys, bloom filters for unique keys whose
    dictionary would be pure overhead (io_bloom_skip), min/max
    stats for the sort dimension (io_sorted_skip). Dictionary-page
    presence is footer-asserted in tests/test_io_bloom.py."""
    ev = spark.read.parquet(bloom_events_layout(spark, sf_dir))
    return (
        ev.filter(F.col("user_id").isin(7, 93, 987654321))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# --------------------------------------------- z-order clustered layout
_ZORDER_DIRS: dict = FixtureMemo()


def zorder_events_layout(spark, sf_dir: str) -> str:
    from ..plans.zorder import zorder_clustered

    if sf_dir not in _ZORDER_DIRS:
        d = tempfile.mkdtemp(prefix="events_zorder_")
        (
            zorder_clustered(
                load(spark, sf_dir, "events"), ["user_id", "value"], 8
            )
            .write.mode("overwrite")
            .parquet(f"{d}/events_zorder")
        )
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _ZORDER_DIRS[sf_dir] = d
    return f"{_ZORDER_DIRS[sf_dir]}/events_zorder"


@_q(
    "io_zorder_skip",
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
       FROM events
       WHERE user_id BETWEEN 20 AND 40
         AND value BETWEEN 100 AND 150
       GROUP BY event_type""",
)
def io_zorder_skip(spark, sf_dir):
    """Two-dimensional probe (a user band AND a value band) off the
    z-order-clustered events copy (plans/zorder.py). Both range
    predicates push to the parquet reader; because the Morton layout
    gives every file a tight hyper-rectangle in (user_id, value)
    space, footer stats reject files on EITHER dimension — the
    multi-column data-skipping move Delta/Iceberg call OPTIMIZE
    ZORDER, here as an explicit rewrite plan. The z-key orders the
    layout only and is dropped before the write, so result parity
    never depends on it; the oracle runs the same probe on the flat
    table."""
    ev = spark.read.parquet(zorder_events_layout(spark, sf_dir))
    return (
        ev.filter(
            F.col("user_id").between(20, 40)
            & F.col("value").between(100, 150)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# ------------------------------------------------ small-files compaction
_COMPACT_DIRS: dict = FixtureMemo()


def _compacted_events(spark, sf_dir: str) -> str:
    if sf_dir not in _COMPACT_DIRS:
        d = tempfile.mkdtemp(prefix="events_compact_")
        # simulate micro-batch accretion: ~50 tiny files written by one
        # task (a 50-way shuffle and write pays 50 task set-ups; one
        # partition also spares the count its exchange), then compact
        ev = load(spark, sf_dir, "events").coalesce(1)
        per_file = max(1, -(-ev.count() // 50))
        ev.write.option("maxRecordsPerFile", per_file).parquet(f"{d}/small")
        record_written(spark, f"{d}/small", ev.schema)
        sinks.compact_parquet(spark, f"{d}/small", f"{d}/compacted")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _COMPACT_DIRS[sf_dir] = d
    return f"{_COMPACT_DIRS[sf_dir]}/compacted"


@_q(
    "io_compact_roundtrip",
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value,
              count(DISTINCT user_id) AS n_users
       FROM events GROUP BY event_type""",
)
def io_compact_roundtrip(spark, sf_dir):
    """Aggregate over a small-files table AFTER the compaction
    rewrite (sources/sinks.compact_parquet): ~50 micro-batch-sized
    files rewritten to target-size files, value-parity against the
    flat original proving the maintenance pass is lossless. At 100 TB
    the same pass turns a million-file day into thousands of
    scan-efficient files — task count, not bytes, is what the small
    files inflate."""
    path = _compacted_events(spark, sf_dir)
    ev = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@_q(
    "io_dynamic_partition_prune",
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
       FROM events
       WHERE day(CAST(ts AS DATE)) % 7 = 3
       GROUP BY event_type""",
)
def io_dynamic_partition_prune(spark, sf_dir):
    """Dynamic partition pruning — the RUNTIME companion to
    io_partitioned_prune's static pruning: the partitioned events
    table joined to a small date dimension that is only filtered at
    plan time (day-of-month band), so the partition list cannot be
    enumerated statically. Spark broadcasts the filtered dim, then
    re-uses the broadcast result as a partition filter on the fact
    scan (``dynamicpruningexpression`` — asserted in
    tests/test_plan_quality.py), so only matching directories are
    read. At 100 TB this is the difference between scanning a year
    and scanning the ~4 matching days per month when the filter
    arrives through a dimension join instead of a literal."""
    ev = spark.read.parquet(_partitioned_events(spark, sf_dir))
    dim = (
        load(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("d"))
        .distinct()
        .filter(F.dayofmonth("d") % 7 == 3)
    )
    return (
        ev.join(F.broadcast(dim), ev.event_date == dim.d)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@_q(
    "s2_csv_permissive",
    """SELECT o_orderstatus,
              count(*) AS n,
              count(*) FILTER (WHERE o_orderkey % 13 = 0) AS n_malformed,
              round(sum(CASE WHEN o_orderkey % 13 = 0 THEN 0.0
                             ELSE o_totalprice END), 2) AS good_price
       FROM orders GROUP BY o_orderstatus""",
)
def s2_csv_permissive(spark, sf_dir):
    """Malformed-input tolerance at the CSV edge — the ingestion
    reality the reference's pandas `read_csv` meets with a crash:
    every 13th order is written with a corrupted numeric field, and
    the explicit-schema PERMISSIVE read turns exactly those cells
    into NULL instead of failing the job (DROPMALFORMED/FAILFAST are
    the documented alternatives on readers.csv_source). The query
    accounts for the damage — row counts preserved, corrupt rows
    identified by their NULL parse, good revenue intact — which is
    the quarantine-and-continue contract a 100 TB daily ingest needs
    (one bad byte must not kill a million-file load). The oracle
    recomputes the same ledger from the clean table."""
    tmp = tempfile.mkdtemp(prefix="csv_permissive_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("NOT_A_NUMBER"))
        .otherwise(F.col("o_totalprice").cast("string"))
        .alias("o_totalprice"),
    )
    sinks.csv_sink(o, f"{tmp}/orders_dirty")
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    back = readers.csv_source(
        spark, f"{tmp}/orders_dirty", schema=schema, mode="PERMISSIVE"
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("o_totalprice").isNull(), 1)).alias(
            "n_malformed"
        ),
        F.round(F.sum(F.coalesce("o_totalprice", F.lit(0.0))), 2).alias(
            "good_price"
        ),
    )


# ------------------------------------------------ S4 HuggingFace snapshot
@_q(
    "s4_hf_snapshot",
    """SELECT c_mktsegment AS country, '' AS salary, count(*) AS cnt
       FROM customer
       WHERE lower(c_mktsegment) IN ('building', 'automobile')
       GROUP BY c_mktsegment""",
)
def s4_hf_snapshot(spark, sf_dir):
    """S4 — HuggingFace ingest through the offline-snapshot path
    (src/data_extract.py:73-79 done Spark-native): a parquet mirror of
    the dataset (customer stands in for ``lukebarousse/data_jobs``) is
    read with :func:`readers.hf_snapshot_source`, P1-mapped to the
    canonical schema (absent ``salary`` column → ``''``), then
    union-ed with a SECOND source call against a path that does not
    exist — exercising the reference's fallback-to-empty contract
    (``hf_df = pd.DataFrame()`` on load failure, src/data_extract.py:
    78-79) inside the query itself: the union must be a no-op. The
    US-filter shape (country-column isin, case-insensitive,
    src/data_extract.py:85-90) runs before the aggregate."""
    tmp = tempfile.mkdtemp(prefix="hf_snapshot_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    snap = f"{tmp}/snapshot"
    load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    ).write.mode("overwrite").parquet(snap)
    colmap = {
        "name": "c_name",
        "country": "c_mktsegment",
        "location": "c_address_missing",
        "salary": "job_salary_missing",
    }
    hf = readers.hf_snapshot_source(spark, snap, column_map=colmap)
    fallback = readers.hf_snapshot_source(
        spark, f"{tmp}/no_such_snapshot", column_map=colmap
    )
    both = hf.unionByName(fallback, allowMissingColumns=True)
    usa_style = both.filter(
        F.lower(F.col("country")).isin("building", "automobile")
    )
    return usa_style.groupBy("country", "salary").agg(
        F.count(F.lit(1)).alias("cnt")
    )


# ---------------------------------------------------------- S3 Excel edge
@_q(
    "s3_excel_roundtrip",
    """SELECT o_orderstatus, count(*) AS n,
              round(sum(o_totalprice), 2) AS total_price
       FROM orders WHERE o_orderkey % 20 = 1
       GROUP BY o_orderstatus""",
)
def s3_excel_roundtrip(spark, sf_dir):
    """S3 Excel ingest proven end-to-end with real workbooks
    (src/data_extract.py:58, :64): a 5% orders slice is written as
    four XLSX files by the distributed sink (one stdlib-codec writer
    task per file), read back through excel_source (binaryFile →
    mapInPandas parse — one task per workbook, the scale unit for a
    many-file drop zone), typed with explicit casts at the raw string
    edge, and aggregated. Value parity against the parquet original
    proves the whole SpreadsheetML boundary is lossless for the
    carried longs/doubles/strings."""
    from ..sources.readers import excel_source

    tmp = tempfile.mkdtemp(prefix="excel_roundtrip_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 20 == 1)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    sinks.xlsx_sink(o, f"{tmp}/orders_xlsx", num_files=4).collect()
    back = excel_source(spark, f"{tmp}/orders_xlsx/*.xlsx")
    return (
        back.select(
            F.col("o_orderstatus"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


# ----------------------------------------------------------- S6 JDBC edge
_DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
_WAREHOUSE: list = []          # the process's warehouse URL, once made
_WAREHOUSE_LOCK = threading.Lock()
_SCHEMA_IDS = itertools.count()


def _warehouse(spark) -> str:
    """URL of the process's one embedded-Derby warehouse (the Derby
    jars ship inside pyspark/jars, so the driver class is always on the
    classpath). The first call boots the engine and creates the
    database under a ``mkdtemp``; an ``atexit`` hook shuts the engine
    down and then removes the directory. Every later call returns the
    same URL.

    S6 queries stay hermetic through :func:`_call_schema`, not through
    a database each: each call works in a fresh schema and drops it
    once its result is materialized. Measured at sf0.02 on a 4-vCPU VM
    with a warm JVM: re-booting the engine and creating a database
    took 0.29-0.48 s per call, and shutting the engine down again
    0.06-0.08 s, when every call made its own; here the first call
    pays the boot and the create once (~0.35 s), and a call's schema
    with two tables then costs ~0.02 s to create and ~0.03 s to drop.
    A resident engine taxes no later query: five ops timed in 20
    alternating blocks after an S6 call, with the engine shut down or
    left running, had resident/shut-down median ratios of 0.79-1.02."""
    with _WAREHOUSE_LOCK:
        if not _WAREHOUSE:
            jvm = spark._jvm
            d = tempfile.mkdtemp(prefix="derby_warehouse_")
            url = f"jdbc:derby:{d}/db"
            sinks.jdbc_connect(
                spark, f"{url};create=true", _DERBY_PROPS).close()

            def close() -> None:
                try:
                    jvm.java.sql.DriverManager.getConnection(
                        "jdbc:derby:;shutdown=true")
                except Exception:
                    pass  # XJ015 "Derby system shutdown" is the success path
                shutil.rmtree(d, ignore_errors=True)

            atexit.register(close)
            _WAREHOUSE.append(url)
        return _WAREHOUSE[0]


@contextlib.contextmanager
def _call_schema(spark):
    """``(url, schema)``: a fresh schema in the warehouse for one S6
    call, dropped with every table in it when the block exits. Tables
    are named ``<schema>.<table>``, so a staging table
    ``<table>_stage`` lands in the same schema."""
    url = _warehouse(spark)
    schema = f"S6_{next(_SCHEMA_IDS)}"
    sinks.jdbc_exec(spark, url, f"CREATE SCHEMA {schema}",
                    properties=_DERBY_PROPS)
    try:
        yield url, schema
    finally:
        conn = sinks.jdbc_connect(spark, url, _DERBY_PROPS)
        try:
            found = conn.getMetaData().getTables(None, schema, "%", None)
            tables = []
            while found.next():
                tables.append(found.getString("TABLE_NAME"))
            found.close()
            st = conn.createStatement()
            for t in tables:
                st.execute(f'DROP TABLE {schema}."{t}"')
            st.execute(f"DROP SCHEMA {schema} RESTRICT")
            st.close()
        finally:
            conn.close()


@_q(
    "s6_jdbc_roundtrip",
    """SELECT o_orderstatus, count(*) AS n,
              round(sum(o_totalprice), 2) AS total_price
       FROM orders WHERE o_orderkey % 10 = 0
       GROUP BY o_orderstatus""",
)
def s6_jdbc_roundtrip(spark, sf_dir):
    """S6 warehouse boundary proven end-to-end through a REAL JDBC
    database (embedded Derby): a 10% orders slice goes out through
    the batched JDBC writer (4 writer partitions × 1000-row batches —
    the reference's 100-row pyodbc commits, src/load_sqlserver.py:91-96,
    distributed), comes back through spark.read.jdbc, and is
    aggregated; value parity against the parquet original proves the
    append path carries longs/doubles/strings losslessly. The slice
    keeps the single-JVM Derby cost bounded at any SF; on a real
    warehouse the same code scales writers with num_partitions."""
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    with _call_schema(spark) as (url, schema):
        sinks.jdbc_sink(
            o, url, f"{schema}.orders_out", properties=_DERBY_PROPS,
            batchsize=1000, num_partitions=4, mode="overwrite",
        )
        back = spark.read.jdbc(url, f"{schema}.orders_out",
                               properties=_DERBY_PROPS)
        # materialize the (tiny) result before the schema is dropped:
        # the lazy JDBC scan would otherwise read a dropped table
        return back.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        ).localCheckpoint(eager=True)


@_q(
    "s6_jdbc_stream_upsert",
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                         event_id, value
                  FROM events WHERE event_id % 10 = 0),
       r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC,
                                                   event_id DESC) AS rn
             FROM e)
       SELECT user_id, ts AS last_ts, event_id AS last_event_id,
              round(value, 2) AS last_value
       FROM r WHERE rn = 1""",
)
def s6_jdbc_stream_upsert(spark, sf_dir):
    """Exactly-once streaming upsert INTO a real JDBC database: the
    events stream (10% slice, two file copies drained one per
    micro-batch) maintains a per-user latest-state table in embedded
    Derby via foreach_batch_jdbc_upsert — stage bulk-load through the
    distributed JDBC writer, then set-based DELETE+INSERT on the
    target. Duplicate delivery (the second identical file) collapses
    because the merge converges, so the final table is the per-user
    argmax the oracle computes."""
    from ..streaming.incremental import (
        drain_available_now,
        foreach_batch_jdbc_upsert,
    )
    from .streaming_queries import _events_stream

    stream = (
        _events_stream(
            spark,
            sf_dir,
            links={"events_a.parquet": "events.parquet",
                   "events_b.parquet": "events.parquet"},
            maxFilesPerTrigger=1,
        )
        .filter(F.col("event_id") % 10 == 0)
        .select("user_id", "ts", "event_id", "value")
    )
    with _call_schema(spark) as (url, schema):
        table = f"{schema}.events_state"
        # create the empty target up front (the merge needs it to exist)
        sinks.jdbc_sink(
            tiny_df(spark, [], stream.schema),
            url, table, properties=_DERBY_PROPS, mode="overwrite",
        )
        drain_available_now(
            spark,
            foreach_batch_jdbc_upsert(
                stream, url, table,
                key_col="user_id", order_cols=("ts", "event_id"),
                properties=_DERBY_PROPS,
            ),
        )
        back = spark.read.jdbc(url, table, properties=_DERBY_PROPS)
        return back.select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            F.round("value", 2).alias("last_value"),
        ).localCheckpoint(eager=True)


@_q(
    "s3_excel_datasource",
    """SELECT o_orderstatus, count(*) AS n,
              round(sum(o_totalprice), 2) AS total_price
       FROM orders WHERE o_orderkey % 20 = 2
       GROUP BY o_orderstatus""",
)
def s3_excel_datasource(spark, sf_dir):
    """S3 Excel through the Spark 4 Python Data Source API
    (sources/xlsx_datasource): ``df.write.format("xlsx")`` commits one
    workbook per task with per-task commit messages, and
    ``spark.read.format("xlsx")`` plans one input partition per
    workbook — the fully idiomatic V2 spelling of the same stdlib
    codec excel_source drives through binaryFile. Value parity vs the
    parquet original proves the V2 read AND write paths are
    lossless."""
    from ..sources.xlsx_datasource import register

    register(spark)
    tmp = tempfile.mkdtemp(prefix="excel_ds_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 20 == 2)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    o.repartition(4).write.format("xlsx").mode("overwrite").save(
        f"{tmp}/orders_xlsx"
    )
    back = spark.read.format("xlsx").load(f"{tmp}/orders_xlsx/*.xlsx")
    return (
        back.select(
            "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@_q(
    "s3_excel_quarantine",
    """SELECT o_orderstatus, count(*) AS n,
              round(sum(o_totalprice), 2) AS total_price
       FROM orders
       WHERE o_orderkey % 20 = 3 AND (o_orderkey // 20) % 4 <> 0
       GROUP BY o_orderstatus""",
)
def s3_excel_quarantine(spark, sf_dir):
    """Corrupt-workbook tolerance at the Excel edge — the ingestion
    reality the reference's pd.read_excel meets with a crash: four
    key-sliced workbooks are written, slice 0's file is then truncated
    to garbage bytes, and the DROPMALFORMED read quarantines exactly
    that file while the other three load. The oracle computes the
    surviving slices directly from the key rule, so the check proves
    BOTH that corrupt input didn't kill the job AND that nothing else
    was dropped. excel_scan_report (tested in test_xlsx) is the audit
    twin that lists the quarantined file."""
    from ..sources.readers import excel_source
    from ..sources.xlsx import write_xlsx

    tmp = tempfile.mkdtemp(prefix="excel_quarantine_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    d = f"{tmp}/drop_zone"
    base = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 20 == 3)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    for slice_ix in range(4):
        part = base.filter((F.col("o_orderkey") / 20).cast("long") % 4 == slice_ix)
        sinks.xlsx_sink(part, d, num_files=1).collect()
        import os as _os

        written = [
            f for f in _os.listdir(d) if f.startswith("part-")
        ][0]
        _os.rename(f"{d}/{written}", f"{d}/slice_{slice_ix}.xlsx")
    with open(f"{d}/slice_0.xlsx", "wb") as f:
        f.write(b"PK\x03\x04 truncated garbage not a zip")
    back = excel_source(spark, f"{d}/*.xlsx", mode="DROPMALFORMED")
    return (
        back.select(
            "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@_q(
    "io_orc_roundtrip",
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value,
              count(DISTINCT user_id) AS n_users
       FROM events WHERE value >= 10 GROUP BY event_type""",
)
def io_orc_roundtrip(spark, sf_dir):
    """Events through the ORC format edge (the other columnar format a
    warehouse migration meets): write once with snappy, read back, and
    aggregate behind a value filter. ORC carries the same scan-level
    machinery as parquet — column pruning, min/max stripe skipping,
    predicate pushdown — so the 100 TB read path is format-symmetric;
    value parity against the parquet original proves the roundtrip is
    lossless, NTZ timestamps included."""
    tmp = tempfile.mkdtemp(prefix="orc_roundtrip_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    load(spark, sf_dir, "events").write.option(
        "compression", "snappy"
    ).orc(f"{tmp}/events_orc")
    back = spark.read.orc(f"{tmp}/events_orc").filter(F.col("value") >= 10)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@_q(
    "io_jsonl_roundtrip",
    """SELECT source, lang, count(*) AS n,
              CAST(sum(n_chars) AS BIGINT) AS total_chars,
              CAST(max(doc_id) AS BIGINT) AS max_doc_id
       FROM documents GROUP BY source, lang""",
)
def io_jsonl_roundtrip(spark, sf_dir):
    """Documents through gzipped JSON-lines — the interchange format
    most scraped/annotated corpora actually arrive in. Write with
    gzip, read back with an EXPLICIT schema (schema inference over
    JSONL is a full extra pass at 100 TB — never pay it twice), then
    aggregate. JSONL is line-splittable only when uncompressed;
    gzip makes each file one task, which is why the writer controls
    file count — the same reasoning as the XLSX one-partition-per-
    workbook edge."""
    tmp = tempfile.mkdtemp(prefix="jsonl_roundtrip_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    docs = load(spark, sf_dir, "documents")
    docs.write.option("compression", "gzip").json(f"{tmp}/docs_jsonl")
    back = spark.read.schema(docs.schema).json(f"{tmp}/docs_jsonl")
    return back.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
    )


@_q(
    "io_jsonl_quarantine",
    """SELECT CASE WHEN doc_id % 50 = 0 THEN 'QUARANTINE' ELSE source END
              AS source,
              count(*) AS n,
              CAST(coalesce(sum(CASE WHEN doc_id % 50 = 0 THEN NULL
                                     ELSE n_chars END), 0) AS BIGINT)
                  AS total_chars
       FROM documents
       GROUP BY CASE WHEN doc_id % 50 = 0 THEN 'QUARANTINE' ELSE source END""",
)
def io_jsonl_quarantine(spark, sf_dir):
    """Malformed-line quarantine on the JSONL edge: every 50th
    document is written as a broken line (unterminated JSON), the
    read-back runs PERMISSIVE with columnNameOfCorruptRecord, and
    broken lines land in a 'QUARANTINE' bucket with their count —
    the ingest never aborts and never silently drops. This is the
    JSONL twin of s3_excel_quarantine / s2_csv_permissive: at 100 TB
    a scrape drop always contains garbage lines, and the quarantine
    ledger is what makes the loss auditable. Corruption is
    synthesized deterministically (doc_id % 50) so the oracle knows
    the expected ledger exactly."""
    tmp = tempfile.mkdtemp(prefix="jsonl_quarantine_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    docs = load(spark, sf_dir, "documents")
    line = F.when(
        F.col("doc_id") % 50 == 0,
        F.concat(F.lit('{"doc_id": '), F.col("doc_id"), F.lit(", BROKEN")),
    ).otherwise(F.to_json(F.struct(*docs.columns)))
    docs.select(line.alias("value")).write.text(f"{tmp}/dropzone")
    schema = docs.schema.add("_corrupt", "string")
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(f"{tmp}/dropzone")
    )
    return (
        back.select(
            F.when(F.col("_corrupt").isNotNull(), F.lit("QUARANTINE"))
            .otherwise(F.col("source"))
            .alias("source"),
            "n_chars",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long").alias(
                "total_chars"
            ),
        )
    )


@_q(
    "io_table_checksum",
    """WITH r AS (SELECT CAST(concat('0x', substring(md5(
                concat_ws('|', CAST(o_orderkey AS VARCHAR),
                          CAST(o_custkey AS VARCHAR), o_orderstatus,
                          CAST(round(o_totalprice, 2) AS VARCHAR),
                          strftime(o_orderdate, '%Y-%m-%d'),
                          o_orderpriority)), 1, 15)) AS BIGINT) AS h
         FROM orders)
       SELECT count(*) AS n_rows,
              CAST(CAST(sum(h) AS HUGEINT) AS VARCHAR)
                  AS content_checksum
       FROM r""",
)
def io_table_checksum(spark, sf_dir):
    """Order-independent whole-table content checksum: md5 each
    canonicalized row, SUM the 60-bit hash integers. Because addition
    commutes, the checksum is identical for any partitioning, file
    order, or engine — the migration-validation primitive that lets
    you verify a 100 TB copy without sorting either side (row-count
    collisions cancel only if a full row flips to another valid row's
    exact hash delta — vanishing at 60 bits). Partial sums combine
    map-side; one 1-row result. The canonical form pins column order,
    '|' separators, cents-rounded floats, and %Y-%m-%d dates so both
    engines hash byte-identical strings."""
    o = load(spark, sf_dir, "orders")
    from ..operators.hashing import md5_long

    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.round("o_totalprice", 2).cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.col("o_orderpriority"),
    )
    return o.select(md5_long(canon).alias("_h")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("_h").cast("decimal(38,0)"))
        .cast("string")
        .alias("content_checksum"),
    )


@_q(
    "io_schema_evolution",
    """SELECT event_type,
              count(*) AS n,
              CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_v2,
              round(sum(CASE WHEN event_id % 2 = 1 THEN value END), 2)
                  AS v2_value
       FROM events GROUP BY event_type""",
)
def io_schema_evolution(spark, sf_dir):
    """Schema evolution on the lake path: generation 1 files lack the
    ``value`` column, generation 2 adds it; a single
    ``mergeSchema`` read reconciles both under the union schema with
    NULLs for the missing column — the contract that lets a year of
    schema drift stay queryable without rewriting old files. The
    oracle reproduces the same union from the flat source (even ids
    = v1 rows whose value reads NULL)."""
    tmp = tempfile.mkdtemp(prefix="schema_evo_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    ev.filter(F.col("event_id") % 2 == 0).drop("value").write.parquet(
        f"{tmp}/t/gen=1"
    )
    ev.filter(F.col("event_id") % 2 == 1).write.parquet(f"{tmp}/t/gen=2")
    back = spark.read.option("mergeSchema", "true").parquet(f"{tmp}/t")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("value").isNotNull()).cast("int"))
        .cast("long")
        .alias("n_v2"),
        F.round(F.sum("value"), 2).alias("v2_value"),
    )


@_q(
    "io_partition_overwrite",
    """WITH base AS (SELECT event_id, event_type, value,
                          CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
                 FROM events),
       final AS (
         SELECT event_id, event_type,
                CASE WHEN day = (SELECT min(day) FROM base)
                     THEN value * 2 ELSE value END AS value,
                day
         FROM base)
       SELECT day, count(*) AS n, round(sum(value), 2) AS total_value
       FROM final GROUP BY day""",
)
def io_partition_overwrite(spark, sf_dir):
    """Dynamic partition overwrite — the lake's idempotent
    reprocess-one-day primitive: with partitionOverwriteMode=dynamic,
    rewriting a corrected slice of ONE day replaces only that day's
    directory while every other partition's files stay untouched (a
    static overwrite would wipe the whole table). The corrected day
    doubles its values, the read-back aggregates per day, and the
    oracle reproduces the post-overwrite state from the flat source —
    proving both the replacement and the isolation."""
    tmp = tempfile.mkdtemp(prefix="dyn_overwrite_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", F.to_date("ts").alias("day")
    )
    ev.write.partitionBy("day").parquet(f"{tmp}/t")
    first_day = ev.agg(F.min("day").alias("d")).collect()[0]["d"]
    corrected = ev.filter(F.col("day") == first_day).withColumn(
        "value", F.col("value") * 2
    )
    old_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        corrected.write.mode("overwrite").partitionBy("day").parquet(
            f"{tmp}/t"
        )
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", old_mode
        )
    back = spark.read.parquet(f"{tmp}/t")
    return back.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def _ivfpq_filtered_served_sql() -> str:
    from .scale_queries import _ivfpq_sql

    return _ivfpq_sql(8, 2, 8, 8, 8, 10, 5, inv_pred="label < 3")


@_q("ann_filtered_served", _ivfpq_filtered_served_sql())
def ann_filtered_served(spark, sf_dir):
    """Filtered retrieval FROM THE STORED INDEX — the serving-path
    twin of ann_filtered_ivfpq: one shared index answers every
    metadata predicate (quantizers and the cell-partitioned inventory
    are predicate-agnostic), the probed-cell directory pruning still
    bounds what's opened, and the allowed-id table (label < 3)
    broadcast-semi-joins the probed codes BEFORE ranking. Reuses the
    SAME persisted index as ann_ivfpq_served — filtered and
    unfiltered serving from one store, each hash-matching its
    oracle."""
    from ..operators import ann_index

    d = _ann_ivfpq_index_dir(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings")
    return ann_index.serve_topk(
        spark, d, e.filter(F.col("vec_id") < 10), "vec_id", "embedding",
        n_probe=2, sub_d=8, k=5,
        allowed=e.filter(F.col("label") < 3).select("vec_id"),
    )


def _hard_neg_served_sql() -> str:
    from .scale_queries import _ivfpq_sql

    return _ivfpq_sql(
        8, 2, 8, 8, 8, 10, 5,
        q_pred="vec_id < 50 AND label = 0",
        inv_pred="label <> 0",
    )


@_q("ann_hard_negatives_served", _hard_neg_served_sql())
def ann_hard_negatives_served(spark, sf_dir):
    """Hard-negative mining FROM THE STORED INDEX — the serving-path
    claim of ml_hard_negatives made real: anchors are the label-0
    cohort, the allowed-id table is every OTHER label, and the SAME
    persisted IVF-PQ store that answers plain and filtered retrieval
    serves the mining workload (probed-cell directory pruning intact,
    the label filter broadcast-semi-joined before ranking). Per-label
    anchor cohorts make the per-anchor exclusion a per-cohort
    inventory filter, so one serve call handles a whole cohort — the
    production loop is one call per label, each bounded the same
    way."""
    from ..operators import ann_index

    d = _ann_ivfpq_index_dir(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings")
    return ann_index.serve_topk(
        spark, d,
        e.filter((F.col("vec_id") < 50) & (F.col("label") == 0)),
        "vec_id", "embedding", n_probe=2, sub_d=8, k=5,
        allowed=e.filter(F.col("label") != 0).select("vec_id"),
    )
