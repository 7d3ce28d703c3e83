"""Scale-family grab bag: pii/privacy, graph, geo, sampling extensions, pipeline cards and planners, agg sketches.

Split out of scale_queries.py in round 12 (VERDICT r11 #6); query
bodies and oracles preserved verbatim in their original registration
order. ``scale_queries`` merges the family registries back into the
original global order, so the driver surface is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import (
    dedup,
    graph,
    multimodal,
    privacy,
    sampling,
    similarity,
    ssjoin,
    textstats,
)
from ..operators.hashing import (
    MERSENNE_P,
    affine_hash_sql,
    md5_long,
    md5_long_sql,
    minhash_coeffs,
)
from ..plans.schemas import load
from ..plans.session import tiny_df
from ._fixtures import FixtureMemo
from .scale_common import (
    GEO_ZONES,
    _DP_CAP_EVENTS,
    _DP_CLAMP,
    _DP_EPS,
    _DP_SENS_CENTS,
    _DP_TAU,
    _QUALITY_F_CTE,
    _QUALITY_SCORE_SQL,
    _bfs_sql,
    _cluster_cap_sql,
    _cluster_map,
    _cluster_split_sql,
    _cms_sql,
    _data_card_sql,
    _dp_bounded_sum_sql,
    _dp_release_sql,
    _geo_coord_sql,
    _geo_knn_sql,
    _geo_pip_sql,
    _geo_points,
    _kcore_sql,
    _knn_graph_adaptive_ctes,
    _pagerank_sql,
    _pii_oracle_sql,
    _pref_pairs_sql,
    mix_plan_from_tokens,
    _link_pred_sql,
)

QUERIES = {}
ORACLES = {}


def _q(name, oracle=None):
    def reg(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return reg


@_q(
    "graph_knn_mutual_components",
    f"""WITH RECURSIVE {_knn_graph_adaptive_ctes(64, 3)},
       mut AS (SELECT x.src AS s, x.neighbor_id AS d
               FROM knn x JOIN knn y
                 ON x.src = y.neighbor_id AND x.neighbor_id = y.src
               WHERE x.src < x.neighbor_id),
       edges AS (SELECT s, d FROM mut UNION SELECT d, s FROM mut),
       reach(v, r) AS (
         SELECT s, s FROM edges
         UNION
         SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.v),
       comp AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY v),
       sizes AS (SELECT cluster_id, count(*) AS csize
                 FROM comp GROUP BY cluster_id)
       SELECT csize, count(*) AS n_components
       FROM sizes GROUP BY csize""",
)
def graph_knn_mutual_components(spark, sf_dir):
    """Mutual-kNN clustering: keep only RECIPROCATED 3-NN edges (the
    hubness filter — a one-way edge usually just points into a dense
    region), then connected components via two-star alternation
    (O(log n) rounds) and a component-size histogram. This is the
    scalable semantic-clustering recipe (mutual-kNN components are
    the standard cheap proxy for cluster structure before anything
    as heavy as k-means): LSH bounds edge generation with a plane
    count that GROWS with log(corpus) (adaptive_planes — fixed
    planes made in-bucket pair cost n²/2^planes, the r12 5.0×-at-10×
    finding; adaptively it resolves to the historical planes=4 at
    every verified gate scale), the mutual filter is a self-join on
    the existing edge key, and CC never materializes anything bigger
    than the edge list. Oracle replays the adaptive bucketing and
    the closure with a recursive CTE."""
    e = load(spark, sf_dir, "embeddings")
    edges = similarity.knn_graph_adaptive(
        e, "vec_id", "embedding", dim=64, k=3
    )
    mut = graph.mutual_edges(edges, "src", "neighbor_id")
    comp = graph.connected_components_twostar(
        mut.select(
            F.col("src").alias("doc_a"),
            F.col("neighbor_id").alias("doc_b"),
        )
    )
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("csize")
    )
    return sizes.groupBy("csize").agg(
        F.count(F.lit(1)).alias("n_components")
    )


# ------------------------------------------------------ skew-safe aggregate
@_q(
    "a6_salted_counts",
    "SELECT c_mktsegment, count(*) AS cnt FROM customer GROUP BY c_mktsegment",
)
def a6_salted_counts(spark, sf_dir):
    """A6 under key skew: explicit two-phase salted aggregate — same
    answer as the plain groupBy (the oracle), but a hot key's rows
    fan out over 16 reducers in phase 1 (SURVEY.md §7.4 skew note)."""
    from ..operators import analytics as A

    c = load(spark, sf_dir, "customer")
    return A.salted_count_by_dim(c, "c_mktsegment", buckets=16)


@_q(
    "j8_skew_join",
    """WITH f AS (
         SELECT CASE WHEN l_partkey % 1000 < 900 THEN 0
                     ELSE l_partkey % 1000 END AS sk,
                l_extendedprice
         FROM lineitem),
       d AS (
         SELECT p_partkey AS sk, p_type AS type_label
         FROM part WHERE p_partkey < 1000)
       SELECT d.type_label, count(*) AS n_lines,
              round(sum(f.l_extendedprice), 2) AS revenue
       FROM f JOIN d ON f.sk = d.sk
       GROUP BY d.type_label""",
)
def j8_skew_join(spark, sf_dir):
    """Join under deliberate key skew: ~90% of fact rows share one hot
    key (the head-category pattern SURVEY.md §7.4 flags as the 100 TB
    risk). The values are oracle-checked here; the scale story is
    AQE's skew-join split — the hot shuffle partition fanned out over
    several reducer tasks at runtime — which
    tests/test_plan_quality.py::test_skew_join_aqe_splits_hot_partition
    asserts in the executed plan under a forced shuffle-join regime
    (at 100 TB the build side is far beyond broadcast size).

    Plan-shape note: OptimizeSkewedJoin only matches
    SMJ(Sort(shuffle), Sort(shuffle)) — both join inputs must be raw
    shuffle stages. The dim side is therefore a plain filtered
    relation (unique keys via the p_partkey < 1000 slice), NOT an
    aggregate: a HashAggregate between the Sort and the shuffle
    defeats the rewrite and silently forfeits skew handling. Also,
    the split granularity is map-output chunks — a fact scan that
    reads as ONE task (e.g. a single-row-group parquet file) leaves
    the hot partition unsplittable, so the rule reports no skew; any
    real multi-file/multi-row-group layout scans as many tasks."""
    hot = lambda c: F.when(c % 1000 < 900, F.lit(0)).otherwise(c % 1000)
    f = load(spark, sf_dir, "lineitem").select(
        hot(F.col("l_partkey")).alias("sk"), "l_extendedprice"
    )
    d = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 1000)
        .select(F.col("p_partkey").alias("sk"), F.col("p_type").alias("type_label"))
    )
    return (
        f.join(d, "sk")
        .groupBy("type_label")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


@_q(
    "pii_pseudonymize",
    f"""WITH c AS (SELECT {md5_long_sql("concat('pseud|', CAST(c_custkey AS VARCHAR))")} AS pseudonym,
                c_mktsegment
         FROM customer),
       o AS (SELECT {md5_long_sql("concat('pseud|', CAST(o_custkey AS VARCHAR))")} AS pseudonym,
                CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
         FROM orders)
       SELECT c.c_mktsegment,
              CAST(count(DISTINCT c.pseudonym) AS BIGINT)
                  AS n_customers,
              CAST(count(o.pseudonym) AS BIGINT) AS n_orders,
              CAST(coalesce(sum(o.cents), 0) AS BIGINT)
                  AS revenue_cents
       FROM c LEFT JOIN o ON o.pseudonym = c.pseudonym
       GROUP BY c.c_mktsegment""",
)
def pii_pseudonymize(spark, sf_dir):
    """Keyed pseudonymization preserving referential integrity
    (operators/privacy.pseudonymize): customer and orders both
    replace the raw key with md5(salt|key), the raw identifier is
    DROPPED before the join, and the per-segment revenue rollup runs
    entirely on pseudonyms — proving joins survive
    de-identification. The salt is the linkage boundary: rotate it
    and previously released pseudonyms no longer link. Same
    plan shape as the raw-key join (hash equi-join on the projected
    pseudonym), so de-identification costs one codegen'd hash per
    row, no UDF, no mapping table."""
    c = privacy.pseudonymize(
        load(spark, sf_dir, "customer"), "c_custkey", "pseud"
    ).select("pseudonym", "c_mktsegment")
    o = privacy.pseudonymize(
        load(spark, sf_dir, "orders"), "o_custkey", "pseud"
    ).select(
        "pseudonym",
        F.floor(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("cents"),
    )
    return (
        c.join(o, "pseudonym", "left")
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct(c["pseudonym"]).cast("long")
            .alias("n_customers"),
            F.count(o["cents"]).cast("long").alias("n_orders"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("long")
            .alias("revenue_cents"),
        )
    )


@_q("pii_redact", _pii_oracle_sql())
def pii_redact(spark, sf_dir):
    """PII scan-and-scrub over the documents table
    (operators/privacy.redact_pii): per-category counts on the raw
    text plus the sequentially redacted text. The lacing CASEs inject
    a deterministic email/SSN/phone/IP mix so the detectors have
    ground truth to find."""
    d = load(spark, sf_dir, "documents")
    laced = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" mail bob"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 4 == 0, F.lit(" ssn 123-45-6789"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" tel 555-123-4567"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" ip 10.0.0.7"))
            .otherwise(F.lit("")),
        ).alias("pii_text"),
    )
    return privacy.redact_pii(laced, "doc_id", "pii_text")


@_q("pii_dp_release", _dp_release_sql())
def pii_dp_release(spark, sf_dir):
    """Differentially-private count release (two-sided geometric /
    discrete-Laplace mechanism — Ghosh et al., STOC 2009): per-group
    true counts from one hash aggregate, integer noise derived from a
    keyed hash of the release key (operators/privacy.dp_noise — pure
    threshold comparisons against driver-precomputed constants, so
    the draw replays bit-identically on any engine), and
    noisy-threshold suppression of small groups (the release never
    looks at the true count when deciding to publish — tau applies to
    the noised value). Cost at 100 TB: the aggregate's one shuffle;
    the mechanism itself is constant work per released row."""
    ev = load(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    noisy = agg.withColumn(
        "noisy_n",
        (F.col("n")
         + privacy.dp_noise(F.col("event_type"), "dp-count-v1", _DP_EPS)
         ).cast("long"),
    )
    return noisy.filter(F.col("noisy_n") >= _DP_TAU).select(
        "event_type", "noisy_n"
    )


@_q("pii_dp_bounded_sum", _dp_bounded_sum_sql())
def pii_dp_bounded_sum(spark, sf_dir):
    """DP sum with BOUNDED SENSITIVITY — the step naive noisy sums
    skip: every user's contribution is capped at 3 events (earliest
    by time — a per-user window, partition-bounded by that user's
    rows) and every value clamped to [0, 50] before aggregation, so
    one user can shift any group total by at most 3*50 = 150.00 and
    the geometric noise scaled by that sensitivity actually delivers
    its epsilon. Sums run in exact integer cents end to end — the
    released value is a BIGINT, immune to float accumulation order.
    Contribution bounding IS the scale design: without the cap, a
    single bot user makes the sensitivity — and the required noise —
    unbounded."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.floor(
        F.least(F.greatest(F.col("value"), F.lit(0.0)),
                F.lit(_DP_CLAMP)) * 100
    ).cast("long")
    capped = (
        ev.select("event_type", "user_id", "ts", "event_id",
                  cents.alias("cents"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _DP_CAP_EVENTS)
    )
    agg = capped.groupBy("event_type").agg(F.sum("cents").alias("s"))
    return agg.select(
        "event_type",
        (F.col("s")
         + privacy.dp_noise(F.col("event_type"), "dp-sum-v1", _DP_EPS)
         * F.lit(_DP_SENS_CENTS)).cast("long").alias("noisy_total_cents"),
    )


@_q(
    "pipeline_corpus_funnel",
    f"""WITH corpus AS (
         SELECT doc_id, text FROM documents WHERE source <> 'src0'
         UNION ALL
         SELECT doc_id + 100000, text FROM documents
         WHERE source <> 'src0' AND doc_id % 5 = 0),
       f AS ({_QUALITY_F_CTE.format(src="corpus")}),
       q AS (SELECT doc_id, text FROM f
             WHERE {_QUALITY_SCORE_SQL} >= 0.7),
       d AS (SELECT min(doc_id) AS doc_id, any_value(text) AS text
             FROM q GROUP BY md5(text)),
       dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
       dsh AS (SELECT DISTINCT doc_id,
                      unnest(list_transform(generate_series(1, len(w) - 4),
                             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  || ' ' || w[i+3] || ' ' || w[i+4]))
                          AS shingle
               FROM dw WHERE len(w) >= 5),
       bw AS (SELECT string_split(text, ' ') AS w FROM documents
              WHERE source = 'src0'),
       bsh AS (SELECT DISTINCT
                      unnest(list_transform(generate_series(1, len(w) - 4),
                             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  || ' ' || w[i+3] || ' ' || w[i+4]))
                          AS shingle
               FROM bw WHERE len(w) >= 5),
       hit AS (SELECT DISTINCT s.doc_id
               FROM dsh s JOIN bsh USING (shingle)),
       clean AS (SELECT d.doc_id, d.text FROM d
                 LEFT JOIN hit ON hit.doc_id = d.doc_id
                 WHERE hit.doc_id IS NULL),
       cw AS (SELECT doc_id, string_split(text, ' ') AS w FROM clean
              WHERE len(string_split(text, ' ')) >= 1),
       cch AS (SELECT doc_id, i - 1 AS chunk_idx,
                      array_to_string(list_slice(w, (i - 1) * 20 + 1,
                          least(i * 20, len(w))), ' ') AS chunk
               FROM cw, LATERAL (SELECT unnest(generate_series(1,
                      CAST(ceil(len(w) / 20.0) AS INT))) AS i) t),
       cr AS (SELECT row_number() OVER (PARTITION BY md5(chunk)
                       ORDER BY doc_id, chunk_idx) AS rk
              FROM cch)
       SELECT 'raw' AS stage, (SELECT count(*) FROM corpus) AS n_units
       UNION ALL
       SELECT 'quality', (SELECT count(*) FROM q)
       UNION ALL
       SELECT 'dedup', (SELECT count(*) FROM d)
       UNION ALL
       SELECT 'decontaminated', (SELECT count(*) FROM clean)
       UNION ALL
       SELECT 'chunks_raw', (SELECT count(*) FROM cr)
       UNION ALL
       SELECT 'chunks_kept',
              (SELECT count(CASE WHEN rk = 1 THEN 1 END) FROM cr)""",
)
def pipeline_corpus_funnel(spark, sf_dir):
    """The full corpus-curation funnel COMPOSED from the individual
    operators, reporting survivors per stage: raw (with synthesized
    duplicates — testdata texts are unique), quality gate
    (textstats.quality_score >= 0.7), exact dedup keep-first, and
    benchmark decontamination (dedup.decontaminate vs the held-out
    src0 docs). The composition is what a real pre-training data
    build runs nightly; each operator is oracle-verified on its own
    elsewhere, and the funnel verifies they compose (counts chain
    monotonically).

    Single-pass shape: every document is ANNOTATED with its funnel
    verdicts (quality boolean, keep-first rank among quality
    survivors) and the doc-stage totals come out of one aggregate —
    no per-stage re-scan of the corpus. Decontamination runs on the
    collapsed survivor set (it needs the shingle join), with the
    small benchmark side AQE-broadcast; the release card then also
    reports the CHUNK-level yield of the final corpus — 20-word
    chunks, keep-first (dd_chunk_dedup's granularity) — so document-
    AND sub-document dedup savings land in one artifact. The
    annotated/kept frames localCheckpoint because three consumers
    read them; at 100 TB those materializations ARE the pipeline's
    published outputs (annotated corpus, curated set), not extra
    cost. One corpus scan, one text-hash window shuffle, one shingle
    join, one chunk-hash window over the survivors."""
    docs = load(spark, sf_dir, "documents")
    base = docs.filter(F.col("source") != "src0").select("doc_id", "text")
    corpus = base.unionByName(
        base.filter(F.col("doc_id") % 5 == 0).withColumn(
            "doc_id", F.col("doc_id") + 100000
        )
    )
    w = Window.partitionBy(F.md5("text")).orderBy(
        F.desc("q_pass"), F.asc("doc_id")
    )
    ann = (
        corpus.withColumn(
            "q_pass", textstats.quality_score(F.col("text")) >= 0.7
        )
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("kept", F.col("q_pass") & (F.col("_rn") == 1))
        .localCheckpoint()
    )
    bench = docs.filter(F.col("source") == "src0")
    kept_docs = ann.filter("kept").select("doc_id", "text")
    decon = dedup.decontaminate(
        kept_docs, bench, "doc_id", "text", k=5
    ).localCheckpoint()
    clean_n = decon.agg(
        F.sum(F.when(~F.col("contaminated"), 1).otherwise(0))
        .cast("long")
        .alias("n_clean")
    )
    survivors = kept_docs.join(
        decon.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
    )
    words = survivors.select(
        "doc_id", F.split(F.col("text"), " ").alias("_w")
    ).filter(F.size("_w") >= 1)
    chunks = words.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("_w") / F.lit(20.0)).cast("int") - 1,
                ),
                lambda i: F.array_join(
                    F.slice(F.col("_w"), i * 20 + 1, 20), " "
                ),
            )
        ).alias("chunk_idx", "chunk"),
    )
    wk = Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "chunk_idx")
    chunk_n = (
        chunks.withColumn("_rk", F.row_number().over(wk))
        .agg(
            F.count(F.lit(1)).alias("n_chunks_raw"),
            F.sum(F.when(F.col("_rk") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_chunks_kept"),
        )
    )
    totals = ann.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.when(F.col("q_pass"), 1).otherwise(0))
        .cast("long")
        .alias("n_quality"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0))
        .cast("long")
        .alias("n_dedup"),
    )
    return totals.crossJoin(clean_n).crossJoin(chunk_n).selectExpr(
        """stack(6,
                 'raw', n_raw,
                 'quality', n_quality,
                 'dedup', n_dedup,
                 'decontaminated', n_clean,
                 'chunks_raw', n_chunks_raw,
                 'chunks_kept', n_chunks_kept) AS (stage, n_units)"""
    )


@_q("graph_pagerank_suppliers", _pagerank_sql())
def graph_pagerank_suppliers(spark, sf_dir):
    """Top-25 nodes of the customer↔supplier co-purchase graph by
    3-iteration fixed-point PageRank (operators/graph.py). The edge
    list is join-derived (orders ⋈ lineitem, supplier keys offset into
    their own id space), symmetrized so no node dangles; integer
    ranks make the LIMIT set and the hash engine-exact."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 10000000).alias("dst"),
        )
        .distinct()
    )
    sym = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    rank = graph.pagerank_fixedpoint(sym, "src", "dst", iterations=3)
    return rank.orderBy(F.desc("rank"), "node").limit(25)


@_q(
    "graph_triangles",
    """WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey
               FROM lineitem WHERE l_quantity >= 48),
       e AS (SELECT DISTINCT least(a.l_suppkey, b.l_suppkey) AS u,
                             greatest(a.l_suppkey, b.l_suppkey) AS v
             FROM li a JOIN li b
               ON a.l_orderkey = b.l_orderkey
              AND a.l_suppkey < b.l_suppkey),
       tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
               FROM e e1
               JOIN e e2 ON e2.u = e1.v
               JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
       n AS (SELECT a AS node FROM tri
             UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri)
       SELECT node, count(*) AS n_triangles FROM n GROUP BY node""",
)
def graph_triangles(spark, sf_dir):
    """Per-supplier triangle counts over the high-quantity co-supply
    graph (suppliers sharing an order with l_quantity >= 48) —
    community cohesion via degree-oriented triangle enumeration
    (operators/graph.triangle_counts). The orientation caps wedge work
    at O(m^1.5) no matter how hubby the co-occurrence graph gets; the
    id-ordered DuckDB 3-way join enumerates the identical triangle
    set, so the exact per-node counts hash-match."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 48)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("sa")
    )
    b = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("sb")
    )
    e = (
        a.join(b, "k")
        .filter(F.col("sa") < F.col("sb"))
        .select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
        .distinct()
    )
    return graph.triangle_counts(e)


@_q(
    "pipeline_remix_sources",
    """WITH d AS (SELECT doc_id, source,
                     len(list_filter(string_split_regex(text, '\\s+'),
                                     x -> x <> '')) AS n_tokens
              FROM documents),
       per_src AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t_s
                   FROM d GROUP BY source),
       tgt AS (SELECT min(t_s) AS t_min FROM per_src),
       wts AS (SELECT source, t_s,
                      CAST(t_min AS DOUBLE) / t_s AS p
               FROM per_src, tgt),
       kept AS (SELECT d.doc_id, d.source, d.n_tokens
                FROM d JOIN wts ON d.source = wts.source
                WHERE CAST((((((((d.doc_id % 4294967296) // 65536) * 2654435761) % 65536) * 65536 + ((d.doc_id % 4294967296) % 65536) * 2654435761) % 4294967296)
                            * 1000000) // 4294967296
                           AS DOUBLE) < wts.p * 1000000)
       SELECT w.source, w.t_s AS orig_tokens,
              CAST(coalesce(count(k.doc_id), 0) AS BIGINT) AS kept_docs,
              CAST(coalesce(sum(k.n_tokens), 0) AS BIGINT) AS kept_tokens
       FROM wts w LEFT JOIN kept k ON w.source = k.source
       GROUP BY w.source, w.t_s""",
)
def pipeline_remix_sources(spark, sf_dir):
    """Source rebalancing — the data-mixing step that downsamples
    every source to the smallest source's token budget before
    training: per-source keep-probability p = min(T)/T_s, applied
    per document through the deterministic millionth-bucket hash
    rule (operators/sampling.sample_weighted), reported as the
    per-source before/after token ledger. The weights frame is one
    row per source (broadcast); the sample is a scan-level
    comparison — no shuffle touches the corpus beyond the two token
    rollups, so the remix costs two aggregates at any corpus size.
    Engine-exact because p is an exact integer ratio and the bucket
    rule has no RNG."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source",
        F.size(
            F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
        ).cast("long").alias("n_tokens"),
    )
    per_src = toks.groupBy("source").agg(F.sum("n_tokens").alias("t_s"))
    tgt = per_src.agg(F.min("t_s").alias("t_min"))
    wts = per_src.crossJoin(F.broadcast(tgt)).select(
        "source", "t_s",
        (F.col("t_min").cast("double") / F.col("t_s")).alias("p"),
    )
    kept = sampling.sample_weighted(
        toks.join(F.broadcast(wts.select("source", "p")), "source"),
        "doc_id", F.col("p"),
    )
    stats = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum("n_tokens").alias("kept_tokens"),
    )
    return (
        wts.select("source", "t_s")
        .join(stats, "source", "left")
        .select(
            "source",
            F.col("t_s").alias("orig_tokens"),
            F.coalesce("kept_docs", F.lit(0)).cast("long").alias("kept_docs"),
            F.coalesce("kept_tokens", F.lit(0)).cast("long")
            .alias("kept_tokens"),
        )
    )


@_q(
    "pipeline_global_shuffle",
    f"""WITH h AS (SELECT doc_id, source,
                 {md5_long_sql("concat(CAST(doc_id AS VARCHAR), ':7')")} AS hh
              FROM documents)
       SELECT doc_id, source,
              CAST(row_number() OVER (ORDER BY hh, doc_id) - 1 AS BIGINT)
                AS shuffle_pos
       FROM h""",
)
def pipeline_global_shuffle(spark, sf_dir):
    """Deterministic global training-order permutation
    (operators/sampling.global_shuffle): every document gets a dense
    0-based position from a seeded MD5 ordering. The Spark plan is the
    scale spelling — rank within hash buckets (parallel windows) +
    prefix-summed bucket offsets broadcast back — while the oracle
    runs the naive single-stream ORDER BY; bit-identical output
    proves the decomposition is exact. At 100 TB the naive spelling
    is a one-reducer funnel; this one is a single bucket-partitioned
    window shuffle."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.global_shuffle(docs, "doc_id", seed=7).select(
        "doc_id", "source", "shuffle_pos"
    )


@_q(
    "pii_cc_luhn",
    """SELECT doc_id,
              CAST(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END
                 + CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS BIGINT)
                AS n_cc_candidates,
              CAST(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS BIGINT)
                AS n_cc_valid
       FROM documents""",
)
def pii_cc_luhn(spark, sf_dir):
    """Checksum-validated card detection (privacy.credit_card_audit):
    docs with doc_id%7==0 are laced with a Luhn-VALID test PAN
    (4111 1111 1111 1111) and docs with doc_id%11==0 with a Luhn-
    INVALID 16-digit run — the oracle knows the ground truth by
    construction, so the Spark side must both extract the candidates
    AND classify them correctly through the sequence→transform→
    aggregate Luhn fold. The candidate-minus-valid gap is exactly the
    false-positive mass a regex-only scrubber would mislabel."""
    d = load(spark, sf_dir, "documents")
    laced = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit(" card 4111 1111 1111 1111"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.lit(" ref 1234 5678 9012 3456"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return privacy.credit_card_audit(laced, "doc_id", "text")


@_q("graph_kcore", _kcore_sql(5, 8))
def graph_kcore(spark, sf_dir):
    """5-core of the l_quantity>=48 co-supply graph
    (operators/graph.k_core): iterative peeling with per-round
    edge-sized shuffles and an edge-count convergence probe observed
    by each round's checkpoint job. The oracle
    unrolls 8 peel rounds — past the measured fixpoint at every test
    sf — so both engines land on the identical core membership and
    within-core degrees."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 48)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("k"),
                  F.col("l_suppkey").alias("sa"))
    b = li.select(F.col("l_orderkey").alias("k"),
                  F.col("l_suppkey").alias("sb"))
    e = (
        a.join(b, "k")
        .filter(F.col("sa") < F.col("sb"))
        .select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
        .distinct()
    )
    return graph.k_core(e, k=5)


@_q(
    "pii_k_anonymity",
    """WITH c AS (SELECT o_orderstatus, o_orderpriority,
                       CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                       o_custkey % 100 AS cust_bucket,
                       count(*) AS n
              FROM orders
              GROUP BY o_orderstatus, o_orderpriority, m, cust_bucket)
       SELECT 5 AS k, CAST(sum(n) AS BIGINT) AS n_rows,
              count(*) AS n_classes,
              CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_small_classes,
              CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
                  AS n_risky_rows,
              round(sum(CASE WHEN n < 5 THEN n ELSE 0 END)
                    / CAST(sum(n) AS DOUBLE), 6) AS risky_frac
       FROM c""",
)
def pii_k_anonymity(spark, sf_dir):
    """k-anonymity audit (privacy.k_anonymity_audit) over a
    quasi-identifier tuple of orders (status, priority, order month,
    customer bucket): equivalence classes smaller than k=5 and the
    fraction of rows they expose — the release-review number for any
    data product leaving the pipeline. One linear aggregate + 1-row
    rollup at any scale."""
    from ..operators.privacy import k_anonymity_audit

    o = load(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderpriority",
        F.trunc("o_orderdate", "month").alias("m"),
        (F.col("o_custkey") % 100).alias("cust_bucket"),
    )
    return k_anonymity_audit(
        o, ["o_orderstatus", "o_orderpriority", "m", "cust_bucket"], k=5
    )


@_q(
    "pipeline_mix_planner",
    r"""WITH d AS (SELECT source,
                len(list_filter(string_split_regex(text, '\s+'),
                                x -> x <> '')) AS n_tokens
              FROM documents),
       per_src AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t_s
                   FROM d GROUP BY source),
       tot AS (SELECT sum(t_s) AS t_tot FROM per_src),
       w AS (SELECT source, t_s, sqrt(CAST(t_s AS DOUBLE)) AS ws
             FROM per_src),
       z AS (SELECT sum(ws) AS z FROM w)
       SELECT source, t_s AS orig_tokens,
              round(ws / z, 4) + 0.0 AS weight,
              CAST(floor((ws / z * (2.0 * t_tot)) + 0.5)
                   AS BIGINT) AS target_tokens,
              round(ws / z * (2.0 * t_tot) / CAST(t_s AS DOUBLE), 4)
                  + 0.0 AS epochs
       FROM w, z, tot""",
)
def pipeline_mix_planner(spark, sf_dir):
    """Temperature-mixture planning — the step BEFORE
    pipeline_remix_sources' enforcement: given per-source token masses
    T_s and a token budget B (here 2x the corpus, so some sources must
    repeat), allocate B by temperature sampling with alpha = 0.5 —
    w_s ∝ T_s^0.5, the standard multilingual rebalancing exponent
    (XLM-R-style temperature sampling) that upweights small sources
    without flattening the mixture. Emits per source the weight, the
    target token allocation, and ``epochs`` = target/T_s (>1 means the
    source upsamples/repeats — the number a 100 TB pretraining run
    publishes in its data table).

    Scale shape: one token rollup over the corpus (the only
    data-sized work), then all planning math happens on the ≤|sources|
    row frame with two 1-row broadcast joins (Σ weights, Σ tokens).
    Floats are fenced by convention: weights/epochs round-4 (+0.0 for
    IEEE -0.0), the token allocation quantizes via round-6 + floor+0.5
    so both engines land the same integer."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.size(
            F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
        ).cast("long").alias("n_tokens"),
    )
    per_src = toks.groupBy("source").agg(
        F.sum("n_tokens").cast("long").alias("t_s")
    )
    return mix_plan_from_tokens(per_src)


@_q("graph_bfs_hops", _bfs_sql(6))
def graph_bfs_hops(spark, sf_dir):
    """BFS hop distance of every supplier from the 3 lowest-id nodes
    of the high-quantity co-supply graph (graph.bfs_hops): 6 fixed
    relaxation rounds — one O(E) join+min per round, shuffles sized
    to the edge count — matching the oracle's unrolled recurrence
    exactly, converged or not."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 48)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("k"),
                  F.col("l_suppkey").alias("sa"))
    b = li.select(F.col("l_orderkey").alias("k"),
                  F.col("l_suppkey").alias("sb"))
    e = (
        a.join(b, "k")
        .filter(F.col("sa") < F.col("sb"))
        .select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    sources = nodes.orderBy("node").limit(3)
    return graph.bfs_hops(e, sources, rounds=6)


@_q("o4_cluster_cap_sample", _cluster_cap_sql(2))
def o4_cluster_cap_sample(spark, sf_dir):
    """Cluster-capped corpus sampling: every near-dup family
    contributes at most 2 documents to the training mix, picked by a
    deterministic MD5 coin (no RNG — the same engine-portable hash as
    o4_sample_hash) with a doc-id tie-break. This is the head-cap
    that keeps boilerplate families from dominating a mixture after
    LESS-aggressive dedup settings, and the selection composes with
    the leakage-safe split (same shared cluster map — one connected
    components run per (app, sf_dir) serves this, the savings ledger,
    keep-best-quality, and the split audit)."""
    from ..operators.hashing import md5_long

    _pairs, clusters = _cluster_map(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id")
    allc = d.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cid"),
    )
    u = md5_long(
        F.concat(F.lit("capsample:"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("cid").orderBy(u, F.col("doc_id"))
    return (
        allc.withColumn("pick_rank", F.row_number().over(w))
        .filter(F.col("pick_rank") <= 2)
        .select(
            "doc_id",
            F.col("cid").alias("cluster_id"),
            F.col("pick_rank").cast("long").alias("pick_rank"),
        )
    )


@_q("o4_cluster_split", _cluster_split_sql())
def o4_cluster_split(spark, sf_dir):
    """Leakage-SAFE train/val/test assignment — the fix for the
    failure mode dd_split_leakage detects: split by the near-dup
    CLUSTER id (singletons use their own id), so every member of a
    duplicate family lands in the same split by construction and the
    cross-split near-dup pair count is provably zero. Same
    engine-portable hash carve as o4_split_assign, keyed one level
    up; one extra key-partitioned join over the cluster map."""
    d = load(spark, sf_dir, "documents")
    pairs, clusters = _cluster_map(spark, sf_dir)
    allc = (
        d.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cid"),
        )
    )
    sp = sampling.assign_split(allc, "cid")
    pa = pairs.join(
        sp.select(F.col("doc_id").alias("doc_a"),
                  F.col("split").alias("split_a")),
        "doc_a",
    ).join(
        sp.select(F.col("doc_id").alias("doc_b"),
                  F.col("split").alias("split_b")),
        "doc_b",
    )
    leak = (
        pa.filter(F.col("split_a") != F.col("split_b"))
        .groupBy(F.col("split_a").alias("split"))
        .agg(F.count(F.lit(1)).alias("leaked"))
    )
    return (
        sp.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cid").alias("n_clusters"),
        )
        .join(leak, "split", "left")
        .select(
            "split",
            "n_docs",
            "n_clusters",
            F.coalesce("leaked", F.lit(0)).cast("long").alias(
                "leaked_pairs"
            ),
        )
    )


@_q("pipeline_data_card", _data_card_sql())
def pipeline_data_card(spark, sf_dir):
    """The one-row dataset release card — the summary sheet that
    accompanies a corpus snapshot (docs / exact token mass / source
    count / near-dup exposure / benchmark contamination / mean
    quality), assembled from the SAME relational pieces the pipeline
    already maintains: the shared cluster map, the shingle index
    against the held-out set, and the codegen quality score. Every
    sub-aggregate is a 1-row broadcast; nothing here adds a pass a
    curation pipeline wasn't already running."""
    docs = load(spark, sf_dir, "documents")
    _, clusters = _cluster_map(spark, sf_dir)
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.size(F.filter(F.split(F.col("text"), r"\s+"),
                            lambda x: x != ""))
        ).cast("long").alias("n_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )
    dups = clusters.agg(
        F.count(F.lit(1)).alias("near_dup_docs"),
        F.countDistinct("cluster_id").alias("near_dup_clusters"),
    )
    decon = dedup.decontaminate(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        "doc_id", "text", k=5,
    )
    contam = decon.agg(
        F.sum(F.col("contaminated").cast("int")).cast("long").alias(
            "contaminated_docs"
        )
    )
    qual = docs.agg(
        F.round(
            F.avg(textstats.quality_score(F.col("text"))), 4
        ).alias("mean_quality")
    )
    # the no-silent-caps line: the LSH bucket census at the PRODUCTION
    # cap (candidate_pairs' default), folded to two card numbers —
    # zero means "the near-dup candidate stage pruned nothing"; a
    # nonzero value puts the pruned pair mass on the release record
    sh3 = dedup.word_shingles(docs, "doc_id", "text", 3)
    bands_df = dedup.lsh_bands(
        dedup.minhash_signatures(sh3, "doc_id", 16), "doc_id", 8, 2
    )
    lshcap = dedup.lsh_bucket_census(
        bands_df, "doc_id", max_bucket_size=10_000
    ).agg(
        F.coalesce(F.sum("dropped_buckets"), F.lit(0))
        .cast("long").alias("lsh_dropped_buckets"),
        F.coalesce(F.sum("pruned_pairs"), F.lit(0))
        .cast("long").alias("lsh_pruned_pairs"),
    )
    return (
        base.crossJoin(F.broadcast(dups))
        .crossJoin(F.broadcast(contam))
        .crossJoin(F.broadcast(qual))
        .crossJoin(F.broadcast(lshcap))
    )


@_q("pipeline_preference_pairs", _pref_pairs_sql())
def pipeline_preference_pairs(spark, sf_dir):
    """Preference-pair construction for reward-model / DPO training
    data: within each SOURCE cohort (same domain, comparable style),
    the highest-quality document becomes CHOSEN and each of the
    cohort's 3 lowest-quality documents with STRICTLY lower quality
    becomes REJECTED — matched-context pairs whose contrast is
    quality, the cheapest honest preference signal a curation
    pipeline mints without human labels (ties excluded: an
    equal-quality pair teaches the reward model noise). One codegen
    quality scan, two source-partitioned rank windows, one bounded
    chosen×bottom-3 join — at 100 TB the pair count is
    |sources| × 3, never quadratic in documents."""
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "source", "doc_id",
        textstats.quality_score(F.col("text")).alias("quality"),
    )
    w_top = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    w_low = Window.partitionBy("source").orderBy(
        F.asc("quality"), F.asc("doc_id")
    )
    ranked = scored.withColumn(
        "rk_top", F.row_number().over(w_top)
    ).withColumn("rk_low", F.row_number().over(w_low))
    chosen = ranked.filter(F.col("rk_top") == 1).select(
        "source",
        F.col("doc_id").cast("long").alias("chosen_id"),
        F.col("quality").alias("q_chosen"),
    )
    rejected = ranked.filter(F.col("rk_low") <= 3).select(
        "source",
        F.col("doc_id").cast("long").alias("rejected_id"),
        F.col("quality").alias("q_rejected"),
    )
    return (
        chosen.join(rejected, "source")
        .filter(F.col("q_rejected") < F.col("q_chosen"))
        .select(
            "source", "chosen_id", "rejected_id",
            "q_chosen", "q_rejected",
            F.round(F.col("q_chosen") - F.col("q_rejected"), 4)
            .alias("margin"),
        )
    )


# ------------------------------------------ time-decayed engagement
@_q(
    "agg_decayed_engagement",
    """WITH ref AS (SELECT max(CAST(ts AS DATE)) AS r FROM events),
       w AS (SELECT user_id, value,
               date_diff('day', CAST(ts AS DATE), ref.r) AS d
             FROM events, ref),
       q AS (SELECT user_id,
               CAST(floor((
                 pow(CAST('2.0' AS DOUBLE),
                     -d / CAST('7.0' AS DOUBLE)))
                 * 1000000 + CAST('0.5' AS DOUBLE)) AS BIGINT) AS w_fp,
               CAST(floor((
                 pow(CAST('2.0' AS DOUBLE),
                     -d / CAST('7.0' AS DOUBLE)) * value)
                 * 1000000 + CAST('0.5' AS DOUBLE)) AS BIGINT) AS wv_fp
             FROM w)
       SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(w_fp) AS BIGINT) AS decayed_fp,
              CAST(sum(wv_fp) AS BIGINT) AS decayed_value_fp
       FROM q GROUP BY user_id""",
)
def agg_decayed_engagement(spark, sf_dir):
    """Exponentially time-decayed per-user engagement
    (operators/temporal.decayed_counts, half-life 7 days, anchored at
    the corpus max date): the recency-weighted activity feature of
    every CTR/engagement pipeline, as ONE map-side-combined
    aggregate — each event's 2^(-age/h) weight quantizes to fixed
    point before the integer sum, so the feature replays exactly and
    no window or second shuffle appears."""
    from ..operators import temporal

    ev = load(spark, sf_dir, "events")
    return temporal.decayed_counts(ev, "user_id", "ts", "value",
                                   half_life_days=7)


# ------------------------------------- distribution-matched sampling
@_q(
    "o4_match_distribution",
    """WITH cnt AS (SELECT source AS g, count(*) AS n,
                         1 + length(source) % 3 AS w
               FROM documents GROUP BY source),
       m AS (SELECT n AS nm, w AS wm FROM cnt
             ORDER BY CAST(n AS DOUBLE) / w, g LIMIT 1),
       kept AS (SELECT d.source AS g, count(*) AS k
                FROM documents d JOIN cnt ON cnt.g = d.source, m
                WHERE CAST((((((((d.doc_id % 4294967296) // 65536) * 2654435761) % 65536) * 65536 + ((d.doc_id % 4294967296) % 65536) * 2654435761) % 4294967296)
                            * 1000000) // 4294967296
                           AS HUGEINT) * m.wm * cnt.n
                    < CAST(1000000 AS HUGEINT) * m.nm * cnt.w
                GROUP BY d.source)
       SELECT cnt.g AS source, CAST(cnt.n AS BIGINT) AS n_before,
              CAST(cnt.w AS BIGINT) AS target_w,
              CAST(coalesce(kept.k, 0) AS BIGINT) AS n_after
       FROM cnt LEFT JOIN kept ON kept.g = cnt.g""",
)
def o4_match_distribution(spark, sf_dir):
    """Source-mix rebalancing by deterministic rejection sampling
    (sampling.match_distribution): retained counts follow the target
    weights (here 1 + len(source) % 3 — a non-uniform synthetic
    target) while the binding source keeps everything — the
    downsample-to-target primitive every multi-source corpus build
    runs. The acceptance test is a pure integer comparison on the
    Knuth-hash coin (DECIMAL(38,0)/HUGEINT products), so both
    engines retain the identical row set; the data rows see only a
    map-side filter — no window, no shuffle."""
    docs = load(spark, sf_dir, "documents")
    return sampling.match_distribution(
        docs, "doc_id", "source",
        lambda g: (F.length(g) % 3 + F.lit(1)).cast("long"),
    )


@_q(
    "pii_erasure_audit",
    """SELECT 'events' AS table_name,
              CAST(sum(CASE WHEN user_id % 37 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purge,
              CAST(sum(CASE WHEN user_id % 37 = 0 OR user_id IS NULL
                  THEN 0 ELSE 1 END) + sum(CASE WHEN user_id IS NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
       FROM events
       UNION ALL
       SELECT 'orders',
              CAST(sum(CASE WHEN o_custkey % 37 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT),
              CAST(sum(CASE WHEN o_custkey % 37 = 0 THEN 0 ELSE 1 END)
                  AS BIGINT)
       FROM orders
       UNION ALL
       SELECT 'customer',
              CAST(sum(CASE WHEN c_custkey % 37 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT),
              CAST(sum(CASE WHEN c_custkey % 37 = 0 THEN 0 ELSE 1 END)
                  AS BIGINT)
       FROM customer""",
)
def pii_erasure_audit(spark, sf_dir):
    """Right-to-erasure impact audit (operators/privacy.erasure_audit):
    the deletion cohort (every 37th subject key) counted across every
    table that references it — events by user, orders by customer
    key, and the customer master itself. One conditional aggregate
    per table, no joins; NULL references are kept (an anonymous row
    needs no erasure). The sign-off card before the purge job runs,
    and its reconciliation target afterwards."""
    from ..operators.privacy import erasure_audit

    return erasure_audit(
        [
            ("events", load(spark, sf_dir, "events")),
            ("orders", load(spark, sf_dir, "orders").withColumnRenamed(
                "o_custkey", "subject_key")),
            ("customer", load(spark, sf_dir, "customer")
             .withColumnRenamed("c_custkey", "subject_key")),
        ],
        lambda df: (
            F.col("user_id") % 37 == 0 if "user_id" in df.columns
            else F.col("subject_key") % 37 == 0
        ),
    )


@_q("agg_cms_frequency", _cms_sql())
def agg_cms_frequency(spark, sf_dir):
    """Count-Min sketch point-frequency estimates
    (operators/sketches.cms_counts/cms_estimate, Cormode &
    Muthukrishnan): token frequencies estimated from a 4x256-cell
    sketch whose ONLY corpus shuffle groups on (row, bucket) — at
    most 1024 keys, map-side combined, the vocabulary itself never
    shuffles. Probes read 4 cells each; the exact twin rides along
    for the accuracy contract (est >= exact, within N·e/w whp).
    Mergeable by cell addition — the KMV/Misra-Gries companion for
    point lookups."""
    from ..operators.sketches import cms_estimate

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    return cms_estimate(
        toks, "token",
        ["join", "hash", "scan", "filter", "zz_absent"],
    )


@_q("geo_radius_knn", _geo_knn_sql())
def geo_radius_knn(spark, sf_dir):
    """Bounded-radius kNN via the grid-partitioned spatial join
    (operators/spatial.radius_knn): 5 nearest customers within
    10,000 micro-degrees of each probe supplier, coordinates in
    exact integer micro-degrees (no trig, no floats — the result
    hash-replays). The grid is LOSSLESS for bounded radius — every
    in-range point lives in a probed cell — so the oracle is the
    brute-force circle, proving no false negatives. Candidates =
    |queries| x 3x3-cell local density, never |queries| x |corpus|."""
    from ..operators.spatial import radius_knn

    pts = _geo_points(spark, sf_dir, "customer", "c_custkey")
    qs = _geo_points(spark, sf_dir, "supplier", "s_suppkey") \
        .filter(F.col("s_suppkey") < 10)
    out = radius_knn(
        pts, "c_custkey", "lat", "lon",
        qs, "s_suppkey", "lat", "lon",
        radius=10_000, k=5,
    )
    return out.select(
        F.col("query_id"), F.col("point_id").cast("long").alias("point_id"),
        "dist2", F.col("rk").cast("long").alias("rk"),
    )


@_q(
    "geo_cell_density",
    f"""WITH p AS (SELECT
           {_geo_coord_sql("c_custkey", "lat", 40_000_000, 100_000)}
               AS lat,
           {_geo_coord_sql("c_custkey", "lon", -74_050_000, 100_000)}
               AS lon
           FROM customer)
       SELECT CAST(floor(lat / 10000) AS BIGINT) AS cell_lat,
              CAST(floor(lon / 10000) AS BIGINT) AS cell_lon,
              count(*) AS n_points
       FROM p GROUP BY 1, 2
       ORDER BY n_points DESC, cell_lat, cell_lon LIMIT 20""",
)
def geo_cell_density(spark, sf_dir):
    """The heatmap query (operators/spatial.cell_density): customer
    points per 10,000-micro-degree grid cell, densest 20 — one
    hash-agg on the cell key + TakeOrdered. The build side every
    spatial join in this family probes."""
    from ..operators.spatial import cell_density

    pts = _geo_points(spark, sf_dir, "customer", "c_custkey")
    return cell_density(pts, "lat", "lon", step=10_000, top_n=20)


@_q("geo_point_in_polygon", _geo_pip_sql())
def geo_point_in_polygon(spark, sf_dir):
    """Geofencing (operators/spatial.point_in_polygon): classify
    every customer point against three literal zone rings — a
    triangle, a convex quad, and a CONCAVE L-shape (the notch is
    what separates real ray casting from bounding-box or hull
    approximations) — with the exact integer crossing rule, then one
    membership card per zone (count + key range) plus the 'none'
    row. Zones broadcast (the corpus never shuffles for the test
    itself); the crossing count is O(vertices) per pair inside
    whole-stage codegen; the oracle replays the same
    cross-multiplied comparisons from the same ring constants.
    Geo-stratifying a training corpus by region is this exact
    shape."""
    from ..operators.spatial import point_in_polygon

    pts = _geo_points(spark, sf_dir, "customer", "c_custkey")
    zones = tiny_df(
        spark,
        [(z, ring) for z, ring in GEO_ZONES.items()],
        "zone string, verts array<struct<lat: long, lon: long>>",
    )
    flag = pts.crossJoin(F.broadcast(zones)).withColumn(
        "inside", point_in_polygon("lat", "lon", F.col("verts"))
    )
    zrows = (
        flag.filter(F.col("inside"))
        .groupBy("zone")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
        )
    )
    none_row = (
        flag.groupBy("c_custkey")
        .agg(F.max(F.col("inside").cast("int")).alias("_any"))
        .filter(F.col("_any") == 0)
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
        )
        .select(F.lit("none").alias("zone"), "n_points", "min_key",
                "max_key")
    )
    return zrows.unionByName(none_row)


@_q(
    "pii_l_diversity",
    """WITH c AS (SELECT c_nationkey, c_mktsegment,
                        count(*) AS n,
                        count(DISTINCT CAST(c_acctbal > 0 AS INT))
                            AS ndv
               FROM customer GROUP BY c_nationkey, c_mktsegment)
       SELECT CAST(2 AS BIGINT) AS l,
              CAST(sum(n) AS BIGINT) AS n_rows,
              count(*) AS n_classes,
              CAST(sum(CASE WHEN ndv < 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_low_diversity_classes,
              CAST(sum(CASE WHEN ndv < 2 THEN n ELSE 0 END) AS BIGINT)
                  AS n_exposed_rows,
              round(sum(CASE WHEN ndv < 2 THEN n ELSE 0 END)
                    / sum(n), 6) AS exposed_frac
       FROM c""",
)
def pii_l_diversity(spark, sf_dir):
    """l-diversity audit (operators/privacy.l_diversity_audit) — the
    homogeneity exposure k-anonymity misses: equivalence classes on
    (nation, segment) where the sensitive attribute (account in the
    black vs red) takes fewer than 2 distinct values reveal it for
    every member. One class aggregate + 1-row rollup."""
    from ..operators.privacy import l_diversity_audit

    c = load(spark, sf_dir, "customer").withColumn(
        "in_black", (F.col("c_acctbal") > 0).cast("int")
    )
    return l_diversity_audit(
        c, ["c_nationkey", "c_mktsegment"], "in_black", l=2
    )



@_q("graph_link_prediction", _link_pred_sql())
def graph_link_prediction(spark, sf_dir):
    """Common-neighbor link prediction over the high-quantity
    co-supply graph (same edge fixture as graph_triangles): the
    top-25 non-adjacent supplier pairs by shared-neighbor count with
    exact full-degree Jaccard as the tie signal
    (graph.common_neighbor_topk; Liben-Nowell & Kleinberg CIKM'03).
    Wedge centers are capped at deg <= max(64, floor(sqrt(m))) — the
    adaptive-planes family discipline applied to wedge enumeration,
    bounding total wedge work at O(m^1.5) while dropping only
    super-hub witnesses whose shared-ness carries no link signal.
    The oracle replays the cap formula, the capped wedge join and
    the anti-join verbatim."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 48)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("sa")
    )
    b = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("sb")
    )
    e = (
        a.join(b, "k")
        .filter(F.col("sa") < F.col("sb"))
        .select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
        .distinct()
    )
    return graph.common_neighbor_topk(e, k=25)

__all__ = [
    "graph_knn_mutual_components",
    "a6_salted_counts",
    "j8_skew_join",
    "pii_pseudonymize",
    "pii_redact",
    "pii_dp_release",
    "pii_dp_bounded_sum",
    "pipeline_corpus_funnel",
    "graph_pagerank_suppliers",
    "graph_triangles",
    "pipeline_remix_sources",
    "pipeline_global_shuffle",
    "pii_cc_luhn",
    "graph_kcore",
    "pii_k_anonymity",
    "pipeline_mix_planner",
    "graph_bfs_hops",
    "o4_cluster_cap_sample",
    "o4_cluster_split",
    "pipeline_data_card",
    "pipeline_preference_pairs",
    "agg_decayed_engagement",
    "o4_match_distribution",
    "pii_erasure_audit",
    "agg_cms_frequency",
    "geo_radius_knn",
    "geo_cell_density",
    "geo_point_in_polygon",
    "pii_l_diversity",
    "graph_link_prediction",
]
