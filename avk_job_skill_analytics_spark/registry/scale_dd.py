"""Deduplication family: exact groups, MinHash-LSH, SimHash, n-gram Jaccard, prefix-filtered similarity join, duplicate clusters, decontamination.

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
from ._fixtures import FixtureMemo
from .scale_common import (
    _DECON_SHINGLE_CTE,
    _NGRAM_PAIRS_SQL,
    _PREFIX_TWIN_DOCS,
    _SHINGLE_CTE,
    _VERIFY_SQL,
    _cluster_map,
    _cos_sql,
    _keep_best_sql,
    _lsh_cand_ctes,
    _minhash_sql,
    _prefix_filter_sql,
    _semantic_prune_sql,
    _simhash_sql,
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


# ---------------------------------------------------------- exact dedup
@_q(
    "dd_exact_groups",
    """WITH all_docs AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0)
       SELECT md5(text) AS text_hash, CAST(min(doc_id) AS BIGINT) AS keep_id,
              count(*) AS n_copies
       FROM all_docs GROUP BY md5(text)""",
)
def dd_exact_groups(spark, sf_dir):
    """Exact dedup via hash-groupBy. Duplicates are synthesized
    in-query (testdata texts are all distinct): every 5th doc is
    re-inserted under a shifted id, so 1/5 of groups have n_copies=2."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    groups = dedup.exact_dup_groups(d.unionByName(dup), "doc_id", "text")
    return groups.select(
        F.md5("text").alias("text_hash"), "keep_id", "n_copies"
    )


@_q("dd_minhash_lsh", _minhash_sql(16, 8, 0.5))
def dd_minhash_lsh(spark, sf_dir):
    """MinHash(16) + LSH(8 bands x 2 rows) near-dup pairs, exact-Jaccard
    verified at >= 0.5. The oracle SQL is generated from the same hash
    constants, so candidate sets match bit-for-bit."""
    d = load(spark, sf_dir, "documents")
    return dedup.minhash_lsh_dedup(
        d, "doc_id", "text", k=3, num_hashes=16, bands=8, threshold=0.5
    )


@_q(
    "dd_lsh_bucket_audit",
    f"""WITH {_SHINGLE_CTE},
  {_lsh_cand_ctes(16, 8)},
  bsz AS (SELECT band, sig, count(*) AS n
          FROM bands_t GROUP BY band, sig)
  SELECT CAST(band AS BIGINT) AS band,
         count(*) AS colliding_buckets,
         CAST(max(n) AS BIGINT) AS max_bucket,
         count(*) FILTER (WHERE n > 2) AS dropped_buckets,
         CAST(coalesce(sum(CAST(n AS BIGINT) * (n - 1) // 2)
                           FILTER (WHERE n > 2), 0) AS BIGINT)
             AS pruned_pairs
  FROM bsz WHERE n > 1 GROUP BY band""",
)
def dd_lsh_bucket_audit(spark, sf_dir):
    """The no-silent-caps ledger for the LSH stage
    (dedup.lsh_bucket_census): per band, colliding buckets, the
    largest bucket, and — at a deliberately aggressive cap of 2 so
    the drop path is exercised at test scale — how many buckets the
    cap would drop and the candidate-pair mass they would have
    expanded. In production the same census runs at the real
    max_bucket_size (10,000) and lands in the data card
    (pipeline_data_card.lsh_dropped_buckets), so candidate pruning
    is always a published number, never a silent footnote."""
    d = load(spark, sf_dir, "documents")
    sh = dedup.word_shingles(d, "doc_id", "text", 3)
    sig = dedup.minhash_signatures(sh, "doc_id", 16)
    bands_df = dedup.lsh_bands(sig, "doc_id", 8, 2)
    return dedup.lsh_bucket_census(bands_df, "doc_id", max_bucket_size=2)


@_q("dd_ngram_jaccard", _NGRAM_PAIRS_SQL)
def dd_ngram_jaccard(spark, sf_dir):
    """Exact all-pairs 3-gram Jaccard >= 0.5 via the inverted index —
    the exhaustive baseline for the LSH path (same verify stage, no
    candidate pruning). The oracle shares _NGRAM_PAIRS_SQL, whose
    prefix-filtered candidate stage is provably lossless for the
    rounded >= 0.5 predicate — identical pairs, DuckDB-feasible at
    sf1 where the exhaustive spelling spilled past free disk."""
    d = load(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.5)


@_q(
    "dd_dup_clusters",
    f"""WITH RECURSIVE pairs AS MATERIALIZED (
{_NGRAM_PAIRS_SQL}
       ),
       edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
       reach(v, r) AS (
         SELECT s, s FROM edges
         UNION
         SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.v
       )
       SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v""",
)
def dd_dup_clusters(spark, sf_dir):
    """Near-dup pairs → duplicate clusters via connected components
    (the package's one CC, graph.connected_components_twostar; the
    oracle computes the same components with a recursive
    transitive-closure CTE). cluster_id = the surviving (minimum) doc
    id of each component."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.5)
    return graph.connected_components_twostar(pairs)


# both names run the one CC and share the transitive-closure oracle;
# the second name stays so archived per-query walls keep their key
_q("dd_dup_clusters_twostar", ORACLES["dd_dup_clusters"])(dd_dup_clusters)


@_q("dd_simhash", _simhash_sql(16))
def dd_simhash(spark, sf_dir):
    """16-bit SimHash signatures per document (near-dups collide;
    bucket by signature to dedup). Oracle generated from the same
    bit-vote construction."""
    d = load(spark, sf_dir, "documents")
    return dedup.simhash_signatures(d, "doc_id", "text", bits=16)


@_q(
    "dd_embedding_cosine",
    f"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              round({_cos_sql('a.embedding', 'b.embedding')}, 6) AS cosine
       FROM embeddings a JOIN embeddings b
         ON a.label = b.label AND a.vec_id < b.vec_id
       WHERE round({_cos_sql('a.embedding', 'b.embedding')}, 6) >= 0.4""",
)
def dd_embedding_cosine(spark, sf_dir):
    """Embedding near-dup pairs: cosine >= 0.4 blocked by label
    (all-pairs within a block only — the blocked/clustered regime that
    scales; label stands in for a cluster/LSH-bucket assignment)."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.blocked_cosine_pairs(
        e, "vec_id", "embedding", "label", threshold=0.4
    ).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "cosine"
    )


@_q("dd_semantic_prune", _semantic_prune_sql(8, 2, 0.4))
def dd_semantic_prune(spark, sf_dir):
    """SemDeDup-style semantic dedup (similarity.semantic_prune):
    deterministic k-means (k=8, 2 iterations) partitions the
    embedding corpus, then within each cluster every vector with a
    lower-id neighbor at cosine >= 0.4 is marked keep=false. The
    oracle replays the full chain — both Lloyd iterations, the final
    assignment, the within-cluster pair scan — in generated SQL with
    the same rounding and tie-breaks.

    LABELED FIXED-k AUDIT: the oracle pins k=8 at every SF, so the
    within-cluster pair scan is Sigma n_c^2 with n_c growing linearly
    in the corpus — measured 4.4 s at sf0.1 -> 44.2 s at sf1 (10x
    data, 10x wall; the quadratic term dominates beyond that). This
    is the verification harness, not the production spelling: the
    OPERATOR's k parameter is the scale lever (semantic_prune's
    docstring — target 1-10K vectors per cluster, SemDeDup itself
    runs ~100K clusters at web scale), which keeps n_c bounded and
    the pair scan linear in the corpus. The production-shaped twin
    is dd_semantic_prune_lsh (r12): banded LSH + bucket cap, 2.2x
    wall at 10x data vs this audit's 10x."""
    from ..operators.similarity import semantic_prune

    e = load(spark, sf_dir, "embeddings")
    return semantic_prune(
        e, "vec_id", "embedding", k=8, iters=2, threshold=0.4
    ).select(F.col("vec_id").cast("long"), "cluster", "keep")


@_q(
    "dd_chunk_dedup",
    """WITH all_docs AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 300000, text FROM documents WHERE doc_id % 5 = 0),
       w AS (SELECT doc_id, string_split(text, ' ') AS w FROM all_docs
             WHERE len(string_split(text, ' ')) >= 1),
       ch AS (SELECT doc_id, i - 1 AS chunk_idx,
                     array_to_string(list_slice(w, (i - 1) * 20 + 1,
                         least(i * 20, len(w))), ' ') AS chunk
              FROM w, LATERAL (SELECT unnest(generate_series(1,
                     CAST(ceil(len(w) / 20.0) AS INT))) AS i) t),
       r AS (SELECT doc_id, chunk_idx,
                    row_number() OVER (PARTITION BY md5(chunk)
                      ORDER BY doc_id, chunk_idx) AS rk
             FROM ch)
       SELECT doc_id, count(*) AS n_chunks,
              CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept,
              round(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) / count(*), 4)
                  AS retention
       FROM r GROUP BY doc_id""",
)
def dd_chunk_dedup(spark, sf_dir):
    """Sub-document dedup at chunk granularity (the Lee et al.
    "Deduplicating Training Data Makes Language Models Better"
    regime applied at paragraph/window level): split every document
    into 20-word chunks, keep the globally FIRST copy of each
    distinct chunk (min (doc_id, chunk_idx) — deterministic), and
    report per-document retention. Full-document dup twins are
    synthesized (every 5th doc re-inserted shifted), so their chunks
    all lose to the original and retention exposes them at 0.0 while
    unique docs sit at 1.0. One narrow chunk explode + ONE shuffle
    keyed on the chunk hash — the sub-document dedup a 100 TB
    curation pass actually runs (dedup the repeated boilerplate
    paragraph, keep the surrounding document)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 5 == 0).withColumn(
            "doc_id", F.col("doc_id") + 300000
        )
    )
    words = corpus.select(
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
    w_keep = Window.partitionBy(F.md5("chunk")).orderBy(
        "doc_id", "chunk_idx"
    )
    ranked = chunks.withColumn("_rk", F.row_number().over(w_keep))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("_rk") == 1, 1).otherwise(0))
        .cast("long").alias("n_kept"),
        F.round(
            F.sum(F.when(F.col("_rk") == 1, 1).otherwise(0))
            / F.count(F.lit(1)),
            4,
        ).alias("retention"),
    )


@_q(
    "dd_containment",
    """WITH all_docs AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 200000,
                array_to_string(list_slice(string_split(text, ' '), 1,
                    len(string_split(text, ' ')) // 2), ' ')
         FROM documents WHERE doc_id % 7 = 0),
       w AS (SELECT doc_id, string_split(text, ' ') AS w FROM all_docs),
       sh AS (SELECT DISTINCT doc_id,
                unnest(list_transform(generate_series(1, len(w) - 2),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
              FROM w WHERE len(w) >= 3),
       sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       inter AS (SELECT s1.doc_id AS a, s2.doc_id AS b, count(*) AS i
                 FROM sh s1 JOIN sh s2
                   ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
                 GROUP BY s1.doc_id, s2.doc_id)
       SELECT i.a AS doc_a, i.b AS doc_b,
              round(i.i / x.n, 4) AS cont_a_in_b,
              round(i.i / y.n, 4) AS cont_b_in_a
       FROM inter i JOIN sz x ON x.doc_id = i.a JOIN sz y ON y.doc_id = i.b
       WHERE greatest(round(i.i / x.n, 4), round(i.i / y.n, 4)) >= 0.8""",
)
def dd_containment(spark, sf_dir):
    """Asymmetric near-dup via Broder containment
    (dedup.containment_pairs): every 7th document gets a HALF-LENGTH
    prefix twin synthesized in-query (id + 200000) — contained ~1.0
    in its source while Jaccard sits near 0.5, exactly the case
    symmetric dedup misses. Pairs where either direction reaches 0.8
    are flagged."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    prefixes = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.expr(
            "array_join(slice(split(text, ' '), 1,"
            " size(split(text, ' ')) div 2), ' ')"
        ).alias("text"),
    )
    return dedup.containment_pairs(
        d.unionByName(prefixes), "doc_id", "text", k=3, threshold=0.8
    )


@_q(
    "dd_containment_lsh",
    f"""WITH {_PREFIX_TWIN_DOCS},
       {_lsh_cand_ctes(16, 8)},
       sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       inter AS (SELECT c.a, c.b, count(*) AS i
                 FROM cand c
                 JOIN sh s1 ON s1.doc_id = c.a
                 JOIN sh s2 ON s2.doc_id = c.b AND s1.shingle = s2.shingle
                 GROUP BY c.a, c.b)
       SELECT i.a AS doc_a, i.b AS doc_b,
              round(i.i / x.n, 4) AS cont_a_in_b,
              round(i.i / y.n, 4) AS cont_b_in_a
       FROM inter i JOIN sz x ON x.doc_id = i.a JOIN sz y ON y.doc_id = i.b
       WHERE greatest(round(i.i / x.n, 4), round(i.i / y.n, 4)) >= 0.8""",
)
def dd_containment_lsh(spark, sf_dir):
    """Containment at LSH scale (dedup.containment_lsh): the SAME
    prefix-twin corpus as dd_containment, but candidates come from
    MinHash(16)+LSH(8 bands) banding and only survivors pay the exact
    containment verify — the composed path a 100 TB run actually
    takes for asymmetric dups (dd_containment is the validation-scale
    inverted-index twin). A half-prefix twin sits at Jaccard≈0.5,
    where the 8x2 banding curve catches ≈90% of pairs; the oracle
    replays the identical hash family, so engine and oracle miss the
    same pairs and the survivor set hash-matches."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    prefixes = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.expr(
            "array_join(slice(split(text, ' '), 1,"
            " size(split(text, ' ')) div 2), ' ')"
        ).alias("text"),
    )
    return dedup.containment_lsh(
        d.unionByName(prefixes), "doc_id", "text",
        k=3, num_hashes=16, bands=8, threshold=0.8,
    )


@_q(
    "dd_source_overlap_matrix",
    """WITH w AS (SELECT source, string_split(text, ' ') AS w
              FROM documents),
  sh AS (SELECT DISTINCT source,
                unnest(list_transform(
                    generate_series(1, len(w) - 4),
                    i -> array_to_string(w[i:i+4], ' '))) AS shingle
         FROM w WHERE len(w) >= 5),
  t AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
  p AS (SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS shared
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY 1, 2)
  SELECT source_a, source_b,
         CAST(shared AS BIGINT) AS shared,
         CAST(ta.n AS BIGINT) AS n_a,
         CAST(tb.n AS BIGINT) AS n_b,
         CAST(floor(1000000 * shared / (ta.n + tb.n - shared))
              AS BIGINT) AS jaccard_fp
  FROM p
  JOIN t ta ON ta.source = p.source_a
  JOIN t tb ON tb.source = p.source_b""",
)
def dd_source_overlap_matrix(spark, sf_dir):
    """Corpus-level cross-source contamination matrix
    (operators/dedup.source_overlap_matrix): for every source pair
    sharing at least one distinct 5-word shingle, the shared count,
    per-source totals, and fp6 Jaccard. One shingle→source-set
    aggregate with map-side pair expansion — |sources|²-bounded
    output, no corpus self-join."""
    docs = load(spark, sf_dir, "documents")
    return dedup.source_overlap_matrix(docs, "source", "text", k=5)


@_q(
    "dd_decontaminate",
    f"""WITH {_DECON_SHINGLE_CTE},
       b AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
       hits AS (SELECT s.doc_id, count(*) AS n_shared
                FROM sh s JOIN b USING (shingle)
                WHERE s.source <> 'src0'
                GROUP BY s.doc_id)
       SELECT t.doc_id,
              CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
              coalesce(h.n_shared, 0) > 0 AS contaminated
       FROM (SELECT doc_id FROM documents WHERE source <> 'src0') t
       LEFT JOIN hits h USING (doc_id)""",
)
def dd_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs from source 'src0' act as the
    held-out eval set; every other doc is flagged if it shares any
    5-word shingle with that set (operators/dedup.decontaminate)."""
    docs = load(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0")
    bench = docs.filter(F.col("source") == "src0")
    return dedup.decontaminate(train, bench, "doc_id", "text", k=5)


@_q("dd_bloom_prefilter", ORACLES["dd_decontaminate"])
def dd_bloom_prefilter(spark, sf_dir):
    """dd_decontaminate through a broadcast Bloom prefilter
    (operators/bloom.py): an m-bit filter over the held-out shingle
    set is OR-aggregated distributedly, broadcast as m/64 longs, and
    applied to the training shingles inside whole-stage codegen BEFORE
    the shuffle — at 100 TB only true hits plus the ~fp-rate sliver
    reach the exact join. Same oracle as dd_decontaminate because the
    exact join removes the false positives: bit-identical output by
    construction, proven by the shared hash."""
    from ..operators.bloom import bloom_decontaminate

    docs = load(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0")
    bench = docs.filter(F.col("source") == "src0")
    return bloom_decontaminate(train, bench, "doc_id", "text", k=5)


@_q(
    "dd_incremental_new_docs",
    """WITH seen AS (
         SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                    AS fp
         FROM documents WHERE doc_id % 2 = 0),
       batch AS (
         SELECT doc_id, text,
                md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
         FROM documents WHERE doc_id % 2 = 1)
       SELECT b.doc_id, b.fp
       FROM batch b LEFT JOIN seen s ON s.fp = b.fp
       WHERE s.fp IS NULL""",
)
def dd_incremental_new_docs(spark, sf_dir):
    """Incremental corpus dedup: an arriving batch (odd doc ids)
    anti-joined on canonical fingerprints against the already-ingested
    index (even doc ids) — the nightly-growth companion to the batch
    dedup ops (same shape as the S7/S8 file manifest, applied to
    CONTENT identity). The fingerprint is
    textstats.canonical_fingerprint (lowercase, whitespace-collapsed
    md5), so formatting-only rewrites of an already-ingested doc are
    caught. At 100 TB the index side is a compact one-column table;
    the anti-join shuffles fingerprints, never text bytes."""
    docs = load(spark, sf_dir, "documents")
    fp = textstats.canonical_fingerprint(F.col("text"))
    seen = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(fp.alias("fp"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", fp.alias("fp")
    )
    return batch.join(seen, "fp", "left_anti").select("doc_id", "fp")


@_q(
    "dd_fuzzy_match",
    """WITH t AS (SELECT p_partkey, p_name,
                     (p_partkey % (length(p_name) - 1)) + 2 AS q
              FROM part WHERE p_partkey % 7 = 0),
       ty AS (SELECT p_partkey,
                     substr(p_name, 1, q - 1) || substr(p_name, q + 1)
                         AS typo_name
              FROM t),
       cat AS (SELECT DISTINCT p_name AS cand FROM part),
       cd AS (SELECT p_partkey, typo_name, cand,
                     levenshtein(typo_name, cand) AS dist
              FROM ty JOIN cat
                ON substr(typo_name, 1, 1) = substr(cand, 1, 1)
               AND levenshtein(typo_name, cand) <= 1),
       r AS (SELECT *, row_number() OVER (PARTITION BY p_partkey
                                          ORDER BY dist, cand) AS rn
             FROM cd)
       SELECT p_partkey, typo_name, cand AS matched_name,
              CAST(dist AS INT) AS dist
       FROM r WHERE rn = 1""",
)
def dd_fuzzy_match(spark, sf_dir):
    """Edit-distance fuzzy matching against a canonical dictionary —
    the typo-level dedup modality the shingle/minhash family can't
    see (a one-character slip barely moves token sets). Every 7th
    part name gets a deterministic single-character deletion, then is
    matched back to the clean catalog: candidates blocked on the
    first letter (never deleted by construction), scored with
    ``levenshtein`` ≤ 1, best match picked by (distance, name) — a
    deterministic argmin. The dictionary side is tiny and broadcast;
    the blocked candidate set keeps the quadratic distance kernel off
    the full cross product, which is the only shape that survives a
    catalog of millions at 100 TB (block key would become (first
    letter, length band))."""
    part = load(spark, sf_dir, "part").select("p_partkey", "p_name")
    q = (F.col("p_partkey") % (F.length("p_name") - 1)) + 2
    typo = (
        part.filter(F.col("p_partkey") % 7 == 0)
        .withColumn("q", q)
        .select(
            "p_partkey",
            F.concat(
                F.expr("substr(p_name, 1, q - 1)"),
                F.expr("substr(p_name, q + 1)"),
            ).alias("typo_name"),
        )
    )
    cat = part.select(F.col("p_name").alias("cand")).distinct()
    cand = typo.join(
        F.broadcast(cat),
        (
            F.substring("typo_name", 1, 1) == F.substring("cand", 1, 1)
        )
        & (F.levenshtein("typo_name", "cand") <= 1),
    ).select(
        "p_partkey", "typo_name", "cand",
        F.levenshtein("typo_name", "cand").alias("dist"),
    )
    w = Window.partitionBy("p_partkey").orderBy("dist", "cand")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_partkey", "typo_name",
            F.col("cand").alias("matched_name"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


@_q(
    "dd_split_leakage",
    """WITH d AS (SELECT doc_id, text,
                     CASE WHEN (((((((doc_id % 4294967296) // 65536) * 2654435761) % 65536) * 65536 + ((doc_id % 4294967296) % 65536) * 2654435761) % 4294967296) * 100) // 4294967296 < 90
                          THEN 'train' ELSE 'eval' END AS split
              FROM documents),
       w AS (SELECT doc_id, split, string_split(text, ' ') AS w FROM d),
       sh AS (SELECT DISTINCT doc_id, split,
                     unnest(list_transform(generate_series(1, len(w) - 4),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                 || ' ' || w[i+3] || ' ' || w[i+4]))
                         AS shingle
              FROM w WHERE len(w) >= 5),
       tr AS (SELECT DISTINCT shingle FROM sh WHERE split = 'train'),
       hits AS (SELECT s.doc_id, count(*) AS n_shared
                FROM sh s JOIN tr USING (shingle)
                WHERE s.split = 'eval'
                GROUP BY s.doc_id)
       SELECT t.doc_id,
              CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
              coalesce(h.n_shared, 0) > 0 AS contaminated
       FROM (SELECT doc_id FROM d WHERE split = 'eval') t
       LEFT JOIN hits h USING (doc_id)""",
)
def dd_split_leakage(spark, sf_dir):
    """Train/eval leakage audit — the check a split pipeline runs
    BEFORE shipping an eval set: documents land in train (90%) or
    eval (10%) via the engine-portable hash carve
    (operators/sampling.assign_split), and every eval doc is flagged
    if it shares a 5-word shingle with ANY train doc
    (operators/dedup.decontaminate with the roles swapped —
    composition, not new machinery). The train shingle set is the big
    side here, so the shingle-keyed equi-join shuffles instead of
    broadcasting — same operator, opposite asymmetry, and the reason
    decontaminate takes no hard broadcast hint."""
    docs = sampling.assign_split(
        load(spark, sf_dir, "documents"), "doc_id",
        {"train": 90, "eval": 10},
    )
    train = docs.filter(F.col("split") == "train")
    ev = docs.filter(F.col("split") == "eval")
    return dedup.decontaminate(ev, train, "doc_id", "text", k=5)


@_q(
    "dd_substring_spans",
    """WITH all_docs AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 200000,
                array_to_string(string_split(text, ' ')[11:], ' ')
         FROM documents WHERE doc_id % 7 = 0),
       w AS (SELECT doc_id, string_split(text, ' ') AS w FROM all_docs),
       g AS (SELECT doc_id,
                    unnest(list_transform(generate_series(1, len(w) - 7),
                           i -> {'pos': i,
                                 'h': CAST(concat('0x',
                                        substring(md5(array_to_string(
                                          w[i:i+7], ' ')), 1, 15))
                                      AS BIGINT)})) AS s
             FROM w WHERE len(w) >= 8),
       g2 AS (SELECT doc_id, s.pos AS pos, s.h AS h FROM g),
       p AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa,
                    b.pos AS pb, a.pos - b.pos AS diag
             FROM g2 a JOIN g2 b
               ON a.h = b.h AND a.doc_id < b.doc_id),
       r AS (SELECT *, row_number() OVER (
                PARTITION BY da, db, diag ORDER BY pa) AS rn FROM p)
       SELECT da AS doc_a, db AS doc_b,
              CAST(min(pa) AS BIGINT) AS start_a,
              CAST(min(pb) AS BIGINT) AS start_b,
              CAST(max(pa) - min(pa) + 8 AS BIGINT) AS span_tokens
       FROM r GROUP BY da, db, diag, pa - rn""",
)
def dd_substring_spans(spark, sf_dir):
    """Exact shared-substring spans >= 8 tokens across documents
    (dedup.substring_spans) — the Lee et al. ACL'22 exact-substring
    dedup re-expressed as a positional L-gram inverted index +
    diagonal gaps-and-islands merge. Overlap is synthesized in-query
    (every 7th doc re-enters as its own 10-words-later suffix), so
    the expected spans are knowable: each synthetic pair shares one
    maximal span starting at (11, 1). Both engines build the same
    md5 gram hashes -> identical span sets, hash-matched."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    suffix = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.array_join(
                F.slice(F.split(F.col("text"), " "), 11, 1_000_000), " "
            ).alias("text"),
        )
    )
    all_docs = docs.unionByName(suffix)
    return dedup.substring_spans(all_docs, "doc_id", "text", min_tokens=8)


@_q(
    "dd_boilerplate",
    """WITH d AS (SELECT doc_id,
                       CASE WHEN doc_id % 3 <> 0
                            THEN text || ' spark footer generated legal text'
                            ELSE text END AS text
              FROM documents),
       w AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
       pos AS (SELECT doc_id,
                      unnest(list_transform(generate_series(1, len(w) - 2),
                             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                          AS shingle
               FROM w WHERE len(w) >= 3),
       nd AS (SELECT count(DISTINCT doc_id) AS nd FROM d),
       dfq AS (SELECT shingle, count(DISTINCT doc_id) AS df
               FROM pos GROUP BY shingle),
       boiler AS (SELECT shingle FROM dfq, nd WHERE df > nd * 0.2)
       SELECT p.doc_id, count(*) AS n_shingles,
              CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_boiler,
              round(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                    / CAST(count(*) AS DOUBLE), 4) AS boiler_frac
       FROM pos p LEFT JOIN boiler b ON b.shingle = p.shingle
       GROUP BY p.doc_id""",
)
def dd_boilerplate(spark, sf_dir):
    """Template/boilerplate contamination ledger
    (dedup.boilerplate_fraction): shingles appearing in >20% of
    documents mark boilerplate, each doc scored by the fraction of
    its shingle positions covered. A fixed footer is synthesized onto
    2/3 of the docs in-query (testdata texts share no natural
    3-gram at 20% df), so the expected ledger is knowable: footer
    shingles cross the threshold, footered docs score ~5/100, the
    rest 0."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 != 0,
            F.concat(
                F.col("text"),
                F.lit(" spark footer generated legal text"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return dedup.boilerplate_fraction(docs, "doc_id", "text",
                                      k=3, df_frac=0.2)


@_q(
    "dd_savings_ledger",
    f"""WITH clusters AS ({ORACLES["dd_dup_clusters"]}),
       sized AS (SELECT c.cluster_id, c.doc_id, d.n_chars
                 FROM clusters c JOIN documents d USING (doc_id))
       SELECT cluster_id, count(*) AS n_members,
              CAST(sum(n_chars) AS BIGINT) AS bytes_total,
              CAST(sum(n_chars)
                   - max(CASE WHEN doc_id = cluster_id THEN n_chars END)
                   AS BIGINT) AS bytes_saved
       FROM sized GROUP BY cluster_id HAVING count(*) > 1""",
)
def dd_savings_ledger(spark, sf_dir):
    """What dedup actually BUYS: per near-dup cluster, the member
    count, total byte mass, and bytes reclaimed by keeping only the
    cluster head (minimum doc id) — the ledger that justifies the
    dedup stage's cost in a 100 TB curation budget review. One join
    of the cluster map onto document sizes plus a cluster-keyed
    aggregate on top of the oracle-shared connected components."""
    d = load(spark, sf_dir, "documents")
    _, clusters = _cluster_map(spark, sf_dir)
    sized = clusters.join(d.select("doc_id", "n_chars"), "doc_id")
    return (
        sized.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("n_chars").cast("long").alias("bytes_total"),
            (
                F.sum("n_chars")
                - F.max(
                    F.when(
                        F.col("doc_id") == F.col("cluster_id"),
                        F.col("n_chars"),
                    )
                )
            )
            .cast("long")
            .alias("bytes_saved"),
        )
        .filter(F.col("n_members") > 1)
    )


@_q(
    "dd_url_canonicalize",
    r"""WITH raw AS (
         SELECT doc_id,
                CASE doc_id % 5
                  WHEN 0 THEN 'https://site' || ((doc_id // 5) % 7)
                       || '.example.com/page/' || (doc_id // 5)
                  WHEN 1 THEN 'https://site' || ((doc_id // 5) % 7)
                       || '.example.com/page/' || (doc_id // 5)
                       || '?utm_source=news&utm_campaign=x'
                  WHEN 2 THEN 'https://site' || ((doc_id // 5) % 7)
                       || '.example.com/page/' || (doc_id // 5) || '/'
                  WHEN 3 THEN 'HTTPS://SITE' || ((doc_id // 5) % 7)
                       || '.Example.COM/page/' || (doc_id // 5)
                  ELSE 'https://site' || ((doc_id // 5) % 7)
                       || '.example.com:443/page/' || (doc_id // 5)
                END AS url
         FROM documents),
       canon AS (
         SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         lower(regexp_extract(trim(url),
                             '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1))
                         || substring(trim(url),
                            length(regexp_extract(trim(url),
                              '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1))
                            + 1),
                       '^(https?://[^/?#:]*):80(/|\?|#|$)', '\1\2'),
                     '^(https?://[^/?#:]*):443(/|\?|#|$)', '\1\2'),
                   '#.*$', ''),
                   '[?&](utm_[a-z]+|fbclid)=[^&#]*', '', 'g'),
                 '\?&', '?'),
               '^([^?&]*)&', '\1?'),
             '\?$', '') AS c0
         FROM raw),
       canon2 AS (
         SELECT doc_id,
                regexp_replace(c0,
                  '^([a-z][a-z0-9+.-]*://[^/?#]+/[^?#]*[^/?#])/$', '\1')
                    AS canonical_url
         FROM canon)
       SELECT canonical_url, count(*) AS n_variants,
              CAST(min(doc_id) AS BIGINT) AS keep_id
       FROM canon2 GROUP BY canonical_url""",
)
def dd_url_canonicalize(spark, sf_dir):
    """URL canonicalization dedup (textstats.canonicalize_url) — the
    FIRST dedup a web corpus runs, before any content hashing:
    lowercase authority, default-port strip, fragment drop,
    utm_*/fbclid removal, trailing-slash collapse. Five deterministic
    variants per page are synthesized in-query (plain, tracking
    params, trailing slash, shouted host, explicit :443); every
    5-block collapses to one canonical key with keep_id = min doc_id.
    Pure regexp Column chain at scan speed; identical rules in the
    oracle's RE2."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    base = F.concat(
        F.lit("https://site"), (F.floor(F.col("doc_id") / 5) % 7).cast("long").cast("string"),
        F.lit(".example.com/page/"),
        F.floor(F.col("doc_id") / 5).cast("long").cast("string"),
    )
    shout = F.concat(
        F.lit("HTTPS://SITE"), (F.floor(F.col("doc_id") / 5) % 7).cast("long").cast("string"),
        F.lit(".Example.COM/page/"),
        F.floor(F.col("doc_id") / 5).cast("long").cast("string"),
    )
    port = F.concat(
        F.lit("https://site"), (F.floor(F.col("doc_id") / 5) % 7).cast("long").cast("string"),
        F.lit(".example.com:443/page/"),
        F.floor(F.col("doc_id") / 5).cast("long").cast("string"),
    )
    raw = (
        F.when(F.col("doc_id") % 5 == 0, base)
        .when(F.col("doc_id") % 5 == 1,
              F.concat(base, F.lit("?utm_source=news&utm_campaign=x")))
        .when(F.col("doc_id") % 5 == 2, F.concat(base, F.lit("/")))
        .when(F.col("doc_id") % 5 == 3, shout)
        .otherwise(port)
    )
    canon = textstats.canonicalize_url(raw)
    return (
        docs.select("doc_id", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").cast("long").alias("keep_id"),
        )
    )


@_q("dd_keep_best_quality", _keep_best_sql())
def dd_keep_best_quality(spark, sf_dir):
    """The dedup DECISION rule production pipelines actually use:
    keep each near-dup cluster's highest-QUALITY member (rounded
    quality score, doc-id tie-break) rather than the arbitrary
    minimum id — the difference between deduping and deduping while
    throwing away the best copy. One join of the cluster map onto the
    codegen quality score plus a per-cluster argmax window (cluster
    keys partition; no global window)."""
    d = load(spark, sf_dir, "documents")
    _, clusters = _cluster_map(spark, sf_dir)
    scored = clusters.join(
        d.select(
            "doc_id", textstats.quality_score(F.col("text")).alias("quality")
        ),
        "doc_id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(F.when(F.col("rk") == 1, F.col("doc_id")))
            .cast("long")
            .alias("keep_id"),
            F.max("quality").alias("best_quality"),
        )
        .filter(F.col("n_members") > 1)
    )


@_q("dd_prefix_filter_join", _prefix_filter_sql())
def dd_prefix_filter_join(spark, sf_dir):
    """EXACT set-similarity self-join at Jaccard >= 1/2 via prefix
    filtering (AllPairs/PPJoin — Bayardo et al. WWW'07, Xiao et al.
    WWW'08; operators/ssjoin.py): the lossless counterpart to the
    banded-MinHash path. Each 3-shingle set joins only on the
    ``n - ceil(t*n) + 1`` globally RAREST of its shingles, the
    size-ratio filter prunes the rest, and only survivors pay exact
    verification — on this corpus 124,750 possible pairs become ~772
    candidates and the same 25 near-dup pairs LSH finds, with a
    no-false-negative guarantee LSH cannot give."""
    docs = load(spark, sf_dir, "documents")
    # join on the 60-bit shingle HASH, not the shingle string: every
    # prefix-filter stage (df aggregate, rarity join, sorted-array
    # groupBy, prefix self-join, array_intersect verify) then moves
    # 8-byte longs (guide §2.3). Lossless: the prefix theorem holds
    # for ANY total order (hash rarity ties replace string ties), the
    # verify is exact, and intersections over distinct 60-bit hashes
    # equal string intersections (the repo-wide hash-set convention).
    sh = dedup.hashed_shingles(
        dedup.word_shingles(docs, "doc_id", "text", k=3), "doc_id"
    )
    return ssjoin.prefix_filter_pairs(
        sh, "doc_id", "_h60", t_num=1, t_den=2
    )


# ------------------------------------ LSH recall audit vs exact join
@_q(
    "dd_lsh_recall_audit",
    f"""WITH ex AS ({_prefix_filter_sql()}),
       lsh AS ({_minhash_sql(16, 8, 0.5)}),
       j AS (SELECT ex.jacc_fp,
                    CASE WHEN l.doc_a IS NULL THEN 0 ELSE 1 END
                        AS found
             FROM ex LEFT JOIN lsh l
               ON l.doc_a = ex.id_a AND l.doc_b = ex.id_b)
       SELECT CAST(jacc_fp // 100000 AS BIGINT) AS band,
              CAST(count(*) AS BIGINT) AS n_exact,
              CAST(sum(found) AS BIGINT) AS n_lsh,
              CAST(count(*) - sum(found) AS BIGINT) AS missed
       FROM j GROUP BY 1""",
)
def dd_lsh_recall_audit(spark, sf_dir):
    """The measured false-negative ledger for the LSH dedup path:
    ground truth is the EXACT prefix-filtered join (no false
    negatives by theorem), and per Jaccard decile band the audit
    counts how many true pairs the banded-MinHash path actually
    surfaced — LSH recall as a published number per similarity band,
    not a formula. The exact side is affordable precisely because the
    prefix filter prunes it; at 100 TB this runs on a sample and the
    band-wise recall extrapolates (the banding S-curve is
    similarity-determined, not corpus-size-determined)."""
    docs = load(spark, sf_dir, "documents")
    # ONE shared HASHED shingle frame for both branches: the exact
    # side and the LSH side need the identical (doc_id, shingle-hash)
    # relation — re-shingling (or re-hashing) per branch paid the
    # explode+distinct shuffle and the md5 pass twice per audit run.
    # The exact branch joins on the hash (lossless — see
    # dd_prefix_filter_join); the LSH branch consumes hashes by
    # construction.
    from ..plans.session import scratch_persist

    sh = scratch_persist(dedup.hashed_shingles(
        dedup.word_shingles(docs, "doc_id", "text", k=3), "doc_id"
    ))
    exact = ssjoin.prefix_filter_pairs(
        sh, "doc_id", "_h60", t_num=1, t_den=2
    )
    sig = dedup._minhash_signatures_h60(sh, "doc_id", 16, seed=7)
    cand = scratch_persist(dedup.candidate_pairs(
        dedup.lsh_bands(sig, "doc_id", 8, 2), "doc_id"
    ))
    lsh = dedup.verify_jaccard(cand, sh, "doc_id", 0.5).select(
        F.col("doc_a").alias("_la"), F.col("doc_b").alias("_lb"),
    )
    joined = exact.join(
        lsh,
        on=[exact["id_a"] == F.col("_la"),
            exact["id_b"] == F.col("_lb")],
        how="left",
    ).select(
        F.floor(F.col("jacc_fp") / F.lit(100_000)).alias("band"),
        F.when(F.col("_la").isNull(), F.lit(0)).otherwise(F.lit(1))
        .alias("_found"),
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.sum("_found").cast("long").alias("n_lsh"),
        (F.count(F.lit(1)) - F.sum("_found")).cast("long")
        .alias("missed"),
    )


@_q(
    "dd_dup_weighting",
    f"""WITH RECURSIVE pairs AS MATERIALIZED (
{_NGRAM_PAIRS_SQL}
       ),
       edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
                 UNION SELECT doc_b, doc_a FROM pairs),
       reach(v, r) AS (
         SELECT s, s FROM edges
         UNION
         SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.v
       ),
       cl AS (SELECT v AS doc_id, min(r) AS cluster_id
              FROM reach GROUP BY v),
       stamped AS (SELECT d.doc_id,
                          coalesce(cl.cluster_id, d.doc_id)
                              AS cluster_id
                   FROM documents d LEFT JOIN cl USING (doc_id)),
       sz AS (SELECT cluster_id, count(*) AS cluster_size
              FROM stamped GROUP BY cluster_id)
       SELECT s.doc_id, s.cluster_id,
              CAST(sz.cluster_size AS BIGINT) AS cluster_size,
              CAST(floor(1000000 / sz.cluster_size) AS BIGINT)
                  AS weight_fp
       FROM stamped s JOIN sz USING (cluster_id)""",
)
def dd_dup_weighting(spark, sf_dir):
    """Count-aware duplicate downweighting
    (operators/dedup.duplicate_weights): instead of dropping
    near-dups, every document trains with weight 1/cluster-size, so
    repeated content contributes once in expectation — the
    memorization remedy when hard dedup is too lossy. Singletons
    carry exactly 1e6; the cluster map costs a bounded-round CC over
    PAIRS (never the corpus) plus one stamp join and one size
    aggregate."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, "doc_id", "text", k=3,
                                      threshold=0.5)
    return dedup.duplicate_weights(d, "doc_id", pairs)


def _banded_prune_sql(dim: int, bands: int, threshold: float,
                      max_bucket: int) -> str:
    """DuckDB twin of similarity.banded_semantic_prune at the
    ADAPTIVE band width (r14): the SAME deterministic hyperplane
    constants, band packing (shared _banded_sigs_adaptive_ctes —
    width grows with log corpus, bit-identical to the historical
    fixed 8 at every verified gate scale), bucket-size cap,
    strict-left-fold cosine and rounding — every bit of the banding
    AND the recall loss replay exactly."""
    from .scale_common import _banded_sigs_adaptive_ctes, _cos_sql

    cos = _cos_sql("va.embedding", "vb.embedding")
    return f"""WITH {_banded_sigs_adaptive_ctes(dim, bands)},
       ok_buckets AS (SELECT band, sig FROM sigs
                      GROUP BY band, sig
                      HAVING count(*) <= {max_bucket}),
       el AS (SELECT s.* FROM sigs s JOIN ok_buckets USING (band, sig)),
       cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                FROM el a JOIN el b
                  ON a.band = b.band AND a.sig = b.sig
                 AND a.vec_id < b.vec_id),
       dominated AS (
         SELECT c.id_b, min(c.id_a) AS dominator
         FROM cand c
         JOIN embeddings va ON va.vec_id = c.id_a
         JOIN embeddings vb ON vb.vec_id = c.id_b
         WHERE round({cos}, 6) >= {threshold}
         GROUP BY c.id_b)
       SELECT e.vec_id, d.dominator IS NULL AS keep,
              CAST(d.dominator AS BIGINT) AS dominator
       FROM embeddings e LEFT JOIN dominated d ON d.id_b = e.vec_id"""


@_q("dd_semantic_prune_lsh", _banded_prune_sql(64, 4, 0.4, 256))
def dd_semantic_prune_lsh(spark, sf_dir):
    """SemDeDup at the PRODUCTION scale shape (r12; adaptive width
    r14) — the linear twin of the labeled fixed-k audit
    dd_semantic_prune: banded random-hyperplane LSH (4 bands of
    adaptive_rows_per_band sign bits — 8 at every verified gate
    scale, growing with log corpus past ~33K vectors so the per-band
    key space is never the bounded 256 buckets that go quadratic;
    deterministic constants) replaces the iterative k-means
    partition, candidate pairs come from a bucket join (never
    all-pairs), buckets larger than 256 are dropped ENTIRELY before
    expansion (the boilerplate-noise guard — a degenerate embedding
    cluster cannot expand O(n^2) inside one task), and candidates
    verify by exact cosine >= 0.4 before a vector with a lower-id
    verified neighbor is dropped. One signature scan instead of 2
    Lloyd iterations. The oracle replays the identical adaptive
    banding, cap and verification, so the hash match covers the
    recall loss too."""
    from ..operators.similarity import (
        adaptive_rows_per_band,
        banded_semantic_prune,
    )

    e = load(spark, sf_dir, "embeddings")
    rpb = adaptive_rows_per_band(e.count())
    return banded_semantic_prune(
        e, "vec_id", "embedding", dim=64, bands=4, rows_per_band=rpb,
        threshold=0.4, max_bucket=256,
    ).select(F.col("vec_id").cast("long"), "keep",
             F.col("dominator").cast("long"))


__all__ = [
    "dd_exact_groups",
    "dd_minhash_lsh",
    "dd_lsh_bucket_audit",
    "dd_ngram_jaccard",
    "dd_dup_clusters",
    "dd_simhash",
    "dd_embedding_cosine",
    "dd_semantic_prune",
    "dd_chunk_dedup",
    "dd_containment",
    "dd_containment_lsh",
    "dd_source_overlap_matrix",
    "dd_decontaminate",
    "dd_bloom_prefilter",
    "dd_incremental_new_docs",
    "dd_fuzzy_match",
    "dd_split_leakage",
    "dd_substring_spans",
    "dd_boilerplate",
    "dd_savings_ledger",
    "dd_url_canonicalize",
    "dd_keep_best_quality",
    "dd_prefix_filter_join",
    "dd_lsh_recall_audit",
    "dd_dup_weighting",
    "dd_semantic_prune_lsh",
]
