"""Shared helpers for the scale-query family modules.

Oracle-SQL generators, shared CTEs, fixed-point formatters and the
expensive fixture memos used by the ``scale_*`` family modules
(scale_dd / scale_ann / scale_mm / scale_txt / scale_ml /
scale_misc). Split out of the former 7.4k-line ``scale_queries.py``
in round 12 (VERDICT r11 #6); ``scale_queries`` remains the façade
that merges the family registries in the original registration order
and re-exports every name, so external importers and the driver
surface are unchanged. Helper bodies preserved verbatim; the only
edits are the lazy ``_dd_oracles``/``_ann_oracles`` accessors that
replace direct ``ORACLES[...]`` references across family boundaries.
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
from ..operators.multimodal import CLONE_ID_BASE
from ..plans.schemas import load
from ._fixtures import FixtureMemo


def _dd_oracles() -> dict:
    """Lazy view of scale_dd.ORACLES, resolved at CALL time: the
    helpers below are invoked while their caller module is still
    importing, so a top-level import would be circular. By the time a
    caller builds its oracle, the referenced name is already
    registered (family files preserve the original registration
    order)."""
    from . import scale_dd
    return scale_dd.ORACLES


def _ann_oracles() -> dict:
    """Lazy view of scale_ann.ORACLES (see :func:`_dd_oracles`)."""
    from . import scale_ann
    return scale_ann.ORACLES

# ------------------------------------------------------- shared SQL CTEs
_SHINGLE_CTE = """
  w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
  sh AS (SELECT DISTINCT doc_id,
                unnest(list_transform(generate_series(1, len(w) - 2),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
         FROM w WHERE len(w) >= 3)
"""

_VERIFY_SQL = """
  sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
  inter AS (SELECT c.a, c.b, count(*) AS i
            FROM cand c
            JOIN sh s1 ON s1.doc_id = c.a
            JOIN sh s2 ON s2.doc_id = c.b AND s1.shingle = s2.shingle
            GROUP BY c.a, c.b)
  SELECT i.a AS doc_a, i.b AS doc_b,
         round(i.i / (x.n + y.n - i.i), 4) AS jaccard
  FROM inter i JOIN sz x ON x.doc_id = i.a JOIN sz y ON y.doc_id = i.b
  WHERE round(i.i / (x.n + y.n - i.i), 4) >= {thr}
"""

def _lsh_cand_ctes(num_hashes: int, bands: int, src: str = "sh") -> str:
    """sig_t/bands_t/cand CTE block over an in-scope ``src(doc_id,
    shingle)`` relation — the banding replay shared by every
    LSH-candidate oracle (same hash constants as the engine, so
    candidate sets match bit-for-bit)."""
    rows = num_hashes // bands
    h = f"({md5_long_sql('shingle')} % {MERSENNE_P})"
    mins = ",\n            ".join(
        f"min({affine_hash_sql(h, a, b)}) AS m{j}"
        for j, (a, b) in enumerate(minhash_coeffs(num_hashes))
    )
    band_selects = "\n    UNION ALL\n".join(
        "    SELECT doc_id, {b} AS band, concat({cols}) AS sig FROM sig_t".format(
            b=b,
            cols=", '_', ".join(
                f"CAST(m{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return f"""sig_t AS (SELECT doc_id,
            {mins}
            FROM {src} GROUP BY doc_id),
  bands_t AS (
{band_selects}),
  cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM bands_t x JOIN bands_t y
             ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id)"""

def _minhash_sql(num_hashes: int, bands: int, threshold: float) -> str:
    return f"""WITH {_SHINGLE_CTE},
  {_lsh_cand_ctes(num_hashes, bands)},
{_VERIFY_SQL.format(thr=threshold)}"""

# Candidate generation is PREFIX-FILTERED (AllPairs, Bayardo et al.
# WWW'07) rather than the exhaustive inverted-index self-join: the
# exhaustive `sh JOIN sh ON shingle` form is quadratic in shingle
# document-frequency and made every cluster-family oracle infeasible
# in DuckDB at the sf1 replica (>77 GB of spill). Losslessness for
# the verify predicate round(j, 4) >= thr: that predicate implies
# exact j >= thr - 0.5e-4, and the prefix filter at t = tn/td
# (prefix length n - ceil(t*n) + 1 under the global df-asc/
# shingle-asc term order, plus the min*td >= tn*max size filter)
# provably emits every pair with exact j >= t. The verify stage is
# unchanged — same exact intersection over the FULL shingle sets,
# same rounding — so the surviving pairs are identical at every
# scale (re-verified: hashes unchanged at sf0.01/sf0.1). The filter
# constants DERIVE from the single threshold below (tn = thr*td - 1)
# and the assert pins the superset bound, so an edit to the verify
# threshold cannot silently leave the candidate stage lossy.
_NGRAM_THR = 0.5
_NGRAM_TD = 10000
_NGRAM_TN = int(_NGRAM_THR * _NGRAM_TD) - 1
assert _NGRAM_TN / _NGRAM_TD < _NGRAM_THR - 0.5e-4, (
    "prefix filter no longer a superset of the verify threshold"
)
_NGRAM_PAIRS_SQL = f"""WITH {_SHINGLE_CTE},
  dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
  siz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
  ordp AS (SELECT t.doc_id, t.shingle, s.n,
             row_number() OVER (PARTITION BY t.doc_id
                                ORDER BY d.df, t.shingle) AS pos
           FROM sh t JOIN dfc d USING (shingle)
                     JOIN siz s USING (doc_id)),
  pref AS (SELECT doc_id, shingle, n FROM ordp
           WHERE pos <= n - CAST(({_NGRAM_TN} * n + {_NGRAM_TD - 1})
                                 // {_NGRAM_TD} AS BIGINT)
                            + 1),
  cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
           FROM pref a JOIN pref b
             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           WHERE least(a.n, b.n) * {_NGRAM_TD}
                 >= {_NGRAM_TN} * greatest(a.n, b.n)),
{_VERIFY_SQL.format(thr=_NGRAM_THR)}"""

# --------------------------------------------------------------- SimHash
def _simhash_sql(bits: int) -> str:
    h = md5_long_sql("tok")
    votes = ",\n           ".join(
        f"sum((( {h} >> {j}) & 1) * 2 - 1) AS v{j}" for j in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits)
    )
    return f"""WITH t AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
               FROM documents),
  v AS (SELECT doc_id,
           {votes}
        FROM t WHERE tok <> '' GROUP BY doc_id)
  SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM v"""

# ------------------------------------------------- embedding cosine dedup
_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
    "(x, y) -> x + y)"
)

def _cos_sql(a: str, b: str) -> str:
    return (
        f"({_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)})))"
    )

def _ivf_probe_sql(n_probe: int) -> str:
    """DuckDB twin of similarity.ivf_topk at a given probe width —
    shared by ann_ivf_topk (n_probe=2) and the ann_probe_sweep
    recall curve."""
    return f"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv
                     FROM embeddings ORDER BY vec_id LIMIT 8),
       asg AS (SELECT e.vec_id AS neighbor_id, e.embedding AS ev, c.cid,
                      row_number() OVER (PARTITION BY e.vec_id
                        ORDER BY round({_cos_sql('e.embedding', 'c.cv')}, 6) DESC,
                                 c.cid) AS rk
               FROM embeddings e, cent c),
       cell AS (SELECT neighbor_id, ev, cid FROM asg WHERE rk = 1),
       q AS (SELECT vec_id AS query_id, embedding AS qv
             FROM embeddings WHERE vec_id < 10),
       probe AS (SELECT x.query_id, x.qv, c.cid,
                        row_number() OVER (PARTITION BY x.query_id
                          ORDER BY round({_cos_sql('x.qv', 'c.cv')}, 6) DESC,
                                   c.cid) AS rk
                 FROM q x, cent c),
       pr AS (SELECT query_id, qv, cid FROM probe
              WHERE rk <= {n_probe}),
       s AS (SELECT pr.query_id, cell.neighbor_id,
                    round({_cos_sql('pr.qv', 'cell.ev')}, 6) AS cosine
             FROM pr JOIN cell USING (cid)
             WHERE cell.neighbor_id <> pr.query_id)
       SELECT query_id, neighbor_id, cosine, rk FROM (
         SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
         FROM s) t
       WHERE rk <= 5"""

_SWEEP_PROBES = (1, 2, 4, 8)

def _probe_sweep_block(p: int) -> str:
    return f"""SELECT CAST({p} AS BIGINT) AS n_probe,
       CAST(sum(h) AS BIGINT) AS n_hits,
       CAST(floor(1000000 * sum(h) / 50) AS BIGINT) AS recall_fp,
       CAST(min(h) AS BIGINT) AS min_hits
    FROM (SELECT b.query_id, count(i.neighbor_id) AS h
          FROM ({_ann_oracles()["ann_cosine_topk"]}) b
          LEFT JOIN ({_ivf_probe_sql(p)}) i
            ON i.query_id = b.query_id
           AND i.neighbor_id = b.neighbor_id
          GROUP BY b.query_id)"""

def _rp_sql(d_in: int, d_out: int, seed: int) -> str:
    """DuckDB twin of linalg.random_projection: the SAME ±1 sign
    constants (generated by the same rp_signs call) folded in the
    same left-to-right order, scaled and rounded identically."""
    import math

    from ..operators.linalg import rp_signs

    signs = rp_signs(seed, d_in, d_out)
    scale = f"CAST('{math.sqrt(float(d_out))!r}' AS DOUBLE)"

    def arr(vals):
        return "[" + ", ".join(
            f"CAST('{float(v)!r}' AS DOUBLE)" for v in vals
        ) + "]"

    selects = []
    for j in range(d_out):
        dot = (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(generate_series(1, {d_in}), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({arr(signs[j])})[i])), "
            "(x, y) -> x + y)"
        )
        selects.append(
            f"SELECT vec_id, CAST({j + 1} AS BIGINT) AS out_dim, "
            f"round({dot} / {scale}, 6) + CAST(0.0 AS DOUBLE) AS value "
            "FROM embeddings"
        )
    return "\nUNION ALL\n".join(selects)

def _sign_bits_sql(plane_ids, dim: int) -> str:
    """DuckDB twin of the Spark signature kernel
    (similarity._signatures): the sum of ``1 << r`` over the planes
    ``plane_ids[r]`` with <embedding, plane> > 0. The ±1 plane
    components are the driver-side constants of
    similarity._plane_sign, inlined, and each dot is the left fold
    from 0.0 the kernel reproduces, so every sign bit matches."""
    from ..operators.similarity import _plane_sign

    bits = []
    for r, p in enumerate(plane_ids):
        arr = "[" + ", ".join(
            f"CAST('{_plane_sign(p, i)!r}' AS DOUBLE)" for i in range(dim)
        ) + "]"
        dot = (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(generate_series(1, {dim}), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({arr})[i])), "
            "(x, y) -> x + y)"
        )
        bits.append(f"CASE WHEN {dot} > 0 THEN CAST({1 << r} AS BIGINT) "
                    "ELSE CAST(0 AS BIGINT) END")
    return " + ".join(bits)

def _lsh_topk_sql(dim: int, planes: int, n_queries: int,
                  topk: int) -> str:
    """DuckDB twin of similarity.lsh_topk: the hyperplane components
    are deterministic driver-side constants (similarity._plane_sign),
    so the oracle inlines the SAME ±1 arrays and folds the same
    left-to-right dot — signatures, buckets, and the recall loss all
    match bit-for-bit."""
    sig = _sign_bits_sql(range(planes), dim)
    cos = _cos_sql("c.cv", "q.qv")
    return f"""WITH sigs AS MATERIALIZED (
         SELECT vec_id, embedding, {sig} AS sig FROM embeddings),
       q AS (SELECT vec_id AS query_id, embedding AS qv, sig
             FROM sigs WHERE vec_id < {n_queries}),
       c AS (SELECT vec_id AS neighbor_id, embedding AS cv, sig
             FROM sigs),
       s AS (SELECT q.query_id, c.neighbor_id,
                    round({cos}, 6) AS cosine
             FROM c JOIN q USING (sig)
             WHERE c.neighbor_id <> q.query_id)
       SELECT query_id, neighbor_id, cosine, CAST(rk AS BIGINT) AS rk
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS rk FROM s) t
       WHERE rk <= {topk}"""

# ---------------------------------------------------------- k-NN graph
def _knn_graph_ctes(dim: int, planes: int, topk: int) -> str:
    """sigs/knn CTE block — the DuckDB replay of similarity.knn_graph
    (same hyperplane constants, same within-bucket top-k)."""
    sig = _sign_bits_sql(range(planes), dim)
    cos = _cos_sql("a.embedding", "b.embedding")
    return f"""sigs AS MATERIALIZED (
         SELECT vec_id, embedding, {sig} AS sig FROM embeddings),
       sp AS (SELECT a.vec_id AS src, b.vec_id AS neighbor_id,
                     round({cos}, 6) AS cosine
              FROM sigs a JOIN sigs b
                ON a.sig = b.sig AND a.vec_id <> b.vec_id),
       knn AS MATERIALIZED (
         SELECT src, neighbor_id, cosine, CAST(rk AS BIGINT) AS rk
         FROM (SELECT *, row_number() OVER (PARTITION BY src
                  ORDER BY cosine DESC, neighbor_id) AS rk FROM sp) t
         WHERE rk <= {topk})"""

# ----------------------------------------------- adaptive k-NN graph
def _knn_graph_adaptive_ctes(dim: int, topk: int, lo: int = 4,
                             hi: int = 12, target: int = 128) -> str:
    """sigs/knn CTE block replaying similarity.knn_graph_adaptive:
    the full ``hi``-plane signature is computed once and masked to
    the low ``planes`` bits, where planes =
    LEAST(hi, GREATEST(lo, CEIL(LOG2(count(*) / target)))) — the
    exact formula of similarity.adaptive_planes. Masking works
    because signature bit p IS plane p, so ``sig_hi & (2^planes - 1)``
    equals the planes-bit signature the Spark side builds directly.
    At the verified gate scales (n ≤ 2048 with defaults) planes
    resolves to ``lo`` = the historical fixed parameterization, so
    hashes are unchanged there."""
    sig = _sign_bits_sql(range(hi), dim)
    cos = _cos_sql("a.embedding", "b.embedding")
    return f"""params AS (
         SELECT LEAST({hi}, GREATEST({lo},
                  CAST(CEIL(LOG2(count(*) / {target}.0)) AS BIGINT)))
                AS planes
         FROM embeddings),
       rawsigs AS MATERIALIZED (
         SELECT vec_id, embedding, {sig} AS sig_hi FROM embeddings),
       sigs AS MATERIALIZED (
         SELECT vec_id, embedding,
                sig_hi & ((CAST(1 AS BIGINT) << planes) - 1) AS sig
         FROM rawsigs, params),
       sp AS (SELECT a.vec_id AS src, b.vec_id AS neighbor_id,
                     round({cos}, 6) AS cosine
              FROM sigs a JOIN sigs b
                ON a.sig = b.sig AND a.vec_id <> b.vec_id),
       knn AS MATERIALIZED (
         SELECT src, neighbor_id, cosine, CAST(rk AS BIGINT) AS rk
         FROM (SELECT *, row_number() OVER (PARTITION BY src
                  ORDER BY cosine DESC, neighbor_id) AS rk FROM sp) t
         WHERE rk <= {topk})"""

def _banded_sigs_adaptive_ctes(dim: int, bands: int, lo: int = 8,
                               hi: int = 16, target: int = 128) -> str:
    """params/sigs CTE block replaying similarity.band_sig_structs_np at
    the adaptive width of similarity.adaptive_rows_per_band —
    rpb = LEAST(hi, GREATEST(lo, CEIL(LOG2(count(*) / target)))),
    the exact adaptive_planes formula the kNN CTE already replays.
    Band b's first 8 bits use the historical planes ``b*8 + r``; the
    widening bits draw from the disjoint EXT_PLANE_OFFSET range and
    are masked to ``rpb - 8`` bits, so at rpb = 8 (every corpus up to
    target·2^8) the signature is BIT-IDENTICAL to the fixed-width
    SQL this block replaced — recorded hashes cannot move."""
    from ..operators.similarity import EXT_PLANE_OFFSET

    assert lo >= 8, "base-8 plane layout requires lo >= 8"

    band_rows = []
    for b in range(bands):
        base = _sign_bits_sql([b * 8 + r for r in range(8)], dim)
        ext = _sign_bits_sql(
            [EXT_PLANE_OFFSET + b * 8 + r for r in range(hi - 8)], dim
        )
        band_rows.append(
            f"SELECT vec_id, CAST({b} AS BIGINT) AS band, "
            f"({base}) + ((({ext}) & "
            "((CAST(1 AS BIGINT) << (rpb - 8)) - 1)) * 256) AS sig "
            "FROM embeddings, params"
        )
    sigs = " UNION ALL ".join(band_rows)
    return f"""params AS (
         SELECT LEAST({hi}, GREATEST({lo},
                  CAST(CEIL(LOG2(count(*) / {target}.0)) AS BIGINT)))
                AS rpb
         FROM embeddings),
       sigs AS MATERIALIZED ({sigs})"""


# ------------------------------------------------------ text: fingerprints
_ROLL_H = f"({md5_long_sql('x')} % {MERSENNE_P})"

# shared with streaming_queries.stream_media_dedup: recomputes every
# payload's 64-bit average hash from attach_ahash_media's synthesis
# formulas (doc list incl. the re-encoded clones, pixel expansion,
# 8x8 cell sums, cross-multiplied mean threshold, u32-half packing)
AHASH_HASHES_CTE = f"""docs AS (
         SELECT doc_id, doc_id AS cid, doc_id % 4 AS m FROM documents
         UNION ALL
         SELECT doc_id + {CLONE_ID_BASE}, doc_id, (doc_id + 1) % 4
         FROM documents WHERE doc_id % 5 = 0),
       g AS (SELECT doc_id, cid, m, 8 * (cid % 6 + 1) AS w,
                    8 * (cid % 5 + 1) AS h
             FROM docs),
       px AS (SELECT doc_id, cid, m, w, h, sx.x AS x, sy.y AS y
              FROM g,
                   LATERAL (SELECT unnest(generate_series(0, w - 1))
                            AS x) sx,
                   LATERAL (SELECT unnest(generate_series(0, h - 1))
                            AS y) sy),
       pv AS (SELECT doc_id, m, (8 * x) // w AS cx, (8 * y) // h AS cy,
                     3 * (((13 + cid % 251)
                             * ((x // 8) * (x // 8) + 3 * (y // 8))
                           + (7 + cid % 241)
                             * ((y // 8) * (y // 8) + 5 * (x // 8))
                           + (cid % 127) * (x // 8) * (y // 8)
                           + cid) % 256) AS inten
              FROM px),
       cells AS (SELECT doc_id, m, cy * 8 + cx AS idx,
                        sum(inten) AS s, count(*) AS c
                 FROM pv GROUP BY doc_id, m, cy * 8 + cx),
       tot AS (SELECT doc_id, sum(s) AS total, sum(c) AS n
               FROM cells GROUP BY doc_id),
       bits AS (SELECT cells.doc_id, m, idx,
                       CASE WHEN s * n > total * c THEN 1 ELSE 0 END
                           AS bit
                FROM cells JOIN tot ON cells.doc_id = tot.doc_id),
       hashes AS (SELECT doc_id, max(m) AS m,
                    sum(CASE WHEN idx >= 32 THEN
                        bit * (CAST(1 AS BIGINT) << (idx - 32))
                        ELSE 0 END) AS hi,
                    sum(CASE WHEN idx < 32 THEN
                        bit * (CAST(1 AS BIGINT) << idx)
                        ELSE 0 END) AS lo
                  FROM bits GROUP BY doc_id)"""

# shared by mm_ahash_near and mm_pixel_knn: per-doc 8x8 cell
# intensity sums over attach_near_media's corpus (originals + every
# 7th doc's edited twin), exactly the synthesis formulas
NEAR_CELLS_CTE = f"""docs AS (
         SELECT doc_id, doc_id AS cid, 0 AS e FROM documents
         UNION ALL
         SELECT doc_id + {2 * CLONE_ID_BASE}, doc_id, 1
         FROM documents WHERE doc_id % 7 = 0),
       g AS (SELECT doc_id, cid, e, 8 * (cid % 6 + 1) AS w,
                    8 * (cid % 5 + 1) AS h
             FROM docs),
       px AS (SELECT doc_id, cid, e, w, h, sx.x AS x, sy.y AS y
              FROM g,
                   LATERAL (SELECT unnest(generate_series(0, w - 1))
                            AS x) sx,
                   LATERAL (SELECT unnest(generate_series(0, h - 1))
                            AS y) sy),
       pv AS (SELECT doc_id, (8 * x) // w AS cx, (8 * y) // h AS cy,
                     3 * ((((13 + cid % 251)
                              * ((x // 8) * (x // 8) + 3 * (y // 8))
                            + (7 + cid % 241)
                              * ((y // 8) * (y // 8) + 5 * (x // 8))
                            + (cid % 127) * (x // 8) * (y // 8) + cid)
                           + CASE WHEN e = 1 AND (8 * x) // w = 7
                                       AND (8 * y) // h = 7
                                  THEN 96 ELSE 0 END) % 256) AS inten
              FROM px),
       cells AS (SELECT doc_id, cy * 8 + cx AS idx,
                        sum(inten) AS s, count(*) AS c
                 FROM pv GROUP BY doc_id, cy * 8 + cx)"""

# -------------------------------------------------- text: quality filter
# Quality-score SQL shared by txt_quality_filter and the curation
# funnel (single source — the two oracles cannot drift). {src} is the
# relation providing (doc_id, text).
_QUALITY_F_CTE = r"""
         SELECT doc_id, text,
                CAST(length(text) AS BIGINT) AS n_chars,
                len(regexp_extract_all(text, '\b(the|a|an|and|or|of|to|in|is|it)\b'))
                  / greatest(len(list_filter(string_split_regex(text, '\s+'),
                                             x -> x <> '')), 1) AS stop_r,
                len(regexp_extract_all(text, '[^\w\s]'))
                  / greatest(length(text), 1) AS punct_r
         FROM {src}"""

_QUALITY_SCORE_SQL = """round(CAST(
        (CASE WHEN n_chars BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.3 END) * 0.4
      + (CASE WHEN round(stop_r, 4) >= 0.05 THEN 1.0 ELSE 0.5 END) * 0.3
      + (CASE WHEN round(punct_r, 4) <= 0.2 THEN 1.0 ELSE 0.4 END) * 0.3
        AS DOUBLE), 4)"""

# ---------------------------------------------------------- k-means (ML)
_SQDIST = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(generate_series(1, len({a})), "
    "j -> (CAST({a}[j] AS DOUBLE) - CAST({b}[j] AS DOUBLE)) "
    "* (CAST({a}[j] AS DOUBLE) - CAST({b}[j] AS DOUBLE)))), "
    "(x, y) -> x + y)"
)

def _kmeans_ctes(k: int, iters: int,
                 cent0_sql: str | None = None) -> list[str]:
    """Shared CTE chain for the k-means oracles: seed centroids
    (lowest-id by default; pass ``cent0_sql`` for an alternative
    init's (cluster, centroid) body), then per iteration an
    assignment (argmin by rounded distance, cluster tie-break) and a
    per-dimension mean re-assembled in dimension order. Final
    centroid table is ``cent{iters}``."""
    body = cent0_sql or f"""SELECT CAST(vec_id AS BIGINT) AS cluster,
              list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6))
                AS centroid
           FROM embeddings ORDER BY vec_id LIMIT {k}"""
    ctes = [f"cent0 AS ({body})"]
    for i in range(1, iters + 1):
        prev, dist = f"cent{i-1}", _SQDIST.format(a="e.embedding", b="c.centroid")
        ctes.append(f"""asg{i} AS (
          SELECT e.vec_id, e.embedding, c.cluster,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY round({dist}, 6), c.cluster) AS rk
          FROM embeddings e, {prev} c)""")
        ctes.append(f"""dims{i} AS (
          SELECT cluster, t.j AS dim,
                 round(avg(CAST(embedding[t.j] AS DOUBLE)), 6) AS m
          FROM asg{i}, LATERAL (SELECT unnest(generate_series(1,
                 len(embedding))) AS j) t
          WHERE rk = 1 GROUP BY cluster, t.j)""")
        ctes.append(f"""cent{i} AS (
          SELECT cluster, list(m ORDER BY dim) AS centroid
          FROM dims{i} GROUP BY cluster)""")
    return ctes

def _kmeans_sql(k: int, iters: int) -> str:
    """DuckDB twin of clustering.kmeans_fit."""
    joined = ",\n".join(_kmeans_ctes(k, iters))
    return f"WITH {joined}\nSELECT cluster, centroid FROM cent{iters}"

def _kmeans_parallel_sql(k: int, rounds: int, l: int, seed: int,
                         lloyd_iters: int) -> str:
    """DuckDB twin of clustering.kmeans_parallel_init + the Lloyd
    chain from its seeds: every oversampling round replays the
    integer micro-distance cost sum (exact, order-free), the
    MD5-coin selection as a pure HUGEINT comparison, and the
    weighted top-k reduction — then the shared _kmeans_ctes run with
    cent0 = the k-means‖ seeds."""
    from ..operators.hashing import md5_long_sql

    dist = _SQDIST.format(a="e.embedding", b="c.cv")
    rcv = "list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6))"
    ctes = [f"""kp_c0 AS (
      SELECT CAST(vec_id AS BIGINT) AS cid, {rcv} AS cv
      FROM embeddings ORDER BY vec_id LIMIT 1)"""]
    for r in range(1, rounds + 1):
        u = md5_long_sql(
            f"concat('km||:{seed}:{r}:', CAST(d.vec_id AS VARCHAR))"
        )
        ctes.append(f"""kp_dq{r} AS MATERIALIZED (
          SELECT e.vec_id,
                 min(CAST(floor(({dist}) * 1000000 + 0.5)
                          AS BIGINT)) AS dq
          FROM embeddings e, kp_c{r - 1} c GROUP BY e.vec_id)""")
        ctes.append(f"""kp_phi{r} AS (
          SELECT CAST(sum(dq) AS HUGEINT) AS phi FROM kp_dq{r})""")
        ctes.append(f"""kp_sel{r} AS MATERIALIZED (
          SELECT d.vec_id FROM kp_dq{r} d, kp_phi{r} p
          WHERE CAST({u} AS HUGEINT) * p.phi
              < CAST(d.dq AS HUGEINT)
                * CAST('{l * (1 << 60)}' AS HUGEINT))""")
        ctes.append(f"""kp_c{r} AS MATERIALIZED (
          SELECT * FROM kp_c{r - 1}
          UNION ALL
          SELECT CAST(e.vec_id AS BIGINT) AS cid, {rcv} AS cv
          FROM embeddings e JOIN kp_sel{r} s ON e.vec_id = s.vec_id
          WHERE CAST(e.vec_id AS BIGINT) NOT IN
                (SELECT cid FROM kp_c{r - 1}))""")
    ctes.append(f"""kp_asg AS MATERIALIZED (
      SELECT e.vec_id, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round({dist}, 6), c.cid) AS rk
      FROM embeddings e, kp_c{rounds} c)""")
    ctes.append("""kp_w AS (
      SELECT cid, count(*) AS w FROM kp_asg WHERE rk = 1 GROUP BY cid)""")
    cent0 = (f"""SELECT c.cid AS cluster, c.cv AS centroid
      FROM kp_c{rounds} c JOIN kp_w USING (cid)
      ORDER BY kp_w.w DESC, c.cid LIMIT {k}""")
    ctes.extend(_kmeans_ctes(k, lloyd_iters, cent0_sql=cent0))
    joined = ",\n".join(ctes)
    return f"WITH {joined}\nSELECT cluster, centroid FROM cent{lloyd_iters}"

def _semantic_prune_sql(k: int, iters: int, threshold: float) -> str:
    """DuckDB twin of similarity.semantic_prune: the k-means chain,
    a final assignment against cent{iters} (same rounded-distance /
    cluster tie-break as assign_clusters), within-cluster cosine
    pairs, and the dominated-by-lower-id drop rule."""
    ctes = _kmeans_ctes(k, iters)
    dist = _SQDIST.format(a="e.embedding", b="c.centroid")
    cos = _cos_sql("a.embedding", "b.embedding")
    ctes.append(f"""asg_f AS (
      SELECT e.vec_id, e.embedding, c.cluster,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round({dist}, 6), c.cluster) AS rk
      FROM embeddings e, cent{iters} c)""")
    ctes.append("""fin AS (
      SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding, cluster
      FROM asg_f WHERE rk = 1)""")
    ctes.append(f"""drops AS (
      SELECT DISTINCT b.vec_id
      FROM fin a JOIN fin b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE round({cos}, 6) >= {threshold})""")
    joined = ",\n".join(ctes)
    return (
        f"WITH {joined}\n"
        "SELECT f.vec_id, f.cluster, (d.vec_id IS NULL) AS keep\n"
        "FROM fin f LEFT JOIN drops d ON d.vec_id = f.vec_id"
    )

def _ivf_trained_sql(k: int, iters: int, n_probe: int, n_queries: int,
                     topk: int) -> str:
    """DuckDB twin of kmeans_fit → ivf_topk: the Lloyd chain trains
    the coarse codebook, then the standard IVF assign/probe/score
    replay (same rounded-cosine tie-breaks as ann_ivf_topk)."""
    ctes = _kmeans_ctes(k, iters)
    ctes.append(
        f"cent AS MATERIALIZED (SELECT cluster AS cid, centroid AS cv "
        f"FROM cent{iters})"
    )
    ctes.append(f"""asg_v AS MATERIALIZED (
          SELECT e.vec_id AS neighbor_id, e.embedding AS ev, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY round({_cos_sql('e.embedding', 'c.cv')}, 6) DESC,
                            c.cid) AS rk
          FROM embeddings e, cent c)""")
    ctes.append(
        "cell AS MATERIALIZED "
        "(SELECT neighbor_id, ev, cid FROM asg_v WHERE rk = 1)"
    )
    ctes.append(
        f"q AS (SELECT vec_id AS query_id, embedding AS qv "
        f"FROM embeddings WHERE vec_id < {n_queries})"
    )
    ctes.append(f"""probe AS MATERIALIZED (
          SELECT x.query_id, x.qv, c.cid,
                 row_number() OVER (PARTITION BY x.query_id
                   ORDER BY round({_cos_sql('x.qv', 'c.cv')}, 6) DESC,
                            c.cid) AS rk
          FROM q x, cent c)""")
    ctes.append(
        f"pr AS (SELECT query_id, qv, cid FROM probe WHERE rk <= {n_probe})"
    )
    ctes.append(f"""s AS (SELECT pr.query_id, cell.neighbor_id,
                round({_cos_sql('pr.qv', 'cell.ev')}, 6) AS cosine
          FROM pr JOIN cell USING (cid)
          WHERE cell.neighbor_id <> pr.query_id)""")
    joined = ",\n".join(ctes)
    return f"""WITH {joined}
       SELECT query_id, neighbor_id, cosine, rk FROM (
         SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
         FROM s) t
       WHERE rk <= {topk}"""

_PREFIX_TWIN_DOCS = """all_docs AS (
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
              FROM w WHERE len(w) >= 3)"""

_DECON_SHINGLE_CTE = """
  w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
  sh AS (SELECT DISTINCT doc_id, source,
                unnest(list_transform(generate_series(1, len(w) - 4),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            || ' ' || w[i+3] || ' ' || w[i+4])) AS shingle
         FROM w WHERE len(w) >= 5)
"""

# ------------------------------------------------------- PII scrubbing

# The oracle SQL is GENERATED at import from the same constants the
# Spark plan compiles (operators/privacy.PII_PATTERNS), so the two
# engines can never drift. Testdata text is synthetic word-salad with
# no PII, so the query laces a deterministic email/SSN/phone/IP mix
# per doc_id: both engines build, count, and scrub identical strings.
_PII_LACED = """
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' mail bob' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 4 = 0 THEN ' ssn 123-45-6789' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' tel 555-123-4567' ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' ip 10.0.0.7' ELSE '' END
             AS pii_text
  FROM documents
"""

def _pii_oracle_sql() -> str:
    quote = lambda s: s.replace("'", "''")
    counts = ",\n              ".join(
        f"CAST(len(regexp_extract_all(pii_text, '{quote(pat)}'))"
        f" AS BIGINT) AS n_{name}"
        for name, (pat, _) in privacy.PII_PATTERNS.items()
    )
    total = " + ".join(
        f"len(regexp_extract_all(pii_text, '{quote(pat)}'))"
        for pat, _ in privacy.PII_PATTERNS.values()
    )
    red = "pii_text"
    for pat, token in privacy.PII_PATTERNS.values():
        red = f"regexp_replace({red}, '{quote(pat)}', '{token}', 'g')"
    return (
        f"WITH laced AS ({_PII_LACED})\n"
        f"       SELECT doc_id,\n              {counts},\n"
        f"              CAST({total} AS BIGINT) AS n_pii,\n"
        f"              {red} AS redacted\n"
        f"       FROM laced"
    )

# --------------------------------------- differential-privacy release
_DP_EPS = 0.5

_DP_TAU = 20  # noisy-count suppression threshold

_DP_CAP_EVENTS = 3        # max events one user contributes

_DP_CLAMP = 50.0          # per-event value clamp [0, 50]

_DP_SENS_CENTS = 15000    # = cap_events * clamp * 100

def _dp_release_sql() -> str:
    noise = privacy.dp_noise_sql("event_type", "dp-count-v1", _DP_EPS)
    return f"""WITH agg AS (
         SELECT event_type, count(*) AS n FROM events GROUP BY event_type)
       SELECT event_type, CAST(n + ({noise}) AS BIGINT) AS noisy_n
       FROM agg WHERE n + ({noise}) >= {_DP_TAU}"""

def _dp_bounded_sum_sql() -> str:
    noise = privacy.dp_noise_sql("event_type", "dp-sum-v1", _DP_EPS)
    return f"""WITH ranked AS (
         SELECT event_type,
                CAST(floor(least(greatest(value, 0.0), {_DP_CLAMP}) * 100)
                     AS BIGINT) AS cents,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS rk
         FROM events),
       agg AS (SELECT event_type, sum(cents) AS s
               FROM ranked WHERE rk <= {_DP_CAP_EVENTS}
               GROUP BY event_type)
       SELECT event_type,
              CAST(s + ({noise}) * {_DP_SENS_CENTS} AS BIGINT)
                  AS noisy_total_cents
       FROM agg"""

def _pagerank_sql(iterations: int = 3, damping: int = 85,
                  scale: int = 10 ** 9) -> str:
    """DuckDB twin of graph.pagerank_fixedpoint over the
    customer↔supplier co-purchase graph — the iteration is unrolled
    into chained CTEs generated from the SAME constants, and every
    step is integer arithmetic, so both engines produce bit-identical
    ranks."""
    sql = f"""WITH e0 AS (
         SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
         FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       edges AS (SELECT src, dst FROM e0
                 UNION SELECT dst, src FROM e0),
       nodes AS (SELECT DISTINCT src AS node FROM edges),
       nn AS (SELECT count(*) AS n FROM nodes),
       deg AS (SELECT src AS node, count(*) AS deg
               FROM edges GROUP BY src),
       r0 AS (SELECT node, {scale} // (SELECT n FROM nn) AS rank
              FROM nodes)"""
    for i in range(1, iterations + 1):
        sql += f""",
       c{i} AS (SELECT e.dst AS node, sum(r.rank // d.deg) AS s
               FROM edges e
               JOIN r{i - 1} r ON e.src = r.node
               JOIN deg d ON e.src = d.node
               GROUP BY e.dst),
       r{i} AS (SELECT n.node,
                      ((100 - {damping})
                       * ({scale} // (SELECT n FROM nn))) // 100
                      + ({damping} * coalesce(c.s, 0)) // 100 AS rank
               FROM nodes n LEFT JOIN c{i} c ON n.node = c.node)"""
    sql += f"""
       SELECT node, CAST(rank AS BIGINT) AS rank
       FROM r{iterations}
       ORDER BY rank DESC, node LIMIT 25"""
    return sql

def _pca_power_sql(d: int, iters: int) -> str:
    """DuckDB twin of linalg.pca_power_component: the same integer
    Gram/sums, the same exact-integer covariance numerator, and the
    same ``iters`` unrolled max-norm power steps — HUGEINT keeps every
    sum exact (order-free), and the one float op per step
    (floor(double·scale / double(max))) runs on identical operands.
    Every step CTE is MATERIALIZED (the DuckDB CTE-inlining trap:
    each v{t} is referenced by w{t+1} twice transitively — unrolled
    references would blow up the scan tree exponentially)."""
    ctes = [
        f"""q AS MATERIALIZED (
          SELECT list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                 AS qv
          FROM embeddings)""",
        f"""g AS MATERIALIZED (
          SELECT i, j, sum(CAST(qv[i] AS HUGEINT) * qv[j]) AS g
          FROM q, range(1, {d + 1}) t1(i), range(1, {d + 1}) t2(j)
          GROUP BY i, j)""",
        f"""s AS MATERIALIZED (
          SELECT i, sum(CAST(qv[i] AS HUGEINT)) AS s
          FROM q, range(1, {d + 1}) t1(i) GROUP BY i)""",
        """nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM q)""",
        """c AS MATERIALIZED (
          SELECT g.i, g.j, nn.n * g.g - si.s * sj.s AS c
          FROM g, nn, s si, s sj WHERE si.i = g.i AND sj.i = g.j)""",
        f"""v0 AS MATERIALIZED (
          SELECT i, CAST(1000000 AS HUGEINT) AS v
          FROM range(1, {d + 1}) t(i))""",
    ]
    for t in range(1, iters + 1):
        ctes.append(f"""w{t} AS MATERIALIZED (
          SELECT c.i, sum(c.c * v.v) AS w
          FROM c JOIN v{t - 1} v ON c.j = v.i GROUP BY c.i)""")
        ctes.append(f"""m{t} AS MATERIALIZED (
          SELECT max(abs(w)) AS mx FROM w{t})""")
        # mx = 0 (degenerate/constant cloud: C is all zeros, so every
        # w is too) carries the previous v forward — the SQL twin of
        # the Python early-break (linalg.pca_power_component: `if mx
        # == 0: break` keeps the prior v); an unguarded divide would
        # diverge from the engine on degenerate input
        ctes.append(f"""v{t} AS MATERIALIZED (
          SELECT p.i,
                 CASE WHEN m.mx = 0 THEN p.v
                      ELSE CAST(floor(CAST(w.w * 1000000 AS DOUBLE)
                                      / CAST(m.mx AS DOUBLE)) AS HUGEINT)
                 END AS v
          FROM v{t - 1} p JOIN w{t} w ON w.i = p.i, m{t} m)""")
    ctes.append(f"""sg AS (
          SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sg
          FROM v{iters}
          WHERE abs(v) = (SELECT max(abs(v)) FROM v{iters})
          ORDER BY i LIMIT 1)""")
    joined = ",\n       ".join(ctes)
    return f"""WITH {joined}
       SELECT CAST(v.i AS INT) AS dim,
              CAST(v.v * sg.sg AS BIGINT) AS loading_fp
       FROM v{iters} v, sg"""

def _kcore_sql(k: int, rounds: int) -> str:
    """DuckDB twin of graph.k_core over the high-quantity co-supply
    graph: the peel unrolled ``rounds`` times (comfortably past the
    measured fixpoint at every test sf — 3 rounds at sf0.01, 4 at
    sf0.1 — so the unrolled result IS the fixpoint the Spark loop's
    convergence probe stops at)."""
    sql = """WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey
               FROM lineitem WHERE l_quantity >= 48),
       e0 AS MATERIALIZED (
              SELECT DISTINCT least(a.l_suppkey, b.l_suppkey) AS u,
                              greatest(a.l_suppkey, b.l_suppkey) AS v
              FROM li a JOIN li b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_suppkey < b.l_suppkey)"""
    # MATERIALIZED: each e_i is referenced 4x downstream; inlined CTEs
    # would expand the scan tree exponentially in the round count
    # (DuckDB hit its file-handle cap at 8 rounds before this)
    for i in range(rounds):
        sql += f""",
       d{i} AS MATERIALIZED (
               SELECT node, count(*) AS deg
               FROM (SELECT u AS node FROM e{i}
                     UNION ALL SELECT v FROM e{i})
               GROUP BY node),
       k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE deg >= {k}),
       e{i + 1} AS MATERIALIZED (
                SELECT u, v FROM e{i}
                WHERE u IN (SELECT node FROM k{i})
                  AND v IN (SELECT node FROM k{i}))"""
    sql += f"""
       SELECT node, count(*) AS core_deg
       FROM (SELECT u AS node FROM e{rounds}
             UNION ALL SELECT v FROM e{rounds})
       GROUP BY node"""
    return sql

def _bpe_sql(n_merges: int) -> str:
    """DuckDB twin of textstats.bpe_merges, rounds unrolled. Every
    round CTE is MATERIALIZED (each is referenced by both the pair
    count and the rewrite — inlining would re-derive the whole merge
    chain per reference). The middle-dot symbol form and the literal
    replace give both engines identical leftmost-nonoverlapping merge
    semantics."""
    sql = r"""WITH toks AS (
         SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                x -> x <> '' AND NOT contains(x, '·'))) AS word
         FROM documents),
       wf AS MATERIALIZED (
         SELECT word, count(*) AS freq FROM toks GROUP BY word),
       v1 AS MATERIALIZED (
         SELECT '·' || array_to_string(string_split_regex(word, ''), '··')
                    || '·' AS sym,
                freq FROM wf)"""
    for i in range(1, n_merges + 1):
        sql += f""",
       a{i} AS MATERIALIZED (
         SELECT string_split(trim(sym, '·'), '··') AS arr, freq
         FROM v{i}),
       p{i} AS MATERIALIZED (
         SELECT p.l AS l, p.r AS r, sum(freq) AS cnt
         FROM (SELECT unnest(list_transform(generate_series(1, len(arr) - 1),
                      j -> {{'l': arr[j], 'r': arr[j+1]}})) AS p, freq
               FROM a{i} WHERE len(arr) >= 2)
         GROUP BY p.l, p.r),
       m{i} AS MATERIALIZED (
         SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1),
       v{i + 1} AS MATERIALIZED (
         SELECT replace(sym, '·' || l || '··' || r || '·',
                        '·' || l || r || '·') AS sym, freq
         FROM v{i}, m{i})"""
    steps = "\n       UNION ALL ".join(
        f"SELECT {i} AS step, l AS left_sym, r AS right_sym, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return sql + f"\n       {steps}"

def _bpe_encode_sql(n_merges: int) -> str:
    """Per-source tokenization-economics twin: reuses the unrolled
    merge-learning chain, then encodes the distinct word-form table
    with ONE nested literal replace per learned rule (no further
    iteration — merges are known) and joins the per-word token count
    back onto the (source, word) stream."""
    chain = _bpe_sql(n_merges)
    # strip the final UNION-ALL select: keep everything up to the last
    # v{n+1} CTE (the chain ends right before the first "SELECT 1 AS")
    cut = chain.index("\n       SELECT 1 AS step")
    chain = chain[:cut]
    base = ("'·' || array_to_string(string_split_regex(word, ''), '··')"
            " || '·'")
    expr = base
    for i in range(1, n_merges + 1):
        expr = (f"replace({expr}, '·' || q{i}.l || '··' || q{i}.r || '·',"
                f" '·' || q{i}.l || q{i}.r || '·')")
    froms = ", ".join(f"m{i} AS q{i}" for i in range(1, n_merges + 1))
    return chain + f""",
       tk AS MATERIALIZED (
         SELECT source, unnest(list_filter(string_split_regex(text, '\\s+'),
                x -> x <> '' AND NOT contains(x, '·'))) AS word
         FROM documents),
       wfw AS MATERIALIZED (SELECT DISTINCT word FROM tk),
       enc AS MATERIALIZED (
         SELECT word, CAST(length(word) AS BIGINT) AS nchars,
                CAST(len(string_split(trim({expr}, '·'), '··')) AS BIGINT)
                    AS ntok
         FROM wfw, {froms})
       SELECT source, count(*) AS n_words,
              CAST(sum(nchars) AS BIGINT) AS n_chars,
              CAST(sum(ntok) AS BIGINT) AS n_bpe_tokens,
              round(sum(nchars) / CAST(sum(ntok) AS DOUBLE), 4)
                  AS chars_per_token
       FROM tk JOIN enc USING (word) GROUP BY source"""

def _pq_sql(m: int, sub_d: int, k_star: int, n_queries: int,
            topk: int) -> str:
    """DuckDB twin of similarity.pq_topk: per-subspace seed codebooks,
    argmin code assignment (rounded distance + centroid-id tie-break),
    integer ADC lookup tables, exact integer sums, deterministic
    ranking. Sub-vector s is embedding[s*sub_d+1 : (s+1)*sub_d]
    (DuckDB slices are 1-based inclusive)."""
    ctes = []
    for s in range(m):
        a, b = s * sub_d + 1, (s + 1) * sub_d
        sl = f"e.embedding[{a}:{b}]"
        qsl = f"q.embedding[{a}:{b}]"
        cb = (f"list_transform(embedding[{a}:{b}], "
              "x -> round(CAST(x AS DOUBLE), 6))")
        dist = _SQDIST.format(a=sl, b="c.cv")
        qdist = _SQDIST.format(a=qsl, b="c.cv")
        ctes.append(f"""cb{s} AS MATERIALIZED (
          SELECT CAST(vec_id AS BIGINT) AS cid, {cb} AS cv
          FROM embeddings ORDER BY vec_id LIMIT {k_star})""")
        ctes.append(f"""code{s} AS MATERIALIZED (
          SELECT vec_id, {s} AS s, cid AS code FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round({dist}, 6), c.cid) AS rk
            FROM embeddings e, cb{s} c) t WHERE rk = 1)""")
        ctes.append(f"""qt{s} AS MATERIALIZED (
          SELECT q.vec_id AS qid, {s} AS s, c.cid AS code,
                 CAST(floor(({qdist}) * 1000000 + 0.5) AS BIGINT)
                     AS d
          FROM (SELECT * FROM embeddings WHERE vec_id < {n_queries}) q,
               cb{s} c)""")
    codes_u = " UNION ALL ".join(
        f"SELECT * FROM code{s}" for s in range(m)
    )
    qt_u = " UNION ALL ".join(f"SELECT * FROM qt{s}" for s in range(m))
    joined = ",\n".join(ctes)
    return f"""WITH {joined},
       codes AS MATERIALIZED ({codes_u}),
       qt AS MATERIALIZED ({qt_u}),
       adc AS (SELECT qt.qid AS query_id, codes.vec_id AS neighbor_id,
                      sum(qt.d) AS adc_dist
               FROM codes JOIN qt ON qt.s = codes.s
                                 AND qt.code = codes.code
               WHERE codes.vec_id <> qt.qid
               GROUP BY qt.qid, codes.vec_id)
       SELECT query_id, neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,
              CAST(rk AS BIGINT) AS rk
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY adc_dist, neighbor_id) AS rk FROM adc) t
       WHERE rk <= {topk}"""

def _pq_trained_sql(m: int, sub_d: int, k_star: int, iters: int,
                    n_queries: int, topk: int) -> str:
    """DuckDB twin of pq_train_codebooks + pq_topk: per-subspace
    k-means (the _kmeans_ctes conventions — rounded seeds, argmin with
    cluster tie-break, per-dimension rounded means — applied to each
    sub-vector slice), then the standard PQ encode/ADC/rank chain
    against the TRAINED codebooks. Every iterative CTE is MATERIALIZED
    (DuckDB inlines CTEs; the multiply-referenced rounds would expand
    the scan tree exponentially otherwise)."""
    ctes = []
    for s in range(m):
        a, b = s * sub_d + 1, (s + 1) * sub_d
        sl = f"e.embedding[{a}:{b}]"
        ctes.append(f"""p{s}c0 AS MATERIALIZED (
          SELECT CAST(vec_id AS BIGINT) AS cluster,
                 list_transform(embedding[{a}:{b}],
                                x -> round(CAST(x AS DOUBLE), 6)) AS centroid
          FROM embeddings ORDER BY vec_id LIMIT {k_star})""")
        for i in range(1, iters + 1):
            dist = _SQDIST.format(a=sl, b="c.centroid")
            ctes.append(f"""p{s}a{i} AS MATERIALIZED (
              SELECT e.vec_id, {sl} AS sv, c.cluster,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY round({dist}, 6), c.cluster) AS rk
              FROM embeddings e, p{s}c{i-1} c)""")
            ctes.append(f"""p{s}d{i} AS MATERIALIZED (
              SELECT cluster, t.j AS dim,
                     round(avg(CAST(sv[t.j] AS DOUBLE)), 6) AS m
              FROM p{s}a{i}, LATERAL (SELECT unnest(generate_series(1,
                     len(sv))) AS j) t
              WHERE rk = 1 GROUP BY cluster, t.j)""")
            ctes.append(f"""p{s}c{i} AS MATERIALIZED (
              SELECT cluster, list(m ORDER BY dim) AS centroid
              FROM p{s}d{i} GROUP BY cluster)""")
        dist_f = _SQDIST.format(a=sl, b="c.centroid")
        qdist_f = _SQDIST.format(a=f"q.embedding[{a}:{b}]", b="c.centroid")
        ctes.append(f"""code{s} AS MATERIALIZED (
          SELECT vec_id, {s} AS s, cluster AS code FROM (
            SELECT e.vec_id, c.cluster,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round({dist_f}, 6), c.cluster) AS rk
            FROM embeddings e, p{s}c{iters} c) t WHERE rk = 1)""")
        ctes.append(f"""qt{s} AS MATERIALIZED (
          SELECT q.vec_id AS qid, {s} AS s, c.cluster AS code,
                 CAST(floor(({qdist_f}) * 1000000 + 0.5) AS BIGINT)
                     AS d
          FROM (SELECT * FROM embeddings WHERE vec_id < {n_queries}) q,
               p{s}c{iters} c)""")
    codes_u = " UNION ALL ".join(f"SELECT * FROM code{s}" for s in range(m))
    qt_u = " UNION ALL ".join(f"SELECT * FROM qt{s}" for s in range(m))
    joined = ",\n".join(ctes)
    return f"""WITH {joined},
       codes AS MATERIALIZED ({codes_u}),
       qt AS MATERIALIZED ({qt_u}),
       adc AS (SELECT qt.qid AS query_id, codes.vec_id AS neighbor_id,
                      sum(qt.d) AS adc_dist
               FROM codes JOIN qt ON qt.s = codes.s
                                 AND qt.code = codes.code
               WHERE codes.vec_id <> qt.qid
               GROUP BY qt.qid, codes.vec_id)
       SELECT query_id, neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,
              CAST(rk AS BIGINT) AS rk
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY adc_dist, neighbor_id) AS rk FROM adc) t
       WHERE rk <= {topk}"""

# Shared near-dup cluster map for the composition queries
# (savings ledger / keep-best / cluster split): in production the
# cluster map is computed ONCE per corpus snapshot and every
# downstream decision consumes it — mirroring that here also keeps
# the bench honest about marginal cost. Keyed by (Spark app id,
# sf_dir); frames are localCheckpoint-ed so the lineage is cut.
_CLUSTER_CACHE: dict = FixtureMemo()

def _cluster_map(spark, sf_dir):
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _CLUSTER_CACHE:
        d = load(spark, sf_dir, "documents")
        pairs = dedup.ngram_jaccard_pairs(
            d, "doc_id", "text", k=3, threshold=0.5
        ).localCheckpoint()
        clusters = graph.connected_components_twostar(pairs).localCheckpoint()
        _CLUSTER_CACHE[key] = (pairs, clusters)
    return _CLUSTER_CACHE[key]

def mix_plan_from_tokens(per_src):
    """The planning math of `pipeline_mix_planner` over a
    (source, t_s) frame — shared with the streaming mixture monitor so
    the drained fold and the batch planner emit IDENTICAL expressions
    (same rounding fences, same float discipline)."""
    w = per_src.withColumn("ws", F.sqrt(F.col("t_s").cast("double")))
    z = w.agg(F.sum("ws").alias("z"))
    tot = per_src.agg(F.sum("t_s").alias("t_tot"))
    alloc = F.col("ws") / F.col("z") * (2.0 * F.col("t_tot"))
    return (
        w.crossJoin(F.broadcast(z))
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("t_s").alias("orig_tokens"),
            (F.round(F.col("ws") / F.col("z"), 4) + F.lit(0.0))
            .alias("weight"),
            F.floor(alloc + F.lit(0.5)).cast("long")
            .alias("target_tokens"),
            (F.round(alloc / F.col("t_s").cast("double"), 4)
             + F.lit(0.0)).alias("epochs"),
        )
    )

def _ivfpq_sql(n_cells: int, n_probe: int, m: int, sub_d: int,
               k_star: int, n_queries: int, topk: int,
               seed_pred: str | None = None,
               inv_pred: str | None = None,
               q_pred: str | None = None) -> str:
    """DuckDB twin of similarity.ivfpq_topk: coarse cells, residual
    encoding, per-subspace seed codebooks over residuals, integer ADC
    restricted to probed cells — every argmin/ranking shares the
    rounded-distance + id tie-break convention. ``seed_pred``
    restricts CODEBOOK derivation (coarse seeds + PQ residual seeds)
    to a sub-corpus — the incremental-index contract where arrivals
    are encoded with quantizers frozen on the base corpus.
    ``inv_pred`` restricts the INVENTORY the ADC join scores (the
    filtered-search contract: shared quantizers, metadata-constrained
    candidates). ``q_pred`` overrides the query-set predicate
    (default ``vec_id < n_queries``) — e.g. an anchor cohort by
    label for served hard-negative mining."""
    seed_where = f"WHERE {seed_pred} " if seed_pred else ""
    q_pred = q_pred or f"vec_id < {n_queries}"
    inv_where = (
        f" AND codes.vec_id IN (SELECT vec_id FROM embeddings "
        f"WHERE {inv_pred})" if inv_pred else ""
    )
    d_full = m * sub_d
    res = (f"list_transform(generate_series(1, {d_full}), "
           "j -> CAST(e.embedding[j] AS DOUBLE) - c.cv[j])")
    qres = (f"list_transform(generate_series(1, {d_full}), "
            "j -> CAST(q.embedding[j] AS DOUBLE) - c.cv[j])")
    dist = _SQDIST.format(a="e.embedding", b="c.cv")
    qdist = _SQDIST.format(a="q.embedding", b="c.cv")
    ctes = [f"""cells AS MATERIALIZED (
          SELECT CAST(vec_id AS BIGINT) AS cell,
                 list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6))
                     AS cv
          FROM embeddings {seed_where}ORDER BY vec_id LIMIT {n_cells})""",
            f"""asg AS MATERIALIZED (
          SELECT vec_id, cell, res FROM (
            SELECT e.vec_id, c.cell, {res} AS res,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round({dist}, 6), c.cell) AS rk
            FROM embeddings e, cells c) t WHERE rk = 1)""",
            f"""probes AS MATERIALIZED (
          SELECT qid, cell, qres FROM (
            SELECT q.vec_id AS qid, c.cell, {qres} AS qres,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY round({qdist}, 6), c.cell) AS rk
            FROM (SELECT * FROM embeddings WHERE {q_pred}) q,
                 cells c) t WHERE rk <= {n_probe})"""]
    for s in range(m):
        a, b = s * sub_d + 1, (s + 1) * sub_d
        sdist = _SQDIST.format(a=f"e.res[{a}:{b}]", b="c.bv")
        sqd = _SQDIST.format(a=f"p.qres[{a}:{b}]", b="c.bv")
        ctes.append(f"""cb{s} AS MATERIALIZED (
          SELECT CAST(vec_id AS BIGINT) AS cid,
                 list_transform(res[{a}:{b}], x -> round(x, 6)) AS bv
          FROM asg {seed_where}ORDER BY vec_id LIMIT {k_star})""")
        ctes.append(f"""code{s} AS MATERIALIZED (
          SELECT vec_id, cell, {s} AS s, cid AS code FROM (
            SELECT e.vec_id, e.cell, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round({sdist}, 6), c.cid) AS rk
            FROM asg e, cb{s} c) t WHERE rk = 1)""")
        ctes.append(f"""qt{s} AS MATERIALIZED (
          SELECT p.qid, p.cell, {s} AS s, c.cid AS code,
                 CAST(floor(({sqd}) * 1000000 + 0.5) AS BIGINT)
                     AS d
          FROM probes p, cb{s} c)""")
    codes_u = " UNION ALL ".join(f"SELECT * FROM code{s}"
                                 for s in range(m))
    qt_u = " UNION ALL ".join(f"SELECT * FROM qt{s}" for s in range(m))
    joined = ",\n".join(ctes)
    return f"""WITH {joined},
       codes AS MATERIALIZED ({codes_u}),
       qt AS MATERIALIZED ({qt_u}),
       adc AS (SELECT qt.qid AS query_id, codes.vec_id AS neighbor_id,
                      sum(qt.d) AS adc_dist
               FROM codes JOIN qt ON qt.cell = codes.cell
                                 AND qt.s = codes.s
                                 AND qt.code = codes.code
               WHERE codes.vec_id <> qt.qid{inv_where}
               GROUP BY qt.qid, codes.vec_id)
       SELECT query_id, neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,
              CAST(rk AS BIGINT) AS rk
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY adc_dist, neighbor_id) AS rk FROM adc) t
       WHERE rk <= {topk}"""

def _drift_sql(n_cells: int = 8, m: int = 8, sub_d: int = 8,
               k_star: int = 8,
               seed_pred: str = "vec_id % 2 = 0") -> str:
    """DuckDB twin of similarity.quantization_error over base-trained
    quantizers: the same cells/asg/cb CTE conventions as _ivfpq_sql
    (seed_pred restricts quantizer derivation to the base cohort),
    then per-vector sums of per-subspace MIN micro-distances, grouped
    into base vs arrivals cohorts. All sums are exact integers; the
    one float op (the cohort mean) divides identical operands."""
    seed_where = f"WHERE {seed_pred} "
    d_full = m * sub_d
    res = (f"list_transform(generate_series(1, {d_full}), "
           "j -> CAST(e.embedding[j] AS DOUBLE) - c.cv[j])")
    dist = _SQDIST.format(a="e.embedding", b="c.cv")
    ctes = [f"""cells AS MATERIALIZED (
          SELECT CAST(vec_id AS BIGINT) AS cell,
                 list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6))
                     AS cv
          FROM embeddings {seed_where}ORDER BY vec_id LIMIT {n_cells})""",
            f"""asg AS MATERIALIZED (
          SELECT vec_id, cell, res FROM (
            SELECT e.vec_id, c.cell, {res} AS res,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round({dist}, 6), c.cell) AS rk
            FROM embeddings e, cells c) t WHERE rk = 1)"""]
    for s in range(m):
        a, b = s * sub_d + 1, (s + 1) * sub_d
        sdist = _SQDIST.format(a=f"e.res[{a}:{b}]", b="c.bv")
        ctes.append(f"""cb{s} AS MATERIALIZED (
          SELECT CAST(vec_id AS BIGINT) AS cid,
                 list_transform(res[{a}:{b}], x -> round(x, 6)) AS bv
          FROM asg {seed_where}ORDER BY vec_id LIMIT {k_star})""")
        ctes.append(f"""mind{s} AS MATERIALIZED (
          SELECT e.vec_id,
                 min(CAST(floor(({sdist}) * 1000000
                                + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS d
          FROM asg e, cb{s} c GROUP BY e.vec_id)""")
    err_sum = " + ".join(f"m{s}.d" for s in range(m))
    err_join = " ".join(
        f"JOIN mind{s} m{s} ON m{s}.vec_id = m0.vec_id"
        for s in range(1, m)
    )
    joined = ",\n".join(ctes)
    return f"""WITH {joined},
       err AS (SELECT m0.vec_id, {err_sum} AS err
               FROM mind0 m0 {err_join})
       SELECT CASE WHEN {seed_pred} THEN 'base' ELSE 'arrivals' END
                  AS cohort,
              count(*) AS n_vecs,
              CAST(sum(err) AS BIGINT) AS total_err,
              CAST(floor(CAST(sum(err) AS DOUBLE)
                         / CAST(count(*) AS DOUBLE)) AS BIGINT)
                  AS mean_err_fp
       FROM err GROUP BY 1"""

def _drift_quantizers(spark, e) -> tuple[list, list]:
    """Base-cohort (even vec_id) coarse cells + PQ codebooks with the
    exact conventions of `_drift_sql` / the incremental-index family —
    shared by the batch monitor and its streaming twin."""
    base = e.filter(F.col("vec_id") % 2 == 0)
    cell_rows = (
        base.orderBy("vec_id").limit(8)
        .select(
            F.col("vec_id").cast("long").alias("_cell"),
            F.transform(
                F.col("embedding"),
                lambda x: F.round(x.cast("double"), 6),
            ).alias("_cv"),
        )
        .collect()
    )
    coarse = [(int(r["_cell"]), list(r["_cv"])) for r in cell_rows]
    asg_base = similarity._ivfpq_assign(
        base, "vec_id", "embedding", coarse, 6
    )
    cbs = similarity._ivfpq_seed_cbs(asg_base, 8, 8, 8, 6)
    return coarse, cbs

def _kcenter_sql(k: int) -> str:
    """DuckDB twin of clustering.kcenter_coreset: the greedy
    farthest-point traversal unrolled k-1 rounds, every argmax on
    (rounded distance DESC, id ASC)."""
    dist = _SQDIST.format(a="e.embedding", b="s.embedding")
    ctes = ["""sel1 AS MATERIALIZED (
          SELECT 1 AS step, vec_id, embedding
          FROM embeddings ORDER BY vec_id LIMIT 1)"""]
    for r in range(1, k):
        ctes.append(f"""dm{r} AS MATERIALIZED (
          SELECT e.vec_id, min(round({dist}, 6)) AS dm
          FROM embeddings e JOIN sel{r} s ON e.vec_id <> s.vec_id
          WHERE e.vec_id NOT IN (SELECT vec_id FROM sel{r})
          GROUP BY e.vec_id)""")
        ctes.append(f"""nx{r} AS MATERIALIZED (
          SELECT vec_id, dm FROM dm{r}
          ORDER BY dm DESC, vec_id LIMIT 1)""")
        ctes.append(f"""sel{r + 1} AS MATERIALIZED (
          SELECT * FROM sel{r}
          UNION ALL
          SELECT {r + 1}, vec_id, embedding FROM embeddings
          WHERE vec_id = (SELECT vec_id FROM nx{r}))""")
    picks = "\n       UNION ALL ".join(
        f"SELECT {r + 1} AS sel_order, vec_id, "
        f"CAST(floor(dm * 1000000 + 0.5) AS BIGINT) AS maxmin_dist "
        f"FROM nx{r}"
        for r in range(1, k)
    )
    joined = ",\n".join(ctes)
    return f"""WITH {joined}
       SELECT 1 AS sel_order, vec_id, CAST(0 AS BIGINT) AS maxmin_dist
       FROM sel1
       UNION ALL {picks}"""

_NEG_KEY_SQL = md5_long_sql(
    "concat('neg:', CAST(anchor_id AS VARCHAR), ':', "
    "CAST(slot AS VARCHAR))"
)

def _mmr_sql(k: int, lam: float) -> str:
    """DuckDB twin of similarity.mmr_select: the greedy MMR sweep
    unrolled k−1 rounds; the λ/(1−λ) constants are rendered from the
    same Python doubles the engine inlines, every ranking on
    (rounded score DESC, id ASC), +0.0 collapsing −0.0."""
    oml = 1.0 - lam
    lam_s = f"CAST('{float(lam)!r}' AS DOUBLE)"
    oml_s = f"CAST('{oml!r}' AS DOUBLE)"
    cos = _cos_sql("b.embedding", "s.embedding")
    relcos = _cos_sql("e.embedding", "q.qv")
    ctes = [
        """q AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qv
          FROM embeddings ORDER BY vec_id LIMIT 1)""",
        f"""base AS MATERIALIZED (
          SELECT e.vec_id, e.embedding, round({relcos}, 6) AS rel
          FROM embeddings e, q WHERE e.vec_id <> q.qid)""",
        """sel1 AS MATERIALIZED (
          SELECT 1 AS step, vec_id, embedding, rel FROM base
          ORDER BY rel DESC, vec_id LIMIT 1)""",
    ]
    for r in range(1, k):
        ctes.append(f"""ms{r} AS MATERIALIZED (
          SELECT b.vec_id, b.rel, max(round({cos}, 6)) AS msim
          FROM base b JOIN sel{r} s ON b.vec_id <> s.vec_id
          WHERE b.vec_id NOT IN (SELECT vec_id FROM sel{r})
          GROUP BY b.vec_id, b.rel)""")
        ctes.append(f"""nx{r} AS MATERIALIZED (
          SELECT vec_id,
                 round({lam_s} * rel - {oml_s} * msim, 6)
                   + CAST(0.0 AS DOUBLE) AS score
          FROM ms{r} ORDER BY score DESC, vec_id LIMIT 1)""")
        ctes.append(f"""sel{r + 1} AS MATERIALIZED (
          SELECT * FROM sel{r}
          UNION ALL
          SELECT {r + 1}, b.vec_id, b.embedding, b.rel FROM base b
          WHERE b.vec_id = (SELECT vec_id FROM nx{r}))""")
    picks = "\n       UNION ALL ".join(
        f"SELECT {r + 1} AS sel_order, vec_id, score FROM nx{r}"
        for r in range(1, k)
    )
    joined = ",\n".join(ctes)
    return f"""WITH {joined}
       SELECT 1 AS sel_order, vec_id,
              rel + CAST(0.0 AS DOUBLE) AS score
       FROM sel1
       UNION ALL {picks}"""

def _bfs_sql(rounds: int) -> str:
    """DuckDB twin of graph.bfs_hops over the co-supply graph from
    its 3 lowest supplier ids, the relaxation unrolled ``rounds``
    times with MATERIALIZED round CTEs."""
    sql = """WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey
               FROM lineitem WHERE l_quantity >= 48),
       e0 AS MATERIALIZED (
              SELECT DISTINCT least(a.l_suppkey, b.l_suppkey) AS u,
                              greatest(a.l_suppkey, b.l_suppkey) AS v
              FROM li a JOIN li b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_suppkey < b.l_suppkey),
       sym AS MATERIALIZED (
              SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
       d0 AS MATERIALIZED (
              SELECT node, 0 AS h FROM (
                SELECT u AS node FROM sym UNION SELECT v FROM sym)
              ORDER BY node LIMIT 3)"""
    for r in range(rounds):
        sql += f""",
       d{r + 1} AS MATERIALIZED (
         SELECT node, min(h) AS h FROM (
           SELECT node, h FROM d{r}
           UNION ALL
           SELECT e.v AS node, d.h + 1
           FROM sym e JOIN d{r} d ON e.u = d.node) t
         GROUP BY node)"""
    return sql + f"""
       SELECT node, CAST(h AS INT) AS hops FROM d{rounds}"""

def _keep_best_sql() -> str:
    return f"""WITH clusters AS ({_dd_oracles()["dd_dup_clusters"]}),
       f AS ({_QUALITY_F_CTE.format(src="documents")}),
       scored AS (SELECT c.cluster_id, c.doc_id,
                         {_QUALITY_SCORE_SQL} AS quality
                  FROM clusters c JOIN f USING (doc_id))
       SELECT cluster_id, count(*) AS n_members,
              CAST(min(doc_id) FILTER (WHERE rk = 1) AS BIGINT)
                  AS keep_id,
              max(quality) AS best_quality
       FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
                ORDER BY quality DESC, doc_id) AS rk
             FROM scored) t
       GROUP BY cluster_id HAVING count(*) > 1"""

def _cluster_split_sql() -> str:
    return f"""WITH RECURSIVE pairs AS MATERIALIZED (
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
       allc AS (SELECT d.doc_id,
                       coalesce(cl.cluster_id, d.doc_id) AS cid
                FROM documents d LEFT JOIN cl USING (doc_id)),
       sp AS (SELECT doc_id, cid,
                     CASE WHEN (((((((cid % 4294967296) // 65536) * 2654435761) % 65536) * 65536 + ((cid % 4294967296) % 65536) * 2654435761) % 4294967296) * 100) // 4294967296 < 90
                            THEN 'train'
                          WHEN (((((((cid % 4294967296) // 65536) * 2654435761) % 65536) * 65536 + ((cid % 4294967296) % 65536) * 2654435761) % 4294967296) * 100) // 4294967296 < 95
                            THEN 'val'
                          ELSE 'test' END AS split
              FROM allc),
       leak AS (SELECT a.split, count(*) AS leaked
                FROM pairs p
                JOIN sp a ON a.doc_id = p.doc_a
                JOIN sp b ON b.doc_id = p.doc_b
                WHERE a.split <> b.split
                GROUP BY a.split)
       SELECT sp.split, count(*) AS n_docs,
              count(DISTINCT cid) AS n_clusters,
              CAST(coalesce(max(leak.leaked), 0) AS BIGINT)
                  AS leaked_pairs
       FROM sp LEFT JOIN leak ON leak.split = sp.split
       GROUP BY sp.split"""

def _cluster_cap_sql(cap: int) -> str:
    from ..operators.hashing import md5_long_sql

    u = md5_long_sql("concat('capsample:', CAST(doc_id AS VARCHAR))")
    return f"""WITH RECURSIVE pairs AS MATERIALIZED (
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
       allc AS (SELECT d.doc_id,
                       coalesce(cl.cluster_id, d.doc_id) AS cid
                FROM documents d LEFT JOIN cl USING (doc_id)),
       rk AS (SELECT doc_id, cid,
                     row_number() OVER (PARTITION BY cid
                       ORDER BY {u}, doc_id) AS pick_rank
              FROM allc)
       SELECT doc_id, cid AS cluster_id,
              CAST(pick_rank AS BIGINT) AS pick_rank
       FROM rk WHERE pick_rank <= {cap}"""

def _data_card_sql() -> str:
    return rf"""WITH cl AS ({_dd_oracles()["dd_dup_clusters"]}),
       f AS ({_QUALITY_F_CTE.format(src="documents")}),
       {_DECON_SHINGLE_CTE},
       b AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
       contam AS (SELECT count(DISTINCT s.doc_id) AS n
                  FROM sh s JOIN b USING (shingle)
                  WHERE s.source <> 'src0'),
       wl AS (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents),
       shl AS (SELECT DISTINCT doc_id,
                unnest(list_transform(generate_series(1, len(w) - 2),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                    AS shingle
               FROM wl WHERE len(w) >= 3),
       {_lsh_cand_ctes(16, 8, src="shl")},
       bsz AS (SELECT band, sig, count(*) AS n
               FROM bands_t GROUP BY band, sig),
       lshcap AS (SELECT
               CAST(coalesce(count(*) FILTER (WHERE n > 10000), 0)
                    AS BIGINT) AS db,
               CAST(coalesce(sum(CAST(n AS BIGINT) * (n - 1) // 2)
                                 FILTER (WHERE n > 10000), 0) AS BIGINT)
                   AS pp
           FROM bsz WHERE n > 1)
       SELECT (SELECT count(*) FROM documents) AS n_docs,
              (SELECT CAST(sum(len(list_filter(
                   string_split_regex(text, '\s+'), x -> x <> '')))
                   AS BIGINT) FROM documents) AS n_tokens,
              (SELECT count(DISTINCT source) FROM documents)
                  AS n_sources,
              (SELECT count(*) FROM cl) AS near_dup_docs,
              (SELECT count(DISTINCT cluster_id) FROM cl)
                  AS near_dup_clusters,
              (SELECT n FROM contam) AS contaminated_docs,
              (SELECT round(avg({_QUALITY_SCORE_SQL}), 4) FROM f)
                  AS mean_quality,
              (SELECT db FROM lshcap) AS lsh_dropped_buckets,
              (SELECT pp FROM lshcap) AS lsh_pruned_pairs"""

# ------------------------------------------------- lexical retrieval: BM25
_BM25_TERMS = ("scan", "hash", "merge")

def _bm25_sql(terms=_BM25_TERMS, k=10) -> str:
    """DuckDB twin of retrieval.bm25_topk: same Lucene-variant idf,
    same canonical operand order for every double (dl·N/total, never
    dl/avgdl), per-term scores quantized to 1e-4 fixed point BEFORE
    the per-doc integer sum. All float literals CAST('x' AS DOUBLE)
    (bare decimals are DECIMAL in DuckDB — the known parity trap)."""
    in_list = ", ".join(f"'{t}'" for t in terms)
    d = "CAST('{v}' AS DOUBLE)"
    k1, b, half, one = (d.format(v="1.2"), d.format(v="0.75"),
                        d.format(v="0.5"), d.format(v="1.0"))
    return rf"""WITH tok AS (
         SELECT doc_id,
                unnest(list_filter(string_split_regex(text, '\s+'),
                                   x -> x <> '')) AS term
         FROM documents),
       dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
       stats AS (SELECT count(*) AS n, sum(dl) AS tot FROM dl),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
              WHERE term IN ({in_list}) GROUP BY doc_id, term),
       dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       s AS (SELECT tf.doc_id,
               CAST(floor(
                 ln(CAST((2 * stats.n + 2) AS DOUBLE)
                    / CAST((2 * dfreq.df + 1) AS DOUBLE))
                 * tf.tf * ({k1} + {one})
                 / (tf.tf + {k1} * ({one} - {b}
                    + {b} * (CAST(dl.dl AS DOUBLE) * stats.n / stats.tot)))
                 * CAST(10000 AS DOUBLE) + {half}) AS BIGINT) AS s_fp
             FROM tf
             JOIN dfreq USING (term)
             JOIN dl ON dl.doc_id = tf.doc_id, stats),
       agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
                      CAST(sum(s_fp) AS BIGINT) AS bm25_fp
               FROM s GROUP BY doc_id)
       SELECT doc_id, n_terms, bm25_fp, CAST(rk AS BIGINT) AS rk
       FROM (SELECT *, row_number() OVER (
                ORDER BY bm25_fp DESC, doc_id) AS rk FROM agg) t
       WHERE rk <= {k}"""

# --------------------------------------------- hybrid retrieval: RRF fusion
def _rrf_sql() -> str:
    """DuckDB twin of retrieval.rrf_fuse over (BM25 top-10, cosine
    top-10 for query vec_id 0): contributions are exact integers
    floor(1e6 / (60 + rank)) — no floats anywhere in the fusion."""
    vec_cos = _cos_sql("q.embedding", "c.embedding")
    return f"""WITH lex AS ({_bm25_sql()}),
       vec AS (SELECT neighbor_id AS doc_id, rk FROM (
           SELECT c.vec_id AS neighbor_id,
                  row_number() OVER (
                    ORDER BY round({vec_cos}, 6) DESC, c.vec_id) AS rk
           FROM (SELECT * FROM embeddings WHERE vec_id = 0) q,
                embeddings c
           WHERE c.vec_id <> 0) t
         WHERE rk <= 10),
       u AS (SELECT doc_id, 'lex' AS sys, rk FROM lex
             UNION ALL
             SELECT doc_id, 'vec' AS sys, rk FROM vec),
       agg AS (SELECT doc_id,
                 CAST(coalesce(max(CASE WHEN sys = 'lex' THEN rk END), 0)
                      AS BIGINT) AS lex_rk,
                 CAST(coalesce(max(CASE WHEN sys = 'vec' THEN rk END), 0)
                      AS BIGINT) AS vec_rk,
                 CAST(sum(CAST(floor(CAST(1000000 AS DOUBLE) / (60 + rk))
                               AS BIGINT)) AS BIGINT) AS rrf_fp
               FROM u GROUP BY doc_id)
       SELECT doc_id, lex_rk, vec_rk, rrf_fp, CAST(rk AS BIGINT) AS rk
       FROM (SELECT *, row_number() OVER (
                ORDER BY rrf_fp DESC, doc_id) AS rk FROM agg) t
       WHERE rk <= 10"""

# --------------------------------------- ANN: exact re-rank of PQ candidates
def _refine_sql(r: int = 20, k: int = 5) -> str:
    """DuckDB twin of retrieval.ivfpq_refine_topk: the IVF-PQ ADC
    top-r oracle as the candidate CTE, exact squared-L2 on the raw
    vectors in the shared ADC fixed-point convention for the final
    rank."""
    sq = _SQDIST.format(a="q.embedding", b="c.embedding")
    return f"""WITH cand AS MATERIALIZED ({_ivfpq_sql(8, 2, 8, 8, 8, 10, r)}),
       ref AS (SELECT cand.query_id, cand.neighbor_id,
                 CAST(floor(({sq}) * 1000000
                            + CAST(0.5 AS DOUBLE)) AS BIGINT) AS dist_fp
               FROM cand
               JOIN embeddings c ON c.vec_id = cand.neighbor_id
               JOIN embeddings q ON q.vec_id = cand.query_id)
       SELECT query_id, neighbor_id, dist_fp, CAST(rk AS BIGINT) AS rk
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY dist_fp, neighbor_id) AS rk FROM ref) t
       WHERE rk <= {k}"""

# ------------------------------------- trained Naive Bayes quality classifier
def _nb_sql() -> str:
    """DuckDB twin of classify.nb_train_weights + nb_score: exact
    integer counts, each weight ONE log of one exact integer fraction
    quantized at 1e-6, document scores exact integer sums."""
    return r"""WITH lab AS (
         SELECT doc_id, text,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         FROM documents),
       tok AS (SELECT doc_id, y,
                      unnest(list_filter(string_split_regex(text, '\s+'),
                                         x -> x <> '')) AS term
               FROM lab),
       cnt AS (SELECT term, sum(y) AS c1, sum(1 - y) AS c0
               FROM tok GROUP BY term),
       tot AS (SELECT sum(y) AS t1, sum(1 - y) AS t0,
                      count(DISTINCT term) AS v
               FROM tok),
       w AS (SELECT term,
               CAST(floor(
                 ln(CAST((c1 + 1) * (t0 + v) AS DOUBLE)
                    / CAST((c0 + 1) * (t1 + v) AS DOUBLE))
                 * CAST(1000000 AS DOUBLE) + CAST('0.5' AS DOUBLE))
                 AS BIGINT) AS w_fp
             FROM cnt, tot),
       pri AS (SELECT CAST(floor(
                 ln(CAST(sum(y) AS DOUBLE) / CAST(sum(1 - y) AS DOUBLE))
                 * CAST(1000000 AS DOUBLE) + CAST('0.5' AS DOUBLE))
                 AS BIGINT) AS prior_fp
               FROM lab),
       tf AS (SELECT doc_id, term, count(*) AS tf
              FROM tok GROUP BY doc_id, term),
       sc AS (SELECT tf.doc_id,
                     sum(tf.tf * coalesce(w.w_fp, 0)) AS s
              FROM tf LEFT JOIN w USING (term) GROUP BY tf.doc_id)
       SELECT lab.doc_id,
              CAST(coalesce(sc.s, 0) + pri.prior_fp AS BIGINT)
                  AS score_fp,
              CAST(CASE WHEN coalesce(sc.s, 0) + pri.prior_fp > 0
                        THEN 1 ELSE 0 END AS BIGINT) AS pred,
              CAST(lab.y AS BIGINT) AS actual
       FROM lab LEFT JOIN sc ON sc.doc_id = lab.doc_id, pri"""

# --------------------------------------- retrieval quality metrics (per query)
def _retrieval_metrics_sql() -> str:
    """DuckDB twin of ml_retrieval_metrics: relevance = exact brute
    cosine top-5, system = IVF-PQ ADC top-5; MRR and binary-relevance
    NDCG@5 in exact fixed point (the per-rank 1/log2(i+1) gains are
    five shared constants, ratios are exact integer division)."""
    gains = ", ".join(
        f"({i}, {_ndcg_gain_fp(i)})" for i in range(1, 6)
    )
    idcg = sum(_ndcg_gain_fp(i) for i in range(1, 6))
    return f"""WITH brute AS ({_ann_oracles()["ann_cosine_topk"]}),
       sys AS ({_ivfpq_sql(8, 2, 8, 8, 8, 10, 5)}),
       g(rk, gain_fp) AS (VALUES {gains}),
       hits AS (SELECT s.query_id, s.rk,
                       CASE WHEN b.neighbor_id IS NULL THEN 0 ELSE 1 END
                           AS rel
                FROM sys s LEFT JOIN brute b
                  ON b.query_id = s.query_id
                 AND b.neighbor_id = s.neighbor_id),
       agg AS (SELECT h.query_id,
                 CAST(coalesce(
                   max(CASE WHEN h.rel = 1
                       THEN CAST(floor(CAST(1000000 AS DOUBLE) / h.rk)
                                 AS BIGINT) END), 0) AS BIGINT) AS mrr_fp,
                 CAST(sum(h.rel * g.gain_fp) AS BIGINT) AS dcg_fp
               FROM hits h JOIN g ON g.rk = h.rk
               GROUP BY h.query_id)
       SELECT query_id, mrr_fp, dcg_fp,
              CAST(floor(CAST(dcg_fp * 1000000 AS DOUBLE) / {idcg})
                   AS BIGINT) AS ndcg_fp
       FROM agg"""

def _ndcg_gain_fp(rank: int) -> int:
    """floor((1/log2(rank+1))·1e6): the five binary-relevance
    DCG gain constants, computed ONCE in Python and inlined as
    literals on both engines — no cross-engine log2 at query time."""
    import math

    return int(math.floor((1.0 / math.log2(rank + 1)) * 1e6))

# ------------------------------------- preference-pair construction (RLHF)
def _pref_pairs_sql() -> str:
    return f"""WITH f AS (
         SELECT d.doc_id, d.source, ff.n_chars, ff.stop_r, ff.punct_r
         FROM documents d JOIN ({_QUALITY_F_CTE.format(src="documents")}) ff
           ON ff.doc_id = d.doc_id),
       scored AS (SELECT source, doc_id,
                         {_QUALITY_SCORE_SQL} AS quality
                  FROM f),
       ranked AS (SELECT *,
                    row_number() OVER (PARTITION BY source
                      ORDER BY quality DESC, doc_id) AS rk_top,
                    row_number() OVER (PARTITION BY source
                      ORDER BY quality ASC, doc_id) AS rk_low
                  FROM scored)
       SELECT ch.source,
              CAST(ch.doc_id AS BIGINT) AS chosen_id,
              CAST(rj.doc_id AS BIGINT) AS rejected_id,
              ch.quality AS q_chosen,
              rj.quality AS q_rejected,
              round(ch.quality - rj.quality, 4) AS margin
       FROM ranked ch JOIN ranked rj
         ON rj.source = ch.source AND rj.rk_low <= 3
       WHERE ch.rk_top = 1 AND rj.quality < ch.quality"""

# --------------------------- exact set-similarity join (prefix filter)
def _prefix_filter_sql(tn: int = 1, td: int = 2) -> str:
    """DuckDB twin of ssjoin.prefix_filter_pairs over 3-word
    shingles: same rarity order (df asc, shingle asc), same
    exact-integer prefix length and size filter, same fixed-point
    Jaccard — candidates and survivors replay identically."""
    return f"""WITH {_SHINGLE_CTE.replace('AS shingle', 'AS term')},
  dfc AS (SELECT term, count(*) AS df FROM sh GROUP BY term),
  siz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
  ord AS (SELECT t.doc_id, t.term, s.n,
            row_number() OVER (PARTITION BY t.doc_id
                               ORDER BY d.df, t.term) AS pos
          FROM sh t JOIN dfc d USING (term) JOIN siz s USING (doc_id)),
  pref AS (SELECT doc_id, term, n FROM ord
           WHERE pos <= n - CAST(({tn}*n + {td - 1}) // {td} AS BIGINT)
                            + 1),
  cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.n AS na, b.n AS nb
           FROM pref a JOIN pref b
             ON a.term = b.term AND a.doc_id < b.doc_id
           WHERE least(a.n, b.n) * {td} >= {tn} * greatest(a.n, b.n)),
  ver AS (SELECT c.id_a, c.id_b, c.na, c.nb, count(*) AS inter
          FROM cand c JOIN sh x ON x.doc_id = c.id_a
                      JOIN sh y ON y.doc_id = c.id_b
                                AND y.term = x.term
          GROUP BY 1, 2, 3, 4)
  SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
         CAST(na + nb - inter AS BIGINT) AS uni,
         CAST(floor(1000000 * inter / (na + nb - inter)) AS BIGINT)
             AS jacc_fp
  FROM ver WHERE inter * {td} >= {tn} * (na + nb - inter)"""

_ARM_SQL = "(((((((user_id % 4294967296) // 65536) * 2654435761) % 65536) * 65536 + ((user_id % 4294967296) % 65536) * 2654435761) % 4294967296) * 2) // 4294967296"

def _bootstrap_sql() -> str:
    from ..operators.experiment import POISSON1_THRESHOLDS
    from ..operators.hashing import md5_long_sql

    t = POISSON1_THRESHOLDS
    h = md5_long_sql(
        "concat(CAST(user_id AS VARCHAR), '#', CAST(r AS VARCHAR))"
    )
    fp = ("CAST(floor(({x}) * CAST(1000000 AS DOUBLE)"
          " + CAST('0.5' AS DOUBLE)) AS BIGINT)")
    lift = ("CAST(sum(CASE WHEN arm = 1 THEN s END) AS DOUBLE)"
            " / sum(CASE WHEN arm = 1 THEN n END)"
            " - CAST(sum(CASE WHEN arm = 0 THEN s END) AS DOUBLE)"
            " / sum(CASE WHEN arm = 0 THEN n END)")
    return f"""WITH pu AS (SELECT user_id,
           {_ARM_SQL} AS arm,
           coalesce(sum(CASE WHEN event_type = 'purchase'
               THEN CAST(round(value * 100, 0) AS BIGINT)
               ELSE 0 END), 0) AS y
           FROM events GROUP BY user_id),
       reps AS (SELECT user_id, arm, y, CAST(t.range AS INT) AS r
                FROM pu, range(40) t),
       hw AS (SELECT arm, r, y,
           CASE WHEN {h} < {t[0]} THEN 0
                WHEN {h} < {t[1]} THEN 1
                WHEN {h} < {t[2]} THEN 2
                WHEN {h} < {t[3]} THEN 3
                WHEN {h} < {t[4]} THEN 4
                ELSE 5 END AS w
           FROM reps),
       sums AS (SELECT r, arm, sum(w) AS n, sum(w * y) AS s
                FROM hw GROUP BY r, arm),
       lifts AS (SELECT r, {fp.format(x=lift)} AS lift_fp
                 FROM sums GROUP BY r
                 HAVING sum(CASE WHEN arm = 0 THEN n END) > 0
                    AND sum(CASE WHEN arm = 1 THEN n END) > 0),
       srt AS (SELECT list_sort(list(lift_fp)) AS ls,
                      count(*) AS nr FROM lifts),
       pt AS (SELECT
           CASE WHEN sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) > 0
                 AND sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) > 0
           THEN {fp.format(x=(
               "CAST(sum(CASE WHEN arm = 1 THEN y END) AS DOUBLE)"
               " / sum(CASE WHEN arm = 1 THEN 1 END)"
               " - CAST(sum(CASE WHEN arm = 0 THEN y END) AS DOUBLE)"
               " / sum(CASE WHEN arm = 0 THEN 1 END)"))}
           END AS lift_point_fp
           FROM pu)
       SELECT CAST(nr AS BIGINT) AS n_replicas,
              lift_point_fp,
              ls[1] AS lift_lo_fp,
              ls[39] AS lift_hi_fp
       FROM srt, pt"""

def _cms_sql() -> str:
    from ..operators.hashing import (
        MERSENNE_P,
        affine_hash_sql,
        md5_long_sql,
        minhash_coeffs,
    )

    d, w = 4, 256
    cs = minhash_coeffs(d, seed=31)
    h = md5_long_sql("tok")
    cell = lambda j: (  # noqa: E731
        f"({affine_hash_sql(h, cs[j][0], cs[j][1], MERSENNE_P)} % {w})"
    )
    probes = "('join', 'hash', 'scan', 'filter', 'zz_absent')"
    return f"""WITH toks AS (
           SELECT unnest(string_split_regex(text, '\\s+')) AS tok
           FROM documents),
       t AS (SELECT tok FROM toks WHERE tok <> ''),
       cells AS (
           SELECT row_j AS row, bucket, count(*) AS cnt FROM (
               SELECT 0 AS row_j, {cell(0)} AS bucket FROM t
               UNION ALL SELECT 1, {cell(1)} FROM t
               UNION ALL SELECT 2, {cell(2)} FROM t
               UNION ALL SELECT 3, {cell(3)} FROM t)
           GROUP BY row_j, bucket),
       probes AS (SELECT tok FROM (VALUES ('join'), ('hash'),
           ('scan'), ('filter'), ('zz_absent')) v(tok)),
       est AS (SELECT p.tok,
           least(
               coalesce((SELECT cnt FROM cells c WHERE c.row = 0
                   AND c.bucket = ({cell(0).replace('tok', 'p.tok')})), 0),
               coalesce((SELECT cnt FROM cells c WHERE c.row = 1
                   AND c.bucket = ({cell(1).replace('tok', 'p.tok')})), 0),
               coalesce((SELECT cnt FROM cells c WHERE c.row = 2
                   AND c.bucket = ({cell(2).replace('tok', 'p.tok')})), 0),
               coalesce((SELECT cnt FROM cells c WHERE c.row = 3
                   AND c.bucket = ({cell(3).replace('tok', 'p.tok')})), 0)
           ) AS est_freq
           FROM probes p),
       ex AS (SELECT tok, count(*) AS exact_freq FROM t
              WHERE tok IN {probes} GROUP BY tok)
       SELECT est.tok AS token,
              CAST(est.est_freq AS BIGINT) AS est_freq,
              CAST(coalesce(ex.exact_freq, 0) AS BIGINT) AS exact_freq
       FROM est LEFT JOIN ex ON est.tok = ex.tok"""

# ------------------------------------------------ spatial grid family
def _geo_coord_sql(key: str, tag: str, base: int, span: int) -> str:
    from ..operators.hashing import md5_long_sql

    h = md5_long_sql(f"concat('{tag}#', CAST({key} AS VARCHAR))")
    return f"({base} + {h} % {span})"

def _geo_knn_sql() -> str:
    # brute-force circle + rank: the grid join must be LOSSLESS for
    # bounded-radius kNN, so the oracle needn't know about cells
    qlat = _geo_coord_sql("s_suppkey", "lat", 40_000_000, 100_000)
    qlon = _geo_coord_sql("s_suppkey", "lon", -74_050_000, 100_000)
    plat = _geo_coord_sql("c_custkey", "lat", 40_000_000, 100_000)
    plon = _geo_coord_sql("c_custkey", "lon", -74_050_000, 100_000)
    return f"""WITH q AS (SELECT s_suppkey AS qid,
                    {qlat} AS qlat, {qlon} AS qlon
               FROM supplier WHERE s_suppkey < 10),
       p AS (SELECT c_custkey AS pid,
                    {plat} AS plat, {plon} AS plon
             FROM customer),
       d AS (SELECT qid, pid,
                    (plat - qlat) * (plat - qlat)
                    + (plon - qlon) * (plon - qlon) AS dist2
             FROM q, p),
       r AS (SELECT qid, pid, dist2,
                    row_number() OVER (PARTITION BY qid
                        ORDER BY dist2, pid) AS rk
             FROM d WHERE dist2 <= 10000 * 10000)
       SELECT qid AS query_id, CAST(pid AS BIGINT) AS point_id,
              CAST(dist2 AS BIGINT) AS dist2, CAST(rk AS BIGINT) AS rk
       FROM r WHERE rk <= 5"""

def _geo_points(spark, sf_dir, table, key):
    """Synthesized city-scale coordinates (integer micro-degrees)
    hash-derived from the key — a ~11 km box around an NYC-ish
    anchor, identical arithmetic in the oracle."""
    from ..operators.hashing import md5_long

    df = load(spark, sf_dir, table)
    lat = F.lit(40_000_000) + md5_long(
        F.concat(F.lit("lat#"), F.col(key).cast("string"))
    ) % F.lit(100_000)
    lon = F.lit(-74_050_000) + md5_long(
        F.concat(F.lit("lon#"), F.col(key).cast("string"))
    ) % F.lit(100_000)
    return df.select(F.col(key), lat.alias("lat"), lon.alias("lon"))

# geofence rings (integer micro-degrees, simple rings, first vertex
# not repeated) inside the _geo_points city box; the oracle's edge
# VALUES are GENERATED from these same constants
GEO_ZONES = {
    "triangle": [(40_010_000, -74_040_000), (40_090_000, -74_020_000),
                 (40_030_000, -73_970_000)],
    "quad": [(40_050_000, -74_045_000), (40_080_000, -74_030_000),
             (40_070_000, -73_990_000), (40_040_000, -74_000_000)],
    # concave L-shape: the notch catches convex-hull shortcuts
    "lshape": [(40_000_500, -73_990_000), (40_060_500, -73_990_000),
               (40_060_500, -73_970_000), (40_020_500, -73_970_000),
               (40_020_500, -73_955_000), (40_000_500, -73_955_000)],
}

def _geo_pip_sql() -> str:
    plat = _geo_coord_sql("c_custkey", "lat", 40_000_000, 100_000)
    plon = _geo_coord_sql("c_custkey", "lon", -74_050_000, 100_000)
    edges = []
    for zone, ring in GEO_ZONES.items():
        for i, (y1, x1) in enumerate(ring):
            y2, x2 = ring[(i + 1) % len(ring)]
            edges.append(f"('{zone}', {y1}, {x1}, {y2}, {x2})")
    values = ",\n              ".join(edges)
    return f"""WITH p AS (SELECT c_custkey AS key, {plat} AS py,
                    {plon} AS px
               FROM customer),
       e(zone, y1, x1, y2, x2) AS (VALUES
              {values}),
       cr AS (SELECT p.key, e.zone,
                CASE WHEN ((y1 > py) != (y2 > py))
                     AND (CASE WHEN y2 - y1 > 0
                          THEN (px - x1) * (y2 - y1)
                               < (x2 - x1) * (py - y1)
                          ELSE (px - x1) * (y2 - y1)
                               > (x2 - x1) * (py - y1) END)
                     THEN 1 ELSE 0 END AS c
              FROM p, e),
       ins AS (SELECT key, zone, sum(c) % 2 = 1 AS inside
               FROM cr GROUP BY key, zone),
       zrows AS (SELECT zone, count(*) AS n_points,
                        CAST(min(key) AS BIGINT) AS min_key,
                        CAST(max(key) AS BIGINT) AS max_key
                 FROM ins WHERE inside GROUP BY zone),
       nokey AS (SELECT key FROM ins GROUP BY key
                 HAVING max(CASE WHEN inside THEN 1 ELSE 0 END) = 0)
       SELECT * FROM zrows
       UNION ALL
       SELECT 'none', count(*),
              CAST(min(key) AS BIGINT), CAST(max(key) AS BIGINT)
       FROM nokey"""



# ---------------------------------------------------------------------------
# Logistic-regression GD (ml_logreg_gd) — shared feature spec + oracle
# ---------------------------------------------------------------------------

# Feature SQL is shared VERBATIM between the Spark selectExpr and the
# oracle so every per-row double matches bit-for-bit (the scalings
# bound |x| <= ~1 so micro-gradients stay far below 2^53 at any sf).
LOGREG_FEATURES = (
    ("x0", "1.0"),
    ("xq", "CAST(l_quantity AS DOUBLE) / 50.0"),
    ("xd", "l_discount * 10.0"),
)
LOGREG_LABEL = "CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END"
LOGREG_WHERE = ("l_quantity IS NOT NULL AND l_discount IS NOT NULL "
                "AND l_returnflag IS NOT NULL")
LOGREG_STATS = ("w_bias", "w_qty", "w_disc")
LOGREG_ITERS = 3
LOGREG_LR = (1.0, 2.0)  # lr_num / lr_den


def _logreg_sql(iters: int = LOGREG_ITERS,
                lr_num: float = LOGREG_LR[0],
                lr_den: float = LOGREG_LR[1]) -> str:
    """DuckDB twin of linearmodel.logreg_fit_gd + logreg_report:
    every GD round unrolled as a (gradient-sum, weight-update) CTE
    pair, weights carried as exact BIGINT micro-units, followed by
    the z>=0 confusion ledger. Margin/residual/gradient expressions
    come from the SAME generators the Spark plan uses."""
    from ..operators import linearmodel as lm

    names = [n for n, _ in LOGREG_FEATURES]
    fsel = ", ".join(f"{sql} AS {n}" for n, sql in LOGREG_FEATURES)
    ctes = [
        f"lrf AS MATERIALIZED (SELECT {fsel}, {LOGREG_LABEL} AS y "
        f"FROM lineitem WHERE {LOGREG_WHERE})",
        "lrn AS (SELECT count(*) AS n FROM lrf)",
        "lw0 AS (SELECT " + ", ".join(
            f"CAST(0 AS BIGINT) AS w{j}" for j in range(len(names))
        ) + ")",
    ]
    for i in range(1, iters + 1):
        ws = [f"c.w{j}" for j in range(len(names))]
        grads = lm.grad_exprs(ws, names, "y", as_literal=False)
        gsel = ", ".join(
            f"{g} AS g{j}" for j, g in enumerate(grads)
        )
        ctes.append(f"lg{i} AS (SELECT {gsel} FROM lrf, lw{i - 1} c)")
        upd = ", ".join(
            f"c.w{j} - CAST(floor(({lr_num!r} * CAST(g.g{j} AS DOUBLE))"
            f" / ({lr_den!r} * CAST(n.n AS DOUBLE))) AS BIGINT) AS w{j}"
            for j in range(len(names))
        )
        ctes.append(
            f"lw{i} AS (SELECT {upd} FROM lw{i - 1} c, lg{i} g, lrn n)"
        )
    ws = [f"c.w{j}" for j in range(len(names))]
    z = lm._z_sql(ws, names, as_literal=False)
    ctes.append(
        f"lfin AS (SELECT {z} AS z, y FROM lrf, lw{iters} c)"
    )
    ctes.append(
        "lagg AS (SELECT sum(CASE WHEN z >= 0.0 THEN 1 ELSE 0 END)"
        " AS n_pred_pos, sum(CASE WHEN (CASE WHEN z >= 0.0 THEN 1.0"
        " ELSE 0.0 END) = y THEN 1 ELSE 0 END) AS n_correct,"
        " count(*) AS n_total FROM lfin)"
    )
    stats = "\n UNION ALL ".join(
        f"SELECT '{s}' AS stat, CAST(c.w{j} AS BIGINT) AS value "
        f"FROM lw{iters} c"
        for j, s in enumerate(LOGREG_STATS)
    )
    joined = ",\n".join(ctes)
    return (
        f"WITH {joined}\n"
        f"{stats}\n"
        " UNION ALL SELECT 'n_pred_pos', CAST(n_pred_pos AS BIGINT)"
        " FROM lagg\n"
        " UNION ALL SELECT 'n_correct', CAST(n_correct AS BIGINT)"
        " FROM lagg\n"
        " UNION ALL SELECT 'n_total', CAST(n_total AS BIGINT) FROM lagg"
    )


# ---------------------------------------------------------------------------
# Gini decision stump (ml_gini_stump) — shared grids + oracle
# ---------------------------------------------------------------------------

# (name, spark_x_sql, duckdb_x_sql, grid). The token count reuses the
# engine-wide whitespace rule (textstats.word_count ==
# len(list_filter(string_split_regex(text,'\\s+'), x -> x <> ''))).
_STUMP_TOK_DUCK = ("CAST(len(list_filter(string_split_regex(text, "
                   "'\\s+'), x -> x <> '')) AS BIGINT)")
STUMP_FEATURES = (
    ("awl", "(CAST(n_chars AS DOUBLE) / CAST(n_tok AS DOUBLE))",
     (4.6, 4.8, 5.0, 5.2, 5.4, 5.6)),
    ("chars", "CAST(n_chars AS DOUBLE)",
     (150.0, 200.0, 250.0, 300.0, 350.0, 400.0, 450.0)),
    ("tokens", "CAST(n_tok AS DOUBLE)",
     (30.0, 40.0, 50.0, 60.0, 70.0, 80.0)),
)
STUMP_LABEL = "CASE WHEN lang = 'en' THEN 1 ELSE 0 END"


def _stump_sql() -> str:
    """DuckDB twin of trees.gini_stump over the documents table:
    identical grid-bucket lambda, histogram, cumulative range join
    and the shared trees.score_sql purity fragment."""
    from ..operators.clustering import sql_double
    from ..operators.trees import bucket_expr_duckdb, score_sql

    buckets = ", ".join(
        f"{bucket_expr_duckdb(x, list(grid))} AS b_{name}"
        for name, x, grid in STUMP_FEATURES
    )
    longs = "\n UNION ALL ".join(
        f"SELECT '{name}' AS feature, b_{name} AS bucket, y FROM h0"
        for name, _, _ in STUMP_FEATURES
    )
    grid_rows = ", ".join(
        f"('{name}', {i}, {sql_double(t)})"
        for name, _, grid in STUMP_FEATURES
        for i, t in enumerate(grid)
    )
    score = score_sql("c.pos_l", "c.n_l", "t.pos_t", "t.n_t")
    return f"""WITH h0 AS MATERIALIZED (
         SELECT {buckets}, CAST({STUMP_LABEL} AS BIGINT) AS y
         FROM (SELECT lang, n_chars, {_STUMP_TOK_DUCK} AS n_tok, text
               FROM documents) WHERE n_tok >= 1),
       hlong AS ({longs}),
       hist AS (SELECT feature, bucket, count(*) AS cnt, sum(y) AS pos
                FROM hlong GROUP BY feature, bucket),
       grid(feature, i, thr) AS (VALUES {grid_rows}),
       tot AS (SELECT feature, sum(cnt) AS n_t, sum(pos) AS pos_t
               FROM hist GROUP BY feature),
       cum AS (SELECT g.feature, g.i, g.thr,
                      sum(h.cnt) AS n_l, sum(h.pos) AS pos_l
               FROM grid g JOIN hist h
                 ON h.feature = g.feature AND h.bucket <= g.i
               GROUP BY g.feature, g.i, g.thr),
       scored AS (SELECT c.feature, c.thr,
                         CAST(c.n_l AS BIGINT) AS n_left,
                         CAST(c.pos_l AS BIGINT) AS pos_left,
                         CAST(t.n_t - c.n_l AS BIGINT) AS n_right,
                         CAST(t.pos_t - c.pos_l AS BIGINT) AS pos_right,
                         CAST(floor(({score}) * 1000000.0) AS BIGINT)
                             AS score_fp
                  FROM cum c JOIN tot t ON t.feature = c.feature
                  WHERE c.n_l > 0 AND t.n_t - c.n_l > 0),
       ranked AS (SELECT *, row_number() OVER (
                      PARTITION BY feature
                      ORDER BY score_fp DESC, thr) AS rk
                  FROM scored)
       SELECT feature, thr AS threshold, n_left, pos_left,
              n_right, pos_right, score_fp
       FROM ranked WHERE rk = 1
       ORDER BY score_fp DESC, feature, threshold"""


# ---------------------------------------------------------------------------
# Common-neighbor link prediction (graph_link_prediction) — oracle
# ---------------------------------------------------------------------------

def _link_pred_sql(k: int = 25, min_center_cap: int = 64) -> str:
    """DuckDB twin of graph.common_neighbor_topk over the co-supply
    graph (suppliers sharing a high-quantity order): the adaptive
    center cap greatest(cap_floor, floor(sqrt(m))), hub-capped wedge
    enumeration, existing-edge anti-join, and exact full-degree
    Jaccard replayed verbatim."""
    return f"""WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey
              FROM lineitem WHERE l_quantity >= 48),
       e AS MATERIALIZED (
         SELECT DISTINCT least(a.l_suppkey, b.l_suppkey) AS u,
                         greatest(a.l_suppkey, b.l_suppkey) AS v
         FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                            AND a.l_suppkey < b.l_suppkey),
       m AS (SELECT count(*) AS m FROM e),
       cap AS (SELECT greatest({min_center_cap},
                 CAST(floor(sqrt(CAST(m AS DOUBLE))) AS BIGINT)) AS cap
               FROM m),
       deg AS (SELECT node, count(*) AS deg
               FROM (SELECT u AS node FROM e
                     UNION ALL SELECT v FROM e) GROUP BY node),
       adj AS (SELECT u AS w, v AS x FROM e
               UNION ALL SELECT v AS w, u AS x FROM e),
       ctr AS (SELECT a.w, a.x FROM adj a
               JOIN deg d ON d.node = a.w, cap
               WHERE d.deg <= cap.cap),
       wed AS (SELECT a1.x AS u, a2.x AS v
               FROM ctr a1 JOIN ctr a2
                 ON a1.w = a2.w AND a1.x < a2.x),
       cnt AS (SELECT u, v, count(*) AS cn FROM wed GROUP BY u, v),
       cand AS (SELECT c.u, c.v, c.cn FROM cnt c
                WHERE NOT EXISTS (SELECT 1 FROM e
                                  WHERE e.u = c.u AND e.v = c.v)),
       sc AS (SELECT c.u, c.v, CAST(c.cn AS BIGINT) AS cn,
                     CAST(du.deg AS BIGINT) AS deg_u,
                     CAST(dv.deg AS BIGINT) AS deg_v,
                     CAST(floor((CAST(c.cn AS DOUBLE) * 1000000.0)
                          / CAST((du.deg + dv.deg) - c.cn AS DOUBLE))
                          AS BIGINT) AS jaccard_fp
              FROM cand c JOIN deg du ON du.node = c.u
                          JOIN deg dv ON dv.node = c.v)
       SELECT u, v, cn, deg_u, deg_v, jaccard_fp FROM sc
       ORDER BY cn DESC, jaccard_fp DESC, u, v LIMIT {k}"""

__all__ = [
    "_SHINGLE_CTE",
    "_VERIFY_SQL",
    "_lsh_cand_ctes",
    "_minhash_sql",
    "_NGRAM_PAIRS_SQL",
    "_simhash_sql",
    "_DOT",
    "_cos_sql",
    "_ivf_probe_sql",
    "_SWEEP_PROBES",
    "_probe_sweep_block",
    "_rp_sql",
    "_lsh_topk_sql",
    "_knn_graph_ctes",
    "_knn_graph_adaptive_ctes",
    "_banded_sigs_adaptive_ctes",
    "_ROLL_H",
    "AHASH_HASHES_CTE",
    "NEAR_CELLS_CTE",
    "_QUALITY_F_CTE",
    "_QUALITY_SCORE_SQL",
    "_SQDIST",
    "_kmeans_ctes",
    "_kmeans_sql",
    "_kmeans_parallel_sql",
    "_semantic_prune_sql",
    "_ivf_trained_sql",
    "_PREFIX_TWIN_DOCS",
    "_DECON_SHINGLE_CTE",
    "_PII_LACED",
    "_pii_oracle_sql",
    "_DP_EPS",
    "_DP_TAU",
    "_DP_CAP_EVENTS",
    "_DP_CLAMP",
    "_DP_SENS_CENTS",
    "_dp_release_sql",
    "_dp_bounded_sum_sql",
    "_pagerank_sql",
    "_pca_power_sql",
    "_kcore_sql",
    "_bpe_sql",
    "_bpe_encode_sql",
    "_pq_sql",
    "_pq_trained_sql",
    "_CLUSTER_CACHE",
    "_cluster_map",
    "mix_plan_from_tokens",
    "_ivfpq_sql",
    "_drift_sql",
    "_drift_quantizers",
    "_kcenter_sql",
    "_NEG_KEY_SQL",
    "_mmr_sql",
    "_bfs_sql",
    "_keep_best_sql",
    "_cluster_split_sql",
    "_cluster_cap_sql",
    "_data_card_sql",
    "_BM25_TERMS",
    "_bm25_sql",
    "_rrf_sql",
    "_refine_sql",
    "_nb_sql",
    "_retrieval_metrics_sql",
    "_ndcg_gain_fp",
    "_pref_pairs_sql",
    "_prefix_filter_sql",
    "_ARM_SQL",
    "_bootstrap_sql",
    "_cms_sql",
    "_geo_coord_sql",
    "_geo_knn_sql",
    "_geo_points",
    "GEO_ZONES",
    "_geo_pip_sql",
    "_dd_oracles",
    "_ann_oracles",
    "LOGREG_FEATURES",
    "LOGREG_LABEL",
    "LOGREG_WHERE",
    "LOGREG_STATS",
    "LOGREG_ITERS",
    "LOGREG_LR",
    "_logreg_sql",
    "STUMP_FEATURES",
    "STUMP_LABEL",
    "_stump_sql",
    "_link_pred_sql",
]
