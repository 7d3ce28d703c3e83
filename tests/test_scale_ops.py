"""Tests for the beyond-reference scale surface: ANN (IVF/LSH vs the
brute-force baseline), session windows, stateful streaming, OLAP
windows/rollup, and the UD1 rule extractor (SURVEY.md §5, §7.2 M7)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from avk_job_skill_analytics_spark.operators import analytics as A
from avk_job_skill_analytics_spark.operators import similarity
from avk_job_skill_analytics_spark.operators.skills import RuleSkillExtractor
from avk_job_skill_analytics_spark.streaming.incremental import (
    session_window_counts,
)

SF_DIR = "/root/testdata/sf0.001"


def _embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


# ------------------------------------------------------------------- ANN
def test_ivf_topk_recall_vs_bruteforce(spark):
    e = _embeddings(spark)
    q = e.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(e, q, "vec_id", "embedding", k=5)
    ivf = similarity.ivf_topk(
        e, q, "vec_id", "embedding", k=5, n_centroids=8, n_probe=4
    )
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    ivf_set = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    # approximate by design, but probing half the cells must recover
    # a solid majority of true neighbors on clustered testdata
    recall = len(exact_set & ivf_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall {recall:.2f} too low"
    # every IVF hit is ranked 1..k per query with no duplicates
    per_q = {}
    for r in ivf.collect():
        per_q.setdefault(r["query_id"], []).append(r["rk"])
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivf_full_probe_equals_bruteforce(spark):
    e = _embeddings(spark)
    q = e.filter(F.col("vec_id") < 3)
    exact = similarity.cosine_topk(e, q, "vec_id", "embedding", k=3)
    full = similarity.ivf_topk(
        e, q, "vec_id", "embedding", k=3, n_centroids=4, n_probe=4
    )
    # probing every cell = exhaustive search: results must be identical
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, full.collect())
    )


# -------------------------------------------------------- session windows
def test_session_window_gap_semantics(spark):
    base = datetime.datetime(2025, 1, 1, 0, 0, 0)

    def ts(minutes):
        return base + datetime.timedelta(minutes=minutes)

    rows = [
        # user 1: events at 0, 10, 25 min (gaps < 30) -> one session;
        # then 90 min -> a second session
        (1, ts(0), 1.0), (1, ts(10), 1.0), (1, ts(25), 1.0), (1, ts(90), 1.0),
        # user 2: single event
        (2, ts(5), 2.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    out = session_window_counts(df, gap="30 minutes").collect()
    sessions = {
        (r["user_id"], r["session_start"]): r["n_events"] for r in out
    }
    assert sessions == {(1, ts(0)): 3, (1, ts(90)): 1, (2, ts(5)): 1}


# ------------------------------------------------------------ OLAP windows
def test_rollup_agg_levels(spark):
    df = spark.createDataFrame(
        [("r1", "n1", 10.0), ("r1", "n2", 20.0), ("r2", "n3", 5.0)],
        ["region", "nation", "rev"],
    )
    out = A.rollup_agg(df, ["region", "nation"], {"rev": F.sum("rev")})
    got = {(r["region"], r["nation"]): r["rev"] for r in out.collect()}
    assert got[("r1", "n1")] == 10.0
    assert got[("r1", "ALL")] == 30.0   # region subtotal
    assert got[("ALL", "ALL")] == 35.0  # grand total
    assert len(got) == 6


def test_running_total_order(spark):
    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 5.0), (1, 3, 1.0), (2, 1, 7.0)],
        ["k", "seq", "v"],
    )
    out = A.running_total(df, "k", [F.asc("seq")], "v", alias="rt")
    got = {(r["k"], r["seq"]): r["rt"] for r in out.collect()}
    assert got == {(1, 1): 10.0, (1, 2): 15.0, (1, 3): 16.0, (2, 1): 7.0}


def test_lag_delta_first_row_null(spark):
    df = spark.createDataFrame([(1, 10), (2, 13), (3, 11)], ["step", "n"])
    out = {r["step"]: r["delta"] for r in A.lag_delta(df, "step", "n").collect()}
    assert out[1] is None and out[2] == 3 and out[3] == -2


def test_lsh_multiprobe_improves_recall(spark):
    e = _embeddings(spark)
    q = e.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(e, q, "vec_id", "embedding", k=5)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

    def recall(m):
        got = similarity.lsh_topk(
            e, q, "vec_id", "embedding", dim=64, k=5, planes=4, multiprobe=m
        )
        hits = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
        return len(hits & truth) / len(truth)

    r0, r2 = recall(0), recall(2)
    assert r2 >= r0  # extra probes can only widen the candidate set


# ----------------------------------------------------------------- k-means
def test_kmeans_inertia_decreases(spark):
    from avk_job_skill_analytics_spark.operators import clustering

    e = _embeddings(spark)
    seed = clustering.kmeans_fit(e, "vec_id", "embedding", k=4, iters=0)
    one = clustering.kmeans_fit(e, "vec_id", "embedding", k=4, iters=1)
    three = clustering.kmeans_fit(e, "vec_id", "embedding", k=4, iters=3)
    i0 = clustering.inertia(e, seed, "vec_id", "embedding")
    i1 = clustering.inertia(e, one, "vec_id", "embedding")
    i3 = clustering.inertia(e, three, "vec_id", "embedding")
    assert i1 < i0 and i3 <= i1  # Lloyd never increases the objective


def test_kmeans_feeds_ivf(spark):
    from avk_job_skill_analytics_spark.operators import clustering, similarity
    from pyspark.sql import functions as FF

    e = _embeddings(spark)
    cents = clustering.kmeans_fit(e, "vec_id", "embedding", k=4, iters=2)
    q = e.filter(FF.col("vec_id") < 3)
    out = similarity.ivf_topk(
        e, q, "vec_id", "embedding", k=3, n_probe=2, centroids=cents
    ).collect()
    assert {r["query_id"] for r in out} == {0, 1, 2}
    assert all(1 <= r["rk"] <= 3 for r in out)


# ------------------------------------------------------------ text & skew
def test_tf_idf_values(spark):
    from avk_job_skill_analytics_spark.operators import textstats
    import math

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "a c")], ["doc_id", "text"]
    )
    out = {
        (r["doc_id"], r["term"]): (r["tf"], r["df"], r["tfidf"])
        for r in textstats.tf_idf(df, "doc_id", "text").collect()
    }
    assert out[(1, "a")] == (2, 2, 0.0)       # 'a' in every doc -> idf 0
    assert out[(1, "b")] == (1, 1, round(math.log(2), 4))
    assert out[(2, "c")] == (1, 1, round(math.log(2), 4))


def test_salted_count_matches_plain(spark):
    from avk_job_skill_analytics_spark.operators import analytics as A

    df = spark.range(1000).withColumn(
        "k", (F.col("id") % 3).cast("string")
    )
    plain = {r["k"]: r["cnt"] for r in A.count_by_dim(df, "k").collect()}
    salted = {
        r["k"]: r["cnt"]
        for r in A.salted_count_by_dim(df, "k", buckets=8).collect()
    }
    assert plain == salted


def test_extract_features_shape(spark):
    from avk_job_skill_analytics_spark.operators import multimodal

    df = spark.createDataFrame([(1, "hello world")], ["doc_id", "text"])
    out = multimodal.extract_features(multimodal.attach_binary(df)).collect()
    assert len(out) == 1 and len(out[0]["embedding"]) == 4
    assert all(0.0 <= v < 1.0 for v in out[0]["embedding"])


# ---------------------------------------------------------------- UD1 rules
def test_rule_extractor_guard_and_sorting(spark):
    df = spark.createDataFrame(
        [
            (1, "We use Python, SQL and AWS for data work here, plus Spark."),
            (2, "short"),  # below the 30-char P6 guard
            (3, "Strong communication and leadership required on this team."),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["technical_skills"], r["soft_skills"])
        for r in RuleSkillExtractor().extract(df, "text").collect()
    }
    assert out[1][0] == "aws, python, spark, sql"  # sorted, ', '-joined
    assert out[2] == ("", "")                      # guard skips short text
    assert out[3][1] == "communication, leadership"


def test_l2_normalize_unit_length_and_zero_guard(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0])],
        "id long, v array<double>",
    )
    out = similarity.l2_normalize(df, "v").orderBy("id").collect()
    assert out[0]["norm"] == 5.0
    assert out[0]["unit"] == [0.6, 0.8]
    assert out[1]["unit"] is None  # zero vector -> NULL, not NaNs
    assert out[2]["unit"] == [1.0, 0.0]


def _union_find_components(pairs):
    """Plain-Python reference CC: (node, min id of its component)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        # the smaller root wins, so every root is its component's min
        parent[max(ra, rb)] = min(ra, rb)
    return {(v, find(v)) for v in parent}


_CC_CASES = {
    # long chain: adversarial for O(diameter) label propagation, a few
    # rounds for the two-star alternation
    "chain121": [(i, i + 1) for i in range(120)],
    # a self-pair keeps its vertex as a singleton cluster
    "self_pair": [(10, 11), (11, 12), (50, 60), (7, 7)],
    # {1,2,3,7} via chain 1-2, 2-3, 3-7; {10,11}
    "two_components": [(1, 2), (2, 3), (3, 7), (10, 11)],
    # 20 rounds of min-label propagation leave this chain in 41 clusters
    "chain61": [(i, i + 1) for i in range(60)],
}


@pytest.mark.parametrize("case", sorted(_CC_CASES))
def test_twostar_matches_union_find(spark, case):
    from avk_job_skill_analytics_spark.operators import graph

    pairs = _CC_CASES[case]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {
        (r.doc_id, r.cluster_id)
        for r in graph.connected_components_twostar(df).collect()
    }
    assert got == _union_find_components(pairs)


def test_twostar_raises_at_round_cap(spark):
    """A cap reached before the fixpoint raises instead of returning
    partly merged components."""
    from avk_job_skill_analytics_spark.operators import graph

    chain = spark.createDataFrame(_CC_CASES["chain121"],
                                  "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="fixed point"):
        graph.connected_components_twostar(chain, max_iter=1)


def test_approx_percentiles_near_exact(spark):
    import __spark_entry__ as E

    qs = E.queries()
    exact = {
        r.l_returnflag: r.p50
        for r in qs["agg_percentiles"](spark, SF_DIR).collect()
    }
    approx = {
        r.l_returnflag: r.p50
        for r in qs["agg_approx_percentiles"](spark, SF_DIR).collect()
    }
    assert exact.keys() == approx.keys()
    for k in exact:
        assert abs(exact[k] - approx[k]) / exact[k] < 0.02, (k, exact[k], approx[k])


def test_approx_distinct_near_exact(spark):
    """HLL++ at the query's rsd=0.02: every per-status estimate lies
    within 3 × rsd of the exact distinct customer count."""
    import __spark_entry__ as E

    from avk_job_skill_analytics_spark.plans.schemas import load

    exact = {
        r.o_orderstatus: r.n
        for r in load(spark, SF_DIR, "orders").groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n")).collect()
    }
    approx = {
        r.o_orderstatus: r.approx_customers
        for r in E.queries()["agg_approx_distinct"](spark, SF_DIR).collect()
    }
    assert exact.keys() == approx.keys()
    for k in exact:
        assert abs(approx[k] - exact[k]) / exact[k] <= 3 * 0.02, (
            k, exact[k], approx[k])


def test_candidate_pairs_bucket_cap(spark):
    from avk_job_skill_analytics_spark.operators import dedup

    # band 0 sig 'boiler' shared by 5 docs (degenerate), band 1 sig 'x'
    # shared by 2 docs (genuine candidate)
    rows = [(i, 0, "boiler") for i in range(5)] + [(10, 1, "x"), (11, 1, "x")]
    bands = spark.createDataFrame(rows, ["doc_id", "band", "sig"])

    capped = dedup.candidate_pairs(bands, "doc_id", max_bucket_size=4)
    assert sorted(capped.collect()) == [(10, 11)]

    uncapped = dedup.candidate_pairs(bands, "doc_id", max_bucket_size=None)
    assert uncapped.count() == 10 + 1  # C(5,2) boiler pairs + the genuine one


def test_pack_sequences_invariants(spark):
    from avk_job_skill_analytics_spark.operators.textstats import (
        pack_sequences,
    )

    rows = [(i, " ".join(["tok"] * (17 + 13 * i % 41))) for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pack_sequences(df, "doc_id", "text", budget=50, n_shards=4)
    seqs = out.collect()
    # every document lands in exactly one sequence
    assert sum(r["n_docs"] for r in seqs) == 60
    by_shard = {}
    for r in sorted(seqs, key=lambda r: (r["shard"], r["seq_idx"])):
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, ss in by_shard.items():
        # seq indices dense-ish ascending, id ranges non-overlapping
        for a, b in zip(ss, ss[1:]):
            assert a["seq_idx"] < b["seq_idx"]
            assert a["last_doc_id"] < b["first_doc_id"]
        # doc-boundary split: a sequence overruns the budget only via
        # its last document, so tokens-before-last < budget
        for r in ss:
            assert r["seq_tokens"] >= 1
            if r["n_docs"] > 1:
                assert r["seq_tokens"] - 1 < 50 + 50  # bounded drift


def test_parse_media_header_reads_real_headers_and_quarantines():
    """Pure-stdlib header parsing: exact geometry from honest PNG /
    BMP / WAV containers; truncated or inconsistent headers (and a
    text doc that merely starts with 'BM' or 'RIFF') return None so
    the decode downgrades to the stub instead of raising."""
    from avk_job_skill_analytics_spark.operators.multimodal import (
        build_bmp,
        build_png,
        build_wav,
        parse_media_header,
    )

    png = build_png(641, 479)
    assert parse_media_header(png) == (33, 641, 479, "png")
    assert parse_media_header(build_bmp(320, 240)) == (54, 320, 240, "bmp")
    # top-down BMP stores a negative height; geometry comes out positive
    down = bytearray(build_bmp(17, 0))
    import struct as _st

    down[22:26] = _st.pack("<i", -9)
    assert parse_media_header(bytes(down)) == (54, 17, 9, "bmp")
    wav = build_wav(16000, 2)
    assert parse_media_header(wav) == (44, 16000, 2, "wav")
    # a JUNK chunk before fmt : the walk must skip it, not misparse
    padded = (
        wav[:12] + b"JUNK" + _st.pack("<I", 6) + b"abcdef" + wav[12:]
    )
    got = parse_media_header(padded)
    assert got is not None and got[1:] == (16000, 2, "wav")
    # quarantine cases -> None (stub fallback), never an exception
    assert parse_media_header(png[:20]) is None        # truncated IHDR
    assert parse_media_header(b"BM plain text that is long") is None
    assert parse_media_header(b"RIFFxxxxNOPE" + b"\0" * 40) is None
    assert parse_media_header(b"") is None


def test_image_patches_tile_exactly(spark):
    from avk_job_skill_analytics_spark.operators.multimodal import (
        attach_binary,
        decode_metadata,
        image_patches,
    )

    df = spark.createDataFrame(
        [(i, "x" * (37 + i * 211)) for i in range(24)], ["doc_id", "text"]
    )
    pay = attach_binary(df, "text", "payload")
    meta = {r["doc_id"]: r for r in decode_metadata(pay).collect()}
    patches = image_patches(pay, "doc_id", "payload", patch=64).collect()
    per_doc = {}
    for p in patches:
        per_doc.setdefault(p["doc_id"], []).append(p)
    assert set(per_doc) == set(meta)
    for did, ps in per_doc.items():
        w, h = meta[did]["width"], meta[did]["height"]
        # clipped patches partition the pixel grid exactly
        assert sum(p["patch_w"] * p["patch_h"] for p in ps) == w * h
        assert all(1 <= p["patch_w"] <= 64 and 1 <= p["patch_h"] <= 64
                   for p in ps)
        assert len({(p["patch_x"], p["patch_y"]) for p in ps}) == len(ps)
        assert {p["patch_id"] for p in ps} == set(range(len(ps)))


def test_pagerank_fixedpoint_empty_edges_is_typed_empty(spark):
    from avk_job_skill_analytics_spark.operators.graph import (
        pagerank_fixedpoint,
    )

    out = pagerank_fixedpoint(
        spark.createDataFrame([], "src long, dst long"))
    assert out.schema.simpleString() == "struct<node:bigint,rank:bigint>"
    assert out.collect() == []


def test_pagerank_fixedpoint_matches_reference(spark):
    from avk_job_skill_analytics_spark.operators.graph import (
        pagerank_fixedpoint,
    )

    # small directed graph with a hub (node 1) and a dangler (4)
    edges = [(1, 2), (2, 1), (3, 1), (4, 1), (1, 3)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["rank"]
        for r in pagerank_fixedpoint(df, iterations=4).collect()
    }

    scale, d = 10 ** 9, 85
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    rank = {v: scale // n for v in nodes}
    base = ((100 - d) * (scale // n)) // 100
    for _ in range(4):
        s = {v: 0 for v in nodes}
        for u, v in edges:
            s[v] += rank[u] // deg[u]
        rank = {v: base + (d * s[v]) // 100 for v in nodes}
    assert got == rank
    # the hub out-ranks everything; ranks are exact ints
    assert max(rank, key=rank.get) == 1


def test_global_shuffle_is_dense_deterministic_permutation(spark):
    from avk_job_skill_analytics_spark.operators.sampling import (
        global_shuffle,
    )

    df = spark.range(500).withColumnRenamed("id", "doc_id")
    out = global_shuffle(df, "doc_id", seed=7, num_buckets=16)
    pos = [r.shuffle_pos for r in out.collect()]
    assert sorted(pos) == list(range(500))  # dense 0..N-1, no dupes
    again = {
        r.doc_id: r.shuffle_pos
        for r in global_shuffle(df, "doc_id", seed=7, num_buckets=16)
        .collect()
    }
    first = {r.doc_id: r.shuffle_pos for r in out.collect()}
    assert first == again  # deterministic across runs
    reseeded = {
        r.doc_id: r.shuffle_pos
        for r in global_shuffle(df, "doc_id", seed=8, num_buckets=16)
        .collect()
    }
    assert reseeded != first  # re-seeding re-permutes
    # bucket decomposition must equal the naive global order
    import pyspark.sql.functions as F
    from avk_job_skill_analytics_spark.operators.hashing import md5_long

    h = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":7")))
    naive = {
        r.doc_id: i
        for i, r in enumerate(
            df.withColumn("_h", h).orderBy("_h", "doc_id").collect()
        )
    }
    assert naive == first


def test_luhn_fold_classifies_known_pans(spark):
    import pyspark.sql.functions as F

    from avk_job_skill_analytics_spark.operators.privacy import luhn_valid

    cases = [
        ("4111111111111111", True),   # classic Visa test PAN
        ("4111 1111 1111 1111", True),  # separators stripped
        ("5500-0000-0000-0004", True),  # Mastercard test PAN
        ("1234567890123456", False),  # checksum fails
        ("4111111111111112", False),  # one digit off
        ("411111", False),            # too short (< 13 digits)
    ]
    df = spark.createDataFrame(
        [(s,) for s, _ in cases], "pan string"
    ).withColumn("ok", luhn_valid(F.col("pan")))
    got = {r.pan: r.ok for r in df.collect()}
    assert got == {s: v for s, v in cases}


def test_credit_card_audit_counts_candidates_and_valid(spark):
    from avk_job_skill_analytics_spark.operators.privacy import (
        credit_card_audit,
    )

    df = spark.createDataFrame(
        [
            (1, "pay 4111 1111 1111 1111 or 1234 5678 9012 3456 now"),
            (2, "no cards here, just words"),
            (3, "id 5500-0000-0000-0004 twice 5500-0000-0000-0004"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_cc_candidates, r.n_cc_valid)
        for r in credit_card_audit(df, "doc_id", "text").collect()
    }
    assert got == {1: (2, 1), 2: (0, 0), 3: (2, 2)}


def test_containment_catches_prefix_invisible_to_jaccard(spark):
    from avk_job_skill_analytics_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    long_text = " ".join(f"w{i}" for i in range(40))
    prefix = " ".join(f"w{i}" for i in range(12))  # 30% of the words
    df = spark.createDataFrame(
        [(1, long_text), (2, prefix), (3, "totally different words here")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): (r.cont_a_in_b, r.cont_b_in_a)
        for r in containment_pairs(df, "doc_id", "text", k=3,
                                   threshold=0.9).collect()
    }
    # prefix fully contained in the long doc: 10 shingles / 10 = 1.0,
    # while the long doc shares only 10 of its 38 shingles
    assert got == {(1, 2): (round(10 / 38, 4), 1.0)}
    # and Jaccard at the same bar sees nothing
    assert (
        ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.9).count()
        == 0
    )


def test_containment_lsh_is_banded_subset_of_exact(spark):
    """The LSH-composed containment path returns a subset of the
    exact all-pairs containment (banding only prunes, never invents),
    with the scores of surviving pairs identical — and at prefix-twin
    Jaccard (~0.5) the 8x2 banding curve should keep most of them."""
    from avk_job_skill_analytics_spark.operators.dedup import (
        containment_lsh,
        containment_pairs,
    )
    from avk_job_skill_analytics_spark.plans.schemas import load

    d = load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    prefixes = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.expr(
            "array_join(slice(split(text, ' '), 1,"
            " size(split(text, ' ')) div 2), ' ')"
        ).alias("text"),
    )
    corpus = d.unionByName(prefixes)
    exact = {
        (r.doc_a, r.doc_b): (r.cont_a_in_b, r.cont_b_in_a)
        for r in containment_pairs(
            corpus, "doc_id", "text", k=3, threshold=0.8
        ).collect()
    }
    banded = {
        (r.doc_a, r.doc_b): (r.cont_a_in_b, r.cont_b_in_a)
        for r in containment_lsh(
            corpus, "doc_id", "text", k=3, num_hashes=16, bands=8,
            threshold=0.8,
        ).collect()
    }
    assert set(banded) <= set(exact)
    for pair, scores in banded.items():
        assert scores == exact[pair]
    assert exact, "fixture produced no asymmetric pairs"
    assert len(banded) / len(exact) >= 0.5  # banding-curve sanity


def test_mmr_balances_relevance_and_diversity(spark):
    """λ=1 reduces MMR to pure relevance top-k; λ<1 must skip a
    near-clone of an already-selected item in favor of a diverse one
    even when the clone is more relevant."""
    from avk_job_skill_analytics_spark.operators.similarity import (
        mmr_select,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),      # query (lowest id)
        (1, [0.9, 0.1, 0.0, 0.0]),      # most relevant
        (2, [0.9, 0.11, 0.0, 0.0]),     # near-clone of 1, 2nd most rel.
        (3, [0.5, 0.0, 0.8, 0.0]),      # diverse, less relevant
        (4, [0.0, 0.0, 0.0, 1.0]),      # orthogonal to everything
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pure = mmr_select(df, "vec_id", "embedding", k=3, lam=1.0)
    assert [r.vec_id for r in pure.orderBy("sel_order").collect()] == [
        1, 2, 3,
    ]
    mixed = mmr_select(df, "vec_id", "embedding", k=3, lam=0.5)
    picked = [r.vec_id for r in mixed.orderBy("sel_order").collect()]
    assert picked[0] == 1          # seed is still the most relevant
    assert 2 not in picked[:2]     # the clone loses its slot to diversity
    assert len(picked) == 3


def test_semantic_prune_drops_dominated_vectors(spark):
    from avk_job_skill_analytics_spark.operators.similarity import (
        semantic_prune,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.99, 0.14, 0.0]),   # ~cos 0.990 with id 1
            (3, [0.0, 1.0, 0.0]),
            (4, [0.0, 0.98, 0.2]),    # ~cos 0.980 with id 3
            (5, [0.0, 0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = semantic_prune(df, "vec_id", "embedding", k=3, iters=1,
                         threshold=0.95)
    keep = {r.vec_id: r.keep for r in out.collect()}
    assert out.count() == 5  # one verdict per input vector
    assert keep[1] and keep[3] and keep[5]
    assert not keep[2] and not keep[4]  # dominated by lower ids


def test_kmv_sketch_exact_when_small_and_mergeable(spark):
    from avk_job_skill_analytics_spark.operators.sketches import (
        kmv_estimate,
        kmv_merge,
        kmv_sketch,
    )

    df = spark.range(1000).selectExpr(
        "CASE WHEN id < 900 THEN 'big' ELSE 'small' END AS g",
        # 'big' has 500 distinct values, 'small' only 40 (below k)
        "CASE WHEN id < 900 THEN id % 500 ELSE id % 40 END AS v",
    )
    sk = kmv_sketch(df, ["g"], "v", k=64)
    est = {
        r.g: (r.est, r.n)
        for r in sk.select(
            "g",
            kmv_estimate(F.col("sketch"), 64).alias("est"),
            F.size("sketch").alias("n"),
        ).collect()
    }
    # small group is below k: the sketch IS the distinct set -> exact
    assert est["small"] == (40, 40)
    # big group estimates within the ~1/sqrt(k-2) error band (x3 slack)
    assert est["big"][1] == 64
    assert abs(est["big"][0] - 500) / 500 < 0.4

    # merge(sketch(A), sketch(B)) == sketch(A union B)
    a = df.filter("v % 2 = 0").withColumn("g", F.lit("all"))
    b = df.filter("v % 2 = 1").withColumn("g", F.lit("all"))
    both = a.unionByName(b)
    sa = kmv_sketch(a, ["g"], "v", k=64).collect()[0]["sketch"]
    sb = kmv_sketch(b, ["g"], "v", k=64).collect()[0]["sketch"]
    su = kmv_sketch(both, ["g"], "v", k=64).collect()[0]["sketch"]
    merged = spark.createDataFrame(
        [(sa, sb)], "a array<long>, b array<long>"
    ).select(kmv_merge(F.col("a"), F.col("b"), 64).alias("m")).collect()[0]["m"]
    assert merged == su


def test_heavy_hitters_exact_with_tiny_k(spark):
    """The two-scan Misra-Gries pattern must reproduce the naive exact
    groupBy-HAVING result even with a candidate budget (k) far below
    the vocabulary size and data spread over many partitions."""
    from avk_job_skill_analytics_spark.operators.sketches import (
        heavy_hitters,
        mg_candidates,
    )

    # 10_000 items: 'hot' appears 3000x, 'warm' 1500x, 5500 singletons
    items = spark.range(10_000).selectExpr(
        """CASE WHEN id < 3000 THEN 'hot'
                WHEN id < 4500 THEN 'warm'
                ELSE concat('rare_', id) END AS item"""
    ).repartition(8)

    k = 9  # threshold N/(k+1) = 1000 -> exactly {hot, warm} qualify
    got = {r.item: r.freq for r in heavy_hitters(items, "item", k).collect()}
    assert got == {"hot": 3000, "warm": 1500}

    # candidate pass is bounded: <= k rows per partition, and the
    # candidate union contains every true heavy hitter
    cand = mg_candidates(items, "item", k)
    import pyspark.sql.functions as SF

    per_part = (
        cand.withColumn("p", SF.spark_partition_id())
        .groupBy("p").count().agg(SF.max("count")).collect()[0][0]
    )
    assert per_part <= k
    assert {"hot", "warm"} <= {r.item for r in cand.collect()}


def test_bloom_prefilter_no_false_negatives_and_selective(spark):
    from avk_job_skill_analytics_spark.operators.bloom import (
        bloom_bitmap,
        bloom_might_contain,
    )

    members = spark.range(500).selectExpr("concat('in_', id) AS v")
    probes = spark.range(4000).selectExpr(
        "CASE WHEN id < 500 THEN concat('in_', id) "
        "ELSE concat('out_', id) END AS v"
    )
    bm = bloom_bitmap(members, "v", m_bits=1 << 14, j=3)
    hits = probes.crossJoin(F.broadcast(bm)).filter(
        bloom_might_contain(F.col("v"), m_bits=1 << 14, j=3)
    )
    got = {r.v for r in hits.collect()}
    # every member passes (Bloom filters cannot false-negative)
    assert all(f"in_{i}" in got for i in range(500))
    # and the 3500 non-members are overwhelmingly rejected
    fp = len(got) - 500
    assert fp / 3500 < 0.05, f"false-positive rate {fp / 3500:.3f}"


def test_bloom_decontaminate_matches_exact(spark):
    from avk_job_skill_analytics_spark.operators.bloom import (
        bloom_decontaminate,
    )
    from avk_job_skill_analytics_spark.operators.dedup import decontaminate

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    train = docs.filter(F.col("source") != "src0")
    bench = docs.filter(F.col("source") == "src0")
    exact = decontaminate(train, bench, "doc_id", "text", k=5)
    bloomed = bloom_decontaminate(train, bench, "doc_id", "text", k=5)
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, bloomed.collect())
    )


def test_triangle_counts_known_graph(spark):
    """K4 plus a pendant vertex and a disjoint edge: every K4 vertex
    is in C(3,2)=3 triangles; pendant and disjoint nodes in none."""
    from avk_job_skill_analytics_spark.operators.graph import triangle_counts

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4
             (4, 5),                                           # pendant
             (8, 9)]                                           # disjoint
    # feed some edges reversed/duplicated: canonicalization must absorb
    edges += [(2, 1), (3, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_gram_matrix_and_pca_match_numpy(spark):
    """Distributed int-exact Gram must equal the naive numpy product
    on the quantized matrix regardless of partitioning, and the PCA
    component must match numpy's eigensolve of the float covariance."""
    import numpy as np

    from avk_job_skill_analytics_spark.operators.linalg import (
        gram_matrix,
        pca_top_component,
    )

    rng = np.random.default_rng(7)
    d, n = 6, 400
    m = rng.normal(size=(n, d)).astype(np.float32)
    rows = [(int(i), m[i].tolist()) for i in range(n)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(7)

    q = np.floor(m.astype(np.float64) * 1e6).astype(np.int64)
    want = q.T @ q
    got = {(r.i, r.j): r.gram for r in gram_matrix(df, "embedding", d).collect()}
    assert len(got) == d * (d + 1) // 2
    for (i, j), v in got.items():
        assert v == want[i - 1, j - 1]

    cov = np.cov(m.astype(np.float64).T, bias=True)
    w, vecs = np.linalg.eigh(cov)
    top = vecs[:, -1]
    top = top * np.sign(top[np.argmax(np.abs(top))] or 1.0)
    got_pc = pca_top_component(df, "embedding", d).collect()
    loadings = np.array(
        [r.loading for r in sorted(got_pc, key=lambda r: r.dim)]
    )
    # quantization perturbs the covariance at ~1e-6: loose tolerance
    assert np.allclose(loadings, top, atol=1e-3)
    assert abs(got_pc[0].explained_frac - w[-1] / w.sum()) < 1e-3


def test_dsir_importance_prefers_target_like_docs(spark):
    """Docs drawn from the target's vocabulary must outscore docs from
    a disjoint vocabulary, and weights must be partitioning-invariant."""
    from avk_job_skill_analytics_spark.operators.textstats import (
        dsir_importance,
    )

    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta " * 5) for i in range(10)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(1, "alpha beta gamma delta alpha beta"),   # target-like
         (2, "zeta eta theta iota kappa lambada"),   # off-domain
         (3, "alpha beta zeta eta gamma delta")],    # mixed
        "doc_id long, text string",
    )
    out = {r.doc_id: r.dsir_logweight
           for r in dsir_importance(raw, target, "doc_id", "text").collect()}
    assert out[1] > out[3] > out[2]
    assert out[1] > 0 and out[2] < 0
    out8 = {r.doc_id: r.dsir_logweight
            for r in dsir_importance(raw.repartition(8), target,
                                     "doc_id", "text").collect()}
    assert out == out8


def test_substring_spans_exact_positions(spark):
    """Known construction: doc 2 repeats doc 1's tokens 5..16 starting
    at its position 3 -> exactly one maximal span with those
    coordinates; sub-threshold overlaps must not appear."""
    from avk_job_skill_analytics_spark.operators.dedup import (
        substring_spans,
    )

    base = [f"w{i}" for i in range(30)]
    doc1 = " ".join(base)
    # tokens 5..16 of doc1 (1-based positions 6..17), 12 tokens shared
    doc2 = "x1 x2 " + " ".join(base[5:17]) + " y1 y2 y3"
    doc3 = "z " + " ".join(base[1:8])  # only 7 shared tokens: below L=8
    df = spark.createDataFrame(
        [(1, doc1), (2, doc2), (3, doc3)], "doc_id long, text string"
    )
    got = substring_spans(df, "doc_id", "text", min_tokens=8).collect()
    spans = {(r.doc_a, r.doc_b): (r.start_a, r.start_b, r.span_tokens)
             for r in got}
    assert spans == {(1, 2): (6, 3, 12)}


def test_histogram_quantiles_close_to_exact_and_mergeable_shape(spark):
    """Estimates must land within one bin width of the exact
    quantiles, and be invariant to partitioning (mergeability)."""
    from avk_job_skill_analytics_spark.operators.sketches import (
        histogram_quantiles,
    )

    df = spark.range(10_000).selectExpr("CAST(id AS DOUBLE) AS v")
    got = {r.p: r.estimate
           for r in histogram_quantiles(df, "v", n_bins=100).collect()}
    width = 9999 / 100
    for p in (0.5, 0.9, 0.99):
        assert abs(got[p] - p * 9999) <= width, (p, got[p])
    got16 = {r.p: r.estimate
             for r in histogram_quantiles(df.repartition(16), "v",
                                          n_bins=100).collect()}
    assert got == got16


def test_standardize_dims_zero_mean_unit_var(spark):
    import math

    from avk_job_skill_analytics_spark.operators.similarity import (
        standardize_dims,
    )

    df = spark.createDataFrame(
        [(i, [float(i), 10.0]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    out = standardize_dims(df, "vec_id", "embedding").collect()
    d1 = [r.z for r in out if r.dim == 1]
    d2 = [r.z for r in out if r.dim == 2]
    assert abs(sum(d1)) < 1e-6                    # mean ~ 0
    assert abs(sum(z * z for z in d1) / 100 - 1) < 1e-3  # var ~ 1
    assert all(z is None for z in d2)             # constant dim -> NULL
    assert not any(z is not None and math.copysign(1, z) < 0 and z == 0
                   for z in d1)                   # no -0.0 leaks


def test_k_core_peels_to_known_core(spark):
    """K6 with a pendant chain: the 5-core is exactly the K6, each
    member with within-core degree 5; peeling must remove the chain
    even though its first node initially touches the clique."""
    from avk_job_skill_analytics_spark.operators.graph import k_core

    k6 = [(a, b) for a in range(1, 7) for b in range(a + 1, 7)]
    chain = [(6, 7), (7, 8), (8, 9)]
    df = spark.createDataFrame(k6 + chain, "src long, dst long")
    got = {r.node: r.core_deg for r in k_core(df, k=5).collect()}
    assert got == {n: 5 for n in range(1, 7)}
    # and a threshold above the clique degree empties the core
    assert k_core(df, k=6).count() == 0


def test_k_core_raises_when_peeling_outlasts_the_cap(spark):
    """A 50-node path has an empty 2-core, but peeling removes only
    the two end nodes per round: 25 rounds. The default cap (20) must
    raise rather than return the unpeeled middle; a cap past the
    fixpoint returns the empty core."""
    from avk_job_skill_analytics_spark.operators.graph import k_core

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(49)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="fixed point"):
        k_core(path, k=2)
    assert k_core(path, k=2, max_rounds=30).count() == 0


def test_bpe_merges_learns_known_rules(spark):
    """Corpus engineered so the merge order is knowable: 'aa' dominates
    round 1; the merged 'aa' symbol then pairs with 'b' and must win
    round 2 — proving later rounds see earlier merges."""
    from avk_job_skill_analytics_spark.operators.textstats import bpe_merges

    docs = spark.createDataFrame(
        [(1, "aab aab aab aab"), (2, "aab aab cd")],
        "doc_id long, text string",
    )
    got = [(r.step, r.left_sym, r.right_sym, r.pair_count)
           for r in bpe_merges(docs, "text", n_merges=3).collect()]
    # 'aab' x6, 'cd' x1: pairs r1: (a,a)=6, (a,b)=6, (c,d)=1 ->
    # tie broken lexicographically: (a,a) wins; r2: (aa,b)=6 beats (c,d)
    assert got[0] == (1, "a", "a", 6)
    assert got[1] == (2, "aa", "b", 6)
    assert got[2] == (3, "c", "d", 1)


def test_shard_assign_matches_naive_prefix(spark):
    """The bucketed two-phase byte prefix must reproduce the naive
    cumulative assignment exactly, including across bucket borders."""
    from avk_job_skill_analytics_spark.operators.multimodal import (
        shard_assign,
    )

    rows = [(i, 700 + (i * 37) % 400) for i in range(5000)]
    df = spark.createDataFrame(rows, "doc_id long, n_bytes long")
    got = {r.shard_id: (r.n_docs, r.shard_bytes, r.first_doc, r.last_doc)
           for r in shard_assign(df, "doc_id", "n_bytes",
                                 shard_bytes=50_000,
                                 bucket_width=321).collect()}
    # naive python replay
    want = {}
    off = 0
    for i, nb in rows:
        sid = off // 50_000
        n, b, f, l = want.get(sid, (0, 0, i, i))
        want[sid] = (n + 1, b + nb, min(f, i), max(l, i))
        off += nb
    assert got == want


def test_bpe_encode_compresses_vs_chars(spark):
    """Encoding with merges learned from the same corpus must yield
    fewer tokens than characters, and a corpus where one word
    dominates should collapse that word aggressively."""
    from avk_job_skill_analytics_spark.operators.textstats import (
        bpe_encode_report,
    )

    docs = spark.createDataFrame(
        [(i, "g1", "data data data data") for i in range(10)]
        + [(100 + i, "g2", "xq zv") for i in range(2)],
        "doc_id long, source string, text string",
    )
    out = {r.source: r for r in bpe_encode_report(
        docs, "source", "text", n_merges=3).collect()}
    # 'data' (40 occurrences) gets all 3 merges -> 1 token per word
    assert out["g1"].n_bpe_tokens == out["g1"].n_words
    assert out["g1"].chars_per_token == 4.0
    # rare 2-char words get no merges -> 2 tokens each
    assert out["g2"].n_bpe_tokens == 2 * out["g2"].n_words


def test_pq_topk_exact_when_codebook_saturates(spark):
    """With k* = corpus size every sub-vector quantizes to itself, so
    ADC distance equals (quantized) exact L2 and the top-k must match
    numpy's exact neighbors; modest k* must still get good recall."""
    import numpy as np

    from avk_job_skill_analytics_spark.operators.similarity import pq_topk

    rng = np.random.default_rng(3)
    n, d = 24, 16
    mat = rng.normal(size=(n, d)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    q = df.filter(F.col("vec_id") < 3)
    got = pq_topk(df, q, "vec_id", "embedding",
                  k=3, m=4, sub_d=4, k_star=n)
    got_sets = {}
    for r in got.collect():
        got_sets.setdefault(r.query_id, []).append((r.rk, r.neighbor_id))
    m64 = mat.astype(np.float64)
    for qid in range(3):
        d2 = ((m64 - m64[qid]) ** 2).sum(axis=1)
        order = [i for i in np.argsort(d2, kind="stable") if i != qid][:3]
        want = [int(i) for i in order]
        gotn = [n_ for _, n_ in sorted(got_sets[qid])]
        assert gotn == want, (qid, gotn, want)

    approx = pq_topk(df, q, "vec_id", "embedding",
                     k=5, m=4, sub_d=4, k_star=8)
    per_q = {}
    for r in approx.collect():
        per_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    for qid in range(3):
        d2 = ((m64 - m64[qid]) ** 2).sum(axis=1)
        exact5 = {int(j) for j in
                  [i for i in np.argsort(d2, kind="stable") if i != qid][:5]}
        # coarse codebook: require at least 2/5 overlap (sanity, not
        # a recall guarantee at this tiny k*)
        assert len(per_q[qid] & exact5) >= 2, (qid, per_q[qid], exact5)


def test_scd2_merge_invariants(spark):
    import __spark_entry__ as E

    out = E.queries()["win_scd2_merge"](spark, SF_DIR).collect()
    current = [r for r in out if r.is_current]
    closed = [r for r in out if not r.is_current]
    # exactly one open row per key, none with valid_to
    keys = [r.custkey for r in current]
    assert len(keys) == len(set(keys))
    assert all(r.valid_to is None for r in current)
    # every closed row chains into its key's open row at the change date
    open_by_key = {r.custkey: r for r in current}
    for r in closed:
        nxt = open_by_key[r.custkey]
        assert nxt.valid_from == r.valid_to
        assert nxt.attr != r.attr


def test_ivfpq_exact_when_fully_probed_and_saturated(spark):
    """Probing every cell with a saturated residual codebook reduces
    IVF-PQ to exact (quantized) L2 search — results must match numpy;
    the standard 2-of-8 probe config must return well-formed ranks."""
    import numpy as np

    from avk_job_skill_analytics_spark.operators.similarity import (
        ivfpq_topk,
    )

    rng = np.random.default_rng(11)
    n, d = 24, 16
    mat = rng.normal(size=(n, d)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    q = df.filter(F.col("vec_id") < 3)
    got = ivfpq_topk(df, q, "vec_id", "embedding", k=3,
                     n_cells=4, n_probe=4, m=4, sub_d=4, k_star=n)
    per_q = {}
    for r in got.collect():
        per_q.setdefault(r.query_id, []).append((r.rk, r.neighbor_id))
    m64 = mat.astype(np.float64)
    for qid in range(3):
        d2 = ((m64 - m64[qid]) ** 2).sum(axis=1)
        want = [int(i) for i in np.argsort(d2, kind="stable")
                if i != qid][:3]
        gotn = [nb for _, nb in sorted(per_q[qid])]
        assert gotn == want, (qid, gotn, want)

    approx = ivfpq_topk(df, q, "vec_id", "embedding", k=5,
                        n_cells=4, n_probe=2, m=4, sub_d=4, k_star=8)
    for r in approx.collect():
        assert 1 <= r.rk <= 5


def test_kcenter_coreset_greedy_order(spark):
    """1-D construction with a knowable farthest-point order: points
    at 0, 1, 10, 20 (ids 0..3). Seed=0; farthest is 20, then 10
    (min-dist 10 beats 1's min-dist 1), then 1."""
    from avk_job_skill_analytics_spark.operators.clustering import (
        kcenter_coreset,
    )

    pts = {0: 0.0, 1: 1.0, 2: 10.0, 3: 20.0}
    df = spark.createDataFrame(
        [(i, [v, 0.0]) for i, v in pts.items()],
        "vec_id long, embedding array<float>",
    )
    got = [(r.sel_order, r.vec_id, r.maxmin_dist)
           for r in sorted(kcenter_coreset(df, "vec_id", "embedding",
                                           k=4).collect())]
    assert got == [
        (1, 0, 0),
        (2, 3, 400_000_000),   # 20^2 * 1e6
        (3, 2, 100_000_000),   # min(10^2, 10^2) = 100
        (4, 1, 1_000_000),     # 1^2
    ]


def test_url_canonicalize_rules(spark):
    from avk_job_skill_analytics_spark.operators.textstats import (
        canonicalize_url,
    )

    cases = [
        ("HTTPS://Example.COM:443/a?utm_source=x", "https://example.com/a"),
        ("http://h.io:80/p/?utm_campaign=c&q=1#frag", "http://h.io/p/?q=1"),
        ("https://a.b/path/", "https://a.b/path"),
        ("https://a.b/", "https://a.b/"),          # root slash kept
        ("https://a.b/x?fbclid=123", "https://a.b/x"),
        ("https://a.b/x?keep=1&utm_medium=m", "https://a.b/x?keep=1"),
    ]
    df = spark.createDataFrame(cases, "url string, want string")
    out = df.select("want", canonicalize_url(F.col("url")).alias("got"))
    for r in out.collect():
        assert r.got == r.want, (r.got, r.want)


def test_strip_html_extraction(spark):
    from avk_job_skill_analytics_spark.operators.textstats import strip_html

    html = ('<html><head><script>if (a < b) { x(); }</script>'
            '<style>h1 {color: red}</style></head><body>'
            '<h1>Title</h1><p>Hello &amp; welcome</p>'
            '<div>line two</div></body></html>')
    df = spark.createDataFrame([(html,)], "h string")
    got = df.select(strip_html(F.col("h")).alias("t")).collect()[0].t
    assert got == "Title\nHello & welcome\nline two"


# -------------------------------------------- codebook degeneracy guards
def test_zero_norm_centroid_never_wins_assignment(spark):
    # A zero-norm codebook entry yields a NULL cosine (divide by
    # zero); struct array_min sorts NULL first, so without the
    # coalesce(+Infinity) pin the degenerate centroid would win every
    # assignment — the opposite of DESC NULLS LAST (ADVICE r5 #1).
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.7])],
        "vec_id long, embedding array<double>",
    )
    cb_src = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "_cid long, _cv array<double>",
    )
    cb = similarity.collect_cosine_codebook(cb_src)
    got = {
        r["vec_id"]: r["cid"]
        for r in similarity.ivf_cell_assign(
            df, "vec_id", "embedding", cb
        ).collect()
    }
    assert got == {1: 1, 2: 2, 3: 1}  # zero-norm cid 0 never wins


def test_empty_codebook_returns_typed_empty(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    empty = df.limit(0)
    asg = similarity.ivf_cell_assign(df, "vec_id", "embedding", [])
    assert asg.count() == 0
    assert [f.name for f in asg.schema.fields] == ["vec_id", "cid"]
    topk = similarity.ivf_topk(
        empty, empty, "vec_id", "embedding", k=3, n_centroids=4
    )
    assert topk.count() == 0
    assert [f.name for f in topk.schema.fields] == [
        "query_id", "neighbor_id", "cosine", "rk"
    ]
    pq = similarity.pq_topk(
        empty, empty, "vec_id", "embedding", k=3, m=1, sub_d=2
    )
    assert pq.count() == 0
    ivfpq = similarity.ivfpq_topk(
        empty, empty, "vec_id", "embedding", k=3, m=1, sub_d=2
    )
    assert ivfpq.count() == 0


def test_sql_double_rejects_nonfinite():
    import math

    import pytest as _pytest

    from avk_job_skill_analytics_spark.operators.clustering import sql_double

    with _pytest.raises(ValueError):
        sql_double(float("nan"))
    with _pytest.raises(ValueError):
        sql_double(math.inf)
    assert "0.5" in sql_double(0.5)


def test_parse_media_header_jpeg_webp():
    import struct

    from avk_job_skill_analytics_spark.operators.multimodal import (
        build_jpeg,
        build_webp,
        parse_media_header,
    )

    # JPEG: the walk must hop the APP0 segment by declared length and
    # read (height, width) out of SOF0
    j = build_jpeg(641, 399)
    assert parse_media_header(j) == (41, 641, 399, "jpeg")
    # SOI with no SOF before EOI -> quarantine, not a crash
    assert parse_media_header(b"\xff\xd8\xff\xd9") is None
    assert parse_media_header(j[:10]) is None  # truncated mid-segment
    # WebP lossy (VP8 sync code) and lossless (VP8L bit-packed dims)
    assert parse_media_header(build_webp(300, 200)) == (30, 300, 200, "webp")
    assert parse_media_header(
        build_webp(123, 77, lossless=True)
    ) == (26, 123, 77, "webp")
    # corrupt sync code -> None
    bad = bytearray(build_webp(300, 200))
    bad[23] = 0x00  # clobber the 9D 01 2A sync
    assert parse_media_header(bytes(bad)) is None
    # VP8X extended canvas: 24-bit minus-one fields
    data = (b"\x00\x00\x00\x00"
            + (499).to_bytes(3, "little") + (299).to_bytes(3, "little"))
    x = (b"RIFF" + struct.pack("<I", 12 + len(data)) + b"WEBP"
         + b"VP8X" + struct.pack("<I", len(data)) + data)
    assert parse_media_header(x) == (30, 500, 300, "webp")
    # unknown RIFF-WEBP chunk -> None (walks off the end cleanly)
    assert parse_media_header(b"RIFF\x08\x00\x00\x00WEBPnope") is None


def test_mmr_rounds_are_joinless_running_max(spark):
    # the diversity update must fold ONLY the newest selected vector
    # into a running max — a pure projection over the checkpointed
    # candidates: no join, no broadcast of the selected set (the old
    # plan re-scored all |S| vectors per round, O(n*k^2) total)
    from avk_job_skill_analytics_spark.plans import inspect as I

    e = _embeddings(spark).limit(40)
    cls = type(e)  # the concrete DataFrame class instances dispatch to
    calls = []
    orig = cls.localCheckpoint

    def spy(df, *a, **kw):
        calls.append(I.plan_string(df, mode="simple"))
        return orig(df, *a, **kw)

    cls.localCheckpoint = spy
    try:
        similarity.mmr_select(e, "vec_id", "embedding", k=4, lam=0.5)
    finally:
        cls.localCheckpoint = orig
    # one checkpoint for the base + one per fold; every fold plan is
    # a scan->filter->project chain with zero join nodes
    folds = [p for p in calls if "_ms" in p or "greatest" in p]
    assert folds, "no running-max fold plans captured"
    for p in folds:
        assert "Join" not in p, p


def test_pca_power_iteration_matches_eigh_direction(spark):
    # the fixed-point power iteration (oracle-checkable) must land on
    # the same direction as the LAPACK eigensolve it replaced
    import numpy as np

    from avk_job_skill_analytics_spark.operators.linalg import (
        pca_power_component,
        pca_top_component,
    )

    e = _embeddings(spark)
    d = 64
    power = pca_power_component(e, "embedding", d, iters=96)
    fp = np.zeros(d)
    for r in power.collect():
        fp[r["dim"] - 1] = r["loading_fp"]
    fp = fp / np.linalg.norm(fp)
    eig = np.zeros(d)
    for r in pca_top_component(e, "embedding", d).collect():
        eig[r["dim"] - 1] = r["loading"]
    eig = eig / np.linalg.norm(eig)
    cos = abs(float(fp @ eig))
    assert cos >= 0.999, cos


def test_pca_power_degenerate_cloud_engine_and_oracle_agree(spark):
    """Constant embedding cloud: the covariance numerator is all
    zeros, so every power step's w is zero — the engine early-breaks
    keeping the prior v, and the SQL oracle's mx=0 CASE must carry
    the same v forward instead of dividing by zero (ADVICE r6)."""
    import duckdb
    import pandas as pd

    from avk_job_skill_analytics_spark.operators.linalg import (
        pca_power_component,
    )
    from avk_job_skill_analytics_spark.registry.scale_queries import (
        _pca_power_sql,
    )

    vec = [0.25, -1.5, 3.0, 0.0]
    df = spark.createDataFrame(
        [(i, vec) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["dim"]: r["loading_fp"]
        for r in pca_power_component(df, "embedding", d=4, iters=3).collect()
    }
    # the all-ones fixed-point seed survives every zero step
    assert got == {1: 1000000, 2: 1000000, 3: 1000000, 4: 1000000}
    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame({"vec_id": range(6), "embedding": [vec] * 6}),
    )
    oracle = {
        int(d): int(v)
        for d, v in con.execute(_pca_power_sql(4, 3)).fetchall()
    }
    assert oracle == got


def test_kmeans_parallel_init_phi_overflow_raises(spark):
    """Selection products live in DECIMAL(38,0); a corpus whose
    round cost phi would overflow them must fail LOUDLY instead of
    letting Spark's non-ANSI decimal multiply return NULL and
    silently drop candidates the HUGEINT oracle keeps (ADVICE r6)."""
    import pytest as _pytest

    from avk_job_skill_analytics_spark.operators import clustering

    # each far row's micro-distance is 9e18 (inside int64); their sum
    # phi = 1.8e19 crosses 10^38/(8*2^60) ~ 1.08e19
    df = spark.createDataFrame(
        [(0, [0.0]), (1, [3000000.0]), (2, [-3000000.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="overflow DECIMAL"):
        clustering.kmeans_parallel_init(
            df, "vec_id", "embedding", k=2, rounds=1, l=8, seed=7
        )


def test_quantization_drift_flags_shifted_arrivals(spark):
    """The retrain trigger must actually trigger: arrivals drawn from
    a SHIFTED distribution quantize worse under base-trained
    codebooks than the base cohort does."""
    rows = []
    for i in range(0, 40, 2):  # base cohort: even ids, small cloud
        rows.append((i, [0.01 * i, -0.02 * i, 0.03 * (i % 5), 0.5]))
    for i in range(1, 40, 2):  # arrivals: odd ids, shifted far away
        rows.append((i, [5.0 + 0.01 * i, 5.0, -5.0, 5.0 + 0.02 * i]))
    from pyspark.sql import functions as SF

    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = e.filter(SF.col("vec_id") % 2 == 0)
    coarse = [
        (int(r["vec_id"]), [round(float(x), 6) for x in r["embedding"]])
        for r in base.orderBy("vec_id").limit(4).collect()
    ]
    asg = similarity._ivfpq_assign(e, "vec_id", "embedding", coarse, 6)
    cbs = similarity._ivfpq_seed_cbs(
        asg.filter(SF.col("_id") % 2 == 0), 2, 2, 4, 6
    )
    qe = similarity.quantization_error(asg, cbs, 2, 2, 6)
    means = {
        ("base" if r["c"] == 0 else "arrivals"): r["m"]
        for r in qe.groupBy((SF.col("_id") % 2).alias("c"))
        .agg(SF.avg("_qerr").alias("m")).collect()
    }
    assert means["arrivals"] > 10 * means["base"], means


def test_kmeans_parallel_init_quality_and_determinism(spark):
    from avk_job_skill_analytics_spark.operators import clustering

    e = _embeddings(spark)
    seeds = clustering.kmeans_parallel_init(
        e, "vec_id", "embedding", k=4, rounds=3, l=8, seed=7
    )
    rows = seeds.collect()
    assert len(rows) == 4
    ids = sorted(r["cluster"] for r in rows)
    # deterministic (RNG-free MD5 coin) — a re-run picks the same seeds
    again = clustering.kmeans_parallel_init(
        e, "vec_id", "embedding", k=4, rounds=3, l=8, seed=7
    )
    assert sorted(r["cluster"] for r in again.collect()) == ids
    # quality-aware: not the quality-blind k lowest ids
    assert ids != sorted(r["vec_id"] for r in
                         e.orderBy("vec_id").limit(4).collect())
    # composes with the same Lloyd path, and the oversampled cost-share
    # seeding should not be materially worse than lowest-id seeding
    c_def = clustering.kmeans_fit(e, "vec_id", "embedding", k=4, iters=2)
    c_par = clustering.kmeans_fit(
        e, "vec_id", "embedding", k=4, iters=2, init=seeds
    )
    i_def = clustering.inertia(e, c_def, "vec_id", "embedding")
    i_par = clustering.inertia(e, c_par, "vec_id", "embedding")
    assert i_par <= i_def * 1.05, (i_par, i_def)


def test_int8_served_approximates_exact_ranking(spark):
    # int8-quantized serving from the stored inventory: per-query
    # top-5 must overlap heavily with the exact float cosine top-5
    # (4-bit-ish quantization noise, not ranking collapse)
    import __spark_entry__ as E

    served = E.queries()["ann_int8_served"](spark, SF_DIR).collect()
    e = _embeddings(spark)
    q = e.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(e, q, "vec_id", "embedding", k=5)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in served}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.5, recall
    per_q = {}
    for r in served:
        per_q.setdefault(r["query_id"], []).append(r["rk"])
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_char_entropy_guarantees(spark):
    """Entropy semantics, not just oracle parity: a constant run is
    exactly 0.0 (and flagged), a uniform alphabet hits ln(k), empty
    text drops, and the flag derives from the rounded value."""
    import math

    from avk_job_skill_analytics_spark.operators.textstats import (
        char_entropy,
    )

    df = spark.createDataFrame(
        [(1, "aaaaaaaa"), (2, "abcdabcdabcdabcd"), (3, "")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in char_entropy(df, "doc_id", "text").collect()}
    assert set(rows) == {1, 2}  # empty doc has no distribution
    assert rows[1]["entropy_nats"] == 0.0 and rows[1]["low_entropy"]
    assert rows[2]["entropy_nats"] == round(math.log(4), 4)
    assert str(rows[1]["entropy_nats"]) == "0.0"  # IEEE -0.0 defused


def test_mix_planner_budget_and_epochs(spark):
    """The temperature plan must conserve the budget (targets sum to
    ~2x the corpus) and upsample small sources harder than large ones
    (alpha = 0.5 compresses the range: epochs decrease with size)."""
    from avk_job_skill_analytics_spark.registry.scale_queries import (
        pipeline_mix_planner,
    )

    rows = pipeline_mix_planner(spark, "/root/testdata/sf0.001").collect()
    total = sum(r["orig_tokens"] for r in rows)
    tgt = sum(r["target_tokens"] for r in rows)
    assert abs(tgt - 2 * total) <= len(rows)  # floor rounding only
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-3
    by_size = sorted(rows, key=lambda r: r["orig_tokens"])
    assert by_size[0]["epochs"] >= by_size[-1]["epochs"]
    assert by_size[0]["epochs"] > 2.0 > by_size[-1]["epochs"]


def test_mutual_edges_requires_reciprocation(spark):
    from avk_job_skill_analytics_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (4, 5), (5, 4), (5, 4)],
        ["src", "dst"],
    )
    got = {(r.src, r.dst)
           for r in graph.mutual_edges(edges, "src", "dst").collect()}
    # 1<->2 and 4<->5 reciprocate (each emitted once, src<dst);
    # 1->3 is one-way and must be dropped
    assert got == {(1, 2), (4, 5)}


def test_knn_graph_is_bucketed_and_ranked(spark):
    from avk_job_skill_analytics_spark.operators import similarity

    # two orthogonal clusters land in different LSH buckets: no edge
    # may cross them, and ranks are 1..k within each node
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(3)] + [
        (10 + i, [0.0, 0.0, -1.0, 0.0]) for i in range(3)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    g = similarity.knn_graph(df, "vec_id", "embedding", dim=4, k=2,
                             planes=2)
    out = g.collect()
    assert all((r.src < 10) == (r.neighbor_id < 10) for r in out)
    assert all(r.rk in (1, 2) for r in out)
    assert all(r.src != r.neighbor_id for r in out)


def test_duplicate_weights_cover_corpus_once_in_expectation(spark):
    """Every doc appears exactly once; cluster members share the
    cluster and split the weight; singletons carry exactly 1e6."""
    from avk_job_skill_analytics_spark.operators import dedup
    from pyspark.sql import functions as F  # noqa: F811

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long")
    out = {r["doc_id"]: r for r in dedup.duplicate_weights(
        docs, "doc_id", pairs).collect()}
    assert set(out) == set(range(1, 8))
    assert out[1]["cluster_id"] == out[2]["cluster_id"] \
        == out[3]["cluster_id"] == 1
    assert out[1]["cluster_size"] == 3
    assert out[1]["weight_fp"] == 333_333       # floor(1e6/3)
    assert out[5]["cluster_size"] == 2 and out[5]["weight_fp"] == 500_000
    assert out[4]["cluster_size"] == 1 and out[4]["weight_fp"] == 1_000_000
    assert out[4]["cluster_id"] == 4            # singleton = itself


def test_llm_skill_extractor_end_to_end_with_fake_client(spark):
    """UD1's production path driven through mapInPandas with an
    injected scripted client (reference data_extract.py:108-150
    semantics): batch_size batching, the P6 short-text guard, the
    4000-char truncation, and the failure->empty contract all
    verified THROUGH the interface, not by unit-testing fragments.
    The client runs in Python workers, so the evidence is encoded in
    its return values (call size / seen text length), not driver
    state."""
    from avk_job_skill_analytics_spark.operators.skills import (
        MAX_PROMPT_CHARS,
        MIN_TEXT_LEN,
        LLMSkillExtractor,
    )

    def client(texts):
        if any("BOOM" in t for t in texts):
            raise RuntimeError("api down")
        # encode call shape into the outputs: tech = batch size the
        # client actually saw, soft = the (truncated) text length
        return [(f"T{len(texts)}", f"L{len(t)}") for t in texts]

    rows = [
        (1, "python and sql everywhere " * 4),
        (2, "x" * (MAX_PROMPT_CHARS + 1000)),    # must arrive truncated
        (3, "short"),                            # P6: below MIN_TEXT_LEN
        (4, None),                               # null: skipped
        (5, "a decent length description ok " * 2),
        (6, "also a decent length description " * 2),
        (7, "yet another decent length text!! " * 2),
    ]
    assert len("short") < MIN_TEXT_LEN
    df = spark.createDataFrame(
        rows, "doc_id long, text string"
    ).repartition(1)
    out = {
        r["doc_id"]: (r["technical_skills"], r["soft_skills"])
        for r in LLMSkillExtractor(client, batch_size=2)
        .extract(df, "doc_id", "text").collect()
    }
    assert len(out) == 7
    # P6 guard + null handling: never reach the client
    assert out[3] == ("", "") and out[4] == ("", "")
    # truncation: the client saw exactly MAX_PROMPT_CHARS chars
    assert out[2][1] == f"L{MAX_PROMPT_CHARS}"
    # batching: 5 eligible rows at batch_size=2 -> calls of 2, 2, 1
    assert sorted(out[i][0] for i in (1, 2, 5, 6, 7)) \
        == ["T1", "T2", "T2", "T2", "T2"]

    # failure contract: a raising call degrades ITS rows to empty
    # and the run continues (per-chunk isolation at batch_size=1)
    rows2 = [(1, "BOOM " + "x" * 40), (2, "fine text, long enough to pass the guard")]
    df2 = spark.createDataFrame(
        rows2, "doc_id long, text string"
    ).repartition(1)
    out2 = {
        r["doc_id"]: (r["technical_skills"], r["soft_skills"])
        for r in LLMSkillExtractor(client, batch_size=1)
        .extract(df2, "doc_id", "text").collect()
    }
    assert out2[1] == ("", "")
    assert out2[2][0] == "T1"


def test_pixel_decode_round_trips_and_inverts_all_png_filters():
    """The stdlib pixel decoders are REAL: a zlib-compressed PNG and
    a padded bottom-up BMP built from the same pixel function decode
    to the identical raster; a PNG forward-filtered with types 1-4
    (independent spec arithmetic in the test) inverts exactly;
    top-down BMPs flip correctly; undecodable bytes quarantine to
    None instead of raising."""
    import struct
    import zlib

    import avk_job_skill_analytics_spark.operators.multimodal as M

    def fn(x, y):
        return ((3 * x + 5 * y + 7) % 256, (7 * x + y + 14) % 256,
                (x + 11 * y + 21) % 256)

    w, h, ch = 13, 9, 3
    expect = bytearray()
    for y in range(h):
        for x in range(w):
            expect += bytes(fn(x, y))
    dp = M.decode_png_pixels(M.build_png_pixels(w, h, fn))
    db = M.decode_bmp_pixels(M.build_bmp_pixels(w, h, fn))
    assert dp == (w, h, 3, bytes(expect))
    assert db == (w, h, 3, bytes(expect))

    # forward-filter rows with types 1..4, decoder must invert each
    stride = w * ch
    rows = [expect[y * stride:(y + 1) * stride] for y in range(h)]

    def fwd(f, line, prev):
        out = bytearray()
        for i, v in enumerate(line):
            left = line[i - ch] if i >= ch else 0
            up, ul = prev[i], (prev[i - ch] if i >= ch else 0)
            sub = (left, up, (left + up) >> 1,
                   M._paeth(left, up, ul))[f - 1]
            out.append((v - sub) & 255)
        return bytes(out)

    raw, prev = bytearray(), bytearray(stride)
    for y, line in enumerate(rows):
        f = (y % 4) + 1
        raw.append(f)
        raw += fwd(f, line, prev)
        prev = line

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    png = (M._PNG_SIG
           + chunk(b"IHDR", struct.pack(">II5B", w, h, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(bytes(raw)))
           + chunk(b"IEND", b""))
    assert M.decode_png_pixels(png) == (w, h, 3, bytes(expect))

    # top-down BMP (negative height, rows stored first-to-last)
    pad = (-(w * 3)) % 4
    px = bytearray()
    for y in range(h):
        for x in range(w):
            r, g, b = fn(x, y)
            px += bytes((b, g, r))
        px += b"\x00" * pad
    bmp = bytearray(M.build_bmp_pixels(w, h, fn))
    bmp[22:26] = struct.pack("<i", -h)
    assert M.decode_bmp_pixels(bytes(bmp[:54]) + bytes(px)) \
        == (w, h, 3, bytes(expect))

    # quarantine: junk, truncated PNG, 8-bit BMP -> None, no raise
    assert M.decode_pixels(b"\xff\xd8not really a jpeg") is None
    assert M.decode_png_pixels(
        M.build_png_pixels(4, 4, fn)[:30]) is None
    bad = bytearray(M.build_bmp_pixels(4, 4, fn))
    bad[28] = 8  # bpp
    assert M.decode_bmp_pixels(bytes(bad)) is None


def test_repetition_rules_hand_computed(spark):
    """Hand-verifiable docs through the MassiveText repetition suite:
    a chorus-repeating doc must trip the dup-5gram cap while a
    no-repeat doc sails through, and the fp6 features must equal the
    exact integer arithmetic done by hand."""
    from avk_job_skill_analytics_spark.operators.textstats import (
        repetition_rules,
    )

    chorus = " ".join(["la li lu le lo"] * 4)       # 4x the same 5-gram
    # 30 distinct fixed-width tokens: long enough that one occurrence
    # of any n-gram stays under every top-n cap.
    clean = " ".join(f"w{i:02d}" for i in range(30))
    df = spark.createDataFrame(
        [(1, chorus), (2, clean)], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r.asDict()
        for r in repetition_rules(df, "doc_id", "text").collect()
    }
    # chorus: 20 tokens, total_chars = len(chorus) = 59.
    # 5-gram window count = 16; the gram starting at token 1 + every
    # 5-step repeat ("la li lu le lo", len 14) occurs 4 times; every
    # other window occurs 4-or-3 times — ALL 5-gram windows repeat, so
    # dup mass = sum over distinct grams of cnt*len.  Spot-check the
    # headline numbers instead of re-deriving each: the doc must FAIL,
    # with dup_5gram_fp far above the 150000 cap.
    assert rows[1]["dup_5gram_fp"] > 150_000
    assert rows[1]["passes"] is False
    # the clean doc repeats nothing: every dup_* is exactly 0 and the
    # top-2gram mass is one occurrence of a 2-gram.  30 tokens of
    # width 3 -> total_chars = 30*3 + 29 = 119; any 2-gram has len 7.
    for n in (5, 6, 7, 8, 9, 10):
        assert rows[2][f"dup_{n}gram_fp"] == 0
    assert rows[2]["top_2gram_fp"] == (1_000_000 * 7) // 119
    assert rows[2]["passes"] is True


def test_repetition_rules_short_and_degenerate_docs(spark):
    """Docs shorter than the smallest n still emit a row (all-zero
    features, pass=True); a mono-token doc has every window identical
    so every rule fires."""
    from avk_job_skill_analytics_spark.operators.textstats import (
        repetition_rules,
    )

    df = spark.createDataFrame(
        [(1, "solo"), (2, " ".join(["x"] * 30))],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r.asDict()
        for r in repetition_rules(df, "doc_id", "text").collect()
    }
    assert rows[1]["top_2gram_fp"] == 0
    assert rows[1]["passes"] is True
    # "x x x ... x": every n-gram window is the same gram repeated,
    # overlap-counted mass far exceeds the doc length for every n.
    assert rows[2]["passes"] is False
    for n in (2, 3, 4):
        assert rows[2][f"top_{n}gram_fp"] > 1_000_000


def test_vocab_coverage_boundary_and_counts(spark):
    """The vocabulary boundary is deterministic (count desc, term asc)
    and per-doc OOV counts are exact: with V=2 over a corpus where
    'b' and 'c' tie on count, 'b' wins the tie lexicographically."""
    from avk_job_skill_analytics_spark.operators.textstats import (
        vocab_coverage,
    )

    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "b c c d")],
        "doc_id long, text string",
    )
    # counts: a=3, b=3, c=3, d=1 -> top-2 by (count desc, term asc)
    # is {a, b}; c and d are OOV.
    rows = {
        r["doc_id"]: r.asDict()
        for r in vocab_coverage(df, "doc_id", "text", vocab_size=2)
        .collect()
    }
    assert rows[1]["n_tokens"] == 6 and rows[1]["n_oov"] == 1
    assert rows[1]["oov_fp"] == 1_000_000 // 6
    assert rows[2]["n_tokens"] == 4 and rows[2]["n_oov"] == 3
    assert rows[2]["oov_fp"] == (1_000_000 * 3) // 4


def test_source_overlap_matrix_exact_jaccard(spark):
    """Hand-built three-source corpus: the matrix emits exactly the
    overlapping pairs with exact shared/total counts and fp6 Jaccard,
    and never emits a non-overlapping pair."""
    from avk_job_skill_analytics_spark.operators.dedup import (
        source_overlap_matrix,
    )

    df = spark.createDataFrame(
        [
            ("s1", "p q r s"),       # shingles (k=3): "p q r", "q r s"
            ("s2", "p q r t"),       # "p q r", "q r t"
            ("s3", "x y z w"),       # disjoint from s1/s2
        ],
        "source string, text string",
    )
    rows = source_overlap_matrix(df, "source", "text", k=3).collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert (r["source_a"], r["source_b"]) == ("s1", "s2")
    assert r["shared"] == 1 and r["n_a"] == 2 and r["n_b"] == 2
    # jaccard = 1 / (2 + 2 - 1)
    assert r["jaccard_fp"] == 1_000_000 // 3


def test_similarity_histogram_detects_collapse(spark):
    """A collapsed space (all vectors identical up to scale) piles
    every pair into the top bucket with mean cos = 1; an orthogonal
    basis puts every pair at exactly 0. Bucket arithmetic is exact:
    cos 1.0 -> fp 1000000 -> bucket min(16,15)=15; cos 0 -> bucket 8."""
    from avk_job_skill_analytics_spark.operators.similarity import (
        similarity_histogram,
    )

    collapsed = spark.createDataFrame(
        [(i, [1.0 * (i + 1), 2.0 * (i + 1), 0.0, 0.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    out = similarity_histogram(
        collapsed, "vec_id", "embedding", sample_k=6
    ).collect()
    assert len(out) == 1
    assert out[0]["bucket"] == 15
    assert out[0]["n"] == 15                 # C(6,2)
    assert out[0]["mean_cos_fp"] == 1_000_000

    ortho = spark.createDataFrame(
        [(i, [1.0 if j == i else 0.0 for j in range(4)])
         for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    out2 = similarity_histogram(
        ortho, "vec_id", "embedding", sample_k=4
    ).collect()
    assert len(out2) == 1
    assert out2[0]["bucket"] == 8 and out2[0]["n"] == 6
    assert out2[0]["mean_cos_fp"] == 0


def test_hapax_ratio_exact_counts(spark):
    """Hand-countable corpus: 3-gram types, windows, and hapax counts
    are exact; a fully duplicated corpus has zero hapax."""
    from avk_job_skill_analytics_spark.operators.textstats import (
        hapax_ratio,
    )

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c")],    # windows: abc, bcd | abc
        "doc_id long, text string",
    )
    r = hapax_ratio(df, "doc_id", "text", n=3).collect()[0].asDict()
    assert r["n_types"] == 2 and r["n_tokens"] == 3
    assert r["n_hapax"] == 1              # "b c d"
    assert r["hapax_fp"] == 500_000
    assert r["ttr_fp"] == (1_000_000 * 2) // 3

    dup = spark.createDataFrame(
        [(1, "x y z"), (2, "x y z")], "doc_id long, text string"
    )
    r2 = hapax_ratio(dup, "doc_id", "text", n=3).collect()[0].asDict()
    assert r2["n_hapax"] == 0 and r2["hapax_fp"] == 0

    # degenerate corpus: no document reaches n tokens -> zero types,
    # NULL ratios (not DIVIDE_BY_ZERO under ANSI; ADVICE r9)
    short = spark.createDataFrame(
        [(1, "a b"), (2, "c")], "doc_id long, text string"
    )
    r3 = hapax_ratio(short, "doc_id", "text", n=3).collect()[0].asDict()
    assert r3["n_types"] == 0 and r3["n_tokens"] == 0
    assert r3["hapax_fp"] is None and r3["ttr_fp"] is None


def test_probe_sweep_monotone_and_saturates(spark):
    """Recall@5 is monotone non-decreasing in n_probe and reaches
    100% when every cell is probed (n_probe = n_centroids = 8 makes
    IVF exhaustive)."""
    import __spark_entry__ as E

    df = E.queries()["ann_probe_sweep"](spark, "/root/testdata/sf0.001")
    rows = {r["n_probe"]: r.asDict() for r in df.collect()}
    rec = [rows[p]["recall_fp"] for p in (1, 2, 4, 8)]
    assert rec == sorted(rec)
    assert rows[8]["recall_fp"] == 1_000_000
    assert rows[8]["min_hits"] == 5


def test_y4m_decode_is_real_all_layouts():
    """The stdlib Y4M codec is REAL: C444/C420/C422/mono streams
    round-trip with exact plane sums per frame; the parser honors the
    default chroma when C is absent, skips unknown header params,
    rejects torn/truncated streams and foreign bytes with None."""
    import avk_job_skill_analytics_spark.operators.multimodal as M

    def fn(x, y, t):
        return ((3 * x + 5 * y + 7 * t + 9) % 256,
                (x + 2 * y + t + 18) % 256,
                (2 * x + y + 3 * t + 27) % 256)

    for chroma, w, h, sub in [("444", 6, 4, (1, 1)),
                              ("420", 8, 6, (2, 2)),
                              ("422", 4, 4, (2, 1)),
                              ("mono", 5, 3, None)]:
        dec = M.decode_y4m(M.build_y4m(w, h, 4, fn, chroma))
        assert dec is not None
        dw, dh, dc, frames = dec
        assert (dw, dh, dc) == (w, h, chroma) and len(frames) == 4
        for t, (yp, up, vp) in enumerate(frames):
            assert sum(yp) == sum(fn(x, y, t)[0]
                                  for y in range(h) for x in range(w))
            if sub is None:
                assert up is None and vp is None
            else:
                cw, chh = w // sub[0], h // sub[1]
                assert len(up) == len(vp) == cw * chh
                assert sum(up) == sum(fn(x, y, t)[1]
                                      for y in range(chh)
                                      for x in range(cw))

    # default chroma (C absent) is 420jpeg: frame size w*h*3/2
    p = (b"YUV4MPEG2 W4 H4 F25:1 Xcustom\nFRAME\n"
         + bytes(range(16)) + bytes(8))
    dec = M.decode_y4m(p)
    assert dec is not None and dec[2] == "420jpeg"
    assert sum(dec[3][0][0]) == sum(range(16))

    assert M.decode_y4m(b"RIFF not a video") is None
    assert M.decode_y4m(b"YUV4MPEG2 W4 H4 C444\nFRAME\nxx") is None
    assert M.decode_y4m(b"YUV4MPEG2 W4 H4 C999\n") is None
    assert M.decode_y4m(
        b"YUV4MPEG2 W2 H2 C444\nGARBAGE\n" + bytes(12)) is None
    # corrupt header params quarantine (None), never raise (ADVICE r10)
    assert M.decode_y4m(b"YUV4MPEG2 Wxx H4 C444\nFRAME\n") is None
    assert M.decode_y4m(b"YUV4MPEG2 W4 Hxx C444\nFRAME\n") is None
    assert M.decode_y4m(b"YUV4MPEG2 W-4 H4 C444\nFRAME\n") is None
    assert M.decode_y4m(b"YUV4MPEG2 W4 H0 C444\nFRAME\n") is None

    # a sampled mid-stream frame decodes to its exact plane
    stream = M.build_y4m(4, 2, 3, fn, "444")
    yp = M.decode_y4m(stream)[3][2][0]
    assert sum(yp) == sum(fn(x, y, 2)[0]
                          for y in range(2) for x in range(4))


def test_frame_stats_spark_end_to_end(spark):
    """frame_stats over synthesized Y4M payloads: sampled frame
    indices stride by every_n, plane means are exact integers, and a
    mono stream reports NULL chroma."""
    import avk_job_skill_analytics_spark.operators.multimodal as M
    from pyspark.sql import functions as F

    docs = spark.range(6).select(F.col("id").alias("doc_id"))
    out = M.frame_stats(
        M.attach_video_media(docs, "doc_id"), every_n=2
    ).collect()
    assert out, "no frames decoded"
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for did, rows in by_doc.items():
        nf = did % 4 + 2
        assert sorted(r["frame_idx"] for r in rows) == list(
            range(0, nf, 2))
        for r in rows:
            w, h, t = r["width"], r["height"], r["frame_idx"]
            sy = sum((3 * x + 5 * y + 7 * t + did) % 256
                     for y in range(h) for x in range(w))
            assert r["mean_y_fp"] == 1_000_000 * sy // (w * h)

    # mono: NULL chroma, real luma
    def fn(x, y, t):
        return ((x + y + t) % 256, 0, 0)

    import pandas as pd  # noqa: F401

    def attach_mono(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": [int(i) for i in pdf["doc_id"]],
                "payload": [M.build_y4m(3, 2, 2, fn, "mono")
                            for _ in pdf["doc_id"]],
            })

    mono = docs.limit(1).mapInPandas(
        attach_mono, "doc_id long, payload binary")
    r = M.frame_stats(mono, every_n=1).collect()[0]
    assert r["mean_u_fp"] is None and r["mean_v_fp"] is None
    assert r["mean_y_fp"] == 1_000_000 * sum(
        (x + y) % 256 for y in range(2) for x in range(3)) // 6


def test_llm_client_parsing_contract_and_gating():
    """The live-client plumbing without a network: the reply parser
    pins the reference's TECH:/SOFT: semantics for every client, and
    the production binding refuses cleanly without a key instead of
    failing mid-stream."""
    import os

    import pytest as _pytest

    from avk_job_skill_analytics_spark.operators.skills import (
        build_prompt,
        openai_chat_client,
        parse_tech_soft,
    )

    assert parse_tech_soft(
        "TECH: [python, spark]\nSOFT: [teamwork, mentoring]"
    ) == ("python, spark", "teamwork, mentoring")
    assert parse_tech_soft("TECH: [sql]") == ("sql", "")
    assert parse_tech_soft("free-form refusal") == ("", "")
    assert "Format strictly as" in build_prompt("desc")

    if not os.environ.get("OPENAI_API_KEY"):
        with _pytest.raises(RuntimeError, match="OPENAI_API_KEY"):
            openai_chat_client()


def test_llm_live_smoke(spark):
    """3-row LIVE extraction through the real endpoint — runs only
    when OPENAI_API_KEY is present (VERDICT r9 stretch); the CI path
    stays the fake-client e2e test above."""
    import os

    import pytest as _pytest

    if not os.environ.get("OPENAI_API_KEY"):
        _pytest.skip("no OPENAI_API_KEY — live smoke is opt-in")
    from avk_job_skill_analytics_spark.operators.skills import (
        LLMSkillExtractor,
        openai_chat_client,
    )

    df = spark.createDataFrame(
        [(1, "We need a Python and Spark engineer with strong "
              "communication skills and teamwork."),
         (2, "Senior SQL analyst; leadership and mentoring a plus."),
         (3, "too short")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in LLMSkillExtractor(
        openai_chat_client(), batch_size=3
    ).extract(df, "doc_id", "text").collect()}
    assert out[3]["technical_skills"] == ""      # P6 short-text guard
    assert out[1]["technical_skills"] != ""      # live model answered


def test_banded_semantic_prune_cap_and_domination(spark):
    """The bucket cap must drop oversized buckets ENTIRELY (identical
    vectors all land in one bucket; with the cap below that size no
    pairs expand and everything survives), and under the cap a
    duplicate pair prunes the higher id with dominator = lower id."""
    from avk_job_skill_analytics_spark.operators.similarity import (
        banded_semantic_prune,
    )

    vec = [1.0, -2.0, 3.0, 0.5]
    df = spark.createDataFrame(
        [(i, vec) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    capped = banded_semantic_prune(
        df, "vec_id", "embedding", dim=4, bands=2, rows_per_band=3,
        threshold=0.4, max_bucket=4,
    ).collect()
    assert all(r.keep and r.dominator is None for r in capped)

    ok = {
        r.vec_id: (r.keep, r.dominator)
        for r in banded_semantic_prune(
            df, "vec_id", "embedding", dim=4, bands=2,
            rows_per_band=3, threshold=0.4, max_bucket=100,
        ).collect()
    }
    assert ok[0] == (True, None)          # lowest id always survives
    for i in range(1, 8):
        assert ok[i] == (False, 0), i     # identical -> dominated by 0


def test_adaptive_band_width_refines_base_buckets(spark):
    """The r14 scale-lever contract for the semantic band family:
    (a) adaptive_rows_per_band resolves to the historical 8 at every
    verified ledger scale (sf0.01/0.1/1 embedding counts) and grows
    past the saturation point; (b) widening REFINES the base
    bucketing — the low 8 bits of every widened band signature equal
    the rows_per_band=8 signature bit-for-bit (the disjoint
    EXT_PLANE_OFFSET plane range), which is what keeps recorded
    hashes frozen wherever the formula resolves to 8."""
    import pandas as pd

    from avk_job_skill_analytics_spark.operators.similarity import (
        adaptive_rows_per_band,
        band_sig_structs_np,
    )

    # (a) the formula at the ledger scales and beyond
    assert adaptive_rows_per_band(200) == 8        # sf0.01
    assert adaptive_rows_per_band(2_000) == 8      # sf0.1
    assert adaptive_rows_per_band(20_000) == 8     # sf1
    assert adaptive_rows_per_band(200_000) == 11   # sf10
    assert adaptive_rows_per_band(128 << 20) == 16  # hi clamp

    # (b) widened signatures refine the base ones
    vecs = [
        (i, [((7 * i + 3 * j) % 17) - 8.0 for j in range(16)])
        for i in range(32)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(vecs, columns=["vec_id", "embedding"])
    )
    base = df.select(
        "vec_id",
        band_sig_structs_np("embedding", 16, 4, 8).alias("s"),
    ).collect()
    wide = df.select(
        "vec_id",
        band_sig_structs_np("embedding", 16, 4, 11).alias("s"),
    ).collect()
    base_sigs = {r["vec_id"]: [b["sig"] for b in r["s"]] for r in base}
    for r in wide:
        for band, b in enumerate(r["s"]):
            assert b["sig"] % 256 == base_sigs[r["vec_id"]][band]
            assert 0 <= b["sig"] < (1 << 11)


def _left_fold_sigs(v, dim, plane_ids, width):
    """Plain-Python reference signatures: one left-fold dot per plane
    (``acc = acc + x * s`` from 0.0), sign bit r of each group of
    ``width`` planes; NULL / NULL-element / wrong-length vectors sign
    to 0."""
    groups = len(plane_ids) // width
    if v is None or len(v) != dim or any(x is None for x in v):
        return [0] * groups
    out = []
    for g in range(groups):
        sig = 0
        for r, p in enumerate(plane_ids[g * width:(g + 1) * width]):
            signs = [similarity._plane_sign(p, i) for i in range(dim)]
            acc = 0.0
            for x, s in zip(v, signs):
                acc = acc + x * s
            if acc > 0:
                sig |= 1 << r
        out.append(sig)
    return out


def test_signature_kernel_matches_left_fold_reference(spark):
    """The one signature kernel, in its packed (lsh_topk / knn_graph)
    and banded (band_sig_structs_np) forms, equals a plain-Python
    left fold bit for bit — extended planes (rows_per_band 10 and
    11), rounding-sensitive and zero vectors included; NULL vectors,
    NULL elements and wrong-length vectors sign to 0."""
    rows = [
        (1, [float(i) * 0.31 - 9.5 for i in range(16)]),
        (2, [(-1.0) ** i * (i + 0.25) for i in range(16)]),
        (3, [1e-7] * 16),          # near-zero dots: rounding-sensitive
        (4, [(-1.0) ** i * 10.0 ** (i % 5 * 4 - 8) for i in range(16)]),
        (5, [1e16, 1.0, -1e16, 1.0] * 4),  # order-dependent sums
        (6, [0.0] * 16),           # all-zero vector
        (7, None),                 # NULL vector
        (8, [1.0, None] + [0.5] * 14),  # NULL element
        (9, [1.0] * 10),           # wrong length
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    vecs = dict(rows)
    for planes in (4, 8, 13):
        got = df.select(
            "vec_id",
            F.element_at(similarity._signatures(
                "v", 16, range(planes), planes), 1).alias("sig"),
        ).collect()
        assert {r.vec_id: r.sig for r in got} == {
            i: _left_fold_sigs(v, 16, range(planes), planes)[0]
            for i, v in vecs.items()
        }, f"planes={planes}"
    for bands, rpb in [(4, 4), (4, 8), (2, 10), (2, 11)]:
        got = df.select(
            "vec_id",
            similarity.band_sig_structs_np("v", 16, bands, rpb).alias("s"),
        ).collect()
        want = {
            i: list(enumerate(_left_fold_sigs(
                v, 16, similarity._band_planes(bands, rpb), rpb)))
            for i, v in vecs.items()
        }
        assert {r.vec_id: [(x.band, x.sig) for x in r.s]
                for r in got} == want, f"bands={bands} rpb={rpb}"


def test_signature_kernel_memory_is_batch_by_planes():
    """The kernel's NumPy body holds O(batch × planes) working memory:
    a 10,000 × 64 batch against 64 planes stays far below the
    (batch, planes, dim) product tensor (~330 MB per copy)."""
    import tracemalloc

    import numpy as np

    rng = np.random.default_rng(7)
    V = rng.standard_normal((10_000, 64))
    S = np.asarray([[similarity._plane_sign(p, i) for i in range(64)]
                    for p in range(64)])
    tracemalloc.start()
    try:
        sigs = similarity._pack_signs(V, S, 8)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert sigs.shape == (10_000, 8)
    assert peak < 32 * 2 ** 20, f"peak {peak / 2 ** 20:.1f} MiB"
