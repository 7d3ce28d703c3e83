"""Operator-level tests: set ops, sampling determinism, Top-N forms,
manifest idempotency (SURVEY.md §5.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from avk_job_skill_analytics_spark.operators import analytics as A
from avk_job_skill_analytics_spark.operators.sampling import (
    sample_exact_n,
    sample_hash_bucket,
)
from avk_job_skill_analytics_spark.operators.setops import (
    anti_join,
    dedup_keep_first,
    union_by_name,
)
from avk_job_skill_analytics_spark.sources.manifest import Manifest


def test_union_by_name_fills_missing(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "a"])
    b = spark.createDataFrame([(2, "y")], ["id", "b"])
    out = union_by_name([a, b]).orderBy("id").collect()
    assert out[0]["a"] == "x" and out[0]["b"] is None
    assert out[1]["a"] is None and out[1]["b"] == "y"


def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "k", "first"), (2, "k", "second"), (3, "j", "only")],
        ["seq", "key", "val"],
    )
    out = dedup_keep_first(df, ["key"], [F.col("seq").asc()])
    got = {r["key"]: r["val"] for r in out.collect()}
    assert got == {"k": "first", "j": "only"}


def test_anti_join_excludes(spark):
    files = spark.createDataFrame([("a",), ("b",), ("c",)], ["file_name"])
    done = spark.createDataFrame([("b",)], ["file_name"])
    left = sorted(r["file_name"] for r in anti_join(files, done, "file_name").collect())
    assert left == ["a", "c"]


def test_sample_exact_n_deterministic(spark):
    df = spark.range(1000)
    s1 = sorted(r["id"] for r in sample_exact_n(df, 50, seed=42).collect())
    s2 = sorted(r["id"] for r in sample_exact_n(df, 50, seed=42).collect())
    assert s1 == s2 and len(s1) == 50
    s3 = sorted(r["id"] for r in sample_exact_n(df, 50, seed=7).collect())
    assert s1 != s3  # different seed, different sample


def test_sample_hash_bucket_stable(spark):
    df = spark.range(2000).withColumn("key", F.col("id").cast("string"))
    s1 = {r["id"] for r in sample_hash_bucket(df, "key", 10).collect()}
    s2 = {r["id"] for r in sample_hash_bucket(df, "key", 10).collect()}
    assert s1 == s2
    assert 0 < len(s1) < 2000


def test_topn_semijoin_equals_window_form(spark):
    df = spark.createDataFrame(
        [(d, i) for i, d in enumerate("aaaabbbccd")], ["dim", "v"]
    )
    semi = A.topn_semijoin(df, "dim", F.count(F.lit(1)).alias("cnt"), 2)
    rank = A.topn_by_rank(df, "dim", F.count(F.lit(1)).alias("cnt"), 2)
    assert sorted(r["dim"] for r in semi.select("dim").distinct().collect()) == \
        sorted(r["dim"] for r in rank.select("dim").distinct().collect())


def test_pct_of_total_sums_to_100(spark):
    df = spark.createDataFrame([(d,) for d in "aaabbc"], ["dim"])
    rows = A.pct_of_total(df, "dim").collect()
    assert abs(sum(r["pct"] for r in rows) - 100.0) < 1e-6


def test_manifest_idempotent(spark, tmp_path):
    m = Manifest(spark, str(tmp_path / "manifest"))
    files = spark.createDataFrame([("f1",), ("f2",)], ["file_name"])
    assert m.new_files(files).count() == 2
    m.mark_loaded(["f1", "f2"])
    assert m.new_files(files).count() == 0  # second run: no-op
    m.mark_loaded(["f1", "f2"])  # re-mark must not duplicate
    assert m.loaded().count() == 2
    assert m.is_loaded("f1") and not m.is_loaded("f9")
    more = spark.createDataFrame([("f2",), ("f3",)], ["file_name"])
    assert sorted(r["file_name"] for r in m.new_files(more).collect()) == ["f3"]


def test_manifest_on_file_scheme_path(spark, tmp_path):
    """The existence probe must resolve through the path's own Hadoop
    filesystem — an os.path probe returns False for any scheme'd path
    and silently resets the manifest to empty, re-loading every file."""
    m = Manifest(spark, "file:" + str(tmp_path / "manifest"))
    m.mark_loaded(["f1"])
    files = spark.createDataFrame([("f1",), ("f2",)], ["file_name"])
    assert sorted(
        r["file_name"] for r in m.new_files(files).collect()
    ) == ["f2"]
    m.mark_loaded(["f1"])  # re-mark must not duplicate
    assert m.loaded().count() == 1


def test_asof_join_semantics(spark):
    from datetime import datetime as dt

    from avk_job_skill_analytics_spark.operators import temporal

    left = spark.createDataFrame(
        [
            (1, 10, dt(2024, 1, 1, 12, 0, 0)),   # matches k10's 11:00 row
            (2, 10, dt(2024, 1, 1, 10, 30, 0)),  # matches 10:00
            (3, 10, dt(2024, 1, 1, 9, 0, 0)),    # before any right -> null
            (4, 11, dt(2024, 1, 1, 10, 0, 0)),   # equal time: inclusive
            (5, 12, dt(2024, 1, 1, 10, 0, 0)),   # key with no right rows
        ],
        "id long, k long, t timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, dt(2024, 1, 1, 10, 0, 0), "a"),
            (10, dt(2024, 1, 1, 11, 0, 0), "b"),
            (11, dt(2024, 1, 1, 10, 0, 0), "c"),
        ],
        "k long, rt timestamp, tag string",
    )
    out = {
        r.id: r.tag
        for r in temporal.asof_join(left, right, "k", "t", "rt").collect()
    }
    assert out == {1: "b", 2: "a", 3: None, 4: "c", 5: None}


def test_binned_range_join_boundaries(spark):
    from avk_job_skill_analytics_spark.operators.rangejoin import (
        binned_range_join,
    )

    facts = spark.createDataFrame(
        [(1, 0.0), (2, 9.99), (3, 10.0), (4, 25.0), (5, 99.0)],
        "id long, v double",
    )
    bands = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 10.0, 30.0)], "band string, lo double, hi double"
    )
    # bin width deliberately misaligned with band edges
    out = {
        r.id: r.band
        for r in binned_range_join(facts, "v", bands, "lo", "hi", 7.0).collect()
    }
    # lo inclusive, hi exclusive; out-of-band values drop
    assert out == {1: "a", 2: "a", 3: "b", 4: "b"}


def test_sample_stratified_rates_and_determinism(spark):
    from avk_job_skill_analytics_spark.operators.sampling import (
        sample_by,
        sample_stratified,
    )

    df = spark.range(10_000).withColumn(
        "stratum", F.when(F.col("id") % 2 == 0, "even").otherwise("odd")
    )
    s1 = sample_stratified(df, "stratum", "id", {"even": 40, "odd": 4})
    s2 = sample_stratified(df, "stratum", "id", {"even": 40, "odd": 4})
    rows1 = sorted(r["id"] for r in s1.collect())
    assert rows1 == sorted(r["id"] for r in s2.collect())  # rerun-stable
    by = {r["stratum"]: r["n"] for r in
          s1.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
    # hash buckets approximate the per-stratum rates (5k rows each)
    assert 1500 < by["even"] < 2500 and 50 < by["odd"] < 350
    # unlisted strata default to 0% kept
    assert sample_stratified(df, "stratum", "id", {"even": 40}).filter(
        F.col("stratum") == "odd").count() == 0

    # the Spark-native RNG twin honours per-stratum fractions too
    rng = sample_by(df, "stratum", {"even": 0.4, "odd": 0.04}, seed=1)
    nby = {r["stratum"]: r["n"] for r in
           rng.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
    assert 1500 < nby["even"] < 2500 and 50 < nby["odd"] < 350


def test_gopher_quality_features_and_verdict(spark):
    from avk_job_skill_analytics_spark.operators.textstats import gopher_quality

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat with the red hat today"),  # passes
            (2, "spam spam spam spam spam spam spam spam spam spam"),  # repetition
            (3, "tiny text"),  # too few words
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in gopher_quality(df, "doc_id", "text").collect()}
    assert out[1]["n_words"] == 11
    assert out[1]["ttr"] == 0.8182  # 9 distinct / 11
    assert out[1]["top_word_frac"] == 0.2727  # "the" x3 of 11
    assert not out[1]["passes"]  # top_word_frac 0.27 > 0.2 cap
    assert out[2]["ttr"] == 0.1 and out[2]["top_word_frac"] == 1.0
    assert not out[2]["passes"]
    assert out[3]["n_words"] == 2 and not out[3]["passes"]
    ok = gopher_quality(
        df, "doc_id", "text", min_words=2, max_top_frac=0.5, min_ttr=0.1
    )
    assert {r["doc_id"]: r["passes"] for r in ok.collect()} == {
        1: True, 2: False, 3: True,
    }


def test_decontaminate_flags_shared_shingles(spark):
    from avk_job_skill_analytics_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            (1, "prefix alpha beta gamma delta epsilon suffix"),  # shares 5-grams
            (2, "nothing in common with the benchmark at all here"),
            (3, "alpha beta gamma nope delta epsilon zeta"),  # only 3-gram overlap
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in
           decontaminate(train, bench, "doc_id", "text", k=5).collect()}
    assert out[1]["contaminated"] and out[1]["n_shared"] == 1
    assert not out[2]["contaminated"] and out[2]["n_shared"] == 0
    assert not out[3]["contaminated"]  # 5-gram rule ignores shorter overlaps


def test_quantize_int8_codes_and_zero_vector(spark):
    from avk_job_skill_analytics_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in
           quantize_int8(df, "vec_id", "embedding").collect()}
    assert out[1]["codes"] == [127, -64, 32]  # round(-63.5)=-64 half-up
    assert abs(out[1]["scale"] - 1.0 / 127.0) < 1e-12
    assert out[2]["codes"] == [0, 0, 0] and out[2]["scale"] == 0.0
    # codes stay in int8 range by construction
    assert all(-127 <= c <= 127 for c in out[1]["codes"])


def test_redact_pii_counts_and_scrubs(spark):
    from avk_job_skill_analytics_spark.operators.privacy import redact_pii

    df = spark.createDataFrame(
        [
            (1, "reach bob.smith+x@corp.example.org or 555-867-5309 now"),
            (2, "ssn 123-45-6789 from host 192.168.1.10"),
            (3, "clean text with digits 12345 and no pii at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in redact_pii(df, "doc_id", "text").collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    assert out[1]["redacted"] == "reach [EMAIL] or [PHONE] now"
    assert out[2]["n_ssn"] == 1 and out[2]["n_ipv4"] == 1
    assert out[2]["redacted"] == "ssn [SSN] from host [IP]"
    assert out[3]["n_pii"] == 0
    assert out[3]["redacted"] == "clean text with digits 12345 and no pii at all"


def test_unigram_logprob_matches_hand_model(spark):
    import math

    from avk_job_skill_analytics_spark.operators.textstats import (
        unigram_logprob,
    )

    # corpus: a a a b  => p(a)=3/4, p(b)=1/4
    df = spark.createDataFrame(
        [(1, "a a a"), (2, "b")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in
           unigram_logprob(df, "doc_id", "text").collect()}
    assert out[1]["n_tokens"] == 3
    assert out[1]["avg_logprob"] == round(math.log(0.75), 4)
    assert out[2]["avg_logprob"] == round(math.log(0.25), 4)


def test_kl_by_source_zero_for_identical_mix(spark):
    import math

    from avk_job_skill_analytics_spark.operators.textstats import kl_by_source

    df = spark.createDataFrame(
        [
            ("s1", "a b"), ("s2", "a b"),
            ("s3", "a a a a"),  # skews the corpus towards 'a'
        ],
        ["source", "text"],
    )
    out = {r["source"]: r for r in kl_by_source(df, "source", "text").collect()}
    # corpus: a x6, b x2 -> q(a)=0.75, q(b)=0.25
    # s1/s2: p=(0.5,0.5) -> KL = 0.5 ln(0.5/0.75) + 0.5 ln(0.5/0.25)
    expect_even = round(0.5 * math.log(0.5 / 0.75) + 0.5 * math.log(2.0), 4)
    assert out["s1"]["kl"] == expect_even == out["s2"]["kl"]
    # s3: p(a)=1 -> KL = ln(1/0.75)
    assert out["s3"]["kl"] == round(math.log(1 / 0.75), 4)
    assert out["s3"]["n_tokens"] == 4
    # a source whose mix IS the corpus mix has KL exactly 0
    solo = spark.createDataFrame(
        [("only", "a b b a")], ["source", "text"]
    )
    assert kl_by_source(solo, "source", "text").collect()[0]["kl"] == 0.0


def test_sample_weighted_honours_clamped_probability(spark):
    from avk_job_skill_analytics_spark.operators.sampling import (
        sample_weighted,
    )

    df = spark.range(0, 10_000).select(
        F.col("id"),
        (F.col("id") % 100 / 100.0).alias("w"),
    )
    kept = sample_weighted(df, "id", F.col("w"))
    # E[kept] = sum(w) = 4950; the hash is uniform enough for +/-15%
    n = kept.count()
    assert 4200 < n < 5700, n
    # weight 0 rows can never be kept; weight ~1 rows almost always
    assert kept.filter(F.col("w") == 0.0).count() == 0
    # deterministic: same selection on rerun
    assert kept.count() == n


def test_upsert_keep_latest_merges_changeset(spark):
    from avk_job_skill_analytics_spark.operators.setops import (
        upsert_keep_latest,
    )

    target = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], ["k", "val", "version"]
    )
    updates = spark.createDataFrame(
        [(2, "B", 2), (4, "D", 2)], ["k", "val", "version"]
    )
    out = {r["k"]: r for r in
           upsert_keep_latest(target, updates, ["k"], "version").collect()}
    assert len(out) == 4
    assert out[2]["val"] == "B" and out[2]["version"] == 2  # updated
    assert out[1]["val"] == "a" and out[3]["val"] == "c"    # untouched
    assert out[4]["val"] == "D"                             # inserted
    # same-version collision resolves to the update side
    tie = upsert_keep_latest(
        target, spark.createDataFrame([(1, "A", 1)], ["k", "val", "version"]),
        ["k"], "version",
    )
    assert {r["k"]: r["val"] for r in tie.collect()}[1] == "A"


def test_chunk_documents_windows_and_edges(spark):
    from avk_job_skill_analytics_spark.operators.textstats import (
        chunk_documents,
    )

    words = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame(
        [(1, words), (2, "short text"), (3, "   "), (4, "x " * 4 + "y")],
        ["doc_id", "text"],
    )
    out = chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=1)
    rows = sorted(
        out.collect(), key=lambda r: (r["doc_id"], r["chunk_idx"])
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 10 tokens, chunk 4, stride 3 -> ceil((10-1)/3) = 3 chunks
    assert [r["chunk_text"] for r in by_doc[1]] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9",
    ]
    # consecutive chunks overlap by exactly `overlap` tokens
    assert by_doc[1][0]["chunk_text"].split()[-1:] == \
        by_doc[1][1]["chunk_text"].split()[:1]
    # short doc -> one (short) chunk; whitespace-only doc -> no chunks
    assert [r["chunk_text"] for r in by_doc[2]] == ["short text"]
    assert 3 not in by_doc
    assert [r["chunk_n_tokens"] for r in by_doc[4]] == [4, 2]
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=4)


def test_audio_windows_framing_and_feature(spark):
    from avk_job_skill_analytics_spark.operators.multimodal import (
        audio_windows,
    )

    df = spark.createDataFrame(
        [(1, bytes(range(10))), (2, b"\x00\x00\x00"), (3, None)],
        "doc_id long, payload binary",
    )
    out = sorted(
        audio_windows(df, "doc_id", "payload", window=4, hop=2).collect(),
        key=lambda r: (r["doc_id"], r["win_idx"]),
    )
    # doc 1: 10 bytes, window 4 hop 2 -> (10-4)//2+1 = 4 full windows
    d1 = [r for r in out if r["doc_id"] == 1]
    assert [r["start_byte"] for r in d1] == [0, 2, 4, 6]
    assert d1[0]["mean_amp"] == 1.5  # mean(0,1,2,3)
    assert d1[3]["mean_amp"] == 7.5  # mean(6,7,8,9)
    # doc 2: shorter than the window -> no frames; null payload skipped
    assert not [r for r in out if r["doc_id"] in (2, 3)]


def test_assign_split_deterministic_and_stable(spark):
    import pytest

    from avk_job_skill_analytics_spark.operators.sampling import assign_split

    df = spark.range(0, 500).withColumnRenamed("id", "k")
    a = {r["k"]: r["split"] for r in assign_split(df, "k").collect()}
    assert set(a.values()) == {"train", "val", "test"}
    # 90/5/5-ish proportions
    n_train = sum(1 for v in a.values() if v == "train")
    assert 0.8 * 500 < n_train < 0.97 * 500
    # growing the corpus never moves an existing row between splits
    b = {
        r["k"]: r["split"]
        for r in assign_split(
            spark.range(0, 1000).withColumnRenamed("id", "k"), "k"
        ).collect()
    }
    assert all(b[k] == v for k, v in a.items())
    with pytest.raises(ValueError):
        assign_split(df, "k", {"train": 50, "test": 40})


def test_interleave_bits_matches_reference(spark):
    from avk_job_skill_analytics_spark.plans.zorder import interleave_bits

    def ref(x, y, bits):
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    pairs = [(0, 0), (1, 0), (0, 1), (3, 5), (255, 1), (170, 85)]
    df = spark.createDataFrame(pairs, ["x", "y"])
    out = df.select(
        "x", "y",
        interleave_bits([F.col("x"), F.col("y")], bits=8).alias("z"),
    ).collect()
    for r in out:
        assert r["z"] == ref(r["x"], r["y"], 8), (r["x"], r["y"])


def test_zorder_partitions_are_local_rectangles(spark):
    from avk_job_skill_analytics_spark.plans.zorder import zorder_clustered

    # a 64x64 uniform grid z-clustered into 16 partitions: contiguous
    # Morton ranges give each partition a bounding rectangle far
    # smaller than the full space (that's what makes footer stats
    # selective on BOTH dims)
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    parts = (
        zorder_clustered(grid, ["x", "y"], 16, bits=6)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            F.min("x").alias("x0"), F.max("x").alias("x1"),
            F.min("y").alias("y0"), F.max("y").alias("y1"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    assert sum(p["n"] for p in parts) == 64 * 64
    areas = [
        (p["x1"] - p["x0"] + 1) * (p["y1"] - p["y0"] + 1) for p in parts
    ]
    # every partition's bbox covers well under half the 4096-cell space
    assert max(areas) <= 64 * 64 / 2, areas


def test_compact_parquet_reduces_files_keeps_rows(spark, tmp_path):
    from avk_job_skill_analytics_spark.sources.sinks import compact_parquet

    src, dst = str(tmp_path / "small"), str(tmp_path / "compact")
    spark.range(0, 10_000).repartition(64).write.parquet(src)
    stats = compact_parquet(spark, src, dst, target_mb=128)
    assert stats["n_src_files"] == 64
    assert stats["n_out_files"] == 1
    import glob
    out_files = [
        f for f in glob.glob(f"{dst}/*.parquet")
    ]
    assert len(out_files) == stats["n_out_files"]
    back = spark.read.parquet(dst)
    assert back.count() == 10_000
    assert back.agg(F.sum("id")).first()[0] == sum(range(10_000))


def test_weighted_median_definition(spark):
    """Lower weighted median: smallest value whose cumulative weight
    covers half the total — checked against hand arithmetic including
    the exact-half boundary."""
    import __spark_entry__  # noqa: F401 — registry import side effects
    from avk_job_skill_analytics_spark.registry.window_queries import (
        QUERIES,
    )

    # values 10(w=1), 20(w=1): total 2, half 1 -> 2*cw(10)=2 >= 2:
    # the LOWER median is 10.  values 1(w=1), 5(w=9): median 5.
    # Build via a temp parquet pair shaped like lineitem/part.
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="wmed_")
    try:
        spark.createDataFrame(
            [(1, 0.10, 1.0), (1, 0.20, 1.0),
             (2, 0.01, 1.0), (2, 0.05, 9.0)],
            "l_partkey long, l_extendedprice double, l_quantity double",
        ).write.parquet(f"{d}/lineitem.parquet")
        spark.createDataFrame(
            [(1, "A"), (2, "B")], "p_partkey long, p_type string"
        ).write.parquet(f"{d}/part.parquet")
        out = {r["p_type"]: r.asDict()
               for r in QUERIES["agg_weighted_median"](spark, d)
               .collect()}
        assert out["A"]["wmedian_cents"] == 10
        assert out["A"]["total_w"] == 2
        assert out["B"]["wmedian_cents"] == 5
        assert out["B"]["total_w"] == 10
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_longest_streak_islands_and_tiebreak(spark):
    """Hand-built series: median bar, strict inequality, island
    grouping across a gap, and earliest-start tie-break."""
    from avk_job_skill_analytics_spark.operators.analytics import (
        longest_streak,
    )

    # key 'a': xs by day 1..9 = [1,9,9,1,9,9,1,1,1]; sorted rank 5
    # median = 1; qualifying days (x>1): 2,3,5,6 -> islands
    # {2,3} and {5,6}, both length 2 -> earliest start wins (2).
    rows = [("a", d, x) for d, x in
            enumerate([1, 9, 9, 1, 9, 9, 1, 1, 1], start=1)]
    # key 'b': one long surge: [1,1,5,5,5,1] -> median 1(lower),
    # wait: sorted [1,1,1,5,5,5] rank 3 -> 1; qual days 3,4,5 len 3
    rows += [("b", d, x) for d, x in
             enumerate([1, 1, 5, 5, 5, 1], start=1)]
    df = spark.createDataFrame(rows, "k string, d int, x long")
    out = {r["k"]: r.asDict()
           for r in longest_streak(df, "k", "d", "x").collect()}
    assert out["a"]["median_x"] == 1
    assert out["a"]["longest_streak"] == 2
    assert (out["a"]["streak_start"], out["a"]["streak_end"]) == (2, 3)
    assert out["b"]["longest_streak"] == 3
    assert (out["b"]["streak_start"], out["b"]["streak_end"]) == (3, 5)


def test_pseudonymize_preserves_joins_and_rotates(spark):
    """The pseudonym join reproduces the raw-key join exactly, and
    rotating the salt breaks cross-release linkage."""
    from avk_job_skill_analytics_spark.operators.privacy import (
        pseudonymize,
    )

    c = spark.createDataFrame([(1, "A"), (2, "B")], "k long, seg string")
    o = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 30), (9, 99)], "k long, v int"
    )
    cp = pseudonymize(c, "k", "s1").drop("k")
    op = pseudonymize(o, "k", "s1").drop("k")
    joined = cp.join(op, "pseudonym").groupBy("seg").count().collect()
    assert {r["seg"]: r["count"] for r in joined} == {"A": 2, "B": 1}
    # determinism: same salt+key -> same pseudonym across frames
    a = pseudonymize(c, "k", "s1").select("pseudonym").collect()
    b = pseudonymize(c, "k", "s1").select("pseudonym").collect()
    assert [r[0] for r in a] == [r[0] for r in b]
    # rotation: a different salt shares no pseudonyms
    rot = {r[0] for r in pseudonymize(c, "k", "s2")
           .select("pseudonym").collect()}
    assert rot.isdisjoint({r[0] for r in a})


def _run_masses(text: str, n: int) -> tuple[int, int]:
    """Plain-Python repetition reference: (top, dup) character mass of
    the width-n word grams, counted with overlap."""
    from collections import Counter

    w = [t for t in text.split(" ") if t]
    counts = Counter(" ".join(w[i:i + n]) for i in range(len(w) - n + 1))
    masses = [c * len(g) for g, c in counts.items()]
    dup = sum(c * len(g) for g, c in counts.items() if c > 1)
    return max(masses, default=0), dup


def test_repetition_rules_unigrams_match_reference(spark):
    """Width 1 reads the token array itself (there is no _g1 gram
    column); every width is checked against the run-mass reference."""
    from avk_job_skill_analytics_spark.operators.textstats import (
        repetition_rules,
    )

    texts = ["aa b aa c aa b", "solo", "x  y z", "the cat the cat sat"]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r.asDict()
        for r in repetition_rules(
            df, "doc_id", "text", top_ns=(1, 2), dup_ns=(1, 3),
            top_caps_fp=(10**9, 10**9), dup_caps_fp=(10**9, 10**9),
        ).collect()
    }
    for i, text in enumerate(texts):
        total = len(" ".join(t for t in text.split(" ") if t))
        for n in (1, 2):
            top = _run_masses(text, n)[0]
            assert rows[i][f"top_{n}gram_fp"] == 10**6 * top // total
        for n in (1, 3):
            dup = _run_masses(text, n)[1]
            assert rows[i][f"dup_{n}gram_fp"] == 10**6 * dup // total
        assert rows[i]["passes"] is True
    assert rows[0]["top_1gram_fp"] == 10**6 * 6 // 14


def test_repetition_rules_rejects_width_below_one(spark):
    from avk_job_skill_analytics_spark.operators.textstats import (
        repetition_rules,
    )

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match=">= 1"):
        repetition_rules(df, "doc_id", "text", top_ns=(0, 2))
