"""Property-based tests (hypothesis) for the trickiest scalar
semantics — SURVEY.md §5.5: idempotence of the normalizers, salary
range laws, dedup invariants, and signature stability. Each example
batch runs as ONE Spark job (a list-strategy per example), keeping
wall-clock sane."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from avk_job_skill_analytics_spark.functions import (
    clean_job_title,
    normalize_salary,
    normalize_skill_list,
    normalize_text,
)
from avk_job_skill_analytics_spark.operators.setops import dedup_keep_first

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

# printable-ish text including the separators/noise the cleaners target
_титle_alphabet = st.characters(
    whitelist_categories=("Lu", "Ll", "Nd", "Zs"),
    whitelist_characters="()[]{}|/-#,.&+",
)
_texts = st.lists(
    st.text(alphabet=_титle_alphabet, min_size=0, max_size=60),
    min_size=1,
    max_size=25,
)


def _col_results(spark, values, expr_builder):
    df = spark.createDataFrame([(v,) for v in values], ["x"])
    return [r["y"] for r in df.select(expr_builder("x").alias("y")).collect()]


@settings(**_SETTINGS)
@given(_texts)
@example(["0jR"])  # a digit glued to a noise word
@example(["senior2 dev"])
def test_clean_title_invariants(spark, titles):
    # NOTE: F2 is deliberately NOT idempotent in the general case —
    # collapsing whitespace can expose a two-word noise phrase that
    # only the next pass would drop ('immediate i joiner' ->
    # 'Immediate Joiner' -> ''), as in the reference's pandas regex
    # chain (src/transform.py:67-96). The contract is the OUTPUT shape:
    out = _col_results(spark, titles, clean_job_title)
    for s in out:
        assert s is not None
        # only letters and single spaces, trimmed
        assert all(c.isalpha() or c == " " for c in s), repr(s)
        assert "  " not in s and s == s.strip()
        # noise words and bracketed content are gone
        low = {w.lower() for w in s.split()}
        assert not ({"senior", "jr", "intern", "remote"} & low)


@settings(**_SETTINGS)
@given(_texts)
def test_normalize_text_idempotent(spark, values):
    once = _col_results(spark, values, normalize_text)
    twice = _col_results(spark, once, normalize_text)
    assert once == twice


@settings(**_SETTINGS)
@given(_texts)
def test_skill_list_idempotent_and_shape(spark, values):
    once = _col_results(spark, values, normalize_skill_list)
    twice = _col_results(spark, once, normalize_skill_list)
    assert once == twice
    for s in once:
        # canonical shape: 'not listed' or lowercase ', '-joined tokens
        assert s == "not listed" or (
            s == s.lower() and "  " not in s and not s.startswith(",")
        )


@settings(**_SETTINGS)
@given(
    st.lists(
        st.one_of(
            st.floats(min_value=0, max_value=10_000_000,
                      allow_nan=False, allow_infinity=False),
            st.integers(min_value=0, max_value=10_000_000),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_salary_laws(spark, nums):
    raw = [f"${n:,.2f}" for n in nums]
    out = _col_results(spark, raw, normalize_salary)
    for s, got in zip(raw, out):
        assert got is not None
        # law is on the PARSED value (the string carries 2 decimals)
        parsed = float(s.replace("$", "").replace(",", ""))
        expected = parsed * 2000 if parsed <= 1000 else parsed
        assert got == int(expected)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100)),
        min_size=1,
        max_size=40,
    )
)
def test_dedup_keep_first_invariants(spark, rows):
    df = spark.createDataFrame(
        [(i, k) for i, (k, _) in enumerate(rows)], ["seq", "key"]
    )
    out = dedup_keep_first(df, ["key"], [F.col("seq").asc()]).collect()
    keys = [r["key"] for r in out]
    # one survivor per key, and it is the FIRST occurrence by seq
    assert len(keys) == len(set(keys)) == len({k for k, _ in rows})
    first_seq = {}
    for i, (k, _) in enumerate(rows):
        first_seq.setdefault(k, i)
    assert {r["key"]: r["seq"] for r in out} == first_seq


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text(alphabet=st.characters(whitelist_categories=("Ll", "Nd"),
                                       whitelist_characters=" "),
                min_size=0, max_size=120),
        min_size=1, max_size=10,
    ),
    st.integers(min_value=2, max_value=12),
    st.integers(min_value=0, max_value=6),
)
def test_chunking_reconstructs_documents(spark, texts, chunk, overlap):
    """Dropping each chunk's leading `overlap` tokens (except the
    first chunk) and concatenating must reproduce the document's
    token stream exactly — no token lost, none duplicated."""
    from avk_job_skill_analytics_spark.operators.textstats import (
        chunk_documents,
    )

    if overlap >= chunk:
        overlap = chunk - 1
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    rows = chunk_documents(df, "doc_id", "text", chunk, overlap).collect()
    got = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["chunk_idx"])):
        toks = r["chunk_text"].split() if r["chunk_text"] else []
        prev = got.setdefault(r["doc_id"], [])
        prev.extend(toks if r["chunk_idx"] == 0 else toks[overlap:])
    for i, text in enumerate(texts):
        expect = text.split()
        assert got.get(i, []) == expect or (not expect and i not in got)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(st.floats(min_value=-100, max_value=100,
                           allow_nan=False, width=32),
                 min_size=1, max_size=8),
        min_size=1, max_size=10,
    )
)
def test_quantize_int8_error_bound(spark, vecs):
    """Dequantized values (code*scale) must sit within scale/2 of the
    original — the defining property of symmetric scalar quantization;
    codes stay in [-127, 127]."""
    from avk_job_skill_analytics_spark.operators.similarity import (
        quantize_int8,
    )

    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    for r in quantize_int8(df, "vec_id", "embedding").collect():
        orig = [float(x) for x in vecs[r["vec_id"]]]
        assert all(-127 <= c <= 127 for c in r["codes"])
        if r["scale"] == 0.0:
            assert all(c == 0 for c in r["codes"])
            continue
        for x, c in zip(orig, r["codes"]):
            assert abs(c * r["scale"] - x) <= r["scale"] / 2 + 1e-9


# ------------------------------------------------- media header roundtrips
@given(
    w=st.integers(min_value=1, max_value=65535),
    h=st.integers(min_value=1, max_value=65535),
)
@settings(max_examples=50, deadline=None)
def test_jpeg_header_roundtrip(w, h):
    # pure-Python property: every 16-bit geometry survives the SOF0
    # encode -> marker-walk decode roundtrip
    from avk_job_skill_analytics_spark.operators.multimodal import (
        build_jpeg,
        parse_media_header,
    )

    assert parse_media_header(build_jpeg(w, h)) == (41, w, h, "jpeg")


@given(
    w=st.integers(min_value=1, max_value=16383),
    h=st.integers(min_value=1, max_value=16383),
    lossless=st.booleans(),
)
@settings(max_examples=50, deadline=None)
def test_webp_header_roundtrip(w, h, lossless):
    # VP8 dims are 14-bit; VP8L stores (dim-1) in 14-bit fields —
    # both must roundtrip over the full legal range
    from avk_job_skill_analytics_spark.operators.multimodal import (
        build_webp,
        parse_media_header,
    )

    n = 26 if lossless else 30
    assert parse_media_header(build_webp(w, h, lossless)) == (
        n, w, h, "webp"
    )


@given(payload=st.binary(min_size=0, max_size=200))
@settings(max_examples=100, deadline=None)
def test_parse_media_header_never_raises(payload):
    # arbitrary bytes (including ones that start with valid magics)
    # must quarantine to None or parse — never raise
    from avk_job_skill_analytics_spark.operators.multimodal import (
        parse_media_header,
    )

    for prefix in (b"", b"\xff\xd8", b"RIFF\x10\x00\x00\x00WEBP",
                   b"RIFF\x10\x00\x00\x00WAVE", b"BM", b"\x89PNG\r\n\x1a\n"):
        out = parse_media_header(prefix + payload)
        assert out is None or (len(out) == 4 and out[3] in
                               ("png", "bmp", "wav", "jpeg", "webp"))


@given(
    vals=st.lists(
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        min_size=1, max_size=24,
    )
)
@settings(**_SETTINGS)
def test_sql_double_roundtrips_bit_exact(spark, vals):
    # the inlined-codebook cornerstone: CAST('<repr>' AS DOUBLE) must
    # parse back to the IDENTICAL IEEE double for any finite value —
    # one Spark job per example batch
    import math
    import struct

    from avk_job_skill_analytics_spark.operators.clustering import (
        sql_double,
    )

    exprs = [f"{sql_double(v)} AS c{i}" for i, v in enumerate(vals)]
    row = spark.range(1).selectExpr(*exprs).collect()[0]
    for i, v in enumerate(vals):
        got = row[f"c{i}"]
        assert struct.pack(">d", got) == struct.pack(">d", v), (v, got)
        assert math.isfinite(got)


@given(
    st.lists(
        st.lists(
            st.integers(min_value=0, max_value=12),  # small universe
            min_size=0, max_size=10,
        ),
        min_size=1, max_size=12,
    ),
    st.sampled_from([(1, 2), (2, 3), (7, 10)]),
)
@settings(**_SETTINGS)
def test_prefix_filter_join_equals_bruteforce(spark, docs, t):
    """EXACTNESS LAW (ssjoin.prefix_filter_pairs): for arbitrary
    small sets and thresholds, the prefix+size+positional filters
    must be lossless — output == all-pairs brute force, with exact
    intersection/union counts."""
    import itertools

    from avk_job_skill_analytics_spark.operators import ssjoin

    tn, td = t
    sets = {i: set(d) for i, d in enumerate(docs)}
    rows = [(i, str(e)) for i, d in sets.items() for e in d]
    if not rows:
        return
    toks = spark.createDataFrame(rows, "doc_id long, term string")
    got = {
        (r["id_a"], r["id_b"]): (r["inter"], r["uni"])
        for r in ssjoin.prefix_filter_pairs(
            toks, "doc_id", "term", t_num=tn, t_den=td
        ).collect()
    }
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        if not sets[a] or not sets[b]:
            continue
        i = len(sets[a] & sets[b])
        u = len(sets[a] | sets[b])
        if i * td >= tn * u:
            want[(a, b)] = (i, u)
    assert got == want


def test_knuth32_split_identity_and_scale_safety(spark):
    """hashing.knuth32 must equal the naive (x*K) mod 2^32 wherever
    the naive form doesn't overflow, and must RUN for ids past the
    2^63/K overflow horizon that sank the naive form at sf1 (the
    sf1 replicas shift keys by r*2^33)."""
    from hypothesis import given, settings, strategies as st

    from avk_job_skill_analytics_spark.operators.hashing import (
        KNUTH,
        knuth32,
    )

    @given(st.integers(min_value=0, max_value=(1 << 63) - 1))
    @settings(max_examples=300, deadline=None)
    def identity(x):
        y = x % (1 << 32)
        h, lo = y >> 16, y & 65535
        split = ((h * KNUTH % 65536) * 65536 + lo * KNUTH) % (1 << 32)
        assert split == (x * KNUTH) % (1 << 32)

    identity()

    # the Column version agrees with Python on the overflow horizon
    ids = [0, 1, 149, 2**31 - 1, 2**32 - 1, 2**33 * 9 + 12345,
           2**62 + 7, 2**63 - 1]
    df = spark.createDataFrame([(i,) for i in ids], "x long")
    got = {r["x"]: r["k"] for r in df.select(
        "x", knuth32(F.col("x")).alias("k")).collect()}
    for x in ids:
        assert got[x] == (x * KNUTH) % (1 << 32)


def test_assign_split_survives_sf1_scale_ids(spark):
    """The sampling coin must not raise ARITHMETIC_OVERFLOW for
    key-shifted ids (the sf1 replica reaches ~7.7e10)."""
    from avk_job_skill_analytics_spark.operators import sampling

    big = spark.createDataFrame(
        [((1 << 33) * r + i,) for r in range(10) for i in range(20)],
        "doc_id long")
    out = sampling.assign_split(big, "doc_id")
    rows = out.collect()
    assert len(rows) == 200
    assert {r["split"] for r in rows} <= {"train", "val", "test"}


def test_knuth_bucket_uses_high_bits_not_parity(spark):
    """hashing.knuth_bucket(id, 2) must NOT be the id-parity split
    (K is odd, so knuth32 % 2 == id % 2 — the round-8 advice finding):
    arms must disagree with parity on a healthy fraction of ids, stay
    near 50/50 globally, AND stay near 50/50 within each parity class
    (the confound srm_check cannot see). Same high-bits rule for a
    100-bucket split: every residue class mod 4 must spread over many
    buckets (the low-bit failure pinned bucket%4 to id%4)."""
    from avk_job_skill_analytics_spark.operators.hashing import (
        knuth_bucket,
    )

    n = 4096
    df = spark.range(n).select(
        F.col("id"),
        knuth_bucket(F.col("id"), 2).alias("arm"),
        knuth_bucket(F.col("id"), 100).alias("b100"),
    )
    rows = df.collect()
    arms = {r["id"]: r["arm"] for r in rows}
    assert all(v in (0, 1) for v in arms.values())
    disagree = sum(1 for i, a in arms.items() if a != i % 2)
    assert 0.25 * n < disagree < 0.75 * n
    ones = sum(arms.values())
    assert abs(ones - n / 2) < 0.05 * n
    for parity in (0, 1):
        cls = [a for i, a in arms.items() if i % 2 == parity]
        assert abs(sum(cls) - len(cls) / 2) < 0.08 * len(cls)
    from collections import defaultdict
    per_residue = defaultdict(set)
    for r in rows:
        assert 0 <= r["b100"] < 100
        per_residue[r["id"] % 4].add(r["b100"] % 4)
    for residue, seen in per_residue.items():
        assert len(seen) == 4, f"bucket%4 pinned for id%4=={residue}"


@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "bb", "ccc", "dd", "e"]),
            min_size=0, max_size=14,
        ),
        min_size=1, max_size=8,
    )
)
@settings(**_SETTINGS)
def test_repetition_fold_equals_brute_counts(spark, docs):
    """The sorted-run array fold must equal the brute-force
    counter-based definition (count per gram, overlap-counted) for
    every n on arbitrary token streams — including heavy duplication,
    empty docs, and docs shorter than n."""
    from collections import Counter

    from avk_job_skill_analytics_spark.operators.textstats import (
        repetition_rules,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in repetition_rules(df, "doc_id", "text").collect()}
    for i, toks in enumerate(docs):
        toks = [t for t in toks if t]
        if not toks:
            assert i not in got     # empty docs drop (no token mass)
            continue
        total = len(" ".join(toks))
        for n in range(2, 11):
            grams = [" ".join(toks[j:j + n])
                     for j in range(len(toks) - n + 1)]
            c = Counter(grams)
            top = max((k * len(g) for g, k in c.items()), default=0)
            dup = sum(k * len(g) for g, k in c.items() if k > 1)
            want = top if n <= 4 else dup
            col = (f"top_{n}gram_fp" if n <= 4 else f"dup_{n}gram_fp")
            assert got[i][col] == (1_000_000 * want) // total, (i, n)


@given(
    st.lists(st.integers(min_value=0, max_value=10_000),
             min_size=1, max_size=40)
)
@settings(**_SETTINGS)
def test_cusum_identity_equals_sequential_fold(spark, xs):
    """The prefix-sum/running-min spelling equals the classic
    sequential max(0, S + dev - ks) fold on arbitrary non-negative
    integer series (including all-zero baselines)."""
    from avk_job_skill_analytics_spark.operators.analytics import (
        cusum_changepoint,
    )

    df = spark.createDataFrame(
        [(i + 1, x) for i, x in enumerate(xs)], "d int, x long"
    )
    out = {r["d"]: r.asDict()
           for r in cusum_changepoint(df, "d", "x").collect()}
    tw = sum(xs[:7])
    ks = tw // 2
    up = down = 0
    for d, x in enumerate(xs, start=1):
        dev = 7 * x - tw
        up = max(0, up + dev - ks)
        down = max(0, down - dev - ks)
        assert out[d]["cusum_up"] == up, d
        assert out[d]["cusum_down"] == down, d


@given(
    kind=st.integers(0, 5),
    seed=st.integers(0, 2**31 - 1),
    n_flips=st.integers(1, 12),
)
@settings(max_examples=120, deadline=None)
def test_decoders_never_raise_on_corrupt_payloads(kind, seed, n_flips):
    """Quarantine-and-continue, adversarially: every media decoder
    must either decode or return None on arbitrarily bit-flipped
    payloads — ONE raised exception inside the mapInPandas stage
    would kill a whole Arrow batch of good assets. (Deterministic
    LCG corruption — no RNG in tests.)"""
    from avk_job_skill_analytics_spark.operators import multimodal as M
    from avk_job_skill_analytics_spark.operators.jpegcodec import (
        build_jpeg_pixels,
        build_jpeg_progressive,
        decode_jpeg_pixels,
    )
    from avk_job_skill_analytics_spark.operators.webpcodec import (
        build_webp_pixels,
        decode_webp_pixels,
    )

    builders = (
        lambda: M.build_png_pixels(6, 5, lambda x, y: (x, y, 7)),
        lambda: M.build_bmp_pixels(6, 5, lambda x, y: (x, y, 7)),
        lambda: build_jpeg_pixels(8, 8, lambda x, y: 99, grey=True),
        lambda: build_webp_pixels(6, 5, lambda x, y: (x, y, 7)),
        lambda: M.build_wav_pcm(8000, 1, [3, -3, 5, -5]),
        lambda: build_jpeg_progressive(
            16, 16, lambda x, y: (x * 5 + y * 3) % 256, grey=True),
    )
    decoders = (
        M.decode_png_pixels, M.decode_bmp_pixels, decode_jpeg_pixels,
        decode_webp_pixels, M.decode_wav_pcm, decode_jpeg_pixels,
    )
    payload = bytearray(builders[kind]())
    state = seed
    for _ in range(n_flips):
        state = (1103515245 * state + 12345) % (1 << 31)
        payload[state % len(payload)] ^= 1 << (state % 8)
    for dec in (*decoders, M.decode_y4m, M.decode_pixels,
                M.parse_media_header, M.ahash_payload):
        out = dec(bytes(payload))  # must not raise
        assert out is None or isinstance(out, tuple)
