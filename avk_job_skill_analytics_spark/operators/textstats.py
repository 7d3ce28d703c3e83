"""Text analysis operators for corpus curation (beyond-reference).

Language ID (marker-word heuristic), quality scoring, token counting,
and document fingerprinting — all pure Column expressions over the
``documents`` table shape, no UDFs, so they run inside whole-stage
codegen at full scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..plans.session import tiny_df
from .exactlog import as_dec, log_frac
from .hashing import MERSENNE_P, md5_long

# language → marker-word regex (an n-gram/stopword heuristic in the
# spirit of langid's feature tables; deliberately tiny & deterministic)
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|data)\b",
    "es": r"\b(el|la|los|las|de)\b",
    "fr": r"\b(le|la|les|des|une)\b",
}

STOPWORD_RX = r"\b(the|a|an|and|or|of|to|in|is|it)\b"
PUNCT_RX = r"[^\w\s]"


def lang_scores(text: Column, markers: dict[str, str] | None = None) -> dict[str, Column]:
    """Per-language marker-hit counts."""
    return {
        lang: F.regexp_count(text, F.lit(rx))
        for lang, rx in (markers or LANG_MARKERS).items()
    }


def predict_lang(text: Column, markers: dict[str, str] | None = None,
                 default: str = "unknown") -> Column:
    """Argmax language by marker count; ties break by language-code
    order; all-zero → default. Expressed as a nested CASE so the same
    logic is writable in ANSI SQL."""
    scores = lang_scores(text, markers)
    langs = sorted(scores)
    # forward CASE: first language (code order) with a positive score
    # that is >= every later language wins — earlier code wins ties
    expr = None
    for idx, lang in enumerate(langs):
        cond = scores[lang] > 0
        for later in langs[idx + 1:]:
            cond = cond & (scores[lang] >= scores[later])
        clause = F.when(cond, F.lit(lang))
        expr = clause if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit(default))


def word_count(text: Column) -> Column:
    """Whitespace token count (empty tokens from repeated spaces are
    not counted)."""
    return F.size(F.filter(F.split(text, r"\s+"), lambda x: x != "")).cast("long")


def bpe_token_estimate(text: Column, chars_per_token: float = 4.0) -> Column:
    """BPE-ish token-count estimate: ceil(chars / 4) — the standard
    chars-per-token rule of thumb for byte-pair encodings."""
    return F.ceil(F.length(text) / F.lit(chars_per_token)).cast("long")


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio features for document
    quality filtering (the usual pre-training heuristics)."""
    n_chars = F.length(text).cast("long")
    n_words = word_count(text)
    n_stop = F.regexp_count(text, F.lit(STOPWORD_RX)).cast("long")
    n_punct = F.regexp_count(text, F.lit(PUNCT_RX)).cast("long")
    stop_ratio = F.round(n_stop / F.greatest(n_words, F.lit(1)), 4)
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4)
    avg_word_len = F.round(n_chars / F.greatest(n_words, F.lit(1)), 4)
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "stop_ratio": stop_ratio,
        "punct_ratio": punct_ratio,
        "avg_word_len": avg_word_len,
    }


def quality_score(text: Column) -> Column:
    """Scalar quality score in [0,1]: rewards in-range length, real
    words, and stopword presence; penalizes punctuation soup. Weights
    are fixed and documented — the point is a deterministic, cheap,
    interpretable score, not a learned model."""
    f = quality_features(text)
    length_ok = F.when(
        (f["n_chars"] >= 50) & (f["n_chars"] <= 10000), F.lit(1.0)
    ).otherwise(F.lit(0.3))
    stop_ok = F.when(f["stop_ratio"] >= 0.05, F.lit(1.0)).otherwise(F.lit(0.5))
    punct_ok = F.when(f["punct_ratio"] <= 0.2, F.lit(1.0)).otherwise(F.lit(0.4))
    return F.round((length_ok * 0.4 + stop_ok * 0.3 + punct_ok * 0.3), 4)


def tokens(df, id_col: str, text_col: str, distinct: bool = False):
    """Word tokens as (id, term) rows — the base relation for tf-idf,
    n-gram counts, and inverted indexes. One explode; ``distinct``
    adds the per-document dedup shuffle."""
    out = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
        ).alias("term"),
    )
    return out.distinct() if distinct else out


def tf_idf(df, id_col: str, text_col: str,
           round_digits: int = 4):
    """TF-IDF per (document, term): tf = in-doc term count,
    idf = ln(N / df). Two hash aggregates over the token relation plus
    a broadcast of the (small) document-frequency side; the raw-count
    variant keeps the math engine-portable (no smoothing constants to
    disagree on).

    At 100 TB the df table itself is large: it stays a shuffle join on
    ``term`` (well-distributed by construction), and N is a scalar
    broadcast."""
    toks = tokens(df, id_col, text_col)
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("term").agg(
        F.countDistinct(id_col).alias("df")
    )
    n_docs = df.select(F.countDistinct(id_col).alias("n"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round(
                F.col("tf") * log_frac(F.col("n"), F.col("df")),
                round_digits,
            ).alias("tfidf"),
        )
    )


def top_ngrams(df, id_col: str, text_col: str, n: int = 2,
               k: int = 20):
    """Global top-k word n-grams by occurrence count (corpus phrase
    statistics). Sliding n-gram expansion per document, one hash
    aggregate, bounded TakeOrderedAndProject for the top-k.

    The token array is projected into its own column first so the
    (expensive) regex split + filter runs once per row — inlining it
    into each consumer re-evaluates the HOF ~3x (measured 4-5x slower
    end-to-end)."""
    w = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    toks = df.select(w.alias("_w")).filter(F.size("_w") >= n)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_w") - (n - 1)),
        lambda i: F.array_join(F.slice(F.col("_w"), i, n), " "),
    )
    return (
        toks.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("ngram"))
        .limit(k)
    )


def gopher_quality(df, id_col: str, text_col: str,
                   min_words: int = 10, max_words: int = 100_000,
                   min_word_len: float = 2.0, max_word_len: float = 10.0,
                   min_ttr: float = 0.2, max_top_frac: float = 0.2):
    """Gopher-style repetition/quality rules per document (Rae et al.
    2021 §A1.1 heuristics, re-expressed relationally): word count
    bounds, mean word length bounds, type-token ratio floor, and a cap
    on the most-frequent word's share. Emits the features plus a
    ``passes`` verdict computed from the ROUNDED features so any
    engine reproduces the same booleans.

    Array-local features (count, mean length, TTR) are per-row fold
    expressions inside codegen — no shuffle; the most-common-word
    share needs a per-(doc, term) count, so it's one explode plus two
    hash aggregates keyed by doc id, which scales linearly and
    partitions evenly at 100 TB (doc ids are unique — no skew)."""
    toks = df.select(
        F.col(id_col),
        F.filter(F.split(F.col(text_col), " "), lambda x: x != "").alias("_w"),
    ).filter(F.size("_w") >= 1)
    stats = toks.select(
        F.col(id_col),
        F.size("_w").cast("long").alias("n_words"),
        F.round(
            F.aggregate(
                F.transform("_w", lambda x: F.length(x).cast("double")),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            / F.size("_w"),
            4,
        ).alias("mean_word_len"),
        F.round(
            F.size(F.array_distinct("_w")) / F.size("_w").cast("double"), 4
        ).alias("ttr"),
    )
    top = (
        toks.select(F.col(id_col), F.explode("_w").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(F.max("cnt").alias("_top_cnt"))
    )
    joined = stats.join(top, id_col).withColumn(
        "top_word_frac",
        F.round(F.col("_top_cnt") / F.col("n_words").cast("double"), 4),
    )
    passes = (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(min_word_len, max_word_len)
        & (F.col("ttr") >= min_ttr)
        & (F.col("top_word_frac") <= max_top_frac)
    )
    return joined.select(
        id_col, "n_words", "mean_word_len", "ttr", "top_word_frac",
        passes.alias("passes"),
    )


def canonical_fingerprint(text: Column) -> Column:
    """Exact-dup fingerprint over the canonical form (lowercase,
    whitespace collapsed): md5 hex. Robust to formatting noise."""
    canon = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    return F.md5(canon)


def rolling_fingerprint(text: Column) -> Column:
    """Order-sensitive polynomial rolling hash over word-token hashes:
    fp = fold(tokens, 0, (acc, t) -> (acc*31 + h(t)) mod P). Unlike a
    set-based signature, token ORDER matters — reorderings produce
    different fingerprints. Pure fold, engine-portable."""
    toks = F.filter(F.split(text, r"\s+"), lambda x: x != "")
    hashes = F.transform(toks, lambda t: md5_long(t) % MERSENNE_P)
    return F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 31 + h) % MERSENNE_P,
    )


def unigram_logprob(df, id_col: str, text_col: str,
                    round_digits: int = 4):
    """Per-document mean unigram log-likelihood under the corpus's own
    unigram distribution — the classic cheap "perplexity-ish" quality
    signal (docs full of globally-rare tokens score low; KenLM-style
    n-gram models plug into the same shape). Returns (id, n_tokens,
    avg_logprob).

    Two passes over the token relation: a term-frequency aggregate
    (the "model"), then a join back on ``term`` and a per-doc mean of
    ln(count/N). The vocabulary aggregate is tiny relative to the
    corpus (Heaps' law), so AQE runtime-broadcasts it into the
    scoring join — no hard hint, nothing about the corpus side ever
    re-shuffles. N arrives as a 1-row broadcast."""
    toks = tokens(df, id_col, text_col)
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("n_total"))
    return (
        toks.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(log_frac(F.col("c"), F.col("n_total"))),
                round_digits,
            ).alias("avg_logprob"),
        )
    )


def bigram_logprob(df, id_col: str, text_col: str,
                   round_digits: int = 4):
    """Per-document mean bigram log-likelihood + perplexity under the
    corpus's own add-1-smoothed bigram LM — the CCNet-style
    perplexity gate (Wenzek et al., "CCNet: Extracting high quality
    monolingual datasets from web crawl data", 2020) one rung up from
    :func:`unigram_logprob`: repetitive or boilerplate-heavy docs
    score HIGH probability, incoherent token soup scores LOW, and
    curation keeps the middle band.

    Model and scoring come out of one bigram relation: contexts are
    c(prev) = Σ_cur c(prev, cur) (so the distribution conditions on
    exactly the events it normalizes over), smoothing is add-1 over
    the successor vocabulary V, p(cur|prev) = (c+1)/(c_ctx+V).
    Counts are exact integers, so the only float ops are one divide,
    one ln per scored bigram, and the per-doc mean — rounded at 4
    (the kl_by_source convention absorbing accumulation order).
    Docs with < 2 tokens have no bigrams and drop out. The vocabulary
    and model aggregates are Heaps-law small next to the corpus; AQE
    broadcasts them into the scoring join. Returns
    (id, n_bigrams, avg_logprob, ppl)."""
    base = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.col(text_col), r"\s+"), lambda x: x != ""
        ).alias("_w"),
    ).filter(F.size("_w") >= 2)
    bg = base.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_w") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("_w"), i).alias("prev"),
                    F.element_at(F.col("_w"), i + 1).alias("cur"),
                ),
            )
        ).alias("_b"),
    ).select(
        id_col,
        F.col("_b").getField("prev").alias("prev"),
        F.col("_b").getField("cur").alias("cur"),
    )
    model = bg.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c"))
    ctx = model.groupBy("prev").agg(F.sum("c").alias("cc"))
    vocab = bg.agg(F.countDistinct("cur").alias("v"))
    lp = log_frac(F.col("c") + 1, F.col("cc") + F.col("v"))
    return (
        bg.join(model, ["prev", "cur"])
        .join(ctx, "prev")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(lp), round_digits).alias("avg_logprob"),
            F.round(F.exp(-F.avg(lp)), round_digits).alias("ppl"),
        )
    )


def kl_by_source(df, source_col: str, text_col: str,
                 round_digits: int = 4):
    """Per-source KL divergence KL(p_source || p_corpus) over unigram
    distributions — the standard distribution-shift / contamination
    monitor for mixed-source training data (a source whose token mix
    drifts from the corpus stands out). Returns (source, n_tokens,
    kl).

    Every source's term count and the corpus's term count come out of
    ONE token pass (the corpus side re-aggregates the per-source
    frame, never the raw tokens); the join is keyed on ``term``.
    p > 0 ⇒ q > 0 by construction (every source token is a corpus
    token), so the sum is total."""
    toks = df.select(
        F.col(source_col).alias("source"),
        F.explode(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
        ).alias("term"),
    )
    per_src = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("c_st")
    )
    src_tot = per_src.groupBy("source").agg(
        F.sum("c_st").alias("n_s")
    )
    corpus = per_src.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    corpus_tot = corpus.agg(F.sum("c_t").alias("n"))
    p = F.col("c_st") / F.col("n_s")
    # ln(p/q) = ln((c_st·n)/(c_t·n_s)) — ONE log of one exact
    # integer fraction (exactlog discipline; decimal carriers keep
    # the 1e12×1e12 cross products from wrapping int64)
    lpq = log_frac(
        as_dec(F.col("c_st")) * as_dec(F.col("n")),
        as_dec(F.col("c_t")) * as_dec(F.col("n_s")),
    )
    return (
        per_src.join(src_tot, "source")
        .join(corpus, "term")
        .crossJoin(F.broadcast(corpus_tot))
        .groupBy("source")
        .agg(
            F.max("n_s").cast("long").alias("n_tokens"),
            F.round(F.sum(p * lpq), round_digits).alias("kl"),
        )
    )


def chunk_documents(df, id_col: str, text_col: str,
                    chunk_tokens: int = 32, overlap: int = 8):
    """Split each document into overlapping token-window chunks — the
    standard context-window preparation step for embedding / RAG /
    training pipelines. Chunk i covers tokens
    [i*stride, i*stride + chunk_tokens) with stride =
    chunk_tokens - overlap; the final chunk may be short; a non-empty
    document always yields at least one chunk. Returns (id,
    chunk_idx, chunk_n_tokens, chunk_text) with a per-document dense
    chunk index — (id, chunk_idx) is the stable chunk key.

    Pure array expressions: tokenize once (projected column — HOF
    re-evaluation trap), explode a ``sequence`` of chunk starts,
    ``slice`` + ``array_join`` per chunk. No shuffle at all — the
    explode is pipelined inside the scan stage, so at 100 TB this is
    one embarrassingly parallel pass whose output is ~(1 +
    overlap/stride)× the input bytes."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = df.select(
        F.col(id_col),
        F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "").alias(
            "_w"
        ),
    ).filter(F.size("_w") >= 1)
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size("_w") - F.lit(overlap)) / F.lit(float(stride)))
        .cast("int"),
    )
    exploded = toks.select(
        F.col(id_col),
        F.col("_w"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    chunk = F.slice(
        F.col("_w"), F.col("chunk_idx") * stride + 1, chunk_tokens
    )
    return exploded.select(
        F.col(id_col),
        F.col("chunk_idx"),
        F.size(chunk).cast("long").alias("chunk_n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def pack_sequences(df, id_col: str, text_col: str,
                   budget: int = 256, n_shards: int = 8):
    """Pack documents into fixed-token-budget training sequences —
    the example-packing step that turns a curated corpus into dense
    model inputs. Documents are assigned to shards (``id % n_shards``
    here so the oracle can reproduce the assignment; hash the id in
    production) and packed in id order within each shard: a document
    starts a new sequence when the tokens accumulated before it reach
    the next multiple of ``budget``. That is the concatenate-then-
    split-at-document-boundaries strategy, so a sequence can overrun
    the budget by at most one document; the greedy best-fit variant
    packs tighter but needs a sequential scan with carry, which does
    not distribute.

    Returns one row per packed sequence: (shard, seq_idx, n_docs,
    seq_tokens, first_doc_id, last_doc_id). All integers — the
    output is hash-stable across engines.

    Scale shape: one shuffle to co-locate each shard, then a single
    running-sum window and a partial-aggregated groupBy over the SAME
    partitioning (the window's Exchange is reused — no second
    shuffle). Shards are the parallelism unit: at 100 TB raise
    n_shards to O(cluster cores) so each window scan stays
    memory-light; packing quality is unaffected because budget drift
    is bounded per shard, not global."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        (F.col(id_col) % n_shards).alias("shard"),
        F.size(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
        ).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") >= 1)
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = toks.withColumn(
        "seq_idx",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / budget
        ),
    )
    return seq.groupBy("shard", "seq_idx").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc_id"),
        F.max("doc_id").alias("last_doc_id"),
    )


def line_filter(df, id_col: str, text_col: str, delim: str = "\n",
                min_words: int = 5, must_contain: str | None = None):
    """C4-style line-level cleanup (Raffel et al. 2020 §2.2: per-LINE
    keep rules before document assembly — the cleanup pass that
    removes nav menus, cookie banners, and stub lines which doc-level
    stats can't see). Split on ``delim``, keep lines with at least
    ``min_words`` whitespace words (and, when given, containing the
    ``must_contain`` token — the stand-in for C4's terminal-punctuation
    rule), and report the per-document ledger: total lines, kept
    lines, kept words, plus the reassembled ``clean_text``.

    Pure higher-order-function pipeline (split → filter → aggregate →
    array_join) — every rule is array-local inside whole-stage
    codegen, zero shuffles at any corpus size; the C4 paper's own
    pipeline runs exactly this shape per document."""
    lines = F.split(F.col(text_col), delim)
    words = lambda ln: F.filter(F.split(ln, " "), lambda w: w != "")  # noqa: E731
    keep = lambda ln: (  # noqa: E731
        (F.size(words(ln)) >= min_words)
        & (
            F.array_contains(F.split(ln, " "), must_contain)
            if must_contain is not None
            else F.lit(True)
        )
    )
    kept = F.filter(lines, keep)
    return df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("kept_lines"),
        F.aggregate(
            F.transform(kept, lambda ln: F.size(words(ln)).cast("long")),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("kept_words"),
        F.array_join(kept, delim).alias("clean_text"),
    )


def length_buckets(df, id_col: str, text_col: str,
                   boundaries: tuple = (32, 64, 128)):
    """Length-bucketed batching ledger — the padding-efficiency
    analysis run before assembling PADDED training batches (the
    alternative to pack_sequences' concatenation): group documents
    into token-length buckets at fixed ``boundaries``, and report per
    bucket the doc/token mass plus the padding cost of batching that
    bucket to its own maximum (``pad_frac`` = wasted positions /
    total positions). Unbucketed padded batching wastes
    (global_max - len) per doc; bucketing shrinks the gap to the
    BUCKET max — this ledger quantifies exactly how much, which is
    the number that justifies the extra shuffle in a training-prep
    pipeline.

    Fixed boundaries (not quantiles) keep the op one aggregate pass
    and engine-exact; derive boundaries from a percentile profile
    offline when tuning. Scale: one groupBy shuffle on ~|boundaries|
    keys — the per-bucket max/sum are partial-aggregated map-side."""
    n_tok = F.size(
        F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    ).cast("long")
    bucket = F.lit(len(boundaries))
    for i, b in enumerate(reversed(boundaries)):
        bucket = F.when(n_tok <= b, F.lit(len(boundaries) - 1 - i)).otherwise(
            bucket
        )
    toks = df.select(F.col(id_col), n_tok.alias("_n"), bucket.alias("bucket"))
    return (
        toks.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").alias("sum_tokens"),
            F.max("_n").alias("bucket_max"),
        )
        .select(
            "bucket",
            "n_docs",
            "sum_tokens",
            "bucket_max",
            F.round(
                (F.col("n_docs") * F.col("bucket_max") - F.col("sum_tokens"))
                / (F.col("n_docs") * F.col("bucket_max")).cast("double"),
                6,
            ).alias("pad_frac"),
        )
    )


def dsir_importance(raw, target, id_col: str, text_col: str,
                    n_buckets: int = 64):
    """DSIR-style importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS'23): score
    every raw-corpus document by the log-likelihood ratio of two
    hashed-unigram bag models — one fit on a small in-domain target
    set, one on the raw corpus itself. Documents that look like the
    target get positive weight; resampling by these weights is the
    standard cheap domain-selection step before training.

    Hashing words into ``n_buckets`` buckets (the paper's hashed
    n-gram trick) makes the model size O(n_buckets) instead of
    O(vocabulary) — the property that lets the per-bucket counts
    partial-aggregate map-side and the log-ratio table broadcast as a
    handful of rows, no matter how big either corpus is. Laplace +1
    smoothing keeps every bucket finite.

    Scale shape: two bucket-count aggregates (<= n_buckets keys), two
    1-row totals, one broadcast join of the n_buckets-row ratio table
    onto the per-doc bucket counts, one per-doc sum. The raw corpus is
    scanned twice (once for the model, once for scoring) — at 100 TB
    you'd persist the tokenized frame or fold the model pass into a
    prior pipeline stage.

    Returns (id, n_tokens, dsir_logweight) for every raw doc with at
    least one token; the weight is rounded to 4 decimals (the repo's
    float-accumulation-order convention, cf. kl_by_source)."""
    B = n_buckets
    spark = raw.sparkSession

    def bucketed(df, *keep):
        w = F.explode(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
        ).alias("_t")
        return df.select(*keep, w).select(
            *keep, (md5_long(F.col("_t")) % B).alias("b")
        )

    tgt = bucketed(target)
    rawb = bucketed(raw, id_col)
    tc = tgt.groupBy("b").agg(F.count(F.lit(1)).alias("tc"))
    rc = rawb.groupBy("b").agg(F.count(F.lit(1)).alias("rc"))
    tt = tgt.agg(F.count(F.lit(1)).alias("t"))
    rt = rawb.agg(F.count(F.lit(1)).alias("r"))
    buckets = spark.range(B).select(F.col("id").cast("long").alias("b"))
    lr = (
        buckets.join(tc, "b", "left")
        .join(rc, "b", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(rt))
        .select(
            "b",
            # ln((tc+1)/(t+B)) − ln((rc+1)/(r+B)) collapsed to ONE
            # log of one exact integer fraction
            # ((tc+1)·(r+B)) / ((rc+1)·(t+B)) — one libm call
            # instead of two, fed identical bits on both engines
            log_frac(
                as_dec(F.coalesce("tc", F.lit(0)) + 1)
                * as_dec(F.col("r") + B),
                as_dec(F.coalesce("rc", F.lit(0)) + 1)
                * as_dec(F.col("t") + B),
            ).alias("lr"),
        )
    )
    dc = rawb.groupBy(id_col, "b").agg(F.count(F.lit(1)).alias("c"))
    return (
        dc.join(F.broadcast(lr), "b")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_tokens"),
            # + 0.0 collapses IEEE -0.0 (tiny negative rounding to
            # zero) onto +0.0 — engine/hashing parity (cf. SCALING.md)
            (F.round(F.sum(F.col("c") * F.col("lr")), 4) + F.lit(0.0)).alias(
                "dsir_logweight"
            ),
        )
    )


def pmi_collocations(df, id_col: str, text_col: str,
                     min_count: int = 20, k: int = 20):
    """Top-k collocations by pointwise mutual information — the
    classic phrase-mining signal (Church & Hanks 1990): word pairs
    that co-occur far more than their unigram frequencies predict
    (multiword entities, idioms) — the vocabulary-extension step of a
    tokenizer/phrase pipeline.

    PMI is computed as ONE log of an exact integer fraction,
    ln((c_ab * N_uni^2) / (N_bi * c_a * c_b)): every operand is an
    exact int64 count, so both engines take the log of the identical
    double and the rounded value is engine-stable; ranking uses the
    ROUNDED pmi with a lexicographic tie-break so the top-k set is
    deterministic. ``min_count`` suppresses the low-count PMI
    explosion (rare pairs trivially maximize PMI).

    Shape: two hash aggregates (bigram and unigram counts), two joins
    keyed by term (well-distributed), two broadcast 1-row totals, one
    bounded top-k."""
    w = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    toks = df.select(w.alias("_w"))
    uni = toks.select(F.explode("_w").alias("t")).groupBy("t").agg(
        F.count(F.lit(1)).alias("c")
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("_w") - 1),
        lambda i: F.struct(
            F.element_at("_w", i).alias("w1"),
            F.element_at("_w", i + 1).alias("w2"),
        ),
    )
    bi = (
        toks.filter(F.size("_w") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    n_uni = uni.agg(F.sum("c").alias("nu"))
    n_bi = toks.filter(F.size("_w") >= 2).agg(
        F.sum(F.size("_w") - 1).alias("nb")
    )
    ua = uni.select(F.col("t").alias("w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("t").alias("w2"), F.col("c").alias("c_b"))
    pmi = F.round(
        log_frac(
            as_dec(F.col("c_ab")) * as_dec(F.col("nu"))
            * as_dec(F.col("nu")),
            as_dec(F.col("nb")) * as_dec(F.col("c_a"))
            * as_dec(F.col("c_b")),
        ),
        4,
    ) + F.lit(0.0)  # -0.0 normalization, cf. SCALING.md
    return (
        bi.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "w1", "w2", F.col("c_ab").cast("long").alias("c_ab"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(k)
    )


def bpe_merges(df, text_col: str, n_merges: int = 6):
    """Learn the first ``n_merges`` BPE merge rules from the corpus
    (Sennrich et al., "Neural Machine Translation of Rare Words with
    Subword Units", ACL'16) — the artifact a tokenizer-training
    pipeline actually produces. Exactly the classic word-frequency
    formulation every production trainer uses: the corpus-scale work
    is ONE word-count aggregate; each merge round then runs on the
    vocabulary-sized (word-form, freq) frame — pair counts weighted
    by word frequency, argmax pair, rewrite.

    Determinism/portability: the argmax tie-breaks on (count DESC,
    left ASC, right ASC); the rewrite is a literal string replace
    over a middle-dot-delimited symbol form ('·a··b··c·'), whose
    leftmost-nonoverlapping replace semantics are identical in Spark
    and ANSI-ish SQL AND match BPE's left-to-right merge order — so
    the learned merge table is engine-exact and the oracle can unroll
    the same rounds.

    Scale: the per-round frame is the distinct word-form table —
    still distributed (a real corpus has 10^7-10^8 forms) but
    independent of corpus size; only the 1-row argmax is collected
    per round (driver discipline), and the frame is
    localCheckpoint-ed per round like every iterative operator here.

    Returns (step, left_sym, right_sym, pair_count)."""
    spark = df.sparkSession
    toks = df.select(
        F.explode(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
        ).alias("word")
    )
    # the middle dot is the symbol delimiter: words containing it
    # would corrupt the encoding, so they are excluded from training
    # (reserved-character contract; a production trainer byte-escapes)
    toks = toks.filter(~F.col("word").contains("·"))
    wf = toks.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    sym = F.concat(
        F.lit("·"),
        F.array_join(F.split(F.col("word"), ""), "··"),
        F.lit("·"),
    )
    v = wf.select(sym.alias("sym"), "freq").localCheckpoint()
    merges = []
    for step in range(1, n_merges + 1):
        arr = F.split(
            F.expr("trim(BOTH '·' FROM sym)"), "··"
        )
        pairs = F.transform(
            F.sequence(F.lit(1), F.size("_a") - 1),
            lambda i: F.struct(
                F.element_at("_a", i).alias("l"),
                F.element_at("_a", i + 1).alias("r"),
            ),
        )
        pc = (
            v.select(arr.alias("_a"), "freq")
            .filter(F.size("_a") >= 2)
            .select(F.explode(pairs).alias("p"), "freq")
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not pc:
            break
        l, r, cnt = pc[0]["l"], pc[0]["r"], int(pc[0]["cnt"])
        merges.append((step, l, r, cnt))
        v = v.select(
            F.replace(
                F.col("sym"),
                F.lit(f"·{l}··{r}·"),
                F.lit(f"·{l}{r}·"),
            ).alias("sym"),
            "freq",
        ).localCheckpoint()
    return tiny_df(
        spark, merges,
        "step int, left_sym string, right_sym string, pair_count long",
    )


def bpe_encode_report(df, group_col: str, text_col: str,
                      n_merges: int = 6):
    """Apply the learned BPE merge table (:func:`bpe_merges`) to the
    corpus and report per-group tokenization economics: word count,
    character mass, BPE token count, and chars-per-token — the number
    that tells you what a token budget buys from each source.

    Because the merge rules are already known, encoding needs NO
    iteration: the distinct word-form table gets one chained literal
    replace per rule (pure codegen string ops) and its token count
    joins back onto the token stream by word — the same
    vocabulary-sized-model / corpus-sized-join split as
    dsir_importance. Merges are collected as 6 literal rules (the
    artifact itself, driver discipline: k rows)."""
    rules = [
        (r["left_sym"], r["right_sym"])
        for r in bpe_merges(df, text_col, n_merges).collect()
    ]
    toks = df.select(
        F.col(group_col),
        F.explode(
            F.filter(
                F.split(F.col(text_col), r"\s+"),
                lambda x: (x != "") & ~x.contains("·"),
            )
        ).alias("word"),
    )
    words = toks.select("word").distinct()
    sym = F.concat(
        F.lit("·"),
        F.array_join(F.split(F.col("word"), ""), "··"),
        F.lit("·"),
    )
    for l, r in rules:
        sym = F.replace(sym, F.lit(f"·{l}··{r}·"), F.lit(f"·{l}{r}·"))
    # project the encoded symbol string first so the token-count expr
    # can reference it by name (the HOF-reprojection discipline)
    wc = (
        words.select("word", sym.alias("_sym"))
        .select(
            "word",
            F.length("word").cast("long").alias("nchars"),
            F.size(F.split(F.expr("trim(BOTH '·' FROM _sym)"), "··"))
            .cast("long")
            .alias("ntok"),
        )
    )
    return (
        toks.join(wc, "word")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("nchars").cast("long").alias("n_chars"),
            F.sum("ntok").cast("long").alias("n_bpe_tokens"),
            F.round(
                F.sum("nchars") / F.sum("ntok").cast("double"), 4
            ).alias("chars_per_token"),
        )
    )


def canonicalize_url(url):
    """Canonical URL form for dedup keying (the first dedup a web
    corpus runs — before any content hashing): lowercase scheme+host,
    strip the default port, drop the fragment, drop utm_*/fbclid
    tracking params (keeping other query params in original order),
    collapse a trailing slash on a bare path. Pure regexp/string
    Column ops — runs at scan speed, and every rule is expressible in
    ANSI-ish SQL for the oracle."""
    u = F.trim(url)
    # scheme+host lowercase (authority ends at first /?# after ://)
    head = F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    rest = F.substring(u, F.length(head) + 1, F.lit(1 << 30))
    u = F.concat(F.lower(head), rest)
    u = F.regexp_replace(u, r"^(https?://[^/?#:]*):80(/|\?|#|$)", r"$1$2")
    u = F.regexp_replace(u, r"^(https?://[^/?#:]*):443(/|\?|#|$)", r"$1$2")
    u = F.regexp_replace(u, r"#.*$", "")
    # tracking params: kill utm_*/fbclid (then tidy separators)
    u = F.regexp_replace(u, r"[?&](utm_[a-z]+|fbclid)=[^&#]*", "")
    u = F.regexp_replace(u, r"\?&", "?")
    # a leading utm param consumed the '?': promote the first '&'
    u = F.regexp_replace(u, r"^([^?&]*)&", r"$1?")
    u = F.regexp_replace(u, r"\?$", "")
    # bare trailing slash (path only, no query)
    # depth>=1 only: the root slash ("https://a.b/") is canonical as-is
    u = F.regexp_replace(
        u, r"^([a-z][a-z0-9+.-]*://[^/?#]+/[^?#]*[^/?#])/$", r"$1"
    )
    return u


def strip_html(text):
    """Regex HTML-to-text lite (the relational subset of a real
    extractor): drop script/style blocks with their content, replace
    block-level closers with newlines, strip remaining tags, decode
    the five core entities, collapse whitespace. Column-only — the
    honest declarative core of web text extraction; a production
    pipeline swaps in a real extractor via mapInPandas with this as
    the fallback path."""
    # separate script/style patterns: the oracle's RE2 engine has no
    # backreferences, so a </\1> closer is not portable
    t = F.regexp_replace(text, r"(?is)<script\b[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style\b[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?i)</(p|div|br|li|h[1-6]|tr)\s*>", "\n")
    t = F.regexp_replace(t, r"<[^>]+>", " ")
    for ent, ch in (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", '"'), ("&#39;", "'")):
        t = F.replace(t, F.lit(ent), F.lit(ch))
    t = F.regexp_replace(t, r"[ \t\r\f]+", " ")
    t = F.regexp_replace(t, r" ?\n ?", "\n")
    # regex trim: plain trim() strips spaces only, not newlines
    return F.regexp_replace(t, r"^\s+|\s+$", "")


def char_entropy(df, id_col: str, text_col: str,
                 round_digits: int = 4, low_threshold: float = 2.5):
    """Per-document Shannon entropy of the character distribution, in
    nats — the degenerate-content tripwire quality stacks run BEFORE
    any model-based scoring: mono-character runs, keyboard mashing,
    base64 walls and repeated-template spam all sit far from natural
    text's entropy band, and the signal costs one explode + two
    aggregates (no model, no UDF).

    Computed as ``ln(n) - (Σ c_i·ln c_i)/n`` over per-character counts
    (algebraically -Σ p·ln p but with every log taken on an exact
    integer operand, so the only cross-engine float noise is the final
    accumulation — absorbed by the repo's round-4 convention; the
    ``+ 0.0`` defuses IEEE -0.0 on constant docs). ``low_entropy``
    compares the ROUNDED value so the flag is engine-stable. Scale
    shape: the (id, char) aggregate is the only shuffle and its
    cardinality is ≤ alphabet-size per doc; empty docs drop (no
    characters → no distribution)."""
    chars = (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), "")).alias("_ch"),
        )
        .filter(F.col("_ch") != "")
    )
    counts = chars.groupBy(id_col, "_ch").agg(
        F.count(F.lit(1)).alias("_c")
    )
    ent = (
        F.round(
            F.log(F.col("n_chars"))
            - F.col("_clogc") / F.col("n_chars"),
            round_digits,
        )
        + F.lit(0.0)
    )
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("_c").cast("long").alias("n_chars"),
            F.sum(F.col("_c") * F.log("_c")).alias("_clogc"),
        )
        .select(
            id_col,
            "n_chars",
            ent.alias("entropy_nats"),
            (ent < F.lit(low_threshold)).alias("low_entropy"),
        )
    )


def repetition_rules(df, id_col: str, text_col: str,
                     top_ns: tuple = (2, 3, 4),
                     dup_ns: tuple = (5, 6, 7, 8, 9, 10),
                     top_caps_fp: tuple = (200_000, 180_000, 160_000),
                     dup_caps_fp: tuple = (150_000, 140_000, 130_000,
                                           120_000, 110_000, 100_000)):
    """Gopher/MassiveText n-gram REPETITION rules (Rae et al. 2021
    Table A1) — the half of the §A1.1 suite ``gopher_quality`` does
    not cover: per document, the character mass of the most frequent
    word n-gram (n=2..4, capped at 20/18/16 %) and the character mass
    of all occurrences of duplicated word n-grams (n=5..10, capped at
    15 % down to 10 %). Templated spam, lyrics-style chorus repetition
    and boilerplate walls trip these long before perplexity filters
    see them.

    Exact conventions (engine-portable): character mass of one gram
    occurrence = length of the gram joined with single spaces; the
    denominator is the length of the whole space-normalized token
    stream; occurrences are counted with overlap (the standard
    count·len spelling — fractions may exceed 1 on degenerate docs,
    by design); duplicated-gram mass counts ALL cnt occurrences once
    a gram repeats. Every feature is an fp6 integer
    ``floor(1e6·mass/total_chars)`` on exact integer operands and the
    ``passes`` verdict compares those integers, so any engine
    reproduces identical rows.

    Scale shape: every statistic here is DOCUMENT-LOCAL, so nothing
    ever shuffles — per n, the window array SORTS (equal grams become
    adjacent runs) and ONE ``aggregate`` fold walks the sorted runs
    accumulating both the max run mass and the duplicated-run mass in
    exact longs; nine folds in a single projection, O(w log w) per
    doc per n, embarrassingly parallel at 100 TB. (The first cut
    exploded (n, gram) rows into a corpus-sized hash aggregate —
    bit-identical output, but it shuffled ~9x the corpus token mass
    to count runs each document already held locally; measured 8.9 s
    -> 1.7 s warm at sf0.1.) No windows, no UDFs, no driver state."""
    w = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    base = (
        df.select(F.col(id_col), w.alias("_w"))
        .filter(F.size("_w") >= 1)
        .select(
            id_col,
            "_w",
            F.length(F.concat_ws(" ", F.col("_w")))
            .cast("long")
            .alias("total_chars"),
        )
    )

    def masses(grams):
        """struct(top, dup) run masses over a doc's pre-built n-gram
        window array (a bound column/lambda variable — never an
        expression that would re-evaluate per element)."""
        gs = F.array_sort(grams)
        init = F.struct(
            F.lit(None).cast("string").alias("p"),
            F.lit(0).cast("long").alias("r"),
            F.lit(0).cast("long").alias("top"),
            F.lit(0).cast("long").alias("dup"),
        )

        def merge(acc, g):
            p = acc.getField("p")
            r = acc.getField("r")
            top = acc.getField("top")
            dup = acc.getField("dup")
            mass = r * F.length(p).cast("long")
            return F.when(
                p == g,  # NULL p (first element) falls to otherwise
                F.struct(
                    p.alias("p"),
                    (r + F.lit(1).cast("long")).alias("r"),
                    top.alias("top"),
                    dup.alias("dup"),
                ),
            ).otherwise(
                F.struct(
                    g.alias("p"),
                    F.lit(1).cast("long").alias("r"),
                    F.when(p.isNull(), top)
                    .otherwise(F.greatest(top, mass))
                    .alias("top"),
                    F.when(p.isNull(), dup)
                    .otherwise(
                        dup
                        + F.when(r > 1, mass)
                        .otherwise(F.lit(0).cast("long"))
                    )
                    .alias("dup"),
                )
            )

        def finish(acc):
            p = acc.getField("p")
            r = acc.getField("r")
            top = acc.getField("top")
            dup = acc.getField("dup")
            mass = r * F.length(p).cast("long")
            return F.struct(
                F.when(p.isNull(), top)
                .otherwise(F.greatest(top, mass))
                .alias("top"),
                F.when(p.isNull(), dup)
                .otherwise(
                    dup
                    + F.when(r > 1, mass)
                    .otherwise(F.lit(0).cast("long"))
                )
                .alias("dup"),
            )

        return F.aggregate(gs, init, merge, finish)

    def fp(raw):
        return F.floor(
            F.lit(1_000_000) * raw / F.col("total_chars")
        ).cast("long")

    # Two structural fixes over the first cut (guide §1.2 per-task
    # work), output bit-identical (same gram strings, same fold):
    #
    # 1. Gram windows build INCREMENTALLY: width-n grams extend the
    #    width-(n-1) gram column by one word (zip_with + concat) — one
    #    string append per window — instead of re-materializing every
    #    window as an n-word slice + array_join (O(n) word copies per
    #    window, measured 2.4 s of the 4.5 s warm wall at sf0.1).
    #    Each _g<n> is its own projected column, so the chain never
    #    re-evaluates a predecessor.
    # 2. ONE copy of the run fold, applied per n via transform over
    #    the array of gram columns, instead of nine inlined copies of
    #    the merge/finish tree — the 9x-duplicated codegen unit was
    #    the first-compile wall. The struct array is projected into
    #    its own column so the nine field reads below don't re-expand
    #    the fold (the established HOF re-evaluation discipline).
    all_ns = list(top_ns) + list(dup_ns)
    if min(all_ns) < 1:
        raise ValueError(f"n-gram widths must be >= 1, got {all_ns}")
    staged = base
    prev = "_w"
    for n in range(2, max(all_ns) + 1):
        length = F.size("_w") - F.lit(n - 1)
        g = F.when(
            F.size("_w") >= n,
            F.zip_with(
                F.slice(F.col(prev), 1, length),
                F.slice(F.col("_w"), F.lit(n), length),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        ).otherwise(F.array().cast("array<string>"))
        staged = staged.select("*", g.alias(f"_g{n}"))
        prev = f"_g{n}"
    per_n = F.transform(
        F.array(*[F.col("_w" if n == 1 else f"_g{n}") for n in all_ns]),
        lambda garr: masses(garr),
    )
    staged = staged.select(
        F.col(id_col), F.col("total_chars"), per_n.alias("_m")
    )
    cols = [
        fp(F.element_at("_m", i + 1).getField("top")).alias(
            f"top_{n}gram_fp"
        )
        for i, n in enumerate(top_ns)
    ] + [
        fp(
            F.element_at("_m", len(top_ns) + j + 1).getField("dup")
        ).alias(f"dup_{n}gram_fp")
        for j, n in enumerate(dup_ns)
    ]
    out = staged.select(F.col(id_col), *cols)
    passes = F.lit(True)
    for n, cap in zip(top_ns, top_caps_fp):
        passes = passes & (F.col(f"top_{n}gram_fp") <= cap)
    for n, cap in zip(dup_ns, dup_caps_fp):
        passes = passes & (F.col(f"dup_{n}gram_fp") <= cap)
    return out.withColumn("passes", passes)


def vocab_coverage(df, id_col: str, text_col: str,
                   vocab_size: int = 4096):
    """Out-of-vocabulary rate per document against the corpus' own
    top-``vocab_size`` word vocabulary — the tokenizer-health audit a
    training pipeline runs before committing to a vocab: documents
    with high OOV mass either carry a different language/domain than
    the vocabulary was sized for or are noise the quality gates
    missed. Deterministic vocabulary: count desc, term asc — the
    boundary tie-break is total, so every engine picks the same V
    terms.

    Scale shape: the vocabulary is a bounded TakeOrderedAndProject
    (V rows) broadcast to the token relation — the big side never
    shuffles; the per-doc fold is one hash aggregate keyed by unique
    doc ids. Output fractions are fp6 integers on exact counts."""
    toks = tokens(df, id_col, text_col)
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.desc("_c"), F.asc("term"))
        .limit(vocab_size)
        .select("term", F.lit(True).alias("_in"))
    )
    marked = toks.join(F.broadcast(vocab), "term", "left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(
                F.when(F.col("_in").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_oov"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            "n_oov",
            F.floor(
                F.lit(1_000_000) * F.col("n_oov") / F.col("n_tokens")
            ).cast("long").alias("oov_fp"),
        )
    )


def hapax_ratio(df, id_col: str, text_col: str, n: int = 3):
    """Corpus lexical-health card over word n-grams: type count,
    token (window) count, hapax legomena count (n-grams occurring
    exactly once) and the fp6 hapax share and type-token ratio — the
    Heaps'-law signals that move when a corpus saturates (hapax share
    collapses as duplication grows) or degenerates into templates
    (TTR collapses). One n-gram expansion, one (gram) hash aggregate,
    one 1-row fold — the only shuffle is keyed by gram text, linear
    and skew-free. All ratios are fp6 on exact counts."""
    w = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    toks = df.select(w.alias("_w")).filter(F.size("_w") >= n)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_w") - (n - 1)),
        lambda i: F.array_join(F.slice(F.col("_w"), i, n), " "),
    )
    counts = (
        toks.select(F.explode(grams).alias("_g"))
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.coalesce(F.sum("_n"), F.lit(0)).cast("long")
        .alias("n_tokens"),
        F.coalesce(
            F.sum(F.when(F.col("_n") == 1, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_hapax"),
    ).select(
        "n_types",
        "n_tokens",
        "n_hapax",
        # degenerate-corpus guard (ADVICE r9): no document reaches n
        # tokens ⇒ n_types = 0 ⇒ NULL (ANSI mode would otherwise
        # raise DIVIDE_BY_ZERO), matching the evalmetrics
        # NULL-for-undefined contract
        F.when(
            F.col("n_types") > 0,
            F.floor(
                F.lit(1_000_000) * F.col("n_hapax") / F.col("n_types")
            ),
        ).cast("long").alias("hapax_fp"),
        F.when(
            F.col("n_tokens") > 0,
            F.floor(
                F.lit(1_000_000) * F.col("n_types") / F.col("n_tokens")
            ),
        ).cast("long").alias("ttr_fp"),
    )
