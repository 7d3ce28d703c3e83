"""Text curation functions (SURVEY.md §2.8: F1, F2, F5, F10, F14).

Every function is a pure Column expression — no UDFs — so the whole
curation pipeline stays inside whole-stage codegen. The reference
implements these as row-at-a-time pandas ``apply`` loops
(src/transform.py:67-96, :107-134); the semantics are reproduced, not
the implementation.

Regex note: Spark uses Java regex. ``\\b`` and inline ``(?i)`` behave
the same as Python's ``re`` for the patterns used here (parity tests
in tests/test_functions.py pin this down).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Seniority/noise words stripped by the title cleaner — token-for-token
# the reference's alternation (src/transform.py:85-86), including the
# multi-word entries ("vice president", "immediate joiner"); the single
# \b(...)\b alternation handles them because \b anchors only the ends.
TITLE_NOISE_WORDS = (
    "senior", "sr", "junior", "jr", "lead", "principal", "chief", "head",
    "manager", "director", "vp", "vice president", "president",
    "internship", "intern", "contract", "temp", "temporary", "remote",
    "hybrid", "hiring", "immediate joiner", "via", "through",
)

# Extras beyond the reference (opt-in only — keeping the default list
# reference-faithful is part of the parity contract; VERDICT r1 §wrong-1).
EXTRA_NOISE_WORDS = (
    "onsite", "staff", "associate", "entry", "level", "mid",
)


def normalize_text(col: Column | str) -> Column:
    """F1 — astype(str).str.strip().str.lower() (src/transform.py:107-111)."""
    return F.lower(F.trim(F.col(col) if isinstance(col, str) else col))


def clean_job_title(col: Column | str, title_case: bool = True,
                    extra_noise_words: tuple = ()) -> Column:
    """F2 — the reference's title-cleaning regex pipeline
    (src/transform.py:67-96):

    1. drop bracketed content ``(...)``, ``[...]``, ``{...}``
    2. split on ``- # | /`` and keep the head
    3. strip non-alphabetic chars, so a digit or ``_`` glued to a word
       cannot hide it from the word-boundary passes below (``0jr``)
    4. drop roman numerals (``\\b[ivx]+\\b``, case-insensitive)
    5. drop seniority/noise words (exactly src/transform.py:85-86;
       pass ``extra_noise_words=EXTRA_NOISE_WORDS`` to also strip
       non-reference extras like 'onsite'/'staff')
    6. collapse whitespace
    7. Title Case (``title_case=False`` keeps lowercase — used where a
       downstream engine lacks initcap)

    The reference strips the characters after the noise words, so
    ``0jr`` there cleans to ``jr``; here it cleans to ``''``.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, r"\(.*?\)|\[.*?\]|\{.*?\}", " ")
    c = F.split(c, r"[-#|/]").getItem(0)
    c = F.regexp_replace(c, r"[^a-z ]", " ")
    c = F.regexp_replace(c, r"\b[ivx]+\b", " ")
    noise = "|".join(TITLE_NOISE_WORDS + tuple(extra_noise_words))
    c = F.regexp_replace(c, rf"\b({noise})\b", " ")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return F.initcap(c) if title_case else c


def normalize_skill_list(col: Column | str, sep: str = ",",
                         out_sep: str = ", ") -> Column:
    """F5 — normalize a delimited skill list (src/transform.py:128-134):
    split, trim+lowercase tokens, drop empties, rejoin ', '. Null/empty
    input → 'not listed' (the reference's non-str sentinel).

    Higher-order functions (transform/filter) — array ops stay
    JVM-side, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.transform(
        F.filter(F.split(c, sep), lambda x: F.trim(x) != ""),
        lambda x: F.lower(F.trim(x)),
    )
    joined = F.array_join(toks, out_sep)
    return F.when(
        c.isNull() | (F.trim(c) == ""), F.lit("not listed")
    ).otherwise(F.coalesce(F.nullif(joined, F.lit("")), F.lit("not listed")))


def city_from_location(col: Column | str) -> Column:
    """F10 — text before the first ',', else the whole string
    (src/transform.py:147-148)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.contains(","), F.trim(F.split(c, ",").getItem(0))
    ).otherwise(c)


def concat_fields(*cols: Column | str, sep: str = " ") -> Column:
    """F14 — f-string concat (src/transform.py:48)."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.concat_ws(sep, *cs)
