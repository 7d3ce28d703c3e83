"""Engine-portable deterministic hashing.

All dedup/fingerprint operators need a string→int hash that (a) is
computable identically in Spark and in any ANSI-ish SQL engine (for
oracle verification and cross-system reproducibility), and (b) mixes
well. We use the top 60 bits of MD5: both Spark and DuckDB expose
``md5`` over UTF-8 strings, and 15 hex digits parse into a BIGINT
without overflow.

The multiplicative MinHash family ``h_j(x) = (a_j * x + b_j) mod P``
over the Mersenne prime P = 2^31 - 1 is the standard construction
(Broder, "On the resemblance and containment of documents", 1997).
Constants come from a fixed LCG so the Python-built DataFrame plan and
the generated oracle SQL share them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = 2_147_483_647  # 2^31 - 1


def md5_long(col: Column) -> Column:
    """Top-60-bit MD5 of a string column as a non-negative BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    """DuckDB-equivalent of ``md5_long`` (hex literal cast)."""
    return f"CAST(concat('0x', substring(md5({expr}), 1, 15)) AS BIGINT)"


def minhash_coeffs(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """(a_j, b_j) pairs from a fixed LCG (deterministic, shared between
    the Spark plan and the generated oracle SQL). a_j in [1, P-1],
    b_j in [0, P-1]."""
    coeffs = []
    state = seed
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (MERSENNE_P - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_P
        coeffs.append((a, b))
    return coeffs


def affine_hash(h: Column, a: int, b: int, p: int = MERSENNE_P) -> Column:
    """(a*h + b) mod p over an already-reduced h (h < p keeps a*h within
    63 bits for a < p ... use h % p first)."""
    return (F.lit(a) * (h % p) + F.lit(b)) % p


def affine_hash_sql(h_expr: str, a: int, b: int, p: int = MERSENNE_P) -> str:
    return f"(({a} * (({h_expr}) % {p}) + {b}) % {p})"


KNUTH = 2654435761  # 2^32 / phi — Knuth's multiplicative constant


def knuth32(col: Column) -> Column:
    """(col * KNUTH) mod 2^32 for ANY non-negative 64-bit id,
    without overflow — the engine's sampling/assignment coin made
    scale-safe.

    The naive ``col * 2654435761`` wraps 64 bits once ids exceed
    2^63/K ~ 3.47e9 (Spark 4 ANSI mode raises ARITHMETIC_OVERFLOW —
    caught by the sf1 scale probe, whose key-shifted replicas reach
    ~7.7e10). Split multiply fixes it with pure long ops:
    with y = col mod 2^32 = h·2^16 + l,

        y·K mod 2^32 = ( (h·K mod 2^16)·2^16 + l·K ) mod 2^32

    since (a·2^16) mod 2^32 = (a mod 2^16)·2^16. Every intermediate
    fits comfortably in 63 bits (l·K <= 1.8e14), and the result is
    bit-identical to the naive form wherever that form didn't
    overflow — so every recorded oracle stays hash-matched. The
    DuckDB oracles use the same split spelling (knuth32_sql), so
    they too verify at sf1-shifted ids (~7.7e10) without a HUGEINT
    cast."""
    y = col.cast("long") % F.lit(4294967296)
    h = F.shiftright(y, 16)
    lo = y.bitwiseAND(F.lit(65535))
    return (
        (h * F.lit(KNUTH) % F.lit(65536)) * F.lit(65536)
        + lo * F.lit(KNUTH)
    ) % F.lit(4294967296)


def knuth_bucket(col: Column, modulus: int) -> Column:
    """Bucket in [0, modulus) from the HIGH bits of the multiplicative
    hash: floor(knuth32(col) · m / 2^32) — Knuth's own prescription
    (TAOCP vol. 3 §6.4: "the most significant bits of the product are
    the ones that are thoroughly mixed").

    ``knuth32(col) % m`` is WRONG for small m: K is odd, so the low
    bit of col·K mod 2^32 IS the low bit of col — ``% 2`` assigns by
    id parity with zero mixing, and ``% 100``'s mod-4 component
    depends only on the id's two low bits. Any parity/sharding
    structure in the id space then confounds the split, and an SRM
    check can't see it (parity splits are perfectly balanced).
    Range-mapping the high bits fixes it: h·m ≤ 2^32·m stays inside
    63 bits for any m ≤ 2^30, and the spelling is one extra multiply
    + shift on both engines (DuckDB: ``(h * m) // 4294967296``)."""
    return F.shiftright(knuth32(col) * F.lit(int(modulus)), 32)


def knuth32_sql(expr: str) -> str:
    """DuckDB twin of :func:`knuth32` — the same overflow-free split
    multiply, so the oracle evaluates at ANY non-negative 64-bit id
    (the naive ``expr * 2654435761`` raises DuckDB's INT64 overflow
    once ids exceed 2^63/K ~ 3.47e9, e.g. the sf1 key-shifted
    replicas). Bit-identical to the naive form below 2^31, so every
    recorded validation-scale hash is unchanged."""
    y = f"({expr} % 4294967296)"
    return (f"(((({y} // 65536) * 2654435761) % 65536) * 65536 + "
            f"({y} % 65536) * 2654435761) % 4294967296")
