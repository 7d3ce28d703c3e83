"""Boundary-proximity sweep over every DuckDB oracle (VERDICT r9 #2).

Every compared value that is quantized from a float (``floor(x*1e6 +
0.5)`` fixed point) or that carries a libm call (``ln``, ``exp``,
``log2``, ``log10``) is a potential cross-build hash flip: a 1-ulp
skew in the libm output, or a sub-ulp-margin pre-floor value, flips
the compared integer on one engine only (the round-8/9
``dq_psi_drift`` failure mode). This tool measures the margin
EMPIRICALLY, on the oracle side, for every registered query:

1. **fp6 nudge**: re-run the oracle with every ``+ 0.5`` half-up
   offset shifted by ±1e-7 (≈800 ulps at the 1e6 scale — three
   orders of magnitude beyond any real engine skew). If the
   order-insensitive value hash is invariant, no compared value sits
   within 1e-7 of a rounding boundary on this data.
2. **libm perturbation**: re-run with ``ln``/``exp``/``log2``/
   ``log10`` outputs scaled by (1 ± 1e-12) (~4500 ulps). Hash
   invariance means no log-derived compared value is anywhere near a
   quantization boundary.

Queries whose oracle contains neither pattern are reported
``integer-exact`` — their compared values never touch a float.

The Spark side needs no separate sweep: the driver gate proves
Spark's values EQUAL the oracle's, so the margin of the shared value
is the margin of both. (The Spark-side ±1e-12 ln-perturbation lock
lives in tests/test_log_boundaries.py.)

Usage: python tools/boundary_sweep.py [sf_dir] [query ...]
Writes BOUNDARY_SWEEP.json and exits 1 on any flip.
"""

from __future__ import annotations

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

from tools.verify_local import TABLES, table_hash  # noqa: E402

EPS_FP = 1e-7        # half-up offset nudge
EPS_LIBM = 1e-12     # relative libm-output perturbation

# Exact-tie allowlist (plan_audit's ALLOW pattern): a nudge flip is
# only a hazard when the pre-floor value sits NEAR the boundary with
# an INEXACT lineage. A value EXACTLY ON the boundary whose lineage
# is entirely exactly-specified float ops is bit-identical on both
# engines — the half-up tie resolves the same way everywhere, and the
# nudge flags it anyway. Each entry needs the written justification.
ALLOW_EXACT_TIE = {
    "win_holt_linear": (
        "dyadic smoothing constants (0.5/0.25/0.75) over integer "
        "daily counts make early-day levels exact binary fractions "
        "(e.g. day-4 level 330.8203125), so l*1e6+0.5 is EXACTLY an "
        "integer; the whole lineage is +,*,- of doubles (exactly "
        "specified, no libm), so both engines hold the identical bit "
        "pattern and floor it identically"
    ),
    "win_ewma_control": (
        "same dyadic class as win_holt_linear: alpha = 0.5 over "
        "integer daily counts keeps early-day EWMA values exact "
        "binary fractions (day-8 ewma*1e6+0.5 is exactly an "
        "integer); lineage is +,*,- of doubles only (sigma's sqrt "
        "is IEEE-correctly-rounded), so the tie is bit-identical "
        "cross-engine"
    ),
}

# the repo's canonical half-up spellings (see exactlog/intlog):
#   + CAST('0.5' AS DOUBLE)   |   + 0.5)   |   + 0.5e0 etc.
_HALF_PATTERNS = [
    ("+ CAST('0.5' AS DOUBLE)", "+ CAST('{v}' AS DOUBLE)"),
    ("+ CAST(0.5 AS DOUBLE)", "+ CAST({v} AS DOUBLE)"),
    ("+ 0.5)", "+ {v})"),
]
_LIBM_FNS = ("ln", "exp", "log2", "log10")


def _nudge_half(sql: str, delta: float) -> tuple[str, int]:
    n = 0
    for pat, repl in _HALF_PATTERNS:
        c = sql.count(pat)
        if c:
            sql = sql.replace(pat, repl.format(v=repr(0.5 + delta)))
            n += c
    return sql, n


def _perturb_libm(sql: str, scale: float) -> tuple[str, int]:
    n = 0
    for fn in _LIBM_FNS:
        sql2, c = re.subn(
            rf"(?<![a-zA-Z_0-9]){fn}\(", f"__p_{fn}(", sql)
        sql, n = sql2, n + c
    return sql, n


def _perturb_round(sql: str) -> tuple[str, int]:
    """Route every round(...) through a macro that scales the input
    by (1 + 1e-12) first: a hash flip means some rounded value
    (output column OR an ORDER-BY tie key inside a rank) sits within
    ~4500 ulps of a .5·10^-d boundary — the territory where Spark's
    BigDecimal HALF_UP and DuckDB's float rounding can disagree on
    bit-identical inputs. Exact dyadic values (0.25 etc.) are
    unaffected by a RELATIVE perturbation, so benign exact sites
    pass without an allowlist. DuckDB macros don't overload by
    arity, so 1-arg and 2-arg calls are routed to separate macros by
    a balanced-paren top-level-comma scan."""
    out, n, i = [], 0, 0
    pat = re.compile(r"(?<![a-zA-Z_0-9])round\(")
    while True:
        m = pat.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        # scan the balanced argument list for a top-level comma
        j, depth, two_arg = m.end(), 1, False
        while depth and j < len(sql):
            c = sql[j]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "," and depth == 1:
                two_arg = True
            j += 1
        name = "__p_round2" if two_arg else "__p_round1"
        out.append(sql[i:m.start()])
        out.append(f"{name}(")
        i = m.end()
        n += 1
    return "".join(out), n


def _run(con, sql):
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    return len(rows), table_hash(cols, rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    for fn in _LIBM_FNS:
        con.execute(
            f"CREATE MACRO __p_{fn}(x) AS {fn}(x)"
            f" * (1.0 + {EPS_LIBM!r})"
        )
    con.execute(
        f"CREATE MACRO __p_round2(x, d) AS"
        f" round(x * (1.0 + {EPS_LIBM!r}), d)"
    )
    con.execute(
        f"CREATE MACRO __p_round1(x) AS"
        f" round(x * (1.0 + {EPS_LIBM!r}))"
    )

    report, n_flip = {}, 0
    for name, sql in E.oracle_sql().items():
        if only and name not in only:
            continue
        entry = {}
        try:
            base_n, base_h = _run(con, sql)
        except Exception as e:  # oracle itself must run
            report[name] = {"error": str(e)[:200]}
            n_flip += 1
            continue

        up, n_half = _nudge_half(sql, EPS_FP)
        dn, _ = _nudge_half(sql, -EPS_FP)
        if n_half:
            try:
                inv = (_run(con, up)[1] == base_h
                       and _run(con, dn)[1] == base_h)
            except Exception as e:
                inv = f"error: {str(e)[:120]}"
            entry["fp6_half_up_sites"] = n_half
            if inv is False and name in ALLOW_EXACT_TIE:
                entry["fp6_nudge_1e-7"] = "exact-tie (allowed)"
                entry["why_allowed"] = ALLOW_EXACT_TIE[name]
            else:
                entry["fp6_nudge_1e-7"] = (
                    "invariant" if inv is True else
                    ("FLIPS" if inv is False else inv))
                if inv is not True:
                    n_flip += 1

        pert, n_libm = _perturb_libm(sql, 1.0 + EPS_LIBM)
        if n_libm:
            try:
                inv = _run(con, pert)[1] == base_h
            except Exception as e:
                inv = f"error: {str(e)[:120]}"
            entry["libm_sites"] = n_libm
            entry["libm_perturb_1e-12"] = (
                "invariant" if inv is True else
                ("FLIPS" if inv is False else inv))
            if inv is not True:
                n_flip += 1

        rsql, n_round = _perturb_round(sql)
        if n_round:
            try:
                inv = _run(con, rsql)[1] == base_h
            except Exception as e:
                inv = f"error: {str(e)[:120]}"
            entry["round_sites"] = n_round
            entry["round_perturb_1e-12"] = (
                "invariant" if inv is True else
                ("FLIPS" if inv is False else inv))
            if inv is not True:
                n_flip += 1

        if not entry:
            entry = {"status": "integer-exact"}
        entry["rows"] = base_n
        report[name] = entry
        flag = "" if "FLIPS" not in json.dumps(entry) else "  <-- FLIPS"
        print(f"{name}: {json.dumps(entry)}{flag}")

    summary = {
        "sf_dir": sf_dir,
        "n_queries": len(report),
        "n_integer_exact": sum(
            1 for v in report.values() if v.get("status") == "integer-exact"
        ),
        "n_flips_or_errors": n_flip,
        "eps_fp": EPS_FP,
        "eps_libm": EPS_LIBM,
        "queries": report,
    }
    if not only:
        with open(f"{ROOT}/BOUNDARY_SWEEP.json", "w") as f:
            json.dump(summary, f, indent=1)
        print(f"\nwrote BOUNDARY_SWEEP.json: {summary['n_queries']} queries, "
              f"{summary['n_integer_exact']} integer-exact, "
              f"{n_flip} flips/errors")
    sys.exit(1 if n_flip else 0)


if __name__ == "__main__":
    main()
