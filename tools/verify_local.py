"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at the given scale factor, then compares row count, column
names, and an order-insensitive value hash (columns sorted by name,
rows sorted, values stringified with float rounding).

Usage: python tools/verify_local.py [sf_dir] [query ...]
       python tools/verify_local.py --manifest OUT.json [sf_dir]
       python tools/verify_local.py --vanilla [sf_dir] [query ...]

``--manifest`` additionally writes a CORRECTNESS-shaped JSON (the
driver's per-query row/schema/hash verdict format) covering EVERY
registered query — the auditable artifact behind the coverage
table's hash-matched totals (the driver's own file samples ~50
queries per round).

``--vanilla`` runs the queries on a DEFAULT SparkSession (no tuned
factory — the driver builds its own session), so conf-dependence
bugs surface here instead of in the driver's gate. Pair with the
PRIORITY window: `python tools/verify_local.py --vanilla`.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}" if abs(v) < 1e15 else f"{v:.6e}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    args = sys.argv[1:]
    manifest_path = None
    vanilla = False
    while args and args[0].startswith("--"):
        if args[0] == "--manifest":
            manifest_path = args[1]
            args = args[2:]
        elif args[0] == "--vanilla":
            vanilla = True
            args = args[1:]
        else:
            raise SystemExit(f"unknown flag {args[0]}")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    manifest = {}

    import __spark_entry__ as E

    if vanilla:
        from pyspark.sql import SparkSession

        spark = (SparkSession.builder.master("local[8]")
                 .appName("driver-sim").getOrCreate())
    else:
        from avk_job_skill_analytics_spark.plans.session import get_spark

        spark = get_spark()
    con = duckdb.connect()
    # Bound the oracle: an unbounded DuckDB run of a heavy self-join
    # oracle at sf1 grows past physical RAM and the kernel OOM-kills
    # the whole sweep (losing every already-computed verdict in this
    # process). With a limit DuckDB spills to temp or raises a clean
    # OutOfMemoryException that lands in the manifest as an oracle
    # error instead.
    # Default to min(48GB, 75% of physical RAM): a flat 48GB default
    # would RAISE DuckDB's own 80%-of-RAM bound on hosts under ~60GB
    # and reintroduce the OOM-kill risk this limit exists to remove.
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        default_mem = f"{min(48, max(1, int(ram * 0.75 / 2**30)))}GB"
    except (ValueError, OSError):
        default_mem = "48GB"
    mem = os.environ.get("SPARK_GRAFT_DUCKDB_MEM", default_mem)
    con.execute(f"SET memory_limit='{mem}'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        # Spark-written replicas (tools/make_sf1.py) are DIRECTORIES
        # of part files; DuckDB needs the glob form for those
        p = f"{sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    qs, oracles = E.queries(), E.oracle_sql()
    failures, n_pass, n_rows_only = [], 0, 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            manifest[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": f"spark: {str(e)[:200]}",
            }
            continue
        if name not in oracles:
            n_rows_only += 1
            print(f"rows {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            manifest[name] = {
                "rows_match": None, "schema_match": None,
                "hash_match": None, "spark_rows": len(srows),
                "oracle_rows": None, "err": None, "rows_only": True,
            }
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            manifest[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(srows),
                "oracle_rows": None, "err": f"duckdb: {str(e)[:200]}",
            }
            continue
        problems = []
        hash_ok = None
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        else:
            sh, oh = table_hash(scols, srows), table_hash(ocols, orows)
            hash_ok = sh == oh
            if not hash_ok:
                problems.append(f"hash {sh} vs {oh}")
        manifest[name] = {
            "rows_match": len(srows) == len(orows),
            "schema_match": sorted(scols) == sorted(ocols),
            "hash_match": bool(hash_ok),
            "spark_rows": len(srows), "oracle_rows": len(orows),
            "err": None,
        }
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            sample_s = sorted(srows)[:3]
            sample_o = sorted(orows)[:3]
            print(f"  spark {scols}: {sample_s}")
            print(f"  duck  {ocols}: {sample_o}")
        else:
            n_pass += 1
            print(f"ok   {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")

    print(
        f"\n{n_pass} matched, {n_rows_only} rows-only, {len(failures)} failed"
        f" / {len(only) if only else len(qs)} run"
    )
    if manifest_path:
        import json

        with open(manifest_path, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        print(f"wrote {manifest_path} ({len(manifest)} queries)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
