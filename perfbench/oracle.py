"""Seeded inputs and the expected output of every op on them.

Expected outputs come from each query's DuckDB oracle
(``oracle_sql()``), run on the same generated parquet files, and are
compared with the Spark output by row count, column names and the
order-insensitive value hash of ``tools/verify_local.table_hash``.
Both are cached under the data directory, keyed by seed and the
generator's source (inputs) or the oracle's SQL text (digests);
``python3 perfbench/oracle.py DATA_DIR SEED`` recomputes them.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import datagen

_HASHES = "expected.json"


def inputs(data_root: str, seed: int) -> str:
    """Directory holding the ten tables for ``seed``."""
    with open(datagen.__file__, "rb") as f:
        version = hashlib.sha1(f.read()).hexdigest()[:10]
    out = os.path.join(data_root, f"sf{datagen.SF}-seed{seed}-{version}")
    if not os.path.isdir(out):
        part = f"{out}.part{os.getpid()}"
        datagen.write(part, seed)
        os.replace(part, out)
    return out


def _table_hash():
    import verify_local

    # verify_local puts its own repo location first on sys.path; keep
    # imports resolving to this checkout
    while verify_local.ROOT in sys.path:
        sys.path.remove(verify_local.ROOT)
    return verify_local.table_hash


def digest(cols: list[str], rows: list[tuple]) -> str:
    return f"{len(rows)}:{','.join(sorted(cols))}:{_table_hash()(cols, rows)}"


def expected(sf_dir: str, ops) -> dict[str, str]:
    """``{op: digest}`` of each op's DuckDB oracle on ``sf_dir``."""
    from avk_job_skill_analytics_spark.registry import all_oracles

    sql = all_oracles()
    key = {op: f"{op}:{hashlib.sha1(sql[op].encode()).hexdigest()[:10]}"
           for op in ops}
    path = os.path.join(sf_dir, _HASHES)
    cached = {}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
    missing = [op for op in ops if key[op] not in cached]
    if missing:
        import duckdb

        con = duckdb.connect()
        con.execute("SET memory_limit='2GB'")
        con.execute("SET threads=4")
        for t in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(sf_dir, t)}.parquet'"
            )
        for op in missing:
            res = con.execute(sql[op])
            cols = [d[0] for d in res.description]
            cached[key[op]] = digest(cols, res.fetchall())
        con.close()
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cached, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return {op: cached[key[op]] for op in ops}


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path[:0] = [root, os.path.join(root, "tools")]
    from workloads import WORKLOADS

    d = inputs(sys.argv[1], int(sys.argv[2]))
    if os.path.exists(os.path.join(d, _HASHES)):
        os.remove(os.path.join(d, _HASHES))
    ops = [op for ops in WORKLOADS.values() for op in ops]
    print(json.dumps(expected(d, ops), indent=1, sort_keys=True))
