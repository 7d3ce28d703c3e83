"""Seeded synthetic inputs in the shape of the engine's parquet tables.

Writes the ten tables every registry query reads (``region nation
customer supplier part orders lineitem events documents embeddings``)
as one parquet file each, ``<out>/<table>.parquet``. Column names,
types and value domains follow the engine's test data: uniform TPC-H
style keys and measures, an ``events`` stream sorted by time over 30
days, a 30-word document vocabulary with 5% near-duplicate documents
(a copy of another document plus the token ``dup``), and unit-norm
64-dimensional float embeddings. Dates and event times are written as
INT64 ``TIMESTAMP(NANOS)``, the format ``plans.schemas.load`` is written
for, so it converts them on its long → timestamp path. The same seed
always gives byte-identical values.

Usage: ``python3 perfbench/datagen.py OUT_DIR SEED``
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64
SF = 0.02                # scale factor of every workload's inputs

_DAY_NS = 86_400 * 10**9


def _ns(epoch_ns: np.ndarray) -> pa.Array:
    return pa.array(epoch_ns.astype("datetime64[ns]"), pa.timestamp("ns"))


def _days(start: str, n_days: int, size: int, rng) -> pa.Array:
    """Midnight timestamps drawn uniformly from ``n_days`` days."""
    base = np.datetime64(start, "ns").astype(np.int64)
    return _ns(base + rng.integers(0, n_days, size) * _DAY_NS)


def _money(lo: float, hi: float, size: int, rng) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _pick(values: list[str], size: int, rng, p=None) -> pa.Array:
    idx = rng.choice(len(values), size, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _serials(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(n: int, rng) -> pa.Table:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(vocab[words[at:at + k]]))
        at += k
    # 5% near-duplicates: another document's text plus one extra token
    dups = rng.choice(n, n // 20, replace=False)
    sources = rng.integers(0, n, len(dups))
    for d, s in zip(dups, sources):
        if s != d:
            texts[d] = texts[s] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(LANGS, n, rng, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(n: int, rng) -> pa.Table:
    v = rng.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def generate(seed: int) -> dict[str, pa.Table]:
    """All ten tables for ``seed``; row counts scale with ``SF``."""
    sf = SF
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = np.int32
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=i32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=i32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": _serials("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
            "c_acctbal": pa.array(_money(-999.99, 9999.99, n_cust, rng)),
            "c_mktsegment": _pick(SEGMENTS, n_cust, rng),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": _serials("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
            "s_acctbal": pa.array(_money(-999.99, 9999.99, n_supp, rng)),
        }),
    }
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": _pick(names, n_part, rng),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(PART_TYPES, n_part, rng),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 1)),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(["F", "O", "P"], n_ord, rng),
        "o_totalprice": pa.array(_money(1000.0, 500_000.0, n_ord, rng)),
        "o_orderdate": _days("1995-01-01", 2404, n_ord, rng),
        "o_orderpriority": _pick(PRIORITIES, n_ord, rng),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(i32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(900.0, 105_000.0, n_line, rng)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(["A", "N", "R"], n_line, rng),
        "l_linestatus": _pick(["F", "O"], n_line, rng),
        "l_shipdate": _days("1995-01-02", 2499, n_line, rng),
    })
    start = np.datetime64("2024-01-01", "ns").astype(np.int64)
    # whole microseconds, so nothing is lost converting to Spark's
    # microsecond timestamps
    ts = np.sort(rng.integers(0, 30 * _DAY_NS // 1000, n_ev)) * 1000 + start
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ns(ts),
        "user_id": pa.array(rng.integers(0, max(150, int(15_000 * sf)), n_ev)),
        "event_type": _pick(EVENT_TYPES, n_ev, rng),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    out["documents"] = _documents(n_doc, rng)
    out["embeddings"] = _embeddings(n_emb, rng)
    return out


def write(out_dir: str, seed: int) -> None:
    """Write every table to ``out_dir`` (created if missing)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(seed).items():
        # parquet format 2.6 keeps the nanosecond unit
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       version="2.6")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    write(sys.argv[1], int(sys.argv[2]))
