"""Deterministic synthetic fixture tables for the benchmark.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the column names, types and value shapes of the repo's
fixture scales (TPC-H-ish star schema, a 30-day ``events`` stream, a
30-word ``documents`` corpus with 5% near-duplicates, 64-d unit
``embeddings``). Row counts scale with ``sf`` like the fixtures do.

The batch data is fixed: it is generated from ``DATA_SEED`` and not from
the workload seed, so rows-only keys can be checked against hashes
recorded once (``expected.json``). The workload seed drives the stream's
events and the batch key order instead.

Usage: python3 perfbench/datagen.py <out_dir> <sf>
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Bump when the generated data changes, so cached copies are rebuilt.
VERSION = 1

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
_NOUN = ["ring", "widget", "bolt", "anvil", "gear", "plate", "rod", "gizmo"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _days(rng, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days + 1, size).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, i64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
            "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), i64),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 101)))))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    return out


def ensure(out_dir: str, sf: float) -> str:
    """Generate the tables under ``out_dir`` unless a complete copy of this
    generator version is already there; returns ``out_dir``."""
    stamp = os.path.join(out_dir, "_GENERATED")
    want = f"v{VERSION} sf{sf} seed{DATA_SEED}\n"
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == want:
                return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    with open(stamp, "w") as f:
        f.write(want)
    return out_dir


if __name__ == "__main__":
    ensure(sys.argv[1], float(sys.argv[2]))
