"""Seeded generator for the registry workload's tables.

Writes the ten parquet tables the query registry scans (a TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``) with the column
names, types and value domains of the engine's test data, at a small
scale factor. The same seed gives byte-identical files.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "red", "blue", "green", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "nut", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = (["en", "es", "zh", "de", "fr"], [0.44, 0.14, 0.15, 0.14, 0.13])
VOCAB = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part a merge "
    "window order column join vector"
).split()

_US_PER_DAY = 86_400_000_000
_EPOCH = datetime(1970, 1, 1)


def _days(d: datetime) -> int:
    return (d - _EPOCH).days


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 20260])
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(20_000 * sf), int(150_000 * sf * 10)
    n_events, n_docs = int(1_000_000 * sf), int(50_000 * sf)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })

    d0, d1 = _days(datetime(1995, 1, 1)), _days(datetime(2001, 8, 1))
    odays = rng.integers(d0, d1 + 1, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odays * _US_PER_DAY),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })

    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1, pa.int32()
        ),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 901.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts((odays[okey] + rng.integers(1, 122, n_li)) * _US_PER_DAY),
    })

    e0 = _days(datetime(2024, 1, 1)) * _US_PER_DAY
    span = 30 * _US_PER_DAY
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(e0 + np.sort(rng.integers(0, span, n_events))),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(40.0, n_events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    # documents: random word strings, a fifth of them near-duplicates of an
    # earlier document (a few words replaced), for the dedup/LSH tier
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS[0], n_docs, p=LANGS[1]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })

    # embeddings: 64-d unit vectors around one centre per label
    centres = rng.standard_normal((10, 64))
    labels = rng.integers(0, 10, n_docs)
    vecs = centres[labels] + 0.8 * rng.standard_normal((n_docs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_tables(sf: float, seed: int, out_dir: str) -> list[str]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns the paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name, table in generate(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths
