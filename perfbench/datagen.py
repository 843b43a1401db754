"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the query registry reads (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each) with the same schemas and value domains as the project's
read-only test data, so every registered query runs unchanged on them.
The same ``seed`` always gives byte-identical tables.

Row counts follow the test data's scale-factor ratios; ``SF`` below is
the benchmark's fixed scale. Documents and embeddings do not scale, as
in the test data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Benchmark scale: a quarter of the test data's sf0.01 row counts
#: (lineitem 15,000 rows). The registry is fixed-overhead bound at this
#: size; the two scale probes amplify lineitem in-plan, so they stay
#: data-bound.
SF = 0.0025

VOCAB = (
    "vector batch part value a slow scan merge sort hash table join fast column key "
    "spark agg the line order data small customer query window big stream group row filter"
).split()
LANGS = ("en", "zh", "de", "es", "fr")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "red", "small", "old")
PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01 00:00 UTC
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01 00:00 UTC
DAY_US = 86_400_000_000


def row_counts(sf: float = SF) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(20, int(15_000_000 * sf / 100)),
        "supplier": max(5, int(1_000_000 * sf / 100)),
        "part": max(20, int(20_000_000 * sf / 100)),
        "orders": max(100, int(150_000_000 * sf / 100)),
        "lineitem": max(400, int(600_000_000 * sf / 100)),
        "events": max(200, int(100_000_000 * sf / 100)),
        "documents": 500,
        "embeddings": 500,
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def make_tables(seed: int, sf: float = SF) -> dict[str, pa.Table]:
    """Every table as an Arrow table; deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
    })
    no = n["orders"]
    order_day = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(EPOCH_1995_US + order_day * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    l_order = rng.integers(0, no, nl)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(EPOCH_1995_US + (order_day[l_order] + rng.integers(1, 96, nl)) * DAY_US),
    })
    t["events"] = events_table(rng, n["events"])
    t["documents"] = documents_table(rng, n["documents"])
    t["embeddings"] = embeddings_table(rng, n["embeddings"])
    return t


def events_table(rng: np.random.Generator, ne: int, first_id: int = 0) -> pa.Table:
    """``ne`` events spread over January 2024, ordered by time."""
    users = max(15, ne * 15 // 1000)
    ts = np.sort(rng.integers(0, 30 * DAY_US, ne)) + EPOCH_2024_US
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + ne), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.minimum(np.round(rng.exponential(50.0, ne), 2), 560.21),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })


def documents_table(rng: np.random.Generator, nd: int) -> pa.Table:
    """Random-vocabulary documents; about 5% are near-duplicates of an
    earlier document with a trailing ``dup`` token, as in the test data."""
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def embeddings_table(rng: np.random.Generator, nv: int, dim: int = 64) -> pa.Table:
    """Unit vectors around ten label centroids."""
    centers = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, nv)
    vecs = centers[labels] + rng.normal(0.0, 1.5, (nv, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out_dir: str, seed: int, sf: float = SF) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
