"""Seeded synthetic tables in the shape of the repository's test data.

The gates read ten parquet tables (a TPC-H-style star schema plus
``events``, ``documents`` and ``embeddings``). This module writes them
from a seed alone, so a benchmark run needs no data from outside its
checkout: the same seed always gives the same files. Sizes follow the
row counts per scale factor of the reference data (``sf=0.01`` gives
60,000 lineitem rows).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01
VOCAB = (
    "value hash batch sort data big filter row the query stream key agg "
    "scan slow table part a merge window order column join vector fast "
    "spark line small customer group"
).split()
PART_ADJ = ["red", "old", "cold", "hot", "new", "large", "small", "blue"]
PART_NOUN = ["bolt", "anvil", "plate", "widget", "gear", "ring", "rod", "nut"]


def _dates(rng, n: int, span_days: int) -> pa.Array:
    days = EPOCH_1995 + rng.integers(0, span_days, n)
    return pa.array(days.astype("int64") * DAY_US, pa.timestamp("us"))


def _cents(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def lineitem_table(rng, n: int, n_orders: int, n_parts: int, n_supp: int) -> pa.Table:
    """``n`` lineitem rows, as the ETL workload serves them over HTTP."""
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n),
            "l_partkey": rng.integers(0, n_parts, n),
            "l_suppkey": rng.integers(0, n_supp, n),
            "l_linenumber": rng.integers(1, 8, n).astype("int32"),
            "l_quantity": rng.integers(1, 51, n).astype("float64"),
            "l_extendedprice": _cents(rng, n, 900.0, 100_000.0),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": _dates(rng, n, 2499),
        }
    )


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: a few edited words
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 3):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            words.insert(int(rng.integers(0, len(words))), "dup")
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(8, 100))))
        texts.append(" ".join(words))
    langs = rng.choice(["en", "en", "en", "zh", "de", "fr", "es"], n)
    return pa.table(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": pa.array(langs),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype("int32")
    centers = rng.normal(0.0, 1.0, (10, dim))
    v = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": labels,
        }
    )


def _events(rng, n: int, n_users: int) -> pa.Table:
    start = 19723 * DAY_US  # 2024-01-01
    gaps = rng.exponential(30 * DAY_US / n, n).astype("int64")
    return pa.table(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": pa.array(start + np.cumsum(gaps), pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n),
            "event_type": pa.array(
                rng.choice(["click", "signup", "error", "view", "purchase"], n)
            ),
            "value": np.round(rng.exponential(40.0, n) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write all ten tables for scale ``sf`` under ``out_dir``; return
    the row count of each."""
    rng = np.random.default_rng(seed)
    n_li = int(6_000_000 * sf)
    n_ord = max(15, n_li // 4)
    n_cust = max(15, n_li // 40)
    n_part = max(20, n_li // 30)
    n_supp = max(10, n_li // 600)
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": _cents(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _dates(rng, n_ord, 2404),
            "o_orderpriority": pa.array(
                rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    n_ord,
                )
            ),
        }
    )
    tables = {
        "region": pa.table(
            {
                "r_regionkey": np.arange(5, dtype="int32"),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype="int32"),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype("int32"),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
                "c_acctbal": _cents(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": pa.array(
                    rng.choice(
                        ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"],
                        n_cust,
                    )
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
                "s_acctbal": _cents(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype="int64"),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": pa.array(
                    rng.choice(
                        ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"],
                        n_part,
                    )
                ),
                "p_size": rng.integers(1, 51, n_part).astype("int32"),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
            }
        ),
        "orders": orders,
        "lineitem": lineitem_table(rng, n_li, n_ord, n_part, n_supp),
        "events": _events(rng, int(1_000_000 * sf), 150),
        # the reference data holds 500 documents and embeddings up to sf=0.01
        "documents": _documents(rng, 500),
        "embeddings": _embeddings(rng, 500),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
