"""Seeded generator for the operator-battery input tables.

Writes the ten tables the battery registry reads (``schemas.TESTDATA_TABLES``:
a TPC-H-like star plus ``events``, ``documents`` and ``embeddings``) as one
parquet file each, with the column types and value shapes of the synthetic
scale-factor directories the battery was written against, at half the
sf0.01 row counts (lineitem 30k, orders 7.5k, events 5k, 250 documents, 250
embeddings).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = np.array(
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the".split()
)
_LANGS = np.array(["en", "de", "fr", "es", "zh"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
_ADJ = np.array(["blue", "old", "small", "new", "hot", "large", "cold", "red"])
_NOUN = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"])
_PTYPES = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
EMB_DIMS = 64
SCALE = 0.5  # of the sf0.01 row counts
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_DAY_US = 86_400_000_000


def _days(rng, n, first: str, last: str) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n), pa.int64())


def _documents(rng, n: int) -> pa.Table:
    n_dup = max(1, n // 20)
    lengths = rng.integers(10, 100, n)
    words = _WORDS[rng.integers(0, len(_WORDS), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    text = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    # near-duplicates: a later document repeats an earlier one plus a token
    for i in np.sort(rng.choice(np.arange(1, n), size=n_dup, replace=False)):
        text[i] = text[int(rng.integers(0, i))] + " dup"
    langs = _LANGS[rng.choice(len(_LANGS), n, p=[0.5, 0.15, 0.15, 0.1, 0.1])]
    return pa.table(
        {
            "doc_id": _keys(n),
            "text": text,
            "lang": langs,
            "source": np.char.mod("src%d", rng.integers(0, 20, n)),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(size=(10, EMB_DIMS))
    label = rng.integers(0, 10, n)
    vec = centers[label] + 1.5 * rng.normal(size=(n, EMB_DIMS))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": _keys(n),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def _events(rng, n: int, users: int) -> pa.Table:
    span = 30 * _DAY_US
    ts = np.unique(rng.integers(0, span, 2 * n))
    ts = np.sort(rng.choice(ts, n, replace=False))  # distinct instants
    ts += np.datetime64("2024-01-01", "us").astype(np.int64)
    return pa.table(
        {
            "event_id": _keys(n),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": _EVENT_TYPES[rng.integers(0, len(_EVENT_TYPES), n)],
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
            "props": np.char.mod('{"k": %d}', rng.integers(0, 100, n)),
        }
    )


def write_tables(seed: int, out_dir: str) -> None:
    """Write every table under ``out_dir`` as ``<name>.parquet``."""
    rng = np.random.default_rng([seed, 2])
    scale = SCALE
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_li = int(15000 * scale), int(60000 * scale)
    nations = np.arange(25)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": [f"REGION_{i}" for i in range(5)],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(nations, pa.int32()),
                "n_name": [f"NATION_{i}" for i in nations],
                "n_regionkey": pa.array(nations % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": _keys(n_cust),
                "c_name": np.char.mod("Customer#%09d", np.arange(n_cust)),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": _keys(n_supp),
                "s_name": np.char.mod("Supplier#%09d", np.arange(n_supp)),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": _keys(n_part),
                "p_name": np.char.add(
                    np.char.add(_ADJ[rng.integers(0, 8, n_part)], " "),
                    _NOUN[rng.integers(0, 8, n_part)],
                ),
                "p_brand": np.char.mod("Brand#%d", rng.integers(1, 26, n_part)),
                "p_type": _PTYPES[rng.integers(0, len(_PTYPES), n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": _keys(n_ord),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, n_ord, 1000, 500000),
                "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
                "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, n_li, 900, 105000),
                "l_discount": rng.integers(0, 11, n_li) / 100,
                "l_tax": rng.integers(0, 9, n_li) / 100,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
                "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
            }
        ),
        "events": _events(rng, int(10000 * scale), max(10, int(150 * scale))),
        "documents": _documents(rng, int(500 * scale)),
        "embeddings": _embeddings(rng, int(500 * scale)),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
