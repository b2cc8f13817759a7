"""Seeded input tables for the benchmark.

Writes the ten catalog tables (``etl_verkada_spark.catalog.TABLES``) as
parquet, with the schemas, value ranges and row counts of the project's
TPC-H-ish test data at scale factor ``sf`` (lineitem has 6,000,000 x sf
rows). Every value is drawn from one ``numpy`` generator seeded with
``seed``, so the same (seed, sf) always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table at sf=1; region and nation have fixed sizes.
ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a the spark line small fast group customer part column order scan slow "
    "agg key window table merge vector join query row stream batch sort value "
    "hash filter big data"
).split()
EMBED_DIM = 64
N_LABELS = 10


def _rows(name: str, sf: float) -> int:
    return max(10, int(round(ROWS_AT_SF1[name] * sf)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def _documents(rng: np.random.Generator, n: int) -> dict[str, object]:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # near-duplicates end in "dup"; a few documents are exact copies
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] += " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        texts[i] = texts[rng.integers(0, n)]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.asarray(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)),
        pa.array(vecs.ravel(), type=pa.float32()),
    )
    return pa.table(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": labels}
    )


def generate(out_dir: str, seed: int, sf: float) -> dict[str, dict[str, int]]:
    """Write every table under ``out_dir``; return rows and bytes per table."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = _rows("customer", sf), _rows("supplier", sf), _rows("part", sf)
    n_ord, n_li, n_ev = _rows("orders", sf), _rows("lineitem", sf), _rows("events", sf)
    n_users = max(10, n_ev // 66)

    cust = np.arange(n_cust, dtype=np.int64)
    supp = np.arange(n_supp, dtype=np.int64)
    part = np.arange(n_part, dtype=np.int64)
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    tables: dict[str, pa.Table] = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": cust,
                "c_name": _names("Customer", cust),
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.asarray(SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": supp,
                "s_name": _names("Supplier", supp),
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": part,
                "p_name": [
                    f"{P_ADJ[a]} {P_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": np.asarray(P_TYPES)[rng.integers(0, 6, n_part)],
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (part % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": np.asarray(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": np.asarray(PRIORITIES)[rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li),
                "l_partkey": rng.integers(0, n_part, n_li),
                "l_suppkey": rng.integers(0, n_supp, n_li),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.asarray(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                "l_linestatus": np.asarray(["F", "O"])[rng.integers(0, 2, n_li)],
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": np.datetime64("2024-01-01", "us") + ev_us,
                "user_id": rng.integers(0, n_users, n_ev),
                "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": pa.table(_documents(rng, _rows("documents", sf))),
        "embeddings": _embeddings(rng, _rows("embeddings", sf)),
    }
    os.makedirs(out_dir, exist_ok=True)
    stats: dict[str, dict[str, int]] = {}
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        stats[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return stats

