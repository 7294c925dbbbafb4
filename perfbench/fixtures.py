"""Seeded input tables for the benchmark.

Writes the ten parquet tables the catalog reads (the TPC-H-ish star
schema plus `events`, `documents` and `embeddings`) with the shapes and
value distributions of the repository's reference fixtures, so the
catalog queries and their DuckDB twins run on them unchanged. The same
seed writes the same tables; only the values change between seeds, never
the row counts, so run-to-run spread measures the engine and not the
input size.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts per unit of scale factor (the reference fixtures' sizes).
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
#: The text and vector corpora stay small at every scale factor.
DOCUMENTS = 500
EMBEDDINGS = 500
EMBEDDING_DIM = 64

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.15, 0.14, 0.14, 0.13])
#: Share of documents that are a planted near-duplicate of another one.
_NEAR_DUP_FRAC = 0.05


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every fixture table for `seed` at scale factor `sf`."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(round(r * sf))) for t, r in ROWS_PER_SF.items()}
    n_users = max(1, n["customer"] // 10)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    k = np.arange(n["customer"])
    tables["customer"] = pa.table({
        "c_custkey": k,
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
        "c_acctbal": _money(rng, len(k), -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, len(k)),
    })
    k = np.arange(n["supplier"])
    tables["supplier"] = pa.table({
        "s_suppkey": k,
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
        "s_acctbal": _money(rng, len(k), -999.99, 9999.99),
    })
    k = np.arange(n["part"])
    tables["part"] = pa.table({
        "p_partkey": k,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, len(k)),
                                              rng.choice(_PART_NOUN, len(k)))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(k))],
        "p_type": rng.choice(_PART_TYPES, len(k)),
        "p_size": rng.integers(1, 51, len(k)).astype(np.int32),
        "p_retailprice": np.round(900.0 + (k % 1000) * 0.1, 1),
    })
    k = np.arange(n["orders"])
    tables["orders"] = pa.table({
        "o_orderkey": k,
        "o_custkey": rng.integers(0, n["customer"], len(k)),
        "o_orderstatus": rng.choice(["F", "O", "P"], len(k)),
        "o_totalprice": _money(rng, len(k), 1000.0, 500000.0),
        "o_orderdate": _days(rng, len(k), "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(_PRIORITIES, len(k)),
    })
    m = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, m, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04"),
    })
    tables["events"] = _events(rng, n["events"], n_users)
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    return tables


def _events(rng, m: int, n_users: int) -> pa.Table:
    # Poisson arrivals over January 2024, in event_id order.
    gaps = rng.exponential(1.0, m)
    span_us = 30 * 86400 * 10**6 - 10**6
    offs = (np.cumsum(gaps) / gaps.sum() * span_us).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(m),
        "ts": ts,
        "user_id": rng.integers(0, n_users, m),
        "event_type": rng.choice(_EVENT_TYPES, m),
        "value": np.maximum(np.round(rng.exponential(50.0, m), 2), 0.01),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, m)],
    })


def _documents(rng) -> pa.Table:
    texts = [" ".join(rng.choice(_WORDS, int(rng.integers(10, 100))))
             for _ in range(DOCUMENTS)]
    # Planted near-duplicates: another document's text plus one token,
    # the pairs the MinHash/LSH family must find.
    n_dup = int(DOCUMENTS * _NEAR_DUP_FRAC)
    targets = rng.choice(DOCUMENTS, n_dup, replace=False)
    for t in targets:
        src = int(rng.integers(0, DOCUMENTS))
        if src != t:
            texts[t] = texts[src] + " dup"
    ids = np.arange(DOCUMENTS)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(_LANGS[0], DOCUMENTS, p=_LANGS[1]),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng) -> pa.Table:
    x = rng.standard_normal((EMBEDDINGS, EMBEDDING_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(EMBEDDINGS),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, EMBEDDINGS).astype(np.int32),
    })


def write_fixture(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as `<out_dir>/<name>.parquet`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
