"""Deterministic TPC-H-shaped fixture for the benchmark.

Builds the nine tables the workloads read (region, nation, customer,
supplier, part, orders, lineitem, documents, embeddings) with the row
counts, key ranges and value distributions of the engine's sf0.1 test
fixture: 791k TPC-H rows, about 15 MB of parquet, one row group per table,
written by pyarrow. ``compare_fixture.py`` measures how close the two are. The data seed is fixed — the
workload seed chooses roots, key sets and subsets, never the base tables —
so every run of every workload reads the same bytes.

The tables are built once per checkout into a cache directory and reused
(read-only) by later runs; the directory appears atomically by rename.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = "v2"
DATA_SEED = 42

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_DOCUMENTS = 5_000
N_NEAR_DUPS = 250  # documents replaced by a copy of another plus " dup"
N_EMBEDDINGS = 2_000
DIM = 64

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
TABLES = TPCH_TABLES + ("documents", "embeddings")

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _strs(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, n: int, lo: int, hi: int) -> pa.Array:
    """Days ``lo`` to ``hi - 1`` after 1995-01-01."""
    days = np.datetime64("1995-01-01", "D") + rng.integers(lo, hi, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def build_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """Every column is drawn independently and uniformly: foreign keys
    uniform over the parent keys (so ~1.8% of orders have no line items),
    ``l_linenumber`` uniform in 1..7 and so not unique within an order.
    The draws, their order and the category lists reproduce the seven
    TPC-H tables of the sf0.1 fixture value for value."""
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    segs = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": _strs(rng, segs, N_CUSTOMER),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    adj = np.asarray(["red", "blue", "small", "large", "hot", "cold", "old", "new"], dtype=object)
    noun = np.asarray(["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"], dtype=object)
    p_adj = adj[rng.integers(0, 8, N_PART)]
    p_noun = noun[rng.integers(0, 8, N_PART)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": pa.array(p_adj + " " + p_noun, pa.string()),
        "p_brand": _strs(rng, [f"Brand#{i}" for i in range(1, 26)], N_PART),
        "p_type": _strs(rng, ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(N_PART) % 1000 * 0.1, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": _strs(rng, ["O", "F", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, N_ORDERS),
        "o_orderdate": _dates(rng, N_ORDERS, 0, 2405),
        "o_orderpriority": _strs(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS
        ),
    })
    n = N_LINEITEM
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": _money(rng, 0.0, 0.1, n),
        "l_tax": _money(rng, 0.0, 0.08, n),
        "l_returnflag": _strs(rng, ["R", "A", "N"], n),
        "l_linestatus": _strs(rng, ["O", "F"], n),
        "l_shipdate": _dates(rng, n, 1, 2500),
    })
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def _documents(rng: np.random.Generator) -> pa.Table:
    """10-99 words drawn uniformly from a 30-word vocabulary. Then
    ``N_NEAR_DUPS`` documents, one after another, become a copy of another
    document with " dup" appended (word 3-gram Jaccard about 0.97; a copy
    of a copy yields exact duplicates), as the sf0.1 fixture plants them."""
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))])
             for _ in range(N_DOCUMENTS)]
    for dst in rng.choice(N_DOCUMENTS, N_NEAR_DUPS, replace=False):
        src = int(rng.integers(0, N_DOCUMENTS - 1))
        src += src >= dst
        texts[dst] = texts[src] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": _strs(rng, ["en", "en", "en", "de", "es", "fr", "zh"], N_DOCUMENTS),
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    """Isotropic random unit vectors; the label is uniform and independent
    of the vector, as in the sf0.1 fixture."""
    vecs = rng.normal(size=(N_EMBEDDINGS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), pa.int32()),
    })


def ensure_fixture(cache_root: str) -> str:
    """Directory holding ``<table>.parquet`` for every table; built on first
    use under ``cache_root`` and published by an atomic rename."""
    final = os.path.join(cache_root, f"fixture-{VERSION}")
    if os.path.isdir(final):
        return final
    os.makedirs(cache_root, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=cache_root, prefix=".fixture-")
    try:
        for name, table in build_tables().items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        os.replace(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final
