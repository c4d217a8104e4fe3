"""Independent expected results, computed with DuckDB over the same parquet.

Nothing here calls the engine: every expected count, key set and content
hash is derived from the fixture files (and from what the engine wrote, for
read-backs) by DuckDB, so a wrong engine result cannot agree with itself.
"""

from __future__ import annotations

import hashlib
import os
from collections import defaultdict
from itertools import combinations

import duckdb
import numpy as np

from fixture import TABLES


class CheckFailed(AssertionError):
    """An operation returned or left behind a wrong result."""


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


class Oracle:
    def __init__(self, fixture_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        self.con.execute("SET threads=2")
        self.columns: dict[str, list[str]] = {}
        self.rows: dict[str, int] = {}
        self.bytes_per_row: dict[str, float] = {}
        for t in TABLES:
            path = os.path.join(fixture_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.columns[t] = [r[0] for r in self.con.execute(f"DESCRIBE {t}").fetchall()]
            self.rows[t] = self.con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
            self.bytes_per_row[t] = os.path.getsize(path) / max(1, self.rows[t])

    def q(self, sql: str, params=None) -> list[tuple]:
        return self.con.execute(sql, params or []).fetchall()

    def keys_table(self, name: str, keys: list) -> None:
        self.con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS SELECT unnest(?::BIGINT[]) AS k", [list(keys)])

    # -- content fingerprints ---------------------------------------------------

    def fingerprint(self, table: str, source: str | None = None, where: str = "") -> tuple:
        """Row count plus an order-independent sum of per-row hashes."""
        cols = ", ".join(self.columns[table])
        return tuple(self.q(
            f"SELECT count(*), coalesce(sum(hash({cols})::HUGEINT), 0) FROM {source or table} {where}"
        )[0])

    @staticmethod
    def parquet_dir(path: str) -> str:
        return f"read_parquet('{os.path.join(path, '*.parquet')}')"

    # -- the flagship walk: CUSTOMER -> ORDERS -> LINEITEM -------------------------

    SUBGRAPH_WHERE = {
        "customer": "WHERE c_custkey IN (SELECT k FROM {r})",
        "orders": "WHERE o_custkey IN (SELECT k FROM {r})",
        "lineitem": "WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT k FROM {r}))",
    }

    def subgraph_fingerprints(self, roots_table: str) -> dict[str, tuple]:
        """Per-table (rows, hash) of the subgraph reached from the roots."""
        return {
            t: self.fingerprint(t, where=w.format(r=roots_table)) for t, w in self.SUBGRAPH_WHERE.items()
        }

    def orders_of(self, roots: list) -> list[int]:
        self.keys_table("tmp_roots", roots)
        return [r[0] for r in self.q(
            "SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT k FROM tmp_roots) ORDER BY 1"
        )]

    def lineitems_of_orders(self, order_keys: list) -> tuple[int, int]:
        """(rows, sum of l_orderkey*8+l_linenumber) of the orders' line items."""
        self.keys_table("tmp_orders", order_keys)
        n, s = self.q(
            "SELECT count(*), coalesce(sum(l_orderkey * 8 + l_linenumber), 0) FROM lineitem "
            "WHERE l_orderkey IN (SELECT k FROM tmp_orders)"
        )[0]
        return int(n), int(s)

    # -- corpus ------------------------------------------------------------------

    def texts(self, ids: list) -> dict[int, str]:
        self.keys_table("tmp_docs", ids)
        return dict(self.q("SELECT doc_id, text FROM documents WHERE doc_id IN (SELECT k FROM tmp_docs)"))

    def exact_dots(self, pairs: list[tuple[int, int]]) -> dict[tuple[int, int], float]:
        self.con.execute(
            "CREATE OR REPLACE TEMP TABLE tmp_pairs AS SELECT unnest(?::BIGINT[]) AS q, unnest(?::BIGINT[]) AS n",
            [[p[0] for p in pairs], [p[1] for p in pairs]],
        )
        rows = self.q(
            "SELECT p.q, p.n, list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) "
            "FROM tmp_pairs p JOIN embeddings a ON a.vec_id = p.q JOIN embeddings b ON b.vec_id = p.n"
        )
        return {(q, n): d for q, n, d in rows}

    def vectors(self) -> tuple[np.ndarray, np.ndarray]:
        """(ids, float64 vectors) of every embedding, in id order."""
        rows = self.q("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id")
        return np.asarray([r[0] for r in rows]), np.asarray([r[1] for r in rows], dtype=np.float64)


def shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    toks = text.split(" ")
    return {tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def exact_pairs(sets: dict[int, set], min_jaccard: float) -> set[tuple[int, int]]:
    """Every pair ``a < b`` whose shingle-set Jaccard is at least
    ``min_jaccard``, found through an inverted index (pairs sharing no
    shingle have Jaccard 0)."""
    postings: dict = defaultdict(list)
    for k in sorted(sets):
        for g in sets[k]:
            postings[g].append(k)
    shared: dict[tuple[int, int], int] = defaultdict(int)
    for ks in postings.values():
        for pair in combinations(ks, 2):
            shared[pair] += 1
    return {
        (a, b) for (a, b), i in shared.items()
        if i / (len(sets[a]) + len(sets[b]) - i) >= min_jaccard
    }


# -- banded random-hyperplane LSH, written from the operator's contract --------
# plane p is 64 signs taken low bit first from md5("plane-<p>-<counter>"); the
# key of band b is sum_j [x . plane(b*stride + j) > 0] << j, with the dot
# accumulated over ascending dimensions in float64


def hyperplanes(n_planes: int, dim: int) -> np.ndarray:
    out = np.empty((n_planes, dim))
    for p in range(n_planes):
        bits: list[float] = []
        counter = 0
        while len(bits) < dim:
            for byte in hashlib.md5(f"plane-{p}-{counter}".encode()).digest():
                bits.extend(1.0 if (byte >> k) & 1 else -1.0 for k in range(8))
            counter += 1
        out[p] = bits[:dim]
    return out


def band_keys(vecs: np.ndarray, bands: int, planes_per_band: int, stride: int) -> np.ndarray:
    """(n, bands) bucket keys of float64 vectors."""
    planes = hyperplanes(bands * stride, vecs.shape[1])
    w = planes[[b * stride + j for b in range(bands) for j in range(planes_per_band)]]
    acc = np.zeros((len(vecs), len(w)))
    for i in range(vecs.shape[1]):
        acc += vecs[:, i, None] * w[:, i]
    bits = (acc > 0).astype(np.int64).reshape(len(vecs), bands, planes_per_band)
    return (bits << np.arange(planes_per_band)).sum(axis=2)


def lsh_candidates(keys: np.ndarray, max_bucket: int) -> list[set[int]]:
    """Per row, the other rows sharing a band bucket of at most
    ``max_bucket`` rows (row positions, not ids)."""
    buckets: dict[tuple[int, int], list[int]] = defaultdict(list)
    for i, row in enumerate(keys.tolist()):
        for b, k in enumerate(row):
            buckets[(b, k)].append(i)
    cands: list[set[int]] = [set() for _ in range(len(keys))]
    for members in buckets.values():
        if len(members) <= max_bucket:
            for i in members:
                cands[i].update(members)
    for i, c in enumerate(cands):
        c.discard(i)
    return cands
