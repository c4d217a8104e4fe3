"""The benchmark's workloads: closed loops of engine verbs, one at a time.

A workload runs in cycles. Each cycle issues the workload's verbs once, in
a fixed order, on inputs drawn from the run's seeded RNG. Cycle 0 is the
warm-up: only its first verb runs, on a cold JVM. Every verb call
is one operation: it is timed alone, then its result is checked against
DuckDB outside the timed region. An exception or a wrong result marks the
operation failed and ends the cycle (later verbs of the cycle depend on
it).
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np

from checks import (
    CheckFailed, Oracle, band_keys, exact_pairs, expect, jaccard, lsh_candidates, shingles,
)
from fixture import N_CUSTOMER, N_DOCUMENTS, N_EMBEDDINGS, N_ORDERS, TPCH_TABLES

# the flagship FK path: customer roots, their orders, the orders' line items
FLAGSHIP = ["CUSTOMER->ORDERS.O_CUSTKEY", "ORDERS->LINEITEM.L_ORDERKEY"]
WALK_ROOTS = 200  # ~200 customers, ~2k orders, ~8k line items per walk
DEDUP_SURE_JACCARD = 0.8
TOPK_BANDS = 8
TOPK_MAX_BUCKET = 1000


@dataclass
class Op:
    kind: str
    cycle: int
    seconds: float | None = None
    ok: bool = False
    error: str | None = None
    rows: int = 0  # user rows the operation handled
    src_bytes: float = 0.0  # source parquet bytes of the rows it moved
    bytes_written: int = 0  # bytes of target files it created or rewrote


class CycleAborted(Exception):
    pass


def _snapshot(dirs) -> dict[str, tuple[int, int]]:
    out = {}
    for d in dirs:
        for root, _dirs, files in os.walk(d):
            for f in files:
                p = os.path.join(root, f)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> int:
    return sum(size for p, (size, mt) in after.items() if before.get(p) != (size, mt))


class Runner:
    """Shared state of one run: session, engine, oracle, RNG, op records."""

    def __init__(self, spark, engine, oracle: Oracle, run_dir: str, seed: int, tracer=None):
        self.spark = spark
        self.engine = engine
        self.oracle = oracle
        self.run_dir = run_dir
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.ops: list[Op] = []
        self.check_s = 0.0  # time spent checking outputs, outside every verb

    def keys_frame(self, keys, schema: str = "k long"):
        return self.spark.createDataFrame([k if isinstance(k, tuple) else (k,) for k in keys], schema)

    def op(self, kind: str, cycle: int, fn, check, watch=()):
        rec = Op(kind, cycle)
        self.ops.append(rec)
        before = _snapshot(watch)
        verb = self.tracer.verb(kind) if self.tracer else nullcontext()
        sp = None
        try:
            with verb as sp:
                t0 = time.perf_counter()
                result = fn()
                rec.seconds = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 — every failure is recorded by class
            rec.error = type(e).__name__
            print(f"[perfbench] {kind} (cycle {cycle}) failed: {rec.error}: {str(e)[:400]}", file=sys.stderr)
            if sp is not None:
                sp.info.update(cycle=cycle, error=rec.error)
            raise CycleAborted from e
        t_check = time.perf_counter()
        try:
            rec.rows, rec.src_bytes = check(result)
        except Exception as e:  # noqa: BLE001 — a result the check cannot read is wrong too
            rec.error = "CheckFailed" if isinstance(e, CheckFailed) else f"CheckFailed:{type(e).__name__}"
            print(f"[perfbench] {kind} (cycle {cycle}) wrong output: {e}", file=sys.stderr)
            raise CycleAborted from e
        finally:
            rec.bytes_written = _written(before, _snapshot(watch))
            self.check_s += time.perf_counter() - t_check
        rec.ok = True
        if sp is not None:
            sp.info.update(cycle=cycle, rows=rec.rows, result_rows=_len(result))
            self.tracer.resolve(sp)
        return result


def _len(result) -> int:
    return len(result) if isinstance(result, list) else 0


class Subgraph:
    """FK-subgraph verbs into a parquet warehouse target and a live
    embedded-Derby target, on seeded 200-customer roots."""

    kinds = ("copy_tree", "delete_tree", "jdbc_copy_tree", "jdbc_upsert", "jdbc_keyed_delete")
    spans = {
        "engine.copy_tree", "engine.delete_tree", "engine.update", "tables.load",
        "walk.walk_linked", "walk.copy_selections", "warehouse.write", "warehouse.rewrite",
        "mutate.delete_by_keys", "jdbc.write_table", "jdbc_mutations.upsert",
        "jdbc_mutations.delete", "derby.insert", "derby.upsert", "derby.delete",
    }

    def __init__(self, r: Runner):
        self.r = r
        self.pool = list(range(N_CUSTOMER))
        r.rng.shuffle(self.pool)
        self.derby = None
        self.derby_dir = os.path.join(r.run_dir, "derby")
        # what the Derby target must hold, as key sets
        self.customers: set[int] = set()
        self.orders: set[int] = set()
        self.upserted: set[int] = set()
        self.lineitems = [0, 0]  # rows, sum of l_orderkey*8+l_linenumber

    def _derby_row(self, sql: str) -> tuple:
        jvm = self.r.spark._jvm
        c = jvm.java.sql.DriverManager.getConnection(self.derby.conn.url)
        try:
            rs = c.createStatement().executeQuery(sql)
            rs.next()
            return tuple(int(rs.getLong(i + 1)) for i in range(rs.getMetaData().getColumnCount()))
        finally:
            c.close()

    def _check_derby(self) -> None:
        got = self._derby_row("SELECT COUNT(*), COALESCE(SUM(C_CUSTKEY), 0) FROM CUSTOMER")
        expect(got == (len(self.customers), sum(self.customers)), f"Derby CUSTOMER {got}")
        live_upserted = self.upserted & self.orders
        got = self._derby_row(
            "SELECT COUNT(*), COUNT(DISTINCT O_ORDERKEY), COALESCE(SUM(O_ORDERKEY), 0), "
            "COALESCE(SUM(CASE WHEN O_ORDERPRIORITY = 'UPSERTED' THEN O_ORDERKEY ELSE 0 END), 0) "
            "FROM ORDERS"
        )
        want = (len(self.orders), len(self.orders), sum(self.orders), sum(live_upserted))
        expect(got == want, f"Derby ORDERS {got}, expected {want}")
        got = self._derby_row(
            "SELECT COUNT(*), COALESCE(SUM(L_ORDERKEY * 8 + L_LINENUMBER), 0) FROM LINEITEM"
        )
        expect(got == tuple(self.lineitems), f"Derby LINEITEM {got}, expected {tuple(self.lineitems)}")

    def cycle(self, i: int, warmup: bool = False) -> None:
        r, o, eng = self.r, self.r.oracle, self.r.engine
        base = i * (2 * WALK_ROOTS + 20)
        wh_roots = self.pool[base : base + WALK_ROOTS]
        db_roots = self.pool[base + WALK_ROOTS : base + 2 * WALK_ROOTS]
        extra = self.pool[base + 2 * WALK_ROOTS : base + 2 * WALK_ROOTS + 20]

        # copy_tree into a fresh warehouse
        wh_root = os.path.join(r.run_dir, f"wh{i}")
        target = eng.create_warehouse_target(wh_root)
        o.keys_table("wh_roots", wh_roots)
        want = o.subgraph_fingerprints("wh_roots")

        def check_copy(counts):
            for t, (n, h) in want.items():
                expect(counts.get(t) == n, f"copy_tree reported {counts.get(t)} {t} rows, expected {n}")
                got = o.fingerprint(t, o.parquet_dir(os.path.join(wh_root, t)))
                expect(got == (n, h), f"warehouse {t} holds {got}, expected {(n, h)}")
            return _moved(o, want)

        r.op("copy_tree", i, lambda: eng.copy_tree(target, FLAGSHIP, wh_roots), check_copy, [wh_root])
        if warmup:
            return

        # delete_tree of half the roots from that warehouse
        gone_roots = r.rng.sample(wh_roots, WALK_ROOTS // 2)
        o.keys_table("gone_roots", gone_roots)
        o.keys_table("kept_roots", sorted(set(wh_roots) - set(gone_roots)))
        gone = o.subgraph_fingerprints("gone_roots")
        kept = o.subgraph_fingerprints("kept_roots")

        def check_delete(_):
            for t, fp in kept.items():
                src = o.parquet_dir(os.path.join(wh_root, t))
                left = o.q(f"SELECT count(*) FROM {src} " + o.SUBGRAPH_WHERE[t].format(r="gone_roots"))[0][0]
                expect(left == 0, f"delete_tree left {left} {t} rows of deleted roots")
                got = o.fingerprint(t, src)
                expect(got == fp, f"warehouse {t} holds {got} after delete, expected {fp}")
            return _moved(o, gone)

        r.op("delete_tree", i, lambda: eng.delete_tree(target, FLAGSHIP, gone_roots), check_delete, [wh_root])

        # copy_tree into live Derby
        if self.derby is None:
            from oracle_schema_copy_spark.sources.derby import DerbyTarget

            self.derby = DerbyTarget(r.spark, os.path.join(self.derby_dir, "db"))
        o.keys_table("db_roots", db_roots)
        want_db = o.subgraph_fingerprints("db_roots")
        orders = o.orders_of(db_roots)
        li = o.lineitems_of_orders(orders)

        def check_jdbc_copy(counts):
            for t, (n, _h) in want_db.items():
                expect(counts.get(t) == n, f"copy_tree reported {counts.get(t)} {t} rows, expected {n}")
            self.customers |= set(db_roots)
            self.orders |= set(orders)
            self.lineitems = [self.lineitems[0] + li[0], self.lineitems[1] + li[1]]
            self._check_derby()
            return _moved(o, want_db)

        r.op("jdbc_copy_tree", i, lambda: eng.copy_tree(self.derby, FLAGSHIP, db_roots),
             check_jdbc_copy, [self.derby_dir])

        # MERGE upsert: half of those orders changed, plus the orders of 20
        # customers Derby does not hold yet (insert path)
        upd_keys = sorted(r.rng.sample(orders, len(orders) // 2) + o.orders_of(extra))
        from pyspark.sql import functions as F

        upd = (
            eng.table("orders")
            .join(r.keys_frame(upd_keys, "o_orderkey long"), "o_orderkey", "left_semi")
            .withColumn("o_orderpriority", F.lit("UPSERTED"))
        )

        def check_upsert(_):
            self.orders |= set(upd_keys)
            self.upserted |= set(upd_keys)
            self._check_derby()
            return len(upd_keys), len(upd_keys) * o.bytes_per_row["orders"]

        r.op("jdbc_upsert", i, lambda: eng.update(self.derby, "orders", upd), check_upsert, [self.derby_dir])

        # keyed delete of half this cycle's copied orders
        dels = sorted(r.rng.sample(orders, len(orders) // 2))
        dels_df = r.keys_frame(dels, "o_orderkey long")

        def check_keyed_delete(_):
            self.orders -= set(dels)
            self._check_derby()
            return len(dels), len(dels) * o.bytes_per_row["orders"]

        r.op("jdbc_keyed_delete", i, lambda: self.derby.delete("orders", "o_orderkey", dels_df),
             check_keyed_delete, [self.derby_dir])

    def close(self) -> None:
        if self.derby is not None:
            self.derby.close()


def _moved(o: Oracle, fps: dict[str, tuple]) -> tuple[int, float]:
    rows = sum(n for n, _ in fps.values())
    return rows, sum(n * o.bytes_per_row[t] for t, (n, _) in fps.items())


class BulkCorpus:
    """Whole-table verbs and corpus operators: whole-schema export to an
    operation log, atomic import, upsert and keyed delete on the imported
    tables, then MinHash dedup and banded-LSH top-k on seeded subsets."""

    kinds = ("export", "import", "upsert", "keyed_delete", "dedup", "topk")
    spans = {
        "engine.export_schema", "engine.import_schema", "engine.update", "tables.load",
        "oplog.export_all", "oplog.replay_atomic", "warehouse.write", "warehouse.rewrite",
        "mutate.merge_upsert", "mutate.delete_by_keys", "dedup.minhash_lsh_pairs",
        "dedup.minhash_candidate_pairs", "similarity.lsh_banded_topk",
        "similarity.banded_bucket_keys",
    }
    NEW_KEY_OFFSET = 10_000_000

    def __init__(self, r: Runner):
        from oracle_schema_copy_spark.operators import similarity

        self.r = r
        o = r.oracle
        self.source = {t: o.fingerprint(t) for t in TPCH_TABLES}
        self.source_bytes = sum(o.rows[t] * o.bytes_per_row[t] for t in TPCH_TABLES)
        self.source_rows = sum(o.rows[t] for t in TPCH_TABLES)
        self.planes = similarity.auto_planes_per_band(o.rows["embeddings"], max_bucket=TOPK_MAX_BUCKET)
        self.vec_ids, self.vecs = o.vectors()
        keys = band_keys(self.vecs, TOPK_BANDS, self.planes, similarity.LSH_R_MAX)
        self.cands = lsh_candidates(keys, TOPK_MAX_BUCKET)

    def cycle(self, i: int, warmup: bool = False) -> None:
        from pyspark.sql import functions as F

        from oracle_schema_copy_spark.operators import dedup, similarity

        r, o, eng = self.r, self.r.oracle, self.r.engine
        log = os.path.join(r.run_dir, f"log{i}")
        imp = os.path.join(r.run_dir, f"imp{i}")

        def check_export(_):
            with open(os.path.join(log, "manifest.jsonl")) as f:
                recs = [json.loads(line) for line in f]
            inserts = {rec["table"]: rec["payload"] for rec in recs if rec["kind"] == "insert"}
            expect(sorted(inserts) == sorted(TPCH_TABLES), f"export logged inserts for {sorted(inserts)}")
            for t, payload in inserts.items():
                got = o.fingerprint(t, o.parquet_dir(os.path.join(log, payload)))
                expect(got == self.source[t], f"oplog payload of {t} holds {got}, expected {self.source[t]}")
            return self.source_rows, self.source_bytes

        r.op("export", i, lambda: eng.export_schema(list(TPCH_TABLES), log), check_export, [log])
        if warmup:
            return

        def check_import(_):
            for t in TPCH_TABLES:
                got = o.fingerprint(t, o.parquet_dir(os.path.join(imp, t)))
                expect(got == self.source[t], f"imported {t} holds {got}, expected {self.source[t]}")
            return self.source_rows, self.source_bytes

        r.op("import", i, lambda: eng.import_schema(log, imp, atomic=True), check_import, [imp])

        # upsert 1500 changed orders and 500 new ones into the imported table
        wt = eng.create_warehouse_target(imp)
        changed = r.rng.sample(range(N_ORDERS), 1500)
        cloned = r.rng.sample(range(N_ORDERS), 500)
        src = eng.table("orders")
        upd = (
            src.join(r.keys_frame(changed, "o_orderkey long"), "o_orderkey", "left_semi")
            .unionByName(
                src.join(r.keys_frame(cloned, "o_orderkey long"), "o_orderkey", "left_semi")
                .withColumn("o_orderkey", F.col("o_orderkey") + self.NEW_KEY_OFFSET)
            )
            .withColumn("o_orderpriority", F.lit("UPSERTED"))
        )
        upserted = set(changed) | {k + self.NEW_KEY_OFFSET for k in cloned}

        def check_upsert(_):
            got = o.q(
                "SELECT count(*), count(DISTINCT o_orderkey), "
                "sum(CASE WHEN o_orderpriority = 'UPSERTED' THEN 1 ELSE 0 END), "
                "sum(CASE WHEN o_orderpriority = 'UPSERTED' THEN o_orderkey ELSE 0 END) "
                f"FROM {o.parquet_dir(os.path.join(imp, 'orders'))}"
            )[0]
            n = N_ORDERS + len(cloned)
            want = (n, n, len(upserted), sum(upserted))
            expect(tuple(got) == want, f"upserted orders {tuple(got)}, expected {want}")
            return len(upserted), len(upserted) * o.bytes_per_row["orders"]

        r.op("upsert", i, lambda: eng.update(wt, "orders", upd), check_upsert, [imp])

        # keyed delete of 2000 distinct (l_orderkey, l_linenumber) tuples;
        # the pair is not unique, so a tuple can match several rows
        salt = r.rng.getrandbits(31)
        tuples = o.q(
            "SELECT l_orderkey, l_linenumber FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem) "
            f"ORDER BY hash(l_orderkey, l_linenumber, {salt}), l_orderkey, l_linenumber LIMIT 2000"
        )
        keys = r.keys_frame([tuple(t) for t in tuples], "l_orderkey long, l_linenumber int")
        o.con.execute(
            "CREATE OR REPLACE TEMP TABLE tmp_li AS SELECT unnest(?::BIGINT[]) AS a, unnest(?::INT[]) AS b",
            [[t[0] for t in tuples], [t[1] for t in tuples]],
        )
        matched = o.q("SELECT count(*) FROM lineitem JOIN tmp_li ON l_orderkey = a AND l_linenumber = b")[0][0]

        def check_keyed_delete(_):
            src_li = o.parquet_dir(os.path.join(imp, "lineitem"))
            left = o.q(f"SELECT count(*) FROM {src_li} JOIN tmp_li ON l_orderkey = a AND l_linenumber = b")[0][0]
            total = o.q(f"SELECT count(*) FROM {src_li}")[0][0]
            expect(left == 0, f"keyed delete left {left} rows of its keys")
            want = o.rows["lineitem"] - matched
            expect(total == want, f"lineitem holds {total} rows after delete, expected {want}")
            return len(tuples), matched * o.bytes_per_row["lineitem"]

        r.op("keyed_delete", i, lambda: wt.delete("lineitem", ["l_orderkey", "l_linenumber"], keys),
             check_keyed_delete, [imp])

        # MinHash-LSH near-duplicate pairs over a 70% document subset
        ids = sorted(r.rng.sample(range(N_DOCUMENTS), N_DOCUMENTS * 7 // 10))
        docs = eng.table("documents").join(r.keys_frame(ids, "doc_id long"), "doc_id", "left_semi")

        def check_dedup(rows):
            texts = o.texts(ids)
            sets = {k: shingles(v) for k, v in texts.items()}
            got = {(a, b) for a, b, _ in rows}
            expect(len(got) == len(rows), "dedup returned a pair twice")
            for a, b, j in rows:
                expect(a < b and a in sets and b in sets, f"dedup pair ({a}, {b}) outside the subset")
                exact = jaccard(sets[a], sets[b])
                expect(exact >= 0.2 and abs(exact - j) < 1e-9, f"pair ({a}, {b}) jaccard {j} vs exact {exact}")
            # 8 bands of 2 rows find a pair at Jaccard 0.8 with probability
            # 1 - 0.36^8 > 0.9997, so every such pair must come back
            must = exact_pairs(sets, DEDUP_SURE_JACCARD)
            expect(len(must) > 0, f"subset holds no pair at Jaccard >= {DEDUP_SURE_JACCARD}")
            lost = must - got
            expect(not lost, f"dedup missed {len(lost)} of {len(must)} pairs at Jaccard >= "
                             f"{DEDUP_SURE_JACCARD}: {sorted(lost)[:5]}")
            return len(ids), 0.0

        r.op("dedup", i, lambda: dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=3, bands=8, threshold=0.2)
             .collect(), check_dedup)

        # banded-LSH top-5 for 50 query vectors
        qids = sorted(r.rng.sample(range(N_EMBEDDINGS), 50))
        emb = eng.table("embeddings")
        queries = emb.join(r.keys_frame(qids, "vec_id long"), "vec_id", "left_semi")

        def check_topk(rows):
            exact = o.exact_dots([(q, n) for q, n, _, _ in rows])
            by_q: dict[int, list] = {q: [] for q in qids}
            for q, n, score, rank in rows:
                expect(q in by_q and n != q, f"top-k row ({q}, {n}) is not a query/neighbor pair")
                expect(abs(score - exact[(q, n)]) <= 1e-9, f"score {score} != exact dot {exact[(q, n)]}")
                by_q[q].append((rank, score))
            # the top 5 of every query's LSH candidates, by exact dot product
            for q, rs in by_q.items():
                rs.sort()
                pos = int(np.searchsorted(self.vec_ids, q))
                scores = sorted((float(self.vecs[pos] @ self.vecs[c]) for c in self.cands[pos]), reverse=True)[:5]
                expect([k for k, _ in rs] == list(range(1, len(scores) + 1)),
                       f"query {q}: ranks {[k for k, _ in rs]}, expected {len(scores)} of "
                       f"{len(self.cands[pos])} candidates")
                expect(all(abs(a - b) <= 1e-9 for (_, a), b in zip(rs, scores)),
                       f"query {q}: scores {[s for _, s in rs]}, expected {scores}")
            return len(qids), 0.0

        r.op("topk", i, lambda: similarity.lsh_banded_topk(
            emb, queries, k=5, bands=TOPK_BANDS, planes_per_band=self.planes,
            plane_stride=similarity.LSH_R_MAX, max_bucket=TOPK_MAX_BUCKET, queries_are_corpus_subset=True,
        ).collect(), check_topk)

    def close(self) -> None:
        pass


WORKLOADS = {"subgraph": Subgraph, "bulk_corpus": BulkCorpus}
