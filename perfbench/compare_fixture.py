"""Compare the benchmark's generated fixture with another fixture directory.

    python3 perfbench/compare_fixture.py <dir with the sf0.1 parquet files>

Prints one markdown table: which tables are equal row for row, row
counts and bytes per table, orders per
customer, line items per order, the size of a 200-customer subgraph, the
near-duplicate document pairs and the MinHash candidate pairs the dedup
workload meets, and the banded-LSH bucket sizes and candidates per query
the top-k workload meets. The MinHash and LSH figures come from the
engine's own operators on a small local Spark session; the LSH figures are
also recomputed by ``checks.py`` and must agree. Not part of a benchmark
run.
"""

from __future__ import annotations

import os
import random
import statistics
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from checks import band_keys, exact_pairs, lsh_candidates, shingles  # noqa: E402
from fixture import TABLES, ensure_fixture  # noqa: E402
from workloads import TOPK_BANDS, TOPK_MAX_BUCKET, WALK_ROOTS  # noqa: E402


def duck_stats(d: str) -> dict[str, object]:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(d, t + '.parquet')}')")

    def one(sql):
        return con.execute(sql).fetchone()

    out: dict[str, object] = {}
    tpch = [t for t in TABLES if t not in ("documents", "embeddings")]
    out["TPC-H rows"] = sum(one(f"SELECT count(*) FROM {t}")[0] for t in tpch)
    out["TPC-H MB"] = round(sum(os.path.getsize(os.path.join(d, f"{t}.parquet")) for t in tpch) / 1e6, 2)
    for t in ("customer", "orders", "lineitem", "documents", "embeddings"):
        out[f"{t} rows / MB"] = (
            f"{one(f'SELECT count(*) FROM {t}')[0]} / "
            f"{os.path.getsize(os.path.join(d, f'{t}.parquet')) / 1e6:.2f}"
        )
    out["orders per customer p10/p50/p90/max"] = "/".join(str(int(x)) for x in one(
        "SELECT quantile_disc(c, 0.1), quantile_disc(c, 0.5), quantile_disc(c, 0.9), max(c) "
        "FROM (SELECT count(o_orderkey) c FROM customer LEFT JOIN orders ON o_custkey = c_custkey GROUP BY c_custkey)"
    ))
    out["line items per order p10/p50/p90/max"] = "/".join(str(int(x)) for x in one(
        "SELECT quantile_disc(c, 0.1), quantile_disc(c, 0.5), quantile_disc(c, 0.9), max(c) "
        "FROM (SELECT count(l_orderkey) c FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey GROUP BY o_orderkey)"
    ))
    out["orders without line items"] = one(
        "SELECT count(*) FROM orders WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)")[0]
    out["distinct (l_orderkey, l_linenumber) share"] = round(
        one("SELECT count(DISTINCT (l_orderkey, l_linenumber)) / count(*) FROM lineitem")[0], 4)
    # mean subgraph of 200 random customers over 20 draws
    rng = random.Random(0)
    sizes = []
    for _ in range(20):
        con.execute("CREATE OR REPLACE TEMP TABLE r AS SELECT unnest(?::BIGINT[]) k",
                    [rng.sample(range(one("SELECT count(*) FROM customer")[0]), WALK_ROOTS)])
        sizes.append(one(
            "SELECT (SELECT count(*) FROM orders WHERE o_custkey IN (SELECT k FROM r)), "
            "(SELECT count(*) FROM lineitem WHERE l_orderkey IN "
            "(SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT k FROM r)))"
        ))
    out[f"{WALK_ROOTS}-customer subgraph: orders / line items (mean)"] = (
        f"{statistics.mean(s[0] for s in sizes):.0f} / {statistics.mean(s[1] for s in sizes):.0f}"
    )
    texts = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
    sets = {k: shingles(v) for k, v in texts.items()}
    out["document words min/mean/max"] = "{}/{:.1f}/{}".format(
        *(f(len(v.split(" ")) for v in texts.values()) for f in (min, statistics.mean, max)))
    out["doc pairs at Jaccard >= 0.2 / >= 0.8 / = 1"] = "{} / {} / {}".format(
        len(exact_pairs(sets, 0.2)), len(exact_pairs(sets, 0.8)), len(exact_pairs(sets, 1.0)))
    vecs = np.asarray([r[0] for r in con.execute("SELECT embedding FROM embeddings ORDER BY vec_id").fetchall()],
                      dtype=np.float64)
    g = vecs @ vecs.T
    np.fill_diagonal(g, -2)
    out["embedding nearest-neighbour dot p50/max"] = "{:.3f}/{:.3f}".format(
        float(np.median(g.max(axis=1))), float(g.max()))
    return out


def spark_stats(spark, d: str) -> dict[str, object]:
    from pyspark.sql import functions as F

    from oracle_schema_copy_spark.operators import dedup, similarity

    out: dict[str, object] = {}
    docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
    sets = dedup.shingle_sets(docs, "doc_id", "text", 3)
    out["MinHash candidate pairs (all documents)"] = dedup.minhash_candidate_pairs(
        sets, "doc_id", bands=8, max_bucket=1000).count()
    emb = spark.read.parquet(os.path.join(d, "embeddings.parquet"))
    n = emb.count()
    r = similarity.auto_planes_per_band(n, max_bucket=TOPK_MAX_BUCKET)
    cb = similarity.banded_bucket_keys(emb, bands=TOPK_BANDS, planes_per_band=r,
                                       plane_stride=similarity.LSH_R_MAX)
    rows = cb.select("vec_id", F.col("bk.band").alias("b"), F.col("bk.key").alias("k")).collect()
    engine_keys = np.zeros((n, TOPK_BANDS), dtype=np.int64)
    for row in rows:
        engine_keys[row.vec_id, row.b] = row.k
    vecs = np.asarray([x.embedding for x in emb.orderBy("vec_id").collect()], dtype=np.float64)
    keys = band_keys(vecs, TOPK_BANDS, r, similarity.LSH_R_MAX)
    out["LSH keys: checks.py equals engine"] = bool((keys == engine_keys).all())
    sizes = [int(c) for b in range(TOPK_BANDS) for c in np.unique(keys[:, b], return_counts=True)[1]]
    out[f"LSH planes per band / bucket size mean/max (8 bands)"] = (
        f"{r} / {statistics.mean(sizes):.0f}/{max(sizes)}")
    cands = [len(c) for c in lsh_candidates(keys, TOPK_MAX_BUCKET)]
    out["LSH candidates per query mean/min"] = f"{statistics.mean(cands):.0f}/{min(cands)}"
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 1 or not os.path.isdir(argv[0]):
        print(__doc__, file=sys.stderr)
        return 2
    ours = ensure_fixture(os.path.join(HERE, ".work", "cache"))
    from oracle_schema_copy_spark.session import get_spark

    spark = get_spark(app="perfbench-compare", cpus=2)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        cols = [{**duck_stats(d), **spark_stats(spark, d)} for d in (argv[0], ours)]
    finally:
        spark.stop()
    same = [t for t in TABLES if pq.read_table(os.path.join(argv[0], f"{t}.parquet")).equals(
        pq.read_table(os.path.join(ours, f"{t}.parquet")))]
    print(f"tables equal row for row: {same}\n")
    print("| figure | given fixture | generated fixture |\n|---|---|---|")
    for k in cols[0]:
        print(f"| {k} | {cols[0][k]} | {cols[1][k]} |")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
