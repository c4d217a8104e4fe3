"""Live-database tests against embedded Derby (sources/derby.py).

These execute the K1/K4/K5/K6 paths for real — actual JDBC writes, an
actual MERGE, actual DELETE statements, actual transactional rollback —
rather than asserting on generated SQL strings (test_jdbc_mutations.py
keeps that pure-function layer). Reference behaviors exercised live:
ExecuteTarget.java:12-32 (execute verbs), ExecuteTableUpdate.java:10-27
(upsert), DeleteByPk.java:15-43 (keyed delete), ExecuteSqlList.java:11-40
(ordered DDL on one transaction).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from oracle_schema_copy_spark.sources import derby, jdbc_mutations
from oracle_schema_copy_spark.sources.jdbc import read_query


@pytest.fixture
def tgt(spark, tmp_path):
    t = derby.DerbyTarget(spark, f"{tmp_path}/db")
    yield t
    t.close()


@pytest.fixture
def jdbc_tgt(spark, tmp_path, sf_dir):
    """The same embedded database through ``Engine.create_db_target``: a
    plain ``JdbcTarget`` that takes the Derby dialect from the URL."""
    from oracle_schema_copy_spark import catalog as cat
    from oracle_schema_copy_spark.engine import Engine

    db = f"{tmp_path}/db"
    eng = Engine(spark, cat.tpch_catalog(sf_dir))
    yield eng.create_db_target(derby.embedded_connection(spark, db))
    derby.shutdown(spark, db)


def _mk(spark, rows):
    return spark.createDataFrame([Row(k=k, v=v, p=p) for k, v, p in rows])


def _state(spark, tgt):
    df = read_query(spark, tgt.conn, "SELECT K, V, P FROM T ORDER BY K")
    return [(r[0], r[1], r[2]) for r in df.collect()]


def test_live_insert_upsert_delete_roundtrip(spark, tgt):
    base = _mk(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)])
    tgt.create_table("t", base.schema, primary_key=["k"])
    tgt.insert("t", base)
    assert _state(spark, tgt) == [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]

    # upsert: update k=2, insert k=4 — one staged MERGE
    tgt.upsert("t", _mk(spark, [(2, "B", 20.0), (4, "d", 4.0)]), "k")
    assert _state(spark, tgt) == [
        (1, "a", 1.0),
        (2, "B", 20.0),
        (3, "c", 3.0),
        (4, "d", 4.0),
    ]
    # staging table dropped after the MERGE
    with pytest.raises(Exception, match="does not exist"):
        read_query(spark, tgt.conn, "SELECT * FROM T_OSCS_UPSERT_STG").collect()

    # keyed delete (inline IN-list path)
    keys = spark.createDataFrame([Row(k=1), Row(k=4)])
    tgt.delete("t", "k", keys)
    assert _state(spark, tgt) == [(2, "B", 20.0), (3, "c", 3.0)]


def test_live_delete_staged_exists_path(spark, tgt):
    """Force the above-max_inline_keys branch: keys stage to the database
    and one set-oriented EXISTS delete runs (no driver key collect)."""
    base = _mk(spark, [(i, f"v{i}", float(i)) for i in range(20)])
    tgt.create_table("t", base.schema, primary_key=["k"])
    tgt.insert("t", base)
    keys = spark.range(0, 20, 2).select(F.col("id").alias("k"))
    stmts = jdbc_mutations.jdbc_delete(
        derby.fold_upper(keys),
        tgt.conn,
        "T",
        ["K"],
        executor=tgt.executor,
        max_inline_keys=3,
    )
    assert any("EXISTS" in s for s in stmts)
    assert [r[0] for r in _state(spark, tgt)] == list(range(1, 20, 2))


def test_live_merge_duplicate_source_keys_raise(spark, tgt):
    """The reference guards '>1 row updated' per key
    (ExecuteTableUpdate.java:10-27); set-oriented MERGE preserves that
    guard server-side — Derby rejects a source with duplicate match keys."""
    base = _mk(spark, [(1, "a", 1.0)])
    tgt.create_table("t", base.schema, primary_key=["k"])
    tgt.insert("t", base)
    dup = _mk(spark, [(1, "x", 9.0), (1, "y", 8.0)])
    with pytest.raises(Exception):  # noqa: B017 — py4j-wrapped SQLException
        tgt.upsert("t", dup, "k")


def test_live_transactional_rollback(spark, tgt):
    """ExecuteSqlList semantics: an ordered statement list is one
    transaction — a failing statement rolls back the earlier ones."""
    base = _mk(spark, [(1, "a", 1.0)])
    tgt.create_table("t", base.schema, primary_key=["k"])
    tgt.insert("t", base)
    with pytest.raises(Exception):  # noqa: B017
        tgt.execute_sql(
            [
                "INSERT INTO T VALUES (2, 'b', 2.0)",
                "INSERT INTO NO_SUCH_TABLE VALUES (1)",
            ]
        )
    assert _state(spark, tgt) == [(1, "a", 1.0)]


def test_live_ddl_types_roundtrip(spark, tgt):
    """DDL generator covers the engine's scalar types; values survive the
    write→read round trip exactly (timestamps under UTC sessions)."""
    df = spark.sql(
        """
        SELECT CAST(1 AS BIGINT) k, CAST(2 AS INT) i, CAST(3 AS SMALLINT) s,
               CAST(1.5 AS DOUBLE) d, CAST(2.5 AS FLOAT) f,
               TRUE b, CAST('2024-03-01' AS DATE) dt,
               TIMESTAMP '2024-03-01 12:34:56.789' ts, 'text' t
        """
    )
    tgt.create_table("types_t", df.schema, primary_key=["k"])
    tgt.insert("types_t", df)
    back = tgt.read("types_t", df.columns, schema=df.schema)
    # nullability differs (literals are non-null, JDBC reads nullable)
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
    assert back.collect() == df.collect()


def test_replay_into_target_modes(spark, tgt, tmp_path):
    """replay_into_target: infer-DDL creates tables from payload schemas
    on first insert; multi-chunk inserts append; upsert/delete records
    execute through the staged live paths; opaque records run by default
    and on_opaque='error' refuses them; on_view='skip' ignores
    Spark-dialect view text."""
    from oracle_schema_copy_spark.plans import oplog

    base = _mk(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)])
    log_path = str(tmp_path / "log")
    with oplog.OperationLogWriter(log_path, rows_per_op=2) as log:
        log.insert("t", base)  # one insert record; rows_per_op chunks files
        log.ddl(["CREATE INDEX T_IX ON T (V)"], opaque=True)
        log.upsert("t", _mk(spark, [(2, "B", 20.0), (9, "i", 9.0)]), ["k"])
        log.delete("t", "k", spark.createDataFrame([Row(k=1)]))
        log.view("v_t", "SELECT k FROM t")  # Spark-dialect text
    applied = oplog.replay_into_target(spark, log_path, tgt)
    # executed records only: the on_view='skip' view record is excluded
    assert [r.kind for r in applied] == [
        "insert", "opaque_sql", "upsert", "delete",
    ]
    assert _state(spark, tgt) == [(2, "B", 20.0), (3, "c", 3.0), (9, "i", 9.0)]
    # the opaque index record executed: the index is in Derby's catalog
    n_ix = read_query(
        spark,
        tgt.conn,
        "SELECT COUNT(*) AS N FROM SYS.SYSCONGLOMERATES "
        "WHERE CONGLOMERATENAME = 'T_IX'",
    ).first()[0]
    assert n_ix == 1
    # on_opaque='error' refuses (fresh target: inserts replay, the opaque
    # record then raises before any mutation past it)
    tgt2 = derby.DerbyTarget(spark, str(tmp_path / "db2"))
    with pytest.raises(ValueError, match="opaque"):
        oplog.replay_into_target(spark, log_path, tgt2, on_opaque="error")
    tgt2.close()


def test_live_engine_copy_and_delete_tree(spark, tgt, sf_dir):
    """Engine verbs drive the live target unchanged: copy_tree lands the
    FK subgraph in Derby; delete_tree removes it child-first (FK-safe)."""
    from oracle_schema_copy_spark import catalog as cat
    from oracle_schema_copy_spark.engine import Engine

    c = cat.tpch_catalog(sf_dir)
    eng = Engine(spark, c)
    paths = ["CUSTOMER->ORDERS.O_CUSTKEY"]
    roots = eng.table("customer").filter(F.col("c_custkey") % 50 == 0).select("c_custkey")
    for t in ("customer", "orders"):
        tgt.create_table(t, eng.table(t).schema, primary_key=list(c.primary_keys[t]))
    # FK constraint after DDL so delete order actually matters
    tgt.execute_sql(
        [
            "ALTER TABLE ORDERS ADD CONSTRAINT o_fk FOREIGN KEY (O_CUSTKEY) "
            "REFERENCES CUSTOMER (C_CUSTKEY)"
        ]
    )
    counts = eng.copy_tree(tgt, paths, roots)
    live = {
        t: read_query(spark, tgt.conn, f"SELECT COUNT(*) AS N FROM {t.upper()}").first()[0]
        for t in counts
    }
    assert live == counts and counts["customer"] > 0
    eng.delete_tree(tgt, paths, roots)
    for t in counts:
        n = read_query(spark, tgt.conn, f"SELECT COUNT(*) AS N FROM {t.upper()}").first()[0]
        assert n == 0, t


def test_read_table_keyed_pushed_probe(spark, tgt):
    """Pushed IN-list keyed scan (sources/jdbc.read_table_keyed, the
    live-source child-probe default per BENCH_NOTES_r10.md §1): batched
    probes return exactly the semi-join result, across batch boundaries,
    with duplicates in the key list harmless and an empty key list giving
    an empty frame with the table's schema."""
    from oracle_schema_copy_spark.sources.jdbc import read_table_keyed

    rows = [(i, f"v{i}", float(i % 7)) for i in range(50)]
    df = _mk(spark, rows)
    tgt.create_table("t", df.schema, primary_key=["k"])
    tgt.insert("t", df)

    keys = [3, 11, 11, 42, 999]  # dup + missing key
    got = read_table_keyed(spark, tgt.conn, "T", "K", keys, keys_per_probe=2)
    # dup deduped -> 4 distinct keys -> ceil(4/2) = 2 probes = partitions
    assert got.rdd.getNumPartitions() == 2
    assert sorted(r[0] for r in got.select("K").collect()) == [3, 11, 42]

    empty = read_table_keyed(spark, tgt.conn, "T", "K", [])
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["K", "V", "P"]


def test_create_db_target_insert_upsert_delete_roundtrip(spark, jdbc_tgt):
    test_live_insert_upsert_delete_roundtrip(spark, jdbc_tgt)


def test_create_db_target_copy_and_delete_tree(spark, jdbc_tgt, sf_dir):
    test_live_engine_copy_and_delete_tree(spark, jdbc_tgt, sf_dir)


@pytest.mark.parametrize("target", ["tgt", "jdbc_tgt"])
def test_live_delete_tree_flagship_composite_keys(spark, sf_dir, request, target):
    """delete_tree over the flagship path on a live database: lineitem's
    composite-key selection (well over one 500-tuple batch) goes through
    the staged EXISTS delete, which Derby accepts where it rejects large
    OR-of-AND statements as too complex. Child-first order under FK
    constraints; all three tables end empty."""
    from oracle_schema_copy_spark import catalog as cat
    from oracle_schema_copy_spark.engine import Engine

    tgt = request.getfixturevalue(target)
    c = cat.tpch_catalog(sf_dir)
    eng = Engine(spark, c)
    paths = ["CUSTOMER->ORDERS.O_CUSTKEY", "ORDERS->LINEITEM.L_ORDERKEY"]
    roots = eng.table("customer").filter(F.col("c_custkey") % 3 == 0).select("c_custkey")
    for t in ("customer", "orders"):
        tgt.create_table(t, eng.table(t).schema, primary_key=list(c.primary_keys[t]))
    # no primary key: the generated fixture repeats some (l_orderkey,
    # l_linenumber) pairs
    tgt.create_table("lineitem", eng.table("lineitem").schema)
    tgt.execute_sql(
        [
            "ALTER TABLE ORDERS ADD CONSTRAINT o_fk FOREIGN KEY (O_CUSTKEY) "
            "REFERENCES CUSTOMER (C_CUSTKEY)",
            "ALTER TABLE LINEITEM ADD CONSTRAINT l_fk FOREIGN KEY (L_ORDERKEY) "
            "REFERENCES ORDERS (O_ORDERKEY)",
        ]
    )
    counts = eng.copy_tree(tgt, paths, roots)
    assert counts["lineitem"] > jdbc_mutations.DELETE_BATCH
    eng.delete_tree(tgt, paths, roots)
    for t in ("customer", "orders", "lineitem"):
        n = read_query(spark, tgt.conn, f"SELECT COUNT(*) AS N FROM {t.upper()}").first()[0]
        assert n == 0, t
