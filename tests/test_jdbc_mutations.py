"""JDBC mutation path: SQL generation + target plumbing, executor mocked
(no database in this environment — the generated statements ARE the
contract; cf. ExecuteTableUpdate.java:10-27, DeleteByPk.java:15-43,
ExecuteSqlList.java:11-40)."""

from __future__ import annotations

import datetime as dt

import pytest

from oracle_schema_copy_spark.engine import JdbcTarget
from oracle_schema_copy_spark.sources import jdbc_mutations as jm
from oracle_schema_copy_spark.sources.jdbc import JdbcConnection


def test_merge_sql_ansi():
    sql = jm.merge_sql("orders", "orders_stg", ["o_orderkey", "o_status", "o_total"], ["o_orderkey"])
    assert sql == (
        "MERGE INTO orders t USING orders_stg s ON (t.o_orderkey = s.o_orderkey) "
        "WHEN MATCHED THEN UPDATE SET t.o_status = s.o_status, t.o_total = s.o_total "
        "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_status, o_total) "
        "VALUES (s.o_orderkey, s.o_status, s.o_total)"
    )


def test_merge_sql_composite_key_and_all_key_columns():
    sql = jm.merge_sql("t", "t_stg", ["a", "b"], ["a", "b"])
    # all columns are keys: no UPDATE clause at all
    assert "WHEN MATCHED" not in sql
    assert "ON (t.a = s.a AND t.b = s.b)" in sql


def test_merge_sql_postgres_upsert():
    sql = jm.merge_sql("t", "t_stg", ["k", "v"], ["k"], dialect="postgres_upsert")
    assert sql.startswith("INSERT INTO t (k, v) SELECT k, v FROM t_stg")
    assert "ON CONFLICT (k) DO UPDATE SET v = EXCLUDED.v" in sql
    # all columns are keys: DO NOTHING, never an empty SET list
    all_keys = jm.merge_sql("t", "t_stg", ["a", "b"], ["a", "b"], dialect="postgres_upsert")
    assert all_keys.endswith("ON CONFLICT (a, b) DO NOTHING")
    with pytest.raises(ValueError):
        jm.merge_sql("t", "s", ["k"], ["k"], dialect="mystery")


def test_sql_literals():
    assert jm.sql_literal(42) == "42"
    assert jm.sql_literal(None) == "NULL"
    assert jm.sql_literal("O'Brien") == "'O''Brien'"
    assert jm.sql_literal(dt.date(2024, 3, 1)) == "DATE '2024-03-01'"
    assert jm.sql_literal(dt.datetime(2024, 3, 1, 12, 30)) == "TIMESTAMP '2024-03-01 12:30:00'"
    # sub-second precision must survive (a truncated literal silently
    # matches the wrong rows on a timestamp key)
    assert (
        jm.sql_literal(dt.datetime(2024, 3, 1, 12, 30, 0, 123456))
        == "TIMESTAMP '2024-03-01 12:30:00.123456'"
    )


def test_delete_in_sql_batches_at_reference_size():
    stmts = jm.delete_in_sql("lineitem", "l_orderkey", range(1201))
    assert len(stmts) == 3  # 500 + 500 + 201
    assert stmts[0].startswith("DELETE FROM lineitem WHERE l_orderkey IN (0, 1,")
    assert stmts[0].count(",") == 499
    assert stmts[2].count(",") == 200


def test_delete_using_staging_sql():
    sql = jm.delete_using_staging_sql("orders", "orders_oscs_delete_stg", ["o_orderkey"])
    assert sql == (
        "DELETE FROM orders t WHERE EXISTS "
        "(SELECT 1 FROM orders_oscs_delete_stg s WHERE s.o_orderkey = t.o_orderkey)"
    )


def test_jdbc_delete_driver_side_batches(spark):
    recorded: list[str] = []
    keys = spark.createDataFrame([(i,) for i in range(7)] + [(3,)], ["k"])
    stmts = jm.jdbc_delete(
        keys,
        JdbcConnection(url="jdbc:h2:mem:test"),
        "orders",
        "o_orderkey",
        executor=recorded.extend,
    )
    assert recorded == stmts and len(stmts) == 1
    # keys dedup'd and inlined
    assert stmts[0].count(",") == 6


def test_jdbc_delete_iterable_keys():
    recorded: list[str] = []
    stmts = jm.jdbc_delete(
        ["a", "b", "a"],
        JdbcConnection(url="jdbc:h2:mem:test"),
        "t",
        "name",
        executor=recorded.extend,
    )
    assert stmts == ["DELETE FROM t WHERE name IN ('a', 'b')"]


def test_jdbc_target_execute_sql_and_prod_guard(spark):
    recorded: list[str] = []
    t = JdbcTarget(
        JdbcConnection(url="jdbc:h2:mem:test"), executor=recorded.extend
    )
    t.execute_sql(["CREATE TABLE x (a INT)", "ALTER TABLE x ADD b INT"])
    assert recorded == ["CREATE TABLE x (a INT)", "ALTER TABLE x ADD b INT"]

    from oracle_schema_copy_spark.sources.jdbc import ProductionGuardError

    with pytest.raises(ProductionGuardError):
        jm.jdbc_delete(
            [1],
            JdbcConnection(url="jdbc:oracle:thin:@prod:1521/X"),
            "t",
            "k",
            executor=recorded.extend,
        )


def test_jdbc_target_delete_no_notimplemented(spark):
    """The round-1 NotImplementedError stubs are gone: delete flows through
    SQL generation with an injected executor."""
    recorded: list[str] = []
    t = JdbcTarget(JdbcConnection(url="jdbc:h2:mem:test"), executor=recorded.extend)
    keys = spark.createDataFrame([(1,), (2,)], ["o_orderkey"])
    t.delete("orders", "o_orderkey", keys)
    assert len(recorded) == 1 and recorded[0].startswith("DELETE FROM orders")


def test_staging_name_deterministic():
    assert jm.staging_name("orders", "upsert") == "orders_oscs_upsert_stg"


def test_jdbc_upsert_stages_then_merges(spark, monkeypatch):
    """Upsert = staged bulk write + one MERGE + drop staging, in order."""
    staged: list[tuple[str, str]] = []
    recorded: list[str] = []

    def fake_write(df, conn, table, **kw):
        staged.append((table, kw.get("mode", "append")))

    monkeypatch.setattr(jm, "write_table", fake_write)
    df = spark.createDataFrame([(1, "A"), (2, "B")], ["k", "v"])
    stmts = jm.jdbc_upsert(
        df,
        JdbcConnection(url="jdbc:h2:mem:test"),
        "orders",
        "k",
        executor=recorded.extend,
    )
    assert staged == [("orders_oscs_upsert_stg", "overwrite")]
    assert recorded == stmts
    # staging key indexed BEFORE the merge: planners without staging
    # statistics (embedded Derby, measured) nested-loop the probe otherwise
    assert stmts[0] == "CREATE INDEX orders_oscs_upsert_stg_kix ON orders_oscs_upsert_stg (k)"
    assert stmts[1].startswith("MERGE INTO orders t USING orders_oscs_upsert_stg s")
    assert stmts[2] == "DROP TABLE orders_oscs_upsert_stg"


def test_read_table_keyed_adversarial_keys_roundtrip(spark, tmp_path):
    """Hypothesis property over the pushed probe's injection surface
    (VERDICT r11 #7): ``sql_literal`` renders the keys INTO the predicate
    text (`sources/jdbc.py` read_table_keyed), so adversarial key values —
    quotes, doubled quotes, unicode, empty string, negative ints — must
    round-trip identically through a LIVE Derby probe: every
    requested-and-present key comes back exactly once, absent keys return
    nothing, and a None key matches nothing (NULL never equality-matches).
    """
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import types as T

    from oracle_schema_copy_spark.sources import derby
    from oracle_schema_copy_spark.sources.jdbc import read_table_keyed

    tgt = derby.DerbyTarget(spark, f"{tmp_path}/advdb")
    seq = iter(range(10_000))

    # Derby compares VARCHAR with PAD SPACE semantics ('a' = 'a '), so keys
    # differing only in trailing spaces would collide on the PK — exclude
    # trailing spaces (an edge of Derby, not of the literal rendering).
    # Cc/Cs excluded: control chars and surrogates are not valid VARCHAR
    # payload; quotes are explicitly force-included via one_of.
    key_text = st.one_of(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs", "Cc")),
            max_size=30,
        ),
        st.sampled_from(["O'Brien", "''", "'; DROP TABLE T; --", "a''b'", "日本語'キー"]),
    ).filter(lambda s: not s.endswith(" ") and s != "@absent-key@")

    schema = T.StructType(
        [T.StructField("K", T.StringType(), False), T.StructField("V", T.LongType())]
    )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        keys=st.lists(key_text, min_size=1, max_size=12, unique=True),
        data=st.data(),
    )
    def run_text(keys, data):
        name = f"ADV{next(seq)}"
        df = spark.createDataFrame([(k, i) for i, k in enumerate(keys)], schema)
        tgt.create_table(name, schema, primary_key=["K"])
        tgt.insert(name, df)
        want = data.draw(st.lists(st.sampled_from(keys), unique=True))
        probe = want + ["@absent-key@", None]
        got = read_table_keyed(spark, tgt.conn, name, "K", probe, keys_per_probe=3)
        assert sorted(r[0] for r in got.select("K").collect()) == sorted(want)

    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(keys=st.lists(st.integers(-(2**62), 2**62), min_size=1, max_size=12, unique=True))
    def run_int(keys):
        name = f"ADV{next(seq)}"
        ischema = T.StructType([T.StructField("K", T.LongType(), False)])
        tgt.create_table(name, ischema, primary_key=["K"])
        tgt.insert(name, spark.createDataFrame([(k,) for k in keys], ischema))
        want = keys[::2]
        got = read_table_keyed(
            spark, tgt.conn, name, "K", want + [None], keys_per_probe=3
        )
        assert sorted(r[0] for r in got.select("K").collect()) == sorted(want)

    try:
        run_text()
        run_int()
    finally:
        tgt.close()


@pytest.mark.parametrize("n_keys, staged", [(5, False), (6, True)])
def test_jdbc_delete_inline_cap_boundary(spark, monkeypatch, n_keys, staged):
    """``max_inline_keys`` distinct keys go inline; one more goes through
    the staged EXISTS delete."""
    writes: list[str] = []
    monkeypatch.setattr(jm, "write_table", lambda df, conn, table, **kw: writes.append(table))
    recorded: list[str] = []
    keys = spark.range(n_keys).toDF("k").union(spark.range(n_keys).toDF("k"))
    stmts = jm.jdbc_delete(
        keys,
        JdbcConnection(url="jdbc:h2:mem:test"),
        "t",
        "k",
        executor=recorded.extend,
        max_inline_keys=5,
    )
    assert recorded == stmts
    if staged:
        assert writes == ["t_oscs_delete_stg"]
        assert stmts[1] == jm.delete_using_staging_sql("t", "t_oscs_delete_stg", ["k"])
    else:
        assert writes == [] and len(stmts) == 1
        assert stmts[0].startswith("DELETE FROM t WHERE k IN (")
        inlined = stmts[0][stmts[0].index("(") + 1 : -1].split(", ")
        assert sorted(int(k) for k in inlined) == list(range(n_keys))


def test_jdbc_delete_composite_frame_is_staged_iterable_inline(spark, monkeypatch):
    """Composite-key frames always stage (no OR-of-AND statement at all);
    composite iterables stay inline, DELETE_BATCH // arity tuples per
    statement."""
    writes: list[str] = []
    monkeypatch.setattr(jm, "write_table", lambda df, conn, table, **kw: writes.append(table))
    conn = JdbcConnection(url="jdbc:h2:mem:test")
    frame = spark.createDataFrame([(1, 1), (1, 2)], ["a", "b"])
    stmts = jm.jdbc_delete(frame, conn, "t", ["a", "b"], executor=lambda s: None)
    assert writes == ["t_oscs_delete_stg"] and "EXISTS" in stmts[1]

    tuples = [(i, i + 1) for i in range(jm.DELETE_BATCH // 2 + 1)]
    stmts = jm.jdbc_delete(tuples, conn, "t", ["a", "b"], executor=lambda s: None)
    last = len(tuples) - 1
    assert len(stmts) == 2 and stmts[1] == f"DELETE FROM t WHERE (a = {last} AND b = {last + 1})"
    assert writes == ["t_oscs_delete_stg"]


@pytest.mark.parametrize(
    "url, stmt",
    [
        ("jdbc:h2:mem:test", "DELETE FROM Orders WHERE O_OrderKey IN (1, 2)"),
        ("jdbc:derby:memory:x", "DELETE FROM ORDERS WHERE O_ORDERKEY IN (1, 2)"),
        ("jdbc:postgresql://h/db", "DELETE FROM orders WHERE o_orderkey IN (1, 2)"),
    ],
)
def test_jdbc_target_folds_names_by_url_dialect(url, stmt):
    recorded: list[str] = []
    JdbcTarget(JdbcConnection(url=url), executor=recorded.extend).delete(
        "Orders", "O_OrderKey", [1, 2]
    )
    assert recorded == [stmt]
