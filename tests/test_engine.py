from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from oracle_schema_copy_spark import catalog as cat
from oracle_schema_copy_spark.engine import Engine
from oracle_schema_copy_spark.sources import jdbc


@pytest.fixture
def engine(spark, sf_dir):
    return Engine(spark, cat.tpch_catalog(sf_dir))


def test_copy_tree_via_file_target_then_import(engine, spark, tmp_path):
    log_path = str(tmp_path / "log")
    wh_path = str(tmp_path / "wh")
    target = engine.create_file_target(log_path)
    counts = engine.copy_tree(
        target, ["CUSTOMER->ORDERS.O_CUSTKEY", "ORDERS->LINEITEM.L_ORDERKEY"], [1, 2, 3]
    )
    target.close()
    assert counts["customer"] == 3 and counts["orders"] > 0 and counts["lineitem"] > 0

    wh = engine.import_schema(log_path, wh_path)
    assert wh.read("customer").count() == 3
    assert wh.read("lineitem").count() == counts["lineitem"]


def test_delete_tree_child_first_on_warehouse(engine, spark, tmp_path):
    wh_target = engine.create_warehouse_target(str(tmp_path / "wh"))
    # seed warehouse with full copies
    for t in ("customer", "orders", "lineitem"):
        wh_target.insert(t, engine.table(t))
    engine.delete_tree(
        wh_target, ["CUSTOMER->ORDERS.O_CUSTKEY", "ORDERS->LINEITEM.L_ORDERKEY"], [1, 2]
    )
    wh = wh_target
    assert wh.read("customer").filter(F.col("c_custkey").isin([1, 2])).count() == 0
    assert (
        wh.read("orders").join(
            engine.table("orders").filter(F.col("o_custkey").isin([1, 2])),
            "o_orderkey",
            "left_semi",
        ).count()
        == 0
    )


def test_delete_tree_payload_carries_composite_key(engine, spark, tmp_path):
    """Engine.delete_tree must hand targets the FULL composite key — the
    leading column alone would over-delete partial selections (and wrote
    duplicate keys into the payload before r4)."""
    from oracle_schema_copy_spark.plans import oplog

    log_path = str(tmp_path / "log")
    target = engine.create_file_target(log_path)
    engine.delete_tree(
        target, ["CUSTOMER->ORDERS.O_CUSTKEY", "ORDERS->LINEITEM.L_ORDERKEY"], [1, 2]
    )
    target.close()
    recs = list(oplog.read_manifest(log_path))
    assert [r.table for r in recs] == ["lineitem", "orders", "customer"]  # child-first
    li = recs[0]
    assert li.params["key_columns"] == ["l_orderkey", "l_linenumber"]
    payload = spark.read.parquet(os.path.join(log_path, li.payload))
    assert set(payload.columns) == {"l_orderkey", "l_linenumber"}
    assert payload.count() == payload.distinct().count() > 0


def test_copy_and_update_verbs(engine, tmp_path):
    wh_target = engine.create_warehouse_target(str(tmp_path / "wh"))
    engine.copy(wh_target, "nation")
    assert wh_target.read("nation").count() == 25
    updates = engine.table("nation").withColumn("n_name", F.upper(F.col("n_name")))
    engine.update(wh_target, "nation", updates)
    assert wh_target.read("nation").filter(F.col("n_name") != F.upper(F.col("n_name"))).count() == 0


def test_export_import_schema_end_to_end(engine, spark, tmp_path):
    log_path = str(tmp_path / "log")
    engine.export_schema(["region", "nation"], log_path)
    wh = engine.import_schema(log_path, str(tmp_path / "wh"))
    assert wh.read("region").count() == 5
    assert wh.read("nation").count() == 25


def test_prod_guard():
    with pytest.raises(jdbc.ProductionGuardError):
        jdbc.prod_check("jdbc:oracle:thin:@prod-db:1521/ORCL")
    jdbc.prod_check("jdbc:oracle:thin:@prod-db:1521/ORCL", allow_production=True)
    jdbc.prod_check("jdbc:oracle:thin:@dev-db:1521/ORCL")


def test_jdbc_options_shape():
    conn = jdbc.JdbcConnection(
        url="jdbc:oracle:thin:@host:1521/X", user="u", password="p", driver="oracle.jdbc.OracleDriver"
    )
    opts = conn.spark_options()
    assert opts["url"].startswith("jdbc:oracle")
    assert {"user", "password", "driver"} <= set(opts)
    assert "tables" in jdbc.ORACLE_DICTIONARY_QUERIES
