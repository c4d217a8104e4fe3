from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from oracle_schema_copy_spark.plans import oplog
from oracle_schema_copy_spark.sources.tables import load_table

SCRATCH = os.path.join(os.path.dirname(__file__), "..", ".scratch")


@pytest.fixture
def scratch(tmp_path_factory):
    return str(tmp_path_factory.mktemp("oplog"))


def test_manifest_is_ordered_and_atomic(spark, sf_dir, scratch):
    log_path = os.path.join(scratch, "log1")
    nation = load_table(spark, sf_dir, "nation")
    with oplog.OperationLogWriter(log_path) as log:
        log.ddl(["CREATE TABLE nation (n_nationkey INT) USING PARQUET"])
        log.insert("nation", nation)
        log.delete("nation", "n_nationkey", nation.filter(F.col("n_nationkey") < 3))
    recs = list(oplog.read_manifest(log_path))
    assert [r.seq for r in recs] == [0, 1, 2]
    assert [r.kind for r in recs] == ["ddl", "insert", "delete"]
    # payload dirs exist and are parquet
    assert spark.read.parquet(os.path.join(log_path, recs[1].payload)).count() == 25


def test_unclosed_log_has_no_manifest(spark, sf_dir, scratch):
    log_path = os.path.join(scratch, "log2")
    log = oplog.OperationLogWriter(log_path)
    log.insert("nation", load_table(spark, sf_dir, "nation"))
    assert not os.path.exists(os.path.join(log_path, oplog.MANIFEST))


def test_roundtrip_insert_upsert_delete(spark, sf_dir, scratch):
    """Export insert+upsert+delete ops, replay into a warehouse, verify the
    final state matches computing the same mutations directly."""
    log_path = os.path.join(scratch, "log3")
    wh_path = os.path.join(scratch, "wh3")
    orders = load_table(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_orderstatus", F.lit("X")
    )
    dels = orders.filter(F.col("o_orderkey") % 100 == 0).select("o_orderkey")

    with oplog.OperationLogWriter(log_path) as log:
        log.insert("orders", orders)
        log.upsert("orders", updates, "o_orderkey")
        log.delete("orders", "o_orderkey", dels)

    wh = oplog.Warehouse(spark, wh_path)
    applied = oplog.replay(spark, log_path, wh)
    assert len(applied) == 3

    final = wh.read("orders")
    n_dels = dels.count()
    assert final.count() == orders.count() - n_dels
    # updated status only on surviving %10 keys
    assert final.filter((F.col("o_orderkey") % 10 == 0) & (F.col("o_orderstatus") != "X")).count() == 0
    assert final.filter(F.col("o_orderkey") % 100 == 0).count() == 0


def test_replay_opaque_sql_skip_and_error(spark, scratch):
    log_path = os.path.join(scratch, "log4")
    with oplog.OperationLogWriter(log_path) as log:
        log.ddl(["CREATE SEQUENCE seq1"], opaque=True)
    wh = oplog.Warehouse(spark, os.path.join(scratch, "wh4"))
    assert oplog.replay(spark, log_path, wh)[0].kind == "opaque_sql"
    with pytest.raises(ValueError, match="opaque"):
        oplog.replay(spark, log_path, wh, on_opaque="error")


def test_export_all_orders_constraints_after_data(spark, sf_dir, scratch):
    log_path = os.path.join(scratch, "log5")
    tabs = {t: load_table(spark, sf_dir, t) for t in ("region", "nation")}
    oplog.export_all(
        tabs,
        log_path,
        topo_order=["region", "nation"],
        constraint_sql=["ALTER TABLE nation ADD CONSTRAINT fk FOREIGN KEY (n_regionkey) REFERENCES region"],
    )
    kinds = [(r.kind, r.table) for r in oplog.read_manifest(log_path)]
    assert kinds == [
        ("ddl", None),
        ("insert", "region"),
        ("insert", "nation"),
        ("opaque_sql", None),  # constraints land AFTER data (FK-safe load)
    ]


def test_rewrite_is_atomic_swap(spark, sf_dir, scratch):
    wh = oplog.Warehouse(spark, os.path.join(scratch, "wh6"))
    nation = load_table(spark, sf_dir, "nation")
    wh.write("nation", nation)
    wh.rewrite("nation", nation.filter(F.col("n_nationkey") >= 5))
    assert wh.read("nation").count() == 20
    assert not os.path.exists(os.path.join(wh.root, "nation.__stage__"))
    assert not os.path.exists(os.path.join(wh.root, "nation.__old__"))


def test_manifest_json_schema(spark, sf_dir, scratch):
    log_path = os.path.join(scratch, "log7")
    with oplog.OperationLogWriter(log_path) as log:
        log.upsert("orders", load_table(spark, sf_dir, "orders").limit(5), ["o_orderkey"])
    line = open(os.path.join(log_path, oplog.MANIFEST)).readline()
    d = json.loads(line)
    assert set(d) == {"seq", "kind", "table", "params", "payload"}
    assert d["params"]["key_columns"] == ["o_orderkey"]


def test_replay_is_idempotent_after_partial_failure(spark, sf_dir, tmp_path):
    """Re-running a replay from seq 0 (e.g. after a partial failure left
    some tables written) must reproduce the same final state, not append
    duplicates — the file-storage substitute for the reference's
    single-transaction import."""
    from oracle_schema_copy_spark.sources.tables import load_table

    nation = load_table(spark, sf_dir, "nation")
    log = str(tmp_path / "log")
    oplog.export_all({"nation": nation}, log)
    wh = oplog.Warehouse(spark, str(tmp_path / "wh"))
    oplog.replay(spark, log, wh)
    n1 = wh.read("nation").count()
    oplog.replay(spark, log, wh)  # simulate retry-from-scratch
    assert wh.read("nation").count() == n1 == 25


def _append_bogus_op(log_path: str) -> None:
    """Append an unknown-kind record to a closed manifest — replay raises
    exactly at that op, simulating a mid-log crash."""
    with open(os.path.join(log_path, oplog.MANIFEST), "a") as f:
        f.write(
            json.dumps(
                {"seq": 99, "kind": "explode", "table": None, "params": {}, "payload": None}
            )
            + "\n"
        )


def test_atomic_replay_crash_leaves_target_untouched(spark, sf_dir, tmp_path):
    """Kill a replay mid-log: with replay_atomic the target warehouse must
    be byte-identical to its pre-replay state (plain replay leaves the
    prefix applied — the SURVEY §3.2 delta this closes)."""
    from oracle_schema_copy_spark.sources.tables import load_table

    nation = load_table(spark, sf_dir, "nation")
    wh = oplog.Warehouse(spark, str(tmp_path / "wh"))
    wh.write("nation", nation.filter(F.col("n_nationkey") < 5))  # pre-state: 5 rows

    log = str(tmp_path / "log")
    with oplog.OperationLogWriter(log) as lg:
        lg.insert("nation", nation)  # would overwrite with 25 rows
    _append_bogus_op(log)

    with pytest.raises(ValueError, match="unknown operation kind"):
        oplog.replay_atomic(spark, log, wh)
    assert wh.read("nation").count() == 5  # untouched
    assert not os.path.exists(os.path.join(wh.root, oplog.COMMIT_MARKER))

    # and the SAME warehouse then accepts a clean atomic replay
    log2 = str(tmp_path / "log2")
    with oplog.OperationLogWriter(log2) as lg:
        lg.insert("nation", nation)
    oplog.replay_atomic(spark, log2, wh)
    assert wh.read("nation").count() == 25


def test_atomic_replay_rolls_forward_after_commit_marker(spark, sf_dir, tmp_path):
    """A crash BETWEEN the commit-marker rename and the table moves is
    completed by the next replay/recover (roll-forward), not undone."""
    import shutil as _sh

    from oracle_schema_copy_spark.sources.tables import load_table

    nation = load_table(spark, sf_dir, "nation")
    wh = oplog.Warehouse(spark, str(tmp_path / "wh"))
    wh.write("nation", nation.filter(F.col("n_nationkey") < 5))

    # hand-craft the post-commit pre-apply state: staged table + marker
    stage = os.path.join(wh.root, oplog.STAGE_DIRNAME)
    nation.write.parquet(os.path.join(stage, "nation"))
    with open(os.path.join(wh.root, oplog.COMMIT_MARKER), "w") as f:
        json.dump({"tables": ["nation"]}, f)

    assert oplog.recover_replay(wh) is True
    assert wh.read("nation").count() == 25  # the committed state, applied
    assert not os.path.exists(os.path.join(wh.root, oplog.COMMIT_MARKER))
    assert not os.path.isdir(stage)
    assert oplog.recover_replay(wh) is False  # idempotent; nothing pending
    _sh.rmtree(str(tmp_path / "wh"), ignore_errors=True)


def test_replay_composite_and_legacy_delete_records(spark, sf_dir, tmp_path):
    """Composite-key delete ops round-trip through write/replay; a legacy
    single-``key_column`` manifest record (pre-composite format) still
    replays."""
    from oracle_schema_copy_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").limit(2000).cache()
    doomed = li.filter(F.col("l_orderkey") % 3 == 0).select(
        "l_orderkey", "l_linenumber"
    ).distinct()
    log = str(tmp_path / "log")
    with oplog.OperationLogWriter(log) as lg:
        lg.insert("lineitem", li)
        lg.delete("lineitem", ["l_orderkey", "l_linenumber"], doomed)
    recs = list(oplog.read_manifest(log))
    assert recs[1].params["key_columns"] == ["l_orderkey", "l_linenumber"]
    wh = oplog.Warehouse(spark, str(tmp_path / "wh"))
    oplog.replay(spark, log, wh)
    expected = li.join(
        doomed.toDF("k1", "k2"),
        (F.col("l_orderkey") == F.col("k1")) & (F.col("l_linenumber") == F.col("k2")),
        "left_anti",
    ).count()
    assert wh.read("lineitem").count() == expected

    # legacy record: rewrite the delete op's params to the old key_column form
    mpath = os.path.join(log, oplog.MANIFEST)
    lines = [json.loads(ln) for ln in open(mpath)]
    lines[1]["params"] = {"key_column": "l_orderkey"}
    with open(mpath, "w") as f:
        for d in lines:
            f.write(json.dumps(d, sort_keys=True) + "\n")
    wh2 = oplog.Warehouse(spark, str(tmp_path / "wh2"))
    oplog.replay(spark, log, wh2)
    # legacy semantics: delete by the leading column only
    expected_legacy = li.join(
        doomed.select("l_orderkey").distinct(), "l_orderkey", "left_anti"
    ).count()
    assert wh2.read("lineitem").count() == expected_legacy
    li.unpersist()


def test_view_and_opaque_objects_roundtrip(spark, sf_dir, tmp_path):
    """S9: view defs replay as views over imported tables; opaque SQL
    (triggers/sequences) survives in the manifest, is skipped by parquet
    targets, errors when demanded, and executes only via a SQL executor."""
    from oracle_schema_copy_spark.sources.tables import load_tables

    tabs = dict(load_tables(spark, sf_dir, ("region", "nation")))
    log = str(tmp_path / "log")
    opaque = ["CREATE SEQUENCE s1", "ALTER TRIGGER t1 ENABLE"]
    oplog.export_all(
        tabs,
        log,
        topo_order=["region", "nation"],
        views={"region_names_v": "SELECT r_name FROM region"},
        other_object_sql=opaque,
    )
    kinds = [r.kind for r in oplog.read_manifest(log)]
    assert kinds == ["ddl", "insert", "insert", "view", "opaque_sql"]

    wh = oplog.Warehouse(spark, str(tmp_path / "wh"))
    oplog.replay(spark, log, wh)  # opaque skipped by default
    assert spark.table("region_names_v").count() == 5

    with pytest.raises(ValueError, match="opaque"):
        oplog.replay(spark, log, oplog.Warehouse(spark, str(tmp_path / "wh2")), on_opaque="error")

    # a JDBC/SQL-catalog target receives the opaque statements verbatim
    executed: list[str] = []

    for rec in oplog.read_manifest(log):
        if rec.kind == "opaque_sql":
            executed.extend(rec.params["statements"])
    assert executed == opaque


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """A warehouse table partitioned by a column must plan scans with
    PartitionFilters (directory pruning) when filtered on it."""
    from oracle_schema_copy_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    wh = oplog.Warehouse(spark, str(tmp_path / "wh"))
    wh.write("orders_p", orders, partition_by=["o_orderstatus"])

    q = wh.read("orders_p").filter(F.col("o_orderstatus") == "F")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the partition predicate must be IN the partition filters, not a data filter
    assert "o_orderstatus" in plan.split("PartitionFilters:")[1].split("]")[0]
    assert q.count() == orders.filter(F.col("o_orderstatus") == "F").count()
