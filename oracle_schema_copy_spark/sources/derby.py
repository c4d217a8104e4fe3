"""Embedded Apache Derby: the live-database execution path.

The reference's entire purpose is executing copy/upsert/delete/DDL against
a real RDBMS (``ExecuteTarget.java:12-32``, ``Main.java:46-58``). No
external database ships in this environment, but Derby 10.16 rides inside
Spark's own jars directory (``derby-10.16.1.1.jar`` + shared + tools), is
embeddable (same-JVM, file-backed), and supports ANSI ``MERGE`` — so the
K1/K4/K5/K6 paths (live batched INSERT, staged MERGE upsert, keyed DELETE,
ordered DDL execution) run for real through ``engine.JdbcTarget``, the
same target a production Oracle or Postgres URL gets.

This module only opens and shuts down the embedded database:
:class:`DerbyTarget` is a ``JdbcTarget`` on an embedded connection. The
identifier-case fold and the VARCHAR-over-CLOB convention are the Derby
``Dialect``'s (``sources/dialects.py``), which ``JdbcTarget`` applies to
every ``jdbc:derby:`` URL.

Scale note: embedded Derby is the TEST database; at production scale the
same code paths point at a server-class RDBMS via ``JdbcConnection`` with
partitioned reads and capped write connections (``sources/jdbc.py``). The
Spark-side plumbing — parallel batched INSERT, one set-oriented MERGE
statement instead of O(rows) round-trips, staged EXISTS deletes — is what
this module proves live.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from oracle_schema_copy_spark.engine import JdbcTarget
from oracle_schema_copy_spark.sources import jdbc_mutations
from oracle_schema_copy_spark.sources.dialects import get_dialect
from oracle_schema_copy_spark.sources.jdbc import JdbcConnection


def create_table_sql(
    table: str,
    schema: T.StructType,
    *,
    primary_key: list[str] | None = None,
    varchar_len: int = 1024,
    dialect: str = "derby",
) -> str:
    """CREATE TABLE DDL for a Spark schema (the ExecuteSqlList-analog DDL
    the reference ships ahead of data, ``CopyUtils.java:682-710`` export
    order), dialect-parameterized — derby (proven live here), oracle,
    postgres."""
    return get_dialect(dialect).create_table_sql(
        table, schema, primary_key=primary_key, varchar_len=varchar_len
    )


def fold_upper(df: DataFrame) -> DataFrame:
    """Uppercase-fold column names before a hand-driven JDBC write (the
    fold ``JdbcTarget`` applies for Derby)."""
    return get_dialect("derby").fold_frame(df)


def embedded_connection(spark: SparkSession, db_dir: str, *, create: bool = True) -> JdbcConnection:
    """Connection to a file-backed embedded Derby database inside the
    Spark JVM. Routes derby.log away from the CWD (first call only — the
    property is read when the Derby engine boots)."""
    os.makedirs(os.path.dirname(db_dir) or ".", exist_ok=True)
    jvm = spark._jvm  # noqa: SLF001
    jvm.java.lang.System.setProperty("derby.stream.error.file", f"{db_dir}.derby.log")
    url = f"jdbc:derby:{db_dir}" + (";create=true" if create else "")
    return JdbcConnection(url=url)


class DerbyTarget(JdbcTarget):
    """ExecuteTarget against an embedded Derby database in ``db_dir``:
    opens it (created on first use) and shuts it down on ``close()``.
    Every verb is ``JdbcTarget``'s."""

    def __init__(self, spark: SparkSession, db_dir: str, *, varchar_len: int = 1024):
        self.spark = spark
        self.db_dir = db_dir
        self.varchar_len = varchar_len
        conn = embedded_connection(spark, db_dir)
        super().__init__(conn, executor=jdbc_mutations.jvm_statement_executor(spark, conn))

    def close(self) -> None:
        shutdown(self.spark, self.db_dir)


def shutdown(spark: SparkSession, db_dir: str) -> None:
    """Cleanly shut down one embedded database (releases its page cache).
    Derby signals success via SQLException 08006 — swallowed here."""
    jvm = spark._jvm  # noqa: SLF001
    try:
        jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db_dir};shutdown=true")
    except Exception:
        pass  # XJ015/08006: successful shutdown is reported as an exception
