"""JDBC mutation path: set-oriented upsert/delete/statement-execution
against a live database (SURVEY §2.2 K1, the direct-execute target's
mutation half).

Reference behavior re-expressed (not ported):
- upsert      ≈ ``ExecuteTableUpdate.java:10-27`` — per-row optimistic
  UPDATE-else-INSERT round-trips. Spark-first shape: bulk-write the update
  set to a STAGING table (parallel batched INSERT), then ONE set-oriented
  ``MERGE`` statement on the database, then drop staging. O(1) statements
  instead of O(rows) round-trips; the database's MERGE raises on duplicate
  source keys (e.g. ORA-30926), preserving the reference's ">1 row
  updated" guard server-side.
- delete      ≈ ``DeleteByPk.java:15-43`` — batched ``DELETE ... WHERE pk
  IN (...)`` statements (the reference's 500-key batches), plus a
  staging-table ``EXISTS`` variant for key sets too large to ship through
  SQL literals.
- execute_sql ≈ ``ExecuteSqlList.java:11-40`` — ordered statement list on
  one connection, optionally transactional.

No database ships in this environment: every statement generator below is
a pure function unit-tested against expected SQL, and the executor is
pluggable — tests inject a recorder; production uses
``jvm_statement_executor`` which drives ``java.sql.DriverManager`` through
Spark's own JVM (the JDBC driver jar is already on the classpath for
spark.read/write.jdbc to work).
"""

from __future__ import annotations

import datetime as _dt
import math as _math
from typing import Callable, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession

from oracle_schema_copy_spark.sources.jdbc import JdbcConnection, prod_check, write_table

# An executor runs SQL statements in order against the target database.
StatementExecutor = Callable[[Sequence[str]], None]

DELETE_BATCH = 500  # the reference's key-batch size (CopyUtils.java)


# ---------------------------------------------------------------------------
# SQL generation (pure, unit-testable)
# ---------------------------------------------------------------------------


def merge_sql(
    table: str,
    staging_table: str,
    columns: Sequence[str],
    key_columns: Sequence[str],
    *,
    dialect: str = "ansi",
) -> str:
    """One set-oriented MERGE from staging into the target table.

    ``ansi`` covers Oracle / SQL Server / DB2 / recent Postgres (15+);
    ``postgres_upsert`` emits ``INSERT ... ON CONFLICT`` for older
    Postgres. Dialect NAMES from ``sources/dialects.py`` also resolve:
    ``derby``/``oracle`` → ansi MERGE, ``postgres`` → ON CONFLICT (correct
    on every supported PG version). Non-key columns update on match; all
    columns insert on miss.
    """
    dialect = {
        "derby": "ansi",
        "oracle": "ansi",
        "postgres": "postgres_upsert",
    }.get(dialect, dialect)
    keys = list(key_columns)
    non_keys = [c for c in columns if c not in keys]
    if dialect == "postgres_upsert":
        sets = ", ".join(f"{c} = EXCLUDED.{c}" for c in non_keys)
        action = f"DO UPDATE SET {sets}" if non_keys else "DO NOTHING"
        return (
            f"INSERT INTO {table} ({', '.join(columns)}) "
            f"SELECT {', '.join(columns)} FROM {staging_table} "
            f"ON CONFLICT ({', '.join(keys)}) {action}"
        )
    if dialect != "ansi":
        raise ValueError(f"unknown merge dialect {dialect!r}")
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    sets = ", ".join(f"t.{c} = s.{c}" for c in non_keys)
    ins_cols = ", ".join(columns)
    ins_vals = ", ".join(f"s.{c}" for c in columns)
    matched = f"WHEN MATCHED THEN UPDATE SET {sets} " if non_keys else ""
    return (
        f"MERGE INTO {table} t USING {staging_table} s ON ({on}) "
        f"{matched}"
        f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
    )


def sql_literal(v) -> str:
    """Render a Python value as a SQL literal (key values only: numbers,
    strings, dates — the types primary keys are made of)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float) and not _math.isfinite(v):
        # str(nan/inf) is not valid SQL in any dialect; a NaN "key" can
        # never equality-match a row anyway, so this is always a caller bug
        raise ValueError(f"non-finite float {v!r} cannot be a SQL key literal")
    if isinstance(v, (int, float)):
        return str(v)
    if isinstance(v, _dt.datetime):
        # isoformat keeps microseconds when present; a whole-second value
        # renders without them — both are valid TIMESTAMP literals, and
        # sub-second keys must not be silently truncated to a wrong match.
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    s = str(v).replace("'", "''")
    if "\x00" in s:
        # NUL terminates the quoted literal in the PG-family parsers (and
        # PG text columns cannot store it at all) — inlining it silently
        # yields an unparseable statement (found by the r13 dialect
        # property suite). Loud, like the non-finite-float guard above.
        raise ValueError("NUL (\\x00) cannot appear in a SQL string literal key")
    return f"'{s}'"


def delete_in_sql(table: str, key_column: str, keys: Sequence) -> list[str]:
    """Batched ``DELETE ... WHERE pk IN (...)`` statements, ``DELETE_BATCH``
    keys per statement (the reference's 500-element batches)."""
    out = []
    ks = list(keys)
    for i in range(0, len(ks), DELETE_BATCH):
        chunk = ", ".join(sql_literal(k) for k in ks[i : i + DELETE_BATCH])
        out.append(f"DELETE FROM {table} WHERE {key_column} IN ({chunk})")
    return out


def delete_tuples_sql(
    table: str, key_columns: Sequence[str], key_tuples: Sequence[Sequence]
) -> list[str]:
    """Composite-key batched delete: ``DELETE ... WHERE (a=.. AND b=..) OR
    ...`` — OR-of-AND rather than a row-value ``(a, b) IN (...)`` because
    row-value constructors are not portable (SQL Server lacks them).
    ``DELETE_BATCH // arity`` tuples per statement, so a statement carries
    at most ``DELETE_BATCH`` key literals, like the single-column path."""
    cols = list(key_columns)
    out = []
    ts = list(key_tuples)
    batch = max(1, DELETE_BATCH // len(cols))
    for i in range(0, len(ts), batch):
        preds = " OR ".join(
            "("
            + " AND ".join(
                f"{c} = {sql_literal(v)}" for c, v in zip(cols, t)
            )
            + ")"
            for t in ts[i : i + batch]
        )
        out.append(f"DELETE FROM {table} WHERE {preds}")
    return out


def delete_using_staging_sql(
    table: str, staging_table: str, key_columns: Sequence[str]
) -> str:
    """Set-oriented keyed delete via a staged key table — the scale path
    when the key set is too large for SQL literals."""
    on = " AND ".join(f"s.{k} = t.{k}" for k in key_columns)
    return (
        f"DELETE FROM {table} t WHERE EXISTS "
        f"(SELECT 1 FROM {staging_table} s WHERE {on})"
    )


def staging_name(table: str, op: str) -> str:
    """Deterministic staging-table name: re-running a failed upsert reuses
    (overwrites) the same staging table instead of leaking one per run."""
    return f"{table}_oscs_{op}_stg"


def staging_index_sql(staging_table: str, key_columns: Sequence[str]) -> str:
    """Index the staging key before the set-oriented MERGE / EXISTS-delete.
    Without it a planner with no staging statistics (measured: embedded
    Derby) nested-loops the probe — 1.65M x 236k row scans turned a
    seconds-long delete into 45+ minutes at the 10x fixture. One O(n log n)
    index build makes the probe an index lookup on any RDBMS."""
    return (
        f"CREATE INDEX {staging_table}_kix ON {staging_table} "
        f"({', '.join(key_columns)})"
    )


# ---------------------------------------------------------------------------
# Executors
# ---------------------------------------------------------------------------


def jvm_statement_executor(
    spark: SparkSession, conn: JdbcConnection, *, transactional: bool = True
) -> StatementExecutor:
    """Ordered statement execution over one java.sql connection obtained
    through Spark's JVM (the driver jar is on the classpath already).

    ``transactional=True`` wraps the list in one commit, restoring the
    reference's single-transaction replay semantics where the database
    supports transactional DDL/DML mixes; on failure the transaction is
    rolled back and the error re-raised.
    """

    def run(statements: Sequence[str]) -> None:
        jvm = spark._jvm  # noqa: SLF001 — py4j bridge is the supported path
        dm = jvm.java.sql.DriverManager
        c = dm.getConnection(conn.url, conn.user, conn.password)
        try:
            if transactional:
                c.setAutoCommit(False)
            st = c.createStatement()
            try:
                for s in statements:
                    st.execute(s)
            finally:
                st.close()
            if transactional:
                c.commit()
        except Exception:
            if transactional:
                c.rollback()
            raise
        finally:
            c.close()

    return run


# ---------------------------------------------------------------------------
# Mutation operations (staging writes via Spark, statements via executor)
# ---------------------------------------------------------------------------


def jdbc_upsert(
    df: DataFrame,
    conn: JdbcConnection,
    table: str,
    key_columns: Sequence[str] | str,
    *,
    executor: StatementExecutor,
    dialect: str = "ansi",
    batchsize: int = 10_000,
    allow_production: bool = False,
    write_options: dict[str, str] | None = None,
) -> list[str]:
    """Staged set-oriented upsert: bulk-write ``df`` to a staging table
    (parallel batched INSERT across executors), MERGE once, drop staging.
    Returns the executed statements (for logs/tests)."""
    prod_check(conn.url, allow_production=allow_production)
    keys = [key_columns] if isinstance(key_columns, str) else list(key_columns)
    staging = staging_name(table, "upsert")
    write_table(
        df,
        conn,
        staging,
        mode="overwrite",
        batchsize=batchsize,
        allow_production=allow_production,
        write_options=write_options,
    )
    statements = [
        staging_index_sql(staging, keys),
        merge_sql(table, staging, df.columns, keys, dialect=dialect),
        f"DROP TABLE {staging}",
    ]
    executor(statements)
    return statements


def jdbc_delete(
    keys: DataFrame | Iterable,
    conn: JdbcConnection,
    table: str,
    key_columns: Sequence[str] | str,
    *,
    executor: StatementExecutor,
    max_inline_keys: int = 100_000,
    allow_production: bool = False,
    write_options: dict[str, str] | None = None,
) -> list[str]:
    """Keyed delete, single-column or composite. A single-column key
    DataFrame of up to ``max_inline_keys`` distinct keys ships as batched
    IN-list statements — bounded driver memory: keys only, never rows. A
    larger one, and every composite-key DataFrame, is staged to the
    database and deleted with one set-oriented EXISTS statement (large
    OR-of-AND statements are more than some databases parse: Derby
    rejects them as "Statement too complex"). Iterable keys always go
    inline, composite ones as batched OR-of-AND statements. A keys
    DataFrame pairs its columns positionally with ``key_columns`` and must
    match in arity.
    Returns the executed statements."""
    prod_check(conn.url, allow_production=allow_production)
    cols = [key_columns] if isinstance(key_columns, str) else list(key_columns)
    if isinstance(keys, DataFrame):
        assert len(keys.columns) == len(cols), (
            f"key frame arity mismatch: {len(keys.columns)} columns vs {cols}"
        )
        distinct = keys.distinct()
        # one bounded action: more than the cap comes back only as cap + 1
        key_list = (
            [tuple(r) for r in distinct.limit(max_inline_keys + 1).collect()]
            if len(cols) == 1
            else None
        )
        if key_list is None or len(key_list) > max_inline_keys:
            staging = staging_name(table, "delete")
            write_table(
                distinct.toDF(*cols),
                conn,
                staging,
                mode="overwrite",
                allow_production=allow_production,
                write_options=write_options,
            )
            statements = [
                staging_index_sql(staging, cols),
                delete_using_staging_sql(table, staging, cols),
                f"DROP TABLE {staging}",
            ]
            executor(statements)
            return statements
    else:
        key_list = [
            tuple(k) if isinstance(k, (tuple, list)) else (k,)
            for k in dict.fromkeys(
                tuple(k) if isinstance(k, (tuple, list)) else k for k in keys
            )
        ]
        assert all(len(k) == len(cols) for k in key_list), "key tuple arity mismatch"
    if len(cols) == 1:
        statements = delete_in_sql(table, cols[0], [k[0] for k in key_list])
    else:
        statements = delete_tuples_sql(table, cols, key_list)
    executor(statements)
    return statements
