"""SQL dialect matrix for the live JDBC path.

The reference targets Oracle (``CopyUtils.java:939-964``: VARCHAR2 vs
CLOB/LOB column handling on export; ``ExecuteTarget.java:12-32``); the
engine must emit dialect-correct DDL/DML for Oracle and Postgres even
though neither runs in the test suite. Every generator here
is a pure function with golden-SQL unit tests (``tests/test_dialects.py``);
the Derby dialect is the one additionally proven live by the ``livedb``
queries and ``tests/test_derby_live.py``.

``engine.JdbcTarget`` resolves its dialect from the connection URL
(:func:`dialect_for_url`) and applies the dialect's boundary conventions
to every verb:

- **Identifier case.** Spark's JDBC writer QUOTES column names in its
  generated INSERT/CREATE statements (case-sensitive), while hand-written
  DDL/DML is unquoted and folded by the database (``identifier_case``:
  upper for Derby and Oracle, lower for Postgres). Mixing the two makes
  "o_orderkey" and O_ORDERKEY different columns, so the target folds
  every DataFrame and table name to the database's case before it crosses
  the boundary, and :func:`fold_names` restores the engine's lowercase
  schema on read. The shared SQL generators in
  ``sources/jdbc_mutations.py`` (unit-tested, unquoted) then work
  verbatim against all three.
- **Spark-created tables.** Staging tables are created by Spark's writer
  with Spark's own type mapping; Derby's maps strings to CLOB, which
  cannot be compared, so :meth:`Dialect.write_options` forces VARCHAR.

Type-mapping rules per dialect:

- **derby**: VARCHAR over CLOB for strings — Derby restricts CLOB
  comparisons (no equality), which would silently poison MERGE keys and
  DELETE predicates; 32672 is Derby's VARCHAR maximum.
- **oracle**: NUMBER(p) for integer widths (Oracle has no native BIGINT),
  BINARY_DOUBLE/BINARY_FLOAT for IEEE floats (NUMBER would change
  semantics), VARCHAR2(n CHAR) up to the 4000-byte standard limit and
  CLOB above it — the reference's LOB split (``CopyUtils.java:939-964``
  treats LOB columns specially on both export and import). NUMBER(1) for
  booleans (pre-23c Oracle has no BOOLEAN column type).
- **postgres**: the ANSI names (DOUBLE PRECISION, BYTEA, NUMERIC), TEXT
  above the practical VARCHAR threshold.

MERGE/upsert (see ``jdbc_mutations.merge_sql``): Derby and Oracle take the
ANSI MERGE; Postgres defaults to ``INSERT ... ON CONFLICT`` (correct on
every supported version; PG15+ also accepts the ANSI form).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# Shared scalar mappings keyed by Spark type class, per dialect. Strings,
# decimals, and anything parameterized are handled in ``column_type``.
_SCALARS: dict[str, dict[type, str]] = {
    "derby": {
        T.LongType: "BIGINT",
        T.IntegerType: "INTEGER",
        T.ShortType: "SMALLINT",
        T.ByteType: "SMALLINT",  # Derby has no TINYINT
        T.DoubleType: "DOUBLE",
        T.FloatType: "REAL",
        T.BooleanType: "BOOLEAN",
        T.DateType: "DATE",
        T.TimestampType: "TIMESTAMP",
        # Derby TIMESTAMP is wall-clock (no zone) either way; sessions run UTC
        T.TimestampNTZType: "TIMESTAMP",
        T.BinaryType: "BLOB",
    },
    "oracle": {
        T.LongType: "NUMBER(19)",
        T.IntegerType: "NUMBER(10)",
        T.ShortType: "NUMBER(5)",
        T.ByteType: "NUMBER(3)",
        T.DoubleType: "BINARY_DOUBLE",
        T.FloatType: "BINARY_FLOAT",
        T.BooleanType: "NUMBER(1)",
        T.DateType: "DATE",
        T.TimestampType: "TIMESTAMP",
        T.TimestampNTZType: "TIMESTAMP",
        T.BinaryType: "BLOB",
    },
    "postgres": {
        T.LongType: "BIGINT",
        T.IntegerType: "INTEGER",
        T.ShortType: "SMALLINT",
        T.ByteType: "SMALLINT",
        T.DoubleType: "DOUBLE PRECISION",
        T.FloatType: "REAL",
        T.BooleanType: "BOOLEAN",
        T.DateType: "DATE",
        T.TimestampType: "TIMESTAMP",
        T.TimestampNTZType: "TIMESTAMP",
        T.BinaryType: "BYTEA",
    },
}


@dataclass(frozen=True)
class Dialect:
    """One target dialect: type mapping + upsert style."""

    name: str
    varchar_keyword: str  # VARCHAR / VARCHAR2(.. CHAR)
    varchar_max: int  # longest declarable varchar
    oversize_policy: str  # 'lob' -> lob_type above varchar_max; 'clamp'
    lob_type: str  # what strings above varchar_max become under 'lob'
    decimal_keyword: str  # DECIMAL / NUMBER / NUMERIC
    merge_style: str  # 'ansi' or 'postgres_upsert'
    identifier_case: str  # 'upper' / 'lower': how unquoted names fold

    def fold(self, name: str) -> str:
        """``name`` as the database stores an unquoted identifier."""
        return name.upper() if self.identifier_case == "upper" else name.lower()

    def fold_frame(self, df: DataFrame) -> DataFrame:
        """Fold column names before a JDBC write (module doc)."""
        return df.toDF(*[self.fold(c) for c in df.columns])

    def write_options(self, schema: T.StructType, *, varchar_len: int = 1024) -> dict[str, str]:
        """Per-write options for tables SPARK creates (overwrite-mode
        staging writes): on Derby, ``createTableColumnTypes`` forcing
        VARCHAR for strings — Spark's DerbyDialect would otherwise map
        StringType to CLOB, which cannot be compared for equality (breaks
        MERGE ON and keyed DELETE)."""
        if self.name != "derby":
            return {}
        vc = self.column_type(T.StringType(), varchar_len=varchar_len)
        ct = ", ".join(f"{f.name} {vc}" for f in schema.fields if isinstance(f.dataType, T.StringType))
        return {"createTableColumnTypes": ct} if ct else {}

    def column_type(self, dt: T.DataType, *, varchar_len: int = 1024) -> str:
        """SQL column type for one Spark type."""
        if isinstance(dt, T.StringType):
            if varchar_len > self.varchar_max:
                if self.oversize_policy != "clamp":
                    return self.lob_type
                varchar_len = self.varchar_max
            if self.name == "oracle":
                # CHAR semantics: n characters, not bytes (multi-byte safe)
                return f"{self.varchar_keyword}({varchar_len} CHAR)"
            return f"{self.varchar_keyword}({varchar_len})"
        if isinstance(dt, T.DecimalType):
            return f"{self.decimal_keyword}({dt.precision},{dt.scale})"
        for cls, sql in _SCALARS[self.name].items():
            if isinstance(dt, cls):
                return sql
        raise ValueError(f"no {self.name} mapping for Spark type {dt}")

    def create_table_sql(
        self,
        table: str,
        schema: T.StructType,
        *,
        primary_key: list[str] | None = None,
        varchar_len: int = 1024,
    ) -> str:
        """CREATE TABLE DDL for a Spark schema (the ExecuteSqlList-analog
        DDL the reference ships ahead of data, ``CopyUtils.java:682-710``
        export order). Unquoted identifiers, uppercase — the database
        folds them to its ``identifier_case``, the case the JDBC boundary
        folds DataFrames to (module doc)."""
        pk = [c.upper() for c in (primary_key or [])]
        cols = []
        for f in schema.fields:
            null = " NOT NULL" if f.name.upper() in pk else ""
            cols.append(
                f"{f.name.upper()} "
                f"{self.column_type(f.dataType, varchar_len=varchar_len)}{null}"
            )
        if pk:
            cols.append(f"PRIMARY KEY ({', '.join(pk)})")
        return f"CREATE TABLE {table.upper()} ({', '.join(cols)})"


DIALECTS: dict[str, Dialect] = {
    "derby": Dialect(
        name="derby",
        varchar_keyword="VARCHAR",
        varchar_max=32672,
        # clamp, never CLOB: Derby CLOB has no equality -> would poison
        # MERGE keys and DELETE predicates (module doc)
        oversize_policy="clamp",
        lob_type="CLOB",
        decimal_keyword="DECIMAL",
        merge_style="ansi",
        identifier_case="upper",
    ),
    "oracle": Dialect(
        name="oracle",
        varchar_keyword="VARCHAR2",
        varchar_max=4000,
        oversize_policy="lob",  # the reference's LOB split, CopyUtils.java:939-964
        lob_type="CLOB",
        decimal_keyword="NUMBER",
        merge_style="ansi",
        identifier_case="upper",
    ),
    "postgres": Dialect(
        name="postgres",
        varchar_keyword="VARCHAR",
        varchar_max=65535,
        oversize_policy="lob",
        lob_type="TEXT",
        decimal_keyword="NUMERIC",
        merge_style="postgres_upsert",
        identifier_case="lower",
    ),
}


def get_dialect(name: str) -> Dialect:
    try:
        return DIALECTS[name]
    except KeyError:
        raise ValueError(
            f"unknown dialect {name!r}; known: {sorted(DIALECTS)}"
        ) from None


_URL_SCHEMES = {"jdbc:derby:": "derby", "jdbc:oracle:": "oracle", "jdbc:postgresql:": "postgres"}


def dialect_for_url(url: str) -> Dialect | None:
    """The dialect a JDBC URL speaks; None for any other scheme (ANSI
    MERGE, identifiers passed through as given)."""
    for prefix, name in _URL_SCHEMES.items():
        if url.startswith(prefix):
            return DIALECTS[name]
    return None


def fold_names(df: DataFrame, names: list[str], schema: T.StructType | None = None) -> DataFrame:
    """Restore the engine's canonical (lowercase) column names after a
    JDBC read, matching case-insensitively by the target schema's column
    order; with ``schema``, also cast each column back to the source Spark
    type (Derby has no NTZ/LTZ distinction, so a TIMESTAMP_NTZ source
    column reads back as TIMESTAMP — under UTC sessions the cast is
    lossless)."""
    by_upper = {c.upper(): c for c in df.columns}
    types = {f.name: f.dataType for f in schema.fields} if schema is not None else {}
    return df.select(
        *[
            (
                df[by_upper[n.upper()]].cast(types[n]).alias(n)
                if n in types
                else df[by_upper[n.upper()]].alias(n)
            )
            for n in names
        ]
    )
