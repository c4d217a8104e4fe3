"""Back-compat shim: the query registry moved to
``oracle_schema_copy_spark.queries`` (one module per surface area)."""

from oracle_schema_copy_spark.queries import (  # noqa: F401
    REGISTRY,
    QuerySpec,
    headline_queries,
    oracle_sql,
    queries,
    query,
)
from oracle_schema_copy_spark.queries.reference_surface import (  # noqa: F401
    q_copy_tree_lineitem,
)
