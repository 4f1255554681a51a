"""Query registry: each registered query is a (spark, sf_dir) -> DataFrame
callable over the TPC-H-style parquet tables in ``sf_dir``, plus (where
SQL-expressible) a DuckDB SQL string deriving the same result.

Column-name contract: Spark aliases and oracle SQL aliases must match,
because results are compared by column name.
"""

from prohap_spark.queries.registry import REGISTRY, register, table

# import for registration side effects
from prohap_spark.queries import relational  # noqa: F401
from prohap_spark.queries import windowed  # noqa: F401
from prohap_spark.queries import textdata  # noqa: F401
from prohap_spark.queries import scalars  # noqa: F401
from prohap_spark.queries import classic  # noqa: F401


def queries():
    """name -> query function, in registration order."""
    return {name: fn for name, (fn, _sql) in REGISTRY.items()}
