"""Driver-contract registry: every implemented operator exposed as a
(spark, sf_dir) -> DataFrame callable plus its DuckDB-oracle SQL twin.

Conventions (driver contract, /root/repo/__spark_entry__.py docstring):
- every computed column is aliased identically in the Spark plan and the
  oracle SQL (the driver sorts columns by name before value-hashing);
- money aggregates use the exact-decimal-sum pattern
  (functions/money.py) so hashes cannot flake on double summation order;
- queries are registered via @query(name, sql) so the two surfaces can
  never drift apart structurally.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dieter___etl___monarchmoney_spark import pins

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def query(name: str, sql: str | None = None):
    """Register a driver-contract query; ``sql`` is the DuckDB oracle
    (None ⇒ non-SQL-expressible, rows-only check).

    Several queries return a lazy frame that still reads an
    intermediate they pinned (edge tables, posting lists, covariance
    matrices). Each registered callable therefore first releases the
    pins of the previous call (``pins.release()``): consume a
    registry call's frame before the next call, or it recomputes (or,
    for a checkpointed pin, fails). Caches the caller made are never
    touched."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)  # keep the query's name, module and docstring
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            pins.release()
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn

    return deco


# Importing the query modules populates the registry.
def _load_all() -> None:
    from dieter___etl___monarchmoney_spark import queries as _q  # noqa: F401


_LOADED = False


def load() -> tuple[dict[str, Callable[[SparkSession, str], DataFrame]], dict[str, str]]:
    global _LOADED
    if not _LOADED:
        _load_all()
        _LOADED = True
    return QUERIES, ORACLE_SQL
