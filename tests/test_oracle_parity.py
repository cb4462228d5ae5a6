"""Driver-shaped gate: every registered query with an oracle must match
DuckDB on sf0.01 (row count + column names + order-insensitive values)."""

from __future__ import annotations

import pytest

from dieter___etl___monarchmoney_spark import pins, registry
from tests.conftest import SF_ORACLE
from tests.oracle_utils import compare

QUERIES, ORACLE_SQL = registry.load()


def _session_names(spark) -> tuple[str, str]:
    """The session's temp view names and temporary function names."""
    catalog = spark._jsparkSession.sessionState().catalog()
    return (
        catalog.getTempViewNames().mkString(","),
        catalog.listTemporaryFunctions().mkString(","),
    )


def _assert_released(spark, names_before):
    """Once its result is consumed, a query leaves nothing cached, no
    checkpoint blocks (which the CacheManager does not see), and no temp
    view or temporary function in the caller's session."""
    pins.release()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    assert _session_names(spark) == names_before


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_oracle_parity(name, spark, duck):
    spark.catalog.clearCache()
    names_before = _session_names(spark)
    spark_df = QUERIES[name](spark, SF_ORACLE)
    duck_rel = duck.sql(ORACLE_SQL[name])
    compare(spark_df, duck_rel)
    _assert_released(spark, names_before)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE_SQL)))
def test_rows_only(name, spark):
    spark.catalog.clearCache()
    names_before = _session_names(spark)
    df = QUERIES[name](spark, SF_ORACLE)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
    _assert_released(spark, names_before)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
