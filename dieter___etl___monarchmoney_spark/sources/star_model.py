"""Map the driver's TPC-H-ish star schema onto the reference's finance model.

FIXTURES.md §"Mapping onto the driver's star schema": ``orders``+``lineitem``
play the transactions fact, ``customer`` plays accounts, ``part``/``nation``
play category/group dims, ``events`` plays the snapshot/recurring series.

The canonical **transactions** view is defined ONCE here, in both DataFrame
and ANSI-SQL form, so every ``queries()`` entry and its DuckDB oracle share
identical semantics:

- ``txn_id``       — lineitem (orderkey, linenumber, partkey, suppkey) as
                     a stable string id (the reference's string ids —
                     FIXTURES.md §2). The synthetic generator emits
                     duplicate (orderkey, linenumber) pairs, so the id
                     includes the part/supplier keys — unique at the
                     oracle (sf0.01) and bench (sf0.1) scale factors,
                     which keeps (txn_date, txn_id) a total order for
                     deterministic pagination
- ``amount``       — l_extendedprice*(1-l_discount), negated for return
                     lines (l_returnflag='R') so income/expense sign
                     semantics exist (negative = expense, FIXTURES.md §2)
- ``txn_date``     — l_shipdate as DATE (the watermark/partition key)
- ``account_id``   — o_custkey (accounts dim = customer)
- ``category_id``  — l_partkey (category dim = part; p_type plays the
                     category-group name)
- ``merchant_id``  — l_suppkey (merchant dim = supplier)

Determinism (SURVEY.md §7.5 "float vs decimal"): ``amount`` stays an
UNROUNDED double — IEEE-754 scalar arithmetic is bit-identical across
engines, whereas per-row ROUND(x, 2) is not (2dp×2dp products are exact
4dp reals, i.e. half-cent ties, and Spark/DuckDB break ties differently).
Aggregates cast to MONEY_DECIMAL before SUM (exact at 4dp, no tie) and
back to DOUBLE after, so neither rounding rules nor partial-aggregation
order can perturb the result hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.sources.parquet import load_table


def transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical transactions fact (lineitem ⋈ orders is deferred;
    account_id needs the orders join — see :func:`transactions_with_account`).
    """
    li = load_table(spark, "lineitem", sf_dir)
    return li.select(
        F.concat_ws(
            "-",
            F.col("l_orderkey"),
            F.col("l_linenumber"),
            F.col("l_partkey"),
            F.col("l_suppkey"),
        ).alias("txn_id"),
        F.col("l_orderkey").alias("order_id"),
        (
            F.when(F.col("l_returnflag") == "R", F.lit(-1.0)).otherwise(F.lit(1.0))
            * (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        ).alias("amount"),
        F.col("l_shipdate").cast("date").alias("txn_date"),
        F.col("l_partkey").alias("category_id"),
        F.col("l_suppkey").alias("merchant_id"),
        F.col("l_quantity").alias("quantity"),
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_linestatus").alias("linestatus"),
    )


#: ANSI-SQL twin of :func:`transactions`, runnable by DuckDB on the
#: pre-registered parquet views. Keep in lockstep with the DataFrame form.
TRANSACTIONS_SQL = """
SELECT
    CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
        || '-' || CAST(l_partkey AS VARCHAR) || '-' || CAST(l_suppkey AS VARCHAR)
        AS txn_id,
    l_orderkey AS order_id,
    (CASE WHEN l_returnflag = 'R' THEN -1.0 ELSE 1.0 END)
        * (l_extendedprice * (1.0 - l_discount)) AS amount,
    CAST(l_shipdate AS DATE) AS txn_date,
    l_partkey AS category_id,
    l_suppkey AS merchant_id,
    l_quantity AS quantity,
    l_returnflag AS returnflag,
    l_linestatus AS linestatus
FROM lineitem
"""


def transactions_with_account(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactions enriched with account_id via the orders fact.

    orders is a fact too (not broadcastable at 100 TB) — this is the one
    shuffle join in the model; both sides shuffle on order_id/o_orderkey.
    """
    txns = transactions(spark, sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("account_id"),
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.col("o_orderstatus").alias("order_status"),
    )
    return txns.join(orders, "order_id", "inner")


TRANSACTIONS_WITH_ACCOUNT_SQL = f"""
SELECT t.*, o.o_custkey AS account_id,
       CAST(o.o_orderdate AS DATE) AS order_date,
       o.o_orderstatus AS order_status
FROM ({TRANSACTIONS_SQL}) t
JOIN orders o ON t.order_id = o.o_orderkey
"""
