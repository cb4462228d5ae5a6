"""Core slice: transactions summary, cashflow, filtered+paged query
(SURVEY.md §7.2 minimum end-to-end slice).

Each query has a DuckDB-oracle twin built on the shared
``TRANSACTIONS_SQL`` view definition so semantics cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.functions.money import money_sum_sql
from dieter___etl___monarchmoney_spark.operators.aggregates import (
    cashflow_by_key,
    cashflow_summary,
    transactions_summary,
)
from dieter___etl___monarchmoney_spark.operators.transactions import transactions_query
from dieter___etl___monarchmoney_spark.registry import query
from dieter___etl___monarchmoney_spark.sources.parquet import load_table
from dieter___etl___monarchmoney_spark.sources.star_model import (
    TRANSACTIONS_SQL,
    TRANSACTIONS_WITH_ACCOUNT_SQL,
    transactions,
    transactions_with_account,
)




@query(
    "transactions_summary",
    f"""
    SELECT
        {money_sum_sql('amount')} / COUNT(amount) AS avg,
        COUNT(*) AS count,
        MAX(amount) AS max,
        MIN(CASE WHEN amount < 0 THEN amount END) AS maxExpense,
        {money_sum_sql('amount')} AS sum,
        COALESCE({money_sum_sql('CASE WHEN amount > 0 THEN amount END')}, 0.0) AS sumIncome,
        COALESCE({money_sum_sql('CASE WHEN amount < 0 THEN amount END')}, 0.0) AS sumExpense,
        MIN(txn_date) AS first,
        MAX(txn_date) AS last
    FROM ({TRANSACTIONS_SQL})
    """,
)
def q_transactions_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — 9-field global summary (monarchmoney.py:1384-1395)."""
    return transactions_summary(transactions(spark, sf_dir))


@query(
    "cashflow_by_category_group",
    f"""
    SELECT p.p_type AS category_group,
           {money_sum_sql('t.amount')} AS sum,
           COALESCE({money_sum_sql('CASE WHEN t.amount > 0 THEN t.amount END')}, 0.0) AS sumIncome,
           COALESCE({money_sum_sql('CASE WHEN t.amount < 0 THEN t.amount END')}, 0.0) AS sumExpense,
           COUNT(*) AS txn_count
    FROM ({TRANSACTIONS_SQL}) t
    JOIN part p ON t.category_id = p.p_partkey
    GROUP BY p.p_type
    """,
)
def q_cashflow_by_category_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 + J2 — cashflow grouped by category-group (p_type plays the
    group name; part is the category dim, broadcast-joined)."""
    txns = transactions(spark, sf_dir)
    part = load_table(spark, "part", sf_dir).select(
        F.col("p_partkey").alias("category_id"), F.col("p_type").alias("category_group")
    )
    enriched = txns.join(F.broadcast(part), "category_id", "inner")
    return cashflow_by_key(enriched, "category_group")


@query(
    "cashflow_summary",
    f"""
    SELECT sumIncome, sumExpense, sum, count,
           sumIncome + sumExpense AS savings,
           CASE WHEN sumIncome <> 0
                THEN (sumIncome + sumExpense) / sumIncome END AS savingsRate
    FROM (
        SELECT
            COALESCE({money_sum_sql('CASE WHEN amount > 0 THEN amount END')}, 0.0) AS sumIncome,
            COALESCE({money_sum_sql('CASE WHEN amount < 0 THEN amount END')}, 0.0) AS sumExpense,
            COALESCE({money_sum_sql('amount')}, 0.0) AS sum,
            COUNT(*) AS count
        FROM ({TRANSACTIONS_SQL})
    )
    """,
)
def q_cashflow_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — savings + savingsRate derived metrics (monarchmoney.py:2318-2327)."""
    return cashflow_summary(transactions(spark, sf_dir))


@query(
    "transactions_filtered_page",
    f"""
    SELECT txn_id, amount, txn_date, account_id, category_id, merchant_id
    FROM ({TRANSACTIONS_WITH_ACCOUNT_SQL})
    WHERE txn_date BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
      AND merchant_id IN (1, 3, 5, 7)
    ORDER BY txn_date, txn_id
    LIMIT 200 OFFSET 100
    """,
)
def q_transactions_filtered_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P4/O4/O5/W5 — date-range + IN-list filters with stable-order
    offset/limit pagination (get_transactions monarchmoney.py:1403-1554)."""
    txns = transactions_with_account(spark, sf_dir)
    page = transactions_query(
        txns,
        start_date="1996-01-01",
        end_date="1997-12-31",
        merchant_ids=[1, 3, 5, 7],
        order_by=("txn_date", "txn_id"),
        offset=100,
        limit=200,
    )
    return page.select(
        "txn_id", "amount", "txn_date", "account_id", "category_id", "merchant_id"
    )


@query(
    "transactions_tag_filtered_page",
    f"""
    SELECT txn_id, amount, txn_date, category_id, merchant_id
    FROM (
        SELECT *, [category_id % 11, merchant_id % 11, order_id % 11] AS tag_ids
        FROM ({TRANSACTIONS_SQL})
    )
    WHERE list_has_any(tag_ids, [3, 7])
    ORDER BY txn_date, txn_id
    LIMIT 100 OFFSET 150
    """,
)
def q_transactions_tag_filtered_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag-overlap filter + pagination PAST page 1 (get_transactions
    tagIds, monarchmoney.py:1519-1520) — the driver-reachable proof of
    the round-7 fix: the tag predicate must apply BEFORE offset/limit
    (it lives inside ``transactions_query``, the same code path
    ``api.get_transactions`` delegates to). Under the pre-fix ordering
    (paginate, then tag-filter) this page would contain only the tagged
    survivors of rows 1–N of the UNfiltered order — a different, and
    short, result set — so the oracle row would be red. Tags are a
    deterministic synthesis over the star model (three small-modulus
    keys), dense enough that every page is full."""
    txns = transactions(spark, sf_dir).withColumn(
        "tag_ids",
        F.array(
            F.col("category_id") % 11,
            F.col("merchant_id") % 11,
            F.col("order_id") % 11,
        ),
    )
    page = transactions_query(
        txns,
        tag_ids=[3, 7],
        order_by=("txn_date", "txn_id"),
        offset=150,
        limit=100,
    )
    return page.select("txn_id", "amount", "txn_date", "category_id", "merchant_id")
