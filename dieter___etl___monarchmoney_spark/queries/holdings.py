"""S5 — the holdings/portfolio entity as a first-class, oracle-checked
query (SURVEY.md §2.1 S5; reference ``get_account_holdings``
monarchmoney.py:725-793, golden fixture
tests/get_account_holdings.json:1-45 asserted in
test_monarchmoney.py:160-201).

The reference returns a GraphQL connection — ``portfolio.
aggregateHoldings.edges[].node`` with quantity/basis/totalValue plus a
nested ``security`` (name, ticker, typeDisplay, currentPrice,
oneDayChange*). Here the same surface is derived from the star schema:

- a *position* is an (account, security) pair, where ``part`` plays the
  security dim (p_name → security_name, p_brand → ticker, p_type →
  typeDisplay, p_retailprice → current_price);
- ``quantity``/``basis`` accumulate per position over the transaction
  history (cumulative window over per-day deltas — the brokerage ledger
  view of lineitem);
- ``total_value`` = quantity × current_price;
- ``one_day_change_*`` is the W4 lag form: value change since the
  position's previous observation day (NULL on the first observation —
  matching the reference fixture's null securityPriceChange*);
- the reference's ``accountIds`` input filter is the P4 IN-list.

To keep parity with the reference's *shape*, the finished rows are
round-tripped through the GraphQL-connection envelope: packed into
``edges[].node`` structs per account, then unwrapped with the F14
machinery (functions/nested.py:unwrap_connection) — the identical
explode(edges) → node.* path the connector runs on real payloads. The
round trip is row-identity, so the DuckDB oracle checks the flat form.

Scale shape: one shuffle to the (account, security, day) aggregate, one
cumulative window per position (partition-local, no global sort), a
broadcast join to the security dim, and a bounded collect_list per
account (a portfolio holds hundreds of positions, not billions). At
100 TB the account IN-list prunes at the orders join, and everything
downstream is proportional to the selected accounts' history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.functions.money import money_sum, money_sum_sql
from dieter___etl___monarchmoney_spark.functions.nested import unwrap_connection
from dieter___etl___monarchmoney_spark.registry import query
from dieter___etl___monarchmoney_spark.sources.parquet import load_table
from dieter___etl___monarchmoney_spark.sources.star_model import (
    TRANSACTIONS_WITH_ACCOUNT_SQL,
    transactions_with_account,
)

#: the reference's PortfolioInput.accountIds list (monarchmoney.py:781)
ACCOUNT_IDS = (1, 2, 3, 4, 5, 6, 7, 8)

_HOLDINGS_SQL = f"""
WITH txns AS ({TRANSACTIONS_WITH_ACCOUNT_SQL}),
daily AS (
    SELECT account_id, category_id, txn_date,
           SUM(quantity) AS day_qty,
           {money_sum_sql('amount')} AS day_basis
    FROM txns
    WHERE account_id IN (1, 2, 3, 4, 5, 6, 7, 8)
    GROUP BY account_id, category_id, txn_date
),
pos AS (
    SELECT account_id, category_id, txn_date,
           SUM(day_qty) OVER w AS quantity,
           SUM(day_basis) OVER w AS basis
    FROM daily
    WINDOW w AS (PARTITION BY account_id, category_id ORDER BY txn_date)
),
valued AS (
    SELECT p.account_id, p.category_id, p.txn_date, p.quantity, p.basis,
           pt.p_name AS security_name,
           pt.p_brand AS ticker,
           pt.p_type AS type_display,
           pt.p_retailprice AS current_price,
           p.quantity * pt.p_retailprice AS total_value
    FROM pos p JOIN part pt ON p.category_id = pt.p_partkey
),
changed AS (
    SELECT *,
           total_value - LAG(total_value) OVER w AS one_day_change_dollars,
           (total_value - LAG(total_value) OVER w)
               / NULLIF(LAG(total_value) OVER w, 0) AS one_day_change_percent,
           ROW_NUMBER() OVER (
               PARTITION BY account_id, category_id ORDER BY txn_date DESC
           ) AS rn
    FROM valued
    WINDOW w AS (PARTITION BY account_id, category_id ORDER BY txn_date)
)
SELECT account_id,
       category_id AS security_id,
       security_name, ticker, type_display,
       quantity, basis, total_value, current_price,
       one_day_change_dollars, one_day_change_percent,
       txn_date AS last_synced_at
FROM changed
WHERE rn = 1
"""


@query("portfolio_holdings", _HOLDINGS_SQL)
def q_portfolio_holdings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current holdings per account for the requested account list —
    the reference's ``get_account_holdings`` connection, unwrapped."""
    txns = transactions_with_account(spark, sf_dir).filter(
        F.col("account_id").isin(*ACCOUNT_IDS)
    )
    daily = txns.groupBy("account_id", "category_id", "txn_date").agg(
        F.sum("quantity").alias("day_qty"),
        money_sum("amount").alias("day_basis"),
    )
    w = Window.partitionBy("account_id", "category_id").orderBy("txn_date")
    pos = daily.select(
        "account_id",
        "category_id",
        "txn_date",
        F.sum("day_qty").over(w).alias("quantity"),
        F.sum("day_basis").over(w).alias("basis"),
    )
    sec = load_table(spark, "part", sf_dir).select(
        F.col("p_partkey").alias("category_id"),
        F.col("p_name").alias("security_name"),
        F.col("p_brand").alias("ticker"),
        F.col("p_type").alias("type_display"),
        F.col("p_retailprice").alias("current_price"),
    )
    valued = pos.join(F.broadcast(sec), "category_id").withColumn(
        "total_value", F.col("quantity") * F.col("current_price")
    )
    prev_value = F.lag("total_value").over(w)
    changed = (
        valued.withColumn("one_day_change_dollars", F.col("total_value") - prev_value)
        .withColumn(
            "one_day_change_percent",
            (F.col("total_value") - prev_value) / F.nullif(prev_value, F.lit(0.0)),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("account_id", "category_id").orderBy(
                    F.col("txn_date").desc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
    )
    # GraphQL-connection round trip (F14): pack the finished rows into the
    # reference's edges[].node envelope, then unwrap with the production
    # explode(edges) → node.* path. Row-identity by construction; the
    # bounded per-account collect_list is portfolio-sized.
    node = F.struct(
        F.col("account_id"),
        F.col("category_id").alias("security_id"),
        F.col("security_name"),
        F.col("ticker"),
        F.col("type_display"),
        F.col("quantity"),
        F.col("basis"),
        F.col("total_value"),
        F.col("current_price"),
        F.col("one_day_change_dollars"),
        F.col("one_day_change_percent"),
        F.col("txn_date").alias("last_synced_at"),
    )
    conn = changed.groupBy("account_id").agg(
        F.collect_list(F.struct(node.alias("node"))).alias("edges")
    )
    return unwrap_connection(conn.select("edges"))
