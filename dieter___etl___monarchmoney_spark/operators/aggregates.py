"""Aggregations (SURVEY.md §2.4 A1-A8).

The reference *declares* these in GraphQL and a remote server executes
them (TransactionsSummaryFields monarchmoney.py:1384-1395; get_cashflow
monarchmoney.py:2264-2328). Here they are native Spark aggregations:
partial (map-side) aggregation + final merge is what HashAggregateExec
does for free, which is exactly the "server computes sums" behavior the
reference outsources.

Scale: every groupBy here keys on a dimension id (bounded cardinality),
so the shuffle is tiny regardless of fact size; conditional sums
(``sum(when(...))``) keep income/expense classification inside a single
scan instead of two passes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.functions.money import money_avg, money_sum
from dieter___etl___monarchmoney_spark.pins import pin


def _income(amount: Column) -> Column:
    return F.when(amount > 0, amount)


def _expense(amount: Column) -> Column:
    return F.when(amount < 0, amount)


def transactions_summary(txns: DataFrame) -> DataFrame:
    """A1 — the 9-field global summary (monarchmoney.py:1384-1395).

    Sign conventions per the fixture (tests/get_transactions_summary.json):
    ``max`` is the plain maximum (can be negative), ``maxExpense`` is the
    most-negative amount (min of negatives), ``sumIncome``/``sumExpense``
    are conditional sums, ``first``/``last`` are date bounds.
    """
    amount = F.col("amount")
    return txns.agg(
        money_avg(amount).alias("avg"),
        F.count(F.lit(1)).alias("count"),
        F.max(amount).alias("max"),
        F.min(_expense(amount)).alias("maxExpense"),
        money_sum(amount).alias("sum"),
        money_sum(_income(amount), coalesce_zero=True).alias("sumIncome"),
        money_sum(_expense(amount), coalesce_zero=True).alias("sumExpense"),
        F.min("txn_date").alias("first"),
        F.max("txn_date").alias("last"),
    )


def cashflow_by_key(txns: DataFrame, key: str) -> DataFrame:
    """A2 — grouped cashflow: sum/income/expense by one grouping key
    (byCategory / byCategoryGroup / byMerchant aliased blocks,
    monarchmoney.py:2264-2317)."""
    amount = F.col("amount")
    return txns.groupBy(key).agg(
        money_sum(amount).alias("sum"),
        money_sum(_income(amount), coalesce_zero=True).alias("sumIncome"),
        money_sum(_expense(amount), coalesce_zero=True).alias("sumExpense"),
        F.count(F.lit(1)).alias("txn_count"),
    )


def cashflow_summary(txns: DataFrame) -> DataFrame:
    """A3 — cashflow summary with derived savings metrics
    (monarchmoney.py:2318-2327; consumed as a ratio in
    monarchmoney/main.py:72-78). ``savings = sumIncome + sumExpense``;
    ``savingsRate = savings / sumIncome`` (NULL when no income —
    fillEmptyValues covers the sums, not the ratio)."""
    amount = F.col("amount")
    agg = txns.agg(
        money_sum(_income(amount), coalesce_zero=True).alias("sumIncome"),
        money_sum(_expense(amount), coalesce_zero=True).alias("sumExpense"),
        money_sum(amount, coalesce_zero=True).alias("sum"),
        F.count(F.lit(1)).alias("count"),
    )
    savings = F.col("sumIncome") + F.col("sumExpense")
    # no ROUND here: inputs are already deterministic doubles, and scalar
    # IEEE-754 add/divide is engine-identical while ROUND tie-breaking isn't
    return agg.withColumn("savings", savings).withColumn(
        "savingsRate", F.when(F.col("sumIncome") != 0, savings / F.col("sumIncome"))
    )


def cashflow_report(
    txns: DataFrame,
    category_col: str = "category_id",
    group_col: str | None = None,
    merchant_col: str = "merchant_id",
) -> dict[str, DataFrame]:
    """§3.3 — the multi-aggregate cashflow report: four aliased
    aggregations over ONE filtered scan (byCategory, byCategoryGroup,
    byMerchant, summary — monarchmoney.py:2264-2328). The base frame is
    persisted and eagerly materialized so the four branches reuse one
    scan instead of four (the reference gets this for free because the
    remote server answers all four blocks from one request).

    The pin is NOT released here — the returned frames still read it;
    ``pins.release()`` frees it once they have been consumed."""
    base = pin(txns)
    base.count()
    report = {
        "byCategory": cashflow_by_key(base, category_col),
        "byMerchant": cashflow_by_key(base, merchant_col),
        "summary": cashflow_summary(base),
    }
    if group_col is not None:
        report["byCategoryGroup"] = cashflow_by_key(base, group_col)
    return report


def monthly_rollup(
    series: DataFrame,
    date_col: str,
    value_col: str,
    group_cols: list[str] | None = None,
    granularity: str = "month",
) -> DataFrame:
    """A5/A6 — net-worth-style time rollup: sum a balance/value series per
    truncated period (× optional type columns)
    (snapshotsByAccountType monarchmoney.py:292-305, aggregateSnapshots
    326-333). ``granularity`` ∈ {'month','year'} mirrors the API's
    timeframe argument."""
    period = F.date_trunc(granularity, F.col(date_col)).cast("date").alias("period")
    keys = [period] + [F.col(c) for c in (group_cols or [])]
    return series.groupBy(*keys).agg(
        money_sum(F.col(value_col)).alias("total_value"),
        F.count(F.lit(1)).alias("n_points"),
    )
