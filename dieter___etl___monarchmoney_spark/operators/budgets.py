"""Budget flatten pipeline (SURVEY.md §2 J2/J3, W1-W3, A4, F15-F17, O2/O3).

Parity target: `_process_budget_data` (MonarchMoneyMain-v3.py:536-876) —
the reference walks the GraphQL ``budgetData`` tree (monarchmoney.py:
1135-1296) in Python, emitting one row per category×month plus
group-level and Totals sentinel rows, classifying Debit/Credit from the
category group's type, and computing a per-category cumulative actual.

Spark shape: explode the monthly array (J3), broadcast-join the category
and group dims (J2), window for cumulative/rollover (W1/W2), synthesize
sentinel rows with one grouping-sets aggregate unioned in (F17), enforce
the column contract and (CategoryGroupName, CategoryName, Month)
ordering (O2/O3).

Invariants carried from .DevContext/Budget_Specs.md:
- ``DebitCreditFlag = 'Credit' ⇔ group type = 'income'`` (:92-109);
- ``RemainingAmount = PlannedAmount + RolloverAmount − ActualAmount``
  (:189-199, monarchmoney.py:1146);
- ``CumulativeActualAmount`` is a per-category running total ≥
  ActualAmount for positive actuals (:189).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.functions.money import money_sum
from dieter___etl___monarchmoney_spark.operators.windows import (
    remaining_amount,
    running_total,
)
from dieter___etl___monarchmoney_spark.plans.contract import apply_column_contract

#: budget sheet contract (_budget_headers_rows MonarchMoneyMain-v3.py:878-914)
BUDGET_PRIORITY = (
    "Month",
    "CategoryGroupName",
    "CategoryName",
    "GroupType",
    "DebitCreditFlag",
    "PlannedAmount",
    "ActualAmount",
    "RolloverAmount",
    "RemainingAmount",
    "CumulativeActualAmount",
    "GroupOrder",
)

#: sentinel orders (MonarchMoneyMain-v3.py:823, 867, 734)
GROUP_ORDER_CATEGORY = 0
GROUP_ORDER_GROUP = 998
GROUP_ORDER_TOTAL = 999


def flatten_budget_documents(budget_docs: DataFrame) -> DataFrame:
    """Explode nested budget documents into one row per category×month.

    Input shape (FIXTURES.md §5 / monarchmoney.py:1135-1180): one row per
    category with ``monthlyAmounts ARRAY<STRUCT<month, plannedCashFlowAmount,
    actualAmount, previousMonthRolloverAmount>>`` plus ``category
    STRUCT<id, name>`` and ``categoryGroup STRUCT<id, name, type>``.
    """
    m = F.explode("monthlyAmounts").alias("m")
    df = budget_docs.select(
        F.col("category.id").alias("category_id"),
        F.col("category.name").alias("CategoryName"),
        F.col("categoryGroup.id").alias("group_id"),
        F.col("categoryGroup.name").alias("CategoryGroupName"),
        F.col("categoryGroup.type").alias("GroupType"),
        m,
    ).select(
        "category_id",
        "CategoryName",
        "group_id",
        "CategoryGroupName",
        "GroupType",
        F.col("m.month").cast("date").alias("Month"),
        F.coalesce(F.col("m.plannedCashFlowAmount"), F.lit(0.0)).alias("PlannedAmount"),
        F.coalesce(F.col("m.actualAmount"), F.lit(0.0)).alias("ActualAmount"),
        F.coalesce(F.col("m.previousMonthRolloverAmount"), F.lit(0.0)).alias(
            "RolloverAmount"
        ),
    )
    return df


def budget_rows(per_category_month: DataFrame) -> DataFrame:
    """Category-level budget rows: classification + windows + derived
    remaining. Expects columns CategoryName/CategoryGroupName/GroupType/
    Month/PlannedAmount/ActualAmount/RolloverAmount (+ category_id)."""
    df = per_category_month.withColumn(
        "DebitCreditFlag",
        F.when(F.col("GroupType") == "income", "Credit").otherwise("Debit"),
    ).withColumn(
        "RemainingAmount",
        remaining_amount("PlannedAmount", "RolloverAmount", "ActualAmount"),
    )
    df = running_total(df, "ActualAmount", "category_id", "Month", "CumulativeActualAmount")
    return df.withColumn("GroupOrder", F.lit(GROUP_ORDER_CATEGORY))


def _sentinel_rows(cat: DataFrame) -> DataFrame:
    """Group-level (998) and per-month Totals (999) sentinel rows (F17)
    from ONE grouping-sets aggregate over the category rows, keyed on
    ``grouping(CategoryGroupName)``: the (Month, group) set gives the
    group rows, the (Month) set the Totals rows. Exact-decimal sums."""
    def msum(c):
        return money_sum(F.col(c))

    agg = cat.groupingSets(
        [["Month", "CategoryGroupName", "GroupType"], ["Month"]],
        "Month",
        "CategoryGroupName",
        "GroupType",
    ).agg(
        (F.grouping("CategoryGroupName") == 1).alias("is_total"),
        *[
            msum(c).alias(c)
            for c in ("PlannedAmount", "ActualAmount", "RolloverAmount", "RemainingAmount")
        ],
    )
    is_total = F.col("is_total")
    return agg.select(
        "Month",
        F.when(is_total, F.lit("Totals")).otherwise(F.col("CategoryGroupName")).alias(
            "CategoryGroupName"
        ),
        F.lit("").alias("CategoryName"),
        # NULL on Totals rows: the grouping set drops GroupType
        "GroupType",
        F.when(F.col("GroupType") == "income", "Credit").otherwise("Debit").alias(
            "DebitCreditFlag"
        ),
        "PlannedAmount",
        "ActualAmount",
        "RolloverAmount",
        "RemainingAmount",
        # sentinel rows carry no running total (the reference leaves the
        # cell blank on group/total rows)
        F.lit(None).cast("double").alias("CumulativeActualAmount"),
        F.when(is_total, F.lit(GROUP_ORDER_TOTAL))
        .otherwise(F.lit(GROUP_ORDER_GROUP))
        .alias("GroupOrder"),
    )


def budget_pipeline(per_category_month: DataFrame) -> DataFrame:
    """The full sheet: category rows + per-group sentinel rows (GroupOrder
    998) + per-month Totals rows (999), contract-ordered and sorted by
    (CategoryGroupName, CategoryName, Month) with sentinels last
    (MonarchMoneyMain-v3.py:704-735, 793-869, 907-911)."""
    # both branches read the category rows; nothing is cached: the
    # aggregate branch needs no window column, so it plans down to the
    # same category-month exchange the window branch reads, and AQE
    # reuses that exchange, so the input is read once
    cat = budget_rows(per_category_month)
    merged = cat.select(*BUDGET_PRIORITY).unionByName(_sentinel_rows(cat))
    merged = apply_column_contract(merged, BUDGET_PRIORITY)
    return merged.orderBy("GroupOrder", "CategoryGroupName", "CategoryName", "Month")
