"""Budget flatten pipeline (SURVEY.md §2 J2/J3, W1-W3, A4, F15-F17, O2/O3).

Parity target: `_process_budget_data` (MonarchMoneyMain-v3.py:536-876) —
the reference walks the GraphQL ``budgetData`` tree (monarchmoney.py:
1135-1296) in Python, emitting one row per category×month plus
group-level and Totals sentinel rows, classifying Debit/Credit from the
category group's type, and computing a per-category cumulative actual.

Spark shape: explode the monthly array (J3), broadcast-join the category
and group dims (J2), window for cumulative/rollover (W1/W2), synthesize
sentinel rows as shaped sub-frames unioned in (F17), enforce the column
contract and (CategoryGroupName, CategoryName, Month) ordering (O2/O3).

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

from dieter___etl___monarchmoney_spark.functions.money import MONEY_DECIMAL
from dieter___etl___monarchmoney_spark.operators.windows import (
    lag_over,
    remaining_amount,
    running_total,
)
from dieter___etl___monarchmoney_spark.pins import pin
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


def _rollup_rows(df: DataFrame, name_col, group_order: int, label: str | None) -> DataFrame:
    """Shared shape for group-level and Totals sentinel rows (F17):
    aggregate per month (× group when group-level), exact-decimal sums."""
    def msum(c):
        return F.sum(F.col(c).cast(MONEY_DECIMAL)).cast("double")

    keys = [F.col("Month")] + ([F.col("CategoryGroupName"), F.col("GroupType")] if label is None else [])
    agg = df.groupBy(*keys).agg(
        msum("PlannedAmount").alias("PlannedAmount"),
        msum("ActualAmount").alias("ActualAmount"),
        msum("RolloverAmount").alias("RolloverAmount"),
        msum("RemainingAmount").alias("RemainingAmount"),
    )
    if label is not None:
        agg = agg.withColumn("CategoryGroupName", F.lit(label)).withColumn(
            "GroupType", F.lit(None).cast("string")
        )
    return (
        agg.withColumn("CategoryName", name_col)
        .withColumn(
            "DebitCreditFlag",
            F.when(F.col("GroupType") == "income", "Credit").otherwise("Debit"),
        )
        .withColumn("GroupOrder", F.lit(group_order))
        # sentinel rows carry no running total (the reference leaves the
        # cell blank on group/total rows)
        .withColumn("CumulativeActualAmount", F.lit(None).cast("double"))
    )


def budget_pipeline(per_category_month: DataFrame) -> DataFrame:
    """The full sheet: category rows + per-group sentinel rows (GroupOrder
    998) + per-month Totals rows (999), contract-ordered and sorted by
    (CategoryGroupName, CategoryName, Month) with sentinels last
    (MonarchMoneyMain-v3.py:704-735, 793-869, 907-911)."""
    # cat feeds three output branches; persist AND materialize eagerly —
    # a lazy persist lets all three branches race an unpopulated cache
    # within the single output action and re-run the window pipeline
    cat = pin(budget_rows(per_category_month))
    cat.count()
    grp = _rollup_rows(cat, F.lit(""), GROUP_ORDER_GROUP, None)
    tot = _rollup_rows(cat, F.lit(""), GROUP_ORDER_TOTAL, "Totals")
    merged = (
        cat.select(*BUDGET_PRIORITY)
        .unionByName(grp.select(*BUDGET_PRIORITY), allowMissingColumns=False)
        .unionByName(tot.select(*BUDGET_PRIORITY), allowMissingColumns=False)
    )
    merged = apply_column_contract(merged, BUDGET_PRIORITY)
    return merged.orderBy("GroupOrder", "CategoryGroupName", "CategoryName", "Month")
