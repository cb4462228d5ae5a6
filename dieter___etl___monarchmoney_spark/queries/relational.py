"""Relational coverage: joins (J1-J6), windows (W1-W5), sorts/top-k
(O1-O7), rollups & grouping sets (A4-A8), watermark merge (J4/U1/T2),
scalar-function surfaces (F1/F3/F6/F15), and the signed running
balance over the two-phase distributed prefix sum.

Every query is registered with a DuckDB-oracle SQL twin; money sums use
the exact-decimal pattern (functions/money.py) including *inside window
frames* so ordered partial sums hash identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.functions.money import (
    MONEY_DECIMAL,
    MONEY_DECIMAL_SQL,
    clean_currency,
    money_sum,
    money_sum_sql,
)
from dieter___etl___monarchmoney_spark.operators.aggregates import cashflow_by_key
from dieter___etl___monarchmoney_spark.operators.transactions import transactions_query
from dieter___etl___monarchmoney_spark.operators.windows import (
    lag_over,
    running_total,
)
from dieter___etl___monarchmoney_spark.registry import query
from dieter___etl___monarchmoney_spark.sources.parquet import load_table
from dieter___etl___monarchmoney_spark.sources.star_model import (
    TRANSACTIONS_SQL,
    TRANSACTIONS_WITH_ACCOUNT_SQL,
    transactions,
    transactions_with_account,
)
from dieter___etl___monarchmoney_spark.streaming.incremental import replace_window_merge


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------


@query(
    "account_enrichment_join",
    f"""
    SELECT t.account_id, c.c_name AS account_name,
           {money_sum_sql('t.amount')} AS sum, COUNT(*) AS txn_count
    FROM ({TRANSACTIONS_WITH_ACCOUNT_SQL}) t
    JOIN customer c ON t.account_id = c.c_custkey
    GROUP BY t.account_id, c.c_name
    """,
)
def q_account_enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 + A7 — accountId → displayName enrichment via broadcast hash
    join (the reference builds a dict in driver memory,
    MonarchMoneyMain-v3.py:1104-1110; Spark broadcasts the dim).

    Shape: aggregate by the key FIRST, join the name dim AFTER — the
    enrichment string then rides on ~|accounts| rows instead of being
    carried (and hashed) through the fact-scale partial aggregation.
    Same result (account_id ↔ name is 1:1); the oracle groups by both."""
    txns = transactions_with_account(spark, sf_dir)
    agg = txns.groupBy("account_id").agg(
        money_sum("amount").alias("sum"), F.count(F.lit(1)).alias("txn_count")
    )
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("account_id"), F.col("c_name").alias("account_name")
    )
    return agg.join(F.broadcast(cust), "account_id", "inner").select(
        "account_id", "account_name", "sum", "txn_count"
    )


@query(
    "category_group_chain_join",
    f"""
    SELECT r.r_name AS region_name, {money_sum_sql('c.c_acctbal')} AS total_balance,
           COUNT(*) AS n_accounts
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q_category_group_chain_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J3 — category → parent categoryGroup dimension chain
    (_process_budget_data MonarchMoneyMain-v3.py:557-575): two broadcast
    joins up the dim hierarchy, then aggregate."""
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            money_sum("c_acctbal").alias("total_balance"),
            F.count(F.lit(1)).alias("n_accounts"),
        )
    )


@query(
    "parent_child_self_join",
    f"""
    SELECT p.txn_id AS parent_id, p.amount AS parent_amount,
           COUNT(c.txn_id) AS n_children, {money_sum_sql('c.amount')} AS children_sum
    FROM ({TRANSACTIONS_SQL}) p
    LEFT JOIN ({TRANSACTIONS_SQL}) c
      ON c.order_id = p.order_id AND c.txn_id <> p.txn_id
    WHERE SPLIT_PART(p.txn_id, '-', 2) = '1'
    GROUP BY p.txn_id, p.amount
    """,
)
def q_parent_child_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — transaction → splits parent/child self-join
    (splitTransactions/original transaction, monarchmoney.py:2011-2020):
    line 1 of each order plays the parent, its sibling lines the splits.
    Equi-join on order_id — shuffles both sides on the same key, no
    broadcast (both sides are the fact)."""
    txns = transactions(spark, sf_dir)
    parents = txns.filter(F.split(F.col("txn_id"), "-")[1] == "1").select(
        F.col("txn_id").alias("parent_id"),
        F.col("amount").alias("parent_amount"),
        F.col("order_id").alias("p_order_id"),
    )
    children = txns.select(
        F.col("txn_id").alias("child_id"),
        F.col("amount").alias("child_amount"),
        F.col("order_id"),
    )
    joined = parents.join(
        children,
        (children.order_id == parents.p_order_id)
        & (children.child_id != parents.parent_id),
        "left",
    )
    return joined.groupBy("parent_id", "parent_amount").agg(
        F.count("child_id").alias("n_children"),
        money_sum("child_amount").alias("children_sum"),
    )


@query(
    "watermark_replace_merge",
    """
    SELECT event_id, CAST(ts AS DATE) AS event_date, value, event_type,
           CASE WHEN CAST(ts AS DATE) < DATE '2024-01-15'
                THEN 'kept' ELSE 'fresh' END AS status
    FROM events
    """,
)
def q_watermark_replace_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 + U1 + T2 — the keep/replace incremental merge
    (MonarchMoneyMain-v3.py:1312-1326): existing rows strictly before the
    watermark survive, the reload window is replaced by the fresh
    extract. Fresh rows are stamped 'fresh' so the replacement is
    observable; the oracle derives the same partition by date."""
    import datetime as dt

    events = load_table(spark, "events", sf_dir).select(
        "event_id",
        F.col("ts").cast("date").alias("event_date"),
        "value",
        "event_type",
    )
    wm = dt.date(2024, 1, 15)
    existing = events.withColumn("status", F.lit("kept"))
    fresh = events.filter(F.col("event_date") >= F.lit(wm.isoformat())).withColumn(
        "status", F.lit("fresh")
    )
    return replace_window_merge(existing, fresh, "event_date", wm)


# --------------------------------------------------------------------------
# Windows
# --------------------------------------------------------------------------

_MONTHLY_ACTUALS_SQL = f"""
    SELECT merchant_id, CAST(DATE_TRUNC('month', txn_date) AS DATE) AS month,
           {money_sum_sql('amount')} AS actual
    FROM ({TRANSACTIONS_SQL})
    GROUP BY merchant_id, CAST(DATE_TRUNC('month', txn_date) AS DATE)
"""


def _monthly_actuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    txns = transactions(spark, sf_dir)
    return txns.groupBy(
        "merchant_id", F.date_trunc("month", "txn_date").cast("date").alias("month")
    ).agg(money_sum("amount").alias("actual"))


@query(
    "running_total_by_category",
    f"""
    SELECT merchant_id, month, actual,
           CAST(SUM(CAST(actual AS {MONEY_DECIMAL_SQL}))
                OVER (PARTITION BY merchant_id ORDER BY month
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS cumulative
    FROM ({_MONTHLY_ACTUALS_SQL})
    """,
)
def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — CumulativeActualAmount: per-category running total over
    months (MonarchMoneyMain-v3.py:613; invariant cumulative ≥ actual,
    .DevContext/Budget_Specs.md:189)."""
    return running_total(
        _monthly_actuals(spark, sf_dir), "actual", "merchant_id", "month", "cumulative"
    )


@query(
    "rollover_remaining",
    f"""
    WITH monthly AS ({_MONTHLY_ACTUALS_SQL}),
    rem AS (
        SELECT merchant_id, month, actual,
               CAST(50000.0 AS DOUBLE) AS planned,  -- bare 50000.0 is DECIMAL in DuckDB
               CAST(SUM(CAST(50000.0 - actual AS {MONEY_DECIMAL_SQL}))
                    OVER (PARTITION BY merchant_id ORDER BY month
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS remaining
        FROM monthly
    )
    SELECT merchant_id, month, actual, planned, remaining,
           COALESCE(LAG(remaining) OVER (PARTITION BY merchant_id ORDER BY month),
                    0.0) AS rollover
    FROM rem
    """,
)
def q_rollover_remaining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/W3 — previous-month rollover chain: remaining = planned +
    rollover − actual with rollover = lag(remaining) (monarchmoney.py:
    1146-1163, MonarchMoneyMain-v3.py:613-615). The recursion telescopes
    to a running sum of (planned − actual), computed exactly."""
    monthly = _monthly_actuals(spark, sf_dir).withColumn("planned", F.lit(50000.0))
    monthly = monthly.withColumn("diff", F.col("planned") - F.col("actual"))
    rem = running_total(monthly, "diff", "merchant_id", "month", "remaining").drop(
        "diff"
    )
    out = lag_over(rem, "remaining", "merchant_id", "month", "rollover", default=0.0)
    # invariant check form: remaining == planned + rollover - actual
    return out.select(
        "merchant_id", "month", "actual", "planned", "remaining", "rollover"
    )


@query(
    "one_day_change",
    """
    SELECT event_id, user_id, value,
           LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
           value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS change
    FROM events
    """,
)
def q_one_day_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — one-day price change (oneDayChangeDollars,
    monarchmoney.py:764-765): lag per series ordered by time with a
    deterministic tiebreak."""
    from pyspark.sql.window import Window

    events = load_table(spark, "events", sf_dir)
    # order by the exact ns-precision long (sources/parquet.py): the
    # µs-truncated ts could tie where the oracle's ns timestamps don't
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    prev = F.lag("value").over(w)
    return events.select(
        "event_id",
        "user_id",
        "value",
        prev.alias("prev_value"),
        (F.col("value") - prev).alias("change"),
    )


@query(
    "row_number_pagination",
    f"""
    SELECT txn_id, txn_date, amount FROM (
        SELECT txn_id, txn_date, amount,
               ROW_NUMBER() OVER (ORDER BY txn_date, txn_id) AS rn
        FROM ({TRANSACTIONS_SQL})
    ) WHERE rn > 500 AND rn <= 600
    """,
)
def q_row_number_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 — rank-semantics pagination (results(offset,limit,orderBy)
    monarchmoney.py:1444-1452), registered in its scale-safe form:
    offset/limit over the ordered fact, which Spark plans as
    TakeOrderedAndProject — each partition keeps its top offset+limit
    candidates and only those merge on the driver; no single-partition
    global sort (the oracle's ROW_NUMBER formulation returns the
    identical page). The explicit row_number variant survives as
    operators/transactions.py:paginate_row_number, documented as a
    page-sized-input utility; tests/test_plans.py pins this plan to
    TakeOrderedAndProject with no Exchange SinglePartition."""
    txns = transactions(spark, sf_dir).select("txn_id", "txn_date", "amount")
    return transactions_query(
        txns, order_by=("txn_date", "txn_id"), offset=500, limit=100
    )


# --------------------------------------------------------------------------
# Sorts / top-k / pagination with total
# --------------------------------------------------------------------------


@query(
    "top_k_transactions",
    f"""
    SELECT txn_id, txn_date, amount
    FROM ({TRANSACTIONS_SQL})
    ORDER BY amount DESC, txn_id
    LIMIT 100
    """,
)
def q_top_k_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 — head-N by amount with deterministic tiebreak; Spark plans
    TakeOrderedAndProject (no global sort materialization)."""
    txns = transactions(spark, sf_dir)
    return txns.select("txn_id", "txn_date", "amount").orderBy(
        F.col("amount").desc(), "txn_id"
    ).limit(100)


@query(
    "page_with_total_count",
    f"""
    SELECT t.txn_id, t.txn_date, t.amount,
           (SELECT COUNT(*) FROM ({TRANSACTIONS_SQL})) AS totalCount
    FROM (
        SELECT txn_id, txn_date, amount FROM ({TRANSACTIONS_SQL})
        ORDER BY txn_date, txn_id LIMIT 50
    ) t
    """,
)
def q_page_with_total_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — totalCount alongside page results (allTransactions{totalCount
    results}, monarchmoney.py:1444-1452): the count rides next to the
    page instead of replacing it."""
    txns = transactions(spark, sf_dir).select("txn_id", "txn_date", "amount")
    page = transactions_query(txns, order_by=("txn_date", "txn_id"), limit=50)
    total = txns.agg(F.count(F.lit(1)).alias("totalCount"))
    return page.crossJoin(F.broadcast(total))


@query(
    "accounts_sorted_contract",
    """
    SELECT c.c_custkey AS id, c.c_name AS displayName,
           c.c_mktsegment AS TypeDisplay, n.n_name AS InstitutionName,
           c.c_acctbal AS currentBalance,
           CASE WHEN c.c_acctbal >= 0 THEN 'Credit' ELSE 'Debit' END
               AS DebitCreditFlag
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def q_accounts_sorted_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O7 + F15 — the accounts sheet pipeline: flatten, enrich with
    the institution-like dim, classify Debit/Credit, emit in contract
    column order sorted by (TypeDisplay, InstitutionName, displayName)
    (MonarchMoneyMain-v3.py:83-137, 995-1051)."""
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    df = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("displayName"),
        F.col("c_mktsegment").alias("TypeDisplay"),
        F.col("n_name").alias("InstitutionName"),
        F.col("c_acctbal").alias("currentBalance"),
        F.when(F.col("c_acctbal") >= 0, "Credit").otherwise("Debit").alias(
            "DebitCreditFlag"
        ),
    )
    return df.orderBy("TypeDisplay", "InstitutionName", "displayName")


# --------------------------------------------------------------------------
# Rollups / grouping sets / time series
# --------------------------------------------------------------------------


@query(
    "monthly_rollup_by_type",
    f"""
    SELECT CAST(DATE_TRUNC('month', ts) AS DATE) AS period, event_type,
           {money_sum_sql('value')} AS total_value, COUNT(*) AS n_points
    FROM events
    GROUP BY CAST(DATE_TRUNC('month', ts) AS DATE), event_type
    """,
)
def q_monthly_rollup_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — monthly net-worth rollup by account type
    (snapshotsByAccountType monarchmoney.py:292-305); events plays the
    balance series, event_type the account type."""
    from dieter___etl___monarchmoney_spark.operators.aggregates import monthly_rollup

    events = load_table(spark, "events", sf_dir)
    return monthly_rollup(events, "ts", "value", ["event_type"], "month")


@query(
    "daily_aggregate_snapshots",
    f"""
    SELECT CAST(ts AS DATE) AS date, {money_sum_sql('value')} AS balance,
           COUNT(*) AS n_points
    FROM events
    GROUP BY CAST(ts AS DATE)
    """,
)
def q_daily_aggregate_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — daily aggregate net worth across accounts
    (aggregateSnapshots monarchmoney.py:326-333)."""
    events = load_table(spark, "events", sf_dir)
    return events.groupBy(F.col("ts").cast("date").alias("date")).agg(
        money_sum("value").alias("balance"), F.count(F.lit(1)).alias("n_points")
    )


@query(
    "budget_totals_rollup",
    f"""
    SELECT CAST(DATE_TRUNC('month', txn_date) AS DATE) AS month, returnflag,
           COALESCE({money_sum_sql('CASE WHEN amount > 0 THEN amount END')}, 0.0) AS income,
           COALESCE({money_sum_sql('CASE WHEN amount < 0 THEN amount END')}, 0.0) AS expenses,
           COUNT(*) AS n
    FROM ({TRANSACTIONS_SQL})
    GROUP BY ROLLUP (CAST(DATE_TRUNC('month', txn_date) AS DATE), returnflag)
    """,
)
def q_budget_totals_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — monthly budget totals as grouping sets: per (month × class),
    per month, and grand total in one pass (totalsByMonth
    monarchmoney.py:1182-1220 runs parallel per-category/group/total
    blocks; ROLLUP is the single-scan Spark form, SURVEY.md §2.4)."""
    txns = transactions(spark, sf_dir)
    amount = F.col("amount")
    return txns.rollup(
        F.date_trunc("month", "txn_date").cast("date").alias("month"), "returnflag"
    ).agg(
        money_sum(F.when(amount > 0, amount), coalesce_zero=True).alias("income"),
        money_sum(F.when(amount < 0, amount), coalesce_zero=True).alias("expenses"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# Scalar-function surfaces
# --------------------------------------------------------------------------


@query(
    "currency_clean_roundtrip",
    f"""
    SELECT {money_sum_sql("(CASE WHEN returnflag = 'R' THEN -1.0 ELSE 1.0 END)"
                  " * (quantity + 0.25)")} AS cleaned_sum,
           COUNT(*) AS n
    FROM ({TRANSACTIONS_SQL})
    """,
)
def q_currency_clean_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — currency normalization applied at scan scale: synthesize the
    reference's messy money strings ("$0,042.25", "(…)" accounting
    negatives — MonarchMoneyMain-v3.py:513-532) from numeric columns,
    clean them back with the column-expression chain, and aggregate.
    The oracle computes the equivalent numeric directly, proving the
    clean chain is lossless."""
    txns = transactions(spark, sf_dir)
    digits = F.lpad(F.col("quantity").cast("int").cast("string"), 3, "0")
    base = F.concat(F.lit("$0,"), digits, F.lit(".25"))
    messy = F.when(
        F.col("returnflag") == "R", F.concat(F.lit("("), base, F.lit(")"))
    ).otherwise(base)
    cleaned = clean_currency(messy)
    return txns.select(cleaned.alias("c")).agg(
        money_sum("c").alias("cleaned_sum"), F.count(F.lit(1)).alias("n")
    )


@query(
    "date_functions_surface",
    """
    SELECT o_orderkey AS order_id,
           STRFTIME(o_orderdate, '%Y-%m-%d %H:%M:%S') AS ts_rendered,
           CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
           LAST_DAY(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH) AS next_month_end,
           CAST(o_orderdate AS DATE) - 30 AS backfill_start
    FROM orders
    """,
)
def q_date_functions_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/F6/F7 — timestamp render, month-window arithmetic
    (trunc/last_day/add_months), backfill-window date_sub
    (MonarchMoneyMain-v3.py:393-429, 1117-1142, 1246-1256)."""
    from dieter___etl___monarchmoney_spark.functions.dates import (
        backfill_start,
        format_timestamp,
        month_end,
        month_start,
    )

    orders = load_table(spark, "orders", sf_dir)
    return orders.select(
        F.col("o_orderkey").alias("order_id"),
        format_timestamp("o_orderdate").alias("ts_rendered"),
        month_start("o_orderdate").alias("month_start"),
        month_end("o_orderdate", 1).alias("next_month_end"),
        backfill_start(F.col("o_orderdate"), 30).alias("backfill_start"),
    )


@query(
    "cashflow_by_merchant",
    f"""
    SELECT s.s_name AS merchant_name,
           {money_sum_sql('t.amount')} AS sum,
           COALESCE({money_sum_sql('CASE WHEN t.amount > 0 THEN t.amount END')}, 0.0)
               AS sumIncome,
           COALESCE({money_sum_sql('CASE WHEN t.amount < 0 THEN t.amount END')}, 0.0)
               AS sumExpense,
           COUNT(*) AS txn_count
    FROM ({TRANSACTIONS_SQL}) t
    JOIN supplier s ON t.merchant_id = s.s_suppkey
    GROUP BY s.s_name
    """,
)
def q_cashflow_by_merchant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (byMerchant block) + A7 — sumIncome/sumExpense per merchant
    (monarchmoney.py:2264-2317); supplier plays the merchant dim."""
    txns = transactions(spark, sf_dir)
    supp = load_table(spark, "supplier", sf_dir).select(
        F.col("s_suppkey").alias("merchant_id"), F.col("s_name").alias("merchant_name")
    )
    return cashflow_by_key(
        txns.join(F.broadcast(supp), "merchant_id", "inner"), "merchant_name"
    )


@query(
    "cashflow_cube",
    f"""
    SELECT CAST(DATE_TRUNC('month', txn_date) AS DATE) AS month, returnflag,
           {money_sum_sql('amount')} AS total, COUNT(*) AS n,
           GROUPING(CAST(DATE_TRUNC('month', txn_date) AS DATE), returnflag) AS gid
    FROM ({TRANSACTIONS_SQL})
    GROUP BY CUBE (CAST(DATE_TRUNC('month', txn_date) AS DATE), returnflag)
    """,
)
def q_cashflow_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (month, returnflag): all four grains — per cell, per
    month, per flag, grand total — in one aggregate pass (completes the
    grouping-set surface next to ROLLUP in budget_totals_rollup and the
    explicit GROUPING SETS in budget_grouping_sets; SURVEY.md §2.4
    note). ``gid`` is the grouping bit-vector (F.grouping_id ==
    DuckDB's GROUPING), which consumers use to route each grain to its
    report row — and which disambiguates a NULL group key from an
    aggregated-out one. Decimal sums keep every grain's partial
    aggregation exact."""
    txns = transactions(spark, sf_dir)
    month = F.date_trunc("month", "txn_date").cast("date")
    return (
        txns.cube(month.alias("month"), "returnflag")
        .agg(
            money_sum("amount").alias("total"),
            F.count(F.lit(1)).alias("n"),
            F.grouping_id().alias("gid"),
        )
    )


@query(
    "cashflow_report_all",
    f"""
    WITH base AS (
        SELECT p.p_brand AS cat, p.p_type AS grp, s.s_name AS merch, t.amount
        FROM ({TRANSACTIONS_SQL}) t
        JOIN part p ON t.category_id = p.p_partkey
        JOIN supplier s ON t.merchant_id = s.s_suppkey
    )
    SELECT CASE WHEN GROUPING(cat) = 0 THEN 'by_category'
                WHEN GROUPING(grp) = 0 THEN 'by_category_group'
                WHEN GROUPING(merch) = 0 THEN 'by_merchant'
                ELSE 'summary' END AS section,
           CASE WHEN GROUPING(cat) = 0 THEN cat
                WHEN GROUPING(grp) = 0 THEN grp
                WHEN GROUPING(merch) = 0 THEN merch
                ELSE '(all)' END AS key,
           {money_sum_sql('amount')} AS sum_amount,
           COALESCE({money_sum_sql('CASE WHEN amount > 0 THEN amount END')}, 0.0) AS sum_income,
           COALESCE({money_sum_sql('CASE WHEN amount < 0 THEN amount END')}, 0.0) AS sum_expense,
           COUNT(*) AS n
    FROM base
    GROUP BY GROUPING SETS ((cat), (grp), (merch), ())
    """,
)
def q_cashflow_report_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship multi-aggregate report (SURVEY.md §3.3:
    get_cashflow runs byCategory + byCategoryGroup + byMerchant +
    summary as four aliased aggregations over ONE filtered scan,
    monarchmoney.py:2264-2328) — expressed the Spark-first way: one
    GROUPING SETS aggregate over the dim-enriched fact. Four sections,
    ONE scan, ONE shuffle; the union-of-four-groupBys alternative scans
    the fact four times. GROUPING() bits route each output row to its
    report section."""
    txns = transactions(spark, sf_dir)
    part = load_table(spark, "part", sf_dir).select(
        F.col("p_partkey").alias("part_key"),
        F.col("p_brand").alias("cat"),
        F.col("p_type").alias("grp"),
    )
    supplier = load_table(spark, "supplier", sf_dir).select(
        F.col("s_suppkey").alias("supp_key"), F.col("s_name").alias("merch")
    )
    base = (
        txns.join(F.broadcast(part), txns.category_id == part.part_key)
        .join(F.broadcast(supplier), txns.merchant_id == supplier.supp_key)
        .select("cat", "grp", "merch", "amount")
    )
    pos = F.when(F.col("amount") > 0, F.col("amount"))
    neg = F.when(F.col("amount") < 0, F.col("amount"))
    gs = base.groupingSets(
        [[F.col("cat")], [F.col("grp")], [F.col("merch")], []],
        F.col("cat"),
        F.col("grp"),
        F.col("merch"),
    ).agg(
        money_sum("amount").alias("sum_amount"),
        F.coalesce(money_sum(pos), F.lit(0.0)).alias("sum_income"),
        F.coalesce(money_sum(neg), F.lit(0.0)).alias("sum_expense"),
        F.count(F.lit(1)).alias("n"),
        F.grouping("cat").cast("int").alias("g_cat"),
        F.grouping("grp").cast("int").alias("g_grp"),
        F.grouping("merch").cast("int").alias("g_merch"),
    )
    return gs.select(
        F.when(F.col("g_cat") == 0, "by_category")
        .when(F.col("g_grp") == 0, "by_category_group")
        .when(F.col("g_merch") == 0, "by_merchant")
        .otherwise("summary")
        .alias("section"),
        # key routed off the grouping bits, not COALESCE across the dim
        # columns: a NULL value in the section's own key column must stay
        # NULL (labelled by its section), not fall through to another
        # dimension's value or '(all)'
        F.when(F.col("g_cat") == 0, F.col("cat"))
        .when(F.col("g_grp") == 0, F.col("grp"))
        .when(F.col("g_merch") == 0, F.col("merch"))
        .otherwise(F.lit("(all)"))
        .alias("key"),
        "sum_amount",
        "sum_income",
        "sum_expense",
        "n",
    )


# --------------------------------------------------------------------------
# Join/set-op completeness: FULL OUTER reconciliation and INTERSECT
# --------------------------------------------------------------------------

_FULL_OUTER_SQL = f"""
WITH booked AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           {money_sum_sql('o_totalprice')}
               AS booked_total,
           COUNT(*) AS n_orders
    FROM orders GROUP BY CAST(o_orderdate AS DATE)
),
shipped AS (
    SELECT CAST(l_shipdate AS DATE) AS d,
           {money_sum_sql('l_extendedprice')}
               AS shipped_total,
           COUNT(*) AS n_shipments
    FROM lineitem GROUP BY CAST(l_shipdate AS DATE)
)
SELECT COALESCE(b.d, s.d) AS d,
       b.booked_total,
       CAST(b.n_orders AS BIGINT) AS n_orders,
       s.shipped_total,
       CAST(s.n_shipments AS BIGINT) AS n_shipments,
       CASE WHEN b.d IS NULL THEN 'shipped_only'
            WHEN s.d IS NULL THEN 'booked_only'
            ELSE 'both' END AS status
FROM booked b FULL OUTER JOIN shipped s ON b.d = s.d
ORDER BY d
"""


@query("full_outer_reconciliation", _FULL_OUTER_SQL)
def q_full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join surface (the one join type the rest of the
    registry didn't exercise): reconcile the booked-per-day ledger
    (orders) against the shipped-per-day ledger (lineitem). Days
    present on only one side keep honest NULLs on the other and are
    labelled booked_only/shipped_only — the standard two-ledger
    reconciliation report, and the join shape MERGE-style pipelines
    use to find both kinds of orphans in one pass (two anti-joins
    would scan both sides twice).

    Scale shape: each side pre-aggregates to its date grain before the
    join, so the full-outer runs on two calendar-sized frames, not the
    facts; totals are exact-decimal sums (hash-stable under any
    partitioning)."""
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    booked = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        money_sum("o_totalprice").alias("booked_total"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    shipped = li.groupBy(F.col("l_shipdate").cast("date").alias("d")).agg(
        money_sum("l_extendedprice").alias("shipped_total"),
        F.count(F.lit(1)).alias("n_shipments"),
    )
    b, s = booked.alias("b"), shipped.alias("s")
    return (
        b.join(s, F.col("b.d") == F.col("s.d"), "full_outer")
        .select(
            F.coalesce(F.col("b.d"), F.col("s.d")).alias("d"),
            "booked_total",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            "shipped_total",
            F.col("n_shipments").cast("bigint").alias("n_shipments"),
            F.when(F.col("b.d").isNull(), "shipped_only")
            .when(F.col("s.d").isNull(), "booked_only")
            .otherwise("both")
            .alias("status"),
        )
        .orderBy("d")
    )


_INTERSECT_SQL = """
SELECT user_id FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
INTERSECT
SELECT user_id FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
ORDER BY user_id
"""


@query("retained_users_intersect", _INTERSECT_SQL)
def q_retained_users_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT surface (completing the set-op family next to
    union/unionByName and exceptAll): users active in BOTH halves of
    the event window — the retention set. The reference client has no
    set operations at all (SURVEY.md §2.7); a warehouse engine needs
    all three.

    Scale shape: Spark plans INTERSECT as distinct + left-semi hash
    join on the already-deduplicated key sets — one shuffle per side
    keyed on user_id, no fact-sized state."""
    events = load_table(spark, "events", sf_dir)
    split = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    first = events.filter(F.col("ts") < split).select("user_id")
    second = events.filter(F.col("ts") >= split).select("user_id")
    return first.intersect(second).orderBy("user_id")


# ==========================================================================
# Signed running balance
# ==========================================================================

#: exact-decimal signed amount — double summation order differs between
#: a range-partitioned two-phase scan and the oracle's single
#: sequential window, so the amount MUST be an order-independent
#: decimal (the money_sum contract, functions/money.py) for the
#: running balance to match bit-for-bit.
_AMOUNT_SQL = f"""CASE WHEN event_type = 'purchase'
         THEN CAST(value AS {MONEY_DECIMAL_SQL})
         ELSE -CAST(value AS {MONEY_DECIMAL_SQL}) END"""

_BALANCE_SQL = f"""
SELECT event_id,
       CAST(SUM({_AMOUNT_SQL}) OVER (
           ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS balance
FROM events
ORDER BY event_id
"""


@query("signed_running_balance", _BALANCE_SQL)
def q_signed_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global running balance over the event stream — purchases
    credit, every other event type debits — ordered by (ts, event_id).

    Scale shape: the oracle's ``SUM() OVER (ORDER BY …)`` is the
    classic single-reducer scale-killer (one global sort partition);
    the Spark side runs ``distributed_prefix_sum`` instead — range
    shuffle + per-partition window + P-row driver offsets
    (operators/prefix.py) — so the plan is P-way parallel at any
    scale. Signed amounts are the point: partition totals are
    SUM(amount), not max-of-prefix, and the amount is exact decimal so
    the two-phase addition order can't drift from the oracle's
    sequential one."""
    from dieter___etl___monarchmoney_spark.operators.prefix import (
        distributed_prefix_sum,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "event_id",
        "ts",
        F.when(
            F.col("event_type") == "purchase",
            F.col("value").cast(MONEY_DECIMAL),
        )
        .otherwise(-F.col("value").cast(MONEY_DECIMAL))
        .alias("amount"),
    )
    out = distributed_prefix_sum(
        ev, ["ts", "event_id"], "amount", "balance", num_ranges=32
    )
    return out.select(
        "event_id", F.col("balance").cast("double").alias("balance")
    ).orderBy("event_id")
