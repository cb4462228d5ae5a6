"""TPC-H and warehouse shapes beyond ``olap.py``: the correlated-subquery
/ decorrelation family (Q4, Q8, Q14, Q15, Q16, Q17, Q21, Q22 shapes),
the remaining TPC-H shapes (Q2, Q7, Q9, Q11, Q12, Q13, Q19, Q20) with
the as-of join, physical-layout audits (bucketed joins, dynamic
partition pruning, sampled estimates) and the exact penny allocation.
All are adapted to the driver star's columns (no commitdate/receiptdate/
partsupp/phone — each docstring states the substitution).

Why the decorrelation shapes matter beyond breadth: every one is a
shape the classic warehouse engines special-case in the OPTIMIZER — EXISTS/NOT EXISTS
(semi/anti join), correlated scalar aggregates (decorrelate to a
grouped join), scalar subqueries against the whole table (broadcast a
1-row frame), and aggregate-of-aggregate ("max over a grouped view").
The Spark forms below express each decorrelation EXPLICITLY as
DataFrame algebra (left_semi / left_anti / groupBy-then-join /
broadcast 1-row), i.e. the plan Catalyst's own subquery decorrelation
would produce — so the physical plan is deterministic and auditable
rather than dependent on rewrite heuristics.

Determinism discipline (same as queries/olap.py): per-row money
products are fixed-shape double arithmetic, every SUM quantizes to
MONEY_DECIMAL first, every AVG is exact-decimal-sum / count, every
ORDER BY ends in a unique tie-break column, and comparisons against a
derived average always compare against the SAME deterministic double
on both engines.

Reference framing: the reference engine (monarchmoney.py GraphQL
client) has no analytic SQL surface; these anchor the repo's claim of
being a general analytics engine over the same star the rest of the
repo maps the reference's entities onto (FIXTURES.md).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.functions.money import (
    MONEY_DECIMAL,
    MONEY_DECIMAL_SQL,
    money_sum,
    money_sum_sql,
)
from dieter___etl___monarchmoney_spark.queries.llm_pipeline import _hexparse_sql
from dieter___etl___monarchmoney_spark.registry import query
from dieter___etl___monarchmoney_spark.sources.materialize import layout_fixture
from dieter___etl___monarchmoney_spark.sources.parquet import load_table, sf_tag
from dieter___etl___monarchmoney_spark.sources.sinks import save_bucketed_table


# --------------------------------------------------------------------------
# Q4 shape — order priority check (EXISTS -> left_semi)
# --------------------------------------------------------------------------

_Q4_START, _Q4_END = "1997-01-01", "1997-07-01"

_Q4_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '{_Q4_START}'
  AND CAST(o_orderdate AS DATE) <  DATE '{_Q4_END}'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("order_priority_check", _Q4_SQL)
def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in a half-year window counted per
    priority when at least one of their lines signals a problem. The
    driver star has no l_commitdate/l_receiptdate, so "late line"
    becomes "returned line" (l_returnflag = 'R') — the EXISTS shape is
    identical.

    Scale shape: the EXISTS is a LEFT SEMI join — Spark never
    materializes the match multiplicity, and the lineitem side is
    pre-filtered to returned lines and pruned to the join key only
    (ReadSchema: 2 columns). The date filter pushes into the orders
    scan; the semi join shuffles on orderkey; the final aggregate moves
    5 groups. No subquery machinery survives into the physical plan."""
    orders = (
        load_table(spark, "orders", sf_dir)
        .filter(
            (F.col("o_orderdate").cast("date") >= F.lit(_Q4_START).cast("date"))
            & (F.col("o_orderdate").cast("date") < F.lit(_Q4_END).cast("date"))
        )
        .select("o_orderkey", "o_orderpriority")
    )
    returned = (
        load_table(spark, "lineitem", sf_dir)
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q14 shape — promotion revenue share (conditional agg over a dim join)
# --------------------------------------------------------------------------

_Q14_START, _Q14_END = "1997-03-01", "1997-04-01"

_Q14_SQL = f"""
SELECT CAST(100.0 * (
         CAST(SUM(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice * (1 - l_discount)
                                 AS {MONEY_DECIMAL_SQL})
                       ELSE CAST(0 AS {MONEY_DECIMAL_SQL}) END) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS {MONEY_DECIMAL_SQL})) AS DOUBLE)
       ) AS DOUBLE) AS promo_revenue_pct,
       COUNT(*) AS n_lineitems
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE CAST(l_shipdate AS DATE) >= DATE '{_Q14_START}'
  AND CAST(l_shipdate AS DATE) <  DATE '{_Q14_END}'
"""


@query("promo_revenue_share", _Q14_SQL)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: the share of one month's revenue earned by
    promotional parts (p_type = 'PROMO'; the driver star's p_type is a
    single word, so equality replaces TPC-H's LIKE 'PROMO%%').

    Scale shape: part is a broadcast dim (key + 1 flag column), the
    month predicate pushes into the lineitem scan, and the whole query
    is one map-side-combinable aggregate producing 1 row. Both sums
    quantize to MONEY_DECIMAL and the ratio divides the two exact
    doubles in the same order on both engines — a ratio of two
    order-independent sums is itself order-independent."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate").cast("date") >= F.lit(_Q14_START).cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit(_Q14_END).cast("date"))
    )
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(MONEY_DECIMAL)
    zero = F.lit(0).cast(MONEY_DECIMAL)
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            (
                F.lit(100.0)
                * (F.sum(promo).cast("double") / F.sum(rev).cast("double"))
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# --------------------------------------------------------------------------
# Q15 shape — top supplier (aggregate-of-aggregate via broadcast max)
# --------------------------------------------------------------------------

_Q15_START, _Q15_END = "1997-01-01", "1997-04-01"

_Q15_SQL = f"""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS {MONEY_DECIMAL_SQL})) AS DOUBLE) AS total_revenue
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '{_Q15_START}'
      AND CAST(l_shipdate AS DATE) <  DATE '{_Q15_END}'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


@query("top_supplier_revenue", _Q15_SQL)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) whose quarterly revenue equals
    the maximum over the per-supplier revenue view — the canonical
    aggregate-of-aggregate (TPC-H phrases it as a view + scalar
    subquery).

    Scale shape: the revenue view is one grouped aggregate over the
    pruned, date-filtered scan (supplier-cardinality output); the
    scalar MAX over it is a 1-row frame broadcast back — NOT a global
    window sort. Equality on total_revenue is equality of two
    identically-derived doubles (exact decimal sums), so the filter
    cannot flake. Supplier is broadcast for the name join."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate").cast("date") >= F.lit(_Q15_START).cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit(_Q15_END).cast("date"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    supp = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q16 shape — part/supplier variety (NOT IN -> left_anti + COUNT DISTINCT)
# --------------------------------------------------------------------------

_Q16_SQL = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#4'
  AND p_type <> 'PROMO'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 50
"""


@query("part_supplier_variety", _Q16_SQL)
def q_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers ship each
    (brand, type, size) bucket, excluding filtered brands/types and a
    NOT-IN supplier blocklist. The driver star has no partsupp, so
    lineitem supplies the part↔supplier pairs, and the "complaints"
    blocklist becomes suppliers with negative account balance.

    Scale shape: NOT IN over a provably non-null key is a LEFT ANTI
    join against a broadcast blocklist (supplier-sized). Part is a
    broadcast dim with the brand/type filters applied BEFORE the
    broadcast. COUNT(DISTINCT supplier) runs as Spark's two-phase
    distinct-aggregate — partial distinct per partition on the
    (group, suppkey) expand, then the final count — never a collect.
    Top-50 with a full column tie-break is TakeOrderedAndProject."""
    li = load_table(spark, "lineitem", sf_dir).select("l_partkey", "l_suppkey")
    part = (
        load_table(spark, "part", sf_dir)
        .filter((F.col("p_brand") != "Brand#4") & (F.col("p_type") != "PROMO"))
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    blocked = (
        load_table(spark, "supplier", sf_dir)
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(blocked, li.l_suppkey == blocked.s_suppkey, "left_anti")
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
        .limit(50)
    )


# --------------------------------------------------------------------------
# Q17 shape — small-quantity revenue (correlated AVG -> grouped join)
# --------------------------------------------------------------------------

_Q17_SQL = f"""
WITH part_avg AS (
    SELECT l_partkey,
           {money_sum_sql('l_quantity')}
               / COUNT(*) AS avg_qty
    FROM lineitem GROUP BY l_partkey
)
SELECT {money_sum_sql('l_extendedprice')} / 7.0
           AS avg_yearly,
       COUNT(*) AS n_small_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN part_avg USING (l_partkey)
WHERE p_brand = 'Brand#4' AND l_quantity < 0.5 * avg_qty
"""


@query("small_quantity_revenue", _Q17_SQL)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue that would be lost by refusing
    small-quantity orders — each line compares against HALF THE AVERAGE
    QUANTITY OF ITS OWN PART, TPC-H's canonical correlated scalar
    aggregate. Decorrelated explicitly: the per-part average is a
    grouped aggregate joined back on partkey (exactly what Catalyst's
    RewriteCorrelatedScalarSubquery produces).

    Determinism: the averages the filter compares against are
    exact-decimal sums over counts — bit-identical doubles in both
    engines, so the `< 0.5*avg` boundary can never flip a row. The SQL
    oracle intentionally writes the SAME decorrelated form (DuckDB
    would decorrelate the TPC-H original to it anyway).

    Scale shape: per-part averages are fact-cardinality-reduced to part
    cardinality before the join; the brand filter prunes via the
    broadcast part dim; final output is 1 row. The avg join shuffles
    on partkey — co-partitioned with the fact's natural access path
    (at 100 TB both sides bucket by partkey and the shuffle vanishes)."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part_avg = li.groupBy("l_partkey").agg(
        (money_sum("l_quantity") / F.count(F.lit(1))).alias(
            "avg_qty"
        )
    )
    brand = (
        load_table(spark, "part", sf_dir)
        .filter(F.col("p_brand") == "Brand#4")
        .select("p_partkey")
    )
    return (
        li.join(F.broadcast(brand), F.col("p_partkey") == F.col("l_partkey"))
        .join(part_avg, "l_partkey")
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            (money_sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small_lines"),
        )
    )


# --------------------------------------------------------------------------
# Q21 shape — suppliers who kept orders waiting (EXISTS + NOT EXISTS)
# --------------------------------------------------------------------------

_Q21_SQL = """
WITH li2 AS (
    SELECT l_orderkey, l_suppkey,
           (CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE)
            + INTERVAL 60 DAY) AS late
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE o_orderstatus = 'F'
),
per_order AS (
    SELECT l_orderkey,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late,
           MAX(CASE WHEN late THEN l_suppkey END) AS sole_late_supp
    FROM li2 GROUP BY l_orderkey
)
SELECT s_suppkey, s_name, COUNT(*) AS numwait
FROM per_order JOIN supplier ON s_suppkey = sole_late_supp
WHERE n_supp > 1 AND n_late = 1
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
LIMIT 20
"""


@query("waiting_orders_suppliers", _Q21_SQL)
def q_waiting_orders_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    finished multi-supplier order. TPC-H writes it as EXISTS (another
    supplier on the order) AND NOT EXISTS (another LATE supplier);
    with no receipt/commit dates, "late" is shipped > 60 days after
    the order date.

    Decorrelation: both correlated quantifiers collapse into ONE
    grouped aggregate per order — count distinct suppliers, count
    distinct late suppliers, and (because n_late = 1 is enforced in
    the filter) MAX(late supplier) is exactly that sole supplier. One
    pass, no self-join of the fact against itself per quantifier —
    strictly better than the textbook double-EXISTS plan and available
    to any engine once decorrelated.

    Scale shape: lineitem ⋈ orders shuffles on orderkey; the per-order
    aggregate reuses that clustering (no second shuffle); the supplier
    name join is a broadcast; the top-20 is TakeOrderedAndProject with
    a unique tie-break."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    late = F.col("l_shipdate").cast("date") > F.date_add(
        F.col("o_orderdate").cast("date"), 60
    )
    per_order = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("l_orderkey", "l_suppkey", late.alias("late"))
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(
                F.when(F.col("late"), F.col("l_suppkey"))
            ).alias("n_late"),
            F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias(
                "sole_late_supp"
            ),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    supp = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_name")
    return (
        per_order.join(
            F.broadcast(supp), F.col("s_suppkey") == F.col("sole_late_supp")
        )
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q22 shape — idle customer outreach (scalar avg + NOT EXISTS anti join)
# --------------------------------------------------------------------------

_Q22_CUTOFF = "1999-01-01"
_Q22_NATIONS = (0, 2, 4, 6, 8)

_Q22_SQL = f"""
WITH avg_bal AS (
    SELECT {money_sum_sql('c_acctbal')} / COUNT(*)
               AS ab
    FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey, COUNT(*) AS numcust,
       {money_sum_sql('c_acctbal')} AS totacctbal
FROM customer, avg_bal
WHERE c_nationkey IN {_Q22_NATIONS!r}
  AND c_acctbal > ab
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND CAST(o_orderdate AS DATE) >= DATE '{_Q22_CUTOFF}')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


@query("idle_customer_outreach", _Q22_SQL)
def q_idle_customer_outreach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: wealthy-but-idle customers per country —
    acctbal above the global positive-balance average (scalar
    subquery), in a target nation list, with NO recent orders
    (NOT EXISTS). The driver star has no c_phone, so the country-code
    substring becomes c_nationkey membership; "has never placed an
    order" relaxes to "no order since {_Q22_CUTOFF}" so the predicate
    is selective rather than empty on the generated data.

    Scale shape: the scalar average is a 1-row broadcast (exact
    decimal sum / count, so the > boundary is bit-stable); NOT EXISTS
    is a LEFT ANTI join against recent orders pruned to the customer
    key; the final aggregate moves one row per nation. At 100 TB the
    anti join shuffles both sides on custkey — the same co-partitioning
    the enrichment joins already use."""
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (money_sum("c_acctbal") / F.count(F.lit(1))).alias(
            "ab"
        )
    )
    recent = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderdate").cast("date") >= F.lit(_Q22_CUTOFF).cast("date"))
        .select("o_custkey")
    )
    return (
        cust.filter(F.col("c_nationkey").isin(list(_Q22_NATIONS)))
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            money_sum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------
# Q8 shape — market share trend (two-level conditional aggregate)
# --------------------------------------------------------------------------

_Q8_NATION = 7
_Q8_REGION = "ASIA"

_Q8_SQL = f"""
WITH all_rev AS (
    SELECT EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS o_year,
           CAST(l_extendedprice * (1 - l_discount) AS {MONEY_DECIMAL_SQL}) AS volume,
           s_nationkey
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation   ON n_nationkey = c_nationkey
    JOIN region   ON r_regionkey = n_regionkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE r_name = '{_Q8_REGION}'
      AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01'
                                        AND DATE '1997-12-31'
)
SELECT o_year,
       CAST(CAST(SUM(CASE WHEN s_nationkey = {_Q8_NATION} THEN volume
                          ELSE CAST(0 AS {MONEY_DECIMAL_SQL}) END) AS DOUBLE)
            / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share,
       COUNT(*) AS n_lineitems
FROM all_rev
GROUP BY o_year
ORDER BY o_year
"""


@query("market_share_trend", _Q8_SQL)
def q_market_share_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: nation {_Q8_NATION}'s share of revenue shipped
    into the {_Q8_REGION} customer region, per year — the 6-way
    snowflake join feeding a conditional-share aggregate.

    Scale shape: region/nation/supplier/customer are all
    broadcast-eligible dims (region+nation hinted; the region filter
    prunes nation BEFORE the fact join sees it); the one fact-fact
    shuffle is lineitem ⋈ orders on orderkey with the 2-year date
    window pushed into the orders scan. The share is a ratio of two
    exact-decimal sums per year — order-independent."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = (
        load_table(spark, "orders", sf_dir)
        .filter(
            F.col("o_orderdate")
            .cast("date")
            .between(F.lit("1996-01-01").cast("date"), F.lit("1997-12-31").cast("date"))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    nation = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_regionkey")
    region = (
        load_table(spark, "region", sf_dir)
        .filter(F.col("r_name") == _Q8_REGION)
        .select("r_regionkey")
    )
    supp = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(MONEY_DECIMAL)
    zero = F.lit(0).cast(MONEY_DECIMAL)
    nat_vol = F.when(F.col("s_nationkey") == _Q8_NATION, vol).otherwise(zero)
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy(
            F.year(F.col("o_orderdate").cast("date")).cast("long").alias("o_year")
        )
        .agg(
            (F.sum(nat_vol).cast("double") / F.sum(vol).cast("double")).alias(
                "mkt_share"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("o_year")
    )


# ==========================================================================
# Bucketed joins: zero-exchange physical layout
# ==========================================================================

_N_BUCKETS = 8

_BUCKETED_SQL = f"""
WITH li_agg AS (
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS {MONEY_DECIMAL_SQL})) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem GROUP BY l_orderkey
)
SELECT o_orderpriority,
       {money_sum_sql('revenue')} AS total_revenue,
       CAST(SUM(n_lines) AS BIGINT) AS total_lines,
       COUNT(*) AS n_orders
FROM li_agg JOIN orders ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize the per-order revenue aggregate and the orders
    projection as BUCKETED, SORTED tables on the shared join key —
    the write-once layout that amortizes the orderkey shuffle across
    every downstream join. Returns the (lineitem_agg, orders) table
    names (md5-suffixed per sf_dir so scale factors never collide).

    Layout contract (``sinks.save_bucketed_table``): same bucket count
    and same single bucket column on both sides, one file per bucket
    sorted on the key — exactly what Spark requires to plan
    SortMergeJoin with NO Exchange and NO per-task Sort on either
    side."""
    tag = sf_tag(sf_dir)
    li_tbl, ord_tbl = f"li_by_order_{tag}", f"orders_by_order_{tag}"
    # The table DIRECTORY outlives the in-memory catalog (a fresh
    # session forgets the table but the files remain), so drop both the
    # catalog entry AND any orphaned files before writing.
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).path
    for tbl in (li_tbl, ord_tbl):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(f"{wh}/{tbl}", ignore_errors=True)
    li_agg = (
        load_table(spark, "lineitem", sf_dir)
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    MONEY_DECIMAL
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    save_bucketed_table(li_agg, li_tbl, f"{wh}/{li_tbl}", "l_orderkey", _N_BUCKETS)
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderpriority"
    )
    save_bucketed_table(orders, ord_tbl, f"{wh}/{ord_tbl}", "o_orderkey", _N_BUCKETS)
    return li_tbl, ord_tbl


def bucketed_join(spark: SparkSession, li_tbl: str, ord_tbl: str) -> DataFrame:
    """The shuffle-free fact join over the bucketed layout (exposed
    separately from the aggregate so the plan test can pin ZERO
    Exchange operators on the join itself)."""
    return spark.table(li_tbl).join(
        spark.table(ord_tbl),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )


@query("bucketed_join_audit", _BUCKETED_SQL)
def q_bucketed_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end bucketing audit: write both join sides bucketed+sorted
    on the order key, join them, and roll revenue up to order priority.

    Scale shape — the point of the query: the join plans with NO
    Exchange and NO Sort on either side (bucket-pruned SortMergeJoin
    over co-located buckets; pinned by tests/test_plans.py); the only
    shuffle in the whole plan is the final 5-group rollup. At 100 TB
    this is the difference between re-shuffling the fact for every
    join and paying the shuffle ONCE at layout time — the same trade
    the repo's incremental windows make for writes. Bucket count is 8
    at demo scale; production sizes buckets to ~executor-memory-sized
    splits of the fact (and bucket counts must match across tables,
    so it is a LAYOUT-TIME contract, not a per-query knob)."""
    li_tbl, ord_tbl = bucketed_tables(spark, sf_dir)
    return (
        bucketed_join(spark, li_tbl, ord_tbl)
        .groupBy("o_orderpriority")
        .agg(
            money_sum("revenue")
            .alias("total_revenue"),
            F.sum("n_lines").alias("total_lines"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


# ==========================================================================
# TPC-H Q2, Q7, Q9, Q11, Q12, Q13, Q19, Q20 shapes and the as-of join
# ==========================================================================

def _rev() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# --------------------------------------------------------------------------
# Q7 shape — bilateral nation trade flows (dual-role dimension)
# --------------------------------------------------------------------------

_Q7_A, _Q7_B = "NATION_1", "NATION_2"

_Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       {money_sum_sql('volume')} AS revenue
FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           YEAR(CAST(l_shipdate AS DATE)) AS l_year,
           l_extendedprice * (1 - l_discount) AS volume
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey  = l_suppkey
    JOIN customer ON c_custkey  = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE ((n1.n_name = '{_Q7_A}' AND n2.n_name = '{_Q7_B}')
        OR (n1.n_name = '{_Q7_B}' AND n2.n_name = '{_Q7_A}'))
      AND CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01'
                                       AND DATE '1997-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@query("nation_trade_flows", _Q7_SQL)
def q_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue shipped between two named nations, in
    both directions, by year. The same ``nation`` dimension plays TWO
    roles (supplier's nation, customer's nation) — the classic aliased
    dual-dim join.

    Scale shape: both nation lookups broadcast; the nation filter is
    applied to EACH alias before its join, so supplier and customer
    shrink to the two nations' slices before touching the facts (the
    single-side implication of the symmetric OR — Spark cannot derive
    it from the pair predicate, so we push it by construction; the
    residual OR keeps only the cross pairs). The one real shuffle is
    lineitem ⋈ orders on orderkey; the pair filter then drops
    everything outside the two nations via broadcast hash lookups."""
    pair = (_Q7_A, _Q7_B)
    nation = load_table(spark, "nation", sf_dir).filter(
        F.col("n_name").isin(*pair)
    )
    supp = (
        load_table(spark, "supplier", sf_dir)
        .join(
            F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        load_table(spark, "customer", sf_dir)
        .join(
            F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "cust_nation")
    )
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate")
        .cast("date")
        .between(F.lit("1996-01-01").cast("date"), F.lit("1997-12-31").cast("date"))
    )
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year(F.col("l_shipdate").cast("date")).alias("l_year"),
        )
        .agg(money_sum(_rev()).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# Q9 shape — product-line profit by supplier nation and year
# --------------------------------------------------------------------------

#: the star has no partsupp: supply cost is modeled as 60% of the
#: part's retail price — a fixed, deterministic stand-in for
#: ps_supplycost that preserves the arithmetic shape of the profit
#: expression (revenue minus quantity-scaled cost).
_Q9_COST_FACTOR = "0.6"

_Q9_SQL = f"""
SELECT nation, o_year,
       {money_sum_sql('amount')} AS sum_profit
FROM (
    SELECT n_name AS nation,
           YEAR(CAST(o_orderdate AS DATE)) AS o_year,
           l_extendedprice * (1 - l_discount)
             - {_Q9_COST_FACTOR} * p_retailprice * l_quantity AS amount
    FROM lineitem
    JOIN part     ON p_partkey  = l_partkey
    JOIN supplier ON s_suppkey  = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%widget%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


@query("product_type_profit", _Q9_SQL)
def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — the widest join tree in the suite: lineitem ⋈
    part ⋈ supplier ⋈ orders ⋈ nation, profit per supplier nation per
    order year for one product line (p_name contains 'widget'; supply
    cost substituted as 0.6·p_retailprice, see _Q9_COST_FACTOR).

    Scale shape: part is filtered by the name predicate BEFORE its join
    and broadcast — at 100 TB the filtered part slice (one product
    line) still broadcasts, and joining it first shrinks lineitem by
    ~the selectivity of the line. supplier and nation broadcast. The
    only big shuffle is the join to orders on orderkey; the aggregate
    output is nations × years. Per-line profit quantizes to decimal
    before the SUM so the sign-mixed amounts cancel identically on
    both engines."""
    part = (
        load_table(spark, "part", sf_dir)
        .filter(F.col("p_name").contains("widget"))
        .select("p_partkey", "p_retailprice")
    )
    supp = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    nation = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderdate")
    li = load_table(spark, "lineitem", sf_dir)
    amount = _rev() - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(F.col("o_orderdate").cast("date")).alias("o_year"),
        )
        .agg(money_sum(amount).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


# --------------------------------------------------------------------------
# Q11 shape — important stock (HAVING against a global scalar)
# --------------------------------------------------------------------------

_Q11_REGION = "ASIA"
_Q11_FRACTION = "0.001"

_Q11_SQL = f"""
WITH slice AS (
    SELECT l_partkey,
           CAST(l_extendedprice * (1 - l_discount) AS {MONEY_DECIMAL_SQL}) AS v
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN region   ON r_regionkey = n_regionkey
    WHERE r_name = '{_Q11_REGION}'
),
per_part AS (
    SELECT l_partkey AS p_partkey, CAST(SUM(v) AS DOUBLE) AS part_value
    FROM slice GROUP BY l_partkey
),
total AS (SELECT CAST(SUM(v) AS DOUBLE) AS total_value FROM slice)
SELECT p_partkey, part_value
FROM per_part, total
WHERE part_value > {_Q11_FRACTION} * total_value
ORDER BY part_value DESC, p_partkey
"""


@query("important_part_stock", _Q11_SQL)
def q_important_part_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose value within one region's supplier
    slice exceeds a fraction of the slice's total — the
    HAVING-against-a-global-scalar pattern. The star has no partsupp,
    so "stock value" is the shipped revenue of the region's suppliers.

    Scale shape: region→nation→supplier collapses to a broadcast
    key-set that prefilters lineitem at the scan-adjacent join; the
    per-part aggregate is one map-side-combinable shuffle, and the
    global total is the SAME aggregate re-reduced (Spark computes it
    as a 1-row frame broadcast into the comparison — no second scan of
    the fact, no correlated subquery at runtime). Both the per-part
    values and the total are exact-decimal sums, and the threshold
    multiplication happens identically on both engines."""
    region = load_table(spark, "region", sf_dir).filter(
        F.col("r_name") == _Q11_REGION
    )
    nation = load_table(spark, "nation", sf_dir).join(
        F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey")
    )
    supp = (
        load_table(spark, "supplier", sf_dir)
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_suppkey")
    )
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey", "l_suppkey", _rev().cast(MONEY_DECIMAL).alias("v")
    )
    slice_df = li.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
    per_part = (
        slice_df.groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum("v").alias("dv"))
        .select("p_partkey", F.col("dv").cast("double").alias("part_value"), "dv")
    )
    # re-reduce the per-part partials into the global total: one extra
    # single-row stage over an already-aggregated frame, not a rescan
    total = per_part.agg(F.sum("dv").cast("double").alias("total_value"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.lit(float(_Q11_FRACTION)) * F.col("total_value"))
        .select("p_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "p_partkey")
    )


# --------------------------------------------------------------------------
# Q12 shape — shipping-speed classes vs order priority
# --------------------------------------------------------------------------

_Q12_SQL = """
SELECT delay_class,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM (
    SELECT o_orderpriority,
           CASE WHEN DATEDIFF('day', CAST(o_orderdate AS DATE),
                              CAST(l_shipdate AS DATE)) <= 30
                THEN 'FAST' ELSE 'SLOW' END AS delay_class
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) <  DATE '1998-01-01'
) classified
GROUP BY delay_class
ORDER BY delay_class
"""


@query("ship_delay_mode_counts", _Q12_SQL)
def q_ship_delay_mode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: lines shipped in 1997 classified into speed
    classes (the star has no l_shipmode/receiptdate, so the "mode"
    becomes ship-delay ≤ 30 days vs slower), counting high- vs
    low-priority orders per class — join then conditional two-way
    pivot-by-CASE.

    Scale shape: the year predicate pushes into the lineitem scan
    BEFORE the join (the join input is one year of lines, not the
    fact); orders arrives pruned to (key, priority, date); one
    orderkey shuffle, then a 2-group map-side-combinable aggregate.
    DATEDIFF on date-cast columns is integer arithmetic on both
    engines — no timezone surface."""
    li = (
        load_table(spark, "lineitem", sf_dir)
        .filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1997-01-01").cast("date"))
            & (F.col("l_shipdate").cast("date") < F.lit("1998-01-01").cast("date"))
        )
        .select("l_orderkey", "l_shipdate")
    )
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    delay = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.when(delay <= 30, "FAST").otherwise("SLOW").alias("delay_class"),
            hi.alias("hi"),
        )
        .groupBy("delay_class")
        .agg(
            F.sum(F.when(F.col("hi"), 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~F.col("hi"), 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("delay_class")
    )


# --------------------------------------------------------------------------
# Q13 shape — customer order-count distribution (outer-join histogram)
# --------------------------------------------------------------------------

_Q13_EXCLUDE = "4-NOT SPECIFIED"

_Q13_SQL = f"""
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer
    LEFT JOIN orders ON o_custkey = c_custkey
                    AND o_orderpriority <> '{_Q13_EXCLUDE}'
    GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@query("customer_order_distribution", _Q13_SQL)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of per-customer order counts,
    EXCLUDING one order class via a predicate INSIDE the outer join
    (the star has no o_comment, so the NOT LIKE becomes an
    orderpriority exclusion) — customers with zero qualifying orders
    must still appear with c_count = 0, which is why the filter cannot
    move to a WHERE.

    Scale shape: the exclusion prunes orders BEFORE the join (a
    one-sided predicate inside an outer join's ON is pushable to the
    non-preserved side — Spark pushes it; a WHERE would not be
    equivalent). The custkey join is the one fact shuffle; COUNT per
    customer combines map-side; the second aggregate moves at most
    max(c_count) groups. The histogram re-aggregation is tiny by
    construction."""
    cust = load_table(spark, "customer", sf_dir).select("c_custkey")
    orders = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderpriority") != _Q13_EXCLUDE)
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --------------------------------------------------------------------------
# Q2 shape — minimum-cost supplier (correlated MIN decorrelated)
# --------------------------------------------------------------------------

#: TPC-H filters on p_size = N AND p_type LIKE '%BRASS'; this star's
#: p_type is a single word and its parts are ~40× fewer per
#: (size, type) cell, so the size band keeps the result set populated
#: while preserving the equality-style dim prefilter.
_Q2_SIZE_LO, _Q2_SIZE_HI = 11, 15
_Q2_REGION = "EUROPE"

_Q2_SQL = f"""
WITH offers AS (
    SELECT l_partkey, l_suppkey,
           MIN(l_extendedprice / l_quantity) AS unit_cost
    FROM lineitem
    GROUP BY l_partkey, l_suppkey
),
eligible AS (
    SELECT o.l_partkey, o.l_suppkey, o.unit_cost,
           s_name, s_acctbal, n_name
    FROM offers o
    JOIN supplier ON s_suppkey = o.l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN region   ON r_regionkey = n_regionkey
    JOIN part     ON p_partkey = o.l_partkey
    WHERE r_name = '{_Q2_REGION}'
      AND p_size BETWEEN {_Q2_SIZE_LO} AND {_Q2_SIZE_HI}
),
best AS (
    SELECT l_partkey, MIN(unit_cost) AS best_cost
    FROM eligible GROUP BY l_partkey
)
SELECT e.s_acctbal, e.s_name, e.n_name,
       e.l_partkey AS p_partkey, e.l_suppkey AS s_suppkey,
       e.unit_cost
FROM eligible e
JOIN best b ON b.l_partkey = e.l_partkey AND e.unit_cost = b.best_cost
ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, e.l_partkey, e.l_suppkey
"""


@query("min_cost_supplier", _Q2_SQL)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the region supplier
    offering it at the lowest unit cost. The star has no partsupp, so
    the offer book derives from shipment history: unit_cost =
    min(l_extendedprice / l_quantity) per (part, supplier).

    The correlated scalar subquery (`ps_supplycost = (SELECT MIN ...
    WHERE ps_partkey = p_partkey ...)`) is decorrelated EXPLICITLY:
    group the eligible offers per part for the minimum, then join the
    minimum back on (partkey, cost) — the same two-phase plan Catalyst
    derives for correlated scalar aggregates, stated as algebra.

    Scale shape: the offers aggregate is one (part,supp) shuffle of
    the fact; part/supplier/nation/region prefilters all broadcast
    (p_size+p_type cut part to ~1/300; the region cut supplier before
    its join). `best` re-aggregates the already-small eligible frame
    and broadcasts back. Double DIVISION (not summation) feeds the
    MINs, so order-independence holds exactly; the equality join on
    unit_cost compares bit-identical doubles computed by the same IEEE
    expression on both engines."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("uc"),
    )
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("uc").alias("unit_cost")
    )
    region = load_table(spark, "region", sf_dir).filter(F.col("r_name") == _Q2_REGION)
    nation = load_table(spark, "nation", sf_dir).join(
        F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey")
    )
    supp = load_table(spark, "supplier", sf_dir).join(
        F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey")
    )
    part = load_table(spark, "part", sf_dir).filter(
        F.col("p_size").between(_Q2_SIZE_LO, _Q2_SIZE_HI)
    )
    eligible = (
        offers.join(F.broadcast(part.select("p_partkey")),
                    F.col("p_partkey") == F.col("l_partkey"))
        .join(
            F.broadcast(supp.select("s_suppkey", "s_name", "s_acctbal", "n_name")),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .select("l_partkey", "l_suppkey", "unit_cost", "s_name", "s_acctbal", "n_name")
    )
    best = eligible.groupBy(F.col("l_partkey").alias("bk")).agg(
        F.min("unit_cost").alias("best_cost")
    )
    return (
        eligible.join(
            F.broadcast(best),
            (F.col("bk") == F.col("l_partkey"))
            & (F.col("unit_cost") == F.col("best_cost")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_suppkey").alias("s_suppkey"),
            "unit_cost",
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey", "s_suppkey"
        )
    )


# --------------------------------------------------------------------------
# Q19 shape — disjunctive predicate revenue (OR-of-ANDs derivation)
# --------------------------------------------------------------------------

_Q19_SQL = f"""
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS {MONEY_DECIMAL_SQL})) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 50)
"""


@query("disjunctive_promo_revenue", _Q19_SQL)
def q_disjunctive_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from three OR'd brand/size/quantity
    band combinations — the canonical disjunctive-predicate query.

    Scale shape: the OR references BOTH sides, so no engine can push
    it through the join as-is; the classic optimization is deriving
    each side's IMPLIED disjunction. We state both derivations
    explicitly: part is pre-filtered with (brand12∧size∈[1,15]) ∨
    (brand23∧size∈[10,30]) ∨ (brand3∧size∈[20,50]) — reaching the
    part scan as a pushed filter — and lineitem with the quantity
    hull l_quantity ∈ [1,50]; the exact OR evaluates as the residual
    AFTER the (broadcast) join. Result: the join's build side is three
    brand slices instead of all of part, the probe side skips rows
    outside the quantity hull, and the residual runs on the small
    joined stream. One 1-row aggregate, exact-decimal revenue."""
    b12 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    b23 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 30)
    )
    b3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 50)
    )
    part_side = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50))
    )
    part = (
        load_table(spark, "part", sf_dir)
        .filter(part_side)
        .select("p_partkey", "p_brand", "p_size")
    )
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_quantity").between(1, 50)
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .filter(b12 | b23 | b3)
        .agg(
            money_sum(_rev()).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Q20 shape — dominant suppliers of a product line (semi-join cascade)
# --------------------------------------------------------------------------

_Q20_NATION = "NATION_3"
_Q20_PREFIX = "red "
_Q20_YEAR_START, _Q20_YEAR_END = "1997-01-01", "1998-01-01"

_Q20_SQL = f"""
WITH red_parts AS (
    SELECT p_partkey FROM part WHERE p_name LIKE '{_Q20_PREFIX}%'
),
shipped AS (
    SELECT l_partkey, l_suppkey, SUM(l_quantity) AS supp_qty
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '{_Q20_YEAR_START}'
      AND CAST(l_shipdate AS DATE) <  DATE '{_Q20_YEAR_END}'
      AND l_partkey IN (SELECT p_partkey FROM red_parts)
    GROUP BY l_partkey, l_suppkey
),
part_total AS (
    SELECT l_partkey, SUM(supp_qty) AS total_qty
    FROM shipped GROUP BY l_partkey
),
dominant AS (
    SELECT DISTINCT s.l_suppkey
    FROM shipped s
    JOIN part_total t ON t.l_partkey = s.l_partkey
    WHERE s.supp_qty > 0.5 * t.total_qty
)
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
WHERE n_name = '{_Q20_NATION}'
  AND s_suppkey IN (SELECT l_suppkey FROM dominant)
ORDER BY s_name
"""


@query("dominant_supplier_parts", _Q20_SQL)
def q_dominant_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation who DOMINATE the 1997
    supply of some red part (shipped more than half that part's total
    for the year). The star has no partsupp/availqty, so TPC-H's
    "stock exceeding half the shipped quantity" becomes "share of the
    part's shipped quantity exceeding half" — preserving the
    correlated-aggregate-threshold + nested-semi-join cascade.

    Scale shape: the part filter broadcasts into the fact scan (semi
    join on the red slice); the per-(part,supplier) aggregate is one
    shuffle; the per-part total RE-REDUCES that aggregate (no second
    fact pass) and joins back on partkey; the dominance filter's
    survivors collapse via DISTINCT into a supplier key set that semi
    joins the (broadcast-small) nation slice of supplier. Quantity
    sums are integral doubles — exact in any order — so the 0.5·total
    comparison is deterministic on both engines."""
    red = (
        load_table(spark, "part", sf_dir)
        .filter(F.col("p_name").startswith(_Q20_PREFIX))
        .select("p_partkey")
    )
    li = (
        load_table(spark, "lineitem", sf_dir)
        .filter(
            (F.col("l_shipdate").cast("date") >= F.lit(_Q20_YEAR_START).cast("date"))
            & (F.col("l_shipdate").cast("date") < F.lit(_Q20_YEAR_END).cast("date"))
        )
        .join(F.broadcast(red), F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("supp_qty")
    )
    part_total = shipped.groupBy(F.col("l_partkey").alias("tk")).agg(
        F.sum("supp_qty").alias("total_qty")
    )
    dominant = (
        shipped.join(F.broadcast(part_total), F.col("tk") == F.col("l_partkey"))
        .filter(F.col("supp_qty") > F.lit(0.5) * F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    nation = load_table(spark, "nation", sf_dir).filter(
        F.col("n_name") == _Q20_NATION
    )
    supp = load_table(spark, "supplier", sf_dir).join(
        F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey")
    )
    return (
        supp.join(dominant, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


# --------------------------------------------------------------------------
# AS-OF join — most recent prior state, zero joins
# --------------------------------------------------------------------------

_ASOF_SQL = """
SELECT a.event_id,
       a.user_id,
       epoch_us(a.ts) AS purchase_us,
       epoch_us(b.ts) AS signup_us,
       b.value AS signup_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') a
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') b
  ON a.user_id = b.user_id AND a.ts >= b.ts
ORDER BY a.event_id
"""


@query("asof_last_signup", _ASOF_SQL)
def q_asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each purchase enriched with the SAME USER'S most
    recent signup at or before it (LEFT: purchases with no prior
    signup keep NULLs). The oracle is DuckDB's native ``ASOF LEFT
    JOIN`` — the one query in the repo validated against an engine's
    built-in as-of operator rather than a rewrite of our own.

    Spark has no ASOF join; the scalable form is NOT a join at all:
    UNION the two sides with a side tag, sort each user's timeline
    once, and carry the last signup forward with
    last(..., ignorenulls=True) over rows UNBOUNDED PRECEDING..CURRENT.
    Cost: ONE shuffle on user_id and a linear pass — no range
    explosion, no per-row probe, and skew degrades to sorting one
    user's events. The tag orders signup BEFORE purchase at equal
    timestamps so the join's `>=` (inclusive) semantics hold exactly.
    The alternative (bucketed range join) pays a shuffle per side plus
    candidate multiplication; the union-scan form is what survives
    100 TB event tables. Timestamps cross the hash boundary as epoch
    micros (the sessionization lesson, VERDICT r2)."""
    ev = load_table(spark, "events", sf_dir)
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("ats"),
        F.lit(0).alias("side"),
        F.lit(None).cast("string").alias("event_id"),
        F.col("ts").alias("b_ts"),
        F.col("value").alias("b_value"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("ats"),
        F.lit(1).alias("side"),
        "event_id",
        F.lit(None).cast("timestamp").alias("b_ts"),
        F.lit(None).cast("double").alias("b_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ats", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    timeline = signups.unionByName(purchases).select(
        "user_id",
        "ats",
        "side",
        "event_id",
        F.last("b_ts", ignorenulls=True).over(w).alias("signup_ts"),
        F.last("b_value", ignorenulls=True).over(w).alias("signup_value"),
    )
    return (
        timeline.filter(F.col("side") == 1)
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ats").alias("purchase_us"),
            F.unix_micros("signup_ts").alias("signup_us"),
            "signup_value",
        )
        .orderBy("event_id")
    )


# ==========================================================================
# Physical execution: dynamic partition pruning and sampled estimates
# ==========================================================================

# --------------------------------------------------------------------------
# Dynamic partition pruning over a date-partitioned events copy
# --------------------------------------------------------------------------

_DPP_TOP_DAYS = 3

#: "busy days" = days whose event count reaches the 3rd-highest count —
#: a threshold FILTER (not a LIMIT) because Spark's DPP insertion
#: requires a selective predicate on the dimension side; ties beyond
#: three days are included identically by both engines.
_DPP_SQL = f"""
WITH counts AS (
    SELECT CAST(ts AS DATE) AS event_date, COUNT(*) AS n
    FROM events GROUP BY 1
),
th AS (
    SELECT n AS threshold FROM counts
    ORDER BY n DESC LIMIT 1 OFFSET {_DPP_TOP_DAYS - 1}
),
busy AS (
    SELECT event_date FROM counts, th WHERE n >= threshold
)
SELECT e.event_date,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {money_sum_sql('e.value')} AS total_value
FROM (SELECT CAST(ts AS DATE) AS event_date, value FROM events) e
JOIN busy t ON t.event_date = e.event_date
GROUP BY e.event_date
ORDER BY e.event_date
"""


def _partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """A copy of events partitioned by event_date — the layout a
    warehouse would maintain; cached across invocations because the
    partitioned copy IS the fixture, not the operator under test
    (``materialize.layout_fixture`` rebuilds it when events change)."""

    def build(out: str) -> None:
        (
            load_table(spark, "events", sf_dir)
            .withColumn("event_date", F.col("ts").cast("date"))
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(out)
        )

    return layout_fixture(sf_dir, "events_bydate", build)


@query("dpp_top_days_rollup", _DPP_SQL)
def q_dpp_top_days_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact is a DATE-PARTITIONED copy
    of events; the dimension — the busiest days — exists only at
    RUNTIME (it is itself an aggregate of the fact), so no static
    rewrite can prune the scan. With DPP the broadcast of the dim
    seeds a subquery filter on the fact's partition column and the
    scan reads the surviving directories instead of all of them; the
    plan test pins the ``dynamicpruning`` expression.

    Two DPP-triggering details, both learned from the plan: (a) the
    dim needs a selective FILTER predicate — a LIMIT-top-k dim does
    not qualify for Spark's insertion heuristic, so "top 3" becomes
    "count >= 3rd-highest count" with the threshold collected as an
    O(1) driver scalar; (b) the filter column (n) must differ from
    the join column (event_date), otherwise constraint propagation
    turns the pruning static.

    Scale shape: THE mechanism that makes date-partitioned 100 TB
    facts queryable — join-driven partition elimination. The dim is a
    date-cardinality aggregate (broadcast); the pruned scan reads
    |busy days| partitions; the final rollup is map-side-combinable
    with exact-decimal sums. The partitioned copy is a per-sf cached
    fixture (layout, not computation)."""
    part_dir = _partitioned_events(spark, sf_dir)
    fact = spark.read.parquet(part_dir)
    counts = fact.groupBy("event_date").agg(F.count(F.lit(1)).alias("n"))
    # 3rd-highest daily count: bounded driver read (one scalar from a
    # date-cardinality aggregate), baked in as a literal so the dim
    # subtree is Aggregate+Filter — the shape DPP's heuristic accepts.
    # Mirror the oracle's OFFSET semantics exactly: fewer than
    # _DPP_TOP_DAYS distinct days means the threshold row does not
    # exist and the busy set is EMPTY (not "all days").
    tops = [r.n for r in counts.orderBy(F.col("n").desc()).limit(_DPP_TOP_DAYS).collect()]
    if len(tops) < _DPP_TOP_DAYS:
        busy = counts.filter(F.lit(False)).select(F.col("event_date").alias("d"))
    else:
        busy = counts.filter(F.col("n") >= F.lit(tops[-1])).select(
            F.col("event_date").alias("d")
        )
    return (
        fact.join(F.broadcast(busy), F.col("d") == F.col("event_date"))
        .groupBy("event_date")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            money_sum("value").alias("total_value"),
        )
        .orderBy("event_date")
    )


# --------------------------------------------------------------------------
# Deterministic-sample Horvitz-Thompson estimate beside the exact answer
# --------------------------------------------------------------------------

_SAMPLE_MOD = 10  # keep 1-in-10 lines

_HT_BUCKET = "md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR))"

_HT_SQL = f"""
WITH tagged AS (
    SELECT l_extendedprice * (1 - l_discount) AS rev,
           {_hexparse_sql(f"substr({_HT_BUCKET}, 1, 8)")} % {_SAMPLE_MOD} = 0
               AS in_sample
    FROM lineitem
),
sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled,
           {money_sum_sql('rev')} AS exact_revenue,
           CAST({_SAMPLE_MOD} * SUM(CASE WHEN in_sample
                     THEN CAST(rev AS {MONEY_DECIMAL_SQL})
                     ELSE CAST(0 AS {MONEY_DECIMAL_SQL}) END) AS DOUBLE)
               AS est_revenue
    FROM tagged
)
SELECT n_total, n_sampled, exact_revenue, est_revenue,
       ABS(est_revenue - exact_revenue) / exact_revenue AS rel_err
FROM sums
"""


@query("sampled_revenue_estimate", _HT_SQL)
def q_sampled_revenue_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing with a verifiable contract: a
    1-in-{M} DETERMINISTIC sample (md5 of the line's primary key — the
    same engine-portable bucketing as train_val_test_split, so both
    engines select the IDENTICAL sample) scaled up Horvitz-Thompson
    style, with the exact total and the realized relative error in
    the same row. The estimate is reproducible run-to-run and
    engine-to-engine — no RNG, no seed plumbing.

    Scale shape: one map-side-combinable pass computing both the
    sampled and exact sums (at 100 TB the exact column is dropped and
    the scan reads 100% but aggregates only the 10% — or, with the
    sample materialized as a bucketed table, reads 10%); the md5
    bucket is the scan-level predicate that makes sampled tables
    co-partitionable with their parents. Both sums quantize to
    MONEY_DECIMAL; the HT scale-up multiplies an exact decimal by an
    integer before the double finish."""
    li = load_table(spark, "lineitem", sf_dir)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(MONEY_DECIMAL)
    zero = F.lit(0).cast(MONEY_DECIMAL)
    bucket = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "-",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long") % _SAMPLE_MOD == 0
    agg = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(F.when(bucket, 1).otherwise(0)).cast("bigint").alias("n_sampled"),
        F.sum(rev).cast("double").alias("exact_revenue"),
        (F.lit(_SAMPLE_MOD) * F.sum(F.when(bucket, rev).otherwise(zero)))
        .cast("double")
        .alias("est_revenue"),
    )
    return agg.select(
        "n_total",
        "n_sampled",
        "exact_revenue",
        "est_revenue",
        (
            F.abs(F.col("est_revenue") - F.col("exact_revenue"))
            / F.col("exact_revenue")
        ).alias("rel_err"),
    )


# ==========================================================================
# Exact penny allocation
# ==========================================================================

_ALLOC_SQL = """
WITH lines AS (
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS w_cents
    FROM lineitem
),
orders_c AS (
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS total_cents
    FROM orders
),
sized AS (
    SELECT l.l_orderkey, l.l_linenumber, l.w_cents, o.total_cents,
           SUM(l.w_cents) OVER (PARTITION BY l.l_orderkey) AS w_total
    FROM lines l JOIN orders_c o ON o.o_orderkey = l.l_orderkey
),
based AS (
    SELECT l_orderkey, l_linenumber, total_cents,
           (total_cents * w_cents) // w_total AS base_cents,
           (total_cents * w_cents) % w_total AS rem,
           SUM((total_cents * w_cents) // w_total)
               OVER (PARTITION BY l_orderkey) AS base_sum
    FROM sized
),
ranked AS (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY l_orderkey
                              ORDER BY rem DESC, l_linenumber) AS rk,
           total_cents - base_sum AS leftover
    FROM based
)
SELECT l_orderkey, l_linenumber,
       CAST(base_cents + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS allocated_cents
FROM ranked
ORDER BY l_orderkey, l_linenumber
"""


@query("penny_exact_allocation", _ALLOC_SQL)
def q_penny_exact_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder penny allocation: each order's total (cents)
    splits across its lines proportionally to extended price; floor
    shares first, then the leftover cents go to the lines with the
    largest remainders (line number breaks remainder ties). The
    defining invariant — per-order allocated cents sum EXACTLY to the
    order total — holds by construction and is property-tested.

    Determinism: the whole path is BIGINT cent arithmetic (prices
    quantize to DECIMAL(18,2) once, at the cent boundary); integer
    floor-division and modulo agree across engines for the positive
    operands here; no floating point touches an allocation.

    Scale shape: two windows over the ORDER partition (weight total,
    base-share total) and one remainder rank — all three share the
    single orderkey shuffle (~4 lines per partition key); the
    orders-side total broadcasts as a dim. The numerator
    total_cents·w_cents stays < 2⁶³ for any realistic invoice (the
    overflow guard belongs at ingestion; at 1e9-cent orders the
    product is 1e18 < 9.2e18)."""
    lines = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("w_cents"),
    )
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("total_cents"),
    )
    w_ord = Window.partitionBy("l_orderkey")
    sized = lines.join(
        orders, F.col("o_orderkey") == F.col("l_orderkey")
    ).withColumn("w_total", F.sum("w_cents").over(w_ord))
    num = F.col("total_cents") * F.col("w_cents")
    based = sized.select(
        "l_orderkey",
        "l_linenumber",
        "total_cents",
        F.expr("(total_cents * w_cents) DIV w_total").alias("base_cents"),
        (num % F.col("w_total")).alias("rem"),
    ).withColumn("base_sum", F.sum("base_cents").over(w_ord))
    ranked = based.select(
        "l_orderkey",
        "l_linenumber",
        "base_cents",
        (F.col("total_cents") - F.col("base_sum")).alias("leftover"),
        F.row_number()
        .over(w_ord.orderBy(F.col("rem").desc(), "l_linenumber"))
        .alias("rk"),
    )
    return (
        ranked.select(
            "l_orderkey",
            "l_linenumber",
            (
                F.col("base_cents")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("allocated_cents"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )
