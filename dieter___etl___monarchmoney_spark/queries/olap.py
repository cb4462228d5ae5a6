"""Classic OLAP anchor queries over the full TPC-H-ish star: the
pricing-summary scan-aggregate (Q1 shape), the snowflake
regional-revenue rollup (Q5 shape, lineitem→orders→customer→nation→
region), the shipping-priority selective-join top-k (Q3 shape), the
forecast-revenue-change scalar (Q6 shape), the returned-items
customer ranking (Q10 shape), and the large-volume-customers
aggregate-filter-then-join (Q18 shape). The rest of the repo
expresses the reference's surface plus the training-pipeline
extensions; these six pin the canonical warehouse shapes every Spark
deployment is benchmarked on, with the repo's exact-decimal
determinism discipline applied to TPC-H's own money expressions.

Reference framing: the reference engine serves per-user API entities;
FIXTURES.md maps them onto this star (lineitem ⋈ orders is the
transactions fact). These queries exercise the UNMAPPED remainder of
the star — the snowflake dim chain customer→nation→region — so every
driver table is load-bearing in at least one registered query.

Determinism: per-row money expressions ((1−disc)/( 1+tax) products)
are fixed-shape double arithmetic — identical operand doubles and
operation order in both engines — then quantized to MONEY_DECIMAL for
the order-independent SUM (functions/money.py pattern); averages
divide the exact decimal sum by the exact count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.functions.money import (
    MONEY_DECIMAL,
    MONEY_DECIMAL_SQL,
    money_sum,
    money_sum_sql,
)
from dieter___etl___monarchmoney_spark.registry import query
from dieter___etl___monarchmoney_spark.sources.parquet import load_table

_CUTOFF = "2001-09-02"

_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {money_sum_sql('l_quantity')} AS sum_qty,
       {money_sum_sql('l_extendedprice')}
           AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS {MONEY_DECIMAL_SQL}))
            AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                     AS {MONEY_DECIMAL_SQL})) AS DOUBLE) AS sum_charge,
       {money_sum_sql('l_quantity')} / COUNT(*)
           AS avg_qty,
       {money_sum_sql('l_extendedprice')} / COUNT(*)
           AS avg_price,
       {money_sum_sql('l_discount')} / COUNT(*)
           AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '{_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("pricing_summary_report", _Q1_SQL)
def q_pricing_summary_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the pricing summary report — the canonical
    scan-heavy aggregate (8 aggregates over one filtered scan, 4 output
    groups). TPC-H's disc_price/charge money products run as fixed-shape
    double arithmetic per row and quantize to MONEY_DECIMAL for the
    order-independent sums, so the report hashes identically under any
    partitioning.

    Scale shape: the whole query is one map-side-combinable aggregate
    inside whole-stage codegen over a pruned scan (ReadSchema carries
    only the 7 referenced columns; the shipdate predicate reaches the
    parquet scan as PushedFilters) — the shuffle moves 4 groups × 8
    cells no matter how many billions of rows the fact has. This is the
    shape Spark was built to saturate I/O on."""
    li = load_table(spark, "lineitem", sf_dir)
    dec = lambda c: c.cast(MONEY_DECIMAL)  # noqa: E731
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit(_CUTOFF).cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            F.sum(dec(disc_price)).cast("double").alias("sum_disc_price"),
            F.sum(dec(charge)).cast("double").alias("sum_charge"),
            (F.sum(dec(F.col("l_quantity"))).cast("double") / F.count(F.lit(1))).alias(
                "avg_qty"
            ),
            (
                F.sum(dec(F.col("l_extendedprice"))).cast("double") / F.count(F.lit(1))
            ).alias("avg_price"),
            (F.sum(dec(F.col("l_discount"))).cast("double") / F.count(F.lit(1))).alias(
                "avg_disc"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q5_SQL = f"""
SELECT r.r_name, n.n_name,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS {MONEY_DECIMAL_SQL}))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_lineitems,
       COUNT(DISTINCT o.o_orderkey) AS n_orders
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
JOIN region r   ON r.r_regionkey = n.n_regionkey
GROUP BY r.r_name, n.n_name
ORDER BY r_name, n_name
"""


@query("regional_revenue_rollup", _Q5_SQL)
def q_regional_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue rolled up the snowflake dim chain
    lineitem → orders → customer → nation → region — the canonical
    multi-way star join, and the query that makes the remaining driver
    tables (customer, nation, region) load-bearing.

    Scale shape: the one genuinely big join (lineitem ⋈ orders, two
    facts) shuffles on the order key; every dim hop is
    broadcast-eligible — nation/region are hinted outright, customer is
    left to AQE/threshold (dim-sized here, and at 100 TB a large
    customer dim correctly degrades to a shuffle join on the already-
    shuffled custkey side). Revenue uses the per-row double product +
    MONEY_DECIMAL sum pattern, so the rollup hashes identically under
    any join order AQE picks."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    nation = load_table(spark, "nation", sf_dir).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, "region", sf_dir).select("r_regionkey", "r_name")
    revenue_row = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            money_sum(revenue_row).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy("r_name", "n_name")
    )


_Q3_DATE = "1998-06-30"

_Q3_SQL = f"""
SELECT l.l_orderkey,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS {MONEY_DECIMAL_SQL}))
            AS DOUBLE) AS revenue,
       CAST(o.o_orderdate AS DATE) AS o_orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o  ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND CAST(o.o_orderdate AS DATE) < DATE '{_Q3_DATE}'
  AND CAST(l.l_shipdate AS DATE) > DATE '{_Q3_DATE}'
GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@query("shipping_priority_topk", _Q3_SQL)
def q_shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped-revenue shipping priority — the
    canonical selective-join-then-top-k (segment filter on the customer
    dim, date filters on BOTH fact sides, revenue per order, top 10).
    The driver star has no o_shippriority column, so o_orderpriority
    stands in; semantics are otherwise Q3's.

    Scale shape: both date predicates push to the parquet scans and the
    segment filter prunes customer BEFORE it broadcasts; the only big
    shuffle is lineitem ⋈ orders on the order key, the group-by reuses
    that clustering, and the final ORDER BY ... LIMIT 10 is a
    TakeOrderedAndProject (per-partition top-10 → driver merge, no
    global sort). The revenue tie-break on l_orderkey makes the top-k a
    total order in both engines."""
    cust = (
        load_table(spark, "customer", sf_dir)
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderdate").cast("date") < F.lit(_Q3_DATE).cast("date"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load_table(spark, "lineitem", sf_dir)
        .filter(F.col("l_shipdate").cast("date") > F.lit(_Q3_DATE).cast("date"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    revenue_row = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(money_sum(revenue_row).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


_Q18_MIN_QTY = 150

_Q18_SQL = f"""
WITH big AS (
    SELECT l_orderkey,
           {money_sum_sql('l_quantity')} AS total_qty
    FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS {MONEY_DECIMAL_SQL})) > {_Q18_MIN_QTY}
)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       CAST(o.o_orderdate AS DATE) AS o_orderdate,
       o.o_totalprice, b.total_qty
FROM big b
JOIN orders o   ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o_orderdate, o.o_orderkey
LIMIT 100
"""


@query("large_volume_customers", _Q18_SQL)
def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume customers — orders whose total
    line quantity exceeds a threshold, joined back to customer, top 100
    by order value. The classic aggregate-filter-then-join (Q18's
    IN-subquery is expressed directly as the aggregated frame joined
    back, which is exactly what engines rewrite the subquery into).

    Scale shape: the heavy aggregate (per-order quantity over the whole
    fact) is map-side-combinable and its HAVING prunes to the rare
    qualifying orders BEFORE any join; the join back to orders keys on
    the already-clustered order key and customer stays
    broadcast-eligible. Quantity sums use the exact-decimal pattern so
    the threshold cut cannot flake on float summation order."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast(MONEY_DECIMAL)).alias("qty_dec")
        )
        .filter(F.col("qty_dec") > _Q18_MIN_QTY)
        .select("l_orderkey", F.col("qty_dec").cast("double").alias("total_qty"))
    )
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_name")
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


_Q6_SQL = f"""
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS {MONEY_DECIMAL_SQL}))
            AS DOUBLE) AS revenue_delta,
       COUNT(*) AS n_lineitems
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("forecast_revenue_change", _Q6_SQL)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the forecast-revenue-change scalar — three
    pushable predicates, one global aggregate, zero joins. The
    canonical "is the scan path fast" probe: every predicate reaches
    the parquet reader, the scan reads 4 columns, and the answer is a
    single row produced entirely by map-side partials.

    Scale shape: at 100 TB this is I/O-bound by construction — the
    aggregate exchanges one partial row per task. Revenue uses the
    fixed-shape double product quantized to MONEY_DECIMAL before the
    order-independent SUM."""
    li = load_table(spark, "lineitem", sf_dir)
    sd = F.col("l_shipdate").cast("date")
    return (
        li.filter(
            (sd >= F.lit("1996-01-01").cast("date"))
            & (sd < F.lit("1997-01-01").cast("date"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money_sum(F.col("l_extendedprice") * F.col("l_discount"))
            .alias("revenue_delta"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


_Q10_SQL = f"""
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS {MONEY_DECIMAL_SQL}))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM customer c
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
  AND CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
  AND CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("returned_items_ranking", _Q10_SQL)
def q_returned_items_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: which customers returned the most revenue in a
    year — returnflag filter on the fact, date window on orders, rollup
    per customer, top 20. The canonical "selective fact ⋈ fact then
    rank entities" report.

    Scale shape: both filters push to their scans BEFORE the
    lineitem ⋈ orders shuffle; the customer attach happens AFTER the
    per-custkey pre-aggregation would collapse cardinality at real
    scale (here the optimizer's join order is equivalent at this SF),
    nation broadcasts, and the top-20 is a TakeOrderedAndProject with a
    custkey tie-break giving a total order."""
    li = (
        load_table(spark, "lineitem", sf_dir)
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    od = F.col("o_orderdate").cast("date")
    orders = (
        load_table(spark, "orders", sf_dir)
        .filter(
            (od >= F.lit("1997-01-01").cast("date"))
            & (od < F.lit("1998-01-01").cast("date"))
        )
        .select("o_orderkey", "o_custkey")
    )
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    revenue_row = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            money_sum(revenue_row).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )
