"""Recurring-forecast diff (T7) and the nested-document flatten exercised
at scan scale (F10/F11/F14 as a registered, oracle-checked query)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.functions.money import money_sum, money_sum_sql
from dieter___etl___monarchmoney_spark.operators.normalize import flatten_transactions
from dieter___etl___monarchmoney_spark.registry import query
from dieter___etl___monarchmoney_spark.sources.parquet import load_table
from dieter___etl___monarchmoney_spark.sources.star_model import (
    TRANSACTIONS_WITH_ACCOUNT_SQL,
    transactions_with_account,
)



@query(
    "recurring_forecast_diff",
    f"""
    WITH expected AS (
        SELECT user_id, event_type,
               {money_sum_sql('value')} / COUNT(value) AS expected
        FROM events
        WHERE CAST(ts AS DATE) < DATE '2024-01-15'
        GROUP BY user_id, event_type
    )
    SELECT e.event_id, e.user_id, e.event_type, e.value,
           x.expected,
           e.value - x.expected AS amountDiff,
           CAST(e.ts AS DATE) < DATE '2024-01-22' AS isPast
    FROM events e
    JOIN expected x USING (user_id, event_type)
    WHERE CAST(e.ts AS DATE) >= DATE '2024-01-15'
    """,
)
def q_recurring_forecast_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 — recurring/forecast stream materialization
    (monarchmoney.py:2678-2715): each forecast item carries the expected
    stream amount, an ``amountDiff`` vs the actual, and an ``isPast``
    flag. Expected = per-(user, type) deterministic average over the
    history window; the join is aggregate-then-join (the expected table
    is |users|×|types|, broadcastable at any fact scale)."""
    events = load_table(spark, "events", sf_dir)
    hist = events.filter(F.col("ts").cast("date") < F.lit("2024-01-15"))
    expected = hist.groupBy("user_id", "event_type").agg(
        (
            money_sum("value")
            / F.count("value")
        ).alias("expected")
    )
    future = events.filter(F.col("ts").cast("date") >= F.lit("2024-01-15"))
    return (
        future.join(F.broadcast(expected), ["user_id", "event_type"], "inner")
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            "expected",
            (F.col("value") - F.col("expected")).alias("amountDiff"),
            (F.col("ts").cast("date") < F.lit("2024-01-22")).alias("isPast"),
        )
    )


@query(
    "nested_flatten_roundtrip",
    f"""
    SELECT t.txn_id AS id, t.txn_date AS date, t.amount,
           CAST(t.account_id AS VARCHAR) AS AccID,
           'Account #' || CAST(t.account_id AS VARCHAR) AS AccDispName,
           t.order_status AS AccType,
           CAST(t.category_id AS VARCHAR) AS CatID,
           p.p_name AS CatDispName,
           p.p_type AS CatType,
           CAST(t.merchant_id AS VARCHAR) AS MrchntID,
           s.s_name AS MrchntDispName,
           p.p_brand || ', ' || t.returnflag AS TagsCSL
    FROM ({TRANSACTIONS_WITH_ACCOUNT_SQL}) t
    JOIN part p ON t.category_id = p.p_partkey
    JOIN supplier s ON t.merchant_id = s.s_suppkey
    """,
)
def q_nested_flatten_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10/F11 at scan scale: assemble the reference's nested document
    shape (account/category/merchant structs + tags array) from the star
    schema, run the REAL flatten pipeline (struct breakout + TagsCSL +
    contract ordering, operators/normalize.py), and check the flat
    result against an oracle that computes the columns directly —
    proving the flatten is lossless and fully JVM-side."""
    txns = transactions_with_account(spark, sf_dir)
    part = load_table(spark, "part", sf_dir).select(
        F.col("p_partkey").alias("part_key"), "p_name", "p_type", "p_brand"
    )
    supp = load_table(spark, "supplier", sf_dir).select(
        F.col("s_suppkey").alias("supp_key"), "s_name"
    )
    enriched = txns.join(
        F.broadcast(part), txns.category_id == part.part_key
    ).join(F.broadcast(supp), txns.merchant_id == supp.supp_key)
    nested = enriched.select(
        F.col("txn_id").alias("id"),
        F.col("txn_date").alias("date"),
        "amount",
        F.struct(
            F.col("account_id").cast("string").alias("id"),
            F.concat(F.lit("Account #"), F.col("account_id")).alias("displayName"),
            F.col("order_status").alias("type"),
        ).alias("account"),
        F.struct(
            F.col("category_id").cast("string").alias("id"),
            F.col("p_name").alias("name"),
            F.col("p_type").alias("type"),
        ).alias("category"),
        F.struct(
            F.col("merchant_id").cast("string").alias("id"),
            F.col("s_name").alias("name"),
            F.lit(None).cast("bigint").alias("transactionsCount"),
            F.lit(None).cast("string").alias("type"),
        ).alias("merchant"),
        F.array(
            F.struct(F.col("p_brand").alias("name")),
            F.struct(F.col("returnflag").alias("name")),
        ).alias("tags"),
    )
    flat = flatten_transactions(nested)
    return flat.select(
        "id", "date", "amount", "AccID", "AccDispName", "AccType",
        "CatID", "CatDispName", "CatType", "MrchntID", "MrchntDispName", "TagsCSL",
    )
