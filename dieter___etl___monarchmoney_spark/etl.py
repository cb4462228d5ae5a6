"""The full ETL lifecycle (SURVEY.md §3.1): the reference's
``python MonarchMoneyMain-v3.py`` run, re-expressed as one Spark job.

Stages (reference step numbers in parens):
1. accounts stage (3): flatten + contract-order + overwrite sink;
   build the id→name enrichment dim.
2. budgets stage (4): month window → budget pipeline → overwrite sink.
3. watermark (5): read control, derive reload window (backfill/force).
4. extract (6): filtered scan of the transactions fact — Catalyst
   replaces the reference's pagination loop.
5. transform (7): flatten/normalize + loadedAtUtc.
6. merge + load (8-9): keep the partitions before the window, overwrite
   the window's month partitions.
7. commit watermark (10): write control — after the sink write, same
   non-atomicity and same idempotence argument as the reference.

Steps 3-7 are ``streaming.incremental.run_incremental_load``.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.sources.parquet import load_table
from dieter___etl___monarchmoney_spark.sources.sinks import (
    read_sink,
    snapshot_with_metadata,
    write_table,
)
from dieter___etl___monarchmoney_spark.sources.star_model import transactions_with_account
from dieter___etl___monarchmoney_spark.streaming.incremental import run_incremental_load


def accounts_stage(spark: SparkSession, sf_dir: str, out_dir: str) -> DataFrame:
    """§3.1 step 3: customer plays accounts; flatten + sort + write;
    returns the enrichment dim (J1 build side)."""
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    accounts = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            F.col("c_custkey").alias("id"),
            F.col("c_name").alias("displayName"),
            F.col("c_mktsegment").alias("TypeDisplay"),
            F.col("n_name").alias("InstitutionName"),
            F.col("c_acctbal").alias("currentBalance"),
        )
        .orderBy("TypeDisplay", "InstitutionName", "displayName")
    )
    write_table(accounts, os.path.join(out_dir, "accounts"))
    return accounts.select("id", "displayName")


def budgets_stage(spark: SparkSession, sf_dir: str, out_dir: str) -> int:
    """§3.1 step 4: run the budget pipeline for the data's month range
    and overwrite the budgets sink; returns the sink's row count, read
    from the written parquet footers rather than by running the pipeline
    again."""
    from dieter___etl___monarchmoney_spark.queries.budget import q_budget_pipeline_full

    path = os.path.join(out_dir, "budgets")
    write_table(q_budget_pipeline_full(spark, sf_dir), path)
    return read_sink(spark, path).count()


def transactions_stage(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    now: dt.datetime,
    accounts_dim: DataFrame,
    backfill_days: int = 3650,
) -> dict:
    """§3.1 steps 5-10: the enriched, load-stamped transactions fact
    through the one incremental-load lifecycle
    (:func:`run_incremental_load`: watermark → window → partition
    overwrite → commit), plus the sink's row count."""
    sink = os.path.join(out_dir, "transactions")
    # J1 enrichment + F16 load stamp. The stamp is ``now``: the reload
    # window always ends there (derive_window). The window filter is
    # applied by the lifecycle and pushed below the join by Catalyst.
    dim = F.broadcast(accounts_dim.withColumnRenamed("id", "account_id"))
    source = (
        transactions_with_account(spark, sf_dir)
        .join(dim, "account_id", "left")
        .withColumnRenamed("displayName", "AccDispName")
    )
    source = snapshot_with_metadata(source, now.strftime("%Y-%m-%d %H:%M:%S"))
    manifest = run_incremental_load(
        spark,
        source=source,
        sink_path=sink,
        control_path=os.path.join(out_dir, "control"),
        date_col="txn_date",
        now=now,
        backfill_days=backfill_days,
    )
    manifest["rows"] = read_sink(spark, sink).count()
    return manifest


def run_etl(
    spark: SparkSession, sf_dir: str, out_dir: str, now: dt.datetime | None = None
) -> dict:
    """The whole §3.1 lifecycle. Deterministic: pass ``now`` explicitly
    in tests; defaults to wall clock like the reference."""
    now = now or dt.datetime.utcnow()
    dim = accounts_stage(spark, sf_dir, out_dir)
    n_budget = budgets_stage(spark, sf_dir, out_dir)
    manifest = transactions_stage(spark, sf_dir, out_dir, now, dim)
    manifest["budget_rows"] = n_budget
    return manifest
