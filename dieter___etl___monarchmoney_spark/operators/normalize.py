"""End-to-end flatten pipelines (SURVEY.md §3.1 step 7, §2.8).

``flatten_transactions`` reproduces the reference's per-row transform
chain — `_to_dict` scalarize → account-id coalesce → name enrichment →
`loadedAtUtc` → `_extract_nested_fields` (MonarchMoneyMain-v3.py:1268-1280)
— as one declarative select chain. ``flatten_accounts`` is the
`_process_accounts` analog (MonarchMoneyMain-v3.py:995-1051).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.functions.dates import parse_iso_timestamp
from dieter___etl___monarchmoney_spark.functions.money import clean_currency
from dieter___etl___monarchmoney_spark.functions.nested import (
    TXN_BREAKOUTS,
    breakout_structs,
    tags_csl,
)
from dieter___etl___monarchmoney_spark.plans.contract import (
    TRANSACTIONS_PRIORITY,
    apply_column_contract,
)

#: the 18-field currency-candidate list analog (MonarchMoneyMain-v3.py:513-532
#: applies cleaning to every candidate money field present)
MONEY_COLUMNS = ("amount",)


def flatten_transactions(
    nested: DataFrame,
    accounts_dim: DataFrame | None = None,
    load_ts: str | None = None,
) -> DataFrame:
    """Nested transaction documents → the flat sheet contract.

    - struct breakouts + TagsCSL (F10/F11), originals retained then the
      redundant raw structs dropped at the contract step (P10);
    - currency cleaning on money columns that arrive stringly (F1);
    - createdAt/updatedAt parsed to UTC timestamps (F2);
    - J1 account-name enrichment via broadcast join when the account
      struct lacks a display name;
    - loadedAtUtc stamped from a caller-supplied run timestamp (F16 —
      passed in, not now(), for determinism).
    """
    df = breakout_structs(nested, TXN_BREAKOUTS)
    if "tags" in df.columns:
        df = df.withColumn("TagsCSL", tags_csl("tags"))
    for c in MONEY_COLUMNS:
        if c in df.columns and dict(df.dtypes)[c] == "string":
            df = df.withColumn(c, clean_currency(c))
    for c in ("createdAt", "updatedAt"):
        if c in df.columns and dict(df.dtypes)[c] == "string":
            df = df.withColumn(c, parse_iso_timestamp(c))
    if accounts_dim is not None:
        # J1 — id → displayName enrichment; dim side is small → broadcast
        dim = F.broadcast(
            accounts_dim.select(
                F.col("id").alias("AccID"), F.col("displayName").alias("_acc_name")
            )
        )
        df = df.join(dim, "AccID", "left").withColumn(
            "AccDispName", F.coalesce(F.col("AccDispName"), F.col("_acc_name"))
        ).drop("_acc_name")
    if load_ts is not None:
        df = df.withColumn("loadedAtUtc", F.lit(load_ts).cast("timestamp"))
    return apply_column_contract(
        df,
        TRANSACTIONS_PRIORITY,
        drop=("account", "category", "merchant", "tags", "attachments"),
    )


#: accounts flatten contract (_account_headers_rows MonarchMoneyMain-v3.py:83-137)
ACCOUNTS_PRIORITY = (
    "id",
    "displayName",
    "TypeDisplay",
    "AccountType",
    "InstitutionName",
    "currentBalance",
    "displayBalance",
    "isAsset",
    "isHidden",
    "includeInNetWorth",
    "transactionsCount",
    "createdAt",
    "updatedAt",
)


def flatten_accounts(nested: DataFrame) -> DataFrame:
    """`_process_accounts` parity (MonarchMoneyMain-v3.py:995-1051):
    TypeDisplay = type.display, AccountType = subtype.display,
    InstitutionName = institution.name; ordered by
    (TypeDisplay, AccountType, displayName) (O1)."""
    df = (
        nested.withColumn("TypeDisplay", F.col("type.display"))
        .withColumn("AccountType", F.col("subtype.display"))
        .withColumn("InstitutionName", F.col("institution.name"))
    )
    df = apply_column_contract(
        df, ACCOUNTS_PRIORITY, drop=("type", "subtype", "credential", "institution")
    )
    return df.orderBy("TypeDisplay", "AccountType", "displayName")
