"""Nested-document flattening (SURVEY.md §2.8 F10-F14, §1.1 layer 2).

The reference's `_extract_nested_fields` (MonarchMoneyMain-v3.py:431-534)
walks each row's dict in Python, breaking structs into flat columns and
CSL-joining tag arrays while *retaining* the original JSON columns. Here
the same flatten is a single ``select`` over struct fields — columnar,
codegen'd, no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: struct-breakout contract for transactions (MonarchMoneyMain-v3.py:439-480):
#: source struct column -> [(field, flat alias), ...]
TXN_BREAKOUTS: dict[str, list[tuple[str, str]]] = {
    "account": [("id", "AccID"), ("displayName", "AccDispName"), ("type", "AccType")],
    "category": [("id", "CatID"), ("name", "CatDispName"), ("type", "CatType")],
    "merchant": [
        ("id", "MrchntID"),
        ("name", "MrchntDispName"),
        ("transactionsCount", "MrchntTranCount"),
        ("type", "MrchntType"),
    ],
}


def breakout_structs(
    df: DataFrame, breakouts: dict[str, list[tuple[str, str]]] | None = None
) -> DataFrame:
    """F11 — break nested struct columns into flat columns, keeping the
    originals (the reference retains the raw JSON columns alongside the
    breakout). Missing struct fields become NULL columns, mirroring the
    reference's ``.get(...)`` tolerance."""
    breakouts = TXN_BREAKOUTS if breakouts is None else breakouts
    out = df
    for src, fields in breakouts.items():
        if src not in df.columns:
            continue
        struct_fields = {
            f.name for f in df.schema[src].dataType.fields
        } if isinstance(df.schema[src].dataType, T.StructType) else set()
        for field, alias in fields:
            expr = F.col(f"{src}.{field}") if field in struct_fields else F.lit(None)
            out = out.withColumn(alias, expr)
    return out


def tags_csl(col: Column | str, name_field: str = "name") -> Column:
    """F10 — ARRAY<STRUCT> of tags → comma-separated names
    (TagsCSL, MonarchMoneyMain-v3.py:482-498)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(F.transform(c, lambda t: t[name_field]), ", ")


def scalarize_to_json(col: Column | str) -> Column:
    """F12 — any non-primitive value → JSON text
    (_scalar MonarchMoneyMain-v3.py:53-59)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.to_json(c)


def unwrap_connection(df: DataFrame, edges_col: str = "edges", node_field: str = "node") -> DataFrame:
    """F14 — GraphQL connection unwrap: explode edges[] and lift node.*
    (_extract_connection MonarchMoneyMain-v3.py:306-342; holdings scan
    monarchmoney.py:731-777)."""
    exploded = df.select(F.explode(F.col(edges_col)).alias("_edge"))
    return exploded.select(F.col(f"_edge.{node_field}.*"))
