"""Money expressions (SURVEY.md §2.8 F1, F8, F9).

The reference cleans currency strings per-row in Python
(MonarchMoneyMain-v3.py:513-532): strip ``$``/``,``, ``(x)`` → ``-x``,
trim, float-cast, ``0.0`` on empty, keep-original on failure. Here the
same semantics are a pure column-expression chain — JVM-side, inside
whole-stage codegen, zero Python UDFs.

Determinism helpers: Spark sums doubles in partition order, which is
nondeterministic at scale; ``money_sum`` casts values to ``MONEY_DECIMAL``
before SUM (exact, order-independent) and back to DOUBLE after, so an
oracle hash-match cannot flake (SURVEY.md §7.5). Scale 6 is used instead
of 2 because money values here are exact ≤4dp reals carried as doubles:
casting to scale 6 is tie-free in both Spark and DuckDB, whereas rounding
to 2dp hits half-cent ties that the two engines break differently.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tie-free for ≤4dp money values; Spark widens the SUM to decimal(28,6)
MONEY_DECIMAL = "decimal(18,6)"
#: the same type in the oracle SQL's spelling
MONEY_DECIMAL_SQL = MONEY_DECIMAL.upper()


def clean_currency(col: Column | str) -> Column:
    """Normalize a currency string to DOUBLE.

    Semantics of the reference's ``_clean_currency_value``
    (MonarchMoneyMain-v3.py:513-532):
    - strip ``$``, thousands ``,``, surrounding whitespace;
    - accounting negatives: ``(123.45)`` → ``-123.45``;
    - empty/blank → 0.0;
    - unparseable → NULL (the reference warns + keeps the original string;
      a typed engine can't keep strings in a DOUBLE column, so NULL is the
      faithful typed analog — callers may ``coalesce`` a fallback).
    """
    c = F.col(col) if isinstance(col, str) else col
    # NULL behaves like empty: the reference does float(value or 0)
    trimmed = F.trim(F.coalesce(c.cast("string"), F.lit("")))
    # (x) accounting negative -> -x, applied before symbol stripping
    negated = F.when(
        trimmed.rlike(r"^\(.*\)$"),
        F.concat(F.lit("-"), F.regexp_replace(trimmed, r"^\((.*)\)$", r"$1")),
    ).otherwise(trimmed)
    stripped = F.regexp_replace(negated, r"[$,\s]", "")
    return (
        F.when(stripped == "", F.lit(0.0))
        .otherwise(stripped.try_cast("double"))
    )


def money(col: Column | str) -> Column:
    """Round a double money expression to 2dp (reference F8:
    ``round(amount, 2)`` monarchmoney.py:1601). Per-row rounding is
    deterministic; do it before any aggregation."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c, 2)


def money_sum(col: Column | str, *, coalesce_zero: bool = False) -> Column:
    """Order-independent SUM of a 2dp money column, returned as DOUBLE.

    DuckDB-oracle twin: ``money_sum_sql``.
    ``coalesce_zero`` mirrors the reference's ``fillEmptyValues: true``
    (monarchmoney.py:2327) / ``float(... or 0)`` (F9).
    """
    c = F.col(col) if isinstance(col, str) else col
    s = F.sum(c.cast(MONEY_DECIMAL)).cast("double")
    return F.coalesce(s, F.lit(0.0)) if coalesce_zero else s


def money_sum_sql(x: str) -> str:
    """DuckDB-oracle twin of ``money_sum`` over the SQL expression ``x``."""
    return f"CAST(SUM(CAST({x} AS {MONEY_DECIMAL_SQL})) AS DOUBLE)"


def money_avg(col: Column | str) -> Column:
    """Deterministic AVG: exact decimal SUM cast to double, divided by count.

    DuckDB twin: ``money_sum_sql(x)`` divided by ``COUNT(x)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(MONEY_DECIMAL)).cast("double") / F.count(c)
