"""Date/timestamp expressions (SURVEY.md §2.8 F2-F7).

All pure column expressions — Catalyst folds the constants and keeps them
inside whole-stage codegen; the reference does the same work per-row in
Python (`_parse_iso`, `_format_timestamp`, `_format_date`,
`calendar.monthrange` window arithmetic).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: multi-format tolerant parse order, mirroring _format_date
#: (MonarchMoneyMain-v3.py:405-429): ISO first, then slash/dash variants.
#: Like the reference, ambiguous day/month strings resolve to the FIRST
#: format that parses (m/d before d/m).
_DATE_FORMATS = (
    "yyyy-MM-dd",
    "M/d/yyyy",
    "d/M/yyyy",
    "yyyy/M/d",
    "M-d-yyyy",
    "d-M-yyyy",
)


def parse_iso_timestamp(col: Column | str) -> Column:
    """F2 — ISO timestamp parse, Z→+00:00, normalized to UTC
    (_parse_iso MonarchMoneyMain-v3.py:181-187). ``to_timestamp`` already
    understands Z offsets; the session timezone is UTC (session.py)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.to_timestamp(c)


def format_timestamp(col: Column | str) -> Column:
    """F3 — render ``YYYY-MM-DD HH:MM:SS``
    (_format_timestamp MonarchMoneyMain-v3.py:393-403)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss")


def parse_date_tolerant(col: Column | str) -> Column:
    """F4 — multi-format tolerant date parse
    (_format_date MonarchMoneyMain-v3.py:405-429): try each known format,
    first hit wins, NULL if none parse (the reference passes the raw
    string through; NULL is the typed analog)."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.trim(c.cast("string"))
    return F.coalesce(*[F.try_to_timestamp(s, F.lit(fmt)).cast("date") for fmt in _DATE_FORMATS])


def month_start(col: Column | str) -> Column:
    """F6 — first day of the value's month (trunc-to-month,
    MonarchMoneyMain-v3.py:1117-1140)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trunc(c, "month")


def month_end(col: Column | str, months_ahead: int = 0) -> Column:
    """F6 — last day of the month N months ahead
    (calendar.monthrange arithmetic, monarchmoney.py:2733-2754)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.last_day(F.add_months(c, months_ahead))


#: candidate date-key names, in the reference's probe order
#: (_find_txn_date_key MonarchMoneyMain-v3.py:189-201)
DATE_KEY_CANDIDATES = ("date", "txn_date", "transactionDate", "Date", "postedDate")


def find_date_key(df) -> str | None:
    """F5 — date-key detection heuristic: prefer known names that carry
    a date/timestamp type, then fall back to ANY date-typed column
    (the reference additionally value-sniffs strings; a typed engine
    reads the schema instead)."""
    from pyspark.sql import types as T

    def is_datelike(name: str) -> bool:
        return isinstance(df.schema[name].dataType, (T.DateType, T.TimestampType))

    for name in DATE_KEY_CANDIDATES:
        if name in df.columns and is_datelike(name):
            return name
    for name in df.columns:
        if is_datelike(name):
            return name
    return None


def backfill_start(anchor: Column, days: int) -> Column:
    """F7 — ``anchor − days`` at start-of-day UTC (BACKFILL_DAYS
    MonarchMoneyMain-v3.py:37, 1246-1256)."""
    return F.date_sub(anchor.cast("date"), days)
