"""Streaming EWMA — NUMERIC carried state via ``applyInPandasWithState``
(SURVEY.md §2.9 custom-stateful scope, the second stateful operator
family next to sessionization: sessions carry interval state, this
carries an accumulator + recurrence state).

Semantics are identical to the batch fold (queries/stats_ops
``ewma_smoothing``): per event_type, daily means smoothed by
eₜ = α·xₜ + (1−α)·eₜ₋₁ with e₁ = x₁. The streaming form accumulates
per-day exact sums in grouped state and replays the recurrence when the
group flushes (end-of-log sentinel or event-time timeout).

Exactness through the Arrow boundary: the batch side sums
``CAST(value AS MONEY_DECIMAL)`` exactly; this side accumulates integer
micro-units obtained via ``Decimal(repr(v)).quantize(1e-6, HALF_UP)``
— the same shortest-representation + half-up rule as Spark's
double→decimal cast — so the streamed daily means are bit-identical to
the batch ones, and the fold then runs the same fixed-shape float
recurrence. Output rounds via decimal HALF_UP at 9dp exactly like
``F.round`` (Python's ``round`` is banker's and would diverge).

Scale shape: state per event_type is (days-in-flight × 3 longs) —
bounded by the calendar horizon the watermark keeps open, not event
volume. A live deployment emits closed days incrementally from the
timeout path; the availableNow harness flushes with the end-of-log
sentinel pattern shared with sessionize_stream.
"""

from __future__ import annotations

from collections.abc import Iterator
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EWMA_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("d", T.DateType()),
        T.StructField("daily_mean", T.DoubleType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

_MICRO = Decimal("0.000001")
_NANO9 = Decimal("1e-9")


def _value_micros(v: float) -> int:
    """value → exact integer micro-units, matching Spark's
    CAST(double AS MONEY_DECIMAL) (shortest decimal repr, HALF_UP)."""
    return int(Decimal(repr(v)).quantize(_MICRO, ROUND_HALF_UP).scaleb(6))


def _round9(x: float) -> float:
    """F.round(col, 9) twin: HALF_UP on the shortest decimal repr."""
    return float(Decimal(repr(x)).quantize(_NANO9, ROUND_HALF_UP))


def ewma_stream(
    events: DataFrame, alpha: float = 0.3, flush_event_id: int = -1
) -> DataFrame:
    """Streaming EWMA over per-type daily means; see module docstring.

    ``events`` needs (event_id, ts, event_type, value) and an event-time
    watermark is applied here. Rows with ``event_id == flush_event_id``
    are end-of-log sentinels: they are never accumulated, and their
    arrival emits the group's full smoothed series.
    """
    beta = 1 - alpha

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (etype,) = key

        def emit(days, sums, counts):
            order = sorted(range(len(days)), key=lambda i: days[i])
            e = None
            rows = []
            for i in order:
                # CAST(decimal-sum AS DOUBLE) / COUNT(*), exactly
                x = float(Decimal(int(sums[i])).scaleb(-6)) / counts[i]
                e = x if e is None else alpha * x + beta * e
                d = pd.Timestamp(days[i], unit="D").date()
                rows.append([etype, d, x, _round9(e)])
            return pd.DataFrame(rows, columns=[f.name for f in EWMA_SCHEMA.fields])

        if state.hasTimedOut:
            days, sums, counts = state.get
            state.remove()
            if days:
                yield emit(days, sums, counts)
            return

        if state.exists:
            days, sums, counts = (list(x) for x in state.get)
        else:
            days, sums, counts = [], [], []
        acc = {d: [s, c] for d, s, c in zip(days, sums, counts)}
        flush = False
        for pdf in pdfs:
            # zip over column arrays: iterrows materializes a Series per
            # row (~10x slower on the 20k-row availableNow batches)
            for eid, ts, v in zip(
                pdf["event_id"].to_list(), pdf["ts"].to_list(), pdf["value"].to_list()
            ):
                if eid == flush_event_id:
                    flush = True
                    continue
                day = (pd.Timestamp(ts).value // 1_000_000_000) // 86_400
                slot = acc.setdefault(int(day), [0, 0])
                if pd.notna(v):
                    slot[0] += _value_micros(float(v))
                slot[1] += 1  # COUNT(*) counts null-value rows too
        days = list(acc)
        sums = [acc[d][0] for d in days]
        counts = [acc[d][1] for d in days]
        if flush:
            state.remove()
            if days:
                yield emit(days, sums, counts)
            return
        state.update((days, sums, counts))
        # keep the group alive well past the data horizon; a live
        # deployment would use a tighter timeout to stream closed days
        last_us = max(days) * 86_400 * 1_000_000 if days else 0
        state.setTimeoutTimestamp(last_us // 1000 + 40 * 86_400 * 1000)

    return (
        events.withWatermark("ts", "1 day")
        .groupBy("event_type")
        .applyInPandasWithState(
            fn,
            outputStructType=EWMA_SCHEMA,
            stateStructType="days array<long>, sums array<long>, counts array<long>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
