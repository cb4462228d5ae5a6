"""Sessionization — the custom stateful operator the reference lacks but
a training-data event pipeline needs (SURVEY.md §2.9 scope note:
"applyInPandasWithState for custom stateful operators").

Two implementations of identical semantics (30-min-gap sessions):

- ``sessionize_batch`` — pure window functions (lag → gap flag →
  cumulative session counter). Oracle-expressible; the scale path for
  backfills: one shuffle on user_id, sessions never cross partitions.
- ``sessionize_stream`` — ``applyInPandasWithState`` with per-user
  session state and an event-time timeout; the live path. Grouped state
  keeps memory bounded per user; the watermark closes idle sessions.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization: session breaks where the gap to the previous
    event (per user, event-time order) exceeds ``gap_minutes``; the
    session id is the running count of breaks. Output: one row per
    session with bounds and event count."""
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    # gap test on the exact ns-precision long: casting the µs timestamp
    # to long would truncate to SECONDS and flip gaps that straddle a
    # whole-second boundary vs a ns-precision oracle
    prev_ns = F.lag("ts_ns").over(w)
    is_break = (
        prev_ns.isNull()
        | ((F.col("ts_ns") - prev_ns) > gap_minutes * 60 * 1_000_000_000)
    ).cast("long")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    with_sess = events.withColumn("session_id", F.sum(is_break).over(wcum))
    return with_sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


def sessionize_stream(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Streaming sessionization with per-user state: events accumulate
    into the open session; a gap beyond ``gap_minutes`` (or state
    timeout at watermark) closes it and emits the session row.

    State carries NANOSECOND bounds and the gap test runs on ``ts_ns``
    with the same (ts_ns, event_id) order as ``sessionize_batch`` — a
    µs-truncated test would disagree with the batch twin for raw-ns
    sources on gaps within 1 µs of the boundary. Emitted bounds
    truncate ns → µs, exactly like the batch form's min/max over the
    µs ``ts`` column."""
    gap_ns = gap_minutes * 60 * 1_000_000_000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start_ns, end_ns, n, sid = state.get
            state.remove()
            yield pd.DataFrame(
                [[user_id, sid, pd.Timestamp(start_ns // 1000, unit="us"), pd.Timestamp(end_ns // 1000, unit="us"), n]],
                columns=[f.name for f in SESSION_SCHEMA.fields],
            )
            return
        rows = pd.concat(list(pdfs)).sort_values(["ts_ns", "event_id"])
        if state.exists:
            start_ns, end_ns, n, sid = state.get
        else:
            start_ns = end_ns = None
            # first session is id 1, matching the batch form's running
            # SUM(is_break) numbering so the twins are row-identical
            n, sid = 0, 1
        out = []
        for ts_ns in rows["ts_ns"]:
            ts_ns = int(ts_ns)
            if end_ns is not None and ts_ns - end_ns > gap_ns:
                out.append([user_id, sid, pd.Timestamp(start_ns // 1000, unit="us"), pd.Timestamp(end_ns // 1000, unit="us"), n])
                sid += 1
                start_ns, n = ts_ns, 0
            if start_ns is None:
                start_ns = ts_ns
            end_ns = ts_ns
            n += 1
        state.update((start_ns, end_ns, n, sid))
        state.setTimeoutTimestamp(end_ns // 1_000_000 + gap_minutes * 60 * 1000)
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in SESSION_SCHEMA.fields])

    return (
        events.withWatermark("ts", f"{gap_minutes} minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType="start long, end long, n long, sid long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
