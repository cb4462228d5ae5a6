"""Structured Streaming tests: availableNow rollup equivalence and the
stateful sessionizer vs its batch twin."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.sources.parquet import load_table
from dieter___etl___monarchmoney_spark.streaming.sessionize import (
    sessionize_batch,
    sessionize_stream,
)
from dieter___etl___monarchmoney_spark.streaming.stream_reader import (
    daily_rollup_stream,
    read_events_stream,
    run_available_now,
)
from tests.conftest import SF_SMOKE


def test_streaming_rollup_equals_batch(spark):
    stream = daily_rollup_stream(read_events_stream(spark, SF_SMOKE))
    got = run_available_now(stream, "t_stream_rollup")
    batch = (
        load_table(spark, "events", SF_SMOKE)
        .groupBy(F.col("ts").cast("date").alias("date"), "event_type")
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    g = {(r["date"], r["event_type"]): (r["total_value"], r["n_events"]) for r in got.collect()}
    b = {(r["date"], r["event_type"]): (r["total_value"], r["n_events"]) for r in batch.collect()}
    assert g == b


def test_sessionize_stream_matches_batch(spark, tmp_path):
    # small deterministic event set written as a streaming source dir
    rows = []
    base = dt.datetime(2024, 1, 1)
    for u in (1, 2):
        t = base
        for i in range(6):
            # 10-min steps with a 2-hour gap in the middle -> 2 sessions
            t = t + dt.timedelta(minutes=120 if i == 3 else 10)
            rows.append((u * 100 + i, t, u, "e", 1.0))
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type", "value"])
    df = df.withColumn("ts_ns", (F.col("ts").cast("long") * F.lit(1_000_000_000)))
    src = str(tmp_path / "events_src")
    df.write.parquet(src)

    batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessionize_batch(df).collect()
    }
    assert len(batch) == 4  # 2 users x 2 sessions

    stream_in = spark.readStream.schema(df.schema).parquet(src)
    out = sessionize_stream(stream_in)
    q = (
        out.writeStream.format("memory")
        .queryName("t_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("t_sessions").collect()
    }
    # the stream emits CLOSED sessions; the final open session per user
    # stays in state (no more data to advance the watermark past it)
    assert got <= batch
    assert len(got) >= 2  # at least the first session per user closed
    for row in got:
        assert row in batch


def test_sessionize_stream_ns_gap_boundary(spark, tmp_path):
    """The stream's gap test runs on ts_ns like the batch twin: a gap
    of 30min+1ns must BREAK the session in both implementations, and a
    gap of exactly 30min must break in NEITHER — a µs-truncated stream
    test would disagree on the +1ns case for raw-ns sources."""
    base_ns = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000_000
    gap_ns = 30 * 60 * 1_000_000_000
    rows = []
    # user 1: second event 30min+1ns later -> break (2 sessions)
    # user 2: second event exactly 30min later -> no break (1 session)
    for u, delta in ((1, gap_ns + 1), (2, gap_ns)):
        for i, off in enumerate((0, delta, delta + 1_000_000_000)):
            rows.append((u * 10 + i, base_ns + off, u, "e", 1.0))
    df = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string, value double"
    )
    from dieter___etl___monarchmoney_spark.sources.parquet import (
        _normalize_event_time,
    )

    df = _normalize_event_time(df)  # raw-ns long -> (ts µs, ts_ns)
    batch = {
        (r["user_id"], r["session_id"], r["n_events"])
        for r in sessionize_batch(df).collect()
    }
    # user 1 split 1+2, user 2 single 3-event session
    assert batch == {(1, 1, 1), (1, 2, 2), (2, 1, 3)}

    src = str(tmp_path / "ns_events_src")
    df.write.parquet(src)
    stream_in = spark.readStream.schema(df.schema).parquet(src)
    q = (
        sessionize_stream(stream_in)
        .writeStream.format("memory")
        .queryName("t_ns_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["session_id"], r["n_events"])
        for r in spark.table("t_ns_sessions").collect()
    }
    # only user 1's FIRST session closes in-stream (the rest stay open
    # in state) — and it must match the batch row exactly: the stream
    # saw the +1ns gap the µs truncation would have erased
    assert got == {(1, 1, 1)}

def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """The REAL watermark semantics (not just availableNow equivalence):
    with a 1-day watermark and append output, an event arriving in a
    later micro-batch for an already-closed daily window is DROPPED —
    the emitted window total includes only the on-time rows. This is the
    Spark-native upgrade of the reference's window-replacement late-data
    story (T2, MonarchMoneyMain-v3.py:1312-1333)."""
    import os
    import time

    src = tmp_path / "events_src"
    src.mkdir()

    def write_file(name, rows, mtime):
        df = spark.createDataFrame(
            rows, "ts timestamp, event_type string, value double"
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        # move the single part file into the source dir with a controlled
        # mtime so the file source processes files in this order
        part = [f for f in os.listdir(tmp_path / name) if f.startswith("part-")][0]
        dest = src / f"{name}.parquet"
        os.rename(tmp_path / name / part, dest)
        os.utime(dest, (mtime, mtime))

    d = dt.datetime
    t0 = time.time() - 1000
    # batch 1: one on-time jan-1 event + a jan-5 event that pushes the
    # watermark to jan-4 (past the jan-1 window's end)
    write_file("b1", [(d(2024, 1, 1, 10), "pay", 10.0), (d(2024, 1, 5, 9), "pay", 1.0)], t0)
    # batch 2: advances time further; during this batch the jan-1 window
    # is EVICTED from state and emitted (watermark guarantees are
    # one-directional: a late row can still merge while the window's
    # state lives, so the drop demonstration needs eviction first)
    write_file("b2", [(d(2024, 1, 7, 9), "pay", 1.0)], t0 + 100)
    # batch 3: a LATE jan-1 event — state is gone, row is dropped
    write_file("b3", [(d(2024, 1, 1, 23), "pay", 100.0)], t0 + 200)

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"))
        .select(F.col("w.start").cast("date").alias("date"), "event_type", "total_value")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late_drop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("t_late_drop").collect()
    jan1 = [r for r in rows if str(r["date"]) == "2024-01-01"]
    # jan-1 emitted exactly once, with ONLY the on-time value; the late
    # 100.0 was dropped against the advanced watermark, never re-emitted
    assert [r["total_value"] for r in jan1] == [10.0]
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    assert dropped == 1


def test_streaming_dedup_state_lifecycle(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics across micro-batches: a
    duplicate key is suppressed while its state lives, and once the
    watermark passes, the old-dated re-arrival is dropped as LATE rather
    than re-emitted — so a key is never emitted twice."""
    import os
    import time

    from dieter___etl___monarchmoney_spark.streaming.stream_reader import dedup_stream

    src = tmp_path / "events_src"
    src.mkdir()

    def write_file(name, rows, mtime):
        df = spark.createDataFrame(
            rows, "user_id long, event_type string, ts timestamp"
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = [f for f in os.listdir(tmp_path / name) if f.startswith("part-")][0]
        dest = src / f"{name}.parquet"
        os.rename(tmp_path / name / part, dest)
        os.utime(dest, (mtime, mtime))

    d = dt.datetime
    t0 = time.time() - 1000
    # b1: two physical duplicates of (u1, pay, jan-1) in one batch
    write_file("b1", [(1, "pay", d(2024, 1, 1, 10)), (1, "pay", d(2024, 1, 1, 11))], t0)
    # b2: the same key again while its dedup state is alive -> suppressed
    write_file("b2", [(1, "pay", d(2024, 1, 1, 12))], t0 + 100)
    # b3: a fresh key far in the future -> emits, advances the watermark
    write_file("b3", [(2, "pay", d(2024, 1, 5, 9))], t0 + 200)
    # b4: (u1, pay, jan-1) re-arrives after state eviction -> late, dropped
    write_file("b4", [(1, "pay", d(2024, 1, 1, 13))], t0 + 300)

    stream = (
        spark.readStream.schema("user_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("t_dedup_lifecycle")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sorted(
        (r["user_id"], r["event_type"], str(r["event_date"]))
        for r in spark.table("t_dedup_lifecycle").collect()
    )
    assert rows == [(1, "pay", "2024-01-01"), (2, "pay", "2024-01-05")]


def test_streaming_dedup_removes_duplicates(spark):
    from dieter___etl___monarchmoney_spark.queries.streaming_queries import (
        q_streaming_event_dedup,
    )

    events = load_table(spark, "events", SF_SMOKE)
    out = q_streaming_event_dedup(spark, SF_SMOKE)
    n_in, n_out = events.count(), out.count()
    # the synthetic events table genuinely repeats keys
    assert n_out < n_in
    assert (
        n_out
        == events.select(
            "user_id", "event_type", F.col("ts").cast("date")
        ).distinct().count()
    )


def test_checkpoint_resume_processes_only_delta(spark, tmp_path):
    """T1-T4 as Structured Streaming proper: a checkpointed availableNow
    query over a growing file-source directory. Run 1 processes the
    initial file; a new file lands; run 2 RESUMES from the checkpoint
    and processes only the delta (the watermark lives in the checkpoint,
    not a hand-rolled control table). The parquet sink accumulates
    append-mode output across runs — the streaming-native form of the
    incremental loader's read-watermark -> window -> advance cycle."""
    import datetime as dt

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, ts timestamp, user_id long, value double"

    def write_batch(ids, day):
        rows = [
            (i, dt.datetime(2024, 1, day, 8 + (i % 4)), i % 3, float(i))
            for i in ids
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src).select(
            "event_id", "user_id", "value"
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_batch(range(0, 10), day=1)
    run_once()
    first = spark.read.parquet(sink)
    assert first.count() == 10

    write_batch(range(100, 105), day=2)
    run_once()
    out = spark.read.parquet(sink)
    # resumed run appended ONLY the 5 new events — nothing reprocessed
    assert out.count() == 15
    assert out.filter(F.col("event_id") >= 100).count() == 5
    assert out.select("event_id").distinct().count() == 15


def test_foreachbatch_upsert_multi_batch(spark):
    """The foreachBatch upsert must really exercise the incremental
    path: the source is chunked to 4 files with maxFilesPerTrigger=1,
    so the checkpoint must record MULTIPLE committed batches (a
    single-batch run would make the merge-with-state branch dead code),
    and the final state must have exactly one row per key."""
    import glob
    import hashlib
    import os
    import tempfile

    from dieter___etl___monarchmoney_spark.registry import load

    QUERIES, _ = load()
    out = QUERIES["streaming_upsert_foreachbatch"](spark, SF_SMOKE)
    keys = out.select("user_id", "event_type")
    assert keys.count() == keys.distinct().count()
    tag = hashlib.md5(SF_SMOKE.encode()).hexdigest()[:8]
    commits = glob.glob(
        os.path.join(tempfile.gettempdir(), f"upsert_fb_{tag}", "cp", "commits", "*")
    )
    assert len([c for c in commits if not c.endswith(".tmp")]) >= 2
