"""Incremental load protocol tests (SURVEY.md §2.9 T1-T4, §3.1 steps 5-10):
watermark lifecycle, window derivation with force flags, replace-window
idempotence."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.sources.parquet import load_table
from dieter___etl___monarchmoney_spark.streaming.incremental import (
    derive_window,
    read_watermark,
    replace_window_merge,
    reset_control,
    run_incremental_load,
    write_watermark,
)
from tests.conftest import SF_SMOKE

NOW = dt.datetime(2024, 3, 1, 12, 0, 0)


def test_watermark_roundtrip(spark, tmp_path):
    ctl = str(tmp_path / "control")
    assert read_watermark(spark, ctl) is None
    write_watermark(spark, ctl, NOW)
    assert read_watermark(spark, ctl) == NOW
    reset_control(spark, ctl)
    assert read_watermark(spark, ctl) is None  # blank value -> backfill


def test_control_rows_are_jvm_local(spark, tmp_path, monkeypatch):
    """The watermark and reset writes plan their one row as a JVM-local
    LocalRelation, not a LogicalRDD over a Python RDD (whose every
    action starts a Python worker); the table keeps its schema, its
    single file and its round trip."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans = []
    write = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().analyzed().toString())
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    ctl = tmp_path / "control"
    write_watermark(spark, str(ctl), NOW)
    assert read_watermark(spark, str(ctl)) == NOW
    assert spark.read.parquet(str(ctl)).schema.simpleString() == "struct<key:string,value:string>"
    assert len(list(ctl.glob("*.parquet"))) == 1
    reset_control(spark, str(ctl))
    assert read_watermark(spark, str(ctl)) is None
    assert len(plans) == 2
    for plan in plans:
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_corrupt_existing_control_raises_not_backfills(spark, tmp_path):
    # absence is an existence check, never an exception catch: a
    # transient/corrupt read on an EXISTING control must surface — the
    # swallowed form silently reclassified an up-to-date deployment as
    # never-run and triggered a full multi-year re-extract
    import pytest

    ctl = tmp_path / "control"
    ctl.mkdir()
    (ctl / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception):
        read_watermark(spark, str(ctl))


def test_derive_window_policies():
    wm = dt.datetime(2024, 2, 10, 8, 30)
    # normal: start-of-day of the watermark (MonarchMoneyMain-v3.py:1250-1258)
    assert derive_window(wm, NOW) == (dt.date(2024, 2, 10), NOW)
    # no watermark -> backfill_days
    start, _ = derive_window(None, NOW, backfill_days=10)
    assert start == dt.date(2024, 2, 20)
    # FORCE_FULL_REFRESH ignores the watermark
    start, _ = derive_window(wm, NOW, backfill_days=10, force_full_refresh=True)
    assert start == dt.date(2024, 2, 20)
    # FORCE_START_DATE overrides everything
    start, _ = derive_window(wm, NOW, force_start_date=dt.date(2023, 1, 1))
    assert start == dt.date(2023, 1, 1)


def test_replace_window_merge_semantics(spark):
    existing = spark.createDataFrame(
        [("a", dt.date(2024, 1, 1), 1.0), ("b", dt.date(2024, 2, 1), 2.0)],
        ["id", "d", "v"],
    )
    fresh = spark.createDataFrame(
        [("b", dt.date(2024, 2, 1), 99.0), ("c", dt.date(2024, 2, 2), 3.0)],
        ["id", "d", "v"],
    )
    merged = replace_window_merge(existing, fresh, "d", dt.date(2024, 2, 1))
    got = {r["id"]: r["v"] for r in merged.collect()}
    # 'a' kept (before window), 'b' replaced by fresh value, 'c' added
    assert got == {"a": 1.0, "b": 99.0, "c": 3.0}


def test_run_incremental_load_idempotent(spark, tmp_path):
    sink = str(tmp_path / "sink")
    ctl = str(tmp_path / "ctl")
    # the events all fall in 2024-01: spread them back over the three
    # months before it, so the re-run has earlier months to keep
    shift = (F.col("event_id") % 90).cast("int")
    events = load_table(spark, "events", SF_SMOKE).select(
        "event_id", F.date_sub(F.col("ts").cast("date"), shift).alias("d"), "value"
    )

    def load():
        return run_incremental_load(
            spark,
            source=events,
            sink_path=sink,
            control_path=ctl,
            date_col="d",
            now=dt.datetime(2024, 1, 20),
            backfill_days=3650,
        )

    m1 = load()
    n1 = spark.read.parquet(sink).count()
    assert n1 > 0
    # first run: a backfill into an empty sink keeps and clears nothing
    assert m1["partitions"]["kept"] == [] and m1["partitions"]["cleared"] == []
    # second run from the new watermark re-extracts only the watermark's
    # month and overwrites its partition — every earlier month is kept
    # untouched and the total row count is unchanged
    m2 = load()
    n2 = spark.read.parquet(sink).count()
    assert n2 == n1
    assert m2["window_start"] == "2024-01-20"
    assert m2["partition_start"] == "2024-01-01"
    months = m1["partitions"]["replaced"]
    assert m2["partitions"]["kept"] == [p for p in months if p < "2024-01"] != []
    assert m2["partitions"]["replaced"] == [p for p in months if p >= "2024-01"]
    assert m2["partitions"]["cleared"] == []
    # watermark advanced
    assert read_watermark(spark, ctl) == dt.datetime(2024, 1, 20)
