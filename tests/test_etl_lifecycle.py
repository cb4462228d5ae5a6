"""End-to-end ETL lifecycle test (SURVEY.md §3.1): both runs idempotent,
watermark advances, all three sinks written — and the transactions sink
is month-partitioned with the second run's manifest proving only the
reload window's partitions were touched (T2 at scale)."""

from __future__ import annotations

import datetime as dt
import os

from dieter___etl___monarchmoney_spark.etl import run_etl
from dieter___etl___monarchmoney_spark.sources.sinks import read_sink
from dieter___etl___monarchmoney_spark.streaming.incremental import read_watermark
from tests.conftest import SF_SMOKE


def test_full_lifecycle_idempotent(spark, tmp_path):
    out = str(tmp_path / "warehouse")
    now = dt.datetime(1998, 6, 1, 12, 0, 0)  # mid-range: window replaces a slice
    m1 = run_etl(spark, SF_SMOKE, out, now=now)
    assert m1["rows"] > 0 and m1["budget_rows"] > 0
    txns1 = read_sink(spark, f"{out}/transactions")
    n1 = txns1.count()
    assert "loadedAtUtc" in txns1.columns and "AccDispName" in txns1.columns
    assert read_sink(spark, f"{out}/accounts").count() == 150
    assert read_watermark(spark, f"{out}/control") == now

    # sink is laid out as txn_month=yyyy-MM partition directories
    parts = sorted(
        d for d in os.listdir(f"{out}/transactions") if d.startswith("txn_month=")
    )
    assert parts and all(d.startswith("txn_month=19") for d in parts)

    # first run backfills: every partition replaced, nothing kept/stale
    assert m1["partitions"]["kept"] == [] and m1["partitions"]["cleared"] == []
    assert len(m1["partitions"]["replaced"]) == len(parts)

    # re-run at the same "now": the window re-extracts and replaces,
    # so the row count must not change (reference idempotence, T2)
    m2 = run_etl(spark, SF_SMOKE, out, now=now)
    assert read_sink(spark, f"{out}/transactions").count() == n1
    # second window starts at the watermark day, not the backfill
    assert m2["window_start"] == "1998-06-01"
    assert m2["partition_start"] == "1998-06-01"
    # manifest proof of scale behavior: only the window's single month
    # was rewritten; every earlier partition stayed untouched
    assert m2["partitions"]["replaced"] == ["1998-06"]
    assert m2["partitions"]["cleared"] == []
    assert len(m2["partitions"]["kept"]) == len(parts) - 1


def test_run_etl_leaves_nothing_cached(spark, tmp_path):
    """The budgets stage caches nothing and the transactions stage
    releases its pinned reload window when it ends, so a scheduled run
    leaves the session's cache empty."""
    from dieter___etl___monarchmoney_spark import pins

    pins.release()
    spark.catalog.clearCache()
    run_etl(spark, SF_SMOKE, str(tmp_path / "warehouse"), now=dt.datetime(1998, 6, 1))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
