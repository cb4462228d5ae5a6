"""Incremental load protocol (SURVEY.md §2.9 T1-T4, §2.3 J4, §2.7 U1).

The reference's incremental machinery (MonarchMoneyMain-v3.py:1218-1337):
read a ``last_run_utc`` watermark from a control table, derive the reload
window [start-of-day(watermark), now], re-extract the WHOLE window, keep
existing rows strictly before the window start, replace everything inside
it, then advance the watermark. Late/changed data is handled because the
window restarts at the watermark day (T2) — re-runs are idempotent.

Spark mapping: the sink is month-partitioned, so keep/replace is a
partition overwrite touching only the window's partitions, never a full
rewrite (:func:`run_incremental_load`). The relational form of the same
merge — a filter + unionByName, exactly the reference's
`kept + txn_norm` — is :func:`replace_window_merge`.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.sources.local import local_frame

WATERMARK_KEY = "last_run_utc"


def read_watermark(spark: SparkSession, control_path: str) -> dt.datetime | None:
    """T1 — read the control table's watermark (Control!B2 analog,
    MonarchMoneyMain-v3.py:1218-1225). Control is a tiny key/value
    parquet table (FIXTURES.md §9).

    Absence is an EXISTENCE check, never an exception catch: a
    missing control table legitimately means "first run, backfill",
    but a transient read failure on an EXISTING control (corrupt
    footer, storage hiccup, permissions) must surface. Swallowed, it
    would silently reclassify an up-to-date deployment as never-run
    and trigger a full multi-year re-extract — at 100 TB that is the
    difference between reloading one day and reloading the table."""
    from dieter___etl___monarchmoney_spark.sources.sinks import _hadoop_fs

    fs, target, _ = _hadoop_fs(spark, control_path)
    if not fs.exists(target):
        return None
    rows = (
        spark.read.parquet(control_path)
        .filter(F.col("key") == WATERMARK_KEY)
        .collect()
    )
    if not rows or rows[0]["value"] in (None, ""):
        return None
    return dt.datetime.fromisoformat(rows[0]["value"])


def write_watermark(spark: SparkSession, control_path: str, ts: dt.datetime) -> None:
    """T3 — advance the watermark post-commit
    (MonarchMoneyMain-v3.py:1336-1337)."""
    _write_control(spark, control_path, ts.isoformat())


def derive_window(
    watermark: dt.datetime | None,
    now: dt.datetime,
    *,
    backfill_days: int = 3650,
    force_full_refresh: bool = False,
    force_start_date: dt.date | None = None,
) -> tuple[dt.date, dt.datetime]:
    """T1/T4 — reload-window derivation (MonarchMoneyMain-v3.py:1228-1259):
    start = start-of-day(watermark); no watermark or forced refresh ⇒
    backfill_days before now; FORCE_START_DATE overrides everything."""
    if force_start_date is not None:
        return force_start_date, now
    if watermark is None or force_full_refresh:
        return (now - dt.timedelta(days=backfill_days)).date(), now
    return watermark.date(), now


def replace_window_merge(
    existing: DataFrame, fresh: DataFrame, date_col: str, window_start: dt.date
) -> DataFrame:
    """J4 + U1 + T2 — keep existing rows strictly before the window
    start, replace everything at/after it with the fresh extract
    (MonarchMoneyMain-v3.py:1312-1326). ``unionByName`` with missing-column
    tolerance mirrors the reference's re-flattening of legacy rows to the
    merged key set (U2 schema-union)."""
    kept = existing.filter(F.col(date_col) < F.lit(window_start.isoformat()))
    return kept.unionByName(fresh, allowMissingColumns=True)


#: sink partition granularity: month keeps directory counts sane for a
#: multi-year daily-grain fact (a 100 TB deployment with heavier daily
#: volume would partition daily — same code, ``yyyy-MM-dd`` format).
PARTITION_COL = "txn_month"
_PARTITION_FMT = "yyyy-MM"


def month_floor(d: dt.date) -> dt.date:
    """Reload windows must align to the sink's partition grain: widening
    the window start to its month keeps the boundary partition complete
    after a partition overwrite (rows before the watermark day but
    inside its month are re-extracted, not dropped)."""
    return d.replace(day=1)


def overwrite_window_partitions(
    fresh: DataFrame, sink_path: str, date_col: str, window_start: dt.date
) -> dict:
    """T2 at scale — dynamic partition overwrite of only the reload
    window's partitions; the table is never fully rewritten and the
    pre-window partitions are never even listed by the write.

    ``window_start`` must be partition-aligned (see :func:`month_floor`);
    ``fresh`` is filtered to the window, stamped with the derived
    partition column, and written with ``partitionOverwriteMode=dynamic``
    so only partitions that receive fresh rows are replaced. Window
    partitions that exist in the sink but got NO fresh rows are then
    cleared through the Hadoop FileSystem API (replace semantics: the
    reference drops everything at/after the window start), which works
    on object stores — no local-FS staging, no rmtree.

    Returns a manifest: ``replaced`` (partitions overwritten),
    ``cleared`` (stale window partitions deleted), ``kept`` (pre-window
    partitions untouched) — the observable proof that a reload touched
    only its window.
    """
    from dieter___etl___monarchmoney_spark.sources.sinks import (
        delete_path,
        list_partition_values,
    )

    spark = fresh.sparkSession
    part_start = window_start.strftime("%Y-%m")
    before = list_partition_values(spark, sink_path, PARTITION_COL)
    # the partitions that received fresh rows are observed on the write
    # itself (post-write directory listings would conflate replaced with
    # stale-but-still-present partitions), so the extract is read once
    written = Observation()
    (
        fresh.filter(F.col(date_col) >= F.lit(window_start.isoformat()))
        .withColumn(PARTITION_COL, F.date_format(F.col(date_col), _PARTITION_FMT))
        .observe(written, F.sort_array(F.collect_set(PARTITION_COL)).alias("replaced"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(PARTITION_COL)
        .parquet(sink_path)
    )
    replaced = written.get["replaced"]
    stale = [p for p in before if p >= part_start and p not in replaced]
    for p in stale:
        delete_path(spark, f"{sink_path}/{PARTITION_COL}={p}")
    return {
        "replaced": replaced,
        "cleared": stale,
        "kept": [p for p in before if p < part_start],
    }


def run_incremental_load(
    spark: SparkSession,
    *,
    source: DataFrame,
    sink_path: str,
    control_path: str,
    date_col: str,
    now: dt.datetime,
    backfill_days: int = 3650,
) -> dict:
    """The full T1→T4 lifecycle against a month-partitioned parquet sink
    (§3.1 steps 5-10): watermark → window → partition overwrite of the
    window → advance the watermark.

    The window start widens to its month (:func:`month_floor`): the
    boundary partition is re-extracted whole, so pre-window partitions
    are never read, listed, or rewritten (T2 at scale). The watermark
    write happens after the sink write — same non-atomicity as the
    reference (§3.1 step 10), safe for the same reason: re-runs
    re-extract and replace the whole window.

    Returns the window and the partition manifest of
    :func:`overwrite_window_partitions`.
    """
    wm = read_watermark(spark, control_path)
    start, end = derive_window(wm, now, backfill_days=backfill_days)
    part_start = month_floor(start)
    fresh = source.filter(
        (F.col(date_col) >= F.lit(part_start.isoformat()))
        & (F.col(date_col) <= F.lit(end.date().isoformat()))
    )
    partitions = overwrite_window_partitions(fresh, sink_path, date_col, part_start)
    write_watermark(spark, control_path, end)
    return {
        "window_start": start.isoformat(),
        "partition_start": part_start.isoformat(),
        "partitions": partitions,
    }


def reset_control(spark: SparkSession, control_path: str) -> None:
    """K6 — clear_and_reset.py analog: blank the watermark so the next
    run backfills."""
    _write_control(spark, control_path, "")


def _write_control(spark: SparkSession, control_path: str, value: str) -> None:
    """Overwrite the control table with the one watermark row, as one
    file. The row is a JVM-local frame, so the write starts no Python
    worker."""
    local_frame(spark, {"key": [WATERMARK_KEY], "value": [value]}).coalesce(
        1
    ).write.mode("overwrite").parquet(control_path)
