"""Sinks (SURVEY.md §2.1 K1-K6): the reference's Google-Sheets
clear-and-write becomes mode("overwrite") table writes; the Control
watermark cell becomes a one-row parquet table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_table(df: DataFrame, path: str) -> None:
    """K1 — truncate+overwrite sheet write (ws.clear(); ws.update(...)
    MonarchMoneyMain-v3.py:1097-1099, 1171-1174, 1330-1332)."""
    df.write.mode("overwrite").parquet(path)


def _hadoop_fs(spark: SparkSession, path: str):
    """The Hadoop FileSystem for ``path`` — the storage API that exists
    on HDFS and object stores alike, unlike local ``shutil``/``os``."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def staged_overwrite(
    df: DataFrame, path: str, partition_by: Sequence[str] = ()
) -> None:
    """K1 for self-referencing rewrites: a path can't be overwritten
    while a plan still reads it, so stage to a sibling directory and
    swap via the Hadoop FileSystem API (portable to HDFS/object stores;
    a lakehouse deployment would use Delta ``replaceWhere``/MERGE and
    skip the swap entirely). The one staged rewrite of the package:
    ``api.save`` (flat entity tables) and ``compact_table`` (flat, or
    ``partition_by`` its hive partition columns).

    Hadoop rename reports failure via its boolean, not an exception —
    and at that point the old target is already gone, so a silent False
    (cross-filesystem staging, concurrent writer) would lose the table
    without a trace; raise instead."""
    staging = path.rstrip("/") + "._staging"
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(staging)
    fs, target, jvm = _hadoop_fs(df.sparkSession, path)
    if fs.exists(target):
        fs.delete(target, True)
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(staging), target):
        raise IOError(f"rename {staging} -> {path} failed; table left in staging")


def delete_path(spark: SparkSession, path: str) -> bool:
    """Recursive delete through the Hadoop FileSystem API (K6 plumbing)."""
    fs, jpath, _ = _hadoop_fs(spark, path)
    if fs.exists(jpath):
        return bool(fs.delete(jpath, True))
    return False


def list_partition_values(
    spark: SparkSession, path: str, partition_col: str
) -> list[str]:
    """Partition values present in a ``partition_col=value``-laid-out
    table, read from the directory listing (no data scan)."""
    fs, jpath, _ = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return []
    prefix = partition_col + "="
    vals = []
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith(prefix):
            vals.append(name[len(prefix):])
    return sorted(vals)


def write_json(df: DataFrame, path: str) -> None:
    """K3 — JSON debug/demo dump (_save_debug MonarchMoneyMain-v3.py:
    231-241; monarchmoney/main.py:21-70)."""
    df.write.mode("overwrite").json(path)


def write_csv(df: DataFrame, path: str) -> None:
    """K4 — CSV export (upload_account_balance_history
    monarchmoney.py:2642-2665 consumes CSV content)."""
    df.write.mode("overwrite").option("header", True).csv(path)


def ensure_table(spark: SparkSession, path: str, like: DataFrame) -> DataFrame:
    """K5 — create-if-absent bootstrap (_ensure_ws
    MonarchMoneyMain-v3.py:76-81): if the path does not EXIST, write an
    empty frame with the given schema; return the (possibly fresh)
    table. Absence is a FileSystem existence check, never an exception
    catch — a transient read error (corrupt file, storage hiccup,
    permissions) on an existing populated table must raise, not
    trigger the bootstrap's overwrite and silently wipe it."""
    fs, target, _ = _hadoop_fs(spark, path)
    if not fs.exists(target):
        empty = spark.createDataFrame([], like.schema)
        empty.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def truncate_table(spark: SparkSession, path: str) -> None:
    """K6 — clear_and_reset.py:41-69 analog: overwrite with an empty
    frame of the same schema (keeps the table readable)."""
    schema = spark.read.parquet(path).schema
    spark.createDataFrame([], schema).write.mode("overwrite").parquet(path)


def read_sink(spark: SparkSession, path: str) -> DataFrame:
    """S10 — read the existing sink state back (ws.get_all_values()
    MonarchMoneyMain-v3.py:1304-1310), the input to the keep/replace
    merge."""
    return spark.read.parquet(path)


def snapshot_with_metadata(df: DataFrame, run_ts: str) -> DataFrame:
    """F16 — stamp the load timestamp column the way every sheet write
    does (loadedAtUtc, MonarchMoneyMain-v3.py:1269-1275)."""
    return df.withColumn("loadedAtUtc", F.lit(run_ts).cast("timestamp"))


def write_sorted_table(
    df: DataFrame, path: str, sort_col: str, n_files: int = 32
) -> None:
    """K1 variant — globally-ordered output WITHOUT a single-partition
    sort: ``repartitionByRange`` splits the key space into ``n_files``
    contiguous ranges (sampled range bounds, parallel exchange), then
    each partition sorts locally — file i holds keys strictly below
    file i+1, so consumers get total order at merge-read cost while the
    write itself never funnels through one reducer (the
    ``orderBy().write`` plan does exactly that).

    The reference's sheet writes are always ordered (O1/O2); this is
    that contract at a scale where "sort then write" is a cluster-wide
    bottleneck."""
    (
        df.repartitionByRange(n_files, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def _partition_cols_of(spark: SparkSession, path: str) -> list[str]:
    """ALL hive-layout partition columns of a table directory, outermost
    first (from nested ``col=value`` subdirectory names); empty for a
    flat table. Descends the first partition branch per level — hive
    layouts are uniform, every branch carries the same column chain.
    Detecting only the first level silently FLATTENED multi-level
    layouts on compaction (ADVICE r7): a=.../b=... came back as
    partitionBy(a) only, breaking the second level's pruning and
    retention."""
    cols: list[str] = []
    fs, jpath, _ = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return cols
    while True:
        nxt = None
        for status in fs.listStatus(jpath):
            name = status.getPath().getName()
            if status.isDirectory() and "=" in name and not name.startswith("."):
                cols.append(name.split("=", 1)[0])
                nxt = status.getPath()
                break
        if nxt is None:
            return cols
        jpath = nxt


def _count_parquet_files(spark: SparkSession, path: str) -> int:
    """Recursive ``.parquet`` file count — partition subdirs included,
    so the compaction manifest reports real numbers for hive layouts
    (the flat listStatus saw 0 files either side)."""
    fs, jpath, _ = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return 0
    n = 0
    it = fs.listFiles(jpath, True)  # recursive RemoteIterator
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            n += 1
    return n


def compact_table(spark: SparkSession, path: str, target_files: int = 8) -> dict:
    """Maintenance op the 100 TB lake actually needs: incremental loads
    leave one small file per micro-batch/partition-write; eventually the
    table is metadata-bound (open/seek per file dominates the scan).
    Rewrite to ``target_files`` via ``coalesce`` — a NARROW dependency:
    existing files concatenate into fewer tasks with no shuffle — then
    swap through the staged Hadoop-FS path. Returns a
    files-before/after manifest.

    PRESERVES a hive ``col=value`` layout: a partitioned table is
    rewritten ``partitionBy`` its partition column (repartitioned on it
    so each partition compacts toward one file) — flattening it would
    silently break ``list_partition_values``/``expire_partitions``
    retention and collide with the next dynamic partition write."""
    before = _count_parquet_files(spark, path)
    part_cols = _partition_cols_of(spark, path)
    df = spark.read.parquet(path)
    if part_cols:
        staged_overwrite(df.repartition(*part_cols), path, part_cols)
    else:
        staged_overwrite(df.coalesce(target_files), path)
    after = _count_parquet_files(spark, path)
    return {"files_before": before, "files_after": after}


def expire_partitions(
    spark: SparkSession, path: str, partition_col: str, keep_from: str
) -> dict:
    """Retention — drop partitions strictly below ``keep_from`` from a
    ``partition_col=value`` table via the Hadoop FileSystem API: a pure
    metadata operation (directory deletes), no scan, no rewrite of
    surviving data — at 100 TB the ONLY affordable way to enforce a
    retention window. Values compare as strings, which is correct for
    the zero-padded date/month formats the sinks write. Returns the
    dropped/kept manifest."""
    values = list_partition_values(spark, path, partition_col)
    dropped = [v for v in values if v < keep_from]
    for v in dropped:
        delete_path(spark, f"{path}/{partition_col}={v}")
    return {"dropped": dropped, "kept": [v for v in values if v >= keep_from]}


def save_bucketed_table(
    df: DataFrame, name: str, path: str, bucket_key: str, n_buckets: int = 32
) -> None:
    """Write a catalog table bucketed and sorted by ``bucket_key``.

    The co-located-join primitive: two facts bucketed the same way join
    WITHOUT any exchange — at 100 TB the shuffle of a fact-fact join is
    usually the single largest cost in the plan, and pre-bucketing both
    sides on the join key amortizes it into the write path once instead
    of paying it per query.

    ONE file per bucket: Spark only trusts (and reuses) a bucket's
    sortBy order when the bucket is a single file, and a spray of
    per-task files per bucket is the small-files antipattern at scale
    anyway. A repartition on the key with numPartitions == n_buckets
    uses the same murmur3 hash as the bucket assignment, so each write
    task holds exactly one whole bucket.
    test_plans.py::test_bucketed_join_needs_no_exchange pins the
    exchange-free plan."""
    (
        df.repartition(n_buckets, F.col(bucket_key))
        .write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, bucket_key)
        .sortBy(bucket_key)
        .saveAsTable(name)
    )
