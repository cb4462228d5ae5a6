"""SparkSession factory.

Reference parity notes (SURVEY.md §4 physical-execution notes):
- session timezone is UTC to match the reference's `_parse_iso` UTC
  normalization (MonarchMoneyMain-v3.py:181-187);
- AQE is on so skewed joins/aggs re-plan at runtime — at 100 TB the
  fact-table group-bys and joins need AQE skew handling and coalesced
  shuffle partitions;
- Arrow is on for the (rare) Pandas-UDF extension operators.

``spark.sql.shuffle.partitions`` defaults to a local-mode-friendly value;
on a real cluster let AQE coalesce from a high initial number instead.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dieter-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the configured SparkSession."""
    # Python WORKERS deserialize our classes/functions by module
    # reference (custom Data Source, pandas-UDF closures), so the repo
    # root must be importable in the worker interpreter too — exported
    # via PYTHONPATH BEFORE the JVM launches (workers inherit the JVM's
    # env); a driver-side sys.path insert alone only fixes the driver.
    repo_root = str(Path(__file__).resolve().parents[1])
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # nanosecond INT64 parquet timestamps (if a producer ever writes
        # them) surface as raw longs instead of failing the scan; the
        # loader branches on the read dtype (sources/parquet.py). Set
        # here, once, instead of as a read side-effect.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python Data Source predicate pushdown (paged_json's
        # filterPushdown=true reader) — off upstream by default
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Library default stays MODEST: a 24g Xmx default would
        # OOM-kill get_spark() users on smaller hosts. The
        # full-registry harness scripts — where an 8g heap under 32
        # concurrent tasks GC-stalled multi-second pauses onto random
        # queries — get SPARK_DRIVER_MEMORY=24g from harness.session();
        # that tuning belongs to the harness, not the shared session
        # factory. Cluster deployments size driver/executor memory
        # explicitly.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def ship_package(spark: SparkSession) -> str:
    """Make this package importable by the session's Python WORKERS via
    ``SparkContext.addPyFile`` — for sessions whose executors don't
    have the package installed (a cluster without a baked image, a
    host harness whose cwd is outside the repo).

    The two custom connectors don't need this (their ``register()``
    ships classes by value through :func:`register_data_source`);
    every OTHER Python lane — Arrow/Pandas UDFs, ``mapInPandas``,
    ``applyInPandas(WithState)`` — pickles its closures BY REFERENCE,
    so workers must import the package by name. ``get_spark()`` covers
    local mode by exporting PYTHONPATH before the JVM launches; this
    helper covers sessions built elsewhere: it zips the package
    one-dir-up (so the archive root contains
    ``dieter___etl___monarchmoney_spark/``) and registers the zip,
    which Spark distributes and prepends to every worker's sys.path.

    Returns the zip path. The filename carries a CONTENT HASH of the
    sources (ADVICE r10): Spark dedupes ``addPyFile`` by name, so a
    hash-derived name makes re-shipping unchanged code an exact no-op
    while changed code automatically gets a fresh name a long-lived
    cluster will distribute — no manually-bumped version constant to
    forget. The zip is built in a process-unique temp file and
    ``os.replace``d into place (atomic on POSIX), so two concurrent
    processes on one box can never distribute each other's
    half-written archive; an already-present hash-named zip is reused
    as-is (same content by construction)."""
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = Path(__file__).resolve().parent
    files = sorted(pkg_dir.rglob("*.py"))
    h = hashlib.sha256()
    for py in files:
        h.update(str(py.relative_to(pkg_dir.parent)).encode())
        h.update(b"\0")
        h.update(py.read_bytes())
        h.update(b"\0")
    zip_path = os.path.join(
        tempfile.gettempdir(),
        f"{pkg_dir.name}-{h.hexdigest()[:16]}-pyfiles.zip",
    )
    if not os.path.exists(zip_path):
        fd, tmp = tempfile.mkstemp(
            suffix=".zip", prefix=f"{pkg_dir.name}-", dir=tempfile.gettempdir()
        )
        try:
            with os.fdopen(fd, "wb") as fh:
                with zipfile.ZipFile(fh, "w", zipfile.ZIP_DEFLATED) as zf:
                    for py in files:
                        zf.write(py, arcname=str(py.relative_to(pkg_dir.parent)))
            os.replace(tmp, zip_path)
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise
    spark.sparkContext.addPyFile(zip_path)
    return zip_path


def register_data_source(spark: SparkSession, source_cls, *modules) -> None:
    """Register a Python ``DataSource`` with ``spark``, idempotently,
    shipping ``modules`` (the source's own module and any module its
    tasks call into) to Python workers BY VALUE.

    A by-reference pickle would require this package on every worker's
    import path, which a host harness driving an arbitrary cwd/session
    may not provide. The registration MUST target PySpark's VENDORED
    cloudpickle (``pyspark.cloudpickle`` — the module
    ``pyspark.serializers`` actually dumps with); registering only the
    standalone ``cloudpickle`` package is a no-op for Spark's serializer
    (found live: a bare session launched from a cwd outside the repo
    failed worker-side with ModuleNotFoundError despite the standalone
    registration). The standalone registration is kept for any
    non-Spark pickle path. A source already registered in this session
    is not an error."""
    from pyspark import cloudpickle as _spark_cloudpickle

    for mod in modules:
        _spark_cloudpickle.register_pickle_by_value(mod)
        try:
            import cloudpickle

            cloudpickle.register_pickle_by_value(mod)
        except ImportError:
            pass  # standalone cloudpickle is optional; Spark uses vendored
    try:
        spark.dataSource.register(source_cls)
    except Exception as exc:  # already registered in this session
        if "already" not in str(exc).lower():
            raise
