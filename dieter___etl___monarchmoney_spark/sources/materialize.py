"""Per-dataset materialized intermediate tables (the "build the edge
table ONCE" production pattern).

A similarity/candidate-pair join is typically the dominant cost of a
whole dedup or graph-analytics family; a real pipeline at 100 TB runs
it once into a materialized table that every downstream metric scans —
never once per metric. In-session ``persist()`` can't provide this
when a harness clears the cache between queries; parquet on local disk
survives, and column pruning on the read means a consumer projecting
two columns never deserializes the rest.

Safety properties:

- **Two-phase write** (tmp dir + atomic rename + atomic pointer
  swap): a crashed run can never leave a half-written table that a
  later read trusts (readers resolve the ``CURRENT`` pointer, which
  only ever names complete, immutable version dirs).
- **Content-fingerprinted cache key**: the directory name folds in a
  size+mtime fingerprint of the SOURCE files, not just the dataset
  path — a regenerated dataset at the same path (new seed/generator)
  misses the cache instead of silently serving stale derived rows.
- **Version tag**: callers bump ``tag`` whenever the derived-table
  semantics (parameters, schema) change, so a stale temp table can
  never satisfy a newer query.
- **Concurrency-safe publish**: each writer stages into its OWN
  ``mkdtemp`` directory, renames the complete table to a UNIQUE
  immutable version dir, then atomically swaps the ``CURRENT``
  pointer file. Nothing is ever deleted, so no interleaving of
  racing cold builders can break a reader pinned to a published
  version — the pointer is last-writer-wins over identical-content
  builds (the fingerprint pins the inputs), never mixed or partial.

Deployment note: node-local ``tempfile.gettempdir()`` is right for
this single-node sandbox only. On a real cluster the materialization
target is the shared warehouse / object store (``spark.sql.warehouse.
dir`` or an explicit table path) so every executor and every job sees
the same copy — the fingerprint/tag/two-phase logic transfers as-is;
only ``_base_dir`` changes.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dieter___etl___monarchmoney_spark.sources.parquet import sf_tag, table_files, table_path


def source_fingerprint(sf_dir: str, *tables: str) -> str:
    """Size+mtime fingerprint of the given tables under ``sf_dir``
    (every file of a directory table, recursively — see
    ``parquet.table_files``), hashed with the path.

    A named table that does not exist raises FileNotFoundError: silently
    omitting it would yield a fingerprint that never changes with the
    data — exactly the stale-derived-rows hazard the fingerprint exists
    to prevent (a typo'd ``source_tables`` entry must fail loudly)."""
    parts = [sf_dir]
    for table in tables:
        for name, size, mtime_ns in table_files(table_path(sf_dir, table)):
            parts.append(f"{name}:{size}:{mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


def layout_fixture(sf_dir: str, prefix: str, build: Callable[[str], None]) -> str:
    """A re-laid-out copy of ``sf_dir``'s events (a query's fixture, not
    its operator) at ``<tmp>/<prefix>_<sf_tag>``, built by ``build(out)``.

    The directory is named by the dataset path, so a dataset leaves one
    copy behind however often it is regenerated; the ``_SUCCESS_LAYOUT``
    marker holds the events fingerprint the copy was built from, and a
    different fingerprint (a dataset regenerated at the same path)
    rebuilds the copy instead of serving the old rows."""
    out = os.path.join(tempfile.gettempdir(), f"{prefix}_{sf_tag(sf_dir, 10)}")
    marker = os.path.join(out, "_SUCCESS_LAYOUT")
    fingerprint = source_fingerprint(sf_dir, "events")
    try:
        with open(marker) as fh:
            if fh.read() == fingerprint:
                return out
    except OSError:
        pass
    shutil.rmtree(out, ignore_errors=True)
    build(out)
    with open(marker, "w") as fh:
        fh.write(fingerprint)
    return out


def cache_path(sf_dir: str, tag: str, source_tables: tuple[str, ...]) -> str:
    """The on-disk location ``shared_materialized`` publishes to for
    (``tag``, source fingerprint). Exposed so tests (and operational
    tooling) never re-derive the layout from implementation details."""
    return os.path.join(
        tempfile.gettempdir(),
        f"shared_{tag}_{source_fingerprint(sf_dir, *source_tables)}",
    )


def current_table_dir(root: str) -> str | None:
    """The published version directory ``root/CURRENT`` points at, or
    None when nothing has been published yet (or the pointed-at
    version vanished — treated as unpublished)."""
    try:
        with open(os.path.join(root, "CURRENT")) as f:
            version = f.read().strip()
    except OSError:
        return None
    vdir = os.path.join(root, version)
    return vdir if version and os.path.isdir(vdir) else None


def point_current(root: str, version: str) -> None:
    """Publish ``root/version`` by atomically replacing the one-line
    ``root/CURRENT`` pointer — the single commit point of every
    versioned table: ``os.replace`` of a file over a file is atomic on
    POSIX, so a crash at any instant leaves either the prior pointer or
    the new one, never a missing or half-written one. The temp name is
    unique per call, so racing publishers never write into each
    other's pointer file."""
    tmp = os.path.join(root, f".CURRENT.{uuid.uuid4().hex[:12]}")
    with open(tmp, "w") as f:
        f.write(version)
    os.replace(tmp, os.path.join(root, "CURRENT"))


def shared_materialized(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    source_tables: tuple[str, ...],
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return the materialized table for (``tag``, source fingerprint),
    building it with ``build()`` on first use.

    Publish protocol — versioned dirs + an atomic pointer file (the
    simplified object-store commit pattern: versions are immutable,
    the pointer swap is the transaction):

    1. build into a private ``mkdtemp`` staging dir (a failed build
       can never orphan state under ``root``);
    2. rename the complete table to ``root/v_<unique>`` — version
       names are unique, so this can never collide with anything;
    3. atomically replace the one-line ``root/CURRENT`` file (POSIX
       file-over-file rename) to point at the new version.

    The publish path never deletes anything a reader could be pinned
    to MID-TRANSACTION — racing publishers are last-writer-wins on the
    pointer, and the source fingerprint in ``root``'s name guarantees
    every racer built the same rows. After a successful pointer swap,
    stale version dirs (not named by CURRENT, older than a grace
    period longer than any session) are best-effort pruned so racing
    cold builds and rename/swap crash leftovers don't accumulate a
    full table copy each under a warehouse/object-store root where no
    OS tempdir sweeper exists. Readers see either the old or the new
    complete version, never a mix."""
    root = cache_path(sf_dir, tag, source_tables)
    vdir = current_table_dir(root)
    if vdir is None:
        os.makedirs(root, exist_ok=True)
        stage = tempfile.mkdtemp(prefix=os.path.basename(root) + "_stage_")
        try:
            tmp_table = os.path.join(stage, "t")
            build().write.mode("overwrite").parquet(tmp_table)
            version = "v_" + uuid.uuid4().hex[:12]
            vdir = os.path.join(root, version)
            os.rename(tmp_table, vdir)
            point_current(root, version)
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        _prune_stale_versions(root, keep=os.path.basename(vdir))
    return spark.read.parquet(vdir)


def _prune_grace_sec() -> int:
    """Age below which a non-CURRENT version dir is never pruned.

    OPERATIONAL CONTRACT: a reader pinned to a superseded version (it
    resolved CURRENT, then a publisher swapped the pointer) keeps its
    parquet dir for at least this long — any batch/interactive session
    that might hold a pinned DataFrame longer MUST raise
    ``SPARK_GRAFT_MATERIALIZE_GRACE_SEC`` accordingly; the grace is
    the only thing standing between that reader and a mid-read delete
    (ADVICE r8: 'longer than any session' is a bound the operator
    enforces, not one the code can observe). Default is deliberately
    generous (24 h); the belt-and-braces newest-survivor rule in
    :func:`_prune_stale_versions` additionally protects the
    immediately-previous version at ANY age.

    A negative env value would put the cutoff in the FUTURE and sweep
    every non-newest version immediately — silently voiding the grace
    guarantee above — so the parsed value is clamped to >= 0 (ADVICE
    r9); unparseable values fall back to the default."""
    try:
        return max(
            0, int(os.environ.get("SPARK_GRAFT_MATERIALIZE_GRACE_SEC", 24 * 3600))
        )
    except ValueError:
        return 24 * 3600


def _prune_stale_versions(root: str, keep: str) -> None:
    """Best-effort sweep of version dirs under ``root`` that are not
    ``keep`` (the dir CURRENT names) and whose mtime is older than the
    grace period — EXCEPT the newest such dir: the immediately-previous
    version is never pruned regardless of age, so a reader pinned
    across an arbitrarily long session survives any single publish
    (only a SECOND publish makes its dir eligible, and then only after
    the grace). Runs only after a successful pointer swap; every
    failure is swallowed — pruning is hygiene, never correctness, and
    a racing publisher may have already removed the same dir."""
    import time

    cutoff = time.time() - _prune_grace_sec()
    try:
        entries = os.listdir(root)
    except OSError:
        return
    candidates = []
    for name in entries:
        if name == keep or not name.startswith("v_"):
            continue
        path = os.path.join(root, name)
        try:
            if os.path.isdir(path):
                candidates.append((os.stat(path).st_mtime, path))
        except OSError:
            continue
    if not candidates:
        return
    candidates.sort()
    # spare the newest non-CURRENT version unconditionally
    for mtime, path in candidates[:-1]:
        if mtime < cutoff:
            shutil.rmtree(path, ignore_errors=True)
