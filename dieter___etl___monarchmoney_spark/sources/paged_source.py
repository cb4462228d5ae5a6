"""Custom Python Data Source: paged JSON connection scans (SURVEY.md
§2.1 S1/S3, §7.4 "Optional custom DataSource").

The reference's extraction core is a SERIAL pagination loop — fetch a
page of ``limit`` records at ``offset``, append, repeat until short page
(``results(offset, limit, orderBy)`` monarchmoney.py:1444-1452 driven by
the while-loop in MonarchMoneyMain-v3.py:1276-1302). The Spark-first
re-expression: each page is an ``InputPartition``, so the pages a
single-threaded client fetched one after another become parallel tasks —
the planner sees one scan, the cluster fetches every page at once, and
downstream operators consume a normal DataFrame.

The payload here is a JSON-lines file standing in for the remote API
(the container has no network; the page slicing, partition planning, and
schema contract are the real thing). A live deployment swaps the file
seek in ``PagedJsonReader.read`` (the executor-side page fetch) for the
HTTP call — with the T6 retry wrapper (json_ingest.with_retries) around
it — and nothing else changes.
"""

from __future__ import annotations

import json

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

DEFAULT_PAGE_SIZE = 500  # TXN_PAGE_LIMIT, MonarchMoneyMain-v3.py:42


class PageRange(InputPartition):
    """One page of the connection: [offset, offset + limit) records,
    starting at ``byte_start`` in the payload file so the reading task
    seeks straight to its page instead of re-scanning the prefix."""

    def __init__(self, offset: int, limit: int, byte_start: int = 0):
        self.offset = offset
        self.limit = limit
        self.byte_start = byte_start


class PagedJsonDataSource(DataSource):
    """``spark.read.format("paged_json")`` — options:

    - ``path``: JSON-lines file, one record per line (the "server");
    - ``pageSize``: records per page (default 500);
    - ``maxPartitions``: cap on read tasks (default 200). Up to this
      many pages map 1:1 onto InputPartitions; past it, CONSECUTIVE
      pages pack into each task (a task fetches its pages serially,
      exactly like the reference's loop, while tasks still run in
      parallel). Without the cap a 100 TB connection at API page
      granularity would plan millions of few-KB tasks and scheduler /
      Python-worker overhead would dominate the scan;
    - ``filterPushdown``: "true" opts into server-side predicate
      pushdown. Opt-IN because Spark refuses any reader that merely
      IMPLEMENTS ``pushFilters`` while
      ``spark.sql.python.filterPushdown.enabled`` is false — a session
      this package didn't build may have it off, so the capability must
      not be ambient;
    - user-supplied ``.schema(...)`` is required — the reference's
      typed-column contract (O7) applies at the connector edge, not
      after a permissive infer.
    """

    @classmethod
    def name(cls) -> str:
        return "paged_json"

    def schema(self):
        raise ValueError(
            "paged_json requires an explicit .schema(...) — the column "
            "contract is part of the connector surface (SURVEY §2.6 O7)"
        )

    def reader(self, schema: StructType) -> "PagedJsonReader":
        if self.options.get("filterpushdown", "false").lower() == "true":
            return PushdownPagedJsonReader(schema, self.options)
        return PagedJsonReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> "PagedJsonWriter":
        return PagedJsonWriter(schema, self.options, overwrite)

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> "PagedJsonStreamWriter":
        return PagedJsonStreamWriter(schema, self.options)


class PagedJsonReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema_ = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("paged_json requires option 'path'")
        self.page_size = int(options.get("pagesize", DEFAULT_PAGE_SIZE))
        self.max_partitions = int(options.get("maxpartitions", 200))
        if self.max_partitions < 1:
            raise ValueError("maxPartitions must be >= 1")
        # malformed-record policy: "fail" (default — a corrupt page is a
        # pipeline stop, the reference's behavior on a bad API payload)
        # or "drop" (skip the record; the count survives in task logs).
        # PERMISSIVE-with-corrupt-column is the third classic mode; the
        # typed-schema contract here has no string column to park the
        # raw record in, so it is deliberately not offered.
        self.bad_policy = options.get("badrecordpolicy", "fail").lower()
        if self.bad_policy not in ("fail", "drop"):
            raise ValueError("badRecordPolicy must be 'fail' or 'drop'")
        self.pushed: list = []

    def _matches(self, rec: dict) -> bool:
        from pyspark.sql import datasource as ds

        for f in self.pushed:
            v = rec.get(f.attribute[0])
            if isinstance(f, ds.IsNull):
                ok = v is None
            elif isinstance(f, ds.IsNotNull):
                ok = v is not None
            elif v is None:
                ok = False  # NULL compares unknown -> filtered
            elif isinstance(f, ds.EqualTo):
                ok = v == f.value
            elif isinstance(f, ds.In):
                ok = v in f.value
            elif isinstance(f, ds.GreaterThan):
                ok = v > f.value
            elif isinstance(f, ds.GreaterThanOrEqual):
                ok = v >= f.value
            elif isinstance(f, ds.LessThan):
                ok = v < f.value
            else:
                ok = v <= f.value
            if not ok:
                return False
        return True

    def partitions(self):
        """Planning-time metadata pass (the reference's totalCount probe,
        monarchmoney.py:1436): counts records AND records the byte offset
        where each page starts, so every read task seeks straight to its
        first page. Total I/O across P pages is one planning pass + one
        contiguous range per task — O(file), not the O(P²·page) a
        per-task prefix re-scan would cost.

        Task fan-out is bounded by ``maxPartitions``: past the cap,
        ``ceil(P / maxPartitions)`` CONSECUTIVE pages pack into one
        partition — consecutive pages are a contiguous byte range, so a
        packed task is still a single seek + bounded read, and page
        count (which grows with the table) stops dictating task count
        (which should track the cluster). An r9 sweep measured the
        per-page planning at 37 records/task dominating the 4x-scaled
        scan — the pack is what keeps the connector linear-in-bytes
        instead of linear-in-pages-times-task-overhead."""
        page_starts: list[int] = []
        n = 0
        pos = 0
        with open(self.path, "rb") as f:
            for line in f:
                if line.strip():
                    if n % self.page_size == 0:
                        page_starts.append(pos)
                    n += 1
                pos += len(line)
        if n == 0:
            return [PageRange(0, self.page_size, 0)]
        pages = len(page_starts)
        per_task = -(-pages // self.max_partitions)  # ceil
        return [
            PageRange(
                i * self.page_size,
                per_task * self.page_size,
                page_starts[i],
            )
            for i in range(0, pages, per_task)
        ]

    def read(self, partition: PageRange):
        """Executor-side page fetch: seek to the page's byte offset and
        materialize ONLY its records — the distributed twin of the
        reference's per-request ``results[offset : offset+limit]`` —
        applying the pushed predicates before emitting (the
        "server-side" filter)."""
        fields = [f.name for f in self.schema_.fields]
        with open(self.path, "rb") as f:
            f.seek(partition.byte_start)
            seen = 0
            for line in f:
                if not line.strip():
                    continue
                if seen >= partition.limit:
                    break
                try:
                    rec = json.loads(line)
                except ValueError:
                    if self.bad_policy == "fail":
                        raise
                    seen += 1  # a dropped record still occupies its page slot
                    continue
                if self._matches(rec):
                    yield tuple(rec.get(name) for name in fields)
                seen += 1


class PushdownPagedJsonReader(PagedJsonReader):
    """The ``filterPushdown=true`` variant: implements ``pushFilters``.
    A separate class because Spark REJECTS any reader that implements
    the method while ``spark.sql.python.filterPushdown.enabled`` is
    false — the capability must be requested, not ambient."""

    def pushFilters(self, filters):
        """Absorb the predicates a paged API evaluates server-side (the
        reference's filter arguments, monarchmoney.py:1510-1550): simple
        comparisons, IN lists, and null checks on top-level columns.
        Absorbed filters are NOT returned — this reader applies them
        exactly (SQL ternary semantics: a comparison on a missing/null
        value excludes the record), so Spark need not re-evaluate;
        anything else is yielded back for post-scan evaluation."""
        from pyspark.sql import datasource as ds

        supported = (
            ds.EqualTo,
            ds.In,
            ds.GreaterThan,
            ds.GreaterThanOrEqual,
            ds.LessThan,
            ds.LessThanOrEqual,
            ds.IsNull,
            ds.IsNotNull,
        )
        for f in filters:
            if isinstance(f, supported) and len(f.attribute) == 1:
                self.pushed.append(f)
            else:
                yield f


def register(spark) -> None:
    """Idempotent registration of the format with a session; the classes
    ship to Python workers by value (see
    ``session.register_data_source``)."""
    import sys

    from dieter___etl___monarchmoney_spark.session import register_data_source

    register_data_source(spark, PagedJsonDataSource, sys.modules[__name__])


def export_documents(spark, sf_dir: str, prefix: str) -> str:
    """Write the ``documents`` projection (doc_id, lang, n_chars) through
    this package's sink into ``<tmp>/<prefix>_<sf_tag>/documents.jsonl``
    and return that payload path. The export runs on the executors
    (two-phase commit, no driver collect). Each caller passes its own
    ``prefix``, so one query's payload is never overwritten while another
    query's lazy frame still reads it."""
    import os
    import tempfile

    from dieter___etl___monarchmoney_spark.sources.parquet import load_table, sf_tag

    register(spark)
    payload_dir = os.path.join(tempfile.gettempdir(), f"{prefix}_{sf_tag(sf_dir)}")
    os.makedirs(payload_dir, exist_ok=True)
    payload = os.path.join(payload_dir, "documents.jsonl")
    (
        load_table(spark, "documents", sf_dir)
        .select("doc_id", "lang", "n_chars")
        .write.format("paged_json")
        .mode("overwrite")
        .option("path", payload)
        .save()
    )
    return payload


# --------------------------------------------------------------------------
# Writer side: the reference's truncate+overwrite sheet sink (K1) as a
# Python DataSource WRITER with a real commit protocol
# --------------------------------------------------------------------------


def _part_pid(part_path: str) -> int:
    """Partition id parsed from a ``part-<pid>-<uuid>`` basename, as an
    INT: the commit-side merge must reproduce partition order, and a
    lexicographic sort on the zero-padded prefix silently breaks at
    pid >= 100000 ('part-100000' sorts before 'part-99999') — the
    ordered-sheet contract would corrupt exactly when the job got big."""
    import os

    base = os.path.basename(part_path)
    return int(base.split("-")[1])


class PagePartFile(WriterCommitMessage):
    """Per-task commit message: the staged part file and its row count."""

    def __init__(self, part_path: str, n_rows: int):
        self.part_path = part_path
        self.n_rows = n_rows


def _write_part(staging: str, fields: list[str], iterator) -> PagePartFile:
    """Task side of both writers: write this task's rows as JSON lines to
    ``staging/part-<pid>-<uuid>.jsonl``.

    The zero-padded PARTITION id prefix lets the commit-side merge
    reproduce partition order (the reference's ordered-sheet contract,
    O1/O2) — sorting uuid-only names is arbitrary and differs run to
    run, so a re-delivered stream batch would replace its epoch file
    with the same rows differently ordered. The uuid suffix keeps
    concurrent attempts of the same partition (speculation, task retry)
    from colliding mid-write; Spark commits exactly one message per
    partition, so the suffix never decides the order."""
    import os
    import uuid

    from pyspark import TaskContext

    os.makedirs(staging, exist_ok=True)
    pid = TaskContext.get().partitionId()
    part = os.path.join(staging, f"part-{pid:05d}-{uuid.uuid4().hex[:12]}.jsonl")
    n = 0
    with open(part, "w") as f:
        for row in iterator:
            rec = {name: row[name] for name in fields}
            f.write(json.dumps(rec, default=str) + "\n")
            n += 1
    return PagePartFile(part, n)


def _merge_parts(messages, tmp: str, target: str) -> list[str]:
    """Driver side of both writers: concatenate the committed part files
    into ``tmp`` in partition-id order (the PARSED id — see
    :func:`_part_pid`), streaming each part rather than buffering it,
    then ``os.replace`` it onto ``target`` (atomic on POSIX; readers
    never see halves). Returns the merged part paths."""
    import os
    import shutil

    parts = sorted((m.part_path for m in messages if m is not None), key=_part_pid)
    with open(tmp, "wb") as out:
        for part in parts:
            with open(part, "rb") as src:
                shutil.copyfileobj(src, out)
    os.replace(tmp, target)
    return parts


class PagedJsonWriter(DataSourceWriter):
    """Tasks write JSON-lines part files into a staging directory; the
    driver-side ``commit`` merges them into the single payload file the
    reader pages over, via write-temp-then-rename so a concurrent reader
    never sees a half-written file; ``abort`` removes the staging
    directory and leaves the previous payload untouched — the
    all-or-nothing contract the reference gets from replacing a sheet
    in one API call (K1 truncate+overwrite), expressed as a distributed
    two-phase commit.

    The merge is driver-side because the TARGET is a single sheet-like
    payload (exactly the reference's sink shape); a 100 TB sink keeps
    the part files as the table (this module's reader would then take a
    directory) or writes parquet — the task/commit/abort protocol is
    identical."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        import uuid

        if not overwrite:
            raise ValueError(
                "paged_json sink is truncate+overwrite (the reference's "
                "sheet replace, SURVEY §2.1 K1) — use mode('overwrite')"
            )
        self.path = options.get("path")
        if not self.path:
            raise ValueError("paged_json sink requires option 'path'")
        self.fields = [f.name for f in schema.fields]
        self.staging = f"{self.path}.staging-{uuid.uuid4().hex[:12]}"

    def write(self, iterator) -> PagePartFile:
        return _write_part(self.staging, self.fields, iterator)

    def commit(self, messages) -> None:
        import os
        import shutil

        tmp = f"{self.path}.tmp-{os.path.basename(self.staging)}"
        _merge_parts(messages, tmp, self.path)
        shutil.rmtree(self.staging, ignore_errors=True)

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self.staging, ignore_errors=True)


class PagedJsonStreamWriter(DataSourceStreamWriter):
    """Streaming sink: each committed micro-batch becomes one
    ``epoch-<batchId>.jsonl`` file in the target directory, written
    staged-then-rename. Exactly-once comes from IDEMPOTENT epoch
    naming — a restarted query that re-delivers batch N overwrites
    ``epoch-N.jsonl`` with identical content instead of appending
    duplicates, which is the standard file-sink transactional pattern
    (epoch id = the commit token Structured Streaming tracks in the
    checkpoint). ``abort`` removes the staged parts and the target
    epoch file never appears."""

    def __init__(self, schema: StructType, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("paged_json stream sink requires option 'path'")
        self.fields = [f.name for f in schema.fields]

    def write(self, iterator) -> PagePartFile:
        import os

        return _write_part(os.path.join(self.path, ".staging"), self.fields, iterator)

    def commit(self, messages, batchId: int) -> None:
        import os

        tmp = os.path.join(self.path, f".tmp-epoch-{batchId}")
        target = os.path.join(self.path, f"epoch-{batchId}.jsonl")
        for part in _merge_parts(messages, tmp, target):
            os.remove(part)

    def abort(self, messages, batchId: int) -> None:
        import os

        for m in messages:
            if m is not None:
                try:
                    os.remove(m.part_path)
                except OSError:
                    pass
