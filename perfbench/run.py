#!/usr/bin/env python3
"""Warm, isolated benchmark of the engine's query operators and ETL lifecycle.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_lifecycle --seed 1 --seconds 15 --trace 0

Each run is one fresh process on ``local[<cores>]``:

1. set-up: import the package, start the session and load the workload's
   code (``registry.load()`` for the query workloads; the ETL loads no
   registry);
2. an untimed warm-up, one op at a time, checked like a timed op: for the
   query workloads every query once, each result checked against its
   stored row count and order-insensitive digest; for the ETL the fixture
   seeding (``run_etl`` into an empty warehouse); then
   the calibration probe five times, so it too runs warm (the median of
   the last three is ``anchor_first_s``);
3. timed passes, each a seed-permuted order of the workload's ops, in a
   closed loop (one driver thread; each op starts when the previous one
   ends) until ``--seconds`` have passed and at least one pass is whole;
   the probe runs after every timed op;
4. the probe again (``anchor_last_s``);
5. untraced runs only: the set-up once more in a fresh child process, so
   ``setup_s`` is a median of two.

With ``--trace 1`` the timed passes alternate untraced and traced: a traced
op runs each builder, action and ETL stage under its own Spark job group,
reads the jobs' counters from Spark's status store, and the spans are
written to ``.perfbench_out/trace-<workload>-seed<seed>.json``.

End-to-end metrics (untraced runs):

- ``setup_s``: process start to the end of set-up, median of two cold
  set-ups (excludes the warm-up, reported as ``warmup_s``);
- ``pass_per_anchor``: ``pass_s``, one typical pass (the sum over the
  workload's ops of each op's median latency), divided by ``anchor_s``,
  the median time of a fixed lineitem scan + aggregate probed after every
  timed op. The probe's SQL settings are pinned, so the package's session
  settings do not move it. On a shared 4-core VM the machine's speed
  drifted 25-35% within ten minutes and the probe drifted with it. The
  raw ``pass_s`` and ``anchor_s`` are on the line before the result and
  in the traced run.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer metrics
traced). The line before it records cores, driver memory, seed, anchors
and every timed op's latencies. An op that raises or returns a wrong
result is a failed op.

Only public entry points are called: ``session.get_spark``,
``registry.load``, the registered query callables, ``etl.*_stage`` /
``etl.run_etl`` and ``streaming.incremental.reset_control``. State is
released between ops through Spark's public API and ``gc`` only.
"""

from __future__ import annotations

import argparse
import datetime as dt
import gc
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from decimal import Decimal
from pathlib import Path

T0 = time.monotonic()
T0_WALL = time.time()

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PKG = "dieter___etl___monarchmoney_spark"

#: ``local[<every core this process may use>]``
CORES = len(os.sched_getaffinity(0))
#: a modest heap: the sf0.01 inputs are a few MB, and the machine may be shared
DRIVER_MEMORY = "2g"

#: the reference's reporting surface: every query registered by
#: queries/{core,budget,holdings,forecast_nested,relational}.py, frozen by
#: name so moving modules does not change the workload
FINANCE_REPORTS = (
    "reconciliation_audit",
    "running_total_by_category",
    "transactions_summary",
    "accounts_sorted_contract",
    "budget_pipeline_full",
    "account_enrichment_join",
    "category_group_chain_join",
    "parent_child_self_join",
    "watermark_replace_merge",
    "rollover_remaining",
    "one_day_change",
    "row_number_pagination",
    "top_k_transactions",
    "page_with_total_count",
    "monthly_rollup_by_type",
    "daily_aggregate_snapshots",
    "budget_totals_rollup",
    "currency_clean_roundtrip",
    "date_functions_surface",
    "cashflow_by_merchant",
    "cashflow_cube",
    "cashflow_report_all",
    "full_outer_reconciliation",
    "retained_users_intersect",
    "cashflow_by_category_group",
    "cashflow_summary",
    "transactions_filtered_page",
    "transactions_tag_filtered_page",
    "recurring_forecast_diff",
    "nested_flatten_roundtrip",
    "portfolio_holdings",
)

#: shuffle- and iteration-bound dedup, similarity and rank operators: the
#: builders the roadmap names (near-dup clustering, LSH pairs), the
#: product-quantization scan that leaks a cached frame, and the dense rank
#: behind the rank pins. ``prefix_filter_jaccard``, ``simhash_hamming_pairs``
#: and ``copurchase_kcore`` also belong here but are left out: with them a
#: run did not fit the comparison's time budget
OPERATOR_HEAVY = (
    "fuzzy_entity_resolution",
    "semantic_dedup_clusters",
    "embedding_neardup_pairs",
    "pq_adc_topk",
    "monthly_merchant_dense_rank",
)


#: the ETL lifecycle: the scheduled daily rerun (one partition replaced,
#: the rest kept) and the forced full refresh (every partition rewritten),
#: interleaved in seed-permuted order
ETL_LIFECYCLE = ("daily", "backfill")

WORKLOADS = {
    "finance_reports": FINANCE_REPORTS,
    "operator_heavy": OPERATOR_HEAVY,
    "etl_lifecycle": ETL_LIFECYCLE,
}

#: the ETL's fixed ``now``: the daily rerun replaces exactly the 1998-06
#: partition and keeps the 41 before it
ETL_NOW = dt.datetime(1998, 6, 1, 12, 0)

#: cold set-ups per untraced run (the run's own and fresh child processes)
SETUP_REPEATS = 2

#: the probe's SQL settings, pinned so the package's session settings do
#: not change its plan
ANCHOR_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": str(CORES),
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.files.maxPartitionBytes": "134217728b",
    "spark.sql.codegen.wholeStage": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
}

#: untimed probes at the end of the warm-up; the last three give
#: ``anchor_first_s``
PROBE_WARMUP = 5

END_TO_END = {"setup_s": "s", "pass_per_anchor": "ratio"}

PER_LAYER = {
    "session_start_s": "s",
    "registry_load_s": "s",
    "fixture_seed_s": "s",
    "warmup_s": "s",
    "build_s": "s",
    "build_jobs": "count",
    "action_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "jvm_gc_s": "s",
    "driver_gap_s": "s",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes",
    "shuffle_records_per_row": "ratio",
    "input_bytes": "bytes",
    "output_bytes": "bytes",
    "output_files": "count",
    "accounts_stage_s": "s",
    "budgets_stage_s": "s",
    "transactions_stage_s": "s",
    "daily_run_s": "s",
    "backfill_run_s": "s",
    "partitions_replaced": "count",
    "partitions_kept": "count",
    "partitions_cleared": "count",
    "resident_rdds_after": "count",
    "storage_mem_bytes_after": "bytes",
    "anchor_first_s": "s",
    "anchor_last_s": "s",
    "anchor_s": "s",
    "pass_s": "s",
    "untraced_pass_s": "s",
    "traced_pass_s": "s",
    "trace_overhead_s": "s",
}

#: per-layer metrics that are a worst case over ops, not a per-pass sum
_MAX_OVER_OPS = ("resident_rdds_after", "storage_mem_bytes_after")

#: status-store counters summed over an op's jobs, in per-layer units
_STAGE_FIELDS = {
    "tasks": ("numTasks", 1),
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "jvm_gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_write_records": ("shuffleWriteRecords", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}


# ---------------------------------------------------------------- results


def _norm(v) -> str:
    """Canonical text of one result value: floats to 6 places (summation
    order may move the last bits), nested values recursively."""
    if isinstance(v, float):
        return "nan" if v != v else f"{round(v, 6) + 0.0:.6f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_norm(k)}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    if isinstance(v, (Decimal, int, str, bool, bytes, bytearray)) or v is None:
        return repr(v)
    return str(v)


def result_digest(columns: list[str], rows: list) -> str:
    """Order-insensitive digest of a collected result: columns sorted by
    name, rows sorted by their canonical text."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    header = "\x1f".join(columns[i] for i in order)
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join([header, *lines]).encode()).hexdigest()[:16]


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- process


def isolate(run_dir: Path, cores: int, driver_memory: str) -> None:
    """Point every temporary and warehouse path of this process, its JVM
    and its Python workers into ``run_dir``, so runs share nothing
    (``sources/materialize.py`` publishes its shared tables under the
    temp dir)."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    import tempfile

    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_SHUFFLE_PARTITIONS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp}" '
        f"--conf spark.sql.warehouse.dir={run_dir / 'warehouse'} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


# ---------------------------------------------------------------- tracing


class Tracer:
    """Spans (id, parent, name, start, end, counters) kept in memory and
    Spark status-store counters per job group; off, it only times."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []

    def span(self, name: str, parent: int | None, start: float, end: float, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "parent": parent, "name": name, "start": start, "end": end, **attrs}
        )
        return sid

    def group(self, name: str | None) -> None:
        if not self.enabled:
            return
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(name, name)

    def job_counters(self, group: str) -> dict:
        """Jobs, stages and summed stage counters of one job group, plus
        each job's [submitted, completed] interval (epoch seconds)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = {k: 0 for k in _STAGE_FIELDS}
        out.update(jobs=0, stages=0, intervals=[])
        for jid in tracker.getJobIdsForGroup(group):
            job = store.job(jid)
            out["jobs"] += 1
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                out["intervals"].append(
                    (sub.get().getTime() / 1e3, comp.get().getTime() / 1e3)
                )
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info is not None else ():
                attempts = store.stageData(sid, False, None, False, None)
                for a in range(attempts.size()):
                    stage = attempts.apply(a)
                    if stage.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    for key, (field, scale) in _STAGE_FIELDS.items():
                        out[key] += getattr(stage, field)() * scale
        return out

    def storage(self) -> tuple[int, int]:
        """(persistent RDDs, storage memory bytes) held right now."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        rdds = jsc.statusStore().rddList(True)
        mem = sum(rdds.apply(i).memoryUsed() for i in range(rdds.size()))
        return self.sc._jsc.getPersistentRDDs().size(), mem


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def release(spark) -> None:
    """Drop every cached frame and persistent RDD an op left behind.

    Called after the warm-up and after every timed op, so each op starts
    with nothing cached: ``operators/budgets.py`` leaves its persisted
    frame cached after ``run_etl``, and a rerun in the same process would
    otherwise pay less than a fresh scheduled run does (and fixing that
    leak would read as a regression)."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    gc.collect()


# ---------------------------------------------------------------- workloads


class QueryWorkload:
    """Registered query callables; one op is call (build) → ``.count()``
    (action)."""

    #: calibration probes after each timed op: queries are short and many
    probes_per_op = 1

    def __init__(self, spark, tracer: Tracer, queries: dict, names, data: str, expected: dict):
        missing = [n for n in names if n not in queries]
        if missing:
            raise SystemExit(f"queries not registered: {missing}")
        self.spark, self.tracer, self.data = spark, tracer, data
        self.queries = {n: queries[n] for n in names}
        self.warm_ops = tuple(names)
        self.expected = expected["queries"]
        self.fixture_seed_s = 0.0

    def warm(self, name: str) -> tuple[bool, str]:
        """Untimed call that checks row count and digest."""
        df = self.queries[name](self.spark, self.data)
        rows = df.collect()
        got = {"rows": len(rows), "digest": result_digest(df.columns, rows)}
        want = self.expected[name]
        if got != {"rows": want["rows"], "digest": want["digest"]}:
            return False, f"{name}: got {got}, expected {want}"
        return True, ""

    def run(self, name: str, traced: bool, tag: str) -> tuple[bool, str, dict]:
        tr = self.tracer
        t0 = time.time()
        tr.group(f"{tag}:build" if traced else None)
        df = self.queries[name](self.spark, self.data)
        t1 = time.time()
        tr.group(f"{tag}:action" if traced else None)
        n = df.count()
        t2 = time.time()
        tr.group(None)
        ok = n == self.expected[name]["rows"]
        rec = {"t0": t0, "wall": t2 - t0, "build_s": t1 - t0, "action_s": t2 - t1, "rows": n, "phases": []}
        if traced:
            for phase, a, b in (("build", t0, t1), ("action", t1, t2)):
                rec["phases"].append((phase, a, b, tr.job_counters(f"{tag}:{phase}")))
        msg = "" if ok else f"{name}: {n} rows, expected {self.expected[name]['rows']}"
        return ok, msg, rec


class EtlWorkload:
    """The ETL lifecycle at a fixed ``now`` into a private warehouse: the
    daily rerun and the forced full refresh (``reset_control`` first).

    The fixture seeding goes through ``etl.run_etl``; every later op runs
    the three public stages in ``run_etl``'s order, each under its own job
    group (a no-op untraced), so traced and untraced ops run the same code.
    Both are checked against the same expected manifest."""

    #: the fixture seeding (a backfill) is the whole warm-up
    warm_ops = ()
    #: calibration probes after each timed op: ETL ops are long and few, so
    #: more probes per op keep the probe's median steady
    probes_per_op = 2
    STAGES = ("accounts_stage", "budgets_stage", "transactions_stage")

    def __init__(self, spark, tracer: Tracer, data: str, expected: dict, out_dir: Path):
        from dieter___etl___monarchmoney_spark import etl

        self.spark, self.tracer, self.data = spark, tracer, data
        self.expected = expected["etl"]
        self.out = str(out_dir)
        t = time.monotonic()
        manifest = etl.run_etl(spark, data, self.out, ETL_NOW)
        self.fixture_seed_s = time.monotonic() - t
        self.seed_result = self.check("backfill", manifest)

    def run(self, name: str, traced: bool, tag: str) -> tuple[bool, str, dict]:
        from dieter___etl___monarchmoney_spark import etl
        from dieter___etl___monarchmoney_spark.streaming.incremental import reset_control

        spark, tr = self.spark, self.tracer
        t0 = time.time()
        if name == "backfill":
            reset_control(spark, os.path.join(self.out, "control"))
        marks = [time.time()]
        tr.group(f"{tag}:accounts_stage" if traced else None)
        dim = etl.accounts_stage(spark, self.data, self.out)
        marks.append(time.time())
        tr.group(f"{tag}:budgets_stage" if traced else None)
        n_budget = etl.budgets_stage(spark, self.data, self.out)
        marks.append(time.time())
        tr.group(f"{tag}:transactions_stage" if traced else None)
        manifest = etl.transactions_stage(spark, self.data, self.out, ETL_NOW, dim)
        manifest["budget_rows"] = n_budget
        marks.append(time.time())
        tr.group(None)
        parts = manifest["partitions"]
        rec = {
            "t0": t0,
            "wall": marks[-1] - t0,
            "build_s": 0.0,
            "action_s": marks[-1] - t0,
            "rows": manifest["rows"],
            "partitions": {k: len(parts[k]) for k in ("replaced", "kept", "cleared")},
            "phases": [],
        }
        if traced:
            for i, stage in enumerate(self.STAGES):
                rec["phases"].append(
                    (stage, marks[i], marks[i + 1], tr.job_counters(f"{tag}:{stage}"))
                )
            rec["output_files"] = sum(
                1
                for d, _, files in os.walk(self.out)
                for f in files
                if os.stat(os.path.join(d, f)).st_mtime >= t0
            )
        ok, msg = self.check(name, manifest)
        return ok, msg, rec

    def check(self, name: str, manifest: dict) -> tuple[bool, str]:
        from dieter___etl___monarchmoney_spark.streaming.incremental import read_watermark

        want, parts = self.expected, manifest["partitions"]
        daily = name == "daily"
        errors = []
        if daily and parts["replaced"] != [want["daily_partition"]]:
            errors.append(f"replaced {parts['replaced']}")
        if not daily and len(parts["replaced"]) != want["partitions"]:
            errors.append(f"{len(parts['replaced'])} partitions replaced")
        if len(parts["kept"]) != (want["partitions"] - 1 if daily else 0):
            errors.append(f"{len(parts['kept'])} partitions kept")
        if parts["cleared"]:
            errors.append(f"cleared {parts['cleared']}")
        if manifest["rows"] != want["sink_rows"]:
            errors.append(f"{manifest['rows']} sink rows")
        if manifest["budget_rows"] != want["budget_rows"]:
            errors.append(f"{manifest['budget_rows']} budget rows")
        wm = read_watermark(self.spark, os.path.join(self.out, "control"))
        if wm != ETL_NOW:
            errors.append(f"watermark {wm}")
        return not errors, f"{name}: " + "; ".join(errors) if errors else ""


# ---------------------------------------------------------------- main


def anchor(spark, data: str, n: int) -> list[float]:
    """``n`` timings of a fixed scan + hash aggregate over lineitem: a
    probe of the machine's speed that runs no code of the package. Its SQL
    settings are pinned (``ANCHOR_CONF``) and restored afterwards."""
    from pyspark.sql import functions as F

    saved = {k: spark.conf.get(k) for k in ANCHOR_CONF}
    for k, v in ANCHOR_CONF.items():
        spark.conf.set(k, v)
    times = []
    try:
        for _ in range(n):
            t = time.monotonic()
            spark.read.parquet(os.path.join(data, "lineitem.parquet")).groupBy(
                "l_returnflag", "l_linestatus"
            ).agg(F.sum("l_quantity"), F.sum("l_extendedprice"), F.count("*")).collect()
            times.append(time.monotonic() - t)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    return times


def jvm_gc_s(spark) -> float:
    """Seconds the driver JVM has spent in garbage collection so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


def pass_time(samples: dict[str, list[float]]) -> float:
    """One typical pass: the sum over the workload's ops of each op's
    median latency."""
    return sum(median(v) for v in samples.values() if v)


def cold_start(workload: str):
    """The set-up every run pays: import the package, start the session on
    ``local[<cores>]`` and load the workload's code. Returns the session,
    the registered queries (``None`` for the ETL) and the set-up times:
    ``session_start_s`` (process start to a running session),
    ``registry_load_s`` and ``setup_s`` (their sum)."""
    sys.path.insert(0, str(ROOT))
    import dieter___etl___monarchmoney_spark as pkg

    if Path(pkg.__file__).resolve().parent != ROOT / PKG:
        raise SystemExit(f"perfbench: imported {pkg.__file__}, not the checkout's")
    if workload == "etl_lifecycle":
        from dieter___etl___monarchmoney_spark import etl  # noqa: F401
    from dieter___etl___monarchmoney_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.monotonic() - T0
    queries, registry_load_s = None, 0.0
    if workload != "etl_lifecycle":
        from dieter___etl___monarchmoney_spark import registry

        queries, _ = registry.load()
        registry_load_s = time.monotonic() - T0 - session_start_s
    times = {
        "session_start_s": session_start_s,
        "registry_load_s": registry_load_s,
        "setup_s": time.monotonic() - T0,
    }
    return spark, queries, times


def child_setup_s(workload: str) -> float:
    """Set-up time of one fresh child process (``--setup-only``)."""
    proc = subprocess.Popen(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "0",
         "--seconds", "0", "--setup-only"],
        cwd=ROOT,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )
    try:
        out, err = proc.communicate(timeout=120)
    finally:
        # on a timeout or our own SIGTERM, let the child stop its JVM too
        if proc.poll() is None:
            proc.terminate()
            proc.wait()
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: set-up child failed: {err[-2000:]}")
    return json.loads(out.strip().splitlines()[-1])["setup_s"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=str(BENCH / "data" / "sf0.01"))
    ap.add_argument("--expected", default=None, help="default: expected/<data dir name>.json")
    ap.add_argument("--setup-only", action="store_true", help="time one cold set-up and exit")
    args = ap.parse_args(argv)

    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    data = str(Path(args.data).resolve())
    expected_path = Path(args.expected or BENCH / "expected" / f"{Path(data).name}.json")
    if not Path(data, "lineitem.parquet").exists() or not expected_path.is_file():
        print(f"perfbench: missing data {data} or expected {expected_path}", file=sys.stderr)
        return 2
    expected = json.loads(expected_path.read_text())

    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run_dir = ROOT / ".perfbench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    isolate(run_dir, CORES, DRIVER_MEMORY)
    spark = None
    try:
        spark, queries, times = cold_start(args.workload)
        if args.setup_only:
            print(json.dumps(times))
            return 0
        result, meta = measure(spark, args, queries, data, expected, run_dir, times)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    if not args.trace:
        # the run's own set-up plus fresh child processes, one at a time,
        # after this run's JVM has exited
        setups = [times["setup_s"]]
        setups += [child_setup_s(args.workload) for _ in range(SETUP_REPEATS - 1)]
        meta["setup_runs_s"] = setups
        result["metrics"]["setup_s"]["value"] = median(setups)
    print(json.dumps(meta))
    for msg in meta["failures"]:
        print(f"perfbench: failed op: {msg}", file=sys.stderr)
    print(json.dumps(result))
    return 0


def measure(spark, args, queries, data, expected, run_dir: Path, times: dict) -> tuple[dict, dict]:
    tracer = Tracer(spark, enabled=bool(args.trace))
    failures: list[str] = []
    attempted = 0

    def tally(ok: bool, msg: str) -> None:
        nonlocal attempted
        attempted += 1
        if not ok:
            failures.append(msg)

    root = tracer.span(args.workload, None, T0_WALL, 0.0, seed=args.seed)
    tracer.span("setup", root, T0_WALL, T0_WALL + times["setup_s"])
    t, t_wall = time.monotonic(), time.time()
    if args.workload == "etl_lifecycle":
        work = EtlWorkload(spark, tracer, data, expected, run_dir / "warehouse" / "etl")
        tally(*work.seed_result)
        release(spark)
    else:
        work = QueryWorkload(spark, tracer, queries, WORKLOADS[args.workload], data, expected)
    # one op at a time, like the timed loop: every registered callable
    # clears the session's cache on entry, so a concurrent call would drop
    # frames another query still reads; ETL ops share one warehouse
    for name in work.warm_ops:
        try:
            tally(*work.warm(name))
        except Exception as e:  # an op that raises is a failed op, not a crash
            tally(False, f"{name}: {type(e).__name__}: {e}")
    release(spark)
    # the probe warms too: its first runs in a process still get faster
    anchor_first_s = median(anchor(spark, data, PROBE_WARMUP)[-3:])
    warmup_s = time.monotonic() - t
    tracer.span("warmup", root, t_wall, time.time())

    gc_before = jvm_gc_s(spark)
    rng = random.Random(args.seed)
    anchors: list[float] = []  # probes after every timed op
    ops = list(WORKLOADS[args.workload])
    samples: dict[bool, dict[str, list[float]]] = {False: {}, True: {}}
    records: list[dict] = []
    start = time.monotonic()
    n_pass = 0
    done = False
    while not done:
        traced = bool(args.trace) and n_pass % 2 == 1
        order = ops[:]
        rng.shuffle(order)
        pass_id = tracer.span(f"pass{n_pass}", root, time.time(), 0.0, traced=traced)
        for name in order:
            # the deadline counts once the run holds a whole untraced pass
            # (and, traced, a traced one)
            if n_pass >= 1 + args.trace and time.monotonic() - start >= args.seconds:
                done = True
                break
            try:
                ok, msg, rec = work.run(name, traced, f"p{n_pass}:{name}")
            except Exception as e:  # an op that raises is a failed op, not a crash
                tally(False, f"{name}: {type(e).__name__}: {e}")
                release(spark)
                continue
            tally(ok, msg)
            samples[traced].setdefault(name, []).append(rec["wall"])
            if traced:
                rec["resident_rdds_after"], rec["storage_mem_bytes_after"] = tracer.storage()
                rec.update(op=name, pass_index=n_pass)
                records.append(rec)
                op_id = tracer.span(name, pass_id, rec["t0"], rec["t0"] + rec["wall"], rows=rec["rows"])
                for phase, a, b, counters in rec["phases"]:
                    counters = {k: v for k, v in counters.items() if k != "intervals"}
                    tracer.span(phase, op_id, a, b, **counters)
            release(spark)
            anchors += anchor(spark, data, work.probes_per_op)
        tracer.spans[pass_id]["end"] = time.time()
        n_pass += not done

    timed_gc_s = jvm_gc_s(spark) - gc_before
    last = anchor(spark, data, 3)
    anchor_last_s = median(last)
    anchor_s = median(anchors + last)
    pass_s = pass_time(samples[False])
    tracer.spans[root]["end"] = time.time()

    if args.trace:
        metrics = per_layer(records, samples)
        metrics.update(
            **{k: times[k] for k in ("session_start_s", "registry_load_s")},
            fixture_seed_s=work.fixture_seed_s,
            warmup_s=warmup_s,
            anchor_first_s=anchor_first_s,
            anchor_last_s=anchor_last_s,
            anchor_s=anchor_s,
            pass_s=pass_s,
        )
        units = PER_LAYER
        write_trace(args, tracer, records, metrics)
    else:
        metrics = {"setup_s": times["setup_s"], "pass_per_anchor": pass_s / anchor_s}
        units = END_TO_END

    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": CORES,
        "driver_memory": DRIVER_MEMORY,
        "data": Path(data).name,
        "passes": n_pass,
        **times,
        "fixture_seed_s": work.fixture_seed_s,
        "warmup_s": warmup_s,
        "timed_jvm_gc_s": timed_gc_s,
        "jvm_gc_before_s": gc_before,
        "anchor_first_s": anchor_first_s,
        "anchor_last_s": anchor_last_s,
        "anchor_s": anchor_s,
        "anchor_probes_s": [round(x, 4) for x in anchors + last],
        "pass_s": pass_s,
        "timed_ops": sum(len(v) for v in samples[False].values()),
        "op_seconds": {k: [round(x, 4) for x in v] for k, v in samples[False].items()},
        "failures": failures[:20],
    }
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return result, meta


def per_layer(records: list[dict], samples) -> dict:
    """Per-layer metrics of the traced passes: each additive counter is
    the sum over the workload's ops of that op's median, i.e. per pass."""
    by_op: dict[str, list[dict]] = {}
    for rec in records:
        flat = {"build_s": rec["build_s"], "action_s": rec["action_s"], "build_jobs": 0}
        intervals = []
        for phase, _a, _b, c in rec["phases"]:
            for key in (*_STAGE_FIELDS, "jobs", "stages"):
                flat[key] = flat.get(key, 0) + c[key]
            if phase == "build":
                flat["build_jobs"] += c["jobs"]
            if phase.endswith("_stage"):
                flat[f"{phase}_s"] = _b - _a
            intervals += c["intervals"]
        lo, hi = rec["t0"], rec["t0"] + rec["wall"]
        flat["driver_gap_s"] = rec["wall"] - covered(intervals, lo, hi)
        flat["rows"] = rec["rows"]
        flat["output_files"] = rec.get("output_files", 0)
        for k, v in rec.get("partitions", {}).items():
            flat[f"partitions_{k}"] = v
        by_op.setdefault(rec["op"], []).append(flat)

    def per_pass(key: str) -> float:
        return sum(median([f.get(key, 0) for f in fs]) for fs in by_op.values())

    m = {k: per_pass(k) for k in PER_LAYER if k not in _MAX_OVER_OPS}
    rows = per_pass("rows")
    m["shuffle_records_per_row"] = per_pass("shuffle_write_records") / rows if rows else 0.0
    for k in _MAX_OVER_OPS:
        m[k] = max((rec[k] for rec in records), default=0)
    m["daily_run_s"] = median(samples[False].get("daily", []))
    m["backfill_run_s"] = median(samples[False].get("backfill", []))
    m["untraced_pass_s"] = pass_time(samples[False])
    m["traced_pass_s"] = pass_time(samples[True])
    m["trace_overhead_s"] = m["traced_pass_s"] - m["untraced_pass_s"]
    return m


def write_trace(args, tracer: Tracer, records: list[dict], metrics: dict) -> None:
    out = ROOT / ".perfbench_out"
    out.mkdir(exist_ok=True)
    per_op = [
        {k: v for k, v in rec.items() if k != "phases"}
        | {
            "phases": {
                phase: {k: v for k, v in c.items() if k != "intervals"}
                | {"seconds": b - a}
                for phase, a, b, c in rec["phases"]
            }
        }
        for rec in records
    ]
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": CORES,
        "driver_memory": DRIVER_MEMORY,
        "metrics": metrics,
        "ops": per_op,
        "spans": tracer.spans,
    }
    (out / f"trace-{args.workload}-seed{args.seed}.json").write_text(
        json.dumps(doc, indent=1, default=str)
    )


if __name__ == "__main__":
    sys.exit(main())
