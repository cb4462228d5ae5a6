#!/usr/bin/env python
"""Layout-determinism audit: run every registered query under two
contrasting PHYSICAL configurations and assert the driver-normalized
result values are identical.

Why this exists (round 12): the round-11 judge finding against
operators/rank.py was an instance of a general class — a query whose
RESULT depends on the physical plan (partition count, shuffle-fetch
merge order, exchange/broadcast reuse, file-split boundaries) is
correct at the checked layout and silently wrong at another, i.e.
exactly the failure mode a 1000-executor 100 TB deployment would hit
and sf0.01 oracle checks cannot. The oracle gate proves Spark ==
DuckDB at ONE layout; this harness proves Spark == Spark across
layouts, using the SAME normalization the oracle compare uses (sorted
columns, order-insensitive rows, floats rounded exactly like
tests/oracle_utils._norm_cell) so its sensitivity matches the
driver's value hash — anything that flips here can flip the driver's
hash on a re-partitioned rerun.

Config A approximates the driver (shuffle.partitions=32, AQE on,
exchange reuse on, default file splits). Config B is adversarial on
every axis that changes physical evaluation order WITHOUT changing
semantics: 7 shuffle partitions (different hash placement and merge
order), AQE off (no runtime coalescing), exchange reuse off (shared
subtrees evaluate independently — the rank.py loophole), 1 MiB
maxPartitionBytes + zero openCostInBytes (many small file splits, so
scan-order tie-breaks move), and broadcast joins disabled (plans that
only agree under broadcast re-execute as shuffle joins).

All confs used are runtime-settable, so both passes share one JVM and
one session; pass A runs the full registry first, then the confs flip
and pass B reruns it (flipping per-query would let pass-A plan caches
leak into pass B through reused DataFrames).

Stdout: one JSON line {"metric": "layout_determinism", "queries_total",
"mismatches": [names...], "sf"}; per-query detail lands in
DETERMINISM_r{N}.json (round inference shared with bench.py). A
subset run (SPARK_GRAFT_ONLY) auto-suffixes its output file with
"_subset" unless SPARK_GRAFT_DETERMINISM_OUT names one explicitly, so
it can never clobber the committed full-registry report. Exit status
is non-zero when any query mismatches or errors, so scripted gates
(`python determinism_check.py && ...`) actually gate.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import re
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
for p in (str(REPO), str(REPO / "tests")):
    if p not in sys.path:
        sys.path.insert(0, p)

from oracle_utils import normalize  # noqa: E402  (tests/oracle_utils.py)

from bench import _round_number  # noqa: E402  — shared round inference

from dieter___etl___monarchmoney_spark import pins, registry  # noqa: E402
from dieter___etl___monarchmoney_spark.session import get_spark  # noqa: E402

#: every key is runtime-settable; values checked against a live session
_CONF_A = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.exchange.reuse": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.files.openCostInBytes": "4194304",
    "spark.sql.autoBroadcastJoinThreshold": "67108864",
}
_CONF_B = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.exchange.reuse": "false",
    "spark.sql.files.maxPartitionBytes": "1048576",
    "spark.sql.files.openCostInBytes": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def _value_hash(pdf) -> tuple[int, str]:
    """(row_count, md5 over the driver-normalized frame). Rendering is
    JSON (orient="values"), NOT CSV: CSV collapses None and "" into
    the same empty field, which would hide a null-vs-empty-string
    layout drift the oracle compare (assert_frame_equal) distinguishes.
    Floats are already rounded by normalize(), so FP sensitivity
    matches the oracle compare's."""
    norm = normalize(pdf)
    payload = norm.to_json(orient="values", date_format="iso").encode()
    return len(norm), hashlib.md5(payload).hexdigest()


def _run_pass(spark, queries, sf_dir: str, label: str) -> dict[str, tuple]:
    out: dict[str, tuple] = {}
    for name in sorted(queries):
        t0 = time.perf_counter()
        try:
            pdf = queries[name](spark, sf_dir).toPandas()
            out[name] = _value_hash(pdf)
        except Exception as exc:  # noqa: BLE001 — record, keep auditing
            out[name] = (-1, f"ERROR: {type(exc).__name__}: {exc}")
        print(
            f"  [{label}] {name}: {time.perf_counter() - t0:.2f}s",
            file=sys.stderr,
            flush=True,
        )
        pins.release()
        gc.collect()
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    spark = get_spark(app_name="determinism_check")
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = registry.load()
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        keep = {s.strip() for s in only.split(",") if s.strip()}
        unknown = sorted(keep - set(queries))
        if unknown:
            # a typo must not yield a green empty/partial audit
            print(
                f"ERROR: SPARK_GRAFT_ONLY names not in the registry: "
                f"{unknown}",
                file=sys.stderr,
            )
            sys.exit(2)
        queries = {n: q for n, q in queries.items() if n in keep}

    # capture the session's EFFECTIVE conf values up front and restore
    # them unconditionally — the same discipline whose absence in the
    # test-side conf probe leaked exchange.reuse=false suite-wide
    # (SCALE.md round-12 adjudication); "restore _CONF_A" would leave
    # a getOrCreate-shared session at 10 MiB broadcast / 32 shuffle
    # partitions instead of whatever the caller configured
    originals: dict[str, str | None] = {}
    for k in _CONF_A:
        try:
            originals[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — key with no default
            originals[k] = None
    try:
        for k, v in _CONF_A.items():
            spark.conf.set(k, v)
        pass_a = _run_pass(spark, queries, sf_dir, "A")
        for k, v in _CONF_B.items():
            spark.conf.set(k, v)
        pass_b = _run_pass(spark, queries, sf_dir, "B")
    finally:
        for k, v in originals.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    detail: dict[str, dict] = {}
    mismatches: list[str] = []
    errors: list[str] = []
    for name in sorted(queries):
        ra, ha = pass_a[name]
        rb, hb = pass_b[name]
        # an ERROR result can never count as a match — two passes
        # failing with the SAME message would otherwise hash-agree and
        # silently hide a broken query from the audit
        errored = ra < 0 or rb < 0
        ok = not errored and ra == rb and ha == hb
        detail[name] = {
            "match": ok,
            "rows_a": ra,
            "rows_b": rb,
            "hash_a": ha,
            "hash_b": hb,
        }
        if errored:
            errors.append(name)
        elif not ok:
            mismatches.append(name)

    rnd = _round_number()
    # subset / re-runs must not clobber the committed full-registry
    # report: SPARK_GRAFT_DETERMINISM_OUT overrides the output path
    out_override = os.environ.get("SPARK_GRAFT_DETERMINISM_OUT")
    report = {
        "metric": "layout_determinism",
        "sf": sf,
        "conf_a": _CONF_A,
        "conf_b": _CONF_B,
        "queries_total": len(detail),
        "mismatch_count": len(mismatches),
        "mismatches": mismatches,
        "error_count": len(errors),
        "errors": errors,
        "queries": detail,
    }
    if out_override:
        out_path = Path(out_override)
    elif only:
        # never let a subset run clobber the committed full report
        out_path = REPO / f"DETERMINISM_r{rnd:02d}_subset.json"
    else:
        out_path = REPO / f"DETERMINISM_r{rnd:02d}.json"
    out_path.write_text(json.dumps(report, indent=1, sort_keys=True) + "\n")
    summary = {
        "metric": "layout_determinism",
        "sf": sf,
        "queries_total": len(detail),
        "mismatch_count": len(mismatches),
        "mismatches": mismatches,
        "error_count": len(errors),
        "errors": errors,
        "detail_file": out_path.name,
    }
    print(json.dumps(summary), flush=True)
    if mismatches or errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
