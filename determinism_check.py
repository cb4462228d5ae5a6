#!/usr/bin/env python
"""Layout-determinism audit: run every registered query under two
contrasting PHYSICAL configurations and assert the driver-normalized
result values are identical.

Why this exists: a query whose RESULT depends on the physical plan
(partition count, shuffle-fetch merge order, exchange/broadcast reuse,
file-split boundaries) is correct at the checked layout and silently
wrong at another, i.e. exactly the failure mode a 1000-executor 100 TB
deployment would hit and sf0.01 oracle checks cannot. The oracle gate
proves Spark == DuckDB at ONE layout; this audit proves Spark == Spark
across layouts, using the SAME normalization the oracle compare uses
(sorted columns, order-insensitive rows, floats rounded exactly like
tests/oracle_utils._norm_cell) so its sensitivity matches the driver's
value hash: anything that flips here can flip the driver's hash on a
re-partitioned rerun.

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

Usage: python determinism_check.py [--queries a,b], reading the dataset
named by $SPARK_GRAFT_SF_DIR (default: the sf0.01 test set).

Stdout: one JSON line {"metric": "layout_determinism", "queries_total",
"mismatches": [names...], "sf"}; per-query detail lands in
DETERMINISM_r{N}.json (`harness.round_number`). A subset run
(`--queries`) writes DETERMINISM_r{N}_subset.json instead, so it can
never clobber the committed full-registry report. Exit status is
non-zero when any query mismatches or errors, so scripted gates
(`python determinism_check.py && ...`) actually gate.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

import harness
from dieter___etl___monarchmoney_spark import registry

sys.path.insert(0, str(harness.REPO / "tests"))
from oracle_utils import normalize  # noqa: E402  (tests/oracle_utils.py)

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


def _run_pass(spark, queries, names, sf_dir: str, label: str) -> dict[str, tuple]:
    out: dict[str, tuple] = {}

    def check(name: str) -> None:
        t0 = time.perf_counter()
        try:
            out[name] = _value_hash(queries[name](spark, sf_dir).toPandas())
        except Exception as exc:  # noqa: BLE001 — record, keep auditing
            out[name] = (-1, f"ERROR: {type(exc).__name__}: {exc}")
        print(
            f"  [{label}] {name}: {time.perf_counter() - t0:.2f}s",
            file=sys.stderr,
            flush=True,
        )

    harness.run_each(names, check)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--queries", default="", help="comma-separated registry subset to audit"
    )
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    sf = harness.sf_of(sf_dir)
    queries, _ = registry.load()
    names = sorted(
        harness.select(queries, args.queries.split(",")) if args.queries else queries
    )
    spark = harness.session("determinism_check")

    # capture the session's EFFECTIVE conf values up front and restore
    # them unconditionally: "restore _CONF_A" would leave a
    # getOrCreate-shared session at 64 MiB broadcast / 32 shuffle
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
        pass_a = _run_pass(spark, queries, names, sf_dir, "A")
        for k, v in _CONF_B.items():
            spark.conf.set(k, v)
        pass_b = _run_pass(spark, queries, names, sf_dir, "B")
    finally:
        for k, v in originals.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    detail: dict[str, dict] = {}
    mismatches: list[str] = []
    errors: list[str] = []
    for name in names:
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
    suffix = "_subset" if args.queries else ""
    rnd = harness.round_number()
    out_path = harness.REPO / f"DETERMINISM_r{rnd:02d}{suffix}.json"
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
