#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on the small data set.

    python3 perfbench/smoke.py

For every workload it runs one timed pass untraced and one traced
(``--seconds 0``) and checks that every metric is printed with its unit,
that the names and units match ``BENCHMARK.json`` and that no op fails.
It then checks that the correctness gate bites (a corrupted expected
digest must fail exactly one op, a corrupted ETL sink row count every ETL
op) and that the command fails without
printing a result in a directory that holds only the benchmark.
Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import run

SMALL = run.BENCH / "data" / "sf0.001"
SCRATCH = run.ROOT / ".perfbench_run" / f"smoke-{os.getpid()}"


def bench(*args: str, cwd=run.ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "1", "--seconds", "0", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main() -> int:
    declared = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    for kind, units in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        got = {m["name"]: m["unit"] for m in declared[kind]}
        check(got == units, f"BENCHMARK.json {kind} names and units match run.py")
    check(
        {w["name"] for w in declared["workloads"]} <= set(run.WORKLOADS),
        "BENCHMARK.json workloads exist in run.py",
    )

    for workload in run.WORKLOADS:
        for trace, units in ((0, run.END_TO_END), (1, run.PER_LAYER)):
            rc, out = bench("--workload", workload, "--trace", str(trace), "--data", str(SMALL))
            res = json.loads(out[-1]) if rc == 0 and out else {}
            label = f"{workload} trace={trace}"
            check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{label}: result keys")
            check(res["correct"] and res["failed"] == 0, f"{label}: 0 of {res['attempted']} ops failed")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == units, f"{label}: every metric printed with its unit")
            check(
                all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                f"{label}: every value is a number",
            )

    SCRATCH.mkdir(parents=True)
    try:
        expected = json.loads((run.BENCH / "expected" / "sf0.001.json").read_text())
        victim = run.OPERATOR_HEAVY[0]
        expected["queries"][victim]["digest"] = "0" * 16
        corrupt = SCRATCH / "corrupt.json"
        corrupt.write_text(json.dumps(expected))
        rc, out = bench(
            "--workload", "operator_heavy", "--data", str(SMALL), "--expected", str(corrupt)
        )
        res = json.loads(out[-1])
        check(
            rc == 0 and not res["correct"] and res["failed"] == 1,
            f"corrupted digest of {victim} fails exactly one op",
        )

        expected = json.loads((run.BENCH / "expected" / "sf0.001.json").read_text())
        expected["etl"]["sink_rows"] += 1
        corrupt.write_text(json.dumps(expected))
        rc, out = bench(
            "--workload", "etl_lifecycle", "--data", str(SMALL), "--expected", str(corrupt)
        )
        res = json.loads(out[-1])
        check(
            rc == 0 and res["failed"] == res["attempted"],
            f"corrupted ETL sink row count fails all {res['attempted']} ETL ops",
        )

        bare = SCRATCH / "bare"
        bare.mkdir()
        shutil.copy(run.ROOT / "BENCHMARK.json", bare)
        shutil.copytree(run.BENCH, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
        rc, out = bench("--workload", "etl_lifecycle", cwd=bare)
        check(rc != 0 and not any(line.startswith("{") for line in out), "bare directory fails")
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
