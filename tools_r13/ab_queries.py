#!/usr/bin/env python
"""Interleaved A/B timing of registered queries in ONE warm JVM.

Usage: python tools_r13/ab_queries.py <rounds> <query> [<query> ...]

Times each named query (full build + .count(), the bench protocol)
<rounds> times in interleaved order (q1, q2, ..., q1, q2, ...) and
prints per-query min/median/all. Used for same-session A/B when the
code under test is toggled via an env var, or to compare two sibling
query names.
"""
from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from dieter___etl___monarchmoney_spark import pins, registry  # noqa: E402
from dieter___etl___monarchmoney_spark.session import get_spark  # noqa: E402


def main() -> None:
    rounds = int(sys.argv[1])
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    spark = get_spark(app_name="ab_queries")
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = registry.load()
    # one untimed warmup each
    for n in names:
        queries[n](spark, sf_dir).count()
        pins.release()
    res: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(rounds):
        for n in names:
            gc.collect()
            t0 = time.perf_counter()
            queries[n](spark, sf_dir).count()
            res[n].append(round(time.perf_counter() - t0, 4))
            pins.release()
    out = {
        n: {
            "min": min(v),
            "median": round(statistics.median(v), 4),
            "all": v,
        }
        for n, v in res.items()
    }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
