#!/usr/bin/env python3
"""Record (or re-check) the benchmark's expected results for one data set:
each benchmarked query's row count and order-insensitive digest, and the
ETL's sink row count, budget row count and partition count.

    python3 perfbench/make_expected.py --data perfbench/data/sf0.01
    python3 perfbench/make_expected.py --data perfbench/data/sf0.01 --check --order-seed 7

``--check`` recomputes in a seed-shuffled query order and compares with
the stored file instead of writing it; it exits 1 on any difference.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
from pathlib import Path

import run


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--data", required=True)
    ap.add_argument("--check", action="store_true")
    ap.add_argument("--order-seed", type=int, default=0)
    args = ap.parse_args()
    data = str(Path(args.data).resolve())
    target = run.BENCH / "expected" / f"{Path(data).name}.json"

    run_dir = run.ROOT / ".perfbench_run" / f"expected-{os.getpid()}"
    run.isolate(run_dir, run.CORES, run.DRIVER_MEMORY)
    sys.path.insert(0, str(run.ROOT))
    from dieter___etl___monarchmoney_spark import etl, registry
    from dieter___etl___monarchmoney_spark.session import get_spark

    spark = get_spark(app_name="perfbench-expected")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        queries, _ = registry.load()
        names = sorted(set(run.FINANCE_REPORTS) | set(run.OPERATOR_HEAVY))
        random.Random(args.order_seed).shuffle(names)
        got: dict = {"queries": {}}
        for name in names:
            df = queries[name](spark, data)
            rows = df.collect()
            got["queries"][name] = {
                "rows": len(rows),
                "digest": run.result_digest(df.columns, rows),
            }
            run.release(spark)
        out = str(run_dir / "etl")
        first = etl.run_etl(spark, data, out, run.ETL_NOW)
        daily = etl.run_etl(spark, data, out, run.ETL_NOW)
        got["etl"] = {
            "sink_rows": first["rows"],
            "budget_rows": first["budget_rows"],
            "partitions": len(first["partitions"]["replaced"]),
            "daily_partition": daily["partitions"]["replaced"][0],
        }
        got["queries"] = dict(sorted(got["queries"].items()))
    finally:
        run.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    if not args.check:
        target.write_text(json.dumps(got, indent=1) + "\n")
        print(f"wrote {target}")
        return 0
    want = json.loads(target.read_text())
    diffs = [
        f"{k}: {want['queries'].get(k)} != {v}"
        for k, v in got["queries"].items()
        if want["queries"].get(k) != v
    ]
    if want["etl"] != got["etl"]:
        diffs.append(f"etl: {want['etl']} != {got['etl']}")
    print("\n".join(diffs) or f"{target.name}: all {len(got['queries'])} queries and the ETL match")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
