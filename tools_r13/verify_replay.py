#!/usr/bin/env python
"""Driver-contract replay per .claude/skills/verify: entry() smoke at
sf0.001, every query at sf0.01, oracle queries compared against DuckDB
(row count + order-insensitive sorted-column value hash, floats @9dp,
DuckDB midnight datetimes normalized to dates)."""
from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import sys
from decimal import Decimal
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import duckdb  # noqa: E402

import __spark_entry__ as e  # noqa: E402
from dieter___etl___monarchmoney_spark import pins  # noqa: E402
from dieter___etl___monarchmoney_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
SF01 = "/root/testdata/sf0.01"


def _norm(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        v = round(v, 9)
        if v == 0:
            v = 0.0
        return f"{v:.9f}"
    if isinstance(v, dt.datetime):
        if v.time() == dt.time(0, 0):
            return str(v.date())
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def table_hash(cols, rows):
    recs = sorted("|".join(_norm(v) for v in r) for r in rows)
    h = hashlib.sha256()
    for r in recs:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> None:
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    smoke = e.entry(spark)
    rows = smoke.collect()
    assert len(rows) > 0, "entry() returned 0 rows"
    print(f"entry ok: {len(rows)} rows", flush=True)

    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF01}/{t}.parquet'")

    queries = e.queries()
    oracle = e.oracle_sql()
    failures = []
    for i, name in enumerate(sorted(queries)):
        try:
            df = queries[name](spark, SF01)
            srows = [tuple(r) for r in df.collect()]
            pins.release()
            if name in oracle:
                rel = duck.sql(oracle[name])
                drows = rel.fetchall()
                if len(srows) != len(drows):
                    failures.append((name, f"rows {len(srows)} vs {len(drows)}"))
                    continue
                hs = table_hash(df.columns, srows)
                hd = table_hash([c for c in rel.columns], drows)
                if hs != hd:
                    failures.append((name, "value hash mismatch"))
        except Exception as ex:  # noqa: BLE001
            failures.append((name, f"{type(ex).__name__}: {ex}"[:200]))
        if (i + 1) % 40 == 0:
            print(f"...{i + 1}/{len(queries)} done, failures={len(failures)}", flush=True)
    print(json.dumps({"n_queries": len(queries), "n_oracle": len(oracle), "failures": failures}))
    assert not failures, failures


if __name__ == "__main__":
    main()
