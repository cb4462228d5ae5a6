#!/usr/bin/env python
"""Shared core of the scripts that drive the query registry (`bench.py`,
`scale_check.py`, `determinism_check.py`): the session policy, the
per-query loop, the timing estimator, subset selection and run
labelling live here once.

Run directly, it is the same-session interleaved A/B timer:

    python harness.py <rounds> <query> [<query> ...]

Each named query runs once untimed, then <rounds> times in interleaved
order (q1, q2, ..., q1, q2, ...), timed to `.count()` like the bench;
per-query min/median/all are printed as JSON. Compare two sibling
query names, or one name with the code under test toggled by an
environment variable, inside one warm JVM.
"""

from __future__ import annotations

import gc
import json
import os
import re
import statistics
import sys
import time
from pathlib import Path
from typing import Callable, Iterable

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from dieter___etl___monarchmoney_spark import pins, registry  # noqa: E402
from dieter___etl___monarchmoney_spark.session import get_spark  # noqa: E402
from dieter___etl___monarchmoney_spark.sources.parquet import DEFAULT_SF_DIR  # noqa: E402

#: passes disagreeing by more than this trigger the tie-break third pass
TIEBREAK_RATIO = 1.5

_MEM_UNIT = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}


def _mem_bytes(s: str) -> int:
    """JVM memory string ('24g', '512m', bare bytes) -> bytes; 0 when
    unparseable so a weird value warns rather than crashes the run."""
    m = re.fullmatch(r"(\d+)\s*([kmgt]?)b?", str(s).strip().lower())
    if not m:
        return 0
    return int(m.group(1)) * _MEM_UNIT.get(m.group(2), 1)


def session(app_name: str):
    """The harness SparkSession: 24g driver heap, ERROR log level."""
    # full-registry runs on many local threads GC-stall with a small
    # heap; the harness owns this tuning, not get_spark()'s library
    # default. setdefault so an explicit caller override still wins.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    spark = get_spark(app_name=app_name)
    spark.sparkContext.setLogLevel("ERROR")
    # the heap setting only takes effect if THIS process launches the
    # JVM; a session reused via getOrCreate keeps its original heap and
    # the GC-stall mitigation does not apply. Say so on stderr (stdout
    # stays JSON-only).
    live_mem = spark.sparkContext.getConf().get("spark.driver.memory", "1g")
    want_mem = os.environ["SPARK_DRIVER_MEMORY"]
    if _mem_bytes(live_mem) < _mem_bytes(want_mem):
        print(
            f"WARNING: reused SparkSession has spark.driver.memory="
            f"{live_mem} < intended {want_mem}; full-registry timings "
            f"may carry GC-stall noise",
            file=sys.stderr,
            flush=True,
        )
    return spark


def timed(fn: Callable[[], object]) -> list[float]:
    """Wall seconds of two back-to-back `fn()` calls, plus an immediate
    third when they disagree by more than TIEBREAK_RATIO.

    Box noise (GC pauses, page-cache and compaction stalls) is additive,
    so callers take the min. A pair that disagrees had at least one
    poisoned pass; the third pass, run while caches are still warm,
    makes the min rest on two agreeing observations."""

    def one() -> float:
        t0 = time.perf_counter()
        fn()
        return round(time.perf_counter() - t0, 4)

    dts = [one(), one()]
    if max(dts) > TIEBREAK_RATIO * min(dts):
        dts.append(one())
    return dts


def select(available: Iterable[str], names: Iterable[str]) -> list[str]:
    """`names` (blank entries dropped) in their given order; raises
    ValueError naming every entry not in `available`, so a typo can
    never yield a green partial run."""
    known = set(available)
    wanted = [n.strip() for n in names if n.strip()]
    unknown = [n for n in wanted if n not in known]
    if unknown:
        raise ValueError(f"unknown query names: {unknown}")
    return wanted


def run_each(names: Iterable[str], body: Callable[[str], object]) -> None:
    """`body(name)` for each name, then release that query's pins and
    collect its dead frames, so the ContextCleaner frees its shuffle and
    broadcast state before the next query runs."""
    for name in names:
        body(name)
        pins.release()
        gc.collect()


#: the round-numbered files: BENCH_r{N}.json results and what the
#: harness scripts write (BENCH_DETAIL_r{N}.json, DETERMINISM_r{N}.json),
#: with or without a suffix such as ``_subset``
_ROUND_FILE = re.compile(r"(?:BENCH|BENCH_DETAIL|DETERMINISM)_r(\d+)(?:_\w+)?\.json")


def round_number(root: Path = REPO) -> int:
    """1 + the highest round N among the round-numbered files in
    ``root``, so a run never overwrites an artifact already recorded."""
    rounds = [int(m.group(1)) for p in root.iterdir() if (m := _ROUND_FILE.fullmatch(p.name))]
    return max(rounds, default=0) + 1


def sf_of(sf_dir: str) -> float:
    """Scale factor named by a dataset directory ('.../sf0.1' -> 0.1);
    -1.0 when the path names none."""
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def main() -> None:
    rounds = int(sys.argv[1])
    sf_dir = DEFAULT_SF_DIR
    queries, _ = registry.load()
    names = select(queries, sys.argv[2:])
    spark = session("ab_queries")

    def once(name: str) -> float:
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).count()
        return round(time.perf_counter() - t0, 4)

    res: dict[str, list[float]] = {n: [] for n in names}
    run_each(names, once)  # one untimed warm-up each
    for _ in range(rounds):
        run_each(names, lambda n: res[n].append(once(n)))
    out = {
        n: {"min": min(v), "median": round(statistics.median(v), 4), "all": v}
        for n, v in res.items()
    }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
