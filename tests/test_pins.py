"""pins: the package's one way to cache and release intermediates."""

from __future__ import annotations

import io
import tokenize
from pathlib import Path
from types import SimpleNamespace

import pytest

from dieter___etl___monarchmoney_spark import pins, registry
from dieter___etl___monarchmoney_spark.operators.rank import (
    exact_group_ntile,
    exact_group_rank,
)
from tests.conftest import SF_SMOKE
from tests.test_rank import _synthetic

PACKAGE = Path(pins.__file__).parent


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_release_counts_and_drains(spark):
    """release() frees every unscoped pin — input persists and edge
    checkpoints alike — and reports the count; a second call is a
    no-op."""
    pins.release()  # drain pins left by earlier tests in this session
    jsc = spark.sparkContext._jsc.sc()
    base = len(jsc.getRDDStorageInfo())
    df = _synthetic(spark, n=101)
    exact_group_rank(df, ["g"], "key", ["rid"], rank_col="r").count()
    exact_group_ntile(df, ["g"], "key", ["rid"], 4, out_col="t").count()
    assert len(jsc.getRDDStorageInfo()) > base  # pins are live
    assert pins.release() >= 2
    assert pins.release() == 0
    # the storage layer really let go of OUR blocks
    assert len(jsc.getRDDStorageInfo()) <= base


def test_stale_session_pin_is_dropped(spark):
    """scale_check runs a FRESH session per scale: a pin orphaned by a
    mid-loop failure outlives its session, and the next cleanup call
    must drop it, not crash the sweep."""

    def free():
        raise RuntimeError("Cannot call methods on a stopped SparkContext")

    pins.release()
    pins._unscoped.append(pins._Pin(SimpleNamespace(_jsc=None), free))
    df = _synthetic(spark, n=59)
    exact_group_rank(df, ["g"], "key", ["rid"], rank_col="r").count()
    # both live pins (input persist + edge checkpoint) released, the
    # stale one dropped
    assert pins.release() == 2
    assert pins._unscoped == []


def test_live_release_failure_raises_after_releasing_the_rest(spark):
    """A failure on a live session is raised, not swallowed into a
    short count — and only after every other pin was released."""

    def free():
        raise RuntimeError("boom")

    pins.release()
    spark.catalog.clearCache()
    pins._unscoped.append(pins._Pin(spark.sparkContext, free))
    df = _synthetic(spark, n=59)
    exact_group_rank(df, ["g"], "key", ["rid"], rank_col="r").count()
    with pytest.raises(RuntimeError, match="1 of 3 pins failed") as info:
        pins.release()
    assert str(info.value.__cause__) == "boom"
    assert pins._unscoped == []
    assert _cache_empty(spark)


def test_registry_call_keeps_callers_cache(spark):
    """A registry call releases only the pins of earlier calls, never a
    cache the caller made."""
    mine = spark.range(7).selectExpr("id * 3 AS x").persist()
    try:
        mine.count()
        queries, _ = registry.load()
        queries["transactions_summary"](spark, SF_SMOKE).count()
        assert mine.storageLevel.useMemory
    finally:
        mine.unpersist()


def test_cache_calls_only_in_pins():
    """Every cache, checkpoint and release in the package goes through
    pins.py."""
    banned = {"persist", "unpersist", "clearCache", "localCheckpoint"}
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "pins.py" and path.parent == PACKAGE:
            continue
        toks = list(tokenize.generate_tokens(io.StringIO(path.read_text()).readline))
        for prev, tok in zip(toks, toks[1:]):
            if tok.type == tokenize.NAME and tok.string in banned and prev.string == ".":
                found.append(f"{path.relative_to(PACKAGE)}:{tok.start[0]} .{tok.string}")
    assert not found, f"cache calls outside pins.py: {found}"
