"""Semantic tests for wave 12 beyond cross-engine parity: link
prediction returns only NON-edges with positive finite scores, ACF
stays in [-1, 1] with shrinking support, the funnel's ordering
constraint actually binds (a purchase BEFORE the first qualifying view
must not count), and the rank surface satisfies the distributional
identities percent_rank/cume_dist/ntile promise."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark import registry
from dieter___etl___monarchmoney_spark.sources.parquet import load_table
from tests.conftest import SF_ORACLE, SF_SMOKE

QUERIES, ORACLE_SQL = registry.load()


def test_linkpred_returns_only_nonedges(duck, spark):
    from dieter___etl___monarchmoney_spark.queries.series_ops import (
        _AA_MIN_CO,
        _AA_TYPE,
    )

    edges = {
        tuple(r)
        for r in duck.sql(
            f"""
            SELECT a.pk, b.pk FROM
            (SELECT DISTINCT o_custkey AS cust, l_partkey AS pk
             FROM lineitem JOIN orders ON o_orderkey = l_orderkey
             JOIN part ON p_partkey = l_partkey
             WHERE p_type = '{_AA_TYPE}') a
            JOIN (SELECT DISTINCT o_custkey AS cust, l_partkey AS pk
                  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
                  JOIN part ON p_partkey = l_partkey
                  WHERE p_type = '{_AA_TYPE}') b
              ON a.cust = b.cust AND a.pk < b.pk
            GROUP BY 1, 2 HAVING COUNT(*) >= {_AA_MIN_CO}
            """
        ).fetchall()
    }
    rows = QUERIES["linkpred_adamic_adar"](spark, SF_ORACLE).collect()
    assert rows, "no distance-2 candidates — test is vacuous"
    scores = [r.aa_score for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert (r.part_a, r.part_b) not in edges, "predicted an existing edge"
        assert r.part_a < r.part_b
        assert r.n_common >= 1
        # every common neighbor has degree >= 2: 0 < term <= 1/ln(2)
        assert 0.0 < r.aa_score <= r.n_common * (1.0 / 0.6931471805599453) + 1e-9


def test_acf_bounds_and_support(spark):
    rows = QUERIES["hourly_value_acf"](spark, SF_ORACLE).collect()
    assert [r.lag for r in rows] == [1, 2, 3, 6, 12, 24]
    for r in rows:
        assert -1.0 - 1e-9 <= r.acf <= 1.0 + 1e-9
    # support shrinks (weakly) as the lag grows on a contiguous series
    supports = [r.n_pairs for r in rows]
    assert supports == sorted(supports, reverse=True)


def _events(spark, rows):
    return spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), u, et, 1.0, "{}")
            for i, (u, m, et) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def test_funnel_ordering_constraint_binds(spark, tmp_path):
    """u1 converts in order; u2 purchases BEFORE its first
    post-signup view (must not count as purchase_after); u3 views
    before signing up and never after (must not count as view_after)."""
    ev = _events(
        spark,
        [
            (1, 0, "signup"), (1, 10, "view"), (1, 20, "purchase"),
            (2, 0, "signup"), (2, 5, "purchase"), (2, 10, "view"),
            (3, 0, "view"), (3, 10, "signup"),
        ],
    )
    ev.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    r = QUERIES["funnel_conversion_steps"](spark, str(tmp_path)).collect()[0]
    assert r.n_users == 3
    assert r.n_signup == 3
    assert r.n_view_after == 2      # u1 and u2 (view at 10 >= signup)
    assert r.n_purchase_after == 1  # only u1: u2's purchase precedes its view
    assert abs(r.view_rate - 2 / 3) < 1e-12
    assert abs(r.purchase_rate - 1 / 2) < 1e-12


def test_funnel_monotone_on_real_data(spark):
    r = QUERIES["funnel_conversion_steps"](spark, SF_SMOKE).collect()[0]
    assert r.n_users >= r.n_signup >= r.n_view_after >= r.n_purchase_after >= 0


def test_rank_surface_distribution_identities(spark):
    rows = QUERIES["customer_balance_rank_surface"](spark, SF_ORACLE).collect()
    by_seg: dict = {}
    for r in rows:
        by_seg.setdefault(r.c_mktsegment, []).append(r)
    for seg, rs in by_seg.items():
        n = len(rs)
        # cume_dist of the last row is exactly 1; percent_rank of the
        # first is exactly 0
        assert rs[-1].cume == 1.0
        assert rs[0].pct_rank == 0.0
        assert all(0.0 <= r.pct_rank <= 1.0 for r in rs)
        # ntile(4) balance: bucket sizes differ by at most 1
        sizes = [sum(1 for r in rs if r.quartile == q) for q in (1, 2, 3, 4)]
        assert max(sizes) - min(sizes) <= 1, (seg, sizes)
        assert sum(sizes) == n
