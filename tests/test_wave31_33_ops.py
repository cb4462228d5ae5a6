"""Wave-31/33 semantic pins beyond the oracle gate: bitemporal
visibility rules, retention conservation, greedy set-cover
invariants, and RRF ordering."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE


def test_bitemporal_excludes_unarrived_and_future_valid(spark):
    """Every returned version must satisfy BOTH cutoffs, and for at
    least one (user, type) the bitemporal winner must differ from the
    plain valid-time-only winner — proving the transaction-time axis
    actually changes answers (a late-arriving newer event is
    invisible at T)."""
    from dieter___etl___monarchmoney_spark.queries.lakehouse import (
        _AS_AT_TX,
        _AS_OF_VALID,
        q_bitemporal_as_of_as_at,
    )
    from dieter___etl___monarchmoney_spark.sources.parquet import load_table

    rows = q_bitemporal_as_of_as_at(spark, SF_ORACLE).collect()
    assert rows
    import datetime

    v_us = int(
        datetime.datetime.fromisoformat(_AS_OF_VALID)
        .replace(tzinfo=datetime.timezone.utc)
        .timestamp()
        * 1_000_000
    )
    t_us = int(
        datetime.datetime.fromisoformat(_AS_AT_TX)
        .replace(tzinfo=datetime.timezone.utc)
        .timestamp()
        * 1_000_000
    )
    for r in rows:
        assert r.valid_us <= v_us
        assert r.tx_us <= t_us
    # valid-time-only winner per (user, type)
    events = load_table(spark, "events", SF_ORACLE)
    valid_only = (
        events.filter(F.unix_micros("ts") <= v_us)
        .groupBy("user_id", "event_type")
        .agg(
            F.max(
                F.struct(
                    F.unix_micros("ts").alias("vus"),
                    F.col("event_id").alias("eid"),
                )
            ).alias("m")
        )
        .select("user_id", "event_type", F.col("m")["vus"].alias("valid_us"))
    )
    bi = {(r.user_id, r.event_type): r.valid_us for r in rows}
    diff = 0
    for r in valid_only.collect():
        key = (r.user_id, r.event_type)
        if key in bi and bi[key] != r.valid_us:
            diff += 1
    assert diff > 0


def test_retention_conserves_rows(spark):
    from dieter___etl___monarchmoney_spark.queries.lakehouse import (
        q_retention_policy_prune,
    )
    from dieter___etl___monarchmoney_spark.sources.parquet import load_table

    rows = q_retention_policy_prune(spark, SF_ORACLE).collect()
    total = load_table(spark, "events", SF_ORACLE).count()
    assert sum(r.kept_rows + r.pruned_rows for r in rows) == total
    assert all(r.kept_rows > 0 for r in rows)


def test_set_cover_gains_non_increasing_and_novel(spark, duck):
    """Greedy gains must be non-increasing across rounds, doc ids
    unique, and the first pick must be the doc with the most distinct
    shingles (independently computed)."""
    from dieter___etl___monarchmoney_spark.queries.search_ops import (
        q_set_cover_greedy_selection,
    )

    rows = q_set_cover_greedy_selection(spark, SF_ORACLE).collect()
    assert len(rows) == 5
    gains = [r.gain for r in rows]
    assert gains == sorted(gains, reverse=True)
    assert len({r.doc_id for r in rows}) == 5
    best = duck.sql(
        r"""SELECT doc_id FROM (
            SELECT doc_id, COUNT(DISTINCT shingle) c FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, greatest(len(tk) - 2, 0)),
                           i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
                FROM (SELECT doc_id,
                             list_filter(string_split_regex(lower(trim(text)),
                                         '\s+'), t -> t <> '') AS tk
                      FROM documents)
            ) GROUP BY doc_id ORDER BY c DESC, doc_id LIMIT 1)"""
    ).fetchone()[0]
    assert rows[0].doc_id == best


def test_rrf_orders_by_fused_score(spark):
    from dieter___etl___monarchmoney_spark.queries.search_ops import (
        _RRF_K,
        q_reciprocal_rank_fusion,
    )

    rows = q_reciprocal_rank_fusion(spark, SF_ORACLE).collect()
    assert len(rows) == 20
    scores = [r.rrf_score for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        expect = 1.0 / (_RRF_K + r.r_lex) + 1.0 / (_RRF_K + r.r_vec)
        assert abs(r.rrf_score - round(expect, 9)) < 1e-12
