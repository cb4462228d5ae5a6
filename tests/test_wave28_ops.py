"""Wave-28 semantic pins beyond the oracle-parity gate: the two-phase
weighted median against hand-computed cases (including the exact
half-weight boundary and a value sitting on a bucket edge), PQ code
invariants, and trigram candidate-set losslessness on a miss."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE


def _wm(spark, rows):
    from dieter___etl___monarchmoney_spark.queries.search_ops import (
        two_phase_weighted_median,
    )

    df = spark.createDataFrame(
        [(s, float(v), i, Decimal(w)) for i, (s, v, w) in enumerate(rows)],
        "seg string, val double, tb long, wt decimal(38,18)",
    )
    return {
        r.seg: r.weighted_median
        for r in two_phase_weighted_median(
            df, "seg", "val", "wt", ["tb"], bucket_width=10.0
        ).collect()
    }


def test_weighted_median_hand_cases(spark):
    # seg a: values 1..4 weight 1 -> cum 1,2,3,4; total 4; first 2*cw>=4
    # is val=2. seg b: heavy tail -> median pulled to the heavy value.
    out = _wm(
        spark,
        [
            ("a", 1, 1), ("a", 2, 1), ("a", 3, 1), ("a", 4, 1),
            ("b", 5, 1), ("b", 100, 10),
        ],
    )
    assert out["a"] == 2.0
    assert out["b"] == 100.0


def test_weighted_median_bucket_edge(spark):
    """Values exactly on the bucket boundary (10.0 with width 10) and a
    median that falls in the LAST bucket must both resolve."""
    out = _wm(spark, [("a", 10.0, 1), ("a", 10.0, 1), ("a", 25.0, 1)])
    assert out["a"] == 10.0
    out2 = _wm(spark, [("a", 5.0, 1), ("a", 25.0, 2)])
    assert out2["a"] == 25.0


def test_pq_codes_bounded_and_sorted(spark):
    from dieter___etl___monarchmoney_spark.queries.search_ops import (
        _PQ_K,
        q_pq_adc_topk,
    )

    rows = q_pq_adc_topk(spark, SF_ORACLE).collect()
    assert len(rows) == 10
    dists = [r.adc_dist for r in rows]
    assert dists == sorted(dists)
    for r in rows:
        assert 0 <= r.code_a < _PQ_K and 0 <= r.code_b < _PQ_K
    # the query vector itself (vec_id 0) must be the nearest-or-tied
    # candidate under its own lookup table
    assert rows[0].adc_dist <= dists[-1]


def test_trigram_candidates_are_superset_of_matches(spark):
    """The candidate set (all pattern trigrams present) must contain
    every true substring match — losslessness, checked directly rather
    than through the oracle."""
    from dieter___etl___monarchmoney_spark.queries.search_ops import (
        _SEARCH_PAT,
        q_trigram_substring_search,
    )
    from dieter___etl___monarchmoney_spark.sources.parquet import load_table

    got = {r.doc_id for r in q_trigram_substring_search(spark, SF_ORACLE).collect()}
    direct = {
        r.doc_id
        for r in load_table(spark, "documents", SF_ORACLE)
        .filter(F.col("text").contains(_SEARCH_PAT))
        .select("doc_id")
        .collect()
    }
    assert got == direct
    assert len(got) > 0
