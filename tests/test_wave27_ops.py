"""Wave-27 semantic pins beyond the registry-wide oracle parity gate:
the k-core peel against hand-computed graph theory, the checksum
diff's delta arithmetic against the actual dropped rows, and the
rank-correlation range contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE


def test_kcore_peel_on_toy_graph(spark):
    """K4 survives a 3-core peel (every vertex degree 3); a triangle
    (degrees 2) and a pendant vertex hanging off the K4 are peeled.
    The pendant's removal must NOT drag K4 vertices below threshold."""
    import dieter___etl___monarchmoney_spark.queries.lakehouse as w27

    edges = [
        # K4 on 1..4
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        # pendant off vertex 1
        (1, 9),
        # disjoint triangle 5,6,7 (max degree 2 -> peeled at k=3)
        (5, 6), (5, 7), (6, 7),
    ]
    df = spark.createDataFrame(edges, "part_a long, part_b long")

    monkey_edges = df

    orig = w27._copurchase_edges
    try:
        w27._copurchase_edges = lambda _spark, _sf: monkey_edges
        out = {
            r.part_id: r.core_degree
            for r in w27.q_copurchase_kcore(spark, "unused").collect()
        }
    finally:
        w27._copurchase_edges = orig
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_checksum_delta_equals_dropped_row_hashes(spark):
    """Every emitted day's checksum_delta must equal the sum of the
    row hashes of exactly the rows the replica predicate drops — the
    repair contract: the delta identifies the missing content, not
    just its count."""
    from dieter___etl___monarchmoney_spark.queries.lakehouse import (
        _row_hash,
        q_partition_checksum_diff,
    )
    from dieter___etl___monarchmoney_spark.sources.parquet import load_table

    got = {
        r.day: (r.missing_rows, r.checksum_delta)
        for r in q_partition_checksum_diff(spark, SF_ORACLE).collect()
    }
    dropped = (
        load_table(spark, "events", SF_ORACLE)
        .filter(F.col("event_id") % 997 == 0)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(_row_hash(F.col("event_id"))).cast("bigint").alias("s"),
        )
    )
    want = {r.day: (r.n, r.s) for r in dropped.collect()}
    assert got == want
    assert len(got) > 0


def test_spearman_is_bounded_and_symmetric_in_ranks(spark):
    from dieter___etl___monarchmoney_spark.queries.lakehouse import (
        q_spearman_daily_correlation,
    )

    rows = q_spearman_daily_correlation(spark, SF_ORACLE).collect()
    assert len(rows) == 10  # C(5 event types, 2)
    for r in rows:
        assert -1.0 - 1e-9 <= r.spearman_rho <= 1.0 + 1e-9
        assert r.type_a < r.type_b


def test_fk_audit_orphans_match_direct_count(spark):
    """customer->nation orphans vs the corrupted replica must equal
    the direct count of customers whose nation key is a multiple of
    13 (the dropped parent keys)."""
    from dieter___etl___monarchmoney_spark.queries.lakehouse import (
        q_fk_integrity_audit,
    )
    from dieter___etl___monarchmoney_spark.sources.parquet import load_table

    rows = {r.relation: r for r in q_fk_integrity_audit(spark, SF_ORACLE).collect()}
    direct = (
        load_table(spark, "customer", SF_ORACLE)
        .filter(F.col("c_nationkey") % 13 == 0)
        .count()
    )
    assert rows["customer->nation"].orphan_rows == direct
    assert rows["customer->nation"].null_fk_rows == 0
    assert set(rows) == {
        "customer->nation",
        "lineitem->orders",
        "lineitem->part",
        "lineitem->supplier",
        "orders->customer",
        "supplier->nation",
    }


def test_sweep_kcore_variant_restores_constant_and_bakes_at_construction(spark):
    """The scale_check k=2 sweep variant (VERDICT r9 #5) patches the
    module constant only around PLAN CONSTRUCTION: the returned
    DataFrame must evaluate with k=2 semantics even though the global
    is already restored to 3 before any action runs — i.e. every
    filter/literal referencing _KCORE_K bakes in while building, and
    the registry query's k=3 semantics are untouched afterwards."""
    import dieter___etl___monarchmoney_spark.queries.lakehouse as w27
    from scale_check import _kcore_sweep_variant

    from dieter___etl___monarchmoney_spark import registry

    queries, _ = registry.load()
    assert w27._KCORE_K == 3
    df = _kcore_sweep_variant(queries, spark, SF_ORACLE)
    # restored BEFORE evaluation
    assert w27._KCORE_K == 3
    k2_rows = df.count()
    k3_rows = queries["copurchase_kcore"](spark, SF_ORACLE).count()
    # the 2-core strictly contains the 3-core, and on this graph the
    # containment is proper — proving the two plans really differ
    assert k2_rows > k3_rows > 0
