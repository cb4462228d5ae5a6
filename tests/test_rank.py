"""exact_group_rank / exact_group_ntile: value-identical to the plain
ranking window (F.row_number / F.ntile over PARTITION BY group), while
the ranking stage's window partition key includes the synthetic bucket
id — parallelism |groups| x num_buckets, never one task per group
(VERDICT r10 #1: the single-task-per-source decile sort)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.operators.rank import (
    exact_group_ntile,
    exact_group_rank,
)


def _synthetic(spark, n=4_003, groups=7):
    """Deterministic pseudo-random rows: group skew (group 0 holds
    ~half the rows), continuous-ish keys with planted exact ties, and
    a unique id tie-break — the shapes NTILE is sensitive to."""
    return spark.range(n).select(
        F.col("id").cast("bigint").alias("rid"),
        (F.pmod(F.xxhash64("id"), F.lit(groups * 2)) % groups).alias("g"),
        # 257 distinct key values -> real ties inside every group
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(257)) / 31.0).alias("key"),
    )


def _expected_ntile(df, k, ascending):
    order = [F.col("key").asc() if ascending else F.col("key").desc(), F.col("rid")]
    w = Window.partitionBy("g").orderBy(*order)
    return df.select("rid", F.ntile(k).over(w).alias("want"))


def _check_ntile_matches(spark, k, ascending, num_buckets):
    df = _synthetic(spark)
    got = exact_group_ntile(
        df,
        ["g"],
        "key",
        ["rid"],
        k,
        ascending=ascending,
        num_buckets=num_buckets,
        out_col="got",
    ).select("rid", "got")
    want = _expected_ntile(df, k, ascending)
    diff = got.join(want, "rid").filter(F.col("got") != F.col("want"))
    assert diff.count() == 0


def test_ntile_matches_window_asc(spark):
    _check_ntile_matches(spark, 10, ascending=True, num_buckets=32)


def test_ntile_matches_window_desc(spark):
    _check_ntile_matches(spark, 10, ascending=False, num_buckets=32)


def test_ntile_matches_window_small_groups(spark):
    """n < k groups: NTILE leaves trailing tiles empty (tile == rank)."""
    df = _synthetic(spark, n=23, groups=6)
    got = exact_group_ntile(df, ["g"], "key", ["rid"], 10, out_col="got").select(
        "rid", "got"
    )
    want = _expected_ntile(df, 10, True)
    diff = got.join(want, "rid").filter(F.col("got") != F.col("want"))
    assert diff.count() == 0


def test_ntile_matches_under_degenerate_buckets(spark):
    """One dominant key value (fat bucket) + num_buckets=1 (no split at
    all): both degrade to the plain window's answer, never diverge."""
    df = _synthetic(spark).withColumn(
        "key", F.when(F.col("rid") % 3 != 0, F.lit(0.5)).otherwise(F.col("key"))
    )
    for nb in (1, 8):
        got = exact_group_ntile(
            df, ["g"], "key", ["rid"], 10, num_buckets=nb, out_col="got"
        ).select("rid", "got")
        want = _expected_ntile(df, 10, True)
        diff = got.join(want, "rid").filter(F.col("got") != F.col("want"))
        assert diff.count() == 0


def test_rank_is_exact_rownumber(spark):
    df = _synthetic(spark, n=1_501)
    w = Window.partitionBy("g").orderBy(F.col("key").asc(), F.col("rid"))
    want = df.select("rid", F.row_number().over(w).alias("want"))
    got = exact_group_rank(
        df, ["g"], "key", ["rid"], rank_col="got", n_col="n"
    ).select("rid", "got", "n")
    diff = got.join(want, "rid").filter(F.col("got") != F.col("want"))
    assert diff.count() == 0
    # n carries the true group size on every row
    sizes = df.groupBy("g").agg(F.count(F.lit(1)).alias("true_n"))
    bad_n = (
        got.join(df.select("rid", "g"), "rid")
        .join(sizes, "g")
        .filter(F.col("n") != F.col("true_n"))
    )
    assert bad_n.count() == 0


def test_null_group_keys_rank_as_their_own_group(spark):
    """A NULL group key is one group to GROUP BY / PARTITION BY; the
    bucket-edge joins are null-safe so its rows must neither drop nor
    mis-rank (the naive equi-join-back would silently lose them)."""
    df = _synthetic(spark, n=601).withColumn(
        "g", F.when(F.col("g") == 0, F.lit(None)).otherwise(F.col("g"))
    )
    got = exact_group_ntile(df, ["g"], "key", ["rid"], 10, out_col="got").select(
        "rid", "got"
    )
    want = _expected_ntile(df, 10, True)
    assert got.count() == df.count()  # no rows lost
    diff = got.join(want, "rid").filter(F.col("got") != F.col("want"))
    assert diff.count() == 0


def test_rank_empty_input(spark):
    """Empty input: the collected edge table is empty and the operator
    returns an empty frame with the rank column — no crash in the
    createDataFrame([], schema) path."""
    df = _synthetic(spark, n=10).filter(F.col("rid") < 0)
    out = exact_group_rank(df, ["g"], "key", ["rid"], rank_col="r")
    assert out.count() == 0
    assert "r" in out.columns


def test_all_null_order_key_group(spark):
    """A group whose ORDER key is entirely NULL: its percentile_approx
    edge array is NULL, the coalesce pins its rows to bucket 0, and
    ranking falls through to the tie-break — matching the plain window
    (NULLS FIRST, then rid)."""
    df = _synthetic(spark, n=301).withColumn(
        "key", F.when(F.col("g") == 1, F.lit(None)).otherwise(F.col("key"))
    )
    w = Window.partitionBy("g").orderBy(F.col("key").asc(), F.col("rid"))
    want = df.select("rid", F.row_number().over(w).alias("want"))
    got = exact_group_rank(df, ["g"], "key", ["rid"], rank_col="got").select(
        "rid", "got"
    )
    assert got.count() == df.count()  # the NULL-key group keeps its rows
    diff = got.join(want, "rid").filter(F.col("got") != F.col("want"))
    assert diff.count() == 0


def test_ntile_rejects_non_int_k(spark):
    import pytest

    df = _synthetic(spark, n=20)
    for bad in ("10", 0, -1, True, 2.5):
        with pytest.raises(ValueError):
            exact_group_ntile(df, ["g"], "key", ["rid"], bad, out_col="t")


def test_group_prefix_sum_matches_window(spark):
    """exact_group_prefix_sum == the per-group cumulative window, both
    inclusive and exclusive frames, including signed values — compared
    NULL-safely: the exclusive frame's first row is NULL (SUM over an
    empty frame), never 0 (ADVICE r11)."""
    from dieter___etl___monarchmoney_spark.operators.rank import (
        exact_group_prefix_sum,
    )

    df = _synthetic(spark, n=2_011).withColumn(
        "v", (F.pmod(F.xxhash64("rid", F.lit(2)), F.lit(41)) - 17).cast("long")
    )
    for inclusive in (True, False):
        frame_end = 0 if inclusive else -1
        w = (
            Window.partitionBy("g")
            .orderBy("key", "rid")
            .rowsBetween(Window.unboundedPreceding, frame_end)
        )
        want = df.select("rid", F.sum("v").over(w).alias("want"))
        got = exact_group_prefix_sum(
            df, ["g"], "key", ["rid"], "v", "got", inclusive=inclusive
        ).select("rid", "got")
        diff = got.join(want, "rid").filter(
            ~F.col("got").eqNullSafe(F.col("want"))
        )
        assert diff.count() == 0


def test_group_prefix_sum_null_values_window_exact(spark):
    """NULL value rows are ignored like SUM ignores them, and a row
    whose whole preceding frame holds only NULLs yields NULL — the
    plain-window answer, not a coalesced 0 (ADVICE r11 #3). The NULLs
    are planted at each group's head so the exclusive frame of the
    first non-null rows is genuinely all-NULL."""
    from dieter___etl___monarchmoney_spark.operators.rank import (
        exact_group_prefix_sum,
    )

    df = _synthetic(spark, n=997).withColumn(
        "v",
        F.when(
            F.col("key") < 2.0, F.lit(None).cast("long")
        ).otherwise((F.pmod(F.xxhash64("rid", F.lit(3)), F.lit(23)) - 9).cast("long")),
    )
    for inclusive in (True, False):
        frame_end = 0 if inclusive else -1
        w = (
            Window.partitionBy("g")
            .orderBy("key", "rid")
            .rowsBetween(Window.unboundedPreceding, frame_end)
        )
        want = df.select("rid", F.sum("v").over(w).alias("want"))
        got = exact_group_prefix_sum(
            df, ["g"], "key", ["rid"], "v", "got", inclusive=inclusive
        ).select("rid", "got")
        # the planted all-NULL head must actually produce NULL outputs
        assert got.filter(F.col("got").isNull()).count() > 0
        diff = got.join(want, "rid").filter(
            ~F.col("got").eqNullSafe(F.col("want"))
        )
        assert diff.count() == 0


def test_group_prefix_sum_rejects_float_values(spark):
    """Float/double value columns are rejected: the cell-offset add
    order differs from the window's sequential order, so float sums
    could diverge in the last ulps (VERDICT r11 #5). Decimals and
    integers pass the gate."""
    import pytest

    from dieter___etl___monarchmoney_spark.operators.rank import (
        exact_group_prefix_sum,
    )

    df = _synthetic(spark, n=50).withColumn("v", F.col("key") * 2.0)
    with pytest.raises(TypeError, match="value column"):
        exact_group_prefix_sum(df, ["g"], "key", ["rid"], "v", "out")
    dec = df.withColumn("v", F.col("v").cast("decimal(18,6)"))
    out = exact_group_prefix_sum(dec, ["g"], "key", ["rid"], "v", "out")
    assert out.count() == 50


def test_bucket_edges_pinned_as_literals(spark):
    """VERDICT r11 #1: the percentile_approx edge table feeds BOTH the
    cell-count branch and the ranking branch, and an un-pinned lazy
    aggregate is re-evaluated per branch (measured ReusedExchange: 0) —
    past the GK sketch's compression threshold the two evaluations
    could cut different edges and corrupt ranks. The fix materializes
    the K-bounded edges ONCE behind a lineage-truncating eager
    localCheckpoint (round 13; previously a driver collect + local
    relation re-emit — same guarantee, +0.25 s/call of py4j constant),
    so the executed plan of the returned DataFrame must contain NO
    percentile_approx at all — the edge values are checkpointed data
    by the time any consumer sees them."""
    df = _synthetic(spark, n=1_201)
    out = exact_group_rank(df, ["g"], "key", ["rid"], rank_col="r")
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "percentile_approx" not in plan
    # the edge table enters the plan as driver-materialized data
    assert (
        "Scan ExistingRDD" in plan
        or "LocalTableScan" in plan
        or "LocalRelation" in plan
    )


def test_rank_exact_with_exchange_reuse_disabled(spark):
    """Bucket-id agreement between the count branch and the rank
    branch must NOT depend on Spark's exchange/broadcast reuse deduping
    the edge subtree (an optimization, not a guarantee). With reuse
    forced off, every branch evaluates independently — ranks must
    still be the exact per-group permutation 1..n and match the plain
    window."""
    reuse = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        df = _synthetic(spark, n=1_783)
        w = Window.partitionBy("g").orderBy(F.col("key").asc(), F.col("rid"))
        want = df.select("rid", F.row_number().over(w).alias("want"))
        got = exact_group_rank(
            df, ["g"], "key", ["rid"], rank_col="got"
        ).select("rid", "got")
        diff = got.join(want, "rid").filter(F.col("got") != F.col("want"))
        assert diff.count() == 0
        # and per group the ranks are a gap-free 1..n permutation
        per_g = (
            got.join(df.select("rid", "g"), "rid")
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("got").alias("d"),
                F.min("got").alias("lo"),
                F.max("got").alias("hi"),
            )
            .filter(
                (F.col("d") != F.col("n"))
                | (F.col("lo") != 1)
                | (F.col("hi") != F.col("n"))
            )
        )
        assert per_g.count() == 0
    finally:
        spark.conf.set("spark.sql.exchange.reuse", reuse)


def test_ranking_stage_parallelism_not_capped_at_group_count(spark):
    """The scale contract: the ranking window's hash partition key
    includes the bucket id, so the one data shuffle spreads
    |groups| x num_buckets cells — never one task per group."""
    df = _synthetic(spark)
    out = exact_group_ntile(df, ["g"], "key", ["rid"], 10, out_col="t")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(g" in plan and "__egr_bkt" in plan
    # and the cells genuinely multiply at this scale
    edges = df.groupBy("g").agg(
        F.percentile_approx(
            "key", F.array(*[F.lit(i / 32) for i in range(1, 32)]), F.lit(10_000)
        ).alias("e")
    )
    cells = (
        df.join(F.broadcast(edges), "g")
        .select(
            "g",
            F.size(F.filter(F.col("e"), lambda e: F.col("key") > e)).alias("b"),
        )
        .distinct()
        .count()
    )
    assert cells > 7  # more cells than groups
