"""Round-4 wave 12: graph link prediction (Adamic-Adar over the
near-dup graph), autocorrelation of the hourly value series, an
ordered conversion funnel, and the remaining analytic-rank surface
(percent_rank / cume_dist / ntile in one window pass).

Scale themes continued from waves 6-11: wedge enumeration bounded by
Σdeg² on a doc_freq-capped graph (never all-pairs over documents),
whole-frame windows ONLY over already-aggregated cardinalities, funnel
steps as co-partitioned user_id aggregates (every shuffle reuses the
same key), and exact-decimal quantization wherever doubles are summed.

Reference framing: the reference (monarchmoney.py GraphQL client) has
no graph/series/funnel surface; these extend the analytics-engine
claim documented in FIXTURES.md over the driver star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.pins import pin
from dieter___etl___monarchmoney_spark.registry import query
from dieter___etl___monarchmoney_spark.sources.parquet import load_table

_DEC18 = "decimal(38,18)"


# --------------------------------------------------------------------------
# Adamic-Adar link prediction over the near-dup similarity graph
# --------------------------------------------------------------------------

_AA_TOPK = 50
_AA_TYPE = "PROMO"  # one product line keeps the projection graph sparse
_AA_MIN_CO = 3      # support threshold: >=3 shared customers per edge

_ADAMIC_ADAR_SQL = f"""
WITH baskets AS (
    SELECT DISTINCT o_custkey AS cust, l_partkey AS pk
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN part ON p_partkey = l_partkey
    WHERE p_type = '{_AA_TYPE}'
),
edges AS (
    SELECT a.pk AS doc_a, b.pk AS doc_b
    FROM baskets a JOIN baskets b ON a.cust = b.cust AND a.pk < b.pk
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_AA_MIN_CO}
),
sym AS (
    SELECT doc_a AS src, doc_b AS dst FROM edges
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM edges
),
deg AS (SELECT src AS node, COUNT(*) AS degree FROM sym GROUP BY src),
wedges AS (
    SELECT e1.dst AS a, e2.dst AS b, e1.src AS w
    FROM sym e1 JOIN sym e2 ON e1.src = e2.src AND e1.dst < e2.dst
),
scored AS (
    SELECT a, b,
           COUNT(*) AS n_common,
           CAST(SUM(CAST(1.0 / LN(CAST(d.degree AS DOUBLE))
                         AS DECIMAL(38,18))) AS DOUBLE) AS aa_score
    FROM wedges JOIN deg d ON d.node = w
    GROUP BY a, b
),
novel AS (
    SELECT s.a, s.b, s.n_common, s.aa_score
    FROM scored s
    LEFT JOIN edges e ON e.doc_a = s.a AND e.doc_b = s.b
    WHERE e.doc_a IS NULL
)
SELECT a AS part_a, b AS part_b, CAST(n_common AS BIGINT) AS n_common,
       ROUND(aa_score, 9) AS aa_score
FROM novel
ORDER BY aa_score DESC, part_a, part_b
LIMIT {_AA_TOPK}
"""


@query("linkpred_adamic_adar", _ADAMIC_ADAR_SQL)
def q_linkpred_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph: parts of one product
    line are linked when at least _AA_MIN_CO customers bought both; for
    every NON-edge pair at distance 2, the Adamic-Adar score
    Σ_w 1/ln(deg(w)) over common neighbors w ranks the likeliest
    missing edges — the recommender-adjacent graph primitive. (The
    near-dup graph is the WRONG substrate for this op: exact-copy
    clusters are cliques, so its distance-2 non-edge set is provably
    empty — link prediction needs open wedges, which co-purchase
    projections have in abundance.)

    Scale shape: the bipartite projection aggregates per-customer
    baskets — cost Σ basket² bounded by restricting to one product
    line (at 100 TB: cap basket size or sample heavy customers, the
    same guard as doc_freq_cap); the support threshold (HAVING >= 3)
    prunes the edge list BEFORE any graph step. Wedges then enumerate
    by a self-equi-join of the symmetrized edges on the shared vertex
    — Σ deg², the triangle-counting budget. Known edges drop via a
    broadcast anti join. Every common neighbor has degree >= 2 by
    construction, so ln(deg) >= ln 2 and the 1/ln term is finite;
    per-wedge terms quantize to DECIMAL(38,18) before the SUM so
    aggregation order cannot flake the hash; top-k ties break on
    (part_a, part_b)."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    promo = (
        load_table(spark, "part", sf_dir)
        .filter(F.col("p_type") == _AA_TYPE)
        .select("p_partkey")
    )
    baskets = (
        li.join(F.broadcast(promo), F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    ba = baskets.select("cust", F.col("pk").alias("pa"))
    bb = baskets.select(F.col("cust").alias("cust2"), F.col("pk").alias("pb"))
    # three consumers (two wedge sides + the anti join); without the
    # pin the projection re-runs per alias
    edges = pin(
        ba.join(bb, (F.col("cust") == F.col("cust2")) & (F.col("pa") < F.col("pb")))
        .groupBy(F.col("pa").alias("doc_a"), F.col("pb").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= _AA_MIN_CO)
        .select("doc_a", "doc_b")
    )
    sym = edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionAll(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    e1 = sym.select(F.col("src").alias("w"), F.col("dst").alias("a"))
    e2 = sym.select(F.col("src").alias("w2"), F.col("dst").alias("b"))
    wedges = e1.join(e2, (F.col("w") == F.col("w2")) & (F.col("a") < F.col("b")))
    scored = (
        wedges.join(F.broadcast(deg), F.col("node") == F.col("w"))
        .select(
            "a",
            "b",
            (F.lit(1.0) / F.log(F.col("degree").cast("double")))
            .cast(_DEC18)
            .alias("t"),
        )
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("t").cast("double").alias("aa"),
        )
    )
    novel = scored.join(
        F.broadcast(edges),
        (F.col("doc_a") == F.col("a")) & (F.col("doc_b") == F.col("b")),
        "left_anti",
    )
    return (
        novel.select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("n_common").cast("bigint").alias("n_common"),
            F.round("aa", 9).alias("aa_score"),
        )
        .orderBy(F.col("aa_score").desc(), "part_a", "part_b")
        .limit(_AA_TOPK)
    )


# --------------------------------------------------------------------------
# Autocorrelation of the hourly value series
# --------------------------------------------------------------------------

_ACF_LAGS = (1, 2, 3, 6, 12, 24)

_ACF_SQL = f"""
WITH hourly AS (
    SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
    FROM events GROUP BY 1
),
m AS (
    SELECT CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS mean,
           CAST(SUM(CAST((x - (SELECT CAST(SUM(CAST(x AS DECIMAL(38,12)))
                                        AS DOUBLE) / COUNT(*) FROM hourly))
                         * (x - (SELECT CAST(SUM(CAST(x AS DECIMAL(38,12)))
                                        AS DOUBLE) / COUNT(*) FROM hourly))
                         AS DECIMAL(38,12))) AS DOUBLE) AS ss
    FROM hourly
),
lags AS (SELECT unnest([{', '.join(str(k) for k in _ACF_LAGS)}]) AS lag),
pairs AS (
    SELECT l.lag,
           (a.x - m.mean) * (b.x - m.mean) AS p
    FROM hourly a
    JOIN lags l ON TRUE
    JOIN hourly b ON b.h = a.h + l.lag
    CROSS JOIN m
),
num AS (
    SELECT lag,
           CAST(SUM(CAST(p AS DECIMAL(38,12))) AS DOUBLE) AS sp,
           COUNT(*) AS n_pairs
    FROM pairs GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag,
       ROUND(sp / (SELECT ss FROM m), 9) AS acf,
       CAST(n_pairs AS BIGINT) AS n_pairs
FROM num
ORDER BY lag
"""


@query("hourly_value_acf", _ACF_SQL)
def q_hourly_value_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly total-value series at lags
    {1,2,3,6,12,24} — the seasonality detector that tells a pipeline
    whether daily periodicity exists BEFORE fitting anything
    (seasonal_dow_decompose's upstream question).

    Lag alignment is by HOUR ARITHMETIC (epoch-hour + k), not by row
    offset: a LAG window over existing rows would silently misalign
    across gaps in the series, and gap behavior must be identical on
    both engines. Pairs outside the observed range simply drop, and
    n_pairs reports the support per lag.

    Scale shape: the fact collapses to an hour-cardinality series in
    one map-side-combinable exact-decimal aggregate; everything after
    (mean, centered sum of squares, the per-lag products) runs on
    |hours| rows — a frame that stays sketch-sized at any fact scale
    (one year ≈ 8,760 rows). The lag join is an equi-join on h+k
    against the broadcast-small series itself; mean and ss ride along
    as a broadcast 1-row frame. All sums quantize to decimals; the
    acf ratio divides two exact doubles identically on both engines."""
    ev = load_table(spark, "events", sf_dir)
    hourly = (
        ev.select(
            (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("bigint").alias("h"),
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
        .groupBy("h")
        .agg(F.sum("v").cast("double").alias("x"))
    )
    stats = hourly.agg(
        (F.sum(F.col("x").cast("decimal(38,12)")).cast("double") / F.count(F.lit(1))).alias(
            "mean"
        )
    )
    centered = hourly.crossJoin(F.broadcast(stats)).select(
        "h", "x", (F.col("x") - F.col("mean")).alias("c"), "mean"
    )
    ss = centered.agg(
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,12)"))
        .cast("double")
        .alias("ss")
    )
    lags = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _ACF_LAGS])).alias("lag")
    )
    a = centered.select("h", F.col("c").alias("ca"))
    b = centered.select(F.col("h").alias("hb"), F.col("c").alias("cb"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("hb") == F.col("h") + F.col("lag"))
        .select("lag", (F.col("ca") * F.col("cb")).cast("decimal(38,12)").alias("p"))
    )
    num = pairs.groupBy("lag").agg(
        F.sum("p").cast("double").alias("sp"), F.count(F.lit(1)).alias("n_pairs")
    )
    return (
        num.crossJoin(F.broadcast(ss))
        .select(
            F.col("lag").cast("int").alias("lag"),
            F.round(F.col("sp") / F.col("ss"), 9).alias("acf"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
        )
        .orderBy("lag")
    )


# --------------------------------------------------------------------------
# Ordered conversion funnel: signup -> first view after -> first purchase after
# --------------------------------------------------------------------------

_FUNNEL_SQL = """
WITH s AS (
    SELECT user_id, MIN(ts) AS t_signup
    FROM events WHERE event_type = 'signup' GROUP BY user_id
),
v AS (
    SELECT e.user_id, MIN(e.ts) AS t_view
    FROM events e JOIN s ON s.user_id = e.user_id
    WHERE e.event_type = 'view' AND e.ts >= s.t_signup
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(e.ts) AS t_purchase
    FROM events e JOIN v ON v.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND e.ts >= v.t_view
    GROUP BY e.user_id
)
SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
       (SELECT COUNT(*) FROM s) AS n_signup,
       (SELECT COUNT(*) FROM v) AS n_view_after,
       (SELECT COUNT(*) FROM p) AS n_purchase_after,
       CAST((SELECT COUNT(*) FROM v) AS DOUBLE)
           / (SELECT COUNT(*) FROM s) AS view_rate,
       CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
           / NULLIF((SELECT COUNT(*) FROM v), 0) AS purchase_rate
"""


@query("funnel_conversion_steps", _FUNNEL_SQL)
def q_funnel_conversion_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED conversion funnel: signup, then the first view AT OR
    AFTER the signup, then the first purchase AT OR AFTER that view —
    the sequencing constraint is what distinguishes a funnel from
    three independent counts (a purchase before the user's first
    qualifying view must NOT count, even if both event types exist).

    Scale shape: three aggregates and two joins, ALL keyed on user_id
    — one co-partitioned shuffle key throughout, so after the first
    exchange the funnel steps are narrow per-user reductions (each
    stage's frame is user-cardinality, strictly shrinking down the
    funnel). This is the two-pass generalization of
    conversion_lag_quantiles' single conditional aggregate, needed
    because step N's cutoff depends on step N-1's result. Counts are
    exact integers; the two rates divide exact integers as doubles."""
    ev = load_table(spark, "events", sf_dir)
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    n_users = ev.agg(F.countDistinct("user_id").alias("n_users"))
    counts = (
        n_users.crossJoin(F.broadcast(s.agg(F.count(F.lit(1)).alias("n_signup"))))
        .crossJoin(F.broadcast(v.agg(F.count(F.lit(1)).alias("n_view_after"))))
        .crossJoin(F.broadcast(p.agg(F.count(F.lit(1)).alias("n_purchase_after"))))
    )
    return counts.select(
        "n_users",
        "n_signup",
        "n_view_after",
        "n_purchase_after",
        (F.col("n_view_after").cast("double") / F.col("n_signup")).alias("view_rate"),
        (
            F.col("n_purchase_after").cast("double")
            / F.nullif(F.col("n_view_after"), F.lit(0))
        ).alias("purchase_rate"),
    )


# --------------------------------------------------------------------------
# Analytic-rank surface: percent_rank / cume_dist / ntile in one window
# --------------------------------------------------------------------------

_RANK_SURFACE_SQL = """
SELECT c_custkey,
       c_mktsegment,
       c_acctbal,
       ROUND(PERCENT_RANK() OVER w, 9) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 9) AS cume,
       CAST(NTILE(4) OVER w AS INT) AS quartile
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
ORDER BY c_mktsegment, c_acctbal, c_custkey
"""


@query("customer_balance_rank_surface", _RANK_SURFACE_SQL)
def q_customer_balance_rank_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining analytic-rank surface in ONE window pass:
    percent_rank, cume_dist, and ntile(4) over account balance within
    each market segment (row_number/rank/dense_rank/lag/lead are
    exercised elsewhere — this closes the rank-function family).

    The window orders by (c_acctbal, c_custkey): the unique tie-break
    inside the ORDER BY matters here more than anywhere else, because
    percent_rank/cume_dist assign EQUAL values to peers — without the
    key, tied balances would be engine-order-dependent in ntile (which
    splits peers) even though the other two are tie-stable.

    Scale shape: one hash partition by segment, one sort per
    partition, all three functions evaluated in the same window
    operator (one pass, no extra exchange); at 100 TB the segment key
    is low-cardinality but each partition streams — rank functions
    carry O(1) state. Output is the full ranked table, the shape a
    curation pipeline persists as a feature column."""
    cust = load_table(spark, "customer", sf_dir)
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        cust.select(
            "c_custkey",
            "c_mktsegment",
            "c_acctbal",
            F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 9).alias("cume"),
            F.ntile(4).over(w).cast("int").alias("quartile"),
        )
        .orderBy("c_mktsegment", "c_acctbal", "c_custkey")
    )
