"""Time-series / product-analytics operators over the events series.

The reference's balance-history surface (SURVEY.md §2.1 S6, §2.4 A5-A6,
§2.5 W4) is a date × balance time series consumed for trend reporting;
these queries widen that family with the standard analytics shapes a
warehouse team would run on the same series: trailing moving averages
(range-frame windows), a wide pivot by series key, funnel conversion,
retention cohorts, and exact distribution quantiles.

Scale notes (each query's plan shape at 100 TB):

- ``moving_average_7d`` pre-aggregates to one row per day BEFORE the
  window (the window input is O(days), not O(events)); the range frame
  runs on a single ordered partition of ~365×years rows — driver-scale
  small after the first aggregate, so the unpartitioned window is safe.
- ``event_type_daily_pivot`` passes an EXPLICIT pivot value list, so
  Spark skips the extra collect-distinct job and the plan is one
  aggregate pass (pivot with inferred values scans twice).
- ``conversion_funnel`` chains per-stage mins on co-partitioned
  ``user_id`` equi-joins: every join after the first reuses the same
  hash partitioning (one shuffle total on user_id under AQE), and the
  final result is a single global row via partial aggregation.
- ``weekly_retention_cohorts`` derives the cohort key with a window min
  over ``user_id`` — one shuffle, no join — then a grouped
  count-distinct that reuses the same user_id clustering.
- ``percentile_stats_by_lang`` uses Spark's exact ``percentile``
  aggregate (sort-based within each lang group); for a sketch-based
  scale path at 100 TB swap ``percentile_approx`` — kept exact here so
  the DuckDB oracle (``quantile_cont``, same (n-1)p linear
  interpolation) hash-matches.

Money/balance sums follow the decimal-before-SUM determinism rule
(functions/money.py): exact at ≤4dp, order-independent, cast back to
DOUBLE at the edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.functions.money import (
    MONEY_DECIMAL,
    MONEY_DECIMAL_SQL,
    money_sum,
    money_sum_sql,
)
from dieter___etl___monarchmoney_spark.registry import query
from dieter___etl___monarchmoney_spark.sources.parquet import load_table
from dieter___etl___monarchmoney_spark.sources.star_model import TRANSACTIONS_SQL




EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "moving_average_7d",
    f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS date,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
               SUM(CAST(value AS {MONEY_DECIMAL_SQL})) AS bal,
               COUNT(*) AS n_points
        FROM events GROUP BY 1, 2
    )
    SELECT date,
           CAST(bal AS DOUBLE) AS balance,
           CAST(SUM(bal) OVER w AS DOUBLE) AS trailing_sum_7d,
           CAST(SUM(bal) OVER w AS DOUBLE) / SUM(n_points) OVER w AS avg_per_event_7d,
           CAST(COUNT(*) OVER w AS BIGINT) AS days_in_frame
    FROM daily
    WINDOW w AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def q_moving_average_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day moving aggregate over the daily balance series
    (the trend view of aggregateSnapshots, monarchmoney.py:326-333; W4's
    lag generalized to a range frame).

    The frame is a RANGE frame on the day number — calendar-correct
    under gaps (a missing day still ages out of the frame), unlike a
    6-ROWS-PRECEDING frame.  Sums stay DECIMAL inside the frame so the
    windowed accumulation is exact and order-independent; the average
    divides two exact quantities as the final double op.
    """
    events = load_table(spark, "events", sf_dir)
    daily = events.groupBy(
        F.col("ts").cast("date").alias("date"),
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "day_num"
        ),
    ).agg(
        F.sum(F.col("value").cast(MONEY_DECIMAL)).alias("bal"),
        F.count(F.lit(1)).alias("n_points"),
    )
    w = Window.orderBy("day_num").rangeBetween(-6, Window.currentRow)
    return daily.select(
        "date",
        F.col("bal").cast("double").alias("balance"),
        F.sum("bal").over(w).cast("double").alias("trailing_sum_7d"),
        (F.sum("bal").over(w).cast("double") / F.sum("n_points").over(w)).alias(
            "avg_per_event_7d"
        ),
        F.count(F.lit(1)).over(w).alias("days_in_frame"),
    )


_PIVOT_COLS = ", ".join(
    money_sum_sql("CASE WHEN event_type = '" + t + "' THEN value END") + " AS " + t
    for t in EVENT_TYPES
)


@query(
    "event_type_daily_pivot",
    f"""
    SELECT CAST(ts AS DATE) AS date,
           {_PIVOT_COLS}
    FROM events GROUP BY 1
    """,
)
def q_event_type_daily_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide daily series, one column per event type (the spreadsheet
    shape of snapshotsByAccountType, monarchmoney.py:292-305: date rows ×
    account-type columns).

    Pivot values are passed explicitly (EVENT_TYPES) so the plan is ONE
    aggregate pass — Spark's value-inferring pivot runs a prior distinct
    job over the full fact.  A conditional decimal sum per value keeps
    partial aggregation exact.
    """
    events = load_table(spark, "events", sf_dir)
    return (
        events.groupBy(F.col("ts").cast("date").alias("date"))
        .pivot("event_type", EVENT_TYPES)
        .agg(money_sum("value"))
    )


@query(
    "conversion_funnel",
    """
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY e.user_id
    ),
    s4 AS (
        SELECT e.user_id, MIN(e.ts) AS t4 FROM events e
        JOIN s3 ON e.user_id = s3.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s1) AS n_signup,
           (SELECT COUNT(*) FROM s2) AS n_view,
           (SELECT COUNT(*) FROM s3) AS n_click,
           (SELECT COUNT(*) FROM s4) AS n_purchase,
           CAST((SELECT COUNT(*) FROM s4) AS DOUBLE)
             / NULLIF((SELECT COUNT(*) FROM s1), 0) AS signup_to_purchase_rate
    """,
)
def q_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup → view → click → purchase: a
    user advances a stage only with a strictly LATER event of the next
    type (the recurring-stream forecast consumer's "did the expected
    event happen after" question, monarchmoney.py:2678-2715, as a
    multi-stage operator).

    Spark-first single pass: the naive form is a chain of four
    per-stage min-aggregate joins on ``user_id`` (the oracle SQL keeps
    that shape — two independent algorithms must agree).  Here the
    whole progression is ONE scan + ONE user_id shuffle: per user,
    sort the (ts, type) pairs and fold them left-to-right with the
    higher-order ``aggregate``, carrying (t1..t4) stage timestamps as
    the fold state.  Each stage fires on the first event of the right
    type strictly after the previous stage's timestamp — identical
    semantics to the join chain's ``MIN(ts) WHERE ts > t_prev`` because
    the array is time-sorted.  Per-user state is one array of that
    user's events (bounded by per-user activity, not table size; a
    whale user would cap via a per-user limit upstream).  The final
    stage counts come from partial aggregation of the per-user structs;
    no join, no recomputation of the fact scan per stage.
    """
    events = load_table(spark, "events", sf_dir).select("user_id", "event_type", "ts")
    per_user = events.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "event_type"))).alias("evs")
    )
    stages = per_user.select(
        F.aggregate(
            "evs",
            F.struct(
                F.lit(None).cast("timestamp").alias("t1"),
                F.lit(None).cast("timestamp").alias("t2"),
                F.lit(None).cast("timestamp").alias("t3"),
                F.lit(None).cast("timestamp").alias("t4"),
            ),
            lambda acc, e: F.struct(
                F.when(
                    acc["t1"].isNull() & (e["event_type"] == "signup"), e["ts"]
                )
                .otherwise(acc["t1"])
                .alias("t1"),
                F.when(
                    acc["t2"].isNull()
                    & (e["event_type"] == "view")
                    & acc["t1"].isNotNull()
                    & (e["ts"] > acc["t1"]),
                    e["ts"],
                )
                .otherwise(acc["t2"])
                .alias("t2"),
                F.when(
                    acc["t3"].isNull()
                    & (e["event_type"] == "click")
                    & acc["t2"].isNotNull()
                    & (e["ts"] > acc["t2"]),
                    e["ts"],
                )
                .otherwise(acc["t3"])
                .alias("t3"),
                F.when(
                    acc["t4"].isNull()
                    & (e["event_type"] == "purchase")
                    & acc["t3"].isNotNull()
                    & (e["ts"] > acc["t3"]),
                    e["ts"],
                )
                .otherwise(acc["t4"])
                .alias("t4"),
            ),
        ).alias("s")
    )
    return stages.agg(
        F.count(F.col("s.t1")).alias("n_signup"),
        F.count(F.col("s.t2")).alias("n_view"),
        F.count(F.col("s.t3")).alias("n_click"),
        F.count(F.col("s.t4")).alias("n_purchase"),
    ).select(
        "n_signup",
        "n_view",
        "n_click",
        "n_purchase",
        (
            F.col("n_purchase").cast("double")
            / F.nullif(F.col("n_signup"), F.lit(0))
        ).alias("signup_to_purchase_rate"),
    )


@query(
    "weekly_retention_cohorts",
    """
    WITH tagged AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS first_d
        FROM events
    )
    SELECT CAST(DATE_TRUNC('week', first_d) AS DATE) AS cohort_week,
           date_diff('week', CAST(DATE_TRUNC('week', first_d) AS DATE),
                     CAST(DATE_TRUNC('week', d) AS DATE)) AS weeks_since,
           COUNT(DISTINCT user_id) AS active_users
    FROM tagged
    GROUP BY 1, 2
    """,
)
def q_weekly_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: cohort = ISO week of a user's first
    event; count distinct users active N weeks later (the engagement
    view of the reference's recurring/forecast stream).

    The cohort key comes from a window MIN over ``user_id`` — one
    shuffle, no self-join — and the following count-distinct groups by
    (cohort_week, weeks_since) on data already clustered by user, so the
    distinct's first partial phase is cheap.  Weeks are Monday-anchored
    (`date_trunc('week')` agrees between Spark and DuckDB).
    """
    events = load_table(spark, "events", sf_dir)
    tagged = events.select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        F.min(F.col("ts").cast("date"))
        .over(Window.partitionBy("user_id"))
        .alias("first_d"),
    )
    cohort = F.trunc("first_d", "week")
    week = F.trunc("d", "week")
    return tagged.groupBy(
        cohort.alias("cohort_week"),
        ((F.datediff(week, cohort)) / 7).cast("bigint").alias("weeks_since"),
    ).agg(F.count_distinct("user_id").alias("active_users"))


@query(
    "percentile_stats_by_lang",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           quantile_cont(n_chars, 0.25) AS p25,
           quantile_cont(n_chars, 0.50) AS p50,
           quantile_cont(n_chars, 0.75) AS p75,
           quantile_cont(n_chars, 0.95) AS p95,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang
    """,
)
def q_percentile_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact length-distribution quantiles per language — the curation
    dashboard behind the length-based quality filters
    (functions/text.py): where to put min/max length cutoffs per lang.

    Spark's ``percentile`` and DuckDB's ``quantile_cont`` share the
    (n-1)·p linear-interpolation definition, so the oracle hash-matches
    exactly.  At 100 TB the drop-in scale path is ``percentile_approx``
    (t-digest sketch, mergeable map-side); the exact form is kept here
    because it is the oracle-checkable ground truth the sketch would be
    validated against.
    """
    docs = load_table(spark, "documents", sf_dir)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("percentile(n_chars, 0.25D)").alias("p25"),
        F.expr("percentile(n_chars, 0.50D)").alias("p50"),
        F.expr("percentile(n_chars, 0.75D)").alias("p75"),
        F.expr("percentile(n_chars, 0.95D)").alias("p95"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "range_banded_join",
    """
    SELECT p.event_id AS purchase_id, er.event_id AS error_id,
           p.user_id AS user_id,
           date_diff('microsecond', p.ts, er.ts) AS gap_micros
    FROM events p
    JOIN events er ON p.user_id = er.user_id
    WHERE p.event_type = 'purchase' AND er.event_type = 'error'
      AND date_diff('microsecond', p.ts, er.ts) > 0
      AND date_diff('microsecond', p.ts, er.ts) <= 300000000
    """,
)
def q_range_banded_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded interval join: every error within 5 minutes AFTER a
    purchase by the same user (the "did the expected follow-up event
    happen in its window" probe over the recurring stream,
    monarchmoney.py:2678-2715 — a range join the reference has no
    operator for, SURVEY.md §2.3 note).

    Spark side runs the band-bucketing algorithm
    (operators/rangejoin.py): quantize to 5-minute buckets, explode the
    left side into its two candidate buckets, equi-join on
    (user_id, bucket), residual-filter the exact band — one hash shuffle
    per side, no nested-loop, no per-user cross product. The oracle is
    the naive inequality join; two different algorithms must agree
    row-for-row. Timestamps compare in integer microseconds (both
    engines store µs for this column), so the band edges cannot drift.
    """
    from dieter___etl___monarchmoney_spark.operators.rangejoin import (
        banded_interval_join,
    )

    events = load_table(spark, "events", sf_dir)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("e_ts")
    )
    joined = banded_interval_join(
        purchases, errors, key="user_id", left_ts="p_ts", right_ts="e_ts",
        band_seconds=300,
    )
    return joined.select("purchase_id", "error_id", "user_id", "gap_micros")


@query(
    "monthly_merchant_dense_rank",
    f"""
    WITH m AS (
        SELECT CAST(DATE_TRUNC('month', txn_date) AS DATE) AS month,
               merchant_id, {money_sum_sql('amount')} AS total
        FROM ({TRANSACTIONS_SQL}) GROUP BY 1, 2
    )
    SELECT month, merchant_id, total, rnk
    FROM (
        SELECT month, merchant_id, total,
               DENSE_RANK() OVER (PARTITION BY month ORDER BY total DESC) AS rnk
        FROM m
    )
    WHERE rnk <= 3
    """,
)
def q_monthly_merchant_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 merchants per month by total amount with DENSE_RANK — the
    ranking shape the reference's per-merchant counts (A7,
    monarchmoney.py:1490) lead to once a time axis exists. Ties share a
    rank in both engines, so the emitted SET is deterministic without a
    tiebreaker column.

    Scale shape: aggregate first (months × merchants — orders of
    magnitude smaller than the fact), THEN window over the tiny
    aggregate partitioned by month; the rank never sees fact-table
    cardinality and there is no global sort.
    """
    from dieter___etl___monarchmoney_spark.sources.star_model import transactions

    txns = transactions(spark, sf_dir)
    monthly = txns.groupBy(
        F.trunc("txn_date", "month").alias("month"), "merchant_id"
    ).agg(money_sum("amount").alias("total"))
    w = Window.partitionBy("month").orderBy(F.col("total").desc())
    return (
        monthly.withColumn("rnk", F.dense_rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("month", "merchant_id", "total", "rnk")
    )


_ZSCORE_SQL = f"""
WITH stats AS (
    SELECT event_type,
           COUNT(*) AS n,
           {money_sum_sql('value')} AS s1,
           CAST(SUM(CAST(value AS DECIMAL(38,12)) * CAST(value AS DECIMAL(38,12)))
                AS DOUBLE) AS s2
    FROM events GROUP BY event_type
),
scored AS (
    SELECT e.event_id, e.event_type, e.value,
           (e.value - s.s1 / s.n)
             / sqrt(greatest((s.s2 - s.s1 * s.s1 / s.n) / s.n, 1e-300)) AS zscore
    FROM events e JOIN stats s USING (event_type)
)
SELECT event_id, event_type, value, zscore
FROM scored WHERE abs(zscore) > 3.0
ORDER BY event_id
"""


@query("value_outliers_zscore", _ZSCORE_SQL)
def q_value_outliers_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection: events whose value is more than 3 population
    standard deviations from their event_type mean.

    Determinism contract: mean and variance are derived from EXACT
    decimal sums (sum and sum-of-squares — both order-independent),
    then the finishing arithmetic is IEEE +,-,*,/,sqrt only, so both
    engines compute bit-identical z-scores with no rounding tolerance.
    The variance is clamped at 1e-300 before sqrt: catastrophic
    cancellation on a near-constant group could otherwise produce a
    tiny NEGATIVE difference and NaN (production note: a two-pass or
    Welford-partial formulation avoids the cancellation entirely; the
    decimal sums make the one-pass form safe here).

    Scale shape: the stats table is |event_types| rows — a broadcast
    join back onto the fact; one aggregate shuffle total, outlier
    filter runs scan-side."""
    events = load_table(spark, "events", sf_dir)
    stats = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum("value").alias("s1"),
        F.sum(
            F.col("value").cast("decimal(38,12)") * F.col("value").cast("decimal(38,12)")
        )
        .cast("double")
        .alias("s2"),
    )
    scored = events.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        "value",
        (
            (F.col("value") - F.col("s1") / F.col("n"))
            / F.sqrt(
                F.greatest(
                    (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / F.col("n"),
                    F.lit(1e-300),
                )
            )
        ).alias("zscore"),
    )
    return scored.filter(F.abs(F.col("zscore")) > 3.0).orderBy("event_id")


_TREND_SQL = f"""
WITH pts AS (
    SELECT event_type,
           CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
           value AS y
    FROM events
),
sums AS (
    SELECT event_type,
           COUNT(*) AS n,
           SUM(x) AS sx,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           {money_sum_sql('y')} AS sy,
           CAST(SUM(CAST(x AS DECIMAL(12,0)) * CAST(y AS {MONEY_DECIMAL_SQL})) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(y AS DECIMAL(38,12)) * CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS syy
    FROM pts GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
       (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept,
       CASE WHEN (n * syy - sy * sy) = 0 THEN 1.0
            ELSE (n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END AS r2
FROM sums
ORDER BY event_type
"""


@query("event_trend_regression", _TREND_SQL)
def q_event_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-only least-squares trend per event_type: slope /
    intercept / r² of value against epoch-day, computed ENTIRELY from
    mergeable sums (n, Σx, Σx², Σy, Σxy, Σy²) — the closed-form OLS
    that needs one aggregation pass and no iterative solver.

    Determinism contract: the x sums are exact BIGINTs, the y sums are
    exact decimals (same MONEY_DECIMAL / decimal(38,12) discipline as the
    z-score stats), and the finishing arithmetic is IEEE-only on
    identical inputs, so both engines produce bit-identical
    coefficients. A constant-y group would zero the r² denominator —
    guarded to r²=1 in both engines.

    Scale shape: one map-side-combinable aggregate shuffle over the
    fact; the regression finish runs on |event_types| rows. This is
    the sufficient-statistics pattern every aggregate-only estimator
    (OLS, Pearson r, variance, covariance matrices) shares: partials
    merge by +, so the same sums maintain incrementally next to the
    watermark pipeline."""
    events = load_table(spark, "events", sf_dir)
    pts = events.select(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("x"),
        F.col("value").alias("y"),
    )
    sums = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        money_sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(12,0)") * F.col("y").cast(MONEY_DECIMAL))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("y").cast("decimal(38,12)") * F.col("y").cast("decimal(38,12)"))
        .cast("double")
        .alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num / den_x
    return sums.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
        F.when(den_y == 0, F.lit(1.0)).otherwise(num * num / (den_x * den_y)).alias("r2"),
    ).orderBy("event_type")


_CHI2_SQL = """
WITH obs AS (
    SELECT event_type, dayofweek(ts) AS dow, COUNT(*) AS o
    FROM events GROUP BY event_type, dow
),
margins AS (
    SELECT event_type, SUM(o) AS row_total FROM obs GROUP BY event_type
),
cols AS (
    SELECT dow, SUM(o) AS col_total FROM obs GROUP BY dow
),
total AS (
    SELECT SUM(o) AS grand FROM obs
)
SELECT o.event_type, CAST(o.dow AS INT) AS dow,
       CAST(o.o AS BIGINT) AS observed,
       CAST(m.row_total AS DOUBLE) * CAST(c.col_total AS DOUBLE)
           / CAST(t.grand AS DOUBLE) AS expected,
       (CAST(o.o AS DOUBLE) - CAST(m.row_total AS DOUBLE) * CAST(c.col_total AS DOUBLE)
            / CAST(t.grand AS DOUBLE))
       * (CAST(o.o AS DOUBLE) - CAST(m.row_total AS DOUBLE) * CAST(c.col_total AS DOUBLE)
            / CAST(t.grand AS DOUBLE))
       / (CAST(m.row_total AS DOUBLE) * CAST(c.col_total AS DOUBLE)
            / CAST(t.grand AS DOUBLE)) AS chi2_term
FROM obs o
JOIN margins m USING (event_type)
JOIN cols c USING (dow)
CROSS JOIN total t
ORDER BY event_type, dow
"""


@query("weekday_type_chi2", _CHI2_SQL)
def q_weekday_type_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence audit between event_type and weekday:
    per-cell observed count, expected count under independence
    (row x col / grand), and the cell's chi^2 contribution — the
    contingency-table shape behind seasonality / drift checks on a
    100 TB event log.

    All inputs are exact integer counts; expected values and chi^2
    terms are IEEE *,/ on those integers, so both engines agree
    bit-for-bit (dayofweek: Spark 1=Sunday matches DuckDB only after
    mapping — DuckDB dayofweek is 0=Sunday, so the Spark side subtracts
    1 to land on DuckDB's convention).

    Scale shape: ONE aggregate shuffle over the fact builds the
    |types| x 7 contingency table; margins and the grand total derive
    from that tiny table (the two joins and the 1-row cross join all
    broadcast). Nothing re-scans the fact."""
    events = load_table(spark, "events", sf_dir)
    obs = events.groupBy(
        "event_type", (F.dayofweek("ts") - F.lit(1)).alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    margins = obs.groupBy("event_type").agg(F.sum("o").alias("row_total"))
    cols = obs.groupBy("dow").agg(F.sum("o").alias("col_total"))
    total = obs.agg(F.sum("o").alias("grand"))
    expected = (
        F.col("row_total").cast("double")
        * F.col("col_total").cast("double")
        / F.col("grand").cast("double")
    )
    diff = F.col("o").cast("double") - expected
    return (
        obs.join(F.broadcast(margins), "event_type")
        .join(F.broadcast(cols), "dow")
        .crossJoin(F.broadcast(total))
        .select(
            "event_type",
            F.col("dow").cast("int").alias("dow"),
            F.col("o").cast("bigint").alias("observed"),
            expected.alias("expected"),
            (diff * diff / expected).alias("chi2_term"),
        )
        .orderBy("event_type", "dow")
    )


_WINSOR_SQL = f"""
WITH bounds AS (
    SELECT event_type,
           quantile_cont(value, 0.01) AS p01,
           quantile_cont(value, 0.99) AS p99
    FROM events GROUP BY event_type
),
clipped AS (
    SELECT e.event_type,
           GREATEST(b.p01, LEAST(b.p99, e.value)) AS v,
           e.value,
           b.p01, b.p99
    FROM events e JOIN bounds b USING (event_type)
)
SELECT event_type,
       COUNT(*) AS n,
       p01, p99,
       {money_sum_sql('v')} / COUNT(*) AS winsorized_mean,
       {money_sum_sql('value')} / COUNT(*) AS raw_mean,
       CAST(SUM(CASE WHEN value < p01 OR value > p99 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clipped
FROM clipped
GROUP BY event_type, p01, p99
ORDER BY event_type
"""


@query("winsorized_stats", _WINSOR_SQL)
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (tail-clipped) per-group means: values outside the
    exact p01/p99 quantiles clip to the quantile, giving the
    outlier-robust mean next to the raw mean and the clip count — the
    robust-statistics counterpart of value_outliers_zscore (that one
    FLAGS tails; this one BOUNDS their influence).

    Determinism: Spark's exact ``percentile`` and DuckDB's
    ``quantile_cont`` use the same (n-1)p linear interpolation (the
    parity precedent percentile_stats_by_lang established); clipping is
    GREATEST/LEAST on identical doubles; the clipped sum uses the
    exact-decimal discipline so aggregation order cannot flake.

    Scale shape: bounds are one sort-based aggregate (|types| rows —
    swap percentile_approx's mergeable t-digest at 100 TB, validated
    against this exact form at test scale) broadcast back onto the
    fact; the clip + sum pass is map-side-combinable."""
    events = load_table(spark, "events", sf_dir)
    bounds = events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.01)).alias("p01"),
        F.percentile("value", F.lit(0.99)).alias("p99"),
    )
    clipped = events.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "p01",
        "p99",
        "value",
        F.greatest("p01", F.least("p99", F.col("value"))).alias("v"),
    )
    return (
        clipped.groupBy("event_type", "p01", "p99")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (money_sum("v") / F.count(F.lit(1))).alias(
                "winsorized_mean"
            ),
            (
                money_sum("value")
                / F.count(F.lit(1))
            ).alias("raw_mean"),
            F.sum(
                F.when((F.col("value") < F.col("p01")) | (F.col("value") > F.col("p99")), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_clipped"),
        )
        .select(
            "event_type", "n", "p01", "p99", "winsorized_mean", "raw_mean", "n_clipped"
        )
        .orderBy("event_type")
    )


@query("percentile_sketch_validation", None)
def q_percentile_sketch_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validates the 100 TB quantile path: SCALE.md prescribes swapping
    the exact sort-based ``percentile`` for the mergeable
    ``percentile_approx`` t-digest sketch at scale — this query runs
    BOTH per language and reports the absolute sketch error against
    the exact quantile plus a within-tolerance flag.

    Rows-only by design (no DuckDB oracle): the t-digest is a
    Spark-internal sketch with no cross-engine twin — which is exactly
    why the exact/approx pair must be validated inside one engine. The
    unit test asserts every group is within tolerance, making the
    documented "swap at scale" claim an executable fact rather than a
    docstring promise.

    Scale shape: both aggregates share one scan and one lang-keyed
    shuffle; the t-digest (accuracy 1000) is mergeable state, so it
    map-side combines where the exact form must sort whole groups."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.percentile("n_chars", F.lit(0.5)).alias("p50_exact"),
            F.percentile_approx("n_chars", F.lit(0.5), F.lit(1000)).alias("p50_approx"),
            F.percentile("n_chars", F.lit(0.95)).alias("p95_exact"),
            F.percentile_approx("n_chars", F.lit(0.95), F.lit(1000)).alias("p95_approx"),
        )
        .select(
            "lang",
            "n_docs",
            "p50_exact",
            "p50_approx",
            F.abs(F.col("p50_approx") - F.col("p50_exact")).alias("p50_abs_err"),
            "p95_exact",
            "p95_approx",
            F.abs(F.col("p95_approx") - F.col("p95_exact")).alias("p95_abs_err"),
            (
                (F.abs(F.col("p50_approx") - F.col("p50_exact"))
                 <= 0.05 * F.abs(F.col("p50_exact")) + 1.0)
                & (F.abs(F.col("p95_approx") - F.col("p95_exact"))
                   <= 0.05 * F.abs(F.col("p95_exact")) + 1.0)
            ).alias("within_tolerance"),
        )
        .orderBy("lang")
    )


_STREAKS_SQL = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
numbered AS (
    SELECT user_id, d,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS BIGINT) AS rn
    FROM days
),
islands AS (
    SELECT user_id, d - CAST(rn AS INT) AS grp, COUNT(*) AS streak_len,
           MIN(d) AS streak_start
    FROM numbered GROUP BY user_id, grp
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(MAX(streak_len) AS BIGINT) AS longest_streak_days,
       CAST(SUM(streak_len) AS BIGINT) AS active_days,
       MIN(streak_start) AS first_active
FROM islands
GROUP BY user_id
ORDER BY user_id
"""


@query("user_activity_streaks", _STREAKS_SQL)
def q_user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user consecutive-day activity streaks via
    the classic date-minus-row_number grouping key (consecutive dates
    share ``d - rn``) — streak counts, the longest run, total active
    days, and first activity. The calendar-day sibling of
    ``sessionization``'s 30-minute event-time gaps.

    Determinism: everything is integer dates and counts; the islands
    key is exact date arithmetic in both engines.

    Scale shape: one user_id shuffle serves the distinct, the window,
    and both aggregates (all partition/group on user_id, so AQE reuses
    the clustering); the window input is distinct (user, day) rows —
    orders of magnitude smaller than the event fact — and no window
    ever spans more than one user's days."""
    events = load_table(spark, "events", sf_dir)
    days = events.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    numbered = days.withColumn("rn", F.row_number().over(w).cast("bigint"))
    islands = (
        numbered.groupBy(
            "user_id", F.date_sub(F.col("d"), F.col("rn").cast("int")).alias("grp")
        )
        .agg(
            F.count(F.lit(1)).alias("streak_len"),
            F.min("d").alias("streak_start"),
        )
    )
    return (
        islands.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
            F.max("streak_len").cast("bigint").alias("longest_streak_days"),
            F.sum("streak_len").cast("bigint").alias("active_days"),
            F.min("streak_start").alias("first_active"),
        )
        .orderBy("user_id")
    )


_SERIES_CORR_SQL = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, event_type,
           SUM(CAST(value AS {MONEY_DECIMAL_SQL})) AS total
    FROM events GROUP BY d, event_type
),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           COUNT(*) AS n_days,
           CAST(SUM(a.total) AS DOUBLE) AS sx,
           CAST(SUM(b.total) AS DOUBLE) AS sy,
           CAST(SUM(a.total * b.total) AS DOUBLE) AS sxy,
           CAST(SUM(a.total * a.total) AS DOUBLE) AS sxx,
           CAST(SUM(b.total * b.total) AS DOUBLE) AS syy
    FROM daily a JOIN daily b ON a.d = b.d AND a.event_type < b.event_type
    GROUP BY type_a, type_b
)
SELECT type_a, type_b, CAST(n_days AS BIGINT) AS n_days,
       (n_days * sxy - sx * sy)
           / sqrt((n_days * sxx - sx * sx) * (n_days * syy - sy * sy)) AS pearson_r
FROM pairs
ORDER BY type_a, type_b
"""


@query("series_correlation_matrix", _SERIES_CORR_SQL)
def q_series_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation between event-type DAILY series —
    the upper triangle of the cross-series correlation matrix, the
    co-movement audit behind anomaly attribution ("did errors spike
    with traffic or on their own?").

    Same sufficient-statistics discipline as event_trend_regression:
    daily totals are exact decimal sums, the five pair sums (Σx, Σy,
    Σxy, Σx², Σy²) stay exact decimal through aggregation, and the
    Pearson finish is IEEE *,/,sqrt on identical doubles — engine-
    identical with no tolerance.

    Scale shape: the fact aggregates ONCE to the (days x types) daily
    frame; the equi-join on date runs over that tiny frame, never the
    fact, and the triangular predicate halves it. At 100 TB with T
    types this is O(days * T^2) post-aggregate work — independent of
    event volume."""
    events = load_table(spark, "events", sf_dir)
    daily = events.groupBy(
        F.col("ts").cast("date").alias("d"), "event_type"
    ).agg(F.sum(F.col("value").cast(MONEY_DECIMAL)).alias("total"))
    a = daily.select(
        F.col("d").alias("d"), F.col("event_type").alias("type_a"), F.col("total").alias("xa")
    )
    b = daily.select(
        F.col("d").alias("d"), F.col("event_type").alias("type_b"), F.col("total").alias("xb")
    )
    pairs = (
        a.join(b, "d")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("xa").cast("double").alias("sx"),
            F.sum("xb").cast("double").alias("sy"),
            F.sum(F.col("xa") * F.col("xb")).cast("double").alias("sxy"),
            F.sum(F.col("xa") * F.col("xa")).cast("double").alias("sxx"),
            F.sum(F.col("xb") * F.col("xb")).cast("double").alias("syy"),
        )
    )
    num = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n_days") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return pairs.select(
        "type_a",
        "type_b",
        F.col("n_days").cast("bigint").alias("n_days"),
        (num / den).alias("pearson_r"),
    ).orderBy("type_a", "type_b")


_GAP_THRESHOLD = 195

_GAP_FILL_SQL = f"""
WITH bounds AS (
    SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi FROM events
),
spine AS (
    SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS date
    FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
daily AS (
    SELECT CAST(ts AS DATE) AS d, event_type,
           COUNT(*) AS n,
           {money_sum_sql('value')} AS tv
    FROM events WHERE value > {_GAP_THRESHOLD}
    GROUP BY CAST(ts AS DATE), event_type
)
SELECT s.date, t.event_type,
       COALESCE(dl.n, 0) AS n_events,
       COALESCE(dl.tv, 0.0) AS total_value,
       (dl.n IS NULL) AS is_gap
FROM spine s
CROSS JOIN types t
LEFT JOIN daily dl ON dl.d = s.date AND dl.event_type = t.event_type
"""


@query("calendar_gap_fill", _GAP_FILL_SQL)
def q_calendar_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap filling: build the full date × event-type
    grid from the table's own bounds and left-join the (filtered) daily
    rollup onto it, so silent holes become explicit zero rows with an
    ``is_gap`` flag — the missing-partition detector every scheduled
    pipeline needs before trend math (a 7-day moving average over a
    series with silent holes is simply wrong). The value filter makes
    sparsity real in the test data (~40 of 150 cells empty at sf0.01).

    Scale shape: the spine is days × types — thousands of rows built
    from ONE min/max aggregate — and the fact collapses to the same
    grain via a map-side-combinable rollup BEFORE the left join, so the
    join touches grid-sized inputs regardless of fact size and the
    spine side broadcasts. The fact itself is scanned once."""
    ev = load_table(spark, "events", sf_dir)
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("date")
    )
    types = ev.select("event_type").distinct()
    daily = (
        ev.filter(F.col("value") > _GAP_THRESHOLD)
        .groupBy(
            F.col("ts").cast("date").alias("d"), F.col("event_type").alias("et")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum("value").alias("tv"),
        )
    )
    grid = spine.crossJoin(types)  # days x types — both sides tiny
    return (
        grid.join(
            daily,
            (F.col("date") == F.col("d")) & (F.col("event_type") == F.col("et")),
            "left",
        )
        .select(
            "date",
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.coalesce("tv", F.lit(0.0)).alias("total_value"),
            F.col("n").isNull().alias("is_gap"),
        )
    )
