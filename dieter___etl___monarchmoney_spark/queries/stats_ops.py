"""Statistics computed in-engine with exact arithmetic: distribution-shift
tests, robust estimators (median/MAD, Theil-Sen, Gini, Kaplan-Meier),
recursive folds (EWMA), digit forensics, the Poisson bootstrap, exact
quantiles and rank correlations.

The two classical nonparametric two-sample tests:

- ``ks_two_sample``: Kolmogorov–Smirnov D between the `value`
  distributions of two event types — detects ANY distributional
  difference (location, scale, shape) between a reference cohort and a
  candidate one. The canonical drift monitor for ML feature pipelines.
- ``mann_whitney_u``: the rank-sum test (with tie-corrected normal
  approximation) — the robust location-shift test that doesn't assume
  normality, complementing the parametric z/chi² family
  (value_outliers_zscore, weekday_type_chi2).

Reference framing: SURVEY.md §6 pipeline-extension family (data-drift
monitoring between ingest batches); no counterpart in the reference.

Determinism: both tests reduce the facts to a distinct-VALUE histogram
with per-side counts; every statistic is then exact-integer window
arithmetic plus a fixed-shape final expression (divisions, one IEEE
sqrt — an exactly-rounded operation in both engines), rounded 9dp at
the edge. No transcendental sums, no float accumulation.

Scale shape: one combinable count shuffle to the value histogram; the
ordered window runs over the HISTOGRAM (support-sized, not
fact-sized). For continuous supports at 100 TB, pre-bucket values to
fixed-width bins (KS on binned data bounds D within one bin mass) or
feed the t-digest quantiles — the window algebra is unchanged.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.functions.literals import const_vec
from dieter___etl___monarchmoney_spark.functions.money import (
    MONEY_DECIMAL,
    MONEY_DECIMAL_SQL,
    money_sum,
    money_sum_sql,
)
from dieter___etl___monarchmoney_spark.functions.text import tokens
from dieter___etl___monarchmoney_spark.pins import pin
from dieter___etl___monarchmoney_spark.queries.corpus_ops import _BPE_K, _bpe_stage_sql
from dieter___etl___monarchmoney_spark.queries.llm_pipeline import _hexparse_sql
from dieter___etl___monarchmoney_spark.registry import query
from dieter___etl___monarchmoney_spark.sources.parquet import load_table

_SIDE_A = "click"
_SIDE_B = "purchase"

#: two-sided 5% critical coefficient for the large-sample KS bound
_KS_COEFF = 1.358

_KS_SQL = f"""
WITH hist AS (
    SELECT value,
           SUM(CASE WHEN event_type = '{_SIDE_A}' THEN 1 ELSE 0 END) AS c1,
           SUM(CASE WHEN event_type = '{_SIDE_B}' THEN 1 ELSE 0 END) AS c2
    FROM events
    WHERE event_type IN ('{_SIDE_A}', '{_SIDE_B}')
    GROUP BY value
),
cum AS (
    -- totals as whole-frame window sums over the SAME histogram pass:
    -- a scalar-subquery/cross-join total would recompute the histogram
    -- lineage and scan the fact twice
    SELECT value,
           SUM(c1) OVER (ORDER BY value
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum1,
           SUM(c2) OVER (ORDER BY value
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum2,
           CAST(SUM(c1) OVER () AS BIGINT) AS n1,
           CAST(SUM(c2) OVER () AS BIGINT) AS n2
    FROM hist
),
dists AS (
    SELECT value, n1, n2,
           abs(CAST(cum1 AS DOUBLE) / n1 - CAST(cum2 AS DOUBLE) / n2) AS d,
           MAX(abs(CAST(cum1 AS DOUBLE) / n1 - CAST(cum2 AS DOUBLE) / n2))
               OVER () AS dmax
    FROM cum
)
SELECT d.n1, d.n2,
       ROUND(d.dmax, 9) AS ks_d,
       MIN(d.value) AS at_value,
       ROUND({_KS_COEFF} * sqrt(CAST(d.n1 + d.n2 AS DOUBLE)
                                / (CAST(d.n1 AS DOUBLE) * d.n2)), 9) AS d_crit_05,
       d.dmax > {_KS_COEFF} * sqrt(CAST(d.n1 + d.n2 AS DOUBLE)
                                   / (CAST(d.n1 AS DOUBLE) * d.n2)) AS significant
FROM dists d
WHERE d.d = d.dmax
GROUP BY d.n1, d.n2, d.dmax
"""


@query("ks_two_sample", _KS_SQL)
def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov two-sample test between the '{_SIDE_A}' and
    '{_SIDE_B}' value distributions: D = max |F̂₁(v) − F̂₂(v)| over the
    combined support, with its location and the 5% large-sample
    critical bound. One output row: the drift verdict a feature
    pipeline gates on between ingest batches.

    The empirical CDFs come from exact-integer running counts over the
    distinct-value histogram; D's argmax row is selected by exact
    double equality (identical doubles both engines), ties broken by
    MIN(value)."""
    events = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin(_SIDE_A, _SIDE_B)
    )
    hist = events.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == _SIDE_A, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("event_type") == _SIDE_B, 1).otherwise(0)).alias("c2"),
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    # totals as whole-frame window sums over the SAME histogram pass: a
    # broadcast-total crossJoin would recompute the histogram lineage
    # and scan the fact twice
    cum = hist.select(
        "value",
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
        F.sum("c1").over(wall).cast("bigint").alias("n1"),
        F.sum("c2").over(wall).cast("bigint").alias("n2"),
    )
    d_expr = F.abs(
        F.col("cum1").cast("double") / F.col("n1")
        - F.col("cum2").cast("double") / F.col("n2")
    )
    dists = cum.select(
        "value",
        "n1",
        "n2",
        d_expr.alias("d"),
        F.max(d_expr).over(wall).alias("dmax"),
    )
    crit = F.lit(_KS_COEFF) * F.sqrt(
        (F.col("n1") + F.col("n2")).cast("double")
        / (F.col("n1").cast("double") * F.col("n2"))
    )
    return (
        dists.filter(F.col("d") == F.col("dmax"))
        .groupBy("n1", "n2", "dmax")
        .agg(F.min("value").alias("at_value"))
        .select(
            "n1",
            "n2",
            F.round(F.col("dmax"), 9).alias("ks_d"),
            "at_value",
            F.round(crit, 9).alias("d_crit_05"),
            (F.col("dmax") > crit).alias("significant"),
        )
    )


_MW_SQL = f"""
WITH hist AS (
    SELECT value,
           SUM(CASE WHEN event_type = '{_SIDE_A}' THEN 1 ELSE 0 END) AS c1,
           SUM(CASE WHEN event_type = '{_SIDE_B}' THEN 1 ELSE 0 END) AS c2
    FROM events
    WHERE event_type IN ('{_SIDE_A}', '{_SIDE_B}')
    GROUP BY value
),
ranked AS (
    SELECT c1, c2, c1 + c2 AS ct,
           COALESCE(SUM(c1 + c2) OVER (ORDER BY value
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
    FROM hist
),
agg AS (
    SELECT CAST(SUM(c1) AS BIGINT) AS n1,
           CAST(SUM(c2) AS BIGINT) AS n2,
           -- 2×R1 stays integer under average ranks: avg_rank2 = 2·cum_before + ct + 1
           CAST(SUM(c1 * (2 * cum_before + ct + 1)) AS BIGINT) AS r1_2,
           CAST(SUM(CASE WHEN ct > 1
                         THEN ct * ct * ct - ct ELSE 0 END) AS BIGINT) AS tie_t3
    FROM ranked
),
stats AS (
    SELECT n1, n2, r1_2, tie_t3,
           n1 + n2 AS n,
           (CAST(r1_2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1)) / 2.0 AS u1
    FROM agg
)
SELECT n1, n2, u1,
       CAST(n1 AS DOUBLE) * n2 - u1 AS u2,
       ROUND((u1 - CAST(n1 AS DOUBLE) * n2 / 2.0)
             / sqrt((CAST(n1 AS DOUBLE) * n2 / 12.0)
                    * ((n + 1) - CAST(tie_t3 AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))),
             9) AS z_stat,
       abs((u1 - CAST(n1 AS DOUBLE) * n2 / 2.0)
           / sqrt((CAST(n1 AS DOUBLE) * n2 / 12.0)
                  * ((n + 1) - CAST(tie_t3 AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))))
           > 1.96 AS significant
FROM stats
"""


@query("mann_whitney_u", _MW_SQL)
def q_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test between the same two cohorts:
    average ranks over the distinct-value histogram (kept exact by
    carrying 2×rank as an integer), U from the rank sum, and the
    tie-corrected normal approximation z — the robust location-shift
    complement to KS's any-difference detector.

    Every sum is exact-integer; u1/u2 are exact dyadic halves; z is one
    fixed-shape double expression (the sqrt is IEEE-exact) rounded 9dp,
    with the significance flag derived from the identical unrounded
    double in both engines."""
    events = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin(_SIDE_A, _SIDE_B)
    )
    hist = events.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == _SIDE_A, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("event_type") == _SIDE_B, 1).otherwise(0)).alias("c2"),
    )
    wb = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    ranked = hist.select(
        "c1",
        "c2",
        (F.col("c1") + F.col("c2")).alias("ct"),
        F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(wb), F.lit(0)).alias(
            "cum_before"
        ),
    )
    agg = ranked.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(F.col("c1") * (2 * F.col("cum_before") + F.col("ct") + 1))
        .cast("bigint")
        .alias("r1_2"),
        F.sum(
            F.when(
                F.col("ct") > 1,
                F.col("ct") * F.col("ct") * F.col("ct") - F.col("ct"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tie_t3"),
    )
    n = F.col("n1") + F.col("n2")
    u1 = (F.col("r1_2").cast("double") - F.col("n1").cast("double") * (F.col("n1") + 1)) / F.lit(2.0)
    z = (u1 - F.col("n1").cast("double") * F.col("n2") / F.lit(2.0)) / F.sqrt(
        (F.col("n1").cast("double") * F.col("n2") / F.lit(12.0))
        * (
            (n + 1)
            - F.col("tie_t3").cast("double") / (n.cast("double") * (n - 1))
        )
    )
    return agg.select(
        "n1",
        "n2",
        u1.alias("u1"),
        (F.col("n1").cast("double") * F.col("n2") - u1).alias("u2"),
        F.round(z, 9).alias("z_stat"),
        (F.abs(z) > 1.96).alias("significant"),
    )


# ==========================================================================
# Recursive folds, robust outliers, digit forensics and bin packing
# ==========================================================================

_DEC18 = "decimal(38,18)"

# --------------------------------------------------------------------------
# BPE encode: apply the learned merges to the corpus
# --------------------------------------------------------------------------

_ENCODE_SQL = (
    """
WITH toks0 AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                       t -> t <> '') AS toks
    FROM documents
),
d0 AS (
    SELECT doc_id,
           chr(31) || array_to_string(toks, chr(31)||chr(31)) || chr(31) AS s
    FROM toks0 WHERE len(toks) > 0
),"""
    + ",".join(_bpe_stage_sql(k) for k in range(1, _BPE_K + 1))
    + f"""
, enc AS (
    SELECT doc_id,
           string_split(trim(s, chr(31)), chr(31)||chr(31)) AS syms
    FROM d{_BPE_K}
)
SELECT t.doc_id,
       CAST(len(t.toks) AS INT) AS n_syms_before,
       CAST(COALESCE(len(e.syms), 0) AS INT) AS n_syms_after,
       CAST(len(t.toks) - COALESCE(len(e.syms), 0) AS INT) AS n_merges_applied,
       COALESCE(md5(array_to_string(e.syms, ' ')), md5('')) AS encoded_fp
FROM toks0 t LEFT JOIN enc e USING (doc_id)
ORDER BY doc_id
"""
)


@query("bpe_encode_corpus", _ENCODE_SQL)
def q_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: encode every document with the BPE merges
    learned in-engine (the same ``bpe_learn`` loop as
    ``bpe_merge_rules`` — learn and apply share one implementation so
    they cannot drift). Per doc: symbol count before and after the
    merges, how many merges fired, and the md5 fingerprint of the final
    symbol stream — the fingerprint proves the ENCODED OUTPUT matches
    the oracle's unrolled-CTE encoder symbol for symbol, not just the
    counts.

    Scale shape: the rules come from the shared materialized table
    (learned ONCE per corpus by ``bpe_merge_rules``'s ``bpe_learn``,
    collected here as ≤K driver rows); encoding is a pure scan-local
    string rewrite — the corpus is never shuffled to encode, which is
    why BPE apply parallelizes perfectly at 100 TB (each executor
    rewrites its partitions against the broadcast rule list). The
    count/fingerprint audit here adds one doc_id-keyed join back to
    the token counts."""
    from dieter___etl___monarchmoney_spark.queries.corpus_ops import (
        shared_bpe_rules,
    )

    docs = load_table(spark, "documents", sf_dir)
    rules = shared_bpe_rules(spark, sf_dir).orderBy("merge_rank").collect()
    _S = "\x1f"
    toks_col = F.array_remove(tokens("text"), "")
    final = (
        docs.select("doc_id", toks_col.alias("toks"))
        .filter(F.size("toks") > 0)
        .select(
            "doc_id",
            F.concat(F.lit(_S), F.array_join("toks", _S + _S), F.lit(_S)).alias("s"),
        )
    )
    # the same greedy left-to-right apply as bpe_learn's loop, replayed
    # from the published rules in merge order — map-only per partition
    for r in rules:
        final = final.select(
            "doc_id",
            F.replace(
                F.col("s"),
                F.lit(_S + r.left_sym + _S + _S + r.right_sym + _S),
                F.lit(_S + r.left_sym + r.right_sym + _S),
            ).alias("s"),
        )
    syms = F.split(F.regexp_replace("s", "^\x1f+|\x1f+$", ""), "\x1f\x1f")
    enc = final.select(
        "doc_id",
        F.size(syms).alias("n_syms_after"),
        F.md5(F.array_join(syms, " ")).alias("encoded_fp"),
    )
    before = docs.select(
        "doc_id",
        F.size(F.array_remove(tokens("text"), "")).alias("n_syms_before"),
    )
    return (
        before.join(enc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_syms_before").cast("int").alias("n_syms_before"),
            F.coalesce("n_syms_after", F.lit(0)).cast("int").alias("n_syms_after"),
            (F.col("n_syms_before") - F.coalesce("n_syms_after", F.lit(0)))
            .cast("int")
            .alias("n_merges_applied"),
            F.coalesce("encoded_fp", F.md5(F.lit(""))).alias("encoded_fp"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# EWMA: a recursive statistic as a deterministic in-engine fold
# --------------------------------------------------------------------------

_EWMA_ALPHA = 0.3

_EWMA_SQL = f"""
WITH RECURSIVE daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d,
           {money_sum_sql('value')} / COUNT(*) AS x
    FROM events GROUP BY event_type, CAST(ts AS DATE)
),
seq AS (
    SELECT event_type, d, x,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS i
    FROM daily
),
ew(event_type, d, x, i, e) AS (
    SELECT event_type, d, x, i, x FROM seq WHERE i = 1
    UNION ALL
    SELECT s.event_type, s.d, s.x, s.i, {_EWMA_ALPHA} * s.x + {1 - _EWMA_ALPHA} * w.e
    FROM seq s JOIN ew w ON s.event_type = w.event_type AND s.i = w.i + 1
)
SELECT event_type, d, x AS daily_mean, ROUND(e, 9) AS ewma
FROM ew ORDER BY event_type, d
"""


@query("ewma_smoothing", _EWMA_SQL)
def q_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (α={_EWMA_ALPHA}) over each event type's daily-mean series —
    a statistic that is RECURSIVE by definition (eₜ = α·xₜ + (1−α)·eₜ₋₁,
    e₁ = x₁), so no window function expresses it. It runs as a
    deterministic left fold (``F.aggregate``) over the date-sorted
    series; the oracle is a DuckDB recursive CTE walking the same
    recurrence — iterative-algorithm parity like bpe_merge_rules and
    dup_graph_pagerank, here for per-row stateful smoothing.

    Determinism: daily means use the exact-decimal-sum pattern (so the
    fold's INPUT doubles are engine-identical); each fold step is the
    same fixed-shape two-term expression evaluated in the same order;
    the smoothed output rounds at 9dp (belt — the folds are actually
    bit-identical).

    Scale shape: one shuffle to daily grain (map-side combinable), one
    groupBy(event_type) whose collected per-key series is bounded by
    the CALENDAR (30 days here; a few thousand for years), not event
    volume — the classic bounded-state per-key fold. Unbounded streams
    use the applyInPandasWithState sessionize pattern with the EWMA as
    the carried state; the recurrence is unchanged."""
    events = load_table(spark, "events", sf_dir)
    daily = events.groupBy("event_type", F.col("ts").cast("date").alias("d")).agg(
        (
            money_sum("value")
            / F.count(F.lit(1))
        ).alias("x")
    )
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("d", "x"))).alias("sx")
    )
    init = F.expr("CAST(array() AS array<struct<d:date,x:double,e:double>>)")
    folded = F.aggregate(
        F.col("sx"),
        init,
        lambda acc, el: F.concat(
            acc,
            F.array(
                F.struct(
                    el["d"].alias("d"),
                    el["x"].alias("x"),
                    F.when(F.size(acc) == 0, el["x"])
                    .otherwise(
                        F.lit(_EWMA_ALPHA) * el["x"]
                        + F.lit(1 - _EWMA_ALPHA) * F.element_at(acc, -1)["e"]
                    )
                    .alias("e"),
                )
            ),
        ),
    )
    return (
        series.select("event_type", F.explode(folded).alias("r"))
        .select(
            "event_type",
            F.col("r.d").alias("d"),
            F.col("r.x").alias("daily_mean"),
            F.round(F.col("r.e"), 9).alias("ewma"),
        )
        .orderBy("event_type", "d")
    )


# --------------------------------------------------------------------------
# MAD robust outliers: the heavy-tail-safe complement of the z-score
# --------------------------------------------------------------------------

_MAD_SQL = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d,
           {money_sum_sql('value')} AS total
    FROM events GROUP BY event_type, CAST(ts AS DATE)
),
med AS (
    SELECT event_type, quantile_cont(total, 0.5) AS med
    FROM daily GROUP BY event_type
),
dev AS (
    SELECT d.event_type, d.d, d.total, m.med, abs(d.total - m.med) AS adev
    FROM daily d JOIN med m USING (event_type)
),
mad AS (
    SELECT event_type, quantile_cont(adev, 0.5) AS mad
    FROM dev GROUP BY event_type
)
SELECT v.event_type, v.d, v.total, v.med, a.mad,
       ROUND(CASE WHEN a.mad > 0 THEN v.adev / (1.4826 * a.mad)
                  ELSE 0.0 END, 9) AS robust_z,
       CASE WHEN a.mad > 0 THEN v.adev / (1.4826 * a.mad) > 3.5
            ELSE FALSE END AS is_outlier
FROM dev v JOIN mad a USING (event_type)
ORDER BY event_type, d
"""


@query("mad_outliers", _MAD_SQL)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection on daily totals via median absolute
    deviation: robust_z = |x − median| / (1.4826·MAD), flagged above
    3.5 — the heavy-tail-safe complement of ``value_outliers_zscore``
    (one extreme day inflates the standard deviation and hides its own
    anomaly; the median/MAD pair has breakdown point 0.5 and is immune
    to that masking).

    Determinism: daily totals are exact-decimal sums; the medians use
    Spark's exact ``percentile`` against DuckDB's ``quantile_cont``
    (identical linear-interpolation semantics — already proven bitwise
    by winsorized_stats/percentile_stats_by_lang); the one division is
    a fixed-shape double expression rounded 9dp, and the outlier flag
    derives from the identical unrounded doubles in both engines.

    Scale shape: fact → daily grain is one map-side-combinable
    shuffle; both medians aggregate the DAILY frame (calendar-bounded);
    the 5-row med/mad tables broadcast back. At 100 TB swap exact
    percentile for percentile_approx (t-digest — its error is measured
    by percentile_sketch_validation) and nothing else changes."""
    events = load_table(spark, "events", sf_dir)
    daily = events.groupBy("event_type", F.col("ts").cast("date").alias("d")).agg(
        money_sum("value").alias("total")
    )
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(total, 0.5D)").alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("total") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5D)").alias("mad")
    )
    z = F.col("adev") / (F.lit(1.4826) * F.col("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "d",
            "total",
            "med",
            "mad",
            F.round(F.when(F.col("mad") > 0, z).otherwise(F.lit(0.0)), 9).alias(
                "robust_z"
            ),
            F.when(F.col("mad") > 0, z > 3.5).otherwise(F.lit(False)).alias(
                "is_outlier"
            ),
        )
        .orderBy("event_type", "d")
    )


# --------------------------------------------------------------------------
# Benford first-digit audit: forensic screen for numeric feeds
# --------------------------------------------------------------------------

#: expected shares embedded as IDENTICAL double literals in both
#: engines (log10 evaluated once here, not per-engine)
_BENFORD = [(d, math.log10(1.0 + 1.0 / d)) for d in range(1, 10)]

_BENFORD_SQL = f"""
WITH hist AS (
    SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                       1, 1) AS INT) AS digit,
           COUNT(*) AS n_obs
    FROM orders GROUP BY 1
),
expected(digit, expected_share) AS (
    -- e0 suffix forces DOUBLE literals (a bare decimal literal is
    -- DECIMAL-typed in DuckDB, which would drag the chi-squared math
    -- into fixed-point and overflow DECIMAL(38) on the squaring)
    VALUES {", ".join(f"({d}, {p!r}e0)" for d, p in _BENFORD)}
),
joined AS (
    SELECT e.digit, e.expected_share, COALESCE(h.n_obs, 0) AS n_obs
    FROM expected e LEFT JOIN hist h USING (digit)
),
tot AS (
    SELECT *, SUM(n_obs) OVER () AS n FROM joined
),
terms AS (
    SELECT *,
           CAST((n_obs - expected_share * n) * (n_obs - expected_share * n)
                / (expected_share * n) AS DECIMAL(38,18)) AS chi_term
    FROM tot
)
SELECT digit,
       CAST(n_obs AS BIGINT) AS n_obs,
       expected_share,
       ROUND(CAST(n_obs AS DOUBLE) / n, 9) AS obs_share,
       ROUND(CAST(SUM(chi_term) OVER () AS DOUBLE), 9) AS chi2_stat
FROM terms
ORDER BY digit
"""


@query("benford_digit_audit", _BENFORD_SQL)
def q_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law forensic audit of order totals: the distribution
    of first significant digits vs log10(1+1/d), with the chi-squared
    statistic over all nine digits — the standard screen for
    fabricated, truncated, or unit-mangled numeric feeds before they
    poison downstream aggregates.

    Determinism: the first digit comes from an exact integer-string
    derivation (cents as BIGINT → first character), never from float
    formatting or log10-of-data (both engine-divergent); the expected
    shares are log10 literals computed ONCE in Python and embedded
    identically in both plans; chi² terms are per-digit fixed-shape
    double expressions cast to DECIMAL(38,18) and summed exactly
    (9-row window), rounded 9dp.

    Scale shape: one 9-group map-side-combinable count over the scan —
    the audit costs a scan regardless of table size; everything after
    runs on 9 rows."""
    orders = load_table(spark, "orders", sf_dir)
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    hist = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    exp_df = spark.createDataFrame(
        _BENFORD, "digit int, expected_share double"
    )
    joined = exp_df.join(hist, "digit", "left").select(
        "digit", "expected_share", F.coalesce("n_obs", F.lit(0)).alias("n_obs")
    )
    wall = Window.partitionBy()
    tot = joined.withColumn("n", F.sum("n_obs").over(wall))
    diff = F.col("n_obs") - F.col("expected_share") * F.col("n")
    terms = tot.withColumn(
        "chi_term",
        (diff * diff / (F.col("expected_share") * F.col("n"))).cast(_DEC18),
    )
    return terms.select(
        "digit",
        F.col("n_obs").cast("bigint").alias("n_obs"),
        "expected_share",
        F.round(F.col("n_obs").cast("double") / F.col("n"), 9).alias("obs_share"),
        F.round(F.sum("chi_term").over(wall).cast("double"), 9).alias("chi2_stat"),
    ).orderBy("digit")


# --------------------------------------------------------------------------
# Compaction planner: pack date partitions into target-size bins
# --------------------------------------------------------------------------

_COMPACT_BINS = 6

_COMPACT_SQL = f"""
WITH parts AS (
    SELECT CAST(o_orderdate AS DATE) AS pdate, COUNT(*) AS n_rows
    FROM orders GROUP BY CAST(o_orderdate AS DATE)
),
tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS n FROM parts),
seq AS (
    SELECT p.pdate, p.n_rows, (t.n + {_COMPACT_BINS - 1}) // {_COMPACT_BINS} AS target,
           COALESCE(SUM(p.n_rows) OVER (
               ORDER BY p.n_rows DESC, p.pdate
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
    FROM parts p CROSS JOIN tot t
)
SELECT CAST(cum_before // target AS INT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_partitions,
       CAST(SUM(n_rows) AS BIGINT) AS bin_rows,
       ROUND(CAST(SUM(n_rows) AS DOUBLE) / CAST(MAX(target) AS DOUBLE), 6)
           AS fill_ratio
FROM seq GROUP BY cum_before // target ORDER BY bin
"""


@query("compaction_bin_packing", _COMPACT_SQL)
def q_compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction PLANNER: pack per-date partitions into
    ~{_COMPACT_BINS} equal row-count bins (target = ⌈total/{_COMPACT_BINS}⌉)
    and audit each bin's partition count, row total, and fill ratio —
    the maintenance pass that turns a drip-fed date-partitioned table
    back into scan-efficient files. Assignment is sorted prefix-sum
    next-fit (order by size desc then date, bin = ⌊preceding-rows ÷
    target⌋): deterministic, one expression, and within one partition
    of first-fit-decreasing's fill for size ≪ target — which is
    exactly the small-files regime compaction targets.

    Determinism: pure integer arithmetic end to end (counts, integer
    division); the single double division (fill ratio) divides two
    exact integers.

    Scale shape: the fact collapses to a date histogram in one
    map-side-combinable count; the prefix-sum window runs over the
    HISTOGRAM (calendar-sized, thousands of rows for years), not the
    fact — this is the planner; the rewrite it prescribes is one
    repartitionByRange write per bin. For million-partition tables the
    same plan works off the metastore/manifest row counts without
    touching data at all."""
    orders = load_table(spark, "orders", sf_dir)
    parts = orders.groupBy(F.col("o_orderdate").cast("date").alias("pdate")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    tot = parts.agg(F.sum("n_rows").alias("n"))
    w = Window.orderBy(F.col("n_rows").desc(), "pdate").rowsBetween(
        Window.unboundedPreceding, -1
    )
    seq = parts.crossJoin(F.broadcast(tot)).select(
        "pdate",
        "n_rows",
        F.expr(f"(n + {_COMPACT_BINS - 1}) div {_COMPACT_BINS}").alias("target"),
        F.coalesce(F.sum("n_rows").over(w), F.lit(0)).alias("cum_before"),
    )
    return (
        seq.groupBy(F.expr("cum_before div target").cast("int").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_partitions"),
            F.sum("n_rows").alias("bin_rows"),
            F.max("target").alias("target"),
        )
        .select(
            "bin",
            F.col("n_partitions").cast("bigint").alias("n_partitions"),
            F.col("bin_rows").cast("bigint").alias("bin_rows"),
            F.round(
                F.col("bin_rows").cast("double") / F.col("target").cast("double"), 6
            ).alias("fill_ratio"),
        )
        .orderBy("bin")
    )


# ==========================================================================
# Poisson bootstrap
# ==========================================================================

_B = 50  # resamples
_CI_LO_IDX = 1   # floor(0.025 * (B-1)) for B=50
_CI_HI_IDX = 47  # floor(0.975 * (B-1)) for B=50

#: Poisson(1) inverse-CDF thresholds as FIXED double literals (shared
#: verbatim by both engines): P(X <= k) for k = 0..7; u beyond the last
#: threshold draws 8. u = first-8-hex(md5) / 2^32 — division by a power
#: of two is exact, so u is the same double everywhere.
_POIS_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238462",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.999916758850712",
    "0.9999909339719611",
)


def _pois_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE 8 END"


_U_SQL = (
    _hexparse_sql(
        "substr(md5(CAST(l_orderkey AS VARCHAR) || '-' "
        "|| CAST(l_linenumber AS VARCHAR) || '-' || CAST(b AS VARCHAR)), 1, 8)"
    )
    + " / 4294967296.0"
)

_BOOTSTRAP_SQL = f"""
WITH rows_x AS (
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS x
    FROM lineitem
),
drawn AS (
    SELECT b, {_pois_case_sql(f"({_U_SQL})")} AS w, x
    FROM rows_x, (SELECT unnest(range(1, {_B} + 1)) AS b)
),
means AS (
    SELECT b,
           {money_sum_sql('w * x')}
             / CAST(SUM(w) AS DOUBLE) AS m
    FROM drawn GROUP BY b
),
ranked AS (
    SELECT m, ROW_NUMBER() OVER (ORDER BY m) - 1 AS i FROM means
),
exact AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           {money_sum_sql('x')} / COUNT(*) AS mean_x
    FROM rows_x
)
SELECT e.n_rows,
       CAST({_B} AS INT) AS n_resamples,
       e.mean_x AS exact_mean,
       MAX(CASE WHEN r.i = {_CI_LO_IDX} THEN r.m END) AS ci_lo,
       MAX(CASE WHEN r.i = {_CI_HI_IDX} THEN r.m END) AS ci_hi
FROM ranked r CROSS JOIN exact e
GROUP BY e.n_rows, e.mean_x
"""


@query("bootstrap_mean_ci", _BOOTSTRAP_SQL)
def q_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap CI for mean line revenue via the POISSON bootstrap
    ({B} resamples): row r's weight in resample b is the Poisson(1)
    draw selected by u = md5(key,b)/2³² through a fixed inverse-CDF
    ladder — no RNG, no seed plumbing, no collect; the draw is a pure
    function of (row key, b), so resamples are identical across
    engines, partitionings, and retries. The exact mean rides in the
    same row; CI endpoints are order statistics over the {B} resample
    means (the repo's floor(p·(B−1)) selection convention).

    Scale shape: ONE pass over the fact exploded ×{B} (b is a
    generated column, no shuffle to create it), reduced map-side to
    {B} (sum, count) cells — the whole bootstrap costs {B}× the scan's
    arithmetic but only {B} cells of shuffle; the order statistic runs
    on {B} rows. This is how uncertainty gets attached to 100 TB
    aggregates: never resample-and-materialize, always weight-and-
    reduce. Weighted sums quantize to decimals; u is exact (division
    by 2³²); the CDF thresholds are shared double literals."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("x"),
    )
    drawn = li.select(
        "x",
        "l_orderkey",
        "l_linenumber",
        F.explode(F.sequence(F.lit(1), F.lit(_B))).alias("b"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "-",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    w = F.lit(8)
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(u < float(_POIS_CDF[k]), k).otherwise(w)
    means = (
        drawn.select("b", w.alias("w"), "x")
        .groupBy("b")
        .agg(
            (
                money_sum(F.col("w") * F.col("x"))
                / F.sum("w").cast("double")
            ).alias("m")
        )
    )
    from pyspark.sql import Window

    ranked = means.select(
        "m", (F.row_number().over(Window.orderBy("m")) - 1).alias("i")
    )
    exact = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (money_sum("x") / F.count(F.lit(1))).alias(
            "mean_x"
        ),
    )
    return (
        ranked.crossJoin(F.broadcast(exact))
        .groupBy("n_rows", "mean_x")
        .agg(
            F.max(F.when(F.col("i") == _CI_LO_IDX, F.col("m"))).alias("ci_lo"),
            F.max(F.when(F.col("i") == _CI_HI_IDX, F.col("m"))).alias("ci_hi"),
        )
        .select(
            "n_rows",
            F.lit(_B).cast("int").alias("n_resamples"),
            F.col("mean_x").alias("exact_mean"),
            "ci_lo",
            "ci_hi",
        )
    )


# ==========================================================================
# Robust statistics
# ==========================================================================

# --------------------------------------------------------------------------
# Theil-Sen robust trend per event type
# --------------------------------------------------------------------------

_THEIL_SEN_SQL = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
           {money_sum_sql('value')} AS y
    FROM events GROUP BY 1, 2, 3
),
slopes AS (
    SELECT a.event_type,
           (b.y - a.y) / (b.d - a.d) AS slope,
           a.d AS da, b.d AS db
    FROM daily a
    JOIN daily b ON a.event_type = b.event_type AND a.d < b.d
),
ranked AS (
    SELECT event_type, slope,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY slope, da, db) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM slopes
)
SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
       ROUND(slope, 9) AS theil_sen_slope
FROM ranked
WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
ORDER BY event_type
"""


@query("theil_sen_trend", _THEIL_SEN_SQL)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of each event type's daily volume: the
    LOWER MEDIAN of all pairwise slopes — the estimator that shrugs
    off the outlier days that bend `event_trend_regression`'s OLS
    line. Median semantics are pinned as rank ⌈n/2⌉ under the unique
    (slope, day_a, day_b) order, so both engines pick the same pair
    even among equal slopes.

    Scale shape: the pairwise join runs on the DAILY AGGREGATE (days²
    per key, with day count bounded by the window — here 30 → 435
    pairs), never on raw events; keys parallelize. Daily sums
    quantize at MONEY_DECIMAL (2dp money contract), and the slope
    division is the same double op in both engines."""
    events = load_table(spark, "events", sf_dir)
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(money_sum("value").alias("y"))
    daily = daily.withColumn(
        "d", F.datediff("day", F.lit("2024-01-01").cast("date"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        ((F.col("b.y") - F.col("a.y")) / (F.col("b.d") - F.col("a.d"))).alias(
            "slope"
        ),
        F.col("a.d").alias("da"),
        F.col("b.d").alias("db"),
    )
    w = Window.partitionBy("event_type").orderBy("slope", "da", "db")
    wc = Window.partitionBy("event_type")
    return (
        slopes.select(
            "event_type",
            "slope",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("n"),
        )
        .filter(F.col("rn") == F.ceil(F.col("n") / 2.0).cast("bigint"))
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_pairs"),
            F.round("slope", 9).alias("theil_sen_slope"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Gini revenue concentration per nation
# --------------------------------------------------------------------------

_GINI_SQL = f"""
WITH cust_rev AS (
    SELECT c.c_nationkey, o.o_custkey,
           SUM(CAST(o.o_totalprice AS {MONEY_DECIMAL_SQL})) AS rev
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2
),
ranked AS (
    SELECT c_nationkey, rev,
           row_number() OVER (PARTITION BY c_nationkey
                              ORDER BY rev, o_custkey) AS i
    FROM cust_rev
)
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(2 * SUM(i * rev) - (COUNT(*) + 1) * SUM(rev) AS DOUBLE)
             / (COUNT(*) * CAST(SUM(rev) AS DOUBLE)), 9) AS gini
FROM ranked
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


@query("revenue_gini_by_nation", _GINI_SQL)
def q_revenue_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across each nation's
    ordering customers (0 = perfectly even, →1 = one whale) — the
    inequality panel of the reference's per-account cashflow shares,
    via the rank formula G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over
    ascending revenues.

    Everything before the final division is EXACT: revenues quantize
    at MONEY_DECIMAL, ranks are integers from a unique (rev, custkey)
    order, and the rank-weighted sum stays decimal. The rank window
    partitions by nation; the input is the customer-grained aggregate
    (dimension×customer-sized), not the fact."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    cust_rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast(MONEY_DECIMAL)).alias("rev"))
    )
    ranked = cust_rev.select(
        "c_nationkey",
        "rev",
        F.row_number()
        .over(Window.partitionBy("c_nationkey").orderBy("rev", "o_custkey"))
        .alias("i"),
    )
    n = F.count(F.lit(1))
    return (
        ranked.groupBy("c_nationkey")
        .agg(
            n.cast("bigint").alias("n_customers"),
            F.round(
                (
                    2 * F.sum(F.col("i") * F.col("rev"))
                    - (n + 1) * F.sum("rev")
                ).cast("double")
                / (n * F.sum("rev").cast("double")),
                9,
            ).alias("gini"),
        )
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------
# Behavioral path trigrams (3-step sequence mining)
# --------------------------------------------------------------------------

_PATH_TRIGRAM_SQL = """
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type, 1) OVER w AS t2,
           lead(event_type, 2) OVER w AS t3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || '>' || t2 || '>' || t3 AS path,
       CAST(COUNT(*) AS BIGINT) AS n
FROM seq WHERE t3 IS NOT NULL
GROUP BY 1 ORDER BY n DESC, path LIMIT 20
"""


@query("event_path_trigrams", _PATH_TRIGRAM_SQL)
def q_event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step behavioral paths across user event streams —
    the sequence-mining extension of `event_transition_matrix`
    (2-step): lead/lead2 windows per user, path counts, deterministic
    (count DESC, path) top-k. The window partitions by user (bounded
    per-user history — the 100 TB contract of the sessionization
    family); the aggregate is path-vocabulary-sized (≤ types³)."""
    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Inter-arrival burstiness per user
# --------------------------------------------------------------------------

_BURSTINESS_SQL = """
WITH gaps AS (
    SELECT user_id,
           epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
    FROM events
),
stats AS (
    SELECT user_id,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           CAST(SUM(gap_us) AS BIGINT) AS s1,
           SUM(CAST(gap_us AS DECIMAL(38,0)) * gap_us) AS s2
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY user_id HAVING COUNT(gap_us) >= 2
)
SELECT user_id, n_gaps,
       CAST(s1 AS DOUBLE) / n_gaps / 1e6 AS mean_gap_s,
       ROUND(sqrt(CAST(n_gaps * s2 - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE)
                  / (CAST(n_gaps AS DOUBLE) * (n_gaps - 1)))
             / (CAST(s1 AS DOUBLE) / n_gaps), 9) AS cv
FROM stats ORDER BY user_id
"""


@query("interarrival_burstiness", _BURSTINESS_SQL)
def q_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coefficient of variation of inter-event gaps per user — the
    burstiness screen (CV ≈ 1 Poisson, ≫1 bursty, ≪1 metronomic)
    that complements `session_dwell_metrics`. Gaps are integer
    epoch-MICROSECONDS (the repo's timestamp-determinism contract),
    so n, Σx, Σx² are exact (x² routed through DECIMAL(38,0) — a
    30-day gap squared overflows BIGINT); only the final sample-std /
    mean division is floating. The lag window partitions per user;
    the mean emits raw (≈1e4-magnitude doubles never in-query-round)."""
    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = events.select(
        "user_id",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias(
            "gap_us"
        ),
    ).filter(F.col("gap_us").isNotNull())
    stats = (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap_us").cast("bigint").alias("n_gaps"),
            F.sum("gap_us").cast("bigint").alias("s1"),
            F.sum(F.col("gap_us").cast("decimal(38,0)") * F.col("gap_us")).alias(
                "s2"
            ),
        )
        .filter(F.col("n_gaps") >= 2)
    )
    mean = F.col("s1").cast("double") / F.col("n_gaps") / F.lit(1e6)
    var_num = (
        F.col("n_gaps") * F.col("s2")
        - F.col("s1").cast("decimal(38,0)") * F.col("s1")
    ).cast("double")
    std = F.sqrt(
        var_num / (F.col("n_gaps").cast("double") * (F.col("n_gaps") - 1))
    )
    return stats.select(
        "user_id",
        "n_gaps",
        mean.alias("mean_gap_s"),
        F.round(std / (F.col("s1").cast("double") / F.col("n_gaps")), 9).alias(
            "cv"
        ),
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# Kaplan-Meier churn survival curve
# --------------------------------------------------------------------------

_KM_SQL = """
WITH horizon AS (SELECT MAX(ts) AS h FROM events),
users AS (
    SELECT user_id,
           date_diff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE))
               AS lifetime,
           CASE WHEN MAX(ts) < (SELECT h FROM horizon) - INTERVAL 7 DAY
                THEN 1 ELSE 0 END AS churned
    FROM events GROUP BY user_id
),
days AS (
    SELECT lifetime AS t,
           CAST(SUM(churned) AS BIGINT) AS d,
           CAST(COUNT(*) AS BIGINT) AS leaving
    FROM users GROUP BY lifetime
),
curve AS (
    SELECT t, d,
           CAST((SELECT COUNT(*) FROM users)
             - COALESCE(SUM(leaving) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS n_risk
    FROM days
)
SELECT t AS lifetime_days, n_risk, d AS d_churned,
       ROUND(CASE WHEN MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                      OVER (ORDER BY t) = 1
             THEN 0.0
             ELSE exp(CAST(SUM(CAST(
                      CASE WHEN d > 0 AND d < n_risk
                           THEN ln(1 - CAST(d AS DOUBLE) / n_risk)
                           ELSE 0.0 END AS DECIMAL(38,18)))
                  OVER (ORDER BY t) AS DOUBLE))
             END, 9) AS survival
FROM curve ORDER BY t
"""


@query("kaplan_meier_churn", _KM_SQL)
def q_kaplan_meier_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes (days between
    first and last event): a user whose last event is >7 days before
    the stream horizon is a churn event at their lifetime; later users
    are right-censored. S(t) = Π(1 − dᵤ/nᵤ) over event days up to t —
    the survival analysis every retention team runs, distributed.

    Scale shape: one per-user aggregate (user-keyed, map-side
    combined) collapses the stream; every window after that runs over
    the LIFETIME-DAY table (bounded by the observation window, here ≤
    30 rows). The product is exp(Σ ln) with each |ln| term quantized
    to DECIMAL(38,18) (order-proof; transcendentals agree across
    engines), and the all-churned edge (1 − d/n = 0, where Spark's
    log yields NULL but DuckDB's yields −inf) is handled explicitly
    by a zero-survival flag window instead of relying on either
    engine's log-of-zero convention."""
    events = load_table(spark, "events", sf_dir)
    horizon = events.agg(F.max("ts").alias("h"))
    users = (
        events.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff(
                F.to_date("last_ts"), F.to_date("first_ts")
            ).alias("lifetime"),
            F.when(
                F.col("last_ts") < F.col("h") - F.expr("INTERVAL 7 DAYS"), 1
            )
            .otherwise(0)
            .alias("churned"),
        )
    )
    n_total = users.agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    days = (
        users.groupBy(F.col("lifetime").alias("t"))
        .agg(
            F.sum("churned").cast("bigint").alias("d"),
            F.count(F.lit(1)).cast("bigint").alias("leaving"),
        )
        .crossJoin(F.broadcast(n_total))
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("t")
    curve = days.select(
        "t",
        "d",
        (
            F.col("nt")
            - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    ln_term = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.log(1 - F.col("d").cast("double") / F.col("n_risk")),
    ).otherwise(F.lit(0.0)).cast("decimal(38,18)")
    dead_flag = F.max(
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    ).over(w_cum)
    return curve.select(
        F.col("t").alias("lifetime_days"),
        "n_risk",
        F.col("d").alias("d_churned"),
        F.round(
            F.when(dead_flag == 1, F.lit(0.0)).otherwise(
                F.exp(F.sum(ln_term).over(w_cum).cast("double"))
            ),
            9,
        ).alias("survival"),
    ).orderBy("lifetime_days")


# ==========================================================================
# Exact quantiles, tf-idf pairs, as-of tolerance and stump splits
# ==========================================================================

# --------------------------------------------------------------------------
# Exact multi-quantile percentile bridge, two-phase bucketed
# --------------------------------------------------------------------------

_PCTS = (25, 50, 75, 90, 99)
_PCT_BUCKET = 1000.0

_PCT_SQL = f"""
WITH w AS (
    SELECT l_returnflag AS flag, l_extendedprice AS price,
           l_orderkey AS ok, l_linenumber AS ln
    FROM lineitem
),
sized AS (
    SELECT flag, CAST(COUNT(*) AS BIGINT) AS n FROM w GROUP BY flag
),
targets AS (
    SELECT s.flag, p.pct,
           CAST(ceil(p.pct / 100.0 * s.n) AS BIGINT) AS target
    FROM sized s CROSS JOIN (
        SELECT unnest({list(_PCTS)}) AS pct
    ) p
),
ranked AS (
    SELECT flag, price,
           row_number() OVER (PARTITION BY flag
                              ORDER BY price, ok, ln) AS rn
    FROM w
)
SELECT t.flag, CAST(t.pct AS BIGINT) AS pct, r.price AS pct_value
FROM targets t JOIN ranked r ON r.flag = t.flag AND r.rn = t.target
ORDER BY t.flag, t.pct
"""


@query("percentile_bridge_exact", _PCT_SQL)
def q_percentile_bridge_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75/p90/p99 of extended price per return flag —
    rank semantics pinned as the value at row ⌈q·n⌉ under the unique
    (price, orderkey, linenumber) order, so 'exact quantile' means the
    same row in both engines.

    The oracle ranks each 3-flag partition wholesale (the naive
    single-window plan). The Spark side is the two-phase bucketed
    decomposition shared with `two_phase_weighted_median`, generalized
    to MULTIPLE targets in one pass: per-(flag, bucket) counts, a
    bucket-level cumulative scan (hundreds of rows) locates the bucket
    containing EACH target rank, and only those buckets' rows get
    row-level windows — all five percentiles ride the same bucket
    table and the same single-bucket rescan, so the cost is one fact
    aggregate + one sliver sort regardless of how many quantiles are
    requested."""
    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
    ).withColumn("bucket", F.floor(F.col("price") / F.lit(_PCT_BUCKET)))
    sized = li.groupBy("flag").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    pcts = spark.range(1).select(
        F.explode(const_vec(_PCTS)).alias("pct")
    )
    targets = sized.crossJoin(F.broadcast(pcts)).select(
        "flag",
        "pct",
        F.ceil(F.col("pct") / 100.0 * F.col("n")).cast("bigint").alias("target"),
    )
    # bucket-level cumulative table: rank range covered by each bucket
    bw = li.groupBy("flag", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("bn")
    )
    wb = Window.partitionBy("flag").orderBy("bucket")
    bw = bw.select(
        "flag",
        "bucket",
        (F.sum("bn").over(wb) - F.col("bn")).alias("before"),
        F.sum("bn").over(wb).alias("through"),
    )
    # each target lands in exactly one bucket: before < target <= through
    hit = targets.join(F.broadcast(bw), "flag").filter(
        (F.col("target") > F.col("before")) & (F.col("target") <= F.col("through"))
    )
    # rescan only the hit buckets; local rank + bucket offset = global rank
    need = hit.select("flag", "bucket").distinct()
    inb = li.join(F.broadcast(need), ["flag", "bucket"])
    wrow = Window.partitionBy("flag", "bucket").orderBy("price", "ok", "ln")
    local = inb.withColumn("lrn", F.row_number().over(wrow))
    return (
        hit.join(
            local,
            (hit.flag == local.flag)
            & (hit.bucket == local.bucket)
            & (local.lrn == hit.target - hit.before),
        )
        .select(
            hit.flag.alias("flag"),
            F.col("pct").cast("bigint").alias("pct"),
            F.col("price").alias("pct_value"),
        )
        .orderBy("flag", "pct")
    )


# --------------------------------------------------------------------------
# Sparse TF-IDF cosine similarity join
# --------------------------------------------------------------------------

_TFIDF_DF_CAP = 64
_TFIDF_THRESHOLD = 0.35

_FTOKS_SQL = r"list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')"

_TFIDF_SQL = rf"""
WITH toks AS (
    SELECT doc_id, {_FTOKS_SQL} AS tk FROM documents
),
words AS (
    SELECT doc_id,
           unnest(list_transform(
               generate_series(1, greatest(len(tk) - 1, 0)),
               i -> tk[i] || ' ' || tk[i+1])) AS word
    FROM toks
),
tf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM words GROUP BY 1, 2),
df AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word),
nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
wt AS (
    SELECT t.doc_id, t.word,
           t.tf * ln((nd.n + 1.0) / (d.df + 1.0)) AS w
    FROM tf t JOIN df d USING (word) CROSS JOIN nd
    WHERE d.df <= {_TFIDF_DF_CAP}
),
norms AS (
    SELECT doc_id,
           sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,18))) AS DOUBLE)) AS nrm
    FROM wt GROUP BY doc_id
),
dots AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(SUM(CAST(a.w * b.w AS DECIMAL(38,18))) AS DOUBLE) AS dot
    FROM wt a JOIN wt b USING (word)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(dot / (na.nrm * nb.nrm), 9) AS cosine
FROM dots
JOIN norms na ON na.doc_id = doc_a
JOIN norms nb ON nb.doc_id = doc_b
WHERE dot / (na.nrm * nb.nrm) >= {_TFIDF_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@query("tfidf_cosine_pairs", _TFIDF_SQL)
def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity join over documents — the
    WEIGHTED sibling of `ngram_jaccard_pairs`: instead of set overlap,
    pairs share inverse-document-frequency-weighted term mass, so a
    rare shared term outweighs twenty shared stopwords. Terms are
    token BIGRAMS (the synthetic corpus's unigram vocabulary is too
    dense to discriminate; bigrams give a ~900-term vocabulary with
    rare-term signal). Pair
    generation is the same inverted-index self-join (posting lists
    keyed by term, df-capped at {cap} so stop-terms can't go
    quadratic); dot products and norms accumulate as
    DECIMAL(38,18)-quantized term products (|w·w| small — ln-scaled),
    so the cosine is aggregation-order-proof. At 100 TB this is the
    text-similarity shape that needs no embeddings: Σposting² cost,
    never n².""".format(cap=_TFIDF_DF_CAP)
    from dieter___etl___monarchmoney_spark.operators.dedup import shingles_of

    docs = load_table(spark, "documents", sf_dir)
    tk = F.array_remove(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), "")
    # token array projected first (the transform-lambda CSE trap —
    # see shingles_of), then bigrams = 2-shingles
    # single-file input -> repartition so the tokenize projection
    # parallelizes (same rationale as set_cover_greedy_selection)
    tokd = docs.repartition(
        spark.sparkContext.defaultParallelism
    ).select("doc_id", tk.alias("tk"))
    words = tokd.select(
        "doc_id", F.explode(shingles_of(F.col("tk"), 2)).alias("word")
    )
    # persisted: tf feeds the df aggregate, the corpus-size scalar, AND
    # (through wt) the norm aggregate and both pair-join sides — the
    # tokenize/explode pipeline otherwise re-runs for each consumer
    tf = pin(
        words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    nd = tf.agg(F.countDistinct("doc_id").cast("bigint").alias("n"))
    # persisted: the weighted-posting table feeds the norm aggregate
    # AND both sides of the pair self-join — without the cache the
    # tokenize/explode/aggregate pipeline upstream re-runs four times
    # (measured 9.6 s -> ~2 s at sf0.1)
    wt = pin(
        tf.join(F.broadcast(df.filter(F.col("df") <= _TFIDF_DF_CAP)), "word")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "word",
            (
                F.col("tf")
                * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0))
            ).alias("w"),
        )
    )
    norms = wt.groupBy("doc_id").agg(
        F.sqrt(
            F.sum((F.col("w") * F.col("w")).cast("decimal(38,18)")).cast("double")
        ).alias("nrm")
    )
    a, b = wt.alias("a"), wt.alias("b")
    dots = (
        a.join(b, "word")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.sum((F.col("a.w") * F.col("b.w")).cast("decimal(38,18)"))
            .cast("double")
            .alias("dot")
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(cos >= _TFIDF_THRESHOLD)
        .select("doc_a", "doc_b", F.round(cos, 9).alias("cosine"))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Nearest as-of join with tolerance (backward OR forward)
# --------------------------------------------------------------------------

_NEAREST_TOL_HOURS = 24

_NEAREST_SQL = f"""
WITH p AS (
    SELECT event_id AS p_id, user_id, ts AS p_ts
    FROM events WHERE event_type = 'purchase'
),
s AS (
    SELECT user_id, ts AS s_ts, event_id AS s_id
    FROM events WHERE event_type = 'signup'
),
cand AS (
    SELECT p.p_id, p.user_id, epoch_us(p.p_ts) AS p_us,
           s.s_id, epoch_us(s.s_ts) AS s_us,
           abs(epoch_us(p.p_ts) - epoch_us(s.s_ts)) AS dist_us,
           row_number() OVER (PARTITION BY p.p_id
               ORDER BY abs(epoch_us(p.p_ts) - epoch_us(s.s_ts)), s.s_id) AS rn
    FROM p JOIN s USING (user_id)
    WHERE abs(epoch_us(p.p_ts) - epoch_us(s.s_ts))
          <= CAST({_NEAREST_TOL_HOURS} AS BIGINT) * 3600 * 1000000
)
SELECT p.p_id, p.user_id, epoch_us(p.p_ts) AS p_us,
       c.s_id AS nearest_signup_id, c.dist_us
FROM p LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c USING (p_id)
ORDER BY p.p_id
"""


@query("asof_nearest_tolerance", _NEAREST_SQL)
def q_asof_nearest_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join with a ±{h}h tolerance: each purchase
    matched to the temporally closest same-user signup in either
    direction, or NULL when none lands inside the window — the
    pandas `merge_asof(direction='nearest', tolerance=...)` semantics
    the backward-only `asof_last_signup` cannot express (Spark has
    neither).

    Scale shape: user-keyed equi join + tolerance residual (per-user
    fan-out bounded), nearest-pick via a per-purchase rank window
    with the unique (distance, signup_id) order so equidistant
    candidates resolve identically in both engines; the LEFT join
    back preserves unmatched purchases. Distances are integer
    epoch-microseconds — exact.""".format(h=_NEAREST_TOL_HOURS)
    events = load_table(spark, "events", sf_dir)
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.unix_micros("ts").alias("p_us"),
    )
    s = events.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.unix_micros("ts").alias("s_us"),
        F.col("event_id").alias("s_id"),
    )
    tol = _NEAREST_TOL_HOURS * 3600 * 1_000_000
    dist = F.abs(F.col("p_us") - F.col("s_us"))
    cand = (
        p.join(s, "user_id")
        .withColumn("dist_us", dist)
        .filter(F.col("dist_us") <= tol)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("p_id").orderBy("dist_us", "s_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("p_id", F.col("s_id").alias("nearest_signup_id"), "dist_us")
    )
    return (
        p.join(cand, "p_id", "left")
        .select("p_id", "user_id", "p_us", "nearest_signup_id", "dist_us")
        .orderBy("p_id")
    )


# --------------------------------------------------------------------------
# Decision-tree stump trained in-engine (Gini gain over bucket splits)
# --------------------------------------------------------------------------

_STUMP_BUCKETS = 64


def _stump_gini_sql(side_pos: str, side_n: str) -> str:
    """Weighted Gini impurity term 2·p·(1−p)·(n_side/n) as exact
    rational arithmetic up to the final division."""
    return (
        f"CASE WHEN {side_n} = 0 THEN 0.0 ELSE "
        f"2.0 * ({side_pos} / CAST({side_n} AS DOUBLE)) "
        f"* (1 - {side_pos} / CAST({side_n} AS DOUBLE)) "
        f"* ({side_n} / CAST(tot.n AS DOUBLE)) END"
    )


_STUMP_SQL = f"""
WITH pts AS (
    SELECT value AS x,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
    FROM events WHERE event_type IN ('purchase', 'view')
),
rng AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM pts),
binned AS (
    SELECT LEAST(CAST(floor((x - rng.lo) / ((rng.hi - rng.lo)
                / {_STUMP_BUCKETS})) AS BIGINT), {_STUMP_BUCKETS - 1}) AS b,
           y
    FROM pts CROSS JOIN rng
),
bstats AS (
    SELECT b, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS pos
    FROM binned GROUP BY b
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS pos
        FROM bstats),
cum AS (
    SELECT b,
           SUM(n) OVER (ORDER BY b) AS ln_,
           SUM(pos) OVER (ORDER BY b) AS lpos
    FROM bstats
),
splits AS (
    SELECT c.b AS split_bucket,
           CAST(c.ln_ AS BIGINT) AS n_left,
           {_stump_gini_sql('c.lpos', 'c.ln_')}
           + {_stump_gini_sql('(tot.pos - c.lpos)', '(tot.n - c.ln_)')}
               AS gini,
           row_number() OVER (ORDER BY
               {_stump_gini_sql('c.lpos', 'c.ln_')}
               + {_stump_gini_sql('(tot.pos - c.lpos)', '(tot.n - c.ln_)')},
               c.b) AS rk
    FROM cum c CROSS JOIN tot
    WHERE c.ln_ < tot.n
)
SELECT CAST(split_bucket AS BIGINT) AS split_bucket, n_left,
       ROUND(gini, 9) AS weighted_gini
FROM splits WHERE rk = 1
"""


@query("decision_stump_split", _STUMP_SQL)
def q_decision_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One decision-tree stump trained in-engine: find the value
    threshold (over {b} equi-width buckets) that best separates
    purchases from views by weighted Gini impurity — the aggregate-
    only training shape of gradient-boosted-tree split finding
    (histogram method), sibling to `logreg_train_weights`.

    Scale shape: one pass bins the facts ({b}-row histogram with
    map-side combine), every candidate split is evaluated on the
    HISTOGRAM's cumulative scan (a {b}-row window), and the argmin is
    a rank over {b} rows with a bucket tie-break. Left/right
    class-count arithmetic stays integer until the final impurity
    division; both engines compute the same double expression, and
    the argmin row index is the hash-checked output (with n_left and
    the impurity), not any float intermediate.""".format(b=_STUMP_BUCKETS)
    events = load_table(spark, "events", sf_dir)
    pts = events.filter(F.col("event_type").isin("purchase", "view")).select(
        F.col("value").alias("x"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    rng = pts.agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    binned = pts.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.floor(
                (F.col("x") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / _STUMP_BUCKETS)
            ).cast("bigint"),
            F.lit(_STUMP_BUCKETS - 1),
        ).alias("b"),
        "y",
    )
    bstats = binned.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    tot = bstats.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("pos").cast("bigint").alias("tpos"),
    )
    wcum = Window.orderBy("b")
    cum = bstats.select(
        "b",
        F.sum("n").over(wcum).alias("ln_"),
        F.sum("pos").over(wcum).alias("lpos"),
    ).crossJoin(F.broadcast(tot))

    def gini(pos_col, n_col):
        p = pos_col / n_col.cast("double")
        return F.when(n_col == 0, F.lit(0.0)).otherwise(
            2.0 * p * (1 - p) * (n_col / F.col("tn").cast("double"))
        )

    g = gini(F.col("lpos"), F.col("ln_")) + gini(
        F.col("tpos") - F.col("lpos"), F.col("tn") - F.col("ln_")
    )
    return (
        cum.filter(F.col("ln_") < F.col("tn"))
        .withColumn("gini", g)
        .withColumn(
            "rk", F.row_number().over(Window.orderBy("gini", "b"))
        )
        .filter(F.col("rk") == 1)
        .select(
            F.col("b").cast("bigint").alias("split_bucket"),
            F.col("ln_").cast("bigint").alias("n_left"),
            F.round("gini", 9).alias("weighted_gini"),
        )
    )


# ==========================================================================
# Rank correlation, error islands and duplicate invoices
# ==========================================================================

# --------------------------------------------------------------------------
# Kendall's tau between event-type daily series
# --------------------------------------------------------------------------

_KENDALL_SQL = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           SUM(CAST(value AS {MONEY_DECIMAL_SQL})) AS dval
    FROM events GROUP BY 1, 2
),
paired AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.day, a.dval AS xa, b.dval AS xb
    FROM daily a
    JOIN daily b ON a.day = b.day AND a.event_type < b.event_type
),
pp AS (
    SELECT p.type_a, p.type_b,
           CAST(SUM(CASE WHEN (q.xa - p.xa) * (q.xb - p.xb) > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
           CAST(SUM(CASE WHEN (q.xa - p.xa) * (q.xb - p.xb) < 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM paired p
    JOIN paired q
      ON q.type_a = p.type_a AND q.type_b = p.type_b AND q.day > p.day
    GROUP BY 1, 2
)
SELECT type_a, type_b, concordant, discordant,
       ROUND(CAST(concordant - discordant AS DOUBLE) / n_pairs, 9)
           AS kendall_tau
FROM pp ORDER BY type_a, type_b
"""


@query("kendall_tau_daily", _KENDALL_SQL)
def q_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-a between every pair of event types' daily-volume
    series — the concordance-counting twin of
    `spearman_daily_correlation` (tau is the probability a random day
    pair moves the same way, minus the probability it moves
    opposite). Concordant/discordant counts are pure INTEGER
    comparisons of exact decimal daily sums, so the statistic has no
    floating accumulation at all until the final ratio.

    Scale shape: the day-pair join runs per (type_a, type_b) on the
    DAILY table — days² per type pair with day count bounded by the
    observation window, the same contract as `theil_sen_trend`; raw
    events are touched exactly once by the daily aggregate."""
    events = load_table(spark, "events", sf_dir)
    daily = events.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast(MONEY_DECIMAL)).alias("dval")
    )
    a, b = daily.alias("a"), daily.alias("b")
    paired = a.join(
        b,
        (F.col("a.day") == F.col("b.day"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    ).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.day").alias("day"),
        F.col("a.dval").alias("xa"),
        F.col("b.dval").alias("xb"),
    )
    p, q = paired.alias("p"), paired.alias("q")
    sign = (F.col("q.xa") - F.col("p.xa")) * (F.col("q.xb") - F.col("p.xb"))
    pp = (
        p.join(
            q,
            (F.col("q.type_a") == F.col("p.type_a"))
            & (F.col("q.type_b") == F.col("p.type_b"))
            & (F.col("q.day") > F.col("p.day")),
        )
        .groupBy(
            F.col("p.type_a").alias("type_a"), F.col("p.type_b").alias("type_b")
        )
        .agg(
            F.sum(F.when(sign > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("concordant"),
            F.sum(F.when(sign < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("discordant"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
    )
    return pp.select(
        "type_a",
        "type_b",
        "concordant",
        "discordant",
        F.round(
            (F.col("concordant") - F.col("discordant")).cast("double")
            / F.col("n_pairs"),
            9,
        ).alias("kendall_tau"),
    ).orderBy("type_a", "type_b")


# --------------------------------------------------------------------------
# Error-burst islands (gaps-and-islands on the time axis)
# --------------------------------------------------------------------------

_BURST_THRESHOLD = 0.21

_BURST_SQL = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS err_rate
    FROM events GROUP BY 1, 2
),
flagged AS (
    SELECT d, err_rate,
           d - row_number() OVER (ORDER BY d) AS grp
    FROM daily WHERE err_rate > {_BURST_THRESHOLD}
)
SELECT CAST(MIN(d) AS BIGINT) AS start_day,
       CAST(MAX(d) AS BIGINT) AS end_day,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(MAX(err_rate), 9) AS peak_err_rate
FROM flagged GROUP BY grp
ORDER BY start_day
"""


@query("error_burst_islands", _BURST_SQL)
def q_error_burst_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous runs of elevated-error days (rate > {t}) as
    gaps-and-islands over the time axis — the incident-window
    detector: `d − row_number()` is constant within each consecutive
    run, so one window + one aggregate turns a daily flag into
    (start, end, length, peak) incident rows. Same island idiom as
    `max_duplicated_span`, applied to operations instead of text.

    The fact collapses to the day-grained aggregate first (one pass,
    map-side combined); every window after that runs over ≤
    observation-window rows. Error rates are exact integer-count
    ratios.""".format(t=_BURST_THRESHOLD)
    events = load_table(spark, "events", sf_dir)
    daily = events.groupBy(
        F.to_date("ts").alias("day"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias("d"),
    ).agg(
        (
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("err_rate")
    )
    flagged = daily.filter(F.col("err_rate") > _BURST_THRESHOLD).select(
        "d",
        "err_rate",
        (F.col("d") - F.row_number().over(Window.orderBy("d"))).alias("grp"),
    )
    return (
        flagged.groupBy("grp")
        .agg(
            F.min("d").cast("bigint").alias("start_day"),
            F.max("d").cast("bigint").alias("end_day"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.round(F.max("err_rate"), 9).alias("peak_err_rate"),
        )
        .drop("grp")
        .orderBy("start_day")
    )


# --------------------------------------------------------------------------
# Duplicate-invoice pair detection
# --------------------------------------------------------------------------

_DUP_INVOICE_DAYS = 7

#: deterministic "double-submitted batch": every 199th order re-enters
#: the stream two days later under a shifted key — the same
#: corrupted-replica drill style as fk_integrity_audit, so the screen
#: has true positives to certify on honest synthetic data.
_DUP_INVOICE_SQL = f"""
WITH submitted AS (
    SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate FROM orders
    UNION ALL
    SELECT o_custkey, o_orderkey + 100000000,
           o_totalprice, o_orderdate + INTERVAL 2 DAY
    FROM orders WHERE o_orderkey % 199 = 0
)
SELECT a.o_custkey AS custkey,
       a.o_orderkey AS order_a, b.o_orderkey AS order_b,
       a.o_totalprice AS amount,
       CAST(date_diff('day', a.o_orderdate, b.o_orderdate) AS BIGINT)
           AS days_apart
FROM submitted a
JOIN submitted b
  ON a.o_custkey = b.o_custkey
 AND a.o_totalprice = b.o_totalprice
 AND a.o_orderkey < b.o_orderkey
 AND b.o_orderdate >= a.o_orderdate - INTERVAL {_DUP_INVOICE_DAYS} DAY
 AND b.o_orderdate <= a.o_orderdate + INTERVAL {_DUP_INVOICE_DAYS} DAY
ORDER BY custkey, order_a, order_b
"""


@query("duplicate_invoice_pairs", _DUP_INVOICE_SQL)
def q_duplicate_invoice_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment screen: pairs of orders by the SAME customer
    for the IDENTICAL total within ±{d} days — the classic
    accounts-payable audit (double-submitted invoices), the
    finance-flavored sibling of the exact-dedup family.

    Scale shape: the self-join keys on (customer, amount) — both
    equality predicates reach the shuffle key, so candidate pairs are
    Σ per-(customer, amount) group² (near-zero for honest data),
    never customer-group². The date window is a residual filter;
    exact double equality on the amount is deliberate (a duplicate
    SUBMISSION is bit-identical; near-miss amounts are
    `fuzzy_entity_resolution`'s territory). The input unions a
    deterministic resubmitted batch (every 199th order, +2 days,
    shifted key) so the screen certifies on true positives.""".format(
        d=_DUP_INVOICE_DAYS
    )
    o = load_table(spark, "orders", sf_dir).select(
        "o_custkey", "o_orderkey", "o_totalprice", "o_orderdate"
    )
    resub = o.filter(F.col("o_orderkey") % 199 == 0).select(
        "o_custkey",
        (F.col("o_orderkey") + 100_000_000).alias("o_orderkey"),
        "o_totalprice",
        F.date_add("o_orderdate", 2).alias("o_orderdate"),
    )
    submitted = o.unionByName(resub)
    a, b = submitted.alias("a"), submitted.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_totalprice") == F.col("b.o_totalprice"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (
                F.col("b.o_orderdate")
                >= F.col("a.o_orderdate") - F.expr(f"INTERVAL {_DUP_INVOICE_DAYS} DAYS")
            )
            & (
                F.col("b.o_orderdate")
                <= F.col("a.o_orderdate") + F.expr(f"INTERVAL {_DUP_INVOICE_DAYS} DAYS")
            ),
        )
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
            F.col("a.o_totalprice").alias("amount"),
            F.datediff(F.col("b.o_orderdate"), F.col("a.o_orderdate"))
            .cast("bigint")
            .alias("days_apart"),
        )
        .orderBy("custkey", "order_a", "order_b")
    )


# --------------------------------------------------------------------------
# Cumulative distinct users via first-seen decomposition
# --------------------------------------------------------------------------

_CUMDIST_SQL = """
WITH first_seen AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
),
new_per_day AS (
    SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
    FROM first_seen GROUP BY day
),
all_days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
SELECT d.day, COALESCE(n.new_users, 0) AS new_users,
       CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY d.day) AS BIGINT)
           AS cumulative_distinct_users
FROM all_days d LEFT JOIN new_per_day n USING (day)
ORDER BY d.day
"""


@query("cumulative_distinct_users", _CUMDIST_SQL)
def q_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count of distinct users ever seen, per day — the
    COUNT(DISTINCT) OVER (ORDER BY day) that engines either refuse or
    execute by re-scanning an ever-growing set per row, rewritten as
    the scalable FIRST-SEEN decomposition: each user contributes a
    single (user → first day) row, new-user counts aggregate per day,
    and the cumulative sum runs over the day-grained table. One
    user-keyed aggregate over the fact; every window touches ≤
    observation-window rows. The growth-curve companion of
    `rolling_distinct_users_7d` (whose window slides instead of
    accumulating) and `weekly_retention_cohorts`."""
    events = load_table(spark, "events", sf_dir)
    first_seen = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    new_per_day = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    all_days = events.select(F.to_date("ts").alias("day")).distinct()
    return (
        all_days.join(new_per_day, "day", "left")
        .select("day", F.coalesce(F.col("new_users"), F.lit(0)).alias("new_users"))
        .withColumn(
            "cumulative_distinct_users",
            F.sum("new_users").over(Window.orderBy("day")).cast("bigint"),
        )
        .orderBy("day")
    )
