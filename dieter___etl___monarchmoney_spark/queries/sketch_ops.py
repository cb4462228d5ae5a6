"""Mergeable-sketch operators with bit-exact cross-engine parity:
a deterministic HyperLogLog (distinct-count sketch) and a count-min
sketch (frequency sketch), both built from md5 so Spark and DuckDB
compute IDENTICAL register/counter states — the sketches themselves are
oracle-checked, not just their final estimates.

Why this matters at 100 TB: ``COUNT(DISTINCT x)`` and exact per-token
counts shuffle every distinct value; a sketch shuffles O(registers)
bytes per group (256 B for HLL-256, 16 KiB for a 4x1024 count-min)
regardless of input size, and sketches MERGE (max per register / sum
per counter), so they map-side combine and can be maintained
incrementally next to the watermark pipeline. ``approx_vocab_sketch``
(rows-only) showed the plumbing; these two make sketching a first-class
hash-checked operator family.

Production note: swap md5 for ``xxhash64`` (same plumbing, ~10x
cheaper); md5 is used because both engines render it identically, which
is what makes the oracle twin possible.

Reference framing: the reference engine (a single-node API ETL) has no
sketch surface; this is part of the SURVEY.md §6 LLM-pipeline extension
family (corpus statistics at scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.functions.literals import const_vec
from dieter___etl___monarchmoney_spark.registry import query
from dieter___etl___monarchmoney_spark.sources.parquet import load_table

# --------------------------------------------------------------------------
# HyperLogLog: distinct user_id per event_type, registers oracle-checked
# --------------------------------------------------------------------------

#: 2^8 registers (p=8); standard bias constant alpha_256 * m^2, evaluated
#: once here and embedded as the SAME double literal in both engines.
_HLL_M = 256
_HLL_ALPHA_M2 = 0.7213 / (1.0 + 1.079 / _HLL_M) * _HLL_M * _HLL_M
#: scale factor for exact register sums: each register contributes
#: 2^(60 - M_j) as an exact BIGINT (M_j <= 57 so the shift never
#: overflows), summed as DECIMAL so no double-summation-order flake.
_HLL_K = 60


def _hll_hashed(events: DataFrame, *keys) -> tuple[DataFrame, Column]:
    """The one HLL-256 register builder: ``events`` projected to
    ``keys`` plus ``reg_idx`` (the first md5 byte of ``user_id``) and
    ``w`` (its next 56 bits), with ``rho``, the register rank of ``w``
    (its leading-zero count + 1 via binary-digit length — no floating
    log2). A register is ``max(rho)`` over its (group, reg_idx)."""
    h = F.md5(F.col("user_id").cast("string").cast("binary"))
    hashed = events.select(
        *keys,
        F.conv(F.substring(h, 1, 2), 16, 10).cast("bigint").alias("reg_idx"),
        F.conv(F.substring(h, 3, 14), 16, 10).cast("bigint").alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(57)).otherwise(
        F.lit(57) - F.length(F.conv(F.col("w").cast("string"), 10, 2))
    )
    return hashed, rho


def _register_term() -> Column:
    """A register ``m_j``'s exact contribution 2^(K - m_j) to the sum."""
    return F.expr(f"CAST(shiftleft(CAST(1 AS BIGINT), {_HLL_K} - m_j) AS DECIMAL(38,0))")


def _hll_estimate(folded: DataFrame) -> tuple[DataFrame, Column]:
    """The one HLL-256 estimator over per-group ``n_registers_hit`` and
    ``s_present`` (the sum of the hit registers' terms): ``folded`` with
    ``s_total`` (every missing register adds 2^K), and the estimate —
    linear counting in the small range, the raw estimate above it,
    rounded to 2dp so a <=1-ulp ``ln`` difference between libm and the
    JVM cannot flake the hash."""
    two_k = F.expr(f"CAST(shiftleft(CAST(1 AS BIGINT), {_HLL_K}) AS DECIMAL(38,0))")
    est = folded.withColumn(
        "s_total",
        (
            F.col("s_present")
            + (F.lit(_HLL_M) - F.col("n_registers_hit")).cast("decimal(38,0)") * two_k
        ).cast("decimal(38,0)"),
    )
    e_raw = (
        F.lit(_HLL_ALPHA_M2)
        * F.expr(f"CAST(shiftleft(CAST(1 AS BIGINT), {_HLL_K}) AS DOUBLE)")
        / F.col("s_total").cast("double")
    )
    small_range = (e_raw <= 2.5 * _HLL_M) & (F.col("n_registers_hit") < _HLL_M)
    linear_count = F.lit(float(_HLL_M)) * F.log(
        F.lit(float(_HLL_M)) / (F.lit(_HLL_M) - F.col("n_registers_hit")).cast("double")
    )
    return est, F.round(F.when(small_range, linear_count).otherwise(e_raw), 2)

_HLL_SQL = f"""
WITH hashed AS (
    SELECT event_type,
           user_id,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT) AS reg_idx,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 14)) AS BIGINT) AS w
    FROM events
),
registers AS (
    SELECT event_type, reg_idx,
           MAX(CASE WHEN w = 0 THEN 57 ELSE 57 - length(bin(w)) END) AS m_j,
           COUNT(DISTINCT user_id) AS d_part
    FROM hashed GROUP BY event_type, reg_idx
),
folded AS (
    SELECT event_type,
           COUNT(*) AS n_registers_hit,
           SUM(CAST((CAST(1 AS BIGINT) << ({_HLL_K} - m_j)) AS DECIMAL(38,0)))
               AS s_present,
           SUM(d_part) AS exact_distinct
    FROM registers GROUP BY event_type
),
est AS (
    SELECT event_type, n_registers_hit, exact_distinct,
           CAST(s_present
                + CAST(({_HLL_M} - n_registers_hit) AS DECIMAL(38,0))
                  * CAST(CAST(1 AS BIGINT) << {_HLL_K} AS DECIMAL(38,0))
                AS DECIMAL(38,0)) AS s_total
    FROM folded
),
raw AS (
    SELECT *,
           {_HLL_ALPHA_M2!r} * CAST(CAST(1 AS BIGINT) << {_HLL_K} AS DOUBLE)
               / CAST(s_total AS DOUBLE) AS e_raw
    FROM est
)
SELECT event_type,
       CAST(n_registers_hit AS INT) AS n_registers_hit,
       CAST(s_total AS VARCHAR) AS register_sum,
       ROUND(CASE WHEN e_raw <= 2.5 * {_HLL_M}
                   AND n_registers_hit < {_HLL_M}
             THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE)
                                / ({_HLL_M} - n_registers_hit))
             ELSE e_raw END, 2) AS est_distinct,
       CAST(exact_distinct AS BIGINT) AS exact_distinct
FROM raw
ORDER BY event_type
"""


@query("hll_distinct_users", _HLL_SQL)
def q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog-256: distinct users per event_type.

    Every stage is exact-integer until the final estimate: register
    index = first md5 byte, rank = leading-zero count of the next 56
    bits (via binary-digit length — no floating log2), register sums
    accumulate 2^(60-M_j) as DECIMAL (order-independent), and the one
    double division uses the same embedded alpha*m^2 literal in both
    engines. The estimate is rounded to 2dp so a <=1-ulp ``ln``
    difference between libm and the JVM cannot flake the hash (the
    small-range branch's ln argument takes one of 255 integer ratios).

    The sketch state itself (``register_sum``, ``n_registers_hit``) is
    hash-checked, not just the estimate — the oracle proves both
    engines built the SAME 256 registers. ``exact_distinct`` rides
    along because each user hashes to exactly one register, so per-
    register distinct counts sum to the true group distinct — giving
    the error measurement for free in the same single shuffle chain.

    Scale shape: one groupBy(event_type, reg_idx) shuffle with map-side
    combine on MAX; final fold is 256 rows per group. At 100 TB the
    sketch is 256 bytes of state per group versus COUNT(DISTINCT)'s
    full-value shuffle, and registers MERGE by max — so daily sketches
    union with the watermark increment instead of rescanning history.
    """
    events = load_table(spark, "events", sf_dir)
    hashed, rho = _hll_hashed(events, "event_type", "user_id")
    registers = hashed.groupBy("event_type", "reg_idx").agg(
        F.max(rho).alias("m_j"),
        F.countDistinct("user_id").alias("d_part"),
    )
    folded = registers.groupBy("event_type").agg(
        F.count("*").alias("n_registers_hit"),
        F.sum(_register_term()).alias("s_present"),
        F.sum("d_part").alias("exact_distinct"),
    )
    est, estimate = _hll_estimate(folded)
    return (
        est.select(
            "event_type",
            F.col("n_registers_hit").cast("int").alias("n_registers_hit"),
            F.col("s_total").cast("string").alias("register_sum"),
            estimate.alias("est_distinct"),
            F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Count-min sketch: heavy-hitter token frequencies, counters oracle-checked
# --------------------------------------------------------------------------

_CM_DEPTH = 4
_CM_WIDTH = 1024
_CM_TOPK = 20

_CM_SQL = f"""
WITH words AS (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
    FROM documents
),
exact AS (
    SELECT word, COUNT(*) AS exact_cnt FROM words WHERE word <> '' GROUP BY word
),
rows_r AS (SELECT unnest(range(0, {_CM_DEPTH})) AS r),
sketch AS (
    SELECT r,
           CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || word), 1, 8))
                AS BIGINT) % {_CM_WIDTH} AS bucket,
           SUM(exact_cnt) AS counter
    FROM exact, rows_r
    GROUP BY r, bucket
),
top_words AS (
    SELECT word, exact_cnt FROM exact
    ORDER BY exact_cnt DESC, word LIMIT {_CM_TOPK}
),
probed AS (
    SELECT t.word, t.exact_cnt, s.r, s.counter
    FROM top_words t
    JOIN sketch s
      ON s.bucket = CAST(('0x' || substr(md5(CAST(s.r AS VARCHAR) || ':' || t.word),
                                         1, 8)) AS BIGINT) % {_CM_WIDTH}
)
SELECT word,
       CAST(exact_cnt AS BIGINT) AS exact_cnt,
       CAST(MIN(counter) AS BIGINT) AS cm_estimate,
       CAST(MIN(counter) - exact_cnt AS BIGINT) AS overestimate
FROM probed
GROUP BY word, exact_cnt
ORDER BY exact_cnt DESC, word
"""


@query("countmin_heavy_hitters", _CM_SQL)
def q_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (depth 4 x width 1024) over document tokens,
    probed at the exact top-{_CM_TOPK} words so the one-sided error is
    measured in-query (``cm_estimate >= exact_cnt`` always; the
    property test asserts it).

    All-integer: bucket = md5("r:word") first 4 bytes mod width,
    counters are exact BIGINT sums — the oracle proves both engines
    built the SAME 4x1024 counter table, not merely similar estimates.

    Scale shape: the sketch build is one groupBy(r, bucket) with
    map-side combine — 4096 counters of state no matter how many
    distinct tokens exist, versus the full-vocabulary shuffle of an
    exact count. Counters merge by +, so per-day sketches combine
    incrementally. The probe side is {_CM_TOPK} rows broadcast against
    a 4096-row sketch — negligible. (The exact counts computed here to
    MEASURE the sketch's error are the thing the sketch replaces at
    100 TB; a production run builds only the 16 KiB sketch.)
    """
    docs = load_table(spark, "documents", sf_dir)
    words = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    exact = words.groupBy("word").agg(F.count("*").alias("exact_cnt"))

    def bucket(r_col, word_col):
        key = F.concat(r_col.cast("string"), F.lit(":"), word_col)
        return (
            F.conv(F.substring(F.md5(key.cast("binary")), 1, 8), 16, 10)
            .cast("bigint")
            % _CM_WIDTH
        )

    fanned = exact.withColumn(
        "r", F.explode(const_vec(range(_CM_DEPTH)))
    )
    sketch = (
        fanned.withColumn("bucket", bucket(F.col("r"), F.col("word")))
        .groupBy("r", "bucket")
        .agg(F.sum("exact_cnt").alias("counter"))
    )
    top_words = exact.orderBy(F.col("exact_cnt").desc(), "word").limit(_CM_TOPK)
    probes = top_words.withColumn(
        "r", F.explode(const_vec(range(_CM_DEPTH)))
    ).withColumn("bucket", bucket(F.col("r"), F.col("word")))
    probed = F.broadcast(probes).join(sketch, ["r", "bucket"])
    return (
        probed.groupBy("word", "exact_cnt")
        .agg(F.min("counter").alias("cm_estimate"))
        .select(
            "word",
            F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
            F.col("cm_estimate").cast("bigint").alias("cm_estimate"),
            (F.col("cm_estimate") - F.col("exact_cnt"))
            .cast("bigint")
            .alias("overestimate"),
        )
        .orderBy(F.col("exact_cnt").desc(), "word")
    )


# --------------------------------------------------------------------------
# HLL incremental maintenance: daily sketches max-merged == direct sketch
# --------------------------------------------------------------------------

_HLL_MERGE_SQL = f"""
WITH hashed AS (
    SELECT event_type, CAST(ts AS DATE) AS d,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT) AS reg_idx,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 14)) AS BIGINT) AS w
    FROM events
),
registers AS (
    SELECT event_type, reg_idx,
           MAX(CASE WHEN w = 0 THEN 57 ELSE 57 - length(bin(w)) END) AS m_j
    FROM hashed GROUP BY event_type, reg_idx
)
SELECT event_type,
       CAST(COUNT(*) AS INT) AS n_registers_hit,
       CAST(SUM(CAST((CAST(1 AS BIGINT) << ({_HLL_K} - m_j)) AS DECIMAL(38,0)))
            AS VARCHAR) AS register_sum
FROM registers GROUP BY event_type
ORDER BY event_type
"""


@query("hll_daily_merge", _HLL_MERGE_SQL)
def q_hll_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL incremental maintenance on the parity surface: the Spark
    side builds PER-DAY register sketches and max-merges them across
    days; the oracle builds registers directly over the whole table in
    one pass. A green row proves merge == direct across two engines —
    the contract that lets a 100 TB pipeline maintain distinct-count
    state by folding each watermark window's 256-byte sketch into the
    stored one instead of rescanning history (the sketch analog of
    incremental_agg_merge, whose sums merge by +; registers merge by
    max)."""
    events = load_table(spark, "events", sf_dir)
    hashed, rho = _hll_hashed(events, "event_type", F.col("ts").cast("date").alias("d"))
    daily = hashed.groupBy("event_type", "d", "reg_idx").agg(F.max(rho).alias("m_day"))
    merged = daily.groupBy("event_type", "reg_idx").agg(F.max("m_day").alias("m_j"))
    return (
        merged.groupBy("event_type")
        .agg(
            F.count("*").cast("int").alias("n_registers_hit"),
            F.sum(_register_term())
            .cast("string")
            .alias("register_sum"),
        )
        .orderBy("event_type")
    )


@query("approx_distinct_validation", None)
def q_approx_distinct_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validates Spark's built-in HLL++ (``approx_count_distinct``)
    against the exact distinct per event_type, next to this module's
    hand-built HLL-256 — rows-only by design (HLL++ register state is
    Spark-internal, no cross-engine twin; the hand-built sketch above
    is the one with register-level parity). The rsd=0.05 sketch must
    land within ~3x its advertised relative standard deviation
    (unit-test-pinned), making the "use the built-in mergeable sketch
    at 100 TB" advice executable, like percentile_sketch_validation
    does for quantiles."""
    events = load_table(spark, "events", sf_dir)
    return (
        events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_distinct"),
            F.approx_count_distinct("user_id", 0.05).alias("approx_distinct"),
        )
        .select(
            "event_type",
            "exact_distinct",
            "approx_distinct",
            (
                F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct")
            ).alias("rel_error"),
            (
                F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
                <= 0.15 * F.col("exact_distinct")
            ).alias("within_tolerance"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Rolling 7-day distinct users: HLL registers merged over a sliding window
# --------------------------------------------------------------------------

_HLL_ROLLING_SQL = f"""
WITH hashed AS (
    SELECT event_type, CAST(ts AS DATE) AS d,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT) AS reg_idx,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 14)) AS BIGINT) AS w
    FROM events
),
daily_regs AS (
    SELECT event_type, d, reg_idx,
           MAX(CASE WHEN w = 0 THEN 57 ELSE 57 - length(bin(w)) END) AS m_day
    FROM hashed GROUP BY event_type, d, reg_idx
),
anchors AS (SELECT DISTINCT event_type, d FROM hashed),
rolled AS (
    SELECT a.event_type, a.d, r.reg_idx, MAX(r.m_day) AS m_j
    FROM anchors a
    JOIN daily_regs r
      ON r.event_type = a.event_type
     AND r.d <= a.d AND r.d >= a.d - 6
    GROUP BY a.event_type, a.d, r.reg_idx
),
folded AS (
    SELECT event_type, d,
           COUNT(*) AS n_registers_hit,
           SUM(CAST((CAST(1 AS BIGINT) << ({_HLL_K} - m_j)) AS DECIMAL(38,0)))
               AS s_present
    FROM rolled GROUP BY event_type, d
),
est AS (
    SELECT event_type, d, n_registers_hit,
           CAST(s_present
                + CAST(({_HLL_M} - n_registers_hit) AS DECIMAL(38,0))
                  * CAST(CAST(1 AS BIGINT) << {_HLL_K} AS DECIMAL(38,0))
                AS DECIMAL(38,0)) AS s_total
    FROM folded
),
raw AS (
    SELECT *,
           {_HLL_ALPHA_M2!r} * CAST(CAST(1 AS BIGINT) << {_HLL_K} AS DOUBLE)
               / CAST(s_total AS DOUBLE) AS e_raw
    FROM est
)
SELECT event_type, d,
       CAST(n_registers_hit AS INT) AS n_registers_hit,
       ROUND(CASE WHEN e_raw <= 2.5 * {_HLL_M}
                   AND n_registers_hit < {_HLL_M}
             THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE)
                                / ({_HLL_M} - n_registers_hit))
             ELSE e_raw END, 2) AS est_distinct_7d
FROM raw
ORDER BY event_type, d
"""


@query("rolling_distinct_users_7d", _HLL_ROLLING_SQL)
def q_rolling_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per (event_type, day) via SLIDING
    HLL register merges — the rolling-distinct metric (weekly active
    users, refreshed daily) that exact COUNT(DISTINCT) makes brutally
    expensive: every anchor day would rescan a week of raw IDs, and
    distinct counts are NOT additive across days so no prefix trick
    works. Registers ARE mergeable by max, so the week's sketch is a
    fold of seven 256-byte daily sketches.

    The merge is expressed as a banded join (anchor day joins register
    days within [d-6, d], same quantized-band shape as
    range_banded_join) over the (types x days x registers) frame —
    already orders of magnitude smaller than the fact. Register sums
    stay exact DECIMAL; the estimate rounds to 2dp (ln-branch
    tolerance, as in hll_distinct_users).

    Scale shape: the fact is scanned ONCE into daily registers (one
    map-side-combinable shuffle); everything after runs on sketch-sized
    data — at 100 TB the daily register table for 1000 groups is
    ~256k rows per day regardless of event volume. A production
    deployment stores daily registers as the incremental state
    (hll_daily_merge's contract) and derives any window — 7d, 28d,
    month-to-date — from the same table without touching raw data."""
    events = load_table(spark, "events", sf_dir)
    hashed, rho = _hll_hashed(events, "event_type", F.col("ts").cast("date").alias("d"))
    daily_regs = hashed.groupBy("event_type", "d", "reg_idx").agg(
        F.max(rho).alias("m_day")
    )
    anchors = hashed.select("event_type", "d").distinct()
    rolled = (
        anchors.alias("a")
        .join(
            daily_regs.alias("r"),
            (F.col("r.event_type") == F.col("a.event_type"))
            & (F.col("r.d") <= F.col("a.d"))
            & (F.col("r.d") >= F.date_sub(F.col("a.d"), 6)),
        )
        .groupBy(
            F.col("a.event_type").alias("event_type"),
            F.col("a.d").alias("d"),
            F.col("r.reg_idx").alias("reg_idx"),
        )
        .agg(F.max("r.m_day").alias("m_j"))
    )
    folded = rolled.groupBy("event_type", "d").agg(
        F.count("*").alias("n_registers_hit"),
        F.sum(_register_term()).alias("s_present"),
    )
    est, estimate = _hll_estimate(folded)
    return (
        est.select(
            "event_type",
            "d",
            F.col("n_registers_hit").cast("int").alias("n_registers_hit"),
            estimate.alias("est_distinct_7d"),
        )
        .orderBy("event_type", "d")
    )
