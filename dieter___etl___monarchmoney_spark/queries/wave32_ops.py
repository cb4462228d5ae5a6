"""Wave 32 (round 5): exact distributed percentile bridge (multi-
quantile two-phase), sparse TF-IDF cosine similarity join (the
weighted sibling of the Jaccard near-dup family), nearest as-of join
with tolerance (backward-or-forward), and an in-engine decision-tree
stump (the aggregate-only sibling of logreg_train_weights).

Determinism discipline carried over: money-magnitude quantization at
DECIMAL(18,6), |x|≲1 term quantization at DECIMAL(38,18), unique
tie-breaks on every rank, no in-query ROUND on large doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.pins import pin
from dieter___etl___monarchmoney_spark.registry import query
from dieter___etl___monarchmoney_spark.sources.parquet import load_table

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
        F.explode(F.array(*[F.lit(p) for p in _PCTS])).alias("pct")
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
