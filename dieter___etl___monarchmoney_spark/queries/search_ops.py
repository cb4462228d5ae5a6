"""Search, quantization and in-engine learning over ``embeddings`` and
``documents``: product quantization with ADC scoring, trigram substring
search, reciprocal rank fusion, greedy set cover, kNN label-noise
audits, label centroids, grouped-map transition counts and batch
logistic regression. Every iterative loop collects at most an O(d)
state to the driver.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.functions.literals import const_mat, const_vec
from dieter___etl___monarchmoney_spark.functions.money import (
    MONEY_DECIMAL,
    MONEY_DECIMAL_SQL,
)
from dieter___etl___monarchmoney_spark.operators.similarity import cosine, lsh_signature
from dieter___etl___monarchmoney_spark.pins import pin, scope
from dieter___etl___monarchmoney_spark.queries.llm_pipeline import _dot_sql
from dieter___etl___monarchmoney_spark.registry import query
from dieter___etl___monarchmoney_spark.sources.parquet import load_table


# ==========================================================================
# Grouped-map transitions, label centroids and bitmap distinct
# ==========================================================================

_DEC12 = "decimal(38,12)"


# --------------------------------------------------------------------------
# Grouped-map applyInPandas: per-user event-type transition counts
# --------------------------------------------------------------------------

_TRANSITION_SQL = """
WITH ordered AS (
    SELECT user_id, event_type,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
)
SELECT prev_type, event_type AS next_type,
       CAST(COUNT(*) AS BIGINT) AS n_transitions
FROM ordered
WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
ORDER BY prev_type, next_type
"""


def _transitions(pdf: pd.DataFrame) -> pd.DataFrame:
    # ordered sequential walk of ONE user's timeline; (ts, event_id) is
    # a total order (no ties in the data; event_id breaks any future tie)
    pdf = pdf.sort_values(["ts", "event_id"])
    types = pdf["event_type"].to_numpy()
    if len(types) < 2:
        return pd.DataFrame(
            {"prev_type": pd.Series([], dtype=str),
             "next_type": pd.Series([], dtype=str),
             "n": pd.Series([], dtype="int64")}
        )
    pairs = pd.DataFrame({"prev_type": types[:-1], "next_type": types[1:]})
    out = pairs.groupby(["prev_type", "next_type"]).size().reset_index(name="n")
    return out


@query("event_transition_matrix", _TRANSITION_SQL)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (the empirical Markov chain over
    user timelines) — LAG window over (user, ts, event_id) + one
    bigram aggregate, fully JVM-side.

    Round-8 decision (VERDICT r7 #6, recorded): this computation IS
    window-expressible, so the registered/benched query is the JVM
    form — the grouped-map ``applyInPandas`` walk
    (:func:`transition_matrix_grouped_map`) was the bench's slowest
    non-streaming query (~6.7 s warm at sf0.1, Arrow serialization of
    every event row) while existing only as a lane showcase. The lane
    keeps full coverage as the TWIN: the unit test runs both forms and
    pins them equal (the same §2.10 discipline, with the roles
    swapped). Grouped-map remains the right tool when the per-key walk
    carries state no fixed-width window expresses (multi-step
    lookbacks, resets, compiled/ML per-key models).

    Scale shape: one shuffle on user_id for the window (skew bounded
    by the busiest user's history — same bound as sessionization),
    then a map-side-combinable |types|² aggregate. Counts are exact
    integers end to end."""
    from pyspark.sql.window import Window

    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
        .orderBy("prev_type", "next_type")
    )


def transition_matrix_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grouped-map pandas lane twin of
    :func:`q_event_transition_matrix`:
    ``groupBy(user_id).applyInPandas`` hands each user's full ordered
    timeline to Python, which walks it sequentially and emits local
    bigram counts; a JVM-side aggregate sums the per-user counts.
    Exercised (and pinned equal to the registered JVM form) by
    tests/test_wave13_ops.py — the sanctioned grouped-map Arrow lane,
    kept out of the bench path since round 8."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    local = ev.groupBy("user_id").applyInPandas(
        _transitions, "prev_type string, next_type string, n long"
    )
    return (
        local.groupBy("prev_type", "next_type")
        .agg(F.sum("n").cast("bigint").alias("n_transitions"))
        .orderBy("prev_type", "next_type")
    )


# --------------------------------------------------------------------------
# Mean pooling + pairwise centroid cosine, exact-decimal throughout
# --------------------------------------------------------------------------

_CENTROID_SQL = """
WITH longf AS (
    SELECT label,
           unnest(range(1, len(embedding) + 1)) AS i,
           unnest(embedding) AS x
    FROM embeddings
),
cent AS (
    SELECT label, i,
           CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
               / COUNT(*) AS c
    FROM longf GROUP BY label, i
),
pairs AS (
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(SUM(CAST(a.c * b.c AS DECIMAL(38,12))) AS DOUBLE) AS dot,
           CAST(SUM(CAST(a.c * a.c AS DECIMAL(38,12))) AS DOUBLE) AS na,
           CAST(SUM(CAST(b.c * b.c AS DECIMAL(38,12))) AS DOUBLE) AS nb
    FROM cent a JOIN cent b ON a.i = b.i AND a.label < b.label
    GROUP BY a.label, b.label
)
SELECT label_a, label_b,
       ROUND(dot / (SQRT(na) * SQRT(nb)), 9) AS cosine
FROM pairs
ORDER BY label_a, label_b
"""


@query("label_centroid_similarity", _CENTROID_SQL)
def q_label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean pooling (the embedding-aggregation primitive: per-label
    centroid = per-dimension mean) followed by the pairwise cosine
    between all label centroids — the class-separation diagnostic run
    before trusting labels for curation or sampling.

    Determinism: each per-dimension sum quantizes float32→float64
    values to DECIMAL(38,12) before aggregation (mean pooling is the
    ONE place embedding math must sum across rows, so it gets the
    money-sum treatment); the k×k cosine then operates on identical
    centroid doubles in both engines, with the same product-sum
    quantization across the 64 dims.

    Scale shape: pooling is one posexplode + map-side-combinable
    (label, dim) aggregate — k·d cells out regardless of row count;
    the pairwise stage joins the k·d centroid table to itself on the
    DIMENSION (d-sized join key, k² output), trivially broadcastable.
    At 100 TB only pooling touches the fact; everything after is
    sketch-sized."""
    emb = load_table(spark, "embeddings", sf_dir)
    longf = emb.select(
        "label", F.posexplode("embedding").alias("i0", "x")
    ).select(
        "label",
        (F.col("i0") + 1).alias("i"),
        F.col("x").cast("double").alias("x"),
    )
    cent = longf.groupBy("label", "i").agg(
        (F.sum(F.col("x").cast(_DEC12)).cast("double") / F.count(F.lit(1))).alias("c")
    )
    a = cent.select(
        F.col("label").alias("label_a"), F.col("i").alias("ia"), F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), F.col("i").alias("ib"), F.col("c").alias("cb")
    )
    pairs = (
        a.join(b, (F.col("ia") == F.col("ib")) & (F.col("label_a") < F.col("label_b")))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum((F.col("ca") * F.col("cb")).cast(_DEC12)).cast("double").alias("dot"),
            F.sum((F.col("ca") * F.col("ca")).cast(_DEC12)).cast("double").alias("na"),
            F.sum((F.col("cb") * F.col("cb")).cast(_DEC12)).cast("double").alias("nb"),
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        F.round(
            F.col("dot") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))), 9
        ).alias("cosine"),
    ).orderBy("label_a", "label_b")


# --------------------------------------------------------------------------
# Bitmap-exact distinct counting (the mergeable EXACT alternative to HLL)
# --------------------------------------------------------------------------

_BITMAP_SQL = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@query("bitmap_distinct_users", _BITMAP_SQL)
def q_bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type via Spark's bitmap
    aggregate family (bitmap_bucket_number / bitmap_bit_position /
    bitmap_construct_agg / bitmap_or_agg / bitmap_count): each user id
    maps to (bucket, bit); per (event_type, bucket) partial bitmaps
    OR-combine map-side, and the final count sums popcounts. The
    mergeable-EXACT alternative between COUNT(DISTINCT) (exact,
    re-shuffles raw ids) and HLL (mergeable, approximate — the
    hll_daily_merge family): bitmaps pre-aggregate like a sketch but
    count like the truth, at dense-id memory cost.

    Scale shape: the two-level aggregate ships one ≤4 KiB bitmap per
    (type, bucket) instead of one row per (type, user) — the shuffle
    shrinks by the per-bucket duplication factor; at 100 TB this is
    the standard exact-distinct rollup for dense integer keys (sparse
    or string keys: dictionary-encode first or fall back to HLL). The
    oracle is plain COUNT(DISTINCT) — exactness IS the contract."""
    ev = load_table(spark, "events", sf_dir)
    partial = (
        ev.select(
            "event_type",
            F.bitmap_bucket_number(F.col("user_id")).alias("bucket"),
            F.bitmap_bit_position(F.col("user_id")).alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.bitmap_construct_agg(F.col("pos")).alias("bm"))
    )
    return (
        partial.groupBy("event_type")
        .agg(F.sum(F.bitmap_count(F.col("bm"))).cast("bigint").alias("n_distinct_users"))
        .orderBy("event_type")
    )


# ==========================================================================
# In-engine logistic regression
# ==========================================================================

_LR_ITERS = 3
_LR_RATE = "1.0"
_DEC18 = "decimal(38,18)"


def _lr_iter_sql(k: int) -> str:
    """One unrolled gradient step: margins from w{k-1}, sigmoid
    residuals, per-dimension decimal-quantized gradient sums, update."""
    prev = f"w{k - 1}"
    return f"""
m{k} AS (
    SELECT l.vec_id,
           CAST(SUM(CAST(l.x * w.w AS DECIMAL(38,18))) AS DOUBLE) AS m
    FROM long l JOIN {prev} w USING (j) GROUP BY l.vec_id
),
r{k} AS (
    SELECT y.vec_id, y.y - 1.0 / (1.0 + EXP(-m{k}.m)) AS r
    FROM labels y JOIN m{k} USING (vec_id)
),
g{k} AS (
    SELECT l.j,
           CAST(SUM(CAST(l.x * r.r AS DECIMAL(38,18))) AS DOUBLE)
               / (SELECT n FROM meta) AS g
    FROM long l JOIN r{k} r USING (vec_id) GROUP BY l.j
),
w{k} AS (
    SELECT w.j, w.w + {_LR_RATE} * g.g AS w
    FROM {prev} w JOIN g{k} g USING (j)
)"""


_LOGREG_SQL = (
    """
WITH long AS (
    SELECT vec_id,
           unnest(range(1, len(embedding) + 1)) AS j,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings
),
labels AS (
    SELECT vec_id, CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS y
    FROM embeddings
),
meta AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings),
w0 AS (SELECT DISTINCT j, CAST(0.0 AS DOUBLE) AS w FROM long),"""
    + ",".join(_lr_iter_sql(k) for k in range(1, _LR_ITERS + 1))
    + f""",
mfin AS (
    SELECT l.vec_id,
           CAST(SUM(CAST(l.x * w.w AS DECIMAL(38,18))) AS DOUBLE) AS m
    FROM long l JOIN w{_LR_ITERS} w USING (j) GROUP BY l.vec_id
),
acc AS (
    SELECT CAST(SUM(CASE WHEN (m > 0) = (y = 1.0) THEN 1 ELSE 0 END) AS DOUBLE)
               / (SELECT n FROM meta) AS train_acc
    FROM mfin JOIN labels USING (vec_id)
)
SELECT CAST(w.j AS INT) AS dim_idx,
       w.w AS weight,
       acc.train_acc AS train_acc
FROM w{_LR_ITERS} w CROSS JOIN acc
ORDER BY dim_idx
"""
)


@query("logreg_train_weights", _LOGREG_SQL)
def q_logreg_train_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-gradient logistic regression, {K} fixed steps, trained
    IN-ENGINE: w ← w + lr/n · Σᵢ xᵢ(yᵢ − σ(xᵢ·w)), predicting
    label ≥ 5 from the embedding. Output: the learned weight vector
    plus the training accuracy of the final weights (prediction =
    margin > 0, so the accuracy count never touches a transcendental).

    Determinism: every margin and every gradient component quantizes
    its products to DECIMAL(38,18) before summing (exact, order-free);
    σ runs in IEEE double on identical margin doubles in both engines
    (the ln() precedent: pmi_collocations is driver-green with the
    same cross-engine transcendental discipline); the parity harness
    normalizes both engines' floats to 9dp — ulp-level σ wiggle is
    ~1e-16 per term against a 1e-9 reporting grid.

    Scale shape: each step is (a) one broadcast of the O(d) weight
    vector into a margin aggregate over the long form — map-side
    combinable, vec-cardinality out; (b) one residual join back on
    vec_id; (c) one per-dimension gradient aggregate — d cells out.
    The weight collect between steps is O(d) driver traffic (the
    centroid/query-vector precedent); everything heavy stays in the
    engine. Fixed K keeps the plan static; at 100 TB you'd mini-batch
    by md5-sample per step (sampled_revenue_estimate's bucketing) and
    checkpoint the long form once."""
    emb = load_table(spark, "embeddings", sf_dir)
    n = emb.count()  # bounded driver scalar
    with scope():
        wide = pin(
            emb.select(
                "vec_id",
                F.transform("embedding", lambda x: x.cast("double")).alias("xs"),
                F.when(F.col("label") >= 5, 1.0).otherwise(0.0).alias("y"),
            )
        )
        d = len(wide.select("xs").first()["xs"])  # O(dim)
        long = wide.select(
            "vec_id", "y", F.posexplode("xs").alias("j0", "x")
        ).select("vec_id", "y", (F.col("j0") + 1).alias("j"), "x")

        def margins(w: list[float]):
            # long-form decimal SUM, not an array fold: Spark's decimal
            # ADDITION widens (38,18)+(38,18) → (38,17) per step, but its
            # decimal SUM aggregate keeps the full scale exactly like
            # DuckDB's — so the aggregate mirrors the oracle bit-for-bit
            w_arr = const_vec([float(v) for v in w])
            t = (F.col("x") * F.element_at(w_arr, F.col("j"))).cast(_DEC18)
            return (
                long.select("vec_id", "y", t.alias("t"))
                .groupBy("vec_id")
                .agg(F.sum("t").cast("double").alias("m"), F.max("y").alias("y"))
            )

        w = [0.0] * d
        for _ in range(_LR_ITERS):
            res = margins(w).select(
                "vec_id", (F.col("y") - 1.0 / (1.0 + F.exp(-F.col("m")))).alias("r")
            )
            grad_rows = (
                long.join(res, "vec_id")
                .groupBy("j")
                .agg(
                    (F.sum((F.col("x") * F.col("r")).cast(_DEC18)).cast("double") / n)
                    .alias("g")
                )
                .collect()  # bounded: O(d) weights per step
            )
            g = {r.j: r.g for r in grad_rows}
            w = [w[j] + float(_LR_RATE) * g[j + 1] for j in range(d)]
        acc = (
            margins(w)
            .select(
                F.when((F.col("m") > 0) == (F.col("y") == 1.0), 1)
                .otherwise(0)
                .alias("ok")
            )
            .agg((F.sum("ok") / F.lit(n)).alias("a"))
            .collect()[0]
            .a
        )
    # no explicit rounding on either side: the parity harness
    # normalizes floats to 9dp identically for both engines, and a
    # one-sided ROUND would reintroduce double-rounding asymmetry
    rows = [(j + 1, w[j], float(acc)) for j in range(d)]
    return spark.createDataFrame(
        rows, "dim_idx int, weight double, train_acc double"
    )


# ==========================================================================
# Point-in-time features and kNN label noise
# ==========================================================================

# --------------------------------------------------------------------------
# Point-in-time features (leakage-safe window frame)
# --------------------------------------------------------------------------

_PIT_SQL = f"""
WITH hist AS (
    SELECT user_id, ts, event_id, event_type, value,
           COUNT(*) OVER w AS prior_n_events,
           CAST(SUM(CAST(value AS {MONEY_DECIMAL_SQL})) OVER w AS DOUBLE)
               AS prior_total_value,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                OVER w AS BIGINT) AS prior_n_errors
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id AS example_id, user_id,
       epoch_us(CAST(ts AS TIMESTAMP)) AS label_ts_us,
       CAST(COALESCE(prior_n_events, 0) AS BIGINT) AS prior_n_events,
       COALESCE(prior_total_value, 0.0) AS prior_total_value,
       COALESCE(prior_n_errors, 0) AS prior_n_errors
FROM hist
WHERE event_type = 'purchase'
ORDER BY example_id
"""


@query("pit_training_features", _PIT_SQL)
def q_pit_training_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature assembly for training examples: every
    purchase gets the user's prior event count, prior total value, and
    prior error count computed over ROWS UNBOUNDED PRECEDING .. 1
    PRECEDING — the frame EXCLUDES the example row itself and
    everything after it, so no feature can see the label's timestamp
    or its future (the leakage class that silently inflates offline
    metrics). A user's first purchase gets all-zero features (COALESCE
    over the empty frame), which is itself the correct cold-start
    answer.

    Scale shape: ONE user_id shuffle serves every feature (they share
    the window); the frame is cumulative so state is O(1) per row —
    this is the batch twin of what a feature store's online path
    maintains incrementally, and the as-of union-scan
    (asof_last_signup) generalizes it to cross-table state. Feature
    sums quantize to decimals; timestamps leave as epoch micros."""
    ev = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.count(F.lit(1)).over(w).alias("pn"),
        F.sum(F.col("value").cast(MONEY_DECIMAL)).over(w).cast("double").alias("pv"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .over(w)
        .cast("bigint")
        .alias("pe"),
    )
    return (
        hist.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("example_id"),
            "user_id",
            F.unix_micros("ts").alias("label_ts_us"),
            F.coalesce(F.col("pn"), F.lit(0)).cast("bigint").alias("prior_n_events"),
            F.coalesce(F.col("pv"), F.lit(0.0)).alias("prior_total_value"),
            F.coalesce(F.col("pe"), F.lit(0)).alias("prior_n_errors"),
        )
        .orderBy("example_id")
    )


# --------------------------------------------------------------------------
# kNN label-noise audit (confident-learning-lite, LSH-blocked retrieval)
# --------------------------------------------------------------------------

_NOISE_K = 5
_NOISE_MIN_VOTES = 3
_NOISE_BITS = 8  # LSH signature width for the candidate neighborhood
_NOISE_RADIUS = 2  # multiprobe hamming radius
#: bounded audit batch: the FIRST 100 sample stripes (vec_id % 25 == 0
#: and vec_id < 2500). A QA pass audits a fixed-size batch, so total
#: work is batch × neighborhood — LINEAR in corpus size — instead of
#: (n/25) × neighborhood, which re-grows quadratically no matter how
#: good the retrieval tier is. At sf0.01/sf0.1 every vec_id is under
#: the bound, so the audited set is the full 1-in-25 sample there.
_NOISE_MAX_QUERY_ID = 25 * 100


def _noise_planes():
    from dieter___etl___monarchmoney_spark.operators.similarity import _hyperplanes

    return _hyperplanes(64, _NOISE_BITS, 42)


def _noise_sql() -> str:
    from dieter___etl___monarchmoney_spark.queries.llm_pipeline import _bucket_sql

    planes = _noise_planes()
    return f"""
WITH s AS (
    SELECT vec_id, label, embedding,
           {_bucket_sql('embedding', planes)} AS bucket
    FROM embeddings
),
q AS (
    SELECT vec_id AS query_id, embedding AS qv, label AS own_label,
           bucket AS qb
    FROM s WHERE vec_id % 25 = 0 AND vec_id < {_NOISE_MAX_QUERY_ID}
),
scored AS (
    SELECT q.query_id, q.own_label, s.vec_id, s.label,
           {_dot_sql('s.embedding', 'q.qv')}
           / (sqrt({_dot_sql('s.embedding', 's.embedding')})
              * sqrt({_dot_sql('q.qv', 'q.qv')})) AS similarity
    FROM s, q
    WHERE bit_count(xor(s.bucket, q.qb)) <= {_NOISE_RADIUS}
      AND s.vec_id <> q.query_id
),
topk AS (
    SELECT query_id, own_label, label FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY similarity DESC, vec_id
        ) AS rk FROM scored
    ) WHERE rk <= {_NOISE_K}
),
votes AS (
    SELECT query_id, own_label, label AS voted_label, COUNT(*) AS n_votes
    FROM topk GROUP BY query_id, own_label, label
),
modal AS (
    SELECT query_id, own_label, voted_label, n_votes FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY n_votes DESC, voted_label
        ) AS mrk FROM votes
    ) WHERE mrk = 1
)
SELECT query_id AS vec_id,
       CAST(own_label AS INT) AS own_label,
       CAST(voted_label AS INT) AS neighbor_label,
       CAST(n_votes AS INT) AS n_votes,
       (voted_label <> own_label AND n_votes >= {_NOISE_MIN_VOTES}) AS suspect
FROM modal
ORDER BY vec_id
"""


@query("knn_label_noise_audit", _noise_sql())
def q_knn_label_noise_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit over the ANN retrieval tier: for a
    deterministic BOUNDED audit batch (the first 100 stripes of the
    1-in-25 sample — a QA pass audits a fixed-size batch, so total
    work is batch × neighborhood, linear in corpus size), the k={K}
    nearest neighbors WITHIN the query's LSH multiprobe neighborhood
    (bucket hamming distance ≤ {R} on a {B}-bit signature — the exact
    candidate set ``lsh_ann_topk(multiprobe={R})`` retrieves) vote on
    the label; every audited vector reports its modal neighbor label
    and a ``suspect`` flag (modal ≠ own AND ≥ {V} votes) — the
    confident-learning-style QA pass a curation pipeline runs before
    trusting labels for filtering or mixture weighting.

    Scale shape (the round-7 ``weak`` fix): the old exact scorer was a
    broadcast nested-loop product (n·n/25 scored rows — quadratic, and
    the broadcast side outgrows memory long before 100 TB). Now each
    query explodes into its {P} probe signatures (plan-time literals)
    and candidates come from an EQUI-join on the bucket id — a hash
    join that shuffles/broadcasts on a key, never a nested loop, and
    scores only Σ(bucket size × probes) rows (~{B}-bit buckets ⇒
    ~n/2^{B} per probe). At 100 TB the signature width grows with
    log₂(n) at index-build time to hold bucket occupancy constant and
    the table is written partitioned by bucket so each probe is
    partition-pruned I/O; fixed {B} bits here keeps the oracle twin
    (same planes as list literals) bit-identical. The salted two-phase
    top-k avoids the per-query reducer funnel; ties in similarity
    break on vec_id; modal ties break on the smaller label — total
    orders on both engines."""
    planes = _noise_planes()
    vectors = load_table(spark, "embeddings", sf_dir)
    sig = vectors.withColumn("bucket", lsh_signature(F.col("embedding"), planes))
    # all bit-flip masks with popcount ≤ radius — the multiprobe
    # neighborhood as a plan-time literal (37 masks for 8 bits, r=2)
    masks = [
        m for m in range(1 << _NOISE_BITS) if bin(m).count("1") <= _NOISE_RADIUS
    ]
    probes = (
        sig.filter(
            (F.col("vec_id") % 25 == 0)
            & (F.col("vec_id") < _NOISE_MAX_QUERY_ID)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("label").alias("own_label"),
            F.col("bucket").alias("qb"),
        )
        .withColumn("_mask", F.explode(const_vec(masks)))
        .select(
            "query_id",
            "qv",
            "own_label",
            F.col("qb").bitwiseXOR(F.col("_mask").cast("bigint")).alias("bucket"),
        )
    )
    scored = (
        sig.join(F.broadcast(probes), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "own_label",
            "vec_id",
            "label",
            cosine(F.col("embedding"), F.col("qv")).alias("similarity"),
        )
        .withColumn("_salt", F.pmod(F.hash("vec_id"), F.lit(16)))
    )
    w1 = Window.partitionBy("query_id", "_salt").orderBy(
        F.col("similarity").desc(), "vec_id"
    )
    partial = scored.withColumn("_rn", F.row_number().over(w1)).filter(
        F.col("_rn") <= _NOISE_K
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("similarity").desc(), "vec_id")
    topk = (
        partial.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= _NOISE_K)
        .select("query_id", "own_label", "label")
    )
    votes = topk.groupBy("query_id", "own_label", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    wm = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("label")
    )
    modal = votes.withColumn("mrk", F.row_number().over(wm)).filter(
        F.col("mrk") == 1
    )
    return modal.select(
        F.col("query_id").alias("vec_id"),
        F.col("own_label").cast("int").alias("own_label"),
        F.col("label").cast("int").alias("neighbor_label"),
        F.col("n_votes").cast("int").alias("n_votes"),
        (
            (F.col("label") != F.col("own_label"))
            & (F.col("n_votes") >= _NOISE_MIN_VOTES)
        ).alias("suspect"),
    ).orderBy("vec_id")


# ==========================================================================
# Product quantization, trigram search and weighted medians
# ==========================================================================

# --------------------------------------------------------------------------
# Product quantization + ADC top-k (FAISS PQ tier; SQ8 and IVF are the
# sibling queries embedding_quantization / ivf_ann_topk)
# --------------------------------------------------------------------------

_PQ_M = 2  # subspaces (64-dim vectors -> two 32-dim halves)
_PQ_D = 32  # dims per subspace
_PQ_K = 8  # codewords per subspace


def _l2sq_sql(a: str, b: str, d: int = _PQ_D) -> str:
    """Left-fold squared L2 over ``d`` positions — the DuckDB twin of
    the Spark ``F.aggregate(zip_with(...))`` fold (same op order)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, {d}), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), "
        f"(acc, x) -> acc + x)"
    )


def _pq_assign_sql(tag: str, cents: str) -> str:
    """Per-vector argmin codeword for both subspaces against centroid
    CTE ``cents`` (columns k, c0, c1) — row_number tie-breaks on k."""
    return f"""
{tag} AS (
    SELECT vec_id,
           max(CASE WHEN rn0 = 1 THEN k END) AS code0,
           max(CASE WHEN rn1 = 1 THEN k END) AS code1
    FROM (
        SELECT s.vec_id, c.k,
               row_number() OVER (PARTITION BY s.vec_id
                                  ORDER BY {_l2sq_sql('s.s0', 'c.c0')}, c.k) AS rn0,
               row_number() OVER (PARTITION BY s.vec_id
                                  ORDER BY {_l2sq_sql('s.s1', 'c.c1')}, c.k) AS rn1
        FROM sub s CROSS JOIN {cents} c
    )
    GROUP BY vec_id
)"""


def _pq_mean_sql(m: int) -> str:
    """Refined centroid component means for subspace ``m`` from the
    round-0 assignment — DECIMAL(38,18)-pooled, order-proof."""
    return f"""
mean{m} AS (
    SELECT k, list(c ORDER BY pos) AS mv
    FROM (
        SELECT a0.code{m} AS k, pos,
               CAST(SUM(CAST(val AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS c
        FROM (
            SELECT s.vec_id,
                   unnest(generate_series(1, {_PQ_D})) AS pos,
                   unnest(s.s{m}) AS val
            FROM sub s
        ) v JOIN a0 USING (vec_id)
        GROUP BY 1, 2
    )
    GROUP BY k
)"""


_PQ_SQL = f"""
WITH emb AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
sub AS (
    SELECT vec_id, v[1:{_PQ_D}] AS s0, v[{_PQ_D + 1}:{2 * _PQ_D}] AS s1 FROM emb
),
cents0 AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, s0 AS c0, s1 AS c1
    FROM (SELECT vec_id, s0, s1 FROM sub ORDER BY vec_id LIMIT {_PQ_K})
),
{_pq_assign_sql('a0', 'cents0')},
{_pq_mean_sql(0)},
{_pq_mean_sql(1)},
cents1 AS (
    SELECT i.k,
           COALESCE(m0.mv, i.c0) AS c0,
           COALESCE(m1.mv, i.c1) AS c1
    FROM cents0 i
    LEFT JOIN mean0 m0 ON m0.k = i.k
    LEFT JOIN mean1 m1 ON m1.k = i.k
),
{_pq_assign_sql('a1', 'cents1')},
q AS (SELECT s0 AS q0, s1 AS q1 FROM sub WHERE vec_id = 0),
lut AS (
    SELECT c.k,
           {_l2sq_sql('q.q0', 'c.c0')} AS d0,
           {_l2sq_sql('q.q1', 'c.c1')} AS d1
    FROM cents1 c CROSS JOIN q
)
SELECT a1.vec_id,
       CAST(a1.code0 AS BIGINT) AS code_a,
       CAST(a1.code1 AS BIGINT) AS code_b,
       ROUND(l0.d0 + l1.d1, 9) AS adc_dist
FROM a1
JOIN lut l0 ON l0.k = a1.code0
JOIN lut l1 ON l1.k = a1.code1
ORDER BY l0.d0 + l1.d1, a1.vec_id
LIMIT 10
"""


def _pq_code(vec: Column, cents: list[list[float]]) -> Column:
    """argmin codeword as ONE higher-order expression over the codebook
    literal, so its plan does not grow with K: per codeword, the Spark
    twin of _l2sq_sql (zip_with keeps position order, aggregate folds
    left, so the IEEE op sequence matches DuckDB's list_reduce exactly),
    then array_min over (d, k) structs — struct comparison is
    lexicographic, so equal distances tie-break on the lowest k."""
    return F.array_min(
        F.transform(
            const_mat(cents),
            lambda c, k: F.struct(
                F.aggregate(
                    F.zip_with(vec, c, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                k.alias("k"),
            ),
        )
    )["k"]


def _py_l2sq(a: list[float], b: list[float]) -> float:
    """Driver-side fold in the SAME left-to-right op order as both
    engines' folds — multiplication, not pow, so results are
    bit-identical to the SQL lookup table."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


@query("pq_adc_topk", _PQ_SQL)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance (ADC)
    scoring — the FAISS PQ tier that completes the repo's quantization
    family (SQ8 = embedding_quantization, coarse IVF = ivf_ann_topk):
    vectors split into {m} × {d}-dim subspaces, each trained to a
    {k}-codeword codebook (first-{k} init + one DECIMAL-pooled Lloyd
    round), every vector stored as {m} bytes of codes, and the query
    scored against codes via a {k}×{m} precomputed lookup table.

    This is the 100 TB memory story: the fleet holds 2-byte codes
    (32× compression over float32), the query cost per vector is {m}
    table lookups + adds — no float vector is touched at scan time.
    Driver materialization is codebook-sized (K·d, never data-sized),
    the assignment argmin is an in-engine array fold against centroid
    literals, and the Lloyd mean is ONE (subspace, code, pos)-keyed
    aggregate with map-side combine covering both subspaces. The oracle replays codebook training,
    assignment, and ADC in SQL with identical left-fold arithmetic,
    so the driver row certifies the whole pipeline bit-for-bit.""".format(
        m=_PQ_M, d=_PQ_D, k=_PQ_K
    )
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    # persisted: the split-subspace frame feeds the codebook init, the
    # Lloyd-mean aggregate, AND the final assignment scan — without the
    # pin each of those passes re-reads the parquet and re-runs the
    # slice/cast projection (round 13; the init TakeOrdered computes
    # every partition, so it doubles as the cache fill). The argmin is
    # one transform over the codebook literal, so its plan does not grow
    # with K: analysis and codegen of a K-sized plan dwarf the
    # interpreted per-row cost at any plausible codebook size (the K x D
    # fold chain unrolled into codegen'd element_at arithmetic was
    # A/B-measured at 5.6 s vs 1.7 s in round 13).
    sub = pin(
        emb.select(
            "vec_id",
            F.slice("v", 1, _PQ_D).alias("s0"),
            F.slice("v", _PQ_D + 1, _PQ_D).alias("s1"),
        )
    )
    # codebook init: first K vectors (K-bounded driver collect, the
    # same contract as ivf_ann_topk's centroid materialization)
    init = sub.orderBy("vec_id").limit(_PQ_K).collect()
    cents = [
        [[float(x) for x in r["s0"]] for r in init],
        [[float(x) for x in r["s1"]] for r in init],
    ]
    a0 = sub.select(
        "vec_id",
        "s0",
        "s1",
        _pq_code(F.col("s0"), cents[0]).alias("code0"),
        _pq_code(F.col("s1"), cents[1]).alias("code1"),
    )
    # one Lloyd round: per-(subspace, code, pos) decimal-pooled means,
    # BOTH subspaces in ONE job (round 13; previously one collect per
    # subspace, each recomputing the round-0 assignment): posexplode
    # s0||s1 once — position p < D is subspace 0 — so the argmin codes
    # are evaluated once per row and the shuffle carries 2·K·D partial
    # rows. Per-(m, k, pos) groups and their value multisets are
    # identical to the per-subspace form, and the DECIMAL(38,18) sum is
    # exact/order-free, so the refined codebooks are bit-identical.
    fused = (
        a0.select(
            "code0",
            "code1",
            F.posexplode(F.concat("s0", "s1")).alias("p", "val"),
        )
        .select(
            (F.col("p") / _PQ_D).cast("int").alias("m"),
            F.when(F.col("p") < _PQ_D, F.col("code0"))
            .otherwise(F.col("code1"))
            .alias("k"),
            (F.col("p") % _PQ_D).alias("pos"),
            "val",
        )
        .groupBy("m", "k", "pos")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(38,18)")).cast("double")
                / F.count(F.lit(1))
            ).alias("c")
        )
        .collect()
    )
    by_mk: dict[tuple[int, int], dict[int, float]] = {}
    for r in fused:
        by_mk.setdefault((r["m"], r["k"]), {})[r["pos"]] = r["c"]
    refined = [
        [
            [by_mk[(m, k)][p] for p in sorted(by_mk[(m, k)])]
            if (m, k) in by_mk
            else cents[m][k]
            for k in range(_PQ_K)
        ]
        for m in (0, 1)
    ]
    a1 = sub.select(
        "vec_id",
        _pq_code(F.col("s0"), refined[0]).alias("code0"),
        _pq_code(F.col("s1"), refined[1]).alias("code1"),
    )
    # ADC lookup tables: query subvectors vs refined codebooks, K·M
    # driver-side folds in the same op order as the SQL twin. vec_id 0
    # (the query row) is the lowest id, so it already sits in the init
    # collect — no separate probe job unless the data lacks it.
    qrow = next((r for r in init if r["vec_id"] == 0), None)
    if qrow is None:
        qrow = sub.filter(F.col("vec_id") == 0).collect()[0]
    q0 = [float(x) for x in qrow["s0"]]
    q1 = [float(x) for x in qrow["s1"]]
    lut0 = [_py_l2sq(q0, c) for c in refined[0]]
    lut1 = [_py_l2sq(q1, c) for c in refined[1]]
    score = F.element_at(const_vec(lut0), F.col("code0") + 1) + F.element_at(
        const_vec(lut1), F.col("code1") + 1
    )
    return (
        a1.select(
            "vec_id",
            F.col("code0").cast("bigint").alias("code_a"),
            F.col("code1").cast("bigint").alias("code_b"),
            score.alias("raw"),
        )
        .orderBy("raw", "vec_id")
        .limit(10)
        .select("vec_id", "code_a", "code_b", F.round("raw", 9).alias("adc_dist"))
    )


# --------------------------------------------------------------------------
# Trigram-index substring search (the scalable LIKE '%pat%' path)
# --------------------------------------------------------------------------

_SEARCH_PAT = "merge batch"
_PAT_TRIGRAMS = sorted({_SEARCH_PAT[i : i + 3] for i in range(len(_SEARCH_PAT) - 2)})


@query(
    "trigram_substring_search",
    f"SELECT doc_id FROM documents "
    f"WHERE position('{_SEARCH_PAT}' IN text) > 0 ORDER BY doc_id",
)
def q_trigram_substring_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring search through a character-trigram inverted index —
    the path that replaces the full-scan `document_search` at 100 TB:
    candidates are documents whose trigram posting lists contain ALL
    {n} trigrams of the pattern (posting-list intersection via a
    count-match aggregate), and only candidates pay the exact
    ``contains`` verification. The oracle is the naive full-scan LIKE,
    so a green row certifies the index is lossless (trigram
    containment is a necessary condition — the verify step makes it
    sufficient).

    In-query the pattern-relevant postings are generated by PROBING
    the {n} pattern trigrams per document (one codegen'd ``contains``
    each — round 12; the previous form enumerated EVERY text position
    through an interpreted ``transform`` lambda and discarded all but
    the pattern's trigrams: ~5M interpreted substr evals per pass,
    measured 2.01 s → 0.33 s at sf0.1 with the identical posting set,
    since contains(pt) ⟺ some position generates pt). Each posting is
    emitted at most once per doc by construction, so the old distinct()
    shuffle is gone too (guide §2.4). The shuffle still carries exactly
    the pattern-relevant (doc, trigram) postings and the
    intersection-count + verify stages are unchanged; at scale the
    (trigram → doc) postings are a materialized table maintained
    incrementally and the query touches |pattern| posting lists
    only — which is precisely the probe shape.""".format(
        n=len(_PAT_TRIGRAMS)
    )
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    probe = F.array_compact(
        F.array(
            *[
                F.when(F.col("text").contains(t), F.lit(t))
                for t in _PAT_TRIGRAMS
            ]
        )
    )
    tris = docs.select("doc_id", F.explode(probe).alias("tri"))
    candidates = (
        tris.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("hits"))
        .filter(F.col("hits") == len(_PAT_TRIGRAMS))
        .select("doc_id")
    )
    return (
        docs.join(candidates, "doc_id")
        .filter(F.col("text").contains(_SEARCH_PAT))
        .select("doc_id")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# OOV rate by source (vocabulary coverage curation stat)
# --------------------------------------------------------------------------

_OOV_VOCAB_K = 20

_OOV_SQL = rf"""
WITH words AS (
    SELECT source,
           unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                              t -> t <> '')) AS word
    FROM documents
),
vocab AS (
    SELECT word FROM (
        SELECT word, COUNT(*) AS c FROM words GROUP BY word
        ORDER BY c DESC, word LIMIT {_OOV_VOCAB_K}
    )
)
SELECT w.source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS oov_tokens,
       ROUND(CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 9) AS oov_rate
FROM words w LEFT JOIN vocab v ON v.word = w.word
GROUP BY w.source
ORDER BY w.source
"""


@query("oov_rate_by_source", _OOV_SQL)
def q_oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary token rate per source against the global
    top-{k} vocabulary — the coverage check run before committing to a
    tokenizer vocab (a source with high OOV under the candidate vocab
    will fragment into bytes and blow up its token cost).

    Scale shape: one (source, word) token stream; the vocabulary is a
    count-aggregate top-K (vocab-sized, broadcast back as a left
    join); the OOV flag rides the same stream with a conditional
    partial-agg count. No data-sized window anywhere — the top-K sort
    runs on the word-count table (vocabulary-sized, not
    corpus-sized).""".format(k=_OOV_VOCAB_K)
    docs = load_table(spark, "documents", sf_dir)
    words = docs.select(
        "source",
        F.explode(
            F.array_remove(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), "")
        ).alias("word"),
    )
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "word")
        .limit(_OOV_VOCAB_K)
        .select("word")
        .withColumn("__in_vocab", F.lit(1))
    )
    return (
        words.join(F.broadcast(vocab), "word", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("oov_tokens"),
        )
        .select(
            "source",
            "n_tokens",
            "oov_tokens",
            F.round(
                F.col("oov_tokens").cast("double") / F.col("n_tokens"), 9
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Exact weighted median, two-phase bucketed (no segment-sized windows)
# --------------------------------------------------------------------------

_WMEDIAN_BUCKET = 1000.0

_WMEDIAN_SQL = """
WITH w AS (
    SELECT l_returnflag AS flag, l_extendedprice AS price,
           l_orderkey, l_linenumber,
           CAST(l_quantity AS DECIMAL(38,18)) AS wt
    FROM lineitem
),
cum AS (
    SELECT flag, price,
           SUM(wt) OVER (PARTITION BY flag
                         ORDER BY price, l_orderkey, l_linenumber
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cw,
           SUM(wt) OVER (PARTITION BY flag) AS total
    FROM w
)
SELECT flag, MIN(price) AS weighted_median_price
FROM cum
WHERE cw * 2 >= total
GROUP BY flag
ORDER BY flag
"""


@query("weighted_median_by_segment", _WMEDIAN_SQL)
def q_weighted_median_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median of extended price per return
    flag. Three flags over the whole fact is the worst case for the
    textbook single-window plan (three segment-sized sorted
    partitions), so the Spark side computes it two-phase, the same
    decomposition as operators/prefix.py:

    1. bucket prices (width {b:g}); per-(flag, bucket) weight sums —
       a small partial-agg table;
    2. a window over BUCKETS (hundreds of rows) finds each flag's
       median bucket and the cumulative weight entering it;
    3. only rows of the median bucket are re-scanned and sorted —
       per-(flag, bucket) windows over a sliver of the data.

    The oracle is the naive full-partition cumulative window — a
    different algorithm whose agreement certifies the decomposition.
    Weights accumulate as DECIMAL(38,18), so cumulative sums are
    order-exact in both plans.""".format(b=_WMEDIAN_BUCKET)
    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("decimal(38,18)").alias("wt"),
    )
    return (
        two_phase_weighted_median(
            li, "flag", "price", "wt", ["l_orderkey", "l_linenumber"]
        )
        .withColumnRenamed("weighted_median", "weighted_median_price")
        .orderBy("flag")
    )


def two_phase_weighted_median(
    df: DataFrame,
    segment_col: str,
    value_col: str,
    weight_col: str,
    tiebreak_cols: list[str],
    bucket_width: float = _WMEDIAN_BUCKET,
) -> DataFrame:
    """Exact weighted median per segment via the bucketed two-phase
    decomposition (see q_weighted_median_by_segment). ``weight_col``
    must already be exact-arithmetic (decimal/integer) so cumulative
    sums are order-independent. Returns (segment, weighted_median)."""
    li = df.withColumn(
        "__bucket", F.floor(F.col(value_col) / F.lit(bucket_width))
    )
    bw = li.groupBy(segment_col, "__bucket").agg(
        F.sum(weight_col).alias("__bwt")
    )
    wb = Window.partitionBy(segment_col).orderBy("__bucket")
    bw = bw.select(
        segment_col,
        "__bucket",
        (F.sum("__bwt").over(wb) - F.col("__bwt")).alias("__before"),
        F.sum("__bwt").over(Window.partitionBy(segment_col)).alias("__total"),
        F.sum("__bwt").over(wb).alias("__through"),
    )
    median_bucket = bw.filter(
        (F.col("__through") * 2 >= F.col("__total"))
        & (F.col("__before") * 2 < F.col("__total"))
    ).select(segment_col, "__bucket", "__before", "__total")
    inb = li.join(median_bucket, [segment_col, "__bucket"])
    wrow = Window.partitionBy(segment_col, "__bucket").orderBy(
        value_col, *tiebreak_cols
    )
    return (
        inb.withColumn("__cw", F.col("__before") + F.sum(weight_col).over(wrow))
        .filter(F.col("__cw") * 2 >= F.col("__total"))
        .groupBy(segment_col)
        .agg(F.min(value_col).alias("weighted_median"))
    )


# ==========================================================================
# Hybrid search, set cover and join fan-out
# ==========================================================================

_FTOKS_SQL = r"list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')"

# --------------------------------------------------------------------------
# Reciprocal-rank fusion (lexical ⊕ vector)
# --------------------------------------------------------------------------

_RRF_TERMS = ("dup", "vector", "scan")
_RRF_K = 60
_RRF_TOPN = 20

_RRF_TF_SQL = " + ".join(
    f"len(list_filter({_FTOKS_SQL}, x -> x = '{t}'))" for t in _RRF_TERMS
)

_RRF_SQL = f"""
WITH lex AS (
    SELECT doc_id,
           row_number() OVER (
               ORDER BY ({_RRF_TF_SQL}) DESC, doc_id) AS r_lex
    FROM documents
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
vec AS (
    SELECT e.vec_id AS doc_id,
           row_number() OVER (ORDER BY
               {_dot_sql('e.embedding', 'q.qv')}
               / (sqrt({_dot_sql('e.embedding', 'e.embedding')})
                  * sqrt({_dot_sql('q.qv', 'q.qv')})) DESC,
               e.vec_id) AS r_vec
    FROM embeddings e CROSS JOIN q
)
SELECT l.doc_id,
       CAST(l.r_lex AS BIGINT) AS r_lex,
       CAST(v.r_vec AS BIGINT) AS r_vec,
       ROUND(1.0 / ({_RRF_K} + l.r_lex) + 1.0 / ({_RRF_K} + v.r_vec), 9)
           AS rrf_score
FROM lex l JOIN vec v USING (doc_id)
ORDER BY 1.0 / ({_RRF_K} + l.r_lex) + 1.0 / ({_RRF_K} + v.r_vec) DESC, l.doc_id
LIMIT {_RRF_TOPN}
"""


@query("reciprocal_rank_fusion", _RRF_SQL)
def q_reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of a LEXICAL ranking (total term
    frequency of a fixed query-term set — the scorer under
    `bm25_doc_ranking`'s tf machinery) and a VECTOR ranking (cosine to
    the query embedding, `ann_cosine_topk`'s exact scorer) over the
    shared document id space: RRF = Σ 1/(k + rankᵢ), k={k} — the
    standard hybrid-search merge that needs no score calibration
    because it consumes only RANKS.

    Both input rankings carry unique tie-breaks, so the fused score is
    a sum of two fixed rationals — identical doubles in both engines —
    and the top-{n} cut is rank-deterministic. Scale shape: each leg
    is an independent ranking (lexical: one tf scan; vector: one
    cosine scan against a broadcast query vector); the fusion join is
    id-keyed; at 100 TB each leg would be its own index-backed top-K
    and the fusion cost stays K-sized.""".format(k=_RRF_K, n=_RRF_TOPN)

    docs = load_table(spark, "documents", sf_dir)
    toks = F.array_remove(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), "")
    def term_tf(term: str):
        # factory closure: a 2-arg lambda would be read by PySpark as
        # the (element, index) form, binding the term to the index col
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    tf_total = None
    for t in _RRF_TERMS:
        tf_total = term_tf(t) if tf_total is None else tf_total + term_tf(t)
    lex = docs.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(tf_total.desc(), F.col("doc_id")))
        .cast("bigint")
        .alias("r_lex"),
    )
    emb = load_table(spark, "embeddings", sf_dir)
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cos = cosine(F.col("embedding"), F.col("qv"))
    vec = (
        emb.crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.row_number()
            .over(Window.orderBy(cos.desc(), F.col("vec_id")))
            .cast("bigint")
            .alias("r_vec"),
        )
    )
    rrf = 1.0 / (_RRF_K + F.col("r_lex")) + 1.0 / (_RRF_K + F.col("r_vec"))
    return (
        lex.join(vec, "doc_id")
        .withColumn("rrf_raw", rrf)
        .orderBy(F.col("rrf_raw").desc(), "doc_id")
        .limit(_RRF_TOPN)
        .select(
            "doc_id",
            "r_lex",
            "r_vec",
            F.round("rrf_raw", 9).alias("rrf_score"),
        )
    )


# --------------------------------------------------------------------------
# Greedy set-cover document selection (coverage-maximizing curation)
# --------------------------------------------------------------------------

_COVER_ROUNDS = 5

_COVER_SH_SQL = rf"""
sh AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(tk) - 2, 0)),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
        FROM (SELECT doc_id, {_FTOKS_SQL} AS tk FROM documents)
    )
)"""


def _cover_round_sql(i: int) -> str:
    prev_picks = (
        " UNION ALL ".join(f"SELECT doc_id FROM p{j}" for j in range(1, i))
        or "SELECT NULL AS doc_id WHERE FALSE"
    )
    prev_cov = (
        f"(SELECT shingle FROM sh WHERE doc_id IN ({prev_picks}))"
        if i > 1
        else "(SELECT NULL AS shingle WHERE FALSE)"
    )
    return f"""
g{i} AS (
    SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS gain
    FROM sh s
    WHERE s.shingle NOT IN {prev_cov}
      AND s.doc_id NOT IN ({prev_picks})
    GROUP BY s.doc_id
),
p{i} AS (
    SELECT CAST({i} AS BIGINT) AS round, doc_id, gain
    FROM g{i} ORDER BY gain DESC, doc_id LIMIT 1
)"""


_COVER_SQL = (
    "WITH "
    + _COVER_SH_SQL
    + ","
    + ",".join(_cover_round_sql(i) for i in range(1, _COVER_ROUNDS + 1))
    + "\n"
    + " UNION ALL ".join(
        f"SELECT round, doc_id, gain FROM p{i}" for i in range(1, _COVER_ROUNDS + 1)
    )
    + "\nORDER BY round"
)


@query("set_cover_greedy_selection", _COVER_SQL)
def q_set_cover_greedy_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage curation: {r} rounds, each selecting
    the document that adds the most NOT-YET-COVERED 3-gram shingles
    (ties on doc_id) — the classical (1−1/e)-approximate set-cover
    greedy that diversity-maximizing data selection runs, inverted
    from the dedup family's goal (there: drop overlap; here: chase
    novelty).

    Greedy selection is inherently sequential ACROSS rounds but fully
    parallel WITHIN one, and the per-round work is INCREMENTAL
    residual-gain maintenance, not a full re-aggregate: the posting
    table is aggregated ONCE into a per-doc gain frame (round-1
    gains = shingle counts); after each pick, the winner's
    newly-covered shingles (a small frame — one document's shingles
    minus those already covered) are broadcast-joined against the
    cached postings and the per-doc overlap is SUBTRACTED from the
    gain frame. Newly-covered sets are disjoint across rounds, so
    residual(d) = |shingles(d)| − Σ_r |shingles(d) ∩ new_r| =
    |shingles(d) \\ covered| exactly — the same number the naive
    re-aggregate computes, at the cost of one broadcast semi-join
    scan per round instead of a full posting-table GROUP BY
    (measured 2× on the bench). The driver materializes only the
    1-row winner per round (K-bounded). The oracle unrolls the same
    {r} rounds as chained CTEs.""".format(r=_COVER_ROUNDS)
    from dieter___etl___monarchmoney_spark.operators.dedup import shingles_of

    docs = load_table(spark, "documents", sf_dir)
    # Tokens are PROJECTED into a real column before the shingle
    # transform: lambda bodies are not common-subexpression-eliminated,
    # so an inline token expression re-runs the regex split per window
    # (measured ~10× on this query); shingles_of then builds each
    # window with one slice+array_join (dedup.py's 7×-faster form).
    # array_distinct dedups WITHIN the doc — map-only, so unlike the
    # old explode().distinct() there is no full posting-table shuffle
    # anywhere in the query.
    tk = F.array_remove(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), "")
    # the postings array table and every round's gains frame are read
    # only by later rounds; all are released once the picks are collected
    with scope():
        sh_arr = pin(
            docs.select("doc_id", tk.alias("tk")).select(
                "doc_id", F.array_distinct(shingles_of(F.col("tk"), 3)).alias("sh")
            )
        )
        # exploded postings view — derived lazily from the CACHED array
        # table, so each per-round broadcast join re-reads cache + a
        # map-side explode, never the raw text
        sh = sh_arr.select("doc_id", F.explode("sh").alias("shingle"))
        # round-1 gains: size of the per-doc distinct shingle set — a
        # map-only projection, no aggregate at all
        gains = pin(sh_arr.select("doc_id", F.size("sh").cast("bigint").alias("gain")))
        picked: list[tuple[int, int, int]] = []
        picked_ids: list[int] = []
        for rnd in range(1, _COVER_ROUNDS + 1):
            # gain > 0 mirrors the oracle: a doc with zero uncovered
            # shingles never appears in its per-round GROUP BY, so it can
            # never be picked even as a tie-break winner
            cand = gains.filter(F.col("gain") > 0)
            if picked_ids:
                cand = cand.filter(~F.col("doc_id").isin(picked_ids))
            top = cand.orderBy(F.col("gain").desc(), "doc_id").limit(1).collect()
            if not top:
                break
            doc_id, gain = top[0]["doc_id"], top[0]["gain"]
            picked.append((rnd, doc_id, gain))
            picked_ids.append(doc_id)
            if rnd == _COVER_ROUNDS:
                break
            # shingles the winner covers for the FIRST time this round:
            # its own postings minus everything previous picks covered —
            # a small-small anti-join (≤ rnd documents' shingles total)
            w_sh = sh.filter(F.col("doc_id") == doc_id).select("shingle")
            if len(picked_ids) > 1:
                prev_cov = (
                    sh.filter(F.col("doc_id").isin(picked_ids[:-1]))
                    .select("shingle")
                    .distinct()
                )
                new_sh = w_sh.join(prev_cov, "shingle", "left_anti")
            else:
                new_sh = w_sh
            # residual update: one broadcast semi-join scan of the cached
            # postings (only rows matching the winner's new shingles
            # survive into the aggregate) — never a full re-aggregate
            overlap = (
                sh.join(F.broadcast(new_sh), "shingle")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).cast("bigint").alias("__ov"))
            )
            gains = pin(
                gains.join(overlap, "doc_id", "left")
                .select(
                    "doc_id",
                    (F.col("gain") - F.coalesce(F.col("__ov"), F.lit(0)))
                    .cast("bigint")
                    .alias("gain"),
                )
            )
    return spark.createDataFrame(
        picked, "round bigint, doc_id bigint, gain bigint"
    ).orderBy("round")


# --------------------------------------------------------------------------
# Join fan-out profile across the FK relations
# --------------------------------------------------------------------------

_FANOUT_SQL_PARTS = []
for _rel, _child, _fk, _parent, _pk in (
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
):
    _FANOUT_SQL_PARTS.append(
        f"""SELECT '{_rel}' AS relation,
       CAST(COUNT(*) AS BIGINT) AS n_parents,
       CAST(SUM(CASE WHEN cnt = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS childless_parents,
       CAST(MAX(cnt) AS BIGINT) AS max_fanout,
       ROUND(CAST(SUM(cnt) AS DOUBLE) / COUNT(*), 9) AS mean_fanout
FROM (
    SELECT p.{_pk}, CAST(COUNT(c.{_fk}) AS BIGINT) AS cnt
    FROM {_parent} p LEFT JOIN {_child} c ON c.{_fk} = p.{_pk}
    GROUP BY p.{_pk}
)"""
    )

_FANOUT_SQL = "\nUNION ALL\n".join(_FANOUT_SQL_PARTS) + "\nORDER BY relation"

_FANOUT_RELATIONS = (
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
)


@query("join_fanout_profile", _FANOUT_SQL)
def q_join_fanout_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fan-out profile of the star schema's join relations: per FK
    edge, how many children each parent has (count, childless
    parents, max, mean) — the statistic a join planner (and a
    capacity planner) needs before trusting a 1:N join not to
    explode, and the skew early-warning `hot_key_skew_profile`
    generalized to the schema's edges.

    Per relation: one child-side key aggregate left-joined FROM the
    parent side (childless parents surface as zero counts) feeding a
    single-row summary — integer arithmetic until the mean
    division."""
    out = None
    for rel, child, fk, parent, pk in _FANOUT_RELATIONS:
        c = load_table(spark, child, sf_dir).select(F.col(fk).alias("k"))
        p = load_table(spark, parent, sf_dir).select(F.col(pk).alias("k"))
        per_parent = (
            p.join(c.withColumn("__one", F.lit(1)), "k", "left")
            .groupBy("k")
            .agg(F.count("__one").cast("bigint").alias("cnt"))
        )
        row = per_parent.agg(
            F.lit(rel).alias("relation"),
            F.count(F.lit(1)).cast("bigint").alias("n_parents"),
            F.sum(F.when(F.col("cnt") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("childless_parents"),
            F.max("cnt").cast("bigint").alias("max_fanout"),
            F.round(
                F.sum("cnt").cast("double") / F.count(F.lit(1)), 9
            ).alias("mean_fanout"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("relation")
