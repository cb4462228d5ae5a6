"""Round-4 wave 18: in-engine model training — batch-gradient logistic
regression over the embeddings table, the FOURTH iterative-algorithm
family on the parity surface (BPE: strings, PageRank: graphs, PCA:
linear algebra, this: continuous optimization), with the same
unrolled-CTE oracle discipline.

The task: predict ``label >= 5`` from the 64-dim embedding with K
fixed gradient steps — the minimal honest version of "the engine that
curates the training data can also fit the calibration/quality models
over it" (quality classifiers, contamination probes, sample-weight
models), without pretending to be an ML framework.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.pins import pin, scope
from dieter___etl___monarchmoney_spark.registry import query
from dieter___etl___monarchmoney_spark.sources.parquet import load_table

_LR_ITERS = 3
_LR_RATE = "1.0"
_DEC = "decimal(38,18)"


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
            w_arr = F.array(*[F.lit(float(v)) for v in w])
            t = (F.col("x") * F.element_at(w_arr, F.col("j"))).cast(_DEC)
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
                    (F.sum((F.col("x") * F.col("r")).cast(_DEC)).cast("double") / n)
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
