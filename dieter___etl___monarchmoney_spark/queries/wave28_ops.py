"""Wave 28 (round 5): the remaining FAISS-family quantization tier
(product quantization with ADC lookup scoring), the scalable
substring-search path (trigram posting-list intersection), vocabulary
OOV-rate curation stats, and an exact weighted median computed the
two-phase bucketed way (no segment-sized windows).

Determinism discipline: every floating reduction is a LEFT FOLD over
position order (Spark ``F.aggregate`` / DuckDB ``list_reduce``, the
same IEEE op sequence on both engines), every mean routes through
DECIMAL(38,18) sums, and every ranking carries a unique tie-break —
so hashes match bit-for-bit with no rounding slop in the logic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.pins import pin
from dieter___etl___monarchmoney_spark.registry import query
from dieter___etl___monarchmoney_spark.sources.parquet import load_table

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


def _l2sq_col(vec: Column, cent: list[float]) -> Column:
    """Spark twin of _l2sq_sql: left-fold squared L2 against a centroid
    literal — zip_with preserves position order, aggregate folds left,
    so the IEEE op sequence matches DuckDB's list_reduce exactly."""
    carr = F.array(*[F.lit(float(c)) for c in cent])
    return F.aggregate(
        F.zip_with(vec, carr, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_code(vec: Column, cents: list[list[float]]) -> Column:
    """argmin codeword: array_min over (dist, k) structs — struct
    comparison is lexicographic, so equal distances tie-break on k."""
    return F.array_min(
        F.array(
            *[
                F.struct(_l2sq_col(vec, c).alias("d"), F.lit(k).alias("k"))
                for k, c in enumerate(cents)
            ]
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
    # every partition, so it doubles as the cache fill). The argmin
    # folds stay HOFs on purpose: unrolling the K x D fold chain into
    # codegen'd element_at arithmetic was A/B-measured at 5.6 s vs
    # 1.7 s — Catalyst analysis+codegen of the ~2k-node tree dwarfs the
    # interpreted per-row cost at any plausible codebook size (the
    # const_vec lesson from operators/similarity.py).
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
    score = F.element_at(
        F.array(*[F.lit(d) for d in lut0]), F.col("code0") + 1
    ) + F.element_at(F.array(*[F.lit(d) for d in lut1]), F.col("code1") + 1)
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
