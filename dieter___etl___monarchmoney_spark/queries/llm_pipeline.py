"""LLM training-data pipeline queries over ``documents`` and
``embeddings``: text analysis, dedup (exact → MinHash LSH), similarity
search, multimodal plumbing, and the Python/Arrow lanes (pandas UDAF,
Arrow scalar UDF, mapInArrow), each pinned equal to a JVM twin.

Oracle-checked wherever DuckDB can express the same computation — which
is almost everything: md5 signatures and list folds cover the text and
dedup surface; SimHash bit votes become per-bit conditional sums over a
hex-parsed hash; LSH bucket ids are sums of sign-bit CASEs over the
seeded hyperplanes embedded as list literals (the planes are plan-time
constants, so the SQL can carry them verbatim). Every float is produced
by the same left-fold op sequence in both engines, so hashes match bit
for bit. Even the mapInPandas media stubs are oracle-checked — the fakes
are deterministic functions of the bytes, so the Arrow round-trip is
hash-verified end to end. The only rows-only query is the HLL vocab
sketch (engine-specific estimator), validated against the exact count
in tests/test_llm_pipeline.py.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from dieter___etl___monarchmoney_spark.functions.literals import const_mat, const_vec
from dieter___etl___monarchmoney_spark.functions.text import (
    BPE_PATTERN,
    STOPWORDS,
    bpe_token_count,
    lang_id,
    punct_count,
    quality_score,
    stopword_hits,
    token_count,
    tokens,
)
from dieter___etl___monarchmoney_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_dedup_pairs,
    neardup_clusters,
    simhash_buckets,
    token_multiset_signature,
)
from dieter___etl___monarchmoney_spark.operators.multimodal import (
    binary_metadata,
    decode_stub,
    feature_extract_stub,
    frame_sample_stub,
    resize_stub,
)
from dieter___etl___monarchmoney_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup_pairs,
    lsh_ann_topk,
)
from dieter___etl___monarchmoney_spark.pins import checkpoint, pin, scope
from dieter___etl___monarchmoney_spark.registry import query
from dieter___etl___monarchmoney_spark.sources.parquet import load_table

# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

_TOKS_SQL = r"string_split_regex(lower(trim(text)), '\s+')"


def _hexparse_sql(expr: str) -> str:
    """DuckDB twin of Spark's conv(hex, 16, 10): fold hex digits into a
    BIGINT (strpos on the digit alphabet, ×16 accumulate)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), "
        f"ch -> CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT))), "
        f"(acc, d) -> acc * 16 + d)"
    )


def _list_lit_sql(vals) -> str:
    """A double[] literal; repr() round-trips each float exactly, so the
    parsed literal equals Spark's F.lit(float(x)) bit for bit."""
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]"


def _dot_sql(a: str, b: str) -> str:
    """Left-fold dot product — same op order as operators.similarity.dot
    (F.aggregate over zip_with), so doubles are engine-identical."""
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        f" x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (acc, v) -> acc + v)"
    )


def _bucket_sql(vec_expr: str, planes) -> str:
    """DuckDB twin of operators.similarity.lsh_signature: bit i set iff
    vec · plane_i > 0, planes embedded as literals."""
    terms = [
        f"CASE WHEN {_dot_sql(vec_expr, _list_lit_sql(p))} > 0"
        f" THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")"


def _stop_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"len(list_distinct(list_filter({_TOKS_SQL}, t -> t IN ({words}))))"
    )


@query(
    "text_token_stats",
    rf"""
    SELECT doc_id,
           len({_TOKS_SQL}) AS n_tokens,
           len(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_bpe_tokens,
           length(text) AS n_chars
    FROM documents
    """,
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish sub-word tokens +
    chars, per document — the budget inputs for tokenizer-load
    estimation."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_token_count("text").alias("n_bpe_tokens"),
        F.length("text").alias("n_chars"),
    )


@query(
    "text_language_id",
    f"""
    SELECT doc_id,
           CASE
             WHEN {_stop_sql('en')} >= GREATEST({_stop_sql('es')}, {_stop_sql('de')}, {_stop_sql('fr')})
                  AND {_stop_sql('en')} > 0 THEN 'en'
             WHEN {_stop_sql('es')} >= GREATEST({_stop_sql('en')}, {_stop_sql('de')}, {_stop_sql('fr')})
                  AND {_stop_sql('es')} > 0 THEN 'es'
             WHEN {_stop_sql('de')} >= GREATEST({_stop_sql('en')}, {_stop_sql('es')}, {_stop_sql('fr')})
                  AND {_stop_sql('de')} > 0 THEN 'de'
             WHEN {_stop_sql('fr')} >= GREATEST({_stop_sql('en')}, {_stop_sql('es')}, {_stop_sql('de')})
                  AND {_stop_sql('fr')} > 0 THEN 'fr'
             ELSE 'und'
           END AS lang_guess,
           {_stop_sql('en')} AS en_hits
    FROM documents
    """,
)
def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: distinct stopword hits per language,
    argmax with fixed tie priority."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        lang_id("text").alias("lang_guess"),
        stopword_hits("text", "en").alias("en_hits"),
    )


#: DuckDB twin of functions.text.quality_score — shared with the
#: composed curation queries (queries/curation.py)
_QUALITY_SQL = rf"""(
           0.4 * LEAST(CAST(len({_TOKS_SQL}) AS DOUBLE) / 64.0, 1.0)
         + 0.4 * LEAST(CAST({_stop_sql('en')} AS DOUBLE) / 10.0, 1.0)
         + 0.2 * (1.0 - LEAST(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
                              / GREATEST(CAST(len({_TOKS_SQL}) AS DOUBLE), 1.0), 1.0))
)"""


@query(
    "text_quality_scores",
    rf"""
    SELECT doc_id,
           {_QUALITY_SQL} AS quality,
           len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
    FROM documents
    """,
)
def q_text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring from length/stopword/punctuation ratios."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        quality_score("text").alias("quality"),
        punct_count("text").alias("n_punct"),
    )


@query(
    "distinct_token_stats",
    rf"""
    SELECT COUNT(DISTINCT tok) AS n_distinct_tokens,
           COUNT(*) AS n_total_tokens
    FROM (SELECT unnest({_TOKS_SQL}) AS tok FROM documents)
    """,
)
def q_distinct_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary stats: exact distinct token count (oracle) —
    the approx variant (HLL approx_count_distinct, the 100 TB path) is
    rows-only below."""
    docs = load_table(spark, "documents", sf_dir)
    from dieter___etl___monarchmoney_spark.functions.text import tokens

    toks = docs.select(F.explode(tokens("text")).alias("tok"))
    return toks.agg(
        F.countDistinct("tok").alias("n_distinct_tokens"),
        F.count(F.lit(1)).alias("n_total_tokens"),
    )


@query("approx_vocab_sketch")  # HLL sketch: engine-specific -> rows-only
def q_approx_vocab_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog vocabulary estimate — the sketch path that replaces
    COUNT(DISTINCT) at 100 TB (no giant distinct shuffle; mergeable
    partials). rsd=0.02 ⇒ ~2% error bound."""
    docs = load_table(spark, "documents", sf_dir)
    from dieter___etl___monarchmoney_spark.functions.text import tokens

    toks = docs.select(F.explode(tokens("text")).alias("tok"))
    return toks.agg(
        F.approx_count_distinct("tok", rsd=0.02).alias("approx_distinct_tokens")
    )


# --------------------------------------------------------------------------
# Dedup
# --------------------------------------------------------------------------


@query(
    "dedup_exact_groups",
    r"""
    SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
           MIN(doc_id) AS survivor_id, COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 fingerprint of normalized text, one shuffle."""
    docs = load_table(spark, "documents", sf_dir)
    return exact_dedup_groups(docs, "text", "doc_id")


@query(
    "dedup_token_multiset",
    rf"""
    SELECT md5(array_to_string(list_sort({_TOKS_SQL}), ' ')) AS signature,
           MIN(doc_id) AS survivor_id, COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_token_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words dedup: catches word-order-shuffled duplicates."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.withColumn("signature", token_multiset_signature("text"))
        .groupBy("signature")
        .agg(F.min("doc_id").alias("survivor_id"), F.count(F.lit(1)).alias("n_docs"))
    )


_MINHASH_SIG_SQL = rf"""
    WITH docs AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
                                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                   AS shingle
        FROM docs
    ),
    sig AS (
        SELECT doc_id,
               {", ".join(f"min(substr(md5(shingle), {(j - 1) * 8 + 1}, 8)) AS mh{j}" for j in range(1, 5))},
               {", ".join(f"min(substr(md5('x' || shingle), {(j - 5) * 8 + 1}, 8)) AS mh{j}" for j in range(5, 9))}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, '0' || '|' || mh1 || '|' || mh2 AS band_key FROM sig
        UNION ALL SELECT doc_id, '1' || '|' || mh3 || '|' || mh4 FROM sig
        UNION ALL SELECT doc_id, '2' || '|' || mh5 || '|' || mh6 FROM sig
        UNION ALL SELECT doc_id, '3' || '|' || mh7 || '|' || mh8 FROM sig
    )
"""


#: version tag for the shared MinHash-LSH candidate-pair table — bump
#: when the signature scheme (k, bands, hash) or schema changes.
_MINHASH_PAIR_TAG = "k8_b4r2_v1"


def shared_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH candidate-pair table ``(doc_a, doc_b)`` (k=8
    signatures, 4 bands × 2 rows), materialized once per corpus and
    read from disk by every consumer (`minhash_lsh_candidates`,
    `neardup_clusters`, `dedup_survivors`, `component_size_distribution`,
    `corpus_curation`, `pipeline_stage_funnel`, `minhash_error_audit`) —
    the same build-the-edges-ONCE production shape as
    corpus_ops.shared_jaccard_edges, for the OTHER candidate-generation
    algorithm. Cache keyed on a content fingerprint of
    documents.parquet + a semantics tag (sources/materialize.py);
    write is two-phase."""
    from dieter___etl___monarchmoney_spark.sources.materialize import (
        shared_materialized,
    )

    return shared_materialized(
        spark,
        sf_dir,
        f"minhash_pairs_{_MINHASH_PAIR_TAG}",
        ("documents",),
        lambda: minhash_lsh_dedup_pairs(
            load_table(spark, "documents", sf_dir), "text", "doc_id"
        ),
    )


@query(
    "minhash_lsh_candidates",
    _MINHASH_SIG_SQL
    + """
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b USING (band_key)
    WHERE a.doc_id < b.doc_id
    """,
)
def q_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (k=8, md5-derived) + LSH banding (4 bands × 2 rows):
    candidate near-dup pairs via band-bucket self-join — the n²-free
    dedup path. Signatures match the oracle bit for bit. Reads the
    shared materialized pair table (built on first use)."""
    return shared_minhash_pairs(spark, sf_dir)


#: transitive closure of the MinHash-LSH candidate pairs — DuckDB's
#: recursive CTE plays the oracle for Spark's min-label propagation
_CLUSTERS_SQL = (
    "WITH RECURSIVE "
    + _MINHASH_SIG_SQL.lstrip().removeprefix("WITH ")
    + """,
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b USING (band_key)
        WHERE a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT doc_a AS v, doc_b AS u FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    reach(v, u) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.v, e.u FROM reach r JOIN edges e ON r.u = e.v
    )
    SELECT v AS doc_id, MIN(u) AS cluster_id FROM reach GROUP BY v
    """
)


@query("neardup_clusters", _CLUSTERS_SQL)
def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs → connected components: every document assigned
    the min doc id reachable through the MinHash-LSH pair graph (the
    cluster survivor). The dedup materialization step: keep
    ``doc_id == cluster_id``, drop the rest. Pairs come from the
    shared materialized table, not a per-query recompute."""
    docs = load_table(spark, "documents", sf_dir)
    return neardup_clusters(docs, shared_minhash_pairs(spark, sf_dir), "doc_id")


_SURVIVORS_SQL = f"""
    SELECT cluster_id,
           MAX(j.n_chars) AS best_n_chars,
           MIN(CASE WHEN rnk = 1 THEN j.doc_id END) AS survivor_id,
           COUNT(*) AS cluster_size
    FROM (
        SELECT a.doc_id, a.cluster_id, d.n_chars,
               ROW_NUMBER() OVER (PARTITION BY a.cluster_id
                                  ORDER BY d.n_chars DESC, a.doc_id) AS rnk
        FROM ({_CLUSTERS_SQL}) a
        JOIN documents d ON a.doc_id = d.doc_id
    ) j
    GROUP BY cluster_id
"""


@query("dedup_survivors", _SURVIVORS_SQL)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's actual deliverable: one SURVIVOR per
    near-dup cluster under an explicit keep-policy — longest document
    wins, smallest doc_id breaks ties (policy is a (quality, id) sort
    key; swap in any score column).

    Spark side needs no window at all: join the cluster assignment to
    the corpus and take ``max(struct(n_chars, -doc_id, …))`` per
    cluster — a plain partial-aggregable MAX, one shuffle on
    cluster_id, no per-cluster sort. The oracle keeps the textbook
    ROW_NUMBER formulation; both must pick identical survivors because
    the (n_chars DESC, doc_id ASC) keep-policy is a total order.
    Pairs come from the shared materialized table."""
    docs = load_table(spark, "documents", sf_dir)
    assigned = neardup_clusters(
        docs, shared_minhash_pairs(spark, sf_dir), "doc_id"
    )
    j = assigned.join(docs.select("doc_id", "n_chars"), "doc_id")
    return (
        j.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.max(
                F.struct(
                    F.col("n_chars"),
                    (-F.col("doc_id")).alias("neg_id"),
                    F.col("doc_id"),
                )
            ).alias("m"),
        )
        .select(
            "cluster_id",
            F.col("m.n_chars").alias("best_n_chars"),
            F.col("m.doc_id").alias("survivor_id"),
            "cluster_size",
        )
    )


_SIMHASH_SQL = f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
    hs AS (SELECT doc_id, {_hexparse_sql("substr(md5(tok), 1, 8)")} AS h FROM toks),
    votes AS (
        SELECT doc_id,
               {', '.join(f"SUM(CASE WHEN (h & {1 << i}) != 0 THEN 1 ELSE -1 END) AS v{i}" for i in range(32))}
        FROM hs GROUP BY doc_id
    ),
    sigs AS (
        SELECT doc_id,
               ({' + '.join(f"CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END" for i in range(32))})
                   AS simhash
        FROM votes
    )
    SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS survivor_id
    FROM sigs GROUP BY simhash
"""


@query("simhash_buckets", _SIMHASH_SQL)
def q_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup buckets (hamming-0). The oracle reproduces the
    bit votes as 32 conditional sums over a hex-parsed per-token hash —
    signatures match exactly."""
    docs = load_table(spark, "documents", sf_dir)
    return simhash_buckets(docs, "text", "doc_id")


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (acc, v) -> acc + v)"
)


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        load_table(spark, "embeddings", sf_dir)
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .collect()[0]
    )
    return [float(x) for x in row["embedding"]]


@query(
    "ann_cosine_topk",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           {_DOT.format(a='e.embedding', b='q.qv')}
           / (sqrt({_DOT.format(a='e.embedding', b='e.embedding')})
              * sqrt({_DOT.format(a='q.qv', b='q.qv')})) AS similarity
    FROM embeddings e, q
    ORDER BY similarity DESC, e.vec_id
    LIMIT 10
    """,
)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k against the vec_id=0 query vector.
    Dot products fold left-to-right in both engines → bit-identical."""
    vectors = load_table(spark, "embeddings", sf_dir)
    return cosine_topk(vectors, _query_vec(spark, sf_dir), k=10)


def _planes_6x64():
    from dieter___etl___monarchmoney_spark.operators.similarity import _hyperplanes

    return _hyperplanes(64, 6, 42)


def _ann_lsh_sql() -> str:
    planes = _planes_6x64()
    # multiprobe=1 on 6 bits: the query's bucket plus its 6 one-bit flips
    probes = ", ".join(
        ["qb"] + [f"xor(qb, CAST({1 << i} AS BIGINT))" for i in range(6)]
    )
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    qsig AS (SELECT {_bucket_sql('qv', planes)} AS qb FROM q),
    cand AS (
        SELECT e.vec_id, e.embedding FROM embeddings e, qsig
        WHERE {_bucket_sql('e.embedding', planes)} IN ({probes})
    )
    SELECT c.vec_id,
           {_dot_sql('c.embedding', 'q.qv')}
           / (sqrt({_dot_sql('c.embedding', 'c.embedding')})
              * sqrt({_dot_sql('q.qv', 'q.qv')})) AS similarity
    FROM cand c, q
    ORDER BY similarity DESC, c.vec_id LIMIT 10
    """


@query("ann_lsh_topk", _ann_lsh_sql())
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (scale path for ANN). The seeded
    hyperplanes are plan-time constants, so the oracle embeds them as
    list literals and reproduces bucket ids and similarities exactly."""
    vectors = load_table(spark, "embeddings", sf_dir)
    return lsh_ann_topk(vectors, _query_vec(spark, sf_dir), k=10, bits=6, multiprobe=1)


def _neardup_sql() -> str:
    planes = _planes_6x64()
    return f"""
    WITH s AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(x AS DOUBLE) / sqrt({_dot_sql('embedding', 'embedding')})) AS unit,
               {_bucket_sql('embedding', planes)} AS bucket
        FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_dot_sql('a.unit', 'b.unit')} AS similarity
    FROM s a JOIN s b USING (bucket)
    WHERE a.vec_id < b.vec_id AND {_dot_sql('a.unit', 'b.unit')} >= 0.9
    """


@query("embedding_neardup_pairs", _neardup_sql())
def q_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH bucket self-join + exact
    verify, oracle-checked end to end (unit-normalization and the pair
    dot use the same fold order in both engines)."""
    vectors = load_table(spark, "embeddings", sf_dir)
    return embedding_neardup_pairs(vectors, threshold=0.9, bits=6)


@query(
    "embedding_centroids_by_label",
    """
    WITH pos AS (SELECT unnest(generate_series(1, 64)) AS pos),
    ex AS (
        SELECT e.label, p.pos,
               CAST(e.embedding[p.pos] AS DOUBLE) AS v
        FROM embeddings e CROSS JOIN pos p
    )
    SELECT label, pos,
           ROUND(SUM(v) / COUNT(*), 6) AS centroid
    FROM ex GROUP BY label, pos
    """,
)
def q_embedding_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class mean embedding (the centroid table behind IVF training,
    cluster diagnostics, and nearest-centroid classification), flat as
    (label, dimension, value) rows. The mean is rounded to 6dp: double
    summation order differs between engines (and across AQE re-plans) by
    ~1e-15 relative, vs a 1e-6 rounding quantum — deterministic with a
    nine-order-of-magnitude margin. (DECIMAL would be exact, but DuckDB's
    FLOAT→DECIMAL cast scales in float arithmetic and corrupts the 8th
    digit, so decimal cannot cross-check float inputs.)

    Scale shape: posexplode fans each vector into d rows, but the
    groupBy(label, pos) partial-aggregates map-side, so the shuffle
    carries at most |labels| x d rows PER MAP TASK regardless of corpus
    size — centroids over 100 TB of vectors move megabytes.
    """
    vectors = load_table(spark, "embeddings", sf_dir)
    ex = vectors.select("label", F.posexplode("embedding").alias("pos0", "v"))
    return (
        ex.groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.round(
                F.sum(F.col("v").cast("double")) / F.count(F.lit(1)), 6
            ).alias("centroid")
        )
    )


@query(
    "nearest_centroid_confusion",
    """
    WITH pos AS (SELECT unnest(generate_series(1, 64)) AS pos),
    cent AS (
        SELECT e.label, p.pos,
               ROUND(SUM(CAST(e.embedding[p.pos] AS DOUBLE)) / COUNT(*), 6) AS c
        FROM embeddings e CROSS JOIN pos p
        GROUP BY e.label, p.pos
    ),
    dist AS (
        SELECT e.vec_id, e.label AS true_label, c.label AS cand,
               SUM((CAST(e.embedding[c.pos] AS DOUBLE) - c.c) ** 2) AS d2
        FROM embeddings e CROSS JOIN cent c
        GROUP BY e.vec_id, e.label, c.label
    ),
    assigned AS (
        SELECT vec_id, true_label, cand,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY d2, cand
               ) AS rn
        FROM dist
    )
    SELECT true_label, cand AS assigned_label, COUNT(*) AS n_vectors
    FROM assigned WHERE rn = 1
    GROUP BY true_label, cand
    """,
)
def q_nearest_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification audit: assign every vector to its
    closest per-label mean embedding (L2, ties to the lowest label) and
    report the label-vs-assigned confusion counts — the standard check
    for label quality / cluster separation before training on weak
    labels.

    Scale shape: centroids are computed in-engine (the map-side-combined
    aggregate from embedding_centroids_by_label), and the tiny
    labels x dims result ships back into the plan as one nested-array
    literal (one round trip, one folded literal) evaluated by
    higher-order functions — so the assignment pass is a single scan
    with zero joins and zero shuffles before the final
    |labels|^2-row aggregate. Centroids are rounded to 6dp (see
    embedding_centroids_by_label); distances stay unrounded — argmin
    only flips if two centroids are equidistant to ~1e-15, far inside
    the rounding determinism margin.
    """
    vectors = load_table(spark, "embeddings", sf_dir)
    ex = vectors.select("label", F.posexplode("embedding").alias("pos0", "v"))
    cent_flat = ex.groupBy("label", "pos0").agg(
        F.round(F.sum(F.col("v").cast("double")) / F.count(F.lit(1)), 6).alias("c")
    )
    cent_rows = (
        cent_flat.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos0", "c"))).alias("pc"))
        .orderBy("label")
        .collect()
    )
    labels = [r["label"] for r in cent_rows]
    mat = [[p["c"] for p in r["pc"]] for r in cent_rows]

    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d2s = F.transform(
        const_mat(mat),
        lambda c: F.aggregate(
            F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    # first index of the min → ties to the lowest label (labels sorted)
    idx = F.array_position(d2s, F.array_min(d2s)).cast("int")
    assigned = F.element_at(const_vec(labels), idx)
    return (
        vectors.select(F.col("label").alias("true_label"), assigned.alias("assigned_label"))
        .groupBy("true_label", "assigned_label")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


# --------------------------------------------------------------------------
# Multimodal plumbing
# --------------------------------------------------------------------------


@query(
    "multimodal_metadata",
    r"""
    WITH b AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 4 = 0 THEN '\x89\x50\x4E\x47'::BLOB
                     WHEN doc_id % 4 = 1 THEN '\xFF\xD8\xFF\xE0'::BLOB
                     WHEN doc_id % 4 = 2 THEN 'RIFF'::BLOB
                     ELSE ''::BLOB END) || encode(text) AS blob
        FROM documents
    )
    SELECT doc_id, octet_length(blob) AS n_bytes,
           CASE WHEN substring(hex(blob), 1, 8) = '89504E47' THEN 'png'
                WHEN substring(hex(blob), 1, 4) = 'FFD8' THEN 'jpeg'
                WHEN substring(hex(blob), 1, 8) = '52494646' THEN 'riff'
                ELSE 'unknown' END AS format
    FROM b
    """,
)
def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata without decode (JVM-only): documents' text
    encoded to bytes plays the opaque media blob, with REAL PNG/JPEG/RIFF
    magic bytes prepended by doc_id stripe so the magic-byte sniff is
    driver-exercised non-degenerately (the round-7 bug — a UTF-8 string
    cast that could never match non-ASCII magic — would turn every
    `format` 'unknown' and go red here; the oracle reproduces the sniff
    over hex of the same synthesized blobs)."""
    docs = load_table(spark, "documents", sf_dir)
    magic = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(bytes([0x89, 0x50, 0x4E, 0x47])))
        .when(F.col("doc_id") % 4 == 1, F.lit(bytes([0xFF, 0xD8, 0xFF, 0xE0])))
        .when(F.col("doc_id") % 4 == 2, F.lit(b"RIFF"))
        .otherwise(F.lit(b""))
    )
    docs = docs.withColumn(
        "blob", F.concat(magic, F.encode(F.col("text"), "UTF-8"))
    )
    return binary_metadata(docs, "blob").select("doc_id", "n_bytes", "format")


@query(
    "multimodal_decode_fake",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 AS INT) AS width,
           CAST(octet_length(encode(text)) % 480 AS INT) AS height,
           'fake' AS format
    FROM documents
    """,
)
def q_multimodal_decode_fake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode plumbing with the deterministic fake decoder
    (real decode stubbed — no media libs in this container). The fake is
    a pure function of the byte length, so even this pandas path is
    oracle-checked — the whole multimodal surface is hash-verified, not
    just row-counted."""
    docs = load_table(spark, "documents", sf_dir).withColumn(
        "blob", F.encode(F.col("text"), "UTF-8")
    )
    return decode_stub(docs, "blob", "doc_id", fake=True)


@query(
    "multimodal_feature_extract",
    f"""
    SELECT doc_id, i - 1 AS dim,
           CAST({_hexparse_sql("substr(md5(text), 2*i-1, 2)")} AS DOUBLE) / 255.0
               AS feat
    FROM documents CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i)
    """,
)
def q_multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction through the REAL Arrow/pandas path, with the
    md5-derived fake extractor — the pandas-produced vector is checked
    element-wise against a pure-SQL oracle, proving the mapInPandas
    plumbing (batching, schema, value marshalling) is lossless."""
    docs = load_table(spark, "documents", sf_dir).withColumn(
        "blob", F.encode(F.col("text"), "UTF-8")
    )
    feats = feature_extract_stub(docs, "blob", "doc_id", dim=8, fake=True)
    return feats.select(
        "doc_id", F.posexplode("embedding").alias("dim", "feat")
    )


@query(
    "multimodal_frame_sample",
    """
    WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
    f AS (SELECT doc_id, greatest(n // 32, 1) AS n_frames, n FROM b)
    SELECT doc_id,
           CAST(unnest(generate_series(0, n_frames - 1, 10)) AS INT) AS frame_no,
           n AS n_bytes
    FROM f
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled frame —
    the 1→N shape through mapInPandas, oracle-checked against a
    generate_series expansion of the same deterministic fake."""
    docs = load_table(spark, "documents", sf_dir).withColumn(
        "blob", F.encode(F.col("text"), "UTF-8")
    )
    return frame_sample_stub(docs, "blob", "doc_id", every_n=10, fake=True)


@query(
    "multimodal_resize",
    """
    WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
    d AS (SELECT doc_id, greatest(n % 640, 1) AS w, greatest(n % 480, 1) AS h FROM b),
    s AS (SELECT doc_id, w, h, least(256.0 / greatest(w, h), 1.0) AS sc FROM d)
    SELECT doc_id,
           CAST(trunc(w * sc) AS INT) AS width,
           CAST(trunc(h * sc) AS INT) AS height,
           CAST(trunc(w * sc * h * sc * 3) AS BIGINT) AS n_bytes
    FROM s
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize plumbing (fake dims), clamped to 256.
    The oracle multiplies in the SAME left-to-right order as the pandas
    expression, so the truncated output bytes match bit for bit."""
    docs = load_table(spark, "documents", sf_dir).withColumn(
        "blob", F.encode(F.col("text"), "UTF-8")
    )
    return resize_stub(docs, "blob", "doc_id", max_side=256, fake=True)


@query(
    "exact_dedup_removed",
    r"""
    SELECT doc_id FROM documents
    EXCEPT ALL
    SELECT MIN(doc_id) AS doc_id
    FROM documents
    GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
    """,
)
def q_exact_dedup_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DROP side of exact dedup — every doc that is NOT its
    fingerprint group's survivor — via the set-difference operator
    (`exceptAll`), the one relational set op the reference never needed
    (SURVEY.md §2.7 'No intersect/except') but a user of the engine
    will reach for.

    Scale shape: exceptAll plans as a hash aggregation on the id with
    count subtraction — one shuffle on doc_id for each side, no join
    explosion; the survivor side is the already-tiny min-per-group
    aggregate."""
    docs = load_table(spark, "documents", sf_dir)
    survivors = exact_dedup_groups(docs, "text", "doc_id").select(
        F.col("survivor_id").alias("doc_id")
    )
    return docs.select("doc_id").exceptAll(survivors)


def _ann_recall_sql() -> str:
    """DuckDB twin of the WHOLE recall audit (r7 — was rows-only): the
    scored frame is the same bucket-hamming + left-fold cosine scan
    (planes as literals, hamming via bit_count(xor(...))), the exact
    baseline and each multiprobe radius are top-10s over it, and the
    IVF candidate set reuses the full seeded+Lloyd oracle that already
    backs ivf_ann_topk (nested as a WITH subquery). n_hits is then a
    plain intersection count per method."""
    from dieter___etl___monarchmoney_spark.queries.scale_ops import _ivf_sql

    planes = _planes_6x64()
    cos = (
        f"{_dot_sql('e.embedding', 'q.qv')}"
        f" / (sqrt({_dot_sql('e.embedding', 'e.embedding')})"
        f" * sqrt({_dot_sql('q.qv', 'q.qv')}))"
    )
    lsh_ctes = ",".join(
        f"""
    lsh{r} AS (SELECT vec_id FROM scored WHERE probe_radius <= {r}
               ORDER BY similarity DESC, vec_id LIMIT 10)"""
        for r in (1, 2, 3, 6)
    )
    lsh_rows = " UNION ALL ".join(
        f"""SELECT 'lsh_multiprobe{r}' AS method,
               (SELECT COUNT(*) FROM lsh{r} JOIN exact10 USING (vec_id)) AS n_hits"""
        for r in (1, 2, 3, 6)
    )
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    qsig AS (SELECT {_bucket_sql('qv', planes)} AS qb FROM q),
    scored AS (
        SELECT e.vec_id,
               bit_count(xor({_bucket_sql('e.embedding', planes)}, s.qb)) AS probe_radius,
               {cos} AS similarity
        FROM embeddings e, q, qsig s
    ),
    exact10 AS (SELECT vec_id FROM scored ORDER BY similarity DESC, vec_id LIMIT 10),
    ivf10 AS (SELECT vec_id FROM ({_ivf_sql()}) ivf),
    {lsh_ctes},
    hits AS (
        SELECT 'ivf_nprobe2' AS method,
               (SELECT COUNT(*) FROM ivf10 JOIN exact10 USING (vec_id)) AS n_hits
        UNION ALL {lsh_rows}
    )
    SELECT method, 10 AS k, CAST(n_hits AS INT) AS n_hits,
           n_hits / 10.0 AS recall
    FROM hits
    """


@query("ann_recall_audit", _ann_recall_sql())
def q_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of both approximate ANN paths against the exact
    brute-force cosine top-10: IVF (nprobe=2) plus the WHOLE LSH
    multiprobe curve (radius 1/2/3/6) — the recall-vs-cost knob
    measured, not asserted (0.2 -> 1.0 at sf0.01 as the probe radius
    widens). Oracle-backed as of r7 (was rows-only): the DuckDB twin
    recomputes the scored scan, the exact top-10, every multiprobe
    top-10, and the IVF probe (reusing ivf_ann_topk's Lloyd oracle),
    then intersects — so the recall numbers themselves are now
    hash-checked, completing the validation family next to the sketch
    audits (percentile / approx-distinct). The unit test still pins the
    IVF floor and the monotone multiprobe curve.

    Scale shape: the exact baseline and the ENTIRE multiprobe curve
    derive from one shared scored frame (`lsh_scored_candidates` —
    per-vector bucket hamming distance + exact cosine, computed in a
    single scan): top-k at radius r is a TakeOrdered over the cached
    frame filtered to probe_radius ≤ r, and the exact top-k is the
    same TakeOrdered with no radius filter. One vector-table scan +
    the IVF probe, instead of the six scans the per-radius
    `lsh_ann_topk` calls would cost (the equivalence is pinned by
    test_lsh_curve_matches_per_radius_topk).

    The six audit probes (exact top-10, four multiprobe top-10s, the
    IVF chain) are INDEPENDENT read-only jobs over the shared cached
    frame, so they are submitted from a small thread pool instead of
    serially (guide §2.6 overlap pattern, round 12): the wall cost is
    max(IVF chain, one TakeOrdered) instead of their sum — measured
    3.05 s -> 2.65 s min-of-4 interleaved at sf0.1 — and at cluster
    scale the concurrent
    probes back-fill executors idled by each other's straggler tails.
    Each probe's result set and the final intersection arithmetic are
    unchanged, so the emitted rows are identical."""
    from concurrent.futures import ThreadPoolExecutor

    from dieter___etl___monarchmoney_spark.operators.similarity import (
        ivf_ann_topk,
        lsh_scored_candidates,
    )

    vectors = load_table(spark, "embeddings", sf_dir)
    qv = _query_vec(spark, sf_dir)
    # one scan scores every vector AND tags it with its bucket's
    # hamming distance to the query signature; pinned for the five
    # TakeOrdered passes below. Safe to release before returning —
    # every pass collect()s here and the returned frame is a
    # driver-built literal. Concurrent first readers of an unpopulated
    # cache are safe (BlockManager computes each partition once and
    # blocks the rest), so no eager count() is needed before fan-out.
    with scope():
        scored = pin(lsh_scored_candidates(vectors, qv, bits=6))
        # jobs submitted from pool threads do not inherit the driver
        # thread's job group / description (thread-local in pinned-thread
        # mode), which breaks per-query job accounting
        # (statusTracker().getJobIdsForGroup) and job-group cancellation
        # for these probes (ADVICE r12 #3) — copy the parent's
        # properties into each worker before its action runs.
        sc = spark.sparkContext
        parent_props = {
            k: sc.getLocalProperty(k)
            for k in (
                "spark.jobGroup.id",
                "spark.job.description",
                "spark.job.interruptOnCancel",
            )
        }

        def _adopt_props():
            for k, v in parent_props.items():
                if v is not None:
                    sc.setLocalProperty(k, v)

        def _topk(df):
            _adopt_props()
            return {
                r[0]
                for r in df.orderBy(
                    F.col("similarity").desc(), F.col("vec_id")
                )
                .limit(10)
                .select("vec_id")
                .collect()
            }

        def _ivf():
            _adopt_props()
            return {
                r[0]
                for r in ivf_ann_topk(vectors, qv, k=10).select("vec_id").collect()
            }

        radii = (1, 2, 3, 6)
        with ThreadPoolExecutor(max_workers=3) as pool:
            ivf_f = pool.submit(_ivf)
            exact_f = pool.submit(_topk, scored)
            mp_f = {
                mp: pool.submit(
                    _topk, scored.filter(F.col("probe_radius") <= mp)
                )
                for mp in radii
            }
            exact = exact_f.result()
            rows = []
            hits = len(ivf_f.result() & exact)
            rows.append(("ivf_nprobe2", 10, hits, hits / 10.0))
            for mp in radii:
                hits = len(mp_f[mp].result() & exact)
                rows.append((f"lsh_multiprobe{mp}", 10, hits, hits / 10.0))
    return spark.createDataFrame(
        sorted(rows), "method string, k int, n_hits int, recall double"
    )


# --------------------------------------------------------------------------
# Distributed PCA: covariance matrix + power iteration, both in-engine
# --------------------------------------------------------------------------

_PCA_ITERS = 3


def _pca_iter_sql(k: int) -> str:
    """One unrolled power iteration: w = C·v (exact-decimal message
    sums), then normalize by the exact-sum L2 norm."""
    prev = f"v{k - 1}"
    return f"""
w{k} AS (
    SELECT c.i, CAST(SUM(CAST(c.cov * v.vj AS DECIMAL(38,18))) AS DOUBLE) AS w
    FROM cmat c JOIN {prev} v ON v.j = c.j GROUP BY c.i
),
n{k} AS (
    SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,18))) AS DOUBLE)) AS nrm FROM w{k}
),
v{k} AS (
    SELECT i AS j, w / (SELECT nrm FROM n{k}) AS vj FROM w{k}
)"""


_PCA_SQL = (
    """
WITH long AS (
    SELECT vec_id,
           unnest(range(1, len(embedding) + 1)) AS i,
           unnest(embedding) AS x
    FROM embeddings
),
means AS (
    SELECT i,
           CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
               / COUNT(*) AS m
    FROM long GROUP BY i
),
centered AS (
    SELECT l.vec_id, l.i, CAST(l.x AS DOUBLE) - ms.m AS c
    FROM long l JOIN means ms USING (i)
),
nrows AS (SELECT COUNT(*) AS n FROM embeddings),
cmat AS (
    SELECT a.i AS i, b.i AS j,
           CAST(SUM(CAST(a.c * b.c AS DECIMAL(38,15))) AS DOUBLE)
               / ((SELECT n FROM nrows) - 1) AS cov
    FROM centered a JOIN centered b USING (vec_id)
    GROUP BY a.i, b.i
),
v0 AS (SELECT DISTINCT i AS j, 0.125 AS vj FROM long),"""
    + ",".join(_pca_iter_sql(k) for k in range(1, _PCA_ITERS + 1))
    + f"""
SELECT CAST(j AS INT) AS dim_idx,
       ROUND(vj, 9) AS loading,
       ROUND((SELECT nrm FROM n{_PCA_ITERS}), 6) AS eigenvalue
FROM v{_PCA_ITERS}
ORDER BY dim_idx
"""
)


@query("pca_top_component", _PCA_SQL)
def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA, first principal component: per-dimension means
    and the 64x64 covariance matrix from exact-decimal sums, then {N}
    power iterations — the third iterative algorithm on the parity
    surface after BPE and PageRank, this one over continuous linear
    algebra instead of strings/graphs.

    Determinism: v0 = 1/8 exactly (dyadic), every matrix-vector message
    and every norm accumulates as DECIMAL before the IEEE finish, and
    loadings/eigenvalue round at the output edge — the oracle unrolls
    identical iterations as CTEs, so both engines produce the same
    eigenvector to 9dp.

    Scale shape (each choice measured, see inline notes): the d² terms
    are GENERATED from a per-vector centered array (upper triangle
    only, mirrored after the aggregate) instead of the textbook pair
    self-join — no join shuffle; the only wide stage is the (i,j)
    aggregate whose map-side partials reduce each partition to ≤d²/2
    cells regardless of row count. The irreducible cost is the per-term
    double→Decimal quantization the exactness contract requires. Power
    iterations run as array folds on the 1-row matrix state (the
    const-matrix pattern): the matrix is O(d²) — sketch-sized — so a
    join/agg formulation buys no parallelism and costs multiplicative
    plan growth; localCheckpoint truncates each iteration's lineage.
    Centering subtracts broadcast means; eigenvalue = final ||C·v||."""
    vectors = load_table(spark, "embeddings", sf_dir)
    d = len(vectors.select("embedding").first()["embedding"])  # O(dim)
    # The covariance stage below does n·d(d+1)/2 exact-decimal
    # accumulations — CPU-bound, embarrassingly parallel. When the
    # source arrives under-split (sf0.1 is ONE parquet row group, so
    # the whole aggregation ran in ONE task: measured 7.5 s serial vs
    # 1.5 s at 32-way), widen to the session's parallelism first; when
    # the input already has ≥cores splits (any real-scale table), skip
    # the shuffle. Decimal addition at fixed scale is exact and
    # order-independent, so the split change cannot move the hash.
    par = spark.sparkContext.defaultParallelism
    if vectors.rdd.getNumPartitions() < par:
        vectors = vectors.repartition(par)
    long = vectors.select(
        "vec_id", F.posexplode("embedding").alias("i0", "x")
    ).select("vec_id", (F.col("i0") + 1).alias("i"), F.col("x").cast("double").alias("x"))
    means = long.groupBy("i").agg(
        (
            F.sum(F.col("x").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    # Covariance JOIN-FREE: the textbook pair self-join on vec_id
    # evaluates dim² joined rows THROUGH a shuffle (the join sorts both
    # exploded sides); generating the same dim² products directly from
    # a per-vector centered ARRAY keeps the whole expansion narrow —
    # the only shuffle left is the 4096-group aggregate, whose map-side
    # partials reduce each partition to dim² cells before it moves.
    # (Measured 3-4× on the bench; the oracle keeps the join form — the
    # products are the same doubles either way, so the exact-decimal
    # sums are bit-identical.)
    marr = means.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("i"), F.col("m")))),
            lambda s: s["m"],
        ).alias("marr")
    )
    carr = (
        vectors.crossJoin(F.broadcast(marr))
        .select(
            F.zip_with(
                F.transform("embedding", lambda x: x.cast("double")),
                F.col("marr"),
                lambda x, m: x - m,
            ).alias("carr")
        )
    )
    # posexplode_outer (not posexplode): plain explode lets Catalyst
    # infer size(carr)>0 and push it down, re-inlining the zip_with
    # pipeline into a scan-level Filter (the ngram_jaccard trap).
    # UPPER TRIANGLE ONLY: cov(i,j) == cov(j,i) term-for-term (double
    # multiplication is commutative bit-for-bit), so only d(d+1)/2 cells
    # pay the exact-decimal aggregation — the per-row double→Decimal
    # cast and the Decimal accumulator updates are the measured cost of
    # this query (≈1 µs/term), and the triangle halves the term count.
    # The index-arithmetic reconstruction below restores the full matrix
    # with the SAME doubles, so the oracle (full square) hashes
    # identically.
    step1 = carr.select(
        F.col("carr"), F.posexplode_outer("carr").alias("i0", "ci")
    )
    step2 = step1.select(
        (F.col("i0") + 1).alias("i"),
        F.posexplode_outer(
            F.slice(F.col("carr"), F.col("i0") + 1, F.lit(d) - F.col("i0"))
        ).alias("j0", "cj"),
        F.col("ci"),
    ).select(
        "i",
        (F.col("i") + F.col("j0")).alias("j"),  # j = (i0+1) + j0
        (F.col("ci") * F.col("cj")).alias("p"),
    )
    # Divisor: the GLOBAL n-1, exactly as the oracle's `nrows` CTE —
    # NOT the per-cell COUNT-1, which silently diverges the moment any
    # embedding array is ragged (a vector shorter than d contributes
    # no term to its missing cells, so their count would be < n). The
    # scalar arrives as a broadcast 1-row aggregate over the raw scan
    # (a count(1) reads no columns — parquet metadata speed), keeping
    # the plan driver-collect-free.
    n_df = load_table(spark, "embeddings", sf_dir).agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    tri = (
        step2.groupBy("i", "j")
        .agg(F.sum(F.col("p").cast("decimal(38,15)")).cast("double").alias("s"))
        .crossJoin(F.broadcast(n_df))
        .select(
            "i",
            "j",
            (F.col("s") / (F.col("n_vecs") - F.lit(1)).cast("double")).alias("cov"),
        )
        # p = ci*cj over the SAME doubles the join form multiplied,
        # so the decimal sums (and the oracle hash) are bit-identical
    )
    # NOT persisted: the d^2 matrix flows ONCE into the 1-row array
    # state below (persist() here measured ~10x slower than the
    # straight codegen path — the cache builder re-evaluates the
    # generate pipeline on the interpreted path, and nothing reads
    # the matrix twice anymore)
    # Power iterations over the d² matrix as ARRAY FOLDS on a 1-row
    # frame (the repo's const-matrix pattern, operators/similarity.py):
    # the matrix is O(dim²) — sketch-sized, not data-sized — so the
    # join/agg/crossJoin formulation buys no parallelism and costs a
    # deep plan Catalyst re-optimizes per broadcast (measured ~15 s of
    # PLANNING at 3 iterations vs ~1 s of execution). Each iteration is
    # now three nested higher-order expressions; the arithmetic is the
    # SAME exact-decimal fold the aggregates ran (left-fold of
    # decimal(38,18) terms == order-independent SUM), so the oracle and
    # the driver hash are untouched. At 100 TB nothing changes: the one
    # fact-sized stage is the covariance build above.
    # The union-mirror restores the square matrix from the triangle;
    # the mirrored branch reuses the aggregate's exchange (verified in
    # the executed plan), so the covariance pipeline runs once. (An
    # index-arithmetic transform/element_at reconstruction was measured
    # 6 s SLOWER — per-element interpreted element_at over a struct
    # array is pathological — and rejected.)
    cmat = tri.unionByName(
        tri.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), F.col("cov")
        )
    )
    cm_row = cmat.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "j", "cov"))),
            lambda s: s["cov"],
        ).alias("cm")
    )
    # localCheckpoint per step: each iteration embeds the previous
    # expression twice (w in nrm and v), so the UNtruncated tree grows
    # multiplicatively and the analyzer alone took ~14 s at 3
    # iterations; checkpointing the 1-row state keeps every plan
    # shallow (measured: the whole query drops to ~2 s at sf0.1).
    state = checkpoint(
        cm_row.withColumn(
            "v", F.expr(f"transform(sequence(1, {d}), i -> cast(0.125 as double))")
        )
    )
    for _ in range(_PCA_ITERS):
        state = state.withColumn(
            "w",
            F.expr(
                f"""
                transform(sequence(1, {d}), i ->
                    cast(aggregate(
                        zip_with(slice(cm, (i-1)*{d}+1, {d}), v,
                                 (c, vv) -> c * vv),
                        cast(0 as decimal(38,18)),
                        (acc, x) -> cast(acc + cast(x as decimal(38,18))
                                         as decimal(38,18)))
                    as double))
                """
            ),
        ).withColumn(
            "nrm",
            F.expr(
                """
                sqrt(cast(aggregate(
                    w, cast(0 as decimal(38,18)),
                    (acc, x) -> cast(acc + cast(x * x as decimal(38,18))
                                     as decimal(38,18)))
                as double))
                """
            ),
        ).withColumn("v", F.expr("transform(w, x -> x / nrm)"))
        state = checkpoint(state)
    return (
        state.select(F.posexplode_outer("v").alias("k0", "vj"), F.col("nrm"))
        .select(
            (F.col("k0") + 1).cast("int").alias("dim_idx"),
            F.round("vj", 9).alias("loading"),
            F.round("nrm", 6).alias("eigenvalue"),
        )
        .orderBy("dim_idx")
    )


# --------------------------------------------------------------------------
# Contrastive-training stages: hard-negative mining + hashing-trick
# featurization
# --------------------------------------------------------------------------

_HNM_ANCHORS = 8
_HNM_K = 5

_HNM_SQL = f"""
WITH anchors AS (
    SELECT vec_id AS anchor_id, embedding AS av, label AS anchor_label
    FROM embeddings WHERE vec_id < {_HNM_ANCHORS}
),
scored AS (
    SELECT a.anchor_id, a.anchor_label, e.vec_id, e.label,
           {_DOT.format(a='e.embedding', b='a.av')}
           / (sqrt({_DOT.format(a='e.embedding', b='e.embedding')})
              * sqrt({_DOT.format(a='a.av', b='a.av')})) AS similarity
    FROM anchors a JOIN embeddings e ON e.label <> a.anchor_label
)
SELECT anchor_id, anchor_label,
       vec_id AS negative_id, label AS negative_label,
       similarity, CAST(rnk AS INT) AS rnk
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                 ORDER BY similarity DESC, vec_id) AS rnk
    FROM scored
)
WHERE rnk <= {_HNM_K}
ORDER BY anchor_id, rnk
"""


@query("hard_negative_mining", _HNM_SQL)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining — the contrastive-training stage that makes
    embedding models sharp: for each anchor vector, the top-{_HNM_K}
    most-similar vectors with a DIFFERENT label (near the anchor in
    embedding space yet semantically wrong — exactly the negatives
    worth training against; random negatives are trivially easy).

    Scale shape: the anchor batch broadcasts (same contract as
    knn_batch_join's query batch); the label-inequality predicate
    rides the broadcast join, so the corpus is scanned once with no
    shuffle before the per-anchor top-k, which WindowGroupLimit prunes
    map-side. At 100 TB the brute scan swaps for the IVF probe
    (ivf_ann_topk) with the label filter applied to the probed cells —
    the mining semantics are unchanged. Dot products are
    deterministic left folds (bit-identical cross-engine)."""
    emb = load_table(spark, "embeddings", sf_dir)
    anchors = emb.filter(F.col("vec_id") < _HNM_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("av"),
        F.col("label").alias("anchor_label"),
    )
    from dieter___etl___monarchmoney_spark.operators.similarity import cosine

    scored = (
        emb.join(F.broadcast(anchors), F.col("label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
            cosine(F.col("embedding"), F.col("av")).alias("similarity"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("similarity").desc(), "negative_id"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _HNM_K)
        .select(
            "anchor_id",
            "anchor_label",
            "negative_id",
            "negative_label",
            "similarity",
            F.col("rnk").cast("int").alias("rnk"),
        )
        .orderBy("anchor_id", "rnk")
    )


_FH_DIM = 256

_FH_SQL = f"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              t -> t <> '')) AS tok
    FROM documents
),
bucketed AS (
    SELECT doc_id, tok,
           CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % {_FH_DIM} AS bucket
    FROM toks
),
cells AS (
    SELECT doc_id, bucket, COUNT(*) AS cnt
    FROM bucketed GROUP BY doc_id, bucket
),
per_doc AS (
    SELECT doc_id,
           COUNT(*) AS nnz,
           SUM(cnt) AS n_tokens,
           md5(string_agg(bucket || ':' || cnt, ' ' ORDER BY bucket)) AS vec_fp
    FROM cells GROUP BY doc_id
),
dtok AS (
    SELECT doc_id, COUNT(DISTINCT tok) AS n_distinct_tokens
    FROM toks GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.nnz, 0) AS BIGINT) AS nnz,
       CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(t.n_distinct_tokens, 0) AS BIGINT) AS n_distinct_tokens,
       CAST(COALESCE(t.n_distinct_tokens, 0) - COALESCE(p.nnz, 0) AS BIGINT)
           AS n_collisions,
       COALESCE(p.vec_fp, md5('')) AS vec_fp
FROM documents d
LEFT JOIN per_doc p USING (doc_id)
LEFT JOIN dtok t USING (doc_id)
ORDER BY doc_id
"""


@query("feature_hashing_vectors", _FH_SQL)
def q_feature_hashing_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al.): every token
    hashes to one of {_FH_DIM} buckets and each document becomes a
    sparse count vector — the fixed-dimension, vocabulary-free
    bag-of-words used when a learned vocabulary is too big or too slow
    to maintain. Per doc: nnz, token count, distinct-token count, the
    WITHIN-DOC collision count (distinct tokens sharing a bucket — the
    quality cost of the trick, measured in-query), and the md5
    fingerprint of the sorted sparse vector, which pins the exact
    bucket→count layout cross-engine.

    Scale shape: one (doc, bucket) combinable shuffle then a doc-keyed
    aggregate — the vector never materializes densely, and state per
    doc is min(doc tokens, {_FH_DIM}) cells. The production swap is
    xxhash64 for md5, as everywhere on the hashing surface."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(F.array_remove(tokens("text"), "")).alias("tok"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint")
        % _FH_DIM
    )
    cells = toks.select("doc_id", bucket.alias("bucket")).groupBy(
        "doc_id", "bucket"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = cells.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("nnz"),
        F.sum("cnt").alias("n_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("bucket", "cnt"))),
                    lambda x: F.concat(
                        x["bucket"].cast("string"), F.lit(":"), x["cnt"].cast("string")
                    ),
                ),
                " ",
            )
        ).alias("vec_fp"),
    )
    dtok = toks.groupBy("doc_id").agg(
        F.countDistinct("tok").alias("n_distinct_tokens")
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(dtok, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("nnz", F.lit(0)).cast("bigint").alias("nnz"),
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("n_distinct_tokens", F.lit(0))
            .cast("bigint")
            .alias("n_distinct_tokens"),
            (
                F.coalesce("n_distinct_tokens", F.lit(0))
                - F.coalesce("nnz", F.lit(0))
            )
            .cast("bigint")
            .alias("n_collisions"),
            F.coalesce("vec_fp", F.md5(F.lit(""))).alias("vec_fp"),
        )
        .orderBy("doc_id")
    )


# ==========================================================================
# The Python and Arrow lanes
# ==========================================================================

# --------------------------------------------------------------------------
# Grouped-aggregate pandas UDF: exact order-statistic quartiles
# --------------------------------------------------------------------------

#: quartile convention used on BOTH engines: over the ascending sorted
#: multiset, q_p = value at index floor(p * (n-1)) — pure SELECTION, no
#: interpolation, no summation: deterministic for any engine order.
_QUARTILE_SQL = """
WITH r AS (
    SELECT l_returnflag,
           l_quantity AS q,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
               - 1 AS i,
           COUNT(*) OVER (PARTITION BY l_returnflag) AS n
    FROM lineitem
)
SELECT l_returnflag,
       CAST(MAX(n) AS BIGINT) AS n_lines,
       MAX(CASE WHEN i = CAST(FLOOR(0.25 * (n - 1)) AS BIGINT)
                THEN q END) AS q1,
       MAX(CASE WHEN i = CAST(FLOOR(0.75 * (n - 1)) AS BIGINT)
                THEN q END) AS q3,
       MAX(CASE WHEN i = CAST(FLOOR(0.75 * (n - 1)) AS BIGINT) THEN q END)
         - MAX(CASE WHEN i = CAST(FLOOR(0.25 * (n - 1)) AS BIGINT) THEN q END)
           AS iqr
FROM r
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def _quartile_udaf(p: float):
    """Series->scalar pandas UDAF for the exact order statistic at
    fraction ``p``. Built lazily: pandas_udf parses its DDL return
    type against the ACTIVE session, so creating it at import time
    would require a SparkContext before any query runs."""

    def stat(v: pd.Series) -> float:
        a = v.to_numpy().copy()
        a.sort()
        return float(a[math.floor(p * (len(a) - 1))])

    return pandas_udf(stat, "double")


@query("returnflag_quantity_iqr", _QUARTILE_SQL)
def q_returnflag_quantity_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (the vectorized UDAF path): exact
    q1/q3/IQR of line quantity per return flag. Arrow ships each
    group's column to Python as ONE Series; the UDAF sorts and SELECTS
    — order statistics involve no accumulation, so the result is
    deterministic whatever partition order feeds the group.

    JVM twin: the same quartiles are expressible with a row_number
    window + conditional aggregate (exactly what the oracle runs) or
    approx_percentile(accuracy→exact); the unit test pins UDAF ==
    window-twin equality. This query exists to exercise and measure
    the Series->scalar Arrow lane, not because Python is required.

    Scale shape: Spark evaluates grouped-agg pandas UDFs with a full
    shuffle of the group's rows to one task — groups here are 3 flags,
    i.e. the degenerate-cardinality case where that is acceptable; for
    high-cardinality keys keep quantiles in approx_percentile or the
    two-phase window form (doc_length_band_filter). n_lines and the
    quantity order stats are exact integers in double carriers."""
    li = load_table(spark, "lineitem", sf_dir)
    # Spark refuses to mix grouped-agg pandas UDFs with JVM aggregates
    # in one agg() ([INVALID_PANDAS_UDF_PLACEMENT]), so the row count
    # rides the same Arrow lane as a len() UDAF (the Series->scalar
    # type hints are what make pandas_udf infer GROUPED_AGG)
    def _n(v: pd.Series) -> float:
        return float(len(v))

    n_udaf = pandas_udf(_n, "double")
    agg = li.groupBy("l_returnflag").agg(
        n_udaf("l_quantity").alias("n_d"),
        _quartile_udaf(0.25)("l_quantity").alias("q1"),
        _quartile_udaf(0.75)("l_quantity").alias("q3"),
    ).withColumn("n_lines", F.col("n_d").cast("bigint"))
    return agg.select(
        "l_returnflag",
        "n_lines",
        "q1",
        "q3",
        (F.col("q3") - F.col("q1")).alias("iqr"),
    ).orderBy("l_returnflag")


# --------------------------------------------------------------------------
# Arrow-optimized scalar Python UDF: text normalization
# --------------------------------------------------------------------------

_NORM_SQL = """
SELECT doc_id,
       md5(trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'),
           ' +', ' ', 'g'))) AS norm_md5,
       CAST(length(trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'),
           ' +', ' ', 'g'))) AS BIGINT) AS norm_len
FROM documents
ORDER BY doc_id
"""


def _normalize(s: str | None) -> str | None:
    import re

    if s is None:  # NULL passthrough: the JVM twin's lower(NULL) is NULL
        return None
    s = re.sub(r"[^a-z0-9 ]+", " ", s.lower())
    return re.sub(r" +", " ", s).strip()


@query("arrow_udf_text_normalize", _NORM_SQL)
def q_arrow_udf_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized scalar Python UDF (``useArrow=True``): the
    canonical text-normalization chain (lowercase, strip
    non-alphanumerics, collapse runs of spaces, trim), returning an
    md5 + length so the full normalized text never inflates the
    result. Arrow batches replace per-row pickling — the documented
    ~N× lane over a classic ``@udf`` — while the semantics stay pure
    string-to-string.

    JVM twin: lower/regexp_replace/trim column expressions compute the
    IDENTICAL result (the oracle is that twin in DuckDB SQL; the unit
    test pins the Spark built-in form equal to the UDF form). The hot
    path in this repo always uses the built-ins
    (functions/text.py); this query is the measured exception lane.

    Scale shape: embarrassingly parallel map, no shuffle; cost is the
    Arrow serialization boundary itself, which is the thing being
    demonstrated. The md5 is computed JVM-side AFTER the UDF returns
    (one hash of an already-normalized string)."""
    arrow_norm = F.udf(_normalize, T.StringType(), useArrow=True)
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select("doc_id", arrow_norm(F.col("text")).alias("norm"))
        .select(
            "doc_id",
            F.md5("norm").alias("norm_md5"),
            F.length("norm").cast("bigint").alias("norm_len"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# mapInArrow: zero-copy embedding range audit
# --------------------------------------------------------------------------

_CLIP = 0.45

_RANGE_AUDIT_SQL = f"""
SELECT vec_id,
       CAST(len(embedding) AS INT) AS n_dims,
       CAST(len(list_filter(embedding,
                x -> isnan(CAST(x AS DOUBLE)) OR NOT isfinite(CAST(x AS DOUBLE))))
            AS INT) AS n_nonfinite,
       CAST(len(list_filter(embedding, x -> abs(CAST(x AS DOUBLE)) >= {_CLIP}))
            AS INT) AS n_clipped,
       CAST(list_min(embedding) AS DOUBLE) AS vmin,
       CAST(list_max(embedding) AS DOUBLE) AS vmax
FROM embeddings
ORDER BY vec_id
"""


def _range_audit_batches(it):
    import numpy as np
    import pyarrow as pa

    for batch in it:
        vec_id = batch.column("vec_id")
        emb = batch.column("embedding")
        if isinstance(emb, pa.ChunkedArray):  # pragma: no cover
            emb = emb.combine_chunks()
        # zero-copy Arrow buffers -> numpy views; float32 -> float64 is
        # value-exact, comparisons/selection involve no accumulation
        offs = emb.offsets.to_numpy(zero_copy_only=False)
        flat = emb.values.to_numpy(zero_copy_only=False).astype(np.float64)
        n = len(vec_id)
        n_dims = (offs[1:] - offs[:-1]).astype(np.int32)
        nonfinite = ~np.isfinite(flat)
        # NaN ordering contract: Spark SQL and DuckDB both treat NaN as
        # GREATER than every number — so abs(NaN) >= clip is TRUE, min
        # skips NaN, max returns NaN. numpy's default comparisons say
        # False/propagate instead; mirror the engines explicitly
        # (verified against both: see tests' injected-pathology case).
        clipped = (np.abs(flat) >= _CLIP) | np.isnan(flat)
        # per-row segment reductions over the flattened values
        seg = np.repeat(np.arange(n), n_dims)
        n_nonfinite = np.bincount(seg, weights=nonfinite, minlength=n).astype(np.int32)
        n_clipped = np.bincount(seg, weights=clipped, minlength=n).astype(np.int32)
        vmin = np.fmin.reduceat(flat, offs[:-1])      # NaN-skipping min
        vmax = np.maximum.reduceat(flat, offs[:-1])   # NaN-propagating max
        yield pa.RecordBatch.from_arrays(
            [
                vec_id,
                pa.array(n_dims, pa.int32()),
                pa.array(n_nonfinite, pa.int32()),
                pa.array(n_clipped, pa.int32()),
                pa.array(vmin, pa.float64()),
                pa.array(vmax, pa.float64()),
            ],
            ["vec_id", "n_dims", "n_nonfinite", "n_clipped", "vmin", "vmax"],
        )


@query("embedding_range_audit", _RANGE_AUDIT_SQL)
def q_embedding_range_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: per-vector data-quality audit (dimension count,
    non-finite count, near-clip count at |x| >= 0.45, exact min/max)
    computed directly on Arrow RecordBatches — no pandas object layer
    at all: list offsets and the flattened float buffer map to numpy
    VIEWS, per-row stats come from segment reductions
    (bincount/reduceat). This is the preferred lane for numeric batch
    kernels over array columns when even pandas Series overhead
    matters (the embedding decode/feature family at 100 TB).

    JVM twin: every stat is expressible with F.filter/F.array_min/
    F.array_max higher-order functions (the oracle runs that twin in
    DuckDB; the unit test pins the Spark HOF form equal). All stats
    are counts and selections — float32→float64 widening is
    value-exact and nothing is summed, so batch boundaries cannot
    change any output bit.

    Scale shape: embarrassingly parallel scan; output is 6 narrow
    columns per vector regardless of dimension — the audit SHRINKS
    data, so it belongs before any shuffle in a pipeline."""
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    out_schema = (
        "vec_id long, n_dims int, n_nonfinite int, n_clipped int, "
        "vmin double, vmax double"
    )
    return emb.mapInArrow(_range_audit_batches, out_schema).orderBy("vec_id")
