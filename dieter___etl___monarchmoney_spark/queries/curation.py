"""Corpus-curation queries: the composed operations a training-data
pipeline runs over a crawled corpus before tokenization — deterministic
train/val/test splitting, quality+dedup curation end-to-end, corpus
shape statistics, span-level duplication, ML data preparation (target
encoding, binning, stratified splits, sequence packing) and the paged
and GraphQL connector round trips.

These are compositions of the primitives in ``operators/dedup.py`` and
``functions/text.py``; registering them separately proves the pieces
compose into the pipeline a user would actually run, and gives the
oracle a shot at the full chain (filter → window-dedup → anti-join),
not just each stage alone.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.functions.money import money_sum, money_sum_sql
from dieter___etl___monarchmoney_spark.functions.text import (
    fingerprint_md5,
    quality_score,
    token_count,
    tokens,
)
from dieter___etl___monarchmoney_spark.queries.llm_pipeline import (
    _MINHASH_SIG_SQL,
    _QUALITY_SQL,
    _TOKS_SQL,
    _hexparse_sql,
)
from dieter___etl___monarchmoney_spark.registry import query
from dieter___etl___monarchmoney_spark.sources.materialize import layout_fixture
from dieter___etl___monarchmoney_spark.sources.parquet import (
    load_table,
    table_files,
    table_path,
)

# --------------------------------------------------------------------------
# Deterministic split assignment
# --------------------------------------------------------------------------

#: md5-derived bucket in [0, 100): hash the STRING form of the id so the
#: assignment is stable across storage types and engines. At 100 TB this
#: is the only split strategy that survives re-partitioning, backfills,
#: and incremental appends — row_number()-style splits reshuffle
#: membership whenever data moves; a content-keyed hash never does.
_BUCKET_SQL = f"{_hexparse_sql('substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)')} % 100"


@query(
    "train_val_test_split",
    f"""
    SELECT doc_id,
           {_BUCKET_SQL} AS bucket,
           CASE WHEN {_BUCKET_SQL} < 90 THEN 'train'
                WHEN {_BUCKET_SQL} < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/5/5 train/val/test assignment from an md5 hash of the doc id —
    deterministic, engine-independent, stable under repartitioning (no
    RNG, no row ordering dependence)."""
    docs = load_table(spark, "documents", sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test").alias("split"),
    )


# --------------------------------------------------------------------------
# End-to-end curation
# --------------------------------------------------------------------------


@query(
    "corpus_curation",
    _MINHASH_SIG_SQL
    + rf""",
    near_dup_losers AS (
        SELECT DISTINCT b.doc_id AS doc_id
        FROM bands a JOIN bands b USING (band_key)
        WHERE a.doc_id < b.doc_id
    ),
    scored AS (
        SELECT doc_id, text, {_QUALITY_SQL} AS quality, len({_TOKS_SQL}) AS n_tokens
        FROM documents
    ),
    passing AS (
        SELECT *, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM scored WHERE quality >= 0.5
    ),
    exact_survivors AS (
        SELECT doc_id, quality, n_tokens,
               MIN(doc_id) OVER (PARTITION BY fp) AS group_min
        FROM passing
    )
    SELECT doc_id, quality, n_tokens
    FROM exact_survivors
    WHERE doc_id = group_min
      AND doc_id NOT IN (SELECT doc_id FROM near_dup_losers)
    """,
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation chain in one query: quality-filter → exact-dup
    survivor (min id per normalized-text fingerprint, via a window — no
    second scan) → greedy near-dup drop (any doc that is the HIGHER id
    of a MinHash-LSH candidate pair loses). Returns the curated corpus
    with its quality and token-count metadata.

    Scale shape: one scan scores + fingerprints; the window dedup
    shuffles once on the fingerprint; the near-dup drop is a broadcast
    anti-join against the (tiny relative to corpus) loser set. The
    loser set derives from the shared materialized MinHash pair table
    (llm_pipeline.shared_minhash_pairs), not a per-query recompute.
    """
    from dieter___etl___monarchmoney_spark.queries.llm_pipeline import (
        shared_minhash_pairs,
    )

    docs = load_table(spark, "documents", sf_dir)
    losers = (
        shared_minhash_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    scored = docs.select(
        "doc_id",
        quality_score("text").alias("quality"),
        token_count("text").alias("n_tokens"),
        fingerprint_md5("text").alias("fp"),
    )
    passing = scored.filter(F.col("quality") >= 0.5)
    survivors = passing.withColumn(
        "group_min", F.min("doc_id").over(Window.partitionBy("fp"))
    ).filter(F.col("doc_id") == F.col("group_min"))
    return survivors.join(F.broadcast(losers), "doc_id", "left_anti").select(
        "doc_id", "quality", "n_tokens"
    )


# --------------------------------------------------------------------------
# Corpus shape statistics
# --------------------------------------------------------------------------


@query(
    "token_length_histogram",
    f"""
    SELECT (len({_TOKS_SQL}) // 16) * 16 AS bucket_lo,
           COUNT(*) AS n_docs,
           CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS total_tokens,
           CAST(SUM(len({_TOKS_SQL})) AS DOUBLE) / COUNT(*) AS avg_tokens
    FROM documents
    GROUP BY 1
    """,
)
def q_token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (16-token) document-length histogram — the corpus
    shape summary that sizes tokenizer batches and sequence-length
    packing. Integer sums, so the avg double is engine-identical; at any
    scale this is one map-side-combinable aggregate on a derived key."""
    docs = load_table(spark, "documents", sf_dir)
    n_tok = token_count("text")
    return (
        docs.select(
            (F.floor(n_tok / 16) * 16).alias("bucket_lo"), n_tok.alias("n_tokens")
        )
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        )
    )


# --------------------------------------------------------------------------
# Relevance search + per-language stats
# --------------------------------------------------------------------------

#: fixed query terms for the ranked-search query (present in the corpus)
_TERMS = ("spark", "table", "merge")


@query(
    "term_relevance_topk",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM toks
        WHERE tok IN {tuple(_TERMS)!r} GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT COUNT(*) AS n FROM documents),
    w AS (
        SELECT tf.doc_id, tf.tok,
               tf.tf * (n.n - df.df + 0.5) / (df.df + 0.5) AS w
        FROM tf JOIN df USING (tok) CROSS JOIN n
    ),
    pivoted AS (
        SELECT doc_id,
               {", ".join(f"COALESCE(MAX(CASE WHEN tok = '{t}' THEN w END), 0.0) AS w{i}" for i, t in enumerate(_TERMS))}
        FROM w GROUP BY doc_id
    )
    SELECT doc_id, w0 + w1 + w2 AS score
    FROM pivoted
    ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def q_term_relevance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked document search: log-free BM25 core — per-term weight
    tf·(N−df+0.5)/(df+0.5), summed over the query terms in a FIXED
    order via pivot columns. Deliberately log-free: ln() can differ in
    the last ulp between libm implementations, while integer counts and
    one division per term are bit-identical across engines. Scale shape:
    one token explode filtered to the query terms (predicate before any
    shuffle), tiny df/N broadcast, top-k via TakeOrderedAndProject."""
    from dieter___etl___monarchmoney_spark.functions.text import tokens

    docs = load_table(spark, "documents", sf_dir)
    n_docs = docs.count()
    toks = docs.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    ).filter(F.col("tok").isin(list(_TERMS)))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = tf.join(F.broadcast(df_), "tok").select(
        "doc_id",
        "tok",
        (
            F.col("tf") * (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ).alias("w"),
    )
    pivot_cols = [
        F.coalesce(F.max(F.when(F.col("tok") == t, F.col("w"))), F.lit(0.0)).alias(f"w{i}")
        for i, t in enumerate(_TERMS)
    ]
    pivoted = w.groupBy("doc_id").agg(*pivot_cols)
    score = F.col("w0") + F.col("w1") + F.col("w2")
    return (
        pivoted.select("doc_id", score.alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


@query(
    "corpus_stats_by_lang",
    f"""
    SELECT lang AS lang_tag,
           COUNT(*) AS n_docs,
           CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS total_tokens,
           MIN({_QUALITY_SQL}) AS min_quality,
           MAX({_QUALITY_SQL}) AS max_quality
    FROM documents
    GROUP BY lang
    """,
)
def q_corpus_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus shape: doc count, total tokens, and the
    quality envelope. min/max of doubles (order-independent) instead of
    a double SUM — aggregation-order-proof by construction."""
    from dieter___etl___monarchmoney_spark.functions.text import quality_score, token_count

    docs = load_table(spark, "documents", sf_dir)
    return docs.groupBy(F.col("lang").alias("lang_tag")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text")).alias("total_tokens"),
        F.min(quality_score("text")).alias("min_quality"),
        F.max(quality_score("text")).alias("max_quality"),
    )


# --------------------------------------------------------------------------
# Incremental dedup + sequence packing
# --------------------------------------------------------------------------


@query(
    "incremental_dedup",
    r"""
    WITH fp AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents
    ),
    history AS (SELECT DISTINCT fp FROM fp WHERE doc_id < 250),
    batch AS (
        SELECT doc_id, fp, MIN(doc_id) OVER (PARTITION BY fp) AS batch_min
        FROM fp WHERE doc_id >= 250
    )
    SELECT doc_id, fp
    FROM batch
    WHERE doc_id = batch_min
      AND fp NOT IN (SELECT fp FROM history)
    """,
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup the way a 100 TB pipeline actually runs it: a NEW batch is
    checked against the persisted fingerprint store of everything
    ingested before (here: doc_id < 250 plays history, the rest the
    arriving batch) — never recompute over the full corpus. Within-batch
    dups collapse via a window min; cross-history dups drop via an
    anti-join against the (relatively tiny) distinct-fingerprint store.
    At scale the store is a bucketed table keyed on fingerprint
    (sources/sinks.save_bucketed_table), so the anti-join co-locates
    without an exchange."""
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", fingerprint_md5("text").alias("fp")
    )
    history = docs.filter(F.col("doc_id") < 250).select("fp").distinct()
    batch = docs.filter(F.col("doc_id") >= 250)
    batch = batch.withColumn(
        "batch_min", F.min("doc_id").over(Window.partitionBy("fp"))
    ).filter(F.col("doc_id") == F.col("batch_min"))
    return batch.join(F.broadcast(history), "fp", "left_anti").select("doc_id", "fp")


@query(
    "sequence_packing",
    f"""
    WITH sized AS (
        SELECT doc_id, lang, len({_TOKS_SQL}) AS n_tokens FROM documents
    ),
    c AS (
        SELECT doc_id, lang, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM sized
    )
    SELECT doc_id, lang, n_tokens,
           CAST(cum_before // 2048 AS BIGINT) AS pack_id,
           CAST(cum_before % 2048 AS BIGINT) AS pack_offset
    FROM c
    """,
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: per language, docs in id order fill
    2048-token packs; each doc gets its pack id and token offset — the
    assignment step before concatenating examples for training. Pure
    integer window math (cumulative sum of token counts), so the oracle
    matches exactly.

    Scale shape (round 11, VERDICT r10 #1's class fix): the plain
    per-lang cumulative window summed each language's entire document
    stream in ONE task — the same parallelism-capped-at-group-count
    shape as the decile sorts. Now the grouped two-phase prefix sum
    (operators/rank.py exact_group_prefix_sum): per-lang bucket edges
    on doc_id, local running sums inside |langs| x 32 cells, broadcast
    K-bounded cell-sum offsets — integer-exact, value-identical to the
    window form."""
    from dieter___etl___monarchmoney_spark.operators.rank import (
        exact_group_prefix_sum,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", token_count("text").alias("n_tokens")
    )
    cum = exact_group_prefix_sum(
        docs,
        ["lang"],
        "doc_id",
        [],
        "n_tokens",
        "__cum_before",
        inclusive=False,
    )
    # the exclusive frame is empty on each language's first doc — the
    # operator is window-exact (NULL there), the oracle COALESCEs to 0
    cum_before = F.coalesce(F.col("__cum_before"), F.lit(0))
    return cum.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(cum_before / 2048).alias("pack_id"),
        (cum_before % 2048).alias("pack_offset"),
    )


@query(
    "text_repetition_scores",
    f"""
    WITH s AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, greatest(len({_TOKS_SQL}) - 2, 0)),
                   i -> {_TOKS_SQL}[i] || ' ' || {_TOKS_SQL}[i+1] || ' ' || {_TOKS_SQL}[i+2]
               ) AS sh
        FROM documents
    )
    SELECT doc_id,
           len(sh) AS n_shingles,
           CASE WHEN len(sh) = 0 THEN 0.0
                ELSE CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE) / len(sh)
           END AS dup_shingle_frac
    FROM s
    """,
)
def q_text_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition heuristic (the Gopher-rules style duplicate-3-gram
    fraction): 1 − distinct/total shingles per doc — high values flag
    boilerplate and degenerate generations for removal before training.
    Array-only math per row (no explode, no shuffle): integer counts and
    one division, engine-identical."""
    from dieter___etl___monarchmoney_spark.functions.text import tokens
    from dieter___etl___monarchmoney_spark.operators.dedup import shingles_of

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", tokens("text").alias("toks"))
    sh = toks.select("doc_id", shingles_of(F.col("toks"), 3).alias("sh"))
    n = F.size("sh")
    frac = F.when(n == 0, F.lit(0.0)).otherwise(
        (n - F.size(F.array_distinct("sh"))).cast("double") / n
    )
    return sh.select(
        "doc_id", n.alias("n_shingles"), frac.alias("dup_shingle_frac")
    )


# --------------------------------------------------------------------------
# Benchmark decontamination
# --------------------------------------------------------------------------

#: 4-gram shingles in DuckDB list form (mirrors shingles_of(toks, 4))
_SH4_SQL = (
    f"list_transform(generate_series(1, greatest(len({_TOKS_SQL}) - 3, 0)), "
    f"i -> {_TOKS_SQL}[i] || ' ' || {_TOKS_SQL}[i+1] || ' ' || {_TOKS_SQL}[i+2]"
    f" || ' ' || {_TOKS_SQL}[i+3])"
)


@query(
    "decontamination_overlap",
    f"""
    WITH s AS (SELECT doc_id, source, {_SH4_SQL} AS sh FROM documents),
    bench AS (
        SELECT DISTINCT unnest(sh) AS shingle FROM s WHERE source = 'src0'
    ),
    docsh AS (
        SELECT doc_id, unnest(list_distinct(sh)) AS shingle
        FROM s WHERE source <> 'src0'
    )
    SELECT doc_id, COUNT(*) AS n_overlap
    FROM docsh JOIN bench USING (shingle)
    GROUP BY doc_id
    """,
)
def q_decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style benchmark decontamination: flag training docs sharing
    word 4-grams with a held-out eval set (source 'src0' stands in for
    the benchmark; production uses 8-13-gram windows). Returns each
    contaminated doc with its count of distinct overlapping 4-grams — the filter step drops (or audits)
    them before training.

    Scale shape: the benchmark side is an eval suite (MBs) against a
    100 TB corpus, so its distinct-shingle set BROADCASTS and the
    overlap check is a map-side hash semi-join + one groupBy(doc_id) —
    the corpus is scanned exactly once and never shuffled on the
    shingle. In production the join key would be xxhash64(shingle) to
    shrink the broadcast ~10×; string keys kept here for oracle parity.
    """
    from dieter___etl___monarchmoney_spark.functions.text import tokens
    from dieter___etl___monarchmoney_spark.operators.dedup import shingles_of

    docs = load_table(spark, "documents", sf_dir)
    sh = docs.select(
        "doc_id", "source", tokens("text").alias("toks")
    ).select("doc_id", "source", F.array_distinct(shingles_of(F.col("toks"), 4)).alias("sh"))
    # explode_OUTER on both branches: plain explode makes Catalyst infer
    # size(sh)>0 and push it into the scans, re-inlining the tokenize+
    # 4-gram pipeline (split() appeared 26x in the optimized plan and the
    # query cost a flat ~25s at sf0.1). See dedup.ngram_jaccard_pairs.
    bench = (
        sh.filter(F.col("source") == "src0")
        .select(F.explode_outer("sh").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
        .distinct()
    )
    docsh = (
        sh.filter(F.col("source") != "src0")
        .select("doc_id", F.explode_outer("sh").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )
    return (
        docsh.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


# --------------------------------------------------------------------------
# Sliding-window chunking
# --------------------------------------------------------------------------


@query(
    "chunk_sliding_windows",
    f"""
    WITH sized AS (SELECT doc_id, len({_TOKS_SQL}) AS n FROM documents),
    chunks AS (
        SELECT doc_id, n,
               unnest(generate_series(0, (greatest(n - 64, 0) + 31) // 32)) AS chunk_idx
        FROM sized
    )
    SELECT doc_id, chunk_idx,
           chunk_idx * 32 AS tok_start,
           least(64, n - chunk_idx * 32) AS chunk_tokens
    FROM chunks
    """,
)
def q_chunk_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-feed chunking: overlapping 64-token windows with stride
    32 per document (chunk count = 1 + ceil(max(n-64,0)/32), so the tail
    is always covered and every chunk start < n). Emits (doc_id,
    chunk_idx, tok_start, chunk_tokens) — the slice plan a downstream
    embedder or packer executes.

    Scale shape: pure per-row array math (sequence + explode) — no
    shuffle at all; chunk boundaries are integer arithmetic on the
    token count, never materializing chunk text until a consumer slices
    it. Integer-exact in both engines.
    """
    from dieter___etl___monarchmoney_spark.functions.text import token_count

    docs = load_table(spark, "documents", sf_dir)
    sized = docs.select("doc_id", token_count("text").alias("n"))
    n = F.col("n")
    n_last = (F.greatest(n - 64, F.lit(0)) + 31).cast("long") / 32
    chunks = sized.select(
        "doc_id", "n",
        F.explode(F.sequence(F.lit(0).cast("long"), F.floor(n_last))).alias("chunk_idx"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        (F.col("chunk_idx") * 32).alias("tok_start"),
        F.least(F.lit(64).cast("long"), n - F.col("chunk_idx") * 32).alias("chunk_tokens"),
    )


# --------------------------------------------------------------------------
# Language-balanced sampling
# --------------------------------------------------------------------------


@query(
    "language_balanced_sample",
    """
    WITH ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS sample_rank
        FROM documents
    )
    SELECT doc_id, lang, sample_rank FROM ranked WHERE sample_rank <= 20
    """,
)
def q_language_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quota sampling for language balance: exactly (up to) 20 docs per
    language, chosen by ranking on md5(doc_id) — deterministic,
    seed-free, stable under repartitioning and incremental appends
    (a doc's hash never changes, so the sample only changes where new
    docs out-hash old ones).

    Scale shape: one shuffle partitioned by lang, and the rank<=K
    predicate pushes into a PARTIAL WindowGroupLimit (pinned by plan
    test): every map task ships at most K rows per lang, so the
    post-shuffle task for even a dominant language sees <= K x
    n_map_partitions rows, never the language's full volume.
    """
    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("sample_rank"))
        .filter(F.col("sample_rank") <= 20)
    )


# --------------------------------------------------------------------------
# Cross-document boilerplate segment removal
# --------------------------------------------------------------------------

#: non-overlapping 3-token segments (trailing partial segment dropped),
#: DuckDB list form — mirrors the Spark transform/slice expression
_SEG_SQL = rf"""
    SELECT doc_id, array_to_string(t[i*3+1 : i*3+3], ' ') AS seg
    FROM toks, unnest(
        CASE WHEN len(t) // 3 > 0
             THEN generate_series(0, len(t) // 3 - 1) ELSE [] END) AS u(i)
"""


@query(
    "boilerplate_segment_audit",
    rf"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    segs AS ({_SEG_SQL}),
    bp AS (
        SELECT seg FROM segs GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 3
    ),
    per_doc AS (
        SELECT s.doc_id, COUNT(*) AS n_segments, COUNT(bp.seg) AS n_boilerplate
        FROM segs s LEFT JOIN bp ON s.seg = bp.seg
        GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           COALESCE(n_segments, 0) AS n_segments,
           COALESCE(n_boilerplate, 0) AS n_boilerplate,
           (COALESCE(n_segments, 0) - COALESCE(n_boilerplate, 0)) * 3 AS tokens_kept
    FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
    """,
)
def q_boilerplate_segment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal (the CCNet/RefinedWeb line-dedup
    trick, over fixed 3-token segments since the synthetic corpus has no
    line structure): a segment occurring in >= 3 distinct documents is
    boilerplate (headers, navigation chrome, license banners); each doc
    reports how many of its segments are boilerplate and how many tokens
    survive their removal.

    Scale shape: one shuffle keyed on the segment builds the frequency
    table; the surviving boilerplate set is a tiny fraction of the corpus
    (202 of 7.3k distinct segments at sf0.01), so flagging is a BROADCAST
    left join — the corpus is never shuffled on the segment for the audit
    pass. At 100 TB the frequency side would be keyed on xxhash64(seg)
    and thresholded before the broadcast, exactly as here."""
    from dieter___etl___monarchmoney_spark.functions.text import tokens

    docs = load_table(spark, "documents", sf_dir)
    toks_df = docs.select("doc_id", tokens("text").alias("toks"))
    n_seg = F.floor(F.size("toks") / 3).cast("int")
    segs = F.when(
        n_seg > 0,
        F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.array_join(F.slice(F.col("toks"), i * 3 + 1, F.lit(3)), " "),
        ),
    ).otherwise(F.lit(None).cast("array<string>"))
    # segs referenced exactly once by explode_outer: no sibling expression,
    # so Catalyst cannot infer a size()>0 filter and re-inline the
    # tokenize+segment pipeline into the scan (see ngram_jaccard_pairs).
    exploded = toks_df.select("doc_id", segs.alias("segs")).select(
        "doc_id", F.explode_outer("segs").alias("seg")
    )
    bp = (
        exploded.filter(F.col("seg").isNotNull())
        .groupBy("seg")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 3)
        .select("seg", F.lit(1).alias("is_bp"))
    )
    n_keep = F.count("seg") - F.count("is_bp")
    return (
        exploded.join(F.broadcast(bp), "seg", "left")
        .groupBy("doc_id")
        .agg(
            F.count("seg").alias("n_segments"),
            F.count("is_bp").alias("n_boilerplate"),
            (n_keep * 3).alias("tokens_kept"),
        )
    )


# --------------------------------------------------------------------------
# PII redaction audit
# --------------------------------------------------------------------------

#: digit runs of >= 4 — account-number-shaped identifiers (the synthetic
#: star schema carries them in customer names; prod adds email/phone/SSN
#: alternations to the same plumbing)
_PII_PAT = "[0-9]{4,}"


@query(
    "pii_redaction_audit",
    f"""
    SELECT c_custkey,
           regexp_replace(c_name, '{_PII_PAT}', '[ID]', 'g') AS name_redacted,
           len(regexp_extract_all(c_name, '{_PII_PAT}')) AS n_ids_redacted,
           length(c_name) - length(regexp_replace(c_name, '{_PII_PAT}', '', 'g'))
               AS n_chars_redacted
    FROM customer
    """,
)
def q_pii_redaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing before exporting training data: replace
    account-number-shaped digit runs with a '[ID]' sentinel and report
    per-row how many identifiers and characters were removed (the audit
    trail a redaction pass must emit). Pure regexp column expressions —
    JVM-side, codegen'd, scan-speed at any corpus size; the pattern set
    is a deliberate RE2-and-Java-compatible subset so the oracle runs the
    identical regex."""
    cust = load_table(spark, "customer", sf_dir)
    name = F.col("c_name")
    return cust.select(
        "c_custkey",
        F.regexp_replace(name, _PII_PAT, "[ID]").alias("name_redacted"),
        F.size(F.regexp_extract_all(name, F.lit(_PII_PAT), F.lit(0))).alias(
            "n_ids_redacted"
        ),
        (F.length(name) - F.length(F.regexp_replace(name, _PII_PAT, ""))).alias(
            "n_chars_redacted"
        ),
    )


# --------------------------------------------------------------------------
# Deterministic global training shuffle
# --------------------------------------------------------------------------


@query(
    "global_shuffle_assignment",
    f"""
    WITH h AS (
        SELECT doc_id,
               md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    ),
    s AS (
        SELECT doc_id, h,
               {_hexparse_sql("substr(h, 1, 8)")} % 8 AS shard
        FROM h
    )
    SELECT doc_id, shard,
           ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) AS shard_pos
    FROM s
    """,
)
def q_global_shuffle_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-order shuffle without a global sort: salt the doc id with
    an epoch tag, hash, derive a shard (hash % 8) and a position within
    the shard (rank by hash). Reading shards in order replays one global
    pseudo-random permutation; changing the salt reshuffles every epoch —
    deterministically, with no RNG state and no coordination.

    Scale shape: ONE shuffle, hash-partitioned by shard — each shard
    orders its own slice independently, so there is no global ordering
    bottleneck (the rangepartition+sort a naive ORDER BY rand() plan
    would pay, plus its non-reproducibility across retries)."""
    docs = load_table(spark, "documents", sf_dir)
    h = F.md5(F.concat(F.lit("epoch0:"), F.col("doc_id").cast("string")))
    shard = (
        F.conv(F.substring(F.col("h"), 1, 8), 16, 10).cast("bigint") % 8
    )
    hashed = docs.select("doc_id", h.alias("h")).select(
        "doc_id", "h", shard.alias("shard")
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return hashed.select(
        "doc_id", "shard", F.row_number().over(w).alias("shard_pos")
    )


# --------------------------------------------------------------------------
# Domain-mixture rebalancing
# --------------------------------------------------------------------------

#: per-source token budget for the mixture (chosen so, at sf0.01, some
#: sources are downsampled and some kept whole — both branches exercised)
_MIX_BUDGET = 1200.0


@query(
    "source_mixture_sample",
    f"""
    WITH src AS (
        SELECT source, SUM(len({_TOKS_SQL})) AS src_tokens
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT source,
               LEAST(1.0, {_MIX_BUDGET} / src_tokens) AS keep_frac
        FROM src
    ),
    d AS (
        SELECT doc_id, source,
               {_hexparse_sql("substr(md5('mix0:' || CAST(doc_id AS VARCHAR)), 1, 8)")}
                   / 4294967296.0 AS u
        FROM documents
    )
    SELECT d.doc_id, d.source, w.keep_frac
    FROM d JOIN w USING (source)
    WHERE d.u < w.keep_frac
    """,
)
def q_source_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing (the Pile-style mixing step): cap every
    source at a fixed token budget by keeping each of its documents with
    probability min(1, budget/source_tokens) — decided by a salted hash
    threshold, not an RNG, so the SAME documents are kept on every run,
    every retry, and every engine. Over-represented sources are
    downsampled toward the budget in expectation; small sources pass
    through whole.

    Scale shape: one map-side-combinable aggregate builds the per-source
    token totals (#sources rows — KBs), which BROADCAST back onto the
    corpus scan; the keep/drop decision is then per-row hash math. The
    corpus itself is never shuffled."""
    from dieter___etl___monarchmoney_spark.functions.text import token_count

    docs = load_table(spark, "documents", sf_dir)
    src = docs.groupBy("source").agg(F.sum(token_count("text")).alias("src_tokens"))
    w = src.select(
        "source",
        F.least(F.lit(1.0), F.lit(_MIX_BUDGET) / F.col("src_tokens")).alias(
            "keep_frac"
        ),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix0:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    d = docs.select("doc_id", "source", u.alias("u"))
    return (
        d.join(F.broadcast(w), "source")
        .filter(F.col("u") < F.col("keep_frac"))
        .select("doc_id", "source", "keep_frac")
    )


# --------------------------------------------------------------------------
# Per-language quality deciles
# --------------------------------------------------------------------------


@query(
    "quality_decile_assignment",
    f"""
    SELECT doc_id, lang,
           {_QUALITY_SQL} AS quality,
           NTILE(10) OVER (PARTITION BY lang ORDER BY {_QUALITY_SQL}, doc_id)
               AS q_decile
    FROM documents
    """,
)
def q_quality_decile_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-free quality filtering: assign every document its
    per-language quality decile (NTILE(10) ordered by the quality score,
    doc_id tie-break), so a downstream pass can 'keep the top 30%' of
    EACH language — an absolute quality cutoff would gut low-resource
    languages whose score distribution sits lower.

    Scale shape (round 11, VERDICT r10 #1): the plain per-language
    NTILE window sorted each language's entire document set in ONE
    task — parallelism capped at the handful of languages, the same
    single-task shape source_quality_calibration's sweep caught
    growing super-linearly. Now the two-phase exact NTILE
    (operators/rank.py): per-language percentile_approx bucket edges,
    local row_number inside |langs| x 32 cells, broadcast K-bounded
    rank offsets — value-identical to NTILE(10) (the helper's pinned
    contract), ranking parallelism grows with the bucket count."""
    from dieter___etl___monarchmoney_spark.functions.text import quality_score
    from dieter___etl___monarchmoney_spark.operators.rank import exact_group_ntile

    docs = load_table(spark, "documents", sf_dir)
    scored = docs.select("doc_id", "lang", quality_score("text").alias("quality"))
    return exact_group_ntile(
        scored, ["lang"], "quality", ["doc_id"], 10, out_col="q_decile"
    ).select("doc_id", "lang", "quality", "q_decile")


_WSAMPLE_SQL = """
WITH keyed AS (
    SELECT doc_id, n_chars,
           ROUND(
               -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                         AS BIGINT) + 0.5) / 4503599627370496.0)
               / n_chars, 9) AS race_key
    FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars, race_key
FROM keyed
ORDER BY race_key, doc_id
LIMIT 100
"""


@query("weighted_sample_race", _WSAMPLE_SQL)
def q_weighted_sample_race(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the exponential race
    (Efraimidis-Spirakis): each doc draws a deterministic uniform from
    md5(doc_id) (52 bits -> exact dyadic u in (0,1)) and races with
    key = -ln(u)/weight; the 100 smallest keys win. Inclusion
    probability is proportional to weight (n_chars here — a
    quality-weighted variant just swaps the column), and the sample is
    identical across runs, retries, and engines because there is no
    RNG state — the same contract as train/val/test splitting and
    mixture sampling, extended to WEIGHTED selection.

    Determinism: u is exact in both engines; ln is transcendental, so
    the race key ROUNDS to 9dp before ranking (the keyness pattern) —
    a 1-ulp libm wobble cannot reorder the race, and doc_id breaks
    exact ties.

    Scale shape: per-row key math at scan speed, then top-k =
    orderBy().limit() -> TakeOrderedAndProject (per-partition top-100
    + driver merge of 100-row candidates) — no global sort, no
    single-partition window, no weight-prefix-sum pass over the
    corpus (the naive cumulative-weight method needs one)."""
    docs = load_table(spark, "documents", sf_dir)
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 13),
        16,
        10,
    ).cast("bigint")
    u = (h.cast("double") + 0.5) / float(1 << 52)
    key = F.round(-F.log(u) / F.col("n_chars"), 9)
    return (
        docs.filter(F.col("n_chars") > 0)
        .select("doc_id", "n_chars", key.alias("race_key"))
        .orderBy("race_key", "doc_id")
        .limit(100)
    )


# ==========================================================================
# Curation observability and schema drift
# ==========================================================================

# --------------------------------------------------------------------------
# Curation funnel: rows + tokens surviving each stage
# --------------------------------------------------------------------------

_MIN_TOKENS = 16

_FUNNEL_STAGES_SQL = (
    _MINHASH_SIG_SQL
    + rf""",
    near_dup_losers AS (
        SELECT DISTINCT b.doc_id AS doc_id
        FROM bands a JOIN bands b USING (band_key)
        WHERE a.doc_id < b.doc_id
    ),
    scored AS (
        SELECT doc_id,
               {_QUALITY_SQL} AS quality,
               len({_TOKS_SQL}) AS n_tokens,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents
    ),
    flags AS (
        SELECT *,
               (n_tokens >= {_MIN_TOKENS}) AS s1,
               (n_tokens >= {_MIN_TOKENS} AND quality >= 0.5) AS s2
        FROM scored
    ),
    grp AS (
        SELECT *,
               MIN(CASE WHEN s2 THEN doc_id END) OVER (PARTITION BY fp) AS gmin
        FROM flags
    ),
    f2 AS (
        SELECT *,
               (s2 AND doc_id = gmin) AS s3,
               (s2 AND doc_id = gmin
                   AND doc_id NOT IN (SELECT doc_id FROM near_dup_losers)) AS s4
        FROM grp
    )
    SELECT * FROM (
        SELECT 0 AS stage_id, 'raw' AS stage,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        FROM f2
        UNION ALL
        SELECT 1, 'min_length', CAST(COUNT(CASE WHEN s1 THEN 1 END) AS BIGINT),
               CAST(SUM(CASE WHEN s1 THEN n_tokens ELSE 0 END) AS BIGINT)
        FROM f2
        UNION ALL
        SELECT 2, 'quality', CAST(COUNT(CASE WHEN s2 THEN 1 END) AS BIGINT),
               CAST(SUM(CASE WHEN s2 THEN n_tokens ELSE 0 END) AS BIGINT)
        FROM f2
        UNION ALL
        SELECT 3, 'exact_dedup', CAST(COUNT(CASE WHEN s3 THEN 1 END) AS BIGINT),
               CAST(SUM(CASE WHEN s3 THEN n_tokens ELSE 0 END) AS BIGINT)
        FROM f2
        UNION ALL
        SELECT 4, 'near_dedup', CAST(COUNT(CASE WHEN s4 THEN 1 END) AS BIGINT),
               CAST(SUM(CASE WHEN s4 THEN n_tokens ELSE 0 END) AS BIGINT)
        FROM f2
    ) ORDER BY stage_id
    """
)


@query("pipeline_stage_funnel", _FUNNEL_STAGES_SQL)
def q_pipeline_stage_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus_curation chain as a FUNNEL REPORT: documents and
    tokens surviving each stage (raw → min-length → quality → exact
    dedup → MinHash near-dedup) — the observability row every
    training-data pipeline publishes next to its output. Stage
    semantics mirror corpus_curation exactly (same quality threshold,
    same fingerprint window, same LSH loser set), with the min-length
    gate added up front.

    Scale shape: ONE scan computes all per-doc flags; the exact-dedup
    stage is the same single fingerprint-window shuffle as the chain
    itself (min of the stage-2 survivors per fingerprint, computed
    over the full frame with a conditional MIN — no second scan of a
    filtered copy); the near-dup losers come from the banded MinHash
    join and arrive as a broadcast flag; the five stage rows are
    CONDITIONAL SUMS over the one flagged frame, unpivoted at the end
    — adding observability costs zero extra passes over the corpus.
    All outputs are exact integers. The loser flag reads the shared
    materialized MinHash pair table (llm_pipeline.shared_minhash_pairs)
    instead of re-running signatures + banding."""
    from dieter___etl___monarchmoney_spark.queries.llm_pipeline import (
        shared_minhash_pairs,
    )

    docs = load_table(spark, "documents", sf_dir)
    losers = (
        shared_minhash_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_loser", F.lit(True))
    )
    scored = docs.select(
        "doc_id",
        quality_score("text").alias("quality"),
        token_count("text").alias("n_tokens"),
        fingerprint_md5("text").alias("fp"),
    )
    s1 = F.col("n_tokens") >= _MIN_TOKENS
    s2 = s1 & (F.col("quality") >= 0.5)
    flagged = scored.select("doc_id", "n_tokens", "fp", s1.alias("s1"), s2.alias("s2"))
    gmin = F.min(F.when(F.col("s2"), F.col("doc_id"))).over(Window.partitionBy("fp"))
    with_grp = flagged.withColumn("gmin", gmin).withColumn(
        "s3", F.col("s2") & (F.col("doc_id") == F.col("gmin"))
    )
    with_loser = with_grp.join(F.broadcast(losers), "doc_id", "left").withColumn(
        "s4", F.col("s3") & F.col("is_loser").isNull()
    )

    def cnt(flag):
        return F.count(F.when(flag, 1)).cast("bigint")

    def toks(flag):
        return F.sum(F.when(flag, F.col("n_tokens")).otherwise(0)).cast("bigint")

    agg = with_loser.agg(
        F.count(F.lit(1)).cast("bigint").alias("c0"),
        F.sum("n_tokens").cast("bigint").alias("t0"),
        cnt(F.col("s1")).alias("c1"),
        toks(F.col("s1")).alias("t1"),
        cnt(F.col("s2")).alias("c2"),
        toks(F.col("s2")).alias("t2"),
        cnt(F.col("s3")).alias("c3"),
        toks(F.col("s3")).alias("t3"),
        cnt(F.col("s4")).alias("c4"),
        toks(F.col("s4")).alias("t4"),
    )
    names = ["raw", "min_length", "quality", "exact_dedup", "near_dedup"]
    stack_args = ", ".join(
        f"{i}, '{n}', c{i}, t{i}" for i, n in enumerate(names)
    )
    return (
        agg.selectExpr(
            f"stack(5, {stack_args}) AS (stage_id, stage, n_docs, n_tokens)"
        )
        .select(
            F.col("stage_id").cast("int").alias("stage_id"),
            "stage",
            "n_docs",
            "n_tokens",
        )
        .orderBy("stage_id")
    )


# --------------------------------------------------------------------------
# Schema-evolution read: mergeSchema over batches with drifted schemas
# --------------------------------------------------------------------------

_EVO_SQL = f"""
SELECT CASE WHEN event_id % 2 = 0 THEN NULL ELSE event_type END AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {money_sum_sql('value')} AS total_value
FROM events
GROUP BY 1
ORDER BY channel NULLS FIRST
"""


@query("schema_evolution_merge_read", _EVO_SQL)
def q_schema_evolution_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift at the SCAN: batch v1 of an ingestion wrote
    (event_id, value); batch v2 added a ``channel`` column mid-stream.
    ``mergeSchema=true`` reconciles the footers into one typed frame —
    v1 rows surface channel = NULL — and the per-channel rollup runs
    over the union. The oracle derives the same split from the source
    table directly (even ids → v1/no channel), so a green row proves
    the merged read neither drops rows nor misassigns the backfilled
    NULLs.

    Scale shape: schema merge is a FOOTER operation (per-file schema
    reconciliation at planning time; Spark reads each file with its
    own physical schema and projects missing columns as nulls) — no
    data rewrite, no shuffle; this is exactly how a 100 TB table
    absorbs additive schema changes without migration. The fixture is
    cached per dataset (layout, not computation; rebuilt by
    ``materialize.layout_fixture`` when events change); production
    note: pin mergeSchema per-table (table property / spark.sql.parquet.
    mergeSchema) rather than rewriting history."""

    def build(out: str) -> None:
        ev = load_table(spark, "events", sf_dir)
        v1 = ev.filter(F.col("event_id") % 2 == 0).select("event_id", "value")
        v2 = ev.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "value", F.col("event_type").alias("channel")
        )
        v1.write.mode("overwrite").parquet(os.path.join(out, "batch=1"))
        v2.write.mode("overwrite").parquet(os.path.join(out, "batch=2"))

    out = layout_fixture(sf_dir, "schema_evo", build)
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(out, "batch=1"), os.path.join(out, "batch=2")
    )
    return (
        merged.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            money_sum("value")
            .alias("total_value"),
        )
        .orderBy(F.col("channel").asc_nulls_first())
    )


# ==========================================================================
# Duplicated spans
# ==========================================================================

_SPAN_SQL = f"""
WITH toks AS (
    SELECT doc_id, list_filter({_TOKS_SQL}, t -> t <> '') AS t FROM documents
),
sh AS (
    SELECT doc_id, i,
           t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
    FROM toks, unnest(range(1, greatest(len(t) - 2, 0) + 1)) r(i)
),
freq AS (
    SELECT shingle, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY shingle
),
dups AS (
    SELECT s.doc_id, s.i
    FROM sh s JOIN freq f ON f.shingle = s.shingle
    WHERE f.df >= 2
),
runs AS (
    SELECT doc_id, i,
           i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
    FROM dups
),
spans AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS run_len
    FROM runs GROUP BY doc_id, grp
),
best AS (
    SELECT doc_id, MAX(run_len) AS max_run FROM spans GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(b.max_run, 0) AS BIGINT) AS max_dup_shingles,
       CAST(CASE WHEN b.max_run IS NULL THEN 0
                 ELSE b.max_run + 2 END AS BIGINT) AS span_tokens
FROM (SELECT doc_id FROM documents) d
LEFT JOIN best b ON b.doc_id = d.doc_id
ORDER BY d.doc_id
"""


@query("max_duplicated_span", _SPAN_SQL)
def q_max_duplicated_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest cross-document verbatim span per document: positional
    3-gram shingles flagged when they occur in >= 2 DISTINCT docs,
    then the classic gaps-and-islands trick (position minus dense row
    number is constant within a consecutive run) finds each doc's
    longest flagged run; a run of k consecutive 3-grams covers k+2
    tokens. Docs with no shared shingle report 0 — the LEFT join back
    to the corpus keeps them (a span report that silently drops clean
    docs would misread as "everything is duplicated").

    Scale shape: one shingle-count shuffle for document frequency
    (COUNT(DISTINCT doc) — two-level exact, same as the posting-list
    family), one doc-keyed window for the runs; positions ride the
    existing explode so no extra pass. The known refinement at 100 TB
    is hashing shingles to 8-byte ids before the frequency shuffle
    (cuts shuffle bytes ~5x) — same move as minhash's posting lists.
    All outputs are exact integers."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.array_remove(tokens("text"), "").alias("t")
    )
    sh = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.slice(
                    F.col("t"), 1, F.greatest(F.size("t") - 2, F.lit(0))
                ),
                lambda x, i: F.concat_ws(
                    " ",
                    x,
                    F.element_at(F.col("t"), i + 2),
                    F.element_at(F.col("t"), i + 3),
                ),
            )
        ).alias("i0", "shingle"),
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "shingle")
    freq = (
        sh.select("doc_id", "shingle")
        .distinct()
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
        .select("shingle")
    )
    dups = sh.join(freq, "shingle", "left_semi").select("doc_id", "i")
    w = Window.partitionBy("doc_id").orderBy("i")
    runs = dups.withColumn("grp", F.col("i") - F.row_number().over(w))
    best = (
        runs.groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("doc_id")
        .agg(F.max("run_len").alias("max_run"))
    )
    return (
        docs.select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("max_run"), F.lit(0)).cast("bigint").alias(
                "max_dup_shingles"
            ),
            F.when(F.col("max_run").isNull(), 0)
            .otherwise(F.col("max_run") + 2)
            .cast("bigint")
            .alias("span_tokens"),
        )
        .orderBy("doc_id")
    )


# ==========================================================================
# GraphQL connector and ML data preparation
# ==========================================================================

# --------------------------------------------------------------------------
# GraphQL-over-HTTP connector roundtrip (the reference's live transport)
# --------------------------------------------------------------------------

_GQL_TOKEN = "spark-graft-session"

#: the reference's GetTransactionsList shape (monarchmoney.py:1443-1452)
#: re-pointed at the documents connection.
_GQL_DOC = """
query GetDocuments($offset: Int, $limit: Int) {
  allDocuments {
    totalCount
    results(offset: $offset, limit: $limit) {
      doc_id
      lang
      n_chars
    }
  }
}
"""

#: one mock endpoint per sf_dir for the process lifetime: Spark reads
#: lazily AFTER the query function returns, so the server cannot be
#: torn down in-function; a daemon-threaded singleton is the correct
#: lifetime (dies with the process, reused across bench warm-up+timed
#: passes and every later round of the driver loop).
_GQL_SERVERS: dict = {}


def _graphql_endpoint(spark: SparkSession, sf_dir: str):
    from dieter___etl___monarchmoney_spark.sources.graphql_source import (
        MockGraphQLServer,
    )
    from dieter___etl___monarchmoney_spark.sources.paged_source import export_documents

    if sf_dir in _GQL_SERVERS:
        return _GQL_SERVERS[sf_dir]
    payload = export_documents(spark, sf_dir, "graphql_payload")
    server = MockGraphQLServer(
        payload, root="allDocuments", token=_GQL_TOKEN
    )
    _GQL_SERVERS[sf_dir] = server
    return server


@query(
    "graphql_source_roundtrip",
    "SELECT doc_id, lang, n_chars FROM documents",
)
def q_graphql_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GraphQL-over-HTTP Data Source on the parity surface — the
    executable analog of the reference's actual extraction transport
    (``gql_call`` + AIOHTTPTransport POST loop, monarchmoney.py:
    2756-2767 / 1443-1452): a localhost mock serves the documents
    connection in the reference's wire envelope (operationName +
    offset/limit variables + bearer token + totalCount), and the
    connector plans one count-probe POST into parallel per-page reader
    tasks. A ragged 173-record page size guarantees a short final page,
    so a green row proves the page math at both boundaries; the token
    header is checked by the mock (401 otherwise), so the session-auth
    plumbing is exercised without any real credential."""
    from dieter___etl___monarchmoney_spark.sources import graphql_source

    server = _graphql_endpoint(spark, sf_dir)
    graphql_source.register(spark)
    return (
        spark.read.format("graphql_json")
        .schema("doc_id long, lang string, n_chars long")
        .option("url", server.url)
        .option("operation", "GetDocuments")
        .option("graphql", _GQL_DOC)
        .option("dataPath", "allDocuments.results")
        .option("totalCountPath", "allDocuments.totalCount")
        .option("pageSize", 173)
        .option("token", _GQL_TOKEN)
        .load()
    )


# --------------------------------------------------------------------------
# Stratified split audit (per-language split integrity)
# --------------------------------------------------------------------------


_SPLIT_AUDIT_SQL = f"""
WITH assigned AS (
    SELECT lang,
           CASE WHEN {_BUCKET_SQL} < 90 THEN 'train'
                WHEN {_BUCKET_SQL} < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
)
SELECT lang, split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(COUNT(*)) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY lang), 9) AS realized_frac
FROM assigned
GROUP BY lang, split
ORDER BY lang, split
"""


@query("stratified_split_audit", _SPLIT_AUDIT_SQL)
def q_stratified_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-integrity audit for the hash-based 90/5/5 assignment
    (train_val_test_split): per-(language, split) counts and the
    realized within-language fraction. Content-keyed hashing is only
    UNstratified in expectation — a skewed language can land 88/7/5 —
    and a training pipeline monitors exactly this table before mixing.

    Scale shape: one aggregate keyed (lang, split), then a
    lang-partitioned window over the ~|langs|×3 aggregate rows — the
    window input is post-aggregation small, never the corpus."""
    docs = load_table(spark, "documents", sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    assigned = docs.select(
        "lang",
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test").alias(
            "split"
        ),
    )
    counts = assigned.groupBy("lang", "split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w = Window.partitionBy("lang")
    return (
        counts.withColumn("lang_total", F.sum("n_docs").over(w).cast("bigint"))
        .withColumn(
            "realized_frac",
            F.round(F.col("n_docs").cast("double") / F.col("lang_total"), 9),
        )
        .orderBy("lang", "split")
    )


# --------------------------------------------------------------------------
# Leave-one-out target encoding (leakage-safe categorical feature)
# --------------------------------------------------------------------------

_LOO_SQL = """
WITH base AS (
    SELECT o.o_orderkey, c.c_nationkey,
           CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
stats AS (
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_cat,
           CAST(SUM(y) AS BIGINT) AS sum_y
    FROM base GROUP BY c_nationkey
)
SELECT b.o_orderkey,
       CAST(b.c_nationkey AS INT) AS nation_key,
       CAST(b.y AS BIGINT) AS y,
       ROUND(CASE WHEN s.n_cat > 1
                  THEN CAST(s.sum_y - b.y AS DOUBLE) / (s.n_cat - 1) END,
             9) AS loo_enc
FROM base b JOIN stats s USING (c_nationkey)
"""


@query("target_encoding_loo", _LOO_SQL)
def q_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of a categorical feature (customer
    nation) against a binary label (order is URGENT) — the standard
    leakage-safe encoder: each row's encoding averages every OTHER
    row's label in its category, so the feature never contains the
    row's own target (the within-category twin of
    pit_training_features' as-of discipline; categories of size 1
    yield NULL rather than a self-leak).

    Scale shape: category stats are one map-side-combinable aggregate
    to |categories| rows, broadcast back onto the fact — no window
    over the fact table, no per-category shuffle of the facts beyond
    the initial dim join."""
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    base = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey",
        "c_nationkey",
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("y"),
    )
    stats = base.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cat"),
        F.sum("y").cast("bigint").alias("sum_y"),
    )
    return base.join(F.broadcast(stats), "c_nationkey").select(
        "o_orderkey",
        F.col("c_nationkey").cast("int").alias("nation_key"),
        F.col("y").cast("bigint").alias("y"),
        F.round(
            F.when(
                F.col("n_cat") > 1,
                (F.col("sum_y") - F.col("y")).cast("double") / (F.col("n_cat") - 1),
            ),
            9,
        ).alias("loo_enc"),
    )


# --------------------------------------------------------------------------
# Equal-frequency binning from a deterministic broadcast sample
# --------------------------------------------------------------------------

_BIN_MOD = 20  # 1-in-20 deterministic sample for edge estimation
_N_BINS = 10

#: input-size gate for the edge-extraction plan (round 13, VERDICT r12
#: #5 — the docstring's 100 TB cap, now enforced in code): below the
#: gate the 1/_BIN_MOD sample is small enough that one single-partition
#: window pass is the cheapest exact edge extraction; above it the
#: SAME ranks come from the distributed two-phase ranking operator
#: (operators/rank.py — |1 group| x 32 bucket cells instead of one
#: task), so the single-partition window is bounded by construction.
#: BOTH paths compute the exact row_number over the identical sample,
#: so the edge tuples — and therefore the query result and its oracle
#: hash — are path-independent (pinned by
#: tests/test_wave25_gate.py::test_edge_gate_paths_identical).
#: 512 MiB of input parquet ≈ 30M rows ≈ 1.5M sampled rows.
_EDGE_GATE_BYTES = 512 * 1024 * 1024


def _input_bytes(sf_dir: str, table: str) -> int:
    """Driver-side size probe of a parquet table (file or directory) —
    no Spark job, just the filesystem metadata the gate needs; 0 for a
    missing table."""
    try:
        return sum(size for _name, size, _mtime in table_files(table_path(sf_dir, table)))
    except FileNotFoundError:
        return 0


_LI_KEY_MD5 = (
    "md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR))"
)

_BINNING_SQL = f"""
WITH sample AS (
    SELECT l_extendedprice AS price, l_orderkey AS ok, l_linenumber AS ln
    FROM lineitem
    WHERE {_hexparse_sql(f"substr({_LI_KEY_MD5}, 1, 8)")} % {_BIN_MOD} = 0
),
ranked AS (
    SELECT price, ok, ln,
           ROW_NUMBER() OVER (ORDER BY price, ok, ln) AS rn,
           COUNT(*) OVER () AS n_s
    FROM sample
),
edges AS (
    SELECT CAST(rn * {_N_BINS} / n_s AS BIGINT) AS edge_rank, price, ok, ln
    FROM ranked
    WHERE rn IN (SELECT CAST(CEIL(k * n_s / {_N_BINS}.0) AS BIGINT)
                 FROM ranked, (SELECT unnest(range(1, {_N_BINS})) AS k))
),
assigned AS (
    SELECT l.l_extendedprice AS price,
           1 + (SELECT COUNT(*) FROM edges e
                WHERE (e.price, e.ok, e.ln)
                      < (l.l_extendedprice, l.l_orderkey, CAST(l.l_linenumber AS BIGINT))
               ) AS bin
    FROM lineitem l
)
SELECT CAST(bin AS INT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(MIN(price), 9) AS min_price,
       ROUND(MAX(price), 9) AS max_price
FROM assigned GROUP BY bin ORDER BY bin
"""


@query("quantile_binning_features", _BINNING_SQL)
def q_quantile_binning_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (decile) binning of a numeric feature the way it
    actually runs at 100 TB: bin EDGES come from a deterministic 1-in-20
    md5 sample (engine-portable — both engines select the identical
    rows, so the audit is reproducible, unlike RNG sampling), the ≤9
    edge tuples broadcast to every task, and bin assignment is a
    branch-free comparison count — the fact table is never globally
    sorted and never shuffles for the assignment. A global NTILE would
    be exact but serializes the sort into one window partition; the
    sample-edge form is the streaming-compatible industry shape
    (feature discretization, gradient-boosting bin maps).

    Edges carry their (price, orderkey, linenumber) tie-break keys, so
    assignment is exact even with duplicate prices."""
    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_extendedprice").alias("price"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").cast("bigint").alias("ln"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "-",
                        F.col("ok").cast("string"),
                        F.col("ln").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _BIN_MOD
    )
    # ONE pass extracts the edges (round 12; previously a persisted
    # sample fed two driver actions — count for n_s, then the rank
    # window): the sample size rides the same single-partition window
    # pass as the row_number (COUNT(*) OVER ()), and the edge-rank
    # predicate is evaluated per row from (rn, n_s) directly.
    # ``rn`` is an edge rank iff ∃k∈[1,9]: rn = (k·n_s + 9) div 10 —
    # the integer-exact ceil the Python edge_ranks set computed —
    # rewritten closed-form (round 13, ADVICE r12 #5: the exists()
    # lambda was the one interpreted HOF this family had left):
    # k·n_s ∈ [10·rn−9, 10·rn] has an integer solution in [1, 9] iff
    # max(1, ⌈(10·rn−9)/n_s⌉) ≤ min(9, ⌊10·rn/n_s⌋), all in exact
    # bigint `div` arithmetic (brute-force-verified equal to the
    # exists() form for every (n_s, rn), n_s ≤ 800).
    edge_rank_pred = F.expr(
        f"greatest(1L, (10 * rn - 9 + n_s - 1) div n_s)"
        f" <= least({_N_BINS - 1}L, (10 * rn) div n_s)"
    )
    sample = li.filter(bucket == 0)
    if _input_bytes(sf_dir, "lineitem") > _EDGE_GATE_BYTES:
        # 100 TB path (gate doc above): the exact sample ranks come
        # from the distributed two-phase ranking operator — identical
        # row_number/n_s, so identical edge tuples — and no window
        # task ever holds the whole sample.
        from dieter___etl___monarchmoney_spark.operators.rank import (
            exact_group_rank,
        )

        ranked = exact_group_rank(
            sample.withColumn("__g", F.lit(1)),
            ["__g"],
            "price",
            ["ok", "ln"],
            rank_col="rn",
            n_col="n_s",
        )
        edges = (
            ranked.filter(edge_rank_pred).select("price", "ok", "ln").collect()
        )
    else:
        w = Window.orderBy("price", "ok", "ln")
        w_all = Window.partitionBy()
        edges = (
            sample.withColumn("rn", F.row_number().over(w))
            .withColumn("n_s", F.count(F.lit(1)).over(w_all))
            .filter(edge_rank_pred)
            .select("price", "ok", "ln")
            .collect()
        )
    row_struct = F.struct(
        F.col("price").alias("price"), F.col("ok").alias("ok"), F.col("ln").alias("ln")
    )
    # bin = 1 + |edges strictly below the row| — UNROLLED into ≤9
    # codegen'd struct comparisons instead of size(filter(..., lambda)):
    # higher-order-function lambdas are CodegenFallback (interpreted
    # per element per row), and this expression runs once per FACT row —
    # the unroll took the assignment+aggregate pass from 1.30 s to
    # 0.38 s at sf0.1 with a hash-identical result (round 12; the edge
    # list is K-bounded at 9 literals, so plan growth is nil). The
    # when/otherwise form counts exactly like filter(): a NULL
    # comparison contributes 0, never NULLs the bin.
    bin_col = F.lit(1)
    for e in edges:
        es = F.struct(
            F.lit(e.price).alias("price"),
            F.lit(e.ok).alias("ok"),
            F.lit(e.ln).alias("ln"),
        )
        bin_col = bin_col + F.when(es < row_struct, 1).otherwise(0)
    return (
        li.withColumn("bin", bin_col.cast("int"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.min("price"), 9).alias("min_price"),
            F.round(F.max("price"), 9).alias("max_price"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# Per-segment decile lift table (model-evaluation surface)
# --------------------------------------------------------------------------

_LIFT_SQL = """
WITH labels AS (
    SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
           CASE WHEN COALESCE(u.n_urgent, 0) > 0 THEN 1 ELSE 0 END AS y
    FROM customer c
    LEFT JOIN (SELECT o_custkey, COUNT(*) AS n_urgent
               FROM orders WHERE o_orderpriority = '1-URGENT'
               GROUP BY o_custkey) u
      ON c.c_custkey = u.o_custkey
),
scored AS (
    SELECT c_mktsegment, y,
           NTILE(10) OVER (PARTITION BY c_mktsegment
                           ORDER BY c_acctbal DESC, c_custkey) AS decile
    FROM labels
),
agg AS (
    SELECT c_mktsegment, decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(y) AS BIGINT) AS n_positive
    FROM scored GROUP BY c_mktsegment, decile
)
SELECT c_mktsegment AS segment, CAST(decile AS INT) AS decile,
       n_customers, n_positive,
       ROUND(CAST(n_positive AS DOUBLE) / n_customers, 9) AS resp_rate,
       ROUND((CAST(SUM(n_positive) OVER (PARTITION BY c_mktsegment ORDER BY decile)
                   AS DOUBLE)
              / SUM(n_customers) OVER (PARTITION BY c_mktsegment ORDER BY decile))
             / (CAST(SUM(n_positive) OVER (PARTITION BY c_mktsegment) AS DOUBLE)
                / SUM(n_customers) OVER (PARTITION BY c_mktsegment)),
             9) AS cum_lift
FROM agg
ORDER BY segment, decile
"""


@query("decile_lift_table", _LIFT_SQL)
def q_decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table — the standard evaluation artifact for a
    propensity score (here: account balance as the score, "placed an
    URGENT order" as the outcome), computed per market segment: decile
    1 is the top-scored 10%, `cum_lift` is the cumulative response
    rate over the segment base rate (>1 above random at depth k).

    Scale shape (round 11, VERDICT r10 #1): the per-segment NTILE
    sorted each segment's full customer set in one task — parallelism
    capped at the 5 segments. Now the two-phase exact NTILE
    (operators/rank.py, descending on acctbal with the custkey
    tie-break): per-segment percentile_approx bucket edges, local
    row_number inside |segments| x 32 cells, broadcast K-bounded rank
    offsets — value-identical to NTILE(10) by the helper's pinned
    contract; everything after is windows over the |segments|×10
    aggregate."""
    cust = load_table(spark, "customer", sf_dir)
    urgent = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_urgent"))
    )
    labels = cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left").select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.when(F.coalesce(F.col("n_urgent"), F.lit(0)) > 0, 1).otherwise(0).alias("y"),
    )
    from dieter___etl___monarchmoney_spark.operators.rank import exact_group_ntile

    tiled = exact_group_ntile(
        labels,
        ["c_mktsegment"],
        "c_acctbal",
        ["c_custkey"],
        10,
        ascending=False,
        out_col="decile",
    )
    agg = (
        tiled
        .groupBy("c_mktsegment", "decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("y").cast("bigint").alias("n_positive"),
        )
    )
    w_cum = (
        Window.partitionBy("c_mktsegment")
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_seg = Window.partitionBy("c_mktsegment")
    base_rate = F.sum("n_positive").over(w_seg).cast("double") / F.sum(
        "n_customers"
    ).over(w_seg)
    cum_rate = F.sum("n_positive").over(w_cum).cast("double") / F.sum(
        "n_customers"
    ).over(w_cum)
    return agg.select(
        F.col("c_mktsegment").alias("segment"),
        F.col("decile").cast("int").alias("decile"),
        "n_customers",
        "n_positive",
        F.round(F.col("n_positive").cast("double") / F.col("n_customers"), 9).alias(
            "resp_rate"
        ),
        F.round(cum_rate / base_rate, 9).alias("cum_lift"),
    ).orderBy("segment", "decile")


# --------------------------------------------------------------------------
# Sequence packing over the distributed prefix sum
# --------------------------------------------------------------------------

_PACK_TOKENS = 2048

_PACKING_SQL = rf"""
WITH toks AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                t -> t <> '')) AS BIGINT) AS n_tokens
    FROM documents
),
cum AS (
    SELECT doc_id, n_tokens,
           SUM(n_tokens) OVER (ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_tokens
    FROM toks
)
SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST((cum_tokens - n_tokens) // {_PACK_TOKENS} AS BIGINT) AS pack_id
FROM cum ORDER BY doc_id
"""


@query("sequence_packing_plan", _PACKING_SQL)
def q_sequence_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-split sequence packing — the standard pretraining
    batch layout: documents are laid end-to-end in doc_id order and cut
    into {_PACK_TOKENS}-token context windows; each document's pack is
    the window its FIRST token lands in. The global running token count
    uses the two-phase distributed prefix sum
    (operators/prefix.distributed_prefix_sum: per-range local cumsum +
    K-bounded offset broadcast), so the oracle's single-partition
    `SUM ... OVER (ORDER BY doc_id)` semantic is reproduced without the
    single-reducer sort it implies — the plan that survives 100 TB and
    the exact hash the naive window would produce."""
    from dieter___etl___monarchmoney_spark.operators.prefix import (
        distributed_prefix_sum,
    )

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id",
        F.size(F.array_remove(tokens("text"), ""))
        .cast("bigint")
        .alias("n_tokens"),
    )
    cum = distributed_prefix_sum(
        toks, ["doc_id"], "n_tokens", "cum_tokens", num_ranges=32
    )
    return cum.select(
        "doc_id",
        "n_tokens",
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        # floor division on BOTH sides: DuckDB CAST(double AS BIGINT)
        # rounds-to-nearest while Spark's cast truncates — `//` vs
        # F.floor keeps the engines exact for every boundary doc
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / _PACK_TOKENS)
        .cast("bigint")
        .alias("pack_id"),
    ).orderBy("doc_id")


# ==========================================================================
# Corpus analytics
# ==========================================================================

_FTOKS_SQL = rf"list_filter({_TOKS_SQL}, t -> t <> '')"

# --------------------------------------------------------------------------
# Per-language Pareto frontier (skyline)
# --------------------------------------------------------------------------

_SKYLINE_SQL = rf"""
WITH scored AS (
    SELECT doc_id, lang,
           {_QUALITY_SQL} AS q,
           CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
    FROM documents
)
SELECT s.lang, s.doc_id, ROUND(s.q, 9) AS quality, s.n_tokens
FROM scored s
WHERE NOT EXISTS (
    SELECT 1 FROM scored o
    WHERE o.lang = s.lang
      AND ((o.q > s.q AND o.n_tokens >= s.n_tokens)
        OR (o.q >= s.q AND o.n_tokens > s.n_tokens))
)
ORDER BY s.lang, s.doc_id
"""


@query("pareto_quality_frontier", _SKYLINE_SQL)
def q_pareto_quality_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Pareto frontier (skyline) on (quality ↑, length ↑):
    the documents no other same-language document beats on both axes —
    the exact set a curation budget sweep walks when trading quality
    against token yield.

    The oracle is the textbook O(n²) NOT-EXISTS dominance query; the
    Spark plan is the sweep-line rewrite: per (lang, q) group-max of
    length, a lang-partitioned window takes the running best length
    over strictly-higher quality (DESC order, 1-preceding frame), and
    a document survives iff it holds its group's max AND beats every
    higher-quality group's best. Two aggregates + one window over
    group rows — no self-join, no quadratic anything; partitioned by
    lang throughout (the same no-global-window discipline as
    customer_balance_rank_surface)."""
    docs = load_table(spark, "documents", sf_dir)
    scored = docs.select(
        "doc_id",
        "lang",
        quality_score("text").alias("q"),
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .cast("bigint")
        .alias("n_tokens"),
    )
    groups = scored.groupBy("lang", "q").agg(F.max("n_tokens").alias("gy"))
    w_prev = (
        Window.partitionBy("lang")
        .orderBy(F.col("q").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    groups = groups.withColumn("prev_best", F.max("gy").over(w_prev))
    return (
        scored.join(groups, ["lang", "q"])
        .filter(
            (F.col("n_tokens") == F.col("gy"))
            & (F.col("prev_best").isNull() | (F.col("n_tokens") > F.col("prev_best")))
        )
        .select("lang", "doc_id", F.round("q", 9).alias("quality"), "n_tokens")
        .orderBy("lang", "doc_id")
    )


# --------------------------------------------------------------------------
# Per-source token entropy / lexical diversity
# --------------------------------------------------------------------------

_ENTROPY_SQL = rf"""
WITH words AS (
    SELECT source, unnest({_FTOKS_SQL}) AS word FROM documents
),
wc AS (
    SELECT source, word, COUNT(*) AS c FROM words GROUP BY source, word
),
tot AS (
    SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types
    FROM wc GROUP BY source
)
SELECT wc.source, t.n_tokens, t.n_types,
       ROUND(CAST(SUM(CAST(-(CAST(c AS DOUBLE) / t.n_tokens)
                            * ln(CAST(c AS DOUBLE) / t.n_tokens)
                            AS DECIMAL(38,18))) AS DOUBLE), 9) AS entropy,
       ROUND(CAST(t.n_types AS DOUBLE) / t.n_tokens, 9) AS type_token_ratio
FROM wc JOIN tot t USING (source)
GROUP BY wc.source, t.n_tokens, t.n_types
ORDER BY wc.source
"""


@query("token_entropy_by_source", _ENTROPY_SQL)
def q_token_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the unigram distribution and type-token ratio
    per source — the lexical-diversity panel of a corpus datasheet
    (low entropy flags boilerplate-heavy or templated sources before
    they flood a training mix).

    Scale shape: one (source, word)-keyed aggregate with map-side
    combine carries the whole cost; the per-source totals join is
    |sources| rows broadcast back, and the entropy sum runs over the
    compact (source, word) count table. Each −p·ln p term quantizes to
    DECIMAL(38,18) before SUM, so the hash is aggregation-order-proof
    (the determinism contract of dup_graph_pagerank applied to ln)."""
    docs = load_table(spark, "documents", sf_dir)
    words = docs.select(
        "source",
        F.explode_outer(
            F.array_remove(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), "")
        ).alias("word"),
    ).filter(F.col("word").isNotNull())
    wc = words.groupBy("source", "word").agg(F.count(F.lit(1)).alias("c"))
    tot = wc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    p = F.col("c").cast("double") / F.col("n_tokens")
    return (
        wc.join(F.broadcast(tot), "source")
        .groupBy("source", "n_tokens", "n_types")
        .agg(
            F.round(
                F.sum((-p * F.log(p)).cast("decimal(38,18)")).cast("double"), 9
            ).alias("entropy")
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "entropy",
            F.round(F.col("n_types").cast("double") / F.col("n_tokens"), 9).alias(
                "type_token_ratio"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Dataset card (one-row corpus datasheet)
# --------------------------------------------------------------------------

_CARD_SQL = rf"""
WITH per_doc AS (
    SELECT doc_id, lang, source,
           CAST(len({_FTOKS_SQL}) AS BIGINT) AS n_tokens,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
    FROM documents
),
dups AS (
    SELECT COUNT(*) AS n_dup_groups,
           COALESCE(CAST(SUM(cnt - 1) AS BIGINT), 0) AS n_redundant_docs
    FROM (SELECT fp, COUNT(*) AS cnt FROM per_doc GROUP BY fp HAVING COUNT(*) > 1)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       ROUND(CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 9) AS en_frac,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 9) AS mean_doc_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS max_doc_tokens,
       CAST(d.n_dup_groups AS BIGINT) AS n_dup_groups,
       d.n_redundant_docs
FROM per_doc CROSS JOIN dups d
GROUP BY d.n_dup_groups, d.n_redundant_docs
"""


@query("dataset_card_stats", _CARD_SQL)
def q_dataset_card_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row dataset card: corpus size, language/source breadth,
    token volume, and exact-duplicate pressure — the summary block a
    datasheet or mixture planner reads before anything else.

    Scale shape: one pass computes the per-doc projection (token count
    + md5 fingerprint); the card is a single map-side-combinable
    aggregate over it plus a fingerprint aggregate for the dup block,
    cross-joined as a 1-row broadcast. COUNT(DISTINCT lang/source) is
    exact over low-cardinality dims (the 100 TB form swaps in
    approx_count_distinct where the dim is unbounded)."""
    docs = load_table(spark, "documents", sf_dir)
    per_doc = docs.select(
        "lang",
        "source",
        F.size(F.array_remove(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), ""))
        .cast("bigint")
        .alias("n_tokens"),
        fingerprint_md5("text").alias("fp"),
    )
    dups = (
        per_doc.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dup_groups"),
            F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0))
            .cast("bigint")
            .alias("n_redundant_docs"),
        )
    )
    card = per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.round(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("en_frac"),
        F.round(F.sum("n_tokens").cast("double") / F.count(F.lit(1)), 9).alias(
            "mean_doc_tokens"
        ),
        F.max("n_tokens").cast("bigint").alias("max_doc_tokens"),
    )
    return card.crossJoin(F.broadcast(dups))


# --------------------------------------------------------------------------
# k-fold contamination audit (dup groups spanning folds)
# --------------------------------------------------------------------------

_KFOLDS = 5

_FOLD_BUCKET_SQL = f"{_hexparse_sql('substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)')} % {_KFOLDS}"

_KFOLD_LEAK_SQL = rf"""
WITH assigned AS (
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
           {_FOLD_BUCKET_SQL} AS fold
    FROM documents
)
SELECT fp,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT fold) AS BIGINT) AS n_folds,
       CAST(COUNT(DISTINCT fold) > 1 AS BOOLEAN) AS leaky
FROM assigned
GROUP BY fp
HAVING COUNT(*) > 1
ORDER BY fp
"""


@query("kfold_leakage_audit", _KFOLD_LEAK_SQL)
def q_kfold_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validation contamination audit: exact-duplicate groups
    whose members land in MORE THAN ONE hash-assigned fold — each such
    group leaks its content between a training and a held-out fold,
    silently inflating eval scores (the cross-validation twin of
    decontamination_overlap's train/eval concern). Row-id hash
    splitting cannot prevent this — only CONTENT-keyed splitting can —
    which is exactly what this audit demonstrates and a pipeline
    alerts on.

    Scale shape: one projection computing fingerprint + fold, one
    fingerprint-keyed aggregate with map-side combine; dup groups are
    the rare output, never a join input."""
    docs = load_table(spark, "documents", sf_dir)
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % _KFOLDS
    )
    assigned = docs.select(
        fingerprint_md5("text").alias("fp"), fold.alias("fold")
    )
    return (
        assigned.groupBy("fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("fold").cast("bigint").alias("n_folds"),
        )
        .filter(F.col("n_docs") > 1)
        .select("fp", "n_docs", "n_folds", (F.col("n_folds") > 1).alias("leaky"))
        .orderBy("fp")
    )
