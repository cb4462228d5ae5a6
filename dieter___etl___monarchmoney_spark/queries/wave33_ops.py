"""Wave 33 (round 5): search-stack and curation compositions —
reciprocal-rank fusion of a lexical and a vector ranking, greedy
set-cover document selection (coverage-maximizing curation), and a
join fan-out profile over the star schema's FK relations.

Determinism: RRF scores are sums of two fixed rationals (identical op
order both engines); set-cover rounds pin ties on doc_id; fan-out
stats are integer until the final mean division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.pins import pin, scope
from dieter___etl___monarchmoney_spark.queries.llm_pipeline import _dot_sql
from dieter___etl___monarchmoney_spark.registry import query
from dieter___etl___monarchmoney_spark.sources.parquet import load_table

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
    from dieter___etl___monarchmoney_spark.operators.similarity import dot

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
    cos = dot(F.col("embedding"), F.col("qv")) / (
        F.sqrt(dot(F.col("embedding"), F.col("embedding")))
        * F.sqrt(dot(F.col("qv"), F.col("qv")))
    )
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
