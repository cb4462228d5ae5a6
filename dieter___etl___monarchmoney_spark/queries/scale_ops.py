"""Scale-path operators beyond the reference's surface: exact n-gram
Jaccard dedup (the ground truth the MinHash path approximates),
oracle-checked document fingerprints (md5 + polynomial rolling hash),
GROUPING SETS budget rollups (SURVEY.md §2.4 note: A4's parallel
per-category / per-group / total blocks, monarchmoney.py:1136-1220, are
grouping sets — here expressed as one multi-grain aggregate instead of
three scans), and IVF approximate nearest neighbour (the
partition-pruned ANN path alongside hyperplane LSH).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.functions.money import (
    MONEY_DECIMAL,
    money_sum,
    money_sum_sql,
)
from dieter___etl___monarchmoney_spark.functions.text import fingerprint_md5, rolling_hash
from dieter___etl___monarchmoney_spark.operators.similarity import ivf_ann_topk
from dieter___etl___monarchmoney_spark.registry import query
from dieter___etl___monarchmoney_spark.sources.parquet import load_table
from dieter___etl___monarchmoney_spark.sources.star_model import (
    TRANSACTIONS_SQL,
    transactions,
)

_TOKS_SQL = r"list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')"



@query(
    "ngram_jaccard_pairs",
    rf"""
    WITH docs AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(toks) - 2, 0)),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        FROM docs
    ),
    counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    shfreq AS (SELECT shingle, COUNT(*) AS doc_freq FROM sh GROUP BY shingle),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM sh a
        JOIN sh b USING (shingle)
        JOIN shfreq USING (shingle)
        WHERE a.doc_id < b.doc_id AND shfreq.doc_freq <= 64
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) AS jaccard
    FROM inter
    JOIN counts ca ON ca.doc_id = doc_a
    JOIN counts cb ON cb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) >= 0.5
    """,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via inverted-index self-join —
    oracle-checked ground truth for the MinHash-LSH candidates. The
    registered form exercises ``doc_freq_cap``: posting lists longer
    than 64 docs are stop-shingles — no near-dup signal, quadratic pair
    cost — and the oracle applies the identical doc-frequency prune, so
    the quadratic guard the 100 TB path depends on is itself
    parity-checked. Registered form reads through the family's shared
    materialization (queries.corpus_ops.shared_jaccard_edges): the
    FIRST consumer in a run executes the operator and persists the edge
    table; this query's green row then certifies that exact pipeline's
    output against the independent DuckDB index."""
    from dieter___etl___monarchmoney_spark.queries.corpus_ops import (
        shared_jaccard_edges,
    )

    return shared_jaccard_edges(spark, sf_dir)


@query(
    "doc_fingerprints",
    r"""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(
                       string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ''),
                       ch -> CAST(ascii(ch) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 1000000007) AS fp_rolling
    FROM documents
    """,
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of normalized text + Rabin-Karp
    polynomial rolling hash (base 31, mod 1e9+7), both folded
    left-to-right so Spark and DuckDB agree bit for bit."""
    docs = load_table(spark, "documents", sf_dir)
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.select(
        "doc_id",
        fingerprint_md5("text").alias("fp_md5"),
        rolling_hash(norm).alias("fp_rolling"),
    )


_GSETS_SQL = f"""
    SELECT CAST(DATE_TRUNC('month', t.txn_date) AS DATE) AS month_key,
           COALESCE(p.p_type, 'ALL') AS group_name,
           CAST(GROUPING(p.p_type) AS INT) AS is_total_row,
           {money_sum_sql('t.amount')} AS actual_sum,
           COUNT(*) AS n_txns
    FROM ({TRANSACTIONS_SQL}) t
    JOIN part p ON t.category_id = p.p_partkey
    GROUP BY GROUPING SETS (
        (DATE_TRUNC('month', t.txn_date), p.p_type),
        (DATE_TRUNC('month', t.txn_date))
    )
"""


@query("budget_grouping_sets", _GSETS_SQL)
def q_budget_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 as one GROUPING SETS aggregate — per-(month, group) rows plus
    per-month Totals rows from a single scan + single shuffle, instead of
    the union-of-three-aggregations shape the reference flattens
    (totalsByMonth monarchmoney.py:1182-1220). At 100 TB this halves the
    fact-scan count of the budget-sheet rollup."""
    txns = transactions(spark, sf_dir)
    part = load_table(spark, "part", sf_dir).select(
        F.col("p_partkey").alias("part_key"), F.col("p_type").alias("ptype")
    )
    joined = txns.join(F.broadcast(part), txns.category_id == part.part_key).select(
        F.date_trunc("month", "txn_date").cast("date").alias("mon"),
        "ptype",
        "amount",
    )
    rolled = joined.groupingSets(
        [[F.col("mon"), F.col("ptype")], [F.col("mon")]],
        F.col("mon"),
        F.col("ptype"),
    ).agg(
        F.grouping("ptype").cast("int").alias("is_total_row"),
        money_sum("amount").alias("actual_sum"),
        F.count(F.lit(1)).alias("n_txns"),
    )
    return rolled.select(
        F.col("mon").alias("month_key"),
        F.coalesce(F.col("ptype"), F.lit("ALL")).alias("group_name"),
        "is_total_row",
        "actual_sum",
        "n_txns",
    )


def _ivf_lloyd_iter_sql(j: int) -> str:
    """One unrolled Lloyd iteration: assign to cents{j}, exact-decimal
    per-(cell, component) means (order-independent — mirrors
    operators/similarity.lloyd_refine's determinism contract), renorm;
    empty cells keep their previous centroid via the LEFT JOIN."""
    from dieter___etl___monarchmoney_spark.queries.llm_pipeline import _dot_sql

    return f"""
    assigned{j} AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_dot_sql('e.embedding', 'c.cv')} DESC,
                                               c.cell) AS rn
            FROM embeddings e CROSS JOIN cents{j} c
        ) WHERE rn = 1
    ),
    mean{j} AS (
        SELECT cell, list(m ORDER BY pos) AS mv
        FROM (
            SELECT cell, pos,
                   CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE)
                       / COUNT(*) AS m
            FROM (
                SELECT a.cell,
                       unnest(range(1, len(e.embedding) + 1)) AS pos,
                       unnest(e.embedding) AS val
                FROM embeddings e JOIN assigned{j} a USING (vec_id)
            ) GROUP BY cell, pos
        ) GROUP BY cell
    ),
    cents{j + 1} AS (
        SELECT s.cell,
               CASE WHEN m.mv IS NULL THEN s.cv
                    ELSE list_transform(m.mv, x -> x /
                        (CASE WHEN sqrt({_dot_sql('m.mv', 'm.mv')}) = 0
                              THEN 1.0 ELSE sqrt({_dot_sql('m.mv', 'm.mv')}) END))
               END AS cv
        FROM cents{j} s LEFT JOIN mean{j} m USING (cell)
    )"""


def _ivf_sql(lloyd_iters: int = 2) -> str:
    from dieter___etl___monarchmoney_spark.queries.llm_pipeline import _dot_sql

    iter_ctes = ",".join(_ivf_lloyd_iter_sql(j) for j in range(lloyd_iters))
    final = f"cents{lloyd_iters}"
    return f"""
    WITH cents0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
               list_transform(embedding,
                   x -> CAST(x AS DOUBLE) / sqrt({_dot_sql('embedding', 'embedding')})) AS cv
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
    ),
    {iter_ctes},
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    probe AS (SELECT cell FROM {final}, q ORDER BY {_dot_sql('cv', 'qv')} DESC, cell LIMIT 2),
    scored AS (
        SELECT e.vec_id, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_dot_sql('e.embedding', 'c.cv')} DESC, c.cell) AS rn
        FROM embeddings e CROSS JOIN {final} c
    ),
    assigned AS (SELECT vec_id, cell FROM scored WHERE rn = 1),
    cand AS (SELECT vec_id FROM assigned WHERE cell IN (SELECT cell FROM probe))
    SELECT e.vec_id,
           {_dot_sql('e.embedding', 'q.qv')}
           / (sqrt({_dot_sql('e.embedding', 'e.embedding')})
              * sqrt({_dot_sql('q.qv', 'q.qv')})) AS similarity
    FROM embeddings e JOIN cand USING (vec_id), q
    ORDER BY similarity DESC, e.vec_id LIMIT 10
    """


@query("ivf_ann_topk", _ivf_sql())
def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: coarse-quantize to seeded + Lloyd-refined
    centroids (two in-engine iterations, exact-decimal component sums),
    probe the nearest cells, exact re-rank inside — the partition-pruned
    ANN scale path (cells = partition keys at 100 TB). Centroid
    refinement, normalization, cell argmax, and probe ranking all use
    order-independent or left-fold arithmetic, so the oracle reproduces
    the refined centroids, probe set, and result exactly."""
    vectors = load_table(spark, "embeddings", sf_dir)
    row = (
        vectors.filter(F.col("vec_id") == 0).select("embedding").collect()[0]
    )
    qv = [float(x) for x in row["embedding"]]
    return ivf_ann_topk(vectors, qv, k=10, n_cells=8, nprobe=2, lloyd_iters=2)


@query(
    "skew_salted_cashflow",
    f"""
    SELECT returnflag AS "key",
           {money_sum_sql('amount')} AS sum,
           COUNT(*) AS count
    FROM ({TRANSACTIONS_SQL})
    GROUP BY returnflag
    """,
)
def q_skew_salted_cashflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe aggregation: SUM/COUNT of amount by returnflag — three
    hot keys over the whole fact, the worst-case skew shape. The salted
    two-phase pattern (operators/skew.salted_money_aggregate) spreads
    each hot key over 16 reducers before a tiny per-key combine; decimal
    sums make the result independent of the salt layout, so a plain
    GROUP BY is the oracle."""
    from dieter___etl___monarchmoney_spark.operators.skew import salted_money_aggregate

    txns = transactions(spark, sf_dir)
    return salted_money_aggregate(txns, "returnflag", "amount", salt_buckets=16).select(
        F.col("returnflag").alias("key"), "sum", "count"
    )


@query(
    "transaction_point_lookup",
    f"""
    SELECT txn_id, order_id, amount, txn_date
    FROM ({TRANSACTIONS_SQL})
    WHERE txn_id = (SELECT MIN(txn_id)
                    FROM ({TRANSACTIONS_SQL}) WHERE order_id < 100)
    """,
)
def q_transaction_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 — single-row lookup by primary key (get_transaction_details
    monarchmoney.py:1979-2127). txn_id is DERIVED (a concat over the
    natural key), so an equality on it alone cannot reach the parquet
    scan; the scale-correct lookup decomposes the key and pushes the
    sargable component equalities (order/part/supp keys → row-group
    pruning) while keeping the full composite equality as a residual
    filter. test_plans.py asserts the pushdown stays.

    The probe key is derived from a PRUNED slice (order_id < 100 —
    pushed to the scan, a handful of row groups) rather than a
    min-over-the-fact, so the registered query's cost is the lookup,
    not the scaffolding that picks a key that exists at every SF."""
    from dieter___etl___monarchmoney_spark.operators.transactions import point_lookup

    txns = transactions(spark, sf_dir)
    key = (
        txns.filter(F.col("order_id") < 100).agg(F.min("txn_id")).collect()[0][0]
    )
    okey, _ln, pkey, skey = key.split("-")
    sargable = txns.filter(
        (F.col("order_id") == int(okey))
        & (F.col("category_id") == int(pkey))
        & (F.col("merchant_id") == int(skey))
    )
    return point_lookup(sargable, "txn_id", key).select(
        "txn_id", "order_id", "amount", "txn_date"
    )


@query(
    "asof_view_attribution",
    """
    SELECT p.event_id, p.user_id, p.ts,
           v.asof_ts, v.asof_event_id, v.asof_value
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (
        SELECT user_id, ts AS asof_ts, event_id AS asof_event_id, value AS asof_value
        FROM events WHERE event_type = 'view'
    ) v ON p.user_id = v.user_id AND v.asof_ts <= p.ts
    """,
)
def q_asof_view_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each purchase attributed to the
    user's most recent view at or before it — an operator Spark lacks,
    built as union-tag + window carry (ONE shuffle on user_id, no range
    join, no pair explosion). DuckDB's native ASOF JOIN is the oracle,
    so two entirely different algorithms must agree row for row."""
    from dieter___etl___monarchmoney_spark.operators.asof import asof_join

    ev = load_table(spark, "events", sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(purchases, views, keys=["user_id"], ts_col="ts", tiebreak=["event_id"])
    return out.select(
        "event_id", "user_id", "ts", "asof_ts", "asof_event_id", "asof_value"
    )


@query(
    "cdc_latest_state",
    """
    SELECT user_id, event_type, event_id AS last_event_id,
           CAST(ts AS TIMESTAMP) AS last_ts, value AS last_value
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id, event_type
            ORDER BY ts DESC, event_id DESC
        ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q_cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction — latest record per key, the CDC/upsert
    primitive every incremental lake needs (the reference's window
    replacement is a special case of it). Spark side needs NO window:
    ``max(struct(ts_ns, event_id, value))`` per key is a plain
    partial-aggregable MAX — map-side combine shrinks each partition to
    one candidate per key before the single shuffle, where the oracle's
    textbook ROW_NUMBER formulation would shuffle every version of
    every key to sort it. (ts_ns, event_id) is a total order per key,
    so both forms pick identical winners."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.max(
                F.struct(
                    F.col("ts_ns"), F.col("event_id"), F.col("ts"), F.col("value")
                )
            ).alias("m")
        )
        .select(
            "user_id",
            "event_type",
            F.col("m.event_id").alias("last_event_id"),
            F.col("m.ts").alias("last_ts"),
            F.col("m.value").alias("last_value"),
        )
    )


def _profile_sql() -> str:
    cols = ("l_orderkey", "l_partkey", "l_quantity", "l_returnflag", "l_shipdate")
    blocks = []
    for c in cols:
        blocks.append(
            f"""SELECT '{c}' AS column_name,
                   COUNT(*) - COUNT({c}) AS n_nulls,
                   COUNT(DISTINCT {c}) AS n_distinct,
                   CAST(MIN({c}) AS VARCHAR) AS min_value,
                   CAST(MAX({c}) AS VARCHAR) AS max_value
            FROM lineitem"""
        )
    return " UNION ALL ".join(blocks)


@query("table_profile", _profile_sql())
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling operator: per-column null count, distinct count,
    and min/max for a declared column set — the first query anyone runs
    against an unfamiliar 100 TB table.

    Shape: one cheap pass computes every null/min/max side by side;
    each DISTINCT count runs as its own single-COLUMN aggregate, and the
    six one-row results crossJoin back together before the ``stack``
    unpivot. The per-column scans are column-pruned, so total I/O
    equals one scan of the five columns — but the 5-way multi-distinct
    alternative (one aggregate with five count_distincts) pays an
    Expand that pushes 5× the row count through sort aggregates and
    measured 4× SLOWER at sf0.1 (6.7s vs 1.5s). The oracle's
    per-column UNION ALL re-reads all columns per block; this form
    reads each column once."""
    li = load_table(spark, "lineitem", sf_dir)
    cols = ("l_orderkey", "l_partkey", "l_quantity", "l_returnflag", "l_shipdate")
    cheap = []
    for c in cols:
        cheap.extend(
            [
                (F.count(F.lit(1)) - F.count(c)).alias(f"nn_{c}"),
                F.min(c).cast("string").alias(f"mn_{c}"),
                F.max(c).cast("string").alias(f"mx_{c}"),
            ]
        )
    wide = li.agg(*cheap)
    for c in cols:
        wide = wide.crossJoin(
            li.select(c).agg(F.count_distinct(c).alias(f"nd_{c}"))
        )
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column_name, n_nulls, n_distinct, min_value, max_value)"
        )
    )


@query(
    "part_metrics_unpivot",
    """
    SELECT p_partkey, metric, value
    FROM (
        SELECT p_partkey,
               CAST(p_size AS DOUBLE) AS size,
               CAST(p_retailprice AS DOUBLE) AS retail_price
        FROM part
    )
    UNPIVOT (value FOR metric IN (size, retail_price))
    """,
)
def q_part_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshaping via the native ``unpivot``/melt operator
    (the inverse of the explicit-value pivot in
    ``event_type_daily_pivot``) — the report/ML-feature long form
    without a UNION of per-column scans: one scan, an Expand of k rows
    per input row, no shuffle at all. DuckDB's UNPIVOT is the oracle."""
    part = load_table(spark, "part", sf_dir).select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").cast("double").alias("retail_price"),
    )
    return part.unpivot(
        ids=["p_partkey"],
        values=["size", "retail_price"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(
    "daily_type_share",
    f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS date, event_type,
               {money_sum_sql('value')} AS type_value
        FROM events
        GROUP BY CAST(ts AS DATE), event_type
    )
    SELECT date, event_type, type_value,
           type_value / SUM(type_value) OVER (PARTITION BY date) AS share_of_day
    FROM daily
    """,
)
def q_daily_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total analytics: each event type's fraction of its
    day's total value — the aggregate-snapshot family (A6) with the
    window running over the AGGREGATE, not the fact: the heavy shuffle
    is the (date, type) group-by with map-side combine; the share
    window then partitions days x types rows (thousands, not billions),
    so the analytic step is free at any scale. The day total inside the
    window is an exact decimal sum surfaced as double in both engines,
    and the share division happens in the same expression order, so the
    doubles agree bit for bit."""
    ev = load_table(spark, "events", sf_dir)
    from pyspark.sql import Window as W

    daily = ev.groupBy(
        F.col("ts").cast("date").alias("date"), "event_type"
    ).agg(
        money_sum("value").alias("type_value")
    )
    # the window must sum the DECIMAL-exact per-type values the same way
    # the oracle does: SUM(double) over a day's handful of type rows is
    # deterministic because window frames evaluate in partition order
    day_total = F.sum("type_value").over(W.partitionBy("date"))
    return daily.select(
        "date",
        "event_type",
        "type_value",
        (F.col("type_value") / day_total).alias("share_of_day"),
    )


@query(
    "scd2_history",
    """
    SELECT user_id, event_type, value,
           CAST(ts AS TIMESTAMP) AS valid_from,
           CAST(LEAD(ts) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id
           ) AS TIMESTAMP) AS valid_to,
           CAST(CASE WHEN LEAD(ts) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id
           ) IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
    FROM events
    """,
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a changelog: every
    version of every (user, type) key gets a [valid_from, valid_to)
    interval via LEAD over the version sequence, open-ended (NULL) on
    the current version — the full-history companion to
    ``cdc_latest_state``'s type-1 compaction, and the table an as-of
    join (operators/asof.py) probes. One shuffle on the key, windows
    partition-local; at 100 TB the history table partitions by key
    hash and the window never crosses partitions."""
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_type",
        "value",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).cast("int").alias("is_current"),
    )


@query(
    "table_checksum",
    """
    WITH canon AS (
        SELECT o_orderkey % 16 AS bucket,
               concat_ws('|',
                   CAST(o_orderkey AS VARCHAR),
                   CAST(o_custkey AS VARCHAR),
                   o_orderstatus,
                   CAST(CAST(o_orderdate AS DATE) AS VARCHAR),
                   o_orderpriority) AS row_repr
        FROM orders
    )
    SELECT bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(('0x' || substr(md5(row_repr), 1, 15)) AS BIGINT))
                % 9007199254740881 AS BIGINT) AS checksum
    FROM canon GROUP BY bucket
    """,
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksums — the data-validation
    primitive a 100 TB migration/replication pipeline runs on both
    sides of a copy (and the integrity twin of the reference's
    volume-count reconciliation, MonarchMoneyMain-v3.py:1385-1410,
    which compares row counts only): each row canonicalizes to a
    stable string, hashes to a 60-bit integer (15 md5 hex chars — fits
    BIGINT, so both engines parse it exactly), and SUMS per bucket.

    Scale shape: addition is commutative, so the checksum needs no
    ordering guarantee — one scan + one map-side-combined aggregate
    keyed on the bucket; buckets let two sides localize a mismatch to
    1/16th of the table without re-hashing it all. Doubles stay OUT of
    the canonical string (engines render floats differently); the
    running sum is exact decimal/int128 — immune to overflow and float
    association — folded modulo the largest prime under 2^53 so the
    surfaced checksum is a plain BIGINT in both engines."""
    orders = load_table(spark, "orders", sf_dir)
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_orderdate").cast("date").cast("string"),
        F.col("o_orderpriority"),
    )
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("decimal(38,0)")
    return (
        orders.select(F.pmod("o_orderkey", F.lit(16)).alias("bucket"), h.alias("h"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum("h") % F.lit(9007199254740881)).cast("bigint").alias("checksum"),
        )
    )


# --------------------------------------------------------------------------
# Incremental aggregate maintenance: merge materialized partials + delta
# --------------------------------------------------------------------------

_INC_MERGE_SQL = f"""
SELECT CAST(ts AS DATE) AS event_date, event_type,
       COUNT(*) AS n_events,
       {money_sum_sql('value')} AS total_value,
       {money_sum_sql('value')} / COUNT(*) AS avg_value
FROM events
GROUP BY event_date, event_type
ORDER BY event_date, event_type
"""


@query("incremental_agg_merge", _INC_MERGE_SQL)
def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: the daily
    (event_date, event_type) rollup is NOT recomputed from the full
    fact — yesterday's materialized PARTIALS (count + exact-decimal
    sum, the mergeable state) are unioned with partials computed from
    only the last-7-days delta, then merged by one more groupBy. The
    oracle is the full recompute, so parity PROVES merge == recompute.

    Mergeable-state rules: COUNT merges by +, SUM merges by + (kept as
    MONEY_DECIMAL through the merge so neither the partial nor the
    merge order can flake a hash), AVG is NOT mergeable and is derived
    from the merged sum/count at the end — the same discipline the
    sketch family (hll/countmin) applies to its registers.

    Scale shape: at 100 TB the history partials are a stored table of
    ~|groups| rows read back in one scan (here simulated by a filtered
    aggregate over the same parquet); only the watermark window's delta
    touches the fact. Cost per refresh is O(delta + groups), not
    O(history) — the same contract as streaming/incremental.py's
    watermark pipeline, expressed for aggregates."""
    events = load_table(spark, "events", sf_dir)
    cutoff = events.agg(
        F.date_sub(F.max(F.col("ts")).cast("date"), 7).alias("cut")
    )
    dated = events.crossJoin(F.broadcast(cutoff)).select(
        F.col("ts").cast("date").alias("event_date"),
        "event_type",
        F.col("value").cast(MONEY_DECIMAL).alias("v"),
        (F.col("ts").cast("date") < F.col("cut")).alias("is_history"),
    )

    def partials(df):
        return df.groupBy("event_date", "event_type").agg(
            F.count(F.lit(1)).alias("p_count"),
            F.sum("v").alias("p_sum"),
        )

    history = partials(dated.filter(F.col("is_history")))   # stored MV stand-in
    delta = partials(dated.filter(~F.col("is_history")))    # watermark window
    merged = (
        history.unionByName(delta)
        .groupBy("event_date", "event_type")
        .agg(F.sum("p_count").alias("n_events"), F.sum("p_sum").alias("s"))
    )
    return merged.select(
        "event_date",
        "event_type",
        "n_events",
        F.col("s").cast("double").alias("total_value"),
        (F.col("s").cast("double") / F.col("n_events")).alias("avg_value"),
    ).orderBy("event_date", "event_type")


# --------------------------------------------------------------------------
# Z-order (Morton) layout keys: multi-dimensional clustering audit
# --------------------------------------------------------------------------


def _interleave_terms(a: str, b: str, bits: int = 8):
    """SQL text for the Morton interleave of two ``bits``-bit ints —
    ``a`` occupies even bit positions, ``b`` odd."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_ZORDER_SQL = f"""
WITH dims AS (
    SELECT user_id % 256 AS ua, dayofyear(ts) % 256 AS db FROM events
),
keyed AS (
    SELECT CAST({_interleave_terms('ua', 'db')} AS BIGINT) AS z_value, ua, db
    FROM dims
)
SELECT CAST(z_value >> 6 AS BIGINT) AS z_bucket,
       COUNT(*) AS n_rows,
       CAST(MIN(ua) AS BIGINT) AS min_user_bucket,
       CAST(MAX(ua) AS BIGINT) AS max_user_bucket,
       CAST(MIN(db) AS BIGINT) AS min_day_bucket,
       CAST(MAX(db) AS BIGINT) AS max_day_bucket
FROM keyed
GROUP BY z_bucket
ORDER BY z_bucket
"""


@query("zorder_layout_keys", _ZORDER_SQL)
def q_zorder_layout_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering keys over (user bucket, day of
    year): the 16-bit interleave of the two 8-bit dims, audited by the
    per-zbucket bounding box (min/max of each dim inside each 1024-row
    curve segment). Tight boxes on BOTH dims are the property that
    makes Z-ordered file layout prune multi-dimensional predicates —
    a sort by (user, day) gives perfect user pruning and useless day
    pruning; the curve bounds both.

    The interleave is 32 shift/mask/add integer terms — exact in both
    engines, no UDF, codegen-friendly. At 100 TB this expression is the
    sort key of the writer (``df.repartitionByRange(z).sortWithin-
    Partitions(z).write...``) so min/max parquet footer stats become
    2-D data-skipping indexes; this query is the audit that the layout
    would actually prune (the same role SCALECHECK plays for growth)."""
    events = load_table(spark, "events", sf_dir)
    dims = events.select(
        F.pmod(F.col("user_id"), F.lit(256)).alias("ua"),
        F.pmod(F.dayofyear("ts"), F.lit(256)).alias("db"),
    )
    keyed = dims.select(
        F.expr(f"CAST({_interleave_terms('ua', 'db')} AS BIGINT)").alias("z_value"),
        "ua",
        "db",
    )
    return (
        keyed.groupBy(F.expr("CAST(z_value >> 6 AS BIGINT)").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ua").cast("bigint").alias("min_user_bucket"),
            F.max("ua").cast("bigint").alias("max_user_bucket"),
            F.min("db").cast("bigint").alias("min_day_bucket"),
            F.max("db").cast("bigint").alias("max_day_bucket"),
        )
        .orderBy("z_bucket")
    )


# --------------------------------------------------------------------------
# Data-quality expectations: one-pass rule audit across fact + dim
# --------------------------------------------------------------------------

_DQ_SQL = """
WITH o AS (
    SELECT COUNT(*) AS n,
           COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_pk,
           SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS bad_price,
           SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS null_date
    FROM orders
),
l AS (
    SELECT COUNT(*) AS n,
           SUM(CASE WHEN l_quantity <= 0 OR l_quantity > 50 THEN 1 ELSE 0 END)
               AS bad_qty,
           SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
               AS bad_disc
    FROM lineitem
),
orphans AS (
    SELECT COUNT(*) AS n_orphan
    FROM lineitem li LEFT JOIN orders og ON li.l_orderkey = og.o_orderkey
    WHERE og.o_orderkey IS NULL
)
SELECT rule, CAST(violations AS BIGINT) AS violations,
       CAST(checked AS BIGINT) AS checked,
       (violations = 0) AS passed
FROM (
    SELECT 'orders_pk_unique' AS rule, dup_pk AS violations, n AS checked FROM o
    UNION ALL
    SELECT 'orders_price_positive', bad_price, n FROM o
    UNION ALL
    SELECT 'orders_date_not_null', null_date, n FROM o
    UNION ALL
    SELECT 'lineitem_qty_in_range', bad_qty, n FROM l
    UNION ALL
    SELECT 'lineitem_discount_in_range', bad_disc, n FROM l
    UNION ALL
    SELECT 'lineitem_fk_orders', n_orphan, (SELECT n FROM l) FROM orphans
)
ORDER BY rule
"""


@query("data_quality_expectations", _DQ_SQL)
def q_data_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-suite audit (the Great-Expectations shape): primary-
    key uniqueness, value-range, not-null, and referential-integrity
    rules evaluated as one row per rule with violation counts and a
    pass flag — the gate a 100 TB ingest runs between landing and
    publishing a partition (the generic sibling of the reference-
    specific ``reconciliation_audit``).

    Scale shape: each table's rules fold into ONE aggregate over ONE
    scan (no per-rule scans); the FK check is a broadcast-or-shuffle
    anti-join counted, not materialized. Adding a rule adds a column
    to an existing aggregate, not a pass over the data."""
    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    o = orders.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dup_pk"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("bad_price"),
        F.sum(F.when(F.col("o_orderdate").isNull(), 1).otherwise(0)).alias("null_date"),
    ).collect()[0]
    l = lineitem.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when((F.col("l_quantity") <= 0) | (F.col("l_quantity") > 50), 1).otherwise(0)
        ).alias("bad_qty"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0)
        ).alias("bad_disc"),
    ).collect()[0]
    n_orphan = (
        lineitem.join(
            orders.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_anti",
        ).count()
    )
    rules = [
        ("orders_pk_unique", int(o.dup_pk), int(o.n)),
        ("orders_price_positive", int(o.bad_price), int(o.n)),
        ("orders_date_not_null", int(o.null_date), int(o.n)),
        ("lineitem_qty_in_range", int(l.bad_qty), int(l.n)),
        ("lineitem_discount_in_range", int(l.bad_disc), int(l.n)),
        ("lineitem_fk_orders", int(n_orphan), int(l.n)),
    ]
    return spark.createDataFrame(
        [(r, v, c, v == 0) for r, v, c in sorted(rules)],
        "rule string, violations bigint, checked bigint, passed boolean",
    )
