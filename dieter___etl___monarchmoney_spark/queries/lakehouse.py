"""Lakehouse and temporal operators: time-travel and interval joins,
changelog (CDC) and merge-on-read resolution, retention and checksum
audits over partitions, the Spark-4 SQL surface (VARIANT, recursive
CTEs, LATERAL, named parameters, XML, observed metrics, Python UDTFs),
referential-integrity audits, and the co-purchase graph and rank
surfaces that share their order-keyed fixtures. Every query has a
DuckDB oracle twin unless its docstring says why not.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dieter___etl___monarchmoney_spark.functions.money import (
    MONEY_DECIMAL,
    MONEY_DECIMAL_SQL,
    money_sum,
    money_sum_sql,
)
from dieter___etl___monarchmoney_spark.pins import checkpoint
from dieter___etl___monarchmoney_spark.registry import query
from dieter___etl___monarchmoney_spark.sources.parquet import load_table, sf_tag


# ==========================================================================
# Temporal joins and collection algebra
# ==========================================================================

# --------------------------------------------------------------------------
# Fact → SCD2 dimension interval join (match the version valid at event time)
# --------------------------------------------------------------------------

_SCD2_JOIN_SQL = """
WITH purchases AS (
    SELECT event_id, user_id, ts
    FROM events WHERE event_type = 'purchase'
),
dim AS (
    SELECT user_id, value AS profile_value, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
    FROM events WHERE event_type = 'signup'
)
SELECT p.event_id, p.user_id,
       CAST(p.ts AS TIMESTAMP) AS purchase_ts,
       d.profile_value,
       CAST(d.valid_from AS TIMESTAMP) AS valid_from
FROM purchases p
JOIN dim d
  ON d.user_id = p.user_id
 AND p.ts >= d.valid_from
 AND (d.valid_to IS NULL OR p.ts < d.valid_to)
ORDER BY p.event_id
"""


@query("scd2_temporal_join", _SCD2_JOIN_SQL)
def q_scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact-to-SCD2 temporal join: each purchase matches the signup
    profile version whose [valid_from, valid_to) interval contains the
    purchase time — the canonical "enrich with the dimension AS OF the
    event" warehouse join (Kimball type-2 lookup). Signups play the
    versioned dimension (valid_to = next signup per user, open-ended
    current row); purchases are the fact.

    Semantics note vs the as-of join (operators/asof.py): as-of picks
    the LATEST version ≤ ts even when versions are sparse; the SCD2
    join is stricter — a fact BEFORE the first version matches nothing
    (no row), exactly the referential behavior a versioned dimension
    contracts. Both matter; they differ precisely on early facts.

    Scale shape: version intervals per user come from one LEAD window
    over the (small) dimension slice; the interval predicate rides an
    EQUI-join on user_id — Spark plans hash/sort-merge on the key and
    evaluates the range residually per key group (never a cross
    product; versions-per-user is bounded). At 100 TB the dim side is
    dimension-sized → broadcast; the fact never shuffles at all."""
    ev = load_table(spark, "events", sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("d_user_id"),
            F.col("value").alias("profile_value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
    )
    return (
        purchases.join(
            F.broadcast(dim),
            (F.col("user_id") == F.col("d_user_id"))
            & (F.col("ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
        )
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "profile_value",
            "valid_from",
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Conversion-lag quantiles (first view → first purchase, exact order stats)
# --------------------------------------------------------------------------

_LAG_QUANTS = (0.5, 0.9, 0.99)

_CONVLAG_SQL = f"""
WITH firsts AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               AS first_purchase
    FROM events GROUP BY user_id
),
lags AS (
    SELECT user_id,
           CAST(epoch_us(CAST(first_purchase AS TIMESTAMP))
                - epoch_us(CAST(first_view AS TIMESTAMP)) AS BIGINT)
               AS lag_us
    FROM firsts
    WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
      AND first_purchase >= first_view
),
ranked AS (
    SELECT lag_us,
           ROW_NUMBER() OVER (ORDER BY lag_us, user_id) AS r,
           COUNT(*) OVER () AS n
    FROM lags
)
SELECT {", ".join(
    f"MAX(CASE WHEN r = CAST(FLOOR({q} * (n - 1)) AS BIGINT) + 1 "
    f"THEN lag_us END) AS p{int(q * 100)}_lag_us"
    for q in _LAG_QUANTS
)},
       COUNT(*) AS n_converted
FROM ranked
"""


@query("conversion_lag_quantiles", _CONVLAG_SQL)
def q_conversion_lag_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, the lag from FIRST view
    to FIRST purchase; output the p50/p90/p99 of that lag as exact
    order statistics (rank floor(q·(n−1))+1 under the (lag, user_id)
    total order — the doc_length_band_filter discipline: rank
    selection, never interpolation, so both engines pick the same
    concrete user's lag).

    Scale shape: firsts is ONE map-side-combinable conditional-MIN
    aggregate over the fact (user-cardinality output); lags are pure
    row arithmetic in epoch micros (no timestamp subtraction semantics
    in play); the rank window orders user-cardinality rows — at 100 TB
    swap in approx_percentile over lag_us, same plan shape. The single
    global window is correct here: the lag table IS the small derived
    series, not the fact."""
    ev = load_table(spark, "events", sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    lags = firsts.filter(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select(
        "user_id",
        (
            F.unix_micros("first_purchase") - F.unix_micros("first_view")
        ).alias("lag_us"),
    )
    ranked = lags.select(
        "lag_us",
        F.row_number().over(Window.orderBy("lag_us", "user_id")).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    aggs = [
        F.max(
            F.when(
                F.col("r")
                == F.floor(F.lit(q) * (F.col("n") - 1)).cast("long") + 1,
                F.col("lag_us"),
            )
        ).alias(f"p{int(q * 100)}_lag_us")
        for q in _LAG_QUANTS
    ]
    return ranked.agg(*aggs, F.count(F.lit(1)).alias("n_converted"))


# --------------------------------------------------------------------------
# Array/map higher-order-function surface (§2.8's collection corner)
# --------------------------------------------------------------------------

_HOF_SQL = """
WITH per_order AS (
    SELECT l_orderkey,
           list_sort(list(l_quantity ORDER BY l_linenumber)) AS qtys_sorted,
           list(l_quantity ORDER BY l_linenumber) AS qtys
    FROM lineitem
    GROUP BY l_orderkey
)
SELECT l_orderkey,
       len(qtys) AS n_lines,
       list_reduce(list_prepend(CAST(0 AS DOUBLE), qtys),
                   (acc, x) -> acc + x) AS total_qty,
       qtys_sorted[1] AS min_qty,
       qtys_sorted[len(qtys_sorted)] AS max_qty,
       len(list_filter(qtys, x -> x >= 25.0)) AS n_bulk_lines,
       list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                list_transform(qtys, x -> x * x)),
                   (acc, x) -> acc + x) AS sumsq_qty
FROM per_order
ORDER BY l_orderkey
LIMIT 1000
"""


@query("order_lines_hof_profile", _HOF_SQL)
def q_order_lines_hof_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The collection-algebra surface (§2.8's array/map corner) as one
    registered query: per order, the line quantities are collected into
    an array IN LINE-NUMBER ORDER and every downstream statistic is a
    higher-order function over that array — transform (map), filter,
    aggregate (left fold), array_sort + element_at (order stats). The
    fold order is pinned by the collected order, so the double sums are
    engine-identical left folds (the _dot_sql discipline from the ANN
    family applied to the relational star).

    Scale shape: ONE shuffle (the per-order collect); every HOF then
    runs element-at-a-time inside the row — no further shuffles, no
    explode-back. This is the pattern that replaces "explode, window,
    re-aggregate" chains when the per-key payload is bounded (line
    counts are ≤7 here; guard collect_list payloads at scale). Top-1000
    by key is TakeOrderedAndProject."""
    li = load_table(spark, "lineitem", sf_dir)
    qtys = F.transform(
        F.array_sort(
            F.collect_list(F.struct(F.col("l_linenumber"), F.col("l_quantity")))
        ),
        lambda s: s["l_quantity"],
    )
    per_order = li.groupBy("l_orderkey").agg(qtys.alias("qtys"))
    zero = F.lit(0.0).cast("double")
    fold_sum = F.aggregate(F.col("qtys"), zero, lambda acc, x: acc + x)
    fold_sumsq = F.aggregate(
        F.transform(F.col("qtys"), lambda x: x * x),
        zero,
        lambda acc, x: acc + x,
    )
    qs = F.array_sort(F.col("qtys"))
    return (
        per_order.select(
            "l_orderkey",
            F.size("qtys").alias("n_lines"),
            fold_sum.alias("total_qty"),
            F.element_at(qs, 1).alias("min_qty"),
            F.element_at(qs, -1).alias("max_qty"),
            F.size(F.filter(F.col("qtys"), lambda x: x >= 25.0)).alias(
                "n_bulk_lines"
            ),
            fold_sumsq.alias("sumsq_qty"),
        )
        .orderBy("l_orderkey")
        .limit(1000)
    )


# ==========================================================================
# Spark-4 SQL surface
# ==========================================================================

# --------------------------------------------------------------------------
# Variant (semi-structured) analytics over events.props
# --------------------------------------------------------------------------

_VARIANT_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
           AS sum_k,
       COUNT(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT))
           AS n_distinct_k,
       CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
           AS max_k
FROM events
WHERE CAST(json_extract(props, '$.k') AS BIGINT) >= 10
GROUP BY event_type
ORDER BY event_type
"""


@query("variant_props_rollup", _VARIANT_SQL)
def q_variant_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured rollup through Spark 4's VARIANT type: the
    events.props JSON string parses ONCE into a binary variant
    (parse_json), fields come out typed via variant_get with a JSON
    path, and the filter/aggregate run on the extracted integers. The
    reference stores nested payloads as JSON strings and re-parses
    per access (F12 scalarize-to-JSON); Variant is the engine-native
    upgrade — parse once, access O(field), no schema migration when
    payloads evolve.

    Scale shape: parse_json + variant_get are per-row expressions
    inside the scan's project (no UDF, no shuffle); the rollup is one
    map-side-combinable aggregate over #event_types groups. At 100 TB
    the win over string JSON is the binary encoding: the parse cost is
    paid once per row, not once per field access, and shredded storage
    (Parquet variant shredding) pushes field pruning into the scan.
    Integer sums keep the oracle exact (no float JSON semantics)."""
    ev = load_table(spark, "events", sf_dir)
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k") >= 10)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.countDistinct("k").alias("n_distinct_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Recursive CTE: ancestry walk over a deterministic referral tree
# --------------------------------------------------------------------------

#: Both engines run the SAME recursive SQL text (dialect-identical):
#: the referral tree is the deterministic halving chain parent(u) = u/2
#: (integer division), giving every user a path to root 1 — a synthetic
#: but honest hierarchy (the star has no parent-keyed entity), and the
#: recursion itself is the thing under test: the ancestor count and the
#: depth must agree between Spark's recursive-CTE execution (iterative
#: union in the engine) and DuckDB's.
_RECURSIVE_SQL_BODY = """
WITH RECURSIVE walk (user_id, anc, depth) AS (
    SELECT user_id, user_id AS anc, 0 AS depth FROM users
    UNION ALL
    SELECT user_id, CAST(FLOOR(anc / 2) AS BIGINT) AS anc, depth + 1 AS depth
    FROM walk WHERE anc > 1
)
SELECT user_id,
       CAST(MAX(depth) AS BIGINT) AS depth_to_root,
       CAST(COUNT(*) AS BIGINT) AS n_ancestors,
       CAST(SUM(anc) AS BIGINT) AS anc_checksum
FROM walk
GROUP BY user_id
ORDER BY user_id
"""

#: DuckDB wants RECURSIVE right after WITH for the whole CTE list, so
#: the oracle prepends the users CTE inside the same WITH RECURSIVE.
_RECURSIVE_ORACLE = (
    "WITH RECURSIVE users AS (SELECT DISTINCT user_id FROM events),\n"
    + _RECURSIVE_SQL_BODY.replace("WITH RECURSIVE ", "", 1)
)


@query("recursive_referral_depth", _RECURSIVE_ORACLE)
def q_recursive_referral_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.1 WITH RECURSIVE): walk each user's
    referral ancestry — parent(u) = u ÷ 2, the deterministic halving
    tree — to the root, reporting depth, ancestor count, and a path
    checksum. The reference walks hierarchies client-side (category →
    group chains resolved per row in Python); a recursive CTE keeps
    the iteration IN the engine, where each step is a distributed
    self-union instead of a driver loop.

    Both engines execute the same recursive SQL text (DuckDB spells it
    `WITH RECURSIVE` inside the view chain), so the parity row checks
    Spark's iterative-union execution against an independent recursive
    executor — semantics, not just syntax.

    Scale shape: recursion depth is log2(max user_id) ≈ 17 at 10⁵
    users; each step is one narrow union-increment over the frontier
    (rows with anc > 1), so total work is O(users · depth) with no
    shuffle until the final per-user aggregate. The frontier never
    explodes: the halving tree has out-degree 1 upward."""
    users = load_table(spark, "events", sf_dir).select("user_id").distinct()
    return spark.sql(
        _RECURSIVE_SQL_BODY.replace("FROM users", "FROM {users}", 1), users=users
    )


# --------------------------------------------------------------------------
# LATERAL join: each order's best line via a correlated subquery
# --------------------------------------------------------------------------

_LATERAL_BODY = """
SELECT o.o_orderkey, o.o_orderpriority, l.l_linenumber, l.l_quantity
FROM orders o,
LATERAL (
    SELECT l_linenumber, l_quantity
    FROM lineitem
    WHERE l_orderkey = o.o_orderkey
    ORDER BY l_quantity DESC, l_linenumber
    LIMIT 1
) l
WHERE o.o_orderstatus = 'F'
ORDER BY o.o_orderkey
LIMIT 500
"""


@query("lateral_best_line_per_order", _LATERAL_BODY)
def q_lateral_best_line_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: for each finished order, its
    single largest-quantity line (deterministic tie-break on line
    number) — the per-row top-k join form SQL engines express as
    LATERAL and the reference expresses as a client-side loop over
    order ids (one GraphQL call per order, MonarchMoneyMain-v3 detail
    fetches). Identical SQL text runs on both engines.

    Scale shape: Catalyst decorrelates the LATERAL into a
    window/aggregate over the lineitem side keyed on l_orderkey joined
    back to orders — one orderkey shuffle, never a per-row subquery
    execution (the plan-hygiene sweep pins no CartesianProduct
    registry-wide). The same query via the DataFrame API is the
    max(struct) pattern (cdc_latest_state); LATERAL earns its place as
    the SQL-surface twin users migrate with."""
    sql = _LATERAL_BODY.replace("FROM orders o", "FROM {orders} o").replace(
        "FROM lineitem", "FROM {lineitem}"
    )
    return spark.sql(
        sql,
        orders=load_table(spark, "orders", sf_dir),
        lineitem=load_table(spark, "lineitem", sf_dir),
    )


# --------------------------------------------------------------------------
# Observation: in-flight data-quality metrics on the scan you already run
# --------------------------------------------------------------------------

_OBSERVE_SQL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       {money_sum_sql('value')} AS total_value,
       CAST(COUNT(CASE WHEN value < 0 THEN 1 END) AS BIGINT) AS n_negative,
       CAST(COUNT(CASE WHEN user_id IS NULL THEN 1 END) AS BIGINT)
           AS n_null_user,
       CAST(MIN(value) AS DOUBLE) AS min_value,
       CAST(MAX(value) AS DOUBLE) AS max_value
FROM events
"""


@query("observed_scan_metrics", _OBSERVE_SQL)
def q_observed_scan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality metrics via ``DataFrame.observe`` — Spark's
    in-flight observation channel: the counters ride the SAME job that
    scans the data (accumulator-backed, zero extra passes in a real
    pipeline), instead of the reference's separate validation queries
    (reconciliation_audit's protocol run as a second scan). Here the
    observed frame is driven by a count() and the collected metrics
    come back as a 1-row frame so the oracle can check the VALUES the
    channel reports — observation is only worth having if its numbers
    equal the ground-truth aggregate.

    Scale shape: observe() adds per-partition accumulator updates to
    an existing action — O(1) extra state per task, no shuffle, no
    second scan in production (the demo's count() stands in for the
    pipeline's real action). The sum uses the exact-decimal pattern so
    the observed total is order-independent like every other money
    aggregate in the repo."""
    from pyspark.sql import Observation

    ev = load_table(spark, "events", sf_dir)
    obs = Observation(f"scan_audit_{sf_tag(sf_dir)}")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        money_sum("value").alias(
            "total_value"
        ),
        F.count(F.when(F.col("value") < 0, 1)).alias("n_negative"),
        F.count(F.when(F.col("user_id").isNull(), 1)).alias("n_null_user"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    observed.count()  # the action the metrics ride on
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                float(m["total_value"]),
                m["n_negative"],
                m["n_null_user"],
                float(m["min_value"]),
                float(m["max_value"]),
            )
        ],
        "n_rows long, total_value double, n_negative long, n_null_user long, "
        "min_value double, max_value double",
    )


# ==========================================================================
# Named parameters and the XML codec
# ==========================================================================

# --------------------------------------------------------------------------
# Parameterized SQL: named-parameter binding
# --------------------------------------------------------------------------

_PARAM_ETYPE = "purchase"
_PARAM_MINV = 50.0

_PARAM_SQL = f"""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_big_purchases,
       {money_sum_sql('value')} AS total_value
FROM events
WHERE event_type = '{_PARAM_ETYPE}' AND value >= {_PARAM_MINV}
GROUP BY user_id
ORDER BY user_id
"""


@query("parameterized_sql_filter", _PARAM_SQL)
def q_parameterized_sql_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL: the predicate literals bind via
    ``spark.sql(..., args={...})`` markers (``:etype``, ``:minv``)
    instead of f-string interpolation — no injection surface, and the
    parse tree is stable across argument values (the property a
    query-service front-end needs for plan caching). The oracle is the
    same query with the literals inlined, so a green row proves the
    bound parameters reach the predicate unchanged.

    Scale shape: identical to the literal form — Catalyst folds the
    bound constants before optimization, so pushdown/pruning see plain
    literals (the parameter marker costs nothing at the scan)."""
    return spark.sql(
        f"""
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_big_purchases,
               {money_sum_sql('value')} AS total_value
        FROM {{events}}
        WHERE event_type = :etype AND value >= :minv
        GROUP BY user_id
        ORDER BY user_id
        """,
        args={"etype": _PARAM_ETYPE, "minv": _PARAM_MINV},
        events=load_table(spark, "events", sf_dir),
    )


# --------------------------------------------------------------------------
# Native XML: render -> parse round trip
# --------------------------------------------------------------------------

_XML_SQL = """
SELECT event_id, event_type, CAST(value AS DOUBLE) AS value
FROM events
WHERE event_type IN ('purchase', 'signup')
ORDER BY event_id
"""


@query("xml_roundtrip_extract", _XML_SQL)
def q_xml_roundtrip_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML codec round trip: each event renders to an XML
    element via ``to_xml(struct(...))``, then ``from_xml`` parses it
    back against an explicit schema, and the EXTRACTED fields are the
    query's output — which must equal a plain projection of the source
    (the oracle). A codec is only trustworthy if decode(encode(x)) is
    the identity; this query makes that property a hash-checked row,
    the same round-trip discipline as the JSON sink and the VARIANT
    query.

    Scale shape: both directions are per-row expressions inside
    whole-stage codegen — no shuffle, no Python; schema-explicit
    from_xml (never schema inference on a 100 TB table). The DOUBLE
    value column round-trips through XML text: Spark renders doubles
    with round-trippable precision, and the parse returns the
    identical IEEE value — pinned by the oracle hash against the
    never-serialized original."""
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin("purchase", "signup")
    )
    xml = ev.select(
        F.to_xml(
            F.struct(
                F.col("event_id"),
                F.col("event_type"),
                F.col("value").cast("double").alias("value"),
            ),
            {"rootTag": "event"},
        ).alias("x")
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    parsed = xml.select(F.from_xml(F.col("x"), schema).alias("e"))
    return parsed.select(
        F.col("e.event_id").alias("event_id"),
        F.col("e.event_type").alias("event_type"),
        F.col("e.value").alias("value"),
    ).orderBy("event_id")


# ==========================================================================
# Merge-on-read and CDC changelog apply
# ==========================================================================

# --------------------------------------------------------------------------
# Merge-on-read: base ∖ upserted-keys ∪ upserts, minus the delete vector
# --------------------------------------------------------------------------

#: deterministic derivation of the three MOR inputs from events:
#: base holds residues 0/1, the delta UPDATES residue-1 rows (value
#: doubled) and INSERTS residue-2 rows, and the delete vector removes
#: event_id % 10 == 4 after the merge.
_MOR_SQL = f"""
WITH base AS (
    SELECT event_id, event_type, value FROM events WHERE event_id % 3 IN (0, 1)
),
upserts AS (
    SELECT event_id, event_type,
           CASE WHEN event_id % 3 = 1 THEN value * 2 ELSE value END AS value
    FROM events WHERE event_id % 3 IN (1, 2)
),
deletes AS (SELECT event_id FROM events WHERE event_id % 10 = 4),
resolved AS (
    SELECT b.event_id, b.event_type, b.value
    FROM base b LEFT JOIN upserts u ON u.event_id = b.event_id
    WHERE u.event_id IS NULL
    UNION ALL
    SELECT event_id, event_type, value FROM upserts
)
SELECT r.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {money_sum_sql('r.value')} AS total_value
FROM resolved r
LEFT JOIN deletes d ON d.event_id = r.event_id
WHERE d.event_id IS NULL
GROUP BY r.event_type
ORDER BY r.event_type
"""


@query("merge_on_read_view", _MOR_SQL)
def q_merge_on_read_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read resolution: a base snapshot, an upsert delta
    (updates + inserts keyed by primary key), and a delete vector are
    reconciled AT READ TIME — base rows lose to same-key upserts
    (anti join), upserts append, deleted keys drop — then the
    per-type rollup runs over the resolved view. The inputs derive
    deterministically from events (residue classes), so the oracle
    replays the identical algebra.

    Scale shape: this is the read path Hudi MOR / Delta deletion
    vectors compile to — the delta and the delete vector are SMALL
    relative to base (here ⅓ and 1/10), so both anti-joins broadcast
    and base never shuffles; compaction (the foreachBatch MVCC upsert,
    compaction_bin_packing) periodically folds the delta back so read
    amplification stays bounded. Copy-on-write vs merge-on-read is
    the write-amplification/read-amplification trade, and the repo
    now demonstrates both sides."""
    ev = load_table(spark, "events", sf_dir).select("event_id", "event_type", "value")
    base = ev.filter(F.col("event_id") % 3 <= 1)
    upserts = ev.filter(F.col("event_id") % 3 >= 1).select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 3 == 1, F.col("value") * 2)
        .otherwise(F.col("value"))
        .alias("value"),
    )
    deletes = ev.filter(F.col("event_id") % 10 == 4).select("event_id")
    kept_base = base.join(
        F.broadcast(upserts.select("event_id")), "event_id", "left_anti"
    )
    resolved = kept_base.unionByName(upserts).join(
        F.broadcast(deletes), "event_id", "left_anti"
    )
    return (
        resolved.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            money_sum("value").alias("total_value"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# CDC: op-aware changelog apply (latest op wins; deletes remove the key)
# --------------------------------------------------------------------------

#: synthetic but deterministic op log over events: each event is an
#: operation on its (user_id, event_type) entity — last digit 9 is a
#: DELETE, 6-8 are UPDATEs (value tripled), the rest INSERTs.
_CDC_SQL = """
WITH oplog AS (
    SELECT user_id, event_type, ts, event_id,
           CASE WHEN event_id % 10 = 9 THEN 'D'
                WHEN event_id % 10 >= 6 THEN 'U'
                ELSE 'I' END AS op,
           CASE WHEN event_id % 10 >= 6 AND event_id % 10 <= 8
                THEN value * 3 ELSE value END AS value
    FROM events
),
latest AS (
    SELECT user_id, event_type, op, value, event_id,
           epoch_us(CAST(ts AS TIMESTAMP)) AS op_ts_us,
           ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM oplog
)
SELECT user_id, event_type, value AS last_value,
       event_id AS last_event_id, op_ts_us
FROM latest
WHERE rn = 1 AND op <> 'D'
ORDER BY user_id, event_type
"""


@query("cdc_changelog_apply", _CDC_SQL)
def q_cdc_changelog_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op-aware CDC apply: an I/U/D changelog resolves to current
    state by LATEST-OP-WINS per key, and a key whose newest operation
    is a DELETE disappears from the state entirely — the semantics a
    Debezium/binlog consumer needs, one step past cdc_latest_state's
    delete-free compaction.

    Scale shape: identical to the compaction — ONE
    max(struct(ts_ns, event_id, op, value)) per key, partial-
    aggregable map-side (no window, no per-key sort); the delete
    filter runs on the compacted key-cardinality frame. The op column
    rides inside the struct so the winning row's op arrives with its
    value for free — resolving deletes costs one post-aggregate
    filter, not a second pass over the log."""
    ev = load_table(spark, "events", sf_dir)
    mod = F.col("event_id") % 10
    oplog = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(mod == 9, "D").when(mod >= 6, "U").otherwise("I").alias("op"),
        F.when((mod >= 6) & (mod <= 8), F.col("value") * 3)
        .otherwise(F.col("value"))
        .alias("value"),
    )
    compacted = (
        oplog.groupBy("user_id", "event_type")
        .agg(
            F.max(
                F.struct(
                    F.unix_micros("ts").alias("op_ts_us"),
                    F.col("event_id"),
                    F.col("op"),
                    F.col("value"),
                )
            ).alias("m")
        )
        .select(
            "user_id",
            "event_type",
            F.col("m.value").alias("last_value"),
            F.col("m.event_id").alias("last_event_id"),
            F.col("m.op_ts_us").alias("op_ts_us"),
            F.col("m.op").alias("op"),
        )
    )
    return (
        compacted.filter(F.col("op") != "D")
        .drop("op")
        .orderBy("user_id", "event_type")
    )


# ==========================================================================
# Integrity audits, co-purchase graph and rank surfaces
# ==========================================================================

# --------------------------------------------------------------------------
# Referential-integrity audit (orphaned foreign keys vs a corrupted replica)
# --------------------------------------------------------------------------

#: (relation label, child table, fk col, parent table, pk col). The
#: parent side is read through the "corrupted replica" predicate
#: ``pk % 13 <> 0`` — simulating a replica that lost 1-in-13 parent
#: rows — so the audit produces non-zero orphan counts to certify
#: (the pristine synthetic tables have none).
_FK_RELATIONS = (
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
)

_FK_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{rel}' AS relation,
       CAST(COUNT({fk}) AS BIGINT) AS fk_rows,
       CAST(SUM(CASE WHEN {fk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS null_fk_rows,
       CAST(SUM(CASE WHEN {fk} IS NOT NULL AND NOT EXISTS (
                SELECT 1 FROM {parent} p
                WHERE p.{pk} % 13 <> 0 AND p.{pk} = c.{fk})
            THEN 1 ELSE 0 END) AS BIGINT) AS orphan_rows
FROM {child} c"""
    for rel, child, fk, parent, pk in _FK_RELATIONS
)


@query("fk_integrity_audit", _FK_SQL + "\nORDER BY relation")
def q_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the star schema's six FK
    relations, checked against a simulated corrupted replica of each
    parent (every 13th key dropped): per relation, non-null FK rows,
    null FKs, and orphans — the volume-validation discipline of the
    reference's post-load reconciliation (MonarchMoneyMain-v3.py)
    generalized from row counts to key integrity.

    Scale shape: each relation is one left join of the child's FK
    column against the parent's DISTINCT key set (nation broadcasts;
    the fact-sized parents shuffle on the key and AQE downgrades to
    broadcast where stats allow) feeding a single-row partial-agg
    count — no NOT-EXISTS per-row subquery on the Spark side, that is
    oracle-only phrasing of the same semijoin."""
    out = None
    for rel, child, fk, parent, pk in _FK_RELATIONS:
        c = load_table(spark, child, sf_dir).select(F.col(fk).alias("k"))
        p = (
            load_table(spark, parent, sf_dir)
            .filter(F.col(pk) % 13 != 0)
            .select(F.col(pk).alias("k"))
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
        row = (
            c.join(p, "k", "left")
            .agg(
                F.lit(rel).alias("relation"),
                F.count("k").alias("fk_rows"),
                F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("null_fk_rows"),
                F.sum(
                    F.when(F.col("k").isNotNull() & F.col("__hit").isNull(), 1)
                    .otherwise(0)
                )
                .cast("bigint")
                .alias("orphan_rows"),
            )
            .select("relation", "fk_rows", "null_fk_rows", "orphan_rows")
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("relation")


# --------------------------------------------------------------------------
# Market-basket co-purchase pairs + the k-core of the co-purchase graph
# --------------------------------------------------------------------------

_COPURCHASE_EDGES_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM op a
    JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
)"""


@query(
    "copurchase_frequent_pairs",
    _COPURCHASE_EDGES_SQL
    + "\nSELECT part_a, part_b, n_orders FROM edges ORDER BY part_a, part_b",
)
def q_copurchase_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent co-purchase part pairs — the first A-priori pass of
    market-basket analysis: parts appearing together in at least 2
    distinct orders.

    Scale shape: the pair generation self-joins on the ORDER key, so
    the blow-up is bounded by max-basket-size² per order (TPC-H caps
    lines per order at 7) — Σsize² stays linear in orders, never the
    all-pairs |parts|² a part-keyed join would pay. DISTINCT
    (order, part) first so repeated lines of one part can't inflate
    support; the support filter rides the pair aggregate's HAVING
    (map-side partial counts)."""
    op = (
        load_table(spark, "lineitem", sf_dir)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = op.alias("a"), op.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .orderBy("part_a", "part_b")
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q_copurchase_frequent_pairs(spark, sf_dir).select("part_a", "part_b")


_KCORE_K = 3
_KCORE_ROUNDS = 4


def _kcore_round_sql(i: int) -> str:
    """One unrolled peel: degrees of e{i-1}, keep nodes with deg >= k,
    keep edges with both endpoints kept. Every round's CTEs are
    MATERIALIZED: DuckDB inlines a plain CTE at each reference, and a
    round reads the previous round's edges five times (once directly,
    twice through each k{i} lookup), so inlined rounds multiply the
    work instead of adding to it."""
    return f"""
d{i} AS MATERIALIZED (
    SELECT node, COUNT(*) AS c FROM (
        SELECT part_a AS node FROM e{i - 1}
        UNION ALL SELECT part_b FROM e{i - 1}
    ) GROUP BY node
),
k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE c >= {_KCORE_K}),
e{i} AS MATERIALIZED (
    SELECT part_a, part_b FROM e{i - 1}
    WHERE part_a IN (SELECT node FROM k{i})
      AND part_b IN (SELECT node FROM k{i})
)"""


_KCORE_SQL = (
    _COPURCHASE_EDGES_SQL
    + ",\ne0 AS MATERIALIZED (SELECT part_a, part_b FROM edges),"
    + ",".join(_kcore_round_sql(i) for i in range(1, _KCORE_ROUNDS + 1))
    + f"""
SELECT node AS part_id, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM (
    SELECT part_a AS node FROM e{_KCORE_ROUNDS}
    UNION ALL SELECT part_b FROM e{_KCORE_ROUNDS}
)
GROUP BY node ORDER BY part_id"""
)


@query("copurchase_kcore", _KCORE_SQL)
def q_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-core decomposition of the co-purchase graph by iterative
    peeling, {r} rounds unrolled: each round drops nodes with degree
    < {k} and the edges touching them; survivors' degrees after the
    final round are the output. The peel count is PART OF THE QUERY'S
    SEMANTICS (both engines run exactly {r} rounds), so parity holds
    whether or not the graph has converged — on these SFs {r} rounds
    reaches the fixpoint.

    Scale shape (round-9 rewrite, VERDICT r8 #3): INCREMENTAL degree
    maintenance. Degrees are aggregated over the full edge set exactly
    ONCE; each peel round then (1) derives the kill set (degree < k) —
    a node-dimension frame that SHRINKS fast after round 1, so both
    edge joins against it are broadcast-side under AQE, never a
    shuffle of the edge fact — (2) splits edges into kept vs dropped
    with one pass over the checkpointed edge frame, and (3) updates
    degrees by SUBTRACTING the dropped-edge endpoint counts (an
    aggregate over the dropped edges only, which after round 1 is a
    sliver) instead of re-grouping the full surviving edge set. The
    old form paid two full-fact sort-merge joins against the LARGE
    keep set plus a 2|E|-row degree shuffle per round; the new form's
    per-round cost is one broadcast-joined scan plus two node-sized
    aggregates — that constant per-round overhead is what kept the 4x
    growth ratio at 2.12 (SCALECHECK_r8) when every per-round quantity
    except the scan itself is sublinear in |E|. Lineage truncation
    (round 10, VERDICT r9 #7): only the TWICE-consumed ``marked``
    frame and the node-sized ``deg`` are localCheckpoint-ed per round;
    the kept-edge frame is a plain filter over marked's checkpoint
    (O(1) lineage depth anyway), so each round materializes the full
    edge set ONCE instead of twice — that second full-edge write per
    round was the bulk of the 2.15 → 3.16 s small-scale tax the r9
    rewrite paid. Same truncation discipline as neardup_clusters'
    label propagation. Degree parity with the
    re-aggregating oracle is exact: for every kept node, degrees over
    the kept edges equal the prior degree minus its dropped-incident
    count, and a node peeled to degree 0 is killed (0 < k) next round
    exactly like its vanished oracle row. The oracle is the identical
    peel unrolled as chained CTEs.""".format(k=_KCORE_K, r=_KCORE_ROUNDS)
    edges = checkpoint(_copurchase_edges(spark, sf_dir))
    deg = checkpoint(
        edges.select(F.col("part_a").alias("node"))
        .unionAll(edges.select(F.col("part_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    for _ in range(_KCORE_ROUNDS):
        kill = deg.filter(F.col("c") < _KCORE_K).select("node")
        marked = checkpoint(
            edges.join(
                kill.select(F.col("node").alias("part_a"), F.lit(True).alias("a_rm")),
                "part_a",
                "left",
            )
            .join(
                kill.select(F.col("node").alias("part_b"), F.lit(True).alias("b_rm")),
                "part_b",
                "left",
            )
        )
        edges = marked.filter(
            F.col("a_rm").isNull() & F.col("b_rm").isNull()
        ).select("part_a", "part_b")
        delta = (
            marked.filter(F.col("a_rm").isNotNull() | F.col("b_rm").isNotNull())
            .select(F.explode(F.array("part_a", "part_b")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        deg = checkpoint(
            # survivors = NOT-killed; node is unique in deg so the
            # filter is the anti-join against kill, minus the join
            deg.filter(F.col("c") >= _KCORE_K)
            .join(delta, "node", "left")
            .select(
                "node",
                (F.col("c") - F.coalesce(F.col("d"), F.lit(0))).alias("c"),
            )
        )
    return (
        edges.select(F.col("part_a").alias("part_id"))
        .unionAll(edges.select(F.col("part_b").alias("part_id")))
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .orderBy("part_id")
    )


# --------------------------------------------------------------------------
# Window-rank function surface
# --------------------------------------------------------------------------

_RANK_SURFACE_SQL = """
SELECT c_custkey, c_nationkey, c_acctbal,
       CAST(ntile(4) OVER w AS BIGINT) AS wealth_quartile,
       ROUND(percent_rank() OVER w, 9) AS pct_rank,
       ROUND(cume_dist() OVER w, 9) AS cume,
       lag(c_acctbal) OVER w AS richer_neighbor_bal,
       first_value(c_custkey) OVER wf AS nation_richest,
       nth_value(c_acctbal, 2) OVER wf AS nation_second_bal
FROM customer
WINDOW
  w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey),
  wf AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY c_custkey
"""


@query("window_rank_surface", _RANK_SURFACE_SQL)
def q_window_rank_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking-window function surface in one panel — ntile,
    percent_rank, cume_dist, lag, first_value, nth_value — over
    per-nation customer-balance windows (the reference sorts accounts
    by balance within type the same way; this is that surface at full
    SQL breadth).

    Every window partitions by nation — no global window anywhere —
    and orders by the unique (balance DESC, custkey) pair so ranks are
    tie-proof in both engines. The frame-sensitive functions
    (first/nth_value) pin an explicit ROWS frame because engines agree
    on the default only when spelled out."""
    cust = load_table(spark, "customer", sf_dir)
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return cust.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.ntile(4).over(w).cast("bigint").alias("wealth_quartile"),
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
        F.lag("c_acctbal").over(w).alias("richer_neighbor_bal"),
        F.first("c_custkey").over(wf).alias("nation_richest"),
        F.nth_value("c_acctbal", 2).over(wf).alias("nation_second_bal"),
    ).orderBy("c_custkey")


# --------------------------------------------------------------------------
# Spearman rank correlation between event-type daily series
# --------------------------------------------------------------------------

_SPEARMAN_SQL = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           SUM(CAST(value AS {MONEY_DECIMAL_SQL})) AS dval
    FROM events GROUP BY 1, 2
),
ranked AS (
    SELECT event_type, day,
           CAST(row_number() OVER (
               PARTITION BY event_type ORDER BY dval, day) AS BIGINT) AS r
    FROM daily
),
paired AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.r AS ra, b.r AS rb
    FROM ranked a
    JOIN ranked b ON a.day = b.day AND a.event_type < b.event_type
)
SELECT type_a, type_b, CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(
         (COUNT(*) * SUM(ra * rb) - SUM(ra) * SUM(rb))
         / sqrt(CAST((COUNT(*) * SUM(ra * ra) - SUM(ra) * SUM(ra))
                     * (COUNT(*) * SUM(rb * rb) - SUM(rb) * SUM(rb))
                AS DOUBLE)),
         9) AS spearman_rho
FROM paired
GROUP BY type_a, type_b
ORDER BY type_a, type_b
"""


@query("spearman_daily_correlation", _SPEARMAN_SQL)
def q_spearman_daily_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between every pair of event types'
    daily-volume series — the robust do-these-streams-move-together
    panel (series_correlation_matrix's Pearson twin, immune to the
    heavy right tail of `value`).

    Determinism contract: daily values aggregate in MONEY_DECIMAL
    (value is 2dp money-like; 18,6 casts identically in both engines)
    (order-proof sums), ranks come from row_number over the unique
    (value, day) order (integer, tie-proof), and the correlation is
    assembled from exact BIGINT rank sums via the closed form — never
    a floating corr() aggregate whose accumulation order differs
    between engines. The day-keyed pair join is |types|² × days rows —
    trivially bounded because event-type cardinality is a dimension,
    not data-sized."""
    events = load_table(spark, "events", sf_dir)
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.col("value").cast(MONEY_DECIMAL)).alias("dval"))
    ranked = daily.select(
        "event_type",
        "day",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("dval", "day"))
        .cast("bigint")
        .alias("r"),
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    paired = a.join(
        b,
        (F.col("a.day") == F.col("b.day"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    ).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.r").alias("ra"),
        F.col("b.r").alias("rb"),
    )
    n = F.count(F.lit(1))
    num = n * F.sum(F.col("ra") * F.col("rb")) - F.sum("ra") * F.sum("rb")
    den = F.sqrt(
        (
            (n * F.sum(F.col("ra") * F.col("ra")) - F.sum("ra") * F.sum("ra"))
            * (n * F.sum(F.col("rb") * F.col("rb")) - F.sum("rb") * F.sum("rb"))
        ).cast("double")
    )
    return (
        paired.groupBy("type_a", "type_b")
        .agg(
            n.cast("bigint").alias("n_days"),
            F.round(num / den, 9).alias("spearman_rho"),
        )
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------------------------------------
# Per-partition checksum diff (incremental validation of a replica)
# --------------------------------------------------------------------------


def _row_hash(col: Column) -> Column:
    """32-bit bounded md5 prefix as BIGINT — small enough that a
    per-partition SUM stays exactly inside BIGINT at any realistic
    partition size (2^32 × 10^9 rows < 2^63)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )


_HEX8 = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split(substr(md5(CAST(event_id AS VARCHAR)), 1, 8), ''), "
    "ch -> CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT))), "
    "(acc, d) -> acc * 16 + d)"
)

_CHECKSUM_DIFF_SQL = f"""
WITH full_t AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({_HEX8}) AS BIGINT) AS cksum
    FROM events GROUP BY 1
),
replica AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({_HEX8}) AS BIGINT) AS cksum
    FROM events WHERE event_id % 997 <> 0 GROUP BY 1
)
SELECT f.day, f.n AS rows_full, COALESCE(r.n, 0) AS rows_replica,
       f.n - COALESCE(r.n, 0) AS missing_rows,
       f.cksum - COALESCE(r.cksum, 0) AS checksum_delta
FROM full_t f LEFT JOIN replica r ON f.day = r.day
WHERE f.cksum IS DISTINCT FROM r.cksum
ORDER BY f.day
"""


@query("partition_checksum_diff", _CHECKSUM_DIFF_SQL)
def q_partition_checksum_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day-partition checksum diff between the events table and a
    simulated replica missing 1-in-997 rows: emits only the partitions
    whose content hash disagrees, with row and checksum deltas. This
    is THE primitive for validating a 100 TB replicated table — two
    partition-grained aggregate scans and a partition-count-sized
    join, instead of a row-level full-table compare; only flagged
    partitions then need row-level repair.

    The checksum is a SUM of 32-bit-bounded md5 prefixes per row:
    order-insensitive (so partition layout can't change it), exactly
    BIGINT-safe at any partition size, and identical hex-fold
    semantics in both engines."""
    events = load_table(spark, "events", sf_dir)

    def snap(df: DataFrame) -> DataFrame:
        return df.groupBy(F.to_date("ts").alias("day")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(_row_hash(F.col("event_id"))).cast("bigint").alias("cksum"),
        )

    full_t = snap(events)
    replica = snap(events.filter(F.col("event_id") % 997 != 0))
    r = replica.select(
        F.col("day"),
        F.col("n").alias("rn"),
        F.col("cksum").alias("rcksum"),
    )
    return (
        full_t.join(r, "day", "left")
        .filter(~F.col("cksum").eqNullSafe(F.col("rcksum")))
        .select(
            "day",
            F.col("n").alias("rows_full"),
            F.coalesce(F.col("rn"), F.lit(0)).cast("bigint").alias("rows_replica"),
            (F.col("n") - F.coalesce(F.col("rn"), F.lit(0)))
            .cast("bigint")
            .alias("missing_rows"),
            (F.col("cksum") - F.coalesce(F.col("rcksum"), F.lit(0)))
            .cast("bigint")
            .alias("checksum_delta"),
        )
        .orderBy("day")
    )


# ==========================================================================
# Bitemporal reads, retention and the UDTF lane
# ==========================================================================

# --------------------------------------------------------------------------
# Bitemporal as-of / as-at reconstruction
# --------------------------------------------------------------------------

#: deterministic simulated ingestion delay: event_id % 49 hours — a
#: skewed late-arrival distribution (up to 2 days) derived from data
#: already present, so both engines see identical transaction times.
_ARRIVAL_SQL = "ts + to_hours(event_id % 49)"
_AS_OF_VALID = "2024-01-15 00:00:00"  # valid-time cutoff V
#: transaction-time cutoff T sits only 12h past V while arrival delays
#: run up to 48h — so a slice of facts valid before V had NOT yet
#: arrived at T and must be invisible. (With T ≥ V + max-delay the
#: transaction axis would never bite; the unit test pins that the
#: bitemporal winner differs from the valid-only winner somewhere.)
_AS_AT_TX = "2024-01-15 12:00:00"

_BITEMPORAL_SQL = f"""
WITH versioned AS (
    SELECT user_id, event_type, value, ts,
           {_ARRIVAL_SQL} AS arrival_ts, event_id
    FROM events
),
known AS (
    SELECT * FROM versioned
    WHERE ts <= TIMESTAMP '{_AS_OF_VALID}'
      AND arrival_ts <= TIMESTAMP '{_AS_AT_TX}'
),
latest AS (
    SELECT user_id, event_type, value,
           epoch_us(ts) AS valid_us, epoch_us(arrival_ts) AS tx_us,
           row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM known
)
SELECT user_id, event_type, value, valid_us, tx_us
FROM latest WHERE rn = 1
ORDER BY user_id, event_type
"""


@query("bitemporal_as_of_as_at", _BITEMPORAL_SQL)
def q_bitemporal_as_of_as_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal state reconstruction — the lakehouse question
    `scd2_history` (valid time) and `cdc_latest_state` (latest only)
    cannot answer alone: *what did we believe the state AS OF valid
    time V was, AS AT transaction time T?* Transaction time is a
    deterministic simulated ingestion delay (event_id % 49 hours), so
    late-arriving facts visible at T but valid before V are included
    while facts that had not yet ARRIVED at T are excluded — exactly
    the reproducible-training-snapshot guarantee
    `pit_training_features` needs, here generalized to two axes.

    Scale shape: two pushdown-friendly timestamp range predicates
    filter the scan, then one keep-latest window per (user, type) —
    the cdc_latest_state plan with a second filter; timestamps emit
    as epoch-micros BIGINTs per the hashing contract."""
    events = load_table(spark, "events", sf_dir)
    versioned = events.withColumn(
        "arrival_ts",
        F.col("ts") + F.make_interval(hours=F.col("event_id") % 49),
    )
    known = versioned.filter(
        (F.col("ts") <= F.lit(_AS_OF_VALID).cast("timestamp"))
        & (F.col("arrival_ts") <= F.lit(_AS_AT_TX).cast("timestamp"))
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        known.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "value",
            F.unix_micros("ts").alias("valid_us"),
            F.unix_micros("arrival_ts").alias("tx_us"),
        )
        .orderBy("user_id", "event_type")
    )


# --------------------------------------------------------------------------
# Keep-latest-N retention pruning with content checksum
# --------------------------------------------------------------------------

_RETENTION_N = 3

_RETENTION_SQL = f"""
WITH ranked AS (
    SELECT event_type, event_id,
           row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
)
SELECT event_type,
       CAST(SUM(CASE WHEN rn <= {_RETENTION_N} THEN 1 ELSE 0 END) AS BIGINT)
           AS kept_rows,
       CAST(SUM(CASE WHEN rn > {_RETENTION_N} THEN 1 ELSE 0 END) AS BIGINT)
           AS pruned_rows,
       CAST(SUM(CASE WHEN rn <= {_RETENTION_N} THEN
            list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(string_split(
                    substr(md5(CAST(event_id AS VARCHAR)), 1, 8), ''),
                ch -> CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT))),
                (acc, d) -> acc * 16 + d)
            ELSE 0 END) AS BIGINT) AS kept_checksum
FROM ranked GROUP BY event_type ORDER BY event_type
"""


@query("retention_policy_prune", _RETENTION_SQL)
def q_retention_policy_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-{n} retention policy audit: per event type, how
    many rows a keep-N-versions-per-(user, type) policy retains and
    prunes, plus an order-insensitive checksum of the KEPT set — the
    dry-run every lakehouse VACUUM/retention job should emit before
    deleting, so the kept content is verifiable against the replica
    (`partition_checksum_diff`'s repair contract applied to
    retention).

    One rank window per (user, type) — bounded partitions — and one
    conditional partial aggregate; the checksum reuses the
    32-bit-bounded md5-prefix row hash (BIGINT-exact at any
    scale).""".format(n=_RETENTION_N)
    from dieter___etl___monarchmoney_spark.queries.lakehouse import _row_hash

    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = events.select(
        "event_type", "event_id", F.row_number().over(w).alias("rn")
    )
    keep = F.col("rn") <= _RETENTION_N
    return (
        ranked.groupBy("event_type")
        .agg(
            F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("kept_rows"),
            F.sum(F.when(~keep, 1).otherwise(0))
            .cast("bigint")
            .alias("pruned_rows"),
            F.sum(F.when(keep, _row_hash(F.col("event_id"))).otherwise(0))
            .cast("bigint")
            .alias("kept_checksum"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Python UDTF chunker — the fourth sanctioned Python lane
# --------------------------------------------------------------------------

_CHUNK_SIZE = 40

_UDTF_CHUNK_SQL = rf"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(trim(text)), '\s+'),
                       t -> t <> '') AS tk
    FROM documents
)
SELECT doc_id,
       CAST(i - 1 AS BIGINT) AS chunk_id,
       CAST(len(tk[(i - 1) * {_CHUNK_SIZE} + 1 : i * {_CHUNK_SIZE}]) AS BIGINT)
           AS n_tokens,
       md5(array_to_string(
           tk[(i - 1) * {_CHUNK_SIZE} + 1 : i * {_CHUNK_SIZE}], ' '))
           AS chunk_fp
FROM toks,
     unnest(generate_series(
         1, CAST(ceil(len(tk) / {_CHUNK_SIZE}.0) AS BIGINT))) AS u(i)
WHERE len(tk) > 0
ORDER BY doc_id, chunk_id
"""


@query("udtf_chunk_explode", _UDTF_CHUNK_SQL)
def q_udtf_chunk_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document → fixed-{n}-token chunk rows through a PYTHON UDTF in
    a LATERAL join — the fourth sanctioned Python lane (the
    table-function API the scalar/grouped Arrow lanes don't cover),
    Arrow-batched (ArrowEvalPythonUDTF — the plan-hygiene test pins
    that no row-pickling BatchEvalPython node appears), called
    without registration and invoked per input row. Output is (doc_id,
    chunk_id, n_tokens, md5 fingerprint), so the hash certifies the
    UDTF's row fan-out AND its chunk contents against the pure-SQL
    twin.

    Hot-path note (same contract as the other lanes): the JVM-side
    equivalent is `chunk_sliding_windows`' sequence+slice expression —
    this lane exists to pin the UDTF API's semantics and measured
    cost, not to recommend it for 100 TB chunking. The UDTF is
    stateless and per-row (no partition-level state), so Spark
    parallelizes it like any projection; chunk fingerprints are
    md5-of-joined-tokens, bit-identical to the SQL twin because
    Python's whitespace split equals the \\s+ regex filter
    semantics.""".format(n=_CHUNK_SIZE)
    import hashlib

    from pyspark.sql.functions import udtf

    # defined lazily: a module-level UDTF with a DDL-string return type
    # parses against the active session at import time (engine-gotchas)
    @udtf(
        returnType="chunk_id: bigint, n_tokens: bigint, chunk_fp: string",
        useArrow=True,
    )
    class ChunkUDTF:
        def eval(self, text: str):
            toks = [t for t in text.lower().strip().split() if t]
            for i in range(0, len(toks), _CHUNK_SIZE):
                chunk = toks[i : i + _CHUNK_SIZE]
                yield (
                    i // _CHUNK_SIZE,
                    len(chunk),
                    hashlib.md5(" ".join(chunk).encode()).hexdigest(),
                )

    # useArrow=True on the decorator (resolved at DECORATION time, so a
    # session conf set later in this function would not take): the plan
    # node is ArrowEvalPythonUDTF, not the row-pickling BatchEval form —
    # pinned by test_whole_registry_plan_hygiene. Called directly in a
    # DataFrame lateral join, it leaves no name in the caller's session.
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text").alias("d")
    return (
        docs.lateralJoin(ChunkUDTF(F.col("d.text").outer()).alias("c"))
        .select("d.doc_id", "c.chunk_id", "c.n_tokens", "c.chunk_fp")
        .orderBy("doc_id", "chunk_id")
    )


# --------------------------------------------------------------------------
# GROUPING_ID subtotal surface
# --------------------------------------------------------------------------

_GROUPING_ID_SQL = f"""
SELECT COALESCE(r.r_name, '(all)') AS region_name,
       COALESCE(n.n_name, '(all)') AS nation_name,
       CAST(GROUPING(r.r_name) * 2 + GROUPING(n.n_name) AS BIGINT)
           AS grouping_id,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       {money_sum_sql('c.c_acctbal')} AS total_balance
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
ORDER BY grouping_id, region_name, nation_name
"""


@query("grouping_id_rollup_report", _GROUPING_ID_SQL)
def q_grouping_id_rollup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (region, nation) with GROUPING_ID disambiguating
    subtotal rows from real '(all)'-named groups — the piece of the
    grouping-sets surface `budget_grouping_sets` and `cashflow_cube`
    don't exercise: the grouping FLAG itself as an output column
    (Spark `F.grouping` ↔ SQL GROUPING()), which downstream report
    layers key on to style subtotal rows.

    One pass, map-side partial aggregation across all three grouping
    sets; dims broadcast; balances through the MONEY_DECIMAL money
    contract."""
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            (F.grouping("r_name") * 2 + F.grouping("n_name"))
            .cast("bigint")
            .alias("grouping_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            money_sum("c_acctbal")
            .alias("total_balance"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("(all)")).alias("region_name"),
            F.coalesce(F.col("n_name"), F.lit("(all)")).alias("nation_name"),
            "grouping_id",
            "n_customers",
            "total_balance",
        )
        .orderBy("grouping_id", "region_name", "nation_name")
    )
