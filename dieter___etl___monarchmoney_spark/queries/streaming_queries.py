"""Streaming + sessionization queries (SURVEY.md §2.9)."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.functions.money import money_sum_sql
from dieter___etl___monarchmoney_spark.registry import query
from dieter___etl___monarchmoney_spark.sources.materialize import (
    current_table_dir,
    point_current,
)
from dieter___etl___monarchmoney_spark.sources.parquet import (
    _normalize_event_time,
    load_table,
    sf_tag,
)
from dieter___etl___monarchmoney_spark.streaming.sessionize import sessionize_batch
from dieter___etl___monarchmoney_spark.streaming.stream_reader import (
    EVENTS_RAW_SCHEMA,
    daily_rollup_stream,
    dedup_stream,
    read_events_stream,
    run_available_now,
)


@query(
    "streaming_daily_rollup",
    f"""
    SELECT CAST(ts AS DATE) AS date, event_type,
           {money_sum_sql('value')} AS total_value,
           COUNT(*) AS n_events
    FROM events
    GROUP BY CAST(ts AS DATE), event_type
    """,
)
def q_streaming_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T2/A5-A6 as Structured Streaming: file-source stream →
    watermarked tumbling daily window → availableNow execution. On a
    batch-complete source the result equals the batch daily rollup, so
    the oracle is the plain GROUP BY — proving the streaming path
    computes the same answer."""
    stream = daily_rollup_stream(read_events_stream(spark, sf_dir))
    return run_available_now(stream, f"daily_rollup_{sf_tag(sf_dir)}")


#: Shared oracle for batch + streaming sessionization. Session bounds
#: are emitted as epoch-microsecond BIGINTs (``epoch_us`` / Spark
#: ``unix_micros``) rather than TIMESTAMPs: the r2 driver row was
#: rows/schema-green but hash-red with bit-identical local replays, so
#: the sensitive surface (collect-time timestamp rendering) is removed
#: outright. ``event_id`` tie-breaks BOTH windows so the result is
#: deterministic even on future tied (user_id, ts) data.
#:
#: The likely TRUE r2 red-row cause: the windowed SUM makes session_id
#: a DuckDB HUGEINT, which pandas widens to float64 (3.0 vs Spark's
#: BIGINT 3) — values equal, repr-based hashes differ. The final SELECT
#: therefore casts session_id back to BIGINT; the parity harness
#: (tests/oracle_utils.py:_check_dtype_kinds) now pins the whole class.
_SESSIONIZATION_ORACLE = """
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_break
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM flagged
    )
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           epoch_us(CAST(MIN(ts) AS TIMESTAMP)) AS session_start_us,
           epoch_us(CAST(MAX(ts) AS TIMESTAMP)) AS session_end_us,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """


def _session_bounds_as_micros(sessions: DataFrame) -> DataFrame:
    """Project session bounds to epoch-micros BIGINTs (hash-robust
    driver surface; see _SESSIONIZATION_ORACLE note)."""
    return sessions.select(
        "user_id",
        "session_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    )


@query("sessionization", _SESSIONIZATION_ORACLE)
def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (batch form): 30-min-gap sessions per
    user via lag → break flag → running session counter. The streaming
    twin (applyInPandasWithState) is registered as sessionize_stream
    below against the same oracle."""
    events = load_table(spark, "events", sf_dir)
    return _session_bounds_as_micros(sessionize_batch(events))


@query(
    "streaming_event_dedup",
    """
    SELECT DISTINCT user_id, event_type, CAST(ts AS DATE) AS event_date
    FROM events
    """,
)
def q_streaming_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup via dropDuplicatesWithinWatermark (append mode):
    one row per (user, event type, day) with state bounded by the
    event-time watermark. On a batch-complete source the emitted set
    equals batch DISTINCT over the keys, so the oracle is plain SELECT
    DISTINCT — proving the stateful streaming path computes the same
    answer the relational form does."""
    stream = dedup_stream(read_events_stream(spark, sf_dir))
    return run_available_now(
        stream,
        f"event_dedup_{sf_tag(sf_dir)}",
        output_mode="append",
    )


@query(
    "streaming_enriched_rollup",
    f"""
    SELECT CAST(e.ts AS DATE) AS date, n.n_name AS nation,
           {money_sum_sql('e.value')} AS total_value,
           COUNT(*) AS n_events
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY CAST(e.ts AS DATE), n.n_name
    """,
)
def q_streaming_enriched_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (the streaming operator family the batch J1
    enrichment maps to): the event stream joins the static customer →
    nation dimension — broadcast to every micro-batch, no stream-side
    shuffle for the join — then rolls up daily totals per nation under a
    watermark. On a batch-complete source the result equals the batch
    join + GROUP BY, which is the oracle."""
    from dieter___etl___monarchmoney_spark.streaming.stream_reader import (
        enriched_rollup_stream,
    )

    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    dim = customer.join(
        nation, customer.c_nationkey == nation.n_nationkey
    ).select("c_custkey", F.col("n_name").alias("nation"))
    stream = enriched_rollup_stream(read_events_stream(spark, sf_dir), dim)
    return run_available_now(stream, f"enriched_rollup_{sf_tag(sf_dir)}")


@query(
    "streaming_interval_join",
    """
    SELECT p.event_id AS purchase_id, p.user_id,
           CAST(p.ts AS TIMESTAMP) AS p_ts,
           v.event_id AS view_id,
           CAST(v.ts AS TIMESTAMP) AS v_ts
    FROM events p
    JOIN events v
      ON p.user_id = v.user_id
     AND v.ts BETWEEN p.ts - INTERVAL 10 MINUTE AND p.ts
    WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    """,
)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time bounds and watermarked
    state expiry (streaming/stream_reader.py:interval_join_stream):
    purchases matched to the same user's views in the preceding 10
    minutes. Two streams over the same file source (a self-join at the
    stream level); on a batch-complete source the appended pairs equal
    the batch interval join, which is the oracle."""
    from dieter___etl___monarchmoney_spark.streaming.stream_reader import (
        interval_join_stream,
    )

    ev = read_events_stream(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase")
    views = ev.filter(F.col("event_type") == "view")
    stream = interval_join_stream(purchases, views, minutes=10)
    return run_available_now(
        stream,
        f"interval_join_{sf_tag(sf_dir)}",
        output_mode="append",
    )


def _flush_augmented_events(spark: SparkSession, sf_dir: str, tag: str, sentinels):
    """Events stream unioned with flush-sentinel events 30 days past the
    global max event time. ``sentinels(events, sentinel_ts)`` builds the
    sentinel rows in the raw events schema; they are written once to a
    per-``tag`` temp directory and streamed back. Returns ``(stream,
    sentinel_us)``: the sentinels push the watermark past every real
    event, so stateful operators close and emit their tail, and the
    caller drops any output at/after ``sentinel_us`` or with a sentinel
    id. At scale this is the standard end-of-log flush-marker pattern;
    a live deployment never flushes and relies on timeouts/watermark
    instead."""
    events = load_table(spark, "events", sf_dir)
    row = events.agg(
        F.max("ts").alias("max_ts"), F.unix_micros(F.max("ts")).alias("max_us")
    ).first()
    sentinel_ts = row["max_ts"] + dt.timedelta(days=30)
    sentinel_us = row["max_us"] + 30 * 86_400 * 1_000_000

    sent_dir = os.path.join(tempfile.gettempdir(), f"{tag}_flush_{sf_tag(sf_dir)}")
    shutil.rmtree(sent_dir, ignore_errors=True)
    sentinels(events, sentinel_ts).write.parquet(sent_dir)

    flush = _normalize_event_time(
        spark.readStream.schema(EVENTS_RAW_SCHEMA).parquet(sent_dir)
    )
    return read_events_stream(spark, sf_dir).unionByName(flush), sentinel_us


def _per_user_sentinels(events: DataFrame, sentinel_ts) -> DataFrame:
    """One sentinel per user: its >30-min gap closes every real session."""
    return events.select("user_id").distinct().select(
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(sentinel_ts).cast("timestamp_ntz").alias("ts"),
        "user_id",
        F.lit("__flush__").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )


def _per_type_sentinels(events: DataFrame, sentinel_ts) -> DataFrame:
    """One sentinel per event_type (user 0): triggers each group's emit."""
    return events.select("event_type").distinct().select(
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(sentinel_ts).cast("timestamp_ntz").alias("ts"),
        F.lit(0).cast("long").alias("user_id"),
        "event_type",
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )


def _join_sentinels(events: DataFrame, sentinel_ts) -> DataFrame:
    """One purchase and one view at user −1: they pass both join sides'
    filters and push BOTH sides' watermarks."""
    return events.sparkSession.createDataFrame(
        [
            (-1, sentinel_ts, -1, "purchase", 0.0, None),
            (-2, sentinel_ts, -1, "view", 0.0, None),
        ],
        EVENTS_RAW_SCHEMA,
    )


@query("sessionize_stream", _SESSIONIZATION_ORACLE)
def q_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState sessionizer (streaming/sessionize.py:63)
    run availableNow against the SAME oracle as the batch form — the two
    independent implementations must produce identical session rows.

    The stream only emits CLOSED sessions (the final open session per
    user lives in state with nothing left to advance the watermark past
    it), so the source is flush-augmented (_flush_augmented_events);
    the sentinel's own session stays open in state and is never emitted
    (the start-bound filter guards it regardless)."""
    from dieter___etl___monarchmoney_spark.streaming.sessionize import (
        sessionize_stream,
    )

    source, sentinel_us = _flush_augmented_events(
        spark, sf_dir, "sessionize", _per_user_sentinels
    )
    res = run_available_now(
        sessionize_stream(source),
        f"sessionize_stream_{sf_tag(sf_dir)}",
        output_mode="append",
    )
    return _session_bounds_as_micros(res).filter(
        F.col("session_start_us") < F.lit(sentinel_us)
    )


#: Oracle for the NATIVE session_window twin. Spark's built-in session
#: window is right-open — an event landing exactly at window end starts
#: a NEW session — so the break condition is ``gap >= 30 min`` where the
#: custom twins use ``gap > 30 min``; with microsecond event times the
#: boundary is measure-zero but the oracle must not paper over it. No
#: session ordinal: native windows carry no per-user sequence number.
_SESSION_WINDOW_ORACLE = """
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_break
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sid
        FROM flagged
    )
    SELECT user_id,
           epoch_us(CAST(MIN(ts) AS TIMESTAMP)) AS session_start_us,
           epoch_us(CAST(MAX(ts) AS TIMESTAMP)) AS session_end_us,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """


@query("sessionize_native_stream", _SESSION_WINDOW_ORACLE)
def q_sessionize_native_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third sessionization implementation: Spark's BUILT-IN
    ``session_window`` aggregate (dynamic-gap session windows merged by
    the engine's state store) over the flush-augmented stream, in
    append mode so only watermark-finalized sessions emit. Three
    independent paths — batch window functions, applyInPandasWithState,
    native session_window — now cross-check the same semantics.

    Scale note: this is the PREFERRED production form — state lives in
    the JVM state store (no Arrow transfer), merges are engine-managed,
    and the watermark bounds state exactly as the custom operator's
    timeout does. The custom twin remains the template for session
    logic the built-in can't express (e.g. counter-carrying state)."""
    source, sentinel_us = _flush_augmented_events(
        spark, sf_dir, "sessionize_native", _per_user_sentinels
    )
    agg = (
        source.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.unix_micros("session_start").alias("session_start_us"),
            F.unix_micros("session_end").alias("session_end_us"),
            "n_events",
        )
    )
    res = run_available_now(
        agg,
        f"sessionize_native_{sf_tag(sf_dir)}",
        output_mode="append",
    )
    return res.filter(F.col("session_start_us") < F.lit(sentinel_us))


@query(
    "streaming_left_join",
    """
    SELECT p.event_id AS purchase_id, p.user_id,
           epoch_us(CAST(p.ts AS TIMESTAMP)) AS p_ts_us,
           v.event_id AS view_id,
           epoch_us(CAST(v.ts AS TIMESTAMP)) AS v_ts_us
    FROM events p
    LEFT JOIN events v
      ON p.user_id = v.user_id
     AND v.event_type = 'view'
     AND v.ts BETWEEN p.ts - INTERVAL 10 MINUTE AND p.ts
    WHERE p.event_type = 'purchase'
    """,
)
def q_streaming_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the stateful-operator
    family the inner form can't exercise: an unmatched purchase is held
    in state until the watermark PROVES no qualifying view can still
    arrive, then emits null-padded, exactly once. On a batch-complete
    source the emitted set equals the batch LEFT JOIN (the oracle).

    Tail rows only emit after a final watermark advance, so the source
    unions a flush-marker stream (one sentinel purchase + one sentinel
    view at user −1, 30 days out — they pass the per-side filters and
    push BOTH sides' watermarks, and the global watermark is their
    min). Sentinel output rows are dropped by the purchase_id ≥ 0
    filter; sentinels can't touch real rows (user −1, far-future
    bounds). Timestamps surface as epoch-micros BIGINTs — the
    hash-robust convention sessionization established."""
    from dieter___etl___monarchmoney_spark.streaming.stream_reader import (
        interval_join_stream,
    )

    ev, _ = _flush_augmented_events(spark, sf_dir, "left_join", _join_sentinels)
    purchases = ev.filter(F.col("event_type") == "purchase")
    views = ev.filter(F.col("event_type") == "view")
    stream = interval_join_stream(purchases, views, minutes=10, how="leftOuter")
    res = run_available_now(
        stream,
        f"left_join_{sf_tag(sf_dir)}",
        output_mode="append",
    )
    return res.filter(F.col("purchase_id") >= 0).select(
        "purchase_id",
        "user_id",
        F.unix_micros("p_ts").alias("p_ts_us"),
        "view_id",
        F.unix_micros("v_ts").alias("v_ts_us"),
    )


@query(
    "streaming_full_outer_join",
    """
    SELECT p.event_id AS purchase_id,
           COALESCE(p.user_id, v.user_id) AS user_id,
           epoch_us(CAST(p.ts AS TIMESTAMP)) AS p_ts_us,
           v.event_id AS view_id,
           epoch_us(CAST(v.ts AS TIMESTAMP)) AS v_ts_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts BETWEEN p.ts - INTERVAL 10 MINUTE AND p.ts
    """,
)
def q_streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the streaming
    join matrix (inner / leftOuter / fullOuter): BOTH sides' unmatched
    rows are held in state until the watermark proves no qualifying
    partner can still arrive, then emit null-padded exactly once. On a
    batch-complete source the emitted set equals the batch FULL OUTER
    interval join (the oracle). Flush sentinels (one far-future
    purchase + view at user −1) advance both watermarks so tail rows
    emit; sentinel rows are dropped on BOTH id columns."""
    from dieter___etl___monarchmoney_spark.streaming.stream_reader import (
        interval_join_stream,
    )

    ev, _ = _flush_augmented_events(spark, sf_dir, "full_outer", _join_sentinels)
    purchases = ev.filter(F.col("event_type") == "purchase")
    views = ev.filter(F.col("event_type") == "view")
    stream = interval_join_stream(purchases, views, minutes=10, how="fullOuter")
    res = run_available_now(
        stream,
        f"full_outer_join_{sf_tag(sf_dir)}",
        output_mode="append",
    )
    return res.filter(
        (F.col("purchase_id").isNull() | (F.col("purchase_id") >= 0))
        & (F.col("view_id").isNull() | (F.col("view_id") >= 0))
    ).select(
        "purchase_id",
        "user_id",
        F.unix_micros("p_ts").alias("p_ts_us"),
        "view_id",
        F.unix_micros("v_ts").alias("v_ts_us"),
    )


@query(
    "streaming_sliding_rollup",
    f"""
    WITH starts AS (
        SELECT event_type, value,
               unnest([CAST(ts AS DATE), CAST(ts AS DATE) - 1]) AS win_start
        FROM events
    )
    SELECT win_start, event_type,
           {money_sum_sql('value')} AS total_value,
           COUNT(*) AS n_events
    FROM starts
    GROUP BY win_start, event_type
    """,
)
def q_streaming_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming rollup: 2-day windows advancing by 1
    day under a watermark — each event contributes to exactly two
    overlapping windows (trailing 48-hour totals refreshed daily).

    The oracle expands the window calendar relationally: every event
    unnests into its two window-start dates and a plain GROUP BY
    aggregates — on a batch-complete availableNow source Spark's
    sliding-window state machine must emit exactly that relation
    (window starts align to whole days because the slide is 1 day and
    epoch day 0 anchors the grid in both engines).

    Scale shape: state is window/slide = 2 live windows per
    (window, type) key within the watermark horizon; eviction is
    event-time ordered. The per-event fan-out is 2 regardless of data
    size (window/slide), unlike a per-event range self-join."""
    from dieter___etl___monarchmoney_spark.streaming.stream_reader import (
        sliding_rollup_stream,
    )

    stream = sliding_rollup_stream(read_events_stream(spark, sf_dir))
    return run_available_now(stream, f"sliding_rollup_{sf_tag(sf_dir)}")


def _ewma_stream_oracle() -> str:
    from dieter___etl___monarchmoney_spark.queries.stats_ops import _EWMA_SQL

    return _EWMA_SQL


@query("ewma_stream", _ewma_stream_oracle())
def q_ewma_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState EWMA (streaming/ewma_stream.py) run
    availableNow against the SAME recursive-CTE oracle as the batch
    fold (stats_ops ewma_smoothing) — two independent implementations
    of a recursive statistic, one windowless fold and one stateful
    stream, must produce identical smoothed series. Next to
    sessionize_stream this is the second custom stateful operator
    family: sessions carry interval state, this carries an exact
    integer accumulator plus the float recurrence — and the
    exact-decimal discipline survives the Arrow round trip (the fn
    reproduces Spark's double→MONEY_DECIMAL cast and F.round(…, 9)
    digit for digit).

    Flush uses the shared end-of-log sentinel pattern: one marker per
    event_type 30 days past max event time triggers the group's emit;
    markers are never accumulated. A live deployment instead emits
    closed days from the event-time timeout path with state bounded by
    the watermark's calendar horizon."""
    from dieter___etl___monarchmoney_spark.streaming.ewma_stream import ewma_stream

    source, _ = _flush_augmented_events(spark, sf_dir, "ewma", _per_type_sentinels)
    out = ewma_stream(source)
    return run_available_now(
        out,
        f"ewma_stream_{sf_tag(sf_dir)}",
        output_mode="append",
    )


@query(
    "streaming_sink_roundtrip",
    "SELECT event_id, user_id, event_type FROM events",
)
def q_streaming_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The connector's STREAMING sink on the parity surface: the events
    stream writes through ``writeStream.format("paged_json")`` — each
    micro-batch commits as one idempotent ``epoch-<id>.jsonl`` file
    (sources/paged_source.PagedJsonStreamWriter; exactly-once via
    epoch-named rename, the file-sink transactional pattern) — and the
    committed epochs are read back as a batch frame. The oracle reads
    the source table directly, so a green row proves the stream sink
    neither dropped, duplicated, nor mangled a record across the
    write → commit → read cycle. A unit test additionally pins the
    restart path: re-running from the same checkpoint adds zero rows."""
    import glob as _glob

    from dieter___etl___monarchmoney_spark.sources.paged_source import register

    register(spark)
    out = os.path.join(tempfile.gettempdir(), f"stream_sink_{sf_tag(sf_dir)}")
    cp = os.path.join(tempfile.gettempdir(), f"stream_sink_cp_{sf_tag(sf_dir)}")
    for d in (out, cp):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    stream = read_events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type"
    )
    qh = (
        stream.writeStream.format("paged_json")
        .option("path", out)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    qh.awaitTermination()
    assert _glob.glob(os.path.join(out, "epoch-*.jsonl"))
    return spark.read.schema("event_id long, user_id long, event_type string").json(
        os.path.join(out, "epoch-*.jsonl")
    )


_UPSERT_SQL = """
    SELECT user_id, event_type, event_id AS last_event_id,
           CAST(ts AS TIMESTAMP) AS last_ts, value AS last_value
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id, event_type
            ORDER BY ts DESC, event_id DESC
        ) AS rn
        FROM events
    ) WHERE rn = 1
"""


@query("streaming_upsert_foreachbatch", _UPSERT_SQL)
def q_streaming_upsert_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``foreachBatch`` MERGE-upsert — the production pattern for
    "stream a changelog into a keyed table" when the sink has no native
    upsert (plain parquet here; on Delta/Iceberg the body of the batch
    function becomes a single MERGE INTO and nothing else changes).

    The events table is re-chunked into 4 files and streamed with
    maxFilesPerTrigger=1, so the upsert genuinely runs across MULTIPLE
    micro-batches: each batch reduces itself to its latest row per
    (user_id, event_type) — max(struct(ts_ns, event_id, …)), the same
    partial-aggregable compaction as cdc_latest_state — then merges
    with the current state and commits a NEW state version through
    the versioned-table pointer of ``sources/materialize.py``
    (``point_current`` writes, ``current_table_dir`` resolves — the
    single commit point; the prior version outlives the commit, so a
    crash at any instant leaves a complete committed state). The
    final state must equal the BATCH latest-per-key oracle
    — proving the incremental path converges to the batch answer no
    matter how the input was chunked.

    Scale shape: per-batch work is one map-side-combinable aggregate
    over the batch plus a keyed merge against state; state is rewritten
    per batch ONLY because parquet has no row-level ops (the documented
    api.py save() limitation) — the merge itself shuffles on the state
    key, and a partitioned/bucketed state dir (or Delta MERGE) bounds
    the rewrite to touched buckets at 100 TB."""
    root = os.path.join(tempfile.gettempdir(), f"upsert_fb_{sf_tag(sf_dir)}")
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "src")
    cp = os.path.join(root, "cp")
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "ts", "ts_ns", "value"
    )
    ev.repartition(4).write.mode("overwrite").parquet(src)

    key = ["user_id", "event_type"]

    def _latest(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(*key)
            .agg(
                F.max(
                    F.struct(
                        F.col("ts_ns"), F.col("event_id"), F.col("ts"), F.col("value")
                    )
                ).alias("m")
            )
            .select(
                *key,
                F.col("m.ts_ns").alias("ts_ns"),
                F.col("m.event_id").alias("event_id"),
                F.col("m.ts").alias("ts"),
                F.col("m.value").alias("value"),
            )
        )

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        latest = _latest(batch)
        sess = batch.sparkSession
        sd = current_table_dir(root)
        if sd is not None:
            merged = _latest(sess.read.parquet(sd).unionByName(latest))
        else:
            merged = latest
        # MVCC commit: write the new version fully, then repoint
        # CURRENT (point_current). The prior version stays on disk
        # until AFTER the commit — readers and crash-recovery always
        # see a complete committed state. Epoch ids are stable across
        # checkpoint replays, so a replayed batch overwrites its own
        # version dir idempotently.
        version = f"state_v{epoch_id}"
        new_dir = os.path.join(root, version)
        shutil.rmtree(new_dir, ignore_errors=True)
        merged.write.mode("overwrite").parquet(new_dir)
        point_current(root, version)
        # one writer, so superseded versions are pruned at once — best
        # effort: failure leaves garbage directories, never corruption
        for d in os.listdir(root):
            if d.startswith("state_v") and d != version:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
    )
    qh = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    qh.awaitTermination()
    final = current_table_dir(root)
    assert final is not None, "stream committed no batches"
    return spark.read.parquet(final).select(
        "user_id",
        "event_type",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("value").alias("last_value"),
    )
