"""Structured Streaming surface (SURVEY.md §1.2 "Spark model choice",
§2.9): the reference is a scheduled batch job, so the faithful streaming
mapping is an ``availableNow`` file-source stream — process everything
that exists now, then stop — plus watermarked tumbling-window
aggregation for the late-data semantics the reference implements by
window replacement (T2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dieter___etl___monarchmoney_spark.functions.money import money_sum

#: events schema as stored — ``ts`` is ``timestamp[us]`` without UTC
#: adjustment, which Spark 4 reads as TIMESTAMP_NTZ (see sources/parquet.py)
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (availableNow-style
    batch-complete source). At scale this is the same code over a
    growing directory — new files become micro-batches. Event time is
    normalized to the same (``ts`` TIMESTAMP, ``ts_ns`` BIGINT) contract
    as the batch loader, branching on the declared dtype."""
    from ..sources.parquet import _normalize_event_time

    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)  # file source wants a directory; glob picks the table
    )
    return _normalize_event_time(raw)


def daily_rollup_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """T1/T2 as Structured Streaming: watermarked tumbling daily window ×
    event_type, exact-decimal sums (monthly/daily snapshots A5/A6 as a
    continuous query)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            money_sum("value").alias("total_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").cast("date").alias("date"),
            "event_type",
            "total_value",
            "n_events",
        )
    )


#: state-store count of every stateful streaming operator (fixed per
#: checkpoint at first start from ``spark.sql.shuffle.partitions``)
STATE_PARTITIONS = 8


def run_available_now(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Execute a streaming DataFrame with the availableNow trigger into
    an in-memory sink and return the materialized result. ``complete``
    output mode emits final (watermark-closed) aggregates for
    batch-complete sources; stateful non-aggregate operators (streaming
    dedup) require ``append``.

    The stateful operators run with :data:`STATE_PARTITIONS` stores:
    each state partition carries fixed provider/commit overhead per
    micro-batch, so a stream-stream join at demo scale runs ~4× faster
    at 8 stores than 32, while a production deployment sizes it to
    cluster cores ÷ queries. The conf is set scoped — saved and
    restored around the run, never leaked into the session. Likewise
    the temp view the memory sink registers under ``name`` is dropped
    once the result frame is analysed: the frame holds the sink itself,
    not the name."""
    spark = stream_df.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    result = spark.table(name)
    spark.catalog.dropTempView(name)
    return result


def dedup_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming dedup: at most one emitted row per (user_id,
    event_type, event day), state expired by the event-time watermark —
    the streaming form of the incremental loader's replace-window dedup
    guarantee (SURVEY.md §2.7 note: key-based dedup as the robust
    upgrade over window replacement). Only the key columns are emitted,
    so which physical duplicate arrived first cannot leak into the
    result. At scale, dedup state is partitioned by key and bounded by
    the watermark horizon — memory is O(active keys), not O(stream)."""
    return (
        events.select(
            "user_id",
            "event_type",
            F.col("ts"),
            F.col("ts").cast("date").alias("event_date"),
        )
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "event_date"])
        .select("user_id", "event_type", "event_date")
    )


def interval_join_stream(
    purchases: DataFrame,
    views: DataFrame,
    minutes: int = 10,
    watermark: str = "1 day",
    how: str = "inner",
) -> DataFrame:
    """STREAM-STREAM inner join with an event-time range condition: each
    purchase matched to the same user's views in the preceding
    ``minutes`` — the streaming twin of the batch banded range join
    (operators/asof.py discusses the as-of variant).

    Both sides carry watermarks and the join predicate bounds event
    time on both inputs, so Spark can expire join state: a buffered
    view is dropped once the purchase-side watermark passes
    ``v_ts + minutes``; state is O(events inside the watermark horizon)
    per user, not O(stream). Append output — a matched pair emits
    exactly once, when the watermark proves no earlier match can still
    arrive. On a batch-complete (availableNow) source the emitted set
    equals the batch interval join, which is the registered oracle.

    ``how="leftOuter"`` adds the unmatched-purchase rows: Spark holds
    each left row in state until the watermark proves no qualifying
    view can still arrive, THEN emits it null-padded — the streaming
    twin of a batch LEFT JOIN, with the null-emission latency bounded
    by the watermark delay (state eviction is what triggers it, so a
    final watermark advance — e.g. a flush marker, or simply more data
    — must occur for tail rows to emit)."""
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", watermark)
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    ).withWatermark("v_ts", watermark)
    cond = (
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {minutes} MINUTES"))
        & (F.col("v_ts") <= F.col("p_ts"))
    )
    # coalesce the key: identical to p_user for inner/leftOuter (never
    # null there); for fullOuter an unmatched view carries only v_user
    return p.join(v, cond, how).select(
        "purchase_id",
        F.coalesce(F.col("p_user"), F.col("v_user")).alias("user_id"),
        "p_ts",
        "view_id",
        "v_ts",
    )


def enriched_rollup_stream(
    events: DataFrame, dim: DataFrame, watermark: str = "1 day"
) -> DataFrame:
    """Stream-static enrichment: join the event stream to a static
    dimension (broadcast per micro-batch — the streaming twin of J1's
    account-name map probe, MonarchMoneyMain-v3.py:1104-1110,1272-1274),
    then the watermarked daily rollup by the enriched key. The static
    side is re-read per micro-batch, so a dim refresh between batches is
    picked up without restarting the query."""
    from pyspark.sql.functions import broadcast

    joined = events.join(
        broadcast(dim.select(F.col("c_custkey").alias("user_id"), "nation")),
        "user_id",
    )
    return (
        joined.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "nation")
        .agg(
            money_sum("value").alias("total_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").cast("date").alias("date"),
            "nation",
            "total_value",
            "n_events",
        )
    )


def sliding_rollup_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Watermarked SLIDING-window rollup (2-day windows advancing by 1
    day): every event lands in exactly two overlapping windows — the
    trailing-aggregate shape (\"last 48 h per type, refreshed daily\")
    tumbling windows can't express. State is bounded by
    window/slide = 2 open windows per key per horizon; the watermark
    closes and evicts them in event-time order."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 days", "1 day").alias("w"), "event_type")
        .agg(
            money_sum("value").alias("total_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").cast("date").alias("win_start"),
            "event_type",
            "total_value",
            "n_events",
        )
    )
