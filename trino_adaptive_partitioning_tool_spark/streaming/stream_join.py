"""Stream-stream interval join (SURVEY §2.9 extension — absent in the
batch-only reference).

Two event streams (clicks and purchases tailed from the same file
source) are joined per user within a bounded event-time interval:
purchase.ts in [click.ts, click.ts + max_gap]. Both sides carry
watermarks, so Spark can bound the join state buffer and emit in append
mode — the canonical attribution-join topology. At scale the state store
holds only the watermark window per key, independent of total history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


# Per-trigger file budget for the JSON event feeds. Several oracled
# queries (click attribution, dedup of a doubled feed) are deterministic
# ONLY when the whole feed drains in a single availableNow micro-batch —
# multi-batch drains let watermark eviction drop interval-join matches or
# split duplicate pairs. Feed writers assert file count <= this constant
# (queries/streaming_q._assert_single_batch); change them together.
MAX_FILES_PER_TRIGGER = 16


def stream_events_json(spark: SparkSession, input_dir: str) -> DataFrame:
    """Tail a directory of JSON-lines event files as a stream."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .json(input_dir)
    )


def _sides(events: DataFrame, watermark: str):
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks, purchases


def _attribution_join(
    events: DataFrame,
    how: str,
    max_gap: str,
    watermark: str,
) -> DataFrame:
    """Shared body of the three attribution-join variants: sides (with
    watermarks only when streaming), the interval condition, and the
    output projection live HERE once. user_id is coalesced across sides
    — a no-op for inner/left (the click side is never null-padded), the
    correct merge for full outer."""
    if events.isStreaming:
        clicks, purchases = _sides(events, watermark)
    else:
        # batch twin: same projections, no watermark needed
        clicks = events.where(F.col("event_type") == "click").select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        purchases = events.where(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    cond = (
        (clicks["user_id"] == purchases["p_user_id"])
        & (purchases["purchase_ts"] >= clicks["click_ts"])
        & (
            purchases["purchase_ts"]
            <= clicks["click_ts"] + F.expr(f"INTERVAL {max_gap}")
        )
    )
    return clicks.join(purchases, cond, how).select(
        F.coalesce("user_id", "p_user_id").alias("user_id"),
        "click_id",
        "purchase_id",
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
        "purchase_value",
    )


def click_purchase_interval_join(
    events: DataFrame,
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Purchases attributed to a preceding click by the same user within
    `max_gap`. Works identically on a streaming or batch `events` frame —
    the tests run both and assert equality."""
    return _attribution_join(events, "inner", max_gap, watermark)


def click_purchase_interval_join_outer(
    events: DataFrame,
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER variant: every click emits — matched with its purchase,
    or with nulls once the watermark proves no purchase can still arrive.

    Outer emission is WATERMARK-GATED state eviction, so the caller must
    drain a feed whose maximum event time exceeds every real click's
    join window by a wide margin (queries/streaming_q appends far-future
    sentinel events on BOTH sides — both watermarks must advance, the
    global watermark is their min). Under that pin the emitted set is
    exactly the batch left join over the real events, independent of the
    engine's internal eviction boundary arithmetic."""
    return _attribution_join(events, "left_outer", max_gap, watermark)


def click_purchase_interval_join_full(
    events: DataFrame,
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """FULL OUTER variant: unmatched clicks AND unmatched purchases both
    emit null-padded rows, exercising state eviction on BOTH sides. The
    same sentinel pin as the left-outer variant applies."""
    return _attribution_join(events, "full_outer", max_gap, watermark)


def enriched_segment_rollup(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static enrichment: the event stream joined to a static
    customer dimension (user_id -> c_custkey) and rolled up per
    (segment, event_type). Stream-static equi-joins need no watermark —
    the static side is planned as a broadcast build per micro-batch, so
    state stays empty regardless of stream length. Works identically on
    a batch `events` frame (the stream==batch test runs both)."""
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        events.join(F.broadcast(dim), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
