"""Streaming window operators over an events stream (SURVEY §2.7, M4).

The reference is an incremental pipeline with no event-time semantics;
these add the watermark + window surface the rebuild promises. Each
builder takes an event-time ``ts`` frame and returns the windowed
aggregation. The frame may be a stream or a static table: on a static
frame Spark's optimizer drops the watermark, so the registered rows
``events_tumbling_hourly``, ``events_sliding_2h_1h`` and
``events_session_windows`` (``operators/streaming_batch.py``) ARE these
builders applied to the ``events`` table, and the DuckDB oracle checks
the code the streams run.

Watermarks bound state: at 100 TB/day the 30-minute watermark caps the
live window state regardless of total history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.relational import dsum

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)

WATERMARK = "30 minutes"
SESSION_GAP = "30 minutes"  # idle gap that closes a user session


def tumbling_counts_stream(events: DataFrame, width: str = "1 hour") -> DataFrame:
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", width), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts_stream(
    events: DataFrame, width: str = "2 hours", slide: str = "1 hour"
) -> DataFrame:
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", width, slide))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


def sessionized_stream(events: DataFrame, gap: str = SESSION_GAP) -> DataFrame:
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on event_id, state bounded by the watermark

    — the streaming form of the frontier `new Set` dedup (app.js:477).
    """
    return events.withWatermark("ts", WATERMARK).dropDuplicates(["event_id", "ts"])


def dedup_within_watermark_stream(events: DataFrame) -> DataFrame:
    """Streaming dedup keyed on event_id ALONE, state evicted by the
    watermark (``dropDuplicatesWithinWatermark``, Spark 3.5+).

    Unlike ``dedup_stream`` the event-time column is NOT part of the key,
    so re-deliveries with a jittered timestamp still dedup — the shape a
    real at-least-once source needs. State stays bounded: a key is
    dropped once the watermark passes its first-seen time.
    """
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def purchase_click_join_stream(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's clicks within the preceding hour. Both sides watermarked so
    the join state is bounded; the time-range predicate lets Spark evict
    rows once the watermark passes."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", WATERMARK)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", WATERMARK)
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("p_id", "p_user", "p_ts", "c_id", "c_ts")
