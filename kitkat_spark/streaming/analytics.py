"""Streaming-native analytics: windowed counts, sessions, dedup and
interval joins as Structured Streaming transforms with watermarks and state.

Each transform runs unchanged over a batch or a streaming frame; only a
streaming input gets the watermark. The registry's batch windows call it
(operators/temporal.py q_stream_tumbling and q_stream_sliding are
``tumbling_counts`` and ``sliding_counts`` over ``events``), so the driver
oracle checks this code; tests replay ``events`` through a file source and
assert the streaming result equals the batch result (the exactly-once
contract).

State sizing at 100 TB (SURVEY.md §4): state per key-window is O(aggregate
size), evicted at watermark; with a 10-minute delay and ~1e6 active
user-keys the state store holds ~minutes of keys, not history. For larger
cardinalities configure the RocksDB state store provider
(``spark.sql.streaming.stateStore.providerClass`` ->
``RocksDBStateStoreProvider``) — spillable, incremental-checkpointed state
instead of executor-heap HDFSBackedStateStore.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kitkat_spark.functions.numeric import dsum

# event-time column, watermark delay and window shapes of every transform here
TS_COL = "ts"
WATERMARK = "10 minutes"
WINDOW = "1 hour"
SLIDE = "15 minutes"
SESSION_GAP = "30 minutes"
JOIN_GAP = "10 minutes"


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Watermarked tumbling-window event counts and exact value sums
    (``dsum``) per event_type; epoch-aligned, so a 1-hour window matches
    date_trunc. Late rows beyond the watermark are dropped; the window
    close emits exactly one final row per (window, event_type) in append
    mode."""
    if events.isStreaming:
        events = events.withWatermark(TS_COL, WATERMARK)
    return (
        events.groupBy(F.window(F.col(TS_COL), WINDOW).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """Watermarked sliding-window event counts per event_type. Each event
    lands in WINDOW/SLIDE = 4 buckets — state is
    4x larger than tumbling; watermark eviction bounds it."""
    if events.isStreaming:
        events = events.withWatermark(TS_COL, WATERMARK)
    return (
        events.groupBy(F.window(F.col(TS_COL), WINDOW, SLIDE).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def session_counts(events: DataFrame) -> DataFrame:
    """Session windows per user (q_sessionize streaming form) via the native
    ``session_window`` — dynamic-gap state merged by the state store, not a
    gap-and-island window function (that's the batch/oracle analog)."""
    if events.isStreaming:
        events = events.withWatermark(TS_COL, WATERMARK)
    return (
        events.groupBy(F.session_window(F.col(TS_COL), SESSION_GAP).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_dedup(events: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Exact streaming dedup (q_dedup streaming form). With a watermark the
    key set is evicted as event time advances — bounded state, the only way
    dedup survives an unbounded stream; unbounded dropDuplicates state grows
    forever at 100 TB/day."""
    keys = keys or ["event_id"]
    if events.isStreaming:
        events = events.withWatermark(TS_COL, WATERMARK)
        return events.dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def interval_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Stream-stream inner interval join: pair each left event with right
    events of the SAME user arriving in [left.ts, left.ts + JOIN_GAP].

    Streaming semantics (the reference has no join at all — SURVEY §2.A
    "deliberately absent"; this is north-star surface): both sides carry a
    watermark and the join condition carries the time band, so each side's
    buffered state is evicted once the other side's watermark passes
    ts + JOIN_GAP — state is O(rows per watermark horizon), not O(stream).
    Without the band the state would be unbounded and Spark rejects the
    plan (UnsupportedOperationChecker), which is exactly the 100 TB-safe
    default.

    Batch form of the same call is the banded range join family
    (operators/relational.py q_range_join discusses the bucketed layout).
    """
    l = left.select(
        "user_id",
        F.col("event_id").alias("l_id"),
        F.col(TS_COL).alias("l_ts"),
    )
    r = right.select(
        F.col("user_id").alias("r_user"),
        F.col("event_id").alias("r_id"),
        F.col(TS_COL).alias("r_ts"),
    )
    if l.isStreaming:
        l = l.withWatermark("l_ts", WATERMARK)
    if r.isStreaming:
        r = r.withWatermark("r_ts", WATERMARK)
    cond = (
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {JOIN_GAP}"))
        & (F.col("l_id") != F.col("r_id"))
    )
    return l.join(r, cond).select("user_id", "l_id", "r_id", "l_ts", "r_ts")
