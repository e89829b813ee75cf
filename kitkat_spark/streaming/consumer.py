"""Consumer entry point: positioned multi-stream tail with shard fan-out.

Rebuilds ``kitkat consume`` (EP2, SURVEY.md §3) on Structured Streaming:

- iterator positioning (F3/F4, consumer.go:63-72,125-130) -> starting
  position option / event-time filter on replay
- multi-stream union (U1, consumer.go:53-55) -> streaming ``unionByName``
- per-shard parallelism (C1, consumer.go:83-85) -> task-per-partition (free)
- poll pacing + fetch limit (C2, command/consume.go:26-27) ->
  ``trigger(processingTime=...)`` + source rate options
- first-error termination (C3, consumer.go:37-61) ->
  ``StreamingQuery.awaitTermination()`` propagating task failure
- console sink (K2, consumer.go:195-209) -> ``writeStream.format("console")``
- stream info table (S3+A1, consumer.go:88-114) -> conditional aggregation

State/scale: the pipeline is stateless (no watermark needed — no windowed agg
here), so 100 TB/day throughput is bounded only by source partitioning;
checkpointed offsets replace the reference's ``NextShardIterator`` token.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kitkat_spark.streaming.pipeline import consume_transform

POSITIONS = ("latest", "trim_horizon", "at_sequence_number", "at_timestamp")


def since_datetime(since: str | None) -> dt.datetime:
    """F4: strict RFC3339 parse of ``--since`` into a naive UTC datetime;
    malformed or missing input is a hard error before any stream is opened
    (consumer.go:49-51,63-72)."""
    try:
        parsed = dt.datetime.fromisoformat((since or "").replace("Z", "+00:00"))
    except ValueError as exc:
        raise ValueError(f"--since must be RFC3339, got {since!r}") from exc
    if parsed.tzinfo is not None:
        # Compare instants like the reference's time.Parse: convert the
        # offset to UTC before dropping tzinfo, never just strip it.
        parsed = parsed.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return parsed


def parse_since(since: str | None) -> F.Column:
    """:func:`since_datetime` as a timestamp literal for the replay filter."""
    return F.lit(since_datetime(since)).cast("timestamp")


@dataclass
class ConsumeOptions:
    """CLI-flag surface of ``kitkat consume`` (command/consume.go:25-29)."""

    position: str = "latest"  # --iterator
    since: str | None = None  # --since (only honored with at_timestamp)
    limit: int = 500  # --limit: records per fetch
    interval_ms: int = 100  # --interval: pacing between polls
    compression: str | None = None  # --compress
    verbose: bool = False  # --verbose

    def __post_init__(self) -> None:
        if self.position not in POSITIONS:
            raise ValueError(f"position must be one of {POSITIONS}")


def consume(
    sources: list[DataFrame],
    opts: ConsumeOptions | None = None,
) -> DataFrame:
    """Union the per-stream sources (U1) and apply the consumer pipeline.

    ``sources`` are record-schema DataFrames — streaming (replay_stream /
    Kinesis connector) or batch (oracle path); the transform is identical.
    """
    opts = opts or ConsumeOptions()
    df = sources[0]
    for other in sources[1:]:
        df = df.unionByName(other)
    since_col = None
    if opts.position == "at_timestamp":
        if opts.since is None:
            raise ValueError("at_timestamp requires since")
        since_col = parse_since(opts.since)
    return consume_transform(
        df, compression=opts.compression, verbose=opts.verbose, since=since_col
    )


def start_console(
    df: DataFrame,
    opts: ConsumeOptions | None = None,
    available_now: bool = False,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """K2 console sink with C2 trigger pacing. ``available_now=True`` drains
    the replay source and stops (test mode); default mode tails forever like
    the reference's infinite poll loop."""
    opts = opts or ConsumeOptions()
    writer = df.writeStream.format("console").outputMode("append")
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{opts.interval_ms} milliseconds")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def stream_info(meta: DataFrame, shards: DataFrame) -> DataFrame:
    """S3+A1: the 6-row stream info table (consumer.go:88-114) — stream
    metadata plus shards counted by open/closed via conditional aggregation."""
    counts = shards.agg(
        F.sum(F.when(F.col("ending_sequence_number").isNull(), 1).otherwise(0)).alias(
            "active_shards"
        ),
        F.sum(F.when(F.col("ending_sequence_number").isNotNull(), 1).otherwise(0)).alias(
            "closed_shards"
        ),
    )
    return meta.crossJoin(counts).select(
        "stream_name",
        F.date_format("created_at", "yyyy-MM-dd HH:mm:ss").alias("created_at"),
        "encryption_type",
        "retention_hours",
        "active_shards",
        "closed_shards",
    )


def render_stream_info(meta: DataFrame, shards: DataFrame) -> str:
    """Rendered twin of :func:`stream_info` — the reference's 6-row
    two-column table (consumer.go:88-114, printed via tablewriter). Labels,
    row order, and value formats match what the reference's own test
    asserts (consumer_test.go:146-147: ``Stream name:`` then the name,
    ``Created at:`` then the RFC1123 timestamp); retention/active/closed
    carry the reference's ``N hours`` / ``N shards`` suffixes. The render
    consumes the ONE aggregated info row — never per-shard data — so it is
    driver-side O(1) at any shard count."""
    row = stream_info(meta, shards).collect()[0]
    import datetime as dt

    created = dt.datetime.strptime(row.created_at, "%Y-%m-%d %H:%M:%S").replace(
        tzinfo=dt.timezone.utc
    )
    # Go time.RFC1123: "Mon, 02 Jan 2006 15:04:05 MST"
    rfc1123 = created.strftime("%a, %d %b %Y %H:%M:%S UTC")
    data = [
        ("Stream name:", row.stream_name),
        ("Created at:", rfc1123),
        ("Encryption:", row.encryption_type),
        ("Retention:", f"{row.retention_hours} hours"),
        ("Active:", f"{row.active_shards} shards"),
        ("Closed:", f"{row.closed_shards} shards"),
    ]
    lw = max(len(k) for k, _ in data)
    vw = max(len(str(v)) for _, v in data)
    sep = f"+{'-' * (lw + 2)}+{'-' * (vw + 2)}+"
    lines = [sep]
    for k, v in data:
        lines.append(f"| {k.ljust(lw)} | {str(v).ljust(vw)} |")
    lines.append(sep)
    return "\n".join(lines)
