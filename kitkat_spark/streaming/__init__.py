"""kitkat streaming parity surface (SURVEY.md §2.A on Structured Streaming)."""

from kitkat_spark.streaming.consumer import (
    ConsumeOptions,
    consume,
    parse_since,
    start_console,
    stream_info,
)
from kitkat_spark.streaming.pipeline import (
    consume_transform,
    deaggregate,
    decompress,
    payload_text,
    render,
)
from kitkat_spark.streaming.producer import (
    assign_partition_key,
    line_source,
    produce,
    produce_batch,
)
from kitkat_spark.streaming.sinks import classify_records, consume_with_dlq
from kitkat_spark.streaming.records import (
    RECORD_SCHEMA,
    SHARD_SCHEMA,
    STREAM_META_SCHEMA,
    batch_records,
    open_shards,
    replay_stream,
)

__all__ = [
    "classify_records",
    "consume_with_dlq",
    "ConsumeOptions",
    "consume",
    "parse_since",
    "start_console",
    "stream_info",
    "consume_transform",
    "deaggregate",
    "decompress",
    "payload_text",
    "render",
    "assign_partition_key",
    "line_source",
    "produce",
    "produce_batch",
    "RECORD_SCHEMA",
    "SHARD_SCHEMA",
    "STREAM_META_SCHEMA",
    "batch_records",
    "open_shards",
    "replay_stream",
]
