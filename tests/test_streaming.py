"""Streaming-parity tests (SURVEY.md §5): round-trip KPL codec, exact P3
trim semantics, the consume pipeline end-to-end through a real Structured
Streaming query (file replay -> memory sink), the producer's injectable
put_records seam with E1 error-skip, and the S3+A1 stream-info table.

Mirrors the reference's seams idiomatically: fake sources instead of mocked
AWS; the round-trip test is consumer_test.go:325-344 rebuilt.
"""

from __future__ import annotations

import datetime as dt
import sys

import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F

# the fake put_records callables below must travel to executors by VALUE —
# the test module isn't importable from worker processes
cloudpickle.register_pickle_by_value(sys.modules[__name__])

from kitkat_spark.functions.kpl import KPL_MAGIC, aggregate_records, deaggregate_blob
from kitkat_spark.streaming import (
    RECORD_SCHEMA,
    SHARD_SCHEMA,
    STREAM_META_SCHEMA,
    ConsumeOptions,
    consume,
    open_shards,
    parse_since,
    payload_text,
    produce_batch,
    replay_stream,
    stream_info,
)


def _mk_records(spark, rows):
    return spark.createDataFrame(rows, RECORD_SCHEMA)


TS = dt.datetime(2024, 1, 2, 3, 4, 5)


def _plain(payload: bytes, seq: str = "1", shard: str = "shardId-0", stream: str = "s1"):
    return (payload, f"pk-{seq}", seq, TS, shard, stream, "NONE")


# ---------------------------------------------------------------------------
# KPL codec round-trip (consumer_test.go:325-344 rebuilt)
# ---------------------------------------------------------------------------

def test_kpl_roundtrip():
    blob = aggregate_records(
        ["alpha", "beta"],
        [
            {"partition_key_index": 1, "data": b"hello", "tags": [("k", "v")]},
            {"partition_key_index": 0, "data": b"world"},
        ],
    )
    assert blob.startswith(KPL_MAGIC)
    out = deaggregate_blob(blob)
    assert out == [
        {"partition_key": "beta", "data": b"hello", "tags": {"k": "v"}},
        {"partition_key": "alpha", "data": b"world", "tags": {}},
    ]


def test_kpl_corruption_yields_zero_rows():
    blob = aggregate_records(["a"], [{"partition_key_index": 0, "data": b"x"}])
    corrupt = blob[:-1] + bytes([blob[-1] ^ 0xFF])  # break the md5
    assert deaggregate_blob(corrupt) == []
    assert deaggregate_blob(b"not a kpl blob") == []
    assert deaggregate_blob(None) == []


def test_md5_digest_actually_checked():
    """The digest check follows the KPL aggregation wire format (the
    envelope is magic ‖ protobuf ‖ md5(protobuf)) and is deliberately
    STRICTER than the reference consumer, which only strips the trailing
    md5.Size bytes and never compares them (consumer.go:174 slices the
    digest off; nothing verifies it), so it would happily decode a
    corrupted blob. Flipping a byte INSIDE
    a partition-key string keeps the blob structurally valid protobuf —
    magic, length, and field parsing all still succeed — so ONLY the
    digest comparison can reject it. This is the red-green discriminator:
    remove the digest check and this blob decodes "successfully" with a
    corrupted partition key."""
    import hashlib

    from kitkat_spark.functions.kpl import KPL_MAGIC, deaggregate_blob

    good = aggregate_records(
        ["alpha"], [{"partition_key_index": 0, "data": b"x"}]
    )
    assert deaggregate_blob(good), "sanity: intact blob must decode"

    proto = good[len(KPL_MAGIC) : -16]
    off = len(KPL_MAGIC) + proto.index(b"alpha")
    bad = good[:off] + b"z" + good[off + 1 :]
    # structurally-valid proto + stale digest -> rejected by the md5 gate
    assert deaggregate_blob(bad) == []

    # same corrupted body with a RECOMPUTED digest decodes fine (proving
    # the rejection above came from the digest, not from a parse failure)
    bad_proto = bad[len(KPL_MAGIC) : -16]
    refreshed = KPL_MAGIC + bad_proto + hashlib.md5(bad_proto).digest()
    recs = deaggregate_blob(refreshed)
    assert recs and recs[0]["partition_key"] == "zlpha"


# ---------------------------------------------------------------------------
# P3: trim exactly ONE trailing newline (TrimSuffix, not rtrim)
# ---------------------------------------------------------------------------

def test_payload_text_trims_exactly_one_newline(spark):
    df = spark.createDataFrame(
        [(b"a\n",), (b"b\n\n",), (b"c",), (b"\n",)], "data binary"
    ).select(payload_text(F.col("data")).alias("m"))
    assert [r.m for r in df.collect()] == ["a", "b\n", "c", ""]


# ---------------------------------------------------------------------------
# Consume pipeline: batch transform semantics
# ---------------------------------------------------------------------------

def test_consume_mixed_plain_and_aggregated(spark):
    blob = aggregate_records(
        ["u1", "u2"],
        [
            {"partition_key_index": 0, "data": b"inner-1\n"},
            {"partition_key_index": 1, "data": b"inner-2"},
        ],
    )
    records = _mk_records(
        spark,
        [
            _plain(b"plain-line\n", seq="10"),
            (blob, "outer-pk", "20", TS, "shardId-1", "s1", "NONE"),
        ],
    )
    out = consume([records], ConsumeOptions(position="trim_horizon", verbose=True))
    rows = {r.message: r for r in out.collect()}
    assert set(rows) == {"plain-line", "inner-1", "inner-2"}
    # X1 inheritance: inner records carry the OUTER sequence number/shard/ts
    assert rows["inner-1"].sequence_number == "20"
    assert rows["inner-1"].shard_id == "shardId-1"
    assert rows["inner-2"].timestamp == "2024-01-02 03:04:05"


def test_consume_zlib_with_passthrough(spark):
    import zlib

    records = _mk_records(
        spark,
        [_plain(zlib.compress(b"deflated\n"), seq="1"), _plain(b"raw", seq="2")],
    )
    out = consume(
        [records],
        ConsumeOptions(position="trim_horizon", compression="zlib"),
    )
    assert {r.message for r in out.collect()} == {"deflated", "raw"}


def test_consume_multi_stream_union_and_since(spark):
    early = _mk_records(spark, [_plain(b"old", seq="1", stream="s1")])
    late_ts = dt.datetime(2025, 6, 1)
    late = _mk_records(
        spark, [(b"new", "pk", "2", late_ts, "shardId-0", "s2", "NONE")]
    )
    opts = ConsumeOptions(position="at_timestamp", since="2025-01-01T00:00:00Z", verbose=True)
    out = consume([early, late], opts)
    rows = out.collect()
    assert [r.message for r in rows] == ["new"]
    assert rows[0].stream == "s2"


def test_parse_since_rejects_malformed():
    with pytest.raises(ValueError, match="RFC3339"):
        parse_since("not-a-timestamp")
    with pytest.raises(ValueError):
        ConsumeOptions(position="bogus")


# ---------------------------------------------------------------------------
# End-to-end Structured Streaming: file replay -> memory sink
# ---------------------------------------------------------------------------

def test_streaming_consume_replay(spark, tmp_path):
    src = str(tmp_path / "records")
    _mk_records(
        spark, [_plain(b"line-1\n", seq="1"), _plain(b"line-2\n", seq="2")]
    ).write.parquet(src)

    stream = replay_stream(spark, src)
    assert stream.isStreaming
    out = consume([stream], ConsumeOptions(position="trim_horizon", verbose=True))
    q = (
        out.writeStream.format("memory")
        .queryName("consume_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT message FROM consume_sink ORDER BY message").collect()
    assert [r.message for r in got] == ["line-1", "line-2"]


# ---------------------------------------------------------------------------
# Producer: P1 key assignment + K1 sink seam + E1 error skip + E2 acks
# ---------------------------------------------------------------------------

def _fake_put_ok(batch):
    return [("shard-fake", f"seq-{k}") for k, _ in batch]


def _fake_put_flaky(batch):
    if any(d == b"poison" for _, d in batch):
        raise RuntimeError("injected put failure")
    return [("shard-fake", f"seq-{k}") for k, _ in batch]


def test_produce_constant_key_and_acks(spark):
    lines = spark.createDataFrame([("a",), ("b",)], "value string")
    n_acks, sample = produce_batch(lines, _fake_put_ok, key="fixed", verbose=True)
    assert n_acks == 2
    assert sorted(sample) == [("shard-fake", "seq-fixed"), ("shard-fake", "seq-fixed")]


def test_produce_random_key_is_16_byte_hex(spark):
    lines = spark.createDataFrame([("a",), ("b",)], "value string")
    from kitkat_spark.streaming import assign_partition_key

    keys = [r.partitionKey for r in assign_partition_key(lines).collect()]
    assert all(len(k) == 32 and int(k, 16) >= 0 for k in keys)
    assert keys[0] != keys[1]


def test_produce_error_skip_continues(spark):
    # poison row fails its batch; other partitions still deliver (E1)
    lines = spark.createDataFrame(
        [("ok-1",), ("poison",), ("ok-2",)], "value string"
    ).repartition(3)
    n_acks, sample = produce_batch(lines, _fake_put_flaky, key="k", verbose=True)
    # the poison batch is dropped, the job itself completes (no raise)
    assert n_acks <= 2
    assert len(sample) <= 2


def test_produce_ack_sample_is_bounded(spark):
    # exact count, capped sample: driver memory is O(1) in record count
    from kitkat_spark.streaming.producer import ACK_SAMPLE

    lines = spark.createDataFrame([(f"r{i}",) for i in range(500)], "value string")
    n_acks, sample = produce_batch(lines, _fake_put_ok, key="k", verbose=True)
    assert n_acks == 500
    assert len(sample) <= ACK_SAMPLE


# ---------------------------------------------------------------------------
# S3 + A1 + F1: stream info table and closed-shard pruning
# ---------------------------------------------------------------------------

def test_kinesis_reader_options_flag_parity():
    """S2 production config: consume-flag -> connector-option mapping."""
    from kitkat_spark.streaming.records import kinesis_reader_options

    opts = kinesis_reader_options(
        "s1", "us-east-1", position="at_timestamp", since="2024-03-01T00:00:00Z",
        max_fetch_records=200, fetch_interval_ms=250,
    )
    assert opts["streamName"] == "s1"
    assert opts["startingPosition"] == "at_timestamp"
    assert opts["startingTimestamp"] == "2024-03-01T00:00:00Z"
    assert opts["maxFetchRecordsPerShard"] == "200"
    assert opts["minFetchPeriod"] == "250ms"
    with pytest.raises(ValueError):
        kinesis_reader_options("s1", "us-east-1", position="at_timestamp")
    with pytest.raises(ValueError):
        kinesis_reader_options("s1", "us-east-1", position="bogus")


def test_stream_info_and_open_shards(spark):
    meta = spark.createDataFrame(
        [("s1", dt.datetime(2024, 1, 1), "NONE", 24)], STREAM_META_SCHEMA
    )
    shards = spark.createDataFrame(
        [
            ("shardId-000", "0", None),
            ("shardId-001", "0", "499"),
            ("shardId-002", "0", None),
        ],
        SHARD_SCHEMA,
    )
    info = stream_info(meta, shards).collect()[0]
    assert (info.active_shards, info.closed_shards) == (2, 1)
    assert info.created_at == "2024-01-01 00:00:00"
    assert {r.shard_id for r in open_shards(shards).collect()} == {
        "shardId-000",
        "shardId-002",
    }
