"""KPL aggregated-record codec + Spark deaggregation surface.

The reference detects a KPL aggregate by a 4-byte magic prefix
(/root/reference/consumer/consumer.go:22,169-171), strips
``magic || protobuf || md5(protobuf)`` (consumer.go:174), protobuf-decodes an
``AggregatedRecord`` envelope, dictionary-decodes partition keys, and inherits
the outer record's timestamp/sequence/encryption per inner record
(consumer.go:180-189). Decode failure yields zero rows (consumer.go:177-179).

Schema (/root/reference/aggregated/aggregated.proto:4-20, proto2):

    AggregatedRecord { repeated string partition_key_table = 1;
                       repeated string explicit_hash_key_table = 2;
                       repeated Record records = 3; }
    Tag    { required string key = 1; optional string value = 2; }
    Record { required uint64 partition_key_index = 1;
             optional uint64 explicit_hash_key_index = 2;
             required bytes data = 3; repeated Tag tags = 4; }

We hand-roll the 3-message wire codec (pure python, ~80 lines — no protobuf
dependency) and expose deaggregation as an Arrow-batched pandas UDF returning
``array<struct>`` that callers ``explode()`` — the idiomatic Spark UDTF shape.
The consume path calls ``deaggregate_blob`` from ``functions/kinesis.py``
instead, which also inflates the inner payloads in the same Arrow pass.

Scale: the UDF is applied per input record (one aggregate blob in, N small
records out) with no shuffle; deaggregation parallelism equals source
partitioning (1 Kinesis shard -> 1 partition -> 1 task), exactly the
reference's shard-per-goroutine fan-out but scheduler-managed.
"""

from __future__ import annotations

import hashlib
from typing import Iterable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kitkat_spark.functions.udf import per_context

KPL_MAGIC = b"\xf3\x89\x9a\xc2"  # consumer.go:22


# ---------------------------------------------------------------------------
# proto2 wire-format primitives (public format: protobuf encoding spec)
# ---------------------------------------------------------------------------

def _write_varint(n: int, out: bytearray) -> None:
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")


def _write_tag(field: int, wire: int, out: bytearray) -> None:
    _write_varint((field << 3) | wire, out)


def _write_len_delim(field: int, payload: bytes, out: bytearray) -> None:
    _write_tag(field, 2, out)
    _write_varint(len(payload), out)
    out.extend(payload)


def _iter_fields(buf: bytes) -> Iterable[tuple[int, int, object]]:
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 0x07
        if wire == 0:  # varint
            val, pos = _read_varint(buf, pos)
        elif wire == 2:  # length-delimited
            ln, pos = _read_varint(buf, pos)
            if pos + ln > n:
                raise ValueError("truncated length-delimited field")
            val = buf[pos : pos + ln]
            pos += ln
        elif wire == 5:  # fixed32
            val = buf[pos : pos + 4]
            pos += 4
        elif wire == 1:  # fixed64
            val = buf[pos : pos + 8]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")
        yield field, wire, val


# ---------------------------------------------------------------------------
# AggregatedRecord encode / decode (aggregated.proto:4-20)
# ---------------------------------------------------------------------------

def encode_tag(key: str, value: str | None) -> bytes:
    out = bytearray()
    _write_len_delim(1, key.encode(), out)
    if value is not None:
        _write_len_delim(2, value.encode(), out)
    return bytes(out)


def encode_inner_record(
    partition_key_index: int,
    data: bytes,
    explicit_hash_key_index: int | None = None,
    tags: list[tuple[str, str | None]] | None = None,
) -> bytes:
    out = bytearray()
    _write_tag(1, 0, out)
    _write_varint(partition_key_index, out)
    if explicit_hash_key_index is not None:
        _write_tag(2, 0, out)
        _write_varint(explicit_hash_key_index, out)
    _write_len_delim(3, data, out)
    for k, v in tags or []:
        _write_len_delim(4, encode_tag(k, v), out)
    return bytes(out)


def aggregate_records(
    partition_key_table: list[str],
    records: list[dict],
) -> bytes:
    """Build a full KPL blob: magic || proto(AggregatedRecord) || md5(proto).

    ``records``: dicts with keys partition_key_index, data, and optionally
    explicit_hash_key_index, tags. Mirrors the reference test builder
    (/root/reference/consumer/consumer_test.go:346-377).
    """
    body = bytearray()
    for pk in partition_key_table:
        _write_len_delim(1, pk.encode(), body)
    for rec in records:
        _write_len_delim(
            3,
            encode_inner_record(
                rec["partition_key_index"],
                rec["data"],
                rec.get("explicit_hash_key_index"),
                rec.get("tags"),
            ),
            body,
        )
    proto = bytes(body)
    return KPL_MAGIC + proto + hashlib.md5(proto).digest()


def _decode_tag(buf: bytes) -> dict:
    tag = {"key": "", "value": None}
    for field, _, val in _iter_fields(buf):
        if field == 1:
            tag["key"] = val.decode()
        elif field == 2:
            tag["value"] = val.decode()
    return tag


def _decode_inner_record(buf: bytes) -> dict:
    rec = {"partition_key_index": 0, "explicit_hash_key_index": None, "data": b"", "tags": []}
    for field, _, val in _iter_fields(buf):
        if field == 1:
            rec["partition_key_index"] = val
        elif field == 2:
            rec["explicit_hash_key_index"] = val
        elif field == 3:
            rec["data"] = val
        elif field == 4:
            rec["tags"].append(_decode_tag(val))
    return rec


def deaggregate_blob(blob: bytes | None) -> list[dict]:
    """magic||proto||md5 -> list of {partition_key, data, tags}.

    Dictionary-decodes ``partition_key_table[r.partition_key_index]``
    (consumer.go:186). Any decode failure -> [] (consumer.go:177-179). The
    md5 comparison is STRICTER than the reference, which slices the digest
    off without verifying it (consumer.go:174): here a mismatched trailer
    rejects the blob, per the KPL aggregation wire-format spec's intent.
    """
    if not blob or not blob.startswith(KPL_MAGIC) or len(blob) < len(KPL_MAGIC) + 16:
        return []
    proto = blob[len(KPL_MAGIC) : -16]
    if hashlib.md5(proto).digest() != blob[-16:]:
        return []
    try:
        pk_table: list[str] = []
        records: list[dict] = []
        for field, _, val in _iter_fields(proto):
            if field == 1:
                pk_table.append(val.decode())
            elif field == 3:
                records.append(_decode_inner_record(val))
        return [
            {
                "partition_key": pk_table[r["partition_key_index"]],
                "data": r["data"],
                "tags": {t["key"]: t["value"] for t in r["tags"]},
            }
            for r in records
        ]
    except (ValueError, IndexError, UnicodeDecodeError):
        return []


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

INNER_RECORD_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("partition_key", T.StringType()),
            T.StructField("data", T.BinaryType()),
            T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        ]
    )
)


def is_aggregated_col(data: Column) -> Column:
    """Binary magic-prefix predicate (consumer.go:169-171), JVM-side."""
    return F.startswith(data, F.lit(KPL_MAGIC))


@per_context(F.pandas_udf(INNER_RECORD_TYPE))
def kpl_deaggregate_udf(blobs: pd.Series) -> pd.Series:
    """Arrow-batched deaggregation; pair with explode() for the UDTF shape."""
    return blobs.map(deaggregate_blob)
