"""DLQ sink: corrupt KPL blobs and undecodable zlib payloads are quarantined
with a reason and their raw bytes while healthy records flow to the good
table, exactly as the plain consume pipeline renders them; checkpoint resume
processes late-arriving files exactly once."""

from __future__ import annotations

import datetime as dt
import os
import zlib
from collections import Counter

import pytest

from kitkat_spark.functions.kpl import aggregate_records
from kitkat_spark.streaming.pipeline import consume_transform
from kitkat_spark.streaming.records import RECORD_SCHEMA, replay_stream
from kitkat_spark.streaming.sinks import consume_with_dlq

TS = dt.datetime(2024, 1, 2, 3, 4, 5)


def _rec(payload: bytes, seq: str):
    return (payload, f"pk-{seq}", seq, TS, "shardId-0", "s1", "NONE")


def _write(spark, rows, path):
    spark.createDataFrame(rows, RECORD_SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_dlq_quarantines_corrupt_blobs(spark, tmp_path):
    good_blob = aggregate_records(["u"], [{"partition_key_index": 0, "data": b"inner\n"}])
    corrupt = good_blob[:-1] + bytes([good_blob[-1] ^ 0xFF])
    src = str(tmp_path / "src")
    _write(spark, [_rec(b"plain\n", "1"), _rec(good_blob, "2"), _rec(corrupt, "3")], src)

    good_p, dlq_p, ckpt = (str(tmp_path / d) for d in ("good", "dlq", "ckpt"))
    q = consume_with_dlq(replay_stream(spark, src), good_p, dlq_p, ckpt)
    assert q.awaitTermination(180)

    good = spark.read.parquet(good_p)
    assert {r.message for r in good.collect()} == {"plain", "inner"}
    dlq = spark.read.parquet(dlq_p)
    rows = dlq.collect()
    assert len(rows) == 1
    assert rows[0].reason == "kpl_decode_failed"
    assert rows[0].sequenceNumber == "3"

    # late file + SAME checkpoint -> only the new record lands, exactly once
    _write(spark, [_rec(b"late\n", "4")], src)
    q2 = consume_with_dlq(replay_stream(spark, src), good_p, dlq_p, ckpt)
    assert q2.awaitTermination(180)
    msgs = sorted(r.message for r in spark.read.parquet(good_p).collect())
    assert msgs == ["inner", "late", "plain"]
    assert spark.read.parquet(dlq_p).count() == 1  # corrupt NOT reprocessed


def _run_dlq(spark, tmp_path, rows, **kw):
    """Drains ``rows`` through consume_with_dlq; returns (good, dlq) rows."""
    src = str(tmp_path / "src")
    _write(spark, rows, src)
    good_p, dlq_p, ckpt = (str(tmp_path / d) for d in ("good", "dlq", "ckpt"))
    assert consume_with_dlq(replay_stream(spark, src), good_p, dlq_p, ckpt, **kw).awaitTermination(180)
    dlq = spark.read.parquet(dlq_p).collect() if os.path.isdir(dlq_p) else []
    return spark.read.parquet(good_p).collect(), dlq


def test_dlq_zlib_path(spark, tmp_path):
    undeflatable = b"\x78not deflate\n"
    blob = aggregate_records(
        ["k0", "k1"],
        [
            {"partition_key_index": 0, "data": zlib.compress(b"a\n")},
            {"partition_key_index": 1, "data": zlib.compress(b"b\n"), "tags": [("t", "v")]},
        ],
    )
    rows = [_rec(undeflatable, "1"), _rec(b"plain text\n", "2"), _rec(blob, "3")]
    good, dlq = _run_dlq(spark, tmp_path, rows, compression="zlib", verbose=False)

    assert sorted(r.message for r in good) == ["a", "b", "plain text"]
    assert [(r.reason, r.sequenceNumber, r.data, r.partitionKey) for r in dlq] == [
        ("zlib_decode_failed", "1", undeflatable, "pk-1")
    ]


def _mixed_rows():
    tagged = aggregate_records(
        ["k0", "k1"],
        [
            {"partition_key_index": 0, "data": zlib.compress(b"in0\n"), "tags": [("t", "v"), ("u", None)]},
            {"partition_key_index": 1, "data": b"\x78inner passthrough\n"},
            {"partition_key_index": 1, "data": zlib.compress(b"in2\n\n")},
        ],
    )
    bad_md5 = tagged[:-1] + bytes([tagged[-1] ^ 0xFF])
    return [
        _rec(zlib.compress(b"p1\n"), "1"),
        _rec(tagged, "2"),
        _rec(bad_md5, "3"),
        _rec(b"\x78not deflate", "4"),
        _rec(b"p5", "5"),
    ], {"3": "kpl_decode_failed", "4": "zlib_decode_failed"}


@pytest.mark.parametrize("verbose", [True, False])
def test_dlq_good_table_matches_consume_transform(spark, tmp_path, verbose):
    rows, corrupt = _mixed_rows()
    good, dlq = _run_dlq(spark, tmp_path, rows, compression="zlib", verbose=verbose)

    healthy = spark.createDataFrame([r for r in rows if r[2] not in corrupt], RECORD_SCHEMA)
    want = consume_transform(healthy, compression="zlib", verbose=verbose).collect()
    assert Counter(good) == Counter(want) and len(good) == 5

    # each corrupt record lands in exactly one table: the DLQ, raw bytes intact
    raw = {r[2]: r for r in rows}
    assert {r.sequenceNumber: r.reason for r in dlq} == corrupt and len(dlq) == len(corrupt)
    assert all((r.data, r.partitionKey) == raw[r.sequenceNumber][:2] for r in dlq)
    if verbose:
        assert not {r.sequence_number for r in good} & set(corrupt)


def test_dlq_rejects_unknown_compression_before_start(spark, tmp_path):
    src = str(tmp_path / "src")
    _write(spark, [_rec(b"x", "1")], src)
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(ValueError, match="gzip"):
        consume_with_dlq(replay_stream(spark, src), str(tmp_path / "g"), str(tmp_path / "d"), ckpt, compression="gzip")
    assert not os.path.exists(ckpt)
