"""Seeded input generator for the benchmark.

Everything the program under test reads comes from here, and the same seed
always gives byte-identical files: Kinesis-shaped record files (the
connector schema of ``kitkat_spark.streaming.records.RECORD_SCHEMA``) for
the consume workloads. KPL aggregates are built by this module's own encoder
of the public wire format (``magic || AggregatedRecord protobuf || md5``),
never by the program's codec, so a codec bug cannot hide in both sides.
"""

from __future__ import annotations

import bisect
import datetime as dt
import hashlib
import itertools
import json
import os
import random
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

# Input properties of the record stream (recorded in BENCHMARK.json's doc).
RECORD_MIX = {
    "kpl_share": 0.5,  # share of healthy outer records that are KPL aggregates
    "records_per_blob": (10, 30),  # inner records per aggregate, uniform
    "zlib_share": 0.9,  # share of payloads (inner or plain) zlib-compressed
    "corrupt_share": 0.02,  # outer records: half bad-md5 KPL, half bad zlib
    "partition_keys": 64,  # Zipf(1.1) over this many partition keys
}
KPL_MAGIC = b"\xf3\x89\x9a\xc2"
STREAM = "bench-stream"
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
TS_FORMAT = "%Y-%m-%d %H:%M:%S"  # the consumer's rendered timestamp layout
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

RECORD_ARROW_SCHEMA = pa.schema(
    [
        ("data", pa.binary()),
        ("partitionKey", pa.string()),
        ("sequenceNumber", pa.string()),
        ("approximateArrivalTimestamp", pa.timestamp("us", tz="UTC")),
        ("shardId", pa.string()),
        ("streamName", pa.string()),
        ("encryptionType", pa.string()),
    ]
)


# ---------------------------------------------------------------------------
# KPL wire format (protobuf encoding spec + the KPL aggregation framing)
# ---------------------------------------------------------------------------

def _varint(n: int) -> bytes:
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _len_field(field: int, payload: bytes) -> bytes:
    return _varint(field << 3 | 2) + _varint(len(payload)) + payload


def encode_kpl(keys: list[str], records: list[tuple[int, bytes]]) -> bytes:
    """``AggregatedRecord{partition_key_table=1, records=3}`` where each
    ``Record{partition_key_index=1 (varint), data=3}``, framed as
    magic || proto || md5(proto)."""
    body = b"".join(_len_field(1, k.encode()) for k in keys)
    body += b"".join(
        _len_field(3, _varint(1 << 3 | 0) + _varint(idx) + _len_field(3, data))
        for idx, data in records
    )
    return KPL_MAGIC + body + hashlib.md5(body).digest()


# ---------------------------------------------------------------------------
# Record stream
# ---------------------------------------------------------------------------

def _zipf_cum(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (k + 1) ** s for k in range(n)))


class RecordMaker:
    """Draws outer Kinesis records for one file and tracks what a correct
    consumer must emit for them."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.keys = [f"pk-{k}" for k in range(RECORD_MIX["partition_keys"])]
        self.key_cum = _zipf_cum(len(self.keys), 1.1)

    def _key(self) -> str:
        r = self.rng.random() * self.key_cum[-1]
        return self.keys[bisect.bisect_left(self.key_cum, r)]

    def _payload(self, msg: str) -> bytes:
        raw = (msg + "\n").encode()
        return zlib.compress(raw) if self.rng.random() < RECORD_MIX["zlib_share"] else raw

    def _message(self, tag: str) -> str:
        # starts with a tag letter that is never "x" (0x78, the zlib header
        # byte), so uncompressed payloads never look deflated
        return tag + " " + " ".join(self.rng.choices(WORDS, k=self.rng.randint(4, 24)))

    def kind(self) -> tuple[str, int]:
        """Draws one outer record's kind (``plain``, ``kpl``, ``bad_kpl`` or
        ``bad_zlib``) and, for ``kpl``, its inner record count."""
        rng = self.rng
        if rng.random() < RECORD_MIX["corrupt_share"]:
            return ("bad_kpl" if rng.random() < 0.5 else "bad_zlib"), 0
        if rng.random() < RECORD_MIX["kpl_share"]:
            return "kpl", rng.randint(*RECORD_MIX["records_per_blob"])
        return "plain", 1

    def plan(self, n_outer: int) -> list[tuple[str, int]]:
        """The kinds of ``n_outer`` outer records in exactly the shares of
        RECORD_MIX, with inner counts cycling over the records-per-blob
        range, in a seeded order: every file of this size carries the same
        number of records of each kind and of inner records."""
        lo, hi = RECORD_MIX["records_per_blob"]
        n_bad = round(n_outer * RECORD_MIX["corrupt_share"])
        n_kpl = round((n_outer - n_bad) * RECORD_MIX["kpl_share"])
        kinds = (
            [("bad_kpl", 0)] * (n_bad // 2)
            + [("bad_zlib", 0)] * (n_bad - n_bad // 2)
            + [("kpl", lo + i % (hi - lo + 1)) for i in range(n_kpl)]
            + [("plain", 1)] * (n_outer - n_bad - n_kpl)
        )
        self.rng.shuffle(kinds)
        return kinds

    def outer(self, tag: str, kind: tuple[str, int] | None = None) -> tuple[bytes, str, list[str], str | None]:
        """(data, partitionKey, expected messages, corrupt kind or None) of
        one outer record of ``kind`` (drawn at random when None, as the KPL
        round-trip test does)."""
        what, n_inner = kind or self.kind()
        if what == "bad_kpl":
            blob = encode_kpl([self._key()], [(0, self._payload(self._message(tag)))])
            return blob[:-1] + bytes([blob[-1] ^ 0xFF]), self._key(), [], "kpl"
        if what == "bad_zlib":
            # 0x78 then ASCII: looks deflated, fails the zlib header check
            # ((0x78 << 8 | 0x67) % 31 != 0), and renders as plain text when
            # passed through undecoded
            return ("xg " + self._message(tag) + "\n").encode(), self._key(), [], "zlib"
        if what == "kpl":
            msgs = [self._message(f"{tag}.{i}") for i in range(n_inner)]
            keys = [self._key() for _ in msgs]
            table = sorted(set(keys))
            blob = encode_kpl(table, [(table.index(k), self._payload(m)) for k, m in zip(keys, msgs)])
            return blob, keys[0], msgs, None
        msg = self._message(tag)
        return self._payload(msg), self._key(), [msg], None


def _write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def write_record_file(
    path: str,
    maker: RecordMaker,
    shard: int,
    file_no: int,
    arrival: dt.datetime,
    kinds: list[tuple[str, int]],
) -> dict:
    """One parquet file of outer records of the given ``kinds`` (from
    :meth:`RecordMaker.plan`), all arriving at ``arrival``. Returns its
    manifest entry."""
    cols: dict[str, list] = {f.name: [] for f in RECORD_ARROW_SCHEMA}
    expected: list[str] = []
    corrupt = {"kpl": 0, "zlib": 0}
    passthrough: list[str] = []
    for j, kind in enumerate(kinds):
        data, key, msgs, bad = maker.outer(f"s{shard}f{file_no}r{j}", kind)
        cols["data"].append(data)
        cols["partitionKey"].append(key)
        cols["sequenceNumber"].append(f"{shard:04d}{file_no:08d}{j:08d}")
        cols["approximateArrivalTimestamp"].append(arrival)
        cols["shardId"].append(f"shardId-{shard:012d}")
        cols["streamName"].append(STREAM)
        cols["encryptionType"].append("NONE")
        expected.extend(msgs)
        if bad:
            corrupt[bad] += 1
            if bad == "zlib":
                passthrough.append(data.decode()[:-1])
    _write_parquet(pa.Table.from_pydict(cols, schema=RECORD_ARROW_SCHEMA), path)
    return {
        "file": os.path.basename(path),
        "shard": shard,
        "ts": arrival.strftime(TS_FORMAT),
        "offset_s": (arrival - EPOCH).total_seconds(),
        "outer": len(kinds),
        "messages": expected,
        "corrupt": corrupt,
        "passthrough": passthrough,
    }


def write_backlog(out: str, seed: int, shards: int, waves: int, outer_per_file: int) -> dict:
    """A drained backlog under ``out/records``: one file per shard per wave,
    each with the mix in exact shares, so every file (and every seed)
    carries the same work. File mtimes order the waves so
    ``maxFilesPerTrigger=shards`` takes one file per shard per trigger."""
    maker = RecordMaker(random.Random(f"backlog-{seed}"))
    files = []
    for wave in range(waves):
        for shard in range(shards):
            path = os.path.join(out, "records", f"wave-{wave:03d}-shard-{shard:03d}.parquet")
            arrival = EPOCH + dt.timedelta(seconds=wave)
            files.append(write_record_file(path, maker, shard, wave, arrival, maker.plan(outer_per_file)))
            stamp = 1_700_000_000_000_000_000 + wave * 1_000_000_000 + shard * 1_000
            os.utime(path, ns=(stamp, stamp))
    return {"kind": "backlog", "seed": seed, "shards": shards, "waves": waves, "files": files}


def write_tail(out: str, seed: int, shards: int, n_files: int, outer_per_file: int, period_ms: int) -> dict:
    """Small files under ``out/records`` for the open-loop tail, file ``i`` due ``i * period_ms``
    after the schedule starts; its records carry that due time as their
    arrival timestamp (relative to EPOCH). The whole schedule holds the mix
    in exact shares, so every seed offers the same load."""
    maker = RecordMaker(random.Random(f"tail-{seed}"))
    kinds = maker.plan(n_files * outer_per_file)
    files = []
    for i in range(n_files):
        path = os.path.join(out, "records", f"tail-{i:05d}.parquet")
        arrival = EPOCH + dt.timedelta(milliseconds=i * period_ms)
        plan = kinds[i * outer_per_file:(i + 1) * outer_per_file]
        files.append(write_record_file(path, maker, i % shards, i, arrival, plan))
    return {"kind": "tail", "seed": seed, "period_ms": period_ms, "files": files}


def write_manifest(out: str, manifest: dict) -> None:
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
