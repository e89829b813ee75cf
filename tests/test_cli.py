"""CLI surface: EP2 (consume) end-to-end through a subprocess; EP1/info
error paths when boto3 is absent (graceful message, exit 1)."""

from __future__ import annotations

import datetime as dt
import os
import subprocess
import sys

from kitkat_spark.streaming.records import RECORD_SCHEMA

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cli_consume_once(spark, tmp_path):
    src = str(tmp_path / "recs")
    spark.createDataFrame(
        [(b"hello-cli\n", "pk", "1", dt.datetime(2024, 1, 1), "shardId-0", "s1", "NONE")],
        RECORD_SCHEMA,
    ).write.parquet(src)
    r = subprocess.run(
        [sys.executable, "-m", "kitkat_spark.cli", "consume", "-s", src,
         "-I", "trim_horizon", "--once"],
        capture_output=True, text=True, timeout=240, cwd=REPO,
    )
    assert r.returncode == 0
    assert "hello-cli" in r.stdout


def test_flag_parity_with_reference():
    """Short-flag surface matches the reference CLI exactly: consume has
    -s/-r/-I iterator/-l limit/-i interval/-t since/-c compress
    (consume.go:24-31), produce has -s/-r/-k/-a aggregated (produce.go:24-27),
    and iterator/compress values are case-insensitive like cobra's."""
    from kitkat_spark.cli import _build_parser

    p = _build_parser()
    a = p.parse_args(
        ["consume", "-s", "x", "-I", "TRIM_HORIZON", "-i", "50", "-l", "100",
         "-t", "2024-01-01T00:00:00Z", "-c", "ZLIB", "-r", "us-east-1"]
    )
    assert a.iterator == "trim_horizon"
    assert a.interval == 50
    assert a.limit == 100
    assert a.since == "2024-01-01T00:00:00Z"
    assert a.compress == "zlib"
    assert a.region == "us-east-1"

    b = p.parse_args(
        ["produce", "-s", "st", "-k", "pk", "-r", "us-east-1", "-a", "--source", "d"]
    )
    assert b.key == "pk"
    assert b.region == "us-east-1"
    assert b.aggregated is True
    assert p.parse_args(["produce", "-s", "st", "--source", "d"]).aggregated is False


def test_produce_aggregated_round_trips_through_consume(spark, tmp_path):
    """--aggregated end-to-end: lines -> KPL blobs (produce) -> record frames
    -> the consume pipeline deaggregates back to the original lines. This is
    the reference's crown-jewel property (consumer_test.go:325-377,
    deaggregate(aggregate(x)) == x) driven through BOTH CLI dataflows."""
    import datetime as dt

    from kitkat_spark.functions.kpl import KPL_MAGIC
    from kitkat_spark.streaming.consumer import ConsumeOptions, consume
    from kitkat_spark.streaming.producer import produce_batch

    lines = [f"line-{i:03d}" for i in range(120)]  # > KPL_BLOB_RECORDS: several blobs
    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "in.txt").write_text("\n".join(lines) + "\n")
    # put runs inside executor subprocesses — capture through the shared
    # filesystem, not a driver-side closure
    cap_dir = tmp_path / "captured"
    cap_dir.mkdir()

    def put(batch):
        import pickle
        import uuid

        (cap_dir / f"{uuid.uuid4().hex}.pkl").write_bytes(pickle.dumps(batch))
        return [("shardId-0", str(i)) for i in range(len(batch))]

    src = spark.read.text(str(tmp_path / "in"))
    n_acks, sample = produce_batch(src, put, key="pk", aggregated=True)
    import pickle

    captured = [
        rec for f in cap_dir.iterdir() for rec in pickle.loads(f.read_bytes())
    ]
    assert n_acks == len(captured) > 0
    assert len(captured) < len(lines)  # blobs, not lines
    assert all(blob.startswith(KPL_MAGIC) for _, blob in captured)

    recs = spark.createDataFrame(
        [
            (blob, k, str(i), dt.datetime(2024, 1, 1), "shardId-0", "s1", "NONE")
            for i, (k, blob) in enumerate(captured)
        ],
        RECORD_SCHEMA,
    )
    out = consume([recs], ConsumeOptions(position="trim_horizon", verbose=False))
    got = sorted(r.message for r in out.collect())
    assert got == sorted(lines)


def test_cli_consume_stream_name_without_connector_fails_gracefully():
    """A -s entry that is not an on-disk replay dir is a live stream name;
    without the connector/boto3 the CLI must error cleanly like produce."""
    r = subprocess.run(
        [sys.executable, "-m", "kitkat_spark.cli", "consume", "-s", "my-live-stream",
         "-I", "trim_horizon", "--once", "-r", "us-east-1"],
        capture_output=True, text=True, timeout=240, cwd=REPO,
    )
    assert r.returncode == 1
    assert "my-live-stream" in r.stderr
    assert "us-east-1" in r.stderr


def _consume_cli(*argv: str, cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "kitkat_spark.cli", "consume", *argv],
        capture_output=True, text=True, timeout=240, cwd=cwd,
        env={**os.environ, "PYTHONPATH": REPO},
    )


def test_cli_consume_at_timestamp_without_since_fails_before_spark(tmp_path):
    """A live --once snapshot at_timestamp with no --since reports the
    RFC3339 contract, not a failed Kinesis call."""
    r = _consume_cli("-s", "nosuchstream", "-I", "at_timestamp", "--once",
                     cwd=str(tmp_path))
    assert r.returncode == 1
    assert "--since must be RFC3339, got None" in r.stderr
    assert "snapshot failed" not in r.stderr


def test_cli_consume_replay_bad_since_fails_cleanly(tmp_path):
    """A malformed --since on a replay directory exits 1 with the parse
    message instead of a traceback."""
    (tmp_path / "recs").mkdir()
    r = _consume_cli("-s", str(tmp_path / "recs"), "-I", "at_timestamp",
                     "-t", "yesterday", "--once", cwd=str(tmp_path))
    assert r.returncode == 1
    assert "--since must be RFC3339, got 'yesterday'" in r.stderr
    assert "Traceback" not in r.stderr


def test_produce_batch_empty_source(spark, tmp_path):
    """Zero-partition / empty input returns (0, []) instead of raising
    (treeReduce cannot fold an empty RDD)."""
    from kitkat_spark.streaming.producer import produce_batch

    empty = spark.createDataFrame([], "value string")
    n, sample = produce_batch(empty, lambda b: [("s", "1")] * len(b))
    assert (n, sample) == (0, [])


def test_produce_acks_counted_without_verbose(spark, tmp_path):
    """Ack COUNT is exact with verbose=False (only printing is gated)."""
    from kitkat_spark.streaming.producer import produce_batch

    (tmp_path / "in.txt").write_text("\n".join(f"l{i}" for i in range(10)) + "\n")
    src = spark.read.text(str(tmp_path))
    n, sample = produce_batch(
        src, lambda b: [("s", str(i)) for i in range(len(b))], key="k", verbose=False
    )
    assert n == 10
    assert sample


def test_cli_produce_live_path(tmp_path):
    """Without boto3 the CLI errors cleanly before starting a stream; with
    boto3 but no AWS credentials it mirrors the reference exactly: per-batch
    put errors are logged and the run still exits 0 (producer.go:43-45
    prints "ERROR:" per record and Write() returns nil)."""
    try:
        import boto3  # noqa: F401

        has_boto3 = True
    except ImportError:
        has_boto3 = False
    (tmp_path / "lines.txt").write_text("a\nb\n")
    r = subprocess.run(
        [sys.executable, "-m", "kitkat_spark.cli", "produce", "-s", "st",
         "--source", str(tmp_path), "-r", "us-east-1"],
        capture_output=True, text=True, timeout=240, cwd=REPO,
        env={**{k: v for k, v in os.environ.items() if not k.startswith("AWS_")},
             # fake creds: client builds, every put fails at request time
             "AWS_ACCESS_KEY_ID": "testing", "AWS_SECRET_ACCESS_KEY": "testing",
             "AWS_EC2_METADATA_DISABLED": "true",
             "AWS_MAX_ATTEMPTS": "1", "AWS_RETRY_MODE": "standard"},
    )
    if has_boto3:
        assert r.returncode == 0
        assert "put_records failed" in (r.stdout + r.stderr)
    else:
        assert r.returncode == 1
        assert "boto3" in r.stderr


def test_spool_stdin_preserves_lines(spark, tmp_path, monkeypatch):
    """`--source -` spools stdin into a text dir the pipeline replays —
    the spooled file must round-trip the piped bytes line-for-line."""
    import io

    from kitkat_spark.cli import _spool_stdin

    lines = [f"stdin-line-{i}" for i in range(25)]
    payload = ("\n".join(lines) + "\n").encode()
    monkeypatch.setattr(
        sys, "stdin", io.TextIOWrapper(io.BytesIO(payload), encoding="utf-8")
    )
    spooled = _spool_stdin()
    try:
        got = sorted(r.value for r in spark.read.text(spooled).collect())
        assert got == sorted(lines)
    finally:
        import shutil

        shutil.rmtree(spooled, ignore_errors=True)


def test_spool_stdin_copies_bytes_verbatim(monkeypatch):
    """The spool is byte-mode on both ends: non-UTF-8 input (binary, or a
    latin-1 locale pipe) must land on disk verbatim instead of raising
    UnicodeDecodeError mid-copy."""
    import io
    import os

    from kitkat_spark.cli import _spool_stdin

    payload = b"caf\xe9 line\n\x00\xff raw bytes\n"  # not valid UTF-8
    monkeypatch.setattr(
        sys,
        "stdin",
        io.TextIOWrapper(io.BytesIO(payload), encoding="utf-8", errors="strict"),
    )
    spooled = _spool_stdin()
    try:
        with open(os.path.join(spooled, "stdin.txt"), "rb") as fh:
            assert fh.read() == payload
    finally:
        import shutil

        shutil.rmtree(spooled, ignore_errors=True)


def test_cli_produce_stdin_end_to_end(tmp_path):
    """`cat file | kitkat produce --source -` works verbatim (the reference's
    headline UX, producer/producer.go:30-36): the subprocess reads a REAL
    pipe, spools it, runs the produce pipeline, and exits 0 — with boto3
    present the per-batch put failure is logged exactly like the directory
    path (producer.go:43-45 semantics), proving lines reached the put."""
    try:
        import boto3  # noqa: F401

        has_boto3 = True
    except ImportError:
        has_boto3 = False
    r = subprocess.run(
        [sys.executable, "-m", "kitkat_spark.cli", "produce", "-s", "st",
         "--source", "-", "-r", "us-east-1"],
        input="a\nb\nc\n",
        capture_output=True, text=True, timeout=240, cwd=REPO,
        env={**{k: v for k, v in os.environ.items() if not k.startswith("AWS_")},
             "AWS_ACCESS_KEY_ID": "testing", "AWS_SECRET_ACCESS_KEY": "testing",
             "AWS_EC2_METADATA_DISABLED": "true",
             "AWS_MAX_ATTEMPTS": "1", "AWS_RETRY_MODE": "standard"},
    )
    if has_boto3:
        assert r.returncode == 0, r.stderr[-2000:]
        assert "put_records failed" in (r.stdout + r.stderr)
    else:
        assert r.returncode == 1
        assert "boto3" in r.stderr
