"""Thin CLI over the streaming module — the reference's command surface
(``kitkat produce|consume``, command/root.go:14-32, produce.go:16-47,
consume.go:19-49) rebuilt as entry points that assemble Structured Streaming
pipelines.

    python -m kitkat_spark.cli consume -s /path/records1,/path/records2 \
        -I trim_horizon -i 100 -c zlib --verbose
    python -m kitkat_spark.cli produce -s my-stream --source /path/lines \
        -k fixed-key --aggregated
    python -m kitkat_spark.cli info -s my-stream -r us-east-1

Sources are Kinesis streams when the path looks like a stream name AND boto3
is installed; otherwise each ``-s`` entry is a record-parquet directory
replayed through the same pipeline (the test/dev mode this container runs).
Flag names, defaults (limit=500, interval=100ms), and semantics mirror the
reference CLI.
"""

from __future__ import annotations

import argparse
import os
import sys

from kitkat_spark.session import get_spark
from kitkat_spark.streaming import (
    ConsumeOptions,
    consume,
    produce,
    replay_stream,
    start_console,
)
from kitkat_spark.streaming.consumer import since_datetime


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="kitkat-spark", description=__doc__)
    p.add_argument("--verbose", "-v", action="store_true", help="verbose output (root.go:24)")
    sub = p.add_subparsers(dest="cmd", required=True)

    # short flags mirror the reference exactly (consume.go:24-31): -I is the
    # ITERATOR and lowercase -i the poll INTERVAL; -t since, -c compress,
    # -l limit, -r region. Iterator/compress values are case-insensitive
    # (the reference spells them LATEST / TRIM_HORIZON / ...).
    c = sub.add_parser("consume", aliases=["c"], help="tail streams (consume.go:19)")
    c.add_argument("--stream", "-s", required=True, help="comma-separated streams/paths")
    c.add_argument(
        "--iterator",
        "-I",
        type=str.lower,
        default="latest",
        choices=["latest", "trim_horizon", "at_sequence_number", "at_timestamp"],
    )
    c.add_argument(
        "--region", "-r", default=os.environ.get("AWS_REGION", "us-west-2"),
        help="AWS region (real-Kinesis sources only; consume.go:24)",
    )
    c.add_argument("--limit", "-l", type=int, default=500, help="records per fetch")
    c.add_argument("--interval", "-i", type=int, default=100, help="poll pacing (ms)")
    c.add_argument("--since", "-t", default=None, help="RFC3339 ts (with -I at_timestamp)")
    c.add_argument("--compress", "-c", type=str.lower, default="none", choices=["zlib", "none"])
    c.add_argument("--once", action="store_true", help="drain available data and exit")

    pr = sub.add_parser("produce", aliases=["p"], help="publish lines (produce.go:16)")
    pr.add_argument("--stream", "-s", required=True, help="target stream name")
    pr.add_argument("--key", "-k", default=None, help="constant partition key")
    pr.add_argument("--region", "-r", default=os.environ.get("AWS_REGION", "us-west-2"))
    pr.add_argument(
        "--aggregated", "-a", action="store_true",
        help="produce in KPL aggregated record format (produce.go:27; the "
        "reference declares this flag but never wires it — here it is real)",
    )
    pr.add_argument(
        "--source",
        required=True,
        help="directory of newline-delimited text, or '-' to read stdin "
        "(the reference's headline mode: `cat file | kitkat produce`, "
        "producer/producer.go:30-36 via command/produce.go:41)",
    )

    info = sub.add_parser("info", help="stream description table (consumer.go:88)")
    info.add_argument("--stream", "-s", required=True)
    info.add_argument("--region", "-r", default=os.environ.get("AWS_REGION"))
    return p


def _cmd_consume(args: argparse.Namespace) -> int:
    # F4: a bad or missing --since fails before Spark starts, for replay
    # and live sources alike
    since_ts = None
    if args.iterator == "at_timestamp" or args.since is not None:
        try:
            since_ts = since_datetime(args.since)
        except ValueError as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 1
    spark = get_spark(app_name="kitkat-consume")
    opts = ConsumeOptions(
        position=args.iterator,
        since=args.since,
        limit=args.limit,
        interval_ms=args.interval,
        compression=None if args.compress == "none" else args.compress,
        verbose=args.verbose,
    )
    paths = args.stream.split(",")
    # entries that are not on-disk record directories are live Kinesis
    # stream names. With --once, a bounded snapshot is served through the
    # real iterator protocol (records.live_records_df: DescribeStream ->
    # GetShardIterator/GetRecords); a live TAIL needs the aws-kinesis
    # connector. Either failure reports gracefully like the produce path.
    missing = [p for p in paths if not os.path.exists(p)]
    if missing and args.once:
        try:
            from kitkat_spark.streaming.pipeline import consume_transform
            from kitkat_spark.streaming.records import live_records_df

            for name in missing:
                snap = live_records_df(
                    spark,
                    None,  # boto3 client built from --region
                    name,
                    position=opts.position,
                    limit=opts.limit,
                    since=since_ts,
                    region=args.region,
                )
                consume_transform(
                    snap, compression=opts.compression, verbose=opts.verbose
                ).show(truncate=False)
        except Exception as exc:  # no creds / no such stream / no boto3
            print(
                f"error: live Kinesis snapshot failed for "
                f"{', '.join(missing)} (region {args.region!r}): {exc}",
                file=sys.stderr,
            )
            return 1
        paths = [p for p in paths if os.path.exists(p)]
        if not paths:
            return 0
    elif missing:
        print(
            f"error: not a replay directory and a live tail requires the "
            f"aws-kinesis connector (region {args.region!r}): "
            + ", ".join(missing),
            file=sys.stderr,
        )
        return 1
    sources = [replay_stream(spark, p, max_files_per_trigger=None) for p in paths]
    df = consume(sources, opts)
    q = start_console(df, opts, available_now=args.once)
    try:
        q.awaitTermination()  # C3: first error from any source ends the run
    except KeyboardInterrupt:
        q.stop()
    return 0


def _spool_stdin() -> str:
    """Literal-stdin parity (producer/producer.go:30-36, the reference's
    `cat file | kitkat produce` UX): spool the pipe into a temp text dir so
    the identical streaming pipeline replays it. The spool is the
    unavoidable batch boundary — Spark's file text source can't tail an
    anonymous pipe — and is bounded by whatever the caller pipes in."""
    import shutil
    import tempfile

    tmpdir = tempfile.mkdtemp(prefix="kitkat_stdin_")
    try:
        # byte-mode on both ends: text-mode stdin would raise on non-UTF-8
        # input (or under a C locale) mid-spool; bytes are copied verbatim
        # and Spark's text source does its own UTF-8 decoding, exactly as
        # it would for a file the user passed directly
        with open(os.path.join(tmpdir, "stdin.txt"), "wb") as fh:
            shutil.copyfileobj(sys.stdin.buffer, fh)
    except BaseException:
        shutil.rmtree(tmpdir, ignore_errors=True)
        raise
    return tmpdir


def _cmd_produce(args: argparse.Namespace) -> int:
    spark = get_spark(app_name="kitkat-produce")
    from kitkat_spark.streaming.producer import kinesis_put_records, line_source

    try:
        put = kinesis_put_records(args.stream, args.region)
    except NotImplementedError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    source, tmpdir = args.source, None
    if source == "-":
        source = tmpdir = _spool_stdin()
    try:
        q = produce(
            line_source(spark, source),
            put,
            key=args.key,
            verbose=args.verbose,
            aggregated=args.aggregated,
        )
        q.awaitTermination()
    finally:
        if tmpdir is not None:
            import shutil

            shutil.rmtree(tmpdir, ignore_errors=True)
    return 0


def _cmd_info(args: argparse.Namespace) -> int:
    spark = get_spark(app_name="kitkat-info")
    from kitkat_spark.streaming.consumer import render_stream_info
    from kitkat_spark.streaming.records import describe_stream_df

    try:
        meta, shards = describe_stream_df(spark, args.stream, args.region)
    except NotImplementedError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    # the reference's 6-row tablewriter layout (consumer.go:88-114)
    print(render_stream_info(meta, shards))
    return 0


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    if args.cmd in ("consume", "c"):
        return _cmd_consume(args)
    if args.cmd in ("produce", "p"):
        return _cmd_produce(args)
    return _cmd_info(args)


if __name__ == "__main__":
    sys.exit(main())
