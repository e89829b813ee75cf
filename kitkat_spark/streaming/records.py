"""Record/shard schemas + replay sources for the kitkat streaming surface.

The unit of data is the Kinesis record (SURVEY.md §1.1): an opaque binary
payload plus routing/ordering metadata. The schema below is exactly the one
the Spark Kinesis connector exposes, so production swaps the replay source
for ``spark.readStream.format("aws-kinesis")`` with zero transform changes
(reference fields: /root/reference/consumer/consumer.go:183-188,202-205).

Shards (stream partitions) carry lifecycle metadata: a shard with a non-null
``ending_sequence_number`` is closed and must be skipped
(consumer.go:116-118,121-123).

Scale: 1 shard -> 1 source partition -> 1 task. The replay source reads a
parquet directory; at 100 TB the directory is a partitioned table and the
same ``readStream`` call fans out across every executor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# One row per Kinesis record — connector-shaped (SURVEY.md §1.3 mapping table).
RECORD_SCHEMA = T.StructType(
    [
        T.StructField("data", T.BinaryType()),
        T.StructField("partitionKey", T.StringType()),
        T.StructField("sequenceNumber", T.StringType()),
        T.StructField("approximateArrivalTimestamp", T.TimestampType()),
        T.StructField("shardId", T.StringType()),
        T.StructField("streamName", T.StringType()),
        T.StructField("encryptionType", T.StringType()),
    ]
)

# DescribeStream shard entry (consumer.go:101-108).
SHARD_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.StringType()),
        T.StructField("starting_sequence_number", T.StringType()),
        T.StructField("ending_sequence_number", T.StringType()),  # null = open
    ]
)

# DescribeStream stream-level metadata (consumer.go:75-81, 88-114).
STREAM_META_SCHEMA = T.StructType(
    [
        T.StructField("stream_name", T.StringType()),
        T.StructField("created_at", T.TimestampType()),
        T.StructField("encryption_type", T.StringType()),
        T.StructField("retention_hours", T.IntegerType()),
    ]
)


def replay_stream(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming scan of a record-parquet directory (the test substitute for
    the Kinesis connector; SURVEY.md §2.A S2). ``maxFilesPerTrigger`` is the
    replay analog of the reference's ``--limit`` fetch batching
    (command/consume.go:26)."""
    reader = spark.readStream.schema(RECORD_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def kinesis_reader_options(
    stream_names: str,
    region: str,
    position: str = "latest",
    since: str | None = None,
    max_fetch_records: int = 500,
    fetch_interval_ms: int = 100,
) -> dict[str, str]:
    """The production source config: ``kitkat consume`` flags mapped onto the
    spark-streaming-kinesis connector's option names, so
    ``spark.readStream.format("aws-kinesis")`` + these options replaces
    replay_stream with zero transform changes.

    Flag parity (command/consume.go:25-29): --stream -> streamName (the
    connector takes one stream per source; multi-stream union = one source
    per name unioned, consumer.go:53-55), --iterator/--since ->
    startingPosition, --limit -> maxFetchRecordsPerShard, --interval ->
    the fetch-interval pacing. Shard fan-out and iterator/offset tracking
    (NextShardIterator, consumer.go:166) belong to the connector's
    checkpointed offsets — nothing to re-implement."""
    pos_map = {
        "latest": "latest",
        "trim_horizon": "trim_horizon",
        "at_timestamp": "at_timestamp",
        "at_sequence_number": "trim_horizon",  # connector seeks by ts, not seq
    }
    if position not in pos_map:
        raise ValueError(f"position must be one of {sorted(pos_map)}")
    opts = {
        "streamName": stream_names,
        "region": region,
        "startingPosition": pos_map[position],
        "maxFetchRecordsPerShard": str(max_fetch_records),
        "minFetchPeriod": f"{fetch_interval_ms}ms",
    }
    if position == "at_timestamp":
        if since is None:
            raise ValueError("--since is required with at_timestamp")
        opts["startingTimestamp"] = since
    return opts


# Per-process boto3 client cache: a botocore client is NOT picklable, so a
# closure that ships to executors captures only the region string and
# builds/reuses the client inside the task process (executors re-import
# this module).
_BOTO3_CLIENTS: dict[str | None, object] = {}


def kinesis_client(region: str | None, missing: str):
    """This process's boto3 Kinesis client for ``region``, built once.
    Raises ``NotImplementedError(missing)`` when boto3 is not importable,
    so each caller names its own injection seam."""
    cli = _BOTO3_CLIENTS.get(region)
    if cli is None:
        try:
            import boto3  # type: ignore[import-not-found]
        except ImportError as exc:
            raise NotImplementedError(missing) from exc
        cli = _BOTO3_CLIENTS[region] = boto3.client("kinesis", region_name=region)
    return cli


def batch_records(spark: SparkSession, path: str) -> DataFrame:
    """Batch scan of the same record directory (oracle/bench path)."""
    return spark.read.schema(RECORD_SCHEMA).parquet(path)


def describe_stream_df(
    spark: SparkSession,
    stream_name: str,
    region: str | None = None,
    client=None,
) -> tuple[DataFrame, DataFrame]:
    """S3: live Kinesis ``DescribeStream`` surfaced as (meta_df, shards_df).

    ``client`` is the injection seam (any boto3-shaped object with a
    ``describe_stream`` method — mirrors the reference's mockKinesis,
    consumer/consumer_test.go:20-37); without it boto3 is required, which
    this container lacks. DescribeStream pages at 100 shards: the loop
    follows ``HasMoreShards`` with ``ExclusiveStartShardId`` so a
    many-shard stream's full shard table is assembled, exactly as the AWS
    API contract specifies.
    """
    if client is None:
        client = kinesis_client(
            region,
            "boto3 is unavailable; pass a boto3-shaped `client` or build "
            "meta/shard DataFrames with SHARD_SCHEMA/STREAM_META_SCHEMA "
            "from your own DescribeStream call",
        )
    shard_rows: list[tuple] = []
    kwargs: dict = {"StreamName": stream_name}
    while True:
        desc = client.describe_stream(**kwargs)["StreamDescription"]
        shard_rows.extend(
            (
                s["ShardId"],
                s["SequenceNumberRange"]["StartingSequenceNumber"],
                s["SequenceNumberRange"].get("EndingSequenceNumber"),
            )
            for s in desc["Shards"]
        )
        if not desc.get("HasMoreShards") or not desc["Shards"]:
            break
        kwargs["ExclusiveStartShardId"] = desc["Shards"][-1]["ShardId"]
    meta = spark.createDataFrame(
        [
            (
                desc["StreamName"],
                desc["StreamCreationTimestamp"],
                desc.get("EncryptionType", "NONE"),
                desc["RetentionPeriodHours"],
            )
        ],
        STREAM_META_SCHEMA,
    )
    shards = spark.createDataFrame(shard_rows, SHARD_SCHEMA)
    return meta, shards


def open_shards(shards: DataFrame) -> DataFrame:
    """F1 closed-shard filter: keep shards still accepting reads
    (consumer.go:121-123). On the real connector this is source-level shard
    management; expressed relationally it is a null-predicate partition prune."""
    return shards.filter(F.col("ending_sequence_number").isNull())


# Iterator-type spelling: CLI position -> Kinesis API constant
# (consumer.go:63-72 maps --iterator the same way).
_ITERATOR_TYPES = {
    "latest": "LATEST",
    "trim_horizon": "TRIM_HORIZON",
    "at_sequence_number": "AT_SEQUENCE_NUMBER",
    "at_timestamp": "AT_TIMESTAMP",
}


def poll_shard_records(
    client,
    stream_name: str,
    shard_id: str,
    position: str = "trim_horizon",
    limit: int = 500,
    since=None,
    starting_sequence_number: str | None = None,
    max_polls: int = 100,
) -> list[tuple]:
    """S2 live path: one shard's records via the REAL iterator protocol —
    GetShardIterator then a GetRecords loop chasing ``NextShardIterator``
    (consumer.go:125-152), honoring the fetch ``limit`` per poll
    (command/consume.go:26). Returns RECORD_SCHEMA-shaped tuples.

    Termination differs from the reference's infinite tail on purpose: this
    is the bounded-snapshot form (``consume --once``) — the loop stops when
    the shard is caught up (``MillisBehindLatest == 0``), the iterator ends
    (closed shard drained), or ``max_polls`` elapses. ``client`` is any
    boto3-shaped object (production boto3, moto, or a stub)."""
    it_kwargs = {
        "StreamName": stream_name,
        "ShardId": shard_id,
        "ShardIteratorType": _ITERATOR_TYPES.get(position, position),
    }
    if position == "at_timestamp":
        if since is None:
            raise ValueError("--since is required with at_timestamp")
        it_kwargs["Timestamp"] = since
    if position == "at_sequence_number":
        if starting_sequence_number is None:
            raise ValueError("at_sequence_number needs a starting sequence number")
        it_kwargs["StartingSequenceNumber"] = starting_sequence_number
    iterator = client.get_shard_iterator(**it_kwargs)["ShardIterator"]
    out: list[tuple] = []
    for _ in range(max_polls):
        if not iterator:
            break  # closed shard fully drained
        resp = client.get_records(ShardIterator=iterator, Limit=limit)
        for r in resp["Records"]:
            out.append(
                (
                    r["Data"],
                    r["PartitionKey"],
                    r["SequenceNumber"],
                    r.get("ApproximateArrivalTimestamp"),
                    shard_id,
                    stream_name,
                    r.get("EncryptionType", "NONE"),
                )
            )
        iterator = resp.get("NextShardIterator")
        if resp.get("MillisBehindLatest", 0) == 0 and not resp["Records"]:
            break  # caught up
    return out


def live_records_df(
    spark: SparkSession,
    client,
    stream_name: str,
    position: str = "trim_horizon",
    limit: int = 500,
    since=None,
    max_polls: int = 100,
    region: str | None = None,
) -> DataFrame:
    """Bounded snapshot of a LIVE stream as a RECORD_SCHEMA DataFrame:
    DescribeStream (paginated) -> open-shard filter (F1) -> per-shard
    GetRecords poll loop. This is the ``consume --once`` parity path; a
    production TAIL uses the Kinesis connector (replay_stream's docstring)
    — driver-side polling is O(snapshot) and deliberately not a stream.
    Pass ``client=None`` to build a boto3 client for ``region``."""
    if client is None:
        client = kinesis_client(
            region, "boto3 is unavailable; pass a boto3-shaped `client`"
        )
    _, shards = describe_stream_df(spark, stream_name, client=client)
    rows: list[tuple] = []
    for s in open_shards(shards).collect():
        rows.extend(
            poll_shard_records(
                client,
                stream_name,
                s.shard_id,
                position=position,
                limit=limit,
                since=since,
                max_polls=max_polls,
            )
        )
    return spark.createDataFrame(rows, RECORD_SCHEMA)
