"""Producer entry point: line stream -> keyed records -> Kinesis-style sink.

Rebuilds ``kitkat produce`` (EP1, SURVEY.md §3) on Structured Streaming:

- stdin line source (S1, producer/producer.go:30-36) ->
  ``readStream.format("text")`` (one row per line); batch analog ``read.text``
- partition-key assignment (P1, producer.go:54-71) -> constant ``--key`` or a
  random 32-hex-char key per record (the reference draws 16 random bytes and
  hex-encodes them; ``uuid()`` minus dashes is the same 16-byte entropy,
  generated JVM-side with no Python hop)
- Kinesis sink (K1, producer.go:38-52) -> ``foreachBatch`` handing each
  micro-batch to a ``put_records`` callable: boto3 in production, an
  injectable fake in tests (the same seam the reference's mockKinesis
  provides, consumer_test.go:20-37)
- per-record error skip (E1, producer.go:44-46) and ack projection
  (E2, producer.go:47-50) live inside the sink callable

Scale: key assignment is a narrow JVM-side projection. The sink batches
per-partition (foreachPartition inside foreachBatch) — unlike the reference's
one synchronous PutRecord per line, each task ships up-to-500-record
PutRecords calls, the public API's max batch size.
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kitkat_spark.streaming.records import kinesis_client

PUT_BATCH_MAX = 500  # public PutRecords limit
ACK_SAMPLE = 20  # max acks retained per partition / returned to the driver
# --aggregated: lines packed per KPL blob. The KPL library packs to a byte
# budget; a record-count budget is equivalent for bounded line lengths and
# keeps the blob layout deterministic for the round-trip tests.
KPL_BLOB_RECORDS = 50


def line_source(spark: SparkSession, path: str) -> DataFrame:
    """S1: newline-delimited text, one record per line."""
    return spark.readStream.format("text").load(path)


def assign_partition_key(df: DataFrame, key: str | None = None, line_col: str = "value") -> DataFrame:
    """P1: constant key if given, else random 16-byte hex per record."""
    key_col = F.lit(key) if key is not None else F.expr("replace(uuid(), '-', '')")
    return df.select(F.col(line_col).alias("line"), key_col.alias("partitionKey"))


# put_records callable contract: [(partition_key, data_bytes)] -> [(shard_id,
# sequence_number)] acks. Exceptions per batch are logged and skipped (E1).
PutRecordsFn = Callable[[list[tuple[str, bytes]]], list[tuple[str, str]]]


def kinesis_put_records(
    stream_name: str, region: str | None = None, client=None
) -> PutRecordsFn:
    """Production sink callable. ``client`` is the injection seam (any
    boto3-shaped object with ``put_records`` — the reference's mockKinesis
    pattern, consumer/consumer_test.go:20-37); without one, boto3 must be
    importable: the driver builds a client once to fail fast, and each
    executor process builds its own on first put (never captured in the
    closure — see ``records.kinesis_client``)."""
    missing = (
        "boto3 unavailable; pass a boto3-shaped `client` or inject "
        "your own PutRecordsFn (tests do)"
    )
    if client is None:
        kinesis_client(region, missing)

    def put(batch: list[tuple[str, bytes]]) -> list[tuple[str, str]]:
        c = client if client is not None else kinesis_client(region, missing)
        resp = c.put_records(
            StreamName=stream_name,
            Records=[{"PartitionKey": k, "Data": d} for k, d in batch],
        )
        return [
            (r.get("ShardId", ""), r.get("SequenceNumber", ""))
            for r in resp["Records"]
        ]

    return put


def _kpl_blobs(
    records: Iterable[tuple[str, bytes]], blob_records: int = KPL_BLOB_RECORDS
) -> Iterable[tuple[str, bytes]]:
    """Pack consecutive (key, data) records into KPL aggregate blobs of up to
    ``blob_records`` inner records each (produce.go:27 declares --aggregated
    but producer.go:37-50 never reads it; this is the real implementation).
    The blob's outer partition key is the first inner record's key — what the
    KPL itself does — and the key table dictionary-encodes in first-seen
    order so the blob bytes are deterministic for a given record order."""
    from kitkat_spark.functions.kpl import aggregate_records

    def encode(group: list[tuple[str, bytes]]) -> tuple[str, bytes]:
        pk_table = list(dict.fromkeys(k for k, _ in group))
        idx = {k: i for i, k in enumerate(pk_table)}
        recs = [{"partition_key_index": idx[k], "data": d} for k, d in group]
        return group[0][0], aggregate_records(pk_table, recs)

    group: list[tuple[str, bytes]] = []
    for rec in records:
        group.append(rec)
        if len(group) >= blob_records:
            yield encode(group)
            group = []
    if group:
        yield encode(group)


def _sink_batch(
    pdf_iter: Iterable, put: PutRecordsFn, verbose: bool, aggregated: bool = False
) -> tuple[int, list[tuple[str, str]]]:
    """Ship one partition's rows in <=500-record batches; E1: an error in one
    batch is swallowed (logged) and the loop continues; E2: ack summary.

    Returns (n_acks, sample): the count is exact regardless of ``verbose``
    (which only controls per-batch ack printing); the sample is capped at
    ACK_SAMPLE. The reference prints every ack (producer.go:47-50), but
    holding per-record acks in task (let alone driver) memory is an OOM at
    100 TB — callers that need every ack should sink them to a table inside
    ``put`` instead. With ``aggregated``, records are packed into KPL blobs
    first, so acks count blobs, exactly as real Kinesis would ack them.
    """
    n_acks = 0
    sample: list[tuple[str, str]] = []
    batch: list[tuple[str, bytes]] = []

    def flush() -> None:
        nonlocal n_acks
        if not batch:
            return
        try:
            result = put(list(batch))
            n_acks += len(result)
            if len(sample) < ACK_SAMPLE:
                sample.extend(result[: ACK_SAMPLE - len(sample)])
            if verbose:
                print(f"acked {len(result)} records (sample: {result[:3]})")
        except Exception as exc:  # noqa: BLE001 - E1 semantics: log + continue
            print(f"put_records failed ({len(batch)} records): {exc}")
        batch.clear()

    records = ((row.partitionKey, row.line.encode()) for row in pdf_iter)
    if aggregated:
        records = _kpl_blobs(records)
    for rec in records:
        batch.append(rec)
        if len(batch) >= PUT_BATCH_MAX:
            flush()
    flush()
    return n_acks, sample


def produce(
    lines: DataFrame,
    put: PutRecordsFn,
    key: str | None = None,
    verbose: bool = False,
    checkpoint: str | None = None,
    available_now: bool = True,
    aggregated: bool = False,
) -> StreamingQuery:
    """EP1 end-to-end: key assignment then foreachBatch sink.

    ``put`` executes on the DRIVER per micro-batch here (collect of the batch)
    would not scale — instead each partition ships its own batches via
    ``foreachPartition``, so sink parallelism equals source partitioning.
    ``aggregated`` packs KPL blobs per partition before shipping (the
    --aggregated flag the reference declares but never implemented).
    """
    keyed = assign_partition_key(lines, key)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.foreachPartition(
            lambda rows: _sink_batch(rows, put, verbose, aggregated=aggregated)
        )

    writer = keyed.writeStream.foreachBatch(sink).outputMode("append")
    if available_now:
        writer = writer.trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def produce_batch(
    lines: DataFrame,
    put: PutRecordsFn,
    key: str | None = None,
    verbose: bool = False,
    aggregated: bool = False,
) -> tuple[int, list[tuple[str, str]]]:
    """Batch analog of EP1: returns (total_acks, sample<=ACK_SAMPLE).

    Each partition contributes ONE (count, capped-sample) row via
    ``mapInPandas`` — driver traffic is O(partitions) tiny rows, never
    O(records), so a 100 TB produce cannot OOM the driver on acks.
    """
    import json

    keyed = assign_partition_key(lines, key)

    def ack_partition(pdf_iter):
        import pandas as pd

        rows = (r for pdf in pdf_iter for r in pdf.itertuples(index=False))
        n, sample = _sink_batch(rows, put, verbose, aggregated=aggregated)
        yield pd.DataFrame({"n_acks": [n], "sample": [json.dumps(sample)]})

    acks = keyed.mapInPandas(ack_partition, "n_acks long, sample string").collect()
    n = sum(r.n_acks for r in acks)
    sample: list[tuple[str, str]] = []
    for r in acks:
        if len(sample) >= ACK_SAMPLE:
            break
        sample.extend(tuple(s) for s in json.loads(r.sample))
    return n, sample[:ACK_SAMPLE]
