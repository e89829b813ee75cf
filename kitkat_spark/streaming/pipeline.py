"""The kitkat consumer dataflow as pure DataFrame transforms.

Each function maps a reference operator (SURVEY.md §2.A) onto a narrow,
shuffle-free transformation that works identically on a batch DataFrame and a
streaming one — the whole consume pipeline is a single whole-stage-codegen
map chain plus ONE Arrow-batched UDF for the binary codecs Spark SQL lacks:
``kinesis_decode_udf`` deaggregates KPL (protobuf) and inflates zlib in one
pass per outer record (functions/kinesis.py), DLQ decode pass included, so
each task has one Python boundary.

Reference pipeline (consumer.go:148-209): GetRecords -> [aggregated? ->
deaggregate -> N records] -> [zlib? -> inflate] -> bytes->text + trim one
trailing newline -> format arrival ts -> terse/verbose projection -> print.

Scale: no shuffle anywhere. Deaggregation multiplies rows within a partition
(explode), decompression is per inner record in the same Python call;
parallelism stays 1 shard -> 1 task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kitkat_spark.functions.compression import inflates, zlib_decompress_udf
from kitkat_spark.functions.kinesis import kinesis_decode_udf

TS_FORMAT = "yyyy-MM-dd HH:mm:ss"  # Go layout 2006-01-02 15:04:05 (consumer.go:193)


def deaggregate_outer(df: DataFrame, compression: str | None = None) -> DataFrame:
    """X1, failures kept: expand KPL aggregates in-line, pass plain records
    through, and with ``compression="zlib"`` inflate every payload in the
    same pass (P5, see ``decompress``). A blob that fails magic/md5/protobuf
    checks (consumer.go:177-179) is ONE row with ``_kpl_failed`` set and
    null ``partitionKey``/``data``/``tags``, which the DLQ sink (sinks.py)
    quarantines from its decode pass.

    Inner records inherit the outer record's arrival timestamp, sequence
    number, shard and encryption type (consumer.go:183-188); the partition
    key is dictionary-decoded inside the UDF (consumer.go:186). Plain
    payloads come back as a 1-element array so one ``explode_outer`` does
    both: no filter/union split, no second scan of the source. Only a
    failed decode (an empty array) explodes to a null ``_rec``.
    """
    recs = kinesis_decode_udf(F.col("data"), F.col("partitionKey"), F.lit(inflates(compression)))
    return (
        df.withColumn("_rec", F.explode_outer(recs))
        .withColumn("_kpl_failed", F.col("_rec").isNull())
        .withColumn("partitionKey", F.col("_rec.partition_key"))
        .withColumn("data", F.col("_rec.data"))
        .withColumn("tags", F.col("_rec.tags"))
        .drop("_rec")
    )


def deaggregate(df: DataFrame, compression: str | None = None) -> DataFrame:
    """X1: ``deaggregate_outer`` minus failed blobs, which yield zero rows."""
    return deaggregate_outer(df, compression).filter(~F.col("_kpl_failed")).drop("_kpl_failed")


def decompress(df: DataFrame, compression: str | None) -> DataFrame:
    """P5 on its own: per-record zlib inflate with pass-through on decode
    failure (consumer.go:197-201,211-224). ``compression`` mirrors
    ``--compress``. The consume path inflates inside ``deaggregate``
    instead, in the same Python pass."""
    if not inflates(compression):
        return df
    return df.withColumn("data", zlib_decompress_udf(F.col("data")))


def payload_text(data: Column) -> Column:
    """P3: bytes -> UTF-8 text, trimming exactly ONE trailing newline.

    Go's strings.TrimSuffix strips at most one occurrence (consumer.go:203);
    ``rtrim`` would strip all, and Java's ``$`` also matches BEFORE a final
    line terminator (so ``\\n$`` strips two) — anchor with ``\\z``.
    """
    return F.regexp_replace(data.cast("string"), "\\n\\z", "")


def render(df: DataFrame, verbose: bool = False) -> DataFrame:
    """P2+P3+P4: format timestamp, decode payload, project terse or verbose
    columns (consumer.go:195-209; --verbose flag command/root.go:24)."""
    out = df.withColumn("timestamp", F.date_format("approximateArrivalTimestamp", TS_FORMAT)).withColumn(
        "message", payload_text(F.col("data"))
    )
    if verbose:
        return out.select(
            "timestamp",
            F.col("streamName").alias("stream"),
            F.col("shardId").alias("shard_id"),
            F.col("sequenceNumber").alias("sequence_number"),
            "message",
        )
    return out.select("timestamp", "message")


def consume_transform(
    df: DataFrame,
    compression: str | None = None,
    verbose: bool = False,
    since: Column | None = None,
) -> DataFrame:
    """The full consumer pipeline EP2 (SURVEY.md §3) as one composable
    transform; ``since`` reproduces AT_TIMESTAMP positioning on replay
    (consumer.go:125-130: F3/F4)."""
    if since is not None:
        df = df.filter(F.col("approximateArrivalTimestamp") >= since)
    return render(deaggregate(df, compression), verbose=verbose)
