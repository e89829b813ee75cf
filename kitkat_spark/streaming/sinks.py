"""Sinks beyond the console: partitioned parquet append + dead-letter
quarantine.

The reference SILENTLY drops undecodable payloads (consumer.go:177-179:
failed deagg -> zero rows; 213-216: failed inflate -> passthrough). At
100 TB silent drops are unacceptable — a corrupt-blob burst must be
observable and replayable. ``consume_with_dlq`` decodes each record ONCE
(``classify_records``: one Arrow pass per outer record that deaggregates
KPL and inflates zlib, functions/kinesis.py) and splits that pass: healthy
rows are only rendered, undecodable ones land in a quarantine table with
the raw payload and a reason column.

Both paths are written by ONE foreachBatch, each with a plain parquet
append, and the checkpoint commits the batch's offsets only after that
function returns. The delivery guarantee is therefore AT-LEAST-ONCE: a
micro-batch re-run after a failure between its writes and its commit
appends its rows again (nothing keys a write by batch id or overwrites a
previous attempt). Exactly-once needs a transactional table format that
commits a batch's files atomically and skips a batch id it has already
committed, which is a deployment choice not taken here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kitkat_spark.streaming.pipeline import deaggregate_outer, render


def classify_records(df: DataFrame, compression: str | None = None) -> DataFrame:
    """The decode pass: one row per inner record, deaggregated and inflated,
    plus ``_dlq_reason`` (null = healthy) and ``_raw``, the outer ``data``
    and ``partitionKey`` of a quarantined row (null on healthy rows, so a
    cached batch does not hold a KPL blob once per inner record). A
    KPL-magic payload that decodes to zero records is one
    ``kpl_decode_failed`` row (bad md5 / truncated / bad protobuf); with
    zlib on, a plain payload that fails to inflate is ``zlib_decode_failed``.
    A bad ``compression`` raises here."""
    out = deaggregate_outer(df.withColumn("_raw", F.struct("data", "partitionKey")), compression)
    raw = F.col("_raw.data")
    reason = F.when(F.col("_kpl_failed"), F.lit("kpl_decode_failed"))
    if compression == "zlib":
        # inflate failure passthrough returns input unchanged; flag only
        # plain payloads that LOOK deflated (0x78 header, never the KPL
        # magic) yet fail to inflate
        looks_zlib = F.startswith(raw, F.lit(b"\x78"))
        reason = reason.when(looks_zlib & (F.col("data") == raw), F.lit("zlib_decode_failed"))
    out = out.withColumn("_dlq_reason", reason).drop("_kpl_failed")
    return out.withColumn("_raw", F.when(F.col("_dlq_reason").isNotNull(), F.col("_raw")))


def consume_with_dlq(
    records: DataFrame,
    good_path: str,
    dlq_path: str,
    checkpoint: str,
    compression: str | None = None,
    verbose: bool = True,
) -> StreamingQuery:
    """EP2 with quarantine: decode-able records -> rendered parquet append;
    undecodable -> raw payload + reason + arrival metadata in the DLQ. Two
    jobs per micro-batch: the good write persists the decoded batch and
    counts its bad rows (Observation); the DLQ write reads the cache."""
    classified = classify_records(records, compression)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            reason = F.col("_dlq_reason")
            n_bad = Observation()
            good = batch_df.observe(n_bad, F.count_if(reason.isNotNull()).alias("n"))
            render(good.filter(reason.isNull()), verbose=verbose).write.mode("append").parquet(good_path)
            if n_bad.get["n"]:
                batch_df.filter(reason.isNotNull()).select(
                    "_raw.*", "sequenceNumber", "approximateArrivalTimestamp", "shardId", "streamName",
                    reason.alias("reason"), F.lit(batch_id).alias("batch_id"),
                ).write.mode("append").parquet(dlq_path)
        finally:
            batch_df.unpersist()

    return (
        classified.writeStream.foreachBatch(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .start()
    )
