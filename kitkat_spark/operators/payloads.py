"""Payload-format operators: KPL deaggregation + zlib decode as batch queries
(SURVEY.md §2.A X1/P5 rebuilt on DataFrames; fixtures per FIXTURES.md §B).

q_kpl_deagg synthesizes KPL aggregate blobs from the events table (5 events
per blob, partition keys dictionary-encoded from user_id — mirroring the
reference's test builder consumer_test.go:346-377), then runs the engine's
deaggregation path: magic-prefix predicate -> pandas-UDF decode ->
explode -> dictionary-decoded keys. One corrupt blob is injected and must
yield 0 rows (consumer.go:177-179). Value-oracled: the decoded rows are a
pure SQL function of events (see ORACLE), so the DuckDB twin verifies the
entire encode -> decode round trip, not just row counts.

q_zlib compresses documents.text, runs the graceful-decompress UDF
(consumer.go:211-224 semantics), and returns per-doc recovered lengths —
oracle-checkable against plain length(text).

Scale: both are narrow map pipelines (no shuffle except the final blob
grouping in fixture synthesis, which is test-only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kitkat_spark.caches import fixture
from kitkat_spark.functions.compression import zlib_compress_udf, zlib_decompress_udf
from kitkat_spark.functions.kpl import (
    aggregate_records,
    is_aggregated_col,
    kpl_deaggregate_udf,
)
from kitkat_spark.sources import load_table

BLOB_SIZE = 5


def build_kpl_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted blob fixture, built once per session (a
    ``caches.fixture``): blob synthesis is test scaffolding, not the
    operator under test, so repeated queries measure deaggregation
    itself."""
    return fixture(
        spark, sf_dir, "kpl_blobs", lambda _: _build_kpl_blobs(spark, sf_dir).persist()
    )


def _build_kpl_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic KPL fixture: events grouped 5-per-blob by event_id.

    Built distributed with mapInPandas over blob-id-hash-partitioned, sorted
    partitions: one Python call per Arrow batch, with the trailing
    (possibly batch-split) blob carried into the next batch. applyInPandas
    would make one Python call per 5-row group (~20k calls at sf0.1 — it
    benchmarked 60 s; this form is a few seconds).
    """
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    par = spark.sparkContext.defaultParallelism

    import pandas as pd  # local import: executor-side dependency only

    def encode_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # numpy slice-per-blob (no pandas groupby/itertuples: ~4x faster)
        import numpy as np

        bid = pdf["blob_id"].to_numpy()
        eid = pdf["event_id"].to_numpy()
        uid = pdf["user_id"].to_numpy()
        val = pdf["value"].to_numpy()
        order = np.lexsort((eid, bid))
        bid, eid, uid, val = bid[order], eid[order], uid[order], val[order]
        bounds = np.flatnonzero(np.diff(bid)) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(bid)]))
        out_ids, out_blobs = [], []
        for s, e in zip(starts, ends):
            keys = [f"user-{u}" for u in uid[s:e]]
            pk_table = sorted(set(keys))
            idx = {k: i for i, k in enumerate(pk_table)}
            recs = [
                {
                    "partition_key_index": idx[k],
                    "data": f"{ev}|{v}".encode(),
                    "tags": [("src", "events")],
                }
                for k, ev, v in zip(keys, eid[s:e], val[s:e])
            ]
            blob_id = int(bid[s])
            blob = aggregate_records(pk_table, recs)
            if blob_id == 0:  # one corrupt blob: break the md5 -> 0 decoded rows
                blob = blob[: len(blob) - 17] + b"\x00" + blob[len(blob) - 16 :]
            out_ids.append(blob_id)
            out_blobs.append(blob)
        return pd.DataFrame({"blob_id": out_ids, "blob": out_blobs})

    def encode_batches(batches):
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
            if not len(pdf):
                continue
            # hold back the last blob_id: its rows may continue in the next batch
            last = pdf["blob_id"].iloc[-1]
            pending = pdf[pdf["blob_id"] == last]
            head = pdf[pdf["blob_id"] != last]
            if len(head):
                yield encode_group(head)
        if pending is not None and len(pending):
            yield encode_group(pending)

    return (
        events.withColumn("blob_id", (F.col("event_id") / BLOB_SIZE).cast("long"))
        .repartition(par, "blob_id")
        .sortWithinPartitions("blob_id")
        .mapInPandas(encode_batches, schema="blob_id long, blob binary")
    )


def q_kpl_deagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPL deaggregation: predicate -> decode UDF -> explode (the UDTF shape)."""
    blobs = build_kpl_blobs(spark, sf_dir)
    decoded = (
        blobs.filter(is_aggregated_col(F.col("blob")))
        .select("blob_id", F.explode(kpl_deaggregate_udf(F.col("blob"))).alias("rec"))
        .select(
            "blob_id",
            F.col("rec.partition_key").alias("partition_key"),
            F.col("rec.data").cast("string").alias("payload"),
            F.element_at(F.col("rec.tags"), "src").alias("tag_src"),
        )
    )
    return decoded.select(
        "blob_id",
        "partition_key",
        F.split(F.col("payload"), r"\|").getItem(0).cast("long").alias("event_id"),
        "tag_src",
    )


def q_zlib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib round-trip with graceful passthrough, verified by length parity."""
    docs = load_table(spark, sf_dir, "documents")
    compressed = docs.select(
        "doc_id", zlib_compress_udf(F.col("text").cast("binary")).alias("z")
    )
    return compressed.select(
        "doc_id",
        F.length(zlib_decompress_udf(F.col("z")).cast("string")).alias("n_chars_rt"),
    )


ORACLE: dict[str, str] = {
    "q_zlib": """
        SELECT doc_id, CAST(length(text) AS INT) AS n_chars_rt
        FROM documents
    """,
    # q_kpl_deagg: the decoded output is a pure SQL function of events —
    # blob_id = event_id // BLOB_SIZE, partition_key dictionary-decodes back
    # to 'user-'||user_id, tag_src is the fixture constant, and the one
    # corrupt blob (blob_id 0) yields no rows. This value-verifies the whole
    # KPL encode -> decode round trip (the reference's own crown-jewel test,
    # consumer_test.go:325-377: deaggregate(aggregate(x)) == x).
    "q_kpl_deagg": f"""
        SELECT CAST(event_id // {BLOB_SIZE} AS BIGINT) AS blob_id,
               'user-' || CAST(user_id AS VARCHAR) AS partition_key,
               event_id,
               'events' AS tag_src
        FROM events
        WHERE event_id // {BLOB_SIZE} <> 0
    """,
}
