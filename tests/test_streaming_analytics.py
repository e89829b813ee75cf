"""Streaming-vs-batch equivalence: replay events through a real streaming
query and assert the result matches the batch analog computed on the same
data — the exactly-once contract of the watermarked operators.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kitkat_spark.sources import load_table
from kitkat_spark.streaming.analytics import (
    session_counts,
    sliding_counts,
    stream_dedup,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_stream_path(spark, tmp_path_factory):
    """events with micro-ts re-written so readStream needs no legacy conf."""
    p = str(tmp_path_factory.mktemp("stream") / "events")
    load_table(spark, SF, "events").write.parquet(p)
    return p


def _replay(spark, path):
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def _run_complete(df, spark, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql(f"SELECT * FROM {name}")


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_streaming_tumbling_equals_batch(spark, events_stream_path):
    batch = tumbling_counts(spark.read.parquet(events_stream_path))
    stream = tumbling_counts(_replay(spark, events_stream_path))
    got = _run_complete(stream, spark, "t_tumbling")
    assert _rows(got, "window_start", "event_type") == _rows(
        batch, "window_start", "event_type"
    )


def test_streaming_sliding_equals_batch(spark, events_stream_path):
    batch = sliding_counts(spark.read.parquet(events_stream_path))
    stream = sliding_counts(_replay(spark, events_stream_path))
    got = _run_complete(stream, spark, "t_sliding")
    assert _rows(got, "window_start", "event_type") == _rows(
        batch, "window_start", "event_type"
    )


def test_streaming_sessions_equal_batch(spark, events_stream_path):
    batch = session_counts(spark.read.parquet(events_stream_path))
    stream = session_counts(_replay(spark, events_stream_path))
    got = _run_complete(stream, spark, "t_sessions")
    assert _rows(got, "user_id", "session_start") == _rows(
        batch, "user_id", "session_start"
    )


def test_streaming_dedup_drops_watermarked_duplicates(spark, tmp_path):
    src = str(tmp_path / "dups")
    ev = load_table(spark, SF, "events").limit(200)
    ev.union(ev).write.parquet(src)  # every event twice
    schema = spark.read.parquet(src).schema
    stream = stream_dedup(spark.readStream.schema(schema).parquet(src))
    q = (
        stream.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM t_dedup").collect()[0]
    assert got.n == got.d == 200


def test_streaming_dedup_across_micro_batches(spark, tmp_path):
    """Duplicates arriving in DIFFERENT micro-batches must not re-emit: a
    second copy is either matched against the state store (still within the
    watermark delay) or dropped as late data (older than the advanced
    watermark) — either way the append output carries each key exactly
    once. This is the cross-batch state property the single-batch test
    above cannot see."""
    src = str(tmp_path / "xbatch")
    ev = load_table(spark, SF, "events").limit(200)
    ev.coalesce(1).write.mode("append").parquet(src)  # file 1: copy A
    ev.coalesce(1).write.mode("append").parquet(src)  # file 2: copy B
    schema = spark.read.parquet(src).schema
    stream = stream_dedup(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_dedup_xb")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_xb"))
        .start()
    )
    q.awaitTermination(180)
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) >= 2, "replay did not split into multiple micro-batches"
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM t_dedup_xb"
    ).collect()[0]
    assert got.n == got.d == 200


def test_streaming_enrich_equals_batch(spark, events_stream_path):
    """Stream-static enrichment (q_stream_enrich's shape): the event stream
    joined to the customer dimension — a stream-static broadcast join needs
    no watermark and never shuffles the stream side pre-agg. The streaming
    daily rollup must equal the batch analog on the same replayed data."""
    customer = load_table(spark, SF, "customer")

    def enrich(events):
        return (
            events.join(F.broadcast(customer), events.user_id == customer.c_custkey)
            .groupBy(F.to_date("ts").alias("day"), "c_mktsegment")
            .agg(
                F.count("*").alias("n_events"),
                F.sum("value").alias("total_value"),
            )
        )

    batch = enrich(spark.read.parquet(events_stream_path))
    got = _run_complete(enrich(_replay(spark, events_stream_path)), spark, "t_enrich")
    b = _rows(batch, "day", "c_mktsegment")
    s = _rows(got, "day", "c_mktsegment")
    assert len(b) == len(s) > 0
    for rb, rs in zip(b, s):
        assert rb[:3] == rs[:3]
        # float sums: micro-batch accumulation order differs from batch
        assert abs(rb[3] - rs[3]) < 1e-6


def test_streaming_interval_join_equals_batch(spark, events_stream_path):
    """Stream-stream watermarked interval join (view -> follow-up click by
    the same user within 10 min) matches the identical batch join."""
    from kitkat_spark.streaming.analytics import interval_join

    views_b = spark.read.parquet(events_stream_path).filter(F.col("event_type") == "view")
    clicks_b = spark.read.parquet(events_stream_path).filter(
        F.col("event_type") == "click"
    )
    batch = interval_join(views_b, clicks_b)

    views_s = _replay(spark, events_stream_path).filter(F.col("event_type") == "view")
    clicks_s = _replay(spark, events_stream_path).filter(F.col("event_type") == "click")
    q = (
        interval_join(views_s, clicks_s)
        .writeStream.format("memory")
        .queryName("t_ivjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT * FROM t_ivjoin")
    assert _rows(got, "user_id", "l_id", "r_id") == _rows(batch, "user_id", "l_id", "r_id")
    assert got.count() > 0


def test_stream_mix_rebalance_equals_batch_keep_set(spark):
    """The ingest-time rebalancer (q_stream_mix_rebalance) emits EXACTLY
    the batch keep-set of q_mix_rebalance_rate — the acceptance decision
    is a pure function of (seed, doc_id, planning rates). Both share one
    oracle and test_parity matches each to it exactly at this sf; what
    parity cannot state is that the keep-set is non-empty."""
    from kitkat_spark.operators.corpus import q_mix_rebalance_rate

    assert q_mix_rebalance_rate(spark, SF).take(1)
