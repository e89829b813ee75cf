"""The shared streaming replay harness (operators/replay.py run_replay):
wave staging refuses split and empty waves, every call gets fresh scratch,
state confs come back after a failed run, and the progress it keeps carries
the late-data drop q_stream_late_drop_wm promises."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from kitkat_spark.operators.replay import REPLAY_PROGRESS, run_replay

def _waves(spark, *sizes):
    out, lo = [], 0
    for n in sizes:
        out.append(spark.range(lo, lo + n).select(F.col("id").alias("doc_id")))
        lo += n
    return out


def test_one_run_wave_split_into_two_files_raises(spark, sf_dir):
    key = "spark.sql.files.maxRecordsPerFile"
    prev = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        with pytest.raises(RuntimeError, match=r"files per wave \[2, 2\]"):
            run_replay(
                spark, sf_dir, "t_split", lambda src: src,
                waves=_waves(spark, 10, 10), one_run=True,
            )
    finally:
        spark.conf.set(key, prev)


def test_empty_wave_raises(spark, sf_dir):
    # restart mode: the empty wave's run reads no rows
    with pytest.raises(RuntimeError, match="read rows"):
        run_replay(spark, sf_dir, "t_empty", lambda src: src, waves=_waves(spark, 5, 0))
    # one-run mode: the empty wave leaves no file to replay
    with pytest.raises(RuntimeError, match=r"files per wave \[1, 0, 1\]"):
        run_replay(
            spark, sf_dir, "t_empty_one", lambda src: src,
            waves=_waves(spark, 5, 0, 5), one_run=True,
        )


def test_calls_get_fresh_checkpoints_and_reclaim_the_last(spark, sf_dir):
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, "t_fresh")

    def call():
        df = run_replay(spark, sf_dir, "t_fresh", lambda src: src, waves=_waves(spark, 4))
        files = [f.removeprefix("file:") for f in df.inputFiles()]
        assert df.count() == 4 and files
        # <base>/out/part-*.parquet
        return os.path.dirname(os.path.dirname(files[0])), REPLAY_PROGRESS[key]

    base1, runs1 = call()
    base2, runs2 = call()
    assert base1 != base2
    assert not os.path.exists(base1), "first call's scratch was not reclaimed"
    assert os.path.exists(base2)
    # a reused checkpoint would keep its query id and continue its batch ids
    assert runs1[0][0]["id"] != runs2[0][0]["id"]
    assert runs2[0][0]["batchId"] == 0


def test_state_confs_restored_when_the_query_raises(spark, sf_dir):
    keys = [
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "spark.sql.streaming.stateStore.providerClass",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
    ]
    prev_parts = spark.conf.get(keys[0])
    spark.conf.set(keys[0], "7")
    try:
        before = {k: spark.conf.get(k, None) for k in keys}
        boom = F.when(F.col("doc_id") >= 0, F.raise_error(F.lit("boom")))
        with pytest.raises(StreamingQueryException):
            run_replay(
                spark, sf_dir, "t_raise",
                lambda src: src.select(boom.otherwise(F.col("doc_id")).alias("doc_id")),
                rows=10**6, pandas_state=True, waves=_waves(spark, 3),
            )
        assert {k: spark.conf.get(k, None) for k in keys} == before
    finally:
        spark.conf.set(keys[0], prev_parts)


def test_late_drop_second_run_drops_every_late_row(spark, sf_dir):
    """Run 2 reads every late row and none reaches the state store. Its
    numRowsDroppedByWatermark counts the late rows AFTER the partial
    aggregation below the state store: one per late (hour window,
    event_type) group of the one-file late wave, not one per row."""
    from kitkat_spark.operators.streamparity import q_stream_late_drop_wm
    from kitkat_spark.sources import load_table

    q_stream_late_drop_wm(spark, sf_dir)
    runs = REPLAY_PROGRESS[(spark.sparkContext.applicationId, sf_dir, "q_stream_late_drop_wm")]
    assert len(runs) == 2
    late = (
        load_table(spark, sf_dir, "events")
        .filter(F.pmod("event_id", F.lit(100)) < 10)
        .select("event_type", (F.col("ts") - F.expr("INTERVAL 3 DAYS")).alias("ts"))
    )
    n_late = late.count()
    n_late_groups = late.select(F.window("ts", "1 hour"), "event_type").distinct().count()
    assert n_late > n_late_groups > 0
    run2 = runs[1]
    assert sum(p["numInputRows"] for p in run2) == n_late
    ops = [op for p in run2 for op in p["stateOperators"]]
    assert sum(op["numRowsUpdated"] for op in ops) == 0
    assert sum(op["numRowsDroppedByWatermark"] for op in ops) == n_late_groups
