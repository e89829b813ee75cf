"""applyInPandasWithState: the streaming running-profile must converge to
the batch analog after draining a time-split multi-batch replay — state
(last timestamp, max gap) genuinely carries across micro-batches."""

from __future__ import annotations

import glob
import os
import shutil
from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from kitkat_spark.sources import load_table
from kitkat_spark.streaming.stateful import user_profiles

SF = "/root/testdata/sf0.001"


def _one_file(df, tmpdir: str, dest: str) -> None:
    df.coalesce(1).write.mode("overwrite").parquet(tmpdir)
    (src,) = glob.glob(f"{tmpdir}/part-*.parquet")
    shutil.copy(src, dest)


def test_streaming_state_converges_to_batch(spark, tmp_path):
    ev = load_table(spark, SF, "events").select("user_id", "ts", "value")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    mid = lo + (hi - lo) / 2

    src = tmp_path / "replay"
    src.mkdir()
    # two time-ordered files -> two micro-batches (maxFilesPerTrigger=1);
    # alphabetical listing keeps the early half first
    _one_file(ev.filter(F.col("ts") <= mid).sort("ts"), str(tmp_path / "w1"), str(src / "a_early.parquet"))
    _one_file(ev.filter(F.col("ts") > mid).sort("ts"), str(tmp_path / "w2"), str(src / "b_late.parquet"))

    schema = ev.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = user_profiles(stream)
    # 15 users: 2 state partitions keep the per-batch state-store task count
    # (and test wall time) small
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName("profiles")
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        assert q.awaitTermination(240), "query must drain and stop on its own"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")

    # latest update per user == batch result over the full data
    last = spark.sql(
        """SELECT user_id, n_events, sum_value, max_gap_s FROM (
               SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
               FROM profiles) WHERE rn = 1"""
    )
    batch = user_profiles(ev)
    got = {r.user_id: (r.n_events, r.sum_value, r.max_gap_s) for r in last.collect()}
    want = {r.user_id: (r.n_events, r.sum_value, r.max_gap_s) for r in batch.collect()}
    assert got == want


def test_streaming_ewma_converges_to_batch(spark, tmp_path):
    """The EWMA fold genuinely carries across micro-batches: a time-split
    two-batch replay must end at exactly the batch q_ewma fold (the split
    preserves event-time order, so the streaming arrival-order fold and
    the batch sorted fold coincide — bit-for-bit, same IEEE ops)."""
    from kitkat_spark.operators.temporal import EWMA_ALPHA, q_ewma
    from kitkat_spark.streaming.stateful import user_ewma

    ev = load_table(spark, SF, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    mid = lo + (hi - lo) / 2

    src = tmp_path / "replay"
    src.mkdir()
    _one_file(ev.filter(F.col("ts") <= mid).sort("ts"), str(tmp_path / "w1"), str(src / "a_early.parquet"))
    _one_file(ev.filter(F.col("ts") > mid).sort("ts"), str(tmp_path / "w2"), str(src / "b_late.parquet"))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = user_ewma(stream, alpha=EWMA_ALPHA)
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName("ewma_conv")
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt_ewma"))
            .start()
        )
        assert q.awaitTermination(240), "query must drain and stop on its own"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")

    last = spark.sql(
        """SELECT user_id, n_events, ewma_value FROM (
               SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
               FROM ewma_conv) WHERE rn = 1"""
    )
    got = {r.user_id: (r.n_events, r.ewma_value) for r in last.collect()}
    want = {
        r.user_id: (r.n_events, r.ewma_value)
        for r in q_ewma(spark, SF).collect()
    }
    assert got == want


ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _manager_class(spark, path: str) -> str:
    """The class of the checkpoint file manager the session builds for a
    streaming checkpoint at ``path``."""
    jvm = spark.sparkContext._jvm
    pkg = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    create = getattr(pkg, "CheckpointFileManager$").__getattr__("MODULE$").create
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    return create(jvm.org.apache.hadoop.fs.Path(path), hconf).getClass().getName()


@pytest.mark.parametrize("provider", [None, ROCKSDB], ids=["hdfs_state", "rocksdb_state"])
def test_dedup_restarts_across_checkpoint_managers(spark, tmp_path, provider):
    """A checkpoint written by Spark's default (FileContext) manager is read
    and continued by the session's FileSystem-based one: wave 1 runs under
    the default, wave 2 restarts on the same checkpoint under the session's
    manager. Every source, offset, commit, sink-metadata and state file of
    wave 1 must carry over: a duplicate that straddles the restart is still
    dropped and batch ids continue."""
    from kitkat_spark.session import CHECKPOINT_FILE_MANAGER
    from kitkat_spark.streaming.analytics import stream_dedup

    ev = load_table(spark, SF, "events").select("event_id", "user_id", "ts")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    early = ev.filter(F.col("ts") <= lo + (hi - lo) / 2)
    # wave 2 re-sends every wave-1 row: the ones within the watermark delay of
    # wave 1's newest event pass the late filter, so only the restored dedup
    # state can drop them
    newest = early.agg(F.max("ts")).collect()[0][0]
    assert early.filter(F.col("ts") >= newest - timedelta(minutes=10)).count()
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)

    def wave(name: str, df) -> list[int]:
        _one_file(df, str(tmp_path / name), f"{src}/{name}.parquet")
        q = (
            stream_dedup(spark.readStream.schema(ev.schema).parquet(src))
            .writeStream.format("parquet")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start(out)
        )
        assert q.awaitTermination(180), "query must drain and stop on its own"
        return [p["batchId"] for p in q.recentProgress]

    spark.conf.set("spark.sql.shuffle.partitions", "2")
    if provider:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    try:
        spark.conf.unset(MANAGER_KEY)
        assert _manager_class(spark, ckpt).endswith(".FileContextBasedCheckpointFileManager")
        ids1 = wave("w1", early)
        spark.conf.set(MANAGER_KEY, CHECKPOINT_FILE_MANAGER)
        assert _manager_class(spark, ckpt) == CHECKPOINT_FILE_MANAGER
        ids2 = wave("w2", ev)
    finally:
        spark.conf.set(MANAGER_KEY, CHECKPOINT_FILE_MANAGER)
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        spark.conf.set("spark.sql.shuffle.partitions", "8")

    assert ids1 and ids2 and ids2[0] == ids1[-1] + 1
    got = spark.read.parquet(out).groupBy("event_id").count()
    assert got.filter("count > 1").count() == 0
    assert got.count() == ev.count()
