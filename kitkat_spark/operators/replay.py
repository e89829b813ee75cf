"""One harness for every Structured Streaming replay in the registry.

The streaming registry queries (operators/streamparity.py) replay batch
fixtures through real Structured Streaming queries. ``run_replay`` runs each
of them the same way:

- **Scratch.** Fixtures that depend only on ``(sf_dir, variant)`` are
  written once per session (``_replay_info``, a ``caches.fixture``). Every
  sink, checkpoint and wave source is fresh on every call (``replay_scope``,
  a ``caches.scratch_dir(fresh=True)``), so a repeated call runs the real
  pipeline instead of reading an earlier call's sink. Both live under
  ``caches.SCRATCH_ROOT`` and go with the application's dirs.
- **State sizing.** Given a row count, shuffle partitions are sized for the
  state store while the call's queries plan and run (``_state_partitions``).
- **Waves.** Either one ``availableNow`` run per wave on one checkpoint
  (a genuine stop/restart per wave), or one run over one file per wave in
  wave order. A wave that reads no rows raises.
- **Sink.** Append mode drains to parquet under the call's scratch and reads
  it back with the stream's schema (an empty sink is an empty frame): a
  memory sink would collect every emitted row single-threaded onto the
  driver (O(stream) at production scale), while the parquet sink writes
  executor-side and the read-back scan is parallel. Update mode, which the
  file sink does not support, drains to a memory sink.
- **Progress.** Every run's ``recentProgress`` lands in the store with the
  call (``replay_progress`` reads the last call's), so it goes with the
  application like every other fixture.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kitkat_spark.caches import fixture, scratch_dir

# target rows per state-store task (see _state_partitions)
STATE_ROWS_PER_TASK = 16_384

# target rows per task for applyInPandasWithState queries (r15): their
# per-batch cost is dominated by the PYTHON group runner (~1-3 ms per group
# call: per-group Arrow framing + state round-trip + fn body), which is
# serial within a task — not by the per-partition state-store fixed cost
# (~50-80 ms/partition/batch) that motivates the 16k budget above. With
# ~1 row per group (the TTL fingerprint streams), the break-even between
# "more parallel group calls" and "more per-partition fixed cost" sits
# around a few hundred rows per task: measured on q_stream_ttl_evict at
# sf0.1, 4 partitions (16k budget) ran the replay in ~12-15 s, 16
# partitions in ~6-7 s, 32 in ~7-14 s (per-partition cost catches up).
# Still capped at cluster parallelism, so it stays scale-adaptive.
PANDAS_STATE_ROWS_PER_TASK = 320

# RocksDB state store + changelog checkpointing for the custom-state
# (applyInPandasWithState) family (r14 verdict #1): the default HDFS-backed
# provider keeps every state map on-heap and snapshots FULL maps per
# maintenance cycle — at 100 TB ingest the live-fingerprint index is
# millions of rows per partition, an executor-heap liability and a
# commit-amplification cost. RocksDB spills off-heap and changelog
# checkpointing writes per-commit deltas instead of full snapshots. At
# sf0.1 the two providers measure within noise of each other (interleaved
# A/B, min-of-4: 12.54 s RocksDB vs 12.88 s HDFS on the ttl_evict replay),
# so adopting the production-correct provider costs the bench nothing.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _replay_info(spark: SparkSession, sf_dir: str, variant: str, df_fn) -> tuple[str, int]:
    """The session's replay fixture ``variant``: ``df_fn()`` written once as
    parquet, with its row count (it prices the state-partition sizing)."""

    def write(path: str) -> tuple[str, int]:
        df_fn().write.mode("overwrite").parquet(path)
        # count the written files (footer metadata), not df: that would
        # run the fixture's whole lineage a second time
        return path, spark.read.parquet(path).count()

    return fixture(spark, sf_dir, variant, write)


class _state_partitions:
    """Size spark.sql.shuffle.partitions for the STATE STORE while a
    streaming query PLANS (the state-partition count is frozen from this
    conf at first start, for the life of the checkpoint).

    Why not just inherit the session default? Each state partition is not a
    shuffle bucket but a set of persistent stores (a stream-stream join
    keeps FOUR per partition) that pay per-micro-batch fixed costs: delta
    files, snapshot maintenance, commit round-trips. Oversizing multiplies
    that fixed cost: the relational default of 200 measured 27 s for the
    sessionize pipeline vs ~7 s at 32; pinning to local parallelism (32)
    still paid 6 s for the interval join whose batch holds only 100k rows —
    rows-per-task sizing (ceil(rows / 16k), floor 4, capped at the cluster
    parallelism) runs the same join in 2.7 s with identical results. Same
    lesson as the skew-join threshold (skew.py): absolute knobs rot as data
    scales; per-task budgets transfer. On a real cluster the batch rate is
    estimated from the source (e.g. maxFilesPerTrigger x file size), and a
    checkpoint keeps whatever count it started with — resizing requires a
    new checkpoint (repartition-state via offline rewrite at 100 TB).

    ``pandas_state=True`` marks an applyInPandasWithState query: partitions
    are sized from the much smaller PANDAS_STATE_ROWS_PER_TASK budget (the
    Python group runner, not the state store, is the per-batch cost — see
    the constant's note), and the state store is pinned to RocksDB with
    changelog checkpointing (ROCKSDB_PROVIDER note) for the duration.

    Restores the previous conf on exit, so the host session's relational
    queries are untouched."""

    def __init__(
        self,
        spark: SparkSession,
        rows_per_batch: int,
        pandas_state: bool = False,
    ):
        self.spark = spark
        self.pandas_state = pandas_state
        par = spark.sparkContext.defaultParallelism
        per_task = PANDAS_STATE_ROWS_PER_TASK if pandas_state else STATE_ROWS_PER_TASK
        self.n = min(par, max(4, -(-rows_per_batch // per_task)))

    # Every wm query's sealed-set contract (append mode emits exactly the
    # watermark-closed windows) relies on the availableNow no-data flush
    # micro-batch; pin it rather than inherit a host session that may have
    # disabled it.
    _PINNED = {"spark.sql.streaming.noDataMicroBatches.enabled": "true"}

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions", None)
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
        pinned = dict(self._PINNED)
        if self.pandas_state:
            pinned["spark.sql.streaming.stateStore.providerClass"] = (
                ROCKSDB_PROVIDER
            )
            pinned[
                "spark.sql.streaming.stateStore.rocksdb"
                ".changelogCheckpointing.enabled"
            ] = "true"
        self.prev_pinned = {k: self.spark.conf.get(k, None) for k in pinned}
        for k, v in pinned.items():
            self.spark.conf.set(k, v)

    def __exit__(self, *exc):
        if self.prev is None:
            self.spark.conf.unset("spark.sql.shuffle.partitions")
        else:
            self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        for k, v in self.prev_pinned.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)
        return False


def _last_call(spark: SparkSession, sf_dir: str, variant: str) -> dict:
    """The session's record of the last ``variant`` call over ``sf_dir``
    (empty before the first): its scratch ``base`` and its ``progress``."""
    return fixture(spark, sf_dir, f"{variant}/last_call", lambda _: {})


def replay_progress(spark: SparkSession, sf_dir: str, variant: str) -> list[list[dict]]:
    """The last ``variant`` call's progress in this session: one entry per
    streaming run, each the list of that run's progress dicts
    (StreamingQueryProgress)."""
    return _last_call(spark, sf_dir, variant)["progress"]


class replay_scope:
    """One replay call's resources, entered by ``run_replay`` (and by
    q_consume_dlq, whose sink starts its own query).

    - ``base``: a NEVER-REUSED scratch dir for the call's sinks,
      checkpoints and wave sources — no checkpoint carry-over, so every
      call runs the real thing (the bench min-of-2 convention). The path
      carries a per-call nonce so no call can rmtree another's in-flight
      checkpoint; the previous call's dir for the same variant and
      ``sf_dir`` is reclaimed when this call claims its own, bounding the
      leak to one finished run under the registry's serial contract.
    - with ``rows``, the state sizing of ``_state_partitions`` for the
      duration; without, the session's shuffle partitions (stateless).
    - ``drain(q)`` awaits a started query and appends its progress to the
      call's ``replay_progress``."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        variant: str,
        rows: int | None = None,
        pandas_state: bool = False,
    ):
        stem = scratch_dir(spark, sf_dir, variant)
        self.base = scratch_dir(spark, sf_dir, variant, fresh=True)
        last = _last_call(spark, sf_dir, variant)
        if "base" in last:
            shutil.rmtree(last["base"], ignore_errors=True)
        # md5, not Python ``hash``: string hashing is PYTHONHASHSEED-salted
        # across processes
        self.sink_name = "replay_" + hashlib.md5(stem.encode()).hexdigest()[:8]
        self.runs: list[list[dict]] = []
        last.update(base=self.base, progress=self.runs)
        self._state = (
            None if rows is None else _state_partitions(spark, rows, pandas_state)
        )

    def path(self, name: str) -> str:
        return os.path.join(self.base, name)

    def drain(self, q) -> list[dict]:
        q.awaitTermination()
        self.runs.append(q.recentProgress)
        return self.runs[-1]

    def __enter__(self) -> "replay_scope":
        if self._state is not None:
            self._state.__enter__()
        return self

    def __exit__(self, *exc):
        if self._state is not None:
            self._state.__exit__(*exc)
        return False


def _stage_one_file_per_wave(waves: list[DataFrame], src: str) -> None:
    """Write wave k as the ONE parquet file under ``src/wave=k``, mtimes
    pinned strictly increasing in wave order: the file source replays
    oldest first, so ``maxFilesPerTrigger=1`` turns the files into in-order
    micro-batches of a single run. Write-order timestamps alone break on
    coarse-granularity filesystems, where equal mtimes let the source
    consume waves out of order; the pinned values stay within seconds of
    each other so the source's maxFileAge window is untouched.

    One write job (r15): hash-repartitioning on the wave id puts each wave
    entirely in one task (ids can collide into fewer tasks but never
    split), so partitionBy("wave") yields one file per wave directory. A
    split wave would replay its fragments in arbitrary order and an empty
    wave would drop a micro-batch — either silently breaks a per-key
    chain across waves — so both raise."""
    tagged = functools.reduce(
        DataFrame.unionByName,
        [w.withColumn("wave", F.lit(k)) for k, w in enumerate(waves)],
    )
    tagged.repartition(len(waves), "wave").write.partitionBy("wave").parquet(src)
    per_wave = []
    for k in range(len(waves)):
        files = glob.glob(os.path.join(src, f"wave={k}", "*.parquet"))
        per_wave.append(len(files))
        for f in files:
            os.utime(f, (1_700_000_000 + k, 1_700_000_000 + k))
    if per_wave != [1] * len(waves):
        raise RuntimeError(
            f"one-run replay needs one parquet file per wave, found files "
            f"per wave {per_wave}"
        )


def _start(sdf: DataFrame, call: replay_scope, output_mode: str):
    writer = sdf.writeStream.outputMode(output_mode).trigger(availableNow=True)
    if output_mode == "update":
        writer = writer.format("memory").queryName(call.sink_name)
    else:
        writer = writer.format("parquet").option("path", call.path("out"))
    return writer.option("checkpointLocation", call.path("ckpt")).start()


def _require_fed(runs: list[dict], n_waves: int, variant: str) -> None:
    fed = sum(1 for p in runs if p["numInputRows"] > 0)
    if fed < n_waves:
        raise RuntimeError(
            f"{variant} replay: {n_waves} wave(s) staged but only {fed} "
            f"micro-batch(es) read rows"
        )


def run_replay(
    spark: SparkSession,
    sf_dir: str,
    variant: str,
    stream: DataFrame | Callable[[DataFrame], DataFrame],
    *,
    rows: int | None = None,
    pandas_state: bool = False,
    waves: list[DataFrame] | None = None,
    one_run: bool = False,
    output_mode: str = "append",
) -> DataFrame:
    """Run one streaming replay to completion and return its sink's rows.

    ``stream`` is the streaming DataFrame to drain in one ``availableNow``
    run. With ``waves`` (batch DataFrames of one schema), it is instead a
    function from the streaming read of the staged waves to the stream to
    drain, and the waves replay either

    - one ``availableNow`` run per wave on the call's one checkpoint, each
      wave appended to the source just before its run (default), or
    - with ``one_run``, as one run over one file per wave read with
      ``maxFilesPerTrigger=1`` — one micro-batch per wave, in wave order.

    ``rows`` sizes the state store (``_state_partitions``; ``pandas_state``
    for applyInPandasWithState); leave it out for a stateless replay.
    ``variant`` names the call's scratch and its ``replay_progress``."""
    with replay_scope(spark, sf_dir, variant, rows, pandas_state) as call:
        if waves is None:
            sdf = stream
            call.drain(_start(sdf, call, output_mode))
        elif one_run:
            _stage_one_file_per_wave(waves, call.path("src"))
            source = (
                spark.readStream.schema(waves[0].schema)
                .option("maxFilesPerTrigger", 1)
                # plain recursive listing: the wave=k dirs are staging, not
                # a partition column of the stream schema
                .option("recursiveFileLookup", "true")
                .parquet(call.path("src"))
            )
            sdf = stream(source)
            runs = call.drain(_start(sdf, call, output_mode))
            _require_fed(runs, len(waves), variant)
        else:
            for wave in waves:
                wave.write.mode("append").parquet(call.path("src"))
                source = spark.readStream.schema(waves[0].schema).parquet(
                    call.path("src")
                )
                sdf = stream(source)
                _require_fed(call.drain(_start(sdf, call, output_mode)), 1, variant)
    if output_mode == "update":
        return spark.table(call.sink_name)
    return spark.read.schema(sdf.schema).parquet(call.path("out"))
