"""Batch-analog queries for the kitkat streaming-parity surface (§2.A).

The streaming module (kitkat_spark/streaming/) is pure transforms, so the
SAME pipeline code runs here over batch record fixtures and every query is
value-oracled by the driver:

- q_consume_plain: plain-record consume (P2 ts-format + P3 single-newline
  trim + P4 verbose projection) — fully SQL-expressible, DuckDB-oracled.
- q_consume_pipeline: the full EP2 dataflow over a mixed stream of KPL
  aggregates and plain records (X1 deagg + F2 predicate + inheritance +
  render). The rendered rows are deterministic string functions of events,
  so this is value-oracled (see ORACLE) — 2*count(events) - 5 rows (one
  corrupt blob drops its 5 inner records).
- q_shard_status: A1 conditional aggregation over a shard fixture derived
  from events (active vs closed shard counts) — oracled.
- q_stream_* and q_consume_dlq: REAL Structured Streaming runs (file
  replay -> stateful op -> sink) shaped so the driver can still value-verify
  them against a batch SQL oracle. Every one runs through the shared replay
  harness (operators/replay.py run_replay): cached fixtures, fresh per-call
  sinks and checkpoints, a parquet sink in append mode (memory in update
  mode), and progress kept in REPLAY_PROGRESS.

Scale: fixtures are narrow maps over events; the consume pipeline itself is
shuffle-free (see streaming/pipeline.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kitkat_spark.operators.payloads import build_kpl_blobs
from kitkat_spark.operators.replay import _replay_info, replay_scope, run_replay
from kitkat_spark.operators.temporal import SP_K, SP_N
from kitkat_spark.sources import load_table
from kitkat_spark.streaming.consumer import ConsumeOptions, consume
from kitkat_spark.streaming.pipeline import consume_transform


N_SHARD_BUCKETS = 16
STREAM = "events-replay"


def build_plain_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> record-schema rows; payload carries a trailing newline so
    the P3 trim-exactly-one semantics are actually exercised."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.col("event_type"), F.lit(":"), F.col("event_id").cast("string"), F.lit("\n"))
        .cast("binary")
        .alias("data"),
        F.concat(F.lit("user-"), F.col("user_id").cast("string")).alias("partitionKey"),
        F.col("event_id").cast("string").alias("sequenceNumber"),
        F.col("ts").alias("approximateArrivalTimestamp"),
        F.concat(
            F.lit("shardId-"),
            F.lpad(F.pmod(F.col("user_id"), F.lit(8)).cast("string"), 12, "0"),
        ).alias("shardId"),
        F.lit(STREAM).alias("streamName"),
        F.lit("NONE").alias("encryptionType"),
    )


def build_kpl_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPL blobs wrapped as outer records (what the wire actually carries);
    outer metadata is deterministic per blob so inheritance is testable."""
    blobs = build_kpl_blobs(spark, sf_dir)
    return blobs.select(
        F.col("blob").alias("data"),
        F.concat(F.lit("agg-"), F.col("blob_id").cast("string")).alias("partitionKey"),
        F.concat(F.lit("seq-"), F.col("blob_id").cast("string")).alias("sequenceNumber"),
        F.expr("timestamp_micros(cast(1500000000000000 + blob_id * 1000000 as long))").alias(
            "approximateArrivalTimestamp"
        ),
        F.concat(
            F.lit("shardId-"),
            F.lpad(F.pmod(F.col("blob_id"), F.lit(8)).cast("string"), 12, "0"),
        ).alias("shardId"),
        F.lit(STREAM).alias("streamName"),
        F.lit("NONE").alias("encryptionType"),
    )


def q_consume_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-record consume pipeline, verbose projection (P2+P3+P4)."""
    recs = build_plain_records(spark, sf_dir)
    return consume([recs], ConsumeOptions(position="trim_horizon", verbose=True))


def q_consume_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full EP2: mixed KPL + plain stream, deagg + render (value-oracled)."""
    mixed = [build_kpl_records(spark, sf_dir), build_plain_records(spark, sf_dir)]
    return consume(mixed, ConsumeOptions(position="trim_horizon", verbose=True))


def q_consume_since(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/F4 AT_TIMESTAMP positioning on replay: event-time lower bound.
    The cutoff bisects the fixture's one-month span so the filter is
    verified on a non-trivial split (~half the rows survive at every sf;
    the old 2024-03 cutoff green-lit on an empty result)."""
    recs = build_plain_records(spark, sf_dir)
    return consume(
        [recs],
        ConsumeOptions(position="at_timestamp", since="2024-01-15T00:00:00Z", verbose=False),
    )


def build_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard fixture: one shard per user-id bucket; odd buckets are closed
    (non-null ending sequence number), mirroring resharded-stream state."""
    ev = load_table(spark, sf_dir, "events")
    buckets = ev.select(F.pmod(F.col("user_id"), F.lit(N_SHARD_BUCKETS)).alias("bucket")).distinct()
    return buckets.select(
        F.concat(F.lit("shardId-"), F.lpad(F.col("bucket").cast("string"), 12, "0")).alias(
            "shard_id"
        ),
        F.lit("0").alias("starting_sequence_number"),
        F.when(F.pmod(F.col("bucket"), F.lit(2)) == 1, F.concat(F.lit("end-"), F.col("bucket").cast("string")))
        .otherwise(F.lit(None).cast("string"))
        .alias("ending_sequence_number"),
    )


def q_shard_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: active/closed shard counts via conditional aggregation."""
    shards = build_shards(spark, sf_dir)
    return shards.agg(
        F.sum(F.when(F.col("ending_sequence_number").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("active_shards"),
        F.sum(F.when(F.col("ending_sequence_number").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("closed_shards"),
    )


def q_stream_dedup_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming dedup, driver-verifiable: events are doubled
    (every row twice), replayed through a file-stream source with a
    watermark, deduped with ``dropDuplicatesWithinWatermark`` (streaming/
    analytics.py stream_dedup), and drained to a parquet sink whose rows are
    returned. The doubled input makes the state op load-bearing: broken
    dedup returns 2x rows and fails the row/hash gate.

    Determinism: the replay lands in one availableNow micro-batch (no
    maxFilesPerTrigger), so every duplicate meets its twin in the same
    batch regardless of the watermark delay; output = exactly the distinct
    events. Scale: state holds only keys within the watermark horizon —
    eviction as event time advances is the ONLY way exact dedup survives an
    unbounded stream (unbounded dropDuplicates state grows forever at
    100 TB/day); the parquet sink stands in for the production table.
    """
    from kitkat_spark.streaming.analytics import stream_dedup

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    doubled = ev.unionByName(ev)
    path, n_rows = _replay_info(spark, sf_dir, "dedup_doubled", lambda: doubled)
    stream = spark.readStream.schema(doubled.schema).parquet(path)
    deduped = stream_dedup(stream, keys=["event_id"])
    return run_replay(
        spark,
        sf_dir,
        "q_stream_dedup_wm",
        deduped.select("event_id", "user_id", "event_type"),
        rows=n_rows,
    )


def q_stream_interval_join_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream interval join, driver-verifiable: events replayed
    as TWO watermarked file streams, inner-joined on user with a
    [l_ts, l_ts + 10 min] event-time band (streaming/analytics.py
    interval_join), drained to a parquet sink. The band is what makes the
    join streamable at all: each side's buffered state evicts once the
    other side's watermark passes ts + gap, so state is O(rows per
    watermark horizon), not O(stream) — Spark rejects the unbanded plan
    outright. Replay lands in one availableNow batch, so the emitted set is
    exactly the batch band join the oracle computes.
    """
    from kitkat_spark.streaming.analytics import interval_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    path, n_rows = _replay_info(spark, sf_dir, "interval_join", lambda: ev)
    left = spark.readStream.schema(ev.schema).parquet(path)
    right = spark.readStream.schema(ev.schema).parquet(path)
    return run_replay(
        spark,
        sf_dir,
        "q_stream_interval_join_wm",
        interval_join(left, right),
        rows=n_rows,
    )


def q_stream_session_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming session windows, driver-verifiable: events replayed
    through a watermarked file stream into the native ``session_window``
    aggregation (streaming/analytics.py session_counts — dynamic-gap state
    merged by the state store), drained via a parquet sink in APPEND mode.

    Append mode only emits a session once the watermark passes its end, so
    the emitted set is exactly the sessions with
    ``session_end <= max(ts) - watermark_delay`` — sessions still open (or
    closed but inside the final watermark horizon) when the replay exhausts
    remain in state, unemitted. That tail-withholding is not a test
    artifact, it IS the streaming contract (a session can always be
    extended until the watermark seals it), and it is deterministic for a
    fixed fixture, so the batch oracle replays it: gap-and-island sessions
    (new session when the inter-event gap >= 30 min, the half-open-window
    merge rule of session_window) filtered to sealed ends. Value-verifies
    window merging, state eviction, and the append-mode finalization
    boundary in one row set.
    """
    from kitkat_spark.streaming.analytics import session_counts

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    path, n_rows = _replay_info(spark, sf_dir, "session_wm", lambda: ev)
    stream = spark.readStream.schema(ev.schema).parquet(path)
    return run_replay(
        spark, sf_dir, "q_stream_session_wm", session_counts(stream), rows=n_rows
    )


def q_stream_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of q_session_paths (temporal.py) — top-K first-N
    event-type sequences over REAL streaming session windows: events
    replay through a watermarked file stream, the native
    ``session_window`` aggregation builds each session's path INSIDE the
    state store (collect_list of (ts, event_id, event_type) structs —
    merged by the dynamic-gap state merge the same way q_stream_session_wm
    merges counts — then array_sort + slice SP_N + join, all inside the
    sealed-emit projection), and append mode emits a session's path
    exactly once, when the watermark passes its end.

    The path ranking then runs AT READ TIME over the drained sealed
    sessions — the production composition (the q_stream_gap_fill shape):
    the stream writes one row per sealed session to a table; "top paths"
    is a batch view over that table, re-computable under any filter
    without touching stream state. The emitted set is deterministic for a
    fixed fixture (sessions with end <= max(ts) - delay; the tail stays
    in state — the streaming contract), so the batch oracle replays it:
    gap-and-island sessions under session_window's merge rule (new
    session when gap >= 30 min), sealed-filtered, first-SP_N paths,
    count, top-K.

    Scale: session state is per-(user, open-session) — bounded by the
    watermark horizon, not stream length; per-session collect is
    human-session-sized (a production run caps it like LSH_MAX_BUCKET);
    the read-time rollup is combinable on the |event_type|^SP_N-bounded
    path domain with a TakeOrderedAndProject top-K."""
    from pyspark.sql import Window as W

    from kitkat_spark.operators.temporal import SP_K, SP_N

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    path, n_rows = _replay_info(spark, sf_dir, "session_paths", lambda: ev)
    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(path)
        .withWatermark("ts", "10 minutes")
    )
    sealed = (
        stream.groupBy(F.session_window(F.col("ts"), "30 minutes").alias("s"), "user_id")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.slice(
                        F.array_sort(
                            F.collect_list(F.struct("ts", "event_id", "event_type"))
                        ),
                        1,
                        SP_N,
                    ),
                    lambda e: e["event_type"],
                ),
            ).alias("path")
        )
        .select(F.col("s.end").alias("session_end"), "user_id", "path")
    )
    drained = run_replay(
        spark, sf_dir, "q_stream_session_paths", sealed, rows=n_rows
    )
    counts = drained.groupBy("path").agg(F.count("*").alias("n_sessions"))
    top = counts.orderBy(F.col("n_sessions").desc(), "path").limit(SP_K)
    w_rank = W.orderBy(F.col("n_sessions").desc(), "path")
    return top.select(
        F.row_number().over(w_rank).cast("int").alias("rk"), "path", "n_sessions"
    )


def q_stream_dedup_agg_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming — dedup feeding a windowed aggregation in
    ONE query (the multiple-stateful-operators capability, with watermark
    propagation between the two state stores): doubled events replay
    through a watermarked file stream, ``dropDuplicatesWithinWatermark``
    suppresses the duplicates, and the surviving rows flow straight into a
    1-hour tumbling count per event_type, drained in APPEND mode.

    Both state stores are load-bearing for the value check: broken dedup
    doubles every count; broken window sealing changes the emitted set.
    Append mode seals a window once the (propagated) watermark passes its
    end, so the emitted rows are exactly the hourly counts of DISTINCT
    events for windows with end <= max(ts) - delay — which the batch
    oracle states directly. This is the canonical streaming-pipeline shape
    (dedupe-then-aggregate) that pre-3.4 Spark forced into two queries
    with an intermediate sink.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    doubled = ev.unionByName(ev)
    path, n_rows = _replay_info(spark, sf_dir, "dedup_doubled", lambda: doubled)
    stream = (
        spark.readStream.schema(doubled.schema)
        .parquet(path)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    return run_replay(spark, sf_dir, "q_stream_dedup_agg_wm", stream, rows=n_rows)


def q_stream_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-fill end-to-end: a watermarked 1-hour tumbling
    value-total aggregation (append mode — only watermark-sealed windows
    emit) whose drained output is densified + forward-filled AT READ TIME
    by the exact stages the batch q_gap_fill uses
    (temporal.py gap_fill_hourly).

    This is the production composition for the operator: the stream
    writes sealed hourly rows to a table; gaps (hours a series emitted
    nothing) appear as MISSING ROWS in that table, and the gap-fill view
    over it restores them with n_events=0 and the last observed total.
    The emitted set is exactly the windows with
    ``window_end <= max(ts) - delay`` (sealed by the final watermark;
    the tail stays in state — the streaming contract, deterministic for
    a fixed fixture), which the batch oracle states directly via a
    HAVING on the same boundary before replaying the densify."""
    from kitkat_spark.functions.numeric import dsum
    from kitkat_spark.operators.temporal import gap_fill_hourly

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    path, n_rows = _replay_info(spark, sf_dir, "gap_fill", lambda: ev)
    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(path)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(F.col("w.start").alias("h"), "event_type", "n_events", "sum_value")
    )
    sealed = run_replay(spark, sf_dir, "q_stream_gap_fill", stream, rows=n_rows)
    return gap_fill_hourly(sealed)


STREAM_TOPK = 3


def q_stream_topk_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed TOP-N — the trending-items shape (per hour, the
    3 busiest event types): a watermarked 1-hour tumbling count per
    (window, event_type) in append mode, drained to a sink table, then the
    rank computed AT READ TIME over the sealed windows (the same
    post-state composition as q_stream_gap_fill's densify).

    Why rank-at-read is the production form: a global top-N inside the
    stream would need complete-mode output (re-emitting every window each
    batch — unbounded re-writes) or arbitrary stateful processing; append
    mode + read-time rank keeps streaming state at one count per live
    (window, type) and emits each sealed window exactly once. The emitted
    set is the watermark-sealed windows (window_end <= max(ts) - delay),
    which the oracle states directly; ranks tie-break on event_type, so
    the top-3 per window is engine-deterministic."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    path, n_rows = _replay_info(spark, sf_dir, "topk", lambda: ev)
    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(path)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    sealed = run_replay(spark, sf_dir, "q_stream_topk_wm", stream, rows=n_rows)
    w = W.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        sealed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= STREAM_TOPK)
        .select("window_start", "event_type", "n_events", "rk")
    )


ANOMALY_Z = 2.0  # traffic-spike threshold in sample-stddev units


def q_stream_anomaly_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming traffic-anomaly detection: a watermarked 1-hour tumbling
    count per event_type in append mode, then each sealed window z-scored
    against ITS TYPE's own sealed-window distribution at read time —
    windows more than 2 sample-stddevs above the mean flag as spikes (the
    alerting shape: error-rate bursts, bot surges).

    Streaming state stays one count per live (window, type) — the z-score
    needs the full per-type distribution, which no single watermark epoch
    has, so it belongs at read time over the sealed sink (the same
    post-state composition as q_stream_topk_wm's rank-at-read). The
    read-time moments come from EXACT integer sums (count, sum n, sum
    n^2) via one window over the sink table, so mean/stddev are the same
    IEEE doubles in both engines; var clamps at 0 against negative float
    residue and constant series (sd = 0) yield z = NULL, anomaly false."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    path, n_rows = _replay_info(spark, sf_dir, "anomaly", lambda: ev)
    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(path)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    sealed = run_replay(spark, sf_dir, "q_stream_anomaly_wm", stream, rows=n_rows)
    from pyspark.sql import Window as W

    w_t = W.partitionBy("event_type")
    st = (
        sealed.withColumn("cnt", F.count("*").over(w_t))
        .withColumn("s", F.sum("n_events").over(w_t))
        .withColumn(
            "ss", F.sum(F.col("n_events") * F.col("n_events")).over(w_t)
        )
    )
    m = F.col("s").cast("double") / F.col("cnt").cast("double")
    var = F.greatest(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double")
            / F.col("cnt").cast("double")
        )
        / (F.col("cnt") - 1).cast("double"),
        F.lit(0.0),
    )
    z = F.when(
        (F.col("cnt") > 1) & (F.sqrt(var) > 0),
        (F.col("n_events").cast("double") - m) / F.sqrt(var),
    )
    return st.select(
        "window_start",
        "event_type",
        "n_events",
        F.round(z, 4).alias("z"),
        F.coalesce(z > ANOMALY_Z, F.lit(False)).alias("is_anomaly"),
    )


def q_stream_hll_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-count — hourly distinct users estimated by a
    watermarked windowed HyperLogLog (the canonical unbounded-cardinality
    streaming ask: "unique users per hour" without keeping user sets in
    state). The stream carries only (window, register-bucket) -> max(rho):
    at most 64 6-bit registers of state per live window regardless of user
    cardinality, emitted once per sealed window in append mode. Estimate +
    exact-side audit compose AT READ TIME over the sealed registers (the
    same post-state composition as q_stream_topk_wm's rank).

    Why this and not dropDuplicates + count: exact streaming distinct
    keeps every key in state (unbounded); approx_count_distinct's t-digest
    sketch is engine-private. The HLL registers here are md5-derived and
    integer-exact, so the DuckDB oracle rebuilds register-for-register and
    the driver hash-compares the estimates — including the small-range
    linear-counting branch, which is HOT at fixture scale (1-30 distinct
    users/window) and served from the precomputed HLL_LC table in both
    engines (sketches.py — no cross-engine ln()). At sf0.1 (~100-170
    users/window) windows straddle the branch boundary, exercising both
    paths with the branch decided by the engine-identical raw estimate.

    The sealed set is the watermark boundary the other wm queries state:
    window_end <= max(ts) - delay. Exact counts come from the batch table
    on the same boundary — verification only; a production run keeps just
    the registers."""
    from kitkat_spark.functions.text import md5_long
    from kitkat_spark.operators.sketches import (
        HLL_ALPHA,
        HLL_LC,
        HLL_M,
        HLL_P,
        HLL_REST_W,
        HLL_S,
        _HLL_M2S,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    path, n_rows = _replay_info(spark, sf_dir, "hll", lambda: ev)
    h = md5_long(F.concat(F.lit("shll|"), F.col("user_id").cast("string")))
    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(path)
        .withWatermark("ts", "10 minutes")
        .select(
            "ts",
            F.pmod(h, F.lit(HLL_M)).alias("bucket"),
            F.pmod(F.shiftright(h, HLL_P), F.lit(1 << HLL_REST_W)).alias(
                "rest"
            ),
        )
        .select(
            "ts",
            "bucket",
            F.when(F.col("rest") == 0, F.lit(HLL_REST_W + 1))
            .otherwise(F.lit(HLL_REST_W + 1) - F.length(F.bin("rest")))
            .alias("rho"),
        )
        .groupBy(F.window("ts", "1 hour").alias("w"), "bucket")
        .agg(F.max("rho").alias("r"))
        .select(F.col("w.start").alias("window_start"), "bucket", "r")
    )
    sealed = run_replay(spark, sf_dir, "q_stream_hll_wm", stream, rows=n_rows)
    sk = sealed.groupBy("window_start").agg(
        (F.lit(HLL_M) - F.count("*")).cast("long").alias("zeros"),
        (
            F.sum(
                F.expr(
                    f"shiftleft(cast(1 as bigint), cast({HLL_S} - r as int))"
                )
            )
            + (F.lit(HLL_M) - F.count("*")) * F.lit(1 << HLL_S)
        )
        .cast("long")
        .alias("hsum"),
    )
    raw = F.lit(HLL_ALPHA) * F.lit(float(_HLL_M2S)) / F.col("hsum").cast(
        "double"
    )
    est = sk.select(
        "window_start",
        "zeros",
        F.when(
            (raw <= F.lit(2.5 * HLL_M)) & (F.col("zeros") > 0),
            F.element_at(
                F.array(*[F.lit(v) for v in HLL_LC]),
                F.greatest(F.col("zeros"), F.lit(1)).cast("int"),
            ),
        )
        .otherwise(F.round(raw))
        .cast("long")
        .alias("est_distinct"),
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
        .select(F.col("w.start").alias("window_start"), "exact_distinct")
    )
    return (
        est.join(exact, "window_start")
        .select("window_start", "zeros", "est_distinct", "exact_distinct")
        .orderBy("window_start")
    )


SCMS_W = 512  # counters per hash row (streaming grid kept small on purpose:
# collisions actually occur at fixture scale, so the overestimate property
# is exercised, not just asserted)
SCMS_D = 3  # hash rows
SCMS_TOP_K = 5  # exact heavy hitters probed per sealed window


def _scms_cells(key):
    """The D (seed, bucket) CMS cells for a key — md5-derived so DuckDB
    rebuilds the identical grid (sketches.py's _bucket, windowed form)."""
    from kitkat_spark.functions.text import md5_long

    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("seed"),
                    F.pmod(
                        md5_long(F.concat(F.lit(f"scms{s}|"), key.cast("string"))),
                        F.lit(SCMS_W),
                    ).alias("bucket"),
                )
                for s in range(SCMS_D)
            ]
        )
    )


def q_stream_cms_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters — per-hour top-user frequency estimated by a
    watermarked windowed COUNT-MIN grid (q_stream_hll_wm's layout, counting
    instead of distinct-counting: "who are the hot keys this hour" with
    state that never grows with the key domain). The stream keeps at most
    D x W counters per live window — each event fans out map-side to its D
    (seed, bucket) cells and the windowed agg partial-combines — emitted
    once per sealed window in append mode.

    Why not exact streaming counts per user: that state is O(distinct
    users) per window, unbounded on a web stream; the CMS grid is a fixed
    96 KiB at ANY cardinality and merges across shards by addition. The
    exact side here (batch top-SCMS_TOP_K per sealed window) exists to
    VERIFY the sketch cross-engine: the DuckDB oracle rebuilds the grid
    register-for-register from the same md5 buckets and the driver
    hash-compares the estimates. n_cms >= n_true always (collisions only
    add); the sealed-window boundary is the q_stream_hll_wm one
    (window_end <= max(ts) - delay), enforced by joining probes to the
    grid the stream actually emitted."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    path, n_rows = _replay_info(spark, sf_dir, "cms", lambda: ev)
    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(path)
        .withWatermark("ts", "10 minutes")
        .select("ts", _scms_cells(F.col("user_id")).alias("c"))
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.col("c.seed").alias("seed"),
            F.col("c.bucket").alias("bucket"),
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "seed", "bucket", "n")
    )
    grid = run_replay(spark, sf_dir, "q_stream_cms_wm", stream, rows=n_rows)
    from pyspark.sql import Window as W

    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count("*").alias("n_true"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n_true")
    )
    w_top = W.partitionBy("window_start").orderBy(
        F.col("n_true").desc(), "user_id"
    )
    top = (
        exact.withColumn("rk", F.row_number().over(w_top))
        .filter(F.col("rk") <= SCMS_TOP_K)
    )
    probes = top.select(
        "window_start",
        "user_id",
        "n_true",
        "rk",
        _scms_cells(F.col("user_id")).alias("c"),
    ).select(
        "window_start",
        "user_id",
        "n_true",
        "rk",
        F.col("c.seed").alias("seed"),
        F.col("c.bucket").alias("bucket"),
    )
    est = (
        grid.join(F.broadcast(probes), ["window_start", "seed", "bucket"])
        .groupBy("window_start", "user_id", "n_true", "rk")
        .agg(F.min("n").alias("n_cms"))
    )
    return est.select(
        "window_start",
        F.col("rk").cast("int").alias("rk"),
        "user_id",
        "n_true",
        "n_cms",
    ).orderBy("window_start", "rk")


def q_stream_late_drop_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark's LATE-DATA DROP, actually exercised: every other
    streaming query here replays in one batch, where the watermark starts
    at -inf and nothing is ever late. This one runs the scheduled-
    incremental pattern — TWO sequential ``availableNow`` runs against one
    checkpoint (the cron'd-batch deployment shape). Run 1 processes the
    real events table and COMMITS its watermark (max(ts) - 10 min) to the
    checkpoint; the source then gains poison — copies of 10% of the events
    shifted back 3 DAYS with fresh event_ids — and run 2, restoring the
    committed watermark, must drop every one of them at the 1-hour
    tumbling aggregation's state store (run 2's progress in
    REPLAY_PROGRESS: no state row updated, and numRowsDroppedByWatermark
    equal to the late (window, event_type) groups — the metric counts rows
    after the partial aggregation, not input rows; tests/
    test_replay_harness.py). Output: the parquet sink's sealed per-type
    hourly counts.

    The value check is load-bearing in both directions: if late rows leak
    in, historical windows reappear/inflate and the hash fails; if the
    watermark over-advances, on-time windows vanish. The oracle is the
    on-time half only — counts over the ORIGINAL events in sealed windows.
    This is the semantics that bounds state at 100 TB: accepting
    arbitrarily late rows means keeping every window open forever.

    Why two RUNS rather than two batches of one run: Spark filters late
    events with the watermark as of the PREVIOUS batch's start (eviction
    uses the current one), so within a single availableNow replay the
    batch right after the data that advanced the watermark is still
    admitted — measured here: a one-run two-batch version leaked all 100
    late rows (numRowsDroppedByWatermark=0) where the committed-restart
    form drops them. Across a checkpoint restart the late-event watermark
    IS the committed one — the deployment-relevant guarantee.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    late = ev.filter(F.pmod("event_id", F.lit(100)) < 10).select(
        (F.col("event_id") + F.lit(1_000_000_000)).alias("event_id"),
        "event_type",
        (F.col("ts") - F.expr("INTERVAL 3 DAYS")).alias("ts"),
    )

    def hourly(src: DataFrame) -> DataFrame:
        return (
            src.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        )

    return run_replay(
        spark,
        sf_dir,
        "q_stream_late_drop_wm",
        hourly,
        rows=ev.count(),
        waves=[ev.coalesce(1), late.coalesce(1)],
    )


def q_stream_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_mix_rebalance_rate (operators/corpus.py) — the
    rate-based mix-rebalance acceptance applied at INGEST time, the shape
    its docstring promises for 100 TB: a planning pass computes per-source
    acceptance rates m/n_src ONCE (a handful of rows — production ships
    them as config refreshed per planning cycle), and the document stream
    is then filtered row-by-row with the seeded-hash predicate
    u32/2^32 < rate[source]. The filter is STATELESS — no watermark, no
    state store, no shuffle; every micro-batch is embarrassingly parallel,
    so ingest throughput is scan-bound at any scale.

    Determinism: the keep-decision is a pure function of (seed, doc_id,
    planning rates), so the streamed keep-set equals the batch query's
    exactly (pytest-equivalence in tests/test_streaming_analytics.py) and
    the DuckDB oracle (shared with q_mix_rebalance_rate) replays it
    value-for-value. The availableNow file replay + parquet sink is test
    scaffolding, as in the other q_stream_* queries."""
    from kitkat_spark.functions.text import md5_long
    from kitkat_spark.operators.corpus import MIX_SEED

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # the planning stats: both divisions are single correctly-rounded IEEE
    # ops of exact ints, identical in Python, Spark and DuckDB
    counts = docs.groupBy("source").agg(F.count("*").alias("n_src")).collect()
    m = min(r["n_src"] for r in counts)
    rate_entries: list = []
    for r in counts:
        rate_entries += [F.lit(r["source"]), F.lit(m / r["n_src"])]
    rates = F.create_map(*rate_entries)
    path, _ = _replay_info(spark, sf_dir, "mix_docs", lambda: docs)
    stream = spark.readStream.schema(docs.schema).parquet(path)
    u32 = md5_long(
        F.concat(F.lit(MIX_SEED + "|"), F.col("doc_id").cast("string")), hex_chars=8
    )
    accepted = stream.filter(
        (u32.cast("double") / F.lit(4294967296.0)) < rates[F.col("source")]
    ).select("doc_id", "source")
    # stateless filter: no rows= state sizing
    return run_replay(spark, sf_dir, "q_stream_mix_rebalance", accepted)


def q_consume_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 as a driver row: the dead-letter consume (streaming/sinks.py
    consume_with_dlq) over the mixed KPL+plain stream. Good records render
    to a parquet append sink, undecodable ones (exactly the corrupt blob 0
    the fixture injects) quarantine with a reason — the split the reference
    performs silently (consumer.go:177-179) made observable. Output is the
    per-disposition row count read back from BOTH sinks, so the driver
    value-checks that nothing was dropped on the floor: rendered =
    2*count(events) - 5, quarantined:kpl_decode_failed = 1. The sink starts
    its own query, so this call enters the replay harness's scope directly:
    fresh sinks and checkpoint per call, so every call consumes the whole
    stream (the effectively-once resume over a caught-up checkpoint is
    tests/test_sinks.py's to prove)."""
    from kitkat_spark.streaming.sinks import consume_with_dlq

    mixed = build_kpl_records(spark, sf_dir).unionByName(
        build_plain_records(spark, sf_dir)
    )
    src, n_rows = _replay_info(spark, sf_dir, "dlq_mixed", lambda: mixed)
    stream = spark.readStream.schema(mixed.schema).parquet(src)
    with replay_scope(spark, sf_dir, "q_consume_dlq", n_rows) as call:
        call.drain(
            consume_with_dlq(
                stream,
                good_path=call.path("good"),
                dlq_path=call.path("dlq"),
                checkpoint=call.path("ckpt"),
                verbose=True,
            )
        )
    rendered = spark.read.parquet(call.path("good")).select(
        F.lit("rendered").alias("disposition")
    )
    quarantined = spark.read.parquet(call.path("dlq")).select(
        F.concat(F.lit("quarantined:"), F.col("reason")).alias("disposition")
    )
    return (
        rendered.unionByName(quarantined)
        .groupBy("disposition")
        .agg(F.count("*").cast("long").alias("n"))
    )


def q_stateful_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch analog of the applyInPandasWithState running user profile
    (streaming/stateful.py): cumulative counts/sums + max inter-event gap."""
    from kitkat_spark.streaming.stateful import user_profiles

    return user_profiles(load_table(spark, sf_dir, "events"))


def q_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stateful-streaming EWMA, driver-verifiable: events replayed
    through a file stream into applyInPandasWithState (streaming/
    stateful.py user_ewma — O(1) state per key: the smoothed value is its
    own sufficient statistic), update-mode memory sink; the sink's final
    update per user must equal the batch q_ewma fold bit-for-bit (same
    IEEE ops, same event-time order — replay is one availableNow batch).

    This is the scale contrast the EWMA pair exists to show: the batch
    twin materializes each group's value list to fold it; the streaming
    operator carries two scalars per key forever — the shape that survives
    an unbounded stream. Oracle: the same list_reduce fold DuckDB runs for
    q_ewma, minus the list-dependent columns."""
    from kitkat_spark.operators.temporal import EWMA_ALPHA
    from kitkat_spark.streaming.stateful import user_ewma

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    path, n_rows = _replay_info(spark, sf_dir, "ewma", lambda: ev)
    stream = spark.readStream.schema(ev.schema).parquet(path)
    smoothed = user_ewma(stream, alpha=EWMA_ALPHA)
    return run_replay(
        spark, sf_dir, "q_stream_ewma", smoothed, rows=n_rows, output_mode="update"
    )


from kitkat_spark.operators.sketches import (  # noqa: E402
    _HLL_LC_SQL as _LC_SQL,
    HLL_ALPHA as _HA,
    HLL_M as _HM,
    _HLL_M2S as _HM2S,
    HLL_REST_W as _HRW,
    HLL_S as _HS,
)

ORACLE: dict[str, str] = {
    # The same sealed-window boundary and md5 grid as the stream: every
    # (seed, bucket) register rebuilt exactly, probes joined back for the
    # min-over-rows estimate.
    "q_stream_cms_wm": f"""
        WITH sealed AS (
            SELECT user_id,
                   CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start
            FROM events
            WHERE CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR
                  <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        ),
        seeds AS (SELECT unnest(generate_series(0, {SCMS_D - 1})) AS seed),
        grid AS (
            SELECT window_start, seed,
                   ('0x' || substr(md5('scms' || seed || '|'
                        || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                       % {SCMS_W} AS bucket,
                   count(*) AS n
            FROM sealed, seeds
            GROUP BY 1, 2, 3
        ),
        exact AS (
            SELECT window_start, user_id, count(*) AS n_true
            FROM sealed GROUP BY 1, 2
        ),
        top AS (
            SELECT window_start, user_id, n_true,
                   CAST(row_number() OVER (
                       PARTITION BY window_start
                       ORDER BY n_true DESC, user_id) AS INT) AS rk
            FROM exact QUALIFY rk <= {SCMS_TOP_K}
        ),
        probes AS (
            SELECT t.window_start, t.user_id, t.n_true, t.rk, s.seed,
                   ('0x' || substr(md5('scms' || s.seed || '|'
                        || CAST(t.user_id AS VARCHAR)), 1, 15))::BIGINT
                       % {SCMS_W} AS bucket
            FROM top t, seeds s
        )
        SELECT p.window_start, p.rk, p.user_id, p.n_true,
               min(g.n) AS n_cms
        FROM probes p
        JOIN grid g USING (window_start, seed, bucket)
        GROUP BY 1, 2, 3, 4
    """,
    "q_stream_hll_wm": f"""
        WITH sealed AS (
            SELECT user_id,
                   CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start
            FROM events
            WHERE CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR
                  <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        ),
        h AS (
            SELECT window_start,
                   ('0x' || substr(md5('shll|' || user_id), 1, 15))::BIGINT
                       AS hv
            FROM sealed
        ),
        rr AS (
            SELECT window_start, hv % {_HM} AS bucket,
                   (hv // {_HM}) % {1 << _HRW} AS rest
            FROM h
        ),
        rho AS (
            SELECT window_start, bucket,
                   CASE WHEN rest = 0 THEN {_HRW + 1}
                        ELSE {_HRW + 1} - length(bin(rest)) END AS rho
            FROM rr
        ),
        regs AS (
            SELECT window_start, bucket, max(rho) AS r
            FROM rho GROUP BY 1, 2
        ),
        sk AS (
            SELECT window_start,
                   CAST({_HM} - count(*) AS BIGINT) AS zeros,
                   CAST(sum(1::BIGINT << CAST({_HS} - r AS INT))
                        + ({_HM} - count(*)) * (1::BIGINT << {_HS})
                        AS BIGINT) AS hsum
            FROM regs GROUP BY 1
        ),
        est0 AS (
            SELECT window_start, zeros,
                   CAST({_HA!r} AS DOUBLE) * {float(_HM2S)!r}
                       / CAST(hsum AS DOUBLE) AS raw
            FROM sk
        ),
        est AS (
            SELECT window_start, zeros,
                   CAST(CASE WHEN raw <= {2.5 * _HM!r} AND zeros > 0
                             THEN {_LC_SQL}
                             ELSE round(raw) END AS BIGINT) AS est_distinct
            FROM est0
        ),
        ex AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
            FROM events GROUP BY 1
        )
        SELECT est.window_start, zeros, est_distinct, exact_distinct
        FROM est JOIN ex ON est.window_start = ex.window_start
        ORDER BY est.window_start
    """,
    # the doubled stream deduped on event_id is exactly the events table
    # (event_id is unique there) — DISTINCT expresses it
    # the batch gap-fill restricted to the windows append mode seals
    # (window end <= final watermark = max(ts) - 10 min), then the same
    # densify + locf replay as q_gap_fill's oracle
    "q_stream_topk_wm": f"""
        WITH hourly AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
                   event_type, count(*) AS n_events
            FROM events GROUP BY 1, 2
            HAVING CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR
                   <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        )
        SELECT window_start, event_type, n_events, rk FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY window_start
                ORDER BY n_events DESC, event_type) AS INT) AS rk
            FROM hourly
        ) WHERE rk <= {STREAM_TOPK}
    """,
    # Sealed set = the HAVING boundary; the z-score replays the exact
    # integer moments (count / sum / sum-of-squares) and the identical
    # double arithmetic, clamped var, and sd = 0 -> NULL z.
    "q_stream_anomaly_wm": f"""
        WITH hourly AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
                   event_type, count(*) AS n_events
            FROM events GROUP BY 1, 2
            HAVING CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR
                   <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        ), st AS (
            SELECT *, count(*) OVER w AS cnt,
                   sum(n_events) OVER w AS s,
                   sum(n_events * n_events) OVER w AS ss
            FROM hourly
            WINDOW w AS (PARTITION BY event_type)
        ), scored AS (
            SELECT window_start, event_type, n_events,
                   CASE WHEN cnt > 1 AND sqrt(greatest(
                            (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                                 * CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE))
                            / CAST(cnt - 1 AS DOUBLE), 0.0)) > 0
                        THEN (CAST(n_events AS DOUBLE)
                                  - CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE))
                             / sqrt(greatest(
                                 (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                                      * CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE))
                                 / CAST(cnt - 1 AS DOUBLE), 0.0))
                   END AS z
            FROM st
        )
        SELECT window_start, event_type, n_events, round(z, 4) AS z,
               coalesce(z > {ANOMALY_Z}, false) AS is_anomaly
        FROM scored
    """,
    "q_stream_gap_fill": """
        WITH hourly AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type,
                   count(*) AS n_events,
                   CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
                       AS sum_value
            FROM events GROUP BY 1, 2
            HAVING CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR
                   <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        ), spans AS (
            SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1
        ), grid AS (
            SELECT s.event_type, CAST(g.gs AS TIMESTAMP) AS window_start
            FROM spans s, LATERAL (
                SELECT unnest(generate_series(s.h0, s.h1, INTERVAL 1 HOUR)) AS gs
            ) g
        )
        SELECT g.window_start, g.event_type,
               coalesce(h.n_events, 0) AS n_events,
               coalesce(h.sum_value, 0.0) AS sum_value,
               CAST(h.n_events IS NULL AS INT) AS is_gap,
               last_value(h.sum_value IGNORE NULLS) OVER (
                   PARTITION BY g.event_type ORDER BY g.window_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled_value
        FROM grid g
        LEFT JOIN hourly h
          ON h.event_type = g.event_type AND h.h = g.window_start
    """,
    "q_stream_dedup_wm": """
        SELECT DISTINCT event_id, user_id, event_type FROM events
    """,
    # the on-time half only: batch 2's 3-days-late rows must be dropped by
    # the watermark, so emitted counts are the ORIGINAL events in windows
    # the final watermark sealed
    "q_stream_late_drop_wm": """
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type,
               count(*) AS n_events
        FROM events
        GROUP BY 1, 2
        HAVING CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR
               <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    """,
    # dedup collapses the doubled stream to distinct events; append mode
    # seals hourly windows whose end the final watermark passed
    "q_stream_dedup_agg_wm": """
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type,
               count(*) AS n_events
        FROM events
        GROUP BY 1, 2
        HAVING CAST(date_trunc('hour', ts) AS TIMESTAMP) + INTERVAL 1 HOUR
               <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    """,
    # gap-and-island twin of session_window (new session when gap >= 30 min
    # — the half-open merge rule), filtered to the sessions append mode
    # seals: end <= final watermark = max(ts) - 10 min
    # q_stream_session_paths: q_stream_session_wm's sealed-session replay
    # (same merge rule: new session when gap >= 30 min; same sealing
    # boundary: session end = max(ts)+30min <= max(ts)-10min), then
    # q_session_paths' path/rank arithmetic over only the sealed set.
    # f-string (round-11 advice): SP_N/SP_K interpolate from temporal.py so
    # the oracle cannot silently desync from the Spark side's constants
    "q_stream_session_paths": f"""
        WITH x AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
            SELECT user_id, ts, event_id, event_type,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM x
        ),
        sealed AS (
            SELECT user_id, sid
            FROM s GROUP BY user_id, sid
            HAVING max(ts) + INTERVAL 30 MINUTE
                   <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
        ),
        ranked AS (
            SELECT s.user_id, s.sid, s.event_type, s.ts, s.event_id,
                   row_number() OVER (
                       PARTITION BY s.user_id, s.sid ORDER BY s.ts, s.event_id
                   ) AS rn
            FROM s JOIN sealed USING (user_id, sid)
        ),
        paths AS (
            SELECT user_id, sid,
                   string_agg(event_type, '>' ORDER BY ts, event_id) AS path
            FROM ranked WHERE rn <= {SP_N}
            GROUP BY 1, 2
        ),
        counts AS (
            SELECT path, count(*) AS n_sessions FROM paths GROUP BY 1
        ),
        top AS (
            SELECT * FROM counts ORDER BY n_sessions DESC, path LIMIT {SP_K}
        )
        SELECT CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS INT)
                   AS rk,
               path, n_sessions
        FROM top
    """,
    "q_stream_session_wm": """
        WITH x AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
            -- same (ts, event_id) total order as x's window: with tied ts
            -- at a session boundary an ts-only cumulative sum could assign
            -- the tied row to the previous session nondeterministically
            SELECT user_id, ts,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM x
        ),
        agg AS (
            SELECT min(ts) AS session_start,
                   max(ts) + INTERVAL 30 MINUTE AS session_end,
                   user_id, count(*) AS n_events
            FROM s GROUP BY user_id, sid
        )
        SELECT session_start, session_end, user_id, n_events
        FROM agg
        WHERE session_end <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
    """,
    "q_stream_interval_join_wm": """
        SELECT a.user_id, a.event_id AS l_id, b.event_id AS r_id,
               a.ts AS l_ts, b.ts AS r_ts
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
         AND a.event_id <> b.event_id
    """,
    # rendered = plain (count) + decodable KPL inner records (count - 5);
    # the one corrupt blob quarantines with its decode reason
    "q_consume_dlq": """
        SELECT 'rendered' AS disposition,
               CAST(2 * count(*) - 5 AS BIGINT) AS n
        FROM events
        UNION ALL
        SELECT 'quarantined:kpl_decode_failed' AS disposition,
               CAST(1 AS BIGINT) AS n
    """,
    "q_stream_ewma": """
        WITH per AS (
            SELECT user_id, count(*) AS n_events,
                   list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
            FROM events GROUP BY user_id
        )
        SELECT user_id, n_events,
               round(list_reduce(vals,
                     (a, x) -> 0.3::DOUBLE * x + 0.7::DOUBLE * a), 4)
                   AS ewma_value
        FROM per
    """,
    "q_stateful_profile": """
        WITH gaps AS (
            SELECT user_id, value,
                   epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                       AS gap_s
            FROM events
        )
        SELECT user_id, count(*) AS n_events,
               round(sum(value), 2) AS sum_value,
               round(coalesce(max(gap_s), 0.0), 1) AS max_gap_s
        FROM gaps GROUP BY user_id
    """,
    "q_consume_plain": f"""
        SELECT strftime(ts, '%Y-%m-%d %H:%M:%S') AS timestamp,
               '{STREAM}' AS stream,
               'shardId-' || lpad(CAST(user_id % 8 AS VARCHAR), 12, '0') AS shard_id,
               CAST(event_id AS VARCHAR) AS sequence_number,
               event_type || ':' || CAST(event_id AS VARCHAR) AS message
        FROM events
    """,
    "q_consume_since": """
        SELECT strftime(ts, '%Y-%m-%d %H:%M:%S') AS timestamp,
               event_type || ':' || CAST(event_id AS VARCHAR) AS message
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
    """,
    "q_shard_status": f"""
        SELECT CAST(sum(CASE WHEN bucket % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS active_shards,
               CAST(sum(CASE WHEN bucket % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS closed_shards
        FROM (SELECT DISTINCT user_id % {N_SHARD_BUCKETS} AS bucket FROM events)
    """,
    # q_consume_pipeline: the protobuf wire format has no DuckDB twin, but
    # the RENDERED rows are a deterministic string function of events: the
    # plain half mirrors q_consume_plain; the KPL half inherits the outer
    # blob metadata (blob_id = event_id // 5, arrival = epoch 1_500_000_000 +
    # blob_id s, seq = 'seq-'||blob_id, shard = blob_id % 8 — see
    # build_kpl_records) and renders payload 'event_id|value', minus the 5
    # inner records of the corrupt blob 0. Value-verifies deagg + metadata
    # inheritance + render end-to-end (consumer.go:183-209). Session TZ and
    # DuckDB both render the epoch arithmetic as UTC (naive timestamp).
    "q_consume_pipeline": f"""
        SELECT strftime(ts, '%Y-%m-%d %H:%M:%S') AS timestamp,
               '{STREAM}' AS stream,
               'shardId-' || lpad(CAST(user_id % 8 AS VARCHAR), 12, '0') AS shard_id,
               CAST(event_id AS VARCHAR) AS sequence_number,
               event_type || ':' || CAST(event_id AS VARCHAR) AS message
        FROM events
        UNION ALL
        SELECT strftime(TIMESTAMP '1970-01-01 00:00:00'
                        + to_seconds(1500000000 + event_id // 5),
                        '%Y-%m-%d %H:%M:%S') AS timestamp,
               '{STREAM}' AS stream,
               'shardId-' || lpad(CAST((event_id // 5) % 8 AS VARCHAR), 12, '0') AS shard_id,
               'seq-' || CAST(event_id // 5 AS VARCHAR) AS sequence_number,
               CAST(event_id AS VARCHAR) || '|' || CAST(value AS VARCHAR) AS message
        FROM events
        WHERE event_id // 5 <> 0
    """,
}

# the streamed keep-set is by construction the batch keep-set, so the
# oracle is shared verbatim with q_mix_rebalance_rate
from kitkat_spark.operators import corpus as _corpus  # noqa: E402
from kitkat_spark.operators import dedup as _dedup  # noqa: E402

ORACLE["q_stream_mix_rebalance"] = _corpus.ORACLE["q_mix_rebalance_rate"]


INCR_BATCHES = 4  # ingest "days" replayed through the checkpointed pipeline


def q_stream_incr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of q_incremental_dedup (round-12 verdict #4a): the
    incoming 20% of the corpus arrives as INCR_BATCHES successive ingest
    batches (ascending doc_id ranges — ingest order), each replayed through
    a CHECKPOINTED Structured Streaming pipeline that (1) drops rows whose
    fingerprint already exists in the standing corpus (stream-static
    left_anti join) and (2) drops re-arrivals across batches through
    dropDuplicates state, appending survivors to a file sink. Each batch is
    a separate availableNow run against the SAME checkpoint — a genuine
    stop/restart per ingest day, so the dedup state provably survives
    recovery (the property that makes incremental dedup deployable).

    Batch-equivalence (what the oracle checks): each ingest file is
    canonicalized to one min-doc_id row per fingerprint (the ingest
    buffer's local combine), ranges ascend by doc_id, and streaming state
    keeps the FIRST arrival per fingerprint — so the kept row is the
    globally minimal doc_id, exactly q_incremental_dedup's batch answer.
    The oracle is byte-identical to q_incremental_dedup's (imported below).

    Scale: the dropDuplicates state is the FINGERPRINT INDEX itself — one
    md5 per distinct new document, the structure a 100 TB incremental
    dedup persists on purpose (RocksDB state store / compacted table), not
    a leak; had fingerprints carried ingest time, the horizon-bounded
    variant is dropDuplicatesWithinWatermark (q_stream_dedup_wm). The
    static side broadcasts only if small — at corpus scale it stays a
    shuffled-on-fp join, which Spark plans per micro-batch. The 1-row
    cut/max collect is config-sized; everything corpus-sized stays
    distributed."""
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par)
    fp = F.md5(
        F.substring(F.lower(F.regexp_replace("text", r"\s+", " ")), 1, 200)
    )
    # one scan + one fingerprint pass, pinned (r14, guide §1.2 — the
    # committed q_stream_dedup_ttl discipline): d feeds the cut agg plus
    # one batch derivation per ingest wave, and corpus_fps feeds the
    # stream-static anti-join of EVERY availableNow run — left lazy, each
    # consumer re-scans documents and re-md5s the corpus
    d = docs.select("doc_id", fp.alias("fp")).localCheckpoint(eager=True)
    cut, mx = d.agg(
        F.expr("(max(doc_id) + 1) * 4 div 5").alias("cut"),
        F.max("doc_id").alias("mx"),
    ).first()
    # the standing fingerprint index (a persisted table in production):
    # pinned so each of the INCR_BATCHES query starts plans its static
    # side over the materialized distinct, not a fresh scan+shuffle
    corpus_fps = (
        d.filter(F.col("doc_id") < cut)
        .select("fp")
        .distinct()
        .localCheckpoint(eager=True)
    )
    span = int(mx) + 1 - int(cut)
    bounds = [
        int(cut) + (span * i) // INCR_BATCHES for i in range(INCR_BATCHES + 1)
    ]
    waves = [
        d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "fp")
        for lo, hi in zip(bounds, bounds[1:])
    ]
    return run_replay(
        spark,
        sf_dir,
        "q_stream_incr_dedup",
        lambda src: src.join(corpus_fps, "fp", "left_anti")
        .dropDuplicates(["fp"])
        .select("doc_id", "fp"),
        rows=span,
        waves=waves,
    )


# Byte-identical oracle: the streaming run must reproduce the batch answer.
ORACLE["q_stream_incr_dedup"] = _corpus.ORACLE["q_incremental_dedup"]


# synthetic ingest clock for the documents table (it carries no timestamp):
# one document per minute from a fixed epoch. doc_id <-> event time is a
# bijection, so watermark horizons translate to pure integer doc_id
# arithmetic that a DuckDB oracle replays exactly (60 docs per 1-hour
# window, sealed when window_end <= max(ts) - 10 minutes).
DOC_TS_BASE_S = 1_704_067_200  # 2024-01-01 00:00:00 UTC
DOC_TS_STEP_S = 60
DOC_WM_MINUTES = 10


def _doc_ingest_ts() -> "F.Column":
    return F.timestamp_seconds(
        F.lit(DOC_TS_BASE_S) + F.col("doc_id") * DOC_TS_STEP_S
    )


def q_stream_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_boilerplate_coverage (operators/corpus.py) —
    commodity-gram document frequencies maintained in STREAMING STATE, the
    ingest-time counterpart the round-13 verdict queued: documents arrive
    on the synthetic 1-doc/min ingest clock, each contributes its DISTINCT
    3-gram fingerprints, and a watermarked windowed count keeps per-(hour
    window, gram) document frequencies in the state store — the
    q_stream_hll_wm layout (state keyed on (window, hash-bucket)) applied
    to the boilerplate dictionary. Sealed windows emit their (gram, df)
    rows once in append mode; classification composes AT READ TIME over
    the sealed dictionary, exactly like the HLL estimate composes over
    sealed registers.

    Read-time classification: the sealed dictionary is the per-gram df
    summed over emitted windows (a doc lives in exactly one window, so
    this equals document frequency over the sealed horizon); documents of
    the emitted windows are then classified with the BATCH query's exact
    roll-up — a gram is commodity when df * 1000 > n_docs *
    BOILER_DF_PERMILLE,
    both sides exact integers. The oracle is q_boilerplate_coverage's SQL
    filtered to the sealed horizon (window_end <= max ingest ts - 10 min,
    i.e. (doc_id div 60 + 1) * 60 <= max(doc_id) - 10 on the token-bearing
    docs), per the round-13 verdict's done-criterion. Joining the
    classifier on the EMITTED window set (not a recomputed horizon) makes
    the driver hash a real emission audit: a window Spark failed to seal,
    or sealed early, diverges from the oracle loudly.

    Scale: state is (live windows x distinct grams) — watermark-bounded,
    independent of corpus size; the sealed dictionary is the structure a
    100 TB ingest pipeline persists (the CCNet-style boilerplate list,
    refreshed per window). The read-time classify shuffles on the gram fp
    (keyed join, no all-pairs) and the doc-count is a 1-row broadcast."""
    from kitkat_spark.functions.text import tokens
    from kitkat_spark.operators.corpus import BOILER_DF_PERMILLE

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", tokens(F.col("text")).alias("w")).filter(
        F.size("w") >= 3
    )
    pairs = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - 2),
                    lambda p: F.md5(F.concat_ws(" ", F.slice("w", p, 3))),
                )
            )
        ).alias("fp"),
    )
    feed = pairs.select("doc_id", "fp", _doc_ingest_ts().alias("ts"))
    path, n_rows = _replay_info(spark, sf_dir, "boiler_grams", lambda: feed)
    # read-time classify consumes the SAME (doc_id, fp, ts) rows the replay
    # fixture materialized — read them back instead of re-running the
    # tokenize + per-trigram md5 expansion over raw text a second time
    # (r14 optimization, guide §1.2: the expansion was the query's single
    # most expensive map and was paid twice per call; at 100 TB the
    # ingest pipeline likewise classifies from the persisted gram feed,
    # never from a re-scan of raw text)
    feed_back = spark.read.schema("doc_id long, fp string, ts timestamp").parquet(
        path
    )
    stream = (
        spark.readStream.schema(feed.schema)
        .parquet(path)
        .withWatermark("ts", f"{DOC_WM_MINUTES} minutes")
        .groupBy(F.window("ts", "1 hour").alias("wdw"), "fp")
        .agg(F.count("*").alias("df_w"))
        .select(F.col("wdw.end").alias("w_end"), "fp", "df_w")
    )
    sealed = run_replay(spark, sf_dir, "q_stream_boilerplate", stream, rows=n_rows)
    gram_df = sealed.groupBy("fp").agg(F.sum("df_w").alias("df"))
    sealed_wins = sealed.select("w_end").distinct()
    sealed_pairs = (
        feed_back.withColumn("wdw", F.window(F.col("ts"), "1 hour"))
        .select("doc_id", "fp", F.col("wdw.end").alias("w_end"))
        .join(F.broadcast(sealed_wins), "w_end")
    )
    n_docs = sealed_pairs.agg(F.countDistinct("doc_id").alias("n_docs"))
    return (
        sealed_pairs.join(gram_df, "fp")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                (F.col("df") * 1000 > F.col("n_docs") * BOILER_DF_PERMILLE).cast(
                    "long"
                )
            ).alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_boiler",
            # integer micro-units, not round(x, 4) (the q_minhash_merge
            # cross-engine rounding lesson)
            (
                F.round(F.col("n_boiler") / F.col("n_grams") * 10000).cast(
                    "long"
                )
                / F.lit(10000.0)
            ).alias("boiler_frac"),
        )
    )


# The batch boilerplate audit filtered to the sealed horizon: the ingest
# clock is doc_id minutes, so "window_end <= watermark" is exact integer
# arithmetic on doc_id over the token-bearing docs.
ORACLE["q_stream_boilerplate"] = f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), d0 AS (
            SELECT doc_id, w FROM toks WHERE len(w) >= 3
        ), horizon AS (
            SELECT max(doc_id) - {DOC_WM_MINUTES} AS wm FROM d0
        ), d AS (
            SELECT doc_id, w FROM d0, horizon
            WHERE (doc_id // 60 + 1) * 60 <= horizon.wm
        ), pairs AS (
            SELECT DISTINCT doc_id,
                   md5(array_to_string(list_slice(w, i, i + 2), ' ')) AS fp
            FROM d, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        ), nd AS (
            SELECT count(*) AS n_docs FROM d
        ), marked AS (
            SELECT doc_id, count(*) OVER (PARTITION BY fp) AS df FROM pairs
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN df * 1000 > n_docs * {_corpus.BOILER_DF_PERMILLE}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
               CAST(round(sum(CASE WHEN df * 1000 > n_docs * {_corpus.BOILER_DF_PERMILLE}
                              THEN 1 ELSE 0 END) * 1.0 / count(*) * 10000)
                    AS BIGINT) / 10000.0 AS boiler_frac
        FROM marked, nd
        GROUP BY doc_id
    """




def q_stream_passjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-DUP at ingest — q_stream_incr_dedup at
    edit-distance granularity (round-13 verdict #5): the standing corpus
    keeps its PassJoin structures, each ingest batch probes them with a
    stream-static join on the segment hash, and the discovered pairs are
    byte-equivalent to a batch PassJoin over corpus ∪ ingest restricted
    to pairs that involve an ingested doc (corpus-internal pairs pre-date
    the ingest — the batch op q_passjoin_dedup owns those).

    PassJoin is ASYMMETRIC (shorter side indexed, longer side probes), so
    an arriving doc must match standing partners in BOTH roles. The
    standing state is therefore TWO inverted structures, exactly the
    paper's substring inverted lists kept incremental (Li, Deng & Feng,
    EDBT 2011, §Inc): the SEGMENT index (id, len, seg-id, xxhash64 of the
    segment) probed by the new doc's shifted substrings, and the PROBE
    index (the stored (partner_len, seg-id, substring-hash) keys of every
    standing doc) joined by the new doc's own segments — the reverse
    direction a one-sided index silently loses (an old LONGER partner
    can never re-probe a new shorter doc). The ingest's own segments +
    probes join the standing structures' static side, so ingest-internal
    pairs resolve through the same two joins; the threshold-capped levenshtein
    verifies in-stream after a static text join-back, verified pairs
    append to the checkpointed sink, and multi-segment / bidirectional
    re-discoveries of a pair (exact duplicate rows — lev and rel_dist
    are functions of the pair) collapse with one distinct at read time,
    keeping the replay STATELESS: the op's real state is the standing
    index dirs themselves, exactly as q_stream_incr_dedup's is its
    fingerprint index. (r14 optimization: the ingest span replays as ONE
    availableNow batch — the earlier two-wave loop paid a full
    streaming-query start, three fixture writes and a standing-side
    shuffle per wave for an output the read-time distinct made
    wave-count-invariant; guide §1.2/§2.4.)

    Scale: both standing structures are keyed parquet a 100 TB deployment
    partitions by (len_s, seg) — the per-batch joins shuffle ONLY on
    content keys (never all-pairs), the probe expansion is the same
    ~800x constant map-side fan-out as the batch op, and the probe store
    is the known space trade of incremental similarity join (~60 rows
    per standing doc vs recomputing the corpus expansion per wave).

    The oracle is the brute-force length-prefiltered levenshtein over
    ALL documents filtered to greatest(doc_a, doc_b) >= the ingest cut —
    the driver hash proves the two-sided incremental machinery loses
    nothing vs the from-scratch join."""
    from kitkat_spark.operators.dedup import (
        _PASS_M,
        PASSJOIN_K,
        _pass_layout,
        passjoin_triples,
    )

    par = spark.sparkContext.defaultParallelism
    all_docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    cut = all_docs.agg(
        F.expr("(max(doc_id) + 1) * 4 div 5").alias("cut")
    ).first()[0]
    # one scan + one fan-out shuffle, pinned: segments()/probes()/src all
    # consume the doc set once per wave, and a lazy lineage would re-scan
    # and re-shuffle the parquet for every one of those writes
    docs = (
        all_docs.filter(F.col("n_chars") >= _PASS_M)
        .repartition(par)
        .localCheckpoint(eager=True)
    )
    tdf = spark.createDataFrame(
        passjoin_triples(), "delta int, i int, d int"
    )

    def segments(df: DataFrame) -> DataFrame:
        i_col = F.explode(F.sequence(F.lit(0), F.lit(_PASS_M - 1))).alias("i")
        seg_len, seg_start = _pass_layout(F.col("len_s"), F.col("i"))
        return df.select(
            F.col("doc_id").alias("id_s"),
            F.col("n_chars").alias("len_s"),
            "text",
            i_col,
        ).select(
            "id_s",
            "len_s",
            "i",
            F.xxhash64(
                F.substring("text", seg_start + 1, seg_len)
            ).alias("seg"),
        )

    def probes(df: DataFrame) -> DataFrame:
        p_len, p_start = _pass_layout(F.col("len_s"), F.col("i"))
        return (
            df.select(
                F.col("doc_id").alias("id_r"),
                F.col("n_chars").alias("len_r"),
                "text",
                F.lit(1).alias("one"),
            )
            .join(F.broadcast(tdf.withColumn("one", F.lit(1))), "one")
            .withColumn("len_s", F.col("len_r") - F.col("delta"))
            .filter(F.col("len_s") >= _PASS_M)
            .select(
                "id_r", "len_r", "len_s", "text", "i",
                p_len.alias("sl"), (p_start + F.col("d")).alias("q"),
            )
            .filter(
                (F.col("q") >= 0) & (F.col("q") + F.col("sl") <= F.col("len_r"))
            )
            .select(
                "id_r",
                "len_r",
                "len_s",
                "i",
                F.xxhash64(
                    F.substring("text", F.col("q") + 1, F.col("sl"))
                ).alias("seg"),
            )
        )

    # The corpus-side standing structures are IMMUTABLE deployment state
    # (built once when the corpus was indexed, long before any ingest
    # wave), so like every replay fixture they are written once per
    # (session, sf_dir) — a timed invocation measures the INGEST path, not
    # a re-seed production never pays. The ingest's own structures are
    # computed per call from the pinned docs; each static side unions the
    # two.
    corpus = docs.filter(F.col("doc_id") < cut)
    ingest = docs.filter(F.col("doc_id") >= cut)

    def standing(variant: str, build, schema: str) -> DataFrame:
        path, _ = _replay_info(spark, sf_dir, variant, lambda: build(corpus))
        return spark.read.schema(schema).parquet(path).unionByName(build(ingest))

    st_index = standing("pj_index", segments, "id_s long, len_s long, i int, seg long")
    st_probes = standing(
        "pj_probes", probes, "id_r long, len_r long, len_s long, i int, seg long"
    )
    st_texts = standing(
        "pj_texts", lambda df: df, "doc_id long, text string, n_chars long"
    )
    # The whole ingest span replays as ONE availableNow batch probing the
    # union structures through the same two joins (r14 optimization, guide
    # §1.2/§2.4: the per-wave loop paid 3 writes + one full streaming-query
    # start + one ~|corpus probes| static-side shuffle PER WAVE — measured
    # 24 s steady at sf0.1, of which one whole wave round was duplicated
    # machinery). Output-identical by construction: multi-segment /
    # bidirectional / cross-batch re-discoveries are collapsed by the
    # read-time distinct — the driver oracle and the batch-equivalence test
    # pin this. The growing-index evidence (a pair spanning corpus and
    # ingest) is unchanged: corpus structures pre-date the call.

    def verified_pairs(stream: DataFrame) -> DataFrame:
        # direction 1: the new doc as the LONGER side probes standing
        # segments; direction 2: the new doc's own segments meet the
        # standing docs' stored probe keys. The replay batch is STATELESS
        # (the op's real state is the standing structures themselves, as
        # in q_stream_incr_dedup): a pair discovered through both
        # directions is collapsed at read time, so no per-batch state
        # store has to spin up for a candidate-sized distinct.
        d1 = probes(stream).join(st_index, ["len_s", "i", "seg"])
        d2 = segments(stream).join(st_probes, ["len_s", "i", "seg"])
        cols = ["id_s", "len_s", "id_r", "len_r"]
        cand = (
            d1.select(*cols)
            .unionByName(d2.select(*cols))
            .filter(
                (F.col("len_s") < F.col("len_r"))
                | (F.col("id_s") < F.col("id_r"))
            )
            .select(
                F.least("id_s", "id_r").alias("doc_a"),
                F.greatest("id_s", "id_r").alias("doc_b"),
                F.greatest("len_s", "len_r").alias("mx"),
            )
        )
        ta = st_texts.select(
            F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a")
        )
        tb = st_texts.select(
            F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b")
        )
        lev = F.levenshtein("text_a", "text_b", PASSJOIN_K)
        return (
            cand.join(ta, "doc_a")
            .join(tb, "doc_b")
            .select("doc_a", "doc_b", "mx", lev.alias("lev"))
            .filter((F.col("lev") >= 0) & (F.col("lev") <= PASSJOIN_K))
            .select(
                "doc_a",
                "doc_b",
                "lev",
                F.round(F.col("lev") * 1.0 / F.col("mx"), 4).alias(
                    "rel_dist"
                ),
            )
        )

    # stateless replay (no rows=); collapse multi-segment / bidirectional
    # re-discoveries of the same pair (exact duplicate rows by construction
    # — lev and rel_dist are functions of the pair)
    return run_replay(
        spark, sf_dir, "q_stream_passjoin", verified_pairs, waves=[ingest]
    ).distinct()


# Brute-force ground truth restricted to pairs that involve an ingested
# doc: the incremental two-sided index must lose nothing vs from-scratch.
ORACLE["q_stream_passjoin"] = f"""
        WITH cutoff AS (
            SELECT (max(doc_id) + 1) * 4 // 5 AS cut FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.text, b.text) AS INT) AS lev,
               round(levenshtein(a.text, b.text) * 1.0
                     / greatest(a.n_chars, b.n_chars), 4) AS rel_dist
        FROM documents a
        JOIN documents b
          ON a.doc_id < b.doc_id
         AND abs(a.n_chars - b.n_chars) <= {_dedup.PASSJOIN_K}
         AND a.n_chars >= {_dedup._PASS_M} AND b.n_chars >= {_dedup._PASS_M}
        CROSS JOIN cutoff
        WHERE levenshtein(a.text, b.text) <= {_dedup.PASSJOIN_K}
          AND b.doc_id >= cutoff.cut
    """


FERT_STREAM_DRIFT_PCT = 3  # same cut as the batch op (textops.FERT_DRIFT_PCT)


def q_stream_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_fertility_drift (operators/textops.py) — the
    per-source tokenizer-budget early-warning maintained at INGEST time
    (round-14 survey worklist): documents arrive on the synthetic
    1-doc/min ingest clock, each contributes its whitespace-word / regex-
    token / char counts, and a watermarked 1-hour windowed aggregate keeps
    per-(window, source) token sums in the state store. Sealed windows
    emit their cohort rows once in append mode; the DRIFT CLASSIFICATION
    composes at read time over the sealed history — each sealed cohort's
    fertility (regex tokens per word) and chars-per-token are compared to
    the TRAILING cumulative over that source's earlier sealed windows, and
    the flag fires when either ratio moves more than FERT_STREAM_DRIFT_PCT
    percent (1e-4 integer micro-units on both sides of every compare; a
    source's first sealed window has no trailing, so its trailing columns
    and flag are NULL in both engines).

    The batch op cohorts by 100-doc ingest buckets; the streaming cohort
    is the 60-doc hour the ingest clock defines — the oracle replays
    exactly that (bucket = doc_id div 60) over the sealed horizon
    (window_end <= max ingest ts - watermark, i.e. (doc_id div 60 + 1) *
    60 <= max(doc_id) - DOC_WM_MINUTES in doc-minutes), so the driver hash
    proves the state-store path seals exactly the windows the clock says
    it must — a window sealed early or late diverges loudly.

    Scale: state is (live windows x sources) rows of FOUR long sums —
    watermark-bounded, corpus-size-free; the per-doc projection is
    codegen'd expressions on the scan (no UDF); the read-time window
    function runs on the config-sized sealed table (sources x hours), so
    the single-partition-per-source window never sees corpus-sized
    data."""
    from pyspark.sql import Window as W

    from kitkat_spark.operators.textops import TOKEN_RE

    docs = load_table(spark, sf_dir, "documents")
    feed = docs.select(
        "source",
        F.size(F.split("text", " ")).cast("long").alias("ws"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
        ).cast("long").alias("re_t"),
        F.length("text").cast("long").alias("ch"),
        _doc_ingest_ts().alias("ts"),
    )
    path, n_rows = _replay_info(spark, sf_dir, "fert_feed", lambda: feed)
    stream = (
        spark.readStream.schema(feed.schema)
        .parquet(path)
        .withWatermark("ts", f"{DOC_WM_MINUTES} minutes")
        .groupBy(F.window("ts", "1 hour").alias("wdw"), "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ws").alias("n_words"),
            F.sum("re_t").alias("n_tokens"),
            F.sum("ch").alias("n_chars"),
        )
        .select(F.col("wdw.end").alias("w_end"), "source", "n_docs",
                "n_words", "n_tokens", "n_chars")
    )
    sealed = run_replay(spark, sf_dir, "q_stream_fertility", stream, rows=n_rows)
    w = (
        W.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cohorts = sealed.select(
        "source",
        (
            (F.unix_timestamp("w_end") - F.lit(DOC_TS_BASE_S)) / 3600 - 1
        ).cast("long").alias("bucket"),
        "n_docs",
        "n_words",
        "n_tokens",
        "n_chars",
    )
    fm = F.round(F.col("n_tokens") / F.col("n_words") * 10000).cast("long")
    cm = F.round(F.col("n_chars") / F.col("n_tokens") * 10000).cast("long")
    ft = F.round(
        F.sum("n_tokens").over(w) / F.sum("n_words").over(w) * 10000
    ).cast("long")
    ct = F.round(
        F.sum("n_chars").over(w) / F.sum("n_tokens").over(w) * 10000
    ).cast("long")
    pct = F.lit(FERT_STREAM_DRIFT_PCT)
    return cohorts.select(
        "source",
        "bucket",
        "n_docs",
        "n_words",
        "n_tokens",
        "n_chars",
        (fm / F.lit(10000.0)).alias("fertility"),
        (ft / F.lit(10000.0)).alias("trailing_fertility"),
        (cm / F.lit(10000.0)).alias("chars_per_token"),
        (ct / F.lit(10000.0)).alias("trailing_cpt"),
        (
            (F.abs(fm - ft) * 100 > ft * pct)
            | (F.abs(cm - ct) * 100 > ct * pct)
        ).alias("drift"),
    )


# The batch fertility-drift computation on the ingest clock's 60-doc hour
# cohorts, filtered to the sealed horizon — pure integer doc_id arithmetic.
ORACLE["q_stream_fertility"] = f"""
        WITH horizon AS (
            SELECT max(doc_id) - {DOC_WM_MINUTES} AS wm FROM documents
        ), per AS (
            SELECT source, doc_id // 60 AS bucket,
                   len(string_split(text, ' ')) AS ws,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS re_t,
                   length(text) AS ch
            FROM documents, horizon
            WHERE (doc_id // 60 + 1) * 60 <= horizon.wm
        ), agg AS (
            SELECT source, bucket,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(ws) AS BIGINT) AS n_words,
                   CAST(sum(re_t) AS BIGINT) AS n_tokens,
                   CAST(sum(ch) AS BIGINT) AS n_chars
            FROM per GROUP BY 1, 2
        ), win AS (
            SELECT *,
                   CAST(sum(n_words) OVER wt AS BIGINT) AS cw,
                   CAST(sum(n_tokens) OVER wt AS BIGINT) AS ctk,
                   CAST(sum(n_chars) OVER wt AS BIGINT) AS cch
            FROM agg
            WINDOW wt AS (PARTITION BY source ORDER BY bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ), units AS (
            SELECT source, bucket, n_docs, n_words, n_tokens, n_chars,
                   CAST(round(n_tokens * 1.0 / n_words * 10000) AS BIGINT)
                       AS fm,
                   CAST(round(ctk * 1.0 / cw * 10000) AS BIGINT) AS ft,
                   CAST(round(n_chars * 1.0 / n_tokens * 10000) AS BIGINT)
                       AS cm,
                   CAST(round(cch * 1.0 / ctk * 10000) AS BIGINT) AS ctr
            FROM win
        )
        SELECT source, CAST(bucket AS BIGINT) AS bucket,
               n_docs, n_words, n_tokens, n_chars,
               fm / 10000.0 AS fertility,
               ft / 10000.0 AS trailing_fertility,
               cm / 10000.0 AS chars_per_token,
               ctr / 10000.0 AS trailing_cpt,
               (abs(fm - ft) * 100 > ft * {FERT_STREAM_DRIFT_PCT}
                OR abs(cm - ctr) * 100 > ctr * {FERT_STREAM_DRIFT_PCT}) AS drift
        FROM units
    """


TTL_WAVES = 3  # ingest waves replayed through the TTL'd fingerprint state


def q_stream_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_dedup_ttl (operators/corpus.py) — the
    REFRESH-ON-ARRIVAL TTL policy maintained in CUSTOM streaming state
    (round-14 survey worklist): Spark's own
    ``dropDuplicatesWithinWatermark`` pins a key's state to its FIRST
    arrival (the q_stream_dedup_wm policy), so a fingerprint that keeps
    re-arriving eventually expires and re-admits even while duplicates are
    still flowing — refresh-on-arrival (every arrival, kept or dropped,
    renews the entry; the TTL-cache policy) is inexpressible with the
    built-in operator and needs flatMapGroupsWithState-style custom state:
    ``applyInPandasWithState`` keyed on the fingerprint, state = the last
    arrival's ingest-clock position (ONE long per distinct fingerprint).

    Each micro-batch sorts its per-key arrivals by ingest position
    (doc_id minutes — the same clock every streaming twin here uses),
    chains the gap computation from the carried state, emits the audit
    row (prev_gap / kept / readmitted, exactly the batch op's columns),
    and leaves the LAST arrival in state. The corpus is replayed as
    TTL_WAVES ascending ingest waves, each a separate availableNow run
    against the SAME checkpoint — a genuine stop/restart per wave, so the
    refresh-on-arrival state provably survives recovery (the
    q_stream_incr_dedup discipline applied to custom state). The oracle
    is byte-identical to the batch op's: the streaming run must reproduce
    q_dedup_ttl's per-document decisions exactly.

    The audit variant deliberately RETAINS expired entries: prev_gap and
    the readmitted flag are measurements OF expiry, so the state must
    remember what a production policy would evict (an evicted entry and
    an expired one produce the same kept decision — eviction only loses
    the re-admission telemetry, which is the point of this audit). The
    production deployment evicts at TTL via the same state handle
    (state.remove() on timeout), bounding state to the live horizon.

    Scale: state is one long per distinct fingerprint seen in the
    retention window (the persisted index q_stream_incr_dedup already
    argues for); the per-batch shuffle is keyed on fp (never all-pairs);
    the pandas stage is Arrow-batched per group with groups bounded by
    content repetition, not corpus size. Wave files land whole into one
    micro-batch each (availableNow with no file-rate limit), so per-key
    arrival order is the ingest order the sort reconstructs."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from kitkat_spark.operators.corpus import DEDUP_TTL_DOCS

    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par)
    fp = F.md5(
        F.substring(F.lower(F.regexp_replace("text", r"\s+", " ")), 1, 200)
    )
    # one scan + one fingerprint pass, pinned: every wave's write consumes
    # this projection, and a lazy lineage would re-scan and re-md5 per wave
    d = docs.select("doc_id", fp.alias("fp")).localCheckpoint(eager=True)
    mn, mx = d.agg(F.min("doc_id"), F.max("doc_id")).first()
    span = int(mx) + 1 - int(mn)
    bounds = [int(mn) + (span * i) // TTL_WAVES for i in range(TTL_WAVES + 1)]

    out_schema = (
        "doc_id long, fp string, prev_gap long, kept boolean, "
        "readmitted boolean"
    )

    def ttl_fn(key, pdfs, state: GroupState):
        # numpy, not pandas, per group (r15): this body runs once per
        # (key, batch) — ~1,650 calls per wave at sf0.1, serial within each
        # task — and the pandas concat/sort/shift/astype chain measured
        # ~1.07 ms/call vs ~0.26 ms for the integer-array equivalent.
        # Identical arithmetic: gap = id - previous arrival (state-carried
        # across batches), first-ever arrival has no gap (masked NULL).
        chunks = [p["doc_id"].to_numpy() for p in pdfs]
        ids = chunks[0] if len(chunks) == 1 else np.concatenate(chunks)
        ids = np.sort(ids)
        gap = np.empty(ids.shape, dtype=np.int64)
        gap[1:] = ids[1:] - ids[:-1]
        first_missing = not state.exists
        gap[0] = 0 if first_missing else ids[0] - state.get[0]
        mask = np.zeros(ids.shape, dtype=bool)
        mask[0] = first_missing  # True = NULL prev_gap (first-ever arrival)
        expired = gap > DEDUP_TTL_DOCS
        state.update((int(ids[-1]),))  # refresh-on-arrival
        yield pd.DataFrame(
            {
                "doc_id": ids,
                "fp": key[0],
                "prev_gap": pd.arrays.IntegerArray(gap, mask),
                "kept": (mask | expired),
                "readmitted": (~mask & expired),
            }
        )

    return run_replay(
        spark,
        sf_dir,
        "q_stream_dedup_ttl",
        lambda src: src.groupBy("fp").applyInPandasWithState(
            ttl_fn,
            out_schema,
            "last_id long",
            "append",
            GroupStateTimeout.NoTimeout,
        ),
        rows=span,
        pandas_state=True,
        waves=[
            d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            for lo, hi in zip(bounds, bounds[1:])
        ],
    )


# Byte-identical oracle: the custom-state streaming run must reproduce the
# batch TTL sweep's per-document decisions.
ORACLE["q_stream_dedup_ttl"] = _corpus.ORACLE["q_dedup_ttl"]


def q_stream_boiler_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_boilerplate_sources (operators/corpus.py) —
    per-SOURCE commodity-gram attribution maintained at INGEST time
    (round-14 survey worklist): the q_stream_boilerplate layout with the
    SOURCE in the state key — documents arrive on the 1-doc/min ingest
    clock, each contributes its distinct 3-gram fingerprints, and the
    watermarked windowed count keeps per-(hour window, gram, source)
    document frequencies in the state store. Sealed windows emit once in
    append mode; the GOVERNANCE roll-up (who reuses boilerplate vs who
    INJECTS it — the dominance column) composes at read time over the
    sealed dictionary with the batch query's exact integer semantics:
    per-(gram, source) df rolls up to the gram's corpus df (a doc lives
    in exactly one window, so window sums are document frequencies over
    the sealed horizon), a gram is commodity when df * 1000 > n_docs *
    BOILER_DF_PERMILLE, and a source dominates a commodity gram when
    2 * df_src > df. The oracle is the batch q_boilerplate_sources SQL
    filtered to the sealed horizon — a window sealed early or late, or a
    state row lost across the (window, gram, source) key, diverges
    loudly.

    Scale: state is (live windows x distinct grams x sources-per-gram) —
    watermark-bounded and corpus-size-free (a gram's source set is
    bounded by |sources|); the sealed dictionary is what a 100 TB ingest
    pipeline persists per window for mix governance; read-time shuffles
    are keyed on the gram fp (pre-aggregated, candidates ~ vocabulary)
    and the doc count is a 1-row broadcast."""
    from kitkat_spark.functions.text import tokens
    from kitkat_spark.operators.corpus import BOILER_DF_PERMILLE

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source", tokens(F.col("text")).alias("w")
    ).filter(F.size("w") >= 3)
    pairs = d.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - 2),
                    lambda p: F.md5(F.concat_ws(" ", F.slice("w", p, 3))),
                )
            )
        ).alias("fp"),
    )
    feed = pairs.select("doc_id", "source", "fp", _doc_ingest_ts().alias("ts"))
    path, n_rows = _replay_info(spark, sf_dir, "boiler_src_grams", lambda: feed)
    # same r14 optimization as q_stream_boilerplate: the read-time roll-up
    # consumes the persisted gram feed, not a second tokenize+md5 expansion
    feed_back = spark.read.schema(
        "doc_id long, source string, fp string, ts timestamp"
    ).parquet(path)
    stream = (
        spark.readStream.schema(feed.schema)
        .parquet(path)
        .withWatermark("ts", f"{DOC_WM_MINUTES} minutes")
        .groupBy(F.window("ts", "1 hour").alias("wdw"), "fp", "source")
        .agg(F.count("*").alias("df_ws"))
        .select(F.col("wdw.end").alias("w_end"), "fp", "source", "df_ws")
    )
    sealed = run_replay(
        spark, sf_dir, "q_stream_boiler_sources", stream, rows=n_rows
    )
    src_df = sealed.groupBy("fp", "source").agg(F.sum("df_ws").alias("df_src"))
    gram_df = src_df.groupBy("fp").agg(F.sum("df_src").alias("df"))
    sealed_wins = sealed.select("w_end").distinct()
    sealed_pairs = (
        feed_back.withColumn("wdw", F.window(F.col("ts"), "1 hour"))
        .select("doc_id", "source", "fp", F.col("wdw.end").alias("w_end"))
        .join(F.broadcast(sealed_wins), "w_end")
    )
    n_docs = sealed_pairs.agg(
        F.countDistinct("doc_id").alias("n_docs_corpus")
    )
    commodity = (
        gram_df.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * 1000 > F.col("n_docs_corpus") * BOILER_DF_PERMILLE)
        .select("fp", "df")
    )
    hits = (
        sealed_pairs.join(
            commodity.select("fp", F.lit(True).alias("boiler")), "fp", "left"
        )
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_hits"),
            F.sum(F.col("boiler").isNotNull().cast("long")).alias(
                "n_boiler_hits"
            ),
        )
    )
    dominated = (
        src_df.join(commodity, "fp")
        .filter(F.col("df_src") * 2 > F.col("df"))
        .groupBy("source")
        .agg(F.count("*").alias("n_dominated"))
    )
    return hits.join(dominated, "source", "left").select(
        "source",
        "n_docs",
        "n_hits",
        "n_boiler_hits",
        (
            F.round(F.col("n_boiler_hits") / F.col("n_hits") * 10000).cast(
                "long"
            )
            / F.lit(10000.0)
        ).alias("boiler_frac"),
        F.coalesce("n_dominated", F.lit(0)).alias("n_dominated"),
    )


# The batch per-source attribution filtered to the sealed horizon (the
# q_stream_boilerplate horizon arithmetic applied to the
# q_boilerplate_sources roll-up).
ORACLE["q_stream_boiler_sources"] = f"""
        WITH toks AS (
            SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
        ), d0 AS (
            SELECT doc_id, source, w FROM toks WHERE len(w) >= 3
        ), horizon AS (
            SELECT max(doc_id) - {DOC_WM_MINUTES} AS wm FROM d0
        ), d AS (
            SELECT doc_id, source, w FROM d0, horizon
            WHERE (doc_id // 60 + 1) * 60 <= horizon.wm
        ), pairs AS (
            SELECT DISTINCT doc_id, source,
                   md5(array_to_string(list_slice(w, i, i + 2), ' ')) AS fp
            FROM d, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        ), nd AS (
            SELECT count(*) AS n_docs_corpus FROM d
        ), src_df AS (
            SELECT fp, source, CAST(count(*) AS BIGINT) AS df_src
            FROM pairs GROUP BY fp, source
        ), gram_df AS (
            SELECT fp, CAST(sum(df_src) AS BIGINT) AS df
            FROM src_df GROUP BY fp
        ), commodity AS (
            SELECT fp, df FROM gram_df, nd
            WHERE df * 1000 > n_docs_corpus * {_corpus.BOILER_DF_PERMILLE}
        ), hits AS (
            SELECT p.source,
                   CAST(count(DISTINCT p.doc_id) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_hits,
                   CAST(sum(CASE WHEN c.fp IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_boiler_hits
            FROM pairs p LEFT JOIN commodity c USING (fp)
            GROUP BY p.source
        ), dom AS (
            SELECT s.source, CAST(count(*) AS BIGINT) AS n_dominated
            FROM src_df s JOIN commodity c USING (fp)
            WHERE s.df_src * 2 > c.df
            GROUP BY s.source
        )
        SELECT h.source, h.n_docs, h.n_hits, h.n_boiler_hits,
               CAST(round(h.n_boiler_hits * 1.0 / h.n_hits * 10000) AS BIGINT)
                   / 10000.0 AS boiler_frac,
               coalesce(dom.n_dominated, 0) AS n_dominated
        FROM hits h LEFT JOIN dom USING (source)
    """


def q_stream_ttl_evict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION arm of q_stream_dedup_ttl: refresh-on-arrival TTL
    dedup with ACTUAL state eviction via event-time timeout (round-14
    survey worklist — the state.remove() policy the audit twin's docstring
    argues for). Same custom applyInPandasWithState pipeline, but the
    handler registers a timeout at last_arrival + TTL; when the watermark
    passes it with no refresh, the timed-out group's state is REMOVED —
    so state is bounded by the live horizon (fingerprints seen within
    TTL of the watermark), not by the all-time distinct count the audit
    twin deliberately retains.

    The output is the per-document KEEP DECISION only — and that is
    eviction-timing-INVARIANT by construction, which is precisely why
    production can evict: eviction requires watermark > last + TTL, and
    every later arrival t of that fingerprint satisfies t > watermark +
    wm_delay (ascending ingest waves), so its gap t - last > TTL — the
    decision for a missing-state arrival (kept, first-arrival rule) equals
    the decision the batch policy makes for its true gap. Timeout firing
    a wave late (watermark only advances per batch) changes nothing: a
    not-yet-evicted expired entry still fails the gap test. The oracle is
    therefore the batch q_dedup_ttl projection to (doc_id, fp, kept) —
    exact equality, no tolerance for eviction jitter needed. What eviction
    DOES change — state size — shows only in the state metrics of the
    run's progress (REPLAY_PROGRESS), which the semantic test asserts is
    bounded below the all-time distinct-fp count.

    The waves run as ONE availableNow query over pre-written per-wave
    files with maxFilesPerTrigger=1 — three micro-batches in one run, so
    the watermark genuinely advances between waves and timeouts genuinely
    fire mid-stream, at one streaming-query start instead of three (the
    3-query form measured 36.7 s at sf0.1, ~2/3 of it fixed per-start
    cost). The stop/RESTART recovery property is deliberately NOT re-
    proven here — that is the audit twin's job (q_stream_dedup_ttl keeps
    its three checkpointed restarts); the two arms split the evidence.
    The per-wave single-file write is replay-fixture scaffolding
    (production reads a real source whose batches the trigger paces).

    Scale: state is one long per LIVE fingerprint (the horizon-bounded
    index a 100 TB/day ingest actually persists — the audit twin's
    unbounded variant is its telemetry mode); everything else matches
    q_stream_dedup_ttl (fp-keyed shuffle, Arrow-batched groups)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from kitkat_spark.operators.corpus import DEDUP_TTL_DOCS

    # no repartition: the one-run staging writes one filtered scan per wave
    # in one job, so the waves' md5 already runs in parallel (a repartition
    # under each wave's scan measured ~0.25 s slower per call at sf0.1)
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.substring(F.lower(F.regexp_replace("text", r"\s+", " ")), 1, 200)
    )
    # wave bounds from a doc_id-only scan (column-pruned, no md5): the
    # fingerprint projection has a single consumer (the wave staging), so
    # the r14 localCheckpoint pin is no longer needed (r15)
    mn, mx = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    span = int(mx) + 1 - int(mn)
    bounds = [int(mn) + (span * i) // TTL_WAVES for i in range(TTL_WAVES + 1)]

    out_schema = "doc_id long, fp string, kept boolean"

    def evict_fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()  # the eviction: expired entry leaves the store
            return  # no output rows; skip building an empty Arrow frame
        # numpy, not pandas, per group (r15) — same move as the audit
        # twin's ttl_fn: ~0.26 ms/call vs ~1.07 ms for the pandas chain,
        # over ~1,650 serial calls per task per wave. Identical logic:
        # kept = no prior state (first arrival OR evicted entry) or
        # gap > TTL.
        chunks = [p["doc_id"].to_numpy() for p in pdfs]
        ids = chunks[0] if len(chunks) == 1 else np.concatenate(chunks)
        ids = np.sort(ids)
        kept = np.empty(ids.shape, dtype=bool)
        kept[1:] = (ids[1:] - ids[:-1]) > DEDUP_TTL_DOCS
        kept[0] = (not state.exists) or (
            ids[0] - state.get[0]
        ) > DEDUP_TTL_DOCS
        last = int(ids[-1])
        state.update((last,))  # refresh-on-arrival
        state.setTimeoutTimestamp(
            (DOC_TS_BASE_S + (last + DEDUP_TTL_DOCS) * 60) * 1000
        )
        yield pd.DataFrame({"doc_id": ids, "fp": key[0], "kept": kept})

    # ONE run over one file per wave (the harness's one_run staging), so
    # per-key arrival order across waves is the ingest order
    feed = docs.select("doc_id", fp.alias("fp"), _doc_ingest_ts().alias("ts"))
    return run_replay(
        spark,
        sf_dir,
        "q_stream_ttl_evict",
        lambda src: src.withWatermark("ts", f"{DOC_WM_MINUTES} minutes")
        .groupBy("fp")
        .applyInPandasWithState(
            evict_fn,
            out_schema,
            "last_id long",
            "append",
            GroupStateTimeout.EventTimeTimeout,
        ),
        rows=span,
        pandas_state=True,
        waves=[
            feed.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            for lo, hi in zip(bounds, bounds[1:])
        ],
        one_run=True,
    )


# The batch TTL policy projected to the keep decision — the only output a
# state-evicting deployment can (and needs to) reproduce exactly.
ORACLE["q_stream_ttl_evict"] = f"""
        WITH d AS (
            SELECT doc_id,
                   md5(substr(lower(regexp_replace(text, '\\s+', ' ', 'g')),
                       1, 200)) AS fp
            FROM documents
        ), g AS (
            SELECT doc_id, fp,
                   doc_id - lag(doc_id) OVER (PARTITION BY fp ORDER BY doc_id)
                       AS prev_gap
            FROM d
        )
        SELECT doc_id, fp,
               (prev_gap IS NULL OR prev_gap > {_corpus.DEDUP_TTL_DOCS})
                   AS kept
        FROM g
    """


def q_stream_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_token_budget (operators/corpus.py) — the
    UniMax-capped token-budget allocation recomputed at INGEST time
    (round-14 survey worklist; completes the governance-twin symmetry:
    boilerplate, per-source attribution, fertility, mix rebalance, and
    dedup all have ingest-time twins, and the allocation table that
    CONSUMES those signals now does too). Documents arrive on the
    1-doc/min ingest clock; a watermarked 1-hour windowed aggregate keeps
    per-(window, source) token-census sums in the state store; sealed
    windows emit once, and the read-time composition rolls the sealed
    census up per source and solves the SAME closed-form waterfilling
    (integer cross-multiplied capped-prefix test, sqrt-smoothed integer
    weights, one lambda division) over the sealed horizon — the budget a
    mix planner would actually publish while ingest is still running.

    The oracle is the batch q_token_budget SQL restricted to the sealed
    horizon, so the driver hash proves both the window-state arithmetic
    (a census row lost across the (window, source) key diverges) and the
    allocation replay.

    Scale: state is (live windows x sources) rows of two long sums —
    watermark-bounded, corpus-size-free; the allocation runs on the
    config-sized per-source frame exactly as in the batch op."""
    from kitkat_spark.operators.textops import TOKEN_RE

    docs = load_table(spark, sf_dir, "documents")
    feed = docs.select(
        "source",
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
        ).cast("long").alias("t"),
        _doc_ingest_ts().alias("ts"),
    )
    path, n_rows = _replay_info(spark, sf_dir, "budget_feed", lambda: feed)
    stream = (
        spark.readStream.schema(feed.schema)
        .parquet(path)
        .withWatermark("ts", f"{DOC_WM_MINUTES} minutes")
        .groupBy(F.window("ts", "1 hour").alias("wdw"), "source")
        .agg(F.count("*").alias("n_docs_w"), F.sum("t").alias("n_tokens_w"))
        .select(F.col("wdw.end").alias("w_end"), "source", "n_docs_w",
                "n_tokens_w")
    )
    sealed = run_replay(
        spark, sf_dir, "q_stream_token_budget", stream, rows=n_rows
    )
    per = sealed.groupBy("source").agg(
        F.sum("n_docs_w").alias("n_docs"),
        F.sum("n_tokens_w").alias("n_tokens"),
    )
    from kitkat_spark.operators.corpus import unimax_allocate

    return unimax_allocate(per)



# The batch allocation restricted to the sealed horizon (the stream feed
# carries every document, so the horizon derives from the full doc clock).
ORACLE["q_stream_token_budget"] = _corpus._unimax_ctes_sql(f"""
        WITH horizon AS (
            SELECT max(doc_id) - {DOC_WM_MINUTES} AS wm FROM documents
        ), tok AS (
            SELECT source,
                   CAST(len(regexp_extract_all(text,
                       '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS t
            FROM documents, horizon
            WHERE (doc_id // 60 + 1) * 60 <= horizon.wm
        """) + """
        SELECT source, n_docs, n_tokens,
               w / 1000000.0 AS weight,
               CAST(round(budget * 1.0 / wt * w) AS BIGINT) AS naive_tokens,
               cap AS cap_tokens,
               capped,
               alloc_tokens,
               CAST(round(alloc_tokens * 1.0 / n_tokens * 10000) AS BIGINT)
                   / 10000.0 AS epochs
        FROM alloc
    """