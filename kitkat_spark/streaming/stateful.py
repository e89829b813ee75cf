"""Custom stateful streaming operator via applyInPandasWithState.

Spark's built-in stateful ops (windowed agg, session_window, streaming
dedup) cover the declarative cases; this module shows the escape hatch for
semantics they can't express: a per-user RUNNING PROFILE that emits an
updated row per micro-batch — cumulative event count, value sum, and the
longest gap ever observed between consecutive events (gap tracking needs
the previous event's timestamp carried across batches: genuinely custom
state).

State contract (100 TB discipline):
- state per key is FIXED SIZE (4 scalars) — no per-event growth, so key
  cardinality alone bounds the store; 1e8 users ~= a few GB across the
  cluster, RocksDB-backed if heap-shy.
- GroupStateTimeout.ProcessingTimeTimeout can expire idle keys: given
  ``idle_timeout_ms``, an inactive user's state is dropped after that long,
  the streaming analog of watermark eviction. The default is no timeout, so
  state lives as long as the query.
- output is per-batch incremental (Update mode), so the sink sees a compact
  changelog, not a re-emission of all keys.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("max_gap_s", T.DoubleType()),
    ]
)

OUTPUT_SCHEMA = (
    "user_id long, n_events long, sum_value double, max_gap_s double"
)

def _make_update_profile(idle_timeout_ms: int | None):
    def update_profile(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        n, total, last_us, max_gap = (
            state.get if state.exists else (0, 0.0, None, 0.0)
        )
        for pdf in pdfs:
            pdf = pdf.sort_values("ts")
            ts_us = (pdf["ts"].astype("int64") // 1000).tolist()  # ns -> us
            for t in ts_us:
                if last_us is not None:
                    max_gap = max(max_gap, (t - last_us) / 1e6)
                last_us = t
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total, last_us, max_gap))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        # half-away-from-zero rounding, NOT Python's round() (banker's):
        # the batch twin uses Spark F.round (HALF_UP) and the oracle DuckDB
        # round (half-away) — an exactly-representable tie like a 0.25 s
        # max gap would diverge under half-even (0.2 vs 0.3)
        def _round_half_up(x: float, digits: int) -> float:
            import math

            scale = 10**digits
            return math.floor(x * scale + 0.5) / scale

        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [_round_half_up(total, 2)],
                "max_gap_s": [_round_half_up(max_gap, 1)],
            }
        )

    return update_profile


def user_profiles(events: DataFrame, idle_timeout_ms: int | None = None) -> DataFrame:
    """Per-user running profile; works on a streaming events DataFrame
    (update output mode) and on a batch one (degenerate single 'batch').

    ``idle_timeout_ms`` enables processing-time state eviction for
    long-running production tails (e.g. 30 * 60 * 1000 drops users idle
    for 30 min). Leave None for drain-and-stop (availableNow) runs: with a
    timeout configured, the micro-batch engine keeps scheduling
    timeout-check batches after the source is exhausted, so the query
    never terminates on its own.
    """
    if events.isStreaming:
        timeout = (
            GroupStateTimeout.NoTimeout
            if idle_timeout_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        )
        return (
            events.select("user_id", "ts", "value")
            .groupBy("user_id")
            .applyInPandasWithState(
                _make_update_profile(idle_timeout_ms),
                outputStructType=OUTPUT_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="update",
                timeoutConf=timeout,
            )
        )
    # batch analog (oracle-checkable): same semantics in one pass
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    w = W.partitionBy("user_id").orderBy("ts")
    gaps = events.withColumn(
        "gap_s",
        (F.col("ts").cast("double") - F.lag("ts").over(w).cast("double")),
    )
    return gaps.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.coalesce(F.max("gap_s"), F.lit(0.0)), 1).alias("max_gap_s"),
    )


# ---------------------------------------------------------------------------
# Streaming EWMA: O(1) state per key where the batch twin (operators/
# temporal.py q_ewma) collects and folds the group's full event list —
# the reason EWMA belongs in the stateful-streaming escape hatch at scale:
# the smoothed value is itself the sufficient statistic.

EWMA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

EWMA_OUTPUT_SCHEMA = "user_id long, n_events long, ewma_value double"


def _make_update_ewma(alpha: float):
    one_m = 1.0 - alpha

    def update_ewma(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, s = state.get if state.exists else (0, None)
        for pdf in pdfs:
            # event-time order within the batch (replay = one availableNow
            # batch, so this IS the group's global order; across live
            # batches the operator smooths in arrival order — the online
            # semantics)
            pdf = pdf.sort_values(["ts", "event_id"])
            for x in pdf["value"].tolist():
                # identical IEEE ops to the batch fold's a*x + (1-a)*s
                s = float(x) if s is None else alpha * float(x) + one_m * s
            n += len(pdf)
        state.update((n, s))

        def _round_half_up(x: float, digits: int) -> float:
            import math

            scale = 10**digits
            return math.floor(x * scale + 0.5) / scale

        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "ewma_value": [_round_half_up(s, 4)],
            }
        )

    return update_ewma


def user_ewma(events: DataFrame, alpha: float) -> DataFrame:
    """Per-user streaming EWMA of ``value`` (update mode): state is two
    scalars per key regardless of event count — contrast the batch fold,
    which materializes the group's value list. Streaming input only; the
    batch twin is operators/temporal.py q_ewma."""
    if not events.isStreaming:
        raise ValueError("user_ewma is the streaming path; use q_ewma in batch")
    return (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_update_ewma(alpha),
            outputStructType=EWMA_OUTPUT_SCHEMA,
            stateStructType=EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
