"""Temporal / windowed operators (SURVEY.md §2.B, M2).

Batch analogs of the streaming surface so the DuckDB oracle can verify them.
q_stream_tumbling and q_stream_sliding ARE the streaming transforms
(streaming/analytics.py) run over the batch table; the other streaming
versions (watermarks, session_window state) live in kitkat_spark/streaming/.

Scale notes:
- Tumbling/sliding aggregation is a single hash-agg shuffle keyed by
  (bucket, group) — bucket count grows with time range, keeping keys
  well-distributed. In streaming the same aggregation runs incrementally
  against the state store.
- Sliding windows expand each row into duration/slide buckets (4x here)
  BEFORE the shuffle — the expansion is map-side, no extra pass.
- Sessionization batch analog is the gap-and-island pattern: one shuffle on
  user_id, two window passes over the same sort. Streaming equivalent:
  session_window + watermark (state-store backed, RocksDB at scale).
- Timestamps are truncated to seconds at the output edge only (parquet holds
  ns; Spark reads µs — see FIXTURES.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kitkat_spark.functions.numeric import dsum, dsum_sql
from kitkat_spark.sources import load_table
from kitkat_spark.streaming.analytics import sliding_counts, tumbling_counts

SESSION_GAP_MINUTES = 30


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling event counts and value sums per type: the streaming
    transform streaming/analytics.py tumbling_counts, run over the batch
    ``events`` table."""
    return tumbling_counts(load_table(spark, sf_dir, "events"))


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 min (each event lands in 4 buckets):
    streaming/analytics.py sliding_counts over the batch ``events`` table."""
    return sliding_counts(load_table(spark, sf_dir, "events"))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-and-island sessionization (30-min inactivity gap) per user.

    new_session = ts - lag(ts) > gap; session_id = running sum of flags.
    Both window passes share one shuffle+sort on (user_id, ts).
    """
    events = load_table(spark, sf_dir, "events")
    order = [F.col("ts"), F.col("event_id")]
    w = W.partitionBy("user_id").orderBy(*order)
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double"), 1).over(w)
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(gap.isNull() | (gap > SESSION_GAP_MINUTES * 60), 1).otherwise(0).alias("is_new"),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.date_trunc("second", F.min("ts")).alias("session_start"),
        F.round(F.max(F.col("ts").cast("double")) - F.min(F.col("ts").cast("double")), 0).alias(
            "duration_s"
        ),
        dsum("value").alias("sum_value"),
    )


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event sequences: for
    every (prev_type -> next_type) step between CONSECUTIVE events of the
    same user within the session gap, the count and the row-normalized
    transition probability — the behavioral model behind next-event
    prediction and funnel-drop analysis.

    A transition is a lag-1 pair whose inter-event gap is within
    SESSION_GAP_MINUTES — exactly q_sessionize's island criterion, but the
    session id itself is never materialized (the lag test alone decides
    membership, saving the running-sum pass). ONE shuffle: the
    partitionBy(user) sort that produces the lag; the transition
    aggregation's key domain is |event_type|^2 (25 here, bounded in any
    deployment), with map-side combine, and the probability normalization
    is a window over that tiny table. p divides exact counts cast to
    double in the same order in both engines; output is the full matrix,
    deterministic without any tie-break."""
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double"), 1).over(w)
    steps = events.select(
        "user_id",
        "event_type",
        F.lag("event_type", 1).over(w).alias("prev_type"),
        gap.alias("gap_s"),
    ).filter(
        F.col("prev_type").isNotNull()
        & (F.col("gap_s") <= SESSION_GAP_MINUTES * 60)
    )
    trans = steps.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n_trans")
    )
    w_prev = W.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n_trans",
        F.round(
            F.col("n_trans").cast("double")
            / F.sum("n_trans").over(w_prev).cast("double"),
            6,
        ).alias("p"),
    )


def q_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: group-by-content keeping min key. Streaming twin:
    dropDuplicatesWithinWatermark (state-store backed)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_id"),
        F.count("*").alias("n_copies"),
    ).select("keep_id", "n_copies")


def q_event_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type: weekly counts + value totals,
    then lag() for the previous week and the relative growth rate — the
    time-series reporting composition (agg -> navigation window over the
    AGGREGATE, not the raw stream). Two shuffles total, and the window runs
    over weeks x types rows, i.e. thousands even when the raw stream is
    100 TB — aggregate first, window the aggregate."""
    events = load_table(spark, sf_dir, "events")
    weekly = events.groupBy(
        F.date_trunc("week", F.col("ts")).alias("week"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        dsum("value").alias("total_value"),
    )
    w = W.partitionBy("event_type").orderBy("week")
    prev = F.lag("n_events").over(w)
    return weekly.select(
        "week",
        "event_type",
        "n_events",
        "total_value",
        prev.alias("prev_events"),
        F.round((F.col("n_events") - prev) * 1.0 / prev, 4).alias("wow_growth"),
    )


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densify + forward-fill: hourly per-type event counts on a
    gapless hourly grid, empty hours carrying n_events=0 and the last
    observed hour's value total (``filled_value``).

    The resample/gap-fill operator every time-series store ships (Timescale
    ``time_bucket_gapfill``/``locf``, InfluxDB ``fill(previous)``), built
    from Spark primitives in the scale-safe order — AGGREGATE FIRST, DENSIFY
    THE AGGREGATE:

    1. one hash-agg shuffle collapses the raw stream to (hour, type) rows —
       O(buckets x series), thousands even when the stream is 100 TB;
    2. each series' own [min, max] hour span becomes its grid via
       ``sequence() + explode`` — no global calendar cross-join, no rows for
       hours a series never lived through;
    3. the grid left-joins the aggregate on (type, hour) and a per-series
       ordered window forward-fills with ``last(ignorenulls)``.

    Steps 2-3 never touch raw data: their input is the aggregate, so the
    grid join and the fill window cost O(series x buckets) regardless of
    corpus size. The only full-data pass is the initial aggregation.
    """
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
    return gap_fill_hourly(hourly)


def gap_fill_hourly(hourly: DataFrame) -> DataFrame:
    """Densify + forward-fill an (h, event_type, n_events, sum_value)
    hourly aggregate — steps 2-3 of the gap-fill shape, shared verbatim by
    the batch q_gap_fill and the streaming twin (streamparity.py
    q_stream_gap_fill densifies the watermark-sealed windows a streaming
    agg emitted). Input is already an aggregate, so every stage here is
    O(series x buckets) regardless of raw volume."""
    spans = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = spans.select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("window_start"),
    )
    # grid derives from hourly, so rename the agg side's key columns to
    # break self-join lineage ambiguity before the left join
    obs = hourly.select(
        F.col("event_type").alias("o_type"),
        F.col("h").alias("o_h"),
        "n_events",
        "sum_value",
    )
    dense = grid.join(
        obs,
        (grid["event_type"] == obs["o_type"])
        & (grid["window_start"] == obs["o_h"]),
        "left",
    ).select("event_type", "window_start", "n_events", "sum_value")
    w = (
        W.partitionBy("event_type")
        .orderBy("window_start")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return dense.select(
        "window_start",
        "event_type",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        F.col("n_events").isNull().cast("int").alias("is_gap"),
        F.last("sum_value", ignorenulls=True).over(w).alias("filled_value"),
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the most recent order (by order
    date, ties broken by highest order key) of the same customer at-or-before
    the event time.

    Implemented with the UNION-MERGE pattern, not a band join: tag both
    tables, union, window-sort once per key, and propagate the latest order
    attributes with last(ignorenulls) — ONE shuffle on the join key, zero
    pair explosion. A banded theta join would emit |orders-in-range| rows per
    event before picking the max; this emits nothing extra, which is the
    difference between O(rows) and O(rows x band) at 100 TB. Skewed keys
    split fine because the window is per-key and AQE handles partition skew.
    """
    events = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(1).alias("is_event"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
        F.lit(0).alias("is_event"),
    )
    u = events.unionByName(orders)
    # orders sort before events at equal t (<= semantics); among same-date
    # orders the highest orderkey wins (deterministic tie-break)
    w = (
        W.partitionBy("k")
        .orderBy("t", "is_event", F.col("o_orderkey").asc_nulls_last())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = u.withColumn("asof_orderkey", F.last("o_orderkey", ignorenulls=True).over(w))
    return filled.filter(F.col("is_event") == 1).select(
        "event_id", F.col("k").alias("user_id"), "asof_orderkey"
    )


def q_active_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-concurrency sweep line: how many orders are OPEN (placed,
    not yet fully shipped) on each day — the classic active-sessions /
    in-flight-work time series, computed without an interval join.

    The naive formulation joins every interval against every day it spans
    (|intervals| x avg-duration rows) or worse, an interval x interval
    overlap join. The sweep-line shape instead collapses the fact table to
    DAY-DOMAIN DELTAS first: +1 on the open day, -1 the day after the
    close, aggregated per day in ONE map-side-combinable shuffle — then the
    running sum over the ~date-range-sized delta relation is a
    domain-sized window (the q_skyline prefix-relation argument: its size
    is the calendar, not the corpus). Interval construction itself is one
    orderkey join/agg (order placed -> last line shipped).

    Output: one row per calendar day with opens, closes, and the running
    open-order count — integers end to end, so cross-engine exact."""
    li = load_table(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("last_ship")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("open_d")
    )
    iv = o.join(li, o.o_orderkey == li.l_orderkey, "inner")
    deltas = iv.select(
        F.col("open_d").alias("day"),
        F.lit(1).alias("n_opened"),
        F.lit(0).alias("n_closed"),
    ).unionByName(
        iv.select(
            F.date_add("last_ship", 1).alias("day"),
            F.lit(0).alias("n_opened"),
            F.lit(1).alias("n_closed"),
        )
    )
    per_day = deltas.groupBy("day").agg(
        F.sum("n_opened").cast("long").alias("n_opened"),
        F.sum("n_closed").cast("long").alias("n_closed"),
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return per_day.select(
        "day",
        "n_opened",
        "n_closed",
        F.sum(F.col("n_opened") - F.col("n_closed")).over(w).alias("open_orders"),
    )


EWMA_ALPHA = 0.3  # smoothing: s_i = alpha*x_i + (1-alpha)*s_{i-1}


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of event value — the
    standard online smoothing signal (monitoring baselines, per-entity
    activity level). EWMA is an inherently ORDERED left fold, which a
    parallel SUM cannot express; the scalable shape is one shuffle on the
    entity key, an in-group sort, and a codegen'd sequential fold — the
    q_doc_entropy determinism move, so the double accumulation order is
    identical in both engines and the result is bitwise reproducible.

    Scale: per-user event counts are bounded (the fixture's heaviest user
    holds ~1/n_users of the stream); a celebrity entity would cap the
    collected list the way q_ngram_jaccard's DF_CAP bounds hot shingles, or
    switch that key to the streaming twin (flatMapGroupsWithState keeps
    O(1) state per key — no list at all). The collect_list here is
    per-GROUP state, never driver-side."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        dsum("value").alias("sum_value"),
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("s"),
    )
    per = per.withColumn("vals", F.expr("transform(s, p -> p.value)"))
    ewma = F.expr(
        "aggregate(slice(vals, 2, greatest(size(vals) - 1, 0)), vals[0],"
        f" (a, x) -> {EWMA_ALPHA}D * x + {1 - EWMA_ALPHA}D * a)"
    )
    return per.select(
        "user_id",
        "n_events",
        "sum_value",
        F.round(ewma, 4).alias("ewma_value"),
        F.round(F.element_at("vals", -1), 2).alias("last_value"),
    )


SP_N = 3  # path prefix length (first N event types per session)
SP_K = 15  # top paths reported


def session_path() -> F.Column:
    """Aggregate: the session's first SP_N event types in (ts, event_id)
    order, joined with '>' — q_session_paths' path, also
    q_stream_session_paths'."""
    return F.concat_ws(
        ">",
        F.transform(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                1,
                SP_N,
            ),
            lambda s: s["event_type"],
        ),
    )


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K session paths — sequence mining next to q_markov_transitions'
    per-step matrix: the most common FIRST-SP_N event-type sequences across
    sessions ("what do users do first?"), the funnel-discovery query behind
    onboarding and UX analysis.

    Sessions are q_sessionize's gap islands (same two windows sharing one
    (user, ts) shuffle). The per-session path is built ARRAY-NATIVE:
    collect the session's (ts, event_id, type) structs, array_sort (total
    order — collect_list alone is layout-dependent), slice SP_N, join with
    '>'. The session groupBy adds NO exchange: hash-partitioning on
    user_id already clusters (user_id, session_id). Session arrays are
    human-session-sized; a production run would cap collect size the way
    LSH_MAX_BUCKET caps buckets. Path counting runs on the
    |event_type|^SP_N-bounded path table; top-K is a TakeOrderedAndProject
    (per-partition heap), never a global sort."""
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double"), 1).over(w)
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(gap.isNull() | (gap > SESSION_GAP_MINUTES * 60), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    paths = sess.groupBy("user_id", "session_id").agg(session_path().alias("path"))
    counts = paths.groupBy("path").agg(F.count("*").alias("n_sessions"))
    top = counts.orderBy(F.col("n_sessions").desc(), "path").limit(SP_K)
    w_rank = W.orderBy(F.col("n_sessions").desc(), "path")
    return top.select(
        F.row_number().over(w_rank).cast("int").alias("rk"), "path", "n_sessions"
    )


# The session rule: the new-session flag (first event, or a gap over
# SESSION_GAP_MINUTES) closing ``flagged``'s select list, and the running
# session number per user in ``sessions``.
_SESSIONS_SQL = f"""CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_MINUTES * 60}
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessions AS (
            SELECT *, sum(is_new) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM flagged
        )"""

# Per-event-type hour grid between its first and last ``hourly`` row, each
# cell's counts (zero for a gap) and the last observed sum carried forward —
# also q_stream_gap_fill's, over the sealed hours.
GAP_FILL_GRID_SQL = """spans AS (
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
          ON h.event_type = g.event_type AND h.h = g.window_start"""


ORACLE: dict[str, str] = {
    "q_session_paths": f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id, event_type,
                   {_SESSIONS_SQL}, ranked AS (
            SELECT user_id, session_id, event_type, ts, event_id,
                   row_number() OVER (
                       PARTITION BY user_id, session_id ORDER BY ts, event_id
                   ) AS rn
            FROM sessions
        ), paths AS (
            SELECT user_id, session_id,
                   string_agg(event_type, '>' ORDER BY ts, event_id) AS path
            FROM ranked WHERE rn <= {SP_N}
            GROUP BY 1, 2
        ), counts AS (
            SELECT path, count(*) AS n_sessions FROM paths GROUP BY 1
        ), top AS (
            SELECT * FROM counts ORDER BY n_sessions DESC, path LIMIT {SP_K}
        )
        SELECT CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS INT)
                   AS rk,
               path, n_sessions
        FROM top
    """,
    "q_active_intervals": """
        WITH iv AS (
            SELECT o.o_orderkey,
                   CAST(o.o_orderdate AS DATE) AS open_d,
                   max(CAST(l.l_shipdate AS DATE)) AS last_ship
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)
        ), deltas AS (
            SELECT open_d AS day, 1 AS n_opened, 0 AS n_closed FROM iv
            UNION ALL
            SELECT last_ship + 1 AS day, 0 AS n_opened, 1 AS n_closed
            FROM iv
        ), per_day AS (
            SELECT day,
                   CAST(sum(n_opened) AS BIGINT) AS n_opened,
                   CAST(sum(n_closed) AS BIGINT) AS n_closed
            FROM deltas GROUP BY day
        )
        SELECT day, n_opened, n_closed,
               CAST(sum(n_opened - n_closed) OVER (
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS open_orders
        FROM per_day
    """,
    "q_ewma": f"""
        WITH per AS (
            SELECT user_id, count(*) AS n_events,
                   {dsum_sql('value')} AS sum_value,
                   list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
            FROM events GROUP BY user_id
        )
        SELECT user_id, n_events, sum_value,
               round(list_reduce(vals,
                     (a, x) -> {EWMA_ALPHA}::DOUBLE * x
                               + {1 - EWMA_ALPHA}::DOUBLE * a), 4)
                   AS ewma_value,
               round(vals[-1], 2) AS last_value
        FROM per
    """,
    "q_asof_join": """
        SELECT e.event_id, e.user_id,
               (SELECT o.o_orderkey FROM orders o
                WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1)
                   AS asof_orderkey
        FROM events e
    """,
    "q_stream_tumbling": """
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type,
               count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "q_stream_sliding": """
        SELECT CAST(time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE AS TIMESTAMP)
                   AS window_start,
               event_type,
               count(*) AS n_events
        FROM events, (SELECT unnest(generate_series(0, 3)) AS k)
        GROUP BY 1, 2
    """,
    "q_sessionize": f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id, value,
                   {_SESSIONS_SQL}
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               count(*) AS n_events,
               CAST(date_trunc('second', min(ts)) AS TIMESTAMP) AS session_start,
               round(epoch(max(ts)) - epoch(min(ts)), 0) AS duration_s,
               CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
        FROM sessions
        GROUP BY user_id, session_id
    """,
    "q_dedup": """
        SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents
        GROUP BY text
    """,
    # Same lag-1 / gap criterion as q_sessionize's island test; the sum()
    # window over BIGINT counts is exact, the division double both sides.
    "q_markov_transitions": f"""
        WITH steps AS (
            SELECT event_type AS next_type,
                   lag(event_type) OVER w AS prev_type,
                   epoch(ts) - epoch(lag(ts) OVER w) AS gap_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), trans AS (
            SELECT prev_type, next_type, count(*) AS n_trans
            FROM steps
            WHERE prev_type IS NOT NULL AND gap_s <= {SESSION_GAP_MINUTES * 60}
            GROUP BY 1, 2
        )
        SELECT prev_type, next_type, n_trans,
               round(CAST(n_trans AS DOUBLE) / CAST(
                   sum(n_trans) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p
        FROM trans
    """,
    "q_gap_fill": f"""
        WITH hourly AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type,
                   count(*) AS n_events,
                   CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
                       AS sum_value
            FROM events GROUP BY 1, 2
        ), {GAP_FILL_GRID_SQL}
    """,
    "q_event_growth": """
        WITH weekly AS (
            SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
                   event_type,
                   count(*) AS n_events,
                   CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
            FROM events GROUP BY 1, 2
        )
        SELECT week, event_type, n_events, total_value,
               lag(n_events) OVER w AS prev_events,
               round((n_events - lag(n_events) OVER w) * 1.0
                     / lag(n_events) OVER w, 4) AS wow_growth
        FROM weekly
        WINDOW w AS (PARTITION BY event_type ORDER BY week)
    """,
}
