#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Per BASELINE.md the reference publishes no numbers; the engine target is
"within 2x of baseline at the same sf" where baseline is the driver's
recorded envelope. We report wall seconds per query (count() to force full
execution without driver-side result transfer dominating).
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # noqa: F401 — resolves UDF type hints under PEP 563
from pyspark.sql.streaming import StreamingQueryListener

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kitkat_spark.queries import QUERIES  # noqa: E402
from kitkat_spark.session import get_spark  # noqa: E402
from perfbench.run import calibrate_cpu  # noqa: E402

_LOAD0 = (0.0, 0.0, 0.0)

# Headline set: every registry query, in registry order, except q_cc_chain —
# its wall time is per-round scheduler overhead on a deep path graph, not data.
HEADLINE = [n for n in QUERIES if n != "q_cc_chain"]


IDLE_LOAD_1M = 1.0  # 1-min loadavg below this counts as an idle machine
IDLE_LOAD_5M = 2.5  # ...AND the 5-min average must have decayed too
IDLE_WAIT_MAX_S = 180  # bounded wait — never stall the driver's round


def _wait_for_idle() -> int:
    """Idle gate (round-9 verdict #6): a contended machine scatters the
    headline total 8-27% run-to-run, so wait (bounded) for the loadavg to
    drop before starting the JVM. Both horizons are gated: the round-10
    protocol runs showed a 1-min < 1 start with a 5-min of 5 (load still
    DECAYING from a prior run) reading +11% vs settled runs that agreed
    within 3.8%. Returns the seconds waited; set
    SPARK_GRAFT_NO_IDLE_WAIT=1 to skip."""
    if os.environ.get("SPARK_GRAFT_NO_IDLE_WAIT"):
        return 0
    waited = 0
    while waited < IDLE_WAIT_MAX_S:
        l1, l5, _ = os.getloadavg()
        if l1 < IDLE_LOAD_1M and l5 < IDLE_LOAD_5M:
            break
        time.sleep(5)
        waited += 5
    return waited


def _calibrate_spark(spark) -> float:
    """Fixed tiny-Spark plan (same verdict item): one shuffle over
    spark.range — times scheduler + shuffle machinery at a size where data
    volume is irrelevant, i.e. the JVM/container floor every trivial
    registry query also pays. Returns seconds (best of 3, after one warm)."""
    from pyspark.sql import functions as F

    def run() -> float:
        t0 = time.perf_counter()
        (
            spark.range(100_000, numPartitions=8)
            .groupBy((F.col("id") % 97).alias("k"))
            .count()
            .count()
        )
        return time.perf_counter() - t0

    run()  # warm (codegen for this exact plan)
    return round(min(run() for _ in range(3)), 4)


def _code_stamp() -> str:
    """Hash of the ENGINE source (kitkat_spark/**/*.py + __spark_entry__.py):
    the pool fold below only mins per-query timings across runs carrying the
    SAME stamp, so a run recorded before a semantics/caching fix can never
    deflate the protocol number (the round-13 failure that needed manual pool
    invalidation twice — commits a69c130, eb7d8e8). Docs/bench-harness edits
    deliberately do not invalidate: timings stay comparable across them."""
    import glob as _glob
    import hashlib

    here = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha256()
    files = sorted(
        _glob.glob(os.path.join(here, "kitkat_spark", "**", "*.py"), recursive=True)
    ) + [os.path.join(here, "__spark_entry__.py")]
    for f in files:
        h.update(os.path.relpath(f, here).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


class _StreamStarts(StreamingQueryListener):
    """Counts Structured Streaming query starts in the session: a query
    whose timed call starts one is in the streaming lane. Its wall time is
    dominated by state-store/checkpoint I/O (delta files, commit fsyncs),
    which scatters run-to-run far more than compute-bound plans — the lane
    gets its own sub-total so cross-round raw ratios aren't hostage to it.
    The count is synchronous: onQueryStarted fires inside start()."""

    n = 0

    def onQueryStarted(self, event):
        self.n += 1

    def onQueryProgress(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def main() -> None:
    global _LOAD0
    idle_waited = _wait_for_idle()
    _LOAD0 = os.getloadavg()
    calib_cpu_s = round(calibrate_cpu(), 4)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="kitkat_spark_bench")

    # warm the JVM + parquet footers once so per-query numbers measure the
    # query, not session startup
    QUERIES["q_scan_filter"](spark, sf_dir).count()
    _warm_python_workers(spark)
    calib_spark_s = _calibrate_spark(spark)

    # Two timed passes per query, report the min: pass 1 pays one-time
    # Janino codegen compilation of each plan (3-5 s for the big
    # shingle/token expression trees — a per-plan JVM constant, irrelevant
    # at any real data scale); pass 2 is the steady-state execution cost
    # that actually scales with the data.
    timings: dict[str, float] = {}
    streaming: set[str] = set()
    starts = _StreamStarts()
    spark.streams.addListener(starts)
    for _pass in range(2):
        for name in HEADLINE:
            n0 = starts.n
            t0 = time.time()
            QUERIES[name](spark, sf_dir).count()
            dt = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)
            if starts.n > n0:
                streaming.add(name)
            _drop_persisted(spark)
    # detach before the session stops: a live listener's callbacks would
    # hit a closed py4j gateway at exit
    spark.streams.removeListener(starts)

    code_stamp = _code_stamp()
    out = {
        "metric": "headline_query_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "code_stamp": code_stamp,
        "conf": {
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
            "runs_per_query": 2,
            "report": "min (steady-state; first run pays per-plan codegen compile)",
            # machine-load context: single-run totals scatter +-8-15% with
            # background load (round-8 adjudication); loadavg at start/end
            # lets a reader judge whether THIS run was contended
            "loadavg_start": [round(x, 2) for x in _LOAD0],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "idle_waited_s": idle_waited,
            # cross-round calibration (round-11 verdict #4): divide query
            # walls by these to normalize out container speed drift
            "calib_cpu_s": calib_cpu_s,
            "calib_spark_s": calib_spark_s,
        },
    }
    # The driver stores only a 2000-char tail of stdout, which truncates the
    # per-query head (lost for r2/r4). Persist the full JSON in-repo too,
    # named for the upcoming round (= latest driver BENCH_r{N} + 1).
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for f in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", f))
    ]
    stem = f"BENCH_LOCAL_r{max(rounds, default=0) + 1:02d}"
    local = None
    try:
        # never clobber an existing run: every run is preserved side by
        # side (overwriting is what muddied the round-6 numbers). The FIRST
        # run of a round lives at repo root; the rest of the round's pool
        # goes under bench_runs/ (round-11 verdict #7 — root holds <=1
        # BENCH_LOCAL per round).
        local = os.path.join(here, f"{stem}.json")
        if os.path.exists(local):
            pool = os.path.join(here, "bench_runs")
            os.makedirs(pool, exist_ok=True)
            n = 2
            local = os.path.join(pool, f"{stem}_{n}.json")
            while os.path.exists(local):
                n += 1
                local = os.path.join(pool, f"{stem}_{n}.json")
        with open(local, "w") as fh:
            json.dump(out, fh, indent=1)
    except OSError:
        local = None  # read-only checkout: stdout line below is the contract

    # Pool best-of (round-12 verdict #2): the protocol number is the
    # per-query best over ALL of this round's archived runs, but the driver
    # snapshots ONE run's stdout — r12's snapshot happened to catch the
    # worst of 14 pool runs (218.9 s vs the true 160.5 s best-of), which
    # reads as a 25% regression to anyone not opening bench_runs/. Fold the
    # round's pool (root BENCH_LOCAL + bench_runs/, same sf only) into the
    # parsed line so the protocol number rides every snapshot.
    pool_best: dict[str, float] = dict(timings)
    pool_runs = 1
    try:
        candidates = [os.path.join(here, f"{stem}.json")] + sorted(
            glob.glob(os.path.join(here, "bench_runs", f"{stem}_*.json"))
        )
        for f in candidates:
            if local and os.path.abspath(f) == os.path.abspath(local):
                continue  # this run, already seeded
            try:
                doc = json.load(open(f))
            except (OSError, ValueError):
                continue
            if doc.get("sf") != out["sf"]:
                continue  # never mix pools across scale factors
            if doc.get("code_stamp") != code_stamp:
                # provenance gate: a run produced by DIFFERENT engine code
                # (pre-fix semantics, removed caches) must not feed the
                # fold — replaces the manual pool invalidation of r13
                continue
            pool_runs += 1
            for q, s in (doc.get("queries") or {}).items():
                # fold ONLY the current run's query universe: a query
                # removed from HEADLINE mid-round must not keep feeding a
                # stale timing into the protocol number
                if q in pool_best:
                    pool_best[q] = min(pool_best[q], s)
    except Exception:
        pool_best, pool_runs = dict(timings), 1  # degraded: this run only

    # Driver-parseable stdout (round-11 verdict #2): eleven rounds of
    # BENCH_r{N}.json carried "parsed": null because the full 200+-entry
    # per-query map overflows the driver's ~2000-char stdout capture. Print
    # a COMPACT object — same schema, but "queries" holds only the slowest
    # 10 — and leave the complete map in the BENCH_LOCAL file written above.
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )

    def _lane_totals(m: dict[str, float]) -> dict[str, float]:
        return {
            "batch": round(
                sum(s for q, s in m.items() if q not in streaming), 3
            ),
            "streaming": round(sum(s for q, s in m.items() if q in streaming), 3),
        }

    compact = {
        "metric": out["metric"],
        # headline = the PROTOCOL number: per-query best over the round's
        # stamp-matched run pool (round-13 verdict #7 — a single run's wall
        # on a possibly-noisy box is demoted to single_run_value below)
        "value": round(sum(pool_best.values()), 3),
        "unit": "sec",
        "queries": slowest,
        "sf": out["sf"],
        "n_queries": len(timings),
        "full_map": os.path.relpath(local, here) if local else None,
        "single_run_value": out["value"],
        "code_stamp": code_stamp,
        "pool": {
            "runs": pool_runs,
            "best_value": round(sum(pool_best.values()), 3),
            "n_queries": len(pool_best),
            # checkpoint-I/O-bound streaming lane vs compute-bound batch
            # lane: compare rounds lane-by-lane — streaming variance must
            # not dominate the cross-round raw ratio
            "lanes": _lane_totals(pool_best),
            "lanes_single_run": _lane_totals(timings),
        },
        "conf": {
            "runs_per_query": 2,
            "report": "min",
            "idle_waited_s": idle_waited,
            "calib_cpu_s": calib_cpu_s,
            "calib_spark_s": calib_spark_s,
            "loadavg_start": out["conf"]["loadavg_start"],
        },
    }
    print(json.dumps(compact, separators=(",", ":")))


def _warm_python_workers(spark) -> None:
    """Fork the Python UDF worker pool (plain + Arrow paths) before timing:
    the first UDF query in a session otherwise pays ~4 s of per-core
    interpreter forks that belong to the session, not the query."""
    from pyspark.sql import functions as F, types as T

    n = spark.sparkContext.defaultParallelism

    @F.udf(T.LongType())
    def _ident(x):
        return x

    @F.pandas_udf(T.LongType())
    def _pident(s: pd.Series) -> pd.Series:
        return s

    df = spark.range(n * 4, numPartitions=n)
    df.select(_ident("id")).count()
    df.select(_pident("id")).count()


def _drop_persisted(spark) -> None:
    """Release persisted/localCheckpoint'ed blocks a query left behind
    (q_near_dedup's signature table, connected_components' per-round
    checkpoints) so each headline timing is isolated — otherwise later
    queries pay earlier queries' executor-memory pressure."""
    from kitkat_spark.caches import release_caches

    release_caches(spark)


if __name__ == "__main__":
    main()
