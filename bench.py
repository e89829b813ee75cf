#!/usr/bin/env python
"""Registry benchmark: times registry queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

    python bench.py                  # every query in HEADLINE
    python bench.py q_a q_b ...      # just these

Prints one ``# q_name = 1.234 s`` line per query, then ONE compact JSON
object as the last stdout line: {"metric", "value": total_sec, "unit",
"queries": slowest 10, "sf", "n_queries", "lanes", "throttled",
"cpu_steal_share", "conf"}. It writes no file. ``throttled`` follows
perfbench's rule: the CPU calibrations at start and end more than 1.25x
apart in either direction (the CPU got more than 25% slower OR faster
during the run), a 1-min loadavg above nproc at start, or more than 5% CPU
steal.

We report wall seconds per query (count() to force full execution without
driver-side result transfer dominating).
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # noqa: F401 — resolves UDF type hints under PEP 563
from pyspark.sql.streaming import StreamingQueryListener

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kitkat_spark.caches import release_caches  # noqa: E402
from kitkat_spark.queries import QUERIES  # noqa: E402
from kitkat_spark.session import get_spark  # noqa: E402
from perfbench.run import _warm_jvm, calibrate_cpu, cpu_times  # noqa: E402

# Headline set: every registry query, in registry order, except q_cc_chain —
# its wall time is per-round scheduler overhead on a deep path graph, not data.
HEADLINE = [n for n in QUERIES if n != "q_cc_chain"]


class _StreamStarts(StreamingQueryListener):
    """Counts Structured Streaming query starts in the session: a query
    whose timed call starts one is in the streaming lane, which gets its
    own sub-total. Each of its micro-batches also writes offset, commit and
    state-store files to its checkpoint, a per-batch cost the batch lane
    does not pay. The count is synchronous: onQueryStarted fires inside
    start()."""

    n = 0

    def onQueryStarted(self, event):
        self.n += 1

    def onQueryProgress(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def main(names: list[str]) -> int:
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {', '.join(unknown)}", file=sys.stderr)
        return 2
    load0 = os.getloadavg()
    calib_cpu = [calibrate_cpu()]
    steal0, total0 = cpu_times()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="kitkat_spark_bench")

    # warm the JVM + parquet footers once so per-query numbers measure the
    # query, not session startup
    QUERIES["q_scan_filter"](spark, sf_dir).count()
    _warm_python_workers(spark)
    # the JVM/container floor every trivial query also pays: best of 3
    # runs of perfbench's one-shuffle warm-up plan (the first compiles it)
    spark_runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        _warm_jvm(spark)
        spark_runs.append(time.perf_counter() - t0)

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
        for name in names:
            n0 = starts.n
            t0 = time.time()
            QUERIES[name](spark, sf_dir).count()
            dt = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)
            if starts.n > n0:
                streaming.add(name)
            # each timing is isolated: later queries must not pay earlier
            # queries' persisted blocks as executor-memory pressure
            release_caches(spark)
    # detach before the session stops: a live listener's callbacks would
    # hit a closed py4j gateway at exit
    spark.streams.removeListener(starts)

    # the same best-of-3 as at the start: a single run against a best of 3
    # alone can read as >25% drift
    calib_cpu.append(calibrate_cpu())
    steal1, total1 = cpu_times()
    steal_share = (steal1 - steal0) / max(1, total1 - total0)
    # perfbench/run.py's rule: the CPU speed drifted more than 25% either
    # way during the run (slowest calibration over fastest, so a faster end
    # fires too), the machine was oversubscribed when it started, or the
    # hypervisor took more than 5% of its CPU time during the run
    throttled = (
        max(calib_cpu) > 1.25 * min(calib_cpu)
        or load0[0] > (os.cpu_count() or 1)
        or steal_share > 0.05
    )

    for name, s in timings.items():
        print(f"# {name} = {s:.3f} s")
    # the driver keeps only a ~2000-char stdout tail: the JSON line carries
    # the slowest 10 queries; the full map is the comment lines above
    slowest = dict(sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10])
    out = {
        "metric": "headline_query_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": slowest,
        "sf": float(sf),
        "n_queries": len(timings),
        # checkpoint-I/O-bound streaming lane vs compute-bound batch lane
        "lanes": {
            "batch": round(sum(s for q, s in timings.items() if q not in streaming), 3),
            "streaming": round(sum(s for q, s in timings.items() if q in streaming), 3),
        },
        "throttled": throttled,
        "cpu_steal_share": round(steal_share, 4),
        "conf": {
            "master": spark.sparkContext.master,
            "runs_per_query": 2,
            "report": "min",
            "calib_cpu_s": round(calib_cpu[0], 4),
            "calib_cpu_s_end": round(calib_cpu[1], 4),
            "calib_spark_s": round(min(spark_runs), 4),
            "loadavg_start": [round(x, 2) for x in load0],
        },
    }
    print(json.dumps(out, separators=(",", ":")), flush=True)
    return 0


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


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or HEADLINE))
