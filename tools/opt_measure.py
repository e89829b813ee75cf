#!/usr/bin/env python
"""Optimization measurement harness (guide §1), for the round in ``ROUND``.

For each named query: time `.count()` (the bench's timed action, kept for
round-over-round comparability) and the noop sink (guide §1.4 — computes
every column, isolates computation from sink/driver transfer), N runs each,
and optionally dump `.explain("formatted")` to plans/<ROUND>/<query>_<tag>.txt.

Usage:
  python tools/opt_measure.py q_a q_b ...            # time only
  python tools/opt_measure.py --plans before q_a ... # also write plan files
  python tools/opt_measure.py --runs 3 q_a
  python tools/opt_measure.py --all-slow 1.0         # everything >= 1.0 s in
                                                     # the ROUND pool fold
Writes one JSON line per query to stdout and appends to
/tmp/opt_measure_log.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import pandas as pd  # noqa: F401 — resolves UDF type hints under PEP 563

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kitkat_spark.caches import release_caches  # noqa: E402
from kitkat_spark.operators.replay import REPLAY_ROOT  # noqa: E402
from kitkat_spark.plans.explain import explain_str  # noqa: E402
from kitkat_spark.queries import QUERIES  # noqa: E402
from kitkat_spark.session import get_spark  # noqa: E402
from perfbench.run import calibrate_cpu  # noqa: E402

# the round whose pool fold --all-slow reads and whose plans/ dir --plans writes
ROUND = "r15"


def pool_fold(repo: str) -> dict[str, float]:
    import glob

    runs = []
    for f in [os.path.join(repo, f"BENCH_LOCAL_{ROUND}.json")] + sorted(
        glob.glob(os.path.join(repo, "bench_runs", f"BENCH_LOCAL_{ROUND}_*.json"))
    ):
        try:
            runs.append(json.load(open(f)))
        except (OSError, ValueError):
            continue
    best: dict[str, float] = {}
    for d in runs:
        for q, t in (d.get("queries") or {}).items():
            best[q] = min(best.get(q, float("inf")), t)
    return best


def _calibrate_fsync(n: int = 50) -> float:
    """Timed small-write+fsync loop in the replay scratch root (ADVICE r14):
    streaming-lane wall time is dominated by checkpoint/commit fsyncs, which
    the CPU/Spark calibrations do not capture. Returns seconds (best of 3)."""
    import tempfile
    import time as _t

    os.makedirs(REPLAY_ROOT, exist_ok=True)
    best = float("inf")
    for _ in range(3):
        t0 = _t.perf_counter()
        with tempfile.NamedTemporaryFile(dir=REPLAY_ROOT, delete=True) as fh:
            for i in range(n):
                fh.write(b"x" * 4096)
                fh.flush()
                os.fsync(fh.fileno())
        best = min(best, _t.perf_counter() - t0)
    return round(best, 4)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--plans", default=None, help=f"tag: write plans/{ROUND}/<q>_<tag>.txt")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--noop", action="store_true", help="also time the noop sink")
    ap.add_argument("--all-slow", type=float, default=None)
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names = list(args.queries)
    if args.all_slow is not None:
        fold = pool_fold(repo)
        names += [
            q
            for q, t in sorted(fold.items(), key=lambda kv: -kv[1])
            if t >= args.all_slow and q in QUERIES and q not in names
        ]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="opt_measure")
    # same warmup discipline as bench.py
    QUERIES["q_scan_filter"](spark, sf_dir).count()

    # window validation (r15): calib_cpu/calib_spark per bench.py, plus a
    # disk-fsync probe (ADVICE r14: calib_spark does not capture the
    # checkpoint-fsync I/O that dominates the streaming lane)
    import bench as _bench

    calib = {
        "calib_cpu_s": round(calibrate_cpu(), 4),
        "calib_spark_s": _bench._calibrate_spark(spark),
        "calib_fsync_s": _calibrate_fsync(),
    }
    print(json.dumps({"window": calib}), flush=True)

    plan_dir = os.path.join(repo, "plans", ROUND)
    os.makedirs(plan_dir, exist_ok=True)
    log = open("/tmp/opt_measure_log.jsonl", "a")
    for name in names:
        rec: dict = {"q": name, "sf_dir": sf_dir, "runs": []}
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"opt:{name}:count")
            t0 = time.time()
            QUERIES[name](spark, sf_dir).count()
            rec["runs"].append(round(time.time() - t0, 3))
            release_caches(spark)
        rec["count_best"] = min(rec["runs"])
        if args.noop:
            noop_runs = []
            for _ in range(args.runs):
                spark.sparkContext.setJobDescription(f"opt:{name}:noop")
                t0 = time.time()
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                noop_runs.append(round(time.time() - t0, 3))
                release_caches(spark)
            rec["noop_runs"] = noop_runs
            rec["noop_best"] = min(noop_runs)
        spark.sparkContext.setJobDescription(None)
        if args.plans:
            df = QUERIES[name](spark, sf_dir)
            with open(
                os.path.join(plan_dir, f"{name}_{args.plans}.txt"), "w"
            ) as fh:
                fh.write(explain_str(df, "formatted"))
            release_caches(spark)
        line = json.dumps(rec, separators=(",", ":"))
        print(line, flush=True)
        log.write(line + "\n")
        log.flush()


if __name__ == "__main__":
    main()
