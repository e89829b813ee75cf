#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload consume_drain --seed 1 --seconds 12 --trace 0

Run from the repository root. It generates the workload's inputs from the
seed (cached on disk per seed), sets the program up several times, measures
for ``--seconds``, checks the outputs, and prints one JSON object as the
last line of stdout: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics of a traced run. Each run writes its full result (with the
environment stamp) and, traced, its spans under ``.perfbench_work/results/``. See
``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_ROUNDS = 5
SPARK_DRIVER_MEM = "2g"


def task_slots() -> int:
    """Spark's task slots: half the CPUs. A task through an Arrow Python UDF
    keeps two processes busy, the JVM task thread and its Python worker, so
    nproc/2 slots fill the CPUs; local[nproc] oversubscribed them (on 4
    vCPUs, a drain took 2.17 s against 1.70 s at local[2], and the tail's
    p50 was 1.7-1.8 s against 1.14 s)."""
    return max(1, (os.cpu_count() or 1) // 2)


def calibrate_cpu(repeat: int = 3) -> float:
    """bench.py's fixed single-core arithmetic loop (best of ``repeat``,
    seconds), so a slow or throttled machine shows in every result."""
    best = float("inf")
    for _ in range(repeat):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc = (acc * 1103515245 + i) & 0x7FFFFFFF
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the machine so far, from /proc/stat:
    steal is time the hypervisor gave this machine's CPUs to others."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process's descendants (the JVM and its
    Python workers), sampled every 0.2 s while running."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(0.2):
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in _descendants(me)))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


class Ctx:
    """One benchmark run: paths, the current Spark session, and the span
    recorder. Sessions are (re)built only through :meth:`session`."""

    def __init__(self, args, run_dir: str):
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.nproc = os.cpu_count() or 1
        self.cores = task_slots()
        self.run_dir = run_dir
        self.inputs = os.path.join(WORK, "inputs")
        self.spark = None
        self.setup_rounds: list[float] = []
        from perfbench.trace import Spans

        self.spans = Spans(False, lambda: self.spark.sparkContext if self.spark else None)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.run_dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def session(self, traced: bool = False):
        """Stops the current session and starts a fresh one (same JVM)."""
        from kitkat_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.run_dir, 'tmp')} -XX:-UsePerfData",
        }
        if traced:
            log_dir = self.path("eventlog", "")
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cores}]", extra_conf=conf
        )
        self.spans.enabled = traced
        return self.spark

    def event_log(self) -> str:
        """The current session's event log (``.inprogress`` while it runs)."""
        app = self.spark.sparkContext.applicationId
        (path,) = glob.glob(os.path.join(self.run_dir, "eventlog", app + "*"))
        return path

    def setup(self) -> dict[str, float]:
        """``SETUP_ROUNDS`` x (fresh session + JVM warm-up); the medians of
        get_spark time, warm-up time and their sum. Only the first round
        launches the JVM."""
        start, warm_s, total = [], [], []
        for _ in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            spark = self.session()
            t1 = time.perf_counter()
            _warm_jvm(spark)
            t2 = time.perf_counter()
            start.append(t1 - t0)
            warm_s.append(t2 - t1)
            total.append(t2 - t0)
        self.setup_rounds = total
        med = statistics.median
        return {"setup_s": med(total), "session.start_s": med(start), "session.warm_s": med(warm_s)}


def _warm_jvm(spark) -> None:
    """bench.py's Spark calibration plan, one small shuffle: warms the
    scheduler, codegen and shuffle paths every query pays."""
    from pyspark.sql import functions as F

    df = spark.range(100_000, numPartitions=8).groupBy((F.col("id") % 97).alias("k")).count()
    df.write.format("noop").mode("overwrite").save()


def _stop_spark(spark) -> None:
    """Stops the session, then the JVM it ran in, and waits for the JVM to
    exit (its Python workers end with it)."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _prepare_env(run_dir: str) -> None:
    # the JVM's Python workers import the program from the checkout; all
    # scratch (Spark local dirs, temp files) stays inside the run dir
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(task_slots())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = SPARK_DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="kitkat-spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kitkat_spark")):
        print(f"kitkat_spark not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    _prepare_env(run_dir)
    stamp = {
        "nproc": os.cpu_count(),
        "task_slots": task_slots(),
        "loadavg_start": list(os.getloadavg()),
        "calib_cpu_s_start": calibrate_cpu(),
    }
    steal0, total0 = cpu_times()
    ctx = Ctx(args, run_dir)
    try:
        with RssSampler() as rss:
            result = workloads.WORKLOADS[args.workload](ctx)
        result.per_layer["process.peak_rss_mb"] = (rss.peak_kb / 1024.0, "MB")
        if args.trace:
            ctx.spans.write(os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}.spans.jsonl"))
    finally:
        _stop_spark(ctx.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    stamp["loadavg_end"] = list(os.getloadavg())
    stamp["calib_cpu_s_end"] = calibrate_cpu(repeat=1)
    steal1, total1 = cpu_times()
    stamp["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    calib = (stamp["calib_cpu_s_start"], stamp["calib_cpu_s_end"])
    # a throttled run: the CPU got >25% slower during the run, the machine
    # was oversubscribed when it started, or the hypervisor took more than
    # 5% of its CPU time during the run
    stamp["throttled"] = (
        max(calib) > 1.25 * min(calib)
        or stamp["loadavg_start"][0] > stamp["nproc"]
        or stamp["cpu_steal_share"] > 0.05
    )

    metrics = result.per_layer if args.trace else result.end_to_end
    full = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": stamp,
        "samples": {**result.samples, "setup_s": SETUP_ROUNDS},
        "setup_rounds_s": ctx.setup_rounds,
        "series": result.series,
        "failed_share": result.failed / max(1, result.attempted),
        "failures": result.failures[:20],
        "end_to_end": result.end_to_end,
        "per_layer": result.per_layer,
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(WORK, "results", tag + ".json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)

    for name, (value, unit) in sorted(metrics.items()):
        n = full["samples"].get(name)
        print(f"# {name} = {value:.6g} {unit}" + (f"  (n={n})" if n else ""))
    print(f"# failed_share = {full['failed_share']:.4g}  ({result.failed}/{result.attempted})")
    print(f"# env {json.dumps(stamp)}")
    out = {
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in sorted(metrics.items())},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
