"""The benchmark's workloads. Each takes a :class:`perfbench.run.Ctx` and
returns a :class:`Result`; README.md says why each was chosen.

Timed actions always run the whole plan: the streaming queries write their
real sinks. Nothing timed is a ``.count()``, which lets Catalyst prune
Python UDFs out of the plan (tests/test_plans.py).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

import pandas as pd  # resolves the warm-up UDF's type hints (PEP 563)
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.trace import checkpoint_batches, fold_event_log, fold_progress, progress_listener

# shapes of the generated inputs (recorded in README.md)
# x nproc shards; drains keep getting faster (JIT) until about the tenth,
# so warm_drains untimed drains come before the timed window
DRAIN = {"waves": 1, "outer_per_file": 400, "warm_drains": 10}
# one file per period; the first warmup_files of the schedule settle the
# running query (its second batch is reliably slow) and are not measured
TAIL = {"outer_per_file": 3, "period_ms": 100, "warmup_files": 20}
# per-layer metric -> unit; every traced run reports all of them, with 0 for
# a layer the workload does not exercise
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "records.scan_s": "s",
    "records.files_per_batch": "count",
    "kpl.decode_us_per_blob": "us",
    "kpl.deagg_s": "s",
    "kpl.udf_rows_per_blob": "ratio",
    "compression.inflate_s": "s",
    "pipeline.deaggregate_s": "s",
    "pipeline.decompress_s": "s",
    "pipeline.render_s": "s",
    "sinks.classify_s": "s",
    "sinks.write_s": "s",
    "sinks.dlq_share": "ratio",
    "microbatch.batches": "count",
    "microbatch.trigger_ms": "ms",
    "microbatch.add_batch_ms": "ms",
    "microbatch.overhead_ms": "ms",
    "microbatch.wal_commit_ms": "ms",
    "microbatch.planning_ms": "ms",
    "microbatch.latest_offset_ms": "ms",
    "microbatch.tasks_per_batch": "count",
    "microbatch.core_busy_share": "ratio",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "python.rows_received": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "shuffle.bytes_written": "bytes",
    "shuffle.fetch_wait_ms": "ms",
    "spill.bytes": "bytes",
    "jvm.gc_ms": "ms",
    "tail.generator_late_ms": "ms",
    "tail.backlog_files": "count",
    "trace.overhead_share": "ratio",
    "process.peak_rss_mb": "MB",  # filled in by run.py
}


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    samples: dict[str, int] = field(default_factory=dict)
    end_to_end: dict[str, tuple[float, str]] = field(default_factory=dict)
    per_layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    series: dict[str, list[float]] = field(default_factory=dict)  # raw samples, for the result file

    def check(self, what: str, problem: str | None) -> None:
        self.attempted += 1
        if problem:
            self.failed += 1
            self.failures.append(f"{what}: {problem}"[:500])

    def layers(self, values: dict[str, float]) -> None:
        self.per_layer = {k: (float(values.get(k, 0.0)), u) for k, u in PER_LAYER.items()}


# ---------------------------------------------------------------------------
# inputs and outputs
# ---------------------------------------------------------------------------

def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[max(1, math.ceil(q / 100.0 * len(s))) - 1]


def cached_inputs(ctx, kind: str, make) -> tuple[str, dict]:
    """Generates an input set once per (kind, seed); later runs with the
    same seed reuse it. Generation is never part of set-up time. Returns
    (directory of record files, manifest)."""
    out = os.path.join(ctx.inputs, f"{kind}-seed{ctx.seed}")
    manifest = os.path.join(out, "manifest.json")
    if not os.path.exists(manifest):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_manifest(tmp, make(tmp))
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    with open(manifest) as f:
        return os.path.join(out, "records"), json.load(f)


def _expected(files: list[dict], passthrough: bool) -> Counter:
    """(timestamp, message) rows a correct consumer renders for ``files``;
    ``passthrough`` adds the undecodable zlib payloads, which the plain
    pipeline passes through as text."""
    exp: Counter = Counter()
    for f in files:
        for m in f["messages"] + (f["passthrough"] if passthrough else []):
            exp[(f["ts"], m)] += 1
    return exp


def _rendered(path: str) -> Counter:
    if not os.path.isdir(path):
        return Counter()
    t = pq.read_table(path, columns=["timestamp", "message"])
    return Counter(zip(t.column("timestamp").to_pylist(), t.column("message").to_pylist()))


def _diff(got: Counter, want: Counter) -> str | None:
    if got == want:
        return None
    return f"{sum((got - want).values())} unexpected and {sum((want - got).values())} missing rows"


def _kpl_blobs(record_dir: str, files: list[dict]) -> list[bytes]:
    out = []
    for f in files:
        col = pq.read_table(os.path.join(record_dir, f["file"]), columns=["data"]).column("data")
        out.extend(b for b in col.to_pylist() if b[:4] == gen.KPL_MAGIC)
    return out


def _warm_input(ctx, record_dir: str, name: str) -> str:
    """A directory holding a copy of one input file: the input that primes
    the workload's query once before timing."""
    shutil.copyfile(os.path.join(record_dir, name), ctx.path("warm-input", name))
    return ctx.path("warm-input", "")


def _warm_udf_workers(spark) -> None:
    """Forks the Python worker pool and imports the program's UDF modules
    in it, so the first timed Python stage does not pay for that."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def ident(s: pd.Series) -> pd.Series:
        import kitkat_spark.functions.compression  # noqa: F401
        import kitkat_spark.functions.kpl  # noqa: F401

        return s

    n = spark.sparkContext.defaultParallelism
    spark.range(n * 8, numPartitions=n).select(ident("id")).write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# the timed queries
# ---------------------------------------------------------------------------

def start_drain(spark, source: str, base: str, per_trigger: int):
    """``consume_with_dlq(compression="zlib")`` over a replayed backlog,
    ``per_trigger`` files per micro-batch; runs until the backlog is
    drained."""
    from kitkat_spark.streaming.records import replay_stream
    from kitkat_spark.streaming.sinks import consume_with_dlq

    return consume_with_dlq(
        replay_stream(spark, source, max_files_per_trigger=per_trigger),
        os.path.join(base, "good"),
        os.path.join(base, "dlq"),
        os.path.join(base, "ck"),
        compression="zlib",
    )


def start_tail(spark, source: str, base: str, interval: str | None):
    """``consume_transform(replay_stream(...), compression="zlib")`` into a
    parquet sink, on a ``processingTime`` trigger of ``interval``, or
    draining what is there when ``interval`` is None."""
    from kitkat_spark.streaming.pipeline import consume_transform
    from kitkat_spark.streaming.records import replay_stream

    writer = (
        consume_transform(replay_stream(spark, source), compression="zlib")
        .writeStream.format("parquet")
        .option("path", os.path.join(base, "out"))
        .option("checkpointLocation", os.path.join(base, "ck"))
    )
    if interval is None:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime=interval).start()


# ---------------------------------------------------------------------------
# traced-run layers
# ---------------------------------------------------------------------------

def _timed_noop(df, repeat: int = 3) -> float:
    """Median seconds of ``repeat`` noop-sink writes of ``df``."""
    runs = []
    for _ in range(repeat):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


def _consume_probes(ctx, record_dir: str, files: list[dict], with_sinks: bool) -> dict[str, float]:
    """Per-layer times of the consume path on its batch twin over the
    ``files`` in ``record_dir``: each public function's noop-sink time minus
    that of its input, plus the KPL decoder timed in this process over the
    KPL blobs of the first file."""
    from pyspark.sql import functions as F

    from kitkat_spark.functions.compression import zlib_decompress_udf
    from kitkat_spark.functions.kpl import deaggregate_blob, is_aggregated_col, kpl_deaggregate_udf
    from kitkat_spark.streaming import pipeline as P
    from kitkat_spark.streaming.records import batch_records

    sp = ctx.spans
    out: dict[str, float] = {}
    recs = batch_records(ctx.spark, record_dir)
    is_kpl = is_aggregated_col(F.col("data"))
    with sp.span("records.scan"):
        scan = out["records.scan_s"] = _timed_noop(recs)
    with sp.span("kpl.deagg"):
        out["kpl.deagg_s"] = _timed_noop(recs.filter(is_kpl).select(F.explode(kpl_deaggregate_udf("data")))) - scan
    with sp.span("compression.inflate"):
        out["compression.inflate_s"] = _timed_noop(recs.filter(~is_kpl).select(zlib_decompress_udf("data"))) - scan
    with sp.span("pipeline.deaggregate"):
        t_de = _timed_noop(P.deaggregate(recs))
    with sp.span("pipeline.decompress"):
        t_dc = _timed_noop(P.decompress(P.deaggregate(recs), "zlib"))
    with sp.span("pipeline.render"):
        t_rn = _timed_noop(P.render(P.decompress(P.deaggregate(recs), "zlib")))
    out["pipeline.deaggregate_s"] = t_de - scan
    out["pipeline.decompress_s"] = t_dc - t_de
    out["pipeline.render_s"] = t_rn - t_dc
    if with_sinks:
        from kitkat_spark.streaming.sinks import classify_records

        with sp.span("sinks.classify"):
            out["sinks.classify_s"] = _timed_noop(classify_records(recs, "zlib")) - scan
        with sp.span("sinks.write"):
            t0 = time.perf_counter()
            P.consume_transform(recs, compression="zlib", verbose=True).write.parquet(ctx.path("probe", "write"))
            out["sinks.write_s"] = time.perf_counter() - t0 - t_rn

    blobs = _kpl_blobs(record_dir, files[:1])
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        for b in blobs:
            deaggregate_blob(b)
        runs.append(time.perf_counter() - t0)
    out["kpl.decode_us_per_blob"] = statistics.median(runs) / max(1, len(blobs)) * 1e6
    return out


def _query_layers(ctx, progress: list[dict], queries: list, kpl_blobs: int) -> dict[str, float]:
    """Folds the event log over the traced queries' job groups (a streaming
    query's jobs carry its run id as their group): executor, shuffle, spill,
    GC and Python-boundary totals, and micro-batch phases from the last
    query's progress events as the listener received them."""
    run_ids = [str(q.runId) for q in queries]
    batches = sum(1 for p in queries[-1].recentProgress if p["numInputRows"] > 0)
    deadline = time.time() + 5
    while time.time() < deadline and sum(
        1 for p in progress if p["runId"] == run_ids[-1] and p["numInputRows"] > 0
    ) < batches:
        time.sleep(0.1)  # listener events arrive asynchronously
    groups = fold_event_log(ctx.event_log())
    total: Counter = Counter()
    for r in run_ids:
        total.update(groups.get(r, Counter()))
    last = groups.get(run_ids[-1], Counter())
    out = fold_progress(progress, run_ids[-1], ctx.cores, last["executor.run_ms"])
    if out:
        out["microbatch.tasks_per_batch"] = last["tasks"] / out["microbatch.batches"]
    out.update(
        {
            "executor.run_s": total["executor.run_ms"] / 1e3,
            "executor.cpu_s": total["executor.cpu_ns"] / 1e9,
            "shuffle.bytes_written": total["shuffle.bytes_written"],
            "shuffle.fetch_wait_ms": total["shuffle.fetch_wait_ms"],
            "spill.bytes": total["spill.bytes"],
            "jvm.gc_ms": total["jvm.gc_ms"],
            "python.bytes_sent": total["python.bytes_sent"],
            "python.bytes_received": total["python.bytes_received"],
            "python.rows_received": total["python.rows_received"],
            "kpl.udf_rows_per_blob": total["kpl.udf_rows"] / max(1, kpl_blobs * len(run_ids)),
        }
    )
    return out


def _files_per_batch(checkpoint: str) -> float:
    by_file, _ = checkpoint_batches(checkpoint)
    return len(by_file) / max(1, len(set(by_file.values())))


def _overhead(untraced: float, traced: float, higher_is_better: bool) -> float:
    """How much worse the traced run's figure is, as a share."""
    if not untraced or not traced:
        return 0.0
    return untraced / traced - 1.0 if higher_is_better else traced / untraced - 1.0


def _traced_session(ctx, prime) -> tuple:
    """A fresh session with the event log on, warmed and primed like the
    untraced one, then a progress listener: (listener, progress events)."""
    ctx.session(traced=True)
    _warm_udf_workers(ctx.spark)
    prime("t")
    return progress_listener(ctx.spark)


# ---------------------------------------------------------------------------
# consume_drain
# ---------------------------------------------------------------------------

def consume_drain(ctx) -> Result:
    shards = ctx.nproc
    backlog, manifest = cached_inputs(
        ctx,
        f"backlog-exact{shards}x{DRAIN['waves']}x{DRAIN['outer_per_file']}",
        lambda out: gen.write_backlog(out, ctx.seed, shards, DRAIN["waves"], DRAIN["outer_per_file"]),
    )
    files = manifest["files"]
    expected = _expected(files, passthrough=False)
    corrupt: Counter = Counter()
    for f in files:
        corrupt.update(f["corrupt"])
    want_dlq = +Counter({"kpl_decode_failed": corrupt["kpl"], "zlib_decode_failed": corrupt["zlib"]})
    res = Result()
    drains: list[dict] = []

    def prime(label: str, n: int = 1) -> None:
        for i in range(n):
            start_drain(ctx.spark, backlog, ctx.path("drains", f"prime-{label}{i}", ""), shards).awaitTermination()

    def window(label: str) -> tuple[list[float], dict[int, list[float]]]:
        """Drains the whole backlog into fresh sinks until ``seconds`` have
        passed. Returns per-micro-batch rates (inner records of the batch
        over the time since the previous commit, or since the drain started)
        and each drain's p50 and p90 record latency (commit of the record's
        batch minus the drain's start, when the whole backlog was due)."""
        rates: list[float] = []
        lat: dict[int, list[float]] = {50: [], 90: []}
        deadline = time.perf_counter() + ctx.seconds
        while not rates or time.perf_counter() < deadline:
            base = ctx.path("drains", f"{label}{len(drains)}", "")
            t0 = time.time()
            with ctx.spans.span(f"drain.{label}{len(drains)}"):
                q = start_drain(ctx.spark, backlog, base, shards)
                q.awaitTermination()
            drains.append({"base": base, "query": q})
            by_file, commits = checkpoint_batches(os.path.join(base, "ck"))
            per_batch: Counter = Counter()
            drain_lat = []
            for f in files:
                per_batch[by_file[f["file"]]] += len(f["messages"])
                drain_lat.extend([(commits[by_file[f["file"]]] - t0) * 1e3] * len(f["messages"]))
            for pct in lat:
                lat[pct].append(percentile(drain_lat, pct))
            prev = t0
            for b in sorted(commits):
                rates.append(per_batch[b] / (commits[b] - prev))
                prev = commits[b]
        return rates, lat

    setup = ctx.setup()
    _warm_udf_workers(ctx.spark)
    prime("u", DRAIN["warm_drains"])
    rates, lat = window("u")

    traced: dict[str, float] = {}
    if ctx.args.trace:
        n_untraced = len(drains)
        listener, progress = _traced_session(ctx, prime)
        t_rates, _ = window("t")
        ctx.spark.streams.removeListener(listener)
        queries = [d["query"] for d in drains[n_untraced:]]
        traced.update(_query_layers(ctx, progress, queries, len(_kpl_blobs(backlog, files))))
        traced["records.files_per_batch"] = _files_per_batch(os.path.join(drains[-1]["base"], "ck"))
        dlq_rows = sum(_dlq_reasons(os.path.join(drains[-1]["base"], "dlq")).values())
        traced["sinks.dlq_share"] = dlq_rows / sum(f["outer"] for f in files)
        traced["trace.overhead_share"] = _overhead(statistics.median(rates), statistics.median(t_rates), True)
        traced.update(_consume_probes(ctx, backlog, files, with_sinks=True))

    # output checks, outside the timed window
    for d in drains:
        res.check(f"drain {d['base']} rendered", _diff(_rendered(os.path.join(d["base"], "good")), expected))
        dlq = _dlq_reasons(os.path.join(d["base"], "dlq"))
        res.check(f"drain {d['base']} dlq", None if dlq == want_dlq else f"{dict(dlq)} != {dict(want_dlq)}")

    # latency percentiles per drain, then the median over drains: the one
    # batch of a drain commits all its records at once, so a percentile
    # pooled over drains would be the slowest drain, not a record's tail
    res.samples = {"items_per_s": len(rates), "latency_p50_ms": len(lat[50]), "latency_p90_ms": len(lat[90])}
    res.series = {"batch_rates": rates, "drain_p50_ms": lat[50], "drain_p90_ms": lat[90]}
    res.end_to_end = {
        "items_per_s": (statistics.median(rates), "1/s"),
        "latency_p50_ms": (statistics.median(lat[50]), "ms"),
        "latency_p90_ms": (statistics.median(lat[90]), "ms"),
        "setup_s": (setup["setup_s"], "s"),
    }
    res.layers({**setup, **traced})
    return res


def _dlq_reasons(path: str) -> Counter:
    if not os.path.isdir(path):
        return Counter()
    return Counter(pq.read_table(path, columns=["reason"]).column("reason").to_pylist())


# ---------------------------------------------------------------------------
# consume_tail
# ---------------------------------------------------------------------------

def consume_tail(ctx) -> Result:
    from kitkat_spark.streaming.consumer import ConsumeOptions

    period = TAIL["period_ms"]
    n_files = TAIL["warmup_files"] + max(1, ctx.seconds * 1000 // period)
    staged, manifest = cached_inputs(
        ctx,
        f"tail-exact{ctx.nproc}x{n_files}x{TAIL['outer_per_file']}x{period}",
        lambda out: gen.write_tail(out, ctx.seed, ctx.nproc, n_files + 1, TAIL["outer_per_file"], period),
    )
    # the first file primes the running query, untimed; the rest are due
    # one per period after the schedule starts
    first, files = manifest["files"][0], manifest["files"][1:]
    measured = files[TAIL["warmup_files"]:]
    interval = f"{ConsumeOptions().interval_ms} milliseconds"
    warm_dir = _warm_input(ctx, staged, first["file"])
    res = Result()

    def prime(label: str) -> None:
        start_tail(ctx.spark, warm_dir, ctx.path("tails", f"prime-{label}", ""), None).awaitTermination()

    def window(label: str) -> dict:
        pending = ctx.path(f"pending-{label}", "")
        watched = ctx.path(f"watched-{label}", "")
        for f in [first] + files:
            shutil.copyfile(os.path.join(staged, f["file"]), os.path.join(pending, f["file"]))
        base = ctx.path("tails", label, "")
        q = start_tail(ctx.spark, watched, base, interval)
        os.rename(os.path.join(pending, first["file"]), os.path.join(watched, first["file"]))
        q.processAllAvailable()
        t_start = time.time() + 0.2
        due = {f["file"]: t_start + f["offset_s"] - first["offset_s"] for f in files}
        late: list[float] = []

        def generator():
            # open loop: each file is moved in at its due time, whatever the
            # query is doing; its records carry that due time
            for f in files:
                delay = due[f["file"]] - time.time()
                if delay > 0:
                    time.sleep(delay)
                src = os.path.join(pending, f["file"])
                ns = int(due[f["file"]] * 1e9)
                os.utime(src, ns=(ns, ns))
                os.rename(src, os.path.join(watched, f["file"]))
                late.append((time.time() - due[f["file"]]) * 1e3)

        with ctx.spans.span(f"tail.{label}"):
            th = threading.Thread(target=generator, name="tail-generator")
            th.start()
            th.join()
            q.processAllAvailable()
        q.stop()
        by_file, commits = checkpoint_batches(os.path.join(base, "ck"))
        lat = []
        for f in measured:
            n = len(f["messages"]) + len(f["passthrough"])
            lat.extend([(commits[by_file[f["file"]]] - due[f["file"]]) * 1e3] * n)
        # files already due but not yet committed, at each commit
        backlog = max(
            sum(1 for d in due.values() if d <= tc) - sum(1 for fn in due if by_file[fn] <= b)
            for b, tc in commits.items()
        )
        last = max(commits[by_file[fn]] for fn in due)
        ticks = [commits[b] for b in sorted(commits)]
        return {
            "batch_s": [y - x for x, y in zip(ticks, ticks[1:])],
            "base": base,
            "query": q,
            "lat": lat,
            "late": late,
            "backlog": backlog,
            "rate": len(lat) / (last - due[measured[0]["file"]]),
        }

    setup = ctx.setup()
    _warm_udf_workers(ctx.spark)
    prime("u")
    runs = [window("u")]

    traced: dict[str, float] = {}
    if ctx.args.trace:
        listener, progress = _traced_session(ctx, prime)
        t = window("t")
        ctx.spark.streams.removeListener(listener)
        runs.append(t)
        traced.update(_query_layers(ctx, progress, [t["query"]], len(_kpl_blobs(staged, [first] + files))))
        traced["records.files_per_batch"] = _files_per_batch(os.path.join(t["base"], "ck"))
        traced["tail.generator_late_ms"] = percentile(t["late"], 90)
        traced["tail.backlog_files"] = t["backlog"]
        traced["trace.overhead_share"] = _overhead(percentile(runs[0]["lat"], 50), percentile(t["lat"], 50), False)
        traced.update(_consume_probes(ctx, staged, [first] + files, with_sinks=False))

    # output checks, outside the timed window: one per scheduled file (all
    # its rows rendered) and one per run (nothing else rendered)
    for r in runs:
        got = _rendered(os.path.join(r["base"], "out"))
        for f in files:
            want = _expected([f], passthrough=True)
            res.check(f"tail {r['base']} {f['file']}", _diff(Counter({k: got[k] for k in want}), want))
        res.check(f"tail {r['base']}", _diff(got, _expected([first] + files, passthrough=True)))

    u = runs[0]
    res.samples = {"items_per_s": 1, "latency_p50_ms": len(u["lat"]), "latency_p90_ms": len(u["lat"])}
    res.series = {"batch_s": u["batch_s"]}
    res.end_to_end = {
        "items_per_s": (u["rate"], "1/s"),
        "latency_p50_ms": (percentile(u["lat"], 50), "ms"),
        "latency_p90_ms": (percentile(u["lat"], 90), "ms"),
        "setup_s": (setup["setup_s"], "s"),
    }
    res.layers({**setup, **traced})
    return res


WORKLOADS = {
    "consume_drain": consume_drain,
    "consume_tail": consume_tail,
}
