"""Tracing from outside the program: spans around calls into its public
functions, a StreamingQueryListener that keeps micro-batch progress, and
folds of Spark's own event log and of a streaming checkpoint's logs.

Everything is kept in memory and written once, at the end of a run.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from collections import Counter, defaultdict

# event-log metric name -> per-layer counter, for nodes that run Python
_PY_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "number of output rows": "python.rows_received",
}
_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas", "MapInPandas", "PythonUDTF")


class Spans:
    """Spans with name, start, end, parent and run id; ``enabled=False``
    makes every call a no-op so the untraced run pays nothing."""

    def __init__(self, enabled: bool, spark_context_fn=None):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.records: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark_context_fn

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self.records[self._stack[-1]]["name"] if self._stack else None,
            "run_id": self.run_id,
        }
        self.records.append(rec)
        self._stack.append(len(self.records) - 1)
        sc = self._sc() if self._sc else None
        if sc is not None:
            sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                sc.setJobGroup(self.records[self._stack[-1]]["name"] if self._stack else "", "")

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for r in self.records:
                f.write(json.dumps(r) + "\n")


def progress_listener(spark):
    """Registers a listener that keeps every progress event of this
    session's streaming queries; returns (listener, list of progress dicts)."""
    from pyspark.sql.streaming import StreamingQueryListener

    progress: list[dict] = []

    class _Keep(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Keep()
    spark.streams.addListener(listener)
    return listener, progress


def fold_progress(progress: list[dict], run_id: str, cores: int, run_ms: float) -> dict[str, float]:
    """Per-batch micro-batch phases of one query run, as medians over its
    batches; ``run_ms`` is the executor run time its tasks used."""
    from statistics import median

    batches = [p for p in progress if p.get("runId") == run_id and p.get("numInputRows", 0) > 0]
    if not batches:
        return {}

    def med(key: str) -> float:
        return float(median(p["durationMs"].get(key, 0) for p in batches))

    trigger_total = sum(p["durationMs"].get("triggerExecution", 0) for p in batches)
    out = {
        "microbatch.batches": float(len(batches)),
        "microbatch.trigger_ms": med("triggerExecution"),
        "microbatch.add_batch_ms": med("addBatch"),
        "microbatch.overhead_ms": float(
            median(p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0) for p in batches)
        ),
        "microbatch.wal_commit_ms": med("walCommit"),
        "microbatch.planning_ms": med("queryPlanning"),
        "microbatch.latest_offset_ms": med("latestOffset"),
        "microbatch.core_busy_share": run_ms / (trigger_total * cores) if trigger_total else 0.0,
    }
    return out


def _events(path: str):
    """The events of a live, uncompressed event log; a last line still
    being written is skipped."""
    with open(path) as f:
        for line in f:
            try:
                yield json.loads(line)
            except json.JSONDecodeError:
                return


def fold_event_log(path: str) -> dict[str, Counter]:
    """Per job group: jobs, tasks, executor run/CPU time, shuffle bytes
    written, fetch wait, spill, GC, and the Python-boundary SQL metrics
    (plus rows through ArrowEvalPython nodes that run the KPL UDF)."""
    groups: dict[str, Counter] = defaultdict(Counter)
    stage_group: dict[int, str] = {}
    acc_key: dict[int, list[str]] = {}

    def walk(node: dict) -> None:
        name = node.get("nodeName", "")
        if any(n in name for n in _PY_NODES):
            kpl = "kpl_deaggregate_udf" in node.get("simpleString", "")
            for m in node.get("metrics", []):
                key = _PY_METRICS.get(m["name"])
                if key:
                    keys = [key]
                    if kpl and key == "python.rows_received":
                        keys.append("kpl.udf_rows")
                    acc_key[m["accumulatorId"]] = keys
        for child in node.get("children", []):
            walk(child)

    for e in _events(path):
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for s in e.get("Stage IDs", []):
                stage_group[s] = g
            groups[g]["jobs"] += 1
        elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
            walk(e.get("sparkPlanInfo") or {})
        elif ev == "SparkListenerTaskEnd":
            c = groups[stage_group.get(e.get("Stage ID"), "")]
            m = e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            c["tasks"] += 1
            c["executor.run_ms"] += m.get("Executor Run Time", 0)
            c["executor.cpu_ns"] += m.get("Executor CPU Time", 0)
            c["jvm.gc_ms"] += m.get("JVM GC Time", 0)
            c["spill.bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            c["shuffle.bytes_written"] += sw.get("Shuffle Bytes Written", 0)
            c["shuffle.fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                for key in acc_key.get(a.get("ID"), ()):
                    try:
                        c[key] += int(a.get("Update", 0))
                    except (TypeError, ValueError):
                        pass
    return dict(groups)


def checkpoint_batches(checkpoint: str) -> tuple[dict[str, int], dict[int, float]]:
    """({input file basename: batch id} from ``sources/0``, {batch id:
    commit time} from the mtimes of ``commits/<id>``)."""
    files: dict[str, int] = {}
    src = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(src):
        if name.startswith("."):
            continue
        with open(os.path.join(src, name)) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                files[os.path.basename(entry["path"])] = int(entry["batchId"])
    commits = {}
    cdir = os.path.join(checkpoint, "commits")
    for name in os.listdir(cdir):
        if name.isdigit():
            commits[int(name)] = os.stat(os.path.join(cdir, name)).st_mtime_ns / 1e9
    return files, commits


def sql_plans(path: str) -> list[str]:
    """The physical plan text of every SQL execution in an event log, as
    finally run (adaptive re-plans replace the initial plan)."""
    plans: dict[int, str] = {}
    for e in _events(path):
        if e["Event"].endswith("SparkListenerSQLExecutionStart") or e["Event"].endswith("SQLAdaptiveExecutionUpdate"):
            plans[e["executionId"]] = e.get("physicalPlanDescription", "")
    return [plans[k] for k in sorted(plans)]
