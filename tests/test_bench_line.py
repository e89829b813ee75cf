"""bench.py's stdout contract: named queries only, one parseable JSON line
last, a throttle stamp, and nothing written into the checkout."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _checkout_files() -> set[str]:
    out = set()
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if d not in (".git", "__pycache__")]
        out.update(os.path.relpath(os.path.join(root, f), REPO) for f in files)
    return out


def test_bench_prints_one_line_for_the_named_queries(sf_dir):
    before = _checkout_files()
    r = subprocess.run(
        [sys.executable, "bench.py", "q_agg_group", "q_stream_dedup_wm"],
        capture_output=True, text=True, timeout=600, cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir, "SPARK_GRAFT_CPUS": "2"},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = r.stdout.strip().splitlines()
    line = json.loads(lines[-1])
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in line
    assert line["n_queries"] == 2
    assert set(line["queries"]) == {"q_agg_group", "q_stream_dedup_wm"}
    assert line["lanes"]["streaming"] == line["queries"]["q_stream_dedup_wm"]
    assert line["lanes"]["batch"] == line["queries"]["q_agg_group"]
    assert isinstance(line["throttled"], bool)
    assert 0.0 <= line["cpu_steal_share"] <= 1.0
    # the full per-query map precedes the JSON line
    assert {ln.split(" = ")[0] for ln in lines if ln.startswith("# q_")} == {
        "# q_agg_group", "# q_stream_dedup_wm"
    }
    assert _checkout_files() == before
