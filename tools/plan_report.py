#!/usr/bin/env python
"""Regenerate PLAN_FACTS.md: one row per declared query with the two
physical-plan facts test_parity gates (shuffles and Python-UDF nodes),
read from the ACTUAL Catalyst plan at sf0.001. ``recorded`` reads the file
back for tests/test_oracle_parity.py.

Run: python tools/plan_report.py
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from kitkat_spark.plans import plan_facts  # noqa: E402
from kitkat_spark.queries import QUERIES  # noqa: E402
from kitkat_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"
PLAN_FACTS = os.path.join(REPO, "PLAN_FACTS.md")
# query, shuffles, py-UDF nodes
_ROW = re.compile(r"^\| (q_\w+) \| (\d+) \| (\d+) \|")

HEADER = """# PLAN FACTS — physical-plan shape per query (generated)

Generated by `tools/plan_report.py` from the live Catalyst plan at sf0.001.
Columns: Exchange (shuffle) count and Arrow/Python UDF nodes — the two
facts `test_parity` holds each query to (live count <= recorded).
Regenerate after plan-affecting changes.

| query | shuffles | py-UDF nodes |
|---|---|---|
"""


def recorded() -> dict[str, tuple[int, int]]:
    """Each query's recorded (shuffles, py-UDF nodes)."""
    with open(PLAN_FACTS) as fh:
        return {m[1]: (int(m[2]), int(m[3])) for m in map(_ROW.match, fh) if m}


def main() -> None:
    spark = get_spark(app_name="plan_report", shuffle_partitions=8)
    lines = [HEADER]
    for name in sorted(QUERIES):
        f = plan_facts(QUERIES[name](spark, SF))
        lines.append(f"| {name} | {f['shuffles']} | {f['python_udf_nodes']} |\n")
    with open(PLAN_FACTS, "w") as fh:
        fh.writelines(lines)
    print(f"wrote {PLAN_FACTS} ({len(QUERIES)} queries)")


if __name__ == "__main__":
    main()
