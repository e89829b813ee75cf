"""PLAN_FACTS.md freshness + plan-shape regression gate.

PLAN_FACTS.md is the committed record of every query's physical-plan
shape (tools/plan_report.py). This test keeps it honest:

- every registry query has a row (a new query can't ship undocumented);
- no query's LIVE shuffle count exceeds its recorded count (a silent
  exchange regression fails here before it costs anything at scale);
- no query gains Python-UDF nodes over the record (the "UDFs are the
  slow path" rule, enforced).

Legitimately changed plans: rerun `python tools/plan_report.py` and
commit the regenerated file alongside the change.
"""

from __future__ import annotations

import os
import re

from kitkat_spark.plans import plan_facts
from kitkat_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"
PLAN_FACTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_FACTS.md"
)
ROW = re.compile(r"^\| (q_\w+) \| (\d+) \| (\d+) \| (\d+) \| (\d+) \|")


def _recorded() -> dict[str, tuple[int, int]]:
    out = {}
    for line in open(PLAN_FACTS):
        m = ROW.match(line)
        if m:
            name, shuffles, _bc, _smj, pyudf = m.groups()[:5]
            out[name] = (int(shuffles), int(pyudf))
    return out


def test_plan_facts_covers_registry_and_no_regressions(spark):
    # pristine cache state: earlier tests may have persisted+released these
    # queries' subtrees, leaving CacheManager intents at level NONE — the
    # planner then re-inlines the subtree and the plan shows extra
    # shuffles/UDF nodes that a fresh session (tools/plan_report.py, the
    # driver) never sees. clearCache() drops the stale intents so each
    # builder's persist() re-registers cleanly.
    spark.catalog.clearCache()
    rec = _recorded()
    missing = sorted(set(QUERIES) - set(rec))
    assert not missing, f"queries without a PLAN_FACTS row: {missing}"

    worse = []
    for name in sorted(QUERIES):
        f = plan_facts(QUERIES[name](spark, SF))
        r_shuf, r_udf = rec[name]
        if f["shuffles"] > r_shuf or f["python_udf_nodes"] > r_udf:
            worse.append((name, (f["shuffles"], f["python_udf_nodes"]), (r_shuf, r_udf)))
    assert not worse, f"plan regressions vs PLAN_FACTS.md (live > recorded): {worse}"
