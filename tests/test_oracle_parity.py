"""Every registry query must match its DuckDB oracle (the driver's t2 gate,
run locally at a smaller sf for speed). At the sf PLAN_FACTS.md was taken
at, the same DataFrame must also plan no worse than its recorded row: no
more shuffles and no more Python-UDF nodes (a silent exchange or UDF
regression fails here before it costs anything at scale). Legitimately
changed plans: rerun `python tools/plan_report.py` and commit the
regenerated file alongside the change.
"""

from __future__ import annotations

import os

import pytest

from kitkat_spark.plans import plan_facts
from kitkat_spark.queries import ORACLES, QUERIES
from tests.oracle_harness import compare
from tools import plan_report

PARITY_SF = os.environ.get("SPARK_GRAFT_PARITY_SF", plan_report.SF)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_parity(spark, name):
    df = QUERIES[name](spark, PARITY_SF)
    # plan shapes change with table size (broadcast thresholds, AQE), so
    # the sf0.01 and sf0.1 sweeps check results only
    if os.path.realpath(PARITY_SF) == os.path.realpath(plan_report.SF):
        f = plan_facts(df)
        live = (f["shuffles"], f["python_udf_nodes"])
        rec = plan_report.recorded()[name]
        assert live[0] <= rec[0] and live[1] <= rec[1], (
            f"{name}: (shuffles, py-UDF nodes) {live} > PLAN_FACTS.md {rec}"
        )
    problems = compare(df, ORACLES[name], PARITY_SF)
    assert not problems, f"{name}: " + "; ".join(problems)
