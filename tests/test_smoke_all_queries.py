"""The driver contract's flagship query executes, every registry query has
a DuckDB oracle, so tests/test_oracle_parity.py executes all of them, and
every registry query has a PLAN_FACTS.md row for that test to check its
plan against.
"""

from __future__ import annotations


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert set(e.oracle_sql()) == set(e.queries())


def test_every_query_has_a_plan_facts_row():
    from kitkat_spark.queries import QUERIES
    from tools.plan_report import recorded

    missing = sorted(set(QUERIES) - set(recorded()))
    assert not missing, f"queries without a PLAN_FACTS row: {missing}"
