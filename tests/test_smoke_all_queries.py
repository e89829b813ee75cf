"""The driver contract's flagship query executes, and every registry query
has a DuckDB oracle, so tests/test_oracle_parity.py executes all of them.
"""

from __future__ import annotations


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert set(e.oracle_sql()) == set(e.queries())
