"""Result-TYPE audit over every DuckDB oracle.

The round-6 lesson: the driver's value-hasher serializes results *typed*,
while the local harness's ``fetchall()`` coerces DuckDB types to plain
Python values — so an oracle whose output column is HUGEINT (DuckDB
``sum(INTEGER)`` → int128) hashes differently from Spark's BIGINT even
when every value is equal, and the local gate cannot see it
(q_canonical_docs: the only red row of 144 in the round-6 driver check).

This test makes that class a pre-driver failure: plan every oracle in
``ORACLES`` against the sf0.001 parquet views and assert no output column
has a type Spark cannot emit:

- HUGEINT / UHUGEINT — Spark has no int128; emit BIGINT via an explicit
  CAST (the repo convention, e.g. operators/sampling.py dup_chars).
- DECIMAL(38, s) — DuckDB's sum(DECIMAL(p,s)) result type is
  DECIMAL(min(p+10,38), s) while Spark's is DECIMAL(min(p+10,38), s) too,
  BUT intermediate arithmetic that saturates precision at 38 rounds
  differently between engines; the repo convention is to round() and cast
  to an explicit bounded precision, so a 38-precision output means a cast
  was forgotten.

Planning (``con.sql(...).types``) needs no data scan, so this covers all
oracles in one cheap pass.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from kitkat_spark.queries import ORACLES

SF_DIR = os.environ.get("SPARK_GRAFT_TYPEAUDIT_SF", "/root/testdata/sf0.001")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield c
    c.close()


def _bad_type(t: str) -> bool:
    t = t.upper()
    if t in ("HUGEINT", "UHUGEINT", "INT128", "UINT128"):
        return True
    return t.startswith("DECIMAL(38,")


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_output_types(con, name):
    rel = con.sql(ORACLES[name])
    offenders = [
        f"{col}: {typ}"
        for col, typ in zip(rel.columns, (str(t) for t in rel.types))
        if _bad_type(str(typ))
    ]
    assert not offenders, (
        f"{name} oracle emits driver-hash-hostile types {offenders}; "
        "CAST to BIGINT / bounded DECIMAL (see cross-engine numeric rules)"
    )
