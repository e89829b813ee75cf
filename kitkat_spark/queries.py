"""Query registry: the declared SURVEY.md §2 surface the driver verifies.

``QUERIES`` maps name -> callable(spark, sf_dir) -> DataFrame.
``ORACLES`` maps every query to its DuckDB twin (names/aliases match
column-for-column — driver hashes values after sorting columns by name);
tests/test_smoke_all_queries.py keeps the two key sets equal.
"""

from __future__ import annotations

import functools
import importlib
import pkgutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kitkat_spark import operators
from kitkat_spark.caches import release_caches

# every module of the operators package; a module declares its queries as
# ``q_*`` functions and their oracles in an ``ORACLE`` dict
_MODULES = [
    importlib.import_module(f"{operators.__name__}.{m.name}")
    for m in pkgutil.iter_modules(operators.__path__)
]


def _cache_scoped(fn):
    """Release blocks persisted by the PREVIOUS query before building this
    one. Several operators persist() true optimizer boundaries that are
    consumed lazily (the caller collects after the builder returns), so the
    builder itself cannot unpersist them — instead each registry call sweeps
    its predecessor's blocks, bounding a long-lived session's cache
    footprint to ONE query's working set (cache INTENT survives, so reused
    handles re-materialize; see caches.py)."""

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_caches(spark)
        return fn(spark, sf_dir)

    return run


_ALL: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

for _m in _MODULES:
    for _name in dir(_m):
        if _name.startswith("q_"):
            _ALL[_name] = _cache_scoped(getattr(_m, _name))
    ORACLES.update(getattr(_m, "ORACLE", {}))

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = dict(sorted(_ALL.items()))

_unmatched = set(ORACLES) - set(QUERIES)
assert not _unmatched, f"oracle without query: {_unmatched}"
