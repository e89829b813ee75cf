"""Cache and fixture lifetimes: one owner for everything a query keeps
beyond its own call.

**Query-local blocks.** Operators ``persist()`` true optimizer boundaries —
near-dedup's signature table (operators/dedup.py), the embedding index
(operators/similarity.py), the KPL blob fixture (operators/payloads.py) —
because without the boundary Catalyst re-inlines the expensive hash subtree
into every consumer (the projection-collapse pathology, see
functions/text.py make_minhash_udf). Within one query run those caches pay
for themselves; across a long-lived driver session running MANY queries
the blocks would otherwise accumulate executor memory. Hosts that run many
queries per session (bench.py, tools/stress.py, a driver round) call
:func:`release_caches` between queries. It drops the materialized blocks
but leaves Catalyst's cache INTENT registered, so a memoized fixture handle
transparently re-materializes on its next action instead of silently
losing its optimizer boundary.

**Per-session fixtures.** Test scaffolding that a query needs but does not
measure (replay sources, interchange copies, the KPL blobs, LSH signature
tables, membership and layout dirs) is built once per session through
:func:`fixture`, so repeat invocations measure the operator, not the
fixture:

- one key: (applicationId, resolved ``sf_dir``, name);
- one path: ``SCRATCH_ROOT/<applicationId>/<name>/<basename>-<md5[:10]>``
  of the resolved ``sf_dir`` (:func:`scratch_dir`), so two fixture dirs
  sharing a final component (``a/sf0.01`` vs ``b/sf0.01``) never share a
  path; ``fresh=True`` adds a never-reused ``-callN`` suffix for per-call
  scratch;
- one eviction: the first access under another application drops every
  other application's entries — unpersisting their DataFrames, since a
  cached frame pins its (possibly stopped) session — and removes their
  dirs;
- one exit cleanup: at interpreter exit the dirs of every application this
  process created are removed.
"""

from __future__ import annotations

import atexit
import hashlib
import itertools
import os
import shutil
from typing import Any, Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

# the one scratch root of every per-session fixture and per-call dir
SCRATCH_ROOT = "/tmp/kitkat_scratch"

# (applicationId, resolved sf_dir, name) -> fixture value
_FIXTURES: dict[tuple[str, str, str], Any] = {}
# applications whose scratch this process created, removed at exit
_APPS: set[str] = set()
# per-call suffixes (itertools.count is GIL-atomic)
_NONCE = itertools.count()


def release_caches(spark: SparkSession) -> None:
    """Unpersist every cached/localCheckpoint'ed block in the session."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def _unpersist(value: object) -> None:
    for v in value if isinstance(value, tuple) else (value,):
        if isinstance(v, DataFrame):
            try:
                v.unpersist()
            except Py4JError:
                pass  # session already stopped; blocks died with it


def _remove_dirs(apps: set[str]) -> None:
    for app in apps:
        shutil.rmtree(os.path.join(SCRATCH_ROOT, app), ignore_errors=True)
    _APPS.difference_update(apps)


atexit.register(lambda: _remove_dirs(set(_APPS)))


def _application(spark: SparkSession) -> str:
    """The session's application id, after dropping every other
    application's fixtures and scratch dirs."""
    app = spark.sparkContext.applicationId
    for key in [k for k in _FIXTURES if k[0] != app]:
        _unpersist(_FIXTURES.pop(key))
    _remove_dirs(_APPS - {app})
    _APPS.add(app)
    return app


def scratch_dir(
    spark: SparkSession, sf_dir: str, name: str, fresh: bool = False
) -> str:
    """The session's scratch path for ``name`` over ``sf_dir`` (not
    created); with ``fresh``, a path no earlier call of this process got."""
    resolved = os.path.abspath(sf_dir)
    tag = "{}-{}".format(
        os.path.basename(resolved), hashlib.md5(resolved.encode()).hexdigest()[:10]
    )
    path = os.path.join(SCRATCH_ROOT, _application(spark), name, tag)
    return f"{path}-call{next(_NONCE)}" if fresh else path


def fixture(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[str], Any],
    replace: bool = False,
) -> Any:
    """The session's ``name`` fixture over ``sf_dir``: ``build(path)`` runs
    once per key, given the fixture's scratch path, and its value — a path,
    a (path, rows) pair, or persisted DataFrames — is memoized.

    ``replace`` rebuilds under a fresh path and replaces the entry; the
    earlier value's files stay until the application's dirs are removed,
    because a DataFrame read from them may still list them."""
    key = (_application(spark), os.path.abspath(sf_dir), name)
    if replace or key not in _FIXTURES:
        _FIXTURES[key] = build(scratch_dir(spark, sf_dir, name, fresh=replace))
    return _FIXTURES[key]
