"""Cache and fixture lifetime hygiene.

Several operators persist() optimizer boundaries that outlive the builder
call (the result DataFrame is collected by the caller). Two guarantees keep
a long-lived session from accumulating blocks:

1. ``caches.release_caches`` drops every persisted block (hosts call it
   between queries — bench.py, tools/stress.py).
2. Every registry entry is wrapped by ``queries._cache_scoped``: invoking
   query N+1 sweeps query N's blocks, so a driver loop that never calls
   release_caches still holds at most one query's working set.

Per-session fixtures live in one store (``caches.fixture``): keyed per
application and resolved sf_dir, evicted (unpersisted, dirs removed) once
another application shows up, and removed from disk at process exit.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

from kitkat_spark import caches
from kitkat_spark.caches import release_caches
from kitkat_spark.operators.dedup import lsh_signatures_and_candidates
from kitkat_spark.operators.payloads import build_kpl_blobs
from kitkat_spark.operators.replay import run_replay
from kitkat_spark.queries import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# every kitkat scratch root under the temp dir, at one application id
_SCRATCH_GLOB = os.path.join(os.path.dirname(caches.SCRATCH_ROOT), "kitkat_*", "{app}")

# Three queries whose implementations persist() intermediates
# (dedup.py, similarity.py, textops.py — the sites VERDICT r5 flagged).
CACHING_QUERIES = ["q_near_dedup", "q_embedding_near_dup", "q_winnow_fingerprint"]


def _n_cached(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


@pytest.mark.parametrize("name", CACHING_QUERIES)
def test_release_caches_empties_session(spark, name):
    QUERIES[name](spark, SF_DIR).collect()
    release_caches(spark)
    assert _n_cached(spark) == 0, f"{name} left persisted blocks after release"


def test_back_to_back_queries_do_not_accumulate(spark):
    release_caches(spark)
    high_water = []
    for name in CACHING_QUERIES:
        # entering the next query sweeps the previous one's blocks
        QUERIES[name](spark, SF_DIR).collect()
        high_water.append(_n_cached(spark))
    # The footprint stays at one query's working set instead of accumulating
    # (without the _cache_scoped wrapper this reads [1, 2, 3]). A query whose
    # plan was already cached+released earlier in the session recomputes with
    # storage level NONE and registers 0 new blocks, so the bound is
    # max(first, 1), not strictly high_water[0].
    bound = max(high_water[0], 1)
    assert all(n <= bound for n in high_water), (
        f"cache footprint grew across queries: {high_water}"
    )
    release_caches(spark)
    assert _n_cached(spark) == 0


# ---- the per-session fixture store (caches.fixture) ----
#
# One process holds one live SparkContext, so "another application" is an
# entry planted in the store under a made-up application id; the next
# access under this session must evict it.

_OTHER_APP = "some-other-app"


def test_sig_cache_two_sf_dirs_do_not_cross_contaminate(spark):
    """Two fixture dirs served from one session must each get their OWN
    signature table: the fixture key carries sf_dir, a hit returns the same
    handles, and the two tables disagree on content (different corpora)."""
    release_caches(spark)
    sig_a, cand_a = lsh_signatures_and_candidates(spark, "/root/testdata/sf0.001")
    sig_b, cand_b = lsh_signatures_and_candidates(spark, "/root/testdata/sf0.01")
    # same key -> same handles (the store actually memoizes)
    sig_a2, cand_a2 = lsh_signatures_and_candidates(
        spark, "/root/testdata/sf0.001"
    )
    assert sig_a is sig_a2 and cand_a is cand_a2
    assert sig_a is not sig_b
    # content isolation: per-doc signatures differ between the corpora
    rows_a = {r.doc_id: r.sig for r in sig_a.select("doc_id", "sig").collect()}
    rows_b = {r.doc_id: r.sig for r in sig_b.select("doc_id", "sig").collect()}
    common = set(rows_a) & set(rows_b)
    assert common, "fixtures share doc_ids; key isolation untestable"
    assert any(rows_a[d] != rows_b[d] for d in common), (
        "sf0.001 and sf0.01 signature tables are identical — a fixture key "
        "collision would be invisible"
    )
    release_caches(spark)


def _plant_foreign(spark, name):
    """A persisted frame stored as another application's ``name`` entry."""
    foreign = spark.range(10).persist()
    foreign.count()
    assert foreign.storageLevel.useMemory
    key = (_OTHER_APP, os.path.abspath(SF_DIR), name)
    caches._FIXTURES[key] = (foreign, foreign)
    return key, foreign


# each input: the store entry's name, and an access that keeps it there
_ENTRIES = {
    "lsh_signatures": (
        "lsh_signatures",
        lambda spark: lsh_signatures_and_candidates(spark, SF_DIR),
    ),
    "kpl_blobs": ("kpl_blobs", lambda spark: build_kpl_blobs(spark, SF_DIR)),
    # a replay call's record: its scratch dir and its runs' progress
    "replay": (
        "t_foreign/last_call",
        lambda spark: run_replay(
            spark, SF_DIR, "t_foreign", lambda src: src, waves=[spark.range(3)]
        ),
    ),
}


@pytest.mark.parametrize("entry", list(_ENTRIES))
def test_foreign_entry_dropped_on_access(spark, entry):
    """What a query keeps beyond its call lives in the store, and another
    application's entry is dropped on the next access under this session:
    a persisted frame is UNPERSISTED, not just dereferenced, so it cannot
    pin a stopped session (a live multi-session host would otherwise leak
    the materialized block)."""
    name, access = _ENTRIES[entry]
    release_caches(spark)
    access(spark)
    mine = (spark.sparkContext.applicationId, os.path.abspath(SF_DIR), name)
    assert mine in caches._FIXTURES, f"{entry} keeps its value outside the store"
    key, foreign = _plant_foreign(spark, name)
    access(spark)
    assert key not in caches._FIXTURES
    assert not foreign.storageLevel.useMemory, "evicted entry is still persisted"
    release_caches(spark)


def test_same_basename_sf_dirs_get_distinct_interchange_fixtures(spark, tmp_path):
    """``a/sf0.001`` and ``b/sf0.001`` share a final component but hold
    different events: each must round-trip its own copy, also when read
    again after the other's fixture was written."""
    from kitkat_spark.operators.interchange import q_orc_roundtrip

    dirs = []
    other = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    for parent, src in (("a", SF_DIR), ("b", other)):
        d = tmp_path / parent / "sf0.001"
        d.mkdir(parents=True)
        shutil.copyfile(os.path.join(src, "events.parquet"), d / "events.parquet")
        dirs.append(str(d))

    def rows(sf_dir):
        return sorted(tuple(r) for r in q_orc_roundtrip(spark, sf_dir).collect())

    first_a, b = rows(dirs[0]), rows(dirs[1])
    assert first_a != b, "the two copies must differ for the test to bite"
    assert rows(dirs[0]) == first_a
    assert caches.scratch_dir(spark, dirs[0], "events_orc") != caches.scratch_dir(
        spark, dirs[1], "events_orc"
    )


def test_process_exit_removes_its_scratch(tmp_path):
    """A driver that runs a fixture-backed query and a streaming replay,
    then exits without stopping its session, leaves no scratch dir under
    its application id."""
    driver = tmp_path / "driver.py"
    driver.write_text(
        textwrap.dedent(
            f"""
            import glob, sys
            sys.path.insert(0, {REPO!r})
            from kitkat_spark.queries import QUERIES
            from kitkat_spark.session import get_spark

            spark = get_spark(app_name="scratch_exit", shuffle_partitions=2)
            for name in ("q_orc_roundtrip", "q_stream_dedup_wm"):
                QUERIES[name](spark, {SF_DIR!r}).collect()
            app = spark.sparkContext.applicationId
            print("APP", app)
            print("DIRS", len(glob.glob({_SCRATCH_GLOB!r}.format(app=app))))
            """
        )
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, str(driver)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = dict(line.split(" ", 1) for line in r.stdout.splitlines() if " " in line)
    assert int(out["DIRS"]) > 0, "the driver wrote no scratch; test cannot bite"
    assert glob.glob(_SCRATCH_GLOB.format(app=out["APP"])) == []


def test_operators_hold_no_scratch_paths_or_exit_hooks():
    """Scratch locations and their cleanup belong to caches.py alone."""
    ops = os.path.join(REPO, "kitkat_spark", "operators")
    hits = [
        f"{name}: {needle}"
        for name in sorted(os.listdir(ops))
        if name.endswith(".py")
        for needle in ('"/tmp/', "mkdtemp", "atexit")
        if needle in open(os.path.join(ops, name)).read()
    ]
    assert hits == []


def test_sign_lsh_planes_written_once():
    """The md5 sign-LSH hyperplane expression is written once (the
    similarity.py oracle constant every ANN oracle interpolates), so no
    oracle can replay a different plane family than its siblings."""
    ops = os.path.join(REPO, "kitkat_spark", "operators")
    n = sum(
        open(os.path.join(ops, name)).read().count("md5('plane_' ||")
        for name in os.listdir(ops)
        if name.endswith(".py")
    )
    assert n == 1
