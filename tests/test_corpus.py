"""Unit tests for corpus-construction operators (connected components,
chunking invariants, merge action coverage) beyond the oracle parity suite.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kitkat_spark.operators.corpus import (
    CHUNK_STRIDE,
    CHUNK_TOKENS,
    cluster_members,
    connected_components,
    q_chunk_docs,
    q_corpus_mix,
    q_dedup_clusters,
)
from kitkat_spark.operators.warehouse import q_merge_upsert

SF = "/root/testdata/sf0.001"


def test_cc_path_and_islands(spark):
    # path 1-2-3 (diameter 2, needs >1 round), island 7-8, singleton edge 9-9
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (7, 8), (9, 9)], ["src", "dst"]
    )
    got = {
        r["u"]: r["label"] for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 9}


def test_cc_cycle(spark):
    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 10)], ["src", "dst"]
    )
    labels = connected_components(edges).collect()
    assert {r["label"] for r in labels} == {10}


def test_dedup_clusters_canonical_is_min(spark):
    out = q_dedup_clusters(spark, SF).collect()
    assert out, "fixture has near-dup families; clusters must be non-empty"
    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        ids = sorted(m["doc_id"] for m in members)
        assert ids[0] == cid, "cluster id must be the min member"
        canon = [m for m in members if m["is_canonical"]]
        assert len(canon) == 1 and canon[0]["doc_id"] == cid


def test_chunks_cover_and_overlap(spark):
    chunks = q_chunk_docs(spark, SF)
    one = chunks.filter(F.col("doc_id") == 0).orderBy("chunk_id").collect()
    assert one[0]["start"] == 1
    for prev, cur in zip(one, one[1:]):
        assert cur["start"] - prev["start"] == CHUNK_STRIDE
    assert all(c["n_tokens"] <= CHUNK_TOKENS for c in one)
    # reconstruction: stride-aligned prefixes of consecutive chunks re-join
    # to the original text
    full = " ".join(
        " ".join(c["chunk_text"].split(" ")[:CHUNK_STRIDE]) for c in one[:-1]
    )
    assert full == " ".join(
        w for c in one[:-1] for w in c["chunk_text"].split(" ")[:CHUNK_STRIDE]
    )


def test_merge_covers_all_actions(spark):
    actions = {
        r["action"]
        for r in q_merge_upsert(spark, SF).select("action").distinct().collect()
    }
    assert actions == {"update", "keep", "insert"}


def test_corpus_mix_factors(spark):
    mix = q_corpus_mix(spark, SF)
    per_source = {
        r["source"]: r["mx"]
        for r in mix.groupBy("source").agg(F.max("copy").alias("mx")).collect()
    }
    assert per_source["src0"] == 3 and per_source["src1"] == 2
    assert all(v == 1 for s, v in per_source.items() if s not in ("src0", "src1"))


def test_mix_rebalance_rate_bounded_vs_rank(spark):
    """The rate-based variant's documented contract vs the exact-rank one:
    per-source kept counts land within ~sqrt(m) of the exact target m, and
    the keep-sets nearly coincide (u32 = u60 >> 28 — the top 32 bits of
    the rank key, dropping the low 28 — so they can only disagree in the
    acceptance-boundary band)."""
    import math

    from kitkat_spark.operators.corpus import q_mix_rebalance, q_mix_rebalance_rate

    rank = {(r["source"], r["doc_id"]) for r in q_mix_rebalance(spark, SF).collect()}
    rate = {(r["source"], r["doc_id"]) for r in q_mix_rebalance_rate(spark, SF).collect()}
    per_source_m: dict[str, int] = {}
    for s, _ in rank:
        per_source_m[s] = per_source_m.get(s, 0) + 1
    m = min(per_source_m.values())
    assert all(v == m for v in per_source_m.values()), "rank variant is exact-m"

    per_source_rate: dict[str, int] = {}
    for s, _ in rate:
        per_source_rate[s] = per_source_rate.get(s, 0) + 1
    tol = 4 * math.sqrt(m) + 1
    for s in per_source_m:
        n = per_source_rate.get(s, 0)
        assert abs(n - m) <= tol, f"{s}: rate kept {n}, target {m} (tol {tol})"

    overlap = len(rank & rate) / max(len(rank | rate), 1)
    assert overlap >= 0.85, f"keep-sets diverged beyond the boundary band: {overlap}"


def test_dedup_pipeline_stages_agree(spark):
    """The three dedup stages are one pipeline: apply's kept set must be
    exactly (corpus - cluster members) + one keeper per cluster, and the
    keeper must be the canonical_doc q_canonical_docs selects."""
    from kitkat_spark.operators.corpus import (
        cluster_members,
        q_canonical_docs,
        q_dedup_apply,
    )
    from kitkat_spark.sources import load_table

    members = {
        (r["doc_id"], r["cluster_id"])
        for r in cluster_members(spark, SF).collect()
    }
    canon = {r["cluster_id"]: r["canonical_doc"] for r in q_canonical_docs(spark, SF).collect()}
    kept = {r["doc_id"]: r["kept_as"] for r in q_dedup_apply(spark, SF).collect()}
    all_docs = {
        r["doc_id"] for r in load_table(spark, SF, "documents").select("doc_id").collect()
    }

    member_ids = {d for d, _ in members}
    assert set(canon) == {c for _, c in members}, "every cluster gets a canonical row"
    # kept = singletons + exactly the canonical member of each cluster
    expected_kept = (all_docs - member_ids) | set(canon.values())
    assert set(kept) == expected_kept
    assert {d for d, k in kept.items() if k == "canonical"} == set(canon.values())
    assert {d for d, k in kept.items() if k == "singleton"} == all_docs - member_ids


def test_members_dir_cleanup_removes_created_dirs(spark):
    """Membership dirs are removed with their application's scratch, and
    the store drops the entry, so no memo points at a deleted dir. Within
    the session a re-cluster never removes or overwrites the dir an
    earlier ``cluster_members`` frame still lists. Another application is
    stood in by an entry planted under a made-up id (one process holds one
    live SparkContext); the next access under this session evicts it."""
    import os

    from kitkat_spark import caches

    fake = os.path.join(caches.SCRATCH_ROOT, "fake-app")
    d = os.path.join(fake, "members", "x")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-0.parquet"), "wb") as f:
        f.write(b"x")
    key = ("fake-app", os.path.abspath(SF), "members")
    caches._FIXTURES[key] = d
    caches._APPS.add("fake-app")

    before = cluster_members(spark, SF)
    n = before.count()
    assert not os.path.exists(fake)
    assert key not in caches._FIXTURES

    q_dedup_clusters(spark, SF).count()
    assert before.count() == n, "re-clustering broke an earlier members frame"


def test_cdc_chunks_shift_resilient(spark):
    """THE property content-defined chunking exists for: prepending tokens
    to a document perturbs only the chunks up to the first shared boundary;
    every later chunk keeps its fingerprint. A fixed-stride chunker (e.g.
    q_span_dedup's spans) would lose ALL alignment after an insertion."""
    import random

    from kitkat_spark.operators.corpus import cdc_chunks

    rng = random.Random(7)
    base = " ".join(rng.choice("alpha beta gamma delta epsilon zeta".split())
                    for _ in range(400))
    shifted = "inserted tokens at the very front " + base
    docs = spark.createDataFrame(
        [(1, base, "s"), (2, shifted, "s")], "doc_id long, text string, source string"
    )
    rows = cdc_chunks(docs).collect()
    fps = {d: [r.fp for r in sorted(rows, key=lambda r: r.chunk_idx)
               if r.doc_id == d] for d in (1, 2)}
    # the tail chunks realign: a long common suffix of identical fps
    common_tail = 0
    for a, b in zip(reversed(fps[1]), reversed(fps[2])):
        if a != b:
            break
        common_tail += 1
    assert common_tail >= max(3, len(fps[1]) - 3), (common_tail, len(fps[1]))
    # and the heads differ (the insertion landed somewhere)
    assert fps[1][0] != fps[2][0]
