#!/usr/bin/env python
"""10x scale stress run: build an sf~1 dataset by replicating sf0.1 with
shifted keys, then time a representative query subset against both scales
and report the scaling ratio per query.

Purpose: the fixtures stop at sf0.1; this is the cheapest honest probe for
scaling cliffs (quadratic candidate growth, window-state blowup, broadcast
limits) before a real cluster run. Replicas keep the SAME dimension keys
(more facts per customer/part — how a warehouse actually grows) and get
unique fact keys (doc_id/event_id/orderkey shifted by replica stride).
Document text gets a per-replica prefix token, so replicas stay NEAR-dups
of each other (jaccard ~0.97) — deliberately adversarial for the dedup
family: a 10x-duplicated corpus is exactly what a dedup pass sees in
production, and it exercises the bucket-cap guards.

Usage: python tools/stress.py [--build-only] [--factor N]
Writes /tmp/kitkat_stress_sfN/*.parquet once (reused across runs); prints
one JSON line {query: {base_sec, stress_sec, ratio}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from kitkat_spark.queries import QUERIES
from kitkat_spark.session import get_spark

BASE = "/root/testdata/sf0.1"

# One representative per family; dedup/similarity included on purpose —
# they are where quadratic cliffs would live.
SUBSET = [
    "q_agg_group",
    "q_forecast_revenue",
    "q_hash_join",
    "q_mjoin_region_revenue",
    "q_waiting_orders",
    "q_skew_join_salted",
    "q_window_rank",
    "q_stream_tumbling",
    "q_sessionize",
    "q_token_count",
    "q_winnow_fingerprint",
    "q_tfidf",
    "q_dedup",
    "q_near_dedup",
    "q_ngram_jaccard",
    "q_simhash",
    "q_incremental_dedup",
    "q_ann_ivf",
    "q_ann_multiprobe",
    "q_embedding_near_dup",
    "q_similarity_search",
    "q_pack_sequences",
    "q_stream_dedup_wm",
    "q_shuffle_shards",
    # round-5 additions. q_span_dedup: replicas are near-identical docs, so
    # almost every span collects ~10 copies under one window key — hot-key
    # probe. q_triangle_count: replicated lineitems repeat the same part
    # pairs, multiplying co-occurrence support x10 — the support threshold
    # ADMITS far more edges at 10x (deliberate densification probe).
    # q_pagerank: |E| growth is sub-linear (same dim keys) but per-round
    # join volume tracks it. q_count_min: the grid is fixed-size — must be
    # flat. q_bloom_join / q_stream_interval_join_wm: linear scan + state.
    "q_span_dedup",
    "q_count_min",
    "q_triangle_count",
    "q_pagerank",
    "q_bloom_join",
    "q_stream_interval_join_wm",
    # round-6: the production auto-threshold salted join — rows-per-task
    # sizing must classify ~0 keys hot on uniform data at ANY scale, so the
    # ratio should track the plain join (~1x), unlike the fixture-pinned
    # q_skew_join_salted (3.5x at 10x, expected: threshold=4 misclassifies)
    "q_skew_join_auto",
    # single-pass HLL profiler: fixed-size sketch state, must be ~linear
    "q_column_profile_approx",
    # round-6 corpus additions: LM scoring (support-bounded broadcast LM),
    # canonical selection (post-cluster, cluster-keyed), mix rebalance
    # (per-source rank window) — all must track corpus size ~linearly
    "q_lm_score",
    "q_canonical_docs",
    "q_mix_rebalance",
    # round-7: rate-based rebalance (scan + broadcast filter — must track
    # the scan, ~1x) and the clustering stage that now also materializes
    # the shared membership table
    "q_mix_rebalance_rate",
    "q_dedup_clusters",
    "q_dedup_apply",
    "q_ann_recall",
    "q_embedding_quantize",
    "q_minhash_accuracy",
    # audit passes: narrow maps + tiny aggs, must be ~linear
    "q_lang_mismatch",
    "q_embedding_audit",
    # round-8: the acceptance test re-runs the detector over the KEPT
    # corpus (10x replicas are near-dups of each other, so the kept set
    # stays ~base-sized — cost must track the kept corpus, not the input);
    # the recall audit is two bucket-local index probes + brute force over
    # a fixed query panel; the ingest rebalancer is a stateless filter
    "q_dedup_verify",
    "q_ann_recall_multiprobe",
    "q_stream_mix_rebalance",
    # single-pass per-source audits: one agg shuffle each, must be ~linear
    # (token-domain / source-count state, never corpus-sized)
    "q_oov_rate",
    "q_pack_efficiency",
    # gap-fill densifies the AGGREGATE: 10x raw rows, same hour x type
    # grid — post-agg stages must be flat, total must track the one scan.
    # edit-distance dedup: q_passjoin_dedup's probe expansion is a constant
    # per doc and its hot keys are exactly the repeated near-identical text.
    "q_gap_fill",
    "q_passjoin_dedup",
    # partitioned write + pruned scan: first call pays the 10x write, the
    # pruned read still touches only 7/30 of the directories
    "q_partition_prune",
    # real streaming run over 10x rows into the same hour x type window
    # state — cost tracks input rows, state tracks the watermark horizon
    "q_stream_gap_fill",
    # round-12: the layered ANN must track the bucketed index build (~one
    # scan + the <2x layer fan-out, never all-pairs); its recall audit adds
    # the fixed-panel brute-force side; the S-curve audit rides the
    # minhash-accuracy candidate pipeline (replica near-dups densify the
    # pair population — the adversarial case); the PII battery is a
    # stateless narrow map and must track the scan
    "q_ann_hnsw",
    "q_ann_recall_hnsw",
    "q_lsh_tuning",
    "q_pii_redact",
    # round-12 late additions: the occupancy histogram must track the index
    # build (one scan + two shrinking aggs — the histogram domain is
    # occupancy levels, never rows); the per-source S-curve rides the same
    # pair-densified candidate population as q_lsh_tuning (emit-bound by
    # construction, post-pair stage a (sources+1)x6-row aggregate)
    "q_ann_index_stats",
    "q_lsh_source_curve",
]


def build(spark, out: str, factor: int) -> None:
    os.makedirs(out, exist_ok=True)
    for small in ("region", "nation", "customer", "supplier", "part"):
        spark.read.parquet(f"{BASE}/{small}.parquet").write.mode("overwrite").parquet(
            f"{out}/{small}.parquet"
        )

    def max_plus_one(name: str, col: str) -> int:
        df = spark.read.parquet(f"{BASE}/{name}.parquet")
        return df.agg(F.max(col)).collect()[0][0] + 1

    def replicate(name: str, shifts: dict[str, int], extra=None):
        df = spark.read.parquet(f"{BASE}/{name}.parquet")
        parts = []
        for i in range(factor):
            p = df
            for col, stride in shifts.items():
                p = p.withColumn(col, F.col(col) + F.lit(i * stride))
            if extra is not None:
                p = extra(p, i)
            parts.append(p)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.write.mode("overwrite").parquet(f"{out}/{name}.parquet")

    # ONE shared orderkey stride for orders AND lineitem: independently
    # derived strides (max o_orderkey vs max l_orderkey) diverge whenever the
    # top orders carry no lineitems, silently mis-joining every replica
    order_stride = max_plus_one("orders", "o_orderkey")
    replicate("orders", {"o_orderkey": order_stride})
    replicate("lineitem", {"l_orderkey": order_stride})
    replicate("events", {"event_id": max_plus_one("events", "event_id")})
    replicate(
        "documents",
        {"doc_id": max_plus_one("documents", "doc_id")},
        extra=lambda p, i: p.withColumn(
            "text", F.concat(F.lit(f"rep{i} "), F.col("text"))
        ),
    )
    replicate("embeddings", {"vec_id": max_plus_one("embeddings", "vec_id")})


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--build-only", action="store_true")
    ap.add_argument("--queries", nargs="*", default=SUBSET)
    args = ap.parse_args()

    out = f"/tmp/kitkat_stress_sf{args.factor}"
    spark = get_spark(app_name="kitkat_stress")
    if not os.path.exists(f"{out}/documents.parquet"):
        t0 = time.time()
        build(spark, out, args.factor)
        print(f"# built {out} in {time.time() - t0:.0f}s", file=sys.stderr)
    if args.build_only:
        return

    # warm codegen + python workers on the small side first
    QUERIES["q_scan_filter"](spark, BASE).count()

    from kitkat_spark.caches import release_caches

    def drop_persisted():
        release_caches(spark)

    results = {}
    for name in args.queries:
        t0 = time.time()
        QUERIES[name](spark, BASE).count()
        base_s = round(time.time() - t0, 2)
        drop_persisted()
        t0 = time.time()
        QUERIES[name](spark, out).count()
        stress_s = round(time.time() - t0, 2)
        drop_persisted()
        ratio = round(stress_s / base_s, 1) if base_s > 0.01 else None
        results[name] = {"base_sec": base_s, "stress_sec": stress_s, "ratio": ratio}
        print(f"# {name}: {base_s}s -> {stress_s}s ({ratio}x)", file=sys.stderr)
    print(json.dumps({"factor": args.factor, "queries": results}))


if __name__ == "__main__":
    main()
