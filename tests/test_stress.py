"""Opt-in scale-regression sweeps: the SCALE_NOTES.md headline claims as
assertions instead of prose (`pytest -m stress tests/test_stress.py`).

These reuse the fixture builders and probes in tools/ (stress.py,
stream_state_stress.py) at factor 10 and assert the two load-bearing
100 TB claims:

- the LSH/dedup candidate pipelines scale SUB-LINEARLY in wall time at
  10x data (bucket caps bound candidate volume), and the rate-based
  rebalancer stays scan-bound;
- watermarked streaming state tracks the watermark horizon (peak state =
  ~one micro-batch's key volume), not the stream length, and rows are
  actually evicted.

Deliberately excluded from the default suite (see pytest.ini): the 10x
fixture build writes ~sf1 parquet to /tmp (~2 min first run, reused
after). Wall-time assertions use generous bounds (sub-linear means
"ratio well under the 10x data growth", not a tight constant) so an
honest regression fails but machine noise does not.
"""

from __future__ import annotations

import time

import pytest

pytestmark = pytest.mark.stress

BASE = "/root/testdata/sf0.1"
FACTOR = 10


@pytest.fixture(scope="module", autouse=True)
def _full_parallelism_shuffle(spark):
    """The shared test session pins shuffle.partitions=8 (right for the
    sf0.001 unit fixtures, 4x fewer sort/exchange tasks); at 10x-sf0.1
    stress volume that throttles the shuffle-heavy verifies to a quarter
    of the machine and inflated q_passjoin_dedup's measured ratio 2x
    (46 s vs 21 s at 10x). Stress timings must run the BENCH/driver shape:
    partitions ≈ cores, AQE coalescing the small ones back down."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(spark.sparkContext.defaultParallelism),
    )
    yield
    spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.fixture(scope="module")
def stress_dir(spark):
    import os

    from tools.stress import build

    out = f"/tmp/kitkat_stress_sf{FACTOR}"
    if not os.path.exists(f"{out}/documents.parquet"):
        build(spark, out, FACTOR)
    return out


def _timed(spark, name, sf_dir, runs: int = 3):
    """Median of ``runs`` timed executions: single cold runs near the
    ratio floor inflate the ratio on a loaded machine and flake the suite
    despite no regression (round-8 review nit)."""
    from kitkat_spark.caches import release_caches
    from kitkat_spark.queries import QUERIES

    samples = []
    for _ in range(runs):
        release_caches(spark)
        t0 = time.time()
        QUERIES[name](spark, sf_dir).count()
        samples.append(time.time() - t0)
    return sorted(samples)[len(samples) // 2]


def test_batch_dedup_family_sublinear_at_10x(spark, stress_dir):
    """The candidate-bounded pipelines (SCALE_NOTES ratio table): at 10x
    data the LSH/inverted-index family must stay well under linear
    scaling, and the rate-based rebalancer must stay scan-bound."""
    from kitkat_spark.queries import QUERIES

    # warm codegen/Python workers once so base timings measure the query
    QUERIES["q_scan_filter"](spark, BASE).count()

    bounds = {
        # bucket-capped candidate generation: sub-linear by design
        "q_near_dedup": 6.0,
        "q_ngram_jaccard": 6.0,
        "q_simhash": 6.0,
        # scan + broadcast-filter: must track the scan (~1x), bound leaves
        # room for the multi-file scan speedup/noise band
        "q_mix_rebalance_rate": 4.0,
        # aggregate-first densify: post-agg stages are grid-sized, so the
        # whole delta is the one scan
        "q_gap_fill": 3.0,
        # PassJoin is EMIT-BOUND: true pairs grow ~25x on the replica
        # fixture (250k verified at 10x) and the banded-DP verify prices
        # 1.4M near-miss candidates — that ~20s 10x floor is the
        # algorithm's output cost, not a plan defect (profiled r9:
        # candidates 5.3s, join-backs 0.5s, levenshtein 10.6s). The r9
        # base speedup (5.1 -> 2.4s via the checkpointed projection)
        # halved the DENOMINATOR, so the honest ratio is ~9-10, not the
        # old 3.6; bound tracks output growth, with noise headroom
        "q_passjoin_dedup": 13.0,
        # corpus-sized k keeps within-cell pairs linear (measured 1.8x;
        # the fixed-k version read 23.8x — this row keeps that disease
        # from coming back)
        "q_semdedup": 5.0,
        # chunk stream linear in the corpus; fp window priced by chunks
        "q_cdc_chunk": 4.0,
        # HLL: register build is one partial-agg shuffle (key domain =
        # groups x 64); the exact-distinct verify side carries the scaling
        "q_hll_distinct": 5.0,
        # pair counting runs on the vocab-domain table; the corpus pass
        # is the only data-sized stage (measured 0.8x at 10x)
        "q_bpe_pairs": 5.0,
        # skyline: one bucket-key shuffle + domain-sized prefix relation
        # (q_binary_ingest is constant-input by fixture design — excluded)
        "q_skyline": 4.0,
        # EWMA: one entity-key shuffle + per-group fold (measured 0.6x)
        "q_ewma": 4.0,
        # robust stats: tiny percentile aggs broadcast back, scan-bound
        "q_anomaly_mad": 4.0,
        "q_winsorize": 4.0,
        # KMV: distinct shuffle of 8-byte hashes + fixed-size sketches
        "q_kmv_intersect": 4.0,
        # RRF: two TakeOrdered legs + 50-row fusion join (measured 1.0x)
        "q_rrf_fusion": 4.0,
        # sweep line: fact collapses to calendar-day deltas pre-window
        "q_active_intervals": 4.0,
        # chi2/KS: one combinable corpus shuffle, domain-sized downstream
        "q_chi2_tokens": 4.0,
        "q_ks_drift": 4.0,
        # columnar read path, column-pruned rollup (write cached/session)
        "q_orc_roundtrip": 4.0,
        # streaming harness + O(1)-state per-group fold (measured 0.6x)
        "q_stream_ewma": 4.0,
        # KN smoothing lives on the checkpointed vocab^2 bigram-type
        # table; the corpus pass is the only data-sized stage (1.0x)
        "q_kn_bigram": 4.0,
        # map-side per-doc pair fan-out, vocab^2 agg domain (measured
        # 2.2x — fan-out CPU, not shuffle; bound leaves noise room)
        "q_assoc_rules": 6.0,
        # one user-key sort; |event_type|^2 agg domain (measured 1.2x)
        "q_markov_transitions": 4.0,
        # broadcast anchors, map-side cosines, anchor-sized stitch (0.9x)
        "q_triplet_mining": 4.0,
        # one 8-byte shingle-hash shuffle each (1.2x / 1.1x)
        "q_ngram_novelty": 4.0,
        "q_source_overlap": 4.0,
        # micro-batch harness over 10x windows; state = one count per
        # live (window, type); z-score at read time (measured 1.8x)
        "q_stream_anomaly_wm": 5.0,
        # round-10 additions (measured 10x ratios in parens, SCALE_NOTES):
        # histogram-offset rank + range exchange, both corpus-linear (0.9x)
        "q_curriculum": 4.0,
        # WindowGroupLimit keeps the shuffle at ~k rows/(task,group) (1.0x)
        "q_reservoir_sample": 4.0,
        # 3 fixed message-passing rounds; edge list checkpointed once;
        # vote agg combines map-side (1.4x)
        "q_label_prop": 5.0,
        # one user-keyed sort shared by both session windows; path table
        # |event_type|^N-bounded (0.9x)
        "q_session_paths": 4.0,
        # trigram-type/continuation tables vocab-bounded; the corpus
        # explode+agg is the only data-sized stage (1.2x)
        "q_kn_trigram": 4.0,
        # CMS state fixed per live window; probes broadcast (1.2x)
        "q_stream_cms_wm": 4.0,
        # one CUBE shuffle over a tiny key domain (1.2x)
        "q_dataset_card": 4.0,
        # privacy trio: one combinable shuffle each, qid/source-bounded
        # key domains (0.9x / 0.8x / 1.0x)
        "q_kanon_audit": 4.0,
        "q_dp_counts": 4.0,
        "q_weighted_reservoir": 4.0,
        # (qid, lang) combinable shuffle, schema-bounded domain (1.1x)
        "q_ldiv_audit": 4.0,
        # real-codec media family: Arrow-batched shuffle-free maps, wall
        # tracks the per-doc encode+decode Python (measured 1.3x/1.0x/1.0x
        # at 10x with all three modalities decoding for real)
        "q_multimodal_decode": 4.0,
        "q_media_resize": 4.0,
        "q_frame_sample": 4.0,
        # round-11 additions (measured 10x ratios in parens, SCALE_NOTES
        # "round-11 ratio rows"):
        # exact-integer TVD over the schema-bounded qid x lang cells
        # (0.7x — the multi-file stress scan out-parallelizes the base)
        "q_tclose_audit": 4.0,
        # stride-1 gram stream: token-linear fan-out + ONE count-over-fp
        # shuffle; the data-sized shuffle makes this the family's honest
        # linear-cost member — bound leaves dup-density headroom (1.3x)
        "q_lcp_dedup": 6.0,
        # partition BLAS: Arrow transfer linear, partials fixed per
        # partition, cell agg on the 2080-key domain (1.2x)
        "q_gram_blocked": 4.0,
        # rides q_lm_score's bigram fan-out + per-doc agg; calibration
        # rollup is |sources| x ~15 bins (1.1x)
        "q_lm_calibration": 6.0,
        # micro-batch harness + per-(user, open-session) state bounded by
        # the watermark horizon; read-time rollup path-domain-sized (1.3x)
        "q_stream_session_paths": 5.0,
    }
    failures = []
    for name, max_ratio in bounds.items():
        base_s = _timed(spark, name, BASE)
        stress_s = _timed(spark, name, stress_dir)
        ratio = stress_s / max(base_s, 0.1)
        if ratio > max_ratio:
            failures.append((name, round(base_s, 2), round(stress_s, 2), round(ratio, 1)))
    assert not failures, f"10x wall-time ratios exceeded bounds: {failures}"


@pytest.fixture(scope="module")
def stress_dir_20(spark):
    import os

    from tools.stress import build

    out = "/tmp/kitkat_stress_sf20"
    if not os.path.exists(f"{out}/documents.parquet"):
        build(spark, out, 20)
    return out


def test_r8_audit_queries_sublinear_at_20x(spark, stress_dir_20):
    """The round-8 audit queries' 20x rows (round-8 verdict next-round #8):
    q_oov_rate is one scan + a broadcast-vocab join, q_pack_efficiency is
    three per-source integer aggs over the pack assignment — both must
    track the scan, nowhere near the 20x data growth. Measured r9:
    oov 1.2x, pack_efficiency 1.5x at 20x data (SCALE_NOTES)."""
    from kitkat_spark.queries import QUERIES

    QUERIES["q_scan_filter"](spark, BASE).count()
    bounds = {"q_oov_rate": 5.0, "q_pack_efficiency": 5.0}
    failures = []
    for name, max_ratio in bounds.items():
        base_s = _timed(spark, name, BASE)
        stress_s = _timed(spark, name, stress_dir_20)
        ratio = stress_s / max(base_s, 0.1)
        if ratio > max_ratio:
            failures.append((name, round(base_s, 2), round(stress_s, 2), round(ratio, 1)))
    assert not failures, f"20x wall-time ratios exceeded bounds: {failures}"


def test_stream_dedup_state_flat_at_10x(spark):
    """Watermarked streaming dedup at a 10x-longer stream (same key rate):
    peak state must stay at ~one replica's key volume (the watermark
    horizon), eviction must actually happen, and the final state must be
    a tiny residue — the numbers SCALE_NOTES records, asserted."""
    from kitkat_spark.streaming.analytics import stream_dedup
    from tools.stream_state_stress import build_stretched, run_shape

    from kitkat_spark.sources import load_table

    schema = (
        load_table(spark, BASE, "events")
        .select("event_id", "user_id", "event_type", "value", "ts")
        .schema
    )
    path = build_stretched(spark, FACTOR)
    r = run_shape(
        spark,
        "pytest_dedup_wm",
        path,
        schema,
        lambda s: stream_dedup(s, keys=["event_id"]).select(
            "event_id", "user_id", "event_type"
        ),
    )
    n_events = load_table(spark, BASE, "events").count()
    assert r["input_rows"] == 2 * n_events * FACTOR  # doubled, 10 replicas
    # peak state = one replica's key volume (+50% slack), NOT the stream
    assert r["peak_state_rows"] <= 1.5 * n_events, r
    # state was actually evicted as the watermark advanced
    assert r["total_evicted"] >= 0.8 * n_events * FACTOR, r
    # final state is the watermark-horizon residue, far below the peak
    assert r["final_state_rows"] <= 0.01 * r["peak_state_rows"] + 100, r
