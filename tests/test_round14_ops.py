"""Semantic-invariant tests for the round-14 operators (the
test_round10..13_ops.py discipline): each new operator gets at least one
property the oracle-parity hash can't state on its own — identities the
implementation relies on, dominance relations, cross-operator consistency.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ------------------------------------------------ ANN index delete/compact
def test_index_delete_tombstones_are_semdedup_drops(spark):
    """The tombstone wave must be EXACTLY q_semdedup's drop set: total
    tombstoned == count of is_kept = false, and the audit must balance
    bucket-by-bucket (before = tombstoned + live) with the independent
    survivor rebuild agreeing everywhere (compacted)."""
    from kitkat_spark.operators.similarity import (
        q_ann_index_delete,
        q_semdedup,
    )

    rows = q_ann_index_delete(spark, SF).collect()
    assert rows, "empty delete audit"
    for r in rows:
        assert r.n_before == r.n_tombstoned + r.n_live, r
        assert r.compacted and r.n_live == r.n_rebuilt, r
        assert r.reclaimed_bucket == (r.n_tombstoned > 0 and r.n_live == 0), r
    n_drops = q_semdedup(spark, SF).filter(~F.col("is_kept")).count()
    assert n_drops > 0, "fixture must flag at least one semantic duplicate"
    assert sum(r.n_tombstoned for r in rows) == n_drops


def test_index_delete_preserves_survivor_index(spark):
    """Compaction must not disturb survivors: the live occupancy summed
    over buckets equals the index size minus the drop count, and equals
    the from-scratch occupancy of the survivor set."""
    from kitkat_spark.operators.similarity import (
        _bucketed_index,
        q_ann_index_delete,
    )

    rows = q_ann_index_delete(spark, SF).collect()
    emb, _ = _bucketed_index(spark, SF)
    total = emb.count()
    tomb = sum(r.n_tombstoned for r in rows)
    assert sum(r.n_live for r in rows) == total - tomb
    assert sum(r.n_rebuilt for r in rows) == total - tomb


# --------------------------------------------- streaming boilerplate twin
def test_stream_boilerplate_matches_batch_on_sealed_horizon(spark):
    """The streaming dictionary classification must equal the BATCH
    q_boilerplate_coverage computed over only the sealed docs — the
    defining byte-equivalence of the twin (here checked semantically;
    the driver hash checks it against DuckDB)."""
    from kitkat_spark.operators.corpus import q_boilerplate_coverage
    from kitkat_spark.operators.streamparity import (
        DOC_WM_MINUTES,
        q_stream_boilerplate,
    )
    from kitkat_spark.functions.text import tokens
    from kitkat_spark.sources import load_table

    got = {r.doc_id: r for r in q_stream_boilerplate(spark, SF).collect()}
    assert got, "no sealed docs"
    # sealed horizon in doc_id space over token-bearing docs
    d = (
        load_table(spark, SF, "documents")
        .select("doc_id", tokens(F.col("text")).alias("w"))
        .filter(F.size("w") >= 3)
    )
    mx = d.agg(F.max("doc_id")).first()[0]
    sealed = {
        r.doc_id
        for r in d.select("doc_id").collect()
        if (r.doc_id // 60 + 1) * 60 <= mx - DOC_WM_MINUTES
    }
    assert set(got) == sealed
    # batch twin over the full corpus has MORE docs; restricting its df
    # threshold universe changes values, so recompute the invariant
    # only on structure: every sealed doc's gram count matches the batch
    # query's n_grams (grams are per-doc, horizon-independent)
    batch = {
        r.doc_id: r for r in q_boilerplate_coverage(spark, SF).collect()
    }
    for doc_id, r in got.items():
        assert r.n_grams == batch[doc_id].n_grams
        assert 0 <= r.n_boiler <= r.n_grams
        # HALF_UP micro-units (Spark F.round), not Python banker's round
        micro = int(r.n_boiler * 10000 / r.n_grams + 0.5)
        assert abs(r.boiler_frac - micro / 10000.0) < 1e-9


def test_stream_boilerplate_flags_commodity(spark):
    """The sealed corpus must actually contain commodity grams (df above
    the threshold) — otherwise the audit is vacuous."""
    from kitkat_spark.operators.streamparity import q_stream_boilerplate

    agg = (
        q_stream_boilerplate(spark, SF)
        .agg(F.sum("n_boiler").alias("b"), F.sum("n_grams").alias("g"))
        .first()
    )
    assert agg.g > 0 and 0 < agg.b <= agg.g


# ------------------------------------------- incremental PassJoin at ingest
def test_stream_passjoin_equals_batch_restricted(spark):
    """Byte-equivalence with the from-scratch batch PassJoin restricted to
    pairs whose LATER member is ingested (the round-13 verdict's done
    criterion), plus the complement: corpus-internal pairs never leak."""
    from kitkat_spark.operators.dedup import q_passjoin_dedup
    from kitkat_spark.operators.streamparity import q_stream_passjoin
    from kitkat_spark.sources import load_table

    cut = (
        load_table(spark, SF, "documents")
        .agg(F.expr("(max(doc_id) + 1) * 4 div 5"))
        .first()[0]
    )
    got = {
        (r.doc_a, r.doc_b): (r.lev, r.rel_dist)
        for r in q_stream_passjoin(spark, SF).collect()
    }
    want = {
        (r.doc_a, r.doc_b): (r.lev, r.rel_dist)
        for r in q_passjoin_dedup(spark, SF).collect()
        if max(r.doc_a, r.doc_b) >= cut
    }
    assert got == want
    assert got, "fixture must contain at least one ingested near-dup pair"
    assert all(max(a, b) >= cut for a, b in got)


def test_stream_passjoin_crosses_waves(spark):
    """The standing index must grow between waves: at least one discovered
    pair must span the corpus and an ingest wave (a-side below the cut),
    proving the stream-static join actually consults the standing state,
    not just the arriving batch."""
    from kitkat_spark.operators.streamparity import q_stream_passjoin
    from kitkat_spark.sources import load_table

    cut = (
        load_table(spark, SF, "documents")
        .agg(F.expr("(max(doc_id) + 1) * 4 div 5"))
        .first()[0]
    )
    pairs = [
        (r.doc_a, r.doc_b) for r in q_stream_passjoin(spark, SF).collect()
    ]
    assert any(a < cut <= b for a, b in pairs), (
        "no corpus-to-ingest pair discovered; standing index unused?"
    )


# ----------------------------------------------------- fertility drift
def test_fertility_drift_trailing_is_cumulative(spark):
    """Per source, the trailing ratios must equal the exact cumulative
    recomputation from the bucket sums, the first bucket must be NULL,
    and the flag must fire somewhere (non-vacuous on the fixture)."""
    from collections import defaultdict

    from kitkat_spark.operators.textops import (
        FERT_DRIFT_PCT,
        q_fertility_drift,
    )

    rows = sorted(
        q_fertility_drift(spark, SF).collect(),
        key=lambda r: (r.source, r.bucket),
    )
    by_src = defaultdict(list)
    for r in rows:
        by_src[r.source].append(r)
    assert any(r.drift for r in rows), "drift flag never fires on fixture"
    for src, rs in by_src.items():
        cw = ct = cc = 0
        for i, r in enumerate(rs):
            if i == 0:
                assert r.trailing_fertility is None and r.drift is None
            else:
                ft = round(ct / cw * 10000)
                ctr = round(cc / ct * 10000)
                assert r.trailing_fertility == ft / 10000.0
                assert r.trailing_cpt == ctr / 10000.0
                fm = round(r.fertility * 10000)
                cm = round(r.chars_per_token * 10000)
                want = (
                    abs(fm - ft) * 100 > ft * FERT_DRIFT_PCT
                    or abs(cm - ctr) * 100 > ctr * FERT_DRIFT_PCT
                )
                assert r.drift == want
            cw += r.n_words
            ct += r.n_tokens
            cc += r.n_chars


# ------------------------------------------- ANN index update-in-place
def test_index_update_conserves_and_balances(spark):
    """An update wave only MOVES vectors: total occupancy is conserved
    (sum n_before == sum n_after == sum n_rebuilt), the delete half and
    insert half of the move are the same set (sum n_out == sum n_in ==
    bucket-changing drifted vectors), and the incremental n_after agrees
    with the from-scratch post-update rebuild everywhere (updated)."""
    from kitkat_spark.operators.similarity import (
        ANN_UPD_MOD,
        _bucketed_index,
        _make_sign_sig_udf,
        q_ann_index_update,
    )

    rows = q_ann_index_update(spark, SF).collect()
    assert rows, "empty update audit"
    for r in rows:
        assert r.n_after == r.n_before - r.n_out + r.n_in, r
        assert r.updated and r.n_after == r.n_rebuilt, r
    assert sum(r.n_before for r in rows) == sum(r.n_after for r in rows)
    assert sum(r.n_out for r in rows) == sum(r.n_in for r in rows)
    emb, n_planes = _bucketed_index(spark, SF)
    sig = _make_sign_sig_udf(n_planes)
    n_moved = (
        emb.filter(F.col("vec_id") % ANN_UPD_MOD == 0)
        .withColumn("nb", sig(F.reverse("v")))
        .filter(F.col("nb") != F.col("bucket"))
        .count()
    )
    assert n_moved > 0, "fixture wave must move at least one vector"
    assert sum(r.n_out for r in rows) == n_moved


# --------------------------------------------- PassJoin index delete-wave
def test_passjoin_delete_balances_and_compacts(spark):
    """Per posting-list key: before = retired + live, the filter-rewrite
    equals the from-scratch re-expansion (compacted — index rows are pure
    per-doc functions), and the segment structure's totals are exactly
    13 rows per indexed doc / per retired doc."""
    from kitkat_spark.operators.dedup import (
        _PASS_M,
        PASS_DEL_MOD,
        PASS_DEL_RESIDUE,
        q_passjoin_delete,
    )
    from kitkat_spark.sources import load_table

    rows = q_passjoin_delete(spark, SF).collect()
    assert rows, "empty delete audit"
    for r in rows:
        assert r.n_before == r.n_retired + r.n_live, r
        assert r.compacted and r.n_live == r.n_rebuilt, r
        assert r.reclaimed == (r.n_retired > 0 and r.n_live == 0), r
    d = load_table(spark, SF, "documents").filter(F.col("n_chars") >= _PASS_M)
    n_docs = d.count()
    n_ret = d.filter(
        F.col("doc_id") % PASS_DEL_MOD == PASS_DEL_RESIDUE
    ).count()
    assert n_ret > 0, "fixture wave must retire at least one doc"
    seg = [r for r in rows if r.structure == "segments"]
    assert sum(r.n_before for r in seg) == _PASS_M * n_docs
    assert sum(r.n_retired for r in seg) == _PASS_M * n_ret


# --------------------------------------------- streaming fertility drift
def test_stream_fertility_seals_exactly_the_horizon(spark):
    """Every emitted cohort must be a SEALED window ((bucket + 1) * 60 <=
    max doc_id - watermark), the sealed doc counts must cover exactly the
    sealed docs, and each source's first cohort has NULL trailing columns
    and NULL drift while every later cohort has both populated."""
    from kitkat_spark.operators.streamparity import (
        DOC_WM_MINUTES,
        q_stream_fertility,
    )
    from kitkat_spark.sources import load_table

    rows = q_stream_fertility(spark, SF).collect()
    assert rows, "no sealed cohorts"
    docs = load_table(spark, SF, "documents")
    mx = docs.agg(F.max("doc_id")).first()[0]
    n_sealed_docs = docs.filter(
        (F.expr("doc_id div 60") + 1) * 60 <= mx - DOC_WM_MINUTES
    ).count()
    for r in rows:
        assert (r.bucket + 1) * 60 <= mx - DOC_WM_MINUTES, r
    assert sum(r.n_docs for r in rows) == n_sealed_docs
    first = {}
    for r in sorted(rows, key=lambda r: (r.source, r.bucket)):
        if r.source not in first:
            first[r.source] = r.bucket
            assert r.trailing_fertility is None and r.drift is None, r
        else:
            assert r.trailing_fertility is not None and r.drift is not None, r


# ------------------------------------------ per-source boilerplate blame
def test_boilerplate_sources_rolls_up_coverage(spark):
    """The per-source attribution must be the exact roll-up of the per-doc
    audit: hit and boiler-hit totals match q_boilerplate_coverage summed
    over docs, per-source doc counts partition the token-bearing corpus,
    and dominance is unique per gram (a strict majority can't be shared),
    so the dominated totals sum to at most the commodity-gram count."""
    from kitkat_spark.operators.corpus import (
        q_boilerplate_coverage,
        q_boilerplate_sources,
    )

    per_doc = q_boilerplate_coverage(spark, SF).collect()
    per_src = q_boilerplate_sources(spark, SF).collect()
    assert per_src, "no sources"
    assert sum(r.n_hits for r in per_src) == sum(r.n_grams for r in per_doc)
    assert sum(r.n_boiler_hits for r in per_src) == sum(
        r.n_boiler for r in per_doc
    )
    assert sum(r.n_docs for r in per_src) == len(per_doc)
    assert any(r.n_boiler_hits > 0 for r in per_src), (
        "per-mille threshold should fire at every SF (round-14 fix)"
    )
    for r in per_src:
        # a source can only dominate grams it actually hits
        assert 0 <= r.n_dominated <= r.n_boiler_hits, r


# ----------------------------------------------- fingerprint-index TTL
def test_dedup_ttl_bounds_the_horizonless_answer(spark):
    """The TTL policy must (a) keep every doc the horizonless dedup keeps
    (first arrivals), (b) additionally keep exactly the re-admissions, and
    (c) drop a duplicate iff its gap is within the horizon — with both
    arms non-empty on the fixture so the threshold is live."""
    from kitkat_spark.operators.corpus import DEDUP_TTL_DOCS, q_dedup_ttl

    rows = q_dedup_ttl(spark, SF).collect()
    assert rows
    firsts = [r for r in rows if r.prev_gap is None]
    dups = [r for r in rows if r.prev_gap is not None]
    assert all(r.kept and not r.readmitted for r in firsts)
    for r in dups:
        assert r.kept == (r.prev_gap > DEDUP_TTL_DOCS), r
        assert r.readmitted == r.kept, r
    assert any(not r.kept for r in dups), "no duplicate inside the horizon"
    assert any(r.readmitted for r in dups), "no re-admission past the horizon"
    # horizonless kept-set = one doc per fp = the firsts
    fps = {r.fp for r in rows}
    assert len(firsts) == len(fps)


# ------------------------------------------ ANN generation rebalance
def test_ann_rebalance_policy_is_sound(spark):
    """Exactly one generation serves; the budget comparison must agree
    with the reported skew_ratio on each row; and on the fixture BOTH
    policy arms are live: generation 0 exceeds the budget, generation 1
    does not, and the cutover picks generation 1 (strictly lower
    expected scan)."""
    from kitkat_spark.operators.similarity import q_ann_rebalance

    rows = {r.generation: r for r in q_ann_rebalance(spark, SF).collect()}
    assert set(rows) == {0, 1}
    g0, g1 = rows[0], rows[1]
    assert g0.serving != g1.serving, "exactly one generation must serve"
    assert g0.exceeds_budget and not g1.exceeds_budget, (
        "fixture must exercise both budget arms (never-fires lesson)"
    )
    assert g1.serving and not g0.serving
    assert g1.expected_candidates < g0.expected_candidates
    for r in rows.values():
        assert r.skew_ratio >= 1.0 - 1e-6, r  # sum c^2 / n >= n / cells
        assert r.max_occupancy >= 1 and r.n_buckets_used >= 1


def test_ann_rebalance_never_mutates_generation_zero(spark):
    """Generation 0's reported stats must equal the STORED index's
    occupancy (rebalance is a new generation, not an in-place rewrite),
    and both generations index the same corpus (same n via sum of
    occupancy implied by expected_candidates denominators: checked
    through bucket totals)."""
    from kitkat_spark.operators.similarity import (
        _bucketed_index,
        q_ann_rebalance,
    )
    from pyspark.sql import functions as F

    rows = {r.generation: r for r in q_ann_rebalance(spark, SF).collect()}
    emb, _ = _bucketed_index(spark, SF)
    occ = emb.groupBy("bucket").agg(F.count("*").alias("c")).collect()
    assert rows[0].n_buckets_used == len(occ)
    assert rows[0].max_occupancy == max(r.c for r in occ)


# ------------------------------------------ span-granularity overlap
def test_span_overlap_containment_dominates_jaccard(spark):
    """Containment >= Jaccard for every pair (min(|A|,|B|) <= union), both
    within [0, 1], counts consistent (n_common <= min), and ranks are
    1..k dense in containment order."""
    from kitkat_spark.operators.corpus import q_span_overlap

    rows = q_span_overlap(spark, SF).collect()
    assert rows, "fixture must contain cross-source verbatim spans"
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    prev = None
    for r in rows:
        assert 0 < r.n_common <= min(r.n_a, r.n_b)
        assert 0.0 < r.jaccard <= r.containment <= 1.0, r
        if prev is not None:
            assert (prev.containment, prev.jaccard) >= (
                r.containment,
                r.jaccard,
            ), "rank order must follow (containment, jaccard) desc"
        prev = r


def test_span_overlap_pairs_share_shingles_too(spark):
    """Soundness of the span unit: a shared 8-token span CONTAINS shared
    3-grams, so every pair the span matrix reports must have nonzero
    3-gram overlap when computed directly (membership, not a count
    inequality — distinct-span vs distinct-shingle COUNTS are not
    comparable in general: periodic/templated text can share more
    distinct 8-grams than distinct 3-grams)."""
    from pyspark.sql import functions as F

    from kitkat_spark.functions.text import full_shingle_hashes, tokens
    from kitkat_spark.operators.corpus import q_span_overlap
    from kitkat_spark.sources import load_table

    spans = {
        (r.src_a, r.src_b): r.n_common
        for r in q_span_overlap(spark, SF).collect()
    }
    assert spans, "expected span-overlap pairs on the fixture"
    sh = (
        load_table(spark, SF, "documents")
        .select(
            "source",
            F.explode(full_shingle_hashes(tokens(F.col("text")), 3)).alias("s"),
        )
        .distinct()
    )
    a = sh.select(F.col("source").alias("src_a"), "s")
    b = sh.select(F.col("source").alias("src_b"), "s")
    inter = {
        (r.src_a, r.src_b): r.n
        for r in a.join(b, "s")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for pair in spans:
        assert inter.get(pair, 0) > 0, pair


# ------------------------------------- refresh-on-arrival TTL in state
def test_stream_dedup_ttl_equals_batch_policy(spark):
    """The custom-state streaming run must reproduce the batch TTL sweep
    row-for-row (the defining byte-equivalence; the driver hashes it
    against DuckDB), including across wave boundaries — a fingerprint
    whose arrivals span waves must chain gaps through the carried
    state."""
    from kitkat_spark.operators.corpus import q_dedup_ttl
    from kitkat_spark.operators.streamparity import (
        TTL_WAVES,
        q_stream_dedup_ttl,
    )

    batch = {r.doc_id: tuple(r) for r in q_dedup_ttl(spark, SF).collect()}
    stream = {
        r.doc_id: tuple(r) for r in q_stream_dedup_ttl(spark, SF).collect()
    }
    assert stream == batch
    # the state must actually have chained across waves: at least one
    # non-first arrival's predecessor lives in an EARLIER wave
    ids = sorted(batch)
    span = ids[-1] + 1 - ids[0]
    bounds = [ids[0] + (span * i) // TTL_WAVES for i in range(TTL_WAVES + 1)]
    wave = lambda i: next(k for k in range(TTL_WAVES) if bounds[k] <= i < bounds[k + 1])
    crossers = [
        d for d, row in batch.items()
        if row[2] is not None and wave(d) != wave(d - row[2])
    ]
    assert crossers, "fixture must exercise cross-wave state carry"


# ------------------------------------ per-source commodity state twin
def test_stream_boiler_sources_seals_subset_of_batch(spark):
    """The sealed-horizon attribution must be consistent with the batch
    per-source audit: per-source sealed doc counts never exceed the batch
    counts, hit totals roll up to the sealed per-doc classification, and
    the commodity threshold fires in the sealed world too."""
    from kitkat_spark.operators.corpus import q_boilerplate_sources
    from kitkat_spark.operators.streamparity import q_stream_boiler_sources

    sealed = {r.source: r for r in q_stream_boiler_sources(spark, SF).collect()}
    batch = {r.source: r for r in q_boilerplate_sources(spark, SF).collect()}
    assert sealed and set(sealed) <= set(batch)
    for src, r in sealed.items():
        assert r.n_docs <= batch[src].n_docs, src
        assert r.n_hits <= batch[src].n_hits, src
        assert 0 <= r.n_dominated <= r.n_boiler_hits, src
    assert any(r.n_boiler_hits > 0 for r in sealed.values()), (
        "per-mille threshold must fire on the sealed horizon"
    )


# --------------------------------------------- span-overlap drill-down
def test_span_attribution_agrees_with_overlap_rank(spark):
    """The drill-down's pairs must be exactly q_span_overlap's top
    SPAN_PAIR_TOP pairs; per-pair span ranks are dense from 1; a reported
    span's doc counts are positive on both sides; and every reported span
    is LCP_GRAM tokens wide."""
    from kitkat_spark.operators.corpus import (
        LCP_GRAM,
        SPAN_PAIR_TOP,
        SPAN_TOP,
        q_span_attribution,
        q_span_overlap,
    )

    rows = q_span_attribution(spark, SF).collect()
    assert rows
    top = {
        (r.rank, r.src_a, r.src_b)
        for r in q_span_overlap(spark, SF).collect()
        if r.rank <= SPAN_PAIR_TOP
    }
    got_pairs = {(r.pair_rank, r.src_a, r.src_b) for r in rows}
    assert got_pairs <= top
    by_pair = {}
    for r in rows:
        by_pair.setdefault(r.pair_rank, []).append(r)
        assert r.n_docs_a >= 1 and r.n_docs_b >= 1
        assert len(r.span.split(" ")) == LCP_GRAM
    for pr, grp in by_pair.items():
        ranks = sorted(x.span_rank for x in grp)
        assert ranks == list(range(1, len(grp) + 1))
        assert len(grp) <= SPAN_TOP


# ------------------------------------------- PassJoin capacity planner
def test_passjoin_planner_candidates_cover_the_real_join(spark):
    """The planner's per-ordinal candidate volume must sum to the REAL
    candidate-join output size (raw, before pair dedup) — the number the
    capacity model exists to predict — and per-ordinal postings must
    account for every indexed doc."""
    from pyspark.sql import functions as F

    from kitkat_spark.operators.dedup import (
        _PASS_M,
        passjoin_index,
        passjoin_probe,
        q_passjoin_planner,
    )
    from kitkat_spark.sources import load_table

    rows = q_passjoin_planner(spark, SF).collect()
    assert len(rows) == _PASS_M
    docs = (
        load_table(spark, SF, "documents")
        .select("doc_id", "text", "n_chars")
        .filter(F.col("n_chars") >= _PASS_M)
        .persist()
    )
    n_docs = docs.count()
    real_join = (
        passjoin_index(docs)
        .join(passjoin_probe(spark, docs), ["len_s", "i", "seg"])
        .count()
    )
    assert sum(r.n_candidates for r in rows) == real_join
    for r in rows:
        assert r.n_postings == n_docs, r  # one segment per doc per ordinal
        assert r.n_keys <= r.n_postings
        assert r.max_postings >= 1
    assert any(r.max_postings > 1 for r in rows), (
        "fixture has near-dups, so some posting list must be shared"
    )


# --------------------------------------- TTL with real state eviction
def test_stream_ttl_evict_decisions_match_and_state_is_bounded(spark):
    """The eviction arm must reproduce the audit twin's keep decisions
    exactly (decisions are eviction-timing-invariant by construction) while
    carrying STRICTLY fewer state rows than the all-time distinct
    fingerprint count — the bounded-state property that is the entire point
    of eviction."""
    from kitkat_spark.operators.replay import REPLAY_PROGRESS
    from kitkat_spark.operators.streamparity import (
        q_stream_dedup_ttl,
        q_stream_ttl_evict,
    )

    evict = {(r.doc_id, r.fp): r.kept for r in q_stream_ttl_evict(spark, SF).collect()}
    audit = {
        (r.doc_id, r.fp): r.kept for r in q_stream_dedup_ttl(spark, SF).collect()
    }
    assert evict == audit
    # the final state-store row count of the run's last progress
    runs = REPLAY_PROGRESS[
        (spark.sparkContext.applicationId, SF, "q_stream_ttl_evict")
    ]
    state_rows = runs[-1][-1]["stateOperators"][0]["numRowsTotal"]
    n_fps = len({fp for (_, fp) in audit})
    assert 0 < state_rows < n_fps, (
        f"eviction must bound state below the all-time distinct count "
        f"({state_rows} vs {n_fps})"
    )


# ------------------------------------------ UniMax token-budget waterfill
def test_token_budget_waterfilling_invariants(spark):
    """The allocation must satisfy the waterfilling optimality conditions
    independently of the closed-form derivation: (a) total allocation hits
    the budget (up to per-source rounding), (b) capped sources get exactly
    their cap, (c) uncapped allocations are proportional to weight at one
    shared rate lambda that would NOT cap any uncapped source, and (d)
    both arms are live on the fixture."""
    from kitkat_spark.operators.corpus import (
        UNIMAX_BUDGET_DEN,
        UNIMAX_BUDGET_NUM,
        UNIMAX_MAX_EPOCHS,
        q_token_budget,
    )

    rows = q_token_budget(spark, SF).collect()
    assert rows
    T = sum(r.n_tokens for r in rows)
    B = UNIMAX_BUDGET_NUM * T // UNIMAX_BUDGET_DEN
    capped = [r for r in rows if r.capped]
    free = [r for r in rows if not r.capped]
    assert capped and free, "both cap arms must be live (never-fires rule)"
    for r in capped:
        assert r.alloc_tokens == r.cap_tokens == UNIMAX_MAX_EPOCHS * r.n_tokens
    # one shared rate: alloc/weight agrees across uncapped sources
    rates = [r.alloc_tokens / r.weight for r in free]
    assert max(rates) - min(rates) <= 2 / min(r.weight for r in free)
    for r in free:
        assert r.alloc_tokens <= r.cap_tokens
    # budget conservation up to one rounding unit per source
    assert abs(sum(r.alloc_tokens for r in rows) - B) <= len(rows)
    # capped sources are exactly those whose naive allocation overshoots...
    # NOT true in general waterfilling (redistribution can newly cap a
    # source), but every naive overshoot must certainly be capped:
    for r in rows:
        if r.naive_tokens > r.cap_tokens:
            assert r.capped, r


def test_stream_token_budget_is_batch_on_sealed_census(spark):
    """The streaming allocation must equal the batch allocation computed
    over only the sealed documents — same closed form, smaller census —
    and per-source sealed token counts never exceed the batch census."""
    from kitkat_spark.operators.corpus import q_token_budget
    from kitkat_spark.operators.streamparity import q_stream_token_budget

    sealed = {r.source: r for r in q_stream_token_budget(spark, SF).collect()}
    batch = {r.source: r for r in q_token_budget(spark, SF).collect()}
    assert sealed and set(sealed) <= set(batch)
    for src, r in sealed.items():
        assert r.n_tokens <= batch[src].n_tokens
        assert r.alloc_tokens <= r.cap_tokens


# ------------------------------------------- ANN generation retirement
def test_ann_gen_gc_full_coverage_on_honest_generation(spark):
    """Generation 1 is built from the same vector set, so every retiring
    posting list must be fully covered and fully reclaimable; totals must
    account for every indexed vector."""
    from kitkat_spark.operators.similarity import (
        _bucketed_index,
        q_ann_gen_gc,
    )

    rows = q_ann_gen_gc(spark, SF).collect()
    assert rows
    emb, _ = _bucketed_index(spark, SF)
    total = emb.count()
    assert sum(r.n_retired for r in rows) == total
    for r in rows:
        assert r.covered and r.n_covered == r.n_retired
        assert r.reclaimable_rows == r.n_retired


def test_unimax_allocate_exact_at_terabyte_census(spark):
    """Overflow regression (review finding): the capped-prefix test runs
    in decimal(38,0), so a census with multi-trillion-token sources —
    where cap * weight-sum wraps int64 — still produces a coherent
    allocation: caps respected, budget conserved, both arms as the
    closed form dictates. (Before the fix, Spark silently wrapped the
    int64 products here and the flags were garbage.)"""
    from kitkat_spark.operators.corpus import (
        UNIMAX_BUDGET_DEN,
        UNIMAX_BUDGET_NUM,
        unimax_allocate,
    )

    rows_in = [
        ("big", 1000, 4_000_000_000_000),     # 4e12 tokens
        ("mid", 1000, 600_000_000_000),
        ("small", 1000, 40_000_000_000),
    ]
    per = spark.createDataFrame(
        rows_in, "source string, n_docs long, n_tokens long"
    )
    out = {r.source: r for r in unimax_allocate(per).collect()}
    T = sum(t for _, _, t in rows_in)
    B = UNIMAX_BUDGET_NUM * T // UNIMAX_BUDGET_DEN
    assert abs(sum(r.alloc_tokens for r in out.values()) - B) <= len(out)
    for r in out.values():
        assert 0 < r.alloc_tokens <= r.cap_tokens
    # smoothing pushes budget toward the small source: it must cap while
    # the big source stays below one epoch's worth of repetition headroom
    assert out["small"].capped and not out["big"].capped


def test_budget_realize_executes_the_plan(spark):
    """The realization must tie out against the plan it executes: capped
    sources realize EXACTLY (their allocation is a whole number of
    epochs, so the fractional layer admits nobody), uncapped sources land
    within the doc-lumpiness band (|rel_err| strictly below the largest
    single doc's token share), and totals recompose from base epochs plus
    admitted extras."""
    from kitkat_spark.operators.corpus import q_budget_realize, q_token_budget

    plan = {r.source: r for r in q_token_budget(spark, SF).collect()}
    rows = q_budget_realize(spark, SF).collect()
    assert len(rows) == len(plan)
    for r in rows:
        p = plan[r.source]
        assert r.planned_tokens == p.alloc_tokens and r.capped == p.capped
        assert r.realized_tokens == r.base_epochs * r.n_tokens + (
            r.realized_tokens - r.base_epochs * r.n_tokens
        )
        if r.capped:
            # cap = 2 epochs exactly -> no fractional layer
            assert r.n_extra_docs == 0 and r.realized_tokens == r.planned_tokens
            assert r.rel_err == 0.0
        else:
            assert 0 < r.n_extra_docs <= r.n_docs
            # lumpiness: the error is at most ~a few docs' worth of tokens
            assert abs(r.realized_tokens - r.planned_tokens) < r.n_tokens
