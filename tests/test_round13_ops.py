"""Semantic-invariant tests for the round-13 operators (the
test_round10/11/12_ops.py discipline): each new operator gets at least one
property the oracle-parity hash can't state on its own — identities the
implementation relies on, dominance relations, cross-operator consistency.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# --------------------------------------------------- ANN index segment merge
def test_index_merge_is_additive_and_covers_corpus(spark):
    """The frozen-hash-family invariant: merged per-bucket counts must be
    exactly the from-scratch build's (additivity), the segments must
    partition every bucket, and the merged total must equal the indexed
    corpus size."""
    from kitkat_spark.operators.similarity import (
        _bucketed_index,
        q_ann_index_merge,
    )

    rows = q_ann_index_merge(spark, SF).collect()
    assert rows, "empty merge audit"
    for r in rows:
        assert r.additive, r
        assert r.n_seg_a + r.n_seg_b == r.n_merged == r.n_full, r
    emb, _ = _bucketed_index(spark, SF)
    assert sum(r.n_merged for r in rows) == emb.count()


# ----------------------------------------------------------- probe planner
def test_probe_planner_closed_form_and_dominance(spark):
    """Radius-1 scans a superset of radius-0's bucket, so its expected
    candidate count dominates; and the radius-0 expectation must equal the
    sum(c^2)/n closed form recomputed from the occupancy table directly."""
    from kitkat_spark.operators.similarity import (
        _bucketed_index,
        q_ann_probe_planner,
    )

    rows = {r.probe_radius: r for r in q_ann_probe_planner(spark, SF).collect()}
    assert set(rows) == {0, 1}
    assert rows[1].expected_candidates >= rows[0].expected_candidates
    assert rows[1].n_buckets_probed > rows[0].n_buckets_probed == 1

    emb, _ = _bucketed_index(spark, SF)
    occ = [r.c for r in emb.groupBy("bucket").agg(F.count("*").alias("c")).collect()]
    n = sum(occ)
    assert abs(rows[0].expected_candidates - sum(c * c for c in occ) / n) < 5e-5
    assert abs(rows[0].expected_frac - sum(c * c for c in occ) / (n * n)) < 5e-7


# ---------------------------------------------------------- minhash merge
def test_minhash_merge_identity(spark):
    """sig(union of doc sets) == elementwise min of doc sigs — the Broder
    mergeability identity the rollup rides. Recompute each source's
    signature DIRECTLY from its distinct shingle-hash union and compare to
    the merged aggregate the operator uses."""
    from kitkat_spark.functions.text import MINHASH_PRIME, minhash_params
    from kitkat_spark.operators.dedup import (
        MINHASH_K,
        lsh_signatures_and_candidates,
    )

    sig, _ = lsh_signatures_and_candidates(spark, SF)
    merged = {
        r.src: list(r.msig)
        for r in sig.groupBy("src")
        .agg(
            F.array(
                *[F.min(F.element_at("sig", j + 1)) for j in range(MINHASH_K)]
            ).alias("msig")
        )
        .collect()
    }
    union_sets: dict[str, set[int]] = {}
    for r in sig.select("src", "sh").collect():
        union_sets.setdefault(r.src, set()).update(r.sh)
    params = minhash_params(MINHASH_K)
    for src, hs in union_sets.items():
        direct = [min((a * h + b) % MINHASH_PRIME for h in hs) for a, b in params]
        assert direct == merged[src], src


def test_minhash_merge_err_consistent(spark):
    """abs_err must be |est - exact| at the published quantization, and
    est must be a multiple of 1/32."""
    from kitkat_spark.operators.dedup import q_minhash_merge

    rows = q_minhash_merge(spark, SF).collect()
    assert rows
    for r in rows:
        assert abs(r.abs_err - abs(r.jaccard_est - r.jaccard_exact)) < 2.1e-4, r
        assert abs(r.jaccard_est * 32 - round(r.jaccard_est * 32)) < 32e-4, r


# --------------------------------------------------------- longest repeat
def test_longest_repeat_matches_lcp_dedup(spark):
    """The arg-max span must agree with q_lcp_dedup's per-doc max_span_len
    (same gram width, same island semantics), its text must contain exactly
    span_len tokens, and every reported span must clear the gram width."""
    from kitkat_spark.operators.corpus import (
        LCP_GRAM,
        q_lcp_dedup,
        q_longest_repeat,
    )

    spans = {r.doc_id: r for r in q_longest_repeat(spark, SF).collect()}
    assert spans, "no duplicated spans at sf0.001"
    lcp = {r.doc_id: r for r in q_lcp_dedup(spark, SF).collect()}
    for doc_id, r in spans.items():
        assert r.span_len >= LCP_GRAM, r
        assert len(r.span_text.split(" ")) == r.span_len, r
        assert lcp[doc_id].max_span_len == r.span_len, (r, lcp[doc_id])
    # and every doc q_lcp_dedup says has a dup span is reported here
    for doc_id, r in lcp.items():
        assert (r.n_dup_spans > 0) == (doc_id in spans), doc_id


# --------------------------------------------------- boilerplate coverage
def test_boilerplate_coverage_bounds_and_population(spark):
    """Fractions bounded, counts consistent, and the audited population is
    exactly the docs with >= 3 tokens."""
    from kitkat_spark.functions.text import tokens
    from kitkat_spark.operators.corpus import q_boilerplate_coverage
    from kitkat_spark.sources import load_table

    rows = q_boilerplate_coverage(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_boiler <= r.n_grams, r
        assert 0.0 <= r.boiler_frac <= 1.0, r
    expected = (
        load_table(spark, SF, "documents")
        .filter(F.size(tokens(F.col("text"))) >= 3)
        .count()
    )
    assert len(rows) == expected


# ----------------------------------------------- streaming incremental dedup
def test_stream_incr_dedup_equals_batch(spark):
    """The checkpointed multi-batch streaming run reproduces the batch
    operator row-for-row: both share one oracle and test_parity matches
    each to it exactly at this sf. What parity cannot state is that the
    equality is not vacuous — the fixture must append rows."""
    from kitkat_spark.operators.corpus import q_incremental_dedup

    assert q_incremental_dedup(spark, SF).take(1), "fixture produced no appended rows"


# ---------------------------------------------------------- token fertility
def test_token_fertility_consistent_with_token_count(spark):
    """The per-lang rollup must reproduce q_token_count's per-doc totals."""
    from kitkat_spark.operators.textops import q_token_count, q_token_fertility
    from kitkat_spark.sources import load_table

    fert = {r.lang: r for r in q_token_fertility(spark, SF).collect()}
    docs = load_table(spark, SF, "documents").select("doc_id", "lang")
    per_doc = (
        q_token_count(spark, SF)
        .join(docs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_ws_tokens").alias("n_words"),
            F.sum("n_re_tokens").alias("n_tokens"),
            F.sum("n_chars_actual").alias("n_chars"),
        )
        .collect()
    )
    assert fert and len(per_doc) == len(fert)
    for r in per_doc:
        f = fert[r.lang]
        assert (r.n_docs, r.n_words, r.n_tokens, r.n_chars) == (
            f.n_docs,
            f.n_words,
            f.n_tokens,
            f.n_chars,
        ), r.lang
        assert f.fertility >= 1.0  # regex tokens never fewer than words here
