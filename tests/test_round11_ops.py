"""Semantic-invariant tests for the round-11 operators (the
test_round10_ops.py discipline): each new operator gets at least one
property the oracle-parity hash can't state on its own — forced regimes
the fixture never reaches, closed-form replays, and cross-operator
consistency."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from kitkat_spark.sources import load_table

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------- gram


def _quant(x: float, scale: int = 1_000_000) -> int:
    """Spark's round(x * scale) for doubles: BigDecimal.valueOf (shortest
    repr) + HALF_UP — replicated via Decimal(repr(.))."""
    return int(
        Decimal(repr(x * scale)).to_integral_value(rounding=ROUND_HALF_UP)
    )


def _gram_reference(vecs: list[list[float]]) -> dict[tuple[int, int], float]:
    from kitkat_spark.operators.similarity import GRAM_SCALE

    q = [[_quant(x, GRAM_SCALE) for x in v] for v in vecs]
    d = len(q[0])
    out = {}
    for i in range(d):
        for j in range(i, d):
            s = sum(row[i] * row[j] for row in q)  # exact Python ints
            # Spark's round(double) is HALF_UP on the shortest repr —
            # Python's round() is banker's and diverges at exact halves
            scaled = s / float(GRAM_SCALE) ** 2 * 1e9
            out[(i, j)] = (
                float(
                    Decimal(repr(scaled)).to_integral_value(
                        rounding=ROUND_HALF_UP
                    )
                )
                / 1e9
            )
    return out


def test_gram_blocked_large_d(spark):
    """The regime the blocked path exists for — D = 256, which a per-row
    fan-out would pay 32 896 structs per row for — against an exact
    Python-int reference."""
    import numpy as np

    from kitkat_spark.operators.similarity import gram_blocked_from

    rng = np.random.default_rng(11)
    d, n = 256, 40
    vecs = [[float(x) for x in rng.normal(0, 1, d).astype(np.float32)] for _ in range(n)]
    emb = spark.createDataFrame(
        [(v,) for v in vecs], "embedding array<float>"
    )
    # array<float> loads cast element-wise to double inside transform();
    # mirror the engine's float->double widening in the reference
    got = {(r.i, r.j): r.gram for r in gram_blocked_from(emb).collect()}
    want = _gram_reference(vecs)
    assert len(got) == d * (d + 1) // 2
    assert got == want


def test_gram_blocked_forced_chunking(spark):
    """Values near the quantized-magnitude ceiling force the int64-safe
    chunk size down to a handful of rows, so the cross-chunk
    arbitrary-precision accumulation actually runs — exactness must
    survive it."""
    import numpy as np

    from kitkat_spark.operators.similarity import gram_blocked_from

    rng = np.random.default_rng(7)
    d, n = 8, 64
    # |x| ~ 1500 -> q ~ 1.5e9 -> qmax^2 ~ 2.3e18 -> step = 2 rows/chunk
    vecs = [
        [float(x) for x in (rng.uniform(-1500, 1500, d)).astype(np.float64)]
        for _ in range(n)
    ]
    emb = spark.createDataFrame([(v,) for v in vecs], "embedding array<double>")
    got = {(r.i, r.j): r.gram for r in gram_blocked_from(emb.repartition(3)).collect()}
    want = _gram_reference(vecs)
    assert got == want


# ------------------------------------------------------------- t-close


def test_tclose_bounds_and_corpus_class(spark):
    """EMD-as-TVD lives in [0, 1); a class that IS the corpus has
    distance 0; and t-closeness is monotone against the l-diversity
    audit's class sizing (same quasi-identifier grid -> same class
    sizes)."""
    from kitkat_spark.operators.privacy import q_ldiv_audit, q_tclose_audit

    rows = q_tclose_audit(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.emd < 1.0, r
        assert r.t_close == (r.emd <= 0.2), r
    sizes_t = {(r.source, r.len_band): r.class_size for r in rows}
    sizes_l = {
        (r.source, r.len_band): r.class_size
        for r in q_ldiv_audit(spark, SF).collect()
    }
    assert sizes_t == sizes_l


def test_tclose_closed_form(spark):
    """Closed-form replay on a synthetic corpus: 50 docs, one length
    band; sources s0/s1 hold 10 en + 10 fr each, s2 holds 10 en only.
    Corpus marginal is (en 0.6, fr 0.4), so the balanced classes sit at
    TVD = |0.5-0.6| = 0.1 and the homogeneous class at 1 - p_en = 0.4 —
    and a fully homogeneous class of a value with corpus share p always
    lands at exactly 1 - p."""
    from kitkat_spark.operators import privacy

    rows = []
    for s in ("s0", "s1"):
        rows += [(len(rows) + k, "t", "en" if k % 2 else "fr", s, 10) for k in range(20)]
    rows += [(len(rows) + k, "t", "en", "s2", 10) for k in range(10)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(os.path.join(td, "documents.parquet"))
        out = {r.source: r for r in privacy.q_tclose_audit(spark, td).collect()}
    assert out["s0"].emd == 0.1 and out["s0"].t_close
    assert out["s1"].emd == 0.1 and out["s1"].t_close
    assert out["s2"].emd == 0.4 and not out["s2"].t_close


# ----------------------------------------------------------- lcp dedup


def test_lcp_dedup_plants_exact_substring(spark):
    """Plant one shared 12-token substring into two otherwise-unique
    documents: both must report exactly one maximal duplicated span of
    exactly that length, and nothing else."""
    from kitkat_spark.operators import corpus

    shared = " ".join(f"S{i}" for i in range(12))
    a = " ".join(f"a{i}" for i in range(10)) + " " + shared + " " + " ".join(
        f"b{i}" for i in range(10)
    )
    b = " ".join(f"c{i}" for i in range(5)) + " " + shared + " " + " ".join(
        f"d{i}" for i in range(15)
    )
    c = " ".join(f"e{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, a, "en", "s", len(a)), (2, b, "en", "s", len(b)), (3, c, "en", "s", len(c))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(os.path.join(td, "documents.parquet"))
        got = {r.doc_id: r for r in corpus.q_lcp_dedup(spark, td).collect()}
    assert got[1].n_dup_spans == 1 and got[1].max_span_len == 12
    assert got[2].n_dup_spans == 1 and got[2].max_span_len == 12
    assert got[1].dup_tokens == 12 and got[2].dup_tokens == 12
    assert got[3].n_dup_spans == 0 and got[3].dup_tokens == 0


def test_lcp_dedup_span_accounting(spark):
    """Per-doc invariants at the fixture: dup_tokens <= n_tokens,
    max_span_len <= dup_tokens, spans imply >= LCP_GRAM dup tokens each,
    and dup_frac replays as the rounded ratio."""
    from kitkat_spark.operators.corpus import LCP_GRAM, q_lcp_dedup

    rows = q_lcp_dedup(spark, SF).collect()
    assert rows
    assert any(r.n_dup_spans > 0 for r in rows)
    for r in rows:
        assert 0 <= r.dup_tokens <= r.n_tokens
        assert r.max_span_len <= r.dup_tokens
        if r.n_dup_spans:
            assert r.max_span_len >= LCP_GRAM
            assert r.dup_tokens >= r.n_dup_spans * LCP_GRAM
        assert r.dup_frac == pytest.approx(
            round(r.dup_tokens / r.n_tokens, 4), abs=1e-12
        )


# -------------------------------------------------- stream session paths


def test_stream_session_paths_equals_batch_replay(spark):
    """The streaming-equals-batch pin every stream twin carries: the
    sealed-session top paths from the REAL streaming run must equal a
    batch Spark replay (gap-and-island under session_window's merge rule,
    sealed at max(ts) - 10 min) — independently of the DuckDB oracle."""
    from pyspark.sql import Window as W

    from kitkat_spark.operators.streamparity import q_stream_session_paths
    from kitkat_spark.operators.temporal import SP_K, SP_N

    got = [
        (r.rk, r.path, r.n_sessions)
        for r in q_stream_session_paths(spark, SF).orderBy("rk").collect()
    ]

    ev = load_table(spark, SF, "events").select("event_id", "user_id", "event_type", "ts")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    sess = (
        ev.withColumn(
            "new_s", F.when(gap.isNull() | (gap >= 30 * 60), 1).otherwise(0)
        )
        .withColumn(
            "sid",
            F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
    )
    max_ts = ev.agg(F.max("ts").alias("m"))
    sealed = (
        sess.groupBy("user_id", "sid")
        .agg(
            F.max("ts").alias("last_ts"),
            F.concat_ws(
                ">",
                F.transform(
                    F.slice(
                        F.array_sort(
                            F.collect_list(F.struct("ts", "event_id", "event_type"))
                        ),
                        1,
                        SP_N,
                    ),
                    lambda e: e["event_type"],
                ),
            ).alias("path"),
        )
        .crossJoin(F.broadcast(max_ts))
        .filter(
            F.col("last_ts") + F.expr("INTERVAL 30 MINUTES")
            <= F.col("m") - F.expr("INTERVAL 10 MINUTES")
        )
    )
    counts = sealed.groupBy("path").agg(F.count("*").alias("n_sessions"))
    top = counts.orderBy(F.col("n_sessions").desc(), "path").limit(SP_K)
    w_rank = W.orderBy(F.col("n_sessions").desc(), "path")
    want = [
        (r.rk, r.path, r.n_sessions)
        for r in top.select(
            F.row_number().over(w_rank).cast("int").alias("rk"),
            "path",
            "n_sessions",
        ).orderBy("rk").collect()
    ]
    assert got == want


def test_lcp_span_fold_equals_interval_merge(spark):
    """Property test for the closed-form island fold: on 300 random
    sorted position sets (seeded), the fold's (ns, tot, mx) must equal
    brute-force interval-merge of [p, p+K-1] — including empty sets,
    singletons, exact-touch gaps (gap == K) and heavy overlap."""
    import random

    from kitkat_spark.operators.corpus import lcp_span_fold

    k = 8
    rng = random.Random(1111)
    cases = [[]]
    for _ in range(299):
        n = rng.randint(1, 40)
        span = rng.choice([10, 25, 100, 400])
        cases.append(sorted(rng.sample(range(1, span + 2), min(n, span))))

    def merge(ps):
        spans = []
        for p in ps:
            lo, hi = p, p + k - 1
            if spans and lo <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], hi)
            else:
                spans.append([lo, hi])
        tot = sum(b - a + 1 for a, b in spans)
        mx = max((b - a + 1 for a, b in spans), default=0)
        return (len(spans), tot, mx)

    df = spark.createDataFrame(
        [(i, ps) for i, ps in enumerate(cases)], "id int, ps array<int>"
    )
    got = {
        r.id: (r.f.ns, r.f.tot, r.f.mx)
        for r in df.select("id", lcp_span_fold(k).alias("f")).collect()
    }
    for i, ps in enumerate(cases):
        assert got[i] == merge(ps), (i, ps, got[i], merge(ps))


def test_gram_blocked_rejects_ragged_dimensions(spark):
    """A mixed-D corpus must fail with a NAMED dimension error, not an
    opaque numpy shape error from inside the matmul."""
    from pyspark.errors.exceptions.captured import PythonException

    from kitkat_spark.operators.similarity import gram_blocked_from

    emb = spark.createDataFrame(
        [([1.0, 2.0],), ([1.0, 2.0, 3.0],)], "embedding array<double>"
    )
    with pytest.raises(PythonException, match="mixed embedding dimensions"):
        gram_blocked_from(emb.coalesce(1)).count()


def test_gram_blocked_rejects_int64_overflow_magnitudes(spark):
    """Quantized values whose single product would wrap int64 must fail
    loudly (numpy wraps silently where the JVM twin raises under ANSI)."""
    from pyspark.errors.exceptions.captured import PythonException

    from kitkat_spark.operators.similarity import gram_blocked_from

    emb = spark.createDataFrame(
        [([4000.0, 1.0],), ([2.0, 3.0],)], "embedding array<double>"
    )
    with pytest.raises(PythonException, match="overflows int64"):
        gram_blocked_from(emb.coalesce(1)).count()
