"""Text-analysis operators over documents (SURVEY.md §2.B, M4).

All pure column expressions (codegen'd built-ins — split/regexp/md5); zero
Python UDFs, so these run at full JVM speed and scale as embarrassingly
parallel map + one small aggregation. Regex patterns are chosen to mean the
same thing in Java regex (Spark) and RE2 (DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kitkat_spark.functions.text import fingerprint_md5, tokens
from kitkat_spark.sources import load_table

# BPE-ish word/punct tokenizer: runs of alphanumerics OR single non-space symbol
TOKEN_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"
STOP_RE = r"\b(the|a|of|and|is|to|in)\b"
LANG_WORDS = {
    "en": r"\b(the|a|of|and)\b",
    "fr": r"\b(le|la|et|de)\b",
    "de": r"\b(der|die|und|das)\b",
}


def q_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats per (lang, source): doc counts, token/char averages."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return (
        docs.select(
            "lang",
            "source",
            "n_chars",
            F.size(toks).alias("n_tok"),
            F.size(F.array_distinct(toks)).alias("n_uniq"),
        )
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.round(F.avg(F.col("n_uniq") / F.col("n_tok")), 4).alias("avg_ttr"),
        )
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token counts: whitespace split + BPE-ish regex tokenizer."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))).alias("n_re_tokens"),
        F.length("text").alias("n_chars_actual"),
    )


def _lang_scores() -> tuple[dict[str, Column], Column]:
    """Stopword-hit language ID over ``text``: per-language hit counts and
    the argmax language (ties to en, then fr) — q_lang_id's classifier,
    also q_lang_mismatch's detected language."""
    scores = {
        lang: F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)))
        for lang, pat in LANG_WORDS.items()
    }
    pred = (
        F.when((scores["en"] >= scores["fr"]) & (scores["en"] >= scores["de"]), "en")
        .when(scores["fr"] >= scores["de"], "fr")
        .otherwise("de")
    )
    return scores, pred


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID (deterministic n-gram heuristic)."""
    docs = load_table(spark, sf_dir, "documents")
    scores, pred = _lang_scores()
    return docs.select(
        "doc_id",
        scores["en"].alias("score_en"),
        scores["fr"].alias("score_fr"),
        scores["de"].alias("score_de"),
        pred.alias("pred_lang"),
    )


def q_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-metadata audit: confusion matrix of DECLARED language (the
    `lang` column, i.e. what upstream metadata claims) vs DETECTED language
    (the q_lang_id stopword classifier) — the per-source mislabel report a
    corpus audit runs before trusting its language tags. One narrow pass
    + one tiny aggregation; the matrix is |langs|^2 rows at any corpus
    size."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", _lang_scores()[1].alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
        .select(
            "lang",
            "pred_lang",
            "n_docs",
            (F.col("lang") != F.col("pred_lang")).alias("mismatch"),
        )
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality: type-token ratio + stopword balance + length band."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)) / n_tok
    stop_ratio = F.size(F.regexp_extract_all(F.col("text"), F.lit(STOP_RE), F.lit(0))) / n_tok
    len_ok = F.when((n_tok >= 20) & (n_tok <= 1000), 1.0).otherwise(0.5)
    # NOTE: no rounding here — every value is a per-row function of integers,
    # so Spark and DuckDB compute bit-identical doubles; round() would
    # *introduce* mismatches (HALF_UP on shortest-repr vs C round on binary)
    # for ratios like 0.72125 that land exactly on a half boundary.
    return docs.select(
        "doc_id",
        n_tok.alias("n_tok"),
        ttr.alias("ttr"),
        stop_ratio.alias("stop_ratio"),
        (F.lit(0.4) * ttr + F.lit(0.3) * (1 - stop_ratio) + F.lit(0.3) * len_ok).alias("quality"),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace-normalized md5 content fingerprint + per-fingerprint rank."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_md5(F.col("text")).alias("fp"))


WINNOW_K = 3  # k-gram size for the rolling hashes
WINNOW_W = 4  # winnowing window: one fingerprint kept per w consecutive hashes


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., MOSS): rolling
    k-gram hashes, then the minimum hash of every w-hash window, dedup'd —
    a position-robust fingerprint set whose size is ~2/(w+1) of the hash
    stream. Guarantees any shared substring of length >= w+k-1 contributes a
    shared fingerprint.

    All JVM-side: the rolling hashes are the shingle-hash expression and the
    per-window minimum is a transform over zipped window slices (no UDF).
    The rolling hash is md5-derived (functions/text.py md5_long), so the
    DuckDB oracle replays the identical hash stream and window minima —
    full value-level verification.

    Plan-shape note: the hash stream is materialized (persisted) into a
    column before the window-min/filter stage. Shuffle barriers are NOT
    enough: PushDownPredicate carries the filter through Exchange nodes and
    re-inlines the md5 subtree once per window slice in both the projection
    and the filter (16 copies in the plan), and the oversized filter
    expression falls off codegen — measured 4.3 s vs ~0.5 s at sf0.1. The
    persist is a true materialization boundary (same signature-table
    pattern as q_near_dedup): expensive subtree exactly once, downstream
    stages reference an attribute. At 100 TB this intermediate IS the
    winnowing index you would write out, sized ~1 long per token.
    """
    from kitkat_spark.functions.text import MINHASH_PRIME, _zipped_ngrams, md5_long

    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par)
    toks = tokens(F.col("text"))
    rolling = F.transform(
        _zipped_ngrams(toks, WINNOW_K),
        lambda s: F.pmod(
            md5_long(F.concat_ws(" ", *[s[str(j)] for j in range(WINNOW_K)])),
            F.lit(MINHASH_PRIME),
        ),
    )
    hashed = docs.select(
        "doc_id", F.when(F.size(toks) >= WINNOW_K, rolling).alias("rolling")
    ).persist()
    h = F.coalesce(F.col("rolling"), F.array().cast("array<bigint>"))
    mins = F.array_distinct(
        F.transform(
            _zipped_ngrams(h, WINNOW_W),
            lambda s: F.least(*[s[str(j)] for j in range(WINNOW_W)]),
        )
    )
    n_fp = F.when(F.size(h) >= WINNOW_W, F.size(mins)).otherwise(F.lit(0))
    return hashed.select(
        "doc_id",
        n_fp.alias("n_fingerprints"),
        F.size(h).alias("n_hashes"),
    ).filter(F.col("n_fingerprints") > 0)


def winnow_fingerprints(text: F.Column, k: int = WINNOW_K, w: int = WINNOW_W) -> F.Column:
    """Winnowed fingerprint set of a text column (empty array if the rolling
    hash stream is shorter than the window)."""
    from kitkat_spark.functions.text import MINHASH_PRIME, _zipped_ngrams, md5_long

    toks = tokens(text)
    # positional (NOT distinct) rolling hash stream — winnowing is order-aware;
    # md5 of the joined k-gram string so the DuckDB oracle reproduces values
    hashes = F.transform(
        _zipped_ngrams(toks, k),
        lambda s: F.pmod(
            md5_long(F.concat_ws(" ", *[s[str(j)] for j in range(k)])),
            F.lit(MINHASH_PRIME),
        ),
    )
    mins = F.array_distinct(
        F.transform(
            _zipped_ngrams(hashes, w),
            lambda s: F.least(*[s[str(j)] for j in range(w)]),
        )
    )
    n_hashes = F.size(toks) - (k - 1)
    return F.when(n_hashes >= w, mins).otherwise(F.array().cast("array<bigint>"))


REP_NGRAM = 3
REP_THRESHOLD = 0.2


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-n-gram quality filter (the Gopher/MassiveText repetition
    rule): per doc, the fraction of 3-gram positions occupied by repeats —
    1 - distinct/total — and a keep/drop flag at 0.2. A pure narrow map
    (two array expressions per row, no shuffle, no UDF); the flag compares
    the UNROUNDED ratio so the cut is exact cross-engine. Shingles compare
    as strings here for oracle exactness — the hashed variant in
    functions/text.py is the 100 TB path (same counts w.h.p., 8-byte
    elements instead of strings)."""
    docs = load_table(spark, sf_dir, "documents")
    from kitkat_spark.functions.text import word_shingles

    d = docs.select("doc_id", tokens(F.col("text")).alias("w")).filter(
        F.size("w") >= REP_NGRAM
    )
    n_grams = F.size("w") - (REP_NGRAM - 1)
    n_distinct = F.size(word_shingles(F.col("w"), REP_NGRAM))
    ratio = 1 - n_distinct / n_grams
    return d.select(
        "doc_id",
        n_grams.alias("n_grams"),
        n_distinct.alias("n_distinct"),
        F.round(ratio, 4).alias("rep_ratio"),
        (ratio > REP_THRESHOLD).alias("is_repetitive"),
    )


def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal record assembly: text metadata + embedding joined into one
    row (flat projection of the struct for oracle comparability)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bundle = (
        docs.join(emb, docs.doc_id == emb.vec_id, "inner")
        .select(
            F.struct(
                F.col("doc_id"),
                F.col("lang"),
                F.col("n_chars"),
                F.col("label"),
                F.size("embedding").alias("dim"),
            ).alias("rec")
        )
    )
    return bundle.select(
        F.col("rec.doc_id").alias("doc_id"),
        F.col("rec.lang").alias("lang"),
        F.col("rec.n_chars").alias("n_chars"),
        F.col("rec.label").alias("label"),
        F.col("rec.dim").alias("dim"),
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "join", "fast")
BM25_TOP = 20


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking of the corpus for a fixed keyword query (Robertson &
    Zaragoza, "The Probabilistic Relevance Framework: BM25 and Beyond",
    FnTIR 2009 — public literature): the lexical-retrieval scorer behind
    every search/RAG hybrid pipeline, as pure DataFrame algebra.

      score(d) = Σ_q idf(q) · tf·(k1+1) / (tf + k1·(1-b+b·len/avglen)),
      idf(q) = ln((N - df + 0.5)/(df + 0.5) + 1)

    Plan: term frequencies come from ONE exploded pass FILTERED to the
    query's 3 tokens before the shuffle (the scan fans out but only query-
    token rows survive to the groupBy); N/avglen are a broadcast 1-row
    agg; df per query token is a broadcast 3-row agg. Ranking orders by
    the ROUNDED score then doc_id — float summation order may flip last
    bits across engines, and a rank boundary must never depend on an ulp.
    Top-k is TakeOrderedAndProject. At 100 TB the same shape serves any
    query batch: explode once, semi-join the query-token set, score —
    cost tracks matching postings, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    scored = bm25_scores(docs)
    from pyspark.sql import Window as W

    ranked = scored.orderBy(F.col("score").desc(), "doc_id").limit(BM25_TOP)
    w = W.orderBy(F.col("score").desc(), "doc_id")
    return ranked.select(F.row_number().over(w).alias("rk"), "doc_id", "score")


def bm25_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, score): corpus BM25 for the fixed BM25_QUERY terms — the
    scoring stage of q_bm25, shared with similarity.q_rrf_fusion's lexical
    leg (docstring there for the fusion semantics)."""
    base = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("len"), tokens(F.col("text")).alias("w")
    )
    stats = base.agg(
        F.count("*").alias("n_docs"), F.avg("len").alias("avglen")
    )
    tf = (
        base.select("doc_id", "len", F.explode("w").alias("token"))
        .filter(F.col("token").isin(*BM25_QUERY))
        .groupBy("doc_id", "len", "token")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df_t), "token")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
                )
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("len") / F.col("avglen"))
                )
            ).alias("contrib"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 4).alias("score"))
    )
    return scored


KS_SRC_A = "src0"
KS_SRC_B = "src1"
KS_CRIT = 1.358  # two-sample KS critical coefficient at alpha = 0.05


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test between two sources'
    doc-length distributions — the distribution-shift gate a corpus
    refresh pipeline runs before mixing a new crawl into training data
    (D = max |ECDF_a - ECDF_b|; drift iff D exceeds the alpha=0.05
    critical value c(α)·sqrt((n1+n2)/(n1·n2))).

    Plan: the corpus collapses to VALUE-DOMAIN counts first — one
    map-side-combinable groupBy on the length value — then both ECDFs are
    running sums over that domain-sized relation (the q_skyline /
    q_active_intervals prefix argument: its size is the value domain, not
    the corpus), and D is a 1-row max. Counts and cumsums are integers;
    the only doubles are two divisions and one sqrt from identical
    integer inputs, so cross-engine exact."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin(KS_SRC_A, KS_SRC_B)
    )
    per_v = docs.groupBy("n_chars").agg(
        F.sum((F.col("source") == KS_SRC_A).cast("long")).alias("c1"),
        F.sum((F.col("source") == KS_SRC_B).cast("long")).alias("c2"),
    )
    w = W.orderBy("n_chars").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = per_v.select(
        F.sum("c1").over(w).alias("k1"), F.sum("c2").over(w).alias("k2")
    )
    tot = per_v.groupBy().agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    diff = F.abs(
        F.col("k1").cast("double") / F.col("n1").cast("double")
        - F.col("k2").cast("double") / F.col("n2").cast("double")
    )
    crit = F.lit(KS_CRIT) * F.sqrt(
        (F.col("n1") + F.col("n2")).cast("double")
        / (F.col("n1") * F.col("n2")).cast("double")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(F.round(F.max(diff), 4).alias("ks_stat"))
        .select(
            "n1",
            "n2",
            "ks_stat",
            F.round(crit, 4).alias("ks_crit"),
            (F.col("ks_stat") > F.round(crit, 4)).alias("drift"),
        )
    )


CHI2_TOP = 5


def q_chi2_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source most-discriminative tokens by chi-squared association —
    the classic feature-selection statistic (Yang & Pedersen, ICML 1997 —
    public literature) behind domain classifiers and corpus-mix audits:
    which tokens over-represent in THIS source vs the rest of the corpus.

    2x2 contingency per (source, token) on occurrence counts: a = in-source
    occurrences, b = other in-source tokens, c = token elsewhere, d = rest;
    chi2 = n*(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)).

    Plan: ONE corpus-sized stage — the exploded (source, token) count with
    map-side combine. Everything downstream lives on the vocab domain
    (Heap's law — the q_bpe_pairs argument): the token marginal joins back
    on the token key (broadcast here; a co-partitioned shuffle of
    vocab-sized rows at 100 TB), source marginal and N are broadcast
    scalars. Ranking is rank<=k per source — WindowGroupLimit sends only
    per-partition heads across the wire. Doubles: counts are exact in
    double (ad < 2^53), the square is by self-multiplication (not pow) and
    the denominator's association is pinned identically in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("token"))
    st = tok.groupBy("source", "token").agg(F.count("*").alias("a0"))
    tok_tot = st.groupBy("token").agg(F.sum("a0").alias("t_tot"))
    src_tot = st.groupBy("source").agg(F.sum("a0").alias("s_tot"))
    n_tot = st.groupBy().agg(F.sum("a0").alias("n0"))
    j = (
        st.join(F.broadcast(tok_tot), "token")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(n_tot))
    )
    a = F.col("a0").cast("double")
    b = (F.col("s_tot") - F.col("a0")).cast("double")
    c = (F.col("t_tot") - F.col("a0")).cast("double")
    d = (F.col("n0") - F.col("s_tot") - F.col("t_tot") + F.col("a0")).cast(
        "double"
    )
    num = a * d - b * c
    chi2 = (
        F.col("n0").cast("double")
        * (num * num)
        / (((a + b) * (c + d)) * ((a + c) * (b + d)))
    )
    scored = j.select(
        "source",
        "token",
        F.col("a0").cast("long").alias("n_occurrences"),
        F.round(chi2, 4).alias("chi2"),
    )
    w = W.partitionBy("source").orderBy(F.col("chi2").desc(), "token")
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= CHI2_TOP
    )


# DuckDB twin of bm25_scores as a CTE chain ending in scored(doc_id, score)
# — spliced into the q_bm25 oracle here and q_rrf_fusion's in similarity.py
# so both engines' lexical legs stay one definition.
BM25_SCORED_SQL = f"""base AS (
            SELECT doc_id, len(string_split(text, ' ')) AS len,
                   string_split(text, ' ') AS w
            FROM documents
        ),
        stats AS (
            SELECT count(*) AS n_docs, avg(len) AS avglen FROM base
        ),
        tf AS (
            SELECT doc_id, len, token, count(*) AS tf
            FROM (SELECT doc_id, len, unnest(w) AS token FROM base)
            WHERE token IN ({', '.join(repr(t) for t in BM25_QUERY)})
            GROUP BY doc_id, len, token
        ),
        dft AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        scored AS (
            SELECT tf.doc_id,
                   round(sum(
                       ln((stats.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
                       * (tf.tf * ({BM25_K1} + 1))
                       / (tf.tf + {BM25_K1}
                          * (1 - {BM25_B} + {BM25_B} * tf.len / stats.avglen))
                   ), 4) AS score
            FROM tf JOIN dft USING (token), stats
            GROUP BY tf.doc_id
        )"""


# Shannon-entropy quality gate: token-distribution entropy below this many
# bits marks a doc as repetitive/templated (the fixture's docs draw from a
# 31-token domain, so healthy docs sit near log2(31) ~ 4.95 bits)
ENTROPY_MIN_BITS = 3.0


def q_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution Shannon entropy — the information-
    density quality signal (templated/repeated text scores low even when
    q_repetition_filter's fixed-n n-gram test misses it; a real pipeline
    runs both).

    H = log2(n) - (sum_t c_t * log2(c_t)) / n over the doc's token counts
    — the counts-only form needs no per-token probability division.
    Determinism: the per-doc (token, count) list is SORTED and folded
    left-to-right with a codegen'd aggregate(), so the double accumulation
    order is identical in both engines (a parallel SUM of c*log2(c) would
    be reduction-order-dependent). One explode -> (doc, token) count with
    map-side combine, one per-doc fold: two shuffles of token-domain-sized
    rows, nothing corpus-sized twice."""
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par)
    cnt = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
    )
    per_doc = cnt.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("token", "c"))).alias("tc"),
        F.sum("c").alias("n"),
    )
    ent = F.log2(F.col("n")) - F.expr(
        "aggregate(tc, 0.0D, (a, p) -> a + CAST(p.c AS DOUBLE)"
        " * log2(CAST(p.c AS DOUBLE)))"
    ) / F.col("n")
    return per_doc.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.round(ent, 4).alias("entropy_bits"),
        (F.round(ent, 4) < ENTROPY_MIN_BITS).alias("low_entropy"),
    )


ORACLE: dict[str, str] = {
    "q_ks_drift": f"""
        WITH d2 AS (
            SELECT source, n_chars FROM documents
            WHERE source IN ('{KS_SRC_A}', '{KS_SRC_B}')
        ), per_v AS (
            SELECT n_chars,
                   sum(CASE WHEN source = '{KS_SRC_A}' THEN 1 ELSE 0 END)
                       AS c1,
                   sum(CASE WHEN source = '{KS_SRC_B}' THEN 1 ELSE 0 END)
                       AS c2
            FROM d2 GROUP BY n_chars
        ), cum AS (
            SELECT sum(c1) OVER w AS k1, sum(c2) OVER w AS k2
            FROM per_v
            WINDOW w AS (ORDER BY n_chars
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), tot AS (
            SELECT CAST(sum(c1) AS BIGINT) AS n1,
                   CAST(sum(c2) AS BIGINT) AS n2
            FROM per_v
        ), agg AS (
            SELECT n1, n2,
                   round(max(abs(CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                                 - CAST(k2 AS DOUBLE) / CAST(n2 AS DOUBLE))),
                         4) AS ks_stat
            FROM cum, tot GROUP BY n1, n2
        )
        SELECT n1, n2, ks_stat,
               round({KS_CRIT} * sqrt(CAST(n1 + n2 AS DOUBLE)
                                      / CAST(n1 * n2 AS DOUBLE)), 4)
                   AS ks_crit,
               ks_stat > round({KS_CRIT} * sqrt(CAST(n1 + n2 AS DOUBLE)
                                                / CAST(n1 * n2 AS DOUBLE)), 4)
                   AS drift
        FROM agg
    """,
    "q_chi2_tokens": f"""
        WITH tok AS (
            SELECT source, unnest(string_split(text, ' ')) AS token
            FROM documents
        ), st AS (
            SELECT source, token, count(*) AS a0
            FROM tok GROUP BY source, token
        ), tok_tot AS (
            SELECT token, sum(a0) AS t_tot FROM st GROUP BY token
        ), src_tot AS (
            SELECT source, sum(a0) AS s_tot FROM st GROUP BY source
        ), n_tot AS (
            SELECT sum(a0) AS n0 FROM st
        ), cells AS (
            SELECT st.source, st.token,
                   CAST(a0 AS BIGINT) AS n_occurrences,
                   CAST(a0 AS DOUBLE) AS a,
                   CAST(s_tot - a0 AS DOUBLE) AS b,
                   CAST(t_tot - a0 AS DOUBLE) AS c,
                   CAST(n0 - s_tot - t_tot + a0 AS DOUBLE) AS d,
                   CAST(n0 AS DOUBLE) AS n
            FROM st
            JOIN tok_tot USING (token)
            JOIN src_tot USING (source), n_tot
        ), scored AS (
            SELECT source, token, n_occurrences,
                   round(n * ((a*d - b*c) * (a*d - b*c))
                         / (((a+b) * (c+d)) * ((a+c) * (b+d))), 4) AS chi2
            FROM cells
        )
        SELECT source, token, n_occurrences, chi2, rk FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY source ORDER BY chi2 DESC, token) AS INT) AS rk
            FROM scored
        ) WHERE rk <= {CHI2_TOP}
    """,
    "q_doc_entropy": f"""
        WITH cnt AS (
            SELECT doc_id, token, count(*) AS c FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents
            ) GROUP BY doc_id, token
        ), per_doc AS (
            SELECT doc_id,
                   list(struct_pack(token := token, c := c)
                        ORDER BY token, c) AS tc,
                   sum(c) AS n
            FROM cnt GROUP BY doc_id
        ), scored AS (
            SELECT doc_id, n,
                   round(log2(CAST(n AS DOUBLE))
                         - list_sum(list_transform(tc,
                               p -> CAST(p.c AS DOUBLE)
                                    * log2(CAST(p.c AS DOUBLE))))
                           / CAST(n AS DOUBLE), 4) AS entropy_bits
            FROM per_doc
        )
        SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, entropy_bits,
               entropy_bits < {ENTROPY_MIN_BITS} AS low_entropy
        FROM scored
    """,
    "q_bm25": f"""
        WITH {BM25_SCORED_SQL},
        top AS (
            SELECT doc_id, score FROM scored
            ORDER BY score DESC, doc_id LIMIT {BM25_TOP}
        )
        SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rk,
               doc_id, score
        FROM top
    """,
    # Replays winnowing value-for-value: md5-derived rolling k-gram hashes
    # (identical to functions/text.py md5_long mod MINHASH_PRIME), then the
    # min of each w-hash window via a ROWS window frame, then per-doc
    # distinct-min counts. n_hashes can be NEGATIVE (doc shorter than k
    # tokens) but such docs are filtered by the n_hashes >= w gate, matching
    # Spark's empty-fps filter.
    "q_winnow_fingerprint": f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), kg AS (
            SELECT doc_id, i,
                   ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))::BIGINT
                       % 2147483647 AS h,
                   len(w) - {WINNOW_K - 1} AS n_hashes
            FROM toks, UNNEST(generate_series(1, len(w) - {WINNOW_K - 1})) AS t(i)
            WHERE len(w) >= {WINNOW_K}
        ), mins AS (
            SELECT doc_id, i, n_hashes,
                   min(h) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
                       AS wm
            FROM kg
        )
        SELECT doc_id,
               CAST(count(DISTINCT wm) AS INTEGER) AS n_fingerprints,
               CAST(any_value(n_hashes) AS INTEGER) AS n_hashes
        FROM mins
        WHERE i <= n_hashes - {WINNOW_W - 1} AND n_hashes >= {WINNOW_W}
        GROUP BY doc_id
    """,
    "q_text_analysis": """
        WITH d AS (
            SELECT lang, source, n_chars,
                   len(string_split(text, ' ')) AS n_tok,
                   len(list_distinct(string_split(text, ' '))) AS n_uniq
            FROM documents
        )
        SELECT lang, source,
               count(*) AS n_docs,
               round(avg(n_tok), 4) AS avg_tokens,
               round(avg(n_chars), 4) AS avg_chars,
               round(avg(n_uniq * 1.0 / n_tok), 4) AS avg_ttr
        FROM d GROUP BY lang, source
    """,
    "q_token_count": """
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INT)
                   AS n_re_tokens,
               CAST(length(text) AS INT) AS n_chars_actual
        FROM documents
    """,
    "q_lang_id": """
        WITH s AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '\\b(the|a|of|and)\\b')) AS INT) AS score_en,
                   CAST(len(regexp_extract_all(text, '\\b(le|la|et|de)\\b')) AS INT) AS score_fr,
                   CAST(len(regexp_extract_all(text, '\\b(der|die|und|das)\\b')) AS INT) AS score_de
            FROM documents
        )
        SELECT doc_id, score_en, score_fr, score_de,
               CASE WHEN score_en >= score_fr AND score_en >= score_de THEN 'en'
                    WHEN score_fr >= score_de THEN 'fr'
                    ELSE 'de' END AS pred_lang
        FROM s
    """,
    "q_lang_mismatch": """
        WITH s AS (
            SELECT lang,
                   CAST(len(regexp_extract_all(text, '\\b(the|a|of|and)\\b')) AS INT) AS score_en,
                   CAST(len(regexp_extract_all(text, '\\b(le|la|et|de)\\b')) AS INT) AS score_fr,
                   CAST(len(regexp_extract_all(text, '\\b(der|die|und|das)\\b')) AS INT) AS score_de
            FROM documents
        ), p AS (
            SELECT lang,
                   CASE WHEN score_en >= score_fr AND score_en >= score_de THEN 'en'
                        WHEN score_fr >= score_de THEN 'fr'
                        ELSE 'de' END AS pred_lang
            FROM s
        )
        SELECT lang, pred_lang, count(*) AS n_docs,
               lang != pred_lang AS mismatch
        FROM p GROUP BY lang, pred_lang
    """,
    "q_quality_score": """
        WITH d AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tok,
                   len(list_distinct(string_split(text, ' '))) * 1.0
                       / len(string_split(text, ' ')) AS ttr,
                   len(regexp_extract_all(text, '\\b(the|a|of|and|is|to|in)\\b')) * 1.0
                       / len(string_split(text, ' ')) AS stop_ratio
            FROM documents
        )
        SELECT doc_id,
               CAST(n_tok AS INT) AS n_tok,
               ttr,
               stop_ratio,
               0.4 * ttr + 0.3 * (1 - stop_ratio)
                     + 0.3 * (CASE WHEN n_tok BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END)
                   AS quality
        FROM d
    """,
    "q_fingerprint": """
        SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
        FROM documents
    """,
    "q_repetition_filter": """
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), g AS (
            SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
            FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
            WHERE len(w) >= 3
        ), c AS (
            SELECT doc_id,
                   CAST(count(*) AS INT) AS n_grams,
                   CAST(count(DISTINCT s) AS INT) AS n_distinct
            FROM g GROUP BY doc_id
        )
        SELECT doc_id, n_grams, n_distinct,
               round(1 - n_distinct * 1.0 / n_grams, 4) AS rep_ratio,
               (1 - n_distinct * 1.0 / n_grams) > 0.2 AS is_repetitive
        FROM c
    """,
    "q_multimodal": """
        SELECT doc_id, lang, n_chars, label,
               CAST(len(embedding) AS INT) AS dim
        FROM documents JOIN embeddings ON doc_id = vec_id
    """,
}


def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility profile per language — the number that sets a
    multilingual token budget (and flags scripts the tokenizer shreds):
    per lang, corpus volume (docs, words, chars) plus FERTILITY = BPE-ish
    regex tokens per whitespace word (a tokenizer that splits every CJK
    character inflates fertility for zh long before perplexity shows it)
    and chars-per-token (compression the token budget actually buys).
    Companion to q_token_count (per-doc raw counts) and q_lang_id: this is
    the per-language rollup a data-mix planner reads.

    Plan: one map-side projection (both tokenizations are codegen'd
    expressions on the scan — no UDF) into ONE combinable groupBy(lang)
    over config-many groups; all sums are exact longs; the two ratios
    quantize to 1e-4 integer micro-units before their single exact
    division (the cross-engine round rule — see q_minhash_merge)."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        F.coalesce(F.col("lang"), F.lit("<null>")).alias("lang"),
        F.size(tokens(F.col("text"))).cast("long").alias("ws"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
        ).cast("long").alias("re_t"),
        F.length("text").cast("long").alias("ch"),
    )
    agg = per.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws").alias("n_words"),
        F.sum("re_t").alias("n_tokens"),
        F.sum("ch").alias("n_chars"),
    )
    fert = F.col("n_tokens") / F.col("n_words")
    cpt = F.col("n_chars") / F.col("n_tokens")
    return agg.select(
        "lang",
        "n_docs",
        "n_words",
        "n_tokens",
        "n_chars",
        (F.round(fert * 10000).cast("long") / F.lit(10000.0)).alias("fertility"),
        (F.round(cpt * 10000).cast("long") / F.lit(10000.0)).alias(
            "chars_per_token"
        ),
    )


ORACLE["q_token_fertility"] = """
        SELECT coalesce(lang, '<null>') AS lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
               CAST(sum(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')))
                    AS BIGINT) AS n_tokens,
               CAST(sum(length(text)) AS BIGINT) AS n_chars,
               CAST(round(sum(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')))
                          * 1.0 / sum(len(string_split(text, ' '))) * 10000)
                    AS BIGINT) / 10000.0 AS fertility,
               CAST(round(sum(length(text)) * 1.0
                          / sum(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')))
                          * 10000) AS BIGINT) / 10000.0 AS chars_per_token
        FROM documents
        GROUP BY 1
    """


FERT_BUCKET_DOCS = 100  # ingest bucket = 100 docs (~100 min on the doc clock)
FERT_DRIFT_PCT = 3  # flag when a ratio moves > 3% off the trailing window


def q_fertility_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE tokenizer-fertility drift over ingest time — the
    early-warning q_token_fertility's per-language snapshot cannot give
    (round-13 verdict #6): a source whose tokenization statistics creep
    mid-ingest (a crawler that started hitting CJK pages, a format change
    that shreds text into punctuation, a boilerplate injection that
    shifts word lengths) blows the token budget long before the
    corpus-level rollup moves. Pairs with q_ks_drift: that flags
    distribution drift in document lengths, this flags drift in what the
    TOKENIZER does to the bytes.

    Each (source, ingest-bucket) cohort — doc_id div FERT_BUCKET_DOCS on
    the synthetic 1-doc/min ingest clock (operators/streamparity.py) —
    carries BOTH budget ratios: FERTILITY (regex tokens per whitespace
    word — the script-shredding signal) and CHARS-PER-TOKEN (the
    compression a token budget actually buys — the signal that moves on
    this corpus, whose single-space word text keeps fertility pinned at
    exactly 1.0). Each is compared against the TRAILING value over all of
    that source's prior buckets (exact cumulative integer sums,
    1-preceding window; a source's first bucket has no trailing, so its
    trailing columns and flag are NULL in both engines), and the drift
    flag fires when EITHER ratio diverges by more than FERT_DRIFT_PCT
    percent. Every comparison runs on 1e-4 integer micro-units
    (|m - t| * 100 > t * PCT) — no float boundary anywhere.

    Plan: one map-side codegen'd projection (both tokenizations are
    expressions on the scan, no UDF) into a combinable
    groupBy(source, bucket) that shrinks the corpus to (sources x
    ingest-buckets) rows BEFORE the per-source window — the cumulative
    sums never see corpus-sized data, so the single-partition-per-source
    window is config-sized at any corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "source",
        F.expr(f"doc_id div {FERT_BUCKET_DOCS}").alias("bucket"),
        *fertility_counts(),
    )
    return fertility_drift(per.groupBy("source", "bucket").agg(*fertility_sums()))


def fertility_counts() -> list[Column]:
    """Per-doc (ws, re_t, ch): whitespace words, TOKEN_RE tokens and
    chars of ``text``, as longs."""
    return [
        F.size(tokens(F.col("text"))).cast("long").alias("ws"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), F.lit(0))
        ).cast("long").alias("re_t"),
        F.length("text").cast("long").alias("ch"),
    ]


def fertility_sums() -> list[Column]:
    """Cohort aggregates of fertility_counts rows: n_docs, n_words,
    n_tokens, n_chars."""
    return [
        F.count("*").alias("n_docs"),
        F.sum("ws").alias("n_words"),
        F.sum("re_t").alias("n_tokens"),
        F.sum("ch").alias("n_chars"),
    ]


def fertility_drift(cohorts: DataFrame) -> DataFrame:
    """The drift classifier over a (source, bucket, n_docs, n_words,
    n_tokens, n_chars) cohort frame: each cohort's fertility and
    chars-per-token against the trailing cumulative of the source's
    earlier buckets, flagged past FERT_DRIFT_PCT. Shared by
    q_fertility_drift and q_stream_fertility."""
    w = (
        W.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    fm = F.round(F.col("n_tokens") / F.col("n_words") * 10000).cast("long")
    cm = F.round(F.col("n_chars") / F.col("n_tokens") * 10000).cast("long")
    ft = F.round(
        F.sum("n_tokens").over(w) / F.sum("n_words").over(w) * 10000
    ).cast("long")
    ct = F.round(
        F.sum("n_chars").over(w) / F.sum("n_tokens").over(w) * 10000
    ).cast("long")
    pct = F.lit(FERT_DRIFT_PCT)
    return cohorts.select(
        "source",
        F.col("bucket").cast("long").alias("bucket"),
        "n_docs",
        "n_words",
        "n_tokens",
        "n_chars",
        (fm / F.lit(10000.0)).alias("fertility"),
        (ft / F.lit(10000.0)).alias("trailing_fertility"),
        (cm / F.lit(10000.0)).alias("chars_per_token"),
        (ct / F.lit(10000.0)).alias("trailing_cpt"),
        (
            (F.abs(fm - ft) * 100 > ft * pct)
            | (F.abs(cm - ct) * 100 > ct * pct)
        ).alias("drift"),
    )


# Per-(source, bucket) counts over a ``per`` CTE, their trailing sums and
# the drift flags in 1e-4 fixed point — also q_stream_fertility's, over
# the sealed horizon.
FERT_DRIFT_SQL = f"""agg AS (
            SELECT source, bucket,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(ws) AS BIGINT) AS n_words,
                   CAST(sum(re_t) AS BIGINT) AS n_tokens,
                   CAST(sum(ch) AS BIGINT) AS n_chars
            FROM per GROUP BY 1, 2
        ), win AS (
            SELECT *,
                   CAST(sum(n_words) OVER wt AS BIGINT) AS cw,
                   CAST(sum(n_tokens) OVER wt AS BIGINT) AS ctk,
                   CAST(sum(n_chars) OVER wt AS BIGINT) AS cch
            FROM agg
            WINDOW wt AS (PARTITION BY source ORDER BY bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ), units AS (
            SELECT source, bucket, n_docs, n_words, n_tokens, n_chars,
                   CAST(round(n_tokens * 1.0 / n_words * 10000) AS BIGINT)
                       AS fm,
                   CAST(round(ctk * 1.0 / cw * 10000) AS BIGINT) AS ft,
                   CAST(round(n_chars * 1.0 / n_tokens * 10000) AS BIGINT)
                       AS cm,
                   CAST(round(cch * 1.0 / ctk * 10000) AS BIGINT) AS ctr
            FROM win
        )
        SELECT source, CAST(bucket AS BIGINT) AS bucket,
               n_docs, n_words, n_tokens, n_chars,
               fm / 10000.0 AS fertility,
               ft / 10000.0 AS trailing_fertility,
               cm / 10000.0 AS chars_per_token,
               ctr / 10000.0 AS trailing_cpt,
               (abs(fm - ft) * 100 > ft * {FERT_DRIFT_PCT}
                OR abs(cm - ctr) * 100 > ctr * {FERT_DRIFT_PCT}) AS drift
        FROM units"""

ORACLE["q_fertility_drift"] = f"""
        WITH per AS (
            SELECT source, doc_id // {FERT_BUCKET_DOCS} AS bucket,
                   len(string_split(text, ' ')) AS ws,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS re_t,
                   length(text) AS ch
            FROM documents
        ), {FERT_DRIFT_SQL}
    """
