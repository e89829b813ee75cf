"""Sketch-based counting: a Count-Min heavy-hitter audit (SURVEY.md §2.B
extension surface — bounded-memory frequency estimation for key domains too
large to count exactly; the reference counts nothing, consumer.go renders
and moves on).

Count-Min (Cormode & Muthukrishnan, J. Algorithms 2005 — public literature):
D seeded hash rows x W counters; every token increments one counter per row;
the estimate for a token is the MIN of its D counters — always an
OVERESTIMATE (collisions only add), within eps*N with probability 1-delta
for W = e/eps, D = ln(1/delta).

Why it matters at 100 TB: an exact token count over a web corpus shuffles
a key domain of billions (vocabulary grows ~heap's law); the CMS state is
a FIXED D x W integer grid (3 x 8192 here = 96 KiB) regardless of corpus or
vocabulary size, built with one partial-agg shuffle whose key domain is at
most D*W, and grids from different shards/streams/days merge by addition —
the standard streaming heavy-hitter layout. The exact top-K side of this
query exists to VERIFY the sketch cross-engine; a production pipeline keeps
only the grid.

Determinism: bucket hashes are md5-derived (functions/text.py md5_long),
bit-identical in DuckDB, so the oracle rebuilds the very same grid and the
driver hash-compares estimated counts — value-level verification of an
approximation structure (same trick as the LSH family's replayed oracles).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kitkat_spark.functions.text import md5_long, tokens
from kitkat_spark.sources import load_table

CMS_W = 8192  # counters per hash row
CMS_D = 3  # hash rows
CMS_TOP_K = 20


def _bucket(token: Column, seed: int) -> Column:
    return F.pmod(
        md5_long(F.concat(F.lit(f"cms{seed}|"), token)), F.lit(CMS_W)
    )


def _cms_cells(token: Column) -> Column:
    """The D (seed, bucket) grid cells of ``token``, one row each."""
    return F.explode(
        F.array(
            *[
                F.struct(F.lit(s).alias("seed"), _bucket(token, s).alias("bucket"))
                for s in range(CMS_D)
            ]
        )
    )


def cms_counters(token_stream: DataFrame, col: str = "token") -> DataFrame:
    """(seed, bucket, n): the D x W grid as a DataFrame — at most D*W rows
    no matter the input size; the explode is map-side (D rows per token)
    and the groupBy key domain is the grid itself, so the shuffle carries
    only partial counters."""
    cells = token_stream.select(_cms_cells(F.col(col)).alias("c"))
    return cells.groupBy("c.seed", "c.bucket").agg(F.count("*").alias("n"))


def q_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-vs-sketch audit: the top-20 tokens by TRUE term frequency,
    each with its Count-Min estimate (min over the D grid cells). n_cms >=
    n_true always; equality means no collision landed in any of the
    token's D cells.

    ONE corpus pass: the exact (token, n) frequency table — which this
    query needs anyway for its verification side — also SEEDS the grid
    (each vocab row contributes its D cells weighted by n; summing weights
    per cell equals counting the raw stream, and the explode runs over
    |vocab| rows instead of |corpus| tokens). A production pipeline that
    keeps only the sketch skips the frequency table and feeds
    ``cms_counters`` the raw stream — same grid, no exact pass. The exact
    side's orderBy+limit is TakeOrderedAndProject (per-partition heap)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    # eager checkpoint (vocab-sized): grid build and top-K both consume it;
    # a lazy persist lets the two consumers race and re-run the corpus pass
    freq = (
        toks.groupBy("token")
        .agg(F.count("*").alias("n_true"))
        .localCheckpoint(eager=True)
    )
    counters = (
        freq.select(
            F.col("n_true").alias("n"),
            _cms_cells(F.col("token")).alias("c"),
        )
        .groupBy("c.seed", "c.bucket")
        .agg(F.sum("n").alias("n"))
    )
    top = freq.orderBy(F.col("n_true").desc(), "token").limit(CMS_TOP_K)
    probes = top.select(
        "token",
        "n_true",
        _cms_cells(F.col("token")).alias("c"),
    ).select("token", "n_true", "c.seed", "c.bucket")
    # D*K probe rows vs <= D*W grid rows: broadcast the probes
    est = (
        counters.join(F.broadcast(probes), ["seed", "bucket"])
        .groupBy("token", "n_true")
        .agg(F.min("n").alias("n_cms"))
    )
    return est.select("token", "n_true", "n_cms")


HIST_BINS = 256
HIST_QS = (0.5, 0.9, 0.99)


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles vs exact: estimate p50/p90/p99 of the
    events `value` column from a fixed 256-bin equi-width histogram and
    report the estimate next to the exact interpolated percentile.

    Why a histogram sketch at 100 TB: exact percentiles need the sorted
    value stream (or all values per group); the histogram is a FIXED
    256-long state built in one partial-agg shuffle whose key domain is the
    bin index, mergeable by addition across shards/days — the same
    bounded-state argument as the Count-Min grid, for rank statistics.
    (Spark's own approx_percentile is a t-digest sketch — better error for
    the same state, but its estimates are engine-specific and not
    oracle-comparable; the equi-width histogram is deterministic
    arithmetic, so DuckDB rebuilds it bin-for-bin.)

    Estimate = upper edge of the first bin whose cumulative count reaches
    q*N (error <= one bin width = range/256). The bin arithmetic is written
    identically in both engines so IEEE evaluation matches bit-for-bit.
    The cumulative window runs over 256 rows — single-partition by design,
    irrelevant at any scale."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "events").select(F.col("value").alias("x"))
    # bounds AND the exact verification percentiles in ONE 1-row agg — the
    # histogram pass below is then the only other scan (2 total). The exact
    # side is verification-only and is the expensive half: Spark's exact
    # Percentile aggregate keeps a per-distinct-value map, so it is priced
    # by distinct count (~30k here; the same call on 600k near-unique
    # lineitem prices measured 2.8 s — at scale you would ONLY run the
    # sketch, which is the point of the query)
    pct_all = F.percentile("x", F.array(*[F.lit(q) for q in HIST_QS]))
    bounds = li.agg(
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.count("*").alias("n"),
        *[
            F.round(F.element_at(pct_all, i + 1), 4).alias(f"ex{i}")
            for i in range(len(HIST_QS))
        ],
    )
    # EAGER checkpoint, not lazy persist: two consumers (the histogram's
    # broadcast bounds and the exact verification rows) otherwise race to
    # materialize the cache and can each pay the 1-row-but-full-scan
    # percentile aggregate (measured 3.5 s vs 0.8 s in a bench sweep)
    bounds = bounds.localCheckpoint(eager=True)
    binned = li.crossJoin(F.broadcast(bounds.select("mn", "mx", "n"))).select(
        F.least(
            F.lit(HIST_BINS - 1),
            F.floor((F.col("x") - F.col("mn")) * HIST_BINS / (F.col("mx") - F.col("mn"))),
        )
        .cast("int")
        .alias("bin"),
        "mn",
        "mx",
        "n",
    )
    hist = binned.groupBy("bin", "mn", "mx", "n").agg(F.count("*").alias("cnt"))
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in HIST_QS])).alias("q")
    )
    est = (
        cum.crossJoin(F.broadcast(qs))
        .filter(F.col("cum") >= F.col("q") * F.col("n"))
        .groupBy("q", "mn", "mx")
        .agg(F.min("bin").alias("bin"))
        .select(
            "q",
            F.round(
                F.col("mn")
                + (F.col("bin") + 1) * (F.col("mx") - F.col("mn")) / HIST_BINS,
                4,
            ).alias("est"),
        )
    )
    exact = bounds.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"), F.col(f"ex{i}").alias("exact")
                    )
                    for i, q in enumerate(HIST_QS)
                ]
            )
        ).alias("e")
    ).select("e.q", "e.exact")
    return est.join(exact, "q").select(
        "q", "est", "exact", F.round(F.col("est") - F.col("exact"), 4).alias("err")
    )


HLL_P = 6
HLL_M = 1 << HLL_P  # 64 registers per group
HLL_REST_W = 32  # bits of hash feeding the leading-zero count
HLL_S = HLL_REST_W + 1  # 2^(S - rho) harmonic terms stay integer (rho <= S)
HLL_ALPHA = 0.709  # Flajolet-Fusy-Gandouet-Meunier 2007 constant for m = 64
_HLL_M2S = HLL_M * HLL_M * (1 << HLL_S)  # 2^45 — exact as a double

# Small-range linear-counting estimates, PRECOMPUTED: round(m * ln(m/z))
# for z empty registers. ln() is the one transcendental in HLL and libm
# results are not guaranteed bit-identical across the JVM and DuckDB —
# baking the 63 integers into BOTH engines' expressions (a literal lookup
# here, a CASE in the oracle) makes the branch engine-exact by
# construction, the same precompute-and-ship move as the PassJoin triple
# relation. z = 0 never reaches the table (the branch requires zeros > 0).
import math as _math

HLL_LC = tuple(
    int(_math.floor(HLL_M * _math.log(HLL_M / z) + 0.5))
    for z in range(1, HLL_M)
)
_HLL_LC_SQL = (
    "CASE zeros "
    + " ".join(f"WHEN {z + 1} THEN {v}" for z, v in enumerate(HLL_LC))
    + " END"
)


def hll_register(h: Column) -> tuple[Column, Column]:
    """(bucket, rho) register update of a 64-bit hash ``h``: the low HLL_P
    bits pick the register, rho = 1-based position of the leading 1-bit in
    the next REST_W-bit window — REST_W - bitlength(rest) + 1, with
    all-zeros mapping to REST_W + 1. bitlength via length(bin(x)): bin()
    drops leading zeros identically in Spark and DuckDB."""
    rest = F.pmod(F.shiftright(h, HLL_P), F.lit(1 << HLL_REST_W))
    rho = F.when(rest == 0, F.lit(HLL_REST_W + 1)).otherwise(
        F.lit(HLL_REST_W + 1) - F.length(F.bin(rest))
    )
    return F.pmod(h, F.lit(HLL_M)).alias("bucket"), rho.alias("rho")


def hll_estimate(regs: DataFrame, key: str) -> DataFrame:
    """(key, zeros, hsum, est_distinct) from the registers (key, bucket, r)
    of one HLL sketch per ``key`` value — shared by q_hll_distinct (key:
    flag) and q_stream_hll_wm (key: window_start). Empty registers never
    surface as rows; they contribute 2^S each to the harmonic sum (register
    value 0), folded in arithmetically. The small-range branch serves the
    precomputed HLL_LC table, decided on the engine-identical raw
    estimate."""
    sk = regs.groupBy(key).agg(
        (F.lit(HLL_M) - F.count("*")).cast("long").alias("zeros"),
        (
            F.sum(
                F.expr(
                    f"shiftleft(cast(1 as bigint), cast({HLL_S} - r as int))"
                )
            )
            + (F.lit(HLL_M) - F.count("*")) * F.lit(1 << HLL_S)
        )
        .cast("long")
        .alias("hsum"),
    )
    raw = F.lit(HLL_ALPHA) * F.lit(float(_HLL_M2S)) / F.col("hsum").cast(
        "double"
    )
    return sk.select(
        key,
        "zeros",
        "hsum",
        F.when(
            (raw <= F.lit(2.5 * HLL_M)) & (F.col("zeros") > 0),
            F.element_at(
                F.array(*[F.lit(v) for v in HLL_LC]),
                F.greatest(F.col("zeros"), F.lit(1)).cast("int"),
            ),
        )
        .otherwise(F.round(raw))
        .cast("long")
        .alias("est_distinct"),
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count audit: estimate |distinct l_orderkey| per
    l_returnflag from a 64-register HLL sketch (Flajolet, Fusy, Gandouet,
    Meunier, AofA 2007 — public literature) and report it next to the exact
    count. Completes the sketch family: Count-Min (frequency), histogram
    (rank), HLL (cardinality).

    Why it matters at 100 TB: COUNT(DISTINCT key) shuffles the full
    distinct key domain (billions of URLs/doc ids on a web corpus); the HLL
    state is m=64 6-bit registers per group, built with ONE partial-agg
    shuffle whose key domain is at most groups x m, and sketches from
    different shards/days merge by register-wise MAX. Duplicates hash to
    the same register update, so the sketch needs NO distinct pass — the
    exact side here exists only to verify it (same audit shape as
    q_count_min / q_quantile_sketch).

    Determinism: registers derive from md5_long (bit-identical in DuckDB);
    the harmonic mean is computed as an INTEGER sum of 2^(S - rho) terms
    (bit shifts, no float accumulation order), and the only float ops are
    one literal-multiply and one divide per group — identical IEEE
    evaluation both engines, so the driver hash-compares the ESTIMATES.
    The small-range linear-counting branch (raw <= 2.5m with empty
    registers) uses the PRECOMPUTED HLL_LC integer table in both engines
    (no cross-engine ln()); the branch decision itself compares the
    engine-identical raw estimate. At every tested SF the per-flag
    cardinality (>= ~700) keeps the pure-HLL branch taken here — the
    streaming variant (q_stream_hll_wm, the same hll_register and
    hll_estimate keyed on its window) exercises the linear branch hot.
    Expected relative error is 1.04/sqrt(64) ~= 13%; tests/test_sketches.py
    asserts the measured error inside that envelope."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"), F.col("l_orderkey").alias("k")
    )
    h = md5_long(F.concat(F.lit("hll|"), F.col("k").cast("string")))
    regs = (
        li.select("flag", *hll_register(h))
        .groupBy("flag", "bucket")
        .agg(F.max("rho").alias("r"))
    )
    est = hll_estimate(regs, "flag")
    exact = li.groupBy("flag").agg(
        F.countDistinct("k").alias("exact_distinct")
    )
    return (
        est.join(exact, "flag")
        .select(
            "flag",
            "zeros",
            "hsum",
            "est_distinct",
            "exact_distinct",
            F.round(
                (F.col("est_distinct") - F.col("exact_distinct")).cast(
                    "double"
                )
                / F.col("exact_distinct").cast("double"),
                4,
            ).alias("rel_err"),
        )
        .orderBy("flag")
    )


KMV_K = 64  # sketch size: k minimum hash values per set
KMV_DOMAIN = float(2**60)  # md5_long range [0, 2^60)
KMV_TYPE_A = "view"
KMV_TYPE_B = "purchase"


def q_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct sketches with SET-OPERATION support
    (Beyer et al., SIGMOD 2007 — public literature): per-audience distinct
    users, union size, Jaccard, and INTERSECTION estimated from k=
    {KMV_K}-hash sketches, next to the exact answers the fixture can still
    afford — the driver hash-verifies estimator and truth together.

    Why KMV and not HLL here: HLL registers union cleanly but cannot
    intersect without inclusion-exclusion error blowup; KMV sketches
    support intersection natively (K∩ = |uni_k ∩ S_A ∩ S_B|, J = K∩/k,
    |A∩B| ≈ J * est_union) — the audience-overlap question every
    cross-corpus dedup/contamination report asks.

    Scale: the (type, user) distinct is ONE map-side-combinable shuffle of
    8-byte hashes; the per-type k-minima run through a rank<=k window that
    Spark 3.5+'s WindowGroupLimit rewrites into per-partition partial
    top-k before the shuffle, and the global union minima are a
    TakeOrderedAndProject (per-partition heads only). A production stream
    would keep per-shard k-min heaps and merge them — the estimator's
    defining property; the exact columns exist to price its error and
    vanish at 100 TB. Estimate = (k-1) * 2^60 / kth_min, exact-count
    passthrough when the sketch saw fewer than k distinct values.

    Determinism: md5_long hashes are bit-identical in DuckDB, so the
    oracle rebuilds the same sketches and the same estimates."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(KMV_TYPE_A, KMV_TYPE_B)
    )
    du = ev.select("event_type", "user_id").distinct()
    hashed = du.select(
        "event_type", md5_long(F.col("user_id").cast("string")).alias("h")
    )
    w = W.partitionBy("event_type").orderBy("h")
    sk = hashed.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= KMV_K
    )
    is_a = F.col("event_type") == KMV_TYPE_A
    is_b = F.col("event_type") == KMV_TYPE_B
    sk_stats = sk.groupBy().agg(
        F.max(F.when(is_a, F.col("h"))).alias("kth_a"),
        F.sum(is_a.cast("long")).alias("keff_a"),
        F.max(F.when(is_b, F.col("h"))).alias("kth_b"),
        F.sum(is_b.cast("long")).alias("keff_b"),
    )
    uni = hashed.select("h").distinct().orderBy("h").limit(KMV_K)
    uni_stats = uni.groupBy().agg(
        F.max("h").alias("kth_u"), F.count("*").alias("keff_u")
    )
    both_h = (
        sk.groupBy("h")
        .agg(F.countDistinct("event_type").alias("nt"))
        .filter(F.col("nt") == 2)
    )
    inter_k = uni.join(both_h.select("h"), "h", "left_semi").groupBy().agg(
        F.count("*").alias("k_inter")
    )
    per_user = du.groupBy("user_id").agg(
        F.max(is_a.cast("int")).alias("in_a"),
        F.max(is_b.cast("int")).alias("in_b"),
    )
    exact = per_user.groupBy().agg(
        F.sum("in_a").cast("long").alias("n_a_exact"),
        F.sum("in_b").cast("long").alias("n_b_exact"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_inter_exact"),
        F.count("*").cast("long").alias("n_union_exact"),
    )

    def est(keff: str, kth: str):
        return F.when(
            F.col(keff) < KMV_K, F.col(keff).cast("double")
        ).otherwise(
            (F.col(keff) - 1).cast("double")
            * F.lit(KMV_DOMAIN)
            / F.col(kth).cast("double")
        )

    out = (
        exact.crossJoin(F.broadcast(sk_stats))
        .crossJoin(F.broadcast(uni_stats))
        .crossJoin(F.broadcast(inter_k))
    )
    jac = F.col("k_inter").cast("double") / F.col("keff_u").cast("double")
    return out.select(
        F.lit(KMV_K).alias("k"),
        "n_a_exact",
        "n_b_exact",
        "n_union_exact",
        "n_inter_exact",
        F.round(est("keff_a", "kth_a"), 2).alias("est_a"),
        F.round(est("keff_b", "kth_b"), 2).alias("est_b"),
        F.round(est("keff_u", "kth_u"), 2).alias("est_union"),
        F.round(jac, 4).alias("jaccard_est"),
        F.round(jac * est("keff_u", "kth_u"), 2).alias("est_inter"),
    )


def _kmv_est_sql(keff: str, kth: str) -> str:
    return (
        f"CASE WHEN {keff} < {KMV_K} THEN CAST({keff} AS DOUBLE) "
        f"ELSE CAST({keff} - 1 AS DOUBLE) * {KMV_DOMAIN!r} "
        f"/ CAST({kth} AS DOUBLE) END"
    )


ORACLE: dict[str, str] = {
    "q_kmv_intersect": f"""
        WITH du AS (
            SELECT DISTINCT event_type, user_id FROM events
            WHERE event_type IN ('{KMV_TYPE_A}', '{KMV_TYPE_B}')
        ), h AS (
            SELECT event_type,
                   CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                        AS BIGINT) AS h
            FROM du
        ), sk AS (
            SELECT event_type, h FROM (
                SELECT event_type, h,
                       row_number() OVER (
                           PARTITION BY event_type ORDER BY h) AS rk
                FROM h
            ) WHERE rk <= {KMV_K}
        ), sk_stats AS (
            SELECT max(CASE WHEN event_type = '{KMV_TYPE_A}' THEN h END)
                       AS kth_a,
                   CAST(sum(CASE WHEN event_type = '{KMV_TYPE_A}'
                            THEN 1 ELSE 0 END) AS BIGINT) AS keff_a,
                   max(CASE WHEN event_type = '{KMV_TYPE_B}' THEN h END)
                       AS kth_b,
                   CAST(sum(CASE WHEN event_type = '{KMV_TYPE_B}'
                            THEN 1 ELSE 0 END) AS BIGINT) AS keff_b
            FROM sk
        ), uni AS (
            SELECT DISTINCT h FROM h ORDER BY h LIMIT {KMV_K}
        ), uni_stats AS (
            SELECT max(h) AS kth_u, count(*) AS keff_u FROM uni
        ), both_h AS (
            SELECT h FROM sk GROUP BY h
            HAVING count(DISTINCT event_type) = 2
        ), inter_k AS (
            SELECT count(*) AS k_inter FROM uni
            WHERE h IN (SELECT h FROM both_h)
        ), per_user AS (
            SELECT user_id,
                   max(CASE WHEN event_type = '{KMV_TYPE_A}'
                       THEN 1 ELSE 0 END) AS in_a,
                   max(CASE WHEN event_type = '{KMV_TYPE_B}'
                       THEN 1 ELSE 0 END) AS in_b
            FROM du GROUP BY user_id
        ), exact AS (
            SELECT CAST(sum(in_a) AS BIGINT) AS n_a_exact,
                   CAST(sum(in_b) AS BIGINT) AS n_b_exact,
                   CAST(sum(in_a * in_b) AS BIGINT) AS n_inter_exact,
                   CAST(count(*) AS BIGINT) AS n_union_exact
            FROM per_user
        )
        SELECT {KMV_K} AS k, n_a_exact, n_b_exact, n_union_exact,
               n_inter_exact,
               round({_kmv_est_sql('keff_a', 'kth_a')}, 2) AS est_a,
               round({_kmv_est_sql('keff_b', 'kth_b')}, 2) AS est_b,
               round({_kmv_est_sql('keff_u', 'kth_u')}, 2) AS est_union,
               round(CAST(k_inter AS DOUBLE) / CAST(keff_u AS DOUBLE), 4)
                   AS jaccard_est,
               round(CAST(k_inter AS DOUBLE) / CAST(keff_u AS DOUBLE)
                     * ({_kmv_est_sql('keff_u', 'kth_u')}), 2) AS est_inter
        FROM exact, sk_stats, uni_stats, inter_k
    """,
    "q_hll_distinct": f"""
        WITH li AS (
            SELECT l_returnflag AS flag, l_orderkey AS k FROM lineitem
        ),
        h AS (
            SELECT flag,
                   ('0x' || substr(md5('hll|' || k), 1, 15))::BIGINT AS hv
            FROM li
        ),
        rr AS (
            SELECT flag, hv % {HLL_M} AS bucket,
                   (hv // {HLL_M}) % {1 << HLL_REST_W} AS rest
            FROM h
        ),
        rho AS (
            SELECT flag, bucket,
                   CASE WHEN rest = 0 THEN {HLL_REST_W + 1}
                        ELSE {HLL_REST_W + 1} - length(bin(rest)) END AS rho
            FROM rr
        ),
        regs AS (
            SELECT flag, bucket, max(rho) AS r FROM rho GROUP BY flag, bucket
        ),
        sk AS (
            SELECT flag,
                   CAST({HLL_M} - count(*) AS BIGINT) AS zeros,
                   CAST(sum(1::BIGINT << CAST({HLL_S} - r AS INT))
                        + ({HLL_M} - count(*)) * (1::BIGINT << {HLL_S})
                        AS BIGINT) AS hsum
            FROM regs GROUP BY flag
        ),
        est0 AS (
            SELECT flag, zeros, hsum,
                   CAST({HLL_ALPHA!r} AS DOUBLE) * {float(_HLL_M2S)!r}
                       / CAST(hsum AS DOUBLE) AS raw
            FROM sk
        ),
        est AS (
            SELECT flag, zeros, hsum,
                   CAST(CASE WHEN raw <= {2.5 * HLL_M!r} AND zeros > 0
                             THEN {_HLL_LC_SQL}
                             ELSE round(raw) END
                        AS BIGINT) AS est_distinct
            FROM est0
        ),
        ex AS (
            SELECT flag, count(DISTINCT k) AS exact_distinct FROM li
            GROUP BY flag
        )
        SELECT est.flag, zeros, hsum, est_distinct,
               CAST(exact_distinct AS BIGINT) AS exact_distinct,
               round((est_distinct - exact_distinct)
                     / CAST(exact_distinct AS DOUBLE), 4) AS rel_err
        FROM est JOIN ex ON est.flag = ex.flag
        ORDER BY est.flag
    """,
    "q_quantile_sketch": f"""
        WITH b AS (
            SELECT min(value) AS mn, max(value) AS mx,
                   count(*) AS n
            FROM events
        ),
        binned AS (
            SELECT CAST(least({HIST_BINS - 1},
                       floor((value - mn) * {HIST_BINS} / (mx - mn)))
                   AS INT) AS bin, mn, mx, n
            FROM events, b
        ),
        hist AS (
            SELECT bin, mn, mx, n, count(*) AS cnt
            FROM binned GROUP BY bin, mn, mx, n
        ),
        cum AS (
            SELECT bin, mn, mx, n,
                   sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
            FROM hist
        ),
        qs AS (SELECT CAST(unnest([{', '.join(str(q) for q in HIST_QS)}]) AS DOUBLE) AS q),
        est AS (
            SELECT q, round(mn + (min(bin) + 1) * (mx - mn) / {HIST_BINS}, 4) AS est
            FROM cum, qs WHERE cum >= q * n GROUP BY q, mn, mx
        ),
        exact AS (
            SELECT q, round(CASE q
                {' '.join(f"WHEN {q} THEN quantile_cont(value, {q})" for q in HIST_QS)}
                END, 4) AS exact
            FROM events, qs GROUP BY q
        )
        SELECT est.q, est, exact, round(est - exact, 4) AS err
        FROM est JOIN exact ON est.q = exact.q
    """,
    "q_count_min": f"""
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS token FROM documents
        ),
        cells AS (
            SELECT s.seed,
                   ('0x' || substr(md5('cms' || s.seed || '|' || token), 1, 15))::BIGINT
                       % {CMS_W} AS bucket
            FROM toks, (SELECT unnest([0, 1, 2]) AS seed) s
        ),
        grid AS (
            SELECT seed, bucket, count(*) AS n FROM cells GROUP BY seed, bucket
        ),
        top AS (
            SELECT token, count(*) AS n_true
            FROM toks GROUP BY token
            ORDER BY n_true DESC, token LIMIT {CMS_TOP_K}
        ),
        probes AS (
            SELECT token, n_true, s.seed,
                   ('0x' || substr(md5('cms' || s.seed || '|' || token), 1, 15))::BIGINT
                       % {CMS_W} AS bucket
            FROM top, (SELECT unnest([0, 1, 2]) AS seed) s
        )
        SELECT p.token, p.n_true, CAST(min(g.n) AS BIGINT) AS n_cms
        FROM probes p JOIN grid g ON p.seed = g.seed AND p.bucket = g.bucket
        GROUP BY p.token, p.n_true
    """,
}
