"""Near-duplicate detection over documents (SURVEY.md §2.B, M4).

Three families, all shuffle-disciplined for 100 TB:

- q_ngram_jaccard: EXACT shingle-set Jaccard via an inverted-index self-join
  (explode shingles -> join on shingle -> count common). Distributed-native:
  the join key is the shingle, so only docs *sharing* a shingle ever meet —
  no O(N^2) pair enumeration. DuckDB-oracled.
- q_near_dedup: MinHash + LSH banding. Signatures are computed in one
  codegen'd pass (functions/text.py), candidate pairs come from a self-join on
  (band_id, band_key) — at 100 TB this is THE layout: band buckets are the
  shuffle key, candidates per bucket are tiny. Verified pairs get exact
  Jaccard. FULLY DuckDB-oracled: the base shingle hash is md5-derived
  (functions/text.py md5_long), the k-permutation remix is deterministic
  affine arithmetic, and band keys are raw signature slices — the oracle SQL
  below replays the identical LSH pipeline value-for-value.
- q_simhash: 64-bit SimHash per doc via bit-vote aggregation; near-dup pairs
  by Hamming distance <= 3 found with the 4-band pigeonhole trick (one 16-bit
  band must match exactly), again a band-bucket self-join. Also fully
  DuckDB-oracled via the md5-derived token hash.

Common hygiene: pairs are emitted once (doc_a < doc_b), exploded inverted
index drops stop-shingles with document frequency > DF_CAP (a hot-key guard:
at scale a boilerplate shingle would otherwise create a quadratic bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kitkat_spark.caches import fixture
from kitkat_spark.functions.text import (
    band_slices,
    full_shingle_hashes,
    make_minhash_udf,
    md5_long,
    oracle_shingle_hashes,
    tokens,
)
from kitkat_spark.functions.udf import per_context
from kitkat_spark.sources import load_table

SHINGLE_N = 3
JACCARD_THRESHOLD = 0.8
MINHASH_K = 32
LSH_BANDS = 8
LSH_ROWS = 4
SIMHASH_MAX_HAMMING = 3
# LSH band-bucket size cap: a bucket is a candidate CLIQUE, so an uncapped
# degenerate bucket (e.g. the all-empty-signature band) is quadratic. Real
# near-dup families are far smaller; candidates lost to the cap would be
# boilerplate-cluster pairs the DF_CAP guard already excludes from scoring.
LSH_MAX_BUCKET = 1000
# Sentinels for per-source pair attribution (q_lsh_source_curve): a pair
# whose docs disagree on source is '<cross>'; NULL sources coalesce to
# '<null>' on BOTH engines first (the q_tclose_audit lesson).
CROSS_SOURCE = "<cross>"
NULL_SOURCE = "<null>"


import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import types as T  # noqa: E402


@per_context(F.pandas_udf(T.LongType()))
def _simhash_pack_udf(token_hashes: pd.Series) -> pd.Series:
    """64-bit SimHash from an array of token hashes: per bit i, vote +-1 by
    hash bit i; sign of the vote sum becomes fingerprint bit i.

    Vectorized across the Arrow batch: one flattened (N x 64) bit matrix and
    a segment-sum (np.add.reduceat) per doc — zero per-row Python."""
    shifts = np.arange(64, dtype=np.uint64)
    lens = token_hashes.map(lambda h: 0 if h is None else len(h)).to_numpy(dtype=np.int64)
    out = np.zeros(len(lens), dtype=np.int64)
    nonempty = lens > 0
    if nonempty.any():
        flat = np.concatenate(
            [np.asarray(h, dtype=np.int64) for h in token_hashes[nonempty]]
        ).astype(np.uint64)[:, None]
        bits = ((flat >> shifts[None, :]) & np.uint64(1)).astype(np.int64) * 2 - 1
        starts = np.zeros(int(nonempty.sum()), dtype=np.int64)
        np.cumsum(lens[nonempty][:-1], out=starts[1:])
        votes = np.add.reduceat(bits, starts, axis=0)  # (n_docs, 64)
        packed = ((votes > 0).astype(np.uint64) << shifts[None, :]).sum(
            axis=1, dtype=np.uint64
        )
        out[nonempty] = packed.astype(np.int64)  # two's-complement reinterpret
    return pd.Series(out)
# Drop shingles appearing in more than this many docs (hot-key guard). Chosen
# high enough that the fixture's real near-dups all survive.
DF_CAP = 50


def _shingled(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    # The fixture is one parquet file -> one input partition; shingling and
    # hashing are CPU-bound, so fan out to full parallelism first. On a real
    # cluster the scan is already many partitions and this is a cheap no-op
    # rebalance of the narrow map stage.
    #
    # Shingles are carried as FULL-RANGE xxhash64 longs, never strings: the
    # inverted index shuffles 8-byte keys instead of ~25-byte text, and the
    # downstream join/agg compare longs. Jaccard on hashes equals
    # string-shingle Jaccard up to 64-bit collisions (~1M distinct shingles
    # -> P[any collision] ~ 3e-8), far below the oracle's observable effect.
    # Persist = optimizer boundary: without it, the size() filter and the
    # downstream struct/explode projections each re-inline the whole
    # tokenize+shingle+hash subtree (21 xxhash64 copies in the plan, same
    # pathology fixed in q_winnow_fingerprint). With it, the scan hashes
    # once and everything downstream reads an attribute — this persisted
    # shingle table is the layout a 100 TB run would write out anyway.
    par = spark.sparkContext.defaultParallelism
    if docs is None:
        docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(par)
    hashed = full_shingle_hashes(tokens(F.col("text")), SHINGLE_N)
    return (
        docs.select("doc_id", hashed.alias("shingles"))
        .persist()
        .filter(F.size("shingles") > 0)
    )


def bucket_pairs(df: DataFrame, keys: list[str], id_col: str, max_bucket: int) -> DataFrame:
    """Unique ordered (id_a, id_b) co-occurrence pairs per bucket, emitted as
    one row per (bucket, pair): groupBy(bucket) -> sorted id list -> in-bucket
    pair expansion with codegen'd array HOFs.

    ONE shuffle (the groupBy) versus the equivalent self-join's two shuffle
    reads + join build. The bucket-size cap bounds the O(b^2) expansion AND
    subsumes the hot-key guard (a bucket over the cap is exactly a hot key) —
    candidate volume per bucket is <= cap^2/2 regardless of corpus size,
    which is the property that keeps LSH/inverted-index layouts viable at
    100 TB."""
    ids = F.array_sort(F.collect_list(id_col))
    buckets = (
        df.groupBy(*keys)
        .agg(ids.alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return buckets.select(F.explode(pair_arr).alias("p")).select(
        F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b")
    )


def jaccard_pairs(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """(doc_a, doc_b, jaccard) pairs with Jaccard >= JACCARD_THRESHOLD —
    shared by q_ngram_jaccard and the connected-components clustering in
    operators/corpus.py (same edge set, same DF_CAP hot-key guard).
    ``docs`` overrides the input corpus (default: the documents table) —
    q_dedup_verify re-runs this same detector over the deduplicated
    keep-set; document frequencies (the DF_CAP guard) are recomputed on
    the given corpus, exactly as a re-run over a written corpus would.

    Inverted index via bucket_pairs: n_common(a, b) = number of shingle
    buckets emitting the pair. Buckets over DF_CAP are dropped — identical
    semantics to the old explicit hot-shingle anti-join, one aggregation
    cheaper. The index key is the xxhash64 of the shingle (see _shingled) —
    the DuckDB oracle verifies string-level Jaccard, which these hashes
    reproduce exactly barring 64-bit collisions.

    The bucket id is a (doc_id, n_sh) STRUCT, so each doc's shingle count
    rides along into the pair expansion and the Jaccard denominator is
    available at the final agg — no join back to a counts table. (The
    previous join-back formulation executed the tokenize+shingle+hash scan
    three times — once for the index, twice for the count joins — and two
    extra shuffled joins; this is one scan, two shuffles total.) array_sort
    on the struct orders by doc_id, preserving doc_a < doc_b.
    """
    sh = _shingled(spark, sf_dir, docs)
    inv = sh.select(
        F.struct(F.col("doc_id"), F.size("shingles").alias("n_sh")).alias("idn"),
        F.explode("shingles").alias("s"),
    )
    jac = (
        bucket_pairs(inv, ["s"], "idn", DF_CAP)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
        .select(
            F.col("id_a.doc_id").alias("doc_a"),
            F.col("id_b.doc_id").alias("doc_b"),
            F.round(
                F.col("n_common")
                / (F.col("id_a.n_sh") + F.col("id_b.n_sh") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= JACCARD_THRESHOLD)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs >= 0.8 via inverted-index join (no N^2)."""
    return jaccard_pairs(spark, sf_dir)


PASSJOIN_K = 12  # max edit distance; segments per doc = K + 1
_PASS_M = PASSJOIN_K + 1


def _pass_layout(length: F.Column, i: F.Column) -> tuple[F.Column, F.Column]:
    """(seg_len, seg_start) of 0-based segment ``i`` in PassJoin's
    even-partition layout for a string of ``length`` chars: with
    a = length // m and b = length % m, the first m-b segments have length
    a and the last b have a+1. Pure integer arithmetic so the DuckDB twin
    can replay it cell-for-cell."""
    a = F.floor(length / _PASS_M).cast("int")
    b = (length % _PASS_M).cast("int")
    seg_len = a + (i >= _PASS_M - b).cast("int")
    seg_start = i * a + F.greatest(F.lit(0), i - (_PASS_M - b))
    return seg_len, seg_start


def _seg_ordinals() -> F.Column:
    """One row per segment ordinal i in [0, _PASS_M)."""
    return F.explode(F.sequence(F.lit(0), F.lit(_PASS_M - 1))).alias("i")


def passjoin_triples() -> list[tuple[int, int, int]]:
    """The DOC-INDEPENDENT valid (delta, i, d) probe set for PassJoin at
    k = PASSJOIN_K (~800 triples for k=12): delta = length difference in
    [0, k], i = segment index, d = start shift inside the multi-match-aware
    window of the EDBT 2011 paper. Precomputed driver-side and broadcast
    (higher-order-function re-derivation per doc ran interpreted and was
    60% of q_passjoin_dedup's wall time); passjoin_windows joins it for
    every probe: q_passjoin_dedup, q_passjoin_planner, the incremental
    streaming probe (operators/streamparity.py q_stream_passjoin) and
    q_passjoin_delete's audit."""
    return [
        (delta, i, d)
        for delta in range(PASSJOIN_K + 1)
        for i in range(_PASS_M)
        for d in range(-PASSJOIN_K, PASSJOIN_K + 1)
        if abs(d) + abs(delta - d) <= PASSJOIN_K
        and max(-i, delta - (PASSJOIN_K - i))
        <= d
        <= min(i, delta + (PASSJOIN_K - i))
    ]


def passjoin_index(docs: DataFrame) -> DataFrame:
    """Segment INDEX side of PassJoin over a (doc_id, text, n_chars)
    frame: every doc split into _PASS_M even segments (the pigeonhole
    partitions), keyed (len_s, i, xxhash64(segment)). Segments join as
    xxhash64 of the content: collisions can only ADD candidates (the
    levenshtein verify discards them), never lose one, and a long key
    hashes/compares far cheaper than a ~30-char string. Shared by
    q_passjoin_dedup, q_passjoin_planner and q_stream_passjoin;
    q_passjoin_delete's audit counts the same _seg_ordinals per length."""
    seg_len, seg_start = _pass_layout(F.col("len_s"), F.col("i"))
    return docs.select(
        F.col("doc_id").alias("id_s"),
        F.col("n_chars").alias("len_s"),
        "text",
        _seg_ordinals(),
    ).select(
        "id_s",
        "len_s",
        "i",
        F.xxhash64(F.substring("text", seg_start + 1, seg_len)).alias("seg"),
    )


def passjoin_windows(spark: SparkSession, rows: DataFrame) -> DataFrame:
    """PassJoin's probe enumeration over any frame with a ``len_r``
    column: each row crossed with the broadcast (delta, i, d) triples, cut
    to partner lengths len_s = len_r - delta >= _PASS_M, and kept where the
    shifted window (q = segment start + d, sl = segment length) lies inside
    len_r. Returns ``rows``' columns plus len_s, i, sl, q. Shared by
    passjoin_probe (which hashes the substrings) and q_passjoin_delete's
    occupancy audit (which counts them over the length distribution)."""
    tdf = spark.createDataFrame(passjoin_triples(), "delta int, i int, d int")
    p_len, p_start = _pass_layout(F.col("len_s"), F.col("i"))
    return (
        rows.withColumn("one", F.lit(1))
        .join(F.broadcast(tdf.withColumn("one", F.lit(1))), "one")
        .withColumn("len_s", F.col("len_r") - F.col("delta"))
        .filter(F.col("len_s") >= _PASS_M)
        .select(*rows.columns, "len_s", "i",
                p_len.alias("sl"), (p_start + F.col("d")).alias("q"))
        .filter((F.col("q") >= 0) & (F.col("q") + F.col("sl") <= F.col("len_r")))
    )


def passjoin_probe(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """PROBE side of PassJoin: delta = len_r - len_s in [0, k] (the
    shorter side is indexed); shifts restricted to the multi-match-aware
    window of the PassJoin paper, d in [max(-i, delta-(k-i)),
    min(i, delta+(k-i))] — roughly halves the probe volume vs the plain
    |d| + |delta-d| <= k budget (kept as an intersection; the hypothesis
    property suite pins the recall-1.0 guarantee of exactly this
    enumeration, and tests/test_passjoin_property.py verifies it
    exhaustively at small k). The valid (delta, i, d) set is
    DOC-INDEPENDENT — ~800 triples for k=12 — so it is precomputed
    driver-side and broadcast-hash-joined on a constant key instead of
    being re-derived per doc with explode + array-HOF filters:
    higher-order functions run interpreted (outside whole-stage codegen)
    and were 60% of q_passjoin_dedup's wall time. ``docs`` may be a
    streaming frame: the triple broadcast is a stream-static join, so
    q_stream_passjoin probes its ingest batches with this same function.
    The enumeration itself is passjoin_windows, which q_passjoin_delete's
    audit also runs."""
    windows = passjoin_windows(
        spark,
        docs.select(
            F.col("doc_id").alias("id_r"), F.col("n_chars").alias("len_r"), "text"
        ),
    )
    return windows.select(
        "id_r",
        "len_r",
        "len_s",
        "i",
        F.xxhash64(F.substring("text", F.col("q") + 1, F.col("sl"))).alias("seg"),
    )


def q_passjoin_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit-distance self-join via PassJoin partitioning (Li, Deng &
    Feng, EDBT 2011) — the edit-distance near-dup detector: character-level
    edits that rewrite many shingles but few characters. Unlike length
    blocking, whose blocks saturate as corpora densify (its pairs in
    over-cap blocks are lost), PassJoin needs no cap and its candidate
    volume is LINEAR in corpus size.

    Pigeonhole: split every doc into m = k+1 = 13 segments; at most one
    segment per edit is touched, so any pair within distance k shares at
    least one of the shorter doc's segments verbatim. The matching copy's
    start shift d = q - p obeys |d| + |delta - d| <= k (prefix edits >=
    |d|, suffix edits >= |delta - d|, delta = length difference) — so the
    probe side enumerates only those (partner length, segment, shift)
    substrings: ~780 keys per doc under the multi-match-aware window,
    a CONSTANT map-side expansion, joined on (partner_len, seg_id,
    substring). One shuffle on content keys, candidates ~= true pairs,
    then the threshold-capped levenshtein verify. No block can saturate:
    hot keys exist only where near-identical text actually repeats, which
    is exactly the candidate set.

    The oracle is the obviously-correct brute force (length-prefiltered
    all-pairs levenshtein), so the driver's hash gate proves the entire
    partition/probe machinery loses nothing."""
    # One narrow projection feeds FOUR consumers (segment index, probe
    # expansion, and both verify join-backs); persist it so the scan+filter
    # runs once instead of four times, and fan out to full parallelism
    # first — the fixture is a single parquet file (one input partition)
    # and the 13x/~60x substring+hash map stages are CPU-bound (same
    # persist-as-optimizer-boundary move as _shingled above).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "n_chars")
        .filter(F.col("n_chars") >= _PASS_M)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
    )
    matches = passjoin_index(docs).join(
        passjoin_probe(spark, docs), ["len_s", "i", "seg"]
    )
    return passjoin_verify(passjoin_pairs(matches).distinct(), docs)


def passjoin_pairs(matches: DataFrame) -> DataFrame:
    """Index/probe key matches (id_s, len_s, id_r, len_r) as ordered
    candidate pairs (doc_a < doc_b, mx = the longer length). A pair of
    equal-length docs meets itself in both roles; the id order keeps one."""
    return matches.filter(
        (F.col("len_s") < F.col("len_r")) | (F.col("id_s") < F.col("id_r"))
    ).select(
        F.least("id_s", "id_r").alias("doc_a"),
        F.greatest("id_s", "id_r").alias("doc_b"),
        F.greatest("len_s", "len_r").alias("mx"),
    )


def passjoin_verify(pairs: DataFrame, texts: DataFrame) -> DataFrame:
    """Threshold-capped levenshtein verify of (doc_a, doc_b, mx) candidate
    pairs against a (doc_id, text) frame: pairs within PASSJOIN_K edits
    with rel_dist = lev / mx at 4 dp."""
    ta = texts.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = texts.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    lev = F.levenshtein("text_a", "text_b", PASSJOIN_K)
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select("doc_a", "doc_b", "mx", lev.alias("lev"))
        .filter((F.col("lev") >= 0) & (F.col("lev") <= PASSJOIN_K))
        .select(
            "doc_a",
            "doc_b",
            "lev",
            F.round(F.col("lev") * 1.0 / F.col("mx"), 4).alias("rel_dist"),
        )
    )


def lsh_signatures_and_candidates(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The audited MinHash-LSH candidate pipeline shared by q_near_dedup,
    q_minhash_accuracy, and q_lsh_source_curve: a PERSISTED signature
    table (doc_id, src, shingle hashes, k-component signature) and the
    unique candidate pairs from the capped band-bucket self-join.

    Two deliberate scale moves (shared by every consumer):
    - shingles live as HASHES from the first pass (oracle_shingle_hashes:
      md5-derived so the DuckDB twins reproduce values) — minhash, banding,
      and every downstream exact-Jaccard compare run on longs.
    - the signature table is persisted: it feeds the band self-join and
      each consumer's pair joins; without reuse Spark recomputes the
      shingle+minhash pipeline per consumer (measured: 75% of q_near_dedup
      wall time). At 100 TB this materialization is the standard
      "signature table" layout — tiny relative to the corpus (k longs +
      shingle hashes per doc).

    The coalesced source column ('<null>' sentinel) is ALWAYS threaded
    through the signature table — the one extra byte that makes
    per-source attribution free downstream. One table serves every
    consumer (a per-variant table would pay the shingle+minhash pass, the
    query's dominant one, once per variant); the source-blind ones simply
    never select ``src``.

    The built (sig, cand) pair is the session's ``lsh_signatures``
    fixture (caches.py, which also unpersists it once another application
    shows up) — the fresh minhash UDF object per call would otherwise
    defeat Spark's CacheManager plan-dedup and a session running the whole
    LSH family would accumulate an independent persisted signature table
    per consumer."""
    return fixture(spark, sf_dir, "lsh_signatures", lambda _: _lsh_build(spark, sf_dir))


def _lsh_build(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    par = spark.sparkContext.defaultParallelism
    docs = (
        load_table(spark, sf_dir, "documents")
        .repartition(par)
        .withColumn("src", F.coalesce(F.col("source"), F.lit(NULL_SOURCE)))
    )
    minhash_udf = make_minhash_udf(MINHASH_K)
    cols = ["doc_id", "src"]
    sig = (
        docs.select(
            *cols,
            oracle_shingle_hashes(tokens(F.col("text")), SHINGLE_N).alias("sh"),
        )
        .filter(F.size("sh") > 0)
        .select(*cols, "sh", minhash_udf(F.col("sh")).alias("sig"))
        .persist()
    )
    banded = sig.select(
        "doc_id",
        F.posexplode(
            band_slices(F.col("sig"), LSH_BANDS, LSH_ROWS)
        ).alias("band_id", "band_key"),
    )
    cand = (
        bucket_pairs(banded, ["band_id", "band_key"], "doc_id", LSH_MAX_BUCKET)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        .distinct()
    )
    return sig, cand


def q_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + LSH(8 bands x 4 rows) candidate pairs, exact-verified.

    Candidate generation cost is driven by band-bucket sizes, not corpus
    size^2; the verify join re-reads only candidate docs' shingle sets
    (from the shared persisted signature table —
    lsh_signatures_and_candidates for the scale rationale)."""
    sig, cand = lsh_signatures_and_candidates(spark, sf_dir)
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ).alias("jaccard"),
        )
    )
    return verified.filter(F.col("jaccard") >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", "jaccard"
    )




def q_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimation-accuracy audit: for every LSH candidate pair,
    the signature-estimated Jaccard (matching components / k) next to the
    EXACT shingle-set Jaccard and their absolute error — the dedup
    counterpart of q_ann_recall (index) and q_embedding_quantize
    (storage): the sketch the near-dup pass trusts is measured under the
    oracle gate, not assumed. E[matches/k] = J is the MinHash guarantee
    (Broder 1997); this query shows the realized spread at k=32 on real
    candidates, which is exactly what sets the banding thresholds.

    Shape: identical to q_near_dedup's candidate pipeline (the shared
    lsh_signatures_and_candidates: persisted signature table, band-bucket
    self-join with the LSH_MAX_BUCKET cap) plus one zip_with/aggregate
    comparison per pair — no new shuffle. The estimate is an exact
    rational (int/32) and the exact Jaccard an exact rational of set
    sizes, so every output value is engine-replayable."""
    sig, cand = lsh_signatures_and_candidates(spark, sf_dir)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"), F.col("sig").alias("sig_a")
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"), F.col("sig").alias("sig_b")
    )
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    exact = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(exact, 4).alias("jaccard_exact"),
            F.round(matches / F.lit(MINHASH_K), 4).alias("jaccard_est"),
            F.round(F.abs(matches / F.lit(MINHASH_K) - exact), 4).alias("abs_err"),
        )
    )



# log2(MINHASH_K): the S-curve exponent (1 - j^r)^(K/r) is computed by
# repeated squaring log2(K) - log2(r) times — derived from the signature
# width so the curve can never silently desync if MINHASH_K is retuned
_LOG2_K = MINHASH_K.bit_length() - 1
if MINHASH_K != 1 << _LOG2_K:  # explicit: survives python -O (assert would not)
    raise ValueError(
        f"MINHASH_K must be a power of two (got {MINHASH_K}); the S-curve "
        "repeated-squaring exponents and LSH_TUNE_ROWS derive from log2(K)"
    )
# r per config; bands = MINHASH_K // r
LSH_TUNE_ROWS = tuple(1 << i for i in range(_LOG2_K + 1))


def _pow_sq(col, k: int):
    """col ** (2**k) by repeated squaring — multiplication only, so both
    engines compute the identical IEEE double (no pow() library variance,
    the reason the tuning grid is restricted to power-of-two r)."""
    for _ in range(k):
        col = col * col
    return col


def q_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding S-curve audit (Leskovec, Rajaraman & Ullman, "Mining of
    Massive Datasets" ch. 3 — public literature): for every carving of the
    k=32 MinHash signature into b bands of r rows (b*r = 32, r a power of
    two), a pair with Jaccard j is caught with probability
    1 - (1 - j^r)^b. Evaluated over the MEASURED candidate-pair population
    (q_minhash_accuracy's pairs and their exact Jaccards — the honest
    population available without an all-pairs pass, stated bias: pairs the
    current 8x4 banding never surfaces are absent), each config reports
    its expected recall on true near-dups (j >= threshold) and its
    expected catch rate on sub-threshold pairs — the data-driven way to
    pick (b, r), next to q_minhash_accuracy's sketch-error measurement.

    Exactness: r and 32/r are powers of two, so j^r and (1-j^r)^(32/r)
    compute by REPEATED SQUARING — pure multiplication, bit-identical
    across engines; per-pair probabilities quantize to 1e-6 micro-units
    before the order-independent integer sums; each mean is one exact
    division of those sums. Shape: rides the audited candidate pipeline,
    then a 6x constant fan-out and one schema-bounded (6-row) aggregation
    — nothing new shuffles at any corpus size."""
    pairs = q_minhash_accuracy(spark, sf_dir).select(
        F.col("jaccard_exact").alias("j")
    )
    return s_curve(pairs)


def s_curve(pairs: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """The banding S-curve fan-out + aggregation over a pair table with an
    exact-Jaccard column ``j`` — shared by q_lsh_tuning (keys=()) and
    q_lsh_source_curve (keys=('pair_source',)). Detection probabilities by
    repeated squaring only, 1e-6 micro-unit quantization before the
    order-independent integer sums, one exact division per mean (the
    exactness contract both oracles replay textually)."""
    j = F.col("j")
    configs = []
    for r in LSH_TUNE_ROWS:
        k = r.bit_length() - 1  # r = 2^k
        miss = _pow_sq(F.lit(1.0) - _pow_sq(j, k), _LOG2_K - k)  # (1-j^r)^(K/r)
        configs.append(
            F.struct(
                F.lit(MINHASH_K // r).alias("n_bands"),
                F.lit(r).alias("n_rows"),
                (F.lit(1.0) - miss).alias("p"),
            )
        )
    cfg = pairs.select(
        *keys, "j", F.explode(F.array(*configs)).alias("c")
    ).select(*keys, "j", "c.n_bands", "c.n_rows", "c.p")
    p6 = F.round(F.col("p") * 1e6).cast("long")
    is_dup = F.col("j") >= F.lit(JACCARD_THRESHOLD)
    agg = cfg.groupBy(*keys, "n_bands", "n_rows").agg(
        F.sum(is_dup.cast("long")).alias("n_dup_pairs"),
        F.sum((~is_dup).cast("long")).alias("n_nondup_pairs"),
        F.sum(F.when(is_dup, p6).otherwise(F.lit(0))).alias("p6_dup"),
        F.sum(F.when(~is_dup, p6).otherwise(F.lit(0))).alias("p6_nondup"),
    )
    return agg.select(
        *keys,
        "n_bands",
        "n_rows",
        "n_dup_pairs",
        "n_nondup_pairs",
        F.when(
            F.col("n_dup_pairs") > 0,
            F.round(F.col("p6_dup") / (F.col("n_dup_pairs") * F.lit(1e6)), 6),
        ).alias("exp_recall_dup"),
        F.when(
            F.col("n_nondup_pairs") > 0,
            F.round(F.col("p6_nondup") / (F.col("n_nondup_pairs") * F.lit(1e6)), 6),
        ).alias("exp_catch_nondup"),
    )


def q_lsh_source_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source banding S-curve: q_lsh_tuning's expected-recall /
    expected-catch audit split by WHERE the near-dup mass lives — each
    candidate pair is attributed to its source when both docs share one,
    else to the '<cross>' class (NULL sources coalesce to a '<null>'
    sentinel on both engines first — the q_tclose_audit lesson). Corpus
    sources dedupe very differently (a crawl snapshot is near-dup-dense at
    high Jaccard, a curated set sparse and borderline), so one global
    (b, r) choice hides per-source recall cliffs; this is the table that
    shows them, and whether duplication is intra-source (fix the source)
    or cross-source (fix the pipeline).

    Shape: the identical audited candidate pipeline (the shared
    lsh_signatures_and_candidates) — the ONE extra byte
    is the source column carried through the persisted signature table, so
    attribution costs zero additional joins or shuffles; then the shared
    s_curve fan-out into a (sources+1) x 6-row aggregate."""
    sig, cand = lsh_signatures_and_candidates(spark, sf_dir)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"), F.col("src").alias("src_a")
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"), F.col("src").alias("src_b")
    )
    exact = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    pair_source = F.when(
        F.col("src_a") == F.col("src_b"), F.col("src_a")
    ).otherwise(F.lit(CROSS_SOURCE))
    pairs = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(pair_source.alias("pair_source"), F.round(exact, 4).alias("j"))
    )
    return s_curve(pairs, keys=("pair_source",))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash64 near-dup pairs with Hamming <= 3 via 4x16-bit band join.

    Bit votes: distinct tokens hashed once (md5_long: 60-bit, bits 60-63
    are structurally 0 so those fingerprint bits vote to 0 on both engines);
    per bit i the vote is +-1; sign of the summed vote is bit i of the
    fingerprint. The vote aggregation is a vectorized pandas UDF; the md5
    hash makes the whole pipeline value-reproducible by the DuckDB oracle.
    """
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par)
    # token hashing stays JVM-side; the 64-bit vote/pack is a vectorized
    # numpy pandas-UDF per doc (an exploded groupBy(doc_id, bit) equivalent
    # benchmarked 8 s at sf0.1 for pure shuffle overhead; this is <1 s and
    # shuffle-free — simhash becomes a narrow map)
    hashed = docs.select(
        "doc_id",
        F.transform(
            F.array_distinct(tokens(F.col("text"))), lambda t: md5_long(t)
        ).alias("th"),
    )
    # single consumer since the bucket_pairs rewrite — no persist needed
    summed = hashed.select(
        "doc_id", _simhash_pack_udf(F.col("th")).alias("simhash")
    )
    # bucket id carries (doc_id, simhash) as a struct so the pair expansion
    # emits the fingerprints directly — no join-back to the signature table;
    # array_sort on the struct orders by doc_id (distinct), preserving the
    # doc_a < doc_b convention
    bands = summed.select(
        F.struct("doc_id", "simhash").alias("idh"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("band_id", "band_val"),
    )
    pairs = (
        bucket_pairs(bands, ["band_id", "band_val"], "idh", LSH_MAX_BUCKET)
        .select(
            F.col("id_a.doc_id").alias("doc_a"),
            F.col("id_b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("id_a.simhash").bitwiseXOR(F.col("id_b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)


# Jaccard-pair CTE chain, reused verbatim by corpus.py's clustering oracle
# (wrap with "WITH <PAIRS_SQL_CTES>, more_ctes AS (...) SELECT ...").
PAIRS_SQL_CTES = """
        toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
            FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
            WHERE len(w) >= 3
        ), filtered AS (
            SELECT * FROM sh WHERE s NOT IN (
                SELECT s FROM sh GROUP BY s HAVING count(*) > 50
            )
        ), counts AS (
            SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
        ), raw_pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM filtered a JOIN filtered b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), jpairs AS (
            SELECT doc_a, doc_b,
                   round(n_common * 1.0 / (ca.n_sh + cb.n_sh - n_common), 4)
                       AS jaccard
            FROM raw_pairs
            JOIN counts ca ON doc_a = ca.doc_id
            JOIN counts cb ON doc_b = cb.doc_id
            WHERE round(n_common * 1.0 / (ca.n_sh + cb.n_sh - n_common), 4) >= 0.8
        )
"""

# --- DuckDB twins of the LSH pipelines ------------------------------------
# Both replay the Spark pipeline VALUE-for-value: the base hash is
# ('0x' || substr(md5(x), 1, 15))::BIGINT — identical to functions/text.py
# md5_long — and every later step (affine minhash remix, band slicing,
# bit votes) is plain integer arithmetic both engines share.
from kitkat_spark.functions.text import MINHASH_PRIME, minhash_params  # noqa: E402

_SIG_MINS = ",\n                   ".join(
    f"min(({a} * h + {b}) % {MINHASH_PRIME}) AS s{j}"
    for j, (a, b) in enumerate(minhash_params(MINHASH_K))
)
_BAND_SELECTS = "\n            UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, "
    f"[s{b * LSH_ROWS}, s{b * LSH_ROWS + 1}, s{b * LSH_ROWS + 2}, s{b * LSH_ROWS + 3}] "
    f"AS key FROM sig"
    for b in range(LSH_BANDS)
)
_SIM_VOTES = ",\n                   ".join(
    f"sum((h >> {i}) & 1) AS c{i}" for i in range(60)
)
_SIM_PACK = "\n                   + ".join(
    f"(CASE WHEN 2 * c{i} > n THEN (1::BIGINT << {i}) ELSE 0 END)" for i in range(60)
)

# The MinHash LSH candidate chain over a ``toks`` CTE: distinct 3-shingle
# hashes (sh), signatures (sig), band keys, capped bucket sizes, candidate
# pairs and their exact shingle overlap (common) — the replay of
# lsh_signatures_and_candidates.
_LSH_PAIRS_SQL = f"""sh AS (
            SELECT DISTINCT doc_id,
                   ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))::BIGINT
                       % {MINHASH_PRIME} AS h
            FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
            WHERE len(w) >= 3
        ), sig AS (
            SELECT doc_id, count(*) AS n_sh,
                   {_SIG_MINS}
            FROM sh GROUP BY doc_id
        ), bands AS (
            {_BAND_SELECTS}
        ), bsz AS (
            SELECT band_id, key, count(*) AS c FROM bands GROUP BY 1, 2
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band_id = b.band_id AND a.key = b.key
                        AND a.doc_id < b.doc_id
            JOIN bsz s ON s.band_id = a.band_id AND s.key = a.key
                      AND s.c BETWEEN 2 AND {LSH_MAX_BUCKET}
        ), common AS (
            SELECT c.doc_a, c.doc_b, count(*) AS n_common
            FROM cand c
            JOIN sh x ON x.doc_id = c.doc_a
            JOIN sh y ON y.doc_id = c.doc_b AND x.h = y.h
            GROUP BY 1, 2
        )"""

ORACLE: dict[str, str] = {
    # deliberately the brute force PassJoin replaces: if the hash matches,
    # the whole partition/probe pipeline provably lost no pair
    "q_passjoin_dedup": f"""
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.text, b.text) AS INT) AS lev,
               round(levenshtein(a.text, b.text) * 1.0
                     / greatest(a.n_chars, b.n_chars), 4) AS rel_dist
        FROM documents a
        JOIN documents b
          ON a.doc_id < b.doc_id
         AND abs(a.n_chars - b.n_chars) <= {PASSJOIN_K}
         AND a.n_chars >= {_PASS_M} AND b.n_chars >= {_PASS_M}
        WHERE levenshtein(a.text, b.text) <= {PASSJOIN_K}
    """,
    "q_minhash_accuracy": f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), {_LSH_PAIRS_SQL}, scored AS (
            SELECT c.doc_a, c.doc_b,
                   coalesce(m.n_common, 0) * 1.0
                       / (na.n_sh + nb.n_sh - coalesce(m.n_common, 0)) AS exact_j,
                   ((CASE WHEN na.s0 = nb.s0 THEN 1 ELSE 0 END) + (CASE WHEN na.s1 = nb.s1 THEN 1 ELSE 0 END) + (CASE WHEN na.s2 = nb.s2 THEN 1 ELSE 0 END) + (CASE WHEN na.s3 = nb.s3 THEN 1 ELSE 0 END) + (CASE WHEN na.s4 = nb.s4 THEN 1 ELSE 0 END) + (CASE WHEN na.s5 = nb.s5 THEN 1 ELSE 0 END) + (CASE WHEN na.s6 = nb.s6 THEN 1 ELSE 0 END) + (CASE WHEN na.s7 = nb.s7 THEN 1 ELSE 0 END) + (CASE WHEN na.s8 = nb.s8 THEN 1 ELSE 0 END) + (CASE WHEN na.s9 = nb.s9 THEN 1 ELSE 0 END) + (CASE WHEN na.s10 = nb.s10 THEN 1 ELSE 0 END) + (CASE WHEN na.s11 = nb.s11 THEN 1 ELSE 0 END) + (CASE WHEN na.s12 = nb.s12 THEN 1 ELSE 0 END) + (CASE WHEN na.s13 = nb.s13 THEN 1 ELSE 0 END) + (CASE WHEN na.s14 = nb.s14 THEN 1 ELSE 0 END) + (CASE WHEN na.s15 = nb.s15 THEN 1 ELSE 0 END) + (CASE WHEN na.s16 = nb.s16 THEN 1 ELSE 0 END) + (CASE WHEN na.s17 = nb.s17 THEN 1 ELSE 0 END) + (CASE WHEN na.s18 = nb.s18 THEN 1 ELSE 0 END) + (CASE WHEN na.s19 = nb.s19 THEN 1 ELSE 0 END) + (CASE WHEN na.s20 = nb.s20 THEN 1 ELSE 0 END) + (CASE WHEN na.s21 = nb.s21 THEN 1 ELSE 0 END) + (CASE WHEN na.s22 = nb.s22 THEN 1 ELSE 0 END) + (CASE WHEN na.s23 = nb.s23 THEN 1 ELSE 0 END) + (CASE WHEN na.s24 = nb.s24 THEN 1 ELSE 0 END) + (CASE WHEN na.s25 = nb.s25 THEN 1 ELSE 0 END) + (CASE WHEN na.s26 = nb.s26 THEN 1 ELSE 0 END) + (CASE WHEN na.s27 = nb.s27 THEN 1 ELSE 0 END) + (CASE WHEN na.s28 = nb.s28 THEN 1 ELSE 0 END) + (CASE WHEN na.s29 = nb.s29 THEN 1 ELSE 0 END) + (CASE WHEN na.s30 = nb.s30 THEN 1 ELSE 0 END) + (CASE WHEN na.s31 = nb.s31 THEN 1 ELSE 0 END)) * 1.0 / 32 AS est_j
            FROM cand c
            LEFT JOIN common m ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
            JOIN sig na ON c.doc_a = na.doc_id
            JOIN sig nb ON c.doc_b = nb.doc_id
        )
        SELECT doc_a, doc_b,
               round(exact_j, 4) AS jaccard_exact,
               round(est_j, 4) AS jaccard_est,
               round(abs(est_j - exact_j), 4) AS abs_err
        FROM scored
    """,
    "q_ngram_jaccard": f"""
        WITH {PAIRS_SQL_CTES}
        SELECT doc_a, doc_b, jaccard FROM jpairs
    """,
    "q_near_dedup": f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), {_LSH_PAIRS_SQL}
        SELECT c.doc_a, c.doc_b,
               round(n_common * 1.0 / (na.n_sh + nb.n_sh - n_common), 4) AS jaccard
        FROM common c
        JOIN sig na ON c.doc_a = na.doc_id
        JOIN sig nb ON c.doc_b = nb.doc_id
        WHERE round(n_common * 1.0 / (na.n_sh + nb.n_sh - n_common), 4)
              >= {JACCARD_THRESHOLD}
    """,
    "q_simhash": f"""
        WITH toks AS (
            SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
            FROM documents
        ), th AS (
            SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM toks
        ), votes AS (
            SELECT doc_id, count(*) AS n,
                   {_SIM_VOTES}
            FROM th GROUP BY doc_id
        ), sim AS (
            SELECT doc_id,
                   {_SIM_PACK} AS simhash
            FROM votes
        ), bands AS (
            SELECT doc_id, simhash, i AS band_id,
                   (simhash >> (16 * i)) & 65535 AS band_val
            FROM sim, UNNEST([0, 1, 2, 3]) AS u(i)
        ), bsz AS (
            SELECT band_id, band_val, count(*) AS c FROM bands GROUP BY 1, 2
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
            FROM bands a
            JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val
                        AND a.doc_id < b.doc_id
            JOIN bsz s ON s.band_id = a.band_id AND s.band_val = a.band_val
                      AND s.c BETWEEN 2 AND {LSH_MAX_BUCKET}
        )
        SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= {SIMHASH_MAX_HAMMING}
    """,
}

def _sq_sql(expr: str, k: int) -> str:
    """SQL text for expr ** (2**k) by repeated squaring — the textual twin
    of _pow_sq, so DuckDB executes the same multiplication tree."""
    for _ in range(k):
        expr = f"({expr} * {expr})"
    return expr


def _tune_configs_sql(extra_cols: str = "") -> str:
    """The 6-config S-curve fan-out as a UNION ALL over jp — shared by
    q_lsh_tuning (no extra columns) and q_lsh_source_curve (pair_source
    threaded through)."""
    parts = []
    for r in LSH_TUNE_ROWS:
        k = r.bit_length() - 1  # r = 2^k
        jr = _sq_sql("j", k)
        miss = _sq_sql(f"(1.0 - {jr})", _LOG2_K - k)  # (1-j^r)^(K/r)
        parts.append(
            f"SELECT {extra_cols}j, {MINHASH_K // r} AS n_bands, {r} AS n_rows, "
            f"1.0 - {miss} AS p FROM jp"
        )
    return "\n            UNION ALL ".join(parts)


_TUNE_CONFIGS = _tune_configs_sql()

# Per-config pair counts and micro-unit S-curve sums over ``cfg``, and the
# expected rates they divide into — q_lsh_tuning's and q_lsh_source_curve's
# aggregation (the latter with pair_source as an extra leading key).
_CURVE_SUMS_SQL = f"""CAST(sum(CASE WHEN j >= {JACCARD_THRESHOLD} THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_dup_pairs,
                   CAST(sum(CASE WHEN j < {JACCARD_THRESHOLD} THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_nondup_pairs,
                   CAST(sum(CASE WHEN j >= {JACCARD_THRESHOLD}
                            THEN CAST(round(p * 1000000.0) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS p6_dup,
                   CAST(sum(CASE WHEN j < {JACCARD_THRESHOLD}
                            THEN CAST(round(p * 1000000.0) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS p6_nondup
            FROM cfg"""
_CURVE_RATES_SQL = """n_bands, n_rows, n_dup_pairs, n_nondup_pairs,
               CASE WHEN n_dup_pairs > 0
                    THEN round(p6_dup / (n_dup_pairs * 1000000.0), 6)
               END AS exp_recall_dup,
               CASE WHEN n_nondup_pairs > 0
                    THEN round(p6_nondup / (n_nondup_pairs * 1000000.0), 6)
               END AS exp_catch_nondup
        FROM agg"""

# Rides the q_minhash_accuracy pair chain (exact Jaccard only), then the
# repeated-squaring S-curve per power-of-two config and micro-unit sums.
ORACLE["q_lsh_tuning"] = f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), {_LSH_PAIRS_SQL}, jp AS (
            SELECT round(coalesce(m.n_common, 0) * 1.0
                         / (na.n_sh + nb.n_sh - coalesce(m.n_common, 0)), 4) AS j
            FROM cand c
            LEFT JOIN common m ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
            JOIN sig na ON c.doc_a = na.doc_id
            JOIN sig nb ON c.doc_b = nb.doc_id
        ), cfg AS (
            {_TUNE_CONFIGS}
        ), agg AS (
            SELECT n_bands, n_rows,
                   {_CURVE_SUMS_SQL}
            GROUP BY 1, 2
        )
        SELECT {_CURVE_RATES_SQL}
    """

# The same pair chain with the coalesced source attributed per pair (same
# source -> that source, else '<cross>'), then the shared S-curve fan-out
# grouped one level deeper.
ORACLE["q_lsh_source_curve"] = f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), srcs AS (
            SELECT doc_id, coalesce(source, '{NULL_SOURCE}') AS src
            FROM documents
        ), {_LSH_PAIRS_SQL}, jp AS (
            SELECT CASE WHEN da.src = db.src THEN da.src
                        ELSE '{CROSS_SOURCE}' END AS pair_source,
                   round(coalesce(m.n_common, 0) * 1.0
                         / (na.n_sh + nb.n_sh - coalesce(m.n_common, 0)), 4) AS j
            FROM cand c
            LEFT JOIN common m ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
            JOIN sig na ON c.doc_a = na.doc_id
            JOIN sig nb ON c.doc_b = nb.doc_id
            JOIN srcs da ON da.doc_id = c.doc_a
            JOIN srcs db ON db.doc_id = c.doc_b
        ), cfg AS (
            {_tune_configs_sql("pair_source, ")}
        ), agg AS (
            SELECT pair_source, n_bands, n_rows,
                   {_CURVE_SUMS_SQL}
            GROUP BY 1, 2, 3
        )
        SELECT pair_source, {_CURVE_RATES_SQL}
    """


def pairwise_set_counts(sets: DataFrame, col: str) -> DataFrame:
    """Unique ordered (src_a, src_b) co-occurrence counts from a table of
    sorted member-set arrays: nested-transform pair expansion (a < b keeps
    each unordered pair once, bounded by C(|set|, 2) per row) into one
    combinable aggregate — the q_source_overlap set-expansion, shared with
    q_minhash_merge (round-13 review: one implementation, not two)."""
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                F.col(col),
                lambda a: F.transform(
                    F.col(col),
                    lambda b: F.struct(a.alias("a"), b.alias("b")),
                ),
            )
        ),
        lambda s: s["a"] < s["b"],
    )
    return (
        sets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p")["a"].alias("src_a"), F.col("p")["b"].alias("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_common"))
    )


def q_minhash_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash MERGEABILITY — the distributed property the whole sketch
    family rides on, measured: sig(A UNION B) = elementwise_min(sig(A),
    sig(B)) (Broder 1997), so per-SOURCE signatures roll up from per-doc
    signatures through one combinable min-aggregate — no re-shingling, no
    re-hash, partials merge map-side like any sum. The query folds every
    source's doc signatures into one 32-component source signature, then
    estimates the pairwise source-overlap matrix from signatures alone and
    scores it against the EXACT distinct-shingle Jaccard — the sketch twin
    of q_source_overlap's exact matrix (which shuffles the corpus; the
    sketch path aggregates k longs per source).

    Scale shape: rides the shared persisted signature table
    (lsh_signatures_and_candidates); the source rollup
    is ONE combinable groupBy over config-many groups; the exact side is
    one distinct (source, shingle-hash) pass with the q_source_overlap
    set-expansion (pairs bounded by C(sources, 2) per hash). At 100 TB the
    estimate column is what you'd actually compute (the exact column is
    the audit, affordable because the pair domain is sources^2, not
    docs^2). est = matches/32 and exact = |A&B| / (|A| + |B| - |A&B|) are
    exact rationals of integers; every reported value quantizes to 1e-4
    units via CAST(round(x * 10000) AS BIGINT) — the micro-unit rule
    (as in q_gram_blocked) — because round(x, 4) itself diverges between
    engines on ulp-below-boundary doubles (DuckDB rounds the shortest
    DECIMAL repr, the JVM the binary value: measured on
    |1/32 - 57/2375| = 0.00724999...95 -> 0.0073 vs 0.0072)."""
    sig, _ = lsh_signatures_and_candidates(spark, sf_dir)
    # one combinable min-rollup: the MERGE
    msig = sig.groupBy("src").agg(
        F.array(
            *[F.min(F.element_at("sig", j + 1)) for j in range(MINHASH_K)]
        ).alias("msig")
    )
    # exact side: distinct (source, hash) sets + set-expansion pair counts
    ex = sig.select("src", F.explode("sh").alias("h")).distinct()
    sizes = ex.groupBy("src").agg(F.count("*").alias("n_sh"))
    sets = ex.groupBy("h").agg(F.sort_array(F.collect_set("src")).alias("ss"))
    inter = pairwise_set_counts(sets, "ss")
    # every source pair (est can be nonzero where exact is 0 — collisions)
    a = msig.select(
        F.col("src").alias("src_a"), F.col("msig").alias("sig_a")
    )
    b = msig.select(
        F.col("src").alias("src_b"), F.col("msig").alias("sig_b")
    )
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    est = matches / F.lit(MINHASH_K)
    exact = F.coalesce(F.col("n_common"), F.lit(0)).cast("double") / (
        F.col("n_a") + F.col("n_b") - F.coalesce(F.col("n_common"), F.lit(0))
    ).cast("double")
    return (
        a.join(b, F.col("src_a") < F.col("src_b"))
        .join(inter, ["src_a", "src_b"], "left")
        .join(
            F.broadcast(
                sizes.select(F.col("src").alias("src_a"), F.col("n_sh").alias("n_a"))
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("src").alias("src_b"), F.col("n_sh").alias("n_b"))
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            _quant4(exact).alias("jaccard_exact"),
            _quant4(est).alias("jaccard_est"),
            _quant4(F.abs(est - exact)).alias("abs_err"),
        )
    )


def _quant4(col):
    """Engine-stable 4 dp: integer micro-units (round-to-long agrees across
    engines at every representable boundary), one exact division back."""
    return F.round(col * 10000).cast("long") / F.lit(10000.0)


_SIG_MATCH_SUM = " + ".join(
    f"(CASE WHEN na.s{j} = nb.s{j} THEN 1 ELSE 0 END)" for j in range(MINHASH_K)
)

# The oracle folds per-source DISTINCT hash sets straight through the same
# affine remix mins (_SIG_MINS): min over a source's union set == the
# elementwise min of its docs' signatures — the identity under test.
ORACLE["q_minhash_merge"] = f"""
        WITH toks AS (
            SELECT coalesce(source, '{NULL_SOURCE}') AS src,
                   string_split(text, ' ') AS w
            FROM documents
        ), sh AS (
            SELECT DISTINCT src,
                   ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))::BIGINT
                       % {MINHASH_PRIME} AS h
            FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
            WHERE len(w) >= 3
        ), sig AS (
            SELECT src, count(*) AS n_sh,
                   {_SIG_MINS}
            FROM sh GROUP BY src
        ), common AS (
            SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.h = b.h AND a.src < b.src
            GROUP BY 1, 2
        )
        SELECT na.src AS src_a, nb.src AS src_b,
               CAST(round(coalesce(c.n_common, 0) * 1.0
                     / (na.n_sh + nb.n_sh - coalesce(c.n_common, 0)) * 10000)
                    AS BIGINT) / 10000.0 AS jaccard_exact,
               CAST(round(({_SIG_MATCH_SUM}) * 1.0 / {MINHASH_K} * 10000)
                    AS BIGINT) / 10000.0 AS jaccard_est,
               CAST(round(abs(({_SIG_MATCH_SUM}) * 1.0 / {MINHASH_K}
                         - coalesce(c.n_common, 0) * 1.0
                           / (na.n_sh + nb.n_sh - coalesce(c.n_common, 0)))
                          * 10000) AS BIGINT) / 10000.0 AS abs_err
        FROM sig na
        JOIN sig nb ON na.src < nb.src
        LEFT JOIN common c ON c.src_a = na.src AND c.src_b = nb.src
    """


PASS_DEL_MOD = 10  # deterministic retire wave: doc_id % MOD == RESIDUE
PASS_DEL_RESIDUE = 3


def q_passjoin_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PassJoin index DELETE-wave — retire documents from the STANDING
    two-sided incremental index (round-14 survey worklist, pairing
    q_stream_passjoin's ingest path with q_ann_index_delete's compaction
    semantics): a dedup/retention wave removes every PASS_DEL_MOD-th doc,
    and both standing structures — the SEGMENT index probed by arriving
    longer partners and the PROBE store that re-probes arriving shorter
    partners (operators/streamparity.py q_stream_passjoin) — must drop the
    retired ids without a from-scratch re-expansion of the surviving
    corpus.

    Audit semantics, exact integers per posting-list key (structure,
    len_s, i) — the partition key a 100 TB deployment stores these
    structures under, one row per indexed partner-length x segment:
      n_before   stored rows (the serving structures)
      n_retired  rows owned by retired docs (reclaimed space)
      n_live     survivors by FILTERING the stored rows — the cheap
                 partition-local rewrite a compactor actually runs
      n_rebuilt  survivors RE-EXPANDED from the surviving documents
                 through the same layout/probe enumeration — the
                 from-scratch build
      compacted  n_live == n_rebuilt — legal because index rows are pure
                 per-doc functions (segment layout and probe triples
                 depend only on the doc's own text and length), so
                 deleting a doc can never change any other doc's rows;
                 the same-keyed filter-rewrite therefore serves every
                 probe the rebuilt structure would, preserving PassJoin's
                 recall-1.0 theorem on survivor pairs
      reclaimed  the posting list vanished entirely (file deleted, not
                 rewritten, in an on-disk layout)

    Occupancy aggregates key on (len_s, i) — the hash component of the
    stored key partitions WITHIN a posting list and cannot move rows
    across lists, so per-list counts are hash-free and the DuckDB twin
    replays them with pure integer layout arithmetic (_pass_layout and
    the multi-match-aware (delta, i, d) window, cell for cell).

    Plan shape at 100 TB: the audited rows are pure functions of
    (n_chars, retired), so the corpus collapses to its LENGTH
    DISTRIBUTION first (one combinable count keyed on n_chars — the only
    corpus-sized pass) and the 13x segment explode plus ~800x
    constant-triple broadcast join expand the length domain, not the
    corpus (r14); every aggregate is a weighted combinable integer sum
    keyed on (structure, len_s, i). A real retire WAVE (arbitrary ids,
    not a residue class) adds one broadcast-join flag against the corpus
    before the distribution agg — still never all-pairs."""
    # Every audited row is a pure function of (n_chars, retired) — the
    # segment layout and the probe window never read doc text or ids
    # beyond the retire flag. So collapse the corpus to its LENGTH
    # DISTRIBUTION first (r14, guide §1.2/§2.3: don't fan out what you
    # immediately re-aggregate): both expansions then run over
    # ~|distinct lengths| x 2 rows weighted by cnt instead of once per
    # document — the 13x explode and the ~800x triple join shrink from
    # corpus-sized to length-domain-sized, and the aggregates become
    # weighted integer sums with identical values. Pinned: the
    # distribution feeds the audit AND the survivor re-expansion.
    ldist = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .filter(F.col("n_chars") >= _PASS_M)
        .withColumn(
            "retired", F.col("doc_id") % PASS_DEL_MOD == PASS_DEL_RESIDUE
        )
        .groupBy("n_chars", "retired")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    def seg_rows(df: DataFrame) -> DataFrame:
        return df.select(
            "retired",
            "cnt",
            F.col("n_chars").alias("len_s"),
            _seg_ordinals(),
        ).select(
            F.lit("segments").alias("structure"), "len_s", "i", "retired", "cnt"
        )

    def probe_rows(df: DataFrame) -> DataFrame:
        return passjoin_windows(
            spark, df.select("retired", "cnt", F.col("n_chars").alias("len_r"))
        ).select(F.lit("probes").alias("structure"), "len_s", "i", "retired", "cnt")

    stored = seg_rows(ldist).unionByName(probe_rows(ldist))
    audit = stored.groupBy("structure", "len_s", "i").agg(
        F.sum("cnt").alias("n_before"),
        F.sum(F.when(F.col("retired"), F.col("cnt")).otherwise(0)).alias(
            "n_retired"
        ),
        F.sum(F.when(~F.col("retired"), F.col("cnt")).otherwise(0)).alias(
            "n_live"
        ),
    )
    survivors = ldist.filter(~F.col("retired"))
    rebuilt = (
        seg_rows(survivors)
        .unionByName(probe_rows(survivors))  # independent re-expansion
        .groupBy("structure", "len_s", "i")
        .agg(F.sum("cnt").alias("n_rebuilt"))
    )
    return audit.join(rebuilt, ["structure", "len_s", "i"], "full").select(
        "structure",
        F.col("len_s").cast("long").alias("len_s"),
        F.col("i").cast("int").alias("i"),
        F.coalesce("n_before", F.lit(0)).alias("n_before"),
        F.coalesce("n_retired", F.lit(0)).alias("n_retired"),
        F.coalesce("n_live", F.lit(0)).alias("n_live"),
        F.coalesce("n_rebuilt", F.lit(0)).alias("n_rebuilt"),
        (
            F.coalesce("n_live", F.lit(0)) == F.coalesce("n_rebuilt", F.lit(0))
        ).alias("compacted"),
        (
            (F.coalesce("n_retired", F.lit(0)) > 0)
            & (F.coalesce("n_live", F.lit(0)) == 0)
        ).alias("reclaimed"),
    )


# Pure-integer replay of both standing structures' posting-list occupancy:
# segment layout (a = len // m, b = len % m) and the multi-match-aware
# (delta, i, d) probe window, keyed per (structure, len_s, i); index rows
# are per-doc functions, so the oracle's n_rebuilt is n_live and a Spark
# divergence (a filter-rewrite that loses or invents rows) hash-fails.
ORACLE["q_passjoin_delete"] = f"""
        WITH d AS (
            SELECT doc_id, n_chars,
                   doc_id % {PASS_DEL_MOD} = {PASS_DEL_RESIDUE} AS retired
            FROM documents WHERE n_chars >= {_PASS_M}
        ), tri AS (
            SELECT t1.delta, t2.i, t3.dd
            FROM UNNEST(generate_series(0, {PASSJOIN_K})) AS t1(delta),
                 UNNEST(generate_series(0, {_PASS_M - 1})) AS t2(i),
                 UNNEST(generate_series(-{PASSJOIN_K}, {PASSJOIN_K})) AS t3(dd)
            WHERE abs(t3.dd) + abs(t1.delta - t3.dd) <= {PASSJOIN_K}
              AND t3.dd >= greatest(-t2.i, t1.delta - ({PASSJOIN_K} - t2.i))
              AND t3.dd <= least(t2.i, t1.delta + ({PASSJOIN_K} - t2.i))
        ), seg AS (
            SELECT 'segments' AS structure, d.n_chars AS len_s, t.i, d.retired
            FROM d, UNNEST(generate_series(0, {_PASS_M - 1})) AS t(i)
        ), prb0 AS (
            SELECT d.retired, d.n_chars AS len_r,
                   d.n_chars - tri.delta AS len_s, tri.i,
                   (d.n_chars - tri.delta) // {_PASS_M} AS a,
                   (d.n_chars - tri.delta) % {_PASS_M} AS b,
                   tri.dd
            FROM d JOIN tri ON d.n_chars - tri.delta >= {_PASS_M}
        ), prb AS (
            SELECT 'probes' AS structure, len_s, i, retired
            FROM (
                SELECT structure, len_s, i, retired,
                       a + (CASE WHEN i >= {_PASS_M} - b THEN 1 ELSE 0 END) AS sl,
                       i * a + greatest(0, i - ({_PASS_M} - b)) + dd AS q,
                       len_r
                FROM (SELECT 'probes' AS structure, * FROM prb0)
            )
            WHERE q >= 0 AND q + sl <= len_r
        ), stored AS (
            SELECT * FROM seg UNION ALL SELECT * FROM prb
        ), audit AS (
            SELECT structure, CAST(len_s AS BIGINT) AS len_s, CAST(i AS INT) AS i,
                   CAST(count(*) AS BIGINT) AS n_before,
                   CAST(sum(CASE WHEN retired THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_retired,
                   CAST(sum(CASE WHEN retired THEN 0 ELSE 1 END) AS BIGINT)
                       AS n_live
            FROM stored GROUP BY 1, 2, 3
        )
        SELECT structure, len_s, i, n_before, n_retired, n_live,
               n_live AS n_rebuilt,
               TRUE AS compacted,
               (n_retired > 0 AND n_live = 0) AS reclaimed
        FROM audit
    """


def q_passjoin_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PassJoin probe-cost PLANNER — q_ann_probe_planner's capacity model
    applied to the edit-distance segment index (round-14 survey worklist):
    from the standing index's occupancy layout alone, the candidate volume
    each segment ordinal contributes BEFORE any verify runs — the planning
    table that tells an incremental near-dup deployment (q_stream_passjoin)
    which ordinals dominate probe cost, how skewed the posting lists are,
    and what a new ingest batch will pay per probe.

    Per segment ordinal i (config-sized output: _PASS_M rows), all exact
    integers:
      n_keys          distinct (len_s, i, segment) index keys
      n_postings      stored segment entries (= indexed docs, every doc
                      emits one segment per ordinal)
      max_postings    hottest posting list — the skew signal (hot keys
                      exist only where near-identical text repeats, which
                      is exactly the candidate set; a cap-style detector
                      would LOSE those, PassJoin pays them as candidates)
      n_probes        probe substrings enumerated at this ordinal (the
                      multi-match-aware window's budget, data-dependent
                      through the corpus length distribution)
      n_candidates    join size at this ordinal = sum over keys of
                      postings x probes — the exact shuffle-output volume
                      the candidate join pays (raw, before the pair
                      ordering filter and cross-ordinal dedup)
      cand_per_probe  n_candidates / n_probes, 1e-4 micro-units — the
                      E[scan | probe] figure a batch-size planner uses

    Plan: rides the same one fan-out shuffle as the join itself but stops
    at two combinable groupBys (key-level counts, then per-ordinal sums) —
    the corpus is never joined back to text, so the planner costs the
    enumeration, not the verify. The oracle replays the full even-
    partition layout and multi-match-aware window on raw substrings (no
    hash), so the driver hash also re-proves the enumeration arithmetic
    (layout, shift window, boundary filters) cell-for-cell — the
    machinery the brute-force oracle of q_passjoin_dedup deliberately
    bypasses."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "n_chars")
        .filter(F.col("n_chars") >= _PASS_M)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
    )
    keys = ["len_s", "i", "seg"]
    # key-level counts feed TWO consumers each (the per-ordinal stats and
    # the candidate join); eager-checkpoint them so the segment/probe
    # enumeration fan-out — the query's dominant map+shuffle — runs once,
    # not once per consumer (r14, guide §1.2; the lazy-persist recompute
    # race documented in tools/verify). Both tables are key-level counts
    # (bounded by distinct index keys, far below posting volume).
    ic = (
        passjoin_index(docs)
        .groupBy(*keys)
        .agg(F.count("*").alias("n_s"))
        .localCheckpoint(eager=True)
    )
    pc = (
        passjoin_probe(spark, docs)
        .groupBy(*keys)
        .agg(F.count("*").alias("n_r"))
        .localCheckpoint(eager=True)
    )
    key_stats = ic.groupBy("i").agg(
        F.count("*").alias("n_keys"),
        F.sum("n_s").alias("n_postings"),
        F.max("n_s").alias("max_postings"),
    )
    probe_stats = pc.groupBy("i").agg(F.sum("n_r").alias("n_probes"))
    cand_stats = (
        ic.join(pc, keys)
        .groupBy("i")
        .agg(F.sum(F.col("n_s") * F.col("n_r")).alias("n_candidates"))
    )
    return (
        key_stats.join(probe_stats, "i", "full")
        .join(cand_stats, "i", "full")
        .select(
            "i",
            F.coalesce("n_keys", F.lit(0)).alias("n_keys"),
            F.coalesce("n_postings", F.lit(0)).alias("n_postings"),
            F.coalesce("max_postings", F.lit(0)).alias("max_postings"),
            F.coalesce("n_probes", F.lit(0)).alias("n_probes"),
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            (
                F.round(
                    F.coalesce("n_candidates", F.lit(0))
                    / F.coalesce("n_probes", F.lit(0))
                    * 10000
                ).cast("long")
                / F.lit(10000.0)
            ).alias("cand_per_probe"),
        )
    )


# Replays the even-partition layout and the multi-match-aware probe window
# on RAW substrings (hash-free), then counts key-level postings x probes —
# every aggregate an exact integer, one division quantized to micro-units.
ORACLE["q_passjoin_planner"] = f"""
        WITH docs AS (
            SELECT doc_id, text, n_chars FROM documents
            WHERE n_chars >= {_PASS_M}
        ), idx AS (
            SELECT n_chars AS len_s, CAST(t.i AS INT) AS i,
                   substr(text,
                          CAST(t.i * (n_chars // {_PASS_M})
                               + greatest(0, t.i - ({_PASS_M} - n_chars % {_PASS_M}))
                               AS INT) + 1,
                          CAST(n_chars // {_PASS_M}
                               + CASE WHEN t.i >= {_PASS_M} - n_chars % {_PASS_M}
                                      THEN 1 ELSE 0 END AS INT)) AS seg
            FROM docs, UNNEST(generate_series(0, {_PASS_M - 1})) AS t(i)
        ), triples AS (
            SELECT t1.delta, CAST(t2.i AS INT) AS i, t3.d
            FROM UNNEST(generate_series(0, {PASSJOIN_K})) AS t1(delta),
                 UNNEST(generate_series(0, {_PASS_M - 1})) AS t2(i),
                 UNNEST(generate_series(-{PASSJOIN_K}, {PASSJOIN_K})) AS t3(d)
            WHERE abs(t3.d) + abs(t1.delta - t3.d) <= {PASSJOIN_K}
              AND t3.d >= greatest(-t2.i, t1.delta - ({PASSJOIN_K} - t2.i))
              AND t3.d <= least(t2.i, t1.delta + ({PASSJOIN_K} - t2.i))
        ), probe0 AS (
            SELECT d0.n_chars AS len_r, d0.n_chars - t.delta AS len_s, t.i,
                   d0.text,
                   t.i * ((d0.n_chars - t.delta) // {_PASS_M})
                       + greatest(0, t.i - ({_PASS_M}
                             - (d0.n_chars - t.delta) % {_PASS_M}))
                       + t.d AS q,
                   (d0.n_chars - t.delta) // {_PASS_M}
                       + CASE WHEN t.i >= {_PASS_M}
                                   - (d0.n_chars - t.delta) % {_PASS_M}
                              THEN 1 ELSE 0 END AS sl
            FROM docs d0, triples t
            WHERE d0.n_chars - t.delta >= {_PASS_M}
        ), probe AS (
            SELECT len_s, i, substr(text, CAST(q AS INT) + 1,
                                    CAST(sl AS INT)) AS seg
            FROM probe0
            WHERE q >= 0 AND q + sl <= len_r
        ), ic AS (
            SELECT len_s, i, seg, CAST(count(*) AS BIGINT) AS n_s
            FROM idx GROUP BY len_s, i, seg
        ), pc AS (
            SELECT len_s, i, seg, CAST(count(*) AS BIGINT) AS n_r
            FROM probe GROUP BY len_s, i, seg
        ), key_stats AS (
            SELECT i, CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(n_s) AS BIGINT) AS n_postings,
                   CAST(max(n_s) AS BIGINT) AS max_postings
            FROM ic GROUP BY i
        ), probe_stats AS (
            SELECT i, CAST(sum(n_r) AS BIGINT) AS n_probes
            FROM pc GROUP BY i
        ), cand_stats AS (
            SELECT ic.i, CAST(sum(ic.n_s * pc.n_r) AS BIGINT) AS n_candidates
            FROM ic JOIN pc USING (len_s, i, seg)
            GROUP BY ic.i
        )
        SELECT i,
               coalesce(k.n_keys, 0) AS n_keys,
               coalesce(k.n_postings, 0) AS n_postings,
               coalesce(k.max_postings, 0) AS max_postings,
               coalesce(p.n_probes, 0) AS n_probes,
               coalesce(c.n_candidates, 0) AS n_candidates,
               CAST(round(coalesce(c.n_candidates, 0) * 1.0
                          / coalesce(p.n_probes, 0) * 10000) AS BIGINT)
                   / 10000.0 AS cand_per_probe
        FROM key_stats k
        FULL OUTER JOIN probe_stats p USING (i)
        FULL OUTER JOIN cand_stats c USING (i)
    """
