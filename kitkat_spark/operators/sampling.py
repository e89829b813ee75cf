"""Deterministic sampling / dataset-split operators (SURVEY.md §2.B extension
surface: training-data pipeline ops beyond the reference's streaming set —
the reference has no sampling at all, confirmed by the exhaustive read in
SURVEY §2.A / /root/reference/consumer/consumer.go).

Why NOT ``df.sample()``/``TABLESAMPLE``: those are seeded per-partition RNG —
results change with partitioning/cluster layout, which (a) breaks the DuckDB
oracle and (b) is exactly what you don't want for a reproducible 100 TB
training corpus. Instead every row gets a *content-deterministic* bucket via
Knuth multiplicative hashing on its key:

    bucket = ((key * 2654435761) mod 2^32) mod 100

Pure int64 arithmetic, codegen'd JVM-side, bit-identical in any engine, no
shuffle, no RNG state. Splits are stable under repartitioning, retries, and
incremental appends — a new row's split membership never depends on which
executor sees it. This is the standard layout for train/test splits at scale
(hash-mod bucketing, as used by every large dedup/split pipeline).

Scale notes: both operators are a single pruned parquet scan + (for the
aggregate) one map-side-combinable shuffle. No join, no window, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kitkat_spark.functions.text import fingerprint_md5
from kitkat_spark.sources import load_table

# Knuth's multiplicative constant (golden-ratio scaling for 32-bit hashing).
_KNUTH = 2654435761
_MOD32 = 4294967296


def hash_bucket(key: Column, n_buckets: int = 100) -> Column:
    """Deterministic bucket in [0, n_buckets) from an integer key column.

    int64-safe for keys < ~3.4e9 (doc_id/custkey/orderkey fixture ranges are
    far below); at larger key domains split the multiply with pmod first.
    """
    return F.pmod(F.pmod(key * F.lit(_KNUTH), F.lit(_MOD32)), F.lit(n_buckets))


def split_column(key: Column, train_pct: int = 80, valid_pct: int = 10) -> Column:
    """'train' / 'valid' / 'test' assignment from the deterministic bucket."""
    b = hash_bucket(key)
    return (
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + valid_pct, F.lit("valid"))
        .otherwise(F.lit("test"))
    )


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/valid/test split of `documents`, summarized per
    (lang, split): deterministic hash-mod bucketing, one scan + one agg."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", split_column(F.col("doc_id")))
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic downsample: different keep-rates per document
    source (src0/src1 10%, src2/src3 50%, else 25%) — the up/down-weighting
    move every corpus-mix pipeline needs; rates target the fixture's real
    source values so every branch selects a nonempty proper subset. The bucket
    predicate is a codegen'd filter on the scan; no RNG, so the sample is
    reproducible and oracle-checkable."""
    docs = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("source").isin("src0", "src1"), F.lit(10))
        .when(F.col("source").isin("src2", "src3"), F.lit(50))
        .otherwise(F.lit(25))
    )
    return (
        docs.withColumn("bucket", hash_bucket(F.col("doc_id")))
        .filter(F.col("bucket") < rate)
        .select("doc_id", "lang", "source", "n_chars", "bucket")
    )


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: exact-duplicate documents (by
    whitespace-normalized md5 fingerprint) whose copies land in DIFFERENT
    splits — each such fingerprint is an eval-set leak. Composes the
    fingerprint and split operators; one scan + one hash-agg on the
    fingerprint, so it runs at corpus scale as a single shuffle. The
    fingerprint is the md5 of the first 200 normalized chars — a cheap
    prefix-dup detector that catches the fixture's near-dup families; at
    100 TB the same shape extends to full near-dup leakage by swapping the
    fingerprint for MinHash band keys."""
    docs = load_table(spark, sf_dir, "documents")
    fp = fingerprint_md5(F.col("text"), prefix=200)
    return (
        docs.select(
            fp.alias("fp"),
            split_column(F.col("doc_id")).alias("split"),
        )
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.size(F.collect_set("split")).alias("n_splits"),
            F.array_join(F.array_sort(F.collect_set("split")), ",").alias("splits"),
        )
        .filter(F.col("n_splits") > 1)
    )


WS_K = 500
WS_SEED = "ws1"


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via Efraimidis–Spirakis
    priorities (Inf. Proc. Letters 2006 — public literature): each doc gets
    priority u^(1/w) for uniform u and weight w, and the k largest
    priorities ARE a weighted sample without replacement. Used here to
    draw 500 documents weighted by length — the corpus-mixing draw that
    up-weights long documents exactly proportionally.

    Determinism (the whole point vs ``df.sample``): u is md5-derived from
    the doc_id ([[functions/text.py]] md5_long / 2^60 — layout-invariant,
    rerun-invariant, engine-replayable), and ordering uses the equivalent
    monotone key ln(u)/w (one log instead of a pow). One scan + a
    TakeOrderedAndProject top-k (per-partition heap, k-row merge — no
    global sort); at 100 TB the same single pass draws the sample from any
    corpus, and restricting to per-source strata turns it into weighted
    stratified sampling with a partitionBy window."""
    from kitkat_spark.functions.text import md5_long

    docs = load_table(spark, sf_dir, "documents")
    # greatest(raw, 1): md5_long = 0 would make ln diverge per engine
    # (Spark F.log(0) -> NULL, DuckDB ln(0) raises); rounding the rank key
    # keeps the top-k cut off ulp boundaries (JVM Math.log and DuckDB ln are
    # not guaranteed identically rounded — the q_bm25 lesson).
    u = (
        F.greatest(
            md5_long(F.concat(F.lit(WS_SEED + "|"), F.col("doc_id").cast("string"))),
            F.lit(1),
        ).cast("double")
        / F.lit(float(1 << 60))
    )
    key = F.round(F.log(u) / F.col("n_chars"), 12)
    ranked = (
        docs.select("doc_id", "source", "n_chars", key.alias("k"))
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(WS_K)
    )
    w = W.orderBy(F.col("k").desc(), "doc_id")
    return ranked.select(
        F.row_number().over(w).alias("rk"), "doc_id", "source", "n_chars"
    )


RS_K = 20
RS_SEED = "rs1"


def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group reservoir sampling: a uniform without-replacement sample of
    RS_K documents from EVERY source — the per-stratum "inspect a fixed-size
    sample of each slice" move (Vitter's Algorithm R semantics; Vitter, ACM
    TOMS 1985 — public literature). Sequential reservoirs don't distribute;
    the order-statistics formulation does: give every row a uniform priority
    and keep the k smallest per group — exactly a uniform k-reservoir, and
    embarrassingly parallel.

    Determinism (vs df.sample / rand()): the priority is md5-derived from
    the doc_id ([[functions/text.py]] md5_long — layout-, rerun-, and
    engine-invariant), so the sample is reproducible and oracle-checkable.

    Scale: the rank-filter plans as WindowGroupLimit (Spark 3.5+): each map
    task keeps only its local top-k PER GROUP before the exchange, so the
    shuffle carries ~k rows per (task, group) instead of the corpus — the
    distributed reservoir merge, pinned by tests/test_plan_quality.py."""
    from kitkat_spark.functions.text import md5_long

    docs = load_table(spark, sf_dir, "documents")
    u = md5_long(F.concat(F.lit(RS_SEED + "|"), F.col("doc_id").cast("string")))
    w = W.partitionBy("source").orderBy(F.col("u").asc(), "doc_id")
    return (
        docs.select("doc_id", "source", "n_chars", u.alias("u"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= RS_K)
        .select("source", F.col("rk").cast("int").alias("rk"), "doc_id", "n_chars")
    )


ORACLE: dict[str, str] = {
    "q_reservoir_sample": f"""
        WITH keyed AS (
            SELECT doc_id, source, n_chars,
                   ('0x' || substr(md5('{RS_SEED}|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS u
            FROM documents
        )
        SELECT source,
               CAST(row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS INT) AS rk,
               doc_id, n_chars
        FROM keyed
        QUALIFY rk <= {RS_K}
    """,
    "q_weighted_sample": f"""
        WITH keyed AS (
            SELECT doc_id, source, n_chars,
                   round(ln(greatest(('0x' || substr(md5('{WS_SEED}|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT, 1)
                      / 1152921504606846976.0) / n_chars, 12) AS k
            FROM documents
        ),
        top AS (
            SELECT doc_id, source, n_chars, k
            FROM keyed ORDER BY k DESC, doc_id LIMIT {WS_K}
        )
        SELECT CAST(row_number() OVER (ORDER BY k DESC, doc_id) AS INT) AS rk,
               doc_id, source, n_chars
        FROM top
    """,
    "q_split_leakage": """
        WITH d AS (
            SELECT md5(substr(lower(regexp_replace(text, '\\s+', ' ', 'g')), 1, 200)) AS fp,
                   CASE WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 80 THEN 'train'
                        WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 90 THEN 'valid'
                        ELSE 'test' END AS split
            FROM documents
        )
        SELECT fp, count(*) AS n_docs,
               CAST(count(DISTINCT split) AS INT) AS n_splits,
               string_agg(DISTINCT split, ',' ORDER BY split) AS splits
        FROM d GROUP BY fp HAVING count(DISTINCT split) > 1
    """,
    "q_sample_split": """
        WITH b AS (
            SELECT lang, n_chars,
                   ((doc_id * 2654435761) % 4294967296) % 100 AS bucket
            FROM documents
        )
        SELECT lang,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'valid'
                    ELSE 'test' END AS split,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               round(avg(n_chars), 2) AS avg_chars
        FROM b
        GROUP BY 1, 2
    """,
    "q_stratified_sample": """
        WITH b AS (
            SELECT doc_id, lang, source, n_chars,
                   ((doc_id * 2654435761) % 4294967296) % 100 AS bucket,
                   CASE WHEN source IN ('src0', 'src1') THEN 10
                        WHEN source IN ('src2', 'src3') THEN 50
                        ELSE 25 END AS rate
            FROM documents
        )
        SELECT doc_id, lang, source, n_chars, bucket
        FROM b WHERE bucket < rate
    """,
}
