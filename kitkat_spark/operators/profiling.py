"""Table profiling: per-column statistics (SURVEY.md §2.B extension surface
— the data-quality audit step every ingestion pipeline runs before
training; the reference streams records without ever inspecting them,
consumer.go renders and moves on).

q_column_profile computes, for every profiled column of `events`, the row
count, null count, exact distinct count, and min/max — emitted in long
format (one row per column) because that is what a quality dashboard or a
schema-drift diff consumes.

Plan shape — one column-pruned branch per column, unioned. The obvious
"single wide aggregation" alternative (all k count_distincts in one agg)
plans through RewriteDistinctAggregates: an Expand to k+1 branches whose
first-stage grouping key is the UNION of every distinct column — a wide
composite key over ~sum(per-column cardinalities) rows that all shuffles
and re-hashes (measured 3.8 s vs 0.8 s for this formulation at sf0.1).
Per-column branches instead each read exactly ONE column from parquet
(columnar scans mean k single-column reads cost the same bytes as one
full-width read), aggregate with a NARROW key through the standard
two-phase distinct (partial per value, merge, count), and the union's
branches schedule concurrently within the job. At 100 TB the further move
is `approx_count_distinct` (HyperLogLog): collapses each branch to one
partial-agg pass with O(1) state and the sketches merge across incremental
loads — kept exact here because exactness is what the cross-engine oracle
verifies (HLL estimates are engine-specific and not comparable).

Timestamps are profiled through an explicit second-truncated string
projection so min/max render identically in every engine (same practice as
the consume renderer, streamparity.py).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kitkat_spark.sources import load_table

PROFILE_COLS = ["event_id", "user_id", "event_type", "value", "props", "ts"]


def _profile_one(df: DataFrame, c: str) -> DataFrame:
    return (
        df.select(F.col(c))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
            F.count_distinct(F.col(c)).alias("n_distinct"),
            F.min(c).cast("string").alias("min_value"),
            F.max(c).cast("string").alias("max_value"),
        )
        .select(
            F.lit(c).alias("column_name"),
            "n_rows",
            "n_nulls",
            "n_distinct",
            "min_value",
            "max_value",
        )
    )


def profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Long-format profile of ``cols``: one column-pruned agg branch per
    column, unioned (see module docstring for why not one wide agg)."""
    return functools.reduce(
        DataFrame.unionByName, [_profile_one(df, c) for c in cols]
    )


def _profiled_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events columns both profilers read, with ``value`` as a
    fixed-scale decimal and ``ts`` as a second-resolution string."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.col("value").cast("decimal(18,4)").alias("value"),
        "props",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
    )


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-column profile of `events`; ts profiled via the second-truncated
    render and the double `value` via a fixed-scale decimal projection —
    default double->string casts are NOT engine-portable (Java
    Double.toString goes scientific for |x| >= 1e7 or < 1e-3 while DuckDB
    renders plainly), so min/max must never surface a raw double render."""
    ev = _profiled_events(spark, sf_dir)
    return profile(ev, PROFILE_COLS)


def q_column_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB profiler: ``approx_count_distinct`` (HyperLogLog++, rsd
    2%) for EVERY column in ONE wide aggregation — HLL partials are O(1)
    and algebraic, so the whole profile is a single map-side-combinable
    pass with no Expand and no per-column rescan (the exact profiler's
    cost model, see module docstring). The HLL estimate is engine-specific,
    so the driver-verified output is the exact distinct count plus a
    bounded-relative-error flag (|approx/exact - 1| <= 10% at rsd 2% —
    the q_count_min / q_agg_distinct sketch-vs-exact pattern); a
    production run keeps only the approx side and skips the exact
    verification branches."""
    ev = _profiled_events(spark, sf_dir)
    approx_long = ev.agg(
        *[F.approx_count_distinct(c, rsd=0.02).alias(c) for c in PROFILE_COLS]
    ).unpivot([], PROFILE_COLS, "column_name", "n_approx")
    exact_long = functools.reduce(
        DataFrame.unionByName,
        [
            ev.select(F.col(c))
            .agg(F.count_distinct(F.col(c)).alias("n_distinct"))
            .select(F.lit(c).alias("column_name"), "n_distinct")
            for c in PROFILE_COLS
        ],
    )
    return exact_long.join(F.broadcast(approx_long), "column_name").select(
        "column_name",
        "n_distinct",
        (
            F.abs(
                F.col("n_approx").cast("double") / F.col("n_distinct").cast("double")
                - 1.0
            )
            <= 0.10
        ).alias("approx_ok"),
    )


def q_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality audit: per-label vector counts, dimensionality
    check, and L2-norm distribution — the sanity pass an ANN/similarity
    pipeline runs before indexing (zero-norm vectors break cosine; mixed
    dims break every kernel). One narrow map (norm is a sequential double
    fold over the array, engine-identical) + one tiny per-label
    aggregation; norms round at 4 dp like the cosine family."""
    from kitkat_spark.functions.vectors import norm2

    emb = load_table(spark, sf_dir, "embeddings")
    nrm = norm2(F.col("embedding"))
    return (
        emb.select(
            "label",
            F.size("embedding").alias("dim"),
            nrm.alias("nrm"),
        )
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.countDistinct("dim").alias("n_dims"),
            F.max(F.when(F.col("nrm") == 0.0, 1).otherwise(0)).alias("has_zero_norm"),
            F.round(F.min("nrm"), 4).alias("min_norm"),
            F.round(F.max("nrm"), 4).alias("max_norm"),
            # mean via a decimal-exact sum of 6-dp-rounded norms: a plain
            # float avg is partition-order dependent (functions/numeric.py)
            F.round(
                F.sum(F.round(F.col("nrm"), 6).cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                4,
            ).alias("mean_norm"),
        )
    )


QUANT_LEVELS = 127  # int8 symmetric range


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization audit — the vector-compression step an
    embedding store runs before serving (4x smaller than float32, ~16x
    smaller than the double math): per vector, scale = max|v_i|, code_i =
    round(v_i * 127 / scale), and the audit measures what the round trip
    loses (per-label mean/max absolute dequantization error) plus the
    scale distribution. Ships as a data op so the compression loss is
    MEASURED under the oracle gate, not assumed — the q_ann_recall move
    applied to storage instead of indexing.

    Engine parity: quantize/dequantize is per-element double arithmetic
    written in the identical operation order in both engines (each step a
    single IEEE-rounded op; round() is half-away-from-zero in both);
    per-vector error folds are sequential array sums (functions/vectors.py
    convention, matches DuckDB list_sum), and cross-row means use the
    fixed-point decimal-sum pattern (a plain double avg is
    partition-order dependent). Zero vectors are excluded (scale 0 would
    divide by zero). One narrow map + one tiny per-label agg — at 100 TB
    this is a single pass that would also WRITE the int8 codes."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.size("embedding") > 0)
    v = F.transform("embedding", lambda x: x.cast("double"))
    base = emb.select("label", v.alias("v")).withColumn(
        "m", F.array_max(F.transform("v", lambda x: F.abs(x)))
    ).filter(F.col("m") > 0)
    err = F.transform(
        "v",
        lambda x: F.abs(
            x
            - F.round(x * F.lit(float(QUANT_LEVELS)) / F.col("m"))
            * F.col("m")
            / F.lit(float(QUANT_LEVELS))
        ),
    )
    per_vec = base.select(
        "label",
        "m",
        F.aggregate(err, F.lit(0.0), lambda acc, x: acc + x).alias("err_sum"),
        F.array_max(err).alias("err_max"),
        F.size("v").alias("dim"),
    )
    dec = "decimal(18,6)"
    return per_vec.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(
            F.sum(F.round(F.col("m"), 6).cast(dec)).cast("double") / F.count("*"), 4
        ).alias("mean_scale"),
        F.round(F.max("err_max"), 6).alias("max_err"),
        F.round(
            F.sum(F.round(F.col("err_sum") / F.col("dim"), 6).cast(dec)).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_err"),
    )


def _oracle_branch(c: str, expr: str) -> str:
    return f"""
        SELECT '{c}' AS column_name,
               count(*) AS n_rows,
               count(*) - count({expr}) AS n_nulls,
               count(DISTINCT {expr}) AS n_distinct,
               CAST(min({expr}) AS VARCHAR) AS min_value,
               CAST(max({expr}) AS VARCHAR) AS max_value
        FROM events"""


_ORACLE_EXPRS = [
    ("event_id", "event_id"),
    ("user_id", "user_id"),
    ("event_type", "event_type"),
    ("value", "CAST(value AS DECIMAL(18,4))"),
    ("props", "props"),
    ("ts", "strftime(ts, '%Y-%m-%d %H:%M:%S')"),
]

ORACLE: dict[str, str] = {
    "q_embedding_quantize": """
        WITH e AS (
            SELECT label, embedding::DOUBLE[] AS v,
                   list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS m
            FROM embeddings WHERE len(embedding) > 0
        ), q AS (
            SELECT label, m, len(v) AS dim,
                   list_sum(list_transform(v,
                       x -> abs(x - round(x * 127.0 / m) * m / 127.0))) AS err_sum,
                   list_max(list_transform(v,
                       x -> abs(x - round(x * 127.0 / m) * m / 127.0))) AS err_max
            FROM e WHERE m > 0
        )
        SELECT label,
               count(*) AS n_vecs,
               round(CAST(sum(CAST(round(m, 6) AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*), 4) AS mean_scale,
               round(max(err_max), 6) AS max_err,
               round(CAST(sum(CAST(round(err_sum / dim, 6) AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*), 6) AS mean_err
        FROM q GROUP BY label
    """,
    "q_embedding_audit": """
        WITH v AS (
            SELECT label,
                   len(embedding) AS dim,
                   sqrt(list_sum(list_transform(embedding,
                        x -> x::DOUBLE * x::DOUBLE))) AS nrm
            FROM embeddings
        )
        SELECT label,
               count(*) AS n_vecs,
               count(DISTINCT dim) AS n_dims,
               max(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS has_zero_norm,
               round(min(nrm), 4) AS min_norm,
               round(max(nrm), 4) AS max_norm,
               round(CAST(sum(CAST(round(nrm, 6) AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*), 4) AS mean_norm
        FROM v GROUP BY label
    """,
    "q_column_profile": "\n        UNION ALL\n".join(
        _oracle_branch(c, e) for c, e in _ORACLE_EXPRS
    ),
    "q_column_profile_approx": "\n        UNION ALL\n".join(
        f"""
        SELECT '{c}' AS column_name,
               count(DISTINCT {e}) AS n_distinct,
               TRUE AS approx_ok
        FROM events"""
        for c, e in _ORACLE_EXPRS
    ),
}
