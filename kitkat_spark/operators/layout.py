"""Data-layout operators: Z-order (Morton) clustering for multi-dimensional
data skipping (SURVEY.md §2.B extension surface — the write-side layout move
behind Delta/Iceberg `OPTIMIZE ZORDER BY`; the reference writes nothing but
console lines).

Why it matters at 100 TB: parquet skips row groups by min/max stats, and
stats are only tight for columns the data is SORTED by. A linear sort on
`l_partkey` makes part-predicates skip almost everything but leaves
`l_suppkey` ranges as wide as the table — every supplier query still scans
every file. Interleaving the bits of both keys (the Morton curve) bounds the
RANGE OF BOTH dimensions within any contiguous z-run: split the curve into
2^k buckets and each bucket spans ~2^(bits-k/2) values per dimension, so
point/range predicates on EITHER column prune most buckets.

q_zorder_cluster assigns every lineitem row its z-value over
(l_partkey mod 256, l_suppkey mod 256), buckets the curve into 256
file-sized runs (z div 256), and emits per-bucket row counts + min/max of
both dimensions — exactly the footer stats a writer following
``sources/writer.py`` would produce after
``repartitionByRange(zorder_key).sortWithinPartitions(zorder_key)``. The
oracle replays the bit arithmetic; a plan-side test asserts the per-bucket
spans are ~sqrt of a linear sort's (the skipping property itself, not just
the arithmetic).

All pure int64 bit arithmetic (shift/AND/OR with CONSTANT shift amounts —
codegen'd, engine-portable, no UDF); the aggregation is one map-side
combinable shuffle keyed on the bucket.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kitkat_spark.caches import fixture
from kitkat_spark.sources import load_table

Z_BITS = 8  # bits per dimension -> 16-bit z-value
Z_BUCKETS = 256  # contiguous curve runs ("files")


def zorder_key(x: Column, y: Column, bits: int = Z_BITS) -> Column:
    """Morton-interleave two non-negative ints (low ``bits`` bits each):
    bit i of x lands at 2i, bit i of y at 2i+1. Constant shift amounts keep
    every term a codegen'd JVM expression."""
    parts = []
    for i in range(bits):
        parts.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        parts.append(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return functools.reduce(Column.bitwiseOR, parts)


def q_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-z-bucket footer stats for lineitem clustered on
    (part, supplier): count + min/max of both dimensions."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.pmod(F.col("l_partkey"), F.lit(1 << Z_BITS)).cast("int").alias("pk"),
        F.pmod(F.col("l_suppkey"), F.lit(1 << Z_BITS)).cast("int").alias("sk"),
    )
    z = zorder_key(F.col("pk"), F.col("sk"))
    run = (1 << (2 * Z_BITS)) // Z_BUCKETS
    return (
        li.withColumn("bucket", F.floor(z / F.lit(run)).cast("int"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("pk").alias("min_pk"),
            F.max("pk").alias("max_pk"),
            F.min("sk").alias("min_sk"),
            F.max("sk").alias("max_sk"),
        )
    )


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recurring fact-fact join through BUCKETED layouts
    (sources/bucketed.py): orders and lineitem are each written once with
    ``bucketBy(8, orderkey).sortBy(orderkey)``, after which their equi-join
    plans as a sort-merge with ZERO Exchange on either side — the only
    shuffle in this query is the final 5-group rollup. This is the 100 TB
    amortization move: a fact table joined on the same key every day pays
    its shuffle once at write time, not per query; bucket count is the unit
    of join parallelism (size it so one bucket fits an executor: 100 TB /
    4096 buckets ~ 25 GB input). First invocation per session pays the two
    bucketed writes (the amortized cost made visible); repeats join
    shuffle-free. The oracle is the plain join — layout must be
    result-invisible. tests/test_scale_techniques.py pins the zero-shuffle
    plan shape; the driver row pins the values."""
    from kitkat_spark.functions.numeric import dsum
    from kitkat_spark.sources.bucketed import bucketed_join

    j = bucketed_join(
        spark, sf_dir, "orders", "lineitem", "o_orderkey", "l_orderkey",
        n_buckets=8,
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        dsum("l_extendedprice").alias("revenue"),
    )


def partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table in a day-partitioned layout (written once per
    session, a ``caches.fixture``, through sources/writer.py
    write_partitioned, sorted by ts within each day so row-group stats
    prune on time too); every q_partition_prune call plans a pruned scan
    of it."""
    from kitkat_spark.sources.writer import write_partitioned

    def write(path: str) -> str:
        ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
        write_partitioned(ev, path, ["day"], sort_within=["ts"])
        return path

    df = spark.read.parquet(fixture(spark, sf_dir, "events_by_day", write))
    # The day partition column's DATE type comes from partition-column type
    # inference (spark.sql.sources.partitionColumnTypeInference.enabled,
    # default true); a host session with it disabled would read it back as
    # STRING and silently change q_partition_prune's output schema — cast
    # (a no-op under the default) rather than depend on the conf.
    return df.withColumn("day", F.col("day").cast("date"))


def q_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE 100 TB scan lever as a driver-verified query: a one-week
    report against the date-partitioned events layout. The day predicate
    is a PARTITION filter — Catalyst's PruneFileSourcePartitions elides
    every non-matching `day=.../` directory before any file is opened, so
    the scan touches 7/30 of the table's files (at 100 TB: 7 days, not
    100 TB). tests/test_partition_pruning.py pins `PartitionFilters:
    [day ...]` in this query's plan; the oracle replays the same
    filter+agg on the RAW table — layout must be result-invisible.

    First invocation per (process, sf) pays the partitioned write (the
    amortized cost made visible, same contract as q_bucketed_join)."""
    from kitkat_spark.functions.numeric import dsum

    ev = partitioned_events(spark, sf_dir)
    week = ev.filter(
        (F.col("day") >= F.lit("2024-01-08").cast("date"))
        & (F.col("day") <= F.lit("2024-01-14").cast("date"))
    )
    return week.groupBy("day", "event_type").agg(
        F.count("*").alias("n_events"),
        dsum("value").alias("sum_value"),
    )


CURRICULUM_BIN_MILLIS = 100  # difficulty-histogram bin width (milli-chars)
CURRICULUM_DOCS_PER_SHARD = 64  # rank-run length per curriculum shard file
CURRICULUM_RANGE_PARTITIONS = 8  # output range partitions (fixture setting)


def q_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering (Bengio et al., ICML 2009 — public literature):
    the training manifest sorted easiest -> hardest GLOBALLY, with a shard
    assignment that preserves the order across shard files — the layout a
    curriculum-schedule training job reads shard 0, 1, 2 ... from.

    Difficulty is mean token length in milli-chars (integer-exact:
    ``length(text) * 1000 div n_tokens`` — longer words, harder text); any
    scorer slots in here. The GLOBAL rank is computed scalably — never a
    single-partition window — by histogram-offset composition:

      1. bin = difficulty div BIN_WIDTH (content-derived, deterministic);
      2. per-bin counts -> cumulative offsets (a window over the BIN table,
         bounded by the difficulty domain: mean word length caps at ~20
         chars, so <= ~200 bins at ANY corpus size);
      3. rank = offset(bin) + row_number within bin — ONE corpus shuffle
         (the per-bin window), with each bin's partition ~corpus/n_bins.
         A production run trains BIN_WIDTH from the difficulty histogram
         (one cheap agg) exactly like SemDeDup trains its cell count, so
         per-bin rows stay bounded as the corpus grows.

    The output is then laid out for the WRITER with
    ``repartitionByRange(curriculum_rank)`` + sortWithinPartitions — the
    one partitioner built for total order: range boundaries co-locate
    contiguous rank runs, so ``partitionBy(shard)`` writes each curriculum
    file as one sorted run (RangePartitioning is plan-pinned by
    tests/test_plan_quality.py). shard = (rank-1) div DOCS_PER_SHARD is
    derived from the rank, not from partition ids, so the result is
    layout-invariant and oracle-replayable."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.expr(
            "cast(length(text) as bigint) * 1000 div size(split(text, ' ', -1))"
        ).alias("difficulty_milli"),
    )
    binned = d.withColumn(
        "bin", F.expr(f"difficulty_milli div {CURRICULUM_BIN_MILLIS}")
    )
    # bin table: <= ~200 rows at any scale; the unpartitioned window is a
    # deliberate tiny-table cumulative sum, not a corpus sort
    w_bins = W.orderBy("bin").rowsBetween(W.unboundedPreceding, -1)
    offsets = (
        binned.groupBy("bin")
        .agg(F.count("*").alias("n"))
        .select("bin", F.coalesce(F.sum("n").over(w_bins), F.lit(0)).alias("off"))
    )
    w_in = W.partitionBy("bin").orderBy("difficulty_milli", "doc_id")
    ranked = binned.join(F.broadcast(offsets), "bin").select(
        (F.col("off") + F.row_number().over(w_in)).cast("long").alias(
            "curriculum_rank"
        ),
        "doc_id",
        "difficulty_milli",
    )
    out = ranked.withColumn(
        "shard",
        F.expr(
            f"cast((curriculum_rank - 1) div {CURRICULUM_DOCS_PER_SHARD} as int)"
        ),
    )
    return out.repartitionByRange(
        CURRICULUM_RANGE_PARTITIONS, "curriculum_rank"
    ).sortWithinPartitions("curriculum_rank")


ORACLE: dict[str, str] = {
    "q_curriculum": f"""
        WITH d AS (
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) * 1000
                       // len(string_split(text, ' ')) AS difficulty_milli
            FROM documents
        ),
        r AS (
            SELECT doc_id, difficulty_milli,
                   CAST(row_number() OVER (ORDER BY difficulty_milli, doc_id)
                        AS BIGINT) AS curriculum_rank
            FROM d
        )
        SELECT curriculum_rank, doc_id, difficulty_milli,
               CAST((curriculum_rank - 1) // {CURRICULUM_DOCS_PER_SHARD}
                    AS INT) AS shard
        FROM r
    """,
    "q_partition_prune": """
        SELECT CAST(ts AS DATE) AS day, event_type,
               count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
                   AS sum_value
        FROM events
        WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
        GROUP BY 1, 2
    """,
    "q_bucketed_join": """
        SELECT o_orderpriority,
               count(*) AS n_lines,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
                    AS DOUBLE) AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority
    """,
    "q_zorder_cluster": f"""
        WITH d AS (
            SELECT CAST(l_partkey % {1 << Z_BITS} AS INT) AS pk,
                   CAST(l_suppkey % {1 << Z_BITS} AS INT) AS sk
            FROM lineitem
        ),
        z AS (
            SELECT pk, sk,
                   ({' | '.join(
                       f"(((pk >> {i}) & 1) << {2 * i}) | "
                       f"(((sk >> {i}) & 1) << {2 * i + 1})"
                       for i in range(Z_BITS)
                   )}) AS zv
            FROM d
        )
        SELECT CAST(zv // {(1 << (2 * Z_BITS)) // Z_BUCKETS} AS INT) AS bucket,
               count(*) AS n_rows,
               min(pk) AS min_pk, max(pk) AS max_pk,
               min(sk) AS min_sk, max(sk) AS max_sk
        FROM z GROUP BY 1
    """,
}
