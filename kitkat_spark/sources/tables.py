"""Parquet star-schema loaders (the driver fixture tables, TESTDATA.md).

Scale notes: `spark.read.parquet` is the columnar scan path — Catalyst pushes
filters and prunes columns into the parquet reader (verify via
`plans.explain_has_pushed_filters`). At 100 TB the same call reads a
partitioned table; nothing here changes. We deliberately do NOT cache or
materialize: each query composes its own pruned scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) (which Spark's
        # reader only accepts as a raw long via the legacy conf) and as plain
        # timestamp[us]. Branch on the type the scan actually produced so the
        # loader survives fixture drift: long → µs timestamp; NTZ → session-tz
        # timestamp (session tz is UTC, so the cast is value-preserving and
        # matches DuckDB's naive-timestamp read of the same file).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        if isinstance(ts_type, T.TimestampNTZType):
            return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
