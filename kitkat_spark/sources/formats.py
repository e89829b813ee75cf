"""Format-agnostic table I/O: the same logical table in parquet, ORC,
JSON-lines, or CSV, producing IDENTICAL DataFrames (schema and values) so
every operator runs unchanged over any format.

The reference's only sources are newline text on stdin and Kinesis records
(/root/reference/producer/producer.go:30-36, consumer/consumer.go:148-152);
this module is the engine-side generalization: an ingest layer that accepts
the interchange formats a real corpus arrives in.

Scale notes, per format:
- parquet: columnar — Catalyst pushes predicates AND prunes columns into the
  scan; always the target format (write_table exists for landing data).
- orc: the other columnar format Spark ships natively — same pushdown +
  pruning story as parquet (plus bloom-filter/row-group skipping); support
  exists because real lakes hold ORC-era data that should NOT need a
  pre-conversion pass just to be queryable.
- json/csv: row-oriented text — column pruning still avoids parsing unused
  fields (Jackson/Univocity parse only requested columns), but predicate
  pushdown cannot skip I/O; the 100 TB pattern is one pass text -> parquet
  (ingest_to_parquet below), then everything downstream reads parquet.
- An explicit schema is ALWAYS supplied on read: schema inference would scan
  the data once just to guess types (2x I/O) and can guess differently per
  partition sample — never acceptable at scale. The schema source of truth
  is the parquet fixture's own schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kitkat_spark.sources.tables import TABLES, load_table

FORMATS = ("parquet", "orc", "json", "csv")

# CSV cannot carry nested types; every fixture table is flat except
# embeddings (array<float>), which round-trips through a delimited string.
_CSV_ARRAY_SEP = ";"

# Spark's DEFAULT json/csv timestampFormat carries only milliseconds — a
# silent 1000x precision loss (events.ts .778549 came back .778000) — so
# both text formats pin microseconds on BOTH sides of the trip
_TEXT_OPTS = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"}


def write_table(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """Write a table in the given interchange format (CSV flattens array
    columns to ';'-joined strings; JSON/parquet keep them native)."""
    if fmt not in FORMATS:
        raise ValueError(f"fmt must be one of {FORMATS}")
    out = df
    if fmt == "csv":
        for f in df.schema.fields:
            if isinstance(f.dataType, T.ArrayType):
                out = out.withColumn(
                    f.name,
                    F.array_join(F.col(f.name).cast("array<string>"), _CSV_ARRAY_SEP),
                )
        out.write.mode("overwrite").options(header=True, **_TEXT_OPTS).csv(path)
    elif fmt == "json":
        out.write.mode("overwrite").options(**_TEXT_OPTS).json(path)
    elif fmt == "orc":
        out.write.mode("overwrite").orc(path)
    else:
        out.write.mode("overwrite").parquet(path)


def read_table(
    spark: SparkSession, path: str, fmt: str, schema: T.StructType
) -> DataFrame:
    """Read a table written by write_table back to its EXACT logical schema.

    The explicit schema makes json/csv reads single-pass (no inference scan)
    and type-stable; CSV array columns are re-split and cast back."""
    if fmt not in FORMATS:
        raise ValueError(f"fmt must be one of {FORMATS}")
    if fmt == "parquet":
        return spark.read.schema(schema).parquet(path)
    if fmt == "orc":
        return spark.read.schema(schema).orc(path)
    if fmt == "json":
        return spark.read.schema(schema).options(**_TEXT_OPTS).json(path).select(
            *[f.name for f in schema.fields]
        )
    flat = T.StructType(
        [
            T.StructField(
                f.name,
                T.StringType() if isinstance(f.dataType, T.ArrayType) else f.dataType,
                f.nullable,
            )
            for f in schema.fields
        ]
    )
    df = spark.read.schema(flat).options(header=True, **_TEXT_OPTS).csv(path)
    for f in schema.fields:
        if isinstance(f.dataType, T.ArrayType):
            df = df.withColumn(
                f.name,
                F.when(F.col(f.name) == "", F.array().cast(f.dataType)).otherwise(
                    F.split(F.col(f.name), _CSV_ARRAY_SEP).cast(f.dataType)
                ),
            )
    return df.select(*[f.name for f in schema.fields])


def ingest_to_parquet(
    spark: SparkSession, src_path: str, fmt: str, schema: T.StructType, dest: str
) -> DataFrame:
    """The 100 TB ingest move: one narrow pass text-format -> parquet, after
    which every query gets columnar pruning + pushdown for free. Returns the
    parquet-backed DataFrame."""
    read_table(spark, src_path, fmt, schema).write.mode("overwrite").parquet(dest)
    return spark.read.parquet(dest)


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """Schema source of truth for a fixture table (the parquet footer)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}")
    return load_table(spark, sf_dir, name).schema
