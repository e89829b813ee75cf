"""Format interchange: driver-verified JSON, CSV and ORC round trips over
the events table (SURVEY.md §2.B source/sink surface — sources/formats.py
implements parquet/ORC/JSON/CSV parity and tests/test_formats.py proves it
per format; these queries put one full write→read→aggregate loop per
format in the driver's value-checked set, through the same
``write_table``/``read_table``, so format fidelity is cross-engine-verified,
not just self-consistent).

What the round trip must preserve to hash-match the parquet-side oracle:
microsecond timestamps (ISO-8601 serialization both ways), float
shortest-representation (6.55 must come back 6.55, not 6.549999...),
nested JSON-in-string escaping (the `props` column is itself a JSON
document inside the JSON line), and nulls. The aggregation accumulates in
decimal (dsum) so the comparison is partition-order-proof.

Scale: schema-on-read with an EXPLICIT schema — `spark.read.schema(...)`
skips the inference pass (which at 100 TB is a full extra scan) and makes
malformed rows surface as nulls under the default PERMISSIVE mode rather
than failing the job (pair with columnNameOfCorruptRecord + a DLQ filter —
streaming/sinks.py is the streaming version of that pattern). The fixture
write is a per-session ``caches.fixture`` like the replay fixtures, so
repeat invocations measure the READ path. Text formats cost ~5-10x parquet scan
bytes and lose pushdown/pruning — the production use is ingest-once into
parquet (sources/formats.py ingest_to_parquet), never repeated analytics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kitkat_spark.caches import fixture
from kitkat_spark.functions.numeric import dsum
from kitkat_spark.sources import load_table
from kitkat_spark.sources.formats import read_table, write_table


def _roundtrip_rollup(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """events -> ``fmt`` (written once per session) -> explicit-schema read
    -> per-type rollup. The oracle computes the same rollup on the ORIGINAL
    parquet, so any loss of timestamp precision, float digits, or row
    fidelity in the round trip hash-fails."""
    ev = load_table(spark, sf_dir, "events")

    def write(path: str) -> str:
        write_table(ev, path, fmt)
        return path

    path = fixture(spark, sf_dir, f"events_{fmt}", write)
    back = read_table(spark, path, fmt, ev.schema)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        dsum("value").alias("sum_value"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("first_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
        F.count_distinct("props").alias("n_props"),
    )


def q_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> JSON lines (µs timestamps) -> rollup."""
    return _roundtrip_rollup(spark, sf_dir, "json")


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> CSV (RFC-4180 quoting, header, µs timestamps) -> rollup:
    the escaping-sensitive format. The nested-JSON `props` column is full
    of commas and double quotes, so a quoting/escaping bug in either
    direction changes n_props or drops rows and hash-fails."""
    return _roundtrip_rollup(spark, sf_dir, "csv")


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> ORC -> rollup; completes the interchange matrix (parquet
    native, JSON, CSV, ORC — the second columnar format a warehouse
    migration actually moves through). Unlike the text trips, ORC is binary
    columnar: timestamps carry their precision natively (no format pinning
    needed) and the read side keeps predicate pushdown and column pruning —
    the rollup here reads only its 4 columns."""
    return _roundtrip_rollup(spark, sf_dir, "orc")


# Every trip must reproduce the parquet rollup exactly, so all three share
# one oracle.
_ROLLUP_SQL = """
        SELECT event_type,
               count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
                   AS sum_value,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
               strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
               count(DISTINCT props) AS n_props
        FROM events GROUP BY event_type
    """
ORACLE: dict[str, str] = dict.fromkeys(
    ("q_orc_roundtrip", "q_csv_roundtrip", "q_format_roundtrip"), _ROLLUP_SQL
)
