"""Format-agnostic I/O: the same logical table written as json/csv must read
back value-identical to the parquet original, and operators must produce the
same results over any format."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kitkat_spark.sources import load_table
from kitkat_spark.sources.formats import (
    ingest_to_parquet,
    read_table,
    table_schema,
    write_table,
)

SF = "/root/testdata/sf0.001"


def _sorted_rows(df, key):
    return [tuple(r) for r in df.orderBy(key).collect()]


def _assert_roundtrip(spark, tmp_path, table, key, fmt):
    src = load_table(spark, SF, table)
    p = str(tmp_path / f"{table}_{fmt}")
    write_table(src, p, fmt)
    back = read_table(spark, p, fmt, table_schema(spark, SF, table))
    assert back.schema == src.schema
    assert _sorted_rows(back, key) == _sorted_rows(src, key)


@pytest.mark.parametrize("fmt", ["orc", "json", "csv"])
def test_documents_roundtrip(spark, tmp_path, fmt):
    _assert_roundtrip(spark, tmp_path, "documents", "doc_id", fmt)


@pytest.mark.parametrize("fmt", ["orc", "json", "csv"])
def test_embeddings_array_column_roundtrip(spark, tmp_path, fmt):
    _assert_roundtrip(spark, tmp_path, "embeddings", "vec_id", fmt)


@pytest.mark.parametrize("fmt", ["orc", "json", "csv"])
def test_events_microsecond_timestamps_roundtrip(spark, tmp_path, fmt):
    """events.ts carries microseconds; Spark's default json/csv
    timestampFormat would write milliseconds only."""
    _assert_roundtrip(spark, tmp_path, "events", "event_id", fmt)


def test_operator_results_format_invariant(spark, tmp_path):
    """An aggregation computed over the json/csv copy equals the parquet
    answer — operators are source-format independent."""
    src = load_table(spark, SF, "customer")
    schema = table_schema(spark, SF, "customer")

    def agg(df):
        return _sorted_rows(
            df.groupBy("c_mktsegment").agg(
                F.count("*").alias("n"),
                F.round(F.sum("c_acctbal"), 2).alias("bal"),
            ),
            "c_mktsegment",
        )

    want = agg(src)
    for fmt in ("json", "csv"):
        p = str(tmp_path / f"cust_{fmt}")
        write_table(src, p, fmt)
        assert agg(read_table(spark, p, fmt, schema)) == want, fmt


def test_ingest_to_parquet_restores_pushdown(spark, tmp_path):
    """The ingest pass lands text-format data as parquet; the resulting scan
    carries pushed filters again (the whole point of the conversion)."""
    from kitkat_spark.plans import has_pushed_filters

    src = load_table(spark, SF, "orders")
    jsrc = str(tmp_path / "orders_json")
    write_table(src, jsrc, "json")
    pq = ingest_to_parquet(
        spark, jsrc, "json", table_schema(spark, SF, "orders"), str(tmp_path / "orders_pq")
    )
    filtered = pq.filter(F.col("o_totalprice") > 1000).select("o_orderkey")
    assert has_pushed_filters(filtered, "o_totalprice")
    assert filtered.count() == src.filter(F.col("o_totalprice") > 1000).count()


# ---------------------------------------------------------------------------
# Fixture-drift probe: when the driver regenerates /root/testdata with a
# different physical schema (it has — events.ts shipped as TIMESTAMP(NANOS)
# in rounds 1-2, timestamp[us] in round 3, breaking 16 queries at once),
# this test fails FIRST with a precise message instead of 26 confusing
# downstream AnalysisExceptions.
# ---------------------------------------------------------------------------

def test_fixture_tables_load_with_expected_key_types(spark):
    from pyspark.sql import types as T

    from kitkat_spark.sources import TABLES

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        for name in TABLES:
            df = load_table(spark, sf_dir, name)
            assert df.limit(1).count() >= 0, f"{sf_dir}/{name} unreadable"
        ev = load_table(spark, sf_dir, "events")
        ts_type = ev.schema["ts"].dataType
        assert isinstance(ts_type, T.TimestampType), (
            f"{sf_dir}/events.ts loaded as {ts_type}; load_table must "
            "normalize every fixture variant to TimestampType"
        )
        emb = load_table(spark, sf_dir, "embeddings")
        assert isinstance(emb.schema["embedding"].dataType, T.ArrayType), (
            f"{sf_dir}/embeddings.embedding no longer an array column"
        )
        doc = load_table(spark, sf_dir, "documents")
        assert isinstance(doc.schema["text"].dataType, T.StringType), (
            f"{sf_dir}/documents.text no longer a string column"
        )
