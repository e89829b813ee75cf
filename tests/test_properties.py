"""Property-based tests (hypothesis) for the pure-Python codec layer —
the reference's round-trip gem (consumer_test.go:325-344) generalized to
arbitrary inputs. No SparkSession needed: these cover the functions the
Arrow UDFs call per batch.
"""

from __future__ import annotations

import hashlib
import zlib

from hypothesis import given, settings
from hypothesis import strategies as st

from kitkat_spark.functions.kpl import (
    KPL_MAGIC,
    _write_len_delim,
    aggregate_records,
    deaggregate_blob,
)

keys = st.text(min_size=1, max_size=20).filter(lambda s: "\x00" not in s)
payloads = st.binary(min_size=0, max_size=200)


@st.composite
def kpl_tables(draw):
    pk_table = draw(st.lists(keys, min_size=1, max_size=5, unique=True))
    n = len(pk_table)
    recs = draw(
        st.lists(
            st.fixed_dictionaries(
                {
                    "partition_key_index": st.integers(min_value=0, max_value=n - 1),
                    "data": payloads,
                }
            ),
            min_size=1,
            max_size=8,
        )
    )
    return pk_table, recs


@given(kpl_tables())
@settings(max_examples=200, deadline=None)
def test_kpl_roundtrip_property(table_recs):
    pk_table, recs = table_recs
    blob = aggregate_records(pk_table, recs)
    assert blob.startswith(KPL_MAGIC)
    out = deaggregate_blob(blob)
    assert len(out) == len(recs)
    for got, want in zip(out, recs):
        assert got["partition_key"] == pk_table[want["partition_key_index"]]
        assert got["data"] == want["data"]


@given(st.binary(min_size=0, max_size=300))
@settings(max_examples=300, deadline=None)
def test_deaggregate_never_raises_on_garbage(blob):
    """Decode failure semantics: arbitrary bytes -> [] or valid records,
    never an exception (consumer.go:177-179)."""
    out = deaggregate_blob(blob)
    assert isinstance(out, list)


@given(kpl_tables(), st.integers(min_value=0, max_value=15))
@settings(max_examples=100, deadline=None)
def test_md5_tamper_always_rejected(table_recs, flip_at):
    pk_table, recs = table_recs
    blob = aggregate_records(pk_table, recs)
    # flip one bit inside the md5 trailer -> must reject
    i = len(blob) - 16 + flip_at
    tampered = blob[:i] + bytes([blob[i] ^ 0x01]) + blob[i + 1 :]
    assert deaggregate_blob(tampered) == []


@given(st.binary(min_size=0, max_size=500))
@settings(max_examples=200, deadline=None)
def test_zlib_roundtrip_and_passthrough(data):
    import zlib as z

    from kitkat_spark.functions.compression import _decompress_one

    assert _decompress_one(z.compress(data)) == data  # roundtrip
    if not data.startswith(b"\x78"):
        assert _decompress_one(data) == data  # graceful passthrough


# --- the fused decode kernel (functions/kinesis.py) ------------------------

inner_payloads = st.one_of(
    st.none(),
    st.just(b""),
    payloads,
    payloads.map(zlib.compress),
    payloads.map(lambda b: b"\x78\x9c" + b),  # looks deflated, does not inflate
)


@st.composite
def kinesis_records(draw):
    """(data, partitionKey) of an outer record: a plain payload, a valid
    KPL blob, or one with a bad md5, a truncation, an out-of-range key
    index or a non-UTF-8 partition key."""
    kind = draw(st.sampled_from(["plain", "valid", "bad_md5", "truncated", "bad_index", "bad_utf8"]))
    pk = draw(st.one_of(st.none(), keys))
    if kind == "plain":
        return draw(inner_payloads), pk
    pk_table = draw(st.lists(keys, min_size=1, max_size=3))
    recs = draw(
        st.lists(
            st.fixed_dictionaries(
                {
                    "partition_key_index": st.integers(0, len(pk_table) - 1),
                    "data": inner_payloads.filter(lambda b: b is not None),
                    "tags": st.lists(st.tuples(keys, st.one_of(st.none(), keys)), max_size=2),
                }
            ),
            min_size=1,
            max_size=4,
        )
    )
    if kind == "bad_index":
        recs[-1]["partition_key_index"] = len(pk_table)
    blob = aggregate_records(pk_table, recs)
    if kind == "bad_utf8":
        proto = bytearray()
        _write_len_delim(1, b"\xff\xfe", proto)
        proto += blob[len(KPL_MAGIC) : -16]
        blob = KPL_MAGIC + bytes(proto) + hashlib.md5(bytes(proto)).digest()
    elif kind == "bad_md5":
        blob = blob[:-1] + bytes([blob[-1] ^ 0x01])
    elif kind == "truncated":
        blob = blob[: draw(st.integers(0, len(blob) - 1))]
    return blob, pk


@given(st.lists(kinesis_records(), max_size=6), st.booleans())
@settings(max_examples=200, deadline=None)
def test_decode_kernel_matches_deaggregate_then_decompress(records, inflate):
    """The kernel's rows equal the reference composition: deaggregate_blob,
    then _decompress_one per inner payload; a plain payload passes through
    as one row, a failed blob gives none."""
    import pyarrow as pa

    from kitkat_spark.functions.compression import _decompress_one
    from kitkat_spark.functions.kinesis import decode_records

    def codec(b):
        return _decompress_one(b) if inflate else b

    want = []
    for blob, pk in records:
        if blob is not None and blob.startswith(KPL_MAGIC):
            want.append([(r["partition_key"], codec(r["data"]), r["tags"]) for r in deaggregate_blob(blob)])
        else:
            want.append([(pk, codec(blob), None)])
    got = decode_records(
        pa.array([b for b, _ in records], pa.binary()),
        pa.array([k for _, k in records], pa.string()),
        pa.array([inflate] * len(records)),
    ).to_pylist()
    got = [
        [(r["partition_key"], r["data"], None if r["tags"] is None else dict(r["tags"])) for r in rows]
        for rows in got
    ]
    assert got == want


# ---------------------------------------------------------------------------
# dsum: the decimal accumulator must equal exact fixed-point arithmetic and
# be invariant to how the rows are partitioned
# ---------------------------------------------------------------------------

@given(
    st.lists(
        st.decimals(
            min_value="-99999.9999", max_value="99999.9999", places=4
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=8),
)
@settings(max_examples=20, deadline=None)
def test_dsum_matches_exact_decimal_any_partitioning(values, n_parts):
    import decimal

    from pyspark.sql import functions as F

    from kitkat_spark.functions.numeric import dsum
    from kitkat_spark.session import get_spark

    spark = get_spark()
    rows = [(float(v),) for v in values]
    df = spark.createDataFrame(rows, "x double").repartition(n_parts)
    got = df.agg(dsum(F.col("x")).alias("s")).collect()[0]["s"]
    # exact reference: quantize each double to the 1e-4 grid, sum exactly,
    # round to cents HALF_UP (Spark's decimal rounding mode)
    q = decimal.Decimal("0.0001")
    exact = sum(decimal.Decimal(r[0]).quantize(q) for r in rows)
    want = float(
        exact.quantize(decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP)
    )
    assert got == want, (got, want, values)


# --- producer-side KPL packing (_kpl_blobs, the --aggregated path) --------

producer_records = st.lists(st.tuples(keys, payloads), min_size=0, max_size=40)


@given(producer_records, st.integers(min_value=1, max_value=7))
@settings(max_examples=200, deadline=None)
def test_kpl_blobs_pack_unpack_property(records, blob_records):
    """produce --aggregated packing: for ANY record stream and blob size,
    deaggregating the emitted blobs in order reproduces the records exactly
    (keys dictionary-decode, payloads byte-identical), blob count is
    ceil(n / blob_records), and each blob's outer key is its first inner
    record's key."""
    from kitkat_spark.streaming.producer import _kpl_blobs

    blobs = list(_kpl_blobs(iter(records), blob_records=blob_records))
    n = len(records)
    assert len(blobs) == (n + blob_records - 1) // blob_records
    out = []
    for i, (outer_key, blob) in enumerate(blobs):
        inner = deaggregate_blob(blob)
        assert 1 <= len(inner) <= blob_records
        assert outer_key == inner[0]["partition_key"]
        out.extend((r["partition_key"], r["data"]) for r in inner)
    assert out == records


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=40, deadline=None)
def test_zorder_interleave_is_bijective_and_tile_local(pairs):
    """Pure-Python twin of layout.zorder_key's arithmetic: interleaving is
    injective on (x, y) pairs, and the 256-run bucket id is exactly the
    4-bit interleave of (x//16, y//16) — i.e. every bucket is one 16x16
    tile, the fact the operator's data-skipping claim rests on."""

    def z(x, y, bits=8):
        v = 0
        for i in range(bits):
            v |= ((x >> i) & 1) << (2 * i)
            v |= ((y >> i) & 1) << (2 * i + 1)
        return v

    zs = [z(x, y) for x, y in pairs]
    assert len(set(zs)) == len(set(pairs))  # injective
    for (x, y), v in zip(pairs, zs):
        assert v // 256 == z(x // 16, y // 16, bits=4)  # bucket == tile id


# --- decimal-exact product sums: Spark vs DuckDB (the round-6 core fix) ---

money_2dp = st.integers(min_value=0, max_value=20_000_000).map(
    lambda c: c / 100.0  # exact 2-dp doubles like the fixture's prices
)
rate_2dp = st.integers(min_value=0, max_value=99).map(lambda c: c / 100.0)


@given(
    st.lists(st.tuples(money_2dp, rate_2dp, rate_2dp), min_size=1, max_size=50),
    st.integers(min_value=1, max_value=8),
)
@settings(max_examples=15, deadline=None)
def test_decimal_product_sums_match_duckdb_exactly(rows, n_parts):
    """drev()/dsum_dec vs DEC_REV_SQL/dsum_dec_sql on the SAME data must be
    bit-identical: factor-wise decimal casts make the product exact in both
    engines (the q_agg_group lesson — double products cast to decimal round
    differently at ulp boundaries, and DuckDB truncates decimal rescales
    while Spark rounds)."""
    import duckdb
    from pyspark.sql import functions as F

    from kitkat_spark.functions.numeric import (
        DEC_REV_SQL,
        RATE,
        drate,
        drev,
        dsum_dec,
        dsum_dec_sql,
    )
    from kitkat_spark.session import get_spark

    spark = get_spark()
    df = spark.createDataFrame(
        rows, "l_extendedprice double, l_discount double, l_tax double"
    ).repartition(n_parts)
    charge = drev() * (F.lit(1).cast(RATE) + drate("l_tax"))
    got = df.agg(
        dsum_dec(drev()).alias("disc_price"),
        dsum_dec(charge).alias("charge"),
    ).collect()[0]

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE lineitem (l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE)"
    )
    con.executemany("INSERT INTO lineitem VALUES (?, ?, ?)", rows)
    charge_sql = (
        DEC_REV_SQL + " * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))"
    )
    want = con.execute(
        f"SELECT {dsum_dec_sql(DEC_REV_SQL)}, {dsum_dec_sql(charge_sql)} FROM lineitem"
    ).fetchone()
    con.close()
    assert (got["disc_price"], got["charge"]) == want, (rows[:3], got, want)
