"""zlib payload decode with graceful passthrough.

The reference inflates per-record when ``--compress zlib`` and returns the
original bytes untouched on any decode failure
(/root/reference/consumer/consumer.go:197-201,211-224). Spark SQL has no
built-in inflate, so this is a legitimate UDF case; we use Arrow-batched
pandas UDFs (one python call per batch, not per row).

Scale: compression codecs are pure map operators — no shuffle, no state —
so throughput scales linearly with partitions; the Arrow boundary is the
only overhead vs a JVM codec.
"""

from __future__ import annotations

import zlib

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kitkat_spark.functions.udf import per_context


def inflates(compression: str | None) -> bool:
    """Whether ``--compress`` value ``compression`` (None or ``"zlib"``)
    inflates payloads; any other value raises."""
    if compression not in (None, "zlib"):
        raise ValueError(f"unsupported compression {compression!r} (only 'zlib')")
    return compression == "zlib"


def _decompress_one(data: bytes | None) -> bytes | None:
    if data is None:
        return None
    try:
        return zlib.decompress(data)
    except zlib.error:
        return data  # passthrough, consumer.go:213-216,220-223


@per_context(F.pandas_udf(T.BinaryType()))
def zlib_decompress_udf(s: pd.Series) -> pd.Series:
    return s.map(_decompress_one)


@per_context(F.pandas_udf(T.BinaryType()))
def zlib_compress_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda b: None if b is None else zlib.compress(b))
