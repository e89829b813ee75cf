"""Vector (embedding) column expressions — JVM-side, no UDFs.

All operations are built from ``transform`` / ``zip_with`` / ``aggregate``
higher-order functions so they run inside whole-stage codegen; there is no
Python in the hot path. Floats are widened to double *before* the fold so the
summation matches the DuckDB oracle bit-for-bit at test scale.

Scale: cosine top-k brute force is O(Q x N x d) — fine when Q is small. The
scale path (operators/similarity.py) normalizes once, blocks candidates
(label/LSH bucket), and ranks per block, so N never meets Q unblocked.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ a_i*b_i in double, sequential fold (matches DuckDB list_dot_product)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm2(a) * norm2(b))
