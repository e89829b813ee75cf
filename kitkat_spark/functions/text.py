"""Text-analysis column expressions: tokens, shingles, minhash, fingerprints.

Everything here is built-in-function composition (JVM-side, codegen'd)
except the MinHash remix: shingles hash once JVM-side, and the k
universal-hash remixes ((a*h + b) mod p) run as one Arrow-batched numpy
reduce (make_minhash_udf) — O(shingles + k) per doc, not O(shingles * k)
hash calls, which is what you want at 100 TB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Deterministic universal-hash parameters (fixed seeds; public technique from
# Broder's minhash paper). p is the Mersenne prime 2^31-1: small enough that
# a*h + b < 2^62 never overflows int64 (Spark 4 runs ANSI mode by default,
# where long overflow is an error, not a wrap).
MINHASH_PRIME = (1 << 31) - 1


def minhash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """k (a, b) pairs from a deterministic LCG (no RNG dependency)."""
    params = []
    x = seed
    for _ in range(k):
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
        a = (x | 1) % MINHASH_PRIME
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
        b = x % MINHASH_PRIME
        params.append((a, b))
    return params


def tokens(text: Column) -> Column:
    """Whitespace tokens. Fixture text is single-space separated."""
    return F.split(text, " ", -1)


def _zipped_ngrams(toks: Column, n: int) -> Column:
    """array<struct<0,1,..,n-1>> of n consecutive tokens per position.

    Built from arrays_zip over n shifted slices so the downstream transform
    lambda touches ONLY its argument. The naive form — transform(sequence,
    i -> f(element_at(toks, i+j))) — re-evaluates the ``toks`` subtree (the
    split of the full text) on every element_at call in interpreted HOF
    eval: measured 3.2 s vs 0.9 s for 5 000 docs at sf0.1."""
    m = F.size(toks) - (n - 1)
    return F.arrays_zip(*[F.slice(toks, j + 1, m) for j in range(n)])


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct n-word shingles; empty array when the doc has < n tokens."""
    joined = F.transform(
        _zipped_ngrams(toks, n),
        lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)]),
    )
    return F.array_distinct(F.when(F.size(toks) >= n, joined).otherwise(F.array()))


def _token_hashes(toks: Column) -> Column:
    """One xxhash64 per token — the shared first stage of every n-gram hash
    below. Hashing tokens ONCE and combining the resulting longs per
    position beats hashing the n string columns per position n-fold (each
    token string otherwise gets hashed n times, once per shingle slot):
    measured 0.85 s -> 0.53 s for the sf0.1 shingle pass."""
    return F.transform(toks, lambda t: F.xxhash64(t))


def full_shingle_hashes(toks: Column, n: int = 3) -> Column:
    """Distinct FULL-RANGE combined n-gram hashes (no mod-p reduction) — for
    equality-join paths (inverted-index self-join, decontamination) where
    the collision budget must stay at the 2^-64 scale. Tokens hash once
    (_token_hashes), then each position combines n consecutive
    token-hashes with one xxhash64 over longs — shingle STRINGS are never
    materialized."""
    hashed = F.transform(
        _zipped_ngrams(_token_hashes(toks), n),
        lambda s: F.xxhash64(*[s[str(j)] for j in range(n)]),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, hashed).otherwise(F.array().cast("array<bigint>"))
    )


def md5_long(col: Column, hex_chars: int = 15) -> Column:
    """Deterministic 60-bit integer hash from md5 — the CROSS-ENGINE hash.

    DuckDB computes the identical value as
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``, which is what lets the
    minhash/LSH and simhash pipelines carry a full value-level DuckDB oracle
    instead of a rows-only check. 15 hex chars = 60 bits, so the result is
    always a non-negative int64 on both engines (no sign/overflow edge).
    md5 costs ~2x xxhash64 but stays JVM-side codegen; paths that never
    expose hash VALUES to the oracle (inverted-index Jaccard) keep xxhash64.
    """
    return F.conv(F.substring(F.md5(col), 1, hex_chars), 16, 10).cast("long")


def oracle_shingle_hashes(toks: Column, n: int = 3) -> Column:
    """Distinct mod-p n-gram shingle hashes with DuckDB-reproducible VALUES:
    md5_long of the space-joined shingle string, reduced mod MINHASH_PRIME
    so the minhash remix (a*h + b) stays < 2^62 in int64. Unlike
    full_shingle_hashes this materializes the shingle string (md5 needs
    the exact bytes the oracle hashes) — the price of verifiability;
    equality-only paths keep the hash-tokens-once xxhash64 layout."""
    hashed = F.transform(
        _zipped_ngrams(toks, n),
        lambda s: F.pmod(
            md5_long(F.concat_ws(" ", *[s[str(j)] for j in range(n)])),
            F.lit(MINHASH_PRIME),
        ),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, hashed).otherwise(F.array().cast("array<bigint>"))
    )


def band_slices(signature: Column, bands: int, rows: int) -> Column:
    """Per-band RAW signature slices (array<long> join keys) for LSH
    bucketing. No hash remix: two docs share a band bucket iff the 4 raw
    minhash values agree, and an external oracle reproduces the key with a
    plain list literal — unlike an xxhash64 digest of the slice. Spark
    groups/joins array<long> keys natively; the key is 32 bytes vs 8 for a
    digest, a fine trade below ~64 rows per band."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.slice(signature, b * rows + 1, rows),
    )


def make_minhash_udf(k: int = 32, seed: int = 42):
    """Arrow-batched minhash: numpy (a*h+b) mod p min-reduce over the JVM-side
    shingle-hash array.

    Why a pandas UDF and not a pure expression: the nested
    higher-order-function form (transform inside array_min inside transform)
    drops Spark to interpreted per-element evaluation — measured 330 s for
    500 docs — while this UDF is one Arrow hop + a vectorized matmul-shaped
    reduce (~2 s). The expensive text hashing still happens JVM-side
    (oracle_shingle_hashes); only the k-permutation remix crosses to
    Python. The UDF output is a materialized attribute, so downstream band
    expressions reference a column, not a re-inlined subtree.
    """
    params = minhash_params(k, seed)
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def minhash_udf(hashes: pd.Series) -> pd.Series:
        # Fully vectorized across the Arrow batch: flatten every doc's hash
        # array into ONE (k x N) remix matrix, then segment-min per doc with
        # np.minimum.reduceat — zero per-row Python. ~10x over a per-row map.
        lens = hashes.map(lambda h: 0 if h is None else len(h)).to_numpy(dtype=np.int64)
        n_rows = len(lens)
        out = np.full((n_rows, k), MINHASH_PRIME, dtype=np.int64)
        nonempty = lens > 0
        if nonempty.any():
            flat = np.concatenate(
                [np.asarray(h, dtype=np.int64) for h in hashes[nonempty]]
            )[None, :]
            # a*h < 2^62: safe in int64 because a, h < MINHASH_PRIME < 2^31
            remix = (A * flat + B) % MINHASH_PRIME  # (k, N)
            starts = np.zeros(int(nonempty.sum()), dtype=np.int64)
            np.cumsum(lens[nonempty][:-1], out=starts[1:])
            out[nonempty] = np.minimum.reduceat(remix, starts, axis=1).T
        return pd.Series(list(out))

    return minhash_udf


def fingerprint_md5(text: Column, prefix: int | None = None) -> Column:
    """Whitespace-normalized, lower-cased md5 fingerprint — DuckDB's
    ``md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))``. With ``prefix``
    only the first ``prefix`` normalized chars are hashed
    (``substr(..., 1, prefix)``): a cheap prefix-dup key."""
    norm = F.lower(F.regexp_replace(text, r"\s+", " "))
    return F.md5(norm if prefix is None else F.substring(norm, 1, prefix))
