"""Shared column helpers: the building blocks for the dedup /
similarity / text operators.

The vector, tokenization, banding and bit helpers compile to Catalyst
expressions and run JVM-side. The four `*_udf` factories (positional
k-gram hashes, hashed shingles, MinHash signatures, SimHash bits) are
Arrow-batched pandas UDFs: each replaced an expression form
whose nested higher-order array lambdas are evaluated interpreted,
per element, and measured slower in bulk.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from agnes_spark.sqltext import quote_ident


# -- vectors ---------------------------------------------------------------

def vec_double(col) -> Column:
    """array<float> -> array<double> (exact widening, matches DuckDB)."""
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    """Dot product of two array<double> columns via zip_with+aggregate —
    sequential left-to-right summation (deterministic, bit-stable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a) -> Column:
    return F.sqrt(dot(a, a))


# -- text ------------------------------------------------------------------

def ws_tokens(col) -> Column:
    """Whitespace tokenization, empty-safe."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda t: t != "")


def word_shingles(col, n: int = 3) -> Column:
    """Distinct n-word shingles of a text column as array<string>.

    Built from sequence+transform (no explode needed by callers that
    only count); callers that join on shingles explode afterwards.
    """
    toks = ws_tokens(col)
    k = F.size(toks) - F.lit(n - 1)
    # guard k < 1 explicitly: sequence(1, 0) counts DOWN ([1, 0]) in
    # Spark rather than producing an empty array
    idx = F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def positional_kgram_hashes_udf(k: int = 10):
    """POSITIONAL k-word-gram hashes as array<long>: element i is the
    keyed 8-byte blake2b of tokens[i:i+k] joined by one space (t.split()
    tokenization, same as hashed_shingles_udf). Unlike the shingle UDF
    this keeps every position and does NOT dedupe — the array index IS
    the token offset, which substring-span detection needs to map hash
    matches back to document coordinates. Gram strings never cross the
    Arrow boundary; only 8-byte hashes shuffle. A hash collision can
    merge two unrelated grams (odds ~positions^2/2^64 — negligible even
    at corpus scale, same accepted class as hashed_shingles_udf)."""
    import hashlib

    @F.pandas_udf("array<long>")
    def _h(texts: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return []
            toks = t.split()
            if len(toks) < k:
                return []
            out = []
            for i in range(len(toks) - k + 1):
                v = int.from_bytes(
                    hashlib.blake2b(
                        " ".join(toks[i : i + k]).encode("utf-8"), digest_size=8
                    ).digest(),
                    "big",
                )
                out.append(v - (1 << 64) if v >= (1 << 63) else v)
            return out

        return texts.apply(one)

    return _h


def hashed_shingles_udf(n: int = 3):
    """Distinct n-word shingles hashed straight to int64 inside the
    UDF (keyed 8-byte blake2b) — shingle STRINGS never cross the
    Arrow boundary and never shuffle. This is the bulk-dedup fast
    path; hash identity doesn't matter to callers (any consistent
    64-bit hash yields the same set sizes / jaccard, collision odds
    ~n^2/2^64).

    Measured (sf0.1 documents, 32 cores, median of 3): udf 0.63s, an
    xxhash64-over-word_shingles expression 0.89s, a hash-each-token-
    once expression 4.33s — the interpreted higher-order transforms
    lose despite staying JVM-side."""
    import hashlib

    @F.pandas_udf("array<long>")
    def _h(texts: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return []
            toks = t.split()
            if len(toks) < n:
                return []
            seen = dict.fromkeys(
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            )
            out = []
            for s in seen:
                v = int.from_bytes(
                    hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(), "big"
                )
                out.append(v - (1 << 64) if v >= (1 << 63) else v)
            return out

        return texts.apply(one)

    # nondeterministic only to the optimizer: a size() filter on the
    # sets (shingle_sets' own, an explode's inferred one) then stays
    # above the UDF instead of running it a second time below it
    return _h.asNondeterministic()


def _splitmix64(x: int) -> int:
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def minhash_signature_udf(num_perm: int = 64):
    """Vectorized MinHash signature: a pandas UDF computing all
    `num_perm` permutations per row with one numpy broadcast
    (multiply-shift hashing a_i*h+b_i over uint64 wraparound).

    Deterministic: coefficients derive from splitmix64(i), identical
    on every executor and every run — no RNG state to ship. A
    pure-expression form (min over shingles of xxhash64(seed, h) per
    seed) interprets its nested array lambdas per element and ran
    ~10x slower.
    """
    a = np.array([_splitmix64(2 * i + 1) | 1 for i in range(num_perm)], dtype=np.uint64)
    b = np.array([_splitmix64(2 * i + 2) for i in range(num_perm)], dtype=np.uint64)

    @F.pandas_udf("array<long>")
    def _sig(sh: pd.Series) -> pd.Series:
        def one(hashes):
            if hashes is None or len(hashes) == 0:
                return []
            h = np.asarray(hashes, dtype=np.int64).astype(np.uint64)
            vals = a[:, None] * h[None, :] + b[:, None]  # uint64 wrap
            return vals.min(axis=1).astype(np.int64).tolist()

        return sh.apply(one)

    return _sig


def band_hashes(signature, num_bands: int, rows_per_band: int) -> Column:
    """LSH banding: hash each contiguous `rows_per_band` slice of the
    signature into one int64 bucket key per band."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda b: F.xxhash64(
            b, F.concat_ws(",", F.slice(signature, b * rows_per_band + 1, rows_per_band))
        ),
    )


def simhash_bits_udf(num_bits: int = 64):
    """SimHash fingerprint as an array<int> of 0/1 bits (index 0 = MSB
    of the 8-byte digest): blake2b token digests unpacked to bit
    matrices, +-1 votes summed with numpy; bit i is 1 when its vote is
    positive. Deterministic (keyed blake2b, no process-dependent
    hashing). Kept as a bit array rather than one int64, so callers
    chunk-pack it (pack_bits, <= 32 bits per key) without overflowing
    ANSI long arithmetic."""
    import hashlib

    @F.pandas_udf("array<int>")
    def _simhash(texts: pd.Series) -> pd.Series:
        nbytes = num_bits // 8

        def one(t):
            toks = t.split() if t else []
            if not toks:
                return [0] * num_bits
            digests = b"".join(
                hashlib.blake2b(tok.encode("utf-8"), digest_size=nbytes).digest()
                for tok in toks
            )
            bits = np.unpackbits(np.frombuffer(digests, dtype=np.uint8)).reshape(
                len(toks), num_bits
            )
            votes = bits.astype(np.int32).sum(axis=0) * 2 - len(toks)
            return (votes > 0).astype(np.int32).tolist()

        return texts.apply(one)

    return _simhash


def pack_bits(bits_slice) -> Column:
    """Pack a <=32-bit slice (array<int> of 0/1) into one int64 key."""
    return F.aggregate(
        bits_slice, F.lit(0).cast("long"), lambda acc, b: acc * 2 + b
    )


def hamming_bits(a, b) -> Column:
    """Hamming distance between two equal-length bit arrays."""
    return F.size(F.filter(F.zip_with(a, b, lambda x, y: x != y), lambda d: d))


# -- pairs -----------------------------------------------------------------

def unordered_pairs(items: str) -> Column:
    """The pairs of the array column named `items` as
    array<struct<a, b>>, a the least and b the greatest of the two
    elements: one pair per two positions, skipping equal elements (a
    value listed twice pairs once per copy). Callers collect a group's
    members into an array and explode this, so the expansion runs
    map-side after one shuffle and is bounded by the group size
    squared. Elements must be orderable; structs order field by field."""
    a = quote_ident(items)
    return F.expr(
        f"flatten(transform({a}, (x, i) -> transform("
        f"array_remove(slice({a}, i + 2, size({a}) - i - 1), x), "
        "y -> struct(least(x, y) AS a, greatest(x, y) AS b))))"
    )
