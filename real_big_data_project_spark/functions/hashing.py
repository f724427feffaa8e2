"""Portable hashing primitives for dedup at scale.

Everything is built on md5 (identical output in Spark, DuckDB, and every
other engine) so that MinHash/SimHash signatures are reproducible across
the engine and the correctness oracle. Spark's native xxhash64/murmur is
faster but engine-specific; md5 keeps the gate honest and is still
JVM-side/codegen'd. The production MinHash/SimHash pipelines live in
datapipe/dedup_text.py; this module holds the shared shingling and the
SimHash reference implementation tests compare them against.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalized_tokens(col: Column | str) -> Column:
    """Lowercase whitespace tokens of the normalized text."""
    c = F.regexp_replace(F.lower(F.trim(_c(col))), r"\s+", " ")
    return F.split(c, " ")


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct n-gram word shingles as array<string>. Documents shorter
    than n tokens yield their full text as the single shingle (so they can
    still collide exactly)."""
    toks = normalized_tokens(col)
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.array_distinct(grams)


def simhash64_bits(col: Column | str) -> Column:
    """SimHash-64 fingerprint as a string of 64 bits.

    Per token, one md5 yields 64 independent bits: positions 1..32 take
    the HIGH bit of each hex nibble (hex char ∈ {8..f}), positions 33..64
    the SECOND bit of the same nibbles (hex char ∈ {4..7, c..f}). Sum
    +1/−1 votes per position over tokens, then take signs. Portable: the
    oracle reproduces it with the same md5/substr/instr calls.

    Reference implementation (interpreted HOF folds, fine on the small
    arrays tests use); the production path is the explode/aggregate
    datapipe/dedup_text.py::simhash_signatures, pinned bit-for-bit equal
    by tests/test_datapipe.py.
    """
    toks = normalized_tokens(col)
    bit_cols = [
        F.when(_bit_vote(toks, pos, "89abcdef") >= 0, F.lit("1"))
        .otherwise(F.lit("0"))
        for pos in range(1, 33)
    ] + [
        F.when(_bit_vote(toks, pos, "4567cdef") >= 0, F.lit("1"))
        .otherwise(F.lit("0"))
        for pos in range(1, 33)
    ]
    return F.concat(*bit_cols)


def _bit_vote(toks: Column, pos: int, ones: str) -> Column:
    # Closure factory, not a default arg: PySpark infers a higher-order
    # function's arity from the lambda's parameter count, so an extra
    # `pos=pos` parameter would change what the lambda is called with.
    return F.aggregate(
        toks,
        F.lit(0),
        lambda acc, t: acc
        + F.when(
            F.instr(F.lit(ones), F.substring(F.md5(t), pos, 1)) > 0,
            F.lit(1),
        ).otherwise(F.lit(-1)),
    )
