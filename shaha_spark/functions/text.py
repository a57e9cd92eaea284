"""Text Column builders shared by the training-data operators.

Everything here is a pure JVM expression (whole-stage codegen; no
Python in the hot path) and has an exact DuckDB-SQL twin generated from
the same constants in operators/constants.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from shaha_spark.operators.constants import (
    MERSENNE_P,
    SHINGLE_N,
    TOKEN_SPLIT_RE,
)


def tokens(col: Column) -> Column:
    """Whitespace tokens, empties dropped → array<string>."""
    return F.filter(F.split(col, TOKEN_SPLIT_RE), lambda t: t != F.lit(""))


def h_bits(col: Column, hex_digits: int) -> Column:
    """First ``hex_digits`` of md5(col) as a non-negative int64.

    md5 is the cross-engine-stable hash; 7 hex digits = 28 bits keeps
    all downstream modular products inside int64.
    """
    return F.conv(F.substring(F.md5(col), 1, hex_digits), 16, 10).cast("long")


def h28(col: Column) -> Column:
    return h_bits(col, 7)


def h32(col: Column) -> Column:
    return h_bits(col, 8)


def perm_hash(h: Column, a: int, b: int) -> Column:
    """Universal-hash permutation (a*h + b) mod p, int64-safe for h < 2^28."""
    return (F.lit(a).cast("long") * h + F.lit(b)) % F.lit(MERSENNE_P)


def shingles(tok_col: Column, n: int = SHINGLE_N) -> Column:
    """Sliding n-token shingles joined by spaces; [] when fewer than n
    tokens. 1-based sequence mirrors DuckDB's list indexing so both
    engines build byte-identical shingle strings."""
    if n <= 1:
        return tok_col

    def make(i: Column) -> Column:
        pieces = []
        for k in range(n):
            if k:
                pieces.append(F.lit(" "))
            pieces.append(F.element_at(tok_col, i + k))
        return F.concat(*pieces)

    last_start = F.size(tok_col) - (n - 1)
    return F.when(
        last_start >= 1, F.transform(F.sequence(F.lit(1), last_start), make)
    ).otherwise(F.array().cast("array<string>"))


