"""Shared cross-engine primitives for the pipeline extensions.

Every extension query is validated against a DuckDB oracle by value
hash, so all computations here are designed to be *bit-identical*
across engines:

- hashing uses a polynomial char hash ``h = (h*131 + codepoint) % (2^31-1)``
  (fold over characters) — expressible in Spark (``aggregate`` over
  ``split(s,'')``) and DuckDB (``list_reduce`` over ``string_split``)
  with identical results;
- ratios are returned as integer permille (``(1000*x) div y``), never
  free-form doubles;
- double-valued similarity folds use the same left-to-right fold order
  in both engines so the IEEE results are identical bit for bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

CHAR_HASH_MOD = 2_147_483_647  # 2^31 - 1
CHAR_HASH_MULT = 131

# MinHash parameters (fixed, embedded identically in Spark + SQL).
MINHASH_P = 2_305_843_009_213_693_951  # 2^61 - 1
NUM_HASHES = 16
LSH_BANDS = 4
LSH_ROWS = 4
BAND_MOD = 1_000_003

# Deterministic odd multipliers / offsets (no RNG at import time).
# Multipliers stay below 2^15 so a_j * hash48 stays within int64
# (2^15 * 2^48 bound) in both engines.
MINHASH_A = [((2 * j + 1) * 40_503) % (1 << 15) | 1 for j in range(NUM_HASHES)]
MINHASH_B = [(j + 1) * 40_503 * 65_537 % (1 << 31) for j in range(NUM_HASHES)]


# --- Spark side -----------------------------------------------------------

def char_hash(col: Column) -> Column:
    """Polynomial char hash of a string column (BIGINT in [0, 2^31-1))."""
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(CHAR_HASH_MULT) + F.ascii(c)) % F.lit(CHAR_HASH_MOD),
    )


def md5_hash48(col: Column) -> Column:
    """48-bit integer hash from the md5 hex prefix — native in both
    engines (no interpreted char fold), identical values."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 12), 16, 10).cast("long")


def tokens(col: Column) -> Column:
    """Whitespace tokens of trimmed text."""
    return F.split(F.trim(col), r"\s+")


def shingles3(toks: Column) -> Column:
    """Distinct 3-gram (word) shingles; empty array when < 3 tokens.

    Built from shifted copies of the token array zipped pairwise, so
    every lambda touches only its lambda variables. An index-transform
    formulation (``transform(sequence(1, n-2), i -> slice(toks, i,
    3))``) embeds the whole ``toks`` expression tree inside the
    lambda, and interpreted HOF evaluation re-computes it once per
    ELEMENT — for the usual ``tokens(text)`` argument that re-split
    the document per shingle (~50x the work; 4s -> 0.9s on the sf0.1
    signature stage).
    """
    n = F.size(toks)
    # zip_with pads the shorter side with NULL and concat propagates
    # NULL, so the 2 trailing entries are NULL; slice drops them.
    grams = F.slice(
        F.zip_with(
            F.zip_with(toks, F.slice(toks, 2, n), lambda a, b: F.concat(a, F.lit(" "), b)),
            F.slice(toks, 3, n),
            lambda ab, c: F.concat(ab, F.lit(" "), c),
        ),
        1,
        n - 2,
    )
    return F.when(n >= 3, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def word_grams_indexed(toks_attr: Column, n: int) -> Column:
    """All word n-grams from a MATERIALIZED token-array column.

    ``transform(sequence(1, sz-n+1), i -> concat_ws(' ',
    element_at(toks, i), ..., element_at(toks, i+n-1)))`` — one output
    string per shingle, no intermediate 2..n-1-gram arrays (the
    shifted-zip_with construction in ``word_grams`` allocates n-1 full
    intermediate arrays; measured 2.3x slower on the sf0.1 passage
    stage). The caller MUST pass a bound attribute (project the split
    into a column first): with a raw expression argument, interpreted
    HOF evaluation re-computes the expression once per element — the
    exact trap ``word_grams``'s shifted-array form exists to avoid.
    """
    sz = F.size(toks_attr)
    grams = F.transform(
        F.sequence(F.lit(1), sz - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks_attr, i + j) for j in range(n)]
        ),
    )
    return F.when(sz >= n, grams).otherwise(F.array().cast("array<string>"))


def word_grams(toks: Column, n: int) -> Column:
    """All word n-grams in order, duplicates kept; empty when < n tokens.

    Same shifted-array zip_with construction as shingles3 (lambdas touch
    only lambda vars — an index-transform would re-evaluate the token
    expression once per element under interpreted HOF evaluation), but
    without the distinct so occurrence counts survive for repetition
    statistics.
    """
    sz = F.size(toks)
    g = toks
    for k in range(2, n + 1):
        g = F.zip_with(g, F.slice(toks, k, sz), lambda a, b: F.concat(a, F.lit(" "), b))
    g = F.slice(g, 1, sz - (n - 1))
    return F.when(sz >= n, g).otherwise(F.array().cast("array<string>"))


# --- DuckDB side ----------------------------------------------------------

def sql_char_hash(expr: str) -> str:
    """DuckDB SQL mirroring char_hash()."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * {CHAR_HASH_MULT} + b) % {CHAR_HASH_MOD})"
    )


def sql_md5_hash48(expr: str) -> str:
    """DuckDB SQL mirroring md5_hash48()."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 12)) AS BIGINT)"


def sql_tokens(expr: str) -> str:
    return rf"regexp_split_to_array(trim({expr}), '\s+')"


def sql_word_grams(toks_expr: str, n: int) -> str:
    """DuckDB SQL mirroring word_grams() (order kept, duplicates kept)."""
    return (
        f"CASE WHEN len({toks_expr}) >= {n} THEN "
        f"list_transform(range(1, len({toks_expr}) - {n - 2}), "
        f"i -> array_to_string({toks_expr}[i:i+{n - 1}], ' ')) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )


def sql_shingles3(toks_expr: str) -> str:
    return (
        f"CASE WHEN len({toks_expr}) >= 3 THEN "
        f"list_distinct(list_transform(range(1, len({toks_expr}) - 1), "
        f"i -> array_to_string({toks_expr}[i:i+2], ' '))) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )
